package graft.perfbench

import java.io.{BufferedWriter, File, FileWriter}
import java.nio.file.{Files, StandardCopyOption}
import java.util.concurrent.ConcurrentLinkedQueue

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import graft.core.{SketchCodec, SlidingConfig, SlidingSketch}
import graft.streaming.{TickTopK, TopKStreams}
import org.apache.spark.sql.{Dataset, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQuery, StreamingQueryProgress, Trigger}
import org.apache.spark.sql.types.{LongType, StringType, StructType}

import Main.{median, secs, setUp}

/** stream_sliding: an open loop at a fixed offered rate, then AvailableNow
  * drains of a fixed backlog.
  *
  * A generator thread drops one CSV file of (key, ts, item, weight) every
  * `FileMs` on a fixed schedule that does not slow when the engine slows.
  * Each event's ts is the time it was due, which is also its event time; a
  * (key, tick) result's latency runs from the due time of the key's last
  * event in that tick to the moment the sink received the result.
  */
object StreamSliding {
  final val Keys      = 128
  /** Offered rate: about a quarter of the drain rate, so the open loop
    * runs well below saturation, where latency stays proportional to
    * per-batch cost instead of growing with queueing.
    */
  final val Rate      = 5000
  final val FileMs    = 100L
  final val PerFile   = (Rate * FileMs / 1000).toInt
  /** Events per backlog file. */
  final val DrainPerFile = 2000
  final val TickMs    = 1000L
  final val Window    = 5
  final val EmitK     = 10
  final val TriggerMs = 250L
  final val LeadS     = 1.0
  final val DrainFiles        = 80
  final val DrainFilesPerTrig = 40
  /** Event time of the drain backlog's first file; tick-aligned. */
  final val DrainStartMs      = 1700000000000L

  val cfg: SlidingConfig = SlidingConfig.withDefaults(20, Window)

  private val schema = new StructType().add("key", StringType).add("ts_ms", LongType)
    .add("item", StringType).add("weight", LongType)

  /** Exact answers the generator records: per (key, tick) item counts and
    * the due time of the key's last event in the tick.
    */
  final class Truth {
    val counts  = mutable.HashMap[(Int, Long), mutable.HashMap[String, Long]]()
    val lastDue = mutable.HashMap[(Int, Long), Long]()

    def record(due: Long, events: Array[(Int, String)]): Unit = synchronized {
      val tick = Math.floorDiv(due, TickMs)
      events.foreach { case (k, item) =>
        val m = counts.getOrElseUpdate((k, tick), mutable.HashMap[String, Long]())
        m(item) = m.getOrElse(item, 0L) + 1
        lastDue((k, tick)) = math.max(lastDue.getOrElse((k, tick), Long.MinValue), due)
      }
    }

    /** Exact counts over the window of `Window` ticks ending at `tick`. */
    def window(k: Int, tick: Long): Map[String, Long] = synchronized {
      val out = mutable.HashMap[String, Long]()
      (tick - Window + 1 to tick).foreach(t =>
        counts.get((k, t)).foreach(_.foreach { case (i, c) => out(i) = out.getOrElse(i, 0L) + c }))
      out.toMap
    }
  }

  def writeFile(dir: File, index: Long, due: Long, events: Array[(Int, String)]): Unit = {
    val name = f"part-$index%06d.csv"
    val tmp  = new File(dir, s".$name.tmp") // hidden: the file source skips it
    val w    = new BufferedWriter(new FileWriter(tmp), 1 << 16)
    events.foreach { case (k, item) =>
      w.write(Gen.streamKey(k)); w.write(','); w.write(due.toString); w.write(',')
      w.write(item); w.write(",1\n")
    }
    w.close()
    Files.move(tmp.toPath, new File(dir, name).toPath, StandardCopyOption.ATOMIC_MOVE)
  }

  /** The open-loop load generator. File i is due at startMs + i * FileMs. */
  final class Generator(dir: File, seed: Long, startMs: Long, truth: Truth) extends Thread("perfbench-generator") {
    @volatile var stopped = false
    /** (due ms, written ms, events) per file. */
    val log = new ConcurrentLinkedQueue[(Long, Long, Int)]()
    setDaemon(true)

    override def run(): Unit = {
      var i = 0L
      while (!stopped) {
        val due  = startMs + i * FileMs
        val wait = due - System.currentTimeMillis()
        if (wait > 0) Thread.sleep(wait)
        if (!stopped) {
          val ev = Gen.streamEvents(seed, i, PerFile, Keys)
          writeFile(dir, i, due, ev)
          truth.record(due, ev)
          log.add((due, System.currentTimeMillis(), ev.length))
          i += 1
        }
      }
    }
  }

  private def updates(spark: SparkSession, input: String, maxFiles: Option[Int]) = {
    val r = spark.readStream.schema(schema)
    maxFiles.fold(r)(n => r.option("maxFilesPerTrigger", n.toLong)).csv(input)
      .select(col("key"), expr("timestamp_millis(ts_ms)").as("ts"), col("item"), col("weight"))
  }

  /** Results as the sink received them: (row, receive time, epoch ms). */
  final class Sink {
    val rows = new ConcurrentLinkedQueue[(TickTopK, Double)]()
    val fn: (Dataset[TickTopK], Long) => Unit = (ds, _) => {
      val got = ds.collect()
      val at  = java.time.Instant.now()
      val now = at.getEpochSecond * 1e3 + at.getNano / 1e6
      got.foreach(r => rows.add((r, now)))
    }
  }

  private def start(spark: SparkSession, input: String, ckpt: String, maxFiles: Option[Int],
                    trigger: Trigger, sink: Sink,
                    acc: Option[(org.apache.spark.util.LongAccumulator, org.apache.spark.util.LongAccumulator)]): StreamingQuery =
    TopKStreams.sliding(updates(spark, input, maxFiles), TickMs, "0 seconds", cfg, EmitK, acc)
      .writeStream.foreachBatch(sink.fn).option("checkpointLocation", ckpt)
      .trigger(trigger).start()

  /** Checks every (key, tick) result and returns the latency samples (ms)
    * of the expected results at or after `latencyFrom` (tick).
    */
  private def check(res: Result, sink: Sink, truth: Truth, lastComplete: Long, latencyFrom: Long): Seq[Double] = {
    val got = sink.rows.asScala.toSeq.groupBy { case (r, _) => (r.key, r.tick) }
    val keyIndex = (0 until Keys).map(k => Gen.streamKey(k) -> k).toMap
    val latencies = mutable.ArrayBuffer[Double]()
    val expected = truth.synchronized(truth.counts.keys.filter(_._2 <= lastComplete).toList)
    res.attempted += expected.size
    expected.foreach { case (k, t) =>
      if (!got.contains((Gen.streamKey(k), t))) res.fail(s"missing result for (${Gen.streamKey(k)}, tick $t)")
    }
    got.foreach { case ((key, tick), rs) =>
      val rows   = rs.map(_._1).sortBy(_.rank)
      val isExpected = keyIndex.get(key).exists(k => truth.synchronized(truth.counts.contains((k, tick)))) &&
        tick <= lastComplete
      val err =
        if (!keyIndex.contains(key)) Some(s"unknown key $key")
        else if (rows.map(_.rank) != (1 to rows.size)) Some(s"($key, $tick): ranks ${rows.map(_.rank)}")
        else if (rows.size > EmitK) Some(s"($key, $tick): ${rows.size} rows")
        else if (rows.exists(r => !r.item.startsWith(key + "_") || r.count <= 0))
          Some(s"($key, $tick): foreign item or non-positive count")
        else Main.orderError(rows.map(_.item), rows.map(_.count)).map(m => s"($key, $tick): $m")
      err match {
        case Some(m) =>
          if (!isExpected) res.attempted += 1
          res.fail(m)
        case None if isExpected =>
          val k     = keyIndex(key)
          val exact = truth.window(k, tick)
          res.sample("recall_at_k", Main.recallAtK(rows.map(_.item), exact, EmitK))
          res.sample("check.count_rel_err", rows.map(r =>
            math.abs(r.count - exact.getOrElse(r.item, 0L)).toDouble / math.max(1L, exact.getOrElse(r.item, 0L))).sum / rows.size)
          if (tick >= latencyFrom) {
            val due: Double = truth.synchronized(truth.lastDue((k, tick))).toDouble
            latencies += rs.map(_._2).max - due
          }
        case None =>
      }
    }
    latencies.toList
  }

  /** After the generator stops: wait until the query has taken every file
    * and the sink holds the results of the last tick the final watermark
    * completes (at most 10 s).
    */
  private def waitForLastTick(q: StreamingQuery, sink: Sink, truth: Truth, tick: Long): Unit = {
    q.processAllAvailable()
    val want = truth.synchronized(truth.counts.keys.count(_._2 == tick))
    val t0   = System.nanoTime()
    def have = sink.rows.asScala.filter(_._1.tick == tick).map(_._1.key).toSet.size
    while (secs(t0) < 10 && have < want) Thread.sleep(20)
  }

  private def progressEndMs(p: StreamingQueryProgress): Long =
    java.time.Instant.parse(p.timestamp).toEpochMilli + p.durationMs.getOrDefault("triggerExecution", 0L)

  /** One AvailableNow drain of the backlog; returns its seconds. */
  private def drain(ctx: Ctx, res: Result, input: String, truth: Truth, n: Int): Double = {
    val sink = new Sink
    val s    = System.nanoTime()
    val q = start(ctx.spark, input, ctx.path(s"drain_ckpt_$n"), Some(DrainFilesPerTrig),
      Trigger.AvailableNow(), sink, None)
    q.awaitTermination()
    val d = secs(s)
    val maxDue = DrainStartMs + (DrainFiles - 1) * FileMs
    check(res, sink, truth, Math.floorDiv(maxDue, TickMs) - 1, Long.MaxValue)
    d
  }

  def run(ctx: Ctx): Result = {
    val res   = new Result("stream_sliding")
    val spark = ctx.spark
    val seed  = ctx.seed

    // the fixed backlog the drains replay
    val backlog = new File(ctx.path("backlog")); backlog.mkdirs()
    val drainTruth = new Truth
    (0 until DrainFiles).foreach { i =>
      val ev  = Gen.streamEvents(seed, 1000000L + i, DrainPerFile, Keys)
      val due = DrainStartMs + i * FileMs
      writeFile(backlog, i, due, ev)
      drainTruth.record(due, ev)
    }

    // set-up: a fresh query started over one file, until its first batch
    // ends; the untimed warm-up jobs are drains
    setUp(ctx, res, warmJobs = 2) { rep =>
      val in = new File(ctx.path(s"setup_in_$rep")); in.mkdirs()
      writeFile(in, 0, DrainStartMs, Gen.streamEvents(seed, 2000000L + rep, PerFile, Keys))
      val q = start(spark, in.getPath, ctx.path(s"setup_ckpt_$rep"), None,
        Trigger.ProcessingTime(TriggerMs), new Sink, None)
      q.processAllAvailable()
      q.stop()
    }(() => drain(ctx, new Result("warmup"), backlog.getPath, drainTruth, -1))

    val listener = if (ctx.trace) Some(new ProgressListener) else None
    val stages   = if (ctx.trace) Some(new StageListener) else None

    def attach(): Unit = {
      listener.foreach(spark.streams.addListener)
      stages.foreach(spark.sparkContext.addSparkListener)
    }
    def detach(): Unit = {
      org.apache.spark.perfbench.Internals.drainListeners(spark.sparkContext)
      listener.foreach(spark.streams.removeListener)
      stages.foreach(spark.sparkContext.removeSparkListener)
    }
    val drained = DrainFiles.toDouble * DrainPerFile
    if (!ctx.trace) {
      val drains = (0 until 3).map(n => drain(ctx, res, backlog.getPath, drainTruth, n))
      res.set("ops_per_s", drained / median(drains))
      res.samples("job_s", drains)
    }

    attach()

    // ---- open loop ----
    val input = new File(ctx.path("live")); input.mkdirs()
    val truth = new Truth
    val startMs = (System.currentTimeMillis() / TickMs + 1) * TickMs
    val gen  = new Generator(input, seed, startMs, truth)
    val sink = new Sink
    val accIn  = spark.sparkContext.longAccumulator
    val accOut = spark.sparkContext.longAccumulator
    val q = start(spark, input.getPath, ctx.path("live_ckpt"), None,
      Trigger.ProcessingTime(TriggerMs), sink, Some((accIn, accOut)))
    val jobSpan = ctx.tracer.open(0, "job.stream_sliding.open_loop", "streaming")
    gen.start()
    val measureFrom = startMs + (LeadS * 1000).toLong
    val measureTo   = measureFrom + (ctx.seconds * 1000).toLong
    while (System.currentTimeMillis() < measureTo) Thread.sleep(20)
    gen.stopped = true
    gen.join()
    val genLog       = gen.log.asScala.toSeq
    val lastComplete = Math.floorDiv(genLog.map(_._1).max, TickMs) - 1
    waitForLastTick(q, sink, truth, lastComplete)
    q.stop()
    ctx.tracer.close(jobSpan)

    val latency = check(res, sink, truth, lastComplete, Math.floorDiv(measureFrom, TickMs))
    res.samples("latency_ms", latency)

    // backlog: events written but not yet taken by a finished batch
    val progress = q.recentProgress.toSeq.filter(_.numInputRows >= 0)
    def backlogAt(ms: Long): Long =
      genLog.filter(_._2 <= ms).map(_._3.toLong).sum -
        progress.filter(progressEndMs(_) <= ms).map(_.numInputRows).sum
    val inWindow = progress.filter(p => progressEndMs(p) >= measureFrom && progressEndMs(p) <= measureTo)
    val backlogs = inWindow.map(p => backlogAt(progressEndMs(p)).toDouble)
    if (inWindow.size >= 2) {
      val growthPerS = (backlogs.last - backlogs.head) /
        ((progressEndMs(inWindow.last) - progressEndMs(inWindow.head)) / 1000.0)
      if (growthPerS >= 0.5 * Rate) {
        res.attempted += 1
        res.fail(f"backlog grew at $growthPerS%.0f events/s against an offered $Rate/s")
      }
    } else {
      res.attempted += 1
      res.fail(s"only ${inWindow.size} batches ended inside the measured window")
    }
    res.samples("streaming.backlog_rows_max", Seq(backlogs.foldLeft(0.0)(math.max)))
    res.samples("streaming.gen_late_ms_max", Seq(genLog.filter(_._1 >= measureFrom)
      .map(g => (g._2 - g._1).toDouble).foldLeft(0.0)(math.max)))

    detach()
    if (ctx.trace) {
      val events = listener.get.events.asScala.toSeq.filter(_.id == q.id)
      batchSpans(ctx, jobSpan, events, stages.get)
      val measured = events.filter(p => progressEndMs(p) >= measureFrom && progressEndMs(p) <= measureTo)
      def part(name: String) = measured.map(_.durationMs.getOrDefault(name, 0L).toDouble)
      res.samples("streaming.batch_ms", part("triggerExecution"))
      res.samples("streaming.add_batch_ms", part("addBatch"))
      res.samples("streaming.query_planning_ms", part("queryPlanning"))
      res.samples("streaming.wal_commit_ms", part("walCommit"))
      res.samples("streaming.commit_offsets_ms", part("commitOffsets"))
      res.samples("streaming.latest_offset_ms", part("latestOffset"))
      val ops = measured.flatMap(_.stateOperators.headOption)
      res.set("streaming.state_rows_peak", ops.map(_.numRowsTotal.toDouble).foldLeft(0.0)(math.max))
      res.set("streaming.state_mb_peak", ops.map(_.memoryUsedBytes / 1e6).foldLeft(0.0)(math.max))
      res.samples("streaming.state_commit_ms", ops.map(_.commitTimeMs.toDouble))
      res.samples("streaming.input_lag_s", measured.flatMap(p =>
        Option(p.eventTime.get("max")).map(m => (progressEndMs(p) - java.time.Instant.parse(m).toEpochMilli) / 1000.0)))
      res.set("streaming.reduce_ratio", if (accOut.value == 0) 0.0 else accIn.value.toDouble / accOut.value)
      val batchIds = measured.map(p => s"${p.id}:${p.batchId}").toSet
      val shuffle  = stages.get.stagesWithPrefix(q.id.toString).filter(s => batchIds.contains(s.group))
      res.set("streaming.shuffle_mb_per_batch",
        if (measured.isEmpty) 0.0 else shuffle.map(_.shuffleWrite).sum / 1e6 / measured.size)
      res.set("spark.gc_ms", shuffle.map(_.gcMs).sum.toDouble / math.max(1, measured.size))
      res.set("spark.task_ms", shuffle.map(_.runMs).sum.toDouble / math.max(1, measured.size))

      // drains alternate untraced and traced, for the tracing overhead
      val pairs = (0 until 2).map { n =>
        val plain  = drain(ctx, res, backlog.getPath, drainTruth, 2 * n)
        val before = listener.get.events.size
        attach()
        val span   = ctx.tracer.open(0, "job.stream_sliding.drain", "streaming")
        val traced = drain(ctx, res, backlog.getPath, drainTruth, 2 * n + 1)
        ctx.tracer.close(span)
        detach()
        batchSpans(ctx, span, listener.get.events.asScala.toSeq.drop(before), stages.get)
        (plain, traced)
      }
      res.set("trace.overhead_share", 1.0 - median(pairs.map(_._1)) / median(pairs.map(_._2)))
      CoreReplaySliding.run(ctx, res, seed)
    }
    Seq(backlog, input).foreach(Main.deleteTree)
    res
  }

  /** A span per micro-batch, its `durationMs` parts laid end to end as
    * children (Spark reports their lengths, in execution order), and its
    * stages as children with their own times.
    */
  private def batchSpans(ctx: Ctx, parent: Int, events: Seq[StreamingQueryProgress], stages: StageListener): Unit = {
    val t = ctx.tracer
    events.foreach { p =>
      val startMs = java.time.Instant.parse(p.timestamp).toEpochMilli
      val b = t.add(parent, "streaming.batch", "streaming", t.fromEpochMs(startMs),
        t.fromEpochMs(progressEndMs(p)), Map("rows" -> p.numInputRows.toDouble))
      var at = startMs
      Seq("latestOffset", "walCommit", "getBatch", "queryPlanning", "addBatch", "commitOffsets").foreach { name =>
        val d = p.durationMs.getOrDefault(name, 0L).longValue
        if (d > 0) t.add(b, s"streaming.$name", "streaming", t.fromEpochMs(at), t.fromEpochMs(at + d))
        at += d
      }
      stages.stagesOf(s"${p.id}:${p.batchId}").foreach { s =>
        t.add(b, "stage", "spark", t.fromEpochMs(s.submitMs), t.fromEpochMs(s.endMs),
          Map("task_ms" -> s.runMs.toDouble, "tasks" -> s.numTasks.toDouble))
      }
    }
  }
}

/** Single-thread replay of the drain backlog through `SlidingSketch`, the
  * way the engine feeds it: per key, each tick's updates summed per item
  * and added in item order, then one tick.
  */
object CoreReplaySliding {
  def run(ctx: Ctx, res: Result, seed: Long): Unit = {
    import StreamSliding._
    val t      = ctx.tracer
    val parent = t.open(0, "core.replay", "core")
    val perKey = Array.fill(Keys)(mutable.TreeMap[Long, mutable.HashMap[String, Long]]())
    (0 until DrainFiles).foreach { i =>
      val tick = Math.floorDiv(DrainStartMs + i * FileMs, TickMs)
      Gen.streamEvents(seed, 1000000L + i, DrainPerFile, Keys).foreach { case (k, item) =>
        val m = perKey(k).getOrElseUpdate(tick, mutable.HashMap[String, Long]())
        m(item) = m.getOrElse(item, 0L) + 1
      }
    }
    val work = perKey.map(_.toSeq.map { case (tick, m) => m.toSeq.sorted.toArray })
    val sks  = Array.tabulate(Keys)(_ => new SlidingSketch(cfg))
    var addNs, tickNs, adds, ticks = 0L
    val span = System.nanoTime()
    work.zip(sks).foreach { case (perTick, sk) =>
      perTick.foreach { ups =>
        val a = System.nanoTime()
        ups.foreach { case (item, c) => sk.add(item, c) }
        val b = System.nanoTime()
        sk.tick()
        tickNs += System.nanoTime() - b
        addNs += b - a
        adds += ups.length
        ticks += 1
      }
    }
    t.add(parent, "core.sliding.add_and_tick", "core", span, System.nanoTime(),
      Map("adds" -> adds.toDouble, "ticks" -> ticks.toDouble))
    res.set("core.sliding.add_ns", addNs.toDouble / adds)
    res.set("core.sliding.tick_us", tickNs / 1e3 / ticks)
    val encoded = t.time(parent, "core.codec.encode_sliding", "core") { sks.map(SketchCodec.encodeSliding) }
    res.set("core.sliding.state_kb", encoded.map(_.length).sum / 1024.0 / encoded.length)
    t.close(parent)
  }
}
