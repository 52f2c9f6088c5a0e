package graft.perfbench

import scala.collection.mutable

import graft.core.{Sketch, SketchCodec, SketchConfig}
import graft.operators.TopK
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._

import Main.{median, secs, setUp}

/** The closed-loop workload: one client, the next job starts when the
  * previous one returns.
  */
object Workloads {

  /** Closed loop: jobs back to back until the window has passed. In a
    * traced run, jobs alternate between untraced and traced (listeners
    * attached), so the tracing overhead is measured on the same inputs at
    * the same point of warm-up; layer numbers come from the traced jobs.
    */
  private def measure(ctx: Ctx, res: Result, opsPerJob: Double, classify: PlanLabels.Classifier)(
      build: () => DataFrame)(check: Array[Row] => Option[String]): Seq[JobTrace] = {
    val tr     = if (ctx.trace) Some(new JobTracing(ctx.spark, ctx.tracer, classify)) else None
    val plain  = mutable.ArrayBuffer[Double]()
    val traced = mutable.ArrayBuffer[Double]()
    val t0     = System.nanoTime()
    var n      = 0
    while (n < 2 || secs(t0) < ctx.seconds) {
      if (tr.isEmpty || n % 2 == 0) plain += Main.job(ctx, res, None, n)(build)(check)
      else {
        tr.get.attach()
        traced += Main.job(ctx, res, tr, n)(build)(check)
        tr.get.detach()
      }
      n += 1
    }
    res.samples("job_s", plain)
    res.set("ops_per_s", opsPerJob / median(plain.toSeq))
    tr.toSeq.flatMap { t =>
      val jobs = t.finish()
      res.set("trace.overhead_share", 1.0 - median(plain.toSeq) / median(traced.toSeq))
      jobs.foreach { j =>
        val st = j.stages.map(_._2)
        res.sample("sources.scan_ms", j.scanMs.toDouble)
        res.sample("sources.scan_mb", j.scanBytes / 1e6)
        res.sample("spark.gc_ms", st.map(_.gcMs).sum.toDouble)
        res.sample("spark.task_ms", st.map(_.runMs).sum.toDouble)
      }
      jobs
    }
  }

  private def perLabel(jobs: Seq[JobTrace], label: String)(f: StageRec => Double): Seq[Double] =
    jobs.map(_.stages.collect { case (l, s) if l == label => f(s) }.sum)

  private def mean(xs: Iterable[Double]): Double = if (xs.isEmpty) 0.0 else xs.sum / xs.size

  // ---------------------------------------------------------------- tokens_global

  private final val TokenDocs  = 10000
  private final val TokenFiles = 8
  private final val TopKK      = 100

  def tokensGlobal(ctx: Ctx): Result = {
    val res   = new Result("tokens_global")
    val spark = ctx.spark
    import spark.implicits._
    val seed = ctx.seed
    val cfg  = SketchConfig.withDefaults(TopKK, width = 8192, depth = 4)

    // exact answers first: their garbage must not land in the measured jobs
    val counts = Gen.tokenCounts(seed, TokenDocs)
    val exact  = counts.zipWithIndex.collect { case (c, t) if c > 0 => t.toString -> c }.toMap
    val total  = counts.sum.toDouble
    val expectRows = math.min(TopKK, exact.size)

    val dirs = (0 to 3).map(rep => ctx.path(s"tokens_$rep"))
    val dir  = dirs(0)
    setUp(ctx, res, warmJobs = 5) { rep =>
      spark.range(0L, TokenDocs.toLong, 1L, TokenFiles)
        .map(ord => (ord.longValue, Gen.docTokens(seed, ord)))
        .toDF("doc_id", "tokens").write.parquet(dirs(rep))
    }(() => TopK.tokensArray(spark.read.parquet(dir), col("tokens"), cfg).collect())

    val jobs = measure(ctx, res, total, nodes =>
      if (PlanLabels.hasNode(nodes, "FileSourceScan")) "partial_agg"
      else if (PlanLabels.hasFinalAgg(nodes)) "final_merge"
      else "other")(
      () => TopK.tokensArray(spark.read.parquet(dir), col("tokens"), cfg)) { rows =>
      val items  = rows.map(_.getString(0)).toSeq
      val counts = rows.map(_.getLong(1)).toSeq
      if (rows.length != expectRows) Some(s"expected $expectRows rows, got ${rows.length}")
      else Main.orderError(items, counts).orElse(items.find(i => !exact.contains(i))
        .map(i => s"item $i is not a generated token")).orElse {
        res.sample("recall_at_k", Main.recallAtK(items, exact, TopKK))
        res.sample("check.count_rel_err",
          mean(items.zip(counts).map { case (i, c) => math.abs(c - exact(i)).toDouble / exact(i) }))
        None
      }
    }

    if (ctx.trace) {
      jobs.foreach { j =>
        res.sample("operators.topk.stages", j.stages.size.toDouble)
        res.sample("operators.topk.shuffle_mb", j.stages.map(_._2.shuffleWrite).sum / 1e6)
      }
      val partial = perLabel(jobs, "partial_agg")(_.runMs.toDouble)
      res.samples("plans.partial_agg.task_ms", partial)
      res.samples("plans.partial_agg.ns_per_update", partial.map(_ * 1e6 / total))
      res.samples("plans.final_merge.wall_ms", perLabel(jobs, "final_merge")(s => (s.endMs - s.submitMs).toDouble))
      res.samples("plans.blobs_merged", perLabel(jobs, "final_merge")(_.shuffleRecordsRead.toDouble))
      CoreReplay.tokens(ctx, res, cfg.copy(k = cfg.k * 4), TokenDocs, TokenFiles,
        exact.toSeq.sortBy(-_._2).take(1000).map(_._1))
    }
    dirs.foreach(d => Main.deleteTree(new java.io.File(d)))
    res
  }
}

/** Single-thread replays of a workload's own generated input through the
  * `core` structures the workload's Spark plan uses; traced runs only.
  */
object CoreReplay {
  import Main.secs

  @volatile private var blackhole = 0L

  def tokens(ctx: Ctx, res: Result, cfg: SketchConfig, docs: Int, parts: Int, countItems: Seq[String]): Unit = {
    val t       = ctx.tracer
    val parent  = t.open(0, "core.replay", "core")
    val streams = (0 until parts).map(p => (p until docs by parts).map(o => Gen.docTokens(ctx.seed, o.toLong)))
    val n       = streams.map(_.map(_.length.toLong).sum).sum
    val sks     = streams.map(_ => new Sketch(cfg))
    val s0      = System.nanoTime()
    t.time(parent, "core.sketch.addToken", "core", Map("calls" -> n.toDouble)) {
      streams.zip(sks).foreach { case (docTokens, sk) =>
        docTokens.foreach { toks => var i = 0; while (i < toks.length) { sk.addToken(toks(i), 1L); i += 1 } }
      }
    }
    res.set("core.sketch.add_token_ns", secs(s0) * 1e9 / n)
    val blobs = codec(ctx, res, parent, sks)
    val decoded = blobs.map(SketchCodec.decode)
    val s1 = System.nanoTime()
    val merged = t.time(parent, "core.sketch.merge", "core", Map("calls" -> (parts - 1).toDouble)) {
      decoded.reduce(_.merge(_))
    }
    res.set("core.sketch.merge_ms", secs(s1) * 1e3 / (parts - 1))
    counts(ctx, res, parent, countItems.map(i => (merged, i)))
    t.close(parent)
  }

  private def codec(ctx: Ctx, res: Result, parent: Int, sks: Seq[Sketch]): Seq[Array[Byte]] = {
    val s0    = System.nanoTime()
    val blobs = ctx.tracer.time(parent, "core.codec.encode", "core", Map("calls" -> sks.size.toDouble)) {
      sks.map(SketchCodec.encode)
    }
    res.set("core.codec.encode_us", secs(s0) * 1e6 / sks.size)
    res.set("core.codec.blob_kb", blobs.map(_.length).sum / 1024.0 / blobs.size)
    val s1 = System.nanoTime()
    ctx.tracer.time(parent, "core.codec.decode", "core", Map("calls" -> blobs.size.toDouble)) {
      blobs.foreach(SketchCodec.decode)
    }
    res.set("core.codec.decode_us", secs(s1) * 1e6 / blobs.size)
    blobs
  }

  /** Point estimates, repeated to at least 200k calls. */
  private def counts(ctx: Ctx, res: Result, parent: Int, probes: Seq[(Sketch, String)]): Unit = {
    val arr   = probes.toArray
    val reps  = math.max(1, 200000 / arr.length)
    var sink  = 0L
    val s0    = System.nanoTime()
    ctx.tracer.time(parent, "core.sketch.count", "core", Map("calls" -> (reps.toDouble * arr.length))) {
      var r = 0
      while (r < reps) { var i = 0; while (i < arr.length) { sink += arr(i)._1.count(arr(i)._2); i += 1 }; r += 1 }
    }
    res.set("core.sketch.count_ns", secs(s0) * 1e9 / (reps.toDouble * arr.length))
    blackhole += sink
  }
}
