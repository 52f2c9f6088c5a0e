package graft.spark

import java.nio.file.Files
import java.sql.Timestamp

import scala.jdk.CollectionConverters._

import graft.core.{Rng, SlidingConfig, SlidingSketch}
import graft.streaming.TopKStreams
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger
import org.apache.spark.sql.types._
import org.scalatest.funsuite.AnyFunSuite

/** North-rule resumability: kill the sliding streaming query mid-stream,
  * restart from checkpoint, and require the union of outputs to be exactly
  * the per-tick rows a single-process replay of the core sketch produces —
  * no duplicates, no losses (exactly-once via checkpoint + parquet sink
  * manifest).
  */
class StreamResumeSpec extends AnyFunSuite {
  private lazy val spark = SparkTestSession.spark
  import spark.implicits._

  private val cfg   = SlidingConfig.withDefaults(2, 2, width = 256, depth = 3)
  private val emitK = 2

  private val schema = StructType(Seq(
    StructField("key", StringType), StructField("ts", TimestampType),
    StructField("item", StringType), StructField("weight", LongType)))

  // the full event schedule: (tick, item, weight)
  private val schedule: Seq[(Long, String, Long)] = Seq(
    (0L, "X", 3L), (0L, "Y", 2L), (0L, "Z", 1L),
    (1L, "X", 2L), (1L, "Y", 2L), (1L, "Z", 1L),
    (3L, "M", 1L),
    (5L, "X", 1L),
    (8L, "M8", 1L) // final watermark pusher; tick 8 itself stays pending
  )

  /** Reference replay through the core sliding sketch with the stream's exact
    * cadence: adds for tick t (stable (item, weight) order), read top-K, tick.
    */
  private def replayExpected(through: Long): Seq[(Long, Int, String, Long)] = {
    val sk = new SlidingSketch(cfg.copy(seed = Rng.deriveSeed(cfg.seed, "g")))
    val byTick = schedule.groupBy(_._1)
    val first  = schedule.map(_._1).min
    val out    = Seq.newBuilder[(Long, Int, String, Long)]
    var t      = first
    while (t <= through) {
      byTick.getOrElse(t, Nil).sortBy(u => (u._2, u._3)).foreach(u => sk.add(u._2, u._3))
      sk.sortedSlice.iterator.take(emitK).zipWithIndex.foreach { case (e, i) =>
        out += ((t, i + 1, e.item, e.count))
      }
      sk.tick()
      t += 1
    }
    out.result()
  }

  private def writeBatch(dir: String, name: String, rows: Seq[(Long, String, Long)]): Unit =
    rows.map { case (tick, item, w) => ("g", new Timestamp(tick * 1000L + 1), item, w) }
      .toDF("key", "ts", "item", "weight")
      .coalesce(1).write.mode("append").parquet(dir)

  private def runUntilCaughtUp(in: String, out: String, ckpt: String): Unit = {
    val input = spark.readStream.schema(schema).option("maxFilesPerTrigger", 1).parquet(in)
    val q = TopKStreams.sliding(input, 1000L, "0 seconds", cfg, emitK)
      .writeStream.format("parquet")
      .option("path", out).option("checkpointLocation", ckpt)
      .outputMode("append").trigger(Trigger.AvailableNow()).start()
    q.awaitTermination()
  }

  test("sliding stream resumes from checkpoint with exactly-once per-tick rows") {
    val base = graft.TempDirs("graft_resume").toString
    val in   = s"$base/in"; val out = s"$base/out"; val ckpt = s"$base/ckpt"

    // run 1: ticks 0-1 (+ the tick-3 marker advancing the watermark)
    writeBatch(in, "b1", schedule.filter(_._1 <= 1))
    writeBatch(in, "b2", schedule.filter(u => u._1 > 1 && u._1 <= 3))
    runUntilCaughtUp(in, out, ckpt)
    val afterRun1 = spark.read.parquet(out).count()

    // run 2 (the restart): remaining events
    writeBatch(in, "b3", schedule.filter(_._1 > 3))
    runUntilCaughtUp(in, out, ckpt)

    val got = spark.read.parquet(out)
      .select("tick", "rank", "item", "count")
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getString(2), r.getLong(3)))
      .sortBy(t => (t._1, t._2.toLong)).toSeq
    // final watermark = 8001ms -> ticks complete through 7
    val expected = replayExpected(7L)
    assert(got == expected, s"got=$got expected=$expected")
    assert(afterRun1 < got.size, "run 1 should have emitted only a prefix")

    // run 3: restart with no new data — output must not change (idempotent)
    runUntilCaughtUp(in, out, ckpt)
    val again = spark.read.parquet(out).count()
    assert(again == got.size, "restart without new data duplicated rows")

    // per-partition lineage: the checkpoint's offset log names the exact
    // files each batch consumed, all batches committed
    val lineage = graft.streaming.Lineage.batches(ckpt)
    assert(lineage.nonEmpty)
    assert(lineage.forall(_.committed), "uncommitted batches in lineage")
    val lineageText = lineage.flatMap(_.sourceOffsets).mkString("\n")
    // the file-stream source's offset is a logOffset into its file log —
    // assert the SPECIFIC shape, not mere non-emptiness (a metadata-only
    // parse regression must fail here)
    assert(lineageText.contains("logOffset"), s"offset log shape: $lineageText")

    // the checkpoint went through LocalCheckpointFileManager, not Hadoop's
    // checksummed local file system: none of its hidden ".<file>.crc"
    // sidecars; state deltas keep Spark's own "<file>.crc" checksum files
    val names = Files.walk(java.nio.file.Paths.get(ckpt)).iterator().asScala
      .map(_.getFileName.toString).toList
    val hadoopCrc = names.filter(n => n.startsWith(".") && n.endsWith(".crc"))
    assert(hadoopCrc.isEmpty, s"Hadoop .crc files in the checkpoint: $hadoopCrc")
    assert(names.exists(_.endsWith(".delta.crc")), s"no state checksum files: $names")
  }

  test("session stream resumes from checkpoint (adaptive buffers in state store)") {
    import graft.core.SketchConfig
    val base = graft.TempDirs("graft_sess_resume").toString
    val in = s"$base/in"; val out = s"$base/out"; val ckpt = s"$base/ckpt"

    def run(): Unit = {
      val input = spark.readStream.schema(schema).option("maxFilesPerTrigger", 1).parquet(in)
      val q = TopKStreams.session(input, gap = "2 seconds", watermarkDelay = "0 seconds",
          SketchConfig.withDefaults(k = 2, width = 256, depth = 3))
        .writeStream.format("parquet")
        .option("path", out).option("checkpointLocation", ckpt)
        .outputMode("append").trigger(Trigger.AvailableNow()).start()
      q.awaitTermination()
    }
    def rows(ts: Seq[(String, Long, String, Long)]) =
      ts.map { case (k, sec, item, w) => (k, new Timestamp(sec * 1000L), item, w) }
        .toDF("key", "ts", "item", "weight").coalesce(1).write.mode("append").parquet(in)

    // run 1: u1 session [1,4) (a:2, b:1) + watermark pusher w@6 closes it
    rows(Seq(("u1", 1L, "a", 1L), ("u1", 2L, "a", 1L), ("u1", 2L, "b", 1L),
      ("w", 6L, "x", 1L)))
    run()
    val afterRun1 = spark.read.parquet(out).count()

    // run 2 (restart): u1 session [10,13) (c:3); pusher w@20 closes it and w@6's
    rows(Seq(("u1", 10L, "c", 2L), ("u1", 11L, "c", 1L), ("w", 20L, "y", 1L)))
    run()

    val got = spark.read.parquet(out)
      .select(col("key"), col("session_start").cast("long"),
        col("session_end").cast("long"), col("rank"), col("item"), col("count"))
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2),
        r.getLong(3), r.getString(4), r.getLong(5))).toSet
    val expected = Set(
      ("u1", 1L, 4L, 1L, "a", 2L), ("u1", 1L, 4L, 2L, "b", 1L),
      ("w", 6L, 8L, 1L, "x", 1L),
      ("u1", 10L, 13L, 1L, "c", 3L))
    assert(got == expected, s"got=$got")
    assert(afterRun1 < expected.size, "run 1 must emit only the closed prefix")

    // run 3: restart with no new data — idempotent
    run()
    assert(spark.read.parquet(out).count() == expected.size)
  }

  test("metrics listener captures per-batch input rows and state size") {
    val base = graft.TempDirs("graft_metrics").toString
    val in = s"$base/in"; val out = s"$base/out"; val ckpt = s"$base/ckpt"
    val listener = graft.streaming.Lineage.attach(spark)
    try {
      writeBatch(in, "b1", schedule)
      runUntilCaughtUp(in, out, ckpt)
      // listener events are async; wait briefly for delivery
      var waited = 0
      while (listener.metrics.isEmpty && waited < 10000) { Thread.sleep(200); waited += 200 }
      val ms = listener.metrics
      assert(ms.nonEmpty, "no progress events captured")
      assert(ms.map(_.numInputRows).sum == schedule.size.toLong)
      assert(ms.exists(_.stateBytes > 0), "state size metric missing")
    } finally graft.streaming.Lineage.detach(spark, listener)
  }
}
