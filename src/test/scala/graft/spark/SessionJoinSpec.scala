package graft.spark

import java.sql.Timestamp

import graft.core.SketchConfig
import graft.operators.SessionTopK
import graft.streaming.TopKStreams
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Session windows (batch + streaming) and watermark-bounded stream-stream
  * join — the remaining north-rule window/join surfaces.
  */
class SessionJoinSpec extends AnyFunSuite {
  private lazy val spark = SparkTestSession.spark
  import spark.implicits._

  private def ts(sec: Long) = new Timestamp(sec * 1000L)
  private val cfg2 = SketchConfig.withDefaults(2, width = 256, depth = 3)

  /** (key, ts, item) rows with weight 1, in `TopKStreams.session`'s input shape. */
  private def sessionInput(rows: (Long, Timestamp, String)*): DataFrame =
    rows.toDF("key", "ts", "item").withColumn("weight", lit(1L))

  /** Sorted (key, session_start s, session_end s, rank, item, count). */
  private def sessionRows(df: DataFrame) =
    df.collect().map(r => (r.getLong(0), r.getTimestamp(1).getTime / 1000,
      r.getTimestamp(2).getTime / 1000, r.getLong(3), r.getString(4), r.getLong(5))).toSeq.sorted

  test("batch session windows: gap-separated sessions with per-session top-K") {
    // user 1: two sessions (events at 0-100s, then 5000-5100s; gap 60s)
    val rows = sessionInput(
      (1L, ts(0), "a"), (1L, ts(50), "a"), (1L, ts(100), "b"),
      (1L, ts(5000), "c"), (1L, ts(5030), "c"),
      (2L, ts(10), "z"))
    val out = sessionRows(TopKStreams.session(rows, "60 seconds", "0 seconds", cfg2))
    assert(out == Seq(
      (1L, 0L, 160L, 1L, "a", 2L),     // session [0, 100+60): a x2, b x1
      (1L, 0L, 160L, 2L, "b", 1L),
      (1L, 5000L, 5090L, 1L, "c", 2L), // second session after the gap
      (2L, 10L, 70L, 1L, "z", 1L)
    ))
  }

  test("streaming session windows finalize on watermark") {
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[(Long, Timestamp, String)]
    val df    = input.toDF.toDF("key", "ts", "item").withColumn("weight", lit(1L))
    val q = TopKStreams.session(df, "30 seconds", "0 seconds", cfg2)
      .writeStream.format("memory").queryName("sess").outputMode("append").start()
    try {
      input.addData((1L, ts(0), "x"), (1L, ts(10), "x"), (1L, ts(20), "y"))
      q.processAllAvailable()
      input.addData((1L, ts(500), "z")) // watermark passes session end (50s)
      q.processAllAvailable()
      input.addData((1L, ts(1000), "w")) // closes the z session too
      q.processAllAvailable()
      val rows = spark.table("sess")
        .select($"key", $"session_start".cast("long"), $"rank", $"item", $"count")
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getString(3), r.getLong(4)))
        .sortBy(t => (t._2, t._3))
      assert(rows.toSeq == Seq(
        (1L, 0L, 1L, "x", 2L), (1L, 0L, 2L, "y", 1L),
        (1L, 500L, 1L, "z", 1L)
      ))
    } finally q.stop()
  }

  test("batch sessions: aggregateGap and session_window return identical rows") {
    // inter-event gaps 59, 1, 61, 120, 30 and 5000 seconds
    val rows = sessionInput(
      (1L, ts(0), "a"), (1L, ts(59), "b"), (1L, ts(60), "a"), (1L, ts(121), "c"),
      (1L, ts(241), "c"), (1L, ts(271), "a"), (2L, ts(5), "z"), (2L, ts(5005), "z"))
    val gap = SessionTopK.aggregateGap(rows, $"key", $"ts", 60L, $"item", $"weight", cfg2)
    val win = TopKStreams.session(rows, "60 seconds", "0 seconds", cfg2)
    assert(gap.columns.toSeq == win.columns.toSeq)
    assert(sessionRows(gap) == sessionRows(win))
    assert(sessionRows(gap).map(r => (r._1, r._2)).distinct.size == 5)
  }

  test("an event exactly gap after its predecessor continues the session in aggregateGap and session_window, batch and stream") {
    val rows = sessionInput((1L, ts(0), "a"), (1L, ts(60), "b"))
    val oneSession = Seq((1L, 0L, 120L, 1L, "a", 1L), (1L, 0L, 120L, 2L, "b", 1L))
    assert(sessionRows(
      SessionTopK.aggregateGap(rows, $"key", $"ts", 60L, $"item", $"weight", cfg2)) == oneSession)
    assert(sessionRows(TopKStreams.session(rows, "60 seconds", "0 seconds", cfg2)) == oneSession)

    // streaming: the boundary event arrives in a later micro-batch, after
    // the watermark has reached the first event
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[(Long, Timestamp, String)]
    val df    = input.toDF.toDF("key", "ts", "item").withColumn("weight", lit(1L))
    val q = TopKStreams.session(df, "60 seconds", "0 seconds", cfg2)
      .writeStream.format("memory").queryName("sess_boundary").outputMode("append").start()
    try {
      Seq(ts(0) -> "a", ts(60) -> "b", ts(1000) -> "c").foreach { case (t, item) =>
        input.addData((1L, t, item))
        q.processAllAvailable()
      }
      assert(sessionRows(spark.table("sess_boundary")) == oneSession)
    } finally q.stop()
  }

  test("stream-stream join with watermarks feeding a windowed top-K (stateful join)") {
    implicit val sqlCtx = spark.sqlContext
    val clicks    = MemoryStream[(Long, Timestamp, String)]
    val purchases = MemoryStream[(Long, Timestamp, Long)]

    // event-time-bounded inner join: purchase within 60s after the click,
    // then a tumbling-window top-K of pages by purchase amount downstream
    val c2 = clicks.toDF.toDF("c_user", "click_ts", "page").withWatermark("click_ts", "0 seconds")
    val p2 = purchases.toDF.toDF("p_user", "purchase_ts", "amount").withWatermark("purchase_ts", "0 seconds")
    val j2 = c2.join(p2,
      expr("c_user = p_user AND purchase_ts BETWEEN click_ts AND click_ts + INTERVAL 60 seconds"),
      "inner")
    // the joined stream already carries both sources' watermarks; aggregate
    // directly (re-watermarking downstream of a stream-stream join is
    // disallowed with multiple stateful operators)
    val agg = j2
      .select(col("purchase_ts").as("ts"), col("page").as("item"), col("amount").as("weight"))
      .groupBy(window(col("ts"), "10 minutes"))
      .agg(graft.operators.TopK.topkColumn(col("item"), col("weight"),
        SketchConfig.withDefaults(3, width = 256, depth = 3), 4).as("topk"))
      .select(col("window"), posexplode(col("topk")).as(Seq("rank0", "e")))
      .select(col("window"), (col("rank0") + 1).cast("long").as("rank"),
        col("e.item"), col("e.count"))

    val q = agg.writeStream.format("memory").queryName("joined_topk")
      .outputMode("append").start()
    try {
      clicks.addData((7L, ts(10), "home"), (7L, ts(100), "pricing"), (8L, ts(20), "docs"))
      purchases.addData((7L, ts(40), 30L), (7L, ts(130), 100L), (8L, ts(600), 5L))
      q.processAllAvailable()
      // advance both watermarks far enough to close the 10-minute window
      clicks.addData((9L, ts(4000), "x"))
      purchases.addData((9L, ts(4000), 1L))
      q.processAllAvailable()
      clicks.addData((9L, ts(8000), "x"))
      purchases.addData((9L, ts(8000), 1L))
      q.processAllAvailable()
      val rows = spark.table("joined_topk")
        .select($"rank", $"item", $"count").collect()
        .map(r => (r.getLong(0), r.getString(1), r.getLong(2))).toSet
      // window [0,600): home+30 (purchase 40s after click 10s),
      // pricing+100 (130s after 100s); docs' purchase at 600s is outside
      // the 60s bound and lands in no joined row
      assert(rows.contains((1L, "pricing", 100L)))
      assert(rows.contains((2L, "home", 30L)))
      assert(!rows.exists(_._2 == "docs"))
    } finally q.stop()
  }
}
