package graft.spark

import java.sql.Timestamp

import graft.core.{SketchConfig, SlidingConfig}
import graft.streaming.TopKStreams
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

class TopKStreamsSpec extends AnyFunSuite {
  private lazy val spark = SparkTestSession.spark
  import spark.implicits._

  private def ts(millis: Long) = new Timestamp(millis)

  test("tumbling streaming windows finalize on watermark and match exact counts") {
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[(Timestamp, String, Long)]
    val df    = input.toDF.toDF("ts", "item", "weight")
    val cfg   = SketchConfig.withDefaults(3, width = 256, depth = 3)
    val q = TopKStreams.tumbling(df, "10 seconds", "0 seconds", cfg)
      .writeStream.format("memory").queryName("tumb").outputMode("append").start()
    try {
      // window [0,10): a=3, b=1 ; window [10,20): b=5
      input.addData((ts(1000), "a", 2L), (ts(2000), "b", 1L), (ts(3000), "a", 1L))
      q.processAllAvailable()
      input.addData((ts(12000), "b", 5L)) // pushes watermark past window 0
      q.processAllAvailable()
      input.addData((ts(25000), "c", 1L)) // pushes watermark past window 1
      q.processAllAvailable()
      val rows = spark.table("tumb")
        .select(col("window.start").cast("long"), col("rank"), col("item"), col("count"))
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getString(2), r.getLong(3)))
        .sortBy(t => (t._1, t._2))
      assert(rows.toSeq == Seq((0L, 1L, "a", 3L), (0L, 2L, "b", 1L), (10L, 1L, "b", 5L)))
    } finally q.stop()
  }

  test("sliding streaming reproduces the reference tick trace exactly once (sliding/sketch_test.go:167-296)") {
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[(String, Timestamp, String, Long)]
    val df    = input.toDF.toDF("key", "ts", "item", "weight")
    val cfg   = SlidingConfig.withDefaults(2, 2, width = 10, depth = 2, bucketHistoryLength = 2)
    val out = TopKStreams.sliding(df, tickMillis = 1000L, watermarkDelay = "0 seconds",
      cfg = cfg, emitK = 2)
    val q = out.writeStream.format("memory").queryName("slide").outputMode("append").start()
    try {
      def add(tick: Int, item: String, w: Long): (String, Timestamp, String, Long) =
        ("g", ts(tick * 1000L + 1), item, w)
      // the golden schedule (FIXTURES.md §3.4)
      input.addData(add(0, "X", 3), add(0, "Y", 2), add(0, "Z", 1))
      input.addData(add(1, "X", 2), add(1, "Y", 2), add(1, "Z", 1))
      input.addData(add(2, "Y", 1), add(2, "Z", 3))
      input.addData(add(3, "Y", 1), add(3, "Z", 3))
      // t4 has no adds; t5 has X+1; sentinel at t7 completes t5
      input.addData(add(5, "X", 1))
      input.addData(add(7, "sentinel", 0))
      q.processAllAvailable()
      // one more batch so the final watermark is applied to the state op
      input.addData(add(8, "sentinel2", 0))
      q.processAllAvailable()

      val rows = spark.table("slide")
        .select("tick", "rank", "item", "count")
        .collect().map(r => (r.getLong(0), r.getInt(1), r.getString(2), r.getLong(3)))
        .sortBy(t => (t._1, t._2.toLong))
        .filterNot(_._3.startsWith("sentinel"))
      val expected = Seq(
        (0L, 1, "X", 3L), (0L, 2, "Y", 2L),
        (1L, 1, "X", 5L), (1L, 2, "Y", 4L),
        (2L, 1, "Z", 4L), (2L, 2, "Y", 3L),
        (3L, 1, "Z", 6L), (3L, 2, "Y", 2L),
        (4L, 1, "Z", 3L), (4L, 2, "Y", 1L),
        (5L, 1, "X", 1L),
        (6L, 1, "X", 1L) // X (added t5) stays in the 2-tick window through t6
      )
      assert(rows.toSeq == expected)
    } finally q.stop()
  }

  test("sliding: a watermark plateauing EXACTLY on a tick boundary still emits the final tick") {
    // Tick completion counts equality (wm >= (t+1)*tick) but Spark fires
    // event-time timeouts strictly (timeout < wm): with the timeout set AT
    // the boundary, a final watermark of exactly (t+1)*tick never fired it
    // and the last completed tick was lost. The watermark here advances via
    // a DIFFERENT key, so key "g" can only emit through the timeout path —
    // the data path would mask the regression.
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[(String, Timestamp, String, Long)]
    val df    = input.toDF.toDF("key", "ts", "item", "weight")
    val cfg   = SlidingConfig.withDefaults(2, 2, width = 256, depth = 3)
    val q = TopKStreams.sliding(df, 1000L, "0 seconds", cfg, emitK = 2)
      .writeStream.format("memory").queryName("slide_edge").outputMode("append").start()
    try {
      // first event at ts=1, not 0: rows at exactly the INITIAL watermark
      // (epoch 0) are dropped as late by Spark before the state op — an
      // epoch-boundary curiosity no real stream hits; the boundary under
      // test here is the tick-aligned FINAL watermark below
      input.addData(("g", ts(1L), "a", 3L))
      q.processAllAvailable()
      input.addData(("g", ts(1000L), "b", 2L))
      q.processAllAvailable()
      // tick-aligned watermark advance on another key; weight 0 rows are
      // filtered before the state op but still move the watermark to 2000
      input.addData(("h", ts(2000L), "wm", 0L))
      q.processAllAvailable()
      val rows = spark.table("slide_edge")
        .where(col("key") === "g")
        .select("tick", "rank", "item", "count")
        .collect().map(r => (r.getLong(0), r.getInt(1), r.getString(2), r.getLong(3)))
        .sortBy(t => (t._1, t._2.toLong))
      // tick 1 completes at wm == 2000 exactly; window=2 keeps a in scope
      assert(rows.toSeq == Seq(
        (0L, 1, "a", 3L),
        (1L, 1, "a", 3L), (1L, 2, "b", 2L)))
    } finally q.stop()
  }

  test("map-side reduce cap: flushed partial groups merge to the same answer") {
    // a reduce cap of 2 forces the bounded reduce map to flush mid-batch
    // (7 distinct (key, tick, item) groups below); the state machine must
    // sum the partial flush rows back to the uncapped result
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[(String, Timestamp, String, Long)]
    val df    = input.toDF.toDF("key", "ts", "item", "weight")
    val cfg   = SlidingConfig.withDefaults(3, 2, width = 256, depth = 3)
    val q = TopKStreams.slidingWithReduceCap(df, 1000L, "0 seconds", cfg, emitK = 3,
        reduceMetrics = None, reduceCap = 2)
      .writeStream.format("memory").queryName("slide_cap").outputMode("append").start()
    try {
      input.addData(
        ("g", ts(1L), "a", 1L), ("g", ts(2L), "a", 1L), ("g", ts(3L), "b", 5L),
        ("g", ts(4L), "c", 2L), ("h", ts(5L), "a", 7L), ("h", ts(6L), "b", 1L),
        ("g", ts(1001L), "a", 4L), ("h", ts(1002L), "c", 3L))
      q.processAllAvailable()
      input.addData(("z", ts(3000L), "wm", 0L)) // complete ticks 0 and 1
      q.processAllAvailable()
      val rows = spark.table("slide_cap")
        .where(col("key").isin("g", "h") && col("tick") === 0)
        .select("key", "rank", "item", "count")
        .collect().map(r => (r.getString(0), r.getInt(1), r.getString(2), r.getLong(3)))
        .sortBy(t => (t._1, t._2.toLong))
      // tick 0 exact counts: g: b=5, c=2, a=2 ; h: a=7, b=1
      assert(rows.toSeq == Seq(
        ("g", 1, "b", 5L), ("g", 2, "a", 2L), ("g", 3, "c", 2L),
        ("h", 1, "a", 7L), ("h", 2, "b", 1L)))
    } finally q.stop()
  }

  test("sliding streaming: independent keys, out-of-order arrivals within watermark") {
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[(String, Timestamp, String, Long)]
    val df    = input.toDF.toDF("key", "ts", "item", "weight")
    val cfg   = SlidingConfig.withDefaults(2, 3, width = 256, depth = 3)
    val q = TopKStreams.sliding(df, 1000L, "2 seconds", cfg, emitK = 2)
      .writeStream.format("memory").queryName("slide2").outputMode("append").start()
    try {
      // out-of-order inside the 2s lateness bound; two keys
      input.addData(("a", ts(1500), "x", 2L), ("b", ts(1200), "p", 7L))
      input.addData(("a", ts(300), "x", 1L), ("a", ts(800), "y", 5L)) // late but allowed
      input.addData(("a", ts(6000), "z", 1L), ("b", ts(6000), "q", 1L)) // advance wm to 4000
      q.processAllAvailable()
      input.addData(("a", ts(9000), "s", 0L))
      q.processAllAvailable()
      val rows = spark.table("slide2")
        .select("key", "tick", "rank", "item", "count")
        .collect().map(r => (r.getString(0), r.getLong(1), r.getInt(2), r.getString(3), r.getLong(4)))
        .toSet
      // key a, tick 0: x=1 (ts 300), y=5 (ts 800) -> top: y:5, x:1
      assert(rows.contains(("a", 0L, 1, "y", 5L)))
      assert(rows.contains(("a", 0L, 2, "x", 1L)))
      // key a, tick 1: x=1+2=3
      assert(rows.contains(("a", 1L, 2, "x", 3L)))
      // key b, tick 1: p=7
      assert(rows.contains(("b", 1L, 1, "p", 7L)))
      // window size 3: tick 2's window is ticks 0..2, so tick-0 adds count
      assert(rows.contains(("a", 2L, 1, "y", 5L)))
      // at tick 3, tick-0 contributions expired (window = ticks 1..3) -> y gone
      assert(!rows.exists(r => r._1 == "a" && r._2 == 3L && r._4 == "y"))
    } finally q.stop()
  }

  test("session streaming windows merge across gaps and finalize on watermark") {
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[(String, Timestamp, String, Long)]
    val df    = input.toDF.toDF("key", "ts", "item", "weight")
    val cfg   = SketchConfig.withDefaults(2, width = 256, depth = 3)
    val q = TopKStreams.session(df, gap = "10 seconds", watermarkDelay = "0 seconds", cfg)
      .writeStream.format("memory").queryName("sess_stream").outputMode("append").start()
    try {
      // session A for u1: events at 1s and 5s (merged: one session [1, 15));
      // then silence past the gap, session B at 60s
      input.addData(("u1", ts(1000), "x", 1L), ("u1", ts(5000), "x", 1L),
        ("u1", ts(5000), "y", 1L))
      q.processAllAvailable()
      input.addData(("u1", ts(60000), "z", 1L)) // watermark 60s > 15s -> finalize A
      q.processAllAvailable()
      input.addData(("u2", ts(120000), "w", 1L)) // watermark 120s > 70s -> finalize B
      q.processAllAvailable()
      val rows = spark.table("sess_stream")
        .select(col("key"), col("session_start").cast("long"),
          col("session_end").cast("long"), col("rank"), col("item"), col("count"))
        .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2),
          r.getLong(3), r.getString(4), r.getLong(5)))
        .sortBy(t => (t._1, t._2, t._4))
      // session A: x=2 (rank 1), y=1 (rank 2), bounds [1, 15)
      assert(rows.toSeq == Seq(
        ("u1", 1L, 15L, 1L, "x", 2L), ("u1", 1L, 15L, 2L, "y", 1L),
        ("u1", 60L, 70L, 1L, "z", 1L)))
    } finally q.stop()
  }

  test("pre-1970 rows: each stream drops the rows its initial watermark of 0 makes late") {
    // Spark's late-row filter runs from the first batch at watermark 0, and
    // each stream applies it to its own event-time column: tumbling to the
    // window (late once its end <= watermark), session to the row's own
    // session window [ts, ts + gap), sliding to the raw timestamp
    implicit val sqlCtx = spark.sqlContext
    val cfg = SketchConfig.withDefaults(3, width = 256, depth = 3)
    val tin = MemoryStream[(Timestamp, String, Long)]
    val tq = TopKStreams.tumbling(tin.toDF.toDF("ts", "item", "weight"), "10 seconds", "0 seconds", cfg)
      .writeStream.format("memory").queryName("tumb_pre1970").outputMode("append").start()
    try {
      // o in [-20 s, -10 s) and p in [-10 s, 0): both windows end by 0
      tin.addData((ts(-13000), "o", 4L), (ts(-3500), "p", 2L), (ts(-1200), "p", 1L), (ts(1200), "q", 1L))
      tq.processAllAvailable()
      tin.addData((ts(25000), "r", 1L))
      tq.processAllAvailable()
      tin.addData((ts(40000), "s", 1L))
      tq.processAllAvailable()
    } finally tq.stop()
    val tumbling = spark.table("tumb_pre1970")
      .select(col("window.start").cast("long"), col("item"), col("count"))
      .collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2))).sorted.toSeq
    assert(tumbling == Seq((0L, "q", 1L), (20L, "r", 1L)))

    val sin = MemoryStream[(String, Timestamp, String, Long)]
    val sq = TopKStreams.session(sin.toDF.toDF("key", "ts", "item", "weight"), "10 seconds", "0 seconds", cfg)
      .writeStream.format("memory").queryName("sess_pre1970").outputMode("append").start()
    try {
      // a's session [-30 s, -20 s) ends by 0; b's [-3 s, 7 s) does not, and
      // its 1200 ms row extends it
      sin.addData(("a", ts(-30000), "o", 4L), ("b", ts(-3000), "p", 2L), ("b", ts(1200), "q", 1L))
      sq.processAllAvailable()
      sin.addData(("a", ts(60000), "z", 1L))
      sq.processAllAvailable()
      sin.addData(("a", ts(120000), "w", 1L))
      sq.processAllAvailable()
    } finally sq.stop()
    val session = spark.table("sess_pre1970")
      .select(col("key"), col("session_start").cast("long"), col("item"), col("count"))
      .collect().map(r => (r.getString(0), r.getLong(1), r.getString(2), r.getLong(3))).sorted.toSeq
    assert(session == Seq(("a", 60L, "z", 1L), ("b", -3L, "p", 2L), ("b", -3L, "q", 1L)))

    // p's ticks -4 and -2 never emit; q's tick 1 and the two after it do
    val sliding = slidingBatches("0 seconds", Seq(
      Seq(("a", -3500L, "p", 2L), ("a", -1200L, "p", 1L), ("a", 1200L, "q", 1L)),
      Seq(("a", 9000L, "hb", 0L)), Seq(("a", 9500L, "hb", 0L))))
    assert(sliding.map(r => (r._3, r._4, r._5)) == Seq((1L, "q", 1L), (2L, "q", 1L), (3L, "q", 1L)))
  }

  /** Runs `TopKStreams.sliding` (tick 1 s, window 3, top 3) over `batches`,
    * one micro-batch each with no-data batches off, and returns the
    * emitted (batch id, key, tick, item, count) rows sorted.
    */
  private def slidingBatches(delay: String, batches: Seq[Seq[(String, Long, String, Long)]],
      conf: Map[String, String] = Map.empty,
      prepare: org.apache.spark.sql.DataFrame => org.apache.spark.sql.DataFrame = identity,
      reduceCap: Int = TopKStreams.ReduceMaxEntries)
      : Seq[(Long, String, Long, String, Long)] = {
    implicit val sqlCtx = spark.sqlContext
    val settings = conf + ("spark.sql.streaming.noDataMicroBatches.enabled" -> "false")
    settings.foreach { case (k, v) => spark.conf.set(k, v) }
    val got = new java.util.concurrent.ConcurrentLinkedQueue[(Long, String, Long, String, Long)]()
    try {
      val input = MemoryStream[(String, Timestamp, String, Long)]
      val df    = prepare(input.toDF.toDF("key", "ts", "item", "weight"))
      val cfg   = SlidingConfig.withDefaults(3, 3, width = 256, depth = 3)
      val q = TopKStreams.slidingWithReduceCap(df, 1000L, delay, cfg, emitK = 3, None, reduceCap)
        .writeStream
        .foreachBatch { (ds: org.apache.spark.sql.Dataset[graft.streaming.TickTopK], id: Long) =>
          ds.collect().foreach(r => got.add((id, r.key, r.tick, r.item, r.count)))
        }.start()
      try batches.foreach { b =>
        input.addData(b.map { case (k, t, i, w) => (k, ts(t), i, w) })
        q.processAllAvailable()
      } finally q.stop()
    } finally settings.keys.foreach(spark.conf.unset)
    import scala.jdk.CollectionConverters._
    got.asScala.toSeq.sorted
  }

  test("sliding: a key's own rows close its tick in the batch that completes it") {
    // 1100 ms proves tick 0 complete at a 0 s delay: the watermark the next
    // batch runs at is >= 1100, so no tick-0 row can still count
    val rows = slidingBatches("0 seconds", Seq(
      Seq(("a", 100L, "x", 1L), ("a", 1100L, "y", 1L)),
      Seq(("a", 5000L, "hb", 0L))))
    assert(rows.filter(_._3 == 0L) == Seq((0L, "a", 0L, "x", 1L)))
  }

  test("sliding: a user watermark upstream keeps ticks open until the global watermark closes them") {
    // with its own 10 s watermark the global watermark is the smaller of the
    // two, so z (1800 ms) arrives on time; a key-time close at 5000 - 0 s
    // would have emitted ticks 1-3 without it
    val rows = slidingBatches("0 seconds", Seq(
      Seq(("a", 1500L, "x", 2L), ("a", 5000L, "y", 1L)),
      Seq(("a", 1800L, "z", 4L)),
      Seq(("b", 60000L, "hb", 0L)),
      Seq(("b", 61000L, "hb", 0L))),
      conf = Map("spark.sql.streaming.statefulOperator.allowMultiple" -> "false"),
      prepare = _.withWatermark("ts", "10 seconds"))
    (1L to 3L).foreach(t => assert(rows.exists(r => r._2 == "a" && r._3 == t && r._4 == "z" && r._5 == 4L),
      s"tick $t: $rows"))
  }

  test("sliding: a row past the delay behind its key's closed tick does not count") {
    // 3500 - 2 s closes tick 0 in batch 0. Spark's default late-row filter
    // runs one batch behind (at batch 0's watermark), so z (500 ms, below
    // batch 1's watermark of 1500) still reaches the state function; its
    // tick is already emitted, so it is dropped as late
    val rows = slidingBatches("2 seconds", Seq(
      Seq(("a", 100L, "x", 1L), ("a", 3500L, "y", 1L)),
      Seq(("a", 500L, "z", 5L)),
      Seq(("a", 9000L, "hb", 0L)),
      Seq(("a", 9500L, "hb", 0L))))
    assert(rows.filter(_._3 == 0L) == Seq((0L, "a", 0L, "x", 1L)))
    assert(!rows.exists(_._4 == "z"), rows)
  }

  test("sliding: every batch cut of a seeded stream emits the watermark-only rule's rows") {
    // three keys from 3 s before 1970 on: rows just behind the newest row
    // or just inside the 2 s delay (a tick closed one tick early would drop
    // some of them), weight-0 heartbeats, and late rows more than 3 s behind
    // the newest row, so their ticks closed before they arrive. Each late row
    // opens a segment, which every cut keeps as a batch boundary: the rows
    // that moved the watermark past it are always in an earlier batch.
    // `want` is what the watermark-only rule (ticks close on the watermark
    // alone) emitted for every cut of these rows. No tick below 0 emits:
    // Spark's late-row filter drops rows at or below its initial watermark
    // of 0 under either rule
    val rng = new scala.util.Random(29)
    var newest, maxSeen = -3000L
    def row(ts: Long, item: String, w: Long) = {
      maxSeen = math.max(maxSeen, ts)
      (Seq("a", "b", "c")(rng.nextInt(3)), ts, item, w)
    }
    val segments = (0 until 10).map { s =>
      val late = if (s == 0) Nil else List.fill(1 + rng.nextInt(2))(
        row(maxSeen - 3001 - rng.nextInt(3000), s"i${rng.nextInt(4)}", 1L + rng.nextInt(4)))
      late ++ List.fill(8) {
        newest += rng.nextInt(300)
        if (rng.nextInt(6) == 0) row(newest, "hb", 0L)
        else row(newest - (if (rng.nextBoolean()) rng.nextInt(100) else 1900 + rng.nextInt(100)),
          s"i${rng.nextInt(4)}", 1L + rng.nextInt(4))
      }
    }
    // two heartbeat batches far ahead close every tick
    val flush = Seq(Seq(("a", 60000L, "hb", 0L)), Seq(("a", 61000L, "hb", 0L)))
    // a reduce cap of 2 flushes the map-side reduce every two groups
    val cuts = Seq(
      ("one batch per segment", segments, TopKStreams.ReduceMaxEntries),
      ("one batch per segment, reduce cap 2", segments, 2),
      ("one batch per row", segments.flatten.map(Seq(_)), TopKStreams.ReduceMaxEntries),
      ("seeded splits", segments.flatMap { seg =>
        val at = 1 + rng.nextInt(seg.size - 1)
        Seq(seg.take(at), seg.drop(at))
      }, TopKStreams.ReduceMaxEntries))
    val want = Seq(
      ("a", 0L, "i0", 1L), ("a", 0L, "i1", 6L), ("a", 1L, "i0", 1L), ("a", 1L, "i1", 6L),
      ("a", 2L, "i0", 1L), ("a", 2L, "i1", 7L), ("a", 3L, "i0", 3L), ("a", 3L, "i2", 1L),
      ("a", 3L, "i3", 2L), ("a", 4L, "i0", 6L), ("a", 4L, "i2", 8L), ("a", 4L, "i3", 2L),
      ("a", 5L, "i0", 10L), ("a", 5L, "i2", 8L), ("a", 5L, "i3", 8L), ("a", 6L, "i0", 11L),
      ("a", 6L, "i2", 7L), ("a", 6L, "i3", 14L), ("a", 7L, "i0", 8L), ("a", 7L, "i1", 4L),
      ("a", 7L, "i3", 14L), ("a", 8L, "i0", 4L), ("a", 8L, "i1", 4L), ("a", 8L, "i3", 8L),
      ("a", 9L, "i1", 4L), ("b", 1L, "i3", 5L), ("b", 2L, "i0", 7L), ("b", 2L, "i1", 5L),
      ("b", 2L, "i3", 5L), ("b", 3L, "i0", 7L), ("b", 3L, "i1", 5L), ("b", 3L, "i3", 5L),
      ("b", 4L, "i0", 7L), ("b", 4L, "i1", 7L), ("b", 4L, "i3", 2L), ("b", 5L, "i1", 7L),
      ("b", 5L, "i3", 7L), ("b", 6L, "i1", 7L), ("b", 6L, "i3", 7L), ("b", 7L, "i1", 5L),
      ("b", 7L, "i3", 5L), ("c", 1L, "i1", 3L), ("c", 2L, "i1", 3L), ("c", 2L, "i2", 3L),
      ("c", 3L, "i1", 3L), ("c", 3L, "i2", 3L), ("c", 4L, "i2", 6L), ("c", 5L, "i2", 3L),
      ("c", 6L, "i1", 1L), ("c", 6L, "i2", 4L), ("c", 6L, "i3", 1L), ("c", 7L, "i1", 2L),
      ("c", 7L, "i2", 1L), ("c", 7L, "i3", 1L), ("c", 8L, "i1", 6L), ("c", 8L, "i2", 1L),
      ("c", 8L, "i3", 1L), ("c", 9L, "i1", 5L), ("c", 10L, "i1", 4L))
    val conf = Map("spark.sql.streaming.statefulOperator.allowMultiple" -> "false")
    cuts.foreach { case (cut, batches, reduceCap) =>
      val got = slidingBatches("2 seconds", batches ++ flush, conf, reduceCap = reduceCap)
        .map(r => (r._2, r._3, r._4, r._5))
      withClue(cut) { assert(got.sorted == want) }
    }
  }
}
