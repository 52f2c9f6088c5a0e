package graft.spark

import graft.functions.SqlFunctions
import org.scalatest.funsuite.AnyFunSuite

/** The full SQL surface: every registered function resolves and computes, and
  * sliding/session top-K are expressible in plain `spark.sql`.
  */
class SqlSurfaceSpec extends AnyFunSuite {
  private lazy val spark = { val s = SparkTestSession.spark; SqlFunctions.register(s); s }
  import spark.implicits._

  test("registry exposes the complete surface (same list as GraftExtensions)") {
    SqlFunctions.register(spark)
    val names = SqlFunctions.builders.map(_._1)
    assert(names.toSet == Set("topk_tokens", "topk_items", "topk_items_adaptive",
      "topk_sliding", "xxh32", "topk_sketch", "topk_tokens_sketch", "topk_merge",
      "topk_rows", "topk_count", "topk_query"))
    names.foreach { n =>
      assert(spark.sessionState.functionRegistry
        .functionExists(org.apache.spark.sql.catalyst.FunctionIdentifier(n)), n)
    }
  }

  test("topk_sliding SQL aggregate matches the dataflow SlidingTopK operator") {
    val rows = for {
      tick <- 0L to 9L
      (item, n) <- Seq("a" -> (tick + 1), "b" -> 2L, "c" -> 1L)
      _ <- 1L to n
    } yield (tick, item)
    rows.toDF("tick", "item").createOrReplaceTempView("sliding_updates")

    val sql = spark.sql(
      """SELECT e.tick, e.rank, e.item, e.count
        |FROM (SELECT explode(topk_sliding(tick, item, 1L, 3, 2, 1024, 3)) e
        |      FROM sliding_updates)
        |ORDER BY e.tick, e.rank""".stripMargin)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getString(2), r.getLong(3)))

    val op = graft.operators.SlidingTopK.perTick(
        spark.table("sliding_updates"),
        org.apache.spark.sql.functions.col("tick"),
        org.apache.spark.sql.functions.col("item"),
        org.apache.spark.sql.functions.lit(1L),
        windowTicks = 3,
        cfg = graft.core.SketchConfig.withDefaults(8, width = 1024, depth = 3), k = 2)
      .orderBy("tick", "rank")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getString(2), r.getLong(3)))

    assert(sql.toSeq == op.toSeq)
    // exact spot-check: tick 4 window covers ticks 2..4 -> a: 3+4+5 = 12, b: 6
    assert(sql.filter(_._1 == 4L).toSeq ==
      Seq((4L, 1L, "a", 12L), (4L, 2L, "b", 6L)))
  }

  test("topk_sliding works per GROUP (independent rings per key)") {
    Seq(
      ("k1", 0L, "a"), ("k1", 0L, "a"), ("k1", 1L, "b"),
      ("k2", 0L, "z"), ("k2", 2L, "z"))
      .toDF("key", "tick", "item").createOrReplaceTempView("sliding_grouped")
    val rows = spark.sql(
      """SELECT key, e.tick, e.rank, e.item, e.count
        |FROM (SELECT key, explode(topk_sliding(tick, item, 1L, 2, 1, 256, 3)) e
        |      FROM sliding_grouped GROUP BY key)
        |ORDER BY key, e.tick""".stripMargin)
      .collect().map(r => (r.getString(0), r.getLong(1), r.getString(3), r.getLong(4)))
    // k1: tick0 a=2; tick1 window(0,1): a=2 wins over b=1
    // k2: tick0 z=1; tick2 window(1,2): z=1 (tick-0 aged out)
    assert(rows.toSeq == Seq(
      ("k1", 0L, "a", 2L), ("k1", 1L, "a", 2L),
      ("k2", 0L, "z", 1L), ("k2", 2L, "z", 1L)))
  }

  test("distributed sliding composition in SQL scans the input ONCE (literal ticks)") {
    // the scale-path SQL composition documented in SqlFunctions: per-tick
    // blobs -> exploded contribution range -> semi-join a LITERAL ticks table
    // -> merge per out_tick. The literal tick side must keep the plan at one
    // scan of the fact table; results must match the dataflow operator.
    val dir = graft.TempDirs("graft_sql_sliding").toString
    val rows = for {
      tick <- 0L to 9L
      (item, n) <- Seq("a" -> (tick + 1), "b" -> 2L, "c" -> 1L)
      _ <- 1L to n
    } yield (tick, item)
    rows.toDF("tick", "item").write.mode("overwrite").parquet(dir)
    spark.read.parquet(dir).createOrReplaceTempView("sliding_pq")

    val q = spark.sql(
      """WITH per_tick AS (
        |  SELECT tick, topk_sketch(item, 1L, 8, 1024, 3) AS sk
        |  FROM sliding_pq GROUP BY tick),
        |ticks AS (SELECT explode(sequence(0L, 9L)) AS out_tick),
        |win AS (
        |  SELECT c.out_tick, c.sk
        |  FROM (SELECT explode(sequence(tick, tick + 2)) AS out_tick, sk
        |        FROM per_tick) c
        |  LEFT SEMI JOIN ticks USING (out_tick))
        |SELECT out_tick AS tick, e.item, e.count
        |FROM (SELECT out_tick, explode(topk_rows(topk_merge(sk), 2)) AS e
        |      FROM win GROUP BY out_tick)
        |ORDER BY tick, e.count DESC, e.item""".stripMargin)

    val planStr = q.queryExecution.executedPlan.toString
    val scans = "Scan parquet".r.findAllIn(planStr).size
    assert(scans == 1, s"expected exactly one parquet scan, got $scans:\n$planStr")

    val got = q.collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2)))
    val fns = org.apache.spark.sql.functions
    val op = graft.operators.SlidingTopK.perTick(
        spark.table("sliding_pq"), fns.col("tick"), fns.col("item"), fns.lit(1L),
        windowTicks = 3,
        cfg = graft.core.SketchConfig.withDefaults(8, width = 1024, depth = 3),
        k = 2, knownTicks = Some(0L to 9L))
      .orderBy(fns.col("tick"), fns.col("count").desc, fns.col("item"))
      .select("tick", "item", "count")
      .collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2)))
    assert(got.toSeq == op.toSeq)
  }

  test("session top-K composes in SQL from session_window + topk_items") {
    val t0 = java.sql.Timestamp.valueOf("2024-01-01 00:00:00")
    def ts(min: Long) = new java.sql.Timestamp(t0.getTime + min * 60000L)
    val rows = Seq(
      ("u1", ts(0), "x"), ("u1", ts(10), "x"), ("u1", ts(20), "y"),
      ("u1", ts(200), "z"), // second session after a >1h gap
      ("u2", ts(5), "y"))
    rows.toDF("user", "ts", "item").createOrReplaceTempView("session_events")

    val out = spark.sql(
      """SELECT user, session_window(ts, '1 hour').start AS s,
        |       explode(topk_items(item, 1L, 1, 256, 3)) AS e
        |FROM session_events
        |GROUP BY user, session_window(ts, '1 hour')
        |ORDER BY user, s""".stripMargin)
      .selectExpr("user", "e.item", "e.count").collect()
      .map(r => (r.getString(0), r.getString(1), r.getLong(2)))
    assert(out.toSeq == Seq(("u1", "x", 2L), ("u1", "z", 1L), ("u2", "y", 1L)))
  }

  test("topk_items_adaptive matches topk_items on grouped data") {
    (1 to 300).map(i => (i % 5, s"item${i % 7}", 1L))
      .toDF("g", "item", "w").createOrReplaceTempView("adaptive_t")
    def run(fn: String) = spark.sql(
      s"""SELECT g, e.item, e.count
         |FROM (SELECT g, explode($fn(item, w, 3, 1024, 3)) e FROM adaptive_t GROUP BY g)
         |ORDER BY g, e.count DESC, e.item""".stripMargin)
      .collect().map(r => (r.getInt(0), r.getString(1), r.getLong(2))).toSeq
    assert(run("topk_items_adaptive") == run("topk_items"))
  }

  test("sketch algebra: sketch -> merge -> rows/count/query over blobs") {
    Seq(("a", 5L), ("b", 3L), ("a", 2L), ("c", 1L))
      .toDF("item", "w").createOrReplaceTempView("alg_t")
    val r = spark.sql(
      """WITH sk AS (SELECT topk_sketch(item, w, 3, 1024, 3) AS b FROM alg_t),
        |merged AS (SELECT topk_merge(b) AS m FROM sk)
        |SELECT topk_count(m, 'a'), topk_query(m, 'b'), topk_query(m, 'zzz'),
        |       topk_rows(m, 1)[0].item
        |FROM merged""".stripMargin).head()
    assert(r.getLong(0) == 7L)
    assert(r.getBoolean(1))
    assert(!r.getBoolean(2))
    assert(r.getString(3) == "a")
  }

  test("SQL tree-merge composition: topk_tokens_sketch -> topk_merge -> topk_rows") {
    val rows = (0 until 200).map(i => (i, (0 until 40).filter(t => i % (t + 1) == 0).toArray))
    rows.toDF("i", "tokens").repartition(8).createOrReplaceTempView("tree_t")
    val tree = spark.sql(
      """WITH p AS (SELECT pmod(spark_partition_id(), 4) g,
        |                  topk_tokens_sketch(tokens, 20, 1024, 3) b
        |           FROM tree_t GROUP BY 1),
        |m AS (SELECT topk_merge(b) mb FROM p)
        |SELECT e.item, e.count FROM m
        |LATERAL VIEW explode(topk_rows(mb, 5)) t AS e
        |ORDER BY e.count DESC, e.item""".stripMargin)
      .collect().map(r => (r.getString(0), r.getLong(1))).toSeq
    val flat = spark.sql(
      """SELECT e.item, e.count FROM
        |(SELECT topk_tokens(tokens, 5, 1024, 3) a FROM tree_t) t0
        |LATERAL VIEW explode(a) t AS e
        |ORDER BY e.count DESC, e.item""".stripMargin)
      .collect().map(r => (r.getString(0), r.getLong(1))).toSeq
    assert(tree == flat && tree.head == ("0", 200L))
  }

  test("blob decode memo: interleaved distinct blobs never return stale counts") {
    // topk_count/topk_query memoize the last decoded blob per expression
    // instance; rows alternating between two different blobs must each
    // decode the RIGHT one (content-equality check), not the cached other
    import graft.core.{Sketch, SketchCodec, SketchConfig}
    val cfg = SketchConfig.withDefaults(k = 3, width = 256, depth = 3)
    val skA = new Sketch(cfg); skA.add("x", 10L); skA.add("y", 2L)
    val skB = new Sketch(cfg); skB.add("x", 7L); skB.add("z", 4L)
    val a   = SketchCodec.encode(skA)
    val b   = SketchCodec.encode(skB)
    val rows = (0 until 40).map(i => (i, if (i % 2 == 0) a else b))
    rows.toDF("i", "blob").createOrReplaceTempView("memo_t")
    val out = spark.sql(
      "SELECT i, topk_count(blob, 'x') c, topk_query(blob, 'z') q FROM memo_t ORDER BY i")
      .collect()
    out.foreach { r =>
      val even = r.getInt(0) % 2 == 0
      assert(r.getLong(1) == (if (even) 10L else 7L), s"row ${r.getInt(0)}")
      assert(r.getBoolean(2) == !even, s"row ${r.getInt(0)}")
    }
  }

  test("type validation rejects wrong-typed inputs at analysis time") {
    Seq((Array(1L, 2L), "x")).toDF("toks64", "s").createOrReplaceTempView("bad_t")
    val e = intercept[Exception] {
      spark.sql("SELECT topk_tokens(toks64, 3) FROM bad_t").collect()
    }
    assert(e.getMessage.toLowerCase.contains("array<int>"))
    // the blob functions and the token blob partial, one wrong argument each
    Seq("topk_merge(s)", "topk_rows(s, 3)", "topk_rows(CAST(s AS BINARY), s)",
        "topk_count(toks64, s)", "topk_query(toks64, s)", "topk_tokens_sketch(toks64, 3)").foreach { call =>
      withClue(call) {
        assertThrows[org.apache.spark.sql.AnalysisException](
          spark.sql(s"SELECT $call FROM bad_t").queryExecution.assertAnalyzed())
      }
    }
  }
}
