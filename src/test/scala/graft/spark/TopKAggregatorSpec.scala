package graft.spark

import graft.core.{Hashing, SketchConfig}
import graft.operators.TopK
import graft.plans.TopKAggregates
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

class TopKAggregatorSpec extends AnyFunSuite {
  private lazy val spark = SparkTestSession.spark
  import spark.implicits._

  test("golden parity on a single partition (sliding/sketch_test.go:97-127 shape)") {
    val updates = Seq(("X", 5L), ("Y", 3L), ("Z", 2L), ("Y", 1L))
    val df  = updates.toDF("item", "weight").repartition(1)
    val cfg = SketchConfig.withDefaults(3, width = 256, depth = 3)
    val out = TopK.aggregate(df, col("item"), col("weight"), cfg).collect()
    assert(out.map(r => (r.getString(0), r.getLong(1))).toSeq ==
      Seq(("X", 5L), ("Y", 4L), ("Z", 2L)))
    assert(out.map(_.getLong(2)).toSeq ==
      Seq("X", "Y", "Z").map(Hashing.fingerprint(_).toLong & 0xffffffffL))
  }

  test("multi-partition merge: exact when collision-free, matches exact oracle") {
    // 60 distinct items, width 1024 -> effectively collision-free; counts
    // must be exact and the top-K must equal the exact oracle including order.
    val rows = (0 until 6000).map { i =>
      val item = s"it${i % 60}"
      (item, (i % 7 + 1).toLong)
    }
    val df  = rows.toDF("item", "weight").repartition(8)
    val cfg = SketchConfig.withDefaults(10, width = 1024, depth = 3)
    val ours  = TopK.aggregate(df, col("item"), col("weight"), cfg)
      .select("item", "count").collect().map(r => (r.getString(0), r.getLong(1))).toSeq
    val exact = TopK.exact(df, col("item"), col("weight"), 10)
      .collect().map(r => (r.getString(0), r.getLong(1))).toSeq
    assert(ours == exact)
  }

  test("exact: integral items aggregate natively but match the string-grouped result") {
    // TopK.exact pushes the string cast PAST the aggregate for integral
    // item columns (injective, so groups are identical) — the result must
    // be row-for-row equal to grouping on the pre-cast strings, including
    // the string tie-order at the k boundary ("10" < "9") and null items.
    val rows = (0 until 4000).map(i => (i % 23, (i % 5 + 1).toLong)) ++
      Seq((1000, 3L), (1000, 4L)) // distinct item beyond two digits
    val df = spark.createDataFrame(rows).toDF("item", "weight")
      .unionAll(Seq((null.asInstanceOf[Integer], 2L)).toDF("item", "weight")
        .select(col("item").cast("int").as("item"), col("weight")))
    val viaInt = TopK.exact(df, col("item"), col("weight"), 7)
      .collect().map(r => (r.getString(0), r.getLong(1))).toSeq
    val viaString = TopK.exact(
        df.select(col("item").cast("string").as("item"), col("weight")),
        col("item"), col("weight"), 7)
      .collect().map(r => (r.getString(0), r.getLong(1))).toSeq
    assert(viaInt == viaString)
  }

  test("statistical: skewed stream, no over-estimation, high recall") {
    val n     = 50000
    val rng   = new java.util.Random(7)
    val items = (0 until n).map { _ =>
      val u = rng.nextDouble()
      (s"t${(2000 * u * u * u).toInt}", 1L)
    }
    val df  = items.toDF("item", "weight").repartition(8)
    val cfg = SketchConfig.withDefaults(20, width = 1024, depth = 3)
    val ours = TopK.aggregate(df, col("item"), col("weight"), cfg)
      .select("item", "count").collect().map(r => (r.getString(0), r.getLong(1))).toMap
    val truth = items.groupBy(_._1).view.mapValues(_.map(_._2).sum).toMap
    val exactTop = truth.toSeq.sortBy { case (i, c) => (-c, i) }.take(20).map(_._1).toSet
    // under-estimation only
    ours.foreach { case (item, est) =>
      assert(est <= truth(item), s"$item over-estimated: $est > ${truth(item)}")
    }
    // recall@20 >= 0.9 on this distribution
    val recall = ours.keySet.intersect(exactTop).size
    assert(recall >= 18, s"recall@20 = $recall")
  }

  test("udaf tolerates NULL items and NULL weights (null->no-op, matching SQL path)") {
    // a NULL weight row must not kill the query (no AssertNotNull on the
    // input); the aggregate skips NULL items and adds a NULL weight as 0.
    val rows = Seq[(String, java.lang.Long)](
      ("X", 5L), (null, 3L), ("X", null), ("Y", 2L), ("Y", null)
    ).toDF("item", "weight")
    val cfg = SketchConfig.withDefaults(3, width = 256, depth = 3)
    val out = TopK.aggregate(rows, col("item"), col("weight"), cfg)
      .collect().map(r => (r.getString(0), r.getLong(1))).toSeq
    assert(out == Seq(("X", 5L), ("Y", 2L)))
  }

  test("per-group top-K (aggregateBy) with rank") {
    val rows = Seq(
      ("web", "a", 5L), ("web", "b", 3L), ("web", "a", 2L),
      ("code", "x", 9L), ("code", "a", 1L)
    ).toDF("source", "item", "weight")
    val cfg = SketchConfig.withDefaults(2, width = 256, depth = 3)
    val out = TopK.aggregateBy(rows, Seq(col("source")), col("item"), col("weight"), cfg)
      .orderBy(col("source"), col("rank"))
      .collect().map(r => (r.getString(0), r.getLong(1), r.getString(2), r.getLong(3)))
    assert(out.toSeq == Seq(
      ("code", 1L, "x", 9L), ("code", 2L, "a", 1L),
      ("web", 1L, "a", 7L), ("web", 2L, "b", 3L)
    ))
  }

  test("statistical: tree merge preserves under-estimation + recall under collisions") {
    // skewed token stream at a colliding geometry: the tree topology must
    // keep the HK guarantees (no over-estimation; the heavy head survives)
    val n   = 50000
    val rng = new java.util.Random(11)
    val docs = (0 until n / 25).map { d =>
      (d.toLong, Array.fill(25) { val u = rng.nextDouble(); (2000 * u * u * u).toInt })
    }
    val df  = docs.toDF("doc_id", "tokens").repartition(8)
    val cfg = SketchConfig.withDefaults(20, width = 1024, depth = 3)
    val ours = TopK.tokensArray(df, col("tokens"), cfg, mergeFanIn = -4) // force tree
      .select("item", "count").collect().map(r => (r.getString(0), r.getLong(1))).toMap
    val truth = docs.flatMap(_._2).groupBy(t => t.toString).view.mapValues(_.size.toLong).toMap
    val exactTop = truth.toSeq.sortBy { case (i, c) => (-c, i) }.take(20).map(_._1).toSet
    ours.foreach { case (item, est) =>
      assert(est <= truth(item), s"$item over-estimated: $est > ${truth(item)}")
    }
    val recall = ours.keySet.intersect(exactTop).size
    assert(recall >= 18, s"recall@20 = $recall")
  }

  test("tokensArray tree merge equals single-level merge (collision-free)") {
    // token sequences over 80 distinct tokens, width 2048 -> collision-free:
    // the union is an exact sum regardless of merge topology, so the tree
    // (fanIn intermediate unions) must reproduce the flat plan bit-for-bit.
    // Token t appears in docs divisible by t+1 -> count(t) ~ 500/(t+1):
    // DISTINCT counts in the top region (equal-count ties at the bounded
    // heap's boundary may legitimately survive differently per topology)
    val rows = (0 until 500).map { i =>
      (i.toLong, (0 until 80).filter(t => i % (t + 1) == 0).toArray)
    }
    val df  = rows.toDF("doc_id", "tokens").repartition(16)
    val cfg = SketchConfig.withDefaults(10, width = 2048, depth = 3)
    def res(fanIn: Int) =
      TopK.tokensArray(df, col("tokens"), cfg, mergeFanIn = fanIn)
        .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2))).toSeq
    val flat = res(1)
    // negative fanIn forces the tree (the auto cutover would pick flat for
    // an input this small); 64 exercises the auto path (-> flat here)
    assert(flat.nonEmpty && flat == res(-4) && flat == res(64))
    // counts are exact: compare against a plain explode + groupBy oracle
    val exact = df.select(explode(col("tokens")).as("t")).groupBy("t").count()
      .orderBy(col("count").desc, col("t").asc).limit(10)
      .collect().map(r => (r.getInt(0).toString, r.getLong(1))).toSeq
    assert(flat.map(e => (e._1, e._2)) == exact)
  }

  test("sketch-blob aggregate + count/query columns (Count/Query surface)") {
    val df  = Seq(("X", 5L), ("Y", 3L), ("Z", 2L)).toDF("item", "weight")
    val cfg = SketchConfig.withDefaults(2, width = 256, depth = 3)
    val blob = df.agg(TopKAggregates.sketchBytes(col("item"), col("weight"), cfg).as("sk"))
    val checked = blob.select(
      TopK.countColumn(col("sk"), lit("X")).as("cx"),
      TopK.countColumn(col("sk"), lit("Z")).as("cz"),
      TopK.queryColumn(col("sk"), lit("X")).as("qx"),
      TopK.queryColumn(col("sk"), lit("Z")).as("qz"),
      TopK.queryColumn(col("sk"), lit("nope")).as("qn")
    ).head()
    assert(checked.getLong(0) == 5L)
    assert(checked.getLong(1) == 2L) // estimate from buckets (evicted from k=2 heap)
    assert(checked.getBoolean(2))
    assert(!checked.getBoolean(3)) // Z not in top-2
    assert(!checked.getBoolean(4))
  }

  test("salted two-level aggregation equals plain per-group top-K") {
    val rows = (0 until 4000).map { i =>
      (if (i % 10 == 0) "hot" else s"g${i % 3}", s"it${i % 50}", (i % 5 + 1).toLong)
    }.toDF("grp", "item", "weight")
    val cfg = SketchConfig.withDefaults(5, width = 1024, depth = 3)
    val plain = TopK.aggregateBy(rows, Seq(col("grp")), col("item"), col("weight"), cfg)
      .collect().map(r => (r.getString(0), r.getLong(1), r.getString(2), r.getLong(3))).toSet
    val salted = TopK.aggregateBySalted(rows, Seq(col("grp")), col("item"), col("weight"),
        cfg, saltFanout = 8)
      .collect().map(r => (r.getString(0), r.getLong(1), r.getString(2), r.getLong(3))).toSet
    assert(salted == plain)
  }

  test("SQL topk_merge + topk_rows: blob algebra end-to-end") {
    graft.functions.SqlFunctions.register(spark)
    Seq(("a", "x", 5L), ("a", "y", 3L), ("b", "x", 2L), ("b", "z", 9L))
      .toDF("slice", "item", "w").createOrReplaceTempView("sliced")
    val r = spark.sql("""
      WITH per AS (SELECT slice, topk_sketch(item, w, 3, 256, 3) AS b FROM sliced GROUP BY slice),
      merged AS (SELECT topk_merge(b) AS mb FROM per)
      SELECT e.item, e.count FROM (SELECT explode(topk_rows(mb, 3)) AS e FROM merged)""")
      .collect().map(x => (x.getString(0), x.getLong(1)))
    assert(r.toSeq == Seq(("z", 9L), ("x", 7L), ("y", 3L)))
  }

  test("batch sliding per-tick ring reproduces the reference tick trace (window sums)") {
    // the golden schedule (sliding/sketch_test.go:167-296); collision-free,
    // so the per-tick sketch-ring union must produce the exact window sums
    val updates = Seq(
      (0L, "X", 3L), (0L, "Y", 2L), (0L, "Z", 1L),
      (1L, "X", 2L), (1L, "Y", 2L), (1L, "Z", 1L),
      (2L, "Y", 1L), (2L, "Z", 3L),
      (3L, "Y", 1L), (3L, "Z", 3L),
      (4L, "sentinel", 0L), // tick present, no real adds
      (5L, "X", 1L)
    ).toDF("tick", "item", "weight")
    val out = graft.operators.SlidingTopK.perTick(
        updates, col("tick"), col("item"), col("weight"), windowTicks = 2,
        cfg = SketchConfig.withDefaults(8, width = 256, depth = 3), k = 2)
      .where(col("item") =!= "sentinel")
      .orderBy("tick", "rank")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getString(2), r.getLong(3)))
    assert(out.toSeq == Seq(
      (0L, 1L, "X", 3L), (0L, 2L, "Y", 2L),
      (1L, 1L, "X", 5L), (1L, 2L, "Y", 4L),
      (2L, 1L, "Z", 4L), (2L, 2L, "Y", 3L),
      (3L, 1L, "Z", 6L), (3L, 2L, "Y", 2L),
      (4L, 1L, "Z", 3L), (4L, 2L, "Y", 1L),
      (5L, 1L, "X", 1L)
    ))
  }

  test("batch sliding merges per-tick blobs natively (no typed Aggregator buffer)") {
    import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
    import org.apache.spark.sql.execution.aggregate.{BaseAggregateExec, ScalaAggregator}
    val out = graft.operators.SlidingTopK.perTick(
      Seq((0L, "X", 3L), (1L, "Y", 2L)).toDF("tick", "item", "weight"),
      col("tick"), col("item"), col("weight"), windowTicks = 2,
      cfg = SketchConfig.withDefaults(4, width = 256, depth = 3), k = 2)
    out.collect()
    val aggs = new AdaptiveSparkPlanHelper {}.collect(out.queryExecution.executedPlan) {
      case a: BaseAggregateExec => a.aggregateExpressions.map(_.aggregateFunction)
    }.flatten
    assert(aggs.exists(_.isInstanceOf[graft.plans.MergeSketchBlobsAgg]), aggs)
    assert(!aggs.exists(_.isInstanceOf[ScalaAggregator[_, _, _]]), aggs)
  }

  test("codec round-trip preserves behavior") {
    val s = new graft.core.Sketch(SketchConfig.withDefaults(5, width = 128, depth = 3))
    Seq("a" -> 9L, "b" -> 4L, "c" -> 2L).foreach { case (i, c) => s.add(i, c) }
    val back = graft.core.SketchCodec.decode(graft.core.SketchCodec.encode(s))
    assert(back.sortedSlice.toSeq == s.sortedSlice.toSeq)
    assert(back.count("a") == 9L)
    back.add("d", 11L)
    assert(back.sortedSlice.head.item == "d")
  }
}
