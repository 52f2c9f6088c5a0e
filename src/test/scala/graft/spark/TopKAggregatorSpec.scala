package graft.spark

import graft.core.{Hashing, Sketch, SketchCodec, SketchConfig}
import graft.operators.TopK
import graft.plans.TopKAggregates
import graft.streaming.TopKStreams
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
    // fanIn 2 forces merge levels: 8 buffers -> 4 merge tasks -> 2 -> driver
    val ours = GlobalTopKSpec.rowsAtFanIn(TopK.tokensArray(df, col("tokens"), cfg), 2)
      .map(r => (r._1, r._2)).toMap
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
    // the union is an exact sum regardless of merge topology, so forced merge
    // levels (fanIn buffers per merge task) must reproduce the driver's fold
    // of all 16 buffers bit-for-bit.
    // Token t appears in docs divisible by t+1 -> count(t) ~ 500/(t+1):
    // DISTINCT counts in the top region (equal-count ties at the bounded
    // heap's boundary may legitimately survive differently per topology)
    val rows = (0 until 500).map { i =>
      (i.toLong, (0 until 80).filter(t => i % (t + 1) == 0).toArray)
    }
    val df  = rows.toDF("doc_id", "tokens").repartition(16)
    val cfg = SketchConfig.withDefaults(10, width = 2048, depth = 3)
    def res(fanIn: Int) = GlobalTopKSpec.rowsAtFanIn(TopK.tokensArray(df, col("tokens"), cfg), fanIn)
    val flat = res(64)
    // fanIn 4: one level of 4 merge tasks; fanIn 2: levels of 8, 4 and 2
    assert(flat.nonEmpty && flat == res(4) && flat == res(2))
    // counts are exact: compare against a plain explode + groupBy oracle
    val exact = df.select(explode(col("tokens")).as("t")).groupBy("t").count()
      .orderBy(col("count").desc, col("t").asc).limit(10)
      .collect().map(r => (r.getInt(0).toString, r.getLong(1))).toSeq
    assert(flat.map(e => (e._1, e._2)) == exact)
  }

  /** Seeded power-law token docs (25 tokens each) in 8 fixed partitions. */
  private def powerLawDocs(seed: Long) = {
    val rng  = new java.util.Random(seed)
    val docs = (0 until 2000).map { d =>
      (d.toLong, Array.fill(25) { val u = rng.nextDouble(); (2000 * u * u * u).toInt })
    }
    spark.sparkContext.parallelize(docs, 8).toDF("doc_id", "tokens")
  }

  /** One serialized TokensTopKAgg buffer (a TKP2 sketch blob) per input
    * partition, in partition order.
    */
  private def partitionBlobs(df: org.apache.spark.sql.DataFrame, cfg: SketchConfig) =
    df.groupBy(spark_partition_id().as("p"))
      .agg(TopKAggregates.bufferBytes(TopK.tokensAgg(col("tokens"), cfg, 1)).as("b"))
      .orderBy("p").collect().map(_.getAs[Array[Byte]]("b")).toSeq

  test("topk_tokens_sketch blobs keep their bytes on the seeded power-law input") {
    // SHA-256 of each partition's blob at 1024x3: users store these blobs
    // and feed them to topk_merge/topk_count later, so the bytes are pinned
    graft.functions.SqlFunctions.register(spark)
    powerLawDocs(seed = 13).createOrReplaceTempView("plaw_docs")
    val sha = java.security.MessageDigest.getInstance("SHA-256")
    val got = spark.sql(
      """SELECT p, topk_tokens_sketch(tokens, 80, 1024, 3) AS b
        |FROM (SELECT spark_partition_id() AS p, tokens FROM plaw_docs)
        |GROUP BY p ORDER BY p""".stripMargin)
      .collect().map(r => sha.digest(r.getAs[Array[Byte]]("b")).map("%02x".format(_)).mkString)
    assert(got.toSeq == Seq(
      "45b065c28184d72174ede152185e96116207956696023efeab059b0d7079ad70",
      "c567a7b7fda638e5bbba1f677fc47dcf3ff91292f1164a3b4f19bb7988e3a440",
      "49bc1e78ce8dfad6207bd6c863453af3dfbf2fb49df8ee01165d621c2ccf79dd",
      "2f9bdd635a100f0e379ed4bd5a3cfdc42c990748b5b516f08780072d155003eb",
      "f24a96081f02e8dec2886d3c4204e1d10569766dd7edc207e0c10490607ef70f",
      "f936e2259f9881d7f9afb0ff998921ecdcf0fda7dc4d1b139cea801bff6f5fd0",
      "b28a7c5dbe21f2b596b80b0918d4da50a2d3aa4979b67764275dd8b46ade9a64",
      "53251a4fd6e2ed3b9a35c71bb5270bb1558c6ca94b7c6885f2a52c10550af6ce"))
  }

  test("token partials are byte-identical across runs over the same partitions") {
    // a task retry reads the same partition again; at a colliding geometry
    // its blob must come out the same, decay draws included
    val df  = powerLawDocs(seed = 13)
    val cfg = SketchConfig.withDefaults(80, width = 1024, depth = 3)
    val (a, b) = (partitionBlobs(df, cfg), partitionBlobs(df, cfg))
    assert(a.size == 8)
    a.zip(b).foreach { case (x, y) => assert(java.util.Arrays.equals(x, y)) }
  }

  test("token partials at 1024x3: no over-estimation, top-20 error within a unit-add replay's") {
    // the combiner feeds each partition's sketch one weighted add per
    // distinct token, heaviest first; against the same partitions replayed
    // one token at a time into plain sketches, it may not estimate worse
    val df    = powerLawDocs(seed = 17)
    val cfg   = SketchConfig.withDefaults(80, width = 1024, depth = 3)
    def union(parts: Seq[Sketch]) = parts.reduce(_.merge(_))
    val ours  = union(partitionBlobs(df, cfg).map(SketchCodec.decode))
    val unit  = union(df.select(spark_partition_id().as("p"), col("tokens")).collect()
      .groupBy(_.getInt(0)).toSeq.sortBy(_._1).map { case (_, rows) =>
        val s = new Sketch(cfg)
        rows.foreach(_.getSeq[Int](1).foreach(t => s.addToken(t, 1L)))
        s
      })
    val truth = df.select(explode(col("tokens")).as("t")).groupBy("t").count()
      .collect().map(r => (r.getInt(0).toString, r.getLong(1))).toMap
    truth.foreach { case (i, c) => assert(ours.count(i) <= c, s"$i over-estimated: ${ours.count(i)} > $c") }
    val top20 = truth.toSeq.sortBy { case (i, c) => (-c, i) }.take(20)
    def meanRelErr(s: Sketch) =
      top20.map { case (i, c) => math.abs(s.count(i) - c).toDouble / c }.sum / top20.size
    assert(meanRelErr(ours) <= meanRelErr(unit),
      s"combiner ${meanRelErr(ours)} vs unit-add ${meanRelErr(unit)}")
  }

  /** `n` distinct items with tied counts 1 + (7j mod 23), one weight-1 row
    * per unit, shuffled into 8 fixed partitions.
    */
  private def tiedItems(n: Int, groups: Seq[String]) = {
    val rows = for {
      g <- groups; j <- 0 until n; _ <- 0 until 1 + (7 * j) % 23
    } yield (g, f"i$j%03d", 1L)
    spark.sparkContext.parallelize(new scala.util.Random(5).shuffle(rows), 8)
      .toDF("grp", "item", "weight")
  }

  test("item aggregates count exactly up to the cutoff at a colliding geometry") {
    // width 4 x depth 1 collides almost every item, so only the exact
    // buffer can return these counts: every row-emitting item plan must
    // match the exact answer, ties ordered by item asc, for <= cutoff
    // distinct items — the one-level plans (TopK.aggregate's driver fold,
    // aggregateBy, TopKStreams.tumbling/session over a batch input, SQL
    // topk_items and topk_sliding) and the two-level ones, which merge the
    // same buffer (forced merge tasks, the salted plan, the per-tick window)
    val cfg = SketchConfig.withDefaults(5, width = 4, depth = 1)
    val n   = graft.plans.AdaptiveTopK.cutoff(TopKAggregates.candidates(cfg, 4))
    val df  = tiedItems(n, Seq("g0", "g1"))
    def exactTop(rows: Seq[(String, Long)]) =
      rows.groupBy(_._1).view.mapValues(_.map(_._2).sum).toSeq
        .sortBy { case (i, c) => (-c, i) }.take(5)
    val local = df.collect().map(r => (r.getString(0), r.getString(1), r.getLong(2))).toSeq
    val want  = exactTop(local.map(r => (r._2, r._3)))
    val fp    = (i: String) => Hashing.fingerprint(i).toLong & 0xffffffffL

    // 8 partitions: the default folds them all on the driver; fanIn 4 and 2
    // force one and two levels of merge tasks first
    Seq(64, 4, 2).foreach { fanIn =>
      val global = GlobalTopKSpec.rowsAtFanIn(TopK.aggregate(df, col("item"), col("weight"), cfg), fanIn)
      withClue(s"fanIn $fanIn") { assert(global == want.map { case (i, c) => (i, c, fp(i)) }) }
    }
    val byDefault = TopK.aggregate(df, col("item"), col("weight"), cfg).collect()
      .map(r => (r.getString(0), r.getLong(1))).toSeq
    assert(byDefault == want)

    def rows(out: org.apache.spark.sql.DataFrame) = out.orderBy(out.columns(0), "rank").collect()
      .map(r => (r.get(0).toString, r.getLong(1), r.getString(2), r.getLong(3))).toSeq
    val wantPerGroup = Seq("g0", "g1").flatMap { g =>
      exactTop(local.filter(_._1 == g).map(r => (r._2, r._3))).zipWithIndex
        .map { case ((i, c), r) => (g, r + 1L, i, c) }
    }
    assert(rows(TopK.aggregateBy(df, Seq(col("grp")), col("item"), col("weight"), cfg)) == wantPerGroup)
    assert(rows(TopK.aggregateBySalted(df, Seq(col("grp")), col("item"), col("weight"), cfg,
      saltFanout = 4)) == wantPerGroup)

    // g0 at 0 s and g1 at 100 s: separate tumbling windows and sessions
    val timed = df.withColumn("ts", ((col("grp") === "g1").cast("long") * 100).cast("timestamp"))
    val startOf = (g: String) => if (g == "g1") "100" else "0"
    val wantPerStart = wantPerGroup.map { case (g, r, i, c) => (startOf(g), r, i, c) }
    def byStart(out: org.apache.spark.sql.DataFrame, start: String) =
      rows(out.select(col(start).cast("long").as("start"), col("rank"), col("item"), col("count")))
    assert(byStart(TopKStreams.tumbling(timed, "10 seconds", "0 seconds", cfg),
      "window.start") == wantPerStart)
    assert(byStart(TopKStreams.session(timed.withColumn("key", lit("k")), "10 seconds",
      "0 seconds", cfg), "session_start") == wantPerStart)

    graft.functions.SqlFunctions.register(spark)
    df.createOrReplaceTempView("tied_items")
    // g0 is tick 0 and g1 tick 1: a window of 2 adds g0's counts into tick 1
    val tickOf = (g: String) => if (g == "g1") 1L else 0L
    Seq(1, 2).foreach { window =>
      val perTick = graft.operators.SlidingTopK.perTick(
        df.withColumn("tick", (col("grp") === "g1").cast("long")), col("tick"), col("item"),
        col("weight"), window, TopKAggregates.candidates(cfg, 4), k = 5)
      val sqlSliding = spark.sql(
        s"""SELECT e.tick, e.rank, e.item, e.count FROM (
           |  SELECT explode(topk_sliding(CAST(grp = 'g1' AS BIGINT), item, weight, $window, 5, 4, 1)) AS e
           |  FROM tied_items)""".stripMargin)
      val wantTicks = Seq(0L, 1L).flatMap { t =>
        val inWindow = local.filter(r => tickOf(r._1) > t - window && tickOf(r._1) <= t)
        exactTop(inWindow.map(r => (r._2, r._3))).zipWithIndex
          .map { case ((i, c), r) => (t.toString, r + 1L, i, c) }
      }
      withClue(s"window $window") {
        assert(rows(perTick) == wantTicks)
        assert(rows(sqlSliding) == wantTicks, "topk_sliding")
      }
    }

    val sql = spark.sql(
      """SELECT grp, e.item, e.count FROM (
        |  SELECT grp, posexplode(topk_items(item, weight, 5, 4, 1)) AS (pos, e)
        |  FROM tied_items GROUP BY grp)
        |ORDER BY grp, pos""".stripMargin)
      .collect().map(r => (r.getString(0), r.getString(1), r.getLong(2))).toSeq
    assert(sql == wantPerGroup.map(r => (r._1, r._3, r._4)))
  }

  test("aggregateBySalted rejects saltFanout < 1 up front") {
    val rows = Seq(("g", "a", 1L)).toDF("grp", "item", "weight")
    val cfg  = SketchConfig.withDefaults(2, width = 256, depth = 3)
    Seq(0, -3).foreach { fanout =>
      withClue(s"saltFanout $fanout") {
        assertThrows[IllegalArgumentException](TopK.aggregateBySalted(rows, Seq(col("grp")),
          col("item"), col("weight"), cfg, saltFanout = fanout).collect())
      }
    }
  }

  test("topk_sketch partials are byte-identical across runs over the same partitions") {
    // a task retry reads the same partition again: each partition spills
    // past its cutoff (max(64, 4k) = 64 distinct items) at a colliding
    // geometry, and its blob must come out the same, replay order and
    // decay draws included
    val rng  = new java.util.Random(23)
    val rows = (0 until 8000).map { _ => val u = rng.nextDouble(); (s"t${(400 * u * u * u).toInt}", 1L) }
    spark.sparkContext.parallelize(rows, 8).toDF("item", "w").createOrReplaceTempView("sk_retry")
    graft.functions.SqlFunctions.register(spark)
    val distinct = spark.sql("SELECT count(DISTINCT item) FROM sk_retry GROUP BY spark_partition_id()")
      .collect().map(_.getLong(0))
    assert(distinct.length == 8 && distinct.forall(_ > 64), distinct.toSeq)
    def blobs() = spark.sql(
      """SELECT p, topk_sketch(item, w, 10, 64, 3) AS b
        |FROM (SELECT spark_partition_id() AS p, item, w FROM sk_retry)
        |GROUP BY p ORDER BY p""".stripMargin).collect().map(_.getAs[Array[Byte]]("b")).toSeq
    val (a, b) = (blobs(), blobs())
    assert(a.size == 8)
    a.zip(b).foreach { case (x, y) => assert(java.util.Arrays.equals(x, y)) }
  }

  test("SketchBytesAgg.eval leaves the buffer's serialized bytes unchanged") {
    import org.apache.spark.sql.catalyst.expressions.{BoundReference, GenericInternalRow}
    import org.apache.spark.sql.types.{LongType, StringType}
    import org.apache.spark.unsafe.types.UTF8String
    val cfg = SketchConfig.withDefaults(3, width = 256, depth = 3)
    val agg = graft.plans.SketchBytesAgg(
      BoundReference(0, StringType, nullable = true), BoundReference(1, LongType, nullable = true), cfg)
    Seq(5, 200).foreach { distinct => // exact, then spilled past the cutoff of 64
      val buf = agg.createAggregationBuffer()
      (0 until 3 * distinct).foreach { i =>
        agg.update(buf, new GenericInternalRow(Array[Any](UTF8String.fromString(s"x${i % distinct}"), (i % 4 + 1).toLong)))
      }
      val before = agg.serialize(buf)
      val blob   = agg.eval(buf).asInstanceOf[Array[Byte]]
      withClue(s"$distinct distinct") {
        assert(agg.serialize(buf).sameElements(before))
        assert((buf.sketch == null) == (distinct <= 64))
        assert(SketchCodec.decode(blob).cfg == cfg)
      }
    }
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
    assert(aggs.exists(_.isInstanceOf[graft.plans.MergeBuffersAgg[_]]), aggs)
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
