package graft.spark

import scala.collection.mutable

import graft.core.SketchConfig
import graft.operators.TopK
import graft.plans.GlobalTopKExec
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobEnd, SparkListenerJobStart, SparkListenerStageCompleted}
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.catalyst.plans.logical.Aggregate
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.joins.BroadcastHashJoinExec
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graftbridge.Bridge
import org.scalatest.concurrent.Eventually
import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.time.SpanSugar._

/** The batch global top-K plan (`graft.plans.GlobalTopKExec`, planned from
  * Spark's ungrouped aggregate by `GlobalTopKStrategy`): one map stage over
  * the input and a driver-side fold, whatever reads its rows, from
  * DataFrames and SQL alike.
  */
class GlobalTopKSpec extends AnyFunSuite with Eventually with AdaptiveSparkPlanHelper {
  private lazy val spark = SparkTestSession.spark
  import spark.implicits._

  /** Seeded power-law token docs (25 tokens each). */
  private def docs(seed: Long, n: Int) = {
    val rng = new java.util.Random(seed)
    (0 until n).map { d =>
      (d.toLong, Array.fill(25) { val u = rng.nextDouble(); (2000 * u * u * u).toInt })
    }
  }

  private lazy val tokenTable: String = {
    val dir = graft.TempDirs("graft_global_topk").resolve("t").toString
    docs(3, 4000).toDF("doc_id", "tokens").repartition(8).write.parquet(dir)
    dir
  }

  private final case class StageSeen(tasks: Int, rdds: Seq[String], shuffleRead: Long, shuffleWrite: Long)

  /** Runs `f` in a fresh job group and returns the stages of its jobs. */
  private def stagesOf(f: => Unit): Seq[StageSeen] = {
    val group    = s"global_topk_${System.nanoTime()}"
    val (jobs, ended) = (mutable.Set[Int](), mutable.Set[Int]())
    val stageIds      = mutable.Set[Int]()
    val stages        = mutable.ArrayBuffer[StageSeen]()
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
        if (Option(e.properties).exists(_.getProperty("spark.jobGroup.id") == group)) {
          jobs += e.jobId
          stageIds ++= e.stageInfos.map(_.stageId)
        }
      }
      override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
        val i = e.stageInfo
        if (stageIds.contains(i.stageId))
          stages += StageSeen(i.numTasks, i.rddInfos.map(_.name),
            i.taskMetrics.shuffleReadMetrics.totalBytesRead, i.taskMetrics.shuffleWriteMetrics.bytesWritten)
      }
      override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized { ended += e.jobId }
    }
    spark.sparkContext.addSparkListener(listener)
    try {
      spark.sparkContext.setJobGroup(group, group)
      try f finally spark.sparkContext.clearJobGroup()
      eventually(timeout(10.seconds)) { assert(listener.synchronized(jobs.nonEmpty && jobs.subsetOf(ended))) }
    } finally spark.sparkContext.removeSparkListener(listener)
    listener.synchronized(stages.toList)
  }

  private def rows(df: DataFrame) =
    df.collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2))).toSeq

  private val cfg = SketchConfig.withDefaults(20, width = 1024, depth = 3)

  test("tokensArray over parquet runs one scan stage and no shuffle; forced merge levels agree") {
    val input = spark.read.parquet(tokenTable)
    val parts = input.rdd.getNumPartitions
    var got   = Seq.empty[(String, Long, Long)]
    val stages = stagesOf { got = rows(TopK.tokensArray(input, col("tokens"), cfg)) }
    assert(got.size == 20)
    assert(stages.size == 1, stages)
    assert(stages.head.tasks == parts && stages.head.rdds.contains("FileScanRDD"), stages)
    assert(stages.head.shuffleRead == 0L && stages.head.shuffleWrite == 0L, stages)

    // 8 partitions at fanIn 2: merge levels of 4 and 2 tasks, one shuffle each
    val eight  = TopK.tokensArray(docs(3, 4000).toDF("doc_id", "tokens").repartition(8), col("tokens"), cfg)
    val byFold = rows(eight)
    var forced = Seq.empty[(String, Long, Long)]
    val forcedStages = stagesOf { forced = GlobalTopKSpec.rowsAtFanIn(eight, 2) }
    assert(forced == byFold)
    assert(forcedStages.map(_.tasks).takeRight(2) == Seq(4, 2), forcedStages)
  }

  test("select, limit, count, join and write above the node read the driver-folded rows") {
    val input = spark.read.parquet(tokenTable)
    val top   = TopK.tokensArray(input, col("tokens"), cfg)
    val want  = rows(top)
    var picked = Seq.empty[(String, Long)]
    val stages = stagesOf {
      picked = top.select("item", "count").collect().map(r => (r.getString(0), r.getLong(1))).toSeq
    }
    assert(picked == want.map(r => (r._1, r._2)))
    assert(stages.count(_.rdds.contains("FileScanRDD")) == 1, stages)
    assert(stages.forall(s => s.shuffleRead == 0L && s.shuffleWrite == 0L), stages)

    assert(rows(top.limit(3)) == want.take(3))
    assert(top.count() == want.size)
    val joined = top.join(want.take(5).map(_._1).toDF("item"), Seq("item"), "left_semi")
    assert(rows(joined).sorted == want.take(5).sorted)
    val out = graft.TempDirs("graft_global_topk_out").resolve("o").toString
    top.write.parquet(out)
    assert(rows(spark.read.parquet(out)).sorted == want.sorted)
  }

  test("a semi-join against the top-K broadcasts") {
    // a parallelize input reports the unknown-size sentinel; Spark sizes
    // an ungrouped aggregate at one row whatever its input, and the rows
    // inlined from its one array keep that size
    val events = spark.sparkContext.parallelize(
      (0 until 20000).map(i => (s"e${i % 97}", 1L)), 8).toDF("item", "weight")
    val top = TopK.aggregate(events, col("item"), col("weight"), SketchConfig.withDefaults(3, width = 1024, depth = 3))
    val stats = top.queryExecution.optimizedPlan.stats
    assert(stats.sizeInBytes < BigInt(1024), stats)
    val aggStats = top.queryExecution.optimizedPlan.collectFirst { case a: Aggregate => a.stats }
    assert(aggStats.exists(_.rowCount.contains(BigInt(1))), aggStats)
    val semi = events.select("item").distinct().join(top.select("item"), Seq("item"), "left_semi")
    assert(semi.queryExecution.sparkPlan.collectFirst { case j: BroadcastHashJoinExec => j }.nonEmpty,
      semi.queryExecution.sparkPlan)
    assert(semi.collect().map(_.getString(0)).toSet == rows(top).map(_._1).toSet)
  }

  /** Catalyst's plan of `agg` over `df`, built in a session where no graft
    * strategy is registered.
    */
  private def viaCatalyst(df: DataFrame, agg: org.apache.spark.sql.catalyst.expressions.aggregate.AggregateFunction) = {
    val plain = spark.newSession()
    val input = plain.createDataFrame(df.rdd, df.schema)
    val out   = input.agg(Bridge.column(agg.toAggregateExpression()).as("t"))
      .select(explode(col("t")).as("e")).select("e.item", "e.count", "e.fingerprint")
    assert(find(out.queryExecution.executedPlan)(_.isInstanceOf[GlobalTopKExec]).isEmpty)
    out
  }

  test("rows equal the Catalyst aggregate's on seeded inputs") {
    // 1024x3 collides on ~2000 distinct tokens: both plans merge the same
    // per-partition buffers, so the folds agree beyond the exact case
    val seqs = spark.sparkContext.parallelize(docs(5, 3000), 8).toDF("doc_id", "tokens")
    assert(rows(TopK.tokensArray(seqs, col("tokens"), cfg)) ==
      rows(viaCatalyst(seqs, TopK.tokensAgg(col("tokens"), cfg, 4))))

    val rng   = new java.util.Random(9)
    val items = spark.sparkContext.parallelize((0 until 20000).map { _ =>
      val u = rng.nextDouble(); (s"w${(300 * u * u).toInt}", 1L + rng.nextInt(3))
    }, 8).toDF("item", "weight")
    val cfg10 = SketchConfig.withDefaults(10, width = 1024, depth = 3)
    assert(rows(TopK.aggregate(items, col("item"), col("weight"), cfg10)) ==
      rows(viaCatalyst(items, TopK.itemsAgg(col("item"), col("weight"), cfg10, 4))))
    assert(TopK.aggregate(items, col("item"), col("weight"), cfg).queryExecution.executedPlan
      .collectFirst { case e: GlobalTopKExec => e }.nonEmpty)
  }

  test("SQL topk_tokens runs one scan stage and no shuffle") {
    graft.functions.SqlFunctions.register(spark)
    spark.read.parquet(tokenTable).createOrReplaceTempView("global_topk_t")
    var got    = Seq.empty[(String, Long, Long)]
    val stages = stagesOf {
      got = spark.sql("SELECT topk_tokens(tokens, 20, 1024, 3) AS t FROM global_topk_t").collect()
        .flatMap(_.getSeq[Row](0)).map(e => (e.getString(0), e.getLong(1), e.getLong(2))).toSeq
    }
    assert(stages.size == 1, stages)
    assert(stages.head.rdds.contains("FileScanRDD"), stages)
    assert(stages.head.shuffleRead == 0L && stages.head.shuffleWrite == 0L, stages)
    assert(got == rows(TopK.tokensArray(spark.read.parquet(tokenTable), col("tokens"), cfg)))
  }

  test("FILTER, DISTINCT or a second aggregate fall back to Catalyst") {
    graft.functions.SqlFunctions.register(spark)
    // token t in the docs i divisible by t+1: distinct counts at the top,
    // and 80 tokens in width 2048 count exactly, whatever the merge order
    val seqs = (0 until 500).map(i => (i, (0 until 80).filter(t => i % (t + 1) == 0).toArray))
    val df   = seqs.toDF("i", "tokens").repartition(4)
    df.createOrReplaceTempView("fallback_t")
    def exactTop(docs: Seq[Array[Int]]) = docs.flatten.groupBy(identity).toSeq
      .map { case (t, ts) => (t.toString, ts.size.toLong) }.sortBy { case (t, c) => (-c, t) }.take(10)
    def topOf(q: String) = {
      val out = spark.sql(q)
      val got = out.collect()
      assert(find(out.queryExecution.executedPlan)(_.isInstanceOf[GlobalTopKExec]).isEmpty, q)
      (got.head.getSeq[Row](0).map(e => (e.getString(0), e.getLong(1))), got.head)
    }
    val filtered = topOf("SELECT topk_tokens(tokens, 10, 2048, 3) FILTER (WHERE i % 2 = 0) FROM fallback_t")._1
    assert(filtered == exactTop(seqs.filter(_._1 % 2 == 0).map(_._2)))
    val distinct = topOf("SELECT topk_tokens(DISTINCT tokens, 10, 2048, 3) FROM fallback_t")._1
    assert(distinct == exactTop(seqs.map(_._2.toSeq).distinct.map(_.toArray)))
    val (withCount, row) = topOf("SELECT topk_tokens(tokens, 10, 2048, 3), count(*) FROM fallback_t")
    assert(withCount == exactTop(seqs.map(_._2)) && row.getLong(1) == 500L)
  }

  test("oversample 4 keeps a globally-hot-but-locally-cold token") {
    // 4 range partitions, one group each. Group g holds 5 LOCAL tokens
    // (100+10g+j) with counts 50..68 — all hotter locally than the GLOBAL
    // token 7 (30 per group, 120 globally = the true #1). An un-oversampled
    // k=5 partial heap evicts token 7 in every partition; the k*4 buffer
    // keeps it (the failure mode SqlFunctions' blob note documents)
    val seqs = for (g <- 0 until 4; r <- 0 until 10) yield {
      val locals = (0 until 5).flatMap(j => Seq.fill((50 + g * 5 + j + 9) / 10)(100 + 10 * g + j))
      (g, (locals ++ Seq.fill(3)(7)).toArray)
    }
    val df = seqs.toDF("g", "tokens").repartitionByRange(4, $"g")
    // premise check: range partitioning put each g in its own partition
    assert(df.groupBy(spark_partition_id()).agg(countDistinct($"g")).collect()
      .forall(_.getLong(1) == 1L))
    def top(oversample: Int) =
      rows(TopK.tokensArray(df, col("tokens"), SketchConfig.withDefaults(5), oversample))
    val sampled = top(4)
    assert(sampled.head._1 == "7" && sampled.head._2 == 120L, s"global top item lost: $sampled")
    // without oversampling the partial heaps demonstrably drop it
    assert(!top(1).exists(_._1 == "7"))
  }

  test("tokensArray over a stream in Complete mode equals the batch rows") {
    implicit val sqlCtx = spark.sqlContext
    // exact geometry, so the stream's per-batch partials and state merges
    // must land on the batch plan's counts
    val seqs  = (0 until 500).map(i => (0 until 80).filter(t => i % (t + 1) == 0).toArray)
    val wide  = SketchConfig.withDefaults(10, width = 2048, depth = 3)
    val input = MemoryStream[Array[Int]]
    val q = TopK.tokensArray(input.toDF().toDF("tokens"), col("tokens"), wide)
      .writeStream.format("memory").queryName("global_topk_stream").outputMode("complete").start()
    try {
      input.addData(seqs.take(200))
      q.processAllAvailable()
      input.addData(seqs.drop(200))
      q.processAllAvailable()
      val batch = rows(TopK.tokensArray(seqs.toDF("tokens"), col("tokens"), wide))
      assert(batch.size == 10)
      assert(rows(spark.table("global_topk_stream")) == batch)
    } finally q.stop()
  }

  test("the driver fold posts its buffer count and time as SQL metrics") {
    val input = spark.read.parquet(tokenTable)
    val top   = TopK.tokensArray(input, col("tokens"), cfg)
    top.collect()
    val exec  = top.queryExecution.executedPlan.collectFirst { case e: GlobalTopKExec => e }.get
    assert(exec.metrics("buffersFolded").value == input.rdd.getNumPartitions)
    assert(exec.metrics("foldTime").value > 0L)
    // posted to the execution's metrics, where the SQL UI reads them
    val store = spark.sharedState.statusStore
    eventually(timeout(10.seconds)) {
      val posted = store.executionsList().flatMap { e =>
        val values = store.executionMetrics(e.executionId)
        exec.metrics.values.flatMap(m => values.get(m.id).map(m.name.get -> _))
      }.toMap
      assert(posted.keySet == exec.metrics.values.flatMap(_.name).toSet, posted)
    }
  }
}

object GlobalTopKSpec {
  /** `df`'s (item, count, fingerprint) rows with each `GlobalTopKExec` of its
    * executed plan copied at `fanIn` and run by `executeCollect`: at most
    * `fanIn` buffers per merge task and on the driver. Planned without AQE,
    * whose adaptive plan would hide the exec from the copy.
    */
  def rowsAtFanIn(df: DataFrame, fanIn: Int): Seq[(String, Long, Long)] = {
    val conf = df.sparkSession.conf
    val aqe  = conf.get("spark.sql.adaptive.enabled")
    conf.set("spark.sql.adaptive.enabled", "false")
    try df.select("*").queryExecution.executedPlan
      .transform { case e: GlobalTopKExec => e.copy(fanIn = fanIn) }
      .executeCollect().map(r => (r.getUTF8String(0).toString, r.getLong(1), r.getLong(2))).toSeq
    finally conf.set("spark.sql.adaptive.enabled", aqe)
  }
}
