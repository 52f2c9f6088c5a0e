package graft.spark

import scala.collection.mutable

import graft.core.SketchConfig
import graft.operators.TopK
import graft.plans.GlobalTopKExec
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobEnd, SparkListenerJobStart, SparkListenerStageCompleted}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.joins.BroadcastHashJoinExec
import org.apache.spark.sql.functions._
import org.scalatest.concurrent.Eventually
import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.time.SpanSugar._

/** The batch global top-K plan (`graft.plans.GlobalTopK`): one map stage
  * over the input and a driver-side fold, whatever reads its rows.
  */
class GlobalTopKSpec extends AnyFunSuite with Eventually {
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
    val eight  = docs(3, 4000).toDF("doc_id", "tokens").repartition(8)
    val byFold = rows(TopK.globalTopK(eight, TopK.tokensAgg(col("tokens"), cfg, 4)))
    var forced = Seq.empty[(String, Long, Long)]
    val forcedStages = stagesOf {
      forced = rows(TopK.globalTopK(eight, TopK.tokensAgg(col("tokens"), cfg, 4), fanIn = 2))
    }
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

  test("the node reports at most emitK rows, so a semi-join against it broadcasts") {
    // a parallelize input reports the unknown-size sentinel, which a plan
    // that multiplied its children's sizes would pass up to the join
    val events = spark.sparkContext.parallelize(
      (0 until 20000).map(i => (s"e${i % 97}", 1L)), 8).toDF("item", "weight")
    val top = TopK.aggregate(events, col("item"), col("weight"), SketchConfig.withDefaults(3, width = 1024, depth = 3))
    val stats = top.queryExecution.optimizedPlan.stats
    assert(stats.rowCount.contains(BigInt(3)) && stats.sizeInBytes < BigInt(1024), stats)
    val semi = events.select("item").distinct().join(top.select("item"), Seq("item"), "left_semi")
    assert(semi.queryExecution.sparkPlan.collectFirst { case j: BroadcastHashJoinExec => j }.nonEmpty,
      semi.queryExecution.sparkPlan)
    assert(semi.collect().map(_.getString(0)).toSet == rows(top).map(_._1).toSet)
  }

  test("rows equal the Catalyst aggregate's on seeded inputs") {
    graft.functions.SqlFunctions.register(spark)
    // 1024x3 collides on ~2000 distinct tokens: both plans merge the same
    // per-partition buffers, so the folds agree beyond the exact case
    val seqs = spark.sparkContext.parallelize(docs(5, 3000), 8).toDF("doc_id", "tokens")
    val viaSql = seqs.agg(expr("topk_tokens(tokens, 20, 1024, 3)").as("t"))
      .select(explode(col("t")).as("e")).select("e.item", "e.count", "e.fingerprint")
    assert(rows(TopK.tokensArray(seqs, col("tokens"), cfg)) == rows(viaSql))

    val rng   = new java.util.Random(9)
    val items = spark.sparkContext.parallelize((0 until 20000).map { _ =>
      val u = rng.nextDouble(); (s"w${(300 * u * u).toInt}", 1L + rng.nextInt(3))
    }, 8).toDF("item", "weight")
    val viaItems = items.agg(expr("topk_items(item, weight, 10, 1024, 3)").as("t"))
      .select(explode(col("t")).as("e")).select("e.item", "e.count", "e.fingerprint")
    assert(rows(TopK.aggregate(items, col("item"), col("weight"),
      SketchConfig.withDefaults(10, width = 1024, depth = 3))) == rows(viaItems))
    assert(TopK.aggregate(items, col("item"), col("weight"), cfg).queryExecution.executedPlan
      .collectFirst { case e: GlobalTopKExec => e }.nonEmpty)
  }
}
