package graft.tools

import org.apache.spark.sql.SparkSession

/** Isolated re-measure of named SparkEntry queries with Bench's exact confs —
  * the tool to run before believing (or disbelieving) any BENCH_rN.json
  * number: `runMain graft.tools.TimeQuery <sfDir> <reps> <name> [name ...]`.
  */
object TimeQuery {
  def main(args: Array[String]): Unit = {
    require(args.length >= 3, "usage: TimeQuery <sfDir> <reps> <name> [name ...]")
    val sfDir = args(0)
    val reps  = args(1).toInt
    val names = args.drop(2).toSeq
    val cpus  = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.files.maxPartitionBytes", "2m")
      .config("spark.sql.files.openCostInBytes", "262144")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.objectHashAggregate.sortBased.fallbackThreshold", "131072")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    // the four tokens_* bench jobs run on the synthetic bench table, so the
    // full BENCH_LOCAL_BASELINE key set regenerates from this one tool
    lazy val benchDir = graft.Bench.ensureBenchTable(spark)._1
    val tokenJobs: Map[String, () => Unit] = Map(
      "tokens_topk_k10_w1024_d3"  -> (() => { graft.Bench.tokenTopK(spark, benchDir, graft.Bench.cfgLight); () }),
      "tokens_topk_k100_w8192_d4" -> (() => { graft.Bench.tokenTopK(spark, benchDir, graft.Bench.cfgHeavy); () }),
      "tokens_topk_explode_path"  -> (() => { graft.Bench.tokenTopKExplode(spark, benchDir, graft.Bench.cfgLight); () }),
      "tokens_exact_top100"       -> (() => { graft.Bench.tokenExact(spark, benchDir, 100); () }))
    val runs: Seq[(String, () => Unit)] = names.map { name =>
      name -> (tokenJobs.get(name) match {
        case Some(job) => job
        case None =>
          val fn = graft.SparkEntry.queries.getOrElse(name,
            sys.error(s"unknown query '$name'; known: ${(graft.SparkEntry.queries.keys ++ tokenJobs.keys).toSeq.sorted.mkString(", ")}"))
          () => { fn(spark, sfDir).collect(); () }
      })
    }
    // warm every query up first (JIT/codegen/footers) on the tables it is
    // timed on, then time with reps INTERLEAVED ACROSS QUERIES — back-to-back
    // reps of one query all land inside one co-tenant contention window (the
    // round-3 bench failure mode), and this tool's minima become the
    // floor-guard baseline, where an inflated floor silently disarms the guard
    runs.foreach { case (_, run) => run() }
    // only the min is reported: the first timed reps still carry a JIT
    // slope (1.27-1.45x the JVM's min at sf0.1), so the min is the floor
    val best = scala.collection.mutable.Map.empty[String, Double]
      .withDefaultValue(Double.PositiveInfinity)
    for (_ <- 1 to reps; (name, run) <- runs)
      best(name) = best(name) min graft.Bench.time(run())._2
    runs.foreach { case (name, _) =>
      println(f"[timequery] $name%-28s min=${best(name)}%.2f s  reps=$reps")
    }
    spark.stop()
  }
}
