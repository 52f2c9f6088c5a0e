package graft.tools

/** Isolated re-measure of named SparkEntry queries and Bench token jobs in
  * Bench's session — the tool to run before believing (or disbelieving) any
  * BENCH_rN.json number:
  * `runMain graft.tools.TimeQuery <sfDir> <reps> <name> [name ...]`.
  */
object TimeQuery {
  def main(args: Array[String]): Unit = {
    require(args.length >= 3, "usage: TimeQuery <sfDir> <reps> <name> [name ...]")
    val sfDir = args(0)
    val reps  = args(1).toInt
    val names = args.drop(2).toSeq
    val spark = graft.Bench.session()
    // the four tokens_* bench jobs run on the synthetic bench table, so the
    // full BENCH_LOCAL_BASELINE key set regenerates from this one tool
    val jobs  = graft.Bench.namedJobs(spark)
    val runs: Seq[(String, () => Unit)] = names.map { name =>
      val df = jobs.getOrElse(name,
        sys.error(s"unknown query '$name'; known: ${jobs.keys.toSeq.sorted.mkString(", ")}"))
      name -> (() => { df(sfDir).collect(); () })
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
