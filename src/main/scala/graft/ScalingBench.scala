package graft

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.SparkSession

/** Two-cluster-size scaling evidence (north rule: throughput scaling
  * efficiency >= 0.8 from N to 4N executors; sandbox stand-in = the identical
  * job at two local[N] parallelism levels on identical input).
  *
  * Measures the token top-K job at local[2] / local[8] / local[32] in one JVM
  * (sequential sessions), min-of-3 per point (the sandbox host carries
  * background load; min approximates the uncontended cost), and writes the
  * efficiency table to BENCH.md. The N->4N pair under the VM's full control
  * is 2->8; 8->32 is also reported with the caveat that the host
  * oversubscribes vCPUs (32 threads do not get 4x the cycles of 8).
  */
object ScalingBench {

  private def session(cores: Int): SparkSession = {
    val s = SparkSession.builder()
      .master(s"local[$cores]")
      .appName(s"graft-scaling-$cores")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.adaptive.enabled", "true")
      // the bench table is small but many-filed; size scan splits for full
      // parallelism (at 100 TB the defaults already yield thousands of splits)
      .config("spark.sql.files.maxPartitionBytes", "2m")
      .config("spark.sql.files.openCostInBytes", "262144")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }

  private def fresh(): Unit = {
    SparkSession.clearActiveSession()
    SparkSession.clearDefaultSession()
  }

  private case class Point(cores: Int, lightSec: Double, heavySec: Double)

  def main(args: Array[String]): Unit = {
    // the artifacts below are machine-parsed (JSON line / regexed tables):
    // pin the locale so f"..%.3f" can never emit comma decimals
    java.util.Locale.setDefault(java.util.Locale.ROOT)
    val coreLevels = if (args.nonEmpty) args.map(_.toInt).toSeq.distinct.sorted
                     else Seq(4, 16)
    // ~820M tokens: measurements must sit where compute dominates the
    // ~0.3-0.5 s fixed per-job cost (scheduling + final merge) — the regime
    // the north rule describes (at 100 TB, fixed costs vanish entirely)
    val numDocs = sys.env.getOrElse("SPARK_GRAFT_SCALING_DOCS", "1600000").toLong

    var spark = session(coreLevels.max)
    val dir = graft.sources.TokenTables.ensure(spark, s"data/scaling_tokens_$numDocs",
      numDocs = numDocs, numPartitions = 256)
    val nTokens = spark.read.parquet(dir)
      .agg(org.apache.spark.sql.functions.sum("n_tok")).head().getLong(0)
    spark.stop(); fresh()

    // interleave the core levels across repetitions (A/B/A/B/A/B) so host
    // load drift hits every level equally; min-of-3 approximates the
    // uncontended cost on the shared sandbox host
    val reps = 3
    val samples = scala.collection.mutable.Map.empty[Int, List[(Double, Double)]]
      .withDefaultValue(Nil)
    (1 to reps).foreach { rep =>
      coreLevels.foreach { cores =>
        val s = session(cores)
        def run(job: String) = Bench.tokenJobs(job)(s, dir).collect()
        if (rep == 1) run(Bench.LightJob) // warmup (JIT/page cache)
        val light = Bench.time(run(Bench.LightJob))._2
        val heavy = Bench.time(run(Bench.HeavyJob))._2
        samples(cores) = (light, heavy) :: samples(cores)
        println(f"[scaling] rep$rep local[$cores%d] light=$light%.2f heavy=$heavy%.2f")
        s.stop(); fresh()
      }
    }
    val points = coreLevels.map { cores =>
      Point(cores, samples(cores).map(_._1).min, samples(cores).map(_._2).min)
    }

    def thr(sec: Double): Long = (nTokens / sec).toLong
    def eff(lo: Point, hi: Point, f: Point => Double): Double =
      (nTokens / f(hi)) / (nTokens / f(lo)) / (hi.cores.toDouble / lo.cores)

    val rows = points.map { p =>
      f"| local[${p.cores}%d] | ${p.lightSec}%.2f | ${thr(p.lightSec)}%d | ${p.heavySec}%.2f | ${thr(p.heavySec)}%d |"
    }.mkString("\n")

    // every N -> 4N pair in the ladder (the north rule's cluster-size ratio)
    val pairs = (for {
      lo <- points; hi <- points if hi.cores == lo.cores * 4
    } yield f"| ${lo.cores}%d -> ${hi.cores}%d | ${eff(lo, hi, _.lightSec)}%.2f | ${eff(lo, hi, _.heavySec)}%.2f |")
      .mkString("\n")

    val perCore = thr(points.head.lightSec) / points.head.cores

    val md =
      f"""# BENCH — token-update throughput and scaling evidence
         |
         |Input: deterministic synthetic sequence table (the north-rule
         |input_hint shape), $nTokens%d tokens in $numDocs%d docs (Zipf-ish token
         |ids over a 50k vocabulary, seed 42). Job: parquet scan -> array-native
         |HeavyKeeper partial aggregation (TokensTopKAgg) -> sketch-union merge
         |-> global top-K. Timings are min-of-3 (shared sandbox host; min
         |approximates uncontended cost).
         |
         |## Throughput per parallelism level
         |
         || session | light sec (K=10 w=1024 d=3) | tokens/s | heavy sec (K=100 w=8192 d=4) | tokens/s |
         ||---|---|---|---|---|
         |ROWS_TABLE
         |
         |## Scaling efficiency (throughput ratio / core ratio)
         |
         || cores N -> M | light eff | heavy eff |
         ||---|---|---|
         |PAIRS_TABLE
         |
         |North-rule bar: >= 0.8 from N to 4N (measured levels:
         |${coreLevels.mkString(", ")}%s). Levels at or above the box's 16
         |physical cores share SMT siblings and host-oversubscribed vCPUs, so
         |their wall-clock efficiency under-reports the engine's scalability.
         |The plan itself is embarrassingly parallel: per-partition sketches
         |with a fixed-size shuffle (O(partitions x d x w) bytes, independent
         |of row count) and a single O(partitions) union-merge reduce.
         |
         |Reference single-core baseline (BASELINE.md): ~2.1-2.8M tokens/s/core
         |(plain Add/Incr, Apple M1 Pro). This engine's per-core rate at
         |local[${points.head.cores}%d]: ~$perCore%d tokens/s/core on the sandbox vCPUs.
         |""".stripMargin

    // table rows substituted AFTER stripMargin (their leading table pipes
    // would otherwise be eaten as margin markers)
    val mdFilled = md.replace("ROWS_TABLE", rows).replace("PAIRS_TABLE", pairs)
    // raw output lands in BENCH_SCALING.md; BENCH.md carries the curated
    // analysis (methodology + environment caveats) and takes these tables in
    Files.writeString(Paths.get("BENCH_SCALING.md"), mdFilled)
    println(mdFilled)
  }
}
