package graft

import graft.core.SketchConfig
import graft.operators.TopK
import graft.sources.TokenTables
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Per-round benchmark: one JSON line on stdout.
  *
  * Measures (a) the driver-contract queries on SPARK_GRAFT_SF_DIR and (b) the
  * north-star token-update throughput: explode the deterministic synthetic
  * sequence table (input_hint shape) into token updates and aggregate the
  * global HeavyKeeper top-K, on the reference's benchmark geometries
  * (sketch_bench_test.go grid corners: K=10 d=3 w=1024 and K=100 d=4 w=8192).
  */
object Bench {

  /** Deterministic bench table: ~20M tokens (40k docs x ~512 mean). */
  final val BenchDocs   = 40000L
  final val BenchTokensDir = "data/bench_tokens"

  /** Headline table: ~82M tokens (160k docs). The published tokens_per_sec
    * is derived from the HEAVY geometry on THIS table (~5-6 s/rep, fixed
    * per-job floor <10%), because a sub-second job makes the headline swing
    * tens of percent between rounds on scheduler jitter alone (r3 51.3M vs
    * r4 33.6M tokens/s were the SAME code on a 0.4-0.6 s light job).
    */
  final val HeadlineDocs      = 160000L
  final val HeadlineTokensDir = "data/bench_tokens_headline"

  def ensureBenchTable(spark: SparkSession): (String, Long) = {
    val dir = TokenTables.ensure(spark, BenchTokensDir, BenchDocs, numPartitions = 64)
    val nTokens = spark.read.parquet(dir).agg(sum("n_tok")).head().getLong(0)
    (dir, nTokens)
  }

  def ensureHeadlineTable(spark: SparkSession): (String, Long) = {
    val dir = TokenTables.ensure(spark, HeadlineTokensDir, HeadlineDocs, numPartitions = 64)
    val nTokens = spark.read.parquet(dir).agg(sum("n_tok")).head().getLong(0)
    (dir, nTokens)
  }

  def time[A](f: => A): (A, Double) = {
    val t0 = System.nanoTime()
    val a  = f
    (a, (System.nanoTime() - t0) / 1e9)
  }

  /** Per-query baseline for the outlier guard: the latest BENCH_r*.json in
    * cwd (the previous round's artifact — the driver WRAPS the bench JSON
    * line escaped inside a "tail" string, so quotes are un-escaped before
    * matching), overlaid with BENCH_LOCAL_BASELINE.json — hand-maintained
    * isolated re-measures (tools/TimeQuery) covering queries newer than the
    * last round artifact. A source contributes only when its recorded
    * `"sf":"<dir>"` matches the dir being benchmarked (sf0.1 floors must not
    * trigger quiet-window re-runs on a legitimately-slower larger SF), and
    * only positive times (the -1.0 failure sentinel must not poison the
    * min). Per query the SMALLER of the two sources wins. Empty map if
    * nothing is readable; the guard then never triggers.
    */
  def readPrevBenchTimes(sfDir: String): Map[String, Double] = {
    def queriesOf(path: java.nio.file.Path): Map[String, Double] = try {
      val raw = new String(java.nio.file.Files.readAllBytes(path),
        java.nio.charset.StandardCharsets.UTF_8)
      val text = raw.replace("\\\"", "\"")
      val sfOf = """"sf"\s*:\s*"([^"]+)"""".r.findFirstMatchIn(text).map(_.group(1))
      if (!sfOf.contains(sfDir)) Map.empty
      else {
        val qsec = """"queries"\s*:\s*\{([^}]*)\}""".r
        val pair = """"([^"]+)"\s*:\s*(-?[0-9.eE+]+)""".r
        qsec.findFirstMatchIn(text).map { m =>
          pair.findAllMatchIn(m.group(1))
            .map(p => p.group(1) -> p.group(2).toDouble)
            .filter(_._2 > 0).toMap
        }.getOrElse(Map.empty)
      }
    } catch { case _: Throwable => Map.empty }
    val prev = try {
      val files = Option(new java.io.File(".").listFiles()).getOrElse(Array.empty)
        .filter(f => f.getName.matches("BENCH_r\\d+\\.json")).sortBy(_.getName)
      if (files.isEmpty) Map.empty[String, Double] else queriesOf(files.last.toPath)
    } catch { case _: Throwable => Map.empty[String, Double] }
    val local = queriesOf(java.nio.file.Paths.get("BENCH_LOCAL_BASELINE.json"))
    // BENCH_SELF.json: the previous run's complete self-persisted artifact
    // (the round artifact's stdout capture can be truncated — see main)
    val self = queriesOf(java.nio.file.Paths.get("BENCH_SELF.json"))
    (prev.keySet ++ local.keySet ++ self.keySet).map { k =>
      k -> Seq(prev.get(k), local.get(k), self.get(k)).flatten.min
    }.toMap
  }

  val cfgLight: SketchConfig = SketchConfig.withDefaults(10, width = 1024, depth = 3)
  val cfgHeavy: SketchConfig = SketchConfig.withDefaults(100, width = 8192, depth = 4)

  final val LightJob   = "tokens_topk_k10_w1024_d3"
  final val HeavyJob   = "tokens_topk_k100_w8192_d4"
  final val ExplodeJob = "tokens_topk_explode_path"
  final val ExactJob   = "tokens_exact_top100"

  /** The token jobs by published name, each the DataFrame it collects over
    * the token table in `dir`: the measured array-native top-K at both
    * geometries (scan -> per-partition sketch -> driver fold, no explode
    * stage), the explode-pipeline variant on the generic item path, and the
    * exact oracle. `main`, tools/TimeQuery and tools/DumpQueryPlans run
    * these.
    */
  val tokenJobs: Map[String, (SparkSession, String) => DataFrame] = Map(
    LightJob   -> ((s, dir) => TopK.tokensArray(s.read.parquet(dir), col("tokens"), cfgLight)),
    HeavyJob   -> ((s, dir) => TopK.tokensArray(s.read.parquet(dir), col("tokens"), cfgHeavy)),
    ExplodeJob -> ((s, dir) => TopK.aggregate(TokenTables.tokenUpdates(s.read.parquet(dir)),
      col("item"), col("weight"), cfgLight)),
    ExactJob   -> ((s, dir) => TopK.exact(TokenTables.tokenUpdates(s.read.parquet(dir)),
      col("item"), col("weight"), 100)))

  /** The jobs tools/TimeQuery and tools/DumpQueryPlans accept by name: each
    * SparkEntry query over the tables in the `sfDir` it is given, and each
    * token job over the bench table (built on first use).
    */
  def namedJobs(spark: SparkSession): Map[String, String => DataFrame] = {
    lazy val benchDir = ensureBenchTable(spark)._1
    tokenJobs.map { case (name, job) => name -> ((_: String) => job(spark, benchDir)) } ++
      SparkEntry.queries.map { case (name, query) => name -> ((sfDir: String) => query(spark, sfDir)) }
  }

  /** The bench session: `local[SPARK_GRAFT_CPUS]` (default 32) with the
    * confs every measured run uses; `main`, tools/TimeQuery and
    * tools/DumpQueryPlans build it.
    */
  def session(): SparkSession = {
    val cpus  = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.adaptive.enabled", "true")
      // the bench table is small but many-filed; size scan splits for full
      // parallelism (at 100 TB the defaults already yield thousands of splits)
      .config("spark.sql.files.maxPartitionBytes", "2m")
      .config("spark.sql.files.openCostInBytes", "262144")
      .config("spark.sql.session.timeZone", "UTC")
      // engine-recommended (see SessionTopK): keep many-small-groups
      // aggregations in object-hash mode
      .config("spark.sql.objectHashAggregate.sortBased.fallbackThreshold", "131072")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }

  def main(args: Array[String]): Unit = {
    // the artifacts below are machine-parsed (JSON line / regexed tables):
    // pin the locale so f"..%.3f" can never emit comma decimals
    java.util.Locale.setDefault(java.util.Locale.ROOT)
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus  = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val spark = session()
    // JVM/codegen/scan warmup so per-query timings measure OPERATORS, not
    // first-call costs (JIT of UDF/kernel code paths, codegen compilation,
    // parquet footers, broadcast init): run the full query surface once on
    // the tiny sf0.001 tables — cheap, and JIT warmth is a constant factor
    // every long-running production job has. Failure-tolerant like the query
    // loop: a broken table must not kill the error-reporting path.
    val warmDir0 = "/root/testdata/sf0.001"
    val warmDir  = if (new java.io.File(warmDir0).isDirectory) warmDir0 else sfDir
    SparkEntry.queries.foreach { case (_, fn) =>
      try fn(spark, warmDir).collect() catch { case _: Throwable => }
    }

    // --- driver-contract queries on the sf tables ---
    // min-of-3 per query, with reps INTERLEAVED ACROSS QUERIES: pass 1 runs
    // every query once, then pass 2, then pass 3. The sandbox host
    // intermittently loses most cycles to a co-tenant for minutes at a time
    // (identical cached jobs observed at 5-10x wall spread); back-to-back
    // reps of one query all land inside one such window (round 3 published
    // 8-40x artifacts on six queries that way), while interleaved passes put
    // ~the full surface's runtime between a query's reps, so one contended
    // window inflates ONE rep of many queries instead of ALL reps of a few.
    val errors    = scala.collection.mutable.ArrayBuffer.empty[String]
    val prevTimes = readPrevBenchTimes(sfDir)
    val names     = SparkEntry.queries.keys.toSeq.sorted
    def runOnce(name: String): Double = {
      val fn = SparkEntry.queries(name)
      val (ok, sec) = time {
        try { fn(spark, sfDir).collect(); true }
        catch { case e: Throwable => errors += s"$name: ${e.getClass.getSimpleName}"; false }
      }
      // a failed query must not masquerade as a fast success
      if (ok) sec else -1.0
    }
    // min over the SUCCESSFUL runs: a failed run lands in `errors` but never
    // erases a valid timing, and a pass-1 failure still gets retried in
    // passes 2-3 (transient failures must not freeze a query at -1.0)
    val best = scala.collection.mutable.Map.empty[String, Double]
    def record(name: String, s: Double): Unit =
      if (s >= 0) {
        // ignore a stored -1.0 sentinel: a pass-1 failure followed by a
        // pass-2 success must publish the success, not min(-1.0, s) = -1.0
        val b = best.getOrElse(name, Double.MaxValue)
        best(name) = if (b < 0) s else math.min(b, s)
      } else if (!best.contains(name) || best(name) < 0) best(name) = -1.0
    for (_ <- 1 to 3; name <- names) record(name, runOnce(name))
    // final re-measure pass: any query whose min is still >3x its known
    // floor (previous artifact / local isolated baseline) gets up to 2 more
    // attempts after a cool-down — the last defense against a contended
    // window spanning an entire pass. Queries resampled here are published
    // in the artifact ("resampled") so a reader knows which entries leaned
    // on the floor-guard rather than landing clean in three passes.
    val resampled = scala.collection.mutable.ArrayBuffer.empty[String]
    for (name <- names) {
      val b = best.getOrElse(name, -1.0)
      prevTimes.get(name).foreach { prev =>
        if (b >= 0 && prev > 0 && b > 3 * prev && b > 1.0) {
          resampled += name
          var extra = 0
          while (extra < 2 && best(name) > 3 * prev && best(name) > 1.0) {
            Thread.sleep(15000)
            record(name, runOnce(name)); extra += 1
          }
        }
      }
    }
    val queryTimes = names.map(n => n -> best.getOrElse(n, -1.0))

    // --- token throughput on the synthetic sequence table ---
    // failure-tolerant like the query loop: a broken bench table or one
    // failing token job must not abort main AFTER minutes of query
    // measurement — the JSON line (with the error recorded) must still print
    val (dir, nTokens) = try ensureBenchTable(spark) catch {
      case e: Throwable => errors += s"bench_table: ${e.getClass.getSimpleName}"; ("", 0L)
    }
    val (hdir, hTokens) = try ensureHeadlineTable(spark) catch {
      case e: Throwable => errors += s"headline_table: ${e.getClass.getSimpleName}"; ("", 0L)
    }
    def job(name: String, table: String): () => Unit =
      () => { tokenJobs(name)(spark, table).collect(); () }
    if (dir.nonEmpty)
      try job(LightJob, dir)() // warmup (JIT + page cache)
      catch { case _: Throwable => }
    // same interleave discipline as the query surface: one pass of all the
    // jobs, three times, min per job. Each job gates on ITS OWN table, so a
    // broken light table doesn't silently skip the headline job (or vice
    // versa) — the surviving jobs still publish.
    val tokenRuns: Seq[(String, () => Unit)] =
      (if (dir.nonEmpty) Seq(
        "light"   -> job(LightJob, dir),
        "heavy"   -> job(HeavyJob, dir),
        "explode" -> job(ExplodeJob, dir),
        "exact"   -> job(ExactJob, dir))
      else Nil) ++
      (if (hdir.nonEmpty) Seq("headline" -> job(HeavyJob, hdir)) else Nil)
    val tokenBest = scala.collection.mutable.Map.empty[String, Double]
      .withDefaultValue(Double.MaxValue)
    if (tokenRuns.nonEmpty)
      for (_ <- 1 to 3; (n, f) <- tokenRuns) {
        val (ok, sec) = time {
          try { f(); true }
          catch { case e: Throwable => errors += s"tokens_$n: ${e.getClass.getSimpleName}"; false }
        }
        if (ok) tokenBest(n) = math.min(tokenBest(n), sec)
      }
    def tokenSec(n: String): Double =
      if (tokenBest(n) == Double.MaxValue) -1.0 else tokenBest(n)
    val lightSec    = tokenSec("light")
    val heavySec    = tokenSec("heavy")
    val explodeSec  = tokenSec("explode")
    val exactSec    = tokenSec("exact")
    val headlineSec = tokenSec("headline")

    val all = queryTimes ++ Seq(
      LightJob                   -> lightSec,
      HeavyJob                   -> heavySec,
      ExplodeJob                 -> explodeSec,
      ExactJob                   -> exactSec,
      "tokens_topk_headline_82m" -> headlineSec
    )
    val qs    = all.map { case (k, v) => "\"" + k + "\":" + f"$v%.3f" }.mkString("{", ",", "}")
    val total = all.map(_._2).filter(_ >= 0).sum
    // headline throughput from the compute-dominated job (82M tokens, heavy
    // geometry, ~5-6 s); light-job rate kept for cross-round comparability.
    // `tokens` must always be tokens_per_sec's denominator — if the headline
    // table failed and the rate fell back to the light job, publishing
    // hTokens=0 beside a light-derived rate would make the artifact
    // internally inconsistent (errors[] already names the failed table).
    val (tokCount, tokPerSec) =
      if (headlineSec > 0) (hTokens, (hTokens / headlineSec).toLong)
      else if (lightSec > 0) (nTokens, (nTokens / lightSec).toLong)
      else (0L, -1L)
    val tokPerSecLight = if (lightSec > 0) (nTokens / lightSec).toLong else -1L
    val errJson = errors.map(e => "\"" + e + "\"").mkString("[", ",", "]")
    val resJson = resampled.map(e => "\"" + e + "\"").mkString("[", ",", "]")
    val line =
      f"""{"metric":"total","value":$total%.3f,"unit":"sec","queries":$qs%s,"sf":"$sfDir%s","tokens":$tokCount%d,"tokens_per_sec":$tokPerSec%d,"tokens_light":$nTokens%d,"tokens_per_sec_light":$tokPerSecLight%d,"cpus":$cpus%s,"resampled":$resJson%s,"errors":$errJson%s}"""
    println(line)
    // persist the artifact: the driver's stdout `tail` capture truncated
    // BENCH_r04 to the last ~25 of 36 entries — the committed record must
    // not depend on a capture window (overwritten per run, committed per
    // round; also a baseline source for the floor guard, see
    // readPrevBenchTimes)
    try java.nio.file.Files.write(java.nio.file.Paths.get("BENCH_SELF.json"),
      (line + "\n").getBytes(java.nio.charset.StandardCharsets.UTF_8))
    catch { case _: Throwable => () }
    spark.stop()
  }
}
