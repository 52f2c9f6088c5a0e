package graft.tools

import java.nio.file.{Files, Paths}

import graft.core.SketchConfig
import graft.operators.{Dedup, SessionTopK, Similarity}
import graft.sources.ScaleCorpus
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Scale rehearsal for the training-data operators: the driver correctness
  * tables cap at 500 docs / 2k vectors, so this bench times every
  * dedup/similarity/session operator on deterministic corpora 10-1000x that
  * size (ScaleCorpus: planted near-dup clusters, clustered embeddings with a
  * tight near-dup tier, gap-structured event streams) and on a 4-vs-16-core
  * pair at the middle size. Results append to BENCH.md.
  *
  * Usage: runMain graft.tools.TrainingScaleBench [quick] [only=op1,op2]
  *                                               [corepair=top]
  *   quick   — smallest sizes only, 1 pass (smoke test of the harness).
  *   only=.. — restrict to the named operators (targeted re-measure after a
  *             fix; results print but BENCH.md is not rewritten).
  *   corepair=top — run ONLY the 4-vs-16-core pair, at each operator's TOP
  *             ladder size (the mid sizes sit on the ~0.5-1 s fixed per-job
  *             floor, so their efficiency numbers measure the floor, not the
  *             operator); skips the data ladder and recall sections.
  */
object TrainingScaleBench {

  /** The core-pair bench session. The util and cpu/run figures recorded
    * next to this bench's eff numbers (BENCH.md, core pairs at the top
    * rung) were taken under these configs, so a re-measure that wants to
    * compare against them must use this session unchanged.
    */
  private def session(cores: Int): SparkSession = {
    val s = SparkSession.builder()
      .master(s"local[$cores]")
      .appName(s"graft-training-scale-$cores")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.files.maxPartitionBytes", "4m")
      .config("spark.sql.files.openCostInBytes", "262144")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.objectHashAggregate.sortBased.fallbackThreshold", "131072")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }

  private def fresh(): Unit = {
    SparkSession.clearActiveSession()
    SparkSession.clearDefaultSession()
  }

  // ---- operator runners: (label, size) -> executed row count ----

  final case class Op(name: String, sizes: Seq[Long], run: (SparkSession, Long) => Long)

  private def docsDir(s: SparkSession, n: Long): String =
    ScaleCorpus.ensure(s"data/scale_docs_$n",
      () => ScaleCorpus.documents(s, n))
  private def vecsDir(s: SparkSession, n: Long): String =
    ScaleCorpus.ensure(s"data/scale_vecs_$n",
      () => ScaleCorpus.embeddings(s, n))
  private def eventsDir(s: SparkSession, nUsers: Long): String =
    ScaleCorpus.ensure(s"data/scale_events_$nUsers",
      () => ScaleCorpus.events(s, nUsers))

  private def readDocs(s: SparkSession, n: Long): DataFrame =
    s.read.parquet(docsDir(s, n))
  private def readVecs(s: SparkSession, n: Long): DataFrame =
    s.read.parquet(vecsDir(s, n))

  private def queries(s: SparkSession, n: Long): DataFrame =
    readVecs(s, n).where(col("vec_id") < 100)

  val ops: Seq[Op] = Seq(
    Op("minhash_lsh+jaccard", Seq(5000L, 50000L, 500000L), (s, n) => {
      val docs  = readDocs(s, n)
      val cand  = Dedup.minhashLshPairs(docs, col("doc_id"), col("text"),
        shingleSize = 5, numHashes = 128, bands = 32, threshold = 0.7)
      Dedup.exactJaccard(cand.select("a", "b"), docs, shingleSize = 5)
        .where(col("jaccard") >= 0.8).count()
    }),
    Op("ngram_jaccard", Seq(5000L, 50000L, 500000L), (s, n) =>
      Dedup.ngramJaccardPairs(readDocs(s, n), col("doc_id"), col("text"),
        n = 3, threshold = 0.8).count()),
    Op("simhash", Seq(5000L, 50000L, 500000L), (s, n) =>
      Dedup.simhashPairs(readDocs(s, n), col("doc_id"), col("text"),
        maxDistance = 3).count()),
    Op("near_dup_grid", Seq(10000L, 30000L, 100000L), (s, n) =>
      Similarity.nearDupPairsBlocked(readVecs(s, n), col("vec_id"),
        col("embedding"), threshold = 0.95, nBlocks = 32).count()),
    Op("near_dup_lsh", Seq(10000L, 100000L, 1000000L), (s, n) =>
      Similarity.nearDupPairs(readVecs(s, n), col("vec_id"), col("embedding"),
        threshold = 0.95, nBits = 64, bands = 4).count()),
    Op("ann_lsh_top10", Seq(10000L, 100000L, 1000000L), (s, n) =>
      Similarity.lshCosineTopK(readVecs(s, n), col("vec_id"), col("embedding"),
        queries(s, n), col("vec_id"), col("embedding"), k = 10,
        nBits = 64, bands = 8).count()),
    Op("ann_ivf_top10", Seq(10000L, 100000L, 1000000L), (s, n) =>
      Similarity.ivfCosineTopK(readVecs(s, n), col("vec_id"), col("embedding"),
        queries(s, n), col("vec_id"), col("embedding"), k = 10,
        nCells = 256, nProbe = 16).count()),
    Op("ann_exact_top10", Seq(10000L, 100000L, 1000000L), (s, n) =>
      Similarity.cosineTopK(readVecs(s, n), col("vec_id"), col("embedding"),
        queries(s, n), col("vec_id"), col("embedding"), k = 10).count()),
    Op("sessions_gap", Seq(1000L, 10000L, 100000L), (s, nUsers) =>
      SessionTopK.aggregateGap(s.read.parquet(eventsDir(s, nUsers)),
        col("user_id"), col("ts"), gapSeconds = 3600L,
        col("event_type"), lit(1L),
        SketchConfig.withDefaults(3, width = 256, depth = 3)).count()),
    // scan BASELINES: parquet decode + page-cache bandwidth with a trivial
    // agg (xxhash64 touches every byte, ~free compute). These put a floor
    // under the operator rows' core-pair efficiency — on ONE box the scan
    // path (page cache, memory bus) is shared across cores, so a scan-bound
    // operator can't beat the scan's own 4->16 ratio no matter how well its
    // compute parallelizes; on a real cluster that resource scales WITH
    // executors (each brings its own disks/NIC/memory channels).
    Op("scan_vecs", Seq(10000L, 100000L, 1000000L), (s, n) =>
      readVecs(s, n).agg(count(lit(1)), expr("bit_xor(xxhash64(embedding))"))
        .head().getLong(0)),
    Op("scan_docs", Seq(5000L, 50000L, 500000L), (s, n) =>
      readDocs(s, n).agg(count(lit(1)), expr("bit_xor(xxhash64(text))"))
        .head().getLong(0)),
    Op("scan_events", Seq(1000L, 10000L, 100000L), (s, nUsers) =>
      s.read.parquet(eventsDir(s, nUsers))
        .agg(count(lit(1)), expr("bit_xor(xxhash64(user_id, ts, event_type))"))
        .head().getLong(0))
  )

  def main(args: Array[String]): Unit = {
    val quick   = args.contains("quick")
    val coreTop = args.contains("corepair=top")
    require(!(quick && coreTop),
      "quick and corepair=top are mutually exclusive (quick returns before the core pair runs)")
    val only   = args.find(_.startsWith("only="))
      .map(_.stripPrefix("only=").split(',').toSet)
    val ops    = this.ops.filter(op => only.forall(_.contains(op.name)))
    val passes = if (quick) 1 else 2

    // ---- corpora generation + data-size ladder at local[32] ----
    var spark = session(32)
    val sizesOf: Op => Seq[Long] = op =>
      if (quick) op.sizes.take(1)
      else if (coreTop) op.sizes.takeRight(1) // only the top size is timed
      else op.sizes
    // materialize every corpus first (generation excluded from timings)
    ops.foreach(op => sizesOf(op).foreach { n =>
      op.name match {
        case "minhash_lsh+jaccard" | "simhash" | "ngram_jaccard" | "scan_docs" =>
          docsDir(spark, n)
        case "sessions_gap" | "scan_events"                  => eventsDir(spark, n)
        case _                                               => vecsDir(spark, n)
      }
    })
    val best = scala.collection.mutable.Map.empty[(String, Long), (Long, Double)]
    if (!coreTop)
      for (pass <- 1 to passes; op <- ops; n <- sizesOf(op)) {
        val (rows, sec) = graft.Bench.time(op.run(spark, n))
        println(f"[scale] pass$pass ${op.name}%-22s n=$n%-8d rows=$rows%-8d $sec%7.2f s")
        val k = (op.name, n)
        if (!best.contains(k) || sec < best(k)._2) best(k) = (rows, sec)
      }

    // ANN recall vs exact at the mid size (untimed; correctness context for
    // the approximate rows above) — skipped when a targeted only= run does
    // not include an ANN operator (it would generate/scan the embedding
    // corpus for numbers the skipped report never shows)
    val wantRecall = !coreTop && ops.exists(_.name.startsWith("ann_"))
    val midN = if (quick) 10000L else 100000L
    def pairs(df: DataFrame) = df.select("query_id", "neighbor_id")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    lazy val exact = pairs(Similarity.cosineTopK(readVecs(spark, midN), col("vec_id"),
      col("embedding"), queries(spark, midN), col("vec_id"), col("embedding"), 10))
    lazy val lshR = pairs(Similarity.lshCosineTopK(readVecs(spark, midN), col("vec_id"),
      col("embedding"), queries(spark, midN), col("vec_id"), col("embedding"), 10,
      nBits = 64, bands = 8)).intersect(exact).size.toDouble / exact.size
    lazy val ivfR = pairs(Similarity.ivfCosineTopK(readVecs(spark, midN), col("vec_id"),
      col("embedding"), queries(spark, midN), col("vec_id"), col("embedding"), 10,
      nCells = 256, nProbe = 16)).intersect(exact).size.toDouble / exact.size
    if (wantRecall) { val _ = (lshR, ivfR) } // force while the session is live
    spark.stop(); fresh()

    if (quick) {
      if (wantRecall) println(f"[scale] quick done; lsh recall=$lshR%.3f ivf recall=$ivfR%.3f")
      else println("[scale] quick done")
      return
    }

    // ---- 4-vs-16-core pair (separate sessions, levels interleaved,
    // min-of-2) at the MIDDLE size by default, at the TOP size with
    // corepair=top (compute-dominated; the mid sizes ride the per-job floor)
    // one definition of "the pair size" shared with materialization above
    // (sizesOf) and the report below — an index literal would silently
    // desync if an op ever grows a 4th ladder rung
    def pairSize(op: Op): Long =
      if (coreTop) op.sizes.last else op.sizes(math.min(1, op.sizes.length - 1))
    val coreBest = scala.collection.mutable.Map.empty[(String, Int), Double]
    for (rep <- 1 to 2; cores <- Seq(4, 16)) {
      val s = session(cores)
      for (op <- ops) {
        val n = pairSize(op)
        if (rep == 1) op.run(s, n) // warmup once per session shape (both core levels)
        val (_, sec) = graft.Bench.time(op.run(s, n))
        println(f"[scale] cores=$cores%-2d rep$rep ${op.name}%-22s $sec%7.2f s")
        val k = (op.name, cores)
        coreBest(k) = math.min(coreBest.getOrElse(k, Double.MaxValue), sec)
      }
      s.stop(); fresh()
    }

    // ---- report ----
    val md = new StringBuilder
    if (!coreTop) {
      md.append("\n## Training-operator scale rehearsal (ScaleCorpus, min-of-2 interleaved)\n\n")
      md.append("Deterministic corpora with planted near-duplicates (docs: 10-doc\n")
      md.append("clusters with 2 perturbed copies; embeddings: 4096 clusters with a\n")
      md.append("tight cos>0.999 tier; events: 100/user, 1-90 min gaps). Times are\n")
      md.append("full-pipeline walls at local[32] including scan; rows = operator\n")
      md.append("output rows at that size.\n\n")
      md.append("| operator | size ladder | wall s | output rows |\n|---|---|---|---|\n")
      ops.foreach { op =>
        val walls = op.sizes.map(n => f"${best((op.name, n))._2}%.2f").mkString(" / ")
        val rows  = op.sizes.map(n => best((op.name, n))._1.toString).mkString(" / ")
        md.append(s"| ${op.name} | ${op.sizes.mkString(" / ")} | $walls | $rows |\n")
      }
    } else
      md.append("\n## Training-operator core pairs at TOP ladder sizes (corepair=top)\n")
    if (wantRecall)
      md.append(f"\nANN recall vs exact at n=100k, k=10, 100 queries: LSH $lshR%.3f, IVF $ivfR%.3f.\n")
    val sizeCol = if (coreTop) "top size" else "mid size"
    md.append(s"\n| operator | $sizeCol | 4-core s | 16-core s | eff(4->16) |\n|---|---|---|---|---|\n")
    ops.foreach { op =>
      val n  = pairSize(op)
      val t4 = coreBest((op.name, 4)); val t16 = coreBest((op.name, 16))
      md.append(f"| ${op.name} | $n%d | $t4%.2f | $t16%.2f | ${t4 / t16 / 4.0}%.2f |\n")
    }
    println(md.toString) // print FIRST: measurements survive a write failure
    if (only.isEmpty) {
      val bench = Paths.get("BENCH.md")
      val prior = if (Files.exists(bench)) Files.readString(bench) else ""
      Files.writeString(bench, prior + md.toString)
    }
  }
}
