package graft.tools

import java.io.{ByteArrayOutputStream, PrintStream}
import java.nio.file.{Files, Paths}

import graft.core.SketchConfig
import graft.operators.{Dedup, Similarity, TopK}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Dumps the physical plans of the engine's flagship operators to PLANS.md
  * with commentary — the evidence that each operator compiles to the plan
  * shape the 100 TB design calls for.
  */
object DumpPlans {
  private val out = new StringBuilder

  private def section(title: String, commentary: String, df: DataFrame): Unit = {
    df.collect() // execute first: the FINAL adaptive plan shows AQE's actual
                 // join choices and ReusedExchange substitutions
    val bos = new ByteArrayOutputStream()
    Console.withOut(new PrintStream(bos)) { df.explain("formatted") }
    // keep it readable: the tree only, not the per-node column footnotes
    val tree = bos.toString.split("\n\n").headOption.getOrElse(bos.toString)
    out ++= s"## $title\n\n$commentary\n\n```\n$tree\n```\n\n"
  }

  def main(args: Array[String]): Unit = {
    val spark = SparkSession.builder().master("local[4]")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.ui.enabled", "false").getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")

    val sf   = "/root/testdata/sf0.01"
    val ev   = spark.read.parquet(s"$sf/events.parquet")
    val docs = spark.read.parquet(s"$sf/documents.parquet")
    val emb  = spark.read.parquet(s"$sf/embeddings.parquet")
    val toks = graft.sources.TokenTables.fromDocuments(docs)

    out ++= "# PLANS — physical plans of the flagship operators\n\n" +
      "Generated by `runMain graft.tools.DumpPlans` on the sf0.01 tables.\n" +
      "What to look for in each plan is called out per section.\n\n"

    section("Token top-K (array-native, one map stage + driver fold)",
      """The north-star job. One scan; `ReadSchema` prunes to the `tokens`
        |column only; `GlobalTopKExec` runs `TokensTopKAgg`'s buffer per
        |partition in the scan's own stage and serializes it (a fixed-size
        |TKP2 sketch), and the driver folds the buffers with the aggregate's
        |deserialize/merge and emits its rows in (count desc, item asc)
        |order: no exchange, no sort, no explode. The plan is Spark's own
        |ungrouped aggregate inlined into rows, which `GlobalTopKStrategy`
        |plans as this one exec; SQL `SELECT topk_tokens(...)` with no
        |`GROUP BY` plans the same exec. Past 64 partitions merge tasks fold
        |64 buffers each before the driver does, so the driver never holds
        |more than 64 (the merge levels are the exec's own shuffles and do
        |not show in the SQL plan; the one exchange below is the
        |`repartition(32)` of the input).""".stripMargin,
      TopK.tokensArray(toks.repartition(32), col("tokens"),
        SketchConfig.withDefaults(10, width = 1024, depth = 3)))

    section("Salted per-group top-K (two-level skew path)",
      """Level 1 groups by (group, salt = pmod(xxhash64(item), 16)) and ships
        |`ItemsTopKAgg`'s serialized buffer per (group, salt) (`BufferBytesAgg`:
        |an exact item -> count map up to the cutoff, a sketch past it); level 2
        |merges a group's 16 buffers with the same aggregate (`MergeBuffersAgg`).""".stripMargin,
      TopK.aggregateBySalted(ev, Seq(lit(0).as("g")), col("event_type"), lit(1L),
        SketchConfig.withDefaults(5, width = 1024, depth = 3), saltFanout = 16))

    section("Per-group (tumbling-window) top-K",
      """groupBy(day) + the items aggregate: partial ObjectHashAggregate per
        |(partition × day) before the exchange — hot days are absorbed
        |map-side; the shuffle key is the window, never the item.""".stripMargin,
      TopK.aggregateBy(
        ev.withColumn("day", date_trunc("DAY", col("ts"))),
        Seq(col("day")), col("event_type"), lit(1L),
        SketchConfig.withDefaults(3, width = 1024, depth = 3)))

    section("Sliding window (per-tick buffer ring, batch)",
      """Stage 1 aggregates one `ItemsTopKAgg` buffer per tick and ships it
        |serialized (`BufferBytesAgg`: an exact map up to the cutoff, a sketch
        |past it); stage 2 EXPLODES each tick's contribution range (linear
        |N-fold duplication of bounded buffers — NO range join, NO
        |BroadcastNestedLoopJoin), left-semi joins the KNOWN tick universe
        |(a literal local table — ticks are time-derived, so no second scan
        |of the input; parquet footer min/max gives the range), and
        |equality-groups on out_tick into the aggregate's own merge
        |(`MergeBuffersAgg`), through an explicit out_tick repartition that
        |pins the merge stage's width against AQE's byte-based coalescing
        |(round 6; replaces the groupBy's own exchange). The raw data is
        |scanned exactly once — the plan's only scan node.""".stripMargin,
      graft.operators.SlidingTopK.perTick(
        ev.withColumn("tick", datediff(to_date(col("ts")), lit("2024-01-01"))),
        col("tick"), col("event_type"), lit(1L), 7,
        SketchConfig.withDefaults(5, width = 1024, depth = 3), 3,
        knownTicks = Some(0L to 29L)))

    section("Session top-K (gap sessionization + item aggregate)",
      """ONE exchange on the session key feeds the window sort (lag + running
        |sum number the sessions); the (key, sess) aggregation REUSES that
        |partitioning (HashPartitioning(key) satisfies
        |ClusteredDistribution(key, sess)) — no second exchange before the
        |final aggregate. The exchange is an EXPLICIT key repartition with a
        |pinned count (round 6): the stage it feeds is compute-dense per
        |byte, and AQE's byte-based coalescing otherwise serializes it into
        |one task on slim inputs. The aggregate is ItemsTopKAgg, whose
        |AdaptiveTopK buffer keeps exact tiny maps for small sessions and a
        |sketch only past the cutoff.""".stripMargin,
      graft.operators.SessionTopK.aggregateGap(ev, col("user_id").cast("long"),
        col("ts"), 3600L, col("event_type"), lit(1L),
        SketchConfig.withDefaults(2, width = 256, depth = 3)))

    section("Exact embedding near-dups (block-matrix grid self-join)",
      """The all-pairs cosine threshold join as grid enumeration: rows hash
        |into blocks, each block aggregates its vectors into ONE array row,
        |the tiny block-pair grid joins by EQUALITY (broadcast grid; no
        |BroadcastNestedLoopJoin anywhere), and each cell row is scored by a
        |dense per-cell kernel (tight all-pairs loop, VecDot-identical
        |arithmetic) — the n²/2 candidate pairs never materialize as rows.
        |The Exchange directly above the scoring Generate is the cell-keyed
        |score repartition (one cell row ≈ one task): the score stage is
        |compute-dense per byte, so it must NOT inherit the join's
        |byte-sized, AQE-coalesced partitioning (measured: util 0.48 -> 0.92
        |at 16 cores, BENCH.md core-pair section).""".stripMargin,
      Similarity.nearDupPairsBlocked(emb, col("vec_id"), col("embedding"),
        threshold = 0.42, nBlocks = 16))

    section("LSH embedding near-dups (banded signatures + exact rerank)",
      """Hyperplane signatures computed once per row; candidates come from an
        |equality self-join on (band, block); similarity + threshold run per
        |banded candidate and the final distinct dedups slim (a, b, sim) rows
        |only — vectors never cross the distinct's exchange.""".stripMargin,
      Similarity.nearDupPairs(emb, col("vec_id"), col("embedding"),
        threshold = 0.5, nBits = 64, bands = 16))

    section("Exact dedup",
      """Groups on xxhash64(text) — an 8-byte shuffle key regardless of
        |document size; min(doc_id) and count are partial-aggregated
        |map-side.""".stripMargin,
      Dedup.exactSurvivors(docs, col("doc_id"), col("text")))

    section("MinHash LSH candidate pairs",
      """The band self-join rows are SLIM (doc_id, band, band_hash) — the
        |128-slot signature does not ride the band explosion (that shape was
        |a measured 20 GB sort spill at 500k docs, BENCH.md). Candidate pairs
        |dedup first — through an explicit (a, b)-keyed repartition that
        |replaces the distinct's exchange while pinning its width (round 6)
        |— then two hash joins bring the signatures back once per pair for
        |`est_jaccard`; candidate generation never goes all-pairs. With
        |`sizeFilter` set (the driver query passes its downstream verify
        |threshold) band collisions whose shingle counts cannot reach that
        |Jaccard are pruned inside the join, before the dedup exchange.
        |Empty-shingle docs are excluded by a RAW-column predicate (pushed
        |to the scan), not size(sig) — a UDF-column filter re-evaluated the
        |whole signature pipeline inside the pushed Filter.""".stripMargin,
      Dedup.minhashLshPairs(docs.select(col("doc_id").cast("long").as("doc_id"), col("text")),
        col("doc_id"), col("text"), bands = 32, threshold = 0.5,
        sizeFilter = Some(0.8)))

    section("Exact word-n-gram Jaccard (prefix filter)",
      """EXACT all-pairs Jaccard with recall 1 — no sketch in the candidate
        |path. Grams get a global (document-frequency, gram) order from one
        |8-byte-key aggregation; each doc indexes only its p(x) =
        ||x| - ceil(t·|x|) + 1 rarest grams (prefix filtering), so
        |high-frequency "stop grams" — the quadratic blowup of a naive
        |inverted-index join — only join where they are locally rare.
        |df=1 pruning keeps singleton grams out of the ranked set entirely
        |(the df >= 2 Filter under the join): only the shared-gram subset
        |reaches the Window sort — measured 3.0 GB of sort-spill without it
        |at 500k docs. The prefix self-join is one exchange reused by both
        |sides (ReusedExchange) and its predicate carries the WWW'07 LENGTH
        |filter (min sz >= t·max sz) and POSITIONAL filter (remaining-rank
        |overlap bound vs ceil(t/(1+t)·(sx+sy))) — both lossless, round 6 —
        |so candidates drop ~9x before the dedup; slim (a, b) pairs dedup
        |BEFORE the full-set verify joins the candidate-narrowed gram
        |arrays back, spread over an explicit a-keyed repartition.""".stripMargin,
      Dedup.ngramJaccardPairs(docs, col("doc_id"), col("text"),
        n = 3, threshold = 0.8))

    section("Brute-force cosine top-K (query side broadcast)",
      """The query set is broadcast (BroadcastNestedLoopJoin/BroadcastExchange);
        |the corpus is scanned once, scored in-place, and per-query top-K is a
        |window over the small scored side. The corpus never shuffles.""".stripMargin,
      Similarity.cosineTopK(emb, col("vec_id"), col("embedding"),
        emb.where(col("vec_id") < 5), col("vec_id"), col("embedding"), 10))

    Files.writeString(Paths.get("PLANS.md"), out.toString)
    println(s"PLANS.md written (${out.length} chars)")
    spark.stop()
  }
}
