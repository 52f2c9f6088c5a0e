package graft

import graft.core.SketchConfig
import graft.operators.{SlidingTopK, TopK}
import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger

/** Driver contract (SURVEY.md §7): the registry of queries, each with its
  * DuckDB oracle SQL.
  *
  * Every query here returns columns that match its oracle SQL
  * name-for-name (the compare sorts columns by name before hashing).
  * The sketch queries use collision-free geometries at the verification SF so
  * the HeavyKeeper estimates are exact and hash-match the DuckDB oracle;
  * statistical behavior under collisions is covered by the ScalaTest suite.
  */
object SparkEntry {

  /** `dir` with the glob characters \[]{}*? escaped: Spark globs every
    * read path holding one, so `sf[1]` would otherwise match `sf1`, not
    * itself.
    */
  private def globEscaped(dir: String): String =
    dir.flatMap(c => if ("""\[]{}*?""".contains(c)) s"\\$c" else s"$c")

  /** Batch read of the `<name>.parquet` table in `dir`, taken literally. */
  private def table(s: SparkSession, dir: String, name: String): DataFrame =
    s.read.parquet(s"${globEscaped(dir)}/$name.parquet")

  private def events(s: SparkSession, dir: String)    = table(s, dir, "events")
  private def documents(s: SparkSession, dir: String) = table(s, dir, "documents")
  // ASCII-only docs (chars == bytes) — the multimodal oracle parity filter;
  // see the comment at the multimodal query block
  private def asciiDocuments(s: SparkSession, dir: String) =
    documents(s, dir).where(length(col("text")) === octet_length(col("text")))
  private def lineitem(s: SparkSession, dir: String)  = table(s, dir, "lineitem")
  private def embeddings(s: SparkSession, dir: String) = table(s, dir, "embeddings")

  // Collision-free geometry at verification scale: width >> distinct items.
  private val cfgWide  = SketchConfig.withDefaults(k = 5, width = 1024, depth = 3)
  private val cfgUsers = SketchConfig.withDefaults(k = 20, width = 4096, depth = 3)

  /** Depth-first recursive delete, tolerant of CONCURRENT REMOVAL only:
    * another JVM deleting entries mid-traversal surfaces as
    * NoSuchFileException from the walk's directory reads (wrapped in
    * UncheckedIOException) or from the deletes — and "already gone" is this
    * method's goal, so those are swallowed. Every OTHER IO failure
    * (AccessDenied, open handle, non-empty dir left by a partial race)
    * PROPAGATES: Verify's stale-output guard depends on delete failures
    * being visible (a silent failure there masks a failed query behind the
    * previous run's plausible parquet).
    */
  private[graft] def deleteRecursively(p: java.nio.file.Path): Unit = {
    def isConcurrentRemoval(e: Throwable): Boolean = e match {
      case _: java.nio.file.NoSuchFileException => true
      case u: java.io.UncheckedIOException =>
        u.getCause.isInstanceOf[java.nio.file.NoSuchFileException]
      case _ => false
    }
    try {
      val walk = java.nio.file.Files.walk(p)
      try walk.sorted(java.util.Comparator.reverseOrder())
        .forEach(f =>
          try { java.nio.file.Files.deleteIfExists(f); () }
          catch { case e: java.io.IOException if isConcurrentRemoval(e) => () })
      finally walk.close()
    } catch {
      case e if isConcurrentRemoval(e) => ()
    }
  }

  /** One checkpoint root per JVM, removed on exit — repeated Verify/Bench
    * rounds must not accumulate unbounded /tmp state.
    */
  private lazy val ckptRoot: java.nio.file.Path = {
    val p = java.nio.file.Files.createTempDirectory("graft_stream_ckpt")
    Runtime.getRuntime.addShutdownHook(new Thread(() => {
      try deleteRecursively(p) catch { case _: Throwable => }
    }))
    p
  }

  private def newCheckpointDir(): String =
    java.nio.file.Files.createTempDirectory(ckptRoot, "q").toString

  /** Fresh memory-sink name; earlier runs' sink views with the same prefix
    * are dropped first (memory sinks pin their rows in session memory).
    */
  private def freshSinkName(s: SparkSession, prefix: String): String = {
    s.catalog.listTables().collect()
      .filter(t => t.tableType == "TEMPORARY" && t.name.startsWith(prefix))
      .foreach(t => s.catalog.dropTempView(t.name))
    s"$prefix${System.nanoTime()}"
  }

  private def requireUtc(s: SparkSession): Unit =
    require(s.conf.get("spark.sql.session.timeZone") == "UTC",
      "stream queries cast TIMESTAMP_NTZ event time and align day windows; " +
        "run with spark.sql.session.timeZone=UTC (Verify/Bench set it)")

  /** The events table as a parquet file-source stream. The file source
    * refuses a plain file path (its base path must be a directory), so the
    * path is a glob that matches only `events.parquet`, with `dir` taken
    * literally as in the batch reads. Watermarks require TIMESTAMP (the
    * testdata is NTZ; the session must be UTC so the queries' cast is
    * value-preserving — they cast back for oracle parity).
    */
  private def eventsStream(s: SparkSession, dir: String): DataFrame = {
    requireUtc(s)
    s.readStream.schema(events(s, dir).schema).parquet(s"${globEscaped(dir)}/events.parque[t]")
  }

  /** Run `out` to completion (`AvailableNow`, fresh checkpoint) into a fresh
    * memory sink and return the sink's rows.
    */
  private def drain(s: SparkSession, out: Dataset[_], sinkPrefix: String): DataFrame = {
    val name = freshSinkName(s, sinkPrefix)
    out.writeStream.format("memory").queryName(name)
      .outputMode("append").option("checkpointLocation", newCheckpointDir())
      .trigger(Trigger.AvailableNow()).start().awaitTermination()
    s.table(name)
  }

  /** State partitions for the bounded-state streaming queries at bench SFs.
    *
    * A streaming query's state-store count is fixed at its FIRST start by
    * `spark.sql.shuffle.partitions`; each partition opens and commits its
    * store(s) every micro-batch (a stream-stream join keeps FOUR stores per
    * partition), so partitions should be sized to the STATE, not to the
    * session's scan parallelism. Measured on stream_join_follows at sf0.1
    * (BENCH.md stream-join profile, min-of-2 interleaved): 32 partitions = 5.9 s
    * wall with 85 s of cumulative store-commit time; 8 partitions = 2.6 s
    * with 3.7 s. Re-measured for the ONE-store flatMapGroupsWithState
    * queries (tools/TimeQuery min-of-3 at sf0.1, tumbling/sliding/sessions):
    * 8 = 1.61/1.71/2.35 s, 16 = 2.16/2.16/3.28 s, 32 = 2.47/2.85/3.69 s —
    * per-partition store open/commit dominates added parallelism even at
    * one store per partition, so 8 is the measured optimum for BOTH query
    * families here. At production state sizes (GBs per store) this dial
    * moves the other way — raise it until per-store state fits executor
    * memory.
    */
  private val StreamStatePartitions = 8

  /** Run `body` with `spark.sql.shuffle.partitions` temporarily overridden
    * (restored after): the override must be in force when the streaming
    * query inside `body` first starts, and must not leak into subsequent
    * batch queries.
    */
  private def withShufflePartitions[A](s: SparkSession, n: Int)(body: => A): A = {
    val prev = s.conf.get("spark.sql.shuffle.partitions")
    s.conf.set("spark.sql.shuffle.partitions", n.toString)
    try body finally s.conf.set("spark.sql.shuffle.partitions", prev)
  }

  /** Run `body` with no-data micro-batches disabled (restored after).
    *
    * ONLY legal for queries whose no-data batch provably emits nothing: an
    * INNER stream-stream join emits each matched pair as soon as both sides
    * arrive (no watermark withhold), so the trailing no-data batch exists
    * purely to evict expired state — it loads, updates and commits every
    * state store (4 per partition for a join) to produce zero rows, a
    * measured 35% of the bounded-run wall (BENCH.md: 3.49 s ->
    * 2.26 s at sf0.1). On an unbounded production stream the same flag
    * skips idle-period batches; state eviction then rides the next data
    * batch. The window/sliding/session queries MUST keep no-data batches:
    * their final windows emit exactly when the terminal no-data batch
    * advances the watermark past them.
    *
    * Enforced on `query`'s analyzed plan: an aggregate,
    * `flatMapGroupsWithState`, deduplication or non-inner join is refused
    * with an IllegalArgumentException naming the operator.
    */
  private[graft] def withNoDataBatchesOff[A](query: DataFrame)(body: => A): A = {
    import org.apache.spark.sql.catalyst.plans.Inner
    import org.apache.spark.sql.catalyst.plans.logical._
    val refused = query.queryExecution.analyzed.collectFirst {
      case p @ (_: Aggregate | _: FlatMapGroupsWithState | _: Deduplicate |
                _: DeduplicateWithinWatermark) => p.nodeName
      case j: Join if j.joinType != Inner => s"${j.joinType.sql} Join"
    }
    require(refused.isEmpty, s"withNoDataBatchesOff: the plan contains ${refused.get}, " +
      "whose no-data micro-batch may emit rows")
    val s    = query.sparkSession
    val key  = "spark.sql.streaming.noDataMicroBatches.enabled"
    val prev = s.conf.get(key)
    s.conf.set(key, "false")
    try body finally s.conf.set(key, prev)
  }

  /** The sf0.001 tables (TESTDATA.md), small enough for the test suite. */
  private[graft] val Sf0001Dir = "/root/testdata/sf0.001"

  /** Flagship query on [[Sf0001Dir]]; driver smoke-checks rows>0. */
  def entry(spark: SparkSession): DataFrame = queries("topk_event_types")(spark, Sf0001Dir)

  /** One driver query: its name, ANSI SQL that DuckDB runs on the same
    * parquet tables to compute the same rows (the oracle), and the Spark
    * plan over the tables in a scale-factor directory. Both halves are
    * required, so a query without an oracle does not compile.
    */
  final case class Query(name: String, oracleSql: String)(
      val run: (SparkSession, String) => DataFrame)

  /** Exact top-10 cosine neighbors of the vec_id < 5 rows: the oracle of
    * all three ANN queries, whose plans must reproduce the exact answer.
    */
  private val annTop10Sql =
      """WITH q AS (SELECT vec_id, embedding FROM embeddings WHERE vec_id < 5),
         s AS (
           SELECT q.vec_id AS query_id, e.vec_id AS neighbor_id,
                  list_cosine_similarity(CAST(e.embedding AS DOUBLE[]),
                                         CAST(q.embedding AS DOUBLE[])) AS sim
           FROM embeddings e, q WHERE e.vec_id <> q.vec_id),
         r AS (
           SELECT query_id, neighbor_id, sim,
                  row_number() OVER (PARTITION BY query_id ORDER BY sim DESC, neighbor_id) AS rank
           FROM s)
         SELECT query_id, rank, neighbor_id, round(sim, 6) AS similarity
         FROM r WHERE rank <= 10"""

  /** Every driver query, one entry per implemented operator from SURVEY.md §2. */
  val registry: Seq[Query] = Seq(
    // --- top-K sketch: Add/Incr + SortedSlice surface (sketch.go:118-209) ---
    Query("topk_event_types",
      """SELECT event_type AS item, count(*) AS count
         FROM events GROUP BY 1 ORDER BY count DESC, item LIMIT 5""") { (s, dir) =>
      TopK.aggregate(events(s, dir), col("event_type"), lit(1L), cfgWide)
        .select("item", "count")
    },

    Query("topk_users",
      """SELECT CAST(user_id AS VARCHAR) AS item, count(*) AS count
         FROM events GROUP BY 1 ORDER BY count DESC, item LIMIT 20""") { (s, dir) =>
      TopK.aggregate(events(s, dir), col("user_id"), lit(1L), cfgUsers, oversample = 8)
        .select("item", "count")
    },

    // weighted Add: increment = integer quantity (sketch.go:118-120)
    Query("topk_suppliers_by_qty",
      """SELECT CAST(l_suppkey AS VARCHAR) AS item,
                CAST(sum(CAST(l_quantity AS BIGINT)) AS BIGINT) AS count
         FROM lineitem GROUP BY 1 ORDER BY count DESC, item LIMIT 10""") { (s, dir) =>
      TopK.aggregate(lineitem(s, dir), col("l_suppkey"),
          col("l_quantity").cast("long"),
          SketchConfig.withDefaults(k = 10, width = 4096, depth = 3), oversample = 8)
        .select("item", "count")
    },

    // token stream over text: explode -> sketch (the north-star shape)
    Query("topk_tokens",
      """SELECT tok AS item, count(*) AS count
         FROM (SELECT unnest(string_split(text, ' ')) AS tok FROM documents)
         WHERE len(tok) > 0
         GROUP BY 1 ORDER BY count DESC, item LIMIT 20""") { (s, dir) =>
      val toks = documents(s, dir)
        .select(explode(split(col("text"), " ")).as("tok"))
        .where(length(col("tok")) > 0)
      TopK.aggregate(toks, col("tok"), lit(1L),
          SketchConfig.withDefaults(k = 20, width = 1024, depth = 3))
        .select("item", "count")
    },

    // EXPLICIT skew path: two-level salted aggregation (level 1 shuffles on
    // (group, salt=hash(item)) so a hot group's updates spread over 16
    // reducers; level 2 merges the 16 item-aggregate buffers per group).
    // Same answer as the plain path — driver-verified against the oracle.
    Query("topk_event_types_salted",
      """SELECT event_type AS item, count(*) AS count
         FROM events GROUP BY 1 ORDER BY count DESC, item LIMIT 5""") { (s, dir) =>
      TopK.aggregateBySalted(events(s, dir), Seq(lit(0).as("g")),
          col("event_type"), lit(1L), cfgWide, saltFanout = 16)
        .where(col("rank") <= 5)
        .select(col("item"), col("count"))
    },

    // tumbling window: per-day top-K = use-then-Reset pattern (sketch.go:211-215)
    Query("topk_event_types_daily",
      """WITH c AS (
           SELECT date_trunc('day', ts) AS day, event_type AS item, count(*) AS count
           FROM events GROUP BY 1, 2),
         r AS (
           SELECT day, item, count,
                  row_number() OVER (PARTITION BY day ORDER BY count DESC, item) AS rank
           FROM c)
         SELECT day, rank, item, count FROM r WHERE rank <= 3 ORDER BY day, rank""") { (s, dir) =>
      TopK.aggregateBy(
          events(s, dir).withColumn("day", date_trunc("DAY", col("ts"))),
          Seq(col("day")), col("event_type"), lit(1L),
          SketchConfig.withDefaults(k = 3, width = 1024, depth = 3))
        .select("day", "rank", "item", "count")
    },

    // sliding window: 7-day window per day tick (sliding/sketch.go semantics,
    // realized as SlidingTopK.perTick: one item-aggregate buffer per tick,
    // merged over each window)
    Query("topk_sliding_event_types",
      """WITH per AS (
           SELECT datediff('day', DATE '2024-01-01', CAST(ts AS DATE)) AS tick,
                  event_type AS item, count(*) AS c
           FROM events GROUP BY 1, 2),
         ticks AS (SELECT DISTINCT tick FROM per),
         win AS (
           SELECT t.tick, p.item, CAST(sum(p.c) AS BIGINT) AS count
           FROM ticks t JOIN per p ON p.tick BETWEEN t.tick - 6 AND t.tick
           GROUP BY 1, 2),
         r AS (
           SELECT tick, item, count,
                  row_number() OVER (PARTITION BY tick ORDER BY count DESC, item) AS rank
           FROM win)
         SELECT tick, rank, item, count FROM r WHERE rank <= 3 ORDER BY tick, rank""") { (s, dir) =>
      val ev = events(s, dir)
        .withColumn("tick", datediff(to_date(col("ts")), lit("2024-01-01")))
      // the tick universe is time-derived: one cheap pruned pre-scan
      // (min/max + distinct-day count in a single aggregate) yields the day
      // range, so the main plan scans events exactly ONCE — the semi-join
      // side is a literal table instead of a second column-pruned scan. The
      // dense-calendar assumption is CHECKED, not assumed: if any day in
      // [min, max] had no events, knownTicks would emit phantom windows the
      // present-ticks oracle lacks, so a sparse calendar falls back to the
      // present-set semi-join (second pruned scan, still correct).
      val mm = events(s, dir)
        .agg(min(col("ts")), max(col("ts")), countDistinct(to_date(col("ts")))).head()
      val epoch0 = java.time.LocalDate.parse("2024-01-01").toEpochDay
      def tickOf(i: Int): Long =
        mm.getAs[java.time.LocalDateTime](i).toLocalDate.toEpochDay - epoch0
      val ticks = if (mm.isNullAt(0)) None else {
        val span = tickOf(0) to tickOf(1)
        if (mm.getLong(2) == span.size.toLong) Some(span.toSeq) else None
      }
      SlidingTopK.perTick(ev, col("tick"), col("event_type"), lit(1L),
          windowTicks = 7, cfg = SketchConfig.withDefaults(k = 5, width = 1024, depth = 3), k = 3,
          knownTicks = ticks)
        .select("tick", "rank", "item", "count")
    },

    // Count(item) lookups over a sketch blob (sketch.go:90-111)
    Query("topk_count_lookup",
      """SELECT event_type AS item, count(*) AS count
         FROM events GROUP BY 1 ORDER BY item""") { (s, dir) =>
      val ev   = events(s, dir)
      val blob = ev.select(col("event_type").as("item"))
        .agg(graft.plans.TopKAggregates.sketchBytes(col("item"), lit(1L), cfgWide).as("sk"))
      val items = ev.select(col("event_type").as("item")).distinct()
      items.crossJoin(broadcast(blob))
        .select(col("item"), TopK.countColumn(col("sk"), col("item")).as("count"))
    },

    // relational sanity: aggregation pushdown/codegen baseline
    Query("q1_agg",
      """SELECT l_returnflag, l_linestatus,
                CAST(sum(CAST(l_quantity AS BIGINT)) AS BIGINT) AS sum_qty,
                count(*) AS count_order
         FROM lineitem GROUP BY 1, 2 ORDER BY 1, 2""") { (s, dir) =>
      lineitem(s, dir)
        .groupBy(col("l_returnflag"), col("l_linestatus"))
        .agg(
          sum(col("l_quantity").cast("long")).as("sum_qty"),
          count(lit(1)).as("count_order"))
        .orderBy(col("l_returnflag"), col("l_linestatus"))
    },

    // --- training-data pipeline operators (dedup / text / similarity) ---
    Query("dedup_exact",
      // the second grouping term mirrors Dedup.nullSingletonKey: the engine
      // treats NULL-text docs as singleton groups (never duplicates of each
      // other), while a bare GROUP BY text would collapse all NULLs into ONE
      // group — today's corpus has no null texts (0 extra groups), but a
      // regenerated corpus with them must stay green, not hash-mismatch
      """SELECT min(doc_id) AS survivor_id, count(*) AS n_copies
         FROM documents
         GROUP BY text, CASE WHEN text IS NULL THEN doc_id ELSE 0 END""") { (s, dir) =>
      graft.operators.Dedup.exactSurvivors(documents(s, dir), col("doc_id"), col("text"))
    },

    // the synthetic corpus has no duplicate texts, so plant deterministic
    // exact copies (every 7th doc re-tagged with doc_id + 100000); the oracle
    // applies the identical union, making the group check non-vacuous
    Query("dedup_exact_groups",
      """WITH all_docs AS (
           SELECT CAST(doc_id AS BIGINT) AS doc_id, text FROM documents
           UNION ALL
           SELECT CAST(doc_id AS BIGINT) + 100000, text FROM documents
           WHERE doc_id % 7 = 0)
         SELECT min(doc_id) AS survivor_id,
                string_agg(CAST(doc_id AS VARCHAR), ',' ORDER BY doc_id) AS doc_ids,
                count(*) AS n_copies
         FROM all_docs
         GROUP BY text, CASE WHEN text IS NULL THEN doc_id ELSE 0 END
         HAVING count(*) > 1""") { (s, dir) =>
      val docs = documents(s, dir)
        .select(col("doc_id").cast("long").as("doc_id"), col("text"))
      val dups = docs.where(pmod(col("doc_id"), lit(7)) === 0)
        .select((col("doc_id") + 100000L).as("doc_id"), col("text"))
      graft.operators.Dedup.exactDupGroups(docs.unionAll(dups), col("doc_id"), col("text"))
        .select(col("survivor_id"),
          array_join(col("doc_ids"), ",").as("doc_ids"), col("n_copies"))
    },

    // EXACT all-pairs word-3-gram Jaccard via prefix filtering — recall 1
    // by construction (no sketch in the candidate path), so oracle parity
    // is deterministic up to 64-bit gram-hash collisions (~pairs/2⁶⁵).
    Query("dedup_ngram_jaccard",
      // full all-pairs enumeration — the engine's prefix filter is exact, so
      // the two sides must agree pair-for-pair, value-for-value
      """WITH toks AS (
           SELECT doc_id,
                  list_filter(string_split_regex(text, '\s+'), t -> len(t) > 0) AS w
           FROM documents WHERE text IS NOT NULL),
         sh AS (
           SELECT doc_id,
                  list_distinct([array_to_string(w[i:i+2], ' ') FOR i IN range(1, len(w) - 1)]) AS s
           FROM toks WHERE len(w) >= 3)
         SELECT a.doc_id AS a, b.doc_id AS b,
                len(list_intersect(a.s, b.s))::DOUBLE
                  / len(list_distinct(list_concat(a.s, b.s))) AS jaccard
         FROM sh a, sh b
         WHERE a.doc_id < b.doc_id
           AND len(list_intersect(a.s, b.s))::DOUBLE
                 / len(list_distinct(list_concat(a.s, b.s))) >= 0.8""") { (s, dir) =>
      graft.operators.Dedup.ngramJaccardPairs(
        documents(s, dir), col("doc_id"), col("text"), n = 3, threshold = 0.8)
        .select(col("a"), col("b"), col("jaccard"))
    },

    // Oracle-parity is PROBABILISTIC here, in two documented ways: (a) the
    // engine's Jaccard runs over 32-bit-hashed shingles (the scale design —
    // raw shingle sets don't fit a shuffle at 100 TB) while the oracle uses
    // raw substrings, so an intra-pair shingle collision (~(2L)²/2³³ per
    // pair; negligible at this corpus's doc lengths, ~5% per pair only past
    // ~10k chars) would shift one jaccard value; (b) LSH candidate recall at
    // the 0.8 verify threshold is 1-(1-j⁴)³² ≈ 1-5e-8, not exactly 1, while
    // the oracle enumerates all pairs. Both margins are arithmetic
    // properties of the parameters, not tuning against the test data.
    Query("dedup_minhash_jaccard",
      """WITH sh AS (
           SELECT doc_id,
                  list_distinct([substr(text, i, 5) FOR i IN range(1, len(text) - 3)]) AS s
           FROM documents WHERE len(text) >= 5)
         SELECT a.doc_id AS a, b.doc_id AS b,
                len(list_intersect(a.s, b.s))::DOUBLE
                  / len(list_distinct(list_concat(a.s, b.s))) AS jaccard
         FROM sh a, sh b
         WHERE a.doc_id < b.doc_id
           AND len(list_intersect(a.s, b.s))::DOUBLE
                 / len(list_distinct(list_concat(a.s, b.s))) >= 0.8""") { (s, dir) =>
      val docs = documents(s, dir).select(col("doc_id").cast("long").as("doc_id"), col("text"))
      // sizeFilter = the VERIFY threshold below (0.8), not the candidate
      // estimate threshold: pairs whose shingle-set sizes make J >= 0.8
      // impossible are pruned at the band join instead of riding the pair
      // dedup + signature re-join + exact verify only to be discarded
      // there. Lossless for this composed query (see minhashLshPairs doc).
      val candidates = graft.operators.Dedup.minhashLshPairs(
        docs, col("doc_id"), col("text"),
        shingleSize = 5, numHashes = 128, bands = 32, threshold = 0.5,
        sizeFilter = Some(0.8))
        .select("a", "b")
      graft.operators.Dedup.exactJaccard(candidates, docs, shingleSize = 5)
        .where(col("jaccard") >= 0.8)
        .select(col("a"), col("b"), col("jaccard"))
    },

    // md5-derived token hash so the exact Hamming predicate is recomputable
    // by the external oracle (see Dedup.simhash64Md5). Token-less documents
    // (null/empty/whitespace-only) are excluded INSIDE the operator (its
    // rlike("\\S") guard — they'd otherwise all share sig 0), matching the
    // oracle, whose unnest produces no rows for them.
    Query("dedup_simhash",
      """WITH toks AS (
           SELECT doc_id,
                  unnest(list_filter(string_split_regex(text, '\s+'), w -> len(w) > 0)) AS tok
           FROM documents),
         h AS (SELECT doc_id, md5(tok) AS hx FROM toks),
         bits AS (
           SELECT doc_id, b,
                  sum(CASE WHEN (CAST(('0x' || substr(hx, 16 - b // 4, 1)) AS INTEGER)
                              >> (b % 4)) & 1 = 1
                           THEN 1 ELSE -1 END) AS acc
           FROM h CROSS JOIN range(0, 64) t(b)
           GROUP BY 1, 2),
         sig AS (SELECT doc_id, b, (acc > 0) AS bit FROM bits),
         pairs AS (
           SELECT x.doc_id AS a, y.doc_id AS b2,
                  sum(CASE WHEN x.bit != y.bit THEN 1 ELSE 0 END) AS hamming
           FROM sig x JOIN sig y ON x.b = y.b AND x.doc_id < y.doc_id
           GROUP BY 1, 2)
         SELECT a, b2 AS b, CAST(hamming AS BIGINT) AS hamming
         FROM pairs WHERE hamming <= 3""") { (s, dir) =>
      graft.operators.Dedup.simhashPairs(
        documents(s, dir), col("doc_id"), col("text"),
        maxDistance = 3, hashUdf = graft.operators.Dedup.simhash64Md5)
    },

    Query("text_language_id",
      """WITH t AS (
           SELECT doc_id,
                  list_filter(string_split_regex(text, '\s+'), w -> len(w) > 0) AS toks
           FROM documents),
         s AS (
           SELECT doc_id,
             len(list_filter(toks, w -> list_contains(['the','a','of','and','to','in','is'], w))) AS en,
             len(list_filter(toks, w -> list_contains(['der','die','das','und','ist','ein','zu'], w))) AS de,
             len(list_filter(toks, w -> list_contains(['le','la','et','les','des','un','est'], w))) AS fr,
             len(list_filter(toks, w -> list_contains(['el','los','y','es','un','una','que'], w))) AS es,
             len(list_filter(toks, w -> list_contains(['的','是','了','在','和','有','不'], w))) AS zh
           FROM t)
         SELECT doc_id,
           CASE WHEN en > 0 AND en >= de AND en >= fr AND en >= es AND en >= zh THEN 'en'
                WHEN de > 0 AND de >= fr AND de >= es AND de >= zh THEN 'de'
                WHEN fr > 0 AND fr >= es AND fr >= zh THEN 'fr'
                WHEN es > 0 AND es >= zh THEN 'es'
                WHEN zh > 0 THEN 'zh'
                ELSE 'und' END AS lang_pred
         FROM s""") { (s, dir) =>
      documents(s, dir).select(col("doc_id"),
        graft.operators.TextAnalysis.languageId(col("text")).as("lang_pred"))
    },

    Query("text_quality",
      """WITH t AS (
           SELECT doc_id,
                  list_filter(string_split_regex(text, '\s+'), w -> len(w) > 0) AS toks
           FROM documents)
         SELECT doc_id,
                len(toks)::BIGINT AS n_tokens,
                len(list_distinct(toks))::BIGINT AS n_distinct_tokens,
                coalesce(list_max(list_transform(toks, w -> len(w))), 0)::BIGINT AS max_token_len,
                (len(toks) BETWEEN 5 AND 100000
                  AND len(list_distinct(toks)) * 5 >= len(toks)) AS quality_ok
         FROM t""") { (s, dir) =>
      graft.operators.TextAnalysis.withQuality(documents(s, dir), col("text"))
        .select("doc_id", "n_tokens", "n_distinct_tokens", "max_token_len", "quality_ok")
    },

    Query("text_fingerprint",
      """SELECT doc_id,
                list_reduce(
                  list_prepend(CAST(0 AS BIGINT),
                    list_transform(
                      list_filter(string_split_regex(text, '\s+'), w -> len(w) > 0),
                      w -> CAST(len(w) + 1 AS BIGINT))),
                  (acc, x) -> (acc * 31 + x) % 2147483647) AS fp
         FROM documents""") { (s, dir) =>
      documents(s, dir).select(col("doc_id"),
        graft.operators.TextAnalysis.lengthFingerprint(col("text")).as("fp"))
    },

    // token counting, both ways the brief lists: whitespace tokens and the
    // GPT-2-style BPE-ish regex pre-tokenization (RE2-safe pattern so the
    // DuckDB oracle evaluates it identically)
    Query("text_token_counts",
      // whitespace spelled as an explicit class (Java \s matches U+000B,
      // RE2 \s does not) — must stay in sync with TextAnalysis.BpeTokenPattern
      """SELECT doc_id,
                len(list_filter(string_split_regex(text, '\s+'), w -> len(w) > 0))::BIGINT AS n_ws,
                len(list_filter(
                  regexp_extract_all(text,
                    '''s|''t|''re|''ve|''m|''ll|''d| ?[a-zA-Z]+| ?[0-9]+| ?[^ \t\n\f\ra-zA-Z0-9]+|[ \t\n\f\r]+'),
                  t -> NOT regexp_matches(t, '^[ \t\n\f\r]+$')))::BIGINT AS n_bpe
         FROM documents""") { (s, dir) =>
      documents(s, dir).select(col("doc_id"),
        size(graft.operators.TextAnalysis.tokens(col("text"))).cast("long").as("n_ws"),
        graft.operators.TextAnalysis.bpeTokenCount(col("text")).as("n_bpe"))
    },

    Query("ann_cosine_topk", annTop10Sql) { (s, dir) =>
      val emb = embeddings(s, dir)
      graft.operators.Similarity.cosineTopK(
        emb, col("vec_id"), col("embedding"),
        emb.where(col("vec_id") < 5), col("vec_id"), col("embedding"), k = 10)
    },

    // IVF with nProbe == nCells probes every inverted list, so the result is
    // EXACTLY the brute-force top-K on any geometry (isotropic testdata
    // defeats quantizer selectivity, not correctness) — this drives the full
    // IVF plumbing (centroid collect, map-side argmax assignment, probe
    // join, rerank) through the oracle gate; the SELECTIVE regime (nProbe <<
    // nCells at recall 0.98) is measured on clustered data in BENCH.md
    Query("ann_cosine_topk_ivf",
      // probing ALL cells makes IVF exhaustive: same oracle as the exact path
      annTop10Sql) { (s, dir) =>
      val emb = embeddings(s, dir)
      graft.operators.Similarity.ivfCosineTopK(
        emb, col("vec_id"), col("embedding"),
        emb.where(col("vec_id") < 5), col("vec_id"), col("embedding"), k = 10,
        nCells = 16, nProbe = 16)
    },

    // LSH-blocked ANN — CORRECTNESS PLUMBING, not the scale configuration.
    // The testdata embeddings are isotropic noise (pairwise cos ~ 0), where
    // hyperplane banding is mathematically non-selective; recall 1 vs the
    // exact oracle here forces width-2 bands, which admit ~every pair (the
    // plan degenerates to brute force with banding overhead). It verifies the
    // signature/band/rerank pipeline end-to-end. The SELECTIVE regime —
    // clustered data, width-8 bands, candidates ~5% of n²/2 at recall ~1 —
    // is asserted in TrainingOpsSpec ("selective LSH configuration"); at
    // scale use bands ~= nBits/8 on corpora with real neighbor structure, or
    // ivfCosineTopK / nearDupPairsBlocked when there is none.
    Query("ann_cosine_topk_lsh",
      // exact SQL oracles for the LSH paths: blocking recall is pinned to 1 at
      // the verification SFs, and the rerank/verify stage is exact, so the
      // approximate plans must reproduce the exact answers bit-for-bit
      annTop10Sql) { (s, dir) =>
      val emb = embeddings(s, dir)
      graft.operators.Similarity.lshCosineTopK(
        emb, col("vec_id"), col("embedding"),
        emb.where(col("vec_id") < 5), col("vec_id"), col("embedding"),
        k = 10, nBits = 64, bands = 32)
    },

    // LSH-blocked near-dup pairs — CORRECTNESS PLUMBING (same caveat as
    // ann_cosine_topk_lsh): width-4 bands give recall 1 on this corpus but a
    // random pair still collides in >=1 band w.p. ~64%, near all-pairs. The
    // selective parameterization on clustered data is asserted in
    // TrainingOpsSpec; this entry verifies the banded self-join + exact
    // verify pipeline against the exact oracle.
    Query("embedding_near_dups_lsh",
      """SELECT a.vec_id AS a, b.vec_id AS b,
                round(list_cosine_similarity(CAST(a.embedding AS DOUBLE[]),
                                             CAST(b.embedding AS DOUBLE[])), 6) AS similarity
         FROM embeddings a, embeddings b
         WHERE a.vec_id < b.vec_id
           AND list_cosine_similarity(CAST(a.embedding AS DOUBLE[]),
                                      CAST(b.embedding AS DOUBLE[])) >= 0.5""") { (s, dir) =>
      graft.operators.Similarity.nearDupPairs(
        embeddings(s, dir), col("vec_id"), col("embedding"),
        threshold = 0.5, nBits = 64, bands = 16)
    },

    // exact all-pairs threshold join, block-matrix grid plan (the 0.42
    // threshold sits below hyperplane-LSH's selectivity range, so the honest
    // scale path is exact grid enumeration — see Similarity.nearDupPairsBlocked)
    Query("embedding_near_dups",
      """SELECT a.vec_id AS a, b.vec_id AS b,
                round(list_cosine_similarity(CAST(a.embedding AS DOUBLE[]),
                                             CAST(b.embedding AS DOUBLE[])), 6) AS similarity
         FROM embeddings a, embeddings b
         WHERE a.vec_id < b.vec_id
           AND list_cosine_similarity(CAST(a.embedding AS DOUBLE[]),
                                      CAST(b.embedding AS DOUBLE[])) >= 0.42""") { (s, dir) =>
      graft.operators.Similarity.nearDupPairsBlocked(
        embeddings(s, dir), col("vec_id"), col("embedding"),
        threshold = 0.42) // nBlocks auto-sized from file-scan stats
    },

    // --- multimodal binary columns (decode step stubbed; plumbing real) ---
    // The synthetic payload is text.cast(binary) = UTF-8 BYTES, while the
    // oracle recomputes the stub in SQL over CODEPOINTS (ord/len) — these
    // agree only for single-byte chars, so both sides restrict to ASCII
    // docs via byte-count equality (engine: length==octet_length; oracle:
    // len==strlen). Today's corpora are 100% ASCII (filter drops 0 rows);
    // a regenerated corpus with real zh/ja text stays green instead of
    // hash-mismatching all four queries. Real codecs don't have this
    // seam: they consume bytes on both sides.
    Query("multimodal_stats",
      """SELECT CAST(doc_id AS VARCHAR) AS doc_id,
                len(text)::BIGINT AS payload_len,
                list_reduce(
                  list_prepend(CAST(0 AS BIGINT),
                    [CAST(ord(substr(text, i, 1)) AS BIGINT) FOR i IN range(1, len(text) + 1)]),
                  (a, b) -> (a + b) % 2147483647) AS byte_checksum
         FROM documents WHERE len(text) = strlen(text)""") { (s, dir) =>
      val media = graft.operators.Multimodal.syntheticMediaTable(
        asciiDocuments(s, dir), col("doc_id"), col("text"))
      graft.operators.Multimodal.mediaStats(media)
        .select("doc_id", "payload_len", "byte_checksum")
    },

    Query("multimodal_frames",
      """WITH m AS (
           SELECT CAST(doc_id AS VARCHAR) AS doc_id, len(text) AS plen,
                  greatest(1, len(text) // 8) AS fsize
           FROM documents WHERE len(text) > 0 AND len(text) = strlen(text))
         SELECT doc_id, CAST(f AS BIGINT) AS frame_idx,
                CAST(least(f * fsize + fsize, plen) - f * fsize AS BIGINT) AS frame_len
         FROM m, range(0, 8) t(f)
         WHERE f < least(8, plen)""") { (s, dir) =>
      val media = graft.operators.Multimodal.syntheticMediaTable(
        asciiDocuments(s, dir), col("doc_id"), col("text"))
      graft.operators.Multimodal.sampleFrames(media, nFrames = 8)
        .select(col("doc_id"), col("frame_idx").cast("long").as("frame_idx"),
          length(col("frame_bytes")).cast("long").as("frame_len"))
    },

    // feature extraction over the stub codec: every emitted value is m/2^20,
    // exact in float32, so quantizing by 2^20 recovers the integer stream
    // losslessly and the oracle re-derives it in plain BIGINT SQL — a full
    // differential check of the decode plumbing, not just row counts
    Query("multimodal_features",
      """WITH base AS (
           SELECT CAST(doc_id AS VARCHAR) AS doc_id,
                  list_reduce(
                    list_prepend(CAST(0 AS BIGINT),
                      [CAST(ord(substr(text, i, 1)) AS BIGINT) FOR i IN range(1, len(text) + 1)]),
                    (a, b) -> (a + b) % 2147483647) AS b
           FROM documents WHERE len(text) = strlen(text))
         SELECT doc_id, CAST(i AS BIGINT) AS feat_idx,
                ((((b + i + 1) * 2654435761 + 40503 * i) % 2147483648)
                  * 48271 % 2147483647) // 2048 AS feat_q
         FROM base, range(0, 8) t(i)""") { (s, dir) =>
      val media = graft.operators.Multimodal.syntheticMediaTable(
        asciiDocuments(s, dir), col("doc_id"), col("text"))
      media.select(col("doc_id"),
          posexplode(graft.operators.Multimodal.extractFeatures(8)(col("payload")))
            .as(Seq("feat_idx", "f")))
        .select(col("doc_id"), col("feat_idx").cast("long").as("feat_idx"),
          round(col("f").cast("double") * 1048576.0).cast("long").as("feat_q"))
    },

    // resize = stub decode of a 4x oversampled stream + strided mean pooling;
    // pooled means are M/2^22 with M < 2^22 (exact in float32), so x 2^22
    // quantization is lossless on both engines
    Query("multimodal_resize",
      """WITH base AS (
           SELECT CAST(doc_id AS VARCHAR) AS doc_id,
                  list_reduce(
                    list_prepend(CAST(0 AS BIGINT),
                      [CAST(ord(substr(text, i, 1)) AS BIGINT) FOR i IN range(1, len(text) + 1)]),
                    (a, b) -> (a + b) % 2147483647) AS b
           FROM documents WHERE len(text) = strlen(text)),
         px AS (
           SELECT doc_id, i // 4 AS px_idx,
                  ((((b + i + 1) * 2654435761 + 40503 * i) % 2147483648)
                    * 48271 % 2147483647) // 2048 AS m
           FROM base, range(0, 32) t(i))
         SELECT doc_id, CAST(px_idx AS BIGINT) AS px_idx,
                CAST(sum(m) AS BIGINT) AS px_q
         FROM px GROUP BY doc_id, px_idx""") { (s, dir) =>
      val media = graft.operators.Multimodal.syntheticMediaTable(
        asciiDocuments(s, dir), col("doc_id"), col("text"))
      media.select(col("doc_id"),
          posexplode(graft.operators.Multimodal.resize(4, 2)(col("payload")))
            .as(Seq("px_idx", "f")))
        .select(col("doc_id"), col("px_idx").cast("long").as("px_idx"),
          round(col("f").cast("double") * 4194304.0).cast("long").as("px_q"))
    },

    // session windows: per-user activity sessions (1h inactivity gap),
    // top event types per session
    Query("topk_sessions",
      """WITH o AS (
           SELECT user_id, ts, event_type,
                  CASE WHEN lag(ts) OVER w IS NULL
                         OR ts - lag(ts) OVER w > INTERVAL 1 HOUR
                       THEN 1 ELSE 0 END AS brk
           FROM events
           WINDOW w AS (PARTITION BY user_id ORDER BY ts)),
         s AS (
           SELECT user_id, ts, event_type,
                  sum(brk) OVER (PARTITION BY user_id ORDER BY ts
                                 ROWS UNBOUNDED PRECEDING) AS sess
           FROM o),
         g AS (
           SELECT user_id, sess, ts, event_type,
                  min(ts) OVER (PARTITION BY user_id, sess) AS session_start,
                  max(ts) OVER (PARTITION BY user_id, sess)
                    + INTERVAL 1 HOUR AS session_end
           FROM s),
         c AS (
           SELECT user_id, sess, session_start, session_end,
                  event_type AS item, count(*) AS count
           FROM g GROUP BY user_id, sess, session_start, session_end, event_type),
         r AS (
           SELECT user_id, session_start, session_end, item, count,
                  row_number() OVER (PARTITION BY user_id, sess
                                     ORDER BY count DESC, item) AS rank
           FROM c)
         SELECT user_id, session_start, session_end, rank, item, count
         FROM r WHERE rank <= 2
         ORDER BY user_id, session_start, rank""") { (s, dir) =>
      graft.operators.SessionTopK.aggregateGap(
          events(s, dir), col("user_id").cast("long"), col("ts"), gapSeconds = 3600L,
          col("event_type"), lit(1L),
          // sessions are small groups: right-size the per-session sketch
          // (5 distinct event types; width 256 stays collision-free)
          SketchConfig.withDefaults(k = 2, width = 256, depth = 3))
        .select(col("key").as("user_id"), col("session_start"), col("session_end"),
          col("rank"), col("item"), col("count"))
    },

    // Structured Streaming end-to-end: file source -> watermarked tumbling
    // window -> sketch aggregate -> append sink, run to completion with
    // Trigger.AvailableNow and returned as the final batch result. Windows
    // finalize exactly-once as the watermark passes them (the no-data final
    // batch flushes the last window); replays from the checkpoint would
    // reproduce identical rows (covered by StreamResumeSpec).
    Query("topk_stream_tumbling",
      // append-mode streams emit a window only once the watermark passes its
      // end; the final day's window is still open when the input is exhausted,
      // so the oracle covers exactly the FINALIZED windows
      """WITH c AS (
           SELECT date_trunc('day', ts) AS day, event_type AS item, count(*) AS count
           FROM events GROUP BY 1, 2),
         r AS (
           SELECT day, item, count,
                  row_number() OVER (PARTITION BY day ORDER BY count DESC, item) AS rank
           FROM c)
         SELECT day, rank, item, count FROM r
         WHERE rank <= 3
           AND day < (SELECT date_trunc('day', max(ts)) FROM events)
         ORDER BY day, rank""") { (s, dir) =>
      withShufflePartitions(s, StreamStatePartitions) {
        val src = eventsStream(s, dir)
          .select(col("ts").cast("timestamp").as("ts"),
            col("event_type").as("item"), lit(1L).as("weight"))
        val out = graft.streaming.TopKStreams.tumbling(
          src, windowDuration = "1 day", watermarkDelay = "0 seconds",
          SketchConfig.withDefaults(k = 3, width = 1024, depth = 3))
        drain(s, out, "stream_tumbling_")
          .select(col("window.start").cast("timestamp_ntz").as("day"),
            col("rank"), col("item"), col("count"))
      }
    },

    // Streaming SLIDING engine end-to-end: the reference's tick-ring state
    // machine (flatMapGroupsWithState, Ticks driven by tick completion) over
    // the events stream, one global key, tick = day, window = 7 ticks. A
    // tick emits exactly once, when the watermark or the key's own newest
    // event proves it complete — so the final day stays pending (oracle
    // excludes it, same as the tumbling stream query).
    Query("topk_stream_sliding",
      // the sliding stream emits a tick only once it is complete:
      // every tick from the first data tick up to (not incl.) the last — the
      // DENSE range, because the engine keeps emitting event-less ticks while
      // the trailing window still holds mass (and the inner join below drops
      // exactly the ticks whose window is empty, which the engine skips too)
      """WITH per AS (
           SELECT datediff('day', DATE '2024-01-01', CAST(ts AS DATE)) AS tick,
                  event_type AS item, count(*) AS c
           FROM events GROUP BY 1, 2),
         ticks AS (
           SELECT DISTINCT p.tick + o.o AS tick
           FROM per p, (SELECT unnest(range(0, 7)) AS o) o
           WHERE p.tick + o.o < (SELECT max(tick) FROM per)),
         win AS (
           SELECT t.tick, p.item, CAST(sum(p.c) AS BIGINT) AS count
           FROM ticks t JOIN per p ON p.tick BETWEEN t.tick - 6 AND t.tick
           GROUP BY 1, 2),
         r AS (
           SELECT tick, item, count,
                  row_number() OVER (PARTITION BY tick ORDER BY count DESC, item) AS rank
           FROM win)
         SELECT tick, rank, item, count FROM r WHERE rank <= 3 ORDER BY tick, rank""") { (s, dir) =>
      withShufflePartitions(s, StreamStatePartitions) {
        val src = eventsStream(s, dir)
          .select(lit("all").as("key"), col("ts").cast("timestamp").as("ts"),
            col("event_type").as("item"), lit(1L).as("weight"))
        val out = graft.streaming.TopKStreams.sliding(
          src, tickMillis = 86400000L, watermarkDelay = "0 seconds",
          graft.core.SlidingConfig.withDefaults(
            k = 5, width = 1024, depth = 3, windowSize = 7),
          emitK = 3)
        drain(s, out, "stream_sliding_")
          .select((col("tick") - datediff(to_date(lit("2024-01-01")), to_date(lit("1970-01-01"))))
              .as("tick"),
            col("rank").cast("long").as("rank"), col("item"), col("count"))
      }
    },

    // Streaming SESSION windows end-to-end (completes the window triad's
    // driver verification): per-user activity sessions (1h gap) merge in the
    // streaming aggregation's state store; a session emits exactly once, when
    // the watermark passes session_end. Sessions still open at end-of-input
    // stay in the state store (oracle keeps only session_end <= max ts).
    // session_window continues a session on an event exactly `gap` after
    // its predecessor, like the batch aggregateGap query; the oracle breaks
    // on > to match.
    Query("topk_stream_sessions",
      // streaming sessions: break on > (session_window continues a session
      // at exactly prev + gap, as topk_sessions does), and only sessions the
      // final watermark (= max ts, delay 0) has closed emit
      """WITH o AS (
           SELECT user_id, ts, event_type,
                  CASE WHEN lag(ts) OVER w IS NULL
                         OR ts - lag(ts) OVER w > INTERVAL 1 HOUR
                       THEN 1 ELSE 0 END AS brk
           FROM events
           WINDOW w AS (PARTITION BY user_id ORDER BY ts)),
         s AS (
           SELECT user_id, ts, event_type,
                  sum(brk) OVER (PARTITION BY user_id ORDER BY ts
                                 ROWS UNBOUNDED PRECEDING) AS sess
           FROM o),
         g AS (
           SELECT user_id, sess, ts, event_type,
                  min(ts) OVER (PARTITION BY user_id, sess) AS session_start,
                  max(ts) OVER (PARTITION BY user_id, sess)
                    + INTERVAL 1 HOUR AS session_end
           FROM s),
         c AS (
           SELECT user_id, sess, session_start, session_end,
                  event_type AS item, count(*) AS count
           FROM g GROUP BY user_id, sess, session_start, session_end, event_type),
         r AS (
           SELECT user_id, session_start, session_end, item, count,
                  row_number() OVER (PARTITION BY user_id, sess
                                     ORDER BY count DESC, item) AS rank
           FROM c)
         SELECT user_id, session_start, session_end, rank, item, count
         FROM r WHERE rank <= 2
           AND session_end <= (SELECT max(ts) FROM events)
         ORDER BY user_id, session_start, rank""") { (s, dir) =>
      withShufflePartitions(s, StreamStatePartitions) {
        val src = eventsStream(s, dir)
          .select(col("user_id").cast("long").as("key"),
            col("ts").cast("timestamp").as("ts"),
            col("event_type").as("item"), lit(1L).as("weight"))
        val out = graft.streaming.TopKStreams.session(
          src, gap = "1 hour", watermarkDelay = "0 seconds",
          SketchConfig.withDefaults(k = 2, width = 256, depth = 3))
        drain(s, out, "stream_sessions_")
          .select(col("key").as("user_id"),
            col("session_start").cast("timestamp_ntz").as("session_start"),
            col("session_end").cast("timestamp_ntz").as("session_end"),
            col("rank"), col("item"), col("count"))
      }
    },

    // STATEFUL stream-stream join (north-rule surface): watermarked
    // symmetric-hash interval self-join of the events stream — emit
    // (A, B) pairs where B follows A on the same user within 10 minutes.
    // Both event times are bounded against each other, so join state
    // expires with the watermark (bounded by rate x interval, not stream
    // length). Inner joins emit every matched pair exactly once; with
    // AvailableNow over a bounded input the result equals the batch
    // self-join, which is the oracle.
    Query("stream_join_follows",
      // inner stream-stream joins emit every matched pair (no watermark
      // withhold), so the bounded-input streaming result equals the batch join
      """SELECT e1.user_id, e1.ts AS ts_a, e1.event_type AS type_a,
                e2.ts AS ts_b, e2.event_type AS type_b
         FROM events e1 JOIN events e2
           ON e1.user_id = e2.user_id
          AND e2.ts > e1.ts
          AND e2.ts <= e1.ts + INTERVAL 600 SECOND""") { (s, dir) =>
      withShufflePartitions(s, StreamStatePartitions) {
        def src() = eventsStream(s, dir)
          .select(col("user_id").cast("long").as("key"),
            col("ts").cast("timestamp").as("ts"), col("event_type").as("payload"))
        val out = graft.streaming.StreamJoins.followsWithin(
          src(), src(), withinSeconds = 600L, watermarkDelay = "0 seconds")
        withNoDataBatchesOff(out) {
          drain(s, out, "stream_join_").select(col("key").as("user_id"),
            col("ts_a").cast("timestamp_ntz").as("ts_a"), col("payload_a").as("type_a"),
            col("ts_b").cast("timestamp_ntz").as("ts_b"), col("payload_b").as("type_b"))
        }
      }
    },

    // membership surface: the reference's Query(item) as a semi-join against the top-K
    // (reference: sketch.go:172-175)
    Query("topk_query_membership",
      """WITH topk AS (
           SELECT event_type AS item FROM events
           GROUP BY 1 ORDER BY count(*) DESC, item LIMIT 3)
         SELECT DISTINCT e.event_type AS item FROM events e
         WHERE e.event_type IN (SELECT item FROM topk)
         ORDER BY item""") { (s, dir) =>
      val topk = TopK.aggregate(events(s, dir), col("event_type"), lit(1L),
        SketchConfig.withDefaults(k = 3, width = 1024, depth = 3))
      events(s, dir).select(col("event_type").as("item")).distinct()
        .join(topk.select("item"), Seq("item"), "left_semi")
        .orderBy("item")
    }
  )
  require(registry.map(_.name).distinct.size == registry.size,
    "SparkEntry.registry: duplicate query name")

  /** The registry by name; Bench, TimeQuery and DumpQueryPlans look queries up here. */
  def queries: Map[String, (SparkSession, String) => DataFrame] =
    registry.map(q => q.name -> q.run).toMap

  /** The registry's oracle SQL by name; Verify writes it to oracle_sql.json. */
  def oracleSql: Map[String, String] = registry.map(q => q.name -> q.oracleSql).toMap
}
