package graft.operators

import graft.core.XxHash32
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Deduplication operators for training-data pipelines.
  *
  * Scale design: exact dedup groups on a 64-bit content hash (shuffles 8-byte
  * keys, never full documents); MinHash/SimHash emit fixed-size signatures so
  * the candidate join is banded equality (shuffle on small band keys) instead
  * of any all-pairs comparison. All signatures are deterministic (seeded
  * hashes), so re-runs and retries agree.
  */
object Dedup {

  // ---------- exact ----------

  /** Exact dedup: one survivor (min id) per distinct text.
    *
    * "Exact" caveat: groups form on `xxhash64(text)` so only the 8-byte hash
    * shuffles, never the documents — two DISTINCT texts with colliding
    * 64-bit hashes would merge (expected ~n²/2⁶⁵ collisions: about one at
    * ~6B docs; also adversarially constructible, xxhash64 is not
    * cryptographic). Where that matters, verify text equality within hash
    * groups downstream, or group on the text itself and pay the shuffle.
    */
  // NULL-text rows are NOT duplicates of each other: xxhash64 skips null
  // inputs (returning the bare seed), which would merge every text-less
  // document into ONE "duplicate" group — a dedup pipeline would then drop
  // all but one of them. Unknown content is each its own group: the second
  // group-key column is 0 for real texts (grouping exactly as before) and
  // doc_id for null texts (forcing singleton groups; 8 bytes, same shuffle).
  private def nullSingletonKey: Column =
    when(col("text").isNull, col("doc_id")).otherwise(lit(0L))

  def exactSurvivors(df: DataFrame, id: Column, text: Column): DataFrame =
    df.select(id.cast("long").as("doc_id"), text.as("text"))
      .groupBy(xxhash64(col("text")).as("text_hash"), nullSingletonKey.as("_nk"))
      .agg(min(col("doc_id")).as("survivor_id"), count(lit(1)).as("n_copies"))
      .select(col("survivor_id"), col("n_copies"))

  /** Exact duplicate groups (only texts occurring more than once). */
  def exactDupGroups(df: DataFrame, id: Column, text: Column): DataFrame =
    df.select(id.cast("long").as("doc_id"), text.as("text"))
      .groupBy(xxhash64(col("text")).as("text_hash"), nullSingletonKey.as("_nk"))
      .agg(min(col("doc_id")).as("survivor_id"),
        sort_array(collect_list(col("doc_id"))).as("doc_ids"),
        count(lit(1)).as("n_copies"))
      .where(col("n_copies") > 1)
      .select(col("survivor_id"), col("doc_ids"), col("n_copies"))

  // ---------- character-shingle helpers ----------

  /** Distinct of the first `n` entries of `a`, preserving first-occurrence
    * order (same output as `a.distinct`), via an open-addressed primitive
    * probe table: `Array[Long].distinct` goes through the generic boxing
    * path and measurably dominated the shingle stage (one box per shingle
    * occurrence — tens of millions per task at rehearsal sizes).
    */
  private def distinctLongs(a: Array[Long], n: Int): Array[Long] = {
    var cap = 16
    while (cap < 2 * n) cap <<= 1
    val table    = new Array[Long](cap) // 0L marks an empty slot
    val mask     = cap - 1
    var seenZero = false
    val out      = new Array[Long](n)
    var m        = 0
    var i        = 0
    while (i < n) {
      val v = a(i)
      if (v == 0L) { // the sentinel value is tracked out of band
        if (!seenZero) { seenZero = true; out(m) = 0L; m += 1 }
      } else {
        var idx = (graft.core.Rng.mix64(v) & mask).toInt
        var dup = false
        while (table(idx) != 0L && !dup) {
          if (table(idx) == v) dup = true else idx = (idx + 1) & mask
        }
        if (!dup) { table(idx) = v; out(m) = v; m += 1 }
      }
      i += 1
    }
    if (m == n) out else java.util.Arrays.copyOf(out, m)
  }

  /** Character k-shingles of a text, each hashed to a 32-bit int (as long).
    * Uses the engine's seeded XXH32 so signatures are stable across runs.
    *
    * Hot path: when every char encodes to exactly ONE UTF-8 byte
    * (`bytes.length == s.length` — ASCII, or lone surrogates that encode to
    * '?' identically inside any substring), char windows equal byte windows,
    * so the text is encoded ONCE and shingles hash in place — no per-shingle
    * substring + re-encode allocations (two per shingle before). Multi-byte
    * texts keep the substring path; both produce identical hashes.
    */
  def shingleHashes(k: Int): org.apache.spark.sql.expressions.UserDefinedFunction =
    udf { (s: String) =>
      if (s == null || s.length < k) Array.empty[Long]
      else {
        // shingles over CHARACTERS (String.substring windows)
        val n     = s.length - k + 1
        val out   = new Array[Long](n)
        val bytes = s.getBytes(java.nio.charset.StandardCharsets.UTF_8)
        if (bytes.length == s.length) {
          var i = 0
          while (i < n) {
            out(i) = XxHash32.hash(bytes, i, k, 0x5137a91e).toLong & 0xffffffffL
            i += 1
          }
        } else {
          var i = 0
          while (i < n) {
            out(i) = XxHash32.hashString(s.substring(i, i + k), 0x5137a91e).toLong & 0xffffffffL
            i += 1
          }
        }
        distinctLongs(out, n)
      }
    }

  /** Word n-grams of a text (whitespace tokenization), each hashed to 64
    * bits (two seeded XXH32 halves, like [[simhash64]]'s token hash).
    * 64-bit — not the shingle helper's 32 — because [[ngramJaccardPairs]]
    * treats hash equality as gram equality with an EXACTNESS contract:
    * at 32 bits a billion-doc corpus sees real within-doc collisions that
    * silently shrink set sizes, while 64-bit collisions stay ~n²/2⁶⁵
    * (the same accepted residual as [[exactSurvivors]]).
    * Docs with fewer than n tokens (or null text) produce no grams.
    *
    * Gram bytes are assembled from per-token UTF-8 encodings joined by ' '
    * in a reusable buffer — byte-identical to `gram.mkString(" ").getBytes`
    * (UTF-8 is context-free and the single-byte separator can never join a
    * surrogate pair split across tokens: an unpaired surrogate encodes to
    * '?' on both paths), without the per-gram mkString + two getBytes
    * allocations of the direct formulation.
    */
  def wordNgramHashes(n: Int): org.apache.spark.sql.expressions.UserDefinedFunction =
    udf { (s: String) =>
      if (s == null) Array.empty[Long]
      else {
        val toks = s.split("\\s+").filter(_.nonEmpty)
        if (toks.length < n) Array.empty[Long]
        else {
          val tb = new Array[Array[Byte]](toks.length)
          var i  = 0
          while (i < toks.length) {
            tb(i) = toks(i).getBytes(java.nio.charset.StandardCharsets.UTF_8)
            i += 1
          }
          var winLen = n - 1 // separators
          var j      = 0
          while (j < n) { winLen += tb(j).length; j += 1 }
          val out = new Array[Long](toks.length - n + 1)
          var buf = new Array[Byte](math.max(winLen, 64))
          i = 0
          while (i < out.length) {
            if (i > 0) winLen += tb(i + n - 1).length - tb(i - 1).length
            if (buf.length < winLen) buf = new Array[Byte](winLen)
            var off = 0
            var k   = i
            while (k < i + n) {
              if (k > i) { buf(off) = ' '; off += 1 }
              val t = tb(k)
              System.arraycopy(t, 0, buf, off, t.length)
              off += t.length
              k += 1
            }
            out(i) = (XxHash32.hash(buf, 0, off, 0x6b9d1c3a).toLong << 32) |
              (XxHash32.hash(buf, 0, off, 0x2f8e4d17).toLong & 0xffffffffL)
            i += 1
          }
          distinctLongs(out, out.length)
        }
      }
    }

  /** MinHash signature (numHashes slots) from a set of shingle hashes, via
    * densified ONE-PERMUTATION hashing (Li, Owen & Zhang, NIPS'12;
    * densification per Shrivastava & Li, ICML'14): each shingle is mixed
    * ONCE (SplitMix64), routed to slot `mix mod numHashes`, and each slot
    * keeps its minimum; empty slots borrow cyclically from the next
    * non-empty slot (rotation densification), tagged by distance so borrowed
    * values in two signatures only match when both borrowed from the same
    * relative source. Cost is O(shingles + numHashes) per doc — the classic
    * per-slot scheme was O(shingles × numHashes) and measurably dominated
    * the 500k-doc dedup pipeline (signature evaluation 9.7 -> 3.7 s at 128
    * slots; BENCH.md scale rehearsal, the MinHash band-exchange cliff).
    *
    * The slot-match fraction is an unbiased Jaccard estimate exactly like
    * classic MinHash; variance is slightly higher for docs with fewer
    * shingles than slots, which the exact-Jaccard verifier downstream
    * absorbs (candidates are verified, never trusted).
    */
  def minhashSignature(numHashes: Int): org.apache.spark.sql.expressions.UserDefinedFunction =
    udf { (shingles: Array[Long]) =>
      if (shingles == null || shingles.isEmpty) Array.empty[Long]
      else {
        val sig    = Array.fill(numHashes)(Long.MaxValue)
        var filled = 0
        var i      = 0
        while (i < shingles.length) {
          // ONE mix per shingle (SplitMix64 — the shared core finalizer)
          val z = graft.core.Rng.mix64(shingles(i))
          val slot = ((z % numHashes).toInt + numHashes) % numHashes
          if (z < sig(slot)) { // a stored value is always < MaxValue, so the
            if (sig(slot) == Long.MaxValue) filled += 1 // sentinel is unambiguous
            sig(slot) = z
          }
          i += 1
        }
        if (filled == numHashes) sig // common case (shingles >> slots):
        else densify(sig, numHashes) // skip the snapshot clone + scan
      }
    }

  /** Rotation densification for [[minhashSignature]] — only reached when at
    * least one slot is empty (docs with fewer distinct shingles than slots).
    */
  private def densify(sig: Array[Long], numHashes: Int): Array[Long] = {
    // rotation densification: empty slot s takes the value of the next
    // ORIGINALLY non-empty slot to the right (cyclic), mixed with the
    // distance so two docs' borrowed slots agree iff they borrowed the
    // same value from the same relative position. Borrowing against a
    // snapshot (not in place) keeps every filled slot single-tagged
    // (v + d·C): in-place filling lets a wrapped-around search borrow an
    // already-densified value, compounding tags (v + d1·C + d2·C) that
    // can spuriously equal another doc's direct borrow at distance d1+d2
    // and bias est_jaccard upward for shingle-sparse docs.
    val orig = sig.clone()
    var s = 0
    while (s < numHashes) {
      if (orig(s) == Long.MaxValue) {
        var d = 1
        while (d < numHashes && orig((s + d) % numHashes) == Long.MaxValue) d += 1
        if (d < numHashes)
          sig(s) = orig((s + d) % numHashes) + d * 0xbf58476d1ce4e5b9L
      }
      s += 1
    }
    sig
  }

  /** MinHash + LSH near-duplicate candidate pairs with estimated Jaccard.
    *
    * Pipeline: shingle -> minhash signature -> band hashes -> self-join on
    * equal (band, bandHash) buckets -> dedup pairs -> estimate Jaccard as the
    * fraction of agreeing minhash slots -> threshold.
    * Output: (a, b, est_jaccard) with a < b.
    */
  /** @param sizeFilter when Some(t), additionally prune candidate pairs
    *   whose DISTINCT-shingle counts make a true Jaccard >= t impossible:
    *   J(x,y) <= min(|x|,|y|)/max(|x|,|y|), so pairs with min < t·max are
    *   dropped at the band join, before the pair dedup and the signature
    *   re-join. LOSSLESS for any downstream exact-Jaccard filter at >= t;
    *   it narrows this operator's own output only by pairs whose ESTIMATE
    *   cleared `threshold` while their true Jaccard cannot reach t — pairs
    *   a >= t verifier discards anyway. Pass the downstream VERIFY
    *   threshold (not this function's estimate threshold); None (default)
    *   preserves the pure candidates + estimate contract.
    */
  def minhashLshPairs(
      df: DataFrame,
      id: Column,
      text: Column,
      shingleSize: Int = 5,
      numHashes: Int = 128,
      bands: Int = 32,
      threshold: Double = 0.7,
      sizeFilter: Option[Double] = None
  ): DataFrame = {
    require(numHashes % bands == 0, "bands must divide numHashes")
    val rows = numHashes / bands
    // Empty-shingle rows (null text, or text shorter than the shingle
    // window) used to be excluded via `size(sig) > 0` — but a predicate
    // over the UDF column gets pushed below the projection and
    // re-evaluates the whole shingle+signature pipeline inside the Filter
    // (observed as `size(UDF(UDF(text))) > 0` per subplan copy in the
    // sf0.1 plan — one extra full evaluation per doc per copy). Replaced
    // by two UDF-free pieces that together keep EXACTLY the same rows out
    // of the band join for every input:
    //  1. a RAW-column pre-filter, `octet_length(text) >= shingleSize`,
    //     pushable to the parquet scan. It is a NECESSARY condition for a
    //     non-empty shingle set (UTF-8 bytes >= UTF-16 units >= the
    //     shingle window), chosen over `length(text)` — Spark's length
    //     counts CODE POINTS while the UDF windows over UTF-16 units, so
    //     a code-point filter would wrongly drop astral-character texts
    //     whose unit count reaches the window;
    //  2. the banding guard below, which emits NO band rows for the rare
    //     rows that pass 1 but still shingle empty (short multi-byte
    //     texts) — a cheap check on the materialized sig ATTRIBUTE, not
    //     on the UDF expression.
    // _sh is referenced twice below (signature + size); a ScalaUDF is not
    // "cheap to duplicate", so CollapseProject keeps the projections
    // apart and the shingle pass runs ONCE per row.
    val sigs = df.select(id.cast("long").as("doc_id"), text.as("text"))
      .where(col("text").isNotNull && octet_length(col("text")) >= shingleSize)
      .withColumn("_sh", shingleHashes(shingleSize)(col("text")))
      .select(col("doc_id"),
        minhashSignature(numHashes)(col("_sh")).as("sig"),
        size(col("_sh")).as("sz"))

    // band key = xxhash64 over the band's slice of the signature. The banded
    // rows are SLIM — (doc_id, band, band_hash), 24 bytes (+8 for the
    // shingle count when sizeFilter is on) — the signature does NOT ride the
    // band explosion: at n docs × bands rows a 128-slot sig per row turns
    // the self-join exchange into n × bands × ~520 B, which is a measured
    // sort-spill cliff at scale (500k docs: ~16M banded rows ≈ 20 GB
    // sorted, 361 s; slim banding + sig-join-after-distinct: 23 s —
    // BENCH.md scale rehearsal).
    // empty-sig guard (piece 2 of the empty-shingle exclusion above): an
    // empty signature would band every such doc into ONE degenerate
    // bucket — the quadratic blowup this operator's contract forbids.
    // `sig` is a materialized attribute here, so the size check costs an
    // array-length read, never a UDF re-evaluation; posexplode of the
    // empty array emits no rows, exactly like the old size(sig) > 0 row
    // filter.
    val bandKey = posexplode(when(size(col("sig")) > 0,
        transform(sequence(lit(0), lit(bands - 1)), b =>
          xxhash64(slice(col("sig"), b * rows + 1, lit(rows)), b)))
      .otherwise(array().cast("array<bigint>"))).as(Seq("band", "band_hash"))
    val banded =
      if (sizeFilter.isDefined) sigs.select(col("doc_id"), col("sz"), bandKey)
      else sigs.select(col("doc_id"), bandKey)

    // SELF-alias join (both sides are the same subplan, so the sort/exchange
    // is computed once and reused — ReusedExchange — instead of running the
    // shingle+minhash UDF pipeline twice); the shuffle_merge hint blocks AQE
    // from broadcasting one side, which would both duplicate the UDF pipeline
    // AND ship every band key to every task. Candidate pairs dedup FIRST
    // (near-dups collide in many bands; the estimate must not be computed
    // per colliding band), then the signatures join back once per pair —
    // two hash joins against the n-row sig table instead of sigs through
    // the n × bands band exchange.
    // The size filter prunes per banded collision row, BEFORE the dedup
    // exchange — the relative-epsilon shrink mirrors ngramJaccardPairs'
    // alpha guard (the computed t·max can land one ulp above the real
    // product; shrinking only ever KEEPS a boundary pair).
    val szOk = sizeFilter.map(t =>
        least(col("l.sz"), col("r.sz")) >=
          lit(t) * greatest(col("l.sz"), col("r.sz")) * lit(1.0 - 4e-16))
      .getOrElse(lit(true))
    // The explicit (a, b)-keyed repartition REPLACES the distinct's own
    // exchange (HashPartitioning(a, b, n) already satisfies the group-by's
    // distribution) while pinning the partition count: the stage after this
    // exchange — pair dedup, the two signature joins, the 128-slot zip_with
    // estimate — is compute-dense per byte, and AQE's byte-based coalescing
    // was bundling it into two tasks at sf0.1 (1.9 s of task time at 2-way
    // parallelism; same failure mode as exactJaccardBy's verify spread).
    val dedupParts = df.sparkSession.sessionState.conf.numShufflePartitions
    val cands = banded.as("l").hint("shuffle_merge")
      .join(banded.as("r").hint("shuffle_merge"),
        col("l.band") === col("r.band") && col("l.band_hash") === col("r.band_hash")
          && col("l.doc_id") < col("r.doc_id") && szOk)
      .select(col("l.doc_id").as("a"), col("r.doc_id").as("b"))
      .repartition(dedupParts, col("a"), col("b"))
      .distinct()

    cands
      .join(sigs.select(col("doc_id").as("a"), col("sig").as("sig_a")), Seq("a"))
      .join(sigs.select(col("doc_id").as("b"), col("sig").as("sig_b")), Seq("b"))
      .withColumn("est_jaccard",
        size(filter(zip_with(col("sig_a"), col("sig_b"), (x, y) => x === y), m => m))
          .cast("double") / numHashes)
      .where(col("est_jaccard") >= threshold)
      .select(col("a"), col("b"), col("est_jaccard"))
  }

  /** Exact n-gram (character shingle) Jaccard for given candidate pairs —
    * the verifier for the LSH estimates.
    *
    * NULL convention: a pair where BOTH texts are shorter than
    * `shingleSize` (or null) has two empty shingle sets; 0/0 propagates as
    * a NULL `jaccard` — "undefined at this shingle granularity", matching
    * the SQL division the oracle computes — and a thresholded filter drops
    * the pair. Such docs produce no shingles, hence no MinHash bands, hence
    * never reach this verifier through [[minhashLshPairs]]; direct callers
    * feeding arbitrary pairs must decide sub-shingle-length semantics
    * themselves (`coalesce(jaccard, …)`), because "identical empty sets"
    * does NOT imply identical texts.
    */
  def exactJaccard(
      pairs: DataFrame, // (a, b)
      docs: DataFrame,  // (doc_id, text)
      shingleSize: Int = 5,
      narrowToCandidates: Option[Boolean] = None
  ): DataFrame =
    exactJaccardBy(pairs, docs, shingleHashes(shingleSize)(_), narrowToCandidates)

  /** [[exactJaccard]] generalized over the gram function — the same
    * verifier serves character shingles ([[shingleHashes]]) and word
    * n-grams ([[wordNgramHashes]]); `grams` must return a DISTINCT
    * hash array per text (both helpers do).
    */
  private def exactJaccardBy(
      pairs: DataFrame,
      docs: DataFrame,
      grams: Column => Column,
      narrowToCandidates: Option[Boolean]
  ): DataFrame = {
    // Above a size cutover, only docs that appear in a candidate pair get
    // shingled: the semi-join costs an 8-byte-key shuffle and keeps the
    // (doc_id, shingle-array) table — kilobytes per row — proportional to
    // the CANDIDATE set, not the corpus (at 500k docs the unfiltered table
    // was ~3.2 GB shuffled twice; the filter took the full pipeline 61 s ->
    // 33 s). Below the cutover the filter LOSES: deriving `ids` re-executes
    // the candidate subplan, which dwarfs a small corpus's shingle shuffle
    // (measured +1.6 s on the 500-doc driver table). Cutover order:
    // the caller's explicit `narrowToCandidates` wins; else sizeInBytes when
    // the plan carries a real estimate (file scans do); else the row-count
    // stat (in-memory plans often report the 8 EiB unknown-size sentinel but
    // a real rowCount); else TRUE — at unknown scale the semi-join is the
    // side that degrades gracefully (a few wasted seconds on a tiny corpus
    // vs an unbounded shingle shuffle on a huge one).
    val stats = docs.queryExecution.optimizedPlan.stats
    val filterDocs = narrowToCandidates.getOrElse {
      if (Similarity.statsKnown(stats.sizeInBytes)) stats.sizeInBytes > (64L << 20)
      else stats.rowCount.map(_ > BigInt(64000)).getOrElse(true)
    }
    val base = docs.select(col("doc_id"), col("text"))
    val narrowed =
      if (!filterDocs) base
      else {
        val ids = pairs.select(col("a").as("doc_id"))
          .unionAll(pairs.select(col("b").as("doc_id"))).distinct()
        base.join(ids, Seq("doc_id"), "left_semi")
      }
    val sh = narrowed.select(col("doc_id"),
      grams(col("text")).as("sh")) // already distinct
    // The verify is COMPUTE-dense per byte (array_intersect/union over
    // |x|+|y|-element gram arrays per pair) while its input rows are slim
    // (a, b) pairs — so AQE's byte-based partition coalescing bundles the
    // candidate exchange into one or two tasks and SERIALIZES the verify
    // (measured: a 2.0 s single-task verify stage over 119k candidates at
    // sf0.1 — the same failure mode as the grid kernel's score stage, see
    // Similarity.nearDupPairsBlocked). An explicit repartition on the first
    // join key with a pinned count spreads it (AQE honors user-specified
    // partition counts); at scale the exchange replaces the `a`-keyed
    // shuffle the verify join needs anyway (HashPartitioning(a, n) already
    // satisfies the join's distribution when n = shuffle partitions).
    val spread = pairs.repartition(
      docs.sparkSession.sessionState.conf.numShufflePartitions, col("a"))
    // Intersection via the primitive-table kernel (value-identical to
    // size(array_intersect), see LongIntersectCount), union by arithmetic:
    // the gram arrays are DISTINCT by this method's contract, so
    // |A ∪ B| = |A| + |B| − |A ∩ B| exactly — the second boxed set-build
    // (array_union) was pure waste. Same integers feed the same double
    // division, so the jaccard values (and the 0/0 → NULL convention) are
    // bit-identical to the built-in chain this replaces.
    val interC = graft.plans.LongIntersectCount(col("sh_a"), col("sh_b"))
    spread
      .join(sh.select(col("doc_id").as("a"), col("sh").as("sh_a")), Seq("a"))
      .join(sh.select(col("doc_id").as("b"), col("sh").as("sh_b")), Seq("b"))
      .withColumn("interc", interC)
      .withColumn("inter", col("interc").cast("double"))
      .withColumn("uni",
        (size(col("sh_a")).cast("long") + size(col("sh_b")) - col("interc")).cast("double"))
      .select(col("a"), col("b"), (col("inter") / col("uni")).as("jaccard"))
  }

  // ---------- exact word-n-gram Jaccard (prefix filtering) ----------

  /** EXACT word-n-gram Jaccard near-duplicate pairs via prefix filtering
    * (Bayardo, Ma & Srikant, "Scaling Up All Pairs Similarity Search",
    * WWW'07 — the all-pairs prefix-filter principle; no code consulted).
    *
    * Unlike [[minhashLshPairs]] (probabilistic candidates + estimate), this
    * operator guarantees recall 1 with no sketch: every pair whose Jaccard
    * over DISTINCT word n-grams is >= threshold is emitted, with its exact
    * similarity. Output: (a, b, jaccard), a < b.
    *
    * Scale shape — the naive exact method (inverted-index join on ALL
    * grams) blows up quadratically on high-document-frequency "stop
    * grams". Prefix filtering bounds it: order every doc's grams by a
    * GLOBAL (document-frequency asc, gram asc) total order and index only
    * the prefix of length p(x) = |x| - ceil(t·|x|) + 1 — its rarest grams.
    * Any qualifying pair must collide inside both prefixes [J(x,y) >= t
    * implies |x∩y| >= t·|x∪y| >= ceil(t·max(|x|,|y|)) =: α; the SMALLEST
    * common gram in the global order sits at position <= |x| - α + 1 <=
    * p(x) in x (at most α-1 common grams can follow it) and likewise in
    * y], so frequent grams are joined only for the rare docs where they
    * fall inside the prefix. Every stage is an equality-keyed shuffle on
    * 8-byte gram hashes or doc ids — no all-pairs anywhere; the final
    * verify reuses [[exactJaccard]]'s candidate-narrowed join.
    *
    * `narrowToCandidates` tuning: with narrowing on, AQE reuses the
    * candidate subplan for the ids semi-join (ReusedExchange on the pair
    * distinct — the pipeline does NOT run twice in the final plan), so
    * the residual cost is the extra union/distinct/semi-join exchanges.
    * On a candidate-DENSE corpus (the 30%-dup scale rehearsal) that
    * overhead exceeds the saving — `Some(false)` measured 17.9 vs 21.8 s
    * at 500k docs (OPTIMIZATION_r06.md) — while sparse corpora keep the
    * default cutover's win (verify table ∝ candidates, not corpus).
    *
    * ID REQUIREMENT (ADVICE r5): `id` is cast to long, like every
    * pair-emitting operator here. A non-numeric id column casts to null,
    * and null ids fail the `a < b` pair predicate — a string-id corpus
    * would silently return ZERO pairs from an operator whose contract is
    * recall 1. Map string ids to longs (e.g. xxhash64 + a collision-checked
    * dictionary, or a dense rank) before calling.
    */
  def ngramJaccardPairs(
      df: DataFrame,
      id: Column,
      text: Column,
      n: Int = 3,
      threshold: Double = 0.8,
      narrowToCandidates: Option[Boolean] = None
  ): DataFrame = {
    require(n >= 1, s"n-gram size must be >= 1, got $n")
    require(threshold > 0.0 && threshold <= 1.0,
      s"threshold must be in (0, 1] (prefix length diverges as t -> 0), got $threshold")
    val docs    = df.select(id.cast("long").as("doc_id"), text.as("text"))
    val gramUdf = wordNgramHashes(n)
    // (doc_id, set size, gram) rows; sz rides the explode (8 bytes) so no
    // second window pass is needed for the prefix-length arithmetic
    // NO size(grams) > 0 pre-filter: explode of an empty array already
    // yields no rows, and the predicate would be pushed below the
    // projection and re-evaluate the gram UDF inside the Filter (observed
    // as `size(UDF(text)) > 0 AND isnotnull(UDF(text))` — two extra full
    // tokenize+hash passes per doc in the sf0.1 plan)
    val grams = docs
      .select(col("doc_id"), gramUdf(col("text")).as("grams"))
      .select(col("doc_id"), size(col("grams")).as("sz"), explode(col("grams")).as("gram"))
    // global document frequency — the rarest-first order making prefixes
    // selective. groupBy + join-back evaluates the gram subplan twice (two
    // scans of the text, visible in PLANS.md) — deliberately NOT a
    // count-over-Window on gram, which would evaluate once but pin every
    // occurrence of a hot stop-gram into ONE unsplittable window partition;
    // the join keeps partial aggregation map-side and leaves AQE's
    // skew-join split available for the hot keys, and tokenization is the
    // cheapest stage of this pipeline.
    //
    // df=1 PRUNING (the load-bearing trim — measured 3 GB shuffle + 3 GB
    // sort-spill without it at 500k docs, BENCH.md): a gram unique to
    // one document can never produce a candidate pair, and every COMMON
    // gram has df >= 2, so only df >= 2 grams need to be ranked and
    // indexed. The recall witness survives: the smallest common gram c1 of
    // a qualifying pair sits at FULL-order position <= p in both docs, and
    // c1 necessarily has df >= 2, so it stays indexed as long as ranks are
    // computed against the full order — df=1 grams all precede df>=2 grams
    // in (df, gram) order, so full rank = (#df=1 grams of the doc) + rank
    // among the doc's df>=2 grams = (sz - nshared) + rk below. Benefits:
    // the window sorts only the shared-gram subset, and the join's df>=2
    // side is small enough for AQE to broadcast on corpora with few
    // near-dups — the 26M-row gram exchange disappears entirely.
    val dfreq2 = grams.groupBy("gram").agg(count(lit(1)).as("df"))
      .where(col("df") >= 2)
    val shared = grams.join(dfreq2, Seq("gram"))
    // per-doc rank under the global (df, gram) order; keep full rank <=
    // p(x) = sz - ceil(t·sz) + 1.
    // ceil(t·sz·(1-4e-16)): the mathematical alpha is ceil(t·sz), but binary
    // doubles can land fractionally ABOVE the true integer product
    // (0.8 * 5 = 4.0000000000000002 -> ceil 5, silently SHORTENING the
    // prefix and breaking the recall guarantee). The rounding error is
    // RELATIVE (<= ~2.3e-16 of t·sz across the literal + product roundings),
    // so the guard must be too — an absolute 1e-9 stops covering documents
    // past ~1e7 distinct grams, where one ulp of t·sz exceeds it. Shrinking
    // by 4e-16 relative strictly dominates the error at every sz and can
    // only LENGTHEN a prefix, which adds candidates but never loses one.
    val byDoc  = Window.partitionBy("doc_id")
    val ranked = shared
      .withColumn("rk", row_number().over(byDoc.orderBy(col("df"), col("gram"))))
      .withColumn("nshared", count(lit(1)).over(byDoc))
      .withColumn("rkf", col("sz") - col("nshared") + col("rk")) // full-order rank
    val prefix = ranked
      .where(col("rkf") <=
        col("sz") - ceil(lit(threshold) * col("sz") * lit(1.0 - 4e-16)) + 1)
      .select("doc_id", "sz", "rkf", "gram")
    // Self-alias equality join on prefix grams (one exchange, reused by
    // both sides; shuffle_merge blocks a one-sided broadcast that would
    // re-run the df-join pipeline), then slim (a, b) dedup before the
    // full-set verify. Two further LOSSLESS prunes from the WWW'07 family
    // run per matched gram, before the dedup exchange (measured at sf0.1:
    // candidates 119k -> far fewer, and the verify stage was the query's
    // single largest cost):
    //  - LENGTH filter: J(x,y) <= min(sz)/max(sz), so J >= t forces
    //    min(sz) >= t·max(sz). Pairs failing it can never verify.
    //  - POSITIONAL filter: J >= t forces |x∩y| >= alpha :=
    //    ceil(t/(1+t)·(sz_x+sz_y)); for the pair's FIRST common gram in the
    //    global order (which by the prefix-filter witness is matched by
    //    this join), all other common grams rank strictly after it in both
    //    docs, so |x∩y| <= 1 + min(sz_x - rkf_x, sz_y - rkf_y). A match
    //    failing the bound cannot be the first common gram of a qualifying
    //    pair; the qualifying pair still survives via that first match.
    // Both computed thresholds shrink by a relative epsilon like the alpha
    // prefix arithmetic above: one ulp of upward rounding must weaken the
    // filter (admit a candidate), never drop a boundary pair. The
    // positional product stacks one more rounding (the t/(1+t) division),
    // so its guard is 1e-15, strictly dominating the <=~4.6e-16 error.
    val alphaFrac = threshold / (1.0 + threshold)
    val cands = prefix.as("l").hint("shuffle_merge")
      .join(prefix.as("r").hint("shuffle_merge"),
        col("l.gram") === col("r.gram") && col("l.doc_id") < col("r.doc_id")
          && least(col("l.sz"), col("r.sz")) >=
            lit(threshold) * greatest(col("l.sz"), col("r.sz")) * lit(1.0 - 4e-16)
          && lit(1) + least(col("l.sz") - col("l.rkf"), col("r.sz") - col("r.rkf")) >=
            ceil(lit(alphaFrac) * (col("l.sz") + col("r.sz")) * lit(1.0 - 1e-15)))
      .select(col("l.doc_id").as("a"), col("r.doc_id").as("b"))
      .distinct()
    exactJaccardBy(cands, docs, gramUdf(_), narrowToCandidates)
      .where(col("jaccard") >= threshold)
  }

  // ---------- SimHash ----------

  /** 64-bit SimHash over whitespace tokens (weight = occurrence count). */
  val simhash64: org.apache.spark.sql.expressions.UserDefinedFunction =
    udf { (s: String) =>
      if (s == null) 0L
      else {
        val acc = new Array[Int](64)
        s.split("\\s+").foreach { tok =>
          if (tok.nonEmpty) {
            val h = (XxHash32.hashString(tok, 1).toLong << 32) |
              (XxHash32.hashString(tok, 2).toLong & 0xffffffffL)
            var b = 0
            while (b < 64) {
              if (((h >>> b) & 1L) == 1L) acc(b) += 1 else acc(b) -= 1
              b += 1
            }
          }
        }
        var out = 0L
        var b   = 0
        while (b < 64) { if (acc(b) > 0) out |= (1L << b); b += 1 }
        out
      }
    }

  /** 64-bit SimHash like [[simhash64]] but with an md5-derived token hash
    * (big-endian parse of the digest's first 16 hex chars) — md5 is the one
    * 64-bit-capable hash this engine and standard SQL engines both expose,
    * so this variant is END-TO-END verifiable against an exact external
    * oracle (the driver's DuckDB check recomputes the same signature from
    * `md5(tok)` hex digits). Same signature semantics, different token hash.
    */
  private val md5Local = new ThreadLocal[java.security.MessageDigest] {
    override def initialValue(): java.security.MessageDigest =
      java.security.MessageDigest.getInstance("MD5")
  }

  val simhash64Md5: org.apache.spark.sql.expressions.UserDefinedFunction =
    udf { (s: String) =>
      if (s == null) 0L
      else {
        val md  = md5Local.get() // per-row getInstance = JCA lookup + alloc
        val acc = new Array[Int](64)
        s.split("\\s+").foreach { tok =>
          if (tok.nonEmpty) {
            md.reset()
            val d = md.digest(tok.getBytes(java.nio.charset.StandardCharsets.UTF_8))
            // first 16 hex chars parsed big-endian == first 8 digest bytes
            var h = 0L
            var i = 0
            while (i < 8) { h = (h << 8) | (d(i) & 0xffL); i += 1 }
            var b = 0
            while (b < 64) {
              if (((h >>> b) & 1L) == 1L) acc(b) += 1 else acc(b) -= 1
              b += 1
            }
          }
        }
        var out = 0L
        var b   = 0
        while (b < 64) { if (acc(b) > 0) out |= (1L << b); b += 1 }
        out
      }
    }

  /** SimHash near-duplicate pairs with Hamming distance <= maxDistance,
    * blocked on `maxDistance + 1` disjoint bit ranges: a pair differing in at
    * most `maxDistance` bits cannot touch every block (pigeonhole), so it
    * must agree exactly on at least one block key — guaranteed recall 1 with
    * NO all-pairs join, only equality joins on block keys.
    * @param hashUdf signature function: [[simhash64]] (engine-native XXH32
    *                token hash) or [[simhash64Md5]] (oracle-verifiable)
    */
  def simhashPairs(df: DataFrame, id: Column, text: Column,
                   maxDistance: Int = 3,
                   hashUdf: org.apache.spark.sql.expressions.UserDefinedFunction = simhash64): DataFrame = {
    require(maxDistance >= 0 && maxDistance < 32,
      s"maxDistance must be in [0, 31] (need >= 2-bit blocks for selectivity), got $maxDistance")
    val nBlocks = maxDistance + 1
    // even-ish bit ranges: block q covers [q*64/n, (q+1)*64/n)
    val bounds = (0 to nBlocks).map(i => i * 64 / nBlocks)
    val blockCols = (0 until nBlocks).map { q =>
      val start = bounds(q)
      val width = bounds(q + 1) - start
      if (width >= 64) col("sh")
      else shiftright(col("sh"), start).bitwiseAND(lit((1L << width) - 1))
    }
    // token-less docs (null/empty/whitespace-only text) all hash to the same
    // degenerate signature and would emit every mutual pair — a quadratic
    // output blowup in an operator whose contract is "no all-pairs". Filter
    // them inside the operator (minhashLshPairs does the equivalent via its
    // empty-signature guard), not just at call sites.
    val hashed = df.select(id.cast("long").as("doc_id"), text.as("_t"))
      .where(col("_t").isNotNull && col("_t").rlike("\\S"))
      .select(col("doc_id"), hashUdf(col("_t")).as("sh"))
    val blocked = hashed.select(col("doc_id"), col("sh"),
      posexplode(array(blockCols: _*)).as(Seq("blk_idx", "block")))
    // self-alias join: one signature computation + one exchange, reused by
    // both sides (shuffle_merge blocks a one-sided broadcast that would
    // duplicate the pipeline); hamming-filter per banded candidate, then
    // dedup the slim (a, b, hamming) rows — signatures never cross the
    // distinct's exchange
    blocked.as("l").hint("shuffle_merge")
      .join(blocked.as("r").hint("shuffle_merge"),
        col("l.blk_idx") === col("r.blk_idx") && col("l.block") === col("r.block")
          && col("l.doc_id") < col("r.doc_id"))
      .withColumn("hamming", bit_count(col("l.sh").bitwiseXOR(col("r.sh"))))
      .where(col("hamming") <= maxDistance)
      .select(col("l.doc_id").as("a"), col("r.doc_id").as("b"),
        col("hamming").cast("long").as("hamming"))
      .distinct()
  }
}
