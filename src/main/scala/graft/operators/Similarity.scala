package graft.operators

import graft.plans.VecDot
import org.apache.spark.sql.{Column, DataFrame, Row}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Similarity search over embedding columns (`array<float>`).
  *
  * Three regimes, three plans:
  *  - small query set vs big corpus → broadcast the queries, score every
  *    corpus row once (`cosineTopK`), or LSH-block first (`lshCosineTopK`);
  *  - all-pairs above a HIGH similarity threshold → hyperplane-LSH banding +
  *    exact rerank (`nearDupPairs`) — candidates come from equality joins on
  *    band keys, never an all-pairs comparison;
  *  - all-pairs above a LOW threshold (near the angle where random-hyperplane
  *    collision probability is uninformative, cos θ ≲ 0.6) → LSH banding is
  *    mathematically non-selective, so the honest scale plan is the exact
  *    block-matrix self-join (`nearDupPairsBlocked`): grid-partitioned
  *    equality join, O(n·√cells) replication of fixed-size rows, never a
  *    BroadcastNestedLoopJoin.
  *
  * All similarity arithmetic goes through the native `VecDot` kernel
  * (codegen, left-to-right double accumulation) so results are deterministic
  * and oracle-reproducible.
  */
object Similarity {

  /** Grid-kernel sizing defaults (see [[nearDupPairsBlocked]]): auto-sizing
    * targets ~64 MiB of vectors per block row; an explicit nBlocks implying
    * more than 256 MiB per block fails fast. The bound is overridable per
    * session via spark.graft.grid.maxBlockBytes.
    */
  private[graft] val GridTargetBlockBytes: Long = 64L << 20
  private[graft] val GridMaxBlockBytes: Long    = 256L << 20
  private val GridMaxBlocks: Int                = 1024

  /** Catalyst reports leaf plans without stats as ~Long.MaxValue bytes (the
    * unknown sentinel); anything above 1 PiB is treated as "no estimate"
    * rather than a genuine size (same caveat as Dedup.exactJaccard's
    * cutover — materialize synthetic corpora to parquet for real stats).
    */
  private[graft] def statsKnown(estBytes: BigInt): Boolean =
    estBytes > 0 && estBytes < BigInt(1L << 50)

  /** Auto-sized block count for [[nearDupPairsBlocked]]: the parallelism
    * floor √(2·shufflePartitions) (so cells ≈ partitions), raised to
    * ceil(inputBytes / targetBlockBytes) when planning-time stats are real
    * (so one block's collect_list row stays task-sized), floored at 16 and
    * capped at [[GridMaxBlocks]] (the grid itself is nBlocks·(nBlocks+1)/2
    * broadcast rows; past ~64 GB input the n²/2 dots are infeasible anyway).
    */
  private[graft] def autoGridBlocks(estBytes: BigInt, shufflePartitions: Int,
                                    targetBlockBytes: Long): Int = {
    val byParallelism = math.ceil(math.sqrt(2.0 * shufflePartitions.max(1))).toInt
    val byPayload =
      if (!statsKnown(estBytes)) 1
      else ((estBytes + targetBlockBytes - 1) / targetBlockBytes)
        .min(GridMaxBlocks).toInt
    math.min(GridMaxBlocks, math.max(16, math.max(byParallelism, byPayload)))
  }

  /** Exact top-K neighbors for each query row (brute force).
    * @param corpus  (id long, vec array<float>)
    * @param queries (id long, vec array<float>) — small; broadcast
    * Output: (query_id, rank, neighbor_id, similarity) — self-matches excluded.
    *
    * Plan: the corpus never shuffles; each scan task scores its rows against
    * the broadcast queries with precomputed norms (one dot per pair), and
    * `WindowGroupLimit` caps the per-query sort.
    */
  def cosineTopK(corpus: DataFrame, corpusId: Column, corpusVec: Column,
                 queries: DataFrame, queryId: Column, queryVec: Column,
                 k: Int): DataFrame = {
    val c = corpus.select(corpusId.cast("long").as("neighbor_id"), corpusVec.as("cvec"))
      .withColumn("cn", sqrt(VecDot(col("cvec"), col("cvec"))))
      .where(col("cn") > 0) // zero vectors have no direction: cosine = 0/0 =
      // NaN, and Spark sorts NaN ABOVE 1.0 — an all-zero row would rank 1
    val q = queries.select(queryId.cast("long").as("query_id"), queryVec.as("qvec"))
      .withColumn("qn", sqrt(VecDot(col("qvec"), col("qvec"))))
      .where(col("qn") > 0)
    val scored = c.crossJoin(broadcast(q))
      .where(col("neighbor_id") =!= col("query_id"))
      .withColumn("similarity", VecDot(col("cvec"), col("qvec")) / (col("cn") * col("qn")))
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("similarity").desc, col("neighbor_id").asc)
    scored.withColumn("rank", row_number().over(w))
      .where(col("rank") <= k)
      .select(col("query_id"), col("rank").cast("long").as("rank"),
        col("neighbor_id"), round(col("similarity"), 6).as("similarity"))
  }

  /** Deterministic plane component for (bit, dim): SplitMix64 mix mapped to
    * [-1, 1). Pure function of the indices — see hyperplaneSignature.
    */
  @inline private def planeComponent(b: Int, i: Int): Double = {
    val z = graft.core.Rng.mix64(b.toLong << 32 | i.toLong)
    (z >>> 11).toDouble / (1L << 52).toDouble - 1.0
  }

  /** Deterministic random-hyperplane bit signature (sign of dot with seeded
    * pseudo-random planes), `nBits` bits packed into a long (nBits <= 64).
    * The plane matrix depends only on (bit, dim), so it is materialized ONCE
    * per deserialized task closure and reused across the task's rows —
    * recomputing the 3-step mix per (row × bit × dim) was ~4× the arithmetic
    * of the signature's own dot products. Signatures are bit-identical to
    * the per-row computation (same mix, same order).
    */
  def hyperplaneSignature(nBits: Int): org.apache.spark.sql.expressions.UserDefinedFunction = {
    udf(new (Array[Float] => Long) with Serializable {
      @transient private var planes: Array[Array[Double]] = _
      @transient private var dims: Int                     = 0

      private def planesFor(dim: Int): Array[Array[Double]] = {
        if (planes == null || dims < dim) {
          val p = Array.ofDim[Double](nBits, dim)
          var b = 0
          while (b < nBits) {
            var i = 0
            while (i < dim) { p(b)(i) = planeComponent(b, i); i += 1 }
            b += 1
          }
          planes = p
          dims = dim
        }
        planes
      }

      override def apply(vec: Array[Float]): Long = {
        if (vec == null) return 0L
        val p   = planesFor(vec.length)
        var sig = 0L
        var b   = 0
        while (b < nBits) {
          val row = p(b)
          var dot = 0.0
          var i   = 0
          while (i < vec.length) { dot += vec(i) * row(i); i += 1 }
          if (dot >= 0) sig |= (1L << b)
          b += 1
        }
        sig
      }
    })
  }

  /** Approximate top-K: hyperplane-LSH blocking (band equality on signature
    * slices) + exact cosine rerank of the candidates. Recall is a function of
    * (nBits, bands) and the corpus similarity profile; the defaults (width-2
    * bands) are tuned for recall ≈ 1 on moderate-similarity corpora —
    * verified empirically against the exact oracle at the test SFs.
    */
  def lshCosineTopK(corpus: DataFrame, corpusId: Column, corpusVec: Column,
                    queries: DataFrame, queryId: Column, queryVec: Column,
                    k: Int, nBits: Int = 64, bands: Int = 32): DataFrame = {
    require(nBits >= 1 && nBits <= 64, "nBits must be in [1, 64]")
    require(nBits % bands == 0, "bands must divide nBits")
    val width = nBits / bands
    require(width < 64, "band width must be < 64 (mask arithmetic)")
    val mask = (1L << width) - 1
    val sigU = hyperplaneSignature(nBits)
    // signature AND norm computed once per row, BEFORE band explosion —
    // after it they'd be evaluated `bands` times per row
    def banded(df: DataFrame, idName: String, vecName: String, normName: String) =
      df.withColumn("sig", sigU(col(vecName)))
        .withColumn(normName, sqrt(VecDot(col(vecName), col(vecName))))
        .where(col(normName) > 0) // see cosineTopK: NaN-guard for zero vectors
        .select(col(idName), col(vecName), col(normName), posexplode(
          array((0 until bands).map(q =>
            shiftright(col("sig"), q * width).bitwiseAND(lit(mask))): _*))
          .as(Seq("band", "block")))

    val c = banded(corpus.select(corpusId.cast("long").as("neighbor_id"), corpusVec.as("cvec")),
      "neighbor_id", "cvec", "cn")
    val q = banded(queries.select(queryId.cast("long").as("query_id"), queryVec.as("qvec")),
      "query_id", "qvec", "qn")

    // score per banded candidate, then dedup on the slim (ids, sim) row —
    // never shuffles vectors through the distinct
    val scored = c.join(broadcast(q), Seq("band", "block"))
      .where(col("neighbor_id") =!= col("query_id"))
      .withColumn("similarity", VecDot(col("cvec"), col("qvec")) / (col("cn") * col("qn")))
      .select(col("query_id"), col("neighbor_id"), col("similarity"))
      .distinct()
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("similarity").desc, col("neighbor_id").asc)
    scored
      .withColumn("rank", row_number().over(w))
      .where(col("rank") <= k)
      .select(col("query_id"), col("rank").cast("long").as("rank"),
        col("neighbor_id"), round(col("similarity"), 6).as("similarity"))
  }

  /** IVF-style approximate top-K: a coarse quantizer partitions the corpus
    * into `nCells` inverted lists; each query probes its `nProbe` nearest
    * cells and reranks exactly within them.
    *
    * The quantizer here is deterministic and training-free — the centroids
    * are the `nCells` corpus rows with the smallest `xxhash64(id)` (a
    * uniform, reproducible sample; at production scale you'd swap in sampled
    * k-means centroids, the plan shape is identical). Everything is
    * broadcast + equality joins:
    *   1. centroids (nCells × dim) broadcast to assign every corpus row to
    *      its nearest cell — one scan, no shuffle of the corpus;
    *   2. queries (small) assign to their nProbe nearest cells and explode;
    *   3. probe join on the CELL ID (equality), exact rerank, window top-k.
    * Recall is a function of (nCells, nProbe) and the corpus geometry —
    * pinned empirically against the exact oracle at the test SFs.
    *
    * NOTE: composing this operator is EAGER — centroid selection runs a
    * Spark job (collect of nCells tiny rows) at call time, like fitting any
    * model artifact. Callers that only want a lazy plan (EXPLAIN tooling,
    * deferred composition) should cache the returned DataFrame reference;
    * calling twice trains twice.
    */
  def ivfCosineTopK(corpus: DataFrame, corpusId: Column, corpusVec: Column,
                    queries: DataFrame, queryId: Column, queryVec: Column,
                    k: Int, nCells: Int = 16, nProbe: Int = 4): DataFrame = {
    require(nProbe >= 1 && nProbe <= nCells, "need 1 <= nProbe <= nCells")
    val c = corpus.select(corpusId.cast("long").as("neighbor_id"), corpusVec.as("cvec"))
      .withColumn("cn", sqrt(VecDot(col("cvec"), col("cvec"))))
      .where(col("cn") > 0) // see cosineTopK: NaN-guard for zero vectors
    // Deterministic training-free coarse quantizer. The centroid set is TINY
    // (nCells × dim floats) and functionally a trained model artifact, so it
    // is collected and shipped in the assignment UDFs' closures — the
    // standard IVF shape (train offline, assign map-side). Assignment is
    // then a pure per-row argmax: ONE corpus scan, no shuffle — the previous
    // broadcast-cross + per-row window put n × nCells rows through a window
    // sort (measured 23.5 s at 1M×256 vs 5.9 s map-side, BENCH.md).
    // Cells iterate in ascending id order with strict > replacement, so
    // exact-tie behavior matches the old (cell_sim DESC, cell ASC) window.
    // secondary sort key: an xxhash64 collision at the limit() boundary
    // would otherwise resolve by task order, making the "deterministic"
    // quantizer pick different centroid sets across runs/retries
    val centArr: Array[(Long, Array[Float], Double)] = c
      .withColumn("_h", xxhash64(col("neighbor_id")))
      .orderBy(col("_h"), col("neighbor_id"))
      .limit(nCells)
      .select(col("neighbor_id"), col("cvec"), col("cn"))
      .collect()
      .map(r => (r.getLong(0), r.getSeq[Float](1).toArray, r.getDouble(2)))
      .sortBy(_._1)
    if (centArr.isEmpty)
      return queries.select(queryId.cast("long").as("query_id"))
        .select(col("query_id"), lit(0L).as("rank"),
          col("query_id").as("neighbor_id"), lit(0.0).as("similarity"))
        .where(lit(false))
    // per-cell sims normalized by the CENTROID norm only: the row's own norm
    // is a positive constant across cells, so dropping it preserves both the
    // argmax and the probe ordering (same left-to-right double accumulation
    // as VecDot)
    // Length-mismatched vectors get NO cell (VecDot parity: a ragged pair
    // yields null ⇒ row dropped; the grid kernel likewise skips ragged
    // pairs) — a prefix dot product would silently assign a mixed-dimension
    // corpus to arbitrary cells.
    def cellSims(v: Array[Float]): Array[Double] = {
      val sims = new Array[Double](centArr.length)
      var ci = 0
      while (ci < centArr.length) {
        val cent = centArr(ci)._2
        if (cent.length != v.length) sims(ci) = Double.NegativeInfinity
        else {
          var acc = 0.0
          var i   = 0
          while (i < cent.length) { acc += v(i).toDouble * cent(i).toDouble; i += 1 }
          sims(ci) = acc / centArr(ci)._3
        }
        ci += 1
      }
      sims
    }
    val assignUdf = udf { (v: Array[Float]) =>
      val sims = cellSims(v)
      var best = -1
      var i    = 0
      while (i < sims.length) {
        if (sims(i) != Double.NegativeInfinity && (best < 0 || sims(i) > sims(best))) best = i
        i += 1
      }
      if (best < 0) null else java.lang.Long.valueOf(centArr(best)._1)
    }
    val probeUdf = udf { (v: Array[Float]) =>
      val sims = cellSims(v)
      centArr.indices.toArray
        .filter(i => sims(i) != Double.NegativeInfinity)
        .sortBy(i => (-sims(i), centArr(i)._1))
        .take(nProbe).map(i => centArr(i)._1)
    }
    val assigned = c.withColumn("cell", assignUdf(col("cvec")))
      .where(col("cell").isNotNull)
      .select(col("cell"), col("neighbor_id"), col("cvec"), col("cn"))
    // query side probes its nProbe nearest cells
    val q = queries.select(queryId.cast("long").as("query_id"), queryVec.as("qvec"))
      .withColumn("qn", sqrt(VecDot(col("qvec"), col("qvec"))))
      .where(col("qn") > 0)
    val probes = q.select(col("query_id"), col("qvec"), col("qn"),
      explode(probeUdf(col("qvec"))).as("cell"))
    // exact rerank within the probed cells only
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("similarity").desc, col("neighbor_id").asc)
    assigned.join(broadcast(probes), Seq("cell"))
      .where(col("neighbor_id") =!= col("query_id"))
      .withColumn("similarity", VecDot(col("cvec"), col("qvec")) / (col("cn") * col("qn")))
      .withColumn("rank", row_number().over(w))
      .where(col("rank") <= k)
      .select(col("query_id"), col("rank").cast("long").as("rank"),
        col("neighbor_id"), round(col("similarity"), 6).as("similarity"))
  }

  /** EXACT all-pairs cosine threshold join as a block-matrix grid self-join —
    * the scale path when the threshold is too low for LSH selectivity.
    *
    * Rows are hashed into `nBlocks` blocks; the unordered block-pair grid
    * (bi <= bj, nBlocks·(nBlocks+1)/2 cells) is broadcast; each side
    * replicates its rows to the grid cells it participates in (≈ nBlocks/2
    * copies — the classic O(n·√P) block-matrix replication), and the pair
    * enumeration is an EQUALITY join on the cell key: every task gets one
    * dense cell, no nested-loop join, no skew (blocks are hash-uniform).
    * Each unordered row pair lands in exactly one cell; output ids are
    * canonicalized (a < b). Dot products run on the native VecDot kernel
    * with precomputed norms. Result is exact — recall 1 by construction.
    *
    * At 100 TB: pick nBlocks so one cell's VECTORS fit a task (cells =
    * partitions → nBlocks ≈ √(2·partitions)); replication cost is
    * n·nBlocks/2 fixed-size rows, and compute is the irreducible n²/2 dots.
    *
    * Block sizing is GUARDED, because each block aggregates all its vectors
    * into ONE `collect_list` row — per-block payload grows O(n/nBlocks) and
    * an undersized nBlocks turns a correct query into an executor OOM / 2 GB
    * array failure at scale, not a slow query. `nBlocks <= 0` (the default)
    * auto-sizes from planning-time stats: nBlocks = max(parallelism floor
    * √(2·shufflePartitions), ceil(inputBytes / 64 MiB)), capped at
    * 1024 (a 64 GB input — past which the n²/2 dot products are infeasible
    * anyway). Any nBlocks — explicit OR auto-sized at its cap — whose
    * implied per-block payload exceeds `spark.graft.grid.maxBlockBytes`
    * fails fast with the sizing formula (never a silent OOM at scale).
    * Stats caveat (same as Dedup.exactJaccard): file-scan plans carry real
    * sizes; in-memory/synthetic plans may report the unknown sentinel, which
    * disables the payload term/guard — materialize such corpora to parquet
    * first. Conf: spark.graft.grid.maxBlockBytes (default 256 MiB).
    *
    * The cell interior is a DENSE KERNEL, not a row join: each side's block
    * aggregates its vectors into one array row, the grid join matches
    * nBlocks·(nBlocks+1)/2 block-pair rows, and a per-cell tight loop scores
    * all pairs (same left-to-right double accumulation as VecDot — results
    * bit-identical to the scored-join formulation). Materializing the n²/2
    * candidate ROWS through codegen join machinery instead was ~25 ns/pair
    * of pure overhead — 156 s at 100k×64-dim where the dots themselves are
    * worth ~20 s (BENCH.md scale rehearsal).
    */
  def nearDupPairsBlocked(df: DataFrame, id: Column, vec: Column,
                          threshold: Double, nBlocks: Int = 0): DataFrame = {
    val spark = df.sparkSession
    import spark.implicits._
    val projected = df.select(id.cast("long").as("id"), vec.as("v"))
    val estBytes  = projected.queryExecution.optimizedPlan.stats.sizeInBytes
    val shuffleParts = spark.sessionState.conf.numShufflePartitions
    val maxBlock = spark.conf.getOption("spark.graft.grid.maxBlockBytes")
      .map(_.toLong).getOrElse(GridMaxBlockBytes)
    // the same payload bound guards BOTH paths: an explicit undersized grid,
    // and an auto-sized one whose GridMaxBlocks cap binds (past ~64 GiB of
    // vectors the cap would otherwise silently re-admit oversized blocks —
    // and at that input the n²/2 dots are infeasible anyway, so failing fast
    // with the arithmetic is the honest outcome)
    def requireBlockFits(nb: Int, source: String): Unit =
      if (statsKnown(estBytes)) {
        val perBlock = estBytes / nb
        require(perBlock <= maxBlock,
          s"nearDupPairsBlocked: $source nBlocks=$nb implies ~$perBlock B per " +
            s"block (input ~$estBytes B), over the $maxBlock B bound — each " +
            "block is ONE collect_list row, so an undersized grid OOMs at " +
            "scale. Size nBlocks >= ceil(inputBytes/64 MiB) = " +
            s"${((estBytes + GridTargetBlockBytes - 1) / GridTargetBlockBytes).max(1)} (and >= " +
            f"sqrt(2*shufflePartitions) = ${math.sqrt(2.0 * shuffleParts)}%.0f " +
            "for parallelism), pass nBlocks <= 0 to auto-size, raise " +
            "spark.graft.grid.maxBlockBytes, or — if auto-sizing hit its " +
            "1024-block cap — use the LSH path: an input this large makes " +
            "the exact all-pairs grid's n²/2 dot products infeasible.")
      }
    val nb =
      if (nBlocks <= 0) {
        val auto = autoGridBlocks(estBytes, shuffleParts, GridTargetBlockBytes)
        requireBlockFits(auto, "auto-sized")
        auto
      } else {
        requireBlockFits(nBlocks, "explicit")
        nBlocks
      }
    val v = projected
      .withColumn("nrm", sqrt(VecDot(col("v"), col("v"))))
      .where(col("nrm") > 0) // NaN-guard: see cosineTopK (NaN >= threshold is
      // TRUE under Spark's NaN-largest ordering, so zero vectors would pair
      // with everything in an operator documented as exact)
      .withColumn("blk", pmod(xxhash64(col("id")), lit(nb)).cast("int"))
    // one row per block: (blk, ids, vecs, norms) — the dense-cell payload
    val blocks = v.groupBy(col("blk"))
      .agg(collect_list(struct(col("id"), col("v"), col("nrm"))).as("rows"))
    val grid = (for { i <- 0 until nb; j <- i until nb } yield (i, j))
      .toDF("bi", "bj")
    // The score stage below is COMPUTE-dense per byte (n²/2 dots per cell),
    // but the join's output partitioning is sized by bytes: shuffle
    // partitions, then AQE *coalesces* toward its advisory partition size —
    // bundling many cells into few tasks and idling cores (measured: util
    // 0.48 at 16 cores, 136 cells in ~16 score tasks). An explicit
    // repartition on the cell key with numPartitions set spreads cells
    // across tasks (AQE honors user-specified partition counts); the extra
    // exchange moves the same replicated payload the join already shuffled
    // once, a bytes-linear cost that the quadratic score stage amortizes.
    // Partition count is 16x shuffle partitions, NOT capped at nCells:
    // hashing nCells keys into exactly nCells bins is the balls-into-bins
    // worst case (~1/e of partitions empty, stragglers of 3-4 cells), while
    // a sparser key space cuts collisions and empty reduce tasks cost ~ms.
    // When cells outnumber partitions (huge nb), many cells per partition
    // balance by averaging instead.
    val scoreParts = 16 * shuffleParts
    val cells = blocks.join(broadcast(grid), col("blk") === col("bi"))
      .select(col("bi"), col("bj"), col("rows").as("lrows"))
      .join(blocks.select(col("blk").as("bj2"), col("rows").as("rrows")),
        col("bj") === col("bj2"))
      .repartition(scoreParts, col("bi"), col("bj"))
    // per-cell dense scoring; diagonal cells keep one orientation (a < b),
    // off-diagonal cells see each unordered pair exactly once
    val scoreCell = udf { (bi: Int, bj: Int, lrows: Seq[Row], rrows: Seq[Row]) =>
      def unpack(rs: Seq[Row]): (Array[Long], Array[Array[Float]], Array[Double]) = {
        val n   = rs.size
        val ids = new Array[Long](n)
        val vs  = new Array[Array[Float]](n)
        val ns  = new Array[Double](n)
        var i = 0
        rs.foreach { r =>
          ids(i) = r.getLong(0)
          vs(i)  = r.getSeq[Float](1).toArray
          ns(i)  = r.getDouble(2)
          i += 1
        }
        (ids, vs, ns)
      }
      val (lid, lv, ln) = unpack(lrows)
      val (rid, rv, rn) = unpack(rrows)
      val out  = scala.collection.mutable.ArrayBuffer.empty[(Long, Long, Double)]
      val diag = bi == bj
      var i = 0
      while (i < lid.length) {
        val a  = lid(i)
        val va = lv(i)
        var j = 0
        while (j < rid.length) {
          val b = rid(j)
          if (a != b && (!diag || a < b)) {
            val vb = rv(j)
            // VecDot parity: a length mismatch yields null there (pair
            // dropped), so ragged pairs are skipped, never prefix-scored
            if (vb.length == va.length) {
              // same left-to-right double accumulation as VecDot
              var acc = 0.0
              var d   = 0
              while (d < va.length) { acc += va(d).toDouble * vb(d).toDouble; d += 1 }
              val sim = acc / (ln(i) * rn(j))
              if (sim >= threshold)
                out += ((math.min(a, b), math.max(a, b), sim))
            }
          }
          j += 1
        }
        i += 1
      }
      out.toArray
    }
    cells
      .select(explode(scoreCell(col("bi"), col("bj"), col("lrows"), col("rrows"))).as("p"))
      .select(col("p._1").as("a"), col("p._2").as("b"),
        round(col("p._3"), 6).as("similarity"))
  }

  /** Embedding near-duplicate pairs: cosine >= threshold via LSH blocking +
    * exact verify (the embedding-space analogue of MinHash dedup). Use when
    * the threshold is high enough for hyperplane collisions to discriminate
    * (cos θ ≳ 0.6 for the defaults); below that use `nearDupPairsBlocked`.
    */
  def nearDupPairs(df: DataFrame, id: Column, vec: Column,
                   threshold: Double = 0.95, nBits: Int = 64, bands: Int = 16): DataFrame = {
    require(nBits >= 1 && nBits <= 64, "nBits must be in [1, 64]")
    require(nBits % bands == 0, "bands must divide nBits")
    val width = nBits / bands
    require(width < 64, "band width must be < 64 (mask arithmetic)")
    val mask = (1L << width) - 1
    val withSig = df.select(id.cast("long").as("doc_id"), vec.as("v"))
      .withColumn("nrm", sqrt(VecDot(col("v"), col("v"))))
      .where(col("nrm") > 0) // NaN-guard: see cosineTopK
      .withColumn("sig", hyperplaneSignature(nBits)(col("v")))
    val blocked = withSig.select(col("doc_id"), col("v"), col("nrm"), posexplode(
      array((0 until bands).map(q =>
        shiftright(col("sig"), q * width).bitwiseAND(lit(mask))): _*))
      .as(Seq("band", "block")))
    // Self-alias join (one signature pipeline + reused exchange;
    // shuffle_merge blocks a one-sided broadcast that would duplicate it);
    // score per banded candidate, THEN filter, THEN dedup the slim
    // (a, b, sim) rows — the threshold kills the vast majority of banded
    // candidates before anything re-shuffles.
    //
    // DELIBERATELY the opposite shape of Dedup.minhashLshPairs (slim bands,
    // dedup pairs, join signatures back): here the payload riding the band
    // exchange is the vector itself — bands × vecBytes per row (4 × 256 B at
    // the defaults) — comfortably below spill thresholds, while banding's
    // bounded key width makes raw candidate volume LARGE relative to
    // surviving pairs (Σ bucket² noise). Measured at 1M × 64-dim: this shape
    // 5.5 s; pair-dedup-then-rejoin 632 s (the ~30M-pair distinct plus two
    // skewed re-joins against the vec table dwarf the 1.2 GB exchange it
    // saves). The minhash trade flips because its banded payload is a
    // 128-slot signature (~520 B × 32 bands ≈ a measured 20 GB sort spill at
    // 500k docs) and its estimate is cheap per pair. For FAT vectors
    // (dim ≳ 512) at billion scale, reduce `bands` or band on a slim
    // sig-derived key and accept the re-join — the breakeven is
    // bands × vecBytes × n versus candidates × (16 B + re-join).
    blocked.as("l").hint("shuffle_merge")
      .join(blocked.as("r").hint("shuffle_merge"),
        col("l.band") === col("r.band") && col("l.block") === col("r.block")
          && col("l.doc_id") < col("r.doc_id"))
      .withColumn("similarity",
        VecDot(col("l.v"), col("r.v")) / (col("l.nrm") * col("r.nrm")))
      .where(col("similarity") >= threshold)
      .select(col("l.doc_id").as("a"), col("r.doc_id").as("b"),
        round(col("similarity"), 6).as("similarity"))
      .distinct()
  }
}
