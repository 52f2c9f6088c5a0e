package graft.functions

/** SQL "macro" builders for plan SHAPES the expression registry alone cannot
  * express. A tree-merged global aggregation is a two-stage GROUP BY, not a
  * scalar function: DataFrame callers get a bounded merge for free in
  * `TopK.aggregate`/`TopK.tokensArray` (a driver fold of at most 64 buffers,
  * `graft.plans.GlobalTopK`), while pure-SQL users had
  * to hand-compose the `pmod(spark_partition_id(), N)` pipeline documented
  * at the `topk_tokens_sketch` builder. These helpers generate that text so
  * the composition lives in ONE place (and its spec).
  */
object SqlMacros {

  /** SQL for a tree-merged token top-K over `table.tokensCol` (an array
    * column): partials grouped by `pmod(spark_partition_id(), fanIn)` →
    * `topk_merge` → `topk_rows`, emitting (item, count, fingerprint) in
    * SortedSlice order. The same bounded merge as `TopK.tokensArray`, run
    * as two SQL aggregation stages (that plan folds at most 64 buffers on
    * the driver, merge tasks of 64 first past that, and unions the same
    * TKP2 sketches); use fanIn ≈ 64 so the final task decodes O(fanIn)
    * blobs, not O(partitions) (a flat merge's Amdahl tail — BENCH.md, heavy
    * 4→16 efficiency 0.69 → 0.90).
    *
    * `width`/`depth` (and optionally `decay`) pass through to
    * `topk_tokens_sketch`; leave them unset (≤ 0) for the engine defaults.
    * ACCURACY NOTE: per-partial heaps can drop an item that is top-k
    * globally but not top-k in any slice (SqlFunctions' blob-surface note),
    * so the generated partials oversample — the sketch k is k×oversample
    * (default 4, matching `TopK.tokensArray`'s internal buffer), the
    * GEOMETRY stays pinned to the user's k (explicit width/depth are always
    * emitted, defaulting from k, never from the oversampled k), and
    * `topk_rows` trims the merged sketch back to k.
    */
  def topkTokensTreeSql(
      table: String,
      tokensCol: String,
      k: Int,
      fanIn: Int = 64,
      width: Int = -1,
      depth: Int = -1,
      decay: Double = -1.0,
      oversample: Int = 4
  ): String = {
    require(k > 0, s"k must be positive, got $k")
    require(fanIn > 0, s"fanIn must be positive, got $fanIn")
    require(oversample > 0, s"oversample must be positive, got $oversample")
    require(width > 0 == depth > 0,
      s"width and depth must be set together, got width=$width depth=$depth")
    require(decay <= 0 || (decay > 0 && decay <= 1),
      s"decay must be in (0,1], got $decay")
    // resolve geometry from the USER's k (engine defaults), so oversampling
    // the heap doesn't silently widen the sketch the way a bare
    // topk_tokens_sketch(col, k*4) call would
    val cfg = graft.core.SketchConfig.withDefaults(k,
      width = width, depth = depth)
    val geo =
      if (decay <= 0) s", ${cfg.width}, ${cfg.depth}"
      else s", ${cfg.width}, ${cfg.depth}, $decay"
    s"""WITH partials AS (
       |  SELECT pmod(spark_partition_id(), $fanIn) AS g,
       |         topk_tokens_sketch($tokensCol, ${k * oversample}$geo) AS b
       |  FROM $table GROUP BY 1),
       |merged AS (SELECT topk_merge(b) AS mb FROM partials)
       |SELECT e.item, e.count, e.fingerprint FROM merged
       |LATERAL VIEW explode(topk_rows(mb, $k)) t AS e
       |ORDER BY e.count DESC, e.item""".stripMargin
  }
}
