package graft.core

/** Rules shared by the plain and sliding sketches: item order, the decay
  * probability, the collision-decay trials, the point estimate and the merge
  * cell rule.
  */
private[core] object SketchOps {

  /** Item tie-break comparison by Unicode CODE POINT — equivalent to
    * comparing the UTF-8 byte sequences (UTF-8 is order-preserving in code
    * points), which is the order used by Go's string `<` (the reference's
    * heap tie-break, heap/heap.go:65-72), Spark's UTF8String and DuckDB.
    * Java's String.compareTo compares UTF-16 units, which sorts
    * supplementary characters (surrogate pairs, 0xD800-0xDBFF) BEFORE
    * [U+E000, U+FFFF] — the opposite of byte order. Identical to compareTo
    * for BMP-only strings (all golden vectors).
    */
  def compareItems(a: String, b: String): Int = {
    val n = math.min(a.length, b.length)
    var i = 0
    while (i < n) {
      val ca = a.charAt(i)
      val cb = b.charAt(i)
      if (ca != cb) {
        // a high surrogate starts a code point >= U+10000: rank it above
        // every BMP char (low surrogates only follow highs in well-formed
        // strings, and two highs order consistently with their code points)
        val ra = if (ca >= 0xD800 && ca < 0xDC00) ca + 0x2800 else ca.toInt
        val rb = if (cb >= 0xD800 && cb < 0xDC00) cb + 0x2800 else cb.toInt
        return ra - rb
      }
      i += 1
    }
    a.length - b.length
  }

  /** (count desc, item asc-by-code-point) — the emission order. */
  @inline def entryOrder(x: TopKEntry, y: TopKEntry): Boolean =
    x.count > y.count || (x.count == y.count && compareItems(x.item, y.item) < 0)

  /** decay^count via LUT, with the reference's closed-form extension for
    * counts beyond the LUT (sketch.go:146-153).
    */
  @inline def decayAt(decayLUT: Array[Float], count: Long): Float = {
    val lutSize = decayLUT.length
    if (count < lutSize) decayLUT(count.toInt)
    else {
      val q = count / (lutSize - 1)
      val r = (count % (lutSize - 1)).toInt
      math.pow(decayLUT(lutSize - 1).toDouble, q.toDouble).toFloat * decayLUT(r)
    }
  }

  /** Collision decay (reference: sketch.go:141-165): the trials of adding
    * `increment` to a bucket another item holds at `count`. Each trial
    * decrements the bucket with probability decay^count; once it reaches 0
    * the remaining mass takes the bucket over. Above
    * `Sketch.GeometricSkipThreshold` remaining trials, the run of failed
    * trials before the next decrement is drawn in closed form (one draw per
    * decrement) instead — a 2e9-weight add must not spin 2e9 times. Returns
    * the bucket's new count (>= 1), or the takeover mass negated.
    *
    * Each draw depends only on the running count and the RNG, never on
    * which sub-counter a decrement lands in, so a ring sketch may apply the
    * decrements after the trials and match per-trial decrements exactly.
    */
  def decayTrials(count: Long, increment: Long, decayLUT: Array[Float], rng: Rng): Long = {
    var c         = count
    var remaining = increment
    while (remaining > 0L) {
      val decay = decayAt(decayLUT, c)
      if (remaining <= Sketch.GeometricSkipThreshold) {
        // reference-exact per-trial draws (one draw per increment unit)
        if (rng.nextFloat() < decay) {
          c -= 1
          if (c == 0L) return -remaining
        }
        remaining -= 1
      } else {
        val k = rng.geometricTrials(decay)
        if (k > remaining) remaining = 0L // all remaining trials failed
        else {
          c -= 1
          // the successful trial does not consume its unit, as above
          if (c == 0L) return -(remaining - (k - 1))
          remaining -= k
        }
      }
    }
    c
  }

  /** Max count over the item's buckets whose fingerprint is `fp`, else 0
    * (reference: sketch.go:90-111).
    */
  def estimate(bytes: Array[Byte], fp: Int, fingerprints: Array[Int], counts: Array[Long],
               depth: Int, width: Int): Long = {
    var mx  = 0L
    var row = 0
    while (row < depth) {
      val idx = Hashing.bucketIndex(bytes, row, width)
      if (fingerprints(idx) == fp && counts(idx) > mx) mx = counts(idx)
      row += 1
    }
    mx
  }

  /** Merge's cell rule: whether the other side's cell (count `cb` > 0,
    * fingerprint `fb`) replaces this one (`ca`, `fa`) when they hold
    * different items — it wins an empty cell, a larger count, or a tie by
    * the smaller unsigned fingerprint, so the merge is commutative.
    */
  @inline def otherWins(ca: Long, fa: Int, cb: Long, fb: Int): Boolean =
    ca == 0L || cb > ca || (cb == ca && (fb.toLong & 0xffffffffL) < (fa.toLong & 0xffffffffL))
}
