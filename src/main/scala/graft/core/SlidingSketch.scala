package graft.core

import java.nio.charset.StandardCharsets

/** Sliding-window sketch configuration (reference: sliding/sketch.go:45-80,
  * sliding/options.go): plain defaults plus `windowSize` (N ticks) and
  * `bucketHistoryLength` (ring slots per bucket; defaults to windowSize,
  * clamped to [1, windowSize] — sliding/sketch.go:68-73).
  */
final case class SlidingConfig(
    k: Int,
    width: Int,
    depth: Int,
    windowSize: Int,
    bucketHistoryLength: Int,
    decay: Float = 0.9f,
    lutSize: Int = 256,
    seed: Long = 0x5eed_70c4L
) extends Serializable with HeavyKeeperParams {
  require(windowSize > 0, s"windowSize must be positive, got $windowSize")
  require(bucketHistoryLength >= 1 && bucketHistoryLength <= windowSize,
    s"bucketHistoryLength $bucketHistoryLength outside [1, $windowSize]")
  // the ring is ONE flat array of width*depth*hist slots: a wrapped product
  // (default hist = windowSize makes this reachable with a multi-million-
  // tick window) would crash with NegativeArraySizeException or, worse,
  // allocate a silently wrong-sized ring
  require(width.toLong * depth * bucketHistoryLength <= Int.MaxValue,
    s"geometry ${width}x$depth x hist=$bucketHistoryLength overflows the " +
      s"ring array (${width.toLong * depth * bucketHistoryLength} slots); " +
      "cap BucketHistoryLength (ring slots per bucket) below windowSize")
}

object SlidingConfig {
  def withDefaults(
      k: Int,
      windowSize: Int,
      width: Int = -1,
      depth: Int = -1,
      bucketHistoryLength: Int = -1,
      decay: Float = 0.9f,
      lutSize: Int = 256,
      seed: Long = 0x5eed_70c4L
  ): SlidingConfig = {
    // -1 = unset (defaults to windowSize); explicit values are clamped to
    // [1, windowSize] like the reference (sliding/sketch.go:68-73).
    val hist0 = if (bucketHistoryLength == -1) windowSize else bucketHistoryLength
    val hist  = math.min(math.max(hist0, 1), windowSize)
    SlidingConfig(
      k = k,
      width = SketchConfig.defaultWidth(k, width),
      depth = SketchConfig.defaultDepth(k, depth),
      windowSize = windowSize,
      bucketHistoryLength = hist,
      decay = decay,
      lutSize = lutSize,
      seed = seed
    )
  }
}

/** Sliding-window HeavyKeeper top-K sketch, after "A Sketch Framework for
  * Approximate Data Stream Processing in Sliding Windows" (TKDE 2022) as
  * realized by the reference (reference: sliding/sketch.go, sliding/bucket.go).
  *
  * Each of the depth×width buckets carries a circular buffer of
  * `bucketHistoryLength` per-age sub-counters (head at `first(i)`) plus a
  * cached sum. `ticks(n)` ages `max(1, n·hist·m/N)` buckets round-robin from a
  * cursor — over N ticks every bucket expires its full ring — then recounts
  * the heap (sliding/sketch.go:110-129).
  *
  * Ring storage is flattened into primitive arrays (m fingerprints, m heads,
  * m cached sums, m×hist slot counters) — same layout economics as the
  * reference's slice-of-structs, friendlier to JVM GC and fast to serialize
  * into a Spark state store.
  */
final class SlidingSketch(val cfg: SlidingConfig) extends HeavyKeeper(cfg) {
  val hist: Int   = cfg.bucketHistoryLength
  private val m   = width * depth

  val first: Array[Int]        = new Array[Int](m)
  val countsSum: Array[Long]   = new Array[Long](m)
  val ring: Array[Long]        = new Array[Long](m * hist)
  var nextBucketToExpire: Int  = 0

  protected def bucketCounts: Array[Long] = countsSum

  /** Expire the oldest ring slot of bucket `b` — the slot *behind* `first` —
    * and make it the new head (reference: sliding/bucket.go:14-28).
    */
  private def tickBucket(b: Int): Unit = {
    if (countsSum(b) == 0L) return
    val base = b * hist
    val last = if (first(b) == 0) hist - 1 else first(b) - 1
    countsSum(b) -= ring(base + last)
    ring(base + last) = 0L
    first(b) = last
  }

  /** Index (within the ring) of the minimum non-zero slot, scanning from the
    * head (reference: sliding/bucket.go:30-52). Only called when the bucket
    * has a non-zero sum.
    */
  private def findNonzeroMinimumSlot(b: Int): Int = {
    val base   = b * hist
    var minIdx = 0
    var minVal = 0L
    var found  = false
    var i      = first(b)
    var step   = 0
    while (step < hist) {
      if (i == hist) i = 0
      val c = ring(base + i)
      if (c != 0L && (!found || c < minVal)) {
        minVal = c; minIdx = i; found = true
      }
      i += 1
      step += 1
    }
    minIdx
  }

  def tick(): Unit = ticks(1)

  /** Advance time by n ticks (reference: sliding/sketch.go:110-129). */
  def ticks(n: Int): Unit = {
    if (n == 0) return
    var cursor       = nextBucketToExpire
    val bucketsToAge = math.max(1L, n.toLong * hist * m / cfg.windowSize)
    if (bucketsToAge >= m.toLong * hist) {
      // Fast path for large watermark jumps: every bucket ages >= hist times,
      // which fully clears every ring (further ages are no-ops on empty
      // buckets). Equivalent to the reference loop, O(m·hist) instead of
      // O(n·m). `first` must land where the per-tick loop would leave it —
      // tickBucket early-returns once the bucket is empty, so the final head
      // is the slot whose expiry emptied the bucket: the first NON-ZERO slot
      // scanning forward from the current head (expiry walks backwards from
      // head-1, so the head-forward-nearest non-zero slot is expired last).
      // An absolute reset to 0 would change the age of a later collision
      // takeover's mass (the reference writes takeover mass at absolute
      // slot 0 — see add()).
      var b = 0
      while (b < m) {
        if (countsSum(b) != 0L) {
          val base = b * hist
          var i    = first(b)
          var step = 0
          var done = false
          while (step < hist && !done) {
            if (ring(base + i) != 0L) { first(b) = i; done = true }
            i += 1
            if (i == hist) i = 0
            step += 1
          }
          java.util.Arrays.fill(ring, base, base + hist, 0L)
          countsSum(b) = 0L
        }
        b += 1
      }
      nextBucketToExpire = ((cursor + bucketsToAge) % m).toInt
      recountHeapItems()
      return
    }
    var i = 0L
    while (i < bucketsToAge) {
      tickBucket(cursor)
      cursor += 1
      if (cursor == m) cursor = 0
      i += 1
    }
    nextBucketToExpire = cursor
    recountHeapItems()
  }

  /** Recompute every tracked item's count from its (aged) buckets, then purge
    * zero-count entries (reference: sliding/sketch.go:154-181).
    */
  def recountHeapItems(): Unit = {
    var i = 0
    while (i < heap.size) {
      if (heap.countAt(i) != 0L) {
        val bytes = heap.itemAt(i).getBytes(StandardCharsets.UTF_8)
        heap.setCountAt(i,
          SketchOps.estimate(bytes, heap.fingerprintAt(i), fingerprints, countsSum, depth, width))
      }
      i += 1
    }
    heap.reinit()
  }

  /** Whether any bucket still holds in-window mass — including mass for
    * items the bounded heap is not tracking. Used by streaming state cleanup:
    * heap-empty alone does not mean the window is drained.
    */
  def hasResidualMass: Boolean = {
    var b = 0
    while (b < m) {
      if (countsSum(b) != 0L) return true
      b += 1
    }
    false
  }

  /** Core sliding bucket update (reference: sliding/sketch.go:190-247). */
  protected def updateBucket(idx: Int, fingerprint: Int, increment: Long): Long = {
    val base = idx * hist
    val sum  = countsSum(idx)
    if (sum == 0L) { // empty bucket: claim it
      // invariant: slots are non-negative and countsSum == Σ slots, so
      // sum == 0 already implies every ring slot is 0 — no fill needed
      // (decay only decrements non-zero minimum slots; tick zeroes the
      // expiring slot; takeover happens exactly at sum == 0)
      fingerprints(idx) = fingerprint
      ring(base + first(idx)) = increment
      countsSum(idx) = increment
      increment
    } else if (fingerprints(idx) == fingerprint) { // own bucket
      ring(base + first(idx)) += increment
      val s = sum + increment
      countsSum(idx) = s
      s
    } else { // collision: each decrement hits the minimum non-zero ring slot
      val c = SketchOps.decayTrials(sum, increment, decayLUT, rng)
      if (c > 0L) {
        var d = sum - c
        while (d > 0L) { ring(base + findNonzeroMinimumSlot(idx)) -= 1; d -= 1 }
        countsSum(idx) = c
        0L
      } else {
        // takeover: the decrements emptied every slot; the reference writes
        // the remaining mass at slot 0 (sliding/sketch.go:236), not at
        // `first` — ported faithfully
        java.util.Arrays.fill(ring, base, base + hist, 0L)
        fingerprints(idx) = fingerprint
        ring(base) = -c
        countsSum(idx) = -c
        -c
      }
    }
  }

  def reset(): Unit = {
    java.util.Arrays.fill(fingerprints, 0)
    java.util.Arrays.fill(first, 0)
    java.util.Arrays.fill(countsSum, 0L)
    java.util.Arrays.fill(ring, 0L)
    nextBucketToExpire = 0
    heap.reset()
  }

  def sizeBytes: Long =
    96L + m.toLong * (4 + 4 + 8) + ring.length.toLong * 8 +
      decayLUT.length.toLong * 4 + heap.sizeBytes

  /** Commutative union of two tick-aligned sliding sketches (engine extension,
    * not in the reference; see Sketch.merge). Both sides must have identical
    * geometry AND have observed the same tick schedule (true for Spark partial
    * aggregation, where ticks never fire mid-aggregation).
    */
  def merge(other: SlidingSketch): SlidingSketch = {
    require(other.hist == hist, "sliding sketch geometry mismatch")
    // windowSize sets the tick-ageing cadence (ticks(n) ages n·hist·m/N
    // buckets): two sketches with different N cannot have observed the same
    // tick schedule, so a silent union would mix rings aged at different
    // rates — fail fast like any other geometry mismatch
    require(other.cfg.windowSize == cfg.windowSize,
      s"sliding window size mismatch: ${cfg.windowSize} vs ${other.cfg.windowSize}")
    requireMergeable(other, "sliding sketch")
    var b = 0
    while (b < m) {
      val ca = countsSum(b); val cb = other.countsSum(b)
      if (cb != 0L) {
        if (ca != 0L && fingerprints(b) == other.fingerprints(b)) {
          // same flow: add slot-wise, aligned relative to each ring's head
          var s = 0
          while (s < hist) {
            ring(b * hist + (first(b) + s) % hist) +=
              other.ring(b * hist + (other.first(b) + s) % hist)
            s += 1
          }
          countsSum(b) = ca + cb
        } else if (SketchOps.otherWins(ca, fingerprints(b), cb, other.fingerprints(b))) {
          fingerprints(b) = other.fingerprints(b)
          first(b) = other.first(b)
          countsSum(b) = cb
          System.arraycopy(other.ring, b * hist, ring, b * hist, hist)
        }
      }
      b += 1
    }
    rebuildHeapFromUnion(other)
    this
  }
}
