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
) extends Serializable {
  require(k > 0, s"k must be positive, got $k")
  require(width > 0 && depth > 0, s"invalid geometry ${width}x$depth")
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
  require(decay > 0f && decay <= 1f, s"decay must be in (0,1], got $decay")
  // same guard as SketchConfig: lutSize <= 1 would divide by zero (or index
  // negatively) in SketchOps.decayAt at the first collision decay
  require(lutSize > 1, s"lutSize must be > 1, got $lutSize")
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
    val logK  = math.log(k.toDouble).toInt
    val klogK = (k.toDouble * math.log(k.toDouble)).toInt
    // -1 = unset (defaults to windowSize); explicit values are clamped to
    // [1, windowSize] like the reference (sliding/sketch.go:68-73).
    val hist0 = if (bucketHistoryLength == -1) windowSize else bucketHistoryLength
    val hist  = math.min(math.max(hist0, 1), windowSize)
    SlidingConfig(
      k = k,
      width = if (width > 0) width else math.max(256, klogK),
      depth = if (depth > 0) depth else math.max(3, logK),
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
final class SlidingSketch(val cfg: SlidingConfig) {
  val width: Int  = cfg.width
  val depth: Int  = cfg.depth
  val hist: Int   = cfg.bucketHistoryLength
  private val m   = width * depth

  val decayLUT: Array[Float]   = SketchConfig.decayLut(cfg.decay, cfg.lutSize)
  val fingerprints: Array[Int] = new Array[Int](m)
  val first: Array[Int]        = new Array[Int](m)
  val countsSum: Array[Long]   = new Array[Long](m)
  val ring: Array[Long]        = new Array[Long](m * hist)
  var nextBucketToExpire: Int  = 0
  val heap: MinHeap            = new MinHeap(cfg.k)
  val rng: Rng                 = new Rng(cfg.seed)

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
        val item  = heap.itemAt(i)
        val fp    = heap.fingerprintAt(i)
        val bytes = item.getBytes(StandardCharsets.UTF_8)
        var mx    = 0L
        var row   = 0
        while (row < depth) {
          val idx = Hashing.bucketIndex(bytes, row, width)
          if (fingerprints(idx) == fp && countsSum(idx) > mx) mx = countsSum(idx)
          row += 1
        }
        heap.setCountAt(i, mx)
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

  def incr(item: String): Boolean = add(item, 1L)

  def add(item: String, increment: Long): Boolean =
    add(item, item.getBytes(StandardCharsets.UTF_8), increment)

  /** Core sliding update (reference: sliding/sketch.go:190-247). */
  def add(item: String, bytes: Array[Byte], increment: Long): Boolean = {
    // uint32 increment domain, same guard as Sketch.addBytes: a negative
    // weight would break the countsSum==0 empty-bucket sentinel and index
    // the decay LUT negatively (streaming feeds user weights through here)
    if (increment <= 0L) return false
    val fingerprint = Hashing.fingerprint(bytes)
    var maxSum      = 0L
    var row         = 0
    while (row < depth) {
      val idx  = Hashing.bucketIndex(bytes, row, width)
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
        if (increment > maxSum) maxSum = increment
      } else if (fingerprints(idx) == fingerprint) { // own bucket
        ring(base + first(idx)) += increment
        val s = sum + increment
        countsSum(idx) = s
        if (s > maxSum) maxSum = s
      } else { // collision: decay the minimum non-zero ring slot
        // LOCKSTEP with Sketch.updateBucket's collision branch: same trial
        // loop shape (threshold check, geometricTrials bookkeeping,
        // k > incrementRemaining early-out, takeover remainder), different
        // decrement/takeover target (ring min-slot here, scalar count
        // there). Any fix to either loop MUST be applied to both.
        var s                  = sum
        var incrementRemaining = increment
        var break              = false
        while (incrementRemaining > 0 && !break) {
          val decay = decayAt(s)
          if (incrementRemaining <= Sketch.GeometricSkipThreshold) {
            // reference-exact per-trial draws
            if (rng.nextFloat() < decay) {
              val slot = findNonzeroMinimumSlot(idx)
              ring(base + slot) -= 1
              s -= 1
              if (s == 0L) {
                // takeover: all slots are zero; the reference writes the
                // remaining mass at slot 0 (sliding/sketch.go:236), not at
                // `first` — ported faithfully.
                fingerprints(idx) = fingerprint
                s = incrementRemaining
                ring(base) = incrementRemaining
                if (s > maxSum) maxSum = s
                break = true
              }
            }
            if (!break) incrementRemaining -= 1
          } else {
            // huge weighted adds: closed-form geometric skip (see
            // Sketch.GeometricSkipThreshold) — one draw per decrement
            val k = rng.geometricTrials(decay)
            if (k > incrementRemaining) {
              incrementRemaining = 0L
            } else {
              val slot = findNonzeroMinimumSlot(idx)
              ring(base + slot) -= 1
              s -= 1
              if (s == 0L) {
                fingerprints(idx) = fingerprint
                s = incrementRemaining - (k - 1)
                ring(base) = s
                if (s > maxSum) maxSum = s
                break = true
              } else {
                incrementRemaining -= k
              }
            }
          }
        }
        countsSum(idx) = s
      }
      row += 1
    }
    heap.update(item, fingerprint, maxSum)
  }

  @inline private def decayAt(count: Long): Float =
    SketchOps.decayAt(decayLUT, count)

  /** Point estimate over the window (reference: sliding/sketch.go:131-152). */
  def count(item: String): Long = {
    val tracked = heap.countOf(item)
    if (tracked >= 0) return tracked
    val bytes = item.getBytes(StandardCharsets.UTF_8)
    val fp    = Hashing.fingerprint(bytes)
    var mx    = 0L
    var row   = 0
    while (row < depth) {
      val idx = Hashing.bucketIndex(bytes, row, width)
      if (fingerprints(idx) == fp && countsSum(idx) > mx) mx = countsSum(idx)
      row += 1
    }
    mx
  }

  def query(item: String): Boolean = heap.contains(item)

  def sortedSlice: Array[TopKEntry] = heap.sorted

  def iterEntries: Array[TopKEntry] = heap.entries.filter(_.count > 0)

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
    require(other.width == width && other.depth == depth && other.hist == hist,
      "sliding sketch geometry mismatch")
    // windowSize sets the tick-ageing cadence (ticks(n) ages n·hist·m/N
    // buckets): two sketches with different N cannot have observed the same
    // tick schedule, so a silent union would mix rings aged at different
    // rates — fail fast like any other geometry mismatch
    require(other.cfg.windowSize == cfg.windowSize,
      s"sliding window size mismatch: ${cfg.windowSize} vs ${other.cfg.windowSize}")
    // same rationale as Sketch.merge: k fixes the union heap's capacity,
    // decay/seed steer collision paths — a mismatch makes results depend
    // on nondeterministic merge direction instead of failing fast
    require(other.cfg.k == cfg.k && other.cfg.decay == cfg.decay &&
      other.cfg.seed == cfg.seed && other.cfg.lutSize == cfg.lutSize,
      s"sliding sketch config mismatch: k=${cfg.k}/${other.cfg.k} " +
        s"decay=${cfg.decay}/${other.cfg.decay} seed=${cfg.seed}/${other.cfg.seed} " +
        s"lutSize=${cfg.lutSize}/${other.cfg.lutSize}")
    var b = 0
    while (b < m) {
      val ca = countsSum(b); val cb = other.countsSum(b)
      if (cb != 0L) {
        if (ca == 0L) {
          fingerprints(b) = other.fingerprints(b)
          first(b) = other.first(b)
          countsSum(b) = cb
          System.arraycopy(other.ring, b * hist, ring, b * hist, hist)
        } else if (fingerprints(b) == other.fingerprints(b)) {
          // same flow: add slot-wise, aligned relative to each ring's head
          var s = 0
          while (s < hist) {
            ring(b * hist + (first(b) + s) % hist) +=
              other.ring(b * hist + (other.first(b) + s) % hist)
            s += 1
          }
          countsSum(b) = ca + cb
        } else if (cb > ca || (cb == ca &&
            (other.fingerprints(b).toLong & 0xffffffffL) < (fingerprints(b).toLong & 0xffffffffL))) {
          fingerprints(b) = other.fingerprints(b)
          first(b) = other.first(b)
          countsSum(b) = cb
          System.arraycopy(other.ring, b * hist, ring, b * hist, hist)
        }
      }
      b += 1
    }
    SketchOps.rebuildHeapFromUnion(heap, other.heap.entries, cfg.k,
      depth, width, fingerprints, countsSum(_))
    this
  }
}
