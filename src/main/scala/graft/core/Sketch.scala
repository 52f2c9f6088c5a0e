package graft.core

import java.nio.charset.StandardCharsets

import org.apache.spark.unsafe.Platform
import org.apache.spark.unsafe.array.ByteArrayMethods

/** The HeavyKeeper parameters the plain and sliding configurations share,
  * and the checks on them.
  */
trait HeavyKeeperParams {
  def k: Int
  def width: Int
  def depth: Int
  def decay: Float
  def lutSize: Int
  def seed: Long

  // the Go reference panics on K=0 (heap/heap.go:162 index out of range);
  // we fail fast with a message instead
  require(k > 0, s"k must be positive, got $k")
  require(width > 0 && depth > 0, s"invalid geometry ${width}x$depth")
  require(decay > 0f && decay <= 1f, s"decay must be in (0,1], got $decay")
  // lutSize <= 1 would divide by zero (or index negatively) in
  // SketchOps.decayAt at the first collision decay
  require(lutSize > 1, s"lutSize must be > 1, got $lutSize")
}

/** Sketch configuration with the reference's defaults
  * (reference: sketch.go:41-67, options.go:3-17):
  * width = max(256, ⌊k·ln k⌋), depth = max(3, ⌊ln k⌋), decay = 0.9, LUT size 256.
  */
final case class SketchConfig(
    k: Int,
    width: Int,
    depth: Int,
    decay: Float = 0.9f,
    lutSize: Int = 256,
    seed: Long = 0x5eed_70c4L
) extends Serializable with HeavyKeeperParams {
  // width/depth are user-reachable as SQL literals: a wrapped product would
  // surface as a zero-length cell array + AIOOBE on the first add
  require(width.toLong * depth <= Int.MaxValue,
    s"geometry ${width}x$depth overflows the cell array (${width.toLong * depth} cells)")
}

object SketchConfig {
  def withDefaults(
      k: Int,
      width: Int = -1,
      depth: Int = -1,
      decay: Float = 0.9f,
      lutSize: Int = 256,
      seed: Long = 0x5eed_70c4L
  ): SketchConfig =
    SketchConfig(k, defaultWidth(k, width), defaultDepth(k, depth), decay, lutSize, seed)

  /** `width` if set (> 0), else the reference's max(256, ⌊k·ln k⌋). */
  private[core] def defaultWidth(k: Int, width: Int): Int =
    if (width > 0) width else math.max(256, (k.toDouble * math.log(k.toDouble)).toInt)

  /** `depth` if set (> 0), else the reference's max(3, ⌊ln k⌋). */
  private[core] def defaultDepth(k: Int, depth: Int): Int =
    if (depth > 0) depth else math.max(3, math.log(k.toDouble).toInt)

  // LUTs are pure functions of (decay, size); memoize so many-group
  // aggregations (sessions, fine windows) don't rebuild one per buffer
  private val lutCache =
    new java.util.concurrent.ConcurrentHashMap[(Float, Int), Array[Float]]()

  def decayLut(decay: Float, lutSize: Int): Array[Float] =
    lutCache.computeIfAbsent((decay, lutSize), { case (d, n) =>
      Array.tabulate(n)(i => math.pow(d.toDouble, i.toDouble).toFloat)
    })
}

/** The HeavyKeeper update shared by the plain and sliding sketches
  * (reference: sketch.go:118-170, sliding/sketch.go:190-247): a depth×width
  * array of fingerprinted buckets plus a bounded min-heap of the top-K items.
  * An add fingerprints the item, updates its bucket in every row, and offers
  * the max per-row count to the heap. Subclasses own the bucket counters
  * (a scalar per bucket, or a ring of per-tick sub-counters) and so the
  * per-bucket update.
  */
abstract class HeavyKeeper private[core] (private val params: HeavyKeeperParams) {
  val width: Int  = params.width
  val depth: Int  = params.depth

  val decayLUT: Array[Float]   = SketchConfig.decayLut(params.decay, params.lutSize)
  val fingerprints: Array[Int] = new Array[Int](width * depth)
  val heap: MinHeap            = new MinHeap(params.k)
  val rng: Rng                 = new Rng(params.seed)

  /** Each bucket's current count, the one the point estimate reads. */
  protected def bucketCounts: Array[Long]

  /** One bucket's update (reference: sketch.go:129-166): claim it if empty,
    * increment it if owned, else run the collision-decay trials. Returns the
    * resulting count if the bucket now belongs to the item, else 0 (for the
    * max-over-rows fold).
    */
  protected def updateBucket(idx: Int, fingerprint: Int, increment: Long): Long

  def incr(item: String): Boolean = add(item, 1L)

  def add(item: String, increment: Long): Boolean =
    add(item, item.getBytes(StandardCharsets.UTF_8), increment)

  def add(item: String, bytes: Array[Byte], increment: Long): Boolean =
    addBytes(bytes, 0, bytes.length, increment, item)

  /** Core update over a UTF-8 byte slice. `item` may be null; the String key
    * is materialized lazily, only when the update actually reaches the heap.
    */
  def addBytes(bytes: Array[Byte], off: Int, len: Int, increment: Long,
               item: String): Boolean = {
    java.util.Objects.checkFromIndexSize(off, len, bytes.length)
    addAt(bytes, Platform.BYTE_ARRAY_OFFSET + off, len, increment, item)
  }

  // --- allocation-free hot path -------------------------------------------
  // The reference's zero-allocation property (README benchmark: 0 B/op) is
  // preserved on the JVM by (a) hashing items in place without materializing
  // Strings, (b) encoding integer tokens into a reusable scratch buffer
  // (Sketch.addToken), and (c) materializing the heap's String key only when
  // an update actually reaches the heap — with a small fingerprint-keyed memo
  // so hot items materialize once.

  private var cacheFp: Array[Int]              = _
  private var cacheBytes: Array[Array[Byte]]   = _
  private var cacheStr: Array[String]          = _
  private final val CacheSlots                 = 4096

  /** The one add kernel: `len` bytes at `offset` of a `Platform` memory base
    * (a byte array at `BYTE_ARRAY_OFFSET + off`, or a UTF8String payload).
    */
  protected final def addAt(base: AnyRef, offset: Long, len: Int, increment: Long,
                            item: String): Boolean = {
    // the reference's increment domain is uint32 (sketch.go:118); reject
    // non-positive weights so a user-supplied weight column can't drive an
    // owned bucket negative or claim an empty bucket with count <= 0 (which
    // would break the count==0 empty-bucket sentinel and heap invariants)
    if (increment <= 0L) return false
    val fingerprint = Hashing.fingerprintAt(base, offset, len)
    var maxCount    = 0L
    var row         = 0
    while (row < depth) {
      val c = updateBucket(Hashing.bucketIndexAt(base, offset, len, row, width), fingerprint, increment)
      if (c > maxCount) maxCount = c
      row += 1
    }
    // admission precheck mirrors heap.update's reject rule (heap/heap.go:137)
    // so rejected updates never materialize a String
    if (maxCount < heap.minCount && heap.isFull) false
    else heap.update(materialize(fingerprint, base, offset, len, item), fingerprint, maxCount)
  }

  private def materialize(fp: Int, base: AnyRef, offset: Long, len: Int,
                          item: String): String = {
    if (item != null) return item
    if (cacheFp == null) {
      cacheFp = new Array[Int](CacheSlots)
      cacheBytes = new Array[Array[Byte]](CacheSlots)
      cacheStr = new Array[String](CacheSlots)
    }
    val slot = fp & (CacheSlots - 1)
    val cb   = cacheBytes(slot)
    if (cacheFp(slot) == fp && cb != null && cb.length == len &&
        ByteArrayMethods.arrayEquals(cb, Platform.BYTE_ARRAY_OFFSET, base, offset, len))
      return cacheStr(slot)
    val bytes = new Array[Byte](len)
    Platform.copyMemory(base, offset, bytes, Platform.BYTE_ARRAY_OFFSET, len)
    val s = new String(bytes, StandardCharsets.UTF_8)
    cacheFp(slot) = fp
    cacheBytes(slot) = bytes
    cacheStr(slot) = s
    s
  }

  /** Point estimate (reference: sketch.go:90-111, sliding/sketch.go:131-152):
    * exact tracked count on a heap hit, else max matching-fingerprint bucket
    * count, else 0.
    */
  def count(item: String): Long = {
    val tracked = heap.countOf(item)
    if (tracked >= 0) return tracked
    val bytes = item.getBytes(StandardCharsets.UTF_8)
    SketchOps.estimate(bytes, Hashing.fingerprint(bytes), fingerprints, bucketCounts, depth, width)
  }

  /** Top-K membership (reference: sketch.go:172-175). */
  def query(item: String): Boolean = heap.contains(item)

  /** Top-K entries sorted by (count desc, item asc), zero counts trimmed
    * (reference: sketch.go:189-209).
    */
  def sortedSlice: Array[TopKEntry] = heap.sorted

  /** Unsorted non-zero tracked entries (reference: sketch.go:177-187). */
  def iterEntries: Array[TopKEntry] = heap.entries.filter(_.count > 0)

  /** Merge compatibility beyond geometry: a k mismatch makes the union's
    * candidate-heap CAPACITY depend on which side the merge direction kept
    * (blob arrival order is nondeterministic after a shuffle — same query,
    * different top-set sizes per run); decay/seed steer the collision paths.
    * Partials of one query always share them, so this rejects only genuinely
    * mixed pipelines.
    */
  protected final def requireMergeable(other: HeavyKeeper, what: String): Unit = {
    val (a, b) = (params, other.params)
    require(b.width == a.width && b.depth == a.depth, s"$what geometry mismatch")
    require(b.k == a.k && b.decay == a.decay && b.seed == a.seed && b.lutSize == a.lutSize,
      s"$what config mismatch: k=${a.k}/${b.k} decay=${a.decay}/${b.decay} " +
        s"seed=${a.seed}/${b.seed} lutSize=${a.lutSize}/${b.lutSize}")
  }

  /** Merge's heap rebuild, after the cells are merged: union both candidate
    * sets, re-estimate each item against the merged cells, and repopulate the
    * heap with the top-k under (count desc, item asc).
    */
  protected final def rebuildHeapFromUnion(other: HeavyKeeper): Unit = {
    val candidates = (heap.entries ++ other.heap.entries).map(_.item).distinct
    val estimated = candidates.map { it =>
      val bytes = it.getBytes(StandardCharsets.UTF_8)
      val fp    = Hashing.fingerprint(bytes)
      TopKEntry(fp, it, SketchOps.estimate(bytes, fp, fingerprints, bucketCounts, depth, width))
    }
    heap.reset()
    estimated.filter(_.count > 0).sortWith(SketchOps.entryOrder).take(params.k).foreach { e =>
      heap.update(e.item, e.fingerprint, e.count)
    }
  }
}

/** Plain (whole-stream / tumbling) HeavyKeeper top-K sketch.
  *
  * Semantics ported from the reference (reference: sketch.go:14-215):
  * one (fingerprint, count) cell per bucket; a colliding add decays the
  * bucket with probability decay^count (sketch.go:129-166).
  *
  * Counts are Long (superset of the reference's uint32; the reference may wrap
  * at 2^32, we simply don't). Storage is flat row-major primitive arrays, the
  * same cache-friendly layout as the reference (sketch.go:75-77).
  *
  * Beyond the reference: `merge` — a commutative sketch-union used as the
  * Spark partial-aggregation monoid (the reference is strictly single-writer
  * and has no union; see SURVEY.md §2.1).
  */
final class Sketch(val cfg: SketchConfig) extends HeavyKeeper(cfg) {
  private val cells = width * depth

  val counts: Array[Long] = new Array[Long](cells)

  protected def bucketCounts: Array[Long] = counts

  private val scratch = new Array[Byte](12)

  /** Count one occurrence of an int token (canonical item = base-10 string,
    * SURVEY.md §1.4) without allocating.
    */
  def addToken(token: Int, increment: Long): Boolean = {
    val len = encodeInt(token)
    addBytes(scratch, 0, len, increment, null)
  }

  /** Write the decimal representation of v into `scratch`; returns length. */
  private def encodeInt(v: Int): Int = {
    var x = v
    if (x == Int.MinValue) { // cannot negate; rare, fall back
      val s = java.lang.Integer.toString(x); val b = s.getBytes(StandardCharsets.UTF_8)
      System.arraycopy(b, 0, scratch, 0, b.length); return b.length
    }
    val neg = x < 0
    if (neg) x = -x
    // write digits backwards into the tail, then shift to the front
    var p = scratch.length
    do { p -= 1; scratch(p) = ('0' + x % 10).toByte; x /= 10 } while (x != 0)
    if (neg) { p -= 1; scratch(p) = '-' }
    val len = scratch.length - p
    System.arraycopy(scratch, p, scratch, 0, len)
    len
  }

  /** Same update hashing the item in place from any memory base (Spark
    * UTF8String payloads: `getBaseObject/getBaseOffset/numBytes`) — no
    * per-row byte copy; bytes are copied out only when an update reaches the
    * heap and misses the memo.
    */
  def addUnsafe(base: AnyRef, offset: Long, len: Int, increment: Long): Boolean =
    addAt(base, offset, len, increment, null)

  protected def updateBucket(idx: Int, fingerprint: Int, increment: Long): Long = {
    val count = counts(idx)
    if (count == 0L) { // empty bucket: claim it
      fingerprints(idx) = fingerprint
      counts(idx) = increment
      increment
    } else if (fingerprints(idx) == fingerprint) { // own bucket
      val c = count + increment
      counts(idx) = c
      c
    } else {
      val c = SketchOps.decayTrials(count, increment, decayLUT, rng)
      if (c > 0L) { counts(idx) = c; 0L }
      else { // takeover: the remaining mass owns the bucket
        fingerprints(idx) = fingerprint
        counts(idx) = -c
        -c
      }
    }
  }

  def reset(): Unit = {
    java.util.Arrays.fill(fingerprints, 0)
    java.util.Arrays.fill(counts, 0L)
    heap.reset()
  }

  /** Approximate in-memory footprint (reference: sketch.go:79-88). */
  def sizeBytes: Long =
    64L + cells.toLong * 12 + decayLUT.length.toLong * 4 + heap.sizeBytes

  /** Commutative sketch-union (NOT in the reference — engine extension, the
    * Spark partial-aggregation monoid; design per SURVEY.md §2.1):
    *   - cell-wise: equal fingerprints ⇒ sum counts; different ⇒ keep the
    *     fingerprint with the larger count at count max(a,b) (ties broken by
    *     unsigned fingerprint so the merge is commutative);
    *   - heap: union both candidate sets, re-estimate each item against the
    *     merged cells, keep the top-K under (count desc, item asc).
    * Preserves the HeavyKeeper under-estimation property for items tracked in
    * either input.
    */
  def merge(other: Sketch): Sketch = {
    requireMergeable(other, "sketch")
    var i = 0
    while (i < cells) {
      val ca = counts(i); val cb = other.counts(i)
      if (cb != 0L) {
        if (ca != 0L && fingerprints(i) == other.fingerprints(i)) counts(i) = ca + cb
        else if (SketchOps.otherWins(ca, fingerprints(i), cb, other.fingerprints(i))) {
          counts(i) = cb; fingerprints(i) = other.fingerprints(i)
        }
      }
      i += 1
    }
    rebuildHeapFromUnion(other)
    this
  }
}

object Sketch {
  /** Collision-decay adds with remaining increment above this use the
    * closed-form geometric skip (one draw per decrement) instead of
    * reference-exact per-unit trials. Golden-vector tests all use increments
    * far below it, so bit-parity with the reference's trial sequence is
    * preserved where it's asserted; above it only the (identical)
    * distribution is preserved.
    */
  final val GeometricSkipThreshold: Long = 4096L
}
