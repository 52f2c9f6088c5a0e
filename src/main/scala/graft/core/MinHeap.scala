package graft.core

import scala.collection.mutable

/** A top-K entry: fingerprint (raw 32-bit), item key, and tracked count.
  * Mirrors the reference's heap entry (reference: heap/heap.go:11-15); counts
  * are carried as Long (documented superset of the reference's uint32).
  */
final case class TopKEntry(fingerprint: Int, item: String, count: Long)

/** Bounded min-heap of the top-K items with an O(1) item→slot index.
  *
  * Semantics ported from the reference's heap (reference: heap/heap.go:19-178):
  *   - order: count ascending, ties broken by item string ascending
  *     (heap/heap.go:65-72) — a strict total order, so the evicted minimum is
  *     uniquely determined and any correct binary heap reproduces the same
  *     admission/eviction decisions;
  *   - `update`: reject only if the heap is full AND count is strictly below
  *     the minimum (count == min on a full heap DOES evict; heap/heap.go:137);
  *     an existing item's count may be updated downward as well as upward —
  *     EXCEPT that the reject guard runs BEFORE the existing-item lookup
  *     (faithful to heap.go:137-139), so on a full heap a tracked item is
  *     never updated below minCount; the stale higher count persists until
  *     the next admissible update or a reinit/recount;
  *   - `reinit`: re-heapify, then pop all zero-count entries (heap/heap.go:48-55).
  *
  * Each entry lives in a stable id slot (item, fingerprint, count) from its
  * insert until its eviction or pop; the heap orders ids (`heapIds(pos)`,
  * with `posOf(id)` its inverse), so a sift moves ints and the item→id index
  * changes only on insert, evict and pop. Positions — what `itemAt(i)` and
  * `entries` walk — are exactly those of a heap of whole entries.
  */
final class MinHeap(val k: Int) extends Serializable {
  private var _size                   = 0
  private val slots                   = math.max(k, 1)
  private val items: Array[String]    = new Array[String](slots)
  private val fps: Array[Int]         = new Array[Int](slots)
  private val counts: Array[Long]     = new Array[Long](slots)
  // a permutation of the ids: heapIds(0 until size) is the heap, the rest free
  private val heapIds: Array[Int]     = Array.range(0, slots)
  private val posOf: Array[Int]       = Array.range(0, slots)
  private val index                   = new mutable.AnyRefMap[String, Int](k * 2)

  def size: Int      = _size
  def isFull: Boolean = _size == k
  def isEmpty: Boolean = _size == 0

  /** Minimum tracked count; 0 when empty (heap/heap.go:102-107). */
  def minCount: Long = if (_size == 0) 0L else counts(heapIds(0))

  def contains(item: String): Boolean = index.contains(item)

  /** Heap position of `item`, or -1 when it is not tracked. */
  def find(item: String): Int = {
    val id = index.getOrElse(item, -1)
    if (id < 0) -1 else posOf(id)
  }

  def get(item: String): Option[TopKEntry] = {
    val id = index.getOrElse(item, -1)
    if (id < 0) None else Some(TopKEntry(fps(id), items(id), counts(id)))
  }

  def countOf(item: String): Long = {
    val id = index.getOrElse(item, -1)
    if (id < 0) -1L else counts(id)
  }

  def itemAt(i: Int): String     = items(heapIds(i))
  def fingerprintAt(i: Int): Int = fps(heapIds(i))
  def countAt(i: Int): Long      = counts(heapIds(i))
  def setCountAt(i: Int, c: Long): Unit = counts(heapIds(i)) = c

  @inline private def less(i: Int, j: Int): Boolean = {
    val a = heapIds(i); val b = heapIds(j)
    val ca = counts(a); val cb = counts(b)
    // tie-break by code point (== UTF-8 byte order), matching the Go
    // reference's string `<`, Spark's UTF8String and DuckDB — NOT Java's
    // UTF-16-unit compareTo (diverges on supplementary characters)
    if (ca == cb) SketchOps.compareItems(items(a), items(b)) < 0 else ca < cb
  }

  @inline private def swap(i: Int, j: Int): Unit = {
    val a = heapIds(i); val b = heapIds(j)
    heapIds(i) = b; posOf(b) = i
    heapIds(j) = a; posOf(a) = j
  }

  private def siftUp(start: Int): Unit = {
    var i = start
    while (i > 0) {
      val parent = (i - 1) / 2
      if (!less(i, parent)) return
      swap(i, parent)
      i = parent
    }
  }

  private def siftDown(start: Int): Boolean = {
    var i     = start
    var moved = false
    var done  = false
    while (!done) {
      val l = 2 * i + 1
      if (l >= _size) done = true
      else {
        var m = l
        val r = l + 1
        if (r < _size && less(r, l)) m = r
        if (less(m, i)) { swap(i, m); i = m; moved = true }
        else done = true
      }
    }
    moved
  }

  private def fix(i: Int): Unit = if (!siftDown(i)) siftUp(i)

  /** Insert or update an item (reference: heap/heap.go:136-170).
    * Returns whether the item is (now) tracked in the top-K.
    */
  def update(item: String, fingerprint: Int, count: Long): Boolean = {
    if (count < minCount && isFull) return false // not in top-K: ignore

    val tracked = index.getOrElse(item, -1)
    if (tracked >= 0) { // already tracked: overwrite count (up or down) and re-fix
      counts(tracked) = count
      fix(posOf(tracked))
      return true
    }

    if (!isFull) { // room available: push into the free id at position size
      val id = heapIds(_size)
      put(id, item, fingerprint, count)
      _size += 1
      siftUp(_size - 1)
      return true
    }

    // full: the new item takes over the minimum's (root's) id, then sifts
    val root = heapIds(0)
    index.remove(items(root))
    put(root, item, fingerprint, count)
    fix(0)
    true
  }

  private def put(id: Int, item: String, fingerprint: Int, count: Long): Unit = {
    items(id) = item
    fps(id) = fingerprint
    counts(id) = count
    index(item) = id
  }

  /** Re-heapify and drop all zero-count entries (reference: heap/heap.go:48-55). */
  def reinit(): Unit = {
    var i = _size / 2 - 1
    while (i >= 0) { siftDown(i); i -= 1 }
    while (_size > 0 && counts(heapIds(0)) == 0) pop()
  }

  /** Move the last entry to the root and sift it down; the popped root's id
    * goes free at the old last position.
    */
  private def pop(): Unit = {
    val root = heapIds(0)
    index.remove(items(root))
    items(root) = null
    _size -= 1
    if (_size > 0) {
      swap(0, _size)
      siftDown(0)
    }
  }

  def reset(): Unit = {
    var i = 0
    while (i < _size) { items(heapIds(i)) = null; i += 1 }
    index.clear()
    _size = 0
  }

  /** All tracked entries, heap (arbitrary) order, including zero-count ones. */
  def entries: Array[TopKEntry] = {
    val out = new Array[TopKEntry](_size)
    var i   = 0
    while (i < _size) {
      val id = heapIds(i)
      out(i) = TopKEntry(fps(id), items(id), counts(id))
      i += 1
    }
    out
  }

  /** Entries sorted by (count desc, item asc), zero counts trimmed
    * (reference: sketch.go:189-209).
    */
  def sorted: Array[TopKEntry] =
    entries.filter(_.count > 0).sortWith(SketchOps.entryOrder)

  /** Approximate in-memory footprint in bytes (reference: heap/heap.go:40-45). */
  def sizeBytes: Long = {
    var keyBytes = 0L
    var i        = 0
    while (i < _size) { keyBytes += itemAt(i).length; i += 1 }
    40L + k.toLong * 24 + keyBytes + index.size.toLong * 48
  }
}
