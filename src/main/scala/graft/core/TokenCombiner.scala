package graft.core

/** Exact token counts in front of a plain [[Sketch]]: the buffer of the
  * `array<int>` token aggregates. HeavyKeeper's add takes a weight
  * (reference: sketch.go:118-166), so counting a partition's tokens first
  * and then adding each distinct token once, with its count, still feeds
  * the sketch a valid HeavyKeeper stream, with one update per distinct
  * token instead of one per occurrence (the filter in front of the sketch
  * of Augmented Sketch, Roy, Khan & Alonso, SIGMOD'16).
  *
  * `add` only counts, in an open-addressing int → count table. `flushed`
  * drains the table into the sketch, one `Sketch.addToken(token, count)`
  * per distinct token in (count desc, token asc) order, and empties it.
  * The order matters under collisions: heavy tokens claim their buckets
  * before the tail's colliding adds can decay them. It also makes the
  * sketch a function of the multiset of tokens in each flush window, not of
  * their order. Collision-free, the counts are exact.
  *
  * Memory bound: the table is allocated on the first `add` at 64 slots and
  * doubles at load 1/2 up to `capacity(cfg)` = nextPow2(max(1024,
  * 4·width·depth)) slots of 8 bytes (an int token and an int count). A full
  * table (capacity/2 distinct tokens) flushes before it takes another
  * token, so it never exceeds max(16 KB, 16/3 × the sketch's
  * 12·width·depth bytes of cells): 1 MB beside 384 KB of cells at 8192×4.
  * A flush sorts a transient array of at most half the table's bytes.
  * A count that reaches `maxCount` (Int.MaxValue) flushes the table too, so
  * no count outgrows its int slot or the flush's sort key.
  */
final class TokenCombiner private[core] (val sketch: Sketch, maxCount: Int) {
  def this(sketch: Sketch) = this(sketch, Int.MaxValue)

  private val maxSlots = TokenCombiner.capacity(sketch.cfg)

  // empty slot <=> count 0: every int is a valid token
  private var tokens: Array[Int] = _
  private var counts: Array[Int] = _
  private var shift              = 0 // 32 - log2(slots)
  private var size               = 0

  /** Slots the table holds now (0 before the first `add`). */
  def slots: Int = if (counts == null) 0 else counts.length

  /** Count one occurrence of `token`. */
  def add(token: Int): Unit = {
    if (counts == null) allocate(TokenCombiner.InitialSlots)
    var i = slotOf(token)
    while (counts(i) != 0 && tokens(i) != token) i = (i + 1) & (counts.length - 1)
    if (counts(i) == 0) {
      if (2 * (size + 1) > counts.length) {
        if (counts.length < maxSlots) grow() else flush()
        add(token)
        return
      }
      tokens(i) = token
      size += 1
    }
    counts(i) += 1
    if (counts(i) == maxCount) flush()
  }

  /** The sketch with every pending count added, the table left empty. */
  def flushed: Sketch = { if (size > 0) flush(); sketch }

  private def flush(): Unit = {
    val keys = new Array[Long](size)
    var n    = 0
    var i    = 0
    while (i < counts.length) {
      if (counts(i) != 0) {
        keys(n) = TokenCombiner.sortKey(counts(i), tokens(i))
        counts(i) = 0
        n += 1
      }
      i += 1
    }
    size = 0
    java.util.Arrays.sort(keys)
    i = 0
    while (i < n) {
      sketch.addToken(TokenCombiner.tokenOf(keys(i)), TokenCombiner.countOf(keys(i)))
      i += 1
    }
  }

  @inline private def slotOf(token: Int): Int = (token * 0x9e3779b9) >>> shift

  private def allocate(n: Int): Unit = {
    tokens = new Array[Int](n)
    counts = new Array[Int](n)
    shift = 32 - Integer.numberOfTrailingZeros(n)
  }

  private def grow(): Unit = {
    val (oldTokens, oldCounts) = (tokens, counts)
    allocate(oldCounts.length * 2)
    var j = 0
    while (j < oldCounts.length) {
      if (oldCounts(j) != 0) {
        var i = slotOf(oldTokens(j))
        while (counts(i) != 0) i = (i + 1) & (counts.length - 1)
        tokens(i) = oldTokens(j)
        counts(i) = oldCounts(j)
      }
      j += 1
    }
  }
}

object TokenCombiner {
  private final val InitialSlots = 64

  /** The table's slot cap for a geometry: nextPow2(max(1024, 4·width·depth)),
    * so a full table holds at least 2·width·depth distinct tokens.
    */
  def capacity(cfg: SketchConfig): Int = {
    val want = math.max(1024L, 4L * cfg.width * cfg.depth)
    if (want >= (1 << 30)) 1 << 30
    else Integer.highestOneBit(((want - 1) << 1).toInt)
  }

  /** A flush's sort key: ascending keys run (count desc, token asc). The
    * high half is Int.MaxValue - count, which lies in [0, 2^31 - 2] for any
    * count in [1, Int.MaxValue], so the key is non-negative and cannot wrap;
    * the low half is the token with its sign bit flipped (unsigned order of
    * the biased token = signed order of the token).
    */
  private[core] def sortKey(count: Int, token: Int): Long =
    (Int.MaxValue - count).toLong << 32 | ((token ^ Int.MinValue) & 0xffffffffL)

  private[core] def countOf(key: Long): Long = Int.MaxValue - (key >>> 32)
  private[core] def tokenOf(key: Long): Int  = key.toInt ^ Int.MinValue
}
