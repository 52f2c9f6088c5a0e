package graft.core

import java.nio.{BufferUnderflowException, ByteBuffer}
import java.nio.charset.StandardCharsets.UTF_8

/** Compact versioned binary layout for sketches — the serialization boundary
  * between Spark's execution (partial-aggregate shuffles, state stores,
  * checkpoints) and the mutable in-memory sketch objects.
  *
  * The reference documents its structs as "serializable using any
  * serialization method" (reference: sketch.go:20, sliding/sketch.go:17-18);
  * this is our concrete layout: header (magic, version, config), RNG stream
  * position (for exact replay), cell arrays, heap entries. Every field is
  * big-endian; encoders size one exact array up front and fill it through a
  * single ByteBuffer (no per-field stream calls).
  */
object SketchCodec {
  // "2" layouts: heap items are length-prefixed raw UTF-8 (writeUTF's 64 KB
  // modified-UTF-8 limit would crash serialization of any sketch tracking a
  // long item — item values are arbitrary user strings).
  // COMPATIBILITY: the v1 ("TKP1"/"TKS1") layout is pre-release-only and has
  // no read path — decode fails loudly on it. This is deliberate: no v1 blob
  // or streaming checkpoint exists outside this repo's own development
  // history. "TKS2" (dense sliding cells) is written by earlier releases into
  // streaming state stores, so it keeps its reader; new blobs are "TKS3".
  private final val MagicPlain: Int        = 0x544b5032 // "TKP2"
  private final val MagicSlidingDense: Int = 0x544b5332 // "TKS2", read-only
  private final val MagicSliding: Int      = 0x544b5333 // "TKS3"

  /** magic, k, width, depth, decay, lutSize, seed, rng state */
  private final val PlainHeaderBytes   = 4 * 6 + 8 * 2
  /** magic, k, width, depth, windowSize, hist, decay, lutSize, seed, rng
    * state, expiry cursor */
  private final val SlidingHeaderBytes = 4 * 9 + 8 * 2
  /** one sparse sliding cell: index, fingerprint, head, sum */
  private final val SparseCellBytes    = 4 * 3 + 8

  /** Length-prefixed raw byte block — THE framing primitive (heap items,
    * nested sketch blobs in the aggregate and streaming-state buffers). All
    * length-prefixed writes go through these so the framing cannot drift
    * between codecs.
    */
  private[graft] def putBlock(out: ByteBuffer, bytes: Array[Byte]): Unit =
    out.putInt(bytes.length).put(bytes)

  private[graft] def readBlock(in: ByteBuffer): Array[Byte] = {
    val len = in.getInt()
    // validate against the remaining bytes BEFORE allocating: a corrupted
    // length prefix (state-store / shuffle blob damage) must fail as a
    // catchable decode error, not a negative-size crash or a 2 GB
    // allocation attempt that can OOM the executor
    require(len >= 0 && len <= in.remaining(),
      s"corrupt sketch payload: block length $len with ${in.remaining()} bytes remaining")
    val b = new Array[Byte](len)
    in.get(b)
    b
  }

  /** Runs a ByteBuffer decode so that reading past the end of a truncated
    * payload fails with the same IllegalArgumentException as every other
    * corruption check.
    */
  private[graft] def decoding[T](body: => T): T =
    try body
    catch {
      case e: BufferUnderflowException =>
        throw new IllegalArgumentException("corrupt sketch payload: truncated", e)
    }

  // ---------- plain ----------

  def encode(s: Sketch): Array[Byte] = {
    val m     = s.counts.length
    val items = heapItems(s.heap)
    val out   = ByteBuffer.allocate(PlainHeaderBytes + 4 + m * 12 + heapBytes(items))
    out.putInt(MagicPlain)
    out.putInt(s.cfg.k).putInt(s.cfg.width).putInt(s.cfg.depth)
    putFloat(out, s.cfg.decay).putInt(s.cfg.lutSize).putLong(s.cfg.seed)
    out.putLong(s.rng.getState)
    out.putInt(m)
    var i = 0
    while (i < m) {
      out.putInt(s.fingerprints(i)).putLong(s.counts(i))
      i += 1
    }
    putHeap(out, s.heap, items)
    out.array()
  }

  def decode(bytes: Array[Byte]): Sketch = decoding {
    val in = ByteBuffer.wrap(bytes)
    require(in.getInt() == MagicPlain, "not a plain sketch payload")
    val cfg = SketchConfig(in.getInt(), in.getInt(), in.getInt(),
      getFloat(in), in.getInt(), in.getLong())
    val rngState = in.getLong()
    val n = in.getInt()
    require(n.toLong == cfg.width.toLong * cfg.depth, "cell count mismatch")
    // before allocating the cell arrays: a corrupt geometry must not
    // allocate more than the payload can fill
    require(n.toLong * 12 <= in.remaining(),
      s"corrupt sketch payload: $n cells with ${in.remaining()} bytes remaining")
    val s = new Sketch(cfg)
    s.rng.setState(rngState)
    var i = 0
    while (i < n) {
      s.fingerprints(i) = in.getInt(); s.counts(i) = in.getLong()
      i += 1
    }
    readHeap(in, s.heap)
    s
  }

  // ---------- sliding ----------

  /** "TKS3": sparse sliding layout. A cell's (fingerprint, head, sum) is
    * written only when one of them is non-zero; a ring only when one of its
    * slots holds mass, as its cell index, a bit mask of the non-zero slots
    * (bit j of byte j/8 = slot j) and those slots' values. Every array still
    * round-trips exactly. Most of a streaming key's d×w×hist ring is zero,
    * so this is about half the dense "TKS2" bytes per key.
    */
  def encodeSliding(s: SlidingSketch): Array[Byte] = {
    val m         = s.countsSum.length
    val hist      = s.hist
    val maskBytes = slotMaskBytes(hist)
    var cells     = 0
    var rings     = 0
    var slots     = 0
    var b         = 0
    while (b < m) {
      if (cellSet(s, b)) cells += 1
      val held = heldSlots(s, b)
      if (held > 0) { rings += 1; slots += held }
      b += 1
    }
    val items = heapItems(s.heap)
    val out = ByteBuffer.allocate(SlidingHeaderBytes + 4 + cells * SparseCellBytes +
      4 + rings * (4 + maskBytes) + slots * 8 + heapBytes(items))
    out.putInt(MagicSliding)
    out.putInt(s.cfg.k).putInt(s.cfg.width).putInt(s.cfg.depth)
    out.putInt(s.cfg.windowSize).putInt(s.cfg.bucketHistoryLength)
    putFloat(out, s.cfg.decay).putInt(s.cfg.lutSize).putLong(s.cfg.seed)
    out.putLong(s.rng.getState)
    out.putInt(s.nextBucketToExpire)
    out.putInt(cells)
    b = 0
    while (b < m) {
      if (cellSet(s, b))
        out.putInt(b).putInt(s.fingerprints(b)).putInt(s.first(b)).putLong(s.countsSum(b))
      b += 1
    }
    out.putInt(rings)
    b = 0
    while (b < m) {
      if (heldSlots(s, b) > 0) {
        out.putInt(b)
        val maskAt = out.position()
        out.position(maskAt + maskBytes) // mask bytes start zeroed
        var j = 0
        while (j < hist) {
          val v = s.ring(b * hist + j)
          if (v != 0L) {
            out.put(maskAt + (j >> 3), (out.get(maskAt + (j >> 3)) | (1 << (j & 7))).toByte)
            out.putLong(v)
          }
          j += 1
        }
      }
      b += 1
    }
    putHeap(out, s.heap, items)
    out.array()
  }

  private def slotMaskBytes(hist: Int): Int = (hist + 7) >>> 3

  private def cellSet(s: SlidingSketch, b: Int): Boolean =
    s.fingerprints(b) != 0 || s.first(b) != 0 || s.countsSum(b) != 0L

  /** Non-zero ring slots of cell `b`. */
  private def heldSlots(s: SlidingSketch, b: Int): Int = {
    var n = 0
    var i = b * s.hist
    while (i < (b + 1) * s.hist) {
      if (s.ring(i) != 0L) n += 1
      i += 1
    }
    n
  }

  /** Reads "TKS3" and the dense "TKS2" layout of earlier releases. */
  def decodeSliding(bytes: Array[Byte]): SlidingSketch = decoding {
    val in    = ByteBuffer.wrap(bytes)
    val magic = in.getInt()
    require(magic == MagicSliding || magic == MagicSlidingDense, "not a sliding sketch payload")
    val cfg = SlidingConfig(in.getInt(), in.getInt(), in.getInt(),
      in.getInt(), in.getInt(), getFloat(in), in.getInt(), in.getLong())
    val rngState = in.getLong()
    val cursor   = in.getInt()
    val m        = cfg.width * cfg.depth // SlidingConfig rules out overflow
    val hist     = cfg.bucketHistoryLength
    require(cursor >= 0 && cursor < m, s"corrupt sliding payload: expiry cursor $cursor outside [0, $m)")
    if (magic == MagicSlidingDense) {
      // the dense layout carries every cell and slot: check the payload can
      // hold them before allocating
      require(m.toLong * 16 + m.toLong * hist * 8 <= in.remaining(),
        s"corrupt sliding payload: $m cells x $hist slots with ${in.remaining()} bytes remaining")
    }
    val s = new SlidingSketch(cfg)
    s.rng.setState(rngState)
    s.nextBucketToExpire = cursor
    if (magic == MagicSliding) readSparseCells(in, s) else readDenseCells(in, s)
    readHeap(in, s.heap)
    s
  }

  private def readSparseCells(in: ByteBuffer, s: SlidingSketch): Unit = {
    val m    = s.countsSum.length
    val hist = s.hist
    val cells = in.getInt()
    require(cells >= 0 && cells <= m && cells.toLong * SparseCellBytes <= in.remaining(),
      s"corrupt sliding payload: $cells cells of $m with ${in.remaining()} bytes remaining")
    var prev = -1
    var i    = 0
    while (i < cells) {
      val b = sparseIndex(in, prev, m)
      s.fingerprints(b) = in.getInt()
      s.first(b) = head(in, hist)
      s.countsSum(b) = in.getLong()
      prev = b
      i += 1
    }
    val maskBytes = slotMaskBytes(hist)
    val rings     = in.getInt()
    require(rings >= 0 && rings <= m && rings.toLong * (4 + maskBytes) <= in.remaining(),
      s"corrupt sliding payload: $rings rings of $m with ${in.remaining()} bytes remaining")
    prev = -1
    i = 0
    while (i < rings) {
      val b      = sparseIndex(in, prev, m)
      val maskAt = in.position()
      in.position(maskAt + maskBytes)
      // a mask bit at or past `hist` would address the next cell's ring
      require((in.get(maskAt + maskBytes - 1) & 0xff) >>> (hist - 8 * (maskBytes - 1)) == 0,
        s"corrupt sliding payload: ring mask of cell $b sets a slot past $hist")
      var j = 0
      while (j < hist) {
        if ((in.get(maskAt + (j >> 3)) & (1 << (j & 7))) != 0) s.ring(b * hist + j) = in.getLong()
        j += 1
      }
      prev = b
      i += 1
    }
  }

  /** Sparse indices are strictly increasing, so none repeats. */
  private def sparseIndex(in: ByteBuffer, prev: Int, m: Int): Int = {
    val b = in.getInt()
    require(b > prev && b < m, s"corrupt sliding payload: cell index $b after $prev (of $m)")
    b
  }

  /** A ring head outside [0, hist) would address a neighbour's slots. */
  private def head(in: ByteBuffer, hist: Int): Int = {
    val f = in.getInt()
    require(f >= 0 && f < hist, s"corrupt sliding payload: ring head $f outside [0, $hist)")
    f
  }

  private def readDenseCells(in: ByteBuffer, s: SlidingSketch): Unit = {
    var i = 0
    while (i < s.countsSum.length) {
      s.fingerprints(i) = in.getInt(); s.first(i) = head(in, s.hist); s.countsSum(i) = in.getLong()
      i += 1
    }
    i = 0
    while (i < s.ring.length) { s.ring(i) = in.getLong(); i += 1 }
  }

  // ---------- shared pieces ----------

  // DataOutput.writeFloat's bits (canonical NaN), kept for byte parity
  private def putFloat(out: ByteBuffer, f: Float): ByteBuffer =
    out.putInt(java.lang.Float.floatToIntBits(f))

  private def getFloat(in: ByteBuffer): Float = java.lang.Float.intBitsToFloat(in.getInt())

  private def heapItems(heap: MinHeap): Array[Array[Byte]] =
    Array.tabulate(heap.size)(i => heap.itemAt(i).getBytes(UTF_8))

  /** count, then per entry: fingerprint, length-prefixed item, count */
  private def heapBytes(items: Array[Array[Byte]]): Int = {
    var n = 4
    var i = 0
    while (i < items.length) { n += 16 + items(i).length; i += 1 }
    n
  }

  private def putHeap(out: ByteBuffer, heap: MinHeap, items: Array[Array[Byte]]): Unit = {
    out.putInt(heap.size)
    var i = 0
    while (i < heap.size) {
      out.putInt(heap.fingerprintAt(i))
      putBlock(out, items(i))
      out.putLong(heap.countAt(i))
      i += 1
    }
  }

  private def readHeap(in: ByteBuffer, heap: MinHeap): Unit = {
    val n = in.getInt()
    // every entry is >= 16 bytes (fp 4 + item length 4 + count 8): a count
    // that cannot fit the remaining payload is corruption, not data
    require(n >= 0 && n.toLong * 16 <= in.remaining(),
      s"corrupt sketch payload: heap count $n with ${in.remaining()} bytes remaining")
    var i = 0
    while (i < n) {
      val fp    = in.getInt()
      val item  = new String(readBlock(in), UTF_8)
      val count = in.getLong()
      heap.update(item, fp, count)
      i += 1
    }
  }
}
