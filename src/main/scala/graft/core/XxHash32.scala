package graft.core

import java.nio.charset.StandardCharsets

import org.apache.spark.unsafe.Platform

/** Seeded XXH32 (32-bit xxHash), implemented from the published algorithm
  * specification (github.com/Cyan4973/xxHash doc/xxhash_spec.md).
  *
  * The reference engine fingerprints items with `xxhash.ChecksumString32S(item, seed)`
  * (reference: hash.go:5-16); bit-exact parity with its hash placement is required
  * to reproduce its deterministic test vectors, so this is a from-spec
  * implementation, unit-tested against published vectors.
  *
  * All arithmetic is mod 2^32 — JVM `Int` overflow gives exactly that.
  */
object XxHash32 {
  private[core] final val P1 = 0x9e3779b1 // 2654435761
  private[core] final val P2 = 0x85ebca77 // 2246822519
  private[core] final val P3 = 0xc2b2ae3d // 3266489917
  private[core] final val P4 = 668265263
  private[core] final val P5 = 374761393

  // Platform.getInt reads in NATIVE byte order; XXH32 reads little-endian, so
  // byte-swap on big-endian JVMs
  private final val BigEndian =
    java.nio.ByteOrder.nativeOrder() == java.nio.ByteOrder.BIG_ENDIAN

  @inline private[core] def readLE(base: AnyRef, i: Long): Int = {
    val v = Platform.getInt(base, i)
    if (BigEndian) Integer.reverseBytes(v) else v
  }

  /** XXH32 of `len` bytes of `bytes` starting at `off`, with the given seed.
    * Returns the raw 32-bit hash as an Int (interpret as unsigned).
    */
  def hash(bytes: Array[Byte], off: Int, len: Int, seed: Int): Int = {
    // hashUnsafe's Platform reads are unchecked: keep the array bounds check
    java.util.Objects.checkFromIndexSize(off, len, bytes.length)
    hashUnsafe(bytes, Platform.BYTE_ARRAY_OFFSET + off, len, seed)
  }

  def hash(bytes: Array[Byte], seed: Int): Int = hash(bytes, 0, bytes.length, seed)

  def hashString(s: String, seed: Int): Int =
    hash(s.getBytes(StandardCharsets.UTF_8), seed)

  /** XXH32 of `len` bytes at `offset` of any memory base (Spark `Platform`
    * addressing: a byte array at `BYTE_ARRAY_OFFSET + i`, or a UTF8String's
    * `getBaseObject/getBaseOffset/numBytes`), hashed in place. The caller
    * guarantees the range is readable.
    */
  def hashUnsafe(base: AnyRef, offset: Long, len: Int, seed: Int): Int = {
    val end = offset + len
    var i   = offset
    var h: Int = 0
    if (len >= 16) {
      val limit = end - 16
      var v1 = seed + P1 + P2
      var v2 = seed + P2
      var v3 = seed
      var v4 = seed - P1
      while (i <= limit) {
        v1 = Integer.rotateLeft(v1 + readLE(base, i) * P2, 13) * P1
        v2 = Integer.rotateLeft(v2 + readLE(base, i + 4) * P2, 13) * P1
        v3 = Integer.rotateLeft(v3 + readLE(base, i + 8) * P2, 13) * P1
        v4 = Integer.rotateLeft(v4 + readLE(base, i + 12) * P2, 13) * P1
        i += 16
      }
      h = Integer.rotateLeft(v1, 1) + Integer.rotateLeft(v2, 7) +
        Integer.rotateLeft(v3, 12) + Integer.rotateLeft(v4, 18)
    } else {
      h = seed + P5
    }
    h += len
    while (i + 4 <= end) {
      h = Integer.rotateLeft(h + readLE(base, i) * P3, 17) * P4
      i += 4
    }
    while (i < end) {
      h = Integer.rotateLeft(h + (Platform.getByte(base, i) & 0xff) * P5, 11) * P1
      i += 1
    }
    avalanche(h)
  }

  @inline private def avalanche(h0: Int): Int = {
    var h = h0
    h ^= h >>> 15
    h *= P2
    h ^= h >>> 13
    h *= P3
    h ^= h >>> 16
    h
  }

  /** XXH32 with `seed` of an input under 16 bytes long, given its 4-byte
    * words already multiplied by P3 (`w0..w2`, the first `words` of them)
    * and its tail bytes already multiplied by P5 (`t0..t2`, the first
    * `tail`): the seed only enters the accumulator, so these products can
    * be shared by every seed the same input is hashed with.
    */
  @inline private[core] def hashShort(seed: Int, len: Int, words: Int, w0: Int, w1: Int, w2: Int,
                                      tail: Int, t0: Int, t1: Int, t2: Int): Int = {
    var h = seed + P5 + len
    if (words > 0) {
      h = Integer.rotateLeft(h + w0, 17) * P4
      if (words > 1) {
        h = Integer.rotateLeft(h + w1, 17) * P4
        if (words > 2) h = Integer.rotateLeft(h + w2, 17) * P4
      }
    }
    if (tail > 0) {
      h = Integer.rotateLeft(h + t0, 11) * P1
      if (tail > 1) {
        h = Integer.rotateLeft(h + t1, 11) * P1
        if (tail > 2) h = Integer.rotateLeft(h + t2, 11) * P1
      }
    }
    avalanche(h)
  }
}

/** Hash placement identical to the reference (hash.go:5-16). */
object Hashing {
  /** Fingerprint seed (reference: hash.go:5). */
  final val FingerprintSeed = 4848280

  /** Raw 32-bit fingerprint of an item (reference: hash.go:8-10). */
  def fingerprint(item: String): Int =
    XxHash32.hashString(item, FingerprintSeed)

  /** The placement of the `len` bytes at `offset` of a `Platform` memory base
    * in a depth×width sketch, from one read of the bytes: `out(0)` gets the
    * fingerprint and `out(1 + row)` the flat bucket index in each row
    * (reference: hash.go:5-16). A row's column is its row-seeded XXH32 mod
    * width; Go computes `int(uint32) % width`, a non-negative 64-bit mod, so
    * the unsigned 32-bit value is widened to Long before the mod. `out`
    * holds at least depth + 1 ints. The caller guarantees the range is
    * readable.
    */
  def place(base: AnyRef, offset: Long, len: Int, depth: Int, width: Int, out: Array[Int]): Unit = {
    if (len >= 16) {
      out(0) = XxHash32.hashUnsafe(base, offset, len, FingerprintSeed)
      var row = 0
      while (row < depth) {
        out(row + 1) = column(XxHash32.hashUnsafe(base, offset, len, row), row, width)
        row += 1
      }
    } else {
      import XxHash32.{P3, P5, readLE}
      val words = len >>> 2
      val tail  = len & 3
      val w0    = if (words > 0) readLE(base, offset) * P3 else 0
      val w1    = if (words > 1) readLE(base, offset + 4) * P3 else 0
      val w2    = if (words > 2) readLE(base, offset + 8) * P3 else 0
      val at    = offset + (words << 2)
      val t0    = if (tail > 0) (Platform.getByte(base, at) & 0xff) * P5 else 0
      val t1    = if (tail > 1) (Platform.getByte(base, at + 1) & 0xff) * P5 else 0
      val t2    = if (tail > 2) (Platform.getByte(base, at + 2) & 0xff) * P5 else 0
      out(0) = XxHash32.hashShort(FingerprintSeed, len, words, w0, w1, w2, tail, t0, t1, t2)
      var row = 0
      while (row < depth) {
        out(row + 1) = column(XxHash32.hashShort(row, len, words, w0, w1, w2, tail, t0, t1, t2), row, width)
        row += 1
      }
    }
  }

  /** The placement of a whole byte array (see the `Platform` overload). */
  def place(bytes: Array[Byte], depth: Int, width: Int, out: Array[Int]): Unit =
    place(bytes, Platform.BYTE_ARRAY_OFFSET, bytes.length, depth, width, out)

  @inline private def column(h: Int, row: Int, width: Int): Int =
    row * width + ((h & 0xffffffffL) % width).toInt
}
