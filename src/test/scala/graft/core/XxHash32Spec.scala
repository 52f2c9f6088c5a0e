package graft.core

import java.nio.charset.StandardCharsets.UTF_8

import org.apache.spark.unsafe.Platform
import org.apache.spark.unsafe.types.UTF8String
import org.scalatest.funsuite.AnyFunSuite

/** XXH32 parity vectors. Published vectors from the xxHash spec repo
  * (XXH32("")=0x02CC5D05, XXH32("abc")=0x32D153FF) plus seeded vectors
  * generated from a from-spec implementation validated against those.
  * The seed-4848280 vectors pin the reference's fingerprint placement
  * (reference: hash.go:5-10).
  */
class XxHash32Spec extends AnyFunSuite {

  private val fingerprintVectors = Seq(
    "X"           -> 0x7048e4e5,
    "Y"           -> 0x8bc4204f.toInt,
    "Z"           -> 0x71413d6e,
    "item1"       -> 0x23f199d2,
    "item2"       -> 0xf1eefaed.toInt,
    "item3"       -> 0xbcfa91d7.toInt,
    "item4"       -> 0xc00ec120.toInt,
    "a"           -> 0xd59c3567.toInt,
    "b"           -> 0xe19fd25b.toInt,
    "c"           -> 0xe7f5c892.toInt,
    "high_freq"   -> 0xb85dcace.toInt,
    "medium_freq" -> 0x49c4ea7a,
    "low_freq"    -> 0x9d9f4b82.toInt,
    "lowest_freq" -> 0x1d2efce6,
    "hello world" -> 0x711aa220,
    "0"           -> 0xedd54dfd.toInt,
    "1"           -> 0x810f5659.toInt,
    "42"          -> 0xc240bac2.toInt,
    "123456789"   -> 0xb165b508.toInt,
    "The quick brown fox jumps over the lazy dog" -> 0xc5bba164.toInt
  )
  private val rowSeedVectors = Seq(
    "X"           -> Seq(0x164a5cd1, 0xab5c7ea5.toInt, 0xcb977648.toInt, 0xe1a4ffa9.toInt),
    "Y"           -> Seq(0xe2eccaa5.toInt, 0x350b997b, 0xf604fed5.toInt, 0xc6d73749.toInt),
    "Z"           -> Seq(0x089d739a, 0x82f1570a.toInt, 0xb14b0a09.toInt, 0xb3270c74.toInt),
    "item1"       -> Seq(0xd2a33acf.toInt, 0xc3cd0e1d.toInt, 0x5c433e5d, 0x65f270cd),
    "hello world" -> Seq(0xcebb6622.toInt, 0xe166f32c.toInt, 0xed8d3461.toInt, 0x19777096)
  )

  test("published vectors, seed 0") {
    assert(XxHash32.hashString("", 0) == 0x02cc5d05)
    assert(XxHash32.hashString("abc", 0) == 0x32d153ff)
  }

  test("length-boundary vectors, seed 7 (4/16-byte block edges)") {
    assert(XxHash32.hashString("x" * 15, 7) == 0x7e74c8f9)
    assert(XxHash32.hashString("y" * 16, 7) == 0x51471916)
    assert(XxHash32.hashString("z" * 17, 7) == 0xa10b6a6e)
    assert(XxHash32.hashString("w" * 100, 7) == 0x824d611e.toInt)
  }

  test("misc seeds") {
    assert(XxHash32.hashString("", 1) == 0x0b2cb792)
    assert(XxHash32.hashString("abc", 4848280) == 0xa1eb6971.toInt)
  }

  test("fingerprint vectors (seed 4848280, reference hash.go:5-10)") {
    fingerprintVectors.foreach { case (item, expected) =>
      assert(Hashing.fingerprint(item) == expected, s"fingerprint($item)")
    }
  }

  /** `Hashing.place` of a whole string in a depth×width sketch. */
  private def placement(item: String, depth: Int, width: Int): Array[Int] = {
    val out = new Array[Int](depth + 1)
    Hashing.place(item.getBytes(UTF_8), depth, width, out)
    out
  }

  test("row-seed vectors (seeds 0..3, reference hash.go:13-16)") {
    rowSeedVectors.foreach { case (item, hashes) =>
      hashes.zipWithIndex.foreach { case (expected, row) =>
        assert(XxHash32.hashString(item, row) == expected, s"xxh32($item, seed=$row)")
      }
      for (width <- Seq(460, 8192, 1 << 28)) {
        val place = placement(item, hashes.size, width)
        assert(place(0) == Hashing.fingerprint(item), s"fingerprint($item)")
        hashes.zipWithIndex.foreach { case (expected, row) =>
          assert(place(row + 1) == row * width + ((expected & 0xffffffffL) % width).toInt,
            s"place($item, w=$width) row $row")
        }
      }
    }
  }

  test("bucketIndex is non-negative and within row bounds (Go int(uint32)%width)") {
    // 0xE2ECCAA5 as signed Int is negative; the unsigned-widening mod must
    // still land in [row*width, (row+1)*width).
    for (item <- Seq("X", "Y", "Z", "hello world"); width <- Seq(4, 10, 32, 1024)) {
      val place = placement(item, 4, width)
      for (row <- 0 until 4) {
        val idx = place(row + 1)
        assert(idx >= row * width && idx < (row + 1) * width, s"($item,$row,$width) -> $idx")
      }
    }
    // exact placement: column = (hash as uint32) mod width
    assert(placement("Y", 1, 10)(1) == ((0xe2eccaa5L & 0xffffffffL) % 10).toInt)
  }

  test("place equals per-seed hashUnsafe: lengths 0-40, high bytes, offsets, widths, depths") {
    val rnd  = new scala.util.Random(12)
    val pool = Array.tabulate(64)(_ => (rnd.nextInt(256) - 128).toByte) // half of them >= 0x80
    def want(base: AnyRef, off: Long, len: Int, depth: Int, width: Int): Seq[Int] =
      XxHash32.hashUnsafe(base, off, len, Hashing.FingerprintSeed) +:
        (0 until depth).map(r => r * width + ((XxHash32.hashUnsafe(base, off, len, r) & 0xffffffffL) % width).toInt)
    for (len <- 0 to 40; pad <- Seq(0, 1, 3, 5); depth <- 1 to 8;
         width <- Seq(1, 3, 256, 460, 8192, Int.MaxValue) if width.toLong * depth <= Int.MaxValue) {
      val buf = java.util.Arrays.copyOfRange(pool, 7 * len % 17, 7 * len % 17 + pad + len)
      val out = new Array[Int](depth + 1)
      // a byte array at offset `pad` ...
      val off = Platform.BYTE_ARRAY_OFFSET + pad
      Hashing.place(buf, off, len, depth, width, out)
      assert(out.toSeq == want(buf, off, len, depth, width), s"len $len +$pad d=$depth w=$width")
      // ... and a UTF8String sliced out of it
      val u = UTF8String.fromBytes(buf, pad, len)
      java.util.Arrays.fill(out, -1)
      Hashing.place(u.getBaseObject, u.getBaseOffset, u.numBytes, depth, width, out)
      assert(out.toSeq == want(buf, off, len, depth, width), s"utf8 len $len +$pad d=$depth w=$width")
    }
  }

  /** Every vector above as (item, seed, XXH32). */
  private val allVectors: Seq[(String, Int, Int)] = Seq(
      ("", 0, 0x02cc5d05), ("abc", 0, 0x32d153ff), ("x" * 15, 7, 0x7e74c8f9),
      ("y" * 16, 7, 0x51471916), ("z" * 17, 7, 0xa10b6a6e), ("w" * 100, 7, 0x824d611e.toInt),
      ("", 1, 0x0b2cb792), ("abc", 4848280, 0xa1eb6971.toInt)) ++
    fingerprintVectors.map { case (item, h) => (item, Hashing.FingerprintSeed, h) } ++
    rowSeedVectors.flatMap { case (item, hs) => hs.zipWithIndex.map { case (h, row) => (item, row, h) } }

  /** `item`'s UTF-8 bytes at offset `pad` of a larger, non-zero-filled buffer. */
  private def padded(item: String, pad: Int): Array[Byte] = {
    val b   = item.getBytes(UTF_8)
    val buf = Array.fill[Byte](pad + b.length + 5)(0x5a)
    System.arraycopy(b, 0, buf, pad, b.length)
    buf
  }

  test("every vector through hash(bytes, off, len, seed) at a non-zero offset") {
    for ((item, seed, want) <- allVectors; pad <- Seq(1, 3, 6)) {
      val len = item.getBytes(UTF_8).length
      assert(XxHash32.hash(padded(item, pad), pad, len, seed) == want, s"xxh32($item, $seed) at +$pad")
    }
  }

  test("every vector through hashUnsafe on a UTF8String, whole and sliced") {
    for ((item, seed, want) <- allVectors) {
      val u = UTF8String.fromString(item)
      assert(XxHash32.hashUnsafe(u.getBaseObject, u.getBaseOffset, u.numBytes, seed) == want,
        s"xxh32($item, $seed)")
      val sliced = UTF8String.fromBytes(padded(item, 3), 3, u.numBytes)
      assert(XxHash32.hashUnsafe(sliced.getBaseObject, sliced.getBaseOffset, sliced.numBytes, seed) == want,
        s"xxh32($item, $seed) sliced")
    }
  }

  test("hash rejects a range outside the array") {
    val b = "abcdef".getBytes(UTF_8)
    for ((off, len) <- Seq((-1, 2), (0, 7), (5, 2), (2, -1), (7, 0)))
      intercept[IndexOutOfBoundsException](XxHash32.hash(b, off, len, 0))
    assert(XxHash32.hash(b, 6, 0, 0) == XxHash32.hashString("", 0))
  }
}
