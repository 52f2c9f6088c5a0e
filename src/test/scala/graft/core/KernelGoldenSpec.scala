package graft.core

import java.nio.charset.StandardCharsets.UTF_8

import org.apache.spark.unsafe.types.UTF8String
import org.scalatest.funsuite.AnyFunSuite

/** Bit-for-bit pins of the HeavyKeeper update kernel through every entry
  * point: `add(String)`, `addToken`, `addUnsafe` (on UTF8Strings that start
  * at a non-zero offset into a shared buffer) and the sliding `add`, with
  * weights on both sides of `Sketch.GeometricSkipThreshold`, on 8x2
  * geometries so collisions, decays and takeovers all happen. The sliding
  * stream ticks between adds, including one `ticks(n)` jump that takes the
  * full-clear fast path. Each fixture's blob, top-K rows and point estimates
  * are pinned, as are both merges. The heap-churn fixtures pin, by SHA-256
  * of the blob, a k=64 sketch after 200k power-law adds (where most adds
  * reach the heap and evict), its merge, and a sliding sketch whose ticks
  * pop entries from a full heap until it is empty.
  */
class KernelGoldenSpec extends AnyFunSuite {
  import KernelGoldenSpec._

  private def check(name: String, got: String, want: String): Unit =
    assert(got == want.filterNot(_.isWhitespace), s"$name changed; now:\n$got")

  test("plain sketch: every entry point, both decay regimes") {
    val s = plainFixture("")
    check("plain blob", hex(SketchCodec.encode(s)), goldenPlain)
    check("plain rows", rows(s.sortedSlice), goldenPlainRows)
    check("plain counts", estimates(s.count), goldenPlainCounts)
  }

  test("plain merge: cell rule and heap rebuild") {
    val s = plainFixture("").merge(plainFixture("b"))
    check("merged blob", hex(SketchCodec.encode(s)), goldenPlainMerged)
    check("merged rows", rows(s.sortedSlice), goldenPlainMergedRows)
  }

  test("sliding sketch: adds across ticks, a fast-path jump, both decay regimes") {
    val s = slidingFixture("")
    check("sliding blob", hex(SketchCodec.encodeSliding(s)), goldenSliding)
    check("sliding rows", rows(s.sortedSlice), goldenSlidingRows)
    check("sliding counts", estimates(s.count), goldenSlidingCounts)
  }

  test("sliding merge: cell rule and heap rebuild") {
    val s = slidingFixture("").merge(slidingFixture("b"))
    check("merged sliding blob", hex(SketchCodec.encodeSliding(s)), goldenSlidingMerged)
    check("merged sliding rows", rows(s.sortedSlice), goldenSlidingMergedRows)
  }

  test("heap churn: 200k power-law adds into a k=64 512x4 sketch, and its merge") {
    val a = churnFixture(1L)
    check("churn blob", sha256(SketchCodec.encode(a)), goldenChurn)
    check("churn rows", rows(a.sortedSlice.take(8)), goldenChurnRows)
    val m = a.merge(churnFixture(2L))
    check("churn merged blob", sha256(SketchCodec.encode(m)), goldenChurnMerged)
    check("churn merged rows", rows(m.sortedSlice.take(8)), goldenChurnMergedRows)
  }

  test("heap churn: a sliding sketch ticked until reinit pops entries") {
    val s     = slidingChurnFixture()
    val sizes = Seq.newBuilder[Int]
    val blobs = new java.io.ByteArrayOutputStream()
    blobs.write(SketchCodec.encodeSliding(s))
    while (s.heap.size > 0) {
      s.tick()
      sizes += s.heap.size
      blobs.write(SketchCodec.encodeSliding(s))
    }
    val trace = sizes.result()
    assert(trace.exists(n => n > 0 && n < slidingChurnCfg.k), s"no partial pop in $trace")
    check("sliding churn sizes", trace.mkString(","), goldenSlidingChurnSizes)
    check("sliding churn blobs", sha256(blobs.toByteArray), goldenSlidingChurn)
  }
}

object KernelGoldenSpec {
  val plainCfg: SketchConfig =
    SketchConfig(k = 4, width = 8, depth = 2, decay = 0.9f, lutSize = 256, seed = 42L)
  val slidingCfg: SlidingConfig = SlidingConfig(k = 3, width = 8, depth = 2, windowSize = 4,
    bucketHistoryLength = 3, decay = 0.9f, lutSize = 256, seed = 42L)

  /** ASCII, two- and three-byte UTF-8, a 4-byte code point and >16-byte items. */
  val words: Seq[String] = Seq("apple", "é☃", "日本語テキスト", "a-long-item-name-past-sixteen-bytes",
    "pear", "😀x", "fig", "kiwi", "thirty-two-bytes-of-item-text-ok", "z")

  val tokens: Seq[Int] = Seq(0, 7, -3, Int.MinValue, Int.MaxValue, 123456789, -42, 99)

  /** UTF8Strings sliced out of one buffer, none starting at its first byte. */
  val slices: Seq[UTF8String] = {
    val buf = "##kiwi##pear-and-longer-than-16-bytes##ü€##7##".getBytes(UTF_8)
    Seq((2, 4), (8, 29), (39, 5), (46, 1), (9, 3)).map { case (off, len) =>
      UTF8String.fromBytes(buf, off, len)
    }
  }

  private def addSlice(s: Sketch, u: UTF8String, w: Long): Boolean =
    s.addUnsafe(u.getBaseObject, u.getBaseOffset, u.numBytes, w)

  def plainFixture(salt: String): Sketch = {
    val s = new Sketch(plainCfg)
    for (i <- 0 until 90) {
      val w = ((i * 7) % 5 + 1).toLong
      i % 3 match {
        case 0 => s.add(words((i / 3) % words.size) + salt, w)
        case 1 => s.addToken(tokens((i / 3) % tokens.size) + salt.length, w)
        case _ => addSlice(s, slices((i / 3) % slices.size), w)
      }
    }
    // per-trial regime up to the threshold, geometric skip above it
    s.add("whale" + salt, 4000L)
    s.addToken(-7, Sketch.GeometricSkipThreshold)
    addSlice(s, slices(1), Sketch.GeometricSkipThreshold + 1)
    s.add("é☃", 100000L)
    s.addToken(Int.MinValue, 7000L)
    for (t <- 1000 until 1006) s.addToken(t, 5000L + t) // geometric-regime takeovers
    for (i <- 0 until 30) s.add(words(i % words.size), (i % 3 + 1).toLong)
    s.add("apple", 0L)
    s.addToken(5, -1L)
    s
  }

  def slidingFixture(salt: String): SlidingSketch = {
    val s = new SlidingSketch(slidingCfg)
    for (t <- 0 until 9) {
      for (j <- 0 until 7) {
        val item = words((t * 3 + j) % words.size) + salt
        val w    = ((t + j) % 4 + 1).toLong
        if (j % 2 == 0) s.add(item, w) else s.add(item, item.getBytes(UTF_8), w)
      }
      if (t == 2) s.add("whale" + salt, 4000L)
      if (t == 4) s.add("é☃", 100000L)
      if (t == 6) s.add("fig", Sketch.GeometricSkipThreshold + 1)
      if (t == 7) (0 until 4).foreach(j => s.add(s"big$j", 5000L + j)) // geometric takeovers
      t match {
        case 3 => s.ticks(2)
        case 5 => s.ticks(5) // >= windowSize: the full-clear fast path
        case _ => s.tick()
      }
    }
    s.add("apple", 9L)
    s.add("pear", 0L)
    s
  }

  val probes: Seq[String] = words ++ Seq("whale", "0", "7", "-3", "-2147483648", "99", "-7",
    "pear-and-longer-than-16-bytes", "ü€", "ear", "absent")

  /** Items with each non-ASCII char written as a Java escape, so the pins are ASCII. */
  def show(item: String): String =
    item.flatMap(c => if (c < 128) c.toString else f"\\u${c.toInt}%04x")

  def estimates(count: String => Long): String =
    probes.map(p => s"${show(p)}=${count(p)}").mkString(";")

  def rows(entries: Array[TopKEntry]): String =
    entries.map(e => f"${show(e.item)}=${e.count}@${e.fingerprint}%08x").mkString(";")

  def hex(b: Array[Byte]): String = b.map(x => f"${x & 0xff}%02x").mkString

  def sha256(b: Array[Byte]): String = hex(java.security.MessageDigest.getInstance("SHA-256").digest(b))

  val churnCfg: SketchConfig =
    SketchConfig(k = 64, width = 512, depth = 4, decay = 0.9f, lutSize = 256, seed = 7L)
  val slidingChurnCfg: SlidingConfig = SlidingConfig(k = 32, width = 128, depth = 3,
    windowSize = 16, bucketHistoryLength = 4, decay = 0.9f, lutSize = 256, seed = 7L)

  /** One op of a seeded power-law replay: a rank drawn log-uniformly (a
    * uniform magnitude 0..15, then uniform below 2^magnitude), so rank r
    * comes up about as often as 1/r; and a weight that is mostly 1, now and
    * then 2..8, and every ~4000th op above `Sketch.GeometricSkipThreshold`.
    */
  private def churnOp(rng: Rng): (Int, Long) = {
    val mag  = (rng.nextLong() >>> 60).toInt
    val rank = ((rng.nextLong() >>> 1) & ((1L << mag) - 1)).toInt
    val r    = (rng.nextLong() >>> 33).toInt
    val w =
      if (r % 4001 == 0) Sketch.GeometricSkipThreshold + r % 3000
      else if (r % 97 == 0) (r % 7 + 2).toLong
      else 1L
    (rank, w)
  }

  /** The item of a rank: a token, a short or a >=16-byte string, some non-ASCII. */
  private def churnItem(rank: Int): String = rank % 5 match {
    case 0 | 1 => (if (rank % 2 == 0) rank else -rank).toString
    case 2     => s"w$rank"
    case 3     => s"\u00fc$rank\u20ac"
    case _     => s"a-longer-item-name-$rank"
  }

  /** 200k power-law adds mixing `addToken`, `add(String)` and `addUnsafe`. */
  def churnFixture(seed: Long): Sketch = {
    val s   = new Sketch(churnCfg)
    val rng = new Rng(seed)
    val buf = new Array[Byte](64)
    for (i <- 0 until 200000) {
      val (rank, w) = churnOp(rng)
      val item      = churnItem(rank)
      rank % 5 match {
        case 0 | 1 => s.addToken(item.toInt, w)
        case _ if i % 2 == 0 => s.add(item, w)
        case _ =>
          val b = item.getBytes(UTF_8)
          System.arraycopy(b, 0, buf, 3, b.length)
          val u = UTF8String.fromBytes(buf, 3, b.length)
          s.addUnsafe(u.getBaseObject, u.getBaseOffset, u.numBytes, w)
      }
    }
    s
  }

  /** 40k power-law adds with a tick every 1000 adds. */
  def slidingChurnFixture(): SlidingSketch = {
    val s   = new SlidingSketch(slidingChurnCfg)
    val rng = new Rng(3L)
    for (i <- 0 until 40000) {
      val (rank, w) = churnOp(rng)
      s.add(churnItem(rank), w)
      if (i % 1000 == 999) s.tick()
    }
    s
  }

  val goldenPlain = """
      544b50320000000400000008000000023f66666600000100000000000000002a4e415c4b3ba13c8000000010d46c3948
      000000000000000e37813106000000000000000114a21fc40000000000001744acdd84fd000000000000002a60a354ab
      0000000000000f9d663a84a100000000000017625c65f8fd00000000000017560d23caab0000000000000ffbc4e33ea3
      0000000000001772eab307d9000000000000000264a4eeed000000000000000560a354ab0000000000000f8be71ab3f1
      000000000000000a0d23caab0000000000000f452e6f9ddd000000000000100753b9ea83000000000000177000000004
      5c65f8fd00000004313030320000000000001756663a84a100000004313030300000000000001762c4e33ea300000004
      31303034000000000000177253b9ea8300000004313030310000000000001770"""
  val goldenPlainRows = "1004=6002@c4e33ea3;1001=6000@53b9ea83;1000=5986@663a84a1;1002=5974@5c65f8fd"
  val goldenPlainCounts =
    "apple=1;\\u00e9\\u2603=0;\\u65e5\\u672c\\u8a9e\\u30c6\\u30ad\\u30b9\\u30c8=0;" +
    "a-long-item-name-past-sixteen-bytes=0;pear=14;\\ud83d\\ude00x=0;fig=2;kiwi=42;" +
    "thirty-two-bytes-of-item-text-ok=0;z=0;whale=3997;0=0;7=10;-3=0;-2147483648=0;" +
    "99=0;-7=4091;pear-and-longer-than-16-bytes=4103;\\u00fc\\u20ac=0;ear=0;" +
    "absent=0"
  val goldenPlainMerged = """
      544b50320000000400000008000000023f66666600000100000000000000002a4e415c4b3ba13c8000000010d46c3948
      00000000000000104e3d1950000000000000000514a21fc40000000000002e7facdd84fd000000000000004d0e00a210
      0000000000000f9f663a84a10000000000002ecd5c65f8fd0000000000002ea20d23caab0000000000001fecc4e33ea3
      0000000000002ed7eab307d900000000000000040e00a2100000000000000f917a1c640500000000000186a4e71ab3f1
      000000000000000c0d23caab0000000000001f3a2e6f9ddd0000000000001ffb53b9ea830000000000002edb00000004
      663a84a100000004313030300000000000002ecdc4e33ea300000004313030340000000000002ed753b9ea8300000004
      313030310000000000002edb7a1c640500000005c3a9e2988300000000000186a4"""
  val goldenPlainMergedRows =
    "\\u00e9\\u2603=100004@7a1c6405;1001=11995@53b9ea83;1004=11991@c4e33ea3;" +
    "1000=11981@663a84a1"
  val goldenSliding = """
      544b533300000003000000080000000200000004000000033f66666600000100000000000000002a9d6bf2111930480f
      000000080000000d00000000d46c39480000000000000000000000050000000137813106000000010000000000000007
      00000003acdd84fd0000000000000000000000060000000413636df500000000000000000000000000000005fd476d1f
      0000000200000000000000020000000616e127e1000000020000000000000002000000077a1c64050000000100000000
      00000001000000083781310600000000000000000000000d00000009eab307d90000000000000000000010050000000a
      16e127e10000000100000000000000060000000b7a1c64050000000100000000000000030000000d2a12134b00000001
      00000000000013890000000f2e0c3d8f0000000100000000000013880000000c00000000060000000000000001000000
      000000000400000001010000000000000007000000030600000000000000040000000000000002000000050100000000
      0000000200000006010000000000000002000000070100000000000000010000000805000000000000000c0000000000
      00000100000009070000000000000003000000000000000100000000000010010000000a030000000000000004000000
      00000000020000000b0400000000000000030000000d0100000000000013890000000f01000000000000138800000003
      37813106000000056170706c65000000000000000d2a12134b000000046269673100000000000013892e0c3d8f000000
      04626967330000000000001388"""
  val goldenSlidingRows = "big1=5001@2a12134b;big3=5000@2e0c3d8f;apple=13@37813106"
  val goldenSlidingCounts =
    "apple=13;\\u00e9\\u2603=3;\\u65e5\\u672c\\u8a9e\\u30c6\\u30ad\\u30b9\\u30c8=0;" +
    "a-long-item-name-past-sixteen-bytes=0;pear=5;\\ud83d\\ude00x=2;fig=4101;kiwi=6;" +
    "thirty-two-bytes-of-item-text-ok=0;z=6;whale=0;0=0;7=0;-3=0;-2147483648=0;99=0;" +
    "-7=0;pear-and-longer-than-16-bytes=0;\\u00fc\\u20ac=0;ear=0;absent=0"
  val goldenSlidingMerged = """
      544b533300000003000000080000000200000004000000033f66666600000100000000000000002a9d6bf2111930480f
      000000080000000e00000000783ee30b0000000200000000000000060000000137813106000000010000000000000010
      00000003acdd84fd0000000000000000000000060000000413636df500000000000000000000000000000005fd476d1f
      0000000200000000000000020000000616e127e1000000020000000000000002000000077a1c64050000000100000000
      00000001000000083781310600000000000000000000001200000009eab307d90000000000000000000020050000000a
      16e127e10000000100000000000000060000000b6590e2dd0000000100000000000000060000000c783ee30b00000001
      00000000000000050000000d2a12134b0000000100000000000027120000000f2e0c3d8f000000010000000000002713
      0000000d0000000002000000000000000600000001010000000000000010000000030600000000000000040000000000
      000002000000050100000000000000020000000601000000000000000200000007010000000000000001000000080500
      00000000000011000000000000000100000009070000000000000003000000000000000100000000000020010000000a
      03000000000000000400000000000000020000000b05000000000000000400000000000000020000000c050000000000
      00000100000000000000040000000d05000000000000138900000000000013890000000f010000000000002713000000
      0337813106000000056170706c6500000000000000122e0c3d8f000000046269673300000000000027132a12134b0000
      0004626967310000000000002712"""
  val goldenSlidingMergedRows = "big3=10003@2e0c3d8f;big1=10002@2a12134b;apple=18@37813106"
  val goldenChurn = "14d7895e6364e55cdf74227c2e1de01dc372548ab4a37dcd26bd7d045edeeb3d"
  val goldenChurnRows =
    "0=72811@edd54dfd;-1=48670@87ebee00;\\u00fc3\\u20ac=13224@35428694;w7=11859@38a99aad;" +
    "w2=10677@467a2352;6=9635@0bc1262e;-5=9099@b695fb6d;w22=7636@8a42b0b0"
  val goldenChurnMerged = "ff34f19ef931bc6e93ae7d07971b329838e4768405e9e296a1971f1b77f1a0e9"
  val goldenChurnMergedRows =
    "0=126004@edd54dfd;-1=73554@87ebee00;-5=28503@b695fb6d;\\u00fc3\\u20ac=24919@35428694;" +
    "w2=17148@467a2352;\\u00fc13\\u20ac=16517@cb893332;w7=15211@38a99aad;a-longer-item-name-9=13774@f21ed44f"
  val goldenSlidingChurnSizes = "32,32,32,32,32,32,32,32,32,32,32,32,30,19,0"
  val goldenSlidingChurn = "be972a691b6028c21ed50fbe649ad0c28a0273af8359911fe70e64906309deab"
}
