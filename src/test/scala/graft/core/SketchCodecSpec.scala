package graft.core

import org.scalatest.funsuite.AnyFunSuite

/** Layout pins for SketchCodec: the plain "TKP2" bytes of a small fixed
  * sketch, and a dense "TKS2" sliding blob as earlier releases wrote it into
  * streaming state stores. Both hex blobs were produced by the dense
  * stream-based codec that preceded the ByteBuffer one; they must keep
  * decoding to the same state.
  */
class SketchCodecSpec extends AnyFunSuite {

  private def plainFixture(): Sketch = {
    val s = new Sketch(SketchConfig(k = 3, width = 8, depth = 2, decay = 0.9f, lutSize = 256, seed = 42L))
    Seq("apple" -> 5L, "pear" -> 3L, "fig" -> 7L, "kiwi" -> 1L, "plum" -> 4L,
      "apple" -> 2L, "lime" -> 6L, "é☃" -> 2L).foreach { case (i, w) => s.add(i, w) }
    s
  }

  /** Collisions (8x2 cells), expired and re-headed buckets, cells with a
    * fingerprint or head but no mass.
    */
  private def slidingFixture(): SlidingSketch = {
    val s = new SlidingSketch(SlidingConfig(k = 3, width = 8, depth = 2, windowSize = 4,
      bucketHistoryLength = 3, decay = 0.9f, lutSize = 256, seed = 42L))
    (0 until 6).foreach { t =>
      (0 until 5).foreach(j => s.add(s"i${(t * 3 + j) % 7}", ((t + j) % 4 + 1).toLong))
      s.tick()
    }
    s.ticks(2)
    s.add("apple", 9L)
    s
  }

  private def unhex(h: String): Array[Byte] =
    h.filterNot(_.isWhitespace).grouped(2).map(Integer.parseInt(_, 16).toByte).toArray

  private def hex(b: Array[Byte]): String = b.map(x => f"${x & 0xff}%02x").mkString

  private val goldenPlain = unhex("""
      544b50320000000300000008000000023f66666600000100000000000000002a2e2ac13ef8e8d8fc00000010d46c3948
      0000000000000003378131060000000000000007000000000000000000000000acdd84fd000000000000000163170160
      00000000000000060000000000000000000000001e8b0a090000000000000004eab307d9000000000000000637813106
      0000000000000007eab307d90000000000000003000000000000000000000000d46c394800000000000000011e8b0a09
      0000000000000004acdd84fd000000000000000100000000000000000000000000000000000000000000000000000003
      63170160000000046c696d65000000000000000637813106000000056170706c650000000000000007eab307d9000000
      036669670000000000000007""")

  private val goldenSlidingTks2 = unhex("""
      544b533200000003000000080000000200000004000000033f66666600000100000000000000002aa195a45c672ef709
      000000002569dd6200000000000000000000000237813106000000000000000000000007d35fbd460000000000000000
      0000000288e083d300000000000000000000000414e4fe15000000010000000000000000000000000000000000000000
      000000000000000000000000000000000000000000000000000000000000000000000000378131060000000000000000
      000000095760846600000000000000000000000014e4fe1500000001000000000000000088e083d30000000000000000
      000000040000000000000000000000000000000000000000000000000000000000000000608dde3e0000000000000000
      000000002569dd6200000000000000000000000000000000000000000000000000000000000000000000000200000000
      000000070000000000000000000000000000000000000000000000000000000000000000000000000000000200000000
      000000000000000000000000000000000000000400000000000000000000000000000000000000000000000000000000
      000000000000000000000000000000000000000000000000000000000000000000000000000000000000000000000000
      000000000000000000000000000000000000000000000000000000090000000000000000000000000000000000000000
      000000000000000000000000000000000000000000000000000000000000000000000000000000000000000000000000
      000000000000000000000000000000000000000400000000000000000000000000000000000000000000000000000000
      000000000000000000000000000000000000000000000000000000000000000000000000000000000000000000000000
      000000000000000000000000000000000000000000000003608dde3e000000026932000000000000000388e083d30000
      00026933000000000000000437813106000000056170706c650000000000000009""")

  private def assertSameSliding(got: SlidingSketch, want: SlidingSketch): Unit = {
    assert(got.cfg == want.cfg)
    assert(got.fingerprints.sameElements(want.fingerprints), "fingerprints")
    assert(got.first.sameElements(want.first), "heads")
    assert(got.countsSum.sameElements(want.countsSum), "sums")
    assert(got.ring.sameElements(want.ring), "ring")
    assert(got.nextBucketToExpire == want.nextBucketToExpire, "cursor")
    assert(got.rng.getState == want.rng.getState, "rng")
    assert(got.sortedSlice.toSeq == want.sortedSlice.toSeq, "heap")
    assert(got.heap.entries.toSet == want.heap.entries.toSet, "heap entries")
  }

  test("plain TKP2 layout is byte-identical to the golden blob") {
    val s = plainFixture()
    assert(hex(SketchCodec.encode(s)) == hex(goldenPlain))
    val back = SketchCodec.decode(goldenPlain)
    assert(back.cfg == s.cfg)
    assert(back.fingerprints.sameElements(s.fingerprints))
    assert(back.counts.sameElements(s.counts))
    assert(back.rng.getState == s.rng.getState)
    assert(back.sortedSlice.toSeq == s.sortedSlice.toSeq)
    assert(SketchCodec.encode(back).sameElements(goldenPlain))
  }

  test("a TKS2 sliding blob decodes to identical state and re-encodes losslessly as TKS3") {
    val want = slidingFixture()
    // the fixture covers the cases the sparse layout must keep apart
    assert((0 until want.countsSum.length).exists(b => want.countsSum(b) == 0L && want.first(b) != 0))
    assert((0 until want.countsSum.length).exists(b => want.countsSum(b) == 0L && want.fingerprints(b) != 0))
    assert(want.rng.getState != new Rng(want.cfg.seed).getState, "fixture never collided")

    val old = SketchCodec.decodeSliding(goldenSlidingTks2)
    assertSameSliding(old, want)

    val tks3 = SketchCodec.encodeSliding(old)
    assert(new String(tks3, 0, 4, "US-ASCII") == "TKS3")
    assert(tks3.sameElements(SketchCodec.encodeSliding(want)))
    assert(tks3.length < goldenSlidingTks2.length, s"${tks3.length} vs ${goldenSlidingTks2.length}")
    val back = SketchCodec.decodeSliding(tks3)
    assertSameSliding(back, want)
    // and both evolve identically afterwards
    back.add("apple", 2L); want.add("apple", 2L); back.tick(); want.tick()
    assertSameSliding(back, want)
  }

  test("an empty sliding sketch encodes to header and heap only") {
    val s = new SlidingSketch(SlidingConfig.withDefaults(k = 20, windowSize = 5))
    // header 52 + cell count 4 + ring count 4 + heap count 4
    assert(SketchCodec.encodeSliding(s).length == 64)
    assertSameSliding(SketchCodec.decodeSliding(SketchCodec.encodeSliding(s)), s)
  }
}
