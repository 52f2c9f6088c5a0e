package graft.core

import scala.jdk.CollectionConverters._

import graft.plans.{AdaptiveTopK, SlidingTopKAgg}
import org.apache.spark.sql.catalyst.expressions.{GenericInternalRow, Literal}
import org.apache.spark.sql.catalyst.util.GenericArrayData
import org.scalatest.funsuite.AnyFunSuite

/** Layout pins for SketchCodec: the plain "TKP2" bytes of a small fixed
  * sketch, and a dense "TKS2" sliding blob as earlier releases wrote it into
  * streaming state stores. Both hex blobs were produced by the dense
  * stream-based codec that preceded the ByteBuffer one; they must keep
  * decoding to the same state. The aggregate-buffer blobs (AdaptiveTopK,
  * which `topk_stream_sessions` keeps in its state store, and the
  * `topk_sliding` ring of per-tick plain sketches) were likewise written by
  * the stream-based framing those buffers used before moving onto
  * `putBlock`/`readBlock`. The ring now keeps one AdaptiveTopK per tick;
  * its old bytes stay pinned as a decode-only fixture.
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

  private val aggCfg = SketchConfig(k = 3, width = 8, depth = 2, decay = 0.9f, lutSize = 256, seed = 42L)

  private def adaptiveFixture(cutoff: Int, updates: Seq[(String, Long)]): AdaptiveTopK = {
    val b = new AdaptiveTopK(aggCfg, cutoff)
    updates.foreach { case (i, w) => b.addString(i, w) }
    b
  }

  /** 3 distinct items under a cutoff of 4: stays an exact map. */
  private def exactMapFixture(): AdaptiveTopK =
    adaptiveFixture(4, Seq("apple" -> 5L, "pear" -> 3L, "fig" -> 7L, "apple" -> 2L))

  /** The third distinct item spills past a cutoff of 2 into the sketch. */
  private def spilledFixture(): AdaptiveTopK =
    adaptiveFixture(2, Seq("apple" -> 5L, "pear" -> 3L, "fig" -> 7L, "kiwi" -> 1L,
      "é☃" -> 2L, "apple" -> 2L))

  private val ringAgg = SlidingTopKAgg(Literal(0L), Literal("x"), Literal(1L),
    windowTicks = 2, emitK = 3, cfg = aggCfg)

  /** Tick -2 stays an exact map; tick 3's third distinct item spills it
    * past a cutoff of 2.
    */
  private def tickRingFixture(): SlidingTopKAgg.Ring = {
    val ring = new SlidingTopKAgg.Ring()
    ring.put(-2L, adaptiveFixture(2, Seq("fig" -> 7L, "kiwi" -> 2L)))
    ring.put(3L, adaptiveFixture(2, Seq("apple" -> 5L, "pear" -> 3L, "fig" -> 1L)))
    ring
  }

  /** (tick, item, count) of a ring's rows: the same for both fixtures. */
  private def ringRows(ring: SlidingTopKAgg.Ring): Seq[(Any, String, Any)] =
    rows(ringAgg.eval(ring)).map(r => (r(0), r(2).toString, r(3)))

  private val wantRingRows = Seq(
    (-2L, "fig", 7L), (-2L, "kiwi", 2L), (3L, "apple", 5L), (3L, "pear", 3L), (3L, "fig", 1L))

  private def rows(a: Any): Seq[Seq[Any]] =
    a.asInstanceOf[GenericArrayData].array.toSeq.map(_.asInstanceOf[GenericInternalRow].values.toSeq)

  private def itemCounts(a: Any): Seq[(String, Long)] =
    rows(a).map(r => (r(0).toString, r(1).asInstanceOf[Long]))

  private val goldenExactMap = unhex("""
      0000000003000000056170706c6500000000000000070000000470656172000000000000000300000003666967000000
      0000000007""")

  private val goldenSpilled = unhex("""
      010000012c544b50320000000300000008000000023f66666600000100000000000000002a78dde6e5fd29f07e000000
      10d46c39480000000000000003378131060000000000000007000000000000000000000000acdd84fd00000000000000
      01000000000000000000000000000000000000000000000000000000000000000000000000eab307d900000000000000
      06378131060000000000000007eab307d90000000000000007000000000000000000000000d46c394800000000000000
      01000000000000000000000000acdd84fd00000000000000010000000000000000000000000000000000000000000000
      0000000003d46c39480000000470656172000000000000000337813106000000056170706c650000000000000007eab3
      07d9000000036669670000000000000007""")

  /** The ring as written while each tick kept a plain sketch (one TKP2
    * blob per tick): decode-only since the ring keeps AdaptiveTopK buffers.
    */
  private val goldenTickRing = unhex("""
      00000002fffffffffffffffe00000117544b50320000000300000008000000023f66666600000100000000000000002a
      000000000000002a00000010000000000000000000000000000000000000000000000000000000000000000000000000
      acdd84fd0000000000000002000000000000000000000000000000000000000000000000000000000000000000000000
      eab307d90000000000000007000000000000000000000000eab307d90000000000000007000000000000000000000000
      000000000000000000000000000000000000000000000000acdd84fd0000000000000002000000000000000000000000
      00000000000000000000000000000002acdd84fd000000046b6977690000000000000002eab307d90000000366696700
      0000000000000700000000000000030000012c544b50320000000300000008000000023f666666000001000000000000
      00002a000000000000002a00000010d46c39480000000000000003378131060000000000000005000000000000000000
      000000000000000000000000000000000000000000000000000000000000000000000000000000000000000000000000
      000000eab307d90000000000000001378131060000000000000005eab307d90000000000000001000000000000000000
      000000d46c39480000000000000003000000000000000000000000000000000000000000000000000000000000000000
      00000000000000000000000000000000000003eab307d900000003666967000000000000000137813106000000056170
      706c650000000000000005d46c394800000004706561720000000000000003""")

  /** The ring of [[tickRingFixture]]: tick count, then per tick the tick
    * and a length-prefixed AdaptiveTopK block (tag 0 at tick -2, tag 1 at
    * tick 3).
    */
  private val goldenAdaptiveRing = unhex("""
      00000002fffffffffffffffe000000240000000002000000046b69776900000000000000020000000366696700000000
      00000007000000000000000300000131010000012c544b50320000000300000008000000023f66666600000100000000
      000000002a000000000000002a00000010d46c3948000000000000000337813106000000000000000500000000000000
      000000000000000000000000000000000000000000000000000000000000000000000000000000000000000000000000
      0000000000eab307d90000000000000001378131060000000000000005eab307d9000000000000000100000000000000
      0000000000d46c3948000000000000000300000000000000000000000000000000000000000000000000000000000000
      000000000000000000000000000000000000000003eab307d90000000366696700000000000000013781310600000005
      6170706c650000000000000005d46c394800000004706561720000000000000003""")

  test("adaptive exact-map buffer layout is byte-identical to the golden blob") {
    val b = exactMapFixture()
    assert(b.sketch == null)
    assert(hex(AdaptiveTopK.encode(b)) == hex(goldenExactMap))
    val back = AdaptiveTopK.decode(goldenExactMap, aggCfg, cutoff = 4)
    assert(back.sketch == null)
    assert(rows(back.toArrayData(3)) == rows(b.toArrayData(3)))
    assert(itemCounts(back.toArrayData(3)) == Seq("apple" -> 7L, "fig" -> 7L, "pear" -> 3L))
    assert(AdaptiveTopK.encode(back).sameElements(goldenExactMap))
  }

  test("adaptive spilled buffer layout is byte-identical to the golden blob") {
    val b = spilledFixture()
    assert(b.sketch != null)
    assert(hex(AdaptiveTopK.encode(b)) == hex(goldenSpilled))
    val back = AdaptiveTopK.decode(goldenSpilled, aggCfg, cutoff = 2)
    assert(back.sketch != null && back.map == null)
    assert(rows(back.toArrayData(3)) == rows(b.toArrayData(3)))
    assert(itemCounts(back.toArrayData(3)) == Seq("apple" -> 7L, "fig" -> 7L, "pear" -> 3L))
    assert(AdaptiveTopK.encode(back).sameElements(goldenSpilled))
  }

  test("topk_sliding two-tick ring buffer layout is byte-identical to the golden blob") {
    val ring = tickRingFixture()
    assert(ring.get(-2L).sketch == null && ring.get(3L).sketch != null)
    assert(hex(ringAgg.serialize(ring)) == hex(goldenAdaptiveRing))
    val back = ringAgg.deserialize(goldenAdaptiveRing)
    assert(back.keySet.asScala.toSeq == Seq(-2L, 3L))
    assert(back.get(-2L).sketch == null && back.get(3L).sketch != null)
    assert(rows(ringAgg.eval(back)) == rows(ringAgg.eval(ring)))
    assert(ringRows(back) == wantRingRows)
    assert(ringAgg.serialize(back).sameElements(goldenAdaptiveRing))
  }

  test("a topk_sliding ring of per-tick plain sketches decodes to the same rows") {
    val back = ringAgg.deserialize(goldenTickRing)
    assert(back.keySet.asScala.toSeq == Seq(-2L, 3L))
    assert(back.values.asScala.forall(_.sketch != null), "each TKP2 block reads as a spilled buffer")
    assert(ringRows(back) == wantRingRows)
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
