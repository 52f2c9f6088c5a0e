package graft.core

import graft.plans.AdaptiveTopK
import org.apache.spark.unsafe.types.UTF8String
import org.scalatest.funsuite.AnyFunSuite

class AdaptiveTopKSpec extends AnyFunSuite {

  private val cfg = SketchConfig.withDefaults(k = 8, width = 1024, depth = 3)

  private def u(s: String) = UTF8String.fromString(s)

  test("exact-map phase counts exactly and orders (count desc, item asc)") {
    val b = new AdaptiveTopK(cfg, cutoff = 16)
    Seq("b" -> 3L, "a" -> 5L, "c" -> 3L, "a" -> 2L).foreach { case (i, w) => b.addString(i, w) }
    assert(b.sketch == null)
    val rows = b.toArrayData(3)
    val items  = (0 until rows.numElements()).map(i => rows.getStruct(i, 3).getUTF8String(0).toString)
    val counts = (0 until rows.numElements()).map(i => rows.getStruct(i, 3).getLong(1))
    assert(items == Seq("a", "b", "c"))
    assert(counts == Seq(7L, 3L, 3L))
  }

  test("non-positive weights are ignored in both phases") {
    val b = new AdaptiveTopK(cfg, cutoff = 4)
    b.addString("x", 0L)
    b.addString("x", -5L)
    assert(b.toArrayData(10).numElements() == 0)
  }

  test("spill past cutoff produces sketch results equal to exact (collision-free)") {
    val b = new AdaptiveTopK(cfg, cutoff = 4)
    val updates = (1 to 20).map(i => s"item$i" -> i.toLong)
    updates.foreach { case (i, w) => b.addString(i, w) }
    assert(b.sketch != null, "must have spilled")
    val rows = b.toArrayData(5)
    val got = (0 until rows.numElements()).map { i =>
      val r = rows.getStruct(i, 3); (r.getUTF8String(0).toString, r.getLong(1))
    }
    assert(got == Seq("item20" -> 20L, "item19" -> 19L, "item18" -> 18L,
      "item17" -> 17L, "item16" -> 16L))
  }

  test("codec roundtrip preserves both phases") {
    val small = new AdaptiveTopK(cfg, cutoff = 16)
    small.addString("a", 2L); small.addString("b", 7L)
    val small2 = AdaptiveTopK.decode(AdaptiveTopK.encode(small), cfg, 16)
    assert(small2.sketch == null && small2.map.size == 2)
    assert(small2.map.get(u("b"))(0) == 7L)

    val big = new AdaptiveTopK(cfg, cutoff = 2)
    (1 to 10).foreach(i => big.addString(s"i$i", i.toLong))
    val big2 = AdaptiveTopK.decode(AdaptiveTopK.encode(big), cfg, 2)
    assert(big2.map == null && big2.sketch != null)
    assert(big2.sketch.count("i10") == 10L)
  }

  test("merge map+map, map+sketch, sketch+map agree with exact totals (collision-free)") {
    def exact(parts: Seq[Seq[(String, Long)]], cutoff: Int): Map[String, Long] = {
      val bufs = parts.map { p =>
        val b = new AdaptiveTopK(cfg, cutoff)
        p.foreach { case (i, w) => b.addString(i, w) }
        b
      }
      val merged = bufs.reduce((a, b) => a.mergeWith(b))
      val rows   = merged.toArrayData(100)
      (0 until rows.numElements()).map { i =>
        val r = rows.getStruct(i, 3); r.getUTF8String(0).toString -> r.getLong(1)
      }.toMap
    }
    val p1 = Seq("a" -> 1L, "b" -> 2L)
    val p2 = Seq("b" -> 3L, "c" -> 4L)
    val p3 = (1 to 30).map(i => s"z$i" -> i.toLong)
    val want = (p1 ++ p2 ++ p3).groupBy(_._1).view.mapValues(_.map(_._2).sum).toMap
    // cutoff high: stays exact-map, retains every item
    assert(exact(Seq(p1, p2, p3), 1000) == want)
    // cutoff low: spills to a sketch that tracks cfg.k = 8 candidates; the
    // tracked top-8 must still carry exact totals (collision-free geometry)
    val wantTop8 = want.toSeq.sortBy { case (i, c) => (-c, i) }.take(8).toMap
    assert(exact(Seq(p1, p2, p3), 8) == wantTop8)
    assert(exact(Seq(p3, p1, p2), 8) == wantTop8)
  }

  test("randomized merge law: any partitioning + codec roundtrips == plain exact counting") {
    // geometry tracks MORE candidates than distinct items and is
    // collision-free, so whatever mix of map/sketch phases the random cutoffs
    // produce, the result must equal exact counting — the merge law proper
    val cfgBig = SketchConfig.withDefaults(k = 64, width = 2048, depth = 3)
    val rnd = new scala.util.Random(1592619204)
    var sketchTrials = 0
    (1 to 25).foreach { trial =>
      val nItems  = 1 + rnd.nextInt(40)
      val updates = Seq.fill(30 + rnd.nextInt(200))(
        (s"it${rnd.nextInt(nItems)}", 1L + rnd.nextInt(9)))
      val cutoff  = 1 + rnd.nextInt(48)

      // random partitioning into 1..6 parts, each encoded/decoded (shuffle
      // simulation), merged in random order
      val nParts = 1 + rnd.nextInt(6)
      val parts  = updates.groupBy(_ => rnd.nextInt(nParts)).values.toList
      val bufs = rnd.shuffle(parts.map { p =>
        val b = new AdaptiveTopK(cfgBig, cutoff)
        p.foreach { case (i, w) => b.addString(i, w) }
        AdaptiveTopK.decode(AdaptiveTopK.encode(b), cfgBig, cutoff)
      })
      val merged = bufs.reduce((a, b) => a.mergeWith(b))
      if (merged.sketch != null) sketchTrials += 1

      val rows = merged.toArrayData(100)
      val got = (0 until rows.numElements()).map { i =>
        val r = rows.getStruct(i, 3); (r.getUTF8String(0).toString, r.getLong(1))
      }
      val want = updates.groupBy(_._1).view.mapValues(_.map(_._2).sum)
        .toSeq.sortBy { case (i, c) => (-c, i) }
      assert(got == want, s"trial $trial cutoff $cutoff parts $nParts")
    }
    assert(sketchTrials > 5, "random cutoffs should exercise the sketch phase")
  }

  private def rowsOf(a: org.apache.spark.sql.catalyst.util.ArrayData) =
    (0 until a.numElements()).map { i =>
      val r = a.getStruct(i, 3); (r.getUTF8String(0).toString, r.getLong(1), r.getLong(2))
    }

  test("a bare TKP2 sketch blob decodes to a spilled buffer with the sketch's rows") {
    // the item aggregates buffered a plain Sketch before they buffered
    // AdaptiveTopK: state checkpointed then must still restore
    val s = new Sketch(SketchConfig.withDefaults(k = 4, width = 8, depth = 2))
    (1 to 40).foreach(i => s.add(s"i${i % 11}", (i % 5 + 1).toLong))
    val blob = SketchCodec.encode(s)
    val b    = AdaptiveTopK.decode(blob, cfg, cutoff = 16)
    assert(b.map == null && b.sketch != null)
    assert(rowsOf(b.toArrayData(4)) == rowsOf(graft.plans.TopKResult.toArrayData(s, 4)))
    assert(SketchCodec.encode(b.toSketch).sameElements(blob))
    (0 until blob.length).foreach { n =>
      withClue(s"TKP2 truncated to $n bytes") {
        intercept[IllegalArgumentException](AdaptiveTopK.decode(blob.take(n), cfg, 16))
      }
    }
  }

  test("toSketch replays an exact buffer heaviest-first and leaves the buffer exact") {
    val b = new AdaptiveTopK(cfg, cutoff = 16)
    Seq("b" -> 3L, "a" -> 5L, "c" -> 3L, "a" -> 2L).foreach { case (i, w) => b.addString(i, w) }
    val before = AdaptiveTopK.encode(b)
    val want   = new Sketch(cfg)
    Seq("a" -> 7L, "b" -> 3L, "c" -> 3L).foreach { case (i, w) => want.add(i, w) }
    assert(SketchCodec.encode(b.toSketch).sameElements(SketchCodec.encode(want)))
    assert(b.sketch == null && AdaptiveTopK.encode(b).sameElements(before))
  }
}
