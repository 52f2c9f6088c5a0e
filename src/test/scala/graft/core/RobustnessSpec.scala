package graft.core

import org.scalatest.funsuite.AnyFunSuite

/** Regression tests for the round-2 robustness review: weight-domain guards,
  * oversized items through the codecs, and the closed-form decay skip for
  * huge weighted adds.
  */
class RobustnessSpec extends AnyFunSuite {

  test("sliding sketch ignores non-positive increments (uint32 domain parity)") {
    val s = new SlidingSketch(SlidingConfig.withDefaults(k = 2, windowSize = 3,
      width = 64, depth = 2))
    assert(!s.add("x", 0L))
    assert(!s.add("x", -7L))
    assert(s.count("x") == 0L)
    assert(s.add("x", 2L))
    assert(s.count("x") == 2L)
  }

  test("codec round-trips heap items longer than 64KB (writeUTF limit)") {
    val big = "x" * 70000 + "é" // > 65535 UTF-8 bytes, non-ASCII tail
    val s = new Sketch(SketchConfig.withDefaults(k = 2, width = 64, depth = 2))
    s.add(big, 5L)
    s.add("small", 3L)
    val back = SketchCodec.decode(SketchCodec.encode(s))
    assert(back.count(big) == 5L)
    assert(back.sortedSlice.head.item == big)
  }

  test("sliding stream state codec round-trips oversized pending items") {
    import graft.streaming.{SlidingStreamCodec, SlidingStreamState}
    val big = "y" * 70000
    val st = SlidingStreamState.fresh(
      SlidingConfig.withDefaults(k = 2, windowSize = 2, width = 32, depth = 2), "k")
    st.pending += ((3L, big, 9L))
    st.clockTick = 1L
    val back = SlidingStreamCodec.decode(SlidingStreamCodec.encode(st))
    assert(back.pending.toSeq == Seq((3L, big, 9L)))
    assert(back.clockTick == 1L)
  }

  test("corrupt sliding stream state fails with IllegalArgumentException") {
    import java.nio.ByteBuffer
    import graft.streaming.{SlidingStreamCodec, SlidingStreamState}
    val st = SlidingStreamState.fresh(
      SlidingConfig.withDefaults(k = 2, windowSize = 2, width = 32, depth = 2), "k")
    st.sketch.add("a", 3L)
    st.pending += ((3L, "b", 9L))
    st.clockTick = 1L
    val good = SlidingStreamCodec.encode(st)
    def patched(at: Int, v: Int): Array[Byte] = {
      val b = good.clone(); ByteBuffer.wrap(b).putInt(at, v); b
    }
    val pendingAt = 4 + ByteBuffer.wrap(good).getInt(0) + 8 // after sketch + clock
    val corrupt = Seq(
      "negative sketch length"  -> patched(0, -1),
      "oversized sketch length" -> patched(0, Int.MaxValue),
      "negative pending count"  -> patched(pendingAt, -5),
      "oversized pending count" -> patched(pendingAt, Int.MaxValue),
      "negative item length"    -> patched(pendingAt + 4 + 8, -1),
      "oversized item length"   -> patched(pendingAt + 4 + 8, 1 << 30)
    ) ++ (0 until good.length).map(n => s"truncated to $n bytes" -> good.take(n))
    corrupt.foreach { case (what, blob) =>
      withClue(what)(intercept[IllegalArgumentException](SlidingStreamCodec.decode(blob)))
    }
    assert(SlidingStreamCodec.decode(good).pending.toSeq == Seq((3L, "b", 9L)))
  }

  test("corrupt sparse sliding cells fail with IllegalArgumentException") {
    import java.nio.ByteBuffer
    val s = new SlidingSketch(SlidingConfig.withDefaults(k = 2, windowSize = 3, width = 16, depth = 2))
    Seq("a", "b", "c", "d").foreach(s.add(_, 2L))
    val good = SketchCodec.encodeSliding(s)
    def patched(at: Int, v: Int): Array[Byte] = {
      val b = good.clone(); ByteBuffer.wrap(b).putInt(at, v); b
    }
    // header: magic, 5 config ints, decay, lutSize, seed, rng, cursor = 52 bytes;
    // then the cell count and cells of (index, fingerprint, head, sum)
    val firstCell = ByteBuffer.wrap(good).getInt(56)
    // the ring section follows the cells: count, then (index, slot mask, slots)
    val maskAt = 56 + ByteBuffer.wrap(good).getInt(52) * 20 + 4 + 4
    val slotPastHist = good.clone()
    slotPastHist(maskAt) = (slotPastHist(maskAt) | 0x08).toByte // hist = 3
    val corrupt = Seq(
      "ring slot past hist"   -> slotPastHist,
      "cursor out of range"   -> patched(48, 32),
      "negative cell count"   -> patched(52, -1),
      "oversized cell count"  -> patched(52, 33),
      "cell index out of range" -> patched(56, 32),
      "repeated cell index"   -> patched(76, firstCell),
      "ring head out of range" -> patched(64, 3)
    ) ++ (0 until good.length).map(n => s"truncated to $n bytes" -> good.take(n))
    corrupt.foreach { case (what, blob) =>
      withClue(what)(intercept[IllegalArgumentException](SketchCodec.decodeSliding(blob)))
    }
  }

  test("corrupt adaptive aggregate buffers fail with IllegalArgumentException") {
    import java.nio.ByteBuffer
    import graft.plans.AdaptiveTopK
    val cfg = SketchConfig.withDefaults(k = 2, width = 16, depth = 2)
    def buffer(cutoff: Int): Array[Byte] = {
      val b = new AdaptiveTopK(cfg, cutoff)
      Seq("a" -> 3L, "b" -> 2L, "c" -> 1L).foreach { case (i, w) => b.addString(i, w) }
      AdaptiveTopK.encode(b)
    }
    val exact   = buffer(cutoff = 8) // tag 0, entry count at offset 1
    val spilled = buffer(cutoff = 1) // tag 1, sketch block length at offset 1
    def patched(good: Array[Byte], at: Int, v: Int): Array[Byte] = {
      val b = good.clone(); ByteBuffer.wrap(b).putInt(at, v); b
    }
    val badTag = exact.clone(); badTag(0) = 7
    val corrupt = Seq(
      "negative entry count"  -> patched(exact, 1, -1),
      "oversized entry count" -> patched(exact, 1, Int.MaxValue),
      "negative sketch block" -> patched(spilled, 1, -1),
      "oversized sketch block" -> patched(spilled, 1, Int.MaxValue),
      "unknown tag"           -> badTag
    ) ++ Seq(exact, spilled).flatMap(good =>
      (0 until good.length).map(n => s"tag ${good(0)} truncated to $n bytes" -> good.take(n)))
    corrupt.foreach { case (what, blob) =>
      withClue(what)(intercept[IllegalArgumentException](AdaptiveTopK.decode(blob, cfg, 8)))
    }
    assert(AdaptiveTopK.decode(exact, cfg, 8).toArrayData(3).numElements() == 3)
  }

  test("corrupt topk_sliding ring buffers fail with IllegalArgumentException") {
    import java.nio.ByteBuffer
    import graft.plans.SlidingTopKAgg
    import org.apache.spark.sql.catalyst.expressions.Literal
    val cfg = SketchConfig.withDefaults(k = 2, width = 16, depth = 2)
    val agg = SlidingTopKAgg(Literal(0L), Literal("x"), Literal(1L), 2, 2, cfg)
    val ring = agg.createAggregationBuffer()
    ring.sketchFor(1L).add("a", 3L)
    ring.sketchFor(2L).add("b", 2L)
    val good = agg.serialize(ring)
    def patched(at: Int, v: Int): Array[Byte] = {
      val b = good.clone(); ByteBuffer.wrap(b).putInt(at, v); b
    }
    // tick count, then per tick: tick (8), sketch block length (4), sketch
    val corrupt = Seq(
      "negative tick count"   -> patched(0, -1),
      "oversized tick count"  -> patched(0, Int.MaxValue),
      "negative sketch block" -> patched(12, -1),
      "bad sketch magic"      -> patched(16, 0x12345678)
    ) ++ (0 until good.length).map(n => s"truncated to $n bytes" -> good.take(n))
    corrupt.foreach { case (what, blob) =>
      withClue(what)(intercept[IllegalArgumentException](agg.deserialize(blob)))
    }
    assert(agg.deserialize(good).ticks.size == 2)
  }

  test("huge weighted collision add completes via geometric skip with correct takeover mass") {
    // width=1, depth=1: every item collides in the single bucket
    val s = new Sketch(SketchConfig(k = 2, width = 1, depth = 1, decay = 0.9f,
      lutSize = 256, seed = 42L))
    s.add("a", 100L)
    val t0 = System.nanoTime()
    s.add("b", 2_000_000_000L) // per-unit trials would spin ~2e9 times
    val tookMs = (System.nanoTime() - t0) / 1e6
    assert(tookMs < 1000.0, s"took $tookMs ms — geometric skip not engaged?")
    // b must have taken the bucket over with nearly all of its mass: at most
    // 100 units can be burned decrementing a's count (one per decrement),
    // plus the trials consumed while failing
    val bCount = s.count("b")
    assert(bCount > 1_900_000_000L, s"b=$bCount")
    // a's heap entry keeps its last observed estimate (heap entries update
    // only on their own adds — reference behavior); the BUCKET now belongs
    // to b, so a and b must rank b first
    assert(s.sortedSlice.head.item == "b")
  }

  test("huge weighted collision add on the sliding sketch is also fast") {
    val s = new SlidingSketch(SlidingConfig.withDefaults(k = 2, windowSize = 2,
      width = 1, depth = 1, decay = 0.9f))
    s.add("a", 50L)
    val t0 = System.nanoTime()
    s.add("b", 1_000_000_000L)
    assert((System.nanoTime() - t0) / 1e6 < 1000.0)
    assert(s.count("b") > 900_000_000L)
  }

  test("geometricTrials: mean ~ 1/p, edge cases exact") {
    val rng = new Rng(7L)
    assert(rng.geometricTrials(1f) == 1L)
    assert(rng.geometricTrials(0f) == Long.MaxValue)
    val p = 0.01f
    val n = 20000
    val mean = (1 to n).map(_ => rng.geometricTrials(p).toDouble).sum / n
    assert(math.abs(mean - 100.0) < 5.0, s"mean=$mean")
    assert((1 to 1000).forall(_ => rng.geometricTrials(0.999f) >= 1L))
  }

  test("geometricTrials: tiny p saturates instead of wrapping negative") {
    // for p ~ 1e-20, ln(1-u)/ln(1-p) exceeds Long.MaxValue for any u not
    // vanishingly small; Double.toLong saturates, and before the fix the +1
    // wrapped to Long.MinValue -> clamp to 1 = immediate success
    val rng = new Rng(13L)
    val draws = (1 to 10000).map(_ => rng.geometricTrials(1e-20f))
    // every draw astronomically large (success essentially never): kd >=
    // |ln(1-2^-24)|/1e-20 ~ 6e12 for the smallest nonzero u; ~91% of draws
    // (u >= 0.088) exceed Long.MaxValue and must saturate, not wrap
    assert(draws.forall(_ >= 1_000_000_000_000L), s"min=${draws.min}")
    assert(draws.count(_ == Long.MaxValue) > 8000, s"saturated=${draws.count(_ == Long.MaxValue)}")
  }

  test("heavily-defended bucket survives a huge colliding add (tiny-decay regime)") {
    // decay 0.9^500 ~ 1.3e-23: per-trial success is essentially impossible, so
    // a 2e9-weight colliding add must leave the owner untouched. Before the
    // geometricTrials fix the wrap made every draw an immediate success and
    // the bucket was demolished in ~500 draws.
    val s = new Sketch(SketchConfig(k = 2, width = 1, depth = 1, decay = 0.9f,
      lutSize = 256, seed = 99L))
    s.add("a", 500L)
    s.add("b", 2_000_000_000L)
    assert(s.count("a") == 500L, s"owner decayed to ${s.count("a")}")
    assert(s.count("b") == 0L, s"intruder claimed count ${s.count("b")}")
  }

  test("per-trial and skip regimes agree statistically on takeover frequency") {
    // same scenario, increments straddling the threshold: an established
    // count-8 bucket vs a weighted add; the probability the add takes the
    // bucket over should not depend on which sampling regime ran
    def takeoverRate(increment: Long, seedBase: Long): Double = {
      val trials = 400
      val wins = (0 until trials).count { i =>
        val s = new Sketch(SketchConfig(k = 2, width = 1, depth = 1,
          decay = 0.5f, lutSize = 64, seed = seedBase + i))
        s.add("a", 8L)
        s.add("b", increment)
        s.count("b") > 0L
      }
      wins.toDouble / trials
    }
    val below = takeoverRate(Sketch.GeometricSkipThreshold, 1000L)     // per-trial
    val above = takeoverRate(Sketch.GeometricSkipThreshold + 64, 9000L) // skip
    // both ~ P(8 successes within ~4096 trials at p in [0.5^8, 0.5]) ≈ 1;
    // the check is that neither regime collapses (e.g. skip never taking over)
    assert(below > 0.9, s"below=$below")
    assert(above > 0.9, s"above=$above")
  }
}
