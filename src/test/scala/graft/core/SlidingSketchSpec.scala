package graft.core

import org.scalatest.funsuite.AnyFunSuite

/** Sliding-sketch golden vectors ported from the reference's tests
  * (reference: sliding/sketch_test.go).
  */
class SlidingSketchSpec extends AnyFunSuite {

  private def fp(s: String): Int = Hashing.fingerprint(s)

  private def newSliding(k: Int, windowSize: Int, width: Int = -1, depth: Int = -1,
                         hist: Int = -1, decay: Float = 0.9f) =
    new SlidingSketch(SlidingConfig.withDefaults(k, windowSize, width = width,
      depth = depth, bucketHistoryLength = hist, decay = decay))

  private def triples(s: SlidingSketch): Seq[(Int, String, Long)] =
    s.sortedSlice.map(e => (e.fingerprint, e.item, e.count)).toSeq

  test("defaults and history clamp (sliding/sketch_test.go:15-95)") {
    val s = newSliding(10, 100)
    assert(s.width == 256 && s.depth == 3 && s.hist == 100)
    // hist > windowSize clamps down to windowSize
    val clampedHigh = newSliding(10, 5, hist = 50)
    assert(clampedHigh.hist == 5)
    // explicit hist < 1 clamps up to 1 (sliding/sketch.go:68-70)
    val clampedLow = newSliding(10, 5, hist = 0)
    assert(clampedLow.hist == 1)
    // partial-history configuration passes through
    val partial = newSliding(10, 10, hist = 5)
    assert(partial.hist == 5)
  }

  test("simple top-K (sliding/sketch_test.go:97-127)") {
    val s = newSliding(3, 10)
    s.add("X", 5)
    s.add("Y", 3)
    s.add("Z", 2)
    s.incr("Y")
    assert(triples(s) == Seq((fp("X"), "X", 5L), (fp("Y"), "Y", 4L), (fp("Z"), "Z", 2L)))
    Seq("X" -> 5L, "Y" -> 4L, "Z" -> 2L).foreach { case (item, c) =>
      assert(s.query(item), s"query($item)")
      assert(s.count(item) == c, s"count($item)")
    }
  }

  test("window decay: full expiry after windowSize ticks (sliding/sketch_test.go:129-165)") {
    val s = newSliding(2, 2)
    s.add("X", 3); s.add("Y", 2); s.add("Z", 1)
    assert(triples(s) == Seq((fp("X"), "X", 3L), (fp("Y"), "Y", 2L)))
    s.ticks(0) // no-op
    s.tick()   // t=1
    s.tick()   // t=2
    s.add("Y", 2); s.add("Z", 3)
    assert(triples(s) == Seq((fp("Z"), "Z", 3L), (fp("Y"), "Y", 2L)))
  }

  test("tick trace — 6-step golden vector (sliding/sketch_test.go:167-296)") {
    val s = newSliding(2, 2, width = 10, depth = 2, hist = 2)

    // t=0: X+3 Y+2 Z+1 -> {X:3, Y:2}
    s.add("X", 3); s.add("Y", 2); s.add("Z", 1)
    assert(triples(s) == Seq((fp("X"), "X", 3L), (fp("Y"), "Y", 2L)), "t0")
    s.tick()

    // t=1: X+2 Y+2 Z+1 -> {X:5, Y:4}
    s.add("X", 2); s.add("Y", 2); s.add("Z", 1)
    assert(triples(s) == Seq((fp("X"), "X", 5L), (fp("Y"), "Y", 4L)), "t1")
    s.tick()

    // t=2: Y+1 Z+3 -> {Z:4, Y:3}
    s.add("Y", 1); s.add("Z", 3)
    assert(triples(s) == Seq((fp("Z"), "Z", 4L), (fp("Y"), "Y", 3L)), "t2")
    s.tick()

    // t=3: Y+1 Z+3 -> {Z:6, Y:2}
    s.add("Y", 1); s.add("Z", 3)
    assert(triples(s) == Seq((fp("Z"), "Z", 6L), (fp("Y"), "Y", 2L)), "t3")
    s.tick()

    // t=4: (no adds) -> {Z:3, Y:1}
    assert(triples(s) == Seq((fp("Z"), "Z", 3L), (fp("Y"), "Y", 1L)), "t4")
    s.tick()

    // t=5: X+1 -> {X:1}
    s.add("X", 1)
    assert(triples(s) == Seq((fp("X"), "X", 1L)), "t5")
  }

  test("reset clears state (sliding/sketch.go:289-298)") {
    val s = newSliding(3, 5)
    s.add("X", 9); s.tick(); s.add("Y", 4)
    s.reset()
    assert(s.sortedSlice.isEmpty)
    assert(s.count("X") == 0)
    assert(s.nextBucketToExpire == 0)
    s.add("Z", 2)
    assert(s.count("Z") == 2)
  }

  test("sizeBytes includes rings (sliding/sketch_test.go:58-70)") {
    val s = newSliding(10, 100)
    assert(s.sizeBytes > s.width.toLong * s.depth * s.hist * 4)
  }

  test("sliding error bounds: upper bound only, 6-tick schedule (sliding/sketch_test.go:353-399)") {
    val width = 256; val depth = 1
    val s = newSliding(10, 3, width = width, depth = depth)
    // per-tick increments, windowed true totals per FIXTURES.md §2.3
    val incr = Map(
      "high_freq"   -> Seq(500L, 500L, 500L, 0L, 0L, 0L),
      "medium_freq" -> Seq(100L, 200L, 300L, 0L, 0L, 0L),
      "low_freq"    -> Seq(50L, 50L, 100L, 0L, 0L, 0L),
      "lowest_freq" -> Seq(50L, 0L, 0L, 0L, 0L, 0L)
    )
    val windowTrue = Map(
      "high_freq"   -> Seq(500L, 1000L, 1500L, 1000L, 500L, 0L),
      "medium_freq" -> Seq(100L, 300L, 600L, 500L, 300L, 0L),
      "low_freq"    -> Seq(50L, 100L, 200L, 150L, 100L, 0L),
      "lowest_freq" -> Seq(50L, 50L, 50L, 0L, 0L, 0L)
    )
    val noiseRng = new Rng(7L)
    for (t <- 0 until 6) {
      incr.foreach { case (item, per) => if (per(t) > 0) s.add(item, per(t)) }
      (0 until 2000).foreach { _ =>
        if (t < 3) s.incr(s"noise_item_${(noiseRng.nextLong() >>> 33) % 1000}")
      }
      windowTrue.foreach { case (item, totals) =>
        assert(s.count(item) <= totals(t), s"t=$t $item: ${s.count(item)} > ${totals(t)}")
      }
      s.tick()
    }
  }

  test("sliding collisions: heavy noise evicts small flows (sliding/sketch_test.go:401-444)") {
    val s = newSliding(3, 1, width = 4, depth = 1)
    Seq("a" -> 50L, "b" -> 40L, "c" -> 30L).foreach { case (i, c) => s.add(i, c) }
    (0 until 10).foreach(i => s.add(s"n$i", 1000L))
    Seq("a", "b", "c").foreach(item => assert(!s.query(item), s"$item in top-K"))
  }

  test("large tick jump fast-path equals slow ageing") {
    def build(): SlidingSketch = {
      val s = newSliding(4, 10, width = 32, depth = 2, hist = 10)
      s.add("A", 10); s.tick(); s.add("B", 7); s.tick(); s.add("A", 1)
      s
    }
    val fast = build()
    val slow = build()
    fast.ticks(1000) // triggers fast path (bucketsToAge >= m*hist)
    (0 until 1000).foreach(_ => slow.tick())
    assert(fast.sortedSlice.toSeq == slow.sortedSlice.toSeq)
    assert(fast.countsSum.toSeq == slow.countsSum.toSeq)
    assert(fast.nextBucketToExpire == slow.nextBucketToExpire)
    // the ring HEADS must also match: the reference's per-tick loop stops
    // advancing `first` once a bucket empties, and a later collision
    // takeover writes its mass at ABSOLUTE slot 0, whose age (and thus
    // expiry tick) depends on where `first` landed. A fast path that reset
    // heads to 0 would give takeover mass a different lifetime.
    assert(fast.first.toSeq == slow.first.toSeq)
    // behavioral check of the same: post-jump adds + takeovers then partial
    // ageing must agree between the two paths
    for (s <- Seq(fast, slow)) {
      s.add("C", 3); s.add("D", 2)
      (0 until 3).foreach(_ => s.tick())
    }
    assert(fast.countsSum.toSeq == slow.countsSum.toSeq)
    assert(fast.sortedSlice.toSeq == slow.sortedSlice.toSeq)
  }

  test("merge: tick-aligned union equals sequential when collision-free") {
    val cfg = SlidingConfig.withDefaults(5, 4, width = 512, depth = 2, bucketHistoryLength = 4)
    val a = new SlidingSketch(cfg); val b = new SlidingSketch(cfg); val seq = new SlidingSketch(cfg)
    // same tick schedule on all three
    def addAll(s: SlidingSketch, updates: Seq[(String, Long)]): Unit =
      updates.foreach { case (i, c) => s.add(i, c) }
    addAll(a, Seq("X" -> 3L)); addAll(b, Seq("Y" -> 2L)); addAll(seq, Seq("X" -> 3L, "Y" -> 2L))
    a.tick(); b.tick(); seq.tick()
    addAll(a, Seq("X" -> 1L, "Z" -> 5L)); addAll(b, Seq("Y" -> 4L))
    addAll(seq, Seq("X" -> 1L, "Z" -> 5L, "Y" -> 4L))
    a.merge(b)
    for (item <- Seq("X", "Y", "Z"))
      assert(a.count(item) == seq.count(item), s"count($item)")
    // and expiry proceeds identically post-merge
    a.ticks(1); seq.ticks(1)
    for (item <- Seq("X", "Y", "Z"))
      assert(a.count(item) == seq.count(item), s"after tick: count($item)")
  }

  /** Drained states — empty heap, mass left in buckets — of seeded runs at
    * `cfg`: the states the streams fast-forward from.
    */
  private def drainedStates(cfg: SlidingConfig): Seq[Array[Byte]] = {
    val states = for (seed <- 0 until 40) yield {
      val rng = new scala.util.Random(seed)
      val s   = new SlidingSketch(cfg)
      (0 until 3).foreach { _ =>
        (0 until 6).foreach(_ => s.add(s"i${rng.nextInt(12)}", 1L + rng.nextInt(5)))
        s.tick()
      }
      Iterator.continually { s.tick(); s }.take(12)
        .filter(x => x.heap.size == 0 && x.hasResidualMass).map(SketchCodec.encodeSliding).toList
    }
    states.flatten
  }

  test("fastForward(n) ages exactly what n tick() calls do") {
    // 5x3, hist 3, window 4: a tick ages max(1, 45/4) = 11 buckets, n ticks
    // 11n, while ticks(n) ages n·45/4, so a jump split at a batch boundary
    // would change the state
    val cfg    = SlidingConfig.withDefaults(1, 4, width = 5, depth = 3, bucketHistoryLength = 3)
    val states = drainedStates(cfg)
    assert(states.size >= 10, s"only ${states.size} drained states")
    def after(state: Array[Byte])(f: SlidingSketch => Unit) = {
      val s = SketchCodec.decodeSliding(state); f(s); SketchCodec.encodeSliding(s).toSeq
    }
    var ticksDiffer = false
    for (state <- states; n <- 1 to 12) {
      val stepped = after(state)(s => (0 until n).foreach(_ => s.tick()))
      assert(after(state)(_.fastForward(n)) == stepped, s"n = $n")
      ticksDiffer ||= after(state)(_.ticks(n)) != stepped
    }
    assert(ticksDiffer, "ticks(n) matched n tick() calls everywhere: the geometry tests nothing")

    // hist = window, as the sliding stream runs: ticks(n) ages n·m buckets too
    val full       = SlidingConfig.withDefaults(1, 4, width = 5, depth = 3)
    val fullStates = drainedStates(full)
    assert(fullStates.nonEmpty)
    for (state <- fullStates; n <- 1 to 12)
      assert(after(state)(_.fastForward(n)) == after(state)(_.ticks(n)), s"n = $n")
  }
}
