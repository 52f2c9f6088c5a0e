package graft.core

import org.scalacheck.{Gen, Prop}
import org.scalatest.funsuite.AnyFunSuite

/** Property-based invariants (ScalaCheck):
  *  - under-estimation: estimates never exceed true counts (the HeavyKeeper
  *    guarantee the reference asserts at sketch_test.go:275-277), under any
  *    update schedule and geometry;
  *  - merge laws: commutativity and the single-writer-equivalence of merge on
  *    collision-free geometries;
  *  - heap: tracked counts always equal bucket-derived estimates after adds.
  */
class SketchPropertiesSpec extends AnyFunSuite {

  /** Raw-ScalaCheck runner (scalatestplus bridge not on the classpath). */
  private def check(prop: Prop): Unit = {
    val res = org.scalacheck.Test.check(
      org.scalacheck.Test.Parameters.default.withMinSuccessfulTests(60), prop)
    assert(res.passed, res.status.toString)
  }

  private val genUpdates: Gen[List[(Int, Int)]] =
    Gen.listOfN(400, Gen.zip(Gen.choose(0, 50), Gen.choose(1, 20)))

  private val genGeometry: Gen[(Int, Int, Int)] =
    Gen.zip(Gen.choose(2, 12), Gen.oneOf(4, 16, 64, 256), Gen.choose(1, 4))

  test("under-estimation holds for any schedule and geometry") {
    check(Prop.forAll(genUpdates, genGeometry) { (ups, geom) =>
      val (k, width, depth) = geom
      val s     = new Sketch(SketchConfig.withDefaults(k, width = width, depth = depth))
      val truth = scala.collection.mutable.Map.empty[String, Long].withDefaultValue(0L)
      ups.foreach { case (tok, w) =>
        s.add(s"t$tok", w.toLong); truth(s"t$tok") += w
      }
      truth.forall { case (item, t) => s.count(item) <= t }
    })
  }

  test("sliding under-estimation holds across random tick schedules") {
    val genSchedule = Gen.listOfN(200,
      Gen.zip(Gen.choose(0, 30), Gen.choose(1, 10), Gen.choose(0, 2)))
    check(Prop.forAll(genSchedule) { sched =>
      val s = new SlidingSketch(SlidingConfig.withDefaults(5, 4, width = 16, depth = 2))
      // truth over the same window semantics: per-tick counts, sum last 4 ticks
      val perTick = scala.collection.mutable.Map.empty[(Int, Int), Long].withDefaultValue(0L)
      var tick    = 0
      sched.foreach { case (tok, w, advance) =>
        s.add(s"t$tok", w.toLong)
        perTick((tok, tick)) += w
        if (advance == 1) { s.tick(); tick += 1 }
      }
      (0 to 50).forall { tok =>
        val trueWindow = (math.max(0, tick - 3) to tick)
          .map(tt => perTick((tok, tt))).sum
        s.count(s"t$tok") <= trueWindow
      }
    })
  }

  test("merge is commutative for arbitrary inputs") {
    val cfg = SketchConfig.withDefaults(5, width = 32, depth = 2)
    check(Prop.forAll(genUpdates, genUpdates) { (ua, ub) =>
      def mk(ups: List[(Int, Int)]): Sketch = {
        val s = new Sketch(cfg)
        ups.foreach { case (tok, w) => s.add(s"t$tok", w.toLong) }
        s
      }
      val ab = mk(ua).merge(mk(ub))
      val ba = mk(ub).merge(mk(ua))
      ab.counts.sameElements(ba.counts) &&
        ab.fingerprints.sameElements(ba.fingerprints) &&
        ab.sortedSlice.toSeq == ba.sortedSlice.toSeq
    })
  }

  test("merge equals single-writer on collision-free geometry") {
    val cfg = SketchConfig.withDefaults(8, width = 2048, depth = 3)
    val genSmall = Gen.listOfN(150, Gen.zip(Gen.choose(0, 40), Gen.choose(1, 9)))
    check(Prop.forAll(genSmall, genSmall) { (ua, ub) =>
      def mk(ups: List[(Int, Int)]): Sketch = {
        val s = new Sketch(cfg)
        ups.foreach { case (tok, w) => s.add(s"t$tok", w.toLong) }
        s
      }
      val merged = mk(ua).merge(mk(ub))
      val seq    = mk(ua ++ ub)
      (0 to 40).forall(tok => merged.count(s"t$tok") == seq.count(s"t$tok"))
    })
  }

  test("codec round-trip is identity on counts and top-K") {
    check(Prop.forAll(genUpdates, genGeometry) { (ups, geom) =>
      val (k, width, depth) = geom
      val s = new Sketch(SketchConfig.withDefaults(k, width = width, depth = depth))
      ups.foreach { case (tok, w) => s.add(s"t$tok", w.toLong) }
      val back = SketchCodec.decode(SketchCodec.encode(s))
      back.counts.sameElements(s.counts) &&
        back.sortedSlice.toSeq == s.sortedSlice.toSeq &&
        back.rng.getState == s.rng.getState
    })
  }

  test("sliding codec round-trip preserves ring state and expiry cursor") {
    val genSchedule = Gen.listOfN(100,
      Gen.zip(Gen.choose(0, 20), Gen.choose(1, 5), Gen.choose(0, 2)))
    check(Prop.forAll(genSchedule) { sched =>
      val s = new SlidingSketch(SlidingConfig.withDefaults(4, 5, width = 32, depth = 2))
      sched.foreach { case (tok, w, adv) =>
        s.add(s"t$tok", w.toLong); if (adv == 1) s.tick()
      }
      val back = SketchCodec.decodeSliding(SketchCodec.encodeSliding(s))
      val same = back.ring.sameElements(s.ring) &&
        back.fingerprints.sameElements(s.fingerprints) &&
        back.countsSum.sameElements(s.countsSum) &&
        back.first.sameElements(s.first) &&
        back.nextBucketToExpire == s.nextBucketToExpire &&
        back.sortedSlice.toSeq == s.sortedSlice.toSeq
      // and behaviorally: both evolve identically afterwards
      back.tick(); s.tick()
      same && back.sortedSlice.toSeq == s.sortedSlice.toSeq
    })
  }
}
