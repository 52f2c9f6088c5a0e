package graft.core

import org.scalatest.funsuite.AnyFunSuite

/** `SketchOps.decayTrials` against the loop it replaces below the
  * geometric-skip threshold: decay^count read and one draw made per trial.
  * Both must leave the same count and the same RNG position, so sketch
  * state stays bit-identical.
  */
class DecayTrialsSpec extends AnyFunSuite {

  test("Rng.skip(n) equals n nextLong() calls") {
    Seq(0L, 1L, 2L, 17L, 4096L, 100000L).foreach { n =>
      val (a, b) = (new Rng(42L + n), new Rng(42L + n))
      var i = 0L
      while (i < n) { a.nextLong(); i += 1 }
      b.skip(n)
      withClue(s"n = $n") {
        assert(a.getState == b.getState)
        assert(a.nextLong() == b.nextLong())
      }
    }
  }

  /** The per-trial loop, geometric skip above the threshold unchanged. */
  private def perTrial(count: Long, increment: Long, lut: Array[Float], rng: Rng): Long = {
    var c         = count
    var remaining = increment
    while (remaining > 0L) {
      val decay = SketchOps.decayAt(lut, c)
      if (remaining <= Sketch.GeometricSkipThreshold) {
        if (rng.nextFloat() < decay) {
          c -= 1
          if (c == 0L) return -remaining
        }
        remaining -= 1
      } else {
        val k = rng.geometricTrials(decay)
        if (k > remaining) remaining = 0L
        else {
          c -= 1
          if (c == 0L) return -(remaining - (k - 1))
          remaining -= k
        }
      }
    }
    c
  }

  test("heavy-collision weighted adds equal the per-trial loop, draws included") {
    // counts below the LUT, past it (math.pow), near and past the float
    // underflow of 0.9^count (~980), increments on both sides of the
    // threshold, and takeovers at small counts
    for {
      decay     <- Seq(0.9f, 0.999f, 1f)
      count     <- Seq(1L, 3L, 40L, 255L, 256L, 300L, 700L, 979L, 980L, 1000L, 5000L, 1L << 40)
      increment <- Seq(1L, 2L, 5L, 37L, 400L, 4096L, 4097L, 20000L)
      seed      <- 0L until 4L
    } {
      val lut    = SketchConfig.decayLut(decay, 256)
      val (a, b) = (new Rng(seed), new Rng(seed))
      withClue(s"decay $decay, count $count, increment $increment, seed $seed") {
        assert(SketchOps.decayTrials(count, increment, lut, a) == perTrial(count, increment, lut, b))
        assert(a.getState == b.getState)
      }
    }
  }
}
