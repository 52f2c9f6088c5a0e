package graft.core

/** Counter-based deterministic RNG (SplitMix64 stream).
  *
  * The reference draws decay probabilities from Go's *global* `math/rand/v2`
  * (reference: sketch.go:155, sliding/sketch.go:229), which is not seedable —
  * even the reference is only statistically reproducible on collision paths.
  * We are stricter: every sketch carries its own SplitMix64 stream seeded from
  * the engine config, so Spark task retries / checkpoint replays that re-feed
  * the same update sequence reproduce identical state.
  *
  * SplitMix64 is the public-domain generator from Steele, Lea & Flood,
  * "Fast Splittable Pseudorandom Number Generators" (OOPSLA'14), as published
  * at https://prng.di.unimi.it/splitmix64.c.
  */
final class Rng(seed: Long) extends Serializable {
  private var state: Long = seed

  def this() = this(0x9e3779b97f4a7c15L)

  @inline def nextLong(): Long = {
    val out = Rng.mix64(state)
    state += 0x9e3779b97f4a7c15L
    out
  }

  /** Advances the stream by `n` draws in O(1): each draw adds the same
    * golden-ratio increment to the state, so `skip(n)` equals `n` calls of
    * `nextLong()` with their outputs discarded.
    */
  def skip(n: Long): Unit = state += n * 0x9e3779b97f4a7c15L

  /** Uniform float in [0, 1) with 24 bits of mantissa (same range/precision
    * contract as Go's rand.Float32).
    */
  @inline def nextFloat(): Float =
    (nextLong() >>> 40).toFloat / (1 << 24).toFloat

  /** Number of Bernoulli(p) trials up to and including the first success —
    * Geometric(p) sampled in closed form from ONE draw (inverse CDF), for
    * skipping long runs of failed decay trials instead of drawing per trial.
    * Returns Long.MaxValue when p is so small the first success is beyond
    * any realistic trial budget (p <= 0 after float rounding).
    */
  def geometricTrials(p: Float): Long = {
    if (p >= 1f) return 1L
    if (p <= 0f) { nextFloat(); return Long.MaxValue }
    val u = nextFloat().toDouble // in [0, 1)
    // k = ceil(ln(1-u) / ln(1-p)) via floor(+1); both logs are negative.
    // For tiny p the ratio can exceed Long.MaxValue — Double.toLong saturates
    // to Long.MaxValue and the +1 would wrap negative (then clamp to 1 ⇒
    // immediate success, the opposite of the true distribution). Saturate in
    // double space before converting.
    val kd = math.log1p(-u) / math.log1p(-p)
    if (kd >= Long.MaxValue.toDouble) return Long.MaxValue
    val k = kd.toLong + 1L
    if (k < 1L) 1L else k
  }

  /** Current stream position — serialized with the sketch for exact replay. */
  def getState: Long = state
  def setState(s: Long): Unit = state = s
}

object Rng {
  /** The stateless SplitMix64 step: golden-ratio increment + finalizer.
    * THE one definition of the mix — `Rng.nextLong`, MinHash signatures
    * (Dedup) and hyperplane components (Similarity) all call this, so the
    * constants can never drift between sites (their outputs are
    * cross-reproducible by contract).
    */
  @inline def mix64(x: Long): Long = {
    var z = x + 0x9e3779b97f4a7c15L
    z = (z ^ (z >>> 30)) * 0xbf58476d1ce4e5b9L
    z = (z ^ (z >>> 27)) * 0x94d049bb133111ebL
    z ^ (z >>> 31)
  }

  /** Derive a per-group RNG seed from config seed + group identity so that
    * different groups/partitions draw independent streams but replays are exact.
    */
  def deriveSeed(configSeed: Long, groupKey: String): Long = {
    val h = XxHash32.hashString(groupKey, (configSeed & 0x7fffffff).toInt)
    configSeed * 0x9e3779b97f4a7c15L ^ (h.toLong << 17) ^ (configSeed >>> 31)
  }
}
