package graft.perfbench

/** The benchmark's own input generators. Every input is a pure function of
  * (workload seed, ordinal), so the same `--seed` gives the same inputs, and
  * the program under test receives only the generated rows. Each generator
  * also yields the exact answers the outputs are checked against.
  */
object Gen {

  /** SplitMix64 (Steele, Lea & Flood, OOPSLA'14), kept local so a change to
    * the program's RNG cannot change the benchmark's inputs.
    */
  final class SplitMix(seed: Long) extends Serializable {
    private var s = seed
    def nextLong(): Long = {
      s += 0x9e3779b97f4a7c15L
      var z = s
      z = (z ^ (z >>> 30)) * 0xbf58476d1ce4e5b9L
      z = (z ^ (z >>> 27)) * 0x94d049bb133111ebL
      z ^ (z >>> 31)
    }
    def uniform(): Double = (nextLong() >>> 11).toDouble / (1L << 53).toDouble
    def below(n: Int): Int = ((nextLong() >>> 33) % n).toInt
  }

  def rng(seed: Long, salt: Long, ord: Long): SplitMix =
    new SplitMix(seed * 0x632be59bd9b4e019L ^ salt ^ (ord * 0x9e3779b97f4a7c15L))

  /** Power-law rank in [0, n): inverse CDF of u^3, a heavy head like
    * natural token streams.
    */
  def powerLaw(r: SplitMix, n: Int): Int = {
    val u = r.uniform()
    (n * u * u * u).toInt.min(n - 1)
  }

  // ---- tokens_global: token-sequence table ----

  final val TokenVocab = 50000
  final val MeanTokens = 512

  def docTokens(seed: Long, ord: Long): Array[Int] = {
    val r    = rng(seed, 0x70c3275L, ord)
    val nTok = 1 + r.below(2 * MeanTokens - 1)
    Array.fill(nTok)(powerLaw(r, TokenVocab))
  }

  /** Exact token counts over docs [0, numDocs). */
  def tokenCounts(seed: Long, numDocs: Int): Array[Long] = {
    val counts = new Array[Long](TokenVocab)
    var ord    = 0
    while (ord < numDocs) {
      docTokens(seed, ord).foreach(t => counts(t) += 1)
      ord += 1
    }
    counts
  }

  // ---- stream_sliding: per-key power-law events ----

  final val StreamVocab = 1000

  def streamKey(k: Int): String = f"k$k%03d"

  /** `n` events of one generator file: (key index, item) pairs. */
  def streamEvents(seed: Long, file: Long, n: Int, keys: Int): Array[(Int, String)] = {
    val r = rng(seed, 0x57eaL, file)
    Array.fill(n) {
      val k = r.below(keys)
      (k, s"${streamKey(k)}_${powerLaw(r, StreamVocab)}")
    }
  }
}
