package graft.spark

import graft.operators.{Dedup, Similarity, TextAnalysis}
import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

class TrainingOpsSpec extends AnyFunSuite {
  private lazy val spark = SparkTestSession.spark
  import spark.implicits._

  private val base =
    "the quick brown fox jumps over the lazy dog while the cat watches from the warm windowsill nearby"

  test("exact dedup: min-id survivor per distinct text") {
    val df = Seq(
      (1L, "aaa bbb"), (2L, "ccc ddd"), (3L, "aaa bbb"), (4L, "eee"), (5L, "aaa bbb")
    ).toDF("doc_id", "text")
    val survivors = Dedup.exactSurvivors(df, $"doc_id", $"text")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(survivors == Set((1L, 3L), (2L, 1L), (4L, 1L)))
    val groups = Dedup.exactDupGroups(df, $"doc_id", $"text").collect()
    assert(groups.length == 1)
    assert(groups.head.getAs[scala.collection.Seq[Long]]("doc_ids").toSeq == Seq(1L, 3L, 5L))
  }

  test("exact dedup: null-text docs are never duplicates of each other") {
    // xxhash64 skips null inputs (returns the bare seed), which would merge
    // every text-less doc into ONE group — and a dedup pipeline would then
    // drop all but one of them. Each must be its own singleton survivor.
    val df = Seq[(Long, String)](
      (1L, null), (2L, "same"), (3L, null), (4L, "same"), (5L, null)
    ).toDF("doc_id", "text")
    val survivors = Dedup.exactSurvivors(df, $"doc_id", $"text")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(survivors == Set((1L, 1L), (3L, 1L), (5L, 1L), (2L, 2L)))
    val groups = Dedup.exactDupGroups(df, $"doc_id", $"text").collect()
    assert(groups.length == 1) // only the real "same" pair; no null group
    assert(groups.head.getAs[scala.collection.Seq[Long]]("doc_ids").toSeq == Seq(2L, 4L))
  }

  test("minhash LSH finds planted near-duplicates and skips distinct docs") {
    val nearDup = base.replace("lazy", "sleepy") // small edit
    val docs = Seq(
      (1L, base), (2L, nearDup),
      (3L, "completely different content about spark query engines and distributed joins over parquet"),
      (4L, "yet another unrelated document mentioning tokens embeddings and heavy keeper sketches at scale")
    ).toDF("doc_id", "text")
    val pairs = Dedup.minhashLshPairs(docs, $"doc_id", $"text", threshold = 0.5)
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    assert(pairs.toSet == Set((1L, 2L)))
    // estimate close to exact
    val withExact = Dedup.exactJaccard(Seq((1L, 2L)).toDF("a", "b"), docs, 5)
      .head().getDouble(2)
    val est = Dedup.minhashLshPairs(docs, $"doc_id", $"text", threshold = 0.5)
      .head().getDouble(2)
    assert(math.abs(withExact - est) < 0.2, s"exact=$withExact est=$est")
  }

  test("minhash: multi-byte and astral texts keep the empty-shingle exclusion") {
    // 3 CJK chars: 9 UTF-8 bytes pass the scan pre-filter but shingle
    // EMPTY (3 UTF-16 units < 5-unit window) — the banding guard must emit
    // no bands, so identical copies must NOT pair (the old size(sig) > 0
    // semantics). Astral text: 3 surrogate-pair emoji + "ab" = 8 UTF-16
    // units >= 5 but only 5 CODE POINTS — a code-point length() pre-filter
    // would wrongly drop it; identical copies MUST pair.
    val cjk    = "中文字"
    val astral = "😀😁😂ab"
    val docs = Seq((1L, cjk), (2L, cjk), (3L, astral), (4L, astral),
      (5L, null: String)).toDF("doc_id", "text")
    val pairs = Dedup.minhashLshPairs(docs, $"doc_id", $"text", threshold = 0.5)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(pairs == Set((3L, 4L)), s"got $pairs")
  }

  test("simhash: near-identical texts pair with small hamming, unrelated don't") {
    // simhash needs enough tokens that a one-token edit can't flip many bit
    // accumulators — use a long doc (the realistic regime for simhash dedup)
    val longDoc = (base + " ") * 20
    val docs = Seq(
      (1L, longDoc), (2L, longDoc.replaceFirst("warm", "cold")),
      (3L, ("spark catalyst optimizer rewrites logical plans into physical plans with codegen stages " * 20))
    ).toDF("doc_id", "text")
    val pairs = Dedup.simhashPairs(docs, $"doc_id", $"text", maxDistance = 6)
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    assert(pairs.toSet == Set((1L, 2L)))
  }

  test("brute-force cosine top-K with exact ordering") {
    val corpus = Seq(
      (1L, Array(1f, 0f)), (2L, Array(0.9f, 0.1f)), (3L, Array(0f, 1f)), (4L, Array(-1f, 0f))
    ).toDF("vec_id", "embedding")
    val queries = corpus.where($"vec_id" === 1L)
    val out = Similarity.cosineTopK(corpus, $"vec_id", $"embedding",
        queries, $"vec_id", $"embedding", k = 2)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    assert(out.toSeq == Seq((1L, 1L, 2L), (1L, 2L, 3L)))
  }

  test("LSH cosine recall vs brute force (statistical, seeded)") {
    val rng = new java.util.Random(11)
    val corpus = (0L until 300L).map { i =>
      (i, Array.fill(16)(rng.nextGaussian().toFloat))
    }.toDF("vec_id", "embedding")
    val queries = corpus.where($"vec_id" < 5)
    val exact = Similarity.cosineTopK(corpus, $"vec_id", $"embedding",
        queries, $"vec_id", $"embedding", 10)
      .select("query_id", "neighbor_id").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val approx = Similarity.lshCosineTopK(corpus, $"vec_id", $"embedding",
        queries, $"vec_id", $"embedding", 10, nBits = 64, bands = 16)
      .select("query_id", "neighbor_id").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val recall = exact.intersect(approx).size.toDouble / exact.size
    assert(recall >= 0.5, s"recall=$recall")
  }

  test("IVF cosine top-K equals exact on clustered data (the regime IVF is for)") {
    // 6 well-separated cluster directions in 16-d; members = direction + small
    // jitter. A query's true neighbors share its cluster, so probing the
    // nearest cells is lossless — unlike isotropic noise, where no
    // coarse quantizer can prune (that regime is covered by the LSH and
    // exact-grid paths).
    val rng  = new java.util.Random(7)
    val dirs = Array.fill(6)(Array.fill(16)(rng.nextGaussian().toFloat))
    val corpus = (0L until 240L).map { i =>
      val d = dirs((i % 6).toInt)
      (i, d.zip(Array.fill(16)(rng.nextGaussian().toFloat * 0.05f)).map { case (a, b) => a + b })
    }.toDF("vec_id", "embedding")
    val queries = corpus.where($"vec_id" < 3)
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSeq.sorted
    val exact = rows(Similarity.cosineTopK(corpus, $"vec_id", $"embedding",
      queries, $"vec_id", $"embedding", 10))
    val ivf = rows(Similarity.ivfCosineTopK(corpus, $"vec_id", $"embedding",
      queries, $"vec_id", $"embedding", 10, nCells = 12, nProbe = 3))
    assert(ivf == exact)
  }

  test("selective LSH configuration: few candidates AND high recall on clustered data") {
    // The 100 TB LSH story (the driver's recall-1 LSH entries are correctness
    // plumbing on isotropic noise, where hyperplane banding cannot be
    // selective). Here: clustered corpus (the regime LSH is FOR), width-8
    // bands (nBits=64, bands=8 — scale-credible parameters), asserting BOTH
    //   (a) candidate pairs are a small fraction of n²/2 — the join does far
    //       less work than all-pairs, and
    //   (b) recall >= 0.95 vs exact for near-dup pairs AND query top-K.
    // Math: within-cluster pairs (cos ~ 0.995, theta ~ 0.1 rad) collide per
    // band w.p. (1 - theta/pi)^8 ~ 0.77 => >=1-of-8 bands ~ 0.9999; random
    // cross-cluster pairs collide per band w.p. 0.5^8 => >=1 band ~ 3%.
    val rng  = new java.util.Random(23)
    val nClusters = 24
    val dirs = Array.fill(nClusters)(Array.fill(16)(rng.nextGaussian().toFloat))
    val n    = 240L
    val corpus = (0L until n).map { i =>
      val d = dirs((i % nClusters).toInt)
      (i, d.zip(Array.fill(16)(rng.nextGaussian().toFloat * 0.05f)).map { case (a, b) => a + b })
    }.toDF("vec_id", "embedding")

    // (a) candidate selectivity of the (nBits=64, bands=8) banding itself
    val bands = 8; val width = 8; val mask = (1L << width) - 1
    val banded = corpus
      .withColumn("sig", Similarity.hyperplaneSignature(64)($"embedding"))
      .select($"vec_id", posexplode(array((0 until bands).map(q =>
        shiftright($"sig", q * width).bitwiseAND(lit(mask))): _*)).as(Seq("band", "block")))
    val candidates = banded.as("l")
      .join(banded.as("r"),
        $"l.band" === $"r.band" && $"l.block" === $"r.block" && $"l.vec_id" < $"r.vec_id")
      .select($"l.vec_id", $"r.vec_id").distinct().count()
    val allPairs = n * (n - 1) / 2
    val ratio    = candidates.toDouble / allPairs
    assert(ratio < 0.15, s"banding not selective: $candidates of $allPairs pairs ($ratio)")

    // (b1) near-dup recall vs exact at threshold 0.9 (true pairs = cluster-mates)
    def pairSet(df: org.apache.spark.sql.DataFrame) =
      df.select("a", "b").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val exactPairs = pairSet(Similarity.nearDupPairsBlocked(
      corpus, $"vec_id", $"embedding", threshold = 0.9, nBlocks = 4))
    val lshPairs = pairSet(Similarity.nearDupPairs(
      corpus, $"vec_id", $"embedding", threshold = 0.9, nBits = 64, bands = 8))
    assert(exactPairs.nonEmpty)
    val pairRecall = exactPairs.intersect(lshPairs).size.toDouble / exactPairs.size
    assert(pairRecall >= 0.95, s"near-dup recall=$pairRecall (${exactPairs.size} true pairs)")
    assert(lshPairs.subsetOf(exactPairs), "exact verify must not admit false pairs")

    // (b2) query top-K recall vs exact with the same selective banding
    val queries = corpus.where($"vec_id" < 5)
    def nbrSet(df: org.apache.spark.sql.DataFrame) =
      df.select("query_id", "neighbor_id").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val exactTop = nbrSet(Similarity.cosineTopK(corpus, $"vec_id", $"embedding",
      queries, $"vec_id", $"embedding", 9))
    val lshTop = nbrSet(Similarity.lshCosineTopK(corpus, $"vec_id", $"embedding",
      queries, $"vec_id", $"embedding", 9, nBits = 64, bands = 8))
    val topRecall = exactTop.intersect(lshTop).size.toDouble / exactTop.size
    assert(topRecall >= 0.95, s"top-K recall=$topRecall")
  }

  test("embedding near-dup pairs via hyperplane LSH") {
    val v    = Array.tabulate(16)(i => math.sin(i + 1).toFloat)
    val vEps = v.clone(); vEps(0) = v(0) + 0.01f
    val far  = Array.tabulate(16)(i => math.cos(3 * i + 2).toFloat)
    val df = Seq((1L, v), (2L, vEps), (3L, far)).toDF("vec_id", "embedding")
    val pairs = Similarity.nearDupPairs(df, $"vec_id", $"embedding", threshold = 0.99)
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    assert(pairs.toSet == Set((1L, 2L)))
  }

  test("language id: stopword argmax with deterministic tie order") {
    val df = Seq(
      (1L, "the cat and the dog of a house"),
      (2L, "der hund und die katze ist ein tier"),
      (3L, "le chat et les chiens est un animal"),
      (4L, "zzz qqq www")
    ).toDF("id", "text")
    val out = df.select($"id", TextAnalysis.languageId($"text").as("lang"))
      .collect().map(r => (r.getLong(0), r.getString(1))).toMap
    assert(out == Map(1L -> "en", 2L -> "de", 3L -> "fr", 4L -> "und"))
  }

  test("quality stats: integer metrics + gate") {
    val df  = Seq((1L, "a b c d e f"), (2L, "x x x x x x x x x x")).toDF("id", "text")
    val out = TextAnalysis.withQuality(df, $"text")
      .select("id", "n_tokens", "n_distinct_tokens", "quality_ok")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getBoolean(3)))
    assert(out.toSet == Set((1L, 6L, 6L, true), (2L, 10L, 1L, false)))
  }

  test("rolling length fingerprint is deterministic and order-sensitive") {
    val df = Seq((1L, "ab cde f"), (2L, "f cde ab"), (3L, "ab cde f")).toDF("id", "text")
    val fp = df.select($"id", TextAnalysis.lengthFingerprint($"text").as("fp"))
      .collect().map(r => (r.getLong(0), r.getLong(1))).toMap
    assert(fp(1L) == fp(3L))
    assert(fp(1L) != fp(2L)) // order matters in a rolling hash
    // closed form: ((0*31+3)*31+4)*31+2 = 2911... for lengths 2,3,1 -> (len+1)
    assert(fp(1L) == ((3L * 31 + 4) * 31 + 2) % 2147483647L)
  }

  test("grid kernel auto-sizes nBlocks from stats; undersized explicit grid fails fast") {
    val tgt = 64L << 20 // 64 MiB default target
    // unknown-stats sentinel (>1 PiB) -> parallelism floor only
    assert(Similarity.autoGridBlocks(BigInt(1L) << 60, 32, tgt) == 16)
    // payload term: bigger input -> more blocks (10 GiB / 64 MiB = 160)
    val small = Similarity.autoGridBlocks(BigInt(100L << 20), 32, tgt)
    val big   = Similarity.autoGridBlocks(BigInt(10L << 30), 32, tgt)
    assert(small == 16 && big == 160 && big > small)
    // capped at 1024 (1 TiB input would ask for 16384 blocks)
    assert(Similarity.autoGridBlocks(BigInt(1L) << 40, 32, tgt) == 1024)

    // integration over a FILE-BACKED plan (real planning-time stats): the
    // default auto-sized grid returns the same exact pairs as an explicit
    // well-sized one, and an explicit grid whose per-block payload exceeds
    // maxBlockBytes is rejected with the sizing formula in the message.
    val rng = new scala.util.Random(7)
    val a   = Array.tabulate(16)(i => math.sin(i + 1).toFloat)
    val docs = (0L until 120L).map { i =>
      if (i % 3 == 0) (i, a.map(x => x + rng.nextGaussian().toFloat * 0.01f))
      else (i, Array.fill(16)(rng.nextGaussian().toFloat))
    }
    val dir = java.nio.file.Files.createTempDirectory("gridguard").toString
    try {
      docs.toDF("vec_id", "embedding").write.mode("overwrite").parquet(dir)
      val corpus = spark.read.parquet(dir)
      def pairs(nb: Int) = Similarity
        .nearDupPairsBlocked(corpus, $"vec_id", $"embedding", threshold = 0.95, nBlocks = nb)
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      val auto = pairs(0) // auto-sized
      assert(auto.nonEmpty && auto == pairs(4))

      spark.conf.set("spark.graft.grid.maxBlockBytes", "64") // bytes, absurdly tight
      val ex = intercept[IllegalArgumentException](pairs(2))
      assert(ex.getMessage.contains("collect_list") && ex.getMessage.contains("auto-size"))
      spark.conf.unset("spark.graft.grid.maxBlockBytes")

      // plan shape: the score stage must run on its OWN cell-keyed exchange
      // (16x shuffle partitions — not the join's byte-sized, AQE-coalesced
      // partitioning, which bundles compute-dense cells into too few tasks)
      val planned = Similarity.nearDupPairsBlocked(
        corpus, $"vec_id", $"embedding", threshold = 0.95, nBlocks = 4)
      val expected = 16 * spark.sessionState.conf.numShufflePartitions
      val re = s"hashpartitioning\\(bi#\\d+, bj#\\d+, $expected\\)".r
      assert(re.findFirstIn(planned.queryExecution.executedPlan.toString).isDefined,
        "grid score stage lost its cell-keyed repartition " +
          s"(expected hashpartitioning(bi, bj) into $expected partitions)")
    } finally {
      spark.conf.unset("spark.graft.grid.maxBlockBytes")
      graft.SparkEntry.deleteRecursively(java.nio.file.Paths.get(dir))
    }
  }

  // brute-force word-n-gram Jaccard over a doc list, mirroring the operator's
  // tokenization (whitespace split, distinct grams); pairs with a < b
  private def bruteNgramJaccard(docs: Seq[(Long, String)], n: Int, t: Double)
  : Set[(Long, Long, Double)] = {
    def grams(s: String): Set[String] = {
      if (s == null) return Set.empty
      val toks = s.split("\\s+").filter(_.nonEmpty)
      if (toks.length < n) Set.empty
      else toks.sliding(n).map(_.mkString(" ")).toSet
    }
    val gs = docs.map { case (id, s) => (id, grams(s)) }.filter(_._2.nonEmpty)
    (for {
      (ia, ga) <- gs; (ib, gb) <- gs if ia < ib
      j = (ga & gb).size.toDouble / (ga | gb).size
      if j >= t
    } yield (ia, ib, j)).toSet
  }

  test("ngram prefix alpha: relative epsilon matches exact ceil(t*sz) at every size") {
    // the operator computes alpha = ceil(t*sz*(1-4e-16)) in double math; the
    // recall proof needs alpha <= the EXACT mathematical ceil(t*sz) (a larger
    // alpha shortens the prefix and loses candidates), and ideally equal (a
    // smaller alpha only adds candidates). Documents with >1e7 distinct grams
    // can't run through Spark in a unit test, so pin the arithmetic directly:
    // exact value via BigDecimal, sizes spanning the regime where one ulp of
    // t*sz exceeds the old absolute 1e-9 guard (sz >~ 1e7) up to 4e9 grams.
    val sizes = Seq(1L, 2L, 5L, 7L, 100L, 999L, 1000000L, 9999999L,
      10000001L, 33554432L, 42000000L, 999999937L, 4000000000L)
    val thresholds = Seq(0.5, 0.7, 0.8, 0.85, 0.9, 0.99, 1.0)
    // adversarial pairs where the OLD absolute guard ceil(t*sz - 1e-9)
    // provably overshot (found by scanning decimals with upward binary
    // representation error against sizes putting t*sz near a binade top,
    // where one ulp > 1e-9): the prefix was one gram too short at exactly
    // these (threshold, gram-count) combinations
    val adversarial = Seq((0.534, 62771500L), (0.81, 41383400L), (0.937, 35771000L))
    for ((t, sz) <- adversarial) {
      val oldGuard = math.ceil(t * sz.toDouble - 1e-9).toLong
      val exact = (BigDecimal(t.toString) * BigDecimal(sz))
        .setScale(0, BigDecimal.RoundingMode.CEILING).toLongExact
      assert(oldGuard == exact + 1, s"pair (t=$t, sz=$sz) no longer witnesses the old bug")
    }
    for (t <- thresholds ++ adversarial.map(_._1);
         sz <- sizes ++ adversarial.map(_._2)) {
      val got = math.ceil(t * sz.toDouble * (1.0 - 4e-16)).toLong
      // intended threshold = the decimal the caller wrote (t.toString is the
      // shortest round-trip decimal), NOT the binary double's expansion —
      // fl(0.8)*5 is fractionally above 4, and "exact" over the binary value
      // would bless the very overshoot the epsilon exists to prevent
      val exact = (BigDecimal(t.toString) * BigDecimal(sz))
        .setScale(0, BigDecimal.RoundingMode.CEILING).toLongExact
      assert(got <= exact, s"alpha OVERSHOOTS (prefix too short) at t=$t sz=$sz: $got > $exact")
      assert(got >= exact - 1, s"alpha undershoots by >1 at t=$t sz=$sz: $got < ${exact - 1}")
      // the t=1.0 column must stay exact: alpha == sz keeps prefix length 1
      if (t == 1.0) assert(got == sz, s"t=1.0 must give alpha=sz, got $got for sz=$sz")
    }
  }

  test("ngram candidate filters: length/positional thresholds never overshoot") {
    // the join predicate prunes on t·max(sz) (length filter) and
    // ceil(t/(1+t)·(sx+sy)) (positional filter), both computed in double
    // math; overshooting either would DROP a boundary pair (recall < 1),
    // so pin: computed-length-threshold <= exact t·max, and
    // computed-alpha <= exact ceil(t/(1+t)·S), via BigDecimal over the
    // caller's decimal threshold — same discipline as the prefix-alpha
    // test above, including the sizes where one ulp is large.
    val sizes = Seq(1L, 2L, 4L, 5L, 7L, 100L, 999L, 1000000L, 9999999L,
      10000001L, 33554432L, 42000000L, 999999937L, 4000000000L)
    val thresholds = Seq(0.5, 0.534, 0.7, 0.8, 0.81, 0.85, 0.9, 0.937, 0.99, 1.0)
    for (t <- thresholds; max <- sizes) {
      // length filter: a subset pair with min = ceil(t·max) has J >= t and
      // must survive min >= t·max·(1-4e-16)
      val exactMin = (BigDecimal(t.toString) * BigDecimal(max))
        .setScale(0, BigDecimal.RoundingMode.CEILING).toLongExact
      assert(exactMin.toDouble >= t * max.toDouble * (1.0 - 4e-16),
        s"length filter would drop the boundary subset pair at t=$t max=$max")
      // positional filter: alpha must not exceed the exact ceiling
      for (other <- Seq(max, math.max(1L, exactMin))) {
        val s = max + other
        val gotAlpha = math.ceil(t / (1.0 + t) * s.toDouble * (1.0 - 1e-15)).toLong
        val exactAlpha = (BigDecimal(t.toString) / (BigDecimal(1) + BigDecimal(t.toString))
          * BigDecimal(s)).setScale(0, BigDecimal.RoundingMode.CEILING).toLongExact
        assert(gotAlpha <= exactAlpha,
          s"alpha OVERSHOOTS at t=$t sizes=($max,$other): $gotAlpha > $exactAlpha")
        assert(gotAlpha >= exactAlpha - 1,
          s"alpha undershoots by >1 at t=$t sizes=($max,$other)")
      }
    }
  }

  test("ngram Jaccard prefix filter: exact parity with brute force, incl. short docs") {
    // seeded corpus stressing the recall-breaking regimes of a sketch-based
    // method: tiny gram sets (4-6 grams at the 0.8 boundary), exact dups,
    // one-token edits of a long doc, plus null/empty/sub-n-token rows
    val rng   = new scala.util.Random(42)
    val vocab = Array("alpha", "beta", "gamma", "delta", "epsilon", "zeta",
      "eta", "theta", "iota", "kappa", "lambda", "mu")
    def sentence(len: Int) = Array.fill(len)(vocab(rng.nextInt(vocab.length))).mkString(" ")
    val longs = (0L until 20L).map(i => (i, sentence(40)))
    val edits = longs.take(6).map { case (i, s) => // one-token edit near-dups
      val toks = s.split(" "); toks(rng.nextInt(toks.length)) = "edited"
      (i + 100L, toks.mkString(" "))
    }
    // short docs: 7 tokens -> 5 trigrams; a one-token TAIL edit keeps 4 of
    // 5 grams: jaccard 4/6 = 0.67 (below), identical copies = 1.0 (above)
    val shorts = (0L until 10L).map(i => (200L + i, sentence(7)))
    val shortDups  = shorts.take(3).map { case (i, s) => (i + 100L, s) }
    val degenerate = Seq((400L, null: String), (401L, ""), (402L, "one two"), (403L, "   "))
    // subset pair at EXACTLY the threshold: 4 trigrams ⊂ 5 trigrams gives
    // J = 4/5 = 0.8 — the length filter's min == ceil(t·max) boundary and
    // the positional filter's alpha boundary must both keep it
    val boundary = Seq(
      (500L, "alpha beta gamma delta epsilon zeta eta"), // 7 toks -> 5 grams
      (501L, "alpha beta gamma delta epsilon zeta"))     // 6 toks -> 4 grams (subset)
    val all = longs ++ edits ++ shorts ++ shortDups ++ degenerate ++ boundary

    for (t <- Seq(0.8, 1.0)) {
      val expected = bruteNgramJaccard(all, 3, t)
      assert(expected.exists(_._3 >= 1.0) && (t > 0.8 || expected.exists(_._3 < 1.0)),
        s"corpus must exercise both boundary regimes at t=$t")
      val got = Dedup.ngramJaccardPairs(all.toDF("doc_id", "text"),
          $"doc_id", $"text", n = 3, threshold = t)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
      assert(got.map(p => (p._1, p._2)) == expected.map(p => (p._1, p._2)),
        s"pair sets differ at t=$t: missing=${expected.map(p => (p._1, p._2)) -- got.map(p => (p._1, p._2))} " +
          s"extra=${got.map(p => (p._1, p._2)) -- expected.map(p => (p._1, p._2))}")
      got.foreach { case (a, b, j) =>
        val ej = expected.find(p => p._1 == a && p._2 == b).get._3
        assert(math.abs(j - ej) < 1e-12, s"jaccard($a,$b)=$j expected $ej")
      }
      // the production-scale default branch: narrowToCandidates=true makes
      // the verify stage re-derive candidate ids and semi-join docs before
      // shingling — on this small corpus the stats cutover picks FALSE, so
      // force the narrowed path explicitly and require identical output
      val narrowed = Dedup.ngramJaccardPairs(all.toDF("doc_id", "text"),
          $"doc_id", $"text", n = 3, threshold = t,
          narrowToCandidates = Some(true))
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
      assert(narrowed == got,
        s"narrowToCandidates=true diverges at t=$t: missing=${got -- narrowed} extra=${narrowed -- got}")
    }
  }

  test("gram helpers return distinct arrays (exact Jaccard's |A|+|B|-|A∩B| needs sets)") {
    // tiny vocabularies so grams repeat within a text; the multi-byte words
    // take shingleHashes' substring path, the ASCII ones its byte-slice path
    val rnd = new scala.util.Random(20240611L)
    val vocabs = Seq(Seq("ab", "ba", "a", "b"), Seq("é", "☃x", "x", "😀"))
    val texts = (0 until 120).map { i =>
      val v = vocabs(i % 2)
      Seq.fill(rnd.nextInt(40))(v(rnd.nextInt(v.size))).mkString(if (i % 3 == 0) "" else " ")
    }
    val df = texts.toDF("text")
    def check(name: String, grams: Column, raw: Column): Unit = {
      val r = df.select(grams.as("g"), raw.as("raw"))
        .agg(sum(when(size($"g") =!= size(array_distinct($"g")), 1).otherwise(0)),
          sum(when($"raw" > size($"g"), 1).otherwise(0)))
        .head()
      assert(r.getLong(0) == 0L, s"$name returned repeated grams")
      assert(r.getLong(1) > 0L, s"$name: no text repeated a gram")
    }
    for (k <- 1 to 6)
      check(s"shingleHashes($k)", Dedup.shingleHashes(k)($"text"),
        greatest(length($"text") - k + 1, lit(0)))
    for (n <- 1 to 4) {
      val tokens = size(filter(split($"text", "\\s+"), t => t =!= ""))
      check(s"wordNgramHashes($n)", Dedup.wordNgramHashes(n)($"text"),
        greatest(tokens - n + 1, lit(0)))
    }
  }
}
