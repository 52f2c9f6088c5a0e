package graft.core

import scala.collection.mutable

import graft.plans.{BufferBytesAgg, TokensTopKAgg}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.BoundReference
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types.{ArrayType, IntegerType}
import org.scalatest.funsuite.AnyFunSuite

/** The token aggregates' buffer, without Spark: exact counts in front of
  * the sketch, flushed heaviest-first.
  */
class TokenCombinerSpec extends AnyFunSuite {

  private def combiner(cfg: SketchConfig) = new TokenCombiner(new Sketch(cfg))

  private def entries(s: Sketch): Seq[(String, Long)] =
    s.sortedSlice.toSeq.map(e => (e.item, e.count))

  /** (count desc, item asc) over the token strings, as the heap sorts. */
  private def exactTop(tokens: Seq[Int], k: Int): Seq[(String, Long)] =
    tokens.groupBy(identity).toSeq.map { case (t, ts) => (t.toString, ts.size.toLong) }
      .sortBy { case (i, c) => (-c, i) }.take(k)

  /** Seeded power-law tokens: 0 is the heaviest. */
  private def powerLaw(n: Int, distinct: Int, seed: Long): Seq[Int] = {
    val rng = new java.util.Random(seed)
    Seq.fill(n) { val u = rng.nextDouble(); (distinct * u * u * u).toInt }
  }

  test("collision-free input: counts equal exact counts") {
    val tokens = (0 until 60).flatMap(t => Seq.fill(1 + (t * 7) % 23)(t - 30))
    val c      = combiner(SketchConfig.withDefaults(64, width = 4096, depth = 3))
    scala.util.Random.shuffle(tokens).foreach(c.add)
    assert(entries(c.flushed) == exactTop(tokens, 64))
  }

  test("one multiset in two orders within a flush window gives byte-identical blobs") {
    // 1024x2 collides on 900 distinct tokens, so the decay draws run; the
    // window holds them all (capacity 8192 slots -> 4096 distinct)
    val cfg    = SketchConfig.withDefaults(8, width = 1024, depth = 2)
    val tokens = powerLaw(20000, 900, seed = 3)
    val blobs = Seq(tokens, tokens.reverse, new scala.util.Random(9).shuffle(tokens)).map { ts =>
      val c = combiner(cfg)
      ts.foreach(c.add)
      SketchCodec.encode(c.flushed)
    }
    blobs.tail.foreach(b => assert(java.util.Arrays.equals(b, blobs.head)))
  }

  test("a tiny geometry flushes mid-stream: each full window replays heaviest-first") {
    // 16x2 -> the 1024-slot floor: a window holds 512 distinct tokens, so
    // 3000 distinct tokens force several mid-stream flushes. The blob must
    // equal a plain sketch fed each window's counts in (count desc, token
    // asc) order, the window closing when a 513th distinct token arrives.
    val cfg = SketchConfig.withDefaults(4, width = 16, depth = 2)
    assert(TokenCombiner.capacity(cfg) == 1024)
    val tokens = powerLaw(30000, 3000, seed = 5)
    val c      = combiner(cfg)
    tokens.foreach(c.add)
    assert(c.slots == 1024)

    val replay = new Sketch(cfg)
    val window = mutable.Map.empty[Int, Long]
    def flush(): Unit = {
      window.toSeq.sortBy { case (t, n) => (-n, t) }.foreach { case (t, n) => replay.addToken(t, n) }
      window.clear()
    }
    tokens.foreach { t =>
      if (!window.contains(t) && window.size == 512) flush()
      window(t) = window.getOrElse(t, 0L) + 1
    }
    flush()
    assert(java.util.Arrays.equals(SketchCodec.encode(c.flushed), SketchCodec.encode(replay)))
  }

  test("flushes forced mid-stream keep collision-free counts exact") {
    // a count limit of 3 flushes the table at every third occurrence of a
    // token: the counts reach the sketch in many weighted adds
    val tokens = (0 until 40).flatMap(t => Seq.fill(1 + t % 11)(t * 1000))
    val c      = new TokenCombiner(new Sketch(SketchConfig.withDefaults(40, width = 4096, depth = 3)), 3)
    scala.util.Random.shuffle(tokens).foreach(c.add)
    assert(entries(c.flushed) == exactTop(tokens, 40))
  }

  test("the table stays within its cap: max(16 KB, 16/3 x the sketch's cell bytes)") {
    assert(TokenCombiner.capacity(SketchConfig.withDefaults(100, width = 8192, depth = 4)) == 131072)
    assert(TokenCombiner.capacity(SketchConfig.withDefaults(10, width = 256, depth = 3)) == 4096)
    assert(TokenCombiner.capacity(SketchConfig.withDefaults(10, width = 300, depth = 3)) == 4096)
    for ((w, d) <- Seq((16, 2), (256, 3), (300, 3), (1000, 5))) {
      val cfg = SketchConfig.withDefaults(10, width = w, depth = d)
      val c   = combiner(cfg)
      assert(c.slots == 0, "the table is allocated on the first add")
      (0 until 20000).foreach(c.add)
      val cap = TokenCombiner.capacity(cfg)
      assert(c.slots <= cap && Integer.bitCount(c.slots) == 1, s"${w}x$d: ${c.slots} slots")
      assert(8L * cap <= math.max(16384L, 16L * 12 * w * d / 3), s"${w}x$d: cap $cap")
    }
  }

  test("the flush sort key orders (count desc, token asc) up to Int.MaxValue without wrapping") {
    // a count reaching Int.MaxValue flushes the table, so it is the largest
    // count a key ever holds; a loop of 2^31 adds is too slow for a spec,
    // so the key is checked at the boundary values directly
    val counts = Seq(1, 2, 1 << 30, Int.MaxValue - 1, Int.MaxValue)
    val toks   = Seq(Int.MinValue, Int.MinValue + 1, -1, 0, 1, Int.MaxValue)
    val pairs  = for (n <- counts; t <- toks) yield (n, t)
    val byKey  = pairs.sortBy { case (n, t) => TokenCombiner.sortKey(n, t) }
    assert(byKey == pairs.sortBy { case (n, t) => (-n.toLong, t) })
    pairs.foreach { case (n, t) =>
      val key = TokenCombiner.sortKey(n, t)
      assert(key >= 0L && TokenCombiner.countOf(key) == n.toLong && TokenCombiner.tokenOf(key) == t)
    }
  }

  test("null arrays, null elements, negative tokens and Int.MinValue") {
    val arrays = Seq[ArrayData](
      null,
      new GenericArrayData(Array[Any](1, null, -5, Int.MinValue, -5)),
      new GenericArrayData(Array[Any](Int.MinValue, 0, null, -1)),
      new GenericArrayData(Array.empty[Any]))
    val child = BoundReference(0, ArrayType(IntegerType, containsNull = true), nullable = true)
    val cfg   = SketchConfig.withDefaults(8, width = 256, depth = 3)
    val want  = Seq(("-2147483648", 2L), ("-5", 2L), ("-1", 1L), ("0", 1L), ("1", 1L))

    val rows = TokensTopKAgg(child, cfg, emitK = 8)
    val buf  = arrays.foldLeft(rows.createAggregationBuffer())((b, a) => rows.update(b, InternalRow(a)))
    val out  = rows.eval(buf).asInstanceOf[ArrayData]
    assert((0 until out.numElements()).map { i =>
      val e = out.getStruct(i, 3); (e.getUTF8String(0).toString, e.getLong(1))
    } == want)

    // the blob variant, split over two partials and merged
    val blobs = BufferBytesAgg(rows)
    def partial(as: Seq[ArrayData]) =
      blobs.deserialize(blobs.serialize(
        as.foldLeft(blobs.createAggregationBuffer())((b, a) => blobs.update(b, InternalRow(a)))))
    val merged = blobs.merge(partial(arrays.take(2)), partial(arrays.drop(2)))
    assert(entries(SketchCodec.decode(blobs.eval(merged).asInstanceOf[Array[Byte]])) == want)
  }
}
