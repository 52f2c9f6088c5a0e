package graft.core

import org.scalatest.funsuite.AnyFunSuite

/** Golden heap vectors ported from the reference's heap tests
  * (reference: heap/heap_test.go:11-223).
  */
class MinHeapSpec extends AnyFunSuite {

  private def fp(s: String): Int = Hashing.fingerprint(s)

  test("admission and eviction, capacity 2 (heap/heap_test.go:49-77)") {
    val h = new MinHeap(2)
    assert(h.update("a", fp("a"), 10))
    assert(h.update("b", fp("b"), 5))
    assert(h.isFull)
    // c:8 beats min b:5 -> b evicted
    assert(h.update("c", fp("c"), 8))
    assert(h.contains("a") && h.contains("c") && !h.contains("b"))
    // d:1 below min 8 on a full heap -> never enters
    assert(!h.update("d", fp("d"), 1))
    assert(!h.contains("d"))
    // raising a tracked item keeps membership
    assert(h.update("c", fp("c"), 15))
    assert(h.contains("a") && h.contains("c"))
    assert(h.countOf("c") == 15)
  }

  test("min is 0 on empty, tracks root count (heap/heap_test.go:79-95)") {
    val h = new MinHeap(3)
    assert(h.minCount == 0)
    h.update("a", fp("a"), 7)
    assert(h.minCount == 7)
    h.update("b", fp("b"), 3)
    assert(h.minCount == 3)
    h.update("c", fp("c"), 5)
    assert(h.minCount == 3)
  }

  test("count == min on a full heap DOES evict the min (heap/heap.go:137)") {
    val h = new MinHeap(2)
    h.update("a", fp("a"), 10)
    h.update("b", fp("b"), 5)
    assert(h.update("e", fp("e"), 5)) // equal to min: replaces b
    assert(h.contains("e") && !h.contains("b"))
  }

  test("reinit purges zero-count entries (heap/heap_test.go:97-112)") {
    val h = new MinHeap(3)
    h.update("a", fp("a"), 5)
    h.update("b", fp("b"), 3)
    h.update("c", fp("c"), 4)
    // zero out b as ageing would, then reinit
    val i = h.find("b")
    h.setCountAt(i, 0)
    h.reinit()
    assert(!h.contains("b"))
    assert(h.contains("a") && h.contains("c"))
    assert(h.size == 2)
  }

  test("tie-break on equal counts is lexicographic (heap/heap.go:65-72)") {
    val h = new MinHeap(2)
    h.update("zz", fp("zz"), 5)
    h.update("aa", fp("aa"), 5)
    // root must be "aa" (same count, lexicographically smaller)
    assert(h.minCount == 5)
    h.update("mm", fp("mm"), 6) // evicts the root = "aa"
    assert(!h.contains("aa") && h.contains("zz") && h.contains("mm"))
  }

  test("lowering a tracked count: rejected below min on a full heap, applied otherwise (heap/heap.go:137-145)") {
    // Go checks `count < Min() && Full()` BEFORE the tracked-item lookup, so a
    // downward update below the min of a full heap is ignored even for an
    // already-tracked item.
    val full = new MinHeap(2)
    full.update("a", fp("a"), 10)
    full.update("b", fp("b"), 8)
    assert(!full.update("a", fp("a"), 2))
    assert(full.countOf("a") == 10)

    // on a non-full heap the downward update applies
    val open = new MinHeap(3)
    open.update("a", fp("a"), 10)
    open.update("b", fp("b"), 8)
    assert(open.update("a", fp("a"), 2))
    assert(open.countOf("a") == 2)
    assert(open.minCount == 2)

    // at-or-above min on a full heap also applies
    assert(full.update("a", fp("a"), 9))
    assert(full.countOf("a") == 9)
  }

  test("sorted: count desc, item asc, zero counts trimmed (sketch.go:189-209)") {
    val h = new MinHeap(4)
    h.update("x", fp("x"), 3)
    h.update("y", fp("y"), 3)
    h.update("z", fp("z"), 9)
    h.update("w", fp("w"), 0)
    val s = h.sorted
    assert(s.map(_.item).toSeq == Seq("z", "x", "y"))
  }

  test("reset clears everything") {
    val h = new MinHeap(3)
    h.update("a", fp("a"), 5)
    h.reset()
    assert(h.size == 0 && !h.contains("a") && h.minCount == 0)
    // reusable after reset
    h.update("b", fp("b"), 2)
    assert(h.contains("b"))
  }

  test("sizeBytes positive and grows with keys") {
    val h = new MinHeap(3)
    val s0 = h.sizeBytes
    h.update("abcdefgh", fp("abcdefgh"), 5)
    assert(h.sizeBytes > s0)
  }

  test("randomized: update, setCountAt+reinit and reset agree with a naive model of heap/heap.go") {
    // items with many count ties, including a supplementary character that
    // sorts after every BMP one by code point
    val universe = (0 until 24).map(i => s"i${i % 7}" + "\uD83D\uDE00" * (i % 2) + "\uFFFD" * (i % 3))
    val rnd      = new scala.util.Random(20)
    for (k <- Seq(1, 2, 3, 8, 16)) {
      val h     = new MinHeap(k)
      val model = scala.collection.mutable.LinkedHashMap.empty[String, (Int, Long)]
      def modelMin: Option[(String, Long)] =
        model.toSeq.map { case (it, (_, c)) => (it, c) }
          .sortWith((a, b) => a._2 < b._2 || (a._2 == b._2 && SketchOps.compareItems(a._1, b._1) < 0))
          .headOption
      for (op <- 0 until 4000) {
        val what = rnd.nextInt(100)
        if (what < 85) { // update (heap/heap.go:136-170)
          val item  = universe(rnd.nextInt(universe.size))
          val count = rnd.nextInt(12).toLong
          val want =
            if (model.size == k && count < modelMin.get._2) false
            else {
              if (!model.contains(item) && model.size == k) model.remove(modelMin.get._1)
              model(item) = (fp(item), count)
              true
            }
          assert(h.update(item, fp(item), count) == want, s"k=$k op $op update($item, $count)")
        } else if (what < 99) { // setCountAt + reinit, as the sliding recount does
          if (h.size > 0) {
            val i    = rnd.nextInt(h.size)
            val item = h.itemAt(i)
            val c    = if (rnd.nextBoolean()) 0L else rnd.nextInt(12).toLong
            h.setCountAt(i, c)
            model(item) = (model(item)._1, c)
          }
          h.reinit() // heap/heap.go:48-55: every zero-count entry is popped
          model.filterInPlace { case (_, (_, c)) => c != 0L }
        } else {
          h.reset()
          model.clear()
        }
        val wantSorted = model.toSeq.collect { case (it, (f, c)) if c > 0 => TopKEntry(f, it, c) }
          .sortWith(SketchOps.entryOrder)
        assert(h.sorted.toSeq == wantSorted, s"k=$k op $op sorted")
        assert(h.minCount == modelMin.fold(0L)(_._2), s"k=$k op $op minCount")
        assert(h.size == model.size, s"k=$k op $op size")
        universe.foreach(it => assert(h.contains(it) == model.contains(it), s"k=$k op $op contains($it)"))
      }
    }
  }
}
