package graft.plans

import java.nio.ByteBuffer

import graft.core.{Hashing, Sketch, SketchCodec, SketchConfig}
import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, GenericInternalRow}
import org.apache.spark.sql.catalyst.expressions.aggregate.TypedImperativeAggregate
import org.apache.spark.sql.catalyst.trees.BinaryLike
import org.apache.spark.sql.catalyst.util.GenericArrayData
import org.apache.spark.sql.graftbridge.Bridge
import org.apache.spark.sql.types.DataType
import org.apache.spark.unsafe.types.UTF8String

/** Adaptive top-K buffer: EXACT hash-map counting below `cutoff` distinct
  * items, HeavyKeeper sketch above it.
  *
  * Rationale (the many-small-groups regime, e.g. per-session aggregation):
  * a fixed d×w sketch buffer costs ~12 KB to allocate and ~9 KB to serialize
  * per group, which dwarfs the work for groups holding a handful of distinct
  * items — 91k sessions at sf0.1 spent ~30 s purely on sketch
  * allocate/encode/decode. A group with ≤ cutoff distinct items keeps an
  * exact (item → count) map: tiny allocation, tiny shuffle payload, and
  * exact counts (a strict accuracy improvement over the sketch). Only groups
  * that actually exceed the cutoff pay for a sketch. Estimates remain
  * reference-faithful there: the map is replayed into the sketch in
  * deterministic (count desc, item asc) order via weighted `Add`
  * (reference: sketch.go:118-170).
  */
final class AdaptiveTopK(val cfg: SketchConfig, val cutoff: Int) {
  /** Exact phase: item → mutable count cell; null once spilled. */
  var map: java.util.HashMap[UTF8String, Array[Long]] =
    new java.util.HashMap[UTF8String, Array[Long]](16)
  var sketch: Sketch = _

  def add(u: UTF8String, w: Long): Unit = {
    if (w <= 0L) return // match Sketch.addBytes' uint32 increment domain
    if (sketch != null) {
      sketch.addUnsafe(u.getBaseObject, u.getBaseOffset, u.numBytes, w)
      return
    }
    val cell = map.get(u)
    if (cell != null) cell(0) += w
    else if (map.size < cutoff) {
      // the lookup key may alias transient UnsafeRow memory: copy on insert
      map.put(u.clone(), Array(w))
    } else {
      spill()
      sketch.addUnsafe(u.getBaseObject, u.getBaseOffset, u.numBytes, w)
    }
  }

  def addString(item: String, w: Long): Unit = add(UTF8String.fromString(item), w)

  /** Replay the exact map into a fresh sketch, largest counts first (ties by
    * item asc) so replay order — and thus HK decay behavior — is a
    * deterministic function of the map contents.
    */
  private def spill(): Unit = {
    sketch = new Sketch(cfg)
    sortedEntries.foreach { case (item, count) => sketch.add(item.toString, count) }
    map = null
  }

  private def sortedEntries: Array[(UTF8String, Long)] = {
    val arr = new Array[(UTF8String, Long)](map.size)
    var i   = 0
    val it  = map.entrySet().iterator()
    while (it.hasNext) { val e = it.next(); arr(i) = (e.getKey, e.getValue()(0)); i += 1 }
    java.util.Arrays.sort(arr, (a: (UTF8String, Long), b: (UTF8String, Long)) => {
      val c = java.lang.Long.compare(b._2, a._2)
      if (c != 0) c else a._1.compareTo(b._1)
    })
    arr
  }

  def mergeWith(other: AdaptiveTopK): AdaptiveTopK = {
    if (other.sketch != null) {
      if (sketch == null) spill()
      sketch.merge(other.sketch)
    } else if (other.map != null && !other.map.isEmpty) {
      // fold other's exact counts in (may spill mid-way; adds then continue
      // into the sketch) — deterministic order for the same reason as spill
      other.sortedEntries.foreach { case (item, count) => add(item, count) }
    }
    this
  }

  /** Top-`emitK` rows, (count desc, item asc), same row type as TopKResult. */
  def toArrayData(emitK: Int): GenericArrayData = {
    if (sketch != null) return TopKResult.toArrayData(sketch, emitK).asInstanceOf[GenericArrayData]
    val sorted = sortedEntries
    val n      = math.min(emitK, sorted.length)
    val out    = new Array[Any](n)
    var i      = 0
    while (i < n) {
      val (item, count) = sorted(i)
      out(i) = new GenericInternalRow(Array[Any](
        item, count, Hashing.fingerprint(item.toString).toLong & 0xffffffffL))
      i += 1
    }
    new GenericArrayData(out)
  }
}

object AdaptiveTopK {
  /** Codec: tag byte (0 exact map / 1 sketch) + payload. Map payloads are a
    * few dozen bytes for small groups — the point of the adaptive buffer.
    * Session state stores persist these bytes: the layout is pinned by
    * golden fixtures in SketchCodecSpec.
    */
  def encode(b: AdaptiveTopK): Array[Byte] =
    if (b.sketch != null) {
      val sk  = SketchCodec.encode(b.sketch)
      val out = ByteBuffer.allocate(1 + 4 + sk.length).put(1.toByte)
      SketchCodec.putBlock(out, sk)
      out.array()
    } else {
      var size = 1 + 4
      b.map.forEach((item, _) => size += 4 + item.numBytes + 8)
      val out = ByteBuffer.allocate(size).put(0.toByte).putInt(b.map.size)
      b.map.forEach { (item, cell) =>
        SketchCodec.putBlock(out, item.getBytes)
        out.putLong(cell(0))
      }
      out.array()
    }

  def decode(bytes: Array[Byte], cfg: SketchConfig, cutoff: Int): AdaptiveTopK = SketchCodec.decoding {
    val in = ByteBuffer.wrap(bytes)
    val b  = new AdaptiveTopK(cfg, cutoff)
    in.get() match {
      case 1 =>
        b.sketch = SketchCodec.decode(SketchCodec.readBlock(in))
        b.map = null
      case 0 =>
        val n = in.getInt()
        // every entry is >= 12 bytes (item length 4 + count 8): a count the
        // remaining payload cannot hold is corruption, not an empty group
        require(n >= 0 && n.toLong * 12 <= in.remaining(),
          s"corrupt adaptive buffer: $n entries with ${in.remaining()} bytes remaining")
        var i = 0
        while (i < n) {
          b.map.put(UTF8String.fromBytes(SketchCodec.readBlock(in)), Array(in.getLong()))
          i += 1
        }
      case tag =>
        throw new IllegalArgumentException(s"corrupt adaptive buffer: unknown tag $tag")
    }
    b
  }
}

/** Adaptive top-K aggregate over (item string, weight integral) — see
  * [[AdaptiveTopK]]. Drop-in alternative to ItemsTopKAgg for the
  * many-small-groups regime.
  */
case class AdaptiveItemsTopKAgg(
    left: Expression,
    right: Expression,
    cfg: SketchConfig,
    emitK: Int,
    cutoff: Int,
    mutableAggBufferOffset: Int = 0,
    inputAggBufferOffset: Int = 0
) extends TypedImperativeAggregate[AdaptiveTopK] with BinaryLike[Expression] {

  override def checkInputDataTypes(): TypeCheckResult =
    TopKResult.checkItemWeight(left, right, "topk_items_adaptive")

  override def createAggregationBuffer(): AdaptiveTopK = new AdaptiveTopK(cfg, cutoff)

  @transient private lazy val reader = new TopKResult.ItemWeightReader(left, right)

  override def update(buffer: AdaptiveTopK, input: InternalRow): AdaptiveTopK = {
    val u = reader.item(input)
    if (u != null) buffer.add(u, reader.weight(input))
    buffer
  }

  override def merge(buffer: AdaptiveTopK, other: AdaptiveTopK): AdaptiveTopK =
    buffer.mergeWith(other)

  override def eval(buffer: AdaptiveTopK): Any = buffer.toArrayData(emitK)

  override def serialize(buffer: AdaptiveTopK): Array[Byte] = AdaptiveTopK.encode(buffer)
  override def deserialize(bytes: Array[Byte]): AdaptiveTopK =
    AdaptiveTopK.decode(bytes, cfg, cutoff)

  override def dataType: DataType = TopKResult.dataType
  override def nullable: Boolean  = false

  override def withNewMutableAggBufferOffset(newOffset: Int): AdaptiveItemsTopKAgg =
    copy(mutableAggBufferOffset = newOffset)
  override def withNewInputAggBufferOffset(newOffset: Int): AdaptiveItemsTopKAgg =
    copy(inputAggBufferOffset = newOffset)
  override protected def withNewChildrenInternal(newLeft: Expression, newRight: Expression): AdaptiveItemsTopKAgg =
    copy(left = newLeft, right = newRight)
}

object AdaptiveTopKAgg {
  /** `agg(adaptive($"item", $"weight", cfg, k))` — exact below `cutoff`
    * distinct items per group, sketch above.
    */
  def adaptive(item: Column, weight: Column, cfg: SketchConfig, emitK: Int,
               cutoff: Int): Column =
    Bridge.column(
      AdaptiveItemsTopKAgg(Bridge.expression(item), Bridge.expression(weight),
        cfg, emitK, cutoff).toAggregateExpression())
}
