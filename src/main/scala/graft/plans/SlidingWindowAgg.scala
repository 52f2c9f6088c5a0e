package graft.plans

import java.nio.ByteBuffer

import scala.jdk.CollectionConverters._

import graft.core.{SketchCodec, SketchConfig}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, GenericInternalRow}
import org.apache.spark.sql.catalyst.expressions.aggregate.TypedImperativeAggregate
import org.apache.spark.sql.catalyst.trees.TernaryLike
import org.apache.spark.sql.catalyst.util.GenericArrayData
import org.apache.spark.sql.types._

/** `topk_sliding(tick, item, weight, window_ticks, k[, width, depth])` — SQL
  * aggregate realizing the reference's sliding-window semantics
  * (sliding/sketch.go: ring of per-tick sub-counters, window = trailing N
  * ticks) over a batch table in ONE aggregation: the buffer keeps one item
  * aggregate buffer ([[AdaptiveTopK]]) per distinct tick, partials merge
  * tick-wise, and eval emits, for every tick t present, the top-k of the
  * merged window [t-N+1, t]. Counts are exact up to `AdaptiveTopK.cutoff`
  * distinct items per window, as in `graft.operators.SlidingTopK.perTick`,
  * which merges the same buffers.
  *
  * Output: array<struct<tick, rank, item, count, fingerprint>> — explode it.
  *
  * Scale contract: buffer size is O(#distinct ticks in the GROUP ×
  * min(#distinct items, cutoff)). Group by coarse key ranges
  * (day/source/tenant) so per-group tick counts stay bounded; for unbounded
  * tick ranges use the dataflow variant (`SlidingTopK.perTick` — explode +
  * equality groupBy) or the streaming engine (watermark-driven ring with
  * expiry).
  */
case class SlidingTopKAgg(
    first: Expression,  // tick (integral)
    second: Expression, // item (string)
    third: Expression,  // weight (integral)
    windowTicks: Int,
    emitK: Int,
    cfg: SketchConfig,
    mutableAggBufferOffset: Int = 0,
    inputAggBufferOffset: Int = 0
) extends TypedImperativeAggregate[SlidingTopKAgg.Ring] with TernaryLike[Expression] {
  import SlidingTopKAgg.Ring

  require(windowTicks >= 1, s"windowTicks must be >= 1, got $windowTicks")
  require(emitK >= 1, s"emitK must be >= 1, got $emitK")

  override def checkInputDataTypes(): TypeCheckResult = {
    val integral = Seq[DataType](ByteType, ShortType, IntegerType, LongType)
    if (!integral.contains(first.dataType))
      TypeCheckResult.TypeCheckFailure(
        s"topk_sliding requires an integral tick, got ${first.dataType.catalogString}")
    else TopKResult.checkItemWeight(second, third, "topk_sliding")
  }

  override def createAggregationBuffer(): Ring = new Ring()

  private def freshTick(): AdaptiveTopK = new AdaptiveTopK(cfg, AdaptiveTopK.cutoff(cfg))

  @transient private lazy val reader = new TopKResult.ItemWeightReader(second, third)

  override def update(buffer: Ring, input: InternalRow): Ring = {
    val tick = first.eval(input)
    val u    = reader.item(input)
    if (tick != null && u != null)
      buffer.computeIfAbsent(TopKResult.weightAsLong(tick), _ => freshTick())
        .add(u, reader.weight(input))
    buffer
  }

  override def merge(buffer: Ring, other: Ring): Ring = {
    other.forEach((tick, b) => buffer.merge(tick, b, _ mergeWith _))
    buffer
  }

  override def eval(buffer: Ring): Any = {
    val out = Vector.newBuilder[Any]
    buffer.forEach { (tick, _) =>
      // clamped subtraction: a sentinel-ish tick near Long.MinValue would
      // wrap the lower bound positive and subMap throws fromKey > toKey
      val lo  = if (tick < Long.MinValue + (windowTicks - 1)) Long.MinValue
                else tick - (windowTicks - 1)
      val acc = freshTick()
      buffer.subMap(lo, true, tick, true).forEach((_, b) => acc.mergeWith(b))
      val top = acc.toArrayData(emitK)
      (0 until top.numElements()).foreach { i =>
        val r = top.getStruct(i, 3)
        out += new GenericInternalRow(Array[Any](
          tick, i + 1L, r.getUTF8String(0), r.getLong(1), r.getLong(2)))
      }
    }
    new GenericArrayData(out.result().toArray)
  }

  /** Tick count, then per tick (ascending): tick, length-prefixed
    * `AdaptiveTopK.encode` bytes. Blocks written while each tick kept a
    * plain sketch hold a bare TKP2 blob, which `AdaptiveTopK.decode` reads
    * as a spilled buffer.
    */
  override def serialize(buffer: Ring): Array[Byte] = {
    val blobs = buffer.asScala.toSeq.map { case (tick, b) => (tick, AdaptiveTopK.encode(b)) }
    val out   = ByteBuffer.allocate(4 + blobs.iterator.map(12 + _._2.length).sum)
    out.putInt(blobs.size)
    blobs.foreach { case (tick, blob) => SketchCodec.putBlock(out.putLong(tick), blob) }
    out.array()
  }

  override def deserialize(bytes: Array[Byte]): Ring = SketchCodec.decoding {
    val in   = ByteBuffer.wrap(bytes)
    val ring = new Ring()
    val n    = in.getInt()
    // every entry is >= 12 bytes (tick 8 + blob length 4): a count the
    // remaining payload cannot hold is corruption, not an empty ring
    require(n >= 0 && n.toLong * 12 <= in.remaining(),
      s"corrupt sliding buffer: $n ticks with ${in.remaining()} bytes remaining")
    var i = 0
    while (i < n) {
      val tick = in.getLong()
      ring.put(tick, AdaptiveTopK.decode(SketchCodec.readBlock(in), cfg, AdaptiveTopK.cutoff(cfg)))
      i += 1
    }
    ring
  }

  override def dataType: DataType = SlidingTopKAgg.dataType
  override def nullable: Boolean  = false

  override def withNewMutableAggBufferOffset(newOffset: Int): SlidingTopKAgg =
    copy(mutableAggBufferOffset = newOffset)
  override def withNewInputAggBufferOffset(newOffset: Int): SlidingTopKAgg =
    copy(inputAggBufferOffset = newOffset)
  override protected def withNewChildrenInternal(
      f: Expression, s: Expression, t: Expression): SlidingTopKAgg =
    copy(first = f, second = s, third = t)
}

object SlidingTopKAgg {
  /** The buffer: one [[AdaptiveTopK]] per distinct tick, ascending. */
  type Ring = java.util.TreeMap[Long, AdaptiveTopK]

  val dataType: DataType = ArrayType(StructType(Seq(
    StructField("tick", LongType, nullable = false),
    StructField("rank", LongType, nullable = false),
    StructField("item", StringType, nullable = false),
    StructField("count", LongType, nullable = false),
    StructField("fingerprint", LongType, nullable = false))), containsNull = false)
}
