package graft.plans

import java.nio.ByteBuffer

import scala.jdk.CollectionConverters._

import graft.core.{Sketch, SketchCodec, SketchConfig}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, GenericInternalRow}
import org.apache.spark.sql.catalyst.expressions.aggregate.TypedImperativeAggregate
import org.apache.spark.sql.catalyst.trees.TernaryLike
import org.apache.spark.sql.catalyst.util.GenericArrayData
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** Per-tick sketch ring buffer for the SQL-facing sliding-window aggregate. */
final class TickRing(val cfg: SketchConfig) {
  val ticks = new java.util.TreeMap[Long, Sketch]()

  def sketchFor(tick: Long): Sketch = {
    var sk = ticks.get(tick)
    if (sk == null) { sk = new Sketch(cfg); ticks.put(tick, sk) }
    sk
  }

  def mergeWith(other: TickRing): TickRing = {
    other.ticks.forEach { (tick, sk) =>
      val mine = ticks.get(tick)
      if (mine == null) ticks.put(tick, sk) else mine.merge(sk)
    }
    this
  }
}

/** `topk_sliding(tick, item, weight, window_ticks, k[, width, depth])` — SQL
  * aggregate realizing the reference's sliding-window semantics
  * (sliding/sketch.go: ring of per-tick sub-counters, window = trailing N
  * ticks) over a batch table in ONE aggregation: the buffer keeps one
  * sub-sketch per distinct tick, partials merge tick-wise (commutative sketch
  * union), and eval emits, for every tick t present, the top-k of the merged
  * window [t-N+1, t].
  *
  * Output: array<struct<tick, rank, item, count, fingerprint>> — explode it.
  *
  * Scale contract: buffer size is O(#distinct ticks in the GROUP × sketch
  * size). Group by coarse key ranges (day/source/tenant) so per-group tick
  * counts stay bounded; for unbounded tick ranges use the dataflow variant
  * (`graft.operators.SlidingTopK.perTick` — explode + equality groupBy) or
  * the streaming engine (watermark-driven ring with expiry).
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
) extends TypedImperativeAggregate[TickRing] with TernaryLike[Expression] {

  require(windowTicks >= 1, s"windowTicks must be >= 1, got $windowTicks")
  require(emitK >= 1, s"emitK must be >= 1, got $emitK")

  override def checkInputDataTypes(): TypeCheckResult = {
    val integral = Seq[DataType](ByteType, ShortType, IntegerType, LongType)
    if (!integral.contains(first.dataType))
      TypeCheckResult.TypeCheckFailure(
        s"topk_sliding requires an integral tick, got ${first.dataType.catalogString}")
    else TopKResult.checkItemWeight(second, third, "topk_sliding")
  }

  override def createAggregationBuffer(): TickRing = new TickRing(cfg)

  @transient private lazy val reader = new TopKResult.ItemWeightReader(second, third)

  override def update(buffer: TickRing, input: InternalRow): TickRing = {
    val tick = first.eval(input)
    val u    = reader.item(input)
    if (tick != null && u != null) {
      buffer.sketchFor(TopKResult.weightAsLong(tick))
        .addUnsafe(u.getBaseObject, u.getBaseOffset, u.numBytes, reader.weight(input))
    }
    buffer
  }

  override def merge(buffer: TickRing, other: TickRing): TickRing = buffer.mergeWith(other)

  override def eval(buffer: TickRing): Any = {
    val out = Vector.newBuilder[Any]
    buffer.ticks.forEach { (tick, _) =>
      // merge the trailing window into a fresh sketch (union monoid)
      val acc = new Sketch(cfg)
      // clamped subtraction: a sentinel-ish tick near Long.MinValue would
      // wrap the lower bound positive and subMap throws fromKey > toKey
      val lo  = if (tick < Long.MinValue + (windowTicks - 1)) Long.MinValue
                else tick - (windowTicks - 1)
      val win = buffer.ticks.subMap(lo, true, tick, true)
      win.forEach((_, sk) => acc.merge(sk))
      val top = acc.sortedSlice
      var i   = 0
      val n   = math.min(emitK, top.length)
      while (i < n) {
        val e = top(i)
        out += new GenericInternalRow(Array[Any](
          tick.longValue(), (i + 1).toLong, UTF8String.fromString(e.item),
          e.count, e.fingerprint.toLong & 0xffffffffL))
        i += 1
      }
    }
    new GenericArrayData(out.result().toArray)
  }

  /** Tick count, then per tick (ascending): tick, length-prefixed sketch. */
  override def serialize(buffer: TickRing): Array[Byte] = {
    val blobs = buffer.ticks.asScala.toSeq.map { case (tick, sk) => (tick, SketchCodec.encode(sk)) }
    val out   = ByteBuffer.allocate(4 + blobs.iterator.map(12 + _._2.length).sum)
    out.putInt(blobs.size)
    blobs.foreach { case (tick, blob) => SketchCodec.putBlock(out.putLong(tick), blob) }
    out.array()
  }

  override def deserialize(bytes: Array[Byte]): TickRing = SketchCodec.decoding {
    val in   = ByteBuffer.wrap(bytes)
    val ring = new TickRing(cfg)
    val n    = in.getInt()
    // every entry is >= 12 bytes (tick 8 + blob length 4): a count the
    // remaining payload cannot hold is corruption, not an empty ring
    require(n >= 0 && n.toLong * 12 <= in.remaining(),
      s"corrupt sliding buffer: $n ticks with ${in.remaining()} bytes remaining")
    var i = 0
    while (i < n) {
      val tick = in.getLong()
      ring.ticks.put(tick, SketchCodec.decode(SketchCodec.readBlock(in)))
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
  val dataType: DataType = ArrayType(StructType(Seq(
    StructField("tick", LongType, nullable = false),
    StructField("rank", LongType, nullable = false),
    StructField("item", StringType, nullable = false),
    StructField("count", LongType, nullable = false),
    StructField("fingerprint", LongType, nullable = false))), containsNull = false)
}
