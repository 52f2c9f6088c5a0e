package graft.plans

import graft.core.{Sketch, SketchCodec, SketchConfig, TokenCombiner}
import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{BoundReference, ExpectsInputTypes, Expression, GenericInternalRow, Literal}
import org.apache.spark.sql.catalyst.expressions.aggregate.TypedImperativeAggregate
import org.apache.spark.sql.catalyst.trees.{BinaryLike, UnaryLike}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.graftbridge.Bridge
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** Native Catalyst aggregate expressions for the HeavyKeeper sketch — the
  * engine's only sketch aggregates. They consume `InternalRow`s directly: no
  * encoder deserialization, no per-row case classes, no String
  * materialization off the cold path. The buffer is a mutable object
  * (ObjectHashAggregateExec keeps it as one; codec bytes only cross the
  * shuffle): an [[AdaptiveTopK]] (exact item counts up to a cutoff, a
  * Sketch above it) for the item aggregates, a TokenCombiner (exact token
  * counts in front of a Sketch) for the token aggregates.
  */
object TopKResult {
  val entrySchema: StructType = StructType(Seq(
    StructField("item", StringType, nullable = false),
    StructField("count", LongType, nullable = false),
    StructField("fingerprint", LongType, nullable = false)))

  val dataType: DataType = ArrayType(entrySchema, containsNull = false)

  /** Shared input-type validation: item must be a string, weight an integral
    * (anything else would silently mis-read `InternalRow` slots — e.g.
    * `getInt` on an `array<bigint>` reads 4 bytes of each 8-byte slot).
    */
  def checkItemWeight(item: Expression, weight: Expression, fn: String): TypeCheckResult = {
    if (item.dataType != StringType)
      TypeCheckResult.TypeCheckFailure(
        s"$fn requires a STRING item, got ${item.dataType.catalogString}")
    else if (!Seq[DataType](ByteType, ShortType, IntegerType, LongType)
               .contains(weight.dataType))
      TypeCheckResult.TypeCheckFailure(
        s"$fn requires an integral weight, got ${weight.dataType.catalogString}")
    else TypeCheckResult.TypeCheckSuccess
  }

  /** Widen any integral InternalRow value to Long (no toString round-trip). */
  @inline def weightAsLong(v: Any): Long = v match {
    case null            => 0L
    case l: java.lang.Long    => l
    case i: java.lang.Integer => i.toLong
    case s: java.lang.Short   => s.toLong
    case b: java.lang.Byte    => b.toLong
    case other           => other.toString.toLong
  }

  /** Per-task accessor for the (item string, weight integral) aggregate
    * inputs. AggregationIterator binds the children to the input schema
    * before the first `update`, so on the hot path they are BoundReferences
    * (or a Literal weight): read them by ordinal with the typed UnsafeRow
    * getters, skipping `Expression.eval`'s megamorphic dispatch and the
    * weight's per-row Long boxing. Non-bound children (interpreted tests,
    * exotic rewrites) fall back to eval with identical semantics.
    * Instantiate as `@transient lazy val` so each bound copy resolves its own
    * ordinals.
    */
  final class ItemWeightReader(left: Expression, right: Expression) {
    private val itemOrd: Int = left match {
      case b: BoundReference if b.dataType == StringType => b.ordinal
      case _                                             => -1
    }
    private val wOrd: Int = right match {
      case b: BoundReference if b.dataType == LongType => b.ordinal
      case _                                           => -1
    }
    private val wIsLit: Boolean = right.isInstanceOf[Literal]
    private val wLitVal: Long   = if (wIsLit) weightAsLong(right.asInstanceOf[Literal].value) else 0L

    @inline def item(input: InternalRow): UTF8String =
      if (itemOrd >= 0) {
        if (input.isNullAt(itemOrd)) null else input.getUTF8String(itemOrd)
      } else left.eval(input).asInstanceOf[UTF8String]

    @inline def weight(input: InternalRow): Long =
      if (wIsLit) wLitVal
      else if (wOrd >= 0) { if (input.isNullAt(wOrd)) 0L else input.getLong(wOrd) }
      else weightAsLong(right.eval(input))
  }

  def toArrayData(buffer: Sketch, emitK: Int): ArrayData = {
    val top = buffer.sortedSlice
    // clamp at 0: k reaches here unvalidated from SQL (topk_rows(blob, -1))
    // and a negative array size would kill the task mid-query
    val n   = math.max(0, math.min(emitK, top.length))
    val out = new Array[Any](n)
    var i   = 0
    while (i < n) {
      val e = top(i)
      out(i) = new GenericInternalRow(Array[Any](
        UTF8String.fromString(e.item), e.count, e.fingerprint.toLong & 0xffffffffL))
      i += 1
    }
    new GenericArrayData(out)
  }
}

/** Top-K over an `array<int>` token column — one aggregate call per sequence
  * row, counted over the array in place (the north-star shape: no explode,
  * no per-token row machinery).
  *
  * The buffer is a [[TokenCombiner]]: `update` only counts the row's tokens
  * (null arrays and null elements are skipped, weight 1 per occurrence);
  * `merge`, `serialize` and `eval` flush the counts into the sketch first,
  * heaviest token first, so the sketch sees one weighted add per distinct
  * token of a flush window. Its table is bounded at
  * `TokenCombiner.capacity(cfg)` 8-byte slots, at most max(16 KB, 16/3 ×
  * the sketch's cell bytes), and a full table flushes mid-stream. The
  * partial state is a deterministic function of the partition's input, so
  * a task retry reproduces the same blob. The serialized buffer is a TKP2
  * sketch blob (SQL `topk_tokens_sketch` emits it, [[BufferBytesAgg]]).
  */
case class TokensTopKAgg(
    child: Expression,
    cfg: SketchConfig,
    emitK: Int,
    mutableAggBufferOffset: Int = 0,
    inputAggBufferOffset: Int = 0
) extends TypedImperativeAggregate[TokenCombiner] with UnaryLike[Expression] with TopKRows {

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(IntegerType, _) => TypeCheckResult.TypeCheckSuccess
    case other => TypeCheckResult.TypeCheckFailure(
      s"topk_tokens(_sketch) requires ARRAY<INT> tokens, got ${other.catalogString}")
  }

  override def createAggregationBuffer(): TokenCombiner = new TokenCombiner(new Sketch(cfg))

  @transient private lazy val tokOrd: Int = child match {
    case b: BoundReference => b.ordinal
    case _                 => -1
  }

  override def update(buffer: TokenCombiner, input: InternalRow): TokenCombiner = {
    val v =
      if (tokOrd >= 0) { if (input.isNullAt(tokOrd)) null else input.getArray(tokOrd) }
      else child.eval(input)
    if (v != null) {
      val arr = v.asInstanceOf[ArrayData]
      val n   = arr.numElements()
      var i   = 0
      while (i < n) {
        if (!arr.isNullAt(i)) buffer.add(arr.getInt(i))
        i += 1
      }
    }
    buffer
  }

  override def merge(buffer: TokenCombiner, other: TokenCombiner): TokenCombiner = {
    buffer.flushed.merge(other.flushed)
    buffer
  }
  override def serialize(buffer: TokenCombiner): Array[Byte] = SketchCodec.encode(buffer.flushed)
  override def deserialize(bytes: Array[Byte]): TokenCombiner =
    new TokenCombiner(SketchCodec.decode(bytes))
  override def nullable: Boolean = false

  override def eval(buffer: TokenCombiner): Any = TopKResult.toArrayData(buffer.flushed, emitK)
  override def dataType: DataType               = TopKResult.dataType

  override def withNewMutableAggBufferOffset(newOffset: Int): TokensTopKAgg =
    copy(mutableAggBufferOffset = newOffset)
  override def withNewInputAggBufferOffset(newOffset: Int): TokensTopKAgg =
    copy(inputAggBufferOffset = newOffset)
  override protected def withNewChildInternal(newChild: Expression): TokensTopKAgg =
    copy(child = newChild)
}

/** Shared machinery for the (item string, weight long) aggregates, which
  * differ ONLY in eval/dataType. The buffer is an [[AdaptiveTopK]]: exact
  * counts up to `AdaptiveTopK.cutoff(cfg)` distinct items per group, a
  * sketch above, so every string-item aggregate is exact on small groups.
  * The sketch hashes the UTF8String's bytes in place; the heap's String key
  * materializes only on admitted updates (memoized per buffer).
  */
sealed abstract class ItemsSketchAggBase
    extends TypedImperativeAggregate[AdaptiveTopK] with BinaryLike[Expression] {
  def cfg: SketchConfig
  protected def fnName: String

  override def checkInputDataTypes(): TypeCheckResult =
    TopKResult.checkItemWeight(left, right, fnName)

  override def createAggregationBuffer(): AdaptiveTopK =
    new AdaptiveTopK(cfg, AdaptiveTopK.cutoff(cfg))

  @transient private lazy val reader = new TopKResult.ItemWeightReader(left, right)

  override def update(buffer: AdaptiveTopK, input: InternalRow): AdaptiveTopK = {
    val u = reader.item(input)
    if (u != null) buffer.add(u, reader.weight(input))
    buffer
  }

  override def merge(buffer: AdaptiveTopK, other: AdaptiveTopK): AdaptiveTopK =
    buffer.mergeWith(other)
  override def serialize(buffer: AdaptiveTopK): Array[Byte] = AdaptiveTopK.encode(buffer)
  override def deserialize(bytes: Array[Byte]): AdaptiveTopK =
    AdaptiveTopK.decode(bytes, cfg, AdaptiveTopK.cutoff(cfg))
  override def nullable: Boolean = false
}

/** Top-K over generic (item string, weight long) updates. */
case class ItemsTopKAgg(
    left: Expression,
    right: Expression,
    cfg: SketchConfig,
    emitK: Int,
    mutableAggBufferOffset: Int = 0,
    inputAggBufferOffset: Int = 0
) extends ItemsSketchAggBase with TopKRows {
  override protected def fnName: String        = "topk_items"
  override def eval(buffer: AdaptiveTopK): Any = buffer.toArrayData(emitK)
  override def dataType: DataType              = TopKResult.dataType

  override def withNewMutableAggBufferOffset(newOffset: Int): ItemsTopKAgg =
    copy(mutableAggBufferOffset = newOffset)
  override def withNewInputAggBufferOffset(newOffset: Int): ItemsTopKAgg =
    copy(inputAggBufferOffset = newOffset)
  override protected def withNewChildrenInternal(newLeft: Expression, newRight: Expression): ItemsTopKAgg =
    copy(left = newLeft, right = newRight)
}

/** Variant of ItemsTopKAgg that emits a TKP2 sketch blob instead of rows —
  * the SQL-facing `topk_sketch(...)` builder for sketch-algebra pipelines
  * (store per-slice sketches, merge/query later). An exact buffer is
  * replayed into a fresh sketch for the blob ([[AdaptiveTopK.toSketch]]).
  */
case class SketchBytesAgg(
    left: Expression,
    right: Expression,
    cfg: SketchConfig,
    mutableAggBufferOffset: Int = 0,
    inputAggBufferOffset: Int = 0
) extends ItemsSketchAggBase {
  override protected def fnName: String        = "topk_sketch"
  override def eval(buffer: AdaptiveTopK): Any = SketchCodec.encode(buffer.toSketch)
  override def dataType: DataType              = BinaryType

  override def withNewMutableAggBufferOffset(newOffset: Int): SketchBytesAgg =
    copy(mutableAggBufferOffset = newOffset)
  override def withNewInputAggBufferOffset(newOffset: Int): SketchBytesAgg =
    copy(inputAggBufferOffset = newOffset)
  override protected def withNewChildrenInternal(newLeft: Expression, newRight: Expression): SketchBytesAgg =
    copy(left = newLeft, right = newRight)
}

/** Level 1 of a two-level top-K plan: runs `agg` and emits its serialized
  * buffer — the bytes Spark's own partial→final handoff ships for `agg`.
  * [[MergeBuffersAgg]] over the same `agg` folds them back in, so a
  * two-level plan merges exactly what its one-level twin merges.
  */
case class BufferBytesAgg[T](
    agg: TypedImperativeAggregate[T],
    mutableAggBufferOffset: Int = 0,
    inputAggBufferOffset: Int = 0
) extends TypedImperativeAggregate[T] {
  override def children: Seq[Expression]                = agg.children
  override def checkInputDataTypes(): TypeCheckResult   = agg.checkInputDataTypes()
  override def createAggregationBuffer(): T             = agg.createAggregationBuffer()
  override def update(buffer: T, input: InternalRow): T = agg.update(buffer, input)
  override def merge(buffer: T, other: T): T            = agg.merge(buffer, other)
  override def eval(buffer: T): Any                     = agg.serialize(buffer)
  override def serialize(buffer: T): Array[Byte]        = agg.serialize(buffer)
  override def deserialize(bytes: Array[Byte]): T       = agg.deserialize(bytes)
  override def dataType: DataType                       = BinaryType
  override def nullable: Boolean                        = false

  override def withNewMutableAggBufferOffset(newOffset: Int): BufferBytesAgg[T] =
    copy(mutableAggBufferOffset = newOffset)
  override def withNewInputAggBufferOffset(newOffset: Int): BufferBytesAgg[T] =
    copy(inputAggBufferOffset = newOffset)
  override protected def withNewChildrenInternal(newChildren: IndexedSeq[Expression]): BufferBytesAgg[T] =
    copy(agg = agg.withNewChildren(newChildren).asInstanceOf[TypedImperativeAggregate[T]])
}

/** Level 2 of a two-level top-K plan: folds [[BufferBytesAgg]] bytes into
  * one buffer with `agg`'s own deserialize and merge, and emits `agg`'s
  * eval. Only `agg`'s buffer methods run; its own inputs are never read.
  */
case class MergeBuffersAgg[T](
    child: Expression,
    agg: TypedImperativeAggregate[T],
    mutableAggBufferOffset: Int = 0,
    inputAggBufferOffset: Int = 0
) extends TypedImperativeAggregate[T] with UnaryLike[Expression] with ExpectsInputTypes {
  override def inputTypes                    = Seq(BinaryType)
  override def createAggregationBuffer(): T = agg.createAggregationBuffer()
  override def update(buffer: T, input: InternalRow): T = {
    val bytes = child.eval(input)
    if (bytes == null) buffer else agg.merge(buffer, agg.deserialize(bytes.asInstanceOf[Array[Byte]]))
  }
  override def merge(buffer: T, other: T): T      = agg.merge(buffer, other)
  override def eval(buffer: T): Any               = agg.eval(buffer)
  override def serialize(buffer: T): Array[Byte]  = agg.serialize(buffer)
  override def deserialize(bytes: Array[Byte]): T = agg.deserialize(bytes)
  override def dataType: DataType                 = agg.dataType
  override def nullable: Boolean                  = agg.nullable

  override def withNewMutableAggBufferOffset(newOffset: Int): MergeBuffersAgg[T] =
    copy(mutableAggBufferOffset = newOffset)
  override def withNewInputAggBufferOffset(newOffset: Int): MergeBuffersAgg[T] =
    copy(inputAggBufferOffset = newOffset)
  override protected def withNewChildInternal(newChild: Expression): MergeBuffersAgg[T] =
    copy(child = newChild)
}

object TopKAggregates {
  /** The one oversample rule: a row-emitting aggregate's buffer tracks
    * k×oversample candidates (oversample < 1 counts as 1) and emits cfg.k
    * rows. Bucket counters are unaffected by heap capacity (the heap only
    * selects what gets *reported*, reference: sketch.go:169), but a
    * partition-local top-k heap can drop items that are top-k only
    * globally; oversampling the partials' candidate set recovers them.
    * oversample = 1 reproduces the reference's exact single-writer
    * candidate retention.
    */
  def candidates(cfg: SketchConfig, oversample: Int): SketchConfig =
    cfg.copy(k = cfg.k * math.max(1, oversample))

  /** `agg(tokensTopK($"tokens", cfg, k))` — array-native token top-K. */
  def tokensTopK(tokens: Column, cfg: SketchConfig, emitK: Int): Column =
    Bridge.column(
      TokensTopKAgg(Bridge.expression(tokens), cfg, emitK).toAggregateExpression())

  /** `agg(sketchBytes($"item", $"weight", cfg))` — emit the sketch blob. */
  def sketchBytes(item: Column, weight: Column, cfg: SketchConfig): Column =
    Bridge.column(
      SketchBytesAgg(Bridge.expression(item), Bridge.expression(weight), cfg)
        .toAggregateExpression())

  /** `agg(bufferBytes(a))` — level 1 of a two-level plan over `a`. */
  def bufferBytes[T](agg: TypedImperativeAggregate[T]): Column =
    Bridge.column(BufferBytesAgg(agg).toAggregateExpression())

  /** `agg(mergeBuffers($"buf", a))` — level 2: `a`'s rows from level-1 bytes. */
  def mergeBuffers[T](buffers: Column, agg: TypedImperativeAggregate[T]): Column =
    Bridge.column(MergeBuffersAgg(Bridge.expression(buffers), agg).toAggregateExpression())
}
