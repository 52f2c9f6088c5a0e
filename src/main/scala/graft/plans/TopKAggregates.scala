package graft.plans

import graft.core.{Sketch, SketchCodec, SketchConfig}
import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{BoundReference, Expression, GenericInternalRow, Literal}
import org.apache.spark.sql.catalyst.expressions.aggregate.TypedImperativeAggregate
import org.apache.spark.sql.catalyst.trees.{BinaryLike, UnaryLike}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.graftbridge.Bridge
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** Native Catalyst aggregate expressions for the HeavyKeeper sketch — the
  * engine's only sketch aggregates. They consume `InternalRow`s directly: no
  * encoder deserialization, no per-row case classes, no String
  * materialization off the cold path. The buffer is the
  * mutable Sketch object (ObjectHashAggregateExec keeps it as an object;
  * SketchCodec bytes only cross the shuffle).
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

  /** Shared token-array update loop (TokensTopKAgg / TokensSketchBytesAgg —
    * one implementation so the null handling cannot drift).
    */
  @inline def updateFromTokens(buffer: Sketch, v: Any): Unit = {
    if (v != null) {
      val arr = v.asInstanceOf[ArrayData]
      val n   = arr.numElements()
      var i   = 0
      while (i < n) {
        if (!arr.isNullAt(i)) buffer.addToken(arr.getInt(i), 1L)
        i += 1
      }
    }
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

/** Shared machinery for the ARRAY<INT>-input (token) sketch aggregates: the
  * rows-emitting and blob-emitting variants differ ONLY in eval/dataType, so
  * type checking, the bound-ordinal reader, update, merge and the codec live
  * here once — a fix to the update path cannot drift between the pair.
  */
sealed abstract class TokensSketchAggBase
    extends TypedImperativeAggregate[Sketch] with UnaryLike[Expression] {
  def cfg: SketchConfig
  protected def fnName: String

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(IntegerType, _) => TypeCheckResult.TypeCheckSuccess
    case other => TypeCheckResult.TypeCheckFailure(
      s"$fnName requires ARRAY<INT> tokens, got ${other.catalogString}")
  }

  override def createAggregationBuffer(): Sketch = new Sketch(cfg)

  @transient private lazy val tokOrd: Int = child match {
    case b: BoundReference => b.ordinal
    case _                 => -1
  }

  override def update(buffer: Sketch, input: InternalRow): Sketch = {
    val v =
      if (tokOrd >= 0) { if (input.isNullAt(tokOrd)) null else input.getArray(tokOrd) }
      else child.eval(input)
    TopKResult.updateFromTokens(buffer, v)
    buffer
  }

  override def merge(buffer: Sketch, other: Sketch): Sketch = buffer.merge(other)
  override def serialize(buffer: Sketch): Array[Byte]       = SketchCodec.encode(buffer)
  override def deserialize(bytes: Array[Byte]): Sketch      = SketchCodec.decode(bytes)
  override def nullable: Boolean                            = false
}

/** Top-K over an `array<int>` token column — one aggregate call per sequence
  * row, the core HK loop runs over the array in place (the north-star shape:
  * no explode, no per-token row machinery). Weight 1 per token occurrence.
  */
case class TokensTopKAgg(
    child: Expression,
    cfg: SketchConfig,
    emitK: Int,
    mutableAggBufferOffset: Int = 0,
    inputAggBufferOffset: Int = 0
) extends TokensSketchAggBase {
  override protected def fnName: String   = "topk_tokens"
  override def eval(buffer: Sketch): Any  = TopKResult.toArrayData(buffer, emitK)
  override def dataType: DataType         = TopKResult.dataType

  override def withNewMutableAggBufferOffset(newOffset: Int): TokensTopKAgg =
    copy(mutableAggBufferOffset = newOffset)
  override def withNewInputAggBufferOffset(newOffset: Int): TokensTopKAgg =
    copy(inputAggBufferOffset = newOffset)
  override protected def withNewChildInternal(newChild: Expression): TokensTopKAgg =
    copy(child = newChild)
}

/** Array-native token aggregate emitting the serialized sketch BLOB instead
  * of rows — the level-1 stage of the tree merge (TopK.tokensArray): at scale
  * a single final task cannot union 10⁵⁺ partial sketches (an O(partitions)
  * serial tail, ~400 KB decode each for wide geometries); grouping partials
  * into `fanIn` intermediate unions keeps every merge task O(partitions /
  * fanIn) and the final task O(fanIn).
  */
case class TokensSketchBytesAgg(
    child: Expression,
    cfg: SketchConfig,
    mutableAggBufferOffset: Int = 0,
    inputAggBufferOffset: Int = 0
) extends TokensSketchAggBase {
  override protected def fnName: String   = "topk_tokens_sketch"
  override def eval(buffer: Sketch): Any  = SketchCodec.encode(buffer)
  override def dataType: DataType         = BinaryType

  override def withNewMutableAggBufferOffset(newOffset: Int): TokensSketchBytesAgg =
    copy(mutableAggBufferOffset = newOffset)
  override def withNewInputAggBufferOffset(newOffset: Int): TokensSketchBytesAgg =
    copy(inputAggBufferOffset = newOffset)
  override protected def withNewChildInternal(newChild: Expression): TokensSketchBytesAgg =
    copy(child = newChild)
}

/** Shared machinery for the (item string, weight long) sketch aggregates —
  * same single-definition rationale as [[TokensSketchAggBase]]. Hashes the
  * UTF8String's bytes in place; the heap's String key materializes only on
  * admitted updates (memoized per buffer).
  */
sealed abstract class ItemsSketchAggBase
    extends TypedImperativeAggregate[Sketch] with BinaryLike[Expression] {
  def cfg: SketchConfig
  protected def fnName: String

  override def checkInputDataTypes(): TypeCheckResult =
    TopKResult.checkItemWeight(left, right, fnName)

  override def createAggregationBuffer(): Sketch = new Sketch(cfg)

  @transient private lazy val reader = new TopKResult.ItemWeightReader(left, right)

  override def update(buffer: Sketch, input: InternalRow): Sketch = {
    val u = reader.item(input)
    if (u != null)
      buffer.addUnsafe(u.getBaseObject, u.getBaseOffset, u.numBytes, reader.weight(input))
    buffer
  }

  override def merge(buffer: Sketch, other: Sketch): Sketch = buffer.merge(other)
  override def serialize(buffer: Sketch): Array[Byte]       = SketchCodec.encode(buffer)
  override def deserialize(bytes: Array[Byte]): Sketch      = SketchCodec.decode(bytes)
  override def nullable: Boolean                            = false
}

/** Top-K over generic (item string, weight long) updates. */
case class ItemsTopKAgg(
    left: Expression,
    right: Expression,
    cfg: SketchConfig,
    emitK: Int,
    mutableAggBufferOffset: Int = 0,
    inputAggBufferOffset: Int = 0
) extends ItemsSketchAggBase {
  override protected def fnName: String   = "topk_items"
  override def eval(buffer: Sketch): Any  = TopKResult.toArrayData(buffer, emitK)
  override def dataType: DataType         = TopKResult.dataType

  override def withNewMutableAggBufferOffset(newOffset: Int): ItemsTopKAgg =
    copy(mutableAggBufferOffset = newOffset)
  override def withNewInputAggBufferOffset(newOffset: Int): ItemsTopKAgg =
    copy(inputAggBufferOffset = newOffset)
  override protected def withNewChildrenInternal(newLeft: Expression, newRight: Expression): ItemsTopKAgg =
    copy(left = newLeft, right = newRight)
}

/** Variant of ItemsTopKAgg that emits the serialized sketch blob instead of
  * rows — the SQL-facing `topk_sketch(...)` builder for sketch-algebra
  * pipelines (store per-slice sketches, merge/query later).
  */
case class SketchBytesAgg(
    left: Expression,
    right: Expression,
    cfg: SketchConfig,
    mutableAggBufferOffset: Int = 0,
    inputAggBufferOffset: Int = 0
) extends ItemsSketchAggBase {
  override protected def fnName: String   = "topk_sketch"
  override def eval(buffer: Sketch): Any  = SketchCodec.encode(buffer)
  override def dataType: DataType         = BinaryType

  override def withNewMutableAggBufferOffset(newOffset: Int): SketchBytesAgg =
    copy(mutableAggBufferOffset = newOffset)
  override def withNewInputAggBufferOffset(newOffset: Int): SketchBytesAgg =
    copy(inputAggBufferOffset = newOffset)
  override protected def withNewChildrenInternal(newLeft: Expression, newRight: Expression): SketchBytesAgg =
    copy(left = newLeft, right = newRight)
}

object TopKAggregates {
  /** `agg(tokensTopK($"tokens", cfg, k))` — array-native token top-K. */
  def tokensTopK(tokens: Column, cfg: SketchConfig, emitK: Int): Column =
    Bridge.column(
      TokensTopKAgg(Bridge.expression(tokens), cfg, emitK).toAggregateExpression())

  /** `agg(itemsTopK($"item", $"weight", cfg, k))` — generic item top-K. */
  def itemsTopK(item: Column, weight: Column, cfg: SketchConfig, emitK: Int): Column =
    Bridge.column(
      ItemsTopKAgg(Bridge.expression(item), Bridge.expression(weight),
        cfg, emitK).toAggregateExpression())

  /** `agg(tokensSketchBytes($"tokens", cfg))` — array-native token partial
    * emitting the sketch blob (tree-merge level 1).
    */
  def tokensSketchBytes(tokens: Column, cfg: SketchConfig): Column =
    Bridge.column(
      TokensSketchBytesAgg(Bridge.expression(tokens), cfg).toAggregateExpression())

  /** `agg(sketchBytes($"item", $"weight", cfg))` — emit the sketch blob. */
  def sketchBytes(item: Column, weight: Column, cfg: SketchConfig): Column =
    Bridge.column(
      SketchBytesAgg(Bridge.expression(item), Bridge.expression(weight), cfg)
        .toAggregateExpression())

  /** `agg(mergeBlobs($"blob"))` — union sketch blobs into one blob. */
  def mergeBlobs(blob: Column): Column =
    Bridge.column(MergeSketchBlobsAgg(Bridge.expression(blob)).toAggregateExpression())

  /** `select(sketchRows($"blob", k))` — decode a blob to its top-k rows. */
  def sketchRows(blob: Column, k: Column): Column =
    Bridge.column(SketchRowsExpr(Bridge.expression(blob), Bridge.expression(k)))
}
