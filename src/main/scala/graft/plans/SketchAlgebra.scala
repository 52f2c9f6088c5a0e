package graft.plans

import graft.core.{Sketch, SketchCodec}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, ExpectsInputTypes, Expression}
import org.apache.spark.sql.catalyst.expressions.aggregate.TypedImperativeAggregate
import org.apache.spark.sql.catalyst.expressions.codegen.CodegenFallback
import org.apache.spark.sql.catalyst.trees.UnaryLike
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** Mutable holder so the merge aggregate can adopt the geometry of the first
  * blob it sees (the aggregate itself is geometry-agnostic).
  */
final class MergeBuf(var sketch: Sketch)

/** `topk_merge(blob)` — unions serialized sketch blobs (the TOPK.MERGE the
  * reference lacks) into one blob. Geometry is taken from the first blob;
  * mixing geometries is an error (same contract as the core merge).
  */
case class MergeSketchBlobsAgg(
    child: Expression,
    mutableAggBufferOffset: Int = 0,
    inputAggBufferOffset: Int = 0
) extends TypedImperativeAggregate[MergeBuf] with UnaryLike[Expression] with ExpectsInputTypes {

  // analysis-time validation, like every other sketch aggregate: a wrong
  // column otherwise dies with a ClassCastException on the executors
  override def inputTypes = Seq(BinaryType)

  override def createAggregationBuffer(): MergeBuf = new MergeBuf(null)

  override def update(buf: MergeBuf, input: InternalRow): MergeBuf = {
    val v = child.eval(input)
    if (v != null) {
      val decoded = SketchCodec.decode(v.asInstanceOf[Array[Byte]])
      if (buf.sketch == null) buf.sketch = decoded else buf.sketch.merge(decoded)
    }
    buf
  }

  override def merge(a: MergeBuf, b: MergeBuf): MergeBuf = {
    if (a.sketch == null) a.sketch = b.sketch
    else if (b.sketch != null) a.sketch.merge(b.sketch)
    a
  }

  override def eval(buf: MergeBuf): Any =
    if (buf.sketch == null) null else SketchCodec.encode(buf.sketch)

  override def serialize(buf: MergeBuf): Array[Byte] =
    if (buf.sketch == null) Array.emptyByteArray else SketchCodec.encode(buf.sketch)

  override def deserialize(bytes: Array[Byte]): MergeBuf =
    if (bytes.isEmpty) new MergeBuf(null) else new MergeBuf(SketchCodec.decode(bytes))

  override def dataType: DataType = BinaryType
  override def nullable: Boolean  = true

  override def withNewMutableAggBufferOffset(newOffset: Int): MergeSketchBlobsAgg =
    copy(mutableAggBufferOffset = newOffset)
  override def withNewInputAggBufferOffset(newOffset: Int): MergeSketchBlobsAgg =
    copy(inputAggBufferOffset = newOffset)
  override protected def withNewChildInternal(newChild: Expression): MergeSketchBlobsAgg =
    copy(child = newChild)
}

/** `topk_rows(blob, k)` — scalar: decode a sketch blob into its top-k rows
  * (item, count, fingerprint), SortedSlice order. Pair with explode().
  */
case class SketchRowsExpr(left: Expression, right: Expression)
    extends BinaryExpression with CodegenFallback with ExpectsInputTypes {

  override def inputTypes = Seq(BinaryType, IntegerType)
  override def dataType: DataType = TopKResult.dataType
  override def nullable: Boolean  = true

  override protected def nullSafeEval(blob: Any, k: Any): Any =
    // one emitted-row shape, shared with the aggregate path
    TopKResult.toArrayData(
      SketchCodec.decode(blob.asInstanceOf[Array[Byte]]), k.asInstanceOf[Int])

  override protected def withNewChildrenInternal(newLeft: Expression, newRight: Expression): SketchRowsExpr =
    copy(left = newLeft, right = newRight)
}

/** Single-entry decode memo shared by the blob-lookup expressions: the
  * prescribed usage joins a broadcast single-blob side against many item
  * rows, so every row carries the same blob — but UnsafeRow.getBinary copies
  * the bytes per eval, so the memo matches on reference identity OR content
  * equality (a ~12 KB memcmp, ~10-40x cheaper than re-decoding: decode
  * allocates + parses the cell arrays and replays the heap). Rows with
  * genuinely distinct blobs miss and pay exactly the old per-row decode.
  * Measured on 100k lookup rows over one 12 KB blob (local[1]): ~6x faster
  * end-to-end than decode-per-row.
  * Racing tasks sharing an instance can only swap in another valid pair
  * (single reference assignment), never a torn state.
  *
  * READ-ONLY INVARIANT: the returned [[Sketch]] is aliased — the same cached
  * instance is handed to every row with an equal blob, potentially across
  * racing tasks. Callers MUST only invoke read-only members (count / query /
  * iter / heap contains/countOf). Calling any mutator (add / merge / reset /
  * tick) on the returned value silently corrupts results for unrelated rows.
  * All current callers (SketchCountExpr, SketchQueryExpr) honor this.
  */
private[plans] final class BlobDecodeMemo {
  @transient private var memo: (Array[Byte], Sketch) = _

  /** Decode `blob`, memoized. The result must be treated as immutable — see
    * the class-level READ-ONLY INVARIANT.
    */
  def decode(blob: Array[Byte]): Sketch = {
    val m = memo
    if (m != null && ((m._1 eq blob) || java.util.Arrays.equals(m._1, blob))) m._2
    else {
      val sk = SketchCodec.decode(blob)
      memo = (blob, sk)
      sk
    }
  }
}

/** `topk_count(blob, item)` — the reference's `Count` lookup
  * (sketch.go:90-111) over a serialized sketch blob, as a native expression
  * (injectable via SparkSessionExtensions, unlike a session-bound Scala UDF).
  * The per-task decode memo makes the broadcast-blob pattern decode once per
  * blob change, not once per row; see [[BlobDecodeMemo]].
  */
case class SketchCountExpr(left: Expression, right: Expression)
    extends BinaryExpression with CodegenFallback with ExpectsInputTypes {

  override def inputTypes = Seq(BinaryType, StringType)
  override def dataType: DataType = LongType
  override def nullable: Boolean  = false

  @transient private lazy val memo = new BlobDecodeMemo

  // the reference's Count of an unknown item is 0 (sketch.go:90-111): null
  // blob / null item count as 0, not SQL NULL (matches the pre-existing UDF
  // surface, so sums over sparse lookups keep counting zeros).
  // Known per-row cost: one String materialization (and a re-encode inside
  // Sketch.count) — kept deliberately: the tracked-item fast path is the
  // heap's String-keyed index (exact reference semantics), so a byte-keyed
  // probe would still materialize for every tracked hit; the blob-decode
  // memo already removed the dominant (decode) cost on this path.
  override def eval(input: InternalRow): Any = {
    val blob = left.eval(input)
    val item = right.eval(input)
    if (blob == null || item == null) 0L
    else memo.decode(blob.asInstanceOf[Array[Byte]])
      .count(item.asInstanceOf[UTF8String].toString)
  }

  override protected def withNewChildrenInternal(newLeft: Expression, newRight: Expression): SketchCountExpr =
    copy(left = newLeft, right = newRight)
}

/** `topk_query(blob, item)` — the reference's `Query` membership test
  * (sketch.go:172-175) over a serialized sketch blob.
  */
case class SketchQueryExpr(left: Expression, right: Expression)
    extends BinaryExpression with CodegenFallback with ExpectsInputTypes {

  override def inputTypes = Seq(BinaryType, StringType)
  override def dataType: DataType = BooleanType
  override def nullable: Boolean  = false

  @transient private lazy val memo = new BlobDecodeMemo

  // membership of an unknown/null item is false, not SQL NULL (reference:
  // sketch.go:172-175; matches the pre-existing UDF surface)
  override def eval(input: InternalRow): Any = {
    val blob = left.eval(input)
    val item = right.eval(input)
    if (blob == null || item == null) false
    else memo.decode(blob.asInstanceOf[Array[Byte]])
      .query(item.asInstanceOf[UTF8String].toString)
  }

  override protected def withNewChildrenInternal(newLeft: Expression, newRight: Expression): SketchQueryExpr =
    copy(left = newLeft, right = newRight)
}
