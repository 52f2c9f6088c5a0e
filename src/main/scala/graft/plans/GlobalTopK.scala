package graft.plans

import org.apache.spark.Partitioner
import org.apache.spark.rdd.{RDD, ShuffledRDD}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Attribute, AttributeSet, BindReferences, Expression, UnsafeProjection}
import org.apache.spark.sql.catalyst.expressions.aggregate.TypedImperativeAggregate
import org.apache.spark.sql.catalyst.plans.logical.{LogicalPlan, Statistics, UnaryNode}
import org.apache.spark.sql.catalyst.plans.logical.statsEstimation.EstimationUtils
import org.apache.spark.sql.catalyst.plans.physical.{Partitioning, SinglePartition}
import org.apache.spark.sql.catalyst.types.DataTypeUtils
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.execution.{SparkPlan, SparkStrategy, UnaryExecNode}
import org.apache.spark.sql.graftbridge.Bridge

/** A row-emitting top-K aggregate: `eval` gives at most `emitK`
  * [[TopKResult.entrySchema]] structs in (count desc, item asc) order.
  */
trait TopKRows { def emitK: Int }

/** Batch global top-K of `agg` over `child`: the (item, count, fingerprint)
  * rows of `agg`'s eval, in (count desc, item asc) order. `agg`'s children
  * are `child`'s output. Planned by [[GlobalTopKStrategy]] as
  * [[GlobalTopKExec]].
  */
case class GlobalTopK(agg: TypedImperativeAggregate[_] with TopKRows, fanIn: Int,
                      output: Seq[Attribute], child: LogicalPlan) extends UnaryNode {
  override def producedAttributes: AttributeSet = outputSet
  override def maxRows: Option[Long] = Some(agg.emitK.toLong)

  // Spark's size-only statistics visitor calls `computeStats` on leaf nodes
  // only and multiplies the children's sizes for any other node, so the
  // emitK bound is stated here; joins above then plan against a few rows.
  override def stats: Statistics = Statistics(
    sizeInBytes = EstimationUtils.getSizePerRow(output) * agg.emitK, rowCount = Some(agg.emitK))

  override protected def withNewChildInternal(newChild: LogicalPlan): GlobalTopK =
    copy(child = newChild)
}

object GlobalTopK {
  /** At most this many serialized buffers reach one fold. */
  final val FanIn = 64

  /** The node over `df`, with `agg`'s inputs projected from `df`. */
  def plan(df: DataFrame, agg: TypedImperativeAggregate[_] with TopKRows, fanIn: Int = FanIn): GlobalTopK = {
    require(fanIn >= 2, s"fanIn must be >= 2, got $fanIn")
    val input = df.select(agg.children.map(Bridge.column): _*).queryExecution.analyzed
    GlobalTopK(agg.withNewChildren(input.output).asInstanceOf[TypedImperativeAggregate[_] with TopKRows],
      fanIn, DataTypeUtils.toAttributes(TopKResult.entrySchema), input)
  }
}

/** Plans [[GlobalTopK]]; injected by `graft.GraftExtensions`, and registered
  * on a session by the first `TopK` global top-K it runs.
  */
object GlobalTopKStrategy extends SparkStrategy {
  override def apply(plan: LogicalPlan): Seq[SparkPlan] = plan match {
    case GlobalTopK(agg, fanIn, output, child) => GlobalTopKExec(agg, fanIn, output, planLater(child)) :: Nil
    case _                                     => Nil
  }

  def register(spark: SparkSession): Unit = {
    val exp = spark.experimental
    if (!exp.extraStrategies.contains(this)) exp.extraStrategies = this +: exp.extraStrategies
  }
}

/** One map stage, then a fold on the driver — the shape of Spark's own
  * `TakeOrderedAndProjectExec` collect. Each input partition runs `agg`'s
  * `createAggregationBuffer`/`update`/`serialize` in its scan task; the
  * driver folds the serialized buffers in partition order with `agg`'s
  * `deserialize`/`merge` and emits `agg`'s eval rows, no shuffle. Past
  * `fanIn` partitions, merge tasks fold `fanIn` buffers each (the
  * `treeAggregate` pattern, one shuffle per level) until at most `fanIn`
  * remain, so the driver holds at most `fanIn` buffers at once: 64 by
  * default, each at most 391 KB at 8192×4 (a d×w sketch, 12 bytes a cell),
  * about 25 MB.
  *
  * `executeCollect` and `executeTake` return the folded rows; `doExecute`
  * (a parent operator such as a join, an aggregate or a write) returns them
  * as a one-partition RDD, as `CommandResultExec` does.
  */
case class GlobalTopKExec(agg: TypedImperativeAggregate[_] with TopKRows, fanIn: Int,
                          output: Seq[Attribute], child: SparkPlan) extends UnaryExecNode {
  override def producedAttributes: AttributeSet = outputSet
  override def outputPartitioning: Partitioning = SinglePartition

  override def executeCollect(): Array[InternalRow] = {
    val bound = BindReferences.bindReference(agg: Expression, child.output)
      .asInstanceOf[TypedImperativeAggregate[Any]]
    val top = bound.eval(GlobalTopKExec.fold(bound, GlobalTopKExec.buffers(bound, fanIn, child.execute())
      .collect().iterator)).asInstanceOf[ArrayData]
    val toUnsafe = UnsafeProjection.create(TopKResult.entrySchema)
    Array.tabulate(top.numElements())(i => toUnsafe(top.getStruct(i, output.size)).copy())
  }

  override def executeTake(n: Int): Array[InternalRow] = executeCollect().take(n)

  override protected def doExecute(): RDD[InternalRow] =
    sparkContext.parallelize(executeCollect().toSeq, 1)

  override protected def withNewChildInternal(newChild: SparkPlan): GlobalTopKExec =
    copy(child = newChild)
}

object GlobalTopKExec {
  private def fold(agg: TypedImperativeAggregate[Any], bufs: Iterator[Array[Byte]]): Any =
    bufs.foldLeft(agg.createAggregationBuffer())((b, bytes) => agg.merge(b, agg.deserialize(bytes)))

  /** One serialized buffer per partition of `rows`, merged down to at most
    * `fanIn` buffers.
    */
  private def buffers(agg: TypedImperativeAggregate[Any], fanIn: Int,
                      rows: RDD[InternalRow]): RDD[Array[Byte]] = {
    var bufs = Bridge.mapPartitions(rows) { it =>
      var b = agg.createAggregationBuffer()
      while (it.hasNext) b = agg.update(b, it.next())
      Iterator.single(agg.serialize(b))
    }
    while (bufs.getNumPartitions > fanIn) {
      val tasks = (bufs.getNumPartitions + fanIn - 1) / fanIn
      // buffer i goes to task i / fanIn, which folds its buffers in order
      val byTask = new ShuffledRDD[Int, Array[Byte], Array[Byte]](
        Bridge.mapPartitionsWithIndex(bufs)((i, it) => it.map(i -> _)),
        new Partitioner {
          override def numPartitions: Int            = tasks
          override def getPartition(key: Any): Int = key.asInstanceOf[Int] / fanIn
        })
      bufs = Bridge.mapPartitions(byTask) { it =>
        Iterator.single(agg.serialize(fold(agg, it.toArray.sortBy(_._1).iterator.map(_._2))))
      }
    }
    bufs
  }
}
