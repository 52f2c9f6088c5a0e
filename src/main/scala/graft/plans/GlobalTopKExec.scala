package graft.plans

import org.apache.spark.Partitioner
import org.apache.spark.rdd.{RDD, ShuffledRDD}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Alias, Attribute, AttributeSet, BindReferences, Expression, GreaterThan, IsNotNull, Inline, Literal, PredicateHelper, Size, UnsafeProjection}
import org.apache.spark.sql.catalyst.expressions.aggregate.{AggregateExpression, Complete, TypedImperativeAggregate}
import org.apache.spark.sql.catalyst.plans.logical.{Aggregate, Filter, Generate, LogicalPlan}
import org.apache.spark.sql.catalyst.plans.physical.{Partitioning, SinglePartition}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.execution.{SparkPlan, SparkStrategy, SQLExecution, UnaryExecNode}
import org.apache.spark.sql.execution.metric.{SQLMetric, SQLMetrics}
import org.apache.spark.sql.execution.streaming.runtime.StreamExecution
import org.apache.spark.sql.graftbridge.Bridge

/** A row-emitting top-K aggregate: `eval` gives at most `emitK`
  * [[TopKResult.entrySchema]] structs in (count desc, item asc) order.
  */
trait TopKRows { def emitK: Int }

/** Plans Spark's ungrouped `Aggregate` whose sole output is one
  * [[TopKRows]] aggregate (`Complete`, no `DISTINCT`, no `FILTER`) over a
  * batch input as [[GlobalTopKExec]] — the plan of `TopK.tokensArray` and
  * `TopK.aggregate`, of SQL `SELECT topk_tokens(...)`/`topk_items(...)`
  * with no `GROUP BY`, and of `df.agg` on either aggregate. Two shapes:
  *  - `Generate(Inline(topk))` straight over the aggregate (what `TopK`
  *    builds): the exec emits the exploded (item, count, fingerprint) rows
  *    itself, so a collect is one job of one stage, as Spark's own
  *    `SpecialLimits` plans a limit over a sort as `TakeOrderedAndProjectExec`;
  *  - the bare aggregate: the exec emits its one array row, and Spark's
  *    operators run above it.
  * A streaming input, or any plan planned on a streaming query's thread,
  * keeps Catalyst's aggregate. Injected by `graft.GraftExtensions`, and
  * registered on a session by `SqlFunctions.register` and by the first `TopK`
  * global top-K it runs.
  */
object GlobalTopKStrategy extends SparkStrategy with PredicateHelper {
  /** At most this many serialized buffers reach one fold. */
  private final val FanIn = 64

  override def apply(plan: LogicalPlan): Seq[SparkPlan] = plan match {
    case g @ Generate(Inline(topk: Attribute), _, false, _, _, InferredFilter(TopKAggregate(agg, out, child)))
        if g.requiredChildOutput.isEmpty && topk.exprId == out.exprId =>
      GlobalTopKExec(agg, FanIn, rows = true, g.output, planLater(child)) :: Nil
    case TopKAggregate(agg, out, child) =>
      GlobalTopKExec(agg, FanIn, rows = false, Seq(out), planLater(child)) :: Nil
    case _ => Nil
  }

  /** The plan under `Generate(Inline(topk))`, past the `isnotnull(topk) AND
    * size(topk) > 0` filter Spark's `InferFiltersFromGenerate` puts there: it
    * drops only an array the Generate turns into no rows.
    */
  private object InferredFilter {
    def unapply(plan: LogicalPlan): Some[LogicalPlan] = plan match {
      case Filter(cond, child) if splitConjunctivePredicates(cond).forall {
            case IsNotNull(_: Attribute) | GreaterThan(Size(_: Attribute, _), Literal(0, _)) => true
            case _                                                                          => false
          } => Some(child)
      case _ => Some(plan)
    }
  }

  /** (aggregate, its output attribute, input) of an ungrouped batch
    * `Aggregate` whose sole output is one plain [[TopKRows]] aggregate.
    */
  private object TopKAggregate {
    def unapply(plan: LogicalPlan): Option[(TypedImperativeAggregate[_] with TopKRows, Attribute, LogicalPlan)] =
      plan match {
        case Aggregate(grouping, Seq(out @ Alias(AggregateExpression(
              agg: TypedImperativeAggregate[_] with TopKRows, Complete, false, None, _), _)), child, _)
            if grouping.isEmpty && !plan.isStreaming && !inStreamingQuery =>
          Some((agg, out.toAttribute, child))
        case _ => None
      }
  }

  /** A micro-batch (`IncrementalExecution`) is planned on its query's
    * thread, which carries the query id.
    */
  private def inStreamingQuery: Boolean =
    SparkSession.getActiveSession.exists(_.sparkContext.getLocalProperty(StreamExecution.QUERY_ID_KEY) != null)

  def register(spark: SparkSession): Unit = {
    val exp = spark.experimental
    if (!exp.extraStrategies.contains(this)) exp.extraStrategies = this +: exp.extraStrategies
  }
}

/** One map stage, then a fold on the driver — the shape of Spark's own
  * `TakeOrderedAndProjectExec` collect. Each input partition runs `agg`'s
  * `createAggregationBuffer`/`update`/`serialize` in its scan task; the
  * driver folds the serialized buffers in partition order with `agg`'s
  * `deserialize`/`merge` and evaluates `agg`, no shuffle. Past `fanIn`
  * partitions, merge tasks fold `fanIn` buffers each (the `treeAggregate`
  * pattern, one shuffle per level) until at most `fanIn` remain, so the
  * driver holds at most `fanIn` buffers at once: 64 as planned, each at most
  * 391 KB at 8192×4 (a d×w sketch, 12 bytes a cell), about 25 MB.
  *
  * With `rows` the exec emits the eval's (item, count, fingerprint) rows;
  * without, the aggregate's one row holding the array. `executeCollect` and
  * `executeTake` return them; `doExecute` (a parent operator such as a join,
  * an aggregate or a write) returns them as a one-partition RDD, as
  * `CommandResultExec` does. Two driver metrics show the fold: the buffers
  * it folded and its time.
  */
case class GlobalTopKExec(agg: TypedImperativeAggregate[_] with TopKRows, fanIn: Int, rows: Boolean,
                          output: Seq[Attribute], child: SparkPlan) extends UnaryExecNode {
  override def producedAttributes: AttributeSet = outputSet
  override def outputPartitioning: Partitioning = SinglePartition

  override lazy val metrics: Map[String, SQLMetric] = Map(
    "buffersFolded" -> SQLMetrics.createMetric(sparkContext, "buffers folded on the driver"),
    "foldTime"      -> SQLMetrics.createNanoTimingMetric(sparkContext, "driver fold time"))

  override def executeCollect(): Array[InternalRow] = {
    val bound = BindReferences.bindReference(agg: Expression, child.output)
      .asInstanceOf[TypedImperativeAggregate[Any]]
    val bufs  = GlobalTopKExec.buffers(bound, fanIn, child.execute()).collect()
    val start = System.nanoTime()
    val top   = bound.eval(GlobalTopKExec.fold(bound, bufs.iterator)).asInstanceOf[ArrayData]
    metrics("foldTime") += System.nanoTime() - start
    metrics("buffersFolded") += bufs.length
    SQLMetrics.postDriverMetricUpdates(sparkContext,
      sparkContext.getLocalProperty(SQLExecution.EXECUTION_ID_KEY), metrics.values.toSeq)
    if (rows) {
      val toUnsafe = UnsafeProjection.create(TopKResult.entrySchema)
      Array.tabulate(top.numElements())(i => toUnsafe(top.getStruct(i, output.size)).copy())
    } else Array(UnsafeProjection.create(output.map(_.dataType).toArray).apply(InternalRow(top)).copy())
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
