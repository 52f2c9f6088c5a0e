package graft.perfbench

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart, SparkListenerStageCompleted}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.expressions.aggregate.{AggregateExpression, Complete, Final}
import org.apache.spark.sql.execution.{QueryExecution, SparkPlan}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec, ShuffleQueryStageExec}
import org.apache.spark.sql.execution.exchange.{ReusedExchangeExec, ShuffleExchangeLike}
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.util.QueryExecutionListener

/** One traced interval. `parent` 0 is a root. Times are on the JVM's
  * monotonic clock; Spark's epoch-millisecond times are mapped onto it.
  */
final case class Span(id: Int, parent: Int, name: String, layer: String,
                      startNs: Long, endNs: Long, attrs: Map[String, Double])

/** Spans kept in memory and written when the run ends. */
final class Tracer {
  private val spans = mutable.ArrayBuffer[Span]()
  private var next  = 0
  private val epochOffsetNs = System.currentTimeMillis() * 1000000L - System.nanoTime()

  def fromEpochMs(ms: Long): Long = ms * 1000000L - epochOffsetNs

  def add(parent: Int, name: String, layer: String, startNs: Long, endNs: Long,
          attrs: Map[String, Double] = Map.empty): Int = synchronized {
    next += 1
    spans += Span(next, parent, name, layer, startNs, endNs, attrs)
    next
  }

  /** A span whose end is set later by [[close]], for parents of spans
    * recorded while it runs.
    */
  def open(parent: Int, name: String, layer: String): Int = {
    val now = System.nanoTime()
    add(parent, name, layer, now, now)
  }

  def close(id: Int): Unit = synchronized {
    val i = spans.indexWhere(_.id == id)
    spans(i) = spans(i).copy(endNs = System.nanoTime())
  }

  def time[T](parent: Int, name: String, layer: String, attrs: Map[String, Double] = Map.empty)(f: => T): T = {
    val s = System.nanoTime()
    val r = f
    add(parent, name, layer, s, System.nanoTime(), attrs)
    r
  }

  def all: Seq[Span] = synchronized(spans.toList)
}

/** Metrics of one completed stage attempt, from the public listener API. */
final case class StageRec(stageId: Int, group: String, submitMs: Long, endMs: Long,
                          numTasks: Int, runMs: Long, gcMs: Long, inBytes: Long,
                          shuffleWrite: Long, shuffleRead: Long, shuffleRecordsRead: Long,
                          spillBytes: Long, shuffleDep: Int)

/** Records every stage with the job group (closed-loop jobs) or streaming
  * batch that ran it.
  */
final class StageListener extends SparkListener {
  private val groupOfStage = mutable.HashMap[Int, String]()
  private val recs         = mutable.ArrayBuffer[StageRec]()

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val p = Option(e.properties)
    // streaming queries set a job group too; their batch id comes first
    val group = p.flatMap(x => Option(x.getProperty("streaming.sql.batchId"))
        .map(b => s"${x.getProperty("sql.streaming.queryId")}:$b"))
      .orElse(p.flatMap(x => Option(x.getProperty("spark.jobGroup.id"))))
      .getOrElse("")
    e.stageIds.foreach(id => groupOfStage.getOrElseUpdate(id, group))
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
    val i = e.stageInfo
    val m = i.taskMetrics
    if (m != null && i.submissionTime.isDefined && i.completionTime.isDefined)
      recs += StageRec(i.stageId, groupOfStage.getOrElse(i.stageId, ""),
        i.submissionTime.get, i.completionTime.get, i.numTasks, m.executorRunTime,
        m.jvmGCTime, m.inputMetrics.bytesRead, m.shuffleWriteMetrics.bytesWritten,
        m.shuffleReadMetrics.totalBytesRead, m.shuffleReadMetrics.recordsRead,
        m.memoryBytesSpilled + m.diskBytesSpilled,
        org.apache.spark.perfbench.Internals.shuffleDepId(i).getOrElse(-1))
  }

  def stagesOf(group: String): Seq[StageRec] = synchronized(recs.filter(_.group == group).toList)
  def stagesWithPrefix(prefix: String): Seq[StageRec] =
    synchronized(recs.filter(_.group.startsWith(prefix)).toList)
}

/** Progress events of the streaming queries, from a listener the benchmark owns. */
final class ProgressListener extends StreamingQueryListener {
  val events = new java.util.concurrent.ConcurrentLinkedQueue[
    org.apache.spark.sql.streaming.StreamingQueryProgress]()
  override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
  override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit =
    events.add(e.progress)
  override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
}

/** Which part of a job each stage ran, read off the executed plan: every
  * shuffle map stage is labelled by the operators between its exchange and
  * the exchanges below it, and the job's last non-shuffle stage by the
  * operators above all exchanges.
  */
object PlanLabels {
  type Classifier = Seq[SparkPlan] => String

  private def unwrap(p: SparkPlan): SparkPlan = p match {
    case a: AdaptiveSparkPlanExec => unwrap(a.executedPlan)
    // the final stage of an adaptive plan runs in the job's result stage
    case r: QueryStageExec if r.getClass.getSimpleName == "ResultQueryStageExec" => unwrap(r.plan)
    case other => other
  }

  /** Nodes computed in the same stage as `p`: down to the next stage boundary. */
  private def local(p: SparkPlan): Seq[SparkPlan] = unwrap(p) match {
    case _: QueryStageExec | _: ReusedExchangeExec => Nil
    case e: ShuffleExchangeLike if e ne p          => Nil
    case n                                         => n +: n.children.flatMap(local)
  }

  private def stages(p: SparkPlan): Seq[ShuffleQueryStageExec] = unwrap(p) match {
    case s: ShuffleQueryStageExec => s +: stages(s.plan)
    case _: QueryStageExec        => Nil
    case n                        => n.children.flatMap(stages)
  }

  /** (shuffle id -> label, label of the result stage, all nodes). */
  def labels(plan: SparkPlan, classify: Classifier): (Map[Int, String], String, Seq[SparkPlan]) = {
    val root = unwrap(plan)
    val byShuffle = stages(root).flatMap { s =>
      s.plan match {
        case e: ShuffleExchangeLike => Some(e.shuffleId -> classify(local(e)))
        case _                      => None
      }
    }.toMap
    val all = local(root) ++ stages(root).flatMap(s => s.plan match {
      case e: ShuffleExchangeLike => local(e)
      case _                      => Nil
    })
    (byShuffle, classify(local(root)), all)
  }

  def hasNode(nodes: Seq[SparkPlan], simpleName: String): Boolean =
    nodes.exists(_.getClass.getSimpleName.startsWith(simpleName))

  def hasFinalAgg(nodes: Seq[SparkPlan]): Boolean =
    nodes.exists(_.expressions.exists(_.find {
      case a: AggregateExpression => a.mode == Final || a.mode == Complete
      case _                      => false
    }.isDefined))

  /** Sum of one SQL metric over the scan nodes of a plan. */
  def scanMetric(nodes: Seq[SparkPlan], metric: String): Long =
    nodes.filter(_.getClass.getSimpleName.startsWith("FileSourceScan"))
      .flatMap(_.metrics.get(metric)).map(_.value).sum
}

/** What a traced run learnt about one closed-loop job. */
final case class JobTrace(stages: Seq[(String, StageRec)], scanMs: Long, scanBytes: Long)

/** Tracing of closed-loop jobs: a span per job with a child per stage.
  * The executed plan of each job comes from a QueryExecutionListener, in
  * job order (one client runs one action per job).
  */
final class JobTracing(spark: SparkSession, val tracer: Tracer, classify: PlanLabels.Classifier) {
  private val listener   = new StageListener
  private val executions = new java.util.concurrent.ConcurrentLinkedQueue[SparkPlan]()
  private val qeListener = new QueryExecutionListener {
    override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
      executions.add(qe.executedPlan)
    override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = ()
  }

  /** Listen during the traced jobs only. */
  def attach(): Unit = {
    spark.sparkContext.addSparkListener(listener)
    spark.listenerManager.register(qeListener)
  }

  def detach(): Unit = {
    org.apache.spark.perfbench.Internals.drainListeners(spark.sparkContext)
    spark.sparkContext.removeSparkListener(listener)
    spark.listenerManager.unregister(qeListener)
  }

  private final case class Pending(group: String, span: Int)
  private val pending = mutable.ArrayBuffer[Pending]()

  def job(group: String, name: String, layer: String, startNs: Long, endNs: Long): Unit =
    pending += Pending(group, tracer.add(0, name, layer, startNs, endNs))

  /** Attach stage spans to their jobs; call once after the loop. */
  def finish(): Seq[JobTrace] = {
    val plans = executions.asScala.toSeq
    val out = pending.zipWithIndex.map { case (p, n) =>
      val (byShuffle, result, nodes) =
        if (plans.size == pending.size) PlanLabels.labels(plans(n), classify)
        else (Map.empty[Int, String], "other", Nil)
      val stages    = listener.stagesOf(p.group).sortBy(_.endMs)
      val lastPlain = stages.filter(_.shuffleDep < 0).lastOption.map(_.stageId)
      val labelled = stages.map { s =>
        val label =
          if (s.shuffleDep >= 0) byShuffle.getOrElse(s.shuffleDep, "other")
          else if (lastPlain.contains(s.stageId)) result
          else "other"
        tracer.add(p.span, s"stage.$label", "spark", tracer.fromEpochMs(s.submitMs),
          tracer.fromEpochMs(s.endMs), Map("task_ms" -> s.runMs.toDouble,
            "tasks" -> s.numTasks.toDouble, "gc_ms" -> s.gcMs.toDouble))
        label -> s
      }
      JobTrace(labelled,
        PlanLabels.scanMetric(nodes, "scanTime"), PlanLabels.scanMetric(nodes, "filesSize"))
    }
    pending.clear()
    out.toList
  }
}
