package graft.perfbench

import java.io.File
import java.nio.file.{Files, Paths}

import scala.collection.mutable
import scala.util.{Failure, Success, Try}

import org.apache.spark.sql.{DataFrame, Row, SparkSession}

/** Run-wide settings and the run's data directory. */
final class Ctx(val spark: SparkSession, val seed: Long, val seconds: Double,
                val trace: Boolean, val dir: File) {
  def path(name: String): String = new File(dir, name).getPath
  val tracer = new Tracer
}

/** Raw outcome of one run. Values are numbers or lists of samples; the
  * report script reduces lists (medians, percentiles) and names the units.
  */
final class Result(val workload: String) {
  var attempted = 0L
  var failed    = 0L
  val failures  = mutable.ArrayBuffer[String]()
  val values    = mutable.LinkedHashMap[String, Any]()

  def fail(msg: String): Unit = {
    failed += 1
    if (failures.size < 20) failures += msg
  }

  def sample(name: String, v: Double): Unit =
    values.getOrElseUpdate(name, mutable.ArrayBuffer[Double]())
      .asInstanceOf[mutable.ArrayBuffer[Double]] += v

  def samples(name: String, vs: Iterable[Double]): Unit = vs.foreach(sample(name, _))

  def set(name: String, v: Double): Unit = values(name) = v
}

object Main {

  def main(args: Array[String]): Unit = {
    java.util.Locale.setDefault(java.util.Locale.ROOT)
    val opts = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val workload = opts("workload")
    val out      = new File(opts("out"))
    val cores    = opts.getOrElse("cores", "4")
    out.mkdirs()
    val spark = SparkSession.builder()
      .master(s"local[$cores]")
      .appName(s"perfbench-$workload")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.shuffle.partitions", cores)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.local.dir", new File(out, "spark-local").getPath)
      .config("spark.sql.warehouse.dir", new File(out, "warehouse").getPath)
      .config("spark.sql.streaming.numRecentProgressUpdates", "10000")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    graft.functions.SqlFunctions.register(spark)

    val ctx = new Ctx(spark, opts("seed").toLong, opts("seconds").toDouble,
      opts("trace") == "1", new File(out, "data"))
    val res = workload match {
      case "tokens_global"  => Workloads.tokensGlobal(ctx)
      case "stream_sliding" => StreamSliding.run(ctx)
      case other            => throw new IllegalArgumentException(s"unknown workload $other")
    }
    spark.stop()
    Files.writeString(Paths.get(out.getPath, "spans.jsonl"),
      ctx.tracer.all.map(Json.span).mkString("", "\n", "\n"))
    Files.writeString(Paths.get(out.getPath, "result.json"), Json.result(res))
  }

  def secs(startNs: Long): Double = (System.nanoTime() - startNs) / 1e9

  def median(xs: Seq[Double]): Double = {
    val s = xs.sorted
    if (s.size % 2 == 1) s(s.size / 2) else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
  }

  /** One closed-loop job: `build` + collect, then `check`, which returns a
    * failure message for a wrong result. Returns the job's seconds.
    */
  def job(ctx: Ctx, res: Result, tracing: Option[JobTracing], n: Int)(
      build: () => DataFrame)(check: Array[Row] => Option[String]): Double = {
    val sc    = ctx.spark.sparkContext
    val group = s"${res.workload}-$n"
    sc.setJobGroup(group, group)
    val s   = System.nanoTime()
    val run = Try(build().collect())
    val e   = System.nanoTime()
    sc.clearJobGroup()
    res.attempted += 1
    run match {
      case Failure(ex) => res.fail(s"job $n threw $ex")
      case Success(rows) =>
        Try(check(rows)) match {
          case Success(Some(msg)) => res.fail(s"job $n: $msg")
          case Failure(ex)        => res.fail(s"job $n check threw $ex")
          case _                  =>
        }
        tracing.foreach(_.job(group, s"job.${res.workload}", "operators", s, e))
    }
    (e - s) / 1e9
  }

  /** A workload's set-up: `prepare(rep)` builds what the measured jobs
    * read. Repetition 0 runs untimed and repetitions 1..3 are timed; then
    * `warmJobs` untimed `warm` jobs run on repetition 0's output, so
    * class loading, JIT compilation and the set-ups' after-effects stay
    * out of the job times. The measured jobs read repetition 0's output.
    */
  def setUp(ctx: Ctx, res: Result, warmJobs: Int)(prepare: Int => Unit)(warm: () => Unit): Unit = {
    ctx.tracer.time(0, "warmup", "sources")(prepare(0))
    (1 to 3).foreach { r =>
      val s = System.nanoTime()
      ctx.tracer.time(0, "setup", "sources")(prepare(r))
      res.sample("setup_s", secs(s))
    }
    ctx.tracer.time(0, "warmup", "sources")((1 to warmJobs).foreach(_ => warm()))
  }

  /** Tie-aware recall@k: an answered item is a hit when its exact count is
    * at least the exact k-th count; the denominator is min(k, distinct).
    */
  def recallAtK(answered: Seq[String], exact: collection.Map[String, Long], k: Int): Double = {
    val denom = math.min(k, exact.size)
    if (denom == 0) return 1.0
    val kth  = exact.values.toArray.sorted.apply(exact.size - denom)
    val hits = answered.distinct.count(i => exact.getOrElse(i, 0L) >= kth)
    math.min(hits, denom).toDouble / denom
  }

  /** Rows must come in (count desc, item asc) order with distinct items. */
  def orderError(items: Seq[String], counts: Seq[Long]): Option[String] = {
    if (items.distinct.size != items.size) return Some("duplicate items")
    items.indices.drop(1).collectFirst {
      case i if counts(i) > counts(i - 1) ||
          (counts(i) == counts(i - 1) && items(i) < items(i - 1)) =>
        s"rows ${i - 1},$i out of (count desc, item asc) order"
    }
  }

  def deleteTree(f: File): Unit = {
    if (f.isDirectory) Option(f.listFiles).foreach(_.foreach(deleteTree))
    f.delete()
  }
}

/** Minimal JSON output for the result and span files. */
object Json {
  private def str(s: String): String =
    "\"" + s.flatMap {
      case '"'          => "\\\""
      case '\\'         => "\\\\"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c            => c.toString
    } + "\""

  private def num(d: Double): String =
    if (d.isNaN || d.isInfinite) "null" else d.toString

  private def value(v: Any): String = v match {
    case d: Double                     => num(d)
    case l: Long                       => l.toString
    case i: Int                        => i.toString
    case s: String                     => str(s)
    case xs: collection.Iterable[_]    => xs.map(value).mkString("[", ",", "]")
    case other                         => str(other.toString)
  }

  def result(r: Result): String =
    Seq(s""""workload":${str(r.workload)}""", s""""attempted":${r.attempted}""",
      s""""failed":${r.failed}""", s""""failures":${value(r.failures)}""",
      r.values.map { case (k, v) => s"${str(k)}:${value(v)}" }.mkString(""""values":{""", ",", "}"))
      .mkString("{", ",", "}\n")

  def span(s: Span): String =
    s"""{"id":${s.id},"parent":${s.parent},"name":${str(s.name)},"layer":${str(s.layer)},""" +
      s""""start_ns":${s.startNs},"end_ns":${s.endNs},"attrs":""" +
      s.attrs.map { case (k, v) => s"${str(k)}:${num(v)}" }.mkString("{", ",", "}}")
}
