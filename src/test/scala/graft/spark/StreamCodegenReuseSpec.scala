package graft.spark

import java.sql.Timestamp

import graft.core.{SketchConfig, SlidingConfig}
import graft.streaming.{StreamJoins, TopKStreams}
import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger
import org.apache.spark.sql.types._
import org.scalatest.funsuite.AnyFunSuite

/** A restart, a drain or a new query is a fresh streaming query. Once one
  * graft query has run, a fresh query of the same shape finds every
  * generated class in `CodeGenerator`'s cache: graft's streaming builders
  * turn Spark's artifact isolation off, so the query's tasks keep the
  * executor's default classloader, which the cache is keyed by.
  */
class StreamCodegenReuseSpec extends AnyFunSuite {
  import StreamCodegenReuseSpec._

  private val sketch = SketchConfig.withDefaults(k = 2, width = 256, depth = 3)

  private val builders: Seq[(String, () => DataFrame)] = Seq(
    "TopKStreams.sliding"  -> sliding,
    "TopKStreams.tumbling" -> (() => TopKStreams.tumbling(source(), "2 seconds", "0 seconds", sketch)),
    "TopKStreams.session"  -> (() => TopKStreams.session(source(), "2 seconds", "0 seconds", sketch)),
    "StreamJoins.followsWithin" -> { () =>
      def side = source().select(col("key"), col("ts"), col("item").as("payload"))
      StreamJoins.followsWithin(side, side, withinSeconds = 2L, watermarkDelay = "0 seconds")
    })

  for ((name, build) <- builders)
    test(s"a second fresh $name query compiles no class and emits the same rows") {
      val (_, first)         = freshRun(build)
      val (compiled, second) = freshRun(build)
      assert(first.nonEmpty)
      assert(compiled == 0, s"the second query compiled $compiled classes")
      assert(second == first)
    }
}

object StreamCodegenReuseSpec {
  private lazy val spark = SparkTestSession.spark

  private val schema = StructType(Seq(
    StructField("key", StringType), StructField("ts", TimestampType),
    StructField("item", StringType), StructField("weight", LongType)))

  /** Four parquet files of two 1 s ticks each, 2 s apart, for two keys:
    * enough to close windows, sessions and ticks before the input ends.
    */
  private lazy val input: String = {
    import spark.implicits._
    val dir = graft.TempDirs("graft_codegen_reuse_in").resolve("in").toString
    for (file <- 0 until 4) {
      val rows = for {
        t   <- Seq(4 * file, 4 * file + 1)
        key <- Seq("k0", "k1")
        j   <- 0 until 3
      } yield (key, new Timestamp(t * 1000L + 1 + j), s"i${(t + j) % 5}", j + 1L)
      rows.toDF("key", "ts", "item", "weight").coalesce(1).write.mode("append").parquet(dir)
    }
    dir
  }

  def source(): DataFrame =
    spark.readStream.schema(schema).option("maxFilesPerTrigger", 1).parquet(input)

  val sliding: () => DataFrame = () =>
    TopKStreams.sliding(source(), 1000L, "0 seconds",
      SlidingConfig.withDefaults(2, 2, width = 256, depth = 3), emitK = 2).toDF()

  /** Builds and runs one fresh `AvailableNow` query into a memory sink.
    * Returns the classes `CodeGenerator` compiled meanwhile (its compile-time
    * histogram counts one per compiled class) and the sink's rows, sorted.
    */
  def freshRun(build: () => DataFrame): (Long, Seq[String]) = {
    val name   = s"codegen_reuse_${System.nanoTime()}"
    val ckpt   = graft.TempDirs("graft_codegen_reuse_ckpt").toString
    val before = CodegenMetrics.METRIC_COMPILATION_TIME.getCount
    build().writeStream.format("memory").queryName(name).outputMode("append")
      .option("checkpointLocation", ckpt).trigger(Trigger.AvailableNow()).start()
      .awaitTermination()
    val compiled = CodegenMetrics.METRIC_COMPILATION_TIME.getCount - before
    (compiled, spark.table(name).collect().map(_.toString).toSeq.sorted)
  }
}
