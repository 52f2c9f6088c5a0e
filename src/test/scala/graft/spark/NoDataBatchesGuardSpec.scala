package graft.spark

import java.sql.Timestamp

import graft.SparkEntry.withNoDataBatchesOff
import graft.core.{SketchConfig, SlidingConfig}
import graft.streaming.{StreamJoins, TopKStreams}
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.scalatest.funsuite.AnyFunSuite

/** Skipping no-data micro-batches is legal only for plans whose no-data
  * batch emits nothing; the helper checks the plan instead of trusting its
  * caller. The queries are analyzed, never started.
  */
class NoDataBatchesGuardSpec extends AnyFunSuite {
  private lazy val spark = SparkTestSession.spark
  import spark.implicits._
  private implicit lazy val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext

  private val key = "spark.sql.streaming.noDataMicroBatches.enabled"

  private def rejects(query: org.apache.spark.sql.DataFrame, operator: String): Unit = {
    var ran = false
    val e = intercept[IllegalArgumentException](withNoDataBatchesOff(query) { ran = true })
    assert(e.getMessage.contains(operator), e.getMessage)
    assert(!ran, "body ran for a refused plan")
  }

  test("TopKStreams.tumbling output is refused: its Aggregate emits on the watermark") {
    val df = MemoryStream[(Timestamp, String, Long)].toDF.toDF("ts", "item", "weight")
    rejects(TopKStreams.tumbling(df, "10 seconds", "0 seconds",
      SketchConfig.withDefaults(3, width = 256, depth = 3)), "Aggregate")
  }

  test("TopKStreams.sliding output is refused: its FlatMapGroupsWithState emits on the watermark") {
    val df = MemoryStream[(String, Timestamp, String, Long)].toDF.toDF("key", "ts", "item", "weight")
    rejects(TopKStreams.sliding(df, 1000L, "0 seconds",
      SlidingConfig.withDefaults(2, 2, width = 10, depth = 2), emitK = 2).toDF(),
      "FlatMapGroupsWithState")
  }

  test("StreamJoins.followsWithin output is accepted, with no-data batches off only inside") {
    def src() = MemoryStream[(Long, Timestamp, String)].toDF.toDF("key", "ts", "payload")
    val out    = StreamJoins.followsWithin(src(), src(), withinSeconds = 600L, watermarkDelay = "0 seconds")
    val before = spark.conf.get(key)
    assert(withNoDataBatchesOff(out)(spark.conf.get(key)) == "false")
    assert(spark.conf.get(key) == before)
  }
}
