package graft.spark

import graft.core.{SketchConfig, SlidingConfig}
import graft.operators.{SessionTopK, SlidingTopK}
import graft.streaming.TopKStreams
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Every window entry point refuses its degenerate arguments up front,
  * instead of planning a query that returns no rows or wrong windows.
  */
class WindowArgsSpec extends AnyFunSuite {
  private lazy val spark = SparkTestSession.spark
  import spark.implicits._

  test("window entry points reject degenerate arguments with IllegalArgumentException") {
    val rows = Seq(("u", new java.sql.Timestamp(0L), 0L, "a", 1L))
      .toDF("key", "ts", "tick", "item", "weight")
    val cfg     = SketchConfig.withDefaults(2, width = 256, depth = 3)
    val sliding = SlidingConfig.withDefaults(k = 2, width = 256, depth = 3, windowSize = 2)
    def perTick(windowTicks: Int, k: Int) =
      SlidingTopK.perTick(rows, col("tick"), col("item"), col("weight"), windowTicks, cfg, k)
    def streamSliding(tickMillis: Long, emitK: Int) =
      TopKStreams.sliding(rows, tickMillis, "0 seconds", sliding, emitK)
    val cases = Seq[(String, () => Any)](
      "perTick windowTicks = 0"     -> (() => perTick(windowTicks = 0, k = 2)),
      "perTick k = 0"               -> (() => perTick(windowTicks = 2, k = 0)),
      "aggregateGap gapSeconds = 0" -> (() => SessionTopK.aggregateGap(rows, col("key"),
        col("ts"), 0L, col("item"), col("weight"), cfg)),
      "sliding tickMillis = 0"      -> (() => streamSliding(tickMillis = 0L, emitK = 2)),
      "sliding emitK = 0"           -> (() => streamSliding(tickMillis = 1000L, emitK = 0)))
    cases.foreach { case (name, call) =>
      withClue(name) { assertThrows[IllegalArgumentException](call()) }
    }
  }
}
