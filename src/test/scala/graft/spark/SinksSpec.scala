package graft.spark

import graft.streaming.Sinks
import org.scalatest.funsuite.AnyFunSuite

/** The idempotent foreachBatch sink must convert batch REPLAYS (same
  * batchId re-delivered after a failure between sink write and commit) into
  * overwrites, not duplicate appends — the exactly-once output contract.
  */
class SinksSpec extends AnyFunSuite {
  private lazy val spark = SparkTestSession.spark
  import spark.implicits._

  test("batch replay overwrites its own partition; other batches untouched") {
    val dir    = graft.TempDirs("graft_sink").toString
    val writer = Sinks.idempotentParquet(dir)

    writer(Seq(("a", 1L), ("b", 2L)).toDF("item", "count"), 0L)
    writer(Seq(("c", 3L)).toDF("item", "count"), 1L)
    // replay of batch 1 (post-failure re-delivery — same rows but a
    // DIFFERENT partition layout, as checkpoint recovery may produce) must
    // leave exactly one copy: overwrite, not skip-if-exists
    writer(Seq(("c", 3L)).toDF("item", "count").repartition(4), 1L)

    val rows = spark.read.parquet(dir)
      // partition-dir values are type-inferred on read (int here): cast back
      .selectExpr("item", "count", "cast(batch_id as long) batch_id")
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2))).sorted
    assert(rows.toSeq == Seq(("a", 1L, 0L), ("b", 2L, 0L), ("c", 3L, 1L)))
  }

  test("end-to-end: streaming query through foreachBatch lands exactly-once rows") {
    implicit val sqlCtx = spark.sqlContext
    val input = org.apache.spark.sql.execution.streaming.runtime.MemoryStream[(String, Long)]
    val dir   = graft.TempDirs("graft_sink_e2e").toString
    val ckpt  = graft.TempDirs("graft_sink_ckpt").toString
    val q = input.toDF.toDF("item", "weight")
      .writeStream
      .foreachBatch(Sinks.idempotentParquet(dir))
      .option("checkpointLocation", ckpt)
      .start()
    try {
      input.addData(("x", 1L), ("y", 2L))
      q.processAllAvailable()
      input.addData(("z", 3L))
      q.processAllAvailable()
      val rows = spark.read.parquet(dir).select("item").as[String].collect().sorted
      assert(rows.toSeq == Seq("x", "y", "z"))
    } finally q.stop()
  }
}
