package graft.spark

import java.sql.Timestamp

import graft.streaming.StreamJoins
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger
import org.apache.spark.sql.types._
import org.scalatest.funsuite.AnyFunSuite

/** Stateful stream-stream interval join: the A-side must be HELD IN STATE
  * across micro-batches until its match window closes — the pair's two rows
  * arrive in different batches (maxFilesPerTrigger=1).
  */
class StreamJoinsSpec extends AnyFunSuite {
  private lazy val spark = SparkTestSession.spark
  import spark.implicits._

  private val schema = StructType(Seq(
    StructField("key", LongType), StructField("ts", TimestampType),
    StructField("payload", StringType)))

  test("interval join pairs rows across micro-batches; out-of-window rows don't pair") {
    val base = graft.TempDirs("graft_sjoin").toString
    val in = s"$base/in"; val ckpt = s"$base/ckpt"
    def write(rows: Seq[(Long, Long, String)]): Unit =
      rows.map { case (k, sec, p) => (k, new Timestamp(sec * 1000L), p) }
        .toDF("key", "ts", "payload").coalesce(1).write.mode("append").parquet(in)

    write(Seq((1L, 10L, "a")))                      // batch 1: A side only
    write(Seq((1L, 200L, "b"), (2L, 9000L, "x")))   // batch 2: B arrives (within 600s)
    write(Seq((1L, 10000L, "c")))                   // batch 3: far outside every window

    def src() = spark.readStream.schema(schema).option("maxFilesPerTrigger", 1).parquet(in)
    val name = s"sjoin_${System.nanoTime()}"
    val q = StreamJoins.followsWithin(src(), src(), withinSeconds = 600L,
        watermarkDelay = "0 seconds")
      .writeStream.format("memory").queryName(name)
      .outputMode("append").option("checkpointLocation", ckpt)
      .trigger(Trigger.AvailableNow()).start()
    q.awaitTermination()

    val got = spark.table(name)
      .select(col("key"), col("ts_a").cast("long"), col("payload_a"),
        col("ts_b").cast("long"), col("payload_b"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getString(2),
        r.getLong(3), r.getString(4))).toSet
    // only (a -> b): a and b arrived in DIFFERENT batches (state carry-over);
    // c is 9800s after b (outside 600s), x is a different key
    assert(got == Set((1L, 10L, "a", 200L, "b")), s"got=$got")
  }
}
