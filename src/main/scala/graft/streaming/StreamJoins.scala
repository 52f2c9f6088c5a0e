package graft.streaming

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Watermarked stream-stream STATEFUL joins (the north rule's stateful-join
  * surface).
  *
  * `followsWithin` is the canonical event-sequence pattern: emit (A, B) when
  * B arrives on the same key strictly after A but within `withinSeconds`.
  * Both sides carry watermarks and the join condition bounds the two event
  * times against each other in BOTH directions (`ts_b > ts_a` and
  * `ts_b <= ts_a + within`), which is exactly what Spark's symmetric-hash
  * stream-stream join needs to expire state: a left row is dropped once the
  * watermark passes `ts_a + within` (it can no longer match), a right row
  * once the watermark passes `ts_b`. State is therefore bounded by
  * (input rate × within), independent of stream length — the 100 TB shape.
  *
  * Inner joins emit each matched pair as soon as both sides have arrived
  * (append mode; no watermark withhold for inner joins), exactly once per
  * pair under checkpointed replay.
  */
object StreamJoins {

  /** @param left   streaming DataFrame — the "A" side
    * @param right  streaming DataFrame — the "B" side (may read the same
    *               source for a self-join)
    * @param withinSeconds max allowed ts_b - ts_a (strictly positive lag)
    * @param watermarkDelay lateness bound for both sides
    * Both inputs must expose columns named `key`, `ts` (timestamp) and
    * `payload` — select/rename upstream to fit. Output: key, ts_a,
    * payload_a, ts_b, payload_b.
    */
  def followsWithin(
      left: DataFrame,
      right: DataFrame,
      withinSeconds: Long,
      watermarkDelay: String
  ): DataFrame = {
    // with <= 0 the predicate (ts_b > ts_a AND ts_b <= ts_a + within) is
    // unsatisfiable: the query would run healthy-looking and emit nothing
    // forever — refuse, as TopKStreams.sliding does for its numeric params
    require(withinSeconds > 0, s"withinSeconds must be positive, got $withinSeconds")
    LocalCheckpointFileManager.install(left.sparkSession)
    val l = left.select(col("key"), col("ts").as("ts_a"), col("payload").as("payload_a"))
      .withWatermark("ts_a", watermarkDelay)
    val r = right.select(col("key").as("key_b"), col("ts").as("ts_b"),
        col("payload").as("payload_b"))
      .withWatermark("ts_b", watermarkDelay)
    l.join(r,
        expr(s"key = key_b AND ts_b > ts_a AND ts_b <= ts_a + interval $withinSeconds seconds"))
      .select(col("key"), col("ts_a"), col("payload_a"), col("ts_b"), col("payload_b"))
  }
}
