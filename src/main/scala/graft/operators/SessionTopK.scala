package graft.operators

import graft.core.SketchConfig
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Batch session-window top-K: one top-K buffer per (key, activity
  * session), sessions defined by an inactivity gap. The streaming session
  * path (and the one that runs Spark's `session_window`, over batch or
  * stream) is `graft.streaming.TopKStreams.session`; both return the same
  * sessions and rows.
  *
  * Scale shape: one shuffle on the session key; partial buffers per
  * (key, session) never shuffle on the item.
  */
object SessionTopK {

  /** Batch-optimized session top-K via gap detection over a per-key
    * event-time sort: `lag` marks session breaks (gap strictly greater than
    * `gapSeconds`), a running sum numbers the sessions, and ONE hash
    * aggregation on (key, session) builds the per-session sketches.
    *
    * Why this exists alongside `TopKStreams.session`: Spark's batch
    * `session_window` runs the sort-heavy UpdatingSessions/MergingSessions
    * machinery, which costs several seconds even on 100k rows. This path is
    * two exchanges total — shuffle on key for the window sort, then the
    * (key, session) aggregation reuses that partitioning
    * (HashPartitioning(key) satisfies the ClusteredDistribution(key,
    * session)), so the sketch aggregation adds NO extra shuffle. At 100 TB
    * the per-key sort is the standard sessionization plan; skewed keys split
    * via the salted variant upstream.
    *
    * Boundary convention matches SQL sessionization (and the driver oracle):
    * an event exactly `gapSeconds` after its predecessor CONTINUES the
    * session (break only when `ts > prev + gap`); `session_end = last_ts +
    * gap`. `TopKStreams.session`'s `session_window` does the same.
    *
    * Recommended session conf: raise
    * `spark.sql.objectHashAggregate.sortBased.fallbackThreshold` (default
    * 128) well above the expected sessions-per-task, or the aggregate falls
    * back to sort-based execution and serializes a buffer per group through
    * the sort. Verify/Bench set 131072.
    */
  def aggregateGap(df: DataFrame, key: Column, ts: Column, gapSeconds: Long,
                   item: Column, weight: Column, cfg: SketchConfig,
                   oversample: Int = 4): DataFrame = {
    // a non-positive gap silently yields degenerate sessions (one row each,
    // session_end < session_start) — refuse, as SlidingTopK.perTick does
    // for windowTicks < 1
    require(gapSeconds >= 1, s"gapSeconds must be >= 1, got $gapSeconds")
    val byKey = Window.partitionBy(col("key")).orderBy(col("ts"))
    val base = df.select(key.as("key"), ts.as("ts"),
      item.cast("string").as("item"), weight.cast("long").as("weight"))
    // Pin the key exchange's partition count: the stage it feeds — per-key
    // sort, two window passes, and the per-session aggregate — is
    // compute-dense per byte, and AQE's byte-based coalescing bundles the
    // slim event rows into a single task at small shuffle sizes (measured:
    // 441 ms single-task at sf0.1, the query's largest stage). The
    // repartition REPLACES the window's own exchange (HashPartitioning
    // (key, n) satisfies its required distribution), so the one-exchange
    // plan shape is unchanged at any scale.
    val keyParts = df.sparkSession.sessionState.conf.numShufflePartitions
    val sessions = base
      .repartition(keyParts, col("key"))
      .withColumn("prev_ts", lag(col("ts"), 1).over(byKey))
      .withColumn("brk",
        when(col("prev_ts").isNull ||
          col("ts") > col("prev_ts") + expr(s"INTERVAL $gapSeconds SECOND"), 1L)
          .otherwise(0L))
      .withColumn("sess", sum(col("brk")).over(
        byKey.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
    // sessions typically hold a handful of distinct items, so the item
    // aggregate's exact-map phase (graft.plans.AdaptiveTopK) avoids
    // allocating + serializing a full sketch per tiny group (the dominant
    // cost in the many-small-groups regime)
    val perSession = sessions
      .groupBy(col("key"), col("sess"))
      .agg(
        min(col("ts")).as("session_start"),
        (max(col("ts")) + expr(s"INTERVAL $gapSeconds SECOND")).as("session_end"),
        TopK.topkColumn(col("item"), col("weight"), cfg, oversample).as("topk"))
    TopK.ranked(perSession, Seq(col("key"), col("session_start"), col("session_end")),
      col("topk"))
  }
}
