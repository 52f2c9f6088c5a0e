package graft.operators

import graft.core.SketchConfig
import graft.plans.{ItemsTopKAgg, TopKAggregates}
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graftbridge.Bridge

/** Distributed batch sliding-window top-K: the per-tick ring realization of
  * the reference's sliding semantics (sliding/sketch.go) — semantically the
  * tick-ring with bucketHistoryLength = windowSize, where each tick's counts
  * live in their own item-aggregate buffer ([[graft.plans.AdaptiveTopK]],
  * exact up to its cutoff) and window ageing is the buffer dropping out of
  * the merge range.
  *
  * Plan shape (all distributed, no driver loop):
  *   1. partial-aggregate one buffer per tick (map-side combine per
  *      partition, shuffle = #ticks × buffer size, independent of row count);
  *   2. explode each tick's contribution range [t, t+N-1] (linear N-fold
  *      duplication of bounded buffers — an equality groupBy, NOT a range
  *      join) — #ticks × N tiny rows;
  *   3. merge the window's buffers per t (the aggregate's own merge), emit rows.
  *
  * At 100 TB the expensive step is (1), which is a single scan with map-side
  * reduction; (2)+(3) operate on #ticks rows of bounded buffers. The
  * event-time streaming equivalent (state-store ring, watermark-driven
  * expiry) is `graft.streaming.TopKStreams.sliding`.
  */
object SlidingTopK {

  /** @param df         input rows
    * @param tick       integer/date column defining the tick (event-time unit)
    * @param item       item column (cast to string)
    * @param weight     per-row weight
    * @param windowTicks window size N in ticks
    * @param cfg        sketch geometry; cfg.k is the candidate-tracking
    *                   capacity per tick buffer (oversample upstream of this)
    * @param k          emitted rows per tick
    * Output: (tick, rank, item, count) for every tick present in the input,
    * where count sums the item's weight over ticks [t-N+1, t].
    */
  /** @param knownTicks when the output tick set is known a priori (ticks are
    *                    time-derived, so at scale it always is), pass it here
    *                    — the present-tick semi-join side then comes from a
    *                    literal table instead of a second (column-pruned)
    *                    scan of the input.
    */
  def perTick(
      df: DataFrame,
      tick: Column,
      item: Column,
      weight: Column,
      windowTicks: Int,
      cfg: SketchConfig,
      k: Int,
      knownTicks: Option[Seq[Long]] = None
  ): DataFrame = {
    // windowTicks = 0 would make sequence(tick, tick - 1) below, which Spark
    // evaluates with implicit step -1 — silently attributing each tick's
    // data to the PREVIOUS window instead of erroring
    require(windowTicks >= 1, s"windowTicks must be >= 1, got $windowTicks")
    // k = 0 would emit no rows at all (the row decode clamps at 0), where
    // the same-semantics topk_sliding rejects it
    require(k >= 1, s"k must be >= 1, got $k")
    val updates = df.select(
      tick.cast("long").as("tick"),
      item.cast("string").as("item"),
      weight.cast("long").as("weight")
    )
    val agg        = ItemsTopKAgg(Bridge.expression(col("item")), Bridge.expression(col("weight")), cfg, k)
    val perTickBuf = updates
      .groupBy(col("tick"))
      .agg(TopKAggregates.bufferBytes(agg).as("buf"))

    // Each source tick s contributes to output ticks [s, s+N-1]: explode the
    // contribution range (N-fold duplication of bounded buffers, LINEAR in
    // #ticks) and equality-group on out_tick — no range join. A left-semi
    // join against the broadcast tick list keeps only output ticks that are
    // present in the input (range-join parity; also drops the trailing
    // [max_tick+1, max_tick+N-1] phantom windows).
    val spark = df.sparkSession
    import spark.implicits._
    val tickList = knownTicks
      .map(_.toDF("out_tick"))
      .getOrElse(perTickBuf.select(col("tick").as("out_tick")))
    val window = perTickBuf
      .select(explode(sequence(col("tick"), col("tick") + (windowTicks - 1)))
        .as("out_tick"), col("buf"))
      .join(broadcast(tickList), Seq("out_tick"), "left_semi")
    // Pin the merge exchange's width: the merge stage decodes and merges N
    // buffers per tick — compute-dense per byte (a few MB of sketches once
    // ticks pass the cutoff), which AQE's byte-based coalescing otherwise
    // bundles into one task (same pattern as the grid kernel / verify
    // spreads). The repartition REPLACES the groupBy's own exchange
    // (HashPartitioning(out_tick, n) satisfies its distribution), so the
    // shuffle count is unchanged at any scale.
    val mergeParts = spark.sessionState.conf.numShufflePartitions
    val merged = window
      .repartition(mergeParts, col("out_tick"))
      .groupBy(col("out_tick"))
      .agg(TopKAggregates.mergeBuffers(col("buf"), agg).as("topk"))
    TopK.ranked(merged, Seq(col("out_tick").as("tick")), col("topk"))
  }
}
