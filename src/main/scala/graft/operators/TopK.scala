package graft.operators

import graft.core.SketchConfig
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graftbridge.Bridge

/** High-level top-K operators over DataFrames.
  *
  * The plan shape is deliberate for 100 TB scale: the HeavyKeeper aggregator
  * runs as a partial aggregate on every input partition (map-side, no row
  * leaves the executor), then ships one fixed-size sketch per (group ×
  * partition) through the shuffle and merges. Token/item skew therefore
  * cannot skew the shuffle — the reduction payload is O(partitions · d · w),
  * independent of row counts.
  */
object TopK {

  /** The aggregation Column on the native (InternalRow-level) expression:
    * partials track k×oversample candidates, emitK = cfg.k rows come out.
    *
    * `oversample`: bucket counters are completely unaffected by heap
    * capacity (the heap only selects what gets *reported*, reference:
    * sketch.go:169), but a partition-local top-k heap can drop items that
    * are top-k only globally; oversampling the candidate set in the partials
    * recovers them. oversample = 1 reproduces the reference's exact
    * single-writer candidate retention.
    */
  def topkColumn(item: Column, weight: Column, cfg: SketchConfig, oversample: Int): Column =
    graft.plans.TopKAggregates.itemsTopK(
      item, weight, cfg.copy(k = cfg.k * math.max(1, oversample)), cfg.k)

  /** Shared global-top-K plan with the two-level TREE merge and its cutover.
    *
    * The union is two-level: scan tasks emit one partial blob each (map-side
    * combine), the blobs hash to `fanIn` intermediate union tasks, and the
    * final task unions only `fanIn` blobs. A single-level merge makes the
    * final task O(#partitions) serial decode+union work — ~2-4 ms per
    * wide-geometry blob, an Amdahl tail at local[32] with ~850 splits and
    * fatal at 100 TB (10⁵-10⁶ splits would funnel hundreds of GB of blobs
    * through one task). The tree itself pays one extra stage barrier
    * (~0.1 s), so for small inputs — or streaming plans — the flat
    * single-union plan is selected instead. The size signal is the
    * optimizer's PLANNING-TIME statistics (file-source bytes / upstream
    * estimates) against the session's split size — deliberately NOT
    * `df.rdd.getNumPartitions`, which under AQE materializes (executes!)
    * every upstream shuffle stage just to ask. A coarse estimate is fine:
    * the cutover is a latency heuristic, both plans are correct.
    * `mergeFanIn < 0` FORCES the tree with fan-in |mergeFanIn| (tests,
    * plan dumps, or callers that know better).
    *
    * @param flatAgg  aggregate emitting array<struct item,count,fingerprint>
    *                 (the flat plan's single aggregation)
    * @param blobAgg  aggregate emitting the serialized sketch blob
    *                 (the tree's level-1 partial)
    */
  private def globalTopK(df: DataFrame, k: Int, mergeFanIn: Int,
                         flatAgg: Column, blobAgg: Column): DataFrame = {
    import graft.plans.TopKAggregates
    // streaming plans reject multi-aggregation (groupBy agg -> agg), so the
    // flat single-union plan is the only legal shape there — even when the
    // caller forces the tree with a negative fan-in
    val effFanIn =
      if (df.isStreaming) 1
      else if (mergeFanIn < 0) -mergeFanIn
      else if (mergeFanIn <= 1) 1
      else {
        val stats     = df.queryExecution.optimizedPlan.stats
        val estBytes  = stats.sizeInBytes
        val splitSize = BigInt(df.sparkSession.sessionState.conf.filesMaxPartitionBytes)
        // non-file plans (LogicalRDD, createDataFrame) report the unknown
        // sentinel for sizeInBytes, which would always read "huge": prefer
        // a real rowCount there (tiny inputs take the flat plan, as the
        // scaladoc promises); truly unknown stays tree — the scale-safe
        // default, at worst two extra small shuffles on a small input
        if (graft.operators.Similarity.statsKnown(estBytes))
          if (estBytes > splitSize * mergeFanIn * 2) mergeFanIn else 1
        else stats.rowCount match {
          case Some(n) if n < BigInt(mergeFanIn) * 65536 => 1
          case _                                         => mergeFanIn
        }
      }
    val emitted =
      if (effFanIn <= 1) {
        df.agg(flatAgg.as("topk"))
          .select(explode(col("topk")).as("e"))
      } else {
        df.groupBy(pmod(spark_partition_id(), lit(effFanIn)).as("_g"))
          .agg(blobAgg.as("blob"))
          .agg(TopKAggregates.mergeBlobs(col("blob")).as("m"))
          .select(explode(TopKAggregates.sketchRows(col("m"), lit(k))).as("e"))
      }
    emitted
      .select(col("e.item"), col("e.count"), col("e.fingerprint"))
      .orderBy(col("count").desc, col("item").asc)
  }

  /** Global top-K of `item` by total `weight`.
    * Output: (item string, count long, fingerprint long), ordered by
    * (count desc, item asc) — the reference's SortedSlice order
    * (reference: sketch.go:189-209). Tree-merged past the partition cutover
    * (see [[globalTopK]]); `mergeFanIn <= 1` forces the flat plan.
    */
  def aggregate(df: DataFrame, item: Column, weight: Column, cfg: SketchConfig,
                oversample: Int = 4, mergeFanIn: Int = 64): DataFrame = {
    import graft.plans.TopKAggregates
    val bufCfg  = cfg.copy(k = cfg.k * math.max(1, oversample))
    val updates = df.select(item.cast("string").as("item"), weight.cast("long").as("weight"))
    globalTopK(updates, cfg.k, mergeFanIn,
      flatAgg = topkColumn(col("item"), col("weight"), cfg, oversample),
      blobAgg = TopKAggregates.sketchBytes(col("item"), col("weight"), bufCfg))
  }

  /** Token top-K straight off the `array<int>` column — no explode stage;
    * the HK loop runs inside the aggregate over each sequence row (the
    * 100 TB-shape plan: scan -> per-partition sketch -> TREE merge past the
    * partition cutover, see [[globalTopK]]).
    */
  def tokensArray(df: DataFrame, tokens: Column, cfg: SketchConfig,
                  oversample: Int = 4, mergeFanIn: Int = 64): DataFrame = {
    import graft.plans.TopKAggregates
    val bufCfg = cfg.copy(k = cfg.k * math.max(1, oversample))
    globalTopK(df, cfg.k, mergeFanIn,
      flatAgg = TopKAggregates.tokensTopK(tokens, bufCfg, cfg.k),
      blobAgg = TopKAggregates.tokensSketchBytes(tokens, bufCfg))
  }

  /** Per-group top-K: one top-K list per value of `groupCols` (e.g. a
    * tumbling `window($"ts", ...)` column, a `source` dimension, or both).
    */
  def aggregateBy(df: DataFrame, groupCols: Seq[Column], item: Column, weight: Column,
                  cfg: SketchConfig, oversample: Int = 4): DataFrame = {
    val keyed = df.select((groupCols :+ item.cast("string").as("item")
      :+ weight.cast("long").as("weight")): _*)
    val groupNames = keyed.columns.dropRight(2).map(col)
    keyed
      .groupBy(groupNames: _*)
      .agg(topkColumn(col("item"), col("weight"), cfg, oversample).as("topk"))
      .select((groupNames :+ posexplode(col("topk")).as(Seq("rank0", "e"))): _*)
      .select((groupNames :+ (col("rank0") + 1).cast("long").as("rank") :+ col("e.item")
        :+ col("e.count") :+ col("e.fingerprint")): _*)
  }

  /** Per-group top-K with EXPLICIT skew handling: two-level salted
    * aggregation. Level 1 shuffles on (group, salt) — a hot group's updates
    * spread over `saltFanout` reducers, each building a partial sketch over a
    * disjoint item subset (salt = hash(item), so the level-2 union adds
    * counts only for identical items — no cross-item fingerprint conflicts).
    * Level 2 shuffles `saltFanout` fixed-size blobs per group and unions
    * them. Use when group cardinality is low relative to data volume (the
    * regime where plain aggregateBy's map-side combine is not enough).
    */
  def aggregateBySalted(df: DataFrame, groupCols: Seq[Column], item: Column, weight: Column,
                        cfg: SketchConfig, saltFanout: Int = 16, oversample: Int = 4): DataFrame = {
    import graft.plans.TopKAggregates
    val bufCfg = cfg.copy(k = cfg.k * math.max(1, oversample))
    val keyed = df.select((groupCols :+ item.cast("string").as("item")
      :+ weight.cast("long").as("weight")): _*)
    val groupNames = keyed.columns.dropRight(2).map(col)
    val salted = keyed.withColumn("_salt", pmod(xxhash64(col("item")), lit(saltFanout)))
    val level1 = salted
      .groupBy((groupNames :+ col("_salt")): _*)
      .agg(TopKAggregates.sketchBytes(col("item"), col("weight"), bufCfg).as("blob"))
    level1
      .groupBy(groupNames: _*)
      .agg(TopKAggregates.mergeBlobs(col("blob")).as("merged"))
      .select((groupNames :+ posexplode(TopKAggregates.sketchRows(col("merged"), lit(cfg.k)))
        .as(Seq("rank0", "e"))): _*)
      .select((groupNames :+ (col("rank0") + 1).cast("long").as("rank") :+ col("e.item")
        :+ col("e.count") :+ col("e.fingerprint")): _*)
  }

  /** `Count(item)` over a serialized sketch blob (reference: sketch.go:90-111). */
  def countColumn(blob: Column, item: Column): Column =
    Bridge.column(graft.plans.SketchCountExpr(Bridge.expression(blob), Bridge.expression(item)))

  /** `Query(item)` membership over a serialized sketch blob
    * (reference: sketch.go:172-175).
    */
  def queryColumn(blob: Column, item: Column): Column =
    Bridge.column(graft.plans.SketchQueryExpr(Bridge.expression(blob), Bridge.expression(item)))

  /** Exact top-K oracle with the same output shape and ordering — the
    * differential-testing baseline (SURVEY.md §5.3). Spark picks
    * hash-aggregate + TakeOrderedAndProject here; at scale this is the
    * expensive exact plan the sketch replaces.
    *
    * Integral item columns aggregate on the RAW value and cast to string
    * only after the group-by: int→string is injective, so the groups (and
    * the final (count desc, item-string asc) order) are identical, while
    * the per-row cast — one UTF8String allocation per input row, and
    * string hashing through the whole partial aggregate — collapses to one
    * cast per distinct item. Measured on the 20M-token bench table: the
    * map-side aggregate stage was the job's entire cost.
    */
  def exact(df: DataFrame, item: Column, weight: Column, k: Int): DataFrame = {
    import org.apache.spark.sql.types.{ByteType, IntegerType, LongType, ShortType}
    val projected = df.select(item.as("_i"), weight.cast("long").as("weight"))
    val integral = projected.schema.head.dataType match {
      case ByteType | ShortType | IntegerType | LongType => true
      case _                                             => false
    }
    val grouped =
      if (integral)
        projected.groupBy(col("_i"))
          .agg(sum(col("weight")).as("count"))
          .select(col("_i").cast("string").as("item"), col("count"))
      else
        projected.select(col("_i").cast("string").as("item"), col("weight"))
          .groupBy(col("item"))
          .agg(sum(col("weight")).as("count"))
    grouped
      .orderBy(col("count").desc, col("item").asc)
      .limit(k)
  }
}
