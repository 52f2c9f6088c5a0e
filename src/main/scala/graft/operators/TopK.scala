package graft.operators

import graft.core.SketchConfig
import graft.plans.{ItemsTopKAgg, TokensTopKAgg, TopKAggregates}
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.catalyst.expressions.aggregate.TypedImperativeAggregate
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graftbridge.Bridge

/** High-level top-K operators over DataFrames.
  *
  * The plan shape is deliberate for 100 TB scale: the HeavyKeeper aggregator
  * runs as a partial aggregate on every input partition (map-side, no row
  * leaves the executor), then ships one bounded buffer per (group ×
  * partition) through the shuffle and merges: a fixed-size sketch, or the
  * exact counts of a group with few distinct items. Token/item skew
  * therefore cannot skew the shuffle — the reduction payload is
  * O(partitions · d · w), independent of row counts.
  */
object TopK {

  /** The aggregation Column on the native (InternalRow-level) expression:
    * partials track k×oversample candidates, emitK = cfg.k rows come out
    * (the oversample rule: [[graft.plans.TopKAggregates.candidates]]).
    * Counts are exact for a group of at most
    * [[graft.plans.AdaptiveTopK.cutoff]] distinct items.
    */
  def topkColumn(item: Column, weight: Column, cfg: SketchConfig, oversample: Int): Column =
    Bridge.column(itemsAgg(item, weight, cfg, oversample).toAggregateExpression())

  /** The row aggregate of [[topkColumn]] and [[aggregate]]. */
  private[graft] def itemsAgg(item: Column, weight: Column, cfg: SketchConfig, oversample: Int) =
    ItemsTopKAgg(Bridge.expression(item), Bridge.expression(weight),
      TopKAggregates.candidates(cfg, oversample), cfg.k)

  /** The row aggregate of [[tokensArray]]. */
  private[graft] def tokensAgg(tokens: Column, cfg: SketchConfig, oversample: Int) =
    TokensTopKAgg(Bridge.expression(tokens), TopKAggregates.candidates(cfg, oversample), cfg.k)

  /** The one ranked-rows projection: `keys`, then one row per element of
    * the `array<struct item,count,fingerprint>` column `topk` with its
    * 1-based `rank` (long), `item`, `count` and `fingerprint`.
    */
  def ranked(df: DataFrame, keys: Seq[Column], topk: Column): DataFrame = {
    val exploded = df.select((keys :+ posexplode(topk).as(Seq("rank0", "e"))): _*)
    val keyCols  = exploded.columns.dropRight(2).map(col)
    exploded.select((keyCols :+ (col("rank0") + 1).cast("long").as("rank") :+ col("e.item")
      :+ col("e.count") :+ col("e.fingerprint")): _*)
  }

  /** Shared global-top-K plan with the two-level TREE merge and its cutover.
    *
    * The merge is two-level: scan tasks emit one partial buffer each
    * (map-side combine), the buffers hash to 64 intermediate merge tasks,
    * and the final task merges only 64. A single-level merge makes the
    * final task O(#partitions) serial decode+merge work — ~2-4 ms per
    * wide-geometry sketch, an Amdahl tail at local[32] with ~850 splits and
    * fatal at 100 TB (10⁵-10⁶ splits would funnel hundreds of GB of sketches
    * through one task). The tree itself pays one extra stage barrier
    * (~0.1 s), so for small inputs — or streaming plans — the flat
    * single-union plan is selected instead. The size signal is the
    * optimizer's PLANNING-TIME statistics (file-source bytes / upstream
    * estimates) against the session's split size — deliberately NOT
    * `df.rdd.getNumPartitions`, which under AQE materializes (executes!)
    * every upstream shuffle stage just to ask. A coarse estimate is fine:
    * the cutover is a latency heuristic, both plans merge the same buffer
    * (`agg`'s own, via [[graft.plans.BufferBytesAgg]]). Specs and plan dumps
    * pin `fanIn`: `Some(1)` is the flat plan, `Some(n)` an n-way tree.
    */
  private[graft] def globalTopK(df: DataFrame, agg: TypedImperativeAggregate[_],
                                fanIn: Option[Int] = None): DataFrame = {
    // streaming plans reject multi-aggregation (groupBy agg -> agg), so the
    // flat single-union plan is the only legal shape there
    val effFanIn =
      if (df.isStreaming) 1
      else fanIn.getOrElse {
        val treeFanIn = 64
        val stats     = df.queryExecution.optimizedPlan.stats
        val estBytes  = stats.sizeInBytes
        val splitSize = BigInt(df.sparkSession.sessionState.conf.filesMaxPartitionBytes)
        // non-file plans (LogicalRDD, createDataFrame) report the unknown
        // sentinel for sizeInBytes, which would always read "huge": prefer
        // a real rowCount there (tiny inputs take the flat plan, as the
        // scaladoc promises); truly unknown stays tree — the scale-safe
        // default, at worst two extra small shuffles on a small input
        if (graft.operators.Similarity.statsKnown(estBytes))
          if (estBytes > splitSize * treeFanIn * 2) treeFanIn else 1
        else stats.rowCount match {
          case Some(n) if n < BigInt(treeFanIn) * 65536 => 1
          case _                                        => treeFanIn
        }
      }
    val topk =
      if (effFanIn <= 1) df.agg(Bridge.column(agg.toAggregateExpression()).as("topk"))
      else df.groupBy(pmod(spark_partition_id(), lit(effFanIn)).as("_g"))
        .agg(TopKAggregates.bufferBytes(agg).as("buf"))
        .agg(TopKAggregates.mergeBuffers(col("buf"), agg).as("topk"))
    topk.select(explode(col("topk")).as("e"))
      .select(col("e.item"), col("e.count"), col("e.fingerprint"))
      .orderBy(col("count").desc, col("item").asc)
  }

  /** Global top-K of `item` by total `weight`.
    * Output: (item string, count long, fingerprint long), ordered by
    * (count desc, item asc) — the reference's SortedSlice order
    * (reference: sketch.go:189-209). Tree-merged past the partition cutover
    * (see [[globalTopK]]).
    */
  def aggregate(df: DataFrame, item: Column, weight: Column, cfg: SketchConfig,
                oversample: Int = 4): DataFrame =
    globalTopK(df.select(item.cast("string").as("item"), weight.cast("long").as("weight")),
      itemsAgg(col("item"), col("weight"), cfg, oversample))

  /** Token top-K straight off the `array<int>` column — no explode stage;
    * the aggregate counts each partition's tokens exactly and feeds its
    * sketch one weighted add per distinct token, heaviest first
    * ([[graft.plans.TokensTopKAgg]]); the 100 TB-shape plan: scan ->
    * per-partition sketch -> TREE merge past the partition cutover, see
    * [[globalTopK]].
    */
  def tokensArray(df: DataFrame, tokens: Column, cfg: SketchConfig,
                  oversample: Int = 4): DataFrame =
    globalTopK(df, tokensAgg(tokens, cfg, oversample))

  /** Per-group top-K: one top-K list per value of `groupCols` (e.g. a
    * tumbling `window($"ts", ...)` column, a `source` dimension, or both).
    */
  def aggregateBy(df: DataFrame, groupCols: Seq[Column], item: Column, weight: Column,
                  cfg: SketchConfig, oversample: Int = 4): DataFrame = {
    val keyed = df.select((groupCols :+ item.cast("string").as("item")
      :+ weight.cast("long").as("weight")): _*)
    val groupNames = keyed.columns.dropRight(2).map(col)
    ranked(keyed.groupBy(groupNames: _*)
      .agg(topkColumn(col("item"), col("weight"), cfg, oversample).as("topk")),
      groupNames, col("topk"))
  }

  /** Per-group top-K with EXPLICIT skew handling: two-level salted
    * aggregation. Level 1 shuffles on (group, salt) — a hot group's updates
    * spread over `saltFanout` reducers, each building a partial buffer over
    * a disjoint item subset (salt = hash(item), so the level-2 merge adds
    * counts only for identical items — no cross-item fingerprint conflicts).
    * Level 2 shuffles `saltFanout` serialized buffers per group and merges
    * them with the aggregate's own merge, so the rows equal
    * [[aggregateBy]]'s wherever both count exactly. Use when group
    * cardinality is low relative to data volume (the regime where plain
    * aggregateBy's map-side combine is not enough).
    */
  def aggregateBySalted(df: DataFrame, groupCols: Seq[Column], item: Column, weight: Column,
                        cfg: SketchConfig, saltFanout: Int = 16, oversample: Int = 4): DataFrame = {
    // pmod by 0 fails mid-job under ANSI, and silently runs unsalted without it
    require(saltFanout >= 1, s"saltFanout must be >= 1, got $saltFanout")
    val agg = itemsAgg(col("item"), col("weight"), cfg, oversample)
    val keyed = df.select((groupCols :+ item.cast("string").as("item")
      :+ weight.cast("long").as("weight")): _*)
    val groupNames = keyed.columns.dropRight(2).map(col)
    val salted = keyed.withColumn("_salt", pmod(xxhash64(col("item")), lit(saltFanout)))
    val level1 = salted
      .groupBy((groupNames :+ col("_salt")): _*)
      .agg(TopKAggregates.bufferBytes(agg).as("buf"))
    ranked(level1.groupBy(groupNames: _*).agg(TopKAggregates.mergeBuffers(col("buf"), agg).as("topk")),
      groupNames, col("topk"))
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
