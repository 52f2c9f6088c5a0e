package graft.operators

import graft.core.SketchConfig
import graft.plans.{GlobalTopKStrategy, ItemsTopKAgg, TokensTopKAgg, TopKAggregates, TopKRows}
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.catalyst.expressions.aggregate.TypedImperativeAggregate
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graftbridge.Bridge

/** High-level top-K operators over DataFrames.
  *
  * The plan shape is deliberate for 100 TB scale: the HeavyKeeper aggregator
  * runs on every input partition (map-side, no row leaves the executor),
  * and only one bounded buffer per (group × partition) moves on: a
  * fixed-size sketch, or the exact counts of a group with few distinct
  * items. The global top-K folds those buffers on the driver (merge tasks
  * first past 64 partitions); the per-group ones shuffle them to a merge.
  * Token/item skew therefore cannot skew the reduction — its payload is
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

  /** Shared global-top-K plan: Spark's ungrouped aggregate of `agg`, its
    * array inlined into (item, count, fingerprint) rows in (count desc,
    * item asc) order — one logical plan for batch and stream. On a batch
    * input [[graft.plans.GlobalTopKStrategy]] plans it as one map stage
    * that builds `agg`'s buffer per input partition and a driver fold of
    * the serialized buffers, past 64 partitions merge tasks of 64 first (see
    * [[graft.plans.GlobalTopKExec]]): no stage barrier, no shuffle and no
    * sort for up to 64 partitions, and the fold is bounded by 64, not by the
    * partition count, which is read at run time. A streaming input runs
    * Catalyst's aggregate, whose partial→final handoff ships the same buffer.
    */
  private[graft] def globalTopK(df: DataFrame, agg: TypedImperativeAggregate[_] with TopKRows): DataFrame = {
    GlobalTopKStrategy.register(df.sparkSession)
    df.agg(Bridge.column(agg.toAggregateExpression()).as("topk")).select(inline(col("topk")))
  }

  /** Global top-K of `item` by total `weight`.
    * Output: (item string, count long, fingerprint long), ordered by
    * (count desc, item asc) — the reference's SortedSlice order
    * (reference: sketch.go:189-209). One map stage and a driver-side fold
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
    * per-partition sketch -> fold of the serialized sketches, on the driver
    * for up to 64 partitions and in merge tasks of 64 past that, see
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
