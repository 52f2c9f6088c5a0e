package graft

import java.nio.file.{Files, Paths}

import graft.core.{SketchConfig, SlidingConfig}
import graft.plans.TopKAggregates
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger

/** Streaming-tier throughput: drive the tumbling and sliding engines from a
  * file-stream source over the deterministic bench table and measure
  * end-to-end rates (source -> stateful op -> exactly-once parquet sink).
  * Appends results to BENCH.md.
  */
object StreamBench {

  def main(args: Array[String]): Unit = {
    // the artifacts below are machine-parsed (JSON line / regexed tables):
    // pin the locale so f"..%.3f" can never emit comma decimals
    java.util.Locale.setDefault(java.util.Locale.ROOT)
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.files.maxPartitionBytes", "2m")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    import spark.implicits._

    val (dir, nTokens) = Bench.ensureBenchTable(spark)
    val schema = spark.read.parquet(dir).schema
    val nDocs  = spark.read.parquet(dir).count()
    val base   = Files.createTempDirectory("graft_streambench").toString

    // ---- tumbling: windowed TokensTopKAgg straight over the doc stream ----
    // (array-native aggregate inside a streaming window aggregation; fully
    // partition-parallel with map-side partials in the state store)
    def runTumbling(rep: Int): Double = {
      val t0 = System.nanoTime()
      val tumbling = spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 16).parquet(dir)
        .withWatermark("ts", "0 seconds")
        .groupBy(window(col("ts"), "1 hour"))
        .agg(TopKAggregates.tokensTopK(col("tokens"),
          SketchConfig.withDefaults(40, width = 1024, depth = 3), 10).as("topk"))
      val q1 = tumbling.writeStream.format("parquet")
        .option("path", s"$base/tumb_out_$rep")
        .option("checkpointLocation", s"$base/tumb_ckpt_$rep")
        .outputMode("append").trigger(Trigger.AvailableNow()).start()
      q1.awaitTermination()
      (System.nanoTime() - t0) / 1e9
    }

    // ---- sliding: flatMapGroupsWithState state machines, 1..N keys ----
    // nKeys=1 is the per-key sequential floor (one state machine); the
    // multi-key runs measure the scale-out claim directly — independent keys
    // (key = doc bucket) parallelize across cores exactly as they would
    // across executors, and per-key state stays bounded (ring + pending).
    // vocabPerKey > 0 gives each key its OWN item space of that size (the
    // multi-tenant production shape: tenants don't share one vocabulary),
    // vs 0 = all keys draw from the shared 50k power-law token space.
    final case class SlideRun(sec: Double, tps: Long, outRows: Long,
                              stateRows: Long, stateBytes: Long, reduceFactor: Double)
    def runSliding(nKeys: Int, vocabPerKey: Int, rep: Int): SlideRun = {
      val keyCol =
        if (nKeys <= 1) lit("global")
        else pmod(xxhash64(col("doc_id")), lit(nKeys)).cast("string")
      val itemCol =
        if (vocabPerKey <= 0) col("tok").cast("string")
        else concat(col("key"), lit("_"), pmod(col("tok"), lit(vocabPerKey)).cast("string"))
      val updates = spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 16).parquet(dir)
        .select(keyCol.as("key"), col("ts"), explode(col("tokens")).as("tok"))
        .select(col("key"), col("ts"), itemCol.as("item"), lit(1L).as("weight"))
      val accIn  = spark.sparkContext.longAccumulator
      val accOut = spark.sparkContext.longAccumulator
      val tag = s"${nKeys}_${vocabPerKey}_$rep"
      val t1 = System.nanoTime()
      val q = graft.streaming.TopKStreams.sliding(updates, tickMillis = 3600000L,
          watermarkDelay = "0 seconds",
          cfg = SlidingConfig.withDefaults(20, 6, width = 1024, depth = 3), emitK = 10,
          reduceMetrics = Some((accIn, accOut)))
        .writeStream.format("parquet")
        .option("path", s"$base/slide_out_$tag")
        .option("checkpointLocation", s"$base/slide_ckpt_$tag")
        .outputMode("append").trigger(Trigger.AvailableNow()).start()
      q.awaitTermination()
      val sec = (System.nanoTime() - t1) / 1e9
      // peak state-store footprint across batches (keys drain at end-of-input,
      // so the LAST progress understates steady-state)
      val stateRows = q.recentProgress.flatMap(_.stateOperators.map(_.numRowsTotal))
        .foldLeft(0L)(math.max)
      val stateBytes = q.recentProgress.flatMap(_.stateOperators.map(_.memoryUsedBytes))
        .foldLeft(0L)(math.max)
      val outRows = spark.read.parquet(s"$base/slide_out_$tag").count()
      val rf = if (accOut.value > 0) accIn.value.toDouble / accOut.value else 1.0
      SlideRun(sec, (nTokens / sec).toLong, outRows, stateRows, stateBytes, rf)
    }

    // min-of-2 with INTERLEAVED reps (a contended window hits one full pass,
    // not one config — see BENCH.md "host variance"); rep 1 doubles as warmup
    val slideConfigs = Seq((1, 0), (32, 0), (256, 0), (256, 2048), (256, 256))
    val passes = (1 to 2).map { rep =>
      (runTumbling(rep), slideConfigs.map { case (k, v) => runSliding(k, v, rep) })
    }
    val tumbSec = passes.map(_._1).min
    val tumbTps = (nTokens / tumbSec).toLong
    val slideRuns = slideConfigs.zipWithIndex.map { case (cfg, i) =>
      cfg -> passes.map(_._2(i)).minBy(_.sec)
    }

    val outRows1 = spark.read.parquet(s"$base/tumb_out_1").count()

    // NOTE: generated AFTER stripMargin (the row strings start with the
    // table pipe, which stripMargin would eat)
    val slideRows = slideRuns.map { case ((k, v), r) =>
      val label = if (v <= 0) f"$k%d key(s), shared vocab"
                  else f"$k%d key(s), per-key vocab $v%d"
      f"| sliding 6x1h ticks, $label | ${r.sec}%.1f | ${r.tps}%d | ${r.outRows}%d | ${r.stateRows}%d | ${r.stateBytes / 1024}%d KB | ${r.reduceFactor}%.1fx |"
    }.mkString("\n")
    val md =
      f"""
         |## Streaming throughput (file-stream source -> exactly-once parquet sink)
         |
         |Input: the same $nTokens%d-token table ($nDocs%d docs, ts = 1 doc/s),
         |Trigger.AvailableNow, maxFilesPerTrigger=16 (multi-batch),
         |local[$cpus%s]. Sliding key = hash bucket of doc_id (independent
         |per-key state machines); "reduce" = map-side partial-reduce
         |compaction, raw token rows per shuffled (key, tick, item) row.
         |
         || engine | wall sec | tokens/s | output rows | peak state rows | peak state mem | reduce |
         ||---|---|---|---|---|---|---|
         || tumbling 1h windows (array-native agg in streaming state) | $tumbSec%.1f | $tumbTps%d | $outRows1%d | - | - | - |
         |""".stripMargin + slideRows +
      f"""
        |
        |Multi-key sliding reading (min-of-2, reps interleaved across
        |configs): 1 -> 32 keys speeds up ${slideRuns.head._2.sec / slideRuns(1)._2.sec}%.2fx,
        |1 -> 256 keys ${slideRuns.head._2.sec / slideRuns(2)._2.sec}%.2fx. The per-key state
        |machines parallelize (more keys = more concurrent state tasks), but
        |the shared row pipeline (explode -> tuple encoding -> groupByKey
        |shuffle) bounds the gain on one box — that stage is partition-
        |parallel and scales with cores/executors independent of key count.
        |Peak state grows linearly with keys (bounded ring + pending buffer
        |per key, as designed). The per-key ring compute itself thread-scales
        |at 0.93 (8->16, pure-JVM thread probe; see the BENCH.md footprint
        |ladder). The 256-key SHARED-vocab row is the adversarial shape
        |(every key sees the full 50k item space, so per-group counts
        |collapse); the per-key-vocab row is the
        |multi-tenant production shape — the reduce column shows the
        |compaction the map-side partial reduce recovers there.
        |""".stripMargin
    println(md) // print FIRST: the measurements must survive a write failure
    val bench = Paths.get("BENCH.md")
    val prior = if (Files.exists(bench)) Files.readString(bench) else ""
    Files.writeString(bench, prior + md)
    spark.stop()
  }
}
