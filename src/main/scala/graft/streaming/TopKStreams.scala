package graft.streaming

import java.nio.ByteBuffer
import java.nio.charset.StandardCharsets.UTF_8

import graft.core.{Rng, SketchCodec, SketchConfig, SlidingConfig, SlidingSketch}
import graft.operators.TopK
import org.apache.spark.sql.{DataFrame, Dataset}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}

/** One emitted sliding-window result row: top-`rank` item of `key`'s window
  * as of the end of `tick`.
  */
final case class TickTopK(key: String, tick: Long, rank: Int, item: String,
                          count: Long, fingerprint: Long)

/** Streaming top-K engines.
  *
  * Tumbling: plain watermarked window aggregation — each window is its own
  * sketch group, the use-then-discard pattern of the reference's `Reset`
  * (reference: sketch.go:211-215). Fully partition-parallel: partial sketches
  * per executor merge through the streaming aggregation's state store.
  *
  * Sliding: the reference's tick ring (reference: sliding/sketch.go:106-129)
  * as a `flatMapGroupsWithState` operator. Event-time ticks; the watermark
  * drives `Ticks(n)` exactly like the reference's caller does manually
  * (reference: sliding/sketch_test.go:376-388). Emission is EXACTLY-ONCE per
  * (key, tick): a tick's top-K is emitted only once the watermark proves the
  * tick complete; later-arriving rows for emitted ticks are already excluded
  * by the upstream watermark. Updates ahead of the watermark are buffered in
  * the state value, so replays from checkpoint reproduce identical rows.
  */
object TopKStreams {

  /** Tumbling-window streaming top-K.
    * @param updates streaming DataFrame with (ts timestamp, item string, weight long)
    * Output (append mode, finalized on watermark): window, rank, item, count, fingerprint.
    */
  def tumbling(
      updates: DataFrame,
      windowDuration: String,
      watermarkDelay: String,
      cfg: SketchConfig,
      oversample: Int = 4
  ): DataFrame = {
    LocalCheckpointFileManager.install(updates.sparkSession)
    updates
      .withWatermark("ts", watermarkDelay)
      .groupBy(window(col("ts"), windowDuration))
      .agg(TopK.topkColumn(col("item"), col("weight"), cfg, oversample).as("topk"))
      .select(col("window"), posexplode(col("topk")).as(Seq("rank0", "e")))
      .select(col("window"), (col("rank0") + 1).cast("long").as("rank"),
        col("e.item"), col("e.count"), col("e.fingerprint"))
  }

  /** Session-window streaming top-K (beyond-reference, completes the window
    * triad): one top-K buffer per (key, activity session), sessions merge in
    * the streaming aggregation's state store as events arrive, and a
    * session's top-K emits exactly once — when the watermark passes
    * `session_end` (gap after the last event).
    *
    * Uses the ADAPTIVE buffer (exact map below cutoff, sketch above), the
    * same choice as the batch sessionization path: sessions are the
    * many-tiny-groups regime, and a full d×w sketch blob per session would
    * put O(sessions × sketch bytes) through the state store each batch
    * (measured: ~9 KB/session × 90k live sessions ≈ 800 MB of state churn,
    * ~24 s at sf0.1 — the adaptive map blobs are a few dozen bytes).
    *
    * @param updates streaming DataFrame with (key, ts timestamp, item string,
    *                weight long)
    * @param gap     inactivity gap, e.g. "1 hour"
    */
  def session(
      updates: DataFrame,
      gap: String,
      watermarkDelay: String,
      cfg: SketchConfig,
      oversample: Int = 4
  ): DataFrame = {
    LocalCheckpointFileManager.install(updates.sparkSession)
    val bufCfg = cfg.copy(k = cfg.k * math.max(1, oversample))
    val cutoff = math.max(64, bufCfg.k * 4)
    updates
      .withWatermark("ts", watermarkDelay)
      .groupBy(col("key"), session_window(col("ts"), gap))
      .agg(graft.plans.AdaptiveTopKAgg.adaptive(
        col("item"), col("weight"), bufCfg, cfg.k, cutoff).as("topk"))
      .select(col("key"), col("session_window.start").as("session_start"),
        col("session_window.end").as("session_end"),
        posexplode(col("topk")).as(Seq("rank0", "e")))
      .select(col("key"), col("session_start"), col("session_end"),
        (col("rank0") + 1).cast("long").as("rank"),
        col("e.item"), col("e.count"), col("e.fingerprint"))
  }

  /** Sliding-window streaming top-K over event-time ticks.
    *
    * @param updates streaming DataFrame with (key string, ts timestamp,
    *                item string, weight long); `key` partitions independent
    *                sliding sketches (use a constant for one global window)
    * @param tickMillis   tick duration; tick(row) = floor(ts / tickMillis)
    * @param watermarkDelay lateness bound; also defines tick completeness
    * @param cfg     sliding geometry; cfg.windowSize is the window in ticks
    * @param emitK   rows emitted per completed tick
    * @param reduceMetrics optional (rowsIn, rowsOut) accumulators for the
    *                map-side partial reduce — the production dial for "is
    *                the reduce compacting on this stream's key/item shape"
    *                (counts added once per flushed reduce-map chunk — at
    *                least once per partition per batch, more when the
    *                bounded map overflows its cap; zero overhead when
    *                None). Accumulator caveat: updates from a
    *                TRANSFORMATION are at-least-once — task retries and
    *                speculative duplicates inflate both counters. The
    *                in/out RATIO stays representative (both sides inflate
    *                together); don't read the absolute counts as exact
    *                row counts on a flaky cluster.
    */
  def sliding(
      updates: DataFrame,
      tickMillis: Long,
      watermarkDelay: String,
      cfg: SlidingConfig,
      emitK: Int,
      reduceMetrics: Option[(org.apache.spark.util.LongAccumulator,
        org.apache.spark.util.LongAccumulator)] = None
  ): Dataset[TickTopK] = {
    require(tickMillis > 0, s"tickMillis must be positive, got $tickMillis" +
      " (zero divides by zero in the tick ordinal; negative inverts tick" +
      " ordering and stalls tick completion forever)")
    require(emitK > 0, s"emitK must be positive, got $emitK")
    val spark = updates.sparkSession
    LocalCheckpointFileManager.install(spark)
    import spark.implicits._

    // Null rows are dropped AFTER the casts — a cast can itself produce null
    // (decimal overflow, non-numeric strings), and such a row must degrade
    // to a drop, not kill the query in the non-nullable tuple encoder.
    // Dropped rows do not advance event time — that's the documented
    // semantic. Non-positive weights stay (they must advance the watermark,
    // e.g. heartbeat rows) and become no-ops inside the state function.
    val typed = updates
      .select(
        col("key").cast("string").as("_1"),
        col("ts").as("_2"),
        col("item").cast("string").as("_3"),
        col("weight").cast("long").as("_4")
      )
      .where(col("_1").isNotNull && col("_2").isNotNull &&
        col("_3").isNotNull && col("_4").isNotNull)
      .as[(String, java.sql.Timestamp, String, Long)]

    // Map-side partial reduce WITHIN the micro-batch (stateless, so it is
    // legal upstream of the stateful operator): sum weights per
    // (key, tick, item) per partition before the groupByKey shuffle. The
    // state machine itself already sums pending updates per (tick, item), so
    // this only moves that reduction map-side — shuffle rows and per-batch
    // state-codec work drop from O(events) to O(distinct (key, tick, item))
    // per partition, the difference between shuffling every token and
    // shuffling a vocabulary. Semantics:
    //  - weight: only positive raw weights accumulate (the state function's
    //    per-row `weight > 0` no-op rule), but the group row is emitted even
    //    at weight 0 so heartbeat rows still advance the watermark;
    //  - ts: the group's max timestamp — per-batch event-time stats (and so
    //    the watermark) see the same maximum as the raw rows;
    //  - late-row admission: a row individually below the watermark is
    //    ADMITTED when an on-time row shares its (key, tick, item) group in
    //    the same batch+partition (the group row carries the max ts). This
    //    is strictly FEWER drops than row-wise filtering — results move
    //    toward the event-time-complete answer — and stays inside the
    //    nondeterminism watermark semantics already have (admission always
    //    depends on micro-batch boundaries); checkpointed replays are still
    //    exact, since the offset log pins batch contents.
    // The reduce map is BOUNDED: at `reduceCap` distinct groups it flushes
    // its contents downstream and starts fresh. High-cardinality item
    // streams (unique tokens/UUIDs) are exactly the regime where the reduce
    // does not compact — without the cap, a whole-backlog AvailableNow
    // micro-batch would materialize one map entry per distinct row on heap
    // per task (the pre-reduce shuffle path spilled instead). Duplicate
    // group rows across flushes stay correct: the state machine sums
    // pending updates per (tick, item), and each flush row carries its
    // groups' max ts, so per-batch event-time stats (and the watermark) see
    // the same maximum. ~100 B/entry => the default 262144 is ~25 MB/task.
    val reduceCap = spark.conf.getOption("spark.graft.stream.reduceMaxEntries")
      .map(_.toInt).getOrElse(262144)
    require(reduceCap > 0, s"spark.graft.stream.reduceMaxEntries must be positive, got $reduceCap")
    val reduced = typed.mapPartitions { rows =>
      import scala.jdk.CollectionConverters._
      new Iterator[Iterator[(String, java.sql.Timestamp, String, Long)]] {
        def hasNext: Boolean = rows.hasNext
        def next(): Iterator[(String, java.sql.Timestamp, String, Long)] = {
          val agg = new java.util.HashMap[(String, Long, String), Array[Long]]()
          var in  = 0L
          while (rows.hasNext && agg.size < reduceCap) {
            val (k, ts, item, w) = rows.next()
            val tsm  = ts.getTime
            val cell = agg.computeIfAbsent((k, Math.floorDiv(tsm, tickMillis), item),
              _ => Array(Long.MinValue, 0L))
            if (tsm > cell(0)) cell(0) = tsm
            if (w > 0) cell(1) += w
            in += 1
          }
          reduceMetrics.foreach { case (ai, ao) => ai.add(in); ao.add(agg.size.toLong) }
          agg.entrySet().iterator().asScala.map { e =>
            (e.getKey._1, new java.sql.Timestamp(e.getValue()(0)), e.getKey._3,
              e.getValue()(1))
          }
        }
      }.flatten
    }

    // the watermarked ts column must flow into the stateful operator itself
    // (Spark's event-time-timeout check requires it) — and the object
    // boundary of mapPartitions strips attribute metadata, so the watermark
    // is declared on the REDUCED rows (same per-batch max ts, see above)
    reduced
      .withWatermark("_2", watermarkDelay)
      .groupByKey(_._1)
      .flatMapGroupsWithState(OutputMode.Append, GroupStateTimeout.EventTimeTimeout)(
        processSlidingGroup(cfg, tickMillis, emitK))
  }

  /** Per-group sliding state machine. State layout (codec in SlidingStreamCodec):
    * sliding sketch + clock tick + pending updates beyond the watermark.
    *
    * Per-tick cadence matches the reference's caller protocol — adds for tick
    * t, read top-K, then Tick() (reference: sliding/sketch_test.go:176-296):
    * each completed tick emits its own top-K rows, exactly once. Long empty
    * gaps fast-forward through `ticks(n)` once the heap has drained (those
    * ticks would emit zero rows anyway).
    */
  private def processSlidingGroup(cfg: SlidingConfig, tickMillis: Long, emitK: Int)(
      key: String,
      rows: Iterator[(String, java.sql.Timestamp, String, Long)],
      state: GroupState[Array[Byte]]
  ): Iterator[TickTopK] = {
    val st = state.getOption.map(SlidingStreamCodec.decode)
      .getOrElse(SlidingStreamState.fresh(cfg, key))

    // Merge incoming updates into the pending buffer summed per (tick, item)
    // — the reference's canonical protocol (one Add(item, total) per tick,
    // sliding/sketch_test.go:176-296). Keeps the buffered state and its
    // per-batch re-encode O(distinct items x buffered ticks), not O(stream).
    // defensive re-check of the upstream row filter (null ts/item, w <= 0):
    // a bad row must degrade to a no-op, never NPE-kill the query or poison
    // the checkpointed state. Collected first so a heartbeat-only batch
    // (weight-0 watermark advancers — every trigger, for idle keys with a
    // large held-back pending set) skips the O(pending) rebuild entirely.
    val incoming = rows.collect {
      case (_, ts, item, weight) if ts != null && item != null && weight > 0 =>
        (Math.floorDiv(ts.getTime, tickMillis), item, weight)
    }.toArray
    if (incoming.nonEmpty) {
      val agg = new java.util.HashMap[(Long, String), java.lang.Long]()
      st.pending.foreach { case (t, i, w) => agg.merge((t, i), w, (a, b) => a + b) }
      incoming.foreach { case (t, item, weight) =>
        agg.merge((t, item), weight, (a, b) => a + b)
      }
      st.pending.clear()
      agg.forEach((k, v) => st.pending += ((k._1, k._2, v)))
    }

    // a tick t is complete iff watermark >= (t+1)*tickMillis
    val wmMillis = state.getCurrentWatermarkMs()
    val completeThrough =
      if (wmMillis <= 0) Long.MinValue else Math.floorDiv(wmMillis, tickMillis) - 1

    val out = Vector.newBuilder[TickTopK]
    if (completeThrough > Long.MinValue) {
      val (ready, hold) = st.pending.partition(_._1 <= completeThrough)
      st.pending.clear()
      st.pending ++= hold

      val byTick = ready.groupBy(_._1)
      if (st.clockTick == Long.MinValue && byTick.nonEmpty)
        st.clockTick = byTick.keys.min // clock starts at first-ever data tick

      if (st.clockTick != Long.MinValue) {
        val dataTicks = byTick.keys.toArray.sorted
        var di        = 0
        while (st.clockTick <= completeThrough) {
          val t = st.clockTick
          while (di < dataTicks.length && dataTicks(di) < t) di += 1
          val ups = byTick.get(t)
          if (ups.isEmpty && st.sketch.heap.size == 0) {
            // empty sketch + no data at t: jump to the next data tick (or out)
            val nextData =
              if (di < dataTicks.length) dataTicks(di) else completeThrough + 1
            val jump = math.min(nextData, completeThrough + 1) - t
            st.sketch.ticks(jump.min(Int.MaxValue).toInt)
            st.clockTick += jump
          } else {
            // adds for tick t in stable order (deterministic across replays)
            ups.foreach(_.sortBy(u => (u._2, u._3)).foreach(u => st.sketch.add(u._2, u._3)))
            st.sketch.sortedSlice.iterator.take(emitK).zipWithIndex.foreach { case (e, i) =>
              out += TickTopK(key, t, i + 1, e.item, e.count,
                e.fingerprint.toLong & 0xffffffffL)
            }
            st.sketch.tick()
            st.clockTick += 1
          }
        }
      }
    }

    if (st.pending.isEmpty && st.sketch.heap.size == 0 && !st.sketch.hasResidualMass) {
      // fully drained: drop the state (bounded state for idle keys; a later
      // arrival re-initializes the clock from its own tick). Heap-empty alone
      // is NOT drained: buckets can still hold in-window mass for items the
      // bounded heap never tracked — discarding it would deepen their
      // under-estimate beyond what the window semantics imply.
      state.remove()
    } else {
      state.update(SlidingStreamCodec.encode(st))
      // wake up when the watermark can complete the next interesting tick.
      // While the heap holds entries, that is the very next tick boundary
      // (clockTick + 1): drain ticks must emit tick-by-tick and must not
      // stall behind a buffered far-future row (pending ticks are always
      // >= the clock, so taking the pending minimum would defer every drain
      // tick until that row completes — or forever, if the watermark
      // plateaus first). With an empty heap nothing emits until new data,
      // so sleep until the earliest pending tick can complete (the bulk
      // ticks() jump ages any residual bucket mass in one shot then).
      // Must be > current watermark (Spark requirement).
      val nextInteresting =
        if (st.sketch.heap.size > 0 || st.pending.isEmpty) (st.clockTick + 1) * tickMillis
        else (st.pending.iterator.map(_._1).min + 1) * tickMillis
      // minus 1: tick completion counts EQUALITY (wm >= (t+1)*tick, above)
      // but Spark fires event-time timeouts strictly (timeout < wm) — at
      // nextInteresting exactly, a watermark that plateaus ON a tick
      // boundary (tick-aligned final event, 0s delay, AvailableNow) would
      // otherwise never fire the timeout and the final completed tick
      // would never emit. The wm+1 clamp (Spark rejects timeouts at/below
      // the current watermark) can't mask it: the drain loop above already
      // advanced clockTick past every tick completable at this watermark,
      // so nextInteresting - 1 >= wm + tickMillis - 1 >= wm + 1 whenever
      // tickMillis > 1.
      state.setTimeoutTimestamp(math.max(nextInteresting - 1, wmMillis + 1))
    }
    out.result().iterator
  }
}

/** Mutable per-group sliding stream state. */
final class SlidingStreamState(
    val sketch: SlidingSketch,
    var clockTick: Long, // tick currently accepting adds; MinValue = no data yet
    val pending: scala.collection.mutable.ArrayBuffer[(Long, String, Long)]
)

object SlidingStreamState {
  def fresh(cfg: SlidingConfig, key: String): SlidingStreamState =
    new SlidingStreamState(
      new SlidingSketch(cfg.copy(seed = Rng.deriveSeed(cfg.seed, key))),
      Long.MinValue,
      scala.collection.mutable.ArrayBuffer.empty
    )
}

/** Streaming state row: length-prefixed sliding sketch blob, clock tick,
  * then the pending (tick, item, weight) updates.
  */
object SlidingStreamCodec {
  def encode(st: SlidingStreamState): Array[Byte] = {
    val sk    = SketchCodec.encodeSliding(st.sketch)
    val items = st.pending.iterator.map(_._2.getBytes(UTF_8)).toArray
    val out   = ByteBuffer.allocate(4 + sk.length + 8 + 4 + items.iterator.map(20 + _.length).sum)
    SketchCodec.putBlock(out, sk)
    out.putLong(st.clockTick).putInt(items.length)
    st.pending.iterator.zip(items.iterator).foreach { case ((t, _, w), item) =>
      out.putLong(t)
      SketchCodec.putBlock(out, item) // shared length-prefixed UTF-8 framing
      out.putLong(w)
    }
    out.array()
  }

  def decode(bytes: Array[Byte]): SlidingStreamState = SketchCodec.decoding {
    val in        = ByteBuffer.wrap(bytes)
    val sketch    = SketchCodec.decodeSliding(SketchCodec.readBlock(in))
    val clockTick = in.getLong()
    val n         = in.getInt()
    // every entry is >= 20 bytes (tick 8 + item length 4 + weight 8): a
    // count the remaining payload cannot hold is corruption, not data
    require(n >= 0 && n.toLong * 20 <= in.remaining(),
      s"corrupt sliding state: $n pending updates with ${in.remaining()} bytes remaining")
    val pending = new scala.collection.mutable.ArrayBuffer[(Long, String, Long)](n)
    var i = 0
    while (i < n) {
      val t = in.getLong()
      pending += ((t, new String(SketchCodec.readBlock(in), UTF_8), in.getLong()))
      i += 1
    }
    new SlidingStreamState(sketch, clockTick, pending)
  }
}
