package graft.streaming

import org.apache.spark.sql.{Column, DataFrame, RelationalGroupedDataset, Row,
  SaveMode}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{DataStreamWriter, Trigger}

import graft.ops.Sketch
import graft.sinks.Sinks

/** Real-time dashboard core (SURVEY §2.10) — the reference's
  * `flink-statistics/.../action/ActionLogJobSecond.java` rebuilt on
  * Structured Streaming:
  *
  *  - T2 event-time windows + bounded-out-of-orderness watermark →
  *    `withWatermark` (identical semantics: watermark = max event time −
  *    delay, late rows dropped — which is also T4's 10-minute grace drop).
  *  - T3 multi-resolution windows (5min/15min/1h/1d, day aligned UTC+8):
  *    the 5-min aggregation is the only streaming state; each trigger
  *    merges its 5-min partials into the touched UTC+8 days of the fine
  *    store, and rolls every coarse window of those days up from that one
  *    merge in `foreachBatch` — exactly the reference's "coarse windows
  *    fed by merging fine ones" design (`ActionLogJob.java:260-329`) with
  *    the HBase store replaced by a keyed parquet metric store in two
  *    day-partitioned halves, `fine/` and `coarse/`.
  *  - T5 re-emission every trigger with overwrite-by-key → update output
  *    mode + idempotent upsert of the fine days, and a rewrite of the
  *    touched coarse days.
  *  - T12 state rehydration from HBase on restart → unnecessary: offsets +
  *    window state live in the checkpoint, and a batch that crashed in
  *    its flush replays into the same stores (the consistent snapshot plus
  *    idempotent sinks of Flink's state management); the fine merge in
  *    foreachBatch is the sink-level read-merge-write equivalent.
  *  - T13 streaming UV: two pipelines. [[run]] counts exact `collect_set`
  *    cardinality per 5-min window (not mergeable, so its coarse rows
  *    carry pv only); [[runSketch]] keeps an HLL sketch per window, which
  *    unions upward into coarse UV — the 100 TB path, mergeable across
  *    rollups, the property the reference got from HBase sets.
  */
object StreamingDashboard {

  /** Granularities of `ActionLogJobSecond.java:207-231`. */
  val Granularities: Seq[(String, Long)] = Seq(
    "5min" -> 5L * 60 * 1000, "15min" -> 15L * 60 * 1000,
    "1h" -> 3600L * 1000, "1d" -> 86400L * 1000)

  /** UTC+8 day-window offset (`ActionLogJobSecond.java:226`): day windows
    * start at UTC 16:00 = midnight UTC+8. */
  val DayOffsetMs: Long = 8L * 3600 * 1000

  /** Floor an epoch-ms column to the window of size `g` shifted by
    * `offset`, in pure long arithmetic: ms − pmod(ms+offset, g). No double
    * division anywhere (cast-of-double truncates toward zero rather than
    * flooring and loses exactness past 2^53 — e.g. a future µs unit), and
    * pmod's non-negative remainder keeps true floor semantics for
    * pre-epoch timestamps.
    */
  def floorWindow(ms: Column, g: Long, offset: Long): Column =
    ms - pmod(ms + lit(offset), lit(g))

  /** UTC+8 day-window start for an epoch-ms column — the metric store's
    * partition key. Every 5-min window falls in exactly one UTC+8 day, and
    * no coarse granularity straddles a UTC+8 day boundary (15min/1h windows
    * are aligned and the boundary is at UTC 16:00, an aligned instant), so
    * rollups are day-local and the store merge can swap single `day=`
    * directories.
    */
  def dayFloor(ms: Column): Column = floorWindow(ms, 86400000L, DayOffsetMs)

  /** T2: watermarked 5-minute windowed PV/UV per key, uv by exact
    * distinct-set counting. Output columns: key, window_start_ms, pv, uv.
    * NOTE: the exact uv is NOT mergeable — it is correct for the 5-min
    * windows only, and [[run]]'s coarse rollup deliberately carries pv
    * alone (distinct counts cannot be summed). Coarse UV comes from the
    * sketch pipeline ([[runSketch]]), whose HLL column unions upward
    * losslessly.
    */
  def fiveMinAgg(events: DataFrame, keyCol: String, tsCol: String,
                 userCol: String, lateness: String = "10 minutes")
  : DataFrame =
    // COUNT(DISTINCT) is unsupported on streams; the distinct set lives
    // in window state (the in-checkpoint analog of the reference's HBase
    // user-id sets, T13)
    events.withWatermark(tsCol, lateness)
      .groupBy(col(keyCol).as("key"), window(col(tsCol), "5 minutes").as("w"))
      .agg(count(lit(1)).as("pv"),
        size(collect_set(col(userCol))).cast("long").as("uv"))
      .select(col("key"), unix_millis(col("w.start")).as("window_start_ms"),
        col("pv"), col("uv"))

  /** Sketch-mode 5-min aggregation: PV + a mergeable HLL sketch of the
    * user set (DataSketches binary). This is the 100 TB answer to T13: the
    * reference keeps exact per-window user sets in HBase so coarse windows
    * can re-count; a sketch column merges upward through [[rollupSketch]]
    * without ever re-touching raw events, and the store stays narrow.
    */
  def fiveMinAggSketch(events: DataFrame, keyCol: String, tsCol: String,
                       userCol: String, lateness: String = "10 minutes")
  : DataFrame =
    events.withWatermark(tsCol, lateness)
      .groupBy(col(keyCol).as("key"), window(col(tsCol), "5 minutes").as("w"))
      .agg(count(lit(1)).as("pv"),
        hll_sketch_agg(col(userCol)).as("uv_sketch"))
      .select(col("key"), unix_millis(col("w.start")).as("window_start_ms"),
        col("pv"), col("uv_sketch"))

  /** The 5-min partials grouped by every coarse window they feed: each
    * partial is exploded ONCE into one row per granularity, carrying the
    * (granularity, window start) pair it floors into (1d aligned UTC+8, the
    * reference's exact flooring `(t+8h)/(g)*(g)−8h`), and a single
    * `groupBy` then aggregates all four granularities — one shuffle, not a
    * union of four aggregations.
    */
  private def byCoarseWindow(fiveMin: DataFrame): RelationalGroupedDataset = {
    val windows = Granularities.map { case (name, g) =>
      val offset = if (name == "1d") DayOffsetMs else 0L
      struct(lit(name).as("granularity"),
        floorWindow(col("window_start_ms"), g, offset).as("window_start_ms"))
    }
    fiveMin.withColumn("w", explode(array(windows: _*)))
      .groupBy(col("key"), col("w.granularity").as("granularity"),
        col("w.window_start_ms").as("window_start_ms"))
  }

  /** Coarse rollup with UV: sums PV and unions the HLL sketches, emitting
    * the estimated distinct-user count per coarse window — one aggregation
    * over the partials, like [[rollup]]. */
  def rollupSketch(fiveMin: DataFrame): DataFrame =
    byCoarseWindow(fiveMin).agg(sum("pv").as("pv"),
      hll_sketch_estimate(hll_union_agg(col("uv_sketch"))).as("uv"))

  /** Coarse-window rollup of stored 5-min partials: every 15min/1h/1d (and
    * the 5min identity) window the partials fall in, with summed PV, from
    * ONE aggregation over the partials. Pure batch transform — runs inside
    * foreachBatch over the touched days' merged partials, so a flush
    * costs O(touched days' partials).
    */
  def rollup(fiveMin: DataFrame): DataFrame =
    byCoarseWindow(fiveMin).agg(sum("pv").as("pv"))

  /** T1: processing-time tagging — Spark is event-time-first, so the
    * reference's `timeWindow` on processing time
    * (`flink-process/.../FlinkConsumerKafka.java:62`) maps to windowing on
    * an ingest timestamp stamped at read (documented delta: batch-planning
    * time, not per-record arrival time).
    */
  def withIngestTime(df: DataFrame, as: String = "ingest_ts"): DataFrame =
    df.withColumn(as, current_timestamp())

  /** Per-trigger incremental flush shared by [[run]] and [[runSketch]]:
    * (a) find the batch's touched UTC+8 days; (b) merge the batch's
    * changed 5-min partials into those days' stored fine partials
    * ([[Sinks.mergeDays]]) and persist that fine merge; (c) write it to
    * the fine tmp dir, and `roll` of it — EVERY coarse window of the
    * touched days, in one aggregation — to the coarse tmp dir; (d) only
    * then publish the fine days, then the coarse days
    * ([[Sinks.publishDays]]).
    *
    * This is the reference's flush-only-touched-windows trigger behavior
    * (`ActionLogJobSecond.java:358-378`) at day granularity: cost per
    * trigger is O(touched days' partials), not O(store history). The
    * coarse days are REPLACED, not merged: every coarse window of a UTC+8
    * day is a function of that day's fine partials alone (see
    * [[dayFloor]]), and the fine merge holds all of them, so the coarse
    * store is never read and the just-published fine store is never read
    * back. Every read happens before any swap, so a dropped cache block
    * recomputes against files still in place.
    *
    * Exactly-once by replay: a crash anywhere leaves the batch
    * uncommitted in the checkpoint, and its replay re-merges the same
    * partials — an idempotent upsert into a fine day it may already hold —
    * and rewrites both stores' touched days whole. A crash between the
    * two publishes (new fine days, old coarse days) converges the same
    * way; [[Sinks.publishDays]] repairs a half-done swap of either store,
    * and the tmp writes overwrite stale tmp dirs.
    */
  private def incrementalFlush(batch: DataFrame, storePath: String,
                               roll: DataFrame => DataFrame): Unit = {
    val spark = batch.sparkSession
    val (fineStore, coarseStore) = (s"$storePath/fine", s"$storePath/coarse")
    val fine = batch.withColumn("day", dayFloor(col("window_start_ms")))
      .persist()
    try {
      val days = Sinks.touchedDays(fine)
      if (days.isEmpty) return
      val merged = Sinks.mergeDays(spark, fineStore, fine,
        Seq("key", "window_start_ms"), days).persist()
      try {
        merged.write.mode(SaveMode.Overwrite).partitionBy("day")
          .parquet(s"${fineStore}__tmp")
        roll(merged.drop("day"))
          .withColumn("day", dayFloor(col("window_start_ms")))
          .write.mode(SaveMode.Overwrite).partitionBy("day")
          .parquet(s"${coarseStore}__tmp")
        Sinks.publishDays(spark, s"${fineStore}__tmp", fineStore, days)
        Sinks.publishDays(spark, s"${coarseStore}__tmp", coarseStore, days)
      } finally merged.unpersist()
    } finally fine.unpersist()
  }

  /** Sketch-mode pipeline: like [[run]] but the store carries mergeable HLL
    * sketches, so coarse UV comes from sketch unions (the 100 TB path). */
  def runSketch(events: DataFrame, storePath: String, checkpoint: String,
                keyCol: String = "key", tsCol: String = "ts",
                userCol: String = "user_id",
                trigger: Trigger = Trigger.ProcessingTime("5 minutes"))
  : DataStreamWriter[Row] =
    fiveMinAggSketch(events, keyCol, tsCol, userCol)
      .writeStream
      .outputMode("update")
      .option("checkpointLocation", checkpoint)
      .trigger(trigger)
      .foreachBatch { (batch: DataFrame, _: Long) =>
        incrementalFlush(batch, storePath, rollupSketch)
      }

  /** The writeStream shell every epoch-store runner shares: append
    * output, the checkpoint, the trigger, and `step` per micro-batch with
    * its batch id as the epoch id. The step is normally one
    * [[Sketch.epochStep]] per store. */
  private[streaming] def epochStoreStream(input: DataFrame,
                                          checkpoint: String,
                                          trigger: Trigger)
                                         (step: (DataFrame, Long) => Unit)
  : DataStreamWriter[Row] =
    input.writeStream
      .outputMode("append")
      .option("checkpointLocation", checkpoint)
      .trigger(trigger)
      .foreachBatch(step)

  /** Deterministic-HLL UV maintained at ingest: each micro-batch appends
    * its m-row register spine to a [[graft.ops.Sketch]] register store
    * (epoch = batchId), so the running UV over any epoch span is
    * `Sketch.mergedHllEstimate` — BIT-IDENTICAL to the one-shot sketch of
    * the union of everything ingested (registers are max-mergeable;
    * StreamingSpec pins the equality). Complements [[runSketch]]: that
    * path is the per-window production answer on DataSketches binaries;
    * this one is the oracle-checkable register relation (q140's twin)
    * kept incrementally, the way the reference's per-day HBase user sets
    * were (`ActionLogJobSecond.java:359-376`) at m rows per epoch instead
    * of corpus-sized state. A replayed batchId's duplicate epoch rows
    * MAX-merge to the identical registers; `compactEvery` > 0 folds the
    * store after every that-many batches ([[Sketch.epochStep]]).
    */
  def runHllRegisterStore(events: DataFrame, storePath: String,
                          checkpoint: String, userCol: String = "user_id",
                          p: Int = 6,
                          trigger: Trigger = Trigger.AvailableNow(),
                          compactEvery: Int = 0)
  : DataStreamWriter[Row] =
    epochStoreStream(events, checkpoint, trigger) { (batch, id) =>
      Sketch.epochStep(Sketch.HllStore, Sketch.hllRegisters(batch, userCol, p),
        storePath, id, compactEvery, p)
    }

  /** Streamed KMV bottom-k store maintenance — each micro-batch appends
    * its bottom-k hash epoch (epoch = batchId), so
    * [[graft.ops.Sketch.mergedKmvEstimate]] over the store is
    * bit-identical to one-shot sketching everything ingested. Replayed
    * batches reuse their epoch id and vanish in the merge's distinct —
    * at-least-once tolerant like the HLL register store, and unlike HLL
    * the merged sketch supports DIRECT set intersection downstream
    * (q226).
    */
  def runKmvStore(events: DataFrame, storePath: String,
                  checkpoint: String, userCol: String = "user_id",
                  k: Int = 256,
                  trigger: Trigger = Trigger.AvailableNow(),
                  compactEvery: Int = 0)
  : DataStreamWriter[Row] =
    epochStoreStream(events, checkpoint, trigger) { (batch, id) =>
      Sketch.epochStep(Sketch.KmvStore, Sketch.kmvHashes(batch, userCol, k),
        storePath, id, compactEvery, k)
    }

  /** Streaming audience-overlap monitor: ONE stream maintains TWO KMV
    * stores (each micro-batch appends the epoch of rows matching that
    * store's predicate), and [[graft.ops.Sketch.kmvStoreOverlap]] over
    * the stores answers "how much do the two audiences overlap so far"
    * at any quiesce point — bit-identical to the batch
    * `kmvIntersection` of everything ingested (store-merge == one-shot
    * per side, and the theta algebra reads only the merged hashes).
    * The q226 capability at ingest, without retaining the corpora.
    */
  def runKmvOverlapStores(events: DataFrame, pathA: String, pathB: String,
                          checkpoint: String,
                          predA: Column, predB: Column,
                          valueCol: String = "item", k: Int = 256,
                          trigger: Trigger = Trigger.AvailableNow())
  : DataStreamWriter[Row] =
    epochStoreStream(events, checkpoint, trigger) { (batch, id) =>
      for ((path, pred) <- Seq(pathA -> predA, pathB -> predB))
        Sketch.epochStep(Sketch.KmvStore,
          Sketch.kmvHashes(batch.filter(pred), valueCol, k), path, id,
          0, k)
    }

  /** Streaming grouped-audience store — [[runKmvOverlapStores]]' two-
    * predicate form generalized to a GROUP COLUMN: each micro-batch
    * appends its per-group bottom-k hash sets as one epoch (= batchId;
    * at-least-once tolerant, the merge is a set union), and
    * [[graft.ops.Sketch.groupedKmvStoreOverlapMatrix]] over the store
    * answers the FULL pairwise audience-overlap matrix (the q238
    * dashboard) at any quiesce point — bit-identical to the one-shot
    * grouped matrix of everything ingested, for every segment pair at
    * once, never retaining a corpus.
    */
  def runGroupedKmvStore(events: DataFrame, storePath: String,
                         checkpoint: String, groupCol: String,
                         valueCol: String = "item", k: Int = 256,
                         trigger: Trigger = Trigger.AvailableNow(),
                         compactEvery: Int = 0)
  : DataStreamWriter[Row] =
    epochStoreStream(events, checkpoint, trigger) { (batch, id) =>
      Sketch.epochStep(Sketch.GroupedKmvStore,
        Sketch.groupedKmvHashes(batch, groupCol, valueCol, k), storePath,
        id, compactEvery, k, groupCol)
    }

  /** Full pipeline: 5-min update-mode aggregation → per-trigger foreachBatch
    * that (a) upserts the changed 5-min partials into the metric store and
    * (b) rewrites the coarse windows of the UTC+8 days those partials touch
    * ([[incrementalFlush]]) — the reference's 5-minute flush cadence
    * (`ActionLogJobSecond.java:175-187`) with `Trigger.ProcessingTime`.
    * Coarse rows carry pv only (exact uv is not mergeable — see
    * [[fiveMinAgg]]); use [[runSketch]] when coarse UV is needed.
    */
  def run(events: DataFrame, storePath: String, checkpoint: String,
          keyCol: String = "key", tsCol: String = "ts",
          userCol: String = "user_id",
          trigger: Trigger = Trigger.ProcessingTime("5 minutes"))
  : DataStreamWriter[Row] =
    fiveMinAgg(events, keyCol, tsCol, userCol)
      .writeStream
      .outputMode("update")
      .option("checkpointLocation", checkpoint)
      .trigger(trigger)
      .foreachBatch { (batch: DataFrame, _: Long) =>
        incrementalFlush(batch, storePath, rollup)
      }
}
