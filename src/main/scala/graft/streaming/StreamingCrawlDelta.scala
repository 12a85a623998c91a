package graft.streaming

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.DataStreamWriter
import org.apache.spark.sql.types.StructType

/** Crawl-over-crawl delta AT INGEST — the streaming counterpart of the
  * batch [[graft.llm.Dedup.snapshotDelta]] (q204): the previous
  * snapshot's distinct (group, content) set is FROZEN into a store, the
  * new snapshot replays as a stream, and every micro-batch emits how
  * many first-seen distinct documents it RETAINED from the old snapshot
  * versus ADDED beyond it — the churn monitor a recurring crawl reads
  * live instead of waiting for the post-hoc batch audit.
  *
  * Identity is `xxhash64(text)` per group — the
  * [[graft.llm.Dedup.exactCanonicalByHash]] device the batch operator's
  * own scaladoc prescribes at ingest volume (8 bytes of state per
  * distinct doc instead of the text itself; a 64-bit collision within
  * one group conflates two texts, which the downstream batch audit
  * catches — this monitor is the early-warning line, not the arbiter).
  *
  * Exactly-once accounting under at-least-once foreachBatch, the
  * [[StreamingDedup.minHashDedupStream]] store contract: each trigger
  * anti-joins its distinct pairs against arrivals STRICTLY OLDER than
  * itself, so a (group, hash) is counted in the first batch that
  * completes it and never again; the batch publishes its own first-seen
  * rows to `arrivals/batch=<id>` LAST (overwriting only its own
  * partition), so a replayed trigger recomputes and re-emits exactly its
  * own row against the same prior state. REMOVALS are unknowable
  * mid-stream (absence is only provable once the snapshot is complete):
  * they surface at the quiesce boundary, where [[rollForward]] computes
  * the full eight-column q204 relation from the store pair and swaps
  * the old snapshot for the accumulated new one — the union of
  * per-trigger emissions plus the roll-forward row equals the batch
  * twin bit-for-bit (StreamingSpec pins it).
  *
  * 100 TB posture: per trigger one map-side-combined distinct over the
  * batch, one anti join and one membership join against hash-keyed
  * stores, bounded per-group aggregates; the snapshot store holds one
  * 8-byte hash + length per distinct doc. When history deepens, the
  * quiesced [[compactArrivals]] folds the per-trigger arrival dirs into
  * a bucketed layout the prior probe prunes to each batch's own hash
  * buckets — the near-dup stores' compaction device, applied here.
  */
object StreamingCrawlDelta {

  /** Freeze a snapshot's distinct (group, hash, length) set as the
    * monitor's reference store. Collisions within a group keep the
    * smallest length (deterministic, engine-order-free). */
  def writeSnapshotStore(docs: DataFrame, storePath: String,
                         groupCol: String = "source",
                         textCol: String = "text"): Unit =
    distinctPairs(docs, groupCol, textCol)
      .write.mode("overwrite").parquet(s"$storePath/snapshot")

  /** The new snapshot's stream side. Per micro-batch, `onDelta` receives
    * one row per group with FIRST-SEEN counts:
    * (groupCol, n_retained, n_added, chars_added) — retained = also in
    * the frozen snapshot, added = beyond it. Caller sets
    * checkpointLocation and starts. */
  def crawlDeltaStream(docs: DataFrame, storePath: String,
                       groupCol: String = "source",
                       textCol: String = "text")
                      (onDelta: (DataFrame, Long) => Unit)
  : DataStreamWriter[Row] =
    docs.writeStream.foreachBatch { (batch: DataFrame, batchId: Long) =>
      val spark = batch.sparkSession
      // a roll that committed but did not finish still owes its close:
      // the stream must not read the store under it
      if (storeFs(spark, storePath).exists(rollPath(storePath)))
        throw new IllegalStateException(s"$storePath holds a committed " +
          "roll that did not finish: run rollForward before streaming")
      // single writer of the store: repair a crashed swap's parked
      // snapshot before this batch reads it
      graft.sinks.Sinks.recoverSwap(spark, s"$storePath/snapshot")
      graft.core.CacheScope.scoped {
        val pairs = graft.core.CacheScope.track(
          distinctPairs(batch, groupCol, textCol).persist())
        // prior = compacted layout (pruned to this batch's __h buckets)
        // plus raw batches newer than the last compaction, strictly older
        // than this one — see compactArrivals
        val prior = StreamingDedup.readStoreWithCompact(spark,
          s"$storePath/arrivals", s"$storePath/arrivals_compact",
          batchId, pairs.schema,
          buckets => pairs
            .select(pmod(col("__h"), lit(buckets.toLong)).cast("int").as("g"))
            .distinct().collect().map(_.getInt(0)).toIndexedSeq)
        // first-seen only: counted in the batch that completes the pair,
        // never re-counted by a later one (read twice: emit + publish)
        val fresh = graft.core.CacheScope.track(
          pairs.join(prior.select(groupCol, "__h"),
            Seq(groupCol, "__h"), "left_anti").persist())
        fresh.count()
        val old = readSnapshot(spark, storePath, pairs.schema)
        val delta = fresh
          .join(old.select(col(groupCol), col("__h"),
            lit(1L).as("__in_old")), Seq(groupCol, "__h"), "left")
          .select(col(groupCol),
            coalesce(col("__in_old"), lit(0L)).as("__o"), col("__len"))
          .groupBy(col(groupCol))
          .agg(sum(col("__o")).as("n_retained"),
            sum(lit(1L) - col("__o")).as("n_added"),
            sum((lit(1L) - col("__o")) * col("__len")).as("chars_added"))
        onDelta(delta, batchId)
        // publish LAST: a crash before this point replays the batch
        // against the same prior state it just read
        fresh.write.mode("overwrite")
          .parquet(s"$storePath/arrivals/batch=$batchId")
      }
    }

  /** Quiesce-boundary close: the full q204 relation (group, n_old,
    * n_new, n_retained, n_removed, n_added, chars_removed, chars_added)
    * between the frozen snapshot and the accumulated arrivals — the
    * point where removals become provable — then the store ROLLS
    * FORWARD: the arrival union becomes the new frozen snapshot and the
    * arrival batches retire.
    *
    * The roll is one atomic step. It stages the close relation and the
    * new snapshot under `roll__tmp/` and commits with ONE rename to
    * `roll/`; only then does it publish the snapshot (parked swap) and
    * retire the arrivals, and it drops `roll/` last. A crash before the
    * commit leaves the store as it was (the stale staging is dropped and
    * the roll recomputed); a crash after it leaves `roll/`, and the next
    * call finishes those steps and returns the committed close instead of
    * closing the new snapshot against its own arrivals. Either way a
    * re-run returns what the clean run returns and leaves the same store.
    * The stream refuses to start over a committed, unfinished roll. The
    * returned relation is materialized (localCheckpoint) from the
    * committed copy, so reading it after the roll re-scans nothing.
    *
    * SINGLE-WRITER: run while the stream is quiesced, the same
    * ownership contract as the near-dup store compactions. */
  def rollForward(spark: SparkSession, storePath: String,
                  groupCol: String = "source"): DataFrame = {
    val schema = StructType(Seq(
      org.apache.spark.sql.types.StructField(groupCol,
        org.apache.spark.sql.types.StringType),
      org.apache.spark.sql.types.StructField("__h",
        org.apache.spark.sql.types.LongType),
      org.apache.spark.sql.types.StructField("__len",
        org.apache.spark.sql.types.LongType)))
    val fs = storeFs(spark, storePath)
    if (fs.exists(rollPath(storePath))) return finishRoll(spark, storePath)
    // a swap that crashed mid-way left the snapshot parked: restore it
    // BEFORE the read, or the close is computed against no snapshot
    graft.sinks.Sinks.recoverSwap(spark, s"$storePath/snapshot")
    val old = readSnapshot(spark, storePath, schema)
    // arrival partitions are pairwise disjoint by construction (each
    // batch anti-joined everything older; compaction only re-lays out
    // the same disjoint rows), so the union IS the new snapshot's
    // distinct set — read compacted layout (all buckets) + raw tail
    val arrivals = StreamingDedup.readStoreWithCompact(spark,
      s"$storePath/arrivals", s"$storePath/arrivals_compact",
      Long.MaxValue, schema, buckets => 0 until buckets)
    val o = old.withColumn("__in_old", lit(1L))
      .withColumnRenamed("__len", "__len_o")
    val n = arrivals.withColumn("__in_new", lit(1L))
      .withColumnRenamed("__len", "__len_n")
    val delta = o.join(n, Seq(groupCol, "__h"), "full_outer")
      .select(col(groupCol),
        coalesce(col("__in_old"), lit(0L)).as("__o"),
        coalesce(col("__in_new"), lit(0L)).as("__n"),
        coalesce(col("__len_o"), col("__len_n")).as("__len"))
      .groupBy(col(groupCol))
      .agg(sum(col("__o")).as("n_old"),
        sum(col("__n")).as("n_new"),
        sum(col("__o") * col("__n")).as("n_retained"),
        sum(col("__o") * (lit(1L) - col("__n"))).as("n_removed"),
        sum((lit(1L) - col("__o")) * col("__n")).as("n_added"),
        sum(col("__o") * (lit(1L) - col("__n")) * col("__len"))
          .as("chars_removed"),
        sum((lit(1L) - col("__o")) * col("__n") * col("__len"))
          .as("chars_added"))
    // stage the close and the new snapshot, then commit with one rename
    val staged = new org.apache.hadoop.fs.Path(s"$storePath/roll__tmp")
    fs.delete(staged, true)
    delta.write.parquet(s"$staged/delta")
    arrivals.write.parquet(s"$staged/snapshot")
    graft.sinks.Sinks.renameOrThrow(fs, staged, rollPath(storePath))
    finishRoll(spark, storePath)
  }

  /** The steps after a roll's commit, each safe to repeat: publish the
    * staged snapshot (when it is still staged), retire the arrival dirs,
    * drop `roll/`. Returns the committed close, materialized first. */
  private def finishRoll(spark: SparkSession, storePath: String): DataFrame = {
    val fs = storeFs(spark, storePath)
    val roll = rollPath(storePath)
    val delta = spark.read.parquet(s"$roll/delta").localCheckpoint()
    val staged = new org.apache.hadoop.fs.Path(s"$roll/snapshot")
    if (fs.exists(staged))
      graft.sinks.Sinks.publishDir(spark, staged.toString,
        s"$storePath/snapshot")
    else graft.sinks.Sinks.recoverSwap(spark, s"$storePath/snapshot")
    fs.delete(new org.apache.hadoop.fs.Path(s"$storePath/arrivals"), true)
    fs.delete(new org.apache.hadoop.fs.Path(s"$storePath/arrivals_compact"),
      true)
    fs.delete(roll, true)
    delta
  }

  private def rollPath(storePath: String) =
    new org.apache.hadoop.fs.Path(s"$storePath/roll")

  private def storeFs(spark: SparkSession, storePath: String) =
    new org.apache.hadoop.fs.Path(storePath)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)

  /** Quiesced arrivals compaction — the device the scaladoc promised
    * (r14 next-round item): folds the accumulated `arrivals/batch=<id>`
    * dirs into `arrivals_compact/data/__bkt=<pmod(__h, buckets)>/` so a
    * long-running monitor's per-trigger prior probe reads ≤ `buckets`
    * hash-group files pruned to the batch's own buckets instead of one
    * parquet dir per elapsed trigger. Same [[StreamingDedup]] fold
    * contract: run while the stream is quiesced (single-writer), folded
    * raw dirs retire, a replayed batch republishing after the fold is
    * re-folded (not doubled), and emissions are unchanged across a
    * mid-stream compaction (StreamingSpec pins it). `__h` is already a
    * 64-bit hash, so the bucket is a plain mod — no rehash. */
  def compactArrivals(spark: SparkSession, storePath: String,
                      buckets: Int = 256): Unit = {
    require(buckets > 0, s"buckets must be positive, got $buckets")
    StreamingDedup.foldStore(spark, s"$storePath/arrivals",
      s"$storePath/arrivals_compact", buckets)(_.withColumn("__bkt",
      pmod(col("__h"), lit(buckets.toLong)).cast("int")))
  }

  /** Distinct (group, xxhash64(text), length) of a frame — min length
    * per hash so a within-group collision resolves deterministically. */
  private def distinctPairs(docs: DataFrame, groupCol: String,
                            textCol: String): DataFrame =
    docs.select(col(groupCol),
        xxhash64(col(textCol)).as("__h"),
        length(col(textCol)).cast("long").as("__len"))
      .groupBy(col(groupCol), col("__h"))
      .agg(min(col("__len")).as("__len"))

  /** The frozen snapshot set; empty with `schema` when no snapshot has
    * been frozen yet (a first crawl: everything counts as added). */
  private def readSnapshot(spark: SparkSession, storePath: String,
                           schema: StructType): DataFrame = {
    val p = new org.apache.hadoop.fs.Path(s"$storePath/snapshot")
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(p))
      spark.createDataFrame(spark.sparkContext.emptyRDD[Row], schema)
    else spark.read.parquet(p.toString)
      .select(schema.fieldNames.map(col).toIndexedSeq: _*)
  }
}
