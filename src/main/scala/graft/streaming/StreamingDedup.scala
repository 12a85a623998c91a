package graft.streaming

import org.apache.spark.sql.{DataFrame, Encoders, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{DataStreamWriter, Trigger}

import graft.ops.{Scale, Sketch}

/** Streaming exact dedup — the ingest-time counterpart of the batch
  * [[graft.llm.Dedup.exactCanonicalByHash]]: documents are keyed by the
  * xxhash64 of their content and only the first arrival survives.
  *
  * Scale posture: `dropDuplicatesWithinWatermark` bounds the dedup state —
  * keys older than the watermark horizon are evicted, so state size tracks
  * the ingest rate × horizon, not corpus history (the plain
  * `dropDuplicates` form keeps every key forever — the 100 TB ingest
  * anti-pattern). State is 8 bytes of hash per doc, like the batch
  * hash-first shuffle; 64-bit collisions pass one extra doc through, which
  * the downstream batch canonicalization pass (q28) removes — dedup here is
  * a volume reducer, not the final arbiter.
  */
object StreamingDedup {

  /** First-arrival-wins content dedup over a streaming frame with event
    * time in `tsCol`; duplicates arriving within `horizon` of each other
    * are dropped. */
  def dedupByContent(docs: DataFrame, tsCol: String = "ts",
                     textCol: String = "text",
                     horizon: String = "10 minutes"): DataFrame =
    docs.withColumn("__h", xxhash64(col(textCol)))
      .withWatermark(tsCol, horizon)
      .dropDuplicatesWithinWatermark("__h")
      .drop("__h")

  /** Streaming URL-canonicalization dedup (r17 VERDICT #4) — the ingest
    * form of q244's batch stage: each arriving crawl micro-batch is
    * canonicalized ([[graft.llm.Dedup.canonicalizeUrls]] — map-only
    * column expressions, so at scan speed), reduced to its min-id doc
    * per canonical URL (the q244 group rule applied within the
    * trigger), then LEFT ANTI-joined against the historical
    * canonical-URL store so only FIRST-SEEN pages reach `onSurvivors`.
    *
    * Batch equivalence: under monotone ingest ids (a crawl assigns ids
    * in arrival order), the union of emissions over k micro-batches is
    * exactly the `is_canonical` rows of
    * [[graft.llm.Dedup.urlCanonicalDedup]] over the union of the
    * batches (StreamingSpec pins it). With non-monotone ids the stream
    * keeps the FIRST arrival — [[dedupByContent]]'s contract, keyed on
    * the canonical URL instead of the content bytes.
    *
    * Store + replay discipline mirrors [[minHashDedupStream]]:
    * `urls/batch=<id>` dirs hold one (key-hash, canonical_url, id) row
    * per distinct canonical URL in the batch, published LAST, so an
    * at-least-once replay reads only EARLIER batches (its half-written
    * self is invisible) and self-overwrites its own dir — emissions are
    * replay-idempotent. 100 TB posture: the probe is a hash-keyed
    * anti-join of one batch's distinct canonical set against the store
    * (no corpus re-canonicalization, no state in the streaming engine);
    * history lives in the store, bounded by distinct pages, not
    * arrivals. */
  def urlDedupStream(docs: DataFrame, storePath: String,
                     urlCol: String = "url", idCol: String = "doc_id")
                    (onSurvivors: (DataFrame, Long) => Unit)
  : DataStreamWriter[Row] =
    docs.writeStream.foreachBatch { (batch: DataFrame, batchId: Long) =>
      val spark = batch.sparkSession
      graft.core.CacheScope.scoped {
        import org.apache.spark.sql.types._
        val winners = graft.core.CacheScope.track(
          graft.llm.Dedup.canonicalizeUrls(batch, urlCol)
            .groupBy(col("canonical_url"))
            .agg(min(col(idCol)).as(idCol))
            .withColumn("__k", xxhash64(col("canonical_url")))
            .persist())
        winners.count() // eager: the anti-join probe AND publish read it
        val storeSchema = StructType(Seq(
          StructField("__k", LongType),
          StructField("canonical_url", StringType),
          StructField(idCol, LongType)))
        val seen = readStore(spark, s"$storePath/urls", batchId,
          storeSchema)
        val fresh = winners.join(seen.select(col("__k")), Seq("__k"),
          "left_anti")
        onSurvivors(fresh.select(col(idCol), col("canonical_url")),
          batchId)
        // publish-last: a crash before this point replays the batch
        // against the same store it just read
        winners.select(col("__k"), col("canonical_url"), col(idCol))
          .write.mode("overwrite")
          .parquet(s"$storePath/urls/batch=$batchId")
      }
    }

  /** The writeStream shell both epoch-store runners share: append
    * output, the checkpoint, the trigger, and per micro-batch the
    * family's `create` on the store's first batch, else its `append`,
    * with the batch id as the epoch id. */
  private def epochStoreStream(input: DataFrame, storePath: String,
                               checkpoint: String, trigger: Trigger)
                              (create: (DataFrame, Long) => Unit,
                               append: (DataFrame, Long) => Unit)
  : DataStreamWriter[Row] =
    input.writeStream
      .outputMode("append")
      .option("checkpointLocation", checkpoint)
      .trigger(trigger)
      .foreachBatch { (batch: DataFrame, id: Long) =>
        if (Sketch.storeExists(batch.sparkSession, storePath))
          append(batch, id)
        else create(batch, id)
      }

  /** Maintain a persistent bloom store at ingest — the seen-before gate
    * ([[graft.ops.Sketch.bloomWords]], q170) kept incrementally: each
    * micro-batch appends one epoch of m/32 OR-mergeable words;
    * [[graft.ops.Sketch.mergedBloomProbe]] answers "ever seen?" over
    * any epoch span from m/32-row state per epoch, never corpus-sized
    * history. The cheap front gate BEFORE the minhash/signature store
    * machinery: a negative probe is definitive (no false negatives), so
    * only maybe-seen keys pay the exact path. A re-run batchId appends
    * duplicate epoch rows, which OR-merge to the identical words
    * (StreamingSpec pins it); a restart appends to the existing store.
    */
  def runBloomStore(docs: DataFrame, storePath: String,
                    checkpoint: String, valueCol: String = "text",
                    bitsLog2: Int = 12, k: Int = 3,
                    trigger: Trigger = Trigger.AvailableNow())
  : DataStreamWriter[Row] =
    epochStoreStream(docs, storePath, checkpoint, trigger)(
      Sketch.writeBloomStore(_, storePath, _, valueCol, bitsLog2, k),
      Sketch.appendBloomStore(_, storePath, _, valueCol, bitsLog2, k))

  /** Heavy-hitter store maintained at ingest — each micro-batch appends
    * its ≤ k-row Misra-Gries summary
    * ([[graft.ops.Scale.writeTopFreqStore]] /
    * [[graft.ops.Scale.appendTopFreqStore]]); any later reader merges an
    * epoch span with [[graft.ops.Scale.mergedHeavyHitters]] under the
    * standard mergeable-summary bound (no overcount; undercount ≤
    * n/(k+1) over the span; every item above that threshold present).
    * The frequency companion of [[runBloomStore]] (membership): two
    * questions about an unbounded stream, each answered from bounded
    * mergeable state. Replayed batches (foreachBatch is at-least-once)
    * dynamically OVERWRITE their own epoch partition — ADD-merged
    * counters, unlike the bloom OR, would double-count a duplicated
    * epoch, so idempotence here comes from the write layout, not the
    * merge algebra.
    */
  def runTopFreqStore(rows: DataFrame, storePath: String,
                      checkpoint: String, valueCol: String = "text",
                      k: Int = 64,
                      trigger: Trigger = Trigger.AvailableNow())
  : DataStreamWriter[Row] = {
    def items(batch: DataFrame) =
      batch.select(col(valueCol).cast("string")).as(Encoders.STRING)
    epochStoreStream(rows, storePath, checkpoint, trigger)(
      (batch, id) => Scale.writeTopFreqStore(items(batch), storePath, id, k),
      (batch, id) => Scale.appendTopFreqStore(items(batch), storePath, id, k))
  }

  /** Streaming NEAR-dup detection — the minhash-band counterpart of
    * [[dedupByContent]]: each micro-batch's documents are shingled,
    * minhash-banded (identical deterministic hashes to the batch
    * [[graft.llm.Dedup.minHashDedupPairs]] pipeline), bucket-joined
    * against a PERSISTED signature store of every earlier batch plus
    * itself, exact-Jaccard-verified, and the surviving (id_a, id_b,
    * jaccard) pairs handed to `onPairs`. The union of emissions over the
    * stream equals the batch pipeline's pair relation on the same corpus
    * (StreamingSpec pins it) — each unordered pair is emitted exactly
    * once, in the first batch whose arrival completes it.
    *
    * Store layout and idempotence: `store/{bands,shingles}/batch=<id>`,
    * each batch OVERWRITING only its own partition dir — a replayed
    * micro-batch (foreachBatch is at-least-once) rewrites the same rows
    * and, because candidates only pair the current batch against batches
    * STRICTLY OLDER plus itself, re-emits exactly its own pairs rather
    * than duplicating them. At ingest volume, run [[compactMinhashStore]]
    * between stream runs: the band side re-lays out by bucket group so the
    * probe reads ONLY the partitions holding the batch's own buckets, and
    * the shingle side by id hash-group so the verify reads only the
    * candidates' groups — both probes union the compacted layout with any
    * raw batches published since the last compaction, so emissions are
    * unchanged across a mid-stream compaction (StreamingSpec pins it).
    *
    * State posture: unlike the watermark-bounded exact dedup, a near-dup
    * STORE is meant to remember the corpus (that is the product: dedup
    * against everything seen); size it like the batch index, not like
    * streaming state.
    *
    * Returns the writer — caller sets checkpointLocation and starts:
    * {{{
    * StreamingDedup.minHashDedupStream(docs, store, w = 3, tau = 0.5) {
    *   (pairs, batchId) => pairs.write.mode("append").parquet(out)
    * }.option("checkpointLocation", ckpt).start()
    * }}}
    */
  def minHashDedupStream(docs: DataFrame, storePath: String, w: Int,
                         tau: Double, bands: Int = 16, rowsPerBand: Int = 4,
                         idCol: String = "doc_id", textCol: String = "text")
                        (onPairs: (DataFrame, Long) => Unit)
  : DataStreamWriter[Row] = {
    import graft.llm.Dedup
    docs.writeStream.foreachBatch { (batch: DataFrame, batchId: Long) =>
      val spark = batch.sparkSession
      graft.core.CacheScope.scoped {
        val shB = graft.core.CacheScope.track(
          Dedup.shingles(batch, w, idCol, textCol)
            .filter(col("shingle").isNotNull).persist())
        shB.count()
        val bandsB = graft.core.CacheScope.track(
          Dedup.bandedSignatures(shB, bands, rowsPerBand, idCol).persist())
        bandsB.count()
        // earlier batches only: a replayed batch must not meet its own
        // half-written store rows as "other" docs. The band side reads the
        // compacted bucket-group layout (pruned to this batch's buckets)
        // plus raw batches newer than the last compaction.
        val storeBands = readBandStore(spark, storePath, batchId,
          bandsB, bandsB.schema)
        // new-vs-(old ∪ new) bucket join; columns renamed per side so the
        // shared-lineage self-join keeps real join predicates
        // unionByName: the store side comes back from parquet, whose column
        // order is not contractually the in-memory plan's — a positional
        // union would silently mis-join band/bucket/id if either reorders
        val newSide = bandsB.select(col("band"), col("bucket"),
          col(idCol).as("id_new"))
        val allSide = storeBands.unionByName(bandsB).select(col("band"),
          col("bucket"), col(idCol).as("id_other"))
        // persisted: the two verify joins and the id restriction below all
        // read it, and its lineage carries the store probe join
        val cand = graft.core.CacheScope.track(
          newSide.join(allSide, Seq("band", "bucket"))
            .filter(col("id_new") =!= col("id_other"))
            .select(least(col("id_new"), col("id_other")).as("id_a"),
              greatest(col("id_new"), col("id_other")).as("id_b"))
            .distinct().persist())
        cand.count()
        // shingle sets only for candidate members — without the semi-join
        // the verify re-aggregates EVERY earlier batch's sets each trigger;
        // the restriction pushes through the union into the store scan,
        // and a compacted shingle store additionally PRUNES that scan to
        // the candidates' id hash-groups (see compactShingleStore)
        val candIds = cand.select(col("id_a").as(idCol))
          .unionByName(cand.select(col("id_b").as(idCol))).distinct()
        val storeSh = readShingleStore(spark, storePath, batchId,
          candIds, shB.schema, idCol)
        val setsById = storeSh.unionByName(shB)
          .join(candIds, Seq(idCol), "left_semi")
          .groupBy(col(idCol))
          .agg(collect_set(col("shingle")).as("shset"))
        val pairs = cand
          .join(setsById.select(col(idCol).as("id_a"), col("shset").as("set_a")), "id_a")
          .join(setsById.select(col(idCol).as("id_b"), col("shset").as("set_b")), "id_b")
          .withColumn("inter", size(array_intersect(col("set_a"), col("set_b"))))
          .withColumn("jaccard", col("inter").cast("double") /
            (size(col("set_a")) + size(col("set_b")) - col("inter")).cast("double"))
          .filter(col("jaccard") >= tau)
          .select("id_a", "id_b", "jaccard")
        onPairs(pairs, batchId)
        // publish this batch into the store LAST: a crash before this point
        // replays the batch against the same store it just read
        bandsB.write.mode("overwrite")
          .parquet(s"$storePath/bands/batch=$batchId")
        shB.write.mode("overwrite")
          .parquet(s"$storePath/shingles/batch=$batchId")
      }
    }
  }

  /** Streaming EMBEDDING near-dup detection — the IVF counterpart of
    * [[minHashDedupStream]]: each micro-batch's vectors are assigned their
    * `probes` nearest cells per table under quantizers TRAINED ON BATCH 0
    * and FROZEN into the store (cell ids are only comparable under one
    * quantizer family — the same reason a stored IVF+PQ index
    * ([[graft.llm.Similarity.writeIvfPqIndex]]) is rebuilt whole, never
    * retrained in place), cell-joined against the persisted
    * assignments of every earlier batch plus itself, exact-cosine-verified
    * at ≥ `tau`, and the surviving (id_a, id_b, cosine) pairs handed to
    * `onPairs`. The union of emissions equals the batch IVF pipeline run
    * under the same quantizers (StreamingSpec pins it); quantizer quality
    * itself is the batch pipeline's concern (its parameters are pinned by
    * LlmOpsSpec; the TuneIvf sweep that set them can be recovered from
    * commit f372b9f) — a batch-0 sample stands in for the corpus sample,
    * the standard streaming trade, and retraining means re-assigning the
    * store, a batch job.
    *
    * Store layout mirrors the minhash stream (`asg,vecs/batch=<id>`,
    * publish-last, replay-idempotent, checkpoint-reset fail-loud);
    * `centroids` is written once by batch 0 — its training is
    * deterministic, so an at-least-once replay of batch 0 rewrites
    * identical bytes. At ingest volume run [[compactEmbeddingStore]]
    * between stream runs: the asg side re-lays out by exact (tbl,
    * centroid) cell and the probe prunes to the batch's probed cells; the
    * vecs side by id hash-group and the verify prunes to the candidates'
    * groups (the minhash compaction's twin; emissions unchanged across a
    * mid-stream compaction — StreamingSpec pins it).
    */
  def embeddingDedupStream(vecs: DataFrame, storePath: String, tau: Double,
                           k: Int = 64, tables: Int = 12, probes: Int = 1,
                           sampleN: Int = 1024,
                           idCol: String = "vec_id",
                           vecCol: String = "embedding")
                          (onPairs: (DataFrame, Long) => Unit)
  : DataStreamWriter[Row] = {
    import graft.llm.Similarity
    vecs.writeStream.foreachBatch { (batch: DataFrame, batchId: Long) =>
      val spark = batch.sparkSession
      graft.core.CacheScope.scoped {
        val centPath = s"$storePath/centroids"
        val fs = new org.apache.hadoop.fs.Path(storePath)
          .getFileSystem(spark.sparkContext.hadoopConfiguration)
        val haveCents = fs.exists(
          new org.apache.hadoop.fs.Path(centPath + "/_SUCCESS"))
        val cents: Array[Array[Array[Float]]] =
          if (haveCents) {
            // same (tbl, centroid, cvec) layout as the stored IVF index →
            // same reconstruction (readCentroids expects path/centroids)
            Similarity.readCentroids(spark, storePath)
          } else {
            val c = Similarity.trainIvfCentroids(batch, k, tables,
              sampleN = sampleN, idCol = idCol, vecCol = vecCol)
            val centRows = for {
              t <- c.indices; i <- c(t).indices
            } yield (t, i, c(t)(i))
            spark.createDataFrame(centRows).toDF("tbl", "centroid", "cvec")
              .repartition(1).write.mode("overwrite").parquet(centPath)
            c
          }
        val vB = graft.core.CacheScope.track(batch
          .select(col(idCol).cast("long").as(idCol), col(vecCol)).persist())
        vB.count()
        val asgB = graft.core.CacheScope.track(
          Similarity.ivfAssignments(vB, cents, probes, idCol, vecCol)
            .toDF(idCol, "tbl", "centroid").persist())
        asgB.count()
        // compacted cell layout (pruned to this batch's probed cells) plus
        // raw batches newer than the last compaction — see compactCellStore
        val storeAsg = readCellStore(spark, storePath, batchId,
          asgB, asgB.schema)
        val newSide = asgB.select(col("tbl"), col("centroid"),
          col(idCol).as("id_new"))
        val allSide = storeAsg.unionByName(asgB).select(col("tbl"),
          col("centroid"), col(idCol).as("id_other"))
        // persisted: both verify joins and the id restriction below read
        // it, and its lineage carries the store probe join
        val cand = graft.core.CacheScope.track(
          newSide.join(allSide, Seq("tbl", "centroid"))
            .filter(col("id_new") =!= col("id_other"))
            .select(least(col("id_new"), col("id_other")).as("id_a"),
              greatest(col("id_new"), col("id_other")).as("id_b"))
            .distinct().persist())
        cand.count()
        // vectors only for candidate members; a compacted vec store
        // additionally prunes the scan to their id hash-groups
        val candIds = cand.select(col("id_a").as(idCol))
          .unionByName(cand.select(col("id_b").as(idCol))).distinct()
        val storeVecs = readVecStore(spark, storePath, batchId,
          candIds, vB.schema, idCol)
        val allVecs = storeVecs.unionByName(vB)
          .join(candIds, Seq(idCol), "left_semi")
        val pairs = cand
          .join(allVecs.select(col(idCol).as("id_a"),
            col(vecCol).as("va")), "id_a")
          .join(allVecs.select(col(idCol).as("id_b"),
            col(vecCol).as("vb")), "id_b")
          .withColumn("cosine", Similarity.cosine(col("va"), col("vb")))
          .filter(col("cosine") >= tau)
          .select("id_a", "id_b", "cosine")
        onPairs(pairs, batchId)
        asgB.write.mode("overwrite").parquet(s"$storePath/asg/batch=$batchId")
        vB.write.mode("overwrite").parquet(s"$storePath/vecs/batch=$batchId")
      }
    }
  }

  /** Re-layout the minhash stream store's BAND side by bucket group — the
    * compaction step that keeps per-trigger probe cost bounded as history
    * grows: raw `bands/batch=<id>` dirs are folded into
    * `bands_compact/data/__bkt=<pmod(bucket, buckets)>/`, so a micro-batch
    * probing B distinct buckets reads at most min(B, buckets) partition
    * dirs instead of every batch ever published. Size `buckets` well above
    * a typical batch's distinct-bucket count (bands · batch size) — that
    * ratio IS the pruning factor; the default suits small streaming
    * batches against a deep store, the 100 TB shape.
    *
    * Incremental and atomic: a re-run folds only raw batches newer than
    * the recorded `upto` into the existing layout, swaps the three-file
    * artifact under the store protocol (park old, rename new), then
    * retires the folded raw dirs. SINGLE-WRITER: run while the stream is
    * quiesced — compaction racing a publishing micro-batch could fold a
    * batch the checkpoint has not committed (the same ownership contract
    * as the batch signature store's append). A batch published-but-not-
    * committed before a quiesce IS safely foldable: its replay re-reads
    * its own rows from the compacted layout and re-emits exactly its own
    * pairs, which at-least-once consumers already absorb.
    */
  def compactBandStore(spark: org.apache.spark.sql.SparkSession,
                       storePath: String, buckets: Int = 256): Unit = {
    require(buckets > 0, s"buckets must be positive, got $buckets")
    foldStore(spark, s"$storePath/bands", s"$storePath/bands_compact",
      buckets)(_.withColumn("__bkt",
        pmod(col("bucket"), lit(buckets.toLong)).cast("int")))
  }

  /** The shingle side's compaction — the verify read's counterpart of
    * [[compactBandStore]]: raw `shingles/batch=<id>` dirs fold into
    * `shingles_compact/data/__bkt=<pmod(xxhash64(id), buckets)>/` so the
    * exact-Jaccard verify reads only the partitions holding its CANDIDATE
    * ids' groups (the candidate set is trigger-bounded, so its group list
    * is too) instead of every batch's shingles. The id is hash-grouped —
    * works for any id type and spreads dense id ranges evenly. Same
    * incremental/atomic/single-writer contract as the band fold.
    */
  def compactShingleStore(spark: org.apache.spark.sql.SparkSession,
                          storePath: String, buckets: Int = 256,
                          idCol: String = "doc_id"): Unit = {
    require(buckets > 0, s"buckets must be positive, got $buckets")
    foldStore(spark, s"$storePath/shingles", s"$storePath/shingles_compact",
      buckets)(_.withColumn("__bkt",
        pmod(xxhash64(col(idCol)), lit(buckets.toLong)).cast("int")))
  }

  /** Compact BOTH sides of a minhash stream store in one quiesced job —
    * the maintenance entry point ([[compactBandStore]] for the probe,
    * [[compactShingleStore]] for the verify). */
  def compactMinhashStore(spark: org.apache.spark.sql.SparkSession,
                          storePath: String, buckets: Int = 256,
                          idCol: String = "doc_id"): Unit = {
    compactBandStore(spark, storePath, buckets)
    compactShingleStore(spark, storePath, buckets, idCol)
  }

  /** Group stride for the cell store's compacted layout: one partition per
    * exact (tbl, centroid) cell, encoded as tbl·stride + centroid. Cells
    * are bounded by construction (tables × k quantizer parameters), so the
    * dir count is bounded without a modulo — and the probe prunes to
    * EXACTLY its probed cells. */
  private val CellGroupStride = 100000

  /** The embedding stream's compaction twin — [[compactBandStore]] for
    * [[embeddingDedupStream]]'s `asg` side: raw `asg/batch=<id>` dirs fold
    * into `asg_compact/data/__bkt=<tbl·stride+centroid>/`, one partition
    * per exact cell, so a micro-batch's probe reads only its probed cells'
    * dirs instead of every batch ever published (the same layout argument
    * as the stored IVF+PQ index's (tbl, centroid) partitioning). Same
    * incremental/atomic/single-writer contract as the band compaction. */
  def compactCellStore(spark: org.apache.spark.sql.SparkSession,
                       storePath: String): Unit =
    foldStore(spark, s"$storePath/asg", s"$storePath/asg_compact", 0)(
      _.withColumn("__bkt",
        (col("tbl") * lit(CellGroupStride) + col("centroid")).cast("int")))

  /** The `vecs` side's compaction — [[compactShingleStore]]'s embedding
    * twin: the exact-cosine verify reads vectors only for candidate ids,
    * so the store folds into id hash-groups and the read prunes to the
    * candidates' groups. */
  def compactVecStore(spark: org.apache.spark.sql.SparkSession,
                      storePath: String, buckets: Int = 256,
                      idCol: String = "vec_id"): Unit = {
    require(buckets > 0, s"buckets must be positive, got $buckets")
    foldStore(spark, s"$storePath/vecs", s"$storePath/vecs_compact",
      buckets)(_.withColumn("__bkt",
        pmod(xxhash64(col(idCol)), lit(buckets.toLong)).cast("int")))
  }

  /** Compact BOTH sides of an embedding stream store in one quiesced job
    * ([[compactCellStore]] for the probe, [[compactVecStore]] for the
    * verify). */
  def compactEmbeddingStore(spark: org.apache.spark.sql.SparkSession,
                            storePath: String, buckets: Int = 256,
                            idCol: String = "vec_id"): Unit = {
    compactCellStore(spark, storePath)
    compactVecStore(spark, storePath, buckets, idCol)
  }

  /** Shared compaction fold: committed raw `batch=<id>` dirs newer than
    * the recorded `upto`, plus any existing compacted data, rewritten as
    * one layout partitioned by the Int `__bkt` column `addGroup` derives;
    * three-file artifact swapped under [[graft.sinks.Sinks.replaceDir]],
    * folded raw dirs retired afterward. */
  private[streaming] def foldStore(spark: org.apache.spark.sql.SparkSession,
                        root: String, compRoot: String, buckets: Int)
                       (addGroup: DataFrame => DataFrame): Unit = {
    val rootP = new org.apache.hadoop.fs.Path(root)
    val fs = rootP.getFileSystem(spark.sparkContext.hadoopConfiguration)
    graft.sinks.Sinks.recoverSwap(spark, compRoot) // prior crash mid-swap
    val prev = readCompactMeta(spark, compRoot)
    val prevUpto = prev.map(_._1).getOrElse(-1L)
    val fresh = committedBatchDirs(fs, rootP).filter(_._1 > prevUpto)
    if (fresh.isEmpty && prev.exists(_._2 == buckets)) return // nothing new
    val rawPart =
      if (fresh.isEmpty) Seq.empty[DataFrame]
      else Seq(spark.read.option("basePath", root)
        .parquet(fresh.map(_._2.toString).toIndexedSeq: _*).drop("batch"))
    // the old compacted data is read lazily but the tmp write below is the
    // action — it completes while compRoot still exists, BEFORE the swap
    val oldPart = prev.map(_ =>
      spark.read.parquet(s"$compRoot/data").drop("__bkt")).toSeq
    val all = (rawPart ++ oldPart).reduce(_ unionByName _)
    val upto = (fresh.map(_._1) :+ prevUpto).max
    graft.sinks.Sinks.replaceDir(spark, compRoot) { tmp =>
      addGroup(all)
        .repartition(col("__bkt")) // one file per group dir, not per task
        .write.partitionBy("__bkt").parquet(s"$tmp/data")
      val out = fs.create(
        new org.apache.hadoop.fs.Path(tmp, "_graft_compact"), true)
      try out.write(s"upto=$upto,buckets=$buckets\n"
        .getBytes(java.nio.charset.StandardCharsets.UTF_8))
      finally out.close()
    }
    // retire every folded raw dir (≤ upto — including one a replayed batch
    // republished after an earlier compaction already folded it)
    committedBatchDirs(fs, rootP).filter(_._1 <= upto)
      .foreach { case (_, dir) => fs.delete(dir, true) }
  }

  /** Compaction metadata: Some((upto, buckets)) when `root` holds a
    * published compacted layout. */
  private def readCompactMeta(spark: org.apache.spark.sql.SparkSession,
                              root: String): Option[(Long, Int)] = {
    val p = new org.apache.hadoop.fs.Path(root, "_graft_compact")
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(p)) None
    else {
      val in = fs.open(p)
      val s = try new String(in.readAllBytes(),
        java.nio.charset.StandardCharsets.UTF_8).trim
      finally in.close()
      val kv = s.split(",").map { t =>
        val Array(k, v) = t.split("=", 2); k -> v
      }.toMap
      Some((kv("upto").toLong, kv("buckets").toInt))
    }
  }

  /** `batch=<id>` dirs under `p` holding at least one committed parquet
    * file (a crashed write's `_temporary`-only dir does not count). */
  private def committedBatchDirs(fs: org.apache.hadoop.fs.FileSystem,
                                 p: org.apache.hadoop.fs.Path)
  : Array[(Long, org.apache.hadoop.fs.Path)] = {
    val dirs =
      if (!fs.exists(p)) Array.empty[(Long, org.apache.hadoop.fs.Path)]
      else fs.listStatus(p).collect {
        case s if s.isDirectory && s.getPath.getName.startsWith("batch=") =>
          (s.getPath.getName.stripPrefix("batch=").toLong, s.getPath)
      }
    dirs.filter { case (_, dir) =>
      fs.listStatus(dir).exists { f =>
        f.isFile && f.getPath.getName.endsWith(".parquet")
      }
    }
  }

  /** The band-store read under [[minHashDedupStream]]'s probe: the
    * compacted bucket-group layout PRUNED to the current batch's own
    * bucket groups (≤ `buckets` distinct values — a bounded driver
    * collect feeding a partition filter), unioned with raw batches
    * published since the last compaction. Without a compacted layout this
    * is exactly the plain batch-partitioned read. */
  private[graft] def readBandStore(spark: org.apache.spark.sql.SparkSession,
                                   storePath: String, before: Long,
                                   batchBands: DataFrame,
                                   schema: org.apache.spark.sql.types.StructType)
  : DataFrame =
    readStoreWithCompact(spark, s"$storePath/bands",
      s"$storePath/bands_compact", before, schema,
      buckets => batchBands
        .select(pmod(col("bucket"), lit(buckets.toLong)).cast("int").as("g"))
        .distinct().collect().map(_.getInt(0)).toIndexedSeq)

  /** [[readBandStore]]'s verify-side twin: the shingle store pruned to the
    * id hash-groups of `candIds` (one id column, trigger-bounded). */
  private[graft] def readShingleStore(spark: org.apache.spark.sql.SparkSession,
                                      storePath: String, before: Long,
                                      candIds: DataFrame,
                                      schema: org.apache.spark.sql.types.StructType,
                                      idCol: String): DataFrame =
    readStoreWithCompact(spark, s"$storePath/shingles",
      s"$storePath/shingles_compact", before, schema,
      buckets => candIds
        .select(pmod(xxhash64(col(idCol)), lit(buckets.toLong))
          .cast("int").as("g"))
        .distinct().collect().map(_.getInt(0)).toIndexedSeq)

  /** [[readBandStore]]'s cell-store twin for the embedding stream's `asg`
    * side: the probe prunes the compacted layout to exactly the batch's
    * probed (tbl, centroid) cells. */
  private[graft] def readCellStore(spark: org.apache.spark.sql.SparkSession,
                                   storePath: String, before: Long,
                                   batchAsg: DataFrame,
                                   schema: org.apache.spark.sql.types.StructType)
  : DataFrame =
    readStoreWithCompact(spark, s"$storePath/asg",
      s"$storePath/asg_compact", before, schema,
      _ => batchAsg
        .select((col("tbl") * lit(CellGroupStride) + col("centroid"))
          .cast("int").as("g"))
        .distinct().collect().map(_.getInt(0)).toIndexedSeq)

  /** [[readShingleStore]]'s embedding twin: the `vecs` store pruned to the
    * candidate ids' hash-groups. */
  private[graft] def readVecStore(spark: org.apache.spark.sql.SparkSession,
                                  storePath: String, before: Long,
                                  candIds: DataFrame,
                                  schema: org.apache.spark.sql.types.StructType,
                                  idCol: String): DataFrame =
    readStoreWithCompact(spark, s"$storePath/vecs",
      s"$storePath/vecs_compact", before, schema,
      buckets => candIds
        .select(pmod(xxhash64(col(idCol)), lit(buckets.toLong))
          .cast("int").as("g"))
        .distinct().collect().map(_.getInt(0)).toIndexedSeq)

  /** Shared probe read: the compacted layout PRUNED to the groups the
    * current batch touches (a bounded driver collect feeding a partition
    * filter — int literals, since partition VALUE dir names read back as
    * IntegerType and a bare In is the cleanest prunable filter), unioned
    * with raw batches published since the last compaction. Without a
    * compacted layout this is exactly the plain batch-partitioned read. */
  private[streaming] def readStoreWithCompact(
      spark: org.apache.spark.sql.SparkSession,
                                   root: String, compRoot: String,
                                   before: Long,
                                   schema: org.apache.spark.sql.types.StructType,
                                   groupsOf: Int => Seq[Int]): DataFrame =
    readCompactMeta(spark, compRoot) match {
      case None => readStore(spark, root, before, schema)
      case Some((upto, buckets)) =>
        // the ahead check must also see COMPACTED ids: a fresh checkpoint
        // against a compacted store has no batch= dirs left to trip on.
        // upto == before is the legitimate replay-after-compaction case.
        if (upto > before) throw new IllegalStateException(
          s"near-dup store $compRoot already holds batches up to $upto but " +
            s"the stream is (re)starting at batch=$before: the checkpoint " +
            "was reset against a surviving store. Point the query at a " +
            "fresh storePath or restore the matching checkpoint.")
        val raw = readStore(spark, root, before, schema,
          minExclusive = upto)
        val groups = groupsOf(buckets)
        val data = spark.read.parquet(s"$compRoot/data")
        val compacted =
          (if (groups.isEmpty) data.filter(lit(false)) // empty isin is not a filter
           else data.filter(col("__bkt").isin(groups: _*)))
            .select(schema.fieldNames.map(col).toIndexedSeq: _*)
        raw.unionByName(compacted)
    }

  /** Read every `batch=<id>` partition with id < `before`; empty frame
    * with `schema` when the store has no prior COMMITTED batches (a dir
    * holding only a crashed write's `_temporary` counts as missing — parquet
    * schema inference would otherwise fail on it).
    *
    * Fails loud when the store holds batch ids STRICTLY GREATER than
    * `before`: at-least-once replay can re-see its OWN batch id (publish
    * happened, checkpoint commit did not), but a higher id only occurs when
    * the checkpoint was reset against a surviving store — continuing would
    * silently overwrite `batch=0...` and diverge from the documented
    * batch-equivalence. */
  private[streaming] def readStore(spark: org.apache.spark.sql.SparkSession,
                                   root: String, before: Long,
                                   schema: org.apache.spark.sql.types.StructType,
                                   minExclusive: Long = Long.MinValue)
  : DataFrame = {
    val p = new org.apache.hadoop.fs.Path(root)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val batchDirs =
      if (!fs.exists(p)) Array.empty[(Long, org.apache.hadoop.fs.Path)]
      else fs.listStatus(p).collect {
        case s if s.isDirectory && s.getPath.getName.startsWith("batch=") =>
          (s.getPath.getName.stripPrefix("batch=").toLong, s.getPath)
      }
    val ahead = batchDirs.map(_._1).filter(_ > before)
    if (ahead.nonEmpty) throw new IllegalStateException(
      s"near-dup store $root already holds batch=${ahead.max} but the " +
        s"stream is (re)starting at batch=$before: the checkpoint was reset " +
        "against a surviving store. Point the query at a fresh storePath " +
        "or restore the matching checkpoint — continuing would silently " +
        "overwrite published batches and emit divergent pairs.")
    // minExclusive skips batches a compaction already folded (their rows
    // arrive via the compacted layout — reading both would double them)
    val committed = batchDirs.filter { case (id, dir) =>
      id < before && id > minExclusive && fs.listStatus(dir).exists { f =>
        f.isFile && f.getPath.getName.endsWith(".parquet")
      }
    }
    if (committed.isEmpty)
      spark.createDataFrame(spark.sparkContext.emptyRDD[Row], schema)
    else
      // basePath keeps the batch partition column derivable even though we
      // enumerate only the committed partition dirs
      spark.read.option("basePath", root)
        .parquet(committed.map(_._2.toString).toIndexedSeq: _*)
        .drop("batch")
        .select(schema.fieldNames.map(col).toIndexedSeq: _*)
  }
}
