package graft.streaming

import java.nio.file.Files

import org.apache.spark.sql.functions._

/** The assembled ingest front door, driven end to end WITH batch
  * cross-check: every frozen-artifact gate in the repo composed over ONE
  * stream the way a production ingest would run them —
  *
  *  - a reference corpus is frozen once into THREE stored artifacts: the
  *    LM store ([[StreamingQuality.writeLmStore]] — token counts +
  *    tercile cutoffs), the eval-gram Bloom store
  *    ([[StreamingContamination.writeBloomStore]]) and the top-K
  *    vocabulary ([[StreamingHealth.writeVocabStore]]);
  *  - the documents table then replays as a file-source stream in four
  *    micro-batches, and ONE `foreachBatch` runs all four gates per
  *    trigger: quality bucketing ([[StreamingQuality.bucketBatch]]),
  *    per-source mix drift ([[StreamingDrift.driftBatch]]), the
  *    decontamination screen ([[StreamingContamination.screenBatch]]) —
  *    the per-doc legs joined into one verdict row — and the per-source
  *    health ledger ([[StreamingHealth.healthBatch]], batch-additive
  *    exact integers against the frozen vocabulary);
  *  - the SAME rehydrated LM store serves both the quality gate and the
  *    drift monitor — the one-store-two-monitors contract stated in
  *    [[StreamingDrift]], here actually exercised.
  *
  * Exit is non-zero unless: the union of per-doc verdict emissions equals
  * the batch twins on the same rows (quality and contamination are
  * stateless, so union == twin must hold bit-for-bit), every micro-batch
  * emitted one drift row per source present in it, and at least one
  * arrival was flagged by the screen (the fixture plants cross-split
  * near-dups). Driver-runnable at any SF:
  * `runMain graft.streaming.StreamingFrontDoor [sfDir]`.
  */
object StreamingFrontDoor {
  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.001")
    val spark = graft.core.Sessions.local("front-door", 8)
    spark.sparkContext.setLogLevel("WARN")
    import spark.implicits._

    val docs = graft.core.Tables.documents(spark, sfDir)
      .select(col("doc_id").cast("long").as("doc_id"), col("lang"),
        col("source"), col("text"))

    // ---- freeze the artifacts once, from the reference corpus ----
    val work = Files.createTempDirectory("graft_front_door").toString
    StreamingQuality.writeLmStore(docs, s"$work/lm")
    val evalDocs = docs.join(
      graft.llm.TextAnalysis.dataSplit(docs)
        .filter(col("split") =!= "train").select("doc_id"), Seq("doc_id"))
    StreamingContamination.writeBloomStore(
      StreamingContamination.freeze(evalDocs), s"$work/bloom", spark)

    StreamingHealth.writeVocabStore(docs, s"$work/vocab")

    // gates start from the stores alone — no reference-corpus rescan
    val lm = StreamingQuality.freezeFromStore(spark, s"$work/lm")
    val bloom = StreamingContamination.freezeFromStore(spark, s"$work/bloom")
    val vocab = StreamingHealth.readVocabStore(spark, s"$work/vocab")

    // ---- replay the corpus as four in-order micro-batches ----
    for (i <- 0 until 4)
      docs.filter(pmod(col("doc_id"), lit(4)) === i)
        .repartition(2).write.mode("append").parquet(s"$work/in")
    val schema = spark.read.parquet(s"$work/in").schema
    val stream = spark.readStream.schema(schema)
      .option("maxFilesPerTrigger", "2").parquet(s"$work/in")

    val verdicts = scala.collection.mutable.Set[
      (Long, String, Double, String, Long, Long, Boolean)]()
    val driftRows = scala.collection.mutable.ArrayBuffer[(Long, Long, Long)]()
    val healthRows = scala.collection.mutable.ArrayBuffer[
      (String, Long, Long, Long, Long, Long)]()
    val q = stream.writeStream
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .option("checkpointLocation", s"$work/ckpt")
      .foreachBatch { (batch: org.apache.spark.sql.DataFrame, id: Long) =>
        val quality = StreamingQuality.bucketBatch(batch, lm)
        val screen = StreamingContamination.screenBatch(batch, bloom)
        val verdict = quality.join(screen, Seq("doc_id"))
        verdicts ++= verdict
          .as[(Long, String, Double, String, Long, Long, Boolean)].collect()
        val drift = StreamingDrift.driftBatch(batch, lm)
        val nSources = drift.count()
        driftRows += ((id, nSources,
          batch.select("source").distinct().count()))
        healthRows ++= StreamingHealth.healthBatch(batch, vocab)
          .as[(String, Long, Long, Long, Long, Long)].collect()
        println(s"[front-door] batch $id: ${batch.count()} docs, " +
          s"$nSources sources scored for drift")
      }
      .start()
    q.awaitTermination()

    // ---- contract leg: the q216 audit per micro-batch over the events
    // stream (the gate an ingest runs before anything downstream trusts
    // the batch), replayed the same way the corpus was; every counter is
    // a count over rows, so summed per-batch rows must equal the
    // whole-corpus q216 relation bit-for-bit (the health leg's
    // additive-exact contract) ----
    val events = graft.core.Tables.events(spark, sfDir)
    for (i <- 0 until 4)
      events.filter(pmod(col("event_id"), lit(4)) === i)
        .repartition(2).write.mode("append").parquet(s"$work/ev_in")
    val evSchema = spark.read.parquet(s"$work/ev_in").schema
    val evStream = spark.readStream.schema(evSchema)
      .option("maxFilesPerTrigger", "2").parquet(s"$work/ev_in")
    val contractRows = scala.collection.mutable.ArrayBuffer[
      (Long, Long, Long, Long, Long, Long)]()
    val qc = evStream.writeStream
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .option("checkpointLocation", s"$work/ev_ckpt")
      .foreachBatch { (batch: org.apache.spark.sql.DataFrame, id: Long) =>
        val row = StreamingContract.contractBatch(batch)
          .as[(Long, Long, Long, Long, Long, Long)].head()
        contractRows += row
        println(s"[front-door] contract batch $id: ${row._1} events, " +
          s"${row._2} null-user, ${row._6} clicks missing item key")
      }
      .start()
    qc.awaitTermination()

    // ---- batch cross-check ----
    val twin = StreamingQuality.bucketBatch(docs, lm)
      .join(StreamingContamination.screenBatch(docs, bloom), Seq("doc_id"))
      .as[(Long, String, Double, String, Long, Long, Boolean)]
      .collect().toSet
    var ok = true
    if (verdicts.toSet != twin) {
      println(s"[front-door] FAIL: union of verdicts (${verdicts.size}) " +
        s"!= batch twin (${twin.size})")
      ok = false
    }
    driftRows.foreach { case (id, scored, present) =>
      if (scored != present) {
        println(s"[front-door] FAIL: batch $id scored $scored sources, " +
          s"$present present")
        ok = false
      }
    }
    if (!verdicts.exists(!_._7)) {
      println("[front-door] FAIL: no arrival was flagged by the screen")
      ok = false
    }
    // the health leg's columns are batch-additive by design: the
    // per-source SUM of the micro-batch rows must equal the whole-corpus
    // relation bit-for-bit
    val healthSum = healthRows.groupBy(_._1).map { case (src, rows) =>
      (src, rows.map(_._2).sum, rows.map(_._3).sum, rows.map(_._4).sum,
        rows.map(_._5).sum, rows.map(_._6).sum)
    }.toSet
    val healthTwin = StreamingHealth.healthBatch(docs, vocab)
      .as[(String, Long, Long, Long, Long, Long)].collect().toSet
    if (healthSum != healthTwin) {
      println(s"[front-door] FAIL: summed health rows (${healthSum.size} " +
        s"sources) != batch twin (${healthTwin.size})")
      ok = false
    }
    // contract leg cross-check: summed per-batch counters == the
    // whole-corpus q216 row, exactly
    val contractSum = (
      contractRows.map(_._1).sum, contractRows.map(_._2).sum,
      contractRows.map(_._3).sum, contractRows.map(_._4).sum,
      contractRows.map(_._5).sum, contractRows.map(_._6).sum)
    val contractTwin = StreamingContract.contractBatch(events)
      .as[(Long, Long, Long, Long, Long, Long)].head()
    if (contractSum != contractTwin) {
      println(s"[front-door] FAIL: summed contract counters $contractSum " +
        s"!= whole-corpus audit $contractTwin")
      ok = false
    }
    if (contractRows.isEmpty || contractSum._1 == 0L) {
      println("[front-door] FAIL: contract leg saw no events")
      ok = false
    }
    val flagged = verdicts.count(!_._7)
    val tail = verdicts.count(_._4 == "tail")
    println(s"[front-door] ${if (ok) "OK" else "FAILED"}: " +
      s"${verdicts.size} verdicts, $flagged screened, $tail tail-bucketed, " +
      s"${driftRows.size} drift batches, ${healthSum.size} sources in " +
      s"the health ledger, ${contractRows.size} contract batches over " +
      s"${contractSum._1} events")
    lm.release()
    spark.stop()
    if (!ok) sys.exit(1)
  }
}
