package graft.streaming

import java.nio.file.Files

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger

/** End-to-end streaming drive WITH batch cross-check: replays the `events`
  * test table through a file-source stream (S10) → watermarked 5-min
  * aggregation (T2) → foreachBatch metric-store upsert + multi-resolution
  * rollup (T3/T5), for BOTH the exact pipeline and the HLL-sketch pipeline
  * (T13), then asserts the final coarse stores against the batch analogs
  * the DuckDB gate verifies (q24 hourly, q25 UTC+8 day):
  *
  *  - coarse PV per (key, hour) and per (key, UTC+8 day) must equal the
  *    batch aggregation EXACTLY (pv is additive — any drift means the
  *    incremental flush lost or double-counted a partial);
  *  - sketch-pipeline coarse UV must be within 5% relative error of the
  *    exact batch distinct count per hour (DataSketches HLL at the default
  *    lgK=12 has ~2.5% RSE, so 5% is a 2σ bound).
  *
  * Exits non-zero on any mismatch — driver-runnable at any SF:
  * `runMain graft.streaming.StreamingDemo [sfDir]` (sf0.1 for the
  * non-toy-scale check).
  */
object StreamingDemo {
  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.001")
    val spark = graft.core.Sessions.local("streaming-demo", 8)
    spark.sparkContext.setLogLevel("WARN")

    val work = Files.createTempDirectory("graft_stream_demo").toString
    // Stage the table as an event-time-ORDERED replay: four sequential
    // ts-range slices (2 files each), written one after another so the file
    // source's modification-time ordering feeds them to AvailableNow as four
    // in-order micro-batches (maxFilesPerTrigger=2) — exercising the T5
    // re-emission/upsert path across triggers. Order matters: a shuffled
    // replay makes month-old rows arrive after newer ones and the T4
    // watermark (correctly) drops them, which a batch count never would —
    // the comparison below is only meaningful on a valid, ordered log.
    val ev = graft.core.Tables.events(spark, sfDir)
      .select(col("ts"), col("user_id"), col("event_type").as("key"))
    import spark.implicits._
    val (lo, hi) = ev.agg(min(unix_millis(col("ts"))),
      max(unix_millis(col("ts")))).as[(Long, Long)].head()
    val step = (hi - lo) / 4 + 1
    for (i <- 0 until 4)
      ev.filter(unix_millis(col("ts")).between(lo + i * step,
          lo + (i + 1) * step - 1))
        .repartition(2)
        .write.mode("append").parquet(s"$work/in")
    val schema = spark.read.parquet(s"$work/in").schema
    def stream = spark.readStream.schema(schema)
      .option("maxFilesPerTrigger", "2").parquet(s"$work/in")

    StreamingDashboard.run(stream, s"$work/store", s"$work/ckpt",
      trigger = Trigger.AvailableNow()).start().awaitTermination()
    StreamingDashboard.runSketch(stream, s"$work/sketch", s"$work/ckpt2",
      trigger = Trigger.AvailableNow()).start().awaitTermination()

    // ---- batch ground truth (the q24/q25 shapes, keyed) ----
    val events = graft.core.Tables.events(spark, sfDir)
      .select(col("event_type").as("key"), col("ts"), col("user_id"))
    val hourly = events
      .groupBy(col("key"), window(col("ts"), "1 hour").as("w"))
      .agg(count(lit(1)).as("pv"), countDistinct(col("user_id")).as("uv"))
      .select(col("key"), unix_millis(col("w.start")).as("window_start_ms"),
        col("pv"), col("uv"))
    val daily = events
      .groupBy(col("key"),
        StreamingDashboard.dayFloor(unix_millis(col("ts")))
          .as("window_start_ms"))
      .agg(count(lit(1)).as("pv"))

    // exact-pipeline coarse rows carry pv only (exact uv is not mergeable);
    // the sketch store also has uv
    def coarse(store: String, gran: String): DataFrame = {
      val df = spark.read.parquet(s"$work/$store/coarse")
        .filter(col("granularity") === gran)
      val cols = Seq("key", "window_start_ms", "pv") ++
        (if (df.columns.contains("uv")) Seq("uv") else Nil)
      df.select(cols.map(col): _*)
    }

    def comparePv(got: DataFrame, want: DataFrame, what: String): Unit = {
      val diff = got.select("key", "window_start_ms", "pv")
        .exceptAll(want.select("key", "window_start_ms", "pv"))
        .unionByName(want.select("key", "window_start_ms", "pv")
          .exceptAll(got.select("key", "window_start_ms", "pv")))
      val n = diff.count()
      require(n == 0, {
        diff.show(10, truncate = false)
        s"$what: $n (key, window, pv) rows differ from the batch analog"
      })
      println(s"[demo] PASS $what pv exact (${want.count()} windows)")
    }

    comparePv(coarse("store", "1h"), hourly, "exact-pipeline hourly")
    comparePv(coarse("store", "1d"), daily, "exact-pipeline UTC+8 daily")
    comparePv(coarse("sketch", "1h"), hourly, "sketch-pipeline hourly")

    // sketch UV within 5% of exact, every hourly window
    val uvErr = coarse("sketch", "1h").alias("g")
      .join(hourly.alias("w"), Seq("key", "window_start_ms"))
      .select(col("key"), col("window_start_ms"),
        col("g.uv").cast("double").as("got"),
        col("w.uv").cast("double").as("want"))
      .withColumn("rel", abs(col("got") - col("want")) / col("want"))
    val worst = uvErr.agg(max("rel")).head().getDouble(0)
    require(worst <= 0.05, {
      uvErr.orderBy(col("rel").desc).show(10, truncate = false)
      f"sketch uv relative error $worst%.4f exceeds 5%% HLL bound"
    })
    println(f"[demo] PASS sketch uv within HLL tolerance (worst rel err " +
      f"$worst%.4f over ${uvErr.count()} windows)")

    // ---- stateful monitors on the same ordered replay: the journey
    // transition matrix and the conversion funnel, cross-batch state in
    // flatMapGroupsWithState; under this replay (per-user event-time
    // order across the four micro-batches) both must aggregate to their
    // batch relations (q125/q124) bit-for-bit ----
    val evFull = graft.core.Tables.events(spark, sfDir)
      .select(col("user_id"), col("event_type"), col("ts"), col("event_id"))
    for (i <- 0 until 4)
      evFull.filter(unix_millis(col("ts")).between(lo + i * step,
          lo + (i + 1) * step - 1))
        .repartition(2)
        .write.mode("append").parquet(s"$work/in2")
    val schema2 = spark.read.parquet(s"$work/in2").schema
    def stream2 = spark.readStream.schema(schema2)
      .option("maxFilesPerTrigger", "2").parquet(s"$work/in2")
    implicit val s: SparkSession = spark
    StreamingJourney.transitions(stream2).writeStream
      .outputMode("append").format("memory").queryName("demo_journey")
      .option("checkpointLocation", s"$work/ckptJ")
      .trigger(Trigger.AvailableNow()).start().awaitTermination()
    StreamingJourney.funnel(stream2).writeStream
      .outputMode("append").format("memory").queryName("demo_funnel")
      .option("checkpointLocation", s"$work/ckptF")
      .trigger(Trigger.AvailableNow()).start().awaitTermination()
    val jGot = spark.table("demo_journey")
      .groupBy("from_type", "to_type").agg(count(lit(1)).as("n"))
      .as[(String, String, Long)].collect().toSet
    val jWant = graft.queries.RankQueries.eventTransitions(spark, sfDir)
      .as[(String, String, Long)].collect().toSet
    require(jGot == jWant,
      s"journey monitor diverged from batch q125: ${jGot.size} vs ${jWant.size} cells")
    println(s"[demo] PASS journey monitor == batch transition matrix " +
      s"(${jWant.size} cells)")
    val fGot = spark.table("demo_funnel").groupBy("stage_idx")
      .agg(count(lit(1)).as("n")).as[(Long, Long)].collect().toMap
    val fWant = graft.queries.RankQueries.funnel(spark, sfDir)
      .as[(Long, String, Long)].collect().map(r => r._1 -> r._3).toMap
    require((1L to 4L).map(k => fGot.getOrElse(k, 0L)) ==
      (1L to 4L).map(fWant),
      s"funnel monitor diverged from batch q124: $fGot vs $fWant")
    println(s"[demo] PASS funnel monitor == batch funnel " +
      s"(${fWant.values.sum} advances)")

    // ---- gap sessionizer on a DISORDERED replay (q137 maintained at
    // ingest): events near slice boundaries hop one slice (deterministic
    // event_id jitter, hop ≤ step/4), the watermark delay covers the
    // disorder (3·hop > 2·hop bound), and a far-future sentinel file
    // flushes every buffer. Closed sessions must equal the batch q137
    // relation minus each user's open tail EXACTLY — the sessionizer's
    // whole contract is that arrival order inside the watermark cannot
    // change a boundary ----
    val hop = step / 4
    val tsm = unix_millis(col("ts"))
    val home = least(floor((tsm - lit(lo)) / lit(step)), lit(3L))
    val jit = pmod(col("event_id").cast("long"), lit(7L))
    val hopped = when(
        tsm >= (lit(lo) + (home + 1) * lit(step) - lit(hop)) &&
          jit === 0L && home < 3L, home + 1)
      .when(tsm < (lit(lo) + home * lit(step) + lit(hop)) &&
          jit === 1L && home > 0L, home - 1)
      .otherwise(home)
    val evS = graft.core.Tables.events(spark, sfDir)
      .select(col("user_id"), col("ts"), col("event_id"),
        hopped.as("__slice"), (hopped =!= home).as("__moved"))
    val nMoved = evS.filter(col("__moved")).count()
    require(nMoved > 0, "replay must contain real cross-batch disorder")
    for (i <- 0 until 4)
      evS.filter(col("__slice") === i)
        .select("user_id", "ts", "event_id")
        .repartition(1)
        .write.mode("append").parquet(s"$work/in3")
    val tFar = hi + 10 * step
    Seq((-1L, new java.sql.Timestamp(tFar), -1L),
        (-2L, new java.sql.Timestamp(tFar + 1000L), -2L))
      .toDF("user_id", "ts", "event_id")
      .repartition(1).write.mode("append").parquet(s"$work/in3")
    val schema3 = spark.read.parquet(s"$work/in3").schema
    val stream3 = spark.readStream.schema(schema3)
      .option("maxFilesPerTrigger", "1").parquet(s"$work/in3")
    StreamingJourney.sessions(stream3, s"${3 * hop} milliseconds")
      .writeStream
      .outputMode("append").format("memory").queryName("demo_sessions")
      .option("checkpointLocation", s"$work/ckptS")
      .trigger(Trigger.AvailableNow()).start().awaitTermination()
    val sGot = spark.table("demo_sessions")
      .as[(Long, Long, Long, Long)].collect().toSet
    // batch twin minus each user's open tail (the stream's last session
    // could still grow; the sentinels' own 1-event sessions likewise)
    val sWant = graft.queries.RankQueries.sessionDetail(spark, sfDir)
      .as[(Long, Long, Long, Long, Long)].collect()
      .groupBy(_._1).toSeq.flatMap { case (_, ss) =>
        val open = ss.map(_._2).max
        ss.filter(_._2 != open).toSeq
      }.map(r => (r._1, r._3, r._4, r._5)).toSet
    require(sWant.nonEmpty, "fixture must close sessions")
    require(sGot == sWant,
      s"sessionizer diverged from batch q137: missing " +
        s"${(sWant -- sGot).take(3)}, extra ${(sGot -- sWant).take(3)}")
    println(s"[demo] PASS gap sessionizer == batch q137 minus open tails " +
      s"(${sWant.size} closed sessions, $nMoved events displaced)")

    // ---- bloom store maintained at ingest (q170's words, one epoch per
    // micro-batch): the OR-merged store must equal the one-shot filter
    // over everything ingested BIT-FOR-BIT, and every ingested value
    // must probe positive over the merged span ----
    StreamingDedup.runBloomStore(
        stream2.select(concat(col("user_id").cast("string"), lit(":"),
          col("event_type")).as("v")),
        s"$work/bloom", s"$work/ckptB", valueCol = "v",
        trigger = Trigger.AvailableNow()).start().awaitTermination()
    val bloomEpochs = spark.read.parquet(s"$work/bloom")
      .select("epoch").distinct().count()
    val bMerged = graft.ops.Sketch.mergedBloomWords(spark, s"$work/bloom")
      .as[(Long, Long)].collect().sorted.toSeq
    val bPairs = evFull.select(concat(col("user_id").cast("string"),
      lit(":"), col("event_type")).as("v"))
    val bOneShot = graft.ops.Sketch.bloomWords(bPairs, "v")
      .as[(Long, Long)].collect().sorted.toSeq
    require(bMerged == bOneShot,
      "streamed bloom store diverged from the one-shot filter")
    val bProbe = graft.ops.Sketch.mergedBloomProbe(spark, s"$work/bloom",
        bPairs, "v")
      .filter(!col("maybe")).count()
    require(bProbe == 0,
      s"$bProbe ingested values probed negative — impossible for a bloom")
    println(s"[demo] PASS bloom store == one-shot filter over " +
      s"$bloomEpochs epochs, zero false negatives")

    // ---- watermarked stream-stream interval join (the q47 shape with
    // TRUE two-sided streaming state): all (click, view-within-5-min-
    // before) pairs across the whole replay must equal the batch
    // RangeJoin, once each ----
    val ssj = StreamingAttribution.intervalJoinStream(
      stream2.filter(col("event_type") === "click")
        .select(col("event_id").as("click_id"), col("user_id"),
          col("ts").as("cts")),
      stream2.filter(col("event_type") === "view")
        .select(col("event_id").as("view_id"), col("user_id"),
          col("ts").as("vts")),
      lookbackMs = 300000L, watermarkDelay = "2 hours")
    ssj.writeStream.outputMode("append").format("memory")
      .queryName("demo_ssj")
      .option("checkpointLocation", s"$work/ckptSSJ")
      .trigger(Trigger.AvailableNow()).start().awaitTermination()
    val ssjGot = spark.table("demo_ssj")
      .select("click_id", "view_id").as[(Long, Long)].collect().sorted.toSeq
    val ssjWant = graft.ops.RangeJoin.intervalJoin(
        evFull.filter(col("event_type") === "click")
          .select(col("event_id").as("click_id"), col("user_id"),
            col("ts").as("cts")),
        evFull.filter(col("event_type") === "view")
          .select(col("event_id").as("view_id"), col("user_id"),
            col("ts").as("vts")),
        Seq("user_id"), "cts", "vts", lowerMs = -300000L, upperMs = 0L)
      .select("click_id", "view_id").as[(Long, Long)].collect().sorted.toSeq
    require(ssjGot == ssjWant,
      s"stream-stream join diverged from batch interval join: " +
        s"${ssjGot.size} vs ${ssjWant.size} pairs")
    println(s"[demo] PASS stream-stream interval join == batch q47 " +
      s"(${ssjWant.size} pairs)")

    // ---- streaming CUSUM monitor (q173's statistic, O(1) state/key):
    // streamed per-point values must equal the textbook recurrence run
    // over the same (ts, value)-ordered points per key ----
    val cusumIn = stream2.select(col("event_type").as("key"),
      unix_millis(col("ts")).as("ts"),
      pmod(col("event_id"), lit(100L)).cast("long").as("value"))
    Alerts.cusumMonitor(cusumIn, target = 50L, alarmAt = 500L)
      .writeStream.outputMode("append").format("memory")
      .queryName("demo_cusum")
      .option("checkpointLocation", s"$work/ckptC")
      .trigger(Trigger.AvailableNow()).start().awaitTermination()
    val cGot = spark.table("demo_cusum")
      .select("key", "ts", "value", "cusum", "alarm")
      .as[(String, Long, Long, Long, Boolean)].collect()
      .groupBy(_._1).map { case (k, rs) =>
        k -> rs.map(r => (r._2, r._3, r._4, r._5)).sorted.toSeq }
    val cWant = evFull
      .select(col("event_type").as("key"), unix_millis(col("ts")).as("ts"),
        pmod(col("event_id"), lit(100L)).cast("long").as("value"))
      .as[(String, Long, Long)].collect()
      .groupBy(_._1).map { case (k, rs) =>
        var s0 = 0L
        k -> rs.map(r => (r._2, r._3)).sorted.map { case (t, v) =>
          s0 = math.max(0L, s0 + (v - 50L))
          (t, v, s0, s0 > 500L)
        }.sorted.toSeq
      }
    require(cGot == cWant,
      s"streaming CUSUM diverged from the recurrence: " +
        s"keys ${cGot.keySet} vs ${cWant.keySet}")
    println(s"[demo] PASS streaming CUSUM == textbook recurrence " +
      s"(${cWant.values.map(_.size).sum} points, " +
      s"${cWant.values.flatten.count(_._4)} alarms)")

    // ---- heavy-hitter (Misra-Gries) store maintained at ingest: one
    // <= k-row summary per micro-batch; the span merge must honor the
    // mergeable bound against exact batch counts — never overcount,
    // undercount <= n/(k+1), everything above that threshold present ----
    val tfK = 16
    val tfKey = concat(lit("u"), pmod(col("user_id"), lit(100L)))
    StreamingDedup.runTopFreqStore(
        stream2.filter(col("event_type") === "click")
          .select(tfKey.as("v")),
        s"$work/topfreq", s"$work/ckptTF", valueCol = "v", k = tfK,
        trigger = Trigger.AvailableNow()).start().awaitTermination()
    val tfEpochs = spark.read.parquet(s"$work/topfreq")
      .select("epoch").distinct().count()
    val tfEst = graft.ops.Scale.mergedHeavyHitters(spark, s"$work/topfreq")
      .as[(String, Long)].collect().toMap
    val tfExact = evFull.filter(col("event_type") === "click")
      .select(tfKey.as("v"))
      .groupBy("v").count().as[(String, Long)].collect().toMap
    val tfN = tfExact.values.sum
    val tfBudget = tfN / (tfK + 1)
    require(tfEst.forall { case (it, c) => c <= tfExact(it) },
      "MG counters overcounted — impossible")
    require(tfEst.forall { case (it, c) => tfExact(it) - c <= tfBudget },
      s"MG undercount exceeded the n/(k+1) = $tfBudget budget")
    val tfMust = tfExact.filter(_._2 > tfBudget).keySet
    require(tfMust.subsetOf(tfEst.keySet),
      s"items above n/(k+1) missing from the merged store: " +
        s"${tfMust -- tfEst.keySet}")
    println(s"[demo] PASS heavy-hitter store within MG bound over " +
      s"$tfEpochs epochs (${tfEst.size} counters vs ${tfExact.size} " +
      s"exact keys, budget $tfBudget)")
    spark.stop()
  }
}
