package graft.perfbench

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.functions._

import graft.core.Tables
import graft.jobs.{Auc, ItemCf, OfflineMetrics}
import graft.sinks.Sinks
import graft.sources.Ingest

/** The reference's daily traffic. Three of its four nightly batch jobs run
  * in sequence, with the public-call sequence of their mains (`ItemCfJob`,
  * `AucJob`, `OfflineMetricsJob`; `BoardStatsJob`, a second pair fan-out
  * like ItemCF's, is left out to fit the run-time budget), over one
  * generated `events` table; the mains themselves are not called: they fix
  * their own master and stop the session. Then the live dashboard replays the day's
  * action log: the batch parser counts the lines it keeps, and both
  * dashboards (`StreamingDashboard.run` and `runSketch`) read the log
  * through `Ingest.fileStream` in one micro-batch each, side by side,
  * upserting their metric stores. */
final class RecoBatch(cfg: Cfg) extends Workload {
  import DashboardStream.{place, replay, summary, batchMs}

  @volatile private var meter: WriteMeter = _
  private var hooked = false
  private lazy val liveFiles = DashboardStream.jsonFiles(Paths.get(cfg.data, "live"))

  override def prepare(ctx: Ctx): Unit = {
    // the offline ratios' DuckDB oracle, for the checker
    val dir = Files.createDirectories(Paths.get(cfg.work, "oracle"))
    Files.write(dir.resolve("offline.sql"),
      graft.queries.OfflineMetricsOracle.sql.getBytes("UTF-8"))
  }

  private def sink(ctx: Ctx, name: String)(body: => Unit): Unit = {
    ctx.call("sinks", name)(body)
    if (ctx.traced) meter.snapshot()
  }

  def iteration(ctx: Ctx, out: String): IterResult = {
    val spark = ctx.spark
    if (ctx.traced) {
      // the sinks' output trees: not the live leg's input copies or the
      // streaming queries' checkpoints
      meter = new WriteMeter(out, skip = Seq("live/in", "live/ckpt"))
      if (!hooked) { DashboardStream.snapshotEachBatch(ctx, meter); hooked = true }
    }
    val events = ctx.call("core", "Tables.events")(Tables.events(spark, cfg.data))

    // ItemCfJob
    val inter = ctx.call("jobs", "ItemCf.interactions")(
      ctx.kept(ItemCf.interactions(events)))
    val cooc = ctx.call("jobs", "ItemCf.cooccurrenceDecay")(
      ctx.out(ItemCf.cooccurrenceDecay(inter, n = 2)))
    val scores = ctx.call("jobs", "ItemCf.cosineScores")(
      ctx.persisted(ItemCf.cosineScores(cooc, inter)))
    val lists = ctx.call("jobs", "ItemCf.topListsWithScores")(
      ctx.out(ItemCf.topListsWithScores(scores, cap = 400, minLen = 0)))
    sink(ctx, "Sinks.writeText")(Sinks.writeText(
      lists.select(concat_ws("_", col("a"), col("toplist"))), s"$out/itemcf/countStat"))
    val hist = ctx.call("jobs", "ItemCf.sizeHistogram")(
      ctx.out(ItemCf.sizeHistogram(scores)))
    sink(ctx, "Sinks.writeText")(Sinks.writeText(
      hist.select(concat_ws(",", col("bucket"), col("cnt"))), s"$out/itemcf/quDuan"))

    // AucJob
    val merged = ctx.call("jobs", "Auc.aucAndUauc") {
      val base = ctx.kept(events
        .filter(col("event_type").isin("click", "view"))
        .select(pmod(col("user_id"), lit(5)).cast("long").as("scene"),
          col("user_id"), col("value").as("score"),
          when(col("event_type") === "click", 1).otherwise(0).as("label")))
      ctx.out(Auc.aucAndUauc(base, Seq("scene"), "user_id"))
    }
    sink(ctx, "Sinks.writeText")(Sinks.writeText(
      merged.select(concat_ws(",", col("scene"), col("auc_uauc"))),
      s"$out/auc/aucAndUaucResult"))

    // OfflineMetricsJob
    val wide = ctx.call("jobs", "OfflineMetrics.metricsWide")(
      ctx.out(OfflineMetrics.metricsWide(events)))
    sink(ctx, "Sinks.upsertMetricStore")(
      Sinks.upsertMetricStore(spark, s"$out/offline/metricstore", wide, Seq("scene")))
    sink(ctx, "Sinks.writeText")(Sinks.writeText(wide.select(concat_ws("_",
      wide.columns.toIndexedSeq.map(col): _*)), s"$out/offline/allStatResult"))
    val dayCache = ctx.call("jobs", "OfflineMetrics.actionLog")(
      ctx.out(OfflineMetrics.actionLog(events)
        .select(col("scene").cast("string").as("yesSceneId"),
          col("user_id").cast("string").as("yesUserId")).distinct()))
    sink(ctx, "Sinks.writeCsv")(
      Sinks.writeCsv(dayCache, s"$out/offline/actionUserId", sep = "/", parallelism = 24))

    // the live dashboard over the day's action log
    val in = Files.createDirectories(Paths.get(out, "live", "in"))
    liveFiles.foreach(place(_, in, None))
    val lines = ctx.call("sources", "Ingest.textLines")(Ingest.textLines(spark, in.toString))
    val parsed = ctx.call("sources", "Ingest.parseActionLog")(
      Ingest.parseActionLog(lines).count())
    val t0 = System.nanoTime()
    val (pe, ps) = replay(ctx, in.toString, s"$out/live", perTrigger = 0)
    val wall = (System.nanoTime() - t0) / 1e9
    if (ctx.traced) meter.snapshot()
    val se = summary(pe); val ss = summary(ps)
    IterResult(microBatches = (se("batches") + ss("batches")).toLong,
      extra = se ++ Map("input_rows_sketch" -> ss("input_rows"),
        "replay_wall_s" -> wall, "parsed" -> parsed.toDouble),
      samples = Map("batch_ms" -> (batchMs(pe) ++ batchMs(ps))))
  }

  override def layerExtras(ctx: Ctx, traced: Seq[(String, IterResult)])
  : Map[String, Double] = {
    // the traced iteration writes its own output tree; the meter covers it
    val written = if (meter == null) 0L else meter.bytesWritten
    val fin = if (meter == null) 0L else meter.finalBytes
    val input = Main.treeBytes(s"${cfg.data}/events.parquet") +
      liveFiles.map(Files.size).sum
    DashboardStream.streamingExtras(traced) ++
      DashboardStream.sinkExtras(written, fin, input.toDouble)
  }
}
