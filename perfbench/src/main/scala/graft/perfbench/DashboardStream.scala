package graft.perfbench

import java.nio.file.{Files, Path, Paths, StandardCopyOption}
import java.nio.file.attribute.FileTime

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{DataStreamWriter, StreamingQuery, StreamingQueryProgress, Trigger}

import graft.sources.Ingest
import graft.streaming.StreamingDashboard

/** The live PV/UV dashboard: JSON action-log lines through the file-stream
  * source and the action-log parser into the exact (`run`) and HLL
  * (`runSketch`) dashboards, each upserting its metric store every
  * micro-batch.
  *
  * An iteration replays a backlog of files already in the watched
  * directory, `files_per_trigger` files per micro-batch, through both
  * pipelines side by side. In the traced run, [[finish]] then runs both
  * pipelines side by side while one generator thread renames files into
  * the watched directory at a fixed rate, on schedule whether or not the
  * stream keeps up, and maps every file to the batch that consumed it by
  * cumulative input rows (every file has `rows_per_file` lines). */
final class DashboardStream(cfg: Cfg) extends Workload {
  import DashboardStream._

  private val rowsPerFile = cfg.pl("rows_per_file")
  private lazy val replayFiles = jsonFiles(Paths.get(cfg.data, "replay"))
  private lazy val rateFiles = jsonFiles(Paths.get(cfg.data, "rate"))
  @volatile private var meter: WriteMeter = _
  private var hooked = false

  /** Rows the action-log parser keeps from a file set: the same parser
    * over the same files as a batch read. With the store's accepted rows
    * this splits the stream's drops into parse drops and late drops. */
  override def checkData(ctx: Ctx): Map[String, Double] =
    Seq("replay", "rate").map { set =>
      s"parsed_$set" -> Ingest.parseActionLog(
        Ingest.textLines(ctx.spark, Paths.get(cfg.data, set).toString)).count().toDouble
    }.toMap

  private def hook(ctx: Ctx, stores: String): Unit = {
    meter = new WriteMeter(stores)
    if (!hooked) { snapshotEachBatch(ctx, meter); hooked = true }
  }

  def iteration(ctx: Ctx, out: String): IterResult = {
    val in = Files.createDirectories(Paths.get(out, "in"))
    val base = System.currentTimeMillis() - 3600L * 1000
    replayFiles.zipWithIndex.foreach { case (f, k) => place(f, in, Some(base + k * 1000L)) }
    if (ctx.traced) hook(ctx, s"$out/stores")
    val t0 = System.nanoTime()
    val (pe, ps) = replay(ctx, in.toString, out, cfg.pi("files_per_trigger"))
    val se = summary(pe); val ss = summary(ps)
    val extra = se ++ Map(
      "input_rows_sketch" -> ss("input_rows"),
      "replay_wall_s" -> (System.nanoTime() - t0) / 1e9,
      "input_bytes" -> replayFiles.map(Files.size).sum.toDouble)
    IterResult(microBatches = (se("batches") + ss("batches")).toLong, extra = extra,
      samples = Map("batch_ms" -> (batchMs(pe) ++ batchMs(ps))))
  }

  override def finish(ctx: Ctx, out: String): Map[String, Double] = {
    val spark = ctx.spark
    val in = Files.createDirectories(Paths.get(out, "in"))
    if (ctx.traced) hook(ctx, s"$out/stores")
    place(rateFiles.head, in, None)
    def start(name: String, store: String,
              run: (DataFrame, String, String, Trigger) => DataStreamWriter[Row])
    : StreamingQuery = {
      val lines = ctx.call("sources", "Ingest.fileStream")(Ingest.fileStream(spark, in.toString))
      val ev = events(ctx, lines)
      ctx.call("streaming", name)(run(ev, s"$out/stores/$store", s"$out/ckpt/$store",
        Trigger.ProcessingTime(0L)).start())
    }
    val qs = Seq(
      start("StreamingDashboard.run", "exact", (e, s, c, t) => StreamingDashboard.run(e, s, c, trigger = t)),
      start("StreamingDashboard.runSketch", "sketch", (e, s, c, t) => StreamingDashboard.runSketch(e, s, c, trigger = t)))
    def consumed(q: StreamingQuery): Long = q.recentProgress.map(_.numInputRows).sum
    def await(rows: Long, timeoutS: Double): Boolean = {
      val t0 = System.nanoTime()
      while (qs.exists(q => consumed(q) < rows) && (System.nanoTime() - t0) / 1e9 < timeoutS) {
        qs.foreach(q => q.exception.foreach(e => throw e))
        Thread.sleep(5)
      }
      qs.forall(q => consumed(q) >= rows)
    }
    require(await(rowsPerFile, 120), "fixed-rate phase: priming batch never committed")

    // one generator thread, fixed schedule
    val rate = cfg.pd("rate_files_per_s")
    val created = new Array[Long](rateFiles.length)
    val t0 = System.nanoTime()
    val gen = new Thread(() => {
      rateFiles.zipWithIndex.drop(1).foreach { case (f, k) =>
        val due = t0 + ((k - 1) / rate * 1e9).toLong
        val wait = due - System.nanoTime()
        if (wait > 0) Thread.sleep(wait / 1000000, (wait % 1000000).toInt)
        created(k) = place(f, in, None)
      }
    }, "perfbench-generator")
    gen.start(); gen.join()
    val scheduleS = (System.nanoTime() - t0) / 1e9
    val backlogEnd = qs.map(q => rateFiles.length - consumed(q) / rowsPerFile).max
    val drained = await(rowsPerFile * rateFiles.length, 120)
    Tracer.armed.set(false)
    qs.foreach(_.stop())
    require(drained, "fixed-rate phase: stream did not drain the offered files")

    // file k is consumed by the first batch whose cumulative input rows
    // reach (k+1) files; its commit = batch start + trigger duration
    val fresh = qs.flatMap { q =>
      var cum = 0L
      val commits = q.recentProgress.toSeq.filter(_.numInputRows > 0).map { p =>
        cum += p.numInputRows
        (cum, java.time.Instant.parse(p.timestamp).toEpochMilli +
          p.durationMs.get("triggerExecution").longValue())
      }
      (1 until rateFiles.length).flatMap { k =>
        commits.find(_._1 >= (k + 1) * rowsPerFile).map(c => (c._2 - created(k)).toDouble)
      }
    }
    val ps = qs.map(_.recentProgress.toSeq)
    val se = summary(ps.head)
    Map(
      "freshness_p50_ms" -> pct(fresh, 0.50),
      "freshness_p95_ms" -> pct(fresh, 0.95),
      "freshness_samples" -> fresh.length.toDouble,
      "rate_files_per_s" -> rate,
      "rate_events_per_s" -> rate * rowsPerFile,
      "schedule_s" -> scheduleS,
      "backlog_files_end" -> backlogEnd.toDouble,
      "batches" -> ps.map(_.count(_.numInputRows > 0)).sum.toDouble,
      "input_rows" -> se("input_rows"),
      "input_rows_sketch" -> summary(ps(1))("input_rows"))
  }

  override def layerExtras(ctx: Ctx, traced: Seq[(String, IterResult)])
  : Map[String, Double] = {
    val written = if (meter == null) 0L else meter.bytesWritten
    val fin = if (meter == null) 0L else meter.finalBytes
    streamingExtras(traced) ++
      sinkExtras(written, fin, replayFiles.map(Files.size).sum.toDouble)
  }
}

object DashboardStream {
  /** Copy `f` into `dir` under a dot name (invisible to the file source),
    * then rename it into place atomically. */
  def place(f: Path, dir: Path, mtime: Option[Long]): Long = {
    val tmp = dir.resolve("." + f.getFileName + ".tmp")
    Files.copy(f, tmp, StandardCopyOption.REPLACE_EXISTING)
    mtime.foreach(t => Files.setLastModifiedTime(tmp, FileTime.fromMillis(t)))
    Files.move(tmp, dir.resolve(f.getFileName), StandardCopyOption.ATOMIC_MOVE)
    System.currentTimeMillis()
  }

  /** The `.json` files of a generated action-log directory, in order. */
  def jsonFiles(dir: Path): Seq[Path] = {
    val s = Files.list(dir)
    try s.iterator().asScala.filter(_.toString.endsWith(".json")).toSeq
      .sortBy(_.getFileName.toString)
    finally s.close()
  }

  def events(ctx: Ctx, lines: DataFrame): DataFrame =
    ctx.call("sources", "Ingest.parseActionLog")(Ingest.parseActionLog(lines))
      .select(col("action").as("key"),
        timestamp_millis(col("actionTime")).as("ts"), col("userId").as("user_id"))

  /** Both dashboards (`run`, exact, and `runSketch`, HLL) replay the files
    * already in `in` side by side, each from its own thread, and upsert
    * their stores under `out/stores`. `perTrigger` files per micro-batch,
    * or all of them in one (0). Returns the progress reports of each. */
  def replay(ctx: Ctx, in: String, out: String, perTrigger: Int)
  : (Seq[StreamingQueryProgress], Seq[StreamingQueryProgress]) = {
    val spark = ctx.spark
    def one(name: String, store: String,
            start: (DataFrame, String, String) => DataStreamWriter[Row])
    : Forked[Seq[StreamingQueryProgress]] = new Forked({
      val lines = ctx.call("sources", "Ingest.fileStream")(
        if (perTrigger == 0) Ingest.fileStream(spark, in)
        // Ingest.fileStream's text source with a per-trigger file cap, so
        // the backlog replays as a sequence of micro-batches
        else spark.readStream.option("maxFilesPerTrigger", perTrigger).text(in).toDF("line"))
      val ev = events(ctx, lines)
      // the layer call blocks until its query has drained
      ctx.call("streaming", name) {
        val q = start(ev, s"$out/stores/$store", s"$out/ckpt/$store").start()
        q.awaitTermination()
        q.recentProgress.toSeq
      }
    })
    val runs = Seq(
      one("StreamingDashboard.run", "exact", (ev, s, c) =>
        StreamingDashboard.run(ev, s, c, trigger = Trigger.AvailableNow())),
      one("StreamingDashboard.runSketch", "sketch", (ev, s, c) =>
        StreamingDashboard.runSketch(ev, s, c, trigger = Trigger.AvailableNow())))
    val Seq(pe, ps) = runs.map(_.join())
    (pe, ps)
  }

  def summary(ps: Seq[StreamingQueryProgress]): Map[String, Double] = {
    val withOps = ps.filter(_.stateOperators.nonEmpty)
    val last = withOps.lastOption
    Map(
      "input_rows" -> ps.map(_.numInputRows).sum.toDouble,
      "batches" -> ps.count(_.numInputRows > 0).toDouble,
      // Spark's own count: the stateful operator's inputs below the
      // watermark, which are partial aggregates, not input rows
      "watermark_dropped_aggs" ->
        withOps.map(_.stateOperators.map(_.numRowsDroppedByWatermark).sum).sum.toDouble,
      "state_rows" -> last.map(_.stateOperators.map(_.numRowsTotal).sum).getOrElse(0L).toDouble,
      "state_mb" -> last.map(_.stateOperators.map(_.memoryUsedBytes).sum)
        .getOrElse(0L) / 1024.0 / 1024.0)
  }

  def batchMs(ps: Seq[StreamingQueryProgress]): Seq[Double] =
    ps.filter(_.numInputRows > 0)
      .map(_.durationMs.get("triggerExecution").doubleValue())

  /** Nearest-rank percentile. */
  def pct(xs: Seq[Double], q: Double): Double =
    if (xs.isEmpty) 0.0 else {
      val s = xs.sorted
      s(math.min(s.length - 1, math.max(0, math.ceil(q * s.length).toInt - 1)))
    }

  /** The streaming layer's own metrics over the traced iterations' replays
    * (their `IterResult` extras and batch-duration samples). */
  def streamingExtras(traced: Seq[(String, IterResult)]): Map[String, Double] = {
    val n = math.max(traced.length, 1).toDouble
    def sum(k: String) = traced.map(_._2.extra.getOrElse(k, 0.0)).sum
    val ms = traced.flatMap(_._2.samples.getOrElse("batch_ms", Nil))
    Map(
      "streaming.batches" -> traced.map(_._2.microBatches).sum / n,
      "streaming.state_rows" -> sum("state_rows") / n,
      "streaming.state_mb" -> sum("state_mb") / n,
      "streaming.batch_p50_ms" -> pct(ms, 0.50),
      "streaming.batch_p95_ms" -> pct(ms, 0.95),
      "streaming.events_per_s" ->
        (sum("input_rows") + sum("input_rows_sketch")) / sum("replay_wall_s"))
  }

  /** The sinks layer's write metrics: bytes written (every file version
    * seen), final store bytes and input bytes. */
  def sinkExtras(written: Long, fin: Long, inputBytes: Double): Map[String, Double] = {
    val mb = 1024.0 * 1024.0
    Map(
      "sinks.bytes_written_mb" -> written / mb,
      "sinks.write_amp" -> (if (fin == 0) 0.0 else written.toDouble / fin),
      "sinks.write_amp.num_mb" -> written / mb,
      "sinks.write_amp.den_mb" -> fin / mb,
      "sinks.store_mb_per_input_mb" -> (if (inputBytes == 0) 0.0 else fin / inputBytes))
  }

  /** Snapshot `meter` on every streaming progress event of the traced run
    * (register once per workload). */
  def snapshotEachBatch(ctx: Ctx, meter: => WriteMeter): Unit =
    ctx.tracer.foreach(_.progress.hooks.add(_ => if (ctx.traced && meter != null) meter.snapshot()))
}

/** `body` on a thread of its own, started now; `join` returns its result or
  * rethrows its failure. A fresh thread (not a pool's) so it inherits the
  * caller's current Spark local properties, not a stale pool thread's. */
final class Forked[T](body: => T) {
  @volatile private var result: Either[Throwable, T] = _
  private val t = new Thread(() => result =
    try Right(body) catch { case e: Throwable => Left(e) })
  t.start()
  def join(): T = { t.join(); result.fold(e => throw e, identity) }
}
