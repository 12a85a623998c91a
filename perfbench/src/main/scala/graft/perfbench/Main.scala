package graft.perfbench

import java.io.File
import java.nio.file.{Files, Path, Paths}
import java.util.concurrent.atomic.AtomicLong

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.core.{CacheScope, HostProbe, Sessions}

/** Run configuration, parsed from `--key value` pairs. `params` holds the
  * workload's generation parameters as written by the input generator. */
final case class Cfg(workload: String, data: String, work: String,
                     seconds: Double, trace: Boolean,
                     cores: Int, params: Map[String, String]) {
  def p(k: String): String = params.getOrElse(k, sys.error(s"missing param $k"))
  def pi(k: String): Int = p(k).toInt
  def pd(k: String): Double = p(k).toDouble
  def pl(k: String): Long = p(k).toLong
}

/** What one session of a run sees: the session, the layer-call wrapper and
  * the traced leg's boundary materialisation. */
final class Ctx(val spark: SparkSession, val cfg: Cfg,
                val tracer: Option[Tracer], val calls: AtomicLong,
                val failures: AtomicLong) {
  /** True in the traced iteration: layer calls open spans and their
    * outputs are materialised at the boundary. */
  var traced = false

  /** One public layer call. Counted as an operation; a throw counts as a
    * failed one and propagates (the iteration fails with it). */
  def call[T](layer: String, name: String)(body: => T): T = {
    calls.incrementAndGet()
    try tracer.filter(_ => traced).fold(body)(_.span(spark, layer, name)(body))
    catch { case e: Throwable => failures.incrementAndGet(); throw e }
  }

  /** A layer call's output at the boundary: materialised in the traced leg
    * (so the span contains the layer's work), left lazy otherwise. */
  def out(df: DataFrame): DataFrame =
    if (traced) df.localCheckpoint(true) else df

  /** An intermediate the job itself persists and counts eagerly. */
  def kept(df: DataFrame): DataFrame =
    if (traced) df.localCheckpoint(true)
    else { val p = CacheScope.track(df.persist()); p.count(); p }

  /** An intermediate the job persists lazily (first consumer fills it). */
  def persisted(df: DataFrame): DataFrame =
    if (traced) df.localCheckpoint(true) else CacheScope.track(df.persist())
}

/** One timed unit of a workload plus what it reports beyond wall time. */
final case class IterResult(microBatches: Long = 0L,
                            extra: Map[String, Double] = Map.empty,
                            samples: Map[String, Seq[Double]] = Map.empty)

trait Workload {
  /** Once per session, before its first iteration. */
  def prepare(ctx: Ctx): Unit = ()
  /** One iteration: input files to every output written under `out`. */
  def iteration(ctx: Ctx, out: String): IterResult
  /** Untimed figures the output checks need, after the timed iterations. */
  def checkData(ctx: Ctx): Map[String, Double] = Map.empty
  /** After the traced iteration (the dashboard's fixed-rate phase). */
  def finish(ctx: Ctx, out: String): Map[String, Double] = Map.empty
  /** Layer-specific metrics of the traced leg, from the traced iterations. */
  def layerExtras(ctx: Ctx, traced: Seq[(String, IterResult)]): Map[String, Double] =
    Map.empty
}

object Main {
  val Layers: Seq[String] =
    Seq("core", "sources", "ops", "jobs", "llm", "streaming", "sinks")

  def parse(args: Array[String]): Cfg = {
    val kv = args.grouped(2).collect { case Array(k, v) =>
      k.stripPrefix("--") -> v }.toMap
    val params = kv.getOrElse("params", "").split(",").filter(_.contains("="))
      .map { s => val Array(k, v) = s.split("=", 2); k -> v }.toMap
    Cfg(kv("workload"), kv("data"), kv("work"), kv("seconds").toDouble,
      kv.getOrElse("trace", "0") == "1", Runtime.getRuntime.availableProcessors(),
      params)
  }

  def workloadFor(cfg: Cfg): Workload = cfg.workload match {
    case "reco_batch" => new RecoBatch(cfg)
    case "dashboard_stream" => new DashboardStream(cfg)
    case "curation_corpus" => new CurationCorpus(cfg)
    case "rank_past_bound" => new RankPastBound(cfg)
    case w => sys.error(s"unknown workload $w")
  }

  def session(cfg: Cfg): SparkSession = {
    val spark = Sessions.builder(s"perfbench-${cfg.workload}", cfg.cores)
      .master(s"local[${cfg.cores}]")
      .config("spark.local.dir", s"${cfg.work}/spark-local")
      .config("spark.sql.warehouse.dir", s"${cfg.work}/warehouse")
      .config("spark.sql.streaming.numRecentProgressUpdates", "100000")
      .config("spark.sql.streaming.metricsEnabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    spark
  }

  private def cpuNs(): Long =
    java.lang.management.ManagementFactory.getOperatingSystemMXBean
      .asInstanceOf[com.sun.management.OperatingSystemMXBean].getProcessCpuTime

  /** Peak resident set of this JVM (VmHWM), in MB. */
  def peakRssMb(): Double =
    Files.readAllLines(Paths.get("/proc/self/status")).asScala
      .find(_.startsWith("VmHWM:"))
      .map(_.replaceAll("[^0-9]", "").toDouble / 1024.0).getOrElse(-1.0)

  def median(xs: Seq[Double]): Double =
    if (xs.isEmpty) 0.0 else {
      val s = xs.sorted; val n = s.length
      if (n % 2 == 1) s(n / 2) else (s(n / 2 - 1) + s(n / 2)) / 2
    }

  def main(args: Array[String]): Unit = {
    val cfg = parse(args)
    new File(cfg.work).mkdirs()
    val outRoot = s"${cfg.work}/out"
    val calls = new AtomicLong
    val failures = new AtomicLong
    val load0 = HostProbe.loadavg(); val spin0 = HostProbe.spinProbe()
    val io0 = HostProbe.ioProbe(16L << 20, cfg.work)
    val w = workloadFor(cfg)
    val iters = mutable.ArrayBuffer.empty[(String, String, Double, Double, Boolean, IterResult)]

    def runIter(ctx: Ctx, label: String, phase: String): Double = {
      val c0 = cpuNs(); val t0 = System.nanoTime()
      val (ok, r) =
        try CacheScope.scoped((true, w.iteration(ctx, s"$outRoot/$label")))
        catch { case e: Throwable =>
          System.err.println(s"[perfbench] iteration $label failed: $e")
          e.printStackTrace()
          failures.incrementAndGet(); (false, IterResult())
        }
      val wall = (System.nanoTime() - t0) / 1e9
      iters += ((label, phase, wall, (cpuNs() - c0) / 1e9, ok, r))
      wall
    }

    // One session per run. Set-up is session creation through the end of
    // the first, untimed iteration (cold JIT and codegen). The session then
    // runs measured iterations until `seconds` have passed (at least one);
    // job_s is their median. A traced run ends with one more iteration,
    // traced. Set-up is measured once per run: repeating it means repeating
    // a cold start, which costs more than the rest of the run together.
    val t0 = System.nanoTime()
    val spark = session(cfg)
    val plain = new Ctx(spark, cfg, None, calls, failures)
    w.prepare(plain)
    runIter(plain, "setup", "setup")
    val setupS = (System.nanoTime() - t0) / 1e9
    var measuredS = 0.0
    var k = 0
    while (k < 1 || measuredS < cfg.seconds) {
      measuredS += runIter(plain, s"measure$k", "measure"); k += 1
    }
    var ctx = plain
    var layerOut = Map.empty[String, Double]
    var spanOut = Map.empty[String, Double]
    if (cfg.trace) {
      val tracer = Tracer.attach(spark, failures)
      ctx = new Ctx(spark, cfg, Some(tracer), calls, failures)
      ctx.traced = true
      val compiles0 = CodegenMetrics.METRIC_COMPILATION_TIME.getCount
      runIter(ctx, "traced", "traced")
      val compiles = CodegenMetrics.METRIC_COMPILATION_TIME.getCount - compiles0
      Tracer.drain(spark)
      val traced = iters.filter(_._2 == "traced").toSeq
      layerOut = layerMetrics(cfg, tracer, traced.length) ++
        w.layerExtras(ctx, traced.map(i => i._1 -> i._6))
      val untracedJob = median(iters.filter(_._2 == "measure").map(_._3).toSeq)
      val tracedJob = median(traced.map(_._3))
      spanOut = tracer.spans.synchronized(tracer.spans.toList)
        .groupBy(s => s"${s.layer}/${s.name}")
        .map { case (k, ss) => k -> ss.map(s => (s.endNs - s.startNs) / 1e9).sum / traced.length }
      // classes the traced iteration compiled (Janino, while planning and in
      // tasks): every one a code-cache miss
      layerOut ++= Map("bench.traced_job_s" -> tracedJob,
        "bench.tracing_overhead_s" -> (tracedJob - untracedJob),
        "bench.codegen_compiles" -> compiles.toDouble)
    }
    val checkOut = w.checkData(ctx)
    val finishOut = if (cfg.trace) w.finish(ctx, s"$outRoot/final") else Map.empty[String, Double]
    val load1 = HostProbe.loadavg(); val spin1 = HostProbe.spinProbe()
    val io1 = HostProbe.ioProbe(16L << 20, cfg.work)
    val rss = peakRssMb()
    spark.stop()

    val measured = iters.filter(i => i._2 == "measure").toSeq
    val batches = iters.map(_._6.microBatches).sum
    val sb = new StringBuilder("{")
    def num(v: Double) = if (v.isNaN || v.isInfinite) "null" else v.toString
    sb ++= s""""workload":"${cfg.workload}","cores":${cfg.cores},"""
    sb ++= s""""setup_s":${num(setupS)},"""
    sb ++= s""""job_s":${num(median(measured.map(_._3)))},"""
    sb ++= s""""job_cpu_s":${num(median(measured.map(_._4)))},"""
    sb ++= s""""peak_rss_mb":${num(rss)},"""
    sb ++= s""""iterations":${iters.map { case (l, ph, wl, cp, ok, r) =>
      s"""{"label":"$l","phase":"$ph","wall_s":${num(wl)},"cpu_s":${num(cp)},"ok":$ok,""" +
        s""""micro_batches":${r.microBatches},"extra":${jsonMap(r.extra)},""" +
        s""""samples":${r.samples.map { case (k, v) => s""""$k":${v.map(num).mkString("[", ",", "]")}""" }
          .mkString("{", ",", "}")}}"""
    }.mkString("[", ",", "]")},"""
    sb ++= s""""attempted":${iters.length + calls.get + batches},"""
    sb ++= s""""failed":${failures.get},"""
    sb ++= s""""check_data":${jsonMap(checkOut)},"""
    sb ++= s""""finish":${jsonMap(finishOut)},"""
    sb ++= s""""layers":${jsonMap(layerOut)},"""
    sb ++= s""""spans_s":${jsonMap(spanOut)},"""
    sb ++= s""""host":${HostProbe.stampJson(load0, spin0, io0, load1, spin1, io1)}"""
    sb ++= "}"
    Files.write(Paths.get(s"${cfg.work}/result.json"), sb.toString.getBytes("UTF-8"))
  }

  def jsonMap(m: Map[String, Double]): String =
    m.toSeq.sortBy(_._1).map { case (k, v) =>
      s""""$k":${if (v.isNaN || v.isInfinite) "null" else v.toString}"""
    }.mkString("{", ",", "}")

  /** The 13 generic per-layer metrics, per traced iteration. */
  def layerMetrics(cfg: Cfg, t: Tracer, n: Int): Map[String, Double] = {
    val per = math.max(n, 1).toDouble
    val mb = 1024.0 * 1024.0
    t.byLayer(Layers).toSeq.flatMap { case (l, x) =>
      Seq(
        s"$l.self_s" -> x.selfNs / 1e9 / per,
        s"$l.calls" -> x.calls / per,
        s"$l.spark_jobs" -> x.jobs / per,
        s"$l.tasks" -> x.tasks / per,
        s"$l.cpu_s" -> x.cpuNs / 1e9 / per,
        s"$l.gc_s" -> x.gcMs / 1e3 / per,
        s"$l.core_util" ->
          (if (x.wallNs == 0) 0.0 else x.runMs / 1e3 / (x.wallNs / 1e9 * cfg.cores)),
        s"$l.scan_rows" -> x.scanRows / per,
        s"$l.shuffle_write_mb" -> x.shuffleW / mb / per,
        s"$l.shuffle_read_mb" -> x.shuffleR / mb / per,
        s"$l.spill_mb" -> x.spill / mb / per,
        s"$l.peak_exec_mb" -> x.peakExec / mb,
        s"$l.task_retries" -> x.retries / per)
    }.toMap
  }

  /** Total bytes of regular files under `dir` (0 when absent). */
  def treeBytes(dir: String): Long = {
    val p = Paths.get(dir)
    if (!Files.exists(p)) 0L
    else {
      val s = Files.walk(p)
      try s.iterator().asScala.filter(Files.isRegularFile(_)).map(Files.size).sum
      finally s.close()
    }
  }

  /** Identity (path, size, mtime) of every regular file under `dir`. */
  def treeFiles(dir: String): Map[Path, (Long, Long)] = {
    val p = Paths.get(dir)
    if (!Files.exists(p)) Map.empty
    else {
      val s = Files.walk(p)
      try s.iterator().asScala.filter(Files.isRegularFile(_))
        .flatMap(f => scala.util.Try(f -> ((Files.size(f),
          Files.getLastModifiedTime(f).toMillis))).toOption).toMap
      finally s.close()
    }
  }
}

/** Bytes a writer put under a directory tree, less the subtrees `skip`
  * (relative to it): every file identity seen at a snapshot and not seen
  * before counts once. Snapshots are taken after each write (each sink
  * call, each micro-batch). */
final class WriteMeter(dir: String, skip: Seq[String] = Nil) {
  private val skipped = skip.map(Paths.get(dir, _))
  private val seen = mutable.Set.empty[(Path, (Long, Long))]
  private var written = 0L
  private def files = Main.treeFiles(dir).filter { case (p, _) => !skipped.exists(p.startsWith) }
  def snapshot(): Unit = synchronized {
    files.foreach { kv =>
      if (seen.add(kv)) written += kv._2._1
    }
  }
  def bytesWritten: Long = synchronized(written)
  def finalBytes: Long = files.values.map(_._1).sum
}
