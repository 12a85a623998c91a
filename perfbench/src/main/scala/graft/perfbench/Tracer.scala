package graft.perfbench

import java.util.concurrent.ConcurrentHashMap
import java.util.concurrent.atomic.AtomicLong

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.SparkPlanInfo
import org.apache.spark.sql.execution.ui.{SparkListenerSQLAdaptiveExecutionUpdate, SparkListenerSQLExecutionStart}
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.util.QueryExecutionListener

/** Per-span Spark counters for the traced leg.
  *
  * A span is one public layer call made by the harness. Before the call the
  * harness sets the span id as the Spark local property [[SpanKey]]; every
  * job, stage and task started from that thread (and from threads it
  * starts, e.g. a streaming query's micro-batch thread) carries it, so the
  * listener bills each task's metrics to the span that caused it.
  *
  * File-scan rows are taken from SQL metrics, not from task input
  * metrics: input metrics also count rows read back from a persisted or
  * checkpointed frame, which would hide whether an upstream plan ran once.
  * The plan trees posted with each SQL execution (including the cached
  * plans under in-memory scans) name the scan nodes; their "number of
  * output rows" accumulators are summed per span from task updates.
  */
final class Tracer extends SparkListener {
  import Tracer._

  final class Counters {
    val jobs = new AtomicLong; val tasks = new AtomicLong
    val runMs = new AtomicLong; val cpuNs = new AtomicLong
    val gcMs = new AtomicLong; val scanRows = new AtomicLong
    val shuffleW = new AtomicLong; val shuffleR = new AtomicLong
    val spill = new AtomicLong; val peakExec = new AtomicLong
    val retries = new AtomicLong
  }

  final case class Span(id: Long, layer: String, name: String, parent: Long,
                        startNs: Long, var endNs: Long = 0L,
                        var childNs: Long = 0L)

  /** Streaming progress hooks (a workload adds per-batch snapshots). */
  val progress = new ProgressLog

  private val nextId = new AtomicLong(0)
  private val counters = new ConcurrentHashMap[Long, Counters]()
  private val stageSpan = new ConcurrentHashMap[Int, Long]()
  private val scanAccs = ConcurrentHashMap.newKeySet[Long]()
  val spans = mutable.ArrayBuffer.empty[Span]
  // per thread: concurrent layer calls (two streaming queries) nest apart
  private val open = ThreadLocal.withInitial[mutable.Stack[Span]](() => mutable.Stack.empty)

  private def spanOf(props: java.util.Properties): Option[Long] =
    Option(props).flatMap(p => Option(p.getProperty(SpanKey))).map(_.toLong)

  def countersOf(id: Long): Counters =
    counters.computeIfAbsent(id, _ => new Counters)

  /** Run `body` as span (layer, name); nested calls become child spans. */
  def span[T](spark: SparkSession, layer: String, name: String)(body: => T): T = {
    val sc = spark.sparkContext
    val prev = sc.getLocalProperty(SpanKey)
    val stack = open.get
    val parent = stack.headOption
    val s = Span(nextId.incrementAndGet(), layer, name,
      parent.map(_.id).getOrElse(0L), System.nanoTime())
    countersOf(s.id)
    stack.push(s)
    sc.setLocalProperty(SpanKey, s.id.toString)
    try body
    finally {
      s.endNs = System.nanoTime()
      stack.pop()
      parent.foreach(p => p.childNs += s.endNs - s.startNs)
      sc.setLocalProperty(SpanKey, prev)
      spans.synchronized(spans += s)
    }
  }

  // ---- SparkListener ----
  override def onJobStart(e: SparkListenerJobStart): Unit =
    spanOf(e.properties).foreach { id =>
      countersOf(id).jobs.incrementAndGet()
      e.stageInfos.foreach(si => stageSpan.put(si.stageId, id))
    }

  override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit =
    spanOf(e.properties).foreach(id => stageSpan.put(e.stageInfo.stageId, id))

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    val id = stageSpan.get(e.stageId)
    if (id == 0L && !stageSpan.containsKey(e.stageId)) return
    val c = countersOf(id)
    c.tasks.incrementAndGet()
    if (e.reason != org.apache.spark.Success) c.retries.incrementAndGet()
    val m = e.taskMetrics
    if (m != null) {
      c.runMs.addAndGet(m.executorRunTime)
      c.cpuNs.addAndGet(m.executorCpuTime)
      c.gcMs.addAndGet(m.jvmGCTime)
      c.shuffleW.addAndGet(m.shuffleWriteMetrics.bytesWritten)
      c.shuffleR.addAndGet(m.shuffleReadMetrics.totalBytesRead)
      c.spill.addAndGet(m.diskBytesSpilled)
      c.peakExec.accumulateAndGet(m.peakExecutionMemory, math.max)
    }
    e.taskInfo.accumulables.foreach { a =>
      if (scanAccs.contains(a.id)) a.update.foreach {
        case v: java.lang.Long => c.scanRows.addAndGet(v)
        case v: Long => c.scanRows.addAndGet(v)
        case _ => ()
      }
    }
  }

  private def registerScans(p: SparkPlanInfo): Unit = {
    if (p.nodeName.startsWith("Scan ") || p.nodeName.startsWith("FileScan") ||
        p.nodeName.startsWith("BatchScan"))
      p.metrics.filter(_.name == "number of output rows")
        .foreach(m => scanAccs.add(m.accumulatorId))
    p.children.foreach(registerScans)
  }

  override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
    case s: SparkListenerSQLExecutionStart => registerScans(s.sparkPlanInfo)
    case u: SparkListenerSQLAdaptiveExecutionUpdate => registerScans(u.sparkPlanInfo)
    case _ => ()
  }

  /** Wall, self time and counters per layer over the recorded spans. */
  def byLayer(layers: Seq[String]): Map[String, LayerTotals] = {
    val all = spans.synchronized(spans.toList)
    layers.map { l =>
      val ss = all.filter(_.layer == l)
      val t = new LayerTotals
      ss.foreach { s =>
        val c = countersOf(s.id)
        t.calls += 1
        t.wallNs += s.endNs - s.startNs
        t.selfNs += s.endNs - s.startNs - s.childNs
        t.jobs += c.jobs.get; t.tasks += c.tasks.get; t.runMs += c.runMs.get
        t.cpuNs += c.cpuNs.get; t.gcMs += c.gcMs.get
        t.scanRows += c.scanRows.get; t.shuffleW += c.shuffleW.get
        t.shuffleR += c.shuffleR.get; t.spill += c.spill.get
        t.peakExec = math.max(t.peakExec, c.peakExec.get)
        t.retries += c.retries.get
      }
      l -> t
    }.toMap
  }

  /** Scan rows billed to one span (calibration of an input's upstream). */
  def scanRowsOf(id: Long): Long = countersOf(id).scanRows.get
  def lastSpanId: Long = nextId.get
}

final class LayerTotals {
  var calls, jobs, tasks, runMs, cpuNs, gcMs, scanRows = 0L
  var shuffleW, shuffleR, spill, peakExec, retries = 0L
  var wallNs, selfNs = 0L
}

object Tracer {
  val SpanKey = "graft.perfbench.span"

  /** Failed actions count as failed operations while armed; the harness
    * disarms before it stops streaming queries on purpose (a stop
    * interrupts whatever action the query is running). */
  val armed = new java.util.concurrent.atomic.AtomicBoolean(true)

  /** Registers the three listeners. The query-execution listener records
    * nothing itself: SQL executions are observed through the SQL events
    * on the Spark listener bus, which carry the plan trees the scan-row
    * attribution needs. It is registered so a failed action is counted. */
  def attach(spark: SparkSession, failures: AtomicLong): Tracer = {
    val t = new Tracer
    armed.set(true)
    spark.sparkContext.addSparkListener(t)
    spark.listenerManager.register(new QueryExecutionListener {
      override def onSuccess(f: String, qe: org.apache.spark.sql.execution.QueryExecution,
                             d: Long): Unit = ()
      override def onFailure(f: String, qe: org.apache.spark.sql.execution.QueryExecution,
                             ex: Exception): Unit =
        if (armed.get) { failures.incrementAndGet(); () }
    })
    spark.streams.addListener(t.progress)
    t
  }

  /** Blocks until the listener bus has delivered every posted event, so a
    * span's counters are complete when it is read. */
  def drain(spark: SparkSession): Unit =
    org.apache.spark.perfbench.BusAccess.drain(spark.sparkContext)
}

/** The traced leg's streaming-query listener: runs each registered hook on
  * every progress event, on the listener thread. */
final class ProgressLog extends StreamingQueryListener {
  val hooks = new java.util.concurrent.CopyOnWriteArrayList[
    StreamingQueryListener.QueryProgressEvent => Unit]()
  override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
  override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit =
    hooks.forEach(h => h(e))
  override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
}
