package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

import graft.ops.Scale.Cutover

trait SparkSpecBase extends AnyFunSuite {
  lazy val spark: SparkSession = SparkSpecBase.session
  val sfDir = "/root/testdata/sf0.001"

  /** Run `body` with `family`'s cutover bound set to `bound` on the test
    * session, then restore the prior value. The default 0 pins the
    * family's at-scale side: at the gate scale every input is under every
    * default bound, so a test of the at-scale branch or its plan must
    * turn the small side off. */
  def withCutover[T](family: Cutover, bound: Long = 0L)(body: => T): T = {
    val before = spark.conf.getOption(family.key)
    spark.conf.set(family.key, bound)
    try body
    finally before match {
      case Some(v) => spark.conf.set(family.key, v)
      case None => spark.conf.unset(family.key)
    }
  }

  /** Run `body` and return its result, the call-site stack (innermost
    * user frame first) of every Spark job it started, and that of every
    * SQL execution it started. A SQL execution carries its caller's stack
    * even when adaptive execution submits its jobs from another thread.
    * Listener events arrive asynchronously, so a marker job brackets
    * `body`: events before the opening marker are dropped, and the result
    * waits until the closing marker has been delivered. */
  def jobEvents[T](body: => T): (T, Seq[String], Seq[String]) = {
    import org.apache.spark.scheduler.{SparkListener, SparkListenerEvent,
      SparkListenerJobStart}
    import org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart
    val sc = spark.sparkContext
    val MarkKey = "graft.test.jobMark"
    val jobs = new java.util.concurrent.ConcurrentLinkedQueue[String]
    val executions = new java.util.concurrent.ConcurrentLinkedQueue[String]
    val marks = new java.util.concurrent.LinkedBlockingQueue[String]
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        Option(e.properties).flatMap(p => Option(p.getProperty(MarkKey))) match {
          case Some(m) => marks.put(m)
          case None => jobs.add(e.stageInfos.map(_.details).mkString("\n"))
        }
      override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
        case x: SparkListenerSQLExecutionStart => executions.add(x.details)
        case _ =>
      }
    }
    def mark(m: String): Unit = {
      sc.setLocalProperty(MarkKey, m)
      try sc.parallelize(Seq(1), 1).count()
      finally sc.setLocalProperty(MarkKey, null)
      var seen = ""
      while (seen != m) {
        seen = marks.poll(60, java.util.concurrent.TimeUnit.SECONDS)
        assert(seen != null, s"job marker $m never reached the listener")
      }
    }
    sc.addSparkListener(listener)
    try {
      mark("open")
      jobs.clear()
      executions.clear()
      val out = body
      mark("close")
      import scala.jdk.CollectionConverters._
      (out, jobs.asScala.toSeq, executions.asScala.toSeq)
    } finally sc.removeSparkListener(listener)
  }

  /** [[jobEvents]]' job and SQL-execution call sites in one list. */
  def jobSites[T](body: => T): (T, Seq[String]) = {
    val (out, jobs, executions) = jobEvents(body)
    (out, jobs ++ executions)
  }
}

object SparkSpecBase {
  // one session for the whole forked test JVM
  lazy val session: SparkSession = {
    val s = graft.core.Sessions.local("graft-test", 4)
    s.sparkContext.setLogLevel("WARN")
    s
  }
}
