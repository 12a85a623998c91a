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
}

object SparkSpecBase {
  // one session for the whole forked test JVM
  lazy val session: SparkSession = {
    val s = graft.core.Sessions.local("graft-test", 4)
    s.sparkContext.setLogLevel("WARN")
    s
  }
}
