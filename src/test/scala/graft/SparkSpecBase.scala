package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

trait SparkSpecBase extends AnyFunSuite {
  lazy val spark: SparkSession = SparkSpecBase.session
  val sfDir = "/root/testdata/sf0.001"
}

object SparkSpecBase {
  // one session for the whole forked test JVM
  lazy val session: SparkSession = {
    val s = graft.core.Sessions.local("graft-test", 4)
    s.sparkContext.setLogLevel("WARN")
    s
  }
}
