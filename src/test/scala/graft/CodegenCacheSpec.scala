package graft

import java.nio.file.Files
import java.sql.Timestamp

import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger

import graft.streaming.StreamingDashboard

/** Spark's generated-class cache is JVM-wide and sized once, from the
  * session that first compiles; [[graft.core.Sessions.builder]] sizes it
  * above the engine's working set, and turns artifact isolation off so
  * that streaming queries' cloned sessions share one class loader. This
  * spec pins both on the shared test session.
  */
class CodegenCacheSpec extends SparkSpecBase {
  test("the generated-class cache holds a 150-class working set: a second " +
    "pass over the same queries compiles nothing") {
    // each projection inlines a different long literal, so each query's
    // whole-stage class has its own source: 150 distinct classes, more
    // than Spark's 100-entry default cache keeps
    val base = spark.range(2).toDF("id")
    def pass(): Unit = (0 until 150).foreach { i =>
      base.select((col("id") * 7 + lit(1000003L + i)).as("v")).collect()
    }
    val compiles = CodegenMetrics.METRIC_COMPILATION_TIME
    val c0 = compiles.getCount
    pass()
    val c1 = compiles.getCount
    pass()
    val c2 = compiles.getCount
    assert(c1 - c0 >= 150, s"first pass compiled ${c1 - c0} classes")
    assert(c2 == c1, s"second pass recompiled ${c2 - c1} classes")
  }

  test("a streaming query reuses generated classes: a second dashboard " +
    "run over the same input, with a fresh checkpoint, compiles nothing") {
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    import spark.implicits._
    def at(hhmm: String) = Timestamp.valueOf(s"2024-01-01 $hhmm:00")
    // a MemoryStream drops what a query commits, so each run gets its own
    def run(): Unit = {
      val mem = MemoryStream[(Timestamp, Long, String)]
      mem.addData((at("10:00"), 1L, "a"), (at("10:07"), 2L, "a"),
        (at("12:31"), 1L, "b"))
      val events = mem.toDF().toDF("ts", "user_id", "key")
      val dir = Files.createTempDirectory("graft_cgs").toString
      val q = StreamingDashboard.run(events, s"$dir/store", s"$dir/ckpt",
        trigger = Trigger.AvailableNow()).start()
      try q.awaitTermination() finally q.stop()
      assert(spark.read.parquet(s"$dir/store/coarse").count() > 0)
    }
    val compiles = CodegenMetrics.METRIC_COMPILATION_TIME
    run()
    val c1 = compiles.getCount
    run()
    val c2 = compiles.getCount
    assert(c2 == c1, s"the second run recompiled ${c2 - c1} classes")
  }
}
