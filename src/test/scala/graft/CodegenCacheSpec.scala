package graft

import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.sql.functions._

/** Spark's generated-class cache is JVM-wide and sized once, from the
  * session that first compiles; [[graft.core.Sessions.builder]] sizes it
  * above the engine's working set. This spec pins that the shared test
  * session carries the size.
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
}
