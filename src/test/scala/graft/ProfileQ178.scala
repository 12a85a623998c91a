package graft

import org.apache.spark.sql.functions._

/** Isolated stage timing for q178 (measurement main, not shipped). */
object ProfileQ178 {
  def main(args: Array[String]): Unit = {
    val spark = graft.core.Sessions.local("profile-q178", 32)
    spark.sparkContext.setLogLevel("ERROR")
    val dir = "/root/testdata/sf0.1"
    val li = graft.core.Tables.lineitem(spark, dir)
      .select("l_partkey", "l_quantity")
    val dim = graft.core.Tables.part(spark, dir)
      .filter(col("p_size") >= 48).select("p_partkey")
    def time(label: String)(f: => Long): Unit = {
      val t0 = System.nanoTime(); val n = f
      println(f"$label%-28s ${(System.nanoTime()-t0)/1e9}%8.3f s  rows=$n")
    }
    time("fact count")(li.count())
    time("fact count again")(li.count())
    val words = graft.ops.Sketch.bloomWords(dim.select(col("p_partkey")
      .as("item")), "item", 16, 3)
    time("bloom build+collect") { words.collect().length.toLong }
    // one salted hash over the fact key
    val one = li.select(graft.llm.TextAnalysis.fingerprint(
      concat(col("l_partkey").cast("string"), lit("|bf0"))).as("h"))
    time("fingerprint x1")(one.filter(col("h") > 0).count())
    time("fingerprint x1 again")(one.filter(col("h") > 0).count())
    // salted = fingerprint + mix57
    val salted1 = li.select(graft.ops.Sketch.testSalted(
      col("l_partkey"), "|bf0").as("h"))
    time("salted x1")(salted1.filter(col("h") > 0).count())
    time("salted x3") {
      li.select(
        graft.ops.Sketch.testSalted(col("l_partkey"), "|bf0").as("h0"),
        graft.ops.Sketch.testSalted(col("l_partkey"), "|bf1").as("h1"),
        graft.ops.Sketch.testSalted(col("l_partkey"), "|bf2").as("h2"))
        .filter(col("h0") + col("h1") + col("h2") > 0).count()
    }
    val full = graft.ops.Sketch.bloomSemiJoin(li, "l_partkey", dim,
      "p_partkey")
    time("bloomSemiJoin full")(full.count())
    time("bloomSemiJoin again")(full.count())
    spark.stop()
  }
}
