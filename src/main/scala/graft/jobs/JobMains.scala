package graft.jobs

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.core.{CacheScope, Sessions, Tables}
import graft.ops.Ranking
import graft.sinks.Sinks

/** Runnable entry points mirroring the reference's four workload mains,
  * cast onto the test tables. Each takes `[sfDir] [outDir]` and writes the
  * reference's output artifacts (overwrite text/CSV + metric store), so a
  * reference user has a 1:1 job to run.
  */
object JobMains {
  private[jobs] def session(name: String): SparkSession =
    Sessions.builder(name, 8).master("local[8]").getOrCreate()

  private[jobs] def args2(args: Array[String]): (String, String) =
    (args.headOption.getOrElse("/root/testdata/sf0.001"),
      args.lift(1).getOrElse(
        java.nio.file.Files.createTempDirectory("graft_job").toString))
}

/** `ItemIdCfVersion5.main` (`flink-itemcf/.../ItemIdCfVersion5.java:35-289`):
  * interactions → decay co-occurrence → cosine → `item_id:score,...` text +
  * quDuan histogram text. */
object ItemCfJob {
  import JobMains._
  def main(args: Array[String]): Unit = {
    val (sfDir, outDir) = args2(args)
    val spark = session("itemcf")
    spark.sparkContext.setLogLevel("WARN")
    val inter = ItemCf.interactions(Tables.events(spark, sfDir)).persist()
    inter.count()
    val scores = ItemCf.cosineScores(
      ItemCf.cooccurrenceDecay(inter, n = 2), inter).persist()
    val lists = ItemCf.topListsWithScores(scores, cap = 400, minLen = 0)
    Sinks.writeText(
      lists.select(concat_ws("_", col("a"), col("toplist"))), s"$outDir/countStat")
    Sinks.writeText(
      ItemCf.sizeHistogram(scores)
        .select(concat_ws(",", col("bucket"), col("cnt"))), s"$outDir/quDuan")
    println(s"[itemcf] wrote $outDir")
    spark.stop()
  }
}

/** `AucCalcVersion5.main` (`flink-auccalc/.../AucCalcVersion5.java`):
  * labeled scores → per-scene AUC + UAUC → full-outer "auc_uauc" text. */
object AucJob {
  import JobMains._
  def main(args: Array[String]): Unit = {
    val (sfDir, outDir) = args2(args)
    val spark = session("auc")
    spark.sparkContext.setLogLevel("WARN")
    val base = Tables.events(spark, sfDir)
      .filter(col("event_type").isin("click", "view"))
      .select(pmod(col("user_id"), lit(5)).cast("long").as("scene"),
        col("user_id"),
        col("value").as("score"),
        when(col("event_type") === "click", 1).otherwise(0).as("label"))
      .persist()
    base.count()
    val merged = Auc.aucAndUauc(base, Seq("scene"), "user_id")
    Sinks.writeText(
      merged.select(concat_ws(",", col("scene"), col("auc_uauc"))),
      s"$outDir/aucAndUaucResult")
    println(s"[auc] wrote $outDir")
    spark.stop()
  }
}

/** `OfflineJob.main` (`flink-statistics/.../OfflineJob.java`): six per-scene
  * dashboard ratios → metric store + text, plus the CSV user day-cache
  * (parallelism 24) the fluctuation calc reads tomorrow. */
object OfflineMetricsJob {
  import JobMains._
  def main(args: Array[String]): Unit = {
    val (sfDir, outDir) = args2(args)
    val spark = session("offline")
    spark.sparkContext.setLogLevel("WARN")
    val events = Tables.events(spark, sfDir)
    // both sinks read one computed copy of the ratios
    CacheScope.scoped {
      val wide = CacheScope.track(OfflineMetrics.metricsWide(events).persist())
      Sinks.upsertMetricStore(spark, s"$outDir/metricstore", wide, Seq("scene"))
      Sinks.writeText(wide.select(concat_ws("_",
        wide.columns.toIndexedSeq.map(col): _*)), s"$outDir/allStatResult")
    }
    val dayCache = OfflineMetrics.actionLog(events)
      .select(col("scene").cast("string").as("yesSceneId"),
        col("user_id").cast("string").as("yesUserId")).distinct()
    Sinks.writeCsv(dayCache, s"$outDir/actionUserId", sep = "/", parallelism = 24)
    println(s"[offline] wrote $outDir")
    spark.stop()
  }
}

/** `ShuJuStat.main` (`flink-itemcf/.../huaban/ShuJuStat.java`): board pair
  * weights → countStat text + quDuan histogram. */
object BoardStatsJob {
  import JobMains._
  def main(args: Array[String]): Unit = {
    val (sfDir, outDir) = args2(args)
    val spark = session("boardstats")
    spark.sparkContext.setLogLevel("WARN")
    val itemBoard = Tables.events(spark, sfDir)
      .filter(col("event_type") === "view")
      .select(get_json_object(col("props"), "$.k").cast("long").as("item"),
        col("user_id").as("board"))
      .filter(col("item").isNotNull)
    val weights = BoardStats.pairWeights(itemBoard).persist()
    Sinks.writeText(
      BoardStats.topLists(weights)
        .select(concat_ws("_", col("a"), col("toplist"))), s"$outDir/countStat")
    Sinks.writeText(
      BoardStats.sizeHistogram(weights)
        .select(concat_ws(",", col("bucket"), col("cnt"))), s"$outDir/quDuan")
    println(s"[boardstats] wrote $outDir")
    spark.stop()
  }
}
