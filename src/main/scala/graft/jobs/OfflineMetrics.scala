package graft.jobs

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Offline dashboard metrics — the reference's
  * `flink-statistics/src/main/java/com/wufuqiang/statistics/OfflineJob.java`
  * recast onto the `events` test table: `action='show'` → `event_type='view'`,
  * `'detailPageShow'` → `'click'`, `sceneId` → `pmod(user_id, 5)` cohort,
  * `itemId` → `props.k`.
  *
  * Faithfulness notes (SURVEY §7.3 hard parts):
  *  - The CTR-abnormal filter runs over a FULL OUTER join
  *    (`OfflineJob.java:386-390`), so a user with clicks but no shows has
  *    `showCount = NULL` (not 0) and the reference's `showCount=0 &&
  *    detailCount>0` branch never fires (NULL comparisons are false in both
  *    Calcite and Catalyst). [[ctrAbnormal]] reproduces the join +
  *    predicate verbatim rather than "fixing" it with coalesce, and the
  *    DuckDB oracle `graft.queries.OfflineMetricsOracle` spells the whole
  *    dashboard in that full-outer form; [[metricsWide]] computes the same
  *    values from two fine aggregates with no join.
  *  - Ratios are single IEEE divisions of two longs → bit-identical across
  *    engines, with the reference's 1e-5 zero-floor
  *    (`OfflineJob.java:415-421`).
  *  - `calcAbnormalUserClickRatio`'s `userIdCount/actionAllUv` is a *long*
  *    division in Java (`OfflineDataSetUtils.java:378-384`) — floor division,
  *    kept faithfully where that code path is mirrored.
  */
object OfflineMetrics {

  val CtrThreshold = 0.2

  /** events → (scene, user_id, item, action, ts) action-log view. */
  def actionLog(events: DataFrame): DataFrame =
    events.select(
      pmod(col("user_id"), lit(5)).cast("long").as("scene"),
      col("user_id"),
      get_json_object(col("props"), "$.k").cast("long").as("item"),
      col("event_type").as("action"),
      col("ts"))

  /** Per-(scene,key) show/detail counts via the reference's two-aggregate
    * full-outer join (`OfflineJob.java:376-387`), keeping NULL counts.
    */
  def showDetailCounts(log: DataFrame, key: String): DataFrame = {
    val show = log.filter(col("action") === "view")
      .groupBy("scene", key).agg(count(lit(1)).as("show_count"))
    val detail = log.filter(col("action") === "click")
      .groupBy("scene", key).agg(count(lit(1)).as("detail_count"))
    show.join(detail, Seq("scene", key), "full_outer")
  }

  /** CTR-abnormal aggregate per scene (`OfflineJob.java:390-392`):
    * HAVING-style arithmetic OR predicate, then count+sum.
    */
  def ctrAbnormal(log: DataFrame, key: String): DataFrame =
    showDetailCounts(log, key)
      .filter((col("show_count") === 0 && col("detail_count") > 0) ||
        col("detail_count").cast("double") / col("show_count") > CtrThreshold)
      .groupBy("scene")
      .agg(count(lit(1)).as("abnormal_count"),
        sum("detail_count").as("detail_sum"))

  private def floorTiny(c: Column) =
    when(c < 1e-5, 0.0).otherwise(c)

  /** The six per-scene dashboard ratios of `OfflineJob.java:396-523`, wide
    * (one row per scene) instead of the reference's union+pivot-to-string —
    * see [[metricsLong]] for the faithful union shape.
    *
    * transforErrorRatio is recast as error-events / all-events per scene
    * (the reference computes failed-transfer / nginx-requests,
    * `OfflineDataSetUtils.java:320-356` — same algebra, different source).
    * user_fluctuate_ratio (`OfflineDataSetUtils.java:230-268`) is, of the
    * users a scene had on the day before the last day in the data, the
    * share absent on the last day (the reference reads yesterday's users
    * from its CSV day-cache, SURVEY S9/K2).
    *
    * Every ratio comes from the one cached action log through two fine
    * aggregates: per (scene, user_id) the view, click, error and row
    * counts and whether the user is seen on the last day and on the day
    * before it; per (scene, item) the view and click counts. Each fine row
    * turns into its scene's summands (one distinct key, its clicks, its
    * abnormal flag, …) and one aggregate over both rolls them up per
    * scene — three shuffles, no join. The action that fills the cache also
    * reads the last day.
    *
    * The output is exactly what the reference's join form gives (the full
    * outer show/detail joins of [[ctrAbnormal]], left-joined per scene to
    * the totals, and a left outer join of the two days' users; the DuckDB
    * oracle `OfflineMetricsOracle` spells that form), NULL keys included:
    * a fine row whose key is NULL is never abnormal, as the equi-joins
    * never match a NULL key and so never see its shows and clicks on one
    * row; and the NULL scene, which the per-scene left joins never match,
    * reads 0.0 in every ratio.
    */
  def metricsWide(events: DataFrame): DataFrame = {
    val log = graft.core.CacheScope.track(actionLog(events).cache())
    val day = unix_date(to_date(col("ts")))
    val last = lit(log.agg(max(day)).head().get(0)).cast("int")
    def n(action: String) = sum(when(col("action") === action, 1L).otherwise(0L))
    def seen(d: Column) = max(when(day === d, 1L).otherwise(0L))
    def abnormal(key: String) = col(key).isNotNull &&
      try_divide(col("clicks").cast("double"), col("views")) > CtrThreshold
    def flag(c: Column, v: Column = lit(1L)) = when(c, v).otherwise(0L)
    val users = log.groupBy("scene", "user_id").agg(n("view").as("views"),
        n("click").as("clicks"), n("error").as("errors"), count(lit(1)).as("rows"),
        seen(last).as("on_last"), seen(last - 1).as("on_prev"))
      .select(col("scene"), flag(col("user_id").isNotNull).as("uv"),
        col("clicks").as("click_pv"), col("errors").as("err_pv"),
        col("rows").as("all_pv"),
        flag(abnormal("user_id")).as("ab_users"),
        flag(abnormal("user_id"), col("clicks")).as("ab_user_clicks"),
        col("on_prev").as("prev_uv"),
        flag(col("on_prev") === 1L && col("on_last") === 0L).as("gone_uv"))
    val items = log.groupBy("scene", "item").agg(n("view").as("views"),
        n("click").as("clicks"))
      .select(col("scene"), flag(col("item").isNotNull).as("item_uv"),
        flag(abnormal("item")).as("ab_items"),
        flag(abnormal("item"), col("clicks")).as("ab_item_clicks"))
    val sums = (users.columns ++ items.columns).distinct.filter(_ != "scene")
      .map(c => sum(c).as(c))
    val perScene = users.unionByName(items, allowMissingColumns = true)
      .groupBy("scene").agg(sums.head, sums.tail.toIndexedSeq: _*)
    def ratio(num: String, den: String) = when(col("scene").isNull, 0.0)
      .otherwise(coalesce(try_divide(col(num).cast("double"), col(den)), lit(0.0)))
    perScene.select(
      col("scene"),
      floorTiny(ratio("err_pv", "all_pv")).as("transfor_error_ratio"),
      floorTiny(ratio("ab_users", "uv")).as("abnormal_user_ratio"),
      floorTiny(ratio("ab_user_clicks", "click_pv")).as("abnormal_user_click_ratio"),
      floorTiny(ratio("ab_items", "item_uv")).as("abnormal_item_ratio"),
      floorTiny(ratio("ab_item_clicks", "click_pv")).as("abnormal_item_click_ratio"),
      ratio("gone_uv", "prev_uv").as("user_fluctuate_ratio"))
  }

  /** Faithful long shape: (scene, metric, value) union of all metric streams
    * (`OfflineJob.java:489-496`), ready for the reference's pivot-to-6-slot
    * row (`:499-523`), which [[metricsWide]] expresses as one wide select.
    */
  def metricsLong(events: DataFrame): DataFrame = {
    val wide = metricsWide(events)
    val names = Seq("transfor_error_ratio", "abnormal_user_ratio",
      "abnormal_user_click_ratio", "abnormal_item_ratio",
      "abnormal_item_click_ratio", "user_fluctuate_ratio")
    wide.select(col("scene"), explode(map(
      names.flatMap(n => Seq(lit(n), col(n))): _*)).as(Seq("metric", "value")))
  }
}
