package graft.perfbench

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.core.Tables
import graft.llm.Dedup
import graft.ops.{Scale, Sketch}

/** The public entry points behind the engine's three adaptive-cutover
  * styles, each fed an input above its bound:
  *  - `Scale.globalCumSum` / `Scale.groupedRankOrdered` (the
  *    `spark.graft.rank.cutoverRows` probe) over a parquet scan + join, so
  *    that re-running the upstream plan costs a scan and a join;
  *  - `Dedup.connectedComponents` (the `driverBelow` edge-count switch)
  *    over an edge list past it. `Graph.stronglyConnectedComponents`, the
  *    switch's other user, is left out to fit the run-time budget: its
  *    distributed peeling alone took as long as the four calls here;
  *  - `Sketch.groupedKmvEstimate` (its trim is pinned to the two-phase
  *    rank) over the same scan + join. */
final class RankPastBound(cfg: Cfg) extends Workload {
  private var scanBase = 0L

  override def prepare(ctx: Ctx): Unit =
    ctx.spark.conf.set("spark.graft.rank.cutoverRows", cfg.pl("rank_cutover"))

  private val driverBelow = cfg.pl("graph_driver_below")

  private def write(df: DataFrame, path: String): Unit =
    df.write.mode("overwrite").parquet(path)

  def iteration(ctx: Ctx, out: String): IterResult = {
    val spark = ctx.spark
    val fact = ctx.call("core", "Tables.table")(Tables.table(spark, cfg.data, "fact"))
    val dim = ctx.call("core", "Tables.table")(Tables.table(spark, cfg.data, "dim"))
    val input = fact.join(dim, "dk")
      .select(col("id"), col("g"), col("item"), (col("v") * col("w")).as("val"))
    val ccEdges = ctx.call("core", "Tables.table")(Tables.table(spark, cfg.data, "cc_edges"))
    val ccVerts = ctx.call("core", "Tables.table")(Tables.table(spark, cfg.data, "cc_vertices"))

    // traced leg only: the file-scan rows of ONE execution of each ops
    // input, outside every layer span, as scan_amplification's base
    if (ctx.traced) ctx.tracer.foreach { t =>
      def calib(df: DataFrame): Long = {
        t.span(spark, "calibration", "noop")(
          df.write.format("noop").mode("overwrite").save())
        Tracer.drain(spark)
        t.scanRowsOf(t.lastSpanId)
      }
      scanBase += 3 * calib(input)
    }

    ctx.call("ops", "Scale.globalCumSum")(write(
      Scale.globalCumSum(input.select("id", "val"), "id", "val", "cum"),
      s"$out/cumsum"))
    ctx.call("ops", "Scale.groupedRankOrdered")(write(
      Scale.groupedRankOrdered(input.select("id", "g"), Seq("g"), Seq("id"), "rank"),
      s"$out/grouped_rank"))
    ctx.call("ops", "Sketch.groupedKmvEstimate")(write(
      Sketch.groupedKmvEstimate(input.select("g", "item"), "g", "item", k = 256),
      s"$out/kmv"))
    ctx.call("llm", "Dedup.connectedComponents")(write(
      Dedup.connectedComponents(ccVerts, ccEdges, "id", driverBelow = driverBelow),
      s"$out/cc"))
    IterResult()
  }

  override def layerExtras(ctx: Ctx, traced: Seq[(String, IterResult)])
  : Map[String, Double] = {
    val n = math.max(traced.length, 1)
    val scanned = ctx.tracer.map(_.byLayer(Seq("ops"))("ops").scanRows).getOrElse(0L)
    Map("ops.scan_amplification" ->
        (if (scanBase == 0) 0.0 else scanned.toDouble / scanBase),
      "ops.scan_amplification.num_rows" -> scanned.toDouble / n,
      "ops.scan_amplification.den_rows" -> scanBase.toDouble / n)
  }
}
