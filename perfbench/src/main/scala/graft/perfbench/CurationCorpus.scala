package graft.perfbench

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.functions._

import graft.core.Tables
import graft.jobs.CurationPipeline
import graft.llm.TextAnalysis
import graft.ops.Scale

/** The curation pipeline's keep/drop chain and verdict (q96's relation),
  * then the training-layout calls `CurationJob` makes on the shipped
  * docs: BPE merges and piece counts, `Scale.globalCumSum` packing bins,
  * the split and the shuffle order. */
final class CurationCorpus(cfg: Cfg) extends Workload {
  override def prepare(ctx: Ctx): Unit = {
    // the verdict's DuckDB oracle, for the checker
    val dir = Paths.get(cfg.work, "oracle"); Files.createDirectories(dir)
    Files.write(dir.resolve("curation.sql"),
      graft.queries.CurationOracle.sql.getBytes("UTF-8"))
  }

  def iteration(ctx: Ctx, out: String): IterResult = {
    val spark = ctx.spark
    val docs = ctx.call("core", "Tables.documents")(Tables.documents(spark, cfg.data))
    val emb = ctx.call("core", "Tables.embeddings")(Tables.embeddings(spark, cfg.data))
    val st = ctx.call("jobs", "CurationPipeline.stages") {
      val s = CurationPipeline.stages(docs, emb)
      if (ctx.traced) s.foreach(_._2.count())
      s
    }
    ctx.call("jobs", "CurationPipeline.verdict")(
      CurationPipeline.verdictOf(docs, st)
        .write.mode("overwrite").parquet(s"$out/verdict"))

    // CurationJob's consumers share one eager checkpoint of the survivors
    val mixed = st.toMap.apply("mixture").localCheckpoint()
    val merges = ctx.call("llm", "TextAnalysis.learnBpeMerges")(
      TextAnalysis.learnBpeMerges(mixed, numMerges = 200))
    val pieces = ctx.call("llm", "TextAnalysis.bpePieceCounts")(ctx.out(
      TextAnalysis.bpePieceCounts(mixed, merges).select(col("doc_id"), col("n_pieces"))))
    val bins = ctx.call("ops", "Scale.globalCumSum")(
      Scale.globalCumSum(pieces, "doc_id", "n_pieces", "cum_pieces")
        .withColumn("bin", expr("(cum_pieces - n_pieces) div 2048L"))
        .localCheckpoint())
    val split = ctx.call("llm", "TextAnalysis.dataSplit")(
      ctx.out(TextAnalysis.dataSplit(mixed).select("doc_id", "split")))
    val order = ctx.call("llm", "TextAnalysis.shuffleOrder")(
      ctx.out(TextAnalysis.shuffleOrder(mixed).select("doc_id", "shuffle_rank")))
    mixed.select("doc_id", "source", "lang")
      .join(split, "doc_id")
      .join(bins.select("doc_id", "n_pieces", "cum_pieces", "bin"), "doc_id")
      .join(order, "doc_id")
      .write.mode("overwrite").parquet(s"$out/layout")
    IterResult()
  }

  /** `Scale.globalCumSum` reads a checkpointed frame here, so no file is
    * scanned for it: the ratio has a base of 0 rows and reads 0 (both
    * counts are printed). */
  override def layerExtras(ctx: Ctx, traced: Seq[(String, IterResult)])
  : Map[String, Double] = {
    val n = math.max(traced.length, 1)
    val scanned = ctx.tracer.map(_.byLayer(Seq("ops"))("ops").scanRows).getOrElse(0L)
    Map("ops.scan_amplification" -> 0.0,
      "ops.scan_amplification.num_rows" -> scanned.toDouble / n,
      "ops.scan_amplification.den_rows" -> 0.0)
  }
}
