package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.llm.{Retrieval, TextAnalysis}

/** Ingest-time retrieval probes — the streaming twin of the stored
  * inverted index ([[graft.llm.Retrieval.writeInvertedIndex]]), in the
  * frozen-artifact pattern of the embedding near-dup stream (batch-0
  * quantizers): corpus statistics and probe-term document frequencies are
  * read ONCE from the store, then every arriving document is BM25-scored
  * against the probe queries as a pure stateless projection — no state
  * store, no watermark, no per-batch store read. The use case is the
  * contamination screen at the front door: a document ranking high for an
  * eval-benchmark probe is flagged before it ever lands in the corpus,
  * instead of being hunted down by the batch screen afterwards.
  *
  * Freshness trade, stated plainly: scores use the store's statistics as
  * of scorer start — documents arriving after that shift neither df nor
  * avgdl until the batch index is rewritten and the stream
  * restarted (same retrain contract as the frozen-quantizer stream).
  * Per-document scores do not depend on other STREAM documents at all, so
  * the union of micro-batch emissions equals the batch scorer under the
  * same frozen stats (StreamingSpec pins it).
  */
object StreamingRetrieval {

  /** Read a stored index's probe statistics driver-side: (n_docs,
    * tot_tokens, df per probe term). The postings read prunes to the probe
    * terms' group partitions — |terms| point lists, never the dictionary.
    * Terms absent from the store get no entry (df = 0 downstream). */
  def probeStats(spark: SparkSession, path: String,
                 terms: Seq[String]): (Long, Long, Map[String, Long]) = {
    val st = spark.read.parquet(s"$path/stats").head()
    val groups = st.getAs[Int]("groups")
    val grps = terms
      .map(t => (TextAnalysis.fingerprintOf(t) % groups).toInt).distinct
    val dfs = spark.read.parquet(s"$path/postings")
      .filter(col("grp").isin(grps.map(Integer.valueOf): _*) &&
        col("tok").isin(terms.map(lit): _*))
      .groupBy("tok").agg(count(lit(1)).as("df"))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    (st.getAs[Long]("n_docs"), st.getAs[Long]("tot_tokens"), dfs)
  }

  /** Probe-score a streaming document frame against the frozen store:
    * returns the streaming (query_id, doc_id, score) relation — attach a
    * threshold filter and a sink. Works identically on a batch frame (the
    * equivalence the test pins). */
  def probeScoreStream(docs: DataFrame, indexPath: String,
                       queries: Seq[(Long, Seq[String])],
                       k1: Double = Retrieval.DefaultK1,
                       b: Double = Retrieval.DefaultB,
                       idf: Retrieval.IdfMode = Retrieval.OddsIdf,
                       idCol: String = "doc_id",
                       textCol: String = "text"): DataFrame = {
    val (n, tot, dfs) = probeStats(docs.sparkSession, indexPath,
      queries.flatMap(_._2).distinct)
    Retrieval.bm25ScoresWithStats(docs, queries, n, tot, dfs,
      k1, b, idf, idCol, textCol)
  }
}
