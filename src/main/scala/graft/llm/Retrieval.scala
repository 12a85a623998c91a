package graft.llm

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Sparse lexical retrieval — the BM25 complement of the dense ANN stack
  * (brute/LSH/IVF/PQ in [[Similarity]]), plus reciprocal-rank fusion to
  * combine the two. Retrieval is a first-class curation stage: targeted
  * decontamination, quality probes ("find the docs that look like X"),
  * and hybrid search over a corpus all start from a term-scored ranking.
  *
  * 100 TB posture: the corpus is scanned once per statistic with the
  * query-term filter pushed into the scan (a literal IN over a handful of
  * terms — tf rows exist only for matching occurrences), document
  * frequencies of the query terms are a broadcast-sized relation by
  * construction, and the final top-k per query runs through the O(k)-state
  * bounded aggregate ([[graft.ops.Scale.TopKPayloadAgg]]), never a
  * per-query window sort over the candidate set. Nothing is all-pairs;
  * the heavy relation is (docs containing a query term) × (their matched
  * terms), which is the inverted-index posting volume a dedicated engine
  * would read — here produced by scan + hash aggregate.
  *
  * Scoring determinism (the oracle-gate constraint, see q80): BM25's only
  * transcendental is the idf log. IEEE 754 requires exact rounding for
  * `+ - * /` but not for `ln`, so a cross-engine float-equality gate
  * cannot use libm. `OddsIdf` therefore scores with the raw
  * Robertson–Spärck-Jones odds `(N − df + ½)/(df + ½)` — exact integers
  * in, ONE division out (the q53 rational-score rule) — while `LogIdf`
  * is the production Lucene-shaped `ln(1 + odds)`, verified in-JVM by
  * RetrievalSpec instead of cross-engine. Per-term contributions are
  * summed by an ORDERED fold (sort by term, then left fold) on both
  * engines, so the order-sensitive double sum is bit-identical without
  * any rounding.
  */
object Retrieval {

  sealed trait IdfMode
  /** `ln(1 + (N − df + ½)/(df + ½))` — production scoring (Lucene BM25). */
  case object LogIdf extends IdfMode
  /** `(N − df + ½)/(df + ½)` — log-free, cross-engine bit-deterministic. */
  case object OddsIdf extends IdfMode

  val DefaultK1 = 1.2
  val DefaultB = 0.75

  /** The gate's literal query set (q80/q81) — defined once here and
    * interpolated into the DuckDB oracle by LlmQueries so plan and oracle
    * cannot drift. Query 1 carries a term absent from the corpus
    * ("latency"): unmatched terms must contribute nothing. Query 2 pairs
    * the one rare corpus term ("dup", df ≈ 5%) with a saturated one —
    * the idf contrast the ranking must reflect.
    */
  val DefaultQueries: Seq[(Long, Seq[String])] = Seq(
    0L -> Seq("hash", "join"),
    1L -> Seq("stream", "window", "latency"),
    2L -> Seq("dup", "scan"),
    3L -> Seq("customer", "order", "line"),
    4L -> Seq("slow", "query", "the"))

  /** Per-(query, doc) BM25 score over every document matching ≥ 1 query
    * term. Queries are (id, terms) literals — duplicate terms within one
    * query are collapsed (unit query-term weight, the common engine
    * default). Output: (query_id, doc_id, score).
    *
    * Plan shape: because the query terms are plan-time literals, per-term
    * tf is a per-ROW array expression (no tf groupBy), the document
    * frequencies collapse into the same single-row corpus-stats aggregate
    * (one `sum(array_contains(...))` per term — no df shuffle either), and
    * each query's score is a fixed-association literal expression chain.
    * The whole relation is scan → broadcast 1-row stats → projection:
    * zero data shuffles.
    *
    * Determinism: the score chain adds the per-term contributions in
    * SORTED-term order, `when(tf > 0, contrib).otherwise(0.0)` per term.
    * Adding literal 0.0 is the IEEE identity on the (strictly positive)
    * partial sums, so the result is bit-identical to the oracle's fold
    * over only the PRESENT terms in sorted order.
    */
  def bm25Scores(docs: DataFrame, queries: Seq[(Long, Seq[String])],
                 k1: Double = DefaultK1, b: Double = DefaultB,
                 idf: IdfMode = OddsIdf,
                 idCol: String = "doc_id",
                 textCol: String = "text"): DataFrame = {
    val terms = queries.flatMap(_._2).distinct.sorted

    // ONE tokenize pass: per-doc length + the query-term occurrences (the
    // posting payload an inverted index would store — a terms/vocabulary
    // slice of the corpus: ids, lengths, matched tokens, never the text).
    // Persisted because the stats aggregate and the scoring projection
    // both read it; without the cache each consumer re-runs the regex
    // tokenizer over the full corpus (measured 2× the query cost at sf0.1)
    val toksOfText = TextAnalysis.tokens(col(textCol))
    val base = graft.core.CacheScope.track(docs.select(
      col(idCol).as("doc_id"),
      coalesce(size(toksOfText), lit(0)).as("dl"),
      filter(toksOfText, t => t.isin(terms.map(lit): _*)).as("qtoks"))
      .persist())
    base.count() // eager: stats + scoring both read it

    // corpus scalars AND every term's document frequency in one 1-row
    // aggregate (map-side partial, no shuffle of data rows)
    val statCols = count(lit(1)).as("n_docs") +:
      sum(col("dl")).as("tot_tokens") +:
      terms.zipWithIndex.map { case (t, i) =>
        sum(array_contains(col("qtoks"), t).cast("long")).as(s"df_$i")
      }
    val stats = base.agg(statCols.head, statCols.tail: _*)

    def idfOf(t: String): Column =
      idfExpr(col("n_docs"), col(s"df_${terms.indexOf(t)}"), idf)
    val avgdl = col("tot_tokens").cast("double") / col("n_docs").cast("double")
    scoreProjection(base.crossJoin(broadcast(stats)), queries, k1, b,
      idfOf, avgdl)
  }

  /** BM25 scores against GIVEN corpus statistics — the frozen-stats form:
    * n_docs/tot_tokens/per-term dfs arrive as literals (read from a stored
    * index by the streaming companion), so the whole relation is one
    * stateless narrow projection — no aggregate, no join, no persist. That
    * makes it legal on a STREAMING DataFrame as-is: the ingest-time probe
    * scorer is this exact function (graft.streaming.StreamingRetrieval).
    * A term missing from `dfs` scores at df = 0 (maximum idf) — the
    * never-seen-in-corpus case.
    */
  def bm25ScoresWithStats(docs: DataFrame, queries: Seq[(Long, Seq[String])],
                          nDocs: Long, totTokens: Long,
                          dfs: Map[String, Long],
                          k1: Double = DefaultK1, b: Double = DefaultB,
                          idf: IdfMode = OddsIdf,
                          idCol: String = "doc_id",
                          textCol: String = "text"): DataFrame = {
    val terms = queries.flatMap(_._2).distinct.sorted
    val toksOfText = TextAnalysis.tokens(col(textCol))
    val base = docs.select(
      col(idCol).as("doc_id"),
      coalesce(size(toksOfText), lit(0)).as("dl"),
      filter(toksOfText, t => t.isin(terms.map(lit): _*)).as("qtoks"))
    def idfOf(t: String): Column =
      idfExpr(lit(nDocs), lit(dfs.getOrElse(t, 0L)), idf)
    val avgdl = lit(totTokens).cast("double") / lit(nDocs).cast("double")
    scoreProjection(base, queries, k1, b, idfOf, avgdl)
  }

  /** The idf expression shared by every scoring path — identical tree
    * whether n/df arrive as columns or literals, so the produced doubles
    * agree bit-for-bit when the values do. */
  private def idfExpr(n: Column, df: Column, idf: IdfMode): Column = {
    val odds = ((n - df).cast("double") + lit(0.5)) /
      (df.cast("double") + lit(0.5))
    idf match {
      case OddsIdf => odds
      case LogIdf  => log(lit(1.0) + odds)
    }
  }

  /** The shared per-row scoring projection: from a (doc_id, dl, qtoks[+])
    * frame, one struct per query — (query_id, matched-term count, score
    * chain in sorted-term order) — exploded into the (query, doc, score)
    * relation; docs matching no term of a query are dropped by the integer
    * filter. Narrow (select/filter/explode only): streaming-legal. */
  private def scoreProjection(base: DataFrame,
                              queries: Seq[(Long, Seq[String])],
                              k1: Double, b: Double,
                              idfOf: String => Column,
                              avgdl: Column): DataFrame = {
    def tfOf(t: String): Column =
      size(filter(col("qtoks"), x => x === lit(t)))
    // every float op is an IEEE-exact +,-,*,/ (except LogIdf's ln); the
    // expression TREE mirrors the oracle SQL literally — association order
    // included — so each per-term contribution is bit-identical
    def contribOf(t: String): Column = {
      val tfD = tfOf(t).cast("double")
      when(tfOf(t) > 0,
        idfOf(t) * ((tfD * lit(k1 + 1.0)) /
          (tfD + lit(k1) * (lit(1.0 - b) + lit(b) *
            (col("dl").cast("double") / avgdl))))).otherwise(lit(0.0))
    }
    val perQuery = queries.map { case (qid, ts) =>
      val qts = ts.distinct.sorted
      struct(
        lit(qid).as("query_id"),
        qts.map(tfOf).reduce(_ + _).as("matched"),
        qts.map(contribOf).reduce(_ + _).as("score"))
    }
    base.select(col("doc_id"), explode(array(perQuery: _*)).as("q"))
      .filter(col("q.matched") > 0)
      .select(col("q.query_id").as("query_id"), col("doc_id"),
        col("q.score").as("score"))
  }

  /** Per-query bounded top-k over a (query_id, doc_id, score) relation:
    * one O(k)-state aggregate carries (score, doc) pairs, so rank AND
    * score come out of the explode position — no per-query window sort
    * over the candidate set, no rejoin (the q68/q72 refine lesson, one
    * step further). Order: score desc, doc_id asc. */
  private def topKScored(scored: DataFrame, k: Int): DataFrame = {
    val spark = scored.sparkSession
    import spark.implicits._
    scored.select(col("query_id").cast("long"), col("doc_id").cast("long"),
        col("score"))
      .as[(Long, Long, Double)]
      .groupByKey(_._1)
      .mapValues(r => (r._3, (r._3, r._2)))
      .agg(graft.ops.Scale.topKScoredLongColumn(k).name("top"))
      .toDF("query_id", "top")
      .select(col("query_id"), posexplode(col("top")).as(Seq("i", "p")))
      .select(col("query_id"), col("p._2").as("doc_id"),
        col("p._1").as("score"), (col("i") + 1).cast("long").as("rnk"))
  }

  /** BM25 top-k per query: (query_id, doc_id, score, rnk), rnk by
    * (score desc, doc_id asc), via the bounded scored aggregate.
    */
  def bm25TopK(docs: DataFrame, queries: Seq[(Long, Seq[String])],
               k: Int = 10,
               k1: Double = DefaultK1, b: Double = DefaultB,
               idf: IdfMode = OddsIdf,
               idCol: String = "doc_id",
               textCol: String = "text"): DataFrame =
    topKScored(bm25Scores(docs, queries, k1, b, idf, idCol, textCol), k)

  // ------------------- stored inverted index -------------------

  /** Persist an inverted index over the corpus — the sparse twin of the
    * stored ANN indexes ([[Similarity.writeIvfPqIndex]]): search any query
    * set later without re-tokenizing the corpus. Layout under `path`:
    *
    *   stats/     one row: (n_docs, tot_tokens, groups) — the BM25 corpus
    *              scalars plus the sharding parameter
    *   postings/  (tok, doc_id, dl, tf) PARTITIONED BY grp =
    *              fingerprint(tok) mod groups
    *
    * Term-GROUP sharding instead of one partition dir per term: a web-scale
    * dictionary holds millions of distinct tokens (directory explosion),
    * but a query still prunes to ≤ |query terms| of the `groups` dirs —
    * the same bucket-group trade as the streaming band store's compaction
    * layout. Document frequencies are NOT a separate artifact: df of a
    * query term is a count over its (pruned) posting list. Group
    * assignment hashes the DISTINCT-token table, not the posting stream
    * (the q77 vocabulary-not-occurrences lesson). The index is built whole
    * from `docs`; both artifacts swap together under
    * [[graft.sinks.Sinks.replaceDir]].
    */
  def writeInvertedIndex(docs: DataFrame, path: String, groups: Int = 64,
                         idCol: String = "doc_id",
                         textCol: String = "text"): Unit = {
    val spark = docs.sparkSession
    val toksOfText = TextAnalysis.tokens(col(textCol))
    val base = graft.core.CacheScope.track(docs.select(
      col(idCol).cast("long").as("doc_id"),
      coalesce(size(toksOfText), lit(0)).as("dl"),
      toksOfText.as("toks")).persist())
    base.count() // eager: stats and postings both read it
    graft.sinks.Sinks.replaceDir(spark, path) { tmp =>
      base.agg(count(lit(1)).as("n_docs"), sum(col("dl")).as("tot_tokens"))
        .withColumn("groups", lit(groups))
        .repartition(1).write.parquet(s"$tmp/stats")
      val tf = base.select(col("doc_id"), col("dl"),
          explode(col("toks")).as("tok"))
        .groupBy("doc_id", "dl", "tok").agg(count(lit(1)).as("tf"))
      val vocabGrp = tf.select("tok").distinct()
        .withColumn("grp",
          pmod(TextAnalysis.fingerprint(col("tok")), lit(groups.toLong))
            .cast("int"))
      tf.join(broadcast(vocabGrp), "tok")
        .repartition(col("grp")) // one file per group dir, not one per task
        .write.partitionBy("grp").parquet(s"$tmp/postings")
    }
  }

  /** BM25 top-k over a STORED index: the postings read prunes to the query
    * terms' group partitions (≤ |terms| of the `groups` dirs — the scan
    * never touches the rest of the dictionary), df comes from a count over
    * those pruned lists, and scoring + the bounded top-k are the exact
    * expression trees of the inline path — searching the store equals
    * [[bm25TopK]] on the indexed corpus bit-for-bit (LlmOpsSpec pins it;
    * q83 shares the q80 oracle under that equality).
    */
  def searchInvertedIndex(spark: org.apache.spark.sql.SparkSession,
                          path: String, queries: Seq[(Long, Seq[String])],
                          k: Int = 10,
                          k1: Double = DefaultK1, b: Double = DefaultB,
                          idf: IdfMode = OddsIdf): DataFrame = {
    import spark.implicits._
    val st = spark.read.parquet(s"$path/stats").head()
    val nDocs = st.getAs[Long]("n_docs")
    val totTokens = st.getAs[Long]("tot_tokens")
    val groups = st.getAs[Int]("groups")
    val terms = queries.flatMap(_._2).distinct
    val grps = terms
      .map(t => (TextAnalysis.fingerprintOf(t) % groups).toInt).distinct
    val qterms = queries
      .flatMap { case (qid, ts) => ts.distinct.map(t => (qid, t)) }
      .toDF("query_id", "tok")
    // partition pruning on grp, then the exact term filter within the dirs
    val postings = spark.read.parquet(s"$path/postings")
      .filter(col("grp").isin(grps.map(Integer.valueOf): _*) &&
        col("tok").isin(terms.map(lit): _*))
    val dfreq = postings.groupBy("tok").agg(count(lit(1)).as("df"))
    // identical float expression trees to bm25Scores — stats arrive as
    // literals instead of a broadcast row, same doubles either way
    val odds = (lit(nDocs) - col("df")).cast("double") + lit(0.5)
    val oddsIdf = odds / (col("df").cast("double") + lit(0.5))
    val idfCol = idf match {
      case OddsIdf => oddsIdf
      case LogIdf  => log(lit(1.0) + oddsIdf)
    }
    val avgdl = lit(totTokens).cast("double") / lit(nDocs).cast("double")
    val tfD = col("tf").cast("double")
    val contrib = idfCol * ((tfD * lit(k1 + 1.0)) /
      (tfD + lit(k1) * (lit(1.0 - b) + lit(b) *
        (col("dl").cast("double") / avgdl))))
    // the ordered fold again: posting rows arrive per term, so the sum is
    // pinned by sorting the (term, contribution) pairs — bit-identical to
    // the inline path's sorted expression chain (+0.0 identity)
    val scored = postings
      .join(broadcast(dfreq), "tok")
      .join(broadcast(qterms), "tok")
      .withColumn("contrib", contrib)
      .groupBy("query_id", "doc_id")
      .agg(aggregate(
        sort_array(collect_list(struct(col("tok").as("t"),
          col("contrib").as("c")))),
        lit(0.0), (acc, x) => acc + x.getField("c")).as("score"))
    topKScored(scored, k)
  }

  /** Reciprocal-rank fusion over n rankings (Cormack et al.): fused(d) =
    * Σᵢ 1/(c + rankᵢ(d)), items missing from a ranking contribute 0. The
    * standard hybrid-retrieval combiner — rank-based, so the sparse and
    * dense score scales never need calibrating against each other.
    *
    * Inputs: each (query_id, doc_id, rnk); ranks are exact integers, each
    * term is ONE IEEE division, and the fold across rankings follows the
    * given sequence order — deterministic, no rounding. Output:
    * (query_id, doc_id, the per-source ranks (0 = absent), rrf, rnk).
    *
    * Scale: each input is already a top-k relation (≤ k·|queries| rows) —
    * the fusion join is broadcast-sized no matter the corpus behind it.
    */
  def rrfFuse(rankings: Seq[DataFrame], c: Double = 60.0,
              k: Int = 10): DataFrame = {
    require(rankings.nonEmpty, "rrfFuse needs at least one ranking")
    val keyed = rankings.zipWithIndex.map { case (r, i) =>
      r.select(col("query_id").cast("long"), col("doc_id").cast("long"),
        col("rnk").cast("long").as(s"rnk_$i"))
    }
    val joined = keyed.reduce(_.join(_, Seq("query_id", "doc_id"),
      "full_outer"))
    val rrf = keyed.indices
      .map(i => coalesce(
        lit(1.0) / (lit(c) + col(s"rnk_$i").cast("double")), lit(0.0)))
      .reduce(_ + _) // left fold: fixed association order on both engines
    val absent0 = keyed.indices.map(i =>
      coalesce(col(s"rnk_$i"), lit(0L)).as(s"rnk_$i"))
    joined
      .select(col("query_id") +: col("doc_id") +: absent0 :+ rrf.as("rrf"): _*)
      .withColumn("rnk", row_number().over(
        Window.partitionBy("query_id")
          .orderBy(col("rrf").desc, col("doc_id"))).cast("long"))
      .filter(col("rnk") <= k)
  }

  /** Maximal-marginal-relevance rerank (Carbonell–Goldstein) of a top-n
    * candidate relation: greedily select k results trading relevance
    * against redundancy — pick argmax λ·rel(d) − (1−λ)·max_{s∈S} sim(d,s),
    * ties to the smaller neighbor_id. The diversified-retrieval tail every
    * RAG/eval-set builder wants after q32/q52/q83: without it, a near-dup
    * cluster monopolizes the top slots the near-dup pipeline exists to
    * break up.
    *
    * Inputs: `candidates` = any (query_id, neighbor_id, score) top-n
    * relation (brute q32, IVF q52, stored-index — the operator composes);
    * `embeddings` supplies candidate vectors for the pairwise sims.
    *
    * Determinism: rel and the pairwise sims are 1e-6-rounded BEFORE the
    * greedy loop, so every argmax operand is cross-engine exact (the
    * kmeans/q84 contract); λ·rel − (1−λ)·maxsim over rounded operands is
    * then pure IEEE, identical in the DuckDB oracle's unrolled CTE chain.
    *
    * Scale: the greedy selection is genuinely sequential, but its state is
    * ONE query's candidate set (n ≤ top-n bound, n² rounded sims) — so the
    * pairwise sims are a bounded self-join and the loop runs per-query in
    * flatMapGroups with O(n²) rows per group, embarrassingly parallel
    * across queries. Nothing touches the corpus; the candidate generator
    * already bounded it.
    */
  def mmrRerank(candidates: DataFrame, embeddings: DataFrame, k: Int,
                lambda: Double = 0.7, idCol: String = "vec_id",
                vecCol: String = "embedding"): DataFrame = {
    val spark = candidates.sparkSession
    import spark.implicits._
    val mu = 1.0 - lambda
    // fused/unioned candidate inputs (e.g. RRF legs) can repeat a
    // (query, neighbor) pair with different scores — collapse to the max
    // rel HERE so the grid and the greedy loop see one deterministic row
    // per pair instead of toMap's arbitrary winner
    val cand = candidates.select(col("query_id").cast("long"),
        col("neighbor_id").cast("long"), round(col("score"), 6).as("rel"))
      .groupBy("query_id", "neighbor_id").agg(max("rel").as("rel"))
    val emb = embeddings.select(col(idCol).cast("long").as("nid"),
      col(vecCol).as("v"))
    val cv = cand.join(emb, col("neighbor_id") === col("nid")).drop("nid")
    val a = cv.select(col("query_id"), col("neighbor_id").as("id_a"),
      col("rel").as("rel_a"), col("v").as("va"))
    val b = cv.select(col("query_id"), col("neighbor_id").as("id_b"),
      col("v").as("vb"))
    // full n×n grid per query (self rows carry a null sim) so rel survives
    // even for single-candidate queries
    val grid = a.join(b, Seq("query_id"))
      .select(col("query_id"), col("id_a"), col("rel_a"), col("id_b"),
        when(col("id_a") =!= col("id_b"),
          round(graft.llm.Similarity.cosine(col("va"), col("vb")), 6))
          .as("sim"))
    grid.as[(Long, Long, Double, Long, Option[Double])]
      .groupByKey(_._1)
      .flatMapGroups { (qid, it) =>
        val rows = it.toArray
        val rel = rows.map(r => r._2 -> r._3).toMap
        val sim = rows.collect { case (_, ia, _, ib, Some(s)) => (ia, ib) -> s }
          .toMap
        val remaining = scala.collection.mutable.SortedSet(rel.keys.toSeq: _*)
        val selected = scala.collection.mutable.ArrayBuffer.empty[Long]
        val out = scala.collection.mutable.ArrayBuffer
          .empty[(Long, Long, Double, Long)]
        var i = 1
        while (i <= k && remaining.nonEmpty) {
          var bestId = -1L
          var bestScore = Double.NegativeInfinity
          // ascending iteration + strict '>' = smaller-id tie-break
          remaining.foreach { id =>
            val ms = if (selected.isEmpty) 0.0
              else selected.map(s => sim.getOrElse((id, s), 0.0)).max
            val sc = lambda * rel(id) - mu * ms
            if (sc > bestScore) { bestScore = sc; bestId = id }
          }
          remaining.remove(bestId)
          selected += bestId
          out += ((qid, bestId, bestScore, i.toLong))
          i += 1
        }
        out
      }
      .toDF("query_id", "neighbor_id", "mmr_score", "rnk")
  }

  /** Power-of-two bucket floors for [[postingsSkewHistogram]] — shared
    * with the oracle generator so the CASE ladder cannot drift between
    * engines. 2^0 .. 2^20; document frequencies above 2^20 land in the
    * top bucket (a term in >10^6 docs is stopword-class either way). */
  val DfBucketFloors: Seq[Long] = (0 to 20).map(1L << _)

  /** Postings-list skew histogram — the inverted-index health audit
    * behind [[writeInvertedIndex]]'s sizing: bucket every term by the
    * power of two its document frequency falls in and report the term
    * count and total postings mass per bucket. The shape answers the
    * two index-build questions — how much of the postings volume is
    * stopword-class (top buckets: candidates for stopping or impact
    * ordering) and how long the singleton tail is (bucket 1: dictionary
    * overhead). Exact integer arithmetic; the bucket edges are a fixed
    * CASE ladder (never float log2, whose exact-power rounding can
    * differ across engines).
    *
    * 100 TB posture: one distinct (doc, term) projection, one term-key
    * df aggregate (map-side combined), one ≤ 21-group aggregate. The
    * vocabulary crosses the shuffle once; documents never do.
    *
    * Output: (df_bucket, n_terms, n_postings) — df_bucket is the
    * bucket's inclusive lower edge.
    */
  def postingsSkewHistogram(docs: DataFrame, idCol: String = "doc_id",
                            textCol: String = "text"): DataFrame = {
    val df = docs
      .select(col(idCol), explode(graft.llm.TextAnalysis
        .tokens(col(textCol))).as("term"))
      .distinct()
      .groupBy(col("term")).agg(count(lit(1)).as("df"))
    // fold ascending so the LARGEST floor tests first (outermost when):
    // each step wraps the accumulated smaller-floor ladder in its else
    val ladder = DfBucketFloors.tail
      .foldLeft(lit(DfBucketFloors.head)) { (acc, floor) =>
        when(col("df") >= floor, lit(floor)).otherwise(acc)
      }
    df.select(ladder.as("df_bucket"), col("df"))
      .groupBy(col("df_bucket"))
      .agg(count(lit(1)).as("n_terms"), sum(col("df")).as("n_postings"))
  }
}
