package graft.llm

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Text-analysis operators for large-scale training-data pipelines (beyond
  * the reference surface; BASELINE.json north star). All column-expression
  * based (whole-stage codegen, no UDFs) so they run at scan speed and the
  * scan only reads the `text` column (check `ReadSchema` in explain).
  */
object TextAnalysis {

  /** Whitespace tokens of `text`, empty tokens removed. */
  def tokens(text: Column): Column =
    filter(split(text, "\\s+"), t => t =!= "")

  /** Token count (whitespace tokenizer). */
  def tokenCount(text: Column): Column = size(tokens(text))

  /** BPE-ish sub-word count: alphanumeric runs + each punctuation mark
    * counted separately — a cheap deterministic proxy for a real BPE
    * tokenizer's piece count.
    */
  def bpeishCount(text: Column): Column =
    size(filter(split(text, "[^\\p{L}\\p{N}]+"), t => t =!= "")) +
      length(regexp_replace(text, "[\\p{L}\\p{N}\\s]", ""))

  /** PII/link scrub patterns — written to parse identically under Java
    * regex (Spark codegen) and RE2 (DuckDB oracle): no backrefs, no
    * lookaround. */
  val EmailRe = "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}"
  val UrlRe = "https?://[^\\s]+"

  /** Count of regex matches in `text` (0 when none, including NULL text —
    * `size(null)` alone would propagate the NULL). */
  def countMatches(text: Column, re: String): Column =
    coalesce(size(regexp_extract_all(text, lit(re), lit(0))), lit(0))

  /** Training-data scrub: URLs then emails replaced with placeholder
    * tokens — the standard pre-training PII/link masking pass, pure column
    * expressions (URLs first: an email-shaped substring inside a URL must
    * be masked as part of the URL, not split). */
  def scrub(text: Column): Column =
    regexp_replace(regexp_replace(text, UrlRe, "<URL>"), EmailRe, "<EMAIL>")

  /** Quality features per document: chars, tokens, mean token length,
    * punctuation ratio, stopword ratio.
    */
  def withQualityFeatures(docs: DataFrame, textCol: String = "text",
                          stopwords: Seq[String] = DefaultStopwords): DataFrame = {
    val t = col(textCol)
    val toks = tokens(t)
    docs
      .withColumn("n_tokens", size(toks))
      .withColumn("mean_token_len",
        aggregate(toks, lit(0L), (acc, x) => acc + length(x)).cast("double") /
          greatest(size(toks), lit(1)))
      .withColumn("punct_ratio",
        length(regexp_replace(t, "[^.,;:!?'\"()]", "")).cast("double") /
          greatest(length(t), lit(1)))
      .withColumn("stopword_ratio",
        size(filter(toks, x => x.isin(stopwords.map(lit): _*))).cast("double") /
          greatest(size(toks), lit(1)))
  }

  /** Composite quality score in [0,1]: length-window + stopword presence −
    * punctuation excess. Deterministic arithmetic only.
    */
  def qualityScore(docs: DataFrame, textCol: String = "text"): DataFrame =
    withQualityFeatures(docs, textCol)
      .withColumn("quality_score",
        (when(col("n_tokens").between(10, 1000), 0.4).otherwise(0.0)
          + when(col("stopword_ratio") > 0.01, 0.3).otherwise(0.0)
          + when(col("punct_ratio") < 0.2, 0.3).otherwise(0.0)))

  /** Hashed bag-of-tokens linear quality classifier — the MODEL-BASED
    * quality-filtering stage of curation pipelines (the CCNet/fastText
    * shape: hash features into a fixed-width bucket table, score = a linear
    * pass over the document's buckets), next to [[qualityScore]]'s
    * hand-written heuristic: each token hashes into one of
    * `weights.length` feature buckets via the portable mod-2^57
    * [[fingerprint]], the document's `raw_score` is the exact-integer sum
    * of its tokens' bucket weights, and `score` = raw/n_tokens — the mean
    * weight per token, ONE IEEE division of exact integers, so the whole
    * row is engine-deterministic and oracle-checkable. `weights` are the
    * model parameters (a trained fastText-style model integer-quantizes
    * into this form; [[hashedWeights]] derives a deterministic stand-in
    * family where no trained model is available).
    *
    * Plan: the fingerprint (an interpreted per-char fold) is computed once
    * per DISTINCT token and joined back onto the occurrence stream — the
    * vocabulary-first layout q31 measured 4× at bench scale (vocabulary ≪
    * corpus at every scale; AQE covers stopword-bucket skew in the join).
    * The weight table is a literal array lookup in the projection — no
    * second join, no broadcast. Left-anchored on the input docs so empty
    * documents score 0.0 instead of vanishing.
    */
  def classifierScore(docs: DataFrame, weights: Array[Long],
                      idCol: String = "doc_id",
                      textCol: String = "text"): DataFrame = {
    val d = weights.length
    val occ = docs.select(col(idCol),
      explode(tokens(col(textCol))).as("__tok"))
    val vocab = occ.select("__tok").distinct()
      .withColumn("__w", element_at(lit(weights),
        pmod(fingerprint(col("__tok")), lit(d.toLong)).cast("int") + 1))
    val agg = occ.join(vocab, "__tok")
      .groupBy(col(idCol))
      .agg(count(lit(1)).as("n_tokens"), sum(col("__w")).as("raw_score"))
    docs.select(col(idCol)).join(agg, Seq(idCol), "left")
      .select(col(idCol),
        coalesce(col("n_tokens"), lit(0L)).as("n_tokens"),
        coalesce(col("raw_score"), lit(0L)).as("raw_score"),
        when(coalesce(col("n_tokens"), lit(0L)) > 0,
          col("raw_score").cast("double") / col("n_tokens"))
          .otherwise(0.0).as("score"))
  }

  /** Deterministic stand-in weight family for [[classifierScore]] (no
    * trained model ships with a library): bucket `b` maps through a
    * splitmix64-style mix of (seed, b) into an integer weight in [-8, 8].
    * Seed-stable with no RNG state — the same determinism contract as the
    * LSH hyperplane family. */
  def hashedWeights(d: Int, seed: Int = 0): Array[Long] =
    Array.tabulate(d) { b =>
      var z = (seed.toLong * 1000003L + b.toLong) * 0x9E3779B97F4A7C15L
      z = (z ^ (z >>> 30)) * 0xBF58476D1CE4E5B9L
      z = (z ^ (z >>> 27)) * 0x94D049BB133111EBL
      z = z ^ (z >>> 31)
      java.lang.Math.floorMod(z, 17L) - 8L
    }

  /** Gopher-style repetition signal: the frequency share of each document's
    * most-repeated w-gram (→ 1.0 when one shingle dominates — boilerplate /
    * generated spam). Docs shorter than w emit nothing. max/sum are exact
    * integers, so the single division is bit-deterministic.
    *
    * r18: computed in-row (grams built, sorted, and run-length-folded per
    * document — equal grams are adjacent after the sort, so the max run IS
    * the max multiplicity) instead of two corpus-wide hash aggregates over
    * the exploded (doc, shingle) occurrence stream: zero Exchanges, and
    * per-doc state bounded by document length. The total gram count is
    * size − w + 1 exactly (every start position emits one gram), so the
    * division's operands are the same exact integers as before.
    */
  def repetitionRatio(docs: DataFrame, w: Int = 3, idCol: String = "doc_id",
                      textCol: String = "text"): DataFrame =
    docs.select(col(idCol), tokens(col(textCol)).as("__w"))
      .filter(coalesce(size(col("__w")), lit(0)) >= w)
      .select(col(idCol), expr(
        s"""CAST(aggregate(
           |  array_sort(transform(sequence(0, size(__w) - $w),
           |    s -> array_join(slice(__w, s + 1, $w), ' '))),
           |  named_struct('p', CAST(NULL AS STRING), 'r', 0L, 'm', 0L),
           |  (acc, g) -> IF(acc.p IS NOT NULL AND g = acc.p,
           |    named_struct('p', acc.p, 'r', acc.r + 1L, 'm', acc.m),
           |    named_struct('p', g, 'r', 1L,
           |      'm', greatest(acc.m, acc.r))),
           |  acc -> greatest(acc.m, acc.r)) AS DOUBLE)
           |  / (size(__w) - ${w - 1})""".stripMargin).as("rep_ratio"))

  /** The Gopher repetition-filter battery (Rae et al. 2021, §A1.1) —
    * the standard per-document n-gram repetition metrics a production
    * quality gate runs alongside the single-w [[repetitionRatio]]:
    *
    *  - `top{2,3,4}_milli` — the character fraction (in thousandths)
    *    covered by the document's MOST FREQUENT n-gram: occurrences ×
    *    gram chars / doc chars. The argmax is deterministic — ties
    *    break by (count, gram chars, gram text) — so the metric is
    *    cross-engine exact.
    *  - `dup{5,8,10}_milli` — the character fraction covered by ALL
    *    n-grams occurring more than once: Σ over duplicated grams of
    *    occurrences × gram chars / doc chars, capped at 1000 (overlaps
    *    are deliberately not de-overlapped — the standard
    *    implementation's definition, stated so the number means the
    *    same thing everywhere).
    *  - `keep` — true iff every metric is at or below the paper's
    *    published thresholds (top: 0.20/0.18/0.16; dup: 0.15/0.12/0.10
    *    for n = 5/8/10), compared by exact integer cross-multiplication
    *    (chars·1000 ≤ thr‰·total), never a float.
    *
    * Character counts are over the token-joined text (Σ token chars +
    * separators), the same basis both engines compute exactly. Docs
    * shorter than n grams score 0 for that n (nothing repeats); empty
    * docs keep.
    *
    * 100 TB posture (r18): the whole battery is ONE per-row projection —
    * per n, the stride-1 grams are built in-row (the slice device),
    * sorted, and folded with a single `aggregate` run-length pass that
    * tracks the (count, chars, gram)-argmax AND the duplicated-char sum
    * at once. Equal grams are adjacent after the sort, so one O(G log G)
    * sort + O(G) fold per document replaces the previous plan's 6-way
    * gram EXPLODE (Σ(n) ≈ 32 extra token copies per position) shuffled
    * into a corpus-wide (doc, n, gram) hash aggregate plus a per-doc
    * aggregate plus a join back — zero Exchanges now, and per-doc state
    * is bounded by document length. Outputs are bit-identical: the fold's
    * argmax compares (count, gram chars, gram text) exactly like the old
    * max(struct(c, glen, g)) (string comparison is the same binary
    * UTF8String order on both paths).
    */
  def repetitionStats(docs: DataFrame, idCol: String = "doc_id",
                      textCol: String = "text"): DataFrame = {
    val topNs = Seq(2, 3, 4)
    val dupNs = Seq(5, 8, 10)
    val thrTop = Map(2 -> 200L, 3 -> 180L, 4 -> 160L)
    val thrDup = Map(5 -> 150L, 8 -> 120L, 10 -> 100L)
    val ns = (topNs ++ dupNs).distinct.sorted
    val base = docs.select(col(idCol),
      tokens(col(textCol)).as("__w"))
      .withColumn("__total",
        length(array_join(coalesce(col("__w"),
          array().cast("array<string>")), " ")).cast("long"))
    // Per n: sorted stride-1 grams folded once. State: current run
    // (p = gram, r = count) + best-so-far argmax by (count, chars, text)
    // (bc/bl/bg) + duplicated-char sum (d). A run closes when the gram
    // changes; the finish lambda closes the last run and emits
    // (t = best count·chars, d). Docs shorter than n score (0, 0) —
    // exactly the old left-join-null → coalesce(0) path.
    def closeRun(acc: String) = {
      val len = s"CAST(length($acc.p) AS BIGINT)"
      val better = s"$acc.p IS NOT NULL AND ($acc.r > $acc.bc OR " +
        s"($acc.r = $acc.bc AND ($len > $acc.bl OR " +
        s"($len = $acc.bl AND $acc.p > $acc.bg))))"
      val d = s"$acc.d + IF($acc.p IS NOT NULL AND $acc.r >= 2L, " +
        s"$acc.r * $len, 0L)"
      (better, d)
    }
    def statsFor(n: Int): Column = {
      val (better, dClosed) = closeRun("acc")
      val len = "CAST(length(acc.p) AS BIGINT)"
      expr(
        s"""IF(coalesce(size(__w), 0) >= $n,
           |  aggregate(
           |    array_sort(transform(sequence(0, size(__w) - $n),
           |      s -> array_join(slice(__w, s + 1, $n), ' '))),
           |    named_struct('p', CAST(NULL AS STRING), 'r', 0L,
           |      'bc', 0L, 'bl', 0L, 'bg', CAST(NULL AS STRING), 'd', 0L),
           |    (acc, g) -> IF(acc.p IS NOT NULL AND g = acc.p,
           |      named_struct('p', acc.p, 'r', acc.r + 1L, 'bc', acc.bc,
           |        'bl', acc.bl, 'bg', acc.bg, 'd', acc.d),
           |      IF($better,
           |        named_struct('p', g, 'r', 1L, 'bc', acc.r,
           |          'bl', $len, 'bg', acc.p, 'd', $dClosed),
           |        named_struct('p', g, 'r', 1L, 'bc', acc.bc,
           |          'bl', acc.bl, 'bg', acc.bg, 'd', $dClosed))),
           |    acc -> IF($better,
           |      named_struct('t', acc.r * $len, 'd', $dClosed),
           |      named_struct('t', acc.bc * acc.bl, 'd', $dClosed))),
           |  named_struct('t', 0L, 'd', 0L))""".stripMargin).as(s"__s$n")
    }
    val withChars = base
      .select(col(idCol) +: col("__total") +: ns.map(statsFor): _*)
      .select(
        col(idCol) +: col("__total") +:
          (topNs.map(n => col(s"__s$n.t").as(s"__ch_t$n")) ++
            dupNs.map(n => col(s"__s$n.d").as(s"__ch_d$n"))): _*)
    def milli(chars: String): Column =
      when(col("__total") > 0L,
        least(lit(1000L), expr(s"($chars * 1000) div __total")))
        .otherwise(0L)
    val keep = (topNs.map(n =>
        col(s"__ch_t$n") * 1000L <= lit(thrTop(n)) * col("__total")) ++
      dupNs.map(n =>
        col(s"__ch_d$n") * 1000L <= lit(thrDup(n)) * col("__total")))
      .reduce(_ && _) || col("__total") === 0L
    withChars.select(
      col(idCol) +: col("__total").as("n_chars") +:
        (topNs.map(n => milli(s"__ch_t$n").as(s"top${n}_milli")) ++
          dupNs.map(n => milli(s"__ch_d$n").as(s"dup${n}_milli")) :+
          keep.as("keep")): _*)
  }

  /** Language ID by stopword voting: score(lang) = #tokens in that language's
    * stopword list; argmax wins, ties resolved by list order, no hits →
    * "und". An n-gram-free heuristic that stays in codegen.
    */
  def langId(docs: DataFrame, textCol: String = "text",
             stoplists: Seq[(String, Seq[String])] = DefaultStoplists): DataFrame = {
    // single-pass plan: explode tokens once, one hash aggregate with a
    // conditional-sum column per language (all codegen'd `IN` checks) —
    // replaces N interpreted list-filter passes per row
    val toked = docs.select(col("*"),
      explode_outer(tokens(col(textCol))).as("__tok"))
    val scoreCols = stoplists.map { case (lang, words) =>
      sum(when(col("__tok").isin(words.map(lit): _*), 1).otherwise(0))
        .cast("int").as(s"__s_$lang")
    }
    val grouped = toked.groupBy(docs.columns.toIndexedSeq.map(col): _*)
      .agg(scoreCols.head, scoreCols.tail: _*)
    // argmax with first-wins tie-break, expressed as a fold over langs
    val best = stoplists.map(_._1).foldLeft((lit("und"), lit(0))) {
      case ((bLang, bScore), lang) =>
        (when(col(s"__s_$lang") > bScore, lit(lang)).otherwise(bLang),
          when(col(s"__s_$lang") > bScore, col(s"__s_$lang")).otherwise(bScore))
    }
    grouped.withColumn("pred_lang", best._1)
      .drop(stoplists.map(l => s"__s_${l._1}"): _*)
  }

  /** Polynomial rolling-hash fingerprint of the document text: fold
    * `acc = (acc*31 + code) mod 2^57` over the char codes. The modulus keeps
    * `acc*31 + c < 2^62`, so the arithmetic never overflows a signed 64-bit
    * int — making the value portable across engines (Java wraps silently on
    * overflow, ANSI engines raise), hence oracle-checkable. Computed with
    * `aggregate` over the char array: stays distributed and codegen'd.
    */
  val FingerprintMod: Long = 1L << 57

  def fingerprint(text: Column): Column =
    graft.functions.StringFunctions.rolling_fp(text, FingerprintMod)

  /** The composed higher-order-function form [[fingerprint]] replaced (an
    * interpreted per-char lambda over a materialized one-char-string
    * array) — kept as the semantic spec: FingerprintSpec pins value
    * equality of the native expression against this form corpus-wide and
    * on the unicode/empty edge cases. */
  private[graft] def fingerprintHof(text: Column): Column =
    aggregate(split(text, ""), lit(0L),
      (acc, ch) => pmod(
        acc * lit(31L) + coalesce(ascii(ch).cast("long"), lit(0L)),
        lit(FingerprintMod)))

  /** Driver-side twin of [[fingerprint]] — same fold, same modulus, for
    * plan-time constants (e.g. the inverted index's term-group partition
    * filters). Equality with the Column form is pinned where it matters:
    * a drift would desync the stored postings' groups from the search's
    * pruning filter, and the stored-vs-inline search equality test fails. */
  def fingerprintOf(s: String): Long =
    s.foldLeft(0L)((a, c) =>
      java.lang.Math.floorMod(a * 31L + c.toLong, FingerprintMod))

  /** Per-group token-length percentiles — the sequence-budget planning
    * statistic (how long are documents per language → what packing budget
    * / truncation length to set). Exact type-7 linear-interpolation
    * percentiles (`percentile`, the same definition as DuckDB's
    * quantile_cont), rounded at 1e-6 per the order-sensitive-float rule.
    * Output: (group, p, n_tokens_p) — one row per (group, percentile).
    *
    * 100 TB posture: exact percentile state is per-group value counts of
    * an INTEGER measure (token counts repeat heavily), so memory tracks
    * the distinct-length histogram, not the row count; at petabyte group
    * cardinalities switch to [[tokenPercentilesApprox]] — the sketch
    * form with bounded state and a tested rank-error bound — and drop
    * the oracle bit.
    */
  def tokenPercentiles(docs: DataFrame,
                       probs: Seq[Double] = Seq(0.5, 0.9, 0.99),
                       groupCol: String = "lang",
                       textCol: String = "text"): DataFrame = {
    val probsSql = probs.map(p => s"${p}D").mkString("array(", ", ", ")")
    docs
      .select(col(groupCol), tokenCount(col(textCol)).as("__nt"))
      .groupBy(col(groupCol))
      .agg(expr(s"percentile(__nt, $probsSql)").as("__ps"))
      .select(col(groupCol), posexplode(col("__ps")).as(Seq("__i", "__v")))
      .select(col(groupCol),
        element_at(array(probs.map(lit): _*), col("__i") + 1).as("p"),
        round(col("__v"), 6).as("n_tokens_p"))
  }

  /** The petabyte path [[tokenPercentiles]]'s doc promises: the same
    * (group, p, n_tokens_p) relation from Spark's `percentile_approx`
    * sketch — bounded mergeable state per group regardless of how many
    * DISTINCT lengths a group accumulates (the exact form's state is the
    * distinct-length histogram, which a petabyte free-text group can grow
    * past memory). `accuracy` is the built-in's 1/ε knob: rank error ≤
    * n/accuracy, so at the default 10⁴ the p99 of a billion-row group is
    * off by at most 10⁻⁴·n ranks. Returned values are OBSERVED group
    * values (the sketch keeps real elements, no interpolation), so this
    * deliberately differs from the exact form's type-7 interpolation even
    * on tiny groups. Approximate ⇒ no DuckDB-oracle bit: LlmOpsSpec pins
    * the rank-error bound and the observed-value property instead.
    */
  def tokenPercentilesApprox(docs: DataFrame,
                             probs: Seq[Double] = Seq(0.5, 0.9, 0.99),
                             accuracy: Int = 10000,
                             groupCol: String = "lang",
                             textCol: String = "text"): DataFrame = {
    val probsSql = probs.map(p => s"${p}D").mkString("array(", ", ", ")")
    docs
      .select(col(groupCol), tokenCount(col(textCol)).as("__nt"))
      .groupBy(col(groupCol))
      .agg(expr(s"percentile_approx(__nt, $probsSql, $accuracy)").as("__ps"))
      .select(col(groupCol), posexplode(col("__ps")).as(Seq("__i", "__v")))
      .select(col(groupCol),
        element_at(array(probs.map(lit): _*), col("__i") + 1).as("p"),
        col("__v").cast("double").as("n_tokens_p"))
  }

  /** Per-(doc, token) term statistics: tf (occurrences in the doc), df
    * (docs containing the token), n_docs — the exact-integer core of TF-IDF
    * weighting. One explode of the token stream feeds both aggregations;
    * the df join shuffles on the token (at 100 TB the vocabulary is far
    * smaller than the corpus, and AQE handles the stopword-key skew — df
    * rows are one per token, so the build side stays narrow).
    */
  /** CCNet-shaped quality bucketing: per group, documents split into
    * head/middle/tail thirds by unigram LM surprisal ([[lmSurprisal]]'s
    * integer-exact statistic — low surprisal = fluent/common text). The
    * standard model-based curation gate: train on head+middle, downweight
    * or drop the tail. Bucket boundaries are the exact type-7 tercile
    * quantiles of `xent_bits`, 1e-6-rounded (cross-engine exact — the q85
    * contract); `xent_bits` itself is one division of exact integers, so
    * the boundary comparison is deterministic on both engines.
    *
    * Plan: the surprisal sub-plan is the q65 shape (vocabulary-sized
    * joins, no broadcast-vocabulary assumption); the cutoff table is
    * |groups|·2 values — broadcast back, filter at scan speed. No
    * per-group window: a group holds n/|groups| rows, and ntile-style
    * ranking would drag that through one task at 100 TB.
    *
    * Output: (id, group, xent_bits, bucket ∈ head|middle|tail).
    */
  def surprisalBuckets(docs: DataFrame, groupCol: String = "lang",
                       idCol: String = "doc_id",
                       textCol: String = "text"): DataFrame = {
    // persist + materialize: the surprisal frame feeds BOTH the cutoff
    // aggregate and the bucket join — without the cache the vocabulary
    // joins under lmSurprisal run twice (PLANS.md showed the doubled
    // sub-plan). Released by the caller's CacheScope after its action.
    val sur = graft.core.CacheScope.track(
      docs.select(col(idCol), col(groupCol))
        .join(lmSurprisal(docs, idCol, textCol), idCol)
        .select(col(idCol), col(groupCol), col("xent_bits"))
        .persist())
    sur.count()
    bucketJoin(sur, tercileCutoffs(sur, groupCol), groupCol, idCol)
  }

  /** Per-group (1/3, 2/3) surprisal cutoffs of a (id, group, xent_bits)
    * frame — the FROZEN half of [[surprisalBuckets]], exposed so the
    * ingest-time gate scores arrivals against a reference corpus's
    * cutoffs (graft.streaming.StreamingQuality). */
  private[graft] def tercileCutoffs(sur: DataFrame,
                                    groupCol: String): DataFrame = {
    val p1 = 1.0 / 3
    val p2 = 2.0 / 3
    sur.groupBy(col(groupCol)).agg(
      round(expr(s"percentile(xent_bits, ${p1}D)"), 6).as("__c1"),
      round(expr(s"percentile(xent_bits, ${p2}D)"), 6).as("__c2"))
  }

  /** Bucket assignment of a (id, group, xent_bits) frame under explicit
    * cutoffs — the scoring half of [[surprisalBuckets]]. */
  private[graft] def bucketJoin(sur: DataFrame, cuts: DataFrame,
                                groupCol: String, idCol: String): DataFrame =
    sur.join(broadcast(cuts), groupCol)
      .select(col(idCol), col(groupCol), col("xent_bits"),
        when(col("xent_bits") <= col("__c1"), "head")
          .when(col("xent_bits") <= col("__c2"), "middle")
          .otherwise("tail").as("bucket"))

  /** Temperature-scaled source mixture weights — the statistic that FEEDS
    * [[mixtureSample]]'s targets: sampling weight ∝ n_tokens^0.5 (α = 0.5
    * temperature upsampling of small sources, the multilingual/multi-
    * domain mixing rule), normalized to sum ≈ 1 over sources. α = 0.5 is
    * deliberately √ (IEEE-correctly-rounded on every engine), not pow
    * (libm, last-ulp divergent); each √ is rounded at 1e-6 and summed as
    * DECIMAL, so the normalizer is EXACT and order-insensitive — no
    * float-sum drift anywhere. One bounded aggregate (|sources| rows) +
    * one 1-row broadcast; output is |sources| rows.
    */
  def mixtureWeights(docs: DataFrame, groupCol: String = "source",
                     textCol: String = "text"): DataFrame = {
    // persist + materialize the |groups|-row aggregate: it feeds both the
    // normalizer and the output — without the cache the corpus scan runs
    // twice. Released by the caller's CacheScope after its action.
    val base = graft.core.CacheScope.track(
      docs.groupBy(col(groupCol))
        .agg(count(lit(1)).as("n_docs"),
          sum(tokenCount(col(textCol)).cast("long")).as("n_tokens"))
        .withColumn("__s", round(sqrt(col("n_tokens").cast("double")), 6)
          .cast("decimal(38,6)"))
        .persist())
    base.count()
    val tot = base.agg(sum(col("__s")).as("__t"))
    base.crossJoin(broadcast(tot))
      .select(col(groupCol), col("n_docs"), col("n_tokens"),
        round(col("__s").cast("double") / col("__t").cast("double"), 6)
          .as("weight"))
  }

  /** Per-group token-length tail trim: keep documents whose token count is
    * at or below the group's `p` quantile — sequence-budget outlier removal
    * (a handful of pathological long docs otherwise dominate packing and
    * truncation waste). The cutoff is the exact type-7 interpolated
    * quantile (the [[tokenPercentiles]] definition), rounded at 1e-6 so it
    * is cross-engine exact; the integer token count then compares against
    * the identical double on both engines.
    *
    * Plan: the cutoff table is |groups| rows — broadcast back onto the
    * scan, so the filter itself runs at scan speed; the only shuffle is
    * the bounded per-group quantile aggregate.
    *
    * Output: (id, group, n_tokens, cutoff) for the KEPT documents.
    */
  def lengthTailFilter(docs: DataFrame, p: Double = 0.99,
                       groupCol: String = "lang",
                       idCol: String = "doc_id",
                       textCol: String = "text"): DataFrame = {
    // persist + materialize: the narrow (id, group, count) frame feeds
    // both the quantile aggregate and the filter join — cached, the
    // tokenizing scan runs once. Released by the caller's CacheScope.
    val nt = graft.core.CacheScope.track(
      docs.select(col(idCol), col(groupCol),
        tokenCount(col(textCol)).cast("long").as("n_tokens")).persist())
    nt.count()
    val cuts = nt.groupBy(col(groupCol))
      .agg(round(expr(s"percentile(n_tokens, ${p}D)"), 6).as("cutoff"))
    nt.join(broadcast(cuts), groupCol)
      .filter(col("n_tokens") <= col("cutoff"))
      .select(col(idCol), col(groupCol), col("n_tokens"), col("cutoff"))
  }

  def termStats(docs: DataFrame, idCol: String = "doc_id",
                textCol: String = "text"): DataFrame = {
    val toked = docs.select(col(idCol),
      explode(tokens(col(textCol))).as("token"))
    val tf = toked.groupBy(col(idCol), col("token"))
      .agg(count(lit(1)).as("tf"))
    val df = toked.distinct().groupBy("token").agg(count(lit(1)).as("df"))
    val n = docs.agg(count(lit(1)).as("n_docs"))
    tf.join(df, "token").crossJoin(broadcast(n))
  }

  /** Top-`k` distinctive terms per document, scored tf·(n_docs/df) — the
    * rational-IDF variant of TF-IDF: one IEEE division of exact integers is
    * bit-identical across engines (ln(n/df) is only correctly-rounded per
    * libm, so its products can differ in the last ulp and break the oracle
    * hash; n/df is monotone in the same direction, so "rare in the corpus,
    * frequent in the doc" ranks the same way). Ties break on the token. */
  def topTermsPerDoc(docs: DataFrame, k: Int, idCol: String = "doc_id",
                     textCol: String = "text"): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    termStats(docs, idCol, textCol)
      .withColumn("score",
        (col("tf") * col("n_docs")).cast("double") / col("df"))
      .withColumn("rnk", row_number().over(
        Window.partitionBy(col(idCol))
          .orderBy(col("score").desc, col("token"))))
      .filter(col("rnk") <= k)
      .select(col(idCol), col("token"), col("tf"), col("df"), col("score"),
        col("rnk").cast("long").as("rnk"))
  }

  /** Deterministic content-hash train/val/test split: bucket =
    * fingerprint(text) mod 100, split by bucket thresholds (default
    * 80/10/10). Hashing the CONTENT (not the id) sends byte-identical
    * duplicates to the same split — no exact-dup leakage across train/val —
    * and the assignment is stable across reshuffles, re-ingests, and
    * engines (the fingerprint is the portable mod-2^57 rolling hash of
    * [[fingerprint]]).
    */
  def dataSplit(docs: DataFrame, trainPct: Int = 80, valPct: Int = 10,
                idCol: String = "doc_id",
                textCol: String = "text"): DataFrame =
    docs.select(col(idCol),
        pmod(fingerprint(col(textCol)), lit(100L)).as("bucket"))
      .withColumn("split",
        when(col("bucket") < trainPct, "train")
          .when(col("bucket") < trainPct + valPct, "val")
          .otherwise("test"))

  /** Leakage-safe train/val/test split — [[dataSplit]] hardened against
    * NEAR-duplicate leakage: [[dataSplit]] guarantees exact duplicates
    * land together (same content → same fingerprint bucket), but a
    * near-dup pair differs in content, hashes to independent buckets, and
    * straddles the boundary with probability 1 − Σp² — precisely the
    * train→eval leakage q61 keeps detecting. Here the WHOLE near-dup
    * cluster is assigned as one unit: every member inherits the bucket of
    * its cluster's canonical (min-id) member's text, so no edge of the
    * similarity graph can cross a split boundary. Singletons degrade to
    * exactly [[dataSplit]]'s assignment.
    *
    * Input: an (id, cluster_id) relation (q51 lexical, q76 semantic)
    * whose cluster_id IS a member doc id (the hash-min canonical — both
    * producers guarantee it). The contract is enforced, not assumed: a
    * cluster_id with no matching doc row raises in-plan rather than
    * silently dropping the whole cluster from every split.
    * Output: (doc_id, cluster_id, bucket, split).
    *
    * 100 TB posture: one join of the cluster relation to the docs on the
    * canonical id to fetch the canonical text's fingerprint (the cluster
    * relation is corpus-sized but the canonical side collapses to
    * |clusters| rows first — aggregate-before-join), then the split is a
    * projection. The cluster resolution itself is q51's hash-min
    * fixpoint, already the scale path.
    */
  def leakageSafeSplit(docs: DataFrame, clusters: DataFrame,
                       trainPct: Int = 80, valPct: Int = 10,
                       idCol: String = "doc_id",
                       textCol: String = "text"): DataFrame = {
    val cl = clusters.select(col(clusters.columns(0)).as(idCol),
      col(clusters.columns(1)).as("cluster_id"))
    // bucket of each DISTINCT canonical doc's text — |clusters| rows, not
    // corpus rows, before the join back
    val canonBuckets = cl.select(col("cluster_id")).distinct()
      .join(docs.select(col(idCol).as("cluster_id"),
        pmod(fingerprint(col(textCol)), lit(100L)).as("bucket")),
        Seq("cluster_id"), "left")
      // contract check: canonical must be a doc — fail loud in-plan, no
      // driver-side action, instead of dropping the cluster silently
      .select(col("cluster_id"),
        coalesce(col("bucket"), raise_error(concat(
          lit("leakageSafeSplit: cluster_id "), col("cluster_id"),
          lit(" is not a doc id — canonical must be a member"))))
          .as("bucket"))
    cl.join(canonBuckets, Seq("cluster_id"))
      .withColumn("split",
        when(col("bucket") < trainPct, "train")
          .when(col("bucket") < trainPct + valPct, "val")
          .otherwise("test"))
      .select(col(idCol), col("cluster_id"), col("bucket"), col("split"))
  }

  /** Train→eval n-gram contamination audit — the decontamination primitive
    * of large-scale training pipelines (GPT-3-style n-gram overlap): for
    * every NON-train document, count how many of its distinct w-gram
    * shingles also occur anywhere in the train split, where the split is
    * the deterministic content-hash [[dataSplit]]. A near-duplicate pair
    * straddling the split boundary (content differs → different buckets)
    * is exactly what this surfaces — the leakage [[dataSplit]]'s exact-dup
    * guarantee cannot catch.
    *
    * Output: (doc_id, split, n_grams, n_hit, contamination) per val/test
    * doc; `contamination` is one IEEE division of two exact integers
    * (bit-identical across engines), 0.0 for docs shorter than w.
    *
    * 100 TB posture: the eval side joins the DISTINCT train-gram set on the
    * shingle key — one shuffle each side, no driver-side set, and the train
    * grams aggregate before the join so the probe build is the vocabulary,
    * not the corpus. AQE covers hot boilerplate shingles (the skew keys).
    */
  def contamination(docs: DataFrame, w: Int = 5, trainPct: Int = 80,
                    valPct: Int = 10, idCol: String = "doc_id",
                    textCol: String = "text"): DataFrame = {
    // the split frame feeds three branches of one action (train filter,
    // eval filter, final left-anchor) — persist the TINY (id, split)
    // projection so the interpreted per-char fingerprint fold runs once,
    // not three times (scope-released). The corpus-sized shingle frame is
    // deliberately NOT cached: materializing it costs more than the two
    // scan-side recomputes it saves (measured 0.4 s → 1.0 s at sf0.1),
    // and at warehouse scale caching a corpus-wide frame spills anyway.
    val split = graft.core.CacheScope.track(
      dataSplit(docs, trainPct, valPct, idCol, textCol)
        .select(col(idCol), col("split")).persist())
    split.count()
    val sh = Dedup.shingles(docs, w, idCol, textCol).join(split, idCol)
    val trainGrams = sh.filter(col("split") === "train")
      .select("shingle").distinct().withColumn("__hit", lit(1L))
    val hits = sh.filter(col("split") =!= "train")
      .join(trainGrams, Seq("shingle"), "left")
      .groupBy(col(idCol), col("split"))
      .agg(count(lit(1)).as("n_grams"),
        sum(coalesce(col("__hit"), lit(0L))).as("n_hit"))
    // left-anchor on the split so short/empty docs (no complete shingle)
    // still appear, with zero grams and contamination 0.0
    split.filter(col("split") =!= "train")
      .join(hits, Seq(idCol, "split"), "left")
      .select(col(idCol), col("split"),
        coalesce(col("n_grams"), lit(0L)).as("n_grams"),
        coalesce(col("n_hit"), lit(0L)).as("n_hit"),
        when(coalesce(col("n_grams"), lit(0L)) > 0,
          coalesce(col("n_hit"), lit(0L)).cast("double") / col("n_grams"))
          .otherwise(0.0).as("contamination"))
  }

  /** Decontamination rewrite — the ACTION for [[contamination]]'s audit
    * (closing the audit→action loop the way q97 closed q92→q63): where
    * q61 measures how much eval leaked into train, this drops the leak.
    * Direction follows standard practice (GPT-3/PaLM decontamination):
    * TRAIN documents sharing at least `minHits` complete w-grams with ANY
    * val/test document are flagged is_kept = false — train data is
    * plentiful, eval sets are the measurement instrument, so train pays.
    * Output is the retention-audit shape over every TRAIN doc: (id,
    * n_grams, n_hit, is_kept) — a flag relation, not a silent filter, so
    * the drop rate is inspectable before anything is deleted. Docs too
    * short for a complete shingle carry zero grams and are kept.
    *
    * 100 TB posture: the [[contamination]] join mirrored — the DISTINCT
    * eval-gram set (the vocabulary of the 20% split, aggregated before
    * the join) probes the train shingles on the shingle key; one shuffle
    * each side, no driver state, AQE covers hot boilerplate shingles.
    */
  def decontaminate(docs: DataFrame, w: Int = 5, trainPct: Int = 80,
                    valPct: Int = 10, minHits: Long = 1L,
                    idCol: String = "doc_id",
                    textCol: String = "text"): DataFrame = {
    val split = graft.core.CacheScope.track(
      dataSplit(docs, trainPct, valPct, idCol, textCol)
        .select(col(idCol), col("split")).persist())
    split.count()
    val sh = Dedup.shingles(docs, w, idCol, textCol).join(split, idCol)
    val evalGrams = sh.filter(col("split") =!= "train")
      .select("shingle").distinct().withColumn("__hit", lit(1L))
    val hits = sh.filter(col("split") === "train")
      .join(evalGrams, Seq("shingle"), "left")
      .groupBy(col(idCol))
      .agg(count(lit(1)).as("n_grams"),
        sum(coalesce(col("__hit"), lit(0L))).as("n_hit"))
    split.filter(col("split") === "train")
      .join(hits, Seq(idCol), "left")
      .select(col(idCol),
        coalesce(col("n_grams"), lit(0L)).as("n_grams"),
        coalesce(col("n_hit"), lit(0L)).as("n_hit"),
        (coalesce(col("n_hit"), lit(0L)) < lit(minHits)).as("is_kept"))
  }

  /** Bloom-filter membership probe as a codegen'd Column — Spark registers
    * the distributed builder (`bloom_filter_agg`) but not the probe
    * expression; bridged via [[org.apache.spark.sql.GraftExpressionBridge]]
    * (no UDF: the probe inlines into whole-stage codegen). `bloom` must be
    * a literal/foldable binary (a collected `bloom_filter_agg` result). */
  def mightContain(bloom: org.apache.spark.sql.Column,
                   value: org.apache.spark.sql.Column): org.apache.spark.sql.Column =
    org.apache.spark.sql.GraftExpressionBridge.column(
      org.apache.spark.sql.catalyst.expressions.BloomFilterMightContain(
        org.apache.spark.sql.GraftExpressionBridge.expression(bloom),
        org.apache.spark.sql.GraftExpressionBridge.expression(value)))

  /** Probabilistic contamination audit — [[contamination]]'s 100 TB form:
    * the train-shingle set is summarized into ONE mergeable Bloom filter
    * (`bloom_filter_agg`, distributed build, `numBits` total state) and the
    * eval side probes it at scan speed — no shuffle join against the
    * train-gram vocabulary at all, at the price of a bounded false-positive
    * rate. One-sided error: a bloom hit may be false, a miss never is — so
    * per-doc `n_hit` upper-bounds the exact audit's and `contamination` is
    * a safe over-estimate (you quarantine slightly more than exact; you
    * never miss leakage). Size BOTH knobs to the corpus: `estimatedItems`
    * ≈ the distinct train-gram count (it sets the hash-function count — a
    * wild overestimate makes each insert set far too many bits and
    * saturates the filter into all-hits) and `numBits` ≈ 10× that for ~1%
    * FPR. LlmOpsSpec measures the realized excess against the exact join.
    */
  def contaminationBloom(docs: DataFrame, w: Int = 5, trainPct: Int = 80,
                         valPct: Int = 10, numBits: Long = 1L << 22,
                         estimatedItems: Long = 1L << 19,
                         idCol: String = "doc_id",
                         textCol: String = "text"): DataFrame = {
    val bucket = pmod(fingerprint(col(textCol)), lit(100L))
    val withSplit = graft.core.CacheScope.track(
      docs.withColumn("__bucket", bucket)
        .withColumn("split",
          when(col("__bucket") < trainPct, "train")
            .when(col("__bucket") < trainPct + valPct, "val")
            .otherwise("test"))
        .persist())
    withSplit.count() // one fingerprint pass feeds both sides
    // bloom_filter_agg lives in Spark's INTERNAL function registry (it
    // backs runtime row-filtering), so the aggregate is constructed
    // directly and bridged to a Column
    val bloomAgg = org.apache.spark.sql.GraftExpressionBridge.column(
      new org.apache.spark.sql.catalyst.expressions.aggregate
          .BloomFilterAggregate(
        org.apache.spark.sql.GraftExpressionBridge.expression(col("h")),
        org.apache.spark.sql.catalyst.expressions.Literal(estimatedItems),
        org.apache.spark.sql.catalyst.expressions.Literal(numBits))
        .toAggregateExpression())
    val bloomBytes = Dedup.shingles(
        withSplit.filter(col("split") === "train"), w, idCol, textCol)
      .select(xxhash64(col("shingle")).as("h"))
      .agg(bloomAgg)
      .head().getAs[Array[Byte]](0)
    val evalSh = Dedup.shingles(
      withSplit.filter(col("split") =!= "train"), w, idCol, textCol)
    val hits = evalSh
      .withColumn("__hit",
        mightContain(lit(bloomBytes), xxhash64(col("shingle"))).cast("long"))
      .groupBy(col(idCol))
      .agg(count(lit(1)).as("n_grams"), sum(col("__hit")).as("n_hit"))
    withSplit.filter(col("split") =!= "train")
      .select(col(idCol), col("split"))
      .join(hits, Seq(idCol), "left")
      .select(col(idCol), col("split"),
        coalesce(col("n_grams"), lit(0L)).as("n_grams"),
        coalesce(col("n_hit"), lit(0L)).as("n_hit"),
        when(coalesce(col("n_grams"), lit(0L)) > 0,
          coalesce(col("n_hit"), lit(0L)).cast("double") / col("n_grams"))
          .otherwise(0.0).as("contamination"))
  }

  /** Deterministic stratified mixture sampling — the corpus-rebalancing
    * primitive of training-data pipelines (downweight the dominant
    * language/domain, keep the tail): each document draws a uniform value
    * from the salted content fingerprint and survives iff the draw falls
    * under its stratum's target fraction. Content-hash sampling (vs
    * `sampleBy`'s seeded Bernoulli) is stable across engines, partitionings,
    * and re-ingests, keeps byte-identical duplicates together, and is
    * SQL-oracle-reproducible. The salt decorrelates the draw from the
    * [[dataSplit]] bucket (same hash family, different input) so sampling
    * is independent of split assignment.
    *
    * `targets` maps stratum value → keep fraction in [0,1]; strata not
    * listed keep everything (fraction 1.0). Pure narrow projection +
    * filter — no shuffle, pushes through the scan at any scale.
    */
  def mixtureSample(docs: DataFrame, targets: Seq[(String, Double)],
                    strataCol: String = "lang", salt: String = "|mixture",
                    textCol: String = "text"): DataFrame = {
    val res = 1000000L
    val draw = pmod(fingerprint(concat(col(textCol), lit(salt))), lit(res))
    val thr = targets.foldLeft(lit(res): Column) { case (acc, (stratum, frac)) =>
      when(col(strataCol) === stratum, lit(math.round(frac * res))).otherwise(acc)
    }
    docs.withColumn("draw", draw).filter(col("draw") < thr)
  }

  /** WEIGHT-driven mixture sampling — closes the [[mixtureWeights]] →
    * [[mixtureSample]] loop: instead of caller-given keep fractions, the
    * per-stratum threshold is DERIVED from a computed weights relation
    * (the q92 output: `(strataCol, n_docs, n_tokens, weight)`). The target
    * share is in TOKENS (that is what `weight` normalizes), and uniform
    * per-document sampling scales a stratum's token mass proportionally,
    * so the per-document keep rate is the per-token rate `weight /
    * n_tokens`, normalized so the scarcest stratum (max rate) keeps
    * everything and every other stratum downsamples toward the
    * temperature target — the standard "sample to a mixture" move.
    *
    * Determinism: `weight` is the 1e-6-rounded q92 value (oracle-proven
    * bit-identical cross-engine); the rate and its normalization are
    * single IEEE divisions of those exact values, and the integer
    * threshold is a `floor` (unambiguous in both engines, unlike
    * round-half at the boundary). The draw is the same salted content
    * fingerprint as [[mixtureSample]], so a stratum at rate 1 keeps every
    * document (threshold = resolution) and identical texts decide
    * together.
    *
    * Plan/100 TB: the weights relation is |strata| rows → the threshold
    * table broadcasts onto the scan; the sample itself stays a narrow
    * projection + filter, zero data shuffles. Strata absent from
    * `weights` keep everything (LEFT join + coalesce to the resolution —
    * the carried-not-filtered contract; an inner join would silently
    * delete such docs).
    *
    * Output: the input rows that survive, with `draw` and the stratum's
    * `keep_threshold` attached.
    */
  def mixtureSampleWeighted(docs: DataFrame, weights: DataFrame,
                            strataCol: String = "source",
                            salt: String = "|mixture",
                            textCol: String = "text"): DataFrame = {
    val res = 1000000L
    val rates = weights.select(col(strataCol),
      when(col("n_tokens") > 0,
        col("weight") / col("n_tokens").cast("double"))
        .otherwise(lit(0.0)).as("__rate"))
    val norm = rates.agg(max(col("__rate")).as("__max_rate"))
    val thr = rates.crossJoin(broadcast(norm))
      .select(col(strataCol),
        floor(col("__rate") / col("__max_rate") * lit(res.toDouble))
          .cast("long").as("keep_threshold"))
    val draw = pmod(fingerprint(concat(col(textCol), lit(salt))), lit(res))
    docs.join(broadcast(thr), Seq(strataCol), "left")
      .withColumn("keep_threshold",
        coalesce(col("keep_threshold"), lit(res)))
      .withColumn("draw", draw)
      .filter(col("draw") < col("keep_threshold"))
  }

  /** Deterministic weighted bottom-k sampling — "pick k documents with
    * inclusion probability ∝ weight", the size/quality-weighted
    * subsample every mixture-tuning pipeline needs next to the uniform
    * [[fingerprint]]-bucket draw. Integer-exact Efraimidis–Spirakis
    * variant: each row's salted content fingerprint h (uniform on
    * [0, 2^57)) is divided by its weight with INTEGER division —
    * `P(h div w ≤ t) = P(h < (t+1)·w) ∝ w` for the small thresholds
    * that decide a k-of-n sample, the exponential-race argument without
    * the classical key's float `log`/`pow` (which no cross-engine
    * oracle can reproduce bit-exactly). Smallest k keys win; (key, id)
    * is a total order, so the winner SET is deterministic. Rows with
    * NULL or non-positive weight are excluded up front (weight 0 =
    * never sampled — [[mixtureSample]]'s domain contract).
    *
    * Plan/100 TB: one narrow per-row projection (char fold + one
    * integer divide), then `orderBy(key, id).limit(k)` — plans as
    * TakeOrderedAndProject: per-partition k-heaps, O(k) state, never a
    * global sort (the [[graft.ops.Sketch.kmvHashes]] device).
    */
  def weightedSampleK(docs: DataFrame, k: Int, weightCol: Column,
                      idCol: String = "doc_id", salt: String = "|wsample",
                      textCol: String = "text"): DataFrame = {
    require(k >= 1, s"k must be >= 1: $k")
    // domain: weight must be a positive INTEGER measure (token count,
    // byte size — fractional weights truncate via the long cast, so
    // scale scores to integer units first), and NULL text has no draw
    // (a NULL key would sort NULLS FIRST in Spark and NULLS LAST in an
    // oracle — excluded on both sides instead)
    docs.select(col(idCol), weightCol.cast("long").as("weight"),
        fingerprint(concat(col(textCol), lit(salt))).as("__h"))
      .filter(col("weight") > 0 && col("__h").isNotNull)
      .withColumn("key", expr("__h div weight"))
      .orderBy(col("key"), col(idCol))
      .limit(k)
      .select(col(idCol), col("weight"), col("key"))
  }

  /** Per-stratum weighted bottom-k — [[weightedSampleK]]'s global heap
    * replaced by the range-partitioned two-phase grouped rank: k
    * winners PER stratum, inclusion ∝ weight within each (the "equal
    * slots per language, weighted within" eval-set constructor). Same
    * integer-exact key (`h div w`), same NULL/non-positive-weight
    * domain rule; the grouped rank never funnels a hot stratum through
    * one task ([[graft.ops.Scale.groupedRankOrdered]]).
    */
  def weightedSampleKPerGroup(docs: DataFrame, k: Int, weightCol: Column,
                              groupCol: String = "lang",
                              idCol: String = "doc_id",
                              salt: String = "|wsample",
                              textCol: String = "text"): DataFrame = {
    require(k >= 1, s"k must be >= 1: $k")
    val keyed = docs.select(col(groupCol), col(idCol),
        weightCol.cast("long").as("weight"),
        fingerprint(concat(col(textCol), lit(salt))).as("__h"))
      .filter(col("weight") > 0 && col("__h").isNotNull)
      .withColumn("key", expr("__h div weight"))
      .select(col(groupCol), col(idCol), col("weight"), col("key"))
    graft.ops.Scale.groupedRankOrdered(keyed, Seq(groupCol),
        Seq("key", idCol), "__rn")
      .filter(col("__rn") <= k)
      .select(col(groupCol), col(idCol), col("weight"), col("key"))
  }

  /** Deterministic stratified mixture UPsampling — the replication
    * complement of [[mixtureSample]] (the standard low-resource-language
    * / rare-domain move: replicate the tail instead of starving on it).
    * `targets` maps stratum → factor f ≥ 0 (unlisted strata keep factor
    * 1.0): every row emits ⌊f⌋ copies plus one more iff its salted
    * content draw falls under the fractional remainder, so the expected
    * copy count is exactly f and the realized count is a pure function
    * of the text (stable across engines, partitionings, re-ingests —
    * the q63 content-hash device; the salt decorrelates from the
    * downsampling draw). Output rows carry `rep`, the 0-based copy
    * index, so downstream shuffles/packing can tell copies apart.
    * A factor < 1 degenerates to [[mixtureSample]] (⌊f⌋ = 0 and only
    * the fractional draw emits) — one primitive covers both directions.
    *
    * Plan/100 TB: narrow projection + `explode(sequence)` — the output
    * volume IS the sampling decision (Σ reps rows), no shuffle, pushes
    * through the scan.
    */
  def mixtureUpsample(docs: DataFrame, targets: Seq[(String, Double)],
                      strataCol: String = "lang", salt: String = "|upsample",
                      textCol: String = "text"): DataFrame = {
    val res = 1000000L
    targets.foreach { case (s, f) =>
      require(f >= 0 && f <= 1000, s"factor for '$s' out of [0,1000]: $f")
    }
    val draw = pmod(fingerprint(concat(col(textCol), lit(salt))), lit(res))
    val reps = targets.foldLeft(lit(1L): Column) {
      case (acc, (stratum, f)) =>
        val whole = math.floor(f).toLong
        val fracThr = math.round((f - whole) * res)
        when(col(strataCol) === stratum,
          lit(whole) + when(col("__draw") < lit(fracThr), lit(1L))
            .otherwise(lit(0L)))
          .otherwise(acc)
    }
    val base = docs.columns.map(col).toSeq
    docs.withColumn("__draw", draw)
      .withColumn("__reps", reps)
      // explicit filter, not just explode-of-empty: sequence(0, -1)
      // auto-steps DOWN and would emit two bogus copies
      .filter(col("__reps") > 0)
      .select(base :+ explode(sequence(lit(0L), col("__reps") - 1))
        .as("rep"): _*)
  }

  /** Bigram-LM conditional surprisal — [[lmSurprisal]]'s order-2 form: the
    * document is scored under corpus bigram statistics, `bits(w2|w1) =
    * floor(log2(c1(w1) div c2(w1 w2)))` per transition (c1 ≥ c2 by
    * construction, so the argument is ≥ 1), with the document's FIRST
    * token scored by its unigram surprisal — the standard sentence-start
    * fallback. Repetitive text rides high-probability transitions and
    * scores near zero even when its unigram mix looks normal; that
    * contrast with q65 is the signal. Same exact-integer-bits
    * quantization, so the whole row is oracle-deterministic.
    *
    * 100 TB posture: bigram counts aggregate on the shingle key (map-side
    * combined; the bigram vocabulary ≪ the corpus), and both count joins
    * ride the per-occurrence shingle stream — AQE covers hot-transition
    * skew. No broadcast assumption on either vocabulary.
    */
  def lmBigramSurprisal(docs: DataFrame, idCol: String = "doc_id",
                        textCol: String = "text"): DataFrame = {
    val c1 = docs.select(explode(tokens(col(textCol))).as("token"))
      .groupBy("token").agg(count(lit(1)).as("c1"))
    val total = c1.agg(sum("c1").as("n_total"))
    val big = Dedup.shingles(docs, 2, idCol, textCol, distinct = false)
      .withColumn("w1", element_at(split(col("shingle"), " "), 1))
    val c2 = big.groupBy("shingle").agg(count(lit(1)).as("c2"))
    val bigBits = big.join(c2, "shingle")
      .join(c1.withColumnRenamed("token", "w1"), "w1")
      .groupBy(col(idCol))
      .agg(sum(length(bin(expr("c1 div c2"))) - 1).as("bg_bits"))
    docs.select(col(idCol),
        element_at(tokens(col(textCol)), 1).as("token"),
        tokenCount(col(textCol)).cast("long").as("n_tokens"))
      .filter(col("token").isNotNull)
      .join(c1, "token")
      .crossJoin(broadcast(total))
      .join(bigBits, Seq(idCol), "left")
      .select(col(idCol), col("n_tokens"),
        ((length(bin(expr("n_total div c1"))) - 1).cast("long")
          + coalesce(col("bg_bits"), lit(0L))).as("sum_bits"))
      .withColumn("xent_bits",
        col("sum_bits").cast("double") / col("n_tokens"))
  }

  /** Per-source (domain) document cap — the domain-balancing primitive of
    * web-scale corpus curation (no single domain may dominate the mix):
    * within each stratum, documents are ordered by a salted content-hash
    * draw (deterministic, engine-stable — same family as [[mixtureSample]],
    * different salt) and only the first `cap` survive. Content-keyed
    * ordering keeps byte-identical duplicates adjacent in the ranking and
    * makes the survivor set stable across re-ingests and partitionings,
    * unlike a seeded random sample. Ties (identical text in one source)
    * break on the id, so the rank is total.
    *
    * Output: surviving (id, stratum, draw, src_rank) rows, rank ∈ [1, cap].
    *
    * 100 TB posture: one shuffle on the stratum key, per-stratum
    * `row_number` (no global sort). A pathologically hot domain (billions
    * of docs) lands on one partition; [[sourceCapTwoPhase]] is the built
    * scale path (pre-filter `draw < t` sized from stratum counts, exact
    * window over ~2·cap survivors, fallback when under-filled) and is
    * ScaleSpec-proven row-identical to this form. The gate corpus is
    * uniform across sources, so the single-window form is the plan here.
    */
  def sourceCap(docs: DataFrame, cap: Int, strataCol: String = "source",
                salt: String = "|srccap", idCol: String = "doc_id",
                textCol: String = "text"): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val draw = pmod(fingerprint(concat(col(textCol), lit(salt))), lit(1000000L))
    docs.select(col(idCol), col(strataCol), draw.as("draw"))
      .withColumn("src_rank", row_number().over(
        Window.partitionBy(col(strataCol))
          .orderBy(col("draw"), col(idCol))).cast("long"))
      .filter(col("src_rank") <= cap)
  }

  /** [[sourceCap]]'s hot-domain scale path — EXACTLY the same survivor set
    * and ranks, without ever ranking a whole stratum: because draws are
    * uniform on [0, res), a stratum of `n` docs expects `n·t/res` below
    * threshold `t`, so pre-filtering `draw < t` with `t = res·overSample·
    * cap / n` leaves ~overSample·cap rows — and the exact `row_number`
    * window then runs over THAT bounded set. The pre-filter is provably
    * lossless whenever it keeps ≥ cap rows: every pre-filtered row's draw
    * is strictly below every excluded row's, so the global (draw, id)
    * top-cap is contained in it. Strata where the pre-filter under-fills
    * (< min(cap, n) survivors — requires a pathologically skewed draw
    * distribution) fall back to ranking all their rows; the check and the
    * fallback are both in-plan, per stratum, no driver decision.
    *
    * Plan: the (id, stratum, draw) projection is persisted (caller's
    * CacheScope releases it) and scanned by the |strata|-row count
    * aggregate, the pre-filter, and — only for under-filled strata — the
    * fallback leg; thresholds and the under-filled stratum list broadcast.
    * At 100 TB the window input shrinks from the corpus to
    * ~|strata|·overSample·cap rows; the billion-doc domain that stalls the
    * single-window form contributes ~overSample·cap rows here.
    */
  def sourceCapTwoPhase(docs: DataFrame, cap: Int,
                        strataCol: String = "source",
                        salt: String = "|srccap", idCol: String = "doc_id",
                        textCol: String = "text",
                        overSample: Double = 2.0): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    require(overSample > 0, "overSample must be positive")
    val res = 1000000L
    val draw = pmod(fingerprint(concat(col(textCol), lit(salt))), lit(res))
    val base = graft.core.CacheScope.track(
      docs.select(col(idCol), col(strataCol), draw.as("draw")).persist())
    val counts = base.groupBy(col(strataCol)).agg(count(lit(1)).as("__n"))
    // strata at or under overSample·cap docs keep everything (t = res):
    // tiny strata must not round down to an under-filled threshold
    val thr = counts.select(col(strataCol), col("__n"),
      when(col("__n") <= lit(math.ceil(overSample * cap).toLong), lit(res))
        .otherwise(least(lit(res),
          ceil(lit(res.toDouble * overSample * cap) / col("__n"))
            .cast("long"))).as("__t"))
    val pre = base.join(broadcast(thr), strataCol)
      .filter(col("draw") < col("__t"))
    // under-fill check: the pre-filter must keep at least min(cap, n) rows
    // for its top-cap to provably equal the stratum's top-cap. Anchored on
    // `counts` (LEFT join, __k coalesced to 0) so a stratum whose
    // pre-filter kept NOTHING is still flagged, not silently dropped
    val under = counts
      .join(pre.groupBy(col(strataCol)).agg(count(lit(1)).as("__k")),
        Seq(strataCol), "left")
      .filter(coalesce(col("__k"), lit(0L)) < least(col("__n"), lit(cap.toLong)))
      .select(col(strataCol))
    val candidates = pre.select(col(idCol), col(strataCol), col("draw"))
      .join(broadcast(under), Seq(strataCol), "left_anti")
      .unionByName(base.join(broadcast(under), Seq(strataCol), "left_semi"))
    candidates
      .withColumn("src_rank", row_number().over(
        Window.partitionBy(col(strataCol))
          .orderBy(col("draw"), col(idCol))).cast("long"))
      .filter(col("src_rank") <= cap)
      .select(col(idCol), col(strataCol), col("draw"), col("src_rank"))
  }

  /** Corpus-trained unigram LM surprisal — the perplexity-style quality
    * signal of training-data pipelines (a document of corpus-rare tokens
    * scores high; boilerplate of corpus-dominant tokens scores low).
    *
    * Determinism over fidelity at the oracle boundary: libm `log` is only
    * correctly-rounded per implementation, so continuous `log2(N/c)` sums
    * can differ in the last ulp across engines and break a hash gate — the
    * same reasoning that made [[topTermsPerDoc]] use rational IDF. Here the
    * per-token surprisal is quantized to whole bits with EXACT integer
    * arithmetic: `bits(t) = floor(log2(N div c_t)) = length(bin(N div
    * c_t)) - 1` (binary-string length, no floating point anywhere). The
    * per-doc cross entropy `xent_bits = Σ tf·bits / Σ tf` is then one IEEE
    * division of exact integers. Production callers wanting continuous
    * nats swap `bits` for `log(N/c)` — the plan shape is unchanged.
    *
    * 100 TB posture: aggregates ride the (doc, token) tf layout — the
    * occurrence stream collapses map-side before any join — and the
    * token-count join shuffles the tf table on the token key (vocabulary ≪
    * corpus; AQE handles stopword-key skew). No broadcast assumption on the
    * vocabulary: a web-scale unigram table can exceed driver memory.
    */
  /** The reference-LM statistics under [[lmSurprisal]], exposed as frozen
    * artifacts for scoring OTHER frames (the ingest-time gate): `counts` =
    * (token, c) — vocabulary-sized, a join side, never driver state — and
    * `totals` = one row (n_total). Direct token counting equals
    * [[lmSurprisal]]'s sum-of-tf by construction (same integers), so
    * scoring a corpus against its own stats is bit-identical to the
    * inline form (StreamingSpec pins it). */
  /** Per-source token-distribution divergence from the corpus — the
    * drift/homogeneity audit of a multi-source training mix: how many more
    * bits per token the corpus-wide unigram LM spends on a source's tokens
    * than the source's OWN unigram LM, i.e. a KL(source ‖ corpus) proxy in
    * [[lmSurprisal]]'s exact whole-bit arithmetic (floor-log2 via binary
    * string length — no libm anywhere, so the gate hash is cross-engine
    * stable). Flooring makes each per-token term a lower log2 bound, so
    * `kl_bits` can dip slightly negative for near-identical distributions;
    * the operative signal is the ORDERING across sources (which source's
    * token mix strays furthest from the blend), stated not hidden.
    * Production callers wanting continuous nats swap the two `bits`
    * expressions for `log(...)` — plan shape unchanged.
    *
    * 100 TB posture: the occurrence stream collapses to (source, token,
    * tf) map-side; corpus counts are a second token-key aggregate of that
    * same table (vocabulary ≪ corpus) joined back on the token key; the
    * per-source totals (|sources| rows) and the one-row corpus total are
    * broadcast. No window, no driver state.
    */
  def sourceDivergence(docs: DataFrame, groupCol: String = "source",
                       textCol: String = "text"): DataFrame = {
    val tf = docs.select(col(groupCol),
        explode(tokens(col(textCol))).as("token"))
      .groupBy(col(groupCol), col("token"))
      .agg(count(lit(1)).as("tf"))
    val corpus = tf.groupBy("token").agg(sum("tf").as("c"))
    val nTot = corpus.agg(sum("c").as("n_total"))
    val nSrc = tf.groupBy(groupCol).agg(sum("tf").as("n_src"))
    val corpusBits = (length(bin(expr("n_total div c"))) - 1).cast("long")
    val sourceBits = (length(bin(expr("n_src div tf"))) - 1).cast("long")
    tf.join(corpus, "token")
      .join(broadcast(nSrc), Seq(groupCol))
      .crossJoin(broadcast(nTot))
      .groupBy(col(groupCol))
      .agg(sum("tf").as("n_tokens"),
        sum(col("tf") * corpusBits).as("sum_corpus_bits"),
        sum(col("tf") * sourceBits).as("sum_source_bits"))
      .withColumn("xent_corpus_bits",
        col("sum_corpus_bits").cast("double") / col("n_tokens"))
      .withColumn("ent_source_bits",
        col("sum_source_bits").cast("double") / col("n_tokens"))
      .withColumn("kl_bits",
        col("xent_corpus_bits") - col("ent_source_bits"))
  }

  def lmStats(docs: DataFrame, textCol: String = "text")
  : (DataFrame, DataFrame) = {
    val counts = docs.select(explode(tokens(col(textCol))).as("token"))
      .groupBy("token").agg(count(lit(1)).as("c"))
    (counts, counts.agg(sum("c").as("n_total")))
  }

  /** Per-doc unigram surprisal against FROZEN statistics — the scoring
    * half of [[lmSurprisal]], same whole-bit formula, but `counts`/`totals`
    * come from a reference corpus instead of the scored frame. Tokens the
    * reference has never seen score at the maximum (c treated as 1 →
    * floor(log2 n_total) bits) — the out-of-vocabulary contract, stated.
    */
  def lmSurprisalWithStats(docs: DataFrame, counts: DataFrame,
                           totals: DataFrame, idCol: String = "doc_id",
                           textCol: String = "text"): DataFrame = {
    val tf = docs.select(col(idCol),
        explode(tokens(col(textCol))).as("token"))
      .groupBy(col(idCol), col("token"))
      .agg(count(lit(1)).as("tf"))
    val bits = (length(bin(expr("n_total div c"))) - 1).cast("long")
    tf.join(counts, Seq("token"), "left")
      .withColumn("c", coalesce(col("c"), lit(1L)))
      .crossJoin(broadcast(totals))
      .groupBy(col(idCol))
      .agg(sum("tf").as("n_tokens"),
        sum(col("tf") * bits).as("sum_bits"))
      .withColumn("xent_bits",
        col("sum_bits").cast("double") / col("n_tokens"))
  }

  def lmSurprisal(docs: DataFrame, idCol: String = "doc_id",
                  textCol: String = "text"): DataFrame = {
    val tf = docs.select(col(idCol),
        explode(tokens(col(textCol))).as("token"))
      .groupBy(col(idCol), col("token"))
      .agg(count(lit(1)).as("tf"))
    val counts = tf.groupBy("token").agg(sum("tf").as("c"))
    val total = counts.agg(sum("c").as("n_total"))
    val bits = (length(bin(expr("n_total div c"))) - 1).cast("long")
    tf.join(counts, "token")
      .crossJoin(broadcast(total))
      .groupBy(col(idCol))
      .agg(sum("tf").as("n_tokens"),
        sum(col("tf") * bits).as("sum_bits"))
      .withColumn("xent_bits",
        col("sum_bits").cast("double") / col("n_tokens"))
  }

  /** CCNet-style per-language perplexity bucketing — the famous
    * head/middle/tail split: documents are scored under the corpus
    * unigram LM ([[lmSurprisal]]'s exact-integer bit construction),
    * ranked per stratum by integer milli-bits-per-token
    * (`(sum_bits · 10^6) div n_tokens` — an exact rational surrogate
    * for perplexity order, no float ratio in the sort key), and
    * assigned equal-count buckets with the floor formula
    * (`((rn−1)·buckets) div n + 1`, the q211 device — never NTILE,
    * whose remainder split differs across engines). Bucket 1 = the
    * lowest-surprisal (cleanest, most-LM-like) slice, the one CCNet
    * keeps; bucket `buckets` = the tail. Documents with no tokens have
    * no LM score and are absent — the caller's filter decision, not a
    * silent default.
    *
    * 100 TB posture: the LM score is [[lmSurprisal]]'s token-keyed
    * aggregates; the per-stratum rank is the range-partitioned
    * two-phase [[graft.ops.Scale.groupedRankOrdered]] (no per-language
    * single-task window — 'en' IS a hot key); stratum sizes broadcast.
    */
  def perplexityBuckets(docs: DataFrame, buckets: Int = 3,
                        strataCol: String = "lang",
                        idCol: String = "doc_id",
                        textCol: String = "text"): DataFrame = {
    require(buckets >= 2, s"buckets must be >= 2: $buckets")
    val sur = lmSurprisal(docs, idCol, textCol)
      .select(col(idCol), col("sum_bits"), col("n_tokens"))
      .withColumn("mbits_per_token",
        expr("(sum_bits * 1000000) div n_tokens"))
    val keyed = docs.select(col(idCol), col(strataCol))
      .join(sur, idCol)
      .select(col(idCol), col(strataCol), col("mbits_per_token"))
    val ranked = graft.ops.Scale.groupedRankOrdered(keyed,
      Seq(strataCol), Seq("mbits_per_token", idCol), "__rn")
    // sizes from the RANKED relation (backed by the grouped rank's
    // persisted partitioning), not from `keyed` — re-deriving keyed
    // would run the whole unigram-LM scoring subtree a second time
    val sizes = ranked.groupBy(col(strataCol))
      .agg(count(lit(1)).as("__n"))
    ranked.join(broadcast(sizes), strataCol)
      .select(col(idCol), col(strataCol), col("mbits_per_token"),
        (expr(s"((__rn - 1) * $buckets) div __n") + lit(1L)).as("bucket"))
  }

  /** Subword-vocabulary induction — the tokenizer-training prep stage
    * (BPE/WordPiece initialization): candidate subword units are every
    * character n-gram (nMin ≤ n ≤ nMax) of every corpus token, scored by
    * total corpus occurrences (substring occurrences weighted by the
    * token's frequency — the statistic merge-based tokenizers rank merge
    * candidates with) and by type spread (distinct tokens containing the
    * gram). Output: top-`topV` (gram, occurrences, n_types), ordered
    * (occurrences desc, gram) — a total order, so the cut is
    * deterministic. All-integer statistics → oracle-exact.
    *
    * 100 TB posture: the n-gram explosion runs over the DISTINCT-token
    * frequency table, not the occurrence stream — the vocabulary is orders
    * of magnitude smaller than the corpus at every scale, so the expensive
    * per-character substring fan-out (Σ (len−n+1) grams per token) costs
    * O(vocabulary), and the occurrence weights arrive as one integer
    * column. One hash aggregate on the gram key (map-side combined),
    * then `orderBy.limit` plans as TakeOrderedAndProject — per-partition
    * heaps, never a global sort.
    */
  def subwordVocab(docs: DataFrame, nMin: Int = 2, nMax: Int = 4,
                   topV: Int = 200, textCol: String = "text"): DataFrame = {
    val tf = docs.select(explode(tokens(col(textCol))).as("tok"))
      .groupBy("tok").agg(count(lit(1)).as("cnt"))
    // explicit n-explode + length guard BEFORE the position range: a
    // sequence(1, len−n+1) with len < n would be the DESCENDING [1, 0]
    // (the q67 trap) and re-emit short tokens as oversized "grams"
    tf.select(col("tok"), col("cnt"),
        explode(sequence(lit(nMin), lit(nMax))).as("n"))
      .filter(length(col("tok")) >= col("n"))
      .select(col("tok"), col("cnt"),
        explode(transform(
          sequence(lit(1), length(col("tok")) - col("n") + 1),
          i => col("tok").substr(i, col("n")))).as("gram"))
      .groupBy("gram")
      .agg(sum(col("cnt")).as("occurrences"),
        count_distinct(col("tok")).as("n_types"))
      .orderBy(col("occurrences").desc, col("gram"))
      .limit(topV)
  }

  /** Deterministic global training-order shuffle: every document gets a
    * dense rank in a pseudo-random but reproducible order — the "shuffle
    * the corpus once per epoch" primitive of training pipelines, where the
    * order must be stable across re-runs, engines, and partitionings (a
    * seeded `orderBy(rand())` is none of those). The order key is the
    * salted content-hash draw (same family as [[mixtureSample]]; change
    * the salt to get an independent epoch order), ties broken by id.
    *
    * The rank is a [[graft.ops.Scale.globalCumSumOrdered]] prefix count —
    * the two-phase range-partitioned form, NOT `row_number` over an
    * empty-partition window (which funnels the corpus through one task;
    * the classic global-sort scale trap, same reasoning as q56/q60).
    */
  def shuffleOrder(docs: DataFrame, salt: String = "|shuffle",
                   idCol: String = "doc_id",
                   textCol: String = "text"): DataFrame = {
    val draw = pmod(fingerprint(concat(col(textCol), lit(salt))),
      lit(1000000L))
    graft.ops.Scale.globalCumSumOrdered(
        docs.select(col(idCol), draw.as("draw"), lit(1L).as("__one")),
        Seq("draw", idCol), "__one", "shuffle_rank")
      .drop("__one")
  }

  /** Curriculum ordering — the q91 → q69 loop closed: the epoch layout a
    * curriculum-trained run wants is "easy (head-bucket) documents first,
    * deterministically shuffled WITHIN each difficulty tier". Priority is
    * the [[surprisalBuckets]] tercile (head = 0, middle = 1, tail = 2 —
    * low per-token surprisal reads as easy/typical text); the intra-tier
    * order is [[shuffleOrder]]'s salted content-hash draw, so the layout
    * is engine- and partitioning-stable and re-salts per epoch like q69.
    * The global rank is the two-phase prefix count over (priority, draw,
    * id) — never a single-task window.
    *
    * Output: (id, bucket, priority, draw, curriculum_rank) over every doc.
    */
  def curriculumOrder(docs: DataFrame, salt: String = "|curriculum",
                      groupCol: String = "lang",
                      idCol: String = "doc_id",
                      textCol: String = "text"): DataFrame = {
    val buckets = surprisalBuckets(docs, groupCol, idCol, textCol)
      .select(col(idCol), col("bucket"))
    val draw = pmod(fingerprint(concat(col(textCol), lit(salt))),
      lit(1000000L))
    val keyed = docs.select(col(idCol), draw.as("draw"))
      .join(buckets, Seq(idCol))
      .withColumn("priority",
        when(col("bucket") === "head", 0L)
          .when(col("bucket") === "middle", 1L).otherwise(2L))
      .withColumn("__one", lit(1L))
    graft.ops.Scale.globalCumSumOrdered(keyed,
        Seq("priority", "draw", idCol), "__one", "curriculum_rank")
      .select(col(idCol), col("bucket"), col("priority"), col("draw"),
        col("curriculum_rank"))
  }

  /** Token-budget sequence packing: documents in id order are laid out
    * contiguously and cut into bins of `budget` tokens — each doc is
    * assigned the bin its start offset falls in (contiguous chunking, the
    * deterministic relational cousin of greedy sample packing). The global
    * running token count uses [[graft.ops.Scale.globalCumSum]] — two-phase
    * prefix sum, NOT the single-task `Window.orderBy` form, so the layout
    * scales to the full corpus.
    */
  def packSequences(docs: DataFrame, budget: Int,
                    idCol: String = "doc_id",
                    textCol: String = "text"): DataFrame =
    graft.ops.Scale.globalCumSum(
        docs.select(col(idCol),
          tokenCount(col(textCol)).cast("long").as("n_tokens")),
        idCol, "n_tokens", "cum_tokens")
      .withColumn("bin",
        expr(s"(cum_tokens - n_tokens) div ${budget}L"))
      .select(idCol, "n_tokens", "cum_tokens", "bin")

  /** Token-budget corpus selection — "keep the best docs until the budget
    * is spent": documents are laid out in quality order ([[qualityScore]]
    * descending, ties to the smaller id) and kept while the cumulative
    * token count stays within `budgetNum/budgetDen` of the corpus total
    * (an exact-integer fraction — `cum·den ≤ total·num` — so the boundary
    * is cross-engine exact; no float budget drifts the cut point). The
    * data-selection stage of a budgeted training run: a 2-trillion-token
    * budget against a 5-trillion-token lake is this operator with a
    * better scorer (swap [[qualityScore]] for the q77 classifier — the
    * orderCol is a parameter of the layout, not the mechanism).
    *
    * Output: (id, n_tokens, quality_score, cum_tokens, is_kept) — a flag
    * relation over EVERY doc, kept and cut, so the spend curve is
    * inspectable.
    *
    * 100 TB posture: the global running total is
    * [[graft.ops.Scale.globalCumSumOrdered]] — range-partition on the
    * order key, per-partition sums collected (one row per partition, the
    * only driver state), then one narrow pass that carries each
    * partition's offset — NOT a single-task `Window.orderBy`. The corpus
    * total is one more row broadcast.
    */
  def tokenBudgetSelect(docs: DataFrame, budgetNum: Long = 2L,
                        budgetDen: Long = 5L, idCol: String = "doc_id",
                        textCol: String = "text"): DataFrame =
    tokenBudgetSelectBy(
      qualityScore(docs, textCol)
        .select(col(idCol), col("n_tokens").cast("long").as("n_tokens"),
          col("quality_score")),
      "quality_score", budgetNum, budgetDen, idCol)

  /** [[tokenBudgetSelect]] under a caller-supplied scorer — the promised
    * "swap [[qualityScore]] for the q77 classifier" form. `scored` is any
    * (id, n_tokens, scoreCol) relation; the layout keeps docs in
    * scoreCol-descending order (ties to the smaller id) while the
    * cumulative token spend stays within `budgetNum/budgetDen` of the
    * total. Same exact-integer boundary and two-phase prefix sum as the
    * heuristic form; [[jobs.CurationJob]] drives it with the carried
    * classifier score (the q108 gate relation).
    */
  def tokenBudgetSelectBy(scored: DataFrame, scoreCol: String,
                          budgetNum: Long = 2L, budgetDen: Long = 5L,
                          idCol: String = "doc_id"): DataFrame = {
    require(budgetNum >= 0 && budgetDen > 0, "budget must be a fraction")
    val sc = graft.core.CacheScope.track(
      scored.select(col(idCol), col("n_tokens").cast("long").as("n_tokens"),
          col(scoreCol))
        .withColumn("__negq", -col(scoreCol)).persist())
    val total = sc.agg(sum(col("n_tokens")).as("__total"))
    graft.ops.Scale.globalCumSumOrdered(sc, Seq("__negq", idCol),
        "n_tokens", "cum_tokens")
      .crossJoin(broadcast(total))
      .select(col(idCol), col("n_tokens"), col(scoreCol),
        col("cum_tokens"),
        (col("cum_tokens") * lit(budgetDen) <=
          col("__total") * lit(budgetNum)).as("is_kept"))
  }

  /** The composed training layout — the selection loop closed into one
    * relation (q108): score every document with the model-based
    * [[classifierScore]] (the q77 relation), spend the token budget in
    * classifier-score order ([[tokenBudgetSelectBy]] — exact-integer
    * boundary), then lay the KEPT set out in curriculum order
    * ([[curriculumOrder]] — easy terciles first, salted shuffle within a
    * tier, with the tercile cutoffs computed over the kept set itself:
    * the shipped corpus's own difficulty distribution, not the lake's).
    * This is the relation a budgeted curriculum-trained run reads as its
    * epoch-0 layout; [[jobs.CurationJob]] emits it as a release artifact
    * over the curated survivors with the carried classifier score.
    *
    * Output: (id, n_tokens, clf_score, cum_tokens, is_kept, priority,
    * curriculum_rank) over EVERY doc — the spend curve stays inspectable.
    * Docs outside the budget, and kept docs that tokenize to zero tokens
    * (no surprisal row — nothing to rank), carry priority = −1 and
    * curriculum_rank = −1: exact integers rather than nullable columns,
    * so the relation is hash-stable across engines (a nullable BIGINT
    * widens to float in some readers — the q103 lesson).
    *
    * 100 TB posture: inherited — one vocabulary-sized classifier join,
    * two two-phase prefix passes (budget spend, curriculum rank), tercile
    * cutoffs broadcast. Nothing new materializes beyond the |kept| rank.
    */
  def trainingLayout(docs: DataFrame, weights: Array[Long],
                     budgetNum: Long = 2L, budgetDen: Long = 5L,
                     groupCol: String = "lang", idCol: String = "doc_id",
                     textCol: String = "text"): DataFrame =
    trainingLayoutBy(docs,
      classifierScore(docs, weights, idCol, textCol)
        .select(col(idCol), col("n_tokens"), col("score").as("clf_score")),
      budgetNum, budgetDen, groupCol, idCol, textCol)

  /** [[trainingLayout]] under a caller-supplied (id, n_tokens, clf_score)
    * relation — [[jobs.CurationJob]] drives this with its CARRIED
    * classifier score (computed once at the pipeline's scoring position)
    * rather than re-scoring the rewritten text. */
  def trainingLayoutBy(docs: DataFrame, clfScored: DataFrame,
                       budgetNum: Long = 2L, budgetDen: Long = 5L,
                       groupCol: String = "lang", idCol: String = "doc_id",
                       textCol: String = "text"): DataFrame = {
    val budget = graft.core.CacheScope.track(
      tokenBudgetSelectBy(clfScored, "clf_score", budgetNum, budgetDen,
        idCol).persist())
    val kept = docs.join(budget.filter(col("is_kept")).select(col(idCol)),
      Seq(idCol), "left_semi")
    val cur = curriculumOrder(kept, groupCol = groupCol, idCol = idCol,
      textCol = textCol)
    budget.join(cur.select(col(idCol), col("priority"),
        col("curriculum_rank")), Seq(idCol), "left")
      .select(col(idCol), col("n_tokens"), col("clf_score"),
        col("cum_tokens"), col("is_kept"),
        coalesce(col("priority"), lit(-1L)).as("priority"),
        coalesce(col("curriculum_rank"), lit(-1L)).as("curriculum_rank"))
  }

  /** DSIR-shaped importance selection (Xie et al., data selection via
    * importance resampling): score every document by how much more a
    * TARGET-distribution unigram LM likes its tokens than the raw-corpus
    * LM does — `logw_bits = raw_bits − target_bits`, both sides in
    * [[lmSurprisal]]'s exact whole-bit arithmetic (floor-log2 via binary
    * string length, no libm), so the importance weight is an exact
    * integer and the ranking is cross-engine exact. Tokens the target has
    * never seen score at the target's max bits (c = 1 — the OOV
    * contract), pushing un-target-like text to the bottom: exactly the
    * direction selection wants. The deterministic variant ranks by
    * weight (ties to the smaller id) and keeps the top `keepNum/keepDen`
    * fraction — `rnk·den ≤ n·num`, again exact integers; the published
    * method's Gumbel resampling is one salted-draw swap away and trades
    * the oracle for variance.
    *
    * Output: (id, n_tokens, raw_bits, target_bits, logw_bits, rnk,
    * is_kept) over EVERY doc. Zero-token docs carry zero bits (logw 0 —
    * ranked by the tie rule, stated).
    *
    * 100 TB posture: both LMs are vocabulary-sized join sides aggregated
    * before the probe (the raw counts fold from the SAME per-doc tf
    * relation that scores — one explode, not two); totals are 1-row
    * broadcasts; the global rank is the two-phase prefix count, never a
    * single-task window. The target corpus is small by construction
    * (it's the thing you WANT more of).
    */
  def dsirSelect(docs: DataFrame, target: DataFrame, keepNum: Long = 1L,
                 keepDen: Long = 4L, idCol: String = "doc_id",
                 textCol: String = "text"): DataFrame = {
    require(keepNum >= 0 && keepDen > 0, "keep rate must be a fraction")
    val tf = docs.select(col(idCol),
        explode(tokens(col(textCol))).as("token"))
      .groupBy(col(idCol), col("token"))
      .agg(count(lit(1)).as("tf"))
    val rawCounts = tf.groupBy("token").agg(sum("tf").as("c"))
    val rawTotal = rawCounts.agg(sum("c").as("n_total"))
    val tgtCounts = target.select(explode(tokens(col(textCol))).as("token"))
      .groupBy("token").agg(count(lit(1)).as("ct"))
    // empty-target guard IN-PLAN (r18): the old `require(head() != null)`
    // ran a dedicated target-tokenize job before the real one — a full
    // extra pass over the target corpus per call. raise_error fires at
    // the same condition (no tokens → NULL total) inside the one real
    // job, same loud failure, zero extra passes (the q101 device).
    val tgtTotal = tgtCounts.agg(sum("ct").as("nt_total"))
      .select(coalesce(col("nt_total"), raise_error(lit(
        "dsirSelect target corpus has no tokens — the target LM is " +
          "undefined")).cast("long")).as("nt_total"))
    val rawBits = (length(bin(expr("n_total div c"))) - 1).cast("long")
    val tgtBits = (length(bin(expr("nt_total div ct"))) - 1).cast("long")
    val perDoc = tf.join(rawCounts, Seq("token"))
      .join(tgtCounts, Seq("token"), "left")
      .withColumn("ct", coalesce(col("ct"), lit(1L)))
      .crossJoin(broadcast(rawTotal))
      .crossJoin(broadcast(tgtTotal))
      .groupBy(col(idCol))
      .agg(sum("tf").as("n_tokens"),
        sum(col("tf") * rawBits).as("raw_bits"),
        sum(col("tf") * tgtBits).as("target_bits"))
    val anchored = docs.select(col(idCol))
      .join(perDoc, Seq(idCol), "left")
      .select(col(idCol),
        coalesce(col("n_tokens"), lit(0L)).as("n_tokens"),
        coalesce(col("raw_bits"), lit(0L)).as("raw_bits"),
        coalesce(col("target_bits"), lit(0L)).as("target_bits"))
      .withColumn("logw_bits", col("raw_bits") - col("target_bits"))
      .withColumn("__neg", -col("logw_bits"))
      .withColumn("__one", lit(1L))
    val n = docs.agg(count(lit(1)).as("__n"))
    graft.ops.Scale.globalCumSumOrdered(anchored, Seq("__neg", idCol),
        "__one", "rnk")
      .crossJoin(broadcast(n))
      .select(col(idCol), col("n_tokens"), col("raw_bits"),
        col("target_bits"), col("logw_bits"), col("rnk"),
        (col("rnk") * lit(keepDen) <= col("__n") * lit(keepNum))
          .as("is_kept"))
  }

  /** Per-document n-gram novelty — the corpus-contribution audit: how
    * much of each document's content is FIRST SEEN at that document (in
    * id order), i.e. the marginal value a crawler's next fetch actually
    * added. Each distinct w-gram is owned by the minimum doc id containing
    * it; a doc's novelty is the share of its distinct grams it owns.
    * Plotting novelty against corpus position is the dedup-ROI curve
    * (when new data stops being new, more crawl buys nothing); near-1
    * docs are fresh content, near-0 docs are recombinations of text the
    * corpus already had — the continuous cousin of the binary q28/q67
    * dedup verdicts. `novelty` is ONE division of exact integers.
    *
    * 100 TB posture: one distinct-(id, gram) relation feeds both the
    * min-owner aggregate (map-side combinable on the gram key) and the
    * per-doc count — one shuffle on the gram key, one id-key aggregate,
    * no window, no driver state. Docs with no complete gram carry zeros.
    */
  def ngramNovelty(docs: DataFrame, w: Int = 5, idCol: String = "doc_id",
                   textCol: String = "text"): DataFrame = {
    val sh = Dedup.shingles(docs, w, idCol, textCol)
    val owner = sh.groupBy("shingle").agg(min(col(idCol)).as("__owner"))
    val perDoc = sh.join(owner, Seq("shingle"))
      .groupBy(col(idCol))
      .agg(count(lit(1)).as("n_grams"),
        sum(when(col(idCol) === col("__owner"), 1L).otherwise(0L))
          .as("n_new"))
    docs.select(col(idCol)).join(perDoc, Seq(idCol), "left")
      .select(col(idCol),
        coalesce(col("n_grams"), lit(0L)).as("n_grams"),
        coalesce(col("n_new"), lit(0L)).as("n_new"),
        when(coalesce(col("n_grams"), lit(0L)) > 0,
          coalesce(col("n_new"), lit(0L)).cast("double") / col("n_grams"))
          .otherwise(0.0).as("novelty"))
  }

  /** Collocation / phrase mining — the word2vec-phrases prep stage: rank
    * adjacent token pairs by the PMI RATIO `c(ab)·N / (c(a)·c(b))` (how
    * much more often the pair occurs than independence predicts; the log
    * is monotone, so ranking on the ratio needs no libm and stays
    * cross-engine exact). Score = ONE IEEE division of two exact double
    * products — exact while `c(ab)·N` and `c(a)·c(b)` stay below 2^53; at
    * corpus scales beyond that, switch the products to DECIMAL(38,0) and
    * keep the single division (stated, the q85 pattern). `minCount`
    * filters the unstable low-frequency tail (classic PMI failure mode:
    * two hapaxes adjacent once score maximal); survivors are the
    * templates/named phrases a tokenizer wants as single units.
    *
    * 100 TB posture: pair counts collapse map-side to the distinct-bigram
    * table (vocabulary², but HAVING ≥ minCount prunes it to the repeated
    * head); unigram counts join on the token key twice; the 1-row total
    * broadcasts; top-N lowers to TakeOrderedAndProject — no global sort.
    */
  def phraseMining(docs: DataFrame, minCount: Long = 5L, topN: Int = 100,
                   textCol: String = "text"): DataFrame = {
    val toks = docs.select(tokens(col(textCol)).as("w"))
    val uni = toks.select(explode(col("w")).as("tok"))
      .groupBy("tok").agg(count(lit(1)).as("c"))
    val n = uni.agg(sum("c").as("n"))
    val pairs = toks.filter(size(col("w")) >= 2)
      .select(explode(expr(
        "transform(sequence(0, size(w) - 2), i -> struct(w[i] AS a, w[i + 1] AS b))"))
        .as("p"))
      .select(col("p.a").as("a"), col("p.b").as("b"))
      .groupBy("a", "b").agg(count(lit(1)).as("cab"))
      .filter(col("cab") >= lit(minCount))
    pairs
      .join(uni.select(col("tok").as("a"), col("c").as("c_a")), Seq("a"))
      .join(uni.select(col("tok").as("b"), col("c").as("c_b")), Seq("b"))
      .crossJoin(broadcast(n))
      .select(col("a"), col("b"), col("cab"), col("c_a"), col("c_b"),
        ((col("cab").cast("double") * col("n")) /
          (col("c_a").cast("double") * col("c_b"))).as("pmi_ratio"))
      .orderBy(col("pmi_ratio").desc, col("a"), col("b"))
      .limit(topN)
  }

  /** Learn a byte-pair-encoding merge list from the corpus — real
    * tokenizer training, not the regex proxy of [[bpeishCount]]: the
    * classic algorithm over the token-frequency table (count adjacent
    * symbol pairs weighted by word frequency, merge the most frequent,
    * repeat). The vocabulary collect is bounded — distinct tokens, not the
    * corpus — exactly how production tokenizer trainers consume a
    * distributed corpus (a word-count table feeds a driver-side merge
    * loop), and the same bounded-collect contract as the IVF/PQ quantizer
    * training. Deterministic: pair-count ties break on the
    * lexicographically smallest pair, so re-runs and engines agree.
    * Stops early when no pair occurs twice (merging singletons would just
    * memorize the vocabulary).
    */
  def learnBpeMerges(docs: DataFrame, numMerges: Int,
                     textCol: String = "text"): Seq[(String, String)] = {
    val vocab = docs.select(explode(tokens(col(textCol))).as("tok"))
      .groupBy("tok").agg(count(lit(1)).as("cnt"))
      .collect()
      .map(r => (codePointSymbols(r.getString(0)), r.getLong(1)))
      .sortBy(r => r._1.mkString) // deterministic iteration order
    var words: Array[(Array[String], Long)] = vocab
    val merges = scala.collection.mutable.ArrayBuffer[(String, String)]()
    var continue = true
    while (merges.length < numMerges && continue) {
      val counts = scala.collection.mutable.Map[(String, String), Long]()
      for ((syms, cnt) <- words; i <- 0 until syms.length - 1)
        counts((syms(i), syms(i + 1))) =
          counts.getOrElse((syms(i), syms(i + 1)), 0L) + cnt
      val best = counts.filter(_._2 >= 2)
        .toSeq.sortBy { case ((a, b), c) => (-c, a, b) }.headOption
      best match {
        case None => continue = false
        case Some((pair, _)) =>
          merges += pair
          words = words.map { case (syms, cnt) =>
            (mergePair(syms, pair), cnt)
          }
      }
    }
    merges.toSeq
  }

  /** Persist a trained merge list as a tokenizer artifact — the store
    * every other model state in the repo already has (quantizers, LM
    * counts, Bloom bits): rank-ordered rows, so a rehydrated tokenizer
    * segments identically. Single-writer, overwrite-to-retrain (merges
    * are a total order — appending is meaningless). */
  def writeBpeStore(merges: Seq[(String, String)], path: String,
                    spark: org.apache.spark.sql.SparkSession): Unit = {
    import spark.implicits._
    merges.zipWithIndex.map { case ((a, b), r) => (r, a, b) }
      .toDF("rank", "left", "right")
      .coalesce(1).write.mode("overwrite").parquet(path)
  }

  /** Rehydrate a merge list in training order — [[bpePieceCounts]] under
    * the loaded list is bit-identical to the in-memory form (LlmOpsSpec
    * pins it). Fail-loud on an empty/missing artifact. */
  def readBpeStore(spark: org.apache.spark.sql.SparkSession,
                   path: String): Seq[(String, String)] = {
    val rows = spark.read.parquet(path)
      .select("rank", "left", "right")
      .collect().sortBy(_.getInt(0))
      .map(r => (r.getString(1), r.getString(2))).toSeq
    require(rows.nonEmpty, s"BPE store at $path is empty — only stores " +
      "written by writeBpeStore are readable")
    rows
  }

  /** One left-to-right pass replacing every adjacent occurrence of `pair`
    * with its concatenation (non-overlapping, leftmost-first — the
    * standard BPE merge semantics). */
  private def mergePair(syms: Array[String],
                        pair: (String, String)): Array[String] = {
    val out = scala.collection.mutable.ArrayBuffer[String]()
    var i = 0
    while (i < syms.length) {
      if (i < syms.length - 1 && syms(i) == pair._1 && syms(i + 1) == pair._2) {
        out += syms(i) + syms(i + 1); i += 2
      } else { out += syms(i); i += 1 }
    }
    out.toArray
  }

  /** Segment every document with a learned merge list and count the BPE
    * pieces — the REAL token-budget statistic ([[tokenCount]] and
    * [[bpeishCount]] are its cheap proxies): each whitespace token starts
    * as characters and greedily applies the LOWEST-RANK applicable merge
    * until none applies (the standard BPE inference loop, rank = training
    * order). The merge table rides one broadcast; per-row work is an
    * iterative string fold — genuine per-record imperative logic, so this
    * is a typed Dataset map rather than a column expression (the same
    * justification boundary as the ANN encode scans). Output:
    * (id, n_tokens, n_pieces) — n_pieces = n_chars when `merges` is empty,
    * and monotonically non-increasing in the merge count.
    */
  def bpePieceCounts(docs: DataFrame, merges: Seq[(String, String)],
                     idCol: String = "doc_id",
                     textCol: String = "text"): DataFrame = {
    val spark = docs.sparkSession
    import spark.implicits._
    val bc = spark.sparkContext.broadcast(
      merges.zipWithIndex.map { case (p, r) => (p, r) }.toMap)
    docs.select(col(idCol).cast("long"), col(textCol))
      .as[(Long, String)]
      .map { case (id, text) =>
        val ranks = bc.value
        val toks = Option(text).getOrElse("").split("\\s+").filter(_.nonEmpty)
        var pieces = 0L
        for (tok <- toks) pieces += segmentLength(tok, ranks)
        (id, toks.length.toLong, pieces)
      }
      .toDF(idCol, "n_tokens", "n_pieces")
  }

  /** One string per Unicode code point — the base-symbol split every BPE
    * path shares, matching DuckDB's split(w,'') and the rolling-fingerprint
    * expression (an astral character is ONE symbol, not a surrogate pair).
    */
  private def codePointSymbols(s: String): Array[String] =
    s.codePoints().toArray.map(cp => new String(Character.toChars(cp)))

  /** BPE inference for one token: repeatedly apply the applicable merge
    * with the lowest training rank; return the surviving piece count. */
  private def segmentLength(tok: String,
                            ranks: Map[(String, String), Int]): Long = {
    var syms = codePointSymbols(tok)
    var done = false
    while (!done && syms.length > 1) {
      var bestRank = Int.MaxValue
      var bestPair: (String, String) = null
      var i = 0
      while (i < syms.length - 1) {
        val r = ranks.getOrElse((syms(i), syms(i + 1)), Int.MaxValue)
        if (r < bestRank) { bestRank = r; bestPair = (syms(i), syms(i + 1)) }
        i += 1
      }
      if (bestPair == null) done = true
      else syms = mergePair(syms, bestPair)
    }
    syms.length.toLong
  }

  /** A trained merge list FROZEN as a code literal — the tokenizer-artifact
    * analog of the q77 classifier's weight vector: [[learnBpeMerges]] run
    * once over the sf0.001 corpus (numMerges = 40) and pinned, so every
    * engine and every scale segments with the SAME tokenizer rather than
    * each re-training its own (retraining per-corpus would make token
    * counts incomparable across runs — the whole point of freezing a
    * tokenizer). LlmOpsSpec pins provenance: re-learning on sf0.001
    * reproduces this literal exactly.
    */
  val FrozenBpeMerges: Seq[(String, String)] = Seq(
    ("e", "r"), ("o", "r"), ("i", "n"), ("o", "w"), ("s", "t"),
    ("l", "u"), ("a", "r"), ("p", "ar"), ("m", "er"), ("a", "t"),
    ("a", "n"), ("c", "an"), ("s", "can"), ("c", "o"), ("co", "lu"),
    ("colu", "m"), ("colum", "n"), ("d", "ow"), ("in", "dow"),
    ("w", "indow"), ("d", "er"), ("or", "der"), ("or", "t"),
    ("s", "ort"), ("par", "t"), ("u", "p"), ("a", "g"), ("ag", "g"),
    ("a", "lu"), ("alu", "e"), ("v", "alue"), ("in", "e"),
    ("l", "ine"), ("e", "y"), ("k", "ey"), ("j", "o"), ("jo", "in"),
    ("g", "e"), ("mer", "ge"), ("er", "y"))

  /** Segment every document by applying a merge list IN TRAINING ORDER
    * (Sennrich's original apply-BPE: one leftmost non-overlapping
    * [[mergePair]] pass per merge, rank 0 first) and count the surviving
    * pieces — the oracle-checkable twin of [[bpePieceCounts]]'s
    * lowest-rank-greedy inference loop. The two disagree only on symbol
    * sequences whose merges were never co-observed in training (OOV corner
    * cases); on the corpus the list was trained on they coincide
    * (LlmOpsSpec compares them corpus-wide).
    *
    * Why this form gates: a single leftmost pass is reproducible in ANSI
    * SQL as "replace the FIRST ` l r ` occurrence, repeat until none" over
    * a space-delimited piece string — equivalent because a merged piece is
    * inert for its own pair (`lr` can never equal `l` or `r`: it is
    * strictly longer), so re-scanning from the head after each single
    * replacement finds exactly the occurrences the array pass would. The
    * greedy-rank loop has no such SQL twin (it needs an argmin over
    * adjacent pairs per step).
    *
    * Output: (id, n_tokens, n_pieces) — exact integers; n_pieces is the
    * REAL token-budget statistic under the frozen tokenizer. 100 TB
    * posture: merge table rides one broadcast, per-row imperative fold
    * (same typed-map justification as [[bpePieceCounts]]); no shuffle at
    * all — the scan IS the plan.
    */
  def bpePieceCountsInOrder(docs: DataFrame,
                            merges: Seq[(String, String)] = FrozenBpeMerges,
                            idCol: String = "doc_id",
                            textCol: String = "text"): DataFrame = {
    val spark = docs.sparkSession
    import spark.implicits._
    val bc = spark.sparkContext.broadcast(merges.toIndexedSeq)
    docs.select(col(idCol).cast("long"), col(textCol))
      .as[(Long, String)]
      .mapPartitions { it =>
        val segLen = memoizedSegmenter(bc.value)
        it.map { case (id, text) =>
          val toks = Option(text).getOrElse("")
            .split("\\s+").filter(_.nonEmpty)
          var pieces = 0L
          for (tok <- toks) pieces += segLen(tok)
          (id, toks.length.toLong, pieces)
        }
      }
      .toDF(idCol, "n_tokens", "n_pieces")
  }

  /** Per-partition memoized apply-in-order segmenter: segmentation is a
    * pure function of the token, and token distributions are Zipfian, so
    * a task-local memo turns the per-occurrence merge loop into a map
    * lookup for all but the first sighting of each type. Capped at 2^16
    * entries (insertion stops, computation continues) so executor memory
    * stays bounded on adversarial vocabularies. */
  private def memoizedPieces(ms: IndexedSeq[(String, String)])
  : String => Array[String] = {
    val memo = scala.collection.mutable.HashMap[String, Array[String]]()
    def compute(tok: String): Array[String] = {
      var syms = codePointSymbols(tok)
      for (p <- ms) syms = mergePair(syms, p)
      syms
    }
    tok =>
      memo.get(tok) match {
        case Some(a) => a
        case None =>
          val a = compute(tok)
          if (memo.size < 65536) memo.update(tok, a)
          a
      }
  }

  /** Piece-count form of [[memoizedPieces]]. */
  private def memoizedSegmenter(ms: IndexedSeq[(String, String)])
  : String => Long = {
    val f = memoizedPieces(ms)
    tok => f(tok).length.toLong
  }

  /** The CLOSED piece vocabulary of a merge list: every piece a segmenter
    * can emit is either a base character or some merge's output, so the
    * id table is `base ++ merges.map(l+r)` in that order — 66 pieces for
    * the frozen tokenizer. Duplicate outputs (two merges producing the
    * same string — possible in general, absent from the frozen list, spec
    * asserted) keep their FIRST id so ids stay dense and stable. */
  def bpePieceVocab(merges: Seq[(String, String)] = FrozenBpeMerges,
                    base: Seq[String] = ('a' to 'z').map(_.toString))
  : Seq[String] =
    (base ++ merges.map { case (l, r) => l + r }).distinct

  /** Frozen-tokenizer ENCODE — the loop's last mile: the actual piece-id
    * sequence a training run feeds the model, not just the counts. Every
    * document becomes (pos, piece, piece_id) rows, pos 1-based over the
    * doc's full piece sequence in word order; ids come from
    * [[bpePieceVocab]]'s closed table, and a piece outside it (an apply-
    * time character the tokenizer never saw — impossible on the training
    * alphabet, spec-pinned on a unicode fixture) encodes as −1 rather
    * than silently vanishing.
    *
    * 100 TB posture: the merge table and the 66-row id map ride the
    * closure; per-partition memoized segmentation; the flatMap is the
    * whole plan — no shuffle, output rows ≈ corpus piece count.
    */
  def bpeEncode(docs: DataFrame,
                merges: Seq[(String, String)] = FrozenBpeMerges,
                idCol: String = "doc_id",
                textCol: String = "text"): DataFrame = {
    val spark = docs.sparkSession
    import spark.implicits._
    val bc = spark.sparkContext.broadcast(
      (merges.toIndexedSeq,
        bpePieceVocab(merges).zipWithIndex.toMap))
    docs.select(col(idCol).cast("long"), col(textCol))
      .as[(Long, String)]
      .mapPartitions { it =>
        val (ms, ids) = bc.value
        val pieces = memoizedPieces(ms)
        it.flatMap { case (id, text) =>
          val toks = Option(text).getOrElse("")
            .split("\\s+").filter(_.nonEmpty)
          var pos = 0L
          toks.iterator.flatMap { tok =>
            pieces(tok).iterator.map { p =>
              pos += 1
              (id, pos, p, ids.get(p).map(_.toLong).getOrElse(-1L))
            }
          }
        }
      }
      .toDF(idCol, "pos", "piece", "piece_id")
  }

  /** Per-document vocabulary coverage against the corpus top-K vocabulary —
    * the OOV-rate audit run before committing to a tokenizer or embedding
    * table: how much of each document falls outside the K most frequent
    * terms (count desc, term asc tie-break — a total order, so the
    * vocabulary is deterministic). High-OOV documents are the ones a
    * fixed-vocab model sees as noise; the per-doc flag relation feeds the
    * same keep/drop machinery as the quality scores.
    *
    * Output: (id, n_tokens, n_in_vocab, n_oov) — exact integers over every
    * document (empty docs carry zeros).
    *
    * 100 TB posture: the vocabulary is a TakeOrderedAndProject over the
    * term-count aggregate (bounded K, never a global sort) broadcast back
    * onto one explode — one shuffle for the term counts, one for the
    * per-doc re-aggregate, the vocabulary itself never leaves the driver's
    * bounded K rows.
    */
  def vocabCoverage(docs: DataFrame, topK: Int = 20,
                    idCol: String = "doc_id",
                    textCol: String = "text"): DataFrame = {
    val occ = docs.select(col(idCol), explode(tokens(col(textCol))).as("tok"))
    val vocab = occ.groupBy("tok").agg(count(lit(1)).as("cnt"))
      .orderBy(col("cnt").desc, col("tok"))
      .limit(topK)
      .select("tok")
    val perDoc = occ
      .join(broadcast(vocab).withColumn("__in", lit(1L)), Seq("tok"), "left")
      .groupBy(idCol)
      .agg(count(lit(1)).as("n_tokens"),
        sum(coalesce(col("__in"), lit(0L))).as("n_in_vocab"))
    docs.select(col(idCol))
      .join(perDoc, Seq(idCol), "left")
      .select(col(idCol),
        coalesce(col("n_tokens"), lit(0L)).as("n_tokens"),
        coalesce(col("n_in_vocab"), lit(0L)).as("n_in_vocab"),
        (coalesce(col("n_tokens"), lit(0L)) -
          coalesce(col("n_in_vocab"), lit(0L))).as("n_oov"))
  }

  /** The corpus blocklist the q115 gate filters on — stand-ins for a
    * bad-word / spam-term list (C4 dropped any document containing a
    * listed term; Gopher-style filters use density). Chosen from the
    * corpus vocabulary so the density rule actually discriminates at gate
    * scale (~10% of all tokens land on the list). */
  val BlocklistTerms: Seq[String] = Seq("big", "slow", "small")

  /** Blocklist-density filter — the bad-word curation stage: count listed
    * tokens per document and keep documents whose hit density stays under
    * `denom`⁻¹ of the token count (hits·denom < n_tokens; the C4 any-hit
    * rule is the degenerate denom → ∞). Density, not any-hit, because at
    * corpus scale single incidental hits would drop nearly everything —
    * the published web-scale filters moved to density for exactly this
    * reason.
    *
    * Output: (id, n_tokens, n_hits, n_distinct_hits, is_kept) — exact
    * integers + the flag, over every document.
    *
    * 100 TB posture: the list is a plan-time literal folded into one
    * per-row higher-order-function expression — no shuffle, no join, no
    * broadcast even; the scan is the plan and the filter is codegen'd.
    */
  def blocklistFilter(docs: DataFrame,
                      terms: Seq[String] = BlocklistTerms,
                      denom: Long = 10L,
                      idCol: String = "doc_id",
                      textCol: String = "text"): DataFrame = {
    val termArr = array(terms.sorted.map(lit): _*)
    val toks = tokens(col(textCol))
    val hits = filter(toks, t => array_contains(termArr, t))
    docs.select(col(idCol),
        size(toks).cast("long").as("n_tokens"),
        size(hits).cast("long").as("n_hits"),
        size(array_distinct(hits)).cast("long").as("n_distinct_hits"))
      .withColumn("is_kept", col("n_hits") * lit(denom) < col("n_tokens"))
  }

  /** Stratified split with EXACT per-stratum counts — the eval-set
    * constructor [[dataSplit]] can't be: the content-hash bucket split is
    * proportional only in expectation, so a small stratum (a rare
    * language × source cell) can land all of its rows in train by chance.
    * Here every (groupCols) stratum is laid out by the salted content-hash
    * draw (ties to the id) and exactly ⌊n/evalDen⌋ of its rows — the
    * lowest-draw prefix — become eval: deterministic, engine-stable, and
    * guaranteed representation for every stratum with ≥ evalDen rows.
    *
    * Output: (id, group..., draw, strat_rank, strat_n, split) over every
    * document.
    *
    * 100 TB posture: the per-stratum rank is
    * [[graft.ops.Scale.groupedRankOrdered]] — range-partitioned two-phase,
    * NOT `row_number over (partition by stratum)`, which would put all of
    * a 100 TB lake's `en` stratum through one task. Stratum sizes are a
    * groupBy aggregate broadcast back (|strata| rows).
    */
  def stratifiedSplit(docs: DataFrame,
                      groupCols: Seq[String] = Seq("lang", "source"),
                      evalDen: Long = 10L, salt: String = "|strat",
                      idCol: String = "doc_id",
                      textCol: String = "text"): DataFrame = {
    require(evalDen > 0, "evalDen must be positive")
    val draw = pmod(fingerprint(concat(col(textCol), lit(salt))),
      lit(1000000L))
    val d = docs.select(
      (col(idCol) +: groupCols.map(col)) :+ draw.as("draw"): _*)
    val sizes = d.groupBy(groupCols.map(col): _*)
      .agg(count(lit(1)).as("strat_n"))
    graft.ops.Scale.groupedRankOrdered(d, groupCols, Seq("draw", idCol),
        "strat_rank")
      .join(broadcast(sizes), groupCols)
      .select((col(idCol) +: groupCols.map(col)) ++ Seq(col("draw"),
        col("strat_rank"), col("strat_n"),
        when(col("strat_rank") * lit(evalDen) <= col("strat_n"),
          lit("eval")).otherwise(lit("train")).as("split")): _*)
  }

  /** Tokenizer-fertility audit per (lang, source) stratum under the frozen
    * tokenizer — the metric tokenizer evaluations actually report:
    * pieces-per-word (fertility; how many BPE pieces a whitespace token
    * fragments into) and chars-per-piece (compression), per corpus cell.
    * A stratum whose fertility is far above the corpus norm is one the
    * tokenizer serves badly — its documents pay more sequence budget per
    * word, which skews any token-denominated mixture or cost model (the
    * q97/q103 denominators). All counts exact integers; each ratio is ONE
    * IEEE division of two exact integers (the q77 contract).
    *
    * Output: (lang, source, n_docs, n_tokens, n_pieces, n_chars,
    * pieces_per_token, chars_per_piece).
    *
    * 100 TB posture: per-row imperative fold (broadcast merge table, same
    * justification as [[bpePieceCountsInOrder]]) feeding a partial-agg
    * groupBy on the |strata|-sized key — map-side combine leaves one
    * bounded shuffle of partial rows.
    */
  def bpeFertility(docs: DataFrame,
                   merges: Seq[(String, String)] = FrozenBpeMerges,
                   textCol: String = "text"): DataFrame = {
    val spark = docs.sparkSession
    import spark.implicits._
    val bc = spark.sparkContext.broadcast(merges.toIndexedSeq)
    docs.select(col("lang"), col("source"), col(textCol))
      .as[(String, String, String)]
      .mapPartitions { it =>
        val segLen = memoizedSegmenter(bc.value)
        it.map { case (lang, source, text) =>
          val toks = Option(text).getOrElse("")
            .split("\\s+").filter(_.nonEmpty)
          var pieces = 0L
          var chars = 0L
          for (tok <- toks) {
            pieces += segLen(tok)
            chars += tok.length.toLong
          }
          (lang, source, toks.length.toLong, pieces, chars)
        }
      }
      .toDF("lang", "source", "n_tokens", "n_pieces", "n_chars")
      .groupBy("lang", "source")
      .agg(count(lit(1)).as("n_docs"),
        sum("n_tokens").as("n_tokens"),
        sum("n_pieces").as("n_pieces"),
        sum("n_chars").as("n_chars"))
      .select(col("lang"), col("source"), col("n_docs"), col("n_tokens"),
        col("n_pieces"), col("n_chars"),
        when(col("n_tokens") > 0,
          col("n_pieces").cast("double") / col("n_tokens"))
          .otherwise(lit(0.0)).as("pieces_per_token"),
        when(col("n_pieces") > 0,
          col("n_chars").cast("double") / col("n_pieces"))
          .otherwise(lit(0.0)).as("chars_per_piece"))
  }

  /** Sequence packing in REAL model tokens — [[packSequences]] with the
    * frozen tokenizer's piece counts as the budget currency instead of the
    * whitespace proxy: bins of `budget` BPE pieces, assigned by the
    * running piece total in id order. This is the layout a training run
    * actually consumes (sequence length is denominated in model tokens,
    * not words); q56 and this relation differ exactly where fertility
    * differs from 1.
    *
    * Output: (id, n_pieces, cum_pieces, bin).
    *
    * 100 TB posture: the segmentation pass is shuffle-free; the running
    * total is the two-phase [[graft.ops.Scale.globalCumSum]], never a
    * single-task window.
    */
  def packSequencesBpe(docs: DataFrame, budget: Int = 2048,
                       merges: Seq[(String, String)] = FrozenBpeMerges,
                       idCol: String = "doc_id",
                       textCol: String = "text"): DataFrame =
    graft.ops.Scale.globalCumSum(
        bpePieceCountsInOrder(docs, merges, idCol, textCol)
          .select(col(idCol), col("n_pieces")),
        idCol, "n_pieces", "cum_pieces")
      .withColumn("bin",
        expr(s"(cum_pieces - n_pieces) div ${budget}L"))
      .select(idCol, "n_pieces", "cum_pieces", "bin")

  /** Per-source corpus health report — the curation dashboard relation: one
    * row per source with the counts an operator actually watches before
    * admitting a source into the mix (volume, exact-duplicate load,
    * blocklist-density drops, low-quality share, OOV mass). Everything is
    * an exact integer — rates are the consumer's division — so the report
    * is engine-deterministic; the quality threshold (score < 0.65) sits
    * strictly between the score lattice's reachable sums, never ON a
    * float boundary.
    *
    * Output: (source, n_docs, n_tokens, n_exact_dup, n_blocklist_drop,
    * n_quality_low, n_oov).
    *
    * 100 TB posture: four per-doc relations ([[blocklistFilter]] — pure
    * row expressions; exact-dup via aggregate-join on the content, the
    * q28 shape; [[qualityScore]] row expressions; [[vocabCoverage]]'s
    * bounded-vocab broadcast) joined on the id key, then one
    * |sources|-key aggregate with map-side combine. Nothing materializes
    * beyond the per-doc flags.
    */
  def sourceHealthReport(docs: DataFrame, topK: Int = 20,
                         idCol: String = "doc_id",
                         textCol: String = "text"): DataFrame = {
    val base = docs.select(col(idCol), col("source"), col(textCol))
    // Null-safe join on content: NULL-text docs form one dup group (the
    // oracle's window PARTITION BY text semantics) instead of silently
    // dropping out of every dashboard count through a null-rejecting
    // equi-join.
    val canon = base.groupBy(col(textCol))
      .agg(min(col(idCol)).as("__canon"))
      .withColumnRenamed(textCol, "__ctext")
    val dup = base.join(canon, col(textCol) <=> col("__ctext"))
      .select(col(idCol),
        (col(idCol) =!= col("__canon")).cast("long").as("__is_dup"))
    val bl = blocklistFilter(docs, idCol = idCol, textCol = textCol)
      .select(col(idCol), col("n_tokens"),
        (!col("is_kept")).cast("long").as("__bl_drop"))
    val q = qualityScore(docs, textCol)
      .select(col(idCol),
        (col("quality_score") < lit(0.65)).cast("long").as("__q_low"))
    val cov = vocabCoverage(docs, topK, idCol, textCol)
      .select(col(idCol), col("n_oov"))
    base.select(col(idCol), col("source"))
      .join(bl, idCol).join(dup, idCol).join(q, idCol).join(cov, idCol)
      .groupBy("source")
      .agg(count(lit(1)).as("n_docs"),
        sum("n_tokens").as("n_tokens"),
        sum("__is_dup").as("n_exact_dup"),
        sum("__bl_drop").as("n_blocklist_drop"),
        sum("__q_low").as("n_quality_low"),
        sum("n_oov").as("n_oov"))
  }

  /** The packed-batch relation — what a dataloader actually reads:
    * [[packSequencesBpe]]'s bins rolled up to one row per training
    * sequence, with the member documents in id order. total_pieces ≈ the
    * 2048 budget (the last doc of a bin may straddle the boundary — the
    * standard greedy-packing slack; a bin is never empty and bins are
    * contiguous). Output: (bin, n_docs, total_pieces, doc_ids).
    *
    * 100 TB posture: one |bins|-key aggregate over the two-phase packing
    * relation; the per-bin member list is bounded by the piece budget
    * (a bin holds at most `budget` one-piece docs), so the collect_list
    * state is capped by construction, not by luck. doc_ids ships as a
    * comma-joined string — the gate's value canonicalization (and most
    * table viewers) sort on the column, which a raw list type breaks.
    */
  def packedBatches(docs: DataFrame, budget: Int = 2048,
                    merges: Seq[(String, String)] = FrozenBpeMerges,
                    idCol: String = "doc_id",
                    textCol: String = "text"): DataFrame =
    packSequencesBpe(docs, budget, merges, idCol, textCol)
      .groupBy("bin")
      .agg(count(lit(1)).as("n_docs"),
        sum("n_pieces").as("total_pieces"),
        array_join(transform(sort_array(collect_list(col(idCol))),
          x => x.cast("string")), ",").as("doc_ids"))

  /** Contrastive crop-pair generation (the Contriever / SimCSE-style
    * "independent cropping" positive-pair builder for embedding-model
    * training, made deterministic): per document, two `w`-token spans are
    * cut at offsets drawn by the salted content-hash [[fingerprint]] —
    * the same derandomized-draw device as q63's sampler and q69's shuffle,
    * so the pair set is reproducible across runs AND engines, yet offsets
    * are corpus-wide uniform. Crops may overlap (they do in the published
    * method); in-batch negatives are the training loop's concern, not the
    * data layout's. Documents shorter than `w` tokens have no valid span
    * and are dropped — the length precondition, not a quality judgment.
    *
    * Output: (id, n_tokens, a_off, b_off, anchor, positive) — offsets are
    * emitted so the draw itself is oracle-pinned, not just the strings.
    * Pure column expressions over one scan; the explode-free slice keeps
    * the row count at |docs|, not |docs|·w.
    */
  def cropPairs(docs: DataFrame, w: Int = 8, textCol: String = "text",
                idCol: String = "doc_id"): DataFrame = {
    val t = col(textCol)
    val toks = tokens(t)
    val nSpans = col("n_tokens") - lit(w.toLong) + lit(1L)
    docs
      .withColumn("n_tokens", size(toks).cast("long"))
      .filter(col("n_tokens") >= w.toLong)
      .withColumn("a_off", pmod(fingerprint(concat(t, lit("|cropA"))), nSpans))
      .withColumn("b_off", pmod(fingerprint(concat(t, lit("|cropB"))), nSpans))
      .select(col(idCol), col("n_tokens"), col("a_off"), col("b_off"),
        array_join(slice(toks, (col("a_off") + 1L).cast("int"), lit(w)), " ")
          .as("anchor"),
        array_join(slice(toks, (col("b_off") + 1L).cast("int"), lit(w)), " ")
          .as("positive"))
  }

  /** Gopher-style rule-battery document filter (Rae et al. 2021, §A1.1 —
    * the standard hand-written pre-training gate that runs BEFORE any
    * model-based scorer): per-document structural counts plus one boolean
    * verdict per rule family, `keep` = every rule passes. Distinct from
    * [[qualityScore]] (a soft score for ranking/budgeting) — this is the
    * hard drop battery. Rules, each as EXACT INTEGER arithmetic (ratio
    * thresholds cross-multiplied, so no float ever enters a verdict and
    * Spark/DuckDB agree bit-for-bit):
    *
    *  - word count within [minWords, maxWords]
    *  - mean word length within [3, 10]    (3·n ≤ Σlen ≤ 10·n)
    *  - ≥ 80% of words contain a letter    (10·n_alpha ≥ 8·n)
    *  - symbol-to-word ratio ≤ 0.1         ('#'/'…'/'...' hits; 10·sym ≤ n)
    *  - ≤ 90% of lines start with a bullet (10·bullet ≤ 9·lines)
    *  - ≤ 30% of lines end with an ellipsis(10·ell ≤ 3·lines)
    *  - ≥ 2 distinct stop words present    (membership, not frequency)
    *
    * Counts are emitted alongside the verdict so threshold tuning reads
    * the same relation the gate does. Defaults are the paper's; gate-scale
    * callers narrow the word window to the corpus' register. Pure column
    * expressions over one scan of `textCol` — scan-speed, codegen'd,
    * `ReadSchema` stays two columns.
    */
  def gopherRules(docs: DataFrame, textCol: String = "text",
                  minWords: Int = 50, maxWords: Int = 100000,
                  stopwords: Seq[String] = DefaultStopwords): DataFrame = {
    val t = col(textCol)
    val toks = tokens(t)
    // empty lines dropped on BOTH sides of the oracle: a trailing '\n'
    // must not manufacture a non-bullet line
    val lines = filter(split(t, "\n"), x => x =!= "")
    docs
      .withColumn("n_words", size(toks).cast("long"))
      .withColumn("sum_word_len",
        aggregate(toks, lit(0L), (acc, x) => acc + length(x)))
      .withColumn("n_alpha_words",
        size(filter(toks, x => x.rlike("\\p{L}"))).cast("long"))
      .withColumn("n_symbolish", countMatches(t, "#|\\.\\.\\.|…").cast("long"))
      .withColumn("n_lines", size(lines).cast("long"))
      .withColumn("n_bullet_lines",
        size(filter(lines, x => x.rlike("^\\s*[-*•]"))).cast("long"))
      .withColumn("n_ellipsis_lines",
        size(filter(lines, x => x.rlike("(\\.\\.\\.|…)\\s*$"))).cast("long"))
      .withColumn("n_stop_present",
        size(filter(lit(stopwords.toArray),
          s => array_contains(toks, s))).cast("long"))
      .withColumn("keep",
        col("n_words").between(minWords.toLong, maxWords.toLong) &&
        (lit(3L) * col("n_words") <= col("sum_word_len")) &&
        (col("sum_word_len") <= lit(10L) * col("n_words")) &&
        (lit(10L) * col("n_alpha_words") >= lit(8L) * col("n_words")) &&
        (lit(10L) * col("n_symbolish") <= col("n_words")) &&
        (lit(10L) * col("n_bullet_lines") <= lit(9L) * col("n_lines")) &&
        (lit(10L) * col("n_ellipsis_lines") <= lit(3L) * col("n_lines")) &&
        (col("n_stop_present") >= 2L))
  }

  /** Padding-waste curve — the pad-vs-pack audit [[packSequences]]'s
    * output justifies: for each candidate sequence length, the token
    * cost of the NAIVE one-doc-per-sequence layout (each document takes
    * `ceil(tokens/len)` sequences padded to `len`) against the true
    * token mass. `waste_ppm` is the padding overhead in exact parts per
    * million — the number that says which max_len to pick and how much
    * packing (q56) actually buys. All integer arithmetic until the
    * final ppm division, which is itself an integer `div`.
    *
    * 100 TB posture: one narrow per-doc projection (token count only),
    * a bins-sized explode (|bins|·|docs| rows of three longs), one
    * map-side-combined aggregate per bin. No shuffle of text.
    *
    * Output: (max_len, n_docs, n_seqs, total_tokens, padded_tokens,
    * waste_ppm) — one row per bin size.
    */
  def packingWaste(docs: DataFrame, bins: Seq[Int] = Seq(128, 512, 2048),
                   textCol: String = "text"): DataFrame = {
    require(bins.nonEmpty && bins.forall(_ >= 1), s"bad bins: $bins")
    docs.select(tokenCount(col(textCol)).cast("long").as("__tok"))
      .select(col("__tok"),
        explode(array(bins.map(b => lit(b.toLong)): _*)).as("max_len"))
      .select(col("max_len"), col("__tok"),
        expr("(__tok + max_len - 1) div max_len").as("__seqs"))
      .groupBy(col("max_len"))
      .agg(count(lit(1)).as("n_docs"),
        sum(col("__seqs")).as("n_seqs"),
        sum(col("__tok")).as("total_tokens"),
        sum(col("__seqs") * col("max_len")).as("padded_tokens"))
      .withColumn("waste_ppm",
        expr("((padded_tokens - total_tokens) * 1000000) " +
          "div nullif(padded_tokens, 0)"))
  }

  /** Per-group winsorized length statistics — the robust profile a
    * quality dashboard needs when a stratum's length distribution has a
    * heavy tail the mean would chase: per group, the LOWER p05/p50/p95
    * of `valueCol` (the rank-`(p·(n+1)) div 100` row under the
    * deterministic (value, id) order, clamped to [1, n] — the q183
    * device, per group) and the winsorized mean (every value clamped
    * into [p05, p95] before one exact integer-`div` mean).
    *
    * 100 TB posture: the per-group rank is the two-phase
    * [[graft.ops.Scale.groupedRankOrdered]] — a stratum larger than an
    * executor never funnels through one window task; quantile rows are
    * picked by rank-key equi-joins on the bounded per-group count
    * relation, and the clamp+mean is one more grouped aggregate.
    *
    * Output: (group, n_docs, p05, p50, p95, wins_mean).
    */
  def winsorizedLengthStats(docs: DataFrame, groupCol: String = "source",
                            valueCol: String = "n_chars",
                            idCol: String = "doc_id"): DataFrame = {
    val slim = docs.select(col(groupCol), col(valueCol), col(idCol))
    val ranked = graft.ops.Scale.groupedRankOrdered(slim, Seq(groupCol),
      Seq(valueCol, idCol), "__rn")
    val counts = slim.groupBy(col(groupCol))
      .agg(count(lit(1)).as("__n"))
    def quantile(p: Int, as: String) =
      ranked.join(counts, Seq(groupCol))
        .filter(col("__rn") ===
          expr(s"least(__n, greatest(1L, ($p * (__n + 1)) div 100))"))
        .select(col(groupCol), col(valueCol).as(as))
    val qs = quantile(5, "p05")
      .join(quantile(50, "p50"), Seq(groupCol))
      .join(quantile(95, "p95"), Seq(groupCol))
    slim.join(qs, Seq(groupCol))
      .select(col(groupCol), col("p05"), col("p50"), col("p95"),
        greatest(col("p05"), least(col("p95"), col(valueCol)))
          .as("__clamped"))
      .groupBy(col(groupCol), col("p05"), col("p50"), col("p95"))
      .agg(count(lit(1)).as("n_docs"), sum(col("__clamped")).as("__sum"))
      .select(col(groupCol), col("n_docs"), col("p05"), col("p50"),
        col("p95"), expr("__sum div n_docs").as("wins_mean"))
  }

  /** Vocabulary coverage curve — the tokenizer-sizing question: what
    * fraction of the corpus's token MASS does a top-`V` frequency-built
    * vocabulary cover, for each candidate V? Tokens rank by
    * (count desc, token) — a deterministic total order — and the
    * coverage at V is the rank-prefix mass over the total, in exact
    * integer ppm. A V larger than the observed type count clamps to it
    * (coverage 10^6).
    *
    * 100 TB posture: the global rank and running mass both go through
    * the two-phase range-partitioned devices ([[graft.ops.Scale
    * .groupedRankOrdered]] with no group + [[graft.ops.Scale
    * .globalCumSumOrdered]]) — the type vocabulary never funnels
    * through one window task, and only |vocabSizes| rank rows join the
    * 1-row total.
    *
    * Output: (vocab_size, n_types, covered_tokens, total_tokens,
    * coverage_ppm) — one row per candidate V.
    */
  def coverageCurve(docs: DataFrame,
                    vocabSizes: Seq[Int] = Seq(100, 1000, 10000),
                    textCol: String = "text"): DataFrame = {
    require(vocabSizes.nonEmpty && vocabSizes.forall(_ >= 1),
      s"bad vocabSizes: $vocabSizes")
    val counts = docs
      .select(explode(tokens(col(textCol))).as("token"))
      .groupBy(col("token")).agg(count(lit(1)).as("cnt"))
      .withColumn("__neg", -col("cnt"))
    val ranked = graft.ops.Scale.globalCumSumOrdered(
      graft.ops.Scale.groupedRankOrdered(counts, Seq.empty,
        Seq("__neg", "token"), "__rn"),
      Seq("__neg", "token"), "cnt", "__cum")
    val totals = counts.agg(count(lit(1)).as("n_types"),
      sum(col("cnt")).as("total_tokens"))
    val wanted = totals.select(col("n_types"), col("total_tokens"),
      explode(array(vocabSizes.map(v => lit(v.toLong)): _*))
        .as("vocab_size"))
      .withColumn("__pick", least(col("vocab_size"), col("n_types")))
    wanted.join(ranked, col("__pick") === col("__rn"))
      .select(col("vocab_size"), col("n_types"),
        col("__cum").as("covered_tokens"), col("total_tokens"),
        expr("(__cum * 1000000) div total_tokens").as("coverage_ppm"))
  }

  val DefaultStopwords: Seq[String] =
    Seq("the", "a", "an", "and", "or", "of", "to", "in", "is", "it")

  /** Tiny per-language stoplists for [[langId]]. */
  val DefaultStoplists: Seq[(String, Seq[String])] = Seq(
    "en" -> Seq("the", "a", "and", "of", "to", "in", "is"),
    "es" -> Seq("el", "la", "los", "de", "que", "y", "en"),
    "fr" -> Seq("le", "la", "les", "de", "et", "un", "est"),
    "de" -> Seq("der", "die", "das", "und", "ist", "von", "ein"),
    "zh" -> Seq("的", "是", "了", "在", "和", "有", "我"))
}
