package graft.jobs

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import graft.core.CacheScope
import graft.llm.{Dedup, Similarity, TextAnalysis}

/** The curation pipeline's keep/drop chain, extracted from [[CurationJob]]
  * so the COMPOSED survivor set is a first-class, oracle-checkable
  * artifact (q96) rather than something only the job's side effects
  * witness. Every stage here is individually gate-green (q28/q30/q51/q88,
  * q74, q82, q76, q50, q36, q89, q64, q63); what this module certifies is
  * the COMPOSITION — stage ordering, the text handed from each rewrite to
  * the next, and which relation each filter's statistics are computed
  * over. [[CurationJob]] consumes the same chain, so the job and the gate
  * cannot drift.
  *
  * Stage order (names are the `drop_stage` vocabulary of [[verdict]]):
  *
  *  1. `exact`              — scrub, then keep each text's min-id copy
  *  2. `near_dup`           — MinHash-LSH pairs (w=3, τ=0.8) → connected
  *     components → best-of-quality retention (q88 policy)
  *  3. `chunk_rewrite`      — 16-token tiling, first occurrence kept; docs
  *     rewritten to nothing drop
  *  4. `substring_rewrite`  — stride-1 8-token windows (ExactSubstr),
  *     catching spans that straddle tile boundaries
  *  5. `semantic`           — embedding near-dup clusters (IVF, τ=0.45)
  *     keep the canonical min id; docs without an embedding pass through
  *  6. `repetition`         — top-3-gram dominance > 0.2 drops
  *  7. `quality`            — heuristic quality score ≥ 0.5 keeps
  *  8. `length_trim`        — per-language p99 token-count tail trim
  *  9. `source_cap`         — ≤ 20 docs/source by content-hash draw
  * 10. `mixture`            — language mixture downsample (en → 0.7)
  *
  * Statistics stages (2's retention quality, 7-10's cutoffs/draws) are
  * computed over the CURRENT survivor text — after the rewrites — which is
  * exactly the ordering property a per-stage gate cannot see and this
  * composed gate pins.
  *
  * 100 TB posture: inherited stage by stage from the underlying operators
  * (nothing here is all-pairs or driver-state); the chain materializes at
  * the same points the job always did. Post-rewrite stages use
  * `localCheckpoint` rather than persist: a persisted stage's
  * InMemoryRelation re-prints (and re-analyzes) its whole cached subtree
  * in every consumer plan — and the verdict consumes all ten stages — so
  * the accumulated DAG, not the data, is what would blow the driver.
  * Checkpoints materialize the same rows and cut the lineage (verdict
  * build+count measured 3.1 s -> 0.7 s at sf0.1). The pre-rewrite
  * persists stay persists under [[CacheScope]]: they feed the
  * connected-components fixpoint, which checkpoints internally anyway.
  */
object CurationPipeline {

  /** Stage names in pipeline order — the `drop_stage` vocabulary. */
  val StageNames: Seq[String] = Seq("exact", "near_dup", "chunk_rewrite",
    "substring_rewrite", "semantic", "repetition", "quality", "length_trim",
    "source_cap", "mixture")

  /** The ordered survivor frames, one per stage. Each frame carries the
    * full `docs` schema with `text` reflecting the rewrites applied so
    * far; stage k's frame is a subset (by doc_id) of stage k−1's.
    * Persisted intermediates register with the caller's [[CacheScope]].
    */
  /** Per-sub-stage wall-clock of the most recent [[stages]] call on this
    * thread — the construct-phase attribution ProfileCuration folds into
    * Q96_STAGES.json, so "which construct stage moved?" is answerable
    * from the artifact (r14: the total was one opaque number). */
  private[graft] val lastConstructTicks =
    new ThreadLocal[Seq[(String, Double)]] {
      override def initialValue(): Seq[(String, Double)] = Nil
    }

  /** When `gopherRepetition` is set, stage 6 swaps the single-w
    * top-3-gram dominance ratio for the full Gopher repetition battery
    * ([[TextAnalysis.repetitionStats]] — all six n-gram thresholds of
    * Rae et al. 2021 §A1.1 must hold; r17 VERDICT #8). Flag-gated so
    * q96's oracle stays stable; the battery variant is its own gate
    * (q247). Every other stage, the ordering, and the
    * statistics-over-current-text contract are identical. */
  def stages(docs: DataFrame, emb: DataFrame,
             gopherRepetition: Boolean = false)
  : Seq[(String, DataFrame)] = {
    // construction-phase wall-clock attribution (the eager fixpoints and
    // checkpoints run HERE, not at the consumer's first action), recorded
    // into lastConstructTicks
    lastConstructTicks.set(Nil)
    var __t = System.nanoTime()
    def tick(what: String): Unit = {
      val now = System.nanoTime()
      lastConstructTicks.set(
        lastConstructTicks.get() :+ ((what, (now - __t) / 1e9)))
      __t = now
    }
    // 1. scrub BEFORE dedup (two docs differing only in masked spans
    //    dedup together), then keep each text's canonical min-id copy
    val scrubbed = docs.withColumn("text", TextAnalysis.scrub(col("text")))
    val exact = CacheScope.track(Dedup.exactCanonical(scrubbed)
      .filter(col("doc_id") === col("canonical_id"))
      .drop("canonical_id").persist())

    tick("exact")

    // 2. lexical near-dup clusters with best-of-quality retention:
    //    transitive (A~B, B~C drops B AND C), quality computed on the
    //    scrubbed pre-rewrite text, ties to the larger id.
    //
    //    r18: the retention decision runs over the EDGE-INCIDENT docs
    //    only — a doc in no near-dup pair can never be dropped, so the
    //    old corpus-wide shape (CC labels for every doc, quality scores
    //    for every doc, one keep-best window over the whole corpus)
    //    shrank to pair-members-only: score just the members, window
    //    just the members, and anti-join the losers off `exact`
    //    (broadcast — losers ≤ members ≪ corpus). Row-identical by
    //    construction: singleton clusters always keep their only member.
    //    nearPairs is checkpointed once so the member-id derivation does
    //    not replay the minhash pipeline the CC fixpoint also consumes —
    //    LAZILY: the CC's own eager edge checkpoint materializes it in
    //    the same job, so the checkpoint costs no extra pass.
    val nearPairs = Dedup.minHashDedupPairs(exact, w = 3, tau = 0.8)
      .select("id_a", "id_b").localCheckpoint(false)
    val members = nearPairs.select(col("id_a").as("doc_id"))
      .unionByName(nearPairs.select(col("id_b").as("doc_id"))).distinct()
    val dropped = Dedup.keepBestInCluster(
        Dedup.connectedComponents(members, nearPairs, "doc_id"),
        TextAnalysis.qualityScore(
            exact.join(members, Seq("doc_id"), "left_semi"))
          .select(col("doc_id"), col("quality_score")))
      .filter(!col("is_kept")).select("doc_id")
    val afterNear = CacheScope.track(
      exact.join(dropped, Seq("doc_id"), "left_anti").persist())

    tick("near_dup(cc+keep)")

    // 3. chunk-level rewrite (C4 move): first-occurrence table over the
    //    near-dup SURVIVORS only; docs rewritten to nothing drop out
    val rewritten = CacheScope.track(Dedup.chunkDedupRewrite(afterNear, w = 16)
      .filter(length(col("text")) > 0)
      .select("doc_id", "text")
      .join(afterNear.drop("text"), "doc_id").persist())

    tick("chunk_rewrite")

    // 4. overlapping-window pass (ExactSubstr move) for tile-straddling
    //    spans. localCheckpoint(false): truncates the logical plan NOW
    //    (from here on the accumulated DAG's toString, not the data, is
    //    what would blow the driver) but defers materialization to the
    //    first consumer — an eager checkpoint paid a dedicated pass per
    //    stage for rows the next stage's aggregate reads right after
    val unstraddled = Dedup.substringDedupRewrite(rewritten, w = 8)
      .filter(length(col("text")) > 0)
      .select("doc_id", "text")
      .join(rewritten.drop("text"), "doc_id")
      .localCheckpoint(false)

    tick("substring_rewrite")

    // 5. semantic near-dup clusters over the aligned embedding table,
    //    canonical min id kept; docs without an embedding row pass through
    val embAligned = emb.join(
      unstraddled.select(col("doc_id").as("vec_id")), Seq("vec_id"),
      "left_semi")
    val semPairs = Similarity
      .embeddingNearDupPairsCertified(embAligned, tau = 0.45)
      .select("id_a", "id_b")
    val semDropped = Dedup
      .connectedComponents(embAligned.select(col("vec_id")), semPairs,
        "vec_id")
      .filter(col("id") =!= col("comp")).select(col("id").as("doc_id"))
    val afterSem =
      unstraddled.join(semDropped, Seq("doc_id"), "left_anti")
        .localCheckpoint(false)

    tick("semantic(ivf+cc)")

    // 6. repetition filter — default: top-3-gram dominance (docs too
    //    short to shingle have no ratio row and pass through); gopher
    //    variant: the full six-threshold battery's keep flag (emits a
    //    row for every doc, short/empty docs keep by contract)
    val afterRep = (if (gopherRepetition)
        afterSem.join(TextAnalysis.repetitionStats(afterSem)
            .filter(col("keep")).select("doc_id"),
          Seq("doc_id"), "left_semi")
      else {
        val repetitive = TextAnalysis.repetitionRatio(afterSem)
          .filter(col("rep_ratio") > 0.2).select("doc_id")
        afterSem.join(repetitive, Seq("doc_id"), "left_anti")
      }).localCheckpoint(false)

    tick("repetition")

    // 7. heuristic quality gate on the REWRITTEN text (the carried
    //    classifier/surprisal columns are a job concern, not a keep/drop
    //    one — CurationJob re-attaches them to the final survivors)
    val baseCols = afterRep.columns.map(col).toSeq
    val afterQuality = TextAnalysis.qualityScore(afterRep)
      .filter(col("quality_score") >= 0.5)
      .select(baseCols: _*).localCheckpoint(false)

    tick("quality")

    // 8. per-language token-length p99 tail trim on the current text
    val trimmed = CacheScope.track(afterQuality.join(
        TextAnalysis.lengthTailFilter(afterQuality, p = 0.99)
          .select("doc_id"), "doc_id").persist())

    tick("length_trim")

    // 9. per-source cap (content-hash draw order, re-run stable) — the
    //    TWO-PHASE form: row-identical to the single window
    //    (ScaleSpec-proven) but a hot domain enters the ranking ~2·cap
    //    rows strong instead of whole, which is what survives 100 TB
    val capped = CacheScope.track(trimmed.join(
      TextAnalysis.sourceCapTwoPhase(trimmed, cap = 20).select("doc_id"),
      "doc_id").persist())

    tick("source_cap")

    // 10. language mixture downsample (content-hash draws)
    val mixed = TextAnalysis.mixtureSample(capped, targets = Seq("en" -> 0.7))
      .drop("draw")

    tick("mixture")

    StageNames.zip(Seq(exact, afterNear, rewritten, unstraddled, afterSem,
      afterRep, afterQuality, trimmed, capped, mixed))
  }

  /** The composed per-document verdict — q96's relation: every input
    * doc_id with whether it ships (`final_keep`) and the FIRST stage that
    * dropped it (`drop_stage`; `'kept'` for survivors). One narrow id-set
    * left join per stage; the when-chain picks the first missing flag, so
    * a doc dropped at stage k reports k even though it is absent from
    * every later stage too.
    */
  def verdict(docs: DataFrame, emb: DataFrame,
              gopherRepetition: Boolean = false): DataFrame =
    verdictOf(docs, stages(docs, emb, gopherRepetition))

  /** [[verdict]] over an already-built stage chain (one `stages` call can
    * feed both the verdict and per-stage assertions/counters). */
  private[graft] def verdictOf(docs: DataFrame,
                               st: Seq[(String, DataFrame)]): DataFrame = {
    val joined = st.foldLeft(docs.select(col("doc_id"))) {
      case (acc, (name, df)) =>
        acc.join(df.select(col("doc_id")).withColumn(s"__$name", lit(true)),
          Seq("doc_id"), "left")
    }
    val dropStage = st.map(_._1).foldRight(lit("kept"): Column) {
      case (name, rest) =>
        when(col(s"__$name").isNull, lit(name)).otherwise(rest)
    }
    joined.select(col("doc_id"),
      coalesce(col("__mixture"), lit(false)).as("final_keep"),
      dropStage.as("drop_stage"))
  }
}
