package graft

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths}

/** Regenerates PLANS.md: the formatted physical plans of the headline
  * queries, with the scale-relevant properties called out. Run after plan-
  * affecting changes: sbt "runMain graft.DumpPlans" [sfDir]
  *
  * Given query names (`runMain graft.DumpPlans <sfDir> q104_dsir_select …`)
  * it prints each one's full formatted plan to stdout instead and leaves
  * PLANS.md alone.
  *
  * The point of the artifact: `.explain("formatted")` is the evidence that
  * each operator got the plan it was designed for (pruned scans, broadcast
  * dims, no cartesian, no single-partition exchange) — PlanSpec asserts
  * these properties mechanically; PLANS.md makes them reviewable.
  *
  * The graph and near-dup families keep their default bounds, so the
  * dumped inputs take their small side; `spark.graft.graph.cutoverRows=0`
  * or `spark.graft.nearDup.cutoverRows=0` in `JAVA_TOOL_OPTIONS` dumps
  * their at-scale plans instead.
  */
object DumpPlans {
  private[graft] val Headline = Seq(
    "q01_agg_sum" -> "pruned scan + partial agg",
    "q05_join_chain" -> "all dims broadcast, fact never re-shuffled",
    "q09_anti_join_sql" -> "NOT IN rewritten to broadcast null-aware anti join",
    "q22_itemcf_toplist" -> "bounded top-K aggregation, no full-group collect",
    "q30_minhash_dedup" -> "shingle->signature->band join, never all-pairs",
    "q42_embedding_dedup" -> "recall-certified: IVF cells above the size cutover (assignment scan + bucket join, sampled certificate, exact escalation), exact scan below it",
    "q46_asof_join" -> "join-free single-shuffle tagged-union window",
    "q52_knn_ivf" -> "probe side broadcast, corpus stays partitioned",
    "q56_seq_packing" -> "two-phase prefix sum, no SinglePartition exchange",
    "q60_top_events" -> "global top-100 as TakeOrderedAndProject, no full sort",
    "q66_incremental_dedup" -> "batch signatures probe the store; history re-shingled only for candidate ids (semi-join pushdown)",
    "q68_knn_pq" -> "ADC over broadcast LUTs + bounded top-K refine (O(refine) state, no per-query sort), corpus codes stay partitioned",
    "q76_embedding_clusters" -> "recall-certified pair generation feeding hash-min components; lineage truncated per round",
    "q77_quality_classifier" -> "fingerprint once per distinct token, literal weight lookup, left-anchored on the pruned doc scan",
    "q80_bm25_topk" -> "literal-term tf as row expressions, df folded into one broadcast stats row, bounded scored top-K — zero data shuffles before the aggregate",
    "q83_bm25_stored" -> "postings read pruned to the query terms' group partitions; df from the pruned lists; same scoring trees as inline",
    "q82_substring_rewrite" -> "stride-1 window fan-out stays a projection; first-occurrence is an aggregate on window text; removal marks join per-doc sorted arrays",
    "q88_best_of_cluster" -> "cluster-partition max-struct window over the component labels; scorer joined once on the cluster key, no join back",
    "q90_kmeans" -> "k-row centroid table broadcast under the assignment crossJoin; per-round means map-side combined into k*dim rows",
    "q91_quality_buckets" -> "q65 surprisal sub-plan + broadcast tercile cutoffs — bucket assignment at scan speed, no per-group window",
    "q97_mixture_weighted" -> "weights aggregate bounded by |sources|; derived thresholds broadcast back onto the scan — the sample itself is a narrow filter, zero data shuffles",
    "q98_hard_negatives" -> "q52's IVF candidate shape with the tau-exclusion filter BEFORE the bounded rank — the filter only shrinks what reaches the top-k",
    "q100_mmr_rerank" -> "pairwise grid joins the bounded candidate relation to itself on the query key; greedy selection per-query in flatMapGroups — the corpus is never touched",
    "q101_leakage_safe_split" -> "cluster ids collapse (aggregate-before-join) before fetching the canonical member's bucket; split assignment is a projection",
    "q102_decontaminate" -> "DISTINCT eval grams aggregate before probing train shingles on the shingle key — the q61 join with the sides swapped",
    "q103_token_budget" -> "quality-ordered spend via the two-phase prefix sum (one range_running_sum pass over the range partitions); the 1-row corpus total broadcast under the integer budget boundary",
    "q104_dsir_select" -> "both LMs are vocabulary-sized join sides off ONE explode; totals broadcast; importance rank is the two-phase prefix count",
    "q105_curriculum_order" -> "q91 tercile sub-plan + broadcast cutoffs, q69 salted draw, rank via the range-carried prefix count",
    "q109_gopher_rules" -> "every rule verdict is a row expression over one pruned scan — no shuffle anywhere in the plan",
    "q110_crop_pairs" -> "salted-draw offsets and both slices as row expressions on the scan; no explode, row count stays |docs|",
    "q111_cdc_dedup" -> "boundary cuts are array expressions on the scan; chunk numbering is a doc-partitioned window (bounded by doc length); then q67's aggregate + join-back — hot chunks become one aggregate row, never one window partition",
    "q112_winnow_pairs" -> "explode first, scalar work after: per-token fingerprint, lead()-chain gram fold and winnow argmin share ONE doc-partitioned sort; sketch join is ~2/(win+1) the size of a full shingle join",
    "q113_bpe_segment" -> "frozen merge table rides the closure — map-only plan, zero exchanges; the scan is the plan",
    "q114_vocab_coverage" -> "top-K vocabulary as TakeOrderedAndProject over the term counts, broadcast back onto the explode — the occurrence table never shuffles for the join",
    "q116_stratified_split" -> "range-partitioned grouped rank: one range_row_number pass over the range partitions, started from O(partitions) driver-side summaries; stratum sizes broadcast — no per-stratum single task",
    "q118_bpe_packing" -> "map-side segmentation feeding the two-phase prefix sum — the running total never funnels to one task",
    "q120_source_health" -> "four per-doc flag relations joined on the id key (vocab broadcast, dup via aggregate-join), one |sources|-key aggregate — the dashboard costs one pass",
    "q131_small_qty_revenue" -> "correlated avg subquery decorrelated to an agg join; both decorrelation sides shuffle on the same key; part filter broadcast",
    "q134_idle_rich_customers" -> "1-row balance aggregate broadcast, recency predicate pushed into the orders scan, hash LeftAnti",
    "q136_zorder_key" -> "Morton interleave as pure integer row expressions — the scan is the plan",
    "q137_session_detail" -> "ONE user-key exchange serves the lag window, the running-sum window, and the (user, session) aggregate",
    "q138_pagerank" -> "per-round edge-vs-ranks key join + map-side dst sum + vertex left join; lineage truncated per round (checkpoint leaves in the plan)",
    "q206_winsorized_lengths" -> "per-source rank through the two-phase range_row_number pass; quantile rows picked by rank-key equi-joins on the bounded counts relation, clamp+mean one more grouped aggregate",
    "q225_kmv_uv" -> "bottom-k as TakeOrderedAndProject (per-partition k-heaps, no global sort); the whole sketch is k longs",
    "q228_cms_join_size" -> "both key relations fold map-side into d*w counters; the only joins are the broadcast counter grid and the exact-audit leg — no key ever shuffles for the estimate",
    "q233_random_walks" -> "id-ordered indexed adjacency (one src-keyed rank window), then len equi joins of the bounded frontier; lineage truncated per step",
    "q234_negative_samples" -> "two-phase prefix sum builds the degree line; interval lookup is the bucketed tagged-union as-of window — never a range join, intervals replicate only into buckets they overlap",
    "q207_coverage_curve" -> "global vocabulary rank + running mass through the two-phase devices; three literal V rows join the bounded rank relation — the corpus crosses the shuffle as (token, count) only",
    "q208_hits" -> "per-round auth/hub propagation as edge-keyed joins, 1-row L1 normalizers broadcast back via the crossJoin idiom, per-round localCheckpoint leaves",
    "q211_rfm_segments" -> "three chained two-phase global ranks over the customer aggregate (range_row_number passes, no window); one <=125-row segment aggregate",
    "q213_referential_orphans" -> "ONE fact scan checks all three lineitem foreign keys: presence-flag left joins (dims broadcast, orders key-shuffled) into one counter aggregate, rows via literal-struct explode",
    "q217_collocations" -> "unigram/bigram token-keyed aggregates, bounded lift join, global top-50 as TakeOrderedAndProject — never a full sort",
    "q237_kmv_difference" -> "both sides collapse to k-hash TakeOrderedAndProject sketches before any set op; the EXCEPT legs run on <=2k rows under one broadcast threshold — only the exact-audit legs touch the corpora",
    "q236_grouped_kmv" -> "per-group bottom-k as one bounded aggregate (sorted k-long buffers merged map-side, no distinct, no rank); the exact countDistinct leg is the one corpus-sized aggregate",
    "q238_kmv_overlap_matrix" -> "per-group bottom-k as one bounded aggregate (sorted k-long buffers merged map-side); pair spine + per-pair thresholds broadcast; every estimate join runs on <=|G|*k hash rows — the audit self-join is the one corpus-sized leg",
    "q239_partition_pruned_daily" -> "day BETWEEN lowers to PartitionFilters on the day= layout — the scan lists exactly the seven matching day dirs (PlanSpec pins the pruned partition count)")

  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.001")
    val named = args.drop(1)
    val spark = graft.core.Sessions.local("dump-plans")
    spark.sparkContext.setLogLevel("ERROR")
    def planOf(q: String): String = {
      val plan = SparkEntry.queries(q)(spark, sfDir).queryExecution
        .explainString(org.apache.spark.sql.execution.FormattedMode)
      spark.sqlContext.clearCache()
      plan
    }
    try {
      if (named.nonEmpty)
        for (q <- named) println(s"===== $q =====\n${planOf(q)}")
      else writePlansMd(sfDir, planOf)
    } finally spark.stop()
  }

  private def writePlansMd(sfDir: String, planOf: String => String): Unit = {
    val sb = new StringBuilder
    sb.append("# PLANS — headline physical plans (generated by DumpPlans)\n\n")
    sb.append(s"Source data: `$sfDir`. Regenerate: " +
      "`sbt \"runMain graft.DumpPlans\"`.\n")
    for ((q, why) <- Headline) {
      val plan = planOf(q)
      sb.append(s"\n## $q — $why\n\n```\n")
      // the operator tree, plus the scan evidence (pruned schema + pushed
      // filters) from the verbose section. Deep trees (cached multi-stage
      // pipelines re-print their InMemoryTableScan subtrees per consumer)
      // are capped — the shape evidence is in the top of the tree
      val tree = plan.split("\n\n").head.linesIterator.toSeq
      val cap = 150
      sb.append(tree.take(cap).mkString("\n"))
      if (tree.length > cap)
        sb.append(s"\n… (${tree.length - cap} more lines — regenerate " +
          "locally or .explain(\"formatted\") for the full tree)")
      val evidence = plan.linesIterator
        .filter(l => l.contains("ReadSchema:") || l.contains("PushedFilters:"))
        .map(_.trim.take(160)).toSeq
      if (evidence.nonEmpty)
        sb.append("\n\n").append(evidence.mkString("\n"))
      sb.append("\n```\n")
    }
    Files.write(Paths.get("PLANS.md"),
      sb.toString.getBytes(StandardCharsets.UTF_8))
    println(s"[plans] wrote PLANS.md (${Headline.size} queries)")
  }
}
