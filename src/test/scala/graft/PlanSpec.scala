package graft

import org.apache.spark.sql.functions.col

import graft.ops.Scale.Cutover

/** Plan-shape regression tests: lock in the physical-plan properties the
  * 100 TB posture depends on (column pruning, filter pushdown, broadcast
  * joins, anti-join rewrite) so a refactor that silently loses them fails
  * here rather than in a benchmark.
  */
class PlanSpec extends SparkSpecBase {

  private def planOf(q: String): String =
    SparkEntry.queries(q)(spark, sfDir).queryExecution.executedPlan.toString

  // planOf for queries whose construction persists intermediates — the
  // caches released on exit
  private def planOfScoped(q: String): String =
    graft.core.CacheScope.scoped {
      SparkEntry.queries(q)(spark, sfDir)
        .queryExecution.executedPlan.toString
    }

  // The at-scale rank devices' shape in a plan string: every `carry`
  // (range_running_sum or range_row_number) is a Project straight over
  // the InMemoryTableScan of its range-partitioned frame (AQE prints a
  // TableCacheQueryStage wrapper between them in a materialised plan),
  // and the first exchange below it is that frame's rangepartitioning,
  // with no window or join in between — so the range partitioning is the
  // device's only data-sized exchange and nothing re-shuffles, re-sorts
  // or windows the rows to compute the prefix.
  private def rangeCarries(p: String, carry: String): Unit = {
    val lines = p.linesIterator.toIndexedSeq
    val at = lines.indices.filter(i => lines(i).contains(s"$carry("))
    assert(at.nonEmpty, s"the at-scale device must carry $carry:\n$p")
    for (i <- at) {
      val below = lines.drop(i + 1)
      assert(below.find(!_.contains("TableCacheQueryStage"))
          .exists(_.contains("InMemoryTableScan")),
        s"$carry must read the cached range partitions directly:\n$p")
      val ex = below.indexWhere(_.contains("Exchange "))
      assert(ex >= 0 && below(ex).contains("rangepartitioning") &&
        !below.take(ex).exists(l => l.contains("Window") || l.contains("Join")),
        s"the device's one data exchange must be its rangepartitioning:\n$p")
    }
  }

  test("q01 scan prunes to the four referenced columns") {
    val p = planOf("q01_agg_sum")
    assert(p.contains("l_returnflag"))
    assert(!p.contains("l_shipdate") && !p.contains("l_partkey"),
      s"scan should not read unreferenced columns:\n$p")
  }

  test("q05 joins all dimension tables via broadcast") {
    val p = planOf("q05_join_chain")
    assert(p.contains("BroadcastHashJoin"), p)
    assert(!p.contains("SortMergeJoin"),
      s"dim joins must broadcast, not sort-merge:\n$p")
  }

  test("q09 NOT IN subquery rewrites to a hash anti join") {
    val p = planOf("q09_anti_join_sql")
    assert(p.contains("LeftAnti"), p)
    assert(!p.contains("BroadcastNestedLoopJoin"),
      s"single-column NOT IN must take the optimized NAAJ path:\n$p")
  }

  test("q03 pushes the scan filters into parquet") {
    val p = planOf("q24_window_hourly")
    // events scan: only ts/user_id/value referenced
    assert(!p.contains("props"), s"window agg should not read props:\n$p")
  }

  test("q42 certified near-dup: the scale branch (above the exactBelow " +
    "cutover) joins on IVF cells — no cartesian, no nested-loop") {
    // the registry call at gate scale deliberately takes the exact scan
    // (below the cutover certainty is cheaper than the quantizer); the
    // 100 TB posture to lock is the IVF-certified branch itself
    val emb = graft.core.Tables.embeddings(spark, sfDir)
    val p = graft.core.CacheScope.scoped {
      withCutover(Cutover.NearDup)(graft.llm.Similarity
        .embeddingNearDupPairsCertified(emb, tau = 0.45))
        .queryExecution.executedPlan.toString
    }
    assert(!p.contains("CartesianProduct") &&
      !p.contains("BroadcastNestedLoopJoin"),
      s"near-dup scale path must join on (table, cell), never all-pairs:\n$p")
  }

  test("q131 decorrelated subquery: the part filter broadcasts, nothing " +
    "goes cartesian or nested-loop") {
    val p = planOf("q131_small_qty_revenue")
    assert(p.contains("BroadcastHashJoin"), p)
    assert(!p.contains("CartesianProduct") &&
      !p.contains("BroadcastNestedLoopJoin"),
      s"decorrelation must stay equi joins:\n$p")
  }

  test("q132 heavy-order top-100 lowers to TakeOrderedAndProject") {
    val p = planOf("q132_large_volume_customers")
    assert(p.contains("TakeOrderedAndProject"),
      s"orderBy.limit must lower to bounded per-partition heaps:\n$p")
    assert(!p.contains("Exchange SinglePartition") ||
      p.contains("TakeOrderedAndProject"),
      s"top-k must never materialize a global sort:\n$p")
  }

  test("q240 weighted sample lowers to TakeOrderedAndProject — the " +
    "k-of-corpus draw is per-partition k-heaps, never a global sort") {
    val p = planOf("q240_weighted_sample")
    assert(p.contains("TakeOrderedAndProject"),
      s"orderBy(key, id).limit(k) must lower to bounded heaps:\n$p")
    assert(!p.contains("Exchange rangepartitioning"),
      s"no range-partitioned global sort on the sampling path:\n$p")
  }

  test("q134 idle-rich: the balance aggregate broadcasts, the recency " +
    "filter pushes into the orders scan, and the anti join is hash-based") {
    val p = planOf("q134_idle_rich_customers")
    assert(p.contains("LeftAnti"), p)
    assert(p.contains("PushedFilters") &&
      p.contains("o_orderdate"),
      s"the date predicate must reach the orders parquet scan:\n$p")
    assert(!p.contains("CartesianProduct"), p)
  }

  test("q137 sessionization runs on ONE user-key shuffle: lag window, " +
    "running-sum window, and the (user, session) aggregate all reuse it") {
    val p = planOf("q137_session_detail")
    val exchanges = "Exchange hashpartitioning".r.findAllIn(p).length
    assert(exchanges == 1,
      s"expected exactly one user-key exchange, got $exchanges:\n$p")
    assert(!p.contains("Exchange SinglePartition"),
      s"sessionization must never funnel through one task:\n$p")
  }

  test("q52 IVF ANN joins probe assignments via broadcast — the corpus side " +
    "stays partitioned") {
    val p = planOf("q52_knn_ivf")
    assert(p.contains("BroadcastHashJoin"),
      s"query-side assignments must broadcast:\n$p")
    assert(!p.contains("CartesianProduct") &&
      !p.contains("BroadcastNestedLoopJoin"),
      s"ANN must never fall back to all-pairs:\n$p")
  }

  test("q56 packing avoids the single-partition global window") {
    val p = planOf("q56_seq_packing")
    assert(!p.contains("Exchange SinglePartition"),
      s"global cumsum must be the two-phase prefix sum, not one window task:\n$p")
    spark.sqlContext.clearCache() // globalCumSum's range-partitioned persist
  }

  test("q60 global top-100 lowers to TakeOrderedAndProject, not a global " +
    "sort through one partition") {
    val p = planOf("q60_top_events")
    assert(p.contains("TakeOrderedAndProject"),
      s"orderBy.limit must lower to per-partition bounded heaps:\n$p")
    assert(!p.contains("Exchange SinglePartition") && !p.contains("Sort "),
      s"global top-k must never materialize a full sort:\n$p")
  }

  test("q46 as-of join lowers to a join-free single-shuffle window plan") {
    val p = planOf("q46_asof_join")
    assert(!p.contains("Join") && !p.contains("CartesianProduct"),
      s"as-of must be union+window, not a join:\n$p")
    assert(p.contains("Window"), p)
  }

  test("q47 interval join stays an equi hash/merge join on (key, bucket)") {
    val p = planOf("q47_interval_join")
    assert(!p.contains("CartesianProduct") &&
      !p.contains("BroadcastNestedLoopJoin"),
      s"range predicate must be residual on an equi join:\n$p")
  }

  test("q49/q50 text queries prune the documents scan to doc_id + text") {
    for (q <- Seq("q49_scrub", "q50_repetition")) {
      val p = planOf(q)
      assert(!p.contains("lang") && !p.contains("source"),
        s"$q must not read unreferenced document columns:\n$p")
    }
  }

  test("q32 broadcasts the query vectors, not the corpus") {
    val p = planOf("q32_knn_brute")
    assert(p.contains("BroadcastHashJoin") || p.contains("BroadcastNestedLoopJoin"), p)
    assert(p.contains("vec_dot") || p.contains("floatvecdot") ||
      p.toLowerCase.contains("floatvecdot"), s"codegen dot expected:\n$p")
  }

  test("q64 source cap prunes the documents scan and shuffles once on the " +
    "stratum key") {
    val p = planOf("q64_source_cap")
    assert(!p.contains("Exchange SinglePartition"),
      s"per-source rank must partition by source, never one task:\n$p")
    // exactly one shuffle: the hashpartitioning(source) feeding the window
    val shuffles = "Exchange hashpartitioning".r.findAllIn(p).length
    assert(shuffles == 1, s"expected 1 shuffle on source, got $shuffles:\n$p")
  }

  test("q67 chunking is a pure projection — no shuffle before the " +
    "first-occurrence aggregate, no window over chunk keys") {
    val p = planOf("q67_chunk_dedup")
    assert(!p.contains("Window"),
      s"first-occurrence must be an aggregate + join, not a window over " +
        s"hot chunk keys:\n$p")
    spark.sqlContext.clearCache() // chunkDedup's scope-tracked persist
  }

  test("q69 shuffle rank avoids the single-partition global window") {
    val p = planOf("q69_corpus_shuffle")
    assert(!p.contains("Exchange SinglePartition"),
      s"epoch rank must be the two-phase prefix count, not one window " +
        s"task:\n$p")
    spark.sqlContext.clearCache() // globalCumSumOrdered's tracked persist
  }

  test("q68 PQ search: corpus codes stay partitioned, LUTs broadcast, " +
    "no cartesian") {
    val p = planOf("q68_knn_pq")
    assert(!p.contains("CartesianProduct"),
      s"ADC pass must broadcast the per-query LUTs:\n$p")
    assert(p.contains("BroadcastNestedLoopJoin") ||
      p.contains("BroadcastHashJoin"), p)
    assert(!p.contains("WindowGroupLimit") || p.contains("rnk"),
      s"refine selection must be the bounded aggregate, not an ADC-wide " +
        s"rank window (the final k=5 rnk window over refine rows is fine):\n$p")
  }

  test("q77 classifier prunes the occurrence scan to doc_id + text and " +
    "hashes the vocabulary, not the occurrence stream") {
    val p = planOf("q77_quality_classifier")
    assert(!p.contains("lang") && !p.contains("source"),
      s"q77 must not read unreferenced document columns:\n$p")
    // the interpreted fingerprint fold must sit above a distinct-token
    // aggregate — HashAggregate(keys=[__tok...]) — not on every occurrence
    assert(p.contains("HashAggregate"), p)
  }

  test("q78 subword vocab lowers the top-V cut to TakeOrderedAndProject " +
    "over the distinct-token table") {
    val p = planOf("q78_subword_vocab")
    assert(p.contains("TakeOrderedAndProject"),
      s"top-V must be per-partition bounded heaps, not a global sort:\n$p")
    assert(!p.contains("Exchange SinglePartition"),
      s"no single-task stage in the vocab fan-out:\n$p")
  }

  test("q80 BM25 scores with zero data shuffles: literal-term tf is a row " +
    "expression, df folds into the broadcast 1-row stats, top-k is the " +
    "bounded aggregate — no rank window, no sort, one exchange") {
    val p = planOf("q80_bm25_topk")
    assert(!p.contains("Window"),
      s"top-k must be the bounded aggregate, not a rank window:\n$p")
    assert(!p.contains("SortMergeJoin") && !p.contains("Sort "),
      s"BM25 must not sort anything:\n$p")
    // the only data shuffle is the top-k aggregate's query_id exchange
    // (the stats row reduces through a SinglePartition exchange of one
    // partial row per task — scalar, not data)
    assert("Exchange hashpartitioning".r.findAllIn(p).size <= 1,
      s"only the top-k aggregate may shuffle data rows:\n$p")
    assert(!p.contains("lang#") && !p.contains("source#"),
      s"scan must prune to doc_id + text:\n$p")
  }

  test("q81 RRF fusion: both join inputs are already top-k-bounded, the " +
    "scans stay pruned, nothing goes cartesian") {
    val p = planOf("q81_rrf_fusion")
    assert(!p.contains("CartesianProduct"),
      s"fusion must join on (query_id, doc_id):\n$p")
    assert(!p.contains("lang#"),
      s"document scan must prune to doc_id + text:\n$p")
    // the fusion join itself is full-outer over two ≤ k·|Q|-row inputs —
    // the merge join + rank window above it never see corpus-sized data,
    // and the corpus-sized stages below are the q80/q32 shapes locked
    // elsewhere
    assert(p.contains("FullOuter"), s"rank lists must full-outer join:\n$p")
  }

  test("q87 source matrix broadcasts the pair side into both source " +
    "fetches — the document table is never shuffled") {
    val p = planOf("q87_dup_source_matrix")
    assert(p.contains("BroadcastHashJoin"), p)
    assert(!p.contains("CartesianProduct"), p)
  }

  test("q88 best-of-cluster ranks inside cluster partitions — one window, " +
    "nothing cartesian") {
    val p = planOf("q88_best_of_cluster")
    assert(p.contains("Window"), p)
    assert(!p.contains("CartesianProduct") &&
      !p.contains("BroadcastNestedLoopJoin"), p)
  }

  test("q89 tail trim broadcasts the per-group cutoffs and prunes the " +
    "documents scan to the referenced columns") {
    val p = planOf("q89_length_tail_trim")
    assert(p.contains("BroadcastHashJoin"),
      s"cutoff table must broadcast back onto the scan:\n$p")
    assert(!p.contains("n_chars#") && !p.contains("source#"),
      s"scan must prune to doc_id/lang/text:\n$p")
  }

  test("q90 kmeans assignment broadcasts the centroid table (nested-loop " +
    "over |k| build rows is the intended shape) and prunes the label " +
    "column; no corpus-side shuffle join") {
    val p = planOf("q90_kmeans")
    assert(p.contains("BroadcastNestedLoopJoin"),
      s"centroids must broadcast under the crossJoin:\n$p")
    assert(!p.contains("SortMergeJoin") && !p.contains("CartesianProduct"), p)
    assert(!p.contains("label#"),
      s"embeddings scan must prune to vec_id + embedding:\n$p")
  }

  test("q98 hard negatives take the q52 IVF shape: query side broadcast, " +
    "τ-filter before the bounded rank, never all-pairs") {
    val p = planOf("q98_hard_negatives")
    assert(p.contains("BroadcastHashJoin"),
      s"query-side assignments must broadcast:\n$p")
    assert(!p.contains("CartesianProduct") &&
      !p.contains("BroadcastNestedLoopJoin"),
      s"candidate generation must stay IVF-pruned:\n$p")
  }

  test("q100 MMR: the pairwise grid joins candidate relations on the " +
    "query key (bounded n per group) — the corpus is never self-joined") {
    val p = planOf("q100_mmr_rerank")
    assert(!p.contains("CartesianProduct"),
      s"pairwise sims must join per-query bounded candidates:\n$p")
    assert(p.contains("FlatMapGroups") || p.contains("MapGroups"),
      s"greedy selection must run per-query in flatMapGroups:\n$p")
  }

  // note the lock shape: scalar totals legitimately finish on an
  // Exchange SinglePartition over per-partition partials (bounded rows =
  // #partitions — every agg(sum) in the repo has it); the scale killer is
  // a GLOBAL window ordered on the raw key. Lock the carry and the window
  // spec, not the exchange.
  test("q103 token budget lays out the spend curve with the two-phase " +
    "prefix sum — the running-sum window is partition-local, never global") {
    val p = planOf("q103_token_budget")
    rangeCarries(p, "range_running_sum") // cumulative spend
    assert(!p.contains("windowspecdefinition(__negq"),
      s"a window ordered straight on the quality key is the global " +
        s"single-task form:\n$p")
    assert(p.contains("BroadcastNestedLoopJoin") ||
      p.contains("BroadcastExchange"),
      s"the 1-row corpus total must broadcast:\n$p")
    spark.sqlContext.clearCache() // globalCumSumOrdered's tracked persist
  }

  test("q104 DSIR rank is the two-phase prefix count; nothing cartesian " +
    "beyond the broadcast 1-row totals") {
    val p = planOf("q104_dsir_select")
    rangeCarries(p, "range_running_sum") // importance rank
    assert(!p.contains("windowspecdefinition(__neg#") &&
      !p.contains("windowspecdefinition(__neg,"),
      s"a window ordered straight on the weight is the global form:\n$p")
    assert(!p.contains("CartesianProduct"),
      s"only 1-row totals may cross-join (as broadcast NLJ):\n$p")
    spark.sqlContext.clearCache()
  }

  test("q101 leakage-safe split fetches canonical buckets per CLUSTER " +
    "(aggregate-before-join) and broadcasts them back; documents scan " +
    "prunes to id + text") {
    val p = planOf("q101_leakage_safe_split")
    assert(p.contains("HashAggregate"),
      s"cluster ids must collapse before the bucket fetch:\n$p")
    assert(!p.contains("CartesianProduct") &&
      !p.contains("BroadcastNestedLoopJoin"), p)
    assert(!p.contains("n_chars#") && !p.contains("lang#"),
      s"documents scan must prune to doc_id/text:\n$p")
  }

  test("q109 gopher battery is shuffle-free: every verdict a row " +
    "expression over one pruned scan") {
    val p = planOf("q109_gopher_rules")
    assert(!p.contains("Exchange"),
      s"the rule battery must not shuffle:\n$p")
    assert(!p.contains("n_chars#") && !p.contains("lang#"),
      s"documents scan must prune to doc_id/text:\n$p")
  }

  test("q110 crop pairs is shuffle-free and explode-free: offsets and " +
    "slices as row expressions, row count stays |docs|") {
    val p = planOf("q110_crop_pairs")
    assert(!p.contains("Exchange"), s"crop pairs must not shuffle:\n$p")
    assert(!p.contains("Generate"),
      s"crop pairs must slice arrays in place, never explode:\n$p")
  }

  test("q111 cdc dedup: chunk numbering is a doc-partitioned window " +
    "(never a global sort) and first-occurrence is an aggregate + join " +
    "back, not a window over chunk text") {
    val p = planOf("q111_cdc_dedup")
    assert(!p.contains("CartesianProduct") &&
      !p.contains("BroadcastNestedLoopJoin"), p)
    // every Window node (the plan text repeats the cached subplan) must
    // be PARTITIONED BY doc_id — never a global single-task window — and
    // hot-chunk handling must stay an aggregate, not a window over chunk
    val winLines = p.linesIterator.filter(_.contains("Window [")).toSeq
    assert(winLines.nonEmpty && winLines.forall(_.contains("[doc_id#")),
      s"chunk numbering must be a doc-partitioned window:\n$p")
    assert(!p.contains("Exchange SinglePartition"),
      s"nothing in the plan may funnel to one task:\n$p")
    assert(!p.contains("first_value"),
      s"first occurrence must be the aggregate + join-back shape:\n$p")
  }

  test("q112 winnowing: every window doc-partitioned, no cartesian, and " +
    "the generator child is the bare token array (scalar work AFTER the " +
    "explode, never under it)") {
    val p = planOf("q112_winnow_pairs")
    val winLines = p.linesIterator.filter(_.contains("Window [")).toSeq
    assert(winLines.nonEmpty && winLines.forall(_.contains("[doc_id#")), p)
    assert(!p.contains("CartesianProduct") &&
      !p.contains("BroadcastNestedLoopJoin"), p)
    // the 54s-at-sf0.1 regression shape: an expensive nested-HOF tree as
    // the Generate's child. The generator must explode a filter/split of
    // text only — no aggregate() lambda fold may appear under Generate
    val genLines = p.linesIterator.filter(_.contains("Generate ")).toSeq
    assert(genLines.nonEmpty && genLines.forall(l =>
      !l.contains("aggregate(") && !l.contains("lambdafunction(pmod")),
      s"generator child must stay cheap:\n$p")
  }

  test("q113 BPE segment: the merge table rides the closure, not a join — " +
    "no shuffle, no broadcast exchange, scan pruned to id + text") {
    val p = planOf("q113_bpe_segment")
    assert(!p.contains("Exchange"),
      s"frozen-tokenizer segmentation must be map-only:\n$p")
    assert(!p.contains("Join"), s"no join may appear:\n$p")
    assert(!p.contains("lang#") && !p.contains("n_chars#"),
      s"documents scan must prune to doc_id/text:\n$p")
  }

  test("q114 vocab coverage: the top-K vocabulary is a bounded " +
    "TakeOrdered broadcast back onto the explode — never a global sort, " +
    "never a shuffled join with the occurrence table") {
    val p = planOf("q114_vocab_coverage")
    assert(p.contains("TakeOrderedAndProject"),
      s"top-K vocab must lower to TakeOrderedAndProject:\n$p")
    assert(p.contains("BroadcastHashJoin"),
      s"vocab must broadcast onto the occurrences:\n$p")
    assert(!p.contains("SortMergeJoin"),
      s"the K-row vocabulary must never shuffle the occurrence table:\n$p")
  }

  test("q115 blocklist: literal folded into row expressions — zero " +
    "exchanges, zero joins, the scan is the plan") {
    val p = planOf("q115_blocklist_filter")
    assert(!p.contains("Exchange") && !p.contains("Join"),
      s"blocklist density filter must be map-only:\n$p")
  }

  test("q117 fertility: one bounded-key aggregate over the map-side " +
    "segmentation — exactly one shuffle, no join") {
    val p = planOf("q117_bpe_fertility")
    assert(!p.contains("Join"), s"no join may appear:\n$p")
    val exchanges = p.linesIterator.count(_.contains("Exchange hashpartitioning"))
    assert(exchanges == 1,
      s"exactly the strata-key aggregate shuffle, found $exchanges:\n$p")
    assert(!p.contains("Exchange SinglePartition"), p)
  }

  test("q118 BPE packing: segmentation feeds the two-phase prefix sum — " +
    "__pid-partitioned windows only, nothing funnels to one task") {
    val p = planOf("q118_bpe_packing")
    assert(!p.contains("Exchange SinglePartition"),
      s"no single-task funnel:\n$p")
    rangeCarries(p, "range_running_sum")
    assert(!p.contains("Window ["), s"running sum must be the carry:\n$p")
  }

  test("q121 BPE encode: merge table and id map ride the closure — " +
    "map-only plan, no shuffle, no join") {
    val p = planOf("q121_bpe_encode")
    assert(!p.contains("Exchange") && !p.contains("Join"),
      s"encode must be the scan plus a flatMap:\n$p")
  }

  test("q122 packed batches: the bin rollup is one bounded-key aggregate " +
    "over the two-phase packing — no single-task funnel anywhere") {
    val p = planOf("q122_packed_batches")
    assert(!p.contains("Exchange SinglePartition"),
      s"no single-task funnel:\n$p")
    rangeCarries(p, "range_running_sum")
    assert(!p.contains("Window ["), s"running sum must be the carry:\n$p")
  }

  test("q128 Q5-shape: the deepest relational plan broadcasts every " +
    "dimension (AQE included), never cartesian, fact shuffled at most " +
    "once per join key") {
    val p = planOf("q128_local_supplier_volume")
    assert(p.contains("BroadcastHashJoin"), p)
    assert(!p.contains("CartesianProduct") &&
      !p.contains("BroadcastNestedLoopJoin"), p)
    assert(!p.contains("Exchange SinglePartition"), p)
  }

  test("q129 Q3-shape: segment filter pushed to the customer scan and " +
    "the top-10 lowered to TakeOrderedAndProject, never a global sort") {
    val p = planOf("q129_shipping_priority")
    assert(p.contains("TakeOrderedAndProject"),
      s"top-10 must not be a global sort:\n$p")
    assert(p.contains("PushedFilters") &&
      p.contains("EqualTo(c_mktsegment,BUILDING)"),
      s"the segment filter must reach the customer scan:\n$p")
    assert(!p.contains("CartesianProduct"), p)
  }

  test("q130 Q6-shape: all three predicates reach the parquet scan and " +
    "the read schema prunes to the referenced columns") {
    val p = planOf("q130_forecast_revenue")
    // the PushedFilters list is truncated in plan text; assert the date
    // range made it in and all three columns are filter-referenced at
    // the reader (IsNotNull entries precede the truncation point)
    assert(p.contains("PushedFilters") &&
      p.contains("GreaterThanOrEqual(l_shipda") &&
      p.contains("IsNotNull(l_discount)") &&
      p.contains("IsNotNull(l_quantity)"),
      s"every predicate must push to the reader:\n$p")
    assert(!p.contains("l_partkey") && !p.contains("l_returnflag"),
      s"scan must prune to the four referenced columns:\n$p")
  }

  test("q123 cohort: the activity join reuses the user-key partitioning " +
    "(no cartesian, no single-task funnel) and the scan prunes to " +
    "user_id + ts") {
    val p = planOf("q123_cohort_retention")
    assert(!p.contains("CartesianProduct") &&
      !p.contains("Exchange SinglePartition"), p)
    assert(!p.contains("props") && !p.contains("value#"),
      s"events scan must prune to user_id/ts:\n$p")
  }

  test("q124 funnel: four user-key hash joins, nothing cartesian, " +
    "nothing single-task before the 1-row stage counts") {
    val p = planOf("q124_funnel")
    assert(!p.contains("CartesianProduct") &&
      !p.contains("BroadcastNestedLoopJoin"), p)
  }

  test("q125 transitions: ONE user-partitioned lead window — never a " +
    "global sort — feeding the bounded type-pair aggregate") {
    val p = planOf("q125_event_transitions")
    val winLines = p.linesIterator.filter(_.contains("Window [")).toSeq
    assert(winLines.nonEmpty && winLines.forall(_.contains("user_id#")),
      s"the lead window must partition on the user:\n$p")
    assert(!p.contains("Exchange SinglePartition"), p)
  }

  test("q126 RFM: one user-keyed aggregate, the corpus max broadcast") {
    val p = planOf("q126_rfm")
    assert(p.contains("BroadcastNestedLoopJoin") ||
      p.contains("BroadcastHashJoin"),
      s"the 1-row max must broadcast:\n$p")
    assert(!p.contains("SortMergeJoin"), p)
  }

  test("q119 cluster cap: assignment broadcasts the k-row centroid table " +
    "(never shuffles the corpus against it) and the cap window partitions " +
    "on the cluster id") {
    val p = planOf("q119_cluster_cap")
    assert(!p.contains("CartesianProduct"), p)
    assert(!p.contains("Exchange SinglePartition"),
      s"no single-task funnel:\n$p")
    val winLines = p.linesIterator.filter(_.contains("Window [")).toSeq
    assert(winLines.nonEmpty && winLines.forall(_.contains("cluster_id#")),
      s"the cap rank must partition on the cluster id:\n$p")
  }

  test("q120 source health: flag relations join on the id key with no " +
    "cartesian, the top-K vocabulary broadcasts, and nothing funnels to " +
    "one task before the |sources| aggregate") {
    val p = planOf("q120_source_health")
    assert(!p.contains("CartesianProduct") &&
      !p.contains("BroadcastNestedLoopJoin"), p)
    assert(!p.contains("Exchange SinglePartition"), p)
    assert(p.contains("TakeOrderedAndProject"),
      s"the vocabulary must stay a bounded top-K:\n$p")
    assert(p.contains("BroadcastHashJoin"),
      s"the K-row vocabulary must broadcast:\n$p")
  }

  test("q168 skyline: the running max partitions by brand — no global " +
    "single-partition window — and the frontier joins back without a " +
    "sort-merge") {
    val p = planOf("q168_brand_skyline")
    assert(!p.contains("Exchange SinglePartition"),
      s"the skyline window must partition by brand:\n$p")
    // the operator's group alias __g IS the brand column
    val winLines = p.linesIterator.filter(_.contains("Window [")).toSeq
    assert(winLines.nonEmpty &&
      winLines.forall(l => l.contains("windowspecdefinition(__g")),
      s"running max must be group-partitioned:\n$p")
  }

  test("q174 session paths: sessionization and both leads share one " +
    "user-key exchange and top-20 lowers to TakeOrderedAndProject") {
    val p = planOf("q174_session_paths")
    val exchanges = p.linesIterator
      .filter(_.contains("Exchange hashpartitioning")).toSeq
    assert(exchanges.count(_.contains("user_id")) == 1,
      s"one user-key exchange must serve all three windows:\n$p")
    assert(p.contains("TakeOrderedAndProject"), p)
    assert(!p.contains("Exchange SinglePartition"), p)
  }

  test("q178 bloom semi join: the bit-test filter runs before any " +
    "exchange on the fact side and no nested-loop join appears") {
    val p = planOf("q178_bloom_semi_join")
    assert(!p.contains("CartesianProduct") &&
      !p.contains("BroadcastNestedLoopJoin"), p)
    // the per-row bit tests are a scan-side Filter, visible as the
    // shiftright expression in the plan text
    assert(p.contains("shiftright"),
      s"the bloom bit tests must appear as a fact-scan filter:\n$p")
  }

  test("q184 last-touch attribution: the as-of resolution is windowed on " +
    "the user key — no per-user cross product, no single-task funnel") {
    val p = planOf("q184_last_touch")
    assert(!p.contains("CartesianProduct") &&
      !p.contains("BroadcastNestedLoopJoin"),
      s"attribution must be an as-of join, never a θ-join:\n$p")
    assert(!p.contains("Exchange SinglePartition"), p)
    val winLines = p.linesIterator.filter(_.contains("Window [")).toSeq
    assert(winLines.nonEmpty &&
      winLines.forall(_.contains("user_id")),
      s"the as-of window must partition on user_id:\n$p")
  }

  test("q186 sorted neighborhood: the global rank is the two-phase " +
    "range-partitioned form — every row_number window partitions on " +
    "__pid; corpus rows never funnel to one task (the only " +
    "SinglePartition exchanges feed the bounded per-partition-count " +
    "offset windows)") {
    val p = planOf("q186_sorted_neighborhood")
    assert(!p.contains("CartesianProduct"), p)
    rangeCarries(p, "range_row_number")
    assert(!p.contains("row_number() windowspecdefinition"),
      s"the global rank must be the carry, never a window:\n$p")
    // the offsets are computed on the driver from per-partition
    // summaries: no exchange funnels rows to one task
    assert(!p.contains("Exchange SinglePartition"),
      s"no single-task funnel:\n$p")
  }

  test("q224 capped containment: the maxShingleDf cap is really in the " +
    "plan — a hot-shingle df aggregate feeding a left-anti substrate " +
    "join — and the uncapped q185 plan carries neither (the CORRECTNESS " +
    "row proves the cap drops nothing at gate scale; this proves the " +
    "row exercised the cap machinery and not silently q185 again)") {
    val (pCapped, pUncapped) = graft.core.CacheScope.scoped {
      (planOf("q224_containment_capped"), planOf("q185_containment_pairs"))
    }
    assert(pCapped.contains("__df"),
      s"capped plan must compute shingle document frequency:\n$pCapped")
    assert(pCapped.contains("LeftAnti"),
      s"capped plan must anti-join hot shingles out of the substrate:\n" +
        pCapped)
    assert(!pUncapped.contains("__df") && !pUncapped.contains("LeftAnti"),
      s"uncapped q185 must keep the definitional substrate:\n$pUncapped")
    spark.sqlContext.clearCache()
  }

  test("q158 promotable suppliers: the red-part key join sits BELOW the " +
    "pair aggregate (the name filter is on the window's own partition " +
    "key, so pruning the fact scan first is semantics-preserving and " +
    "skips ~24/25 of the aggregate+window work)") {
    val p = SparkEntry.queries("q158_promotable_suppliers")(spark, sfDir)
      .queryExecution.optimizedPlan.toString
    val lines = p.linesIterator.toSeq
    val aggIdx = lines.indexWhere(l => l.contains("Aggregate [") &&
      l.contains("l_partkey") && l.contains("l_suppkey"))
    val partJoinIdx = lines.indexWhere(l => l.contains("Join Inner") &&
      l.contains("p_partkey"))
    assert(aggIdx >= 0 && partJoinIdx >= 0, p)
    assert(partJoinIdx > aggIdx,
      s"the p_partkey join must be a CHILD of the pair aggregate " +
        s"(deeper in the tree), not above it:\n$p")
  }

  test("dedup lenses GATE the sizes broadcast hint on a measured doc " +
    "count: above the bound the per-document relation joins unhinted " +
    "(an unconditional hint is an executor OOM at 10^9 docs — it " +
    "overrides AQE's threshold); at or below the bound the hint is on " +
    "(skipping AQE's pay-the-shuffle-then-convert cost). Both sides of " +
    "the gate are locked.") {
    val docs = graft.core.Tables.documents(spark, sfDir)
    def optimizedOf(df: => org.apache.spark.sql.DataFrame): String =
      graft.core.CacheScope.scoped { df.queryExecution.optimizedPlan.toString }
    // 100 TB posture: bound 0 forces the unhinted path — no broadcast
    // hint anywhere in q29/q185/q186 (q186's rank has no offsets join)
    val p29 = optimizedOf(graft.llm.Dedup.ngramJaccardPairs(
      docs, w = 3, tau = 0.5, maxBroadcastDocs = 0L))
    assert(!p29.contains("strategy=broadcast"),
      s"above the gate, no hint may survive:\n$p29")
    val p185 = optimizedOf(graft.llm.Dedup.containmentPairs(
      docs, w = 3, tauNum = 9, tauDen = 10, maxBroadcastDocs = 0L))
    assert(!p185.contains("strategy=broadcast"),
      s"above the gate, no hint may survive:\n$p185")
    val p186 = optimizedOf(graft.llm.Dedup.sortedNeighborhoodPairs(
      docs, w = 3, window = 3, tauNum = 1, tauDen = 2,
      maxBroadcastDocs = 0L))
    val hinted = p186.linesIterator
      .filter(_.contains("strategy=broadcast")).toSeq
    assert(hinted.isEmpty,
      s"above the gate, no hint may survive:\n${hinted.mkString("\n")}")
    // bounded-corpus path: the gate measures the doc count and hints
    val pHinted = optimizedOf(graft.llm.Dedup.ngramJaccardPairs(
      docs, w = 3, tau = 0.5))
    assert(pHinted.contains("strategy=broadcast"),
      s"at gate scale (docs <= bound) the sizes join must hint:\n$pHinted")
    spark.sqlContext.clearCache()
  }

  test("q206 winsorized lengths: the per-source rank is the two-phase " +
    "grouped form — every row_number window partitions on __pid, " +
    "never a bare source partition that funnels a stratum to one task") {
    val p = planOfScoped("q206_winsorized_lengths")
    rangeCarries(p, "range_row_number")
    assert(!p.contains("row_number() windowspecdefinition"),
      s"row_number must be the range carry — the carry, never a window:\n$p")
    spark.sqlContext.clearCache()
  }

  test("q207 coverage curve: the vocabulary rank and running mass ride " +
    "the two-phase devices (__pid-partitioned windows); no cartesian " +
    "beyond the broadcast totals") {
    val p = planOfScoped("q207_coverage_curve")
    rangeCarries(p, "range_row_number")
    rangeCarries(p, "range_running_sum")
    assert(!p.contains("row_number() windowspecdefinition") &&
      !p.contains("Window [sum(cnt"),
      s"rank and running mass must be the carries, never windows:\n$p")
    assert(!p.contains("CartesianProduct"), p)
    spark.sqlContext.clearCache()
  }

  test("q211 RFM: all three quintile ranks are the two-phase form — " +
    "every row_number window partitions on __pid, the customer " +
    "universe never funnels through one task") {
    val p = planOfScoped("q211_rfm_segments")
    rangeCarries(p, "range_row_number")
    assert(!p.contains("row_number() windowspecdefinition"),
      s"quintile ranks must be the range carry — the carry, never a window:\n$p")
    spark.sqlContext.clearCache()
  }

  test("q219 equi-depth histogram: the cents rank is the two-phase " +
    "form — row_number windows partition on __pid, the order universe " +
    "never funnels through one task") {
    val p = planOfScoped("q219_equidepth_hist")
    rangeCarries(p, "range_row_number")
    assert(!p.contains("row_number() windowspecdefinition"),
      s"the rank must be the range carry — the carry, never a window:\n$p")
    spark.sqlContext.clearCache()
  }

  /** The executed plan of every checkpoint `body` runs, in order. The
    * listener hears of executions asynchronously, so a marker query after
    * `body` is waited for: the listener bus delivers in order. */
  private def checkpointPlans(body: => Unit): Seq[String] = {
    import org.apache.spark.sql.execution.QueryExecution
    import org.apache.spark.sql.util.QueryExecutionListener
    val plans = new java.util.concurrent.ConcurrentLinkedQueue[String]
    val marked = new java.util.concurrent.CountDownLatch(1)
    val mark = "graft_checkpoint_plans_marker"
    val listener = new QueryExecutionListener {
      override def onSuccess(f: String, qe: QueryExecution, ns: Long): Unit =
        if (f == "localCheckpoint") plans.add(qe.executedPlan.toString)
        else if (qe.analyzed.output.exists(_.name == mark)) marked.countDown()
      override def onFailure(f: String, qe: QueryExecution, e: Exception)
      : Unit = ()
    }
    spark.listenerManager.register(listener)
    try {
      body
      spark.range(1).toDF(mark).collect()
      assert(marked.await(60, java.util.concurrent.TimeUnit.SECONDS),
        "the marker query never reached the listener")
      import scala.jdk.CollectionConverters._
      plans.asScala.toSeq
    } finally spark.listenerManager.unregister(listener)
  }

  /** The neighbourhood-round shape ([[graft.ops.Graph]]'s round driver) in
    * the checkpoints `plans` of one device call: the edge side is built
    * once, with one exchange, its hash partitioning on `__dst`; there are
    * `rounds` rounds; each round's only exchange is its aggregate's, on
    * `__src`, and every round with a join reads the checkpointed edge
    * side below that join with no exchange above the scan. Returns the
    * rounds' plans. */
  private def neighbourhoodRounds(plans: Seq[String], rounds: Int,
                                  joins: Int): Seq[String] = {
    def exchanges(p: String) = p.linesIterator.filter(_.contains("Exchange ")).toSeq
    val all = plans.mkString("\n====\n")
    val builds = plans.filter(_.contains("Generate explode"))
    assert(builds.size == 1 && exchanges(builds.head).size == 1 &&
      exchanges(builds.head).head.contains("hashpartitioning(__dst"),
      s"the closed neighbourhood must be built once, one exchange on __dst:\n$all")
    val rs = plans.filter(p => p.contains("HashAggregate(keys=[__src"))
    assert(rs.size == rounds, s"expected $rounds rounds:\n$all")
    for (r <- rs) {
      val ex = exchanges(r)
      assert(ex.size == 1 && ex.head.contains("hashpartitioning(__src"),
        s"a round's one data exchange must be its aggregate's:\n$r")
      val lines = r.linesIterator.toIndexedSeq
      val join = lines.indexWhere(_.contains("Join"))
      if (join >= 0) {
        assert(lines.indexWhere(_.contains("Exchange ")) < join &&
          lines.drop(join).exists(_.contains("Scan ExistingRDD[__src")),
          s"the round must join the checkpointed edge side in place:\n$r")
      }
    }
    assert(rs.count(_.contains("Join")) == joins,
      s"expected $joins rounds with a join:\n$all")
    rs
  }

  test("connected components at scale: the closed neighbourhood is built " +
    "once, round 1 has no join, and every later round joins the edge " +
    "side in place with one data exchange, the aggregate's") {
    // a path 0-1-…-5 plus an isolated vertex: 5 label-moving rounds and
    // one that confirms the fixpoint
    val verts = spark.range(7).toDF("id")
    val path = spark.range(5).select(col("id").as("a"), (col("id") + 1).as("b"))
    val plans = checkpointPlans(withCutover(Cutover.Graph)(
      graft.llm.Dedup.connectedComponents(verts, path).collect()))
    neighbourhoodRounds(plans, rounds = 6, joins = 5)
  }

  test("q171 BFS: three neighbourhood rounds, each joining the edge side " +
    "in place with one data exchange, the aggregate's") {
    val plans = checkpointPlans(graft.core.CacheScope.scoped {
      SparkEntry.queries("q171_bfs_distance")(spark, sfDir).collect()
    })
    neighbourhoodRounds(plans, rounds = 3, joins = 3)
  }

  test("q166 label propagation: round 1 counts neighbour ids with no " +
    "join, rounds 2-3 join the edge side in place; the count and the " +
    "argmax share the round's one data exchange") {
    val plans = checkpointPlans(graft.core.CacheScope.scoped {
      SparkEntry.queries("q166_label_propagation")(spark, sfDir).collect()
    })
    neighbourhoodRounds(plans, rounds = 3, joins = 2)
  }

  test("q208 HITS: per-round propagation is edge-keyed joins — no " +
    "cartesian product; the only nested-loop joins are the broadcast " +
    "1-row normalizers") {
    val p = SparkEntry.queries("q208_hits")(spark, sfDir)
      .queryExecution.executedPlan.toString
    assert(!p.contains("CartesianProduct"),
      s"HITS must never go cartesian:\n$p")
  }

  test("q187 calendar fill: the forward-fill window partitions on the " +
    "item key and the spine never shuffles fact rows") {
    val p = planOf("q187_calendar_fill")
    val winLines = p.linesIterator.filter(_.contains("Window [")).toSeq
    assert(winLines.nonEmpty &&
      winLines.forall(_.contains("item")),
      s"the fill window must partition on item:\n$p")
  }

  test("q189 linear attribution: the interval join is the bucketed " +
    "range join and the credit windows partition on the purchase id — " +
    "no θ-join, no single-task funnel") {
    val p = planOf("q189_linear_attribution")
    assert(!p.contains("CartesianProduct") &&
      !p.contains("BroadcastNestedLoopJoin"),
      s"qualifying pairs must come from the bucketed interval join:\n$p")
    assert(!p.contains("Exchange SinglePartition"), p)
    val winLines = p.linesIterator.filter(_.contains("Window [")).toSeq
    assert(winLines.nonEmpty && winLines.forall(_.contains("event_id")),
      s"credit windows must partition on the purchase event id:\n$p")
  }

  test("q192 point-in-time join: the SCD build and the as-of resolution " +
    "all window on the user key — no θ-product, no single-task funnel") {
    val p = planOf("q192_point_in_time")
    assert(!p.contains("CartesianProduct") &&
      !p.contains("BroadcastNestedLoopJoin"),
      s"the as-of must never expand to a per-user product:\n$p")
    assert(!p.contains("Exchange SinglePartition"), p)
    val winLines = p.linesIterator.filter(_.contains("Window [")).toSeq
    assert(winLines.nonEmpty && winLines.forall(_.contains("user_id")),
      s"every window must partition on user_id:\n$p")
  }

  test("q193 association rules: supports broadcast onto the pair " +
    "relation, top-20 lowers to TakeOrderedAndProject, no cartesian") {
    val p = graft.core.CacheScope.scoped {
      SparkEntry.queries("q193_association_rules")(spark, sfDir)
        .queryExecution.executedPlan.toString
    }
    assert(!p.contains("CartesianProduct") &&
      !p.contains("BroadcastNestedLoopJoin"), p)
    assert(p.contains("TakeOrderedAndProject"),
      s"top-20 must never be a global sort:\n$p")
    assert(p.contains("BroadcastHashJoin"),
      s"part supports must broadcast onto the pair relation:\n$p")
  }

  test("q195 rolling WAU: the inverted-window explode carries NO window " +
    "operator at all — two aggregates and a bounded join") {
    val p = planOf("q195_rolling_wau")
    assert(!p.linesIterator.exists(_.contains("Window [")),
      s"the rolling distinct must not use a window operator:\n$p")
    assert(!p.contains("CartesianProduct"), p)
    assert(p.contains("Generate explode"),
      s"each user-day row must explode to its window-end days:\n$p")
  }

  test("q228 CMS join preflight: the plan never joins the key relations " +
    "— the only join runs on the bounded (row_j, bucket) counter grid") {
    val p = planOf("q228_cms_join_size")
    // the sketch leg must not sort-merge anything (counter joins are
    // tiny broadcasts); the audit leg's exact key join is the ONE
    // permitted shuffle join, so at most one SMJ total
    val smj = p.linesIterator.count(_.contains("SortMergeJoin"))
    assert(smj <= 1, s"only the exact-audit leg may shuffle-join:\n$p")
    assert(p.contains("BroadcastHashJoin"),
      s"the counter-grid join must broadcast:\n$p")
    // the 1-row crossJoin idiom may lower to BroadcastNestedLoopJoin;
    // a CartesianProduct would mean a real relation got cross-joined
    assert(!p.contains("CartesianProduct"), p)
  }

  test("q116 stratified split: per-stratum rank is the range-partitioned " +
    "two-phase form — windows partition on (__pid, lang, source), sizes " +
    "and offsets broadcast, nothing funnels to one task") {
    val p = planOf("q116_stratified_split")
    assert(!p.contains("Exchange SinglePartition"),
      s"no single-task funnel:\n$p")
    rangeCarries(p, "range_row_number")
    assert(!p.contains("Window ["), s"the rank must be the carry:\n$p")
    assert(p.contains("BroadcastHashJoin"),
      s"stratum sizes must broadcast:\n$p")
    assert(!p.contains("SortMergeJoin"), s"nothing may shuffle-join:\n$p")
  }

  test("q242 perplexity buckets: the per-language surprisal rank is the " +
    "range-partitioned two-phase form — row_number windows partition on " +
    "__pid, no language funnels through one task") {
    val p = planOfScoped("q242_perplexity_buckets")
    rangeCarries(p, "range_row_number")
    assert(!p.contains("row_number() windowspecdefinition"),
      s"the per-lang rank must be the range carry — the carry, never a window:\n$p")
    spark.sqlContext.clearCache()
  }

  test("q243 grouped weighted sample: the per-language bottom-k rank is " +
    "the range-partitioned two-phase form — row_number windows partition " +
    "on __pid, no language funnels through one task") {
    val p = planOfScoped("q243_weighted_sample_grouped")
    rangeCarries(p, "range_row_number")
    assert(!p.contains("row_number() windowspecdefinition"),
      s"the per-lang bottom-k rank must be the range carry — the carry, never a window:\n$p")
    spark.sqlContext.clearCache()
  }

  test("q244 URL dedup: canonicalization is map-only expressions, the " +
    "group-min joins hash, the host-cap rank partitions on the host " +
    "(the two-phase pre-filter bounds its input), nothing funnels to " +
    "one task or goes cartesian") {
    val p = graft.core.CacheScope.scoped {
      SparkEntry.queries("q244_url_dedup")(spark, sfDir)
        .queryExecution.executedPlan.toString
    }
    assert(!p.contains("CartesianProduct") &&
      !p.contains("BroadcastNestedLoopJoin"), p)
    assert(!p.contains("Exchange SinglePartition"),
      s"no single-task funnel:\n$p")
    val rnLines = p.linesIterator
      .filter(_.contains("row_number() windowspecdefinition")).toSeq
    assert(rnLines.nonEmpty && rnLines.forall(_.contains("host#")),
      s"the host cap must partition on the host key:\n$p")
    spark.sqlContext.clearCache()
  }

  test("q245 CMS store span: the probe joins the bounded d*w counter " +
    "relation — no cartesian, no single-task funnel on the estimate path") {
    val p = graft.core.CacheScope.scoped {
      SparkEntry.queries("q245_cms_store")(spark, sfDir)
        .queryExecution.executedPlan.toString
    }
    assert(!p.contains("CartesianProduct") &&
      !p.contains("BroadcastNestedLoopJoin"), p)
    assert(!p.contains("Exchange SinglePartition"),
      s"no single-task funnel:\n$p")
    spark.sqlContext.clearCache()
  }

  test("q246 Gopher battery: the whole six-threshold battery is ONE " +
    "shuffle-free projection (in-row sorted-run folds — r18) — no gram " +
    "explode, no Exchange at all, no cartesian") {
    val p = graft.core.CacheScope.scoped {
      SparkEntry.queries("q246_gopher_repetition")(spark, sfDir)
        .queryExecution.executedPlan.toString
    }
    assert(!p.contains("CartesianProduct") &&
      !p.contains("BroadcastNestedLoopJoin"), p)
    // r18 tightened this lock: the battery used to ride one gram explode
    // into a corpus-wide (doc, n, gram) aggregate (the pre-r18 assertion
    // pinned "exactly one Generate"); the in-row fold needs NEITHER the
    // explode NOR any shuffle — per-doc statistics stay in the row
    assert(!p.contains("Generate"),
      s"battery must not explode grams (in-row folds):\n$p")
    assert(!p.contains("Exchange"),
      s"battery must be shuffle-free:\n$p")
    spark.sqlContext.clearCache()
  }

  test("q238 overlap matrix: every estimate-side join broadcasts, the " +
    "only nested loops are the bounded |G|-row pair spines, no cartesian") {
    val p = planOf("q238_kmv_overlap_matrix")
    assert(!p.contains("CartesianProduct"), p)
    assert(p.contains("BroadcastHashJoin"),
      s"bounded hash-set joins must broadcast:\n$p")
    // the g_a < g_b spines are inequality joins of |G|-row relations —
    // a bounded nested loop is their correct shape; anything beyond the
    // two spines (thresholds, exact counts) looping would be a real leak
    val bnlj = p.linesIterator.count(_.contains("BroadcastNestedLoopJoin"))
    assert(bnlj <= 2, s"only the pair spines may nested-loop ($bnlj):\n$p")
  }

  test("q239 day=-partitioned scan: the day filter becomes a " +
    "PartitionFilter and the scan lists ONLY the seven matching " +
    "day= directories") {
    val df = SparkEntry.queries("q239_partition_pruned_daily")(spark, sfDir)
    // AQE wraps the physical tree — descend through adaptive nodes to
    // reach the actual scan
    def scansOf(p: org.apache.spark.sql.execution.SparkPlan)
    : Seq[org.apache.spark.sql.execution.FileSourceScanExec] = p.collect {
      case s: org.apache.spark.sql.execution.FileSourceScanExec => Seq(s)
      case a: org.apache.spark.sql.execution.adaptive
        .AdaptiveSparkPlanExec => scansOf(a.executedPlan)
    }.flatten
    val scans = scansOf(df.queryExecution.executedPlan)
    assert(scans.nonEmpty, "expected a file-source scan")
    val scan = scans.head
    assert(scan.partitionFilters.nonEmpty,
      s"day predicate must reach the scan as a PartitionFilter, not a " +
        s"data filter:\n${df.queryExecution.executedPlan}")
    val selected = scan.selectedPartitions.partitionCount
    val total = graft.core.Tables.eventsDayPartitioned(spark, sfDir)
      .select("day").distinct().count()
    assert(selected == 7,
      s"one listed partition per day in [20240101, 20240107]: $selected")
    assert(selected < total,
      s"pruning must beat the full layout ($selected of $total days)")
  }

  test("DumpPlans' headline list names only registry queries") {
    val unknown = DumpPlans.Headline.map(_._1)
      .filterNot(SparkEntry.queries.contains)
    assert(unknown.isEmpty, s"not in SparkEntry.queries: $unknown")
  }

  test("q14 offline metrics: two fine aggregates rolled up per scene in " +
    "one aggregate — no join, three data shuffles, and a pinned number " +
    "of jobs per collect") {
    import org.apache.spark.sql.catalyst.expressions.Attribute
    import org.apache.spark.sql.catalyst.plans.physical.HashPartitioning
    import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
    import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
    import org.apache.spark.sql.execution.joins.BaseJoinExec
    val stages = new AdaptiveSparkPlanHelper {}
    val (plan, jobs) = graft.core.CacheScope.scoped {
      val wide = SparkEntry.queries("q14_offline_metrics")(spark, sfDir)
      val (_, jobs, _) = jobEvents(wide.collect())
      (wide.queryExecution.executedPlan, jobs)
    }
    assert(stages.collect(plan) { case j: BaseJoinExec => j }.isEmpty,
      s"the dashboard must read its fine aggregates with no join:\n$plan")
    val shuffles = stages.collect(plan) {
      case e: ShuffleExchangeExec => e.outputPartitioning match {
        case h: HashPartitioning =>
          h.expressions.map(_.asInstanceOf[Attribute].name).mkString(",")
        case p => p.toString
      }
    }
    assert(shuffles.sorted == Seq("scene", "scene,item", "scene,user_id"),
      s"one shuffle per fine aggregate and one for the roll-up:\n$plan")
    // each adaptive query stage is a job, and so is the result stage
    assert(jobs.size == 4, s"${jobs.size} jobs:\n${jobs.mkString("\n--\n")}")
  }
}
