package graft.ops

import org.apache.spark.sql.{Column, DataFrame, Encoder, Encoders, SparkSession, TypedColumn}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.expressions.Aggregator
import org.apache.spark.sql.functions._

/** Scale techniques (SURVEY §7.2 step 7): skew-safe aggregation and a
  * bounded top-K aggregator. These are the knobs for the 100 TB posture —
  * the reference's own data is skewed (2-scene whitelist,
  * `flink-process/.../common/Constants.java:7`), so a plain `groupBy(scene)`
  * sends half the log through two reducers.
  */
object Scale {

  /** Salted two-phase aggregation for additive aggregates: phase 1 groups
    * on (key, salt) spreading a hot key over `salts` reducers with partial
    * (map-side) combine, phase 2 merges the partials per key. AQE's skew
    * handling covers joins; this covers the aggregation path when a single
    * group's state is itself the bottleneck.
    *
    * `aggs` maps output column name → (phase-1 agg of the input column,
    * phase-2 merge of the partial). E.g. count: (count(x), sum(partial));
    * sum: (sum(x), sum(partial)); max: (max(x), max(partial)).
    */
  def saltedAgg(df: DataFrame, key: Column, salts: Int,
                aggs: Seq[(String, (Column, String => Column))]): DataFrame = {
    // The salt must be a deterministic function of row content: a salt from
    // spark_partition_id()/monotonically_increasing_id() changes when a map
    // task is re-executed after a fetch failure, so reducers that already
    // consumed the old outputs would double-count or drop partials. Hashing
    // every input column keeps re-executed tasks bit-identical; distinct
    // rows still spread a hot key across `salts` reducers (identical
    // duplicate rows share a salt, which only concentrates exact-duplicate
    // volume — acceptable, and the common hot-key shape is distinct rows).
    val phase1 = df
      .withColumn("__salt", pmod(xxhash64(df.columns.toIndexedSeq.map(col): _*), lit(salts.toLong)))
      .groupBy(key.as("key"), col("__salt"))
      .agg(aggs.head._2._1.as(s"__p_${aggs.head._1}"),
        aggs.tail.map { case (n, (a, _)) => a.as(s"__p_$n") }: _*)
    phase1.groupBy(col("key"))
      .agg(aggs.head._2._2(s"__p_${aggs.head._1}").as(aggs.head._1),
        aggs.tail.map { case (n, (_, m)) => m(s"__p_$n").as(n) }: _*)
  }

  /** Bounded top-K typed aggregator: keeps at most `k` (score, payload)
    * pairs in the aggregation buffer, so per-group state is O(k) instead of
    * the O(group) `collect_list` + `sort_array` — or O(group) sort-per-
    * window-partition — pattern: the SURVEY §4.2 "optional custom piece"
    * for exact ordered top-K at 100 TB. Descending by score, ascending
    * payload tie-break (exactly `row_number` over (score desc, payload) ≤
    * k, with the ranking state bounded).
    *
    * The buffer invariant is "sorted, length ≤ k", so `reduce` never
    * re-sorts: a full buffer rejects a non-qualifying row in O(1) (the
    * common case once the group exceeds k) and otherwise binary-inserts in
    * O(log k) compares; `merge` is a linear merge of two sorted runs.
    *
    * `distinctPayloads = true` additionally collapses EXACT (score,
    * payload) duplicates inside the aggregation — the multi-table ANN
    * candidate shape, where the same neighbor arrives once per colliding
    * table with an identical score: absorbing duplicates here deletes the
    * upstream `distinct()` exchange over the full candidate set (an exact
    * duplicate occupies one slot instead of two, so top-k semantics match
    * distinct-then-rank). Payload uniqueness is only guaranteed for rows
    * whose duplicates agree on the score, which that shape does by
    * construction.
    */
  class TopKPayloadAgg[P](k: Int, distinctPayloads: Boolean = false)
                         (implicit ord: Ordering[P],
                          tt: scala.reflect.runtime.universe.TypeTag[P])
    extends Aggregator[(Double, P), IndexedSeq[(Double, P)], Seq[P]] {
    private def order(a: (Double, P), b: (Double, P)): Boolean =
      a._1 > b._1 || (a._1 == b._1 && ord.lt(a._2, b._2))
    // the buffer type is IndexedSeq: the O(1) reject and the binary search
    // index it, and on a List (what Seq builders produce) `length` and
    // `apply` walk the list
    override def zero: IndexedSeq[(Double, P)] = Vector.empty
    override def reduce(buf: IndexedSeq[(Double, P)], in: (Double, P))
    : IndexedSeq[(Double, P)] = {
      if (k <= 0) buf
      else if (buf.length >= k && !order(in, buf(buf.length - 1))) buf
      else {
        var lo = 0
        var hi = buf.length
        while (lo < hi) {
          val mid = (lo + hi) >>> 1
          if (order(buf(mid), in)) lo = mid + 1 else hi = mid
        }
        // the insertion point is the one place an exact duplicate can live
        // (the order is total), so uniqueness is an O(1) check here
        if (distinctPayloads && lo < buf.length && buf(lo) == in) buf
        else {
          val out = buf.patch(lo, Seq(in), 0)
          if (out.length > k) out.take(k) else out
        }
      }
    }
    override def merge(a: IndexedSeq[(Double, P)], b: IndexedSeq[(Double, P)])
    : IndexedSeq[(Double, P)] = {
      val out = Vector.newBuilder[(Double, P)]
      var n = 0
      var i = 0
      var j = 0
      while (n < k && (i < a.length || j < b.length)) {
        if (distinctPayloads && i < a.length && j < b.length && a(i) == b(j)) {
          out += a(i); i += 1; j += 1 // one slot for an exact duplicate
        } else if (j >= b.length || (i < a.length && order(a(i), b(j)))) {
          out += a(i); i += 1
        } else {
          out += b(j); j += 1
        }
        n += 1
      }
      out.result()
    }
    override def finish(buf: IndexedSeq[(Double, P)]): Seq[P] =
      buf.map(_._2)
    override def bufferEncoder: Encoder[IndexedSeq[(Double, P)]] =
      org.apache.spark.sql.catalyst.encoders.ExpressionEncoder[IndexedSeq[(Double, P)]]()
    override def outputEncoder: Encoder[Seq[P]] =
      org.apache.spark.sql.catalyst.encoders.ExpressionEncoder[Seq[P]]()
  }

  /** Long-payload top-K — the ANN refine-rank shape: per query, the
    * `refine` best neighbor ids by (score desc, id asc) with O(refine)
    * aggregation state, replacing an n-row sort per query window
    * partition. */
  class TopKLongAgg(k: Int, distinctPayloads: Boolean = false)
    extends TopKPayloadAgg[Long](k, distinctPayloads)

  def topKLongColumn(k: Int, distinctPayloads: Boolean = false)
  : TypedColumn[(Double, Long), Seq[Long]] =
    new TopKLongAgg(k, distinctPayloads).toColumn

  /** (score, id)-payload top-K — the retrieval shape: rank AND score come
    * back from one bounded aggregate (posexplode position = rank), so a
    * top-k that must emit its scores needs neither a rejoin to recover
    * them nor a rank window. Tie order matches the id-only form: score
    * desc, then id asc (the payload tuple's own ordering at equal score). */
  def topKScoredLongColumn(k: Int)
  : TypedColumn[(Double, (Double, Long)), Seq[(Double, Long)]] =
    new TopKPayloadAgg[(Double, Long)](k).toColumn

  /** Mergeable Misra-Gries heavy-hitters summary: at most `k` (item, count)
    * counters per aggregation buffer, so finding the frequent items of an
    * unbounded stream costs O(k) state — the frequency counterpart of the
    * HLL distinct sketch in the kit. Guarantee: any item with true count
    * > n/(k+1) survives, and every reported count undercounts by at most
    * the total decrement amount (classic MG bounds); exact ranking of the
    * survivors comes from a cheap second pass filtered to them. `merge`
    * combines summaries then re-truncates with the same decrement rule, so
    * the bound holds across partitions (Agarwal et al.'s mergeable-summary
    * result).
    */
  class TopFreqAgg(k: Int)
    extends Aggregator[String, Map[String, Long], Map[String, Long]] {
    override def zero: Map[String, Long] = Map.empty
    private def shrink(m: Map[String, Long]): Map[String, Long] =
      if (m.size <= k) m
      else {
        // decrement all by the (k+1)-th largest count and drop zeros — one
        // MG "subtract the minimum" step batched. On the per-row reduce
        // path the size is exactly k+1, where the (k+1)-th largest IS the
        // minimum: O(k) instead of a sort (merge, size up to 2k, sorts)
        val dec =
          if (m.size == k + 1) m.values.min
          else m.values.toSeq.sorted(Ordering[Long].reverse)(k)
        m.flatMap { case (i, c) =>
          if (c - dec > 0) Some(i -> (c - dec)) else None
        }
      }
    override def reduce(m: Map[String, Long], item: String): Map[String, Long] =
      shrink(m.updated(item, m.getOrElse(item, 0L) + 1L))
    override def merge(a: Map[String, Long],
                       b: Map[String, Long]): Map[String, Long] =
      shrink(b.foldLeft(a) { case (m, (i, c)) =>
        m.updated(i, m.getOrElse(i, 0L) + c)
      })
    override def finish(m: Map[String, Long]): Map[String, Long] = m
    override def bufferEncoder: Encoder[Map[String, Long]] =
      org.apache.spark.sql.catalyst.encoders.ExpressionEncoder[Map[String, Long]]()
    override def outputEncoder: Encoder[Map[String, Long]] =
      org.apache.spark.sql.catalyst.encoders.ExpressionEncoder[Map[String, Long]]()
  }

  def topFreqColumn(k: Int): TypedColumn[String, Map[String, Long]] =
    new TopFreqAgg(k).toColumn

  /** Exact top-`topN` most frequent items, MG-pruned: pass 1 runs the
    * bounded [[TopFreqAgg]] summary (O(sketchK) state per partial, one
    * collect of ≤ sketchK counters — never the vocabulary) to find the
    * candidate set; pass 2 re-counts ONLY the survivors exactly and takes
    * the top `topN` by (count desc, item) — a TakeOrderedAndProject, never
    * a global sort. At 100 TB pass 2's scan filter drops every
    * non-candidate token before the shuffle, so the exact aggregation
    * touches ≤ sketchK groups.
    *
    * Exactness contract: the output is the true top-`topN` whenever the
    * true top-`topN` all survive pass 1 — guaranteed when their counts
    * exceed n/(sketchK+1) (the MG bound), and unconditionally when
    * sketchK ≥ the item cardinality (the summary never decrements — the
    * degenerate exact case; the gate corpus' 31-token near-uniform
    * vocabulary sits here, so q59 runs sketchK=32). In between, size
    * sketchK to the distribution's heavy tail.
    */
  def heavyHittersExact(items: org.apache.spark.sql.Dataset[String],
                        sketchK: Int, topN: Int): DataFrame = {
    val survivors = items.groupByKey(_ => 0)(Encoders.scalaInt)
      .agg(topFreqColumn(sketchK).name("top"))
      .collect().headOption.map(_._2.keySet).getOrElse(Set.empty[String])
    val base = items.toDF("item")
    // small survivor sets compile to an In predicate the scan can evaluate
    // inline; a heavy-tail sketchK (thousands of survivors) would bloat the
    // plan with a giant literal list instead — above the threshold, filter
    // via a broadcast semi-join on a survivors frame
    val filtered =
      if (survivors.size <= 128)
        base.filter(col("item").isin(survivors.toSeq.sorted.map(lit): _*))
      else {
        import items.sparkSession.implicits._
        val survivorDf = survivors.toSeq.sorted.toDF("item")
        base.join(broadcast(survivorDf), Seq("item"), "left_semi")
      }
    filtered
      .groupBy("item").agg(count(lit(1)).as("cnt"))
      .orderBy(col("cnt").desc, col("item"))
      .limit(topN)
  }

  /** One [[TopFreqAgg]] summary of `items` as a (item, cnt) relation —
    * ≤ k rows. Partials combine map-side (the Aggregator's merge), so
    * the single reducer only folds k-sized summaries, never rows. */
  def topFreqSummary(items: org.apache.spark.sql.Dataset[String],
                     k: Int): DataFrame =
    items.groupByKey(_ => 0)(Encoders.scalaInt)
      .agg(topFreqColumn(k).name("top"))
      .select(explode(col("top")).as(Seq("item", "cnt")))

  /** Misra-Gries heavy-hitter STORE — the "what is hot" member of the
    * epoch-store families (bloom words OR, CMS counters ADD; MG counters
    * ADD with a decrement budget):
    * [[writeTopFreqStore]]/[[appendTopFreqStore]] persist one ≤ k-row
    * summary per epoch, [[mergedHeavyHitters]] sums counters per item
    * over any epoch span. Contract (Agarwal et al., mergeable
    * summaries): merged counts never OVERCOUNT, undercount by at most
    * n/(k+1) over the merged span's n rows, and every item with true
    * count > n/(k+1) is present in the merge — so the store answers
    * "what was hot across these epochs" with k·epochs rows of state
    * where the exact answer needs the vocabulary. Unlike the bloom and
    * CMS stores the COUNTERS are not bit-reproducible across runs
    * (which rows absorb the decrements depends on partition fold
    * order) — the BOUND is the contract, and the tests pin the
    * bound, not bits. The layout record pins k: a span mixing summary
    * widths has no single decrement budget, so mismatched appends fail
    * loud.
    */
  private val TopFreqStore = Sketch.StoreFamily("top-freq",
    Seq("tfk"),
    "item STRING, cnt BIGINT, epoch BIGINT",
    _.groupBy(col("item")).agg(sum(col("cnt")).as("cnt")),
    Sketch.SelfOverwritingAdd)

  /** Create/replace a top-freq store at `path` with one epoch's summary. */
  def writeTopFreqStore(items: org.apache.spark.sql.Dataset[String],
                        path: String, epoch: Long, k: Int): Unit =
    Sketch.createStore(TopFreqStore, topFreqSummary(items, k), path, epoch,
      k)

  /** Append one epoch's ≤ k-row summary; fails loud on a missing layout
    * record or a different k.
    * The epoch's partition is rewritten by dynamic overwrite, so an
    * at-least-once re-delivery (foreachBatch replays the same batch id
    * after a failure) replaces its own summary instead of adding a
    * second one that [[mergedHeavyHitters]] would double-count — which
    * would break the never-overcount half of the MG contract. */
  def appendTopFreqStore(items: org.apache.spark.sql.Dataset[String],
                         path: String, epoch: Long, k: Int): Unit =
    Sketch.appendStore(TopFreqStore, topFreqSummary(items, k), path, epoch,
      k)

  /** Merge a store's epochs (all, or the span `epochFilter` keeps) into
    * (item, est_cnt), counters summed per item — ≤ k rows per epoch in,
    * ≤ k·epochs groups out, never the vocabulary. est_cnt ≤ true count,
    * true − est ≤ Σ per-epoch decrement budgets ≤ n/(k+1) over the
    * span's n rows. */
  def mergedHeavyHitters(spark: org.apache.spark.sql.SparkSession,
                         path: String,
                         epochFilter: Column = lit(true)): DataFrame =
    Sketch.mergedStore(spark, path, TopFreqStore, epochFilter)._2
      .withColumnRenamed("cnt", "est_cnt")

  /** Bounded size probe: "does `df` have at most `bound` rows?" via
    * limit(bound + 1).count() — short-circuits after pulling bound + 1
    * rows instead of running a complete count() pass, so a cutover
    * decision costs O(bound) rows even when the probed relation is
    * corpus-sized — a full count() there was a complete pass over a
    * 100 TB-scale edge relation purely to learn "is it small?" (r16
    * VERDICT item). [[smallSide]] is its one caller. OperatorSpec pins
    * the short-circuit with an accumulator-instrumented scan. The
    * short-circuit holds for an unpersisted frame only: on a persisted
    * one, every partition the probe touches is computed and cached whole. */
  def atMostRows(df: DataFrame, bound: Long): Boolean = {
    require(bound >= 0L, s"bound must be non-negative: $bound")
    // limit() takes an Int: past Int.MaxValue the short-circuit cannot
    // be expressed, and clamping would silently answer true for any
    // larger relation (the r17 review catch) — fall back to the exact
    // count. A caller probing "may I collect 2^31 rows onto the
    // driver?" has bigger problems than the probe's cost.
    if (bound >= Int.MaxValue.toLong) df.count() <= bound
    else df.limit(bound.toInt + 1).count() <= bound
  }

  /** A family of small-input switches: devices that take a cheaper plan
    * when their input has at most the family's bound of rows. The bound
    * is a row count, not a core count: it does not change between
    * local[8]/local[32]/a cluster. Each family's bound is the session key
    * `spark.graft.<family>.cutoverRows`, else its default. */
  sealed abstract class Cutover(family: String, val default: Long) {
    val key: String = s"spark.graft.$family.cutoverRows"
    def bound(spark: SparkSession): Long =
      spark.conf.get(key, default.toString).toLong
  }

  object Cutover {
    /** [[graft.ops.Graph.stronglyConnectedComponents]] and
      * [[graft.ops.Graph.sccCondensation]] (normalized edges) and
      * [[graft.llm.Dedup.connectedComponents]] (symmetrized edges): at
      * most 2^18 edges are collected and solved on the driver. */
    case object Graph extends Cutover("graph", 1L << 18)
    /** [[graft.llm.Similarity.embeddingNearDupPairsCertified]]: at most
      * 3,999 vectors run the exact all-pairs scan instead of IVF. */
    case object NearDup extends Cutover("nearDup", 3999L)
  }

  /** The one cutover rule: the small side runs only when `bound` > 0 and
    * the measured relation has at most `bound` rows, asked of the probed
    * relation through [[atMostRows]], where each probed row stands for
    * `perRow` measured ones (a directed edge is two symmetrized edges).
    * A bound of 0 or less never probes: `probed` is by name, so it is not
    * even built then, and every input takes the at-scale side. */
  def smallSide(probed: => DataFrame, bound: Long, perRow: Long = 1L)
  : Boolean =
    underBound(bound, perRow)(atMostRows(probed, _))

  /** [[smallSide]] for a relation whose `rows` a job that ran anyway has
    * already counted (an observed metric): the same rule, no probe. */
  def smallSide(rows: Long, bound: Long, perRow: Long): Boolean =
    underBound(bound, perRow)(rows <= _)

  private def underBound(bound: Long, perRow: Long)(fits: Long => Boolean)
  : Boolean =
    bound > 0L && fits(bound / perRow)

  /** Range-partition `input` on `keys` and sort each partition on them,
    * persisted (scope-tracked): the rank devices' one data exchange.
    * Partition p holds the p-th contiguous key range, so the partition
    * index and then the position within the partition are the global key
    * order — the [[graft.functions.RangeCarry]] pass relies on that. The
    * persist makes the summary job and the carry pass read the same rows;
    * `input` itself is read twice, by the range partitioner's sample pass
    * and by the exchange, as Spark's own `orderBy` reads it. */
  private def rangeSorted(input: DataFrame, keys: Seq[String]): DataFrame = {
    val k = keys.map(col)
    graft.core.CacheScope.track(input
      .repartitionByRange(k: _*)
      .sortWithinPartitions(k: _*)
      .persist())
  }

  /** One narrow job over `df`'s partitions: `f` folds a partition's rows
    * (reused `InternalRow`s — copy what outlives the call) into one
    * summary. The result is in partition order. */
  private def perPartition[T: scala.reflect.ClassTag](df: DataFrame)
      (f: Iterator[InternalRow] => T): Array[T] =
    df.queryExecution.toRdd.mapPartitions(it => Iterator.single(f(it)))
      .collect()

  /** Scale-correct global running sum of an integral column ordered by a
    * unique key. The naive `sum.over(Window.orderBy(key))` funnels the whole
    * dataset through ONE window task (its Exchange is SinglePartition); this
    * is the classic two-phase prefix sum instead: range-partition on the key
    * and sort within the partitions (contiguous, ordered ranges — the one
    * data exchange), one narrow job that folds each partition into its
    * total and whether it holds a non-NULL value, the exclusive prefix of
    * those O(partitions) pairs on the driver, then one narrow pass that
    * carries the running sum through each partition from its start
    * ([[graft.functions.RangeCarry.runningSum]]). Nothing data-sized is
    * exchanged, sorted, windowed or joined after the range partitioning.
    * Integer addition is order-independent, so the result is exact and
    * deterministic for a unique key regardless of where the range
    * boundaries land. NULL values follow SUM's window semantics across
    * partitions: NULL until the first non-NULL value of the whole order,
    * the running total after — an all-NULL partition or a NULL head of a
    * later partition carries the total before it. The result has the
    * input's columns in order with `outCol` last (or in place, if the
    * input has it).
    *
    * Cache note: the partitioned frame backs the returned plan — released
    * by the caller's CacheScope after its action (or clearCache outside).
    * The pass is valid only over that cached layout: its starts index the
    * cached partitions (a pass over more partitions than the summary saw
    * fails loud).
    */
  def globalCumSum(df: DataFrame, orderCol: String, valueCol: String,
                   outCol: String = "cum"): DataFrame =
    globalCumSumOrdered(df, Seq(orderCol), valueCol, outCol)

  /** [[globalCumSum]] over a composite order key (e.g. (draw, id) for a
    * deterministic corpus shuffle: the draw orders, the unique id breaks
    * ties). Same two-phase layout; determinism needs the composite key to
    * be unique. */
  def globalCumSumOrdered(df: DataFrame, orderCols: Seq[String],
                          valueCol: String,
                          outCol: String = "cum")
  : DataFrame = {
    val value = col(valueCol).cast("long")
    val parts = rangeSorted(df, orderCols)
    // per range partition: (total, holds a non-NULL value)
    val totals = perPartition(parts.select(value)) { rows =>
      var t = 0L
      var any = false
      rows.foreach { r =>
        if (!r.isNullAt(0)) { t += r.getLong(0); any = true }
      }
      (t, any)
    }
    val starts = totals.scanLeft(0L)(_ + _._1).init
    val seenBefore = totals.scanLeft(false)(_ || _._2).init
    parts.withColumn(outCol,
      graft.functions.RangeCarry.runningSum(value, starts, seenBefore))
  }

  /** Per-group rank under a total order — the grouped twin of
    * [[globalCumSumOrdered]], for "rank within stratum" layouts whose
    * strata can individually dwarf an executor (a per-language rank over a
    * 100 TB lake: `row_number over (partition by lang order by ...)` puts
    * ALL of `en` through one task). Range-partition on (group ++ order)
    * keys and sort within the partitions (the one data exchange), so each
    * partition holds contiguous runs of at most a few groups and only its
    * FIRST group can continue from earlier partitions. One narrow job
    * folds each partition into its row count and its first and last group
    * key with the length of each of those runs — O(partitions) rows on the
    * driver, whatever the number of groups. The driver walks them in
    * partition order to get each partition's start: how many rows of its
    * first group sit in earlier partitions (a group may span many). One
    * narrow pass then numbers the rows through each partition from that
    * start, restarting at 1 on every new group
    * ([[graft.functions.RangeCarry.rowNumber]]). Group keys compare as
    * whole values under the sort's own ordering — NULL groups and values
    * containing any delimiter rank correctly, with no string-encoded
    * composite key. Deterministic when (group ++ order) is unique.
    */
  def groupedRankOrdered(df: DataFrame, groupCols: Seq[String],
                         orderCols: Seq[String],
                         outCol: String = "rank")
  : DataFrame = {
    import org.apache.spark.sql.catalyst.expressions.RowOrdering
    val parts = rangeSorted(df, groupCols ++ orderCols)
    val keys = parts.select(groupCols.map(col): _*)
    val keyTypes = keys.schema.map(_.dataType)
    // per range partition: (rows, first key, its run length, last key,
    // its run length); the keys of an empty partition are null
    val runs = perPartition(keys) { rows =>
      val ord = RowOrdering.createNaturalAscendingOrdering(keyTypes)
      var n = 0L
      var first: InternalRow = null
      var firstLen = 0L
      var cur: InternalRow = null
      var curLen = 0L
      rows.foreach { r =>
        if (cur != null && ord.compare(r, cur) == 0) curLen += 1
        else {
          if (cur != null && first == null) { first = cur; firstLen = curLen }
          cur = r.copy()
          curLen = 1
        }
        n += 1
      }
      if (first == null) { first = cur; firstLen = curLen }
      (n, first, firstLen, cur, curLen)
    }
    val ord = RowOrdering.createNaturalAscendingOrdering(keyTypes)
    var carryKey: InternalRow = null
    var carry = 0L
    val starts = runs.map { case (n, first, firstLen, last, lastLen) =>
      if (n == 0L) 0L
      else {
        val start =
          if (carryKey != null && ord.compare(first, carryKey) == 0) carry
          else 0L
        if (firstLen == n) { carryKey = first; carry = start + n }
        else { carryKey = last; carry = lastLen }
        start
      }
    }
    parts.withColumn(outCol, graft.functions.RangeCarry.rowNumber(
      struct(groupCols.map(col): _*), starts))
  }

  /** Z-order (Morton) interleave of two non-negative integer columns,
    * `bits` bits each — the multi-dimension data-skipping sort key: rows
    * sorted (and range-partitioned into files) by this key cluster
    * locality in BOTH dimensions at once, so min/max file statistics
    * prune selective predicates on EITHER column, where a plain
    * lexicographic (x, y) sort key skips only on x. This is the layout
    * move behind every "Z-ORDER BY" table optimizer; here it is a pure
    * codegen'd integer expression (shift-free: division and modulo by
    * powers of two, exact in any engine), so the key costs one projection
    * at write time and composes with `repartitionByRange(zkey)` +
    * per-file sort for the actual 100 TB layout write. Inputs are clamped
    * to the `bits`-bit range (a value past the grid lands in the last
    * cell, never corrupts the interleave). Bit extraction is
    * `shiftright` + modulo — genuinely integer end to end, exact on the
    * full long domain rather than only on the clamped one (Column.divide
    * is double division in Spark; it was exact here only because the
    * clamp kept inputs under 2^53).
    */
  def zOrderKey(x: Column, y: Column, bits: Int = 8): Column = {
    require(bits >= 1 && bits <= 31, s"bits must be in [1, 31]: $bits")
    val max = (1L << bits) - 1
    val cx = least(greatest(x.cast("long"), lit(0L)), lit(max))
    val cy = least(greatest(y.cast("long"), lit(0L)), lit(max))
    (0 until bits).map { b =>
      (shiftright(cx, b) % 2L) * lit(1L << (2 * b)) +
        (shiftright(cy, b) % 2L) * lit(1L << (2 * b + 1))
    }.reduce(_ + _)
  }
}
