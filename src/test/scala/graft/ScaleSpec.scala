package graft

import org.apache.spark.sql.functions._

import graft.core.Tables
import graft.llm.{Dedup, Similarity}
import graft.ops.Scale
import graft.ops.Scale.Cutover

/** Scale-technique tests: the rank devices against a plain window,
  * bounded top-K aggregators vs collect_list+sort, pair caps, and the
  * graph and near-dup cutover boundaries.
  */
class ScaleSpec extends SparkSpecBase {
  import spark.implicits._

  test("two-phase global cumsum equals the single-window form") {
    import org.apache.spark.sql.expressions.Window
    val docs = Tables.documents(spark, sfDir)
      .select(col("doc_id"), col("n_chars"))
    val naive = docs
      .withColumn("cum", sum(col("n_chars")).over(
        Window.orderBy("doc_id")
          .rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .select("doc_id", "cum").as[(Long, Long)].collect().toMap
    val twoPhase = Scale.globalCumSum(docs, "doc_id", "n_chars")
      .select("doc_id", "cum").as[(Long, Long)].collect().toMap
    assert(twoPhase == naive)
    spark.sqlContext.clearCache()
  }

  test("composite-key global cumsum equals the single-window form on a " +
    "(draw, id) order with duplicate draws") {
    import org.apache.spark.sql.expressions.Window
    val rows = Tables.documents(spark, sfDir)
      .select(col("doc_id"), pmod(col("doc_id"), lit(7)).as("draw"),
        col("n_chars"))
    val naive = rows
      .withColumn("cum", sum(col("n_chars")).over(
        Window.orderBy("draw", "doc_id")
          .rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .select("doc_id", "cum").as[(Long, Long)].collect().toMap
    val scaled = Scale.globalCumSumOrdered(rows, Seq("draw", "doc_id"),
        "n_chars")
      .select("doc_id", "cum").as[(Long, Long)].collect().toMap
    assert(scaled == naive)
    spark.sqlContext.clearCache()
  }

  test("global cumsum on empty input returns empty; CC fails loud when " +
    "round budget is too small for the diameter") {
    val empty = Seq.empty[(Long, Long)].toDF("doc_id", "n_chars")
    assert(Scale.globalCumSum(empty, "doc_id", "n_chars").count() == 0)
    spark.sqlContext.clearCache()
    // empty vertex set: the label sum is SQL NULL — must converge, not
    // NPE — on both sides of the graph cutover
    val noVerts = Seq.empty[Long].toDF("id")
    val noPairs = Seq.empty[(Long, Long)].toDF("id_a", "id_b")
    assert(Dedup.connectedComponents(noVerts, noPairs).count() == 0)
    assert(withCutover(Cutover.Graph)(
      Dedup.connectedComponents(noVerts, noPairs)).count() == 0)
    // chain 1-2-3-4 needs 3 propagation rounds; 1 round must throw, not
    // silently return half-merged labels. A graph bound of 0 forces the
    // DISTRIBUTED fixpoint — the default driver union-find cutover has
    // no rounds to run out of (and that path's correctness is pinned in
    // LlmOpsSpec against this very fixpoint)
    val verts = Seq(1L, 2L, 3L, 4L).toDF("id")
    val chain = Seq((1L, 2L), (2L, 3L), (3L, 4L)).toDF("id_a", "id_b")
    intercept[IllegalArgumentException] {
      withCutover(Cutover.Graph)(
        Dedup.connectedComponents(verts, chain, maxIters = 1)).collect()
    }
  }

  test("Misra-Gries heavy hitters: dominant tokens survive the bounded " +
    "summary and the undercount respects the n/(k+1) bound") {
    import graft.llm.TextAnalysis
    val docs = Tables.documents(spark, sfDir)
    val tokens = docs.select(explode(TextAnalysis.tokens(col("text")))
      .as("tok")).as[String]
    val n = tokens.count()
    val k = 32
    val sketch = tokens.groupByKey(_ => 0)
      .agg(Scale.topFreqColumn(k).name("top")).collect().head._2
    assert(sketch.size <= k)
    val exact = tokens.groupBy("tok").count()
      .as[(String, Long)].collect().toMap
    // every item above the MG threshold must be present
    val threshold = n / (k + 1)
    val mustSurvive = exact.filter(_._2 > threshold).keySet
    assert(mustSurvive.nonEmpty, "corpus should have heavy tokens")
    assert(mustSurvive.subsetOf(sketch.keySet),
      s"missing heavy hitters: ${mustSurvive -- sketch.keySet}")
    // reported counts never exceed the truth and undercount by <= threshold
    sketch.foreach { case (tok, c) =>
      assert(c <= exact(tok))
      assert(exact(tok) - c <= threshold,
        s"$tok undercounted by ${exact(tok) - c} > $threshold")
    }
  }

  test("TopFreqAgg buffer never exceeds k through reduce and merge, and " +
    "heavyHittersExact returns the exact top-N") {
    val agg = new Scale.TopFreqAgg(8)
    var buf = agg.zero
    (1 to 500).foreach { i =>
      buf = agg.reduce(buf, s"tok${i % 40}")
      assert(buf.size <= 8, s"buffer grew to ${buf.size}")
    }
    var other = agg.zero
    (1 to 500).foreach { i => other = agg.reduce(other, s"x${i % 40}") }
    assert(agg.merge(buf, other).size <= 8)
    // two-pass exact heavy hitters vs plain groupBy on the corpus tokens
    import graft.llm.TextAnalysis
    val tokens = Tables.documents(spark, sfDir)
      .select(explode(TextAnalysis.tokens(col("text"))).as("tok")).as[String]
    val got = Scale.heavyHittersExact(tokens, sketchK = 32, topN = 10)
      .as[(String, Long)].collect().toSeq
    val want = tokens.groupBy("tok").count().as[(String, Long)].collect()
      .sortBy { case (t, c) => (-c, t) }.take(10).toSeq
    assert(got == want, s"got $got\nwant $want")
  }

  test("heavyHittersExact semi-join path (survivors > 128) is still exact") {
    // sketchK >= cardinality → the sketch never decrements and every item
    // survives pass 1; 200 survivors forces the broadcast semi-join branch
    // instead of the isin literal list
    val items = (1 to 200).flatMap(i => Seq.fill(i % 7 + 1)(f"item$i%03d"))
    val ds = spark.createDataset(rnd42Shuffle(items))
    val got = Scale.heavyHittersExact(ds, sketchK = 256, topN = 15)
      .as[(String, Long)].collect().toSeq
    val want = items.groupBy(identity).map { case (t, xs) => (t, xs.size.toLong) }
      .toSeq.sortBy { case (t, c) => (-c, t) }.take(15)
    assert(got == want, s"got $got\nwant $want")
  }

  private def rnd42Shuffle[T](xs: Seq[T]): Seq[T] =
    new scala.util.Random(42).shuffle(xs)

  test("bounded top-K aggregator matches collect_list + sort + slice") {
    val scores = Seq(
      ("a", 3.0, "x"), ("a", 5.0, "y"), ("a", 4.0, "z"), ("a", 5.0, "w"),
      ("b", 1.0, "q")).toDF("key", "score", "payload")
    val viaAgg = scores.as[(String, Double, String)]
      .groupByKey(_._1)
      .mapValues(r => (r._2, r._3))
      .agg(new Scale.TopKPayloadAgg[String](2).toColumn.name("top"))
      .collect().toMap
    // expected: desc score, asc payload tie-break, capped at 2
    assert(viaAgg("a") == Seq("w", "y"))
    assert(viaAgg("b") == Seq("q"))
  }

  test("bounded-insertion TopKPayloadAgg equals sort-and-take on a " +
    "seeded 400-row group (duplicate scores, multi-partition merge path)") {
    val rnd = new scala.util.Random(42)
    val rows = (1 to 400).map(i =>
      ("g", rnd.nextInt(50).toDouble, f"p$i%03d"))
    val expected = rows.map(r => (r._2, r._3))
      .sortWith((a, b) => a._1 > b._1 || (a._1 == b._1 && a._2 < b._2))
      .take(7).map(_._2)
    val got = rows.toDF("key", "score", "payload")
      .repartition(8) // exercises merge() across partial buffers
      .as[(String, Double, String)]
      .groupByKey(_._1)
      .mapValues(r => (r._2, r._3))
      .agg(new Scale.TopKPayloadAgg[String](7).toColumn.name("top"))
      .collect().toMap
    assert(got("g") == expected)
  }

  test("TopKLongAgg: buffer never exceeds k through reduce and merge; " +
    "distributed result equals sort-and-take (the q68/q72 refine rank)") {
    val agg = new Scale.TopKLongAgg(7)
    val rnd = new scala.util.Random(7)
    var buf = agg.zero
    val rows = (1 to 400).map(i => (rnd.nextInt(50).toDouble, i.toLong))
    // the O(1) reject and the binary search index the buffer: a List
    // buffer would make each of them a walk
    def indexed(b: Any): Boolean = b.isInstanceOf[IndexedSeq[_]]
    assert(indexed(buf), s"zero is a ${buf.getClass.getName}")
    rows.foreach { r =>
      buf = agg.reduce(buf, r)
      assert(buf.length <= 7, s"buffer grew to ${buf.length}")
      assert(indexed(buf), s"reduce returned a ${buf.getClass.getName}")
    }
    var other = agg.zero
    rows.reverse.foreach { r => other = agg.reduce(other, r) }
    val merged = agg.merge(buf, other)
    assert(merged.length <= 7)
    assert(indexed(merged), s"merge returned a ${merged.getClass.getName}")
    // multi-partition distributed path vs driver-side sort-and-take
    val expected = rows
      .sortWith((a, b) => a._1 > b._1 || (a._1 == b._1 && a._2 < b._2))
      .take(7).map(_._2)
    val got = rows.map { case (s, p) => (1L, s, p) }
      .toDF("key", "score", "payload")
      .repartition(8) // exercises merge() across partial buffers
      .as[(Long, Double, Long)]
      .groupByKey(_._1)
      .mapValues(r => (r._2, r._3))
      .agg(Scale.topKLongColumn(7).name("top"))
      .collect().toMap
    assert(got(1L) == expected)
  }

  test("TopKLongAgg distinctPayloads: exact duplicates occupy one slot — " +
    "equals distinct-then-sort-take (the q72 multi-table ADC shape)") {
    val rnd = new scala.util.Random(13)
    val base = (1 to 150).map(i => (rnd.nextInt(25).toDouble, i.toLong))
    // every row duplicated 1-3× (tables colliding), shuffled across parts
    val rows = rnd.shuffle(base.flatMap(r => Seq.fill(1 + rnd.nextInt(3))(r)))
    val expected = base.distinct
      .sortWith((a, b) => a._1 > b._1 || (a._1 == b._1 && a._2 < b._2))
      .take(10).map(_._2)
    val got = rows.map { case (s, p) => (1L, s, p) }
      .toDF("key", "score", "payload")
      .repartition(8)
      .as[(Long, Double, Long)]
      .groupByKey(_._1)
      .mapValues(r => (r._2, r._3))
      .agg(Scale.topKLongColumn(10, distinctPayloads = true).name("top"))
      .collect().toMap
    assert(got(1L) == expected)
    // buffer stays duplicate-free and bounded through reduce and merge
    val agg = new Scale.TopKLongAgg(10, distinctPayloads = true)
    var buf = agg.zero
    rows.foreach { r =>
      buf = agg.reduce(buf, r)
      assert(buf.length <= 10 && buf.distinct.length == buf.length)
    }
    var other = agg.zero
    rows.reverse.foreach { r => other = agg.reduce(other, r) }
    val m = agg.merge(buf, other)
    assert(m.length <= 10 && m.distinct.length == m.length)
  }

  test("pair-cap guards: identical under the cap, bounded on a hot key") {
    import java.sql.Timestamp
    import graft.jobs.{BoardStats, ItemCf}
    // small groups (3 events/user) — a cap of 10 must change nothing
    val small = (1 to 5).flatMap(u => (1 to 3).map(i =>
      (u.toLong, i.toLong * u, new Timestamp(i * 60000L))))
      .toDF("user_id", "item", "ts")
    def decay(cap: Int) = ItemCf.cooccurrenceDecay(small, n = 2,
        maxPerUser = cap)
      .select(col("a"), col("b"), round(col("together_count"), 9))
      .as[(Long, Long, Double)].collect().toSet
    assert(decay(10) == decay(0))
    // a planted hot user with 60 events: cap 10 bounds the pair fan-out
    val hot = (1 to 60).map(i => (99L, i.toLong, new Timestamp(i * 60000L)))
      .toDF("user_id", "item", "ts")
    val uncapped = ItemCf.positionalPairs(hot, n = 2).count()
    val capped = ItemCf.positionalPairs(hot, n = 2, maxPerUser = 10).count()
    assert(uncapped == 60L * 59 / 2 && capped == 10L * 9 / 2,
      s"uncapped=$uncapped capped=$capped")
    // and the cap keeps the MOST RECENT events (positions re-rank 1..N)
    val kept = ItemCf.positionalPairs(hot, n = 2, maxPerUser = 10)
      .select("a").distinct().as[Long].collect().toSet
    assert(kept == (51L to 59L).toSet, s"kept=$kept") // 60 is only ever 'b'

    val boards = (1 to 4).flatMap(b => (1 to 3).map(i =>
      (s"i$i$b", s"b$b"))).toDF("item", "board")
    def bw(cap: Int) = BoardStats.pairWeights(boards, maxPerBoard = cap)
      .as[(String, String, Long)].collect().toSet
    assert(bw(10) == bw(0))
    val hotBoard = (1 to 50).map(i => (f"i$i%03d", "hb")).toDF("item", "board")
    assert(BoardStats.pairWeights(hotBoard).count() == 50L * 49)
    assert(BoardStats.pairWeights(hotBoard, maxPerBoard = 10).count() == 10L * 9)
  }

  test("q42 IVF candidate volume is bounded at sf0.01 — < 0.3 · C(n,2), " +
    "the property the hyperplane path lost at low τ") {
    val emb = Tables.embeddings(spark, "/root/testdata/sf0.01")
    val n = emb.count()
    val totalPairs = n * (n - 1) / 2
    val cents = Similarity.trainIvfCentroids(emb, k = 64, tables = 12)
    val cand = Similarity.ivfCandidatePairs(emb, cents, probes = 1).count()
    assert(cand < 0.3 * totalPairs,
      s"IVF candidates $cand ≥ 0.3 × $totalPairs — bucketing stopped pruning")
  }

  test("two-phase source cap equals the single-window form on the uniform " +
    "corpus, a planted hot domain, and under forced fallback") {
    import graft.core.CacheScope
    import graft.llm.TextAnalysis
    def canon(df: org.apache.spark.sql.DataFrame) =
      df.select("doc_id", "source", "draw", "src_rank")
        .as[(Long, String, Long, Long)].collect().toSet
    val docsT = Tables.documents(spark, sfDir)
    // (a) the gate corpus (uniform source sizes)
    CacheScope.scoped {
      assert(canon(TextAnalysis.sourceCapTwoPhase(docsT, cap = 10)) ==
        canon(TextAnalysis.sourceCap(docsT, cap = 10)))
    }
    // (b) planted hot domain: one source 100× the others — the case the
    // single window serializes on and the pre-filter bounds
    val hot = (
      (1 to 4000).map(i => (i.toLong, "hot")) ++
      (4001 to 4040).map(i => (i.toLong, "tail_a")) ++
      (4041 to 4075).map(i => (i.toLong, "tail_b"))
    ).map { case (id, src) =>
      (id, src, s"$src document body $id " + s"filler${id % 97} end")
    }.toDF("doc_id", "source", "text")
    val exact = CacheScope.scoped {
      canon(TextAnalysis.sourceCap(hot, cap = 10))
    }
    CacheScope.scoped {
      assert(canon(TextAnalysis.sourceCapTwoPhase(hot, cap = 10)) == exact)
    }
    // the ranking window consumes the PRE-FILTERED relation: the threshold
    // filter must sit in the plan (the hot stratum enters the window
    // ~2·cap rows strong, not 4000)
    CacheScope.scoped {
      val p = TextAnalysis.sourceCapTwoPhase(hot, cap = 10)
        .queryExecution.executedPlan.toString
      assert(p.contains("__t"),
        s"pre-filter threshold must gate the window input:\n$p")
      assert(p.contains("Window"), p)
    }
    // (c) a pathologically small overSample starves every stratum's
    // pre-filter → the in-plan fallback must engage and stay exact
    CacheScope.scoped {
      assert(canon(TextAnalysis.sourceCapTwoPhase(hot, cap = 10,
        overSample = 1e-5)) == exact)
    }
  }

  test("grouped two-phase rank equals the partitioned window, across " +
    "range-partition boundaries and multi-column groups") {
    import org.apache.spark.sql.expressions.Window
    val rnd = new scala.util.Random(7)
    // enough rows per group that groups straddle the 4 range partitions
    val rows = (1 to 2000).map { i =>
      (i.toLong, s"g${rnd.nextInt(3)}", s"h${rnd.nextInt(2)}",
        rnd.nextInt(50).toLong)
    }
    val df = rows.toDF("id", "ga", "gb", "v")
    val twoPhase = graft.core.CacheScope.scoped {
      Scale.groupedRankOrdered(df, Seq("ga", "gb"), Seq("v", "id"), "r")
        .select("id", "r").as[(Long, Long)].collect().toMap
    }
    val w = Window.partitionBy("ga", "gb").orderBy(col("v"), col("id"))
    val viaWindow = df.withColumn("r", row_number().over(w).cast("long"))
      .select("id", "r").as[(Long, Long)].collect().toMap
    assert(twoPhase == viaWindow)
    // single group degenerates to the global rank
    val one = graft.core.CacheScope.scoped {
      Scale.groupedRankOrdered(df.withColumn("ga", lit("x")),
          Seq("ga"), Seq("v", "id"), "r")
        .select("id", "r").as[(Long, Long)].collect().toMap
    }
    val wg = Window.orderBy(col("v"), col("id"))
    val globalR = df.withColumn("r", row_number().over(wg).cast("long"))
      .select("id", "r").as[(Long, Long)].collect().toMap
    assert(one == globalR)
  }

  test("grouped two-phase rank keeps NULL-group rows and delimiter-laden " +
    "group values (no string-encoded composite key)") {
    import org.apache.spark.sql.expressions.Window
    val rnd = new scala.util.Random(11)
    // group values: NULL, a value containing the u0001 delimiter the
    // old string key used, and a pair a naive concat would collide
    // ("ab"+"c" vs "a"+"bc")
    val gs = Seq(null, "ab", "a", "x\u0001y")
    val hs = Seq("c", "b\u0001c", null)
    val rows = (1 to 1200).map { i =>
      (i.toLong, gs(rnd.nextInt(gs.length)), hs(rnd.nextInt(hs.length)),
        rnd.nextInt(40).toLong)
    }
    val df = rows.toDF("id", "ga", "gb", "v")
    val twoPhase = graft.core.CacheScope.scoped {
      Scale.groupedRankOrdered(df, Seq("ga", "gb"), Seq("v", "id"), "r")
        .select("id", "r").as[(Long, Long)].collect().toMap
    }
    assert(twoPhase.size == rows.size, "no rows may vanish")
    val w = Window.partitionBy("ga", "gb").orderBy(col("v"), col("id"))
    val viaWindow = df.withColumn("r", row_number().over(w).cast("long"))
      .select("id", "r").as[(Long, Long)].collect().toMap
    assert(twoPhase == viaWindow)
  }

  /** The at-scale devices' layout of `df`: the rows of each range
    * partition of `keys` (the test session has 4 shuffle partitions).
    * The range-sorted frame is persisted and its input is not, like the
    * devices' frame: a cached plan keeps its range partitions, where AQE
    * would coalesce these small ones into one. */
  private def rangeLayout(df: org.apache.spark.sql.DataFrame,
                          keys: Seq[String]): Seq[Seq[org.apache.spark.sql.Row]] =
    graft.core.CacheScope.scoped {
      graft.core.CacheScope.track(df.repartitionByRange(keys.map(col): _*)
          .sortWithinPartitions(keys.map(col): _*).persist()).rdd
        .mapPartitions(it => Iterator.single(it.toSeq)).collect().toSeq
    }

  test("at-scale global cumsum equals the bounded window row for row when " +
    "NULL values fill a range partition or head a later one") {
    import org.apache.spark.sql.expressions.Window
    val rnd = new scala.util.Random(5)
    // 1000 ids range-partition into 4 ranges of about 250. Shape (a) is
    // NULL below 3 and on [150, 600): the second range is all NULL and
    // the third opens with NULLs. (b) is NULL on [450, 560): the third
    // range opens with NULLs after earlier values, no range is all NULL.
    // (c) is NULL below 600: no value is seen before the third range.
    def shape(nullIf: Int => Boolean) = (0 until 1000).map { i =>
      (i.toLong,
        if (nullIf(i)) None else Some(rnd.nextInt(100).toLong - 20L))
    }.toDF("id", "v")
    val a = shape(i => i < 3 || (i >= 150 && i < 600))
    val b = shape(i => i >= 450 && i < 560)
    val c = shape(_ < 600)
    val ranges = rangeLayout(a, Seq("id"))
      .filter(_.nonEmpty).map(r => (r.head.getLong(0), r.last.getLong(0)))
    assert(ranges.size >= 3 &&
      ranges.exists { case (lo, hi) => lo >= 150 && hi < 600 } &&
      ranges.exists { case (lo, _) => lo > 450 && lo < 560 },
      s"the shapes need an all-NULL range and a NULL-headed one: $ranges")
    for ((df, name) <- Seq(a -> "a", b -> "b", c -> "c")) {
      // the reference: one running `sum` window, ROWS BETWEEN UNBOUNDED
      // PRECEDING AND CURRENT ROW, over the whole order
      val bounded = df.withColumn("cum", sum(col("v")).over(Window.orderBy("id")
          .rowsBetween(Window.unboundedPreceding, Window.currentRow)))
        .select("id", "cum").as[(Long, Option[Long])].collect().toMap
      val atScale = graft.core.CacheScope.scoped {
        Scale.globalCumSum(df, "id", "v")
          .select("id", "cum").as[(Long, Option[Long])].collect().toMap
      }
      assert(atScale.size == 1000 && bounded.size == 1000)
      val diff = bounded.toSeq.sorted.filter { case (id, c) => atScale(id) != c }
      assert(diff.isEmpty, s"shape $name: (id, bounded) where at-scale " +
        s"differs: ${diff.take(8).map { case (id, c) => (id, c, atScale(id)) }}")
    }
  }

  test("at-scale grouped rank equals the bounded window on partition-" +
    "boundary shapes: a group over three ranges, one-row groups, a NULL " +
    "group and an empty range") {
    import org.apache.spark.sql.expressions.Window
    val rnd = new scala.util.Random(13)
    // rows in key order: 60 NULL-group rows, 660 rows of group "m" (over
    // the first three of the 4 ranges), 36 one-row groups, then 444
    // copies of the largest key ("z", 0): the range partitioner's last
    // bound lands on that key, so the last range holds no row. The copies
    // tie, so ranks compare as the multiset of (group, v, rank).
    val vs = rnd.shuffle((1 to 2000).toVector)
    val rows = (0 until 60).map(i => (null: String, vs(i).toLong)) ++
      (60 until 720).map(i => ("m", vs(i).toLong)) ++
      (720 until 756).map(i => (f"s$i%04d", vs(i).toLong)) ++
      Seq.fill(444)(("z", 0L))
    val df = rnd.shuffle(rows).toDF("g", "v")
    val layout = rangeLayout(df, Seq("g", "v"))
    val mRanges = layout.count(_.exists(r => r.getString(0) == "m"))
    assert(mRanges >= 3 && layout.exists(_.isEmpty),
      s"need group m over >= 3 ranges and an empty range: " +
        layout.map(_.size))
    // the reference: one `row_number` window partitioned by the group
    def ranks(ranked: org.apache.spark.sql.DataFrame) =
      ranked.select("g", "v", "r").as[(Option[String], Long, Long)].collect()
        .toSeq.sorted
    val bounded = ranks(df.withColumn("r", row_number()
      .over(Window.partitionBy("g").orderBy("v")).cast("long")))
    val atScale = graft.core.CacheScope.scoped {
      ranks(Scale.groupedRankOrdered(df, Seq("g"), Seq("v"), "r"))
    }
    assert(atScale.size == rows.size)
    assert(atScale == bounded,
      s"first differences: ${atScale.zip(bounded).filter(p => p._1 != p._2).take(8)}")
    assert(atScale.filter(_._1 == Some("z")).map(_._3) == (1L to 444L))
  }

  test("the rank devices read their upstream twice, the range sample " +
    "pass and the exchange (globalCumSum and groupedRankOrdered)") {
    val n = 5000L
    // every upstream row passes this map once per execution of the plan
    def counted(acc: org.apache.spark.util.LongAccumulator) =
      spark.range(n).map { x => acc.add(1); x }.toDF("id")
        .select(col("id"), (col("id") % 3).as("g"), (col("id") % 11).as("v"))
    // the input is not cached: the range partitioner samples every row
    // once, the exchange reads them once more, and the summary job and
    // the carry pass both read the range-sorted cache
    val accSum = spark.sparkContext.longAccumulator("cumsum-upstream")
    val cum = graft.core.CacheScope.scoped {
      Scale.globalCumSum(counted(accSum), "id", "v")
        .select("id", "cum").as[(Long, Long)].collect()
    }
    assert(cum.length == n)
    assert(cum.toMap.apply(n - 1) == (0L until n).map(_ % 11).sum)
    assert(accSum.value == 2 * n,
      s"globalCumSum ran its upstream ${accSum.value} rows for $n")
    val accRank = spark.sparkContext.longAccumulator("rank-upstream")
    val ranks = graft.core.CacheScope.scoped {
      Scale.groupedRankOrdered(counted(accRank), Seq("g"), Seq("id"), "r")
        .select("id", "r").as[(Long, Long)].collect()
    }
    assert(ranks.length == n)
    assert(ranks.forall { case (id, r) => r == id / 3 + 1 })
    assert(accRank.value == 2 * n,
      s"groupedRankOrdered ran its upstream ${accRank.value} rows for $n")
  }

  test("the rank devices run no probe job and cache one frame, the " +
    "range-sorted one (globalCumSum and groupedRankOrdered)") {
    val n = 3000L
    val input = spark.range(n)
      .select(col("id"), (col("id") % 3).as("g"), (col("id") % 11).as("v"))
    import org.apache.spark.sql.execution.SparkPlan
    import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
    import org.apache.spark.sql.execution.columnar.{InMemoryRelation,
      InMemoryTableScanExec}
    val stages = new AdaptiveSparkPlanHelper {}
    // every cached relation the plan reads, and those their cached plans read
    def cached(p: SparkPlan): Seq[InMemoryRelation] =
      stages.collect(p) { case s: InMemoryTableScanExec => s.relation }
        .flatMap(r => r +: cached(r.cachedPlan))
    def oneRun(device: => org.apache.spark.sql.DataFrame): Unit = {
      val (frames, sites) = jobSites(graft.core.CacheScope.scoped {
        val df = device
        assert(df.collect().length == n)
        cached(df.queryExecution.executedPlan)
      })
      assert(!sites.exists(_.contains("Scale$.atMostRows")),
        s"a rank device ran a probe job:\n${sites.mkString("\n--\n")}")
      assert(frames.size == 1, s"one cached frame, not ${frames.size}:\n" +
        frames.map(_.cachedPlan).mkString("\n--\n"))
      assert(frames.head.cachedPlan.toString.contains("rangepartitioning"),
        s"the cached frame must be the range-sorted one:\n" +
          frames.head.cachedPlan)
    }
    oneRun(Scale.globalCumSum(input, "id", "v"))
    oneRun(Scale.groupedRankOrdered(input, Seq("g"), Seq("id"), "r"))
  }

  /** One family's cutover boundary. `device(n)` runs the family's device
    * on an input of `n` rows of the family's measure and returns the call
    * sites of the jobs it started; `atScaleSite` names a frame only the
    * at-scale side runs. At `bound` rows the small side runs after a
    * probe, at `bound` + 1 the at-scale side runs after a probe, and at a
    * bound of 0 the at-scale side runs with no probe job, also on an
    * empty input. A device whose decision reads a row count
    * that one of its own jobs already observed names its small side's
    * frame as `observedSmallSite`: it must then run no probe job at any
    * bound, and `bound` rows must run that frame. */
  private def cutoverBoundary(family: Cutover, bound: Long, atScaleSite: String,
                              observedSmallSite: Option[String] = None)
                             (device: Long => Seq[String]): Unit = {
    def probes(sites: Seq[String]) = sites.count(_.contains("Scale$.atMostRows"))
    def decided(sites: Seq[String]) =
      if (observedSmallSite.isEmpty) probes(sites) > 0 else probes(sites) == 0
    def atScale(sites: Seq[String]) = sites.exists(_.contains(atScaleSite))
    def small(sites: Seq[String]) = !atScale(sites) &&
      observedSmallSite.forall(s => sites.exists(_.contains(s)))
    val how = if (observedSmallSite.isEmpty) "probe" else "run no probe job"
    val at = withCutover(family, bound)(device(bound))
    assert(decided(at) && small(at),
      s"${family.key}: $bound rows at bound $bound must $how and take " +
        s"the small side:\n${at.mkString("\n--\n")}")
    val past = withCutover(family, bound)(device(bound + 1))
    assert(decided(past) && atScale(past),
      s"${family.key}: ${bound + 1} rows at bound $bound must $how and " +
        s"take the at-scale side:\n${past.mkString("\n--\n")}")
    for (n <- Seq(bound, 0L)) {
      val off = withCutover(family, 0L)(device(n))
      assert(probes(off) == 0 && atScale(off),
        s"${family.key}: $n rows at bound 0 must take the at-scale side " +
          s"with no probe job:\n${off.mkString("\n--\n")}")
    }
  }

  test("graph cutover boundary: bound edges solve on the driver, bound + 1 " +
    "run the distributed fixpoint, bound 0 never probes — also on an " +
    "empty graph (SCC, condensation, connected components)") {
    val bound = 12L
    // a directed ring of n distinct edges: one SCC, rep = n - 1
    def ring(n: Long) =
      spark.range(n).select(col("id").as("src"), ((col("id") + 1) % n).as("dst"))
    cutoverBoundary(Cutover.Graph, bound, "Graph$.sccOfNormalized") { n =>
      val (scc, sites) = jobSites(
        graft.ops.Graph.stronglyConnectedComponents(ring(n))
          .as[(Long, Long)].collect().toMap)
      assert(scc == (0L until n).map(_ -> (n - 1)).toMap)
      sites
    }
    cutoverBoundary(Cutover.Graph, bound, "Graph$.sccOfNormalized") { n =>
      val (cond, sites) = jobSites(
        graft.ops.Graph.sccCondensation(ring(n))
          .as[(Long, Long, Long)].collect().toSeq)
      assert(cond == (if (n == 0) Nil else Seq((n - 1, n, 0L))))
      sites
    }
    // connected components count symmetrized edges: a path of n / 2 pairs
    // is n of them, so the SCC tests' odd bound + 1 becomes a
    // path one pair longer than the bound admits. The edge checkpoint's
    // job counts the pairs, so no bound runs a probe
    cutoverBoundary(Cutover.Graph, bound, "Graph$.neighbourhoodRounds",
        observedSmallSite = Some("Dedup$.componentsOnDriver")) { n =>
      val pairs = (n + 1) / 2
      val verts = spark.range(pairs + 1).toDF("id")
      val path = spark.range(pairs).select(col("id").as("a"), (col("id") + 1).as("b"))
      val (cc, sites) = jobSites(
        Dedup.connectedComponents(verts, path).as[(Long, Long)].collect().toMap)
      assert(cc == (0L to pairs).map(_ -> 0L).toMap)
      sites
    }
  }

  test("near-dup cutover boundary: bound vectors take the exact scan, " +
    "bound + 1 the certified IVF ladder, bound 0 never probes") {
    val bound = 30L
    val rnd = new scala.util.Random(11)
    val vecs = (0L to bound).map(i => (i, Array.fill(8)(rnd.nextFloat() * 2f - 1f)))
    // the empty corpus too: a training sample of fewer than k vectors
    // escalates to the exact scan instead of training k cells
    cutoverBoundary(Cutover.NearDup, bound, "Similarity$.certifiedRung") { n =>
      val emb = vecs.take(n.toInt).toDF("vec_id", "embedding")
      val (pairs, sites) = jobSites(graft.core.CacheScope.scoped {
        Similarity.embeddingNearDupPairsCertified(emb, tau = 0.5, k = 4,
            tables = 2, sampleN = 16)
          .as[(Long, Long, Double)].collect().toSet
      })
      val exact = graft.core.CacheScope.scoped {
        Similarity.embeddingNearDupPairs(emb, tau = 0.5)
          .as[(Long, Long, Double)].collect().toSet
      }
      assert(pairs == exact)
      sites
    }
  }
}
