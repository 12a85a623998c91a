package graft

import org.apache.spark.sql.{Column, DataFrame, Row}
import org.apache.spark.sql.functions._

import graft.core.Tables
import graft.jobs.{Auc, ItemCf, OfflineMetrics}
import graft.ops.Ranking
import graft.ops.Scale.Cutover

/** Operator-level golden tests. The decay test re-derives the reference's
  * increment-emission weights with a direct in-memory reimplementation of
  * the `ItemIdCfVersion5.java:147-192` loop semantics and compares against
  * the window-expression version.
  */
class OperatorSpec extends SparkSpecBase {
  import spark.implicits._

  test("cooccurrenceDecay matches a direct reimplementation of the reference loop") {
    val n = 2
    val inter = ItemCf.interactions(Tables.events(spark, sfDir))
    val rows = inter.as[(Long, Long, java.sql.Timestamp)].collect()
    // reference semantics: per user, items time-sorted (tie: item); for
    // i<j pairs score by positional distance; per oriented key, emit on
    // strictly-increasing running max, both directions; sum emissions.
    val expected = scala.collection.mutable.Map[(Long, Long), Double]()
    rows.groupBy(_._1).foreach { case (_, rs) =>
      val items = rs.sortBy(r => (r._3.getTime, r._2)).map(_._2)
      val runMax = scala.collection.mutable.Map[(Long, Long), (Double, Double)]()
      for (i <- items.indices; j <- (i + 1) until items.length) {
        val (a, b) = (items(i), items(j))
        if (a != b) {
          val d = j - i
          val score = if (d <= n) 1.0 else math.exp(1.0 * (n - d) / (2 * n + 1))
          runMax.get((a, b)) match {
            case None =>
              runMax((a, b)) = (score, score)
              expected((a, b)) = expected.getOrElse((a, b), 0.0) + score
              expected((b, a)) = expected.getOrElse((b, a), 0.0) + score
            case Some((m0, m1)) =>
              var (n0, n1) = (m0, m1)
              if (score > m0) {
                n0 = score
                expected((a, b)) = expected.getOrElse((a, b), 0.0) + score
              }
              if (score > m1) {
                n1 = score
                expected((b, a)) = expected.getOrElse((b, a), 0.0) + score
              }
              runMax((a, b)) = (n0, n1)
          }
        }
      }
    }
    val got = ItemCf.cooccurrenceDecay(inter, n)
      .as[(Long, Long, Double)].collect()
      .map(r => (r._1, r._2) -> r._3).toMap
    assert(got.keySet == expected.keySet)
    got.foreach { case (k, v) => assert(math.abs(v - expected(k)) < 1e-9,
      s"pair $k: got $v expected ${expected(k)}") }
  }

  test("orderedConcat caps, orders desc, and drops short lists") {
    val df = Seq(
      ("k1", 3.0, 1L), ("k1", 1.0, 2L), ("k1", 2.0, 3L), ("k1", 2.0, 1L),
      ("k2", 9.0, 9L)
    ).toDF("key", "score", "id")
    val out = Ranking.orderedConcat(df, Seq(col("key")), col("score"),
      col("id"), col("id").cast("string"), cap = 3, minLen = 2, as = "l")
      .collect().map(r => r.getString(0) -> r.getString(1)).toMap
    // k1 sorted: (3.0,1), (2.0,1), (2.0,3), (1.0,2) → capped at 3
    assert(out == Map("k1" -> "1,1,3"))
  }

  test("orderedConcat bounds the collected list BEFORE aggregation — a " +
    "group 10× over cap collects only cap structs") {
    val df = (1 to 100).map(i => ("hot", i.toDouble, i.toLong))
      .toDF("key", "score", "id")
    val out = Ranking.orderedConcat(df, Seq(col("key")), col("score"),
      col("id"), col("id").cast("string"), cap = 10, minLen = 2, as = "l")
    assert(out.collect().map(_.getString(1)).toSeq ==
      Seq((100 to 91 by -1).mkString(",")))
    // the rank filter sits BELOW the aggregate in the physical plan (a
    // parent prints before its child), so no buffer ever exceeds cap
    val plan = out.queryExecution.executedPlan.toString
    val agg = plan.indexOf("collect_list")
    val rnFilter = plan.indexOf("<= 10")
    assert(agg >= 0 && rnFilter > agg,
      s"expected row_number cap filter below the aggregate:\n$plan")
  }

  test("sizeHistogram buckets by descending edges") {
    val df = Seq(405, 90, 12, 3).toDF("sz")
    val got = Ranking.sizeHistogram(df, col("sz"),
      Seq(400, 100, 10, 0)).as[(String, Long)].collect().toMap
    assert(got == Map("400+" -> 1L, "10+" -> 2L, "0+" -> 1L))
  }

  test("AUC equals naive O(n^2) Mann-Whitney on a small slice") {
    val base = Tables.events(spark, sfDir)
      .filter(col("event_type").isin("click", "view"))
      .select(lit(0L).as("g"), col("value").as("score"),
        when(col("event_type") === "click", 1).otherwise(0).as("label"))
    val rows = base.as[(Long, Double, Int)].collect()
    val pos = rows.filter(_._3 == 1).map(_._2)
    val neg = rows.filter(_._3 == 0).map(_._2)
    val naive = (for (p <- pos; q <- neg)
      yield if (p > q) 1.0 else if (p == q) 0.5 else 0.0).sum / (pos.length.toDouble * neg.length)
    val got = Auc.auc(base, Seq("g")).select("auc").as[Double].head()
    assert(math.abs(got - naive) < 1e-9, s"auc $got vs naive $naive")
  }

  test("driver contract: entry() returns rows; oracle keys subset queries") {
    assert(SparkEntry.entry(spark).count() > 0)
    val extra = SparkEntry.oracleSql.keySet -- SparkEntry.queries.keySet
    assert(extra.isEmpty, s"oracle entries without a query: $extra")
  }

  test("cache hygiene: driving every registry query inside a CacheScope " +
    "leaves the session cache manager empty — no global clearCache") {
    // isolation, not cheating: earlier suites in this shared-session test
    // JVM legitimately persist via library calls OUTSIDE any scope (the
    // documented caller-releases contract), and suite order varies run to
    // run. Start from a clean slate; every leak DURING the iteration below
    // is still caught and attributed to the query that caused it.
    // ASSUMES SEQUENTIAL SUITES (sbt's default in one forked JVM): this
    // clearCache would silently unpersist a concurrently-running suite's
    // live caches — if suites are ever parallelized, snapshot the
    // pre-existing cached plans instead and assert only that no NEW
    // entries remain after each query.
    spark.sharedState.cacheManager.clearCache()
    SparkEntry.queries.foreach { case (name, fn) =>
      graft.core.CacheScope.scoped {
        try fn(spark, sfDir).count()
        catch { case e: Throwable => fail(s"$name failed: ${e.getMessage}") }
      }
      // per-query assertion: an untracked persist is attributed to the
      // query that leaked it, not noticed 60 queries later. On failure,
      // name the offending plans — a bare isEmpty=false cannot distinguish
      // a genuine leak from async residue of an earlier suite in the
      // shared-SparkContext test JVM.
      if (!spark.sharedState.cacheManager.isEmpty) {
        val rdds = spark.sparkContext.getPersistentRDDs.values
          .map(r => s"${r.id}:${r.name}").mkString("[", ", ", "]")
        fail(s"$name left cached plans behind its CacheScope; " +
          s"persistent RDDs: $rdds")
      }
    }
  }

  test("A5: boardsList JSON explode parse") {
    val lines = Seq(
      """{"itemId":"i1","boardsList":[{"boardId":"b1"},{"boardId":"b2"}]}""",
      """{"itemId":"i2","boardsList":[]}""",
      """broken json""").toDF("line")
    val got = graft.jobs.BoardStats.fromJsonLines(lines)
      .as[(String, String)].collect().toSet
    assert(got == Set(("i1", "b1"), ("i1", "b2")))
  }

  test("AUC matches naive Mann-Whitney on randomized tied inputs (seeded)") {
    for (seed <- 1 to 5) {
      val rnd = new scala.util.Random(seed)
      val rows = Seq.fill(200)((0L,
        (rnd.nextInt(20) / 2.0), // coarse grid → many ties
        if (rnd.nextBoolean()) 1 else 0))
      val pos = rows.filter(_._3 == 1).map(_._2)
      val neg = rows.filter(_._3 == 0).map(_._2)
      val naive = (for (p <- pos; q <- neg)
        yield if (p > q) 1.0 else if (p == q) 0.5 else 0.0).sum /
        (pos.length.toDouble * neg.length)
      val got = Auc.auc(rows.toDF("g", "score", "label"), Seq("g"))
        .select("auc").as[Double].head()
      assert(math.abs(got - naive) < 1e-9, s"seed $seed: $got vs $naive")
    }
  }

  test("as-of join: at-or-before match, equal-ts inclusion, null on no match") {
    import graft.ops.AsOf
    val left = Seq((1L, 10L, 100L), (2L, 10L, 250L), (3L, 10L, 300L),
      (4L, 99L, 500L)).toDF("id", "k", "ts")
    val right = Seq((10L, 100L, "a"), (10L, 200L, "b"), (10L, 300L, "c"),
      (77L, 1L, "z")).toDF("k", "ts", "tag")
    val got = AsOf.joinAsOf(left, right, Seq("k"), "ts", "ts", Seq("tag"))
      .select("id", "tag").as[(Long, Option[String])].collect().toMap
    assert(got == Map(
      1L -> Some("a"),  // equal ts matches (>= contract)
      2L -> Some("b"),  // most recent at-or-before 250
      3L -> Some("c"),
      4L -> None))      // key with no right rows -> null payload

    // and against a naive per-row computation on real data
    val ev = Tables.events(spark, sfDir)
    val clicks = ev.filter(col("event_type") === "click")
      .select("event_id", "user_id", "ts")
    val views = ev.filter(col("event_type") === "view")
      .groupBy("user_id", "ts").agg(max("value").as("v"))
    val gotReal = AsOf.joinAsOf(clicks, views, Seq("user_id"), "ts", "ts",
        Seq("v"))
      .select("event_id", "v").as[(Long, Option[Double])].collect().toMap
    val vRows = views.select(col("user_id"), col("ts").cast("long"), col("v"))
      .as[(Long, Long, Double)].collect()
    val naive = clicks.select(col("event_id"), col("user_id"),
        col("ts").cast("long"))
      .as[(Long, Long, Long)].collect().map { case (id, u, t) =>
        val cands = vRows.filter(r => r._1 == u && r._2 <= t)
        id -> (if (cands.isEmpty) None else Some(cands.maxBy(_._2)._3))
      }.toMap
    assert(gotReal == naive)
  }

  test("interval join equals the naive equi-join + range filter") {
    import graft.ops.RangeJoin
    val ev = Tables.events(spark, sfDir)
    val clicks = ev.filter(col("event_type") === "click")
      .select(col("event_id").as("cid"), col("user_id"), col("ts").as("cts"))
    val views = ev.filter(col("event_type") === "view")
      .select(col("event_id").as("vid"), col("user_id"), col("ts").as("vts"))
    val bucketed = RangeJoin.intervalJoin(clicks, views, Seq("user_id"),
        "cts", "vts", lowerMs = -300000L, upperMs = 0L)
      .select("cid", "vid").as[(Long, Long)].collect().toSet
    val naive = clicks.join(views, "user_id")
      .filter(unix_millis(col("vts")) >= unix_millis(col("cts")) - 300000L &&
        unix_millis(col("vts")) <= unix_millis(col("cts")))
      .select("cid", "vid").as[(Long, Long)].collect().toSet
    assert(bucketed == naive && naive.nonEmpty)
  }

  test("approx_percentile tracks exact percentile (the mergeable scale path)") {
    val ev = Tables.events(spark, sfDir)
    val rows = ev.groupBy("event_type")
      .agg(percentile(col("value"), lit(0.5)).as("exact"),
        approx_percentile(col("value"), lit(0.5), lit(10000)).as("approx"))
      .select("exact", "approx").as[(Double, Double)].collect()
    rows.foreach { case (e, a) =>
      assert(math.abs(e - a) <= math.max(1.0, e * 0.05),
        s"approx $a too far from exact $e")
    }
  }

  test("J9/J10/P5/A3: relational blocks behave") {
    import graft.ops.Relational
    // A3 two-phase count-distinct == countDistinct
    val ev = Tables.events(spark, sfDir)
    val two = Relational.countDistinctTwoPhase(ev, col("event_type"),
      col("user_id")).as[(String, Long)].collect().toMap
    val ref = ev.groupBy("event_type").agg(countDistinct("user_id"))
      .as[(String, Long)].collect().toMap
    assert(two == ref)
    // J9 cogroup
    val l = Seq(("a", 1), ("a", 2), ("b", 3)).toDS()
    val r = Seq(("a", 10), ("c", 30)).toDS()
    val cg = Relational.coGroup(l, r)(_._1)(_._1) { (k, ls, rs) =>
      Iterator.single((k, ls.map(_._2).sum, rs.map(_._2).sum))
    }.collect().toSet
    assert(cg == Set(("a", 3, 10), ("b", 3, 0), ("c", 0, 30)))
    // J10 broadcast-map join
    val base = Seq("s1", "s2").toDF("scene")
    val joined = Relational.joinBroadcastMap(base, "scene",
      Map("s1" -> ((5L, 2L))), spark)
    val row = joined.filter(col("scene") === "s1")
      .select("click_pv", "uv").as[(Long, Long)].head()
    assert(row == ((5L, 2L)))
    // P5 partition index present and bounded
    val pi = Relational.withPartitionIndex(base).select("partition_id")
      .as[Int].collect()
    assert(pi.forall(_ >= 0))
  }

  test("fractionalRank assigns tie-group means") {
    val df = Seq(("a", 1.0), ("a", 2.0), ("a", 2.0), ("a", 3.0))
      .toDF("k", "score")
    val got = Ranking.fractionalRank(df, Seq(col("k")), col("score"))
      .select("score", "frank").as[(Double, Double)].collect().sorted
    assert(got.toSeq == Seq((1.0, 1.0), (2.0, 2.5), (2.0, 2.5), (3.0, 4.0)))
  }

  test("event transitions: every user contributes exactly events−1 " +
    "pairs, and the matrix stays on the type vocabulary") {
    val m = graft.queries.RankQueries.eventTransitions(spark, sfDir)
      .as[(String, String, Long)].collect()
    val ev = graft.core.Tables.events(spark, sfDir)
    assert(m.map(_._3).sum ==
      ev.count() - ev.select("user_id").distinct().count())
    val types = ev.select("event_type").distinct().as[String].collect().toSet
    assert(m.forall(t => types(t._1) && types(t._2)))
  }

  test("RFM: one row per purchasing user, frequencies tie out, at least " +
    "one user has recency zero") {
    val r = graft.queries.RankQueries.rfm(spark, sfDir)
      .as[(Long, Long, Long, Double)].collect()
    val p = graft.core.Tables.events(spark, sfDir)
      .filter(col("event_type") === "purchase")
    assert(r.length.toLong == p.select("user_id").distinct().count())
    assert(r.map(_._3).sum == p.count())
    assert(r.forall(_._2 >= 0L) && r.exists(_._2 == 0L))
  }

  test("cohort retention: offset-0 cells cover every user exactly once " +
    "and offsets are non-negative") {
    val tri = graft.queries.RankQueries.cohortRetention(spark, sfDir)
      .as[(Long, Long, Long)].collect()
    assert(tri.nonEmpty && tri.forall(_._2 >= 0L))
    val users = graft.core.Tables.events(spark, sfDir)
      .select("user_id").distinct().count()
    assert(tri.filter(_._2 == 0L).map(_._3).sum == users,
      "every user is active on their own cohort day")
    // no cell may exceed its cohort's size (the offset-0 cell)
    val size = tri.filter(_._2 == 0L).map(t => t._1 -> t._3).toMap
    tri.foreach { case (c, o, n) =>
      assert(n <= size(c), s"cohort $c offset $o exceeds cohort size")
    }
  }

  test("funnel: stage counts are monotone non-increasing, stage 1 is the " +
    "distinct first-step population, and a hand fixture orders strictly") {
    val stages = graft.queries.RankQueries.funnel(spark, sfDir)
      .orderBy("stage_idx").as[(Long, String, Long)].collect()
    assert(stages.map(_._2).toSeq ==
      Seq("signup", "view", "click", "purchase"))
    assert(stages.map(_._3).toSeq ==
      stages.map(_._3).sorted.reverse.toSeq, "funnel must narrow")
    val signups = graft.core.Tables.events(spark, sfDir)
      .filter(col("event_type") === "signup")
      .select("user_id").distinct().count()
    assert(stages.head._3 == signups)
    // strict ordering: a user whose 'view' precedes their 'signup' must
    // NOT advance past stage 1
    import java.sql.Timestamp
    val fix = Seq(
      (1L, "view", Timestamp.valueOf("2024-01-01 00:00:00")),
      (1L, "signup", Timestamp.valueOf("2024-01-01 01:00:00")),
      (2L, "signup", Timestamp.valueOf("2024-01-01 00:00:00")),
      (2L, "view", Timestamp.valueOf("2024-01-01 01:00:00")))
      .toDF("user_id", "event_type", "ts")
    val dir = java.nio.file.Files.createTempDirectory("graft_funnel")
    fix.write.mode("overwrite").parquet(s"$dir/events.parquet")
    val got = graft.queries.RankQueries
      .funnel(spark, dir.toString, Seq("signup", "view"))
      .orderBy("stage_idx").as[(Long, String, Long)].collect()
    assert(got.map(_._3).toSeq == Seq(2L, 1L),
      "only the in-order user advances")
  }

  test("session detail (q137) ties out to the session_window rollup " +
    "(q43): same per-user session and event counts, durations bounded " +
    "by the span") {
    val detail = graft.queries.RankQueries.sessionDetail(spark, sfDir)
      .as[(Long, Long, Long, Long, Long)].collect()
    // session indexes are a contiguous 1..n per user
    detail.groupBy(_._1).foreach { case (u, ss) =>
      assert(ss.map(_._2).sorted.toSeq == (1L to ss.length).toSeq,
        s"user $u: session_idx must be contiguous from 1")
    }
    val fromDetail = detail.groupBy(_._1)
      .map { case (u, ss) => u -> ((ss.length.toLong, ss.map(_._4).sum)) }
    val rollup = graft.queries.RankQueries.sessionize(spark, sfDir)
      .as[(Long, Long, Long)].collect()
      .map(r => r._1 -> ((r._2, r._3))).toMap
    assert(fromDetail == rollup,
      "per-user (n_sessions, n_events) must equal the q43 relation")
    // every session's duration fits inside the gap-bounded construction:
    // n_events-1 gaps, each strictly under 30 min
    detail.foreach { case (u, i, _, n, dur) =>
      assert(dur < (n - 1).max(0L) * 1800000L + 1800000L,
        s"user $u session $i: duration $dur too long for $n events")
    }
  }

  test("z-order key interleaves bits exactly (driver-reference equality) " +
    "and clamps out-of-grid values") {
    def morton(x: Long, y: Long, bits: Int): Long = {
      val max = (1L << bits) - 1
      val cx = math.min(math.max(x, 0L), max)
      val cy = math.min(math.max(y, 0L), max)
      (0 until bits).map(b =>
        (((cx >> b) & 1L) << (2 * b)) | (((cy >> b) & 1L) << (2 * b + 1)))
        .sum
    }
    val fix = (for (x <- -2L to 17L; y <- -2L to 17L) yield (x, y))
      .toDF("x", "y")
    val got = fix.select(col("x"), col("y"),
        graft.ops.Scale.zOrderKey(col("x"), col("y"), bits = 4).as("z"))
      .as[(Long, Long, Long)].collect()
    got.foreach { case (x, y, z) =>
      assert(z == morton(x, y, 4), s"($x, $y): $z != ${morton(x, y, 4)}")
    }
    // the interleave is a bijection on the in-grid domain
    val inGrid = got.filter { case (x, y, _) =>
      x >= 0 && x < 16 && y >= 0 && y < 16 }
    assert(inGrid.map(_._3).distinct.length == 256)
    intercept[IllegalArgumentException] {
      graft.ops.Scale.zOrderKey(col("x"), col("y"), bits = 40)
    }
  }

  test("integer PageRank equals the hand-computed fixed point and is " +
    "bit-identical under any partitioning") {
    // A→B, B→A, A→C; C dangles (receives, never redistributes)
    val verts = Seq(1L, 2L, 3L).toDF("id")
    val edges = Seq((1L, 2L), (2L, 1L), (1L, 3L)).toDF("src", "dst")
    // round-by-round integer arithmetic, worked by hand:
    // r1 = (1e12, 575e9, 575e9); r2 = (638.75e9, 575e9, 575e9);
    // r3 = (638.75e9, 421.46875e9, 421.46875e9)
    val expected = Map(1L -> 638750000000L,
      2L -> 421468750000L, 3L -> 421468750000L)
    val got = graft.ops.Graph.pageRank(verts, edges, iters = 3)
      .as[(Long, Long)].collect().toMap
    assert(got == expected, s"got $got")
    val scrambled = graft.ops.Graph.pageRank(
        verts.repartition(7), edges.repartition(5, col("dst")), iters = 3)
      .as[(Long, Long)].collect().toMap
    assert(scrambled == expected, "partitioning must not change one bit")
  }

  test("HITS equals the hand-computed fixed point, is bit-identical " +
    "under any partitioning, and an edgeless graph scores all-zero " +
    "instead of dividing by zero") {
    // 1→3, 2→3, 3→4: 3 is the authority (two hubs point at it),
    // 1/2 are the hubs. Worked by hand at unit 10^6, two rounds:
    // r1: ar=(3:2e6, 4:1e6), Sa=3e6 → a=(666666, 333333);
    //     hr=(1:666666, 2:666666, 3:333333), Sh=1666665
    //     → h=(400000, 400000, 200000, 0)
    // r2: ar=(3:8e5, 4:2e5), Sa=1e6 → a=(800000, 200000);
    //     hr=(1:8e5, 2:8e5, 3:2e5), Sh=1.8e6
    //     → h=(444444, 444444, 111111, 0)
    val verts = Seq(1L, 2L, 3L, 4L).toDF("id")
    val edges = Seq((1L, 3L), (2L, 3L), (3L, 4L)).toDF("src", "dst")
    val want = Map(
      1L -> (444444L, 0L), 2L -> (444444L, 0L),
      3L -> (111111L, 800000L), 4L -> (0L, 200000L))
    val got = graft.ops.Graph.hits(verts, edges, iters = 2)
      .as[(Long, Long, Long)].collect()
      .map(r => r._1 -> (r._2, r._3)).toMap
    assert(got == want, s"got $got")
    val scrambled = graft.ops.Graph.hits(
        verts.repartition(7), edges.repartition(5, col("dst")), iters = 2)
      .as[(Long, Long, Long)].collect()
      .map(r => r._1 -> (r._2, r._3)).toMap
    assert(scrambled == want, "partitioning must not change one bit")
    val edgeless = graft.ops.Graph.hits(verts,
        edges.filter(col("src") < 0L), iters = 2)
      .as[(Long, Long, Long)].collect()
    assert(edgeless.length == 4 &&
      edgeless.forall(r => r._2 == 0L && r._3 == 0L),
      s"edgeless graph must score zero, not crash: ${edgeless.toSeq}")
    // strictUnit: an oracle-pinned unit that would overflow must throw
    // loud (the q208 contract), never silently rescale into a divergence
    val thrown = intercept[IllegalArgumentException] {
      graft.ops.Graph.hits(verts, edges, iters = 1,
        unit = 4000000000L, strictUnit = true)
    }
    assert(thrown.getMessage.contains("strictUnit"), thrown.getMessage)
    // and the same unit WITHOUT strictUnit still runs (auto-scaled)
    assert(graft.ops.Graph.hits(verts, edges, iters = 1,
      unit = 4000000000L).count() == 4L)
  }

  test("strictUnit throws on an overflowing oracle-pinned unit across " +
    "the whole PageRank family, and the same unit auto-scales without " +
    "strictUnit") {
    // the q208 contract extended family-wide: an oracle generated at a
    // pinned unit must see a loud error, never a silent rescale that
    // surfaces as a hash divergence downstream
    val verts = Seq(1L, 2L, 3L).toDF("id")
    val edges = Seq((1L, 2L), (2L, 1L), (1L, 3L)).toDF("src", "dst")
    // pageRank bound is Long.Max/85/n ≈ 3.6e16 at n=3 → 1e17 overflows
    val hot = 100000000000000000L
    val prThrown = intercept[IllegalArgumentException] {
      graft.ops.Graph.pageRank(verts, edges, iters = 1, unit = hot,
        strictUnit = true)
    }
    assert(prThrown.getMessage.contains("strictUnit"), prThrown.getMessage)
    assert(graft.ops.Graph.pageRank(verts, edges, iters = 1, unit = hot)
      .count() == 3L, "non-strict must auto-scale and run")
    val pprThrown = intercept[IllegalArgumentException] {
      graft.ops.Graph.personalizedPageRank(verts, edges,
        verts.filter(col("id") === 1L), iters = 1, unit = hot,
        strictUnit = true)
    }
    assert(pprThrown.getMessage.contains("strictUnit"), pprThrown.getMessage)
    assert(graft.ops.Graph.personalizedPageRank(verts, edges,
      verts.filter(col("id") === 1L), iters = 1, unit = hot)
      .count() == 3L, "non-strict must auto-scale and run")
    // weightedPageRank is the REACHABLE member: its bound divides by the
    // max edge weight, so a heavy-tailed weight column (w = 1e10 here)
    // drags the safe unit down to ~3.6e6 and the DEFAULT unit overflows
    val heavy = Seq((1L, 2L, 10000000000L), (2L, 1L, 1L), (1L, 3L, 1L))
      .toDF("src", "dst", "w")
    val wprThrown = intercept[IllegalArgumentException] {
      graft.ops.Graph.weightedPageRank(verts, heavy, iters = 1,
        strictUnit = true)
    }
    assert(wprThrown.getMessage.contains("strictUnit"), wprThrown.getMessage)
    assert(graft.ops.Graph.weightedPageRank(verts, heavy, iters = 1)
      .count() == 3L, "non-strict must auto-scale and run")
  }

  test("SCC: two cycles joined by a one-way bridge resolve separately, " +
    "tails/self-loops are singletons, reps are the max member id") {
    // 1→2→3→1 (cycle A), 3→4 (bridge), 4→5→6→4 (cycle B), 6→8 (tail),
    // 7→7 (self-loop singleton)
    val edges = Seq((1L, 2L), (2L, 3L), (3L, 1L), (3L, 4L), (4L, 5L),
      (5L, 6L), (6L, 4L), (6L, 8L), (7L, 7L)).toDF("src", "dst")
    val got = graft.ops.Graph.stronglyConnectedComponents(edges)
      .as[(Long, Long)].collect().toMap
    assert(got == Map(1L -> 3L, 2L -> 3L, 3L -> 3L, 4L -> 6L, 5L -> 6L,
      6L -> 6L, 8L -> 8L, 7L -> 7L), s"wrong SCCs: $got")
  }

  test("random walks: every transition is a real edge, walks start " +
    "everywhere, sinks truncate, reruns are bit-identical") {
    val edges = Seq((1L, 2L), (1L, 3L), (2L, 3L), (3L, 1L), (3L, 4L))
      .toDF("src", "dst") // 4 is a sink
    val rows = graft.ops.Graph.randomWalks(edges, len = 5, reps = 3)
      .as[(Long, Long, Long, Long)].collect()
    val eset = Set((1L, 2L), (1L, 3L), (2L, 3L), (3L, 1L), (3L, 4L))
    val byWalk = rows.groupBy(r => (r._1, r._2))
      .map { case (k, vs) => k -> vs.sortBy(_._3).map(_._4).toSeq }
    // one walk per (vertex, replica), each starting at its own vertex
    assert(byWalk.keySet == (for (v <- 1L to 4L; r <- 0L to 2L)
      yield (v, r)).toSet)
    byWalk.foreach { case ((start, _), path) =>
      assert(path.head == start)
      path.sliding(2).foreach {
        case Seq(a, b) => assert(eset.contains((a, b)),
          s"($a,$b) is not an edge; walk from $start: $path")
        case _ =>
      }
      // a walk either runs the full 6 positions or dies at the sink
      assert(path.length == 6 || path.last == 4L,
        s"short walk must end at the sink: $path")
    }
    // walks from the sink are just the start position
    assert(byWalk((4L, 0L)) == Seq(4L))
    val again = graft.ops.Graph.randomWalks(edges, len = 5, reps = 3)
      .as[(Long, Long, Long, Long)].collect()
    assert(again.sorted.toSeq == rows.sorted.toSeq,
      "walks must be deterministic")
  }

  test("negative samples: every draw lands in its node's degree " +
    "interval, counts sum to nDraws, bucketing matches the range join") {
    val edges = Seq((1L, 2L), (1L, 3L), (1L, 4L), (1L, 5L), (2L, 3L),
      (4L, 5L)).toDF("src", "dst") // degrees: 1->4, 2->2, 3->2, 4->2, 5->2
    val got = graft.ops.Graph.negativeSamples(edges, nDraws = 400,
        buckets = 3)
      .as[(Long, Long, Long)].collect()
    assert(got.length == 400)
    // recompute the interval line and check containment draw by draw
    val deg = Map(1L -> 4L, 2L -> 2L, 3L -> 2L, 4L -> 2L, 5L -> 2L)
    val ids = deg.keys.toSeq.sorted
    val lo = ids.scanLeft(0L)((acc, v) => acc + deg(v)).zip(ids)
      .map { case (l, v) => v -> l }.toMap
    got.foreach { case (_, t, node) =>
      assert(t >= lo(node) && t < lo(node) + deg(node),
        s"draw t=$t outside node $node's interval")
    }
    // the hot node (deg 4 of 12) should dominate proportionally-ish
    val counts = got.groupBy(_._3).view.mapValues(_.length).toMap
    assert(counts(1L) > counts.filterNot(_._1 == 1L).values.max,
      s"degree-4 node must draw most: $counts")
    // a different bucket count is a pure rewrite: identical result
    val again = graft.ops.Graph.negativeSamples(edges, nDraws = 400,
        buckets = 7)
      .as[(Long, Long, Long)].collect()
    assert(again.sorted.toSeq == got.sorted.toSeq,
      "bucket count must not change the answer")
  }

  test("SCC condensation: component sizes and longest-path levels on " +
    "the two-cycle fixture and the chain DAG") {
    val edges = Seq((1L, 2L), (2L, 3L), (3L, 1L), (3L, 4L), (4L, 5L),
      (5L, 6L), (6L, 4L), (6L, 8L), (7L, 7L)).toDF("src", "dst")
    val got = graft.ops.Graph.sccCondensation(edges)
      .as[(Long, Long, Long)].collect().map(r => r._1 -> ((r._2, r._3)))
      .toMap
    assert(got == Map(3L -> ((3L, 0L)), 6L -> ((3L, 1L)), 8L -> ((1L, 2L)),
      7L -> ((1L, 0L))), s"wrong condensation: $got")
    // driver == distributed parity on the same fixture (the default
    // path above took the Tarjan/Kahn cutover)
    val dist = withCutover(Cutover.Graph)(graft.ops.Graph.sccCondensation(edges))
      .as[(Long, Long, Long)].collect().map(r => r._1 -> ((r._2, r._3)))
      .toMap
    assert(dist == got, s"distributed condensation $dist != driver $got")
    val chain = Seq((4L, 3L), (3L, 2L), (2L, 1L)).toDF("src", "dst")
    val lv = graft.ops.Graph.sccCondensation(chain)
      .as[(Long, Long, Long)].collect().map(r => r._1 -> r._3).toMap
    assert(lv == Map(4L -> 0L, 3L -> 1L, 2L -> 2L, 1L -> 3L),
      s"wrong levels: $lv")
  }

  test("SCC: 40 seeded random digraphs match a driver-side " +
    "Floyd-Warshall mutual-reachability brute force exactly") {
    val rnd = new scala.util.Random(57L) // fixed seed: deterministic test
    for (trial <- 1 to 40) {
      val n = 3 + rnd.nextInt(10)
      val p = 0.05 + rnd.nextDouble() * 0.30
      val es = (for {
        a <- 0 until n; b <- 0 until n
        if a != b && rnd.nextDouble() < p
      } yield (a.toLong, b.toLong)).toSeq
      if (es.nonEmpty) {
        // brute force: reach[i][j] via Floyd-Warshall, scc = max mutual
        val reach = Array.tabulate(n, n)((i, j) => i == j)
        es.foreach { case (a, b) => reach(a.toInt)(b.toInt) = true }
        for (k <- 0 until n; i <- 0 until n; j <- 0 until n)
          if (reach(i)(k) && reach(k)(j)) reach(i)(j) = true
        val inGraph = es.flatMap(e => Seq(e._1, e._2)).toSet
        val want = inGraph.map { v =>
          v -> (0 until n).filter(u =>
            reach(v.toInt)(u) && reach(u)(v.toInt)).map(_.toLong).max
        }.toMap
        val got = graft.ops.Graph
          .stronglyConnectedComponents(es.toDF("src", "dst"))
          .as[(Long, Long)].collect().toMap
        assert(got == want, s"trial $trial (n=$n, ${es.size} edges): " +
          s"got $got want $want edges=$es")
        // every 8th trial also pins driver == distributed: the default
        // path above took the Tarjan cutover; the forced-distributed
        // trim+color+mark run must emit the identical map
        if (trial % 8 == 0) {
          val dist = withCutover(Cutover.Graph)(graft.ops.Graph
            .stronglyConnectedComponents(es.toDF("src", "dst")))
            .as[(Long, Long)].collect().toMap
          assert(dist == got, s"trial $trial: distributed $dist != " +
            s"driver $got edges=$es")
        }
      }
    }
  }

  test("SCC trim: the r14 adversarial chain DAG drains with ZERO " +
    "color+mark peels, and maxPeels still fails loud on cycle chains") {
    // 4→3→2→1 was the documented worst case (one full color+mark peel
    // per root class); the trim phase now peels it as singleton SCCs
    val chain = Seq((4L, 3L), (3L, 2L), (2L, 1L)).toDF("src", "dst")
    val (gotDf, stats) = graft.ops.Graph.sccWithStats(chain)
    val got = gotDf.as[(Long, Long)].collect().toMap
    assert(got == Map(1L -> 1L, 2L -> 2L, 3L -> 3L, 4L -> 4L))
    assert(stats.peels == 0 && stats.trimmed == 4L,
      s"chain must drain by trim alone: $stats")
    // a DESCENDING chain of 2-cycles is trim-immune (every vertex has an
    // in- and an out-edge) and still costs one peel per cycle — the
    // maxPeels loud-failure bound lives on for genuine cycle structure
    val cyc = Seq((8L, 7L), (7L, 8L), (7L, 6L), (6L, 5L), (5L, 6L),
      (5L, 4L), (4L, 3L), (3L, 4L), (3L, 2L), (2L, 1L), (1L, 2L))
      .toDF("src", "dst")
    val (cycDf, cycStats) = graft.ops.Graph.sccWithStats(cyc)
    val cycGot = cycDf.as[(Long, Long)].collect().toMap
    assert(cycGot == Map(8L -> 8L, 7L -> 8L, 6L -> 6L, 5L -> 6L,
      4L -> 4L, 3L -> 4L, 2L -> 2L, 1L -> 2L), s"wrong: $cycGot")
    assert(cycStats.trimmed == 0L, s"2-cycles must not trim: $cycStats")
    // maxPeels bounds the DISTRIBUTED path; force past the driver
    // cutover to pin it (the driver path has no peels to bound)
    intercept[IllegalArgumentException] {
      withCutover(Cutover.Graph)(
        graft.ops.Graph.stronglyConnectedComponents(cyc, maxPeels = 2))
    }
    // NULL endpoints are dropped before anything is counted
    val withNulls = Seq((Some(1L), Some(2L)), (Some(2L), Some(1L)),
      (Some(9L), None), (None, Some(9L))).toDF("src", "dst")
    val clean = graft.ops.Graph.stronglyConnectedComponents(withNulls)
      .as[(Long, Long)].collect().toMap
    assert(clean == Map(1L -> 2L, 2L -> 2L), s"wrong: $clean")
    // the inner fixpoint bound is max(maxIters, |active|+1): monotone
    // propagation converges within |active| rounds, so even maxIters=1
    // CONVERGES on a diameter-3 cycle instead of erroring (the r14
    // ADVICE deep-path concern; maxPeels stays the only topology bound)
    val ring = Seq((1L, 2L), (2L, 3L), (3L, 4L), (4L, 1L))
      .toDF("src", "dst")
    val ringGot = withCutover(Cutover.Graph)(graft.ops.Graph
      .stronglyConnectedComponents(ring, maxIters = 1))
      .as[(Long, Long)].collect().toMap
    assert(ringGot == Map(1L -> 4L, 2L -> 4L, 3L -> 4L, 4L -> 4L),
      s"wrong: $ringGot")
  }

  test("SCC trim property: a 200-vertex descending chain of singleton " +
    "SCCs takes peels << n (zero, in fact) and stays correct") {
    // pre-trim this needed ~200 full color+mark peels (maxPeels'
    // default of 50 would have thrown); now the trim phase drains two
    // chain ends per round and the peel counter never moves
    val n = 200
    val edges = (1 until n).map(i => (n.toLong - i + 1, n.toLong - i))
      .toDF("src", "dst")
    val (df, stats) = graft.ops.Graph.sccWithStats(edges)
    val got = df.as[(Long, Long)].collect().toMap
    assert(got == (1 to n).map(v => v.toLong -> v.toLong).toMap,
      s"every chain vertex is its own SCC (got ${got.size} rows)")
    assert(stats.peels == 0, s"trim must spend no peels: $stats")
    assert(stats.trimmed == n.toLong, s"all $n vertices trim: $stats")
    assert(stats.trimRounds <= n / 2 + 1,
      s"trim removes both ends per round: $stats")
  }

  test("survival risk table and calibration bins: risk sets shrink " +
    "monotonically, events never exceed the risk set, bins cover the " +
    "corpus, rates stay in [0, 1e6]") {
    graft.core.CacheScope.scoped {
      val km = SparkEntry.queries("q231_survival_risk")(spark, sfDir)
        .as[(Long, Long, Long, Long)].collect().sortBy(_._1)
      assert(km.nonEmpty)
      assert(km.sliding(2).forall {
        case Array(a, b) => a._2 >= b._2; case _ => true },
        s"risk sets must shrink as duration grows: ${km.toSeq}")
      assert(km.forall { case (_, n, d, h) =>
        d >= 1 && d <= n && h >= 0 && h <= 1000000L }, s"bad row: ${km.toSeq}")
      val cal = SparkEntry.queries("q229_calibration_bins")(spark, sfDir)
        .as[(Long, Long, Long, Long, Long, Double)].collect()
      assert(cal.map(_._2).sum > 0 && cal.forall { case (b, n, p, ppm, _, m) =>
        b >= 0 && b <= 9 && p <= n && ppm >= 0 && ppm <= 1000000L &&
          m >= b * 50.0 && m < (b + 1) * 50.0
      }, s"bad calibration rows: ${cal.toSeq}")
      // preference pairs: chosen strictly beats rejected, both distinct
      val pp = SparkEntry.queries("q230_preference_pairs")(spark, sfDir)
        .as[(String, Long, Long, Long, Long, Long)].collect()
      assert(pp.nonEmpty)
      assert(pp.forall { case (_, cid, cq, rid, rq, mg) =>
        cq > rq && mg == cq - rq && cid != rid }, s"bad pairs: ${pp.toSeq}")
    }
  }

  test("snapshot delta: per-source flow conservation (old = retained + " +
    "removed, new = retained + added) and the parity fixture's planted " +
    "dup texts are retained") {
    graft.core.CacheScope.scoped {
      val rows = SparkEntry.queries("q204_crawl_delta")(spark, sfDir)
        .as[(String, Long, Long, Long, Long, Long, Long, Long)].collect()
      assert(rows.nonEmpty)
      for ((src, nOld, nNew, nRet, nRem, nAdd, chRem, chAdd) <- rows) {
        assert(nOld == nRet + nRem, s"$src: old $nOld != $nRet + $nRem")
        assert(nNew == nRet + nAdd, s"$src: new $nNew != $nRet + $nAdd")
        assert(chRem >= 0L && chAdd >= 0L)
      }
    }
  }

  test("coverage curve is monotone in V and clamps to full mass at " +
    "V >= n_types; packing waste is nonnegative and padded >= total") {
    graft.core.CacheScope.scoped {
      val cov = SparkEntry.queries("q207_coverage_curve")(spark, sfDir)
        .as[(Long, Long, Long, Long, Long)].collect().sortBy(_._1)
      assert(cov.length == 3)
      assert(cov.sliding(2).forall { case Array(a, b) => a._3 <= b._3 },
        s"coverage must be monotone in V: ${cov.toSeq}")
      for ((v, nTypes, covered, total, ppm) <- cov) {
        assert(covered <= total && ppm <= 1000000L)
        if (v >= nTypes)
          assert(covered == total && ppm == 1000000L,
            s"V=$v >= n_types=$nTypes must cover everything")
      }
    }
    graft.core.CacheScope.scoped {
      val pw = SparkEntry.queries("q203_packing_waste")(spark, sfDir)
        .as[(Long, Long, Long, Long, Long, Long)].collect()
      assert(pw.length == 3)
      for ((len, nDocs, nSeqs, total, padded, ppm) <- pw) {
        assert(padded >= total && ppm >= 0L && ppm < 1000000L,
          s"max_len=$len: padded=$padded total=$total ppm=$ppm")
        assert(nSeqs >= nDocs, "every doc takes at least one sequence")
      }
    }
  }

  test("reciprocity summary matches the hand-worked directed graph") {
    // 1⇄2 mutual, 1→3 one-way: 3 vertices, 3 edges, 2 mutual edges,
    // 1 symmetric pair, ppm = 2e6 div 3
    val edges = Seq((1L, 2L), (2L, 1L), (1L, 3L)).toDF("src", "dst")
    val row = graft.ops.Graph.reciprocitySummary(edges)
      .as[(Long, Long, Long, Long, Long)].head()
    assert(row == ((3L, 3L, 2L, 1L, 666666L)), s"got $row")
    // a self-loop is its own reverse — counting it would make n_mutual
    // odd and inflate the ppm; the operator excludes loops entirely, so
    // adding one (even on a loop-only vertex) changes not one column
    val looped = edges.unionByName(
      Seq((3L, 3L), (9L, 9L)).toDF("src", "dst"))
    val rowLooped = graft.ops.Graph.reciprocitySummary(looped)
      .as[(Long, Long, Long, Long, Long)].head()
    assert(rowLooped == row,
      s"self-loops must not move the summary: $rowLooped vs $row")
    // NULL endpoints are excluded EXPLICITLY (stated semantics, not a
    // three-valued-logic accident): a null edge has no well-defined
    // reverse, so adding them changes not one column either
    val withNulls = edges.unionByName(
      Seq((Option(5L), Option.empty[Long]),
          (Option.empty[Long], Option(6L))).toDF("src", "dst"))
    val rowNulls = graft.ops.Graph.reciprocitySummary(withNulls)
      .as[(Long, Long, Long, Long, Long)].head()
    assert(rowNulls == row,
      s"NULL-endpoint edges must not move the summary: $rowNulls vs $row")
    val none = graft.ops.Graph.reciprocitySummary(
        edges.filter(col("src") === col("dst")))
      .as[(Long, Long, Long, Long, Option[Long])].head()
    assert(none._2 == 0L && none._5.isEmpty,
      s"edgeless graph: null ppm, not a crash: $none")
  }

  test("cohort/streak/RFM invariants: age-0 diagonal counts every user " +
    "once, streak histogram masses to the user universe, floor-formula " +
    "quintile marginals are balanced within one") {
    graft.core.CacheScope.scoped {
      val cells = SparkEntry.queries("q209_retention_cohorts")(spark, sfDir)
        .as[(Long, Long, Long)].collect()
      val users = graft.core.Tables.events(spark, sfDir)
        .select("user_id").distinct().count()
      assert(cells.filter(_._2 == 0L).map(_._3).sum == users,
        "every user appears exactly once on the age-0 diagonal")
      assert(cells.map(_._1).distinct.forall(c =>
        cells.exists(x => x._1 == c && x._2 == 0L)),
        "every cohort has its age-0 cell")
      val streaks = SparkEntry.queries("q210_activity_streaks")(spark, sfDir)
        .as[(Long, Long)].collect()
      assert(streaks.map(_._2).sum == users && streaks.forall(_._1 >= 1L),
        "each user lands in exactly one best-streak bucket")
    }
    graft.core.CacheScope.scoped {
      val seg = SparkEntry.queries("q211_rfm_segments")(spark, sfDir)
        .as[(Long, Long, Long, Long, Long)].collect()
      val n = graft.core.Tables.orders(spark, sfDir)
        .select("o_custkey").distinct().count()
      assert(seg.map(_._4).sum == n)
      assert(seg.forall(r => Seq(r._1, r._2, r._3)
        .forall(q => q >= 1L && q <= 5L)))
      // floor-formula quintiles: every marginal bucket holds
      // floor(n/5) or ceil(n/5) customers
      for (dim <- 0 until 3) {
        val marginal = seg.groupBy(r => Seq(r._1, r._2, r._3)(dim))
          .view.mapValues(_.map(_._4).sum)
        assert(marginal.values.forall(c => c == n / 5 || c == n / 5 + 1),
          s"dim $dim marginals: ${marginal.toMap}")
      }
    }
  }

  test("data-quality audits: orphan totals equal the table counts (the " +
    "fixture is referentially intact), consistency partitions every " +
    "order, the contract audit's counters partition sanely") {
    graft.core.CacheScope.scoped {
      val orphans = SparkEntry.queries("q213_referential_orphans")(
        spark, sfDir).as[(String, Long, Long, Long)].collect()
      assert(orphans.length == 4)
      val nLi = graft.core.Tables.lineitem(spark, sfDir).count()
      val nOrd = graft.core.Tables.orders(spark, sfDir).count()
      for ((rel, nChild, nOrph, ppm) <- orphans) {
        assert(nChild == (if (rel.startsWith("lineitem")) nLi else nOrd))
        assert(nOrph == 0L && ppm == 0L,
          s"$rel: the fixture is referentially intact, got $nOrph orphans")
      }
      val (nOrders, nExact, nMismatch, maxDiff) =
        SparkEntry.queries("q214_order_consistency")(spark, sfDir)
          .as[(Long, Long, Long, Long)].head()
      assert(nOrders == nOrd && nExact + nMismatch == nOrders)
      assert(maxDiff >= 0L)
      val c = SparkEntry.queries("q216_event_contract")(spark, sfDir)
        .as[(Long, Long, Long, Long, Long, Long)].head()
      val nEvents = graft.core.Tables.events(spark, sfDir).count()
      assert(c._1 == nEvents)
      assert(Seq(c._2, c._3, c._4, c._5, c._6)
        .forall(v => v >= 0L && v <= nEvents))
    }
  }

  test("join pre-flight: the predicted cardinalities EQUAL the actual " +
    "join outputs (the audit is exact, not an estimate); equi-depth " +
    "buckets are balanced within one with monotone edges") {
    graft.core.CacheScope.scoped {
      val rows = SparkEntry.queries("q218_join_preflight")(spark, sfDir)
        .as[(String, Long, Long, Long, Long, Long, Long, Long)]
        .collect().map(r => r._1 -> r).toMap
      val clicks = graft.core.Tables.events(spark, sfDir)
        .filter(col("event_type") === "click")
        .select(col("user_id"),
          get_json_object(col("props"), "$.k").cast("long").as("item"))
        .filter(col("item").isNotNull).distinct()
      val actualCc = clicks.alias("a")
        .join(clicks.alias("b"), Seq("user_id"))
        .filter(col("a.item") =!= col("b.item")).count()
      assert(rows("coclick_self")._7 == actualCc,
        s"predicted ${rows("coclick_self")._7} != actual $actualCc")
      val actualLo = graft.core.Tables.lineitem(spark, sfDir)
        .join(graft.core.Tables.orders(spark, sfDir),
          col("l_orderkey") === col("o_orderkey")).count()
      assert(rows("lineitem_orders")._7 == actualLo)
    }
    graft.core.CacheScope.scoped {
      val h = SparkEntry.queries("q219_equidepth_hist")(spark, sfDir)
        .as[(Long, Long, Long, Long)].collect().sortBy(_._1)
      assert(h.length == 8 && h.map(_._1).toSeq == (0L to 7L))
      val n = h.map(_._2).sum
      assert(h.forall(b => b._2 == n / 8 || b._2 == n / 8 + 1),
        s"depths must balance within one: ${h.map(_._2).toSeq}")
      assert(h.sliding(2).forall { case Array(a, b) => a._4 <= b._3 },
        "bucket edges must be monotone non-overlapping")
      assert(h.forall(b => b._3 <= b._4))
    }
  }

  test("PageRank redistributeDangling conserves total mass up to integer " +
    "truncation and stays bit-identical under partitioning") {
    // A→B, B→A, A→C; C dangles. With redistribution, C's damped mass is
    // split over all 3 vertices each round.
    val verts = Seq(1L, 2L, 3L).toDF("id")
    val edges = Seq((1L, 2L), (2L, 1L), (1L, 3L)).toDF("src", "dst")
    val unit = 1000000000000L
    val iters = 4
    val got = graft.ops.Graph.pageRank(verts, edges, iters = iters,
        redistributeDangling = true)
      .as[(Long, Long)].collect().toMap
    val total = got.values.sum
    // exact conservation would be 3·unit; each round loses at most one
    // truncated micro-unit per contribution edge (3) plus one per vertex
    // for the dangling share (3)
    val full = 3L * unit
    assert(total <= full, s"mass must never grow: $total > $full")
    assert(full - total <= iters.toLong * 6L,
      s"mass loss ${full - total} exceeds the truncation bound")
    // the default (no redistribution) strictly loses more mass here
    val decayed = graft.ops.Graph.pageRank(verts, edges, iters = iters)
      .as[(Long, Long)].collect().toMap.values.sum
    assert(decayed < total, "redistribution must retain more mass")
    // still engine-exact: partitioning changes nothing
    val scrambled = graft.ops.Graph.pageRank(
        verts.repartition(7), edges.repartition(5, col("dst")),
        iters = iters, redistributeDangling = true)
      .as[(Long, Long)].collect().toMap
    assert(scrambled == got, "partitioning must not change one bit")
  }

  test("personalized PageRank equals the hand-computed fixed point: mass " +
    "teleports only to seeds and decays with distance") {
    // A→B, B→A, A→C; seed {A}. Worked by hand at unit = 10^12:
    // r0 = (1e12, 0, 0)
    // r1 = (150e9, 425e9, 425e9)       (A's mass split over B, C)
    // r2 = (150e9 + 361.25e9, 63.75e9, 63.75e9)
    val verts = Seq(1L, 2L, 3L).toDF("id")
    val edges = Seq((1L, 2L), (2L, 1L), (1L, 3L)).toDF("src", "dst")
    val seeds = Seq(1L).toDF("id")
    val expected = Map(1L -> 511250000000L,
      2L -> 63750000000L, 3L -> 63750000000L)
    val got = graft.ops.Graph.personalizedPageRank(
        verts, edges, seeds, iters = 2)
      .as[(Long, Long)].collect().toMap
    assert(got == expected, s"got $got")
    val scrambled = graft.ops.Graph.personalizedPageRank(
        verts.repartition(7), edges.repartition(5, col("dst")), seeds,
        iters = 2)
      .as[(Long, Long)].collect().toMap
    assert(scrambled == expected, "partitioning must not change one bit")
  }

  test("weighted PageRank splits mass by edge weight, reduces to the " +
    "unweighted form at w=1, and is partition-invariant") {
    // 1->2 (w=3), 1->3 (w=1), 2->1 (w=1); one round by hand at 1e12:
    // from 1 (tw=4): 2 gets (85e13*3) div 400 = 637.5e9, 3 gets 212.5e9
    // from 2 (tw=1): 1 gets 850e9
    val verts = Seq(1L, 2L, 3L).toDF("id")
    val we = Seq((1L, 2L, 3L), (1L, 3L, 1L), (2L, 1L, 1L))
      .toDF("src", "dst", "w")
    val expected = Map(1L -> 1000000000000L,
      2L -> 787500000000L, 3L -> 362500000000L)
    val got = graft.ops.Graph.weightedPageRank(verts, we, iters = 1)
      .as[(Long, Long)].collect().toMap
    assert(got == expected, s"got $got")
    val scrambled = graft.ops.Graph.weightedPageRank(
        verts.repartition(7), we.repartition(5, col("dst")), iters = 1)
      .as[(Long, Long)].collect().toMap
    assert(scrambled == expected, "partitioning must not change one bit")
    // w = 1 everywhere collapses to the unweighted operator exactly
    val e1 = Seq((1L, 2L), (2L, 1L), (1L, 3L)).toDF("src", "dst")
    val flat = graft.ops.Graph.weightedPageRank(verts,
        e1.withColumn("w", lit(1L)), iters = 3)
      .as[(Long, Long)].collect().toMap
    val plain = graft.ops.Graph.pageRank(verts, e1, iters = 3)
      .as[(Long, Long)].collect().toMap
    assert(flat == plain, s"w=1 must equal unweighted: $flat vs $plain")
  }

  test("joinNearest picks the closer side, breaks ties backward, " +
    "matches exact timestamps, and nulls keyless rows") {
    val left = Seq(("u", 1L, 100L), ("u", 2L, 200L), ("u", 3L, 150L),
      ("u", 4L, 310L), ("w", 9L, 50L)).toDF("k", "lid", "lts")
    val right = Seq(("u", 90L, 11L), ("u", 200L, 12L), ("u", 300L, 13L))
      .toDF("k", "rts", "rid")
    val got = graft.ops.AsOf.joinNearest(left, right, Seq("k"),
        "lts", "rts", Seq("rid"))
      .select("lid", "rid").as[(Long, Option[Long])]
      .collect().toMap
    // lid 1 (ts 100): prev 90 (d10) vs next 200 (d100) -> 11
    // lid 2 (ts 200): exact-ts right counts backward, d0 -> 12
    // lid 3 (ts 150): prev 90 (d60) vs next 200 (d50) -> 12
    // lid 4 (ts 310): prev 300 (d10) vs none after -> 13
    // lid 9 (key w): no right rows -> null
    assert(got == Map(1L -> Some(11L), 2L -> Some(12L), 3L -> Some(12L),
      4L -> Some(13L), 9L -> None), s"got $got")
    // tie: left at 250 is 50 from both 200 and 300 -> backward (12)
    val tie = graft.ops.AsOf.joinNearest(
        Seq(("u", 5L, 250L)).toDF("k", "lid", "lts"), right, Seq("k"),
        "lts", "rts", Seq("rid"))
      .select("rid").as[Long].head()
    assert(tie == 12L, s"equal distance must resolve backward: $tie")
  }

  test("cusum prefix identity equals the textbook recurrence") {
    // values (10,10,40,40), target 25: recurrence gives S = (0,0,15,30)
    val df = Seq((1L, 10L), (2L, 10L), (3L, 40L), (4L, 40L))
      .toDF("t", "v").withColumn("tgt", lit(25L))
    val got = graft.ops.Relational.cusum(df, "t", "v", "tgt")
      .select("t", "cusum").as[(Long, Long)].collect().toMap
    assert(got == Map(1L -> 0L, 2L -> 0L, 3L -> 15L, 4L -> 30L),
      s"got $got")
    // randomized cross-check against the sequential recurrence
    val rnd = new scala.util.Random(42)
    val vals = (1 to 50).map(i => (i.toLong, rnd.nextInt(100).toLong))
    val seq = vals.scanLeft(0L) { case (s, (_, v)) =>
      math.max(0L, s + (v - 40L)) }.drop(1)
    val expect = vals.map(_._1).zip(seq).toMap
    val big = vals.toDF("t", "v").withColumn("tgt", lit(40L))
    val got2 = graft.ops.Relational.cusum(
        big.repartition(7, col("v")), "t", "v", "tgt")
      .select("t", "cusum").as[(Long, Long)].collect().toMap
    assert(got2 == expect, "identity must match the recurrence exactly")
  }

  test("skyline2D keeps exactly the non-dominated rows, ties and " +
    "duplicates together, per group") {
    // group A: (1,5)x2 tie-survive; (2,7) frontier; (2,3) dominated by
    // (1,5); (3,7) dominated by (2,7); (3,9) frontier. group B: singleton.
    val rows = Seq(("A", 1L, 5), ("A", 1L, 5), ("A", 2L, 7), ("A", 2L, 3),
      ("A", 3L, 7), ("A", 3L, 9), ("B", 10L, 1))
      .toDF("g", "lo", "hi")
    val got = graft.ops.Relational
      .skyline2D(rows, col("g"), col("lo"), col("hi"))
      .as[(String, Long, Int)].collect().sorted.toSeq
    assert(got == Seq(("A", 1L, 5), ("A", 1L, 5), ("A", 2L, 7),
      ("A", 3L, 9), ("B", 10L, 1)), s"got $got")
    val scrambled = graft.ops.Relational
      .skyline2D(rows.repartition(5, col("hi")), col("g"), col("lo"),
        col("hi"))
      .as[(String, Long, Int)].collect().sorted.toSeq
    assert(scrambled == got, "partitioning must not change the skyline")
  }

  test("bfsDistance tightens exact hop distances, stops at the round " +
    "horizon, and keeps edgeless seeds at zero") {
    // path 1-2-3-4-5 plus isolated seed 10
    val path = Seq((1L, 2L), (2L, 3L), (3L, 4L), (4L, 5L))
      .toDF("src", "dst")
    val seeds = Seq(1L, 10L).toDF("id")
    val got = graft.ops.Graph.bfsDistance(path, seeds, rounds = 2)
      .as[(Long, Long)].collect().toMap
    assert(got == Map(1L -> 0L, 2L -> 1L, 3L -> 2L, 10L -> 0L),
      s"got $got") // 4 is 3 hops out: beyond a 2-round horizon
    // two seeds meeting in the middle: min wins
    val two = graft.ops.Graph.bfsDistance(path,
        Seq(1L, 5L).toDF("id"), rounds = 3)
      .as[(Long, Long)].collect().toMap
    assert(two == Map(1L -> 0L, 2L -> 1L, 3L -> 2L, 4L -> 1L, 5L -> 0L),
      s"got $two")
    val scrambled = graft.ops.Graph.bfsDistance(
        path.repartition(7, col("dst")), seeds, rounds = 2)
      .as[(Long, Long)].collect().toMap
    assert(scrambled == got, "partitioning must not change distances")
  }

  test("labelPropagation runs the derandomized synchronous recurrence " +
    "exactly and settles components onto one label") {
    // path 1-2-3-4-5, worked by hand (ties to smallest label):
    // l1 = (2, 1, 2, 3, 4); l2 = (1, 2, 1, 2, 3)
    val path = Seq((1L, 2L), (2L, 3L), (3L, 4L), (4L, 5L))
      .toDF("src", "dst")
    val got = graft.ops.Graph.labelPropagation(path, rounds = 2)
      .as[(Long, Long)].collect().toMap
    assert(got == Map(1L -> 1L, 2L -> 2L, 3L -> 1L, 4L -> 2L, 5L -> 3L),
      s"got $got")
    val scrambled = graft.ops.Graph.labelPropagation(
        path.repartition(7, col("dst")), rounds = 2)
      .as[(Long, Long)].collect().toMap
    assert(scrambled == got, "partitioning must not change one bit")
    // two disconnected triangles settle onto per-component labels
    val two = Seq((1L, 2L), (2L, 3L), (3L, 1L),
        (10L, 11L), (11L, 12L), (12L, 10L)).toDF("src", "dst")
    val comm = graft.ops.Graph.labelPropagation(two, rounds = 2)
      .as[(Long, Long)].collect().toMap
    assert(comm == Map(1L -> 1L, 2L -> 1L, 3L -> 1L,
      10L -> 10L, 11L -> 10L, 12L -> 10L), s"got $comm")
  }

  test("modularity: perfect two-triangle split scores exactly 1/2, " +
    "the all-in-one partition exactly 0") {
    val two = Seq((1L, 2L), (2L, 3L), (3L, 1L),
      (10L, 11L), (11L, 12L), (12L, 10L)).toDF("src", "dst")
    val perfect = Seq((1L, 1L), (2L, 1L), (3L, 1L),
      (10L, 2L), (11L, 2L), (12L, 2L)).toDF("v", "label")
    val got = graft.ops.Graph.modularity(two, perfect)
      .as[(Long, Long, Double)].head()
    // m=6; per community e_c=3, d_c=6: q_num = 2*(72-36) = 72; 72/144
    assert(got == ((6L, 72L, 0.5)), s"got $got")
    val one = Seq((1L, 9L), (2L, 9L), (3L, 9L),
      (10L, 9L), (11L, 9L), (12L, 9L)).toDF("v", "label")
    val flat = graft.ops.Graph.modularity(two, one)
      .as[(Long, Long, Double)].head()
    assert(flat == ((6L, 0L, 0.0)), s"got $flat")
  }

  test("graphSummary aggregates the per-vertex stats exactly") {
    // bowtie-ish: triangles (1,2,3), (2,3,4), pendant 5 off 4
    val edges = Seq((1L, 2L), (1L, 3L), (2L, 3L), (2L, 4L), (3L, 4L),
        (4L, 5L)).toDF("src", "dst")
    val got = graft.ops.Graph.graphSummary(edges)
      .as[(Long, Long, Long, Long, Long, Double)].collect().head
    // 5 vertices, 6 edges, wedges 1+3+3+3+0 = 10, 2 triangles,
    // max degree 3, clustering 6/10
    assert(got == ((5L, 6L, 10L, 2L, 3L, 0.6)), s"got $got")
  }

  test("PageRank auto-scales an overflowing unit down to a safe power of " +
    "ten instead of silently wrapping") {
    val verts = (1L to 200L).toDF("id")
    val edges = (1L until 200L).map(i => (i, i + 1)).toDF("src", "dst")
    // 200 vertices at unit = Long.Max/100 would wrap r·85 immediately
    val reckless = Long.MaxValue / 100L
    val got = graft.ops.Graph.pageRank(verts, edges, iters = 2,
        unit = reckless)
      .as[(Long, Long)].collect()
    assert(got.forall(_._2 > 0L), "no rank may wrap negative")
    val maxSafe = Long.MaxValue / 85L / 200L
    var expectUnit = 1L
    while (expectUnit * 10L <= maxSafe) expectUnit *= 10L
    // round 0 seeds every vertex with the effective unit; vertex 1 has no
    // in-edges so its final rank is exactly 0.15·unit (+0 contributions)
    val v1 = got.find(_._1 == 1L).get._2
    assert(v1 == expectUnit * 15L / 100L,
      s"vertex 1 rank $v1 betrays a unit other than $expectUnit")
  }

  test("triangleStats matches the hand-counted graph, canonicalizes " +
    "messy edge lists, and is partition-invariant") {
    // bowtie-ish: triangles (1,2,3) and (2,3,4), pendant 5 off 4 — fed
    // as a MESSY edge list: reversed duplicates, a self-loop, repeats
    val edges = Seq((1L, 2L), (2L, 1L), (1L, 3L), (2L, 3L), (3L, 2L),
        (2L, 4L), (3L, 4L), (4L, 5L), (3L, 3L), (4L, 3L))
      .toDF("src", "dst")
    val got = graft.ops.Graph.triangleStats(edges)
      .as[(Long, Long, Long, Double)].collect()
      .map(r => r._1 -> ((r._2, r._3, r._4))).toMap
    val expected = Map(
      1L -> ((2L, 1L, 1.0)),
      2L -> ((3L, 2L, 2.0 / 3.0)),
      3L -> ((3L, 2L, 2.0 / 3.0)),
      4L -> ((3L, 1L, 1.0 / 3.0)),
      5L -> ((1L, 0L, 0.0)))
    assert(got == expected, s"got $got")
    val scrambled = graft.ops.Graph.triangleStats(
        edges.repartition(7, col("dst")))
      .as[(Long, Long, Long, Double)].collect()
      .map(r => r._1 -> ((r._2, r._3, r._4))).toMap
    assert(scrambled == expected, "partitioning must not change one bit")
  }

  test("triangleStats equals a brute-force count on a generated graph") {
    // deterministic pseudo-random simple graph on 24 vertices
    val n = 24
    val es = for {
      i <- 0 until n; j <- (i + 1) until n
      if (i * 31 + j * 17) % 5 == 0
    } yield (i.toLong, j.toLong)
    val adj = es.flatMap { case (a, b) => Seq(a -> b, b -> a) }
      .groupBy(_._1).map { case (v, ps) => v -> ps.map(_._2).toSet }
    val brute = adj.map { case (v, nb) =>
      v -> nb.toSeq.combinations(2).count {
        case Seq(x, y) => adj(x).contains(y) }
    }
    val got = graft.ops.Graph.triangleStats(es.toDF("src", "dst"))
      .as[(Long, Long, Long, Double)].collect()
    assert(got.length == adj.size)
    got.foreach { case (v, deg, tri, coeff) =>
      assert(deg == adj(v).size, s"degree of $v")
      assert(tri == brute(v).toLong, s"triangles of $v: $tri != ${brute(v)}")
      val expect = if (deg < 2) 0.0 else 2.0 * tri / (deg * (deg - 1))
      assert(coeff == expect, s"clustering of $v")
    }
  }

  test("commonNeighborPairs ranks non-adjacent pairs by shared " +
    "neighbors with exact Jaccard, honors k, and caps hot apexes") {
    // path 1-2-3 plus 3-4: candidates (1,3) via 2 and (2,4) via 3
    val edges = Seq((1L, 2L), (2L, 3L), (3L, 4L)).toDF("src", "dst")
    val got = graft.ops.Graph.commonNeighborPairs(edges, k = 50)
      .as[(Long, Long, Long, Double)].collect().toSeq
    assert(got == Seq((1L, 3L, 1L, 0.5), (2L, 4L, 1L, 0.5)), s"got $got")
    val top1 = graft.ops.Graph.commonNeighborPairs(edges, k = 1)
      .as[(Long, Long, Long, Double)].collect().toSeq
    assert(top1 == Seq((1L, 3L, 1L, 0.5)))
    // apex cap: every wedge apex here has degree 2, so a cap of 1
    // removes all wedges — the documented bounded-fan-out undercount
    val capped = graft.ops.Graph.commonNeighborPairs(edges, k = 50,
      maxApexDegree = 1)
    assert(capped.count() == 0L)
  }

  test("kCore peels to the textbook core, keeps the round-count " +
    "contract, and is partition-invariant") {
    // triangle 1-2-3 with a tail 3-4-5: the 2-core is the triangle
    val edges = Seq((1L, 2L), (2L, 3L), (3L, 1L), (3L, 4L), (4L, 5L))
      .toDF("src", "dst")
    val got = graft.ops.Graph.kCore(edges, k = 2, rounds = 4)
      .as[(Long, Long)].collect().toMap
    assert(got == Map(1L -> 2L, 2L -> 2L, 3L -> 2L), s"got $got")
    // one round only peels the degree-1 leaf 5; 4 is still present in
    // the edge relation the final degrees are computed on, but its
    // degree drops below k, so only the triangle reports — the
    // round-count contract makes this state well-defined, not fuzzy
    val one = graft.ops.Graph.kCore(edges, k = 2, rounds = 1)
      .as[(Long, Long)].collect().toMap
    assert(one == Map(1L -> 2L, 2L -> 2L, 3L -> 3L), s"got $one")
    // k = 3: the triangle is not a 3-core (degrees 2) -> empty
    assert(graft.ops.Graph.kCore(edges, k = 3, rounds = 4).count() == 0L)
    val scrambled = graft.ops.Graph.kCore(
        edges.repartition(7, col("dst")), k = 2, rounds = 4)
      .as[(Long, Long)].collect().toMap
    assert(scrambled == got, "partitioning must not change one bit")
  }

  test("groupedHllEstimate equals the one-shot hllEstimate run per " +
    "group, registers and all") {
    val rows = (1 to 300).map(i => (s"g${i % 3}", s"u${i % 97}"))
      .toDF("grp", "item")
    val grouped = graft.ops.Sketch.groupedHllEstimate(rows, "grp")
      .as[(String, Long, Long, Long, Long, Double)].collect()
      .map(r => r._1 -> ((r._2, r._3, r._4, r._5, r._6))).toMap
    assert(grouped.keySet == Set("g0", "g1", "g2"))
    grouped.keySet.foreach { g =>
      val solo = graft.ops.Sketch.hllEstimate(
          rows.filter(col("grp") === g).select("item"))
        .as[(Long, Long, Long, Long, Double)].collect().head
      assert(grouped(g) == ((solo._1, solo._2, solo._3, solo._4, solo._5)),
        s"group $g: ${grouped(g)} != $solo")
    }
  }

  test("count-min sketch: estimates never undercount, collide upward " +
    "when the grid is tight, and are exact when it is loose") {
    val items = (1 to 400).map(i => (i % 37).toString).toDF("item")
    // tight grid (w = 4): collisions guaranteed -> some overestimates,
    // but NEVER an undercount (the defining guarantee)
    val tight = graft.ops.Sketch.countMinEstimates(items, d = 2, w = 4)
      .as[(String, Long, Long)].collect()
    assert(tight.forall { case (_, t, e) => e >= t },
      s"CMS must never undercount: ${tight.filter(r => r._3 < r._2).toSeq}")
    assert(tight.exists { case (_, t, e) => e > t },
      "a 37-item stream through 4 counters must collide somewhere")
    // loose grid: no row collides -> every estimate exact
    val loose = graft.ops.Sketch.countMinEstimates(items, d = 4, w = 4096)
      .as[(String, Long, Long)].collect()
    assert(loose.forall { case (_, t, e) => e == t },
      s"loose grid must be exact: ${loose.filter(r => r._3 != r._2).toSeq}")
    // true counts are the ground truth
    assert(loose.map(r => r._1 -> r._2).toMap ==
      (0 until 37).map(k => k.toString ->
        (1 to 400).count(_ % 37 == k).toLong).toMap)
  }

  test("count-min join size: never undercounts, exact on a loose grid, " +
    "collides upward on a tight one, zero-overlap joins estimate >= 0") {
    val a = (1 to 600).map(i => (i % 30).toString).toDF("item")   // 20 each
    val b = (1 to 300).map(i => (i % 20).toString).toDF("item")   // 15 each
    // exact join size: keys 0..19 shared, 20 * 15 each = 6000
    val loose = graft.ops.Sketch.countMinJoinSize(a, b, d = 4, w = 4096)
      .as[(Long, Long, Long, Long)].head()
    assert(loose._4 == 6000, s"exact must be 6000: $loose")
    assert(loose._3 == 6000, s"loose grid must estimate exactly: $loose")
    val tight = graft.ops.Sketch.countMinJoinSize(a, b, d = 2, w = 4)
      .as[(Long, Long, Long, Long)].head()
    assert(tight._3 >= tight._4,
      s"CMS join estimate must never undercount: $tight")
    assert(tight._3 > tight._4,
      s"30 and 20 keys through 4 buckets must collide somewhere: $tight")
    // disjoint key sets: exact 0; the estimate stays one-sided
    val c = (1 to 100).map(i => s"other$i").toDF("item")
    val disj = graft.ops.Sketch.countMinJoinSize(a, c, d = 4, w = 4096)
      .as[(Long, Long, Long, Long)].head()
    assert(disj._4 == 0 && disj._3 >= 0, s"disjoint: $disj")
    // single keys whose buckets share NOTHING in any row: a hash row
    // with disjoint occupancy has true inner product 0 and must reach
    // the min as 0 via the row spine — before the spine fix this case
    // made min-of-nothing NULL and the estimate a crash, not a bound
    val solo = graft.ops.Sketch.countMinJoinSize(
        Seq("alpha").toDF("item"), Seq("beta").toDF("item"),
        d = 4, w = 4096)
      .as[(Long, Long, Long, Long)].head()
    assert(solo._4 == 0 && solo._3 == 0,
      s"all-rows-disjoint singletons must estimate exactly 0: $solo")
  }

  test("bloom filter: no false negatives ever, false positives appear " +
    "when undersized, and filters merge by word-key BIT_OR") {
    val members = (1 to 300).map(i => s"m$i").toDF("v")
    val probes = ((1 to 300).map(i => s"m$i") ++
      (1 to 300).map(i => s"x$i")).toDF("v")
    // undersized (256 bits, 3 hashes, n=300): saturated enough to collide
    val words = graft.ops.Sketch.bloomWords(members, "v", 8, 3)
    val got = graft.ops.Sketch.bloomProbe(words, probes, "v", 8, 3)
      .as[(String, Boolean)].collect().toMap
    assert((1 to 300).forall(i => got(s"m$i")),
      "a member must NEVER probe negative")
    // sized comfortably (4096 bits for n=300): negatives mostly clean
    val big = graft.ops.Sketch.bloomWords(members, "v", 12, 3)
    val gotBig = graft.ops.Sketch.bloomProbe(big, probes, "v", 12, 3)
      .as[(String, Boolean)].collect().toMap
    assert((1 to 300).forall(i => gotBig(s"m$i")))
    assert((1 to 300).count(i => gotBig(s"x$i")) < 30,
      "a 4096-bit filter over 300 members must reject most non-members")
    // OR-merge: bloom(A ∪ B) == word-wise OR of bloom(A), bloom(B)
    val a = (1 to 150).map(i => s"m$i").toDF("v")
    val b = (151 to 300).map(i => s"m$i").toDF("v")
    val merged = graft.ops.Sketch.bloomWords(a, "v", 12, 3)
      .unionByName(graft.ops.Sketch.bloomWords(b, "v", 12, 3))
      .groupBy(col("word"))
      .agg(expr("bit_or(bits)").as("bits"))
      .as[(Long, Long)].collect().sorted.toSeq
    val whole = big.as[(Long, Long)].collect().sorted.toSeq
    assert(merged == whole, "OR-merge must equal the one-shot build")
    // partition invariance
    val scrambled = graft.ops.Sketch
      .bloomWords(members.repartition(7, col("v")), "v", 12, 3)
      .as[(Long, Long)].collect().sorted.toSeq
    assert(scrambled == whole, "partitioning must not change one bit")
  }

  test("mix57 native avalanche matches the BigInteger reference " +
    "across the 57-bit domain") {
    val MOD = BigInt(1) << 57
    def ref(x0: Long): Long = {
      def xs(x: Long) = x ^ (x >>> 29)
      def mul(x: Long, k: Long) = ((BigInt(x) * BigInt(k)) mod MOD).toLong
      xs(mul(xs(mul(xs(x0), graft.ops.Sketch.MixK1)),
        graft.ops.Sketch.MixK2))
    }
    val rnd = new scala.util.Random(7)
    val domain = Seq(0L, 1L, 2L, (1L << 57) - 1, 1L << 56,
      (1L << 56) - 1, (1L << 29) - 1, 1L << 29, 123456789L) ++
      (1 to 500).map(_ => rnd.nextLong() & ((1L << 57) - 1))
    val got = domain.toDF("x")
      .select(col("x"), graft.ops.Sketch.mix57(col("x")).as("m"))
      .as[(Long, Long)].collect().toMap
    domain.foreach(x => assert(got(x) == ref(x),
      s"x=$x: ${got(x)} != ${ref(x)}"))
  }

  test("bloomSemiJoin equals the plain semi join even when the filter " +
    "is saturated with false positives") {
    val fact = (1L to 500L).map(i => (i % 100, i)).toDF("k", "payload")
    val dim = Seq(3L, 7L, 42L, 99L).toDF("dk")
    val expect = fact.join(dim.select(col("dk").as("k")).distinct(),
        Seq("k"), "left_semi")
      .as[(Long, Long)].collect().sorted.toSeq
    // 32-bit filter over 4 keys x 3 hashes: plenty of collisions on the
    // 100-key probe domain; the residual join must erase them all
    val got = graft.ops.Sketch.bloomSemiJoin(fact, "k", dim, "dk",
        bitsLog2 = 5, k = 3)
      .as[(Long, Long)].collect().sorted.toSeq
    assert(got == expect, "bloom pruning must be invisible in the result")
    val roomy = graft.ops.Sketch.bloomSemiJoin(fact, "k", dim, "dk",
        bitsLog2 = 16, k = 3)
      .as[(Long, Long)].collect().sorted.toSeq
    assert(roomy == expect)
  }

  test("HLL intersection: inclusion-exclusion over register MAX-union " +
    "tracks the exact overlap and decomposes into the solo estimates") {
    val a = (1 to 3000).map(i => s"u$i").toDF("item")
    val b = (2000 to 5000).map(i => s"u$i").toDF("item")
    val got = graft.ops.Sketch.hllIntersection(a, b)
      .as[(Long, Long, Long, Long, Long, Long, Long, Double)].head()
    assert(got._1 == 64 && got._2 == 3000 && got._3 == 3001 &&
      got._4 == 1001, s"exact baseline wrong: $got")
    // decomposition: est_intersect == estA + estB - estU from the
    // one-shot estimator run on the same inputs
    def est(df: org.apache.spark.sql.DataFrame) =
      graft.ops.Sketch.hllEstimate(df)
        .as[(Long, Long, Long, Long, Double)].head()._5
    val expect = (est(a) + est(b)) -
      est(a.unionByName(b).distinct())
    assert(got._8 == expect, s"${got._8} != $expect")
    // envelope: m=64 one-sigma is ~13%; allow 3 sigma on the overlap
    assert(math.abs(got._8 - 1001.0) < 3 * 0.13 * 5000,
      s"estimate ${got._8} too far from 1001")
  }

  test("HLL: estimate lands within the m=64 error envelope, duplicates " +
    "change nothing, and the register relation is duplicate-insensitive") {
    val base = (1 to 5000).map(i => s"user$i").toDF("item")
    val one = graft.ops.Sketch.hllEstimate(base)
      .as[(Long, Long, Long, Long, Double)].head()
    assert(one._1 == 64 && one._2 == 5000)
    // standard error 1.04/sqrt(64) = 13%; allow 4 sigma
    assert(math.abs(one._5 - 5000) / 5000.0 < 0.52,
      s"estimate ${one._5} implausibly far from 5000")
    // inserting every element again changes NOTHING (registers are max)
    val dup = graft.ops.Sketch.hllEstimate(base.union(base))
      .as[(Long, Long, Long, Long, Double)].head()
    assert(dup == one, "HLL must be duplicate-insensitive")
  }

  test("KMV: unsaturated sketch is exact, saturated estimate lands in " +
    "the k=256 error envelope, duplicates change nothing") {
    val small = (1 to 100).map(i => s"user$i").toDF("item")
    val s0 = graft.ops.Sketch.kmvEstimate(small)
      .as[(Long, Long, Long, Long, Long)].head()
    assert(s0._1 == 256 && s0._2 == 100 && s0._4 == 100 && s0._5 == 100,
      s"unsaturated sketch must be exact: $s0")
    val base = (1 to 5000).map(i => s"user$i").toDF("item")
    val one = graft.ops.Sketch.kmvEstimate(base)
      .as[(Long, Long, Long, Long, Long)].head()
    assert(one._2 == 256 && one._5 == 5000)
    // KMV RSE ~ 1/sqrt(k-1) = 6.3%; allow 4 sigma
    assert(math.abs(one._4 - 5000) / 5000.0 < 0.25,
      s"estimate ${one._4} implausibly far from 5000")
    // re-inserting everything changes NOTHING (bottom-k of a set union
    // with itself) — the duplicate-insensitivity replays rely on
    val dup = graft.ops.Sketch.kmvEstimate(base.union(base))
      .as[(Long, Long, Long, Long, Long)].head()
    assert(dup == one, "KMV must be duplicate-insensitive")
    // NULLs are outside the sketch domain (the COUNT DISTINCT
    // convention): they change neither the kept set nor n_exact
    val withNulls = (1 to 100).map(i => Some(s"user$i")) ++
      Seq(None, None, None)
    val nn = graft.ops.Sketch.kmvEstimate(withNulls.toDF("item"))
      .as[(Long, Long, Long, Long, Long)].head()
    assert(nn == s0, s"NULL values must not enter the sketch: $nn != $s0")
  }

  test("KMV intersection: exact below saturation, deterministic " +
    "theta-threshold estimates in the envelope above it") {
    // both sides under k: theta = 2^57, everything exact
    val a0 = (1 to 100).map(i => s"user$i").toDF("item")
    val b0 = (51 to 150).map(i => s"user$i").toDF("item")
    val ex = graft.ops.Sketch.kmvIntersection(a0, b0)
      .as[(Long, Long, Long, Long, Long, Long, Long, Long)].head()
    assert(ex._2 == graft.ops.Sketch.MixMod, "unsaturated theta = domain")
    assert(ex._4 == 50 && ex._6 == 150 && ex._7 == 50 && ex._8 == 150,
      s"unsaturated intersection must be exact: $ex")
    // saturated: 50% overlap of two 5000-sets
    val a1 = (1 to 5000).map(i => s"user$i").toDF("item")
    val b1 = (2501 to 7500).map(i => s"user$i").toDF("item")
    val st = graft.ops.Sketch.kmvIntersection(a1, b1)
      .as[(Long, Long, Long, Long, Long, Long, Long, Long)].head()
    assert(st._7 == 2500 && st._8 == 7500)
    // ~k/3 intersection hashes below theta -> RSE ~ 11%; allow ~4 sigma
    assert(math.abs(st._4 - 2500) / 2500.0 < 0.5,
      s"est_inter ${st._4} implausibly far from 2500")
    assert(math.abs(st._6 - 7500) / 7500.0 < 0.5,
      s"est_union ${st._6} implausibly far from 7500")
    // determinism: the same inputs give the identical row
    val again = graft.ops.Sketch.kmvIntersection(a1, b1)
      .as[(Long, Long, Long, Long, Long, Long, Long, Long)].head()
    assert(again == st, "theta-sketch row must be deterministic")
  }

  test("grouped KMV equals the one-shot kmvEstimate run per group, " +
    "mixed saturation regimes and a NULL-only group included") {
    // group a: 5000 values (saturated at k=256); group b: 100 (exact);
    // group c: all NULL — outside the sketch domain, but still a group,
    // so it must emit the same (k, 0, null, 0, 0) row kmvEstimate
    // returns on its data alone (the r14 ADVICE equivalence gap)
    val rows = ((1 to 5000).map(i => ("a", Some(s"u$i"))) ++
      (1 to 100).map(i => ("b", Some(s"v$i"))) ++
      (1 to 3).map(_ => ("c", Option.empty[String]))).toDF("grp", "item")
    def checkPerGroup(in: org.apache.spark.sql.DataFrame,
                      groups: Seq[Option[String]]): Unit = {
      val grouped = graft.ops.Sketch.groupedKmvEstimate(in, "grp")
        .as[(Option[String], Long, Long, Option[Long], Long, Long)]
        .collect().map(r => r._1 -> ((r._2, r._3, r._4, r._5, r._6))).toMap
      assert(grouped.keySet == groups.toSet,
        s"NULL-only group must not drop: ${grouped.keySet}")
      for (g <- groups) {
        val solo = graft.ops.Sketch.kmvEstimate(in.filter(
            g.fold(col("grp").isNull)(col("grp") === _)).select("item"))
          .as[(Long, Long, Option[Long], Long, Long)].head()
        assert(grouped(g) == ((solo._1, solo._2, solo._3, solo._4, solo._5)),
          s"group $g: ${grouped(g)} != $solo")
      }
    }
    checkPerGroup(rows, Seq(Some("a"), Some("b"), Some("c")))
    // the same rows spread over 8 partitions, plus a NULL group key and
    // repeated values: each group's partial bottom-k buffers merge across
    // tasks, and a value repeated in several tasks must still occupy one
    // slot
    val spread = rows
      .union(((1 to 400).map(i => (null: String, Option(s"n${i % 300}"))) ++
        (1 to 2000).map(i => ("a", Option(s"u${i * 2}")))).toDF("grp", "item"))
      .repartition(8)
    checkPerGroup(spread, Seq(Some("a"), Some("b"), Some("c"), None))
  }

  test("theta difference: exact below saturation, and the set identity " +
    "n_only_a + n_only_b + n_inter = n_union holds against thetaAlgebra") {
    // unsaturated: everything exact
    val a0 = (1 to 150).map(i => s"u$i").toDF("item")
    val b0 = (101 to 200).map(i => s"u$i").toDF("item")
    val d0 = graft.ops.Sketch.kmvDifference(a0, b0)
      .as[(Long, Long, Long, Long, Long, Long, Long, Long)].head()
    assert(d0._2 == graft.ops.Sketch.MixMod, "unsaturated theta = domain")
    assert(d0._4 == 100 && d0._6 == 50, s"exact regime: $d0")
    assert(d0._7 == 100 && d0._8 == 50, s"exact audit: $d0")
    // saturated: the identity ties difference to the q226 algebra row
    val a1 = (1 to 5000).map(i => s"user$i").toDF("item")
    val b1 = (2501 to 7500).map(i => s"user$i").toDF("item")
    val ha = graft.ops.Sketch.kmvHashes(a1)
    val hb = graft.ops.Sketch.kmvHashes(b1)
    val alg = graft.ops.Sketch.thetaAlgebra(ha, hb, 256)
      .as[(Long, Long, Long, Long, Long, Long)].head()
    val dif = graft.ops.Sketch.thetaDifference(
        graft.ops.Sketch.kmvHashes(a1), graft.ops.Sketch.kmvHashes(b1), 256)
      .as[(Long, Long, Long, Long, Long, Long)].head()
    assert(dif._2 == alg._2, "shared theta must match thetaAlgebra")
    assert(dif._3 + dif._5 + alg._3 == alg._5,
      s"only_a ${dif._3} + only_b ${dif._5} + inter ${alg._3} " +
        s"!= union ${alg._5}")
    // estimates land near the truth (|A\B| = |B\A| = 2500, RSE ~ 11%)
    assert(math.abs(dif._4 - 2500) / 2500.0 < 0.5, s"est_only_a: $dif")
    assert(math.abs(dif._6 - 2500) / 2500.0 < 0.5, s"est_only_b: $dif")
  }

  test("theta overlap matrix: every pair row equals thetaAlgebra run on " +
    "that pair alone, zero-overlap pairs included") {
    val rows = ((1 to 3000).map(i => ("a", s"u$i")) ++
      (2001 to 5000).map(i => ("b", s"u$i")) ++
      (1 to 80).map(i => ("c", s"w$i"))) // c: disjoint, unsaturated
      .toDF("grp", "item")
    val got = graft.ops.Sketch.groupedKmvOverlapMatrix(rows, "grp")
      .as[(String, String, Long, Long, Long, Long, Long, Long, Long, Long)]
      .collect().map(r => (r._1, r._2) -> r).toMap
    assert(got.keySet == Set(("a", "b"), ("a", "c"), ("b", "c")),
      s"all pairs present: ${got.keySet}")
    for (((ga, gb), row) <- got) {
      val alg = graft.ops.Sketch.thetaAlgebra(
          graft.ops.Sketch.kmvHashes(
            rows.filter(col("grp") === ga).select("item")),
          graft.ops.Sketch.kmvHashes(
            rows.filter(col("grp") === gb).select("item")), 256)
        .as[(Long, Long, Long, Long, Long, Long)].head()
      assert((row._3, row._4, row._5, row._6, row._7, row._8) == alg,
        s"pair ($ga,$gb): matrix $row != pairwise $alg")
    }
    // exact audit: a∩b = 1000 shared users, c overlaps nothing
    assert(got(("a", "b"))._9 == 1000 && got(("a", "b"))._10 == 5000)
    assert(got(("a", "c"))._9 == 0 && got(("a", "c"))._10 == 3080)
    // the |G|² pair spine is loud-bounded like every store guard: a
    // group count past maxGroups fails with the count, and the
    // override is deliberate, not silent
    val boom = intercept[IllegalArgumentException] {
      graft.ops.Sketch.groupedKmvOverlapMatrix(rows, "grp", maxGroups = 2)
    }
    assert(boom.getMessage.contains("3 groups") &&
      boom.getMessage.contains("maxGroups"), boom.getMessage)
    assert(graft.ops.Sketch
      .groupedKmvOverlapMatrix(rows, "grp", maxGroups = 3).count() == 3L)
  }

  test("grouped histogram quantiles: per-group estimates within one bin " +
    "of the true quantiles; single-group form matches the ungrouped probe") {
    graft.core.CacheScope.scoped {
      val rows = (1 to 5000).map { i =>
        val g = if (i % 3 == 0) "a" else "b"
        val v = if (g == "a") (i % 40).toDouble else (i % 90).toDouble
        (g, v)
      }
      val fix = rows.toDF("g", "v")
      val got = graft.ops.Sketch.groupedHistogramQuantiles(
          fix, Seq("g"), "v", lo = 0.0, width = 1.0, bins = 128,
          pcts = Seq(50, 99))
        .as[(String, Long, Long, Long, Long, Double)].collect()
      assert(got.length == 4, s"2 groups x 2 pcts expected: ${got.toSeq}")
      for ((g, pct, _, _, total, est) <- got) {
        val vals = rows.filter(_._1 == g).map(_._2).sorted
        assert(total == vals.length)
        // true pct-quantile position: smallest v with rank*100 >= pct*n
        val idx = vals.indices.find(i => (i + 1) * 100 >= pct * vals.length).get
        assert(math.abs(est - vals(idx)) <= 1.0,
          s"group $g p$pct: est $est vs true ${vals(idx)}")
      }
      // a single constant group reproduces the ungrouped probe exactly
      val one = fix.withColumn("g", lit("x"))
      val grouped = graft.ops.Sketch.groupedHistogramQuantiles(
          one, Seq("g"), "v", 0.0, 1.0, 128, Seq(50, 95))
        .drop("g").as[(Long, Long, Long, Long, Double)].collect().toSet
      val ungrouped = graft.ops.Sketch.histogramQuantiles(
          one, "v", 0.0, 1.0, 128, Seq(50, 95))
        .as[(Long, Long, Long, Long, Double)].collect().toSet
      assert(grouped == ungrouped)
    }
  }

  test("novelty score: first contributor owns shared grams, later docs " +
    "score the fresh remainder, short docs emit nothing") {
    val fix = Seq(
      (10L, "a b c d"),      // grams "a b c","b c d" — both first here
      (20L, "a b c x"),      // "a b c" seen; "b c x" fresh -> 1/2
      (30L, "a b"),          // too short to shingle
      (40L, "b c x q r"))    // "b c x" seen; "c x q","x q r" fresh -> 2/3
      .toDF("doc_id", "text")
    val got = graft.llm.Dedup.noveltyScore(fix, w = 3)
      .as[(Long, Long, Long, Double)].collect()
      .map(r => r._1 -> ((r._2, r._3, r._4))).toMap
    assert(!got.contains(30L), "short docs emit no row")
    assert(got(10L) == ((2L, 2L, 1.0)))
    assert(got(20L) == ((2L, 1L, 0.5)))
    assert(got(40L) == ((3L, 2L, 2.0 / 3.0)))
  }

  test("last-touch attribution conserves mass: every purchase lands in " +
    "exactly one bucket and attributed cents sum to total purchase cents") {
    graft.core.CacheScope.scoped {
      val out = SparkEntry.queries("q184_last_touch")(spark, sfDir)
        .agg(sum("n_purchases"), sum("cents")).as[(Long, Long)].head()
      val want = graft.core.Tables.events(spark, sfDir)
        .filter(col("event_type") === "purchase")
        .agg(count(lit(1)),
          sum((col("value").cast("decimal(12,2)") * 100).cast("long")))
        .as[(Long, Long)].head()
      assert(out == want, s"attribution must conserve mass: $out != $want")
    }
  }

  test("calendar fill: dense item × corpus-day-span grid, observed rows " +
    "keep their counts, gaps carry the last observation forward") {
    graft.core.CacheScope.scoped {
      val out = SparkEntry.queries("q187_calendar_fill")(spark, sfDir)
        .as[(Long, Long, Long, Boolean)].collect()
      val items = out.map(_._1).distinct.length
      val days = out.map(_._2).distinct.sorted
      assert(days.zip(days.tail).forall { case (a, b) => b == a + 1 },
        "day spine must be gap-free")
      assert(out.length == items * days.length, "grid must be dense")
      // per item: clicks only changes at observed rows; filled rows
      // repeat the previous value (zero before first observation)
      out.groupBy(_._1).foreach { case (_, rows) =>
        var prev = 0L
        rows.sortBy(_._2).foreach { case (_, _, clicks, filled) =>
          if (filled) assert(clicks == prev, "fill must carry forward")
          prev = clicks
        }
      }
    }
  }

  test("MAD anomaly: med/mad are the exact lower medians and the flag is " +
    "the integer 3-MAD predicate") {
    graft.core.CacheScope.scoped {
      val out = SparkEntry.queries("q183_mad_anomaly")(spark, sfDir)
        .as[(Long, Long, Long, Long, Boolean)].collect()
      val cents = out.map(_._2).sorted
      val med = cents((cents.length + 1) / 2 - 1)
      val devs = out.map(r => math.abs(r._2 - med)).sorted
      val mad = devs((devs.length + 1) / 2 - 1)
      assert(out.forall(_._3 == med) && out.forall(_._4 == mad),
        s"lower medians must match driver recomputation ($med, $mad)")
      assert(out.forall(r => r._5 == (math.abs(r._2 - med) > 3 * mad)))
    }
  }

  test("linear attribution conserves mass exactly: equal split plus " +
    "remainder-to-last sums back to total purchase cents") {
    graft.core.CacheScope.scoped {
      val out = SparkEntry.queries("q189_linear_attribution")(spark, sfDir)
        .agg(sum("cents")).as[Long].head()
      val want = graft.core.Tables.events(spark, sfDir)
        .filter(col("event_type") === "purchase")
        .agg(sum((col("value").cast("decimal(12,2)") * 100).cast("long")))
        .as[Long].head()
      assert(out == want, s"credits must sum to purchase cents: $out != $want")
    }
  }

  test("new-vs-returning: new users sum to the user universe, the split " +
    "adds up per day, and day one is all-new") {
    graft.core.CacheScope.scoped {
      val out = SparkEntry.queries("q190_new_vs_returning")(spark, sfDir)
        .as[(Long, Long, Long, Long)].collect().sortBy(_._1)
      val users = graft.core.Tables.events(spark, sfDir)
        .select("user_id").distinct().count()
      assert(out.map(_._3).sum == users,
        "every user is new exactly once")
      assert(out.forall(r => r._2 == r._3 + r._4),
        "active = new + returning per day")
      assert(out.head._4 == 0L, "nobody returns on the first corpus day")
    }
  }

  test("spend gini matches a driver-side recomputation and lands in [0, 1)") {
    graft.core.CacheScope.scoped {
      val (n, total, num, gini) =
        SparkEntry.queries("q191_spend_gini")(spark, sfDir)
          .as[(Long, Long, Long, Double)].head()
      val spend = graft.core.Tables.orders(spark, sfDir)
        .groupBy("o_custkey")
        .agg((sum(col("o_totalprice").cast("decimal(18,2)")) * 100)
          .cast("long").as("cents"))
        .select("o_custkey", "cents").as[(Long, Long)].collect()
        .sortBy(c => (c._2, c._1)).map(_._2)
      val wantNum = 2L * spend.zipWithIndex
        .map { case (x, i) => (i + 1L) * x }.sum -
        (spend.length + 1L) * spend.sum
      assert(n == spend.length && total == spend.sum && num == wantNum)
      assert(gini >= 0.0 && gini < 1.0, s"gini out of range: $gini")
    }
  }

  test("top-freq store: merged epochs honor the MG bound — no overcount, " +
    "undercount <= n/(k+1), every item above the threshold survives; " +
    "mixed-k appends fail loud") {
    val dir = java.nio.file.Files
      .createTempDirectory("graft_topfreq").toString
    val store = s"$dir/store"
    // skewed fixture: item h<i> appears 2^(12-i) times (i = 0..9) over a
    // bed of 500 singletons; interleaved round-robin into 3 epochs
    val rows = ((0 to 9).flatMap(i =>
      Seq.fill(1 << (12 - i))(s"h$i")) ++
      (1 to 500).map(i => s"s$i")).zipWithIndex
    val k = 8
    val epochs = (0 until 3).map(e =>
      rows.collect { case (it, idx) if idx % 3 == e => it })
    graft.ops.Scale.writeTopFreqStore(epochs(0).toDS(), store, 0L, k)
    graft.ops.Scale.appendTopFreqStore(epochs(1).toDS(), store, 1L, k)
    graft.ops.Scale.appendTopFreqStore(epochs(2).toDS(), store, 2L, k)
    val est = graft.ops.Scale.mergedHeavyHitters(spark, store)
      .as[(String, Long)].collect().toMap
    val exact = rows.map(_._1).groupBy(identity).view.mapValues(_.size.toLong)
    val n = rows.size.toLong
    val budget = n / (k + 1)
    assert(est.forall { case (it, c) => c <= exact(it) },
      "MG counters never overcount")
    assert(est.forall { case (it, c) => exact(it) - c <= budget },
      s"undercount must stay within n/(k+1) = $budget")
    val mustSurvive = exact.filter(_._2 > budget).keySet
    assert(mustSurvive.nonEmpty, "fixture must have guaranteed hitters")
    assert(mustSurvive.subsetOf(est.keySet),
      s"items above n/(k+1) must be present: missing ${mustSurvive -- est.keySet}")
    // at-least-once replay: re-appending an epoch REWRITES its partition
    // (dynamic overwrite) instead of adding a second summary that the
    // ADD-merge would double-count — the never-overcount half of the MG
    // contract must survive a replayed epoch
    graft.ops.Scale.appendTopFreqStore(epochs(1).toDS(), store, 1L, k)
    val replayed = graft.ops.Scale.mergedHeavyHitters(spark, store)
      .as[(String, Long)].collect().toMap
    assert(spark.read.parquet(store).select("epoch").distinct().count() == 3,
      "a replayed epoch must not mint a new one")
    assert(replayed.forall { case (it, c) => c <= exact(it) },
      "MG counters never overcount, even after an epoch replay")
    intercept[IllegalArgumentException] {
      graft.ops.Scale.appendTopFreqStore(Seq("x").toDS(), store, 9L, k + 1)
    }
    // CMS, the other ADD family, rides the same replay layout. Its
    // counters are deterministic, so the merge is checked for bit
    // identity: the epochs merge to the one-shot countMinEstimates of
    // their union, and an epoch span to that of its own epochs
    val cms = s"$dir/cms"
    val slabs = epochs.map(_.toDF("item"))
    def cmsAppend(e: Int, slab: org.apache.spark.sql.DataFrame,
                  w: Int = 32): Unit =
      if (e == 0) graft.ops.Sketch.writeCmsStore(slab, cms, 0L, d = 4, w = w)
      else graft.ops.Sketch.appendCmsStore(slab, cms, e.toLong, d = 4, w = w)
    slabs.zipWithIndex.foreach { case (slab, e) => cmsAppend(e, slab) }
    def cmsMerged(span: org.apache.spark.sql.Column = lit(true)) =
      graft.ops.Sketch.mergedCmsEstimates(spark, cms,
          rows.map(_._1).distinct.toDF("item"), epochFilter = span)
        .as[(String, Long)].collect().toMap
    def cmsOneShot(parts: Seq[org.apache.spark.sql.DataFrame]) =
      graft.ops.Sketch.countMinEstimates(parts.reduce(_ union _), d = 4,
          w = 32)
        .select("item", "est_cnt").as[(String, Long)].collect().toMap
    val cmsAll = cmsMerged()
    assert(cmsAll == cmsOneShot(slabs),
      "merged CMS epochs must equal the one-shot sketch of their union")
    val late = slabs.drop(1).reduce(_ union _).distinct()
      .as[String].collect().toSet
    assert(cmsMerged(col("epoch") >= 1L).filter(c => late(c._1)) ==
      cmsOneShot(slabs.drop(1)),
      "an epoch span must merge to the one-shot sketch of its epochs")
    // re-appending epoch 1 rewrites its own epoch=1 partition: the same
    // slab leaves every estimate unchanged, and a re-delivered epoch 1
    // carrying other rows REPLACES the old slab instead of adding to it
    cmsAppend(1, slabs(1))
    assert(cmsMerged() == cmsAll, "a replayed CMS epoch must not add")
    cmsAppend(1, slabs(2))
    val redelivered = cmsOneShot(Seq(slabs(0), slabs(2), slabs(2)))
    assert(cmsMerged().filter(c => redelivered.contains(c._1)) ==
      redelivered, "a re-delivered epoch must replace its own partition")
    assert(spark.read.parquet(cms).select("epoch").distinct().count() == 3)
    // geometry drift fails loud
    intercept[IllegalArgumentException](cmsAppend(3, slabs(0), w = 64))
  }

  test("SCD intervals tile each user's timeline: half-open chain with no " +
    "gaps, one open current version per user, consecutive tiers differ") {
    graft.core.CacheScope.scoped {
      val rows = SparkEntry.queries("q194_scd_intervals")(spark, sfDir)
        .as[(Long, Long, Long, Option[Long])].collect()
      assert(rows.nonEmpty)
      rows.groupBy(_._1).foreach { case (u, rs) =>
        val chain = rs.sortBy(_._3)
        chain.sliding(2).foreach {
          case Array((_, t1, _, to1), (_, t2, from2, _)) =>
            assert(to1.contains(from2),
              s"user $u: intervals must abut half-open")
            assert(t1 != t2, s"user $u: consecutive versions must differ")
          case _ => ()
        }
        assert(chain.last._4.isEmpty && chain.init.forall(_._4.nonEmpty),
          s"user $u: exactly the last version is open")
      }
    }
  }

  test("eventsDayPartitioned twin: regenerating the dataset sweeps the " +
    "cache (fingerprint key), and racing builders serialize on the lock") {
    val tmp = java.nio.file.Files.createTempDirectory("graft_evtwin")
      .toString
    val gen1 = Tables.events(spark, sfDir)
    gen1.write.mode("overwrite").parquet(s"$tmp/events.parquet")
    val n1 = Tables.eventsDayPartitioned(spark, tmp).count()
    assert(n1 == gen1.count(), s"twin must re-layout all rows: $n1")
    // regenerate the dataset at the SAME path with half the rows: the
    // twin must follow (the r15 ADVICE stale-cache divergence — the old
    // done-marker key served generation-1 partitions forever)
    val gen2 = gen1.filter(col("event_id") % 2 === 0).localCheckpoint()
    gen2.write.mode("overwrite").parquet(s"$tmp/events.parquet")
    val n2 = Tables.eventsDayPartitioned(spark, tmp).count()
    assert(n2 == gen2.count() && n2 < n1,
      s"regeneration must sweep the twin: got $n2, want ${gen2.count()}")
    // two builders racing the FIRST build of a fresh dataset: the OS
    // file lock + tmp-dir/atomic-rename protocol makes both land on the
    // same complete twin (same JVM here, but the code path is the
    // cross-process one: lock, build to __tmp, rename with marker inside)
    val tmp2 = java.nio.file.Files.createTempDirectory("graft_evtwin2")
      .toString
    gen1.write.mode("overwrite").parquet(s"$tmp2/events.parquet")
    import scala.concurrent.{Await, Future}
    import scala.concurrent.duration._
    import scala.concurrent.ExecutionContext.Implicits.global
    val counts = Await.result(Future.sequence((1 to 2).map(_ =>
      Future(Tables.eventsDayPartitioned(spark, tmp2).count()))), 120.seconds)
    assert(counts.toSet == Set(n1), s"racing builders disagree: $counts")
  }

  test("atMostRows probe short-circuits: the cutover decision pulls " +
    "O(bound) rows, never a full pass (r16 VERDICT item)") {
    val acc = spark.sparkContext.longAccumulator("rows_scanned")
    val n = 100000L
    val big = spark.range(n).map { x => acc.add(1); x }.toDF("src")
    // a probe at bound 50 must answer false after pulling ~51 rows —
    // allow the limit executor's partition scale-up some slack, but
    // nothing near the full relation
    assert(!graft.ops.Scale.atMostRows(big, 50L))
    assert(acc.value <= 1000L,
      s"probe scanned ${acc.value} rows of $n — the limit did not " +
        "short-circuit")
    // correctness at the boundary: bound = n-1 is false, bound = n true
    acc.reset()
    assert(!graft.ops.Scale.atMostRows(big, n - 1))
    assert(graft.ops.Scale.atMostRows(big, n))
  }

  test("fileless stores read as empty, not UNABLE_TO_INFER_SCHEMA: a " +
    "uniform rotation legitimately empties an MG summary, and an empty " +
    "first batch writes a CMS store with zero rows (r17 review " +
    "fallout)") {
    import spark.implicits._
    val base = java.nio.file.Files.createTempDirectory("graft_fileless")
      .toString
    // 5 uniformly rotating items against k=4 counters: every 5th
    // arrival decrements all four, so the final summary is EMPTY —
    // correct MG behavior ("nothing is frequent"), and the partitioned
    // write of an empty frame creates a dir with no parquet files
    val tf = base + "/tf"
    graft.ops.Scale.writeTopFreqStore(
      (1 to 50).map(i => s"w${i % 5}").toDS(), tf, epoch = 0L, k = 4)
    assert(graft.ops.Scale.mergedHeavyHitters(spark, tf).isEmpty,
      "an empty summary store answers its empty relation")
    // appends into the fileless store work, and reads then see them
    graft.ops.Scale.appendTopFreqStore(
      (Seq.fill(30)("hot") ++ (1 to 5).map(i => s"x$i")).toDS(),
      tf, epoch = 1L, k = 4)
    val hh = graft.ops.Scale.mergedHeavyHitters(spark, tf)
      .as[(String, Long)].collect().toMap
    assert(hh.contains("hot") && hh("hot") > 0L, s"$hh")
    // CMS store written from an EMPTY first batch (empty first
    // micro-batch in a runner): fileless, must read as empty and
    // accept the next epoch
    val cms = base + "/cms"
    graft.ops.Sketch.writeCmsStore(
      spark.emptyDataset[String].toDF("item"), cms, epoch = 0L,
      d = 4, w = 32)
    assert(graft.ops.Sketch.mergedCmsEstimates(spark, cms,
        Seq("x").toDF("item")).as[(String, Long)].head() == (("x", 0L)))
    graft.ops.Sketch.appendCmsStore(
      Seq.fill(7)("x").toDF("item"), cms, epoch = 1L, d = 4, w = 32)
    assert(graft.ops.Sketch.mergedCmsEstimates(spark, cms,
        Seq("x").toDF("item")).as[(String, Long)].head() == (("x", 7L)))
  }

  test("CMS probe of unseen items: empty cells read as 0 (never another " +
    "item's collision mass alone), and every probe emits a row (r17 " +
    "review — the countMinJoinSize spine argument applied to the store)") {
    val dir = java.nio.file.Files.createTempDirectory("graft_cmsprobe")
      .toString + "/store"
    graft.ops.Sketch.writeCmsStore(
      Seq.fill(5)("present").toDF("item"), dir, epoch = 0L, d = 4, w = 32)
    val probes = Seq("present", "absent_a", "absent_b", "absent_c",
      "absent_d", "absent_e").toDF("item")
    val got = graft.ops.Sketch.mergedCmsEstimates(spark, dir, probes)
      .as[(String, Long)].collect().toMap
    assert(got.size == 6, s"every probe must emit a row: $got")
    assert(got("present") == 5L)
    // one item occupies at most d cells of the d*32 grid; an unseen
    // probe needs ALL d of its cells to collide to report mass, which
    // five absent probes against one 4-cell footprint cannot all do
    assert(got.exists { case (k, v) => k.startsWith("absent") && v == 0L },
      s"an unseen probe with an empty cell must answer 0: $got")
    assert(got.forall(_._2 >= 0L))
  }

  test("URL canonicalization table: fragments, default ports, tracking " +
    "params, trailing slashes, case rules — q244's operator") {
    val cases = Seq(
      ("HTTP://WWW.Ex.COM:80/A/b/?utm_source=x&id=3&fbclid=f#frag",
        "http://www.ex.com/A/b?id=3", "www.ex.com"),
      ("https://Host.Org:443/", "https://host.org", "host.org"),
      // non-default ports are NOT stripped
      ("https://host.org:8443/p", "https://host.org:8443/p", "host.org"),
      // surviving params keep their relative order
      ("http://h.io/path/?b=2&a=1", "http://h.io/path?b=2&a=1", "h.io"),
      // all-tracking query: the '?' goes too
      ("http://h.io/x?utm_a=1&utm_b=2", "http://h.io/x", "h.io"),
      // r17 ADVICE: the KEY match is case-insensitive — UTM_SOURCE and
      // GCLID are the same tracker tags; surviving VALUES keep case
      ("http://h.io/x?UTM_SOURCE=a&Id=3&GCLID=g9&uTm_medium=Em",
        "http://h.io/x?Id=3", "h.io"),
      ("http://h.io//", "http://h.io", "h.io"),
      // path case is significant and preserved; only scheme+host fold
      ("http://CaSe.Net/KeepCase/Path", "http://case.net/KeepCase/Path",
        "case.net"))
    val got = graft.llm.Dedup.canonicalizeUrls(
        cases.zipWithIndex.map { case ((u, _, _), i) => (i.toLong, u) }
          .toDF("doc_id", "url"))
      .select("doc_id", "canonical_url", "host")
      .as[(Long, String, String)].collect().sortBy(_._1)
    cases.zipWithIndex.foreach { case ((u, cu, h), i) =>
      assert(got(i)._2 == cu && got(i)._3 == h,
        s"$u -> (${got(i)._2}, ${got(i)._3}), want ($cu, $h)")
    }
    // the composed dedup: three variants of one page collapse to the
    // min-id copy; kept = canonical AND inside the host cap
    val docs = Seq(
      (1L, "http://a.com/p?utm_x=1", "t1"),
      (2L, "HTTP://A.COM:80/p#z", "t2"),
      (3L, "http://a.com/p/", "t3"),
      (4L, "http://b.com/q", "t4")).toDF("doc_id", "url", "text")
    val dd = graft.llm.Dedup.urlCanonicalDedup(docs, cap = 10)
      .as[(Long, String, String, Long, Boolean, Boolean)].collect()
      .map(r => r._1 -> r).toMap
    assert(dd(1L)._2 == "http://a.com/p" && dd(1L)._4 == 1L &&
      dd(1L)._5 && dd(1L)._6, s"${dd(1L)}")
    assert(dd(2L)._4 == 1L && !dd(2L)._5 && !dd(2L)._6, s"${dd(2L)}")
    assert(dd(3L)._4 == 1L && !dd(3L)._5, s"${dd(3L)}")
    assert(dd(4L)._4 == 4L && dd(4L)._5 && dd(4L)._6, s"${dd(4L)}")
  }

  test("store epoch-id hygiene (r17 ADVICE): negative caller epochs are " +
    "rejected at every write/append entry point of the three store " +
    "families") {
    val base = java.nio.file.Files.createTempDirectory("graft_negep")
      .toString
    val items = Seq("a", "b").toDF("item")
    def rejected(f: => Unit): Unit = {
      val e = intercept[IllegalArgumentException](f)
      assert(e.getMessage.contains("epoch must be >= 0"), e.getMessage)
    }
    rejected(graft.ops.Sketch.writeCmsStore(items, base + "/c", epoch = -1L))
    rejected(graft.ops.Sketch.writeBloomStore(items, base + "/b",
      epoch = -2L))
    rejected(graft.ops.Scale.writeTopFreqStore(
      Seq("a").toDS(), base + "/tf", epoch = -1L, k = 4))
    // appends too — a valid store first, then the negative epoch
    graft.ops.Sketch.writeCmsStore(items, base + "/c2", epoch = 0L)
    rejected(graft.ops.Sketch.appendCmsStore(items, base + "/c2",
      epoch = -1L))
    graft.ops.Sketch.writeBloomStore(items, base + "/b2", epoch = 0L)
    rejected(graft.ops.Sketch.appendBloomStore(items, base + "/b2",
      epoch = -1L))
    graft.ops.Scale.writeTopFreqStore(Seq("a").toDS(), base + "/tf2",
      epoch = 0L, k = 4)
    rejected(graft.ops.Scale.appendTopFreqStore(Seq("a").toDS(),
      base + "/tf2", epoch = -1L, k = 4))
  }

  test("fingerprint-keyed temp-store caches (r17 ADVICE / VERDICT #5): " +
    "regenerating a dataset at the same path in one JVM rebuilds the " +
    "CMS store instead of serving stale estimates") {
    val tmp = java.nio.file.Files.createTempDirectory("graft_cmsfp")
      .toString
    def gen(ks: Seq[Long]): Unit =
      ks.map(k => ("view", s"""{"k":$k}""",
          java.sql.Timestamp.valueOf("2024-01-01 00:00:00")))
        .toDF("event_type", "props", "ts").repartition(1)
        .write.mode("overwrite").parquet(s"$tmp/events.parquet")
    gen(Seq.fill(7)(1L) ++ Seq.fill(3)(2L))
    val got1 = graft.queries.RankQueries.cmsStoreSpan(spark, tmp)
      .as[(Long, Long, Long)].collect().map(r => r._1 -> (r._2, r._3)).toMap
    assert(got1.keySet == Set(1L, 2L) && got1(1L)._1 == 7L &&
      got1.forall { case (_, (t, e)) => e >= t }, s"$got1")
    // regenerate at the SAME path with different items: the old
    // dir-string key would serve the generation-1 store, and item 9's
    // probe would answer 0 against its true count of 4
    Thread.sleep(1100) // mtime granularity floor for the fingerprint
    gen(Seq.fill(4)(9L))
    val got2 = graft.queries.RankQueries.cmsStoreSpan(spark, tmp)
      .as[(Long, Long, Long)].collect().map(r => r._1 -> (r._2, r._3)).toMap
    assert(got2.keySet == Set(9L), s"$got2")
    assert(got2(9L) == ((4L, 4L)),
      s"a fresh single-item store answers exactly: ${got2(9L)}")
  }

  test("store families: each writes its exact layout record, CMS and " +
    "top-freq partition by epoch, and every other family's merged " +
    "reader refuses the store by name") {
    import graft.ops.{Scale, Sketch}
    val base = java.nio.file.Files.createTempDirectory("graft_families")
      .toString
    val items = Seq("a", "b", "c").toDF("item")
    // (family, writer, appender, exact layout record)
    val writers: Seq[(String, String => Unit, String => Unit, String)] = Seq(
      ("bloom", Sketch.writeBloomStore(items, _, 1L),
        Sketch.appendBloomStore(items, _, 2L), "bits=12,k=3"),
      ("CMS", Sketch.writeCmsStore(items, _, 1L),
        Sketch.appendCmsStore(items, _, 2L), "cmsd=4,cmsw=64"),
      ("top-freq", Scale.writeTopFreqStore(Seq("a", "a", "b").toDS(), _,
        1L, 64), Scale.appendTopFreqStore(Seq("a").toDS(), _, 2L, 64),
        "tfk=64"))
    val readers: Map[String, String => org.apache.spark.sql.DataFrame] = Map(
      "bloom" -> (Sketch.mergedBloomWords(spark, _)),
      "CMS" -> (Sketch.mergedCmsEstimates(spark, _, items)),
      "top-freq" -> (Scale.mergedHeavyHitters(spark, _)))
    for ((family, write, append, layout) <- writers) {
      val path = s"$base/${family.replace(' ', '_')}"
      // appending to a path with no layout record fails loud
      val bare = intercept[IllegalArgumentException](append(path))
      assert(bare.getMessage.contains("no layout record"), bare.getMessage)
      write(path)
      val lp = new org.apache.hadoop.fs.Path(path, "_graft_layout")
      val fs = lp.getFileSystem(spark.sparkContext.hadoopConfiguration)
      val in = fs.open(lp)
      val recorded = try new String(in.readAllBytes(),
        java.nio.charset.StandardCharsets.UTF_8) finally in.close()
      assert(recorded == layout + "\n", s"$family layout: '$recorded'")
      assert(fs.exists(new org.apache.hadoop.fs.Path(path, "epoch=1")) ==
        Set("CMS", "top-freq").contains(family),
        s"$family: only the self-overwriting families write epoch=<id> dirs")
      assert(readers(family)(path).count() > 0L, s"$family reads itself")
      for ((other, read) <- readers if other != family) {
        val err = intercept[IllegalArgumentException](read(path))
        assert(err.getMessage.contains(s"not a $other store"),
          s"$other reader on a $family store: ${err.getMessage}")
      }
    }
  }

  /** The offline dashboard in the reference's join form
    * (`OfflineJob.java:376-523`), as [[OfflineMetrics.metricsWide]] spelled
    * it before it read two fine aggregates: per-scene totals with
    * count-distincts, the full-outer CTR-abnormal aggregates, the error
    * counts and the last two days' users, each left-joined per scene. */
  private def joinFormMetrics(events: DataFrame): DataFrame = {
    import OfflineMetrics.{actionLog, ctrAbnormal}
    def floorTiny(c: Column) = when(c < 1e-5, 0.0).otherwise(c)
    val log = actionLog(events)
    val totals = log.groupBy("scene").agg(
      countDistinct(col("user_id")).as("uv"),
      countDistinct(col("item")).as("item_uv"),
      sum(when(col("action") === "click", 1L).otherwise(0L)).as("click_pv"))
    val userAb = ctrAbnormal(log, "user_id")
      .select(col("scene"), col("abnormal_count").as("ab_users"),
        col("detail_sum").as("ab_user_clicks"))
    val itemAb = ctrAbnormal(log, "item")
      .select(col("scene"), col("abnormal_count").as("ab_items"),
        col("detail_sum").as("ab_item_clicks"))
    val errors = log.groupBy("scene").agg(
      sum(when(col("action") === "error", 1L).otherwise(0L)).as("err_pv"),
      count(lit(1)).as("all_pv"))
    val byDay = log.select(col("scene"), col("user_id"),
      to_date(col("ts")).as("day")).distinct()
    val days = byDay.agg(max("day").as("today")).withColumn(
      "yesterday", date_sub(col("today"), 1))
    val dated = byDay.join(broadcast(days), byDay("day") === days("today") ||
      byDay("day") === days("yesterday"))
    val yest = dated.filter(col("day") === col("yesterday"))
      .select(col("scene").as("y_scene"), col("user_id").as("y_user"))
    val today = dated.filter(col("day") === col("today"))
      .select(col("scene").as("t_scene"), col("user_id").as("t_user"))
    val fluct = yest.join(today,
        col("y_scene") === col("t_scene") && col("y_user") === col("t_user"),
        "left_outer")
      .groupBy(col("y_scene").as("scene"))
      .agg((sum(when(col("t_user").isNull, 1L).otherwise(0L)).cast("double") /
        count(lit(1))).as("user_fluctuate_ratio"))
    def ratio(num: String, den: String) =
      floorTiny(coalesce(col(num).cast("double") / col(den), lit(0.0)))
    totals
      .join(broadcast(userAb), Seq("scene"), "left_outer")
      .join(broadcast(itemAb), Seq("scene"), "left_outer")
      .join(broadcast(errors), Seq("scene"), "left_outer")
      .join(broadcast(fluct), Seq("scene"), "left_outer")
      .select(col("scene"),
        ratio("err_pv", "all_pv").as("transfor_error_ratio"),
        ratio("ab_users", "uv").as("abnormal_user_ratio"),
        ratio("ab_user_clicks", "click_pv").as("abnormal_user_click_ratio"),
        ratio("ab_items", "item_uv").as("abnormal_item_ratio"),
        ratio("ab_item_clicks", "click_pv").as("abnormal_item_click_ratio"),
        coalesce(col("user_fluctuate_ratio"), lit(0.0)).as("user_fluctuate_ratio"))
  }

  test("metricsWide equals the reference's join form on the NULL keys and " +
    "edge cases no events table holds") {
    def at(day: String) =
      java.sql.Timestamp.from(java.time.Instant.parse(s"${day}T12:00:00Z"))
    val (d0, d1, d2) = ("2023-12-31", "2024-01-01", "2024-01-02")
    def ev(user: java.lang.Long, action: String, day: String,
           item: java.lang.Integer, times: Int = 1) =
      Seq.fill(times)((Option(user).map(_.longValue), action, at(day),
        Option(item).map(k => s"""{"k": $k}""")))
    val rows =
      // scene 1: u1 on both days, CTR 1.0 on item 10 and on a NULL item
      // (the join form keeps (1, NULL)'s shows and clicks on two rows, so
      // never abnormal); u6 only errors, on the day before the last; u11 a
      // click with no view
      ev(1L, "view", d1, 10) ++ ev(1L, "view", d2, 10) ++
      ev(1L, "click", d2, 10) ++ ev(1L, "view", d2, null) ++
      ev(1L, "click", d2, null) ++ ev(6L, "error", d1, null, times = 2) ++
      ev(11L, "click", d2, 12) ++
      // scene 2: u2's CTR is exactly 0.2 (not abnormal), u7 a view with no
      // click and an error
      ev(2L, "view", d1, 11, times = 5) ++ ev(2L, "click", d1, 11) ++
      ev(7L, "view", d2, 13) ++ ev(7L, "error", d1, null) ++
      // scene 3: views only, no click in the scene; scene 4: a user seen
      // two days before the last only
      ev(3L, "view", d2, 14, times = 3) ++ ev(4L, "view", d0, 10) ++
      // the NULL scene: a NULL user with shows and clicks on item 10
      ev(null, "view", d1, 10) ++ ev(null, "view", d2, 10) ++
      ev(null, "click", d2, 10)
    val events = rows.toDF("user_id", "event_type", "ts", "props")
    def same(evs: DataFrame): Seq[Row] = {
      def sorted(df: DataFrame) = df.collect().toSeq
        .sortBy(r => if (r.isNullAt(0)) None else Some(r.getLong(0)))
      val got = graft.core.CacheScope.scoped(sorted(OfflineMetrics.metricsWide(evs)))
      val want = sorted(joinFormMetrics(evs))
      assert(got == want, s"\ngot  ${got.mkString("\n     ")}" +
        s"\nwant ${want.mkString("\n     ")}")
      got
    }
    val all = same(events)
    assert(all.map(r => Option(r.get(0))) ==
      Seq(None, Some(1L), Some(2L), Some(3L), Some(4L)))
    assert(all.head.toSeq.tail.forall(_ == 0.0), s"the NULL scene: ${all.head}")
    val scene1 = all(1)
    assert(scene1.getDouble(2) == 1.0 / 3 && scene1.getDouble(4) == 0.5 &&
      scene1.getDouble(6) == 0.5, s"scene 1: $scene1")
    assert(all(2).getDouble(2) == 0.0 && all(2).getDouble(6) == 0.5,
      s"scene 2: ${all(2)}")
    val lastDay = same(events.filter(to_date(col("ts")) === d2))
    assert(lastDay.size == 4 && lastDay.forall(_.getDouble(6) == 0.0))
    assert(same(events.limit(0)).isEmpty)
  }
}
