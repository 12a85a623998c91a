package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.core.Tables
import graft.llm.{Dedup, Multimodal, Retrieval, Similarity, TextAnalysis}
import graft.ops.Scale.Cutover

/** LLM-operator behavior tests: LSH candidate recall vs exact ground truth,
  * SimHash near-dup detection, ANN recall vs brute force, multimodal
  * plumbing shapes.
  */
class LlmOpsSpec extends SparkSpecBase {
  import spark.implicits._

  private lazy val docs = Tables.documents(spark, sfDir)

  test("prefix-filter Jaccard equals the exhaustive exact pairs at two " +
    "thresholds, and the prefix relation is genuinely smaller") {
    for ((num, den, tau) <- Seq((1, 2, 0.5), (4, 5, 0.8))) {
      graft.core.CacheScope.scoped {
        val exact = Dedup.ngramJaccardPairs(docs, w = 3, tau = tau)
          .as[(Long, Long, Double)].collect().toSet
        val pf = Dedup.prefixFilterJaccardPairs(docs, w = 3,
            tauNum = num, tauDen = den)
          .as[(Long, Long, Double)].collect().toSet
        assert(pf == exact,
          s"tau=$num/$den: missing ${(exact -- pf).take(3)}, " +
            s"extra ${(pf -- exact).take(3)}")
        assert(exact.nonEmpty, "fixture must contain near-dup pairs")
      }
    }
    // the filter must actually filter: at tau=0.8 each doc's prefix is
    // |s|-ceil(0.8|s|)+1 ~ 0.2|s| of its shingles
    graft.core.CacheScope.scoped {
      val sh = Dedup.shingles(docs, 3).filter(col("shingle").isNotNull)
      val total = sh.count()
      val df = sh.groupBy(col("shingle")).agg(count(lit(1)).as("__df"))
      val sz = sh.groupBy(col("doc_id")).agg(count(lit(1)).as("sz"))
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy(col("doc_id")).orderBy(col("__df"), col("shingle"))
      val prefixRows = sh.join(df, "shingle")
        .withColumn("__rn", row_number().over(w)).join(sz, "doc_id")
        .filter(col("__rn") <= col("sz") - expr("(sz * 4 + 4) div 5") + 1)
        .count()
      assert(prefixRows * 3 < total,
        s"prefix kept $prefixRows of $total shingle rows — not filtering")
    }
  }

  test("minhash-LSH finds the high-jaccard pairs the exact pass finds") {
    val exact = Dedup.ngramJaccardPairs(docs, w = 3, tau = 0.8)
      .select("id_a", "id_b").as[(Long, Long)].collect().toSet
    val lsh = Dedup.minHashDedupPairs(docs, w = 3, tau = 0.8)
      .select("id_a", "id_b").as[(Long, Long)].collect().toSet
    assert(exact.nonEmpty, "test data should contain planted near-dups")
    // verified-LSH output is a subset of exact by construction; at jaccard
    // ≥0.8 with 16 bands × 4 rows the miss probability is ~(1-0.8^4)^16 ≈ 2e-5
    assert(lsh.subsetOf(exact))
    assert(lsh == exact, s"LSH missed ${exact -- lsh}")
  }

  test("simhash flags identical docs and separates unrelated ones") {
    val base = "the quick brown fox jumps over the lazy dog again and again " * 5
    val d = Seq((1L, base), (2L, base), (3L, "completely different words entirely"))
      .toDF("doc_id", "text")
    val pairs = Dedup.simHashPairs(d, maxDist = 3)
      .select("id_a", "id_b").as[(Long, Long)].collect().toSet
    assert(pairs.contains((1L, 2L))) // identical text → Hamming 0
    assert(!pairs.contains((1L, 3L)) && !pairs.contains((2L, 3L)))
    // near-dups rank closer than unrelated docs even when past the radius
    val sigs = Dedup.simHash(Seq((1L, base), (2L, base + " tail"),
        (3L, "completely different words entirely")).toDF("doc_id", "text"))
      .as[(Long, Long)].collect().toMap
    def ham(x: Long, y: Long) = java.lang.Long.bitCount(x ^ y)
    assert(ham(sigs(1L), sigs(2L)) < ham(sigs(1L), sigs(3L)))
    // portable-hash variant (the q31 gate path): same planted-pair behavior,
    // and signatures confined to the 57 bits the mod-2^57 hash can set
    val pp = Dedup.simHashPairs(d, maxDist = 3,
        tokenHash = graft.llm.TextAnalysis.fingerprint)
      .select("id_a", "id_b").as[(Long, Long)].collect().toSet
    assert(pp.contains((1L, 2L)) && !pp.contains((1L, 3L)))
    val psigs = Dedup.simHash(d, tokenHash = graft.llm.TextAnalysis.fingerprint)
      .as[(Long, Long)].collect().toMap
    assert(psigs.values.forall(s => (s >>> 57) == 0L))
    // the distinct-first hash layout (q31's bench path) is a pure plan
    // change: signatures must be bit-identical to the direct form
    val dsigs = Dedup.simHash(d, tokenHash = graft.llm.TextAnalysis.fingerprint,
        hashDistinctFirst = true)
      .as[(Long, Long)].collect().toMap
    assert(dsigs == psigs, s"distinct-first diverged: $dsigs vs $psigs")
  }

  test("edit-distance pairs: blocked candidates, exact distances, " +
    "jumbo blocks dropped whole") {
    val docs = Seq(
      (1L, "BLOCKA hello world"),
      (2L, "BLOCKA hello w0rld"),   // dist 1 from doc 1
      (3L, "BLOCKA something else entirely different"), // far
      (4L, "BLOCKB lone doc"),      // block of one -> no pairs
      (5L, "JUMBO1"), (6L, "JUMBO2"), (7L, "JUMBO3"),
      (8L, "JUMBO4"), (9L, "JUMBO5") // block of 5 > maxBlock=4 -> dropped
    ).toDF("doc_id", "text")
    val got = Dedup.editDistancePairs(docs, prefixLen = 6, maxDist = 3,
        maxBlock = 4)
      .as[(Long, Long, Long)].collect().sorted.toSeq
    assert(got == Seq((1L, 2L, 1L)), s"got $got")
    val scrambled = Dedup.editDistancePairs(
        docs.repartition(5, col("doc_id")), prefixLen = 6, maxDist = 3,
        maxBlock = 4)
      .as[(Long, Long, Long)].collect().sorted.toSeq
    assert(scrambled == got, "partitioning must not change the pairs")
  }

  test("exact dedup canonicalizes identical texts (both forms agree)") {
    val d = Seq((5L, "same"), (9L, "same"), (7L, "other")).toDF("doc_id", "text")
    val got = Dedup.exactCanonical(d).select("doc_id", "canonical_id")
      .as[(Long, Long)].collect().toMap
    assert(got == Map(5L -> 5L, 9L -> 5L, 7L -> 7L))
    val byHash = Dedup.exactCanonicalByHash(d).select("doc_id", "canonical_id")
      .as[(Long, Long)].collect().toMap
    assert(byHash == got)
    // and on real data: the narrow-shuffle form matches the direct form
    val a = Dedup.exactCanonical(docs).select("doc_id", "canonical_id")
      .as[(Long, Long)].collect().toMap
    val b = Dedup.exactCanonicalByHash(docs).select("doc_id", "canonical_id")
      .as[(Long, Long)].collect().toMap
    assert(a == b)
  }

  test("LSH ANN at registry params (2 planes × 16 tables) recalls ALL of " +
    "brute-force top-k — q33 shares q32's oracle on this guarantee") {
    val emb = Tables.embeddings(spark, sfDir)
    val queries = emb.filter(col("vec_id") < 10)
    val brute = Similarity.bruteForceTopK(emb, queries, k = 5)
      .select("query_id", "neighbor_id").as[(Long, Long)].collect().toSet
    val lsh = Similarity.lshTopK(emb, queries, k = 5, nPlanes = 2, tables = 16)
      .select("query_id", "neighbor_id").as[(Long, Long)].collect().toSet
    assert(lsh == brute, s"ANN missed ${brute -- lsh}, extra ${lsh -- brute}")
  }

  test("minhash at registry params (32 bands × 2 rows) equals exact jaccard " +
    "pairs at tau=0.5 — q30 shares q29's oracle on this guarantee") {
    val exact = Dedup.ngramJaccardPairs(docs, w = 3, tau = 0.5)
      .select("id_a", "id_b", "jaccard")
      .as[(Long, Long, Double)].collect().toSet
    val lsh = Dedup.minHashDedupPairs(docs, w = 3, tau = 0.5,
        bands = 32, rowsPerBand = 2)
      .select("id_a", "id_b", "jaccard")
      .as[(Long, Long, Double)].collect().toSet
    assert(exact.nonEmpty)
    assert(lsh == exact, s"LSH missed ${exact -- lsh}")
  }

  test("IVF embedding near-dup at registry params (12 tables × 64 cells) " +
    "equals the exact all-pairs form — q42 runs the IVF path on this " +
    "guarantee (re-tune it if fixtures change)") {
    val emb = Tables.embeddings(spark, sfDir)
    val exact = Similarity.embeddingNearDupPairs(emb, tau = 0.45)
      .as[(Long, Long, Double)].collect().toSet
    val ivf = graft.core.CacheScope.scoped {
      withCutover(Cutover.NearDup)(
        Similarity.embeddingNearDupPairsCertified(emb, tau = 0.45))
        .as[(Long, Long, Double)].collect().toSet
    }
    assert(exact.nonEmpty)
    assert(ivf == exact, s"IVF missed ${exact -- ivf}")
  }

  /** The rung `embeddingNearDupPairsCertified`'s ladder certifies on
    * `emb`, at the operator's default sample and recall target. */
  private def certifiedRung(emb: DataFrame, tau: Double, k: Int,
                            tables: Int, probeLadder: Seq[Int]): Option[Int] =
    Similarity.certifiedRung(
        emb.select(col("vec_id").cast("long").as("id"),
          col("embedding").as("v")),
        tau, k, tables, iters = 8, sampleN = 1024, certQueries = 256,
        targetRecall = 1.0, probeLadder = probeLadder)
      .map(_._1)

  test("certified near-dup: the gate corpus certifies at rung 1 (sampled " +
    "recall 1.0) and the certified output IS the exact relation") {
    val emb = Tables.embeddings(spark, sfDir)
    val rung = graft.core.CacheScope.scoped {
      certifiedRung(emb, tau = 0.45, k = 64, tables = 12, probeLadder = Seq(1))
    }
    assert(rung.contains(1), s"rung 1 must certify here: $rung")
    val exact = graft.core.CacheScope.scoped {
      Similarity.embeddingNearDupPairs(emb, tau = 0.45)
        .as[(Long, Long, Double)].collect().toSet
    }
    // registry defaults: this corpus sits under the near-dup cutover,
    // so the certain path runs
    val cert = graft.core.CacheScope.scoped {
      Similarity.embeddingNearDupPairsCertified(emb, tau = 0.45)
        .as[(Long, Long, Double)].collect().toSet
    }
    assert(exact.nonEmpty && cert == exact,
      s"certified missed ${exact -- cert}, extra ${cert -- exact}")
    // cutover disabled: the IVF-certified branch itself is also exact here
    // (rung 1 genuinely certifies on this corpus, per the ladder above)
    val certIvf = graft.core.CacheScope.scoped {
      withCutover(Cutover.NearDup)(
        Similarity.embeddingNearDupPairsCertified(emb, tau = 0.45))
        .as[(Long, Long, Double)].collect().toSet
    }
    assert(certIvf == exact,
      s"IVF branch missed ${exact -- certIvf}, extra ${certIvf -- exact}")
  }

  test("certified near-dup: on uniform random vectors at low τ the sampled " +
    "certificate FAILS every rung and escalation returns the exact " +
    "relation — the sf0.1 boundary, retired by measurement") {
    val rnd = new scala.util.Random(7)
    val uni = (0 until 300).map { i =>
      (i.toLong, Array.fill(16)(rnd.nextFloat() * 2f - 1f))
    }.toDF("vec_id", "embedding")
    val exact = graft.core.CacheScope.scoped {
      Similarity.embeddingNearDupPairs(uni, tau = 0.3)
        .as[(Long, Long, Double)].collect().toSet
    }
    assert(exact.nonEmpty, "τ must sit inside the random-cosine bulk")
    val rung = graft.core.CacheScope.scoped {
      certifiedRung(uni, tau = 0.3, k = 16, tables = 4,
        probeLadder = Seq(1, 2))
    }
    assert(rung.isEmpty, s"unclustered data must fail the certificate: $rung")
    val cert = graft.core.CacheScope.scoped {
      withCutover(Cutover.NearDup)(
        Similarity.embeddingNearDupPairsCertified(uni, tau = 0.3,
          k = 16, tables = 4, probeLadder = Seq(1, 2)))
        .as[(Long, Long, Double)].collect().toSet
    }
    assert(cert == exact,
      s"escalated form missed ${exact -- cert}, extra ${cert -- exact}")
    // rung order is enforced, not assumed
    intercept[IllegalArgumentException] {
      Similarity.embeddingNearDupPairsCertified(uni, tau = 0.3,
        probeLadder = Seq(4, 1))
    }
  }

  test("IVF assignment scan: ties take the highest cell index, the " +
    "probes = 1 fast path is the ranked scan's rnk = 1 row, and probes = p " +
    "is its rnk <= p rows") {
    // one table of four cells, duplicated: cells 0/2 and 1/3 are equal
    val x = Array(1f, 0f)
    val y = Array(0f, 1f)
    val cents = Array(Array(x, y, x, y))
    val emb = Seq((1L, Array(1f, 0f)), (2L, Array(0f, 1f)),
        (3L, Array(1f, 1f)), (4L, Array(-1f, 0f)))
      .toDF("vec_id", "embedding")
    def asg(probes: Int): Set[(Long, Int, Int)] =
      Similarity.ivfAssignments(emb, cents, probes)
        .as[(Long, Int, Int)].collect().toSet
    val ranked = Similarity.rankedIvfAssignments(emb, cents, probes = 4)
      .as[(Long, Int, Int, Int)].collect().toSet
    // (1,0)·x ties at cells 0 and 2; (0,1)·y at 1 and 3; (1,1) ties all
    // four; (-1,0) ties the two y cells at 0
    assert(asg(1) == Set((1L, 0, 2), (2L, 0, 3), (3L, 0, 3), (4L, 0, 3)))
    val order = ranked.groupBy(_._1).map { case (id, rs) =>
      id -> rs.toSeq.sortBy(_._4).map(_._3) }
    assert(order == Map(1L -> Seq(2, 0, 3, 1), 2L -> Seq(3, 1, 2, 0),
      3L -> Seq(3, 2, 1, 0), 4L -> Seq(3, 1, 2, 0)), s"rank order: $order")
    (1 to 4).foreach { p =>
      assert(asg(p) == ranked.filter(_._4 <= p).map(r => (r._1, r._2, r._3)),
        s"probes = $p differs from the ranked rows with rnk <= $p")
    }
  }

  test("connected components: chain graph needs multiple rounds; labels = " +
    "min reachable id; singletons keep their own id") {
    // chain 10-11-12-13-14-15 (diameter 5) + pair (20,21) + singleton 30
    val verts = (10L to 15L).toSeq ++ Seq(20L, 21L, 30L)
    val pairs = Seq((11L, 10L), (11L, 12L), (13L, 12L), (13L, 14L),
      (15L, 14L), (20L, 21L)).toDF("id_a", "id_b")
    val got = Dedup.connectedComponents(verts.toDF("id"), pairs)
      .as[(Long, Long)].collect().toMap
    assert((10L to 15L).forall(got(_) == 10L))
    assert(got(20L) == 20L && got(21L) == 20L && got(30L) == 30L)
    // the graph cutover must be invisible: the distributed fixpoint
    // (forced with a graph bound of 0) and the default driver-side
    // union-find emit identical labels
    val dist = withCutover(Cutover.Graph)(
        Dedup.connectedComponents(verts.toDF("id"), pairs))
      .as[(Long, Long)].collect().toMap
    assert(dist == got, s"cutover changed labels: $dist vs $got")
    // dirty input: NULL-endpoint pairs are dropped on BOTH paths (the
    // r15 ADVICE case — previously the driver path NPE'd on getLong
    // where the distributed path silently ignored the row)
    val dirty = Seq((Some(11L), Some(10L)), (Some(20L), None),
      (None, Some(21L)), (None, None)).toDF("id_a", "id_b")
    val wantDirty = Map(10L -> 10L, 11L -> 10L, 20L -> 20L, 21L -> 21L,
      30L -> 30L) ++ (12L to 15L).map(v => v -> v).toMap
    val gotDirty = Dedup.connectedComponents(verts.toDF("id"), dirty)
      .as[(Long, Long)].collect().toMap
    assert(gotDirty == wantDirty, s"driver path on dirty input: $gotDirty")
    val distDirty = withCutover(Cutover.Graph)(
        Dedup.connectedComponents(verts.toDF("id"), dirty))
      .as[(Long, Long)].collect().toMap
    assert(distDirty == wantDirty,
      s"distributed path on dirty input: $distDirty")
    // UNCASTABLE endpoints (r16 ADVICE): a non-NULL id that doesn't
    // cast to long (a non-numeric string) must be dropped on both
    // paths too — previously the isNotNull filter ran before the cast,
    // so these rows NPE'd the driver path's typed collect while the
    // distributed path ignored them
    val uncastable = Seq(("11", "10"), ("20", "junk"), ("abc", "21"),
      ("x", "y")).toDF("id_a", "id_b")
    val gotUncast = Dedup.connectedComponents(verts.toDF("id"), uncastable)
      .as[(Long, Long)].collect().toMap
    assert(gotUncast == wantDirty,
      s"driver path on uncastable input: $gotUncast")
    val distUncast = withCutover(Cutover.Graph)(
        Dedup.connectedComponents(verts.toDF("id"), uncastable))
      .as[(Long, Long)].collect().toMap
    assert(distUncast == wantDirty,
      s"distributed path on uncastable input: $distUncast")
    // dirty VERTEX ids get the same treatment (r17 review: a plain
    // cast on the vertex side threw under ANSI while the identical
    // value in pairs was dropped): uncastable vertex ids drop on both
    // paths instead of throwing
    val dirtyVerts = (verts.map(_.toString) ++ Seq("junk", "")).toDF("id")
    val gotDv = Dedup.connectedComponents(dirtyVerts, pairs)
      .as[(Long, Long)].collect().toMap
    assert(gotDv == got, s"driver path on dirty vertices: $gotDv")
    val distDv = withCutover(Cutover.Graph)(
        Dedup.connectedComponents(dirtyVerts, pairs))
      .as[(Long, Long)].collect().toMap
    assert(distDv == got, s"distributed path on dirty vertices: $distDv")
  }

  test("connected components: 40 seeded random undirected graphs — the " +
    "distributed fixpoint (graph key 0) equals the driver union-find and " +
    "a brute-force reachability closure") {
    val rnd = new scala.util.Random(71L) // fixed seed: deterministic test
    for (trial <- 1 to 40) {
      val n = 2 + rnd.nextInt(14)
      val pairs: Seq[(Long, Long)] = trial match {
        case 1 => Nil // empty edge set
        // a chain of diameter 12 over scrambled ids
        case 2 => (0L until 12L).map(i => ((i * 5) % 13, ((i + 1) * 5) % 13))
        case _ =>
          // equal endpoints are self-loops; some pairs come again as is,
          // some reversed
          val base = Seq.fill(rnd.nextInt(2 * n))(
            (rnd.nextInt(n).toLong, rnd.nextInt(n).toLong))
          base ++ base.filter(_ => rnd.nextDouble() < 0.3).map(_.swap) ++
            base.filter(_ => rnd.nextDouble() < 0.2)
      }
      // a random subset of the ids plus a few no pair touches: pair
      // endpoints may be absent from the vertices, vertices isolated
      val verts = (0L until n + 3L).filter(_ => rnd.nextDouble() < 0.7)
      val nodes = verts ++ pairs.flatMap(p => Seq(p._1, p._2))
      val reach = nodes.map(v => v -> scala.collection.mutable.Set(v)).toMap
      var grew = true
      while (grew) {
        grew = false
        for ((a, b) <- pairs; (x, y) <- Seq((a, b), (b, a)))
          if (!reach(y).subsetOf(reach(x))) { reach(x) ++= reach(y); grew = true }
      }
      val want = reach.map { case (v, r) => v -> r.min }
      val (vdf, pdf) = (verts.toDF("id"), pairs.toDF("id_a", "id_b"))
      def labels(df: DataFrame): Map[Long, Long] = {
        val rows = df.as[(Long, Long)].collect()
        assert(rows.map(_._1).distinct.length == rows.length,
          s"trial $trial: a vertex labeled twice: ${rows.toSeq}")
        rows.toMap
      }
      val driver = labels(Dedup.connectedComponents(vdf, pdf))
      val dist = labels(withCutover(Cutover.Graph)(
        Dedup.connectedComponents(vdf, pdf)))
      assert(driver == want, s"trial $trial: driver $driver want $want " +
        s"pairs=$pairs verts=$verts")
      assert(dist == driver, s"trial $trial: distributed $dist != driver " +
        s"$driver pairs=$pairs verts=$verts")
    }
  }

  test("near-dup clusters equal a driver-side union-find over the exact " +
    "pair relation — q51 rests on this equivalence") {
    val pairs = Dedup.ngramJaccardPairs(docs, w = 3, tau = 0.5)
      .select("id_a", "id_b").as[(Long, Long)].collect()
    val ids = docs.select(col("doc_id")).as[Long].collect()
    val parent = scala.collection.mutable.Map(ids.map(i => i -> i): _*)
    def find(x: Long): Long =
      if (parent(x) == x) x else { val r = find(parent(x)); parent(x) = r; r }
    pairs.foreach { case (a, b) =>
      val (ra, rb) = (find(a), find(b))
      if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb)
    }
    val expected = ids.map(i => i -> find(i)).toMap
    val got = Dedup.nearDupClusters(docs, w = 3, tau = 0.5)
      .as[(Long, Long)].collect().toMap
    assert(pairs.nonEmpty, "gate corpus should contain near-dup pairs")
    assert(got == expected)
  }

  test("embedding clusters equal a driver-side union-find over the exact " +
    "cosine pair relation — q76 composes IVF pairs + components on this") {
    val emb = Tables.embeddings(spark, sfDir)
    val pairs = Similarity.embeddingNearDupPairs(emb, tau = 0.45)
      .select("id_a", "id_b").as[(Long, Long)].collect()
    val ids = emb.select(col("vec_id")).as[Long].collect()
    val parent = scala.collection.mutable.Map(ids.map(i => i -> i): _*)
    def find(x: Long): Long =
      if (parent(x) == x) x else { val r = find(parent(x)); parent(x) = r; r }
    pairs.foreach { case (a, b) =>
      val (ra, rb) = (find(a), find(b))
      if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb)
    }
    val expected = ids.map(i => i -> find(i)).toMap
    val got = graft.core.CacheScope.scoped {
      Dedup.connectedComponents(
          emb.select(col("vec_id")),
          withCutover(Cutover.NearDup)(
            Similarity.embeddingNearDupPairsCertified(emb, tau = 0.45))
            .select("id_a", "id_b"),
          idCol = "vec_id")
        .as[(Long, Long)].collect().toMap
    }
    assert(pairs.nonEmpty, "gate corpus should contain embedding near-dups")
    assert(got == expected)
  }

  test("IVF ANN at registry params (12 tables × 64 cells, 16 probes) recalls " +
    "ALL of brute-force top-k — q52 shares q32's oracle on this guarantee") {
    val emb = Tables.embeddings(spark, sfDir)
    val queries = emb.filter(col("vec_id") < 10)
    val brute = Similarity.bruteForceTopK(emb, queries, k = 5)
      .select("query_id", "neighbor_id").as[(Long, Long)].collect().toSet
    val ivf = Similarity.ivfTopK(emb, queries, k = 5)
      .select("query_id", "neighbor_id").as[(Long, Long)].collect().toSet
    assert(ivf == brute, s"IVF missed ${brute -- ivf}, extra ${ivf -- brute}")
  }

  test("hard-negative mining (q98): IVF-pruned form equals the exact " +
    "τ-then-rank scan, and no emitted pair is a near-dup positive") {
    val emb = Tables.embeddings(spark, sfDir)
    val queries = emb.filter(col("vec_id") < 10)
    val exact = Similarity.hardNegativesExact(emb, queries, k = 5, tau = 0.45)
      .select("query_id", "neighbor_id").as[(Long, Long)].collect().toSet
    val ivf = Similarity.hardNegatives(emb, queries, k = 5, tau = 0.45)
      .select("query_id", "neighbor_id").as[(Long, Long)].collect().toSet
    assert(ivf == exact, s"IVF missed ${exact -- ivf}, extra ${ivf -- exact}")
    // every emitted negative scores strictly below the positive band
    val maxScore = Similarity.hardNegatives(emb, queries, k = 5, tau = 0.45)
      .agg(max(col("score"))).as[Double].collect().head
    assert(maxScore < 0.45, s"a near-dup positive leaked into negatives: $maxScore")
    // and for anchors that HAVE near-dups, the exclusion freed slots: the
    // plain top-5 differs from the negative top-5 exactly on those anchors
    val dupAnchors = graft.core.CacheScope.scoped {
      val pairs = withCutover(Cutover.NearDup)(
        Similarity.embeddingNearDupPairsCertified(emb, tau = 0.45))
      pairs.select(col("id_a")).union(pairs.select(col("id_b")))
        .as[Long].collect().toSet.filter(_ < 10)
    }
    if (dupAnchors.nonEmpty) {
      val plain = Similarity.ivfTopK(emb, queries, k = 5)
        .select("query_id", "neighbor_id").as[(Long, Long)].collect().toSet
      dupAnchors.foreach { a =>
        assert(plain.filter(_._1 == a) != ivf.filter(_._1 == a),
          s"anchor $a has near-dups but identical top-5 and negative sets")
      }
    }
  }

  test("source divergence (q99): identical-distribution sources score " +
    "kl_bits = 0 and a skewed source scores strictly higher") {
    val d = Seq(
      (1L, "alpha beta gamma delta", "a"), (2L, "alpha beta gamma delta", "b"),
      (3L, "alpha alpha alpha alpha", "c"))
      .toDF("doc_id", "text", "source")
    val out = TextAnalysis.sourceDivergence(d)
      .select("source", "kl_bits").as[(String, Double)].collect().toMap
    // a and b each match the half they contribute? No — they match EACH
    // OTHER; the corpus blend includes c's alpha skew, so a/b diverge from
    // the blend equally and less than c's pure-alpha mix... assert the
    // symmetric pair agrees exactly and the structure is sane
    assert(out("a") == out("b"), s"identical sources diverged: $out")
    assert(out.values.forall(v => !v.isNaN))
    // single-source corpus: source model IS the corpus model → kl == 0
    val solo = TextAnalysis.sourceDivergence(
        Seq((1L, "x y z x", "only")).toDF("doc_id", "text", "source"))
      .select("kl_bits").as[Double].collect()
    assert(solo.toSeq == Seq(0.0))
  }

  test("MMR rerank (q100): first pick is the relevance top-1, output is k " +
    "per query, and diversification lowers intra-set redundancy") {
    val emb = Tables.embeddings(spark, sfDir)
    val queries = emb.filter(col("vec_id") < 5)
    val cand = Similarity.bruteForceTopK(emb, queries, k = 20)
      .select(col("query_id"), col("neighbor_id"),
        round(col("score"), 6).as("score"))
    val mmr = Retrieval.mmrRerank(cand, emb, k = 5, lambda = 0.7)
    val byQ = mmr.select("query_id", "neighbor_id", "rnk")
      .as[(Long, Long, Long)].collect().groupBy(_._1)
    assert(byQ.keySet == Set(0L, 1L, 2L, 3L, 4L))
    assert(byQ.values.forall(_.length == 5))
    val top1 = cand.withColumn("r", row_number().over(
        org.apache.spark.sql.expressions.Window.partitionBy("query_id")
          .orderBy(col("score").desc, col("neighbor_id"))))
      .filter(col("r") === 1)
      .select("query_id", "neighbor_id").as[(Long, Long)].collect().toMap
    byQ.foreach { case (q, rows) =>
      assert(rows.find(_._3 == 1L).get._2 == top1(q),
        s"query $q: MMR first pick must be the rel top-1")
    }
    // λ = 1 degrades to plain top-k by relevance (same order)
    val plain = Retrieval.mmrRerank(cand, emb, k = 5, lambda = 1.0)
      .select("query_id", "neighbor_id", "rnk")
      .as[(Long, Long, Long)].collect().toSet
    val topk = cand.withColumn("r", row_number().over(
        org.apache.spark.sql.expressions.Window.partitionBy("query_id")
          .orderBy(col("score").desc, col("neighbor_id"))))
      .filter(col("r") <= 5)
      .select(col("query_id"), col("neighbor_id"), col("r").cast("long"))
      .as[(Long, Long, Long)].collect().toSet
    assert(plain == topk, "λ=1 MMR must equal plain relevance top-k")
  }

  test("leakage-safe split (q101): whole clusters share one split and " +
    "singletons equal the plain content-hash split") {
    val clusters = Dedup.nearDupClusters(docs, w = 3, tau = 0.5)
      .select(col("id").as("doc_id"), col("comp").as("cluster_id"))
    val out = TextAnalysis.leakageSafeSplit(docs, clusters)
    // one split per cluster
    val nSplitsPerCluster = out.groupBy("cluster_id")
      .agg(countDistinct("split").as("n")).agg(max("n")).as[Long].collect()
    assert(nSplitsPerCluster.head == 1L)
    // a multi-member cluster exists in the fixture (planted near-dups)
    val maxClusterSize = out.groupBy("cluster_id").count()
      .agg(max("count")).as[Long].collect().head
    assert(maxClusterSize > 1, "fixture should contain near-dup clusters")
    // singletons: identical to dataSplit
    val singletonIds = out.groupBy("cluster_id").count()
      .filter(col("count") === 1).select(col("cluster_id").as("doc_id"))
    val safe = out.join(singletonIds, Seq("doc_id"))
      .select("doc_id", "split").as[(Long, String)].collect().toMap
    val plain = TextAnalysis.dataSplit(docs)
      .select("doc_id", "split").as[(Long, String)].collect().toMap
    safe.foreach { case (id, sp) =>
      assert(plain(id) == sp, s"singleton $id: $sp != plain ${plain(id)}")
    }
  }

  test("int8 quantization round-trips within the grid error bound") {
    val emb = Tables.embeddings(spark, sfDir).limit(200)
    val orig = emb.select("vec_id", "embedding")
      .as[(Long, Array[Float])].collect().toMap
    val q = Similarity.quantizeInt8(emb)
    assert(q.schema("qvec").dataType.simpleString == "array<tinyint>")
    val back = Similarity.dequantizeInt8(q)
      .as[(Long, Array[Float])].collect().toMap
    assert(back.keySet == orig.keySet)
    orig.foreach { case (id, v) =>
      val bound = (v.max - v.min) / 510.0 + 1e-6
      v.zip(back(id)).foreach { case (x, xb) =>
        assert(math.abs(x - xb) <= bound, s"vec $id: |$x - $xb| > $bound")
      }
    }
  }

  test("compressed IVF+PQ stored index: search equals brute force, the " +
    "postings scan is partition-pruned, and no full vector is stored") {
    val emb = Tables.embeddings(spark, sfDir)
    val queries = emb.filter(col("vec_id") < 10)
    val dir = java.nio.file.Files.createTempDirectory("graft_ivfpq").toString
    Similarity.writeIvfPqIndex(emb, dir)
    // the storage contract: postings hold m int codes, never the vector
    val postings = spark.read.parquet(s"$dir/postings")
    assert(postings.columns.sorted.toSeq == Seq("centroid", "codes", "id", "tbl"))
    val fromIndex = Similarity.searchIvfPqIndex(spark, dir, queries, emb, k = 5)
    val plan = fromIndex.queryExecution.executedPlan.toString
    assert(plan.contains("dynamicpruning"),
      s"postings scan must prune to the probed (tbl, centroid) dirs:\n$plan")
    val got = fromIndex.select("query_id", "neighbor_id")
      .as[(Long, Long)].collect().toSet
    val brute = Similarity.bruteForceTopK(emb, queries, k = 5)
      .select("query_id", "neighbor_id").as[(Long, Long)].collect().toSet
    assert(got == brute,
      s"compressed index missed ${brute -- got}, extra ${got -- brute}")
  }

  test("top terms rank corpus-rare, doc-frequent tokens first (rational IDF)") {
    import graft.llm.TextAnalysis
    val d = Seq(
      (1L, "zebra zebra zebra common common"),
      (2L, "common words here"),
      (3L, "common words there")).toDF("doc_id", "text")
    val top = TextAnalysis.topTermsPerDoc(d, k = 1)
      .select("doc_id", "token").as[(Long, String)].collect().toMap
    // doc 1: zebra tf=3 df=1 → 9.0 beats common tf=2 df=3 → 2.0
    assert(top == Map(1L -> "zebra", 2L -> "here", 3L -> "there"))
    val stats = TextAnalysis.termStats(d)
      .select("doc_id", "token", "tf", "df", "n_docs")
      .as[(Long, String, Long, Long, Long)].collect()
    assert(stats.find(s => s._1 == 1L && s._2 == "common")
      .contains((1L, "common", 2L, 3L, 3L)))
  }

  test("label centroids: per-dimension means per label") {
    val e = Seq((0, Array(1f, 3f)), (0, Array(3f, 5f)), (1, Array(2f, 7f)))
      .toDF("label", "embedding")
    val got = Similarity.labelCentroids(e)
      .select("label", "dim", "mu", "n")
      .as[(Int, Long, Double, Long)].collect().toSet
    assert(got == Set((0, 0L, 2.0, 2L), (0, 1L, 4.0, 2L),
      (1, 0L, 2.0, 1L), (1, 1L, 7.0, 1L)))
  }

  test("scrub masks URLs before emails and counts each kind") {
    import graft.llm.TextAnalysis
    val d = Seq(
      "mail me at bob.smith+x@example.co.uk today",
      "see https://ex.com/a?u=a@b.com and http://y.io",
      "nothing here").toDF("text")
    val got = d.select(
        TextAnalysis.scrub(col("text")).as("c"),
        TextAnalysis.countMatches(col("text"), TextAnalysis.EmailRe).as("e"),
        TextAnalysis.countMatches(col("text"), TextAnalysis.UrlRe).as("u"))
      .as[(String, Int, Int)].collect()
    assert(got(0) == (("mail me at <EMAIL> today", 1, 0)))
    // the email-shaped query param is swallowed by the URL mask
    assert(got(1) == (("see <URL> and <URL>", 1, 2)))
    assert(got(2) == (("nothing here", 0, 0)))
  }

  test("repetition ratio: dominated doc scores high, varied doc low") {
    import graft.llm.TextAnalysis
    val d = Seq(
      (1L, "buy now " + ("click here click here click here"), 0),
      (2L, "one two three four five six seven eight nine ten", 0),
      (3L, "ab", 0)).toDF("doc_id", "text", "pad")
    val got = TextAnalysis.repetitionRatio(d)
      .as[(Long, Double)].collect().toMap
    assert(!got.contains(3L)) // shorter than w emits nothing
    assert(got(1L) > got(2L) && got(2L) > 0.0)
    // varied doc: every 3-gram unique -> max/sum = 1/8
    assert(math.abs(got(2L) - 1.0 / 8) < 1e-12)
  }

  test("bpe-ish subword count: alnum runs + punctuation marks") {
    import graft.llm.TextAnalysis
    val d = Seq("hello, world! (two-words)").toDF("text")
    // runs: hello, world, two, words = 4; punct: , ! ( - ) = 5
    val got = d.select(TextAnalysis.bpeishCount(col("text"))).as[Int].head()
    assert(got == 9, s"got $got")
  }

  test("vec_dot registers as a SQL function and matches the Column API") {
    Tables.embeddings(spark, sfDir).limit(5)
      .createOrReplaceTempView("g_emb")
    val viaSql = spark.sql(
      """SELECT a.vec_id, vec_dot(a.embedding, b.embedding) AS d,
        |       vec_cosine(a.embedding, b.embedding) AS c
        |FROM g_emb a JOIN g_emb b ON a.vec_id < b.vec_id""".stripMargin)
      .as[(Long, Double, Double)].collect()
    assert(viaSql.nonEmpty)
    viaSql.foreach { case (_, d, c) =>
      assert(!d.isNaN && c >= -1.0001 && c <= 1.0001)
    }
  }

  test("perceptual hash pairs near-identical media, separates unrelated") {
    implicit val s = spark
    val base = ("the quick brown fox jumps over the lazy dog " * 30).getBytes
    val tweaked = base.clone(); tweaked(100) = 'X'.toByte
    val other = ("completely different payload bytes entirely " * 40).getBytes
    val media = Seq((1L, base), (2L, tweaked), (3L, other))
      .toDF("doc_id", "content")
      .withColumn("media_type", lit("image/png"))
    val hashes = Multimodal.perceptualHash(media).collect()
      .map(h => h.doc_id -> h.phash).toMap
    def ham(x: Long, y: Long) = java.lang.Long.bitCount(x ^ y)
    assert(ham(hashes(1L), hashes(2L)) <= 3,
      s"one-byte edit must stay within the radius: ${ham(hashes(1L), hashes(2L))}")
    val pairs = Multimodal.perceptualDupPairs(media, maxDist = 3)
      .select("id_a", "id_b").as[(Long, Long)].collect().toSet
    assert(pairs.contains((1L, 2L)))
    assert(!pairs.contains((1L, 3L)) && !pairs.contains((2L, 3L)))
  }

  test("boilerplate grams: planted shared phrase found with exact df and " +
    "occurrence counts, unique text excluded") {
    import spark.implicits._
    val phrase = "terms of service apply here"
    val other = "all rights reserved by us"
    val docs = Seq(
      (1L, s"alpha beta gamma $phrase delta epsilon"),
      (2L, s"zeta eta $phrase theta iota kappa"),
      (3L, s"$phrase lambda mu nu xi omicron $phrase"),
      (4L, s"pi rho sigma tau $other upsilon"),
      (5L, s"phi chi $other psi omega aleph"),
      (6L, "bet gimel dalet he vav zayin het")).toDF("doc_id", "text")
    val got = graft.llm.Dedup.boilerplateGrams(docs, w = 5, minDocs = 2)
      .as[(String, Long, Long)].collect().toSeq
    // the planted phrase: 3 docs, 4 occurrences (doc 3 repeats it)
    assert(got.head == ((phrase, 3L, 4L)), s"head was ${got.head}")
    assert(got.contains((other, 2L, 2L)))
    // no shingle from the all-unique doc 6 survives
    assert(!got.exists(_._1.contains("gimel")))
    // df >= minDocs for every row, ordering is (df desc, occ desc, shingle)
    assert(got.forall(_._2 >= 2))
    assert(got == got.sortBy { case (s0, d, o) => (-d, -o, s0) })
  }

  test("contamination matches an independent Scala-collections oracle on " +
    "the gate corpus and flags cross-split near-dup leakage") {
    import spark.implicits._
    val w = 5
    val got = graft.llm.TextAnalysis.contamination(docs, w = w)
      .as[(Long, String, Long, Long, Double)].collect()
      .map(r => r._1 -> r).toMap
    // independent re-derivation: split + shingle overlap in plain Scala
    val byDoc = docs.select("doc_id", "text").as[(Long, String)].collect()
    def fp(s: String): Long =
      s.foldLeft(0L)((a, c) => Math.floorMod(a * 31 + c.toLong, 1L << 57))
    def split(t: String): String = {
      val b = Math.floorMod(fp(t), 100L)
      if (b < 80) "train" else if (b < 90) "val" else "test"
    }
    def grams(t: String): Set[String] = {
      val toks = t.trim.split("\\s+").filter(_.nonEmpty)
      if (toks.length < w) Set.empty
      else toks.sliding(w).map(_.mkString(" ")).toSet
    }
    val trainGrams = byDoc.filter(d => split(d._2) == "train")
      .flatMap(d => grams(d._2)).toSet
    val evalDocs = byDoc.filter(d => split(d._2) != "train")
    assert(evalDocs.nonEmpty && got.size == evalDocs.length)
    evalDocs.foreach { case (id, text) =>
      val g = grams(text)
      val hit = g.count(trainGrams.contains)
      val (_, sp, nGrams, nHit, cont) = got(id)
      assert(sp == split(text) && nGrams == g.size && nHit == hit,
        s"doc $id: got ($sp,$nGrams,$nHit), want " +
          s"(${split(text)},${g.size},$hit)")
      val want = if (g.isEmpty) 0.0 else hit.toDouble / g.size
      assert(cont == want, s"doc $id contamination $cont != $want")
    }
    // the sf0.001 fixture plants near-dups that straddle the split — the
    // audit must surface at least one contaminated eval doc
    assert(got.values.exists(_._4 > 0),
      "expected nonzero contamination from cross-split near-dups")
  }

  test("decontamination (q102): flags match an independent Scala-collections " +
    "oracle, every flagged doc shares a gram with eval, and the planted " +
    "cross-split near-dups actually cost train docs") {
    import spark.implicits._
    val w = 5
    val got = graft.llm.TextAnalysis.decontaminate(docs, w = w)
      .as[(Long, Long, Long, Boolean)].collect().map(r => r._1 -> r).toMap
    val byDoc = docs.select("doc_id", "text").as[(Long, String)].collect()
    def fp(s: String): Long =
      s.foldLeft(0L)((a, c) => Math.floorMod(a * 31 + c.toLong, 1L << 57))
    def split(t: String): String = {
      val b = Math.floorMod(fp(t), 100L)
      if (b < 80) "train" else if (b < 90) "val" else "test"
    }
    def grams(t: String): Set[String] = {
      val toks = t.trim.split("\\s+").filter(_.nonEmpty)
      if (toks.length < w) Set.empty
      else toks.sliding(w).map(_.mkString(" ")).toSet
    }
    val evalGrams = byDoc.filter(d => split(d._2) != "train")
      .flatMap(d => grams(d._2)).toSet
    val trainDocs = byDoc.filter(d => split(d._2) == "train")
    assert(trainDocs.nonEmpty && got.size == trainDocs.length)
    trainDocs.foreach { case (id, text) =>
      val g = grams(text)
      val hit = g.count(evalGrams.contains)
      val (_, nGrams, nHit, kept) = got(id)
      assert(nGrams == g.size && nHit == hit && kept == (hit < 1),
        s"doc $id: got ($nGrams,$nHit,$kept), want (${g.size},$hit,${hit < 1})")
    }
    // the fixture's cross-split near-dups must cost at least one train doc
    assert(got.values.exists(!_._4),
      "expected the planted cross-split near-dups to flag a train doc")
    // and the action is consistent with the q61 audit: if any eval doc is
    // contaminated, some train doc must be flagged (the same shared gram)
    val audit = graft.llm.TextAnalysis.contamination(docs, w = w)
      .as[(Long, String, Long, Long, Double)].collect()
    if (audit.exists(_._4 > 0)) assert(got.values.exists(!_._4))
  }

  test("token-budget selection (q103): kept set is a prefix of the quality " +
    "order, spend stays within budget, and the next doc would exceed it") {
    import spark.implicits._
    val out = graft.llm.TextAnalysis.tokenBudgetSelect(docs)
      .as[(Long, Long, Double, Long, Boolean)].collect()
    val total = out.map(_._2).sum
    val budget = total * 2 / 5 // the exact-integer 40% boundary
    val kept = out.filter(_._5)
    assert(kept.nonEmpty && kept.length < out.length)
    // spend within budget (inclusive boundary rule: cum*5 <= total*2)
    assert(kept.map(_._2).sum * 5 <= total * 2)
    // kept is a PREFIX of the (quality desc, id asc) total order
    val ordered = out.sortBy(r => (-r._3, r._1))
    assert(ordered.takeWhile(_._5).length == kept.length &&
      ordered.drop(kept.length).forall(!_._5),
      "kept docs must form a prefix of the quality order")
    // the first dropped doc's cumulative spend exceeds the budget
    val firstDropped = ordered.drop(kept.length).head
    assert(firstDropped._4 * 5 > total * 2)
    // cum_tokens is the running sum in that order
    var run = 0L
    ordered.foreach { r => run += r._2; assert(r._4 == run) }
  }

  test("DSIR selection (q104): weights match an independent integer-bit " +
    "oracle, target-like docs outrank un-target-like ones, and the keep " +
    "count is the exact quarter") {
    import spark.implicits._
    // planted fixture: target = docs about 'alpha'; rogue docs share no
    // vocabulary with the target and must rank below every target-like doc
    val fixture = ((1 to 40).map(i => (i.toLong, "alpha beta gamma delta", "en"))
      ++ (41 to 60).map(i => (i.toLong, "zet yot qof xi", "xx")))
      .toDF("doc_id", "text", "lang")
    val out = graft.llm.TextAnalysis.dsirSelect(fixture,
        fixture.filter(col("lang") === "en"))
      .as[(Long, Long, Long, Long, Long, Long, Boolean)].collect()
      .map(r => r._1 -> r).toMap
    val alphaW = out.filter(_._1 <= 40).values.map(_._5).toSet
    val rogueW = out.filter(_._1 > 40).values.map(_._5).toSet
    assert(alphaW.size == 1 && rogueW.size == 1 &&
      alphaW.head > rogueW.head,
      s"target-like weight ${alphaW} must exceed rogue ${rogueW}")
    assert(out.values.count(_._7) == 60 / 4)
    // independent integer-bit oracle on the planted fixture
    val byDoc = fixture.select("doc_id", "text").as[(Long, String)].collect()
    def toks(t: String) = t.trim.split("\\s+").filter(_.nonEmpty).toSeq
    val rawTf = byDoc.flatMap(d => toks(d._2)).groupBy(identity)
      .view.mapValues(_.length.toLong).toMap
    val nRaw = rawTf.values.sum
    val tgtTf = byDoc.filter(_._1 <= 40).flatMap(d => toks(d._2))
      .groupBy(identity).view.mapValues(_.length.toLong).toMap
    val nTgt = tgtTf.values.sum
    def bits(n: Long, c: Long): Long =
      63 - java.lang.Long.numberOfLeadingZeros(n / c)
    byDoc.foreach { case (id, text) =>
      val tf = toks(text).groupBy(identity).view.mapValues(_.length.toLong)
      val raw = tf.map { case (t, f) => f * bits(nRaw, rawTf(t)) }.sum
      val tgt = tf.map { case (t, f) =>
        f * bits(nTgt, tgtTf.getOrElse(t, 1L)) }.sum
      val (_, _, rawGot, tgtGot, logw, _, _) = out(id)
      assert(rawGot == raw && tgtGot == tgt && logw == raw - tgt,
        s"doc $id: got ($rawGot,$tgtGot,$logw), want ($raw,$tgt,${raw - tgt})")
    }
  }

  test("approx token percentiles: every returned value is an observed " +
    "group value within the sketch's rank-error bound of the target rank") {
    import spark.implicits._
    val accuracy = 10000
    val approx = graft.llm.TextAnalysis.tokenPercentilesApprox(docs,
        accuracy = accuracy)
      .as[(String, Double, Double)].collect()
    val byGroup = docs.select(col("lang"),
        graft.llm.TextAnalysis.tokenCount(col("text")).cast("long").as("nt"))
      .as[(String, Long)].collect().groupBy(_._1)
      .view.mapValues(_.map(_._2).sorted).toMap
    assert(approx.nonEmpty &&
      approx.map(_._1).toSet == byGroup.keySet)
    approx.foreach { case (g, p, v) =>
      val vals = byGroup(g)
      val n = vals.length
      assert(vals.contains(v.toLong),
        s"$g p$p: $v must be an observed token count")
      // rank of v brackets p·n within the n/accuracy bound (+1 slack for
      // the discrete rank floor)
      val below = vals.count(_ < v.toLong)
      val atMost = vals.count(_ <= v.toLong)
      val target = p * n
      val slack = n.toDouble / accuracy + 1
      assert(below - slack <= target && target <= atMost + slack,
        s"$g p$p: value $v rank [$below,$atMost] misses target $target")
    }
  }

  test("ngram novelty (q107): originals score 1, copies 0, partial reuse " +
    "in between; ownership conserves the distinct-gram total") {
    import spark.implicits._
    val a = "t1 t2 t3 t4 t5 t6"                      // 2 distinct 5-grams
    val fixture = Seq(
      (1L, a),                                       // original -> 1.0
      (2L, a),                                       // exact copy -> 0.0
      (3L, "t2 t3 t4 t5 t6 u1"),                     // 1 old + 1 new -> 0.5
      (4L, "v1 v2 v3"),                              // too short -> 0 grams
      (5L, "w1 w2 w3 w4 w5")).toDF("doc_id", "text") // fresh -> 1.0
    val out = graft.llm.TextAnalysis.ngramNovelty(fixture, w = 5)
      .as[(Long, Long, Long, Double)].collect().map(r => r._1 -> r).toMap
    assert(out(1L) == ((1L, 2L, 2L, 1.0)))
    assert(out(2L) == ((2L, 2L, 0L, 0.0)))
    assert(out(3L) == ((3L, 2L, 1L, 0.5)))
    assert(out(4L) == ((4L, 0L, 0L, 0.0)))
    assert(out(5L) == ((5L, 1L, 1L, 1.0)))
    // every distinct gram is owned exactly once: Σ n_new == |distinct grams|
    val gate = graft.llm.TextAnalysis.ngramNovelty(docs, w = 5)
      .as[(Long, Long, Long, Double)].collect()
    val distinctGrams = graft.llm.Dedup.shingles(docs, 5)
      .select("shingle").distinct().count()
    assert(gate.map(_._3).sum == distinctGrams)
    // the fixture's planted near-dups must push some docs well below 1
    assert(gate.exists(r => r._2 > 0 && r._4 < 0.5))
  }

  test("phrase mining (q106): a planted collocation outranks an equally " +
    "frequent pair of independently common words; ratios match the " +
    "driver-side formula") {
    import spark.implicits._
    // 'new york' always adjacent (perfect collocation); 'the'/'cat' both
    // common but paired only sometimes (low ratio)
    val fixture = ((1 to 10).map(i => (i.toLong, "new york is big"))
      ++ (11 to 20).map(i => (i.toLong, "the cat saw the dog run fast"))
      ++ (21 to 30).map(i => (i.toLong, "the bird and the fish the end")))
      .toDF("doc_id", "text")
    val out = graft.llm.TextAnalysis.phraseMining(fixture, minCount = 5L)
      .as[(String, String, Long, Long, Long, Double)].collect()
    val byPair = out.map(r => (r._1, r._2) -> r).toMap
    assert(byPair.contains(("new", "york")))
    val ny = byPair(("new", "york"))
    // driver-side recomputation of every emitted ratio
    val n = out.headOption.map(_ => fixture.as[(Long, String)].collect()
      .flatMap(_._2.split("\\s+")).length.toLong).getOrElse(0L)
    out.foreach { case (a, b, cab, ca, cb, ratio) =>
      assert(ratio == cab.toDouble * n / (ca.toDouble * cb),
        s"($a,$b): ratio drifted")
    }
    // the perfect collocation beats any 'the *' pair present
    out.filter(_._1 == "the").foreach { r =>
      assert(ny._6 > r._6, s"'new york' must outrank 'the ${r._2}'")
    }
    // top-1 on the ranked output IS the max ratio (ordering preserved)
    assert(out.head._6 == out.map(_._6).max)
  }

  test("curriculum ordering (q105): a permutation with all head docs " +
    "before middle before tail, draw-shuffled within tiers, re-salted " +
    "epochs permute tiers internally only") {
    import spark.implicits._
    val out = graft.llm.TextAnalysis.curriculumOrder(docs)
      .as[(Long, String, Long, Long, Long)].collect()
    assert(out.map(_._5).sorted.toSeq == (1L to out.length).toSeq)
    // tier blocks: every head rank < every middle rank < every tail rank
    def ranks(b: String) = out.filter(_._2 == b).map(_._5)
    assert(Seq("head", "middle", "tail").forall(b => ranks(b).nonEmpty))
    assert(ranks("head").max < ranks("middle").min &&
      ranks("middle").max < ranks("tail").min)
    // within a tier the order IS the (draw, id) order
    out.groupBy(_._2).foreach { case (_, rows) =>
      val byRank = rows.sortBy(_._5).map(r => (r._4, r._1)).toSeq
      assert(byRank == byRank.sorted, "intra-tier order must be (draw, id)")
    }
    // a re-salted epoch keeps tier membership, permutes within tiers
    val epoch2 = graft.llm.TextAnalysis.curriculumOrder(docs, salt = "|ep2")
      .as[(Long, String, Long, Long, Long)].collect()
    assert(epoch2.map(r => r._1 -> r._2).toMap ==
      out.map(r => r._1 -> r._2).toMap, "tier membership must be salt-free")
    assert(epoch2.map(r => r._1 -> r._5).toMap !=
      out.map(r => r._1 -> r._5).toMap, "re-salting must permute the order")
  }

  test("mixture sampling: deterministic, content-keyed, unlisted strata " +
    "kept whole, rates near targets") {
    import spark.implicits._
    val fixture = (1 to 300).map { i =>
      val lang = Seq("en", "es", "fr")(i % 3)
      (i.toLong, lang, s"document number $i with some text body $i")
    }.toDF("doc_id", "lang", "text")
    def run() = graft.llm.TextAnalysis.mixtureSample(fixture,
      Seq("en" -> 0.3, "es" -> 0.6)).select("doc_id", "lang")
      .as[(Long, String)].collect().toSet
    val a = run()
    assert(a == run(), "sampling must be deterministic across runs")
    val byLang = a.groupBy(_._2).view.mapValues(_.size).toMap
    // unlisted stratum keeps every doc
    assert(byLang("fr") == 100)
    // 100 draws per stratum: expect ~30/~60 — generous binomial bounds
    assert(byLang("en") >= 15 && byLang("en") <= 45, s"en=${byLang("en")}")
    assert(byLang("es") >= 45 && byLang("es") <= 75, s"es=${byLang("es")}")
    // content-keyed: identical text draws identically regardless of doc_id
    val dup = Seq((900L, "en", "same text"), (901L, "en", "same text"))
      .toDF("doc_id", "lang", "text")
    val kept = graft.llm.TextAnalysis.mixtureSample(dup, Seq("en" -> 0.5))
      .count()
    assert(kept == 0L || kept == 2L, s"dup texts must decide together: $kept")
  }

  test("weighted mixture sampling: thresholds derived from the computed " +
    "weights, scarcest source keeps all, achieved rates track targets") {
    import graft.llm.TextAnalysis
    // skewed fixture: token mass 8:3:1 across sources, ~20 tokens/doc
    val fixture = (
      (1 to 400).map(i => (i.toLong, "big")) ++
      (401 to 550).map(i => (i.toLong, "mid")) ++
      (551 to 600).map(i => (i.toLong, "small"))
    ).map { case (id, src) =>
      (id, src, s"$src document number $id " +
        Seq.tabulate(16)(j => s"w${id}_$j").mkString(" "))
    }.toDF("doc_id", "source", "text")
    def run() = TextAnalysis.mixtureSampleWeighted(fixture,
        TextAnalysis.mixtureWeights(fixture))
      .select("doc_id", "source", "keep_threshold")
      .as[(Long, String, Long)].collect()
    val kept = run()
    assert(kept.toSet == run().toSet, "survivor set must be deterministic")
    val thr = kept.map(t => t._2 -> t._3).toMap
    // scarcest source: rate is max → threshold = full resolution, keeps ALL
    assert(thr("small") == 1000000L, s"small thr=${thr.get("small")}")
    assert(kept.count(_._2 == "small") == 50)
    // thresholds fall with token mass (temperature downsampling direction)
    assert(thr("big") < thr("mid") && thr("mid") < thr("small"))
    // closed form: rate ∝ 1/sqrt(T_s), so thr ≈ floor(sqrt(T_min/T_s)·1e6);
    // the only slack is the 1e-6 weight rounding (≤ ~50 threshold units)
    def want(tMin: Double, t: Double) = math.floor(math.sqrt(tMin / t) * 1e6)
    assert(math.abs(thr("big") - want(50.0 * 20, 400.0 * 20)) < 60,
      s"big thr=${thr("big")}")
    assert(math.abs(thr("mid") - want(50.0 * 20, 150.0 * 20)) < 60,
      s"mid thr=${thr("mid")}")
    // achieved per-source keep rate ≈ threshold/1e6 (generous binomial band)
    val nBig = kept.count(_._2 == "big")
    val nMid = kept.count(_._2 == "mid")
    assert(math.abs(nBig - 400.0 * thr("big") / 1e6) < 45, s"big kept $nBig")
    assert(math.abs(nMid - 150.0 * thr("mid") / 1e6) < 35, s"mid kept $nMid")
    // achieved TOKEN share tracks the q92 weight target (uniform doc
    // lengths: doc share == token share)
    val weights = TextAnalysis.mixtureWeights(fixture)
      .select("source", "weight").as[(String, Double)].collect().toMap
    val tot = kept.length.toDouble
    Seq("big", "mid", "small").foreach { s =>
      val achieved = kept.count(_._2 == s) / tot
      assert(math.abs(achieved - weights(s)) < 0.08,
        s"source $s: achieved share $achieved vs target ${weights(s)}")
    }
    // a source ABSENT from the weights relation keeps everything (LEFT
    // join + coalesce — the carried-not-filtered contract)
    val partial = TextAnalysis.mixtureWeights(
      fixture.filter(col("source") =!= "small"))
    val keptPartial = TextAnalysis.mixtureSampleWeighted(fixture, partial)
    assert(keptPartial.filter(col("source") === "small").count() == 50L,
      "unlisted source must keep every doc")
  }

  test("pair-score histogram sample mode: sampleFrac=1 is the exact form, " +
    "the draw is content-keyed, sampled decile shares track the full curve") {
    import graft.core.CacheScope
    import graft.llm.{Dedup => D}
    import graft.llm.TextAnalysis
    // 40 families × 5 docs, mutation depth grows within a family → the
    // pair jaccards spread across several deciles; families share nothing
    val fixture = (0 until 40).flatMap { fam =>
      val base = Seq.tabulate(20)(t => s"fam${fam}_tok$t")
      (0 until 5).map { j =>
        val toks = base.zipWithIndex.map { case (tok, idx) =>
          if (idx < j * 2) s"mut${fam}_${j}_$idx" else tok }
        ((fam * 5 + j).toLong, toks.mkString(" "))
      }
    }.toDF("doc_id", "text")
    def hist(df: org.apache.spark.sql.DataFrame, frac: Double) =
      CacheScope.scoped {
        D.pairScoreHistogram(df, w = 3, tau = 0.1, sampleFrac = frac)
          .as[(Long, Long)].collect().toMap
      }
    val full = hist(fixture, 1.0)
    assert(full.values.sum >= 200, s"fixture should yield many pairs: $full")
    assert(full.size >= 3, s"fixture should span several deciles: $full")
    // sampleFrac = 1 carries no sample filter: equals the plain bucketing
    val direct = CacheScope.scoped {
      D.ngramJaccardPairs(fixture, w = 3, tau = 0.1)
        .select(floor(col("jaccard") * 10).cast("long").as("bucket"))
        .groupBy("bucket").agg(count(lit(1)).as("n"))
        .as[(Long, Long)].collect().toMap
    }
    assert(full == direct)
    // the sampled run == the full operator over the independently-derived
    // survivor docs (pins the draw predicate: salt, modulus, rounding)
    val frac = 0.6
    val keptDocs = fixture.as[(Long, String)].collect().filter {
      case (_, t) =>
        TextAnalysis.fingerprintOf(t + "|pairhist") % 1000000L <
          math.round(frac * 1000000L)
    }
    val manual = hist(keptDocs.toSeq.toDF("doc_id", "text"), 1.0)
    val sampled = hist(fixture, frac)
    assert(sampled == manual,
      s"sampled run must equal full op over the drawn docs")
    assert(sampled == hist(fixture, frac), "sampling must be deterministic")
    // decile SHAPE: each bucket's share within a generous band of the full
    // curve (doc sampling keeps pairs at ~frac² independent of score)
    val fTot = full.values.sum.toDouble
    val sTot = sampled.values.sum.toDouble
    assert(sTot > 0, "sample must retain pairs at frac=0.6")
    full.keys.foreach { b =>
      val fs = full(b) / fTot
      val ss = sampled.getOrElse(b, 0L) / sTot
      assert(math.abs(fs - ss) < 0.2,
        s"bucket $b share: full=$fs sampled=$ss")
    }
  }

  test("source cap: per-source counts bounded, deterministic, content-keyed") {
    import spark.implicits._
    val perSource = docs.groupBy("source").count()
      .as[(String, Long)].collect().toMap
    def run() = graft.llm.TextAnalysis.sourceCap(docs, cap = 10)
      .select("doc_id", "source").as[(Long, String)].collect().toSet
    val kept = run()
    assert(kept == run(), "survivor set must be deterministic across runs")
    val keptBySource = kept.groupBy(_._2).view.mapValues(_.size).toMap
    perSource.foreach { case (src, n) =>
      assert(keptBySource.getOrElse(src, 0) == math.min(10L, n),
        s"source $src: ${keptBySource.get(src)} kept of $n (cap 10)")
    }
    // rank is total and within [1, cap]
    val ranks = graft.llm.TextAnalysis.sourceCap(docs, cap = 10)
      .select("source", "src_rank").as[(String, Long)].collect()
    assert(ranks.forall { case (_, r) => r >= 1 && r <= 10 })
    assert(ranks.groupBy(_._1).values.forall(rs =>
      rs.map(_._2).sorted.toSeq == (1L to rs.length).toSeq))
  }

  test("unigram LM surprisal matches an independent Scala-collections " +
    "oracle; rare tokens score above common ones") {
    import spark.implicits._
    val rows = docs.select("doc_id", "text").as[(Long, String)].collect()
    val toks = rows.map { case (id, t) =>
      id -> t.split("\\s+").filter(_.nonEmpty).toSeq
    }
    val counts = toks.flatMap(_._2).groupBy(identity).view
      .mapValues(_.size.toLong).toMap
    val total = counts.values.sum
    def bits(c: Long): Long =
      63 - java.lang.Long.numberOfLeadingZeros(total / c)
    val expected = toks.map { case (id, ts) =>
      val sb = ts.map(t => bits(counts(t))).sum
      (id, ts.size.toLong, sb, sb.toDouble / ts.size)
    }.toSet
    val got = graft.llm.TextAnalysis.lmSurprisal(docs)
      .as[(Long, Long, Long, Double)].collect().toSet
    assert(got == expected)
    // a corpus-rare token must carry at least as many bits as a common one
    val (rare, common) = (counts.minBy(_._2), counts.maxBy(_._2))
    assert(bits(rare._2) >= bits(common._2))
  }

  test("bigram LM surprisal matches an independent Scala oracle; " +
    "repetitive transitions score below varied ones") {
    import spark.implicits._
    val rows = docs.select("doc_id", "text").as[(Long, String)].collect()
    val toks = rows.map { case (id, t) =>
      id -> t.split("\\s+").filter(_.nonEmpty).toSeq
    }
    val c1 = toks.flatMap(_._2).groupBy(identity).view
      .mapValues(_.size.toLong).toMap
    val total = c1.values.sum
    val c2 = toks.flatMap { case (_, ts) =>
      ts.sliding(2).filter(_.size == 2).map(_.mkString(" "))
    }.toSeq.groupBy(identity).view.mapValues(_.size.toLong).toMap
    def bits(num: Long, den: Long): Long =
      63 - java.lang.Long.numberOfLeadingZeros(num / den)
    val expected = toks.filter(_._2.nonEmpty).map { case (id, ts) =>
      val first = bits(total, c1(ts.head))
      val bg = ts.sliding(2).filter(_.size == 2).map { p =>
        bits(c1(p.head), c2(p.mkString(" ")))
      }.sum
      (id, ts.size.toLong, first + bg,
        (first + bg).toDouble / ts.size)
    }.toSet
    val got = graft.llm.TextAnalysis.lmBigramSurprisal(docs)
      .as[(Long, Long, Long, Double)].collect().toSet
    assert(got == expected)
    // a doc riding one repeated transition scores below one with varied
    // transitions over the same unigram mix
    val fixture = Seq(
      (1L, "a b a b a b a b"),
      (2L, "a x b y a z b q")).toDF("doc_id", "text")
    val f = graft.llm.TextAnalysis.lmBigramSurprisal(fixture)
      .select("doc_id", "xent_bits").as[(Long, Double)].collect().toMap
    assert(f(1L) < f(2L), s"repetitive doc must score lower: $f")
  }

  test("incremental dedup equals the batch pair relation restricted to " +
    "pairs with a non-stored member, over a parquet store of banded " +
    "signatures") {
    import spark.implicits._
    val split = graft.llm.TextAnalysis.dataSplit(docs).select("doc_id", "split")
    val trainIds = split.filter($"split" === "train")
      .select("doc_id").as[Long].collect().toSet
    // expected: q29's exact relation, canonicalized (stored, new)
    val exact = Dedup.ngramJaccardPairs(docs, w = 3, tau = 0.5)
      .select("id_a", "id_b", "jaccard")
      .as[(Long, Long, Double)].collect()
    val expected = exact.flatMap { case (a, b, j) =>
      (trainIds(a), trainIds(b)) match {
        case (true, true)  => None
        case (true, false) => Some((a, b, j))
        case (false, true) => Some((b, a, j))
        case (false, false) => Some((a, b, j))
      }
    }.toSet
    assert(expected.nonEmpty, "fixture should have cross-split near-dups")
    val newDocs = docs.join(split.filter($"split" =!= "train")
      .select("doc_id"), "doc_id")
    val oldDocs = docs.join(split.filter($"split" === "train")
      .select("doc_id"), "doc_id")
    val dir = java.nio.file.Files.createTempDirectory("sigstore").toString
    val path = s"$dir/store"
    Dedup.bandedSignatures(
        Dedup.shingles(oldDocs, w = 3).filter(col("shingle").isNotNull),
        bands = 32, rowsPerBand = 2)
      .write.parquet(path)
    val got = Dedup.incrementalDedupPairs(newDocs, docs,
        spark.read.parquet(path), w = 3, tau = 0.5,
        bands = 32, rowsPerBand = 2)
      .as[(Long, Long, Double)].collect().toSet
    assert(got == expected,
      s"missed ${expected -- got}, extra ${got -- expected}")
  }

  test("chunk dedup: planted duplicate chunks counted, first occurrence " +
    "kept; tiling arithmetic exact") {
    import spark.implicits._
    val fixture = Seq(
      (1L, "a b c d e f g h x y"),          // chunks: [a b c d] [e f g h] [x y]
      (2L, "a b c d q r s t"),              // [a b c d] dup, [q r s t] new
      (3L, "a b c d e f g h x y"),          // exact dup of doc 1 → all dup
      (4L, ""),                             // empty on input
      (5L, "   \t  ")                       // whitespace-only on input
    ).toDF("doc_id", "text")
    val got = Dedup.chunkDedup(fixture, w = 4)
      .select("doc_id", "n_chunks", "n_dup_chunks", "retention")
      .as[(Long, Long, Long, Double)].collect()
      .map(r => r._1 -> ((r._2, r._3, r._4))).toMap
    assert(got(1L) == ((3L, 0L, 1.0)))
    assert(got(2L) == ((2L, 1L, 0.5)))
    assert(got(3L) == ((3L, 3L, 0.0)))
    // the rewrite removes exactly the duplicate chunks, keeping order —
    // and returns EVERY input doc: empty/whitespace docs (which emit no
    // chunks) come back as (id, 0, 0, "") instead of disappearing
    val rw = Dedup.chunkDedupRewrite(fixture, w = 4)
      .select("doc_id", "n_chunks", "kept_chunks", "text")
      .as[(Long, Long, Long, String)].collect()
      .map(r => r._1 -> ((r._2, r._3, r._4))).toMap
    assert(rw.keySet == Set(1L, 2L, 3L, 4L, 5L))
    assert(rw(1L)._3 == "a b c d e f g h x y")
    assert(rw(2L)._3 == "q r s t")
    assert(rw(3L)._3 == "")
    assert(rw(4L) == ((0L, 0L, "")))
    assert(rw(5L) == ((0L, 0L, "")))
    // corpus invariant: chunk count is the tiling of the token count
    val counts = Dedup.chunkDedup(docs, w = 16)
      .select("doc_id", "n_chunks").as[(Long, Long)].collect().toMap
    val tokCounts = docs.select(col("doc_id"),
        graft.llm.TextAnalysis.tokenCount(col("text")).cast("long"))
      .as[(Long, Long)].collect().toMap
    assert(tokCounts.forall { case (id, n) =>
      counts.get(id).contains((n + 15) / 16) })
  }

  test("PQ ANN at registry params (m=16, 32 codes, refine=160) recalls ALL " +
    "of brute-force top-k — q68 shares q32's oracle on this guarantee") {
    val emb = Tables.embeddings(spark, sfDir)
    val queries = emb.filter(col("vec_id") < 10)
    val brute = Similarity.bruteForceTopK(emb, queries, k = 5)
      .select("query_id", "neighbor_id").as[(Long, Long)].collect().toSet
    val pq = Similarity.pqTopK(emb, queries, k = 5)
      .select("query_id", "neighbor_id").as[(Long, Long)].collect().toSet
    assert(pq == brute, s"PQ missed ${brute -- pq}, extra ${pq -- brute}")
    // the bounded top-K refine selection is SET-identical to the rank
    // window it replaced (same order, same tie-break — exercised here on a
    // tie-heavy frame, where a wrong tie-break would diverge) — pqTopK and
    // the stored-index search rest on this equality
    val rnd = new scala.util.Random(11)
    val scored = (0L until 3L).flatMap(q => (0L until 300L).map(n =>
        (q, n, rnd.nextInt(20).toDouble))) // 20 levels → dense score ties
      .toDF("query_id", "neighbor_id", "adc")
    val viaWindow = scored.withColumn("__r",
        org.apache.spark.sql.functions.row_number().over(
          org.apache.spark.sql.expressions.Window.partitionBy("query_id")
            .orderBy(col("adc").desc, col("neighbor_id"))))
      .filter(col("__r") <= 40)
      .select("query_id", "neighbor_id").as[(Long, Long)].collect().toSet
    val viaAgg = Similarity.boundedTopIds(scored.repartition(8), "adc", 40)
      .select("query_id", "neighbor_id").as[(Long, Long)].collect().toSet
    assert(viaAgg == viaWindow,
      s"bounded refine diverged: +${viaAgg -- viaWindow} -${viaWindow -- viaAgg}")
    // codes are within the codebook range and one per subspace
    val books = Similarity.trainPqCodebooks(emb, m = 16, k = 32)
    val codes = Similarity.pqEncode(emb, books)
      .as[(Long, Array[Int])].collect()
    assert(codes.forall(c => c._2.length == 16 &&
      c._2.forall(x => x >= 0 && x < 32)))
  }

  test("bloom contamination audit: one-sided error vs the exact join — " +
    "never misses a hit, bounded false-positive excess") {
    import spark.implicits._
    val exact = graft.llm.TextAnalysis.contamination(docs)
      .select("doc_id", "n_grams", "n_hit")
      .as[(Long, Long, Long)].collect()
      .map(r => r._1 -> ((r._2, r._3))).toMap
    val bloom = graft.llm.TextAnalysis.contaminationBloom(docs)
      .select("doc_id", "n_grams", "n_hit")
      .as[(Long, Long, Long)].collect()
      .map(r => r._1 -> ((r._2, r._3))).toMap
    assert(bloom.keySet == exact.keySet)
    exact.foreach { case (id, (ng, nh)) =>
      val (bg, bh) = bloom(id)
      assert(bg == ng, s"doc $id: gram counts must agree ($bg vs $ng)")
      assert(bh >= nh, s"doc $id: bloom must never miss a hit ($bh < $nh)")
    }
    // realized FP excess stays near the sized-for FPR (~1% of probes)
    val probes = exact.values.map(_._1).sum
    val excess = bloom.values.map(_._2).sum - exact.values.map(_._2).sum
    assert(excess <= math.max(5, probes / 20),
      s"false-positive excess $excess over $probes probes")
  }

  test("quality classifier: planted high/low weights rank docs as planted; " +
    "corpus scores match an independent Scala oracle; empty doc scores 0") {
    import graft.llm.TextAnalysis
    // driver-side twin of the portable fingerprint fold
    def fp(s: String): Long = s.foldLeft(0L)((a, c) =>
      java.lang.Math.floorMod(a * 31 + c.toLong, 1L << 57))
    val d = 64
    val (good, bad) = ("excellent", "junk")
    val (gb, bb) = ((fp(good) % d).toInt, (fp(bad) % d).toInt)
    assert(gb != bb, "pick planted tokens with distinct buckets")
    val planted = Array.fill(d)(0L)
    planted(gb) = 8L
    planted(bb) = -8L
    val fixture = Seq(
      (1L, s"$good $good $good"),
      (2L, s"$bad $bad"),
      (3L, s"$good $bad"), // mean of +8 and -8
      (4L, "")
    ).toDF("doc_id", "text")
    val got = TextAnalysis.classifierScore(fixture, planted)
      .select("doc_id", "n_tokens", "raw_score", "score")
      .as[(Long, Long, Long, Double)].collect()
      .map(r => r._1 -> ((r._2, r._3, r._4))).toMap
    assert(got(1L) == ((3L, 24L, 8.0)))
    assert(got(2L) == ((2L, -16L, -8.0)))
    assert(got(3L) == ((2L, 0L, 0.0)))
    assert(got(4L) == ((0L, 0L, 0.0)))
    // corpus cross-check against an independent Scala-collections oracle
    // at the registry weights — what q77's DuckDB oracle re-derives in SQL
    val ws = TextAnalysis.hashedWeights(d)
    val expected = docs.select("doc_id", "text").as[(Long, String)].collect()
      .map { case (id, text) =>
        val toks = text.split("\\s+").filter(_.nonEmpty)
        val raw = toks.map(t => ws((fp(t) % d).toInt)).sum
        id -> ((toks.length.toLong, raw,
          if (toks.nonEmpty) raw.toDouble / toks.length else 0.0))
      }.toMap
    val gotCorpus = TextAnalysis.classifierScore(docs, ws)
      .select("doc_id", "n_tokens", "raw_score", "score")
      .as[(Long, Long, Long, Double)].collect()
      .map(r => r._1 -> ((r._2, r._3, r._4))).toMap
    assert(gotCorpus == expected)
  }

  test("subword vocab: planted fixture counts exact (frequency-weighted, " +
    "type spread, short-token guard); corpus matches a Scala oracle") {
    import graft.llm.TextAnalysis
    // "ab" appears in 3 tokens; token "abc" ×2 weights its grams ×2;
    // single-char token "x" must emit nothing at nMin=2
    val fixture = Seq((1L, "abc abc abd x"), (2L, "zab")).toDF("doc_id", "text")
    val got = TextAnalysis.subwordVocab(fixture, nMin = 2, nMax = 3,
        topV = 100)
      .as[(String, Long, Long)].collect()
      .map(r => r._1 -> ((r._2, r._3))).toMap
    assert(got("ab") == ((4L, 3L))) // abc(×2) + abd + zab
    assert(got("abc") == ((2L, 1L)))
    assert(got("zab") == ((1L, 1L)))
    assert(!got.keySet.exists(_.length < 2), s"short grams leaked: $got")
    // corpus cross-check vs a driver-side oracle (exact integers)
    val toks = docs.select(explode(
        graft.llm.TextAnalysis.tokens(col("text"))).as("t"))
      .as[String].collect()
    val tf = toks.groupBy(identity).view.mapValues(_.length.toLong).toMap
    val agg = scala.collection.mutable.Map[String, (Long, Long)]()
    for ((tok, cnt) <- tf; n <- 2 to 4; if tok.length >= n;
         i <- 0 to tok.length - n) {
      val g = tok.substring(i, i + n)
      val (o, _) = agg.getOrElse(g, (0L, 0L))
      agg(g) = (o + cnt, 0L)
    }
    val types = scala.collection.mutable.Map[String, Set[String]]()
    for ((tok, _) <- tf; n <- 2 to 4; if tok.length >= n;
         i <- 0 to tok.length - n) {
      val g = tok.substring(i, i + n)
      types(g) = types.getOrElse(g, Set.empty) + tok
    }
    val expected = agg.map { case (g, (o, _)) => (g, o, types(g).size.toLong) }
      .toSeq.sortBy { case (g, o, _) => (-o, g) }.take(200)
    val gotCorpus = TextAnalysis.subwordVocab(docs)
      .as[(String, Long, Long)].collect().toSeq
    assert(gotCorpus == expected)
  }

  test("BPE: merges learn the classic low/lower/lowest fixture in order; " +
    "segmentation counts match hand-derivation and the no-merge identity") {
    import graft.llm.TextAnalysis
    // the textbook fixture: "lo" then "low" dominate the pair counts
    val fixture = Seq(
      (1L, "low low low low low"),
      (2L, "lower lower newest"),
      (3L, "widest newest newest")).toDF("doc_id", "text")
    val merges = TextAnalysis.learnBpeMerges(fixture, numMerges = 4)
    assert(merges.take(2) == Seq(("l", "o"), ("lo", "w")),
      s"first merges should build 'low': $merges")
    // apply: "low" → 1 piece under its own merges; unseen token → chars
    val counts = TextAnalysis.bpePieceCounts(fixture, merges)
      .as[(Long, Long, Long)].collect()
      .map(r => r._1 -> ((r._2, r._3))).toMap
    val handLow = { // doc 1: 5 × "low", fully merged → 5 pieces
      counts(1L) == ((5L, 5L)) }
    assert(handLow, s"doc 1 should segment to one piece per 'low': $counts")
    // zero merges → piece count is exactly the character count
    val identity = TextAnalysis.bpePieceCounts(fixture, Seq.empty)
      .as[(Long, Long, Long)].collect()
      .map(r => r._1 -> r._3).toMap
    assert(identity(1L) == 15L && identity(2L) == 16L)
    // corpus: determinism + the compression monotonicity contract
    val m1 = TextAnalysis.learnBpeMerges(docs, numMerges = 50)
    val m2 = TextAnalysis.learnBpeMerges(docs, numMerges = 50)
    assert(m1 == m2, "training must be deterministic")
    val p0 = TextAnalysis.bpePieceCounts(docs, Seq.empty)
      .agg(sum("n_pieces")).as[Long].head()
    val p50 = TextAnalysis.bpePieceCounts(docs, m1)
      .agg(sum("n_pieces")).as[Long].head()
    assert(p50 < p0, s"50 merges must compress the corpus: $p50 !< $p0")
    // store roundtrip: the rehydrated merge list is the trained one, in
    // order, and segments identically; empty store fails loud
    val store = java.nio.file.Files.createTempDirectory("graft_bpe").toString
    TextAnalysis.writeBpeStore(m1, s"$store/m", spark)
    val m3 = TextAnalysis.readBpeStore(spark, s"$store/m")
    assert(m3 == m1, "rehydrated merges must equal the trained list")
    val viaStore = TextAnalysis.bpePieceCounts(docs, m3)
      .agg(sum("n_pieces")).as[Long].head()
    assert(viaStore == p50)
    intercept[IllegalArgumentException] {
      TextAnalysis.writeBpeStore(Seq.empty, s"$store/empty", spark)
      TextAnalysis.readBpeStore(spark, s"$store/empty")
    }
  }

  test("data-quality audit: planted violations counted in one pass; " +
    "NULL predicate results count as violations") {
    val fixture = Seq(
      (1L, "good text", "en", 9L),
      (1L, "dup id", "en", 6L), // duplicate_doc_id
      (2L, null.asInstanceOf[String], "en", 0L), // null → trips 3 rules
      (3L, "", "en", 0L), // empty_text
      (4L, "abc", "en", 99L), // n_chars_mismatch
      (5L, "hola", "xx", 4L) // unknown_lang
    ).toDF("doc_id", "text", "lang", "n_chars")
    val got = graft.ops.Audit.audit(fixture,
        rowRules = Seq(
          "null_text" -> col("text").isNull,
          "empty_text" -> (length(col("text")) === 0),
          "n_chars_mismatch" -> (col("n_chars") =!= length(col("text"))),
          "unknown_lang" -> !col("lang").isin("de", "en", "es", "fr", "zh")),
        uniqueKeys = Seq("doc_id"))
      .as[(String, Long, Long)].collect()
      .map(r => r._1 -> ((r._2, r._3))).toMap
    // the NULL-text row violates null_text AND (via NULL-result coercion)
    // empty_text and n_chars_mismatch — an audit must not pass on NULL
    assert(got("null_text") == ((1L, 6L)))
    assert(got("empty_text") == ((2L, 6L)))
    assert(got("n_chars_mismatch") == ((2L, 6L)))
    assert(got("unknown_lang") == ((1L, 6L)))
    assert(got("duplicate_doc_id") == ((1L, 6L)))
    // clean corpus: zero violations everywhere, totals = row count
    val clean = graft.queries.LlmQueries.dataQuality(spark, sfDir)
      .as[(String, Long, Long)].collect()
    assert(clean.forall(_._2 == 0L), s"gate corpus should audit clean: ${clean.toSeq}")
    assert(clean.map(_._3).distinct.toSeq == Seq(docs.count()))
  }

  test("shuffle order: a deterministic permutation that actually permutes") {
    import spark.implicits._
    def run() = graft.llm.TextAnalysis.shuffleOrder(docs)
      .select("doc_id", "shuffle_rank").as[(Long, Long)].collect().toMap
    val ranks = run()
    assert(ranks == run(), "epoch order must be reproducible")
    val n = ranks.size
    assert(ranks.values.toSeq.sorted == (1L to n).toSeq,
      "ranks must be a dense permutation")
    // a hash order correlates with nothing: it cannot equal the id order
    val idOrder = ranks.keys.toSeq.sorted.zip(1L to n).toMap
    assert(ranks != idOrder, "shuffle must not be the identity order")
    // a different salt gives an independent epoch order
    val epoch2 = graft.llm.TextAnalysis.shuffleOrder(docs, salt = "|epoch2")
      .select("doc_id", "shuffle_rank").as[(Long, Long)].collect().toMap
    assert(epoch2 != ranks)
  }

  test("random projection matches a driver-side dot against the exposed " +
    "plane family") {
    import spark.implicits._
    val emb = Tables.embeddings(spark, sfDir).filter(col("vec_id") < 3)
    val vecs = emb.select(col("vec_id").cast("long"), col("embedding"))
      .as[(Long, Array[Float])].collect().toMap
    val planes = Similarity.projectionPlanes(16)
    val got = Similarity.randomProjection(emb, outDim = 16)
      .as[(Long, Long, Double)].collect()
    assert(got.length == vecs.size * 16)
    got.foreach { case (id, j, proj) =>
      val v = vecs(id)
      val p = planes(j.toInt)
      var acc = 0.0
      for (i <- v.indices) acc += v(i).toDouble * p(i).toDouble
      // proj is acc rounded at 1e-6 (HALF_UP); compare within the grid
      assert(math.abs(proj - acc) < 6e-7, s"vec $id dim $j: $proj vs $acc")
    }
  }

  test("corpus cube: the grand-total row equals corpus totals and levels " +
    "are consistent") {
    import spark.implicits._
    val cube = graft.queries.LlmQueries.corpusCube(spark, sfDir)
      .select(col("lang"), col("source"), col("gid"), col("n_docs"),
        col("n_tokens"))
      .as[(Option[String], Option[String], Long, Long, Long)].collect()
    val total = docs.count()
    val grand = cube.filter(_._3 == 3L)
    assert(grand.length == 1 && grand.head._4 == total)
    // per-lang level sums back to the grand total
    val langLevel = cube.filter(_._3 == 1L) // source aggregated away
    assert(langLevel.map(_._4).sum == total)
    assert(langLevel.map(_._5).sum == grand.head._5)
  }

  test("multimodal plumbing: decode/features/frames shapes") {
    implicit val s = spark
    val media = Multimodal.asMedia(docs.limit(10))
    assert(media.schema("content").dataType.typeName == "binary")
    val meta = Multimodal.decodeMeta(media).collect()
    assert(meta.length == 10 && meta.forall(m => m.nBytes > 0 &&
      m.width < 640 && m.height < 480))
    val frames = Multimodal.sampleFrames(media, stride = 2).collect()
    assert(frames.nonEmpty && frames.forall(_.frameBytes.length <= 1024))
  }

  test("Gopher repetition battery: hand-computed top/dup n-gram char " +
    "fractions, published thresholds, short/empty docs keep (q246)") {
    // doc 1: "a b a b a b" — top bigram "a b" occurs 3x of 5 bigrams,
    //   chars 3*3=9 of 11 -> top2 = 9000/11 = 818 (> 200 -> drop)
    // doc 2: 30 distinct tokens, nothing repeats — the top n-gram still
    //   scores (count 1: the metric is the published definition, which
    //   assumes long documents), but every fraction sits under its
    //   threshold and dup metrics are exactly 0 -> keep
    // doc 3: a duplicated 5-gram: "v w x y z v w x y z" has "v w x y z"
    //   twice (2*9=18 chars of 19 -> dup5 = 947 > 150 -> drop); its top
    //   bigram "z v" ties with ... all bigrams: v w, w x, x y, y z,
    //   z v, v w, w x, x y, y z -> "v w"/"w x"/"x y"/"y z" each 2x;
    //   argmax tie-break (cnt, len, text) picks "y z" -> 2*3=6 of 19
    // doc 4: one token -> no grams at all, keep
    // doc 5: empty -> keep, n_chars 0
    val docs = Seq(
      (1L, "a b a b a b"),
      (2L, (1 to 30).map(i => s"t$i").mkString(" ")),
      (3L, "v w x y z v w x y z"),
      (4L, "solo"),
      (5L, "")).toDF("doc_id", "text")
    val got = TextAnalysis.repetitionStats(docs)
      .collect().map(r => r.getLong(0) -> r).toMap
    def m(id: Long, col: String): Long =
      got(id).getLong(got(id).fieldIndex(col))
    def keep(id: Long): Boolean =
      got(id).getBoolean(got(id).fieldIndex("keep"))
    assert(m(1L, "n_chars") == 11L)
    assert(m(1L, "top2_milli") == 9L * 1000 / 11, s"${got(1L)}")
    assert(!keep(1L), "a dominant bigram past 0.20 drops")
    assert(m(2L, "top2_milli") <= 200L && keep(2L), s"${got(2L)}")
    assert(m(2L, "dup5_milli") == 0L && m(2L, "dup10_milli") == 0L)
    assert(m(3L, "dup5_milli") == 18L * 1000 / 19, s"${got(3L)}")
    assert(!keep(3L), "a duplicated 5-gram span past 0.15 drops")
    assert(m(3L, "top2_milli") == 6L * 1000 / 19,
      s"argmax tie must break by (cnt, len, text): ${got(3L)}")
    assert(m(4L, "n_chars") == 4L && m(4L, "top2_milli") == 0L && keep(4L))
    assert(m(5L, "n_chars") == 0L && keep(5L))
    // NULL text scores as the empty doc (the tokens() coalesce)
    val gotN = TextAnalysis.repetitionStats(
        Seq((6L, null: String)).toDF("doc_id", "text"))
      .collect().head
    assert(gotN.getLong(gotN.fieldIndex("n_chars")) == 0L &&
      gotN.getBoolean(gotN.fieldIndex("keep")))
  }

  test("multimodal header decode: PNG/GIF/BMP/WAV dimensions and duration " +
    "are parsed from the real file headers; foreign bytes fall to the " +
    "stub, loudly flagged") {
    implicit val s = spark
    // synthesize one doc per format (doc_id % 5 picks it) with known
    // dims: doc_id 640 -> png w=1,h=161; 1 -> gif w=2,h=8; 2 -> bmp
    // w=3,h=15; 3 -> wav (32 text bytes -> 32/16 = 2 ms); 4 -> jpeg
    // w=5,h=29 (r18: real SOFn decode)
    val docs = Seq((640L, "x" * 100), (1L, "y" * 50), (2L, "z" * 75),
      (3L, "w" * 32), (4L, "j" * 40)).toDF("doc_id", "text")
    val got = Multimodal.decodeMeta(Multimodal.synthesizeMedia(docs))
      .collect().map(r => r.doc_id -> r).toMap
    assert(got(640L).codec == "png" && got(640L).width == 1 &&
      got(640L).height == (640 * 7 % 480 + 1) && got(640L).durationMs == 0L,
      s"png: ${got(640L)}")
    assert(got(640L).nBytes == 100 + 33)
    assert(got(1L).codec == "gif" && got(1L).width == 2 &&
      got(1L).height == 8 && got(1L).nBytes == 50 + 13, s"gif: ${got(1L)}")
    assert(got(2L).codec == "bmp" && got(2L).width == 3 &&
      got(2L).height == 15 && got(2L).nBytes == 75 + 54, s"bmp: ${got(2L)}")
    assert(got(3L).codec == "wav" && got(3L).width == 0 &&
      got(3L).height == 0 && got(3L).durationMs == 2L &&
      got(3L).nBytes == 32 + 44, s"wav: ${got(3L)}")
    assert(got(4L).codec == "jpeg" && got(4L).width == 5 &&
      got(4L).height == 29 && got(4L).durationMs == 0L &&
      got(4L).nBytes == 40 + 33, s"jpeg: ${got(4L)}")
    // hand-built headers (not via synthesizeMedia) decode too: the
    // parser reads the spec offsets, not the generator's layout
    val wavBytes = {
      val buf = java.nio.ByteBuffer.allocate(44 + 32000)
        .order(java.nio.ByteOrder.LITTLE_ENDIAN)
      buf.put("RIFF".getBytes("US-ASCII")).putInt(36 + 32000)
      buf.put("WAVE".getBytes("US-ASCII"))
      buf.put("fmt ".getBytes("US-ASCII")).putInt(16)
      buf.putShort(1.toShort).putShort(1.toShort)
      buf.putInt(8000).putInt(16000)
      buf.putShort(2.toShort).putShort(16.toShort)
      buf.put("data".getBytes("US-ASCII")).putInt(32000)
      buf.array()
    }
    assert(Multimodal.HeaderCodec.sniff(wavBytes)
      .contains(("wav", 0, 0, 2000L)), "32000 B at 16000 B/s = 2000 ms")
    // a top-down BMP (negative height) reports the magnitude
    val bmp = {
      val buf = java.nio.ByteBuffer.allocate(54)
        .order(java.nio.ByteOrder.LITTLE_ENDIAN)
      buf.put('B'.toByte).put('M'.toByte).putInt(54).putInt(0).putInt(54)
      buf.putInt(40).putInt(321).putInt(-77)
      buf.putShort(1.toShort).putShort(8.toShort)
      buf.putInt(0).putInt(0).putInt(0).putInt(0).putInt(0).putInt(0)
      buf.array()
    }
    assert(Multimodal.HeaderCodec.sniff(bmp).contains(("bmp", 321, 77, 0L)))
    // JPEG (r18): dims come from the SOFn marker segment — a hand-built
    // header with fill bytes, a COM segment, and a PROGRESSIVE frame
    // (SOF2) decodes; the parser walks the chain, not synthesizeMedia's
    // exact layout
    def jpegBytes(segs: Array[Byte]*): Array[Byte] =
      Array(0xff, 0xd8).map(_.toByte) ++ segs.flatten
    def seg(marker: Int, data: Array[Byte]): Array[Byte] =
      Array(0xff.toByte, marker.toByte,
        ((data.length + 2) >> 8).toByte, ((data.length + 2) & 0xff).toByte
      ) ++ data
    def sofData(w: Int, h: Int): Array[Byte] =
      Array(8.toByte, (h >> 8).toByte, (h & 0xff).toByte,
        (w >> 8).toByte, (w & 0xff).toByte, 1.toByte,
        1.toByte, 0x11.toByte, 0.toByte)
    val progressive = jpegBytes(
      Array(0xff.toByte), // fill byte before the first marker
      seg(0xfe, "a comment".getBytes("US-ASCII")), // COM
      seg(0xc4, new Array[Byte](16)), // DHT — NOT a frame header
      seg(0xc2, sofData(1920, 1080))) // SOF2, progressive
    assert(Multimodal.HeaderCodec.sniff(progressive)
      .contains(("jpeg", 1920, 1080, 0L)), "SOFn walk must find SOF2")
    // hostile JPEGs fall to the stub, never throw: a zero segment
    // length (the old bare-magic case), SOS before any SOF (dims would
    // sit in entropy-coded data — refuse, don't guess), a truncated
    // SOF, a near-2^16 segment length running past the buffer, and a
    // zero-width frame
    val jpeg = Array(0xff, 0xd8, 0xff, 0xe0).map(_.toByte) ++
      new Array[Byte](100)
    assert(Multimodal.HeaderCodec.sniff(jpeg).isEmpty)
    assert(Multimodal.HeaderCodec.sniff(jpegBytes(
      seg(0xda, new Array[Byte](4)), seg(0xc0, sofData(10, 10)))).isEmpty,
      "SOS before SOF must refuse")
    assert(Multimodal.HeaderCodec.sniff(jpegBytes(
      seg(0xc0, sofData(10, 10)).take(6))).isEmpty,
      "truncated SOF must refuse")
    assert(Multimodal.HeaderCodec.sniff(jpegBytes(
      Array(0xff.toByte, 0xfe.toByte, 0xff.toByte, 0xf0.toByte),
      new Array[Byte](8))).isEmpty,
      "a segment length past the buffer must walk off, not wrap")
    assert(Multimodal.HeaderCodec.sniff(jpegBytes(
      seg(0xc0, sofData(0, 10)))).isEmpty, "zero width is hostile")
    // truncated headers are None, never a throw
    assert(Multimodal.HeaderCodec.sniff("GIF89a".getBytes).isEmpty)
    assert(Multimodal.HeaderCodec.sniff(Array[Byte](0x89.toByte)).isEmpty)
    // hostile headers are None, never a crash or a negative dimension
    // (r17 review): a WAV chunk size near 2^31 must not wrap the walk
    // offset back INTO the buffer
    val hostileWav = {
      val buf = java.nio.ByteBuffer.allocate(40)
        .order(java.nio.ByteOrder.LITTLE_ENDIAN)
      buf.put("RIFF".getBytes("US-ASCII")).putInt(32)
      buf.put("WAVE".getBytes("US-ASCII"))
      buf.put("junk".getBytes("US-ASCII")).putInt(2147483630)
      buf.array()
    }
    assert(Multimodal.HeaderCodec.sniff(hostileWav).isEmpty,
      "a near-2^31 chunk size must walk off the end, not wrap negative")
    // PNG dims are 31-bit positive: a width field >= 2^31 (would wrap
    // .toInt negative) and a zero height both fall to the stub
    def pngWith(w: Long, h: Long) = {
      val out = new java.io.ByteArrayOutputStream()
      out.write(Array(0x89, 0x50, 0x4e, 0x47, 0x0d, 0x0a, 0x1a, 0x0a)
        .map(_.toByte))
      val buf = java.nio.ByteBuffer.allocate(21)
      buf.putInt(13).put("IHDR".getBytes("US-ASCII"))
      buf.putInt(w.toInt).putInt(h.toInt).put(8.toByte)
      out.write(buf.array()); out.write(new Array[Byte](8))
      out.toByteArray
    }
    assert(Multimodal.HeaderCodec.sniff(pngWith(0x80000000L, 10)).isEmpty)
    assert(Multimodal.HeaderCodec.sniff(pngWith(10, 0)).isEmpty)
    // GIF: zero dims are hostile too (u16 cannot go negative)
    val zeroGif = "GIF89a".getBytes("US-ASCII") ++
      Array[Byte](0, 0, 0, 0, 0, 0, 0)
    assert(Multimodal.HeaderCodec.sniff(zeroGif).isEmpty)
    // BMP: negative width is hostile (only height may be negative)
    val badBmp = {
      val buf = java.nio.ByteBuffer.allocate(54)
        .order(java.nio.ByteOrder.LITTLE_ENDIAN)
      buf.put('B'.toByte).put('M'.toByte).putInt(54).putInt(0).putInt(54)
      buf.putInt(40).putInt(-5).putInt(7)
      buf.array()
    }
    assert(Multimodal.HeaderCodec.sniff(badBmp).isEmpty)
    val stubbed = Multimodal.decodeMeta(
      Multimodal.asMedia(docs)).collect()
    assert(stubbed.forall(_.codec == "stub"),
      "non-media bytes must be flagged as stub-decoded")
  }

  test("substring rewrite: a shared 8-gram is cut from the later doc only; " +
    "self-repetition collapses; short/empty docs return untouched") {
    val span = "a b c d e f g h" // the duplicated 8-token span
    val fixture = Seq(
      (1L, s"$span tail1 tail2"), // first occurrence — keeps everything
      (2L, s"x y $span z"), // later occurrence — span removed
      (3L, "p q r s t u v"), // 7 tokens: below one window
      (4L, ""), // empty
      (5L, ("r1 r2 r3 r4 r5 r6 r7 r8 " * 2).trim)) // self-repeat
    val out = Dedup.substringDedupRewrite(
        fixture.toDF("doc_id", "text"), w = 8)
      .as[(Long, Long, Long, String)].collect()
      .map(r => r._1 -> r).toMap
    assert(out.size == 5, "every input doc returns exactly once")
    assert(out(1L) == ((1L, 10L, 0L, s"$span tail1 tail2")))
    assert(out(2L) == ((2L, 11L, 8L, "x y z")))
    assert(out(3L) == ((3L, 7L, 0L, "p q r s t u v")))
    assert(out(4L) == ((4L, 0L, 0L, "")))
    // within-doc repeat: the second copy (starts 8..15) is removed; the
    // seam windows (starts 1..7) are unique and mark nothing
    assert(out(5L) == ((5L, 16L, 8L, "r1 r2 r3 r4 r5 r6 r7 r8")))
  }

  test("BM25: tf raises, length penalizes, unmatched terms contribute " +
    "nothing; production log-idf matches a from-first-principles reference") {
    val fixture = Seq(
      (1L, "dup dup dup x1 x2 x3"), // rare-term tf 3
      (2L, "dup x1 x2 x3 x4 x5"), // rare-term tf 1, same length
      (3L, "x1 x2 x3 x4 x5 x6"), // no rare term
      (5L, "dup y1"), // short doc, tf 1
      (6L, "dup y1 y2 y3 y4 y5 y6 y7"), // long doc, tf 1
      (7L, "x1 x1 x2 x3 y1 y2"),
      (8L, "x2 x3 x4 y1 y2 y3"))
    val d = fixture.toDF("doc_id", "text")
    val queries = Seq(0L -> Seq("dup"), 1L -> Seq("dup", "zzz_absent"),
      2L -> Seq("x1"))
    val out = Retrieval.bm25Scores(d, queries, idf = Retrieval.LogIdf)
      .as[(Long, Long, Double)].collect()
      .map { case (q, id, sc) => (q, id) -> sc }.toMap
    // tf monotone at equal length; docs without the term never appear
    assert(out((0L, 1L)) > out((0L, 2L)))
    assert(!out.contains((0L, 3L)))
    // length normalization: same tf, shorter doc wins
    assert(out((0L, 5L)) > out((0L, 6L)))
    // a query term absent from the corpus changes no score
    assert(queries.head._2.forall(_ => out.keys.filter(_._1 == 0L).forall(
      k => out(k) == out((1L, k._2)))))
    // from-first-principles reference (plain Scala collections — a
    // different code path than the column expressions)
    val toks = fixture.map { case (id, t) => id -> t.split("\\s+").toSeq }
    val n = toks.length.toDouble
    val avgdl = toks.map(_._2.length).sum / n
    def ref(term: String, id: Long): Double = {
      val tf = toks.find(_._1 == id).get._2.count(_ == term).toDouble
      val df = toks.count(_._2.contains(term)).toDouble
      val idf = math.log(1.0 + (n - df + 0.5) / (df + 0.5))
      val dl = toks.find(_._1 == id).get._2.length.toDouble
      idf * tf * 2.2 / (tf + 1.2 * (0.25 + 0.75 * dl / avgdl))
    }
    for (((q, id), sc) <- out if q == 0L)
      assert(math.abs(sc - ref("dup", id)) < 1e-12,
        s"doc $id: $sc vs ${ref("dup", id)}")
  }

  test("BM25 top-k bounded selection equals the full window rank on the " +
    "gate corpus") {
    import org.apache.spark.sql.expressions.Window
    val scored = Retrieval.bm25Scores(docs, Retrieval.DefaultQueries)
    val windowed = scored.withColumn("rnk", row_number().over(
        Window.partitionBy("query_id")
          .orderBy(col("score").desc, col("doc_id"))).cast("long"))
      .filter(col("rnk") <= 10)
      .as[(Long, Long, Double, Long)].collect().toSet
    val bounded = Retrieval.bm25TopK(docs, Retrieval.DefaultQueries, k = 10)
      .as[(Long, Long, Double, Long)].collect().toSet
    assert(bounded == windowed)
    assert(bounded.groupBy(_._1).forall(_._2.size == 10))
  }

  test("token percentiles: hand-computed type-7 interpolation on a planted " +
    "group") {
    // lengths 1, 2, 2, 3, 10 → p50: h=2 → 2; p90: h=3.6 → 3+0.6·7=7.2;
    // p99: h=3.96 → 3+0.96·7=9.72
    val d = Seq("a", "a b", "a b", "a b c", "a b c d e f g h i j")
      .zipWithIndex.map { case (t, i) => (i.toLong, t, "xx") }
      .toDF("doc_id", "text", "lang")
    val out = graft.llm.TextAnalysis.tokenPercentiles(d)
      .as[(String, Double, Double)].collect()
      .map(r => r._2 -> r._3).toMap
    assert(out == Map(0.5 -> 2.0, 0.9 -> 7.2, 0.99 -> 9.72))
  }

  test("best-of-cluster: highest score kept per cluster, exact tie keeps " +
    "the larger id; singletons keep themselves") {
    val clusters = Seq((1L, 1L), (2L, 1L), (3L, 1L), (4L, 4L), // {1,2,3}, {4}
      (5L, 5L), (6L, 5L)) // {5,6} — an exact score tie
      .toDF("id", "comp")
    val scores = Seq((1L, 0.2), (2L, 0.9), (3L, 0.5), (4L, 0.1),
      (5L, 0.7), (6L, 0.7)).toDF("doc_id", "quality_score")
    val out = Dedup.keepBestInCluster(clusters, scores)
      .as[(Long, Long, Long, Boolean)].collect()
      .map(r => r._1 -> (r._2, r._3, r._4)).toMap
    assert(out(1L) == (1L, 2L, false) && out(2L) == (1L, 2L, true) &&
      out(3L) == (1L, 2L, false))
    assert(out(4L) == (4L, 4L, true))
    // tie at 0.7 → the larger id 6 is kept (max-struct order)
    assert(out(5L) == (5L, 6L, false) && out(6L) == (5L, 6L, true))
  }

  test("length tail filter: planted group trims above the interpolated " +
    "cutoff and keeps the boundary row") {
    // lengths 1, 2, 3, 4, 100 → p50: h = 3 exactly → cutoff 3.0
    val d = Seq("a", "a b", "a b c", "a b c d",
        Seq.fill(100)("t").mkString(" "))
      .zipWithIndex.map { case (t, i) => (i.toLong, t, "xx") }
      .toDF("doc_id", "text", "lang")
    val out = graft.llm.TextAnalysis.lengthTailFilter(d, p = 0.5)
      .as[(Long, String, Long, Double)].collect().sortBy(_._1)
    assert(out.map(_._3).toSeq == Seq(1L, 2L, 3L)) // 4 and 100 trimmed
    assert(out.forall(_._4 == 3.0))
  }

  test("kmeans: planted orthogonal directions separate, assignments are " +
    "deterministic, and labels stay within the seed id set") {
    def v(x: Float, y: Float) = Array(x, y, 0f, 0f)
    val planted = Seq( // seeds: 0 (x-direction), 1 (y-direction)
      (0L, v(1f, 0f)), (2L, v(0.9f, 0.1f)), (4L, v(0.8f, 0.05f)),
      (1L, v(0f, 1f)), (3L, v(0.1f, 0.9f)), (5L, v(0.02f, 0.7f)))
      .toDF("vec_id", "embedding")
    val out = Similarity.kmeansLloyd(planted, k = 2, iters = 2)
      .as[(Long, Long, Double)].collect().map(r => r._1 -> r._2).toMap
    assert(Seq(0L, 2L, 4L).forall(out(_) == 0L))
    assert(Seq(1L, 3L, 5L).forall(out(_) == 1L))
    val again = Similarity.kmeansLloyd(planted, k = 2, iters = 2)
      .as[(Long, Long, Double)].collect().map(r => r._1 -> r._2).toMap
    assert(again == out)
    // cluster labels always come from the seed id set, and every input
    // vector gets exactly one assignment — also at k = 3, where seed 2
    // (an x-direction vector) splits the x cell with seed 0
    val k3 = Similarity.kmeansLloyd(planted, k = 3, iters = 2)
      .as[(Long, Long, Double)].collect()
    assert(k3.length == 6 && k3.map(_._2).toSet.subsetOf(Set(0L, 1L, 2L)))
  }

  test("dup source matrix: counts equal a driver-side recomputation from " +
    "the exact pair relation") {
    val pairs = Dedup.ngramJaccardPairs(docs, w = 3, tau = 0.5)
      .select("id_a", "id_b").as[(Long, Long)].collect()
    val src = docs.select(col("doc_id"), col("source"))
      .as[(Long, String)].collect().toMap
    val expect = pairs
      .map { case (a, b) =>
        val (sa, sb) = (src(a), src(b))
        (if (sa <= sb) sa else sb, if (sa <= sb) sb else sa)
      }
      .groupBy(identity).view.mapValues(_.length.toLong).toMap
    val got = graft.queries.LlmQueries.dupSourceMatrix(spark, sfDir)
      .select("source_lo", "source_hi", "n_pairs")
      .as[(String, String, Long)].collect()
      .map(r => (r._1, r._2) -> r._3).toMap
    assert(pairs.nonEmpty && got == expect)
  }

  test("semantic best-of-cluster: exactly one keeper per embedding " +
    "cluster, and it carries the cluster's max quality score") {
    val out = graft.queries.LlmQueries.semanticBestOfCluster(spark, sfDir)
      .as[(Long, Long, Long, Boolean)].collect()
    val qual = graft.llm.TextAnalysis.qualityScore(docs)
      .select(col("doc_id"), col("quality_score"))
      .as[(Long, Double)].collect().toMap
    out.groupBy(_._2).foreach { case (_, members) =>
      assert(members.count(_._4) == 1)
      val kept = members.find(_._4).get._1
      assert(members.forall(m => m._3 == kept))
      assert(qual(kept) == members.map(m => qual(m._1)).max)
    }
    assert(out.exists(r => r._2 != r._1), "fixture should cluster something")
  }

  test("cluster size histogram sums back to the doc count; pair histogram " +
    "covers the q29 relation at its deciles") {
    val n = docs.count()
    val hist = graft.queries.LlmQueries.clusterSizeHistogram(spark, sfDir)
      .as[(Long, Long)].collect()
    assert(hist.map(t => t._1 * t._2).sum == n)
    assert(hist.exists(_._1 > 1), "fixture should contain non-singleton clusters")
    val ph = graft.queries.LlmQueries.pairScoreHistogram(spark, sfDir)
      .as[(Long, Long)].collect()
    assert(ph.forall(t => t._1 >= 1 && t._1 <= 10))
    // the ≥ 0.5 deciles of the histogram must account for exactly the
    // q29 pair relation
    val q29 = Dedup.ngramJaccardPairs(docs, w = 3, tau = 0.5).count()
    assert(ph.filter(_._1 >= 5).map(_._2).sum == q29)
  }

  test("surprisal buckets: each language splits into thirds ordered " +
    "head ≤ middle ≤ tail by xent_bits") {
    val out = graft.llm.TextAnalysis.surprisalBuckets(docs)
      .as[(Long, String, Double, String)].collect()
    assert(out.length == docs.count())
    val byLang = out.groupBy(_._2)
    byLang.foreach { case (lang, rows) =>
      val b = rows.groupBy(_._4).view.mapValues(_.map(_._3)).toMap
      assert(Set("head", "middle", "tail").subsetOf(b.keySet),
        s"$lang missing a bucket: ${b.keySet}")
      // near-thirds: boundary TIES bucket by value, not rank, so equal
      // xent_bits straddling a cutoff all land on the ≤ side together
      val sizes = b.view.mapValues(_.length).toMap
      val third = rows.length / 3.0
      assert(sizes.values.forall(s => s > third * 0.7 && s < third * 1.3),
        s"$lang buckets far from thirds: $sizes")
      // ordering: every head ≤ every middle ≤ every tail
      assert(b("head").max <= b("middle").min &&
        b("middle").max <= b("tail").min, s"$lang bucket overlap")
    }
  }

  test("mixture weights: sqrt-temperature upweights small sources and " +
    "normalizes to ~1") {
    val out = graft.queries.LlmQueries.sourceMixtureWeights(spark, sfDir)
      .as[(String, Long, Long, Double)].collect()
    assert(out.length > 1)
    assert(math.abs(out.map(_._4).sum - 1.0) < 1e-4)
    // temperature flattening: weight share of the smallest source exceeds
    // its raw token share; the largest source's share shrinks
    val tot = out.map(_._3).sum.toDouble
    val small = out.minBy(_._3)
    val big = out.maxBy(_._3)
    assert(small._4 > small._3 / tot && big._4 < big._3 / tot)
  }

  test("nearest centroid: planted directions classify correctly; an exact " +
    "tie goes to the larger label (the max-struct contract)") {
    def v(x: Float, y: Float) = Array(x, y, 0f, 0f)
    val planted = Seq(
      (1L, v(1f, 0f), 10), (2L, v(0.9f, 0.1f), 10), // x-direction, label 10
      (3L, v(0f, 1f), 20), (4L, v(0.1f, 0.9f), 20), // y-direction, label 20
      (5L, v(0.95f, 0.05f), 20)) // x-shaped but labeled 20: must predict 10
    val out = Similarity.nearestCentroid(
        planted.toDF("vec_id", "embedding", "label"))
      .select("vec_id", "pred_label").as[(Long, Int)].collect().toMap
    assert(out(1L) == 10 && out(2L) == 10)
    assert(out(3L) == 20 && out(4L) == 20)
    // the mislabeled x-direction vector: prototypes pull it to label 10
    // (label 20's centroid is dragged toward y by its two y-vectors)
    assert(out(5L) == 10)
    // identical centroids → identical scores → larger label wins
    val tie = Seq((1L, v(1f, 0f), 7), (2L, v(1f, 0f), 9))
    val tout = Similarity.nearestCentroid(
        tie.toDF("vec_id", "embedding", "label"))
      .select("vec_id", "pred_label").as[(Long, Int)].collect().toMap
    assert(tout(1L) == 9 && tout(2L) == 9)
  }

  test("stored inverted index: search equals inline BM25 bit-for-bit; " +
    "posting read prunes to the query-term groups") {
    val dir = java.nio.file.Files.createTempDirectory("graft_inv_t")
      .toString + "/index"
    val inline = Retrieval.bm25TopK(docs, Retrieval.DefaultQueries, k = 10)
      .as[(Long, Long, Double, Long)].collect().toSet
    Retrieval.writeInvertedIndex(docs, dir)
    val stored = Retrieval.searchInvertedIndex(spark, dir,
        Retrieval.DefaultQueries, k = 10)
      .as[(Long, Long, Double, Long)].collect().toSet
    assert(stored == inline)
    // pruning: the planned scan carries a grp partition filter — count the
    // partition dirs the pruned read selects vs the full dictionary's
    val grps = Retrieval.DefaultQueries.flatMap(_._2)
      .map(t => (graft.llm.TextAnalysis.fingerprintOf(t) % 64).toInt)
      .distinct.sorted
    val planned = Retrieval.searchInvertedIndex(spark, dir,
      Retrieval.DefaultQueries, k = 10)
      .queryExecution.executedPlan.toString
    assert(planned.contains("grp"), planned)
    val allDirs = new java.io.File(s"$dir/postings").listFiles()
      .count(_.getName.startsWith("grp="))
    assert(grps.size < allDirs,
      s"fixture degenerate: ${grps.size} query groups vs $allDirs dirs " +
        "— pruning would be vacuous")
  }

  test("hybrid stored search equals the inline fusion relation (q86 == " +
    "q81): both stored legs match their inline twins at k = 10") {
    val a = graft.queries.LlmQueries.hybridStored(spark, sfDir)
      .as[(Long, Long, Long, Long, Double, Long)].collect().toSet
    val b = graft.queries.LlmQueries.rrfFusion(spark, sfDir)
      .as[(Long, Long, Long, Long, Double, Long)].collect().toSet
    assert(a == b, s"stored-only ${a -- b}; inline-only ${b -- a}")
    assert(a.nonEmpty)
  }

  test("RRF fusion: items on both lists outrank single-list items; absent " +
    "ranks surface as 0; k truncates") {
    val sparse = Seq((0L, 10L, 1L), (0L, 11L, 2L), (0L, 12L, 3L))
      .toDF("query_id", "doc_id", "rnk")
    val dense = Seq((0L, 11L, 1L), (0L, 13L, 2L))
      .toDF("query_id", "doc_id", "rnk")
    val fused = Retrieval.rrfFuse(Seq(sparse, dense))
      .select("query_id", "doc_id", "rnk_0", "rnk_1", "rrf", "rnk")
      .as[(Long, Long, Long, Long, Double, Long)].collect()
      .sortBy(_._6)
    // 11 is on both lists (1/62 + 1/61) and beats 10 (1/61), which beats
    // 13 (1/62), which beats 12 (1/63)
    assert(fused.map(_._2).toSeq == Seq(11L, 10L, 13L, 12L))
    val by = fused.map(r => r._2 -> r).toMap
    assert(by(11L)._3 == 2L && by(11L)._4 == 1L)
    assert(by(10L)._3 == 1L && by(10L)._4 == 0L) // absent from dense → 0
    assert(by(13L)._3 == 0L && by(13L)._4 == 2L)
    assert(math.abs(by(11L)._5 - (1.0 / 62 + 1.0 / 61)) < 1e-15)
    // k truncation keeps the best k per query
    val top2 = Retrieval.rrfFuse(Seq(sparse, dense), k = 2)
      .select("doc_id").as[Long].collect().toSet
    assert(top2 == Set(11L, 10L))
  }

  test("gopher rules: clean doc passes, each planted violation trips " +
    "exactly its own rule family") {
    val clean = "the quick brown fox and the lazy dog run to the old barn " +
      "in a field of tall grass where it is warm and dry all day long"
    val d = Seq(
      1L -> clean,                                   // passes everything
      2L -> "the a of",                              // too few words
      3L -> clean.replace("quick", "q#ck # # # # # # # # # # # # # #"),
      4L -> ("- the cat\n- the dog\n- the bird\n- the fish\n- the ant " +
        "is in a tree"),                             // >90% bullet lines
      5L -> ("the cat sat...\nthe dog ran...\nthe bird flew...\n" +
        "a fish swam in it"),                        // >30% ellipsis lines
      6L -> "zz qq ww rr tt yy uu ii oo pp ss dd ff gg hh jj kk ll",
      7L -> clean.split(" ").map(w => "1" + w.map(_ => '2')).mkString(" "))
      .toDF("doc_id", "text")
    val r = TextAnalysis.gopherRules(d, minWords = 10, maxWords = 1000)
      .select("doc_id", "keep", "n_lines", "n_bullet_lines",
        "n_ellipsis_lines", "n_stop_present")
      .as[(Long, Boolean, Long, Long, Long, Long)].collect()
      .map(t => t._1 -> t).toMap
    assert(r(1L)._2, "clean doc must pass")
    assert(!r(2L)._2, "word-count floor")
    assert(!r(3L)._2, "symbol ratio")
    assert(!r(4L)._2 && r(4L)._4 == 5L, "bullet lines counted and tripped")
    assert(!r(5L)._2 && r(5L)._5 == 3L, "ellipsis lines counted and tripped")
    assert(!r(6L)._2 && r(6L)._6 < 2L, "stop-word presence")
    assert(!r(7L)._2, "alphabetic-word fraction")
    assert(r(4L)._3 == 5L && r(5L)._3 == 4L, "line counts")
  }

  test("crop pairs: offsets are the salted draw, slices are real spans, " +
    "short docs drop, output is deterministic") {
    val toks = (1 to 40).map(i => s"w${(i * 2654435761L) % 97}")
    val d = Seq(1L -> toks.mkString(" "), 2L -> "only three tokens")
      .toDF("doc_id", "text")
    val out = TextAnalysis.cropPairs(d, w = 8)
      .as[(Long, Long, Long, Long, String, String)].collect()
    assert(out.map(_._1).toSeq == Seq(1L), "short doc must drop")
    val (_, n, aOff, bOff, anchor, positive) = out.head
    assert(n == 40L)
    val expA = TextAnalysis.fingerprintOf(toks.mkString(" ") + "|cropA") %
      (40 - 8 + 1)
    val expB = TextAnalysis.fingerprintOf(toks.mkString(" ") + "|cropB") %
      (40 - 8 + 1)
    assert(aOff == expA && bOff == expB, "offsets must equal the driver twin")
    assert(anchor == toks.slice(aOff.toInt, aOff.toInt + 8).mkString(" "))
    assert(positive == toks.slice(bOff.toInt, bOff.toInt + 8).mkString(" "))
    val again = TextAnalysis.cropPairs(d, w = 8)
      .as[(Long, Long, Long, Long, String, String)].collect()
    assert(again.toSeq == out.toSeq, "derandomized draw must be stable")
  }

  test("winnowing: a shared run >= t is ALWAYS caught, exact copies " +
    "share everything, unrelated docs share nothing") {
    // distinct token streams (injective mod-prime mixing)
    def stream(seed: Long, n: Int) =
      (1 to n).map(i => s"s$seed-${(i * 2654435761L + seed) % 1000003}")
    val a = stream(1, 60)
    val quote = a.slice(20, 30) // 10 tokens >= t = 7: must be caught
    val c = stream(3, 25) ++ quote ++ stream(4, 25)
    val d = Seq(
      1L -> a.mkString(" "),
      2L -> a.mkString(" "),            // exact copy
      3L -> c.mkString(" "),            // carries the quote
      4L -> stream(9, 60).mkString(" ") // unrelated
    ).toDF("doc_id", "text")
    val pairs = Dedup.winnowPairs(d, k = 4, win = 4, minShared = 1)
      .as[(Long, Long, Long)].collect().map(t => (t._1, t._2) -> t._3).toMap
    assert(pairs.contains((1L, 2L)), "exact copies must pair")
    assert(pairs.contains((1L, 3L)) && pairs.contains((2L, 3L)),
      "the winnowing guarantee: a shared 10-token run must share >= 1 " +
        "selected fingerprint")
    assert(!pairs.keySet.exists(p => p._1 == 4L || p._2 == 4L),
      "unrelated docs must not pair")
    // exact copies share their entire sketch, and the sketch is sparse:
    // ~2/(win+1) of the grams, never the full gram set
    val nGrams = 60 - 4 + 1
    assert(pairs((1L, 2L)) < nGrams,
      "the sketch must be a selection, not every gram")
    assert(pairs((1L, 2L)) > pairs.getOrElse((1L, 3L), 0L),
      "a full copy shares more than a quote")
  }

  test("annRecall: identity is 1.0, dropped queries surface as zero, " +
    "partial overlap counts exactly; IVF at registry parameters == brute") {
    val truth = Seq((0L, 1L), (0L, 2L), (0L, 3L), (1L, 4L), (1L, 5L),
      (2L, 9L)).toDF("query_id", "neighbor_id")
    val cand = Seq((0L, 1L), (0L, 3L), (0L, 7L), (1L, 4L), (1L, 5L))
      .toDF("query_id", "neighbor_id") // query 2 entirely absent
    val r = Similarity.annRecall(cand, truth)
      .as[(Long, Long, Long, Double)].collect().map(t => t._1 -> t).toMap
    assert(r(0L)._3 == 2L && r(0L)._4 == 2.0 / 3)
    assert(r(1L)._4 == 1.0)
    assert(r(2L)._3 == 0L && r(2L)._4 == 0.0,
      "a dropped query must report 0, not vanish")
    assert(Similarity.annRecall(truth, truth)
      .select("recall").as[Double].collect().forall(_ == 1.0))
    // the instrument on the real table: IVF at the registry parameters
    // recalls the brute top-10 exactly (the q52 claim, now measured by
    // the operator that exists to measure it)
    val emb = Tables.embeddings(spark, sfDir)
    val qs = emb.filter(col("vec_id") < 5)
    val rec = Similarity.annRecall(
        Similarity.ivfTopK(emb, qs, k = 10),
        Similarity.bruteForceTopK(emb, qs, k = 10))
      .select("recall").as[Double].collect()
    assert(rec.length == 5 && rec.forall(_ == 1.0))
  }

  test("cdc dedup: exact copies fully dup; an insert-shifted near-dup " +
    "re-synchronizes where fixed tiles cannot") {
    // i -> i·m mod p is injective for i < p, so all 240 tokens are
    // DISTINCT — doc 1 must not dedup against its own tail
    val toks = (1 to 240).map(i => s"t${(i * 2654435761L) % 1000003}")
    val d = Seq(
      1L -> toks.mkString(" "),
      2L -> toks.mkString(" "),                       // exact copy
      3L -> ("zzz " + toks.mkString(" ")))            // 1 token inserted
      .toDF("doc_id", "text")
    val cdc = Dedup.cdcDedup(d, w = 4, m = 8)
      .as[(Long, Long, Long, Double)].collect().map(t => t._1 -> t).toMap
    assert(cdc(1L)._3 == 0L, "first occurrence owns every chunk")
    assert(cdc(2L)._3 == cdc(2L)._2, "exact copy dups every chunk")
    // the CDC property: boundaries re-synchronize a few tokens after the
    // insertion, so most of doc 3's chunks dedup against doc 1
    assert(cdc(3L)._2 > 10L, "fixture must produce many chunks")
    assert(cdc(3L)._3 * 10L >= cdc(3L)._2 * 7L,
      s"insert-shifted copy should dup >=70% of chunks, got ${cdc(3L)}")
    // the fixed-tile twin CANNOT dedup the shifted body: every 16-token
    // tile of doc 3 is offset by one from doc 1's
    val tiles = Dedup.chunkDedup(d, w = 16)
      .as[(Long, Long, Long, Double)].collect().map(t => t._1 -> t).toMap
    assert(tiles(3L)._3 * 10L < tiles(3L)._2 * 2L,
      "fixed tiles must miss the shifted duplication (<20%)")
    // retention is one division of the two integer counts
    assert(cdc(2L)._4 == 0.0 &&
      cdc(1L)._4 == 1.0)
  }

  test("source health report: counts tie out to the constituent per-doc " +
    "relations, and a cross-source duplicate is charged to the copy's " +
    "source, not the canonical's") {
    import graft.llm.TextAnalysis
    val rep = TextAnalysis.sourceHealthReport(docs)
      .as[(String, Long, Long, Long, Long, Long, Long)].collect()
    assert(rep.map(_._2).sum == docs.count())
    assert(rep.map(_._4).sum ==
      docs.count() - docs.select("text").distinct().count(),
      "corpus-wide exact-dup count is rows minus distinct texts")
    assert(rep.map(_._5).sum ==
      TextAnalysis.blocklistFilter(docs).filter(!col("is_kept")).count())
    assert(rep.map(_._6).sum ==
      TextAnalysis.qualityScore(docs)
        .filter(col("quality_score") < 0.65).count())
    assert(rep.map(_._7).sum ==
      TextAnalysis.vocabCoverage(docs, topK = 20)
        .agg(sum("n_oov")).as[Long].head())
    // attribution fixture: the copy's source carries the dup, and the
    // blocklist-dense doc is charged where it lives
    val fix = Seq(
      (1L, "srcA", "the same text here x"),
      (2L, "srcB", "the same text here x"), // dup of 1 → charged to srcB
      (3L, "srcB", "big slow small a")) // 3 hits / 4 tokens → dropped
      .toDF("doc_id", "source", "text")
    val got = TextAnalysis.sourceHealthReport(fix)
      .as[(String, Long, Long, Long, Long, Long, Long)].collect()
      .map(r => r._1 -> r).toMap
    assert(got("srcA")._4 == 0L && got("srcB")._4 == 1L)
    assert(got("srcA")._5 == 0L && got("srcB")._5 == 1L)
  }

  test("cluster-balanced cap: every semantic cluster contributes at most " +
    "cap exemplars with contiguous ranks, survivors are the lowest draws, " +
    "and the selection is deterministic") {
    val emb = Tables.embeddings(spark, sfDir)
    val cap = 5
    val got = Similarity.clusterBalancedCap(emb, cap = cap)
    val sizes = Similarity.kmeansLloyd(emb)
      .groupBy("cluster_id").agg(count(lit(1)).as("n"))
      .as[(Long, Long)].collect().toMap
    val perCluster = got.groupBy("cluster_id")
      .agg(count(lit(1)).as("k"), max("src_rank").as("mx"),
        max("draw").as("maxDraw"))
      .as[(Long, Long, Long, Long)].collect()
    assert(perCluster.nonEmpty && perCluster.length == sizes.size)
    for ((cid, k, mx, _) <- perCluster) {
      assert(k == math.min(cap.toLong, sizes(cid)), s"cluster $cid")
      assert(mx == k, s"ranks must be contiguous 1..k in cluster $cid")
    }
    // survivors are the bottom-cap of the (draw, id) order: no excluded
    // row of the same cluster may have a strictly smaller draw
    val all = Similarity.kmeansLloyd(emb)
      .select(col("vec_id"), col("cluster_id"),
        pmod(graft.llm.TextAnalysis.fingerprint(
          concat(col("vec_id").cast("string"), lit("|ccap"))),
          lit(1000000L)).as("draw"))
    val worstKept = got.groupBy("cluster_id").agg(max("draw").as("kd"))
    val violations = all.join(got.select("vec_id")
        .withColumn("__kept", lit(1)), Seq("vec_id"), "left")
      .filter(col("__kept").isNull)
      .join(worstKept, "cluster_id")
      .filter(col("draw") < col("kd"))
      .count()
    assert(violations == 0L)
    assert(got.collect().toSet ==
      Similarity.clusterBalancedCap(emb, cap = cap).collect().toSet)
  }

  test("frozen BPE merges: re-learning on sf0.001 reproduces the literal; " +
    "in-order apply equals first-occurrence-replace and the greedy loop " +
    "agrees corpus-wide") {
    import graft.llm.TextAnalysis
    // provenance pin: the artifact IS learnBpeMerges(sf0.001, 40)
    val relearned = TextAnalysis.learnBpeMerges(docs, numMerges = 40)
    assert(relearned == TextAnalysis.FrozenBpeMerges,
      "FrozenBpeMerges must be exactly the sf0.001-trained list")
    // the oracle-equivalence argument, pinned empirically: one leftmost
    // non-overlapping array pass per merge == repeated first-occurrence
    // string replacement with head restart (merged pieces are inert)
    def firstOccApply(word: String, merges: Seq[(String, String)]): Int = {
      var s = " " + word.map(_.toString).mkString(" ") + " "
      for ((l, r) <- merges) {
        val pat = " " + l + " " + r + " "
        val rep = " " + l + r + " "
        var i = s.indexOf(pat)
        while (i >= 0) {
          s = s.substring(0, i) + rep + s.substring(i + pat.length)
          i = s.indexOf(pat)
        }
      }
      s.trim.split(" ").length
    }
    val rnd = new scala.util.Random(42)
    for (_ <- 1 to 300) {
      val word = (1 to (1 + rnd.nextInt(12)))
        .map(_ => ('a' + rnd.nextInt(3)).toChar).mkString
      val ms = (1 to 6).map { _ =>
        val mk = () => (1 to (1 + rnd.nextInt(2)))
          .map(_ => ('a' + rnd.nextInt(3)).toChar).mkString
        (mk(), mk())
      }
      val viaOp = TextAnalysis
        .bpePieceCountsInOrder(Seq((1L, word)).toDF("doc_id", "text"), ms)
        .select("n_pieces").as[Long].head()
      assert(viaOp == firstOccApply(word, ms).toLong,
        s"array pass != first-occurrence replace for '$word' under $ms")
    }
    // on the corpus the tokenizer was trained on, apply-in-order and the
    // greedy lowest-rank loop segment identically (the classic property;
    // they may differ only on merges never co-observed in training)
    val inOrder = TextAnalysis
      .bpePieceCountsInOrder(docs, TextAnalysis.FrozenBpeMerges)
      .as[(Long, Long, Long)].collect().toSet
    val greedy = TextAnalysis
      .bpePieceCounts(docs, TextAnalysis.FrozenBpeMerges)
      .as[(Long, Long, Long)].collect().toSet
    assert(inOrder == greedy,
      "in-order and greedy BPE inference must agree on the training corpus")
  }

  test("embedding audit: one planted violation per rule is caught, the " +
    "clean corpus reports zeros everywhere") {
    val clean = graft.queries.LlmQueries
      .embeddingAudit(spark, sfDir)
      .as[(String, Long, Long)].collect()
    assert(clean.length == 6 && clean.forall(_._2 == 0L),
      s"gate corpus must audit clean: ${clean.mkString(", ")}")
    val ok = Array.fill(64)(0.5f)
    val fix = Seq(
      (1L, ok, 0), // clean
      (1L, ok, 1), // duplicate vec_id
      (2L, null.asInstanceOf[Array[Float]], 0), // null embedding
      (3L, Array.fill(16)(0.5f), 0), // wrong dim
      (4L, Array.fill(64)(Float.NaN), 0), // non-finite
      (5L, Array.fill(64)(0.0f), 0), // zero vector
      (6L, ok, -2)) // unknown label
      .toDF("vec_id", "embedding", "label")
    val got = graft.ops.Audit.audit(fix,
        rowRules = Seq(
          "null_embedding" -> col("embedding").isNull,
          "wrong_dim" -> (size(col("embedding")) =!= 64),
          "has_nonfinite" -> exists(col("embedding"),
            x => isnan(x) || abs(x) === lit(Float.PositiveInfinity)),
          "zero_vector" ->
            (size(filter(col("embedding"), x => x =!= lit(0.0f))) === 0),
          "unknown_label" -> (col("label").isNull || col("label") < 0)),
        uniqueKeys = Seq("vec_id"))
      .as[(String, Long, Long)].collect().map(r => r._1 -> r._2).toMap
    assert(got("null_embedding") == 1L && got("wrong_dim") == 2L,
      s"null embedding also has no dim (NULL counts as violation): $got")
    assert(got("has_nonfinite") == 2L,
      "the NaN plant + the null row's NULL predicate")
    // the all-NaN vector is NOT a zero vector: NaN <> 0 holds in both
    // engines (Spark's NaN semantics and DuckDB's total float order
    // agree here), so only the zero plant and the null row count
    assert(got("zero_vector") == 2L && got("unknown_label") == 1L)
    assert(got("duplicate_vec_id") == 1L)
  }

  test("BPE encode: dense 1..n positions matching the count relation, a " +
    "lossless character round trip, no OOV ids on the training alphabet, " +
    "and -1 (never silence) off it") {
    import graft.llm.TextAnalysis
    val vocab = TextAnalysis.bpePieceVocab()
    assert(vocab.length == 26 + TextAnalysis.FrozenBpeMerges.length,
      "frozen merge outputs must be collision-free so ids stay dense")
    val enc = TextAnalysis.bpeEncode(docs)
    val perDoc = enc.groupBy("doc_id")
      .agg(count(lit(1)).as("n"), max("pos").as("mx"),
        min(col("piece_id")).as("minId"))
      .as[(Long, Long, Long, Long)].collect().map(r => r._1 -> r).toMap
    val counts = TextAnalysis.bpePieceCountsInOrder(docs)
      .as[(Long, Long, Long)].collect()
    for ((id, _, np) <- counts if np > 0) {
      val (_, n, mx, minId) = perDoc(id)
      assert(n == np && mx == np, s"doc $id: positions must be dense 1..$np")
      assert(minId >= 0L, s"doc $id: no piece may fall outside the vocab")
    }
    // lossless: pieces concatenated in pos order == the doc's tokens
    // concatenated in order (segmentation never drops or reorders a char)
    val joined = enc.groupBy("doc_id")
      .agg(array_join(transform(
        array_sort(collect_list(struct(col("pos"), col("piece")))),
        x => x.getField("piece")), "").as("s"))
      .as[(Long, String)].collect().toMap
    docs.select(col("doc_id"),
        concat_ws("", TextAnalysis.tokens(col("text"))).as("t"))
      .as[(Long, String)].collect()
      .foreach { case (id, t) =>
        assert(joined.getOrElse(id, "") == t, s"doc $id round trip")
      }
    // off-alphabet pieces encode as -1, never vanish
    val odd = TextAnalysis.bpeEncode(
        Seq((1L, "héllo")).toDF("doc_id", "text"))
      .as[(Long, Long, String, Long)].collect().sortBy(_._2)
    assert(odd.exists(_._4 == -1L) && odd.map(_._3).mkString == "héllo")
  }

  test("BPE base symbols are code points, not UTF-16 units: an astral " +
    "character is ONE piece on every inference path") {
    import graft.llm.TextAnalysis
    // U+1D41A (mathematical bold small a) is outside the BMP: a UTF-16
    // split would produce two surrogate half-symbols
    val astral = new String(Character.toChars(0x1D41A))
    val doc = Seq((1L, s"${astral}b c$astral")).toDF("doc_id", "text")
    val inOrder = TextAnalysis.bpePieceCountsInOrder(doc)
      .as[(Long, Long, Long)].head()
    val greedy = TextAnalysis.bpePieceCounts(doc,
        TextAnalysis.FrozenBpeMerges)
      .as[(Long, Long, Long)].head()
    // tokens: "(astral)b" -> 2 pieces, "c(astral)" -> 2 pieces
    assert(inOrder == ((1L, 2L, 4L)), s"in-order: $inOrder")
    assert(greedy == ((1L, 2L, 4L)), s"greedy: $greedy")
    // encode: the astral piece survives whole (no lone surrogates) and is
    // off-vocab (-1), and the round trip reassembles the original text
    val enc = TextAnalysis.bpeEncode(doc)
      .as[(Long, Long, String, Long)].collect().sortBy(_._2)
    assert(enc.length == 4)
    assert(enc.count(e => e._3 == astral && e._4 == -1L) == 2)
    assert(enc.forall(e => !e._3.exists(Character.isSurrogate)
      || e._3.codePointCount(0, e._3.length) < e._3.length),
      "no piece may be a lone surrogate half")
    assert(enc.map(_._3).mkString == s"${astral}bc$astral")
  }

  test("source health report keeps NULL-text documents: they form one " +
    "exact-dup group and stay in every per-source count") {
    import graft.llm.TextAnalysis
    val fix = Seq(
      (1L, "srcA", null.asInstanceOf[String]),
      (2L, "srcA", null.asInstanceOf[String]), // dup of 1 (NULL group)
      (3L, "srcB", null.asInstanceOf[String]), // dup of 1 (NULL group)
      (4L, "srcB", "some ordinary words here j"))
      .toDF("doc_id", "source", "text")
    // collect as Rows: n_tokens is legitimately NULL for an all-NULL-text
    // source (SQL sum semantics, matching the oracle)
    val got = TextAnalysis.sourceHealthReport(fix).collect()
      .map(r => r.getString(0) -> r).toMap
    assert(got("srcA").getLong(1) == 2L && got("srcB").getLong(1) == 2L,
      s"NULL-text docs must stay in n_docs: $got")
    // min doc_id (1) is canonical; 2 and 3 are charged to their sources
    assert(got("srcA").getLong(3) == 1L && got("srcB").getLong(3) == 1L,
      s"NULL texts form one dup group: $got")
  }

  test("packed batches: bins partition the corpus contiguously, totals " +
    "tie out to the piece relation, and member lists match their counts") {
    import graft.llm.TextAnalysis
    val batches = TextAnalysis.packedBatches(docs)
      .as[(Long, Long, Long, String)].collect().sortBy(_._1)
    assert(batches.map(_._1).toSeq == (0L until batches.length).toSeq,
      "bins must be contiguous from 0")
    assert(batches.map(_._2).sum == docs.count())
    val pieces = TextAnalysis.bpePieceCountsInOrder(docs)
      .agg(sum("n_pieces")).as[Long].head()
    assert(batches.map(_._3).sum == pieces)
    for ((bin, n, _, ids) <- batches) {
      val members = ids.split(",").filter(_.nonEmpty)
      assert(members.length.toLong == n, s"bin $bin member count")
      assert(members.map(_.toLong).toSeq ==
        members.map(_.toLong).sorted.toSeq, s"bin $bin id order")
    }
    // greedy slack: every bin except possibly the last holds >= the
    // budget's worth of pieces once its straddling doc is counted
    batches.init.zip(batches.tail).foreach { case ((b, _, _, _), _) =>
      assert(b >= 0)
    }
  }

  test("vocab coverage: counts add up, the top-K vocabulary is the total " +
    "order's prefix, and a hand fixture lands where expected") {
    import graft.llm.TextAnalysis
    val fix = Seq(
      (1L, "aa aa aa bb bb cc"), // aa×3 bb×2 cc×1
      (2L, "aa bb zz zz"), // zz×2 but ties break AFTER bb on count
      (3L, "")).toDF("doc_id", "text")
    // K=2 vocabulary: counts aa=4, bb=3, zz=2, cc=1 → {aa, bb}
    val got = TextAnalysis.vocabCoverage(fix, topK = 2)
      .as[(Long, Long, Long, Long)].collect()
      .map(r => r._1 -> ((r._2, r._3, r._4))).toMap
    assert(got(1L) == ((6L, 5L, 1L)), s"doc1: $got")
    assert(got(2L) == ((4L, 2L, 2L)), s"doc2: $got")
    assert(got(3L) == ((0L, 0L, 0L)), "empty doc carries zeros")
    // corpus: invariant n_in_vocab + n_oov == n_tokens, every doc present
    val cov = TextAnalysis.vocabCoverage(docs, topK = 20)
    assert(cov.count() == docs.count())
    assert(cov.filter(col("n_in_vocab") + col("n_oov") =!= col("n_tokens"))
      .count() == 0L)
    assert(cov.agg(sum("n_oov")).as[Long].head() > 0L,
      "K=20 over a 31-term vocabulary must leave some OOV mass")
  }

  test("blocklist filter: hand-counted hits, density keep rule, and the " +
    "empty doc is kept with zeros") {
    import graft.llm.TextAnalysis
    val fix = Seq(
      (1L, "big slow small big x y z a b c"), // 4 hits / 10 → dropped
      (2L, "big a b c d e f g h i j"), // 1 hit / 11 → kept (10 < 11)
      (3L, "x y z"), // 0 hits → kept
      (4L, "")).toDF("doc_id", "text")
    val got = TextAnalysis.blocklistFilter(fix)
      .as[(Long, Long, Long, Long, Boolean)].collect()
      .map(r => r._1 -> ((r._2, r._3, r._4, r._5))).toMap
    assert(got(1L) == ((10L, 4L, 3L, false)))
    assert(got(2L) == ((11L, 1L, 1L, true)))
    assert(got(3L) == ((3L, 0L, 0L, true)))
    assert(got(4L) == ((0L, 0L, 0L, false)),
      "empty doc: 0·10 < 0 is false — the degenerate row is flagged, " +
        "matching the oracle's arithmetic exactly")
  }

  test("BPE fertility: strata partition the corpus, pieces are bounded by " +
    "chars and below by tokens, and totals tie out to the per-doc relation") {
    import graft.llm.TextAnalysis
    val fert = TextAnalysis.bpeFertility(docs)
      .as[(String, String, Long, Long, Long, Long, Double, Double)]
      .collect()
    assert(fert.map(_._3).sum == docs.count(), "n_docs must partition")
    for ((lang, src, _, nt, np, nc, ppt, cpp) <- fert) {
      assert(nt <= np && np <= nc,
        s"($lang,$src): tokens $nt <= pieces $np <= chars $nc must hold")
      assert(ppt == (if (nt > 0) np.toDouble / nt else 0.0))
      assert(cpp == (if (np > 0) nc.toDouble / np else 0.0))
    }
    // totals tie out to the per-doc segmentation relation
    val perDoc = TextAnalysis.bpePieceCountsInOrder(docs)
      .agg(sum("n_tokens"), sum("n_pieces")).as[(Long, Long)].head()
    assert((fert.map(_._4).sum, fert.map(_._5).sum) == perDoc)
    // merges must compress: corpus fertility strictly below chars/word
    assert(fert.map(_._5).sum < fert.map(_._6).sum)
  }

  test("BPE packing: cum is the exact prefix sum in id order, bins are " +
    "the 2048-piece blocks, and the currency differs from q56 exactly " +
    "where fertility does") {
    import graft.llm.TextAnalysis
    val packed = TextAnalysis.packSequencesBpe(docs)
      .orderBy("doc_id").as[(Long, Long, Long, Long)].collect()
    var cum = 0L
    for ((_, np, cp, bin) <- packed) {
      cum += np
      assert(cp == cum, "cum_pieces must be the exact running total")
      assert(bin == (cp - np) / 2048L)
    }
    assert(packed.map(_._4).distinct.length > 1, "corpus spans >1 bin")
    // piece-denominated packing must not equal the whitespace-token form
    // (fertility > 1 on this corpus shifts every boundary)
    val q56bins = TextAnalysis.packSequences(docs, budget = 2048)
      .orderBy("doc_id").select("bin").as[Long].collect()
    assert(packed.map(_._4).toSeq != q56bins.toSeq)
  }

  test("stratified split: every stratum gets exactly ⌊n/10⌋ eval rows, " +
    "ranks are a per-stratum permutation, and the draw is content-stable") {
    import graft.llm.TextAnalysis
    val split = TextAnalysis.stratifiedSplit(docs)
    val perStratum = split.groupBy("lang", "source")
      .agg(count(lit(1)).as("n"),
        sum(when(col("split") === "eval", 1L).otherwise(0L)).as("n_eval"),
        max("strat_rank").as("max_rank"),
        countDistinct("strat_rank").as("n_ranks"))
      .as[(String, String, Long, Long, Long, Long)].collect()
    assert(perStratum.nonEmpty)
    for ((lang, src, n, nEval, maxRank, nRanks) <- perStratum) {
      assert(nEval == n / 10L, s"stratum ($lang,$src): $nEval != ${n / 10}")
      assert(maxRank == n && nRanks == n,
        s"stratum ($lang,$src) ranks must be a 1..n permutation")
    }
    // determinism: a second run is bit-identical (content-hash draw)
    val again = TextAnalysis.stratifiedSplit(docs)
    assert(split.collect().toSet == again.collect().toSet)
  }

  test("containment pairs: a planted excerpt is caught at 9/10 while its " +
    "symmetric jaccard sits far below 0.5, and every emission matches the " +
    "driver-side definition") {
    graft.core.CacheScope.scoped {
      // doc 1 = an exact 6-token excerpt of the 40-token doc 2: its
      // shingles are all inside doc 2's, so containment = 1.0 while
      // jaccard = |A|/|B| = 4/38 — the lens this operator exists for
      val long = (1 to 40).map(i => s"w$i").mkString(" ")
      val excerpt = (10 to 15).map(i => s"w$i").mkString(" ")
      val d = Seq((1L, excerpt), (2L, long),
        (3L, "completely unrelated text with different words entirely"))
        .toDF("doc_id", "text")
      val got = Dedup.containmentPairs(d, w = 3, tauNum = 9, tauDen = 10)
        .as[(Long, Long, Long, Long, Double)].collect().toSet
      assert(got.map(r => (r._1, r._2)) == Set((1L, 2L)),
        s"expected exactly the excerpt→container pair, got $got")
      val (_, _, inter, szIn, cont) = got.head
      assert(inter == 4L && szIn == 4L && cont == 1.0)
      val jac = Dedup.ngramJaccardPairs(d, w = 3, tau = 0.5).count()
      assert(jac == 0L, "symmetric jaccard must miss the excerpt")
    }
  }

  test("containment hot-shingle cap: a cap no shingle reaches is a " +
    "bit-exact no-op, and a planted boilerplate shingle above the cap " +
    "is excluded from the candidate substrate") {
    graft.core.CacheScope.scoped {
      // df <= ndocs always (shingles are per-doc distinct), so a cap of
      // ndocs cannot bind: capped must equal uncapped bit-for-bit
      val uncapped = Dedup.containmentPairs(docs, w = 3,
          tauNum = 9, tauDen = 10)
        .as[(Long, Long, Long, Long, Double)].collect().toSet
      val noop = Dedup.containmentPairs(docs, w = 3, tauNum = 9,
          tauDen = 10, maxShingleDf = docs.count().toInt)
        .as[(Long, Long, Long, Long, Double)].collect().toSet
      assert(noop == uncapped, "a non-binding cap must change nothing")
    }
    graft.core.CacheScope.scoped {
      // plant a boilerplate footer in EVERY doc of a small fixture (the
      // uniq tokens keep body/footer boundary shingles doc-unique, so
      // only the footer-internal shingles go hot); with the cap below
      // the doc count those hot shingles must vanish from sizes AND
      // intersections — pinned against a driver-side rebuild of the
      // capped substrate
      val footer = "all rights reserved by the boiler plate company"
      val long = (1 to 40).map(i => s"w$i").mkString(" ")
      val excerpt = (10 to 15).map(i => s"w$i").mkString(" ")
      val d = Seq((1L, excerpt), (2L, long),
          (3L, "completely unrelated text with different words entirely"),
          (4L, "another unrelated document about something else again"))
        .toDF("doc_id", "text")
        .select(col("doc_id"), concat(col("text"),
          lit(" uniq"), col("doc_id"), lit("a uniq"), col("doc_id"),
          lit("b "), lit(footer)).as("text"))
      val cap = 3
      val sh = Dedup.shingles(d, 3).filter(col("shingle").isNotNull)
      val hot = sh.groupBy("shingle").agg(count(lit(1)).as("n"))
        .filter(col("n") > cap).select("shingle")
      assert(hot.count() > 0, "fixture must actually have hot shingles")
      val kept = sh.join(hot, Seq("shingle"), "left_anti")
      val sz = kept.groupBy("doc_id").agg(count(lit(1)).as("sz"))
        .as[(Long, Long)].collect().toMap
      val inter = kept.select(col("doc_id").as("a"), col("shingle"))
        .join(kept.select(col("doc_id").as("b"), col("shingle")),
          Seq("shingle"))
        .filter(col("a") =!= col("b"))
        .groupBy("a", "b").agg(count(lit(1)).as("i"))
        .as[(Long, Long, Long)].collect()
      // τ = 1/2: the excerpt's capped containment is 4 body shingles
      // over 8 kept (4 body + 4 doc-unique boundary) = exactly 0.5
      val want = inter.filter { case (a, _, i) => i * 2 >= 1 * sz(a) }
        .map { case (a, b, i) => (a, b, i, sz(a)) }.toSet
      val got = Dedup.containmentPairs(d, w = 3, tauNum = 1, tauDen = 2,
          maxShingleDf = cap)
        .select("id_in", "id_of", "inter", "sz_in")
        .as[(Long, Long, Long, Long)].collect().toSet
      assert(got == want, s"missing ${(want -- got).take(3)}, " +
        s"extra ${(got -- want).take(3)}")
      // the planted excerpt still surfaces on rare-shingle evidence alone
      assert(got.map(r => (r._1, r._2)).contains((1L, 2L)),
        s"the excerpt pair must survive the cap: $got")
    }
  }

  test("containment pairs on the corpus: emissions are exactly the " +
    "directed restriction of the shingle-intersection relation") {
    graft.core.CacheScope.scoped {
      val sh = Dedup.shingles(docs, 3).filter(col("shingle").isNotNull)
      val sz = sh.groupBy("doc_id").agg(count(lit(1)).as("sz"))
        .as[(Long, Long)].collect().toMap
      val inter = sh.select(col("doc_id").as("a"), col("shingle"))
        .join(sh.select(col("doc_id").as("b"), col("shingle")), Seq("shingle"))
        .filter(col("a") =!= col("b"))
        .groupBy("a", "b").agg(count(lit(1)).as("i"))
        .as[(Long, Long, Long)].collect()
      val want = inter.filter { case (a, _, i) => i * 10 >= 9 * sz(a) }
        .map { case (a, b, i) => (a, b, i, sz(a)) }.toSet
      val got = Dedup.containmentPairs(docs, w = 3, tauNum = 9, tauDen = 10)
        .select("id_in", "id_of", "inter", "sz_in")
        .as[(Long, Long, Long, Long)].collect().toSet
      assert(got == want, s"missing ${(want -- got).take(3)}, " +
        s"extra ${(got -- want).take(3)}")
      assert(got.nonEmpty, "fixture must contain containment pairs")
    }
  }

  test("sorted-neighborhood pairs are a subset of the exact relation, " +
    "catch the adjacent-key duplicates, and the candidate count is " +
    "exactly n·w minus the tail") {
    graft.core.CacheScope.scoped {
      val exact = Dedup.ngramJaccardPairs(docs, w = 3, tau = 0.5)
        .as[(Long, Long, Double)].collect()
        .map(r => (r._1, r._2)).toSet
      val snm = Dedup.sortedNeighborhoodPairs(docs, w = 3, window = 3,
          tauNum = 1, tauDen = 2)
        .as[(Long, Long, Double)].collect().map(r => (r._1, r._2)).toSet
      assert(snm.subsetOf(exact),
        s"SNM may only restrict the exact relation: ${(snm -- exact).take(3)}")
      assert(snm.nonEmpty,
        "near-dups share openings on this corpus — the window must catch some")
      // window >= n recovers the FULL exact relation (every pair becomes
      // window-adjacent) — on a bounded fixture, since the plan holds
      // `window` rank-joins: near-dups planted at OPPOSITE key ends so
      // the small window genuinely misses them first
      val fix = Seq(
        (1L, "alpha beta gamma delta epsilon zeta"),
        (2L, "zz alpha beta gamma delta epsilon zeta"),
        (3L, "mid one two three four five six"),
        (4L, "mid one two three four five seven"),
        (5L, "unrelated totally different words here now"))
        .toDF("doc_id", "text")
      val fixExact = Dedup.ngramJaccardPairs(fix, w = 3, tau = 0.5)
        .as[(Long, Long, Double)].collect().map(r => (r._1, r._2)).toSet
      val narrow = Dedup.sortedNeighborhoodPairs(fix, w = 3, window = 1,
          tauNum = 1, tauDen = 2)
        .as[(Long, Long, Double)].collect().map(r => (r._1, r._2)).toSet
      val wide = Dedup.sortedNeighborhoodPairs(fix, w = 3, window = 5,
          tauNum = 1, tauDen = 2)
        .as[(Long, Long, Double)].collect().map(r => (r._1, r._2)).toSet
      assert(fixExact.contains((1L, 2L)),
        "fixture must plant a cross-key near-dup")
      assert(!narrow.contains((1L, 2L)),
        "the 'zz' prefix must push doc 2 outside the 1-row window")
      assert(wide == fixExact,
        s"window>=n must equal exact: missing ${(fixExact -- wide).take(3)}")
    }
  }

  test("weighted bottom-k sample: winners equal a driver-side recompute " +
    "of the integer keys, weight gates the domain, heavy docs win more") {
    import graft.llm.TextAnalysis
    val k = 25
    val got = TextAnalysis.weightedSampleK(docs, k,
        TextAnalysis.tokenCount(col("text")))
      .as[(Long, Long, Long)].collect()
    assert(got.length == k)
    // brute force: same fingerprint, same integer divide, same (key, id)
    // total order — the winner SET must match exactly
    val all = docs.select(col("doc_id"), col("text")).as[(Long, String)]
      .collect().map { case (id, text) =>
        val w = text.split("\\s+").count(_.nonEmpty).toLong
        (id, w, if (w > 0) Some(TextAnalysis.fingerprintOf(text + "|wsample") / w)
                else None)
      }
    val want = all.collect { case (id, w, Some(key)) => (key, id, w) }
      .sorted.take(k).map { case (key, id, w) => (id, w, key) }.toSet
    assert(got.toSet == want,
      s"winner set mismatch: ${(got.toSet -- want).take(3)} vs ${(want -- got.toSet).take(3)}")
    // inclusion ∝ weight: the winners' mean token count must exceed the
    // corpus mean (deterministic on this corpus; a uniform sampler sits
    // at the mean)
    val corpusMean = all.collect { case (_, w, Some(_)) => w }.sum.toDouble /
      all.count(_._3.isDefined)
    val winnerMean = got.map(_._2).sum.toDouble / got.length
    assert(winnerMean > corpusMean,
      s"weighted winners must skew long: $winnerMean <= $corpusMean")
    // zero/negative/NULL weight is outside the sampling domain
    val fix = Seq((1L, "a b c", 0L), (2L, "d e", -3L), (3L, "f g", 5L))
      .toDF("doc_id", "text", "w")
    val dom = TextAnalysis.weightedSampleK(fix, 10, col("w"))
      .as[(Long, Long, Long)].collect()
    assert(dom.map(_._1).toSeq == Seq(3L), s"domain: ${dom.toSeq}")
  }

  test("mixture upsample: copy counts are floor(f) plus the fractional " +
    "content draw, rep indexes are dense, factor 1 is the identity") {
    import graft.llm.TextAnalysis
    val got = TextAnalysis.mixtureUpsample(docs,
        targets = Seq("zh" -> 2.5, "fr" -> 3.0))
      .select(col("doc_id"), col("lang"), col("rep"))
      .as[(Long, String, Long)].collect()
    val byDoc = got.groupBy(_._1).map { case (id, rows) =>
      id -> (rows.head._2, rows.map(_._3).sorted.toSeq) }
    val langOf = docs.select(col("doc_id"), col("lang"), col("text"))
      .as[(Long, String, String)].collect()
    assert(byDoc.size == langOf.length, "every doc must emit >= 1 copy here")
    langOf.foreach { case (id, lang, text) =>
      val (gl, reps) = byDoc(id)
      assert(gl == lang)
      // exact per-doc expectation: floor + (draw < frac-threshold)
      val draw = math.floorMod(
        TextAnalysis.fingerprintOf(text + "|upsample"), 1000000L)
      val wantReps = lang match {
        case "zh" => 2L + (if (draw < 500000L) 1L else 0L)
        case "fr" => 3L
        case _    => 1L
      }
      assert(reps == (0L until wantReps),
        s"doc $id ($lang): reps $reps, want 0 until $wantReps")
    }
    // realized zh volume sits between the floor and ceiling of 2.5x
    val zhDocs = langOf.count(_._2 == "zh")
    val zhRows = got.count(_._2 == "zh")
    assert(zhRows > 2 * zhDocs && zhRows < 3 * zhDocs,
      s"zh should land strictly between 2x and 3x: $zhRows of $zhDocs docs")
    // factor 1.0 (and absent strata) emit exactly one rep-0 copy
    val ident = TextAnalysis.mixtureUpsample(docs, targets = Nil)
      .select(col("doc_id"), col("rep")).as[(Long, Long)].collect()
    assert(ident.length == langOf.length && ident.forall(_._2 == 0L))
  }

  test("perplexity buckets: per-language terciles are balanced within " +
    "one, ordered by the integer surprisal key, and cover every " +
    "tokenized doc") {
    import graft.llm.TextAnalysis
    val got = TextAnalysis.perplexityBuckets(docs, buckets = 3)
      .as[(Long, String, Long, Long)].collect()
    val tokenized = docs.filter(size(TextAnalysis.tokens(col("text"))) > 0)
      .count()
    assert(got.length == tokenized, "every tokenized doc gets a bucket")
    got.groupBy(_._2).foreach { case (lang, rows) =>
      val sizes = rows.groupBy(_._4).view.mapValues(_.length)
      assert(sizes.keySet.subsetOf(Set(1L, 2L, 3L)), s"$lang: $sizes")
      assert(sizes.values.max - sizes.values.min <= 1,
        s"$lang buckets must balance within one: $sizes")
      // bucket boundaries respect the (key, id) order: max of bucket b
      // <= min of bucket b+1 under the total order
      val byBucket = rows.groupBy(_._4).view
        .mapValues(_.map(r => (r._3, r._1)).sorted).toMap
      val tupleOrd = Ordering.Tuple2[Long, Long]
      for (b <- 1L to 2L if byBucket.contains(b) && byBucket.contains(b + 1))
        assert(tupleOrd.lteq(byBucket(b).last, byBucket(b + 1).head),
          s"$lang: bucket $b overlaps ${b + 1}")
    }
    // the head bucket is genuinely lower-surprisal than the tail
    val head = got.filter(_._4 == 1L).map(_._3)
    val tail = got.filter(_._4 == 3L).map(_._3)
    assert(head.max <= tail.min || head.sum.toDouble / head.length <
      tail.sum.toDouble / tail.length,
      "head must be cleaner than tail on average")
  }

  test("grouped weighted bottom-k: per-stratum winners equal a " +
    "driver-side recompute and strata never borrow each other's slots") {
    import graft.llm.TextAnalysis
    val k = 7
    val got = TextAnalysis.weightedSampleKPerGroup(docs, k,
        TextAnalysis.tokenCount(col("text")))
      .as[(String, Long, Long, Long)].collect()
    val all = docs.select(col("lang"), col("doc_id"), col("text"))
      .as[(String, Long, String)].collect().flatMap { case (lang, id, text) =>
        val w = text.split("\\s+").count(_.nonEmpty).toLong
        if (w > 0)
          Some((lang, TextAnalysis.fingerprintOf(text + "|wsample") / w, id, w))
        else None
      }
    val want = all.groupBy(_._1).toSeq.flatMap { case (lang, rows) =>
      rows.map(r => (r._2, r._3, r._4)).sorted.take(k).toSeq
        .map { case (key, id, w) => (lang, id, w, key) }
    }.toSet
    assert(got.toSet == want,
      s"grouped winner mismatch: ${(got.toSet -- want).take(3)} / ${(want -- got.toSet).take(3)}")
    got.groupBy(_._1).foreach { case (lang, rows) =>
      assert(rows.length == math.min(k, all.count(_._1 == lang)),
        s"$lang must fill its own ${k} slots")
    }
  }
}
