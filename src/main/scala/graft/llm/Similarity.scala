package graft.llm

import org.apache.spark.sql.{Column, DataFrame, Row}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.functions.VectorFunctions

/** Embedding similarity search (north-star surface): brute-force cosine
  * top-k as the exact baseline, plus an LSH-bucketed approximate variant as
  * the 100 TB scale path.
  *
  * Dot products run through the codegen'd [[graft.functions.FloatVecDot]]
  * expression — a tight primitive loop summing in array order with double
  * accumulation, so results are bit-deterministic across partitionings (no
  * shuffle-order float drift) and bit-equal to the higher-order-function
  * form it replaced.
  */
object Similarity {

  /** Σ aᵢ·bᵢ over two float-array columns, double accumulation in array
    * order. */
  def dot(a: Column, b: Column): Column = VectorFunctions.vec_dot(a, b)

  def l2norm(a: Column): Column = sqrt(dot(a, a))

  def cosine(a: Column, b: Column): Column = dot(a, b) / (l2norm(a) * l2norm(b))

  /** Exact brute-force cosine top-k: for each query vector, scan all corpus
    * vectors, rank by (cosine desc, id asc). The corpus side stays
    * partitioned; queries are broadcast (queries ≪ corpus is the ANN
    * shape). Per-partition top-k then global top-k via the rank window —
    * the heavy crossing is map-side only.
    */
  def bruteForceTopK(corpus: DataFrame, queries: DataFrame, k: Int,
                     idCol: String = "vec_id",
                     vecCol: String = "embedding"): DataFrame = {
    val q = queries.select(col(idCol).as("query_id"), col(vecCol).as("qv"))
    val c = corpus.select(col(idCol).as("neighbor_id"), col(vecCol).as("cv"))
    rankTopK(
      c.join(broadcast(q), col("query_id") =!= col("neighbor_id"))
        .withColumn("score", cosine(col("qv"), col("cv"))), k)
      .select("query_id", "neighbor_id", "score", "rnk")
  }

  /** Shared ANN ranking tail: per query, row_number over (score desc,
    * neighbor asc) truncated at k — ONE definition so every top-k path
    * (brute, LSH, IVF, stored index) ranks and tie-breaks identically. */
  private def rankTopK(scored: DataFrame, k: Int): DataFrame =
    scored.withColumn("rnk", row_number().over(
        Window.partitionBy("query_id")
          .orderBy(col("score").desc, col("neighbor_id"))))
      .filter(col("rnk") <= k)

  /** Bounded refine-candidate selection: per query, the `k` best neighbor
    * ids by (`scoreCol` desc, neighbor asc) via the O(k)-state
    * [[graft.ops.Scale.TopKLongAgg]] — set-identical to `row_number ≤ k`
    * over a per-query window (same order, same tie-break; LlmOpsSpec pins
    * the equality), without the window's failure mode at scale: a window
    * partition holds one query's ENTIRE candidate set, so one task sorts n
    * rows per query (200k+ at 100× bench scale for the flat-PQ ADC pass),
    * where the aggregate keeps `k` rows of state and combines map-side. */
  private[graft] def boundedTopIds(scored: DataFrame, scoreCol: String,
                                   k: Int,
                                   distinctPayloads: Boolean = false)
  : DataFrame = {
    val spark = scored.sparkSession
    import spark.implicits._
    scored.select(col("query_id").cast("long"),
        col(scoreCol).cast("double"), col("neighbor_id").cast("long"))
      .as[(Long, Double, Long)]
      .groupByKey(_._1)
      .mapValues(r => (r._2, r._3))
      .agg(graft.ops.Scale.topKLongColumn(k, distinctPayloads).name("top"))
      .toDF("query_id", "top")
      .select(col("query_id"), explode(col("top")).as("neighbor_id"))
  }

  /** Deterministic pseudo-random hyperplane component for (plane p, dim i):
    * splitmix64-style integer mix → uniform in [−0.5, 0.5]. Computed
    * driver-side into plane literals — seed-stable, no RNG state.
    */
  private def planeComponent(p: Int, i: Int): Double = {
    var z = p.toLong * 0x9E3779B97F4A7C15L + i.toLong * 0xBF58476D1CE4E5B9L
    z = (z ^ (z >>> 30)) * 0xBF58476D1CE4E5B9L
    z = (z ^ (z >>> 27)) * 0x94D049BB133111EBL
    z = z ^ (z >>> 31)
    (java.lang.Math.floorMod(z, 1000000L).toDouble / 1e6) - 0.5
  }

  /** The deterministic hyperplane family as materializable arrays — the
    * same splitmix-derived components [[lshBucket]] uses, exposed so
    * projections are reproducible outside the plan (oracle SQL, tests). */
  def projectionPlanes(outDim: Int, seed: Int = 0,
                       dim: Int = 64): Array[Array[Float]] =
    Array.tabulate(outDim)(p =>
      Array.tabulate(dim)(i => planeComponent(seed * 10007 + p, i).toFloat))

  /** Johnson–Lindenstrauss-style random projection to `outDim` dimensions —
    * the embedding-compression cousin of [[quantizeInt8]] (fewer dims
    * instead of narrower cells): each output coordinate is one codegen'd
    * [[graft.functions.FloatVecDot]] against a deterministic hyperplane
    * literal, so the projection is seed-stable with no RNG state and runs
    * at scan speed. Output long-form (id, dim, proj), proj rounded at 1e-6
    * (the order-sensitive-sum rule — engines sum the 64 products in
    * different orders). */
  def randomProjection(embeddings: DataFrame, outDim: Int, seed: Int = 0,
                       dim: Int = 64, idCol: String = "vec_id",
                       vecCol: String = "embedding"): DataFrame = {
    val planes = projectionPlanes(outDim, seed, dim)
    embeddings.select(col(idCol),
        posexplode(array(planes.indices.map(p =>
          round(VectorFunctions.vec_dot(col(vecCol), lit(planes(p))), 6)): _*))
          .as(Seq("dim", "proj")))
      .withColumn("dim", col("dim").cast("long"))
  }

  /** Random-hyperplane LSH bucket id from `nPlanes` sign bits; `seed` picks
    * an independent hyperplane family (one per hash table). The planes are
    * array<float> literals and each projection is one codegen'd
    * [[graft.functions.FloatVecDot]] — no per-row interpreted closures.
    */
  def lshBucket(vec: Column, nPlanes: Int, seed: Int = 0, dim: Int = 64): Column =
    (0 until nPlanes).map { p =>
      val plane = lit(Array.tabulate(dim)(i =>
        planeComponent(seed * 10007 + p, i).toFloat))
      when(VectorFunctions.vec_dot(vec, plane) > 0, shiftleft(lit(1L), p))
        .otherwise(lit(0L))
    }.reduce((a, b) => a.bitwiseOR(b))

  /** One-pass banding for [[lshTopK]]'s two sides: every table's bucket id is
    * computed in a single projection and `posexplode`d into (tbl, bucket)
    * rows — ONE scan of the vectors instead of a `tables`-way union of
    * scans (the union form re-read the corpus per table). */
  private def bandedBuckets(df: DataFrame, tables: Int, nPlanes: Int,
                            idCol: String, vecCol: String, dim: Int,
                            idAs: String, vecAs: String): DataFrame =
    df.select(col(idCol).as(idAs), col(vecCol).as(vecAs),
      posexplode(array((0 until tables).map(t =>
        lshBucket(col(vecCol), nPlanes, seed = t, dim = dim)): _*))
        .as(Seq("tbl", "bucket")))

  /** Embedding-cosine near-duplicate pairs: all pairs (a < b) with cosine ≥
    * `tau` — the embedding-space dedup variant (exact form; the
    * recall-certified IVF path of [[embeddingNearDupPairsCertified]] is the
    * 100 TB route, where only same-cell pairs are scored, and falls back to
    * this form). Norms are precomputed per vector and broadcast so each
    * pair costs one codegen'd dot product.
    */
  def embeddingNearDupPairs(embeddings: DataFrame, tau: Double,
                            idCol: String = "vec_id",
                            vecCol: String = "embedding"): DataFrame = {
    val withNorm = embeddings.select(col(idCol), col(vecCol),
      l2norm(col(vecCol)).as("nrm"))
    val a = withNorm.select(col(idCol).as("id_a"), col(vecCol).as("va"),
      col("nrm").as("na"))
    val b = withNorm.select(col(idCol).as("id_b"), col(vecCol).as("vb"),
      col("nrm").as("nb"))
    a.join(b, col("id_a") < col("id_b"))
      .select(col("id_a"), col("id_b"),
        (dot(col("va"), col("vb")) / (col("na") * col("nb"))).as("cos"))
      .filter(col("cos") >= tau)
      .select(col("id_a"), col("id_b"), round(col("cos"), 6).as("cos"))
  }

  /** Exact-cosine verification of a candidate pair set: join the vectors
    * back (norms precomputed once per side), score each candidate with one
    * codegen'd dot product, keep cosine ≥ `tau`. Shared by the certified
    * path's truth set and its IVF branch — the output is exact on whatever
    * candidates arrive, so recall of the candidate generator is the only
    * approximation anywhere.
    */
  private def verifyPairs(embeddings: DataFrame, cand: DataFrame, tau: Double,
                          idCol: String, vecCol: String): DataFrame = {
    val withNorm = embeddings.select(col(idCol), col(vecCol),
      l2norm(col(vecCol)).as("nrm"))
    cand
      .join(withNorm.select(col(idCol).as("id_a"), col(vecCol).as("va"),
        col("nrm").as("na")), "id_a")
      .join(withNorm.select(col(idCol).as("id_b"), col(vecCol).as("vb"),
        col("nrm").as("nb")), "id_b")
      .select(col("id_a"), col("id_b"),
        (dot(col("va"), col("vb")) / (col("na") * col("nb"))).as("cos"))
      .filter(col("cos") >= tau)
      .select(col("id_a"), col("id_b"), round(col("cos"), 6).as("cos"))
  }

  /** splitmix64 — the standard 64-bit finalizer mix; deterministic stand-in
    * for an RNG (same family as [[planeComponent]]). */
  private def splitmix64(x: Long): Long = {
    var z = x * 0x9E3779B97F4A7C15L
    z = (z ^ (z >>> 30)) * 0xBF58476D1CE4E5B9L
    z = (z ^ (z >>> 27)) * 0x94D049BB133111EBL
    z ^ (z >>> 31)
  }

  /** Deterministic spherical k-means coarse quantizers for IVF bucketing:
    * `tables` independent centroid sets, each Lloyd-iterated driver-side on
    * the same hash-ordered sample presented in a per-table deterministic
    * order (init = first `k` sample vectors in that order, so each table
    * converges to a different local optimum — table diversity is the recall
    * knob exactly as in multi-table LSH).
    *
    * The training collect is bounded (`sampleN` rows — standard IVF
    * practice: the quantizer trains on a sample, never the corpus) and
    * seed-stable: sample membership and every float operation happen in a
    * deterministic order, so re-runs and task retries see identical
    * centroids.
    */
  def trainIvfCentroids(embeddings: DataFrame, k: Int, tables: Int,
                        iters: Int = 8, sampleN: Int = 1024,
                        idCol: String = "vec_id",
                        vecCol: String = "embedding")
  : Array[Array[Array[Float]]] =
    ivfCentroidsOf(ivfSample(embeddings, sampleN, idCol, vecCol), k, tables,
      iters)

  /** The bounded, seed-stable training sample of [[trainIvfCentroids]]:
    * at most `sampleN` (id, v) rows in hash order. */
  private def ivfSample(embeddings: DataFrame, sampleN: Int, idCol: String,
                        vecCol: String): Array[Row] =
    embeddings
      .select(col(idCol).cast("long").as("id"), col(vecCol).as("v"))
      .sort(abs(xxhash64(col("id"))), col("id")) // deterministic pseudo-random sample
      .limit(sampleN)
      .collect()

  /** [[trainIvfCentroids]]' Lloyd runs over a collected sample. */
  private def ivfCentroidsOf(rows: Array[Row], k: Int, tables: Int,
                             iters: Int): Array[Array[Array[Float]]] = {
    require(rows.length >= k, s"IVF needs ≥ k=$k sample vectors, got ${rows.length}")
    val ids = rows.map(_.getLong(0))
    val unit: Array[Array[Double]] = rows.map { r =>
      val a = r.getSeq[Float](1).map(_.toDouble).toArray
      val n = math.sqrt(a.map(x => x * x).sum)
      if (n == 0) a else a.map(_ / n)
    }
    val dim = unit.head.length
    // tables are independent Lloyd runs over the same sample — train them on
    // a driver-side thread pool; per-table arithmetic order is untouched, so
    // the result is bit-identical to the sequential loop
    val out = new Array[Array[Array[Float]]](tables)
    java.util.stream.IntStream.range(0, tables).parallel().forEach { t =>
      // per-table order: splitmix of (id + table·prime), ties by id
      val order = ids.indices.sortBy(i =>
        (splitmix64(ids(i) + t.toLong * 1000000007L), ids(i)))
      val s = order.map(unit).toArray
      var cents = Array.tabulate(k)(i => s(i).clone())
      for (_ <- 0 until iters) {
        val sums = Array.fill(k)(new Array[Double](dim))
        val cnt = new Array[Int](k)
        for (v <- s) {
          var best = 0; var bestD = Double.NegativeInfinity
          var c = 0
          while (c < k) {
            var d = 0.0; var i = 0
            while (i < dim) { d += v(i) * cents(c)(i); i += 1 }
            if (d > bestD) { bestD = d; best = c }
            c += 1
          }
          var i = 0
          while (i < dim) { sums(best)(i) += v(i); i += 1 }
          cnt(best) += 1
        }
        cents = Array.tabulate(k) { c =>
          if (cnt(c) == 0) cents(c) // empty cell keeps its old centroid
          else {
            val n = math.sqrt(sums(c).map(x => x * x).sum)
            if (n == 0) cents(c) else sums(c).map(_ / n)
          }
        }
      }
      out(t) = cents.map(_.map(_.toFloat))
    }
    out
  }

  /** Dot of `v` against centroid `c` of table `ct` — float→double in array
    * order, bit-identical to [[graft.functions.FloatVecDot]]. */
  private def cellDot(ct: Array[Array[Float]], v: Array[Float],
                      c: Int): Double = {
    val cv = ct(c)
    val n = math.min(v.length, cv.length)
    var acc = 0.0
    var i = 0
    while (i < n) { acc += v(i).toDouble * cv(i).toDouble; i += 1 }
    acc
  }

  /** Argmax cell for `v` in table `ct`; ties take the highest index,
    * matching the natural struct-ordering max of the expression form. */
  private def nearestCell(ct: Array[Array[Float]], v: Array[Float]): Int = {
    var best = 0
    var bestD = cellDot(ct, v, 0)
    var c = 1
    while (c < ct.length) {
      val d = cellDot(ct, v, c)
      if (d >= bestD) { bestD = d; best = c }
      c += 1
    }
    best
  }

  /** Ranked IVF assignments: one row per (vector, table, probed centroid)
    * with the probe rank `rnk` (1 = nearest). Each table contributes the
    * `probes` nearest centroids by dot product (the vector's own norm is
    * constant per row, so dot order = cosine order), best first, the
    * highest centroid index first on ties — [[nearestCell]]'s rule, which
    * is the `probes == 1` fast path. One ranked scan serves a whole probe
    * ladder: filter `rnk <= p` instead of re-scanning.
    *
    * ONE scan of the corpus computes every table's assignment. This is the
    * rare justified `mapPartitions`: expressing tables·k (≈768) dot
    * products as column expressions overflows the generated method budget
    * and Catalyst falls back to interpreted projection (measured 30× slower
    * at sf0.1) — here the centroids ride one broadcast and each row runs a
    * tight JIT'd loop with the same float→double array-order accumulation
    * as [[graft.functions.FloatVecDot]], so scores are bit-identical to the
    * expression form.
    */
  private[graft] def rankedIvfAssignments(embeddings: DataFrame,
                                          centroids: Array[Array[Array[Float]]],
                                          probes: Int,
                                          idCol: String = "vec_id",
                                          vecCol: String = "embedding")
  : DataFrame = {
    val spark = embeddings.sparkSession
    import spark.implicits._
    val bc = spark.sparkContext.broadcast(centroids)
    embeddings
      .select(col(idCol).cast("long"), col(vecCol))
      .as[(Long, Array[Float])]
      .mapPartitions { rows =>
        val cents = bc.value
        rows.flatMap { case (id, v) =>
          cents.indices.iterator.flatMap { t =>
            val ct = cents(t)
            if (probes == 1) Iterator.single((id, t, nearestCell(ct, v), 1))
            else ct.indices
              .sortBy(c => (-cellDot(ct, v, c), -c))
              .take(probes).iterator.zipWithIndex
              .map { case (c, r) => (id, t, c, r + 1) }
          }
        }
      }
      .toDF("id", "tbl", "centroid", "rnk")
  }

  /** IVF assignments: [[rankedIvfAssignments]] without the rank — one row
    * per (vector, table, probed centroid). */
  def ivfAssignments(embeddings: DataFrame,
                     centroids: Array[Array[Array[Float]]], probes: Int,
                     idCol: String = "vec_id",
                     vecCol: String = "embedding"): DataFrame =
    rankedIvfAssignments(embeddings, centroids, probes, idCol, vecCol)
      .drop("rnk")

  /** Pairs (a < b) sharing a (table, centroid) cell of an assignment
    * relation, deduped across tables BEFORE any scoring. */
  private def sameCellPairs(asg: DataFrame): DataFrame = {
    val a = asg.select(col("tbl"), col("centroid"), col("id").as("id_a"))
    val b = asg.select(col("tbl"), col("centroid"), col("id").as("id_b"))
    a.join(b, Seq("tbl", "centroid"))
      .filter(col("id_a") < col("id_b"))
      .select("id_a", "id_b").distinct()
  }

  /** Candidate pairs under the IVF partitions: ids sharing a (table,
    * centroid) cell. The reference candidate relation the specs measure
    * (ScaleSpec asserts the gate corpus stays < 0.3 · C(n,2) — the pruning
    * random hyperplanes lose at low τ; StreamingSpec compares the
    * streaming embedding dedup against it).
    */
  def ivfCandidatePairs(embeddings: DataFrame,
                        centroids: Array[Array[Array[Float]]], probes: Int,
                        idCol: String = "vec_id",
                        vecCol: String = "embedding"): DataFrame = {
    // both self-join sides read the assignments — persist AND materialize
    // so the tables·k dot-product scan runs once, not once per branch
    // (cache ownership: released by the caller's CacheScope / clearCache)
    val asg = graft.core.CacheScope.track(
      ivfAssignments(embeddings, centroids, probes, idCol, vecCol).persist())
    asg.count()
    sameCellPairs(asg)
  }

  /** Deterministic certification sample: the `m` ids with the smallest
    * |xxhash64| — a fixed pseudo-random held-out query set, stable across
    * runs and task retries (same discipline as the quantizer sample). */
  private def certSampleIds(emb: DataFrame, m: Int): DataFrame =
    emb.select(col("id"))
      .orderBy(abs(xxhash64(col("id"))), col("id")).limit(m)

  /** Exact qualifying partners of the certification sample: every (sample
    * id, other id) pair with cosine ≥ τ — an m×n broadcast scan (linear in
    * the corpus, never all-pairs), the ground truth the sampled recall
    * certificate is measured against. */
  private def certTruthPairs(emb: DataFrame, ids: DataFrame,
                             tau: Double): DataFrame =
    verifyPairs(emb,
      broadcast(ids.select(col("id").as("id_a")))
        .join(emb.select(col("id").as("id_b")), col("id_a") =!= col("id_b")),
      tau, "id", "v")

  /** Recall-certified embedding near-duplicate pairs — the one near-dup
    * device above the cutover, and the escalation path that retires silent
    * recall loss: measure the IVF candidate generator's recall on a
    * deterministic held-out sample BEFORE trusting it, escalate probes up
    * the ladder while the measured recall misses `targetRecall`, and when
    * no rung certifies, run the exact all-pairs form — because a bucketing
    * that the measurement says cannot prune costs more than the scan it
    * fails to replace (TuneIvfSf01: recall 1.0 at τ inside the
    * random-cosine bulk needs a ≥0.5 candidate fraction at ANY
    * (tables, k, probes), i.e. half of all-pairs plus assignment overhead;
    * at sf0.1 — 2000 uniform random vectors, τ = 0.45 — rung 1 at the
    * default parameters recalls 125/144 of the exact pairs at candidate
    * fraction 0.15). Full-recall low-τ search on unclustered data is Θ(n²)
    * for every bucketing scheme; IVF's value is on corpora with real
    * duplicate structure, where qualifying pairs are co-located.
    *
    * The IVF branch trains `tables` deterministic coarse quantizers on a
    * bounded sample, assigns every vector to its `p` nearest centroids per
    * table (p = the certified rung), scores ONLY same-cell pairs, then
    * exact-verifies cosine ≥ `tau`. No cartesian anywhere; candidate volume
    * ≈ Σ_cells (cell/n)² per table instead of all pairs. The registry
    * parameters are recall-1.0-tuned on the gate corpora (LlmOpsSpec pins
    * the IVF branch through a near-dup bound of 0; ScaleSpec bounds the
    * candidate fraction); re-tune whenever fixtures or scales change (the
    * TuneIvf/TuneIvfSf01 sweeps that set them can be recovered from commit
    * f372b9f). At 100 TB: scale `k` with corpus size (bucket size n/k
    * bounds the per-cell quadratic term), keep the quantizer sample
    * bounded, and the assignment scan stays one pass.
    *
    * The certificate: `certQueries` ids (smallest |xxhash64| — fixed per
    * corpus), their exact τ-partners from one m×n broadcast scan, and per
    * rung the candidates touching the sample, scored with the
    * [[annRecall]] counting rule (hits/truth of exact integer counts). A
    * rung is certified when sampled recall ≥ `targetRecall`; an empty
    * truth set certifies the first rung vacuously. Deterministic end to
    * end (quantizers, sample, ladder), so the chosen rung — hence the
    * output — is a pure function of the corpus.
    *
    * The certificate is SAMPLED, so it is a confidence statement, not a
    * proof: a rung can pass while missing pairs the sample never touches
    * (measured at sf0.1: rung 2's sampled recall is 24/24 at a 0.44
    * candidate fraction — below the ≥0.5 the full sweep says recall 1.0
    * needs; and on the 1.9k-vector q96 aligned subset rung 1 itself
    * passed 23/23 sampled while missing 10/124 pairs corpus-wide).
    * The miss probability decays with `certQueries` (a missed pair
    * touching the sample is what gets caught), and the default ladder is
    * Seq(1) precisely so escalation jumps from the honest fast path
    * straight to exact instead of stopping at a marginally-passing
    * intermediate rung; ladders beyond rung 1 are for corpora where
    * multi-probe genuinely prunes ([[certifiedRung]] reports which rung
    * passed).
    *
    * With at most the [[graft.ops.Scale.Cutover.NearDup]] bound of vectors
    * (3,999 by default; [[graft.ops.Scale.smallSide]]'s bounded probe, none
    * at a bound of 0) the operator skips IVF entirely and
    * runs the exact scan — the flat-index-below-threshold cutover every ANN
    * stack has: at small n the all-pairs scan costs LESS than quantizer
    * training + assignment + certificate (measured at sf0.1's n = 2000:
    * exact 0.82 s vs raw IVF 0.84 s warm), and its recall certainty is
    * free, where the sampled certificate's is not. So every corpus small
    * enough to measure exhaustively IS measured exhaustively, and the
    * sampled machinery governs only at the scale it was built for. Past
    * a bound below `k` (a bound of 0 included), a corpus whose training
    * sample holds fewer than `k` vectors escalates to the exact scan as
    * well: it has no `k` cells to train.
    *
    * 100 TB posture: the certificate costs one bounded-sample m×n scan
    * plus per-rung joins on sample-touching candidates only; the one
    * corpus-sized addition is the ranked assignment scan, ONE pass for
    * the whole ladder. The exact fallback is Θ(n²) — inherent to
    * full-recall low-τ search on data whose qualifying pairs no bucketing
    * co-locates — and this operator's point is that it happens by
    * MEASUREMENT, visibly, instead of recall silently walking away. On
    * corpora with real duplicate structure (the production case) rung 1
    * certifies and the cost over the bare IVF join is the certificate
    * alone.
    */
  def embeddingNearDupPairsCertified(embeddings: DataFrame, tau: Double,
                                     k: Int = 64, tables: Int = 12,
                                     iters: Int = 8, sampleN: Int = 1024,
                                     certQueries: Int = 256,
                                     targetRecall: Double = 1.0,
                                     probeLadder: Seq[Int] = Seq(1),
                                     idCol: String = "vec_id",
                                     vecCol: String = "embedding")
  : DataFrame = {
    require(probeLadder.nonEmpty && probeLadder == probeLadder.sorted,
      s"probeLadder must be a non-empty ascending sequence: $probeLadder")
    val e = graft.core.CacheScope.track(embeddings
      .select(col(idCol).cast("long").as("id"), col(vecCol).as("v"))
      .persist())
    val nearDup = graft.ops.Scale.Cutover.NearDup
    if (graft.ops.Scale.smallSide(e, nearDup.bound(e.sparkSession)))
      return embeddingNearDupPairs(e, tau, "id", "v")
    certifiedRung(e, tau, k, tables, iters, sampleN, certQueries,
        targetRecall, probeLadder) match {
      case Some((p, ranked)) =>
        verifyPairs(e, sameCellPairs(ranked.filter(col("rnk") <= p)),
          tau, "id", "v")
      case None => embeddingNearDupPairs(e, tau, "id", "v")
    }
  }

  /** The certificate ladder of [[embeddingNearDupPairsCertified]] over its
    * (id: long, v) frame: the first rung of `probeLadder` whose sampled
    * recall reaches `targetRecall`, with the ranked assignment scan — ONE
    * corpus pass for the whole ladder — that the certified branch joins.
    * None when no rung certifies, or when the training sample holds fewer
    * than `k` vectors (a corpus that small has no `k` cells to train, so
    * it escalates to the exact scan the same way). Scope-tracked caches:
    * call inside a `CacheScope`. */
  private[graft] def certifiedRung(e: DataFrame, tau: Double, k: Int,
                                   tables: Int, iters: Int, sampleN: Int,
                                   certQueries: Int, targetRecall: Double,
                                   probeLadder: Seq[Int])
  : Option[(Int, DataFrame)] = {
    val sample = ivfSample(e, sampleN, "id", "v")
    if (sample.length < k) return None
    val ids = certSampleIds(e, certQueries)
    val truth = graft.core.CacheScope.track(
      certTruthPairs(e, ids, tau).select("id_a", "id_b").persist())
    val nTruth = truth.count()
    val need = math.ceil(targetRecall * nTruth).toLong
    val cents = ivfCentroidsOf(sample, k, tables, iters)
    val ranked = graft.core.CacheScope.track(
      rankedIvfAssignments(e, cents, probeLadder.max, "id", "v").persist())
    ranked.count()
    val rung = probeLadder.find { p =>
      nTruth == 0L || {
        val asgP = ranked.filter(col("rnk") <= p)
        val sAsg = asgP.join(broadcast(ids), Seq("id"))
          .select(col("tbl"), col("centroid"), col("id").as("id_a"))
        val cand = sAsg.join(asgP, Seq("tbl", "centroid"))
          .filter(col("id_a") =!= col("id"))
          .select(col("id_a"), col("id").as("id_b")).distinct()
        truth.join(cand, Seq("id_a", "id_b"), "left_semi").count() >= need
      }
    }
    rung.map((_, ranked))
  }

  /** Scalar int8 quantization of the embedding column — the 4× storage cut
    * for a 100 TB embedding store: per-vector affine grid over [min, max],
    * qᵢ = round((xᵢ − min)·255/(max − min)) − 128 stored as `tinyint`, plus
    * the two grid floats for dequantization. Max per-element reconstruction
    * error is (max−min)/510. Pure column expressions (codegen'd transform),
    * so quantization runs at scan speed; constant vectors (max = min)
    * quantize to the zero code.
    */
  def quantizeInt8(embeddings: DataFrame,
                   idCol: String = "vec_id",
                   vecCol: String = "embedding"): DataFrame = {
    // two selects: the bounds are projected to columns FIRST so the
    // per-element lambda references scalars — inlining array_min/array_max
    // into the transform would rescan the whole array per element (O(d²))
    val mn = col("q_min")
    val mx = col("q_max")
    embeddings
      .select(col(idCol), col(vecCol),
        array_min(col(vecCol)).cast("double").as("q_min"),
        array_max(col(vecCol)).cast("double").as("q_max"))
      .select(col(idCol), mn, mx,
        transform(col(vecCol), x =>
          when(mx === mn, lit(-128))
            .otherwise(round((x.cast("double") - mn) * 255.0 / (mx - mn), 0)
              .cast("int") - 128)
            .cast("tinyint")).as("qvec"))
  }

  /** Inverse of [[quantizeInt8]]: x̂ᵢ = min + (qᵢ+128)·(max−min)/255. */
  def dequantizeInt8(quantized: DataFrame,
                     idCol: String = "vec_id"): DataFrame =
    quantized.select(col(idCol),
      transform(col("qvec"), q =>
        (col("q_min") + (q.cast("double") + 128.0) *
          (col("q_max") - col("q_min")) / 255.0).cast("float"))
        .as("embedding"))

  /** Deterministic product-quantization codebooks — the memory-compression
    * layer of billion-vector ANN (FAISS-style IVF+PQ): the unit-normalized
    * embedding splits into `m` contiguous subspaces, each with its own
    * `k`-codeword codebook (L2 Lloyd iterations per subspace), so a vector
    * stores as `m` small codes instead of `dim` floats — 64 floats (256 B)
    * become 8 bytes at m=8. Trained on the same bounded hash-ordered
    * sample as [[trainIvfCentroids]], in a deterministic order, so re-runs
    * and task retries see identical codebooks. Returns [m][k][dim/m].
    */
  def trainPqCodebooks(embeddings: DataFrame, m: Int, k: Int,
                       iters: Int = 8, sampleN: Int = 1024,
                       idCol: String = "vec_id",
                       vecCol: String = "embedding")
  : Array[Array[Array[Float]]] = {
    val rows = embeddings
      .select(col(idCol).cast("long").as("id"), col(vecCol).as("v"))
      .sort(abs(xxhash64(col("id"))), col("id"))
      .limit(sampleN)
      .collect()
    require(rows.length >= k, s"PQ needs ≥ k=$k sample vectors, got ${rows.length}")
    val unit: Array[Array[Double]] = rows.map { r =>
      val a = r.getSeq[Float](1).map(_.toDouble).toArray
      val n = math.sqrt(a.map(x => x * x).sum)
      if (n == 0) a else a.map(_ / n)
    }
    val dim = unit.head.length
    require(dim % m == 0, s"dim=$dim not divisible by m=$m subspaces")
    val sub = dim / m
    val out = new Array[Array[Array[Float]]](m)
    java.util.stream.IntStream.range(0, m).parallel().forEach { j =>
      val s = unit.map(v => v.slice(j * sub, (j + 1) * sub))
      var cents = Array.tabulate(k)(i => s(i).clone())
      for (_ <- 0 until iters) {
        val sums = Array.fill(k)(new Array[Double](sub))
        val cnt = new Array[Int](k)
        for (v <- s) {
          // nearest codeword by L2; strict < keeps the lowest index on ties
          var best = 0; var bestD = Double.PositiveInfinity
          var c = 0
          while (c < k) {
            var d = 0.0; var i = 0
            while (i < sub) {
              val t = v(i) - cents(c)(i); d += t * t; i += 1
            }
            if (d < bestD) { bestD = d; best = c }
            c += 1
          }
          var i = 0
          while (i < sub) { sums(best)(i) += v(i); i += 1 }
          cnt(best) += 1
        }
        cents = Array.tabulate(k) { c =>
          if (cnt(c) == 0) cents(c) // empty cell keeps its old codeword
          else sums(c).map(_ / cnt(c))
        }
      }
      out(j) = cents.map(_.map(_.toFloat))
    }
    out
  }

  /** Nearest codeword per subspace for `v` (unit-normalized inside) — THE
    * one definition of PQ encoding: the in-memory encode and the stored
    * index's posting rows both call it, so their codes can never diverge
    * (the q68/q72 shared-oracle guarantee rests on that). Ties take the
    * lowest codeword index, matching the trainer's assignment rule. */
  private[llm] def pqEncodeVector(v: Array[Float],
                                  books: Array[Array[Array[Float]]])
  : Array[Int] = {
    val m = books.length
    val sub = books(0)(0).length
    var n = 0.0
    var i = 0
    while (i < v.length) { n += v(i).toDouble * v(i).toDouble; i += 1 }
    val inv = if (n == 0) 0.0 else 1.0 / math.sqrt(n)
    val codes = new Array[Int](m)
    var j = 0
    while (j < m) {
      val book = books(j)
      var best = 0; var bestD = Double.PositiveInfinity
      var c = 0
      while (c < book.length) {
        val cw = book(c)
        var d = 0.0; var t = 0
        while (t < sub) {
          val e = v(j * sub + t).toDouble * inv - cw(t)
          d += e * e; t += 1
        }
        if (d < bestD) { bestD = d; best = c }
        c += 1
      }
      codes(j) = best
      j += 1
    }
    codes
  }

  /** Per-query ADC lookup table: lut(j)(c) = (unit-normalized query's j-th
    * subvector) · codeword c — shared by the in-memory ADC pass and the
    * stored-index search. */
  private[llm] def pqQueryLut(qv: Array[Float],
                              books: Array[Array[Array[Float]]])
  : Array[Array[Double]] = {
    val m = books.length
    val kCodes = books(0).length
    val sub = books(0)(0).length
    val n = math.sqrt(qv.map(x => x.toDouble * x.toDouble).sum)
    val inv = if (n == 0) 0.0 else 1.0 / n
    Array.tabulate(m, kCodes) { (j, c) =>
      val cw = books(j)(c)
      var d = 0.0; var t = 0
      while (t < sub) { d += qv(j * sub + t).toDouble * inv * cw(t); t += 1 }
      d
    }
  }

  /** PQ-encode the corpus: each unit-normalized vector → `m` codeword
    * indices. The same justified `mapPartitions` as [[ivfAssignments]]:
    * m·k subspace distances per row as column expressions would overflow
    * the codegen method budget; here the codebooks ride one broadcast and
    * each row runs a tight JIT'd loop ([[pqEncodeVector]]).
    */
  def pqEncode(embeddings: DataFrame,
               codebooks: Array[Array[Array[Float]]],
               idCol: String = "vec_id",
               vecCol: String = "embedding"): DataFrame = {
    val spark = embeddings.sparkSession
    import spark.implicits._
    val bc = spark.sparkContext.broadcast(codebooks)
    embeddings
      .select(col(idCol).cast("long"), col(vecCol))
      .as[(Long, Array[Float])]
      .mapPartitions { rows =>
        val books = bc.value
        rows.map { case (id, v) => (id, pqEncodeVector(v, books)) }
      }
      .toDF("neighbor_id", "codes")
  }

  /** PQ asymmetric-distance top-k: candidates scored against the COMPRESSED
    * corpus (per-query lookup table of query-subvector · codeword dots, so
    * each candidate costs m table lookups instead of a dim-float dot), the
    * best `refine` per query re-ranked with the exact cosine — the standard
    * ADC + refine layout. With `refine` covering the quantization error's
    * rank displacement, the output EQUALS brute force (the gate corpora are
    * measured at recall 1.0; LlmOpsSpec pins it), while the scan reads
    * m-byte codes instead of full vectors — the 100 TB value is the 16×
    * smaller hot set, not fewer candidates. Queries are collected and
    * broadcast (queries ≪ corpus — the ANN contract, same bound as
    * [[bruteForceTopK]]'s broadcast).
    *
    * Defaults measured on the local corpora (TunePq): uniform random
    * vectors are PQ's worst case (no cluster structure → large quantization
    * error), and the minimum refine for recall 1.0 is 91/95/114 at
    * sf0.001/0.01/0.1 with m=16, kCodes=32 — refine=160 carries ≥1.4×
    * margin at every scale while re-ranking ≤8% of the bench corpus. On
    * clustered real embedding spaces the same codebooks displace far less.
    * Re-measure the minimum refine when fixtures or scales change (the
    * TunePq sweep that measured it can be recovered from commit f372b9f).
    *
    * The ADC pass stays in DataFrame land: `m` array lookups per candidate
    * fold into one `aggregate` expression (small and codegen-safe, unlike
    * the m·k-distance ENCODE step, which is the justified mapPartitions).
    */
  def pqTopK(corpus: DataFrame, queries: DataFrame, k: Int,
             m: Int = 16, kCodes: Int = 32, refine: Int = 160,
             iters: Int = 8, sampleN: Int = 1024,
             idCol: String = "vec_id",
             vecCol: String = "embedding"): DataFrame = {
    // refine selection via the bounded top-K aggregate, NOT the rank
    // window: flat ADC scores the whole corpus per query, and a window
    // partition would sort those n rows in one task — O(refine) state
    // instead (see boundedTopIds)
    val cand = boundedTopIds(
      pqAdcScores(corpus, queries, m, kCodes, iters, sampleN, idCol, vecCol),
      "adc", refine)
    val qv = queries.select(col(idCol).cast("long").as("query_id"),
      col(vecCol).as("qv"))
    val cv = corpus.select(col(idCol).cast("long").as("neighbor_id"),
      col(vecCol).as("cv"))
    rankTopK(
      cand.join(broadcast(qv), "query_id").join(cv, "neighbor_id")
        .select(col("query_id"), col("neighbor_id"),
          cosine(col("qv"), col("cv")).as("score")), k)
  }

  /** Every (query, corpus) pair with its asymmetric-distance score:
    * codebooks trained, corpus PQ-encoded, per-query LUTs broadcast, ADC
    * folded in one codegen-safe `aggregate` — the scan under
    * [[pqTopK]]'s bounded refine. */
  private def pqAdcScores(corpus: DataFrame, queries: DataFrame,
                          m: Int, kCodes: Int,
                          iters: Int, sampleN: Int,
                          idCol: String, vecCol: String): DataFrame = {
    val spark = corpus.sparkSession
    import spark.implicits._
    val books = trainPqCodebooks(corpus, m, kCodes, iters, sampleN, idCol, vecCol)
    val enc = pqEncode(corpus, books, idCol, vecCol)
    val lutRows = queries
      .select(col(idCol).cast("long"), col(vecCol)).as[(Long, Array[Float])]
      .collect().toSeq
      .map { case (qid, qv) => (qid, pqQueryLut(qv, books).map(_.toSeq).toSeq) }
    val lutDf = lutRows.toDF("query_id", "lut")
    enc.join(broadcast(lutDf), col("query_id") =!= col("neighbor_id"))
      .withColumn("adc", aggregate(sequence(lit(0), lit(m - 1)), lit(0.0),
        (acc, j) => acc +
          element_at(element_at(col("lut"), j + 1),
            element_at(col("codes"), j + 1) + 1)))
      .select("query_id", "neighbor_id", "adc")
  }

  /** Per-label embedding centroids: per-dimension mean over each label's
    * vectors — the class-prototype statistic (nearest-centroid classifiers,
    * per-class drift monitoring, IVF seeding from labels). One posexplode +
    * one hash aggregation, map-side combined; the mean is rounded at 1e-6 —
    * far above the ~1e-13 float-sum order drift between engines, far below
    * anything meaningful in the statistic (the order-sensitive-sum rule;
    * see the determinism comments in queries/RelationalQueries.scala).
    */
  def labelCentroids(embeddings: DataFrame, labelCol: String = "label",
                     vecCol: String = "embedding"): DataFrame =
    embeddings
      .select(col(labelCol), posexplode(col(vecCol)).as(Seq("dim", "e")))
      .groupBy(col(labelCol), col("dim").cast("long").as("dim"))
      .agg(round(sum(col("e").cast("double")) / count(lit(1)), 6).as("mu"),
        count(lit(1)).as("n"))

  /** Nearest-centroid classification — the class-prototype assignment over
    * [[labelCentroids]] (domain tagging, centroid-seeded labeling, drift
    * checks): every vector gets the label of its max-cosine centroid. The
    * centroids are the ROUNDED per-label means (cross-engine exact, the
    * q54 contract), so the oracle scores the identical prototype values.
    *
    * Plan shape: the centroid table collapses to |labels| array rows
    * (broadcast), scoring is a per-row fold, and rank-1 selection is one
    * max-struct aggregate over the bounded label set — no window, and the
    * only shuffle is the per-vector aggregate. Tie-break: equal scores go
    * to the LARGER label (max-struct order), stated so the choice is a
    * contract rather than an accident. Output: (vec_id, label,
    * pred_label, score·1e-6-rounded).
    */
  def nearestCentroid(embeddings: DataFrame, labelCol: String = "label",
                      vecCol: String = "embedding"): DataFrame = {
    val cents = labelCentroids(embeddings, labelCol, vecCol)
      .groupBy(col(labelCol).as("cand_label"))
      .agg(sort_array(collect_list(struct(col("dim"), col("mu")))).as("dm"))
      .select(col("cand_label"),
        transform(col("dm"), s => s.getField("mu")).as("cvec"))
    val dp = aggregate(zip_with(col(vecCol), col("cvec"),
      (x, y) => x.cast("double") * y), lit(0.0), (a, v) => a + v)
    val nv = sqrt(aggregate(col(vecCol), lit(0.0),
      (a, x) => a + x.cast("double") * x.cast("double")))
    val nc = sqrt(aggregate(col("cvec"), lit(0.0), (a, x) => a + x * x))
    // the argmax operand is the 1e-6-ROUNDED cosine — the cross-engine-
    // exact value — so sub-rounding float-sum drift can never flip which
    // label wins (scores within 1e-6 tie and resolve by the label order)
    embeddings.select(col("vec_id"), col(labelCol), col(vecCol))
      .crossJoin(broadcast(cents))
      .withColumn("score", round(dp / (nv * nc), 6))
      .groupBy(col("vec_id"), col(labelCol))
      .agg(max(struct(col("score"), col("cand_label"))).as("best"))
      .select(col("vec_id"), col(labelCol),
        col("best.cand_label").as("pred_label"),
        col("best.score").as("score"))
  }

  /** One Lloyd assignment pass against an explicit centroid table:
    * centroids broadcast as |k| (cid, cvec-double-array) rows, per-row
    * cosine fold, rank-1 via one max-struct aggregate (ties to the LARGER
    * cid — the [[nearestCentroid]] contract). Emits (id, cid,
    * score·1e-6-rounded). */
  private def assignToCentroids(emb: DataFrame, cents: DataFrame)
  : DataFrame = {
    val dp = aggregate(zip_with(col("v"), col("cvec"),
      (x, y) => x.cast("double") * y), lit(0.0), (a, x) => a + x)
    val nv = sqrt(aggregate(col("v"), lit(0.0),
      (a, x) => a + x.cast("double") * x.cast("double")))
    val nc = sqrt(aggregate(col("cvec"), lit(0.0), (a, x) => a + x * x))
    emb.crossJoin(broadcast(cents))
      .withColumn("__score", round(dp / (nv * nc), 6))
      .groupBy(col("id"))
      .agg(max(struct(col("__score"), col("cid"))).as("__b"))
      .select(col("id"), col("__b.cid").as("cid"),
        col("__b.__score").as("score"))
  }

  /** Distributed k-means (Lloyd) over the FULL corpus — corpus clustering
    * for semantic dedup sharding, domain discovery, and index layout
    * (where [[trainIvfCentroids]] trains quantizers on a bounded SAMPLE,
    * this is the operator you run when the cluster assignment of every
    * vector IS the product). Deterministic end to end: seeds are the `k`
    * smallest-id vectors, each round assigns by max 1e-6-ROUNDED cosine
    * (ties to the larger cid — ranking the rounded score makes the argmax
    * operand cross-engine exact, so float-sum drift cannot flip an
    * assignment and compound through later rounds)
    * and recomputes centroids as per-dimension means ROUNDED
    * at 1e-6 (the q54/q84 cross-engine-exact contract — far above float
    * sum-order drift, far below anything meaningful in a mean).
    *
    * Scale posture: model state is k·dim doubles — collected and
    * broadcast each round (the bounded-model contract shared with the
    * quantizer/codebook/BPE trainers), so each of the `iters`+1 rounds is
    * ONE corpus scan (assignment = broadcast crossJoin + max-struct
    * aggregate, no window) plus one map-side-combined (cid, dim) mean
    * aggregate of bounded output (k·dim rows). Nothing driver-side ever
    * holds corpus-sized state, and lineage resets at each collect.
    * Clusters that lose all members drop out (standard Lloyd cell death;
    * deterministic, both engines agree).
    *
    * Output: (vec_id, cluster_id, score) — the final assignment under the
    * round-`iters` centroids, score = cosine to the winning centroid.
    */
  def kmeansLloyd(embeddings: DataFrame, k: Int = 8, iters: Int = 2,
                  idCol: String = "vec_id",
                  vecCol: String = "embedding"): DataFrame = {
    val spark = embeddings.sparkSession
    import spark.implicits._
    val emb = embeddings.select(col(idCol).cast("long").as("id"),
      col(vecCol).as("v"))
    def centsDf(cents: Seq[(Long, Seq[Double])]): DataFrame =
      cents.toDF("cid", "cvec")
    // seeds: the k SMALLEST PRESENT ids, raw float dims widened (exact);
    // cid = the seed's id. On a dense-id corpus this is ids 0..k−1 (what
    // the q90 oracle's `WHERE vec_id < k` seeds encode); on a filtered
    // subset — e.g. the curation job's shipped set feeding the diversity
    // cap — the seeds are whatever k ids survive, so the operator
    // composes after upstream filters instead of demanding id density.
    // orderBy.limit lowers to TakeOrdered: bounded, never a full sort.
    var cents: Seq[(Long, Seq[Double])] = emb.orderBy(col("id")).limit(k)
      .as[(Long, Array[Float])].collect().sortBy(_._1)
      .map { case (i, v) => (i, v.map(_.toDouble).toSeq) }.toSeq
    require(cents.nonEmpty, "kmeansLloyd needs a non-empty corpus")
    val dp = aggregate(zip_with(col("v"), col("cvec"),
      (x, y) => x.cast("double") * y), lit(0.0), (a, x) => a + x)
    val nv = sqrt(aggregate(col("v"), lit(0.0),
      (a, x) => a + x.cast("double") * x.cast("double")))
    val nc = sqrt(aggregate(col("cvec"), lit(0.0), (a, x) => a + x * x))
    for (_ <- 0 until iters) {
      // assignment carries the vector through the max-struct aggregate
      // (first(v) is functionally dependent on the group key) — no join
      // back onto the corpus to re-fetch it. The argmax ranks the 1e-6-
      // ROUNDED cosine (the cross-engine-exact value): with the raw
      // float-sum-dependent score, sub-rounding drift could flip ONE
      // round-r assignment and then compound through every later round
      cents = emb.crossJoin(broadcast(centsDf(cents)))
        .withColumn("__score", round(dp / (nv * nc), 6))
        .groupBy(col("id"))
        .agg(max(struct(col("__score"), col("cid"))).as("__b"),
          first(col("v")).as("v"))
        .select(col("__b.cid").as("cid"), posexplode(col("v")).as(Seq("dim", "e")))
        .groupBy(col("cid"), col("dim"))
        .agg(round(sum(col("e").cast("double")) / count(lit(1)), 6).as("mu"))
        .groupBy(col("cid"))
        .agg(sort_array(collect_list(struct(col("dim"), col("mu")))).as("dm"))
        .select(col("cid"),
          transform(col("dm"), s => s.getField("mu")).as("cvec"))
        .as[(Long, Seq[Double])].collect().sortBy(_._1).toSeq
    }
    assignToCentroids(emb, centsDf(cents))
      .select(col("id").as(idCol), col("cid").as("cluster_id"), col("score"))
  }

  /** Cluster-balanced subsampling — the q90 → selection loop closed: cap
    * how many vectors any one SEMANTIC cluster contributes, the
    * diversity-preserving analog of the per-source cap (a topically
    * redundant corpus region — near-identical embeddings, one dominant
    * topic — contributes at most `cap` exemplars instead of drowning the
    * mix). Assignment is [[kmeansLloyd]] (same k/iters/seeds as q90);
    * within a cluster the survivors are the lowest `cap` by the salted
    * id-hash draw (ties to the id) — the [[TextAnalysis.sourceCap]]
    * machinery with the cluster id as the stratum, so the hot-stratum
    * scale path (two-phase pre-filter) applies unchanged if a cluster
    * grows pathological.
    *
    * Output: surviving (id, cluster_id, draw, src_rank), rank ∈ [1, cap].
    */
  def clusterBalancedCap(embeddings: DataFrame, k: Int = 8, iters: Int = 2,
                         cap: Int = 30, salt: String = "|ccap",
                         idCol: String = "vec_id",
                         vecCol: String = "embedding"): DataFrame = {
    val assigned = kmeansLloyd(embeddings, k, iters, idCol, vecCol)
      .select(col(idCol), col("cluster_id"))
      .withColumn("__key", col(idCol).cast("string"))
    graft.llm.TextAnalysis.sourceCap(assigned, cap,
        strataCol = "cluster_id", salt = salt, idCol = idCol,
        textCol = "__key")
  }

  /** IVF approximate top-k — the inverted-file ANN layout (train a coarse
    * quantizer, store each corpus vector in its nearest cell, probe only the
    * query's nearest `probes` cells per table): corpus assignments use
    * probes=1 (each vector lives in exactly one cell per table — the stored
    * index), queries probe `probes` cells so near-boundary neighbors in
    * adjacent cells are still found; `tables` independent quantizers are the
    * remaining recall knob. Candidates dedupe across tables before the exact
    * cosine ranking, so each (query, neighbor) is scored once.
    *
    * The probe count trades recall for read volume, and the right value is
    * data-dependent: on clustered corpora (real embedding spaces) a few
    * probes reach the true neighbors; this corpus is uniform random, where
    * a query's 5-NN are barely closer than the bulk, so the registry runs
    * probes=16 — measured recall 1.0 vs brute force at sf0.001, sf0.01 AND
    * sf0.1 (TuneIvfSf01), still reading only probes·tables inverted lists
    * per query.
    *
    * At 100 TB the corpus assignment is the partition key of the stored
    * index (one cell = one partition bucket) and only probes·tables cells
    * are ever read per query — the scan never touches the full corpus.
    */
  def ivfTopK(corpus: DataFrame, queries: DataFrame, k: Int,
              kCentroids: Int = 64, tables: Int = 12, probes: Int = 16,
              iters: Int = 8, sampleN: Int = 1024,
              idCol: String = "vec_id",
              vecCol: String = "embedding"): DataFrame =
    rankTopK(ivfScored(corpus, queries, kCentroids, tables, probes, iters,
      sampleN, idCol, vecCol), k)

  /** The IVF-pruned exactly-scored candidate relation ivfTopK ranks:
    * multi-table k-means cells, query probes joined to single-probe corpus
    * assignments, candidates scored by true cosine. Shared so variants can
    * filter the score BEFORE the bounded rank (hard-negative mining). */
  private def ivfScored(corpus: DataFrame, queries: DataFrame,
                        kCentroids: Int, tables: Int, probes: Int,
                        iters: Int, sampleN: Int,
                        idCol: String, vecCol: String): DataFrame = {
    val cents = trainIvfCentroids(corpus, kCentroids, tables, iters, sampleN,
      idCol, vecCol)
    val c = ivfAssignments(corpus, cents, probes = 1, idCol, vecCol)
      .toDF("neighbor_id", "tbl", "centroid")
    val q = ivfAssignments(queries, cents, probes, idCol, vecCol)
      .toDF("query_id", "tbl", "centroid")
    val cand = c.join(broadcast(q), Seq("tbl", "centroid"))
      .filter(col("query_id") =!= col("neighbor_id"))
      .select("query_id", "neighbor_id").distinct()
    val qv = queries.select(col(idCol).cast("long").as("query_id"),
      col(vecCol).as("qv"))
    val cv = corpus.select(col(idCol).cast("long").as("neighbor_id"),
      col(vecCol).as("cv"))
    cand.join(broadcast(qv), "query_id").join(cv, "neighbor_id")
      .select(col("query_id"), col("neighbor_id"),
        cosine(col("qv"), col("cv")).as("score"))
  }

  /** Contrastive hard-negative mining: per query, the top-k HIGHEST-cosine
    * neighbors STRICTLY BELOW the near-duplicate threshold `tau`. An
    * embedding-model trainer pairs each anchor with these — high-similarity
    * non-duplicates teach the margin, while true near-dups at cos ≥ τ are
    * positives (the q42 relation), not negatives, and must not occupy
    * slots. The τ exclusion therefore applies BEFORE the rank, so each
    * excluded near-dup frees its slot for the next-deeper candidate —
    * filter-then-top-k, not top-k-then-filter. Runs on the IVF-pruned
    * exactly-scored candidates (the q52 machinery): hard negatives sit
    * just below the near-dup band, i.e. in the same probed cells as the
    * top neighbors, so a probe budget that recalls top-(k + #near-dups)
    * ranks recalls the top-k below τ (LlmOpsSpec pins equality with the
    * brute-force form at registry parameters). 100 TB: candidate volume is
    * the q52 bound; the filter only shrinks what reaches the rank. */
  def hardNegatives(corpus: DataFrame, queries: DataFrame, k: Int,
                    tau: Double, kCentroids: Int = 64, tables: Int = 12,
                    probes: Int = 16, iters: Int = 8, sampleN: Int = 1024,
                    idCol: String = "vec_id",
                    vecCol: String = "embedding"): DataFrame =
    rankTopK(ivfScored(corpus, queries, kCentroids, tables, probes, iters,
        sampleN, idCol, vecCol)
      .filter(col("score") < lit(tau)), k)

  /** Exact twin of [[hardNegatives]] (brute-force scan, same τ-then-rank
    * order) — the spec's equality anchor, and the small-corpus form. */
  def hardNegativesExact(corpus: DataFrame, queries: DataFrame, k: Int,
                         tau: Double, idCol: String = "vec_id",
                         vecCol: String = "embedding"): DataFrame = {
    val q = queries.select(col(idCol).as("query_id"), col(vecCol).as("qv"))
    val c = corpus.select(col(idCol).as("neighbor_id"), col(vecCol).as("cv"))
    rankTopK(
      c.join(broadcast(q), col("query_id") =!= col("neighbor_id"))
        .withColumn("score", cosine(col("qv"), col("cv")))
        .filter(col("score") < lit(tau)), k)
      .select("query_id", "neighbor_id", "score", "rnk")
  }

  /** ANN recall evaluation — the tuning instrument behind every "recall
    * 1.0 at registry parameters" claim in this file: per-query recall of a
    * `candidate` top-k relation against a `truth` relation (both any
    * (query_id, neighbor_id) frame — brute vs IVF, IVF vs stored, exact vs
    * PQ-refined). recall = |candidate ∩ truth| / |truth|, one division of
    * exact integers; queries absent from `candidate` surface as recall 0,
    * not as missing rows — an ANN path that silently drops a query must
    * show up as a zero, never as a shorter report.
    *
    * 100 TB posture: both inputs are top-k bounded (|Q|·k rows), so every
    * join side is tiny relative to the corpus that produced them; the
    * semi join on (query, neighbor) never touches vectors.
    */
  def annRecall(candidate: DataFrame, truth: DataFrame): DataFrame = {
    val t = truth.select(col("query_id"), col("neighbor_id"))
    val c = candidate.select(col("query_id"), col("neighbor_id"))
    val hits = t.join(c, Seq("query_id", "neighbor_id"), "left_semi")
      .groupBy("query_id").agg(count(lit(1)).as("n_hit"))
    t.groupBy("query_id").agg(count(lit(1)).as("n_truth"))
      .join(hits, Seq("query_id"), "left")
      .withColumn("n_hit", coalesce(col("n_hit"), lit(0L)))
      .withColumn("recall",
        col("n_hit").cast("double") / col("n_truth"))
  }

  /** Read a stored index's quantizers back as the in-memory
    * tables×k×dim array (bounded by construction — centroid counts are
    * index parameters, never corpus-sized). `private[graft]`: the
    * streaming embedding dedup reads its frozen quantizers through the
    * same reconstruction. */
  private[graft] def readCentroids(spark: org.apache.spark.sql.SparkSession,
                                   path: String): Array[Array[Array[Float]]] = {
    val centRows = spark.read.parquet(s"$path/centroids")
      .select("tbl", "centroid", "cvec")
      .collect()
      .map(r => (r.getInt(0), r.getInt(1), r.getSeq[Float](2).toArray))
    val tables = centRows.map(_._1).max + 1
    Array.tabulate(tables) { t =>
      centRows.filter(_._1 == t).sortBy(_._2).map(_._3)
    }
  }

  /** One-pass posting rows for the COMPRESSED index: each corpus vector is
    * assigned its nearest cell per table AND PQ-encoded in the same scan
    * (both codebooks ride one broadcast) — (id, codes, tbl, centroid). */
  private def ivfPqPostingRows(corpus: DataFrame,
                               cents: Array[Array[Array[Float]]],
                               books: Array[Array[Array[Float]]],
                               idCol: String, vecCol: String): DataFrame = {
    val spark = corpus.sparkSession
    import spark.implicits._
    val bcC = spark.sparkContext.broadcast(cents)
    val bcB = spark.sparkContext.broadcast(books)
    corpus
      .select(col(idCol).cast("long"), col(vecCol))
      .as[(Long, Array[Float])]
      .mapPartitions { rows =>
        val cs = bcC.value
        val bs = bcB.value
        rows.flatMap { case (id, v) =>
          val codes = pqEncodeVector(v, bs)
          cs.indices.iterator.map(t => (id, codes, t, nearestCell(cs(t), v)))
        }
      }
      .toDF("id", "codes", "tbl", "centroid")
  }

  /** Persist the COMPRESSED inverted-file index — the FAISS-style IVF+PQ
    * layout, composed from the repo's two ANN building blocks: postings
    * store `m` PQ codes per vector instead of the full vector (16 B vs
    * 256 B at the defaults — the storage term that makes a 100 TB embedding
    * store hold its index in a fraction of the corpus size), PARTITIONED BY
    * (tbl, centroid) so a search lists only probed cells. `path/centroids`
    * and `path/codebooks` hold the two bounded quantizer families; all
    * three artifacts are built under one tmp root and swap together under
    * [[graft.sinks.Sinks.replaceDir]] (codes are meaningless under
    * different codebooks, and two independent overwrites would let a
    * crash or a concurrent reader pair new quantizers with old cells).
    * The index is built whole: both quantizer families train on `corpus`,
    * and a changed corpus means a new index.
    */
  def writeIvfPqIndex(corpus: DataFrame, path: String,
                      kCentroids: Int = 64, tables: Int = 12,
                      m: Int = 16, kCodes: Int = 32,
                      iters: Int = 8, sampleN: Int = 1024,
                      idCol: String = "vec_id",
                      vecCol: String = "embedding"): Unit = {
    val spark = corpus.sparkSession
    val cents = trainIvfCentroids(corpus, kCentroids, tables, iters,
      sampleN, idCol, vecCol)
    val books = trainPqCodebooks(corpus, m, kCodes, iters, sampleN,
      idCol, vecCol)
    graft.sinks.Sinks.replaceDir(spark, path) { tmp =>
      val centRows = for {
        t <- cents.indices; c <- cents(t).indices
      } yield (t, c, cents(t)(c))
      spark.createDataFrame(centRows).toDF("tbl", "centroid", "cvec")
        .repartition(1).write.parquet(s"$tmp/centroids")
      val bookRows = for {
        j <- books.indices; c <- books(j).indices
      } yield (j, c, books(j)(c))
      spark.createDataFrame(bookRows).toDF("sub", "code", "cw")
        .repartition(1).write.parquet(s"$tmp/codebooks")
      // one file per (tbl, centroid) dir: without the shuffle every write
      // task emits a sliver into every partition dir (cells × tasks small
      // files — measured 4× slower to write AND to search)
      ivfPqPostingRows(corpus, cents, books, idCol, vecCol)
        .repartition(col("tbl"), col("centroid"))
        .write.partitionBy("tbl", "centroid")
        .parquet(s"$tmp/postings")
    }
  }

  /** Read a stored index's PQ codebooks back as the m×k×sub array
    * (bounded by construction — codebook sizes are index parameters). */
  private def readCodebooks(spark: org.apache.spark.sql.SparkSession,
                            path: String): Array[Array[Array[Float]]] = {
    val bookRows = spark.read.parquet(s"$path/codebooks")
      .select("sub", "code", "cw").collect()
      .map(r => (r.getInt(0), r.getInt(1), r.getSeq[Float](2).toArray))
    val m = bookRows.map(_._1).max + 1
    Array.tabulate(m)(j => bookRows.filter(_._1 == j).sortBy(_._2).map(_._3))
  }

  /** Search the compressed index: queries probe their `probes` nearest
    * cells per table (dynamic partition pruning reads only those posting
    * dirs), candidates are ADC-scored against the stored PQ codes via
    * broadcast per-query lookup tables, the best `refine` per query are
    * exactly re-ranked with full vectors fetched FROM THE CORPUS TABLE by
    * id — the index itself never stores a full vector, so the only
    * full-precision reads are `refine · |queries|` point lookups. Recall
    * composes the two measured guarantees: the probed cells contain the
    * true top-k (TuneIvfSf01) and the true top-k sit within the ADC
    * refine bound (TunePq — ranks only improve when restricted to the
    * probed subset), so at registry parameters the output equals brute
    * force (LlmOpsSpec pins it; q72 shares the q32 oracle).
    */
  def searchIvfPqIndex(spark: org.apache.spark.sql.SparkSession,
                       path: String, queries: DataFrame, corpus: DataFrame,
                       k: Int, probes: Int = 16, refine: Int = 160,
                       idCol: String = "vec_id",
                       vecCol: String = "embedding"): DataFrame = {
    import spark.implicits._
    val cents = readCentroids(spark, path)
    val books = readCodebooks(spark, path)
    val m = books.length
    val qAsg = ivfAssignments(queries, cents, probes, idCol, vecCol)
      .toDF("query_id", "tbl", "centroid")
    val lutRows = queries
      .select(col(idCol).cast("long"), col(vecCol)).as[(Long, Array[Float])]
      .collect().toSeq
      .map { case (qid, qv) => (qid, pqQueryLut(qv, books).map(_.toSeq).toSeq) }
    val lutDf = lutRows.toDF("query_id", "lut")
    val postings = spark.read.parquet(s"$path/postings")
      .select(col("id").as("neighbor_id"), col("codes"),
        col("tbl"), col("centroid"))
    val adc = postings.join(broadcast(qAsg), Seq("tbl", "centroid"))
      .filter(col("query_id") =!= col("neighbor_id"))
      .join(broadcast(lutDf), "query_id")
      .withColumn("adc", aggregate(sequence(lit(0), lit(m - 1)), lit(0.0),
        (acc, j) => acc +
          element_at(element_at(col("lut"), j + 1),
            element_at(col("codes"), j + 1) + 1)))
      .select("query_id", "neighbor_id", "adc")
    // bounded top-K aggregate, not a rank window: post-pruning the ADC set
    // is probes·tables posting lists per query, but a hot probed cell still
    // lands one query's whole candidate set in one window partition —
    // O(refine) aggregate state instead (same equality contract as pqTopK).
    // The same pair arriving from several colliding tables carries the
    // same codes → the same adc: distinctPayloads collapses it INSIDE the
    // aggregation, deleting the `.distinct()` exchange this path used to
    // pay over the full ADC set before refining.
    val cand = boundedTopIds(adc, "adc", refine, distinctPayloads = true)
    val qv = queries.select(col(idCol).cast("long").as("query_id"),
      col(vecCol).as("qv"))
    val cv = corpus.select(col(idCol).cast("long").as("neighbor_id"),
      col(vecCol).as("cv"))
    rankTopK(
      cand.join(broadcast(qv), "query_id").join(cv, "neighbor_id")
        .select(col("query_id"), col("neighbor_id"),
          cosine(col("qv"), col("cv")).as("score")), k)
  }

  /** Approximate top-k: corpus pre-bucketed by random-hyperplane LSH (the
    * IVF-style inverted-list layout — at scale this is the partition key of
    * the stored index); each query probes only its own bucket across
    * `tables` independent hash tables, then exact-rank within candidates.
    * Recall is tunable via (nPlanes, tables).
    */
  def lshTopK(corpus: DataFrame, queries: DataFrame, k: Int,
              nPlanes: Int = 8, tables: Int = 4,
              idCol: String = "vec_id",
              vecCol: String = "embedding", dim: Int = 64): DataFrame = {
    val c = bandedBuckets(corpus, tables, nPlanes, idCol, vecCol, dim,
      "neighbor_id", "cv")
    val q = bandedBuckets(queries, tables, nPlanes, idCol, vecCol, dim,
      "query_id", "qv")
    rankTopK(
      c.join(broadcast(q), Seq("tbl", "bucket"))
        .filter(col("query_id") =!= col("neighbor_id"))
        .select(col("query_id"), col("neighbor_id"),
          cosine(col("qv"), col("cv")).as("score"))
        .distinct(), k)
  }
}
