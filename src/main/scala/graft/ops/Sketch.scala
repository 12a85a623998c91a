package graft.ops

import org.apache.spark.sql.{Column, DataFrame, Encoder, Encoders}
import org.apache.spark.sql.expressions.Aggregator
import org.apache.spark.sql.functions._

import graft.llm.TextAnalysis

/** Mergeable sketches, built deterministic-first: every hash is the
  * portable mod-2^57 rolling fingerprint (the q37 hash family with a SQL
  * twin), every counter/register is exact integer arithmetic, so the
  * sketch CONTENTS — not just the estimates — are bit-identical across
  * engines, partitionings, and merge orders, and a DuckDB oracle can
  * hash-check them. That is the whole design point: classic sketch
  * libraries hash with engine-private functions and sum floats, which
  * makes their output unverifiable-by-twin; these rebuild the same
  * structures on verifiable primitives.
  *
  * Both sketches are MERGEABLE by construction (counters add; registers
  * max), which is what makes them 100 TB operators: each partition
  * builds its bounded sketch map-side and the shuffle moves d·w counters
  * or m registers, never the corpus.
  */
object Sketch {

  /** The 57-bit hash domain shared with the fingerprint family. */
  val MixMod: Long = 1L << 57
  /** Odd multipliers (the splitmix64 constants truncated into the 57-bit
    * ring) — masking with 2^57−1 equals unsigned mod 2^57. */
  val MixK1: Long = (0xBF58476D1CE4E5B9L & (MixMod - 1)) | 1L
  val MixK2: Long = (0x94D049BB133111EBL & (MixMod - 1)) | 1L

  /** 57-bit finalizer avalanche over the polynomial fingerprint: three
    * xor-shifts interleaved with two modular multiplications, every step
    * exact integer arithmetic, so both engines compute the identical
    * mixed value. WHY it exists: the rolling fingerprint's LOW bits wrap
    * constantly and distribute well (the bucketing every dedup family
    * uses), but for short strings its HIGH bits barely wrap and stay
    * structured — a leading-zero rank read from them is garbage
    * (measured: raw-fp HLL estimates 5,000 distinct users as ~294;
    * mixed, ~5,075). Any sketch reading rank bits MUST go through this.
    *
    * Implemented as ONE native expression
    * ([[graft.functions.Avalanche57]]): any Column-DSL form of the
    * modular multiply references its input more than once, so the
    * composed tree grows exponentially through the five stages and
    * consumers like the HLL rank chain duplicate it 52-fold — measured
    * 6-15× query-level planning/codegen blowups. The native node keeps
    * the tree linear and the per-row cost five long ops; the value is
    * the exact `mod 2^57` chain the oracle twin ([[mixStagesSql]],
    * HUGEINT `%`) computes, pinned against a BigInteger reference in
    * OperatorSpec.
    */
  def mix57(x0: Column): Column =
    graft.functions.StringFunctions.avalanche57(x0, MixK1, MixK2)

  /** The oracle twin of one [[mix57]] stage sequence, as successive
    * expression rewrites over a column named `e` — returned as the list
    * of per-stage SQL expressions so generated oracles can stage them
    * through CTEs instead of exploding the tree 8-fold. */
  def mixStagesSql(e: String): Seq[String] = Seq(
    s"xor($e, ($e) >> 29)",
    s"CAST((CAST($e AS HUGEINT) * $MixK1) % $MixMod AS BIGINT)",
    s"xor($e, ($e) >> 29)",
    s"CAST((CAST($e AS HUGEINT) * $MixK2) % $MixMod AS BIGINT)",
    s"xor($e, ($e) >> 29)")

  private def salted(value: Column, salt: String): Column =
    mix57(TextAnalysis.fingerprint(concat(value.cast("string"), lit(salt))))

  /** The count-min bucket of `value` in hash row `j` of a `w`-wide
    * sketch — the one rule the one-shot sketch, the join-size preflight,
    * the epoch store and its probe all hash by (counters built one way
    * and probed another would answer garbage). */
  private def cmsBucket(value: Column, j: Int, w: Int): Column =
    pmod(salted(value, s"|cms$j"), lit(w.toLong))

  /** Count-min sketch, built AND probed: `d` salted hash rows × `w`
    * counters over the exact per-item counts, then every distinct item
    * probed back — est = min over rows of its counter. The output
    * carries the true count next to the estimate because the defining
    * guarantee (`est ≥ true`, with equality unless the item collides in
    * every row) is what the oracle and the spec check.
    *
    * At 100 TB the build is the map-side-combined aggregate of the raw
    * stream into d·w bounded cells (the exact per-item count here is the
    * verification baseline — the thing the sketch exists to replace);
    * the probe joins bounded relations only.
    */
  def countMinEstimates(items: DataFrame, valueCol: String = "item",
                        d: Int = 4, w: Int = 64): DataFrame = {
    require(d >= 1 && w >= 1, s"d and w must be positive: d=$d w=$w")
    val cnt = items.groupBy(col(valueCol))
      .agg(count(lit(1)).as("true_cnt"))
    val hashed = cnt.select(
      col(valueCol) +: col("true_cnt") +:
        (0 until d).map(j =>
          cmsBucket(col(valueCol), j, w).as(s"__h$j")): _*)
    val counters = (0 until d).map { j =>
      hashed.groupBy(col(s"__h$j").as("bucket"))
        .agg(sum("true_cnt").as("counter"))
        .select(lit(j).as("row_j"), col("bucket"), col("counter"))
    }.reduce(_ unionByName _)
    val probes = (0 until d).map { j =>
      hashed.select(col(valueCol), col("true_cnt"),
        lit(j).as("row_j"), col(s"__h$j").as("bucket"))
    }.reduce(_ unionByName _)
    probes.join(counters, Seq("row_j", "bucket"))
      .groupBy(col(valueCol), col("true_cnt"))
      .agg(min("counter").as("est_cnt"))
  }

  /** Count-min join-cardinality preflight: estimate `|A ⋈ B on key|`
    * WITHOUT joining the keys — as `min over rows j of
    * Σ_bucket cmA[j][b] · cmB[j][b]`, the classic sketch inner product.
    * Each row's product expands to `Σ_{h_j(x)=h_j(y)} a_x·b_y ⊇
    * Σ_k a_k·b_k`, so every row over-counts (collisions only ADD mass)
    * and the min is a one-sided upper estimate, exactly the count-min
    * point guarantee lifted to join size. The q218 preflight computes
    * the true `Σ_k a_k·b_k` by joining the per-key count relations —
    * correct, but it shuffles every distinct key; here each side folds
    * into d·w counters MAP-SIDE and the estimate is a d·w-row join,
    * which is the whole point at 100 TB (products and sums run in
    * DECIMAL(38,0): bucket counters are corpus-sized, so their products
    * overflow a BIGINT long before any real corpus does). The exact
    * value rides along as the audit column, like [[countMinEstimates]]'
    * `true_cnt`.
    *
    * Output: one row (d, w, est_rows, exact_rows), est_rows ≥ exact_rows.
    */
  def countMinJoinSize(a: DataFrame, b: DataFrame,
                       valueCol: String = "item",
                       d: Int = 4, w: Int = 64): DataFrame = {
    require(d >= 1 && w >= 1, s"d and w must be positive: d=$d w=$w")
    def counters(items: DataFrame, as: String) =
      cmsCounterSlab(items, valueCol, d, w).withColumnRenamed("counter", as)
    // every hash row contributes to the min — a row where A's and B's
    // occupied buckets are DISJOINT has true inner product 0 (the
    // tightest bound of all), so missing rows must come back as 0 via
    // the row spine, not drop out of the min (dropping them inflates
    // the estimate, and with ALL rows disjoint the min of nothing is
    // NULL — the r14 review catch; the oracle fixes the same gap)
    val spine = a.sparkSession.range(d)
      .select(col("id").cast("int").as("row_j"))
    val ip = spine.join(
        counters(a, "__ca").join(counters(b, "__cb"),
            Seq("row_j", "bucket"))
          .groupBy(col("row_j"))
          .agg(sum(col("__ca").cast("decimal(38,0)") * col("__cb"))
            .as("__p0")),
        Seq("row_j"), "left")
      .select(coalesce(col("__p0"), lit(0L).cast("decimal(38,0)"))
        .as("__p"))
      .agg(min(col("__p")).as("__est"))
    val exact = a.groupBy(col(valueCol)).agg(count(lit(1)).as("__a"))
      .join(b.groupBy(col(valueCol)).agg(count(lit(1)).as("__b")),
        Seq(valueCol))
      .agg(coalesce(sum(col("__a").cast("decimal(38,0)") * col("__b")),
        lit(0L)).as("__ex"))
    // the decimal sums exist because counters are corpus-sized — so the
    // final LONG cast must clamp, not wrap: non-ANSI Spark casts decimal
    // overflow to NULL, and a NULL est_rows would let `est < threshold`
    // wave through exactly the join this preflight exists to block.
    // Long.MaxValue reads as "beyond any runnable join", bound preserved
    val MaxL = Long.MaxValue
    ip.crossJoin(exact)
      .select(lit(d.toLong).as("d"), lit(w.toLong).as("w"),
        least(col("__est"), lit(MaxL).cast("decimal(38,0)"))
          .cast("long").as("est_rows"),
        least(col("__ex"), lit(MaxL).cast("decimal(38,0)"))
          .cast("long").as("exact_rows"))
  }

  // ---------------------------------------------------------------------
  // Count-min EPOCH STORE: the persisted, mergeable form of
  // [[countMinEstimates]] — one d·w counter slab per epoch, merged over
  // any epoch span by per-(row, bucket) SUM. The CMS is the ADD-merge
  // family's frequency-ESTIMATE member (the MG top-freq store answers
  // "what is hot" with ≤ k rows; this answers "how often is THIS item"
  // for any probe, d·w rows per epoch): counter addition is exactly
  // re-counting, so a span merge is bit-identical to one-shot sketching
  // everything the epochs saw. The layout pins d and w (`cmsd=`,
  // `cmsw=` — counters from different geometries sum garbage). ADD is
  // not idempotent, so the store shares the top-freq replay class
  // ([[SelfOverwritingAdd]]).
  // ---------------------------------------------------------------------

  /** One epoch's (row_j, bucket, counter) slab — the counters half of
    * [[countMinEstimates]], also each side of [[countMinJoinSize]].
    * ONE input pass: all d bucket columns come off a single per-key
    * count, unpivoted map-side into (row_j, bucket, __c) rows and folded
    * by key — the r14 ADVICE fix (d unioned groupBys each re-ran the
    * per-key aggregate from the raw items, ~d+1 full input passes at the
    * documented d=4). The d·|keys| unpivot rows exist only map-side of
    * one combine-enabled shuffle. Buckets with no mass are absent: a
    * missing (row, bucket) is zero, and zeros add nothing under the span
    * merge. */
  private[graft] def cmsCounterSlab(items: DataFrame, valueCol: String,
                                    d: Int, w: Int): DataFrame = {
    require(d >= 1 && w >= 1, s"d and w must be positive: d=$d w=$w")
    val cnt = items.groupBy(col(valueCol))
      .agg(count(lit(1)).as("__c"))
    val pairs = (0 until d).map(j => struct(lit(j).as("row_j"),
      cmsBucket(col(valueCol), j, w).as("bucket")))
    cnt.select(explode(array(pairs: _*)).as("rb"), col("__c"))
      .groupBy(col("rb.row_j").as("row_j"), col("rb.bucket").as("bucket"))
      .agg(sum("__c").as("counter"))
  }

  private val CmsStore = StoreFamily("CMS", Seq("cmsd", "cmsw"),
    "row_j INT, bucket BIGINT, counter BIGINT, epoch BIGINT",
    _.groupBy(col("row_j"), col("bucket"))
      .agg(sum(col("counter")).as("counter")),
    SelfOverwritingAdd)

  /** Create/replace a CMS store at `path` with one epoch. */
  def writeCmsStore(items: DataFrame, path: String, epoch: Long,
                    valueCol: String = "item", d: Int = 4,
                    w: Int = 64): Unit =
    createStore(CmsStore, cmsCounterSlab(items, valueCol, d, w), path,
      epoch, d, w)

  /** Append one epoch's counter slab (its own partition, rewritten by a
    * replay); fails loud on a geometry mismatch. */
  def appendCmsStore(items: DataFrame, path: String, epoch: Long,
                     valueCol: String = "item", d: Int = 4,
                     w: Int = 64): Unit =
    appendStore(CmsStore, cmsCounterSlab(items, valueCol, d, w), path,
      epoch, d, w)

  /** Probe `probes`' distinct values against the merged span: est = min
    * over hash rows of the summed counter — bit-identical to
    * [[countMinEstimates]] run one-shot over everything the span's
    * epochs saw (counter addition is exactly re-counting), which is the
    * store's oracle-checkable identity (q245). Output (item, est_cnt);
    * items the span never saw may still report collision mass — the CMS
    * one-sided guarantee, est ≥ true, unchanged by the merge.
    *
    * The probe LEFT-joins the counter cells and coalesces a missing
    * cell to 0 (the r17 review catch, the same gap
    * [[countMinJoinSize]]'s row spine closes): the store only persists
    * occupied cells, so an inner join would let an unseen probe whose
    * cells are partially empty report its colliding cell's mass — a
    * real CMS reads the empty cell as 0, the tightest bound — and an
    * unseen probe with NO occupied cell would vanish from the output
    * entirely instead of answering est 0. */
  def mergedCmsEstimates(spark: org.apache.spark.sql.SparkSession,
                         path: String, probes: DataFrame,
                         valueCol: String = "item",
                         epochFilter: Column = lit(true)): DataFrame = {
    val (kv, merged) = mergedStore(spark, path, CmsStore, epochFilter)
    val (d, w) = (kv("cmsd").toInt, kv("cmsw").toInt)
    val items = probes.select(col(valueCol)).distinct()
    val hashed = (0 until d).map(j =>
      items.select(col(valueCol), lit(j).as("row_j"),
        cmsBucket(col(valueCol), j, w).as("bucket")))
      .reduce(_ unionByName _)
    hashed.join(merged, Seq("row_j", "bucket"), "left")
      .groupBy(col(valueCol))
      .agg(min(coalesce(col("counter"), lit(0L))).as("est_cnt"))
  }

  /** HyperLogLog registers + estimate with NO floating-point anywhere
    * until the final two operations: the 57-bit fingerprint splits into
    * a bucket (`h mod m`) and a 51-bit remainder whose leading-zero rank
    * ρ ∈ [1, 52] is a generated integer-comparison chain (no log2);
    * registers are MAX(ρ) per bucket (0 where the bucket is empty —
    * the m-row spine is part of the relation); and the harmonic
    * denominator Σ 2^(−M_b) is carried as the EXACT integer
    * Σ 2^(52−M_b) (≤ m·2^52, fits a BIGINT). The estimate is then one
    * float multiply and one divide of exact integers —
    * `alpha · m² · 2^52 / harm_num` with alpha pinned at the 0.709
    * literal (the m = 64 constant) — so even the double is
    * bit-identical everywhere.
    *
    * Output: one row (m, n_exact, harm_num, n_zero, estimate).
    * `n_exact` is the verification baseline; `harm_num` is the
    * determinism anchor the oracle hash-checks even if a future engine
    * rounds the division differently; `n_zero` (empty registers, exact)
    * is the ingredient for the standard small-range linear-counting
    * correction `m·ln(m/V)` — emitted as data rather than applied,
    * because ln is a libm transcendental with no cross-engine
    * bit-equality guarantee and this operator's contract is
    * transcendental-free (the consumer applies it driver-side where
    * bit-stability doesn't matter).
    */
  def hllEstimate(items: DataFrame, valueCol: String = "item",
                  p: Int = 6): DataFrame = {
    val exact = items.agg(
      countDistinct(col(valueCol)).as("n_exact"))
    estimateFromRegisters(hllRegisters(items, valueCol, p), p)
      .crossJoin(exact)
      .select(col("m"), col("n_exact"), col("harm_num"), col("n_zero"),
        col("estimate"))
  }

  /** Grouped HLL — [[hllEstimate]] per group key, the q151 treatment
    * applied to distinct-counting: one (group, bucket) register relation
    * (bounded at groups × m rows however large the corpus), the
    * group-spine from the distinct groups so empty registers exist per
    * group, and the same transcendental-free exact-integer estimator.
    * The 100 TB shape for "UV per segment" dashboards where the exact
    * `countDistinct` per group (carried here as `n_exact` for
    * verification) becomes the dominant shuffle: registers cross the
    * wire, never user ids.
    */
  def groupedHllEstimate(items: DataFrame, groupCol: String,
                         valueCol: String = "item",
                         p: Int = 6): DataFrame = {
    require(p >= 2 && p <= 16, s"p must be in [2, 16]: $p")
    val m = 1L << p
    val spark = items.sparkSession
    val h = salted(col(valueCol), "|hll")
    val rem = shiftright(h, p)
    val bits = 57 - p
    val maxRank = bits + 1
    val rank = (1 to bits).foldRight(lit(bits + 1)) { (k, rest) =>
      when(rem >= lit(1L << (bits - k)), lit(k)).otherwise(rest)
    }
    val regs = items
      .select(col(groupCol), pmod(h, lit(m)).as("bucket"), rank.as("__rho"))
      .groupBy(col(groupCol), col("bucket"))
      .agg(max(col("__rho")).as("__reg"))
    val spine = items.select(col(groupCol)).distinct()
      .crossJoin(spark.range(m).select(col("id").as("bucket")))
    val reg2 = spine.join(regs, Seq(groupCol, "bucket"), "left")
      .select(col(groupCol), col("bucket"),
        coalesce(col("__reg"), lit(0)).cast("int").as("register"))
    val exact = items.groupBy(col(groupCol))
      .agg(countDistinct(col(valueCol)).as("n_exact"))
    reg2.groupBy(col(groupCol))
      .agg(sum(expr(s"shiftleft(1L, $maxRank - register)")).as("harm_num"),
        sum(when(col("register") === 0, 1L).otherwise(0L)).as("n_zero"))
      .join(exact, Seq(groupCol))
      .select(col(groupCol), lit(m).as("m"), col("n_exact"),
        col("harm_num"), col("n_zero"),
        (lit(hllAlpha(m) * m.toDouble * m.toDouble *
          math.pow(2.0, maxRank)) / col("harm_num").cast("double"))
          .as("estimate"))
  }

  /** The full m-row HLL register relation for one batch of items:
    * (bucket ∈ [0, m), register = max rank, 0 where the bucket is empty —
    * the spine is part of the relation so two register relations merge by
    * a plain bucket-key MAX with no outer-join fiddling).
    */
  def hllRegisters(items: DataFrame, valueCol: String = "item",
                   p: Int = 6): DataFrame = {
    require(p >= 2 && p <= 16, s"p must be in [2, 16]: $p")
    val m = 1L << p
    val spark = items.sparkSession
    val h = salted(col(valueCol), "|hll")
    // h is non-negative and m = 2^p, so the bucket-stripping division is
    // an exact right shift — Column.divide would route through doubles,
    // and h spans [0, 2^57), past the 53-bit exact-double range.
    val rem = shiftright(h, p) // in [0, 2^(57-p))
    val bits = 57 - p
    // rank = leading zeros of the bits-wide remainder + 1, as a pure
    // comparison chain (rank k ⇔ rem ∈ [2^(bits-k), 2^(bits-k+1)))
    val rank = (1 to bits).foldRight(lit(bits + 1)) { (k, rest) =>
      when(rem >= lit(1L << (bits - k)), lit(k)).otherwise(rest)
    }
    val regs = items
      .select(pmod(h, lit(m)).as("bucket"), rank.as("__rho"))
      .groupBy(col("bucket")).agg(max(col("__rho")).as("__reg"))
    val spine = spark.range(m).select(col("id").as("bucket"))
    spine.join(regs, Seq("bucket"), "left")
      .select(col("bucket"),
        coalesce(col("__reg"), lit(0)).cast("int").as("register"))
  }

  /** HLL set algebra (q177): estimate |A ∩ B| by inclusion–exclusion
    * over three register relations — A's, B's, and their bucket-wise
    * MAX union (the union of two HLL sketches IS the register max; there
    * is no register-level intersection, which is why the estimate
    * subtracts). Every harmonic numerator is
    * the exact integer the q140 estimator carries, the three estimates
    * are single divisions by the folded constant, and the intersection
    * is `(est_a + est_b) − est_u` in that fixed association — so even
    * the derived float is bit-identical across engines. Exact
    * |A|, |B|, |A ∩ B| ride along as the verification baseline.
    *
    * Output: one row (m, n_a, n_b, n_ab_exact, harm_a, harm_b, harm_u,
    * est_intersect).
    */
  def hllIntersection(a: DataFrame, b: DataFrame,
                      valueCol: String = "item", p: Int = 6): DataFrame = {
    val m = 1L << p
    val maxRank = 57 - p + 1
    val c = hllAlpha(m) * m.toDouble * m.toDouble * math.pow(2.0, maxRank)
    val ra = hllRegisters(a, valueCol, p).localCheckpoint()
    val rb = hllRegisters(b, valueCol, p).localCheckpoint()
    val ru = ra.unionByName(rb)
      .groupBy(col("bucket")).agg(max(col("register")).as("register"))
    def harm(r: DataFrame, as: String) =
      r.agg(sum(expr(s"shiftleft(1L, $maxRank - register)")).as(as))
    val da = a.select(col(valueCol).as("__v")).distinct()
    val db = b.select(col(valueCol).as("__v")).distinct()
    val exact = da.agg(count(lit(1)).as("n_a"))
      .crossJoin(db.agg(count(lit(1)).as("n_b")))
      .crossJoin(da.join(db, Seq("__v"), "left_semi")
        .agg(count(lit(1)).as("n_ab_exact")))
    def est(h: org.apache.spark.sql.Column) = lit(c) / h.cast("double")
    harm(ra, "harm_a").crossJoin(harm(rb, "harm_b"))
      .crossJoin(harm(ru, "harm_u"))
      .crossJoin(exact)
      .select(lit(m).as("m"), col("n_a"), col("n_b"), col("n_ab_exact"),
        col("harm_a"), col("harm_b"), col("harm_u"),
        ((est(col("harm_a")) + est(col("harm_b"))) -
          est(col("harm_u"))).as("est_intersect"))
  }

  /** One-row (m, harm_num, n_zero, estimate) from an m-row register
    * relation — [[hllEstimate]]'s estimator stage. */
  def estimateFromRegisters(registers: DataFrame, p: Int): DataFrame = {
    val m = 1L << p
    // Σ 2^(maxRank − register), maxRank = bits + 1, exact in a BIGINT
    val maxRank = 57 - p + 1
    registers.agg(
        sum(expr(s"shiftleft(1L, $maxRank - register)")).as("harm_num"),
        sum(when(col("register") === 0, 1L).otherwise(0L)).as("n_zero"))
      .select(lit(m).as("m"), col("harm_num"), col("n_zero"),
        (lit(hllAlpha(m) * m.toDouble * m.toDouble *
          math.pow(2.0, maxRank)) / col("harm_num").cast("double"))
          .as("estimate"))
  }

  // ---------------------------------------------------------------------
  // The epoch-store protocol. Three store families persist one mergeable
  // sketch slab per epoch (a day, a micro-batch): bloom words, CMS
  // counters and MG (top-freq) summaries. A store is a parquet dir of
  // per-epoch rows plus a `_graft_layout` record pinning what the rows
  // cannot say (geometry, summary width). Each family is a
  // [[StoreFamily]] descriptor kept next to its slab builder and
  // post-merge read; create, append, merged read and the runners'
  // create-or-append test ([[storeExists]]) live here once, with the
  // replay rule chosen by the family's [[ReplayClass]]. Stores are never compacted: state grows
  // by one bounded slab per epoch, the posture of the reference's
  // per-day HBase state (`ActionLogJobSecond.java:359-376`).
  // ---------------------------------------------------------------------

  /** How a family survives an at-least-once replay of an epoch — the
    * snapshot / replay / idempotent-sink model of "State Management in
    * Apache Flink" (VLDB 2017). */
  private[graft] sealed trait ReplayClass

  /** Bloom OR: a replayed slab merges to the same sketch, so an epoch
    * is a plain append. */
  private[graft] case object Idempotent extends ReplayClass

  /** CMS and MG counters ADD, made replay-safe by the write layout: each
    * epoch is its own `epoch=<id>` partition, appended by dynamic
    * overwrite, so a re-delivered batch rewrites its own dir (read-side
    * dedup is no alternative: MG summaries are not bit-reproducible
    * across runs). */
  private[graft] case object SelfOverwritingAdd extends ReplayClass

  /** One store family. `keys` are its layout keys in record order; the
    * exact key set is the family's identity, so a reader pointed at a
    * foreign store fails loud ([[readStoreLayout]]). `rowDdl` is the
    * per-epoch row schema. `merge` merges any set of epoch rows into one
    * slab without the epoch column: the merged read. */
  private[graft] final case class StoreFamily(
      name: String, keys: Seq[String], rowDdl: String,
      merge: DataFrame => DataFrame, replay: ReplayClass)

  private def layoutFile(spark: org.apache.spark.sql.SparkSession,
                         path: String) = {
    val p = new org.apache.hadoop.fs.Path(path, "_graft_layout")
    (p.getFileSystem(spark.sparkContext.hadoopConfiguration), p)
  }

  /** The `_graft_layout` record of the dir at `path`, if it has one. */
  private def readLayoutRecord(spark: org.apache.spark.sql.SparkSession,
                               path: String): Option[String] = {
    val (fs, lp) = layoutFile(spark, path)
    if (!fs.exists(lp)) None
    else {
      val in = fs.open(lp)
      try Some(new String(in.readAllBytes(),
        java.nio.charset.StandardCharsets.UTF_8).trim)
      finally in.close()
    }
  }

  /** Write `line` as the `_graft_layout` record of the dir at `path` —
    * after the rows, since an overwrite write replaces the dir. */
  private def writeLayoutRecord(spark: org.apache.spark.sql.SparkSession,
                                path: String, line: String): Unit = {
    val (fs, lp) = layoutFile(spark, path)
    val out = fs.create(lp, true)
    try out.write((line + "\n")
      .getBytes(java.nio.charset.StandardCharsets.UTF_8))
    finally out.close()
  }

  private def parseLayout(recorded: String): Map[String, String] =
    recorded.split(",").map(_.split("=", 2)).collect {
      case Array(k, v) => k -> v
    }.toMap

  private def layoutLine(fam: StoreFamily, values: Seq[Any]): String =
    fam.keys.zip(values).map { case (k, v) => s"$k=$v" }.mkString(",")

  /** Store-row read that survives a FILELESS store dir (r17 review
    * fallout): families whose per-epoch relation is data-derived —
    * MG summaries (a uniform rotation legitimately decrements every
    * counter away), the CMS slab of an EMPTY first batch — can write
    * ZERO rows, and `partitionBy` of an empty frame creates a dir
    * holding only `_SUCCESS` + the layout record. A plain
    * `spark.read.parquet` then dies with UNABLE_TO_INFER_SCHEMA on a
    * store that is perfectly healthy, just empty. The fallback returns
    * an empty frame with the family's declared row schema, so merges
    * answer their empty relation and appends into the store work. */
  private def readStoreRows(spark: org.apache.spark.sql.SparkSession,
                            path: String,
                            emptySchemaDdl: String): DataFrame =
    try spark.read.parquet(path)
    catch {
      case e: org.apache.spark.sql.AnalysisException
        if e.getCondition == "UNABLE_TO_INFER_SCHEMA" =>
        spark.createDataFrame(
          new java.util.ArrayList[org.apache.spark.sql.Row](),
          org.apache.spark.sql.types.StructType.fromDDL(emptySchemaDdl))
    }

  /** THE layout-record reader: parses the record's `k1=v1,k2=v2` pairs
    * and validates the family's EXACT key set — key-set identity is what
    * distinguishes the families (`bits=,k=` bloom vs `cmsd=,cmsw=` CMS
    * vs `tfk=` top-freq), and the r14 KMV-reads-HLL bug showed the
    * drift risk is real — so any store pointed at the wrong family's
    * reader fails loud with the family name and the recorded text. */
  private def readStoreLayout(spark: org.apache.spark.sql.SparkSession,
                              path: String,
                              fam: StoreFamily): Map[String, String] = {
    val record = readLayoutRecord(spark, path)
    require(record.isDefined,
      s"${fam.name} store at $path has no layout record — only stores " +
        s"written by the family's write entry point are mergeable " +
        "(the layout cannot be recovered from rows)")
    val recorded = record.get
    val kv = parseLayout(recorded)
    val keys = fam.keys.toSet
    require(kv.keySet == keys,
      s"store at $path is not a ${fam.name} store (layout record " +
        s"'$recorded'; a ${fam.name} layout carries exactly " +
        s"${keys.toSeq.sorted.mkString("[", ",", "]")})")
    kv
  }

  /** Every store create/append calls this first: epoch ids are a
    * stream's batch ids or dates, never negative. Rejected at create
    * AND append so no entry point can write one. */
  private def requireEpochId(epoch: Long): Unit =
    require(epoch >= 0, s"epoch must be >= 0: $epoch")

  /** `slab` with the epoch column: first for the plain families, last
    * (then the `epoch=` partition key) for [[SelfOverwritingAdd]]. */
  private def withEpoch(fam: StoreFamily, slab: DataFrame,
                        epoch: Long): DataFrame =
    if (fam.replay == SelfOverwritingAdd)
      slab.withColumn("epoch", lit(epoch))
    else slab.select(lit(epoch).as("epoch") +: slab.columns.map(col): _*)

  private def writeEpoch(fam: StoreFamily, slab: DataFrame, path: String,
                         epoch: Long, create: Boolean): Unit = {
    val rows = withEpoch(fam, slab, epoch).write
    if (fam.replay != SelfOverwritingAdd)
      rows.mode(if (create) "overwrite" else "append").parquet(path)
    else {
      val parts = rows.mode("overwrite").partitionBy("epoch")
      (if (create) parts
       else parts.option("partitionOverwriteMode", "dynamic")).parquet(path)
    }
  }

  /** Create/replace a store at `path` holding one epoch's `slab`, with
    * the layout record `keys=layout` written after the rows. Epoch ids
    * are caller-assigned (a date, a batch id). */
  private[graft] def createStore(fam: StoreFamily, slab: => DataFrame,
                                 path: String, epoch: Long,
                                 layout: Any*): Unit = {
    requireEpochId(epoch)
    val s = slab
    writeEpoch(fam, s, path, epoch, create = true)
    writeLayoutRecord(s.sparkSession, path, layoutLine(fam, layout))
  }

  /** Append one epoch's `slab`. Fails loud when the store has no layout
    * record or was written with a different layout (mixed geometries or
    * summary widths silently merge garbage); the family's replay class
    * decides how a re-delivered epoch lands. */
  private[graft] def appendStore(fam: StoreFamily, slab: => DataFrame,
                                 path: String, epoch: Long,
                                 layout: Any*): Unit = {
    requireEpochId(epoch)
    val s = slab
    val kv = readStoreLayout(s.sparkSession, path, fam)
    val (recorded, requested) = (layoutLine(fam, fam.keys.map(kv)),
      layoutLine(fam, layout))
    require(recorded == requested,
      s"${fam.name} store at $path was written with ($recorded), append " +
        s"requested ($requested) — rebuild the store, mixed layouts " +
        "cannot merge")
    writeEpoch(fam, s, path, epoch, create = false)
  }

  /** A store's layout and its merged slab over the epochs `epochFilter`
    * keeps (all by default): the family's merge over the filtered rows.
    * Reads bounded slabs, never a corpus. */
  private[graft] def mergedStore(spark: org.apache.spark.sql.SparkSession,
                                 path: String, fam: StoreFamily,
                                 epochFilter: Column)
  : (Map[String, String], DataFrame) = {
    val kv = readStoreLayout(spark, path, fam)
    val rows = readStoreRows(spark, path, fam.rowDdl)
    (kv, fam.merge(rows.filter(epochFilter)))
  }

  /** Whether a store (with its layout record) exists at `path` — the
    * create-vs-append decision of the streaming runners. The layout
    * filename is shared by every family, so this answers for all. */
  def storeExists(spark: org.apache.spark.sql.SparkSession,
                  path: String): Boolean =
    readLayoutRecord(spark, path).isDefined

  // ---------------------------------------------------------------------
  // Bloom filter: the OR-mergeable sketch, completing the merge-class
  // trio (HLL registers merge by MAX, histogram/count-min counters by
  // ADD, bloom words by bitwise OR). Deterministic: k salted 57-bit
  // fingerprints per value, bit positions mod m; the word relation
  // carries the full (m/64)-row spine so two filters merge with a plain
  // word-key BIT_OR. No false negatives by construction — the probe's
  // defining guarantee — and the false-positive rate is the sizing
  // contract, not a correctness one.
  // ---------------------------------------------------------------------

  /** Build an m-bit bloom filter (m = 2^bitsLog2) over the DISTINCT
    * values of `valueCol` as a (word ∈ [0, m/32), bits BIGINT) relation.
    * Words are 32 bits wide on purpose: the max shift is 31, so every
    * word value stays positive and both engines' shift/bit_count
    * semantics agree on the whole domain (a 64-bit word would need
    * `1 << 63`, which overflows DuckDB's signed shift). One
    * map-side-combined BIT_OR collapses the member scan into m/32
    * bounded words — the mergeable unit; nothing corpus-sized survives
    * the build. */
  def bloomWords(members: DataFrame, valueCol: String,
                 bitsLog2: Int = 12, k: Int = 3): DataFrame = {
    require(bitsLog2 >= 5 && bitsLog2 <= 30,
      s"bitsLog2 must be in [5, 30]: $bitsLog2")
    require(k >= 1 && k <= 8, s"k must be in [1, 8]: $k")
    val m = 1L << bitsLog2
    val spark = members.sparkSession
    val flat = (0 until k).map { j =>
      val p = pmod(salted(col(valueCol), s"|bf$j"), lit(m))
      members.select(shiftright(p, 5).as("word"), (p % 32).as("bit"))
    }.reduce(_ unionByName _)
    val words = flat
      .groupBy(col("word"))
      .agg(expr("bit_or(shiftleft(1L, CAST(bit AS INT)))").as("bits"))
    spark.range(m >> 5).select(col("id").as("word"))
      .join(words, Seq("word"), "left")
      .select(col("word"), coalesce(col("bits"), lit(0L)).as("bits"))
  }

  /** Probe every distinct `valueCol` of `probes` against a
    * [[bloomWords]] relation: `maybe` = all k bits set. The word
    * relation is bounded, so it broadcasts; each probe value costs k
    * bounded-side lookups and one per-value MIN — no shuffle wider than
    * the distinct probe set. */
  def bloomProbe(words: DataFrame, probes: DataFrame, valueCol: String,
                 bitsLog2: Int = 12, k: Int = 3): DataFrame = {
    require(bitsLog2 >= 5 && bitsLog2 <= 30,
      s"bitsLog2 must be in [5, 30]: $bitsLog2")
    require(k >= 1 && k <= 8, s"k must be in [1, 8]: $k")
    val m = 1L << bitsLog2
    val d = probes.select(col(valueCol)).distinct()
    val flat = (0 until k).map { j =>
      val p = pmod(salted(col(valueCol), s"|bf$j"), lit(m))
      d.select(col(valueCol), shiftright(p, 5).as("word"),
        (p % 32).as("bit"))
    }.reduce(_ unionByName _)
    flat.join(broadcast(words), Seq("word"))
      .groupBy(col(valueCol))
      .agg(min(expr("shiftright(bits, CAST(bit AS INT)) & 1"))
        .as("__allset"))
      .select(col(valueCol), (col("__allset") === 1).as("maybe"))
  }

  /** Bloom-pruned semi join — the filter-pushdown use of the sketch
    * inside a relational plan: build [[bloomWords]] over the dim keys,
    * collapse the bounded word relation into ONE array literal on the
    * driver (m/32 longs — the same bounded-relation-to-broadcast move as
    * the prefetched-map join, J10), filter the fact side PER ROW with k
    * shift-and-mask bit tests (no shuffle, no distinct — a scan-side
    * predicate the way engine-native bloom joins push it), then run the
    * exact semi join on the survivors. No false negatives ⇒ the pruned
    * result EQUALS the plain semi join (the q178 oracle checks exactly
    * that); false positives only cost residual-join work, bounded by the
    * measured FPR.
    */
  def bloomSemiJoin(fact: DataFrame, factKey: String,
                    dim: DataFrame, dimKey: String,
                    bitsLog2: Int = 16, k: Int = 3): DataFrame = {
    val m = 1L << bitsLog2
    val words = bloomWords(dim.select(col(dimKey).as("item")), "item",
      bitsLog2, k)
    val arr = words.orderBy(col("word")).select(col("bits"))
      .collect().map(_.getLong(0))
    // The word array stays a LITERAL inside the filter expression —
    // never a projected column, which would materialize m/32 longs into
    // every row buffer (measured 7× on the fact scan). Variable shifts
    // don't exist as column ops, so the bit test is `word AND mask ≠ 0`
    // with the mask fetched from a 32-entry literal by bit index.
    val masks = (0 until 32).map(1L << _).toArray
    val cond = (0 until k).map { j =>
      val p = pmod(salted(col(factKey), s"|bf$j"), lit(m))
      val w = get(lit(arr), shiftright(p, 5).cast("int"))
      val mask = get(lit(masks), (p % 32).cast("int"))
      w.bitwiseAND(mask) =!= 0L
    }.reduce(_ && _)
    fact.filter(cond)
      .join(dim.select(col(dimKey).as(factKey)).distinct(),
        Seq(factKey), "left_semi")
  }

  // ---------------------------------------------------------------------
  // Persistent bloom store: the seen-before gate kept incrementally.
  // Each epoch (a day, a batch) persists its m/32 bounded words as
  // (epoch, word, bits) rows — the full word spine; any epoch span
  // merges with a word-key BIT_OR into one filter — bit-identical to
  // building over the union of the epochs' members (OR is
  // idempotent/commutative/associative), which is what the parity test
  // pins. The layout pins (bitsLog2, k) because neither is recoverable
  // from the rows and a mixed-geometry merge probes garbage.
  // ---------------------------------------------------------------------

  private val BloomStore = StoreFamily("bloom", Seq("bits", "k"),
    "epoch BIGINT, word BIGINT, bits BIGINT",
    _.groupBy(col("word"))
      .agg(expr("bit_or(bits)").as("bits")),
    Idempotent)

  /** Create/replace a bloom word store at `path` with one epoch. */
  def writeBloomStore(members: DataFrame, path: String, epoch: Long,
                      valueCol: String = "item", bitsLog2: Int = 12,
                      k: Int = 3): Unit =
    createStore(BloomStore, bloomWords(members, valueCol, bitsLog2, k),
      path, epoch, bitsLog2, k)

  /** Append one epoch's words; fails loud on a missing layout record or
    * a different geometry. */
  def appendBloomStore(members: DataFrame, path: String, epoch: Long,
                       valueCol: String = "item", bitsLog2: Int = 12,
                       k: Int = 3): Unit =
    appendStore(BloomStore, bloomWords(members, valueCol, bitsLog2, k),
      path, epoch, bitsLog2, k)

  /** Merge a store's epochs (all, or an `epochFilter` span) into one
    * word relation with a word-key BIT_OR — m/32 rows per epoch read,
    * m/32 shuffled, never anything corpus-sized. */
  def mergedBloomWords(spark: org.apache.spark.sql.SparkSession,
                       path: String,
                       epochFilter: Column = lit(true)): DataFrame =
    mergedStore(spark, path, BloomStore, epochFilter)._2

  /** Probe `probes` against the merged span of a bloom store — reads
    * the geometry from the layout record so the probe hashes can never
    * desynchronize from the build. */
  def mergedBloomProbe(spark: org.apache.spark.sql.SparkSession,
                       path: String, probes: DataFrame,
                       valueCol: String = "item",
                       epochFilter: Column = lit(true)): DataFrame = {
    val (kv, words) = mergedStore(spark, path, BloomStore, epochFilter)
    bloomProbe(words, probes, valueCol, kv("bits").toInt, kv("k").toInt)
  }

  // ---------------------------------------------------------------------
  // Fixed-bin histogram quantiles: the add-mergeable companion to the
  // max-mergeable HLL registers. One map-side-combined pass collapses the
  // stream into `bins` bounded counters; quantiles read off the cumulative
  // with a DIVISION-FREE probe (cum·100 ≥ pct·total — no float ratio on
  // the comparison path), so the whole relation is oracle-checkable.
  // Exactness statement: the estimate is the upper edge of the bin the
  // true quantile falls in — error ≤ one bin width by construction,
  // chosen at declaration time, not data-dependent. Mergeable because
  // counters ADD.
  // ---------------------------------------------------------------------

  /** The full bins-row histogram relation (bin ∈ [0, bins), cnt — zero
    * rows included via the spine, so two histograms merge with a plain
    * bucket-key SUM). Bin = floor((v − lo)/width) clamped to the grid;
    * the one double division per row is a single deterministic op. */
  def histogramBins(items: DataFrame, valueCol: String,
                    lo: Double, width: Double, bins: Int): DataFrame = {
    require(bins >= 2 && width > 0, s"bad grid: bins=$bins width=$width")
    val spark = items.sparkSession
    val bin = least(greatest(
      floor((col(valueCol) - lit(lo)) / lit(width)).cast("long"), lit(0L)),
      lit(bins - 1L))
    val h = items.select(bin.as("bin"))
      .groupBy(col("bin")).agg(count(lit(1)).as("cnt"))
    spark.range(bins).select(col("id").as("bin"))
      .join(h, Seq("bin"), "left")
      .select(col("bin"), coalesce(col("cnt"), lit(0L)).as("cnt"))
  }

  /** Quantile probe over a histogram relation: for each integer percent,
    * the smallest bin whose cumulative covers it (cum·100 ≥ pct·total —
    * all-integer), with the estimate as that bin's upper edge. With
    * `groupCols` the probe runs per group (the cumulative window
    * partitions on them); ungrouped, the window runs over the BINS-row
    * sketch relation — bounded at declaration time, which is why a
    * global-ordered window is fine here and nowhere else. The probe
    * needs no empty-bin spine: the cumulative only rises at nonempty
    * bins, so the smallest crossing bin is always a nonempty one. */
  def quantilesFromBins(binsDf: DataFrame, lo: Double, width: Double,
                        pcts: Seq[Int],
                        groupCols: Seq[String] = Nil): DataFrame = {
    require(pcts.nonEmpty && pcts.forall(p => p >= 1 && p <= 100),
      s"pcts must be integer percents in [1, 100]: $pcts")
    val spark = binsDf.sparkSession
    import org.apache.spark.sql.expressions.Window
    val base =
      if (groupCols.isEmpty) Window.partitionBy()
      else Window.partitionBy(groupCols.map(col): _*)
    val w = base.orderBy(col("bin"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val wAll = base.rowsBetween(
      Window.unboundedPreceding, Window.unboundedFollowing)
    // persist + eager materialize: `c` feeds BOTH the probe and the
    // join-back; without it Spark recomputes the whole subtree — the
    // fact-table histogram build included — under each branch (a lazy
    // persist is also computed once per branch, the Dedup lesson). The
    // cached relation is the bins-row sketch (× groups), trivially
    // small; released by the caller's CacheScope.
    val c = graft.core.CacheScope.track(binsDf.select(
      groupCols.map(col) ++ Seq(col("bin"), col("cnt"),
        sum(col("cnt")).over(w).as("cum"),
        sum(col("cnt")).over(wAll).as("total")): _*).persist())
    c.count()
    val p = spark.createDataFrame(pcts.map(Tuple1(_))).toDF("pct")
    p.join(c, col("cum") * 100 >= col("pct") * col("total"))
      .groupBy(groupCols.map(col) :+ col("pct"): _*)
      .agg(min(col("bin")).as("bin"))
      .join(c, groupCols :+ "bin")
      .select(groupCols.map(col) ++ Seq(
        col("pct").cast("long").as("pct"), col("bin"),
        col("cum").as("cum_cnt"), col("total").as("total_cnt"),
        ((col("bin") + 1).cast("double") * lit(width) + lit(lo))
          .as("est")): _*)
  }

  /** Per-group fixed-bin histogram quantiles in one pass: the grouped
    * build collapses to (groups × bins) bounded counters map-side; the
    * probe partitions its windows on the group columns. No spine —
    * see [[quantilesFromBins]] for why the probe never needs one. */
  def groupedHistogramQuantiles(items: DataFrame, groupCols: Seq[String],
                                valueCol: String, lo: Double,
                                width: Double, bins: Int,
                                pcts: Seq[Int]): DataFrame =
    quantilesFromBins(
      groupedHistogramBins(items, groupCols, valueCol, lo, width, bins),
      lo, width, pcts, groupCols)

  /** The grouped build alone: (groupCols..., bin, cnt) counters, one
    * map-side-combined aggregate, no empty-bin spine (the probe never
    * needs one — see [[quantilesFromBins]]). */
  def groupedHistogramBins(items: DataFrame, groupCols: Seq[String],
                           valueCol: String, lo: Double,
                           width: Double, bins: Int): DataFrame = {
    require(bins >= 2 && width > 0, s"bad grid: bins=$bins width=$width")
    val bin = least(greatest(
      floor((col(valueCol) - lit(lo)) / lit(width)).cast("long"), lit(0L)),
      lit(bins - 1L))
    items.select(groupCols.map(col) :+ bin.as("bin"): _*)
      .groupBy(groupCols.map(col) :+ col("bin"): _*)
      .agg(count(lit(1)).as("cnt"))
  }

  /** One-pass histogram quantiles: build + probe. */
  def histogramQuantiles(items: DataFrame, valueCol: String,
                         lo: Double, width: Double, bins: Int,
                         pcts: Seq[Int]): DataFrame =
    quantilesFromBins(histogramBins(items, valueCol, lo, width, bins),
      lo, width, pcts)

  // ---------------------------------------------------------------------
  // KMV / theta sketch: the UNION-mergeable bottom-k distinct sketch —
  // the fourth merge class (HLL registers MAX, counters ADD, bloom words
  // OR; bottom-k sets merge by set-UNION then re-trim). It exists for
  // the set-algebra gap HLL leaves open: HLL intersections go through
  // inclusion–exclusion (q177), compounding the error of THREE
  // estimates and collapsing entirely for small overlaps; the theta
  // form estimates |A ∩ B| DIRECTLY by counting intersection hashes
  // below one shared threshold. Deterministic on the shared mix57
  // domain, exact integer arithmetic throughout, so the sketch
  // CONTENTS — the kept hashes themselves — are oracle-checkable.
  // ---------------------------------------------------------------------

  /** Bottom-k distinct-hash relation of `valueCol`: the k smallest
    * DISTINCT salted mix57 hashes (fewer rows when the input has fewer
    * distinct values — the sketch is then EXACT). `orderBy(h).limit(k)`
    * plans as TakeOrderedAndProject: per-partition bounded heaps of k
    * longs, never a global sort — the whole sketch is O(k) state however
    * large the corpus, which is what makes it a 100 TB operator.
    */
  def kmvHashes(items: DataFrame, valueCol: String = "item",
                k: Int = 256): DataFrame = {
    require(k >= 2, s"k must be >= 2: $k")
    // NULL values are EXCLUDED from the sketch domain (the COUNT
    // DISTINCT convention the HLL twin already follows): a NULL hashes
    // to a NULL h, which Spark's ASC sort puts FIRST and DuckDB's puts
    // LAST — without this filter a single NULL silently occupies a
    // bottom-k slot on one engine and not the other
    items.select(salted(col(valueCol), "|kmv").as("h"))
      .filter(col("h").isNotNull)
      .distinct().orderBy(col("h")).limit(k)
  }

  /** One-row KMV distinct estimate: (k, n_kept, theta, estimate,
    * n_exact). Saturated (n_kept = k): theta is the k-th smallest hash
    * and `estimate = (k−1)·2^57 div theta` — the classic k-minimum-values
    * estimator, with theta itself excluded from the support (the k−1).
    * Unsaturated: the sketch holds EVERY distinct hash, so the estimate
    * is n_kept exactly (hash collisions aside, vanishing in a 2^57
    * domain — and deterministic, so both engines agree bit-for-bit
    * either way). `(k−1)·2^57` overflows a BIGINT from k = 65 up, so the
    * product runs as DECIMAL(38,0) on Spark / HUGEINT in the oracle (the
    * q223 device); `div` keeps the quotient exact integer arithmetic.
    * `n_exact` is the audited true distinct count, carried like q140's.
    */
  def kmvEstimate(items: DataFrame, valueCol: String = "item",
                  k: Int = 256): DataFrame = {
    val sketch = kmvHashes(items, valueCol, k)
      .agg(count(lit(1)).as("n_kept"), max(col("h")).as("theta"))
    val exact = items.agg(countDistinct(col(valueCol)).as("n_exact"))
    sketch.crossJoin(exact)
      .select(lit(k.toLong).as("k"), col("n_kept"), col("theta"),
        kmvEstimateCol(k).as("estimate"), col("n_exact"))
  }

  /** The one KMV estimator expression over (n_kept, theta) — shared by
    * the one-shot and grouped forms so the two can never drift. */
  private def kmvEstimateCol(k: Int): Column =
    when(col("n_kept") < k, col("n_kept"))
      .otherwise(expr(s"(cast(${k - 1} as decimal(38,0)) * $MixMod) " +
        "div theta"))

  /** Grouped KMV — [[kmvEstimate]] per group key (the q161 treatment
    * for the bottom-k sketch): each group keeps its k smallest distinct
    * hashes in one bounded aggregate ([[BottomKDistinctAgg]] — a plain
    * `row_number over (partition by group)` would funnel a low-cardinality
    * group's ENTIRE distinct-hash set through one task). Output one row
    * per group: (group, k, n_kept, theta, estimate, n_exact) with the
    * same saturated/exact regimes as the ungrouped form. A group whose
    * values are all NULL emits (k, 0, null, 0, 0) — the row
    * [[kmvEstimate]] returns on that group's data alone, so the
    * grouped==one-shot-per-group equivalence holds for every group.
    */
  def groupedKmvEstimate(items: DataFrame, groupCol: String,
                         valueCol: String = "item",
                         k: Int = 256): DataFrame = {
    require(k >= 2, s"k must be >= 2: $k")
    // n_kept and theta read straight off each group's sorted bottom-k
    // buffer: no explode, no second aggregate
    val sketch = groupedBottomK(items, groupCol, valueCol, k)
      .select(col(groupCol).as("__g"),
        size(col("__hs")).cast("long").as("n_kept"),
        array_max(col("__hs")).as("theta"))
    val exact = items.groupBy(col(groupCol))
      .agg(countDistinct(col(valueCol)).as("n_exact"))
    // sketch LEFT-joined onto the exact group spine: a group whose
    // values are all NULL has no hashes (NULLs are outside the sketch
    // domain) but IS a group — it must surface as (k, 0, null, 0, 0),
    // exactly what kmvEstimate returns on that group's data alone (the
    // r14 ADVICE equivalence gap: an inner join silently dropped it).
    // Null-safe on the key: the NULL group is a group too
    exact.join(sketch, col(groupCol) <=> col("__g"), "left")
      .select(col(groupCol), lit(k.toLong).as("k"),
        coalesce(col("n_kept"), lit(0L)).as("n_kept"), col("theta"),
        col("n_exact"))
      .select(col(groupCol), col("k"), col("n_kept"), col("theta"),
        kmvEstimateCol(k).as("estimate"), col("n_exact"))
  }

  /** Bottom-k distinct aggregate over longs: the k smallest distinct
    * non-NULL inputs, ascending. The buffer is a sorted `Array[Long]` of
    * at most k values, so a group's state is O(k) however large the group
    * — the grouped twin of [[kmvHashes]]'s per-partition k-heaps.
    * Bottom-k sets are mergeable summaries (the k smallest of a union are
    * the k smallest of the two buffers' union), so the trim runs map-side
    * and a shuffle carries at most partitions × groups × k longs. `reduce`
    * rejects a value at or above a full buffer's maximum in O(1), finds
    * the slot by binary search, drops a value already kept, and once the
    * buffer is full inserts in place (the largest falls off); `merge`
    * inserts the other buffer's values, at most k of them, stopping at
    * the first that cannot enter. */
  class BottomKDistinctAgg(k: Int)
    extends Aggregator[java.lang.Long, Array[Long], Array[Long]] {
    require(k >= 1, s"k must be >= 1: $k")
    override def zero: Array[Long] = Array.emptyLongArray
    override def reduce(buf: Array[Long], in: java.lang.Long): Array[Long] =
      if (in == null) buf else insert(buf, in.longValue)
    override def merge(a: Array[Long], b: Array[Long]): Array[Long] = {
      var out = a
      var j = 0
      while (j < b.length && !(out.length >= k && b(j) >= out(k - 1))) {
        out = insert(out, b(j))
        j += 1
      }
      out
    }
    private def insert(buf: Array[Long], v: Long): Array[Long] = {
      val n = buf.length
      if (n >= k && v >= buf(n - 1)) return buf
      val at = java.util.Arrays.binarySearch(buf, v)
      if (at >= 0) return buf // already kept: distinct
      val lo = -at - 1
      if (n < k) {
        val out = new Array[Long](n + 1)
        System.arraycopy(buf, 0, out, 0, lo)
        out(lo) = v
        System.arraycopy(buf, lo, out, lo + 1, n - lo)
        out
      } else {
        System.arraycopy(buf, lo, buf, lo + 1, n - 1 - lo)
        buf(lo) = v
        buf
      }
    }
    override def finish(buf: Array[Long]): Array[Long] = buf
    override def bufferEncoder: Encoder[Array[Long]] =
      org.apache.spark.sql.catalyst.encoders.ExpressionEncoder[Array[Long]]()
    override def outputEncoder: Encoder[Array[Long]] =
      org.apache.spark.sql.catalyst.encoders.ExpressionEncoder[Array[Long]]()
  }

  /** Each group's bottom-k distinct hash array `__hs` (ascending), one
    * row per group of `items`. */
  private def groupedBottomK(items: DataFrame, groupCol: String,
                             valueCol: String, k: Int): DataFrame =
    items.select(col(groupCol), salted(col(valueCol), "|kmv").as("h"))
      .groupBy(col(groupCol))
      .agg(udaf(new BottomKDistinctAgg(k), Encoders.LONG)(col("h"))
        .as("__hs"))

  /** Per-group bottom-k distinct-hash relation (groupCol, h) — the
    * grouped twin of [[kmvHashes]], feeding the overlap matrix: one
    * `groupBy(group)` with the bounded
    * [[BottomKDistinctAgg]], exploded. The k smallest distinct hashes of
    * a group are unique, so no `distinct()` is needed; NULL values hash
    * to NULL and are ignored, as in [[kmvHashes]]. */
  def groupedKmvHashes(items: DataFrame, groupCol: String,
                       valueCol: String = "item",
                       k: Int = 256): DataFrame = {
    require(k >= 2, s"k must be >= 2: $k")
    groupedBottomK(items, groupCol, valueCol, k)
      .select(col(groupCol), explode(col("__hs")).as("h"))
  }

  /** Pairwise theta-sketch overlap MATRIX over a per-group bottom-k
    * hash relation — the audience-overlap dashboard at pure sketch
    * cost (r14 next-round item): one row per unordered group pair
    * (g_a < g_b) with the pair's own min threshold and the direct
    * intersection/union estimates, exactly [[thetaAlgebra]] run on
    * every pair at once. Everything after the input runs on bounded
    * relations: thresholds are |G| rows, the pair spine |G|² (the
    * matrix is meaningful for dashboard-scale group counts — event
    * types, cohorts, segments — not for million-key domains), and every
    * join below touches ≤ |G|·k hash rows.
    *
    * Output: (g_a, g_b, k, theta, n_inter, est_inter, n_union,
    * est_union), with `n_union = below_a + below_b − n_inter` (hash
    * sets are distinct within a group, so the inclusion–exclusion on
    * COUNTS is exact — unlike the cardinality estimates q177 chains).
    *
    * `maxGroups` is the loud bound on the |G|² pair spine: a caller pointing the matrix at a million-key
    * group column gets an error carrying the count, not a silent
    * 10¹²-row cross join. Raise it deliberately for a genuinely large
    * dashboard; the spine cost is quadratic in it.
    */
  def thetaOverlapMatrix(hashes: DataFrame, groupCol: String,
                         k: Int, maxGroups: Int = 4096): DataFrame = {
    require(k >= 2, s"k must be >= 2: $k")
    val h = hashes.select(col(groupCol).as("g"), col("h"))
      .localCheckpoint(true) // ≤ |G|·k rows, read four times below
    val th = h.groupBy(col("g"))
      .agg(count(lit(1)).as("__n"), max(col("h")).as("__max"))
      .select(col("g"),
        when(col("__n") < k, lit(MixMod)).otherwise(col("__max")).as("__t"))
      .localCheckpoint(true) // |G| rows: counted once, joined twice
    val nG = th.count()
    require(nG <= maxGroups,
      s"thetaOverlapMatrix: $nG groups would build a ${nG * nG}-row " +
        s"pair spine (maxGroups = $maxGroups) — the matrix is " +
        "quadratic in the group count; raise maxGroups only for a " +
        "deliberately large dashboard")
    val pairs = th.select(col("g").as("g_a"), col("__t").as("__ta"))
      .join(th.select(col("g").as("g_b"), col("__t").as("__tb")),
        col("g_a") < col("g_b"))
      .select(col("g_a"), col("g_b"),
        least(col("__ta"), col("__tb")).as("theta"))
      .localCheckpoint(true) // |G|² rows
    val belowA = h.join(broadcast(pairs),
        col("g") === col("g_a") && col("h") < col("theta"))
      .groupBy(col("g_a"), col("g_b")).agg(count(lit(1)).as("__nba"))
    val belowB = h.join(broadcast(pairs),
        col("g") === col("g_b") && col("h") < col("theta"))
      .groupBy(col("g_a"), col("g_b")).agg(count(lit(1)).as("__nbb"))
    val inter = h.as("x")
      .join(broadcast(h.as("y")),
        col("x.h") === col("y.h") && col("x.g") < col("y.g"))
      .join(broadcast(pairs), col("x.g") === col("g_a") &&
        col("y.g") === col("g_b") && col("x.h") < col("theta"))
      .groupBy(col("g_a"), col("g_b")).agg(count(lit(1)).as("__ni"))
    // assembly joins are all |G|²-bounded — broadcast them explicitly so
    // the static plan already shows the shape AQE would pick at runtime
    pairs
      .join(broadcast(belowA), Seq("g_a", "g_b"), "left")
      .join(broadcast(belowB), Seq("g_a", "g_b"), "left")
      .join(broadcast(inter), Seq("g_a", "g_b"), "left")
      .select(col("g_a"), col("g_b"), lit(k.toLong).as("k"), col("theta"),
        coalesce(col("__ni"), lit(0L)).as("n_inter"),
        (coalesce(col("__nba"), lit(0L)) + coalesce(col("__nbb"), lit(0L))
          - coalesce(col("__ni"), lit(0L))).as("n_union"))
      .select(col("g_a"), col("g_b"), col("k"), col("theta"),
        col("n_inter"),
        expr(s"(cast(n_inter as decimal(38,0)) * $MixMod) div theta")
          .as("est_inter"),
        col("n_union"),
        expr(s"(cast(n_union as decimal(38,0)) * $MixMod) div theta")
          .as("est_union"))
  }

  /** The overlap matrix straight from data, with exact audit columns —
    * [[kmvIntersection]] lifted to every group pair: per-pair exact
    * intersection by one value-keyed self-join of the distinct
    * (group, value) relation and exact union by count
    * inclusion–exclusion. The audit legs are the only corpus-sized
    * paths (the value self-join fans out by groups-per-value, bounded
    * by |G|); the estimating path collapses to ≤ |G|·k hashes map-side
    * first. Groups with no in-domain (non-NULL) value have no sketch
    * and no audience — they are absent from the matrix. */
  def groupedKmvOverlapMatrix(items: DataFrame, groupCol: String,
                              valueCol: String = "item",
                              k: Int = 256,
                              maxGroups: Int = 4096): DataFrame = {
    val est = thetaOverlapMatrix(
      groupedKmvHashes(items, groupCol, valueCol, k), groupCol, k,
      maxGroups)
    val du = items.select(col(groupCol).as("g"), col(valueCol).as("v"))
      .filter(col("v").isNotNull).distinct().localCheckpoint(true)
    val exInter = du.as("x")
      .join(du.as("y"), col("x.v") === col("y.v") && col("x.g") < col("y.g"))
      .groupBy(col("x.g").as("g_a"), col("y.g").as("g_b"))
      .agg(count(lit(1)).as("__ei"))
    val ng = du.groupBy(col("g")).agg(count(lit(1)).as("__n"))
    val spine = ng.select(col("g").as("g_a"), col("__n").as("__na"))
      .join(ng.select(col("g").as("g_b"), col("__n").as("__nb")),
        col("g_a") < col("g_b"))
    val exact = spine.join(broadcast(exInter), Seq("g_a", "g_b"), "left")
      .select(col("g_a"), col("g_b"),
        coalesce(col("__ei"), lit(0L)).as("exact_inter"),
        (col("__na") + col("__nb") - coalesce(col("__ei"), lit(0L)))
          .as("exact_union"))
    est.join(broadcast(exact), Seq("g_a", "g_b"))
  }

  /** Direct theta-sketch set algebra over two KMV sketches: one row
    * (k, theta, n_inter, est_inter, n_union, est_union, exact_inter,
    * exact_union). theta = min of the two sketches' thresholds (a
    * saturated sketch's k-th hash; an unsaturated sketch kept everything,
    * so its threshold is the full domain 2^57); below theta BOTH sketches
    * are complete samples of their sets, so
    * `est = n_below · 2^57 div theta` estimates intersection and union
    * alike — and degrades to EXACT counts when both sketches are
    * unsaturated (theta = 2^57 makes the div an identity). One shared
    * threshold, one estimate — not inclusion–exclusion's three.
    *
    * 100 TB posture: each side collapses to ≤ k hashes map-side
    * (TakeOrderedAndProject) before anything joins; the set algebra and
    * the 1-row threshold run on ≤ 2k rows. The exact audit columns are
    * two distinct-aggregates over the inputs — drop them (they are the
    * only corpus-sized legs) when the sketch is the point.
    */
  def kmvIntersection(a: DataFrame, b: DataFrame,
                      valueCol: String = "item", k: Int = 256): DataFrame = {
    // NULLs are outside the sketch domain (see kmvHashes); keep the
    // exact audit columns on the same domain or they disagree with the
    // estimates they certify
    val da = a.select(col(valueCol)).filter(col(valueCol).isNotNull)
      .distinct()
    val db = b.select(col(valueCol)).filter(col(valueCol).isNotNull)
      .distinct()
    val exInter = da.intersect(db).agg(count(lit(1)).as("exact_inter"))
    val exUnion = da.union(db).distinct().agg(count(lit(1)).as("exact_union"))
    thetaAlgebra(kmvHashes(a, valueCol, k), kmvHashes(b, valueCol, k), k)
      .crossJoin(exInter).crossJoin(exUnion)
  }

  /** The theta-threshold set algebra over two already-built bottom-k
    * hash relations (one column `h` each): (k, theta, n_inter,
    * est_inter, n_union, est_union) — [[kmvIntersection]]'s estimating
    * core without the corpus-sized exact-audit legs. */
  def thetaAlgebra(hashesA: DataFrame, hashesB: DataFrame,
                   k: Int): DataFrame = {
    val (theta, belowA, belowB) = thetaBelow(hashesA, hashesB, k)
    val nInter = belowA.intersect(belowB).agg(count(lit(1)).as("n_inter"))
    val nUnion = belowA.union(belowB).distinct()
      .agg(count(lit(1)).as("n_union"))
    theta.crossJoin(nInter).crossJoin(nUnion)
      .select(lit(k.toLong).as("k"), col("theta"),
        col("n_inter"),
        expr(s"(cast(n_inter as decimal(38,0)) * $MixMod) div theta")
          .as("est_inter"),
        col("n_union"),
        expr(s"(cast(n_union as decimal(38,0)) * $MixMod) div theta")
          .as("est_union"))
  }

  /** The shared theta-threshold prologue of the set algebra: the 1-row
    * min threshold and each side's below-theta hash set. Factored so
    * [[thetaAlgebra]] and [[thetaDifference]] can never disagree on
    * what theta is. */
  private def thetaBelow(hashesA: DataFrame, hashesB: DataFrame, k: Int)
  : (DataFrame, DataFrame, DataFrame) = {
    // localCheckpoint, not persist: each side is ≤ k rows but read three
    // times (threshold, below-theta, set algebra), and a caller outside
    // any CacheScope would accumulate persisted entries forever, where
    // checkpoint blocks free with the reference
    val ha = hashesA.localCheckpoint(true)
    val hb = hashesB.localCheckpoint(true)
    def thetaOf(h: DataFrame, as: String) =
      h.agg(count(lit(1)).as("__n"), max(col("h")).as("__max"))
        .select(when(col("__n") < k, lit(MixMod))
          .otherwise(col("__max")).as(as))
    val theta = thetaOf(ha, "__ta").crossJoin(thetaOf(hb, "__tb"))
      .select(least(col("__ta"), col("__tb")).as("theta"))
    val belowA = ha.crossJoin(broadcast(theta)).filter(col("h") < col("theta"))
      .select(col("h"))
    val belowB = hb.crossJoin(broadcast(theta)).filter(col("h") < col("theta"))
      .select(col("h"))
    (theta, belowA, belowB)
  }

  /** Theta-sketch set DIFFERENCE over two bottom-k hash relations —
    * the algebra [[thetaAlgebra]] left open (r14 next-round item): below
    * the shared threshold both sketches are complete samples, so the
    * EXCEPT counts estimate |A∖B| and |B∖A| with the same one-threshold
    * estimator, degrading to exact when both sides are unsaturated.
    * Output: one row (k, theta, n_only_a, est_only_a, n_only_b,
    * est_only_b). The identity `n_only_a + n_only_b + n_inter = n_union`
    * holds by construction (the spec pins it against [[thetaAlgebra]]).
    */
  def thetaDifference(hashesA: DataFrame, hashesB: DataFrame,
                      k: Int): DataFrame = {
    val (theta, belowA, belowB) = thetaBelow(hashesA, hashesB, k)
    val nOnlyA = belowA.except(belowB).agg(count(lit(1)).as("n_only_a"))
    val nOnlyB = belowB.except(belowA).agg(count(lit(1)).as("n_only_b"))
    theta.crossJoin(nOnlyA).crossJoin(nOnlyB)
      .select(lit(k.toLong).as("k"), col("theta"),
        col("n_only_a"),
        expr(s"(cast(n_only_a as decimal(38,0)) * $MixMod) div theta")
          .as("est_only_a"),
        col("n_only_b"),
        expr(s"(cast(n_only_b as decimal(38,0)) * $MixMod) div theta")
          .as("est_only_b"))
  }

  /** [[kmvIntersection]]'s difference twin: the theta-sketch estimates
    * of |A∖B| and |B∖A| with the exact audit counts beside them (the
    * only corpus-sized legs — drop them when the sketch is the point).
    * NULLs are outside the sketch domain, exactly as in
    * [[kmvIntersection]]. */
  def kmvDifference(a: DataFrame, b: DataFrame,
                    valueCol: String = "item", k: Int = 256): DataFrame = {
    val da = a.select(col(valueCol)).filter(col(valueCol).isNotNull)
      .distinct()
    val db = b.select(col(valueCol)).filter(col(valueCol).isNotNull)
      .distinct()
    val exA = da.except(db).agg(count(lit(1)).as("exact_only_a"))
    val exB = db.except(da).agg(count(lit(1)).as("exact_only_b"))
    thetaDifference(kmvHashes(a, valueCol, k), kmvHashes(b, valueCol, k), k)
      .crossJoin(exA).crossJoin(exB)
  }

  /** The standard HLL bias-correction constant — a Scala-side double,
    * interpolated into the oracle as its exact decimal round-trip (the
    * q70 plane-literal device), so both engines multiply the identical
    * double. */
  def hllAlpha(m: Long): Double = m match {
    case 16 => 0.673
    case 32 => 0.697
    case 64 => 0.709
    case _  => 0.7213 / (1.0 + 1.079 / m)
  }
}
