package graft.ops

import org.apache.spark.sql.{Column, DataFrame, Observation, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Iterative graph algorithms beyond the connected-components fixpoint
  * (graft.llm.Dedup.connectedComponents): rank propagation done the way a
  * 100 TB Spark job has to do it — edge-partitioned joins, bounded
  * per-round state, lineage truncated every iteration.
  */
object Graph {

  /** Shared unit-overflow policy for the fixed-point rank family
    * (pageRank / weightedPageRank / personalizedPageRank / hits).
    * `rawBound` is the UNclamped largest safe unit for the algorithm's
    * hottest integer product. Strict mode compares against the raw
    * bound — so a degenerate graph whose bound falls below the 100
    * floor still throws instead of slipping past the clamp — because a
    * caller pins `strictUnit = true` exactly when an oracle was
    * generated at this unit and a silent rescale would surface as a
    * hash divergence instead of an error at the source. Non-strict mode
    * auto-scales down to the largest power of ten ≤ max(100, rawBound),
    * loudly (println, not a logger: graft carries no logging dep and
    * the scale-down must be loud wherever stdout goes).
    */
  private def resolveUnit(op: String, unit: Long, rawBound: Long,
                          strict: Boolean, ctx: String): Long = {
    if (strict && unit > rawBound) throw new IllegalArgumentException(
      s"graft.ops.Graph.$op: unit=$unit would overflow at $ctx " +
        s"(max safe $rawBound) and strictUnit forbids rescaling — the " +
        "caller's scores are pinned to this unit (an oracle generated at " +
        "it); lower the unit or lift strictUnit to accept auto-scaling")
    val maxUnit = math.max(100L, rawBound)
    if (unit <= maxUnit) unit
    else {
      var scaled = 1L
      while (scaled * 10L <= maxUnit) scaled *= 10L
      println(s"graft.ops.Graph.$op: unit=$unit would overflow at $ctx " +
        s"(max safe $maxUnit); auto-scaled to $scaled")
      scaled
    }
  }

  /** Integer-arithmetic PageRank — engine-exact by construction: ranks
    * live in integer micro-units (vertex mass starts at `unit` = 10¹²)
    * and every propagation step is integer multiply/divide —
    * `contrib = (r · 85) div (100 · out_degree)` — so there is no
    * floating-point sum anywhere and the result is bit-identical under
    * any partitioning, shuffle order, or engine (the same reasoning as
    * the DECIMAL revenue device, taken to its fixed-point conclusion;
    * classic float PageRank sums doubles in shuffle order, which no
    * oracle can reproduce). Truncation loses at most `out_degree − 1`
    * micro-units per vertex per round — at unit = 10¹² that is noise in
    * the ranking and a worthwhile trade for determinism.
    *
    * Semantics: directed `edges` (src, dst); each round
    * r' = 0.15·unit + Σ_{u→v} (r_u · 85) div (100 · deg_u). By default,
    * vertices with no out-edges keep receiving but stop redistributing
    * (standard dangling-mass simplification — total mass decays,
    * RELATIVE ranks are what the operator is for). With
    * `redistributeDangling = true` the textbook definition applies
    * instead: each round the summed rank of dangling vertices is damped
    * and split evenly — every vertex additionally receives
    * `(Σ_dangling r · 85) div (100 · N)` — so total mass is conserved up
    * to integer truncation (one extra 1-row aggregate broadcast per
    * round, nothing else changes in the plan). The default stays the
    * simplification for oracle stability (q138's DuckDB twin encodes it).
    *
    * 100 TB posture: per round ONE join of the edge relation against the
    * bounded (vertex, rank) relation on the src key, one map-side
    * combined sum on dst, one left join back onto the vertex set — all
    * key-partitioned, nothing driver-side, no window. `localCheckpoint`
    * per round truncates the lineage exactly as the CC fixpoint does
    * (without it, round k's plan string is 2^k joins deep). Overflow
    * headroom is ENFORCED, not just documented: total graph mass never
    * exceeds N·unit (base adds 0.15·unit per vertex, propagation moves
    * ≤ 0.85 of existing mass), so a single rank is bounded by N·unit and
    * the hottest intermediate is r·85 — the guard requires
    * N·unit ≤ Long.Max/85 and auto-scales `unit` down to the largest
    * power of ten that fits when a caller-supplied unit would wrap
    * (logged; the N count is one bounded aggregate over the distinct
    * vertex ids, run once before the loop). When the caller's ranks are
    * checked against an oracle GENERATED at a fixed unit (q138), a
    * silent rescale would make the pair diverge by design rather than
    * fail loud — `strictUnit = true` throws instead of rescaling,
    * turning the divergence into an error at the source (the same
    * contract as [[hits]]' q208 guard).
    *
    * Output: (id, rank_micro) — final ranks in micro-units.
    */
  def pageRank(vertices: DataFrame, edges: DataFrame, iters: Int = 3,
               unit: Long = 1000000000000L,
               redistributeDangling: Boolean = false,
               strictUnit: Boolean = false): DataFrame = {
    require(iters >= 1, s"iters must be >= 1: $iters")
    require(unit >= 100L, s"unit must be >= 100: $unit")
    val verts = vertices.select(col("id")).distinct().localCheckpoint()
    val n = math.max(1L, verts.count())
    val maxUnit = Long.MaxValue / 85L / n
    val u = resolveUnit("pageRank", unit, maxUnit, strictUnit,
      s"n=$n vertices")
    // r18: checkpoint the edge relation, then the degree-annotated edges,
    // BEFORE the loop. Every round's localCheckpoint used to re-run the
    // caller's whole lazy edge pipeline (q138: the co-click self-join,
    // rebuilt once per round) plus the degree aggregate and its join —
    // loop-invariant work × iters (guide §2.4). The round now reads one
    // cached (src, dst, __deg) leaf. The checkpoint cuts the lineage but
    // does not keep the join's partitioning on src: a checkpoint of an
    // adaptive plan reports UnknownPartitioning, so at scale every
    // round's join re-shuffles the edge side as well as the ranks (at
    // small sizes AQE broadcasts the ranks instead).
    val e = edges.select(col("src"), col("dst")).localCheckpoint(true)
    val deg = e.groupBy(col("src")).agg(count(lit(1)).as("__deg"))
    val ed = e.join(deg, Seq("src")).localCheckpoint(true)
    val base = (u * 15L) / 100L
    var ranks = verts.select(col("id"), lit(u).as("r")).localCheckpoint()
    for (_ <- 0 until iters) {
      val contrib = ed
        .join(ranks.withColumnRenamed("id", "src"), Seq("src"))
        .select(col("dst").as("id"),
          expr("(r * 85L) div (100L * __deg)").as("__c"))
        .groupBy(col("id")).agg(sum(col("__c")).as("__s"))
      val next = verts.join(contrib, Seq("id"), "left")
        .select(col("id"),
          (lit(base) + coalesce(col("__s"), lit(0L))).as("r"))
      ranks =
        if (!redistributeDangling) next.localCheckpoint()
        else {
          // damped share of this round's dangling mass, split over all N:
          // a 1-row aggregate, broadcast by the k-row crossJoin idiom.
          val dangling = ranks.join(deg.withColumnRenamed("src", "id"),
              Seq("id"), "left_anti")
            .agg(coalesce(sum(col("r")), lit(0L)).as("__dm"))
            .select(expr(s"(__dm * 85L) div (100L * ${n}L)").as("__share"))
          next.crossJoin(dangling)
            .select(col("id"), (col("r") + col("__share")).as("r"))
            .localCheckpoint()
        }
    }
    ranks.select(col("id"), col("r").as("rank_micro"))
  }

  /** Edge-weighted PageRank — [[pageRank]] with each vertex's outgoing
    * mass split IN PROPORTION TO integer edge weights instead of evenly:
    * `contrib(u→v) = (r_u · 85 · w_uv) div (100 · W_u)` where `W_u` is
    * u's total outgoing weight. On a co-click graph weighted by
    * shared-user counts this ranks by interaction STRENGTH, not mere
    * adjacency. Still pure integer arithmetic — bit-identical under any
    * partitioning — so the generated SQL twin checks it exactly.
    *
    * The overflow guard must now cover the three-factor product
    * `r · 85 · w`: with total mass ≤ N·unit and w ≤ maxW (one bounded
    * aggregate, computed up front), the guard is
    * `N · unit · 85 · maxW ≤ Long.Max`, and a caller unit that would
    * wrap auto-scales down to the largest safe power of ten (loudly),
    * exactly as [[pageRank]] does — or throws under `strictUnit = true`
    * when the caller's ranks are pinned to an oracle's unit (q163);
    * this is the REACHABLE member of the family, since the safe bound
    * shrinks with the max edge weight. Truncation loss is at most
    * `out_degree − 1` micro-units per vertex per round, same as the
    * unweighted form.
    *
    * `edges`: (src, dst, w) with POSITIVE integer weights. Output:
    * (id, rank_micro).
    */
  def weightedPageRank(vertices: DataFrame, edges: DataFrame,
                       iters: Int = 3,
                       unit: Long = 1000000000000L,
                       strictUnit: Boolean = false): DataFrame = {
    require(iters >= 1, s"iters must be >= 1: $iters")
    require(unit >= 100L, s"unit must be >= 100: $unit")
    val verts = vertices.select(col("id")).distinct().localCheckpoint()
    val n = math.max(1L, verts.count())
    val e = edges.select(col("src"), col("dst"), col("w").cast("long"))
      .localCheckpoint()
    val maxW = math.max(1L,
      e.agg(coalesce(max(col("w")), lit(1L))).head().getLong(0))
    require(maxW > 0L, s"edge weights must be positive (max was $maxW)")
    val maxUnit = Long.MaxValue / 85L / n / maxW
    val u = resolveUnit("weightedPageRank", unit, maxUnit, strictUnit,
      s"n=$n vertices, maxW=$maxW")
    val tw = e.groupBy(col("src")).agg(sum(col("w")).as("__tw"))
    // r18: loop-invariant total-weight join hoisted and checkpointed —
    // same move as pageRank's degree-annotated edges (each round used to
    // recompute the tw aggregate). As there, the checkpoint cuts the
    // lineage but keeps no src partitioning: at scale each round's join
    // still re-shuffles the edge side
    val ed = e.join(tw, Seq("src")).localCheckpoint(true)
    val base = (u * 15L) / 100L
    var ranks = verts.select(col("id"), lit(u).as("r")).localCheckpoint()
    for (_ <- 0 until iters) {
      val contrib = ed
        .join(ranks.withColumnRenamed("id", "src"), Seq("src"))
        .select(col("dst").as("id"),
          expr("(r * 85L * w) div (100L * __tw)").as("__c"))
        .groupBy(col("id")).agg(sum(col("__c")).as("__s"))
      ranks = verts.join(contrib, Seq("id"), "left")
        .select(col("id"),
          (lit(base) + coalesce(col("__s"), lit(0L))).as("r"))
        .localCheckpoint()
    }
    ranks.select(col("id"), col("r").as("rank_micro"))
  }

  /** Personalized PageRank — [[pageRank]] with the teleport restricted to
    * a seed set: each round `r'(v) = [v ∈ S]·0.15·unit + Σ damped
    * contributions`, initial mass `unit` on seeds and 0 elsewhere, so
    * rank flows OUT from the seeds and decays with graph distance — the
    * item-to-item recommendation primitive ("items related to what this
    * user/segment clicked"). Same integer arithmetic, same
    * bit-identical-under-any-partitioning property, same per-round plan
    * (one edge-vs-ranks key join, map-side dst sum, vertex left join,
    * checkpoint), same enforced overflow guard (total mass never exceeds
    * |S|·unit ≤ N·unit) with the same `strictUnit` escape for
    * oracle-pinned units (q166). Dangling vertices keep the decay
    * simplification. Output: (id, rank_micro) over ALL vertices
    * (unreached vertices report 0).
    */
  def personalizedPageRank(vertices: DataFrame, edges: DataFrame,
                           seeds: DataFrame, iters: Int = 3,
                           unit: Long = 1000000000000L,
                           strictUnit: Boolean = false): DataFrame = {
    require(iters >= 1, s"iters must be >= 1: $iters")
    require(unit >= 100L, s"unit must be >= 100: $unit")
    val verts = vertices.select(col("id")).distinct().localCheckpoint()
    val n = math.max(1L, verts.count())
    val maxUnit = Long.MaxValue / 85L / n
    val u = resolveUnit("personalizedPageRank", unit, maxUnit, strictUnit,
      s"n=$n vertices")
    val sd = seeds.select(col("id")).distinct()
    val seeded = verts
      .join(sd.withColumn("__s", lit(1L)), Seq("id"), "left")
      .select(col("id"), coalesce(col("__s"), lit(0L)).as("__seed"))
      .localCheckpoint()
    // r18: same loop-invariant hoist as pageRank — one cached
    // degree-annotated edge leaf instead of re-running the caller's edge
    // pipeline + degree aggregate + join every round. The checkpoint cuts
    // the lineage only: at scale each round's join still re-shuffles the
    // edge side
    val e = edges.select(col("src"), col("dst")).localCheckpoint(true)
    val deg = e.groupBy(col("src")).agg(count(lit(1)).as("__deg"))
    val ed = e.join(deg, Seq("src")).localCheckpoint(true)
    val base = (u * 15L) / 100L
    var ranks = seeded.select(col("id"), (col("__seed") * u).as("r"))
      .localCheckpoint()
    for (_ <- 0 until iters) {
      val contrib = ed
        .join(ranks.withColumnRenamed("id", "src"), Seq("src"))
        .select(col("dst").as("id"),
          expr("(r * 85L) div (100L * __deg)").as("__c"))
        .groupBy(col("id")).agg(sum(col("__c")).as("__sum"))
      ranks = seeded.join(contrib, Seq("id"), "left")
        .select(col("id"),
          (col("__seed") * base + coalesce(col("__sum"), lit(0L))).as("r"))
        .localCheckpoint()
    }
    ranks.select(col("id"), col("r").as("rank_micro"))
  }

  /** Canonical undirected simple-graph edge relation from a directed edge
    * list: endpoints ordered (a < b), loops dropped, duplicates collapsed.
    * One shuffle on the canonical pair key; materialized once
    * (localCheckpoint) because every consumer reads it several times. */
  private def canonicalEdges(edges: DataFrame): DataFrame =
    edges.select(
        least(col("src"), col("dst")).as("a"),
        greatest(col("src"), col("dst")).as("b"))
      .filter(col("a") =!= col("b"))
      .distinct()
      .localCheckpoint()

  /** The round driver of the neighbourhood fixpoints
    * ([[graft.llm.Dedup.connectedComponents]]' distributed side,
    * [[bfsDistance]], [[labelPropagation]]): each round gives every vertex
    * an aggregate of its neighbours' state.
    *
    * The edge side is built once: each undirected pair of `edges`' first
    * two (non-NULL) columns becomes the arcs a→b and b→a as
    * (`__src`, `__dst`) rows, plus a→a and b→b with `selfLoops`, so that a
    * vertex's own state rides the same join as its neighbours'. One
    * explode, hash-partitioned on `__dst` and checkpointed; it never
    * moves again.
    *
    * The state is (`id`, `v`), hash-partitioned on `id` the same way. A
    * round joins the two on `__dst = id`, where neither side moves, and
    * `step` aggregates the joined (`__src`, `__dst`, `v`) rows by `__src`
    * into the next (`id`, `v`) state. The aggregate's exchange is the
    * round's one data exchange, and it leaves the state partitioned for
    * the next round's join. With `init` None, round 1 reads each vertex's
    * own id as its state, with no join.
    *
    * `edges` and `init` should read checkpoints: the rounds plan without
    * adaptive execution (below), and a caller's pipeline under them
    * would run that way too. Each round's state is checkpointed eagerly,
    * which cuts its lineage. `progress`, if given, is a decimal aggregate over the state that is 0
    * at the initial state and grows while any `v` moves (so only a
    * monotone fixpoint has one). The checkpoint's job observes it, so the
    * convergence test costs no job of its own, and the rounds stop after
    * the first one that leaves it unchanged. Returns the state after at
    * most `maxRounds` rounds and whether `progress` settled.
    *
    * Adaptive execution is off while the rounds are planned and run. A
    * checkpoint of an adaptive plan reports no output partitioning, so
    * the next round's join would shuffle the edge side again. Without it,
    * each checkpoint is also one job instead of one job per stage. The
    * setting is session-wide while the rounds run and is restored after. */
  private[graft] def neighbourhoodRounds(edges: DataFrame, selfLoops: Boolean,
                                         init: Option[DataFrame],
                                         maxRounds: Int,
                                         progress: Option[Column] = None)
                                        (step: DataFrame => DataFrame)
  : (DataFrame, Boolean) = {
    require(maxRounds >= 1, s"maxRounds must be >= 1: $maxRounds")
    val spark = edges.sparkSession
    val nParts = spark.conf.get("spark.sql.shuffle.partitions").toInt
    val (a, b) = (col(edges.columns(0)), col(edges.columns(1)))
    def arc(s: Column, d: Column) = struct(s.as("s"), d.as("d"))
    val arcs = Seq(arc(a, b), arc(b, a)) ++
      (if (selfLoops) Seq(arc(a, a), arc(b, b)) else Nil)
    // without a user repartition on top, the aggregate's exchange could
    // plan a different partition count; with one, the planner drops it
    // when the aggregate already delivers this partitioning
    def checkpointed(state: DataFrame) =
      state.repartition(nParts, col("id")).localCheckpoint(true)
    nonAdaptive(spark) {
      val closed = edges.filter(a.isNotNull && b.isNotNull)
        .select(explode(array(arcs: _*)).as("__arc"))
        .select(col("__arc.s").as("__src"), col("__arc.d").as("__dst"))
        .repartition(nParts, col("__dst"))
        .localCheckpoint(true)
      var state = init.map(checkpointed)
      var last = java.math.BigDecimal.ZERO
      var settled = false
      var round = 0
      while (round < maxRounds && !settled) {
        val joined = state match {
          case None => closed.select(col("__src"), col("__dst"),
            col("__dst").as("v"))
          case Some(s) => closed
            .join(s.hint("shuffle_hash"), closed("__dst") === s("id"))
            .select(col("__src"), col("__dst"), col("v"))
        }
        val next = step(joined)
        state = Some(progress match {
          case None => checkpointed(next)
          case Some(p) =>
            val seen = Observation()
            val cp = checkpointed(next.observe(seen, p.as("progress")))
            val now = seen.get.get("progress").collect {
              case d: java.math.BigDecimal => d
            }.getOrElse(java.math.BigDecimal.ZERO)
            settled = now.compareTo(last) == 0
            last = now
            cp
        })
        round += 1
      }
      (state.get, settled)
    }
  }

  /** Runs `body` with adaptive execution off in `spark`'s session, then
    * restores the setting. */
  private def nonAdaptive[T](spark: SparkSession)(body: => T): T = {
    val key = "spark.sql.adaptive.enabled"
    val before = spark.conf.getOption(key)
    spark.conf.set(key, false)
    try body
    finally before.fold(spark.conf.unset(key))(spark.conf.set(key, _))
  }

  /** Per-vertex triangle statistics over an undirected simple graph —
    * degree, incident-triangle count, and local clustering coefficient.
    *
    * Algorithm: degree-ordered edge orientation + wedge closure (the
    * MapReduce triangle-counting design of Suri & Vassilvitskii, WWW'11):
    * each edge is oriented from its lower-(degree, id) endpoint to the
    * higher, wedges enumerate only at each edge's LOWER endpoint, and a
    * wedge (x, y) closes iff the oriented edge x→y exists. Orientation is
    * what makes this a 100 TB plan: wedge count is Σ out_deg² where every
    * out-degree is O(√m) by the orientation bound — a hub with a million
    * neighbors generates no wedges at all (its edges all point INTO it),
    * where the naive neighbor self-join would square the hub. Three
    * key-partitioned joins total, nothing driver-side, no window.
    *
    * The counts are exact integers, so any engine agrees bit-for-bit; the
    * clustering coefficient `2·tri / (deg·(deg−1))` is a SINGLE IEEE
    * division of two exact integers (the registry's ratio device) and is
    * therefore engine-identical too.
    *
    * Output: (v, degree, triangles, clustering) — one row per vertex with
    * degree ≥ 1; clustering is 0.0 for degree-1 vertices.
    */
  def triangleStats(edges: DataFrame): DataFrame = {
    val e = canonicalEdges(edges)
    val deg = e.select(col("a").as("v"))
      .union(e.select(col("b").as("v")))
      .groupBy(col("v")).agg(count(lit(1)).as("degree"))
      .localCheckpoint()
    // orient each edge lower-(degree, id) → higher; a < b already, so the
    // id tie-break reduces to "a first iff deg(a) <= deg(b)".
    val ed = e
      .join(deg.select(col("v").as("a"), col("degree").as("da")), Seq("a"))
      .join(deg.select(col("v").as("b"), col("degree").as("db")), Seq("b"))
    val aFirst = col("da") <= col("db")
    val oe = ed.select(
        when(aFirst, col("a")).otherwise(col("b")).as("src"),
        when(aFirst, col("b")).otherwise(col("a")).as("dst"),
        when(aFirst, col("db")).otherwise(col("da")).as("ddeg"))
      .localCheckpoint()
    // wedges at the low endpoint, ordered by the same (degree, id) key so
    // each unordered neighbor pair appears once and the closing edge is
    // known to be oriented x → y.
    val w1 = oe.select(col("src"), col("dst").as("x"), col("ddeg").as("dx"))
    val w2 = oe.select(col("src"), col("dst").as("y"), col("ddeg").as("dy"))
    val triangles = w1.join(w2, Seq("src"))
      .filter(col("dx") < col("dy") ||
        (col("dx") === col("dy") && col("x") < col("y")))
      .join(oe.select(col("src").as("x"), col("dst").as("y")), Seq("x", "y"))
    val perVertex = triangles.select(col("src").as("v"))
      .union(triangles.select(col("x").as("v")))
      .union(triangles.select(col("y").as("v")))
      .groupBy(col("v")).agg(count(lit(1)).as("triangles"))
    deg.join(perVertex, Seq("v"), "left")
      .select(col("v"), col("degree"),
        coalesce(col("triangles"), lit(0L)).as("triangles"))
      .withColumn("clustering",
        when(col("degree") < 2, lit(0.0))
          .otherwise((col("triangles") * 2L).cast("double") /
            (col("degree") * (col("degree") - 1L))))
  }

  /** Synchronous k-core peeling over an undirected simple graph: `rounds`
    * iterations of (degree → keep vertices with degree ≥ k → restrict
    * edges to kept endpoints), then the surviving (vertex, degree)
    * relation of the final subgraph. With enough rounds this is the
    * k-core by definition (peeling is monotone — each round only
    * removes, so it converges in at most |V| rounds and in practice a
    * handful); the ROUND COUNT is part of the operator contract, which
    * is what makes an iterative graph algorithm oracle-checkable at all
    * — the q138 device: a SQL twin runs the identical round-for-round
    * CTE chain, and every quantity is an exact integer, so the gate
    * checks the DISTRIBUTED peeling against the definitional one
    * bit-for-bit whether or not the fixpoint has been reached.
    *
    * 100 TB posture: per round one map-side-combined degree aggregate
    * over the edge relation and two semi-join restrictions on the
    * endpoint keys — all key-partitioned, bounded by the shrinking edge
    * relation, nothing driver-side; `localCheckpoint` per round
    * truncates the lineage exactly as pageRank does.
    *
    * Output: (v, degree) for vertices in the final subgraph with
    * degree ≥ k.
    */
  def kCore(edges: DataFrame, k: Int, rounds: Int = 6): DataFrame = {
    require(k >= 1, s"k must be >= 1: $k")
    require(rounds >= 1, s"rounds must be >= 1: $rounds")
    var e = canonicalEdges(edges)
    def degreeOf(ed: DataFrame) =
      ed.select(col("a").as("v")).union(ed.select(col("b").as("v")))
        .groupBy(col("v")).agg(count(lit(1)).as("degree"))
    for (_ <- 0 until rounds) {
      val surv = degreeOf(e).filter(col("degree") >= k).select(col("v"))
      e = e.join(surv.select(col("v").as("a")), Seq("a"))
        .join(surv.select(col("v").as("b")), Seq("b"))
        .select(col("a"), col("b"))
        .localCheckpoint()
    }
    degreeOf(e).filter(col("degree") >= k)
  }

  /** Synchronous label propagation (LPA community detection) over an
    * undirected simple graph, made DETERMINISTIC the only way an oracle
    * can check it: every vertex starts labeled with its own id; each
    * round every vertex simultaneously adopts the most frequent label
    * among its neighbors with ties broken by SMALLEST label (classic
    * async LPA breaks ties randomly — this is the derandomized
    * synchronous form); isolated vertices keep their label. The ROUND
    * COUNT is part of the contract (the q138/q162 device), so the SQL
    * twin runs the identical recurrence and the gate checks the
    * distributed form bit-for-bit, converged or not.
    *
    * 100 TB posture: the rounds run on [[neighbourhoodRounds]]. The
    * neighbour arcs (each edge both ways) are hash-partitioned and
    * checkpointed once; round 1 counts each vertex's neighbour ids with
    * no join, every later round joins the arcs to the labels where both
    * already lie. The joined rows move ONCE, to their vertex's partition,
    * where the (vertex, label) count and the per-vertex argmax (a MIN over
    * (−count, label) structs — an aggregate, never a rank window) both
    * run: one data exchange and one job per round. Every vertex of the
    * graph has a neighbour, so every vertex gets a vote each round and no
    * join back onto the vertex set is needed.
    *
    * Output: (v, label) — community assignment after `rounds` rounds.
    */
  def labelPropagation(edges: DataFrame, rounds: Int = 3): DataFrame = {
    require(rounds >= 1, s"rounds must be >= 1: $rounds")
    val (labels, _) = neighbourhoodRounds(canonicalEdges(edges),
        selfLoops = false, init = None, maxRounds = rounds) {
      // one exchange on the vertex (the session's shuffle partitions, the
      // driver's count) serves both aggregates: the count's grouping
      // contains the argmax's
      _.repartition(col("__src"))
        .groupBy(col("__src"), col("v")).agg(count(lit(1)).as("__c"))
        .groupBy(col("__src").as("id"))
        .agg(min(struct((-col("__c")).as("nc"), col("v").as("lbl"))).as("__m"))
        .select(col("id"), col("__m.lbl").as("v"))
    }
    labels.select(col("id").as("v"), col("v").as("label"))
  }

  /** Newman modularity of a vertex partition over an undirected simple
    * graph, in EXACT integer arithmetic: with m edges, e_c internal
    * edges and d_c total degree per community,
    * `Q = Σ_c (e_c/m − (d_c/2m)²) = q_num / (4m²)` where
    * `q_num = Σ_c (4m·e_c − d_c²)` — every term an exact BIGINT (fits
    * while 2m·max(d_c) stays under 2^63, i.e. any graph this engine's
    * fixpoints handle), the float ONE division by the exact constant
    * 4m². The "did the communities mean anything" score for
    * [[labelPropagation]] output.
    *
    * 100 TB posture: one broadcast-ready label relation joins each
    * edge endpoint (two key joins on the vertex), internal-edge and
    * degree sums are map-side-combined aggregates over |labels|-bounded
    * keys, and the final combine is a 1-row reduction crossed with the
    * 1-row edge count.
    *
    * Output: one row (m_edges, q_num, modularity).
    */
  def modularity(edges: DataFrame, labels: DataFrame): DataFrame = {
    val e = canonicalEdges(edges)
    val lab = labels.select(col(labels.columns.head).as("__v"),
      col(labels.columns(1)).as("__lbl")).localCheckpoint()
    val tagged = e
      .join(lab.select(col("__v").as("a"), col("__lbl").as("__la")),
        Seq("a"))
      .join(lab.select(col("__v").as("b"), col("__lbl").as("__lb")),
        Seq("b"))
    val mRow = e.agg(count(lit(1)).as("m"))
    val eIn = tagged.filter(col("__la") === col("__lb"))
      .groupBy(col("__la").as("__lbl"))
      .agg(count(lit(1)).as("__ein"))
    val deg = e.select(col("a").as("__v"))
      .union(e.select(col("b").as("__v")))
      .join(lab, Seq("__v"))
      .groupBy(col("__lbl")).agg(count(lit(1)).as("__d"))
    val perC = deg.join(eIn, Seq("__lbl"), "left")
      .select(col("__lbl"), col("__d"),
        coalesce(col("__ein"), lit(0L)).as("__ein"))
      .crossJoin(broadcast(mRow))
      .select((lit(4L) * col("m") * col("__ein") -
        col("__d") * col("__d")).as("__term"))
    perC.agg(sum(col("__term")).as("q_num"))
      .crossJoin(broadcast(mRow))
      .select(col("m").as("m_edges"), col("q_num"),
        (col("q_num").cast("double") /
          (lit(4L) * col("m") * col("m")).cast("double"))
          .as("modularity"))
  }

  /** Multi-source BFS hop distance over an undirected simple graph —
    * the MIN-merge fixed point completing the recurrence family
    * (PageRank propagates by SUM, k-core restricts, LPA votes, BFS
    * tightens a minimum): every seed starts at distance 0; each round
    * every vertex takes `min(own, min over neighbors + 1)`. After
    * `rounds` rounds the relation is EXACTLY the vertices within that
    * many hops of a seed, with true hop distances (unreached vertices
    * are absent, not ∞-rows). The round count is part of the contract
    * (the q138/q162/q166 device): the SQL twin replays the identical
    * recurrence, so the gate checks bit-for-bit at any horizon.
    *
    * 100 TB posture: the rounds run on [[neighbourhoodRounds]]. The
    * closed neighbourhood (each edge both ways plus a self-loop per
    * endpoint, which carries a vertex's own distance at +0) is
    * hash-partitioned and checkpointed once; a round joins it to the
    * (≤ |V|-row, monotonically growing) distance relation where both
    * already lie and takes one map-side-combined per-vertex MIN: one data
    * exchange and one job per round. Seeds with no edges still appear at
    * distance 0 — membership comes from the caller's seed relation, not
    * the edge scan — joined back after the rounds.
    *
    * Output: (v, dist) for every vertex within `rounds` hops.
    */
  def bfsDistance(edges: DataFrame, seeds: DataFrame,
                  rounds: Int = 3): DataFrame = {
    require(rounds >= 1, s"rounds must be >= 1: $rounds")
    val seed = seeds.select(col(seeds.columns.head).as("id")).distinct()
      .localCheckpoint()
    val (dist, _) = neighbourhoodRounds(canonicalEdges(edges),
        selfLoops = true, init = Some(seed.select(col("id"), lit(0L).as("v"))),
        maxRounds = rounds) {
      _.groupBy(col("__src").as("id"))
        .agg(min(col("v") +
          when(col("__src") === col("__dst"), 0L).otherwise(1L)).as("v"))
    }
    dist.union(seed.join(dist.select("id"), Seq("id"), "left_anti")
        .select(col("id"), lit(0L).as("v")))
      .select(col("id").as("v"), col("v").as("dist"))
  }

  /** One-row structural summary of an undirected simple graph: vertex /
    * edge / wedge / triangle counts, max degree, and the global
    * clustering coefficient `3·triangles / wedges` — every count an
    * exact integer derived from [[triangleStats]] (edges = Σdeg/2,
    * wedges = Σ deg·(deg−1)/2 — both exact: deg·(deg−1) is even;
    * triangles = Σ per-vertex /3), the coefficient one IEEE division.
    * The "is my graph sane" dashboard row: one bounded aggregate over
    * the per-vertex relation, nothing new crosses the shuffle.
    */
  def graphSummary(edges: DataFrame): DataFrame =
    triangleStats(edges).agg(
        count(lit(1)).as("n_vertices"),
        expr("sum(degree) div 2L").as("n_edges"),
        sum(expr("degree * (degree - 1L) div 2L")).as("n_wedges"),
        expr("sum(triangles) div 3L").as("n_triangles"),
        max(col("degree")).as("max_degree"))
      .withColumn("global_clustering",
        when(col("n_wedges") === 0L, lit(0.0))
          .otherwise((col("n_triangles") * 3L).cast("double") /
            col("n_wedges")))

  /** Common-neighbor link prediction over an undirected simple graph: for
    * every NON-adjacent vertex pair with at least one shared neighbor,
    * the shared-neighbor count and neighborhood Jaccard
    * `cn / (deg_x + deg_y − cn)`, top `k` by (count desc, x, y).
    *
    * The pair relation enumerates wedges at each shared neighbor (one
    * self-join of the adjacency list on the apex key, map-side-combined
    * count on the canonical pair), then a left-anti join removes pairs
    * that are already edges. The Jaccard is one IEEE division of exact
    * integers; the top-k lowers to TakeOrderedAndProject under the fully
    * deterministic (common desc, x, y) key — never a global sort.
    *
    * 100 TB posture: wedge volume is Σ deg² on the apex key — real
    * deployments cap hot apexes the way ItemCf.positionalPairs caps hot
    * users (`maxApexDegree`; apexes above the cap contribute no wedges,
    * documented undercount, same device as A7c). The anti join and the
    * two degree joins all ride the bounded pair/vertex relations, never
    * the raw graph.
    */
  def commonNeighborPairs(edges: DataFrame, k: Int = 50,
                          maxApexDegree: Int = 10000): DataFrame = {
    require(k >= 1, s"k must be >= 1: $k")
    val e = canonicalEdges(edges)
    val deg = e.select(col("a").as("v"))
      .union(e.select(col("b").as("v")))
      .groupBy(col("v")).agg(count(lit(1)).as("deg"))
      .localCheckpoint()
    val nbr = e.select(col("a").as("u"), col("b").as("w"))
      .union(e.select(col("b").as("u"), col("a").as("w")))
      .join(deg.select(col("v").as("u"), col("deg").as("du"))
        .filter(col("du") <= maxApexDegree).select(col("u")), Seq("u"))
    val cn = nbr.select(col("u"), col("w").as("x"))
      .join(nbr.select(col("u"), col("w").as("y")), Seq("u"))
      .filter(col("x") < col("y"))
      .groupBy(col("x"), col("y")).agg(count(lit(1)).as("common"))
    cn.join(e.select(col("a").as("x"), col("b").as("y")),
        Seq("x", "y"), "left_anti")
      .join(deg.select(col("v").as("x"), col("deg").as("dx")), Seq("x"))
      .join(deg.select(col("v").as("y"), col("deg").as("dy")), Seq("y"))
      .select(col("x"), col("y"), col("common"),
        (col("common").cast("double") /
          (col("dx") + col("dy") - col("common"))).as("jaccard"))
      .orderBy(col("common").desc, col("x"), col("y"))
      .limit(k)
  }

  /** Degree assortativity (Newman 2002) of an undirected simple graph:
    * the Pearson correlation of (deg(u), deg(v)) over the DIRECTED edge
    * list (each undirected edge contributes both orientations — the
    * standard convention, which also makes the x/y moments symmetric).
    * Positive: hubs attach to hubs (social graphs); negative: hubs
    * attach to leaves (star-like catalogs).
    *
    * Exact-moment device (the q169/q180/q181 family applied to a graph
    * statistic): degrees come from one edge-keyed aggregate, the five
    * moments are exact BIGINTs over the edge relation, and the
    * coefficient is one cast/multiply/sqrt/divide chain — so an oracle
    * can pin an aggregate graph invariant bit-for-bit. At 10⁹-edge
    * scale with 10⁶-degree hubs the moments lift to DECIMAL(38,0) on
    * the identical plan (n·Σxy headroom documented at call sites).
    *
    * Output: one row (n_dedges, cov_num, var_x, var_y, assortativity);
    * assortativity is NULL on a degree-regular graph (zero variance —
    * the correlation is undefined there, and the explicit NULL keeps
    * ANSI mode from faulting on the 0/0).
    */
  def degreeAssortativity(edges: DataFrame): DataFrame = {
    val e = canonicalEdges(edges)
    val dir = e.select(col("a").as("src"), col("b").as("dst"))
      .union(e.select(col("b").as("src"), col("a").as("dst")))
      .localCheckpoint()
    val deg = dir.groupBy(col("src").as("v")).agg(count(lit(1)).as("deg"))
    dir
      .join(deg.select(col("v").as("src"), col("deg").as("dx")), Seq("src"))
      .join(deg.select(col("v").as("dst"), col("deg").as("dy")), Seq("dst"))
      .agg(count(lit(1)).as("n_dedges"),
        sum(col("dx")).as("__sx"), sum(col("dy")).as("__sy"),
        sum(col("dx") * col("dy")).as("__sxy"),
        sum(col("dx") * col("dx")).as("__sxx"),
        sum(col("dy") * col("dy")).as("__syy"))
      .select(col("n_dedges"),
        (col("n_dedges") * col("__sxy") - col("__sx") * col("__sy"))
          .as("cov_num"),
        (col("n_dedges") * col("__sxx") - col("__sx") * col("__sx"))
          .as("var_x"),
        (col("n_dedges") * col("__syy") - col("__sy") * col("__sy"))
          .as("var_y"))
      .withColumn("assortativity",
        when(col("var_x") === 0L || col("var_y") === 0L, lit(null))
          .otherwise(col("cov_num").cast("double") /
            sqrt(col("var_x").cast("double") * col("var_y").cast("double"))))
  }

  /** HITS hubs & authorities (Kleinberg's mutual-reinforcement fixed
    * point) — the DIRECTED dual PageRank lacks: a vertex is a good HUB
    * when it points at good authorities and a good AUTHORITY when good
    * hubs point at it. Each round is two edge-keyed propagation joins
    * with an L1 normalization between them, all in exact integer
    * arithmetic so the generated unrolled-CTE oracle checks it
    * bit-for-bit (the [[pageRank]] device):
    *
    *   auth_raw(v) = Σ_{u→v} hub(u);   auth(v) = auth_raw·unit div S_a
    *   hub_raw(u)  = Σ_{u→v} auth(v);  hub(u)  = hub_raw·unit div S_h
    *
    * where S_a/S_h are the 1-row raw sums (floored division — scores sum
    * to ≤ unit, losing at most N micro-units per normalization; the
    * GREATEST(S,1) guard keeps an edgeless graph at all-zero scores
    * instead of dividing by zero). Deterministic under any partitioning:
    * integer sums are order-free and the normalizers are global scalars.
    *
    * Overflow guard: raw sums are bounded by E·unit (each hub/auth ≤
    * unit after round one), so the hottest product `raw·unit` needs
    * `E·unit² ≤ Long.Max`; a caller unit that would wrap auto-scales
    * down to the largest safe power of ten, loudly, exactly as
    * [[pageRank]] does (E is one bounded count, run once). When the
    * caller's scores are checked against an oracle GENERATED at a fixed
    * unit (q208), a silent rescale would make the pair diverge by
    * design rather than fail loud — `strictUnit = true` throws instead
    * of rescaling, turning the divergence into an error at the source.
    *
    * 100 TB posture: per-round cost is two shuffles on the edge keys +
    * two 1-row aggregates broadcast back by the crossJoin idiom; state
    * is one (id, score) row per vertex per side; lineage truncated per
    * round with localCheckpoint, same contract as the PageRank family.
    * The checkpointed edge relation keeps no key partitioning (a
    * checkpoint of an adaptive plan reports none), so at scale both
    * joins re-shuffle it every round.
    *
    * Output: (id, hub_micro, auth_micro) after `iters` full rounds.
    */
  def hits(vertices: DataFrame, edges: DataFrame, iters: Int = 4,
           unit: Long = 1000000L, strictUnit: Boolean = false): DataFrame = {
    require(iters >= 1, s"iters must be >= 1: $iters")
    require(unit >= 100L, s"unit must be >= 100: $unit")
    val verts = vertices.select(col("id")).distinct().localCheckpoint()
    val e = edges.select(col("src"), col("dst")).distinct().localCheckpoint()
    val m = math.max(1L, e.count())
    // largest u with m * u * u <= Long.Max, via the square-root bound;
    // passed UNclamped so strict mode still throws at extreme edge
    // counts (m > ~9.2e14, where the bound falls under the 100 floor) —
    // the clamp only ever feeds the non-strict auto-scale path inside
    // resolveUnit.
    val rawBound = math.sqrt(Long.MaxValue.toDouble / m).toLong - 1L
    val u = resolveUnit("hits", unit, rawBound, strictUnit, s"m=$m edges")
    def normalize(raw: DataFrame, outCol: String): DataFrame = {
      // raw: (id, __raw) for a SUBSET of vertices; spine back onto verts,
      // 1-row L1 total broadcast back via crossJoin
      val total = raw.agg(greatest(coalesce(sum(col("__raw")), lit(0L)),
        lit(1L)).as("__t"))
      verts.join(raw, Seq("id"), "left")
        .crossJoin(total)
        .select(col("id"),
          expr(s"(coalesce(__raw, 0L) * ${u}L) div __t").as(outCol))
    }
    var hub = verts.select(col("id"), lit(u).as("h")).localCheckpoint()
    var auth: DataFrame = null
    for (_ <- 0 until iters) {
      val authRaw = e.join(hub.withColumnRenamed("id", "src"), Seq("src"))
        .groupBy(col("dst").as("id")).agg(sum(col("h")).as("__raw"))
      auth = normalize(authRaw, "a").localCheckpoint()
      val hubRaw = e.join(auth.withColumnRenamed("id", "dst"), Seq("dst"))
        .groupBy(col("src").as("id")).agg(sum(col("a")).as("__raw"))
      hub = normalize(hubRaw, "h").localCheckpoint()
    }
    hub.join(auth, Seq("id"))
      .select(col("id"), col("h").as("hub_micro"), col("a").as("auth_micro"))
  }

  /** Directed-graph reciprocity summary — the one-row orientation audit
    * for a DIRECTED edge relation (what fraction of edges are returned):
    * `n_mutual` counts edges whose reverse is also present (so a
    * symmetric pair contributes 2), `reciprocity_ppm` is the exact
    * integer `n_mutual·10⁶ div n_edges`. On a session graph this
    * separates one-way funnels (A is clicked before B, never after)
    * from genuine back-and-forth pairs — the signal that decides
    * whether downstream algorithms may symmetrize.
    *
    * Self-loops and NULL-endpoint edges are EXCLUDED from the edge
    * relation before anything is counted: a loop's reverse is itself,
    * so counting it would inflate `n_mutual` by one per loop (making it
    * odd and the floored `n_sym_pairs` undercount) while saying nothing
    * about reciprocity between distinct endpoints; a NULL endpoint has
    * no well-defined reverse at all (it could never match the semi-join
    * key), so it is dropped EXPLICITLY — stated semantics, not a
    * three-valued-logic side effect of the `=!=` filter. The q212
    * substrate already filters `prev <> item` over non-null keys, so
    * the registry row is unchanged; the filters make the generic
    * operator honest on raw edge lists too.
    *
    * One distinct + one self-semi-join on the reversed key + bounded
    * aggregates; nothing quadratic, nothing collected.
    *
    * Output: (n_vertices, n_edges, n_mutual, n_sym_pairs,
    * reciprocity_ppm).
    */
  /** Strongly connected components of a DIRECTED graph — the directed
    * counterpart of the dedup pipeline's hash-min connected components,
    * and the one classic graph primitive the family still lacked
    * (PageRank's convergence theory, cycle-safe DAG rollups, and "is
    * this follow-graph one community or a hierarchy" all start from the
    * SCC condensation). Tarjan/Kosaraju are inherently sequential
    * (DFS), so this is the distributed COLORING algorithm (the FW-BW /
    * Orzan family): repeatedly
    *
    *  1. color every active vertex with the MAX id that reaches it
    *     (forward max-label propagation to a fixpoint — labels only
    *     grow, so an unchanged exact-decimal label sum IS convergence,
    *     the [[graft.llm.Dedup.connectedComponents]] device);
    *  2. inside each color class, mark the vertices that reach the
    *     class root `r` (`color(r) = r`) by BACKWARD propagation to a
    *     fixpoint (marks only grow; unchanged count = converged) — a
    *     member's whole v→…→r path stays inside the class, so the
    *     class-restricted propagation loses nothing;
    *  3. the marked set of class `r` is EXACTLY SCC(r) — mutual
    *     reachability with the root — peel it off and repeat on the
    *     remainder.
    *
    * The emitted representative is deterministic and definitional: `r`
    * is reachable from every member and every member reaches `r`, so
    * `r = max{id ∈ SCC}` — which is what a DEFINITIONAL oracle
    * (recursive-CTE transitive closure, mutual-reach MAX) computes
    * without ever hearing about colors. Unlike the round-count-pinned
    * iterations (q138/q162), the contract here is the CONVERGED answer:
    * partial colorings are not SCCs, so the loops run to their
    * fixpoints. `maxPeels` is the loud-failure bound on cycle-bearing
    * peels; the inner fixpoints are bounded by
    * `max(maxIters, |active| + 1)` — monotone one-hop propagation
    * provably converges within |active| rounds, so that require is an
    * invariant check (a bug detector), and a trim-immune deep path
    * BETWEEN cycles converges slowly instead of erroring.
    *
    * 100 TB posture: per round one edge-keyed join + one
    * map-side-combined MAX (or a semi-join-shaped mark union), all
    * key-partitioned, nothing driver-side but the convergence scalars;
    * localCheckpoint truncates lineage every round. Each peel removes
    * at least every current color-class root's SCC, so dense graphs
    * (one giant SCC + fringe) finish in a couple of peels. Before every
    * coloring round a TRIM phase (the FW-BW "Trim" step) peels vertices
    * with zero in-degree or zero out-degree in the ACTIVE subgraph as
    * singleton SCCs, to a fixpoint: a vertex missing either direction
    * cannot sit on a cycle, and removing it exposes the next layer —
    * so any DAG region (the common shape of click/funnel graphs, where
    * most vertices are trivial SCCs) drains through cheap semi-joins
    * instead of one full color+mark fixpoint per root class. After trim,
    * every remaining vertex has both an in- and an out-edge, and peels
    * are spent only on genuine cycle structure; the r14 worst case (a
    * chain of singleton SCCs needing one peel per root) now takes ZERO
    * peels. Trim rounds are capped by `maxIters` per peel — hitting the
    * cap just hands the remainder to the coloring phase (trim is an
    * optimization, never semantics), so `maxPeels` stays the only loud
    * bound and now counts only cycle-bearing peels.
    *
    * Output: (id, scc) — scc = MAX vertex id of the component. Vertices
    * are the edge endpoints; callers wanting isolated vertices union
    * them in as identity rows (they are their own singleton SCCs).
    *
    * With at most the [[Scale.Cutover.Graph]] bound of normalized edges
    * (2^18 by default) the graph is COLLECTED and solved by iterative
    * driver-side Tarjan instead — the
    * [[graft.llm.Dedup.connectedComponents]] cutover device applied to
    * SCC: a bounded edge list costs one typed collect and zero
    * fixpoint shuffles, where the distributed trim+color+mark loop
    * pays 10+ jobs of fixed overhead even on a 2,710-edge graph
    * (measured ~3 s warm on q227's sf0.1 click graph — ALL scheduling,
    * no data). Tarjan emits the same definitional answer (rep = MAX
    * member id, the mutual-reachability maximum), so the cutover is
    * invisible in results (OperatorSpec pins driver == distributed on
    * randomized digraphs); a bound of 0 forces the distributed path.
    * `maxPeels`/`maxIters` bound only that path.
    */
  def stronglyConnectedComponents(edges: DataFrame, maxPeels: Int = 50,
                                  maxIters: Int = 200): DataFrame = {
    val e0 = normalizeDirectedEdges(edges)
    if (Scale.smallSide(e0, Scale.Cutover.Graph.bound(e0.sparkSession)))
      sccOnDriver(e0)
    else sccOfNormalized(e0, maxPeels, maxIters)._1
  }

  /** Collect a bounded normalized edge list and solve SCC with
    * iterative Tarjan; comp rep = MAX member id (definitional). The
    * typed collect keeps per-edge overhead at two boxed longs, and
    * normalization already dropped NULL/uncastable endpoints, so the
    * driver and distributed paths see the identical relation. */
  private def sccOnDriver(e0: DataFrame): DataFrame = {
    val sp = e0.sparkSession
    import sp.implicits._
    val comp = tarjanComponents(e0.as[(Long, Long)].collect())
    if (comp.isEmpty) sp.emptyDataset[(Long, Long)].toDF("id", "scc")
    else comp.toSeq.toDF("id", "scc")
  }

  /** Iterative (explicit-stack) Tarjan over a collected edge list.
    * Returns member → MAX member id of its SCC — exactly what the
    * distributed color+mark peeling emits, since the max id of a
    * component is mutually reachable with every member. Explicit DFS
    * frames instead of recursion: a 2^18-edge path graph would blow
    * the JVM stack at the default 512k frames. */
  private def tarjanComponents(edges: Array[(Long, Long)])
  : scala.collection.mutable.HashMap[Long, Long] = {
    import scala.collection.mutable
    val adj = mutable.HashMap.empty[Long, mutable.ArrayBuffer[Long]]
    val verts = mutable.LinkedHashSet.empty[Long]
    edges.foreach { case (s, d) =>
      verts += s; verts += d
      adj.getOrElseUpdate(s, mutable.ArrayBuffer.empty[Long]) += d
    }
    val index = mutable.HashMap.empty[Long, Int]
    val low = mutable.HashMap.empty[Long, Int]
    val onStack = mutable.HashSet.empty[Long]
    val stack = mutable.ArrayBuffer.empty[Long]
    val comp = mutable.HashMap.empty[Long, Long]
    val noKids = mutable.ArrayBuffer.empty[Long]
    var counter = 0
    verts.foreach { root =>
      if (!index.contains(root)) {
        val vFrames = mutable.ArrayBuffer.empty[Long]
        val cFrames = mutable.ArrayBuffer.empty[Int]
        vFrames += root; cFrames += 0
        index(root) = counter; low(root) = counter; counter += 1
        stack += root; onStack += root
        while (vFrames.nonEmpty) {
          val v = vFrames.last
          val ci = cFrames.last
          val kids = adj.getOrElse(v, noKids)
          if (ci < kids.length) {
            cFrames(cFrames.length - 1) = ci + 1
            val w = kids(ci)
            if (!index.contains(w)) {
              index(w) = counter; low(w) = counter; counter += 1
              stack += w; onStack += w
              vFrames += w; cFrames += 0
            } else if (onStack(w)) low(v) = math.min(low(v), index(w))
          } else {
            vFrames.remove(vFrames.length - 1)
            cFrames.remove(cFrames.length - 1)
            if (vFrames.nonEmpty) {
              val p = vFrames.last
              low(p) = math.min(low(p), low(v))
            }
            if (low(v) == index(v)) {
              val members = mutable.ArrayBuffer.empty[Long]
              var w = 0L
              do {
                w = stack.remove(stack.length - 1)
                onStack -= w
                members += w
              } while (w != v)
              val rep = members.max
              members.foreach(m => comp(m) = rep)
            }
          }
        }
      }
    }
    comp
  }

  /** Convergence telemetry of one SCC run: how many color+mark peels the
    * cyclic structure cost and how much the Trim phase drained for free.
    * Exists so the chain-graph property test can PIN that trim works
    * (peels ≪ n on funnel shapes) instead of trusting the scaladoc.
    * Always runs the DISTRIBUTED path (no driver cutover) — the stats
    * are properties of that algorithm, not of the answer. */
  private[graft] final case class SccStats(peels: Int, trimRounds: Int,
                                           trimmed: Long)

  private[graft] def sccWithStats(edges: DataFrame, maxPeels: Int = 50,
                                  maxIters: Int = 200)
  : (DataFrame, SccStats) =
    sccOfNormalized(normalizeDirectedEdges(edges), maxPeels, maxIters)

  /** Cast/NULL-drop/dedup a directed edge list once, eagerly — shared
    * by the SCC entry points so [[sccCondensation]] does not normalize
    * and materialize the corpus-sized relation twice. */
  private def normalizeDirectedEdges(edges: DataFrame): DataFrame =
    edges
      // try_cast: uncastable endpoints normalize to NULL and drop with
      // the NULLs (ANSI mode makes a plain cast THROW on dirty input)
      .select(col("src").as("__src0"), col("dst").as("__dst0"))
      .select(expr("try_cast(__src0 AS BIGINT)").as("src"),
        expr("try_cast(__dst0 AS BIGINT)").as("dst"))
      .filter(col("src").isNotNull && col("dst").isNotNull)
      .distinct().localCheckpoint(true)

  private def sccOfNormalized(e0: DataFrame, maxPeels: Int,
                              maxIters: Int): (DataFrame, SccStats) = {
    var eAct = e0
    var active = e0.select(col("src").as("id"))
      .unionByName(e0.select(col("dst").as("id")))
      .distinct().localCheckpoint(true)
    var remaining = active.count()
    var assigned: DataFrame = null
    def decSum(df: DataFrame, c: String): java.math.BigDecimal = {
      val s = df.agg(sum(col(c).cast("decimal(38,0)"))).head().getDecimal(0)
      if (s == null) java.math.BigDecimal.ZERO else s
    }
    var peels = 0
    var trimRounds = 0
    var trimmed = 0L
    while (remaining > 0) {
      // TRIM: peel zero-in/zero-out-degree vertices as singleton SCCs to
      // a fixpoint (capped by maxIters — past the cap the remainder just
      // goes to the coloring phase, trim never changes the answer). Each
      // round is ONE map-side-combined direction-flag aggregate over the
      // active edge endpoints (an endpoint set that IS the active set,
      // since edge-less actives are trivial by definition) — not the
      // 2-distinct + 2-semi-join shape, whose fixed overhead showed up
      // as +45% on q227/q232 at sf0.1. The trivial frames accumulate
      // lazily and fold into `assigned` once per phase.
      var trimPhase = Seq.empty[DataFrame]
      var trimming = true
      var tr = 0
      while (trimming && remaining > 0 && tr < maxIters) {
        val haveBoth = eAct
          .select(col("src").as("id"), lit(1).as("__o"), lit(0).as("__i"))
          .unionByName(eAct
            .select(col("dst").as("id"), lit(0).as("__o"), lit(1).as("__i")))
          .groupBy(col("id"))
          .agg(max(col("__o")).as("__o"), max(col("__i")).as("__i"))
          .filter(col("__o") === 1 && col("__i") === 1)
          .select(col("id"))
          // lazy: the count below materializes + caches in ONE job; an
          // eager checkpoint paid a dedicated job per check, wasted
          // whenever the round finds nothing to trim (the common case
          // on real click graphs — ProfileScc: 0 trim rounds at sf0.1)
          .localCheckpoint(false)
        val nBoth = haveBoth.count()
        if (nBoth == remaining) trimming = false
        else {
          tr += 1
          trimRounds += 1
          trimmed += remaining - nBoth
          trimPhase = trimPhase :+ active
            .join(haveBoth, Seq("id"), "left_anti")
            .select(col("id"), col("id").as("color"))
          active = haveBoth
          remaining = nBoth
          // both endpoints must survive for the edge to stay active
          eAct = eAct
            .join(active.select(col("id").as("src")), Seq("src"), "left_semi")
            .join(active.select(col("id").as("dst")), Seq("dst"), "left_semi")
            .localCheckpoint(true)
        }
      }
      if (trimPhase.nonEmpty) {
        val tAll = trimPhase.reduce(_ unionByName _)
        assigned =
          (if (assigned == null) tAll else assigned.unionByName(tAll))
            .localCheckpoint(true)
      }
      if (remaining > 0) {
      peels += 1
      require(peels <= maxPeels,
        s"scc: $remaining vertices unassigned after $maxPeels peels — " +
          "raise maxPeels (every remaining vertex sits on cycle " +
          "structure; trim already drained the DAG regions)")
      // fixpoint bound: one-hop propagation provably converges within
      // |active| rounds (each round the frontier of final labels grows
      // by at least one vertex), so max(maxIters, remaining + 1) makes
      // the require a true invariant check — a trim-immune path BETWEEN
      // two cycles (deeper than a fixed maxIters) now converges slowly
      // instead of erroring, the r14 ADVICE item
      val iterBound = math.max(maxIters.toLong, remaining + 1L)
      // 1. forward max-color fixpoint on the active subgraph
      var colors = active.select(col("id"), col("id").as("color"))
        .localCheckpoint(true)
      var last = decSum(colors, "color")
      var it = 0
      var done = false
      while (!done) {
        it += 1
        require(it <= iterBound, s"scc: color fixpoint still moving " +
          s"after $iterBound rounds over $remaining vertices — " +
          "monotone max-label propagation cannot need more; this is a bug")
        val prop = eAct
          .join(colors.select(col("id").as("src"), col("color")), Seq("src"))
          .groupBy(col("dst").as("id")).agg(max(col("color")).as("__p"))
        val next = colors.join(prop, Seq("id"), "left")
          .select(col("id"),
            greatest(col("color"), coalesce(col("__p"), col("color")))
              .as("color"))
          .localCheckpoint(true)
        val s = decSum(next, "color")
        colors = next
        done = s.compareTo(last) == 0
        last = s
      }
      // 2. backward mark fixpoint within each color class (roots seed)
      var marked = colors.filter(col("id") === col("color"))
        .localCheckpoint(true)
      var mCount = marked.count()
      it = 0
      done = false
      while (!done) {
        it += 1
        require(it <= iterBound, s"scc: mark fixpoint still moving " +
          s"after $iterBound rounds over $remaining vertices — " +
          "monotone mark growth cannot need more; this is a bug")
        val cand = eAct
          .join(marked.select(col("id").as("dst"), col("color").as("__mc")),
            Seq("dst"))
          .select(col("src").as("id"), col("__mc"))
          .join(colors, Seq("id"))
          .filter(col("color") === col("__mc"))
          .select(col("id"), col("color"))
        val next = marked.unionByName(cand).distinct().localCheckpoint(true)
        val c = next.count()
        done = c == mCount
        marked = next
        mCount = c
      }
      // 3. peel: the marked set is exactly the union of the root SCCs
      assigned =
        if (assigned == null) marked
        else assigned.unionByName(marked).localCheckpoint(true)
      active = active.join(marked.select(col("id")), Seq("id"), "left_anti")
        .localCheckpoint(true)
      remaining = active.count()
      eAct = eAct
        .join(marked.select(col("id").as("src")), Seq("src"), "left_anti")
        .join(marked.select(col("id").as("dst")), Seq("dst"), "left_anti")
        .select(col("src"), col("dst")).localCheckpoint(true)
      }
    }
    val out =
      if (assigned == null)
        active.select(col("id"), col("id").as("scc")) // edgeless input: empty
      else assigned.select(col("id"), col("color").as("scc"))
    (out, SccStats(peels, trimRounds, trimmed))
  }

  /** Deterministic random walks — the DeepWalk/node2vec corpus-generation
    * step of graph-embedding pipelines, derandomized the only way an
    * oracle can check it: at step t a walk from `start` sitting on `cur`
    * moves to the out-neighbor at index
    * `mix57(fp(start:cur:rep:t|rw)) mod out_deg(cur)`
    * in the id-ordered adjacency — every choice a pure function of
    * (walk identity, position, step) on the shared portable hash, so the
    * corpus is bit-identical across engines, partitionings, and reruns
    * (classic walkers draw from an RNG, which makes their output
    * unverifiable-by-twin; training pipelines also want exactly this
    * reproducibility). Walks start once per (vertex, replica), advance
    * `len` steps, and STOP at sinks (a vertex with no out-edges emits no
    * further rows — documented truncation, not teleport).
    *
    * Output: (start, rep, step, node) — step 0 is the start itself; one
    * row per visited position. The fixed step count is part of the
    * contract (the q138/q208 round-count device): the oracle unrolls the
    * same `len` joins.
    *
    * 100 TB posture: the indexed adjacency is one src-partitioned rank
    * window over the edge list; each step is one equi join of the walk
    * frontier against it (key-partitioned, frontier ≤ |V|·reps rows);
    * localCheckpoint per step truncates lineage. No RNG state, no
    * driver-side walking.
    */
  def randomWalks(edges: DataFrame, len: Int = 4, reps: Int = 2)
  : DataFrame = {
    require(len >= 1 && reps >= 1, s"len/reps must be >= 1: $len/$reps")
    val e0 = normalizeDirectedEdges(edges)
    val w = Window.partitionBy(col("src")).orderBy(col("dst"))
    val adj = e0
      .withColumn("idx", (row_number().over(w) - 1).cast("long"))
      .withColumn("deg", count(lit(1)).over(
        Window.partitionBy(col("src"))))
      .localCheckpoint(true)
    val verts = e0.select(col("src").as("id"))
      .unionByName(e0.select(col("dst").as("id")))
      .distinct()
    val starts = verts.crossJoin(
        e0.sparkSession.range(reps).select(col("id").cast("long").as("rep")))
      .select(col("id").as("start"), col("rep"))
    var frontier = starts
      .select(col("start"), col("rep"), lit(0L).as("step"),
        col("start").as("node"))
      .localCheckpoint(true)
    var out = frontier
    for (t <- 1 to len) {
      // start is IN the hash (r14 ADVICE): without it, walks from
      // different starts that meet at the same node at the same step
      // within a replica follow identical suffixes — folding the start
      // in restores the trajectory diversity of independent walks while
      // staying a pure function the oracle unrolls identically
      val h = Sketch.mix57(graft.llm.TextAnalysis.fingerprint(
        concat(col("start").cast("string"), lit(":"),
          col("node").cast("string"), lit(":"),
          col("rep").cast("string"), lit(s":$t|rw"))))
      val stepped = frontier
        .select(col("start"), col("rep"), col("node"), h.as("__h"))
        .join(adj, col("node") === col("src") &&
          col("idx") === pmod(col("__h"), col("deg")))
        .select(col("start"), col("rep"), lit(t.toLong).as("step"),
          col("dst").as("node"))
        .localCheckpoint(true)
      out = out.unionByName(stepped)
      frontier = stepped
    }
    out
  }

  /** Deterministic degree-proportional negative sampling — the skip-gram
    * negatives that pair with [[randomWalks]]' positive corpus: draw j
    * lands at `t_j = mix57(fp(j|neg)) mod T` on the concatenated
    * degree-interval line (node i owns `[lo_i, lo_i + deg_i)`, lo by
    * id-ordered prefix sum, T = total degree), so every draw resolves
    * ∝ degree, reproducibly, with no RNG and no alias table. The
    * interval lookup is NOT a range join: draws and interval starts
    * both bucket by `t div ceil(T/buckets)`, each interval replicating
    * only into the buckets it overlaps (≤ buckets extra rows total),
    * and inside a bucket the winner is "last start ≤ t" — exactly
    * [[AsOf.joinAsOf]]'s tagged-union window, partitioned on the
    * bucket key. The winning interval always contains its draw because
    * intervals tile [0, T) contiguously.
    *
    * Output: (draw_id, t, node).
    *
    * 100 TB posture: the prefix sum is the two-phase
    * [[Scale.globalCumSum]] (never a single-partition window over the
    * vocabulary); T is a 1-row broadcast; the lookup shuffles on the
    * bucket key with bounded replication. The oracle keeps the
    * definitional `lo ≤ t < hi` range join — the
    * rewrite-vs-definition adversarial pairing.
    */
  def negativeSamples(edges: DataFrame, nDraws: Int = 256,
                      buckets: Int = 32): DataFrame = {
    require(nDraws >= 1 && buckets >= 1,
      s"nDraws/buckets must be >= 1: $nDraws/$buckets")
    val e0 = normalizeDirectedEdges(edges)
    val deg = e0.select(col("src").as("id"))
      .unionByName(e0.select(col("dst").as("id")))
      .groupBy(col("id")).agg(count(lit(1)).as("deg"))
    val cum = Scale.globalCumSum(deg, "id", "deg", "cum")
      .withColumn("lo", col("cum") - col("deg"))
      .localCheckpoint(true)
    val tot = cum.agg(max(col("cum")).as("__tot"))
    val wExpr = s"((__tot + ${buckets - 1}) div $buckets)" // ceil(T/buckets)
    val spark = edges.sparkSession
    val draws = spark.range(nDraws)
      .select(col("id").cast("long").as("draw_id"))
      .crossJoin(broadcast(tot))
      .select(col("draw_id"),
        pmod(Sketch.mix57(graft.llm.TextAnalysis.fingerprint(
          concat(col("draw_id").cast("string"), lit("|neg")))),
          col("__tot")).as("t"),
        col("__tot"))
      .withColumn("__bkt", expr(s"t div $wExpr"))
      // edgeless input: T is NULL, every t is NULL — emit NOTHING
      // rather than 256 null draws
      .filter(col("t").isNotNull)
      .select(col("draw_id"), col("t"), col("__bkt"))
    val bounds = cum.crossJoin(broadcast(tot))
      .withColumn("__b0", expr(s"lo div $wExpr"))
      .withColumn("__b1", expr(s"(lo + deg - 1) div $wExpr"))
      .select(col("id"), col("lo"),
        explode(sequence(col("__b0"), col("__b1"))).as("__bkt"))
    AsOf.joinAsOf(draws, bounds, Seq("__bkt"), "t", "lo", Seq("id"))
      .select(col("draw_id"), col("t"), col("id").as("node"))
  }

  /** SCC condensation with topological levels — the quotient DAG
    * [[stronglyConnectedComponents]] exists to enable: one row per
    * component with its size and its LONGEST-PATH depth from the DAG's
    * sources (level 0 = components nothing feeds into; level k = the
    * latest stage at which a component receives flow). The level is the
    * standard critical-path/topological-stage reading — on a click
    * graph, how deep into one-way funnels a neighborhood sits; on a
    * dependency graph, its build stage. Levels propagate iteratively
    * (`lvl(v) = max(lvl(v), max over preds lvl(u)+1)`) and are monotone
    * nondecreasing integers bounded by the DAG depth, so the exact-
    * decimal sum-unchanged test IS convergence (the CC device); the
    * condensation is a DAG by construction, so the fixpoint exists.
    *
    * Output: (scc, n_members, level) — one row per component.
    *
    * 100 TB posture: the SCC pass dominates; everything after runs on
    * the ≤ |components| condensation relation (component-keyed joins,
    * localCheckpoint per round, nothing driver-side but the scalars).
    * With at most the graph bound of normalized edges the WHOLE condensation
    * (Tarjan + sizes + longest-path levels by Kahn-order DP) runs on
    * the one collected edge list — same cutover contract as
    * [[stronglyConnectedComponents]], parity pinned in OperatorSpec.
    */
  def sccCondensation(edges: DataFrame, maxPeels: Int = 50,
                      maxIters: Int = 200): DataFrame = {
    val e0 = normalizeDirectedEdges(edges)
    if (Scale.smallSide(e0, Scale.Cutover.Graph.bound(e0.sparkSession)))
      return condensationOnDriver(e0)
    val scc = sccOfNormalized(e0, maxPeels, maxIters)._1
      .localCheckpoint(true)
    val members = scc.groupBy(col("scc")).agg(count(lit(1)).as("n_members"))
    val ced = e0
      .join(scc.select(col("id").as("src"), col("scc").as("__cs")),
        Seq("src"))
      .join(scc.select(col("id").as("dst"), col("scc").as("__cd")),
        Seq("dst"))
      .filter(col("__cs") =!= col("__cd"))
      .select(col("__cs"), col("__cd")).distinct().localCheckpoint(true)
    var lvl = scc.select(col("scc")).distinct()
      .select(col("scc"), lit(0L).as("level")).localCheckpoint(true)
    // longest-path depth of a DAG is < |components|, so the adaptive
    // bound makes the require an invariant check, not a topology cap
    val iterBound = math.max(maxIters.toLong, lvl.count() + 1L)
    def lvlSum(df: DataFrame): java.math.BigDecimal = {
      val s = df.agg(sum(col("level").cast("decimal(38,0)"))).head()
        .getDecimal(0)
      if (s == null) java.math.BigDecimal.ZERO else s
    }
    var last = lvlSum(lvl)
    var it = 0
    var done = false
    while (!done) {
      it += 1
      require(it <= iterBound, s"sccCondensation: levels still moving " +
        s"after $iterBound rounds — longest-path depth cannot exceed " +
        "the component count; this is a bug")
      val cand = ced
        .join(lvl.select(col("scc").as("__cs"), col("level")), Seq("__cs"))
        .groupBy(col("__cd").as("scc"))
        .agg(max(col("level") + lit(1L)).as("__nl"))
      val next = lvl.join(cand, Seq("scc"), "left")
        .select(col("scc"),
          greatest(col("level"), coalesce(col("__nl"), col("level")))
            .as("level"))
        .localCheckpoint(true)
      val s = lvlSum(next)
      lvl = next
      done = s.compareTo(last) == 0
      last = s
    }
    members.join(lvl, Seq("scc"))
      .select(col("scc"), col("n_members"), col("level"))
  }

  /** Driver-side condensation for a bounded collected edge list:
    * Tarjan components, per-component sizes, then longest-path levels
    * by dynamic programming in Kahn (topological) order over the
    * quotient DAG — `level(c) = max(level(pred) + 1)`, 0 at sources,
    * exactly the distributed fixpoint's converged reading. */
  private def condensationOnDriver(e0: DataFrame): DataFrame = {
    import scala.collection.mutable
    val sp = e0.sparkSession
    import sp.implicits._
    val es = e0.as[(Long, Long)].collect()
    val comp = tarjanComponents(es)
    if (comp.isEmpty)
      return sp.emptyDataset[(Long, Long, Long)]
        .toDF("scc", "n_members", "level")
    val size = mutable.HashMap.empty[Long, Long]
    comp.valuesIterator.foreach(c => size(c) = size.getOrElse(c, 0L) + 1L)
    val ced = es.iterator
      .map { case (s, d) => (comp(s), comp(d)) }
      .filter { case (cs, cd) => cs != cd }.toSet
    val indeg = mutable.HashMap.empty[Long, Int]
    size.keysIterator.foreach(c => indeg(c) = 0)
    val out = mutable.HashMap.empty[Long, mutable.ArrayBuffer[Long]]
    ced.foreach { case (cs, cd) =>
      out.getOrElseUpdate(cs, mutable.ArrayBuffer.empty[Long]) += cd
      indeg(cd) += 1
    }
    val level = mutable.HashMap.empty[Long, Long]
    val queue = mutable.Queue.empty[Long]
    indeg.foreach { case (c, d) => if (d == 0) { level(c) = 0L; queue += c } }
    while (queue.nonEmpty) {
      val c = queue.dequeue()
      out.getOrElse(c, Nil).foreach { n =>
        level(n) = math.max(level.getOrElse(n, 0L), level(c) + 1L)
        indeg(n) -= 1
        if (indeg(n) == 0) queue += n
      }
    }
    size.toSeq.map { case (c, n) => (c, n, level(c)) }
      .toDF("scc", "n_members", "level")
  }

  def reciprocitySummary(edges: DataFrame): DataFrame = {
    val e = edges.select(col("src"), col("dst"))
      .filter(col("src").isNotNull && col("dst").isNotNull)
      .filter(col("src") =!= col("dst")).distinct()
    val mutual = e.join(
      e.select(col("dst").as("src"), col("src").as("dst")),
      Seq("src", "dst"), "left_semi")
    val verts = e.select(col("src").as("v"))
      .unionByName(e.select(col("dst").as("v"))).distinct()
    e.agg(count(lit(1)).as("n_edges"))
      .crossJoin(mutual.agg(count(lit(1)).as("n_mutual")))
      .crossJoin(verts.agg(count(lit(1)).as("n_vertices")))
      .select(col("n_vertices"), col("n_edges"), col("n_mutual"),
        expr("n_mutual div 2").as("n_sym_pairs"),
        expr("(n_mutual * 1000000) div nullif(n_edges, 0)")
          .as("reciprocity_ppm"))
  }
}
