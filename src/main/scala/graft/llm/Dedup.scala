package graft.llm

import org.apache.spark.sql.{Column, DataFrame, Observation, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Deduplication operators for training-data pipelines (north-star surface).
  *
  * Scale design: every variant is a shuffle-on-key plan with no driver-side
  * state. Exact dedup shuffles once on the text hash; MinHash-LSH shuffles on
  * (band, bucket) so only same-bucket docs ever meet (the classic
  * shingle→minhash→band→bucket-join layout); SimHash joins on table chunks of
  * the 64-bit signature (Hamming ≤ k via the pigeonhole band trick).
  * All hashes are explicit polynomial/xxhash-based expressions — portable,
  * seed-stable, no RNG at plan time.
  */
object Dedup {

  /** Document-count bound under which the per-document `sizes` relation
    * may carry an explicit broadcast hint. An UNCONDITIONAL hint on a
    * per-document relation is an executor OOM at 10⁹ docs (a hint
    * overrides AQE's thresholds); leaving it entirely to AQE pays the
    * big side's shuffle materialization before the runtime conversion
    * to broadcast (~2× on the verify joins at bench scale). The gate
    * takes both: a MEASURED bound ≤ 2²⁰ (≈ 24 MB of (id, sz) rows —
    * far under the 8 GB broadcast cap and any executor budget) hints;
    * anything larger joins unhinted and AQE decides. The measurement is
    * FREE: each lens already counts its cached shingle relation to
    * materialize it, and shingle rows ≥ docs, so that count is a
    * conservative upper bound on the doc count — a mid-size corpus
    * whose shingles exceed the bound merely joins unhinted, which AQE
    * handles.
    */
  val MaxBroadcastDocs: Long = 1L << 20

  private def hintIfBounded(sizes: DataFrame, nDocs: Long,
                            bound: Long): DataFrame =
    if (nDocs <= bound) broadcast(sizes) else sizes

  /** Exact duplicate groups: canonical id = min(id) over identical `text`.
    * One hash shuffle on the text (Spark hashes group keys; at 100 TB group
    * on `xxhash64(text)` first and verify within-group to keep shuffle rows
    * narrow — both forms below).
    */
  def exactCanonical(docs: DataFrame, idCol: String = "doc_id",
                     textCol: String = "text"): DataFrame =
    docs.withColumn("canonical_id",
      min(col(idCol)).over(Window.partitionBy(col(textCol))))

  /** Hash-first exact canonicalization — the 100 TB form: shuffle only
    * (hash, id) (16 bytes/row instead of the document text), assign the
    * min-id per hash, then verify the survivor actually matches the text
    * with one narrow join back (guards against 64-bit hash collisions).
    */
  def exactCanonicalByHash(docs: DataFrame, idCol: String = "doc_id",
                           textCol: String = "text"): DataFrame = {
    val hashed = docs.select(col(idCol), xxhash64(col(textCol)).as("__h"))
    val canon = hashed.groupBy("__h").agg(min(col(idCol)).as("canonical_id"))
    val assigned = hashed.join(canon, "__h")
    // collision guard: a dup's text must equal its canonical's text
    val texts = docs.select(col(idCol).as("canonical_id"),
      col(textCol).as("__canon_text"))
    docs.join(assigned.select(col(idCol), col("canonical_id")), Seq(idCol))
      .join(texts, Seq("canonical_id"))
      .withColumn("canonical_id",
        when(col(textCol) === col("__canon_text"), col("canonical_id"))
          .otherwise(col(idCol)))
      .drop("__canon_text")
  }

  /** N-gram novelty score — the selection signal dedup-aware curation
    * orders by: of a document's DISTINCT w-grams, the fraction whose
    * corpus-wide FIRST occurrence (min doc_id) is this document. A doc
    * made of already-seen phrasing scores near 0 even when no pair
    * crosses a dedup threshold; a doc contributing fresh content scores
    * near 1 — the per-document form of the "how much does this add"
    * question the pairwise relations (q29/q30/q67) answer only in
    * aggregate. Docs too short to shingle emit no row (the shingle
    * convention).
    *
    * 100 TB posture: one shuffle on the gram key for the corpus-wide min
    * (map-side combined), the join back is on the same key, then one
    * per-doc aggregate; counts are exact integers and the ratio is a
    * single division, so the score is engine- and partitioning-exact.
    */
  def noveltyScore(docs: DataFrame, w: Int = 3, idCol: String = "doc_id",
                   textCol: String = "text"): DataFrame = {
    val sh = shingles(docs, w, idCol, textCol)
    // shared-gram-only firsts + left join (the chunkKeepFlags device): a
    // gram seen by exactly one doc is trivially novel to it, so only
    // grams with __cnt > 1 need their corpus min joined back — the join
    // build side shrinks from |distinct grams| to |shared grams| and AQE
    // broadcasts it instead of re-shuffling the whole shingle relation
    val first = sh.groupBy(col("shingle"))
      .agg(min(col(idCol)).as("__first"), count(lit(1)).as("__cnt"))
      .filter(col("__cnt") > 1)
      .select(col("shingle"), col("__first"))
    sh.join(first, Seq("shingle"), "left")
      .groupBy(col(idCol))
      .agg(count(lit(1)).as("n_grams"),
        sum(when(col("__first").isNull ||
            col(idCol) === col("__first"), 1L).otherwise(0L))
          .as("n_novel"))
      .withColumn("novelty",
        col("n_novel").cast("double") / col("n_grams"))
  }

  /** w-token shingles of the whitespace token stream, distinct per doc by
    * default (`distinct = false` keeps every occurrence — repetition
    * analysis needs the multiplicities). Built with `posexplode` + `lead`
    * windows — fully codegen'd, versus the interpreted
    * transform/slice/concat stack (which cost ~1.3 ms/doc). Returns only
    * complete shingles (docs shorter than w emit nothing).
    */
  def shingles(docs: DataFrame, w: Int, idCol: String = "doc_id",
               textCol: String = "text", distinct: Boolean = true): DataFrame = {
    val toked = docs.select(col(idCol),
      posexplode(TextAnalysis.tokens(col(textCol))).as(Seq("pos", "tok")))
    val wspec = Window.partitionBy(col(idCol)).orderBy(col("pos"))
    val parts = (0 until w).map(j =>
      if (j == 0) col("tok") else lead(col("tok"), j).over(wspec))
    val all = toked.select(col(idCol), concat_ws(" ", parts: _*).as("shingle"),
        parts.last.isNotNull.as("__complete"))
      .filter(col("__complete")).drop("__complete")
    if (distinct) all.distinct() else all
  }

  /** Non-overlapping fixed-width token chunks of each document: chunk `i`
    * covers tokens `[i·w, (i+1)·w)`; the last chunk may be shorter. The
    * unit of span-level dedup ([[chunkDedup]]) — unlike [[shingles]] these
    * tile the document instead of sliding, so a `slice` over the token
    * array replaces the posexplode+lead window (no shuffle at all: chunking
    * is a pure per-row projection).
    */
  def chunks(docs: DataFrame, w: Int, idCol: String = "doc_id",
             textCol: String = "text"): DataFrame = {
    val toks = TextAnalysis.tokens(col(textCol))
    // guard the empty-token case: Spark's sequence(0, -1) yields a
    // DESCENDING [0, -1], not an empty array
    docs.select(col(idCol), toks.as("__toks"))
      .filter(size(col("__toks")) > 0)
      .select(col(idCol), posexplode(
        expr(s"transform(sequence(0, (size(__toks) + ${w - 1}) div $w - 1)," +
          s" i -> array_join(slice(__toks, i * $w + 1, $w), ' '))"))
        .as(Seq("chunk_idx", "chunk")))
  }

  /** Chunk-level exact dedup with per-document retention — the span-removal
    * primitive of C4-style cleaning, at the granularity between whole-doc
    * exact dedup and shingle overlap: a chunk occurrence is a duplicate iff
    * an identical chunk occurs EARLIER in the corpus (first occurrence =
    * min (doc, chunk_idx) in lexicographic order — that occurrence is the
    * canonical survivor, everything after it is removable boilerplate).
    *
    * Output per document: (id, n_chunks, n_dup_chunks, retention) where
    * retention = kept/total — one IEEE division of exact integers.
    *
    * 100 TB posture: one hash aggregate on the chunk text for the
    * first-occurrence table (map-side combined), one shuffle join back on
    * the chunk key (AQE covers boilerplate-chunk skew), one final per-doc
    * aggregate. Grouping beats a window over chunk text: a hot chunk
    * (site template repeated millions of times) becomes one aggregate row,
    * never one window partition. At 100 TB hash the chunk to 16 bytes
    * before the join ([[exactCanonicalByHash]]'s narrow-shuffle trick).
    */
  /** Shared first-occurrence scaffold of [[chunkDedup]] and
    * [[chunkDedupRewrite]]: every chunk occurrence flagged `__keep` iff it
    * is its chunk text's canonical (min (doc, idx)) occurrence. The chunk
    * frame is persisted (scope-tracked): the firsts aggregate and the join
    * back both read it. */
  private def chunkKeepFlags(docs: DataFrame, w: Int, idCol: String,
                             textCol: String): DataFrame = {
    val ch = graft.core.CacheScope.track(
      chunks(docs, w, idCol, textCol).persist())
    ch.count()
    // Only chunk texts occurring MORE than once can flag a non-keep: a
    // unique chunk's occurrence is trivially its own min. Filtering the
    // firsts table to __cnt > 1 before the join back shrinks the build
    // side from |distinct chunks| to |duplicated chunk texts| (tiny on
    // real corpora), so AQE plans the join back as a broadcast instead
    // of re-shuffling every chunk row on the chunk text (guide §3.1/§2.4).
    // LEFT join + null-is-kept is row-identical to the old inner join on
    // all firsts.
    //
    // r18 narrow-shuffle trick (see substringDedupRewrite): a 64-bit-hash
    // count pass finds candidate duplicate hashes over an 8-byte key, and
    // the exact text aggregate runs only over rows whose hash count is
    // ≥ 2 — equal texts imply equal hashes so nothing true is lost, a
    // colliding unique text drops at the exact __cnt > 1 filter, and the
    // wide chunk-text relation is never shuffled (the semi-join's build
    // side is the duplicate-hash set, AQE-broadcast; ch is cached so the
    // extra pass reads memory).
    val chH = ch.withColumn("__h", xxhash64(col("chunk")))
    val dupH = chH.groupBy(col("__h"))
      .agg(count(lit(1)).as("__hc"))
      .filter(col("__hc") > 1)
      .select("__h")
    val firsts = chH.join(dupH, Seq("__h"), "left_semi")
      .groupBy("chunk")
      .agg(min(struct(col(idCol), col("chunk_idx"))).as("__first"),
        count(lit(1)).as("__cnt"))
      .filter(col("__cnt") > 1)
      .select(col("chunk"), col("__first"))
    ch.join(firsts, Seq("chunk"), "left")
      .withColumn("__keep", col("__first").isNull ||
        struct(col(idCol), col("chunk_idx")) === col("__first"))
  }

  def chunkDedup(docs: DataFrame, w: Int = 16, idCol: String = "doc_id",
                 textCol: String = "text"): DataFrame =
    chunkKeepFlags(docs, w, idCol, textCol)
      .groupBy(col(idCol))
      .agg(count(lit(1)).as("n_chunks"),
        sum((!col("__keep")).cast("long")).as("n_dup_chunks"))
      .withColumn("retention",
        (col("n_chunks") - col("n_dup_chunks")).cast("double") /
          col("n_chunks"))

  /** Content-defined chunking dedup — [[chunkDedup]] with CDC boundaries
    * instead of fixed `w`-token tiles (the Rabin/FastCDC device from
    * storage dedup, applied at token granularity): a chunk boundary falls
    * AFTER token `i` iff the rolling hash of the `w`-gram ending at `i`
    * is ≡ 0 (mod `m`), so the expected chunk length is `m` tokens but the
    * boundary POSITIONS are functions of local content alone. That is the
    * property fixed tiles lack: insert one token near the head of a
    * near-duplicate and every later tile shifts (q67 sees 0% overlap),
    * while CDC boundaries re-synchronize `w` tokens after the edit and
    * every following chunk dedups again. The complement of q82's
    * overlapping-window rewrite: cheaper (no per-position first-occurrence
    * state — chunk count ≈ n/m, not n), coarser (a duplicate shorter than
    * its chunk is invisible).
    *
    * Hashing: per-token [[TextAnalysis.fingerprint]] folded over the gram
    * with the same ·31 mod-2^57 polynomial — exact integer arithmetic,
    * oracle-portable. Duplicate = any chunk occurrence whose text has an
    * earlier (doc, idx) occurrence, exactly q67's canonical rule, so the
    * two relations differ only in where the knife falls.
    *
    * Output per document: (id, n_chunks, n_dup_chunks, retention) —
    * matches [[chunkDedup]] so callers can A/B the chunking policies.
    *
    * 100 TB posture: boundary computation is a per-row array expression
    * (one scan, no shuffle); the per-token prefix sum that numbers chunks
    * is a window PARTITIONED BY document — bounded by document length,
    * never corpus-global; then the same aggregate + join-back shape as
    * [[chunkKeepFlags]] (hot chunks become one aggregate row, never one
    * window partition).
    */
  def cdcDedup(docs: DataFrame, w: Int = 4, m: Int = 8,
               idCol: String = "doc_id", textCol: String = "text"):
      DataFrame = {
    require(w >= 1 && m >= 1, "gram window and target chunk size >= 1")
    val mod = lit(TextAnalysis.FingerprintMod)
    val base = docs
      .select(col(idCol), TextAnalysis.tokens(col(textCol)).as("__w"))
      .filter(coalesce(size(col("__w")), lit(0)) >= 1)
      .withColumn("__th",
        transform(col("__w"), t => TextAnalysis.fingerprint(t)))
      // __cut(i) = 1 iff a boundary falls after 1-based position i. The
      // w-gram fold is UNROLLED as an element_at chain (w is plan-time):
      // value-identical to aggregate-over-slice — same fold, same mod at
      // every step — but ~20x faster measured (ProfileCdc: 12.3 s -> the
      // whole query under 2 s at sf0.1): no per-position array slice, no
      // nested-lambda eval, just O(1) array reads and integer arithmetic
      .withColumn("__cut",
        transform(sequence(lit(1), size(col("__w"))), i => {
          val gram = (0 until w).foldLeft(lit(0L): Column)((acc, j) =>
            pmod(acc * lit(31L) +
              element_at(col("__th"), (i - lit(w - 1 - j)).cast("int")), mod))
          when(i >= w && pmod(gram, lit(m.toLong)) === 0L, lit(1L))
            .otherwise(lit(0L))
        }))
    val pos = base
      .select(col(idCol),
        posexplode(arrays_zip(col("__w"), col("__cut"))).as(Seq("__p", "__z")))
      .select(col(idCol), col("__p"),
        col("__z.__w").as("__tok"), col("__z.__cut").as("__cut"))
    val segWin = Window.partitionBy(col(idCol)).orderBy(col("__p"))
      .rowsBetween(Window.unboundedPreceding, -1)
    val ch = graft.core.CacheScope.track(pos
      .withColumn("chunk_idx", coalesce(sum(col("__cut")).over(segWin), lit(0L)))
      .groupBy(col(idCol), col("chunk_idx"))
      .agg(array_join(transform(
        sort_array(collect_list(struct(col("__p"), col("__tok")))),
        s => s.getField("__tok")), " ").as("chunk"))
      .persist())
    ch.count() // eager: firsts aggregate and join back both read it
    // duplicated-chunk-only firsts + left join: same device as
    // chunkKeepFlags — the join back broadcasts |duplicated texts| rows
    // instead of re-shuffling every chunk occurrence (guide §2.4/§3.1),
    // and (r18) the same narrow-shuffle hash prefilter: the exact text
    // aggregate runs only over rows whose 8-byte hash count is ≥ 2, so
    // the wide chunk-text relation is never shuffled
    val chH = ch.withColumn("__h", xxhash64(col("chunk")))
    val dupH = chH.groupBy(col("__h"))
      .agg(count(lit(1)).as("__hc"))
      .filter(col("__hc") > 1)
      .select("__h")
    val firsts = chH.join(dupH, Seq("__h"), "left_semi")
      .groupBy("chunk")
      .agg(min(struct(col(idCol), col("chunk_idx"))).as("__first"),
        count(lit(1)).as("__cnt"))
      .filter(col("__cnt") > 1)
      .select(col("chunk"), col("__first"))
    ch.join(firsts, Seq("chunk"), "left")
      .withColumn("__keep", col("__first").isNull ||
        struct(col(idCol), col("chunk_idx")) === col("__first"))
      .groupBy(col(idCol))
      .agg(count(lit(1)).as("n_chunks"),
        sum((!col("__keep")).cast("long")).as("n_dup_chunks"))
      .withColumn("retention",
        (col("n_chunks") - col("n_dup_chunks")).cast("double") /
          col("n_chunks"))
  }

  /** Winnowing document fingerprints + match pairs (Schleimer, Wilkerson
    * & Aiken 2003 — the MOSS plagiarism-detection scheme, the third
    * near-dup family next to MinHash (set-similarity) and SimHash
    * (vector-similarity)): position-aware SELECTED fingerprints with the
    * guarantee that any shared token run of length ≥ k + win − 1 is
    * caught by at least one shared fingerprint — MinHash gives a
    * whole-document similarity estimate and can miss a single long quote;
    * winnowing cannot. Per document: k-gram rolling hashes (the
    * [[TextAnalysis.fingerprint]] token fold, reduced mod 2^36), then in
    * every window of `win` consecutive gram hashes select the minimum,
    * ties to the RIGHTMOST position (the paper's robust rule — encoded as
    * one integer key h·2^21 + (2^21−1−pos) so the two-part argmin is a
    * plain MIN, portable to any engine; docs are capped at 2^21 grams by
    * the encoding, far beyond any sane document). The distinct selected
    * hashes are the document's fingerprint sketch; docs sharing ≥
    * `minShared` fingerprints emit a pair.
    *
    * Output: (id_a, id_b, n_shared), id_a < id_b.
    *
    * 100 TB posture: fingerprint density is ~2/(win+1) of the gram count
    * (the paper's bound), so the join input is a small fraction of the
    * shingle relation a full-gram join would shuffle; the single shuffle
    * key is the selected hash (boilerplate-hot keys are the q29 class —
    * AQE skew handling applies); the per-doc window is doc-partitioned.
    */
  def winnowPairs(docs: DataFrame, k: Int = 4, win: Int = 4,
                  minShared: Int = 2, idCol: String = "doc_id",
                  textCol: String = "text"): DataFrame = {
    require(k >= 1 && win >= 1, "gram and window sizes must be >= 1")
    val M36 = 1L << 36
    val P21 = 1L << 21
    // explode FIRST, then everything is scalar per row: one token
    // fingerprint per exploded row, the k-gram fold as a lead() chain,
    // the winnow argmin as a sliding window — both windows share one
    // (doc, pos) sort. The array-expression form (gram hashes as a
    // transform over positions under the Generate) measured 54 s of a
    // 66 s query at sf0.1: the generator child's nested-HOF tree is the
    // one plan shape that must never carry expensive per-element work.
    val ord = Window.partitionBy(col(idCol)).orderBy(col("__p"))
    val base = docs
      .select(col(idCol), TextAnalysis.tokens(col(textCol)).as("__w"))
      .filter(coalesce(size(col("__w")), lit(0)) >= k + win - 1)
      .select(col(idCol), size(col("__w")).as("__n"),
        posexplode(col("__w")).as(Seq("__p", "__tok")))
      .withColumn("__th", TextAnalysis.fingerprint(col("__tok")))
    val gram = base
      // fold th[p..p+k-1] mod 2^36 — gram STARTING at 0-based __p, the
      // same fold as the oracle's list_reduce over the slice
      .withColumn("__h",
        (1 until k).foldLeft(pmod(col("__th"), lit(M36)))((acc, j) =>
          pmod(acc * lit(31L) + lead(col("__th"), j).over(ord), lit(M36))))
      .filter(col("__p") <= col("__n") - k) // complete grams only
    val selWin = Window.partitionBy(col(idCol)).orderBy(col("__p"))
      .rowsBetween(Window.currentRow, win - 1)
    val fps = gram
      .withColumn("__key", min(col("__h") * lit(P21) +
        (lit(P21 - 1) - col("__p"))).over(selWin))
      // complete windows only: starts 0 .. n_grams - win
      .filter(col("__p") <= col("__n") - k - (win - 1))
      // decode via shift, NOT division: long / long is a double divide in
      // Spark and keys exceed 2^53
      .select(col(idCol), shiftright(col("__key"), 21).as("__h"))
      .distinct()
    val a = fps.toDF("id_a", "__h")
    val b = fps.toDF("id_b", "__h")
    a.join(b, Seq("__h"))
      .filter(col("id_a") < col("id_b"))
      .groupBy("id_a", "id_b")
      .agg(count(lit(1)).as("n_shared"))
      .filter(col("n_shared") >= minShared)
  }

  /** Chunk-level dedup REWRITE — [[chunkDedup]]'s destructive form: the
    * duplicate chunk occurrences are actually removed and each document's
    * text is rebuilt from its surviving chunks in order (the C4 move:
    * drop the repeated span, keep the document). EVERY input document comes
    * back exactly once: documents whose every chunk is a duplicate — and
    * documents that were empty/whitespace-only on input, which emit no
    * chunks at all — return (id, 0-or-n, 0, "") (the caller's length filter
    * then drops them); documents shorter than one chunk pass through via
    * the same tiling (one partial chunk).
    *
    * Output: (id, n_chunks, kept_chunks, text) — `text` is the rewrite.
    * Plan shape matches [[chunkDedup]] (aggregate + join back, never a
    * window over hot chunk text) plus one per-doc sort-and-join aggregate
    * to reassemble: `sort_array(collect_list(struct(idx, chunk)))` is
    * per-document state, bounded by document size.
    */
  def chunkDedupRewrite(docs: DataFrame, w: Int = 16,
                        idCol: String = "doc_id",
                        textCol: String = "text"): DataFrame = {
    val rewritten = chunkKeepFlags(docs, w, idCol, textCol)
      .groupBy(col(idCol))
      .agg(count(lit(1)).as("n_chunks"),
        sum(col("__keep").cast("long")).as("kept_chunks"),
        array_join(transform(
          sort_array(collect_list(when(col("__keep"),
            struct(col("chunk_idx"), col("chunk"))))),
          s => s.getField("chunk")), " ").as(textCol))
    // left-anchor on the input: zero-token documents are filtered before
    // tiling (chunks()'s empty-array guard) so they reach neither the
    // aggregate nor the join back — without the anchor they would vanish
    // from the rewrite instead of returning with empty text
    docs.select(col(idCol)).join(rewritten, Seq(idCol), "left")
      .select(col(idCol),
        coalesce(col("n_chunks"), lit(0L)).as("n_chunks"),
        coalesce(col("kept_chunks"), lit(0L)).as("kept_chunks"),
        coalesce(col(textCol), lit("")).as(textCol))
  }

  /** OVERLAPPING-window exact-substring dedup rewrite — the span removal of
    * Lee et al., "Deduplicating Training Data Makes Language Models
    * Better" (the ExactSubstr pass), at fixed window granularity. Where
    * [[chunkDedupRewrite]] tiles documents into disjoint chunks (a repeated
    * span straddling a tile boundary survives), here EVERY w-token window
    * at every start position is a candidate: a window occurrence whose
    * identical text occurs earlier in the corpus (first = min (doc, start),
    * the same canonical rule as chunks) marks all w of its token positions,
    * and the rewrite keeps each document's unmarked positions in order —
    * so a duplicated span of any length ≥ w is removed wherever it sits.
    *
    * Contract (the q74 lesson, applied from the start): every input
    * document returns exactly once — empty/whitespace-only docs and docs
    * shorter than one window come back untouched with n_removed = 0.
    * Output: (id, n_tokens, n_removed, text).
    *
    * 100 TB posture: the window fan-out is projection-only (stride-1 ×w
    * rows instead of the tiling's ×1 — the price of span-granularity
    * exactness; Lee et al. pay a suffix array for the same reason);
    * first-occurrence is an aggregate on the window text, never a window
    * function (a hot boilerplate span = one aggregate row); removal
    * marking joins each doc's SORTED duplicate-start array back (bounded
    * by document length) and evaluates as a per-row array expression — no
    * per-position shuffle. At warehouse scale hash the window text to 16
    * bytes for the shuffle key ([[exactCanonicalByHash]]'s narrow-shuffle
    * trick).
    */
  def substringDedupRewrite(docs: DataFrame, w: Int = 8,
                            idCol: String = "doc_id",
                            textCol: String = "text"): DataFrame = {
    val base = graft.core.CacheScope.track(docs.select(col(idCol),
      TextAnalysis.tokens(col(textCol)).as("__w")).persist())
    base.count() // eager: the window fan-out and the rewrite both read it
    // r19: the window string is an unrolled element_at chain instead of
    // array_join(slice(...)) — same strings (every window here is a full
    // w-gram, so all indices are in bounds and concat_ws joins the same
    // tokens with the same separator), ~30% faster measured
    // (ProfileSubstr wins build: 0.32-0.36 s vs 0.46-0.51 s warm, 3/3
    // rounds) because it skips the per-position array slice allocation —
    // the cdcDedup element_at idiom applied to the string build.
    val winParts = (1 to w).map(j => s"element_at(__w, s + $j)")
      .mkString(", ")
    val wins = base
      .filter(coalesce(size(col("__w")), lit(0)) >= w)
      .select(col(idCol), posexplode(expr(
        s"transform(sequence(0, size(__w) - $w)," +
          s" s -> concat_ws(' ', $winParts))"))
        .as(Seq("s", "win")))
    // Filter the first-occurrence table to DUPLICATED window texts before
    // joining back (same device as chunkKeepFlags): a window with one
    // occurrence can never mark a removal, so the old plan shuffled the
    // whole stride-1 window relation against an equally-sized firsts
    // table only to drop ~all of it on __cnt > 1. With the filter inside
    // the aggregate's consumer, the join-back build side is just the
    // duplicated window texts and AQE plans a broadcast join — the window
    // relation is never re-shuffled (guide §2.4/§3.1).
    //
    // r18, the promised narrow-shuffle trick: the only corpus-sized
    // shuffle left was the firsts aggregate itself, keyed on the WINDOW
    // TEXT (~w tokens per row). A 64-bit-hash count pass finds the
    // candidate duplicate hashes first — same row count but an 8-byte
    // key, no payload — and the exact text aggregate then runs over only
    // the rows whose hash count is ≥ 2 (equal texts imply equal hashes,
    // so no true duplicate can be lost; a colliding unique text just
    // rides along and drops at the exact __cnt > 1 filter — exactness is
    // decided on the text, the hash only prunes). The semi-join's build
    // side is the duplicate-hash set, which AQE broadcasts, so the wide
    // window relation is never shuffled at all (guide §2.3 "shuffle keys
    // and metadata instead of payloads").
    //
    // r19, tried and REVERTED: persisting a narrow (id, s, hash) window
    // relation (strings built only for hash-duplicate candidates via a
    // join back to the token arrays) looked like it should delete the
    // "wins rebuilt per consumer pass" cost — but same-JVM alternating
    // A/B on the chain's own input (ProfileSubstr: NEW 2.01-5.55 s, OLD
    // 2.24-3.28 s, medians ~3.2 vs ~2.9) shows no robust win: with the
    // dup-hash set empty-or-small, AQE's empty/small-relation
    // propagation already prunes the downstream passes of THIS shape, so
    // the extra persist+count pass only added overhead. Keep the lazy
    // form; do not re-try without evidence AQE stopped covering it.
    val winsH = wins.withColumn("__h", xxhash64(col("win")))
    val dupH = winsH.groupBy(col("__h"))
      .agg(count(lit(1)).as("__hc"))
      .filter(col("__hc") > 1)
      .select("__h")
    val winsDup = winsH.join(dupH, Seq("__h"), "left_semi")
    val dupWins = winsDup.groupBy("win").agg(
      min(struct(col(idCol), col("s"))).as("__first"),
      count(lit(1)).as("__cnt"))
      .filter(col("__cnt") > 1)
      .select(col("win"), col("__first"))
    val dupStarts = winsDup.join(dupWins, "win")
      .filter(!(struct(col(idCol), col("s")) === col("__first")))
      .select(col(idCol), col("s"))
    val perDoc = dupStarts.groupBy(col(idCol))
      .agg(sort_array(collect_list(col("s"))).as("__ds"))
    val emptyInts = array().cast("array<int>")
    // docs with NO duplicated window (the overwhelming majority — only
    // docs sharing a duplicated span can rewrite, r16 VERDICT) skip the
    // per-position exists() scan AND the element_at rebuild: their kept
    // set is the whole token sequence, so the output text is just the
    // token join. The marked path runs only under __ds IS NOT NULL.
    val nTok = coalesce(size(col("__w")), lit(0))
    base.join(perDoc, Seq(idCol), "left")
      .withColumn("__kept", when(col("__ds").isNull, emptyInts)
        .when(nTok > 0,
          // position p is removed iff some duplicate window start covers it
          expr(s"filter(sequence(0, size(__w) - 1)," +
            s" p -> NOT exists(__ds, s -> s <= p AND p <= s + ${w - 1}))"))
        .otherwise(emptyInts))
      .select(col(idCol),
        nTok.cast("long").as("n_tokens"),
        when(col("__ds").isNull, lit(0L))
          .otherwise((nTok - size(col("__kept"))).cast("long"))
          .as("n_removed"),
        when(col("__ds").isNull,
          array_join(coalesce(col("__w"), array().cast("array<string>")),
            " "))
          .otherwise(array_join(transform(col("__kept"),
            p => element_at(col("__w"), p + 1)), " "))
          .as(textCol))
  }

  /** Cross-document repeated spans — the C4/RefinedWeb boilerplate
    * primitive: w-gram shingles occurring in at least `minDocs` distinct
    * documents, ranked by spread. Random text shares essentially no long
    * shingles, so survivors are templates, licenses, navigation chrome —
    * and near-duplicate pairs, whose shared spans rank them here too.
    * Output (shingle, df, occurrences), ordered (df desc, occurrences
    * desc, shingle) — a total order, so top-`topN` is deterministic.
    *
    * 100 TB posture: one hash aggregate on the shingle key (partial
    * count/count-distinct map-side), then `orderBy.limit` plans as
    * TakeOrderedAndProject — per-partition heaps, never a global sort.
    */
  def boilerplateGrams(docs: DataFrame, w: Int, minDocs: Int = 2,
                       topN: Int = 100, idCol: String = "doc_id",
                       textCol: String = "text"): DataFrame =
    shingles(docs, w, idCol, textCol, distinct = false)
      .groupBy("shingle")
      .agg(count_distinct(col(idCol)).as("df"),
        count(lit(1)).as("occurrences"))
      .filter(col("df") >= minDocs)
      .orderBy(col("df").desc, col("occurrences").desc, col("shingle"))
      .limit(topN)

  /** Prefix-blocked edit-distance near-dup pairs — the char-level
    * member of the dedup family (shingles measure set overlap, simhash
    * bit agreement, CDC chunk reuse; Levenshtein measures literal
    * edits, the right lens for template-with-typos duplication).
    * Candidates block on the first `prefixLen` characters (near-dups of
    * interest share their opening — a perturbed copy that rewrites the
    * first line is a different document for this operator, documented
    * semantics, same class of bound as the q30 band/row choice), and
    * blocks larger than `maxBlock` docs are DROPPED whole (boilerplate
    * openings — the A7c hot-key cap: the quadratic lives inside a
    * block, so the cap bounds per-block work at maxBlock² however
    * skewed the corpus). Within a block, pairs with
    * `levenshtein(a, b) ≤ maxDist` are emitted with the distance.
    *
    * 100 TB: one equi-join on the block key (never a cross join), the
    * cap bounding the fan-out; Levenshtein runs only on candidate
    * pairs. Output: (id_a < id_b, dist).
    */
  def editDistancePairs(docs: DataFrame, prefixLen: Int = 24,
                        maxDist: Int = 16, maxBlock: Int = 64,
                        idCol: String = "doc_id",
                        textCol: String = "text"): DataFrame = {
    require(prefixLen >= 1 && maxDist >= 0 && maxBlock >= 2,
      s"bad parameters: prefixLen=$prefixLen maxDist=$maxDist " +
        s"maxBlock=$maxBlock")
    val keyed = docs.select(col(idCol), col(textCol),
      substring(col(textCol), 1, prefixLen).as("__blk"))
    val small = keyed.groupBy(col("__blk"))
      .agg(count(lit(1)).as("__n"))
      .filter(col("__n") <= maxBlock)
      .select("__blk")
    val b = keyed.join(small, Seq("__blk"), "left_semi")
    val lhs = b.select(col("__blk"), col(idCol).as("id_a"),
      col(textCol).as("__ta"))
    val rhs = b.select(col("__blk"), col(idCol).as("id_b"),
      col(textCol).as("__tb"))
    lhs.join(rhs, Seq("__blk"))
      .filter(col("id_a") < col("id_b"))
      .withColumn("dist", levenshtein(col("__ta"), col("__tb")))
      .filter(col("dist") <= maxDist)
      .select(col("id_a"), col("id_b"), col("dist").cast("long"))
  }

  /** Exact n-gram Jaccard near-dup pairs: docs sharing ≥1 shingle are
    * candidates (inverted-index join on the shingle), then |∩| / |∪| ≥ τ.
    * The shingle join is the scale risk: at 100 TB, hot shingles explode the
    * candidate set — production path is [[minHashDedupPairs]]; this exact
    * form is the oracle-checkable ground truth.
    */
  def ngramJaccardPairs(docs: DataFrame, w: Int, tau: Double,
                        idCol: String = "doc_id",
                        textCol: String = "text",
                        maxBroadcastDocs: Long = MaxBroadcastDocs)
  : DataFrame = {
    // the shingle set feeds three subplans (sizes + both join sides):
    // persist so the tokenize/shingle pass runs once (SURVEY §4.1
    // shared-subplan reuse — Spark recomputes per use otherwise).
    // Cache ownership: backs the returned lazy plan — released by the
    // caller's CacheScope after its action (or clearCache outside one)
    val sh = graft.core.CacheScope.track(shingles(docs, w, idCol, textCol)
      .filter(col("shingle").isNotNull).persist())
    // the materializing count doubles as the broadcast gate's bound:
    // shingle rows >= docs, so it is a FREE conservative upper bound on
    // the doc count (a mid-size corpus that exceeds it just joins
    // unhinted and AQE decides)
    val nDocs = sh.count()
    val sizes = sh.groupBy(col(idCol)).agg(count(lit(1)).as("sz"))
    val a = sh.select(col(idCol).as("id_a"), col("shingle"))
    val b = sh.select(col(idCol).as("id_b"), col("shingle"))
    val inter = a.join(b, Seq("shingle"))
      .filter(col("id_a") < col("id_b"))
      .groupBy("id_a", "id_b").agg(count(lit(1)).as("inter"))
    // sizes is one row PER DOCUMENT — unbounded at corpus scale, so the
    // broadcast hint is GATED on a measured bound ([[MaxBroadcastDocs]]):
    // bounded corpora broadcast (no shuffle of the pair relation),
    // unbounded ones join unhinted and AQE decides.
    inter
      .join(hintIfBounded(sizes.select(col(idCol).as("id_a"),
        col("sz").as("sz_a")), nDocs, maxBroadcastDocs), "id_a")
      .join(hintIfBounded(sizes.select(col(idCol).as("id_b"),
        col("sz").as("sz_b")), nDocs, maxBroadcastDocs), "id_b")
      .withColumn("jaccard", col("inter").cast("double") /
        (col("sz_a") + col("sz_b") - col("inter")).cast("double"))
      .filter(col("jaccard") >= tau)
      .select("id_a", "id_b", "jaccard")
  }

  /** Exact-Jaccard pair mining via PREFIX FILTERING (the SSJoin/PPJoin
    * family) — the EXACT alternative to MinHash-LSH candidate
    * generation: order every document's shingles by global rarity
    * (ascending document frequency, shingle as the tie-break — one
    * deterministic total order both sides share), keep only each
    * document's first `|s| − ⌈τ·|s|⌉ + 1` shingles, and join on THOSE.
    * The prefix-filter lemma guarantees zero false negatives: a pair
    * with Jaccard ≥ τ has overlap ≥ ⌈τ·|s|⌉ for each side, so removing
    * any |s| − α + 1 − 1 fewer than that many elements cannot empty the
    * intersection of the prefixes. Candidates then verify with exact
    * set Jaccard, so the OUTPUT equals [[ngramJaccardPairs]] exactly —
    * which is why q152 shares q29's oracle: the equality IS the lemma,
    * checked on real data.
    *
    * τ is the rational `tauNum/tauDen` so the prefix length is pure
    * integer arithmetic (`⌈τ·n⌉ = (n·num + den − 1) div den`) — a float
    * ceil could disagree across engines at exact multiples. The final
    * keep predicate is the division-free `inter·den ≥ num·union`; the
    * reported jaccard is one double division of exact integers.
    *
    * 100 TB posture vs MinHash: LSH shuffles `bands` rows per doc and
    * accepts the S-curve's false-negative tail; the prefix join
    * shuffles only the rare-prefix rows (rarity-ordered, so the join
    * key distribution is anti-skewed BY CONSTRUCTION — the most common
    * shingle in any prefix is still globally rare) and misses nothing.
    * The df relation is one extra map-side-combined aggregate; the
    * per-doc rarity sort is a user-key window, never global.
    */
  def prefixFilterJaccardPairs(docs: DataFrame, w: Int,
                               tauNum: Int, tauDen: Int,
                               idCol: String = "doc_id",
                               textCol: String = "text"): DataFrame = {
    require(tauNum > 0 && tauDen >= tauNum,
      s"tau must be a rational in (0, 1]: $tauNum/$tauDen")
    val sh = graft.core.CacheScope.track(
      shingles(docs, w, idCol, textCol)
        .filter(col("shingle").isNotNull).persist())
    sh.count() // eager: feeds df, prefix, and both verify sides
    // r18, hash-keyed rarity (guide §2.3 — shuffle keys, not payloads):
    // the prefix-filter lemma holds for ANY total order the two sides
    // share, so rarity is computed per 64-bit shingle HASH — the df
    // aggregate, the df probe join, and the prefix self-join all move
    // 8-byte keys instead of w-token strings. The order
    // (df(h), h, shingle) stays total (shingle breaks the rare h-tie)
    // and corpus-shared, so zero false negatives survive the swap; a
    // hash collision only merges two shingles' df counts and pairs
    // their prefixes — extra CANDIDATES, which the exact verification
    // below already rejects. The output is unchanged (q152 keeps
    // sharing q29's oracle).
    val shH = sh.withColumn("__h", xxhash64(col("shingle")))
    val df = shH.groupBy(col("__h")).agg(count(lit(1)).as("__df"))
    val sz = sh.groupBy(col(idCol)).agg(count(lit(1)).as("sz"))
    val byRarity = Window.partitionBy(col(idCol))
      .orderBy(col("__df"), col("__h"), col("shingle"))
    val prefix = shH.join(df, "__h")
      .withColumn("__rn", row_number().over(byRarity))
      .join(sz, idCol)
      .filter(col("__rn") <=
        col("sz") - expr(s"(sz * $tauNum + ${tauDen - 1}) div $tauDen") + 1)
      .select(col(idCol), col("__h"))
    val cand = prefix.select(col(idCol).as("id_a"), col("__h"))
      .join(prefix.select(col(idCol).as("id_b"), col("__h")),
        Seq("__h"))
      .filter(col("id_a") < col("id_b"))
      .select("id_a", "id_b").distinct()
    val setsById = sh.groupBy(col(idCol))
      .agg(collect_set(col("shingle")).as("shset"))
    cand
      .join(setsById.select(col(idCol).as("id_a"), col("shset").as("set_a")),
        "id_a")
      .join(setsById.select(col(idCol).as("id_b"), col("shset").as("set_b")),
        "id_b")
      .withColumn("inter", size(array_intersect(col("set_a"), col("set_b"))))
      .withColumn("union_sz",
        size(col("set_a")) + size(col("set_b")) - col("inter"))
      .filter(col("inter") * tauDen >= col("union_sz") * tauNum)
      .select(col("id_a"), col("id_b"),
        (col("inter").cast("double") / col("union_sz").cast("double"))
          .as("jaccard"))
  }

  /** Pair-similarity decile histogram at floor `tau` — the
    * threshold-tuning curve (how many candidate pairs a dedup run would
    * admit at each jaccard decile), with the SAMPLE mode a 100 TB run
    * needs built in rather than left to the caller: low-floor pair
    * enumeration is inherently the quadratic tail of the shingle join
    * (every pair sharing ≥ 1 shingle is scored before the floor filter),
    * so at scale the statistic runs over a document sample.
    *
    * `sampleFrac` subsamples DOCUMENTS by the salted content-hash draw
    * (deterministic, engine- and partitioning-stable, byte-identical dups
    * decide together — the [[TextAnalysis.mixtureSample]] family);
    * `sampleFrac = 1` is the exact full-corpus form, the plan carrying no
    * sample filter at all. Error statement: a document sample at rate f
    * keeps each pair with probability ~f² independently of its score, so
    * the decile SHAPE (bucket shares) is unbiased while absolute counts
    * scale by f²; the per-bucket relative error is ~1/√(f²·n_bucket) —
    * size f so the rarest decile of interest still expects ≳10⁴ pairs.
    *
    * Output: (bucket, n_pairs), bucket = floor(jaccard·10) — identical
    * double ops on both engines, so decile edges cannot straddle.
    */
  def pairScoreHistogram(docs: DataFrame, w: Int, tau: Double,
                         sampleFrac: Double = 1.0,
                         salt: String = "|pairhist",
                         idCol: String = "doc_id",
                         textCol: String = "text"): DataFrame = {
    require(sampleFrac > 0 && sampleFrac <= 1,
      s"sampleFrac must be in (0, 1]: $sampleFrac")
    val res = 1000000L
    val in =
      if (sampleFrac >= 1.0) docs
      else docs.filter(
        pmod(TextAnalysis.fingerprint(concat(col(textCol), lit(salt))),
          lit(res)) < lit(math.round(sampleFrac * res)))
    ngramJaccardPairs(in, w, tau, idCol, textCol)
      .select(floor(col("jaccard") * 10).cast("long").as("bucket"))
      .groupBy(col("bucket")).agg(count(lit(1)).as("n_pairs"))
  }

  /** Directed near-CONTAINMENT pairs — the dedup lens symmetric Jaccard
    * is blind to: a short document whose shingles are almost all inside
    * a much longer one (a quoted post, an excerpt, a superset rewrite)
    * scores `|∩| / |∪| ≈ |A| / |B|` — arbitrarily low — while its
    * containment `|∩| / |A|` is ≈ 1. Emits one DIRECTED row per
    * (contained, container) pair with `inter · tauDen ≥ tauNum · |A|`
    * (the rational-τ device: the keep predicate is exact integer
    * arithmetic, the reported score one double division).
    *
    * Same inverted-index candidate substrate as [[ngramJaccardPairs]]
    * (docs sharing ≥ 1 shingle; never all-pairs): the intersection is
    * computed ONCE per unordered pair and both direction tests read it —
    * the oracle keeps the definitional double-counted directed join.
    *
    * `maxShingleDf` is the hot-shingle cap on the candidate substrate
    * (the same role q172's `maxBlock` plays for edit-distance blocks): a
    * shingle shared by k documents contributes k² candidate rows to the
    * inverted-index join, so one boilerplate shingle would square a
    * 100 TB corpus. Shingles with document frequency above the cap are
    * dropped WHOLE from the substrate (sizes and intersections alike) —
    * containment is then measured over the retained rare-shingle
    * evidence, which is the discriminative signal anyway (a boilerplate
    * shingle says nothing about who contains whom). The drop is loud
    * (one warning line with the count) and exact when no shingle
    * exceeds the cap: capped output == uncapped output. Default
    * `Int.MaxValue` keeps the definitional exact form for the oracle.
    *
    * Output: (id_in, id_of, inter, sz_in, containment) — id_in's shingle
    * set is tauNum/tauDen-covered by id_of's.
    */
  def containmentPairs(docs: DataFrame, w: Int,
                       tauNum: Int, tauDen: Int,
                       maxShingleDf: Int = Int.MaxValue,
                       idCol: String = "doc_id",
                       textCol: String = "text",
                       maxBroadcastDocs: Long = MaxBroadcastDocs)
  : DataFrame = {
    require(tauNum > 0 && tauDen >= tauNum,
      s"tau must be a rational in (0, 1]: $tauNum/$tauDen")
    require(maxShingleDf >= 1, s"maxShingleDf must be >= 1: $maxShingleDf")
    val shAll = graft.core.CacheScope.track(shingles(docs, w, idCol, textCol)
      .filter(col("shingle").isNotNull).persist())
    // materializing count = free conservative doc-count upper bound
    // for the broadcast gate (shingle rows >= docs)
    val nDocs = shAll.count()
    val sh =
      if (maxShingleDf == Int.MaxValue) shAll
      else {
        val hot = shAll.groupBy(col("shingle"))
          .agg(count(lit(1)).as("__df"))
          .filter(col("__df") > maxShingleDf)
          .select("shingle")
        val nHot = hot.count()
        if (nHot > 0)
          println(s"[containment] dropping $nHot hot shingles " +
            s"(df > $maxShingleDf) from the candidate substrate; " +
            "containment is measured over the retained rare shingles")
        graft.core.CacheScope.track(
          shAll.join(hot, Seq("shingle"), "left_anti").persist())
      }
    val sizes = sh.groupBy(col(idCol)).agg(count(lit(1)).as("sz"))
    val a = sh.select(col(idCol).as("id_a"), col("shingle"))
    val b = sh.select(col(idCol).as("id_b"), col("shingle"))
    val inter = a.join(b, Seq("shingle"))
      .filter(col("id_a") < col("id_b"))
      .groupBy("id_a", "id_b").agg(count(lit(1)).as("inter"))
      // per-document relation: the hint is gated on a measured count
      // ([[MaxBroadcastDocs]]) — bounded corpora broadcast, unbounded
      // ones join unhinted and AQE decides
      .join(hintIfBounded(sizes.select(col(idCol).as("id_a"),
        col("sz").as("sz_a")), nDocs, maxBroadcastDocs), "id_a")
      .join(hintIfBounded(sizes.select(col(idCol).as("id_b"),
        col("sz").as("sz_b")), nDocs, maxBroadcastDocs), "id_b")
    val ab = inter.filter(col("inter") * tauDen >= col("sz_a") * tauNum)
      .select(col("id_a").as("id_in"), col("id_b").as("id_of"),
        col("inter"), col("sz_a").as("sz_in"))
    val ba = inter.filter(col("inter") * tauDen >= col("sz_b") * tauNum)
      .select(col("id_b").as("id_in"), col("id_a").as("id_of"),
        col("inter"), col("sz_b").as("sz_in"))
    ab.unionByName(ba)
      .withColumn("containment",
        col("inter").cast("double") / col("sz_in").cast("double"))
  }

  /** Sorted-neighborhood near-dup pairs — the third candidate-generation
    * family next to LSH banding ([[minHashLshCandidatesFrom]]) and prefix
    * filtering ([[prefixFilterJaccardPairs]]): sort the corpus by a
    * blocking key (here the lowercased first `keyLen` characters), slide
    * a `window`-row neighborhood down the sorted order, and verify only
    * pairs that land within the window with exact shingle Jaccard at the
    * rational τ. The classic record-linkage SNM blocking — recall is
    * bounded by the key (docs whose openings differ never meet; that is
    * the documented trade, not a defect), cost is exactly `n · window`
    * candidates however skewed the corpus.
    *
    * The global rank comes from [[graft.ops.Scale.groupedRankOrdered]]
    * with no group — the two-phase range-partitioned form, NEVER a
    * single-partition `row_number` window; neighbors are `window`
    * rank-key equi-joins (co-partitioned, no range join); verification
    * joins candidates against the shingle relation, so the exact-Jaccard
    * work is `O(candidates · shingles-per-doc)`, linear in the corpus.
    *
    * Output: (id_a, id_b, jaccard), id_a < id_b — a SUBSET of
    * [[ngramJaccardPairs]] restricted to window-adjacent pairs (the
    * oracle intersects the exact pair relation with the ranked window).
    */
  def sortedNeighborhoodPairs(docs: DataFrame, w: Int, window: Int,
                              tauNum: Int, tauDen: Int, keyLen: Int = 24,
                              idCol: String = "doc_id",
                              textCol: String = "text",
                              maxBroadcastDocs: Long = MaxBroadcastDocs)
  : DataFrame = {
    require(tauNum > 0 && tauDen >= tauNum,
      s"tau must be a rational in (0, 1]: $tauNum/$tauDen")
    require(window >= 1, s"window must be >= 1: $window")
    val keyed = docs.select(col(idCol),
      lower(substring(col(textCol), 1, keyLen)).as("__key"))
    val ranked = graft.ops.Scale.groupedRankOrdered(keyed, Seq.empty,
      Seq("__key", idCol), "__rn")
    val slim = ranked.select(col("__rn"), col(idCol))
    // r18: ONE rank-shift join instead of `window` unioned joins — the
    // shifted side explodes each row into its `window` probe ranks, so
    // the union of per-offset joins (each re-reading the cached rank
    // relation) collapses into a single co-partitioned equi-join with
    // the identical pair multiset (rank keys are unique, so a pair
    // appears at exactly one offset).
    val cand = slim
      .select(explode(expr(s"sequence(1, $window)")).as("__i"),
        col("__rn"), col(idCol).as("id_a"))
      .select((col("__rn") + col("__i")).as("__rn"), col("id_a"))
      .join(slim.select(col("__rn"), col(idCol).as("id_b")), Seq("__rn"))
      .select(least(col("id_a"), col("id_b")).as("id_a"),
        greatest(col("id_a"), col("id_b")).as("id_b"))
    val sh = graft.core.CacheScope.track(shingles(docs, w, idCol, textCol)
      .filter(col("shingle").isNotNull).persist())
    sh.count() // eager: both verify-set sides read it
    // r18: set-intersect verification (the prefixFilterJaccardPairs
    // shape) instead of expanding every candidate against the shingle
    // relation twice — the old cand⋈sh⋈sh shuffled |cand|·shingles-
    // per-doc string rows into a per-pair count; here each doc's set
    // ships once per candidate side and the intersection is an in-row
    // array op. sh is per-doc distinct, so size(set) IS the old sz and
    // array_intersect counts the same shared-shingle total; pairs
    // whose intersection is empty fail the rational-τ filter exactly
    // as the old inner join dropped them.
    val setsById = sh.groupBy(col(idCol))
      .agg(collect_set(col("shingle")).as("shset"))
    cand
      .join(setsById.select(col(idCol).as("id_a"), col("shset").as("set_a")),
        "id_a")
      .join(setsById.select(col(idCol).as("id_b"), col("shset").as("set_b")),
        "id_b")
      .withColumn("inter", size(array_intersect(col("set_a"), col("set_b"))))
      .withColumn("__u",
        size(col("set_a")) + size(col("set_b")) - col("inter"))
      .filter(col("inter") * tauDen >= col("__u") * tauNum)
      .select(col("id_a"), col("id_b"),
        (col("inter").cast("double") / col("__u").cast("double"))
          .as("jaccard"))
  }

  /** MinHash signature column: `numHashes` independent permutations. The
    * shingle string is hashed ONCE (`g = xxhash64(shingle)`), then each
    * permutation re-scrambles the 8-byte value with an outer
    * `xxhash64(g + i)` — one string hash plus `numHashes` cheap long hashes
    * per shingle, deterministic across runs/partitions.
    *
    * The classic two-hash shortcut (h_i = h1 + i·h2) is NOT used: its
    * per-permutation orderings are correlated — a single element with small
    * (h1, h2) can achieve the min for every i, so a near-dup pair can be
    * missed by all bands at once regardless of band count (observed on the
    * gate corpus: one jaccard-0.5 pair missed even at 64×1). The outer hash
    * makes each permutation's ordering independent.
    */
  def minHashSignatures(sh: DataFrame, numHashes: Int,
                        idCol: String = "doc_id"): DataFrame =
    // mask to 62 bits so g + i can't overflow a long (ANSI mode raises on
    // wrap); the outer xxhash64 restores full-range values for banding
    sh.withColumn("__g",
        xxhash64(col("shingle")).bitwiseAND(lit(0x3FFFFFFFFFFFFFFFL)))
      .groupBy(col(idCol))
      .agg(array((1 to numHashes).map(i =>
        min(xxhash64(col("__g") + lit(i.toLong)))): _*).as("minhash"))


  /** (id, band, bucket) rows from a (id, shingle) frame: minhash
    * signatures split into `bands` bands of `rowsPerBand` rows, each band's
    * slice hashed to one 64-bit bucket key. The banding layout shared by
    * the batch self-join candidates and the streaming signature store
    * (same deterministic hashes → a stream batch meets earlier batches in
    * exactly the buckets the batch pipeline would). */
  def bandedSignatures(sh: DataFrame, bands: Int, rowsPerBand: Int,
                       idCol: String = "doc_id"): DataFrame =
    minHashSignatures(sh, bands * rowsPerBand, idCol)
      .select(col(idCol),
        posexplode(transform(sequence(lit(0), lit(bands - 1)),
          b => slice(col("minhash"), b * rowsPerBand + lit(1), lit(rowsPerBand))))
          .as(Seq("band", "bucket")))
      .withColumn("bucket", xxhash64(col("band"), col("bucket").cast("string")))

  /** MinHash-LSH candidate pairs from a pre-computed (id, shingle) frame:
    * signature split into `bands` bands of `rowsPerBand` rows; docs
    * agreeing on any full band meet in a bucket join; candidates deduped
    * across bands. Near-dup probability follows the (1−(1−s^r)^b) S-curve.
    * Returns (id_a, id_b) candidates — callers verify with
    * [[ngramJaccardPairs]]-style exact Jaccard on the candidate set only
    * (cheap: candidate count ≪ n²). */
  def minHashLshCandidatesFrom(sh: DataFrame, bands: Int, rowsPerBand: Int,
                               idCol: String = "doc_id"): DataFrame = {
    // both sides of the bucket self-join read the banded signatures —
    // persist AND materialize so the 64-way min-hash aggregation runs once
    // (a lazy persist is computed by both branches of the same action)
    val banded = graft.core.CacheScope.track(
      bandedSignatures(sh, bands, rowsPerBand, idCol).persist())
    banded.count()
    val a = banded.select(col("band"), col("bucket"), col(idCol).as("id_a"))
    val b2 = banded.select(col("band"), col("bucket"), col(idCol).as("id_b"))
    a.join(b2, Seq("band", "bucket"))
      .filter(col("id_a") < col("id_b"))
      .select("id_a", "id_b").distinct()
  }

  /** LSH candidates verified by exact Jaccard ≥ τ — the full
    * shingle→minhash→band→bucket→verify dedup pipeline. */
  def minHashDedupPairs(docs: DataFrame, w: Int, tau: Double, bands: Int = 16,
                        rowsPerBand: Int = 4, idCol: String = "doc_id",
                        textCol: String = "text"): DataFrame = {
    // distinct = false (r18): every consumer of sh here is
    // multiset-insensitive — minhash takes MINs, the verify side
    // collect_set's — so the distinct form's corpus-wide `.distinct()`
    // exchange bought nothing (same-JVM A/B: minhash leg 0.433 -> 0.405 s
    // at sf0.1). Row-set results are identical.
    //
    // r19, tried and REVERTED (the r18 VERDICT's "signatures in one
    // projection" idea, measured both ways with pair-set equality asserted
    // by the ProfileMinhashInRow A/B, recoverable from commit f372b9f): an
    // in-row front end — shingle strings via the unrolled element_at chain,
    // masked gram hashes and array_distinct verify sets in one cached
    // projection, signatures as 64 in-row array_min folds (no shingle
    // relation, no pre-banding Exchange, no collect_set). Same-JVM
    // alternating mins at sf0.1:
    // at q96's parameters (tau .8, bands 16x4) it measured 1.25-1.39 s
    // old vs 1.15-1.25 s in-row — within host noise; at q30's OWN
    // parameters (tau .5, bands 32x2, raw docs) it measured 2.29 s old
    // vs 2.83 s in-row, and the fresh-JVM bench agreed harder (q30
    // 1.44 -> 2.98 min-of-5, q66 3.34 -> 4.50). The interpreted
    // per-element HOF tree loses to the codegen'd explode + window +
    // 64-min aggregate exactly as the r18 in-row shingle experiment
    // found — do not re-try without new evidence.
    val sh = graft.core.CacheScope.track(
      shingles(docs, w, idCol, textCol, distinct = false)
        .filter(col("shingle").isNotNull).persist())
    // no eager count: the banded-signature materialization inside
    // minHashLshCandidatesFrom reads sh through a SINGLE branch, so the
    // lazy persist fills there race-free; by the time the verify join
    // reads sh twice (both set sides) the cache is warm — one job saved
    val cand = minHashLshCandidatesFrom(sh, bands, rowsPerBand, idCol)
    // sets are built for ALL docs, not semi-joined down to candidate
    // members: measured at sf0.1 (candidate-dense corpus) the restriction
    // costs ~20% — an extra persist + join against ids that cover most of
    // the corpus. On sparse-dup data the restriction wins; that shape is
    // served by incrementalDedupPairs (candidate-only re-shingling) and
    // the streaming store probe (semi-joined there, where history ≫ batch)
    val setsById = sh.groupBy(col(idCol))
      .agg(collect_set(col("shingle")).as("shset"))
    cand
      .join(setsById.select(col(idCol).as("id_a"), col("shset").as("set_a")), "id_a")
      .join(setsById.select(col(idCol).as("id_b"), col("shset").as("set_b")), "id_b")
      .withColumn("inter", size(array_intersect(col("set_a"), col("set_b"))))
      .withColumn("jaccard", col("inter").cast("double") /
        (size(col("set_a")) + size(col("set_b")) - col("inter")).cast("double"))
      .filter(col("jaccard") >= tau)
      .select("id_a", "id_b", "jaccard")
  }

  /** Incremental near-duplicate pairs: a new document batch against an
    * already-signed corpus — the daily-ingest form of [[minHashDedupPairs]].
    * `store` holds the corpus's banded signatures ((id, band, bucket) rows
    * of [[bandedSignatures]], computed once and kept, e.g. as parquet);
    * `corpus` is the document table the store ids resolve in (used ONLY to
    * re-shingle verification candidates). Only the NEW batch is signed;
    * historical text is touched for candidate ids alone (a semi-join
    * restriction, point-reads at warehouse scale — the 100 TB win over
    * re-running the full self-join dedup per batch).
    *
    * Emits (corpus_id, new_id, jaccard) for exact Jaccard ≥ `tau`: pairs of
    * a new doc with a stored doc (corpus_id = the stored id), plus pairs
    * within the new batch (corpus_id = the smaller id). Identical banding
    * parameters to the batch pipeline give identical recall — a pair
    * qualifying under [[minHashDedupPairs]] collides in the same bands
    * here, regardless of which side is stored.
    */
  def incrementalDedupPairs(newDocs: DataFrame, corpus: DataFrame,
                            store: DataFrame, w: Int, tau: Double,
                            bands: Int, rowsPerBand: Int,
                            idCol: String = "doc_id",
                            textCol: String = "text"): DataFrame = {
    // multiset shingles (r18): both consumers — banding (MIN) and the
    // verify collect_set — are duplicate-insensitive
    val newSh = graft.core.CacheScope.track(
      shingles(newDocs, w, idCol, textCol, distinct = false)
        .filter(col("shingle").isNotNull).persist())
    newSh.count() // eager: banding + both verify sides read it
    val newBands = graft.core.CacheScope.track(
      bandedSignatures(newSh, bands, rowsPerBand, idCol).persist())
    newBands.count() // eager: store probe + self-join both read it
    // an id present in BOTH the store and the new batch would emit its
    // pairs in two orientations — (a,b) from the store probe AND (b,a)
    // from the self-join — which the distinct below cannot collapse.
    // Anti-join the store down to genuinely-historical ids first (the new
    // id set is one batch — a broadcast anti-join), so every pair has
    // exactly one canonical orientation regardless of id overlap.
    val storeOld = store.join(newDocs.select(col(idCol)), Seq(idCol),
      "left_anti")
    // new × stored: the batch's buckets probe the store (store side huge,
    // probe side one batch — AQE broadcasts the probe when it fits)
    val vsStore = newBands
      .join(storeOld
          .select(col(idCol).as("corpus_id"), col("band"), col("bucket")),
        Seq("band", "bucket"))
      .select(col("corpus_id"), col(idCol).as("new_id"))
    // new × new: same-batch self-join, canonical order (smaller id first)
    val vsSelf = newBands.select(col("band"), col("bucket"),
        col(idCol).as("corpus_id"))
      .join(newBands.select(col("band"), col("bucket"),
        col(idCol).as("new_id")), Seq("band", "bucket"))
      .filter(col("corpus_id") < col("new_id"))
      .select("corpus_id", "new_id")
    // persist + materialize: cand feeds three consumers (both verify joins
    // + the id restriction) and its lineage contains the STORE's signature
    // computation — without the cache that recomputes per consumer
    val cand = graft.core.CacheScope.track(
      vsStore.unionByName(vsSelf).distinct().persist())
    cand.count()
    // exact-verify on candidates only. The new batch's shingles are already
    // cached (newSh) — only HISTORICAL candidate docs are re-shingled, via
    // a left-semi that pushes the id restriction into the corpus scan
    // (point-reads at warehouse scale)
    val newIds = newDocs.select(col(idCol))
    val oldCandIds = cand.select(col("corpus_id").as(idCol)).distinct()
      .join(newIds, Seq(idCol), "left_anti")
    val setsOld = shingles(
        corpus.join(oldCandIds, Seq(idCol), "left_semi"), w, idCol, textCol,
        distinct = false) // collect_set dedups — multiset build, no exchange
      .groupBy(col(idCol))
      .agg(collect_set(col("shingle")).as("shset"))
    val setsNew = newSh.groupBy(col(idCol))
      .agg(collect_set(col("shingle")).as("shset"))
    val sets = graft.core.CacheScope.track(
      setsOld.unionByName(setsNew).persist()) // read by both verify joins
    sets.count()
    cand
      .join(sets.select(col(idCol).as("corpus_id"),
        col("shset").as("set_a")), "corpus_id")
      .join(sets.select(col(idCol).as("new_id"),
        col("shset").as("set_b")), "new_id")
      .withColumn("inter", size(array_intersect(col("set_a"), col("set_b"))))
      .withColumn("jaccard", col("inter").cast("double") /
        (size(col("set_a")) + size(col("set_b")) - col("inter")).cast("double"))
      .filter(col("jaccard") >= tau)
      .select("corpus_id", "new_id", "jaccard")
  }

  /** Connected components over a near-dup pair graph — the cluster-resolution
    * step every dedup pipeline needs after pair generation: each vertex ends
    * up labeled with the minimum id reachable from it, so the label IS the
    * canonical (survivor) id of its duplicate cluster. Vertices in no pair
    * keep their own id.
    *
    * Hash-min label propagation: every vertex starts as its own component;
    * each round takes the min label over the closed neighborhood; fixpoint
    * when the labels stop moving (labels are monotonically non-increasing,
    * so an unchanged Σ(id − label) means no label moved). Rounds = graph
    * diameter + 1 — near-dup clusters are shallow (dups of one document),
    * so this converges in a handful of rounds. The rounds run on
    * [[graft.ops.Graph.neighbourhoodRounds]]: the closed neighbourhood
    * (each pair both ways plus a self-loop per endpoint) is hash-partitioned
    * and checkpointed once; round 1 is one aggregate of it, with no join;
    * each later round joins it to the labels where both already lie and
    * aggregates, ONE data exchange and one job per round, no driver-side
    * graph state. The checkpoint of each round's labels truncates lineage
    * and observes the convergence sum on the same job (at a real cluster
    * use a reliable checkpoint dir for executor-loss tolerance; the
    * algorithm is unchanged).
    *
    * The fixpoint runs over the EDGE-INCIDENT vertices only: a vertex in
    * no pair can never change its label, so it joins the result as an
    * identity row AFTER the loop instead of riding every round. On a
    * dedup graph the incident set is ~2·|pairs| — orders of magnitude
    * below the corpus — so each round's join and checkpoint shrink from
    * corpus-sized to duplicate-sized, which is what makes round count ×
    * materialization survivable at 100 TB (and measured ~2× off the q96
    * chain's two fixpoints at sf0.1).
    *
    * With at most `driverBelow` symmetrized edges (by default the active
    * session's [[graft.ops.Scale.Cutover.Graph]] bound, 2^18; the rule is
    * [[graft.ops.Scale.smallSide]], fed the edge count the edge
    * checkpoint's own job observes, so the decision runs no probe) the
    * duplicate graph is COLLECTED and solved by driver-side union-find
    * instead — the q42 near-dup cutover device, applied to the fixpoint: a
    * bounded edge list costs one collect and zero per-round shuffles,
    * where the distributed loop pays a job per round plus the closed
    * neighbourhood's build in fixed overhead. The default (2^18 edges) admits
    * ~4 MB of raw longs but transiently ~50-100 MB of driver heap —
    * collect materializes boxed tuples plus the union-find HashMap —
    * which is the honest budget the threshold is sized to, not the
    * raw-array lower bound.
    * Min-label union-find emits EXACTLY the propagation fixpoint's
    * labels — comp = min id of the component — so the cutover is
    * invisible in results (OperatorSpec pins driver == distributed);
    * a bound of 0 forces the distributed path.
    */
  def connectedComponents(vertices: DataFrame, pairs: DataFrame,
                          idCol: String = "id",
                          maxIters: Int = 50,
                          driverBelow: Long = graft.ops.Scale.Cutover.Graph
                            .bound(SparkSession.active)): DataFrame = {
    // cast FIRST, then drop NULLs: the id contract is long, and an
    // endpoint that is non-NULL but uncastable (a non-numeric string
    // id) must be dropped like a NULL — filtering before the cast let
    // exactly those rows through to NPE the driver path's typed collect
    // while the distributed fixpoint silently ignored them (r16
    // ADVICE). try_cast, not cast: ANSI mode (Spark 4 default) makes a
    // plain cast THROW on malformed input instead of yielding NULL.
    // With the cast inside the initial select, dirty endpoints of BOTH
    // kinds are dropped once, and both paths see the same long relation
    val edges = pairs
      .select(col(pairs.columns(0)).as("__src0"),
        col(pairs.columns(1)).as("__dst0"))
      .select(expr("try_cast(__src0 AS BIGINT)").as("__src"),
        expr("try_cast(__dst0 AS BIGINT)").as("__dst"))
      .filter(col("__src").isNotNull && col("__dst").isNotNull)
    // localCheckpoint, not persist: the edge set's logical plan is the
    // caller's whole pair pipeline (minhash/IVF), and every fixpoint
    // round re-analyzes any plan that references it — a persisted frame
    // keeps that subtree alive in every round's analyzer pass, a
    // checkpoint is a leaf. Checkpoint BEFORE symmetrizing: both
    // directions read the caller plan, and a symmetrized relation over
    // it would run the (expensive — minhash/IVF) pair pipeline TWICE;
    // checkpointed first, it runs once, and the closed neighbourhood's
    // explode reads cached rows
    val counted = Observation()
    val edges0 = edges.observe(counted, count(lit(1)).as("n"))
      .localCheckpoint(true)
    val directed = counted.get.get("n").fold(0L)(_.asInstanceOf[Long])
    // same try_cast discipline as the edges (r17 review: a plain cast
    // here contradicted the "dirty endpoints of BOTH kinds" contract —
    // under ANSI mode one non-numeric vertex id threw at action time
    // while the identical value in `pairs` was silently dropped)
    val verts = vertices.select(col(idCol).as("__v0"))
      .select(expr("try_cast(__v0 AS BIGINT)").as("id"))
      .filter(col("id").isNotNull)
    // the checkpoint's job counts the directed relation as it fills it,
    // each row two symmetrized edges: the cutover needs no probe job
    val comp =
      if (graft.ops.Scale.smallSide(directed, driverBelow, perRow = 2L))
        componentsOnDriver(edges0)
      else {
        // hash-min over the closed neighbourhood: round 1 takes each
        // vertex's least neighbour id (the self-loops keep its own), every
        // later round its least neighbour label. Σ(id − comp) is 0 at the
        // start and grows while any label falls, so an unchanged sum is
        // the fixpoint
        val dec = "decimal(38,0)"
        val (labels, converged) = graft.ops.Graph.neighbourhoodRounds(edges0,
            selfLoops = true, init = None, maxRounds = maxIters,
            progress = Some(sum(col("id").cast(dec) - col("v").cast(dec)))) {
          _.groupBy(col("__src").as("id")).agg(min(col("v")).as("v"))
        }
        // the checkpointed edge/label RDDs are reclaimed by the
        // ContextCleaner once unreferenced — localCheckpoint has no
        // explicit release hook, so there is nothing to unpersist on the
        // error path
        require(converged,
          s"connectedComponents did not converge in $maxIters rounds — " +
            "component diameter exceeds the bound; raise maxIters")
        labels.select(col("id"), col("v").as("comp"))
      }
    // both sides label the edge endpoints only; isolated vertices re-enter
    // as identity labels — a lazy anti-join projection, never
    // materialized through the loop
    comp.union(
      verts.join(comp.select("id"), Seq("id"), "left_anti")
        .select(col("id"), col("id").as("comp")))
  }

  /** [[connectedComponents]]' small side: the directed (`__src`, `__dst`)
    * relation collected and solved by union-find into (id, comp) labels of
    * its endpoints. Union-by-min keeps every tree's root at the
    * component's minimum id, so find() returns exactly the propagation
    * fixpoint's label. */
  private def componentsOnDriver(edges0: DataFrame): DataFrame = {
    val parent = scala.collection.mutable.HashMap.empty[Long, Long]
    def find(x: Long): Long = {
      var r = x
      while (parent(r) != r) r = parent(r)
      var c = x
      while (parent(c) != r) { val n = parent(c); parent(c) = r; c = n }
      r
    }
    // typed collect of the DIRECTED relation: union-find is
    // direction-agnostic, so collecting the pre-swap half materializes
    // half the boxed tuples the symmetrized relation would — the
    // driver-heap hot spot the threshold is budgeted against
    val sp = edges0.sparkSession
    import sp.implicits._
    edges0 // already long-typed and NULL-free from the initial select
      .as[(Long, Long)]
      .collect().foreach { case (a, b) =>
        parent.getOrElseUpdate(a, a)
        parent.getOrElseUpdate(b, b)
        val (ra, rb) = (find(a), find(b))
        if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb)
      }
    parent.keysIterator.map(v => (v, find(v))).toSeq.toDF("id", "comp")
  }

  /** Near-duplicate cluster assignment: exact n-gram Jaccard pairs at τ →
    * connected components → (id, cluster_id) with cluster_id = min id of the
    * duplicate cluster (its canonical survivor). The full pair→cluster
    * resolution pipeline; at 100 TB feed [[minHashDedupPairs]] output
    * instead of the exact pair generator (same shape, LSH-pruned).
    */
  def nearDupClusters(docs: DataFrame, w: Int, tau: Double,
                      idCol: String = "doc_id",
                      textCol: String = "text"): DataFrame =
    connectedComponents(
      docs.select(col(idCol)),
      ngramJaccardPairs(docs, w, tau, idCol, textCol).select("id_a", "id_b"),
      idCol)

  /** Best-of-cluster canonical selection — the production dedup retention
    * policy over a resolved cluster assignment: each duplicate cluster
    * keeps its highest-scoring member and drops the rest. q51/q76 label
    * clusters with the MIN id (a stable canonical name); a real curation
    * pipeline retains the best-QUALITY copy of each near-dup group — this
    * composes any (id, cluster) relation ([[nearDupClusters]], the q76
    * embedding clusters) with any per-id scorer (q36's heuristic, q77's
    * trained classifier).
    *
    * Tie-break: equal scores keep the LARGER id (the max-struct contract,
    * stated like q84's) — a contract, not an accident.
    *
    * Plan: LEFT-join the scores in (same key as the cluster relation, AQE
    * picks broadcast when the scorer side is small; members the scorer
    * missed coalesce to -∞ rather than vanish), then ONE window
    * max-struct per cluster partition. Cluster partitions are bounded by
    * the largest duplicate group — at 100 TB this window never sees more
    * rows than the worst near-dup cluster, and there is no join back.
    *
    * Output: (doc_id, cluster_id, kept_id, is_kept).
    */
  def keepBestInCluster(clusters: DataFrame, scores: DataFrame,
                        idCol: String = "doc_id",
                        scoreCol: String = "quality_score"): DataFrame = {
    val cl = clusters.select(col(clusters.columns(0)).as("__id"),
      col(clusters.columns(1)).as("cluster_id"))
    val sc = scores.select(col(idCol).as("__id"), col(scoreCol).as("__s"))
    val best = max(struct(col("__s"), col("__id")))
      .over(Window.partitionBy(col("cluster_id")))
    // LEFT join: a cluster member the scorer missed must still get a row
    // (is_kept = false unless it wins) — an inner join would silently
    // delete it from consumers that filter on is_kept. Unscored members
    // rank at -∞ (ties among unscored keep the larger id, the max-struct
    // contract), so they can win only when the whole cluster is unscored.
    cl.join(sc, Seq("__id"), "left")
      .withColumn("__s", coalesce(col("__s"), lit(Double.NegativeInfinity)))
      .withColumn("__best", best)
      .select(col("__id").as(idCol), col("cluster_id"),
        col("__best.__id").as("kept_id"),
        (col("__id") === col("__best.__id")).as("is_kept"))
  }

  /** 64-bit SimHash of the token stream: sign-sum of per-token hash bits.
    * Bit i of the signature is 1 iff Σ_tokens (bit_i(hash) ? 1 : −1) > 0.
    *
    * `tokenHash` picks the hash family (ours to choose — the reference has
    * no simhash): default xxhash64 spreads over all 64 bits; pass
    * [[TextAnalysis.fingerprint]] for the portable mod-2^57 polynomial that
    * a SQL oracle reproduces bit-identically (its bits ≥ 57 are always 0,
    * so those signature bits are constant-0 on both engines — Hamming
    * distances are unaffected, the high pigeonhole band just carries 7
    * fewer effective bits).
    *
    * Single-pass plan: token hashes exploded once, then all 64 bit-votes as
    * conditional sums inside ONE whole-stage-codegen hash aggregate —
    * against the naive form (64 interpreted higher-order `aggregate` calls
    * per row) this is ~60× less per-row work and vectorizes the scan.
    *
    * `hashDistinctFirst` computes the token hash once per DISTINCT token
    * and joins it back onto the occurrence stream (the df-join layout of
    * TF-IDF): the right call when the hash is expensive relative to a join
    * — the portable fingerprint is an interpreted per-char fold, and
    * paying it per occurrence cost q31 4× at bench scale (vocabulary ≪
    * corpus, at 100 TB as at sf0.1). Leave it off for cheap codegen hashes
    * like the xxhash64 default, where the join would cost more than it
    * saves.
    */
  def simHash(docs: DataFrame, idCol: String = "doc_id",
              textCol: String = "text",
              tokenHash: Column => Column = xxhash64(_),
              hashDistinctFirst: Boolean = false): DataFrame = {
    val toks = TextAnalysis.tokens(col(textCol))
    val hashes =
      if (!hashDistinctFirst)
        docs.select(col(idCol),
          explode_outer(transform(toks, t => tokenHash(t))).as("h"))
      else {
        val occ = docs.select(col(idCol), explode_outer(toks).as("__tok"))
        val vocab = occ.select(col("__tok")).filter(col("__tok").isNotNull)
          .distinct()
          .withColumn("h", tokenHash(col("__tok")))
        // left join keeps the null-token row of empty docs (vote sum 0 →
        // signature 0, same as the direct path); AQE broadcasts the vocab
        // side when small and handles stopword skew when not
        occ.join(vocab, Seq("__tok"), "left").select(col(idCol), col("h"))
      }
    val votes = (0 until 64).map { i =>
      sum(when(col("h").isNull, 0L)
        .when(shiftright(col("h"), i).bitwiseAND(1L) === 1L, 1L)
        .otherwise(-1L)).as(s"v$i")
    }
    val sig = (0 until 64).map { i =>
      when(col(s"v$i") > 0, shiftleft(lit(1L), i)).otherwise(lit(0L))
    }.reduce((a, b) => a.bitwiseOR(b))
    hashes.groupBy(col(idCol)).agg(votes.head, votes.tail: _*)
      .select(col(idCol), sig.as("simhash"))
  }

  /** All pairs of 64-bit signatures within Hamming distance `maxDist`, via
    * the pigeonhole band trick: split 64 bits into `maxDist`+1 bands — a
    * pair within distance differs in ≤ maxDist bands, so it agrees exactly
    * on ≥1 band → bucket join on (band, bits), verify with
    * `bit_count(xor)`. No n² pass. `sigs` is (idCol, sigCol); shared by
    * text SimHash and image perceptual-hash dedup.
    */
  def hammingPairs(sigs: DataFrame, maxDist: Int,
                   idCol: String, sigCol: String): DataFrame = {
    val nBands = maxDist + 1
    val width = 64 / nBands
    def bandBits(sig: Column, b: Int): Column =
      shiftright(sig, b * width).bitwiseAND(lit((1L << width) - 1))
    val bandCols = array((0 until nBands).map(b => struct(
      lit(b).as("band"), bandBits(col(sigCol), b).as("bits"))): _*)
    val banded = sigs.select(col(idCol), col(sigCol),
        explode(bandCols).as("bb"))
      .select(col(idCol), col(sigCol),
        col("bb.band").as("band"), col("bb.bits").as("bits"))
    val a = banded.select(col("band"), col("bits"), col(idCol).as("id_a"),
      col(sigCol).as("sig_a"))
    val b = banded.select(col("band"), col("bits"), col(idCol).as("id_b"),
      col(sigCol).as("sig_b"))
    // A pair agreeing on k bands collides in k buckets; instead of a
    // distinct() over every candidate (a multi-million-row shuffle when the
    // corpus is near-dup-dense — q31 emits 2M pairs at sf0.1), emit each
    // pair ONLY from its first agreeing band: at band b, require every
    // earlier band to differ. Pure whole-stage-codegen filter on the join
    // output, exactly-once per qualifying pair, no dedup exchange at all.
    val firstAgreeingBand = (0 until nBands).map { j =>
      col("band") <= j ||
        bandBits(col("sig_a"), j) =!= bandBits(col("sig_b"), j)
    }.reduce(_ && _)
    a.join(b, Seq("band", "bits"))
      .filter(col("id_a") < col("id_b"))
      .filter(firstAgreeingBand)
      .select(col("id_a"), col("id_b"),
        bit_count(col("sig_a").bitwiseXOR(col("sig_b"))).as("hamming"))
      .filter(col("hamming") <= maxDist)
  }

  /** SimHash near-dup pairs with Hamming distance ≤ `maxDist` (pigeonhole
    * banding, see [[hammingPairs]]).
    *
    * The signature frame is persisted (scope-tracked): both sides of the
    * band self-join read it, and without the cache each side re-runs the
    * token explode + 64-vote aggregate — measured 3.0 s vs 1.0 s at sf0.1.
    * Released by the caller's [[graft.core.CacheScope]] after its action
    * (or `clearCache` outside a scope).
    */
  def simHashPairs(docs: DataFrame, maxDist: Int = 3,
                   idCol: String = "doc_id",
                   textCol: String = "text",
                   tokenHash: Column => Column = xxhash64(_),
                   hashDistinctFirst: Boolean = false): DataFrame = {
    val sigs = graft.core.CacheScope.track(
      simHash(docs, idCol, textCol, tokenHash, hashDistinctFirst).persist())
    // eager materialization: a lazy shared persist is computed once per
    // branch of the first action (cache-population race)
    sigs.count()
    hammingPairs(sigs, maxDist, idCol, "simhash")
  }

  /** Crawl-over-crawl snapshot delta — the churn audit a recurring
    * ingest needs before re-training: per group (source), how many
    * distinct documents the new snapshot RETAINED (byte-identical text
    * present in both), REMOVED, and ADDED, with the character mass
    * moving each way. Exact-text comparison (the [[exactCanonical]]
    * notion of identity), computed as one full-outer join of the two
    * snapshots' distinct (group, text) sets — membership flags, never a
    * row product.
    *
    * 100 TB posture: both sides collapse to distinct (group, text)
    * BEFORE the join (map-side combined), and the join shuffles on the
    * (group, text) hash — at ingest volume swap text for
    * `xxhash64(text)` plus a verify join, the [[exactCanonicalByHash]]
    * device; the definitional text-keyed form is what the oracle
    * checks.
    *
    * Output: (group, n_old, n_new, n_retained, n_removed, n_added,
    * chars_removed, chars_added).
    */
  def snapshotDelta(oldDocs: DataFrame, newDocs: DataFrame,
                    groupCol: String = "source",
                    textCol: String = "text"): DataFrame = {
    val o = oldDocs.select(col(groupCol), col(textCol)).distinct()
      .withColumn("__in_old", lit(1L))
    val n = newDocs.select(col(groupCol), col(textCol)).distinct()
      .withColumn("__in_new", lit(1L))
    o.join(n, Seq(groupCol, textCol), "full_outer")
      .select(col(groupCol),
        coalesce(col("__in_old"), lit(0L)).as("__o"),
        coalesce(col("__in_new"), lit(0L)).as("__n"),
        length(col(textCol)).cast("long").as("__len"))
      .groupBy(col(groupCol))
      .agg(sum(col("__o")).as("n_old"),
        sum(col("__n")).as("n_new"),
        sum(col("__o") * col("__n")).as("n_retained"),
        sum(col("__o") * (lit(1L) - col("__n"))).as("n_removed"),
        sum((lit(1L) - col("__o")) * col("__n")).as("n_added"),
        sum(col("__o") * (lit(1L) - col("__n")) * col("__len"))
          .as("chars_removed"),
        sum((lit(1L) - col("__o")) * col("__n") * col("__len"))
          .as("chars_added"))
  }

  /** Query-parameter names a crawl canonicalizer strips: pure tracking
    * state that never changes the served page (analytics campaign tags
    * and click ids). Anything else — including pagination/content ids —
    * is kept: over-stripping deduplicates pages that differ. */
  val TrackingParams: Set[String] = Set("gclid", "fbclid", "msclkid")

  /** URL canonicalization — the standard first stage of crawl-corpus
    * dedup (r16 VERDICT item #6): two fetches of the SAME page routinely
    * disagree in scheme/host case, an explicit default port, a fragment,
    * tracking query params, and a trailing slash, so exact-URL dedup
    * without normalization silently keeps all the variants. The rules,
    * applied in order, all pure column expressions (codegen'd, no UDF):
    *
    *  1. drop the `#fragment` (client-side only, never sent to the
    *     server),
    *  2. lowercase the scheme and authority (host names are
    *     case-insensitive per RFC 3986 §6.2.2.1; the path is NOT touched
    *     — path case is significant),
    *  3. strip an explicit default port (`:80` for http, `:443` for
    *     https),
    *  4. drop tracking query params (`utm_*` and [[TrackingParams]],
    *     matched on the LOWERCASED key — `UTM_SOURCE=` is the same
    *     tracker tag; values keep their case), preserving the relative
    *     order of the survivors; the `?` goes too when nothing survives,
    *  5. strip trailing slashes from the path (`/a/` ≡ `/a`, and a bare
    *     `http://h/` ≡ `http://h`).
    *
    * Adds `canonical_url` and `host` (the lowercased authority minus any
    * port). 100 TB posture: map-only — every rule is a per-row string
    * expression; the downstream dedup groups on `canonical_url` exactly
    * like [[exactCanonical]] groups on text (swap in a hash key at
    * ingest volume, the [[exactCanonicalByHash]] device).
    */
  def canonicalizeUrls(docs: DataFrame,
                       urlCol: String = "url"): DataFrame = {
    val noFrag = regexp_replace(col(urlCol), "#.*", "")
    docs
      .withColumn("__nofrag", noFrag)
      // scheme://host[:port] — everything before the first / or ? past
      // the authority
      .withColumn("__head",
        regexp_extract(col("__nofrag"), "^[A-Za-z][A-Za-z0-9+.-]*://[^/?]*", 0))
      .withColumn("__tail",
        expr("substring(__nofrag, length(__head) + 1)"))
      .withColumn("__head",
        regexp_replace(
          regexp_replace(lower(col("__head")), "^(http://.*):80$", "$1"),
          "^(https://.*):443$", "$1"))
      .withColumn("__path",
        regexp_replace(regexp_extract(col("__tail"), "^[^?]*", 0),
          "/+$", ""))
      .withColumn("__params",
        // the KEY comparison is case-insensitive (r17 ADVICE: a
        // `UTM_SOURCE=` or `GCLID=` variant of the same page is the
        // same tracking param — query keys are conventionally
        // case-insensitive at the tracker); the VALUE, like the path,
        // is never case-touched
        filter(split(regexp_extract(col("__tail"), "\\?(.*)$", 1), "&"),
          p => {
            val key = lower(split(p, "=").getItem(0))
            !(p === "" || key.substr(lit(1), lit(4)) === "utm_" ||
              key.isin(TrackingParams.toSeq.map(x => x: Any): _*))
          }))
      .withColumn("canonical_url",
        concat(col("__head"), col("__path"),
          when(size(col("__params")) > 0,
            concat(lit("?"), array_join(col("__params"), "&")))
            .otherwise(lit(""))))
      .withColumn("host",
        regexp_extract(col("__head"), "^[a-z0-9+.-]*://([^/:?]*)", 1))
      .drop("__nofrag", "__head", "__tail", "__path", "__params")
  }

  /** Canonical-URL exact dedup + per-host document cap — the crawl
    * curation stage composing [[canonicalizeUrls]] with the
    * [[exactCanonical]] min-id retention rule (keyed on the canonical
    * URL instead of the text) and the q64 source-cap device keyed on the
    * HOST (one hot site must not dominate the corpus even after its URL
    * variants collapse). Output: (doc_id, canonical_url, host,
    * canonical_id, is_canonical, kept) — `kept` = the doc is its URL
    * group's canonical copy AND inside its host's cap by the
    * deterministic content-hash draw.
    *
    * 100 TB posture: canonicalization is map-only; the group-min is one
    * hash aggregate on the canonical key; the host cap is the two-phase
    * pre-filtered rank ([[TextAnalysis.sourceCapTwoPhase]] — never a
    * whole-host single-task window). */
  def urlCanonicalDedup(docs: DataFrame, cap: Int = 20,
                        urlCol: String = "url",
                        idCol: String = "doc_id",
                        textCol: String = "text"): DataFrame = {
    val canon = canonicalizeUrls(docs, urlCol)
    val groups = canon.groupBy(col("canonical_url"))
      .agg(min(col(idCol)).as("canonical_id"))
    val labeled = canon.join(groups, Seq("canonical_url"))
      .withColumn("is_canonical", col(idCol) === col("canonical_id"))
    val survivors = labeled.filter(col("is_canonical"))
      .select(col(idCol), col("host"), col(textCol))
    val capped = TextAnalysis.sourceCapTwoPhase(survivors, cap,
        strataCol = "host", salt = "|urlcap", idCol = idCol,
        textCol = textCol)
      .select(col(idCol), lit(true).as("__in_cap"))
    labeled.join(capped, Seq(idCol), "left")
      .select(col(idCol), col("canonical_url"), col("host"),
        col("canonical_id"), col("is_canonical"),
        (col("is_canonical") && coalesce(col("__in_cap"), lit(false)))
          .as("kept"))
  }
}
