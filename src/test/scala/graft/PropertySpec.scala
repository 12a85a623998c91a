package graft

import org.scalatest.funsuite.AnyFunSuite
import org.scalacheck.{Gen, Prop}
import org.scalacheck.Test.{check, Parameters}

import graft.llm.TextAnalysis
import graft.ops.Scale

/** Randomized algebraic properties of the pure-JVM primitives the
  * distributed operators are built on — the laws the shuffle relies on
  * (mergeability, split-invariance, the rolling-hash composition) checked
  * over arbitrary inputs rather than fixtures. Pure JVM: no SparkSession,
  * so hundreds of cases cost milliseconds.
  */
class PropertySpec extends AnyFunSuite {

  private val params = Parameters.default
    .withMinSuccessfulTests(300)
    .withInitialSeed(org.scalacheck.rng.Seed(42L))

  private def holds(p: Prop, label: String): Unit = {
    val r = check(params, p)
    assert(r.passed, s"$label: $r")
  }

  private val asciiStr: Gen[String] =
    Gen.listOf(Gen.choose(' ', '~')).map(_.mkString)

  test("floor-formula quintile law (q211): for any n >= 5, every rank " +
    "maps into 1..5, buckets are monotone in rank, and each bucket " +
    "holds n/5 or n/5+1 rows — the balance claim NTILE would break") {
    holds(Prop.forAll(Gen.choose(5, 100000)) { (n: Int) =>
      def bucket(rn: Long): Long = ((rn - 1) * 5) / n + 1
      val sizes = (1L to n.toLong).groupBy(bucket).view.mapValues(_.size)
      sizes.keys.forall(b => b >= 1L && b <= 5L) &&
        (1L until n.toLong).forall(r => bucket(r) <= bucket(r + 1)) &&
        sizes.values.forall(c => c == n / 5 || c == n / 5 + 1)
    }, "quintile balance")
  }

  test("ceil-div packing law (q203): seqs·len bounds the token count " +
    "from above and (seqs−1)·len from below — the exactness the waste " +
    "ppm rides on") {
    holds(Prop.forAll(Gen.choose(0L, 1000000L), Gen.choose(1L, 8192L)) {
      (tok: Long, len: Long) =>
        val seqs = (tok + len - 1) / len
        seqs * len >= tok && (tok == 0L || (seqs - 1) * len < tok)
    }, "ceil-div packing")
  }

  test("df bucket ladder law (q205): the selected floor is the highest " +
    "power of two <= df (capped at 2^20) — bit-length semantics from " +
    "a CASE ladder") {
    import graft.llm.Retrieval.DfBucketFloors
    holds(Prop.forAll(Gen.choose(1L, 100000000L)) { (df: Long) =>
      val ladder = DfBucketFloors.filter(_ <= df).max
      val expect = math.min(java.lang.Long.highestOneBit(df),
        DfBucketFloors.last)
      ladder == expect
    }, "df ladder")
  }

  test("fingerprint composition law: fp(a ++ b) == fp(a)·31^|b| + fp(b) " +
    "(mod 2^57) — the identity the gram folds and incremental hashing " +
    "lean on") {
    val m = BigInt(TextAnalysis.FingerprintMod)
    holds(Prop.forAll(asciiStr, asciiStr) { (a: String, b: String) =>
      val lhs = BigInt(TextAnalysis.fingerprintOf(a + b))
      val rhs = (BigInt(TextAnalysis.fingerprintOf(a)) *
        BigInt(31).modPow(b.length, m) +
        BigInt(TextAnalysis.fingerprintOf(b))).mod(m)
      lhs == rhs
    }, "fp composition")
  }

  test("fingerprint range and overflow safety: 0 <= fp < 2^57 for every " +
    "input, so acc·31 + c stays below 2^62 — the no-silent-wrap claim") {
    holds(Prop.forAll(asciiStr) { (s: String) =>
      val f = TextAnalysis.fingerprintOf(s)
      f >= 0L && f < TextAnalysis.FingerprintMod
    }, "fp range")
  }

  test("TopKPayloadAgg is a mergeable summary: any split of the input " +
    "into reduced parts, merged in any grouping, equals sort-and-take") {
    val agg = new Scale.TopKPayloadAgg[Long](5)
    val rows = Gen.listOf(Gen.zip(
      Gen.choose(0.0, 10.0), Gen.choose(0L, 50L)))
    holds(Prop.forAll(rows, Gen.choose(1, 7)) { (xs, nParts) =>
      val parts = xs.grouped(math.max(1, xs.length / nParts)).toList
      val merged = parts
        .map(p => p.foldLeft(agg.zero)(agg.reduce))
        .foldLeft(agg.zero)(agg.merge)
      val expected = xs
        .sortBy { case (s, p) => (-s, p) }.take(5).map(_._2)
      agg.finish(merged) == expected
    }, "topK mergeability")
  }

  test("TopKPayloadAgg distinctPayloads: exact duplicates occupy one " +
    "slot under every split, matching distinct-then-rank") {
    val agg = new Scale.TopKPayloadAgg[Long](4, distinctPayloads = true)
    val rows = Gen.listOf(Gen.zip(
      Gen.choose(0.0, 3.0).map(d => math.rint(d)), // coarse: forces dups
      Gen.choose(0L, 5L)))
    holds(Prop.forAll(rows, Gen.choose(1, 5)) { (xs, nParts) =>
      val parts = xs.grouped(math.max(1, xs.length / nParts)).toList
      val merged = parts
        .map(p => p.foldLeft(agg.zero)(agg.reduce))
        .foldLeft(agg.zero)(agg.merge)
      val expected = xs.distinct
        .sortBy { case (s, p) => (-s, p) }.take(4).map(_._2)
      agg.finish(merged) == expected
    }, "topK distinct")
  }

  test("BottomKDistinctAgg is a mergeable summary: any split, merged in " +
    "any grouping, keeps the k smallest distinct non-NULL values") {
    val agg = new graft.ops.Sketch.BottomKDistinctAgg(6)
    val vals = Gen.listOf(Gen.option(Gen.choose(0L, 40L)))
    holds(Prop.forAll(vals, Gen.choose(1, 7)) { (xs, nParts) =>
      val parts = xs.grouped(math.max(1, xs.length / nParts)).toList
      val merged = parts
        .map(p => p.foldLeft(agg.zero)((b, v) =>
          agg.reduce(b, v.map(java.lang.Long.valueOf).orNull)))
        .foldLeft(agg.zero)(agg.merge)
      agg.finish(merged).toSeq == xs.flatten.distinct.sorted.take(6)
    }, "bottom-k mergeability")
  }

  test("Misra-Gries guarantee under arbitrary splits: every item with " +
    "true count > n/(k+1) survives the merged summary, and no reported " +
    "count overcounts") {
    val k = 4
    val agg = new Scale.TopFreqAgg(k)
    val streams = Gen.listOf(Gen.choose(0, 7).map(i => s"i$i"))
    holds(Prop.forAll(streams, Gen.choose(1, 6)) { (xs, nParts) =>
      val parts = xs.grouped(math.max(1, xs.length / nParts)).toList
      val merged = parts
        .map(p => p.foldLeft(agg.zero)(agg.reduce))
        .foldLeft(agg.zero)(agg.merge)
      val truth = xs.groupBy(identity).view.mapValues(_.size.toLong).toMap
      val heavy = truth.filter(_._2 > xs.length.toLong / (k + 1))
      heavy.keySet.subsetOf(merged.keySet) &&
        merged.forall { case (i, c) => c <= truth.getOrElse(i, 0L) }
    }, "misra-gries")
  }

  test("BPE piece vocabulary: colliding merge outputs (two different " +
    "splits of the same string) share ONE first-wins id, and ids stay " +
    "dense and stable under permutation of the tail") {
    val wordGen = Gen.choose(2, 8).flatMap(n =>
      Gen.listOfN(n, Gen.choose('a', 'd')).map(_.mkString))
    holds(Prop.forAll(wordGen, Gen.choose(1, 6)) { (w, cut2raw) =>
      val cut1 = 1
      val cut2 = 1 + (cut2raw % math.max(1, w.length - 1))
      // two (usually different) splits of the SAME output string
      val m1 = (w.substring(0, cut1), w.substring(cut1))
      val m2 = (w.substring(0, cut2), w.substring(cut2))
      val vocab = TextAnalysis.bpePieceVocab(Seq(m1, m2))
      // both merges output w, so exactly ONE id exists for it and the
      // table stays duplicate-free (dense ids)
      vocab.count(_ == w) == 1 &&
        vocab.distinct.length == vocab.length &&
        vocab.indexOf(w) == 26 // first-wins: the first merge's slot
    }, "bpe vocab collision")
  }

  test("Misra-Gries summary laws: ANY partitioning and merge order " +
    "yields counters with no overcount, undercount <= n/(k+1), and " +
    "every item above the threshold present — the mergeable-summary " +
    "contract the top-freq store's epochs rely on") {
    val gen = for {
      k <- Gen.choose(2, 12)
      n <- Gen.choose(0, 400)
      items <- Gen.listOfN(n, Gen.choose(0, 30).map(i => s"i$i"))
      assign <- Gen.listOfN(n, Gen.choose(0, 4))
    } yield (k, items, assign)
    holds(Prop.forAll(gen) { case (k, items, assign) =>
      val agg = new Scale.TopFreqAgg(k)
      val parts =
        if (items.isEmpty) List(Nil)
        else items.zip(assign).groupBy(_._2).values.map(_.map(_._1)).toList
      val partials = parts.map(_.foldLeft(agg.zero)(agg.reduce))
      val merged = partials.foldLeft(agg.zero)(agg.merge)
      val exact = items.groupBy(identity).view.mapValues(_.size.toLong).toMap
      val budget = items.size / (k + 1)
      merged.size <= k &&
        merged.forall { case (i, c) => c <= exact(i) } &&
        merged.forall { case (i, c) => exact(i) - c <= budget } &&
        exact.filter(_._2 > budget).keySet.subsetOf(merged.keySet)
    }, "MG mergeable-summary laws")
  }
}
