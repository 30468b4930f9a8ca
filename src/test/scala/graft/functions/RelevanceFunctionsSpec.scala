package graft.functions

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.TestSpark

class RelevanceFunctionsSpec extends AnyFunSuite with graft.CachesScoped {
  private val spark = TestSpark.spark
  import spark.implicits._

  // hand corpus: N=3, dl = 3,2,3, sumdl = 8
  private val corpus = Seq(
    (1L, "apple banana apple"),
    (2L, "banana cherry"),
    (3L, "durian durian durian")).toDF("doc_id", "text")

  /** The EXACT double chain bm25 promises (same association order). */
  private def term(tf: Double, dfT: Double, dl: Double,
      n: Double = 3.0, sumdl: Double = 8.0): Double = {
    val avgdl = sumdl / n
    val idf = math.log((n - dfT + 0.5) / (dfT + 0.5) + 1.0)
    idf * (tf * (1.2 + 1.0)) / (tf + 1.2 * (1.0 - 0.75 + 0.75 * dl / avgdl))
  }

  private def r6(x: Double): Double =
    BigDecimal(x).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble

  test("bm25 matches the hand-computed chain bit-for-bit (after 6dp round)") {
    val got = RelevanceFunctions
      .bm25(corpus, "doc_id", "text", Seq("apple", "banana"))
      .orderBy("doc_id").as[(Long, Double)].collect()
    // df(apple)=1, df(banana)=2; summation order is apple then banana
    val want = Array(
      1L -> r6(term(2, 1, 3) + term(1, 2, 3)),
      2L -> r6(term(0, 1, 2) + term(1, 2, 2)),
      3L -> r6(term(0, 1, 3) + term(0, 2, 3)))
    assert(got === want)
    // absent terms contribute exactly 0, so doc 3 scores 0
    assert(got(2)._2 === 0.0)
  }

  test("scores are partitioning-invariant (stats are one global aggregate)") {
    val a = RelevanceFunctions.bm25(corpus, "doc_id", "text", Seq("banana"))
      .orderBy("doc_id").as[(Long, Double)].collect()
    val b = RelevanceFunctions.bm25(corpus.repartition(5), "doc_id", "text", Seq("banana"))
      .orderBy("doc_id").as[(Long, Double)].collect()
    assert(a === b)
  }

  test("unigramLogProb: hand-checked means, empty doc floored") {
    // corpus occurrences: a:3, b:2, c:1 -> total 6
    val df = Seq((1L, "a a b"), (2L, "a b c"), (3L, "   ")).toDF("doc_id", "text")
    val got = RelevanceFunctions.unigramLogProb(df, "doc_id", "text")
      .orderBy("doc_id").as[(Long, Double)].collect()
    val (pa, pb, pc) = (math.log(3.0 / 6.0), math.log(2.0 / 6.0), math.log(1.0 / 6.0))
    assert(math.abs(got(0)._2 - (pa + pa + pb) / 3.0) < 1e-12)
    assert(math.abs(got(1)._2 - (pa + pb + pc) / 3.0) < 1e-12)
    assert(got(2)._2 === -20.0) // blank doc: no tokens, floored
    // rarer vocabulary scores strictly lower
    assert(got(1)._2 < got(0)._2)
  }

  test("unigramLogProb: shuffled-vocab path is bit-identical to broadcast") {
    val df = Seq((1L, "a a b"), (2L, "a b c"), (3L, "   ")).toDF("doc_id", "text")
    val bc = RelevanceFunctions.unigramLogProb(df, "doc_id", "text")
      .orderBy("doc_id").as[(Long, Double)].collect()
    val sh = RelevanceFunctions
      .unigramLogProb(df, "doc_id", "text", broadcastVocab = false)
      .orderBy("doc_id").as[(Long, Double)].collect()
    assert(sh === bc)
    // the crawl-scale config (shuffled join + tail-trimmed vocab) together
    val both = RelevanceFunctions.unigramLogProb(df, "doc_id", "text",
        broadcastVocab = false, minCount = 2L)
      .orderBy("doc_id").as[(Long, Double)].collect()
    assert(both === RelevanceFunctions
      .unigramLogProb(df, "doc_id", "text", minCount = 2L)
      .orderBy("doc_id").as[(Long, Double)].collect())
  }

  test("unigramLogProb: minCount floors dropped-tail occurrences, keeps P") {
    // occurrences a:3, b:2, c:1 -> total 6; minCount=2 drops only c
    val df = Seq((1L, "a a b"), (2L, "a b c")).toDF("doc_id", "text")
    val got = RelevanceFunctions
      .unigramLogProb(df, "doc_id", "text", minCount = 2L)
      .orderBy("doc_id").as[(Long, Double)].collect()
    val (pa, pb) = (math.log(3.0 / 6.0), math.log(2.0 / 6.0))
    // doc 1 has no dropped tokens: identical to the unfiltered score,
    // P still n/6 (total is the UNfiltered corpus total)
    assert(math.abs(got(0)._2 - (pa + pa + pb) / 3.0) < 1e-12)
    // doc 2's c-occurrence scores the floor, not skipped from the mean
    assert(math.abs(got(1)._2 - (pa + pb + -20.0) / 3.0) < 1e-12)
  }

  test("shared lineage is pinned: the corpus source scans ONCE per call") {
    // a source that counts every row it hands out: with the internal
    // persist, each function reads the corpus exactly once however many
    // DAG branches consume the token projection; unpinned, bm25 would
    // read 2x and unigramLogProb up to 3x.
    def countingCorpus(acc: org.apache.spark.util.LongAccumulator) =
      spark.createDataset(Seq(
        (1L, "apple banana apple"), (2L, "banana cherry"), (3L, "durian durian")))
        .map { r => acc.add(1L); r }.toDF("doc_id", "text")
    val accB = spark.sparkContext.longAccumulator("bm25_scans")
    RelevanceFunctions.bm25(countingCorpus(accB), "doc_id", "text", Seq("banana"))
      .collect()
    assert(accB.value === 3L, s"bm25 scanned the corpus ${accB.value / 3.0}x")
    val accU = spark.sparkContext.longAccumulator("unigram_scans")
    RelevanceFunctions.unigramLogProb(countingCorpus(accU), "doc_id", "text")
      .collect()
    // the final left join re-reads df for the id spine (one extra scan of
    // the RAW source by design — ids only, no tokenization); the pinned
    // explode itself contributes exactly one scan.
    assert(accU.value <= 6L, s"unigramLogProb scanned the corpus ${accU.value / 3.0}x")
  }

  test("bigramLogProb: hand-checked conditional probabilities; short docs floor") {
    // bigram events: doc1 (a,b),(b,a),(a,b),(b,c); doc2 (b,a)
    // c2: (a,b)=2 (b,a)=2 (b,c)=1; prefix counts: a=2, b=3
    val df = Seq((1L, "a b a b c"), (2L, "b a"), (3L, "solo")).toDF("doc_id", "text")
    val got = RelevanceFunctions.bigramLogProb(df, "doc_id", "text")
      .orderBy("doc_id").as[(Long, Double)].collect()
    val (pab, pba, pbc) = (math.log(2.0 / 2.0), math.log(2.0 / 3.0), math.log(1.0 / 3.0))
    assert(math.abs(got(0)._2 - (pab + pba + pab + pbc) / 4.0) < 1e-12)
    assert(math.abs(got(1)._2 - pba) < 1e-12)
    assert(got(2)._2 === -20.0) // one token -> no bigrams -> floored
  }

  test("bigramLogProb catches scrambled word order that the unigram model misses") {
    // natural corpus + one doc with the SAME words in an order never
    // seen elsewhere: unigram scores them identically; bigram separates
    val natural = (1L to 6L).map(i => (i, "the cat sat on the mat"))
    val scrambled = Seq((7L, "mat the on sat cat the"))
    val df = (natural ++ scrambled).toDF("doc_id", "text")
    val uni = RelevanceFunctions.unigramLogProb(df, "doc_id", "text")
      .orderBy("doc_id").as[(Long, Double)].collect()
    assert(math.abs(uni(0)._2 - uni(6)._2) < 1e-12, "unigram is order-blind")
    val bi = RelevanceFunctions.bigramLogProb(df, "doc_id", "text")
      .orderBy("doc_id").as[(Long, Double)].collect()
    assert(bi(6)._2 < bi(0)._2 - 0.5, s"bigram must punish scrambled order: $bi")
    // shuffled-join path is bit-identical, as for the unigram op
    val biShuffled = RelevanceFunctions
      .bigramLogProb(df, "doc_id", "text", broadcastVocab = false)
      .orderBy("doc_id").as[(Long, Double)].collect()
    assert(biShuffled === bi)
  }

  test("guards: empty and duplicate term lists are rejected") {
    intercept[IllegalArgumentException] {
      RelevanceFunctions.bm25(corpus, "doc_id", "text", Seq.empty)
    }
    intercept[IllegalArgumentException] {
      RelevanceFunctions.bm25(corpus, "doc_id", "text", Seq("a", "a"))
    }
  }

  test("topTfIdfTerms: hand-computed scores, top-k per doc, corpus-universal terms score 0") {
    // corpus: banana is in all 3 docs (idf = ln(1) = 0), apple in 2,
    // cherry/durian in 1
    val hand = Seq(
      (1L, "apple banana apple"),
      (2L, "banana cherry apple"),
      (3L, "banana durian durian")).toDF("doc_id", "text")
    val got = RelevanceFunctions.topTfIdfTerms(hand, "doc_id", "text", k = 2)
      .orderBy(col("doc_id"), col("tfidf").desc, col("term"))
      .as[(Long, String, Double)].collect().toList
    def s(tf: Int, df: Int) = r6(tf * math.log(3.0 / df))
    assert(got === List(
      (1L, "apple", s(2, 2)), (1L, "banana", 0.0),
      (2L, "cherry", s(1, 1)), (2L, "apple", s(1, 2)),
      (3L, "durian", s(2, 1)), (3L, "banana", 0.0)))
    // k larger than the vocab: every term comes back, none invented
    assert(RelevanceFunctions.topTfIdfTerms(hand, "doc_id", "text", k = 10)
      .count() === 7) // 2 + 3 + 2 distinct (doc, term) pairs
  }

  test("perplexityBuckets: ln-perplexity + tertile labels compose the r3 LM") {
    // LM discrimination itself is bigramLogProb's spec/oracle (r3);
    // this pins the CCNet composition on top: log_ppl = round(−lp, 6),
    // labels = tertile comparison counts, floor docs land in tail.
    // Docs share the "the cat" prefix so scrambles score strictly
    // worse than the common phrase (the prefix has competing
    // continuations); doc 10 is sub-order → floor.
    val docs = Seq(
      (1L, "the cat sat on the mat"), (2L, "the cat sat on the mat"),
      (3L, "the cat sat on the mat"),
      (4L, "the cat sat on a rug"), (5L, "the cat sat on a mat"),
      (6L, "the cat sat on a rug"),
      (7L, "mat the cat rug on sat"), (8L, "rug the cat mat sat on"),
      (9L, "sat the cat on mat rug"),
      (10L, "lone")).toDF("doc_id", "text")
    val out = RelevanceFunctions.perplexityBuckets(docs, "doc_id", "text")
    assert(out.columns.toSeq === Seq("doc_id", "log_ppl", "ppl_bucket"))
    val m = out.as[(Long, Double, String)].collect()
      .map(r => r._1 -> ((r._2, r._3))).toMap
    assert(m.size === 10)
    // the composition contract: log_ppl IS round(−log_prob, 6)
    val lp = RelevanceFunctions.bigramLogProb(docs, "doc_id", "text")
      .as[(Long, Double)].collect().toMap
    for ((id, (v, _)) <- m)
      assert(v === BigDecimal(-lp(id)).setScale(6,
        BigDecimal.RoundingMode.HALF_UP).toDouble, s"doc $id")
    // labels replay quantileBucket over the same column
    val buckets = SamplingFunctions.quantileBucket(
        out.select(col("doc_id"), col("log_ppl")), "doc_id", "log_ppl", 3)
      .as[(Long, Double, Int)].collect().map(r => r._1 -> r._3).toMap
    val label = Map(0 -> "head", 1 -> "middle", 2 -> "tail")
    for ((id, (_, b)) <- m) assert(b === label(buckets(id)), s"doc $id")
    // semantics on the planted corpus: common phrase beats scrambles,
    // floor doc takes −(−20) = 20 and the worst bucket
    assert(m(1L)._1 < m(7L)._1)
    assert(m(10L)._1 === 20.0 && m(10L)._2 === "tail",
      "sub-order doc floors into tail, where a filter wants it")
    assert(m.values.map(_._2).toSet === Set("head", "middle", "tail"))
    // partitioning-proof
    val b = RelevanceFunctions.perplexityBuckets(docs.repartition(7), "doc_id", "text")
      .as[(Long, Double, String)].collect().map(r => r._1 -> ((r._2, r._3))).toMap
    assert(b === m)
  }

  test("rrfFuse: both-list items dominate, absent lists contribute zero, ties to lower id") {
    val kw = Seq((10L, 1), (11L, 2), (12L, 3)).toDF("id", "rank")
    val vec = Seq((11L, 1), (13L, 2)).toDF("id", "rank")
    val got = RelevanceFunctions.rrfFuse(Seq(kw, vec), "id", "rank", topK = 4)
      .as[(Long, Double, Int)].collect().toList
    def c(r: Int) = 1.0 / (60.0 + r)
    // fixed-order fold (list 0 + list 1), rounded HALF_UP at 6dp
    val expected = List(
      (11L, r6(c(2) + c(1)), 1), // in both lists → highest fused score
      (10L, r6(c(1)), 2),
      (13L, r6(c(2)), 3),        // beats 12 (same-rank contribution from a later list)...
      (12L, r6(c(3)), 4))
    assert(got === expected)
    // tie-break: two ids with identical contributions rank by lower id
    val a = Seq((5L, 1), (3L, 2)).toDF("id", "rank")
    val b = Seq((3L, 1), (5L, 2)).toDF("id", "rank")
    val tied = RelevanceFunctions.rrfFuse(Seq(a, b), "id", "rank", topK = 2)
      .as[(Long, Double, Int)].collect().toList
    assert(tied.map(_._1) === List(3L, 5L), "equal fused scores break by lower id")
    assert(tied.map(_._3) === List(1, 2))
    // topK truncates
    assert(RelevanceFunctions.rrfFuse(Seq(kw, vec), "id", "rank", topK = 2).count() === 2)
  }

  test("tfidfCosinePairs: hand-checked cosine; cap drops hubs both sides") {
    // 4 docs. "common" appears in all 4 -> idf ln(1) = 0 (weightless,
    // harmless). Docs 1,2 share "alpha beta"; doc 3 shares only
    // "alpha" with them; doc 4 is disjoint apart from "common".
    val docs = Seq(
      (1L, "common alpha beta"),
      (2L, "common alpha beta"),
      (3L, "common alpha gamma"),
      (4L, "common delta epsilon")).toDF("doc_id", "text")
    val out = RelevanceFunctions.tfidfCosinePairs(docs, "doc_id", "text",
        minSim = 0.05, maxDf = 100L)
      .as[(Long, Long, Double)].collect().map(p => (p._1, p._2) -> p._3).toMap
    // identical docs: cosine exactly 1
    assert(out((1L, 2L)) === 1.0)
    // 1-3: shared "alpha" (idf ln(4/3)), private "beta"/"gamma"
    // (ln(4/2), ln 4): sim = a²/(sqrt(a²+b²)·sqrt(a²+g²))
    val a2 = math.pow(math.log(4.0 / 3), 2)
    val b2 = math.pow(math.log(2.0), 2)
    val g2 = math.pow(math.log(4.0), 2)
    val exp13 = BigDecimal(a2 / (math.sqrt(a2 + b2) * math.sqrt(a2 + g2)))
      .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    assert(out((1L, 3L)) === exp13 && out((2L, 3L)) === exp13)
    // doc 4 shares only the zero-weight hub: dot 0 -> below minSim
    assert(!out.keySet.exists(k => k._1 == 4L || k._2 == 4L))
    // capping at maxDf=1 drops every shared token -> no pairs at all
    assert(RelevanceFunctions.tfidfCosinePairs(docs, "doc_id", "text",
      minSim = 0.05, maxDf = 1L).isEmpty)
  }

  test("pmiPairs: hand-checked PMI; df gate cuts hubs and hapax") {
    // 4 docs; "the" in all 4 (hub), "rare" in 1 (hapax); a,b co-occur in
    // 2 of their 3/3 docs: PMI = ln(4·2/(3·3)) = ln(8/9).
    val docs = Seq(
      (1L, "the a b rare"),
      (2L, "the a b"),
      (3L, "the a c"),
      (4L, "the b c")).toDF("doc_id", "text")
    val out = RelevanceFunctions.pmiPairs(docs, "doc_id", "text",
        minDf = 2L, maxDf = 3L, minPairs = 2L)
      .as[(String, String, Long, Long, Long, Double)].collect().toList
    def pmi(nab: Long, na: Long, nb: Long): Double =
      BigDecimal(math.log(4.0 * nab / (na * nb)))
        .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    // surviving tokens: a(3), b(3), c(2); pairs with >=2 co-docs: only (a,b)
    assert(out === List(("a", "b", 3L, 3L, 2L, pmi(2, 3, 3))))
    // dropping the gates exposes c's pairs but never "the" or "rare"
    val all = RelevanceFunctions.pmiPairs(docs, "doc_id", "text",
        minDf = 2L, maxDf = 3L, minPairs = 1L)
      .select("tok_a", "tok_b").as[(String, String)].collect().toSet
    assert(all === Set(("a", "b"), ("a", "c"), ("b", "c")))
  }

  test("pmiPairs: repeated token in one doc counts once (doc frequency)") {
    val docs = Seq((1L, "x x x y"), (2L, "x y y")).toDF("doc_id", "text")
    val out = RelevanceFunctions.pmiPairs(docs, "doc_id", "text",
        minDf = 1L, minPairs = 1L)
      .as[(String, String, Long, Long, Long, Double)].collect().toList
    // n=2, x df 2, y df 2, co-occur 2: PMI = ln(2·2/4) = 0
    assert(out === List(("x", "y", 2L, 2L, 2L, 0.0)))
  }

  test("rrfFuse: duplicate id within one list resolves deterministically") {
    // duplicate id WITHIN one list (producer-contract breach): the best
    // rank's contribution wins, deterministically — not scan order
    val c = (r: Int) => 1.0 / (60 + r)
    val dup = Seq((7L, 4), (7L, 1), (8L, 2)).toDF("id", "rank")
    val fused = RelevanceFunctions.rrfFuse(Seq(dup), "id", "rank", topK = 2)
      .as[(Long, Double, Int)].collect().toList
    assert(fused === List((7L, r6(c(1)), 1), (8L, r6(c(2)), 2)))
    assert(fused === RelevanceFunctions.rrfFuse(Seq(dup.repartition(5)),
      "id", "rank", topK = 2).as[(Long, Double, Int)].collect().toList)
  }

  test("zipfFit: hand corpus — ranks, counts, and the closed-form OLS line") {
    def r6d(x: Double): Double =
      BigDecimal(x).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    // counts: a=4, b=2, c=1 → ranks 1,2,3 (ties impossible here)
    val docs = Seq("a a a b", "a b c").toDF("text")
    val out = RelevanceFunctions.zipfFit(docs, "text", topK = 10)
      .as[(Int, String, Long, Double, Double, Double, Double)].collect().toList
    assert(out.map(r => (r._1, r._2, r._3)) ===
      List((1, "a", 4L), (2, "b", 2L), (3, "c", 1L)))
    // replay the op's own contract: 6dp-rounded lns, exact sums, one
    // IEEE chain
    val pts = List((1, 4L), (2, 2L), (3, 1L)).map { case (r, n) =>
      (r6d(math.log(r.toDouble)), r6d(math.log(n.toDouble))) }
    assert(out.map(r => (r._4, r._5)) === pts)
    val k = pts.size.toDouble
    val sx = pts.map(_._1).sum; val sy = pts.map(_._2).sum
    val sxy = pts.map(p => BigDecimal(p._1 * p._2).setScale(12,
      BigDecimal.RoundingMode.HALF_UP).toDouble).sum
    val sxx = pts.map(p => BigDecimal(p._1 * p._1).setScale(12,
      BigDecimal.RoundingMode.HALF_UP).toDouble).sum
    val slope = (k * sxy - sx * sy) / (k * sxx - sx * sx)
    val icept = (sy - slope * sx) / k
    val got = out.head
    assert(math.abs(got._6 - r6d(slope)) < 2e-6, s"slope ${got._6} vs $slope")
    assert(math.abs(got._7 - r6d(icept)) < 2e-6)
    assert(got._6 < 0.0) // frequency falls with rank
    // slope/intercept constant across rows
    assert(out.map(_._6).distinct.size === 1 && out.map(_._7).distinct.size === 1)
  }

  test("bm25Join matches literal bm25 up to per-term rounding; no-match docs score 0") {
    val docs = Seq(
      (1L, "filter stream filter x"),
      (2L, "stream y z"),
      (3L, "unrelated words only")).toDF("doc_id", "text")
    val terms = Seq("filter", "stream").map(Tuple1(_)).toDF("term")
    val lit2 = RelevanceFunctions.bm25(docs, "doc_id", "text",
        Seq("filter", "stream"))
      .as[(Long, Double)].collect().toMap
    val join2 = RelevanceFunctions.bm25Join(docs, "doc_id", "text", terms)
      .as[(Long, Double)].collect().toMap
    assert(join2.keySet === Set(1L, 2L, 3L))
    assert(join2(3L) === 0.0) // matches neither term
    // identical algebra; the join form rounds per term, the literal
    // form rounds the sum — agreement within one rounding step per term
    for (id <- Seq(1L, 2L))
      assert(math.abs(join2(id) - lit2(id)) <= 2e-6,
        s"doc $id: ${join2(id)} vs ${lit2(id)}")
    // partitioning-invariant (decimal sum, not float accumulation)
    val again = RelevanceFunctions.bm25Join(docs.repartition(7), "doc_id",
      "text", terms).as[(Long, Double)].collect().toMap
    assert(again === join2)
  }

  test("heapsFit: all-new-vocab corpus fits beta = 1 exactly; templated corpus 0") {
    // every token unique → V(N) = N → ln V = ln N at every point → slope 1
    val fresh = Seq((1L, "a b"), (2L, "c d e"), (3L, "f g"))
      .toDF("doc_id", "text")
    val f = RelevanceFunctions.heapsFit(fresh, "doc_id", "text")
      .as[(Long, Long, Long, Double, Double, Double, Double)].collect().toList
    assert(f.map(r => (r._1, r._2, r._3)) ===
      List((1L, 2L, 2L), (2L, 5L, 5L), (3L, 7L, 7L)))
    assert(f.forall(r => r._6 === 1.0)) // beta
    assert(f.forall(r => r._7 === 0.0)) // ln K: V = 1·N^1
    // same two tokens forever → V constant → slope EXACTLY 0
    val templated = Seq((1L, "a b"), (2L, "b a a"), (3L, "a b b"))
      .toDF("doc_id", "text")
    val t = RelevanceFunctions.heapsFit(templated, "doc_id", "text")
      .as[(Long, Long, Long, Double, Double, Double, Double)].collect().toList
    assert(t.map(r => (r._2, r._3)) === List((2L, 2L), (5L, 2L), (8L, 2L)))
    assert(t.forall(r => r._6 === 0.0))
    // null text contributes nothing (neither tokens nor a point)
    val withNull = RelevanceFunctions.heapsFit(
      fresh.unionByName(Seq((4L, null: String)).toDF("doc_id", "text")),
      "doc_id", "text").collect()
    assert(withNull.length === 3)
  }

  test("rankingMetrics: perfect ranking = all ones; absent term = zeros") {
    // bm25 and graded relevance agree here: the short high-tf doc
    // outranks the longer low-tf doc, the no-hit doc scores 0
    val docs = Seq(
      (1L, "x x x x"), (2L, "x x z"), (3L, "z z w"))
      .toDF("doc_id", "text")
    val out = RelevanceFunctions.rankingMetrics(docs, "doc_id", "text",
        Seq("q", "x"), k = 2)
      .as[(String, Long, Double, Double, Double)].collect().toList
    assert(out.head === (("q", 0L, 0.0, 0.0, 0.0))) // term absent anywhere
    assert(out(1) === (("x", 2L, 1.0, 1.0, 1.0)))   // retrieved == ideal
  }

  test("rankingMetrics: a bm25-vs-relevance inversion drops NDCG below 1") {
    def r6d(x: Double): Double =
      BigDecimal(x).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    // d1: high grade (tf 2) but LONG → bm25 length-normalizes it below
    // d2 (tf 1, tiny). Retrieved order (d2, d1); ideal (d1, d2).
    val filler = (1 to 50).map(i => s"w$i").mkString(" ")
    val docs = Seq((1L, s"x x $filler"), (2L, "x w"))
      .toDF("doc_id", "text")
    val out = RelevanceFunctions.rankingMetrics(docs, "doc_id", "text",
        Seq("x"), k = 2)
      .as[(String, Long, Double, Double, Double)].head()
    // dcg = r6((2¹−1)/log2(2)) + r6((2²−1)/log2(3)); idcg = r6(3) + r6(1/log2(3))
    val dcg = r6d(1.0 / 1.0) + r6d(3.0 / (math.log(3) / math.log(2)))
    val idcg = 3.0 + r6d(1.0 / (math.log(3) / math.log(2)))
    assert(out._2 === 2L)
    assert(out._3 === r6d(dcg / idcg) && out._3 < 1.0, s"ndcg ${out._3}")
    assert(out._4 === 1.0) // first retrieved doc IS relevant
    assert(out._5 === 1.0) // both relevant docs retrieved within k
  }

  test("mmrRerank: diversification demotes the near-duplicate of the first pick") {
    // corpus around query q = (1, 0, 0) — 10 is NOT collinear with q,
    // so sim-to-10 ≠ rel and diversification can actually bite:
    //   10: rel ≈ .9938 — picked first
    //   11: rel ≈ .9848 but sim-to-10 ≈ .998 → MMR ≈ −.0066
    //   12: rel ≈ .8412, sim-to-10 ≈ .836 (off-plane) → MMR ≈ +.0026
    val corpus = spark.sql(
      """SELECT * FROM VALUES
        |  (10L, array(0.9D, 0.1D, 0.0D)),
        |  (11L, array(0.85D, 0.15D, 0.0D)),
        |  (12L, array(0.7D, 0.0D, 0.45D))
        |AS t(vec_id, embedding)""".stripMargin)
    val q = spark.sql(
      "SELECT 1L AS query_id, array(1.0D, 0.0D, 0.0D) AS query_vec")
    val out = RelevanceFunctions.mmrRerank(corpus, q, topR = 3, k = 3,
        lambda = 0.5)
      .select("rank", "vec_id").as[(Int, Long)].collect().toList
    // pure-relevance order would be (10, 11, 12); MMR flips 11 and 12
    assert(out === List((1, 10L), (2, 12L), (3, 11L)))
  }

  test("mmrRerank: lambda=1 reduces to pure relevance ranking") {
    val corpus = spark.sql(
      """SELECT * FROM VALUES
        |  (10L, array(1.0D, 0.0D, 0.0D)),
        |  (11L, array(0.999D, 0.04D, 0.0D)),
        |  (12L, array(0.7D, 0.7D, 0.0D))
        |AS t(vec_id, embedding)""".stripMargin)
    val q = spark.sql(
      "SELECT 1L AS query_id, array(1.0D, 0.0D, 0.0D) AS query_vec")
    val out = RelevanceFunctions.mmrRerank(corpus, q, topR = 3, k = 3,
        lambda = 1.0)
      .select("rank", "vec_id").as[(Int, Long)].collect().toList
    assert(out === List((1, 10L), (2, 11L), (3, 12L)))
  }

  test("maxSimTopK: per-query-chunk max then per-doc sum, self excluded, ties to lower doc") {
    // doc 1: chunks on both axes (answers both query aspects);
    // doc 2: two chunks on the SAME axis (nails one aspect twice);
    // doc 3: diagonal chunks (partial match on both).
    // query doc 0 asks for x and y separately -> maxsim(1) = 2.0,
    // maxsim(2) = 1.0, maxsim(3) = 2/sqrt(2) ≈ 1.414214
    val chunks = Seq(
      (0L, 0L, Array(1.0, 0.0)), (0L, 1L, Array(0.0, 1.0)),
      (1L, 0L, Array(1.0, 0.0)), (1L, 1L, Array(0.0, 1.0)),
      (2L, 0L, Array(1.0, 0.0)), (2L, 1L, Array(1.0, 0.0)),
      (3L, 0L, Array(1.0, 1.0)), (3L, 1L, Array(1.0, 1.0))
    ).toDF("doc_id", "chunk_id", "embedding")
    val q = chunks.filter(col("doc_id") === 0L)
      .select(col("doc_id").as("query_doc"), col("chunk_id"),
        col("embedding").as("query_vec"))
    val out = RelevanceFunctions.maxSimTopK(chunks, q, k = 3)
      .orderBy("rank")
      .select("doc_id", "maxsim", "rank").as[(Long, Double, Int)].collect().toList
    assert(out === List((1L, 2.0, 1), (3L, 1.414214, 2), (2L, 1.0, 3)))
    assert(!out.exists(_._1 == 0L), "the query doc must not retrieve itself")
  }

  test("kneserNeyLogProb: hand-derived P_KN on a 2-doc corpus") {
    // bigrams: doc1 = (a,b),(b,a); doc2 = (a,b),(b,c)
    // pair counts: (a,b)=2 (b,a)=1 (b,c)=1; prefixes: a:n1=2,t1=1  b:n1=2,t1=2
    // continuations: a:1 b:1 c:1; total types T=3
    val df = Seq((1L, "a b a"), (2L, "a b c")).toDF("doc_id", "text")
    val out = RelevanceFunctions.kneserNeyLogProb(df, "doc_id", "text")
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    val t = 3.0
    val pAB = math.max(2.0 - 0.75, 0.0) / 2.0 + (0.75 * 1.0 / 2.0) * (1.0 / t)
    val pBA = math.max(1.0 - 0.75, 0.0) / 2.0 + (0.75 * 2.0 / 2.0) * (1.0 / t)
    val pBC = pBA // same counts: n2=1, n1=2, t1=2, cc=1
    assert(math.abs(out(1L) - (math.log(pAB) + math.log(pBA)) / 2) < 1e-9)
    assert(math.abs(out(2L) - (math.log(pAB) + math.log(pBC)) / 2) < 1e-9)
  }

  test("kneserNeyLogProb: P_KN sums to exactly 1 over the continuation vocab per prefix") {
    // Σ_w2 P_KN(w2|w1) = (n1 − D·t1)/n1 + (D·t1/n1)·Σ Pcont = 1, because
    // Σ_w2 N1+(·w2) = N1+(··). Re-derive the counts and check per prefix.
    val df = Seq((1L, "x y z x y x z z y"), (2L, "y x y z y")).toDF("doc_id", "text")
    val bg = df.select(col("doc_id"), split(col("text"), " ").as("w"))
      .select(explode(expr("transform(sequence(1, size(w)-1), i -> struct(w[i-1] as w1, w[i] as w2))")).as("b"))
      .select(col("b.w1"), col("b.w2"))
    val pair = bg.groupBy("w1", "w2").count().collect()
      .map(r => (r.getString(0), r.getString(1)) -> r.getLong(2)).toMap
    val n1 = pair.groupBy(_._1._1).map { case (w1, m) => w1 -> m.values.sum }
    val t1 = pair.groupBy(_._1._1).map { case (w1, m) => w1 -> m.size }
    val cc = pair.groupBy(_._1._2).map { case (w2, m) => w2 -> m.size }
    val tot = pair.size.toDouble
    val vocab = cc.keySet
    for (w1 <- n1.keys) {
      val s = vocab.toSeq.map { w2 =>
        val disc = math.max(pair.getOrElse((w1, w2), 0L).toDouble - 0.75, 0.0) / n1(w1)
        disc + (0.75 * t1(w1) / n1(w1)) * (cc(w2) / tot)
      }.sum
      assert(math.abs(s - 1.0) < 1e-12, s"prefix $w1 sums to $s")
    }
  }

  test("kneserNeyLogProb: scrambled-order gibberish scores below natural text") {
    // 20 natural docs share their bigram table; the scrambled doc's pairs
    // are mostly unseen-as-frequent, so its KN mean must rank in the tail.
    val natural = (0 until 20).map(i => (i.toLong, "the quick brown fox jumps over the lazy dog"))
    val scrambled = Seq((99L, "dog the over fox quick lazy jumps brown the"))
    val df = (natural ++ scrambled).toDF("doc_id", "text")
    val out = RelevanceFunctions.kneserNeyLogProb(df, "doc_id", "text")
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    assert(out(99L) < out(0L), s"scrambled ${out(99L)} should score below natural ${out(0L)}")
  }
}
