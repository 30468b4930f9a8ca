package graft.functions

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.TestSpark

class DedupFunctionsSpec extends AnyFunSuite with graft.CachesScoped {
  private val spark = TestSpark.spark
  import spark.implicits._

  private val corpus = Seq(
    (1L, "the quick brown fox jumps over the lazy dog near the river bank today"),
    (2L, "the quick brown fox jumps over the lazy dog near the river bank tonight"), // near-dup of 1
    (3L, "completely different text about spark query engines and columnar formats"),
    (4L, "the quick brown fox jumps over the lazy dog near the river bank today")  // exact dup of 1
  ).toDF("doc_id", "text")

  test("wordShingles: n-grams of tokens, distinct, short docs collapse to one") {
    val sh = Seq("a b c d").toDF("text")
      .select(DedupFunctions.wordShingles(col("text"), 2).as("s"))
      .head().getSeq[String](0)
    assert(sh.toSet === Set("a b", "b c", "c d"))
    val short = Seq("hello").toDF("text")
      .select(DedupFunctions.wordShingles(col("text"), 3).as("s"))
      .head().getSeq[String](0)
    assert(short === Seq("hello"))
  }

  test("dedupExact keeps the min-id row per fingerprint") {
    val fp = corpus.select(col("doc_id"), TextFunctions.fingerprint(col("text")).as("fp"))
    val deduped = DedupFunctions.dedupExact(fp, "doc_id", "fp")
    val kept = deduped.select("doc_id").as[Long].collect().sorted
    assert(kept.toSeq === Seq(1L, 2L, 3L)) // 4 deduped into 1
    // columns pass through untouched, in order
    assert(deduped.columns.toSeq === fp.columns.toSeq)
    // the scale contract: a million-fold duplicated page (one hot
    // fingerprint) must never sort through one window task — the
    // survivor row reduces through ONE min_by hash aggregation whose
    // map-side partial collapses the pile before the shuffle
    val plan = deduped.queryExecution.executedPlan.toString
    assert(!plan.contains("Window"), plan)
    assert(plan.contains("partial_min_by"), plan)
  }

  test("exactDupGroups reports group size and canonical id") {
    val fp = corpus.select(col("doc_id"), TextFunctions.fingerprint(col("text")).as("fp"))
    val g = DedupFunctions.exactDupGroups(fp, "doc_id", "fp")
      .select("group_size", "canonical_id").as[(Long, Long)].collect()
    assert(g.toSeq === Seq((2L, 1L)))
  }

  test("jaccardPairs finds near-dups above threshold with exact jaccard") {
    val pairs = DedupFunctions.jaccardPairs(corpus, "doc_id", "text", n = 3, threshold = 0.5)
      .orderBy("id_a", "id_b")
      .select("id_a", "id_b").as[(Long, Long)].collect()
    assert(pairs.toSeq === Seq((1L, 2L), (1L, 4L), (2L, 4L)))
  }

  test("jaccardPairs: exact duplicates score jaccard 1.0") {
    val j = DedupFunctions.jaccardPairs(corpus, "doc_id", "text", n = 3, threshold = 0.99)
      .filter(col("id_a") === 1 && col("id_b") === 4)
      .select("jaccard").as[Double].head()
    assert(j === 1.0)
  }

  test("jaccardPairs maxDf cap drops boilerplate shingles") {
    // every doc shares the same text → every shingle has df=3 > maxDf=2 → no pairs
    val boiler = Seq((1L, "x y z w"), (2L, "x y z w"), (3L, "x y z w")).toDF("doc_id", "text")
    val pairs = DedupFunctions.jaccardPairs(boiler, "doc_id", "text", n = 2,
      threshold = 0.1, maxDf = 2L)
    assert(pairs.count() === 0L)
    // the df cap is a map-side-combined count + semi join, never a
    // shingle-partitioned window (the boilerplate shingle IS the hot key)
    val plan = pairs.queryExecution.executedPlan.toString
    assert(!plan.contains("Window"), plan)
  }

  test("prefixJaccardPairs equals the un-capped exact jaccardPairs") {
    // the completeness claim, checked against the exhaustive baseline on
    // real data: prefix filtering + length filter + exact verify must
    // reproduce the full-join answer pair-for-pair, score-for-score
    val docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    for (t <- Seq(0.5, 0.8)) {
      val full = DedupFunctions.jaccardPairs(docs, "doc_id", "text",
          n = 3, threshold = t, maxDf = Long.MaxValue)
        .as[(Long, Long, Double)].collect().toSet
      val pref = DedupFunctions.prefixJaccardPairs(docs, "doc_id", "text",
          n = 3, threshold = t)
        .as[(Long, Long, Double)].collect().toSet
      assert(pref === full, s"threshold $t: prefix join diverged from exhaustive join")
    }
  }

  test("prefixJaccardPairs: planted near-dups, exact scores, invariance") {
    val pairs = DedupFunctions.prefixJaccardPairs(corpus, "doc_id", "text",
        n = 3, threshold = 0.5)
      .orderBy("id_a", "id_b")
      .as[(Long, Long, Double)].collect()
    assert(pairs.map(p => (p._1, p._2)).toSeq === Seq((1L, 2L), (1L, 4L), (2L, 4L)))
    assert(pairs.find(p => p._1 == 1L && p._2 == 4L).get._3 === 1.0) // exact dup
    // partitioning must not change the answer (canonical order and
    // prefixes are pure functions of the data, not of the layout)
    val repart = DedupFunctions.prefixJaccardPairs(corpus.repartition(7), "doc_id",
        "text", n = 3, threshold = 0.5)
      .as[(Long, Long, Double)].collect().toSet
    assert(repart === pairs.toSet)
    // boilerplate inversion: with every doc identical, ALL shingles are
    // max-df — the prefix join still finds the pairs (completeness),
    // unlike the df-cap path which drops them
    val boiler = Seq((1L, "x y z w"), (2L, "x y z w"), (3L, "x y z w")).toDF("doc_id", "text")
    val b = DedupFunctions.prefixJaccardPairs(boiler, "doc_id", "text",
      n = 2, threshold = 0.9)
    assert(b.count() === 3L)
  }

  test("minhashLshPairs surfaces the planted near-dup and exact dup") {
    val pairs = DedupFunctions.minhashLshPairs(corpus, "doc_id", "text",
      n = 3, numHashes = 32, bands = 16, threshold = 0.5)
      .select("id_a", "id_b").as[(Long, Long)].collect().toSet
    assert(pairs.contains((1L, 4L))) // identical docs always collide
    assert(!pairs.exists(p => p._1 == 3L || p._2 == 3L)) // unrelated doc never passes verification
  }

  test("dropNearDuplicates keeps the smallest id of every pair, passes singletons") {
    val pairs = DedupFunctions.minhashLshPairs(corpus, "doc_id", "text",
      n = 3, numHashes = 16, bands = 4, threshold = 0.7)
    val survivors = DedupFunctions.dropNearDuplicates(corpus, pairs, "doc_id")
      .select("doc_id").as[Long].collect().toSet
    // 2 and 4 duplicate 1 -> dropped; 1 (canonical) and 3 (singleton) stay
    assert(survivors === Set(1L, 3L))
  }

  test("connectedComponents closes chains transitively (what greedy pair-drop misses)") {
    // chain 1-2-3, pair 10-11, chain 20-21-22-23: min-label must walk the
    // chains even though (1,3) and (20,22) etc. are not pairs
    val pairs = Seq((1L, 2L), (2L, 3L), (10L, 11L), (20L, 21L), (21L, 22L), (22L, 23L))
      .toDF("id_a", "id_b")
    val cc = DedupFunctions.connectedComponents(pairs)
      .as[(Long, Long)].collect().toMap
    assert(cc === Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 10L -> 10L, 11L -> 10L,
      20L -> 20L, 21L -> 20L, 22L -> 20L, 23L -> 20L))
    // the driver union-find (default small-graph gate, used above) and
    // the distributed propagation label IDENTICALLY
    val distributed = DedupFunctions.connectedComponents(pairs, driverThreshold = 0L)
      .as[(Long, Long)].collect().toMap
    assert(distributed === cc)
  }

  test("connectedComponents: zero edges returns the empty labeling without a round") {
    val none = Seq.empty[(Long, Long)].toDF("id_a", "id_b")
    val cc = DedupFunctions.connectedComponents(none)
    assert(cc.columns.toSeq === Seq("id", "component"))
    assert(cc.isEmpty)
    // the gate result is a LOCAL relation — consuming it must not
    // re-execute the (dropped-from-cache) upstream pair pipeline
    assert(cc.queryExecution.optimizedPlan.toString.contains("LocalRelation"),
      cc.queryExecution.optimizedPlan.toString)
  }

  test("connectedComponents converges on a long path and respects maxIter") {
    // path 0-1-2-...-30: diameter 30, label propagation needs ~30 rounds
    // driverThreshold = 0 forces the distributed star contraction — the
    // loop under test here; the small-graph gate would otherwise absorb
    // a 30-edge graph. A 31-node path converges in 6 alternations
    // (~log2 n contractions + the fixed-point confirmation round).
    val path = (0L until 30L).map(i => (i, i + 1)).toDF("id_a", "id_b")
    val before = spark.sparkContext.getPersistentRDDs.size
    val cc = DedupFunctions.connectedComponents(path, maxIter = 40, driverThreshold = 0L)
    assert(cc.select(countDistinct("component")).head().getLong(0) === 1L)
    // superseded per-round label checkpoints are released eagerly: after
    // ~30 rounds only the RETURNED labels' blocks may remain pinned
    val after = spark.sparkContext.getPersistentRDDs.size
    assert(after <= before + 1, s"leaked checkpoints: $before -> $after")
    intercept[IllegalStateException] {
      DedupFunctions.connectedComponents(path, maxIter = 3, driverThreshold = 0L)
    }
    // the driver path has no iteration bound: the same 30-diameter
    // chain that throws above is fine through union-find
    val viaDriver = DedupFunctions.connectedComponents(path, maxIter = 3)
      .as[(Long, Long)].collect().toMap
    assert(viaDriver.size === 31 && viaDriver.values.forall(_ == 0L))
  }

  test("connectedComponents: star rounds are diameter-independent (300-chain)") {
    // the 100 TB property: a 300-diameter chain converges well inside
    // 25 star alternations (min-label propagation would need 299 rounds
    // and throw). Forced onto the distributed path.
    val chain = (0L until 299L).map(i => (i, i + 1)).toDF("id_a", "id_b")
    val cc = DedupFunctions.connectedComponents(chain, maxIter = 25, driverThreshold = 0L)
      .as[(Long, Long)].collect()
    assert(cc.length === 300)
    assert(cc.forall(_._2 == 0L), "every node labels with the chain minimum")
  }

  test("dropNearDuplicateClusters keeps one survivor per cluster plus untouched rows") {
    val docs = Seq(1L, 2L, 3L, 10L, 11L, 99L).toDF("id")
    val pairs = Seq((1L, 2L), (2L, 3L), (10L, 11L)).toDF("id_a", "id_b")
    val kept = DedupFunctions.dropNearDuplicateClusters(docs, pairs, "id")
      .as[Long].collect().toSet
    // cluster {1,2,3} -> 1; cluster {10,11} -> 10; 99 untouched
    assert(kept === Set(1L, 10L, 99L))
    // greedy pair-drop gives the same survivors here, but counts clusters
    // wrong: it sees two pairs touching {1,2,3}, not one 3-member cluster
    val nClusters = DedupFunctions.connectedComponents(pairs)
      .select(countDistinct("component")).head().getLong(0)
    assert(nClusters === 2L)
  }

  test("keepBestPerCluster keeps the highest-score member; null/NaN scores lose") {
    val docs = Seq(
      (1L, 10.0), (2L, 50.0), (3L, 50.0),     // cluster {1,2,3}: max q tie 2/3 -> 2
      (10L, 5.0), (11L, Double.NaN),          // cluster {10,11}: NaN loses -> 10
      (20L, 1.0), (99L, 0.0))                 // 20 paired w/ null-score 21 below; 99 untouched
      .toDF("id", "q")
      .unionByName(Seq((21L, Option.empty[Double])).toDF("id", "q"))
    val pairs = Seq((1L, 2L), (2L, 3L), (10L, 11L), (20L, 21L)).toDF("id_a", "id_b")
    val kept = DedupFunctions.keepBestPerCluster(docs, pairs, "id", "q")
      .select("id").as[Long].collect().toSet
    assert(kept === Set(2L, 10L, 20L, 99L))
    // same clusters under min-id keep the ARBITRARY member instead —
    // the quality rule is what changed, not the clustering
    val minId = DedupFunctions.dropNearDuplicateClusters(docs, pairs, "id")
      .select("id").as[Long].collect().toSet
    assert(minId === Set(1L, 10L, 20L, 99L))
  }

  test("fingerprintBloom + BloomMightContain: no false negatives, merged batches covered") {
    val a = (1L to 500L).map(i => s"fp_$i").toDF("fp")
    val b = (501L to 900L).map(i => s"fp_$i").toDF("fp")
    val bfA = DedupFunctions.fingerprintBloom(a, "fp", expectedItems = 2000L)
    // the load-bearing property: every inserted value probes TRUE
    // through the expression (a false negative would silently admit a
    // duplicate into the corpus)
    assert(a.filter(!BloomMightContain(col("fp"), bfA)).count() === 0L)
    // per-batch filters with the same geometry merge into one sketch
    // covering both batches — the stored-state accumulation contract
    val bfB = DedupFunctions.fingerprintBloom(b, "fp", expectedItems = 2000L)
    bfA.mergeInPlace(bfB)
    assert(a.unionByName(b).filter(!BloomMightContain(col("fp"), bfA)).count() === 0L)
    // absent keys mostly probe false (fpp stays in band), and a null
    // input probes null like any null-strict predicate
    val absent = (1L to 1000L).map(i => s"zz_$i").toDF("fp")
    val fpHits = absent.filter(BloomMightContain(col("fp"), bfA)).count()
    assert(fpHits < 200L, s"false-positive rate out of band: $fpHits/1000")
    val probed = Seq(Some("fp_1"), None).toDF("fp")
      .select(BloomMightContain(col("fp"), bfA).as("hit")).collect()
    assert(probed.map(r => Option(r.get(0))).toSet === Set(Some(true), None))
    intercept[IllegalArgumentException] {
      DedupFunctions.fingerprintBloom(a, "fp", 0L)
    }
    intercept[IllegalArgumentException] {
      DedupFunctions.fingerprintBloom(a, "fp", 10L, fpp = 1.0)
    }
  }

  test("simhash64: identical docs get identical signatures (hamming 0)") {
    val sigs = corpus.select(col("doc_id"),
      DedupFunctions.simhash64(DedupFunctions.wordShingles(col("text"), 3)).as("sig"))
      .as[(Long, Long)].collect().toMap
    assert(sigs(1L) === sigs(4L))
    assert(DedupFunctions.hamming64(lit(sigs(1L)), lit(sigs(2L))) != null)
  }

  test("simhashPairs finds exact and near dups within hamming budget") {
    val pairs = DedupFunctions.simhashPairs(corpus, "doc_id", "text", n = 3, maxHamming = 3)
      .select("id_a", "id_b", "hamming").as[(Long, Long, Long)].collect()
    val byPair = pairs.map(p => (p._1, p._2) -> p._3).toMap
    assert(byPair((1L, 4L)) === 0L)
  }

  test("hamming64 counts differing bits") {
    val d = Seq((0L)).toDF("x")
      .select(DedupFunctions.hamming64(lit(0L), lit(7L)).as("h"))
      .head().getAs[Number]("h").longValue()
    assert(d === 3L)
  }

  test("contaminationReport counts distinct shared grams; broadcast-agnostic") {
    val train = Seq(
      (1L, "alpha beta gamma delta"),   // shares "alpha beta gamma"
      (2L, "zeta eta theta iota"),      // clean -> absent from the report
      (3L, "alpha beta gamma epsilon")) // shares "alpha beta gamma"
      .toDF("doc_id", "text")
    val heldOut = Seq((100L, "alpha beta gamma other words here"))
      .toDF("doc_id", "text")
    for (bc <- Seq(true, false)) {
      val r = DedupFunctions
        .contaminationReport(train, heldOut, "doc_id", "text", n = 3,
          broadcastTest = bc)
        .orderBy("doc_id").as[(Long, Long)].collect()
      assert(r === Array((1L, 1L), (3L, 1L)), s"broadcastTest=$bc")
    }
    // repeated grams inside one doc count ONCE (shingles are distinct)
    val rep = Seq((7L, "alpha beta gamma alpha beta gamma")).toDF("doc_id", "text")
    val r2 = DedupFunctions.contaminationReport(rep, heldOut, "doc_id", "text", 3)
      .as[(Long, Long)].collect()
    // doc 7 grams (distinct): "alpha beta gamma", "beta gamma alpha",
    // "gamma alpha beta" -> only the first is held-out
    assert(r2 === Array((7L, 1L)))
  }

  test("minhashLshPairsAgainst: batch-vs-corpus pairs, sides fixed, no self-join") {
    val base = "the quick brown fox jumps over the lazy dog near the river bank today"
    def sh(rows: Seq[(Long, String)]) = rows.toDF("id", "text")
      .select(col("id"), DedupFunctions.wordShingles(col("text"), 3).as("shingles"))
    // existing corpus: docs 100, 102; incoming batch: 5 (near-copy of
    // 100 with a LOWER id), 101 (unrelated), 7 and 9 (near-copies of
    // each other WITHIN the batch — must NOT pair here)
    val existing = sh(Seq((100L, base), (102L, "completely different words about ships and harbors and the grain trade routes")))
    val incoming = sh(Seq(
      (5L, base + " extra"),
      (101L, "unrelated text with its own vocabulary entirely and nothing shared at all here"),
      (7L, "repeated phrase one two three four five six seven eight nine ten eleven twelve"),
      (9L, "repeated phrase one two three four five six seven eight nine ten eleven twelve")))
    val pairs = DedupFunctions.minhashLshPairsAgainst(existing, incoming,
      numHashes = 16, bands = 4, threshold = 0.5)
      .as[(Long, Long, Double)].collect()
    // id_a is ALWAYS the existing side even when the incoming id is
    // smaller — that is what makes the batch-side drop composable
    assert(pairs.map(p => (p._1, p._2)).toSet === Set((100L, 5L)))
    // dropNearDuplicates on the BATCH drops the near-copy, keeps the rest
    val batch = Seq((5L, "x"), (101L, "x"), (7L, "x"), (9L, "x")).toDF("id", "text")
    val kept = DedupFunctions.dropNearDuplicates(batch,
        pairs.toSeq.toDF("id_a", "id_b", "jaccard"), "id")
      .select("id").as[Long].collect().toSet
    assert(kept === Set(101L, 7L, 9L))
  }

  test("minhashLshPairsAgainstIndexed: stored bands reproduce the derived path") {
    val base = "the quick brown fox jumps over the lazy dog near the river bank today"
    def sh(rows: Seq[(Long, String)]) = rows.toDF("id", "text")
      .select(col("id"), DedupFunctions.wordShingles(col("text"), 3).as("shingles"))
    val existing = sh(Seq((100L, base),
      (102L, "completely different words about ships and harbors and the grain trade routes")))
    val incoming = sh(Seq(
      (5L, base + " extra"),
      (101L, "unrelated text with its own vocabulary entirely and nothing shared at all here"),
      (7L, "repeated phrase one two three four five six seven eight nine ten eleven twelve"),
      (9L, "repeated phrase one two three four five six seven eight nine ten eleven twelve")))
    val derived = DedupFunctions.minhashLshPairsAgainst(existing, incoming,
      numHashes = 16, bands = 4, threshold = 0.5)
      .as[(Long, Long, Double)].collect().toSet
    // the nightly shape: the corpus side's bands were materialized at
    // its own accept time; only the stored tables are joined
    val storedBands = DedupFunctions.bandedSignatures(existing, numHashes = 16, bands = 4)
    for (bc <- Seq(true, false)) {
      val viaIndex = DedupFunctions.minhashLshPairsAgainstIndexed(
        storedBands, existing, incoming,
        numHashes = 16, bands = 4, threshold = 0.5, broadcastBatchSide = bc)
        .as[(Long, Long, Double)].collect().toSet
      assert(viaIndex === derived, s"broadcastBatchSide=$bc")
      assert(viaIndex.map(p => (p._1, p._2)) === Set((100L, 5L)))
    }
  }

  test("crossSplitLeakage: straddling pairs surface with labels, same-split pairs drop") {
    val pairs = Seq((1L, 2L, 0.95), (3L, 4L, 0.9), (5L, 6L, 0.85))
      .toDF("id_a", "id_b", "jaccard")
    val splits = Seq((1L, "train"), (2L, "test"), (3L, "train"), (4L, "train"),
      (5L, "valid"), (6L, "train")).toDF("doc_id", "split")
    val got = DedupFunctions.crossSplitLeakage(pairs, splits)
      .as[(Long, Long, Double, String, String)].collect().toSet
    assert(got === Set(
      (1L, 2L, 0.95, "train", "test"),
      (5L, 6L, 0.85, "valid", "train")))
    // the passing grade: no straddlers -> empty report
    val clean = Seq((3L, 4L, 0.9)).toDF("id_a", "id_b", "jaccard")
    assert(DedupFunctions.crossSplitLeakage(clean, splits).isEmpty)
  }

  test("editDistancePairs: q-gram blocking finds planted typos, bounds hold") {
    val titles = Seq(
      (1L, "annual financial report 2024"),
      (2L, "annual financial reprt 2024"),   // deletion: dist 1 from 1
      (3L, "annual financial report 2025"),  // subst: dist 1 from 1, 2 from 2
      (4L, "guide to alpine wildflowers"),   // unrelated
      (5L, "guide to alpine wildflower"),    // dist 1 from 4
      (6L, "xy"),                            // short-string single-gram path
      (7L, "xz")).toDF("id", "title")        // dist 1 from 6; grams differ!
    val got = DedupFunctions.editDistancePairs(titles, "id", "title",
        maxDist = 2, q = 3, maxDf = 100L)
      .as[(Long, Long, Int)].collect().toSet
    assert(got.contains((1L, 2L, 1)))
    assert(got.contains((1L, 3L, 1)))
    assert(got.contains((2L, 3L, 2)))
    assert(got.contains((4L, 5L, 1)))
    // every reported pair respects the bound and is a real distance
    assert(got.forall(_._3 <= 2))
    assert(!got.exists(p => Set(p._1, p._2).intersect(Set(1L, 2L, 3L)).size == 1 &&
      Set(p._1, p._2).intersect(Set(4L, 5L)).size == 1),
      "unrelated title families must not pair")
    // the documented recall boundary: "xy"/"xz" share NO gram (each is
    // its own whole-string gram), so blocking cannot surface them
    assert(!got.exists(p => p._1 == 6L && p._2 == 7L))
    // df-capping every gram kills all candidates — the escape hatch
    // trade documented on maxDf
    assert(DedupFunctions.editDistancePairs(titles, "id", "title",
      maxDist = 2, q = 3, maxDf = 0L).isEmpty)
  }

  test("jaro_winkler: kernel matches the cross-engine standard cases") {
    import graft.functions.{JaroWinkler => JW}
    import org.apache.spark.unsafe.types.UTF8String.{fromString => u}
    def jw(a: String, b: String): Double = JW.similarity(u(a), u(b))
    // the canonical literature pairs (same values DuckDB returns)
    assert(math.abs(jw("martha", "marhta") - 0.9611111111111111) < 1e-15)
    assert(math.abs(jw("DIXON", "DICKSONX") - 0.8133333333333332) < 1e-15)
    assert(math.abs(jw("JELLYFISH", "SMELLYFISH") - 0.8962962962962964) < 1e-15)
    // boost gate: jaro 0.7333 > 0.7 but zero prefix -> unboosted
    assert(math.abs(jw("CRATE", "TRACE") - 0.7333333333333334) < 1e-15)
    // prefix cap 4: common prefix 6 boosts as 4
    assert(math.abs(jw("abcdefghij", "abcdefzzzz") - 0.8400000000000001) < 1e-15)
    // below the 0.7 gate the prefix must NOT boost
    assert(jw("abcdefgh", "abzzzzzz") === 0.5)
    // empty-side and zero-match conventions
    assert(jw("", "abc") === 0.0 && jw("", "") === 0.0)
    assert(jw("abc", "xyz") === 0.0)
    // window 0 on 2-char strings: transposed pair finds no match
    assert(jw("ab", "ba") === 0.0)
    assert(jw("a", "a") === 1.0 && jw("aaaa", "aaaa") === 1.0)
    // BYTES, not code points: 'café' is 5 bytes vs 4 (the DuckDB form)
    assert(math.abs(jw("café", "cafe") - 0.8483333333333334) < 1e-15)
  }

  test("jaroWinklerPairs: blocked linkage scores planted variants") {
    val titles = Seq(
      (1L, "annual financial report 2024"),
      (2L, "annual financial reprt 2024"),   // high JW twin of 1
      (3L, "annual financial report 2025"),  // tail digit: even higher JW
      (4L, "guide to alpine wildflowers"),   // unrelated family
      (5L, "guide to alpine wildflower"),
      (6L, "zzzz")).toDF("id", "title")      // shares no gram with anyone
    val got = DedupFunctions.jaroWinklerPairs(titles, "id", "title",
        threshold = 0.9, q = 3, maxDf = 100L)
      .as[(Long, Long, Double)].collect().map(p => (p._1, p._2) -> p._3).toMap
    assert(got.keySet === Set((1L, 2L), (1L, 3L), (2L, 3L), (4L, 5L)))
    // every score respects the threshold and the 6dp rounding
    assert(got.values.forall(v => v >= 0.9 && v <= 1.0))
    assert(got.values.forall(v =>
      BigDecimal(v).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble == v))
    // grading: one-char variants score distinctly, both near 1 —
    // the deletion keeps 27/27 matches (0.992857) vs the tail
    // substitution's 27/28 (0.985714)
    assert(got((1L, 2L)) === 0.992857 && got((1L, 3L)) === 0.985714)
  }

  test("jaroWinklerPairs: length-ratio prefilter is sound (no lost pair)") {
    // min/max >= 5*0.9-4 = 0.5 can never cut a qualifying pair: a pair
    // at ratio < 0.5 has jw <= 0.6*(2+r)/3+0.4 < 0.9. Verify the filter
    // drops a 2:1 candidate the gram join WOULD have produced, and that
    // its true JW is indeed under the threshold.
    val t = Seq((1L, "abcdefgh"), (2L, "abcdefghabcdefghx")).toDF("id", "title")
    assert(DedupFunctions.jaroWinklerPairs(t, "id", "title",
      threshold = 0.9, q = 3, maxDf = 100L).isEmpty)
    import graft.functions.{JaroWinkler => JW}
    import org.apache.spark.unsafe.types.UTF8String.{fromString => u}
    assert(JW.similarity(u("abcdefgh"), u("abcdefghabcdefghx")) < 0.9)
  }

  test("removeDuplicateSpans: duplicated k-token runs cut everywhere but first") {
    val docs = Seq(
      (1L, "a b c d e", "x"),             // owns the first occurrences
      (2L, "x y a b c d z", "y"),         // overlapping dup grams merge: idx 2..5 cut
      (3L, "p q r s p q r s", "z"),       // within-doc repetition: second copy cut
      (4L, "too short", "s"),             // < k tokens → no spans, passthrough
      (5L, "  w1   w2  w3 ", "n"),        // whitespace-normalization contract
      (6L, null.asInstanceOf[String], "0")) // null text → stays null
      .toDF("doc_id", "text", "source")
    val out = DedupFunctions.removeDuplicateSpans(docs, "doc_id", "text", k = 3)
    assert(out.columns.toSeq === Seq("doc_id", "text", "source"))
    val m = out.select("doc_id", "text").as[(Long, String)].collect().toMap
    assert(m(1L) === "a b c d e", "keeper doc untouched")
    assert(m(2L) === "x y z", "union of overlapping dup spans (a b c)+(b c d) cut")
    assert(m(3L) === "p q r s", "intra-doc repeated span keeps only first copy")
    assert(m(4L) === "too short")
    assert(m(5L) === "w1 w2 w3", "tokens rejoin single-spaced")
    assert(m(6L) === null, "null text propagates")
    assert(out.count() === 6)
    // a doc that IS entirely a duplicated span collapses to "", not dropped
    val all = Seq((1L, "c1 c2 c3"), (2L, "c1 c2 c3")).toDF("doc_id", "text")
    val got = DedupFunctions.removeDuplicateSpans(all, "doc_id", "text", k = 3)
      .select("doc_id", "text").as[(Long, String)].collect().toMap
    assert(got === Map(1L -> "c1 c2 c3", 2L -> ""))
    // partitioning-proof + pluggable hash (the md5 replay contract)
    val b = DedupFunctions.removeDuplicateSpans(docs.repartition(7), "doc_id", "text",
      k = 3, hash = DedupFunctions.md5Hash60).select("doc_id", "text")
      .as[(Long, String)].collect().toMap
    assert(b === m)
    // plan pin: the count+keeper aggregation must stay object-hash
    val plan = out.queryExecution.executedPlan.toString
    assert(!plan.contains("SortAggregate"),
      s"gram agg degraded to SortAggregate:\n$plan")
  }

  test("removeDuplicateLines: first occurrence survives, short lines exempt") {
    val banner = "SUBSCRIBE TO OUR NEWSLETTER TODAY"
    val docs = Seq(
      (1L, s"alpha unique content line one\n$banner\n--", "a"),
      (2L, s"$banner\nbeta unique content line two\n--", "b"),
      (3L, s"--\n  $banner  \ngamma unique content line three", "c"),
      (4L, banner, "d"), // every line a dup → empty text, doc kept
      (5L, null.asInstanceOf[String], "e")) // null text → stays null
      .toDF("doc_id", "text", "source")
    val out = DedupFunctions.removeDuplicateLines(docs, "doc_id", "text",
      minChars = 10)
    assert(out.columns.toSeq === Seq("doc_id", "text", "source"),
      "column order and passthrough columns preserved")
    val m = out.select("doc_id", "text").as[(Long, String)].collect().toMap
    // the banner's first occurrence is (doc 1, pos 1); trimmed matching
    // kills doc 3's padded copy too; "--" is under minChars → everywhere
    assert(m(1L) === s"alpha unique content line one\n$banner\n--")
    assert(m(2L) === "beta unique content line two\n--")
    assert(m(3L) === "--\ngamma unique content line three")
    assert(m(4L) === "", "fully-deduped doc comes back with empty text, not dropped")
    assert(m(5L) === null, "null text propagates, never rewritten to \"\"")
    assert(out.count() === 5)
    // partitioning-proof: keeper choice depends on values, not layout
    val b = DedupFunctions.removeDuplicateLines(docs.repartition(7), "doc_id", "text", 10)
      .select("doc_id", "text").as[(Long, String)].collect().toMap
    assert(b === m)
    // plan pin: the keeper aggregation must be object-hash, never a
    // SortAggregate (min/min_by over a struct buffer would sort the
    // whole exploded corpus per partition)
    val plan = out.queryExecution.executedPlan.toString
    assert(!plan.contains("SortAggregate"),
      s"keeper agg degraded to SortAggregate:\n$plan")
  }

  test("containmentPairs: excerpt flags against its source, not vice versa") {
    val spark2 = graft.TestSpark.spark
    import spark2.implicits._
    val article = ("the committee reviewed every submission in order and " +
      "recorded a detailed verdict for each entry before the final " +
      "session closed with a unanimous vote on the remaining items " +
      "and a schedule for the next review cycle was agreed") // long doc
    val excerpt = article.substring(60, 170)                 // verbatim quote
    val other = "completely unrelated text about harbor tides and gulls " +
      "circling the gray water while the keeper writes in a worn ledger"
    val docs = Seq((1L, article), (2L, excerpt), (3L, other))
      .toDF("doc_id", "text")
    val pairs = DedupFunctions.containmentPairs(docs, "doc_id", "text",
        threshold = 0.7)
      .as[(Long, Long, Double)].collect()
    // the excerpt is contained in the article...
    val hit = pairs.filter(p => p._1 == 2L && p._2 == 1L)
    assert(hit.length === 1 && hit.head._3 >= 0.7, pairs.mkString(", "))
    // ...but the article is NOT contained in the excerpt (asymmetry),
    // and the unrelated doc pairs with nothing
    assert(!pairs.exists(p => p._1 == 1L && p._2 == 2L))
    assert(!pairs.exists(p => p._1 == 3L || p._2 == 3L))
    // df-cap: a fingerprint shared by every doc is dropped, pairs gone
    val boiler = Seq((1L, "same same same"), (2L, "same same same"),
      (3L, "same same same")).toDF("doc_id", "text")
    assert(DedupFunctions.containmentPairs(boiler, "doc_id", "text",
      threshold = 0.5, maxDocFreq = 2).isEmpty)
  }
}
