package graft.corpus

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.Files

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.TestSpark
import graft.functions.TextFunctions

class CorpusPipelineSpec extends AnyFunSuite {
  private val spark = TestSpark.spark
  import spark.implicits._

  private val sfDir = "/root/testdata/sf0.001"

  test("clean: every survivor passes every gate; duplicates are gone") {
    val docs = spark.read.parquet(s"$sfDir/documents.parquet")
      .select(col("doc_id"), col("text"))
    // plant an exact duplicate and a PII doc to exercise those paths
    val dupOfDoc3 = docs.filter(col("doc_id") === 3L)
      .select(lit(900001L).as("doc_id"), col("text"))
    val piiDoc = spark.sql(
      """SELECT * FROM VALUES (900002L,
        |  'contact me at real.person@example.com about the data table row group and the merge of the sorted parts in the scan')
        |AS t(doc_id, text)""".stripMargin)
    val planted = docs.unionByName(dupOfDoc3).unionByName(piiDoc)
    val cfg = CorpusConfig(minTokens = 15, minQuality = 60.0)
    val out = CorpusPipeline.clean(planted, "doc_id", "text", cfg)
    val checked = out.select(
      TextFunctions.tokenCount(col("text")).as("tok"),
      TextFunctions.qualityScore(col("text")).as("q"),
      TextFunctions.duplicateNgramFraction(col("text"), 2).as("bg"),
      TextFunctions.piiCount(col("text")).as("pii"))
      .as[(Long, Double, Double, Long)].collect()
    assert(checked.nonEmpty)
    assert(checked.forall(_._1 >= 15), "token gate")
    assert(checked.forall(_._2 >= 60.0), "quality gate")
    assert(checked.forall(_._3 <= 0.3), "repetition gate")
    assert(checked.forall(_._4 === 0L), "all PII scrubbed")
    // the planted exact duplicate lost to the lower-id original
    val ids = out.select("doc_id").as[Long].collect().toSet
    assert(!ids.contains(900001L), "exact duplicate must drop")
    // no two survivors share a fingerprint
    val fps = out.select(TextFunctions.fingerprint(col("text"))).distinct().count()
    assert(fps === out.count())
  }

  test("clean + gopherFilter + classifierGate: the optional tiers fire between gates and scrub") {
    import graft.functions.ClassifierFunctions
    // 52 distinct-ish words, single line, no repeated phrases — passes
    // BOTH Gopher families (the repeated-sentence fixture other tests
    // use would rightly die on dup-5-gram coverage here)
    val good = "the committee of reviewers examined that archive and " +
      "noted seventeen distinct findings which have emerged with careful " +
      "annotation during the second survey while independent auditors " +
      "confirmed every tabulated entry against original ledgers and " +
      "prepared a concise summary for the board that described methods " +
      "results caveats and recommended next actions in plain language"
    val docs = Seq(
      (1L, good),                                       // passes everything
      (2L, good.split(" ").take(30).mkString(" ")),     // 30 words: passes base minTokens, fails Gopher minWords=40
      (3L, ("alpha beta gamma delta epsilon zeta eta theta iota kappa " * 5).trim))
      .toDF("doc_id", "text")                           // no Gopher stopword → fails stop rule
    // base gates alone keep all three
    val base = CorpusPipeline.clean(docs, "doc_id", "text",
      CorpusConfig(minTokens = 10, minQuality = 0.0, maxDupBigramFrac = 1.0))
      .select("doc_id").as[Long].collect().toSet
    assert(base === Set(1L, 2L, 3L))
    // the Gopher tier drops 2 (word floor) and 3 (stopwords)
    val cfgG = CorpusConfig(minTokens = 10, minQuality = 0.0, maxDupBigramFrac = 1.0,
      gopherFilter = Some(GopherConfig(minWords = 40L, minStopwordHits = 1)))
    assert(CorpusPipeline.clean(docs, "doc_id", "text", cfgG)
      .select("doc_id").as[Long].collect().toSet === Set(1L))
    // the classifier tier drops what scores low against trained weights
    // class feature mass balanced so the NB prior (bias = ln tp/tn)
    // stays near zero and the gate decision rides on the weights
    val labeled = Seq(
      (10L, good, true), (11L, good + " again and again", true),
      (12L, ("click here free prize winner now claim fast money " * 6).trim, false),
      (13L, ("free fast prize click claim winner here now money today " * 5).trim, false))
      .toDF("doc_id", "text", "label")
    val (w, b) = ClassifierFunctions.naiveBayesWeights(labeled, "text", "label",
      buckets = 1 << 12)
    val spam = Seq((1L, good),
      (2L, ("click here free prize winner now claim fast money " * 4).trim))
      .toDF("doc_id", "text")
    val cfgC = CorpusConfig(minTokens = 5, minQuality = 0.0, maxDupBigramFrac = 1.0,
      classifierGate = Some(ClassifierGateConfig(w, b, minScore = 0.5,
        buckets = 1 << 12)))
    assert(CorpusPipeline.clean(spam, "doc_id", "text", cfgC)
      .select("doc_id").as[Long].collect().toSet === Set(1L))
    graft.Caches.releaseAll()
  }

  test("clean + lineDedupMinChars: re-crawls differing only in banner placement collapse") {
    val docs = spark.read.parquet(s"$sfDir/documents.parquet")
      .select(col("doc_id"), col("text")).filter(col("doc_id") < 100)
    val banner = "SHARED COOKIE BANNER TEXT HERE"
    // every doc gets the banner on top; docs %10==0 are re-crawled with
    // the SAME banner at the bottom under a shifted id
    val planted = docs
      .select(col("doc_id"), concat(lit(banner), lit("\n"), col("text")).as("text"))
      .unionByName(docs.filter(col("doc_id") % 10 === 0)
        .select((col("doc_id") + 100000L).as("doc_id"),
          concat(col("text"), lit("\n"), lit(banner)).as("text")))
    val base = CorpusConfig(minTokens = 15, minQuality = 50.0)
    // WITHOUT line dedup the re-crawls do drop (the LSH tier sees them
    // as near-dups) but every surviving document still CARRIES the
    // banner — the pollution line dedup exists to remove...
    val off = CorpusPipeline.clean(planted, "doc_id", "text", base)
      .select("doc_id", "text").as[(Long, String)].collect()
    assert(off.count(_._2.contains(banner)) === off.length,
      "without line dedup every survivor keeps the banner")
    // ...WITH it, every re-crawl collapses onto its lower-id original
    // at the cheap EXACT tier, and only doc 0 (the banner's first
    // occurrence) still carries it
    val on = CorpusPipeline.clean(planted, "doc_id", "text",
      base.copy(lineDedupMinChars = Some(10)))
    val onRows = on.select("doc_id", "text").as[(Long, String)].collect()
    assert(!onRows.exists(_._1 >= 100000L), "every re-crawl must collapse")
    val withBanner = onRows.filter(_._2.contains(banner)).map(_._1).toSeq
    assert(withBanner === Seq(0L), s"banner must survive only in doc 0, got $withBanner")
    graft.Caches.releaseAll()
  }

  test("clean + semantic stage: embedding near-dups drop, verified brute-force") {
    val docs = spark.read.parquet(s"$sfDir/documents.parquet")
      .select(col("doc_id"), col("text"))
    // distinct natural-text plants: NOT exact/text near-dups of anything
    // (so they must survive the text tier), but their CHUNK VECTORS are
    // tiny perturbations of doc 7's chunks -> pooled cosine ~ 1, so only
    // the embedding tier can catch them. 900011 chains off 900010's
    // vectors, exercising the transitive-cluster drop.
    val plantA = spark.sql(
      """SELECT * FROM VALUES (900010L,
        |  'the archive keeps a full copy of every quarterly review so the analysts can trace how each number moved between the reports')
        |AS t(doc_id, text)""".stripMargin)
    val plantB = spark.sql(
      """SELECT * FROM VALUES (900011L,
        |  'a completely different sentence about harbor lights and the slow ships that carry grain across the northern water routes every autumn season')
        |AS t(doc_id, text)""".stripMargin)
    val planted = docs.unionByName(plantA).unionByName(plantB)
    // chunk embeddings: 10 real chunks per doc for docs 0..49; the plants
    // reuse doc 7's chunks shifted elementwise (pooled mean shifts by the
    // same epsilon, keeping cosine ~ 1)
    val realChunks = spark.read.parquet(s"$sfDir/embeddings.parquet")
      .select(expr("vec_id div 10").as("doc_id"), col("embedding"))
    def shifted(newId: Long, eps: Double) =
      realChunks.filter(col("doc_id") === 7L)
        .select(lit(newId).as("doc_id"),
          transform(col("embedding"), x => x + lit(eps)).as("embedding"))
    val chunks = realChunks.unionByName(shifted(900010L, 0.002))
      .unionByName(shifted(900011L, 0.004))
    val cfg = CorpusConfig(minTokens = 15, minQuality = 0.0)
    val semCfg = SemanticConfig(dim = 64, minCosine = 0.9)
    val pre = CorpusPipeline.clean(planted, "doc_id", "text", cfg)
    val post = CorpusPipeline.clean(planted, "doc_id", "text", cfg,
      chunkEmbeddings = Some(chunks), semantic = Some(semCfg))
    val preIds = pre.select("doc_id").as[Long].collect().toSet
    val postIds = post.select("doc_id").as[Long].collect().toSet
    assert(preIds.contains(900010L) && preIds.contains(900011L),
      "plants must survive the text tier (else the semantic tier is untested)")
    val dropped = preIds.diff(postIds)
    // ORACLE: brute-force all-pairs cosine over the exact vectors the LSH
    // tier saw (pooled + quantized), same 6dp-rounded threshold, then the
    // transitive closure via union-find; expected drops = every cluster
    // member except its minimum id.
    val pooled = graft.functions.SimilarityFunctions.assembleVec(
      graft.functions.SimilarityFunctions.meanPoolFlat(
        chunks.join(pre.select("doc_id"), Seq("doc_id"), "left_semi"),
        "doc_id", "embedding")
        .withColumn("mean_v", round(col("mean_v"), 6)), "doc_id")
    val q = pooled.select(col("doc_id"),
      graft.functions.SimilarityFunctions.quantizeInt8(col("vec"))
        .getField("q").as("vec"))
    val bfPairs = q.as("x").crossJoin(q.as("y"))
      .filter(col("x.doc_id") < col("y.doc_id"))
      .filter(round(graft.functions.SimilarityFunctions.cosineHof(
        col("x.vec"), col("y.vec")), 6) >= semCfg.minCosine)
      .select(col("x.doc_id"), col("y.doc_id")).as[(Long, Long)].collect()
    assert(bfPairs.nonEmpty, "planted pairs must clear the cosine threshold")
    val parent = scala.collection.mutable.Map.empty[Long, Long]
    def find(x: Long): Long = {
      val p = parent.getOrElse(x, x)
      if (p == x) x else { val r = find(p); parent(x) = r; r }
    }
    bfPairs.foreach { case (a, b) => parent(find(a)) = find(b) }
    val members = bfPairs.flatMap(p => Seq(p._1, p._2)).distinct
    val expectedDropped = members.groupBy(find).valuesIterator
      .flatMap(ms => ms.sorted.drop(1)).toSet
    assert(dropped === expectedDropped,
      s"semantic drops must equal the brute-force closure (bf pairs: ${bfPairs.toSeq})")
    assert(dropped.contains(900010L) && dropped.contains(900011L))
    assert(postIds.contains(7L), "the cluster's minimum id survives")
    // docs with no chunk embeddings pass through the semantic tier intact
    assert(preIds.filter(_ >= 50L).filterNot(Set(900010L, 900011L))
      .subsetOf(postIds))
    graft.Caches.releaseAll()
  }

  test("clean + holdout: exactly the contaminated survivors drop, nothing else") {
    val docs = spark.read.parquet(s"$sfDir/documents.parquet")
      .select(col("doc_id"), col("text"))
    val cfg = CorpusConfig(minTokens = 15, minQuality = 50.0, decontamNgram = 3)
    val train = docs.filter(col("doc_id") % 50 =!= 0)
    val holdout = docs.filter(col("doc_id") % 50 === 0)
    val base = CorpusPipeline.clean(train, "doc_id", "text", cfg)
    val baseIds = base.select("doc_id").as[Long].collect().toSet
    val decon = CorpusPipeline.clean(train, "doc_id", "text", cfg,
      holdout = Some(holdout))
    val deconIds = decon.select("doc_id").as[Long].collect().toSet
    assert(deconIds.subsetOf(baseIds), "the gate only ever drops")
    // the dropped set is EXACTLY the contamination report over the
    // un-gated survivors — the gate is the report applied as a filter
    val contaminated = graft.functions.DedupFunctions.contaminationReport(
        base, holdout, "doc_id", "text", n = 3)
      .select("doc_id").as[Long].collect().toSet
    assert(baseIds -- deconIds === contaminated)
    assert(contaminated.nonEmpty, "fixture sanity: some overlap must exist")
    graft.Caches.releaseAll()
  }

  test("clean + holdoutChunks: pooled-cosine matches against the eval suite drop") {
    val docs = spark.read.parquet(s"$sfDir/documents.parquet")
      .select(col("doc_id"), col("text"))
    val realChunks = spark.read.parquet(s"$sfDir/embeddings.parquet")
      .select(expr("vec_id div 10").as("doc_id"), col("embedding"))
    // holdout "benchmark" doc 800000: its chunks are doc 7's, barely
    // perturbed — doc 7 is semantically an eval document and must drop
    // when (and only when) the decon tier is armed
    val holdoutChunks = realChunks.filter(col("doc_id") === 7L)
      .select(lit(800000L).as("doc_id"),
        transform(col("embedding"), x => x + lit(0.002)).as("embedding"))
    val cfg = CorpusConfig(minTokens = 15, minQuality = 0.0)
    val semCfg = SemanticConfig(dim = 64, minCosine = 0.9, deconMinCosine = 0.85)
    val off = CorpusPipeline.clean(docs, "doc_id", "text", cfg,
      chunkEmbeddings = Some(realChunks), semantic = Some(semCfg))
    val offIds = off.select("doc_id").as[Long].collect().toSet
    assert(offIds.contains(7L), "un-armed: the future-contaminated doc survives")
    val on = CorpusPipeline.clean(docs, "doc_id", "text", cfg,
      chunkEmbeddings = Some(realChunks), semantic = Some(semCfg),
      holdoutChunks = Some(holdoutChunks))
    val onIds = on.select("doc_id").as[Long].collect().toSet
    assert(onIds.subsetOf(offIds), "the decon tier only ever drops")
    assert(!onIds.contains(7L), "armed: the holdout look-alike drops")
    // ORACLE: the dropped set is exactly the survivors whose pooled
    // (6dp, quantized) vector clears deconMinCosine against the pooled
    // holdout — brute force over the same vector shapes
    val S = graft.functions.SimilarityFunctions
    def pool(ids: org.apache.spark.sql.DataFrame, ch: org.apache.spark.sql.DataFrame) = {
      val p = S.assembleVec(
        S.meanPoolFlat(ch.join(ids, Seq("doc_id"), "left_semi"),
          "doc_id", "embedding")
          .withColumn("mean_v", round(col("mean_v"), 6)), "doc_id")
      p.select(col("doc_id"),
        S.quantizeInt8(col("vec")).getField("q").as("vec"))
    }
    val corpusVecs = pool(off.select("doc_id"), realChunks)
    val holdVecs = pool(holdoutChunks.select("doc_id").distinct(), holdoutChunks)
    val expectedDrops = corpusVecs.as("x").crossJoin(holdVecs.as("y"))
      .filter(round(S.cosineHof(col("x.vec"), col("y.vec")), 6)
        >= semCfg.deconMinCosine)
      .select(col("x.doc_id")).as[Long].collect().toSet
    assert(offIds -- onIds === expectedDrops)
    assert(expectedDrops === Set(7L), s"fixture sanity: got $expectedDrops")
    graft.Caches.releaseAll()
  }

  test("clean rejects holdoutChunks without the semantic tier") {
    val docs = spark.sql("SELECT * FROM VALUES (1L, 'x') AS t(doc_id, text)")
    intercept[IllegalArgumentException] {
      CorpusPipeline.clean(docs, "doc_id", "text", CorpusConfig(),
        holdoutChunks = Some(docs))
    }
  }

  test("clean rejects a chunk frame without a config (and vice versa)") {
    val docs = spark.sql("SELECT * FROM VALUES (1L, 'x') AS t(doc_id, text)")
    intercept[IllegalArgumentException] {
      CorpusPipeline.clean(docs, "doc_id", "text", CorpusConfig(),
        chunkEmbeddings = Some(docs))
    }
    intercept[IllegalArgumentException] {
      CorpusPipeline.clean(docs, "doc_id", "text", CorpusConfig(),
        semantic = Some(SemanticConfig(dim = 4)))
    }
  }

  test("appendBatch: drops vs corpus, never corpus-vs-corpus re-pairing; idempotent") {
    val docs = spark.read.parquet(s"$sfDir/documents.parquet")
      .select(col("doc_id"), col("text"))
    val cfg = CorpusConfig(minTokens = 15, minQuality = 50.0)
    // the ingested corpus is CLEANED content (that's the contract: it
    // went through this same pipeline at its own ingest time)
    val existing = CorpusPipeline.clean(
      docs.filter(col("doc_id") < 25), "doc_id", "text", cfg)
    // batch: genuinely new docs plus a re-crawled byte-identical copy
    // of an already-ingested doc under a new id
    val recrawl = existing.orderBy("doc_id").limit(1)
      .select(lit(900100L).as("doc_id"), col("text"))
    val batch = docs.filter(col("doc_id") >= 25).unionByName(recrawl)
    val survivors = CorpusPipeline.appendBatch(
      existing, batch, "doc_id", "text", cfg)
    val surIds = survivors.select("doc_id").as[Long].collect().toSet
    assert(surIds.nonEmpty, "new documents must survive")
    assert(!surIds.contains(900100L), "re-crawled copy of an ingested doc must drop")
    // INSERT-OR-IGNORE semantics: grow the corpus with the survivors,
    // append the SAME batch again -> nothing new. Checkpoint first —
    // in production the grown corpus is read back from the warehouse,
    // not carried as live lineage over the whole previous append
    val grown = existing.unionByName(survivors).localCheckpoint(true)
    val again = CorpusPipeline.appendBatch(grown, batch, "doc_id", "text", cfg)
    assert(again.isEmpty, "appending the same batch twice must add zero rows")
    graft.Caches.releaseAll()
  }

  test("appendBatchIndexed: a parquet round-tripped index reproduces the direct append") {
    val docs = spark.read.parquet(s"$sfDir/documents.parquet")
      .select(col("doc_id"), col("text"))
    val cfg = CorpusConfig(minTokens = 15, minQuality = 50.0)
    val existing = CorpusPipeline.clean(
      docs.filter(col("doc_id") < 25), "doc_id", "text", cfg)
    val recrawl = existing.orderBy("doc_id").limit(1)
      .select(lit(900300L).as("doc_id"), col("text"))
    val batch = docs.filter(col("doc_id") >= 25).unionByName(recrawl)
    val direct = CorpusPipeline.appendBatch(
        existing, batch, "doc_id", "text", cfg)
      .select("doc_id").as[Long].collect().toSet
    // the steady-state nightly shape: the index is PLAIN PARQUET state
    // written at the previous append — prove the stored shapes (md5
    // strings, shingle arrays) survive the round trip bit-for-bit
    val idx = CorpusPipeline.buildTextIndex(existing, "doc_id", "text", cfg)
    val dir = Files.createTempDirectory("corpus-index").toFile.getAbsolutePath
    idx.fingerprints.write.parquet(s"$dir/fp")
    idx.shingles.write.parquet(s"$dir/sh")
    idx.bands.write.parquet(s"$dir/bd")
    val loaded = CorpusPipeline.TextIndex(
      spark.read.parquet(s"$dir/fp"), spark.read.parquet(s"$dir/sh"),
      spark.read.parquet(s"$dir/bd"))
    val viaIndex = CorpusPipeline.appendBatchIndexed(
        loaded, batch, "doc_id", "text", cfg)
      .select("doc_id").as[Long].collect().toSet
    assert(viaIndex === direct)
    assert(!viaIndex.contains(900300L), "re-crawled copy drops through the stored index")
    graft.Caches.releaseAll()
  }

  test("appendBatchIndexed: the Bloom gate is result-transparent, even saturated") {
    val docs = spark.read.parquet(s"$sfDir/documents.parquet")
      .select(col("doc_id"), col("text"))
    val cfg = CorpusConfig(minTokens = 15, minQuality = 50.0)
    val existing = CorpusPipeline.clean(
      docs.filter(col("doc_id") < 25), "doc_id", "text", cfg)
    val recrawl = existing.orderBy("doc_id").limit(1)
      .select(lit(900500L).as("doc_id"), col("text"))
    val batch = docs.filter(col("doc_id") >= 25).unionByName(recrawl)
    val idx = CorpusPipeline.buildTextIndex(existing, "doc_id", "text", cfg)
    val plain = CorpusPipeline.appendBatchIndexed(idx, batch, "doc_id", "text", cfg)
      .select("doc_id").as[Long].collect().toSet
    // a well-sized sketch: misses skip the index join, hits verify —
    // survivor set identical, recrawl still drops
    val bloom = graft.functions.DedupFunctions.fingerprintBloom(
      idx.fingerprints, "fp", expectedItems = 100000L)
    val gated = CorpusPipeline.appendBatchIndexed(idx, batch, "doc_id", "text",
        cfg, fpBloom = Some(bloom))
      .select("doc_id").as[Long].collect().toSet
    assert(gated === plain)
    assert(!gated.contains(900500L))
    // a SATURATED sketch (2 expected items, hundreds inserted → nearly
    // every probe a false positive) degrades to the plain anti-join's
    // cost, never to wrong results
    val saturated = graft.functions.DedupFunctions.fingerprintBloom(
      idx.fingerprints, "fp", expectedItems = 2L, fpp = 0.5)
    val viaSaturated = CorpusPipeline.appendBatchIndexed(idx, batch, "doc_id",
        "text", cfg, fpBloom = Some(saturated))
      .select("doc_id").as[Long].collect().toSet
    assert(viaSaturated === plain)
    graft.Caches.releaseAll()
  }

  test("appendBatchIndexed plan: bloom-armed exact tier never SHUFFLES the fingerprint index") {
    import org.apache.spark.sql.execution.{FileSourceScanExec, SparkPlan}
    import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
    import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
    val docs = spark.read.parquet(s"$sfDir/documents.parquet")
      .select(col("doc_id"), col("text"))
    val cfg = CorpusConfig(minTokens = 15, minQuality = 50.0)
    val existing = CorpusPipeline.clean(
      docs.filter(col("doc_id") < 25), "doc_id", "text", cfg)
    val dir = Files.createTempDirectory("bloom-plan").toFile.getAbsolutePath
    val idx = CorpusPipeline.buildTextIndex(existing, "doc_id", "text", cfg)
    idx.fingerprints.write.parquet(s"$dir/fp")
    graft.Caches.releaseAll()
    val fpIndex = spark.read.parquet(s"$dir/fp")
    val bloom = graft.functions.DedupFunctions.fingerprintBloom(
      fpIndex, "fp", expectedItems = 100000L)
    // the exact tier materializes as a stage checkpoint inside
    // appendBatchIndexed (its lineage is gone from the returned plan),
    // so the scan-only contract is asserted on [[CorpusPipeline
    // .exactProbe]]'s own plan — the exact frame that stage 2 executes
    def scansFp(p: SparkPlan): Boolean = p match {
      case s: FileSourceScanExec =>
        s.relation.location.rootPaths.exists(_.toString.contains(s"$dir/fp"))
      case a: AdaptiveSparkPlanExec => scansFp(a.initialPlan)
      case other => other.children.exists(scansFp)
    }
    def shuffledFpExchanges(p: SparkPlan): Seq[SparkPlan] =
      p.collect { case e: ShuffleExchangeExec if scansFp(e.child) => e }
    val aqeWas = spark.conf.get("spark.sql.adaptive.enabled")
    val abtWas = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    // a 100 TB fingerprint index does NOT fit the auto-broadcast
    // threshold — disable it so the plan shows the at-scale shapes.
    // The gate's EXPLICIT broadcast hints (hit keys, verified set) are
    // unaffected: they are batch/hit-sized by construction.
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try {
      val batch = docs.filter(col("doc_id") >= 25)
      val withFp = batch.withColumn("_fp",
        graft.functions.TextFunctions.fingerprint(col("text")))
      val gated = CorpusPipeline.exactProbe(fpIndex, withFp, "_fp", Some(bloom))
        .queryExecution.executedPlan
      assert(scansFp(gated),
        "the fp scan must appear (hit verification reads it)")
      val shuffledFp = shuffledFpExchanges(gated)
      assert(shuffledFp.isEmpty,
        s"bloom-armed exact tier must keep the fingerprint index scan-only:\n${shuffledFp.mkString("\n")}")
      // positive control: the plain anti-join cannot broadcast its huge
      // build side, so it SHUFFLES the index — proves the detector sees
      // the shape the gate removes
      val plain = CorpusPipeline.exactProbe(fpIndex, withFp, "_fp", None)
        .queryExecution.executedPlan
      assert(shuffledFpExchanges(plain).nonEmpty,
        "detector sanity: the un-gated anti-join shuffles the fingerprint index")
    } finally {
      spark.conf.set("spark.sql.adaptive.enabled", aqeWas)
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", abtWas)
      graft.Caches.releaseAll()
    }
  }

  test("ingest: bloom-armed nights converge; mixed state disarms the gate safely") {
    val docs = spark.read.parquet(s"$sfDir/documents.parquet")
      .select(col("doc_id"), col("text"))
    // ratio 0: probe whenever armed — this spec exercises the PROBE
    // path itself; the auto-arm ratio has its own spec below
    val cfg = CorpusConfig(minTokens = 15, minQuality = 50.0,
      fpBloomItems = Some(100000L), fpBloomMinRatio = 0.0)
    val state = Files.createTempDirectory("ingest-bloom").toFile.getAbsolutePath
    val n1 = CorpusPipeline.ingest(spark, state, docs.filter(col("doc_id") < 25),
      cfg = cfg)
    assert(CorpusPipeline.readFpBloom(spark, state).isDefined,
      "an armed batch must stage its sketch")
    // night 2 probes the stored sketch; the re-crawl is a bloom HIT and
    // drops through the verify join
    val recrawl = CorpusPipeline.readCorpus(spark, state).orderBy("doc_id").limit(1)
      .select(lit(900600L).as("doc_id"), col("text"))
    val n2 = CorpusPipeline.ingest(spark, state,
      docs.filter(col("doc_id") >= 25).unionByName(recrawl), cfg = cfg)
    assert(n2("ingested") > 0L)
    assert(CorpusPipeline.readCorpus(spark, state)
      .filter(col("doc_id") === 900600L).isEmpty,
      "re-crawled copy must drop through the bloom-gated tier")
    // replayed content under a fresh token: INSERT-OR-IGNORE holds
    val n3 = CorpusPipeline.ingest(spark, state,
      docs.filter(col("doc_id") >= 25), cfg = cfg)
    assert(n3("ingested") === 0L)
    // compaction carries the merged sketch into the new state dir
    val target = Files.createTempDirectory("ingest-bloom-compact").toFile.getAbsolutePath
    CorpusPipeline.compact(spark, state, target)
    assert(CorpusPipeline.readFpBloom(spark, target).isDefined,
      "compaction must preserve the corpus-wide sketch")
    // MIXED state: a corpus seeded WITHOUT the bloom knob, then an
    // armed night — the partial sketch would have false negatives, so
    // the gate must disarm (readFpBloom None) and dedup must still hold
    val mixed = Files.createTempDirectory("ingest-bloom-mixed").toFile.getAbsolutePath
    CorpusPipeline.ingest(spark, mixed, docs.filter(col("doc_id") < 25),
      cfg = cfg.copy(fpBloomItems = None))
    assert(CorpusPipeline.readFpBloom(spark, mixed).isEmpty,
      "a pre-bloom batch must disarm the merged sketch")
    val recrawl2 = CorpusPipeline.readCorpus(spark, mixed).orderBy("doc_id").limit(1)
      .select(lit(900601L).as("doc_id"), col("text"))
    CorpusPipeline.ingest(spark, mixed,
      docs.filter(col("doc_id") >= 25).unionByName(recrawl2), cfg = cfg)
    assert(CorpusPipeline.readCorpus(spark, mixed)
      .filter(col("doc_id") === 900601L).isEmpty,
      "dedup must hold even with the gate disarmed")
  }

  test("bloom probe auto-arms by corpus:batch ratio; young-corpus nights stay correct") {
    // the decision rule itself: BOTH floors must clear
    val armed = CorpusConfig(fpBloomItems = Some(1000L), fpBloomMinRatio = 4.0,
      fpBloomMinCorpusRows = 300L)
    assert(!CorpusPipeline.bloomProbeArmed(armed, corpusRows = 100, batchRows = 50),
      "a 2:1 corpus must NOT probe at ratio 4")
    assert(CorpusPipeline.bloomProbeArmed(armed, corpusRows = 400, batchRows = 50),
      "an 8:1 corpus past the rows floor must probe at ratio 4")
    assert(CorpusPipeline.bloomProbeArmed(armed, corpusRows = 300, batchRows = 75),
      "both thresholds exactly met arm — >= comparisons")
    assert(!CorpusPipeline.bloomProbeArmed(armed, corpusRows = 200, batchRows = 10),
      "a 20:1 corpus BELOW the rows floor must not probe — its " +
        "fingerprint table broadcasts, the plain anti-join is free")
    assert(CorpusPipeline.bloomProbeArmed(
      armed.copy(fpBloomMinRatio = 0.0), corpusRows = 0, batchRows = 50),
      "ratio 0 probes whenever the gate is configured, ignoring both floors")
    assert(!CorpusPipeline.bloomProbeArmed(
      armed.copy(fpBloomItems = None), corpusRows = 1000, batchRows = 1),
      "no configured gate, no probe, whatever the ratio")
    // integration: identical corpus content whichever side of the
    // crossover the nights land on, and filters are WRITTEN even on
    // un-probed nights so the sketch stays complete for later arming
    val docs = spark.read.parquet(s"$sfDir/documents.parquet")
      .select(col("doc_id"), col("text"))
    val always = CorpusConfig(minTokens = 15, minQuality = 50.0,
      fpBloomItems = Some(100000L), fpBloomMinRatio = 0.0)
    val never = always.copy(fpBloomMinRatio = Double.MaxValue)
    val stA = Files.createTempDirectory("bloom-ratio-a").toFile.getAbsolutePath
    val stB = Files.createTempDirectory("bloom-ratio-b").toFile.getAbsolutePath
    for (st <- Seq(stA, stB); cfg = if (st == stA) always else never) {
      CorpusPipeline.ingest(spark, st, docs.filter(col("doc_id") < 25), cfg = cfg)
      val recrawl = CorpusPipeline.readCorpus(spark, st).orderBy("doc_id").limit(1)
        .select(lit(900700L).as("doc_id"), col("text"))
      CorpusPipeline.ingest(spark, st,
        docs.filter(col("doc_id") >= 25).unionByName(recrawl), cfg = cfg)
    }
    val a = CorpusPipeline.readCorpus(spark, stA).select("doc_id", "text")
      .as[(Long, String)].collect().toSet
    val b = CorpusPipeline.readCorpus(spark, stB).select("doc_id", "text")
      .as[(Long, String)].collect().toSet
    assert(a === b, "probe arming must never change the corpus content")
    assert(CorpusPipeline.readFpBloom(spark, stB).isDefined,
      "un-probed armed nights must still stage their filters")
  }

  test("appendBatchIndexed plan: NO aggregation consumes the stored corpus shingles") {
    import org.apache.spark.sql.catalyst.plans.logical.{Aggregate, Join, LogicalPlan}
    import org.apache.spark.sql.execution.datasources.{HadoopFsRelation, LogicalRelation}
    val docs = spark.read.parquet(s"$sfDir/documents.parquet")
      .select(col("doc_id"), col("text"))
    val cfg = CorpusConfig(minTokens = 15, minQuality = 50.0)
    val existing = CorpusPipeline.clean(
      docs.filter(col("doc_id") < 25), "doc_id", "text", cfg)
    val idx = CorpusPipeline.buildTextIndex(existing, "doc_id", "text", cfg)
    val dir = Files.createTempDirectory("corpus-index-plan").toFile.getAbsolutePath
    idx.fingerprints.write.parquet(s"$dir/fp")
    idx.shingles.write.parquet(s"$dir/sh")
    idx.bands.write.parquet(s"$dir/bd")
    graft.Caches.releaseAll() // drop build-time pins so plans show raw scans
    val loaded = CorpusPipeline.TextIndex(
      spark.read.parquet(s"$dir/fp"), spark.read.parquet(s"$dir/sh"),
      spark.read.parquet(s"$dir/bd"))
    def scansShingles(p: LogicalPlan): Boolean = p match {
      case l: LogicalRelation => l.relation match {
        case h: HadoopFsRelation =>
          h.location.rootPaths.exists(_.toString.contains(s"$dir/sh"))
        case _ => false
      }
      case _ => false
    }
    // an Aggregate is "over the corpus shingle frame" when the shingle
    // scan is reachable from it WITHOUT crossing a Join — i.e. the
    // aggregation's input IS shingle rows (the signature-recompute
    // shape), not a candidate-bounded join result (distinct over
    // verified pairs is fine)
    def reachesWithoutJoin(p: LogicalPlan): Boolean =
      if (scansShingles(p)) true
      else p match {
        case _: Join => false
        case other => other.children.exists(reachesWithoutJoin)
      }
    val out = CorpusPipeline.appendBatchIndexed(
      loaded, docs.filter(col("doc_id") >= 25), "doc_id", "text", cfg)
    val plan = out.queryExecution.optimizedPlan
    assert(plan.exists(scansShingles(_)),
      "the shingle scan must appear (candidate verification reads it)")
    val badAggs = plan.collect {
      case a: Aggregate if a.children.exists(reachesWithoutJoin) => a
    }
    assert(badAggs.isEmpty,
      s"stored-bands path must not aggregate corpus shingles:\n${badAggs.mkString("\n")}")
    // positive control: the pre-index shape (recompute signatures from
    // the stored shingle table) MUST trip the detector — proves the
    // detector actually sees the recompute
    val batchShingles = docs.filter(col("doc_id") >= 25)
      .select(col("doc_id").as("id"),
        graft.functions.DedupFunctions.wordShingles(col("text"), cfg.shingleN).as("shingles"))
    val oldShape = graft.functions.DedupFunctions.minhashLshPairsAgainst(
      loaded.shingles, batchShingles, numHashes = cfg.numHashes,
      bands = cfg.bands, threshold = cfg.nearDupThreshold,
      storage = org.apache.spark.storage.StorageLevel.NONE)
    val oldBad = oldShape.queryExecution.optimizedPlan.collect {
      case a: Aggregate if a.children.exists(reachesWithoutJoin) => a
    }
    assert(oldBad.nonEmpty, "detector sanity: the derived path recomputes signatures")
    graft.Caches.releaseAll()
  }

  test("appendBatchIndexed: a parquet round-tripped SemanticIndex reproduces the re-pooling path") {
    val docs = spark.read.parquet(s"$sfDir/documents.parquet")
      .select(col("doc_id"), col("text"))
    val cfg = CorpusConfig(minTokens = 15, minQuality = 0.0)
    val semCfg = SemanticConfig(dim = 64, minCosine = 0.9)
    val existing = CorpusPipeline.clean(
      docs.filter(col("doc_id") < 25), "doc_id", "text", cfg)
    val realChunks = spark.read.parquet(s"$sfDir/embeddings.parquet")
      .select(expr("vec_id div 10").as("doc_id"), col("embedding"))
    // batch: an embedding paraphrase of corpus doc 7 (must drop through
    // the stored vector index) plus a genuinely new doc (must survive)
    val plant = spark.sql(
      """SELECT * FROM VALUES
        |  (900700L, 'a completely different sentence about harbor lights and the slow ships that carry grain across the northern water routes every autumn season'),
        |  (900701L, 'an unrelated report on mountain weather stations records wind speed and snow depth at hourly intervals through the long winter observation season')
        |AS t(doc_id, text)""".stripMargin)
    val plantChunks = realChunks.filter(col("doc_id") === 7L)
      .select(lit(900700L).as("doc_id"),
        transform(col("embedding"), x => x + lit(0.002)).as("embedding"))
      .unionByName(realChunks.filter(col("doc_id") === 8L)
        .select(lit(900701L).as("doc_id"),
          transform(col("embedding"), x => x * lit(-1.0)).as("embedding")))
    // the re-pooling path (appendBatch derives all indexes on the fly)
    val direct = CorpusPipeline.appendBatch(
        existing, plant, "doc_id", "text", cfg,
        existingChunks = Some(realChunks), batchChunks = Some(plantChunks),
        semantic = Some(semCfg))
      .select("doc_id").as[Long].collect().toSet
    assert(direct === Set(900701L),
      "sanity: paraphrase drops, the unrelated doc survives")
    // the stored-state path: both indexes round-trip through parquet
    val dir = Files.createTempDirectory("semantic-index").toFile.getAbsolutePath
    val tIdx = CorpusPipeline.buildTextIndex(existing, "doc_id", "text", cfg)
    tIdx.fingerprints.write.parquet(s"$dir/fp")
    tIdx.shingles.write.parquet(s"$dir/sh")
    tIdx.bands.write.parquet(s"$dir/bd")
    val sIdx = CorpusPipeline.buildSemanticIndex(
      existing.select(col("doc_id")), realChunks, "doc_id", "embedding", semCfg)
    sIdx.vectors.write.parquet(s"$dir/vec")
    sIdx.bands.write.parquet(s"$dir/vbd")
    graft.Caches.releaseAll()
    val viaIndex = CorpusPipeline.appendBatchIndexed(
        CorpusPipeline.TextIndex(spark.read.parquet(s"$dir/fp"),
          spark.read.parquet(s"$dir/sh"), spark.read.parquet(s"$dir/bd")),
        plant, "doc_id", "text", cfg,
        semanticIndex = Some(CorpusPipeline.SemanticIndex(
          spark.read.parquet(s"$dir/vec"), spark.read.parquet(s"$dir/vbd"))),
        batchChunks = Some(plantChunks), semantic = Some(semCfg))
      .select("doc_id").as[Long].collect().toSet
    assert(viaIndex === direct,
      "index-fed semantic append must equal the re-pooling path row-for-row")
    graft.Caches.releaseAll()
  }

  test("appendBatchIndexed plan: corpus chunks NEVER scanned; stored vectors join-only") {
    import org.apache.spark.sql.catalyst.plans.logical.{Aggregate, Join, LogicalPlan}
    import org.apache.spark.sql.execution.datasources.{HadoopFsRelation, LogicalRelation}
    val docs = spark.read.parquet(s"$sfDir/documents.parquet")
      .select(col("doc_id"), col("text"))
    val cfg = CorpusConfig(minTokens = 15, minQuality = 0.0)
    val semCfg = SemanticConfig(dim = 64, minCosine = 0.9)
    val existing = CorpusPipeline.clean(
      docs.filter(col("doc_id") < 25), "doc_id", "text", cfg)
    // corpus chunks as PARQUET so a scan of them is detectable by path
    val dir = Files.createTempDirectory("semantic-plan").toFile.getAbsolutePath
    spark.read.parquet(s"$sfDir/embeddings.parquet")
      .select(expr("vec_id div 10").as("doc_id"), col("embedding"))
      .write.parquet(s"$dir/chunks")
    val exChunks = spark.read.parquet(s"$dir/chunks")
    val tIdx = CorpusPipeline.buildTextIndex(existing, "doc_id", "text", cfg)
    tIdx.fingerprints.write.parquet(s"$dir/fp")
    tIdx.shingles.write.parquet(s"$dir/sh")
    tIdx.bands.write.parquet(s"$dir/bd")
    val sIdx = CorpusPipeline.buildSemanticIndex(
      existing.select(col("doc_id")), exChunks, "doc_id", "embedding", semCfg)
    sIdx.vectors.write.parquet(s"$dir/vec")
    sIdx.bands.write.parquet(s"$dir/vbd")
    graft.Caches.releaseAll()
    def scansPath(sub: String)(p: LogicalPlan): Boolean = p match {
      case l: LogicalRelation => l.relation match {
        case h: HadoopFsRelation =>
          h.location.rootPaths.exists(_.toString.contains(s"$dir/$sub"))
        case _ => false
      }
      case _ => false
    }
    def reachesWithoutJoin(p: LogicalPlan, sub: String): Boolean =
      if (scansPath(sub)(p)) true
      else p match {
        case _: Join => false
        case other => other.children.exists(reachesWithoutJoin(_, sub))
      }
    val batch = docs.filter(col("doc_id") >= 25)
    val batchChunks = exChunks.filter(col("doc_id") >= 25)
    val indexed = CorpusPipeline.appendBatchIndexed(
      CorpusPipeline.TextIndex(spark.read.parquet(s"$dir/fp"),
        spark.read.parquet(s"$dir/sh"), spark.read.parquet(s"$dir/bd")),
      batch, "doc_id", "text", cfg,
      semanticIndex = Some(CorpusPipeline.SemanticIndex(
        spark.read.parquet(s"$dir/vec"), spark.read.parquet(s"$dir/vbd"))),
      batchChunks = Some(batchChunks), semantic = Some(semCfg))
    // drop the pipeline's internal pins BEFORE resolving the plan —
    // cache substitution would otherwise bury scans inside
    // InMemoryRelation leaves the logical traversal cannot enter
    graft.Caches.releaseAll()
    val plan = indexed.queryExecution.optimizedPlan
    assert(plan.exists(scansPath("vec")),
      "stored pooled vectors must appear (cosine verification reads them)")
    assert(plan.exists(scansPath("vbd")),
      "stored band keys must appear (candidate generation reads them)")
    // the steady-state contract, strongest form: history's chunk table
    // is never read. The batch's own chunks scan the same parquet dir,
    // so "corpus side" is detected as a chunk scan reachable WITHOUT
    // crossing the batch's doc_id >= 25 filter — the indexed plan must
    // have none.
    def unfilteredChunkScan(p: LogicalPlan): Boolean =
      if (scansPath("chunks")(p)) true
      else p match {
        case f: org.apache.spark.sql.catalyst.plans.logical.Filter
          if f.condition.toString.contains(">= 25") => false
        case other => other.children.exists(unfilteredChunkScan)
      }
    assert(!unfilteredChunkScan(plan),
      "the indexed plan must not read the corpus chunk table (only the " +
        "batch's own >= 25-filtered chunks)")
    // stored vectors feed joins only — no aggregation re-derives them
    val badAggs = plan.collect {
      case a: Aggregate if a.children.exists(reachesWithoutJoin(_, "vec")) => a
    }
    assert(badAggs.isEmpty,
      s"stored-vector path must not aggregate the vector table:\n${badAggs.mkString("\n")}")
    // positive control: the DERIVED path (appendBatch with the corpus
    // chunk frame) reads the corpus chunks — proves the absence above
    // is the index's doing, not the detector's blindness
    val derived = CorpusPipeline.appendBatch(
      existing, batch, "doc_id", "text", cfg,
      existingChunks = Some(exChunks), batchChunks = Some(batchChunks),
      semantic = Some(semCfg))
    graft.Caches.releaseAll() // same un-pinning, same reason
    assert(unfilteredChunkScan(derived.queryExecution.optimizedPlan),
      "detector sanity: the derived path scans the corpus chunk table")
  }

  test("appendBatch semantic tier: an embedding paraphrase of an ingested doc drops") {
    val docs = spark.read.parquet(s"$sfDir/documents.parquet")
      .select(col("doc_id"), col("text"))
    val cfg = CorpusConfig(minTokens = 15, minQuality = 0.0)
    val semCfg = SemanticConfig(dim = 64, minCosine = 0.9)
    val existing = CorpusPipeline.clean(
      docs.filter(col("doc_id") < 25), "doc_id", "text", cfg)
    assert(existing.filter(col("doc_id") === 7L).count() === 1L,
      "doc 7 must be in the corpus for the plant to pair against")
    val realChunks = spark.read.parquet(s"$sfDir/embeddings.parquet")
      .select(expr("vec_id div 10").as("doc_id"), col("embedding"))
    // the batch doc shares NO text with doc 7 (survives both text
    // tiers) but its chunk vectors are an epsilon shift of doc 7's —
    // only the cross-side embedding pass can catch it
    val plant = spark.sql(
      """SELECT * FROM VALUES (900200L,
        |  'a completely different sentence about harbor lights and the slow ships that carry grain across the northern water routes every autumn season')
        |AS t(doc_id, text)""".stripMargin)
    val plantChunks = realChunks.filter(col("doc_id") === 7L)
      .select(lit(900200L).as("doc_id"),
        transform(col("embedding"), x => x + lit(0.002)).as("embedding"))
    val textOnly = CorpusPipeline.appendBatch(
      existing, plant, "doc_id", "text", cfg)
    assert(textOnly.select("doc_id").as[Long].collect().toSet === Set(900200L),
      "the paraphrase must clear every text tier")
    val semantic = CorpusPipeline.appendBatch(
      existing, plant, "doc_id", "text", cfg,
      existingChunks = Some(realChunks), batchChunks = Some(plantChunks),
      semantic = Some(semCfg))
    assert(semantic.isEmpty, "the embedding tier must drop the paraphrase")
    intercept[IllegalArgumentException] {
      CorpusPipeline.appendBatch(existing, plant, "doc_id", "text", cfg,
        existingChunks = Some(realChunks))
    }
    graft.Caches.releaseAll()
  }

  test("ingest containment tier: a night-2 excerpt of a night-1 doc drops; stored winnow state, never re-winnowed") {
    val docs = spark.read.parquet(s"$sfDir/documents.parquet")
      .select(col("doc_id"), col("text"))
    val cfg = CorpusConfig(minTokens = 5, minQuality = 0.0,
      maxDupBigramFrac = 1.0, containmentThreshold = Some(0.7),
      containmentMaxDocFreq = 20)
    val state = Files.createTempDirectory("contain-state").toFile.getAbsolutePath
    val n1 = CorpusPipeline.ingest(spark, state,
      docs.filter(col("doc_id") < 25), cfg = cfg)
    assert(n1("ingested") > 0L)
    // the committed index carries winnow rows for every corpus doc
    val idx = CorpusPipeline.readTextIndex(spark, state)
    assert(idx.winnow.isDefined)
    assert(idx.winnow.get.select("id").distinct().count() === n1("corpus_total"))
    // night 2: a verbatim excerpt of an ingested doc + a fresh doc.
    // The excerpt is too short a Jaccard overlap for the LSH tier but
    // containment-flags against its source through the STORED rows.
    val srcText = CorpusPipeline.readCorpus(spark, state)
      .orderBy(org.apache.spark.sql.functions.length(col("text")).desc)
      .select("text").head().getString(0)
    val fresh = "the committee of reviewers examined that archive and noted " +
      "seventeen distinct findings which have emerged with careful annotation"
    val batch2 = Seq(
      (900500L, srcText.substring(20, math.min(srcText.length, 150))),
      (900501L, fresh)).toDF("doc_id", "text")
    val n2 = CorpusPipeline.ingest(spark, state, batch2, cfg = cfg)
    val corpus = CorpusPipeline.readCorpus(spark, state)
    assert(corpus.filter(col("doc_id") === 900500L).isEmpty,
      "the excerpt must containment-drop against its stored source")
    assert(corpus.filter(col("doc_id") === 900501L).count() === 1L,
      "the fresh doc must survive")
    assert(n2("ingested") === 1L)
    // an unarmed config on the same batches keeps the excerpt: the
    // drop above was the containment tier, not some other stage
    val state2 = Files.createTempDirectory("contain-off").toFile.getAbsolutePath
    val cfgOff = cfg.copy(containmentThreshold = None)
    CorpusPipeline.ingest(spark, state2, docs.filter(col("doc_id") < 25), cfg = cfgOff)
    CorpusPipeline.ingest(spark, state2, batch2, cfg = cfgOff)
    assert(CorpusPipeline.readCorpus(spark, state2)
      .filter(col("doc_id") === 900500L).count() === 1L,
      "without the tier the excerpt sails through every symmetric stage")
    assert(CorpusPipeline.readTextIndex(spark, state2).winnow.isEmpty)
    graft.Caches.releaseAll()
  }

  test("ingest: seeds state, extends it, and re-ingesting a batch is a no-op") {
    val docs = spark.read.parquet(s"$sfDir/documents.parquet")
      .select(col("doc_id"), col("text"))
    val cfg = CorpusConfig(minTokens = 15, minQuality = 50.0)
    val state = Files.createTempDirectory("ingest-state").toFile.getAbsolutePath
    // night 1: seed from the first half
    val n1 = CorpusPipeline.ingest(spark, state, docs.filter(col("doc_id") < 25),
      cfg = cfg)
    assert(n1("ingested") > 0L && n1("ingested") === n1("corpus_total"))
    // night 2: second half plus a re-crawl of an ingested doc
    val recrawl = CorpusPipeline.readCorpus(spark, state).orderBy("doc_id").limit(1)
      .select(lit(900400L).as("doc_id"), col("text"))
    val batch2 = docs.filter(col("doc_id") >= 25).unionByName(recrawl)
    val n2 = CorpusPipeline.ingest(spark, state, batch2, cfg = cfg)
    assert(n2("ingested") > 0L)
    assert(n2("corpus_total") === n1("corpus_total") + n2("ingested"))
    assert(CorpusPipeline.readCorpus(spark, state)
      .filter(col("doc_id") === 900400L).isEmpty,
      "re-crawled copy must not enter the corpus")
    // night 3: the same batch again (fresh token, replayed CONTENT) —
    // INSERT-OR-IGNORE, nothing new
    val n3 = CorpusPipeline.ingest(spark, state, batch2, cfg = cfg)
    assert(n3("ingested") === 0L)
    assert(n3("corpus_total") === n2("corpus_total"))
    // all three stored text-index tables grew in lockstep with the corpus
    val idx = CorpusPipeline.readTextIndex(spark, state)
    assert(idx.fingerprints.count() === n3("corpus_total"))
    assert(idx.shingles.count() === n3("corpus_total"))
    assert(idx.bands.select("id").distinct().count() === n3("corpus_total"))
  }

  // a fresh night, then a re-crawl night re-offering half of it (same ids
  // and text) plus new documents: the dedup tiers' hit and miss paths
  private def twoNights = {
    val docs = spark.read.parquet(s"$sfDir/documents.parquet")
      .select(col("doc_id"), col("text"))
    val fresh = docs.filter(col("doc_id") < 160 && col("doc_id") % 2 === 0)
    val recrawl = docs.filter(col("doc_id") < 160 && col("doc_id") % 4 === 0)
      .unionByName(docs.filter(col("doc_id") < 50 && col("doc_id") % 2 === 1))
    Seq(fresh, recrawl)
  }

  test("ingest: committed state matches the pre-pinning pipeline row for row (golden_ingest)") {
    // expected files: the same two nights through the pipeline before the
    // armed skew split pinned its inputs and the nightly index read
    // supplied schemas
    val state = Files.createTempDirectory("ingest-golden").toFile.getAbsolutePath
    val results = twoNights.map(CorpusPipeline.ingest(spark, state, _))
    val commits = new java.io.File(s"$state/commits").listFiles().toSeq
      .filter(_.getName.startsWith("commit_")).sortBy(_.getName)
    def table(t: String) = {
      val batches = new java.io.File(s"$state/$t").listFiles().toSeq
        .map(_.getName).filter(_.startsWith("batch_")).sorted
      val df = spark.read.parquet(s"$state/$t/${batches.head}")
      val cols = df.columns.sorted
      ("batch" +: cols).mkString("|") +: batches.flatMap { b =>
        spark.read.parquet(s"$state/$t/$b").select(cols.map(col): _*).collect()
          .map(r => (b +: r.toSeq.map(String.valueOf)).mkString("|")).sorted
      }
    }
    val actual = Seq(
      "results.txt" -> results.map(_.toSeq.sorted.mkString("|")),
      "commits.txt" -> commits.map(f =>
        f.getName + "|" + new String(Files.readAllBytes(f.toPath), UTF_8))) ++
      Seq("corpus", "index_fp", "index_sh", "index_bd").map(t => s"$t.txt" -> table(t))
    actual.foreach { case (name, lines) =>
      val expected = new String(getClass.getResourceAsStream(
        s"/graft/corpus/golden_ingest/$name").readAllBytes(), UTF_8)
      assert(lines.mkString("", "\n", "\n") === expected, s"$name differs")
    }
  }

  test("ingest releases every block it pins, the armed skew split's included") {
    val sc = spark.sparkContext
    val state = Files.createTempDirectory("ingest-release").toFile.getAbsolutePath
    graft.Caches.releaseAll()
    val baseline = sc.getPersistentRDDs.keySet
    // the default config arms the skew split, so both nights pin its
    // frames; the peak shows blocks were held while a night ran
    val peak = new java.util.concurrent.atomic.AtomicInteger(0)
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onJobEnd(e: org.apache.spark.scheduler.SparkListenerJobEnd): Unit = {
        peak.accumulateAndGet(sc.getPersistentRDDs.keySet.diff(baseline).size, math.max)
        ()
      }
    }
    sc.addSparkListener(listener)
    try twoNights.foreach { night =>
      CorpusPipeline.ingest(spark, state, night)
      assert(sc.getPersistentRDDs.keySet === baseline)
    } finally {
      org.apache.spark.sql.graftbridge.Bridge.flushListenerBus(sc)
      sc.removeSparkListener(listener)
    }
    assert(peak.get() > 0, "ingest should have pinned frames while it ran")
  }

  test("clean plan: MinHash signatures and the (band, bucket) histogram are each planned once") {
    import org.apache.spark.sql.catalyst.expressions.aggregate.{Count, Final, Min}
    import org.apache.spark.sql.execution.aggregate.BaseAggregateExec
    val docs = spark.read.parquet(s"$sfDir/documents.parquet")
      .select(col("doc_id"), col("text"))
    val cfg = CorpusConfig()
    assert(cfg.hotBucketThreshold < Long.MaxValue, "the default arms the skew split")
    val out = CorpusPipeline.clean(docs, "doc_id", "text", cfg)
    assert(out.collect().nonEmpty)
    // submitted plans, cached ones included: AQE prunes the (empty) hot
    // branch at run time, so the final plan alone would hide its copies
    val aggs = graft.PlanFragments.nodes(out.queryExecution.executedPlan).collect {
      case a: BaseAggregateExec if a.aggregateExpressions.exists(_.mode == Final) => a
    }
    val signatures = aggs.count(
      _.aggregateExpressions.count(_.aggregateFunction.isInstanceOf[Min]) == cfg.numHashes)
    val histograms = aggs.count(a =>
      a.groupingExpressions.map(_.name) == Seq("band", "bucket") &&
        a.aggregateExpressions.exists(_.aggregateFunction.isInstanceOf[Count]))
    assert(signatures === 1, "MinHash signature aggregations in the plan")
    assert(histograms === 1, "(band, bucket) count aggregations in the plan")
    graft.Caches.releaseAll()
  }

  test("ingest crash recovery: uncommitted orphans are invisible; replay converges") {
    val docs = spark.read.parquet(s"$sfDir/documents.parquet")
      .select(col("doc_id"), col("text"))
    val cfg = CorpusConfig(minTokens = 15, minQuality = 50.0)
    val state = Files.createTempDirectory("ingest-crash").toFile.getAbsolutePath
    val n1 = CorpusPipeline.ingest(spark, state, docs.filter(col("doc_id") < 25),
      cfg = cfg)
    // simulate a night-2 crash AFTER the corpus write but BEFORE the
    // commit marker: data files exist under the next batch token's dir
    // with no marker — exactly the torn state the old append-mode
    // layout could not recover from
    docs.filter(col("doc_id") >= 25 && col("doc_id") < 30)
      .write.parquet(s"$state/corpus/batch_b0000000001")
    assert(CorpusPipeline.readCorpus(spark, state).count() === n1("corpus_total"),
      "uncommitted orphan files must be invisible to readers")
    // the replayed night 2 derives the SAME token, overwrites the
    // orphans, and commits — no duplicates, no lost survivors
    val n2 = CorpusPipeline.ingest(spark, state, docs.filter(col("doc_id") >= 25),
      cfg = cfg)
    val corpus = CorpusPipeline.readCorpus(spark, state)
    assert(corpus.count() === n1("corpus_total") + n2("ingested"))
    assert(corpus.select("doc_id").distinct().count() === corpus.count(),
      "no duplicate ids after crash replay")
    // a replay of an already-committed batchId is skipped outright
    val n3 = CorpusPipeline.ingest(spark, state, docs.filter(col("doc_id") >= 25),
      cfg = cfg, batchId = Some("b0000000001"))
    assert(n3("ingested") === 0L)
    assert(n3("corpus_total") === n2("corpus_total"))
  }

  test("corpus_total: a legacy empty commit marker falls back to the corpus scan") {
    // markers written before the count-carrying layout are empty; the
    // total must silently fall back to counting committed batch dirs
    // instead of mis-summing or failing
    val docs = spark.read.parquet(s"$sfDir/documents.parquet")
      .select(col("doc_id"), col("text"))
    val cfg = CorpusConfig(minTokens = 15, minQuality = 50.0)
    val state = Files.createTempDirectory("ingest-legacy").toFile.getAbsolutePath
    CorpusPipeline.ingest(spark, state, docs.filter(col("doc_id") < 25), cfg = cfg)
    val n2 = CorpusPipeline.ingest(spark, state, docs.filter(col("doc_id") >= 25),
      cfg = cfg)
    // blank night-1's marker, simulating pre-count state
    java.nio.file.Files.write(
      java.nio.file.Path.of(s"$state/commits/commit_b0000000000"),
      Array.emptyByteArray)
    // a replay of night-2 CONTENT under a fresh token ingests nothing;
    // its reported total must come from the fallback scan, not a
    // partial marker sum
    val n3 = CorpusPipeline.ingest(spark, state, docs.filter(col("doc_id") >= 25),
      cfg = cfg)
    assert(n3("ingested") === 0L)
    assert(n3("corpus_total") === n2("corpus_total"))
    assert(n3("corpus_total") === CorpusPipeline.readCorpus(spark, state).count())
  }

  test("compact: consolidated state equals the original; ingestion continues on it") {
    val docs = spark.read.parquet(s"$sfDir/documents.parquet")
      .select(col("doc_id"), col("text"))
    val cfg = CorpusConfig(minTokens = 15, minQuality = 50.0)
    val state = Files.createTempDirectory("compact-src").toFile.getAbsolutePath
    CorpusPipeline.ingest(spark, state, docs.filter(col("doc_id") < 25), cfg = cfg)
    val n2 = CorpusPipeline.ingest(spark, state, docs.filter(col("doc_id") >= 25),
      cfg = cfg)
    val target = Files.createTempDirectory("compact-dst").toFile.getAbsolutePath + "/c"
    val n = CorpusPipeline.compact(spark, state, target)
    assert(n === n2("corpus_total"))
    // every table survives consolidation row-for-row
    def rows(df: org.apache.spark.sql.DataFrame): Set[String] =
      df.collect().map(_.mkString("|")).toSet
    assert(rows(CorpusPipeline.readCorpus(spark, target))
      === rows(CorpusPipeline.readCorpus(spark, state)))
    val (src, dst) = (CorpusPipeline.readTextIndex(spark, state),
      CorpusPipeline.readTextIndex(spark, target))
    assert(rows(dst.fingerprints) === rows(src.fingerprints))
    assert(rows(dst.shingles.selectExpr("id", "array_join(shingles, ',')"))
      === rows(src.shingles.selectExpr("id", "array_join(shingles, ',')")))
    assert(rows(dst.bands) === rows(src.bands))
    // exactly one batch dir per table after compaction
    assert(new java.io.File(s"$target/corpus").listFiles().length === 1)
    // the nightly flow continues against the compacted dir: replayed
    // content is still a no-op; genuinely new content still ingests
    val replay = CorpusPipeline.ingest(spark, target,
      docs.filter(col("doc_id") >= 25), cfg = cfg)
    assert(replay("ingested") === 0L && replay("corpus_total") === n)
    // refuse to compact onto committed state
    assertThrows[IllegalArgumentException] {
      CorpusPipeline.compact(spark, state, target)
    }
  }

  test("ingest semantic tier: a night-2 embedding paraphrase of a night-1 doc drops") {
    val docs = spark.read.parquet(s"$sfDir/documents.parquet")
      .select(col("doc_id"), col("text"))
    val cfg = CorpusConfig(minTokens = 15, minQuality = 0.0)
    val semCfg = SemanticConfig(dim = 64, minCosine = 0.9)
    val realChunks = spark.read.parquet(s"$sfDir/embeddings.parquet")
      .select(expr("vec_id div 10").as("doc_id"), col("embedding"))
    val state = Files.createTempDirectory("ingest-semantic").toFile.getAbsolutePath
    // night 1 seeds WITH vector state
    val n1 = CorpusPipeline.ingest(spark, state, docs.filter(col("doc_id") < 25),
      cfg = cfg, batchChunks = Some(realChunks), semantic = Some(semCfg))
    assert(n1("ingested") > 0L)
    assert(CorpusPipeline.readCorpus(spark, state)
      .filter(col("doc_id") === 7L).count() === 1L,
      "doc 7 must be in the corpus for the plant to pair against")
    assert(CorpusPipeline.readSemanticIndex(spark, state).isDefined)
    // night 2: a text-unrelated paraphrase whose chunk vectors are an
    // epsilon shift of doc 7's, plus a genuinely new doc
    val batch2 = spark.sql(
      """SELECT * FROM VALUES
        |  (900800L, 'a completely different sentence about harbor lights and the slow ships that carry grain across the northern water routes every autumn season'),
        |  (900801L, 'an unrelated report on mountain weather stations records wind speed and snow depth at hourly intervals through the long winter observation season')
        |AS t(doc_id, text)""".stripMargin)
    val batch2Chunks = realChunks.filter(col("doc_id") === 7L)
      .select(lit(900800L).as("doc_id"),
        transform(col("embedding"), x => x + lit(0.002)).as("embedding"))
      .unionByName(realChunks.filter(col("doc_id") === 8L)
        .select(lit(900801L).as("doc_id"),
          transform(col("embedding"), x => x * lit(-1.0)).as("embedding")))
    val n2 = CorpusPipeline.ingest(spark, state, batch2, cfg = cfg,
      batchChunks = Some(batch2Chunks), semantic = Some(semCfg))
    assert(n2("ingested") === 1L,
      "the paraphrase drops against the STORED vector index; the new doc survives")
    val ids = CorpusPipeline.readCorpus(spark, state)
      .select("doc_id").as[Long].collect().toSet
    assert(!ids.contains(900800L) && ids.contains(900801L))
    // night 3 replays night 2's content under a fresh token — the
    // survivor's own vectors are now in the index, so nothing re-enters
    val n3 = CorpusPipeline.ingest(spark, state, batch2, cfg = cfg,
      batchChunks = Some(batch2Chunks), semantic = Some(semCfg))
    assert(n3("ingested") === 0L)
    assert(n3("corpus_total") === n2("corpus_total"))
    // compaction carries the SEMANTIC tables too (the armed branch)
    val target = Files.createTempDirectory("compact-sem").toFile.getAbsolutePath + "/c"
    assert(CorpusPipeline.compact(spark, state, target) === n3("corpus_total"))
    val (srcIdx, dstIdx) = (CorpusPipeline.readSemanticIndex(spark, state).get,
      CorpusPipeline.readSemanticIndex(spark, target).get)
    assert(dstIdx.vectors.count() === srcIdx.vectors.count())
    assert(dstIdx.bands.count() === srcIdx.bands.count())
    // the reverse downgrade is refused: a text-only call against the
    // semantic-armed state would append survivors the stored vector
    // index never sees; it must fail fast, not silently go partial
    val err = intercept[IllegalArgumentException] {
      CorpusPipeline.ingest(spark, state, batch2, cfg = cfg)
    }
    assert(err.getMessage.contains("SemanticIndex"))
  }

  test("ingestStream: micro-batches drive the idempotent corpus append") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val cfg = CorpusConfig(minTokens = 15, minQuality = 50.0)
    val real = spark.read.parquet(s"$sfDir/documents.parquet")
      .select("doc_id", "text").as[(Long, String)].collect()
    val state = Files.createTempDirectory("stream-state").toFile.getAbsolutePath
    val ckpt = Files.createTempDirectory("stream-ckpt").toFile.getAbsolutePath
    val in = MemoryStream[(Long, String)]
    val q = CorpusPipeline.ingestStream(state,
      in.toDF().toDF("doc_id", "text"), ckpt, cfg = cfg)
    try {
      // micro-batch 1 seeds the state
      in.addData(real.filter(_._1 < 25).toSeq: _*)
      q.processAllAvailable()
      val n1 = CorpusPipeline.readCorpus(spark, state).count()
      assert(n1 > 0L)
      // micro-batch 2: new docs plus a live re-crawl of an ingested one
      val copy = CorpusPipeline.readCorpus(spark, state).orderBy("doc_id")
        .limit(1).select(lit(900500L).as("doc_id"), col("text"))
        .as[(Long, String)].head()
      in.addData(real.filter(_._1 >= 25).toSeq :+ copy: _*)
      q.processAllAvailable()
      val corpus2 = CorpusPipeline.readCorpus(spark, state)
      assert(corpus2.filter(col("doc_id") === 900500L).isEmpty,
        "streamed re-crawl must drop against the live state")
      val n2 = corpus2.count()
      assert(n2 > n1)
      // micro-batch 3 replays batch 2's documents — the at-least-once
      // case (a FRESH micro-batch id, so the batch-level skip cannot
      // fire) — and the content-level idempotent append admits none
      in.addData(real.filter(_._1 >= 25).toSeq: _*)
      q.processAllAvailable()
      assert(CorpusPipeline.readCorpus(spark, state).count() === n2)
    } finally q.stop()
  }

  test("ingestStream semantic tier: the chunk provider arms embedding dedup per micro-batch") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val cfg = CorpusConfig(minTokens = 15, minQuality = 0.0)
    val semCfg = SemanticConfig(dim = 64, minCosine = 0.9)
    val real = spark.read.parquet(s"$sfDir/documents.parquet")
      .select("doc_id", "text").as[(Long, String)].collect()
    val realChunks = spark.read.parquet(s"$sfDir/embeddings.parquet")
      .select(expr("vec_id div 10").as("doc_id"), col("embedding"))
    // side table the provider serves from: natural chunks, plus the
    // paraphrase plant (doc 7's vectors, epsilon-shifted) and a
    // genuinely-new doc's (doc 8's, sign-flipped)
    val chunkTable = realChunks
      .unionByName(realChunks.filter(col("doc_id") === 7L)
        .select(lit(900900L).as("doc_id"),
          transform(col("embedding"), x => x + lit(0.002)).as("embedding")))
      .unionByName(realChunks.filter(col("doc_id") === 8L)
        .select(lit(900901L).as("doc_id"),
          transform(col("embedding"), x => x * lit(-1.0)).as("embedding")))
    val provider = (b: org.apache.spark.sql.DataFrame) =>
      chunkTable.join(b.select("doc_id"), Seq("doc_id"), "left_semi")
    val state = Files.createTempDirectory("stream-sem-state").toFile.getAbsolutePath
    val ckpt = Files.createTempDirectory("stream-sem-ckpt").toFile.getAbsolutePath
    val in = MemoryStream[(Long, String)]
    val q = CorpusPipeline.ingestStream(state,
      in.toDF().toDF("doc_id", "text"), ckpt, cfg = cfg,
      chunksForBatch = Some(provider), semantic = Some(semCfg))
    try {
      // micro-batch 1 seeds (semantic-armed): docs < 25 incl. doc 7
      in.addData(real.filter(_._1 < 25).toSeq: _*)
      q.processAllAvailable()
      assert(CorpusPipeline.readSemanticIndex(spark, state).isDefined,
        "seeding through the stream must create vector state")
      // micro-batch 2: a text-unrelated paraphrase of doc 7 plus a
      // genuinely new doc — only the vs-corpus embedding arm separates
      // them
      in.addData(
        (900900L, "a completely different sentence about harbor lights and the slow ships that carry grain across the northern water routes every autumn season"),
        (900901L, "an unrelated report on mountain weather stations records wind speed and snow depth at hourly intervals through the long winter observation season"))
      q.processAllAvailable()
      val ids = CorpusPipeline.readCorpus(spark, state)
        .select("doc_id").as[Long].collect().toSet
      assert(!ids.contains(900900L),
        "the streamed paraphrase must drop against the stored vector index")
      assert(ids.contains(900901L), "the genuinely new doc must survive")
    } finally q.stop()
  }

  test("run: shards on disk, splits complete, counts match the files") {
    val out = Files.createTempDirectory("corpus").toFile.getAbsolutePath
    val counts = CorpusPipeline.run(spark, sfDir, out,
      CorpusConfig(minTokens = 15, minQuality = 50.0, shards = 4))
    val back = spark.read.parquet(out)
    assert(back.count() === counts.values.sum)
    assert(counts.values.sum > 100L, "pipeline should keep a real fraction")
    val splits = back.select("split").distinct().as[String].collect().toSet
    assert(splits.subsetOf(Set("train", "valid", "test")) && splits.contains("train"))
    // deterministic: a second run writes identical membership
    val out2 = Files.createTempDirectory("corpus").toFile.getAbsolutePath
    CorpusPipeline.run(spark, sfDir, out2,
      CorpusConfig(minTokens = 15, minQuality = 50.0, shards = 4))
    val again = spark.read.parquet(out2)
    assert(back.select("doc_id", "split", "shard")
      .exceptAll(again.select("doc_id", "split", "shard")).isEmpty)
  }
}
