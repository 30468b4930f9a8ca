package graft.functions

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.TestSpark

class SimilarityFunctionsSpec extends AnyFunSuite {
  private val spark = TestSpark.spark
  import spark.implicits._

  private def vec(xs: Double*) = xs.toArray

  // 4 corpus vectors: 0 and 1 nearly parallel, 2 orthogonal, 3 opposite
  private val corpus = Seq(
    (0L, vec(1.0, 0.0)),
    (1L, vec(0.9, 0.1)),
    (2L, vec(0.0, 1.0)),
    (3L, vec(-1.0, 0.0))
  ).toDF("vec_id", "embedding")

  test("dot, norm, cosine on known vectors") {
    val r = Seq((vec(1.0, 2.0), vec(3.0, 4.0))).toDF("a", "b")
      .select(
        SimilarityFunctions.dot(col("a"), col("b")).as("d"),
        SimilarityFunctions.norm(col("a")).as("n"),
        SimilarityFunctions.cosine(col("a"), col("a")).as("self"))
      .head()
    assert(r.getAs[Double]("d") === 11.0)
    assert(math.abs(r.getAs[Double]("n") - math.sqrt(5.0)) < 1e-12)
    assert(math.abs(r.getAs[Double]("self") - 1.0) < 1e-12)
  }

  test("cosine of a zero vector is null, not NaN") {
    val r = Seq((vec(0.0, 0.0), vec(1.0, 0.0))).toDF("a", "b")
      .select(SimilarityFunctions.cosine(col("a"), col("b")).as("c")).head()
    assert(r.isNullAt(0))
  }

  test("bruteForceTopK returns exact neighbors in rank order, excluding self") {
    val q = corpus.filter(col("vec_id") === 0L)
      .select(col("vec_id").as("query_id"), col("embedding").as("query_vec"))
    val out = SimilarityFunctions.bruteForceTopK(corpus, q, 3)
      .orderBy("rank")
      .select("vec_id", "rank").as[(Long, Int)].collect()
    assert(out.toSeq === Seq((1L, 1), (2L, 2), (3L, 3)))
  }

  test("bruteForceTopK respects k and covers every query") {
    val q = corpus.select(col("vec_id").as("query_id"), col("embedding").as("query_vec"))
    val out = SimilarityFunctions.bruteForceTopK(corpus, q, 2)
    assert(out.count() === 8L) // 4 queries × k=2
    assert(out.groupBy("query_id").count().filter(col("count") =!= 2).count() === 0L)
  }

  test("two-phase top-k never shuffles the full scored set") {
    val q = corpus.select(col("vec_id").as("query_id"), col("embedding").as("query_vec"))
    val plan = SimilarityFunctions.bruteForceTopK(corpus, q, 2)
      .queryExecution.executedPlan.toString
    // the only exchange is AFTER the mapPartitions heap (tiny survivors)
    assert(plan.contains("SerializeFromObject"), "heap phase missing from plan")
  }

  test("hyperplaneSignature: identical vectors share a signature, deterministic across calls") {
    val sigs = corpus.select(col("vec_id"),
      SimilarityFunctions.hyperplaneSignature(col("embedding"), dim = 2, nBits = 8).as("sig"))
      .as[(Long, Long)].collect().toMap
    val sigs2 = corpus.select(col("vec_id"),
      SimilarityFunctions.hyperplaneSignature(col("embedding"), dim = 2, nBits = 8).as("sig"))
      .as[(Long, Long)].collect().toMap
    assert(sigs === sigs2)
    // opposite vectors must differ in every hyperplane that is not exactly on the boundary
    assert(sigs(0L) !== sigs(3L))
  }

  test("lshNeighborPairs verifies true cosine on candidates only") {
    val pairs = SimilarityFunctions.lshNeighborPairs(corpus, dim = 2, nBits = 4,
      minCosine = 0.9)
      .select("id_a", "id_b").as[(Long, Long)].collect().toSet
    // candidates require identical 4-bit signatures; any surviving pair must
    // genuinely have cosine >= 0.9 — only (0,1) qualifies semantically
    assert(pairs.subsetOf(Set((0L, 1L))))
  }

  test("ivfTopK probes only nearby cells yet finds the true neighbor") {
    val centroids = Seq(
      (0L, vec(1.0, 0.0)), (1L, vec(0.0, 1.0)), (2L, vec(-1.0, 0.0))
    ).toDF("centroid_id", "centroid_vec")
    val q = corpus.filter(col("vec_id") === 0L)
      .select(col("vec_id").as("query_id"), col("embedding").as("query_vec"))
    val out = SimilarityFunctions.ivfTopK(corpus, q, centroids, k = 1, nProbe = 1)
      .select("vec_id").as[Long].collect()
    assert(out.toSeq === Seq(1L)) // nearest neighbor lives in the probed cell
  }

  private def seededUnitVec(rng: scala.util.Random, dim: Int): Array[Double] = {
    val v = Array.fill(dim)(rng.nextGaussian())
    val n = math.sqrt(v.map(x => x * x).sum)
    v.map(_ / n)
  }

  test("lshNeighborPairs rejects nBits outside the 64-bit signature word") {
    intercept[IllegalArgumentException] {
      SimilarityFunctions.lshNeighborPairs(corpus, dim = 2, nBits = 256, bands = 8)
    }
  }

  test("lshNeighborPairs: the armed skew split returns the plain pair set on a dense cluster") {
    val rng = new scala.util.Random(11L)
    // 60 copies of one vector fill one (band, key) bucket per band, far
    // past the armed threshold; the random tail stays in cold buckets
    val center = seededUnitVec(rng, 32)
    val corpus = ((0L until 60L).map(i => (i, center)) ++
      (1000L until 1100L).map(i => (i, seededUnitVec(rng, 32))))
      .toDF("vec_id", "embedding")
    def pairs(hotBucketThreshold: Long) = SimilarityFunctions.lshNeighborPairs(
        corpus, dim = 32, nBits = 16, bands = 4, minCosine = 0.3,
        hotBucketThreshold = hotBucketThreshold, salts = 4)
      .as[(Long, Long, Double)].collect().toSeq.sorted
    val plain = pairs(Long.MaxValue)
    assert(plain.count { case (_, b, _) => b < 60L } === 60 * 59 / 2,
      "every cluster member pairs with every other")
    assert(plain.exists { case (a, _, _) => a >= 1000L }, "the cold tail pairs too")
    assert(pairs(8L) === plain)
    graft.Caches.releaseAll()
  }

  test("banded LSH recovers planted near-duplicates with recall >= 0.9") {
    val rng = new scala.util.Random(7L)
    val base = (0L until 200L).map(i => (i, seededUnitVec(rng, 64)))
    // plant a near-duplicate of every vector: +0.05 elementwise puts the
    // planted cosine around 0.92-0.95 on unit vectors
    val planted = base.map { case (i, v) => (i + 100000L, v.map(_ + 0.05)) }
    val corpus = (base ++ planted).toDF("vec_id", "embedding")
    val found = SimilarityFunctions.lshNeighborPairs(corpus, dim = 64,
      nBits = 16, bands = 4, minCosine = 0.8)
      .select("id_a", "id_b").as[(Long, Long)].collect().toSet
    // ground truth: planted pairs whose true rounded cosine clears 0.8
    val truth = base.zip(planted).collect {
      case ((i, v), (j, v2))
        if BigDecimal(SimilarityFunctions.cosineLocal(v, v2))
          .setScale(6, BigDecimal.RoundingMode.HALF_UP) >= 0.8 => (i, j)
    }.toSet
    assert(truth.size > 150, s"test setup: expected many planted pairs, got ${truth.size}")
    val recall = found.intersect(truth).size.toDouble / truth.size
    assert(recall >= 0.9, s"banded LSH recall $recall < 0.9 (found ${found.size})")
    // precision: everything returned genuinely clears the threshold
    val byId = (base ++ planted).toMap
    found.foreach { case (a, b) =>
      assert(SimilarityFunctions.cosineLocal(byId(a), byId(b)) >= 0.7999995)
    }
  }

  test("ivfTopK assignment is exact at 1000 centroids (broadcast path)") {
    val rng = new scala.util.Random(11L)
    val cents = (0L until 1000L).map(i => (i, seededUnitVec(rng, 64)))
    // two perturbed copies per centroid; cosine(copy, own centroid) ~0.999
    // while cosine to any OTHER centroid stays < 0.7 at 64-dim — so the
    // true cell of ids i and i+10000 is centroid i by construction
    val corpus = cents.flatMap { case (i, v) =>
      Seq((i, v.map(_ + 0.01)), (i + 10000L, v.map(_ + 0.02)))
    }.toDF("vec_id", "embedding")
    val centroids = cents.toDF("centroid_id", "centroid_vec")
    val q = corpus.filter(col("vec_id") < 8L)
      .select(col("vec_id").as("query_id"), col("embedding").as("query_vec"))
    val out = SimilarityFunctions.ivfTopK(corpus, q, centroids, k = 1, nProbe = 1)
      .select("query_id", "vec_id").as[(Long, Long)].collect().toMap
    // with nProbe=1 only the query's own cell is searched; the top hit must
    // be its planted twin — wrong assignment of either side would miss it
    assert(out.size === 8)
    out.foreach { case (qid, hit) => assert(hit === qid + 10000L,
      s"query $qid expected twin ${qid + 10000L}, got $hit") }
  }

  test("int8 quantization: bounded round-trip error, cosine preserved, null safe") {
    val emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet").limit(60)
    val rt = emb.select(
      col("embedding").cast("array<double>").as("v"),
      SimilarityFunctions.quantizeInt8(col("embedding")).as("qv"))
      .select(col("v"),
        SimilarityFunctions.dequantizeInt8(col("qv")).as("d"),
        col("qv.scale").cast("double").as("scale"))
      .collect()
    assert(rt.length === 60)
    rt.foreach { r =>
      val v = r.getSeq[Double](0); val d = r.getSeq[Double](1); val s = r.getDouble(2)
      assert(v.length === d.length)
      v.zip(d).foreach { case (x, y) =>
        assert(math.abs(x - y) <= s / 2 + 1e-9, s"error ${math.abs(x - y)} > scale/2 $s")
      }
    }
    // cosine over raw int8 codes tracks the full-precision cosine
    val pairs = emb.limit(20).select(col("vec_id"), col("embedding"))
      .crossJoin(emb.limit(20).select(col("vec_id").as("id2"), col("embedding").as("e2")))
      .filter(col("vec_id") < col("id2"))
    val drift = pairs.select(
      abs(SimilarityFunctions.cosine(col("embedding"), col("e2")) -
        SimilarityFunctions.cosine(
          SimilarityFunctions.quantizeInt8(col("embedding")).getField("q"),
          SimilarityFunctions.quantizeInt8(col("e2")).getField("q"))).as("d"))
      .agg(max(col("d"))).head().getDouble(0)
    assert(drift < 0.02, s"quantized cosine drifted $drift")
    // null vector quantizes to null
    val nr = spark.sql("SELECT CAST(NULL AS ARRAY<DOUBLE>) AS v")
      .select(SimilarityFunctions.quantizeInt8(col("v"))).head()
    assert(nr.isNullAt(0))
  }

  test("quantized KNN keeps high recall against the exact full-precision top-k") {
    val emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    val q = emb.filter(col("vec_id") < 8L)
      .select(col("vec_id").as("query_id"), col("embedding").as("query_vec"))
    val exact = SimilarityFunctions.bruteForceTopK(emb, q, 5)
      .select("query_id", "vec_id").as[(Long, Long)].collect().groupBy(_._1)
    val qcorpus = emb.select(col("vec_id"),
      SimilarityFunctions.quantizeInt8(col("embedding")).getField("q").as("embedding"))
    val qq = qcorpus.filter(col("vec_id") < 8L)
      .select(col("vec_id").as("query_id"), col("embedding").as("query_vec"))
    val approx = SimilarityFunctions.bruteForceTopK(qcorpus, qq, 5)
      .select("query_id", "vec_id").as[(Long, Long)].collect().groupBy(_._1)
    val recalls = exact.map { case (qid, hits) =>
      val e = hits.map(_._2).toSet
      val a = approx.getOrElse(qid, Array.empty[(Long, Long)]).map(_._2).toSet
      e.intersect(a).size.toDouble / e.size
    }
    val mean = recalls.sum / recalls.size
    assert(mean >= 0.9, s"mean recall@5 $mean < 0.9 (${recalls.toSeq.sorted})")
  }

  test("hierarchical IVF with full coarse probe equals flat ivfTopK exactly") {
    val rng = new scala.util.Random(17L)
    val cents = (0L until 300L).map(i => (i, seededUnitVec(rng, 32)))
    val corpus = cents.flatMap { case (i, v) =>
      Seq((i, v.map(_ + 0.01)), (i + 10000L, v.map(_ + 0.02)))
    }.toDF("vec_id", "embedding")
    val centroids = cents.toDF("centroid_id", "centroid_vec")
    val q = corpus.filter(col("vec_id") < 6L)
      .select(col("vec_id").as("query_id"), col("embedding").as("query_vec"))
    // wProbe = coarseCells makes every centroid a candidate for every
    // row, so assignment + probes + tie semantics must collapse to flat
    val flat = SimilarityFunctions.ivfTopK(corpus, q, centroids, k = 3, nProbe = 2)
      .select("query_id", "vec_id", "cosine", "rank")
      .as[(Long, Long, Double, Int)].collect().sorted.toSeq
    val hier = SimilarityFunctions.ivfTopKHierarchical(corpus, q, centroids,
      k = 3, nProbe = 2, coarseCells = 16, wProbe = 16)
      .select("query_id", "vec_id", "cosine", "rank")
      .as[(Long, Long, Double, Int)].collect().sorted.toSeq
    assert(hier === flat)
  }

  test("hierarchical IVF narrow probe recovers planted structure at O(sqrt k) cost") {
    val rng = new scala.util.Random(19L)
    // genuinely hierarchical centroids: 24 super-directions, 40 perturbed
    // sub-centroids each (960 total) — the regime the two-level index is
    // for; a flat-random centroid cloud has no coarse structure to find
    val superDirs = Seq.fill(24)(seededUnitVec(rng, 64))
    val cents = superDirs.zipWithIndex.flatMap { case (d, s) =>
      (0 until 40).map { j =>
        (s.toLong * 100L + j, d.map(_ + rng.nextGaussian() * 0.05))
      }
    }
    // two perturbed copies per centroid so a query (the first copy) has a
    // non-self cell-mate: its twin (the second copy) in the same cell
    val corpus = cents.flatMap { case (i, v) =>
      Seq((i + 100000L, v.map(_ + 0.01)), (i + 200000L, v.map(_ + 0.02)))
    }.toDF("vec_id", "embedding")
    val centroids = cents.toDF("centroid_id", "centroid_vec")
    val q = corpus.filter(col("vec_id") % 100L === 0L && col("vec_id") < 200000L)
      .limit(12)
      .select(col("vec_id").as("query_id"), col("embedding").as("query_vec"))
    // wProbe=3 of 24 coarse groups: each row scores 24 means + ~120
    // member centroids instead of all 960; the planted twin must still be
    // found because the query's true group dominates the coarse ranking
    val out = SimilarityFunctions.ivfTopKHierarchical(corpus, q, centroids,
      k = 1, nProbe = 1, coarseCells = 24, wProbe = 3)
      .select("query_id", "vec_id").as[(Long, Long)].collect()
    assert(out.length === 12)
    val sameCluster = out.count { case (qid, hit) =>
      (qid - 100000L) / 100L == (hit - 200000L) / 100L
    }
    assert(sameCluster >= 11, s"only $sameCluster/12 hits stayed in-cluster")
  }

  test("coarse index build is deterministic and covers every centroid once") {
    val rng = new scala.util.Random(23L)
    val cents = (0L until 200L).map(i => (i, seededUnitVec(rng, 16))).toArray
    val a = SimilarityFunctions.buildCoarseIndex(cents, 14)
    val b = SimilarityFunctions.buildCoarseIndex(cents, 14)
    assert(a.memberIds.map(_.toSeq).toSeq === b.memberIds.map(_.toSeq).toSeq)
    // partition property: every centroid in exactly one group
    val all = a.memberIds.flatten.sorted.toSeq
    assert(all === (0L until 200L).toSeq)
    // candidates with full width return every centroid, id-ascending
    assert(a.candidates(cents(0)._2, 14).map(_._1).toSeq === (0L until 200L).toSeq)
  }

  test("trainCentroids + ivfTopK: k-means centers separate planted clusters") {
    val rng = new scala.util.Random(13L)
    // 3 well-separated cluster directions, 40 members each
    val dirs = Seq.fill(3)(seededUnitVec(rng, 32))
    val members = dirs.zipWithIndex.flatMap { case (d, c) =>
      (0 until 40).map { j =>
        (c.toLong * 1000L + j, d.map(_ + rng.nextGaussian() * 0.02))
      }
    }
    val corpus = members.toDF("vec_id", "embedding")
    val centroids = SimilarityFunctions.trainCentroids(corpus, k = 3, seed = 5L)
    assert(centroids.count() === 3L)
    assert(centroids.columns.toSeq === Seq("centroid_id", "centroid_vec"))
    // with nProbe=1, a query must find a same-cluster neighbor as top-1:
    // k-means must have put each planted cluster in its own cell
    val q = corpus.filter(col("vec_id").isin(0L, 1000L, 2000L))
      .select(col("vec_id").as("query_id"), col("embedding").as("query_vec"))
    val top = SimilarityFunctions.ivfTopK(corpus, q, centroids, k = 1, nProbe = 1)
      .select("query_id", "vec_id").as[(Long, Long)].collect()
    assert(top.length === 3)
    top.foreach { case (qid, hit) =>
      assert(hit / 1000L === qid / 1000L, s"query $qid got cross-cluster hit $hit")
    }
  }

  test("pqEncode: deterministic, partitioning-proof, codes in range, nulls drop") {
    val emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
      .select(col("vec_id"), col("embedding"))
    // data-derived codebooks (the s7 fixed-centroid convention): code c
    // of subspace s = dims [8s, 8s+8) of embedding c
    val cb = emb.filter(col("vec_id") < 4)
      .select(col("vec_id").cast("int").as("code"),
        col("embedding").cast("array<double>").as("v"))
      .select(explode(sequence(lit(0), lit(7))).as("subspace"), col("code"), col("v"))
      .select(col("subspace"), col("code"),
        slice(col("v"), col("subspace") * 8 + 1, lit(8)).as("centroid_vec"))
    val enc = SimilarityFunctions.pqEncode(emb, cb, dim = 64, m = 8, codes = 4)
    assert(enc.count() === emb.count())
    val bad = enc.select(explode(col("codes")).as("c"))
      .filter(col("c") < 0 || col("c") >= 4).count()
    assert(bad === 0L, "every code must land in [0, codes)")
    val a = enc.select("vec_id", "codes").as[(Long, Seq[Int])].collect().toMap
    val b = SimilarityFunctions.pqEncode(emb.repartition(7), cb, 64, 8, 4)
      .select("vec_id", "codes").as[(Long, Seq[Int])].collect().toMap
    assert(a === b, "encoding depends only on values, never on partitioning")
    // a wrong-dimension vector drops instead of corrupting the encoding
    val withBad = emb.unionByName(
      spark.sql("SELECT 900999L AS vec_id, array(CAST(1.0 AS FLOAT)) AS embedding"))
    assert(SimilarityFunctions.pqEncode(withBad, cb, 64, 8, 4)
      .filter(col("vec_id") === 900999L).isEmpty)
  }

  test("trainPqCodebooks + pqTopK: ADC recall holds against the exact scan") {
    val emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
      .select(col("vec_id"), col("embedding"))
    val cbs = SimilarityFunctions.trainPqCodebooks(emb, dim = 64, m = 8, codes = 16)
    assert(cbs.count() === 8L * 16L)
    val enc = SimilarityFunctions.pqEncode(emb, cbs, 64, 8, 16)
    val q = emb.filter(col("vec_id") < 8)
      .select(col("vec_id").as("query_id"), col("embedding").as("query_vec"))
    val exact = SimilarityFunctions.bruteForceTopK(emb, q, 10)
      .select("query_id", "vec_id")
    val adc = SimilarityFunctions.pqTopK(enc, q, cbs, 64, 8, 16, k = 10)
    // contract parity with bruteForceTopK: per-query k rows, ranks
    // 1..k, no self-matches
    assert(adc.filter(col("query_id") === col("vec_id")).isEmpty)
    assert(adc.groupBy("query_id").count().filter(col("count") =!= 10).isEmpty)
    val hits = exact.join(adc.select("query_id", "vec_id"),
      Seq("query_id", "vec_id")).count()
    val recall = hits.toDouble / (8 * 10)
    // 8 subspaces × 16 codes on 64-dim synthetic vectors: a weak
    // quantizer by design (the oracle-friendly small-codebook regime),
    // but ADC must still beat chance (random top-10 of ~1000 ≈ 0.01)
    // by an order of magnitude. The bound is loose on purpose: the
    // synthetic embeddings are near-uniform (no cluster structure for
    // PQ to exploit — driver regenerations have measured 0.26-0.45
    // here), and exactness of the head is pqTopKRerank's job, pinned
    // by its own spec.
    assert(recall >= 0.15, s"ADC recall@10 too low: $recall")
  }

  test("pqTopKRerank: exact head on ADC candidates, recall >= plain ADC") {
    val emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
      .select(col("vec_id"), col("embedding"))
    val cbs = SimilarityFunctions.trainPqCodebooks(emb, dim = 64, m = 8, codes = 16)
    val enc = SimilarityFunctions.pqEncode(emb, cbs, 64, 8, 16)
    val q = emb.filter(col("vec_id") < 8)
      .select(col("vec_id").as("query_id"), col("embedding").as("query_vec"))
    val exact = SimilarityFunctions.bruteForceTopK(emb, q, 10)
    val adc = SimilarityFunctions.pqTopK(enc, q, cbs, 64, 8, 16, k = 10)
    val rer = SimilarityFunctions.pqTopKRerank(enc, emb, q, cbs, 64, 8, 16,
      k = 10, rerank = 50)
    // contract parity: per-query k rows, ranks 1..k, no self-matches
    assert(rer.filter(col("query_id") === col("vec_id")).isEmpty)
    assert(rer.groupBy("query_id").count().filter(col("count") =!= 10).isEmpty)
    // every survivor came from the query's OWN ADC candidate list
    val cand = SimilarityFunctions.pqTopK(enc, q, cbs, 64, 8, 16, k = 50)
      .select("query_id", "vec_id")
    assert(rer.select("query_id", "vec_id").exceptAll(cand).isEmpty,
      "re-ranked rows must be a subset of the candidate set")
    // re-ranked scores are the EXACT cosines: any (query, vec) pair the
    // exact scan also surfaces must carry an identical score
    val joined = rer.select(col("query_id"), col("vec_id"), col("cosine").as("rc"))
      .join(exact.select(col("query_id"), col("vec_id"), col("cosine").as("ec")),
        Seq("query_id", "vec_id"))
    assert(joined.filter(col("rc") =!= col("ec")).isEmpty,
      "re-rank must score candidates with the exact cosine")
    // widening the candidate list then rescoring exactly can only help:
    // recall@10 of the re-ranked list dominates the plain ADC list
    val ex = exact.select("query_id", "vec_id")
    val adcHits = ex.join(adc.select("query_id", "vec_id"),
      Seq("query_id", "vec_id")).count()
    val rerHits = ex.join(rer.select("query_id", "vec_id"),
      Seq("query_id", "vec_id")).count()
    assert(rerHits >= adcHits,
      s"rerank recall regressed: $rerHits < $adcHits")
  }

  test("ivfPqTopKRerank: exact head over probed-cell ADC candidates") {
    val emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
      .select(col("vec_id"), col("embedding"))
    val cb = emb.filter(col("vec_id") < 4)
      .select(col("vec_id").cast("int").as("code"),
        col("embedding").cast("array<double>").as("v"))
      .select(explode(sequence(lit(0), lit(7))).as("subspace"), col("code"), col("v"))
      .select(col("subspace"), col("code"),
        slice(col("v"), col("subspace") * 8 + 1, lit(8)).as("centroid_vec"))
    val cents = emb.filter(col("vec_id") < 4)
      .select(col("vec_id").as("centroid_id"),
        col("embedding").cast("array<double>").as("centroid_vec"))
    val idx = SimilarityFunctions.ivfPqIndex(emb, cents, cb, 64, 8, 4)
    val q = emb.filter(col("vec_id") < 8)
      .select(col("vec_id").as("query_id"), col("embedding").as("query_vec"))
    val rer = SimilarityFunctions.ivfPqTopKRerank(idx, emb, q, cents, cb,
      dim = 64, m = 8, codes = 4, k = 5, rerank = 20, nProbe = 2)
    // contract parity: ≤ k rows/query, ranks from 1, no self-matches
    assert(rer.filter(col("query_id") === col("vec_id")).isEmpty)
    assert(rer.groupBy("query_id").count().filter(col("count") > 5).isEmpty)
    // survivors ⊆ the query's own probed-cell ADC candidate list
    val cand = SimilarityFunctions.ivfPqTopK(idx, q, cents, cb, 64, 8, 4,
      k = 20, nProbe = 2).select("query_id", "vec_id")
    assert(rer.select("query_id", "vec_id").exceptAll(cand).isEmpty)
    // scores are the EXACT cosines wherever the exact scan surfaces
    // the same pair
    val exact = SimilarityFunctions.bruteForceTopK(emb, q, 10)
    val joined = rer.select(col("query_id"), col("vec_id"), col("cosine").as("rc"))
      .join(exact.select(col("query_id"), col("vec_id"), col("cosine").as("ec")),
        Seq("query_id", "vec_id"))
    assert(joined.filter(col("rc") =!= col("ec")).isEmpty)
    // rescoring a widened candidate set exactly dominates the plain
    // probed ADC head at the same k
    val adc = SimilarityFunctions.ivfPqTopK(idx, q, cents, cb, 64, 8, 4,
      k = 5, nProbe = 2)
    val ex = exact.filter(col("rank") <= 5).select("query_id", "vec_id")
    val adcHits = ex.join(adc.select("query_id", "vec_id"),
      Seq("query_id", "vec_id")).count()
    val rerHits = ex.join(rer.select("query_id", "vec_id"),
      Seq("query_id", "vec_id")).count()
    assert(rerHits >= adcHits, s"rerank recall regressed: $rerHits < $adcHits")
  }

  test("ivfPqIndex/ivfPqTopK: index composes assignment+encoding; full probe equals pure ADC") {
    val emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
      .select(col("vec_id"), col("embedding"))
    val cb = emb.filter(col("vec_id") < 4)
      .select(col("vec_id").cast("int").as("code"),
        col("embedding").cast("array<double>").as("v"))
      .select(explode(sequence(lit(0), lit(7))).as("subspace"), col("code"), col("v"))
      .select(col("subspace"), col("code"),
        slice(col("v"), col("subspace") * 8 + 1, lit(8)).as("centroid_vec"))
    val cents = emb.filter(col("vec_id") < 4)
      .select(col("vec_id").as("centroid_id"),
        col("embedding").cast("array<double>").as("centroid_vec"))
    val idx = SimilarityFunctions.ivfPqIndex(emb, cents, cb, 64, 8, 4)
    assert(idx.count() === emb.count())
    // the index's codes are EXACTLY pqEncode's (one pass, two outputs)
    val viaPq = SimilarityFunctions.pqEncode(emb, cb, 64, 8, 4)
      .select("vec_id", "codes").as[(Long, Seq[Int])].collect().toMap
    val viaIdx = idx.select("vec_id", "codes").as[(Long, Seq[Int])].collect().toMap
    assert(viaIdx === viaPq)
    // partitioning-proof cells
    val cellsA = idx.select("vec_id", "cell").as[(Long, Long)].collect().toMap
    val cellsB = SimilarityFunctions.ivfPqIndex(emb.repartition(7), cents, cb, 64, 8, 4)
      .select("vec_id", "cell").as[(Long, Long)].collect().toMap
    assert(cellsA === cellsB)
    val q = emb.filter(col("vec_id") < 8)
      .select(col("vec_id").as("query_id"), col("embedding").as("query_vec"))
    // probing EVERY cell degenerates to the pure ADC scan — same rows
    val full = SimilarityFunctions.ivfPqTopK(idx, q, cents, cb, 64, 8, 4,
        k = 5, nProbe = 4)
      .as[(Long, Long, Double, Int)].collect().toSet
    val adc = SimilarityFunctions.pqTopK(
        SimilarityFunctions.pqEncode(emb, cb, 64, 8, 4), q, cb, 64, 8, 4, k = 5)
      .as[(Long, Long, Double, Int)].collect().toSet
    assert(full === adc, "full probe must equal the unpruned ADC scan")
    // narrow probe returns only rows from probed cells, ≤ k per query
    val narrow = SimilarityFunctions.ivfPqTopK(idx, q, cents, cb, 64, 8, 4,
      k = 5, nProbe = 1)
    assert(narrow.groupBy("query_id").count().filter(col("count") > 5).isEmpty)
    assert(narrow.filter(col("query_id") === col("vec_id")).isEmpty)
  }

  test("pqTopK/ivfPqTopK: executor-side LUTs hold at a full-corpus query batch") {
    // EVERY corpus vector as a query (500 at sf0.001) — the offline
    // re-embedding / all-pairs-eval regime the driver-side LUT path
    // would have serialized. Only raw vectors cross the driver now;
    // LUTs build per executor (ExecutorMemo), so this is the spec that
    // pins the large-batch behavior.
    val emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
      .select(col("vec_id"), col("embedding"))
    val n = emb.count()
    val cb = emb.filter(col("vec_id") < 4)
      .select(col("vec_id").cast("int").as("code"),
        col("embedding").cast("array<double>").as("v"))
      .select(explode(sequence(lit(0), lit(7))).as("subspace"), col("code"), col("v"))
      .select(col("subspace"), col("code"),
        slice(col("v"), col("subspace") * 8 + 1, lit(8)).as("centroid_vec"))
    val enc = SimilarityFunctions.pqEncode(emb, cb, 64, 8, 4)
    val q = emb.select(col("vec_id").as("query_id"), col("embedding").as("query_vec"))
    val adc = SimilarityFunctions.pqTopK(enc, q, cb, 64, 8, 4, k = 3)
    // contract parity at batch scale: k rows per query, every query
    // covered, no self-matches
    assert(adc.count() === n * 3)
    assert(adc.select("query_id").distinct().count() === n)
    assert(adc.filter(col("query_id") === col("vec_id")).isEmpty)
    // determinism: a second invocation (new broadcast, fresh memo key)
    // reproduces the identical result set
    val again = SimilarityFunctions.pqTopK(enc, q, cb, 64, 8, 4, k = 3)
      .as[(Long, Long, Double, Int)].collect().toSet
    assert(adc.as[(Long, Long, Double, Int)].collect().toSet === again)
    // the IVF-PQ composition at the same batch scale
    val cents = emb.filter(col("vec_id") < 4)
      .select(col("vec_id").as("centroid_id"),
        col("embedding").cast("array<double>").as("centroid_vec"))
    val idx = SimilarityFunctions.ivfPqIndex(emb, cents, cb, 64, 8, 4)
    val ivf = SimilarityFunctions.ivfPqTopK(idx, q, cents, cb, 64, 8, 4,
      k = 3, nProbe = 4)
    // full probe at full batch = the unpruned ADC scan, row for row
    assert(ivf.as[(Long, Long, Double, Int)].collect().toSet ===
      adc.as[(Long, Long, Double, Int)].collect().toSet)
  }

  test("ExecutorMemo: builds once per key, LRU-bounded, distinct keys isolated") {
    import graft.internal.ExecutorMemo
    val builds = new java.util.concurrent.atomic.AtomicInteger(0)
    val key = s"spec:${900000L + scala.util.Random.nextInt(100000)}"
    def build(): java.lang.Integer = { builds.incrementAndGet(); Integer.valueOf(42) }
    // concurrent first access: exactly one build, everyone sees it
    val pool = java.util.concurrent.Executors.newFixedThreadPool(8)
    try {
      val futures = (1 to 16).map { _ =>
        pool.submit(new java.util.concurrent.Callable[Integer] {
          def call(): Integer = ExecutorMemo.getOrBuild(key)(build())
        })
      }
      assert(futures.map(_.get()).forall(_ == 42))
      assert(builds.get() === 1, "concurrent getOrBuild must build exactly once")
    } finally pool.shutdown()
    // a slow build on one key must NOT block another key's build
    val gate = new java.util.concurrent.CountDownLatch(1)
    val slowStarted = new java.util.concurrent.CountDownLatch(1)
    val pool2 = java.util.concurrent.Executors.newFixedThreadPool(2)
    try {
      pool2.submit(new Runnable { def run(): Unit =
        ExecutorMemo.getOrBuild(s"$key-slow") {
          slowStarted.countDown(); gate.await(); Integer.valueOf(1)
        }: Unit })
      slowStarted.await()
      val fast = pool2.submit(new java.util.concurrent.Callable[Integer] {
        def call(): Integer = ExecutorMemo.getOrBuild(s"$key-fast")(Integer.valueOf(2))
      })
      assert(fast.get(5, java.util.concurrent.TimeUnit.SECONDS) == 2,
        "unrelated key blocked behind a slow build")
      gate.countDown()
    } finally { gate.countDown(); pool2.shutdown() }
    // distinct keys build independently; the cache stays LRU-bounded
    (1L to 20L).foreach { i =>
      ExecutorMemo.getOrBuild(s"$key-$i")(Integer.valueOf(i.toInt))
    }
    assert(ExecutorMemo.size <= 8, s"memo must stay bounded, got ${ExecutorMemo.size}")
  }

  test("knnLabelVote: majority wins, ties to lower label, unlabeled neighbors don't vote") {
    val corpus = Seq(
      (1L, Seq(1.0, 0.0)), (2L, Seq(0.9, 0.1)), (3L, Seq(0.95, 0.05)),
      (4L, Seq(0.0, 1.0)), (5L, Seq(0.1, 0.9))).toDF("vec_id", "embedding")
    val labeled = Seq(
      (1L, Some(7)), (2L, Some(7)), (3L, None: Option[Int]),
      (4L, Some(3)), (5L, Some(3))).toDF("vec_id", "label")
    // q100 sits in the label-7 cluster: neighbors 1,2,3 — id 3 is
    // unlabeled so the vote is 7×2 (not 7×2 vs anything)
    val q1 = Seq((100L, Seq(1.0, 0.02))).toDF("query_id", "query_vec")
    val r1 = SimilarityFunctions.knnLabelVote(corpus, q1, labeled, k = 3)
      .as[(Long, Int, Long)].collect().toList
    assert(r1 === List((100L, 7, 2L)))
    // q102 is equidistant: top-2 = ids 2 (label 7) and 5 (label 3),
    // one vote each — the tie goes to the LOWER label
    val q2 = Seq((102L, Seq(0.707, 0.707))).toDF("query_id", "query_vec")
    val r2 = SimilarityFunctions.knnLabelVote(corpus, q2, labeled, k = 2)
      .as[(Long, Int, Long)].collect().toList
    assert(r2 === List((102L, 3, 1L)))
    // q103's whole neighborhood (k=1 → id 3) is unlabeled → no row
    val q3 = Seq((103L, Seq(0.95, 0.05))).toDF("query_id", "query_vec")
    assert(SimilarityFunctions.knnLabelVote(corpus, q3, labeled, k = 1).isEmpty)
  }

  test("native VecCosine is bit-identical to the HOF cosine on real embeddings") {
    val emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    val a = emb.limit(50).select(col("vec_id"), col("embedding"))
    val pairs = a.crossJoin(a.select(col("vec_id").as("id2"), col("embedding").as("e2")).limit(20))
    val cmp = pairs.select(
      SimilarityFunctions.cosine(col("embedding"), col("e2")).as("native"),
      SimilarityFunctions.cosineHof(col("embedding"), col("e2")).as("hof"))
    val diffs = cmp.filter(col("native") =!= col("hof") ||
      (col("native").isNull =!= col("hof").isNull)).count()
    assert(diffs === 0L)
  }

  test("VecDot/VecCosine widen integral element types like the HOF cast did") {
    val df = spark.sql(
      """SELECT CAST(array(1, 2) AS array<int>) AS ai,
        |       CAST(array(3, 4) AS array<bigint>) AS al,
        |       CAST(array(1.0, 2.0) AS array<double>) AS ad
        |""".stripMargin)
    val r = df.select(
      SimilarityFunctions.dot(col("ai"), col("al")).as("il"),
      SimilarityFunctions.cosine(col("ai"), col("ad")).as("id")).head()
    assert(r.getAs[Double]("il") === 11.0)
    assert(math.abs(r.getAs[Double]("id") - 1.0) < 1e-12)
  }

  test("meanPoolFlat + assembleVec: exact per-dim means, ordered assembly") {
    val df = spark.sql(
      """SELECT * FROM VALUES
        |  (1L, array(1.0D, 10.0D)), (1L, array(3.0D, 20.0D)),
        |  (2L, array(5.0D, 50.0D))
        |AS t(g, v)""".stripMargin)
    val flat = SimilarityFunctions.meanPoolFlat(df, "g", "v")
      .orderBy("g", "pos")
      .as[(Long, Int, Double)].collect()
    assert(flat === Array((1L, 0, 2.0), (1L, 1, 15.0), (2L, 0, 5.0), (2L, 1, 50.0)))
    val vecs = SimilarityFunctions.assembleVec(
        SimilarityFunctions.meanPoolFlat(df.repartition(4), "g", "v"), "g")
      .orderBy("g").as[(Long, Seq[Double])].collect()
    assert(vecs === Array((1L, Seq(2.0, 15.0)), (2L, Seq(5.0, 50.0))))
  }

  test("VecCosine null semantics: length mismatch, null element, zero norm") {
    val df = spark.sql(
      """SELECT CAST(array(1.0, 2.0) AS array<double>) AS a,
        |       CAST(array(1.0) AS array<double>) AS short,
        |       CAST(array(1.0, NULL) AS array<double>) AS holed,
        |       CAST(array(0.0, 0.0) AS array<double>) AS zero
        |""".stripMargin)
    val r = df.select(
      SimilarityFunctions.cosine(col("a"), col("short")).as("mismatch"),
      SimilarityFunctions.cosine(col("a"), col("holed")).as("holed"),
      SimilarityFunctions.cosine(col("a"), col("zero")).as("zero"),
      SimilarityFunctions.cosine(col("a"), col("a")).as("self")).head()
    assert(r.isNullAt(0) && r.isNullAt(1) && r.isNullAt(2))
    assert(math.abs(r.getDouble(3) - 1.0) < 1e-12)
  }

  test("lshNeighborPairsAgainst: cross-side pairs only, sides fixed in output") {
    val emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
      .select(col("vec_id").as("id"), col("embedding").cast("array<double>").as("v"))
      .limit(50)
    // batch: one near-copy of corpus vec 30 (with a LOWER id) plus two
    // vectors that are near-copies of EACH OTHER but of nothing existing
    val probe = emb.filter(col("id") === 30L)
    val batch = probe.select(lit(3L).as("id"), transform(col("v"), x => x + lit(0.01)).as("v"))
      .unionAll(emb.filter(col("id") === 40L)
        .select(lit(900L).as("id"), transform(col("v"), x => x * lit(-1.0)).as("v")))
      .unionAll(emb.filter(col("id") === 40L)
        .select(lit(901L).as("id"), transform(col("v"), x => x * lit(-1.0) + lit(0.01)).as("v")))
    val pairs = SimilarityFunctions.lshNeighborPairsAgainst(
        emb, batch, dim = 64, nBits = 16, bands = 4, minCosine = 0.9,
        idCol = "id", vecCol = "v")
      .as[(Long, Long, Double)].collect()
    // the planted cross pair surfaces with the EXISTING id first even
    // though the batch id (3) is numerically lower; the within-batch
    // near-pair (900, 901) must NOT appear — no batch self-join runs
    assert(pairs.map(p => (p._1, p._2)).toSet === Set((30L, 3L)), pairs.toSeq.toString)
    assert(pairs.head._3 > 0.99)
    graft.Caches.releaseAll()
  }

  test("lshNeighborPairsAgainstIndexed: stored bands + vectors reproduce the derived path") {
    val emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
      .select(col("vec_id").as("id"), col("embedding").cast("array<double>").as("v"))
      .limit(50)
    val probe = emb.filter(col("id") === 30L)
    val batch = probe.select(lit(3L).as("id"), transform(col("v"), x => x + lit(0.01)).as("v"))
      .unionAll(emb.filter(col("id") === 40L)
        .select(lit(900L).as("id"), transform(col("v"), x => x * lit(-1.0)).as("v")))
    val derived = SimilarityFunctions.lshNeighborPairsAgainst(
        emb, batch, dim = 64, nBits = 16, bands = 4, minCosine = 0.9,
        idCol = "id", vecCol = "v")
      .as[(Long, Long, Double)].collect().toSet
    // the nightly shape: the corpus side's band keys were materialized
    // at accept time as (id, band, key); vectors stored as (id, vec)
    val storedBands = SimilarityFunctions.hyperplaneBands(
      emb, dim = 64, nBits = 16, bands = 4, idCol = "id", vecCol = "v")
    val storedVecs = emb.select(col("id"), col("v").as("vec"))
    for (bc <- Seq(true, false)) {
      val viaIndex = SimilarityFunctions.lshNeighborPairsAgainstIndexed(
        storedBands, storedVecs, batch,
        dim = 64, nBits = 16, bands = 4, minCosine = 0.9,
        idCol = "id", vecCol = "v", broadcastBatchSide = bc)
        .as[(Long, Long, Double)].collect().toSet
      assert(viaIndex === derived, s"broadcastBatchSide=$bc")
      assert(viaIndex.map(p => (p._1, p._2)) === Set((30L, 3L)))
    }
    graft.Caches.releaseAll()
  }

  test("semanticDedupPairs: pairs only within clusters, ties to lower centroid") {
    val cents = Seq((0L, vec(1.0, 0.0)), (1L, vec(0.0, 1.0)))
      .toDF("centroid_id", "centroid_vec")
    val docs = Seq(
      (1L, vec(1.0, 0.01)),  // cluster 0
      (2L, vec(1.0, 0.011)), // cluster 0, near-dup of 1
      (3L, vec(0.01, 1.0)),  // cluster 1
      (4L, vec(0.02, 1.0)),  // cluster 1, near-dup of 3
      (5L, vec(1.0, 1.0)))   // equidistant → tie keeps centroid 0
      .toDF("vec_id", "embedding")
    val pairs = SimilarityFunctions.semanticDedupPairs(docs, cents, threshold = 0.9)
      .as[(Long, Long, Double)].collect().toList.sortBy(p => (p._1, p._2))
    // near-dup pairs found inside each cluster; NO cross-cluster pair
    // even though (1,3) both exist — the cluster bound is the
    // approximation SemDeDup trades for tractability. Doc 5 pairs with
    // nothing (cosine to 1/2 ≈ 0.71 < 0.9).
    assert(pairs.map(p => (p._1, p._2)) === List((1L, 2L), (3L, 4L)))
    assert(pairs.forall(_._3 > 0.99))
    // composes with the library's greedy drop: higher-id twins die
    val kept = DedupFunctions.dropNearDuplicates(docs,
      SimilarityFunctions.semanticDedupPairs(docs, cents, threshold = 0.9),
      "vec_id").select("vec_id").as[Long].collect().toSet
    assert(kept === Set(1L, 3L, 5L))
    // the tie row really did land in cluster 0: lower its threshold and
    // it may only ever pair with cluster-0 members
    val loose = SimilarityFunctions.semanticDedupPairs(docs, cents, threshold = 0.5)
      .as[(Long, Long, Double)].collect().toSet
    assert(loose.contains((1L, 5L, loose.find(p => p._1 == 1L && p._2 == 5L).get._3)))
    assert(!loose.exists(p => (p._1, p._2) == (3L, 5L)),
      "tie assignment keeps the LOWER centroid id; 5 never pairs into cluster 1")
    // salted hot-cluster path emits the identical pair set
    val salted = SimilarityFunctions.semanticDedupPairs(docs, cents,
      threshold = 0.9, hotClusterThreshold = 1L, salts = 4)
      .as[(Long, Long, Double)].collect().toList.sortBy(p => (p._1, p._2))
    assert(salted === pairs)
    graft.Caches.releaseAll()
  }

  test("semanticDedupPairsAgainst: cross-side pairs only — no existing×existing join") {
    val cents = Seq((0L, vec(1.0, 0.0)), (1L, vec(0.0, 1.0)))
      .toDF("centroid_id", "centroid_vec")
    // existing holds TWO mutual near-dups (1,11) — they must NOT pair
    val existing = Seq(
      (1L, vec(1.0, 0.01)), (11L, vec(1.0, 0.012)), (3L, vec(0.01, 1.0)))
      .toDF("vec_id", "embedding")
    val incoming = Seq(
      (2L, vec(1.0, 0.011)),  // near-dup of existing 1 and 11
      (4L, vec(0.02, 1.0)),   // near-dup of existing 3
      (5L, vec(-1.0, 0.0)))   // cluster 0 (ties/argmax), but anti-parallel
      .toDF("vec_id", "embedding")
    for (bc <- Seq(true, false)) {
      val pairs = SimilarityFunctions.semanticDedupPairsAgainst(
          existing, incoming, cents, threshold = 0.9, broadcastIncoming = bc)
        .as[(Long, Long, Double)].collect().toSet
      assert(pairs.map(p => (p._1, p._2)) === Set((1L, 2L), (11L, 2L), (3L, 4L)),
        s"broadcastIncoming=$bc: $pairs")
      assert(pairs.forall(_._3 > 0.99))
    }
    // decontamination composition: incoming docs pairing with the
    // "holdout" (existing) side drop; the clean one survives
    val kept = DedupFunctions.dropNearDuplicates(incoming,
      SimilarityFunctions.semanticDedupPairsAgainst(existing, incoming,
        cents, threshold = 0.9),
      "vec_id").select("vec_id").as[Long].collect().toSet
    assert(kept === Set(5L))
  }

  test("semanticDecontaminate: flags at tau, max over the whole holdout") {
    val hold = Seq((100L, vec(1.0, 0.0)), (101L, vec(0.0, -1.0)))
      .toDF("hid", "embedding").select(col("embedding"))
    val out = SimilarityFunctions.semanticDecontaminate(corpus, hold, tau = 0.95)
      .select("vec_id", "max_holdout_cos", "contaminated")
      .orderBy("vec_id")
      .collect().map(r => (r.getLong(0), r.getDouble(1), r.getBoolean(2)))
    // vec 0 == holdout 100 exactly; vec 1 cos .9939 vs 100; vec 2 is
    // orthogonal to 100 and opposite 101 (max 0); vec 3 opposite 100 (max 0)
    assert(out.map(t => (t._1, t._3)).toSeq ===
      Seq((0L, true), (1L, true), (2L, false), (3L, false)))
    assert(out(0)._2 === 1.0)
    assert(out(2)._2 === 0.0 && out(3)._2 === 0.0)
  }

  test("semanticDecontaminate: empty holdout flags nothing, null max") {
    val hold = Seq.empty[(Long, Array[Double])].toDF("hid", "embedding")
      .select(col("embedding"))
    val out = SimilarityFunctions.semanticDecontaminate(corpus, hold, tau = 0.5)
      .orderBy("vec_id").collect()
    assert(out.length === 4)
    assert(out.forall(r => r.isNullAt(r.fieldIndex("max_holdout_cos"))))
    assert(out.forall(r => !r.getBoolean(r.fieldIndex("contaminated"))))
  }

  test("semanticDecontaminate plan: corpus stays scan-local, zero hash exchanges") {
    val hold = Seq((100L, vec(1.0, 0.0))).toDF("hid", "embedding")
      .select(col("embedding"))
    val out = SimilarityFunctions.semanticDecontaminate(corpus, hold, tau = 0.5)
    out.collect() // finalize the adaptive plan before inspecting it
    val plan = out.queryExecution.executedPlan.toString
    // the only exchanges allowed: the holdout's single-row aggregate
    // (Exchange SinglePartition) and its broadcast — the corpus path
    // must never hash-shuffle
    assert(!plan.contains("Exchange hashpartitioning"),
      s"corpus-side shuffle leaked into the decontamination plan:\n$plan")
    assert(plan.contains("BroadcastNestedLoopJoin"),
      s"expected the broadcast cross join shape:\n$plan")
  }

  test("semanticDecontaminate max agrees with per-pair brute force") {
    val hold = Seq((100L, vec(0.6, 0.8)), (101L, vec(-0.8, 0.6)))
      .toDF("qid", "embedding")
    val out = SimilarityFunctions
      .semanticDecontaminate(corpus, hold.select(col("embedding")), tau = 0.5)
      .select("vec_id", "max_holdout_cos").as[(Long, Double)].collect().toMap
    val brute = corpus.crossJoin(hold.select(col("embedding").as("hv")))
      .select(col("vec_id"),
        round(SimilarityFunctions.cosine(col("embedding"), col("hv")), 6).as("c"))
      .groupBy("vec_id").agg(max("c").as("m"))
      .as[(Long, Double)].collect().toMap
    assert(out === brute)
  }

  test("cosineRangeSearch: exactly the pairs at/above the radius; shuffle-free") {
    val emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    val q = emb.filter(col("vec_id") < 5)
      .select(col("vec_id").as("query_id"), col("embedding").as("query_vec"))
    val got = SimilarityFunctions.cosineRangeSearch(emb, q, threshold = 0.1)
      .as[(Long, Long, Double)].collect().toSet
    // ground truth: the same 6dp cosines filtered in scala
    val all = emb.crossJoin(broadcast(q))
      .select(col("query_id").cast("long"),
        col("vec_id").cast("long"),
        round(SimilarityFunctions.cosine(col("embedding"), col("query_vec")), 6))
      .as[(Long, Long, Double)].collect()
    val expect = all.filter(p => p._1 != p._2 && p._3 >= 0.1).toSet
    assert(got === expect && got.nonEmpty)
    // the radius cut is inclusive and every score is >= the threshold
    assert(got.forall(_._3 >= 0.1))
    // no shuffle: queries broadcast, result stays with the corpus scan
    val plan = SimilarityFunctions.cosineRangeSearch(emb, q, 0.1)
      .queryExecution.executedPlan.toString
    assert(!plan.contains("Exchange hashpartitioning"), plan)
  }

  test("densityClusters: a sparse bridge does NOT merge two dense blobs (the anti-CC property)") {
    // blob A = {1,2,3,4} complete, blob B = {10,11,12,13} complete
    // (degree 3 each → core at minPts=3); bridge 5 touches 1 and 10
    // only (degree 2 → border); isolated pair {20,21} (degree 1 → noise)
    def complete(ids: Seq[Long]) =
      for (a <- ids; b <- ids if a < b) yield (a, b)
    val edges = (complete(Seq(1L, 2L, 3L, 4L)) ++
      complete(Seq(10L, 11L, 12L, 13L)) ++
      Seq((1L, 5L), (5L, 10L), (20L, 21L))).toDF("id_a", "id_b")
    val out = SimilarityFunctions.densityClusters(edges, minPts = 3)
      .as[(Long, Long, String)].collect().toList.sorted
    assert(out === List(
      (1L, 1L, "core"), (2L, 1L, "core"), (3L, 1L, "core"), (4L, 1L, "core"),
      (5L, 1L, "border"), // attaches to the MIN neighboring cluster id
      (10L, 10L, "core"), (11L, 10L, "core"), (12L, 10L, "core"),
      (13L, 10L, "core")))
    // plain connected components WOULD have chained A–5–B into one
    val cc = graft.functions.DedupFunctions.connectedComponents(edges)
      .select("component").distinct().count()
    assert(cc === 2L) // {A,5,B} merged + {20,21} — vs DBSCAN's 2 clusters + noise
  }

  test("topPrincipalComponent recovers a planted dominant axis; partitioning-invariant") {
    // second moment along y dominates (|y| ≈ 5 vs |x| ≤ 1, z = 0):
    // the unit direction must land on ±e_y despite starting from e_x
    val rows = spark.sql(
      """SELECT * FROM VALUES
        |  (array(1.0D,  5.0D, 0.0D)), (array(-0.5D,  4.8D, 0.1D)),
        |  (array(0.7D, -5.1D, 0.0D)), (array(-1.0D, -4.9D, -0.1D)),
        |  (array(0.2D,  5.2D, 0.05D))
        |AS t(v)""".stripMargin)
    val out = SimilarityFunctions.topPrincipalComponent(rows, "v", dim = 3,
        iters = 5)
      .as[(Int, Double, Double)].collect().toList
    assert(out.map(_._1) === List(0, 1, 2))
    val loadings = out.map(_._2)
    assert(math.abs(loadings(1)) > 0.99, s"dominant axis: $loadings")
    assert(math.abs(loadings(0)) < 0.1 && math.abs(loadings(2)) < 0.1)
    // unit norm (within the 6dp per-coordinate rounding)
    assert(math.abs(loadings.map(l => l * l).sum - 1.0) < 1e-4)
    assert(out.head._3 > 0.0) // eigenvalue estimate present
    val repart = SimilarityFunctions.topPrincipalComponent(
        rows.repartition(7), "v", dim = 3, iters = 5)
      .as[(Int, Double, Double)].collect().toList
    assert(repart === out) // exact-decimal matvec: merge order is moot
  }

  test("signSketch packs sign bits into 32-bit words exactly") {
    // dims 0 and 33 positive -> bit 0 of w0 and bit 1 of w1
    val v = Array.fill(64)(-1.0)
    v(0) = 0.5; v(33) = 2.0
    val df = Seq((1L, v.toSeq)).toDF("vec_id", "embedding")
    val out = df.select(
        SimilarityFunctions.signSketch(col("embedding"), 64).as("s"))
      .select(col("s.w0"), col("s.w1")).as[(Long, Long)].head()
    assert(out === ((1L, 2L)))
    // zero is NOT positive: an all-zero vector sketches to all-zero words
    val z = Seq((2L, Seq.fill(64)(0.0))).toDF("vec_id", "embedding")
      .select(SimilarityFunctions.signSketch(col("embedding"), 64).as("s"))
      .select(col("s.w0"), col("s.w1")).as[(Long, Long)].head()
    assert(z === ((0L, 0L)))
    intercept[IllegalArgumentException] {
      SimilarityFunctions.signSketch(col("embedding"), 48)
    }
    // length mismatch -> NULL sketch (never zero-filled bits), so
    // truncated embeddings are visible by absence (r12 ADVICE)
    val bad = Seq((3L, Seq.fill(63)(1.0)), (4L, Seq.empty[Double]))
      .toDF("vec_id", "embedding")
      .select(SimilarityFunctions.signSketch(col("embedding"), 64).as("s"))
      .collect()
    assert(bad.forall(_.isNullAt(0)))
  }

  test("hammingTopK ranks by matching bits with lower-id ties; excludes self") {
    // q = all-positive; a agrees on all 64 dims, b on 63, c on 0
    def vec(flip: Set[Int]): Seq[Double] =
      (0 until 64).map(d => if (flip(d)) -1.0 else 1.0)
    val corpus = Seq(
      (10L, vec(Set.empty)), (11L, vec(Set(5))),
      (12L, vec((0 until 64).toSet)), (13L, vec(Set.empty)))
      .toDF("vec_id", "embedding")
    val q = Seq((10L, vec(Set.empty))).toDF("query_id", "query_vec")
    val out = SimilarityFunctions.hammingTopK(corpus, q, k = 3, dim = 64)
      .orderBy("rank").as[(Long, Long, Int, Int)].collect().toList
    // self (10) excluded; 13 matches all 64 bits, 11 matches 63, 12 none
    assert(out === List((10L, 13L, 64, 1), (10L, 11L, 63, 2), (10L, 12L, 0, 3)))
  }

  test("hammingTopK guards the query-side driver collect at maxQueryRows") {
    def vec(flip: Set[Int]): Seq[Double] =
      (0 until 64).map(d => if (flip(d)) -1.0 else 1.0)
    val corpus = Seq((10L, vec(Set.empty)), (11L, vec(Set(5))))
      .toDF("vec_id", "embedding")
    val q = Seq((1L, vec(Set.empty)), (2L, vec(Set(1))), (3L, vec(Set(2))))
      .toDF("query_id", "query_vec")
    // at the bound: unchanged behavior
    val ok = SimilarityFunctions.hammingTopK(corpus, q, k = 1, dim = 64,
      maxQueryRows = 3)
    assert(ok.count() === 3L)
    // over the bound: clear failure pointing at the blocked kernel,
    // BEFORE a corpus-sized query table lands on the driver
    val e = intercept[IllegalArgumentException] {
      SimilarityFunctions.hammingTopK(corpus, q, k = 1, dim = 64,
        maxQueryRows = 2)
    }
    assert(e.getMessage.contains("hammingTopKBlocked"))
    intercept[IllegalArgumentException] {
      SimilarityFunctions.hammingTopK(corpus, q, k = 1, dim = 64,
        maxQueryRows = 0)
    }
  }

  test("hammingTopKBlocked: banding pigeonhole — close pairs surface, per-band flips can evade") {
    def vec(flip: Set[Int]): Seq[Double] =
      (0 until 64).map(d => if (flip(d)) -1.0 else 1.0)
    // q all-positive. a: distance 0 (collides in every band).
    // b: 5 flips inside band 0 — distance 5 < 8 bands, pigeonhole
    //    GUARANTEES a collision (bands 1-7 intact).
    // c: one flip in EVERY 8-bit band (bits 0,8,...,56) — all 8 bands
    //    differ, so c is invisible to the candidate join by design.
    val corpus = Seq(
      (10L, vec(Set.empty)), (11L, vec(Set(0, 1, 2, 3, 4))),
      (12L, vec((0 until 64 by 8).toSet)), (13L, vec(Set.empty)))
      .toDF("vec_id", "embedding")
    val q = Seq((10L, vec(Set.empty))).toDF("query_id", "query_vec")
    val out = SimilarityFunctions.hammingTopKBlocked(corpus, q, k = 4,
        dim = 64, bandBits = 8)
      .orderBy("rank").as[(Long, Long, Int, Int)].collect().toList
    // 13 full match, 11 at 59 bits; 12 (56 bits) absent — banding miss;
    // self excluded; matching_bits and tie-breaks are the exact kernel's
    assert(out === List((10L, 13L, 64, 1), (10L, 11L, 59, 2)))
    intercept[IllegalArgumentException] {
      SimilarityFunctions.hammingTopKBlocked(corpus, q, k = 4, dim = 64,
        bandBits = 7)
    }
  }

  test("hammingTopKBlocked agrees with the exact kernel on its candidates and never pair-enumerates") {
    // deterministic pseudo-random ±1 vectors: blocked results must be a
    // SUBSET of exact hammingTopK pairs with identical matching_bits
    def pv(i: Long): Seq[Double] =
      (0 until 64).map(d => if (((i * 2654435761L + d * 40503L) >>> 7) % 3 == 0) -1.0 else 1.0)
    val corpus = (0L until 30L).map(i => (i, pv(i))).toDF("vec_id", "embedding")
    val q = (0L until 30L).map(i => (i, pv(i)))
      .toDF("query_id", "query_vec")
    val blocked = SimilarityFunctions.hammingTopKBlocked(corpus, q, k = 5,
      dim = 64, bandBits = 8)
    val exactBits = SimilarityFunctions.hammingTopK(corpus, q, k = 29, dim = 64)
      .select(col("query_id"), col("vec_id"),
        col("matching_bits").as("exact_bits"))
    val joined = blocked.join(exactBits, Seq("query_id", "vec_id"), "left")
    assert(joined.filter(col("exact_bits").isNull ||
      col("exact_bits") =!= col("matching_bits")).count() === 0L)
    // production plan shape: band equi-join only — no pair enumeration,
    // no broadcast-nested-loop, nothing collected from either side
    val plan = blocked.queryExecution.executedPlan.toString
    assert(!plan.contains("BroadcastNestedLoopJoin") &&
      !plan.contains("CartesianProduct"), plan.take(2000))
  }

  test("hammingTopKBlocked recall vs the exact kernel is pinned on real embeddings") {
    // pin the banding-miss rate so a future banding change that
    // silently craters recall fails here. Two regimes, by the collision
    // physics (P(one band collides) = 1 − (1 − (1 − d/dim)^r)^L):
    //  - GUARANTEED: exact neighbors within Hamming < nBands (= 8
    //    bands here) always share a band (pigeonhole) — recall 1.0;
    //  - FAR: this synthetic corpus's nearest neighbors sit at
    //    d ≈ 20, where the formula gives ≈ 0.34 per pair — measured
    //    0.306 top-1-in-top-10 at pin time. On real embedding corpora
    //    the pairs that matter (near-dups, bitext matches, mutual-NN
    //    seeds) live in the close regime; the far-regime number is the
    //    documented price of the linear candidate bound, and the dial
    //    is more tables (narrower bands) or a longer sketch.
    val emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    val q = emb.select(col("vec_id").as("query_id"),
      col("embedding").as("query_vec"))
    val exact = SimilarityFunctions.hammingTopK(emb, q, 10, 64)
    val blocked = SimilarityFunctions.hammingTopKBlocked(emb, q, 10, 64)
    val bSet = blocked.select("query_id", "vec_id")
    // guaranteed regime: this corpus has NO natural close pairs (its
    // nearest neighbors sit at d ≈ 20), so PLANT twins — 20 vectors
    // re-inserted with their first two coordinates sign-flipped
    // (Hamming ≤ 2 < 8 bands): the pigeonhole guarantee says every
    // planted twin is candidate-visible, and at ≥ 62 matching bits it
    // outranks everything natural, so it MUST surface in the blocked
    // top-10 of its original
    val dbl = emb.select(col("vec_id"),
      col("embedding").cast("array<double>").as("embedding"))
    val planted = dbl.filter(col("vec_id") < 20).select(
      (col("vec_id") + 100000L).as("vec_id"),
      concat(transform(slice(col("embedding"), 1, 2), x => -x),
        slice(col("embedding"), 3, 62)).as("embedding"))
    val withTwins = dbl.unionByName(planted)
    val qClose = dbl.filter(col("vec_id") < 20)
      .select(col("vec_id").as("query_id"), col("embedding").as("query_vec"))
    val closeHits = SimilarityFunctions
      .hammingTopKBlocked(withTwins, qClose, 10, 64)
      .filter(col("vec_id") === col("query_id") + 100000L)
      .count()
    info(s"planted twins recovered: $closeHits / 20")
    assert(closeHits === 20L, "pigeonhole regime must never miss")
    // far regime: pin the measured floor
    val e1 = exact.filter(col("rank") === 1).select("query_id", "vec_id")
    val n1 = e1.count().toDouble
    val hit1 = e1.join(bSet, Seq("query_id", "vec_id"), "left_semi")
      .count().toDouble
    info(f"global top-1-in-blocked-top-10 recall: ${hit1 / n1}%.4f")
    assert(hit1 / n1 >= 0.25 && hit1 / n1 <= 0.45,
      s"far-regime recall ${hit1 / n1} drifted from the pinned 0.306 band")
  }

  test("sizedBandBits keeps bucket load <= 2^6; auto equals the sized explicit width") {
    assert(SimilarityFunctions.sizedBandBits(1L) === 8)
    assert(SimilarityFunctions.sizedBandBits(1L << 14) === 8)
    assert(SimilarityFunctions.sizedBandBits((1L << 14) + 1) === 16)
    assert(SimilarityFunctions.sizedBandBits(1L << 22) === 16)
    assert(SimilarityFunctions.sizedBandBits((1L << 22) + 1) === 32)
    def pv(i: Long): Seq[Double] =
      (0 until 64).map(d => if (((i * 2654435761L + d * 40503L) >>> 7) % 3 == 0) -1.0 else 1.0)
    val corpus = (0L until 20L).map(i => (i, pv(i))).toDF("vec_id", "embedding")
    val q = (0L until 20L).map(i => (i, pv(i))).toDF("query_id", "query_vec")
    val auto = SimilarityFunctions.hammingTopKBlocked(corpus, q, k = 3, dim = 64)
      .orderBy("query_id", "rank").collect().toSeq
    val explicit8 = SimilarityFunctions
      .hammingTopKBlocked(corpus, q, k = 3, dim = 64, bandBits = 8)
      .orderBy("query_id", "rank").collect().toSeq
    assert(auto === explicit8)
    assert(auto.nonEmpty)
  }

  test("densityClusters: an all-core clique is one cluster; minPts above max degree empties") {
    val edges = Seq((1L, 2L), (1L, 3L), (2L, 3L)).toDF("id_a", "id_b")
    val one = SimilarityFunctions.densityClusters(edges, minPts = 2)
      .as[(Long, Long, String)].collect().toList.sorted
    assert(one === List((1L, 1L, "core"), (2L, 1L, "core"), (3L, 1L, "core")))
    assert(SimilarityFunctions.densityClusters(edges, minPts = 5).count() === 0L)
  }

  test("ivfPqTopKResidual: exact codebooks make ADC equal the exact scan") {
    // residual slices are EXACTLY codebook entries -> reconstruction is
    // exact -> the residual-ADC ranking must equal bruteForceTopK
    val cents = Seq(
      (0L, vec(1.0, 0.0, 0.0, 0.0)),
      (1L, vec(0.0, 0.0, 1.0, 0.0))
    ).toDF("centroid_id", "centroid_vec")
    val cb = Seq(
      (0, 0, vec(0.1, 0.0)), (0, 1, vec(0.0, 0.1)),
      (1, 0, vec(0.1, 0.0)), (1, 1, vec(0.0, 0.1))
    ).toDF("subspace", "code", "centroid_vec")
    val corp = Seq(
      (11L, vec(1.1, 0.0, 0.1, 0.0)), // c0 + codes (0,0)
      (12L, vec(1.0, 0.1, 0.0, 0.1)), // c0 + codes (1,1)
      (13L, vec(0.1, 0.0, 1.0, 0.1)), // c1 + codes (0,1)
      (14L, vec(0.0, 0.1, 1.1, 0.0))  // c1 + codes (1,0)
    ).toDF("vec_id", "embedding")
    val q = Seq((100L, vec(1.0, 0.05, 0.2, 0.0)))
      .toDF("query_id", "query_vec")
    val idx = SimilarityFunctions.ivfPqIndexResidual(corp, cents, cb,
      dim = 4, m = 2, codes = 2)
    // the codes must reconstruct each residual exactly: every encoded
    // vector sits in its intended cell
    assert(idx.orderBy("vec_id").select("cell").as[Long].collect().toSeq
      === Seq(0L, 0L, 1L, 1L))
    val viaResidual = SimilarityFunctions.ivfPqTopKResidual(idx, q, cents, cb,
        dim = 4, m = 2, codes = 2, k = 4, nProbe = 2)
      .orderBy("rank").select("vec_id", "cosine").as[(Long, Double)].collect()
    val exact = SimilarityFunctions.bruteForceTopK(corp, q, 4)
      .orderBy("rank").select("vec_id", "cosine").as[(Long, Double)].collect()
    assert(viaResidual.toSeq === exact.toSeq)
  }

  test("residual codebooks recover planted clusters at least as well as raw PQ") {
    // two far-apart clusters + deterministic within-cluster noise: raw
    // PQ spends its 2 codes/subspace on the BETWEEN-cluster structure,
    // residual PQ on the within-cluster detail that actually ranks
    // neighbors
    val dim = 8; val m = 4; val codes = 2
    def noise(i: Int, j: Int): Double = ((i * 7 + j * 13) % 5 - 2) * 0.03
    val rows = (0 until 40).map { i =>
      val base = if (i % 2 == 0) Array(1.0, 0, 0, 0, 1.0, 0, 0, 0)
        else Array(0, 0, 1.0, 0, 0, 0, 1.0, 0)
      (i.toLong + 10, base.zipWithIndex.map { case (b, j) => b + noise(i, j) })
    }.toDF("vec_id", "embedding")
    val cents = Seq(
      (0L, vec(1.0, 0, 0, 0, 1.0, 0, 0, 0)),
      (1L, vec(0, 0, 1.0, 0, 0, 0, 1.0, 0))
    ).toDF("centroid_id", "centroid_vec")
    val q = rows.filter(col("vec_id") < 14)
      .select(col("vec_id").as("query_id"), col("embedding").as("query_vec"))
    val exact = SimilarityFunctions.bruteForceTopK(rows, q, 5)
      .select("query_id", "vec_id").as[(Long, Long)].collect().toSet
    def recall(found: Set[(Long, Long)]): Double =
      found.intersect(exact).size.toDouble / exact.size
    val cbRaw = SimilarityFunctions.trainPqCodebooks(rows, dim, m, codes)
    val rawIdx = SimilarityFunctions.ivfPqIndex(rows, cents, cbRaw, dim, m, codes)
    val rawFound = SimilarityFunctions.ivfPqTopK(rawIdx, q, cents, cbRaw,
        dim, m, codes, k = 5, nProbe = 2)
      .select("query_id", "vec_id").as[(Long, Long)].collect().toSet
    val resTrain = SimilarityFunctions.withResiduals(rows, cents, dim)
      .select(col("residual").as("embedding"))
    val cbRes = SimilarityFunctions.trainPqCodebooks(resTrain, dim, m, codes)
    val resIdx = SimilarityFunctions.ivfPqIndexResidual(rows, cents, cbRes,
      dim, m, codes)
    val resFound = SimilarityFunctions.ivfPqTopKResidual(resIdx, q, cents, cbRes,
        dim, m, codes, k = 5, nProbe = 2)
      .select("query_id", "vec_id").as[(Long, Long)].collect().toSet
    assert(recall(resFound) >= recall(rawFound),
      s"residual recall ${recall(resFound)} < raw ${recall(rawFound)}")
    assert(recall(resFound) >= 0.6, s"residual recall too low: ${recall(resFound)}")
  }

  test("jlSigns: deterministic ±1 matrix, replayable from the md5 contract") {
    val s1 = SimilarityFunctions.jlSigns(4, 8)
    val s2 = SimilarityFunctions.jlSigns(4, 8)
    assert(s1.map(_.toSeq).toSeq === s2.map(_.toSeq).toSeq)
    assert(s1.flatten.forall(v => v == 1 || v == -1))
    // replay one entry by hand: sign(k,j) = +1 iff first md5 hex digit of
    // "jl#k#j" is 0..7 (the documented cross-engine contract)
    val md = java.security.MessageDigest.getInstance("MD5")
    val h = md.digest("jl#2#5".getBytes("UTF-8"))
    val expected = if (((h(0) >> 4) & 0xf) < 8) 1 else -1
    assert(s1(2)(5) === expected)
    // both signs occur (a constant matrix would collapse the projection)
    assert(s1.flatten.distinct.sorted.toSeq === Seq(-1, 1))
  }

  test("jlProject: exact signed sums of the decimal-cast inputs") {
    val df = Seq((7L, vec(1.5, -2.25, 0.5, 4.0))).toDF("vec_id", "embedding")
    val p = SimilarityFunctions.jlProject(df, 3).select("proj")
      .head().getSeq[Double](0)
    val signs = SimilarityFunctions.jlSigns(3, 4)
    val v = Array(1.5, -2.25, 0.5, 4.0) // exact in binary AND decimal(20,10)
    val expect = signs.map(row => row.zip(v).map { case (s, x) => s * x }.sum)
    assert(p.toSeq === expect.toSeq, "±1 sums of exactly-representable inputs are exact")
  }

  test("jlTopKRerank: generous shortlist reproduces the exact top-k; output is ranked") {
    // 2-dim toy corpus: with shortlist = |corpus|-1 the JL stage cannot
    // drop the true neighbors, so the re-rank must equal bruteForceTopK
    val q = corpus.filter(col("vec_id") === 0L)
      .select(col("vec_id").as("query_id"), col("embedding").as("query_vec"))
    val jl = SimilarityFunctions.jlTopKRerank(corpus, q, projDim = 4,
        shortlist = 3, k = 3)
      .orderBy("rank").select("vec_id", "cosine").as[(Long, Double)].collect()
    val exact = SimilarityFunctions.bruteForceTopK(corpus, q, 3)
      .orderBy("rank").select("vec_id", "cosine").as[(Long, Double)].collect()
    assert(jl.toSeq === exact.toSeq)
  }

  test("hardNegativeTopK: only other-label rows, ranked; exhaustive shortlist = brute-force filter") {
    val emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    val n = emb.count().toInt
    val q = emb.filter(col("vec_id") < 3)
      .select(col("vec_id").as("query_id"), col("embedding").as("query_vec"),
        col("label").as("query_label"))
    val qLabels = q.select("query_id", "query_label").collect()
      .map(r => r.getLong(0) -> r.getInt(1)).toMap
    // shortlist covers the whole corpus → exact different-label top-k
    val out = SimilarityFunctions.hardNegativeTopK(emb, q, k = 5,
      shortlist = n, dim = 64).collect()
    assert(out.length === 15)
    out.foreach { r =>
      assert(r.getAs[Int]("label") !== qLabels(r.getAs[Long]("query_id")),
        "a hard negative must carry a different label than its anchor")
    }
    val brute = SimilarityFunctions.bruteForceTopK(emb, q, n - 1)
      .join(emb.select(col("vec_id"), col("label")), "vec_id")
      .join(q.select(col("query_id"), col("query_label")), "query_id")
      .filter(col("label") =!= col("query_label"))
      .withColumn("rk", row_number().over(
        org.apache.spark.sql.expressions.Window.partitionBy("query_id")
          .orderBy(col("cosine").desc, col("vec_id"))))
      .filter(col("rk") <= 5)
      .select("query_id", "vec_id").as[(Long, Long)].collect().toSet
    assert(out.map(r => (r.getAs[Long]("query_id"), r.getAs[Long]("vec_id"))).toSet === brute)
  }

  test("marginBitextMine: the margin picks the mutual pair over the hub plain cosine prefers") {
    // geometry (angles on the first two dims, rest zero):
    //   src z=0°, x=20°;  tgt h=0° (the hub), u=45°
    // cos(x,h)=.9397 > cos(x,u)=.9063, so cosine argmax picks h — but h's
    // own best src is z at cos 1.0, so the margin denominator penalizes
    // it: margin(x,u)=.9819 > margin(x,h)=.9689 (the Artetxe–Schwenk
    // hub correction, k=1 form: u wins iff cos(x,u) > cos(x,h)²).
    def v(deg: Double): Array[Float] = {
      val r = math.toRadians(deg)
      (Array(math.cos(r), math.sin(r)) ++ Array.fill(62)(0.0)).map(_.toFloat)
    }
    val src = Seq((0L, v(0)), (1L, v(20))).toDF("vec_id", "embedding")
    val tgt = Seq((10L, v(0)), (11L, v(45))).toDF("vec_id", "embedding")
    val out = SimilarityFunctions.marginBitextMine(src, tgt,
        k = 1, cand = 2, shortlist = 2, dim = 64, threshold = 0.0)
      .orderBy("src_id")
      .select("src_id", "tgt_id").as[(Long, Long)].collect().toList
    assert(out === List((0L, 10L), (1L, 11L)))
    // sanity: plain cosine would have sent src 1 to the hub
    val q = src.filter(col("vec_id") === 1L)
      .select(col("vec_id").as("query_id"), col("embedding").as("query_vec"))
    val top = SimilarityFunctions.bruteForceTopK(tgt, q, 1)
      .select("vec_id").as[Long].head()
    assert(top === 10L, "precondition: cosine top-1 is the hub")
  }

  test("simplifiedSilhouette: separated clusters score near 1, a split cluster near 0") {
    def v(a: Double, b: Double): Array[Float] =
      (Array(a, b) ++ Array.fill(62)(0.0)).map(_.toFloat)
    // two orthogonal clusters, centroids on the exemplars
    val good = Seq((0L, v(1, 0)), (1L, v(0.99, 0.01)), (2L, v(0.98, 0.02)),
      (10L, v(0, 1)), (11L, v(0.01, 0.99)), (12L, v(0.02, 0.98)))
      .toDF("vec_id", "embedding")
    val cents = Seq((0L, v(1, 0)), (1L, v(0, 1)))
      .toDF("centroid_id", "centroid_vec")
    val g = SimilarityFunctions.simplifiedSilhouette(good, cents)
      .collect().map(r => r.getLong(0) -> r.getDouble(2)).toMap
    assert(g.values.forall(_ > 0.9), s"separated clusters should score ~1: $g")
    // two centroids STRADDLING one tight cluster (the cluster sits on
    // their midline) → a ≈ b per point → silhouette collapses toward 0
    def ang(deg: Double): Array[Float] = {
      val r = math.toRadians(deg)
      (Array(math.cos(r), math.sin(r)) ++ Array.fill(62)(0.0)).map(_.toFloat)
    }
    val split = Seq((0L, ang(1.95)), (1L, ang(2.0)), (2L, ang(2.05)))
      .toDF("vec_id", "embedding")
    val cSplit = Seq((0L, ang(1.0)), (1L, ang(3.0)))
      .toDF("centroid_id", "centroid_vec")
    val sp = SimilarityFunctions.simplifiedSilhouette(split, cSplit)
      .collect().map(_.getDouble(2))
    assert(sp.forall(s => math.abs(s) < 0.35 && s < g.values.min),
      s"straddled cluster should score near 0, far below the separated case: ${sp.toSeq}")
    // a single centroid has no runner-up: fail fast, never null rows
    val e = intercept[IllegalArgumentException] {
      SimilarityFunctions.simplifiedSilhouette(good, cents.limit(1))
    }
    assert(e.getMessage.contains(">= 2 centroids"))
  }

  test("marginBitextMine: one row per source, margins ranked above threshold") {
    val emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    val out = SimilarityFunctions.marginBitextMine(
      emb.filter(col("label") % 2 === 0), emb.filter(col("label") % 2 === 1),
      k = 4, cand = 8, shortlist = 16, dim = 64, threshold = 1.0).collect()
    val srcs = out.map(_.getLong(0))
    assert(srcs.distinct.length === srcs.length, "argmax must emit ≤1 row per source")
    assert(out.forall(_.getDouble(3) >= 1.0))
    graft.Caches.releaseAll()
  }
}
