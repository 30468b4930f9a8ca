package graft.ops

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.TestSpark

class SkewOpsSpec extends AnyFunSuite with graft.CachesScoped {
  private val spark = TestSpark.spark
  import spark.implicits._

  // one pathologically hot key (900 of 1000 rows) plus a cold tail
  private val skewed = ((1 to 900).map(i => ("HOT", i.toLong)) ++
    (1 to 100).map(i => (s"K$i", i.toLong))).toDF("k", "v")
  private val dim = (Seq("HOT") ++ (1 to 50).map(i => s"K$i"))
    .zipWithIndex.map { case (k, i) => (k, s"label$i") }.toDF("k", "label")

  test("saltedJoin(inner) equals the plain join exactly") {
    val plain = skewed.join(dim, Seq("k")).orderBy("k", "v").collect()
    val salted = SkewOps.saltedJoin(skewed, dim, Seq("k"), salts = 8)
      .orderBy("k", "v").collect()
    assert(salted.toSeq === plain.toSeq)
  }

  test("saltedJoin(left) keeps unmatched left rows exactly once") {
    val plain = skewed.join(dim, Seq("k"), "left").orderBy("k", "v").collect()
    val salted = SkewOps.saltedJoin(skewed, dim, Seq("k"), salts = 8, "left")
      .orderBy("k", "v").collect()
    assert(salted.toSeq === plain.toSeq)
  }

  test("saltedJoin(left_anti) matches plain anti-join") {
    val plain = skewed.join(dim, Seq("k"), "left_anti").count()
    assert(SkewOps.saltedJoin(skewed, dim, Seq("k"), 8, "left_anti").count() === plain)
  }

  test("the hot key's rows spread across salt buckets") {
    // recompute the salt the way saltedJoin does and count distinct
    // buckets for the hot key — skew defeated iff > 1
    val buckets = skewed.filter($"k" === "HOT")
      .select(pmod(xxhash64($"k", $"v"), lit(8L)).as("salt"))
      .distinct().count()
    assert(buckets > 4, s"hot key landed in only $buckets/8 salt buckets")
  }

  test("a MapType column on the left does not break the salt projection") {
    val withMap = skewed.withColumn("attrs", map(lit("a"), lit("b")))
    val out = SkewOps.saltedJoin(withMap, dim, Seq("k"), 4)
    assert(out.count() === skewed.join(dim, Seq("k")).count())
  }

  test("right/full join types are rejected") {
    intercept[IllegalArgumentException] {
      SkewOps.saltedJoin(skewed, dim, Seq("k"), 8, "right")
    }
  }

  test("the shuffle keys include the salt column") {
    val plan = SkewOps.saltedJoin(skewed, dim, Seq("k"), 8)
      .queryExecution.executedPlan.toString
    assert(plan.contains("_salt"), plan)
  }

  // one boilerplate bucket with 80 members (3160 pairs) plus small ones —
  // the LSH candidate-generation skew shape
  private val buckets = ((1 to 80).map(i => ("B_HOT", i.toLong)) ++
    (1 to 30).map(i => (s"B${i % 5}", 100L + i))).toDF("bucket", "id")

  test("selfPairJoin: salted hot path emits EXACTLY the plain pair set") {
    val plain = SkewOps.selfPairJoin(buckets, Seq("bucket"), "id")
      .as[(Long, Long)].collect().toSeq.sorted
    val armed = SkewOps.selfPairJoin(buckets, Seq("bucket"), "id",
        hotThreshold = 16, salts = 8)
      .as[(Long, Long)].collect().toSeq.sorted
    assert(plain.nonEmpty && plain.size === plain.distinct.size)
    assert(armed === plain, "skew split must not add, drop, or duplicate pairs")
    // every pair is ordered
    assert(plain.forall { case (a, b) => a < b })
  }

  test("selfPairJoin: the salted plan engages past the threshold, not before") {
    val armed = SkewOps.selfPairJoin(buckets, Seq("bucket"), "id",
      hotThreshold = 16, salts = 8).queryExecution.executedPlan.toString
    assert(armed.contains("_salt"), "hot buckets must route through the salt key")
    val off = SkewOps.selfPairJoin(buckets, Seq("bucket"), "id")
      .queryExecution.executedPlan.toString
    assert(!off.contains("_salt"), "default threshold must keep the plain join")
  }

  test("minhashLshPairs: armed skew defense is pair-for-pair invariant") {
    import graft.functions.DedupFunctions
    // 40 identical docs -> every (band, bucket) they share holds 40
    // members, far past the threshold; plus distinct filler docs
    val docs = ((1 to 40).map(i =>
        (i.toLong, "the same boilerplate sentence repeated across the crawl")) ++
      (41 to 60).map(i => (i.toLong, s"unique document number $i with its own words")))
      .toDF("doc_id", "text")
    val plain = DedupFunctions.minhashLshPairs(docs, "doc_id", "text")
      .select("id_a", "id_b").as[(Long, Long)].collect().toSeq.sorted
    val armed = DedupFunctions.minhashLshPairs(docs, "doc_id", "text",
        hotBucketThreshold = 8L, salts = 4)
      .select("id_a", "id_b").as[(Long, Long)].collect().toSeq.sorted
    assert(plain.size === (40 * 39) / 2, "identical docs must all pair up")
    assert(armed === plain)
  }

  test("keySkewProfile: exact one-row stats on the planted hot key") {
    val r = SkewOps.keySkewProfile(skewed, "k").head()
    assert(r.getAs[Long]("n_rows") === 1000L)
    assert(r.getAs[Long]("n_keys") === 101L)
    assert(r.getAs[Long]("max_cnt") === 900L)
    // 101 keys: HOT=900, the rest 1 each -> mean 1000/101
    assert(math.abs(r.getAs[Double]("avg_cnt") - 9.90099) < 1e-5)
    assert(r.getAs[Double]("p50_cnt") === 1.0)
    assert(r.getAs[String]("top_key") === "HOT")
    assert(r.getAs[Double]("top_share_pct") === 90.0)
  }

  test("topKeys: deterministic (count desc, key asc) incl. boundary ties") {
    val df = (Seq.fill(5)("a") ++ Seq.fill(3)("c") ++ Seq.fill(3)("b") ++
      Seq.fill(3)("d") ++ Seq("e")).toDF("k")
    val out = SkewOps.topKeys(df, "k", k = 3)
      .orderBy(desc("cnt"), asc("key"))
      .collect().map(r => (r.getString(0), r.getLong(1), r.getDouble(2)))
    // b/c/d all tie at 3; the k=3 cut keeps the lexicographically first two
    assert(out.toSeq === Seq(("a", 5L, 33.333333), ("b", 3L, 20.0), ("c", 3L, 20.0)))
  }

  test("giniIndex: even = 0, one-holds-all = (n-1)/n, zero total = null") {
    val df = Seq(
      ("even", 5.0), ("even", 5.0), ("even", 5.0), ("even", 5.0),
      ("conc", 0.0), ("conc", 0.0), ("conc", 0.0), ("conc", 10.0),
      ("zero", 0.0), ("zero", 0.0))
      .toDF("k", "x")
    val out = SkewOps.giniIndex(df, "k", "x")
      .as[(String, Long, Double, Option[Double])].collect().toList
    assert(out === List(
      ("conc", 4L, 10.0, Some(0.75)), // (n−1)/n with n=4
      ("even", 4L, 20.0, Some(0.0)),
      ("zero", 2L, 0.0, None)))
    // partitioning invariance (ties reordered by layout cannot move G)
    val re = SkewOps.giniIndex(df.repartition(7), "k", "x")
      .as[(String, Long, Double, Option[Double])].collect().toList
    assert(re === out)
  }
}
