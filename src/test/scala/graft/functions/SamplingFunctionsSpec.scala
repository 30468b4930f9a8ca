package graft.functions

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.TestSpark

class SamplingFunctionsSpec extends AnyFunSuite with graft.CachesScoped {
  private val spark = TestSpark.spark
  import spark.implicits._

  private val ids = (1L to 2000L).toDF("id")

  test("temporalSplit: strict cutoff, half-open embargo, null stays null") {
    val rows = Seq("2024-01-09", "2024-01-10", "2024-01-19", "2024-01-20",
      "2024-03-01", null)
    val out = rows.toDF("d")
      .select(col("d"), SamplingFunctions.temporalSplit(
        col("d").cast("date"), lit("2024-01-10").cast("date"), 10).as("split"))
      .as[(String, String)].collect().toMap
    assert(out("2024-01-09") === "train")   // strictly before cutoff
    assert(out("2024-01-10") === "embargo") // cutoff itself quarantines
    assert(out("2024-01-19") === "embargo") // last embargo day
    assert(out("2024-01-20") === "test")    // cutoff + embargo is test
    assert(out("2024-03-01") === "test")
    assert(out(null) === null)              // never silently train
  }

  test("temporalSplit: embargo 0 degenerates to a plain cutoff split") {
    val out = Seq("2024-01-09", "2024-01-10").toDF("d")
      .select(col("d"), SamplingFunctions.temporalSplit(
        col("d").cast("date"), lit("2024-01-10").cast("date"), 0).as("split"))
      .as[(String, String)].collect().toMap
    assert(out === Map("2024-01-09" -> "train", "2024-01-10" -> "test"))
    intercept[IllegalArgumentException] {
      SamplingFunctions.temporalSplit(col("d"), lit("2024-01-10"), -1)
    }
  }

  test("sampleByHash is invariant under repartitioning (df.sample is not)") {
    val a = SamplingFunctions.sampleByHash(ids, "id", 1, 10)
      .as[Long].collect().toSet
    val b = SamplingFunctions.sampleByHash(ids.repartition(17), "id", 1, 10)
      .as[Long].collect().toSet
    assert(a === b)
    // and the fraction is in the right ballpark
    assert(a.size > 120 && a.size < 280, s"~10% of 2000 expected, got ${a.size}")
  }

  test("splitColumn: complete, disjoint, and ~80/10/10") {
    val tagged = ids.select(col("id"),
      SamplingFunctions.splitColumn(col("id").cast("string"), 80, 10).as("split"))
    val counts = tagged.groupBy("split").count()
      .as[(String, Long)].collect().toMap
    assert(counts.keySet === Set("train", "valid", "test"))
    assert(counts.values.sum === 2000L)
    assert(counts("train") > 1500L && counts("valid") < 300L && counts("test") < 300L)
    // a row's split never depends on anything but its key
    val again = ids.orderBy(rand(1)).select(col("id"),
      SamplingFunctions.splitColumn(col("id").cast("string"), 80, 10).as("split"))
    assert(tagged.except(again).isEmpty && again.except(tagged).isEmpty)
  }

  test("stratifiedSampleByHash applies per-stratum rates, default for the rest") {
    val df = ids.withColumn("cls",
      when(col("id") <= 1000L, "big").otherwise("small"))
    val kept = SamplingFunctions.stratifiedSampleByHash(
      df, "id", "cls", Map("big" -> 100), defaultPermille = 800)
    val counts = kept.groupBy("cls").count().as[(String, Long)].collect().toMap
    // ~10% of 1000 "big", ~80% of 1000 "small"
    assert(counts("big") > 60L && counts("big") < 160L, counts.toString)
    assert(counts("small") > 700L && counts("small") < 900L, counts.toString)
    // membership is the same pure hash as sampleByHash: the kept "big"
    // set must be exactly the 100/1000 hash sample of that stratum
    val direct = SamplingFunctions.sampleByHash(
      df.filter(col("cls") === "big"), "id", 100, 1000)
      .select("id").as[Long].collect().toSet
    assert(kept.filter(col("cls") === "big").select("id")
      .as[Long].collect().toSet === direct)
    // null stratum falls back to the default rate; null key drops out
    val edge = Seq((Some(5000L), None: Option[String]), (None, Some("big")))
      .toDF("id", "cls")
    val keptEdge = SamplingFunctions.stratifiedSampleByHash(
      edge, "id", "cls", Map("big" -> 1000), defaultPermille = 1000)
    assert(keptEdge.count() === 1L) // null key gone even at rate 1000
    intercept[IllegalArgumentException] {
      SamplingFunctions.stratifiedSampleByHash(df, "id", "cls", Map("big" -> 1001), 0)
    }
  }

  test("the sample filter is a pushed-down predicate, not a shuffle") {
    val plan = SamplingFunctions.sampleByHash(ids, "id", 1, 10)
      .queryExecution.executedPlan.toString
    assert(!plan.contains("Exchange"), plan)
  }

  test("bounds are validated, including Int-overflow sums") {
    intercept[IllegalArgumentException] {
      SamplingFunctions.sampleByHash(ids, "id", 11, 10)
    }
    intercept[IllegalArgumentException] {
      SamplingFunctions.splitColumn(col("id"), 80, 30)
    }
    intercept[IllegalArgumentException] {
      SamplingFunctions.splitColumn(col("id"), 2000000000, 2000000000)
    }
  }

  test("null keys: null split, excluded from samples, same for BOTH hashes") {
    val withNull = spark.sql("SELECT * FROM VALUES ('a'), (CAST(NULL AS STRING)) AS t(k)")
    for (h <- Seq((c: org.apache.spark.sql.Column) => xxhash64(c),
        (c: org.apache.spark.sql.Column) => DedupFunctions.md5Hash60(c))) {
      val split = withNull.select(col("k"),
        SamplingFunctions.splitColumn(col("k"), 80, 10, h).as("s")).collect()
      assert(split.find(_.isNullAt(0)).exists(_.isNullAt(1)),
        "null key must map to null split")
      val sampled = SamplingFunctions.sampleByHash(withNull, "k", 10, 10, h)
      assert(sampled.count() === 1L, "null key must never enter a sample")
    }
  }

  test("materializePacks: id-ordered payload regardless of partitioning") {
    val df = Seq(
      (0L, "doc zero", 100L), (8L, "doc eight", 200L), (16L, "doc sixteen", 300L),
      (1L, "doc one", 500L), (9L, "doc nine", 10L))
      .toDF("doc_id", "text", "n_tokens")
    val packs = SamplingFunctions.materializePacks(
      df.repartition(5), "doc_id", "text", "n_tokens", 256L, 8)
      .orderBy("shard", "pack_id")
      .select("shard", "pack_id", "n_docs", "pack_tokens", "packed_text")
      .as[(Long, Long, Long, Long, String)].collect()
    // shard 0: ids 0,8 -> pack 0 (prefix 0,100); id 16 -> pack 1 (prefix 300)
    // shard 1: id 1 -> pack 0; id 9 -> pack 1 (prefix 500)
    assert(packs === Array(
      (0L, 0L, 2L, 300L, "doc zero\ndoc eight"),
      (0L, 1L, 1L, 300L, "doc sixteen"),
      (1L, 0L, 1L, 500L, "doc one"),
      (1L, 1L, 1L, 10L, "doc nine")))
  }

  test("quantileBucket: equal-mass bins, monotone, partitioning-proof") {
    val df = (1L to 100L).toDF("id").withColumn("v", col("id").cast("double"))
    val b = SamplingFunctions.quantileBucket(df, "id", "v", 4)
      .orderBy("id").as[(Long, Double, Int)].collect()
    // quartile cuts over 1..100: 25.75 / 50.5 / 75.25 -> 25/25/25/25
    val sizes = b.groupBy(_._3).view.mapValues(_.length).toMap
    assert(sizes === Map(0 -> 25, 1 -> 25, 2 -> 25, 3 -> 25))
    // bucket is monotone in the value
    assert(b.sortBy(_._2).map(_._3).sameElements(b.map(_._3).sorted))
    val again = SamplingFunctions.quantileBucket(df.repartition(9), "id", "v", 4)
      .orderBy("id").as[(Long, Double, Int)].collect()
    assert(again === b)
    intercept[IllegalArgumentException] {
      SamplingFunctions.quantileBucket(df, "id", "v", 1)
    }
  }

  test("quantileBucketByGroup: each group bins against ITS OWN cuts") {
    // group A: values 1..100; group B: values 1001..1100 — pooled cuts
    // would dump all of A in bucket 0 and all of B in bucket 3
    val df = ((1L to 100L).map(i => (i, "A", i.toDouble)) ++
      (101L to 200L).map(i => (i, "B", (i + 900L).toDouble)))
      .toDF("id", "g", "v")
    val b = SamplingFunctions.quantileBucketByGroup(df, "id", "g", "v", 4)
      .as[(Long, String, Double, Int)].collect()
    val sizes = b.groupBy(r => (r._2, r._4)).view.mapValues(_.length).toMap
    assert(sizes === Map(("A", 0) -> 25, ("A", 1) -> 25, ("A", 2) -> 25,
      ("A", 3) -> 25, ("B", 0) -> 25, ("B", 1) -> 25, ("B", 2) -> 25,
      ("B", 3) -> 25))
    // partitioning-proof and identical through the shuffled-cuts hatch
    val again = SamplingFunctions
      .quantileBucketByGroup(df.repartition(7), "id", "g", "v", 4,
        broadcastCuts = false)
      .as[(Long, String, Double, Int)].collect()
    assert(again.sortBy(_._1).sameElements(b.sortBy(_._1)))
    intercept[IllegalArgumentException] {
      SamplingFunctions.quantileBucketByGroup(df, "id", "g", "v", 1)
    }
  }

  test("quantileBucket: null values get a null bucket, not bin 0") {
    val df = spark.sql(
      "SELECT * FROM VALUES (1L, 1.0D), (2L, 2.0D), (3L, 3.0D), (4L, 4.0D), " +
        "(5L, CAST(NULL AS DOUBLE)) AS t(id, v)")
    val rows = SamplingFunctions.quantileBucket(df, "id", "v", 2)
      .orderBy("id").collect()
    assert(rows.take(4).forall(!_.isNullAt(2)))
    assert(rows(4).isNullAt(2), "unscored row must not land in bucket 0")
    // cuts ignore nulls: the scored rows still split 2/2 around the median
    assert(rows.map(r => if (r.isNullAt(2)) -1 else r.getInt(2)).toSeq
      === Seq(0, 0, 1, 1, -1))
  }

  test("packSequences: per-shard prefix packing, exact and deterministic") {
    val df = Seq((0L, 100L), (8L, 200L), (16L, 300L), (24L, 50L),
      (1L, 500L), (9L, 10L)).toDF("doc_id", "n_tokens")
    val packed = SamplingFunctions.packSequences(df, "doc_id", "n_tokens", 256L, 8)
      .orderBy("doc_id")
      .as[(Long, Long, Long, Long)].collect()
    // shard 0 in id order: prefixes 0,100,300,600 -> packs 0,0,1,2
    // shard 1: prefixes 0,500 -> packs 0,1
    assert(packed === Array(
      (0L, 0L, 0L, 0L), (1L, 1L, 0L, 0L), (8L, 0L, 0L, 100L),
      (9L, 1L, 1L, 500L), (16L, 0L, 1L, 300L), (24L, 0L, 2L, 600L)))
    // assignment is a function of (id, tokens) only — partitioning-proof
    val again = SamplingFunctions.packSequences(
      df.repartition(7), "doc_id", "n_tokens", 256L, 8)
      .orderBy("doc_id").as[(Long, Long, Long, Long)].collect()
    assert(again === packed)
    intercept[IllegalArgumentException] {
      SamplingFunctions.packSequences(df, "doc_id", "n_tokens", 0L, 8)
    }
    intercept[IllegalArgumentException] {
      SamplingFunctions.packSequences(df, "doc_id", "n_tokens", 256L, 0)
    }
  }

  test("capPerGroup keeps each group's first k rows by the order column") {
    val df = (1L to 100L).map(i => (i, s"g${i % 3}")).toDF("id", "grp")
    val out = SamplingFunctions.capPerGroup(df, "grp", "id", k = 5)
      .as[(Long, String)].collect().toSet
    assert(out.size === 15)
    // exactly the 5 LOWEST ids of each group survive
    val expect = (1L to 100L).groupBy(_ % 3)
      .flatMap { case (g, ids) => ids.sorted.take(5).map(i => (i, s"g$g")) }.toSet
    assert(out === expect)
    // partitioning-proof
    val again = SamplingFunctions.capPerGroup(df.repartition(7), "grp", "id", 5)
      .as[(Long, String)].collect().toSet
    assert(again === out)
    // the shuffled-cuts escape hatch is bit-identical
    val noBcast = SamplingFunctions
      .capPerGroup(df, "grp", "id", 5, broadcastCuts = false)
      .as[(Long, String)].collect().toSet
    assert(noBcast === out)
    // a group SMALLER than k survives whole; a null group is capped too
    val edge = Seq((1L, Some("a")), (2L, Some("a")), (3L, None),
      (4L, None), (5L, None)).toDF("id", "grp")
    val e = SamplingFunctions.capPerGroup(edge, "grp", "id", 2)
      .select("id").as[Long].collect().toSet
    assert(e === Set(1L, 2L, 3L, 4L))
    intercept[IllegalArgumentException] {
      SamplingFunctions.capPerGroup(df, "grp", "id", 0)
    }
  }

  test("capPerGroup: a NaN inside a group's k smallest matches the window form") {
    // doubles with a NaN: the ordering ranks NaN greatest, so when the
    // k-th smallest IS the NaN, the cut is NaN — the raw IEEE `<=`
    // would be false for every row and drop the whole group. The
    // nanvl-normalized filter keeps the k rows the row_number window
    // would keep (NaN-last ordering).
    val df = Seq((1L, "a", 1.0), (2L, "a", Double.NaN), (3L, "a", 2.0),
      (4L, "b", 5.0), (5L, "b", 6.0), (6L, "b", 7.0)).toDF("id", "g", "q")
    // group a, k=2: smallest two by NaN-last order are q=1.0 and q=2.0
    val k2 = SamplingFunctions.capPerGroup(df, "g", "q", 2)
      .select("id").as[Long].collect().toSet
    assert(k2 === Set(1L, 3L, 4L, 5L))
    // group a, k=3: the NaN row itself is the cut and survives
    val k3 = SamplingFunctions.capPerGroup(df, "g", "q", 3)
      .select("id").as[Long].collect().toSet
    assert(k3 === Set(1L, 2L, 3L, 4L, 5L, 6L))
  }

  test("capPerGroup: struct order column (score-descending with id tiebreak)") {
    // the documented "quality score with an id tiebreak" shape: the cut
    // aggregate orders the struct field-wise, so negating the score
    // gives best-first and the id breaks exact score ties
    val df = Seq((1L, "a", 5.0), (2L, "a", 9.0), (3L, "a", 9.0),
      (4L, "a", 1.0), (5L, "b", 2.0)).toDF("id", "g", "score")
      .withColumn("ord", struct((-col("score")).as("ns"), col("id")))
    val kept = SamplingFunctions.capPerGroup(df, "g", "ord", 2)
      .select("id").as[Long].collect().toSet
    // group a keeps its two best (9.0 at ids 2 and 3); b keeps its one row
    assert(kept === Set(2L, 3L, 5L))
  }

  test("capPerGroup plan: bounded partial aggregation, no hot-group window") {
    val df = (1L to 100L).map(i => (i, s"g${i % 3}")).toDF("id", "grp")
    val plan = SamplingFunctions.capPerGroup(df, "grp", "id", 5)
      .queryExecution.executedPlan.toString
    // the scale contract: the dominant group must NEVER flow through a
    // single window task — the cut comes from a partially-aggregated
    // O(k) heap and the cap itself is a row-local filter
    assert(!plan.contains("Window"), plan)
    assert(plan.contains("partial_kth_smallest"), plan)
    assert(plan.contains("BroadcastHashJoin") || plan.contains("BroadcastNestedLoopJoin"), plan)
    // an input frame already carrying a helper-named column is untouched
    val clash = df.withColumn("_grp", lit("keep")).withColumn("_cut", lit(9))
    val out = SamplingFunctions.capPerGroup(clash, "grp", "id", 5)
    assert(out.columns.toSeq === Seq("id", "grp", "_grp", "_cut"))
    assert(out.filter(col("_grp") === "keep" && col("_cut") === 9).count() === 15L)
  }

  test("temperatureSample: alpha interpolates proportional -> equal budgets") {
    // skewed corpus: A 2000 rows, B 200 rows
    val df = ((1L to 2000L).map(i => (i, "A")) ++ (2001L to 2200L).map(i => (i, "B")))
      .toDF("id", "grp").withColumn("k", col("id").cast("string"))
    def kept(alpha: Double) = SamplingFunctions
      .temperatureSample(df, "k", "grp", alpha, targetFraction = 0.5)
      .groupBy("grp").count().as[(String, Long)].collect().toMap
    // alpha = 1: proportional — both groups keep ~50%
    val a1 = kept(1.0)
    assert(math.abs(a1("A") - 1000L) < 120, s"A at alpha=1: ${a1("A")}")
    assert(math.abs(a1("B") - 100L) < 40, s"B at alpha=1: ${a1("B")}")
    // alpha = 0: equal budgets (550 each) — B's budget exceeds its size,
    // so B is kept WHOLE while A downsamples to ~550
    val a0 = kept(0.0)
    assert(a0("B") === 200L, "rare group kept in full at alpha=0")
    assert(math.abs(a0("A") - 550L) < 120, s"A at alpha=0: ${a0("A")}")
    // membership is a pure row/rate function — partitioning-proof
    val ids = SamplingFunctions
      .temperatureSample(df, "k", "grp", 0.5, 0.5).select("id").as[Long].collect().toSet
    val again = SamplingFunctions
      .temperatureSample(df.repartition(7), "k", "grp", 0.5, 0.5)
      .select("id").as[Long].collect().toSet
    assert(again === ids)
    // the shuffled-rates escape hatch (crawl-scale group cardinality)
    // keeps the IDENTICAL membership — only the join strategy changes
    val shuffled = SamplingFunctions
      .temperatureSample(df, "k", "grp", 0.5, 0.5, broadcastRates = false)
      .select("id").as[Long].collect().toSet
    assert(shuffled === ids)
    intercept[IllegalArgumentException] {
      SamplingFunctions.temperatureSample(df, "k", "grp", 1.5, 0.5)
    }
    intercept[IllegalArgumentException] {
      SamplingFunctions.temperatureSample(df, "k", "grp", 0.5, 0.0)
    }
  }

  test("tokenBudgetSample: over-budget groups thin to ~budget, others kept whole") {
    // A holds ~40k tokens, B ~1k: budget 4000 → A keeps rate ~0.1, B whole
    val df = ((1L to 2000L).map(i => (i, "A", 20L)) ++
      (2001L to 2100L).map(i => (i, "B", 10L)))
      .toDF("id", "grp", "n_tok").withColumn("k", col("id").cast("string"))
    val kept = SamplingFunctions
      .tokenBudgetSample(df, "k", "grp", "n_tok", budgetTokens = 4000L)
    val toks = kept.groupBy("grp").agg(sum("n_tok").as("t"))
      .as[(String, Long)].collect().toMap
    assert(toks("B") === 1000L, "under-budget group kept in full")
    assert(math.abs(toks("A") - 4000L) < 1200, s"A kept ${toks("A")} of 4000 budget")
    // membership is a pure row/rate function — partitioning-proof, and
    // the shuffled-rates escape hatch changes only the join strategy
    val ids = kept.select("id").as[Long].collect().toSet
    val again = SamplingFunctions
      .tokenBudgetSample(df.repartition(7), "k", "grp", "n_tok", 4000L)
      .select("id").as[Long].collect().toSet
    assert(again === ids)
    val shuffled = SamplingFunctions
      .tokenBudgetSample(df, "k", "grp", "n_tok", 4000L, broadcastRates = false)
      .select("id").as[Long].collect().toSet
    assert(shuffled === ids)
    // a null group still has a token mass and a rate; null keys drop out
    val edge = Seq((Some("1"), None: Option[String], 10L),
      (None: Option[String], Some("B"), 10L)).toDF("k", "grp", "n_tok")
    val keptEdge = SamplingFunctions
      .tokenBudgetSample(edge, "k", "grp", "n_tok", 1000L)
    assert(keptEdge.count() === 1L, "null-group row kept (rate 1), null key gone")
    intercept[IllegalArgumentException] {
      SamplingFunctions.tokenBudgetSample(df, "k", "grp", "n_tok", 0L)
    }
  }

  test("weightedSamplePerGroup: selection = k largest u^(1/w), bad weights drop") {
    val df = (1L to 200L).map { i =>
      (i, if (i <= 100) "A" else "B", (i % 7 + 1).toDouble)
    }.toDF("id", "grp", "w").withColumn("k", col("id").cast("string"))
    val got = SamplingFunctions.weightedSamplePerGroup(df, "grp", "k", "w", k = 10)
      .select("id").as[Long].collect().toSet
    // recompute the keys with the same projection and take top-10/group
    val keys = df.select(col("id"), col("grp"),
        pow((SamplingFunctions.hashBucket(col("k"), 1000000).cast("double") + 0.5)
          / 1000000.0, lit(1.0) / col("w")).as("ek"))
      .as[(Long, String, Double)].collect()
    val expect = keys.groupBy(_._2).values.flatMap(
      _.sortBy(t => (-t._3, t._1)).take(10).map(_._1)).toSet
    assert(got === expect)
    // an enormous weight forces the key toward 1: always selected
    val dom = df.unionByName(Seq((9999L, "A", 1e12))
      .toDF("id", "grp", "w").withColumn("k", col("id").cast("string"))
      .select("id", "grp", "w", "k"))
    assert(SamplingFunctions.weightedSamplePerGroup(dom, "grp", "k", "w", 10)
      .filter(col("id") === 9999L).count() === 1L)
    // null / zero / negative weights and null keys fall out visibly
    val edge = Seq((1L, "A", Some(0.0)), (2L, "A", Some(-3.0)),
        (3L, "A", None: Option[Double]), (4L, "A", Some(2.0)))
      .toDF("id", "grp", "w").withColumn("k",
        when(col("id") === 4L, lit(null).cast("string"))
          .otherwise(col("id").cast("string")))
    assert(SamplingFunctions.weightedSamplePerGroup(edge, "grp", "k", "w", 10).isEmpty)
    // partitioning-proof
    val b = SamplingFunctions.weightedSamplePerGroup(df.repartition(13), "grp", "k", "w", 10)
      .select("id").as[Long].collect().toSet
    assert(b === got)
  }

  test("temperatureSample: a null group is sampled, not silently dropped") {
    val df = ((1L to 400L).map(i => (i, Some("A"))) ++
      (401L to 800L).map(i => (i, None: Option[String])))
      .toDF("id", "grp").withColumn("k", col("id").cast("string"))
    // alpha = 1, target 0.5: both groups (incl. the null one) keep ~50%
    val kept = SamplingFunctions.temperatureSample(df, "k", "grp", 1.0, 0.5)
      .groupBy("grp").count().collect()
      .map(r => Option(r.getString(0)) -> r.getLong(1)).toMap
    assert(kept.contains(None), "null-group rows must get a keep decision")
    assert(math.abs(kept(None) - 200L) < 80, s"null group kept ${kept(None)}")
    assert(math.abs(kept(Some("A")) - 200L) < 80)
  }

  test("importanceWeights: target-like docs score above off-target; empty scores 0") {
    val target = Seq((100L, "market prices rose sharply market analysts said"),
      (101L, "stock market trading prices fell analysts warned"))
      .toDF("doc_id", "text")
    val raw = Seq(
      (1L, "market prices rose analysts said prices rose"), // on-target
      (2L, "stock market trading analysts warned trading"), // on-target
      (3L, "zebra quokka wombat axolotl quokka zebra"),     // off-target
      (4L, "axolotl wombat zebra quokka wombat axolotl"),   // off-target
      (5L, ""),                                             // no features
      (6L, null.asInstanceOf[String]))                      // no features
      .toDF("doc_id", "text")
    val w = SamplingFunctions.importanceWeights(raw, target, "doc_id", "text")
      .as[(Long, Double)].collect().toMap
    assert(w.size === 6)
    assert(w(1L) > w(3L) && w(2L) > w(4L),
      s"target-vocabulary docs must outscore alien-vocabulary docs: $w")
    assert(w(5L) === 0.0 && w(6L) === 0.0, "featureless docs score 0, stay visible")
    // partitioning + engine-portable hash path
    val wm = SamplingFunctions.importanceWeights(raw.repartition(5), target,
      "doc_id", "text", hash = DedupFunctions.md5Hash60)
      .as[(Long, Double)].collect().toMap
    assert(wm.keySet === w.keySet)
    assert(wm(1L) > wm(3L))
  }

  test("dsirSample: deterministic Gumbel-top-k selection by hashed noise") {
    val target = Seq((100L, "market prices rose sharply market analysts said"))
      .toDF("doc_id", "text")
    val raw = (1L to 20L).map { i =>
      val text = if (i <= 5) "market prices rose analysts said market prices rose analysts"
      else "zebra quokka wombat axolotl zebra quokka wombat axolotl zebra"
      (i, text)
    }.toDF("doc_id", "text")
    val got = SamplingFunctions.dsirSample(raw, target, "doc_id", "text", k = 4)
    assert(got.columns.toSeq === Seq("doc_id", "text", "log_ratio", "score"))
    val ids = got.select("doc_id").as[Long].collect().toSet
    assert(ids.size === 4)
    // the draw replays: top-4 of the full scored frame by (score, id)
    val all = SamplingFunctions.dsirSample(raw, target, "doc_id", "text", k = 20)
      .select("doc_id", "score").as[(Long, Double)].collect()
    val expect = all.sortBy { case (id, s) => (-s, id) }.take(4).map(_._1).toSet
    assert(ids === expect)
    // partitioning-proof
    val again = SamplingFunctions.dsirSample(raw.repartition(7), target,
      "doc_id", "text", k = 4).select("doc_id").as[Long].collect().toSet
    assert(again === ids)
    // no Window node: selection is the bounded-heap cut
    val plan = got.queryExecution.executedPlan.toString
    assert(!plan.contains("Window"), s"dsirSample must not plan a Window:\n$plan")
  }

  test("epochBlend: whole epochs repeat everyone, fractions cut by hash, scan-local") {
    val df = (1L to 1000L).toDF("id")
      .withColumn("grp", col("id") % 4)
    val eps = when(col("grp") === 0, 2.25).when(col("grp") === 1, 1.0)
      .when(col("grp") === 2, 0.5).otherwise(0.0)
    val out = SamplingFunctions.epochBlend(df, "id", eps)
    val byId = out.groupBy("grp", "id").agg(count(lit(1)).as("n"),
        max("copy").as("mx"))
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> (r.getLong(2), r.getLong(3)))
      .toMap
    // grp 0 (2.25): every id 2 or 3 copies, copy numbering dense from 1
    val g0 = byId.filter(_._1._1 == 0L).values
    assert(g0.forall { case (n, mx) => (n == 2L || n == 3L) && mx == n })
    val thirds = g0.count(_._1 == 3L).toDouble / g0.size
    assert(thirds > 0.15 && thirds < 0.35, s"~25% third copies, got $thirds")
    // grp 1 (1.0): exactly one copy each
    assert(byId.filter(_._1._1 == 1L).values.forall(_ == (1L, 1L)))
    // grp 2 (0.5): surviving ids appear once; roughly half survive
    val g2 = byId.filter(_._1._1 == 2L).values
    assert(g2.forall(_ == (1L, 1L)))
    assert(g2.size > 90 && g2.size < 160, s"~half of 250 survive, got ${g2.size}")
    // grp 3 (0.0): nothing
    assert(!byId.keySet.exists(_._1 == 3L))
    // deterministic: the same call twice is row-identical
    val a = out.collect().map(_.toString).sorted.toSeq
    val b = SamplingFunctions.epochBlend(df, "id", eps).collect()
      .map(_.toString).sorted.toSeq
    assert(a === b)
    // scan-local: no shuffle anywhere
    assert(!out.queryExecution.executedPlan.toString.contains("Exchange"))
  }

  test("negativeSample: k per anchor, never self or same-group, reproducible") {
    val docs = (1L to 40L).map(i => (i, if (i % 3 == 0) "a" else "b"))
      .toDF("doc_id", "source")
    val out = SamplingFunctions.negativeSample(docs, "doc_id", "source",
        k = 4, poolSize = 10)
      .as[(Long, Long, Long)].collect().toList
    val byAnchor = out.groupBy(_._1)
    // every anchor gets AT MOST k (pool may hold fewer cross-group rows)
    assert(byAnchor.values.forall(_.size <= 4))
    assert(byAnchor.size === 40) // here the pool serves every anchor
    val src = docs.as[(Long, String)].collect().toMap
    for ((a, n, _) <- out) {
      assert(a !== n, "self as negative")
      assert(src(a) !== src(n), s"same-source negative: $a -> $n")
    }
    // the draw is a pure function of ids: partitioning cannot change it
    val again = SamplingFunctions.negativeSample(docs.repartition(11),
        "doc_id", "source", k = 4, poolSize = 10)
      .as[(Long, Long, Long)].collect().toList
    assert(again.toSet === out.toSet)
    // negatives come only from the hash-selected pool (bounded set):
    // at most poolSize distinct neg ids across ALL anchors
    assert(out.map(_._2).distinct.size <= 10)
  }

  test("hashLaplace: deterministic, scales with 1/epsilon, matches the inverse CDF by hand") {
    val keys = (0 until 200).map(i => Tuple1(s"k$i")).toDF("k")
    def draw(eps: Double) = keys
      .select(col("k"), SamplingFunctions.hashLaplace(col("k"),
        lit(1.0 / eps)).as("x"))
      .as[(String, Double)].collect().toMap
    val a = draw(1.0); val b = draw(1.0)
    assert(a === b, "same key, same noise — replayable by construction")
    // b = 1/eps is a pure scale on the inverse CDF: doubling eps halves
    // every draw exactly (the paired-sweep property priv4 relies on)
    val half = draw(2.0)
    a.foreach { case (k, x) => assert(math.abs(half(k) - x / 2) < 1e-12) }
    // hand-replay one draw from the documented contract
    val u = {
      val md = java.security.MessageDigest.getInstance("MD5")
      val hex = md.digest("k0".getBytes("UTF-8")).map("%02x".format(_)).mkString
      ((java.lang.Long.parseLong(hex.take(15), 16) % 1000000L) + 0.5) / 1000000.0
    }
    val t = u - 0.5
    val expect = -1.0 * math.signum(t) * math.log(1.0 - 2.0 * math.abs(t))
    assert(math.abs(a("k0") - expect) < 1e-12)
    // both tails occur and the draws are median-centered-ish
    val xs = a.values.toSeq
    assert(xs.count(_ > 0) > 50 && xs.count(_ < 0) > 50)
  }
}
