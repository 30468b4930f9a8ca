package graft.ops

import org.apache.spark.sql.functions.{col, to_date}
import org.scalatest.funsuite.AnyFunSuite
import graft.TestSpark

class ValidationOpsSpec extends AnyFunSuite with graft.CachesScoped {
  private val spark = TestSpark.spark
  import spark.implicits._

  /** (ticker, day-of-January, close, volume) rows as a raw price slice. */
  private def slice(rows: (String, Int, Option[Double], Option[Long])*) =
    rows.toDF("ticker", "day", "close", "volume")
      .selectExpr("ticker", "make_date(2024, 1, day) AS date", "close", "volume")

  /** The fused report over `raw`, cleaned the way the runner cleans it. */
  private def checks(raw: org.apache.spark.sql.DataFrame) =
    ValidationOps.basicChecks(raw, raw.dropDuplicates("ticker", "date"))

  test("basicChecks counts nulls per column of the raw slice in one pass") {
    val raw = slice(("A", 1, Some(1.0), Some(10L)), ("A", 2, None, Some(20L)),
      ("A", 3, Some(3.0), None), ("A", 4, None, None))
    assert(checks(raw).nullCounts ===
      Seq("ticker" -> 0L, "date" -> 0L, "close" -> 2L, "volume" -> 2L))
  }

  test("basicChecks counts EVERY member of a duplicate key group on the raw slice") {
    val raw = slice(("A", 1, Some(1.0), Some(1L)), ("A", 1, Some(1.0), Some(1L)),
      ("A", 1, Some(2.0), Some(1L)), ("B", 1, Some(1.0), Some(1L)),
      ("B", 1, Some(1.0), Some(1L)), ("C", 1, Some(1.0), Some(1L)))
    val c = checks(raw)
    assert(c.duplicateRows === 5L)
    assert(c.rows === 3L) // the cleaned slice keeps one row per key
  }

  test("duplicateRowCount counts EVERY member of a duplicate group (pandas keep=False)") {
    val df = Seq(
      ("A", "d1"), ("A", "d1"), ("A", "d1"), // group of 3
      ("B", "d1"), ("B", "d1"),              // group of 2
      ("C", "d1")                            // singleton
    ).toDF("ticker", "date")
    assert(ValidationOps.duplicateRowCount(df, Seq("ticker", "date")) === 5L)
  }

  test("duplicateRowCount is 0 with no duplicates") {
    val df = Seq(("A", "d1"), ("B", "d1")).toDF("ticker", "date")
    assert(ValidationOps.duplicateRowCount(df, Seq("ticker", "date")) === 0L)
  }

  test("basicChecks fuses violation counts and pooled return moments") {
    // A's returns are 0.1 and 0.3; B's single row has none
    val c = checks(slice(("A", 1, Some(10.0), Some(5L)), ("A", 2, Some(11.0), Some(0L)),
      ("A", 3, Some(14.3), Some(7L)), ("B", 1, Some(-1.0), Some(-2L))))
    assert(c.rows === 4L)
    assert(c.nonPositiveClose === 1L)
    assert(c.negativeVolume === 1L)
    assert(math.abs(c.retMean.get - 0.2) < 1e-12)
    // sample stddev of {0.1, 0.3} = sqrt(0.02) ≈ 0.14142…
    assert(math.abs(c.retStd.get - math.sqrt(0.02)) < 1e-12)
  }

  test("withZScore standardizes against POOLED mean/std, not per-entity") {
    val df = Seq(("A", 1.0), ("A", 3.0), ("B", 1.0), ("B", 3.0)).toDF("ticker", "ret")
    val z = ValidationOps.withZScore(df, "ret", "z")
      .orderBy("ticker", "ret").select("z").as[Double].collect()
    // pooled mean=2, sample std = sqrt(4/3)
    val sd = math.sqrt(4.0 / 3.0)
    assert(z.toSeq.zip(Seq(-1 / sd, 1 / sd, -1 / sd, 1 / sd))
      .forall { case (a, b) => math.abs(a - b) < 1e-12 })
  }

  test("missingBusinessDays expands Mon-Fri between each entity's span") {
    // A: Mon 2024-01-01 .. Mon 2024-01-08, observed Mon/Thu/Mon →
    // missing Tue 02, Wed 03, Fri 05 (Sat/Sun excluded)
    val df = Seq(
      ("A", "2024-01-01"), ("A", "2024-01-04"), ("A", "2024-01-08"),
      ("B", "2024-01-01"), ("B", "2024-01-02")
    ).toDF("ticker", "d").selectExpr("ticker", "CAST(d AS DATE) AS date")
    val out = ValidationOps.missingBusinessDays(df, "ticker", "date")
      .orderBy("ticker").as[(String, Long)].collect()
    assert(out.toSeq === Seq(("A", 3L))) // B has a complete span → absent
  }

  test("basicChecks flags |z| above threshold and counts missing business days") {
    // 99 returns of 1%, then one of +1000%; A skips Tue 2024-01-02
    val closes = (1 to 99).scanLeft(100.0)((c, _) => c * 1.01)
    val a = (closes :+ closes.last * 11).zipWithIndex.map { case (c, i) =>
      ("A", java.time.LocalDate.of(2024, 1, 1).plusDays(i + (if (i >= 1) 1 else 0)).toString, c)
    }
    val raw = a.toDF("ticker", "d", "close")
      .selectExpr("ticker", "CAST(d AS DATE) AS date", "close", "1L AS volume")
    val c = checks(raw)
    assert(c.extremeMoves === 1L)
    assert(c.missingBusinessDays === ValidationOps.missingBusinessDays(raw)
      .as[(String, Long)].collect().toSeq)
    assert(c.missingBusinessDays.head === ("A" -> 1L))
  }

  test("madOutliers: hand-checked median/MAD; spike counted, mean-robust") {
    // A: values 1..9 plus one fat-finger 1000. median of the 10 values is
    // 5.5; |dev| = {4.5,3.5,2.5,1.5,0.5,0.5,1.5,2.5,3.5,994.5} → MAD 2.5.
    // k=5 → cut 12.5: only the 1000 is outside. A pooled z-score with the
    // same data yields stddev ≈ 314 — the spike would hide itself.
    val a = (1 to 9).map(v => ("A", v.toDouble)) :+ ("A", 1000.0)
    val b = Seq(("B", 2.0), ("B", 2.0), ("B", 2.0)) // MAD 0: nothing beats 0*k
    val out = ValidationOps.madOutliers((a ++ b).toDF("ticker", "close"),
        "ticker", "close", k = 5.0)
      .as[(String, Long, Double, Double, Long)].collect().toList
    assert(out === List(("A", 10L, 5.5, 2.5, 1L), ("B", 3L, 2.0, 0.0, 0L)))
  }

  test("cusumDrift: hand-run two-sided recursion, alarms at h = 1σ") {
    // A: four zeros then a spike of 10 — mu=2, σ=√20≈4.472136;
    //    k=2.236068, h=4.472136. s⁺ fires only on the spike row:
    //    s⁺₅ = 10 − 2 − 2.236068 = 5.763932 > h → exactly one alarm.
    // B: five zeros then five ones (a level shift) — mu=0.5,
    //    σ=0.527046, k=0.263523, h=0.527046. s⁻ ramps 0.236477/row
    //    (alarming rows 3-5), drains after the shift; s⁺ ramps on the
    //    ones (alarming rows 8-10) → 6 alarms, both maxima 1.182385.
    val rows =
      (1 to 5).map(i => ("A", f"2024-01-$i%02d", if (i == 5) 10.0 else 0.0)) ++
      (1 to 10).map(i => ("B", f"2024-01-$i%02d", if (i <= 5) 0.0 else 1.0))
    val df = spark.createDataFrame(rows).toDF("ticker", "date", "x")
      .withColumn("date", to_date(col("date")))
    val out = ValidationOps.cusumDrift(df, "ticker", "date", "x",
        kSigma = 0.5, hSigma = 1.0)
      .as[(String, Long, Double, Double, Double, Double, Long)]
      .collect().toList
    assert(out === List(
      ("A", 5L, 2.0, 4.472136, 5.763932, 0.0, 1L),
      ("B", 10L, 0.5, 0.527046, 1.182385, 1.182385, 6L)))
    // partitioning invariance: the fold sorts inside the group
    val out2 = ValidationOps.cusumDrift(df.repartition(7), "ticker", "date", "x",
        kSigma = 0.5, hSigma = 1.0)
      .as[(String, Long, Double, Double, Double, Double, Long)]
      .collect().toList
    assert(out2 === out)
  }

  test("histogramInt: exact integer bins, ceil edges, clip accounting") {
    // 1..50 once each into 7 bins: widths follow the ceil-edge math
    // (bin 0 = 1..8, bin 1 = 9..15, ..., bin 6 = 43..50)
    val df = (1L to 50L).toDF("q")
    val out = ValidationOps.histogramInt(df, "q", lo = 1L, hi = 50L, buckets = 7)
      .as[(Long, Long, Long, Long, Long)].collect().toList
    assert(out.map(r => (r._1, r._2, r._3)) === List(
      (0L, 1L, 8L), (1L, 9L, 15L), (2L, 16L, 22L), (3L, 23L, 29L),
      (4L, 30L, 36L), (5L, 37L, 43L), (6L, 44L, 50L)))
    // bin populations = widths; edges partition [1,50] with no gap
    assert(out.map(r => r._3 - r._2 + 1) === out.map(_._4))
    assert(out.map(_._4).sum === 50L)
    assert(out.forall(_._5 === 0L))
    // out-of-range rows clamp into the edge bins and are counted
    val clipped = ValidationOps.histogramInt(
      (Seq(-5L, 0L, 99L) ++ (1L to 50L)).toDF("q"), "q", 1L, 50L, 7)
      .as[(Long, Long, Long, Long, Long)].collect().toList
    assert(clipped.head._4 === 10L && clipped.head._5 === 2L)  // bin 0: 8 + 2 clipped
    assert(clipped.last._4 === 8L && clipped.last._5 === 1L)   // bin 6: 7 + 1 clipped
  }

  test("mannKendall: monotone series hit ±S_max; all-ties zero out") {
    def r6(x: Double): Double =
      BigDecimal(x).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    val rows =
      (1 to 10).map(i => ("A", f"2024-01-$i%02d", i.toDouble)) ++      // strictly up
      (1 to 10).map(i => ("B", f"2024-01-$i%02d", -i.toDouble)) ++     // strictly down
      (1 to 5).map(i => ("C", f"2024-01-$i%02d", 7.0))                 // constant
    val df = spark.createDataFrame(rows).toDF("ticker", "date", "x")
      .withColumn("date", to_date(col("date")))
    val out = ValidationOps.mannKendall(df, "ticker", "date", "x")
      .as[(String, Long, Long, Double, Double, String)].collect().toList
    // A: S = C(10,2) = 45, no ties: Var = 10·9·25/18 = 125
    val varA = 125.0
    assert(out(0) === (("A", 10L, 45L, varA, r6(44.0 / math.sqrt(varA)), "increasing")))
    assert(out(1) === (("B", 10L, -45L, varA, r6(-44.0 / math.sqrt(varA)), "decreasing")))
    // C: every pair tied → S = 0; the tie term cancels Var to 0; z = 0
    assert(out(2) === (("C", 5L, 0L, 0.0, 0.0, "no trend")))
  }

  test("cusumDrift: constant series (σ=0) never alarms; nulls drop") {
    val df = Seq(("C", "2024-01-01", Some(5.0)), ("C", "2024-01-02", Some(5.0)),
        ("C", "2024-01-03", None), ("C", "2024-01-04", Some(5.0)))
      .toDF("ticker", "date", "x")
      .withColumn("date", to_date(col("date")))
    val out = ValidationOps.cusumDrift(df, "ticker", "date", "x")
      .as[(String, Long, Double, Double, Double, Double, Long)].head()
    assert(out === (("C", 3L, 5.0, 0.0, 0.0, 0.0, 0L)))
  }

  test("ksTwoSample: identical samples give D=0, disjoint give D=1; one-sided entities drop") {
    val df = Seq(
      // E1: A and B identical (with a tie inside each) → D = 0
      ("E1", 1.0, false), ("E1", 2.0, false), ("E1", 2.0, false),
      ("E1", 1.0, true), ("E1", 2.0, true), ("E1", 2.0, true),
      // E2: disjoint supports → D = 1 at the gap
      ("E2", 1.0, false), ("E2", 2.0, false),
      ("E2", 5.0, true), ("E2", 6.0, true), ("E2", 7.0, true),
      // E3: only sample A present → undefined, dropped
      ("E3", 1.0, false)
    ).toDF("e", "v", "b")
    val out = ValidationOps.ksTwoSample(df, "e", "v", "b")
      .as[(String, Long, Long, Long, Double)].collect().toList
    assert(out === List(
      ("E1", 3L, 3L, 0L, 0.0),
      ("E2", 2L, 3L, 6L, 1.0))) // d_num = |2·3 − 0·2| = 6; 6/(2·3) = 1
  }

  test("ksTwoSample: hand-checked mid-distribution sup with ties") {
    // A = {1,2,3,4}, B = {3,4,5,6}: sup at v=2 → |2·4 − 0·4| = 8, D = 0.5
    val df = ((1 to 4).map(v => ("E", v.toDouble, false)) ++
      (3 to 6).map(v => ("E", v.toDouble, true))).toDF("e", "v", "b")
    val out = ValidationOps.ksTwoSample(df, "e", "v", "b")
      .as[(String, Long, Long, Long, Double)].head()
    assert(out === (("E", 4L, 4L, 8L, 0.5)))
  }

  test("chiSquareIndependence: independent 2x2 gives chi2=0; dof and V check") {
    // perfectly proportional table → expected == observed everywhere
    val rows = Seq.fill(10)(("a1", "b1")) ++ Seq.fill(20)(("a1", "b2")) ++
      Seq.fill(30)(("a2", "b1")) ++ Seq.fill(60)(("a2", "b2"))
    val out = ValidationOps.chiSquareIndependence(
        rows.toDF("a", "b"), "a", "b")
      .as[(Long, Long, Double, Double)].head()
    assert(out === ((120L, 1L, 0.0, 0.0)))
  }

  test("chiSquareIndependence: deterministic association (diagonal) maxes Cramér's V") {
    val rows = Seq.fill(7)(("x", "p")) ++ Seq.fill(5)(("y", "q"))
    val out = ValidationOps.chiSquareIndependence(
        rows.toDF("a", "b"), "a", "b")
      .as[(Long, Long, Double, Double)].head()
    assert(out._1 === 12L && out._2 === 1L)
    assert(out._3 === 12.0) // chi2 = N for a perfect 2x2 association
    assert(out._4 === 1.0)  // V = sqrt(N/(N·1)) = 1
  }

  test("expectations: every constraint type counts its planted violations; row-local ones fuse into one scan") {
    import ValidationOps._
    val df = Seq(
      (1L, Some(10.0), Some("AB")),
      (2L, Some(99.0), Some("zz")),   // in_range + matches violations
      (2L, Some(20.0), None),         // unique dup (with row above) + not_null
      (3L, None, Some("CD"))          // range ignores null
    ).toDF("id", "v", "code")
    val ref = Seq(1L, 2L).toDF("k") // id=3 violates ref_in
    val out = expectations(df, Seq(
        ExpectNotNull("code"),
        ExpectInRange("v", 0, 50),
        ExpectMatches("code", "[A-Z]+"),
        ExpectUnique(Seq("id")),
        ExpectRefIn("id", ref, "k")))
      .as[(String, String, Long, Boolean)].collect().toList
    assert(out === List(
      ("in_range", "v", 1L, false),
      ("matches", "code", 1L, false),
      ("not_null", "code", 1L, false),
      ("ref_in", "id", 1L, false),
      ("unique", "id", 2L, false))) // keep=False: BOTH dup members count
    // a clean table passes everything
    val clean = expectations(Seq((1L, Some(1.0), Some("A"))).toDF("id", "v", "code"),
        Seq(ExpectNotNull("code"), ExpectInRange("v", 0, 50),
          ExpectMatches("code", "[A-Z]+"), ExpectUnique(Seq("id")),
          ExpectRefIn("id", ref, "k")))
      .as[(String, String, Long, Boolean)].collect().toList
    assert(clean.forall(r => r._3 == 0L && r._4))
    // the three row-local constraints share ONE aggregate (one scan):
    // exactly one HashAggregate pair over the input in the fused branch
    val fusedPlan = expectations(df, Seq(ExpectNotNull("code"),
        ExpectInRange("v", 0, 50), ExpectMatches("code", "[A-Z]+")))
      .queryExecution.executedPlan.toString
    assert(!fusedPlan.contains("Union"), fusedPlan) // no per-check branches
  }

  test("weightedMedian: exact boundary crossing picks the LOWER median") {
    val df = Seq(
      // total 10; cum at v=1 is 5 → 2·5 ≥ 10 picks v=1 (lower median)
      ("T1", 1.0, 5L), ("T1", 2.0, 3L), ("T1", 3.0, 2L),
      // heavy tail value wins outright
      ("T2", 1.0, 1L), ("T2", 9.0, 99L),
      // zero/null weights drop
      ("T3", 1.0, 0L), ("T3", 2.0, 4L)
    ).toDF("e", "v", "w")
    val out = ValidationOps.weightedMedian(df, "e", "v", "w")
      .as[(String, Long, Double)].collect().toList
    assert(out === List(("T1", 10L, 1.0), ("T2", 100L, 9.0), ("T3", 4L, 2.0)))
  }
}
