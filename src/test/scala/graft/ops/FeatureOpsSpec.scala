package graft.ops

import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.TestSpark

/** Pins the pandas-parity window semantics (SURVEY.md §2e): rolling
  * aggregates emit null until the frame is FULL (`min_periods = n`),
  * pct_change yields null on each entity's first row, keep-last dedup is
  * deterministic given a total sequence order.
  */
class FeatureOpsSpec extends AnyFunSuite with graft.CachesScoped {
  private val spark = TestSpark.spark
  import spark.implicits._

  private def series(closes: Seq[Double], ticker: String = "A") =
    closes.zipWithIndex.map { case (c, i) =>
      (ticker, java.sql.Date.valueOf(f"2024-01-${i + 1}%02d"), c)
    }.toDF("ticker", "date", "close")

  test("transform: ma emits null until the frame holds exactly n rows") {
    val df = FeatureOps.transform(series(Seq(1.0, 2.0, 3.0, 4.0, 5.0)),
      maShort = 3, maLong = 4, volWindow = 3)
    val ma3 = df.orderBy("date").select("ma3").as[Option[Double]].collect()
    assert(ma3.toSeq === Seq(None, None, Some(2.0), Some(3.0), Some(4.0)))
    val ma4 = df.orderBy("date").select("ma4").as[Option[Double]].collect()
    assert(ma4.toSeq === Seq(None, None, None, Some(2.5), Some(3.5)))
  }

  test("transform: ret is close/lag(close)-1 with null first row per entity") {
    val two = series(Seq(10.0, 11.0)).union(series(Seq(100.0, 50.0), "B"))
    val df = FeatureOps.transform(two, maShort = 2, maLong = 3, volWindow = 2)
    val ret = df.orderBy("ticker", "date").select("ret").as[Option[Double]].collect()
    assert(ret(0).isEmpty && ret(2).isEmpty)
    assert(math.abs(ret(1).get - 0.1) < 1e-12)
    assert(math.abs(ret(3).get - (-0.5)) < 1e-12)
  }

  test("transform: vol window is sample stddev (ddof=1) like pandas") {
    val df = FeatureOps.transform(series(Seq(1.0, 2.0, 4.0, 8.0)),
      maShort = 2, maLong = 3, volWindow = 2)
    // ret = [null, 1.0, 1.0, 1.0]; vol2 over two equal rets = 0
    val vol = df.orderBy("date").select("vol2").as[Option[Double]].collect()
    assert(vol.toSeq === Seq(None, None, Some(0.0), Some(0.0)))
  }

  test("maExact2dp equals the double moving average on 2-decimal inputs") {
    val w = Window.partitionBy("ticker").orderBy("date")
    val df = series(Seq(10.25, 20.75, 30.50, 41.00))
      .withColumn("ma2", FeatureOps.maExact2dp(col("close"), 2, w))
    val ma = df.orderBy("date").select("ma2").as[Option[Double]].collect()
    assert(ma.toSeq === Seq(None, Some(15.5), Some(25.625), Some(35.75)))
  }

  test("keepLast keeps the highest sequence value per key") {
    val df = Seq(
      ("A", "2024-01-01", 1L, 10.0),
      ("A", "2024-01-01", 3L, 30.0),
      ("A", "2024-01-01", 2L, 20.0),
      ("B", "2024-01-01", 1L, 99.0)
    ).toDF("ticker", "date", "seq", "close")
    val out = FeatureOps.keepLast(df, Seq("ticker", "date"), "seq")
      .orderBy("ticker").select("close").as[Double].collect()
    assert(out.toSeq === Seq(30.0, 99.0))
  }

  test("keepLast multi-column sequence breaks ties deterministically") {
    val df = Seq(
      ("A", 1L, 5L), ("A", 1L, 9L), ("A", 2L, 1L)
    ).toDF("k", "s1", "s2")
    val out = FeatureOps.keepLast(df, Seq("k"), Seq("s1", "s2"))
      .select("s1", "s2").as[(Long, Long)].collect()
    assert(out.toSeq === Seq((2L, 1L))) // s1 dominates s2
  }

  test("gapFillBusinessDays completes the calendar and forward-fills") {
    // Thu 2024-01-04 .. Tue 2024-01-09 with Fri missing and the weekend
    // unobserved; Mon observed null-free
    val df = Seq(
      ("A", "2024-01-04", 10.0), ("A", "2024-01-08", 20.0),
      ("A", "2024-01-09", 30.0))
      .toDF("ticker", "d", "close")
      .select(col("ticker"), to_date(col("d")).as("date"), col("close"))
    val out = FeatureOps.gapFillBusinessDays(df, "ticker", "date", "close")
      .orderBy("date")
      .select(col("date").cast("string"), col("close_filled"), col("was_missing"))
      .as[(String, Double, Boolean)].collect()
    assert(out === Array(
      ("2024-01-04", 10.0, false),
      ("2024-01-05", 10.0, true),   // Friday gap: filled from Thursday
      ("2024-01-08", 20.0, false),  // unobserved weekend adds no rows
      ("2024-01-09", 30.0, false)))
  }

  test("interpolateBusinessDays draws the line between neighbors") {
    // Mon 10, Thu 40 with Tue/Wed missing: Tue = 10 + 30·(1/3) = 20,
    // Wed = 10 + 30·(2/3) = 30. Observed rows pass through untouched.
    val df = Seq(
      ("A", "2024-01-01", 10.0), ("A", "2024-01-04", 40.0))
      .toDF("ticker", "d", "close")
      .select(col("ticker"), to_date(col("d")).as("date"), col("close"))
    val out = FeatureOps.interpolateBusinessDays(df, "ticker", "date", "close")
      .orderBy("date")
      .select(col("date").cast("string"), col("close_interp"), col("was_missing"))
      .as[(String, Double, Boolean)].collect()
    assert(out === Array(
      ("2024-01-01", 10.0, false),
      ("2024-01-02", 20.0, true),
      ("2024-01-03", 30.0, true),
      ("2024-01-04", 40.0, false)))
  }

  test("interpolateBusinessDays: weekend-aware deltas and edge gaps") {
    // Fri 10, next Tue 40: Mon sits 3 calendar days past Friday of a
    // 4-day span -> 10 + 30·(3/4) = 32.5 (time interpolation, not
    // row-position). A trailing business-day gap takes the previous
    // value (no next neighbor); entities interpolate independently.
    val df = Seq(
      ("A", "2024-01-05", Some(10.0)), ("A", "2024-01-09", Some(40.0)),
      ("B", "2024-01-04", Some(7.0)), ("B", "2024-01-05", Option.empty[Double]))
      .toDF("ticker", "d", "close")
      .select(col("ticker"), to_date(col("d")).as("date"), col("close"))
    val out = FeatureOps.interpolateBusinessDays(df, "ticker", "date", "close")
      .orderBy("ticker", "date")
      .select(col("ticker"), col("date").cast("string"),
        col("close_interp"), col("was_missing"))
      .as[(String, String, Double, Boolean)].collect()
    assert(out === Array(
      ("A", "2024-01-05", 10.0, false),
      ("A", "2024-01-08", 32.5, true), // Monday: 3/4 of the way in TIME
      ("A", "2024-01-09", 40.0, false),
      ("B", "2024-01-04", 7.0, false),
      ("B", "2024-01-05", 7.0, true))) // trailing gap: previous value
  }

  test("gapFillBusinessDays keeps weekend observations and fills from them") {
    // Fri observed, Sat observed (weekend session), Mon missing, Tue
    // observed: the Saturday row must survive with its own value and be
    // the fill source for Monday
    val df = Seq(
      ("A", "2024-01-05", 10.0), ("A", "2024-01-06", 15.0),
      ("A", "2024-01-09", 30.0))
      .toDF("ticker", "d", "close")
      .select(col("ticker"), to_date(col("d")).as("date"), col("close"))
    val out = FeatureOps.gapFillBusinessDays(df, "ticker", "date", "close")
      .orderBy("date")
      .select(col("date").cast("string"), col("close_filled"), col("was_missing"))
      .as[(String, Double, Boolean)].collect()
    assert(out === Array(
      ("2024-01-05", 10.0, false),
      ("2024-01-06", 15.0, false),  // Saturday observation kept as-is
      ("2024-01-08", 15.0, true),   // Monday fills from Saturday
      ("2024-01-09", 30.0, false)))
  }

  test("feature stage plans a single exchange for all window columns") {
    val df = FeatureOps.transform(series(Seq(1.0, 2.0, 3.0)),
      maShort = 2, maLong = 3, volWindow = 2)
    val plan = df.queryExecution.executedPlan.toString
    val exchanges = "Exchange hashpartitioning".r.findAllIn(plan).length
    assert(exchanges === 1, s"expected one window exchange, plan:\n$plan")
  }

  test("withEwma matches pandas ewm(adjust=True) on a hand series, truncates at lookback") {
    // pandas: s.ewm(span=20, adjust=True).mean() with alpha = 2/21:
    // t0: 10; t1: (10*(19/21) + 20) / (1 + 19/21)
    val alpha = 2.0 / 21.0
    val om = 1.0 - alpha
    def r6(x: Double) = BigDecimal(x).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    val got = FeatureOps.withEwma(series(Seq(10.0, 20.0, 30.0)),
        "ticker", "date", "close", span = 20, lookback = 20, out = "ewma20")
      .orderBy("date").select("ewma20").as[Double].collect().toSeq
    // left-fold exact expectations: num = Σ x_i (1-α)^(n-1-i), den = (1-(1-α)^n)/α
    def expect(xs: Seq[Double]) = {
      val n = xs.length
      val num = xs.zipWithIndex.foldLeft(0.0) { case (acc, (x, i)) =>
        acc + x * math.pow(om, (n - 1 - i).toDouble)
      }
      r6(num / ((1.0 - math.pow(om, n.toDouble)) / alpha))
    }
    assert(got === Seq(expect(Seq(10.0)), expect(Seq(10.0, 20.0)),
      expect(Seq(10.0, 20.0, 30.0))))
    // cross-check the weighted form against pandas' recursive definition
    val e1 = (10.0 * om + 20.0) / (om + 1.0)
    assert(math.abs(got(1) - e1) < 1e-9)
    // truncation: with lookback = 2 only the last 2 rows weigh in
    val trunc = FeatureOps.withEwma(series(Seq(10.0, 20.0, 30.0)),
        "ticker", "date", "close", span = 20, lookback = 2, out = "e")
      .orderBy("date").select("e").as[Double].collect().toSeq
    assert(trunc(2) === expect(Seq(20.0, 30.0)))
    // per-entity isolation: a second ticker's history never leaks in
    val two = series(Seq(10.0, 20.0)).unionByName(series(Seq(100.0), ticker = "B"))
    val m = FeatureOps.withEwma(two, "ticker", "date", "close", 20, 20, "e")
      .select("ticker", "e").as[(String, Double)].collect()
      .groupBy(_._1).view.mapValues(_.map(_._2).toSet).toMap
    assert(m("B") === Set(100.0))
  }

  test("holtForecast: hand-run recursion, exact decimal state") {
    // series 10, 12, 11, 15 with α=0.5, β=0.3:
    //   t1: l=10, b=0
    //   t2: l=12, b=12−10=2
    //   t3: l=0.5·11 + 0.5·(12+2)=12.5;   b=0.3·(12.5−12)+0.7·2=1.55
    //   t4: l=0.5·15 + 0.5·(12.5+1.55)=14.525
    //       b=0.3·(14.525−12.5)+0.7·1.55=1.6925
    // forecast_5 = 14.525 + 5·1.6925 = 22.9875 — every value exact in
    // decimal, so the equality below is EXACT, not approximate
    val df = Seq(
      ("A", "2024-01-01", 10.0), ("A", "2024-01-02", 12.0),
      ("A", "2024-01-03", 11.0), ("A", "2024-01-04", 15.0),
      ("B", "2024-01-01", 42.0)) // 1-row series: zero trend, self-forecast
      .toDF("ticker", "date", "close")
      .withColumn("date", to_date(col("date")))
    val out = FeatureOps.holtForecast(df, "ticker", "date", "close")
      .orderBy("ticker")
      .as[(String, Long, Double, Double, Double)].collect().toList
    assert(out === List(
      ("A", 4L, 14.525, 1.6925, 22.9875),
      ("B", 1L, 42.0, 0.0, 42.0)))
  }

  test("holtForecast: partitioning-invariant and order-independent input") {
    val base = (1 to 30).map(i => ("T", f"2024-01-$i%02d", 100.0 + (i % 7)))
    val df = spark.createDataFrame(scala.util.Random.shuffle(base))
      .toDF("ticker", "date", "close")
      .withColumn("date", to_date(col("date")))
    val a = FeatureOps.holtForecast(df, "ticker", "date", "close")
      .as[(String, Long, Double, Double, Double)].head()
    val b = FeatureOps.holtForecast(df.repartition(13), "ticker", "date", "close")
      .as[(String, Long, Double, Double, Double)].head()
    assert(a === b) // the fold sorts by time inside the group — layout-free
  }

  test("theilSenTrend: exact line recovered; one outlier cannot drag it") {
    // clean: y = 2x + 5 on days 1..9 → every pairwise slope is exactly
    // 2, median residual exactly 5
    val clean = (1 to 9).map(i => ("A", f"2024-01-$i%02d", 2.0 * i + 5.0))
    // dirty: same line but day 5 spiked to 1000 — OLS slope would fly;
    // the pairwise-slope MEDIAN stays at 2 (only 8 of 36 pairs touch
    // the outlier)
    val dirty = (1 to 9).map(i =>
      ("B", f"2024-01-$i%02d", if (i == 5) 1000.0 else 2.0 * i + 5.0))
    val df = spark.createDataFrame(clean ++ dirty).toDF("ticker", "date", "close")
      .withColumn("date", to_date(col("date")))
    // epoch at the series start so the intercept is the line's own
    // constant: x = i-1, y = 2(x+1)+5 = 2x + 7
    val out = FeatureOps.theilSenTrend(df, "ticker", "date", "close",
        epoch = "2024-01-01")
      .as[(String, Long, Long, Double, Double)].collect().toList
    assert(out.head === (("A", 9L, 36L, 2.0, 7.0)))
    val b = out(1)
    assert(b._1 === "B" && b._4 === 2.0, s"outlier dragged the slope: $b")
    // a 1-row entity has no pairs and must not appear
    val one = Seq(("C", "2024-01-01", 1.0)).toDF("ticker", "date", "close")
      .withColumn("date", to_date(col("date")))
    assert(FeatureOps.theilSenTrend(one, "ticker", "date", "close").count() === 0L)
  }

  test("kalmanLevel: hand-run step with the truncated gain") {
    // z = [10, 12], q = 0.01, r = 1:
    //   t1: x=10, p=1, g=null
    //   t2: p̂=1.01; g = floor(1.01/2.01·1e8)/1e8 = 0.50248756
    //       x = 10 + round(g·2, 8)           = 11.00497512
    //       p = round((1−g)·1.01, 8)         = 0.50248756
    val df = Seq(("A", "2024-01-01", 10.0), ("A", "2024-01-02", 12.0))
      .toDF("ticker", "date", "close")
      .withColumn("date", to_date(col("date")))
    val out = FeatureOps.kalmanLevel(df, "ticker", "date", "close")
      .as[(String, Long, Double, Double, Double)].head()
    assert(out === (("A", 2L, 11.00497512, 0.50248756, 0.50248756)))
  }

  test("kalmanLevel: smooths toward the data; partitioning-invariant") {
    // constant series: the level IS the constant, any gain
    val flat = (1 to 20).map(i => ("F", f"2024-01-$i%02d", 55.0))
    val noisy = (1 to 20).map(i =>
      ("N", f"2024-01-$i%02d", if (i % 2 == 0) 60.0 else 50.0))
    val df = spark.createDataFrame(flat ++ noisy).toDF("ticker", "date", "close")
      .withColumn("date", to_date(col("date")))
    val out = FeatureOps.kalmanLevel(df, "ticker", "date", "close")
      .as[(String, Long, Double, Double, Double)].collect().toList
    assert(out.head._3 === 55.0) // flat series: exact
    val n = out(1)
    assert(n._3 > 50.0 && n._3 < 60.0, s"level should sit between the rails: $n")
    // steady-state gain for q=.01, r=1: g* = (q + sqrt(q² + 4qr)) / ... ≈ 0.0951
    assert(n._5 > 0.05 && n._5 < 0.2, s"gain should approach steady state: $n")
    val repart = FeatureOps.kalmanLevel(df.repartition(9), "ticker", "date", "close")
      .as[(String, Long, Double, Double, Double)].collect().toList
    assert(repart === out)
  }

  test("spearmanCorr: monotone transform gives 1, reversal -1, ties average") {
    val rows = Seq(
      // M: y = x³ (monotone, nonlinear — Pearson < 1, Spearman = 1)
      ("M", 1.0, 1.0), ("M", 2.0, 8.0), ("M", 3.0, 27.0), ("M", 4.0, 64.0),
      // R: strictly reversed
      ("R", 1.0, 4.0), ("R", 2.0, 3.0), ("R", 3.0, 2.0), ("R", 4.0, 1.0),
      // T: x ties average — ranks (1.5, 1.5, 3) vs (1, 2, 3) → ρ ≈ 0.866025
      ("T", 1.0, 1.0), ("T", 1.0, 2.0), ("T", 2.0, 3.0)
    ).toDF("e", "x", "y")
    val out = FeatureOps.spearmanCorr(rows, "e", "x", "y")
      .as[(String, Long, Double)].collect().toList
    assert(out === List(("M", 4L, 1.0), ("R", 4L, -1.0), ("T", 3L, 0.866025)))
  }

  test("spearmanCorr is partitioning-invariant") {
    val rows = (1 to 40).map(i => ("E", i.toDouble, ((i * 7) % 11).toDouble))
    val df = rows.toDF("e", "x", "y")
    val a = FeatureOps.spearmanCorr(df, "e", "x", "y").collect().toList
    val b = FeatureOps.spearmanCorr(df.repartition(13), "e", "x", "y")
      .collect().toList
    assert(a === b)
  }

  test("leadLagCorr: a shifted copy correlates perfectly at exactly its lag") {
    // B(t) = A(t−2): A at t correlates 1.0 with B lagged −2 (B's future)
    val base = (1 to 30).map(i => (i, math.sin(i * 0.7) * 10))
    val a = base.map { case (i, v) => ("A", i, v) }
    val b = base.map { case (i, v) => ("B", i + 2, v) }
    val df = (a ++ b).toDF("e", "t", "v")
    val out = FeatureOps.leadLagCorr(df, "e", "t", "v", maxLag = 3)
      .as[(String, String, Int, Long, Double)].collect().toList
    val perfect = out.filter(_._5 == 1.0).map(_._3)
    assert(perfect === List(-2)) // only k = −2 aligns the series exactly
    assert(out.map(_._3).sorted === (-3 to 3).toList)
  }

  test("hurstRS: alternating series H = 0 exactly; ramp is strongly persistent") {
    // alternating ±1: every block has R/S = 1 at every size → both
    // ln points are (ln S, 0) → slope EXACTLY 0
    val alt = (1 to 16).map(i => ("A", i, if (i % 2 == 1) 1L else -1L))
    val ramp = (1 to 16).map(i => ("R", i, i.toLong))
    val df = (alt ++ ramp).toDF("e", "t", "x")
    val out = FeatureOps.hurstRS(df, "e", "t", "x", sizes = Seq(4, 8))
    assert(out.columns.toSeq === Seq("e", "size", "n_blocks", "mean_rs",
      "ln_s", "ln_rs", "hurst"))
    val rows = out.as[(String, Int, Long, Double, Double, Double, Double)]
      .collect().toList
    val altRows = rows.filter(_._1 == "A")
    assert(altRows.map(r => (r._2, r._3, r._4)) ===
      List((4, 4L, 1.0), (8, 2L, 1.0))) // 16/4 and 16/8 full blocks, R/S=1
    assert(altRows.forall(_._7 === 0.0))
    // monotone ramp: every length-S block is the same shifted ramp;
    // hand-derived (S·cum_k = S·prefix_k − k·B): S=4 range 8 → R=2,
    // σ=√1.25; S=8 range 64 → R=8, σ=√5.25
    def r6d(x: Double) =
      BigDecimal(x).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    val rs4 = r6d(2.0 / math.sqrt(1.25)); val rs8 = r6d(8.0 / math.sqrt(5.25))
    val rampRows = rows.filter(_._1 == "R")
    assert(rampRows.map(r => (r._2, r._4)) === List((4, rs4), (8, rs8)))
    val h = rampRows.head._7
    assert(h > 0.9 && h < 1.0, s"ramp H out of band: $h")
    // partitioning-invariant (exact integer/decimal core)
    val again = FeatureOps.hurstRS(df.repartition(7), "e", "t", "x",
      sizes = Seq(4, 8)).collect().toList
    assert(again === out.collect().toList)
  }
}
