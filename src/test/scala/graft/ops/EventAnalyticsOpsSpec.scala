package graft.ops

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.TestSpark

class EventAnalyticsOpsSpec extends AnyFunSuite with graft.CachesScoped {
  private val spark = TestSpark.spark
  import spark.implicits._

  private def ev(rows: (Long, String, String)*) =
    rows.toDF("user_id", "event_type", "t")
      .withColumn("ts", to_timestamp(col("t")))
      .drop("t")

  test("funnel: steps must happen in order, firsts chained strictly") {
    // u1 completes view->click->purchase in order.
    // u2 purchases BEFORE clicking: reaches click, not purchase.
    // u3 clicks before viewing, clicks again after: reaches click via the
    //    second click (first qualifying = first click AFTER first view).
    // u4 only views.
    val events = ev(
      (1L, "view", "2024-01-01 10:00:00"),
      (1L, "click", "2024-01-01 10:05:00"),
      (1L, "purchase", "2024-01-01 10:10:00"),
      (2L, "view", "2024-01-01 09:00:00"),
      (2L, "purchase", "2024-01-01 09:30:00"),
      (2L, "click", "2024-01-01 10:00:00"),
      (3L, "click", "2024-01-01 08:00:00"),
      (3L, "view", "2024-01-01 08:30:00"),
      (3L, "click", "2024-01-01 09:00:00"),
      (4L, "view", "2024-01-01 07:00:00"))
    val out = EventAnalyticsOps.funnel(events, Seq("view", "click", "purchase"))
      .orderBy("step_idx")
      .collect().map(r => (r.getInt(0), r.getString(1), r.getLong(2), r.getDouble(3)))
    assert(out === Array(
      (1, "view", 4L, 1.0),
      (2, "click", 3L, 0.75),
      (3, "purchase", 1L, 0.333333)))
  }

  test("funnel: simultaneous timestamps do not advance (strict >)") {
    val events = ev(
      (1L, "view", "2024-01-01 10:00:00"),
      (1L, "click", "2024-01-01 10:00:00"))
    val out = EventAnalyticsOps.funnel(events, Seq("view", "click"))
      .orderBy("step_idx").collect()
    assert(out.map(_.getLong(2)).toSeq === Seq(1L, 0L))
  }

  test("cohortRetention: offsets measured from the cohort Monday") {
    // 2024-01-01 is a Monday. u1 first seen wk0, active wk0 and wk2
    // (twice in wk2 — distinct collapses); u2 first seen wk1, active wk1.
    val events = ev(
      (1L, "view", "2024-01-03 10:00:00"),
      (1L, "click", "2024-01-16 10:00:00"),
      (1L, "view", "2024-01-17 10:00:00"),
      (2L, "view", "2024-01-10 10:00:00"))
    val out = EventAnalyticsOps.cohortRetention(events)
      .orderBy("cohort_week", "week_offset")
      .collect()
      .map(r => (r.getDate(0).toString, r.getInt(1), r.getLong(2), r.getDouble(3)))
    assert(out === Array(
      ("2024-01-01", 0, 1L, 1.0),
      ("2024-01-01", 2, 1L, 1.0),
      ("2024-01-08", 0, 1L, 1.0)))
  }

  test("stickiness: trailing-7-day WAU window, inclusive of today") {
    val events = ev(
      (1L, "view", "2024-01-01 10:00:00"),
      (3L, "view", "2024-01-02 10:00:00"),
      (1L, "view", "2024-01-05 10:00:00"),
      (2L, "view", "2024-01-05 11:00:00"),
      (1L, "view", "2024-01-05 12:00:00")) // same user same day -> 1 DAU
    val out = EventAnalyticsOps.stickiness(events)
      .orderBy("day").collect()
      .map(r => (r.getDate(0).toString, r.getLong(1), r.getLong(2), r.getDouble(3)))
    assert(out === Array(
      ("2024-01-01", 1L, 1L, 1.0),
      ("2024-01-02", 1L, 2L, 0.5),
      ("2024-01-05", 2L, 3L, 0.666667)))
  }

  test("funnel leaves no persisted blocks behind") {
    val before = spark.sparkContext.getPersistentRDDs.keySet
    val events = ev((1L, "view", "2024-01-01 10:00:00"))
    EventAnalyticsOps.funnel(events, Seq("view", "click")).collect()
    // unpersist(blocking=false) is async; give the executor a beat
    val deadline = System.nanoTime() + 5e9.toLong
    while (spark.sparkContext.getPersistentRDDs.keySet.diff(before).nonEmpty
           && System.nanoTime() < deadline) Thread.sleep(50)
    assert(spark.sparkContext.getPersistentRDDs.keySet.diff(before).isEmpty)
  }

  test("transitionMatrix: per-user chains, tie-broken by event_id") {
    // user 1: view -> click -> buy; user 2: view -> view (two events at
    // the SAME timestamp — event_id order decides: 21 view, then 22 view)
    // transitions: view->click 1, click->buy 1, view->view 1
    val ev = Seq(
      (11L, "2024-01-01 10:00:00", 1L, "view"),
      (12L, "2024-01-01 10:05:00", 1L, "click"),
      (13L, "2024-01-01 10:06:00", 1L, "buy"),
      (21L, "2024-01-01 09:00:00", 2L, "view"),
      (22L, "2024-01-01 09:00:00", 2L, "view"))
      .toDF("event_id", "ts", "user_id", "event_type")
      .withColumn("ts", col("ts").cast("timestamp"))
    val out = EventAnalyticsOps.transitionMatrix(ev)
      .as[(String, String, Long, Double)].collect().toList
    assert(out === List(
      ("click", "buy", 1L, 1.0),
      ("view", "click", 1L, 0.5),
      ("view", "view", 1L, 0.5)))
    // a single-event user contributes no transitions
    val one = ev.union(Seq((31L, "2024-01-01 11:00:00", 3L, "solo"))
      .toDF("event_id", "ts", "user_id", "event_type")
      .withColumn("ts", col("ts").cast("timestamp")))
    assert(!EventAnalyticsOps.transitionMatrix(one)
      .select("from_type").as[String].collect().contains("solo"))
  }

  test("kaplanMeier: hand-computed curve with ties, censoring between steps, all-censored group") {
    val lt = Seq(
      // A: N=6 — death@1, censor@2, two deaths@3 (tie), censor@4, death@5
      ("A", 1L, true), ("A", 2L, false), ("A", 3L, true),
      ("A", 3L, true), ("A", 4L, false), ("A", 5L, true),
      // B: fully censored → contributes NO curve rows
      ("B", 1L, false), ("B", 2L, false)
    ).toDF("g", "dur", "ev")
    val out = EventAnalyticsOps.kaplanMeier(lt, "g", "dur", "ev")
      .as[(String, Long, Long, Long, Double)].collect().toList
    assert(out === List(
      // S(1) = 5/6 floor-truncated at 8dp
      ("A", 1L, 6L, 1L, 0.83333333),
      // S(3) = 0.83333333 · 0.5 = 0.416666665 → HALF_UP → 0.41666667
      // (risk set 4: the t=2 censor left BEFORE t=3)
      ("A", 3L, 4L, 2L, 0.41666667),
      // S(5): last subject dies → 0 (the t=4 censor shrank n to 1)
      ("A", 5L, 1L, 1L, 0.0)))
  }

  test("kaplanMeier: censoring at a death time keeps the censored subject at risk") {
    val lt = Seq(("G", 1L, true), ("G", 1L, false), ("G", 2L, true))
      .toDF("g", "dur", "ev")
    val out = EventAnalyticsOps.kaplanMeier(lt, "g", "dur", "ev")
      .as[(String, Long, Long, Long, Double)].collect().toList
    // at t=1 ALL THREE are at risk (deaths precede censoring on ties):
    // S(1) = 2/3 = 0.66666666 (floor-trunc); at t=2 only one remains
    assert(out === List(("G", 1L, 3L, 1L, 0.66666666), ("G", 2L, 1L, 1L, 0.0)))
  }

  test("activityConcentration: hand-solved Gini and top-share cuts from the histogram") {
    // per-user counts 1, 1, 2, 6 — ascending ranks give
    // A = 1+2+6+24 = 33, S = 10, n = 4 → Gini = (66 − 50)/40 = 0.4;
    // top-25% (k=1) share = 6/10, top-50% (k=2) share = 8/10. The
    // duplicate count 1 exercises the histogram-run arithmetic.
    val events = (Seq.fill(1)(1L) ++ Seq.fill(1)(2L) ++ Seq.fill(2)(3L) ++
      Seq.fill(6)(4L)).toDF("user_id")
    val out = EventAnalyticsOps
      .activityConcentration(events, topPcts = Seq(25, 50))
      .as[(Long, Long, Double, Double, Double)].collect().toList
    assert(out === List((4L, 10L, 0.4, 0.6, 0.8)))
    // a top-percent below one entity still takes at least the single
    // most active entity (k = max(1, ⌊n·pct/100⌋))
    val one = EventAnalyticsOps
      .activityConcentration(events, topPcts = Seq(1))
      .as[(Long, Long, Double, Double)].collect().head
    assert(one._4 === 0.6)
  }

  test("activityConcentration plan: the only data-sized shuffles are the two hash aggs") {
    // the scale claim: entity counts and the count-of-counts histogram
    // shuffle ONCE each; everything after runs on histogram-sized (and
    // then 1-row) frames — no entity-cardinality sort or window exists
    val events = (1L to 100L).map(i => Tuple1(i % 7)).toDF("user_id")
    val plan = EventAnalyticsOps.activityConcentration(events)
      .queryExecution.executedPlan.toString
    val ex = "Exchange hashpartitioning".r.findAllIn(plan).length
    assert(ex === 2, s"expected exactly 2 hash exchanges, plan:\n$plan")
  }

  test("dailyCountAnomalies: MAD gate flags the spike; zero MAD flags any deviation") {
    def day(d: Int) = f"2024-01-$d%02d 12:00:00"
    val rows = // type a: counts 10,10,10,10,100 (MAD 0); b: 8,10,12,14,16 (MAD 2)
      (1 to 5).flatMap(d => Seq.fill(if (d == 5) 100 else 10)((1L, "a", day(d)))) ++
      (1 to 5).flatMap(d => Seq.fill(6 + 2 * d)((1L, "b", day(d))))
    val out = EventAnalyticsOps.dailyCountAnomalies(ev(rows: _*))
      .selectExpr("event_type", "CAST(day AS STRING)", "n", "median_n", "mad",
        "is_anomaly")
      .as[(String, String, Long, Double, Double, Boolean)].collect().toList
    val anomalies = out.filter(_._6).map(r => (r._1, r._2))
    assert(anomalies === List(("a", "2024-01-05"))) // |100−10| beats MAD=0; b never fires
    val b = out.filter(_._1 == "b")
    assert(b.forall(r => r._4 === 12.0 && r._5 === 2.0))
  }

  test("interArrivalStats: exact gap moments; periodic → B=−1; minGaps drops short users") {
    val base = java.sql.Timestamp.valueOf("2024-01-01 00:00:00").getTime
    def at(ms: Long) = new java.sql.Timestamp(base + ms)
    // u1: 6 events 1 s apart (gaps 5×1e6 µs): sd=0, cv=0, B=−1
    // u2: gaps 1,2,3,4,5 s; u3: only 3 events → dropped
    val u1 = (0 to 5).map(i => (1L, i.toLong, at(i * 1000L)))
    val u2 = Seq(0L, 1000L, 3000L, 6000L, 10000L, 15000L).zipWithIndex
      .map { case (ms, i) => (2L, 10L + i, at(ms)) }
    val u3 = (0 to 2).map(i => (3L, 20L + i, at(i * 1000L)))
    val events = (u1 ++ u2 ++ u3).toDF("user_id", "event_id", "ts")
    val out = EventAnalyticsOps.interArrivalStats(events)
      .as[(Long, Long, Double, Double, Double, Double)].collect().toList
    val sd2 = math.sqrt(2.5e12)
    def r6(x: Double) = BigDecimal(x).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    assert(out === List(
      (1L, 5L, 1e6, 0.0, 0.0, -1.0),
      (2L, 5L, 3e6, sd2, r6(sd2 / 3e6), r6((sd2 - 3e6) / (sd2 + 3e6)))))
  }

  test("removalEffectAttribution: hand-solved 2-channel chain") {
    // u1: A → purchase; u2: A → B (no conv); u3: B → purchase
    // P: START→A ⅔, START→B ⅓; A→CONV ½, A→B ½; B→CONV ½, B→NULL ½
    // v(B)=.5, v(A)=.75, v(START)=.666667; remove A → .166667,
    // remove B → .333334; effect_A = .75 and effect_B =
    // 1 − .333334/.666667 = 1 − .50000075 = .499999 (the 6dp rounds
    // compound before the ratio — the oracle replays the same chain);
    // shares .6/.4
    val df = Seq(
      (1L, "A", "2024-01-01 00:00:00", 1L),
      (1L, "purchase", "2024-01-01 00:01:00", 2L),
      (2L, "A", "2024-01-01 00:00:00", 3L),
      (2L, "B", "2024-01-01 00:01:00", 4L),
      (3L, "B", "2024-01-01 00:00:00", 5L),
      (3L, "purchase", "2024-01-01 00:01:00", 6L)
    ).toDF("user_id", "event_type", "t", "event_id")
      .withColumn("ts", to_timestamp(col("t"))).drop("t")
    val out = EventAnalyticsOps.removalEffectAttribution(df)
      .collect().map(r => (r.getString(0), r.getDouble(1), r.getDouble(2),
        r.getDouble(3), r.getDouble(4))).toList
    assert(out === List(
      ("A", 0.666667, 0.166667, 0.75, 0.6),
      ("B", 0.666667, 0.333334, 0.499999, 0.4)))
  }

  test("removalEffectAttribution: removal is monotone and shares normalize") {
    val df = spark.read.parquet("/root/testdata/sf0.001/events.parquet")
    val out = EventAnalyticsOps.removalEffectAttribution(df).collect()
    assert(out.nonEmpty)
    val shares = out.map(_.getDouble(4))
    out.foreach { r =>
      assert(r.getDouble(2) <= r.getDouble(1) + 1e-12,
        s"${r.getString(0)}: removing a channel cannot raise conversion")
      assert(r.getDouble(3) >= 0.0)
    }
    assert(math.abs(shares.sum - 1.0) < 1e-4, s"shares sum ${shares.sum}")
  }

  test("removalEffectAttribution: all-direct conversions fail fast, not NaN") {
    // the only converting journey is direct START→purchase and channel A
    // appears only on a never-converting journey, so removing A leaves
    // p_conv unchanged: every removal effect is 0 and shares would be 0/0
    val df = Seq(
      (1L, "purchase", "2024-01-01 00:00:00", 1L),
      (2L, "A", "2024-01-01 00:00:00", 2L)
    ).toDF("user_id", "event_type", "t", "event_id")
      .withColumn("ts", to_timestamp(col("t"))).drop("t")
    val e = intercept[IllegalArgumentException] {
      EventAnalyticsOps.removalEffectAttribution(df).collect()
    }
    assert(e.getMessage.contains("removal effects are 0"))
  }
}
