package graft.queries

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.functions.{ClassifierFunctions => Cls, DedupFunctions => D, RelevanceFunctions => R, SamplingFunctions => Sam, SimilarityFunctions => S, TextFunctions => T, UrlFunctions => U}
import graft.ops.{AsOfJoinOps, CrossValidationOps, EventAnalyticsOps, FeatureOps, GraphOps, HistoryOps, MacroOps, RangeJoinOps, SkewOps, ValidationOps}


/** Registry queries: event-log analytics: funnels, sessions, retention, streams. Split from the former monolithic
  * Queries.scala (r12) — definitions unchanged.
  */
private[queries] object QueriesEvents {
  import Q.{money2, prices, pricesSql, revenueDec, t}
  import QHelpers._

  val defs: Seq[QueryDef] = Seq(

    QueryDef("e1_event_hourly",
      (s, dir) => events(s, dir)
        .groupBy(window(col("ts"), "1 hour"), col("event_type"))
        .agg(count(lit(1)).as("n_events"),
          sum(col("value").cast("decimal(18,2)")).cast("double").as("total_value"))
        .select(col("window.start").as("window_start"), col("event_type"),
          col("n_events"), col("total_value"))
        .orderBy("window_start", "event_type"),
      Some("""SELECT date_trunc('hour', ts) AS window_start, event_type,
             |  count(*) AS n_events,
             |  CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS total_value
             |FROM events GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin)),

QueryDef("e3_sliding_counts",
      // sliding 1-hour window advancing every 15 minutes, run in batch
      // mode: every event lands in exactly 4 windows whose starts are the
      // 15-min grid points in (ts - 1h, ts] — the oracle materializes
      // those 4 starts per event and re-aggregates.
      (s, dir) => graft.streaming.EventStreams.slidingCounts(events(s, dir))
        .orderBy("window_start", "event_type"),
      Some("""WITH off AS (SELECT UNNEST([0, 1, 2, 3]) AS k),
             |w AS (
             |  SELECT time_bucket(INTERVAL 15 MINUTE, ts)
             |           - k * INTERVAL 15 MINUTE AS window_start,
             |         event_type
             |  FROM events, off)
             |SELECT window_start, event_type, count(*) AS n_events
             |FROM w GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin)),

QueryDef("e4_stream_dedup",
      // watermark-bounded streaming dedup run in batch mode: the events
      // table has unique event_ids, so the query PLANTS duplicates by
      // unioning the stream with itself; the dedup must return exactly
      // the original rows (identical duplicates -> deterministic
      // survivor). The streaming counterpart of the warehouse anti-join.
      (s, dir) => {
        val ev = events(s, dir).select("event_id", "ts", "event_type", "value")
        graft.streaming.EventStreams.dedupedEvents(ev.unionAll(ev))
          .orderBy("event_id")
      },
      Some("""SELECT DISTINCT event_id, ts, event_type, value
             |FROM (SELECT * FROM events UNION ALL SELECT * FROM events)
             |ORDER BY event_id""".stripMargin)),

QueryDef("e2_user_sessions",
      // session_window sessionization (the streaming stateful op) run in
      // batch mode, oracled against a gaps-and-islands SQL: a new session
      // starts iff the gap since the previous event is >= 30 min, session
      // end = last event + gap.
      (s, dir) => graft.streaming.EventStreams.userSessions(events(s, dir))
        .orderBy("user_id", "session_start"),
      Some("""WITH m AS (
             |  SELECT user_id, ts, value,
             |    CASE WHEN lag(ts) OVER w IS NULL
             |           OR ts - lag(ts) OVER w >= INTERVAL 30 MINUTE
             |         THEN 1 ELSE 0 END AS new_s
             |  FROM events
             |  WINDOW w AS (PARTITION BY user_id ORDER BY ts)),
             |g AS (
             |  SELECT user_id, ts, value,
             |         SUM(new_s) OVER (PARTITION BY user_id ORDER BY ts
             |           ROWS UNBOUNDED PRECEDING) AS sid
             |  FROM m)
             |SELECT min(ts) AS session_start,
             |       max(ts) + INTERVAL 30 MINUTE AS session_end,
             |       user_id, count(*) AS n_events,
             |       CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS total_value
             |FROM g GROUP BY user_id, sid
             |ORDER BY user_id, session_start""".stripMargin)),

QueryDef("e5_running_totals",
      // flatMapGroupsWithState custom-state checkpoints run in batch
      // mode: per-user lifetime (count, sum) state, a row emitted every
      // 10th event. The update fn pins its fold order to (event_id,
      // value), so the oracle is a windowed running sum over the same
      // total order, filtered to every 10th row per user. The running
      // total is a sequential double fold in both engines; rounded to
      // 6 dp (multi-term floating aggregate rule).
      (s, dir) => graft.streaming.EventStreams
        .userRunningTotals(events(s, dir), emitEvery = 10L)
        .select(col("user_id"), col("n_events"),
          round(col("running_total"), 6).as("running_total"))
        .orderBy("user_id", "n_events"),
      Some("""WITH r AS (
             |  SELECT user_id,
             |    row_number() OVER w AS rn,
             |    SUM(value) OVER (PARTITION BY user_id ORDER BY event_id, value
             |      ROWS UNBOUNDED PRECEDING) AS rt
             |  FROM events
             |  WINDOW w AS (PARTITION BY user_id ORDER BY event_id, value))
             |SELECT user_id, rn AS n_events, round(rt, 6) AS running_total
             |FROM r WHERE rn % 10 = 0
             |ORDER BY user_id, n_events""".stripMargin)),

QueryDef("e6_interval_join",
      // point-in-interval range join via bucket decomposition: clicks
      // matched into each same-user purchase's following hour, then
      // counted per purchase (zero-click purchases kept through a left
      // join against the purchase list). The bucketed equi-join shape —
      // never a per-key cross product — is the 100 TB path; the oracle
      // states the same containment as a plain BETWEEN-style join.
      (s, dir) => {
        val ev = events(s, dir)
        val clicks = ev.filter(col("event_type") === "click")
          .select(col("user_id"), col("ts").as("click_ts"))
        // purchases feeds BOTH the interval join (exploded into cells)
        // and the zero-click left join — pin so the events scan +
        // filter + interval arithmetic run once, not twice; the tracked
        // persist is released with the caller's graft.Caches.scoped block
        val purchases = graft.Caches.trackedPersist(
          ev.filter(col("event_type") === "purchase")
            .select(col("user_id"), col("event_id").as("purchase_id"),
              col("ts").as("t0"),
              (col("ts") + expr("INTERVAL 1 HOUR")).as("t1")),
          org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
        val matched = RangeJoinOps.intervalJoin(clicks, purchases,
          Seq("user_id"), "click_ts", "t0", "t1", bucketSeconds = 3600L)
        val counts = matched.groupBy("user_id", "purchase_id")
          .agg(count(lit(1)).as("n_clicks"))
        purchases.select("user_id", "purchase_id")
          .join(counts, Seq("user_id", "purchase_id"), "left")
          .select(col("user_id"), col("purchase_id"),
            coalesce(col("n_clicks"), lit(0L)).as("n_clicks"))
          .orderBy("user_id", "purchase_id")
      },
      Some("""WITH p AS (
             |  SELECT user_id, event_id AS purchase_id,
             |         ts AS t0, ts + INTERVAL 1 HOUR AS t1
             |  FROM events WHERE event_type = 'purchase'),
             |c AS (SELECT user_id, ts FROM events WHERE event_type = 'click')
             |SELECT p.user_id, p.purchase_id, count(c.ts) AS n_clicks
             |FROM p LEFT JOIN c
             |  ON c.user_id = p.user_id AND c.ts >= p.t0 AND c.ts < p.t1
             |GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin)),

QueryDef("e8_windowed_topk",
      // per-hour top event types through the space-saving sketch in the
      // EXACT regime (capacity >> distinct types), oracled against a
      // plain count + rank; the sketch-in-streaming parity is pinned by
      // EventStreamsSpec. errors are all 0 by the exact-regime invariant.
      (s, dir) => graft.streaming.EventStreams
        .windowedTopTypes(events(s, dir))
        .orderBy(col("window_start"), desc("n"), col("event_type")),
      Some("""WITH w AS (
             |  SELECT date_trunc('hour', ts) AS window_start, event_type,
             |         count(*) AS n
             |  FROM events GROUP BY 1, 2),
             |r AS (
             |  SELECT *, row_number() OVER (
             |    PARTITION BY window_start ORDER BY n DESC, event_type) AS rk
             |  FROM w)
             |SELECT window_start, event_type, n, CAST(0 AS BIGINT) AS error
             |FROM r WHERE rk <= 5
             |ORDER BY window_start, n DESC, event_type""".stripMargin)),

QueryDef("e7_stream_attribution",
      // the watermarked stream-stream interval join run in batch mode:
      // row-level (purchase, click) attribution pairs. Same containment
      // semantics as e6's bucketed batch join, but through the streaming
      // operator whose state Spark bounds by watermark + range — batch
      // and stream agree by the unified-contract spec, and the oracle
      // states the containment directly.
      (s, dir) => graft.streaming.EventStreams
        .clickAttribution(events(s, dir))
        .orderBy("user_id", "purchase_id", "click_ts"),
      Some("""SELECT p.user_id, p.event_id AS purchase_id, c.ts AS click_ts
             |FROM events p JOIN events c
             |  ON p.event_type = 'purchase' AND c.event_type = 'click'
             | AND c.user_id = p.user_id
             | AND c.ts >= p.ts AND c.ts < p.ts + INTERVAL 1 HOUR
             |ORDER BY 1, 2, 3""".stripMargin)),

QueryDef("e13_outer_attribution",
      // e7's LEFT OUTER twin run in batch mode: every purchase appears,
      // matched clicks attach, no-click purchases carry a null click_ts
      // — the row the streaming operator emits only after the watermark
      // certifies no match can still arrive (spec-pinned in
      // EventStreamsSpec). The oracle is the plain left interval join.
      (s, dir) => graft.streaming.EventStreams
        .attributionOuter(events(s, dir))
        .orderBy("user_id", "purchase_id", "click_ts"),
      Some("""SELECT p.user_id, p.event_id AS purchase_id, c.ts AS click_ts
             |FROM (SELECT * FROM events WHERE event_type = 'purchase') p
             |LEFT JOIN (SELECT * FROM events WHERE event_type = 'click') c
             |  ON c.user_id = p.user_id
             | AND c.ts >= p.ts AND c.ts < p.ts + INTERVAL 1 HOUR
             |ORDER BY 1, 2, 3""".stripMargin)),

QueryDef("e9_funnel",
      // ordered conversion funnel: step i counts users whose first
      // step-i event is strictly after their first qualifying
      // step-(i-1) event. steps.length chained per-user min()
      // aggregations, all hash-partitioned on user_id — no windows.
      (s, dir) => EventAnalyticsOps
        .funnel(events(s, dir), Seq("view", "click", "purchase"))
        .orderBy("step_idx"),
      Some("""WITH s1 AS (
             |  SELECT user_id, min(ts) AS t FROM events
             |  WHERE event_type = 'view' GROUP BY user_id),
             |s2 AS (
             |  SELECT e.user_id, min(e.ts) AS t FROM events e
             |  JOIN s1 ON e.user_id = s1.user_id
             |  WHERE e.event_type = 'click' AND e.ts > s1.t
             |  GROUP BY e.user_id),
             |s3 AS (
             |  SELECT e.user_id, min(e.ts) AS t FROM events e
             |  JOIN s2 ON e.user_id = s2.user_id
             |  WHERE e.event_type = 'purchase' AND e.ts > s2.t
             |  GROUP BY e.user_id),
             |c AS (
             |  SELECT 1 AS step_idx, 'view' AS step, count(*) AS users FROM s1
             |  UNION ALL SELECT 2, 'click', count(*) FROM s2
             |  UNION ALL SELECT 3, 'purchase', count(*) FROM s3)
             |SELECT step_idx, step, users,
             |       round(CAST(CASE WHEN step_idx = 1 THEN 1.0
             |                       ELSE users / lag(users) OVER (ORDER BY step_idx)
             |                  END AS DOUBLE), 6) AS conv_rate
             |FROM c ORDER BY step_idx""".stripMargin)),

QueryDef("e10_cohort_retention",
      // weekly cohort retention matrix: cohort = Monday-truncated week
      // of the user's first event; cell (cohort, offset) = distinct
      // users of that cohort active offset weeks later. Two hash aggs,
      // user-cardinality intermediate, weeks²-sized output.
      (s, dir) => EventAnalyticsOps.cohortRetention(events(s, dir))
        .orderBy("cohort_week", "week_offset"),
      Some("""WITH f AS (
             |  SELECT user_id,
             |         CAST(date_trunc('week', min(ts)) AS DATE) AS cohort_week
             |  FROM events GROUP BY user_id),
             |sz AS (SELECT cohort_week, count(*) AS cohort_size
             |       FROM f GROUP BY cohort_week),
             |act AS (
             |  SELECT DISTINCT f.cohort_week,
             |    CAST(date_diff('day', f.cohort_week,
             |           CAST(date_trunc('week', e.ts) AS DATE)) / 7 AS INTEGER)
             |      AS week_offset,
             |    e.user_id
             |  FROM events e JOIN f ON e.user_id = f.user_id),
             |a AS (SELECT cohort_week, week_offset, count(*) AS active_users
             |      FROM act GROUP BY 1, 2)
             |SELECT a.cohort_week, a.week_offset, a.active_users,
             |       round(CAST(a.active_users AS DOUBLE) / sz.cohort_size, 6)
             |         AS retention_rate
             |FROM a JOIN sz USING (cohort_week)
             |ORDER BY cohort_week, week_offset""".stripMargin)),

QueryDef("e11_funnel_steps",
      // the stateful (flatMapGroupsWithState) funnel run in batch mode:
      // row-level (user, step, time) advances under the same
      // strictly-after semantics as e9 — the oracle states each step's
      // qualifying first event directly, so the state machine is
      // verified row-by-row, not just in aggregate.
      (s, dir) => graft.streaming.EventStreams
        .funnelSteps(events(s, dir), Seq("view", "click", "purchase"))
        .orderBy("user_id", "step_idx"),
      Some("""WITH s1 AS (
             |  SELECT user_id, min(ts) AS t FROM events
             |  WHERE event_type = 'view' GROUP BY user_id),
             |s2 AS (
             |  SELECT e.user_id, min(e.ts) AS t FROM events e
             |  JOIN s1 ON e.user_id = s1.user_id
             |  WHERE e.event_type = 'click' AND e.ts > s1.t
             |  GROUP BY e.user_id),
             |s3 AS (
             |  SELECT e.user_id, min(e.ts) AS t FROM events e
             |  JOIN s2 ON e.user_id = s2.user_id
             |  WHERE e.event_type = 'purchase' AND e.ts > s2.t
             |  GROUP BY e.user_id)
             |SELECT user_id, 1 AS step_idx, 'view' AS step, t AS step_ts FROM s1
             |UNION ALL SELECT user_id, 2, 'click', t FROM s2
             |UNION ALL SELECT user_id, 3, 'purchase', t FROM s3
             |ORDER BY user_id, step_idx""".stripMargin)),

QueryDef("e12_stickiness",
      // DAU / trailing-7-day WAU per day: the day grid broadcasts into
      // a range join against the pinned (day, user) distinct frame —
      // no per-row count-distinct window.
      (s, dir) => EventAnalyticsOps.stickiness(events(s, dir))
        .orderBy("day"),
      Some("""WITH du AS (
             |  SELECT DISTINCT CAST(ts AS DATE) AS day, user_id FROM events),
             |dau AS (SELECT day, count(*) AS dau FROM du GROUP BY day),
             |days AS (SELECT DISTINCT day AS d FROM du),
             |wau AS (
             |  SELECT d AS day, count(DISTINCT user_id) AS wau
             |  FROM days JOIN du
             |    ON du.day BETWEEN d - INTERVAL 6 DAY AND d
             |  GROUP BY d)
             |SELECT day, dau, wau,
             |       round(CAST(dau AS DOUBLE) / wau, 6) AS stickiness
             |FROM dau JOIN wau USING (day)
             |ORDER BY day""".stripMargin)),

QueryDef("e15_transition_matrix",
      // first-order Markov transitions over per-user event streams
      // ([[graft.ops.EventAnalyticsOps.transitionMatrix]]): USER-
      // partitioned lead window (bounded per user), two hash aggs to a
      // types²-sized matrix, broadcast row totals. (ts, event_id)
      // total tiebreak makes same-timestamp streams deterministic.
      (s, dir) => EventAnalyticsOps.transitionMatrix(events(s, dir)),
      Some("""WITH p AS (
             |  SELECT event_type AS from_type,
             |         lead(event_type) OVER (PARTITION BY user_id
             |                                ORDER BY ts, event_id) AS to_type
             |  FROM events),
             |c AS (
             |  SELECT from_type, to_type, count(*) AS n
             |  FROM p WHERE to_type IS NOT NULL GROUP BY 1, 2),
             |t AS (SELECT from_type, CAST(SUM(n) AS BIGINT) AS tot FROM c GROUP BY 1)
             |SELECT c.from_type, c.to_type, c.n,
             |  round(CAST(c.n AS DOUBLE) / CAST(t.tot AS DOUBLE), 6) AS p
             |FROM c JOIN t USING (from_type) ORDER BY 1, 2""".stripMargin)),

QueryDef("e16_conversion_latency",
      // first-view → first-subsequent-purchase latency distribution by
      // weekday of the first view: the product-analytics companion to
      // the e9/e11 funnels (they count conversions; this measures HOW
      // LONG). Latencies are exact integer SECONDS (a µs difference
      // `div` 10⁶ — µs magnitudes would push the 6dp round past
      // double's exact-multiply range and the engines would disagree
      // in the 11th significant digit); p50/p90 are the
      // exact-interpolation percentile (w19 contract); the mean
      // divides an exact long sum once. Per-user mins are one hash agg
      // each; the join shuffles purchases once on user_id.
      (s, dir) => {
        val e = events(s, dir)
        val v = e.filter(col("event_type") === "view")
          .groupBy("user_id").agg(min(col("ts")).as("tv"))
        val p = e.filter(col("event_type") === "purchase")
          .select(col("user_id"), col("ts").as("tp"))
        val conv = v.join(p, Seq("user_id"))
          .filter(col("tp") >= col("tv"))
          .groupBy(col("user_id"), col("tv")).agg(min(col("tp")).as("tp"))
          .withColumn("lat_s",
            expr("(unix_micros(tp) - unix_micros(tv)) div 1000000L"))
        conv.groupBy(weekday(col("tv")).as("dow"))
          .agg(count(lit(1)).as("n_converted"),
            round(expr("percentile(lat_s, 0.5D)"), 6).as("p50_s"),
            round(expr("percentile(lat_s, 0.9D)"), 6).as("p90_s"),
            round(sum("lat_s").cast("double") / count(lit(1)).cast("double"), 6)
              .as("mean_s"))
          .orderBy("dow")
      },
      Some("""WITH v AS (
             |  SELECT user_id, min(ts) AS tv FROM events
             |  WHERE event_type = 'view' GROUP BY 1),
             |c AS (
             |  SELECT e.user_id, v.tv, min(e.ts) AS tp
             |  FROM events e JOIN v USING (user_id)
             |  WHERE e.event_type = 'purchase' AND e.ts >= v.tv
             |  GROUP BY 1, 2),
             |l AS (
             |  SELECT CAST(isodow(tv) - 1 AS INTEGER) AS dow,
             |         date_diff('microsecond', tv, tp) // 1000000 AS lat_s
             |  FROM c)
             |SELECT dow, count(*) AS n_converted,
             |  round(quantile_cont(lat_s, 0.5), 6) AS p50_s,
             |  round(quantile_cont(lat_s, 0.9), 6) AS p90_s,
             |  round(CAST(SUM(lat_s) AS DOUBLE) / count(*), 6) AS mean_s
             |FROM l GROUP BY 1 ORDER BY 1""".stripMargin)),

QueryDef("e17_kaplan_meier",
      // Kaplan–Meier conversion-survival curves by weekday of first
      // view ([[graft.ops.EventAnalyticsOps.kaplanMeier]]): lifetimes
      // are first-view → first-subsequent-purchase in exact integer
      // seconds (the e16 contract), right-censored at the global max
      // event time for users who never purchased. Factors close by
      // IEEE floor-truncation at 8dp, the running product lives in
      // decimal(20,8) (the w31 recursion discipline), and the oracle's
      // recursive CTE replays every curve step bit-for-bit.
      (s, dir) => {
        val e = events(s, dir)
        val v = e.filter(col("event_type") === "view")
          .groupBy("user_id").agg(min(col("ts")).as("tv"))
        val firstP = v.join(
            e.filter(col("event_type") === "purchase")
              .select(col("user_id"), col("ts").as("_tp")), Seq("user_id"))
          .filter(col("_tp") >= col("tv"))
          .groupBy("user_id").agg(min(col("_tp")).as("tp"))
        val mx = e.agg(max(col("ts")).as("_mx"))
        val lt = v.join(firstP, Seq("user_id"), "left")
          .crossJoin(broadcast(mx))
          .select(weekday(col("tv")).as("dow"),
            expr("(unix_micros(coalesce(tp, _mx)) - unix_micros(tv))" +
              " div 1000000L").as("dur"),
            col("tp").isNotNull.as("ev"))
        EventAnalyticsOps.kaplanMeier(lt, "dow", "dur", "ev")
      },
      Some("""WITH RECURSIVE v AS (
             |  SELECT user_id, min(ts) AS tv FROM events
             |  WHERE event_type = 'view' GROUP BY 1),
             |fp AS (
             |  SELECT e.user_id, min(e.ts) AS tp
             |  FROM events e JOIN v USING (user_id)
             |  WHERE e.event_type = 'purchase' AND e.ts >= v.tv
             |  GROUP BY 1),
             |mx AS (SELECT max(ts) AS m FROM events),
             |lt AS (
             |  SELECT CAST(isodow(tv) - 1 AS INTEGER) AS g,
             |    date_diff('microsecond', tv,
             |              coalesce(tp, (SELECT m FROM mx))) // 1000000 AS t,
             |    (tp IS NOT NULL) AS e
             |  FROM v LEFT JOIN fp USING (user_id)),
             |pt AS (
             |  SELECT g, t,
             |    CAST(count(*) FILTER (WHERE e) AS BIGINT) AS d,
             |    CAST(count(*) FILTER (WHERE NOT e) AS BIGINT) AS c
             |  FROM lt GROUP BY 1, 2),
             |n0 AS (SELECT g, count(*) AS n0 FROM lt GROUP BY 1),
             |st0 AS (
             |  SELECT pt.g, pt.t, pt.d,
             |    n0.n0 - (SUM(pt.d + pt.c) OVER (PARTITION BY pt.g
             |      ORDER BY pt.t ROWS UNBOUNDED PRECEDING) - pt.d - pt.c) AS n
             |  FROM pt JOIN n0 USING (g)),
             |steps AS MATERIALIZED (
             |  SELECT g, t, d, CAST(n AS BIGINT) AS n,
             |    CAST(row_number() OVER (PARTITION BY g ORDER BY t)
             |         AS BIGINT) AS idx
             |  FROM st0 WHERE d > 0),
             |km(g, idx, t, d, n, s) AS (
             |  SELECT g, idx, t, d, n,
             |    CAST(round(CAST(1 AS DECIMAL(20,8)) *
             |      CAST(floor(CAST(n - d AS DOUBLE) / CAST(n AS DOUBLE)
             |                 * 100000000.0) / 100000000.0
             |           AS DECIMAL(10,8)), 8) AS DECIMAL(20,8))
             |  FROM steps WHERE idx = 1
             |  UNION ALL
             |  SELECT st.g, st.idx, st.t, st.d, st.n,
             |    CAST(round(km.s *
             |      CAST(floor(CAST(st.n - st.d AS DOUBLE)
             |                 / CAST(st.n AS DOUBLE) * 100000000.0)
             |           / 100000000.0 AS DECIMAL(10,8)), 8) AS DECIMAL(20,8))
             |  FROM km JOIN steps st ON st.g = km.g AND st.idx = km.idx + 1)
             |SELECT g AS dow, t, n AS n_at_risk, d,
             |  CAST(s AS DOUBLE) AS survival
             |FROM km ORDER BY dow, t""".stripMargin)),

QueryDef("e18_rate_limit",
      // per-user token-bucket rate limiting ([[graft.streaming
      // .EventStreams.rateLimit]], capacity 3, 1 token/s) run in batch
      // mode: ALL-INTEGER millitoken state (refill = Δµs·rate/1000
      // integer division, bucket starts full), so the recursive-CTE
      // oracle replays every verdict bit-for-bit. The same function is
      // the streaming stateful op (flatMapGroupsWithState) — spec pins
      // stream/batch parity.
      (s, dir) => graft.streaming.EventStreams
        .rateLimit(events(s, dir), capacity = 3, tokensPerSec = 1)
        .orderBy("user_id", "ts_us", "event_id"),
      Some("""WITH RECURSIVE ev AS (
             |  SELECT user_id, event_id, epoch_us(ts) AS us,
             |    CAST(row_number() OVER (PARTITION BY user_id
             |                            ORDER BY ts, event_id)
             |         AS BIGINT) AS idx
             |  FROM events),
             |rl(user_id, idx, event_id, us, tok, allowed) AS (
             |  SELECT user_id, idx, event_id, us,
             |    CAST(2000 AS BIGINT), true
             |  FROM ev WHERE idx = 1
             |  UNION ALL
             |  SELECT user_id, idx, event_id, us,
             |    CASE WHEN ref >= 1000 THEN ref - 1000 ELSE ref END,
             |    ref >= 1000
             |  FROM (
             |    SELECT e.user_id, e.idx, e.event_id, e.us,
             |      least(CAST(3000 AS BIGINT),
             |        rl.tok + CASE WHEN e.us > rl.us
             |                      THEN (e.us - rl.us) * 1 // 1000
             |                      ELSE 0 END) AS ref
             |    FROM rl JOIN ev e
             |      ON e.user_id = rl.user_id AND e.idx = rl.idx + 1))
             |SELECT user_id, event_id, us AS ts_us, allowed
             |FROM rl ORDER BY user_id, ts_us, event_id""".stripMargin)),

QueryDef("e19_path_trigrams",
      // top-20 behavioral trigrams: the most common 3-step event-type
      // paths across user sessions (transition-matrix e15 stretched to
      // path mining). Two leads over the per-user time order, one
      // count, one bounded TakeOrdered (ORDER BY n DESC + full type
      // tiebreak → deterministic top-k, never a global sort of the
      // path space). All-integer.
      (s, dir) => {
        val w = Window.partitionBy("user_id").orderBy(col("ts"), col("event_id"))
        events(s, dir)
          .withColumn("_e2", lead(col("event_type"), 1).over(w))
          .withColumn("_e3", lead(col("event_type"), 2).over(w))
          .filter(col("_e2").isNotNull && col("_e3").isNotNull)
          .groupBy(col("event_type").as("step1"), col("_e2").as("step2"),
            col("_e3").as("step3"))
          .agg(count(lit(1)).as("n"))
          .orderBy(col("n").desc, col("step1"), col("step2"), col("step3"))
          .limit(20)
      },
      Some("""WITH p AS (
             |  SELECT event_type AS step1,
             |    lead(event_type, 1) OVER w AS step2,
             |    lead(event_type, 2) OVER w AS step3
             |  FROM events
             |  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id))
             |SELECT step1, step2, step3, count(*) AS n
             |FROM p WHERE step2 IS NOT NULL AND step3 IS NOT NULL
             |GROUP BY 1, 2, 3
             |ORDER BY n DESC, step1, step2, step3 LIMIT 20""".stripMargin)),

QueryDef("e20_active_users",
      // rolling engagement: DAU / trailing-7-day WAU / trailing-28-day
      // MAU per calendar day. Each (user, active-day) row fans out to
      // the FIXED number of window days it covers (7 and 28 — bounded
      // explode, the scalable rolling-distinct shape; never a per-day
      // distinct scan over the raw log), then two-level aggs dedup
      // (day, user) before counting. All-integer.
      (s, dir) => {
        // pinned: span, dau and both rolling fans read this distinct —
        // unpinned the event log dedups 4×
        val act = graft.Caches.trackedPersist(events(s, dir)
          .select(col("user_id").as("u"), to_date(col("ts")).as("d"))
          .distinct(),
          org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
        val span = act.agg(min(col("d")).as("_lo"), max(col("d")).as("_hi"))
        val dau = act.groupBy(col("d").as("day"))
          .agg(count(lit(1)).as("dau"))
        def rolling(win: Int, name: String) = act
          .select(col("u"), explode(sequence(col("d"),
            date_add(col("d"), win - 1))).as("day"))
          .distinct()
          .groupBy("day").agg(count(lit(1)).as(name))
        dau.join(rolling(7, "wau"), Seq("day"))
          .join(rolling(28, "mau"), Seq("day"))
          .crossJoin(broadcast(span))
          .filter(col("day").between(col("_lo"), col("_hi")))
          .select(col("day"), col("dau"), col("wau"), col("mau"))
          .orderBy("day")
      },
      Some("""WITH act AS (
             |  SELECT DISTINCT user_id AS u, CAST(ts AS DATE) AS d
             |  FROM events),
             |span AS (SELECT min(d) AS lo, max(d) AS hi FROM act),
             |dau AS (SELECT d AS day, count(*) AS dau FROM act GROUP BY 1),
             |wau AS (
             |  SELECT day, count(*) AS wau FROM (
             |    SELECT DISTINCT u, unnest(generate_series(d, d + 6,
             |      INTERVAL 1 DAY))::DATE AS day
             |    FROM act) GROUP BY 1),
             |mau AS (
             |  SELECT day, count(*) AS mau FROM (
             |    SELECT DISTINCT u, unnest(generate_series(d, d + 27,
             |      INTERVAL 1 DAY))::DATE AS day
             |    FROM act) GROUP BY 1)
             |SELECT dau.day, dau.dau, wau.wau, mau.mau
             |FROM dau JOIN wau USING (day) JOIN mau USING (day)
             |         CROSS JOIN span
             |WHERE dau.day BETWEEN span.lo AND span.hi
             |ORDER BY day""".stripMargin)),

QueryDef("e21_user_concentration",
      // activity-concentration audit ([[graft.ops.EventAnalyticsOps
      // .activityConcentration]]): exact Gini of per-user event counts
      // + share of events from the top 1/5/10% of users, all computed
      // from the count-of-counts histogram so nothing user-cardinality
      // sorts. Integers/decimal throughout; each emitted ratio is one
      // division of exact-decimal casts.
      (s, dir) => EventAnalyticsOps.activityConcentration(events(s, dir)),
      Some("""WITH uc AS (SELECT user_id, count(*) AS c FROM events GROUP BY 1),
             |h AS (SELECT c, count(*) AS m FROM uc GROUP BY 1),
             |r AS (
             |  SELECT c, m,
             |    sum(m) OVER (ORDER BY c
             |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) - m AS bef
             |  FROM h),
             |tot AS (SELECT CAST(sum(m) AS BIGINT) AS n,
             |               CAST(sum(c * m) AS BIGINT) AS s FROM r),
             |agg AS (
             |  SELECT
             |    sum(CAST(c AS HUGEINT) * (CAST(m AS HUGEINT) * bef
             |        + (CAST(m AS HUGEINT) * (m + 1)) // 2)) AS a,
             |    sum(CAST(c AS HUGEINT) * greatest(0, least(m,
             |        n - greatest(1, n * 1 // 100) - bef))) AS cut1,
             |    sum(CAST(c AS HUGEINT) * greatest(0, least(m,
             |        n - greatest(1, n * 5 // 100) - bef))) AS cut5,
             |    sum(CAST(c AS HUGEINT) * greatest(0, least(m,
             |        n - greatest(1, n * 10 // 100) - bef))) AS cut10
             |  FROM r CROSS JOIN tot)
             |SELECT tot.n AS n_entities, tot.s AS n_events,
             |  round(CAST(2 * a - (CAST(tot.n AS HUGEINT) + 1) * tot.s AS DOUBLE)
             |    / CAST(CAST(tot.n AS HUGEINT) * tot.s AS DOUBLE), 6) AS gini,
             |  round(CAST(CAST(tot.s AS HUGEINT) - cut1 AS DOUBLE)
             |    / CAST(tot.s AS DOUBLE), 6) AS share_top1,
             |  round(CAST(CAST(tot.s AS HUGEINT) - cut5 AS DOUBLE)
             |    / CAST(tot.s AS DOUBLE), 6) AS share_top5,
             |  round(CAST(CAST(tot.s AS HUGEINT) - cut10 AS DOUBLE)
             |    / CAST(tot.s AS DOUBLE), 6) AS share_top10
             |FROM agg CROSS JOIN tot""".stripMargin)),

QueryDef("e22_volume_anomalies",
      // robust daily-volume anomaly flags per event type
      // ([[EventAnalyticsOps.dailyCountAnomalies]]): |n − median| >
      // 3·1.4826·MAD decided ENTIRELY in integer cross-products (the
      // exact median/MAD carried ×2/×4) — no float in the flag.
      (s, dir) => EventAnalyticsOps.dailyCountAnomalies(events(s, dir)),
      Some("""WITH d AS (
             |  SELECT event_type, CAST(ts AS DATE) AS day, count(*) AS n
             |  FROM events GROUP BY 1, 2),
             |med AS (SELECT event_type,
             |          CAST(quantile_cont(n, 0.5) * 2 AS BIGINT) AS med2
             |        FROM d GROUP BY 1),
             |dev AS (SELECT d.event_type, d.day, d.n, med.med2,
             |          abs(d.n * 2 - med.med2) AS dev2
             |        FROM d JOIN med USING (event_type)),
             |mad AS (SELECT event_type,
             |          CAST(quantile_cont(dev2, 0.5) * 2 AS BIGINT) AS mad4
             |        FROM dev GROUP BY 1)
             |SELECT dev.event_type, dev.day, dev.n,
             |  CAST(med2 AS DOUBLE) / 2 AS median_n,
             |  CAST(mad4 AS DOUBLE) / 4 AS mad,
             |  CAST(dev2 AS HUGEINT) * 20000
             |    > CAST(mad4 AS HUGEINT) * 44478 AS is_anomaly
             |FROM dev JOIN mad USING (event_type)
             |ORDER BY event_type, day""".stripMargin)),

QueryDef("e23_burstiness",
      // per-user inter-arrival statistics + Goh–Barabási burstiness
      // ([[EventAnalyticsOps.interArrivalStats]]): exact integer µs
      // gap moments (Σd long, Σd² decimal), then a fixed IEEE chain —
      // mean/sd ship unrounded (µs magnitudes, the e16 2⁵³ lesson),
      // cv/burstiness round 6dp.
      (s, dir) => EventAnalyticsOps.interArrivalStats(events(s, dir)),
      Some("""WITH g AS (
             |  SELECT user_id,
             |    date_diff('microsecond',
             |      lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id),
             |      ts) AS d
             |  FROM events),
             |a AS (
             |  SELECT user_id, count(*) AS n, CAST(sum(d) AS BIGINT) AS s,
             |         sum(CAST(d AS HUGEINT) * d) AS s2
             |  FROM g WHERE d IS NOT NULL GROUP BY 1 HAVING count(*) >= 5),
             |m AS (
             |  SELECT user_id, n, CAST(s AS DOUBLE) / CAST(n AS DOUBLE) AS mean_us,
             |    sqrt(CAST(s2 * n - CAST(s AS HUGEINT) * s AS DOUBLE)
             |         / (CAST(n AS DOUBLE) * (n - 1))) AS sd_us
             |  FROM a)
             |SELECT user_id, n AS n_gaps, mean_us, sd_us,
             |  round(sd_us / mean_us, 6) AS cv,
             |  round((sd_us - mean_us) / (sd_us + mean_us), 6) AS burstiness
             |FROM m ORDER BY user_id""".stripMargin)),

QueryDef("e24_cohort_ltv",
      // cumulative revenue ("LTV") curve per weekly signup cohort: the
      // revenue companion to e10's retention matrix. Purchase values
      // become exact 6dp decimals, so per-cell revenue and the running
      // cumulative are exact; LTV-per-user is one division. Cohort
      // assignment is one user-level hash agg; the cumulative window
      // runs over the weeks²-sized (cohort, offset) matrix, never over
      // events.
      (s, dir) => {
        val e = events(s, dir)
        // pinned: sizes and the purchase join both read the user-level
        // cohort frame — unpinned the log aggregates twice
        val cohort = graft.Caches.trackedPersist(e.groupBy("user_id")
          .agg(date_trunc("week", min(col("ts"))).cast("date").as("cohort_week")),
          org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
        val sizes = cohort.groupBy("cohort_week").agg(count(lit(1)).as("cohort_users"))
        val cells = e.filter(col("event_type") === "purchase")
          .join(cohort, Seq("user_id"))
          .groupBy(col("cohort_week"),
            (datediff(to_date(col("ts")), col("cohort_week")) / 7)
              .cast("long").as("week_offset"))
          .agg(sum(round(col("value"), 6).cast("decimal(18,6)")).as("_rev"))
        val w = Window.partitionBy("cohort_week").orderBy("week_offset")
          .rowsBetween(Window.unboundedPreceding, 0)
        cells.withColumn("_cum", sum(col("_rev")).over(w))
          .join(broadcast(sizes), Seq("cohort_week"))
          .select(col("cohort_week"), col("week_offset"),
            col("_rev").cast("double").as("revenue"),
            col("_cum").cast("double").as("cum_revenue"),
            round(col("_cum").cast("double") /
              col("cohort_users").cast("double"), 6).as("ltv_per_user"))
          .orderBy("cohort_week", "week_offset")
      },
      Some("""WITH co AS (
             |  SELECT user_id,
             |    CAST(date_trunc('week', min(ts)) AS DATE) AS cohort_week
             |  FROM events GROUP BY 1),
             |sz AS (SELECT cohort_week, count(*) AS cohort_users FROM co GROUP BY 1),
             |cells AS (
             |  SELECT co.cohort_week,
             |    date_diff('day', co.cohort_week, CAST(e.ts AS DATE)) // 7
             |      AS week_offset,
             |    SUM(CAST(round(e.value, 6) AS DECIMAL(18,6))) AS rev
             |  FROM events e JOIN co USING (user_id)
             |  WHERE e.event_type = 'purchase' GROUP BY 1, 2),
             |cum AS (
             |  SELECT cohort_week, week_offset, rev,
             |    sum(rev) OVER (PARTITION BY cohort_week ORDER BY week_offset
             |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cumrev
             |  FROM cells)
             |SELECT c.cohort_week, c.week_offset,
             |  CAST(c.rev AS DOUBLE) AS revenue,
             |  CAST(c.cumrev AS DOUBLE) AS cum_revenue,
             |  round(CAST(c.cumrev AS DOUBLE) / CAST(sz.cohort_users AS DOUBLE), 6)
             |    AS ltv_per_user
             |FROM cum c JOIN sz USING (cohort_week)
             |ORDER BY cohort_week, week_offset""".stripMargin)),

QueryDef("e25_hill_tail",
      // Hill tail-index estimator over per-user activity: α = k /
      // Σ ln(x_(i)/x_(k+1)) across the top-k order statistics — "how
      // heavy is the power-law tail" as one number (the parametric
      // companion to e21's Gini; α ≤ 2 means variance doesn't exist
      // and a mean-based capacity plan is fiction). k = ⌈n/10⌉. Counts
      // and ranks exact; per-term lns round 6dp and sum in exact
      // decimal (the t20 fit contract); α is one division.
      // Scale shape: the whole estimator runs on the count-of-counts
      // HISTOGRAM (the e21 convention) — x_(k+1) is determined by
      // activity LEVELS alone (user_id tie-breaks never change the
      // VALUE at a rank), rows tied at x_(k+1) contribute ln(1)=0, so
      // the tail sum collapses to level-count × per-level 6dp terms.
      // The only window left is over distinct activity levels, bounded
      // by max-events-per-user, not users (the r11 verdict's e25
      // scale-tier item).
      (s, dir) => {
        val uc = events(s, dir).groupBy("user_id")
          .agg(count(lit(1)).as("c"))
        // pinned: the total, the x_(k+1) probe, and the tail sum all
        // read the (tiny) histogram — unpinned the event log would
        // aggregate three times
        val lv = graft.Caches.trackedPersist(
          uc.groupBy("c").agg(count(lit(1)).as("_lm")),
          org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
        val nk = lv.agg(sum(col("_lm")).as("_n"))
          .withColumn("_k", expr("(_n + 9) div 10"))
        // unpartitioned window, bounded by design (r16 audit): input is
        // the per-user-count LEVEL histogram — rows = distinct activity
        // counts (sub-linear in users), warning benign
        val wL = Window.orderBy(col("c").desc)
          .rowsBetween(Window.unboundedPreceding, 0)
        val cum = lv.withColumn("_cum", sum(col("_lm")).over(wL))
          .crossJoin(broadcast(nk))
        // the level holding rank k+1 in (c desc, user) order = x_(k+1)
        val xmin = cum.filter(col("_cum") >= col("_k") + 1 &&
            col("_cum") - col("_lm") <= col("_k"))
          .select(col("c").as("_cmin"))
        cum.crossJoin(broadcast(xmin))
          .filter(col("c") >= col("_cmin"))
          .select(when(col("c") > col("_cmin"),
              col("_lm") * round(log(col("c").cast("double") /
                col("_cmin").cast("double")), 6).cast("decimal(14,6)"))
            .otherwise(lit(0).cast("decimal(14,6)")).as("_t"), col("_k"))
          .groupBy(col("_k").as("k"))
          .agg(round(col("k").cast("double") /
            sum(col("_t").cast("decimal(20,6)")).cast("double"), 6)
            .as("alpha"))
          .select(col("k"), col("alpha"))
      },
      Some("""WITH uc AS (SELECT user_id, count(*) AS c FROM events GROUP BY 1),
             |rk AS (
             |  SELECT c,
             |    row_number() OVER (ORDER BY c DESC, user_id) AS r,
             |    count(*) OVER () AS n,
             |    (count(*) OVER () + 9) // 10 AS k
             |  FROM uc),
             |xm AS (SELECT c AS cmin FROM rk WHERE r = k + 1),
             |t AS (
             |  SELECT rk.k,
             |    round(ln(CAST(rk.c AS DOUBLE) / CAST(xm.cmin AS DOUBLE)), 6)
             |      AS t
             |  FROM rk CROSS JOIN xm WHERE rk.r <= rk.k)
             |SELECT CAST(k AS BIGINT) AS k,
             |  round(CAST(k AS DOUBLE)
             |    / CAST(SUM(CAST(t AS DECIMAL(20,6))) AS DOUBLE), 6) AS alpha
             |FROM t GROUP BY k""".stripMargin)),

QueryDef("e26_new_vs_returning",
      // weekly growth decomposition: active users split into NEW (first
      // ever seen that week — the t23 first-sighting hash agg, never a
      // running distinct) and RETURNING, plus the returning share. The
      // growth-accounting companion to e10's retention matrix.
      // All-integer; one division per week.
      (s, dir) => {
        // pinned (user, week) distinct: active counts AND first-
        // sightings derive from it — unpinned the log scans twice
        val base = graft.Caches.trackedPersist(events(s, dir)
          .select(col("user_id"),
            date_trunc("week", col("ts")).cast("date").as("wk"))
          .distinct(),
          org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
        val act = base.groupBy("wk").agg(count(lit(1)).as("active"))
        val nw = base.groupBy("user_id").agg(min(col("wk")).as("wk"))
          .groupBy("wk").agg(count(lit(1)).as("new_users"))
        act.join(broadcast(nw), Seq("wk"), "left")
          .withColumn("new_users", coalesce(col("new_users"), lit(0L)))
          .select(col("wk").as("week"), col("active"), col("new_users"),
            (col("active") - col("new_users")).as("returning"),
            round((col("active") - col("new_users")).cast("double") /
              col("active").cast("double"), 6).as("returning_share"))
          .orderBy("week")
      },
      Some("""WITH e AS (
             |  SELECT user_id, CAST(date_trunc('week', ts) AS DATE) AS wk
             |  FROM events),
             |act AS (SELECT wk, count(*) AS active
             |        FROM (SELECT DISTINCT user_id, wk FROM e) GROUP BY 1),
             |nw AS (
             |  SELECT wk, count(*) AS new_users FROM (
             |    SELECT user_id, min(wk) AS wk FROM e GROUP BY 1) GROUP BY 1)
             |SELECT act.wk AS week, act.active,
             |  COALESCE(nw.new_users, 0) AS new_users,
             |  act.active - COALESCE(nw.new_users, 0) AS returning,
             |  round(CAST(act.active - COALESCE(nw.new_users, 0) AS DOUBLE)
             |    / CAST(act.active AS DOUBLE), 6) AS returning_share
             |FROM act LEFT JOIN nw USING (wk) ORDER BY week""".stripMargin)),

QueryDef("e28_hourly_profile",
      // hour-of-day load profile per event type: counts and the share
      // of the type's traffic per hour — the capacity-planning shape
      // (and the input to "is this type cron-driven", read with e23's
      // burstiness). One hash agg on a 24×types grid; one division.
      (s, dir) => {
        val h = events(s, dir)
          .groupBy(col("event_type"), hour(col("ts")).as("hour"))
          .agg(count(lit(1)).as("n"))
        val tot = h.groupBy("event_type").agg(sum(col("n")).as("_t"))
        h.join(broadcast(tot), Seq("event_type"))
          .select(col("event_type"), col("hour"), col("n"),
            round(col("n").cast("double") / col("_t").cast("double"), 6)
              .as("share"))
          .orderBy("event_type", "hour")
      },
      Some("""WITH h AS (
             |  SELECT event_type, CAST(hour(ts) AS INTEGER) AS hour,
             |         count(*) AS n
             |  FROM events GROUP BY 1, 2),
             |t AS (SELECT event_type, CAST(sum(n) AS BIGINT) AS t
             |      FROM h GROUP BY 1)
             |SELECT h.event_type, h.hour, h.n,
             |  round(CAST(h.n AS DOUBLE) / CAST(t.t AS DOUBLE), 6) AS share
             |FROM h JOIN t USING (event_type)
             |ORDER BY event_type, hour""".stripMargin)),

QueryDef("e29_bot_screen",
      // composite bot screen per user: e23's inter-arrival CV
      // (metronomic cadence) joined with action-type Shannon entropy
      // (single-action monotony) — the two signals that separate a
      // cron job from a human, feeding e18's rate-limiter tier. The
      // entropy is a 6dp-per-term exact-decimal sum (the t17 ln
      // contract); flags compare identical doubles in both engines.
      // Ships ALL users with both signals and the flags.
      (s, dir) => {
        val e = events(s, dir)
        val ia = EventAnalyticsOps.interArrivalStats(e)
          .select(col("user_id"), col("n_gaps"), col("cv"), col("burstiness"))
        val tc = graft.Caches.trackedPersist(
          e.groupBy("user_id", "event_type").agg(count(lit(1)).as("_n")),
          org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
        val tot = tc.groupBy("user_id").agg(sum(col("_n")).as("_t"))
        val ent = tc.join(broadcast(tot), "user_id")
          .select(col("user_id"),
            round(-(col("_n").cast("double") / col("_t").cast("double")) *
              log(col("_n").cast("double") / col("_t").cast("double")), 6)
              .cast("decimal(16,6)").as("_term"))
          .groupBy("user_id")
          .agg(sum(col("_term")).cast("double").as("type_entropy"))
        ia.join(ent, "user_id")
          .withColumn("metronomic", col("cv") <= 0.05)
          .withColumn("monotone", col("type_entropy") <= 0.5)
          .orderBy("user_id")
      },
      Some("""WITH g AS (
             |  SELECT user_id,
             |    date_diff('microsecond',
             |      lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id),
             |      ts) AS d
             |  FROM events),
             |a AS (
             |  SELECT user_id, count(*) AS n, CAST(sum(d) AS BIGINT) AS s,
             |         sum(CAST(d AS HUGEINT) * d) AS s2
             |  FROM g WHERE d IS NOT NULL GROUP BY 1 HAVING count(*) >= 5),
             |ia AS (
             |  SELECT user_id, n AS n_gaps,
             |    round(sqrt(CAST(s2 * n - CAST(s AS HUGEINT) * s AS DOUBLE)
             |        / (CAST(n AS DOUBLE) * (n - 1)))
             |      / (CAST(s AS DOUBLE) / CAST(n AS DOUBLE)), 6) AS cv,
             |    round((sqrt(CAST(s2 * n - CAST(s AS HUGEINT) * s AS DOUBLE)
             |        / (CAST(n AS DOUBLE) * (n - 1)))
             |      - CAST(s AS DOUBLE) / CAST(n AS DOUBLE))
             |      / (sqrt(CAST(s2 * n - CAST(s AS HUGEINT) * s AS DOUBLE)
             |        / (CAST(n AS DOUBLE) * (n - 1)))
             |      + CAST(s AS DOUBLE) / CAST(n AS DOUBLE)), 6) AS burstiness
             |  FROM a),
             |tc AS (SELECT user_id, event_type, count(*) AS n
             |       FROM events GROUP BY 1, 2),
             |tt AS (SELECT user_id, CAST(sum(n) AS BIGINT) AS t
             |       FROM tc GROUP BY 1),
             |ent AS (
             |  SELECT tc.user_id,
             |    CAST(SUM(CAST(round(-(CAST(tc.n AS DOUBLE) / tt.t)
             |      * ln(CAST(tc.n AS DOUBLE) / tt.t), 6) AS DECIMAL(16,6)))
             |      AS DOUBLE) AS type_entropy
             |  FROM tc JOIN tt USING (user_id) GROUP BY 1)
             |SELECT ia.user_id, ia.n_gaps, ia.cv, ia.burstiness,
             |  ent.type_entropy,
             |  ia.cv <= 0.05 AS metronomic,
             |  ent.type_entropy <= 0.5 AS monotone
             |FROM ia JOIN ent USING (user_id) ORDER BY user_id""".stripMargin)),

QueryDef("act1_activation_depth",
      // activation analysis: users bucketed by FIRST-24-HOURS event
      // depth, each bucket's later high-value-conversion rate (ab1's
      // success metric) — "how active must day-one be before users
      // convert", the aha-moment screen. First-day depth is an exact
      // integer window against the user's own first timestamp; one
      // division per bucket.
      (s, dir) => {
        val e = events(s, dir)
        val firstTs = e.groupBy("user_id").agg(min(col("ts")).as("_t0"))
        val depth = e.join(firstTs, "user_id")
          .groupBy("user_id")
          .agg(sum(when(expr("unix_micros(ts) - unix_micros(_t0)") <
              86400000000L, 1L).otherwise(0L)).as("_d"),
            max(when(col("event_type") === "purchase" &&
              col("value") > 195 &&
              expr("unix_micros(ts) - unix_micros(_t0)") >= 86400000000L,
              1L).otherwise(0L)).as("_conv"))
        depth.withColumn("depth_bucket",
            when(col("_d") <= 5, "a_1_5")
              .when(col("_d") <= 20, "b_6_20").otherwise("c_21_plus"))
          .groupBy("depth_bucket")
          .agg(count(lit(1)).as("users"), sum(col("_conv")).as("converters"))
          .withColumn("conv_rate", round(col("converters").cast("double") /
            col("users").cast("double"), 6))
          .orderBy("depth_bucket")
      },
      Some("""WITH f AS (SELECT user_id, min(ts) AS t0 FROM events GROUP BY 1),
             |d AS (
             |  SELECT e.user_id,
             |    CAST(sum(CASE WHEN date_diff('microsecond', f.t0, e.ts)
             |        < 86400000000 THEN 1 ELSE 0 END) AS BIGINT) AS dep,
             |    CAST(max(CASE WHEN e.event_type = 'purchase'
             |        AND e.value > 195
             |        AND date_diff('microsecond', f.t0, e.ts) >= 86400000000
             |      THEN 1 ELSE 0 END) AS BIGINT) AS conv
             |  FROM events e JOIN f USING (user_id) GROUP BY 1),
             |b AS (
             |  SELECT CASE WHEN dep <= 5 THEN 'a_1_5'
             |              WHEN dep <= 20 THEN 'b_6_20'
             |              ELSE 'c_21_plus' END AS depth_bucket, conv
             |  FROM d)
             |SELECT depth_bucket, count(*) AS users,
             |  CAST(sum(conv) AS BIGINT) AS converters,
             |  round(CAST(sum(conv) AS DOUBLE) / CAST(count(*) AS DOUBLE), 6)
             |    AS conv_rate
             |FROM b GROUP BY 1 ORDER BY depth_bucket""".stripMargin)),

QueryDef("e30_engagement_transitions",
      // engagement-state Markov matrix: users bucketed into WEEKLY
      // activity terciles (heavy/mid/light by event count, (count
      // desc, user) ntile tie-break) plus 'absent', and the transition
      // counts between consecutive calendar weeks — e15's machinery
      // on the ENGAGEMENT axis (the churn-funnel view: heavy→absent is
      // the alarm cell; weeks, because the synthetic log spans ~one
      // month). All-integer; one division per row.
      (s, dir) => {
        val m = events(s, dir)
          .groupBy(col("user_id"),
            date_trunc("week", col("ts")).cast("date").as("mon"))
          .agg(count(lit(1)).as("_n"))
        val state = graft.Caches.trackedPersist(m
          .withColumn("_t", ntile(3).over(Window.partitionBy("mon")
            .orderBy(col("_n").desc, col("user_id"))))
          .withColumn("state",
            when(col("_t") === 1, "heavy").when(col("_t") === 2, "mid")
              .otherwise("light"))
          .select(col("user_id"), col("mon"), col("state")),
          org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
        val nxt = state.select(col("user_id"),
          date_sub(col("mon"), 7).as("mon"), col("state").as("_to"))
        val pairs = state.join(nxt, Seq("user_id", "mon"), "left")
          .withColumn("to_state", coalesce(col("_to"), lit("absent")))
          .groupBy(col("state").as("from_state"), col("to_state"))
          .agg(count(lit(1)).as("n"))
        val tot = pairs.groupBy("from_state").agg(sum(col("n")).as("_t"))
        pairs.join(broadcast(tot), "from_state")
          .select(col("from_state"), col("to_state"), col("n"),
            round(col("n").cast("double") / col("_t").cast("double"), 6)
              .as("p"))
          .orderBy("from_state", "to_state")
      },
      Some("""WITH m AS (
             |  SELECT user_id, CAST(date_trunc('week', ts) AS DATE) AS mon,
             |         count(*) AS n
             |  FROM events GROUP BY 1, 2),
             |st AS (
             |  SELECT user_id, mon,
             |    CASE ntile(3) OVER (PARTITION BY mon ORDER BY n DESC, user_id)
             |      WHEN 1 THEN 'heavy' WHEN 2 THEN 'mid' ELSE 'light' END
             |      AS state
             |  FROM m),
             |nx AS (
             |  SELECT user_id, mon - 7 AS mon,
             |         state AS to_s
             |  FROM st),
             |p AS (
             |  SELECT st.state AS from_state,
             |         COALESCE(nx.to_s, 'absent') AS to_state, count(*) AS n
             |  FROM st LEFT JOIN nx USING (user_id, mon)
             |  GROUP BY 1, 2),
             |t AS (SELECT from_state, CAST(sum(n) AS BIGINT) AS t
             |      FROM p GROUP BY 1)
             |SELECT p.from_state, p.to_state, p.n,
             |  round(CAST(p.n AS DOUBLE) / CAST(t.t AS DOUBLE), 6) AS p
             |FROM p JOIN t USING (from_state)
             |ORDER BY from_state, to_state""".stripMargin)),

QueryDef("e31_session_stats",
      // batch session summary: the e2 gaps-and-islands sessions rolled
      // up per user — session count, median session duration (exact
      // integer seconds, ⌈n/2⌉ ORDER STATISTIC — no interpolation) and
      // median events per session. Two per-user windows (the e2 shape)
      // + one rank per user over its own sessions.
      (s, dir) => {
        val w = Window.partitionBy("user_id").orderBy(col("ts"), col("event_id"))
        val sess = events(s, dir)
          .select(col("user_id"), col("ts"), col("event_id"))
          .withColumn("_prev", lag(col("ts"), 1).over(w))
          .withColumn("_new", when(col("_prev").isNull ||
            expr("unix_micros(ts) - unix_micros(_prev)") >= 1800000000L,
            1L).otherwise(0L))
          .withColumn("_sid", sum(col("_new")).over(
            w.rowsBetween(Window.unboundedPreceding, 0)))
          .groupBy("user_id", "_sid")
          .agg(count(lit(1)).as("_ev"),
            expr("(unix_micros(max(ts)) - unix_micros(min(ts))) div 1000000L")
              .as("_dur"))
        val ranked = sess
          .withColumn("_rd", row_number().over(Window.partitionBy("user_id")
            .orderBy(col("_dur"), col("_sid"))))
          .withColumn("_re", row_number().over(Window.partitionBy("user_id")
            .orderBy(col("_ev"), col("_sid"))))
          .withColumn("_n", count(lit(1)).over(Window.partitionBy("user_id")))
        ranked.groupBy("user_id")
          .agg(max(col("_n")).as("n_sessions"),
            max(when(col("_rd") === expr("(_n + 1) div 2"), col("_dur")))
              .as("median_duration_s"),
            max(when(col("_re") === expr("(_n + 1) div 2"), col("_ev")))
              .as("median_events"))
          .orderBy("user_id")
      },
      Some("""WITH m AS (
             |  SELECT user_id, ts, event_id,
             |    CASE WHEN lag(ts) OVER w IS NULL
             |           OR date_diff('microsecond', lag(ts) OVER w, ts)
             |              >= 1800000000
             |         THEN 1 ELSE 0 END AS new_s
             |  FROM events
             |  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)),
             |g AS (
             |  SELECT user_id, ts, event_id,
             |    sum(new_s) OVER (PARTITION BY user_id ORDER BY ts, event_id
             |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS sid
             |  FROM m),
             |sess AS (
             |  SELECT user_id, sid, count(*) AS ev,
             |    date_diff('microsecond', min(ts), max(ts)) // 1000000 AS dur
             |  FROM g GROUP BY 1, 2),
             |rk AS (
             |  SELECT user_id, sid, ev, dur,
             |    row_number() OVER (PARTITION BY user_id ORDER BY dur, sid)
             |      AS rd,
             |    row_number() OVER (PARTITION BY user_id ORDER BY ev, sid)
             |      AS re,
             |    count(*) OVER (PARTITION BY user_id) AS n
             |  FROM sess)
             |SELECT user_id, CAST(max(n) AS BIGINT) AS n_sessions,
             |  CAST(max(CASE WHEN rd = (n + 1) // 2 THEN dur END) AS BIGINT)
             |    AS median_duration_s,
             |  CAST(max(CASE WHEN re = (n + 1) // 2 THEN ev END) AS BIGINT)
             |    AS median_events
             |FROM rk GROUP BY 1 ORDER BY user_id""".stripMargin)),

QueryDef("e32_behavior_lift",
      // behavior co-occurrence lift at the USER level: for each
      // directed event-type pair, P(user does B | does A)/P(does B) —
      // a34's market-basket algebra on the behavioral axis ("search
      // users are 2× likelier to purchase"). Fan-out bounded by the
      // TYPE vocabulary per user, never by activity volume; exact
      // counts, two divisions.
      (s, dir) => {
        val ut = graft.Caches.trackedPersist(events(s, dir)
          .select(col("user_id"), col("event_type")).distinct(),
          org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
        val nU = ut.select("user_id").distinct().agg(count(lit(1)).as("_N"))
        val tc = ut.groupBy(col("event_type")).agg(count(lit(1)).as("_nt"))
        val pairs = ut.as("a").join(ut.as("b"),
            col("a.user_id") === col("b.user_id") &&
              col("a.event_type") =!= col("b.event_type"))
          .groupBy(col("a.event_type").as("ante"),
            col("b.event_type").as("cons"))
          .agg(count(lit(1)).as("n_both"))
        pairs
          .join(broadcast(tc.select(col("event_type").as("ante"),
            col("_nt").as("_na"))), "ante")
          .join(broadcast(tc.select(col("event_type").as("cons"),
            col("_nt").as("_nb"))), "cons")
          .crossJoin(broadcast(nU))
          .select(col("ante"), col("cons"), col("n_both"),
            round(col("n_both").cast("double") / col("_na").cast("double"), 6)
              .as("confidence"),
            round((col("n_both") * col("_N")).cast("double") /
              (col("_na") * col("_nb")).cast("double"), 6).as("lift"))
          .orderBy("ante", "cons")
      },
      Some("""WITH ut AS (
             |  SELECT DISTINCT user_id, event_type FROM events),
             |nu AS (SELECT count(DISTINCT user_id) AS n FROM ut),
             |tc AS (SELECT event_type, count(*) AS nt FROM ut GROUP BY 1),
             |p AS (
             |  SELECT a.event_type AS ante, b.event_type AS cons,
             |         count(*) AS n_both
             |  FROM ut a JOIN ut b ON a.user_id = b.user_id
             |    AND a.event_type <> b.event_type
             |  GROUP BY 1, 2)
             |SELECT p.ante, p.cons, p.n_both,
             |  round(CAST(p.n_both AS DOUBLE) / CAST(ta.nt AS DOUBLE), 6)
             |    AS confidence,
             |  round(CAST(p.n_both * nu.n AS DOUBLE)
             |    / CAST(ta.nt * tb.nt AS DOUBLE), 6) AS lift
             |FROM p JOIN tc ta ON p.ante = ta.event_type
             |       JOIN tc tb ON p.cons = tb.event_type
             |       CROSS JOIN nu
             |ORDER BY ante, cons""".stripMargin)),

    QueryDef("e36_watermark_sweep",
      // watermark-delay tuning sweep over PLANTED lateness ([[graft.ops
      // .RankOps.withGlobalPrefixMax]] — the prefix-sums primitive
      // generalized to running max): the generated events arrive in
      // event_id order with monotone timestamps (zero natural lateness,
      // measured), so event time is perturbed the planted-scenario way —
      // every 10th event by id-hash is delayed 0–3599 s (the d20 md5
      // convention, replayable). The watermark is the running max of
      // event time over ARRIVAL order — a global running max the
      // distributed prefix pass computes without a single-task window —
      // and the sweep reports, for delay ∈ {60, 300, 900, 3600} s, how
      // many events a `withWatermark(delay)` stream would drop: the
      // table that picks the delay/completeness trade-off before
      // deploying the e3/e4 streaming jobs. All-integer micros until
      // the two closing ratios.
      (s, dir) => {
        val ev = events(s, dir).select(col("event_id"),
          unix_micros(col("ts")).as("_ta"))
        val u = Sam.hashBucket(col("event_id").cast("string"), 1000000,
          D.md5Hash60)
        val withU = ev.withColumn("_u", u).select(col("event_id"),
          (col("_ta") - when(col("_u") % 10 === 0,
            ((col("_u") / 10).cast("long") % 3600) * 1000000L)
            .otherwise(0L)).as("_te"))
        val wm = graft.ops.RankOps.withGlobalPrefixMax(withU,
          Seq(col("event_id")), Seq("_te"), Seq("_wm"))
        val late = wm.select((col("_wm") - col("_te")).as("_late"))
        val sweep = s.range(0, 4).select(
          element_at(array(lit(60L), lit(300L), lit(900L), lit(3600L)),
            (col("id") + 1).cast("int")).as("delay_s"))
        late.crossJoin(broadcast(sweep))
          .groupBy("delay_s")
          .agg(count(lit(1)).as("n_events"),
            sum(when(col("_late") > col("delay_s") * 1000000L, 1L)
              .otherwise(0L)).as("n_dropped"),
            round(sum(when(col("_late") > col("delay_s") * 1000000L, 1L)
              .otherwise(0L)).cast("double") / count(lit(1)).cast("double"), 6)
              .as("drop_rate"),
            round(max(col("_late")).cast("double") / 1e6, 6)
              .as("max_lateness_s"))
          .orderBy("delay_s")
      },
      Some("""WITH ev AS (
             |  SELECT event_id, epoch_us(ts) AS ta,
             |    CAST(('0x' || substring(md5(CAST(event_id AS VARCHAR)), 1, 15)) AS BIGINT)
             |      % 1000000 AS u
             |  FROM events),
             |te AS (
             |  SELECT event_id,
             |    ta - CASE WHEN u % 10 = 0 THEN ((u // 10) % 3600) * 1000000
             |              ELSE 0 END AS t
             |  FROM ev),
             |wm AS (
             |  SELECT t, max(t) OVER (ORDER BY event_id
             |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS w
             |  FROM te),
             |l AS (SELECT w - t AS late FROM wm),
             |sweep AS (SELECT CAST(unnest([60, 300, 900, 3600]) AS BIGINT) AS delay_s)
             |SELECT delay_s, count(*) AS n_events,
             |  CAST(sum(CASE WHEN late > delay_s * 1000000 THEN 1 ELSE 0 END) AS BIGINT)
             |    AS n_dropped,
             |  round(CAST(sum(CASE WHEN late > delay_s * 1000000 THEN 1 ELSE 0 END) AS DOUBLE)
             |    / CAST(count(*) AS DOUBLE), 6) AS drop_rate,
             |  round(CAST(max(late) AS DOUBLE) / 1e6, 6) AS max_lateness_s
             |FROM l CROSS JOIN sweep GROUP BY 1 ORDER BY 1""".stripMargin)),

    QueryDef("e35_retention_decay",
      // parametric summary of e10's retention matrix: per cohort, the
      // OLS fit of ln(retention) against week offset — the decay rate
      // one number captures what the matrix says in thirty ("is this
      // cohort's churn improving"), plus the implied half-life. The
      // t20 fit contract: per-point lns round 6dp and enter the fit
      // sums as exact decimals (offsets are exact integers), so both
      // engines fit identical points; slope/half-life round 6dp.
      // Offset-0 cells (retention ≡ 1) are excluded — they carry no
      // decay information and would anchor the fit at ln(1)=0.
      (s, dir) => {
        val pts = EventAnalyticsOps.cohortRetention(events(s, dir))
          .filter(col("week_offset") >= 1 && col("retention_rate") > 0)
          .select(col("cohort_week"),
            col("week_offset").cast("long").as("_x"),
            round(log(col("retention_rate")), 6)
              .cast("decimal(12,6)").as("_y"))
        pts.groupBy("cohort_week")
          .agg(count(lit(1)).as("n_points"),
            sum(col("_x")).as("_sx"),
            sum(col("_y")).as("_sy"),
            sum(col("_x") * col("_y")).as("_sxy"),
            sum(col("_x") * col("_x")).as("_sxx"))
          .filter(col("n_points") >= 3)
          .withColumn("_b",
            (col("n_points") * col("_sxy") - col("_sx") * col("_sy"))
              .cast("double") /
              (col("n_points") * col("_sxx") - col("_sx") * col("_sx"))
                .cast("double"))
          .select(col("cohort_week"), col("n_points"),
            round(col("_b"), 6).as("decay_rate"),
            when(col("_b") < 0,
              round(lit(-math.log(2.0)) / col("_b"), 6))
              .as("half_life_weeks"))
          .orderBy("cohort_week")
      },
      Some("""WITH f AS (
             |  SELECT user_id,
             |         CAST(date_trunc('week', min(ts)) AS DATE) AS cohort_week
             |  FROM events GROUP BY user_id),
             |sz AS (SELECT cohort_week, count(*) AS cohort_size
             |       FROM f GROUP BY cohort_week),
             |act AS (
             |  SELECT DISTINCT f.cohort_week,
             |    CAST(date_diff('day', f.cohort_week,
             |           CAST(date_trunc('week', e.ts) AS DATE)) / 7 AS INTEGER)
             |      AS week_offset,
             |    e.user_id
             |  FROM events e JOIN f ON e.user_id = f.user_id),
             |a AS (SELECT cohort_week, week_offset, count(*) AS active_users
             |      FROM act GROUP BY 1, 2),
             |pts AS (
             |  SELECT a.cohort_week, CAST(a.week_offset AS BIGINT) AS x,
             |    CAST(round(ln(round(CAST(a.active_users AS DOUBLE)
             |      / sz.cohort_size, 6)), 6) AS DECIMAL(12,6)) AS y
             |  FROM a JOIN sz USING (cohort_week)
             |  WHERE a.week_offset >= 1
             |    AND round(CAST(a.active_users AS DOUBLE) / sz.cohort_size, 6) > 0),
             |s AS (
             |  SELECT cohort_week, count(*) AS k,
             |    CAST(sum(x) AS BIGINT) AS sx, sum(y) AS sy,
             |    sum(x * y) AS sxy, CAST(sum(x * x) AS BIGINT) AS sxx
             |  FROM pts GROUP BY 1),
             |b AS (
             |  SELECT cohort_week, k,
             |    CAST(k * sxy - sx * sy AS DOUBLE)
             |      / CAST(k * sxx - sx * sx AS DOUBLE) AS b
             |  FROM s WHERE k >= 3)
             |SELECT cohort_week, CAST(k AS BIGINT) AS n_points,
             |  round(b, 6) AS decay_rate,
             |  CASE WHEN b < 0 THEN round(-ln(2.0) / b, 6) END
             |    AS half_life_weeks
             |FROM b ORDER BY cohort_week""".stripMargin)),

    QueryDef("e37_removal_attribution",
      // Markov removal-effect attribution ([[graft.ops
      // .EventAnalyticsOps.removalEffectAttribution]]; Anderl et al.
      // 2014): journeys → first-order chain → each channel credited by
      // the conversion probability that disappears when its transitions
      // redirect to the null absorber. Distributed journey/transition
      // pass; the chain itself is a taxonomy-sized collect and the 60
      // exact-decimal absorption sweeps run driver-side; the oracle
      // unrolls the identical sweeps as chained DECIMAL CTEs
      // ([[QHelpers.removalAttributionOracle]], the logregOracle
      // pattern).
      (s, dir) => EventAnalyticsOps.removalEffectAttribution(
        events(s, dir), convType = "purchase", iters = 60),
      Some(removalAttributionOracle("purchase", 60)))
  )
}
