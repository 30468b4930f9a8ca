package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Feature transform: the per-entity ordered window operators
  * (SURVEY.md §2e, W-1..W-5; reference `src/pipeline.py:78-91`).
  *
  * Scale design: ALL window columns share one `Window.partitionBy(entity)
  * .orderBy(time)` spec, so Catalyst plans a SINGLE exchange+sort for the
  * whole feature stage — on a 1000-executor cluster this is one shuffle
  * keyed by the entity, not one per indicator. Verified via
  * `.explain("formatted")`: one Exchange hashpartitioning(ticker) feeding
  * one Window node with all five window expressions.
  *
  * Semantics trap reproduced deliberately (SURVEY.md §2e preamble): pandas
  * `rolling(n)` defaults `min_periods = n` → NaN until the frame is full.
  * Spark computes partial frames, so every rolling agg is guarded with a
  * full-frame count check to reproduce the leading nulls (visible in the
  * reference's committed CSV `outputs/prices_AAPL-MSFT_...csv:2-5`).
  */
object FeatureOps {

  /** Guarded rolling aggregate: value only when the frame holds exactly
    * `n` rows (pandas `min_periods=n` parity).
    */
  def fullFrame(aggExpr: Column => Column, c: Column, n: Int, w: org.apache.spark.sql.expressions.WindowSpec): Column = {
    val frame = w.rowsBetween(-(n - 1), 0)
    when(count(c).over(frame) === n, aggExpr(c).over(frame))
  }

  /** Exact-decimal moving average for 2-decimal inputs (prices carry at
    * most 2 true decimals): the window SUM runs in decimal — exact, so
    * cross-engine accumulation order is irrelevant — and only the final
    * exact value converts to double before one IEEE division. Bit-exact
    * on any engine; same leading-null guard as [[fullFrame]].
    */
  def maExact2dp(c: Column, n: Int, w: org.apache.spark.sql.expressions.WindowSpec): Column = {
    val frame = w.rowsBetween(-(n - 1), 0)
    when(count(c).over(frame) === n,
      sum(c.cast("decimal(18,2)")).over(frame).cast("double") / n.toDouble)
  }

  /** W-2: 1-lag percent change (`pct_change`, reference `src/pipeline.py:61,81`).
    * First row per entity → null, matching pandas.
    */
  def pctChange(entity: String, time: String, value: String): Column = {
    val w = Window.partitionBy(entity).orderBy(time)
    col(value) / lag(value, 1).over(w) - 1
  }

  /** W-1..W-5: the full feature stage. Emits `ret` (the duplicate
    * `ret`/`return` pair of the reference is a faithful-quirk concern for
    * compat mode only — here one canonical `ret`), `ma20`, `ma50`, `vol20`.
    */
  def transform(
      df: DataFrame,
      entity: String = "ticker",
      time: String = "date",
      close: String = "close",
      maShort: Int = 20,
      maLong: Int = 50,
      volWindow: Int = 20): DataFrame = {
    val w = Window.partitionBy(entity).orderBy(time)
    val withRet = df.withColumn("ret", col(close) / lag(close, 1).over(w) - 1)
    withRet
      .withColumn(s"ma$maShort", fullFrame(avg, col(close), maShort, w))
      .withColumn(s"ma$maLong", fullFrame(avg, col(close), maLong, w))
      .withColumn(s"vol$volWindow", fullFrame(stddev_samp, col("ret"), volWindow, w))
  }

  /** W-6: keep-LAST dedup with an explicit order column (reference
    * `drop_duplicates(keep='last')`, `src/pipeline.py:53`). pandas "last"
    * means last in input order; distributed input has no order, so the
    * caller supplies the sequence column (ingest order id, timestamp, …).
    * `dropDuplicates` alone is nondeterministic about the survivor.
    */
  /** Business-day gap repair: expand each entity's Mon–Fri calendar
    * (same generator as [[ValidationOps.missingBusinessDays]]), FULL
    * OUTER join the observations, and forward-fill `value` from the last
    * non-null — the standard price-series repair before window features
    * (a missing day would otherwise silently shorten ma/vol frames).
    * Leading rows never fill from nothing: the calendar starts at each
    * entity's first OBSERVED day. The full join (not left) keeps
    * observations that fall OUTSIDE the Mon–Fri calendar — a weekend or
    * holiday-session row passes through with its own value (was_missing
    * = false) and forward-fills into the following Monday, instead of
    * being silently deleted. Emits `<value>_filled` plus a `was_missing`
    * audit flag; fill values are copied, never recomputed, so the repair
    * is bit-exact in any engine.
    *
    * Scale: the calendar is days × entities (tiny next to the fact
    * table); the join and the forward-fill window both hash by entity —
    * one shuffle each, AQE-coalesced; nothing global.
    */
  def gapFillBusinessDays(df: DataFrame, entity: String, time: String,
      value: String,
      storage: org.apache.spark.storage.StorageLevel =
        org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK): DataFrame = {
    // `df` feeds BOTH the span aggregation and the observation join —
    // without pinning, its whole lineage (often an aggregation itself)
    // runs twice. StorageLevel.NONE disables for callers that manage
    // materialization themselves; the pin is released when the caller's
    // [[graft.Caches.scoped]] block closes.
    graft.Caches.trackedPersist(df, storage)
    val spans = df.groupBy(col(entity))
      .agg(min(col(time)).as("_d0"), max(col(time)).as("_d1"))
    val calendar = spans
      .withColumn("_day", explode(sequence(col("_d0"), col("_d1"))))
      .filter(weekday(col("_day")) < 5)
      .select(col(entity), col("_day").as(time))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col(entity)).orderBy(col(time))
      .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding, 0)
    calendar.join(df.select(col(entity), col(time), col(value)),
        Seq(entity, time), "full")
      .select(col(entity), col(time),
        last(col(value), ignoreNulls = true).over(w).as(s"${value}_filled"),
        col(value).isNull.as("was_missing"))
  }

  /** Business-day gap repair by LINEAR INTERPOLATION — the estimation
    * twin of [[gapFillBusinessDays]]'s forward fill: a missing day gets
    * prev + (next − prev) · Δt/ΔT between its nearest observed
    * neighbors (pandas `interpolate(method='time')`), which a forward
    * fill systematically biases toward the stale side. Leading gaps
    * take the next value, trailing gaps the previous; observed rows
    * pass through EXACTLY (never recomputed). Interpolated values are
    * the RAW IEEE result `pv + (nv − pv)·(Δt/ΔT)` — day deltas are
    * exact ints, the inputs are shared doubles, and IEEE arithmetic is
    * exactly specified, so the unrounded frame replays bit-for-bit in
    * any engine evaluating the same expression. (Do NOT round: a
    * decimal round re-introduces engine-specific boundary behavior —
    * a value landing on an exact .xxxxxx5 flips between engines.)
    *
    * Scale: same shape as the forward fill — calendar is days ×
    * entities, one entity-hash join; BOTH neighbor lookups are O(n)
    * running frames (unbounded-preceding accumulation), the forward
    * one over a DESCENDING sort of the same partitioning — one
    * exchange, two sorts. (The naive `first over (current..unbounded
    * following)` frame rescans the tail per row — O(n²) per entity,
    * measured 5× the forward fill's cost at sf0.1.)
    */
  def interpolateBusinessDays(df: DataFrame, entity: String, time: String,
      value: String,
      storage: org.apache.spark.storage.StorageLevel =
        org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK): DataFrame = {
    graft.Caches.trackedPersist(df, storage)
    val spans = df.groupBy(col(entity))
      .agg(min(col(time)).as("_d0"), max(col(time)).as("_d1"))
    val calendar = spans
      .withColumn("_day", explode(sequence(col("_d0"), col("_d1"))))
      .filter(weekday(col("_day")) < 5)
      .select(col(entity), col("_day").as(time))
    val wB = org.apache.spark.sql.expressions.Window
      .partitionBy(col(entity)).orderBy(col(time))
      .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding, 0)
    // next-neighbor = running last over the REVERSED order: O(n)
    // accumulation instead of an O(n²) unbounded-following rescan
    val wF = org.apache.spark.sql.expressions.Window
      .partitionBy(col(entity)).orderBy(col(time).desc)
      .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding, 0)
    calendar.join(df.select(col(entity), col(time), col(value)),
        Seq(entity, time), "full")
      .withColumn("_pv", last(col(value), ignoreNulls = true).over(wB))
      .withColumn("_pt",
        last(when(col(value).isNotNull, col(time)), ignoreNulls = true).over(wB))
      .withColumn("_nv", last(col(value), ignoreNulls = true).over(wF))
      .withColumn("_nt",
        last(when(col(value).isNotNull, col(time)), ignoreNulls = true).over(wF))
      .select(col(entity), col(time),
        when(col(value).isNotNull, col(value))
          .when(col("_pv").isNull, col("_nv"))
          .when(col("_nv").isNull, col("_pv"))
          .otherwise(col("_pv") + (col("_nv") - col("_pv")) *
            (datediff(col(time), col("_pt")).cast("double") /
             datediff(col("_nt"), col("_pt")).cast("double")))
          .as(s"${value}_interp"),
        col(value).isNull.as("was_missing"))
  }

  def keepLast(df: DataFrame, keys: Seq[String], seqCol: String): DataFrame =
    keepLast(df, keys, Seq(seqCol))

  /** Multi-column variant: later = greater on (seqCols...) lexicographically.
    * Callers must supply enough columns to make the ordering total within
    * each key group, or the survivor is nondeterministic.
    */
  def keepLast(df: DataFrame, keys: Seq[String], seqCols: Seq[String]): DataFrame = {
    val w = Window.partitionBy(keys.map(col): _*).orderBy(seqCols.map(col(_).desc): _*)
    df.withColumn("_rn", row_number().over(w)).filter(col("_rn") === 1).drop("_rn")
  }

  /** Truncated exponentially-weighted moving average — pandas
    * `ewm(span=span, adjust=True).mean()` computed over the last
    * `lookback` rows only: ewma_t = Σ_{i<m} (1-α)^i·x_{t-i} / Σ (1-α)^i
    * with α = 2/(span+1) and m = rows present in the frame (≤ lookback).
    * Truncation is the standard production form — with span 20, the
    * weight 20 rows back is (19/21)^20 ≈ 0.13 and the tail beyond a
    * few spans contributes < 1%, while an UNtruncated recursive EWMA
    * would make every output depend on the entire per-entity history.
    *
    * Determinism contract: the weighted numerator is an ORDERED left
    * fold (`aggregate`) over the frame's (rn, value) structs — frame
    * order = time order — and the denominator is the closed-form
    * geometric sum (1-(1-α)^m)/α, so an external engine folding the
    * same list reproduces the double bit-for-bit before the 6dp round.
    * (entity, time) must be unique, like every w-family operator.
    *
    * Scale shape: one per-entity sort (shares the exchange with any
    * other same-spec window column), a BOUNDED `lookback`-row frame —
    * per-row state is O(lookback), independent of history length — and
    * a scan-local fold. No data-controlled window cardinality.
    */
  def withEwma(df: DataFrame, entity: String, time: String, value: String,
      span: Int, lookback: Int, out: String): DataFrame = {
    require(span >= 1, s"span must be >= 1 (got $span)")
    require(lookback >= 1, s"lookback must be >= 1 (got $lookback)")
    val alpha = 2.0 / (span + 1.0)
    val oneMinus = 1.0 - alpha
    val used = df.columns.toSet
    val rn = ColNames.fresh(used, "_ewma_rn")
    val h = ColNames.fresh(used + rn, "_ewma_h")
    val w = Window.partitionBy(entity).orderBy(time)
    val frame = w.rowsBetween(-(lookback - 1), 0)
    df.withColumn(rn, row_number().over(w))
      .withColumn(h, collect_list(
        struct(col(rn).as("rn"), col(value).cast("double").as("c"))).over(frame))
      .withColumn(out, round(
        aggregate(col(h), lit(0.0), (acc, e) =>
          acc + e.getField("c") * pow(lit(oneMinus), col(rn) - e.getField("rn")))
          / ((lit(1.0) - pow(lit(oneMinus), size(col(h)))) / lit(alpha)), 6))
      .drop(rn, h)
  }

  /** Holt's linear-trend (double) exponential smoothing, one row per
    * entity with the final level/trend state and the `horizon`-step
    * forecast level + horizon·trend (Holt 1957; the standard
    * short-range per-series forecast a monitoring pipeline runs over
    * every metric):
    *
    *   l_t = α·x_t + (1−α)·(l_{t−1} + b_{t−1})
    *   b_t = β·(l_t − l_{t−1}) + (1−β)·b_{t−1}
    *
    * initialized l_1 = x_1, then l_2 = x_2, b_2 = x_2 − x_1 (recursion
    * from t = 3; a 1-row series forecasts itself with zero trend).
    *
    * Determinism contract: a float recursion AMPLIFIES ulp noise (every
    * step feeds the next), so unlike the windowed features the state
    * here is EXACT DECIMAL — inputs cast to 2dp decimal, α/β decimal
    * literals, and both state components rounded to 8 dp (HALF_UP —
    * both engines round decimals away from zero) at every step. An
    * external engine replaying the same recurrence reproduces every
    * intermediate state bit-for-bit, recursion depth notwithstanding.
    *
    * Scale shape: ONE hash aggregation collects each entity's ordered
    * (time, value) series — per-entity state, array-local fold,
    * nothing history-length lands in shuffle state beyond the series
    * itself, and a time series is calendar-bounded per entity (the
    * d15/r5 array-local convention). No window, no driver collect.
    */
  def holtForecast(df: DataFrame, entity: String, time: String, value: String,
      alpha: java.math.BigDecimal = new java.math.BigDecimal("0.5"),
      beta: java.math.BigDecimal = new java.math.BigDecimal("0.3"),
      horizon: Int = 5): DataFrame = {
    require(horizon >= 1, s"horizon must be >= 1 (got $horizon)")
    val one = java.math.BigDecimal.ONE
    require(alpha.signum > 0 && alpha.compareTo(one) < 0, s"alpha must be in (0,1) (got $alpha)")
    require(beta.signum > 0 && beta.compareTo(one) < 0, s"beta must be in (0,1) (got $beta)")
    val dec = "decimal(20,8)"
    val a = lit(alpha); val ia = lit(one.subtract(alpha))
    val bC = lit(beta); val ib = lit(one.subtract(beta))
    val series = df.groupBy(col(entity))
      .agg(array_sort(collect_list(struct(col(time).as("t"),
        col(value).cast("decimal(12,2)").as("x")))).as("_xs"))
    val init = struct(lit(0L).as("i"),
      lit(null).cast(dec).as("l"), lit(null).cast(dec).as("b"))
    series
      .withColumn("_st", aggregate(col("_xs"), init, (acc, e) => {
        val i = acc.getField("i")
        val l = acc.getField("l")
        val bb = acc.getField("b")
        val x = e.getField("x").cast(dec)
        val newL = when(i === 0, x).when(i === 1, x)
          .otherwise(round(a * x + ia * (l + bb), 8).cast(dec))
        val newB = when(i === 0, lit(java.math.BigDecimal.ZERO).cast(dec))
          .when(i === 1, round(x - l, 8).cast(dec))
          .otherwise(round(bC * (newL - l) + ib * bb, 8).cast(dec))
        struct((i + lit(1L)).as("i"), newL.as("l"), newB.as("b"))
      }))
      .select(col(entity),
        col("_st.i").as("n"),
        col("_st.l").cast("double").as("level"),
        col("_st.b").cast("double").as("trend"),
        (col("_st.l") + lit(horizon) * col("_st.b")).cast("double")
          .as(s"forecast_$horizon"))
  }

  /** Theil–Sen robust trend per entity (Theil 1950; Sen, JASA 1968):
    * slope = MEDIAN of all pairwise slopes (y_j − y_i)/(x_j − x_i)
    * over time-ordered pairs, intercept = median residual at that
    * slope — the trend line a single bad feed row cannot drag (up to
    * ~29% contamination), where a18's OLS moves with every outlier.
    * x is the day index from `epoch`; same-x pairs are excluded
    * (duplicate timestamps would divide by zero and carry no slope
    * information). Entities need ≥ 2 distinct x values to appear.
    *
    * Determinism: each pairwise slope is ONE IEEE division on exact
    * inputs (bit-identical cross-engine); the median is Spark's exact
    * linear interpolation — the same `lo + (hi−lo)·frac` recurrence
    * DuckDB's `quantile_cont` evaluates (the w19 contract) — and only
    * the reported slope/intercept round to 6 dp.
    *
    * Scale note: the pair join is O(n²) PER ENTITY — right for
    * calendar-bounded series (a year of dailies = 66k pairs); for
    * longer series cut the window upstream (the g3 date-cut
    * convention) or sample pairs (the randomized Theil–Sen variant).
    * The exact per-group median buffers group pair lists (the
    * madOutliers exact-tier caveat); everything else is equi-join +
    * hash agg with entity-sized frames broadcast back.
    */
  def theilSenTrend(df: DataFrame, entity: String, time: String, value: String,
      epoch: String = "1992-01-01"): DataFrame = {
    val p = df.filter(col(value).isNotNull)
      .select(col(entity).as("_e"),
        datediff(col(time), lit(epoch).cast("date")).cast("long").as("_x"),
        col(value).cast("double").as("_y"))
    val a = p.select(col("_e"), col("_x").as("_xi"), col("_y").as("_yi"))
    val b = p.select(col("_e"), col("_x").as("_xj"), col("_y").as("_yj"))
    val slopes = a.join(b, Seq("_e")).filter(col("_xi") < col("_xj"))
      .withColumn("_m",
        (col("_yj") - col("_yi")) / (col("_xj") - col("_xi")).cast("double"))
    val fit = slopes.groupBy(col("_e"))
      .agg(count(lit(1)).as("n_pairs"), expr("percentile(_m, 0.5D)").as("_slope"))
    p.join(broadcast(fit), Seq("_e"))
      .withColumn("_r", col("_y") - col("_slope") * col("_x").cast("double"))
      .groupBy(col("_e"))
      .agg(count(lit(1)).as("n"),
        min(col("n_pairs")).as("n_pairs"),        // constant per entity
        round(min(col("_slope")), 6).as("slope"), // constant per entity
        round(expr("percentile(_r, 0.5D)"), 6).as("intercept"))
      .withColumnRenamed("_e", entity)
      .orderBy(entity)
  }

  /** 1-D local-level Kalman filter per entity (Kalman 1960; the
    * steady-state denoiser behind every "smoothed metric" dashboard
    * line), final state per entity:
    *
    *   p̂ = p + q;  g = p̂/(p̂ + r);  x ← x + g·(z − x);  p ← (1−g)·p̂
    *
    * initialized x = z₁, p = 1. Returns (entity, n, level, p_var,
    * gain) — `level` the filtered level after the last observation,
    * `gain` the last Kalman gain (its convergence toward the
    * steady-state value is the filter's health check).
    *
    * Determinism contract (the [[holtForecast]] rule, plus division):
    * the state recursion is EXACT decimal except the gain's division,
    * which no decimal can close. ROUNDING the double quotient would be
    * engine-divergent at .5 boundaries (the w22 measurement: double
    * `round` is decimal-string-based in the JVM, scaling-based in C
    * engines), so the gain is TRUNCATED instead:
    * `floor(q·10⁸)/10⁸` is a pure IEEE chain — multiply, floor,
    * divide, all bit-identical everywhere — and the result sits within
    * ~10⁻¹⁷ of a true 8 dp decimal, so the decimal cast recovers it
    * exactly with no boundary to sit on. Every engine replaying the
    * recipe lands on identical states at any depth.
    *
    * Scale shape: one hash aggregation collects each entity's
    * calendar-bounded ordered series; the fold is array-local.
    */
  def kalmanLevel(df: DataFrame, entity: String, time: String, value: String,
      q: java.math.BigDecimal = new java.math.BigDecimal("0.01"),
      r: java.math.BigDecimal = new java.math.BigDecimal("1.0")): DataFrame = {
    require(q.signum >= 0, s"q must be >= 0 (got $q)")
    require(r.signum > 0, s"r must be > 0 (got $r)")
    require(q.add(r).compareTo(new java.math.BigDecimal(90)) < 0,
      s"q + r must stay < 90 — the decimal(10,8) state bound (p converges below r + q)")
    // gain and variance are bounded (g < 1, p ≤ p₀ + q), so they live
    // in decimal(10,8) — tight types keep every product inside decimal
    // precision 38 in ANY engine (a (20,8)×(21,8) product overflows
    // DuckDB's width-38 ceiling and trips Spark's precision-loss scale
    // truncation; bounded operands never get near it)
    val dec = "decimal(20,8)"
    val decG = "decimal(10,8)"
    val one = lit(java.math.BigDecimal.ONE)
    val qC = lit(q).cast(decG)
    val rC = lit(r).cast(decG)
    val series = df.filter(col(value).isNotNull)
      .groupBy(col(entity))
      .agg(array_sort(collect_list(struct(col(time).as("t"),
        col(value).cast("decimal(12,2)").as("z")))).as("_zs"))
    val init = struct(lit(0L).as("i"), lit(null).cast(dec).as("x"),
      lit(null).cast(decG).as("p"), lit(null).cast(decG).as("g"))
    series
      .withColumn("_st", aggregate(col("_zs"), init, (acc, e) => {
        val i = acc.getField("i")
        val x = acc.getField("x")
        val p = acc.getField("p")
        val z = e.getField("z").cast(dec)
        val pPred = (p + qC).cast(decG)
        val gain = (floor(pPred.cast("double") / (pPred + rC).cast("double")
          * lit(1e8)) / lit(1e8)).cast(decG)
        val newX = when(i === 0, z)
          .otherwise((x + round(gain * (z - x).cast("decimal(16,8)"), 8)
            .cast(dec)).cast(dec))
        val newP = when(i === 0, one.cast(decG))
          .otherwise(round((one.cast(decG) - gain).cast(decG) * pPred, 8).cast(decG))
        val newG = when(i === 0, lit(null).cast(decG)).otherwise(gain)
        struct((i + lit(1L)).as("i"), newX.as("x"), newP.as("p"), newG.as("g"))
      }))
      .select(col(entity),
        col("_st.i").as("n"),
        col("_st.x").cast("double").as("level"),
        col("_st.p").cast("double").as("p_var"),
        col("_st.g").cast("double").as("gain"))
      .orderBy(entity)
  }

  /** Spearman rank correlation of two columns per entity — the robust
    * (monotone-invariant, outlier-resistant) companion to the a12
    * Pearson family: Pearson over AVERAGE ranks.
    *
    * Determinism contract: average rank = (rank_min + rank_max)/2 with
    * rank_min = SQL `rank()` and rank_max = `count(*)` over the
    * RANGE-framed window (all ties included) — exact integers, and
    * their half-sum is exactly representable (….0 or ….5), so the rank
    * vectors are bit-identical in every engine; the one float step is
    * `corr`, rounded 6dp (the a12 co-moment convention).
    *
    * Scale shape: both rank windows and both RANGE count windows
    * partition by the SAME entity key — ONE exchange, two in-partition
    * sorts; then one hash aggregation. No cross-entity data movement.
    */
  def spearmanCorr(df: DataFrame, entityCol: String, xCol: String,
      yCol: String): DataFrame = {
    val p = df.filter(col(xCol).isNotNull && col(yCol).isNotNull)
    def avgRank(c: String): Column = {
      val w = Window.partitionBy(entityCol).orderBy(c)
      val wr = w.rangeBetween(Window.unboundedPreceding, Window.currentRow)
      (rank().over(w) + count(lit(1)).over(wr)).cast("double") / 2
    }
    p.withColumn("_rx", avgRank(xCol))
      .withColumn("_ry", avgRank(yCol))
      .groupBy(col(entityCol))
      .agg(count(lit(1)).as("n"),
        round(corr(col("_rx"), col("_ry")), 6).as("spearman"))
      .orderBy(entityCol)
  }

  /** Lead–lag cross-correlation between entity pairs: corr of entity
    * A's value at t with entity B's value k OBSERVATIONS earlier
    * (negative k = later), for every |k| ≤ maxLag — the classic
    * price-discovery / signal-alignment scan ("does B lead A?").
    *
    * Scale shape: the shifted columns stack as ONE lag window per k on
    * a single entity-partitioned exchange; the (2·maxLag+1)-way
    * unpivot is scan-local; the date equi-join then moves each side
    * once and the co-moments reduce to pairs × lags rows. The pair
    * universe should be pre-filtered (the a12 T² caveat) — this is a
    * small-universe diagnostic, not an all-pairs market scan.
    */
  def leadLagCorr(df: DataFrame, entityCol: String, timeCol: String,
      valueCol: String, maxLag: Int): DataFrame = {
    require(maxLag >= 1, s"maxLag must be >= 1 (got $maxLag)")
    val ks = -maxLag to maxLag
    val w = Window.partitionBy(entityCol).orderBy(timeCol)
    val r = df.filter(col(valueCol).isNotNull)
      .select(col(entityCol), col(timeCol), col(valueCol))
    def cn(k: Int): String = if (k < 0) s"_lm${-k}" else s"_lp$k"
    val lagged = ks.foldLeft(r)((d, k) =>
      d.withColumn(cn(k), lag(col(valueCol), k).over(w)))
    val stackExpr =
      s"stack(${ks.size}, " + ks.map(k => s"$k, ${cn(k)}").mkString(", ") +
        ") as (k, _vb)"
    val b = lagged.select(col(entityCol).as("_tb"), col(timeCol),
      expr(stackExpr)).filter(col("_vb").isNotNull)
    val a = r.toDF("_ta", timeCol, "_va")
    a.join(b, Seq(timeCol)).filter(col("_ta") < col("_tb"))
      .groupBy(col("_ta"), col("_tb"), col("k"))
      .agg(count(lit(1)).as("n"),
        round(corr(col("_va"), col("_vb")), 6).as("xcorr"))
      .select(col("_ta").as("ta"), col("_tb").as("tb"), col("k"),
        col("n"), col("xcorr"))
      .orderBy("ta", "tb", "k")
  }

  /** Hurst exponent by rescaled-range (R/S) analysis (Hurst 1951;
    * Mandelbrot & Wallis 1969): chop each entity's µunit-integer value
    * series into full non-overlapping blocks of each size in `sizes`,
    * compute the block's rescaled range R/S = (max−min of cumulative
    * mean-deviations) / population σ, average per size, and fit
    * ln(mean R/S) against ln(size) — the slope is H (≈0.5 random walk,
    * >0.5 persistent/trending, <0.5 mean-reverting). The long-memory
    * diagnostic next to w32's ACF and w41's variance ratio.
    *
    * Exactness: with integer inputs x and block sum B over size S, the
    * scaled cumulative deviation S·cum_k = S·prefix_k − k·B is an
    * EXACT long, so the range numerator, the σ² numerator
    * (S·Σx² − B²) and the degenerate-block gate (= 0 → drop, a
    * constant block has no scale) involve no floats; each block's R/S
    * is then a fixed IEEE chain rounded 6dp, per-size means are
    * exact-decimal sums with one division, and the 2-to-3-point OLS
    * runs on 6dp lns in exact decimal (the zipfFit contract).
    *
    * Scale shape: one per-entity sort serves row numbering and, after
    * the size fan-out (×|sizes| rows), the two block-bounded windows
    * (prefix and block-total); everything after is hash aggregation on
    * (entity, size, block) → (entity, size) → entity. No global
    * windows, no entity serialization beyond its own series (the
    * W-family contract).
    *
    * `valueCol` must be an integral column (pre-scale floats to µunits
    * upstream — the w41 move). Returns one row per (entity, size) with
    * the per-size points AND the entity's fitted `hurst` repeated (the
    * t20 points+fit shape); entities with fewer than 2 distinct sized
    * points drop (no line through one point).
    */
  def hurstRS(df: DataFrame, entityCol: String, timeCol: String,
      valueCol: String, sizes: Seq[Int] = Seq(32, 64, 128)): DataFrame = {
    require(sizes.nonEmpty && sizes.forall(_ >= 2), s"sizes must be >= 2 (got $sizes)")
    require(sizes.distinct == sizes, s"sizes must be distinct (got $sizes)")
    val w = Window.partitionBy(entityCol).orderBy(timeCol)
    // pinned: the |sizes|-way union re-evaluates this frame (and its
    // per-entity sort) once per size otherwise
    val rows = graft.Caches.trackedPersist(df.filter(col(valueCol).isNotNull)
      .select(col(entityCol), col(timeCol), col(valueCol).as("_x"))
      .withColumn("_rn", row_number().over(w)),
      org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val fanned = sizes.map(s => rows.withColumn("size", lit(s)))
      .reduce(_ unionByName _)
      .withColumn("_blk", expr("(_rn - 1) div size"))
      .withColumn("_k", expr("(_rn - 1) % size + 1"))
    val wb = Window.partitionBy(col(entityCol), col("size"), col("_blk"))
    val scored = fanned
      .withColumn("_pre", sum(col("_x")).over(wb.orderBy("_k")
        .rowsBetween(Window.unboundedPreceding, 0)))
      .withColumn("_bsum", sum(col("_x")).over(wb))
      .withColumn("_cum", col("size") * col("_pre") - col("_k") * col("_bsum"))
    val blocks = scored.groupBy(col(entityCol), col("size"), col("_blk"))
      .agg(count(lit(1)).as("_n"),
        (max(col("_cum")) - min(col("_cum"))).as("_rng"),
        (sum(col("_x").cast("decimal(38,0)") * col("_x")) * col("size").cast("decimal(38,0)")
          - max(col("_bsum")).cast("decimal(38,0)") * max(col("_bsum"))).as("_varnum"))
      .filter(col("_n") === col("size") && col("_varnum") > 0)
    // rs = ((max−min cum)/S) / sqrt(varnum/S²) — written exactly in this
    // op order so both engines replay the same IEEE chain
    val rs = round(
      (col("_rng").cast("double") / col("size").cast("double")) /
        sqrt(col("_varnum").cast("double") /
          (col("size").cast("double") * col("size").cast("double"))), 6)
    val perSize = blocks.select(col(entityCol), col("size"), rs.as("_rs"))
      .groupBy(col(entityCol), col("size"))
      .agg(count(lit(1)).as("n_blocks"),
        (sum(col("_rs").cast("decimal(20,6)")).cast("double") /
          count(lit(1)).cast("double")).as("mean_rs"))
      .withColumn("ln_s", round(log(col("size").cast("double")), 6))
      .withColumn("ln_rs", round(log(col("mean_rs")), 6))
    val fit = perSize.groupBy(col(entityCol))
      .agg(count(lit(1)).cast("double").as("_k"),
        sum(col("ln_s").cast("decimal(20,6)")).cast("double").as("_sx"),
        sum(col("ln_rs").cast("decimal(20,6)")).cast("double").as("_sy"),
        sum((col("ln_s") * col("ln_rs")).cast("decimal(24,12)"))
          .cast("double").as("_sxy"),
        sum((col("ln_s") * col("ln_s")).cast("decimal(24,12)"))
          .cast("double").as("_sxx"))
      .filter(col("_k") >= 2)
      .withColumn("hurst", round(
        (col("_k") * col("_sxy") - col("_sx") * col("_sy")) /
          (col("_k") * col("_sxx") - col("_sx") * col("_sx")), 6))
      .select(col(entityCol), col("hurst"))
    perSize.join(fit, Seq(entityCol))
      .select(col(entityCol), col("size"), col("n_blocks"),
        round(col("mean_rs"), 6).as("mean_rs"), col("ln_s"), col("ln_rs"),
        col("hurst"))
      .orderBy(entityCol, "size")
  }
}
