package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Data-quality validation aggregates (SURVEY.md §2d A-1..A-5, §2e W-7/W-8;
  * reference `src/pipeline.py:44-76` `validate`).
  *
  * Scale design: the reference makes one pandas pass per check; at 100 TB
  * each extra pass is a full re-read. [[basicChecks]] answers the whole
  * basic-check report in THREE actions, each a fused scan with map-side
  * partial aggregation and a tiny reduced result: the raw
  * slice's null and duplicate-key counts, the cleaned slice's violation
  * counts and pooled moments, then the extreme-move and missing-day counts
  * as two branches of one query.
  */
object ValidationOps {

  private def cnt(c: Column): Column = sum(c.cast("long"))

  /** A-2: rows participating in duplicate key groups (pandas
    * `duplicated(keep=False).sum()`, reference `src/pipeline.py:51-52` —
    * counts EVERY member of a duplicate group, not just the extras).
    */
  def duplicateRowCount(df: DataFrame, keys: Seq[String]): Long = {
    val r = df.groupBy(keys.map(col): _*).count()
      .filter(col("count") > 1)
      .agg(coalesce(sum("count"), lit(0L)).as("dups")).head()
    r.getAs[Long]("dups")
  }

  /** The basic-check report of one request (reference `validate`,
    * `src/pipeline.py:44-76`). `nullCounts` and `duplicateRows` describe
    * the RAW slice; the rest describe the cleaned (deduplicated) one.
    * `retMean`/`retStd` are the pooled moments of the per-entity simple
    * return (pandas `std` is sample stddev, ddof=1 → `stddev_samp`).
    */
  final case class BasicChecks(
      nullCounts: Seq[(String, Long)],
      duplicateRows: Long,
      rows: Long,
      nonPositiveClose: Long,
      negativeVolume: Long,
      retMean: Option[Double],
      retStd: Option[Double],
      extremeMoves: Long,
      missingBusinessDays: Seq[(String, Long)])

  /** A-1..A-4, W-7, W-8 in three actions:
    *  1. one aggregate over `raw`: per-(entity, time) group counts carrying
    *     per-column null sums, reduced to the null counts (A-1) and the
    *     rows in duplicate key groups (A-2);
    *  2. one aggregate over `clean` plus its per-entity return: row count,
    *     close<=0 / volume<0 violations (A-3) and the pooled return
    *     moments (A-4). Pass `clean` persisted, so actions 2 and 3 and
    *     the caller's own stages share one materialization;
    *  3. the pooled z-score outlier count (W-7) with the moments of action
    *     2 as literals — no cross join — unioned with the per-entity
    *     missing-business-day count (W-8), so both independent branches
    *     run as the stages of ONE query, scheduled side by side.
    */
  def basicChecks(raw: DataFrame, clean: DataFrame, entity: String = "ticker",
      time: String = "date", close: String = "close", volume: String = "volume",
      zThreshold: Double = 6.0): BasicChecks = {
    val nullSums = raw.columns.indices.map(i => s"_null$i")
    val perKey = raw.groupBy(col(entity), col(time)).agg(
      count(lit(1)).as("_n"),
      raw.columns.zip(nullSums).map { case (c, a) => cnt(col(c).isNull).as(a) }: _*)
    val r1 = perKey.agg(
      coalesce(sum(when(col("_n") > 1, col("_n"))), lit(0L)).as("_dups"),
      nullSums.map(a => coalesce(sum(col(a)), lit(0L)).as(a)): _*).head()
    val nulls = raw.columns.toSeq.zip(nullSums).map { case (c, a) => c -> r1.getAs[Long](a) }

    val ret = ColNames.fresh(clean.columns.toSet, "_ret")
    val withRet = clean.withColumn(ret, FeatureOps.pctChange(entity, time, close))
    val r2 = withRet.agg(
      count(lit(1)).as("rows"),
      coalesce(cnt(col(close) <= 0), lit(0L)).as("bad_close"),
      coalesce(cnt(col(volume) < 0), lit(0L)).as("bad_volume"),
      avg(col(ret)).as("ret_mean"),
      stddev_samp(col(ret)).as("ret_std")).head()
    // getAs[Any] first: getAs[Double] would unbox a SQL NULL to 0.0
    // before Option could see it (empty/all-null ret -> Some(0.0))
    val retMean = Option(r2.getAs[Any]("ret_mean")).map(_.asInstanceOf[Double])
    val retStd = Option(r2.getAs[Any]("ret_std")).map(_.asInstanceOf[Double])

    def moment(m: Option[Double]): Column = m.fold(lit(null).cast("double"))(lit(_))
    val missing = missingBusinessDays(clean, entity, time)
    val extremes = withRet
      .agg(cnt(abs((col(ret) - moment(retMean)) / moment(retStd)) > zThreshold).as("_k"))
      .select(lit(null).cast(missing.schema(entity).dataType).as(entity),
        coalesce(col("_k"), lit(0L)).as("_k"), lit(true).as("_extreme"))
    val r3 = extremes.unionByName(missing.select(col(entity),
      col("missing_bdays").as("_k"), lit(false).as("_extreme"))).collect()

    BasicChecks(
      nullCounts = nulls,
      duplicateRows = r1.getAs[Long]("_dups"),
      rows = r2.getAs[Long]("rows"),
      nonPositiveClose = r2.getAs[Long]("bad_close"),
      negativeVolume = r2.getAs[Long]("bad_volume"),
      retMean = retMean,
      retStd = retStd,
      extremeMoves = r3.filter(_.getBoolean(2)).map(_.getLong(1)).sum,
      missingBusinessDays = r3.filterNot(_.getBoolean(2))
        .map(r => r.getString(0) -> r.getLong(1)).toSeq.sortBy(_._1))
  }

  /** W-7: pooled z-score outlier flag (reference `src/pipeline.py:62-63`).
    * The global mean/std are broadcast into the expression via a scalar
    * cross join of the 1-row aggregate — no driver collect in the plan, so
    * the same code works when the agg result feeds further distributed ops.
    */
  def withZScore(df: DataFrame, ret: String = "ret", zCol: String = "z"): DataFrame = {
    val moments = df.agg(
      avg(col(ret)).as("_mu"),
      stddev_samp(col(ret)).as("_sigma"))
    df.crossJoin(broadcast(moments))
      .withColumn(zCol, (col(ret) - col("_mu")) / col("_sigma"))
      .drop("_mu", "_sigma")
  }

  /** W-8: per-entity missing-business-day estimate (reference
    * `src/pipeline.py:66-74`): expand the Mon–Fri calendar between each
    * entity's min/max date with `sequence`+`explode`, anti-join observed
    * dates, count the remainder. Fully distributed — the reference's
    * per-ticker Python set arithmetic becomes one agg + one generator +
    * one anti-join; the calendar side is tiny (days × entities) and the
    * anti-join broadcasts the observed keys when small.
    */
  def missingBusinessDays(df: DataFrame, entity: String = "ticker",
      time: String = "date"): DataFrame = {
    val spans = df.groupBy(col(entity))
      .agg(min(col(time)).as("_d0"), max(col(time)).as("_d1"))
    val calendar = spans
      .withColumn("_day", explode(sequence(col("_d0"), col("_d1"))))
      .filter(weekday(col("_day")) < 5) // Mon..Fri
      .select(col(entity), col("_day"))
    calendar
      .join(df.select(col(entity), col(time).as("_day")).distinct(),
        Seq(entity, "_day"), "left_anti")
      .groupBy(col(entity))
      .agg(count(lit(1)).as("missing_bdays"))
  }

  /** Robust per-entity outlier profile: median / MAD (median absolute
    * deviation) of `valueCol`, plus the count of values beyond
    * `k × MAD` of the median. The breakdown-resistant twin of the
    * pooled z-score ([[zscoreOutliers]]): one fat-finger print can move
    * a mean/stddev arbitrarily, but not a median/MAD — the standard
    * robust gate for price-series and feature-distribution QA.
    *
    * Determinism contract: `percentile` is Spark's EXACT linear
    * interpolation (`lo + (hi − lo)·frac`), the same recurrence DuckDB's
    * `quantile_cont` evaluates, so medians agree bit-for-bit on shared
    * input doubles; the outlier comparison runs on those unrounded
    * values (both engines compute the identical IEEE chain) and only
    * the REPORTED median/MAD round to 6 dp.
    *
    * Scale shape: three passes by construction (median → deviations →
    * MAD + count), each an entity-keyed hash aggregation with the
    * entity-sized frames re-joined — exact medians are not mergeable,
    * so a one-pass variant must switch to the approx-percentile sketch
    * ([[graft.functions.SketchFunctions]]); this op is the exact tier.
    */
  def madOutliers(df: DataFrame, entityCol: String, valueCol: String,
      k: Double = 5.0): DataFrame = {
    val med = df.groupBy(col(entityCol))
      .agg(expr(s"percentile($valueCol, 0.5)").as("_med"))
    val dev = graft.Caches.trackedPersist(
      df.join(med, entityCol)
        .withColumn("_adev", abs(col(valueCol) - col("_med"))),
      org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val mad = dev.groupBy(col(entityCol))
      .agg(expr("percentile(_adev, 0.5)").as("_mad"))
    dev.join(mad, entityCol)
      .groupBy(col(entityCol))
      .agg(
        count(lit(1)).as("n"),
        round(min(col("_med")), 6).as("median"), // constant per entity
        round(min(col("_mad")), 6).as("mad"),
        sum(when(col("_adev") > lit(k) * col("_mad"), 1L).otherwise(0L))
          .as("n_outliers"))
      .orderBy(entityCol)
  }

  /** Two-sided CUSUM drift detection per entity (Page 1954, the
    * sequential change-point test a nightly feed monitor runs over
    * every series): with per-entity mean μ and sample stddev σ of the
    * 6dp-rounded values, slack k = round(kSigma·σ, 6) and decision
    * threshold h = round(hSigma·σ, 6),
    *
    *   s⁺_t = max(0, s⁺_{t−1} + (x_t − μ − k))
    *   s⁻_t = max(0, s⁻_{t−1} + (μ − x_t − k))
    *
    * alarm at any t where s⁺_t > h or s⁻_t > h. Returns one row per
    * entity: n, mu, sigma, max_sp, max_sn, n_alarms.
    *
    * Determinism contract: μ/σ are multi-term float aggregates → 6 dp
    * round (the a4/a13 convention); everything AFTER that — the whole
    * recursion — runs in EXACT decimal (values cast to 6dp decimal,
    * state decimal(20,8), max against a decimal zero), so the
    * accumulated sums and the alarm comparisons replay bit-for-bit in
    * any engine regardless of recursion depth. The [[graft.ops
    * .FeatureOps.holtForecast]] exact-state rule: float recursions
    * amplify ulps, decimal recursions don't have any.
    *
    * Scale shape: one entity-keyed stats aggregation broadcast back
    * (entity-cardinality), one hash aggregation collecting each
    * entity's calendar-bounded ordered series, one array-local fold.
    */
  def cusumDrift(df: DataFrame, entityCol: String, timeCol: String,
      valueCol: String, kSigma: Double = 0.5, hSigma: Double = 4.0): DataFrame = {
    require(kSigma >= 0.0, s"kSigma must be >= 0 (got $kSigma)")
    require(hSigma > 0.0, s"hSigma must be > 0 (got $hSigma)")
    val dec = "decimal(20,8)"
    val x6 = round(col(valueCol), 6)
    val stats = df.filter(col(valueCol).isNotNull)
      .groupBy(col(entityCol))
      .agg(
        count(lit(1)).as("n"),
        round(avg(x6), 6).as("mu"),
        round(coalesce(stddev_samp(x6), lit(0.0)), 6).as("sigma"))
      .withColumn("_k", round(lit(kSigma) * col("sigma"), 6))
      .withColumn("_h", round(lit(hSigma) * col("sigma"), 6))
    val series = df.filter(col(valueCol).isNotNull)
      .groupBy(col(entityCol))
      .agg(array_sort(collect_list(struct(col(timeCol).as("t"),
        x6.cast("decimal(12,6)").as("x")))).as("_xs"))
    val zero = lit(java.math.BigDecimal.ZERO).cast(dec)
    val init = struct(zero.as("sp"), zero.as("sn"),
      zero.as("maxp"), zero.as("maxn"), lit(0L).as("alarms"))
    series.join(broadcast(stats), entityCol)
      .withColumn("_st", aggregate(col("_xs"), init, (acc, e) => {
        val mu = col("mu").cast("decimal(12,6)")
        val k = col("_k").cast("decimal(12,6)")
        val h = col("_h").cast("decimal(12,6)")
        val x = e.getField("x")
        val sp = greatest(zero, (acc.getField("sp") + (x - mu - k)).cast(dec))
        val sn = greatest(zero, (acc.getField("sn") + (mu - x - k)).cast(dec))
        struct(sp.as("sp"), sn.as("sn"),
          greatest(acc.getField("maxp"), sp).as("maxp"),
          greatest(acc.getField("maxn"), sn).as("maxn"),
          (acc.getField("alarms") +
            when(sp > h || sn > h, lit(1L)).otherwise(lit(0L))).as("alarms"))
      }))
      .select(col(entityCol), col("n"), col("mu"), col("sigma"),
        col("_st.maxp").cast("double").as("max_sp"),
        col("_st.maxn").cast("double").as("max_sn"),
        col("_st.alarms").as("n_alarms"))
      .orderBy(entityCol)
  }

  /** Mann–Kendall trend test per entity (Mann 1945; Kendall 1975) —
    * the NON-parametric "is this series trending" significance test
    * that pairs with [[graft.ops.FeatureOps.theilSenTrend]]'s slope
    * (monotone-invariant, outlier-robust, no normality assumption):
    *
    *   S = Σ_{i<j} sign(y_j − y_i)   (time-ordered pairs)
    *   Var(S) = [n(n−1)(2n+5) − Σ_ties t(t−1)(2t+5)] / 18
    *   z = (S∓1)/√Var(S)  (continuity-corrected; 0 when S = 0)
    *
    * with the standard ±1.96 two-sided 5% call on the ROUNDED z.
    * S and the tie correction are exact integers; Var(S) one exact
    * integer difference over 18.0 and z one IEEE chain (√ is
    * correctly rounded by IEEE in both engines, unlike log) → only z
    * rounds, to 6 dp. Entities need ≥ 2 rows to appear.
    *
    * Scale note: O(n²) pairs per entity like [[graft.ops.FeatureOps
    * .theilSenTrend]] — bound the window upstream for long series.
    * The pair aggregation reduces to ONE long per entity with
    * map-side partials; ties reduce on (entity, value) first.
    */
  def mannKendall(df: DataFrame, entityCol: String, timeCol: String,
      valueCol: String): DataFrame = {
    val p = df.filter(col(valueCol).isNotNull)
      .select(col(entityCol).as("_e"), col(timeCol).as("_t"),
        col(valueCol).cast("double").as("_y"))
    val a = p.select(col("_e"), col("_t").as("_ti"), col("_y").as("_yi"))
    val b = p.select(col("_e"), col("_t").as("_tj"), col("_y").as("_yj"))
    val s = a.join(b, Seq("_e")).filter(col("_ti") < col("_tj"))
      .groupBy(col("_e"))
      .agg(sum(signum(col("_yj") - col("_yi")).cast("long")).as("s_stat"))
    val nn = p.groupBy(col("_e")).agg(count(lit(1)).as("n"))
    val ties = p.groupBy(col("_e"), col("_y")).agg(count(lit(1)).as("_tc"))
      .filter(col("_tc") > 1)
      .groupBy(col("_e"))
      .agg(sum(col("_tc") * (col("_tc") - 1) * (lit(2L) * col("_tc") + 5)).as("_tcorr"))
    nn.join(s, Seq("_e")).join(ties, Seq("_e"), "left")
      .na.fill(0L, Seq("_tcorr"))
      .withColumn("var_s",
        (col("n") * (col("n") - 1) * (lit(2L) * col("n") + 5) - col("_tcorr"))
          .cast("double") / lit(18.0))
      .withColumn("z", round(
        when(col("s_stat") > 0,
          (col("s_stat") - 1).cast("double") / sqrt(col("var_s")))
        .when(col("s_stat") < 0,
          (col("s_stat") + 1).cast("double") / sqrt(col("var_s")))
        .otherwise(lit(0.0)), 6))
      .withColumn("trend",
        when(col("z") > 1.96, lit("increasing"))
          .when(col("z") < -1.96, lit("decreasing"))
          .otherwise(lit("no trend")))
      .select(col("_e").as(entityCol), col("n"), col("s_stat"),
        col("var_s"), col("z"), col("trend"))
      .orderBy(entityCol)
  }

  /** Exact equi-width histogram over an integral column: `buckets` bins
    * covering [lo, hi], bucket index `((x − lo)·buckets) div (hi − lo
    * + 1)` — ALL-INTEGER arithmetic, so bin membership is exact and
    * identical in every engine (a float `width_bucket` puts boundary
    * values wherever that engine's multiply rounds; the audit column
    * profile this op exists for cannot tolerate that). Out-of-range
    * rows land in the clamped edge bins with `clipped` marked, so the
    * histogram always accounts for every non-null row. Returns one row
    * per OCCUPIED bucket: (bucket, lo_edge, hi_edge, n, clipped-count
    * aware), plus each bin's exact integer edges.
    *
    * Scale shape: one scan-local projection + one hash aggregation on
    * a `buckets`-cardinality key. The profiling pass for 100 TB: run
    * it per column, per partition-date, diff against yesterday.
    */
  def histogramInt(df: DataFrame, valueCol: String,
      lo: Long, hi: Long, buckets: Int): DataFrame = {
    require(buckets >= 1, s"buckets must be >= 1 (got $buckets)")
    require(hi >= lo, s"need hi >= lo (got [$lo, $hi])")
    val span = hi - lo + 1
    val x = col(valueCol).cast("long")
    // clamp BEFORE bucketing so the integer division never sees a
    // negative operand (truncate-vs-floor semantics differ across
    // engines below zero); `div` is INTEGER division (the Column `/`
    // operator is double — exactly the boundary hazard this op avoids)
    val b = expr(
      s"((least(greatest(CAST($valueCol AS BIGINT), ${lo}L), ${hi}L) - ${lo}L)" +
        s" * ${buckets}L) div ${span}L")
    df.filter(col(valueCol).isNotNull)
      .select(b.as("bucket"),
        (x < lo || x > hi).as("_clip"))
      .groupBy(col("bucket"))
      .agg(count(lit(1)).as("n"),
        sum(when(col("_clip"), 1L).otherwise(0L)).as("n_clipped"))
      // exact integer inverse of the bucket map: bin b covers
      // lo + ceil(b·span/nb) .. lo + ceil((b+1)·span/nb) − 1
      .withColumn("lo_edge",
        expr(s"${lo}L + (bucket * ${span}L + ${buckets - 1}L) div ${buckets}L"))
      .withColumn("hi_edge",
        expr(s"${lo}L + ((bucket + 1) * ${span}L + ${buckets - 1}L) div ${buckets}L - 1"))
      .select(col("bucket"), col("lo_edge"), col("hi_edge"),
        col("n"), col("n_clipped"))
      .orderBy("bucket")
  }

  /** Exact two-sample Kolmogorov–Smirnov distance per entity — the
    * distribution-drift test that, unlike PSI ([[graft.ops.MacroOps]]'
    * a14 form), needs no binning choice: D = sup_v |F_A(v) − F_B(v)|.
    *
    * `sampleCol` must be a boolean column (false = sample A, true =
    * sample B). The supremum over the pooled value set is computed in
    * ALL-INTEGER arithmetic: at each distinct value, |cumA·m − cumB·n|
    * with n = |A|, m = |B| — the division by n·m happens once, on the
    * exact integer maximum, so D is one IEEE division rounded 6dp and
    * every engine agrees on WHICH value attains the sup (a per-step
    * float ECDF could flip the argmax across engines). Ties collapse
    * first (the ECDF is evaluated after each distinct value's full
    * mass), which is the correct right-continuous ECDF. Entities
    * missing either sample are dropped (D is undefined).
    *
    * Scale shape: one hash aggregation collapses the scan to distinct
    * (entity, value) rows; the cumulative counts are one
    * entity-partitioned window over those (bounded per entity — the
    * w-family convention); totals broadcast back via an entity-keyed
    * join. Nothing row-scale shuffles twice.
    */
  def ksTwoSample(df: DataFrame, entityCol: String, valueCol: String,
      sampleCol: String): DataFrame = {
    val p = df.filter(col(valueCol).isNotNull && col(sampleCol).isNotNull)
      .select(col(entityCol).as("_e"), col(valueCol).as("_v"),
        col(sampleCol).cast("boolean").as("_b"))
    val perValue = p.groupBy(col("_e"), col("_v"))
      .agg(sum(when(!col("_b"), 1L).otherwise(0L)).as("_ca"),
        sum(when(col("_b"), 1L).otherwise(0L)).as("_cb"))
    val w = Window.partitionBy("_e").orderBy("_v")
      .rowsBetween(Window.unboundedPreceding, 0)
    val cum = perValue
      .withColumn("_cuma", sum(col("_ca")).over(w))
      .withColumn("_cumb", sum(col("_cb")).over(w))
    val nn = p.groupBy(col("_e"))
      .agg(sum(when(!col("_b"), 1L).otherwise(0L)).as("n"),
        sum(when(col("_b"), 1L).otherwise(0L)).as("m"))
      .filter(col("n") > 0 && col("m") > 0)
    cum.join(nn, Seq("_e"))
      .groupBy(col("_e"), col("n"), col("m"))
      .agg(max(abs(col("_cuma") * col("m") - col("_cumb") * col("n")))
        .as("d_num"))
      .withColumn("ks",
        round(col("d_num").cast("double")
          / (col("n") * col("m")).cast("double"), 6))
      .select(col("_e").as(entityCol), col("n"), col("m"),
        col("d_num"), col("ks"))
      .orderBy(entityCol)
  }

  /** Pearson chi-square test of independence between two categorical
    * columns, plus Cramér's V — the audit that tells a pipeline
    * whether a stratification column actually varies with another
    * (e.g. does label distribution drift across sources) before it
    * trusts marginal-only stats.
    *
    * Determinism contract: observed counts and the row/column marginal
    * products are exact longs (ra·cb < 2^53 at any realistic
    * cardinality, so the expected value's one division is the same
    * double everywhere); each cell's (o−e)²/e term rounds to 6dp and
    * the cell terms SUM IN EXACT DECIMAL (the t20-Zipf fit-sum
    * contract — a float Σ over cells would be merge-order-dependent);
    * V = sqrt(χ²/(N·min(r−1,c−1))) reads the ROUNDED χ² (the w30
    * rounded-z convention) so the classification never straddles an
    * engine boundary.
    *
    * Scale shape: one hash aggregation to an r·c-sized contingency
    * table; marginals are two more aggs OVER THAT TABLE (not the
    * scan); everything after the first agg is r·c rows. One full-data
    * pass total.
    */
  def chiSquareIndependence(df: DataFrame, colA: String, colB: String)
      : DataFrame = {
    val cells = df.filter(col(colA).isNotNull && col(colB).isNotNull)
      .groupBy(col(colA).as("_a"), col(colB).as("_b"))
      .agg(count(lit(1)).as("_o"))
    val ra = cells.groupBy(col("_a")).agg(sum(col("_o")).as("_ra"))
    val cb = cells.groupBy(col("_b")).agg(sum(col("_o")).as("_cb"))
    val tot = cells.agg(sum(col("_o")).as("_n"),
      countDistinct(col("_a")).as("_r"), countDistinct(col("_b")).as("_c"))
    // the FULL r·c grid, not just observed combinations: a
    // zero-observed cell still contributes its expected count to chi2
    // (perfect association would otherwise score 0 terms off-diagonal)
    val term = ra.crossJoin(cb)
      .join(cells, Seq("_a", "_b"), "left")
      .na.fill(0L, Seq("_o"))
      .crossJoin(broadcast(tot))
      .withColumn("_e",
        (col("_ra") * col("_cb")).cast("double") / col("_n").cast("double"))
      .withColumn("_term", round(
        (col("_o").cast("double") - col("_e")) *
          (col("_o").cast("double") - col("_e")) / col("_e"), 6))
    term.groupBy(col("_n"), col("_r"), col("_c"))
      .agg(sum(col("_term").cast("decimal(24,6)")).as("_chi2d"))
      .withColumn("chi2", col("_chi2d").cast("double"))
      .withColumn("dof", ((col("_r") - 1) * (col("_c") - 1)).cast("long"))
      .withColumn("cramers_v", round(
        sqrt(col("chi2") /
          (col("_n") * least(col("_r") - 1, col("_c") - 1)).cast("double")), 6))
      .select(col("_n").as("n"), col("dof"), col("chi2"), col("cramers_v"))
  }

  /** A declarative data-quality expectation over one table — the
    * contract a pipeline asserts BEFORE trusting a nightly batch
    * (the Great-Expectations/dbt-test shape, re-expressed so the whole
    * row-local family evaluates in ONE fused scan).
    */
  sealed trait Expectation { def name: String; def column: String }
  /** column must be non-null. */
  final case class ExpectNotNull(column: String) extends Expectation {
    val name = "not_null"
  }
  /** non-null values must fall in [lo, hi]. */
  final case class ExpectInRange(column: String, lo: Double, hi: Double)
      extends Expectation { val name = "in_range" }
  /** non-null values must fully match the (Java) regex. */
  final case class ExpectMatches(column: String, regex: String)
      extends Expectation { val name = "matches" }
  /** the column tuple must be unique; EVERY member of a duplicate
    * group counts as a violation (the A-2 pandas keep=False convention).
    */
  final case class ExpectUnique(columns: Seq[String]) extends Expectation {
    val name = "unique"; val column = columns.mkString(",")
  }
  /** non-null values must exist in `ref`'s `refColumn` (referential
    * integrity; `ref` is broadcast when `broadcastRef`).
    */
  final case class ExpectRefIn(column: String, ref: DataFrame,
      refColumn: String, broadcastRef: Boolean = true) extends Expectation {
    val name = "ref_in"
  }

  /** Evaluate a suite of [[Expectation]]s and return one row per
    * expectation: (expectation, column, n_violations, passed).
    *
    * Scale shape: ALL row-local expectations (not_null / in_range /
    * matches) FUSE into a single full-scan aggregate — one pass no
    * matter how many constraints (the reference's validate() makes one
    * pass per check; at 100 TB that multiplier is the whole cost).
    * Each `unique` adds one keys-sized hash aggregation; each `ref_in`
    * one anti-join with the (usually dimension-sized) reference
    * broadcast. Violation counts are exact longs — trivially
    * cross-engine.
    */
  def expectations(df: DataFrame, specs: Seq[Expectation]): DataFrame = {
    require(specs.nonEmpty, "expectations needs at least one spec")
    val spark = df.sparkSession
    import spark.implicits._
    val rowLocal = specs.collect {
      case e: ExpectNotNull =>
        (e, cnt(col(e.column).isNull))
      case e: ExpectInRange =>
        (e, cnt(col(e.column).isNotNull &&
          !col(e.column).between(e.lo, e.hi)))
      case e: ExpectMatches =>
        (e, cnt(col(e.column).isNotNull &&
          !col(e.column).rlike("^(" + e.regex + ")$")))
    }
    val fused: Seq[DataFrame] =
      if (rowLocal.isEmpty) Seq.empty
      else {
        val aggs = rowLocal.map { case (e, c) =>
          coalesce(c, lit(0L)).as(s"${e.name}:${e.column}")
        }
        val row = df.agg(aggs.head, aggs.tail: _*)
        Seq(row.selectExpr(
          "stack(" + rowLocal.size + ", " +
            rowLocal.zipWithIndex.map { case ((e, _), i) =>
              s"'${e.name}', '${e.column}', `${e.name}:${e.column}`"
            }.mkString(", ") +
            ") as (expectation, column, n_violations)"))
      }
    val heavy: Seq[DataFrame] = specs.collect {
      case e: ExpectUnique =>
        val n = duplicateRowCount(df, e.columns)
        Seq((e.name, e.column, n)).toDF("expectation", "column", "n_violations")
      case e: ExpectRefIn =>
        val refKeys = e.ref.select(col(e.refColumn).as(e.column)).distinct()
        val r = if (e.broadcastRef) broadcast(refKeys) else refKeys
        val n = df.filter(col(e.column).isNotNull)
          .join(r, Seq(e.column), "left_anti")
          .count()
        Seq((e.name, e.column, n)).toDF("expectation", "column", "n_violations")
    }
    (fused ++ heavy).reduce(_ unionByName _)
      .withColumn("passed", col("n_violations") === 0L)
      .orderBy("expectation", "column")
  }

  /** Exact lower weighted median per entity: the smallest value whose
    * cumulative weight reaches half the total — `2·cumW ≥ totW` in
    * EXACT integer arithmetic (weights cast to long; a float half-total
    * comparison could flip the pick when the median sits exactly on
    * the 50% mass boundary, which integral weights make common).
    *
    * Scale shape: one hash aggregation to distinct (entity, value)
    * rows with summed weights, one entity-partitioned cumulative
    * window over those, totals joined back on the entity key, and a
    * min_by-style agg picks the crossing row. No global sort.
    */
  def weightedMedian(df: DataFrame, entityCol: String, valueCol: String,
      weightCol: String): DataFrame = {
    val p = df.filter(col(valueCol).isNotNull && col(weightCol).isNotNull &&
        col(weightCol).cast("long") > 0)
      .select(col(entityCol).as("_e"), col(valueCol).as("_v"),
        col(weightCol).cast("long").as("_w"))
    val perValue = p.groupBy(col("_e"), col("_v"))
      .agg(sum(col("_w")).as("_wv"))
    val w = Window.partitionBy("_e").orderBy("_v")
      .rowsBetween(Window.unboundedPreceding, 0)
    val cum = perValue.withColumn("_cum", sum(col("_wv")).over(w))
    val tot = p.groupBy(col("_e")).agg(sum(col("_w")).as("total_w"))
    cum.join(tot, Seq("_e"))
      .filter(col("_cum") * 2 >= col("total_w"))
      .groupBy(col("_e"), col("total_w"))
      .agg(min(col("_v")).as("wmedian"))
      .select(col("_e").as(entityCol), col("total_w"), col("wmedian"))
      .orderBy(entityCol)
  }
}
