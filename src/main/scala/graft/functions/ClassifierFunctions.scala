package graft.functions

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel

/** Quality-classifier scoring for corpus curation — the
  * fastText-shaped gate LLM pipelines run between the rule filters and
  * dedup (RefinedWeb trains "looks like Wikipedia/books" classifiers;
  * LLaMA's pipeline scores pages with a linear model over hashed
  * text features and keeps the high scorers). Re-expressed
  * Spark-first over the DSIR feature map
  * ([[SamplingFunctions.hashedNgramFeatures]]: hashed token unigrams +
  * bigrams), two ways to get the weights:
  *
  *  - [[naiveBayesWeights]] — closed-form log-odds weights from a
  *    labeled set: one counting pass, no iteration, every number an
  *    exact expression an external engine can replay (the cls1 oracle
  *    proves scoring end-to-end including the weights).
  *  - [[trainLogisticHashed]] — batch gradient descent on logistic
  *    loss: iterative but DETERMINISTIC (zero init, fixed step, no
  *    sampling), for when NB calibration isn't enough. Spec-bound
  *    (loss monotonicity, separation, run-to-run equality) — an
  *    iterative trainer has no closed SQL form.
  *
  * Both produce the same artifact — a (bucket, weight) frame + bias —
  * consumed by the one scorer, [[scoreLinear]].
  */
object ClassifierFunctions {

  /** Multinomial-Naive-Bayes log-odds weights from labeled docs:
    * `w_b = ln p(b|pos) − ln p(b|neg)` with Laplace smoothing `alpha`
    * over `buckets` outcomes, `bias = ln(N_pos/N_neg)` (feature-
    * occurrence totals, the multinomial prior). [[scoreLinear]]'s
    * mean-of-weights + bias through a sigmoid is then exactly NB's
    * posterior with per-doc length normalization — the fastText
    * linear-bag geometry.
    *
    * One feature explode, one ≤-`buckets`-row count aggregation per
    * class collapsed map-side — model size is fixed by construction
    * regardless of corpus size. Returns (weights(bucket, weight),
    * bias); weights rows exist only for buckets seen in the labeled
    * set — unseen buckets take weight 0 at scoring time, which is the
    * smoothed prior ratio up to the shared constant absorbed into
    * comparisons.
    */
  def naiveBayesWeights(labeled: DataFrame, textCol: String, labelCol: String,
      buckets: Int = 1 << 16, alpha: Double = 1.0,
      hash: Column => Column = xxhash64(_)): (DataFrame, Double) = {
    require(buckets >= 2, s"buckets must be >= 2 (got $buckets)")
    require(alpha > 0.0, s"alpha must be > 0 (got $alpha)")
    val feats = SamplingFunctions.hashedNgramFeatures(
      labeled, textCol, buckets, hash, Seq(col(labelCol).cast("boolean").as("_y")))
    val counts = feats.groupBy(col("_b"))
      .agg(sum(when(col("_y"), 1L).otherwise(0L)).as("_np"),
        sum(when(col("_y"), 0L).otherwise(1L)).as("_nn"))
    // sums are NULL (not 0) over an empty counts frame — read them
    // nullable so the require below reports the real problem instead
    // of an NPE masking it
    val totals = counts.agg(
      coalesce(sum(col("_np")), lit(0L)), coalesce(sum(col("_nn")), lit(0L))).head()
    val (tp, tn) = (totals.getLong(0), totals.getLong(1))
    require(tp > 0 && tn > 0,
      s"need labeled feature mass on both sides (pos=$tp, neg=$tn)")
    val weights = counts.select(col("_b").as("bucket"),
      (log((col("_np").cast("double") + alpha) / (tp.toDouble + alpha * buckets)) -
        log((col("_nn").cast("double") + alpha) / (tn.toDouble + alpha * buckets)))
        .as("weight"))
    (weights, math.log(tp.toDouble / tn.toDouble))
  }

  /** Score docs with a linear model over hashed n-gram features:
    * `score = sigmoid(mean_b∈doc(w_b) + bias)` — the mean (not sum)
    * makes scores length-invariant, fastText's averaged-bag geometry.
    * Returns (idCol, score) for EVERY input doc, 6dp-rounded;
    * featureless docs (empty/null text) score `sigmoid(bias)` — the
    * prior, visibly, never dropped.
    *
    * Scale shape: scan-local feature explode → broadcast-joined
    * weights (≤ `buckets` rows by construction; `broadcastWeights =
    * false` for the shuffled escape) → one per-doc average. No
    * windows, no driver state.
    */
  def scoreLinear(docs: DataFrame, idCol: String, textCol: String,
      weights: DataFrame, bias: Double,
      buckets: Int = 1 << 16,
      hash: Column => Column = xxhash64(_),
      broadcastWeights: Boolean = true): DataFrame = {
    val w0 = weights.select(col("bucket").as("_b"), col("weight").as("_w"))
    val w = if (broadcastWeights) broadcast(w0) else w0
    val scored = SamplingFunctions.hashedNgramFeatures(
        docs, textCol, buckets, hash, Seq(col(idCol)))
      .join(w, Seq("_b"), "left")
      .groupBy(col(idCol))
      .agg(avg(coalesce(col("_w"), lit(0.0))).as("_m"))
    docs.select(col(idCol))
      .join(scored, Seq(idCol), "left")
      .select(col(idCol),
        round(lit(1.0) / (lit(1.0) + exp(-(coalesce(col("_m"), lit(0.0)) + bias))), 6)
          .as("score"))
  }

  /** Batch gradient descent for logistic regression over the hashed
    * feature map — deterministic end to end: weights init to zero,
    * full-batch gradients (no sampling, no row order dependence — the
    * per-bucket gradient is a commutative sum), fixed learning rate.
    * Two passes per iteration over a PINNED feature frame (the raw
    * text tokenizes once, not `iters` times): forward = broadcast-join
    * current weights, per-doc mean → sigmoid; backward = residual
    * joined back per occurrence, per-bucket sum. The gradient collect
    * is bounded by `buckets` (≤ 65,536 rows at the default — the
    * centroid-collect budget convention), NOT by corpus size; weights
    * live in one dense driver array between iterations and ride out as
    * a broadcast-joinable frame.
    *
    * Returns (weights(bucket, weight), bias) — [[scoreLinear]]'s input
    * shape. Iterative ⇒ no closed SQL form ⇒ spec-bound, not oracled
    * (ClassifierFunctionsSpec pins loss monotonicity, planted-class
    * separation, and bit-identical re-runs).
    */
  def trainLogisticHashed(labeled: DataFrame, idCol: String, textCol: String,
      labelCol: String, buckets: Int = 1 << 16, iters: Int = 20,
      lr: Double = 1.0, hash: Column => Column = xxhash64(_),
      storage: StorageLevel = StorageLevel.MEMORY_AND_DISK): (DataFrame, Double) = {
    require(buckets >= 2 && buckets <= (1 << 22),
      s"buckets bounds the driver gradient state; got $buckets")
    require(iters >= 1, s"iters must be >= 1 (got $iters)")
    val spark = labeled.sparkSession
    import spark.implicits._
    // a nested scope: the returned weights are driver-built, so the
    // pinned feature frame is released when training ends
    graft.Caches.scoped {
      val feats = graft.Caches.trackedPersist(
        SamplingFunctions.hashedNgramFeatures(labeled, textCol, buckets, hash,
            Seq(col(idCol).as("_id"), col(labelCol).cast("boolean").as("_y")))
          .groupBy(col("_id"), col("_y"), col("_b"))
          .agg(count(lit(1)).cast("double").as("_c")),
        storage)
      val docTotals = feats.groupBy(col("_id"))
        .agg(sum(col("_c")).as("_tot"))
      val nDocs = feats.select(col("_id")).distinct().count().toDouble
      require(nDocs > 0, "no labeled docs with features")
      val w = new Array[Double](buckets)
      var bias = 0.0
      for (_ <- 0 until iters) {
        val wDf = broadcast(w.toSeq.zipWithIndex
          .collect { case (v, b) if v != 0.0 => (b.toLong, v) }
          .toDF("_b", "_w"))
        // the forward pass is persisted for the iteration: both the
        // per-bucket gradient and the bias gradient consume it, and an
        // unpinned residual frame would re-run the whole broadcast-join
        // forward computation for the second aggregate
        val resid = feats
          .join(wDf, Seq("_b"), "left")
          .groupBy(col("_id"), col("_y"))
          .agg((sum(coalesce(col("_w"), lit(0.0)) * col("_c"))).as("_dot"))
          .join(docTotals, Seq("_id"))
          .select(col("_id"),
            (lit(1.0) / (lit(1.0) + exp(-(col("_dot") / col("_tot") + bias))) -
              when(col("_y"), 1.0).otherwise(0.0)).as("_r"))
          .persist(storage)
        try {
          val grads = feats.join(resid, Seq("_id"))
            .join(docTotals, Seq("_id"))
            .groupBy(col("_b"))
            .agg(sum(col("_r") * col("_c") / col("_tot")).as("_g"))
            .as[(Long, Double)].collect()
          val biasGrad = resid.agg(sum(col("_r"))).head().getDouble(0) / nDocs
          grads.foreach { case (b, g) => w(b.toInt) -= lr * g / nDocs }
          bias -= lr * biasGrad
        } finally resid.unpersist(false)
      }
      val weights = w.toSeq.zipWithIndex
        .collect { case (v, b) if v != 0.0 => (b.toLong, v) }
        .toDF("bucket", "weight")
      (weights, bias)
    }
  }

  /** Batch gradient descent on logistic loss over a SMALL DENSE feature
    * vector — [[trainLogisticHashed]]'s exactly-replayable twin (the
    * m1/m1b convention: the hashed trainer is the production form, this
    * dense form carries the full cross-engine oracle). A handful of
    * engineered quality features (length, punctuation, stopword ratio —
    * the t2 family) is the classic curation-classifier setup when a
    * 65k-bucket bag model is overkill.
    *
    * Replay contract (every step a well-defined 6 dp state an external
    * engine unrolls exactly):
    *  - feature values must arrive ALREADY rounded/exact (the caller
    *    rounds ratios to 6 dp — pinned inputs, pinned paths);
    *  - z_i = Σ_j w_j·x_ij evaluates as the EXPLICIT left-to-right sum
    *    over feature index (a generated expression, not a fold), so
    *    addition order is part of the contract;
    *  - each gradient component rounds to 6 dp AFTER its data-sized sum
    *    (absorbing summation-order and exp() last-ulp noise, the d20
    *    ln-sum precedent), and each weight re-rounds to 6 dp after the
    *    update — so w is bit-identical cross-engine at every step.
    *
    * Scale shape: the feature frame is pinned once; each of the `iters`
    * steps is ONE data-sized aggregation producing d+1 sums (map-side
    * partials, one collected row — the bounded-collect convention; this
    * is textbook driver-as-parameter-server batch GD). No windows, no
    * data-sized collect. Accuracy uses the exact z ≥ 0 form (σ ≥ ½ ⟺
    * z ≥ 0 — no transcendental on the decision path).
    *
    * Returns one row per feature: (feature_idx, weight, log_loss,
    * accuracy, n) with the final-model metrics repeated per row (the
    * a12 wide-scalar convention).
    */
  def trainLogisticDense(labeled: DataFrame, featureCols: Seq[Column],
      labelCol: Column, iters: Int = 8, lr: Double = 1.0): DataFrame = {
    require(featureCols.nonEmpty, "need at least one feature column")
    require(iters >= 1, s"iters must be >= 1 (got $iters)")
    val spark = labeled.sparkSession
    import spark.implicits._
    val d = featureCols.size
    val xs = (0 until d).map(j => s"_x$j")
    // a nested scope, as in trainLogisticHashed: the result is driver-built
    graft.Caches.scoped {
      val feats = graft.Caches.trackedPersist(
        labeled.select(
          (featureCols.zipWithIndex.map { case (c, j) =>
            c.cast("double").as(s"_x$j") } :+
            labelCol.cast("double").as("_y")): _*),
        StorageLevel.MEMORY_AND_DISK)
      val n = feats.count().toDouble
      require(n > 0, "no labeled rows")
      val w = new Array[Double](d)
      def zExpr: Column = // explicit left-to-right sum: order is contract
        xs.zipWithIndex.map { case (x, j) => lit(w(j)) * col(x) }
          .reduceLeft(_ + _)
      var i = 0
      while (i < iters) {
        val r = (lit(1.0) / (lit(1.0) + exp(-zExpr)) - col("_y")).as("_r")
        val row = feats.select((r +: xs.map(col)): _*)
          .agg(round(sum(col("_r") * col(xs.head)), 6).as("_g0"),
            xs.tail.zipWithIndex.map { case (x, j) =>
              round(sum(col("_r") * col(x)), 6).as(s"_g${j + 1}") }: _*)
          .head()
        var j = 0
        while (j < d) {
          w(j) = BigDecimal(w(j) - lr * row.getDouble(j) / n)
            .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
          j += 1
        }
        i += 1
      }
      val sig = lit(1.0) / (lit(1.0) + exp(-zExpr))
      val m = feats.agg(
        round(sum(-col("_y") * log(sig) -
          (lit(1.0) - col("_y")) * log(lit(1.0) - sig)) / n, 6).as("_ll"),
        round(sum(when((zExpr >= 0) === (col("_y") === 1.0), 1.0)
          .otherwise(0.0)) / n, 6).as("_acc")).head()
      w.toSeq.zipWithIndex
        .map { case (wj, j) => (j.toLong, wj, m.getDouble(0), m.getDouble(1), n.toLong) }
        .toDF("feature_idx", "weight", "log_loss", "accuracy", "n")
    }
  }

  /** Isotonic calibration of classifier scores (Zadrozny & Elkan, KDD
    * 2002): fit the best MONOTONE mapping score-bin → positive rate —
    * the standard post-hoc calibrator when the reliability diagram
    * (eval3) shows non-monotone wobble a Platt sigmoid can't absorb.
    *
    * Instead of the sequential PAVA pooling loop, this uses the exact
    * MINIMAX characterization of the isotonic solution
    * (Robertson–Wright–Dykstra 1988, §1.2):
    * ŷ_k = max_{i≤k} min_{j≥k} avg(y over bins i..j) — a pure
    * relational form: prefix sums once, one K²-row interval-average
    * table, two bounded aggregations. Every interval average is ONE
    * IEEE division of exact longs (identical in every engine), so
    * min/max pick identical values everywhere — no fold, no
    * order-dependence, no rounding until the output.
    *
    * Scale shape: one data-sized hash aggregation to ≤ `bins` rows;
    * everything after is K ≤ bins rows (the unpartitioned windows are
    * bounded by construction — the rrf convention). The score scan is
    * the entire data-touching cost.
    *
    * Returns (bucket, n, raw_rate, iso_rate), iso_rate non-decreasing
    * in bucket by construction.
    */
  def isotonicCalibration(scored: DataFrame, scoreCol: String,
      labelCol: String, bins: Int): DataFrame = {
    require(bins >= 1, s"bins must be >= 1 (got $bins)")
    import org.apache.spark.sql.expressions.Window
    val b = scored
      .filter(col(scoreCol).isNotNull && col(labelCol).isNotNull)
      // clamp BOTH ends: scores are nominally in [0,1], but a stray
      // negative would otherwise mint bucket -1 (the top end was
      // already clamped to bins-1 for score = 1.0)
      .groupBy(greatest(least(floor(col(scoreCol) * bins), lit(bins - 1)),
          lit(0))
        .cast("int").as("bucket"))
      .agg(sum(col(labelCol).cast("long")).as("_sy"),
        count(lit(1)).as("_n"))
    // unpartitioned windows, bounded by design (r16 audit): they run
    // over the BUCKET histogram — ≤ `bins` rows at any SF, so the
    // WindowExec single-partition warning is benign here
    val w = Window.orderBy("bucket")
    val wCum = w.rowsBetween(Window.unboundedPreceding, 0)
    // cumulative columns get distinct lowercase names: Spark's default
    // case-INSENSITIVE resolver would silently overwrite "_n" with "_N"
    val pref = b.withColumn("_r", row_number().over(w).cast("long"))
      .withColumn("_cs", sum(col("_sy")).over(wCum))
      .withColumn("_cn", sum(col("_n")).over(wCum))
    val zero = scored.sparkSession.range(1)
      .select(lit(0L).as("_r"), lit(0L).as("_cs"), lit(0L).as("_cn"))
    val bounds = pref.select(col("_r"), col("_cs"), col("_cn"))
      .unionByName(zero)
    val avgs = bounds.select(col("_r").as("_r0"), col("_cs").as("_s0"),
        col("_cn").as("_n0"))
      .join(pref.select(col("_r").as("_j"), col("_cs").as("_sj"),
        col("_cn").as("_nj")), col("_j") > col("_r0"))
      .select((col("_r0") + 1).as("_i"), col("_j"),
        ((col("_sj") - col("_s0")).cast("double")
          / (col("_nj") - col("_n0")).cast("double")).as("_a"))
    val inner = pref.select(col("_r").as("_k"))
      .join(avgs, col("_i") <= col("_k") && col("_j") >= col("_k"))
      .groupBy(col("_k"), col("_i")).agg(min(col("_a")).as("_ia"))
    val iso = inner.groupBy(col("_k")).agg(max(col("_ia")).as("_iso"))
    pref.join(iso, col("_r") === col("_k"))
      .select(col("bucket"), col("_n").as("n"),
        round(col("_sy").cast("double") / col("_n").cast("double"), 6)
          .as("raw_rate"),
        round(col("_iso"), 6).as("iso_rate"))
      .orderBy("bucket")
  }
}
