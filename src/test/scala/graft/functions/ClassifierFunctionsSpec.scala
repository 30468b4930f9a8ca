package graft.functions

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.TestSpark

class ClassifierFunctionsSpec extends AnyFunSuite with graft.CachesScoped {
  val spark = TestSpark.spark
  import spark.implicits._

  // two linearly separable vocabularies + shared filler
  private def planted(n: Int) = (0 until n).map { i =>
    val pos = i % 2 == 0
    val words = if (pos) "excellent thorough careful analysis of the archive"
      else "click here free prize winner now claim fast"
    (i.toLong, s"$words item $i", pos)
  }.toDF("doc_id", "text", "label")

  test("naiveBayesWeights + scoreLinear: separates planted classes; scores replayable") {
    val docs = planted(40)
    val (w, bias) = ClassifierFunctions.naiveBayesWeights(
      docs, "text", "label", buckets = 1 << 12)
    val scores = ClassifierFunctions.scoreLinear(docs, "doc_id", "text",
        w, bias, buckets = 1 << 12)
      .join(docs.select("doc_id", "label"), Seq("doc_id"))
      .as[(Long, Double, Boolean)].collect()
    assert(scores.length === 40)
    val posMin = scores.filter(_._3).map(_._2).min
    val negMax = scores.filterNot(_._3).map(_._2).max
    assert(posMin > 0.5 && negMax < 0.5,
      s"NB log-odds must separate the planted vocabularies ($posMin vs $negMax)")
    // featureless doc scores the prior, visibly
    val prior = ClassifierFunctions.scoreLinear(
      Seq((99L, "")).toDF("doc_id", "text"), "doc_id", "text",
      w, bias, buckets = 1 << 12).head().getDouble(1)
    assert(math.abs(prior - 1.0 / (1.0 + math.exp(-bias))) < 1e-6)
  }

  test("trainLogisticHashed: deterministic, loss-improving, separating") {
    val docs = planted(30)
    def train() = ClassifierFunctions.trainLogisticHashed(
      docs, "doc_id", "text", "label", buckets = 1 << 12, iters = 15, lr = 4.0)
    val (w1, b1) = train()
    val (w2, b2) = train()
    // bit-identical re-runs: zero init, full batch, fixed steps
    assert(b1 === b2)
    val m1 = w1.as[(Long, Double)].collect().toMap
    val m2 = w2.as[(Long, Double)].collect().toMap
    assert(m1 === m2)
    // separation on the training classes
    val scored = ClassifierFunctions.scoreLinear(docs, "doc_id", "text",
        w1, b1, buckets = 1 << 12)
      .join(docs.select("doc_id", "label"), Seq("doc_id"))
      .as[(Long, Double, Boolean)].collect()
    assert(scored.filter(_._3).map(_._2).min > 0.5)
    assert(scored.filterNot(_._3).map(_._2).max < 0.5)
    // more iterations strictly improve the fit on separable data
    val (w0, b0) = ClassifierFunctions.trainLogisticHashed(
      docs, "doc_id", "text", "label", buckets = 1 << 12, iters = 1, lr = 4.0)
    def loss(w: Map[Long, Double], bias: Double): Double = {
      val s = ClassifierFunctions.scoreLinear(docs, "doc_id", "text",
          w.toSeq.toDF("bucket", "weight"), bias, buckets = 1 << 12)
        .join(docs.select("doc_id", "label"), Seq("doc_id"))
        .as[(Long, Double, Boolean)].collect()
      -s.map { case (_, p, y) =>
        val pc = math.min(math.max(p, 1e-9), 1 - 1e-9)
        if (y) math.log(pc) else math.log(1 - pc)
      }.sum / s.length
    }
    assert(loss(m1, b1) < loss(w0.as[(Long, Double)].collect().toMap, b0),
      "15 iters must beat 1 iter on separable data")
  }

  test("trainLogisticDense: deterministic, loss-improving, learns a separating weight") {
    // one informative feature (x1 = the label signal ± small noise) +
    // intercept: GD must push w1 positive and beat the 1-iter fit
    val rows = (0 until 60).map { i =>
      val y = if (i % 2 == 0) 1.0 else 0.0
      val x1 = y - 0.5 + (i % 5) * 0.01
      (1.0, x1, y)
    }.toDF("x0", "x1", "y")
    def train(iters: Int) = ClassifierFunctions.trainLogisticDense(
      rows, Seq(col("x0"), col("x1")), col("y"), iters = iters, lr = 2.0)
      .as[(Long, Double, Double, Double, Long)].collect().sortBy(_._1)
    val a = train(12)
    val b = train(12)
    assert(a.toSeq === b.toSeq, "fixed-step batch GD must be bit-identical")
    assert(a(1)._2 > 0.0, "informative-feature weight must turn positive")
    assert(a(0)._3 < train(1)(0)._3, "12 iters must beat 1 iter on log-loss")
    assert(a(0)._4 === 1.0, "separable data trains to full accuracy")
    assert(a(0)._5 === 60L)
    // weights are 6dp states: exactly representable at scale 6
    a.foreach { case (_, w, _, _, _) =>
      assert(BigDecimal(w).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble === w)
    }
  }

  test("isotonicCalibration: hand-solved PAVA pooling via the minimax form") {
    // bin rates (0.5, 0.25, 0.75): the 0.5→0.25 violation pools bins
    // 0–1 to (2+1)/(4+4) = 0.375; bin 2 stays. iso = (.375, .375, .75)
    def bin(s: Double, ys: Seq[Int]) = ys.map(y => (s, y.toLong))
    val scored = (bin(0.05, Seq(1, 1, 0, 0)) ++ bin(0.15, Seq(1, 0, 0, 0)) ++
      bin(0.25, Seq(1, 1, 1, 0))).toDF("score", "y")
    val out = ClassifierFunctions.isotonicCalibration(scored, "score", "y",
        bins = 10)
      .as[(Int, Long, Double, Double)].collect().toList
    assert(out === List(
      (0, 4L, 0.5, 0.375), (1, 4L, 0.25, 0.375), (2, 4L, 0.75, 0.75)))
  }

  test("isotonicCalibration: already-monotone rates pass through; output always non-decreasing") {
    def bin(s: Double, pos: Int, neg: Int) =
      Seq.fill(pos)((s, 1L)) ++ Seq.fill(neg)((s, 0L))
    val scored = (bin(0.1, 1, 9) ++ bin(0.5, 5, 5) ++ bin(0.9, 9, 1))
      .toDF("score", "y")
    val out = ClassifierFunctions.isotonicCalibration(scored, "score", "y",
        bins = 10)
      .as[(Int, Long, Double, Double)].collect().toList
    assert(out.map(_._4) === List(0.1, 0.5, 0.9)) // untouched when monotone
    // adversarial zig-zag: whatever the input, iso_rate must be sorted
    val zig = (bin(0.05, 9, 1) ++ bin(0.15, 1, 9) ++ bin(0.25, 8, 2) ++
      bin(0.35, 2, 8) ++ bin(0.95, 10, 0)).toDF("score", "y")
    val iso = ClassifierFunctions.isotonicCalibration(zig, "score", "y",
        bins = 10)
      .as[(Int, Long, Double, Double)].collect().toList.map(_._4)
    assert(iso === iso.sorted, s"must be non-decreasing: $iso")
  }
}
