package graft

import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.scalacheck.{Gen, Prop, Properties}

import graft.ops.{FeatureOps, ValidationOps}
import graft.functions.TextFunctions
import graft.output.Scoring

/** Property-based invariants (SURVEY.md §5): windows vs brute force on
  * random series, score bounds, dedup idempotence under permutation,
  * count invariants. Runs under ScalaCheck's own sbt test framework.
  */
object PropertySpec extends Properties("graft") {
  private lazy val spark = TestSpark.spark
  import spark.implicits._

  private val seriesGen: Gen[List[Double]] =
    Gen.choose(1, 40).flatMap(n => Gen.listOfN(n, Gen.choose(1.0, 1000.0)))

  property("pyFloat round-trips every double and never uses Java formatting") =
    Prop.forAll(Gen.oneOf(
      Gen.choose(-1e3, 1e3),                       // price/return magnitudes
      Gen.choose(-1e-3, 1e-3),                     // Java-scientific zone
      Gen.choose(Long.MinValue, Long.MaxValue).map(java.lang.Double.longBitsToDouble))) { d =>
      (d.isNaN || d.isInfinite) || {
        val s = graft.output.Fmt.pyFloat(d)
        // shortest-round-trip: parsing the repr recovers the exact bits
        java.lang.Double.parseDouble(s) == d &&
          // python formatting: lowercase exponent, no Java 'E'
          !s.contains("E")
      }
    }

  property("maExact2dp equals brute-force mean exactly when n rows exist") =
    Prop.forAllNoShrink(seriesGen, Gen.choose(2, 8)) { (closes, n) =>
      val rounded = closes.map(c => math.rint(c * 100) / 100)
      val df = rounded.zipWithIndex
        .map { case (c, i) => ("T", i, c) }.toDF("ticker", "seq", "close")
      val w = Window.partitionBy("ticker").orderBy("seq")
      val ma = df.withColumn("ma", FeatureOps.maExact2dp(col("close"), n, w))
        .orderBy("seq").select("ma").as[Option[Double]].collect()
      rounded.indices.forall { i =>
        if (i + 1 < n) ma(i).isEmpty
        else {
          // mirror the implementation's shape: EXACT decimal sum, then
          // one IEEE double division (not decimal division)
          val expect = rounded.slice(i - n + 1, i + 1)
            .map(BigDecimal(_)).sum.toDouble / n
          ma(i).contains(expect)
        }
      }
    }

  property("quality score lands in [0, 100] for arbitrary printable text") =
    Prop.forAllNoShrink(Gen.listOfN(20, Gen.asciiPrintableStr)) { texts =>
      val qs = texts.toDF("text")
        .select(TextFunctions.qualityScore(col("text")).as("q"))
        .as[Double].collect()
      qs.forall(q => q >= 0.0 && q <= 100.0)
    }

  property("keepLast survivor is permutation-invariant given a total seq") =
    Prop.forAllNoShrink(Gen.choose(2, 15), Gen.choose(0L, Long.MaxValue)) { (n, seed) =>
      val rows = (1 to n).map(i => ("K", i.toLong, i * 1.5))
      val shuffled = new scala.util.Random(seed).shuffle(rows)
      val a = FeatureOps.keepLast(rows.toDF("k", "seq", "v"), Seq("k"), "seq")
        .select("seq").as[Long].head()
      val b = FeatureOps.keepLast(shuffled.toDF("k", "seq", "v"), Seq("k"), "seq")
        .select("seq").as[Long].head()
      a == b && a == n.toLong
    }

  property("duplicateRowCount counts every group member (pandas keep=False)") =
    Prop.forAllNoShrink(Gen.listOfN(25, Gen.choose(1, 5))) { keys =>
      val df = keys.map(k => (s"K$k", 1)).toDF("k", "x")
      val dups = ValidationOps.duplicateRowCount(df, Seq("k"))
      val expected = keys.groupBy(identity).values.filter(_.size > 1).map(_.size).sum
      dups == expected.toLong
    }

  property("reliability/overall scores stay in [0, 100]") =
    Prop.forAll(Gen.choose(0L, 1000L), Gen.choose(1L, 1000L)) { (d, c) =>
      val r = Scoring.reliabilityScore(d, c).get
      val overall = Scoring.overallScore(80.0, Some(r))
      r >= 0.0 && r <= 100.0 && overall >= 0.0 && overall <= 100.0
    }

  property("packSequences conserves tokens and packs within-shard prefixes") =
    Prop.forAllNoShrink(
      Gen.choose(1, 30).flatMap(n => Gen.listOfN(n, Gen.choose(0L, 300L))),
      Gen.choose(1L, 512L), Gen.choose(1, 6)) { (toks, budget, shards) =>
      val df = toks.zipWithIndex.map { case (t, i) => (i.toLong, t) }
        .toDF("id", "tok")
      val out = graft.functions.SamplingFunctions
        .packSequences(df, "id", "tok", budget, shards)
        .select("id", "shard", "pack_id", "prefix_tokens")
        .as[(Long, Long, Long, Long)].collect()
      val byShard = out.groupBy(_._2)
      // every doc assigned exactly once; shard = id % shards
      out.length == toks.length &&
        out.forall { case (id, sh, _, _) => sh == id % shards } &&
        // within a shard, ordered by id: prefix is the running token sum
        // and pack_id is its integer quotient by the budget
        byShard.values.forall { rows =>
          val sorted = rows.sortBy(_._1)
          val prefixes = sorted.map(_._1).map(id => toks.take(id.toInt).zipWithIndex
            .filter { case (_, i) => i % shards == (id % shards) }
            .map(_._1).sum)
          sorted.zip(prefixes).forall { case ((_, _, pack, pfx), want) =>
            pfx == want && pack == pfx / budget
          }
        }
    }

  property("duplicateNgramFraction stays in [0,1] on arbitrary text") =
    Prop.forAllNoShrink(Gen.listOfN(12, Gen.asciiPrintableStr), Gen.choose(1, 3)) {
      (texts, n) =>
      val fr = texts.toDF("text")
        .select(TextFunctions.duplicateNgramFraction(col("text"), n).as("f"))
        .as[Double].collect()
      fr.forall(f => f >= 0.0 && f <= 1.0)
    }

  property("capPerGroup equals brute-force k-smallest under any partitioning") =
    // the bounded-heap cut merges partial heaps across partitions; the
    // survivor set must equal the per-group sort-take-k reference no
    // matter how rows were distributed when the partials were built
    Prop.forAllNoShrink(
      Gen.choose(1, 6), Gen.choose(1, 12),
      Gen.listOfN(60, Gen.choose(0, 4))) { (k, parts, groups) =>
      val rows = groups.zipWithIndex.map { case (g, i) => (i.toLong, s"g$g") }
      val df = rows.toDF("id", "grp").repartition(parts)
      val kept = graft.functions.SamplingFunctions.capPerGroup(df, "grp", "id", k)
        .select("id").as[Long].collect().toSet
      val want = rows.groupBy(_._2).values
        .flatMap(_.map(_._1).sorted.take(k)).toSet
      kept == want
    }

  property("piiCount is 0 on digit-and-@-free text; redaction a no-op") =
    Prop.forAllNoShrink(Gen.listOfN(10, Gen.alphaStr)) { words =>
      val s = words.mkString(" ")
      val row = Seq(s).toDF("text").select(
        TextFunctions.piiCount(col("text")).as("n"),
        TextFunctions.redactPii(col("text")).as("r"))
        .as[(Long, String)].head()
      row._1 == 0L && row._2 == s
    }

  private val bpeTextGen: Gen[String] =
    Gen.choose(0, 24).flatMap(n =>
      Gen.listOfN(n, Gen.oneOf('a', 'b', 'c', ' ')).map(_.mkString))
  private val bpeMergesGen: Gen[List[(String, String)]] =
    Gen.choose(0, 4).flatMap(n => Gen.listOfN(n,
      Gen.zip(Gen.oneOf("a", "b", "c", "ab", "bc"),
        Gen.oneOf("a", "b", "c", "ab"))))

  property("bpe encode is lossless: concatenating tokens recovers the text") =
    Prop.forAllNoShrink(bpeTextGen, bpeMergesGen) { (text, merges) =>
      val toks = Seq(text).toDF("text")
        .select(graft.functions.BpeEncode(col("text"), merges).as("t"))
        .head().getSeq[String](0)
      toks.mkString == text && toks.forall(_.nonEmpty)
    }

  property("funnel step counts never increase down the funnel") =
    Prop.forAllNoShrink(Gen.listOfN(30,
      Gen.zip(Gen.choose(1L, 5L), Gen.oneOf("view", "click", "purchase"),
        Gen.choose(0L, 100000L)))) { evs =>
      val df = evs.toDF("user_id", "event_type", "us")
        .withColumn("ts", timestamp_micros(col("us"))).drop("us")
      val users = graft.ops.EventAnalyticsOps
        .funnel(df, Seq("view", "click", "purchase"))
        .orderBy("step_idx").select("users").as[Long].collect()
      users.sliding(2).forall(p => p.length < 2 || p(0) >= p(1))
    }

  property("pageRank: ranks positive, total mass never exceeds 1") =
    Prop.forAllNoShrink(Gen.choose(1, 12).flatMap(n => Gen.listOfN(n,
      Gen.zip(Gen.choose(1L, 6L), Gen.choose(1L, 6L))))) { edges =>
      val valid = edges.exists(e => e._1 != e._2)
      !valid || {
        val r = graft.Caches.scoped(graft.ops.GraphOps
          .pageRank(edges.toDF("s", "d"), "s", "d", iterations = 2)
          .select("rank").as[Double].collect())
        // each node's rank rounds (HALF_UP) to 6 dp per round, so the
        // exact ≤1 mass bound relaxes by up to 5e-7 per node
        r.forall(_ > 0.0) && r.sum <= 1.0 + r.length * 5e-7 + 1e-9
      }
    }

  property("withGlobalRank+PrefixSums equal window semantics on random frames") =
    Prop.forAllNoShrink(
      Gen.choose(1, 120).flatMap(n =>
        Gen.listOfN(n, Gen.zip(Gen.choose(0L, 7L), Gen.choose(1L, 50L))))) { rows =>
      val df = rows.zipWithIndex
        .map { case ((k, v), i) => (i.toLong, k, v) }.toDF("id", "k", "v")
      val w = Window.orderBy(col("k").desc, col("id"))
      val viaWindow = df
        .withColumn("r", row_number().over(w).cast("long"))
        .withColumn("cv", sum(col("v")).over(
          w.rowsBetween(Window.unboundedPreceding, 0)))
        .select("id", "r", "cv").orderBy("id")
        .collect().map(x => (x.getLong(0), x.getLong(1), x.getLong(2))).toSeq
      val viaRank = graft.ops.RankOps.withGlobalPrefixSums(df,
          Seq(col("k").desc, col("id")), Seq("v"), Seq("cv"),
          rankCol = Some("r"))
        .select("id", "r", "cv").orderBy("id")
        .collect().map(x => (x.getLong(0), x.getLong(1), x.getLong(2))).toSeq
      viaWindow == viaRank
    }
}
