package graft.queries

import org.scalatest.funsuite.AnyFunSuite
import graft.TestSpark

class QueriesSpec extends AnyFunSuite with graft.CachesScoped {
  private val spark = TestSpark.spark
  import spark.implicits._
  private val sf = "/root/testdata/sf0.001"

  test("registry names are unique and oracles reference registered queries") {
    val names = Queries.registry.map(_.name)
    assert(names.distinct.length === names.length)
    assert(Queries.oracles.keySet.subsetOf(Queries.byName.keySet))
  }

  test("every query has a deterministic shape: runs twice to the same count") {
    for (q <- Seq("a5_ticker_span", "w6_keep_last", "t3_language_id")) {
      val f = Queries.byName(q)
      assert(f(spark, sf).count() === f(spark, sf).count())
    }
  }

  test("w5_features preserves the prices row count (windows never drop rows)") {
    val p = Q.prices(Q.t(spark, sf, "lineitem")).count()
    assert(Queries.byName("w5_features")(spark, sf).count() === p)
  }

  test("j2_flag_enrich keeps every primary row (left join semantics)") {
    val p = Q.prices(Q.t(spark, sf, "lineitem")).count()
    assert(Queries.byName("j2_flag_enrich")(spark, sf).count() === p)
  }

  test("oracle SQL strings contain no tabs (driver JSON safety)") {
    for ((n, sql) <- Queries.oracles)
      assert(!sql.contains("\t"), s"$n oracle contains a tab")
  }

  test("a10b approx percentiles land within sketch accuracy of the exact a10") {
    import org.apache.spark.sql.functions.col
    // accuracy 10000 → rank error ≤ n/10000 per group; at test scale the
    // sketch should reproduce a10's exact values almost everywhere, and
    // NEVER drift past a loose 5% relative band on the positive metrics
    val exact = Queries.byName("a10_percentiles")(spark, sf)
      .select("ticker", "p50_close", "p95_close")
      .collect().map(r => r.getLong(0) -> (r.getDouble(1), r.getDouble(2))).toMap
    val approx = Queries.byName("a10b_approx_percentiles")(spark, sf)
      .select(col("ticker").cast("long"), col("p50_close"), col("p95_close"))
      .collect().map(r => r.getLong(0) -> (r.getDouble(1), r.getDouble(2))).toMap
    assert(approx.keySet === exact.keySet)
    approx.foreach { case (t, (p50, p95)) =>
      val (e50, e95) = exact(t)
      assert(math.abs(p50 - e50) <= 0.05 * e50, s"ticker $t p50: $p50 vs exact $e50")
      assert(math.abs(p95 - e95) <= 0.05 * e95, s"ticker $t p95: $p95 vs exact $e95")
    }
  }

  test("s3b trained hierarchical IVF keeps recall@5 against the exact s1") {
    // measured 0.85 mean recall at this (k=16, nProbe=12, cc=4, wProbe=3)
    // config over the near-uniform synthetic embeddings; the 0.7 bound
    // leaves margin for k-means partitioning jitter while still failing
    // loudly if assignment or probing regresses.
    def top5(name: String): Map[Long, Set[Long]] =
      Queries.byName(name)(spark, sf).select("query_id", "vec_id")
        .collect().map(r => (r.getLong(0), r.getLong(1)))
        .groupBy(_._1).map { case (q, v) => (q, v.map(_._2).toSet) }
    val exact = top5("s1_knn_topk")
    val approx = top5("s3b_ivf_trained")
    assert(approx.keySet === exact.keySet)
    val recalls = exact.map { case (q, e) =>
      e.intersect(approx(q)).size.toDouble / e.size }
    val mean = recalls.sum / recalls.size
    assert(mean >= 0.7, s"mean recall@5 $mean < 0.7 (${recalls.toSeq.sorted})")
  }

  test("a7b approx distinct counts land within HLL error of the exact a7") {
    val exact = Queries.byName("a7_distinct_counts")(spark, sf)
      .select("n_suppliers", "n_customers").head()
    val approx = Queries.byName("a7b_approx_distinct")(spark, sf)
      .select("n_suppliers", "n_customers").head()
    // rsd 0.01 → 1% standard error; 5σ band keeps this deterministic-safe
    for (i <- 0 to 1) {
      val (e, a) = (exact.getLong(i).toDouble, approx.getLong(i).toDouble)
      assert(math.abs(a - e) <= math.max(1.0, 0.05 * e),
        s"col $i: approx $a vs exact $e")
    }
  }

  test("a15 CMS estimates respect the count-min bound against exact counts") {
    import org.apache.spark.sql.functions._
    val est = Queries.byName("a15_cms_freq")(spark, sf)
      .as[(String, Long)].collect().toMap
    val ev = graft.queries.Queries.events(spark, sf)
    val n = ev.count()
    val exact = ev.groupBy("event_type").count()
      .as[(String, Long)].collect().toMap
    assert(est.keySet === exact.keySet)
    for ((k, e) <- exact) {
      // CMS never undercounts; overcount bounded by eps*N (eps=0.001)
      // at 99% confidence — use 5x the bound to stay deterministic-safe
      assert(est(k) >= e, s"$k: CMS undercounted ${est(k)} < $e")
      assert(est(k) <= e + math.max(5.0, 5 * 0.001 * n),
        s"$k: CMS overcount ${est(k)} vs $e (N=$n)")
    }
    // same seed, same data -> identical estimates (determinism)
    val again = Queries.byName("a15_cms_freq")(spark, sf)
      .as[(String, Long)].collect().toMap
    assert(again === est)
  }

  test("j10 plans the Bloom probe as a scan-side filter before a broadcast join") {
    val plan = Queries.byName("j10_bloom_semijoin")(spark, sf)
      .queryExecution.executedPlan.toString
    // the codegen'd Bloom predicate must prune the FACT side before the
    // join (it renders as the expression class name in the plan), and
    // the dimension must ride a broadcast join
    assert(plan.contains("BloomMightContain") || plan.contains("bloommightcontain"),
      s"Bloom probe missing from plan:\n$plan")
    assert(plan.contains("BroadcastHashJoin"),
      s"expected the dimension broadcast, plan:\n$plan")
  }

  test("mix1 tokenizes the corpus exactly once (one BpeEncode site behind the pinned cells)") {
    // its own scope: the query's pins are the only cached frames its
    // plan can read, and they are released when the assertion is done
    graft.Caches.scoped {
      // building the query runs BPE training eagerly (8 bounded-collect
      // merge rounds — the train cost, not tokenization); the RETURNED
      // plan is the accounting query, whose corpus tokenization must be
      // a single BpeEncode site inside the pinned per-cell aggregate —
      // the budget cells and the global total both read that cache, so
      // the corpus encodes exactly once per run.
      val df = Queries.byName("mix1_token_accounting")(spark, sf)
      // a pinned frame read from TWO scan sites is still ONE compute
      val sites = graft.PlanFragments.nodes(df.queryExecution.executedPlan)
        .count(_.expressions.exists(
          _.find(_.isInstanceOf[graft.functions.BpeEncode]).isDefined))
      assert(sites === 1,
        s"expected exactly one corpus-encode site, found $sites:\n" +
          df.queryExecution.executedPlan)
    }
  }

  test("j9_star_join plans broadcast joins for the dimension chain") {
    val plan = Queries.byName("j9_star_join")(spark, sf)
      .queryExecution.executedPlan.toString
    // nation and region are catalog-sized: they must ride broadcast
    // joins, never shuffle the fact side for them
    val broadcasts = "BroadcastHashJoin".r.findAllIn(plan).length
    assert(broadcasts >= 2, s"expected the nation/region chain broadcast, plan:\n$plan")
  }

  test("t33_vocab_curve: compression anchored at 1, token totals weakly decreasing in merges") {
    val rows = Queries.byName("t33_vocab_curve")(spark, sf)
      .collect().map(r => (r.getInt(0), r.getLong(1), r.getLong(2), r.getDouble(3)))
    assert(rows.map(_._1).toSeq === Seq(0, 2, 4, 6, 8))
    assert(rows.head._4 === 1.0, "k=0 is the compression base")
    rows.sliding(2).foreach { case Array(a, b) =>
      assert(b._2 <= a._2, s"merges can only shrink the token total: $a -> $b")
      assert(b._4 <= a._4)
    }
    assert(rows.last._2 < rows.head._2, "8 merges must actually compress this corpus")
  }
}
