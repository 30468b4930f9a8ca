package graft.ops

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.TestSpark

class GraphOpsSpec extends AnyFunSuite with graft.CachesScoped {
  private val spark = TestSpark.spark
  import spark.implicits._

  private def ranks(edges: Seq[(Long, Long)], iters: Int): Map[Long, Double] =
    GraphOps.pageRank(edges.toDF("s", "d"), "s", "d", iterations = iters)
      .as[(Long, Double)].collect().toMap

  test("two-node cycle is the fixed point: both nodes hold 0.5") {
    for (it <- Seq(1, 3)) {
      val r = ranks(Seq((1L, 2L), (2L, 1L)), it)
      assert(r === Map(1L -> 0.5, 2L -> 0.5))
    }
  }

  // the op rounds EVERY round's ranks to 6 dp (the replay contract) —
  // expectations must round the same way
  private def r6(x: Double): Double =
    BigDecimal(x).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble

  test("star: sinks get base + d·(mass in), sources hold the base") {
    // a -> b, c -> b; n = 3, base = 0.05; after round 1:
    // b = 0.05 + 0.85·(1/3 + 1/3); a and c keep 0.05 (no in-links).
    // round 2: b's inflow uses a=c=0.05.
    val r1 = ranks(Seq((1L, 2L), (3L, 2L)), 1)
    val third = r6(1.0 / 3)
    assert(r1(1L) === 0.05 && r1(3L) === 0.05)
    assert(r1(2L) === r6(0.05 + 0.85 * (third + third)))
    val r2 = ranks(Seq((1L, 2L), (3L, 2L)), 2)
    assert(r2(2L) === r6(0.05 + 0.85 * (0.05 + 0.05)))
  }

  test("out-degree divides the pushed mass; duplicates/self-loops drop") {
    // a -> b and a -> c (deg 2): each gets half of a's rank; the
    // duplicate edge and the self-loop must not double or self-feed
    val r = ranks(Seq((1L, 2L), (1L, 2L), (1L, 3L), (2L, 2L)), 1)
    val expected = r6(0.05 + 0.85 * (r6(1.0 / 3) / 2))
    assert(r(2L) === expected)
    assert(r(2L) === r(3L))
  }

  test("null endpoints are dropped, not phantom nodes") {
    val edges = Seq((Some(1L), Some(2L)), (None, Some(9L)), (Some(9L), None))
      .toDF("s", "d")
    val out = GraphOps.pageRank(edges, "s", "d", iterations = 1)
      .select("node").as[Long].collect().toSet
    assert(out === Set(1L, 2L))
  }

  private def lpa(edges: Seq[(Long, Long)], iters: Int): Map[Long, Long] =
    GraphOps.labelPropagation(edges.toDF("s", "d"), "s", "d", iterations = iters)
      .as[(Long, Long)].collect().toMap

  test("labelPropagation: neighbor mode with min-label ties, by hand") {
    // triangle 1-2-3 plus pendant 4-1 (undirected closure of these)
    val e = Seq((1L, 2L), (1L, 3L), (2L, 3L), (4L, 1L))
    // round 1: 1 sees {2,3,4} all once -> 2; 2,3,4 all see label 1 win
    assert(lpa(e, 1) === Map(1L -> 2L, 2L -> 1L, 3L -> 1L, 4L -> 1L))
    // round 2 (sync, from round 1's labels): 1 -> mode{1,1,1} = 1;
    // 2 -> {2,1} tie -> 1; 3 -> {2,1} tie -> 1; 4 -> {2} = 2
    assert(lpa(e, 2) === Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 4L -> 2L))
  }

  test("labelPropagation: disjoint cliques settle on their min label") {
    val e = Seq((1L, 2L), (1L, 3L), (2L, 3L),
      (10L, 11L), (10L, 12L), (11L, 12L))
    val out = lpa(e, 3)
    assert(out === Map(1L -> 1L, 2L -> 1L, 3L -> 1L,
      10L -> 10L, 11L -> 10L, 12L -> 10L))
  }

  test("labelPropagation: mode argmax equals brute-force sync LPA on a random graph") {
    // pins the r16 single-exchange mode() rewrite to an independent
    // in-memory reference: per round, count neighbor labels, take max
    // count with min-label ties — the exact min_by(struct(-c, label))
    // semantics the two-exchange form computed
    val rnd = new scala.util.Random(7)
    val edges = (1 to 400).map(_ => (rnd.nextInt(40).toLong, rnd.nextInt(40).toLong))
      .filter { case (a, b) => a != b }.distinct
    val sym = (edges ++ edges.map(_.swap)).distinct
    val nbrs = sym.groupBy(_._2).map { case (n, es) => n -> es.map(_._1) }
    val iters = 3
    var ref = nbrs.keys.map(n => n -> n).toMap
    for (_ <- 1 to iters) {
      ref = nbrs.map { case (n, ns) =>
        val counts = ns.groupBy(ref).map { case (l, xs) => (l, xs.size) }
        n -> counts.minBy { case (l, c) => (-c, l) }._1
      }
    }
    assert(lpa(edges, iters) === ref)
  }

  private def core(edges: Seq[(Long, Long)], k: Int, rounds: Int): Map[Long, Long] =
    GraphOps.kCore(edges.toDF("s", "d"), "s", "d", k, rounds)
      .as[(Long, Long)].collect().toMap

  test("kCore: pendant chain peels away round by round; K4 survives") {
    // K4 on {1,2,3,4} plus a tail 4-5-6: round 1 drops 6 (deg 1),
    // round 2 drops 5 (its deg fell to 1), K4 is the 2-core.
    val nodes = Seq(1L, 2L, 3L, 4L)
    val k4 = for (a <- nodes; b <- nodes if a < b) yield (a, b)
    val e = k4 ++ Seq((4L, 5L), (5L, 6L))
    assert(core(e, k = 2, rounds = 1).keySet === Set(1L, 2L, 3L, 4L, 5L))
    val converged = core(e, k = 2, rounds = 2)
    assert(converged === Map(1L -> 3L, 2L -> 3L, 3L -> 3L, 4L -> 3L))
    // convergence witness: one more round changes nothing
    assert(core(e, k = 2, rounds = 3) === converged)
    // k above the max degree empties the graph
    assert(core(e, k = 4, rounds = 2).isEmpty)
  }

  test("kCore: cascade — a clique member hanging on by the tail") {
    // triangle {1,2,3} + path 3-4: k=2 round 1 removes 4; the triangle
    // holds (each deg 2). Duplicates/reversed edges collapse first.
    val e = Seq((1L, 2L), (2L, 3L), (3L, 1L), (1L, 3L), (3L, 4L), (4L, 3L))
    assert(core(e, k = 2, rounds = 2) === Map(1L -> 2L, 2L -> 2L, 3L -> 2L))
  }

  private def hitsMap(edges: Seq[(Long, Long)], iters: Int)
      : Map[Long, (Double, Double)] =
    GraphOps.hits(edges.toDF("s", "d"), "s", "d", iterations = iters)
      .as[(Long, Double, Double)].collect()
      .map { case (n, h, a) => n -> ((h, a)) }.toMap

  test("hits: two hubs, one shared authority — hand-checked round") {
    // 1 -> 3, 2 -> 3: a(3) = 2/2 = 1 (only authority), h(1) = h(2) =
    // 1/sqrt(2) at every round; node 3 has no out-edges -> hub 0,
    // nodes 1,2 no in-edges -> authority 0.
    val r = hitsMap(Seq((1L, 3L), (2L, 3L)), 1)
    val inv = r6(1.0 / math.sqrt(2))
    assert(r === Map(1L -> ((inv, 0.0)), 2L -> ((inv, 0.0)),
      3L -> ((0.0, 1.0))))
    assert(hitsMap(Seq((1L, 3L), (2L, 3L)), 3) === r, "fixed point")
  }

  test("hits: star hub dominates; authority splits over in-degree") {
    // 1 -> {2,3}, 4 -> 2: after round 1, raw a = (h1+h4, h1) = (2,1),
    // norm sqrt(5); raw h = (a2+a3, a2) with the NEW a.
    val r = hitsMap(Seq((1L, 2L), (1L, 3L), (4L, 2L)), 1)
    val a2 = r6(2.0 / math.sqrt(5))
    val a3 = r6(1.0 / math.sqrt(5))
    val hrRaw1 = BigDecimal(a2 + a3).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    val nrm = math.sqrt(hrRaw1 * hrRaw1 + a2 * a2)
    assert(r(2L) === ((0.0, a2)) && r(3L) === ((0.0, a3)))
    assert(r(1L) === ((r6(hrRaw1 / nrm), 0.0)))
    assert(r(4L) === ((r6(a2 / nrm), 0.0)))
    assert(r(1L)._1 > r(4L)._1, "the two-authority hub outranks")
  }

  test("hits: duplicate edges and self-loops drop; nulls no phantom nodes") {
    val dirty = Seq((Some(1L), Some(3L)), (Some(1L), Some(3L)),
      (Some(2L), Some(3L)), (Some(3L), Some(3L)), (None, Some(9L)))
      .toDF("s", "d")
    val out = GraphOps.hits(dirty, "s", "d", iterations = 1)
      .as[(Long, Double, Double)].collect()
      .map { case (n, h, a) => n -> ((h, a)) }.toMap
    val inv = r6(1.0 / math.sqrt(2))
    assert(out === Map(1L -> ((inv, 0.0)), 2L -> ((inv, 0.0)),
      3L -> ((0.0, 1.0))))
  }

  private def tris(edges: Seq[(Long, Long)]): Map[Long, (Long, Long, Double)] =
    GraphOps.triangleCounts(edges.toDF("s", "d"), "s", "d")
      .as[(Long, Long, Long, Double)].collect()
      .map { case (n, deg, t, c) => n -> ((deg, t, c)) }.toMap

  test("triangleCounts: K3 — every node in one triangle, clustering 1.0") {
    val out = tris(Seq((1L, 2L), (2L, 3L), (3L, 1L)))
    assert(out === Map(1L -> ((2L, 1L, 1.0)), 2L -> ((2L, 1L, 1.0)),
      3L -> ((2L, 1L, 1.0))))
  }

  test("triangleCounts: K4 — each node in C(3,2)=3 triangles, clustering 1.0") {
    val nodes = Seq(1L, 2L, 3L, 4L)
    val e = for (a <- nodes; b <- nodes if a < b) yield (a, b)
    val out = tris(e)
    assert(out.values.toSet === Set((3L, 3L, 1.0)))
  }

  test("triangleCounts: path has zero triangles; deg-1 clustering is 0") {
    val out = tris(Seq((1L, 2L), (2L, 3L)))
    assert(out === Map(1L -> ((1L, 0L, 0.0)), 2L -> ((2L, 0L, 0.0)),
      3L -> ((1L, 0L, 0.0))))
  }

  test("triangleCounts: duplicate/reversed edges and self-loops collapse") {
    // the same K3 written with noise: reversed copies, dups, a self-loop
    val out = tris(Seq((1L, 2L), (2L, 1L), (2L, 3L), (3L, 2L), (3L, 1L),
      (1L, 3L), (1L, 1L)))
    assert(out === Map(1L -> ((2L, 1L, 1.0)), 2L -> ((2L, 1L, 1.0)),
      3L -> ((2L, 1L, 1.0))))
  }

  test("triangleCounts: bowtie — the hinge sits in 2 triangles, coeff 1/3") {
    // two triangles sharing node 3: deg(3)=4, T(3)=2 → 2·2/(4·3) = 1/3
    val out = tris(Seq((1L, 2L), (2L, 3L), (3L, 1L),
      (3L, 4L), (4L, 5L), (5L, 3L)))
    assert(out(3L) === ((4L, 2L, 0.333333)))
    assert(out(1L) === ((2L, 1L, 1.0)) && out(5L) === ((2L, 1L, 1.0)))
  }

  test("personalizedPageRank: teleport mass stays on the seed side") {
    // 1 -> 2 -> 3, and an off-seed island 4 <-> 5. Seeds = {1}:
    // r0 = (1, 0, 0, 0, 0); the island can only ever receive pushed
    // mass from itself — with zero initial mass it stays at 0 forever.
    val edges = Seq((1L, 2L), (2L, 3L), (4L, 5L), (5L, 4L)).toDF("s", "d")
    val r = GraphOps.personalizedPageRank(edges, "s", "d",
        seeds = Seq(1L), iterations = 4)
      .as[(Long, Double)].collect().toMap
    assert(r(4L) === 0.0 && r(5L) === 0.0)
    // the seed holds exactly its teleport share (nothing links to 1)
    assert(r(1L) === r6(0.15 * 1.0))
    // hand-run round 1: r(2) = 0.85·r(1)/1 = 0.85·0.15... with r0(1)=1:
    // round1: r(2) = 0.85·1 = 0.85, r(1) = 0.15, r(3) = 0.85·r0(2) = 0
    // round2: r(2) = 0.85·0.15, r(3) = 0.85·0.85
    val r2Round2 = r6(0.85 * 0.15)
    val r3Round2 = r6(0.85 * 0.85)
    // round3: r(2) = 0.85·0.15 (fixed), r(3) = 0.85·r2Round2
    // round4: r(3) = 0.85·r2Round2 (fixed point of the chain)
    assert(r(2L) === r2Round2)
    assert(r(3L) === r6(0.85 * r2Round2), s"got ${r(3L)}, expected chain value")
    assert(r3Round2 > r(3L)) // transient round-2 spike decays
  }

  test("personalizedPageRank: uniform seeds over ALL nodes ≈ pageRank") {
    // with S = every node, p(v) = 1/n — the recurrence degenerates to
    // standard PageRank; the two operators must agree rank-for-rank
    val edges = Seq((1L, 2L), (2L, 3L), (3L, 1L), (1L, 3L)).toDF("s", "d")
    val pr = GraphOps.pageRank(edges, "s", "d", iterations = 5)
      .as[(Long, Double)].collect().toMap
    val ppr = GraphOps.personalizedPageRank(edges, "s", "d",
        seeds = Seq(1L, 2L, 3L), iterations = 5)
      .as[(Long, Double)].collect().toMap
    assert(ppr === pr)
  }

  test("neighborJaccard: triangle, path, and duplicate collapse by hand") {
    // K3: every edge has one common neighbor, degs 2/2 → 1/(2+2−1) = 1/3
    val k3 = Seq((1L, 2L), (2L, 3L), (3L, 1L)).toDF("s", "d")
    val j3 = GraphOps.neighborJaccard(k3, "s", "d")
      .as[(Long, Long, Long, Long, Long, Double)].collect().toList
    assert(j3.map(r => (r._1, r._2, r._3, r._6)) ===
      List((1L, 2L, 1L, 0.333333), (1L, 3L, 1L, 0.333333), (2L, 3L, 1L, 0.333333)))
    // path a−b−c: no edge shares a neighbor → all zeros, exact degrees
    val path = Seq((1L, 2L), (2L, 3L)).toDF("s", "d")
    val jp = GraphOps.neighborJaccard(path, "s", "d")
      .as[(Long, Long, Long, Long, Long, Double)].collect().toList
    assert(jp === List((1L, 2L, 0L, 1L, 2L, 0.0), (2L, 3L, 0L, 2L, 1L, 0.0)))
    // duplicate + reversed edges collapse to one undirected edge
    val dup = Seq((1L, 2L), (2L, 1L), (1L, 2L)).toDF("s", "d")
    assert(GraphOps.neighborJaccard(dup, "s", "d").count() === 1L)
  }

  test("degreeAssortativity: star is perfectly disassortative (-1)") {
    // hub 1 wired to three leaves: every edge pairs deg 3 with deg 1 —
    // Newman r = -1 exactly. Duplicate/reversed edges must not skew it.
    val star = Seq((1L, 2L), (1L, 3L), (1L, 4L), (2L, 1L), (1L, 3L))
      .toDF("s", "d")
    val row = GraphOps.degreeAssortativity(star, "s", "d")
      .as[(Long, Long, Double)].collect().head
    assert(row === ((4L, 3L, -1.0)))
    // a clean cycle has constant degree -> zero variance -> null r
    val cyc = Seq((1L, 2L), (2L, 3L), (3L, 1L)).toDF("s", "d")
    val r2 = GraphOps.degreeAssortativity(cyc, "s", "d")
      .select("assortativity").collect().head
    assert(r2.isNullAt(0))
  }

  test("bfsHops: distances fix at first reach; isolated seeds keep 0") {
    // path 1-2-3-4-5, seed {1, 9} (9 absent from the edge set), 2 rounds:
    // reach out to hop 2 only; node 5 is beyond the horizon
    val path = Seq((1L, 2L), (2L, 3L), (3L, 4L), (4L, 5L)).toDF("s", "d")
    val seeds = Seq(1L, 9L).toDF("seed")
    val out = GraphOps.bfsHops(path, "s", "d", seeds, "seed", rounds = 2)
      .as[(Long, Int)].collect().toMap
    assert(out === Map(1L -> 0, 9L -> 0, 2L -> 1, 3L -> 2))
    // undirected: expansion crosses edges in both directions
    val rev = GraphOps.bfsHops(path, "s", "d", Seq(3L).toDF("seed"),
      "seed", rounds = 1).as[(Long, Int)].collect().toMap
    assert(rev === Map(3L -> 0, 2L -> 1, 4L -> 1))
  }

  test("round-scoped pins release; only the final frame stays (tracked)") {
    val before = spark.sparkContext.getPersistentRDDs.keySet
    graft.Caches.scoped(ranks(Seq((1L, 2L), (2L, 3L), (3L, 1L)), 4))
    val deadline = System.nanoTime() + 5e9.toLong
    while (spark.sparkContext.getPersistentRDDs.keySet.diff(before).nonEmpty
           && System.nanoTime() < deadline) Thread.sleep(50)
    assert(spark.sparkContext.getPersistentRDDs.keySet.diff(before).isEmpty)
  }

  test("linkPrediction: scores only non-adjacent wedge pairs, ranked by cn") {
    import spark.implicits._
    // path 1-2-3 plus hub 4 adjacent to 1,2,3: (1,3) shares {2,4} -> cn 2;
    // every other non-edge pair shares at most 1
    val edges = Seq((1L, 2L), (2L, 3L), (4L, 1L), (4L, 2L), (4L, 3L))
      .toDF("src", "dst")
    val out = GraphOps.linkPrediction(edges, "src", "dst", k = 10)
      .select("u", "v", "cn", "jaccard")
      .as[(Long, Long, Long, Double)].collect().toList
    assert(out.head === ((1L, 3L, 2L, 1.0))) // N(1)={2,4}, N(3)={2,4}: J=2/2
    // no scored pair may be an existing edge
    val es = Set((1L, 2L), (2L, 3L), (1L, 4L), (2L, 4L), (3L, 4L))
    assert(out.forall { case (u, v, _, _) => !es.contains((u, v)) })
  }

  test("harmonicCentralitySampled: path graph, exact sixths, multi-seed mean") {
    import spark.implicits._
    // path 1—2—3—4, seed {1}: h(2)=1, h(3)=1/2, h(4)=1/3
    val edges = Seq((1L, 2L), (2L, 3L), (3L, 4L)).toDF("src", "dst")
    val one = GraphOps.harmonicCentralitySampled(edges, "src", "dst",
        Seq(1L).toDF("seed"), "seed", rounds = 3)
      .collect().map(r => r.getLong(0) -> r.getDouble(2)).toMap
    assert(one === Map(2L -> 1.0, 3L -> 0.5, 4L -> 0.333333))
    // seeds {1, 4}: h(2) = (1 + 1/2)/2 = 0.75, h(3) symmetric;
    // h(1) = h(4) = (0 + 1/3)/2 = 0.166667 (self contributes nothing,
    // the far seed is d=3 away)
    val two = GraphOps.harmonicCentralitySampled(edges, "src", "dst",
        Seq(1L, 4L).toDF("seed"), "seed", rounds = 3)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
    assert(two.toSet === Set(
      (1L, 1L, 0.166667), (2L, 2L, 0.75), (3L, 2L, 0.75), (4L, 1L, 0.166667)))
  }
}
