package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel

/** Iterative graph analytics over edge frames (Page & Brin 1999;
  * Pregel-shaped like [[graft.functions.DedupFunctions
  * .connectedComponents]]'s star rounds). The co-interaction graphs a
  * data pipeline derives — co-purchased parts, near-duplicate document
  * clusters, user-session transitions — all arrive as edge tables, and
  * rank/centrality over them is the standard importance signal for
  * sampling weights and crawl prioritization.
  */
object GraphOps {

  /** Fixed-width repartition on the per-round join key before pinning an
    * iterative frame — the bucketing move for iterative joins: pay one
    * exchange at build, reuse the clustering every round. In local-mode
    * benchmarks the per-round label/rank frame is node-sized and
    * broadcasts, so the pin is NEUTRAL there (A/B'd at sf0.1 and sf1:
    * warm round times identical within noise); on a cluster where the
    * per-round frame exceeds the broadcast threshold, the round join
    * needs hashpartitioning(key) on BOTH sides and an unkeyed pinned
    * frame would re-exchange the full edge set every round — that is
    * the case this layout exists for. Placed BEFORE the dedup
    * `distinct()` wherever possible so the aggregate absorbs the
    * exchange (hashpartitioning(src) satisfies the (src, dst) clustered
    * distribution) and the build pays ONE shuffle, not two. Hub-skewed
    * sources concentrate their edges in one partition — the standard
    * per-src Pregel layout; the salting escape in [[graft.ops.SkewOps]]
    * applies when a hub dominates a partition.
    */
  private def pinWidth(df: DataFrame): Int =
    df.sparkSession.conf.get("spark.sql.shuffle.partitions", "200").toInt

  /** The canonical undirected edge set: `(u, v)` as longs with u < v,
    * null endpoints and self-loops dropped, duplicates collapsed.
    */
  private def undirected(edges: DataFrame, srcCol: String, dstCol: String): DataFrame =
    edges
      .select(least(col(srcCol), col(dstCol)).cast("long").as("u"),
        greatest(col(srcCol), col(dstCol)).cast("long").as("v"))
      .filter(col("u").isNotNull && col("v").isNotNull && col("u") =!= col("v"))
      .distinct()

  /** PageRank over DIRECTED edges, `iterations` synchronous rounds of
    *
    *   r'(v) = (1 − d)/n + d · Σ_{(u,v) ∈ E} r(u)/outdeg(u)
    *
    * with every rank rounded to `roundTo` dp at the END of each round —
    * the cross-engine replay contract (the only floating noise is the
    * contribution sum's addition order, ~1e-15 relative, quantized away
    * at 6 dp; an unrounded production run just passes `roundTo = -1`).
    * Nodes with no in-links hold (1 − d)/n; dangling mass (nodes with
    * no OUT-links) is dropped, not redistributed — ranks then sum to
    * slightly under 1, the common simplification (documented so the
    * oracle states the same recurrence).
    *
    * Returns `(node, rank)`, node-cardinality.
    *
    * Scale shape: duplicate edges collapse via one distinct; the
    * (src, dst, outdeg) frame is derived once, pinned, and re-joined
    * each round — per round exactly ONE equi-join of edges against the
    * node-sized rank frame plus one map-side-partial sum by dst (never
    * a window, never a driver collect). Round i's rank frame is pinned
    * and the superseded round released once its successor materializes
    * (the BPE-train loop convention); lineage stays one-projection deep
    * so eviction recompute is a single round.
    */
  def pageRank(edges: DataFrame, srcCol: String, dstCol: String,
      iterations: Int = 5, damping: Double = 0.85,
      roundTo: Int = 6): DataFrame =
    rankRounds(edges, srcCol, dstCol, iterations, damping, roundTo) { nodes =>
      val n = nodes.count().toDouble
      (lit(1.0 / n), lit((1.0 - damping) / n))
    }

  /** PERSONALIZED PageRank (Haveliwala, WWW 2002): [[pageRank]]'s
    * recurrence with the teleport mass concentrated on a seed set S
    * instead of spread uniformly —
    *
    *   r'(v) = (1 − d)·p(v) + d · Σ_{(u,v) ∈ E} r(u)/outdeg(u),
    *   p(v) = 1/|S| for v ∈ S, else 0;  r₀ = p
    *
    * the relevance-to-S score that turns a co-interaction graph into a
    * recommender ("parts bought with THESE parts") or a crawl
    * frontier prioritizer ("pages near these trusted domains").
    * Same rounding contract, same per-round single
    * equi-join + map-side-partial sum shape, same pin/release loop as
    * [[pageRank]] — only the base term differs. Seeds are a literal,
    * query-side set (bounded by construction; a frame-sized
    * personalization vector would join instead of `isin`).
    *
    * Returns `(node, rank)`, node-cardinality; nodes unreachable from
    * S hold rank 0 — sorting by rank IS the recommendation order.
    */
  def personalizedPageRank(edges: DataFrame, srcCol: String, dstCol: String,
      seeds: Seq[Long], iterations: Int = 5, damping: Double = 0.85,
      roundTo: Int = 6): DataFrame = {
    require(seeds.nonEmpty, "personalizedPageRank needs at least one seed node")
    val p = when(col("node").isin(seeds: _*), lit(1.0 / seeds.size)).otherwise(lit(0.0))
    rankRounds(edges, srcCol, dstCol, iterations, damping, roundTo)(
      _ => (p, lit(1.0 - damping) * p))
  }

  /** The round loop [[pageRank]] and [[personalizedPageRank]] share:
    * `init(nodes)` gives the initial rank and the teleport term, both
    * over `col("node")`, and each round computes
    * `teleport + d · Σ r(u)/outdeg(u)`, rounded to `roundTo` dp.
    */
  private def rankRounds(edges: DataFrame, srcCol: String, dstCol: String,
      iterations: Int, damping: Double, roundTo: Int)(
      init: DataFrame => (Column, Column)): DataFrame = {
    require(iterations >= 1, s"iterations must be >= 1 (got $iterations)")
    require(damping > 0.0 && damping < 1.0, s"damping must be in (0, 1) (got $damping)")

    def rnd(c: Column) = if (roundTo >= 0) round(c, roundTo) else c

    val e = edges
      .select(col(srcCol).cast("long").as("src"), col(dstCol).cast("long").as("dst"))
      .filter(col("src").isNotNull && col("dst").isNotNull && col("src") =!= col("dst"))
      .repartition(pinWidth(edges), col("src")) // absorbed by the distinct's aggregate
      .distinct()
      .persist(StorageLevel.MEMORY_AND_DISK)
    try {
      val deg = e.groupBy("src").agg(count(lit(1)).as("deg"))
      // broadcast deg join preserves e's src clustering — withDeg stays
      // keyed for the per-round join without a second exchange
      val withDeg = e.join(deg, "src")
        .select(col("src"), col("dst"), col("deg"))
        .persist(StorageLevel.MEMORY_AND_DISK)
      val nodes = e.select(col("src").as("node"))
        .unionByName(e.select(col("dst").as("node")))
        .distinct()
        .persist(StorageLevel.MEMORY_AND_DISK)
      try {
        val (initial, teleport) = init(nodes)
        // the FINAL rank frame outlives this call — it is released
        // with the caller's Caches.scoped block like every
        // operator-internal pin; superseded rounds are released
        // manually as soon as their successor materializes
        var ranks = graft.Caches.trackedPersist(
          nodes.select(col("node"), rnd(initial).as("rank")),
          StorageLevel.MEMORY_AND_DISK)
        var prev: Option[DataFrame] = None
        var i = 0
        while (i < iterations) {
          val contribs = withDeg
            .join(ranks.withColumnRenamed("node", "src"), "src")
            .groupBy(col("dst").as("node"))
            .agg(sum(col("rank") / col("deg")).as("_s"))
          val next = graft.Caches.trackedPersist(
            nodes
              .join(contribs, Seq("node"), "left")
              .select(col("node"),
                rnd(teleport + lit(damping) * coalesce(col("_s"), lit(0.0))).as("rank")),
            StorageLevel.MEMORY_AND_DISK)
          next.count() // materialize before releasing the round it read
          prev.foreach(_.unpersist(blocking = false))
          prev = Some(ranks)
          ranks = next
          i += 1
        }
        prev.foreach(_.unpersist(blocking = false))
        ranks.orderBy("node")
      } finally {
        withDeg.unpersist(blocking = false)
        nodes.unpersist(blocking = false)
      }
    } finally e.unpersist(blocking = false)
  }

  /** Synchronous label propagation (Raghavan et al. 2007) over the
    * UNDIRECTED closure of `edges`: every node starts as its own
    * label; each round every node adopts the most frequent label among
    * its neighbors, ties broken by the SMALLEST label — which makes
    * fixed-round synchronous LPA fully deterministic and (being
    * all-integer) exactly replayable cross-engine, no rounding
    * contract needed. Communities are finer than
    * [[graft.functions.DedupFunctions.connectedComponents]]'s
    * components — the dense-blob structure inside one component.
    *
    * Returns `(node, community)` after `iterations` rounds.
    *
    * Scale shape: per round ONE equi-join of the symmetrized edge
    * frame (derived once, pinned) against the node-sized label frame,
    * then ONE `mode(community, deterministic = true)` aggregate keyed
    * by node (partial-aggregating map-side; the per-group state is
    * bounded by the node's distinct neighbor labels) — one exchange
    * per round, never a window. Round frames pin/release like
    * [[pageRank]]'s.
    */
  def labelPropagation(edges: DataFrame, srcCol: String, dstCol: String,
      iterations: Int = 4): DataFrame = {
    require(iterations >= 1, s"iterations must be >= 1 (got $iterations)")
    val d = edges
      .select(col(srcCol).cast("long").as("src"), col(dstCol).cast("long").as("dst"))
      .filter(col("src").isNotNull && col("dst").isNotNull && col("src") =!= col("dst"))
    val sym = d.unionByName(d.select(col("dst").as("src"), col("src").as("dst")))
      .repartition(pinWidth(edges), col("src")) // absorbed by the distinct's aggregate
      .distinct()
      .persist(StorageLevel.MEMORY_AND_DISK)
    try {
      // every node appears as a dst in the symmetrized frame, so the
      // per-round inner join covers the full node set
      var labels = graft.Caches.trackedPersist(
        sym.select(col("dst").as("node")).distinct()
          .select(col("node"), col("node").as("community")),
        StorageLevel.MEMORY_AND_DISK)
      var prev: Option[DataFrame] = None
      var i = 0
      while (i < iterations) {
        // ONE exchange per round (r16; guide §2.4): `mode(community,
        // deterministic=true)` IS the neighbor-mode argmax with the
        // smallest-label tie-break — "when multiple values have the
        // same greatest frequency the lowest value is returned" — so
        // the former groupBy(dst, community).count + groupBy(node)
        // argmax pair (TWO hash exchanges per round, the second over
        // keys the first's partitioning cannot serve) collapses into
        // one ObjectHashAggregate whose per-group map is bounded by
        // the node's distinct neighbor labels. All-integer and
        // deterministic, so the unrolled DuckDB oracle still replays
        // the rounds exactly.
        val next = graft.Caches.trackedPersist(
          sym.join(labels.withColumnRenamed("node", "src"), "src")
            .groupBy(col("dst").as("node"))
            .agg(mode(col("community"), deterministic = true).as("community")),
          StorageLevel.MEMORY_AND_DISK)
        next.count()
        prev.foreach(_.unpersist(blocking = false))
        prev = Some(labels)
        labels = next
        i += 1
      }
      prev.foreach(_.unpersist(blocking = false))
      labels.orderBy("node")
    } finally sym.unpersist(blocking = false)
  }

  /** Per-node triangle counts and local clustering coefficient over the
    * UNDIRECTED closure of `edges` (Schank & Wagner 2005 forward /
    * degree-ordered enumeration). Triangle density is the standard
    * cohesion signal on co-interaction graphs — spam link farms are
    * triangle-dense, crawl frontiers triangle-sparse — and the local
    * coefficient 2·T(v) / (deg(v)·(deg(v)−1)) (rounded to 6 dp, the
    * cross-engine contract; the ratio itself is exact-integer until the
    * one division) feeds sampling weights next to [[pageRank]].
    *
    * Returns `(node, deg, triangles, clustering)`, node-cardinality,
    * ordered by node.
    *
    * Scale shape: edges canonicalize (u<v) through one distinct; every
    * edge is then ORIENTED toward its higher-(deg, id) endpoint, which
    * caps oriented out-degree at O(√m) — so the wedge self-join
    * (out-neighbor pairs per center) is O(m^1.5) worst-case instead of
    * the Σ deg² hub blow-up of naive enumeration, and each triangle is
    * produced exactly once (its lowest-rank vertex is the only node
    * with out-degree 2 in the oriented triangle). One wedge⋈edge
    * equi-join closes the count; per-node attribution is one explode +
    * hash agg. No windows, no driver collect.
    */
  def triangleCounts(edges: DataFrame, srcCol: String, dstCol: String): DataFrame = {
    val e = undirected(edges, srcCol, dstCol).persist(StorageLevel.MEMORY_AND_DISK)
    try {
      val deg = e.select(col("u").as("node")).unionByName(e.select(col("v").as("node")))
        .groupBy("node").agg(count(lit(1)).as("deg"))
        .persist(StorageLevel.MEMORY_AND_DISK)
      try {
        // (deg, id) rank-orient each edge; carry the dst endpoint's rank
        // so the wedge join can order out-neighbor pairs without a
        // second degree lookup
        val uFirst = col("_du") < col("_dv") ||
          (col("_du") === col("_dv") && col("u") < col("v"))
        val oriented = e
          .join(deg.select(col("node").as("u"), col("deg").as("_du")), "u")
          .join(deg.select(col("node").as("v"), col("deg").as("_dv")), "v")
          .select(
            when(uFirst, col("u")).otherwise(col("v")).as("src"),
            when(uFirst, col("v")).otherwise(col("u")).as("dst"),
            when(uFirst, struct(col("_dv").as("d"), col("v").as("n")))
              .otherwise(struct(col("_du").as("d"), col("u").as("n"))).as("_rdst"))
          .repartition(pinWidth(e), col("src"))
          .persist(StorageLevel.MEMORY_AND_DISK)
        try {
          val o1 = oriented.select(col("src").as("c"), col("dst").as("x"), col("_rdst").as("_rx"))
          val o2 = oriented.select(col("src").as("c"), col("dst").as("y"), col("_rdst").as("_ry"))
          val wedges = o1.join(o2, Seq("c")).filter(col("_rx") < col("_ry"))
          val tris = wedges
            .join(oriented.select(col("src").as("x"), col("dst").as("y")), Seq("x", "y"))
            .select(col("c"), col("x"), col("y"))
          val perNode = tris
            .select(explode(array(col("c"), col("x"), col("y"))).as("node"))
            .groupBy("node").agg(count(lit(1)).as("triangles"))
          // pin + materialize the node-cardinality result while the
          // edge/wedge lineage is still live, then drop the internals;
          // the pin is released with the caller's Caches.scoped block
          val out = graft.Caches.trackedPersist(
            deg.join(perNode, Seq("node"), "left")
              .select(col("node"), col("deg"),
                coalesce(col("triangles"), lit(0L)).as("triangles"),
                when(col("deg") >= 2,
                  round(lit(2.0) * coalesce(col("triangles"), lit(0L)) /
                    (col("deg") * (col("deg") - lit(1.0))), 6))
                  .otherwise(lit(0.0)).as("clustering")),
            StorageLevel.MEMORY_AND_DISK)
          out.count()
          out.orderBy("node")
        } finally oriented.unpersist(blocking = false)
      } finally deg.unpersist(blocking = false)
    } finally e.unpersist(blocking = false)
  }

  /** Neighbor-set Jaccard similarity per UNDIRECTED edge (the classic
    * link-prediction / social-similarity feature, Liben-Nowell &
    * Kleinberg CIKM 2003): for each edge {u, v},
    *
    *   jaccard = |N(u) ∩ N(v)| / (deg(u) + deg(v) − |N(u) ∩ N(v)|)
    *
    * where the common-neighbor count is exactly the edge's triangle
    * count. High values mark redundant/clustered ties (and, on a
    * co-purchase graph, substitutable items); the denominator is the
    * standard N(u)∪N(v) (u and v themselves are each other's
    * neighbors, so the score of a triangle-free edge is 0, not
    * undefined). All-integer until one closing division → 6 dp.
    *
    * Returns (u, v, cn, deg_u, deg_v, jaccard), u < v, ordered.
    *
    * Scale shape: common neighbors enumerate through the SYMMETRIZED
    * adjacency joined pairwise on the shared endpoint and semi-joined
    * back to the edge list — per-edge wedge work like
    * [[triangleCounts]], all equi-joins and hash aggs, no windows.
    */
  def neighborJaccard(edges: DataFrame, srcCol: String, dstCol: String): DataFrame = {
    val e = undirected(edges, srcCol, dstCol).persist(StorageLevel.MEMORY_AND_DISK)
    try {
      val sym = e.select(col("u").as("a"), col("v").as("b"))
        .unionByName(e.select(col("v").as("a"), col("u").as("b")))
        .repartition(pinWidth(e), col("b"))
        .persist(StorageLevel.MEMORY_AND_DISK)
      try {
        val deg = sym.groupBy(col("a").as("node")).agg(count(lit(1)).as("deg"))
        // common neighbors of (u,v): w adjacent to both — wedge join on
        // w, keyed back to the edge (u,v) by a semi join against e
        val n1 = sym.select(col("b").as("w"), col("a").as("u"))
        val n2 = sym.select(col("b").as("w"), col("a").as("v"))
        val common = n1.join(n2, Seq("w"))
          .filter(col("u") < col("v"))
          .join(e, Seq("u", "v"), "left_semi")
          .groupBy(col("u"), col("v"))
          .agg(count(lit(1)).as("cn"))
        // pin + materialize the edge-cardinality result while the wedge
        // lineage is still cached, then drop the internals (the
        // triangleCounts convention)
        val out = graft.Caches.trackedPersist(
          e.join(common, Seq("u", "v"), "left")
            .na.fill(0L, Seq("cn"))
            .join(deg.select(col("node").as("u"), col("deg").as("deg_u")), "u")
            .join(deg.select(col("node").as("v"), col("deg").as("deg_v")), "v")
            .select(col("u"), col("v"), col("cn"), col("deg_u"), col("deg_v"),
              round(col("cn").cast("double") /
                (col("deg_u") + col("deg_v") - col("cn")).cast("double"), 6)
                .as("jaccard")),
          StorageLevel.MEMORY_AND_DISK)
        out.count()
        out.orderBy("u", "v")
      } finally sym.unpersist(blocking = false)
    } finally e.unpersist(blocking = false)
  }

  /** Common-neighbor link prediction (Liben-Nowell & Kleinberg, CIKM
    * 2003) — [[neighborJaccard]]'s complement: score NON-adjacent node
    * pairs by shared neighbors and surface the top `k` predicted links.
    * On a co-purchase graph these are the "frequently bought with the
    * same things, never together yet" substitution/recommendation
    * candidates; on a near-dup document graph, cluster-merge
    * candidates the pairwise threshold just missed.
    *
    * Contract: candidate pairs are exactly the wedge-connected
    * (cn ≥ 1) non-adjacent pairs; ranked by (cn DESC, jaccard's exact
    * 6dp value implied by cn — jaccard = cn/(deg_u + deg_v − cn) is
    * reported, rank order is (cn DESC, u, v) for full determinism);
    * top `k` via TakeOrdered, never a global sort.
    *
    * Scale shape: one wedge self-join of the symmetrized adjacency on
    * the shared endpoint (the [[triangleCounts]]/[[neighborJaccard]]
    * wedge bound — O(Σ deg²), the documented candidate-join envelope;
    * hot hubs salt via [[SkewOps]] when Σdeg² concentrates), one
    * left-anti equi-join against the edge list, two broadcast-able
    * degree joins, one TakeOrdered(k). No windows, no driver collect
    * beyond the k-row result.
    */
  def linkPrediction(edges: DataFrame, srcCol: String, dstCol: String,
      k: Int): DataFrame = {
    require(k >= 1, s"k must be >= 1 (got $k)")
    val e = undirected(edges, srcCol, dstCol).persist(StorageLevel.MEMORY_AND_DISK)
    try {
      val sym = e.select(col("u").as("a"), col("v").as("b"))
        .unionByName(e.select(col("v").as("a"), col("u").as("b")))
        .repartition(pinWidth(e), col("b"))
        .persist(StorageLevel.MEMORY_AND_DISK)
      try {
        val deg = sym.groupBy(col("a").as("node")).agg(count(lit(1)).as("deg"))
        val n1 = sym.select(col("b").as("w"), col("a").as("u"))
        val n2 = sym.select(col("b").as("w"), col("a").as("v"))
        val cand = n1.join(n2, Seq("w"))
          .filter(col("u") < col("v"))
          .join(e, Seq("u", "v"), "left_anti") // NON-adjacent pairs only
          .groupBy(col("u"), col("v"))
          .agg(count(lit(1)).as("cn"))
        // pin + materialize the k-row result while the wedge lineage is
        // still cached, then drop the internals (the neighborJaccard
        // convention); the pin is released with the caller's scope
        val out = graft.Caches.trackedPersist(
          cand
            .join(deg.select(col("node").as("u"), col("deg").as("deg_u")), "u")
            .join(deg.select(col("node").as("v"), col("deg").as("deg_v")), "v")
            .select(col("u"), col("v"), col("cn"), col("deg_u"), col("deg_v"),
              round(col("cn").cast("double") /
                (col("deg_u") + col("deg_v") - col("cn")).cast("double"), 6)
                .as("jaccard"))
            .orderBy(col("cn").desc, col("u"), col("v"))
            .limit(k),
          StorageLevel.MEMORY_AND_DISK)
        out.count()
        out
      } finally sym.unpersist(blocking = false)
    } finally e.unpersist(blocking = false)
  }

  /** k-core peel (Seidman 1983; Batagelj–Zaveršnik's iterative-removal
    * form): repeatedly delete nodes of degree < k from the UNDIRECTED
    * closure of `edges` until only the k-core remains — the standard
    * density filter for community cores, spam-farm isolation, and
    * "well-connected enough to trust" sampling weights next to
    * [[pageRank]]/[[triangleCounts]].
    *
    * Synchronous contract: exactly `rounds` peel rounds, each removing
    * EVERY node whose degree in the current edge set is < k, then
    * restricting edges to survivors. A fixed round count makes the
    * result exactly replayable by an unrolled oracle; peeling is
    * monotone, so once a round removes nothing the state is the true
    * k-core and further rounds are no-ops — size `rounds` to the
    * graph's peel depth (callers can verify convergence by comparing
    * `rounds` and `rounds + 1`). Returns `(node, deg)` for every node
    * of the surviving edge set with its degree there, ordered by node;
    * isolated-by-peeling nodes are gone.
    *
    * Scale shape: per round one degree hash-agg + two semi-joins
    * restricting the edge set — all equi-joins on node ids, no
    * windows, no collect. Each round's edge set references the
    * previous one THREE times (degree count + both endpoint
    * restrictions), so rounds are eagerly local-checkpointed to keep
    * the logical plan linear (the [[hits]] lesson); frames shrink
    * monotonically.
    */
  def kCore(edges: DataFrame, srcCol: String, dstCol: String,
      k: Int, rounds: Int = 6): DataFrame = {
    require(k >= 1, s"k must be >= 1 (got $k)")
    require(rounds >= 1, s"rounds must be >= 1 (got $rounds)")
    var e = undirected(edges, srcCol, dstCol).localCheckpoint(true)
    var i = 0
    while (i < rounds) {
      val deg = e.select(col("u").as("node"))
        .unionByName(e.select(col("v").as("node")))
        .groupBy("node").agg(count(lit(1)).as("deg"))
      val keep = deg.filter(col("deg") >= k).select("node")
        .localCheckpoint(true)
      e = e.join(keep.withColumnRenamed("node", "u"), Seq("u"), "left_semi")
        .join(keep.withColumnRenamed("node", "v"), Seq("v"), "left_semi")
        .localCheckpoint(true)
      i += 1
    }
    e.select(col("u").as("node"))
      .unionByName(e.select(col("v").as("node")))
      .groupBy("node").agg(count(lit(1)).as("deg"))
      .orderBy("node")
  }

  /** HITS hubs & authorities (Kleinberg JACM 1999) over a DIRECTED
    * edge set — the rank pair PageRank can't express: a node is a good
    * HUB if it points at good authorities and a good AUTHORITY if good
    * hubs point at it (catalog curators vs canonical pages; bulk buyers
    * vs staple parts on a purchase graph). `iterations` synchronous
    * rounds of the standard mutual recursion, authorities updated from
    * the PREVIOUS hubs and hubs from the NEW authorities, each side
    * L2-normalized per round.
    *
    * Determinism contract (the [[pageRank]] replay form): raw
    * contribution sums round to `roundTo` dp, then the normalized
    * scores round again — every round's state is a well-defined 6dp
    * frame an oracle unrolls exactly. IEEE sqrt is correctly rounded,
    * so the norm is engine-independent given identical inputs.
    *
    * Scale shape: per round TWO edges⋈scores equi-joins, each feeding
    * one map-side-partial hash aggregation, plus a scalar norm frame
    * that rides a broadcast cross join (never a driver collect). Edges
    * dedup once up front; no windows, no all-pairs work. Returns
    * `(node, hub, authority)` for every node, ordered by node; a node
    * with no out-edges has hub 0, no in-edges authority 0.
    */
  def hits(edges: DataFrame, srcCol: String, dstCol: String,
      iterations: Int = 4, roundTo: Int = 6): DataFrame = {
    require(iterations >= 1, s"iterations must be >= 1 (got $iterations)")

    def rnd(c: org.apache.spark.sql.Column) =
      if (roundTo >= 0) round(c, roundTo) else c

    val e = edges
      .select(col(srcCol).cast("long").as("src"), col(dstCol).cast("long").as("dst"))
      .filter(col("src").isNotNull && col("dst").isNotNull && col("src") =!= col("dst"))
      .distinct()
      .persist(StorageLevel.MEMORY_AND_DISK)
    try {
      val nodes = e.select(col("src").as("node"))
        .unionByName(e.select(col("dst").as("node")))
        .distinct()
        .persist(StorageLevel.MEMORY_AND_DISK)
      try {
        // normalize a rounded raw-score frame: scalar L2 norm via a
        // broadcast cross join, re-round, absent nodes -> 0.0
        def normalized(raw: DataFrame, scoreCol: String): DataFrame = {
          val nrm = raw.agg(sqrt(sum(col("_raw") * col("_raw"))).as("_nrm"))
          nodes.join(raw, Seq("node"), "left")
            .crossJoin(broadcast(nrm))
            .select(col("node"),
              rnd(coalesce(col("_raw"), lit(0.0)) / col("_nrm")).as(scoreCol))
        }
        // Unlike pageRank (each round references the previous ONCE,
        // linear plan growth), `normalized` references its raw frame
        // TWICE (norm aggregate + join), so the ANALYZED logical plan
        // would nest 4^rounds — cache substitution only shallows the
        // physical plan, and plan-string rendering alone OOMs by round
        // 3. Eager local checkpoints truncate the logical plan to a
        // LogicalRDD each step (the standard iterative-graph move);
        // the checkpointed frames are node-cardinality, executor-held,
        // freed by the ContextCleaner when the call's refs drop. On a
        // cluster where executor loss matters mid-call, swap for
        // reliable `checkpoint()` against the checkpoint dir.
        var hubs = nodes.select(col("node"), lit(1.0).as("hub"))
          .localCheckpoint(true)
        var auths: DataFrame = null
        var i = 0
        while (i < iterations) {
          val aRaw = e.join(hubs.withColumnRenamed("node", "src"), "src")
            .groupBy(col("dst").as("node"))
            .agg(rnd(sum(col("hub"))).as("_raw"))
            .localCheckpoint(true)
          auths = normalized(aRaw, "authority").localCheckpoint(true)
          val hRaw = e.join(auths.withColumnRenamed("node", "dst"), "dst")
            .groupBy(col("src").as("node"))
            .agg(rnd(sum(col("authority"))).as("_raw"))
            .localCheckpoint(true)
          hubs = normalized(hRaw, "hub").localCheckpoint(true)
          i += 1
        }
        hubs.join(auths, "node").select("node", "hub", "authority")
          .orderBy("node")
      } finally nodes.unpersist(blocking = false)
    } finally e.unpersist(blocking = false)
  }

  /** Degree assortativity (Newman, PRL 2002): the Pearson correlation
    * of endpoint degrees over the edge set — positive when hubs link
    * hubs (social-graph shape), negative when hubs link leaves
    * (hub-and-spoke; most co-occurrence graphs). One scalar that says
    * which skew defense a downstream join over this graph needs.
    *
    * Undirected contract: edges canonicalize (u<v, distinct, loops
    * dropped) and every edge contributes BOTH orientations to the
    * correlation (the standard stub-pairing form — Σx = Σy by
    * symmetry, kept as separate terms so the formula reads as written
    * in the paper). All five co-moment sums are exact integers; they
    * cast to double only for the one closing formula (sums < 2^53 —
    * the products would overflow int64, the double formula is
    * engine-identical IEEE), rounded 6dp.
    *
    * Returns ONE row: (n_nodes, n_edges, assortativity).
    *
    * Scale shape: one distinct over canonical edges, one degree
    * hash-agg, two broadcast-able equi-joins of the edge list against
    * the node-degree frame, one fused scalar aggregation. No windows,
    * no collect; nothing bigger than the edge list moves, and the
    * degree frame is node-sized.
    */
  def degreeAssortativity(edges: DataFrame, srcCol: String,
      dstCol: String): DataFrame = {
    val e = undirected(edges, srcCol, dstCol)
    val dir = e.unionByName(e.select(col("v").as("u"), col("u").as("v")))
    val deg = dir.groupBy(col("u").as("node"))
      .agg(count(lit(1)).as("deg"))
    val x = dir
      .join(deg.select(col("node").as("u"), col("deg").as("_dx")), Seq("u"))
      .join(deg.select(col("node").as("v"), col("deg").as("_dy")), Seq("v"))
    val nNodes = deg.agg(count(lit(1)).as("n_nodes"))
    x.agg(count(lit(1)).as("_m2"),
        sum(col("_dx")).as("_sx"), sum(col("_dy")).as("_sy"),
        sum(col("_dx") * col("_dy")).as("_sxy"),
        sum(col("_dx") * col("_dx")).as("_sxx"),
        sum(col("_dy") * col("_dy")).as("_syy"))
      .crossJoin(broadcast(nNodes))
      .withColumn("_dxx", col("_m2").cast("double") * col("_sxx").cast("double") -
        col("_sx").cast("double") * col("_sx").cast("double"))
      .withColumn("_dyy", col("_m2").cast("double") * col("_syy").cast("double") -
        col("_sy").cast("double") * col("_sy").cast("double"))
      .select(col("n_nodes"), (col("_m2") / 2).cast("long").as("n_edges"),
        // constant-degree graphs have zero variance: r is undefined →
        // null (an unguarded ÷0 raises under ANSI)
        when(col("_dxx") > 0 && col("_dyy") > 0,
          round((col("_m2").cast("double") * col("_sxy").cast("double") -
            col("_sx").cast("double") * col("_sy").cast("double")) /
            sqrt(col("_dxx") * col("_dyy")), 6)).as("assortativity"))
  }

  /** Sampled harmonic centrality (Eppstein & Wang, SODA 2001 / Boldi &
    * Vigna 2014's harmonic variant): run a SOURCE-LABELED BFS from k
    * sampled seeds and estimate every node's centrality as the mean
    * inverse distance to the sample —
    *
    *   ĥ(v) = (1/k) · Σ_{s ∈ sample} 1/d(s, v)        (d ≥ 1)
    *
    * Harmonic (not closeness) because 1/∞ = 0 handles disconnected
    * pairs without special cases; `rounds` truncates the BFS, which
    * UNDER-counts only contributions ≤ 1/(rounds+1) per source — the
    * documented horizon of the estimate. Exact all-integer transport:
    * 1/d for d ∈ {1..3} is irrational-free in SIXTHS (6/d ∈ {6,3,2}),
    * so per-node sums aggregate as longs and divide by 6k ONCE at the
    * end — no float accumulation anywhere (generalizes: for a larger
    * `rounds`, use lcm(1..rounds) units).
    *
    * Scale shape: the labeled frontier is (seed, node) pairs — state is
    * k·|reached| rows, linear in the SAMPLE size, which is exactly the
    * Eppstein–Wang knob (k = O(log n/ε²) sources bounds the estimate
    * error); per round one equi-join on the pinned directed edge list +
    * a distinct + an anti-join, all hash-partitioned. No per-source
    * sequential BFS, no n² distance matrix.
    */
  def harmonicCentralitySampled(edges: DataFrame, srcCol: String,
      dstCol: String, seeds: DataFrame, seedCol: String,
      rounds: Int = 3): DataFrame = {
    require(rounds >= 1 && rounds <= 3,
      s"rounds must be in 1..3 (sixths transport; got $rounds)")
    val e = undirected(edges, srcCol, dstCol).persist(StorageLevel.MEMORY_AND_DISK)
    try {
      val dir = e.unionByName(e.select(col("v").as("u"), col("u").as("v")))
        .repartition(pinWidth(e), col("u"))
        .persist(StorageLevel.MEMORY_AND_DISK)
      try {
        val seedSet = seeds
          .select(col(seedCol).cast("long").as("s"))
          .filter(col("s").isNotNull).distinct()
        var known = seedSet
          .select(col("s"), col("s").as("node"), lit(0).as("dist"))
          .localCheckpoint(true)
        var frontier = known
        var i = 1
        while (i <= rounds) {
          val reached = dir
            .join(frontier.select(col("s"), col("node").as("u")), Seq("u"))
            .select(col("s"), col("v").as("node")).distinct()
            .join(known.select(col("s"), col("node")), Seq("s", "node"), "left_anti")
            .select(col("s"), col("node"), lit(i).as("dist"))
            .localCheckpoint(true)
          known = known.unionByName(reached).localCheckpoint(true)
          frontier = reached
          i += 1
        }
        val k = seedSet.agg(count(lit(1)).cast("double").as("_k"))
        known.filter(col("dist") >= 1)
          .groupBy("node")
          .agg(count(lit(1)).as("n_sources"),
            sum((lit(6) / col("dist")).cast("long")).as("_sixths"))
          .crossJoin(broadcast(k))
          .select(col("node"), col("n_sources"),
            round(col("_sixths").cast("double") / 6.0 / col("_k"), 6)
              .as("harmonic"))
          .orderBy("node")
      } finally dir.unpersist(blocking = false)
    } finally e.unpersist(blocking = false)
  }

  /** Multi-source BFS hop distances: the minimum number of edges from
    * any seed to each reachable node, out to `rounds` hops — the
    * "crawl frontier depth" / "distance from trusted set" signal
    * (TrustRank-style propagation without the rank arithmetic).
    *
    * Undirected, synchronous contract: exactly `rounds` frontier
    * expansions over the canonicalized edge set (both orientations);
    * a node's distance is fixed the first round it is reached, so the
    * result after round r is exact for every node within r hops and
    * absent beyond — replayable by an unrolled oracle, all-integer.
    * Seeds not present in the edge set still report distance 0 (the
    * caller's set is the contract; isolation is information).
    *
    * Returns `(node, dist)`, ordered by node.
    *
    * Scale shape: per round ONE equi-join of the edge list against the
    * (shrinking) frontier plus one min-agg and one anti-join against
    * the known set — Pregel-shaped like [[pageRank]]'s rounds, no
    * windows, no collect. Rounds are eagerly local-checkpointed (the
    * [[hits]] lesson: the known set feeds three consumers per round).
    */
  def bfsHops(edges: DataFrame, srcCol: String, dstCol: String,
      seeds: DataFrame, seedCol: String, rounds: Int = 3): DataFrame = {
    require(rounds >= 1, s"rounds must be >= 1 (got $rounds)")
    val e = undirected(edges, srcCol, dstCol).persist(StorageLevel.MEMORY_AND_DISK)
    try {
      val dir = e.unionByName(e.select(col("v").as("u"), col("u").as("v")))
        .repartition(pinWidth(e), col("u"))
        .persist(StorageLevel.MEMORY_AND_DISK)
      try {
      var known = seeds
        .select(col(seedCol).cast("long").as("node"))
        .filter(col("node").isNotNull)
        .distinct()
        .select(col("node"), lit(0).as("dist"))
        .localCheckpoint(true)
      var frontier = known
      var i = 1
      while (i <= rounds) {
        val reached = dir
          .join(frontier.select(col("node").as("u")), Seq("u"))
          .select(col("v").as("node")).distinct()
          .join(known, Seq("node"), "left_anti")
          .select(col("node"), lit(i).as("dist"))
          .localCheckpoint(true)
        known = known.unionByName(reached).localCheckpoint(true)
        frontier = reached
        i += 1
      }
      known.orderBy("node")
      } finally dir.unpersist(blocking = false)
    } finally e.unpersist(blocking = false)
  }
}
