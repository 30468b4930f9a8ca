package graft.queries

import org.apache.spark.sql.catalyst.plans.logical.{Window => LWindow}
import org.scalatest.funsuite.AnyFunSuite

import graft.TestSpark

/** Registry-wide guard against data-sized single-partition windows
  * (the r11 verdict's item 4): a `Window.orderBy` with no partition
  * spec plans a WindowExec that moves its ENTIRE input through one
  * task. Correct at sf0.1, dead at 100×. The exact-order-statistic
  * family was found by manual audit in r11 and rewritten in r12
  * (RankOps.withGlobalRank / level histograms); this spec keeps the
  * class closed: every registry query's optimized logical plan is
  * swept (subqueries included), and an unpartitioned Window is only
  * legal when the query is in the allow-list below with a documented
  * bound on the frame's cardinality.
  *
  * Allow-list discipline: an entry must name WHY the unpartitioned
  * frame stays small at any data scale — a calendar, a histogram of
  * LEVELS, a post-limit top-k, a census of enum values. "It's an
  * aggregate of the data" does NOT qualify (entity-cardinality frames
  * grow with the data; that's what the r12 rewrites removed).
  */
class PlanGuardSpec extends AnyFunSuite with graft.CachesScoped {
  private val spark = TestSpark.spark
  private val sf = "/root/testdata/sf0.001"

  /** query name -> why its unpartitioned window frame is bounded. */
  private val allow: Map[String, String] = Map(
    "r4_hybrid_rrf" -> "post-limit(20) candidate-list ranks (rrfFuse convention)",
    "t20_zipf" -> "rank window over the top-100 post-limit token list",
    "eval5_isotonic" -> "windows over the 10 calibration bins",
    "eval2_auc" -> "cumulative over distinct 6dp score LEVELS (<= 1e6+1 at any corpus size)",
    "eval6_pr_auc" -> "cumulative over distinct 6dp score LEVELS (<= 1e6+1 at any corpus size)",
    "cls3_gate_sweep" -> "cumulative over distinct 6dp score LEVELS (<= 1e6+1 at any corpus size)",
    "eval8_lift" -> "cumulative gains over the 10-row decile census (deciles via distributed rank)",
    "e21_user_concentration" -> "count-of-counts histogram: windows over distinct activity LEVELS",
    "e25_hill_tail" -> "cumulative over distinct activity LEVELS (bounded by max events/user)",
    "g11_degree_tail" -> "cumulative over distinct degree LEVELS (bounded by max degree)",
    "w37_rolling_beta" -> "market index series: one row per calendar date",
    "w44_capture_ratios" -> "market index series: one row per calendar date",
    "w54_information_ratio" -> "market index series: one row per calendar date",
    "w45_pairs_spread" -> "20-day rolling frame over ONE pair's calendar dates",
    "a42_revenue_bridge" -> "month-over-month lag: one row per calendar month",
    "a48_seasonal_index" -> "12 calendar months",
    "d30_jaccard_yield" -> "10 similarity buckets",
    "d35_dup_locality" -> "2-row within/cross-source census",
    "url3_param_census" -> "distinct query-parameter KEYS (a name vocabulary, not rows)",
    "a50_order_size_hist" -> "order-size histogram LEVELS (bounded by max lines per order)",
    "d39_shingle_df_audit" -> "cumulative over distinct shingle-df LEVELS (count-of-counts histogram)",
    "a51_discount_mix" -> "11 discount bands")

  test("no unpartitioned Window over a data-sized frame (allow-list enforced)") {
    val offenders = Seq.newBuilder[String]
    val errors = Seq.newBuilder[String]
    for (q <- Queries.registry) {
      try {
        // one scope per query: its pins are released before the next
        // query's plan is resolved
        val plan = graft.Caches.scoped(q.run(spark, sf).queryExecution.optimizedPlan)
        val globalWindows = plan.collectWithSubqueries {
          case w: LWindow if w.partitionSpec.isEmpty => w
        }
        if (globalWindows.nonEmpty && !allow.contains(q.name))
          offenders += s"${q.name} (${globalWindows.size} unpartitioned Window node(s))"
      } catch {
        case e: Throwable => errors += s"${q.name}: ${e.getMessage}"
      } finally spark.catalog.clearCache()
    }
    val errs = errors.result()
    assert(errs.isEmpty, s"plan construction failed:\n${errs.mkString("\n")}")
    val off = offenders.result()
    assert(off.isEmpty,
      s"unpartitioned data-sized Window outside the allow-list:\n${off.mkString("\n")}")
    // the allow-list must not go stale: every entry still names a
    // registered query
    val names = Queries.registry.map(_.name).toSet
    val stale = allow.keySet.diff(names)
    assert(stale.isEmpty, s"allow-list entries for unknown queries: $stale")
  }
}
