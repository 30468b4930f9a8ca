package graft.functions

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.TestSpark

class UrlFunctionsSpec extends AnyFunSuite with graft.CachesScoped {
  val spark = TestSpark.spark
  import spark.implicits._

  private def norm(u: String): String =
    Seq(Tuple1(u)).toDF("u")
      .select(UrlFunctions.normalizeUrl(col("u"))).head().getString(0)

  test("normalizeUrl: each contract step, composed and alone") {
    // scheme+host lowercase, www/port/fragment/trailing-slash dropped,
    // tracking params out, real params and path case kept
    assert(norm("  HTTPS://WWW.Example.COM:443/Path/To/?utm_source=x&id=7&gclid=z#frag  ")
      === "https://example.com/Path/To?id=7")
    assert(norm("http://example.com:80/") === "http://example.com")
    assert(norm("https://example.com") === "https://example.com")
    // non-default port survives; http keeps :443 and vice versa
    assert(norm("https://example.com:8080/a") === "https://example.com:8080/a")
    assert(norm("http://example.com:443/a") === "http://example.com:443/a")
    // query-only URL; empty params collapse; all-tracking query drops '?'
    assert(norm("https://example.com?a=1&&b=2") === "https://example.com?a=1&b=2")
    assert(norm("https://example.com/x?utm_medium=a&fbclid=b") === "https://example.com/x")
    // no scheme: pass through with trim + fragment strip only
    assert(norm("example.com/path#frag") === "example.com/path")
    // null-strict
    assert(Seq(Tuple1(null.asInstanceOf[String])).toDF("u")
      .select(UrlFunctions.normalizeUrl(col("u"))).head().isNullAt(0))
  }

  test("urlHost + registrableDomain: PSL heuristic, non-URLs visible") {
    val rows = Seq(
      "https://news.BBC.co.uk/story", "http://www.example.com:80/a",
      "https://a.b.c.example.org/", "https://localhost/x", "plain text")
      .toDF("u")
      .select(col("u"), UrlFunctions.urlHost(col("u")).as("h"))
      .select(col("h"), UrlFunctions.registrableDomain(col("h")).as("d"))
      .as[(String, String)].collect().toMap
    assert(rows("news.bbc.co.uk") === "bbc.co.uk")
    assert(rows("example.com") === "example.com")
    assert(rows("a.b.c.example.org") === "example.org")
    assert(rows("localhost") === "localhost")
    assert(rows("") === "", "non-URL input stays visibly empty")
  }

  test("domainBlocklistFilter + capPerDomain: gate and cap by registrable domain") {
    val docs = Seq(
      (1L, "https://www.spam.co.uk/a"), (2L, "https://mirror.spam.co.uk/b"),
      (3L, "https://good.com/1"), (4L, "https://good.com/2"),
      (5L, "https://good.com/3"), (6L, "https://other.org/x"))
      .toDF("doc_id", "url")
    val kept = UrlFunctions.domainBlocklistFilter(docs, "url", Seq("SPAM.co.uk"))
      .select("doc_id").as[Long].collect().toSet
    assert(kept === Set(3L, 4L, 5L, 6L), "both spam subdomains gone, case-blind")
    val capped = UrlFunctions.capPerDomain(docs, "url", "doc_id", cap = 2)
      .select("doc_id").as[Long].collect().toSet
    assert(capped === Set(1L, 2L, 3L, 4L, 6L), "good.com capped to its 2 smallest ids")
    assert(capped.forall(_ != 5L))
    // the cap is a bounded-heap agg + broadcast cut join, not a window
    val plan = UrlFunctions.capPerDomain(docs, "url", "doc_id", 2)
      .queryExecution.executedPlan.toString
    assert(!plan.contains("Window"), plan)
  }
}
