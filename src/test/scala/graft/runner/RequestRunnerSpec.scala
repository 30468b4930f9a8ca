package graft.runner

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Paths}
import java.time.{Instant, LocalDate}
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.functions.col
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener

import org.scalatest.funsuite.AnyFunSuite
import graft.TestSpark
import graft.output.FixedClock

class RequestRunnerSpec extends AnyFunSuite {
  private val spark = TestSpark.spark
  import spark.implicits._

  private val clock = new FixedClock(Instant.parse("2025-08-18T21:00:58Z"))

  private def runner() = {
    val base = Files.createTempDirectory("graft_run").toString
    (new RequestRunner(spark, s"$base/wh", s"$base/out", clock), base)
  }

  private val primary = Seq(
    ("AAPL", "2024-01-01", 100.0, 1000L),
    ("AAPL", "2024-01-02", 101.0, 1100L),
    ("AAPL", "2024-01-03", 102.0, 1200L),
    ("MSFT", "2024-01-01", 380.0, 2000L),
    ("MSFT", "2024-01-02", 381.0, 2100L),
    ("MSFT", "2024-01-03", 385.0, 2200L)
  ).toDF("ticker", "d", "close", "volume")
    .selectExpr("ticker", "CAST(d AS DATE) AS date", "close", "volume")

  private val secondary = Seq(
    ("AAPL", "2024-01-01", 100.1), // within tolerance
    ("AAPL", "2024-01-02", 111.0)  // 9.9% off → discrepancy
  ).toDF("ticker", "d", "close")
    .selectExpr("ticker", "CAST(d AS DATE) AS date", "close")

  private val macroDf = Seq(
    ("FEDFUNDS", "2024-01-01", Some(5.33)),
    ("FEDFUNDS", "2024-02-01", Some(5.33)),
    ("GS10", "2024-01-01", None: Option[Double])
  ).toDF("series_id", "d", "value")
    .selectExpr("series_id", "CAST(d AS DATE) AS date", "value")

  // Equivalence fixture: two tickers over nine weeks with a duplicate key
  // (keep-last must win), a null volume, a non-positive close, one
  // extreme move, a missing business day, a cross-source discrepancy and
  // a macro frame with a null value and an uncatalogued series.
  private val goldenDays: IndexedSeq[LocalDate] =
    (0 until 63).map(LocalDate.of(2024, 1, 1).plusDays(_))
      .filter(_.getDayOfWeek.getValue <= 5)

  private val goldenPrimary = {
    val aapl = goldenDays.zipWithIndex.flatMap { case (d, i) =>
      val close = if (i == 20) 400.0 else 100.0 + 0.5 * (i % 7)
      val row = ("AAPL", d.toString, close, Option(1000L + i))
      if (i == 3) Seq(("AAPL", d.toString, 99.0, Option(5L)), row) else Seq(row)
    }
    val msft = goldenDays.zipWithIndex.collect { case (d, i) if i != 10 =>
      val close = if (i == goldenDays.size - 1) -2.5 else 300.0 + 0.25 * (i % 5)
      ("MSFT", d.toString, close, if (i == 15) None else Option(2000L + i))
    }
    (aapl ++ msft).toDF("ticker", "d", "close", "volume")
      .selectExpr("ticker", "CAST(d AS DATE) AS date", "close", "volume")
  }

  private val goldenSecondary = Seq(
    ("AAPL", 0, 100.2), ("AAPL", 1, 100.4), ("AAPL", 2, 101.0),
    ("AAPL", 3, 112.0), // 10% off the kept close: a discrepancy
    ("MSFT", 0, 300.1), ("MSFT", 1, 300.2), ("MSFT", 10, 300.0))
    .map { case (t, i, c) => (t, goldenDays(i).toString, c) }
    .toDF("ticker", "d", "close")
    .selectExpr("ticker", "CAST(d AS DATE) AS date", "close")

  private val goldenMacro = Seq(
    ("FEDFUNDS", "2024-01-01", Some(5.33)), ("FEDFUNDS", "2024-02-01", Some(5.33)),
    ("GS10", "2024-01-01", None: Option[Double]), ("GS10", "2024-01-02", Some(4.1)),
    ("CUSTOM1", "2024-01-01", Some(1.0)))
    .toDF("series_id", "d", "value")
    .selectExpr("series_id", "CAST(d AS DATE) AS date", "value")

  private val goldenRequest = Request(Seq("MSFT", "AAPL"), "2024-01-01", "2024-03-01",
    enableValidation = true, tolerancePct = 1.0, fetchMacro = true)

  /** Every output of one run as named text, with the temp dir masked. */
  private def snapshot(res: RunResult, base: String): Seq[(String, String)] = {
    def text(p: String) = new String(Files.readAllBytes(Paths.get(p)), UTF_8).replace(base, "<base>")
    def table(t: String) = {
      val df = spark.read.parquet(s"$base/wh/$t")
      val cols = df.columns.sorted
      (cols.mkString("|") +: df.select(cols.map(col): _*).collect()
        .map(_.toSeq.map(String.valueOf).mkString("|")).sorted).mkString("", "\n", "\n")
    }
    val outFiles = scala.util.Using.resource(Files.list(Paths.get(base, "out")))(
      _.iterator().asScala.map(_.getFileName.toString).toSeq.sorted)
    val anomalies = outFiles.find(_.startsWith("anomalies_")).get
    Seq(
      "run_result.txt" -> (res.toString.replace(base, "<base>") + "\n"),
      "out_files.txt" -> outFiles.mkString("", "\n", "\n"),
      "validation_report.json" -> text(res.reportPath),
      "execution_log.json" -> text(res.logPath),
      "prices.csv" -> text(res.csvPath.get),
      "anomalies.csv" -> text(s"$base/out/$anomalies")) ++
      Seq("market_data", "macro_data", "cross_validation", "request_log")
        .map(t => s"$t.txt" -> table(t))
  }

  private def runGolden(): (RunResult, String) = {
    val (r, base) = runner()
    (r.run(goldenRequest, goldenPrimary, Some(goldenSecondary), Some(goldenMacro)), base)
  }

  test("request id follows the reference contract") {
    val (r, _) = runner()
    val id = r.generateRequestId(Request(Seq("MSFT", "AAPL"), "2024-01-01", "2024-01-10"))
    assert(id === "20250818_210058_AAPL_MSFT_20240101_20240110")
  }

  test("request id md5-shortens long ticker lists") {
    val (r, _) = runner()
    val many = (1 to 30).map(i => f"TK$i%02d")
    val id = r.generateRequestId(Request(many, "2024-01-01", "2024-01-10"))
    assert(id.contains("_and_29_more_"))
    assert(id.length < 100)
  }

  test("full lifecycle: completed status, warehouse rows, three artifacts") {
    val (r, base) = runner()
    val res = r.run(
      Request(Seq("AAPL", "MSFT"), "2024-01-01", "2024-01-03",
        enableValidation = true, tolerancePct = 1.0),
      primary, Some(secondary), Some(macroDf))
    assert(res.status === "completed")
    assert(res.marketRecords === 6L)
    assert(res.macroRecords === 3L)
    assert(res.discrepancies === 1L)

    val market = spark.read.parquet(s"$base/wh/market_data")
    assert(market.count() === 6L)
    assert(market.columns.contains("ma20") && market.columns.contains("discrepancy_flag"))

    val log = spark.read.parquet(s"$base/wh/request_log")
      .select("request_id", "status", "total_records_fetched").collect()
    assert(log.length === 1 && log(0).getString(1) === "completed")

    val xval = spark.read.parquet(s"$base/wh/cross_validation")
    assert(xval.count() === 1L)
    assert(xval.select("validation_id").head().getString(0)
      === s"${res.requestId}_cross_AAPL_20240102")

    assert(Files.exists(Paths.get(res.csvPath.get)))
    assert(Files.exists(Paths.get(res.reportPath)))
    assert(Files.exists(Paths.get(res.logPath)))
    val csvName = Paths.get(res.csvPath.get).getFileName.toString
    assert(csvName === "prices_AAPL-MSFT_20240101-20240103_20250818_210058.csv")
  }

  test("report JSON carries reference keys and quality scores") {
    val (r, _) = runner()
    val res = r.run(Request(Seq("AAPL", "MSFT"), "2024-01-01", "2024-01-03"), primary)
    val json = Files.readString(Paths.get(res.reportPath))
    for (k <- Seq("report_metadata", "request_details", "ticker_validation",
        "basic_checks", "cross_validation", "not_performed", "macro_validation",
        "not_fetched", "quality_assessment", "basic_data_quality",
        "overall_score", "recommendations"))
      assert(json.contains(k), s"report missing $k")
    assert(json.contains("\"cross_validation_reliability\": \"N/A\""))
  }

  test("re-running the same request appends nothing (dedup-append idempotence)") {
    val (r, _) = runner()
    val req = Request(Seq("AAPL", "MSFT"), "2024-01-01", "2024-01-03")
    assert(r.run(req, primary).marketRecords === 6L)
    assert(r.run(req, primary).marketRecords === 0L)
  }

  test("failure path: status becomes failed with error_count=1 and rethrows") {
    val (r, base) = runner()
    val bad = Seq(("AAPL", "nope", 1.0, 1L)).toDF("ticker", "date", "close", "volume")
    intercept[Throwable] {
      r.run(Request(Seq("AAPL"), "2024-01-01", "2024-01-03"), bad)
    }
    val log = spark.read.parquet(s"$base/wh/request_log")
      .select("status", "error_count").head()
    assert(log.getString(0) === "failed")
    assert(log.getLong(1) === 1L)
  }

  test("warehouse tables are hive-partitioned on the entity key from the request path") {
    val (r, base) = runner()
    r.run(Request(Seq("AAPL", "MSFT"), "2024-01-01", "2024-01-03"), primary,
      macroData = Some(macroDf))
    val market = spark.read.parquet(s"$base/wh/market_data")
    // on-disk layout: ticker= partition dirs for market, series_id= for macro
    assert(market.inputFiles.forall(_.contains("/ticker=")), market.inputFiles.head)
    val macroT = spark.read.parquet(s"$base/wh/macro_data")
    assert(macroT.inputFiles.forall(_.contains("/series_id=")))
    // reference 5-column macro DDL: enrichment joined on name + category
    assert(macroT.columns.toSet.intersect(Set("series_name", "category"))
      === Set("series_name", "category"))
    assert(macroT.filter($"series_id" === "FEDFUNDS")
      .select("series_name", "category").distinct().as[(String, String)].head()
      === (("fed_funds_rate", "rates")))
    // and the layout is actually prunable: a one-ticker read carries a
    // PartitionFilters entry, so a follow-up append rescans one partition
    val plan = market.filter($"ticker" === "AAPL")
      .queryExecution.executedPlan.toString
    assert(plan.contains("PartitionFilters: [isnotnull(ticker"), plan)
    // idempotence still holds through the partitioned path
    assert(r.run(Request(Seq("AAPL", "MSFT"), "2024-01-01", "2024-01-03"),
      primary, macroData = Some(macroDf)).marketRecords === 0L)
  }

  test("flaky source: retry-with-backoff recovers and the tracker records attempts") {
    import graft.sources.{ErrorTracker, RetryPolicy, Source, SourceOps}
    val tracker = new ErrorTracker(clock)
    val delays = scala.collection.mutable.ArrayBuffer.empty[Long]
    val retry = new RetryPolicy(maxAttempts = 3, initialDelayMs = 100L,
      sleep = delays += _)
    var calls = 0
    val flaky: Source = new Source {
      def fetch(s: org.apache.spark.sql.SparkSession) = {
        calls += 1
        if (calls < 3) sys.error(s"transient failure $calls")
        primary
      }
    }
    val (df, errs) = SourceOps.fetchAllOrLog(
      Seq("yahoo" -> flaky), spark, retry, Some(tracker))
    assert(df.isDefined && df.get.count() === 6L)
    assert(errs.isEmpty, "recovered source must not surface an item error")
    assert(calls === 3)
    assert(delays.toSeq === Seq(100L, 200L), "exponential backoff schedule")
    assert(tracker.errorCount === 2)
    assert(tracker.byOperation === Map("yahoo" -> 2))
  }

  test("exhausted retries surface the item error and tracked failures reach error_count") {
    import graft.sources.{ErrorTracker, RetryPolicy, Source, SourceOps}
    val tracker = new ErrorTracker(clock)
    val retry = new RetryPolicy(maxAttempts = 2, initialDelayMs = 1L, sleep = _ => ())
    val dead: Source = new Source {
      def fetch(s: org.apache.spark.sql.SparkSession) = sys.error("feed down")
    }
    val (df, errs) = SourceOps.fetchAllOrLog(
      Seq("alpha" -> dead, "yahoo" -> new Source {
        def fetch(s: org.apache.spark.sql.SparkSession) = primary
      }), spark, retry, Some(tracker))
    assert(df.isDefined && errs === Seq("alpha: feed down"))
    assert(tracker.errorCount === 2) // both attempts recorded
    // a completed request writes the tracked count into request_log
    val base = Files.createTempDirectory("graft_run").toString
    val r = new RequestRunner(spark, s"$base/wh", s"$base/out", clock, Some(tracker))
    r.run(Request(Seq("AAPL", "MSFT"), "2024-01-01", "2024-01-03"), df.get)
    val log = spark.read.parquet(s"$base/wh/request_log")
      .select("status", "error_count").head()
    assert(log.getString(0) === "completed")
    assert(log.getLong(1) === 2L)
    // per-request attribution: a SECOND request through the same runner
    // with no new connector errors must log 0, not the tracker's
    // cumulative 2 (one tracker serves the whole pipeline)
    val rid2 = r.run(Request(Seq("AAPL"), "2024-01-01", "2024-01-03"), df.get).requestId
    val log2 = spark.read.parquet(s"$base/wh/request_log")
      .filter($"request_id" === rid2).select("error_count").head()
    assert(log2.getLong(0) === 0L)
  }

  test("writeValidationLog appends issue rows with generated ids (K-6)") {
    val (r, base) = runner()
    val rid = "20250818_210058_AAPL_20240101_20240110"
    r.writeValidationLog(rid, Seq(
      ("AAPL", "null_check", "3 null values in close", 2.0),
      ("MSFT", "duplicate", "2 duplicate rows removed", 1.0)))
    val log = spark.read.parquet(s"$base/wh/validation_log")
    assert(log.count() === 2L)
    val ids = log.select("validation_id").as[String].collect()
    assert(ids.forall(_.startsWith(rid)))
    assert(log.select("issue_type").as[String].collect().toSet === Set("null_check", "duplicate"))
    // append-only and id-deduped: same batch again adds nothing (fixed clock)
    r.writeValidationLog(rid, Seq(("AAPL", "null_check", "3 null values in close", 2.0)))
    assert(spark.read.parquet(s"$base/wh/validation_log").count() === 2L)
  }

  test("outputs match the serial lifecycle's byte for byte (golden_request)") {
    // expected files: the same request through the serial, one-action-
    // at-a-time runner this stage DAG replaced
    val (res, base) = runGolden()
    snapshot(res, base).foreach { case (name, actual) =>
      val expected = new String(getClass.getResourceAsStream(
        s"/graft/runner/golden_request/$name").readAllBytes(), UTF_8)
      assert(actual === expected, s"$name differs")
    }
  }

  test("action budget: one full request runs at most 20 SQL executions") {
    // guards the fused validation and the read-once sources: a change
    // that re-adds a pass over a source fails here before it slows
    // the requests benchmark
    val executions = new java.util.concurrent.atomic.AtomicInteger()
    val listener = new QueryExecutionListener {
      def onSuccess(f: String, qe: QueryExecution, ns: Long): Unit = executions.incrementAndGet()
      def onFailure(f: String, qe: QueryExecution, e: Exception): Unit = executions.incrementAndGet()
    }
    org.apache.spark.graftbridge.ListenerBusFlush(spark.sparkContext)
    spark.listenerManager.register(listener)
    try {
      runGolden()
      org.apache.spark.graftbridge.ListenerBusFlush(spark.sparkContext)
    } finally spark.listenerManager.unregister(listener)
    assert(executions.get <= 20, s"${executions.get} SQL executions")
  }

  test("a failing branch fails the request only after every branch has finished") {
    val (r, base) = runner()
    // an unpartitioned macro_data: the macro branch's partitioned append
    // must refuse it while the price branch is still running
    macroDf.write.parquet(s"$base/wh/macro_data")
    val persisted = spark.sparkContext.getPersistentRDDs.size
    val e = intercept[IllegalArgumentException] {
      r.run(Request(Seq("AAPL", "MSFT"), "2024-01-01", "2024-01-03",
        enableValidation = true, tolerancePct = 1.0), primary, Some(secondary), Some(macroDf))
    }
    assert(e.getMessage.contains("'macro_data' was written UNPARTITIONED"), e.getMessage)
    // one row: the terminal write replaced the concurrent "started" one
    val log = spark.read.parquet(s"$base/wh/request_log")
      .select("status", "error_count").as[(String, Long)].collect()
    assert(log.toSeq === Seq(("failed", 1L)))
    assert(spark.sparkContext.getPersistentRDDs.size === persisted)
    val alive = Thread.getAllStackTraces.keySet.asScala.map(_.getName)
      .filter(_.startsWith("graft-request-"))
    assert(alive.isEmpty, alive)
  }
}
