package graft.runner

import java.time.ZoneOffset
import java.time.format.DateTimeFormatter

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK

import graft.Caches.trackedPersist
import graft.ops.{CrossValidationOps, FeatureOps, MacroOps, ValidationOps}
import graft.output.{Clock, Json, OutputManager, SystemClock}
import graft.warehouse.Warehouse

/** One pipeline request: the reference's argparse surface
  * (`/root/reference/src/pipeline.py:110-130`) as a case class.
  */
final case class Request(
    tickers: Seq[String],
    startDate: String,
    endDate: String,
    enableValidation: Boolean = false,
    tolerancePct: Double = 0.5,
    fetchMacro: Boolean = false,
    macroCategories: Seq[String] = Nil)

final case class RunResult(
    requestId: String,
    status: String,
    marketRecords: Long,
    macroRecords: Long,
    discrepancies: Long,
    csvPath: Option[String],
    reportPath: String,
    logPath: String)

/** The §3 request lifecycle (reference `main`,
  * `/root/reference/src/pipeline.py:109-311`): register → ingest →
  * validate → transform → cross-validate → macro → store → emit, with
  * the failure path (status → `failed`, re-raise,
  * `pipeline.py:302-311`).
  *
  * Scale shape: the whole request is ONE lazy plan per stage — all
  * entities validate in three fused aggregates, reconcile in one join, and
  * land in the warehouse through one anti-join append; the reference's
  * per-ticker HTTP loop and per-row SQLite probes have no equivalent here.
  *
  * A request is bound by per-action round trips, not by data, so [[run]]
  * executes it as a small DAG of stages rather than a serial chain:
  * {{{
  *   fork: request_log "started"
  *   fork: macro profile → macro_data append               (if macro)
  *   main: persist the primary slice and its keep-last dedup
  *   fork: basic-validation report (3 fused actions)
  *   main: cross-validation summary                         (if cross)
  *   fork: market_data append
  *   fork: result CSV
  *   fork: cross_validation upsert → anomaly CSV           (if discrepancies)
  *   join → validation report → execution log → request_log terminal status
  * }}}
  * Each source is read once: the primary slice, its cleaned frame, the
  * comparison, the macro frame and the enriched result are persisted at
  * the boundary — the first branch to reach one materializes it for all —
  * and released when the request ends: `run` is one `Caches.scoped`
  * block, and the branch threads it starts pin into the same scope. The
  * forked branches run on a per-request pool with one thread per branch.
  *
  * One-writer-per-table rule: no two branches that can run at once write
  * the same table or file; the request_log terminal write waits for the
  * "started" one. Every branch is joined before the report and the
  * terminal status are written, on the success and the failure path
  * alike, and the first failure is the one rethrown.
  */
final class RequestRunner(
    spark: SparkSession,
    warehouseDir: String,
    outputDir: String,
    clock: Clock = SystemClock,
    tracker: Option[graft.sources.ErrorTracker] = None) {

  private val wh = new Warehouse(spark, warehouseDir)
  private val out = new OutputManager(outputDir, clock)

  private def trackedErrors: Long = tracker.fold(0L)(_.errorCount.toLong)

  /** Tracker errors already attributed to a finished request. One tracker
    * serves the whole pipeline (fetch happens BEFORE run(), so a
    * request's connector errors land in the tracker pre-run); request_log
    * rows must carry the PER-REQUEST count, so each run() logs the delta
    * since the previous run() finished and then banks the new watermark.
    */
  private var errorsAccounted: Long = 0L

  /** Request-id contract (reference `src/database.py:332-343`):
    * `{yyyyMMdd_HHmmss}_{sorted tickers '_'}_{start}_{end}` with
    * md5-shortening of long ticker lists.
    */
  def generateRequestId(req: Request): String = {
    val ts = graft.output.Fmt.stamp(clock)
    val joined = req.tickers.sorted.mkString("_")
    val tickersStr =
      if (joined.length <= 50) joined
      else s"${req.tickers.head}_and_${req.tickers.length - 1}_more_${graft.output.Fmt.md5Hex(joined).take(8)}"
    s"${ts}_${tickersStr}_${req.startDate.replace("-", "")}_${req.endDate.replace("-", "")}"
  }

  private def nowIso: String = graft.output.Fmt.iso(clock)

  /** K-5 insert/update: the request_log row lives in a parquet table
    * keyed by request_id; status transitions are last-writer-wins
    * upserts (reference `src/database.py:138-175`).
    */
  def writeRequestLog(
      requestId: String, req: Request, status: String,
      marketRecords: Long = 0, macroRecords: Long = 0,
      validationPerformed: Boolean = false, errorCount: Long = 0): Unit = {
    import spark.implicits._
    val row = Seq((
      requestId, nowIso, req.tickers.mkString(","), req.startDate, req.endDate,
      status, marketRecords, macroRecords, validationPerformed, errorCount))
      .toDF("request_id", "request_timestamp", "tickers", "start_date", "end_date",
        "status", "total_records_fetched", "macro_records_fetched",
        "validation_performed", "error_count")
    wh.upsert("request_log", row, Seq("request_id"))
  }

  /** K-6: validation-log append (reference `src/database.py:262-281`). */
  def writeValidationLog(
      requestId: String,
      issues: Seq[(String, String, String, Double)]): Unit = { // (ticker, issueType, description, severity)
    if (issues.isEmpty) return
    import spark.implicits._
    val ts = DateTimeFormatter.ofPattern("HHmmss").withZone(ZoneOffset.UTC).format(clock.now())
    val rows = issues.zipWithIndex.map { case ((ticker, issueType, desc, sev), i) =>
      (s"${requestId}_${issueType}_${ts}_$i", requestId, ticker, nowIso, issueType, desc, sev)
    }.toDF("validation_id", "request_id", "ticker", "validation_date",
      "issue_type", "description", "severity_score")
    wh.dedupAppend("validation_log", rows, Seq("validation_id"))
    ()
  }

  /** Basic validation report (reference `validate`,
    * `src/pipeline.py:44-76`) over the raw slice and its cleaned frame,
    * in the three fused actions of [[ValidationOps.basicChecks]]. Pass
    * `clean` persisted so its one materialization serves the report and
    * every later stage.
    */
  def validateBasic(raw: DataFrame, clean: DataFrame): OutputManager.BasicValidation = {
    val c = ValidationOps.basicChecks(raw, clean)
    OutputManager.BasicValidation(
      nullCounts = c.nullCounts,
      duplicateRows = c.duplicateRows,
      negClose = c.nonPositiveClose,
      negVolume = c.negativeVolume,
      extremeMoves = c.extremeMoves,
      approxMissingBdays = c.missingBusinessDays)
  }

  /** Run the full lifecycle for one request. `primary` is the already-
    * fetched source frame with columns (ticker, date, open?, …, close,
    * volume); `secondary` the optional cross-validation source;
    * `macroData` the optional tidy macro frame (series_id, date, value).
    */
  def run(
      req: Request,
      primary: DataFrame,
      secondary: Option[DataFrame] = None,
      macroData: Option[DataFrame] = None): RunResult = graft.Caches.scoped {
    val requestId = generateRequestId(req)
    // per-request error count (the execution log's error summary stays
    // tracker-lifetime cumulative, matching the reference's logger-scoped
    // get_error_summary)
    def requestErrors: Long = trackedErrors - errorsAccounted
    val cross = secondary.filter(_ => req.enableValidation)
    // started log, validation report, market append, result CSV + the
    // optional macro and discrepancy branches: one thread each
    val branches = new Branches(4 + macroData.size + cross.size, s"graft-request-$requestId")
    try {
      branches.fork(writeRequestLog(requestId, req, "started"))

      // 4. optional macro profile (A-6) + store (K-2/K-3), independent of
      // the price branch. series_name/category enrichment so macro_data
      // matches the reference's 5-column DDL; enrichWithCatalog is
      // idempotent (adds only missing columns), so every batch lands on
      // the same schema
      val macroBranch = macroData.map(trackedPersist(_, MEMORY_AND_DISK)).map { m =>
        branches.fork {
          val profile = MacroOps.seriesProfile(m).collect()
            .map(r => (r.getString(0), r.getLong(1), r.getLong(2))).toSeq.sortBy(_._1)
          val stored = wh.dedupAppend("macro_data",
            MacroOps.enrichWithCatalog(m).withColumn("request_id", lit(requestId)),
            Seq("series_id", "date"), Seq("series_id"))
          (profile, stored)
        }
      }

      // 1-2. clean (W-6 keep-last dedup; a window, not a pandas drop),
      // validate and transform (W-1..W-5). Persist: the _seq assignment
      // is nondeterministic across plan re-evaluations (shuffle fetch
      // order), so pin ONE dedup outcome for every downstream action
      // (report aggregates, warehouse, CSV)
      val slice = trackedPersist(primary, MEMORY_AND_DISK)
      val clean = trackedPersist(FeatureOps.keepLast(
        slice.withColumn("_seq", monotonically_increasing_id()), Seq("ticker", "date"), "_seq")
        .drop("_seq"), MEMORY_AND_DISK)
      val basicBranch = branches.fork(validateBasic(slice, clean))
      val features = FeatureOps.transform(clean)

      // 3. optional cross-validation (J-1, P-6..P-8, J-2)
      val compared = cross.map { sec =>
        val cmp = trackedPersist(
          CrossValidationOps.compareSources(clean, sec, "ticker", "date", req.tolerancePct),
          MEMORY_AND_DISK)
        val summary = CrossValidationOps.reconciliationSummary(cmp)
          .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2))).toSeq.sortBy(_._1)
        (cmp, summary)
      }
      val enriched = trackedPersist(compared match {
        case Some((cmp, _)) =>
          CrossValidationOps.enrichWithFlags(features,
            cmp.select(col("ticker"), col("date"), col("discrepancy_flag")), "ticker", "date")
        case None => features.withColumn("discrepancy_flag", lit(false))
      }, MEMORY_AND_DISK)

      // 5. store (K-2/K-3 dedup append, K-4 upsert). Both warehouse tables
      // are hive-partitioned on their entity key, so the append's
      // anti-join scans ONLY the partitions the request touches — at
      // 100 TB a one-ticker request never rescans the table.
      val marketBranch = branches.fork(wh.dedupAppend("market_data",
        enriched.withColumn("request_id", lit(requestId)).withColumn("updated_at", lit(nowIso)),
        Seq("ticker", "date"), Seq("ticker")))
      // 6. emit the result CSV (K-1). Both CSVs are single files of one
      // request's rows: sorting inside the one partition the writer
      // coalesces to gives the same bytes as a global orderBy without
      // its range-sampling job and shuffle
      val csvBranch = branches.fork(out.createTimestampedCsv(
        enriched.coalesce(1).sortWithinPartitions("ticker", "date"),
        req.tickers, req.startDate, req.endDate, requestId))
      // the summary's per-ticker discrepancy counts use the same
      // diff_pct > tolerance predicate as `discrepancies`
      val discrepancyCount = compared.fold(0L)(_._2.map(_._3).sum)
      compared.filter(_ => discrepancyCount > 0).foreach { case (cmp, _) =>
        branches.fork {
          val disc = CrossValidationOps.discrepancies(cmp, req.tolerancePct)
            .withColumn("validation_id",
              concat(lit(s"${requestId}_cross_"), col("ticker"), lit("_"),
                date_format(col("date"), "yyyyMMdd")))
            .withColumn("request_id", lit(requestId))
          // partition-scoped: a request rewrites only the tickers it
          // touched, not the whole cross_validation history. ticker joins
          // the key soundly — validation_id embeds it, so the composite
          // key collides exactly when validation_id does.
          wh.upsert("cross_validation", disc, Seq("validation_id", "ticker"), Seq("ticker"))
          // K-9: anomaly CSV alongside the other artifacts (reference
          // `save_anomaly_report`, src/validation.py:490-518)
          out.saveAnomalyReport(
            disc.select("ticker", "date", "yahoo_close", "alpha_close",
              "price_diff", "diff_pct").coalesce(1).sortWithinPartitions("ticker", "date"),
            s"anomalies_$requestId.csv")
        }
      }
      branches.join()

      // 6. emit the reports (K-7, K-8) and the terminal status (K-5)
      val marketRecords = marketBranch()
      val csvPath = csvBranch()
      val basicReport = basicBranch()
      val (macroProfile, macroRecords) = macroBranch.map(_()) match {
        case Some((profile, stored)) => (Some(profile), stored)
        case None => (None, 0L)
      }
      val crossSummary = compared.map { case (_, perTicker) =>
        OutputManager.CrossValidationSummary(
          comparisons = perTicker.map(_._2).sum,
          discrepancies = discrepancyCount,
          perTicker = perTicker)
      }
      val macroSummary = macroProfile.map { profiles =>
        OutputManager.MacroValidationSummary(profiles.map(_._2).sum, profiles)
      }
      val reportPath = out.createValidationReport(
        requestId, basicReport, crossSummary, macroSummary,
        req.tickers, req.startDate, req.endDate)
      // error summary from the connector tracker (reference
      // `get_error_summary`, src/logger.py:196-223): recovered retries
      // still count, so flaky feeds are visible in the execution log
      val errorStats: Seq[(String, Json.JValue)] = tracker.toSeq.flatMap { t =>
        Seq(
          "error_count" -> Json.JInt(t.errorCount.toLong),
          "errors_by_operation" -> Json.JObj(t.byOperation.toSeq.sortBy(_._1)
            .map { case (k, v) => k -> (Json.JInt(v.toLong): Json.JValue) }),
          "errors_by_type" -> Json.JObj(t.byType.toSeq.sortBy(_._1)
            .map { case (k, v) => k -> (Json.JInt(v.toLong): Json.JValue) }))
      }
      val logPath = out.createSummaryLog(
        requestId,
        Seq(
          "total_market_records" -> Json.JInt(marketRecords),
          "total_macro_records" -> Json.JInt(macroRecords),
          "cross_validation_performed" -> Json.JBool(compared.isDefined),
          "discrepancies_found" -> Json.JInt(discrepancyCount)) ++ errorStats,
        Map("csv" -> csvPath.map(_.toString).getOrElse("None"),
          "validation" -> reportPath.toString))

      writeRequestLog(requestId, req, "completed", marketRecords, macroRecords,
        validationPerformed = compared.isDefined, errorCount = requestErrors)

      RunResult(requestId, "completed", marketRecords, macroRecords,
        discrepancyCount, csvPath.map(_.toString), reportPath.toString, logPath.toString)
    } catch {
      case e: Throwable =>
        val first = branches.settle(e)
        // the fatal error itself counts on top of any tracked connector
        // failures (reference marks the request failed and logs the error)
        writeRequestLog(requestId, req, "failed", errorCount = requestErrors + 1)
        throw first
    } finally {
      branches.close()
      errorsAccounted = trackedErrors
    }
  }
}
