package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

import graft.queries.Q
import graft.runner.{Request, RequestRunner}

/** CLI entry mirroring the reference's `run_pipeline.py` → `main`
  * (`/root/reference/src/pipeline.py:109-311`), driven against the
  * file-backed testdata sources (the HTTP feeds' stand-ins).
  *
  * Usage:
  *   runMain graft.RunPipeline <sfDir> <workDir> [--tickers t1,t2,...]
  *     [--start yyyy-mm-dd] [--end yyyy-mm-dd] [--enable-validation]
  *     [--with-macro] [--tolerance pct]
  */
object RunPipeline {
  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.001")
    val workDir = args.lift(1).getOrElse("/tmp/graft_pipeline")
    def flag(name: String): Boolean = args.contains(name)
    def opt(name: String): Option[String] =
      args.sliding(2).collectFirst { case Array(`name`, v) => v }

    val tickers = opt("--tickers").map(_.split(",").toSeq)
      .getOrElse(Seq("0", "1", "2", "3", "4", "5"))
    val start = opt("--start").getOrElse("1995-01-01")
    val end = opt("--end").getOrElse("2001-12-31")
    val tolerance = opt("--tolerance").map(_.toDouble).getOrElse(0.5)

    val spark = Sessions.local()
    // SQL users of the app session get the native kernels too
    // (vec_cosine / vec_dot / topk_freq / winnow_fingerprints)
    graft.functions.GraftFunctions.register(spark)

    // every stand-in goes through the Source + retry + tracker chain the
    // real HTTP connectors would use, so transient fetch failures retry
    // with backoff and land in the execution log + request_log
    // (reference `fetch_with_retry`, src/logger.py:75-132)
    import graft.sources.{ErrorTracker, RetryPolicy, Source, SourceOps}
    val tracker = new ErrorTracker()
    val retry = new RetryPolicy()
    def src(build: SparkSession => org.apache.spark.sql.DataFrame): Source =
      new Source { def fetch(s: SparkSession) = build(s) }

    // the prices adaptation as the Yahoo stand-in, restricted to the request
    val yahoo = src { s =>
      Q.prices(Q.t(s, sfDir, "lineitem"))
        .withColumn("ticker", col("ticker").cast("string"))
        .filter(col("ticker").isin(tickers: _*))
        .filter(col("date").between(lit(start).cast("date"), lit(end).cast("date")))
    }
    val prices = {
      val (df, errs) = SourceOps.fetchAllOrLog(Seq("yahoo" -> yahoo), spark, retry, Some(tracker))
      df.getOrElse(sys.error(
        s"primary source failed after retries: ${errs.mkString("; ")}"))
    }
    // gross revenue as the Alpha Vantage stand-in
    val secondary =
      if (flag("--enable-validation"))
        SourceOps.fetchAllOrLog(Seq("alpha_vantage" -> src { s =>
          Q.t(s, sfDir, "lineitem")
            .groupBy(col("l_suppkey").cast("string").as("ticker"),
              to_date(col("l_shipdate")).as("date"))
            .agg(Q.money2(sum(col("l_extendedprice").cast("decimal(12,4)"))).as("close"))
            .filter(col("ticker").isin(tickers: _*))
        }), spark, retry, Some(tracker))._1
      else None
    // event aggregates as the FRED stand-in (tidy series_id/date/value)
    val macroData =
      if (flag("--with-macro"))
        SourceOps.fetchAllOrLog(Seq("fred" -> src { s =>
          graft.queries.Queries.events(s, sfDir)
            .select(col("event_type").as("series_id"),
              to_date(col("ts")).as("date"),
              col("value"))
            .groupBy("series_id", "date")
            .agg(sum(col("value").cast("decimal(18,2)")).cast("double").as("value"))
        }), spark, retry, Some(tracker))._1
      else None
    val runner = new RequestRunner(spark, s"$workDir/warehouse", s"$workDir/outputs",
      tracker = Some(tracker))
    val req = Request(tickers, start, end,
      enableValidation = secondary.isDefined, tolerancePct = tolerance,
      fetchMacro = macroData.isDefined)
    val res = runner.run(req, prices, secondary, macroData)

    println(s"request_id=${res.requestId}")
    println(s"status=${res.status}")
    println(s"market_records=${res.marketRecords} macro_records=${res.macroRecords} " +
      s"discrepancies=${res.discrepancies}")
    println(s"csv=${res.csvPath.getOrElse("None")}")
    println(s"report=${res.reportPath}")
    println(s"log=${res.logPath}")
    spark.stop()
  }
}
