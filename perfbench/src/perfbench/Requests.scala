package perfbench

import scala.collection.mutable

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.queries.Q
import graft.runner.{Request, RequestRunner}
import graft.sources.{ErrorTracker, RetryPolicy, Source, SourceOps}

/** Full-lifecycle requests through `RequestRunner.run`, with
  * cross-validation and macro on, against the `RunPipeline` stand-ins:
  * prices and gross revenue from lineitem (Yahoo and Alpha Vantage),
  * daily event sums (FRED). See [[Requests.plan]] for the mix.
  */
final class Requests(spark: SparkSession, seed: Long) extends Workload {
  import Requests._

  // independent expectation: per ticker, the sorted distinct ship days
  private lazy val days: Array[Array[Int]] = {
    val sets = Array.fill(Fixtures.Tickers)(mutable.BitSet.empty)
    var i = 0L
    while (i < Fixtures.LineitemRows) {
      val (t, d) = Fixtures.lineKey(seed, i)
      sets(t) += d - Fixtures.FirstDay
      i += 1
    }
    sets.map(_.toArray.map(_ + Fixtures.FirstDay))
  }
  private lazy val macroKeys: Set[(String, Int)] =
    (0L until Fixtures.EventRows).map(Fixtures.eventKey(seed, _)).toSet

  // the warm-up's tables are full size, so its scans, joins and writes
  // handle as many rows as the timed requests'
  def prepare(dataDir: String, forWarmUp: Boolean): Unit = {
    val s = if (forWarmUp) seed ^ 0x5eedL else seed
    Fixtures.write(Fixtures.lineitem(spark, s), dataDir, "lineitem")
    Fixtures.write(Fixtures.events(spark, s), dataDir, "events")
    if (!forWarmUp) { days.length; macroKeys.size }
  }

  def warmUp(dataDir: String, stateDir: String): Unit = {
    run(dataDir, new State(stateDir), plan(seed ^ 0x5eedL).next().head)
    ()
  }

  def pass(dataDir: String, stateDir: String, deadline: Long, maxOps: Int,
      tracer: Option[Tracer], census: Census): Pass = {
    val st = new State(stateDir)
    val ops = mutable.ArrayBuffer.empty[Op]
    var runS, stored = 0.0
    val rounds = plan(seed)
    // whole rounds only, so every run holds the same mix
    while (ops.size < maxOps && System.nanoTime() < deadline) rounds.next().foreach { r =>
      val t0 = System.nanoTime()
      val (res, inRun) =
        try { val (x, s) = Tracer.span(tracer)(run(dataDir, st, r)); (Some(x), s) }
        catch { case e: Exception => Main.log(s"request failed: $e"); (None, 0.0) }
      val dt = (System.nanoTime() - t0) / 1e9
      runS += inRun
      val (wantMarket, wantMacro) = st.expect(r, days, macroKeys)
      val ok = res.exists(x => x.status == "completed" && x.marketRecords == wantMarket &&
        x.macroRecords == wantMacro)
      if (!ok) Main.log(s"request check failed: $r -> $res, " +
        s"want market=$wantMarket macro=$wantMacro")
      res.foreach(x => stored += x.marketRecords + x.macroRecords)
      ops += Op(dt, 1, ok)
      Main.log(f"request ${ops.size}: ${r.tickers.size} tickers, " +
        f"${r.endDay - r.startDay + 1} days, $dt%.2f s")
      census.record(s"$stateDir/warehouse", s"$stateDir/outputs")
    }
    val n = ops.size.toDouble
    val (_, whBytes, whParquet) = census.dirs(s"$stateDir/warehouse")
    val (outFiles, outBytes, _) = census.dirs(s"$stateDir/outputs")
    Pass(ops.toSeq, Seq(
      "runner.run_s" -> runS / n,
      "sources.scan_rows_per_stored_row" ->
        tracer.fold(0.0)(_.fixtureScanRows / math.max(stored, 1.0)),
      "warehouse.rows_stored" -> stored / n,
      "warehouse.files_per_request" -> whParquet / n,
      "warehouse.bytes_per_row" -> whBytes / math.max(stored, 1.0),
      "output.artifacts" -> outFiles / n,
      "output.bytes" -> outBytes / n),
      // the warehouse as a whole must hold exactly the distinct keys
      () => {
        val rows = try spark.read.parquet(s"$stateDir/warehouse/market_data").count()
          catch { case _: Exception => -1L }
        if (rows == st.marketKeys.size) Set.empty
        else {
          Main.log(s"warehouse holds $rows rows, want ${st.marketKeys.size}")
          Set(ops.size - 1)
        }
      })
  }

  /** One request: build the stand-in sources, then `RequestRunner.run`.
    * Returns the result and the seconds spent inside `run`. */
  private def run(dataDir: String, st: State, r: Req): (graft.runner.RunResult, Double) = {
    val tickers = r.tickers.map(_.toString)
    val (start, end) = (iso(r.startDay), iso(r.endDay))
    def src(build: SparkSession => DataFrame): Source =
      new Source { def fetch(s: SparkSession) = build(s) }
    val fetch = (name: String, s: Source) =>
      SourceOps.fetchAllOrLog(Seq(name -> s), spark, st.retry, Some(st.errors))._1
    val prices = fetch("yahoo", src { s =>
      Q.prices(Q.t(s, dataDir, "lineitem"))
        .withColumn("ticker", col("ticker").cast("string"))
        .filter(col("ticker").isin(tickers: _*))
        .filter(col("date").between(lit(start).cast("date"), lit(end).cast("date")))
    }).getOrElse(sys.error("primary source failed"))
    val secondary = fetch("alpha_vantage", src { s =>
      Q.t(s, dataDir, "lineitem")
        .groupBy(col("l_suppkey").cast("string").as("ticker"),
          to_date(col("l_shipdate")).as("date"))
        .agg(Q.money2(sum(col("l_extendedprice").cast("decimal(12,4)"))).as("close"))
        .filter(col("ticker").isin(tickers: _*))
    })
    val macroData = fetch("fred", src { s =>
      Q.t(s, dataDir, "events")
        .select(col("event_type").as("series_id"), to_date(col("ts")).as("date"), col("value"))
        .groupBy("series_id", "date")
        .agg(sum(col("value").cast("decimal(18,2)")).cast("double").as("value"))
    })
    val req = Request(tickers, start, end, enableValidation = true, tolerancePct = 0.5,
      fetchMacro = true)
    val t0 = System.nanoTime()
    val res = st.runner.run(req, prices, secondary, macroData)
    (res, (System.nanoTime() - t0) / 1e9)
  }

  private final class State(dir: String) {
    val errors = new ErrorTracker()
    val retry = new RetryPolicy()
    val runner =
      new RequestRunner(spark, s"$dir/warehouse", s"$dir/outputs", tracker = Some(errors))
    val marketKeys = mutable.HashSet.empty[Long]
    val macroStored = mutable.HashSet.empty[(String, Int)]

    /** Rows `r` should add to market_data and macro_data, given every
      * request before it; records them as stored. */
    def expect(r: Req, days: Array[Array[Int]], macroKeys: Set[(String, Int)]): (Long, Long) = {
      var market = 0L
      for (t <- r.tickers; d <- days(t) if d >= r.startDay && d <= r.endDay)
        if (marketKeys.add(t.toLong * 100000L + d)) market += 1
      val mac = macroKeys.count(macroStored.add)
      (market, mac.toLong)
    }
  }
}

object Requests {
  final case class Req(tickers: Seq[Int], startDay: Int, endDay: Int)

  private def iso(day: Int): String = java.time.LocalDate.ofEpochDay(day.toLong).toString

  /** The seeded request sequence, in rounds of two: a request for five
    * fresh tickers over an 18-month window, then one that keeps three of
    * them, adds two fresh ones and shifts the window by up to 90 days,
    * so the warehouse anti-join drops the rows they share. The seed picks
    * tickers and dates; the sizes are fixed so that seeds differ in data,
    * not in the amount of work. */
  def plan(seed: Long): Iterator[Seq[Req]] = {
    val rnd = new java.util.Random(seed)
    val len = 548
    Iterator.continually {
      val tickers = rnd.ints(0, Fixtures.Tickers).distinct().limit(7).toArray.toSeq
      val s = Fixtures.FirstDay + 90 + rnd.nextInt(Fixtures.Days - len - 180)
      val shift = rnd.nextInt(181) - 90
      Seq(Req(tickers.take(5), s, s + len - 1),
        Req(tickers.drop(2), s + shift, s + shift + len - 1))
    }
  }
}
