package perfbench

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.expressions.XXH64
import org.apache.spark.sql.functions._

/** Seeded stand-ins for the sf0.1 test tables, with the same schemas,
  * row counts and value ranges. Every value is a hash of (seed, field,
  * row id), so the same seed gives the same files on any core count,
  * and the benchmark can recompute a row's keys on the driver
  * ([[lineKey]], [[eventKey]]) to check graft's outputs without going
  * through graft or Spark.
  */
object Fixtures {
  val LineitemRows = 600000L
  val Tickers = 1000
  val FirstDay: Int = java.time.LocalDate.parse("1995-01-02").toEpochDay.toInt
  val Days = 2499 // 1995-01-02 .. 2001-11-04, as in sf0.1
  val EventRows = 100000L
  val EventTypes: Seq[String] = Seq("click", "view", "purchase", "signup", "error")
  val EventT0Micros: Long = java.time.Instant.parse("2024-01-01T00:00:00Z").toEpochMilli * 1000L
  val EventSpanMicros: Long = 30L * 24 * 3600 * 1000000L
  val Documents = 5000L

  /** The 31-word vocabulary of the sf0.1 documents table. */
  val Vocab: Seq[String] = ("a agg batch big column customer data dup fast filter group " +
    "hash join key line merge order part query row scan slow small sort spark stream " +
    "table the value vector window").split(" ").toSeq

  // field k of row `id`: Spark's xxhash64(seed, k, id), reduced mod n
  private def u(seed: Long, k: Int, n: Long): Column =
    pmod(xxhash64(lit(seed), lit(k), col("id")), lit(n))
  private def uLocal(seed: Long, k: Int, id: Long, n: Long): Long =
    Math.floorMod(XXH64.hashLong(id, XXH64.hashInt(k, XXH64.hashLong(seed, 42L))), n)

  /** (ticker, epoch day) of lineitem row `id`. */
  def lineKey(seed: Long, id: Long): (Int, Int) =
    (uLocal(seed, 2, id, Tickers).toInt, FirstDay + uLocal(seed, 8, id, Days).toInt)

  /** (series_id, epoch day) of events row `id`, the FRED stand-in key. */
  def eventKey(seed: Long, id: Long): (String, Int) = {
    val micros = EventT0Micros + uLocal(seed, 21, id, EventSpanMicros)
    (EventTypes(uLocal(seed, 22, id, EventTypes.size).toInt),
      Math.floorDiv(micros, 86400000000L).toInt)
  }

  private def pick(values: Seq[String], i: Column): Column =
    element_at(array(values.map(lit): _*), (i + 1).cast("int"))

  def lineitem(spark: SparkSession, seed: Long): DataFrame = {
    val qty = u(seed, 3, 50) + 1
    spark.range(0, LineitemRows, 1, parts(spark)).select(
      expr("id div 4").as("l_orderkey"),
      u(seed, 1, Tickers * 20L).as("l_partkey"),
      u(seed, 2, Tickers).as("l_suppkey"),
      (pmod(col("id"), lit(4L)) + 1).cast("int").as("l_linenumber"),
      qty.cast("double").as("l_quantity"),
      round(qty * (u(seed, 4, 120000) / 100.0 + 900.0), 2).as("l_extendedprice"),
      (u(seed, 5, 11) / 100.0).as("l_discount"),
      (u(seed, 6, 9) / 100.0).as("l_tax"),
      pick(Seq("N", "A", "R"), u(seed, 7, 3)).as("l_returnflag"),
      pick(Seq("O", "F"), u(seed, 9, 2)).as("l_linestatus"),
      timestamp_seconds((u(seed, 8, Days) + FirstDay) * 86400L).as("l_shipdate"))
  }

  def events(spark: SparkSession, seed: Long): DataFrame =
    spark.range(0, EventRows, 1, parts(spark)).select(
      col("id").as("event_id"),
      timestamp_micros(u(seed, 21, EventSpanMicros) + EventT0Micros).as("ts"),
      u(seed, 23, Tickers * 3L / 2).as("user_id"),
      pick(EventTypes, u(seed, 22, EventTypes.size)).as("event_type"),
      (u(seed, 24, 56021) / 100.0).as("value"),
      format_string("{\"k\": %d}", u(seed, 25, 100)).as("props"))

  /** `count` documents with ids starting at `from`, 10-100 words each;
    * every 625th repeats its predecessor's text, as in sf0.1. */
  def documents(spark: SparkSession, seed: Long, from: Long = 0L,
      count: Long = Documents): DataFrame = {
    val src = when(pmod(col("id"), lit(625L)) === 624, col("id") - 1).otherwise(col("id"))
    val n = (pmod(xxhash64(lit(seed), lit(31), src), lit(91L)) + 10).cast("int")
    val words = transform(sequence(lit(1), n),
      i => pick(Vocab, pmod(xxhash64(lit(seed), lit(32), src, i), lit(Vocab.size.toLong))))
    spark.range(from, from + count, 1, parts(spark))
      .select(col("id").as("doc_id"), array_join(words, " ").as("text"),
        pick(Seq("en", "en", "en", "zh", "es", "fr", "de"), u(seed, 33, 7)).as("lang"),
        concat(lit("src"), u(seed, 34, 20).cast("string")).as("source"))
      .withColumn("n_chars", length(col("text")).cast("long"))
  }

  private def parts(spark: SparkSession): Int = spark.sparkContext.defaultParallelism

  def write(df: DataFrame, dir: String, name: String): Unit =
    df.write.mode("overwrite").parquet(s"$dir/$name.parquet")
}
