package graft.sources

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StructType

/** Pluggable source connectors (SURVEY.md §2a, S-1..S-6).
  *
  * The reference fetches from HTTP APIs (Yahoo `src/pipeline.py:28-42`,
  * Alpha Vantage `src/validation.py:126-185`, FRED `src/macro.py:111-163`);
  * here a `Source` is anything that yields a DataFrame for a request, with
  * file-backed implementations standing in for the feeds. Normalization
  * (rename → snake_case, constant metadata columns, type coercion, date
  * range predicate) lives in the plan so Catalyst can push filters/pruning
  * into the scan; retry / rate limiting are connector concerns kept OUT of
  * the plan (SURVEY.md §4).
  */
trait Source {
  def fetch(spark: SparkSession): DataFrame
}

final class ParquetSource(path: String) extends Source {
  def fetch(spark: SparkSession): DataFrame = spark.read.parquet(path)
}

final class CsvSource(path: String, schema: StructType) extends Source {
  def fetch(spark: SparkSession): DataFrame =
    spark.read.option("header", "true").schema(schema).csv(path)
}

final class JsonSource(path: String, schema: StructType) extends Source {
  def fetch(spark: SparkSession): DataFrame = spark.read.schema(schema).json(path)
}

/** JSONL corpus ingestion — the crawl-interchange format training
  * corpora actually arrive in, where some fraction of lines is always
  * broken (truncated uploads, unescaped control chars, encoding junk).
  * FAILFAST would kill a nightly job on one bad line; DROPMALFORMED
  * silently shrinks the corpus with no audit trail. This reads
  * PERMISSIVE with an explicit corrupt-record column and QUARANTINES:
  * `read` returns (clean rows in the declared schema, corrupt raw
  * lines) so the pipeline ingests what parses and ships the rest to a
  * reject store with full provenance.
  *
  * The source is pinned once ([[graft.Caches.trackedPersist]]) because
  * both outputs branch from one scan — also required: Spark refuses
  * queries that select ONLY the corrupt column from a raw JSON scan
  * (SPARK-21610), and the cache boundary is the documented workaround.
  * Released when the caller's [[graft.Caches.scoped]] block closes.
  */
object JsonlCorpus {
  val corruptCol = "_corrupt_record"

  def read(spark: SparkSession, path: String, schema: StructType,
      storage: org.apache.spark.storage.StorageLevel =
        org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      : (DataFrame, DataFrame) = {
    require(!schema.fieldNames.contains(corruptCol),
      s"schema must not already contain $corruptCol")
    val full = schema.add(corruptCol, org.apache.spark.sql.types.StringType)
    val raw = spark.read.schema(full)
      .option("mode", "PERMISSIVE")
      .option("columnNameOfCorruptRecord", corruptCol)
      .json(path)
    val pinned = graft.Caches.trackedPersist(raw, storage)
    (pinned.filter(col(corruptCol).isNull).drop(corruptCol),
      pinned.filter(col(corruptCol).isNotNull)
        .select(col(corruptCol).as("raw_line")))
  }
}

object SourceOps {

  /** Fail-fast required-column assertion (reference `src/validation.py:113-116`).
    * Case-insensitive on both sides.
    */
  def assertColumns(df: DataFrame, required: Seq[String]): DataFrame = {
    val have = df.columns.map(_.toLowerCase).toSet
    val missing = required.filterNot(c => have.contains(c.toLowerCase))
    require(missing.isEmpty, s"source missing required columns: ${missing.mkString(", ")}")
    df
  }

  /** P-1: normalize column names to snake_case canonical form (reference
    * `src/validation.py:108`, `src/pipeline.py:33-40`). Pure metadata op —
    * no shuffle, no extra projection node after optimization.
    */
  def standardizeColumns(df: DataFrame): DataFrame = {
    val renames = df.columns.map(c => c -> c.trim.toLowerCase.replaceAll("[ .]", "_"))
      .filter { case (a, b) => a != b }.toMap
    df.withColumnsRenamed(renames)
  }

  /** Strip Alpha-Vantage-style `"1. open"` numeric prefixes
    * (reference `src/validation.py:161`).
    */
  def stripNumericPrefixes(df: DataFrame): DataFrame = {
    val renames = df.columns.map(c => c -> c.replaceAll("^\\d+\\.\\s*", ""))
      .filter { case (a, b) => a != b }.toMap
    df.withColumnsRenamed(renames)
  }

  /** P-3: append constant metadata columns (ticker/source/request_id —
    * reference `src/pipeline.py:34,87`, `src/database.py:186-188`).
    */
  def withMetadata(df: DataFrame, meta: Map[String, String]): DataFrame =
    meta.foldLeft(df) { case (d, (k, v)) => d.withColumn(k, lit(v)) }

  /** P-4: `pd.to_numeric(errors='coerce')` semantics — non-numeric → null
    * (reference `src/macro.py:155`, `src/validation.py:232-233`).
    * `try_cast` keeps the behavior under ANSI mode.
    */
  def coerceNumeric(df: DataFrame, cols: Seq[String]): DataFrame =
    cols.foldLeft(df)((d, c) => d.withColumn(c, expr(s"try_cast(`$c` AS double)")))

  /** P-5: inclusive date-range predicate at the source (reference
    * `src/validation.py:166-169`) — pushed down to the scan by Catalyst.
    */
  def dateRange(df: DataFrame, dateCol: String, start: String, end: String): DataFrame =
    df.filter(col(dateCol).between(lit(start).cast("date"), lit(end).cast("date")))

  /** S-1/U-1: union per-entity frames by name after normalization
    * (reference `pd.concat`, `src/pipeline.py:42`). Per-item fault isolation
    * stays driver-side as in S-5 (`src/macro.py:193-211`).
    */
  def unionAll(frames: Seq[DataFrame]): DataFrame = {
    require(frames.nonEmpty, "unionAll of zero frames")
    frames.reduce(_.unionByName(_, allowMissingColumns = true))
  }

  /** S-5: multi-source fetch with per-item error swallowing (reference
    * `fetch_multiple_series`, `src/macro.py:193-211`): a failing source
    * contributes an error string instead of sinking the batch; survivors
    * union by name. Returns (union of survivors, errors) — None when
    * every source failed (the reference returns an empty frame there).
    */
  def fetchAllOrLog(sources: Seq[(String, Source)],
      spark: org.apache.spark.sql.SparkSession): (Option[DataFrame], Seq[String]) =
    fetchAllOrLog(sources, spark, RetryPolicy.none, None)

  /** As above, with a [[RetryPolicy]] around each fetch (reference
    * `fetch_with_retry`, `src/logger.py:75-132`) and every failure —
    * including retried-then-recovered ones — recorded in the
    * [[ErrorTracker]]. An item fails only after the policy is exhausted.
    */
  def fetchAllOrLog(sources: Seq[(String, Source)],
      spark: org.apache.spark.sql.SparkSession,
      retry: RetryPolicy,
      tracker: Option[ErrorTracker]): (Option[DataFrame], Seq[String]) = {
    val (errs, oks) = sources.map { case (name, src) =>
      try Right(retry(name, tracker)(src.fetch(spark)))
      catch { case e: Exception => Left(s"$name: ${e.getMessage}") }
    }.partitionMap(identity)
    (if (oks.nonEmpty) Some(unionAll(oks)) else None, errs)
  }

  /** S-6: indicator-category → series-id resolution (reference
    * `src/macro.py:227-275`): plain config, unknown categories ignored,
    * `None`/empty → all series.
    */
  def resolveCategories(
      categories: Seq[String],
      catalog: Map[String, Seq[String]]): Seq[String] =
    if (categories.isEmpty) catalog.values.flatten.toSeq.distinct
    else categories.flatMap(c => catalog.getOrElse(c, Seq.empty)).distinct
}
