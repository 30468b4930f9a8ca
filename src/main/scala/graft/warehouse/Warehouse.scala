package graft.warehouse

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{StringType, StructType}

/** Parquet-backed warehouse with the reference's dedup/upsert write
  * semantics (SURVEY.md §2h K-2..K-5, §2c J-3; reference
  * `src/database.py`).
  *
  * The reference's scalability cliff is its O(rows) Python insert loop
  * with a per-row duplicate probe (`src/database.py:192-224`). Here the
  * probe becomes ONE distributed left-anti join of the incoming batch
  * against the existing keys, then a bulk columnar append: at 100 TB the
  * anti-join shuffles only the key columns (pruned scan), and when the
  * incoming batch is small Catalyst broadcasts it instead.
  */
final class Warehouse(spark: SparkSession, root: String) {

  private def path(table: String) = s"$root/$table"

  def exists(table: String): Boolean = {
    val p = new org.apache.hadoop.fs.Path(path(table))
    p.getFileSystem(spark.sessionState.newHadoopConf()).exists(p)
  }

  def read(table: String): DataFrame = spark.read.parquet(path(table))

  /** Read `schema`'s columns of `table` with the partition columns typed
    * as STRING, so hive directory names come back in their lossless
    * string form. Type inference would retype e.g. a string key "01" as
    * int 1 — and then the anti-join would compare coerced values and
    * silently re-append duplicates (or falsely dedup distinct keys),
    * breaking the idempotency contract. The schema is supplied per read:
    * flipping the session's inference conf instead would race with (and
    * could permanently alter) every other query on the session. Every
    * field reads as nullable, since stored rows may hold nulls that the
    * caller's schema rules out.
    */
  private def readPartitionsAsString(table: String, partitionCols: Seq[String],
      schema: StructType): DataFrame =
    spark.read.schema(StructType(schema.map { f =>
      f.copy(dataType = if (partitionCols.contains(f.name)) StringType else f.dataType,
        nullable = true)
    })).parquet(path(table))

  /** Fail fast when a partitioned write would land on a table whose
    * existing layout does not match: appending `ticker=X/` dirs beside
    * root-level part files (or vice versa) leaves a mixed directory
    * structure Spark refuses to read, corrupting the table for every
    * later request. The FULL partition-column sequence is compared —
    * hive layouts are homogeneous by construction (every chain carries
    * the same columns in the same order), so walking ONE directory chain
    * down to the first data file observes every level; a first-level-only
    * check would wave through e.g. disk `ticker=/date=` vs an append with
    * Seq("ticker"). Cost: one listStatus per partition level.
    */
  private def requireLayout(table: String, partitionCols: Seq[String]): Unit = {
    if (!exists(table)) return
    val p = new org.apache.hadoop.fs.Path(path(table))
    val fs = p.getFileSystem(spark.sessionState.newHadoopConf())
    def visible(s: org.apache.hadoop.fs.FileStatus): Boolean = {
      val n = s.getPath.getName
      !n.startsWith("_") && !n.startsWith(".")
    }
    val rootEntries = fs.listStatus(p).filter(visible)
    if (rootEntries.isEmpty) return
    // ordered partition columns on disk: follow one `col=value` chain —
    // but at EVERY level first require all sibling hive dirs to agree on
    // the column name, so an already-mixed layout (a=.../ beside b=.../,
    // out-of-band corruption) is rejected instead of silently validated
    // along whichever chain listStatus happens to return first
    @annotation.tailrec
    def chain(dir: org.apache.hadoop.fs.Path, acc: List[String]): List[String] = {
      val hiveDirs = fs.listStatus(dir).filter(visible).filter { s =>
        s.isDirectory && s.getPath.getName.contains("=")
      }
      val levelCols = hiveDirs.map(_.getPath.getName.takeWhile(_ != '=')).toSet
      require(levelCols.size <= 1,
        s"table '$table' has CONFLICTING partition columns at one level " +
          s"(${levelCols.toSeq.sorted.mkString(", ")} under ${dir.getName}); " +
          "the layout is already mixed — repair it before appending")
      hiveDirs.headOption match {
        case Some(d) =>
          chain(d.getPath, acc :+ d.getPath.getName.takeWhile(_ != '='))
        case None => acc
      }
    }
    val diskCols = chain(p, Nil)
    if (partitionCols.nonEmpty) {
      require(diskCols.nonEmpty || !rootEntries.exists(_.isFile),
        s"table '$table' was written UNPARTITIONED; cannot append with " +
          s"partitionCols=$partitionCols — migrate the table or drop the partitioning")
      // same partitioned-ness is not enough: a different partition COLUMN
      // sequence (fewer/more levels, different order) would also
      // interleave conflicting layouts
      require(diskCols.isEmpty || diskCols == partitionCols.toList,
        s"table '$table' is partitioned by ${diskCols.mkString("/")} on disk; " +
          s"cannot append with partitionCols=$partitionCols")
    } else
      require(diskCols.isEmpty,
        s"table '$table' is hive-partitioned (${diskCols.mkString("/")}); pass " +
          "its partition columns instead of appending unpartitioned files " +
          "beside the partition dirs")
  }

  /** Hive encodes "" as `__HIVE_DEFAULT_PARTITION__`, which reads back as
    * NULL — silently corrupting the key and defeating the anti-join
    * forever after. `touched` is already collected driver-side, so the
    * check is free. (Genuine nulls round-trip correctly and are allowed.)
    */
  private def requireNoEmptyPartitionValues(
      partitionCols: Seq[String],
      touched: Array[org.apache.spark.sql.Row]): Unit =
    touched.foreach { row =>
      partitionCols.zipWithIndex.foreach { case (c, i) =>
        require(row.get(i) != "",
          s"partition column '$c' contains an empty string, which hive " +
            "directory names cannot represent (reads back as null); " +
            "filter or recode such keys before writing")
      }
    }

  /** K-2/K-3 + J-3: dedup append — drop in-batch duplicates on the key,
    * anti-join against existing keys, append survivors. Returns the number
    * of rows actually saved (the reference returns saved-row counts,
    * `src/database.py:226`). Idempotent: appending the same batch twice
    * leaves the table unchanged.
    */
  def dedupAppend(table: String, batch: DataFrame, keys: Seq[String]): Long =
    dedupAppend(table, batch, keys, Seq.empty)

  /** Partitioned variant: `partitionCols` become hive-style directory
    * partitions, and — the point at 100 TB — the anti-join's scan of the
    * existing table is PRUNED to the partitions the incoming batch
    * touches (collected from the batch, applied as a pushed filter), so
    * appending one day of one ticker never rescans the whole warehouse.
    */
  def dedupAppend(table: String, batch: DataFrame, keys: Seq[String],
      partitionCols: Seq[String]): Long = {
    // pruning is only sound when a key collision implies equal partition
    // values — i.e. the partition columns are part of the dedup key.
    require(partitionCols.forall(keys.contains),
      s"partitionCols must be a subset of keys for sound pruning: " +
        s"$partitionCols vs $keys")
    // partition values must round-trip through directory names; these
    // types have an unambiguous string form that `CAST(x AS STRING)`
    // reproduces (timestamps/decimals/doubles do not — key on a
    // formatted string instead).
    val dirSafe = Set("string", "integer", "long", "short", "byte", "date", "boolean")
    partitionCols.foreach { c =>
      val tn = batch.schema(c).dataType.typeName
      require(dirSafe.contains(tn),
        s"partition column '$c' has type $tn, which does not round-trip " +
          "through hive directory names; use string/integral/date/boolean")
    }
    requireLayout(table, partitionCols)
    val inBatch = batch.dropDuplicates(keys)
    // one tiny agg on the batch -> the touched-partition list; collected
    // up front so the empty-string guard also covers the FIRST write.
    // The partition columns are part of the key, so the batch touches
    // the same partitions before and after the in-batch dedup.
    val touched =
      if (partitionCols.isEmpty) Array.empty[org.apache.spark.sql.Row]
      else batch.select(partitionCols.map(col): _*).distinct().collect()
    requireNoEmptyPartitionValues(partitionCols, touched)
    val fresh =
      if (!exists(table)) inBatch
      else if (partitionCols.isEmpty)
        inBatch.join(read(table).select(keys.map(col): _*), keys, "left_anti")
      else {
        // read with the partition columns as raw strings (see
        // readPartitionsAsString), prune on their STRING form — the
        // filter sits directly on the partition column, so it still
        // reaches PartitionFilters — then cast back to the batch's types
        // ABOVE the filter so the anti-join compares like-typed keys.
        // Null-safe equality so null partition values
        // (__HIVE_DEFAULT_PARTITION__) still dedup correctly. Only the
        // keys are read, typed as in the batch, so no pass over the
        // table's files infers a schema first.
        val existing = readPartitionsAsString(table, partitionCols,
          StructType(keys.map(batch.schema(_))))
        val filters = touched.map { row =>
          partitionCols.zipWithIndex
            .map { case (c, i) => col(c) <=> lit(row.get(i)).cast("string") }
            .reduce(_ && _)
        }
        val prunedRaw =
          if (filters.isEmpty) existing.limit(0)
          else existing.filter(filters.reduce(_ || _))
        val pruned = partitionCols.foldLeft(prunedRaw) { (df, c) =>
          df.withColumn(c, col(c).cast(batch.schema(c).dataType))
        }
        inBatch.join(pruned.select(keys.map(col): _*), keys, "left_anti")
      }
    // The anti-join must materialize before the append overlaps the scan;
    // parquet append writes new files so the source files stay stable, but
    // we cache+count to fix the saved-row tally exactly once.
    val staged = fresh.cache()
    try {
      val n = staged.count()
      if (n > 0) {
        val w = staged.write.mode("append")
        (if (partitionCols.nonEmpty) w.partitionBy(partitionCols: _*) else w)
          .parquet(path(table))
      }
      n
    } finally staged.unpersist()
  }

  /** K-4: last-writer-wins upsert keyed on `idCols` (reference INSERT OR
    * REPLACE, `src/database.py:283-305`): keep existing rows whose key is
    * absent from the new batch, union the batch, rewrite. (Delta MERGE is
    * the production-cluster variant; plain parquet needs a rewrite.)
    *
    * This whole-table form is O(table) per call — fine for the small
    * metadata tables it serves (`request_log`); anything that grows with
    * the data should use the partitioned variant below, which rewrites
    * only the partitions the batch touches.
    */
  def upsert(table: String, batch: DataFrame, keys: Seq[String]): Unit = {
    requireLayout(table, Seq.empty)
    val merged =
      if (!exists(table)) batch
      else read(table).join(batch.select(keys.map(col): _*), keys, "left_anti")
        .unionByName(batch)
    // rewrite via staging dir: the new plan reads the old files.
    val tmp = path(table) + "__stage"
    merged.write.mode("overwrite").parquet(tmp)
    val conf = spark.sessionState.newHadoopConf()
    val fs = new org.apache.hadoop.fs.Path(root).getFileSystem(conf)
    fs.delete(new org.apache.hadoop.fs.Path(path(table)), true)
    fs.rename(new org.apache.hadoop.fs.Path(tmp), new org.apache.hadoop.fs.Path(path(table)))
  }

  /** Partition-scoped upsert: hive-partitioned on `partitionCols`, and a
    * call rewrites ONLY the partitions present in the batch — the read is
    * pruned to those partitions (same string-form filter as the
    * partitioned `dedupAppend`) and the write uses dynamic partition
    * overwrite, so untouched partitions' files are never opened. This is
    * the poor-man's MERGE: O(touched partitions) per call instead of
    * O(table), which is the difference between a per-request metadata
    * write and a full warehouse rewrite at 100 TB.
    *
    * `partitionCols` must be a subset of `keys`: last-writer-wins is then
    * guaranteed, because a key collision always lands in the same
    * partition.
    */
  def upsert(table: String, batch: DataFrame, keys: Seq[String],
      partitionCols: Seq[String]): Unit = {
    if (partitionCols.isEmpty) return upsert(table, batch, keys)
    require(partitionCols.forall(keys.contains),
      s"partitionCols must be a subset of keys for a sound partition-scoped " +
        s"upsert: $partitionCols vs $keys")
    val dirSafe = Set("string", "integer", "long", "short", "byte", "date", "boolean")
    partitionCols.foreach { c =>
      val tn = batch.schema(c).dataType.typeName
      require(dirSafe.contains(tn),
        s"partition column '$c' has type $tn, which does not round-trip " +
          "through hive directory names; use string/integral/date/boolean")
    }
    requireLayout(table, partitionCols)
    val touched = batch.select(partitionCols.map(col): _*).distinct().collect()
    requireNoEmptyPartitionValues(partitionCols, touched)
    val merged =
      if (!exists(table)) batch
      else {
        val existing = readPartitionsAsString(table, partitionCols, read(table).schema)
        val filters = touched.map { row =>
          partitionCols.zipWithIndex
            .map { case (c, i) => col(c) <=> lit(row.get(i)).cast("string") }
            .reduce(_ && _)
        }
        val prunedRaw =
          if (filters.isEmpty) existing.limit(0)
          else existing.filter(filters.reduce(_ || _))
        val pruned = partitionCols.foldLeft(prunedRaw) { (df, c) =>
          df.withColumn(c, col(c).cast(batch.schema(c).dataType))
        }
        pruned.join(batch.select(keys.map(col): _*), keys, "left_anti")
          .unionByName(batch)
      }
    // dynamic overwrite replaces exactly the partitions in `merged`, whose
    // plan READS the same path. A cache()+count() barrier is not safe
    // here: cached blocks can be evicted or lost mid-write, and Spark
    // would then recompute from source files the overwrite is concurrently
    // deleting — corrupting the touched partitions. localCheckpoint
    // TRUNCATES the lineage instead, so a lost block fails the job
    // (retryable) rather than silently re-reading a half-deleted table.
    val (staged, releaseStaged) =
      graft.internal.Checkpoints.localCheckpointTracked(merged)
    // dynamic overwrite as a write OPTION: it takes precedence over the
    // session conf for this write only, so concurrent writers never see it
    try staged.write.mode("overwrite").option("partitionOverwriteMode", "dynamic")
      .partitionBy(partitionCols: _*).parquet(path(table))
    finally {
      // a long-lived session looping upserts must not accumulate a
      // stage copy per call; the handle frees exactly this checkpoint's
      // blocks (Dataset.unpersist is a no-op on checkpointed frames)
      releaseStaged()
    }
  }

  /** K-10: whole-table replace (reference `to_sql(if_exists='replace')`,
    * `src/pipeline.py:93-97`).
    */
  def replace(table: String, df: DataFrame): Unit =
    stagedRewrite(table, df, Seq.empty)

  /** Staged whole-table rewrite: write to a `__stage` sibling, then
    * delete + rename — readers never observe a half-written table, and
    * a crash mid-write leaves the original untouched (the orphan stage
    * dir is overwritten by the next attempt). The swap itself is the
    * one non-atomic window (delete then rename), inherent to plain
    * parquet under this warehouse's single-writer contract; a
    * transaction log (Delta/Iceberg) is the multi-writer upgrade.
    */
  private def stagedRewrite(table: String, df: DataFrame,
      partitionCols: Seq[String]): Unit = {
    val tmp = path(table) + "__stage"
    val w = df.write.mode("overwrite")
    (if (partitionCols.nonEmpty) w.partitionBy(partitionCols: _*) else w)
      .parquet(tmp)
    val conf = spark.sessionState.newHadoopConf()
    val fs = new org.apache.hadoop.fs.Path(root).getFileSystem(conf)
    fs.delete(new org.apache.hadoop.fs.Path(path(table)), true)
    fs.rename(new org.apache.hadoop.fs.Path(tmp), new org.apache.hadoop.fs.Path(path(table)))
  }

  /** Table maintenance: rewrite `table` z-order-clustered on `dims` —
    * the Delta/Iceberg `OPTIMIZE ... ZORDER BY` move, over this
    * warehouse's plain-parquet layout via [[graft.ops.ZOrderOps]].
    *
    * A date-sorted table prunes scans only on date: every file's
    * min/max on any OTHER column spans the whole domain. After this
    * rewrite each file carries a tight bounding box in EVERY `dims`
    * dimension, so parquet min/max statistics prune single-dimension
    * predicates on any of them (WarehouseSpec proves the bounding-box
    * contraction and row-for-row content equality).
    *
    * `dims` are COLUMN EXPRESSIONS already bucketed into
    * `[0, 2^bits)` — pass e.g. `datediff(col("date"), lit(epoch))`
    * for a date, `pmod(xxhash64(col("ticker")), lit(256))` for a
    * string key ([[graft.ops.ZOrderOps.zValue]] clamps, but a
    * thoughtless raw cast collapses every out-of-range value onto the
    * clamp boundary and destroys the dimension's selectivity).
    *
    * For a hive-partitioned table (`partitionCols`), rows
    * range-partition on (partition columns, z) — so each hive
    * directory's files hold contiguous z-ranges (per-partition
    * OPTIMIZE semantics) and the directory layout is preserved
    * exactly ([[requireLayout]] guards the call like every
    * partitioned write here).
    *
    * Scale shape: ONE pass — the z-value is a codegen'd row-local
    * projection, the range exchange is the standard sampled
    * repartition, the sort is within partitions only (no global
    * sort), and the staged swap never rewrites more than it read.
    * Run it like compaction: periodically, not per append.
    */
  def optimizeZOrder(table: String, dims: Seq[org.apache.spark.sql.Column],
      bits: Int = 8, partitions: Int = 0,
      partitionCols: Seq[String] = Seq.empty): Unit = {
    requireLayout(table, partitionCols)
    val df =
      if (partitionCols.isEmpty) read(table)
      else readPartitionsAsString(table, partitionCols, read(table).schema)
    val nParts =
      if (partitions > 0) partitions
      else spark.sessionState.conf.numShufflePartitions
    val z = graft.ops.ColNames.fresh(df.columns.toSet, "_zorder")
    val keys = partitionCols.map(col) :+ col(z)
    val clustered = df
      .withColumn(z, graft.ops.ZOrderOps.zValue(dims, bits))
      .repartitionByRange(nParts, keys: _*)
      .sortWithinPartitions(keys: _*)
      .drop(z)
    stagedRewrite(table, clustered, partitionCols)
  }

  /** Write `df` as a BUCKETED catalog table at this warehouse's path:
    * rows hash-distribute into `nBuckets` files per write by
    * `bucketCols`, and the bucket spec is recorded in the session
    * catalog — which is what lets Catalyst plan joins and
    * aggregations on the bucket columns WITHOUT an Exchange on the
    * bucketed side(s). Hive partitioning (the layout everywhere else
    * in this warehouse) prunes SCANS; bucketing co-locates JOINS —
    * the two compose, but this entry point covers the join layout.
    *
    * The 100 TB case: two fact tables joined nightly on the same key
    * (prices ⋈ cross-validation on (ticker, date), corpus ⋈ stored
    * fingerprint index on doc key) each pay a full shuffle per run
    * under plain layout — the dominant cost of the join at scale.
    * Bucketed identically on the join key (SAME columns, SAME
    * `nBuckets`), both sides stream bucket-for-bucket with zero
    * exchange, every run, forever; `sortCols` additionally
    * pre-sorts each bucket file so sort-merge joins skip their sort
    * when files-per-bucket is 1. A point predicate on the leading
    * bucket column also prunes to ONE bucket file
    * (`SelectedBucketsCount` in the scan — the WarehouseSpec pin).
    *
    * Bucket metadata lives in the session CATALOG (`saveAsTable` —
    * a path read would see plain parquet and lose the layout), so
    * `catalogName` must be unique per logical table; read back via
    * [[readBucketed]]. `mode` "overwrite" replaces, "append" adds
    * files (Spark enforces the existing bucket spec on append).
    * Choose `nBuckets` for the STEADY-STATE table size (≈ target
    * file count at final scale — buckets are fixed at creation;
    * re-bucket growth through a staged rewrite like [[replace]]).
    */
  def writeBucketed(catalogName: String, df: DataFrame,
      bucketCols: Seq[String], nBuckets: Int,
      sortCols: Seq[String] = Seq.empty,
      mode: String = "overwrite"): Unit = {
    require(bucketCols.nonEmpty, "writeBucketed needs at least one bucket column")
    require(nBuckets >= 1, s"nBuckets must be >= 1 (got $nBuckets)")
    require(mode == "overwrite" || mode == "append",
      s"mode must be overwrite|append (got $mode)")
    val w = df.write.mode(mode).format("parquet")
      .option("path", path(catalogName))
      .bucketBy(nBuckets, bucketCols.head, bucketCols.tail: _*)
    (if (sortCols.nonEmpty) w.sortBy(sortCols.head, sortCols.tail: _*) else w)
      .saveAsTable(catalogName)
  }

  /** Read a [[writeBucketed]] table THROUGH the catalog — the only
    * read that carries the bucket spec into planning. (`read(table)`
    * on the same path returns the rows but plans as plain parquet:
    * every join shuffles again.)
    */
  def readBucketed(catalogName: String): DataFrame = spark.table(catalogName)

  /** A-8: warehouse stats — row count + date span per table (reference
    * `get_database_stats`, `src/database.py:314-327`).
    */
  def stats(table: String, dateCol: Option[String] = None): Map[String, Any] = {
    val df = read(table)
    val base: Map[String, Any] = Map("rows" -> df.count())
    dateCol.fold(base) { d =>
      val r = df.agg(min(col(d)).as("min_d"), max(col(d)).as("max_d")).head()
      base ++ Map("min_date" -> r.get(0), "max_date" -> r.get(1))
    }
  }
}
