package graft.warehouse

import java.nio.file.Files
import org.scalatest.funsuite.AnyFunSuite
import graft.TestSpark

class WarehouseSpec extends AnyFunSuite {
  private val spark = TestSpark.spark
  import spark.implicits._

  private def freshWarehouse() =
    new Warehouse(spark, Files.createTempDirectory("graft_wh").toString)

  private val batch = Seq(
    ("A", "2024-01-01", 10.0),
    ("A", "2024-01-02", 11.0),
    ("B", "2024-01-01", 20.0)
  ).toDF("ticker", "date", "close")

  test("dedupAppend: first append saves all rows") {
    val wh = freshWarehouse()
    assert(wh.dedupAppend("market", batch, Seq("ticker", "date")) === 3L)
    assert(wh.read("market").count() === 3L)
  }

  test("dedupAppend is idempotent (the J-3 invariant)") {
    val wh = freshWarehouse()
    wh.dedupAppend("market", batch, Seq("ticker", "date"))
    assert(wh.dedupAppend("market", batch, Seq("ticker", "date")) === 0L)
    assert(wh.read("market").count() === 3L)
  }

  test("dedupAppend saves only the genuinely new keys of a mixed batch") {
    val wh = freshWarehouse()
    wh.dedupAppend("market", batch, Seq("ticker", "date"))
    val mixed = Seq(
      ("A", "2024-01-01", 99.0), // existing key → dropped
      ("C", "2024-01-01", 30.0)  // new
    ).toDF("ticker", "date", "close")
    assert(wh.dedupAppend("market", mixed, Seq("ticker", "date")) === 1L)
    assert(wh.read("market").count() === 4L)
  }

  test("dedupAppend drops in-batch duplicates before appending") {
    val wh = freshWarehouse()
    val dup = batch.union(batch)
    assert(wh.dedupAppend("market", dup, Seq("ticker", "date")) === 3L)
  }

  test("upsert is last-writer-wins on the key (INSERT OR REPLACE parity)") {
    val wh = freshWarehouse()
    wh.upsert("xval", Seq(("v1", 1.0), ("v2", 2.0)).toDF("validation_id", "x"),
      Seq("validation_id"))
    wh.upsert("xval", Seq(("v2", 99.0), ("v3", 3.0)).toDF("validation_id", "x"),
      Seq("validation_id"))
    val rows = wh.read("xval").orderBy("validation_id")
      .as[(String, Double)].collect()
    assert(rows.toSeq === Seq(("v1", 1.0), ("v2", 99.0), ("v3", 3.0)))
  }

  test("partition-scoped upsert rewrites only the touched partitions") {
    val wh = freshWarehouse()
    val keys = Seq("validation_id", "ticker")
    wh.upsert("xv", Seq(("A_1", "A", 1.0), ("A_2", "A", 2.0), ("B_1", "B", 3.0))
      .toDF("validation_id", "ticker", "x"), keys, Seq("ticker"))
    val fs = wh.read("xv").inputFiles
    assert(fs.forall(_.contains("/ticker=")))
    val bFilesBefore = fs.filter(_.contains("ticker=B")).toSet
    // upsert touching only ticker A: replaces A_1, inserts A_3, keeps A_2 and all of B
    wh.upsert("xv", Seq(("A_1", "A", 99.0), ("A_3", "A", 4.0))
      .toDF("validation_id", "ticker", "x"), keys, Seq("ticker"))
    import org.apache.spark.sql.functions.col
    val rows = wh.read("xv").orderBy("validation_id")
      .select("validation_id", "x").as[(String, Double)].collect()
    assert(rows.toSeq === Seq(("A_1", 99.0), ("A_2", 2.0), ("A_3", 4.0), ("B_1", 3.0)))
    // the B partition's files were not rewritten (same physical paths)
    val bFilesAfter = wh.read("xv").inputFiles.filter(_.contains("ticker=B")).toSet
    assert(bFilesAfter === bFilesBefore, "untouched partition must keep its files")
  }

  test("partition-scoped upsert requires partitionCols within keys") {
    val wh = freshWarehouse()
    val df = Seq(("v1", "A", 1.0)).toDF("validation_id", "ticker", "x")
    intercept[IllegalArgumentException] {
      wh.upsert("xv2", df, Seq("validation_id"), Seq("ticker"))
    }
  }

  test("replace overwrites the whole table (K-10)") {
    val wh = freshWarehouse()
    wh.replace("t", batch)
    wh.replace("t", batch.limit(1))
    assert(wh.read("t").count() === 1L)
  }

  test("stats reports row count and date span") {
    val wh = freshWarehouse()
    wh.replace("t", batch.selectExpr("ticker", "CAST(date AS DATE) AS date", "close"))
    val s = wh.stats("t", Some("date"))
    assert(s("rows") === 3L)
    assert(s("min_date") === java.sql.Date.valueOf("2024-01-01"))
    assert(s("max_date") === java.sql.Date.valueOf("2024-01-02"))
  }

  test("partitioned dedupAppend survives type-ambiguous partition values") {
    val wh = freshWarehouse()
    // "01" would be retyped to int 1 by partition-column type inference;
    // the anti-join must still see the original string and stay idempotent
    val tricky = Seq(("01", "2024-01-01", 1.0), ("1", "2024-01-01", 2.0),
      ("2024-01-05", "2024-01-01", 3.0)) // date-like string key
      .toDF("ticker", "date", "close")
    assert(wh.dedupAppend("tw", tricky, Seq("ticker", "date"), Seq("ticker")) === 3L)
    // re-appending the same batch must be a no-op for EVERY key form:
    // "01" vs "1" must stay distinct, date-like strings must stay strings
    assert(wh.dedupAppend("tw", tricky, Seq("ticker", "date"), Seq("ticker")) === 0L)
    assert(wh.dedupAppend("tw", tricky, Seq("ticker", "date"), Seq("ticker")) === 0L)
  }

  test("partitioned dedupAppend on an integer partition key round-trips") {
    val wh = freshWarehouse()
    val b = Seq((7, "2024-01-01", 1.0), (70, "2024-01-02", 2.0))
      .toDF("suppkey", "date", "close")
    assert(wh.dedupAppend("iw", b, Seq("suppkey", "date"), Seq("suppkey")) === 2L)
    assert(wh.dedupAppend("iw", b, Seq("suppkey", "date"), Seq("suppkey")) === 0L)
    import org.apache.spark.sql.types.IntegerType
    assert(wh.read("iw").schema("suppkey").dataType === IntegerType)
  }

  test("concurrent partitioned writes on two tables leave the session confs as they were") {
    val keys = Seq("spark.sql.sources.partitionColumnTypeInference.enabled",
      "spark.sql.sources.partitionOverwriteMode")
    // effective value and whether the session sets it explicitly
    def confs = keys.map(k => (spark.conf.get(k), spark.conf.getAll.get(k)))
    val before = confs
    val wh = freshWarehouse()
    val pool = java.util.concurrent.Executors.newFixedThreadPool(2)
    try (1 to 3).foreach { i =>
      val append = pool.submit(() => wh.dedupAppend("ca",
        Seq(("01", s"2024-01-0$i", 1.0), ("1", "2024-01-01", 2.0))
          .toDF("ticker", "date", "close"), Seq("ticker", "date"), Seq("ticker")))
      val upsert = pool.submit { () =>
        wh.upsert("cu", Seq((s"A_$i", "A", i.toDouble), ("B_1", "B", i.toDouble))
          .toDF("validation_id", "ticker", "x"), Seq("validation_id", "ticker"), Seq("ticker"))
        i
      }
      assert(append.get() === (if (i == 1) 2L else 1L))
      upsert.get()
    } finally pool.shutdown()
    assert(confs === before)
    assert(wh.read("cu").orderBy("validation_id").select("validation_id", "x")
      .as[(String, Double)].collect().toSeq ===
      Seq(("A_1", 1.0), ("A_2", 2.0), ("A_3", 3.0), ("B_1", 3.0)))
  }

  test("dedupAppend releases its staged cache when the write fails") {
    val wh = freshWarehouse()
    // parquet cannot store a calendar interval: the write fails after the
    // staged frame was cached and counted
    val bad = batch.selectExpr("*", "make_interval(0, 0, 0, 1, 0, 0, 0) AS iv")
    val persisted = spark.sparkContext.getPersistentRDDs.size
    intercept[Exception](wh.dedupAppend("bad", bad, Seq("ticker", "date")))
    assert(spark.sparkContext.getPersistentRDDs.size === persisted)
  }

  test("partitioned write onto an unpartitioned table fails fast (no mixed layout)") {
    val wh = freshWarehouse()
    wh.dedupAppend("mx", batch, Seq("ticker", "date")) // unpartitioned layout
    intercept[IllegalArgumentException] {
      wh.dedupAppend("mx", batch, Seq("ticker", "date"), Seq("ticker"))
    }
    // and the reverse: unpartitioned append onto a partitioned table
    val wh2 = freshWarehouse()
    wh2.dedupAppend("mx2", batch, Seq("ticker", "date"), Seq("ticker"))
    intercept[IllegalArgumentException] {
      wh2.dedupAppend("mx2", batch, Seq("ticker", "date"))
    }
    // and a DIFFERENT partition column than the on-disk layout
    intercept[IllegalArgumentException] {
      wh2.dedupAppend("mx2", batch, Seq("ticker", "date"), Seq("date"))
    }
  }

  test("layout guard sees past the first partition level") {
    // disk ticker=/date= vs append Seq("ticker"): same first level, so a
    // first-level-only check would wave it through and interleave
    // one-level files inside two-level dirs
    val wh = freshWarehouse()
    wh.dedupAppend("ml", batch, Seq("ticker", "date"), Seq("ticker", "date"))
    intercept[IllegalArgumentException] {
      wh.dedupAppend("ml", batch, Seq("ticker", "date"), Seq("ticker"))
    }
    // and the reverse: disk Seq("ticker") vs append Seq("ticker","date")
    val wh2 = freshWarehouse()
    wh2.dedupAppend("ml2", batch, Seq("ticker", "date"), Seq("ticker"))
    intercept[IllegalArgumentException] {
      wh2.dedupAppend("ml2", batch, Seq("ticker", "date"), Seq("ticker", "date"))
    }
    // matching two-level appends still work (idempotent)
    assert(wh.dedupAppend("ml", batch, Seq("ticker", "date"), Seq("ticker", "date")) === 0L)
  }

  test("already-mixed sibling partition columns are rejected, not chain-validated") {
    // simulate out-of-band corruption: ticker= and date= dirs side by
    // side at the root; the guard must refuse EVERY partitioned append,
    // not follow whichever chain the directory listing yields first
    val root = Files.createTempDirectory("graft_wh_mix").toString
    val wh = new Warehouse(spark, root)
    wh.dedupAppend("mix", batch, Seq("ticker", "date"), Seq("ticker"))
    batch.limit(1).write.parquet(s"$root/mix/date=2024-01-01")
    val e = intercept[IllegalArgumentException] {
      wh.dedupAppend("mix", batch, Seq("ticker", "date"), Seq("ticker"))
    }
    assert(e.getMessage.contains("CONFLICTING"), e.getMessage)
  }

  test("empty-string partition values are rejected (hive reads them back as null)") {
    val wh = freshWarehouse()
    val b = Seq(("", "2024-01-01", 1.0)).toDF("ticker", "date", "close")
    intercept[IllegalArgumentException] {
      wh.dedupAppend("es", b, Seq("ticker", "date"), Seq("ticker"))
    }
  }

  test("partitioned dedupAppend rejects partition types that cannot round-trip") {
    val wh = freshWarehouse()
    val b = Seq((1.5, "2024-01-01", 1.0)).toDF("px", "date", "close")
    intercept[IllegalArgumentException] {
      wh.dedupAppend("dw", b, Seq("px", "date"), Seq("px"))
    }
  }

  test("optimizeZOrder: tight file bounding boxes on the SECOND dimension; content identical") {
    import org.apache.spark.sql.functions.{col, lit, min, max, pmod}
    val wh = freshWarehouse()
    // the "date-sorted" starting layout: d1 is the write-order column
    // (files partition cleanly on it), d2 is an unrelated bounded key —
    // every file's [min,max] on d2 spans essentially the whole domain,
    // so a d2 predicate can prune NOTHING
    val n = 1 << 16
    val df = spark.range(n).select(
      (col("id") / lit(256)).cast("long").as("d1"),
      pmod(col("id") * lit(2654435761L), lit(256)).as("d2"),
      col("id").as("payload"))
    wh.replace("zt",
      df.repartitionByRange(16, col("d1")).sortWithinPartitions("d1"))
    def boxes(dim: String): Seq[(Long, Long)] =
      wh.read("zt").inputFiles.toSeq.map { f =>
        val r = spark.read.parquet(f)
          .agg(min(col(dim)).as("lo"), max(col(dim)).as("hi")).head()
        (r.getLong(0), r.getLong(1))
      }
    val before = boxes("d2")
    assert(before.size >= 8, s"need a multi-file table, got ${before.size}")
    assert(before.forall { case (lo, hi) => lo <= 42 && 42 <= hi },
      "date-sorted layout: a d2 point predicate must overlap EVERY file " +
        "(nothing prunable — the condition this rewrite exists to fix)")
    val rowsBefore = wh.read("zt").select("d1", "d2", "payload")
      .as[(Long, Long, Long)].collect().sorted.toSeq
    wh.optimizeZOrder("zt", Seq(col("d1"), col("d2")), bits = 8,
      partitions = 16)
    // row-for-row content equality — layout is the ONLY thing that moved
    val rowsAfter = wh.read("zt").select("d1", "d2", "payload")
      .as[(Long, Long, Long)].collect().sorted.toSeq
    assert(rowsAfter === rowsBefore)
    // z-ordered layout: the same point predicate overlaps a MINORITY of
    // files — these [min,max] boxes are exactly what parquet min/max
    // pruning consumes, so this is the pruning win, measured
    val after = boxes("d2")
    assert(after.size >= 8)
    val hits = after.count { case (lo, hi) => lo <= 42 && 42 <= hi }
    assert(hits * 2 <= after.size,
      s"z-order must shrink d2 bounding boxes: $hits of ${after.size} " +
        "files still overlap d2=42")
  }

  test("optimizeZOrder preserves a hive-partitioned layout; appends keep working") {
    import org.apache.spark.sql.functions.{col, lit, pmod, xxhash64}
    val wh = freshWarehouse()
    wh.dedupAppend("pz", batch, Seq("ticker", "date"), Seq("ticker"))
    wh.optimizeZOrder("pz",
      Seq(pmod(xxhash64(col("date")), lit(256)),
        pmod(xxhash64(col("close").cast("string")), lit(256))),
      bits = 8, partitions = 2, partitionCols = Seq("ticker"))
    val rows = wh.read("pz").select("ticker", "date", "close")
      .as[(String, String, Double)].collect().toSet
    assert(rows === batch.as[(String, String, Double)].collect().toSet)
    assert(new java.io.File(wh.read("pz").inputFiles.head)
      .getParentFile.getName.startsWith("ticker="),
      "hive layout must survive the rewrite")
    // the layout guard still recognizes the table: appends continue
    val more = Seq(("C", "2024-01-03", 30.0)).toDF("ticker", "date", "close")
    assert(wh.dedupAppend("pz", more, Seq("ticker", "date"), Seq("ticker")) === 1L)
  }

  test("partitioned dedupAppend prunes the anti-join scan to touched partitions") {
    val wh = freshWarehouse()
    wh.dedupAppend("pmarket", batch, Seq("ticker", "date"), Seq("ticker"))
    // second append touches only ticker A -> existing-side scan must
    // carry a partition filter on ticker, and dedup still holds
    val more = Seq(("A", "2024-01-01", 99.0), ("A", "2024-01-09", 12.0))
      .toDF("ticker", "date", "close")
    assert(wh.dedupAppend("pmarket", more, Seq("ticker", "date"), Seq("ticker")) === 1L)
    val all = wh.read("pmarket")
    assert(all.count() === 4L)
    // partition layout on disk: hive-style ticker= dirs
    val dirs = new java.io.File(wh.read("pmarket").inputFiles.head).getParentFile.getName
    assert(dirs.startsWith("ticker="))
    // pruned read: filtering one ticker shows PartitionFilters in the scan
    val plan = all.filter($"ticker" === "A").queryExecution.executedPlan.toString
    assert(plan.contains("PartitionFilters: [isnotnull(ticker"), plan)
  }

  test("writeBucketed: co-located join plans with ZERO exchange; bucket pruning on point reads") {
    val wh = freshWarehouse()
    val left = (0L until 200L).map(i => (i, s"t$i", i * 1.5)).toDF("id", "name", "v")
    val right = (0L until 200L by 2L).map(i => (i, i * 10.0)).toDF("id", "w")
    spark.sql("DROP TABLE IF EXISTS bkt_left"); spark.sql("DROP TABLE IF EXISTS bkt_right")
    wh.writeBucketed("bkt_left", left, Seq("id"), nBuckets = 8, sortCols = Seq("id"))
    wh.writeBucketed("bkt_right", right, Seq("id"), nBuckets = 8, sortCols = Seq("id"))
    val prevThreshold = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try {
      val joined = wh.readBucketed("bkt_left")
        .join(wh.readBucketed("bkt_right"), Seq("id"))
      val rows = joined.collect()
      assert(rows.length === 100)
      // the point of the layout: NO exchange anywhere in the join plan —
      // both sides stream bucket-for-bucket
      val plan = joined.queryExecution.executedPlan.toString
      assert(!plan.contains("Exchange"), s"bucketed join still shuffles:\n$plan")
      // row-parity with the plain-layout join
      val plain = left.join(right, Seq("id")).collect()
      assert(rows.map(_.toString).sorted.toSeq === plain.map(_.toString).sorted.toSeq)
      // a point predicate on the bucket column prunes to ONE bucket file.
      // (The auto-bucketed-scan heuristic turns bucketed scans off when
      // no operator needs the distribution — flip it for the pin, since
      // a bare point read is exactly that case.)
      spark.conf.set("spark.sql.sources.bucketing.autoBucketedScan.enabled", "false")
      val point = wh.readBucketed("bkt_left").filter($"id" === 42L)
      assert(point.collect().map(_.getLong(0)).toSeq === Seq(42L))
      val pplan = point.queryExecution.executedPlan.toString
      assert(pplan.contains("SelectedBucketsCount: 1 out of 8"), pplan)
      spark.conf.unset("spark.sql.sources.bucketing.autoBucketedScan.enabled")
      // append respects the existing bucket spec and stays exchange-free
      wh.writeBucketed("bkt_right", Seq((1L, 999.0)).toDF("id", "w"),
        Seq("id"), nBuckets = 8, sortCols = Seq("id"), mode = "append")
      val joined2 = wh.readBucketed("bkt_left")
        .join(wh.readBucketed("bkt_right"), Seq("id"))
      assert(joined2.count() === 101)
      assert(!joined2.queryExecution.executedPlan.toString.contains("Exchange"))
    } finally {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prevThreshold)
      spark.conf.unset("spark.sql.sources.bucketing.autoBucketedScan.enabled")
      spark.sql("DROP TABLE IF EXISTS bkt_left")
      spark.sql("DROP TABLE IF EXISTS bkt_right")
    }
  }
}
