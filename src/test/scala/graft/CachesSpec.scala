package graft

import java.util.concurrent.{CountDownLatch, TimeUnit}

import org.apache.spark.sql.DataFrame
import org.apache.spark.storage.StorageLevel
import org.scalatest.funsuite.AnyFunSuite

class CachesSpec extends AnyFunSuite {
  private val spark = TestSpark.spark
  private val sf = "/root/testdata/sf0.001"

  private def cached(df: DataFrame): Boolean =
    df.storageLevel.useMemory || df.storageLevel.useDisk

  private def persistentRdds: Set[Int] = spark.sparkContext.getPersistentRDDs.keySet.toSet

  test("operator-pinned blocks are released back to baseline") {
    spark.catalog.clearCache()
    val baseline = persistentRdds
    val pinned = Caches.scoped {
      // e6 pins its purchase list; w9 pins the gap-fill input; m1 pins the
      // shingle frame — all through trackedPersist
      for (q <- Seq("e6_interval_join", "w9_gap_fill", "m1_minhash_pairs"))
        queries.Queries.byName(q)(spark, sf).queryExecution.toRdd.count()
      persistentRdds.diff(baseline)
    }
    assert(pinned.nonEmpty, "expected the queries to pin shared lineage")
    val leaked = persistentRdds.diff(baseline)
    assert(leaked.isEmpty, s"blocks leaked past the scope: $leaked")
  }

  test("two interleaved scopes on two threads stay independent") {
    spark.catalog.clearCache()
    val baseline = persistentRdds
    def pin(n: Int) = Caches.trackedPersist(spark.range(n).toDF(), StorageLevel.MEMORY_AND_DISK)
    val bPinned, bClose = new CountDownLatch(1)
    @volatile var b: DataFrame = null
    // A opens and pins, B opens on its own thread and pins, A closes, B closes
    val (a, tenantB) = Caches.scoped {
      val a = pin(50)
      a.count()
      val tenantB = new Thread(() =>
        Caches.scoped { b = pin(60); b.count(); bPinned.countDown(); bClose.await() })
      tenantB.start()
      assert(bPinned.await(60, TimeUnit.SECONDS), "tenant B never pinned")
      assert(persistentRdds.diff(baseline).size === 2)
      (a, tenantB)
    }
    assert(!cached(a), "A released")
    assert(cached(b), "closing one scope must not drop the other's blocks")
    bClose.countDown()
    tenantB.join()
    assert(!cached(b), "B released when its own scope closed")
    assert(persistentRdds.diff(baseline).isEmpty)
  }

  test("closing a scope never touches frames persisted outside it") {
    val mine = spark.range(100).toDF("id").persist()
    mine.count()
    try {
      Caches.scoped {
        // the caller's cache is not the scope's to release, even when an
        // operator pins the same frame again inside the scope
        Caches.trackedPersist(mine, StorageLevel.MEMORY_AND_DISK).count()
        Caches.trackedPersist(spark.range(7).toDF("x"), StorageLevel.MEMORY_AND_DISK).count()
      }
      assert(cached(mine), "closing a scope must not unpersist another job's cache")
    } finally mine.unpersist()
  }

  test("a scope never releases the caller's cached input of the armed selfPairJoin") {
    val df = spark.range(40).selectExpr("id", "id % 3 AS bucket").persist()
    df.count()
    try {
      val pairs = Caches.scoped {
        ops.SkewOps.selfPairJoin(df, Seq("bucket"), "id", hotThreshold = 4, salts = 2).count()
      }
      // buckets of 14, 13 and 13 ids, all past the threshold
      assert(pairs === 14L * 13 / 2 + 2 * (13L * 12 / 2))
      assert(cached(df), "the caller's cache must survive the operator's scope")
    } finally df.unpersist()
  }

  test("registering into a closed scope throws and leaves nothing cached") {
    @volatile var error: Option[Throwable] = None
    val frame = spark.range(5).toDF("late")
    // a thread built inside the scope inherits it; started after the close,
    // it pins into the closed scope
    val late = Caches.scoped(new Thread(() =>
      try Caches.trackedPersist(frame, StorageLevel.MEMORY_AND_DISK)
      catch { case e: Throwable => error = Some(e) }))
    late.start()
    late.join()
    assert(error.exists(_.isInstanceOf[IllegalStateException]), s"got $error")
    assert(!cached(frame), "a refused pin must not stay cached")
  }
}
