package graft
import java.nio.file.{Files, Paths}
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. */
object Verify {
  def main(args: Array[String]): Unit = {
    val Array(sfDir, outDir) = args.take(2)
    // optional 3rd arg: comma-separated query-name filter (local iteration)
    val only: Option[Set[String]] = args.drop(2).headOption.map(_.split(",").toSet)
    val spark = Sessions.local()
    new java.io.File(outDir).mkdirs()
    SparkEntry.queries
      .filter { case (name, _) => only.forall(_.contains(name)) }
      .foreach { case (name, fn) =>
      val t0 = System.nanoTime()
      var persisted: Option[org.apache.spark.sql.DataFrame] = None
      try {
        val df = fn(spark, sfDir)
        // materialize in parallel first: coalesce(1) is narrow, so writing
        // directly would run the whole final stage (sort+windows+write) as
        // ONE task. Cached partitions then merge in index order — the
        // global sort survives — and the single write task only serializes.
        df.persist()
        persisted = Some(df)
        df.count()
        df.coalesce(1).write.mode("overwrite").parquet(s"$outDir/$name")
        System.err.println(f"[verify] $name ok in ${(System.nanoTime() - t0) / 1e9}%.1fs")
      } catch { case e: Throwable =>
        System.err.println(s"[verify] $name failed: ${e.getMessage}")
      } finally {
        persisted.foreach(_.unpersist())
        // several operators persist() shared lineage internally; drop
        // those blocks so the cache cannot grow across the full registry.
        // releaseAll also drains the tracked-pin registry (clearCache
        // alone would leave the plan handles queued for the session).
        Caches.releaseAll()
        spark.catalog.clearCache()
      }
    }
    // render via the shared JSON layer (escapes control chars — a tab or
    // CR in builder-authored SQL would otherwise break the driver's
    // json.load and silently zero the round's correctness).
    import graft.output.Json.{JObj, JStr, JValue}
    val json = JObj(SparkEntry.oracleSql.toSeq
      .map { case (k, v) => k -> (JStr(v): JValue) }).render
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    spark.stop()
  }
}
