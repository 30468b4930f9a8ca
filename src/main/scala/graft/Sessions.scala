package graft

import org.apache.spark.sql.SparkSession

/** The one source of graft's local session settings. Every main and the
  * test session build through [[local]], so the session Bench times, the
  * one Verify checks and the one the specs run cannot drift apart in date
  * semantics, timestamp reads or partition count.
  */
object Sessions {
  /** `local[cpus]` with shuffle partitions equal to cpus, UTC session
    * time and UI off. `cpus` defaults to SPARK_GRAFT_CPUS, else every
    * available processor.
    */
  def local(cpus: Int = sys.env.get("SPARK_GRAFT_CPUS").map(_.toInt)
      .getOrElse(Runtime.getRuntime.availableProcessors)): SparkSession =
    SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus.toLong)
      .config("spark.sql.session.timeZone", "UTC")
      // harmless for TIMESTAMP(MICROS) events.parquet; required for the
      // TIMESTAMP(NANOS) generation (Queries.events and
      // EventStreams.readEvents branch on the observed footer schema —
      // the session just has to allow the nanos read)
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.ui.enabled", "false")
      .getOrCreate()

  /** JVM, codegen and file-cache warm-up over the three largest tables,
    * so timings that follow measure the queries rather than first-job
    * startup.
    */
  def warm(spark: SparkSession, sfDir: String): Unit =
    for (t <- Seq("lineitem", "documents", "embeddings"))
      spark.read.parquet(s"$sfDir/$t.parquet").count()
}
