package graft.streaming

import org.apache.spark.sql.streaming.Trigger

/** Minimal runnable streaming entry: incremental hourly aggregation over
  * the events table with AvailableNow (process-everything-then-stop), the
  * batch-parity mode a backfill job would use.
  *
  * Usage: runMain graft.streaming.StreamDemo [sfDir]
  */
object StreamDemo {
  def main(args: Array[String]): Unit = {
    val dir = args.headOption.getOrElse("/root/testdata/sf0.001")
    val spark = graft.Sessions.local()

    val q = EventStreams.hourlyCounts(EventStreams.readEvents(spark, dir, streaming = true))
      .writeStream.format("memory").queryName("hourly")
      .outputMode("complete").trigger(Trigger.AvailableNow()).start()
    q.awaitTermination()

    val stream = spark.table("hourly")
    val batch = EventStreams.hourlyCounts(EventStreams.readEvents(spark, dir, streaming = false))
    println(s"stream_rows=${stream.count()} batch_rows=${batch.count()}")
    println(s"parity=${stream.exceptAll(batch).isEmpty && batch.exceptAll(stream).isEmpty}")
    stream.orderBy("window_start", "event_type").show(5)

    val sessions = EventStreams.userSessions(EventStreams.readEvents(spark, dir, streaming = false))
    println(s"sessions=${sessions.count()}")

    // custom state (flatMapGroupsWithState): per-user running totals,
    // streamed incrementally with AvailableNow
    val rt = EventStreams.userRunningTotals(
        EventStreams.readEvents(spark, dir, streaming = true), emitEvery = 50L)
      .writeStream.format("memory").queryName("running")
      .outputMode("append").trigger(Trigger.AvailableNow()).start()
    rt.awaitTermination()
    println(s"running_total_checkpoints=${spark.table("running").count()}")
    spark.stop()
  }
}
