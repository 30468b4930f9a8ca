package graft

import java.nio.file.{Files, Paths}

import org.apache.spark.scheduler.{SparkListener, SparkListenerEvent, SparkListenerJobEnd, SparkListenerJobStart, SparkListenerStageCompleted, SparkListenerTaskEnd}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart
import org.apache.spark.sql.graftbridge.Bridge

import scala.collection.mutable

/** Developer entry point for ONE registry query, run under the bench
  * discipline (released caches, System.gc, `toRdd.count`):
  *
  *  - `profile <query> [iters]`: per Spark stage, the summed task run,
  *    CPU and GC time, wall, input, shuffle read/write and spill, with
  *    the stage's graft callsite, plus the job timeline's driver gaps
  *    (wall between jobs: planning, optimizer, collect). Collected by a
  *    SparkListener, so it works with the UI off.
  *  - `plan <query> <outFile>`: the EXECUTED (final adaptive) plan string.
  *    It can differ from the pre-execution plan (AQE join-side flips,
  *    coalesced reads), and for the big corpus queries it prints in
  *    seconds where `explain("formatted")` walks nested InMemoryRelation
  *    subtrees for minutes.
  *  - `explain <query> [--count]`: the formatted physical plan, without
  *    executing; `--count` also executes it and prints the row count.
  *
  * usage: runMain graft.Dev <profile|plan|explain> <query> [...]
  *   SPARK_GRAFT_SF_DIR picks the data dir (default sf0.1)
  */
object Dev {
  private val usage =
    "usage: Dev profile <query> [iters] | plan <query> <outFile> | explain <query> [--count]"

  def main(args: Array[String]): Unit = {
    val (flags, pos) = args.partition(_.startsWith("--"))
    require(pos.length >= 2 && Set("profile", "plan", "explain")(pos(0)), usage)
    require(pos(0) != "plan" || pos.length >= 3, usage)
    val name = pos(1)
    val fn = SparkEntry.queries.getOrElse(name, sys.error(
      s"unknown query '$name'; known: ${SparkEntry.queries.keys.toSeq.sorted.mkString(", ")}"))
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val spark = Sessions.local()
    try pos(0) match {
      case "profile" =>
        Sessions.warm(spark, sfDir)
        profile(spark, name, pos.lift(2).map(_.toInt).getOrElse(2), () => fn(spark, sfDir))
      case "plan" => fresh(spark) {
        val t0 = System.nanoTime()
        val df = fn(spark, sfDir)
        df.queryExecution.toRdd.count()
        val wall = (System.nanoTime() - t0) / 1e9
        val plan = df.queryExecution.executedPlan.toString
        Files.writeString(Paths.get(pos(2)),
          f"=== FINAL EXECUTED PLAN $name sf=$sfDir wall=$wall%.2f s ===%n" + plan)
        println(f"[finalplan] $name wall=$wall%.2f s  plan_chars=${plan.length} -> ${pos(2)}")
      }
      case "explain" => fresh(spark) {
        val df = fn(spark, sfDir)
        df.explain("formatted")
        if (flags.contains("--count")) println(s"ROWS=${df.count()}")
      }
    } finally spark.stop()
  }

  /** Every run starts cold (no cache of an earlier run, settled heap) and
    * runs in its own scope, whose close releases the query's pins.
    */
  private def fresh[T](spark: SparkSession)(run: => T): T = {
    spark.catalog.clearCache()
    System.gc()
    Caches.scoped(run)
  }

  private final case class StageAgg(
      var name: String = "", var tasks: Int = 0, var runTimeMs: Long = 0L,
      var cpuTimeMs: Long = 0L, var gcTimeMs: Long = 0L, var shuffleReadB: Long = 0L,
      var shuffleWriteB: Long = 0L, var inputB: Long = 0L, var spillB: Long = 0L,
      var wallMs: Long = 0L, var site: String = "")

  private def profile(spark: SparkSession, name: String, iters: Int,
      build: () => DataFrame): Unit = {
    val stages = mutable.LinkedHashMap.empty[Int, StageAgg]
    // job timeline: (submitMs, endMs) — wall not covered by any job is
    // DRIVER time, which stage metrics cannot see
    val jobs = mutable.ArrayBuffer.empty[(Long, Long)]
    val jobStart = mutable.HashMap.empty[Int, Long]
    // the listener runs on the asynchronous bus thread: the bus is drained
    // before `collecting` flips false, so no task-end event of a measured
    // run is dropped or leaks into the next iteration
    @volatile var collecting = false
    def agg(stageId: Int): StageAgg = stages.synchronized(stages.getOrElseUpdate(stageId, StageAgg()))
    // SQL execution id -> (root execution id, long call site), and each
    // stage's execution: broadcast and AQE stages are submitted from
    // Spark's own threads, so their call site holds no graft frame, but
    // their job carries the execution id of the action that started them
    val execs = mutable.HashMap.empty[Long, (Long, String)]
    val stageExec = mutable.HashMap.empty[Int, Long]
    // graft frames only, minus the profiler's own and the scope it runs in
    def graftFrames(callSite: String): String = callSite.linesIterator
      .filter(l => l.contains("graft.") && !l.contains("(Dev.scala") && !l.contains("Caches$.scoped"))
      .map(_.trim.stripPrefix("at ")).take(3).mkString(" <- ")
    spark.sparkContext.addSparkListener(new SparkListener {
      override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
        case x: SparkListenerSQLExecutionStart => execs.synchronized {
          execs(x.executionId) = (x.rootExecutionId.getOrElse(x.executionId), x.details); ()
        }
        case _ => ()
      }
      override def onJobStart(j: SparkListenerJobStart): Unit = if (collecting) {
        jobs.synchronized { jobStart(j.jobId) = j.time }
        Option(j.properties).flatMap(p => Option(p.getProperty("spark.sql.execution.id")))
          .foreach(id => execs.synchronized(j.stageIds.foreach(stageExec(_) = id.toLong)))
      }
      override def onJobEnd(j: SparkListenerJobEnd): Unit = if (collecting)
        jobs.synchronized { jobStart.remove(j.jobId).foreach(t0 => jobs += ((t0, j.time))) }
      override def onTaskEnd(t: SparkListenerTaskEnd): Unit = if (collecting) {
        val a = agg(t.stageId)
        val m = t.taskMetrics
        if (m != null) a.synchronized {
          a.tasks += 1
          a.runTimeMs += m.executorRunTime
          a.cpuTimeMs += m.executorCpuTime / 1000000L
          a.gcTimeMs += m.jvmGCTime
          a.shuffleReadB += m.shuffleReadMetrics.totalBytesRead
          a.shuffleWriteB += m.shuffleWriteMetrics.bytesWritten
          a.inputB += m.inputMetrics.bytesRead
          a.spillB += m.memoryBytesSpilled
        }
      }
      override def onStageCompleted(s: SparkListenerStageCompleted): Unit = if (collecting) {
        val a = agg(s.stageInfo.stageId)
        a.synchronized {
          a.name = s.stageInfo.name.takeWhile(_ != '\n')
          // the long-form callsite (graft frames only) attributes the stage
          // to the OPERATOR that created it; a stage submitted from a
          // broadcast or AQE thread takes its execution's call site, or
          // the root execution's for a nested one. The profiled plan itself
          // runs through toRdd, outside any SQL execution, so its stages
          // carry neither and are labelled as the query's own
          val exec = execs.synchronized {
            stageExec.get(s.stageInfo.stageId).flatMap(execs.get).toSeq
              .flatMap { case (root, site) => Seq(site) ++ execs.get(root).map(_._2) }
          }
          a.site = (s.stageInfo.details +: exec).iterator.map(graftFrames)
            .find(_.nonEmpty)
            .getOrElse(if (exec.isEmpty) s"graft.Dev profile $name: the query's own plan" else "")
          a.wallMs = (for {
            c <- s.stageInfo.completionTime
            b <- s.stageInfo.submissionTime
          } yield c - b).getOrElse(0L)
        }
      }
    })
    for (iter <- 1 to iters) {
      stages.synchronized(stages.clear())
      val wall = fresh(spark) {
        collecting = true
        val t0 = System.nanoTime()
        build().queryExecution.toRdd.count()
        val w = (System.nanoTime() - t0) / 1e9
        Bridge.flushListenerBus(spark.sparkContext)
        collecting = false
        w
      }
      println(f"%n[profile] $name iter $iter wall=$wall%.2f s  (stages by summed task run time)")
      println(f"[profile] ${"stage"}%-7s ${"tasks"}%5s ${"run_s"}%8s ${"cpu_s"}%8s ${"gc_s"}%6s ${"wall_s"}%7s ${"in_MB"}%8s ${"shR_MB"}%8s ${"shW_MB"}%8s ${"spill_MB"}%8s  name")
      val rows = stages.synchronized(stages.toSeq).sortBy(-_._2.runTimeMs)
      for ((id, a) <- rows.take(25)) {
        println(f"[profile] $id%-7d ${a.tasks}%5d ${a.runTimeMs / 1e3}%8.2f ${a.cpuTimeMs / 1e3}%8.2f ${a.gcTimeMs / 1e3}%6.2f ${a.wallMs / 1e3}%7.2f ${a.inputB / 1e6}%8.1f ${a.shuffleReadB / 1e6}%8.1f ${a.shuffleWriteB / 1e6}%8.1f ${a.spillB / 1e6}%8.1f  ${a.name.take(70)}")
        if (a.site.nonEmpty) println(s"[profile]    site: ${a.site.take(240)}")
      }
      val tot = rows.map(_._2.runTimeMs).sum / 1e3
      val totIn = rows.map(_._2.inputB).sum / 1e6
      val totSh = rows.map(_._2.shuffleReadB).sum / 1e6
      println(f"[profile] TOTAL task-run=$tot%.2f s  input=$totIn%.1f MB  shuffleRead=$totSh%.1f MB  nstages=${rows.size}")
      // wall covered by >=1 running job vs uncovered (driver-only) wall:
      // merge the job intervals and measure the holes
      val iv = jobs.synchronized { val j = jobs.toSeq.sortBy(_._1); jobs.clear(); j }
      var covered = 0L
      var holes = 0L
      var cursor = 0L
      for ((s0, e0) <- iv) {
        val s = math.max(s0, cursor)
        if (cursor > 0 && s0 > cursor) holes += s0 - cursor
        if (e0 > s) covered += e0 - s
        cursor = math.max(cursor, e0)
      }
      println(f"[profile] JOBS n=${iv.size}  covered=${covered / 1e3}%.2f s  driver-gaps=${holes / 1e3}%.2f s  (gaps = wall between jobs: planning/optimizer/collect)")
    }
  }
}
