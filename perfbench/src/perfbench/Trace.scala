package perfbench

import scala.collection.mutable

import org.apache.spark.scheduler._
import org.apache.spark.sql.execution.{FileSourceScanExec, QueryExecution}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart
import org.apache.spark.sql.util.QueryExecutionListener

/** The graft modules the traced run attributes Spark work to. */
object Layers {
  val Modules: Seq[String] =
    Seq("sources", "ops", "runner", "warehouse", "output", "corpus", "functions", "queries",
      "caches")
  val Unattributed = "unattributed"
  val All: Seq[String] = Modules :+ Unattributed

  /** Layer of the first `graft.*` frame of a long call site. */
  def ofCallSite(callSite: String): Option[String] =
    callSite.linesIterator.map(_.trim.stripPrefix("at ")).collectFirst {
      case f if f.startsWith("graft.") => ofFrame(f)
    }

  private def ofFrame(frame: String): String =
    frame.stripPrefix("graft.").takeWhile(c => c != '.' && c != '$' && c != '(') match {
      case "internal" | "Caches" => "caches"
      case m if Modules.contains(m) => m
      case _ => Unattributed
    }
}

/** Listener pair of the traced run. Jobs are keyed to a layer through
  * their SQL execution: AQE submits stage jobs from its own thread with
  * no user frame, but every such job carries `spark.sql.execution.id`,
  * and the execution's start event carries the long call site of the
  * action that started it. Jobs outside any execution fall back to
  * their first stage's call site.
  *
  * Only work that starts inside a [[span]] counts, so the harness's own
  * reads and checks between operations stay out. Callbacks arrive on
  * the listener-bus thread; readers call [[report]] only after draining
  * the bus.
  */
final class Tracer(dataDir: String) extends SparkListener with QueryExecutionListener {
  private final class Job(val start: Long, val execId: Option[Long], val callSite: String) {
    var end: Long = -1L
    var tasks, runMs, cpuNs, gcMs, shuffleW, shuffleR, spill, input, stages = 0L
  }
  private val jobs = mutable.LinkedHashMap.empty[Int, Job]
  private final case class Exec(root: Long, callSite: String, time: Long)
  private val execs = mutable.Map.empty[Long, Exec]
  private val stageJob = mutable.Map.empty[Int, Int]
  private val spans = mutable.ArrayBuffer.empty[(Long, Long)]
  // (planning start ms, planning ms, fixture scan rows) per executed query
  private val plans = mutable.ArrayBuffer.empty[(Long, Long, Long)]

  /** Runs one timed operation; work it starts is traced. */
  def span[T](body: => T): T = {
    val start = System.currentTimeMillis()
    try body finally synchronized { spans += ((start, System.currentTimeMillis())) }
  }

  private def inSpan(t: Long): Boolean = spans.exists { case (s, e) => t >= s && t <= e }

  override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
    case s: SparkListenerSQLExecutionStart => synchronized {
      execs(s.executionId) = Exec(s.rootExecutionId.getOrElse(s.executionId), s.details, s.time)
    }
    case _ => ()
  }

  override def onJobStart(js: SparkListenerJobStart): Unit = synchronized {
    val execId = Option(js.properties).flatMap(p => Option(p.getProperty("spark.sql.execution.id")))
    val site = js.stageInfos.sortBy(_.stageId).headOption.map(_.details).getOrElse("")
    jobs(js.jobId) = new Job(js.time, execId.map(_.toLong), site)
    js.stageIds.foreach(s => if (!stageJob.contains(s)) stageJob(s) = js.jobId)
  }

  override def onJobEnd(je: SparkListenerJobEnd): Unit = synchronized {
    jobs.get(je.jobId).foreach(_.end = je.time)
  }

  override def onStageCompleted(sc: SparkListenerStageCompleted): Unit = synchronized {
    stageJob.get(sc.stageInfo.stageId).flatMap(jobs.get).foreach(_.stages += 1)
  }

  override def onTaskEnd(te: SparkListenerTaskEnd): Unit = synchronized {
    for (j <- stageJob.get(te.stageId).flatMap(jobs.get); m <- Option(te.taskMetrics)) {
      j.tasks += 1
      j.runMs += m.executorRunTime
      j.cpuNs += m.executorCpuTime
      j.gcMs += m.jvmGCTime
      j.shuffleW += m.shuffleWriteMetrics.bytesWritten
      j.shuffleR += m.shuffleReadMetrics.totalBytesRead
      j.spill += m.diskBytesSpilled
      j.input += m.inputMetrics.bytesRead
    }
  }

  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
    addPlan(qe)

  override def onFailure(funcName: String, qe: QueryExecution, error: Exception): Unit =
    addPlan(qe)

  /** Planning phases and fixture scan rows of one executed query. */
  private def addPlan(qe: QueryExecution): Unit = {
    val phases = qe.tracker.phases.values
    val rows = Tracer.Plans.collectWithSubqueries(qe.executedPlan) {
      case s: FileSourceScanExec
          if s.relation.location.rootPaths.exists(_.toString.contains(dataDir)) =>
        s.metrics.get("numOutputRows").map(_.value).getOrElse(0L)
    }.sum
    if (phases.nonEmpty)
      synchronized {
        plans += ((phases.map(_.startTimeMs).min, phases.map(_.durationMs).sum, rows))
      }
  }

  /** Rows read by scans of the fixture tables inside spans. */
  def fixtureScanRows: Long = synchronized(plans.filter(p => inSpan(p._1)).map(_._3).sum)

  private def layerOf(j: Job): String =
    j.execId.flatMap(execs.get).flatMap { e =>
      Layers.ofCallSite(e.callSite)
        .orElse(execs.get(e.root).flatMap(r => Layers.ofCallSite(r.callSite)))
    }.orElse(Layers.ofCallSite(j.callSite)).getOrElse(Layers.Unattributed)

  /** `spark.*` and `<layer>.*` metrics over `wallS` seconds of traced
    * operations on `cores` cores. Busy time is a union of job
    * intervals, never a sum: concurrent jobs overlap. */
  def report(wallS: Double, cores: Int): Seq[(String, Double)] = synchronized {
    val done = jobs.values.filter(j => j.end >= 0 && inSpan(j.start)).toSeq
    val byLayer = done.groupBy(layerOf)
    val sum = (f: Job => Long) => done.map(f).sum.toDouble
    val busy = Tracer.union(done.map(j => (j.start, j.end))) / 1e3
    val runS = sum(_.runMs) / 1e3
    val mb = 1024.0 * 1024.0
    Seq(
      "spark.jobs" -> done.size.toDouble,
      "spark.stages" -> sum(_.stages),
      "spark.tasks" -> sum(_.tasks),
      "spark.actions" -> execs.count { case (id, e) => e.root == id && inSpan(e.time) }.toDouble,
      "spark.plan_s" -> plans.filter(p => inSpan(p._1)).map(_._2).sum / 1e3,
      "spark.job_busy_s" -> busy,
      "spark.driver_gap_s" -> math.max(0.0, wallS - busy),
      "spark.task_run_s" -> runS,
      "spark.task_cpu_s" -> sum(_.cpuNs) / 1e9,
      "spark.task_gc_s" -> sum(_.gcMs) / 1e3,
      "spark.shuffle_write_mb" -> sum(_.shuffleW) / mb,
      "spark.shuffle_read_mb" -> sum(_.shuffleR) / mb,
      "spark.spill_mb" -> sum(_.spill) / mb,
      "spark.input_mb" -> sum(_.input) / mb,
      "spark.core_util" -> (if (wallS > 0) runS / (wallS * cores) else 0.0)
    ) ++ Layers.All.flatMap { l =>
      val js = byLayer.getOrElse(l, Nil)
      Seq(
        s"$l.busy_s" -> Tracer.union(js.map(j => (j.start, j.end))) / 1e3,
        s"$l.jobs" -> js.size.toDouble,
        s"$l.task_s" -> js.map(_.runMs).sum / 1e3)
    }
  }
}

object Tracer {
  private object Plans extends AdaptiveSparkPlanHelper

  /** `body` as a traced operation when there is a tracer. */
  def span[T](tracer: Option[Tracer])(body: => T): T = tracer.fold(body)(_.span(body))

  /** Total length of the union of `[start, end]` intervals. */
  def union(intervals: Seq[(Long, Long)]): Long = {
    var total, curS, curE = 0L
    var open = false
    for ((s, e) <- intervals.sortBy(_._1)) {
      if (open && s <= curE) curE = math.max(curE, e)
      else {
        if (open) total += curE - curS
        curS = s; curE = e; open = true
      }
    }
    if (open) total += curE - curS
    total
  }
}
