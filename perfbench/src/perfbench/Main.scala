package perfbench

import java.nio.file.{Files, Paths}

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.SparkSession

/** One closed-loop operation: a request or an ingest night. */
final case class Op(seconds: Double, items: Long, ok: Boolean)

/** Storage and retention census, taken after every operation: files
  * under the workload's state directories, persistent RDDs and the
  * storage they hold. */
final class Census(spark: SparkSession) {
  var persistentRddsMax = 0
  var retainedMbMax = 0.0
  /** Latest (files, bytes, parquet files) per state directory. */
  val dirs = mutable.Map.empty[String, (Long, Long, Long)]

  def record(stateDirs: String*): Unit = {
    val sc = spark.sparkContext
    persistentRddsMax = math.max(persistentRddsMax, sc.getPersistentRDDs.size)
    val bytes = sc.getRDDStorageInfo.map(i => i.memSize + i.diskSize).sum
    retainedMbMax = math.max(retainedMbMax, bytes / (1024.0 * 1024.0))
    stateDirs.foreach(d => dirs(d) = Census.files(d))
  }
}

object Census {
  private def files(dir: String): (Long, Long, Long) = {
    val p = Paths.get(dir)
    if (!Files.exists(p)) (0L, 0L, 0L)
    else {
      val s = Files.walk(p)
      try s.iterator().asScala.filter(Files.isRegularFile(_)).foldLeft((0L, 0L, 0L)) {
        case ((n, b, pq), f) =>
          (n + 1, b + Files.size(f), pq + (if (f.toString.endsWith(".parquet")) 1 else 0))
      } finally s.close()
    }
  }
}

/** The result of one pass of a workload over a fresh state directory:
  * its operations, its own per-layer readings, and the output checks
  * that need Spark, run after tracing stops; they return the indexes of
  * operations whose output was wrong. */
final case class Pass(ops: Seq[Op], layer: Seq[(String, Double)], check: () => Set[Int]) {
  def checked(): Seq[Op] = {
    val bad = check()
    ops.zipWithIndex.map { case (o, i) => if (bad(i)) o.copy(ok = false) else o }
  }
}

trait Workload {
  /** Write the seeded fixture tables, or with `forWarmUp` the warm-up's
    * own, drawn from another seed. */
  def prepare(dataDir: String, forWarmUp: Boolean): Unit
  /** Run a few operations on the warm-up fixtures against `stateDir` to warm
    * JIT, codegen and caches. */
  def warmUp(dataDir: String, stateDir: String): Unit
  /** Run operations until `deadline` (nanoTime) passes or `maxOps` ran,
    * against an empty `stateDir`. `tracer` is set on the traced pass. */
  def pass(dataDir: String, stateDir: String, deadline: Long, maxOps: Int,
      tracer: Option[Tracer], census: Census): Pass
}

object Main {
  def main(argv: Array[String]): Unit = {
    val started = System.nanoTime()
    val since = (t0: Long) => (System.nanoTime() - t0) / 1e9
    val opts = argv.grouped(2).collect {
      case Array(k, v) if k.startsWith("--") => k.drop(2) -> v
    }.toMap
    def opt(k: String) = opts.getOrElse(k, sys.error(s"missing --$k"))
    val workload = opt("workload")
    val seed = opt("seed").toLong
    val seconds = opt("seconds").toDouble
    val trace = opt("trace") == "1"
    val work = Paths.get(opt("work")).toAbsolutePath.toString
    val cpus = Runtime.getRuntime.availableProcessors

    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .appName(s"perfbench-$workload")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", s"$work/spark-local")
      .config("spark.sql.warehouse.dir", s"$work/spark-warehouse")
      .getOrCreate()
    val sessionS = since(started)

    val wl: Workload = workload match {
      case "requests" => new Requests(spark, seed)
      case "ingest" => new Ingest(spark, seed)
      case other => sys.error(s"unknown workload $other")
    }
    // set-up: session start, fixture preparation, and a warm-up on its
    // own fixtures in a throwaway directory; the warm-up runs while the full
    // fixtures are written, since both are mostly first-use costs of the
    // JVM and Spark
    val dataDir = s"$work/data"
    var warmS = 0.0
    val warm = new Thread(() => {
      val t0 = System.nanoTime()
      wl.prepare(s"$work/warm_data", forWarmUp = true)
      wl.warmUp(s"$work/warm_data", s"$work/warm")
      warmS = since(t0)
    }, "perfbench-warm-up")
    var warmFailure: Option[Throwable] = None
    warm.setUncaughtExceptionHandler((_, e) => warmFailure = Some(e))
    warm.start()
    val fixturesStart = System.nanoTime()
    wl.prepare(dataDir, forWarmUp = false)
    val fixturesS = since(fixturesStart)
    warm.join()
    warmFailure.foreach(e => throw e)
    val setupS = since(started)
    log(f"set-up $setupS%.2f s (session $sessionS%.2f s, fixtures $fixturesS%.2f s, " +
      f"warm-up $warmS%.2f s)")
    val census = new Census(spark)
    val deadline = (s: Double) => System.nanoTime() + (s * 1e9).toLong

    val (ops, metrics) =
      if (!trace) {
        val p = wl.pass(dataDir, s"$work/state", deadline(seconds), Int.MaxValue, None, census)
        val lat = p.ops.map(_.seconds)
        (p.checked(), Seq(
          ("op_p50_s", median(lat), "s"),
          ("items_per_s", p.ops.map(_.items).sum / lat.sum, "1/s"),
          ("setup_s", setupS, "s")))
      } else {
        // the same operations twice over fresh state: traced, at the point
        // of the JVM's life where an untraced run times them, then
        // untraced; the traced wall minus the untraced wall is what tracing
        // costs, over-stated by the warm-up the first pass still carries
        val tracer = new Tracer(dataDir)
        spark.sparkContext.addSparkListener(tracer)
        spark.listenerManager.register(tracer)
        val traced = try wl.pass(dataDir, s"$work/state_traced", deadline(seconds), Int.MaxValue,
          Some(tracer), census)
        finally {
          org.apache.spark.perfbenchbridge.ListenerBusFlush(spark.sparkContext)
          spark.sparkContext.removeSparkListener(tracer)
          spark.listenerManager.unregister(tracer)
        }
        val after = wl.pass(dataDir, s"$work/state_untraced", Long.MaxValue, traced.ops.size,
          None, census)
        val n = traced.ops.size.toDouble
        val wall = traced.ops.map(_.seconds).sum
        val untraced = after.ops.map(_.seconds).sum
        // sums are per operation; the utilisation ratio is not a sum
        val perOp = tracer.report(wall, cpus).map { case (k, v) =>
          k -> (if (k == "spark.core_util") v else v / n)
        }
        val got = (perOp ++ traced.layer ++ Seq(
          "trace.ops" -> n,
          "trace.overhead_s" -> (wall - untraced) / n,
          "caches.persistent_rdds_max" -> census.persistentRddsMax.toDouble,
          "caches.retained_mb" -> census.retainedMbMax)).toMap
        require(got.keySet.subsetOf(PerLayer.map(_._1).toSet),
          s"unlisted metrics: ${got.keySet -- PerLayer.map(_._1)}")
        // a layer the workload does not load reads 0
        (traced.checked() ++ after.checked(),
          PerLayer.map { case (k, u) => (k, got.getOrElse(k, 0.0), u) })
      }
    spark.stop()

    val failed = ops.count(!_.ok)
    val body = metrics.map { case (k, v, u) =>
      s""""$k": {"value": ${fmt(v)}, "unit": "$u"}"""
    }.mkString(", ")
    println(s"""{"correct": ${failed == 0 && ops.nonEmpty}, "attempted": ${ops.size}, """ +
      s""""failed": $failed, "metrics": {$body}}""")
  }

  def log(msg: String): Unit = System.err.println(s"[perfbench] $msg")

  def median(xs: Seq[Double]): Double = {
    require(xs.nonEmpty, "median of no samples")
    val s = xs.sorted
    if (s.size % 2 == 1) s(s.size / 2) else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
  }

  /** Every per-layer metric with its unit, in report order. */
  val PerLayer: Seq[(String, String)] = Seq(
    "spark.jobs" -> "count", "spark.stages" -> "count", "spark.tasks" -> "count",
    "spark.actions" -> "count", "spark.plan_s" -> "s", "spark.job_busy_s" -> "s",
    "spark.driver_gap_s" -> "s", "spark.task_run_s" -> "s", "spark.task_cpu_s" -> "s",
    "spark.task_gc_s" -> "s", "spark.shuffle_write_mb" -> "MB", "spark.shuffle_read_mb" -> "MB",
    "spark.spill_mb" -> "MB", "spark.input_mb" -> "MB", "spark.core_util" -> "ratio") ++
    Layers.All.flatMap(l => Seq(s"$l.busy_s" -> "s", s"$l.jobs" -> "count", s"$l.task_s" -> "s")) ++
    Seq(
      "runner.run_s" -> "s", "corpus.ingest_s" -> "s",
      "sources.scan_rows_per_stored_row" -> "ratio", "warehouse.rows_stored" -> "count",
      "warehouse.files_per_request" -> "count", "warehouse.bytes_per_row" -> "bytes",
      "output.artifacts" -> "count", "output.bytes" -> "bytes",
      "corpus.survivor_frac" -> "ratio", "corpus.state_files" -> "count", "corpus.state_mb" -> "MB",
      "caches.persistent_rdds_max" -> "count", "caches.retained_mb" -> "MB",
      "trace.ops" -> "count", "trace.overhead_s" -> "s")

  private def fmt(v: Double): String =
    if (v.isNaN || v.isInfinite) "0" else java.math.BigDecimal.valueOf(v).toPlainString
}
