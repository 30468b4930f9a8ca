package perfbench

import scala.collection.mutable

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.corpus.CorpusPipeline

/** Nightly corpus ingest through `CorpusPipeline.ingest`. The sf0.1-sized
  * document table is split by seed into [[Ingest.Nights]] nights. A
  * cycle runs, in a new state directory, one fresh night and then one
  * re-crawl night. The fresh night seeds the corpus through the `clean`
  * path. The re-crawl, under a new batch token, re-offers half of the
  * fresh night's documents with their original ids and text plus a few
  * new ones, so `appendBatchIndexed` takes the dedup tiers' hit path for
  * most rows and the miss path for the rest.
  */
final class Ingest(spark: SparkSession, seed: Long) extends Workload {
  import Ingest._

  // a seeded permutation dealt round-robin, so nights differ in size by
  // at most one document
  private val nightOf: Array[Int] = {
    val ids = (0 until Fixtures.Documents.toInt).toArray
    val order = new scala.util.Random(seed).shuffle(ids.toSeq)
    val night = new Array[Int](ids.length)
    order.zipWithIndex.foreach { case (id, i) => night(id) = i % Nights }
    night
  }

  // the warm-up's documents are full size: after a warm-up on two small
  // nights the first timed cycle still ran about 15% slower than the next
  def prepare(dataDir: String, forWarmUp: Boolean): Unit = {
    val s = if (forWarmUp) seed ^ 0x5eedL else seed
    Fixtures.write(Fixtures.documents(spark, s), dataDir, "documents")
    Fixtures.write(Fixtures.documents(spark, s, Fixtures.Documents, RecrawlNew), dataDir,
      "documents_new")
  }

  private def batch(dataDir: String, ids: Seq[Long], withNew: Boolean = false): DataFrame = {
    val docs = spark.read.parquet(s"$dataDir/documents.parquet").select("doc_id", "text")
      .filter(col("doc_id").isin(ids: _*))
    if (!withNew) docs
    else docs.unionByName(
      spark.read.parquet(s"$dataDir/documents_new.parquet").select("doc_id", "text"))
  }

  /** The two batches of cycle `c`, with the documents each offers. */
  private def cycle(dataDir: String, c: Int): Seq[(DataFrame, Long)] = {
    val fresh = (0L until Fixtures.Documents).filter(id => nightOf(id.toInt) == c % Nights)
    val again = new scala.util.Random(seed * 31 + c)
      .shuffle(fresh).take(fresh.size / 2).sorted
    Seq((batch(dataDir, fresh), fresh.size.toLong),
      (batch(dataDir, again, withNew = true), again.size + RecrawlNew))
  }

  /** One whole cycle, on a night the timed pass reaches last. */
  def warmUp(dataDir: String, stateDir: String): Unit =
    cycle(dataDir, Nights - 1).foreach { case (docs, _) =>
      CorpusPipeline.ingest(spark, stateDir, docs)
    }

  def pass(dataDir: String, stateDir: String, deadline: Long, maxOps: Int,
      tracer: Option[Tracer], census: Census): Pass = {
    val ops = mutable.ArrayBuffer.empty[Op]
    // state dir, night, ingested, corpus_total as ingest reported them
    val nights = mutable.ArrayBuffer.empty[(String, Int, Long, Long)]
    var ingestS, offered, admitted = 0.0
    var c = 0
    // whole cycles only, so every run holds the same mix
    while (ops.size < maxOps && System.nanoTime() < deadline) {
      val dir = s"$stateDir/cycle$c"
      cycle(dataDir, c).zipWithIndex.foreach { case ((docs, size), i) =>
        val t0 = System.nanoTime()
        val res = try Some(Tracer.span(tracer)(CorpusPipeline.ingest(spark, dir, docs)))
        catch { case e: Exception => Main.log(s"night failed: $e"); None }
        val dt = (System.nanoTime() - t0) / 1e9
        ingestS += dt
        offered += size
        val n = res.map(_("ingested")).getOrElse(-1L)
        admitted += math.max(n, 0L)
        nights += ((dir, i, n, res.map(_("corpus_total")).getOrElse(-1L)))
        ops += Op(dt, size, res.isDefined)
        Main.log(f"cycle $c night $i: $size docs, ingested $n, $dt%.2f s")
        census.record(dir)
      }
      c += 1
    }
    // per cycle: each cycle's state directory as its last night left it
    val (files, bytes) = (0 until c).map(i => census.dirs(s"$stateDir/cycle$i"))
      .foldLeft((0L, 0L)) { case ((f, b), (f1, b1, _)) => (f + f1, b + b1) }
    val n = ops.size.toDouble
    Pass(ops.toSeq, Seq(
      "corpus.ingest_s" -> ingestS / n,
      "corpus.survivor_frac" -> admitted / math.max(offered, 1.0),
      "corpus.state_files" -> files / c,
      "corpus.state_mb" -> bytes / c / (1024.0 * 1024.0)),
      () => check(nights.toSeq))
  }

  /** Indexes of nights whose commit is wrong: a batch directory whose
    * row count differs from what ingest reported, a night that admitted
    * an already committed doc_id, or a final `corpus_total` that differs
    * from the committed corpus. */
  private def check(nights: Seq[(String, Int, Long, Long)]): Set[Int] = {
    val bad = mutable.Set.empty[Int]
    nights.zipWithIndex.groupBy(_._1._1).foreach { case (dir, ns) =>
      val sorted = ns.sortBy(_._1._2)
      val committed = mutable.HashSet.empty[Long]
      sorted.foreach { case ((_, i, n, _), k) =>
        val path = f"$dir/corpus/batch_b$i%010d"
        val ids =
          if (n <= 0) Array.empty[Long]
          else spark.read.parquet(path).select("doc_id").collect().map(_.getLong(0))
        val readmitted = ids.exists(committed.contains) || ids.distinct.length != ids.length
        if (n < 0 || ids.length != n || readmitted) {
          Main.log(s"night $i of $dir: reported $n, committed ${ids.length}, " +
            s"re-admitted committed ids: $readmitted")
          bad += k
        }
        committed ++= ids
      }
      val ((_, _, _, reported), last) = sorted.last
      val total = try CorpusPipeline.readCorpus(spark, dir).count()
        catch { case _: Exception => -1L }
      if (reported != total || committed.size != total) {
        Main.log(s"$dir: corpus_total $reported, committed $total, distinct ids ${committed.size}")
        bad += last
      }
    }
    bad.toSet
  }
}

object Ingest {
  // about 300 documents a night: a night's time is mostly per-job
  // overhead, so smaller nights leave room for a whole cycle in a run
  val Nights = 16
  val RecrawlNew = 50L
}
