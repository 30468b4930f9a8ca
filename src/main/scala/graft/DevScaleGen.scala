package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Dev-only sf1 generator for the 10× scale probe (r13 verdict task 3):
  * writes sf1-equivalent synthetic tables to a local dir, matching the
  * driver testdata's structure so registry queries run unmodified with
  * `SPARK_GRAFT_SF_DIR=<out>`.
  *
  * Growth model per table (how the driver's own sf0.01 → sf0.1 scaled):
  *  - `documents`: 10× NEW docs sampled from the SAME 31-word vocabulary
  *    and length/lang/source distributions (measured off sf0.1), with the
  *    observed exact-duplicate rate planted (text is a pure function of
  *    doc_id, so dups regenerate their parent's words). Shared vocabulary
  *    means shingle document frequencies grow ORGANICALLY with volume —
  *    the Σdf² behavior the candidate-join probes exist to measure.
  *  - `embeddings`: 10× new unit-free gaussian vectors (dim 64, 10
  *    labels), deterministic per vec_id.
  *  - `events`: 10× new rows over the same 1-year window, 10× users,
  *    same event-type mix.
  *  - `lineitem`/`orders` + dims: 10 replicas with key offsets
  *    (suppkey/partkey/orderkey/custkey), dates untouched — TPC-H scales
  *    entity counts, not history depth, so `prices` grows 100 → 1000
  *    tickers over the same calendar (the real cluster shape).
  *
  * Deterministic: every row is a pure function of its id (seeded
  * java.util.Random per row), independent of partitioning.
  */
object DevScaleGen {
  def main(args: Array[String]): Unit = {
    val srcDir = "/root/testdata/sf0.1"
    val outDir = args.headOption.getOrElse("/tmp/graft_sf1")
    // args(1): growth factor over sf0.1 for the GENERATED tables
    // (documents/embeddings/events) — 10 = the sf1 probe, 100 = the
    // sf10 spot probe. The TPC-H facts stay at the fixed 10 key-offset
    // replicas regardless: the >10× probes target the text/vector/event
    // families, and 100× facts would cost disk without adding signal.
    val factor = args.drop(1).headOption.map(_.toInt).getOrElse(10)
    require(factor >= 1, s"factor must be >= 1 (got $factor)")
    val spark = Sessions.local()
    import spark.implicits._

    val vocab: Array[String] = spark.read.parquet(s"$srcDir/documents.parquet")
      .select(explode(split(col("text"), " ")).as("w"))
      .distinct().orderBy("w").as[String].collect()
    require(vocab.length > 10, s"vocab looks wrong: ${vocab.length}")
    val langs = Array("en", "en", "en", "en", "zh", "es", "fr", "de")

    // ---- documents: 50k sampled docs, dup rate ~8/5000 ----
    def wordsFor(id: Long): String = {
      val rnd = new java.util.Random(0x5eed + id)
      val n = 10 + rnd.nextInt(91)
      val sb = new StringBuilder
      var i = 0
      while (i < n) {
        if (i > 0) sb.append(' ')
        sb.append(vocab(rnd.nextInt(vocab.length)))
        i += 1
      }
      sb.toString
    }
    val docs = spark.range(0, 5000L * factor, 1, 32).map { id =>
      val rnd = new java.util.Random(0xd0c + id)
      val text = if (id % 625 == 624) wordsFor(id - 1) else wordsFor(id)
      val lang = langs(rnd.nextInt(langs.length))
      val source = s"src${rnd.nextInt(20)}"
      (id, text, lang, source, text.length.toLong)
    }.toDF("doc_id", "text", "lang", "source", "n_chars")
    docs.write.mode("overwrite").parquet(s"$outDir/documents.parquet")

    // ---- embeddings: 20k gaussian vectors, dim 64, 10 labels ----
    val emb = spark.range(0, 2000L * factor, 1, 32).map { id =>
      val rnd = new java.util.Random(0xe3b + id)
      val v = Array.fill(64)(rnd.nextGaussian().toFloat)
      (id, v, rnd.nextInt(10))
    }.toDF("vec_id", "embedding", "label")
    emb.write.mode("overwrite").parquet(s"$outDir/embeddings.parquet")

    // ---- events: 1M rows, 1-year window, 15k users ----
    val types = Array("click", "view", "purchase", "signup", "error")
    val t0 = java.time.Instant.parse("2024-01-01T00:00:00Z").toEpochMilli * 1000L
    val year = 365L * 24 * 3600 * 1000000L
    val nUsers = 1500 * factor
    val events = spark.range(0, 100000L * factor, 1, 32).map { id =>
      val rnd = new java.util.Random(0xe7 + id)
      val micros = t0 + math.abs(rnd.nextLong() % year)
      val ts = java.sql.Timestamp.from(java.time.Instant.ofEpochSecond(
        micros / 1000000L, (micros % 1000000L) * 1000L))
      (id, ts, rnd.nextInt(nUsers).toLong, types(rnd.nextInt(types.length)),
        rnd.nextDouble() * 100.0, s"""{"k": ${rnd.nextInt(100)}}""")
    }.toDF("event_id", "ts", "user_id", "event_type", "value", "props")
    events.write.mode("overwrite").parquet(s"$outDir/events.parquet")

    // ---- lineitem/orders + dims: 10 key-offset replicas ----
    val reps = spark.range(0, 10).select(col("id").as("_r"))
    def replicate(name: String, f: (DataFrame, org.apache.spark.sql.Column) => DataFrame): Unit = {
      val base = spark.read.parquet(s"$srcDir/$name.parquet")
      f(base.crossJoin(reps), col("_r")).drop("_r")
        .write.mode("overwrite").parquet(s"$outDir/$name.parquet")
    }
    val (maxOk, maxPk, maxSk, maxCk) = {
      val li = spark.read.parquet(s"$srcDir/lineitem.parquet")
        .agg(max("l_orderkey"), max("l_partkey"), max("l_suppkey")).head()
      val c = spark.read.parquet(s"$srcDir/customer.parquet")
        .agg(max("c_custkey")).head()
      (li.getLong(0) + 1, li.getLong(1) + 1, li.getLong(2) + 1, c.getLong(0) + 1)
    }
    replicate("lineitem", (df, r) => df
      .withColumn("l_orderkey", col("l_orderkey") + r * maxOk)
      .withColumn("l_partkey", col("l_partkey") + r * maxPk)
      .withColumn("l_suppkey", col("l_suppkey") + r * maxSk))
    replicate("orders", (df, r) => df
      .withColumn("o_orderkey", col("o_orderkey") + r * maxOk)
      .withColumn("o_custkey", col("o_custkey") + r * maxCk))
    replicate("supplier", (df, r) => df
      .withColumn("s_suppkey", col("s_suppkey") + r * maxSk))
    replicate("part", (df, r) => df
      .withColumn("p_partkey", col("p_partkey") + r * maxPk))
    replicate("customer", (df, r) => df
      .withColumn("c_custkey", col("c_custkey") + r * maxCk))
    for (t <- Seq("region", "nation"))
      spark.read.parquet(s"$srcDir/$t.parquet")
        .write.mode("overwrite").parquet(s"$outDir/$t.parquet")

    for (t <- Seq("documents", "embeddings", "events", "lineitem", "orders"))
      println(s"[scalegen] $t rows = " +
        spark.read.parquet(s"$outDir/$t.parquet").count())
    spark.stop()
  }
}
