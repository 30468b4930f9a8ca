package graft.sources

import java.nio.file.Files
import org.scalatest.funsuite.AnyFunSuite
import graft.TestSpark
import graft.model.Schemas

class ConnectorsSpec extends AnyFunSuite with graft.CachesScoped {
  private val spark = TestSpark.spark
  import spark.implicits._

  private val bars = Seq(
    ("AAPL", "2024-01-02", 187.15, 185.64, 82488700L),
    ("MSFT", "2024-01-02", 373.86, 370.87, 25258600L)
  ).toDF("ticker", "d", "open", "close", "volume")
    .selectExpr("ticker", "CAST(d AS DATE) AS date",
      "open", "open AS high", "close AS low", "close", "close AS adj_close", "volume")

  test("ParquetSource round-trips the price schema") {
    val dir = Files.createTempDirectory("src_pq").toString + "/t"
    bars.write.parquet(dir)
    val back = new ParquetSource(dir).fetch(spark)
    assert(back.count() === 2L)
    assert(back.schema("volume").dataType.typeName === "long")
  }

  test("CsvSource applies the declared schema (the HTTP-feed stand-in path)") {
    val dir = Files.createTempDirectory("src_csv").toString + "/t"
    bars.select("ticker", "date", "open", "high", "low", "close", "adj_close", "volume")
      .write.option("header", "true").csv(dir)
    val back = new CsvSource(dir, Schemas.priceBar).fetch(spark)
    assert(back.count() === 2L)
    // file scans force nullable=true; names + types are the contract
    assert(back.schema.fields.map(f => (f.name, f.dataType))
      === Schemas.priceBar.fields.map(f => (f.name, f.dataType)))
    val aapl = SourceOps.assertColumns(back, Seq("ticker", "date", "close"))
      .filter($"ticker" === "AAPL").head()
    assert(aapl.getAs[Double]("close") === 185.64)
  }

  test("JsonSource reads schema-first (no inference job)") {
    val dir = Files.createTempDirectory("src_json").toString + "/t"
    bars.write.json(dir)
    val back = new JsonSource(dir, Schemas.priceBar).fetch(spark)
    assert(back.count() === 2L)
    assert(back.schema.fields.map(f => (f.name, f.dataType))
      === Schemas.priceBar.fields.map(f => (f.name, f.dataType)))
  }

  test("JsonlCorpus quarantines corrupt lines instead of failing or dropping") {
    import org.apache.spark.sql.types._
    val dir = Files.createTempDirectory("src_jsonl").toString
    val f = new java.io.File(dir, "docs.jsonl")
    val w = new java.io.PrintWriter(f, "UTF-8")
    w.println("""{"doc_id": 1, "text": "clean document one"}""")
    w.println("""{"doc_id": 2, "text": "clean document two"}""")
    w.println("""{"doc_id": 3, "text": "truncated""")   // broken JSON
    w.println("""not json at all""")
    w.println("""{"doc_id": 4, "text": "clean document three"}""")
    w.close()
    val schema = StructType(Seq(
      StructField("doc_id", LongType), StructField("text", StringType)))
    val (clean, corrupt) = JsonlCorpus.read(spark, f.toString, schema)
    assert(clean.columns.toSeq === Seq("doc_id", "text"))
    assert(clean.select("doc_id").as[Long].collect().sorted.toSeq === Seq(1L, 2L, 4L))
    // quarantine carries the raw offending line, full provenance
    val bad = corrupt.select("raw_line").as[String].collect().toSet
    assert(bad === Set("""{"doc_id": 3, "text": "truncated""", "not json at all"))
    // declared schema must not smuggle the corrupt column
    intercept[IllegalArgumentException] {
      JsonlCorpus.read(spark, f.toString, schema.add(JsonlCorpus.corruptCol, StringType))
    }
  }

  test("full ingest chain: fetch -> standardize -> assert -> metadata -> range") {
    val dir = Files.createTempDirectory("src_chain").toString + "/t"
    bars.withColumnRenamed("adj_close", "Adj Close").write.parquet(dir)
    val df = new ParquetSource(dir).fetch(spark)
    val out = SourceOps.dateRange(
      SourceOps.withMetadata(
        SourceOps.assertColumns(
          SourceOps.standardizeColumns(df),
          Seq("ticker", "date", "adj_close")),
        Map("source" -> "yahoo")),
      "date", "2024-01-01", "2024-12-31")
    assert(out.columns.contains("adj_close"))
    assert(out.filter($"source" === "yahoo").count() === 2L)
  }
}
