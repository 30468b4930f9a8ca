package graft

import java.nio.file.{Files, Paths}
import scala.jdk.CollectionConverters._

import org.scalatest.funsuite.AnyFunSuite

class SessionsSpec extends AnyFunSuite {
  test("the test session is built by the factory: UTC, nanosAsLong, 4 shuffle partitions, UI off") {
    val spark = TestSpark.spark
    assert(spark.conf.get("spark.sql.session.timeZone") === "UTC")
    assert(spark.conf.get("spark.sql.legacy.parquet.nanosAsLong") === "true")
    assert(spark.conf.get("spark.sql.shuffle.partitions") === "4")
    assert(spark.sparkContext.getConf.get("spark.ui.enabled") === "false")
    assert(spark.sparkContext.master === "local[4]")
  }

  test("Sessions holds the only session builder: one in src/main/scala, none in src/test/scala") {
    val builder = """SparkSession\s*\.\s*builder\s*\(\s*\)""".r
    def sites(root: String): Seq[String] = {
      val dir = Paths.get(root)
      assert(Files.isDirectory(dir), s"$root not found from ${Paths.get("").toAbsolutePath}")
      Files.walk(dir).iterator().asScala.filter(_.toString.endsWith(".scala")).toSeq
        .flatMap(f => builder.findAllMatchIn(Files.readString(f)).map(_ => dir.relativize(f).toString))
    }
    assert(sites("src/main/scala") === Seq("graft/Sessions.scala"))
    assert(sites("src/test/scala") === Seq.empty)
  }
}
