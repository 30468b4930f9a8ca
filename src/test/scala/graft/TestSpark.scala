package graft

import org.apache.spark.sql.SparkSession

/** One shared local session for every suite (sbt forks one test JVM). */
object TestSpark {
  lazy val spark: SparkSession = {
    val s = Sessions.local(4)
    s.sparkContext.setLogLevel("ERROR")
    s
  }
}
