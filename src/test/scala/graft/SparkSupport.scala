package graft

import org.apache.spark.sql.SparkSession

/** One SparkSession per test JVM, shared by every suite. */
object SharedSpark {
  lazy val spark: SparkSession = {
    val s = GraftSession.local(4)
    // keep the suite's log4j2.properties level, not the mains' WARN
    s.sparkContext.setLogLevel("ERROR")
    s
  }
}

trait SparkSupport {
  lazy val spark: SparkSession = SharedSpark.spark
}
