package graft

import org.apache.spark.sql.SparkSession

/** One shared local session for all suites, on the engine's own
  * session config at 4 cores and 4 shuffle partitions. */
object TestSpark {
  lazy val spark: SparkSession = {
    val s = GraftSession.builder("local[4]", 4).appName("graft-test").getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }
}
