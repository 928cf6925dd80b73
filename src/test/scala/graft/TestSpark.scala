package graft

import org.apache.spark.sql.SparkSession

/** One shared local session for the whole suite (Spark session startup
  * dominates test wall-time otherwise). Pinned to 4 cores whatever the
  * host, so partition-dependent plan and budget assertions see the
  * same layout everywhere. */
object TestSpark {
  lazy val spark: SparkSession = {
    val s = GraftSession.create(cpus = "4")
    s.sparkContext.setLogLevel("ERROR")
    s
  }
}
