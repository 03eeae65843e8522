package graft

import org.apache.spark.sql.SparkSession

/** One shared local SparkSession for the whole test run, with the
  * mains' session settings. */
object TestSpark {
  lazy val spark: SparkSession = GraftSession.create(4,
    Map("spark.sql.debug.maxToStringFields" -> "200"))
}
