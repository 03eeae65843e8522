package graft.util

import org.apache.spark.sql.SparkSession

object Jobs {
  /** Run `body` with the Spark jobs it launches described as `label`,
    * so a job census can attribute them (inside foreachBatch every call
    * site collapses to the stream's start()). The description is
    * thread-local, and the enclosing one is restored after. */
  def labelled[T](spark: SparkSession, label: String)(body: => T): T = {
    val sc = spark.sparkContext
    val outer = sc.getLocalProperty("spark.job.description")
    sc.setJobDescription(label)
    try body
    finally sc.setJobDescription(outer)
  }
}
