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

  /** Run each closure on its own thread at once and return the results
    * in input order: independent Spark jobs submitted together, so the
    * scheduler overlaps their driver round-trips and back-fills one
    * job's idle slots with another's tasks. Every closure runs to its
    * end; then the first failure, in input order, is rethrown. A
    * thread inherits its parent's job label. */
  def par[T](bodies: Seq[() => T]): Seq[T] =
    if (bodies.sizeIs <= 1) bodies.map(_())
    else {
      val tasks = bodies.map(b => new java.util.concurrent.FutureTask[T](() => b()))
      tasks.foreach { t =>
        val th = new Thread(t, "graft-jobs-par")
        th.setDaemon(true)
        th.start()
      }
      tasks.map { t =>
        try scala.util.Success(t.get())
        catch { case e: java.util.concurrent.ExecutionException => scala.util.Failure(e.getCause) }
      }.map(_.get)
    }
}
