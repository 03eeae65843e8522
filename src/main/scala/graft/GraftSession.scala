package graft

import org.apache.spark.sql.SparkSession

/** The one SparkSession factory for every graft main and the test
  * suite: local mode on [[cpus]] cores, one shuffle partition per core,
  * UTC session time, no UI, WARN logging, and the graft SQL functions
  * and optimizer rule injected at build ([[graft.functions
  * .GraftExtensions]]), so every plan sees the same rules whatever ran
  * before it. Mains that time or compare queries call [[clean]] between
  * them. */
object GraftSession {

  /** Local-mode cores: SPARK_GRAFT_CPUS, else the JVM's core count. */
  def cpus: Int = sys.env.get("SPARK_GRAFT_CPUS").map(_.toInt)
    .getOrElse(Runtime.getRuntime.availableProcessors)

  /** `conf` entries are applied last, so they override the defaults. */
  def create(cores: Int = cpus,
      conf: Map[String, String] = Map.empty): SparkSession = {
    val builder = SparkSession.builder()
      .master(s"local[$cores]")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .withExtensions(new graft.functions.GraftExtensions)
    conf.foreach { case (k, v) => builder.config(k, v) }
    val spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }

  /** Cache hygiene between queries: pipeline operators persist() shared
    * intermediates, and one query's cache must neither squeeze the next
    * nor let a later "fresh" plan silently reuse it. clearCache drops
    * the CacheManager entries but misses localCheckpoint blocks
    * (connected components, SemDeDup), so every registered RDD is
    * unpersisted too. */
  def clean(spark: SparkSession): Unit = {
    spark.catalog.clearCache()
    spark.sparkContext.getPersistentRDDs.values
      .foreach(_.unpersist(blocking = false))
  }
}
