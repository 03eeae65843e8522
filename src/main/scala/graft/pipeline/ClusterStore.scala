package graft.pipeline

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Persisted near-dup cluster artifact — the production shape of the
  * cc-family: the expensive substrate (shingle pair graph + connected
  * components) is built ONCE per corpus and persisted; every consumer
  * (apply-clusters, keep-best, split assignment, audits) PROBES the
  * parquet artifact instead of re-paying the build. At 100 TB the
  * cluster table is the deliverable a dedup job ships to the rest of
  * the pipeline — nobody recomputes a trillion-shingle pair graph to
  * ask "which cluster is this doc in". Lifecycle: [[graft.util.Stage]].
  */
object ClusterStore {

  /** Canonical location of the cluster table of `dataset`'s documents
    * at the given clustering parameters. */
  def scratchDir(dataset: String, shingleWords: Int, threshold: Double): String =
    graft.util.Stage.scratchDir("cc", dataset, "documents", shingleWords,
      math.round(threshold * 100))

  /** The (doc_id, cluster, is_rep) table of `dataset`'s documents
    * (long doc_id), built from `docs` (pair graph auto-policy + large/
    * small-star CC, exactly cc1's substrate) on first use. `docs` is
    * only evaluated by a build. */
  def loadOrBuild(spark: SparkSession, dataset: String, docs: => DataFrame,
      shingleWords: Int = 3, threshold: Double = 0.5): DataFrame = {
    import org.apache.spark.sql.types._
    val schema = StructType(Seq(StructField("doc_id", LongType),
      StructField("cluster", LongType), StructField("is_rep", BooleanType)))
    graft.util.Stage.loadOrBuild(spark,
        scratchDir(dataset, shingleWords, threshold), Seq("clusters" -> schema)) {
      val d = docs
      val pairs = Dedup.ngramJaccardPairsAuto(d, "doc_id", "text",
        shingleWords = shingleWords, threshold = threshold)
      val clusters = Components.dedupClusters(d, "doc_id", pairs, "id_a", "id_b")
      graft.util.Stage.Built(Seq(clusters.write),
        () => Components.release(clusters))
    }.head
  }
}
