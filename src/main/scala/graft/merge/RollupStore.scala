package graft.merge

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Incrementally-maintained aggregate rollup (a materialized view kept
  * fresh by batch folds) — the warehouse pattern behind every "daily
  * metrics" table: per batch, aggregate ONLY the batch, read back only
  * the rollup partitions the batch touches, merge additively, and
  * rewrite exactly those partitions via dynamic partition overwrite.
  *
  * Scale shape: per-fold cost is O(batch) + O(touched partitions) —
  * the accumulated history is never rescanned (the d8/d9 incremental
  * contract, applied to aggregation instead of dedup). The state dir
  * is parquet partitioned by the first key; the touched-key filter
  * prunes untouched partitions at the FILE level (partition pruning),
  * and `partitionOverwriteMode=dynamic` makes the overwrite replace
  * only partitions present in the written frame. Counts and sums are
  * additive, so fold order cannot change the result — an idempotence
  * CONTRACT this store does not provide by itself: a replayed batch
  * double-counts (pair with at-least-once dedup upstream, e.g.
  * [[graft.streaming.StreamingDedup]], or exactly-once batch ids).
  *
  * Crash safety note: the dynamic overwrite is atomic per partition
  * directory on a real object store committer; a mid-write crash on
  * plain local FS can leave a torn partition — the SilverStore staged
  * segments + manifest flip is the hardened variant when that matters.
  */
object RollupStore {

  /** Fold one batch of events into the rollup at `dir`, keyed by
    * (`partCol`, `keyCol`) with additive metrics `n` (count) and
    * `sum_value` (sum of `valueCol`). Returns the merged frame for
    * the touched partitions. */
  def fold(spark: SparkSession, dir: String, batch: DataFrame,
      partCol: String, keyCol: String, valueCol: String): Unit = {
    val agg = batch.groupBy(col(partCol), col(keyCol))
      .agg(count(lit(1)).as("n"), sum(col(valueCol)).as("sum_value"))
      .persist()
    // touched partitions: bounded by the batch's distinct partition
    // keys (days, typically a handful) — broadcastable by construction
    val touched = agg.select(partCol).distinct()
    // Hadoop-FS marker probe (not java.io.File) so the rollup store
    // works on HDFS/S3 locations, where an MV lives at 100 TB
    val fs = graft.util.Stage.fs(spark, dir)
    val started = new org.apache.hadoop.fs.Path(dir, "_STARTED")
    val existing: Option[DataFrame] =
      if (fs.exists(started))
        // the store's schema IS the fold aggregate's schema (every
        // fold writes through this same pipeline), so pass it
        // explicitly: a schemaless read fires one footer-inference
        // scheduler job per fold just to rediscover it (r15; the
        // Tables.table / NearDupStream.indexSchemas rationale)
        Some(spark.read.schema(agg.schema).parquet(dir)
          .join(broadcast(touched), Seq(partCol), "left_semi"))
      else None
    val merged = existing match {
      case Some(ex) =>
        ex.unionByName(agg)
          .groupBy(col(partCol), col(keyCol))
          .agg(sum(col("n")).as("n"), sum(col("sum_value")).as("sum_value"))
      case None => agg
    }
    // materialize BEFORE writing: the merged plan reads the very
    // partitions the dynamic overwrite is about to replace
    val out = merged.localCheckpoint(true)
    agg.unpersist(blocking = false)
    // per-write option, not session conf: other writes in the session
    // keep their own overwrite mode
    out.write.mode("overwrite").option("partitionOverwriteMode", "dynamic")
      .partitionBy(partCol).parquet(dir)
    graft.pipeline.Components.release(out)
    if (!fs.exists(started)) fs.create(started).close()
  }

  /** The current rollup state. Callers that know the store's fixed
    * (partCol, keyCol, n, sum_value) schema pass it to skip the
    * footer-inference job the schemaless read fires. */
  def load(spark: SparkSession, dir: String,
      schema: Option[org.apache.spark.sql.types.StructType] = None): DataFrame =
    schema.fold(spark.read)(spark.read.schema).parquet(dir)
}
