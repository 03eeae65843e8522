package graft.merge

import java.nio.file.Paths
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StructType
import graft.util.SegmentTable

/** Incrementally-maintained aggregate rollup (a materialized view kept
  * fresh by batch folds) — the warehouse pattern behind every "daily
  * metrics" table. The state at `dir` is a [[SegmentTable]] of partial
  * aggregates: per batch, aggregate ONLY the batch and append it as one
  * segment; [[load]] sums the partials over the live segments
  * (merge-on-read, as silver's `*_extra` tables do).
  *
  * Cost shape: a fold is O(batch), never reads history and rewrites no
  * committed segment; a read is O(live partials), one batch aggregate
  * more per fold. Sums are additive, so flipping the manifest to one
  * segment holding [[load]] would compact the history without changing
  * a read (SilverStore.compact's story; ev8 folds four batches and
  * needs none). Fold order cannot change the result, but a replayed
  * batch double-counts — pair with at-least-once dedup upstream (e.g.
  * [[graft.streaming.StreamingDedup]]) or exactly-once batch ids.
  */
object RollupStore {

  private def table(dir: String): SegmentTable =
    new SegmentTable(Paths.get(dir), "rollup write")

  /** Fold one batch of events into the rollup at `dir`, keyed by
    * (`partCol`, `keyCol`) with additive metrics `n` (count) and
    * `sum_value` (sum of `valueCol`). */
  def fold(dir: String, batch: DataFrame, partCol: String, keyCol: String,
      valueCol: String): Unit =
    stageFold(dir, batch, partCol, keyCol, valueCol).commit()

  private[graft] def stageFold(dir: String, batch: DataFrame,
      partCol: String, keyCol: String, valueCol: String): SegmentTable.Staged = {
    val t = table(dir)
    val agg = batch.groupBy(col(partCol), col(keyCol))
      .agg(count(lit(1)).as("n"), sum(col(valueCol)).as("sum_value"))
    SegmentTable.Staged(t.write(agg).map(seg => t -> (t.live :+ seg)).toSeq)
  }

  /** The current rollup state: the live partials summed per
    * (`partCol`, `keyCol`), the two keys being the first two columns of
    * the stored (partCol, keyCol, n, sum_value) schema. Callers that
    * know that schema pass it to skip the footer-inference job the
    * schemaless read fires. */
  def load(spark: SparkSession, dir: String, schema: Option[StructType] = None): DataFrame = {
    val partials = schema.fold(spark.read)(spark.read.schema).parquet(table(dir).paths: _*)
    partials.groupBy(partials.columns.take(2).map(col): _*)
      .agg(sum(col("n")).as("n"), sum(col("sum_value")).as("sum_value"))
  }
}
