package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import graft.pipeline.PqAnn

/** Streaming embedding-index maintenance — the vector-family
  * counterpart of [[NearDupStream]]: a stream of (id, embedding) rows
  * grows a persisted IVF-PQ index across micro-batches by
  * frozen-codebook encoding ([[PqAnn.encodeNew]]) inside
  * `foreachBatch`. The model (coarse cells + codebooks) is trained
  * OFFLINE once and never changes online — the faiss-`add` operating
  * mode — so per-batch cost is O(batch) encode + one segment write,
  * and queries probe the accumulated codes exactly as they probe a
  * batch-built index.
  *
  * State layout: one code segment per micro-batch
  * (`dir/codes/b<id>`), written with overwrite — a foreachBatch retry
  * of batch N rewrites exactly its own segment, so at-least-once
  * delivery cannot duplicate codes (the [[NearDupStream]] segment
  * idea; `_SUCCESS` is the commit marker and marker-less crash debris
  * is ignored). At 100 TB each segment would additionally be laid out
  * partitioned by `_cell` like [[PqAnn.loadOrBuild]]; segments stay small
  * (one micro-batch), so cell-partitioning the COMPACTED view is the
  * operative layout — compaction composes exactly as
  * [[NearDupStream.compactSegments]].
  */
object VectorIngest {

  /** Encode one micro-batch against the frozen model and commit its
    * code segment. Call from `foreachBatch`. */
  def processBatch(batch: DataFrame, idCol: String, embCol: String,
      model: PqAnn.Model, dir: String, batchId: Long): Unit = {
    PqAnn.encodeNew(model, batch, idCol, embCol)
      .write.mode("overwrite").parquet(s"$dir/codes/b$batchId")
  }

  /** The accumulated index over all committed segments, probe-ready
    * with the same frozen model. Empty stream → empty code table
    * (typed via an empty encode of `like`, whose schema also types the
    * segment read). */
  def loadIndex(spark: SparkSession, dir: String, model: PqAnn.Model,
      like: DataFrame, idCol: String, embCol: String): PqAnn.Index = {
    val segs = NearDupStream.committedSegments(s"$dir/codes", None)
    val empty = PqAnn.encodeNew(model, like.limit(0), idCol, embCol)
    PqAnn.Index(model,
      if (segs.isEmpty) empty
      else spark.read.schema(empty.schema).parquet(segs: _*))
  }
}
