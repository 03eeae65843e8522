package graft.streaming

import java.nio.file.Paths
import org.apache.spark.sql.{DataFrame, SparkSession}
import graft.pipeline.PqAnn
import graft.util.SegmentTable
import graft.util.SegmentTable.Staged

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
  * State: one [[SegmentTable]], `dir/codes`, gaining one segment per
  * micro-batch, tagged `b<id>` as [[NearDupStream]]'s are: a
  * foreachBatch retry of batch N replaces exactly its own segment, so
  * at-least-once delivery cannot duplicate codes, and a segment a
  * crash left unlisted is never read. At 100 TB each segment would
  * additionally be laid out partitioned by `_cell` like
  * [[PqAnn.loadOrBuild]]; segments stay small (one micro-batch), so
  * cell-partitioning a compacted segment is the operative layout —
  * compaction would compose as [[NearDupStream.compactSegments]].
  */
object VectorIngest {

  private def codes(dir: String): SegmentTable =
    new SegmentTable(Paths.get(dir, "codes"), "vector write: codes")

  /** Encode one micro-batch against the frozen model and commit its
    * code segment. Call from `foreachBatch`. */
  def processBatch(batch: DataFrame, idCol: String, embCol: String,
      model: PqAnn.Model, dir: String, batchId: Long): Unit =
    stageBatch(batch, idCol, embCol, model, dir, batchId).commit()

  /** [[processBatch]] up to its commit: the segment written, the
    * manifest not flipped. */
  private[graft] def stageBatch(batch: DataFrame, idCol: String, embCol: String,
      model: PqAnn.Model, dir: String, batchId: Long): Staged = {
    val t = codes(dir)
    val seg = t.write(PqAnn.encodeNew(model, batch, idCol, embCol), Some(NearDupStream.batchTag(batchId)))
    Staged(Seq(NearDupStream.replacingBatch(t, batchId, seg)))
  }

  /** The accumulated index over the live segments, probe-ready with
    * the same frozen model; read with the schema of an empty encode of
    * `like` (typed-empty for an empty stream). */
  def loadIndex(spark: SparkSession, dir: String, model: PqAnn.Model,
      like: DataFrame, idCol: String, embCol: String): PqAnn.Index =
    PqAnn.Index(model, codes(dir).read(spark,
      PqAnn.encodeNew(model, like.limit(0), idCol, embCol).schema))
}
