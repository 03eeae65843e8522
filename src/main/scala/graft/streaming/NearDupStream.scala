package graft.streaming

import java.nio.file.Paths
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{LongType, StructField, StructType}
import graft.pipeline.{Components, Dedup}
import graft.util.{Jobs, SegmentTable}
import graft.util.SegmentTable.Staged

/** Cross-batch NEAR-dup for a streamed corpus — the paraphrase-level
  * counterpart of [[StreamingDedup]], built as `foreachBatch` glue
  * around [[Dedup.incrementalMinhash]]: the accumulated corpus lives as
  * a persisted LSH band-posting + shingle-set index on disk, each
  * micro-batch probes it (and itself), and only NOVEL documents append
  * new postings. The corpus text is never rescanned; per-batch cost is
  * O(batch) shingling + ids-only probe joins — the same shape a nightly
  * batch append would run, so stream and batch ingestion share one
  * dedup definition.
  *
  * State: four [[SegmentTable]]s under `dir` — `buckets` and
  * `shingles` (the index: band postings and shingle sets of the kept
  * docs), `decisions` (every doc's label, the dedup log a pipeline
  * audits) and `clusters` (the live cluster map, see
  * [[processBatch]]'s `liveClusters`). Batch `id` tags its segments
  * `b<id>`, writes all of them, then flips every table's manifest; its
  * flip replaces any live segment carrying its own tag, so a
  * foreachBatch retry of batch N replaces exactly its own segments and
  * at-least-once delivery cannot duplicate postings or decisions. The
  * index a batch probes is the live segments of EARLIER batches, read
  * by tag, so a replay reproduces its first decisions however far its
  * first run committed — a crash between the `buckets` and the
  * `shingles` flip included.
  *
  * Decisions are pairwise, like [[Dedup.incrementalExact]]'s labels:
  * `dup_corpus` (near-dups an already-indexed doc), `dup_batch`
  * (near-dups a smaller-id doc in the same batch), else `kept`. A
  * pipeline wanting transitive clusters feeds the emitted pairs to
  * [[graft.pipeline.Components]] downstream.
  */
object NearDupStream {

  final case class Params(shingleWords: Int = 3, numHashes: Int = 32,
      bands: Int = 8, threshold: Double = 0.5)

  private def table(dir: String, name: String): SegmentTable =
    new SegmentTable(Paths.get(dir, name), s"neardup write: $name")

  private[streaming] def batchTag(batchId: Long): String = s"b$batchId"

  /** The live segments of `t` holding only batches strictly before
    * `batchId`: `b<k>` for k < batchId, and a compacted `c<upTo>`
    * (every batch below upTo, see [[compactSegments]]) for
    * upTo <= batchId. A retry of a batch whose own segment already
    * committed must not see itself in the index: every doc would match
    * its replayed twin and the "kept" rewrite would empty the segment. */
  private def earlier(t: SegmentTable, batchId: Long): Seq[String] =
    t.live.filter(seg => SegmentTable.tagOf(seg).exists { tag =>
      val k = tag.drop(1).toLong
      if (tag.head == 'c') k <= batchId else k < batchId
    })

  /** Batch `batchId`'s manifest-to-be for `t`: its new segment, if any,
    * in place of every live segment the batch tagged before. */
  private[streaming] def replacingBatch(t: SegmentTable, batchId: Long,
      seg: Option[String]): (SegmentTable, Seq[String]) =
    t -> (t.live.filterNot(SegmentTable.tagOf(_).contains(batchTag(batchId))) ++ seg)

  /** The accumulated index over the live segments (those of batches
    * strictly before `below` when given), read with the schemas
    * [[Dedup.indexSchemas]] derives from `like` — no footer-inference
    * job; typed-empty when nothing is live. */
  def loadIndex(spark: SparkSession, dir: String, like: DataFrame,
      idCol: String, textCol: String, p: Params,
      below: Option[Long] = None): Dedup.NearDupIndex = {
    val (bSchema, shSchema) = Dedup.indexSchemas(like, idCol, textCol,
      p.shingleWords, p.numHashes, p.bands)
    def read(name: String, schema: StructType) = {
      val t = table(dir, name)
      t.read(spark, schema, below.fold(t.live)(earlier(t, _)))
    }
    Dedup.NearDupIndex(read("buckets", bSchema), read("shingles", shSchema))
  }

  /** Score one micro-batch against the accumulated corpus, append the
    * novel docs' postings, and return (idCol, decision) for every
    * batch row. Call from `foreachBatch` with the sink-provided batch
    * id; ids must be globally unique across the stream ([[Dedup
    * .withShingles]]' contract).
    *
    * With `liveClusters`, the batch's verified pairs also fold into the
    * (id, cluster) map via [[Components.updateClusters]]: only clusters
    * the batch touches recompute, and the new map is one fresh segment
    * that replaces the old at the batch's commit, as a gold refresh
    * does. The map holds every doc that has ever appeared in a pair;
    * docs with no duplicate are implicit singletons (cluster = own id),
    * the convention [[graft.pipeline.Components.dedupClusters]]
    * exposes. Re-folding pairs the map already holds leaves it
    * unchanged, so a retry folds into whatever map is live. */
  def processBatch(batch: DataFrame, idCol: String, textCol: String,
      dir: String, batchId: Long, p: Params = Params(),
      liveClusters: Boolean = false): DataFrame = {
    val (decisions, staged) = stageBatch(batch, idCol, textCol, dir,
      batchId, p, liveClusters)
    staged.commit()
    decisions
  }

  /** [[processBatch]] up to its commit: every segment written, no
    * manifest flipped. Returns the batch's decisions (a read of its
    * segment) and the flips to make, `buckets` first. */
  private[graft] def stageBatch(batch: DataFrame, idCol: String,
      textCol: String, dir: String, batchId: Long, p: Params,
      liveClusters: Boolean): (DataFrame, Staged) = {
    val spark = batch.sparkSession
    val tag = Some(batchTag(batchId))
    val index = loadIndex(spark, dir, batch, idCol, textCol, p,
      below = Some(batchId))
    val (pairs0, sigs) = Dedup.incrementalMinhashWithSigs(batch, idCol,
      textCol, index, p.shingleWords, p.numHashes, p.bands, p.threshold)
    val pairs = pairs0.persist()
    // strongest applicable label per batch doc: corpus beats batch
    val perDoc = pairs.groupBy(col("id_b").as(idCol))
      .agg(max(when(col("origin") === "corpus", 2).otherwise(1)).as("_lvl"))
    val decisions = batch.select(col(idCol))
      .join(perDoc, Seq(idCol), "left")
      .withColumn("decision",
        when(col("_lvl") === 2, lit("dup_corpus"))
          .when(col("_lvl") === 1, lit("dup_batch"))
          .otherwise(lit("kept")))
      .select(col(idCol), col("decision"))
    val (buckets, shingles, decided) =
      (table(dir, "buckets"), table(dir, "shingles"), table(dir, "decisions"))
    // every cache this call creates is released before it returns,
    // failed or not: nothing leaks across a long-lived stream's batches
    try {
      // writing the decisions materializes every plan this batch needs
      // (its perDoc aggregate fills the `pairs` cache); the segment read
      // back with the write plan's own schema plans jobless
      val decisionSeg = decided.write(decisions, tag)
      val committed = decided.read(spark, decisions.schema, decisionSeg.toSeq)
      // the batch was already shingled once: derive the new postings
      // from the signature frame, no second tokenize. Kept docs are
      // exactly the batch docs that appear as id_b in NO pair (both dup
      // legs emit the duplicate on id_b), so the filter is one
      // anti-join against the cached pairs. Persisted: both posting
      // writes consume it. They run back-to-back on one thread — run
      // concurrently they race the cold cache (duplicate jobs for
      // ~30 ms of saved driver latency); the buckets write fills it
      // and the shingles write is a cache dump.
      val segSigs = sigs.join(pairs.select(col("id_b").as(idCol)),
        Seq(idCol), "left_anti").persist()
      // the cluster fold runs beside the posting writes: it shares no
      // state with them, and its endpoint collect reads the warm
      // `pairs` cache the decisions write just filled
      val writes: Seq[() => Seq[(SegmentTable, Seq[String])]] = Seq(
        () => Seq(
          replacingBatch(buckets, batchId, buckets.write(
            Dedup.lshBuckets(segSigs, p.bands, p.numHashes / p.bands)
              .select(col("_band"), col("_bucket"), col(idCol)), tag)),
          replacingBatch(shingles, batchId, shingles.write(
            segSigs.select(col(idCol), col("_shingles")), tag)))) ++
        (if (liveClusters) Seq(() => Seq(foldClusters(spark, dir, pairs, idCol)))
        else Nil)
      val flips = try Jobs.par(writes).flatten
        finally segSigs.unpersist(blocking = false)
      (committed, Staged(flips :+ replacingBatch(decided, batchId, decisionSeg)))
    } finally {
      pairs.unpersist(blocking = false)
      sigs.unpersist(blocking = false)
    }
  }

  /** The live cluster map folded with `pairs`, written as one segment
    * that is the map's whole next generation. The on-disk map is always
    * (long, long): [[Components.updateClusters]] casts ids and labels
    * before the write, so the read declares LongType whatever the batch
    * id column's type. Every job of the fold carries the table's write
    * label, the endpoint collects and broadcasts that build the next map
    * before its segment write included. */
  private def foldClusters(spark: SparkSession, dir: String,
      pairs: DataFrame, idCol: String): (SegmentTable, Seq[String]) = {
    val t = table(dir, "clusters")
    Jobs.labelled(spark, t.label) {
      val prev = t.read(spark, StructType(Seq(StructField(idCol, LongType),
        StructField("cluster", LongType))))
      val next = Components.updateClusters(prev, idCol, "cluster",
        pairs, "id_a", "id_b")
      try t -> t.write(next).toSeq
      finally Components.release(next)
    }
  }

  /** Merge every live posting segment of batches strictly below `upTo`
    * into one segment per table, tagged `c<upTo>` — the maintenance
    * pass a long-lived stream needs: per-batch segments otherwise
    * accumulate without bound and every probe pays a many-small-files
    * scan (at 100 TB the consolidated write would additionally bucket
    * by (_band, _bucket) / id). Both merged segments are written before
    * either manifest flips, and each flip swaps the merged inputs for
    * the new segment at once, so every crash state reads each posting
    * exactly once. Call between batches — e.g. at the top of
    * `foreachBatch` for batch `upTo`, which by Structured Streaming's
    * monotone batch ids can never race a segment write or an earlier
    * batch's retry. */
  def compactSegments(spark: SparkSession, dir: String, upTo: Long): Unit =
    Staged(Jobs.par(Seq("buckets", "shingles").map { name => () =>
      val t = table(dir, name)
      val segs = earlier(t, upTo)
      Option.when(segs.sizeIs > 1) {
        val merged = spark.read.parquet(segs.map(s => Paths.get(dir, name, s).toString): _*)
        t -> (t.live.filterNot(segs.contains) ++ t.write(merged, Some(s"c$upTo")))
      }
    }).flatten).commit()

  /** The live cluster map, if a fold has committed a non-empty one. */
  def latestClusters(spark: SparkSession, dir: String): Option[DataFrame] =
    Some(table(dir, "clusters").paths).filter(_.nonEmpty)
      .map(paths => spark.read.parquet(paths: _*))
}
