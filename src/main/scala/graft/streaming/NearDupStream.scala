package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.pipeline.{Components, Dedup}

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
  * State layout: one segment directory per micro-batch
  * (`dir/buckets/b<id>`, `dir/shingles/b<id>`), written with overwrite —
  * a foreachBatch retry of batch N rewrites exactly its own segment, so
  * at-least-once delivery cannot duplicate postings (the SilverStore
  * segment idea, without the manifest since segments here are
  * append-only and self-identifying).
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

  /** Segment subdirectories that actually committed (`_SUCCESS`
    * present) — a crash mid-write leaves a marker-less directory,
    * which a bare glob read would trip over forever. Two kinds:
    * `b<id>` holds batch id's postings; `c<upTo>` is a COMPACTED
    * segment holding everything from batches strictly below `upTo`
    * (see [[compactSegments]]). The view keeps only the newest
    * c-segment and the b-segments it does not cover, so a crash that
    * leaves both a c-segment and its superseded inputs on disk never
    * double-counts a posting. `below` restricts to content from
    * batches strictly earlier than the given id: a RETRY of a batch
    * whose own segment already committed must not see itself in the
    * index (every doc would match its replayed twin and the "kept"
    * rewrite would empty the segment); a c-segment qualifies when
    * upTo <= below since it only holds strictly-earlier batches. */
  private[streaming] def committedSegments(root: String,
      below: Option[Long]): Seq[String] = {
    val parsed = Option(new java.io.File(root).listFiles()).map(_.toSeq).getOrElse(Nil)
      .filter(f => f.isDirectory && new java.io.File(f, "_SUCCESS").exists())
      .flatMap { f =>
        val n = f.getName
        scala.util.Try(n.drop(1).toLong).toOption
          .filter(_ => n.startsWith("b") || n.startsWith("c"))
          .map(id => (f, n.head, id))
      }
    val within = parsed.filter { case (_, kind, id) =>
      below.forall(b => if (kind == 'c') id <= b else id < b) }
    val maxC = within.collect { case (_, 'c', id) => id }
      .maxOption.getOrElse(Long.MinValue)
    within.filter { case (_, kind, id) =>
        if (kind == 'c') id == maxC  // older compactions are subsumed
        else id >= maxC              // b-segments below maxC are covered
      }
      .map(_._1.getAbsolutePath).sorted
  }

  /** Accumulated index across committed segments (strictly before
    * `below` when given); typed-empty (via a zero-row slice of `like`)
    * when no committed segment exists. */
  def loadIndex(spark: SparkSession, dir: String, like: DataFrame,
      idCol: String, textCol: String, p: Params,
      below: Option[Long] = None): Dedup.NearDupIndex = {
    val (b, sh) = (committedSegments(s"$dir/buckets", below),
      committedSegments(s"$dir/shingles", below))
    if (b.nonEmpty && sh.nonEmpty) {
      // explicit schemas (fixed by construction — Dedup.indexSchemas is
      // plan-only): without them every fold pays two footer-inference
      // scheduler jobs just to re-derive (_band,_bucket,id)/(id,_shingles)
      val (bSchema, shSchema) = Dedup.indexSchemas(like, idCol, textCol,
        p.shingleWords, p.numHashes, p.bands)
      Dedup.NearDupIndex(spark.read.schema(bSchema).parquet(b: _*),
        spark.read.schema(shSchema).parquet(sh: _*))
    } else
      Dedup.minhashIndex(like.limit(0), idCol, textCol,
        p.shingleWords, p.numHashes, p.bands)
  }

  /** Score one micro-batch against the accumulated corpus, append the
    * novel docs' postings, and return (idCol, decision) for every
    * batch row. Call from `foreachBatch` with the sink-provided batch
    * id; ids must be globally unique across the stream ([[Dedup
    * .withShingles]]' contract). */
  def processBatch(batch: DataFrame, idCol: String, textCol: String,
      dir: String, batchId: Long, p: Params = Params(),
      liveClusters: Boolean = false): DataFrame = {
    val spark = batch.sparkSession
    // the index view excludes this batch's own (possibly already
    // committed) segment, so a foreachBatch RETRY recomputes the same
    // decisions instead of matching its replayed twin
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
    // decisions are STATE like the postings (the dedup log a pipeline
    // audits), and writing them materializes every plan this batch
    // needs — so all caches this call created can be released before
    // returning; nothing leaks across a long-lived stream's batches
    decisions.write.mode("overwrite").parquet(s"$dir/decisions/b$batchId")
    // read back what committed (the caller's contract) with the write
    // plan's own schema — an inference read here is one wasted
    // footer job per fold
    val committed = spark.read.schema(decisions.schema)
      .parquet(s"$dir/decisions/b$batchId")
    // the batch was already shingled once: derive the new segment from
    // the signature frame, no second tokenize. Kept docs are exactly
    // the batch docs that appear as id_b in NO pair (decision "kept" ⇔
    // perDoc._lvl null ⇔ absent from pairs.id_b — both dup legs emit
    // the duplicate on id_b), so the segment filter is one anti-join
    // against the ALREADY-CACHED pairs frame instead of a semi-join
    // against a read-back of the decisions parquet: same rows, minus
    // one file-scan + broadcast chain per fold (r15; the read-back
    // `committed` stays the RETURN value — with its explicit schema it
    // plans jobless, so callers that discard it, like the live-cluster
    // fold loop, no longer pay for it at all).
    // Persisted: both segment writes consume it, and without the cache
    // each re-runs the anti-join. The two segment writes run
    // back-to-back INSIDE one future — launched concurrently they race
    // the cold segSigs cache (duplicate jobs for ~30 ms of saved
    // driver latency); the buckets write fills the cache and the
    // shingles write is then a pure cache dump.
    val segSigs = sigs.join(pairs.select(col("id_b").as(idCol)),
      Seq(idCol), "left_anti").persist()
    // The live-cluster fold runs in a SECOND future (r15): it starts
    // AFTER the decisions write — whose perDoc aggregate has just
    // materialized the `pairs` cache, so the fold's endpoint collect
    // reads warm cache instead of re-materializing the probe DAG's
    // AQE stages — and CONCURRENTLY with the segment writes, which it
    // shares no state with (clusters/v<id> vs buckets|shingles/b<id>).
    // Retry safety is unchanged: both folds are overwrite-idempotent
    // and read only strictly-earlier state.
    val writes = Seq(
      () => {
        Dedup.lshBuckets(segSigs, p.bands, p.numHashes / p.bands)
          .select(col("_band"), col("_bucket"), col(idCol))
          .write.mode("overwrite").parquet(s"$dir/buckets/b$batchId")
        segSigs.select(col(idCol), col("_shingles"))
          .write.mode("overwrite").parquet(s"$dir/shingles/b$batchId")
      }) ++
      (if (liveClusters)
        Seq(() => updateClusterState(spark, dir, pairs, idCol, batchId))
      else Nil)
    val pool = java.util.concurrent.Executors.newFixedThreadPool(writes.size)
    implicit val ec: scala.concurrent.ExecutionContext =
      scala.concurrent.ExecutionContext.fromExecutor(pool)
    // unpersist in the finally: if either write fails, Await.result
    // throws and a bare post-Await unpersist would be skipped, leaking
    // cached blocks across every later micro-batch of the stream
    try scala.concurrent.Await.result(
      scala.concurrent.Future.sequence(
        writes.map(w => scala.concurrent.Future(w()))),
      scala.concurrent.duration.Duration.Inf): Unit
    finally {
      pool.shutdown()
      segSigs.unpersist(blocking = false)
      pairs.unpersist(blocking = false)
      sigs.unpersist(blocking = false)
    }
    committed
  }

  /** Merge every committed posting segment from batches strictly below
    * `upTo` into one consolidated segment pair (`buckets/c<upTo>`,
    * `shingles/c<upTo>`) — the maintenance pass a long-lived stream
    * needs: per-batch segments otherwise accumulate without bound and
    * every probe pays a file-listing + many-small-files scan (the
    * classic small-files problem; at 100 TB the consolidated write
    * would additionally bucket by (_band, _bucket) / id).
    *
    * Crash-safe without a manifest: the consolidated data lands in a
    * temp dir first, renames into place as `c<upTo>`, and only then
    * are the superseded inputs deleted. [[committedSegments]] always
    * prefers the newest c-segment and ignores b-segments it covers, so
    * every intermediate crash state reads consistently (temp dirs are
    * not b/c-named and are invisible; leftover inputs are ignored once
    * the rename lands, and deleted by the next compaction). Call
    * between batches — e.g. at the top of `foreachBatch` for batch
    * `upTo`, which by Structured Streaming's monotone batch ids can
    * never race a segment write or an earlier batch's retry. */
  def compactSegments(spark: SparkSession, dir: String, upTo: Long,
      targetPartitions: Int = 8): Unit =
    Seq("buckets", "shingles").foreach { kind =>
      val root = s"$dir/$kind"
      val segs = committedSegments(root, Some(upTo))
      if (segs.size > 1) {
        val tmp = new java.io.File(s"$dir/_compact_tmp_$kind")
        graft.util.Local.deleteRecursively(tmp.getAbsolutePath)
        spark.read.parquet(segs: _*).coalesce(targetPartitions)
          .write.mode("overwrite").parquet(tmp.getAbsolutePath)
        val dest = new java.io.File(root, s"c$upTo")
        graft.util.Local.deleteRecursively(dest.getAbsolutePath)
        require(tmp.renameTo(dest), s"compaction rename failed: $tmp -> $dest")
        segs.foreach(graft.util.Local.deleteRecursively)
      }
    }

  /** LIVE duplicate clusters: fold the batch's verified pairs into the
    * versioned (id, cluster) map via [[Components.updateClusters]] —
    * only clusters the batch touches recompute; everything else passes
    * through. One full map version per batch (`clusters/v<id>`),
    * overwrite-idempotent under retries like the posting segments; the
    * latest committed version is the serving state. The map holds
    * every doc that has ever appeared in a pair —
    * docs with no duplicate are implicit singletons (cluster = own id),
    * the same convention [[graft.pipeline.Components.dedupClusters]]
    * exposes. Returns nothing: the committed version IS the product —
    * readers go through [[latestClusters]], and the old read-back of
    * the just-written directory was one wasted job per fold (the sole
    * caller discards it). */
  def updateClusterState(spark: SparkSession, dir: String,
      pairs: DataFrame, idCol: String, batchId: Long): Unit = {
    import spark.implicits._
    // fold on the latest version STRICTLY BELOW this batch: a retry
    // whose own v<batchId> already committed must neither read the
    // directory it is about to overwrite (Spark refuses to overwrite a
    // path being read) nor fold its pairs in twice — recomputing from
    // the predecessor is idempotent by construction
    // the on-disk map is ALWAYS (long, long): Components.updateClusters
    // casts ids and cluster labels to long before this function writes
    // them — so the versioned read pins LongType explicitly (skipping
    // one footer-inference job per fold) regardless of the batch id
    // column's pre-cast type, matching the Seq[(Long, Long)] bootstrap
    val mapSchema = org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField(idCol,
        org.apache.spark.sql.types.LongType),
      org.apache.spark.sql.types.StructField("cluster",
        org.apache.spark.sql.types.LongType)))
    val prev = latestClusters(spark, dir, below = Some(batchId),
        schema = Some(mapSchema))
      .getOrElse(Seq.empty[(Long, Long)].toDF(idCol, "cluster"))
    val next = Components.updateClusters(prev, idCol, "cluster",
      pairs, "id_a", "id_b")
    next.write.mode("overwrite").parquet(s"$dir/clusters/v$batchId")
    Components.release(next)
  }

  /** The highest committed cluster-map version (strictly below the
    * given batch id when set), if any. Callers that know the map's
    * fixed (id, cluster) schema pass it to skip the footer-inference
    * job the schemaless read would fire. */
  def latestClusters(spark: SparkSession, dir: String,
      below: Option[Long] = None,
      schema: Option[org.apache.spark.sql.types.StructType] = None)
      : Option[DataFrame] = {
    val root = new java.io.File(s"$dir/clusters")
    val versions = Option(root.listFiles()).map(_.toSeq).getOrElse(Nil)
      .filter(f => f.getName.startsWith("v") &&
        new java.io.File(f, "_SUCCESS").exists())
      .flatMap(f => scala.util.Try(f.getName.drop(1).toLong).toOption.map(_ -> f))
      .filter { case (v, _) => below.forall(v < _) }
    versions.sortBy(_._1).lastOption.map { case (_, f) =>
      schema.fold(spark.read)(spark.read.schema)
        .parquet(f.getAbsolutePath)
    }
  }
}
