package graft.pipeline

import org.apache.spark.ml.clustering.KMeans
import org.apache.spark.ml.functions.{array_to_vector, vector_to_array}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window

/** IVF (inverted-file) approximate nearest neighbour search: a k-means
  * coarse quantizer partitions the corpus into `nlist` cells; a query
  * probes its `nprobe` nearest cells and ranks candidates by exact
  * cosine. The other canonical ANN scale path next to
  * [[Similarity.annTopK]] (hyperplane LSH): IVF adapts to the data
  * distribution (clustered embeddings → tight cells) where LSH is
  * data-oblivious.
  *
  * Embeddings are unit-normalized before clustering so euclidean
  * k-means cells align with cosine neighbourhoods. Training is MLlib's
  * distributed k-means (seeded, deterministic); cell assignment is a
  * model transform; the probe list is a broadcast join against the
  * (tiny) centroid table. At 100 TB the corpus would persist bucketed
  * by cell id so a probe reads only its cells' files.
  */
object IvfAnn {

  final case class Index(assigned: DataFrame, centroids: DataFrame)

  /** Cluster the corpus: returns corpus rows + `_cell`, and the
    * centroid table (cell, center: array<double>).
    *
    * The quantizer trains on a bounded sample squeezed into few
    * partitions: k-means wall time on a small-to-medium corpus is
    * dominated by per-iteration job scheduling (k-means‖ init alone
    * launches ~5 jobs), not arithmetic, and at 100 TB training on the
    * full corpus is not even desirable — the standard IVF recipe
    * trains the coarse quantizer on a sample and `transform`s the full
    * corpus, which is exactly what this does. Random init + fixed seed
    * keeps the index deterministic; the recall spec guards quality. */
  def buildIndex(corpus: DataFrame, idCol: String, embCol: String,
      nlist: Int, seed: Long = 42L, maxTrainRows: Int = 20000): Index = {
    val n = Similarity.normalized(corpus.select(col(idCol), col(embCol)), embCol, "_ne")
      .withColumn("_features", array_to_vector(col("_ne")))
    // sample, never prefix: corpora are usually laid out in ingestion
    // order, and a limit() would train the quantizer on one region of
    // the distribution. Seeded hash of the id is deterministic across
    // runs and partitionings (unlike sample(), whose draw depends on
    // row order within partitions).
    val total = corpus.count()
    val train0 =
      if (total <= maxTrainRows) n
      else {
        // expected sample ≈ 1.1 × maxTrainRows REGARDLESS of corpus
        // size: compute the keep fraction in floating point and ceil —
        // flooring the quotient to a 1-in-10000 minimum would make the
        // sample grow linearly with the corpus (total/10000 rows at
        // web scale), and integer `*11/10` truncates away the 10%
        // headroom for small quotients
        val keep = math.min(10000L, math.max(1L,
          math.ceil(maxTrainRows.toDouble * 10000 / total * 1.1).toLong))
        n.filter(pmod(xxhash64(col(idCol), lit(seed)), lit(10000L)) < keep)
      }
    val train = train0.select("_features").coalesce(4).cache()
    val model = new KMeans().setK(nlist).setSeed(seed)
      .setInitMode("random").setMaxIter(10)
      .setFeaturesCol("_features").setPredictionCol("_cell")
      .fit(train)
    train.unpersist()
    val assigned = model.transform(n)
      .select(col(idCol), col("_ne"), col("_cell"))
      .persist()
    val spark = corpus.sparkSession
    import spark.implicits._
    val centroids = model.clusterCenters.zipWithIndex
      .map { case (c, i) => (i, c.toArray) }.toSeq
      .toDF("_cell", "_center")
    Index(assigned, centroids)
  }

  /** The two frame schemas a persisted index reads back with —
    * plan-only (a zero-row slice of the corpus through the same
    * normalize projection [[buildIndex]] runs; `_cell` is the int
    * k-means prediction, `_center` the int-keyed centroid array). */
  def indexSchemas(corpus: DataFrame, idCol: String, embCol: String):
      (org.apache.spark.sql.types.StructType,
       org.apache.spark.sql.types.StructType) = {
    import org.apache.spark.sql.types._
    val assigned = Similarity.normalized(
        corpus.limit(0).select(col(idCol), col(embCol)), embCol, "_ne")
      .withColumn("_cell", lit(0))
      .select(col(idCol), col("_ne"), col("_cell")).schema
    val centroids = StructType(Seq(StructField("_cell", IntegerType),
      StructField("_center", ArrayType(DoubleType))))
    (assigned, centroids)
  }

  /** Canonical per-dataset location for a shared demo index — s3_ann_ivf
    * and s4's re-rank path use the same (nlist = 16, default seed)
    * index, so whichever runs first builds it and later consumers read
    * it, exactly like two production consumers sharing one persisted
    * quantizer. Keyed by `nlist`, so an index built at one resolution
    * is never silently served to a caller asking for another. */
  def scratchDir(dataset: String, nlist: Int = 16): String =
    graft.util.Stage.scratchDir("ivf", dataset, "embeddings", s"n$nlist")

  /** The index of `corpus` as a [[graft.util.Stage]] artifact at `dir`:
    * the assigned corpus PARTITIONED BY cell id — so a probe's `_cell`
    * equi-join prunes to its cells' files (dynamic partition pruning
    * against the broadcast probe list) instead of scanning the corpus
    * — plus the tiny centroid table. At 100 TB you'd additionally
    * bucket within cells by id for co-located candidate joins.
    *
    * The artifact is stamped with the REQUESTED `nlist`: the built
    * centroid count can legitimately be smaller (MLlib k-means on a
    * corpus with fewer clusters than cells returns fewer centers), so
    * the count alone cannot tell "same request, sparse data" from
    * "index built at another resolution". The stamp makes an index at
    * a different nlist — larger (the limit below would silently
    * truncate it) or smaller (silently coarser quantization) — fail
    * loudly, including a lost build race against a different-nlist
    * writer at the same explicit dir. */
  def loadOrBuild(corpus: DataFrame, idCol: String, embCol: String,
      nlist: Int, dir: String): Index = {
    val (aSchema, cSchema) = indexSchemas(corpus, idCol, embCol)
    val Seq(assigned, centroids) = graft.util.Stage.loadOrBuild(
        corpus.sparkSession, dir,
        Seq("assigned" -> aSchema, "centroids" -> cSchema), s"nlist=$nlist") {
      val built = buildIndex(corpus, idCol, embCol, nlist)
      graft.util.Stage.Built(Seq(built.assigned.write.partitionBy("_cell"),
        built.centroids.write), () => built.assigned.unpersist())
    }
    // The centroid table has at most nlist rows by construction, but a
    // parquet read carries no static row bound (maxRows = None), so
    // the probe-list cross join downstream would be indistinguishable
    // in the plan from a corpus-quadratic one. Stamp the known bound
    // onto the plan with a semantically-no-op limit (no-op because the
    // nlist stamp was checked): GlobalLimit(nlist) makes the broadcast
    // side's boundedness statically provable.
    Index(assigned, centroids.limit(nlist))
  }

  /** Top-k per query over the `nprobe` nearest cells. */
  def topK(index: Index, queries: DataFrame, k: Int, nprobe: Int,
      idCol: String = "vec_id",
      qIdCol: String = "q_vec_id", qEmbCol: String = "q_embedding"): DataFrame = {
    val qn = Similarity.normalized(queries.select(col(qIdCol), col(qEmbCol)),
      qEmbCol, "_qne")
    // probe list: nprobe nearest centroids per query (centroid table is
    // tiny — nlist rows — so this is a broadcast nested loop over it)
    val wProbe = Window.partitionBy(qIdCol).orderBy(desc("_csim"), col("_cell"))
    val probes = qn.crossJoin(broadcast(index.centroids))
      .withColumn("_csim", Similarity.dot(col("_qne"), col("_center")))
      .withColumn("_crank", row_number().over(wProbe))
      .filter(col("_crank") <= nprobe)
      .select(col(qIdCol), col("_qne"), col("_cell"))
    val w = Window.partitionBy(qIdCol).orderBy(desc("sim"), col(idCol))
    index.assigned.join(broadcast(probes), Seq("_cell"))
      .filter(col(qIdCol) =!= col(idCol))
      .withColumn("sim", Similarity.dot(col("_qne"), col("_ne")))
      .withColumn("rank", row_number().over(w).cast("long"))
      .filter(col("rank") <= k)
      .select(col(qIdCol), col(idCol), col("sim"), col("rank"))
  }
}
