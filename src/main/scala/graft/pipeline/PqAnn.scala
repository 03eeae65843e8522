package graft.pipeline

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window

/** IVF-PQ approximate nearest neighbour search (Jégou et al.,
  * "Product Quantization for Nearest Neighbor Search", TPAMI 2011):
  * the coarse IVF quantizer from [[IvfAnn]] partitions the corpus into
  * cells, and each vector's RESIDUAL from its cell centroid is
  * product-quantized — split into `m` subvectors, each snapped to the
  * nearest of `ksub` per-subspace codebook centroids — so the stored
  * representation is one byte per subvector instead of `dsub` floats.
  *
  * This is the operator that makes embedding search feasible at
  * 100 TB: a 64-dim float64 corpus is 512 B/vector raw but 8 B/vector
  * as PQ codes (64×), which is the difference between "the index fits
  * in cluster memory" and "every probe is an I/O storm". Queries scan
  * only probed cells' CODES with an asymmetric-distance lookup table
  * (one `m × ksub` dot-product table per query, computed once), then
  * re-rank a small candidate multiple by exact similarity against the
  * full vectors — the standard ADC + re-rank recipe.
  *
  * Spark shape: codebook training is ONE distributed Lloyd's loop for
  * ALL subspaces simultaneously (subspace id is just another grouping
  * key — no per-subspace driver round-trips beyond the bounded
  * `m·ksub·dsub` centroid collect per iteration); encoding is a
  * per-row function of (vector, cell) evaluated where the data lives
  * (typed mapPartitions, codebooks in the task closure); probing is a
  * broadcast of the per-query probe list against cell-partitioned
  * codes, so a query reads only its cells' files. Nothing quadratic,
  * nothing driver-side beyond centroid tables.
  */
object PqAnn {

  /** Trained quantizers: `cells(c)(d)` the coarse centroids,
    * `books(mm)(code)(d)` the per-subspace residual codebooks. */
  final case class Model(dim: Int, m: Int, ksub: Int,
      cells: Array[Array[Double]], books: Array[Array[Array[Double]]]) {
    def dsub: Int = dim / m
  }

  /** `codes`: (id, _cell, _code binary[m]) — the compressed corpus. */
  final case class Index(model: Model, codes: DataFrame)

  final case class AssignedRow(id: Long, ne: Seq[Double], cell: Int)
  final case class CodeRow(vec_id: Long, _cell: Int, _code: Array[Byte])

  /** Train coarse cells + PQ codebooks and encode the corpus.
    * Deterministic: the coarse quantizer is [[IvfAnn.buildIndex]]'s
    * seeded k-means; codebook init takes the hash-smallest sample rows
    * per subspace and Lloyd's iterations are exact averages. */
  def buildIndex(corpus: DataFrame, idCol: String, embCol: String,
      dim: Int, nlist: Int, m: Int = 8, ksub: Int = 16,
      iters: Int = 8, seed: Long = 42L, maxTrainRows: Int = 20000): Index =
    buildIndexWithAssigned(corpus, idCol, embCol, dim, nlist, m, ksub,
      iters, seed, maxTrainRows)._1

  /** [[buildIndex]] plus the persisted cell-assignment frame the codes
    * derive from — callers that materialize the index elsewhere (e.g.
    * [[loadOrBuild]]) use the handle to release the cache, as
    * [[Dedup.minhashIndexWithSigs]]. */
  def buildIndexWithAssigned(corpus: DataFrame, idCol: String, embCol: String,
      dim: Int, nlist: Int, m: Int = 8, ksub: Int = 16,
      iters: Int = 8, seed: Long = 42L, maxTrainRows: Int = 20000): (Index, DataFrame) = {
    require(dim % m == 0, s"m=$m must divide dim=$dim")
    require(ksub <= 256, "one byte per subvector: ksub <= 256")
    val spark = corpus.sparkSession
    val dsub = dim / m

    val coarse = IvfAnn.buildIndex(corpus, idCol, embCol, nlist, seed, maxTrainRows)
    val cells = collectCenters(coarse.centroids, nlist)

    // residuals of a bounded training sample (same deterministic
    // hash-sample rationale as IvfAnn.buildIndex: never a prefix)
    val total = coarse.assigned.count()
    val trainRows =
      if (total <= maxTrainRows) coarse.assigned
      else {
        val keep = math.min(10000L, math.max(1L,
          math.ceil(maxTrainRows.toDouble * 10000 / total * 1.1).toLong))
        coarse.assigned.filter(
          pmod(xxhash64(col(idCol), lit(seed)), lit(10000L)) < keep)
      }
    val resid = withResidual(trainRows, idCol, cells)

    // one (row, subspace) stream for ALL subspaces: _m in [0, m),
    // _sub = residual[ _m*dsub .. +dsub ). Persisted: re-read once per
    // Lloyd's iteration.
    val sub = resid.select(col(idCol).as("_tid"),
        explode(array((0 until m).map(mm =>
          struct(lit(mm).as("_m"),
            slice(col("_res"), mm * dsub + 1, dsub).as("_sub"))): _*)).as("_e"))
      .select(col("_tid"), col("_e._m").as("_m"), col("_e._sub").as("_sub"))
      .persist()

    // init: per subspace, the ksub sample rows with the smallest
    // seeded id-hash (deterministic under any partitioning)
    val wInit = Window.partitionBy("_m")
      .orderBy(xxhash64(col("_tid"), lit(seed + 1)), col("_tid"))
    var books: Array[Array[Array[Double]]] = {
      val init = sub.withColumn("_rk", row_number().over(wInit))
        .filter(col("_rk") <= ksub)
        .select(col("_m"), (col("_rk") - 1).as("_cid"), col("_sub"))
        .collect()
      val b = Array.fill(m, ksub)(Array.fill(dsub)(0.0))
      init.foreach { r =>
        b(r.getInt(0))(r.getInt(1)) = r.getSeq[Double](2).toArray }
      b
    }

    // Lloyd's: assign every (row, subspace) to its nearest codeword
    // (broadcast codebook join + min_by partial aggregate), then new
    // centroids = per-dimension means (posexplode + groupBy — the
    // collect is m·ksub·dsub doubles, ~8 KB). Empty codewords keep
    // their previous centroid.
    for (_ <- 0 until iters) {
      val cb = booksDf(spark, books)
      val assigned = sub.join(broadcast(cb), Seq("_m"))
        .withColumn("_d2", sqDist(col("_sub"), col("_cw")))
        .groupBy("_tid", "_m")
        .agg(min_by(col("_cid"), struct(col("_d2"), col("_cid"))).as("_cid"),
          first(col("_sub")).as("_sub"))
      val means = assigned.select(col("_m"), col("_cid"),
          posexplode(col("_sub")).as(Seq("_pos", "_v")))
        .groupBy("_m", "_cid", "_pos").agg(avg(col("_v")).as("_mean"))
        .collect()
      val next = books.map(_.map(_.clone()))
      means.foreach { r =>
        next(r.getInt(0))(r.getInt(1))(r.getInt(2)) = r.getDouble(3) }
      books = next
    }
    sub.unpersist()

    val model = Model(dim, m, ksub, cells, books)
    (Index(model, encode(coarse.assigned, idCol, model)), coarse.assigned)
  }

  /** Per-dimension squared euclidean distance of two equal-length
    * array columns, codegen'd (the interpreted zip_with/aggregate HOF
    * form pays ~30 µs/element). d² = x·x − 2 x·c + c·c. */
  private def sqDist(x: org.apache.spark.sql.Column, c: org.apache.spark.sql.Column) = {
    val dot = graft.functions.VectorExprs.dotProduct _
    dot(x, x) - lit(2.0) * dot(x, c) + dot(c, c)
  }

  private def booksDf(spark: SparkSession,
      books: Array[Array[Array[Double]]]): DataFrame = {
    import spark.implicits._
    books.zipWithIndex.flatMap { case (ws, mm) =>
      ws.zipWithIndex.map { case (w, cid) => (mm, cid, w.toSeq) }
    }.toSeq.toDF("_m", "_cid", "_cw")
  }

  private def collectCenters(centroids: DataFrame, nlist: Int): Array[Array[Double]] = {
    val out = Array.ofDim[Array[Double]](nlist)
    centroids.select("_cell", "_center").collect()
      .foreach(r => out(r.getInt(0)) = r.getSeq[Double](1).toArray)
    out
  }

  /** `_res` = normalized embedding − its cell's centroid; the cell
    * table rides in the closure (nlist·dim doubles). */
  private def withResidual(assigned: DataFrame, idCol: String,
      cells: Array[Array[Double]]): DataFrame = {
    val spark = assigned.sparkSession
    import spark.implicits._
    val cellsDf = cells.zipWithIndex.map { case (c, i) => (i, c.toSeq) }
      .toSeq.toDF("_cell", "_cc")
    assigned.join(broadcast(cellsDf), Seq("_cell"))
      .withColumn("_res", zip_with(col("_ne"), col("_cc"), (a, b) => a - b))
  }

  /** PQ-encode an assigned corpus: one byte per subvector, the
    * argmin-distance codeword of the residual. Per-row work where the
    * rows live (no shuffle); the model rides in the task closure
    * (m·ksub·dsub + nlist·dim doubles — a few KB). */
  def encode(assigned: DataFrame, idCol: String, model: Model): DataFrame = {
    val spark = assigned.sparkSession
    import spark.implicits._
    assigned.select(col(idCol).cast("long").as("id"),
        col("_ne").as("ne"), col("_cell").cast("int").as("cell"))
      .as[AssignedRow]
      .mapPartitions { it =>
        val dsub = model.dsub
        it.map { row =>
          val cc = model.cells(row.cell)
          val code = new Array[Byte](model.m)
          var mm = 0
          while (mm < model.m) {
            val off = mm * dsub
            var best = 0; var bestD = Double.MaxValue
            var c = 0
            while (c < model.ksub) {
              val w = model.books(mm)(c)
              var d = 0.0; var j = 0
              while (j < dsub) {
                val r = row.ne(off + j) - cc(off + j) - w(j)
                d += r * r; j += 1
              }
              if (d < bestD) { bestD = d; best = c }
              c += 1
            }
            code(mm) = best.toByte
            mm += 1
          }
          CodeRow(row.id, row.cell, code)
        }
      }.toDF()
  }

  /** Content-signature + parameter-keyed location (stale codebooks for
    * a regenerated dataset or different layout can never be probed). */
  def scratchDir(dataset: String, nlist: Int, m: Int, ksub: Int): String =
    graft.util.Stage.scratchDir("pq", dataset, "embeddings", nlist, m, ksub)

  /** The index of `corpus` as a [[graft.util.Stage]] artifact at `dir`:
    * codes PARTITIONED BY cell (a probe's equi-join prunes to its
    * cells' files), plus the model (cells + codebooks) as two tiny
    * tables, collected back into a [[Model]] on load. */
  def loadOrBuild(corpus: DataFrame, idCol: String, embCol: String,
      dim: Int, nlist: Int, m: Int = 8, ksub: Int = 16,
      dir: String): Index = {
    val spark = corpus.sparkSession
    import spark.implicits._
    import org.apache.spark.sql.types._
    val codesSchema = StructType(Seq(StructField("vec_id", LongType),
      StructField("_cell", IntegerType), StructField("_code", BinaryType)))
    val cellsSchema = StructType(Seq(StructField("_cell", IntegerType),
      StructField("_center", ArrayType(DoubleType))))
    val booksSchema = StructType(Seq(StructField("_m", IntegerType),
      StructField("_cid", IntegerType),
      StructField("_cw", ArrayType(DoubleType)),
      StructField("_dim", IntegerType)))
    val Seq(codes, cellsPart, booksPart) = graft.util.Stage.loadOrBuild(spark, dir,
        Seq("codes" -> codesSchema, "cells" -> cellsSchema,
          "books" -> booksSchema)) {
      val (built, assigned) =
        buildIndexWithAssigned(corpus, idCol, embCol, dim, nlist, m, ksub)
      graft.util.Stage.Built(Seq(
        built.codes.write.partitionBy("_cell"),
        built.model.cells.zipWithIndex.map { case (c, i) => (i, c.toSeq) }.toSeq
          .toDF("_cell", "_center").repartition(1).write,
        booksDf(spark, built.model.books).withColumn("_dim", lit(built.model.dim))
          .repartition(1).write), () => assigned.unpersist())
    }
    val cellRows = cellsPart.collect()
    val cells = Array.ofDim[Array[Double]](cellRows.length)
    cellRows.foreach(r => cells(r.getInt(0)) = r.getSeq[Double](1).toArray)
    val bookRows = booksPart.collect()
    val bookDim = bookRows.head.getAs[Int]("_dim")
    val bookM = bookRows.map(_.getAs[Int]("_m")).max + 1
    val bookK = bookRows.map(_.getAs[Int]("_cid")).max + 1
    val books = Array.fill(bookM, bookK)(Array.empty[Double])
    bookRows.foreach { r =>
      books(r.getAs[Int]("_m"))(r.getAs[Int]("_cid")) =
        r.getAs[Seq[Double]]("_cw").toArray }
    Index(Model(bookDim, bookM, bookK, cells, books), codes)
  }

  final case class RawRow(id: Long, emb: Seq[Double])

  /** Encode NEW vectors against a FROZEN model — the faiss-`add` shape
    * that lets a streaming embedding pipeline grow the index in O(batch)
    * with no retraining and no corpus rescan (the [[Dedup
    * .incrementalMinhash]] counterpart for the vector family): each
    * batch row is normalized, assigned its nearest coarse cell (same
    * first-minimum argmin the trainer's assignment uses), and
    * residual-encoded with the persisted codebooks. Re-encoding the
    * index's own corpus reproduces its codes exactly (spec-pinned), so
    * append-then-probe ≡ index-rebuilt-over-the-union for queries
    * whose cells the batch lands in. */
  def encodeNew(model: Model, batch: DataFrame, idCol: String,
      embCol: String): DataFrame = {
    val spark = batch.sparkSession
    import spark.implicits._
    Similarity.normalized(batch.select(col(idCol), col(embCol)), embCol, "_ne")
      .select(col(idCol).cast("long").as("id"), col("_ne").as("emb"))
      .as[RawRow]
      .mapPartitions { it =>
        val dsub = model.dsub
        it.map { row =>
          var cell = 0; var cellD = Double.MaxValue
          var c0 = 0
          while (c0 < model.cells.length) {
            val cc = model.cells(c0)
            var d = 0.0; var j = 0
            while (j < model.dim) {
              val r = row.emb(j) - cc(j); d += r * r; j += 1
            }
            if (d < cellD) { cellD = d; cell = c0 }
            c0 += 1
          }
          val cc = model.cells(cell)
          val code = new Array[Byte](model.m)
          var mm = 0
          while (mm < model.m) {
            val off = mm * dsub
            var best = 0; var bestD = Double.MaxValue
            var c = 0
            while (c < model.ksub) {
              val w = model.books(mm)(c)
              var d = 0.0; var j = 0
              while (j < dsub) {
                val r = row.emb(off + j) - cc(off + j) - w(j)
                d += r * r; j += 1
              }
              if (d < bestD) { bestD = d; best = c }
              c += 1
            }
            code(mm) = best.toByte
            mm += 1
          }
          CodeRow(row.id, cell, code)
        }
      }.toDF()
  }

  final case class CandRow(qid: Long, qne: Seq[Double], cell: Int,
      id: Long, code: Array[Byte])
  final case class ScoredRow(q_vec_id: Long, vec_id: Long, _approx: Double)

  /** Top-k per query: probe `nprobe` cells, score their CODES with the
    * per-query ADC lookup table (approx sim = q·cellCenter +
    * Σ_m LUT[m][code[m]], LUT built once per query per partition),
    * keep `rerankFactor`·k best approximations, re-rank those few by
    * exact similarity. Output (qIdCol, vec_id, sim, rank) — the
    * [[IvfAnn.topK]] contract. `exact` supplies the full vectors for
    * re-ranking (usually the corpus the index was built from); only
    * the shortlist's rows are fetched from it. */
  def topK(index: Index, exact: DataFrame, queries: DataFrame,
      k: Int, nprobe: Int, rerankFactor: Int = 4,
      idCol: String = "vec_id", embCol: String = "embedding",
      qIdCol: String = "q_vec_id", qEmbCol: String = "q_embedding"): DataFrame = {
    val spark = index.codes.sparkSession
    import spark.implicits._
    val model = index.model
    val qn = Similarity.normalized(queries.select(col(qIdCol), col(qEmbCol)),
      qEmbCol, "_qne")
    val cellsDf = model.cells.zipWithIndex.map { case (c, i) => (i, c.toSeq) }
      .toSeq.toDF("_cell", "_center")
    val wProbe = Window.partitionBy(qIdCol).orderBy(desc("_csim"), col("_cell"))
    val probes = qn.crossJoin(broadcast(cellsDf))
      .withColumn("_csim", Similarity.dot(col("_qne"), col("_center")))
      .withColumn("_crank", row_number().over(wProbe))
      .filter(col("_crank") <= nprobe)
      .select(col(qIdCol), col("_qne"), col("_cell"))

    // candidates: cell-pruned codes join; ADC score per row. The LUT
    // (m × ksub subspace dot products) is memoized per query id within
    // each partition — the classic "compute the table once, then one
    // add per byte" asymmetric scan.
    val approx = index.codes.join(broadcast(probes), Seq("_cell"))
      .filter(col(qIdCol) =!= col("vec_id"))
      .select(col(qIdCol).cast("long").as("qid"), col("_qne").as("qne"),
        col("_cell").cast("int").as("cell"),
        col("vec_id").cast("long").as("id"), col("_code").as("code"))
      .as[CandRow]
      .mapPartitions { it =>
        val dsub = model.dsub
        val luts = scala.collection.mutable.HashMap.empty[Long, Array[Array[Double]]]
        val cellDots = scala.collection.mutable.HashMap.empty[(Long, Int), Double]
        it.map { r =>
          val lut = luts.getOrElseUpdate(r.qid, {
            Array.tabulate(model.m, model.ksub) { (mm, c) =>
              val w = model.books(mm)(c)
              var s = 0.0; var j = 0
              while (j < dsub) { s += r.qne(mm * dsub + j) * w(j); j += 1 }
              s
            }
          })
          val base = cellDots.getOrElseUpdate((r.qid, r.cell), {
            val cc = model.cells(r.cell)
            var s = 0.0; var j = 0
            while (j < model.dim) { s += r.qne(j) * cc(j); j += 1 }
            s
          })
          var s = base
          var mm = 0
          while (mm < model.m) {
            s += lut(mm)(r.code(mm) & 0xff); mm += 1
          }
          ScoredRow(r.qid, r.id, s)
        }
      }.toDF()

    val wA = Window.partitionBy("q_vec_id").orderBy(desc("_approx"), col("vec_id"))
    val shortlist = approx
      .withColumn("_ar", row_number().over(wA))
      .filter(col("_ar") <= k * rerankFactor)
      .select(col("q_vec_id"), col("vec_id"))

    // exact re-rank of the shortlist only (broadcast the shortlist —
    // k·rerankFactor rows per query — into the corpus fetch)
    val en = Similarity.normalized(
        exact.select(col(idCol).as("_eid"), col(embCol)), embCol, "_ene")
      .select(col("_eid"), col("_ene"))
    val w = Window.partitionBy("q_vec_id").orderBy(desc("sim"), col("vec_id"))
    en.join(broadcast(shortlist), col("_eid") === col("vec_id"))
      .join(broadcast(qn.select(col(qIdCol).as("q_vec_id"), col("_qne"))),
        Seq("q_vec_id"))
      .withColumn("sim", Similarity.dot(col("_qne"), col("_ene")))
      .withColumn("rank", row_number().over(w).cast("long"))
      .filter(col("rank") <= k)
      .select(col("q_vec_id").as(qIdCol), col("vec_id"), col("sim"), col("rank"))
  }
}
