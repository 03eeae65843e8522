package graft

import java.nio.file.Files

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.pipeline.{ClusterStore, Dedup, IvfAnn, PqAnn}

/** Every persisted-artifact load passes an explicit schema (plan-only,
  * no inference job). These tests pin the CONTRACT that makes that
  * safe — the declared schemas describe the bytes actually on disk:
  * loading with them returns the same columns, types, and rows as the
  * schemaless (inference) read of each part. */
class SchemaLoadSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  import spark.implicits._

  private def shape(df: org.apache.spark.sql.DataFrame): Seq[(String, String)] =
    df.schema.fields.toSeq.map(f => (f.name, f.dataType.sql))

  private def rows(df: org.apache.spark.sql.DataFrame): Set[String] =
    df.collect().map(_.toString).toSet

  private val docs = Seq(
    (1L, "the quick brown fox jumps over the lazy dog again and again"),
    (2L, "the quick brown fox jumps over the lazy dog again and again"),
    (3L, "a completely different document about spark shuffles and joins"),
    (4L, "a completely different document about spark shuffles and skew"),
    (5L, "short text")).toDF("doc_id", "text")

  test("minhash index: explicit-schema load ≡ schemaless load") {
    val dir = Files.createTempDirectory("sls_mh").toString + "/ix"
    val typed = Dedup.loadOrBuildIndex(docs, "doc_id", "text",
      shingleWords = 2, numHashes = 8, bands = 4, dir = dir)
    val plainBuckets = spark.read.parquet(s"$dir/buckets")
    val plainShingles = spark.read.parquet(s"$dir/shingles")
    assert(shape(typed.buckets).toSet === shape(plainBuckets).toSet)
    assert(shape(typed.shingles).toSet === shape(plainShingles).toSet)
    assert(rows(typed.buckets.select("_band", "_bucket", "doc_id")) ===
      rows(plainBuckets.select("_band", "_bucket", "doc_id")))
    assert(rows(typed.shingles) === rows(plainShingles))
    graft.util.Local.deleteRecursively(dir)
  }

  test("simhash index: explicit-schema load ≡ schemaless load") {
    val dir = Files.createTempDirectory("sls_sh").toString + "/ix"
    val typed = Dedup.loadOrBuildSimhashIndex(docs, "doc_id", "text",
      maxHamming = 2, shingleWords = 2, dir = dir)
    val plainKeys = spark.read.parquet(s"$dir/keys")
    val plainShingles = spark.read.parquet(s"$dir/shingles")
    assert(shape(typed.keys).toSet === shape(plainKeys).toSet)
    assert(shape(typed.shingles).toSet === shape(plainShingles).toSet)
    assert(rows(typed.keys.select("_comb", "_v1", "_v2", "doc_id", "_sim")) ===
      rows(plainKeys.select("_comb", "_v1", "_v2", "doc_id", "_sim")))
    assert(rows(typed.shingles) === rows(plainShingles))
    graft.util.Local.deleteRecursively(dir)
  }

  test("IVF index: explicit-schema load ≡ schemaless load") {
    val dir = Files.createTempDirectory("sls_ivf").toString + "/ix"
    val emb = (0L until 40L).map(i =>
      (i, Array.tabulate(4)(k => ((i % 5) + k * 0.1)))).toSeq
      .toDF("vec_id", "embedding")
    val typed = IvfAnn.loadOrBuild(emb, "vec_id", "embedding", nlist = 3, dir = dir)
    val plainAssigned = spark.read.parquet(s"$dir/assigned")
    val plainCentroids = spark.read.parquet(s"$dir/centroids")
    assert(shape(typed.assigned).toSet === shape(plainAssigned).toSet)
    assert(shape(typed.centroids).toSet === shape(plainCentroids).toSet)
    assert(rows(typed.assigned.select("vec_id", "_cell")) ===
      rows(plainAssigned.select("vec_id", "_cell")))
    assert(rows(typed.centroids) === rows(plainCentroids))
    graft.util.Local.deleteRecursively(dir)
  }

  test("cluster table: explicit-schema load ≡ schemaless load") {
    val ds = Files.createTempDirectory("sls_cc").toString
    docs.write.parquet(s"$ds/documents.parquet")
    val typed = ClusterStore.loadOrBuild(spark, ds, docs)
    val dir = ClusterStore.scratchDir(ds, 3, 0.5)
    val plain = spark.read.parquet(s"$dir/clusters")
    assert(shape(typed) === shape(plain))
    assert(rows(typed) === rows(plain))
    graft.util.Local.deleteRecursively(dir)
    graft.util.Local.deleteRecursively(ds)
  }

  test("PQ index: static-schema load matches the persisted layout") {
    val dir = Files.createTempDirectory("sls_pq").toString
    val emb = (0L until 64L).map(i =>
      (i, Array.tabulate(8)(k => math.sin(i * 0.37 + k).toDouble))).toSeq
      .toDF("vec_id", "embedding")
    val ix = PqAnn.loadOrBuild(emb, "vec_id", "embedding",
      dim = 8, nlist = 2, m = 2, ksub = 4, dir = dir)
    // the loaded codes frame must agree with the encoder's own shape
    // (s5 unionByName's them) and with the schemaless read of the dir
    val enc = PqAnn.encodeNew(ix.model, emb.limit(0), "vec_id", "embedding")
    assert(shape(ix.codes).toSet === shape(enc).toSet)
    val plain = spark.read.parquet(s"$dir/codes")
    assert(shape(ix.codes).toSet === shape(plain).toSet)
    // hex the code bytes: Row.toString renders binary as an array ref
    def norm(df: org.apache.spark.sql.DataFrame) =
      df.select(col("vec_id"), col("_cell"), hex(col("_code")).as("_code"))
    assert(rows(norm(ix.codes)) === rows(norm(plain)))
    graft.util.Local.deleteRecursively(dir)
  }
}
