package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._
import graft.query.Ltcv

/** Specs for the round-15 additions: the interpolateGrid window-order
  * fix (grid epochs landing exactly on detections — first, last, and
  * mid-curve — must emit the detection's flux with bracket_gap 0, the
  * regression the r7 advice caught in the descending pass), the
  * Stetson J/K wiring (a21), and the persisted ClusterStore artifact
  * cc2/cc4 now probe.
  */
class Round15Spec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  private def tmpDir(tag: String): String = {
    val d = java.nio.file.Files.createTempDirectory(s"graft-$tag")
    d.toFile.deleteOnExit()
    d.toString
  }

  // ---- W9: interpolateGrid exact-hit semantics ----------------------

  test("w9 interpolateGrid: grid epochs exactly on first/mid/last detection") {
    val src = Seq(("a", 10L, 1.0), ("a", 20L, 3.0), ("a", 30L, 5.0))
      .toDF("k", "t", "flux")
    val got = Ltcv.interpolateGrid(src, Seq("k"), "t", "flux", step = 10L)
      .orderBy("t")
      .collect().map(r => (r.getLong(1), r.getDouble(2), r.getLong(3)))
    // every grid epoch inside the span must appear — INCLUDING the
    // ones co-located with the first and last detections (the r7
    // advice bug dropped the last-epoch hit via the descending pass)
    assert(got.toSeq == Seq((10L, 1.0, 0L), (20L, 3.0, 0L), (30L, 5.0, 0L)))
  }

  test("w9 interpolateGrid: linear weights + bracket gaps between detections") {
    val src = Seq(("a", 10L, 1.0), ("a", 20L, 3.0)).toDF("k", "t", "flux")
    val got = Ltcv.interpolateGrid(src, Seq("k"), "t", "flux", step = 4L)
      .orderBy("t")
      .collect().map(r => (r.getLong(1), r.getDouble(2), r.getLong(3)))
    assert(got.toSeq == Seq(
      (12L, 1.0 + 2.0 * 0.2, 10L),
      (16L, 1.0 + 2.0 * 0.6, 10L),
      (20L, 3.0, 0L)))
  }

  test("w9 interpolateGrid: mid-curve exact hit takes the zero-gap branch") {
    // detection at 20 sits exactly on a grid epoch with detections on
    // both sides: the bracket must be (20, 20), NOT (20, next)
    val src = Seq(("a", 5L, 1.0), ("a", 20L, 7.0), ("a", 37L, 3.0))
      .toDF("k", "t", "flux")
    val got = Ltcv.interpolateGrid(src, Seq("k"), "t", "flux", step = 10L)
      .orderBy("t")
      .collect().map(r => (r.getLong(1), r.getDouble(2), r.getLong(3))).toSeq
    assert(got.exists(_ == ((20L, 7.0, 0L))),
      s"exact mid-curve hit must emit the detection flux with gap 0: $got")
    // the 10 and 30 epochs interpolate within their true brackets
    assert(got.exists { case (t, f, g) =>
      t == 10L && math.abs(f - (1.0 + 6.0 * (5.0 / 15.0))) < 1e-12 && g == 15L })
    assert(got.exists { case (t, f, g) =>
      t == 30L && math.abs(f - (7.0 + (3.0 - 7.0) * (10.0 / 17.0))) < 1e-12 && g == 17L })
  }

  // ---- A21: Stetson J/K ---------------------------------------------

  test("a21 stetsonIndices matches the hand formula on an engineered curve") {
    val src = Seq(
      ("a", 1.0, "s1", 10.0, 1.0),
      ("a", 2.0, "s2", 12.0, 1.0),
      ("a", 3.0, "s3", 8.0, 1.0))
      .toDF("k", "t", "srcid", "flux", "err")
    val got = Ltcv.stetsonIndices(src, Seq("k"), "t", "srcid", "flux", "err")
      .collect().map(r => (r.getLong(1), r.getDouble(2), r.getDouble(3))).head
    // n=3, fbar=10, factor sqrt(3/2): deltas = (0, 2f, -2f), f=sqrt(1.5)
    val f = math.sqrt(1.5)
    val p2 = (2 * f) * (-2 * f) // -6
    val j = (0.0 + math.signum(p2) * math.sqrt(math.abs(p2))) / 2.0
    val k = ((0.0 + 2 * f + 2 * f) / 3.0) / math.sqrt((0.0 + 6.0 + 6.0) / 3.0)
    def r3(x: Double) = BigDecimal(x).setScale(3, BigDecimal.RoundingMode.HALF_UP).toDouble
    assert(got._1 == 3L)
    assert(got._2 == r3(j) + 0.0)
    assert(got._3 == r3(k))
  }

  // ---- ClusterStore: persisted artifact ------------------------------

  test("ClusterStore persists once and probes give cc1-identical clusters") {
    val dir = tmpDir("ccstore")
    val docs = Seq(
      (1L, "a b c d e", "s1"), (2L, "a b c d e", "s1"),
      (3L, "x y z w q", "s2"), (4L, "x y z w q r", "s2"))
      .toDF("doc_id", "text", "source")
    docs.write.mode("overwrite").parquet(s"$dir/documents.parquet")
    val stored = graft.pipeline.ClusterStore.loadOrBuild(spark, dir, docs)
      .orderBy("doc_id")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getBoolean(2))).toSeq
    // direct substrate replay must agree
    val pairs = graft.pipeline.Dedup.ngramJaccardPairsAuto(
      docs, "doc_id", "text", shingleWords = 3, threshold = 0.5)
    val direct = graft.pipeline.Components
      .dedupClusters(docs, "doc_id", pairs, "id_a", "id_b")
      .orderBy("doc_id")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getBoolean(2))).toSeq
    assert(stored == direct)
    // the artifact is on disk and a second call probes it (same rows,
    // committed by its manifest — the loadOrBuild read path)
    val sd = graft.pipeline.ClusterStore.scratchDir(dir, 3, 0.5)
    assert(graft.util.Stage.isCommitted(sd))
    val again = graft.pipeline.ClusterStore.loadOrBuild(
        spark, dir, sys.error("must not rebuild"))
      .orderBy("doc_id")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getBoolean(2))).toSeq
    assert(again == stored)
  }
}
