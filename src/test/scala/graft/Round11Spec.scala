package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._
import graft.pipeline.{Graph, KMeans, Retrieval}

/** Specs for the round-11 operator additions: triangle counts (g2),
  * phrase search (r8), and the structure function's bucket-bounded
  * pair join (a16). ev7's arithmetic is pure scalar SQL pinned by the
  * double-SF oracle hash.
  */
class Round11Spec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  // ---- g2: triangle counts -----------------------------------------

  /** Brute-force per-node triangle counts over canonical u<v edges. */
  private def bruteTriangles(edges: Seq[(Long, Long)]): Map[Long, (Long, Long)] = {
    val e = edges.map { case (a, b) => (math.min(a, b), math.max(a, b)) }
      .filter { case (a, b) => a != b }.distinct
    val eset = e.toSet
    val nodes = e.flatMap { case (a, b) => Seq(a, b) }.distinct
    val deg = nodes.map(n => n -> e.count { case (a, b) => a == n || b == n }.toLong).toMap
    val tri = scala.collection.mutable.Map.empty[Long, Long].withDefaultValue(0L)
    for {
      Seq(x, y, z) <- nodes.sorted.combinations(3)
      if eset((x, y)) && eset((x, z)) && eset((y, z))
    } { tri(x) += 1; tri(y) += 1; tri(z) += 1 }
    nodes.map(n => n -> (deg(n), tri(n))).toMap
  }

  test("triangleCounts equals brute force on a random graph") {
    val rng = new scala.util.Random(13)
    val edges = (0 until 120).map { _ =>
      (rng.nextInt(18).toLong, rng.nextInt(18).toLong)
    }.filter { case (a, b) => a != b }
    val got = Graph.triangleCounts(edges.toDF("a", "b"), "a", "b")
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2))).toMap
    assert(got == bruteTriangles(edges))
  }

  test("triangleCounts on known graphs: K4, star, triangle-free path") {
    // K4: every node degree 3, in C(3,2)=3 triangles
    val k4 = (for { a <- 0L to 3L; b <- 0L to 3L if a < b } yield (a, b)).toSeq
    val gotK4 = Graph.triangleCounts(k4.toDF("a", "b"), "a", "b")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).sorted
    assert(gotK4.toSeq == (0L to 3L).map(n => (n, 3L, 3L)))
    // star + path are triangle-free
    val star = (1L to 5L).map(l => (0L, l))
    assert(Graph.triangleCounts(star.toDF("a", "b"), "a", "b")
      .filter(col("n_triangles") > 0).count() == 0)
    // duplicate + reversed edges collapse to the same simple graph
    val tri = Seq((1L, 2L), (2L, 1L), (2L, 3L), (3L, 1L), (1L, 3L))
    val gotTri = Graph.triangleCounts(tri.toDF("a", "b"), "a", "b")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).sorted
    assert(gotTri.toSeq == Seq((1L, 2L, 1L), (2L, 2L, 1L), (3L, 2L, 1L)))
  }

  // ---- r8: phrase search --------------------------------------------

  test("phraseSearch hand-computed incl. overlapping repeated tokens") {
    val docs = Seq(
      (1L, "a b c a b"),        // "a b" at 0 and 3
      (2L, "x x x x"),          // "x x x" at 0 and 1 (overlap)
      (3L, "a c b"),            // no "a b"
      (4L, "")).toDF("doc_id", "text")
    val ph = Seq((10L, "a b"), (20L, "x x x"), (30L, "zz"))
      .toDF("query_id", "phrase")
    val got = Retrieval.phraseSearch(docs, "doc_id", "text", ph,
        "query_id", "phrase")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
      .sorted
    assert(got.toSeq == Seq((10L, 1L, 2L, 0L), (20L, 2L, 2L, 0L)))
  }

  test("phraseSearch: single-term phrase counts every occurrence; empty inputs degrade") {
    val docs = Seq((1L, "w v w"), (2L, "v")).toDF("doc_id", "text")
    val one = Retrieval.phraseSearch(docs, "doc_id", "text",
        Seq((1L, "w")).toDF("query_id", "phrase"), "query_id", "phrase")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
    assert(one.toSeq == Seq((1L, 1L, 2L, 0L)))
    // blank phrase tokenizes to zero terms -> dropped, not matched-everywhere
    assert(Retrieval.phraseSearch(docs, "doc_id", "text",
      Seq((1L, "  ")).toDF("query_id", "phrase"), "query_id", "phrase")
      .count() == 0)
    val noDocs = Seq.empty[(Long, String)].toDF("doc_id", "text")
    assert(Retrieval.phraseSearch(noDocs, "doc_id", "text",
      Seq((1L, "w")).toDF("query_id", "phrase"), "query_id", "phrase")
      .count() == 0)
  }

  // ---- s11: deterministic k-means ------------------------------------

  /** Plain-Scala replay of the deterministic Lloyd contract (same
    * seeds, rounding, tiebreaks, empty-cluster carryover). */
  private def denseKmeans(vs: Seq[(Long, Seq[Double])], k: Int,
      iters: Int): Map[Long, (Long, Double)] = {
    def r6(x: Double) = BigDecimal(x)
      .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    def d2(a: Seq[Double], b: Seq[Double]): Double =
      r6(a.zip(b).foldLeft(0.0) { case (s, (x, y)) => s + (x - y) * (x - y) })
    var cents = vs.sortBy(_._1).take(k)
    def assignAll = vs.map { case (id, v) =>
      val (c, d) = cents.map { case (c, cv) => (c, d2(v, cv)) }
        .minBy { case (c, d) => (d, c) }
      (id, c, d)
    }
    for (_ <- 1 to iters) {
      val byC = assignAll.groupBy(_._2)
      cents = cents.map { case (c, cv) =>
        byC.get(c) match {
          case Some(members) =>
            val mv = members.map(m => vs.find(_._1 == m._1).get._2)
            c -> cv.indices.map(i => r6(mv.map(_(i)).sum / mv.size))
          case None => c -> cv
        }
      }
    }
    assignAll.map { case (id, c, d) => id -> (c, d) }.toMap
  }

  test("KMeans.assign equals the sequential Lloyd replay") {
    val rng = new scala.util.Random(23)
    val vs = (0L until 80L).map(i =>
      i -> Seq.fill(6)(rng.nextDouble() * 2 - 1))
    val df = vs.toDF("id", "v")
    val got = KMeans.assign(df, "id", "v", k = 5, iterations = 2)
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getDouble(2))).toMap
    val expect = denseKmeans(vs, 5, 2)
    assert(got.keySet == expect.keySet)
    got.foreach { case (id, (c, d)) =>
      assert(c == expect(id)._1, s"id $id cluster")
      assert(math.abs(d - expect(id)._2) < 1e-9, s"id $id dist")
    }
  }

  test("KMeans: empty clusters keep their seed; k >= n degrades to identity") {
    // two far groups + a lone seed that immediately loses all members
    val vs = Seq(
      1L -> Seq(0.0, 0.0), 2L -> Seq(0.1, 0.0), 3L -> Seq(10.0, 10.0),
      4L -> Seq(10.1, 10.0), 5L -> Seq(10.0, 10.1))
    val got = KMeans.assign(vs.toDF("id", "v"), "id", "v",
        k = 2, iterations = 2)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got(1L) == 1L && got(2L) == 1L)
    assert(got(3L) == 2L && got(4L) == 2L && got(5L) == 2L)
    // k >= n: every vector is its own seed/cluster at distance 0
    val tiny = Seq(7L -> Seq(1.0), 8L -> Seq(2.0))
    val all = KMeans.assign(tiny.toDF("id", "v"), "id", "v",
        k = 5, iterations = 1)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
    assert(all.toSeq.sorted == Seq((7L, 7L, 0.0), (8L, 8L, 0.0)))
  }

  // ---- ev8: incremental rollup ---------------------------------------

  test("RollupStore folds equal one-shot agg; a late fold rewrites no committed segment") {
    val rng = new scala.util.Random(29)
    val rows = (0L until 500L).map { i =>
      (i, rng.nextInt(6), Vector("a", "b", "c")(rng.nextInt(3)),
        rng.nextInt(1000) / 100.0)
    }
    val df = rows.toDF("eid", "day", "k", "v")
    val dir = java.nio.file.Files.createTempDirectory("rollupspec").toString
    try {
      // fold by day pairs: batch 0 = days 0-1, 1 = days 2-3, 2 = days 4-5,
      // then a late batch touching ONLY day 5
      (0 until 3).foreach { b =>
        merge.RollupStore.fold(dir,
          df.filter(col("day") === 2 * b || col("day") === 2 * b + 1),
          "day", "k", "v")
      }
      // every file of every committed segment: (segment/file, mtime, size)
      def files() = {
        val segs = Option(new java.io.File(dir).listFiles()).getOrElse(Array.empty)
          .filter(_.getName.startsWith("seg_"))
        segs.flatMap(s => s.listFiles().map(p =>
          (s"${s.getName}/${p.getName}", p.lastModified(), p.length()))).sorted.toSeq
      }
      val before = files()
      assert(before.count(_._1.endsWith(".parquet")) >= 3)
      val late = Seq((9999L, 5, "a", 1.25)).toDF("eid", "day", "k", "v")
      merge.RollupStore.fold(dir, late, "day", "k", "v")
      val after = files()
      assert(before.forall(after.contains), "a committed segment was rewritten or removed")
      assert(after.map(_._1.takeWhile(_ != '/')).distinct.size ==
        before.map(_._1.takeWhile(_ != '/')).distinct.size + 1,
        "a fold appends exactly one segment")
      // final state == one-shot aggregate over everything folded
      val got = merge.RollupStore.load(spark, dir)
        .collect().map(r => ((r.getAs[Int]("day"), r.getAs[String]("k")),
          (r.getAs[Long]("n"), r.getAs[Double]("sum_value")))).toMap
      val all = rows.map(t => (t._2, t._3, t._4)) :+ ((5, "a", 1.25))
      val expect = all.groupBy(t => (t._1, t._2)).map { case (key, ts) =>
        key -> (ts.size.toLong, ts.map(_._3).sum)
      }
      assert(got.keySet == expect.keySet)
      got.foreach { case (key, (n, sv)) =>
        assert(n == expect(key)._1, s"$key n")
        assert(math.abs(sv - expect(key)._2) < 1e-9, s"$key sum")
      }
    } finally {
      def rec(f: java.io.File): Unit = {
        Option(f.listFiles()).foreach(_.foreach(rec)); f.delete(): Unit
      }
      rec(new java.io.File(dir))
    }
  }

  // ---- a16: bucket-bounded pair join ---------------------------------

  test("a16's bucket trick finds exactly the naive lag-bounded pair set") {
    // mirror the query's shape on a small random frame: pairs within
    // lag <= 2000 via explode-to-two-buckets must equal the naive
    // unbounded self-join filtered to the same bound
    val rng = new scala.util.Random(17)
    val rows = (0L until 300L).map { i =>
      (s"g${rng.nextInt(5)}", rng.nextInt(12000).toLong, i)
    }
    val df = rows.toDF("g", "m", "id")
    val a = df.select(col("g"), col("m").as("m_a"), col("id").as("id_a"))
      .withColumn("_bkt", explode(array(
        expr("m_a div 2000"), expr("m_a div 2000") + 1)))
    val b = df.select(col("g"), col("m").as("m_b"), col("id").as("id_b"))
      .withColumn("_bkt", expr("m_b div 2000"))
    val got = a.join(b, Seq("g", "_bkt"))
      .filter(col("m_b") - col("m_a") <= 2000L &&
        (col("m_a") < col("m_b") ||
          (col("m_a") === col("m_b") && col("id_a") < col("id_b"))))
      .select("g", "id_a", "id_b")
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2))).sorted
    val expect = (for {
      (g1, m1, i1) <- rows; (g2, m2, i2) <- rows
      if g1 == g2 && m2 - m1 <= 2000 &&
        (m1 < m2 || (m1 == m2 && i1 < i2))
    } yield (g1, i1, i2)).sorted
    assert(got.toSeq == expect)
  }
}
