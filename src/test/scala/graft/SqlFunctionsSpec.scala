package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import graft.functions.{Funcs, GraftExtensions}
import graft.spatial.Spatial

/** The SQL-callable function surface: registered names resolve in
  * `spark.sql`, compute the same values as the Column API, survive the
  * read-only queue, and inject via SparkSessionExtensions (the
  * `spark.sql.extensions` deploy path). */
class SqlFunctionsSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  test("q3c_dist / q3c_radial_query match the Column-API spatial path") {
    val s = spark
    val pts = Seq((1L, 41.9, 13.01), (2L, 42.3, 13.0), (3L, 220.0, -40.0))
      .toDF("id", "ra", "dec")
    pts.createOrReplaceTempView("pts")
    val viaSql = s.sql(
      """SELECT id, q3c_dist(ra, dec, 42.0, 13.0) AS sep
        |FROM pts WHERE q3c_radial_query(ra, dec, 42.0, 13.0, 0.5)
        |ORDER BY id""".stripMargin).collect()
    val viaCol = Spatial.coneSearch(pts, "ra", "dec", 42.0, 13.0, 0.5 * 3600)
      .select(col("id"),
        (Funcs.greatCircleDeg(col("ra"), col("dec"), lit(42.0), lit(13.0))).as("sep"))
      .orderBy("id").collect()
    assert(viaSql.map(_.getLong(0)).toSeq == viaCol.map(_.getLong(0)).toSeq)
    viaSql.zip(viaCol).foreach { case (a, b) =>
      assert(math.abs(a.getDouble(1) - b.getDouble(1)) < 1e-12)
    }
    // sanity: the far point is excluded, near points kept
    assert(viaSql.map(_.getLong(0)).toSeq == Seq(1L, 2L))
  }

  test("photometric + time + bit functions compute the documented formulas") {
    val s = spark
    val row = s.sql(
      """SELECT flux2mag(1000.0) AS m, mag2flux(flux2mag(1000.0)) AS f,
        |  timestamp_to_mjd(mjd_to_timestamp(60123.456789)) AS mjd,
        |  zone_id(-89.9, 0.5) AS z0, zone_id(13.26, 0.5) AS z1,
        |  has_any_bit(6, 5) AS b1, has_any_bit(2, 5) AS b2,
        |  dot_product(array(1.0D, 2.0D), array(3.0D, 4.0D)) AS dp,
        |  cosine_sim(array(1.0D, 0.0D), array(1.0D, 0.0D)) AS cs
        |FROM range(1)""".stripMargin).head()
    assert(math.abs(row.getAs[Double]("m") - (-2.5 * math.log10(1000.0) + 31.4)) < 1e-12)
    assert(math.abs(row.getAs[Double]("f") - 1000.0) < 1e-9)
    assert(math.abs(row.getAs[Double]("mjd") - 60123.456789) < 1e-9)
    assert(row.getAs[Int]("z0") == 0)
    assert(row.getAs[Int]("z1") == ((13.26 + 90.0) / 0.5).floor.toInt)
    assert(row.getAs[Boolean]("b1") && !row.getAs[Boolean]("b2"))
    assert(math.abs(row.getAs[Double]("dp") - 11.0) < 1e-12)
    assert(math.abs(row.getAs[Double]("cs") - 1.0) < 1e-12)
  }

  test("q3c_radial_query is sargable: dec band pushes into the parquet scan") {
    val s = spark
    val dir = java.nio.file.Files.createTempDirectory("q3c_sarg").toString
    (0 until 1000).map(i => (i.toLong, (i % 360).toDouble, i * 0.17 - 85.0))
      .toDF("id", "ra", "dec")
      .write.mode("overwrite").parquet(s"$dir/pts")
    s.read.parquet(s"$dir/pts").createOrReplaceTempView("sarg_pts")
    val q = s.sql(
      "SELECT id FROM sarg_pts WHERE q3c_radial_query(ra, dec, 42.0, 13.0, 0.5)")
    // the expanded dec-band conjunct is a plain column range test, so
    // the parquet source must receive dec >= / <= as pushed filters
    // (row-group min/max skipping at 100 TB); the trig conjunct stays
    // in the post-scan codegen filter
    val scan = q.queryExecution.executedPlan.toString()
    assert(scan.contains("PushedFilters") &&
      scan.contains("GreaterThanOrEqual(dec,12.5)") &&
      scan.contains("LessThanOrEqual(dec,13.5)"),
      s"dec band not pushed to parquet:\n$scan")
    // and the predicate still computes the correct membership
    assert(q.collect().map(_.getLong(0)).toSet ==
      (0 until 1000).filter { i =>
        val (ra, dec) = ((i % 360).toDouble, i * 0.17 - 85.0)
        val sep = {
          val dLat = math.toRadians(13.0 - dec)
          val dLon = math.toRadians(42.0 - ra)
          val a = math.pow(math.sin(dLat / 2), 2) +
            math.cos(math.toRadians(dec)) * math.cos(math.toRadians(13.0)) *
              math.pow(math.sin(dLon / 2), 2)
          math.toDegrees(2 * math.asin(math.sqrt(a)))
        }
        sep <= 0.5
      }.map(_.toLong).toSet)
  }

  test("text-pipeline functions match their Column-API counterparts") {
    val s = spark
    import graft.pipeline.TextAnalysis
    val docs = Seq("the cat sat, on the mat!", "el gato es un gato",
      "", "zz qq").toDF("t")
    docs.createOrReplaceTempView("x_txt")
    val viaSql = s.sql(
      """SELECT token_count(t) AS tc, bpeish_token_count(t) AS bc,
        |  lang_id(t) AS lid, quality_score(t) AS q,
        |  doc_fingerprint(t) AS fp FROM x_txt""".stripMargin).collect()
    val viaCol = docs.select(
      TextAnalysis.tokenCount(col("t")).as("tc"),
      TextAnalysis.bpeishTokenCount(col("t")).as("bc"),
      TextAnalysis.langId(col("t")).as("lid"),
      TextAnalysis.qualityScore(col("t")).as("q"),
      TextAnalysis.fingerprint(col("t")).as("fp")).collect()
    assert(viaSql.map(_.toSeq).toSeq == viaCol.map(_.toSeq).toSeq)
  }

  test("dot_product rejects decimal arrays at analysis, not with runtime garbage") {
    val s = spark
    val ex = intercept[Exception](
      s.sql("SELECT dot_product(array(1.5BD, 2.5BD), array(1.5BD, 2.5BD)) FROM range(1)")
        .collect())
    assert(ex.getMessage.toLowerCase.contains("decimal") ||
      ex.getMessage.contains("dot_product"), ex.getMessage)
  }

  test("wrong arity fails analysis with the usage hint, not at runtime") {
    val s = spark
    val ex = intercept[Exception](s.sql("SELECT q3c_dist(1.0, 2.0) FROM range(1)").collect())
    assert(ex.getMessage.contains("q3c_dist"))
  }

  test("registered functions run through the read-only query queue") {
    val s = spark
    Seq((1L, 42.0, 13.0)).toDF("id", "ra", "dec").createOrReplaceTempView("qq_pts")
    val dir = java.nio.file.Files.createTempDirectory("qq_sqlfn").toString
    val q = new graft.api.QueryQueue(s, dir)
    val id = q.submit("u", Seq(
      "SELECT id, q3c_dist(ra, dec, 42.0, 13.001) AS sep FROM qq_pts"))
    q.runAll()
    val e = q.status(id).get
    assert(!e.error, e.errortext)
    assert(q.results(id).count() == 1)
  }

  test("GraftExtensions injects the surface at session build (spark.sql.extensions)") {
    // Build a sibling session over the same SparkContext with the
    // extensions class applied, exactly as `--conf spark.sql.extensions`
    // would; restore the shared test session afterwards.
    val prev = spark
    SparkSession.clearActiveSession()
    SparkSession.clearDefaultSession()
    try {
      val s2 = SparkSession.builder()
        .withExtensions(new GraftExtensions)
        .getOrCreate()
      val v = s2.sql("SELECT q3c_dist(0.0, 0.0, 0.0, 1.0) AS d").head().getDouble(0)
      assert(math.abs(v - 1.0) < 1e-9)
      // DESCRIBE FUNCTION surfaces the registered usage text
      val desc = s2.sql("DESCRIBE FUNCTION q3c_radial_query")
        .collect().map(_.getString(0)).mkString("\n")
      assert(desc.contains("q3c_radial_query"))
    } finally {
      SparkSession.setDefaultSession(prev)
      SparkSession.setActiveSession(prev)
    }
  }
}
