package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.catalyst.expressions.{AttributeReference, GreaterThanOrEqual, LessThanOrEqual, Literal}
import org.apache.spark.sql.catalyst.plans.logical.Filter
import graft.functions.{Funcs, GraftExtensions}
import graft.spatial.GreatCircleDist

/** SargableCone: the optimizer rule that turns the NAIVE q3c migration
  * form — `WHERE q3c_dist(ra, dec, cRa, cDec) <= r`, the spelling the
  * reference's example SQL uses — into a parquet-pushdown-able dec-band
  * conjunction, mirroring q3c's planner support on Postgres. */
class SargableConeSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  // parquet-backed points: a LocalRelation would be folded away before
  // the filter plan shape can be observed
  private lazy val ptsDir: String = {
    val dir = java.nio.file.Files.createTempDirectory("sarg_cone").toString
    (0 until 1000).map(i => (i.toLong, (i % 360).toDouble, i * 0.17 - 85.0))
      .toDF("id", "ra", "dec")
      .write.mode("overwrite").parquet(s"$dir/pts")
    dir
  }
  private def pts(s: SparkSession): Unit =
    s.read.parquet(s"$ptsDir/pts").createOrReplaceTempView("cone_pts")

  private def expectedIds(radius: Double): Set[Long] =
    (0 until 1000).filter { i =>
      val (ra, dec) = ((i % 360).toDouble, i * 0.17 - 85.0)
      val dLat = math.toRadians(13.0 - dec)
      val dLon = math.toRadians(42.0 - ra)
      val a = math.pow(math.sin(dLat / 2), 2) +
        math.cos(math.toRadians(dec)) * math.cos(math.toRadians(13.0)) *
          math.pow(math.sin(dLon / 2), 2)
      math.toDegrees(2 * math.asin(math.sqrt(a))) <= radius
    }.map(_.toLong).toSet

  private def decBandBounds(df: DataFrame): Seq[(Double, Double)] = {
    val filters = df.queryExecution.optimizedPlan.collect { case f: Filter => f.condition }
    val lo = filters.flatMap(_.collect {
      case GreaterThanOrEqual(a: AttributeReference, Literal(v: Double, _))
          if a.name == "dec" => v
    })
    val hi = filters.flatMap(_.collect {
      case LessThanOrEqual(a: AttributeReference, Literal(v: Double, _))
          if a.name == "dec" => v
    })
    lo.zip(hi)
  }

  test("GreatCircleDist is bit-identical to the composed greatCircleDeg tree") {
    val s = spark
    val r = new scala.util.Random(7)
    val quads = Seq.fill(500)((r.nextDouble * 360, r.nextDouble * 180 - 90,
      r.nextDouble * 360, r.nextDouble * 180 - 90))
    val df = quads.toDF("ra1", "dec1", "ra2", "dec2")
    df.createOrReplaceTempView("gcd_pts")
    val viaExpr = s.sql(
      "SELECT q3c_dist(ra1, dec1, ra2, dec2) FROM gcd_pts")
      .collect().map(_.getDouble(0))
    val viaTree = df.select(
      Funcs.greatCircleDeg(col("ra1"), col("dec1"), col("ra2"), col("dec2")))
      .collect().map(_.getDouble(0))
    viaExpr.zip(viaTree).foreach { case (a, b) =>
      assert(java.lang.Double.doubleToLongBits(a) == java.lang.Double.doubleToLongBits(b),
        s"bit mismatch: $a vs $b")
    }
  }

  test("naive q3c_dist <= r predicate pushes a dec band into the parquet scan") {
    val s = spark
    pts(s)
    val q = s.sql(
      "SELECT id FROM cone_pts WHERE q3c_dist(ra, dec, 42.0, 13.0) <= 0.5")
    val scan = q.queryExecution.executedPlan.toString()
    // band is epsilon-padded (±1e-9°) so float rounding at the cone
    // boundary can never drop a row the distance predicate keeps
    assert(scan.contains("PushedFilters") &&
      scan.contains("GreaterThanOrEqual(dec,12.499999999)") &&
      scan.contains("LessThanOrEqual(dec,13.500000001)"),
      s"dec band not pushed to parquet:\n$scan")
    assert(q.collect().map(_.getLong(0)).toSet == expectedIds(0.5))
  }

  test("all four comparison orientations are rewritten") {
    val s = spark
    pts(s)
    val forms = Seq(
      "q3c_dist(ra, dec, 42.0, 13.0) <= 0.5",
      "q3c_dist(ra, dec, 42.0, 13.0) < 0.5",
      "0.5 >= q3c_dist(ra, dec, 42.0, 13.0)",
      "0.5 > q3c_dist(ra, dec, 42.0, 13.0)")
    forms.foreach { w =>
      val q = s.sql(s"SELECT id FROM cone_pts WHERE $w")
      assert(decBandBounds(q) == Seq((12.499999999, 13.500000001)), s"no band for: $w")
    }
  }

  test("rewrite is idempotent under the fixed-point batch: exactly one band") {
    val s = spark
    pts(s)
    val q = s.sql(
      "SELECT id FROM cone_pts WHERE q3c_dist(ra, dec, 42.0, 13.0) <= 0.5")
    assert(decBandBounds(q) == Seq((12.499999999, 13.500000001)), "band missing or duplicated")
    val dists = q.queryExecution.optimizedPlan.collect { case f: Filter => f }
      .flatMap(_.condition.collect { case g: GreatCircleDist => g })
    assert(dists.nonEmpty && dists.forall(_.bandApplied))
  }

  test("non-foldable center: no band, distance still computes correctly") {
    val s = spark
    pts(s)
    // center columns come from the row itself — nothing foldable
    val q = s.sql(
      """SELECT id FROM cone_pts
        |WHERE q3c_dist(ra, dec, ra + 0.1, dec + 0.1) <= 0.2""".stripMargin)
    assert(decBandBounds(q).isEmpty)
    val expect = (0 until 1000).filter { i =>
      val (ra, dec) = ((i % 360).toDouble, i * 0.17 - 85.0)
      val dLat = math.toRadians(0.1)
      val dLon = math.toRadians(0.1)
      val a = math.pow(math.sin(dLat / 2), 2) +
        math.cos(math.toRadians(dec)) * math.cos(math.toRadians(dec + 0.1)) *
          math.pow(math.sin(dLon / 2), 2)
      math.toDegrees(2 * math.asin(math.sqrt(a))) <= 0.2
    }.map(_.toLong).toSet
    assert(q.collect().map(_.getLong(0)).toSet == expect)
  }

  test("rewrite is sound under OR and NOT: band only tightens its own disjunct") {
    val s = spark
    pts(s)
    // dist ≤ r ⇒ band, so (band AND dist≤r) ≡ dist≤r under any boolean
    // context — including negation, where ¬band ⇒ ¬(dist≤r) keeps
    // ¬(band AND dist≤r) ≡ ¬(dist≤r)
    val orQ = s.sql(
      """SELECT id FROM cone_pts
        |WHERE q3c_dist(ra, dec, 42.0, 13.0) <= 0.5 OR id < 5""".stripMargin)
    assert(orQ.collect().map(_.getLong(0)).toSet ==
      (expectedIds(0.5) ++ (0L until 5L)))
    val notQ = s.sql(
      """SELECT id FROM cone_pts
        |WHERE NOT (q3c_dist(ra, dec, 42.0, 13.0) <= 0.5)""".stripMargin)
    assert(notQ.collect().map(_.getLong(0)).toSet ==
      ((0L until 1000L).toSet -- expectedIds(0.5)))
  }

  test("NaN radius is not banded: result matches the un-rewritten semantics") {
    val s = spark
    pts(s)
    // Spark's total order ranks NaN above every double, so dist <= NaN
    // is TRUE for every row; a band built from NaN arithmetic would be
    // false for every row. The rule must decline.
    val q = s.sql(
      "SELECT id FROM cone_pts WHERE q3c_dist(ra, dec, 42.0, 13.0) <= double('NaN')")
    assert(decBandBounds(q).isEmpty, "NaN radius must not produce a band")
    assert(q.count() == 1000L)
  }

  test("the rule also fires through the GraftExtensions deploy path") {
    val prev = spark
    SparkSession.clearActiveSession()
    SparkSession.clearDefaultSession()
    try {
      val s2 = SparkSession.builder()
        .withExtensions(new GraftExtensions)
        .getOrCreate()
      pts(s2)
      val q = s2.sql(
        "SELECT id FROM cone_pts WHERE q3c_dist(ra, dec, 42.0, 13.0) <= 0.5")
      val scan = q.queryExecution.executedPlan.toString()
      assert(scan.contains("GreaterThanOrEqual(dec,12.499999999)"),
        s"extensions-injected rule did not fire:\n$scan")
      assert(q.collect().map(_.getLong(0)).toSet == expectedIds(0.5))
    } finally {
      SparkSession.setDefaultSession(prev)
      SparkSession.setActiveSession(prev)
    }
  }
}
