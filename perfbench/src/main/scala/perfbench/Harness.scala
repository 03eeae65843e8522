package perfbench

import java.lang.management.{ManagementFactory, MemoryType}
import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Path, Paths}
import scala.collection.mutable
import scala.jdk.CollectionConverters._
import org.apache.spark.sql.SparkSession

object Clock {
  private val t0 = System.nanoTime()
  /** Seconds since the benchmark JVM started measuring. */
  def now(): Double = (System.nanoTime() - t0) / 1e9
  def time[A](f: => A): (A, Double) = {
    val s = now(); val a = f; (a, now() - s)
  }
}

/** A set of timings; reports the median and the highest percentile with
  * at least ten samples beyond it. */
final class Samples {
  private val xs = mutable.ArrayBuffer.empty[Double]
  def add(x: Double): Unit = synchronized { xs += x }
  def size: Int = synchronized(xs.size)
  def values: Seq[Double] = synchronized(xs.toVector)
  def median: Double = Samples.quantile(values, 0.5)
  /** (percentile, value) of the highest percentile in steps of 5 that
    * leaves at least ten samples above it, if the sample supports one
    * above the median. */
  def tail: Option[(Int, Double)] = {
    val n = size
    (95 to 55 by -5).find(p => n - math.ceil(n * p / 100.0) >= 10)
      .map(p => p -> Samples.quantile(values, p / 100.0))
  }
}

object Samples {
  def quantile(v: Seq[Double], q: Double): Double = {
    require(v.nonEmpty, "no samples")
    val s = v.sorted
    val pos = q * (s.size - 1)
    val lo = math.floor(pos).toInt; val hi = math.ceil(pos).toInt
    s(lo) + (s(hi) - s(lo)) * (pos - lo)
  }
  def median(v: Seq[Double]): Double = quantile(v, 0.5)
}

/** Minimal JSON rendering for the result line and the trace file. */
object Json {
  def str(s: String): String = s.flatMap {
    case '"' => "\\\""; case '\\' => "\\\\"; case '\n' => "\\n"
    case c if c < ' ' => f"\\u${c.toInt}%04x"; case c => c.toString
  }.mkString("\"", "", "\"")
  def num(d: Double): String =
    if (d.isNaN || d.isInfinite) "null"
    else if (d == math.rint(d) && math.abs(d) < 1e15) d.toLong.toString
    else d.toString
  def obj(kv: Seq[(String, String)]): String =
    kv.map { case (k, v) => s"${str(k)}:$v" }.mkString("{", ",", "}")
  def arr(xs: Seq[String]): String = xs.mkString("[", ",", "]")
}

/** Operations and output checks attempted and failed; each output
  * check counts as one operation. */
final class Outcomes {
  private var ops = 0L
  private var opFails = 0L
  private var checks0 = 0L
  private var checkFails = 0L
  def attempted: Long = ops + checks0
  def failed: Long = opFails + checkFails
  def checks: Long = checks0
  def checksFailed: Long = checkFails
  def op(): Unit = ops += 1
  def opFailed(what: String, e: Throwable): Unit = {
    opFails += 1
    System.err.println(s"[perfbench] FAILED op $what: $e")
  }
  /** Record one output check; logs the mismatch when it fails. */
  def check(what: String, ok: Boolean, detail: => String = ""): Unit = {
    checks0 += 1
    if (!ok) {
      checkFails += 1
      System.err.println(s"[perfbench] CHECK FAILED $what $detail")
    }
  }
}

/** One run's metrics, each with its unit, marked end-to-end (what an
  * untraced run prints) or per-layer (what a traced run prints). */
final class Report {
  val metrics = mutable.LinkedHashMap.empty[String, (Double, String, Boolean)]
  def endToEnd(name: String, value: Double, unit: String): Unit =
    metrics(name) = (value, unit, true)
  def put(name: String, value: Double, unit: String): Unit = metrics(name) = (value, unit, false)
  def line(o: Outcomes, traced: Boolean): String = Json.obj(Seq(
    "correct" -> (if (o.failed == 0 && o.checks > 0) "true" else "false"),
    "attempted" -> o.attempted.toString,
    "failed" -> o.failed.toString,
    "metrics" -> Json.obj(metrics.toSeq.collect { case (k, (v, u, e2e)) if e2e != traced =>
      k -> Json.obj(Seq("value" -> Json.num(v), "unit" -> Json.str(u)))
    })))
}

/** Silver read straight from the store's files: live segments per
  * table (its `_manifest`), their parquet footer row counts, and bytes
  * on disk. Footers of immutable segments are read once. */
final class SilverFiles(dir: String) {
  val tables: Seq[String] = Seq("root_diaobject", "diaobject", "diasource",
    "diaforcedsource", "diaobject_position", "diasource_extra",
    "diaforcedsource_extra", "diasource_brokerinfo", "thumbnails")
  private val rowCache = mutable.Map.empty[Path, Long]

  def segments(table: String): Seq[Path] = {
    val m = Paths.get(dir, table, "_manifest")
    if (!Files.exists(m)) Nil
    else Files.readAllLines(m, StandardCharsets.UTF_8).asScala.toSeq
      .filter(_.nonEmpty).map(s => Paths.get(dir, table, s))
  }
  private def parquetFiles(seg: Path): Seq[Path] = {
    val s = Files.list(seg)
    try s.iterator().asScala.filter(_.getFileName.toString.endsWith(".parquet")).toVector
    finally s.close()
  }
  def rows(table: String): Long = segments(table).map { seg =>
    synchronized(rowCache.getOrElseUpdate(seg, parquetFiles(seg).map { p =>
      val in = org.apache.parquet.hadoop.util.HadoopInputFile.fromPath(
        new org.apache.hadoop.fs.Path(p.toUri), new org.apache.hadoop.conf.Configuration(false))
      val r = org.apache.parquet.hadoop.ParquetFileReader.open(in)
      try r.getRecordCount finally r.close()
    }.sum))
  }.sum
  def photometryRows: Long = rows("diasource") + rows("diaforcedsource")
  def bytes: Long = tables.flatMap(segments).flatMap(parquetFiles).map(Files.size).sum
  def liveSegments: Int = tables.map(segments(_).size).sum
}

/** JVM counters over a measurement window. */
final class JvmWindow {
  private def gcMs = ManagementFactory.getGarbageCollectorMXBeans.asScala
    .map(_.getCollectionTime).filter(_ >= 0).sum
  private def heapPools = ManagementFactory.getMemoryPoolMXBeans.asScala
    .filter(_.getType == MemoryType.HEAP)
  private val gc0 = gcMs
  heapPools.foreach(_.resetPeakUsage())
  def gcSeconds: Double = (gcMs - gc0) / 1000.0
  def heapPeakBytes: Double = heapPools.map(_.getPeakUsage.getUsed).sum.toDouble
}

object Canary {
  /** A fixed Spark job that touches none of the program's code: the
    * median of three timings. */
  def run(spark: SparkSession): Double = {
    val ts = (1 to 3).map { _ =>
      Clock.time(spark.range(0L, 20000000L, 1L, spark.sparkContext.defaultParallelism)
        .selectExpr("sum(id * 7 % 13) AS s").collect())._2
    }
    Samples.median(ts)
  }
}
