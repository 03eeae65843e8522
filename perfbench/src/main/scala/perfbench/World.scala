package perfbench

import java.util.BitSet
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.types._
import graft.streaming.AlertStream

/** A seeded synthetic LSST-like sky: every object, epoch, flux and id is
  * a pure function of (seed, object index, night), so the benchmark can
  * regenerate any night's alerts and knows the expected silver contents
  * without asking the program.
  *
  * Objects are born at `objectsPerNight` per night, stay active for
  * `ActiveNights` nights, and are observed once per active night in one
  * of 30 visits (10 per band, bands g/r/i). An active object is detected
  * on a night with probability `DetectProb`; forced photometry exists
  * for every active night and reaches alerts one night late. Each
  * detection sends one alert carrying at most `HistoryDepth` previous
  * detections and forced points, so history is redelivered
  * (at-least-once). About `TwinFrac` of objects sit 0.3" from an object
  * born one or two nights earlier, so the importer's 1" root crossmatch
  * merges them; about `BadFrac` of the alerts are solar-system alerts
  * with `diaObjectId = 0`, which the importer must reject.
  *
  * Object i is born on night `i / objectsPerNight - ActiveNights`, so
  * night 0 already has a full active population. */
final class World(val seed: Long, val objectsPerNight: Int) extends Serializable {
  import World._

  private def mix(x0: Long): Long = {
    var z = x0 + 0x9E3779B97F4A7C15L
    z = (z ^ (z >>> 30)) * 0xBF58476D1CE4E5B9L
    z = (z ^ (z >>> 27)) * 0x94D049BB133111EBL
    z ^ (z >>> 31)
  }
  /** Uniform [0, 1) draw for (a, b, salt). */
  def u(a: Long, b: Long, salt: Int): Double =
    (mix(mix(seed * 0x632BE59BD9B4E019L + salt) ^ mix(a * 1000003L + b)) >>> 11) *
      (1.0 / (1L << 53))

  def birth(i: Int): Int = i / objectsPerNight - ActiveNights
  /** Objects active on night n: born in (n - ActiveNights, n]. */
  def activeRange(n: Int): Range =
    ((n + 1) * objectsPerNight) until ((n + ActiveNights + 1) * objectsPerNight)
  /** Every object born on or before night `last`. */
  def objectsThrough(last: Int): Range = 0 until ((last + ActiveNights + 1) * objectsPerNight)

  def objectId(i: Int): Long = ObjectBase + i

  /** A twin's base: an object born one or two nights before it. */
  def twinOf(i: Int): Option[Int] =
    if (i < 3 * objectsPerNight || u(i, 0, 1) >= TwinFrac) None
    else Some(i - objectsPerNight - (u(i, 0, 7) * objectsPerNight).toInt)

  private val patchDeg = 2.0
  private val dec0 = 2.0
  private val ra0 = 150.0
  def position(i: Int): (Double, Double) = twinOf(i) match {
    case Some(b) =>
      val (ra, dec) = position(b)
      val ang = u(i, 0, 8) * 2 * math.Pi
      val r = 0.3 / 3600.0
      (ra + r * math.cos(ang) / math.cos(math.toRadians(dec)), dec + r * math.sin(ang))
    case None =>
      (ra0 + (u(i, 0, 2) - 0.5) * patchDeg / math.cos(math.toRadians(dec0)),
        dec0 + (u(i, 0, 3) - 0.5) * patchDeg)
  }

  def detected(i: Int, n: Int): Boolean = {
    val k = n - birth(i)
    k >= 0 && k < ActiveNights && u(i, n, 4) < DetectProb
  }
  def slot(i: Int, n: Int): Int = (u(i, n, 5) * 30).toInt
  def visit(i: Int, n: Int): Long = n.toLong * 100 + slot(i, n)
  def band(i: Int, n: Int): String = Bands(slot(i, n) / 10)
  def mjd(i: Int, n: Int): Double = MjdZero + n + 0.01 * slot(i, n)
  /** Light curve: a rise-and-fall over the active window, peak flux
    * log-uniform in [2e3, 6e4] nJy, plus seeded noise. */
  def flux(i: Int, n: Int): Float = {
    val peak = 2000.0 * math.pow(30.0, u(i, 0, 9))
    val k = (n - birth(i)).toDouble
    val shape = math.exp(-0.5 * math.pow((k - 2.0) / 2.0, 2))
    (peak * shape + 150.0 * (u(i, n, 10) - 0.5)).toFloat
  }
  def fluxErr(i: Int, n: Int): Float = (100.0 + 20.0 * u(i, n, 11)).toFloat

  def sourceKey(i: Int, n: Int): Int = i * Slots + (n - birth(i))
  def sourceId(i: Int, n: Int): Long = SourceBase + sourceKey(i, n)
  def forcedId(i: Int, n: Int): Long = ForcedBase + sourceKey(i, n)

  /** Objects carrying a second, higher-priority base procver in the
    * bulk catalog. */
  def reprocessed(i: Int): Boolean = u(i, 0, 6) < 0.1

  // ---- alert packets ------------------------------------------------

  private def srcRow(i: Int, n: Int, current: Boolean): Row = {
    val (ra, dec) = position(i)
    val f = flux(i, n); val e = fluxErr(i, n)
    Row(sourceId(i, n), objectId(i), visit(i, n), band(i, n), mjd(i, n), f, e,
      ra, dec,
      if (current) f / e else null, if (current) f * 1.05f else null,
      if (current) e * 1.1f else null, if (current) 0.1f else null,
      if (current) 0.9f else null)
  }
  private def forcedRow(i: Int, n: Int): Row =
    Row(forcedId(i, n), objectId(i), visit(i, n), band(i, n), mjd(i, n),
      flux(i, n) * 0.98f, fluxErr(i, n), flux(i, n) * 1.03f, fluxErr(i, n) * 1.1f)

  /** Record in `t` every photometry key and object night n's alerts
    * carry. */
  def recordNight(n: Int, t: Truth): Unit =
    for (i <- activeRange(n) if detected(i, n)) {
      t.addObject(i, bpvB = false)
      t.addSource(sourceKey(i, n), bpvB = false)
      prvNights(i, n).foreach(m => t.addSource(sourceKey(i, m), bpvB = false))
      forcedNights(i, n).foreach(m => t.addForced(sourceKey(i, m), bpvB = false))
    }

  private def prvNights(i: Int, n: Int): Seq[Int] =
    (birth(i) until n).filter(m => detected(i, m)).takeRight(HistoryDepth)
  private def forcedNights(i: Int, n: Int): Seq[Int] =
    (birth(i) until n).takeRight(HistoryDepth)
  private def badCount(good: Int): Int = math.max(1, math.round(good * BadFrac).toInt)

  /** One alert: object index `i >= 0` detected on night n, or the
    * solar-system alert number `-i - 1` of the night. */
  def alert(i: Int, n: Int): Row =
    if (i >= 0) {
      val (ra, dec) = position(i)
      Row(sourceId(i, n), srcRow(i, n, current = true),
        prvNights(i, n).map(m => srcRow(i, m, current = false)),
        forcedNights(i, n).map(m => forcedRow(i, m)),
        Row(objectId(i), ra, dec),
        cutout(i, n), null, null,
        Seq(Row(111 + slot(i, n) % 3, u(i, n, 12))))
    } else {
      val j = -i - 1
      val id = BadBase + n.toLong * 100000 + j
      val ra = ra0 + u(j, n, 13) - 0.5; val dec = dec0 + u(j, n, 14) - 0.5
      Row(id, Row(id, 0L, n.toLong * 100 + j % 30, Bands(j % 3), MjdZero + n + 0.01 * (j % 30),
          500f, 100f, ra, dec, 5f, 520f, 110f, 0f, 0.5f),
        Seq.empty[Row], Seq.empty[Row], Row(0L, ra, dec), cutout(j, n), null, null,
        Seq.empty[Row])
    }

  /** Night n's alert list: detections in object order, then the
    * solar-system alerts. */
  def nightAlerts(n: Int): IndexedSeq[Int] = {
    val good = activeRange(n).filter(i => detected(i, n))
    good ++ (0 until badCount(good.size)).map(j => -j - 1)
  }

  private def cutout(i: Int, n: Int): Array[Byte] = {
    val r = new java.util.Random(mix(seed ^ (i.toLong << 20) ^ n))
    val b = new Array[Byte](32); r.nextBytes(b); b
  }

  /** Write the given nights' alerts, `files` parquet files per night,
    * in one Spark job: task `f` of night n writes the f-th slice of
    * the night into `dir/night=n`. Appends to nights already there. */
  def writeNights(spark: SparkSession, nights: Seq[Int], files: Int, dir: String): Unit = {
    val w = this
    val rows = spark.sparkContext.parallelize(nights.indices.flatMap(k =>
      (0 until files).map(f => (nights(k), f))), nights.size * files).flatMap { case (n, f) =>
      val ids = w.nightAlerts(n)
      ids.indices.filter(_ % files == f).map(j => Row.fromSeq(w.alert(ids(j), n).toSeq :+ n))
    }
    spark.createDataFrame(rows, AlertStream.alertSchema.add("night", IntegerType))
      .write.mode("append").partitionBy("night").parquet(dir)
  }

  // ---- bulk catalog -------------------------------------------------

  /** (base procver, is B) pairs object i is stored under in the bulk
    * catalog. */
  private def bulkVersions(i: Int): Seq[(String, Boolean)] =
    if (reprocessed(i)) Seq(BpvA -> false, BpvB -> true) else Seq(BpvA -> false)
  private def bulkNights(i: Int, last: Int): Range =
    birth(i) until math.min(birth(i) + ActiveNights, last + 1)

  /** Record the bulk catalog through night `last` in `t`. */
  def recordBulk(last: Int, t: Truth): Unit =
    for (i <- objectsThrough(last); (_, isB) <- bulkVersions(i)) {
      t.addObject(i, isB)
      for (n <- bulkNights(i, last)) {
        if (detected(i, n)) t.addSource(sourceKey(i, n), isB)
        t.addForced(sourceKey(i, n), isB)
      }
    }

  /** Staged importer frames (objects, sources, forced) holding every
    * detection and forced point of objects born through night `last`
    * with epochs up to `last`, under base procver A, plus a copy of the
    * reprocessed objects' rows under base procver B (fluxes 2% higher,
    * so a wrong priority pick is visible). Rows are generated inside
    * Spark tasks. */
  def bulk(spark: SparkSession, last: Int): (DataFrame, DataFrame, DataFrame) = {
    val w = this
    val ts = new java.sql.Timestamp(0L)
    val objs = spark.sparkContext.parallelize(objectsThrough(last),
      spark.sparkContext.defaultParallelism)
    def frame(schema: StructType)(rows: Int => Seq[Row]): DataFrame =
      spark.createDataFrame(objs.flatMap(rows), schema)
    (frame(stagedObjectSchema) { i =>
      val (ra, dec) = w.position(i)
      w.bulkVersions(i).map { case (bpv, _) => Row(w.objectId(i), bpv, ra, dec, ts) }
    }, frame(stagedSourceSchema) { i =>
      val (ra, dec) = w.position(i)
      for ((bpv, isB) <- w.bulkVersions(i); n <- w.bulkNights(i, last) if w.detected(i, n))
        yield Row(w.sourceId(i, n), bpv, w.objectId(i), w.visit(i, n), w.band(i, n),
          w.mjd(i, n), w.flux(i, n) * (if (isB) 1.02f else 1f), w.fluxErr(i, n),
          ra, dec, null, null, null, ts)
    }, frame(stagedForcedSchema) { i =>
      for ((bpv, isB) <- w.bulkVersions(i); n <- w.bulkNights(i, last))
        yield Row(w.forcedId(i, n), bpv, w.objectId(i), w.visit(i, n), w.band(i, n),
          w.mjd(i, n), w.flux(i, n) * 0.98f * (if (isB) 1.02f else 1f), w.fluxErr(i, n),
          null, null, ts)
    })
  }
}

object World {
  /** Nights an object stays active, and the chance it is detected on
    * one of them. */
  val ActiveNights = 8
  val DetectProb = 0.5
  /** Previous detections and forced points an alert carries, at most. */
  val HistoryDepth = 4
  /** Share of objects that are twins, and share of alerts with
    * `diaObjectId = 0`. */
  val TwinFrac = 0.05
  val BadFrac = 0.01
  /** Photometry key slots per object; more than `ActiveNights`. */
  val Slots = 64
  val Bands: IndexedSeq[String] = Vector("g", "r", "i")
  val MjdZero = 61000.0
  val ObjectBase = 1000000000L
  val SourceBase = 100000000000L
  val ForcedBase = 500000000000L
  val BadBase = 900000000000L
  val BpvA = "bpv-a"
  val BpvB = "bpv-b"
  val Procver = "pv-bench"

  private val ts = StructField("ingest_ts", TimestampType)
  val stagedObjectSchema: StructType = StructType(Seq(
    StructField("diaobjectid", LongType), StructField("base_procver_id", StringType),
    StructField("ra", DoubleType), StructField("dec", DoubleType), ts))
  val stagedSourceSchema: StructType = StructType(
    graft.schema.Schemas.diaSource.fields.map(_.copy(nullable = true)) :+ ts)
  val stagedForcedSchema: StructType = StructType(
    graft.schema.Schemas.diaForcedSource.fields.map(_.copy(nullable = true)) :+ ts)
}

/** What silver must hold: photometry keys (`World.sourceKey`) and
  * object indices, per base procver. */
final class Truth {
  val srcA = new BitSet; val srcB = new BitSet
  val frcA = new BitSet; val frcB = new BitSet
  val objA = new BitSet; val objB = new BitSet
  def addSource(k: Int, bpvB: Boolean): Unit = (if (bpvB) srcB else srcA).set(k)
  def addForced(k: Int, bpvB: Boolean): Unit = (if (bpvB) frcB else frcA).set(k)
  def addObject(i: Int, bpvB: Boolean): Unit = (if (bpvB) objB else objA).set(i)
}
