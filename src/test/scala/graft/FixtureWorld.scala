package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import graft.functions.Funcs
import graft.procver.{ProcVer, ProcVerDims}
import graft.query.Catalog

/** Deterministic re-creation of the reference's synthetic fixture world
  * (tests/conftest.py:57-845, documented in FIXTURES.md §1): 4 root
  * objects with engineered identity pathologies, 7 base procvers with
  * priority-fallback chains, detections + forced photometry with
  * deliberate overlaps. Expected values are recomputed naively over
  * plain Scala collections (the tests are differential: Spark engine vs
  * naive implementation of the reference semantics).
  */
object FixtureWorld {

  // ---- plain-Scala row models -------------------------------------
  case class Obj(diaobjectid: Long, bpv: String, rootid: String)
  case class Src(id: Long, bpv: String, objid: Long, visit: Long, band: String,
      mjd: Double, flux: Double, fluxerr: Double, ra: Double, dec: Double)

  // roots: two within 13″, one 20″ off, one far (conftest.py:333-336)
  val roots: Seq[(String, Double, Double)] = Seq(
    ("root-0", 42.0, 13.0),
    ("root-1", 42.0, 13.0036),
    ("root-2", 42.0, 13.0056),
    ("root-3", 42.0, 14.0))

  val starts  = Seq(60000.0, 60020.0, 60040.0, 60050.0)
  val ends    = Seq(60030.0, 60060.0, 60080.0, 60060.0)
  val peaks   = Seq(60010.0, 60035.0, 60050.0, 60055.0)
  val peakMag = Seq(24.0, 22.0, 23.0, 23.5)
  val cadence = 2.5
  val bands   = Seq("r", "g")

  /** mag rises/falls linearly 0.1 mag/day away from peak. */
  def magAt(obj: Int, mjd: Double): Double =
    peakMag(obj) + math.abs(mjd - peaks(obj)) * 0.1
  def fluxAt(obj: Int, mjd: Double): Double = Funcs.mag2flux(magAt(obj, mjd))
  def fluxerrAt(obj: Int, mjd: Double): Double = fluxAt(obj, mjd) / 20.0 + 10.0
  def visitOf(mjd: Double): Long = math.floor(mjd * 20000).toLong

  /** The base procvers and which flux scale they apply (so priority
    * fallback is observable in the output values). */
  val bpvFluxScale: Map[String, Double] = Map(
    "bpv1" -> 1.0, "bpv1a" -> 1.01, "bpv1b" -> 1.02,
    "bpv2" -> 1.0, "bpv2a" -> 1.03, "bpv3" -> 1.0, "realtime" -> 1.0)

  /** procver priority chains, high priority = preferred
    * (conftest.py:63-71): pv1 = bpv1b > bpv1a > bpv1, pv2 = bpv2a >
    * bpv2, pv3 = [bpv3], realtime = [realtime]; alias default → pv2. */
  val chains: Map[String, Seq[String]] = Map(
    "pv1" -> Seq("bpv1b", "bpv1a", "bpv1"),
    "pv2" -> Seq("bpv2a", "bpv2"),
    "pv3" -> Seq("bpv3"),
    "realtime" -> Seq("realtime"))

  val tables = Seq("diaobject", "diasource", "diaforcedsource")

  def bpvId(desc: String, table: String): String = s"$desc:$table"

  /** diaobjectid used by `bpv` for object index `i`. Pathologies
    * (conftest.py:273-296): object 0 is ALSO diaobjectid 100 in bpv1;
    * object 1 is split between 201 (integral mjd) and 2011 in bpv2. */
  def objIdFor(bpv: String, i: Int, mjd: Double): Long = (bpv, i) match {
    case ("bpv1", 0) => 100L
    case ("bpv2", 1) => if (mjd == math.floor(mjd)) 201L else 2011L
    case (_, n)      => (n + 1) * 1000L
  }

  /** detection grid for object i: cadence 2.5 d over [start, end]. */
  def detMjds(i: Int): Seq[Double] =
    Iterator.iterate(starts(i))(_ + cadence).takeWhile(_ <= ends(i)).toSeq
  /** forced-only epochs offset by half a cadence (exercises the patch
    * join's forced-without-detection side). */
  def forcedOnlyMjds(i: Int): Seq[Double] = detMjds(i).map(_ + 1.25)
  /** detections in the last 5 days have no forced row yet (late forced
    * photometry → ispatch, SURVEY.md §2.9 T5). */
  def hasForced(i: Int, mjd: Double): Boolean = mjd <= ends(i) - 5.0

  /** which detection epochs each bpv carries (overlap engineering). */
  def bpvHasDet(bpv: String, i: Int, idx: Int, mjd: Double): Boolean = bpv match {
    case "bpv1"     => true
    case "bpv1a"    => idx % 2 == 0
    case "bpv1b"    => idx % 4 == 0
    case "bpv2"     => true
    case "bpv2a"    => idx % 3 == 0
    case "bpv3"     => true
    case "realtime" => mjd <= 60060.0
    case _          => false
  }

  private def mkSources(forced: Boolean): Seq[Src] = {
    var id = if (forced) 500000L else 100000L
    val out = Seq.newBuilder[Src]
    for {
      (bpvDesc, _) <- bpvFluxScale.toSeq.sortBy(_._1)
      i <- roots.indices
      (mjdDet, idx) <- detMjds(i).zipWithIndex
      mjd = if (forced) mjdDet else mjdDet
      if bpvHasDet(bpvDesc, i, idx, mjd)
      if !forced || hasForced(i, mjd)
    } {
      id += 1
      val band = bands(idx % bands.length)
      val scale = bpvFluxScale(bpvDesc)
      out += Src(id, bpvDesc, objIdFor(bpvDesc, i, mjd), visitOf(mjd), band,
        mjd, fluxAt(i, mjd) * scale, fluxerrAt(i, mjd), roots(i)._2, roots(i)._3)
    }
    // forced-only epochs (no matching detection visit)
    if (forced) {
      for {
        (bpvDesc, _) <- bpvFluxScale.toSeq.sortBy(_._1)
        i <- roots.indices
        (mjd, idx) <- forcedOnlyMjds(i).zipWithIndex
        if bpvHasDet(bpvDesc, i, idx, mjd)
      } {
        id += 1
        val band = bands(idx % bands.length)
        out += Src(id, bpvDesc, objIdFor(bpvDesc, i, mjd), visitOf(mjd), band,
          mjd, fluxAt(i, mjd) * bpvFluxScale(bpvDesc), fluxerrAt(i, mjd),
          roots(i)._2, roots(i)._3)
      }
    }
    out.result()
  }

  lazy val detections: Seq[Src] = mkSources(forced = false)
  lazy val forcedSources: Seq[Src] = mkSources(forced = true)

  /** diaobject rows: every (diaobjectid, bpv) pair that appears. */
  lazy val objects: Seq[Obj] = {
    val fromPhot = (detections ++ forcedSources)
      .map(s => (s.objid, s.bpv)).distinct
    fromPhot.map { case (oid, bpv) =>
      val i = oid match {
        case 100L | 1000L => 0
        case 201L | 2011L | 2000L => 1
        case 3000L => 2
        case _ => 3
      }
      Obj(oid, bpv, roots(i)._1)
    }
  }

  // ---- naive oracle (reference semantics in plain Scala) ----------

  /** priority of a bpv under a procver chain (position from the end). */
  def prioMap(procver: String): Map[String, Int] =
    chains(procver).reverse.zipWithIndex.toMap   // low..high

  /** A1 naive: per (rootid, visit) keep max (priority, id). */
  def naiveDedup(rows: Seq[Src], procver: String,
      mjdNow: Option[Double] = None, bandSel: Seq[String] = Nil): Map[(String, Long), (Src, String)] = {
    val prios = prioMap(procver)
    val rootOf: Map[(String, Long), String] =
      objects.map(o => (o.bpv, o.diaobjectid) -> o.rootid).toMap
    rows
      .filter(r => prios.contains(r.bpv))
      .filter(r => mjdNow.forall(r.mjd <= _))
      .filter(r => bandSel.isEmpty || bandSel.contains(r.band))
      .map(r => (r, rootOf((r.bpv, r.objid))))
      .groupBy { case (r, root) => (root, r.visit) }
      .map { case (k, g) => k -> g.maxBy { case (r, _) => (prios(r.bpv), r.id) } }
  }

  // ---- Spark DataFrames -------------------------------------------

  def dims(spark: SparkSession): ProcVerDims = {
    val basePv = for {
      d <- bpvFluxScale.keys.toSeq.sorted; t <- tables
    } yield (bpvId(d, t), d, t)
    val pv = chains.keys.toSeq.sorted.map(p => (s"pvid-$p", p))
    val links = for {
      (p, chain) <- chains.toSeq; t <- tables
      (b, idx) <- chain.reverse.zipWithIndex   // idx = priority, higher wins
    } yield (s"pvid-$p", bpvId(b, t), t, idx)
    ProcVer.fromRows(spark, basePv, pv, links, Seq(("default", "pvid-pv2")))
  }

  def catalog(spark: SparkSession): Catalog = {
    import spark.implicits._
    val rootDf = roots.toDF("id", "ra", "dec")
    def objDf(table: String) = objects
      .map(o => (o.diaobjectid, bpvId(o.bpv, "diaobject"), o.rootid))
      .toDF("diaobjectid", "base_procver_id", "rootid")
    def photDf(rows: Seq[Src], table: String, idName: String) = rows
      .map(s => (s.id, bpvId(s.bpv, table), s.objid, s.visit, s.band, s.mjd,
        s.flux.toFloat, s.fluxerr.toFloat, s.ra, s.dec))
      .toDF(idName, "base_procver_id", "diaobjectid", "visit", "band",
        "midpointmjdtai", "psfflux", "psffluxerr", "ra", "dec")
    val posDf = Seq.empty[(Long, String, Double, Double)]
      .toDF("diaobjectid", "base_procver_id", "ra", "dec")
    Catalog(rootDf, objDf("diaobject"), posDf,
      photDf(detections, "diasource", "diasourceid"),
      photDf(forcedSources, "diaforcedsource", "diaforcedsourceid"),
      dims(spark))
  }

  /** `cat` with its object, position and photometry tables written to
    * parquet under a fresh temporary directory, so plans show which
    * filters reach the scans. */
  def onParquet(spark: SparkSession, cat: Catalog): Catalog = {
    val dir = java.nio.file.Files.createTempDirectory("fixture_parquet").toString
    def save(df: DataFrame, name: String): DataFrame = {
      df.write.parquet(s"$dir/$name")
      spark.read.parquet(s"$dir/$name")
    }
    cat.copy(diaobject = save(cat.diaobject, "diaobject"),
      diaobjectPosition = save(cat.diaobjectPosition, "diaobject_position"),
      diasource = save(cat.diasource, "diasource"),
      diaforcedsource = save(cat.diaforcedsource, "diaforcedsource"))
  }
}
