package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._
import java.nio.file.Files
import graft.ingest.SnanaLoader
import graft.merge.SourceImporter
import graft.procver.ProcVer
import graft.query.{Catalog, Ltcv, ObjectSearch}
import graft.stats.GoldTables

/** The full user journey through the library, chained end-to-end:
  * SNANA-shaped batch load → importer batch (root association) →
  * procver-resolved lightcurve queries → gold stats tables → object
  * search → lightcurve export. Invariants are checked across stage
  * boundaries — the seams are where integration bugs live. */
class EndToEndSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark

  test("load → import → query → stats → search → export holds invariants") {
    val d = "/root/testdata/sf0.001"
    val bpv = "bpv-e2e"

    // 1. batch load (lineitem as the PHOT file, orders as HEAD)
    // +1: orderkey 0 exists, and diaobjectid 0 is the solar-system
    // sentinel the importer rejects (P5)
    val head = Tables.orders(spark, d).select(
      (col("o_orderkey") + 1).as("SNID"),
      ((col("o_orderkey") % 360) * 0.5).as("RA"),
      ((col("o_orderkey") % 170) * 0.5 - 42.0).as("DEC"),
      lit(0L).as("PTROBS_MIN"), lit(0L).as("PTROBS_MAX"))
    val phot = Tables.lineitem(spark, d).select(
      (col("l_orderkey") + 1).as("SNID"),
      col("l_extendedprice").as("MJD"),
      col("l_returnflag").as("BAND"),
      (col("l_quantity") * 10).as("FLUXCAL"),
      col("l_quantity").as("FLUXCALERR"),
      when(col("l_quantity") >= 25, 4096).otherwise(0).as("PHOTFLAG"))
    val loaded = SnanaLoader.load(head, phot, bpv)
    val nDet = loaded.diasource.count()
    val nForced = loaded.diaforcedsource.count()
    assert(nForced == Tables.lineitem(spark, d).count(), "every PHOT row becomes forced")
    assert(nDet > 0 && nDet < nForced)

    // 2. importer batch mints roots and fills the silver tables
    val ts = current_timestamp()
    val store = new graft.streaming.SilverStore(
      Files.createTempDirectory("e2e").toString)
    val res = SourceImporter.importBatchWithDeltas(
      store.load(spark),
      loaded.diaobject.withColumn("ingest_ts", ts),
      loaded.diasource.withColumn("ingest_ts", ts),
      loaded.diaforcedsource.withColumn("ingest_ts", ts))._1
    assert(res.diasource.count() == nDet, "no detections lost in import")
    assert(res.diaforcedsource.count() == nForced)
    assert(res.diaobject.count() == head.count())
    // objects at identical synthetic coordinates share a root
    assert(res.rootDiaobject.count() <= res.diaobject.count())

    // 3. procver-resolved queries over the imported catalog
    val dims = ProcVer.fromRows(spark,
      basePv = Seq("diaobject", "diasource", "diaforcedsource").map(t => (bpv, "v1", t)),
      pv = Seq(("pv-e2e", "v1")),
      links = Seq("diaobject", "diasource", "diaforcedsource").map(t => ("pv-e2e", bpv, t, 0)),
      aliases = Seq(("default", "pv-e2e")))
    val cat = Catalog(res.rootDiaobject, res.diaobject,
      spark.createDataFrame(spark.sparkContext.emptyRDD[org.apache.spark.sql.Row],
        graft.schema.Schemas.diaObjectPosition),
      res.diasource, res.diaforcedsource, dims)
    assert(ProcVer.resolve(dims, "default").contains("pv-e2e"))

    val src = Ltcv.sources(cat, "pv-e2e")
    val nDedup = src.count()
    assert(nDedup == src.select("rootid", "visit").distinct().count(),
      "dedup key is unique after A1")
    val patched = Ltcv.patchJoin(Ltcv.forced(cat, "pv-e2e"), src)
    assert(patched.count() >= nDedup, "patch join covers at least every detection epoch")
    assert(patched.filter(col("isdet")).count() == nDedup)

    // 4. gold tables + search agree with direct aggregation
    val out = Files.createTempDirectory("e2egold").toString
    GoldTables.refreshObjStats(cat, "pv-e2e", out)
    val comb = GoldTables.objStats(spark, out, "pv-e2e")
    val totalDets = comb.agg(sum("ndets")).head().getLong(0)
    assert(totalDets == nDedup, "stats ndets must sum to the deduped detections")
    val hits = ObjectSearch.search(comb, Map("ndets_min" -> 3))
    assert(hits.count() ==
      comb.filter(col("ndets") >= 3).count())

    // 5. export: per-root record arrays account for every patched row
    val expDir = Files.createTempDirectory("e2eexp").toString
    GoldTables.exportLtcvs(cat, "pv-e2e", expDir)
    val exported = spark.read.parquet(expDir)
    assert(exported.agg(sum("nobs")).head().getLong(0) == patched.count())
    assert(exported.count() == patched.select("rootid").distinct().count())
  }
}
