package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._
import java.sql.Timestamp
import graft.ingest.{Dp1Loader, SnanaLoader}
import graft.merge.SourceImporter
import graft.merge.SourceImporter.ImportResult

class IngestMergeSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  test("S1 SNANA loader: ZP rescale, visit synthesis, photflag split, id synthesis") {
    val head = Seq((11L, 10.0, -5.0, 1L, 3L), (22L, 20.0, 5.0, 4L, 5L))
      .toDF("SNID", "RA", "DEC", "PTROBS_MIN", "PTROBS_MAX")
    // rows 1..5; PHOTFLAG bit 4096 set on rows 1 and 5
    val phot = Seq(
      (1L, 60000.0, "r ", 100.0, 10.0, 4096),
      (2L, 60001.0, "g ", 200.0, 20.0, 0),
      (3L, 60002.0, "r ", 300.0, 30.0, 0),
      (4L, 60010.0, "i ", 400.0, 40.0, 0),
      (5L, 60011.0, "z ", 500.0, 50.0, 6144))
      .toDF("_rownum", "MJD", "BAND", "FLUXCAL", "FLUXCALERR", "PHOTFLAG")
    val out = SnanaLoader.load(head, phot, "bpv-test")

    assert(out.diaobject.count() == 2)
    val forced = out.diaforcedsource.collect().map(r =>
      r.getAs[Long]("diaforcedsourceid") -> r).toMap
    assert(forced.size == 5)
    // object 11 holds rows 1-3 with seq ids 11*100000+0..2
    assert(forced.keySet.filter(_ / 100000L == 11L) == Set(1100000L, 1100001L, 1100002L))
    val r1 = forced(1100000L)
    assert(r1.getAs[String]("band") == "r")                    // stripped
    assert(r1.getAs[Long]("visit") == math.floor(60000.0 * 20000).toLong)
    val scale = math.pow(10, (31.4 - 27.5) / 2.5)
    assert(math.abs(r1.getAs[Float]("psfflux") - 100.0 * scale) < 1e-2)
    // detections: only photflag&4096 rows
    val dets = out.diasource.select("diasourceid").collect().map(_.getLong(0)).toSet
    assert(dets == Set(1100000L, 2200001L))
  }

  test("S2 DP1 loader: nested arrays explode and rename") {
    val objects = Seq(
      (100L, 1.0, 2.0,
        Seq((1000L, 5L, "r", 60000.0, 10.0f, 1.0f, 1.0, 2.0)),
        Seq((5000L, 6L, "g", 60001.0, 20.0f, 2.0f)))
    ).toDF("diaObjectId", "ra", "dec", "_s", "_f")
      .withColumn("diaSource", transform(col("_s"), s => struct(
        s.getField("_1").as("diaSourceId"), s.getField("_2").as("visit"),
        s.getField("_3").as("band"), s.getField("_4").as("midpointMjdTai"),
        s.getField("_5").as("psfFlux"), s.getField("_6").as("psfFluxErr"),
        s.getField("_7").as("ra"), s.getField("_8").as("dec"))))
      .withColumn("diaObjectForcedSource", transform(col("_f"), f => struct(
        f.getField("_1").as("diaForcedSourceId"), f.getField("_2").as("visit"),
        f.getField("_3").as("band"), f.getField("_4").as("midpointMjdTai"),
        f.getField("_5").as("psfFlux"), f.getField("_6").as("psfFluxErr"))))
      .drop("_s", "_f")
    val out = Dp1Loader.load(objects, "bpv-dp1")
    assert(out.diaobject.count() == 1)
    val s = out.diasource.head()
    assert(s.getAs[Long]("diasourceid") == 1000L &&
      s.getAs[String]("band") == "r" && s.getAs[Long]("diaobjectid") == 100L)
    assert(out.diaforcedsource.head().getAs[Long]("diaforcedsourceid") == 5000L)
  }

  def ts(s: Long) = new Timestamp(s * 1000)

  test("A10 first-seen dedup + P5 bad-row rejection") {
    val staged = Seq(
      (1L, "b", 10.0, 1.0, ts(5)), (1L, "b", 99.0, 2.0, ts(9)),   // dup: keep t=5
      (0L, "b", 0.0, 0.0, ts(1)),                                 // bad id 0
      (2L, "b", 20.0, 3.0, ts(2)))
      .toDF("diaobjectid", "base_procver_id", "ra", "dec", "ingest_ts")
    val got = SourceImporter.rejectBadRows(
      SourceImporter.dedupFirstSeen(staged, Seq("diaobjectid", "base_procver_id")))
      .select("diaobjectid", "ra").collect().map(r => (r.getLong(0), r.getDouble(1))).toMap
    assert(got == Map(1L -> 10.0, 2L -> 20.0))
  }

  test("A11 keep-existing merge and A12 coalesce merge") {
    val existing = Seq((1L, "x", 10.0), (2L, null.asInstanceOf[String], 20.0))
      .toDF("id", "name", "v")
    val incoming = Seq((2L, "fresh", 99.0), (3L, "new", 30.0), (3L, "dup", 31.0))
      .toDF("id", "name", "v")
    val keep = SourceImporter.mergeKeepExisting(existing, incoming, Seq("id"))
      .orderBy("id").collect().map(r => (r.getLong(0), r.getString(1), r.getDouble(2)))
    assert(keep.length == 3)
    assert(keep(1) == ((2L, null, 20.0)))          // existing untouched
    assert(keep(2)._1 == 3L)                       // exactly one id-3 row inserted

    val coal = SourceImporter.mergeCoalesce(existing, incoming, Seq("id"))
      .orderBy("id").collect().map(r => (r.getLong(0), r.getString(1), r.getDouble(2)))
    assert(coal(0) == ((1L, "x", 10.0)))           // non-null kept
    assert(coal(1) == ((2L, "fresh", 20.0)))       // null filled, non-null kept
    assert(coal(2)._1 == 3L)
  }

  test("host galaxy: anti-join import, prio-ranked match, argmax best host, idempotency") {
    import graft.host.HostGalaxy
    // objects reference hosts A,B,C; Z is not in the upstream catalog
    val objs = Seq(
      (1L, "A", "B", null.asInstanceOf[String]),
      (2L, "B", null.asInstanceOf[String], "C"),
      (3L, "Z", "A", null.asInstanceOf[String]))
      .toDF("diaobjectid", "nearbyextobj1", "nearbyextobj2", "nearbyextobj3")
    val cat = Seq(("A", 1.0, 2.0, "{}"), ("B", 3.0, 4.0, "{}"), ("C", 5.0, 6.0, "{}"),
      ("D", 7.0, 8.0, "{}")).toDF("host_id", "ra", "dec", "info")
    val none = spark.createDataFrame(
      spark.sparkContext.emptyRDD[org.apache.spark.sql.Row],
      graft.schema.Schemas.hostGalaxy)

    val hosts = HostGalaxy.importHosts(none, objs, cat, "cat", "bpv")
    // referenced-and-known hosts imported; D unreferenced, Z unknown
    assert(hosts.select("host_id").collect().map(_.getString(0)).toSet == Set("A", "B", "C"))
    // idempotent: re-import adds nothing
    assert(HostGalaxy.importHosts(hosts, objs, cat, "cat", "bpv").count() == 3)

    val matches = HostGalaxy.matchHosts(objs, hosts, "cat", "bpv")
    // object 3's Z reference cannot resolve; its A match survives at prio 1
    val prios = matches.collect()
      .map(r => (r.getAs[Long]("diaobjectid"), r.getAs[Short]("prio"))).toSet
    assert(prios == Set((1L, 0), (1L, 1), (2L, 0), (2L, 2), (3L, 1)))

    val best = HostGalaxy.bestHost(matches, hosts).collect()
      .map(r => r.getAs[Long]("diaobjectid") ->
        ((r.getAs[String]("host_id"), r.getAs[Short]("prio"), r.getAs[Long]("n_hosts")))).toMap
    assert(best(1L) == (("A", 0, 2L)))
    assert(best(2L) == (("B", 0, 2L)))
    assert(best(3L) == (("A", 1, 1L)))
  }

  test("T7 import batch: anti-join, root crossmatch, deterministic ids, idempotency") {
    val empty = new graft.streaming.SilverStore(
      java.nio.file.Files.createTempDirectory("silver").toString)
    val state0 = empty.load(spark)

    val objs1 = Seq((10L, "bpv", 42.0, 13.0, ts(1)), (11L, "bpv", 80.0, -20.0, ts(1)))
      .toDF("diaobjectid", "base_procver_id", "ra", "dec", "ingest_ts")
    val srcs1 = Seq((100L, "bpv", 10L, 5L, "r", 60000.0, 1.0f, 0.1f, 42.0, 13.0, ts(1)))
      .toDF("diasourceid", "base_procver_id", "diaobjectid", "visit", "band",
        "midpointmjdtai", "psfflux", "psffluxerr", "ra", "dec", "ingest_ts")
      .withColumn("raerr", lit(null).cast("float"))
      .withColumn("decerr", lit(null).cast("float"))
      .withColumn("ra_dec_cov", lit(null).cast("float"))
    val frcs1 = Seq((500L, "bpv", 10L, 5L, "r", 60000.0, 1.0f, 0.1f,
        null.asInstanceOf[java.lang.Double], null.asInstanceOf[java.lang.Double], ts(1)))
      .toDF("diaforcedsourceid", "base_procver_id", "diaobjectid", "visit", "band",
        "midpointmjdtai", "psfflux", "psffluxerr", "ra", "dec", "ingest_ts")

    val state1 = SourceImporter.importBatchWithDeltas(state0, objs1, srcs1, frcs1)._1
    assert(state1.rootDiaobject.count() == 2)
    assert(state1.diaobject.count() == 2)
    assert(state1.diasource.count() == 1 && state1.diaforcedsource.count() == 1)

    // batch 2: same object under a new procver 0.5″ away → joins the
    // existing root; a far object mints a new root; replayed photometry
    // rows are not duplicated
    val objs2 = Seq(
      (20L, "bpv2", 42.0, 13.0 + 0.5 / 3600.0, ts(2)),
      (21L, "bpv2", 10.0, 10.0, ts(2)))
      .toDF("diaobjectid", "base_procver_id", "ra", "dec", "ingest_ts")
    val state2 = SourceImporter.importBatchWithDeltas(state1, objs2, srcs1, frcs1)._1
    assert(state2.rootDiaobject.count() == 3)
    val rootOf = state2.diaobject.collect()
      .map(r => r.getAs[Long]("diaobjectid") -> r.getAs[String]("rootid")).toMap
    assert(rootOf(20L) == rootOf(10L), "0.5-arcsec object must join the existing root")
    assert(rootOf(21L) != rootOf(10L))
    assert(state2.diasource.count() == 1 && state2.diaforcedsource.count() == 1)

    // idempotency: replaying batch 2 changes nothing
    val state3 = SourceImporter.importBatchWithDeltas(state2, objs2, srcs1, frcs1)._1
    assert(state3.rootDiaobject.count() == 3 && state3.diaobject.count() == 4)
    assert(state3.diasource.count() == 1 && state3.diaforcedsource.count() == 1)
  }

  test("importer: each delta deduplicates its key once") {
    import org.apache.spark.sql.{DataFrame, Row}
    import org.apache.spark.sql.catalyst.plans.logical.Aggregate
    import graft.streaming.{AlertStream, SilverStore}
    // alert i: current source i, previous source i-1, forced source
    // 10*i, one difference cutout — all on object 1
    def alerts(ids: Seq[Long]): DataFrame = {
      val dir = java.nio.file.Files.createTempDirectory("alerts").toString + "/a"
      def src(i: Long) = Row(i, 1L, i, "r", 60000.0 + i, 1.0f, 0.1f, 42.0, 13.0,
        7.5f, null, null, null, null)
      val rows = ids.map(i => Row(i, src(i), Seq(src(i - 1)),
        Seq(Row(i * 10, 1L, i, "r", 59999.0 + i, 0.5f, 0.1f, null, null)),
        Row(1L, 42.0, 13.0), Array[Byte](1), null, null, null))
      spark.createDataFrame(java.util.Arrays.asList(rows: _*), AlertStream.alertSchema)
        .write.parquet(dir)
      spark.read.schema(AlertStream.alertSchema).parquet(dir)
    }
    val store = new SilverStore(java.nio.file.Files.createTempDirectory("silver").toString)
    def importDeltas(a: DataFrame) = {
      val w = AlertStream.wrangle(a, "bpv")
      SourceImporter.importBatchWithDeltas(store.load(spark), w.objects, w.sources,
        w.forced, stagedBrokerinfo = Some(w.brokerinfo),
        stagedThumbnails = Some(w.thumbnails))._2
    }
    store.saveDelta(importDeltas(alerts(Seq(5L, 6L))))
    // against a store that holds rows, replaying alert 6 and adding 7
    val d = importDeltas(alerts(Seq(6L, 7L)))
    Seq("diasource" -> d.diasource, "diaforcedsource" -> d.diaforcedsource,
      "diaobjectPosition" -> d.diaobjectPosition, "brokerinfo" -> d.brokerinfo,
      "thumbnails" -> d.thumbnails).foreach { case (name, df) =>
      val aggs = df.queryExecution.optimizedPlan.collect { case a: Aggregate => a }.length
      assert(aggs == 1, s"$name delta plan holds $aggs aggregates")
    }
    def ids(df: DataFrame) = df.collect().map(_.getLong(0)).toSet
    assert(ids(d.diasource) == Set(7L) && ids(d.diaforcedsource) == Set(70L))
    assert(ids(d.brokerinfo.select("diasourceid")) == Set(7L))
    assert(ids(d.thumbnails) == Set(7L) && d.diaobjectPosition.isEmpty)
  }
}
