package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.api.LtcvApi
import graft.query.{Catalog, Ltcv}
import graft.procver.ProcVer
import graft.functions.Funcs

/** Differential tests: Spark engine vs a naive Scala implementation of
  * the reference semantics over the fixture world (FIXTURES.md §1). */
class LtcvSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  lazy val cat: Catalog = FixtureWorld.catalog(spark)
  import FixtureWorld._

  def pvId(p: String) = s"pvid-$p"

  test("procver resolution: id, description, alias (db.py:1597-1630)") {
    val d = cat.dims
    assert(ProcVer.resolve(d, "pvid-pv1").contains("pvid-pv1"))
    assert(ProcVer.resolve(d, "pv1").contains("pvid-pv1"))
    assert(ProcVer.resolve(d, "default").contains("pvid-pv2"))
    assert(ProcVer.resolve(d, "nope").isEmpty)
    assert(ProcVer.topBaseProcver(d, pvId("pv1"), "diasource")
      .contains(bpvId("bpv1b", "diasource")))
  }

  for (pv <- Seq("pv1", "pv2", "pv3", "realtime")) {
    test(s"A1 priority dedup matches naive oracle under $pv") {
      val got = Ltcv.sources(cat, pvId(pv))
        .select("rootid", "visit", "diasourceid")
        .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2))).toSet
      val want = naiveDedup(detections, pv)
        .map { case ((root, visit), (src, _)) => (root, visit, src.id) }.toSet
      assert(got == want, s"dedup mismatch for $pv")
      assert(got.nonEmpty)
    }
  }

  test("A1 dedup prefers higher-priority bpv values on overlap") {
    // pv1: every 4th epoch exists in bpv1b (scale 1.02), every 2nd in
    // bpv1a (1.01), all in bpv1 (1.0) — the winning flux proves the rank.
    val got = Ltcv.sources(cat, pvId("pv1"))
      .filter(col("rootid") === "root-0")
      .select("visit", "psfflux", "midpointmjdtai")
      .collect().map(r => (r.getLong(0), r.getFloat(1).toDouble, r.getDouble(2)))
    assert(got.nonEmpty)
    got.foreach { case (visit, flux, mjd) =>
      val idx = detMjds(0).indexWhere(m => visitOf(m) == visit)
      val scale = if (idx % 4 == 0) 1.02 else if (idx % 2 == 0) 1.01 else 1.0
      val want = fluxAt(0, mjd) * scale
      assert(math.abs(flux - want) / want < 1e-5,
        s"visit $visit idx $idx: got $flux want $want")
    }
  }

  test("identity pathologies: split/duplicate diaobjectids unify by rootid") {
    // object 0 appears as diaobjectid 100 in bpv1 — pv1 output must carry
    // rootid root-0 for those rows; object 1 is split 201/2011 in bpv2.
    val pv1Roots = Ltcv.sources(cat, pvId("pv1"))
      .filter(col("diaobjectid") === 100L).select("rootid").distinct()
      .collect().map(_.getString(0)).toSeq
    assert(pv1Roots == Seq("root-0"))
    // bpv2 splits object 1 into 201 (integral mjd) / 2011; bpv2a (also in
    // pv2's chain) uses 2000 — all three must land under root-1.
    val pv2Ids = Ltcv.sources(cat, pvId("pv2"))
      .filter(col("rootid") === "root-1").select("diaobjectid").distinct()
      .collect().map(_.getLong(0)).toSet
    assert(pv2Ids == Set(201L, 2011L, 2000L))
  }

  test("expandObjids pulls every diaobjectid sharing the rootid (ltcv.py:569-630)") {
    val got = Ltcv.expandObjids(cat, pvId("pv2"), diaobjectids = Seq(201L))
      .select("diaobjectid").collect().map(_.getLong(0)).toSet
    assert(got == Set(201L, 2011L, 2000L))
    val byRoot = Ltcv.expandObjids(cat, pvId("pv1"), rootids = Seq("root-0"))
      .select("diaobjectid").collect().map(_.getLong(0)).toSet
    assert(byRoot == Set(100L, 1000L))
  }

  test("P3/P4: mjd_now cut and band filter") {
    val now = 60025.0
    val got = Ltcv.sources(cat, pvId("pv3"), mjdNow = Some(now), bands = Seq("r"))
      .select("rootid", "visit", "diasourceid")
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2))).toSet
    val want = naiveDedup(detections, "pv3", Some(now), Seq("r"))
      .map { case ((root, visit), (s, _)) => (root, visit, s.id) }.toSet
    assert(got == want && got.nonEmpty)
  }

  test("J2 patch join: isdet/ispatch semantics (ltcv.py:714-741)") {
    val pv = "pv3"
    val patched = Ltcv.patchJoin(Ltcv.forced(cat, pvId(pv)), Ltcv.sources(cat, pvId(pv)))
      .select("rootid", "visit", "isdet", "ispatch", "psfflux", "band")
      .collect().map(r => (r.getString(0), r.getLong(1)) ->
        (r.getBoolean(2), r.getBoolean(3), r.getFloat(4).toDouble, r.getString(5))).toMap
    val dets = naiveDedup(detections, pv)
    val frcs = naiveDedup(forcedSources, pv)
    val wantKeys = dets.keySet ++ frcs.keySet
    assert(patched.keySet == wantKeys)
    wantKeys.foreach { k =>
      val (isdet, ispatch, flux, band) = patched(k)
      assert(isdet == dets.contains(k), s"isdet wrong at $k")
      assert(ispatch == (dets.contains(k) && !frcs.contains(k)), s"ispatch wrong at $k")
      // value comes from forced when present, else from the detection
      val want = frcs.get(k).orElse(dets.get(k)).get._1
      assert(math.abs(flux - want.flux) / want.flux < 1e-5, s"flux patched wrong at $k")
      assert(band == want.band)
    }
    // fixture guarantees both pure-forced epochs and unpatched detections
    assert(patched.values.exists(_._2), "no ispatch rows — fixture broken")
    assert(patched.values.exists(v => !v._1), "no forced-only rows — fixture broken")
  }

  test("A2/A3 objstats match naive oracle (ltcv.py:1600-1754)") {
    val pv = "pv1"
    val got = Ltcv.objStats(Ltcv.sources(cat, pvId(pv))).collect()
      .map(r => (r.getAs[String]("rootid"), r.getAs[String]("band")) -> r).toMap
    val naive = naiveDedup(detections, pv).values.toSeq
      .groupBy { case (s, root) => (root, s.band) }
    assert(got.keySet == naive.keySet)
    naive.foreach { case (key, rows) =>
      val r = got(key)
      val srcs = rows.map(_._1)
      assert(r.getAs[Long]("ndets") == srcs.size)
      val first = srcs.minBy(s => (s.mjd, s.id))
      val last = srcs.maxBy(s => (s.mjd, s.id))
      val peak = srcs.maxBy(s => (s.flux.toFloat.toDouble, s.id))
      assert(r.getAs[Double]("firstdetmjd") == first.mjd)
      assert(r.getAs[Double]("lastdetmjd") == last.mjd)
      assert(math.abs(r.getAs[Float]("maxdetflux") - peak.flux) / peak.flux < 1e-5)
      Seq(24, 23, 22, 21).foreach { m =>
        val cut = Funcs.mag2flux(m.toDouble)
        val want = srcs.count(_.flux.toFloat >= cut)
        assert(r.getAs[Long](s"ndets$m") == want, s"ndets$m at $key")
      }
      Seq(10, 7, 5).foreach { n =>
        val want = srcs.count(s => s.flux.toFloat / s.fluxerr.toFloat >= n)
        assert(r.getAs[Long](s"nsn$n") == want, s"nsn$n at $key")
      }
    }
  }

  test("A4 cross-band rollup sums per-band counts") {
    val pv = "pv1"
    val perBand = Ltcv.objStats(Ltcv.sources(cat, pvId(pv)))
      .groupBy("rootid").agg(sum("ndets").as("n")).collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    val comb = Ltcv.objStatsComb(Ltcv.sources(cat, pvId(pv))).collect()
      .map(r => r.getAs[String]("rootid") -> r.getAs[Long]("ndets")).toMap
    assert(comb == perBand)
  }

  test("A13 light-curve features: hand-computed slope/std, degenerate groups") {
    import spark.implicits._
    // r1/g: flux = 2*mjd - 119990 exactly → slope 2, residuals 0
    // r2/g: constant mjd → zero time variance → slope pinned to 0
    // r3/g: single detection → std 0, amplitude 0, span 0
    val dets = Seq(
      ("r1", "g", 60000.0, 10.0, 1.0),
      ("r1", "g", 60001.0, 12.0, 1.0),
      ("r1", "g", 60002.0, 14.0, 1.0),
      ("r2", "g", 60005.0, 3.0, 1.0),
      ("r2", "g", 60005.0, 9.0, 1.0),
      ("r3", "g", 60007.0, 5.0, 1.0)
    ).toDF("rootid", "band", "midpointmjdtai", "psfflux", "psffluxerr")
    val got = Ltcv.lightcurveFeatures(dets).collect()
      .map(r => r.getString(0) -> r).toMap
    val r1 = got("r1")
    assert(r1.getAs[Long]("ndets") == 3L)
    assert(r1.getAs[Double]("amplitude") == 4.0)
    assert(r1.getAs[Double]("mjd_span") == 2.0)
    assert(r1.getAs[Double]("flux_sum") == 36.0)
    // std of {10,12,14} (population) = sqrt(8/3) ≈ 1.633
    assert(math.abs(r1.getAs[Double]("flux_std") - 1.633) < 1e-9)
    assert(r1.getAs[Double]("trend_slope") == 2.0)
    val r2 = got("r2")
    assert(r2.getAs[Double]("trend_slope") == 0.0, "zero time variance → slope 0")
    assert(r2.getAs[Double]("flux_std") == 3.0)     // {3,9}: std = 3
    val r3 = got("r3")
    assert(r3.getAs[Double]("amplitude") == 0.0 &&
      r3.getAs[Double]("mjd_span") == 0.0 &&
      r3.getAs[Double]("flux_std") == 0.0 &&
      r3.getAs[Double]("trend_slope") == 0.0)
  }

  test("W5 binned curves: bins partition detections, peak is the bin max") {
    val sf = "/root/testdata/sf0.001"
    val binned = graft.queries.FastdbOps.queries("w5_binned_ltcv")(spark, sf)
    // bins partition the raw detections exactly (one source per lineitem)
    val li = spark.read.parquet(s"$sf/lineitem.parquet")
    assert(binned.agg(sum("ndets")).head().getLong(0) == li.count())
    // per (rootid, band): the max over bin peaks is the raw curve max
    val fromBins = binned.groupBy("rootid", "band")
      .agg(max("peak_flux").as("p")).collect()
      .map(r => (r.getString(0), r.getString(1)) -> r.getDouble(2)).toMap
    val want = li
      .select((col("l_orderkey") % 1000).cast("string").as("rootid"),
        col("l_returnflag").as("band"),
        (col("l_extendedprice") / 10).as("f"))
      .groupBy("rootid", "band").agg(round(max("f"), 4).as("p")).collect()
      .map(r => (r.getString(0), r.getString(1)) -> r.getDouble(2)).toMap
    assert(fromBins == want)
  }

  test("A7 wrapRa: meridian-straddling object averages near 0, not 180") {
    import org.apache.spark.sql.functions._
    import spark.implicits._
    // scatter straddling RA 0/360: naive mean ~180 (the reference's own
    // behavior); wrapped mean lands at the cluster
    val dets = Seq(
      ("r1", 1L, 359.999, 10.0, 60000.0, 100.0f, 1.0f),
      ("r1", 2L, 0.001, 10.0, 60001.0, 100.0f, 1.0f),
      ("r1", 3L, 359.997, 10.0, 60002.0, 100.0f, 1.0f),
      // control object away from the meridian: both paths agree
      ("r2", 4L, 180.1, -5.0, 60000.0, 100.0f, 1.0f),
      ("r2", 5L, 180.3, -5.0, 60001.0, 100.0f, 1.0f))
      .toDF("rootid", "diasourceid", "ra", "dec", "midpointmjdtai",
        "psfflux", "psffluxerr")
    val naive = Ltcv.weightedPositions(dets).collect()
      .map(r => r.getString(0) -> r.getAs[Double]("ra")).toMap
    val wrapped = Ltcv.weightedPositions(dets, wrapRa = true).collect()
      .map(r => r.getString(0) -> (r.getAs[Double]("ra"), r.getAs[Double]("rastd"))).toMap
    assert(math.abs(naive("r1") - 239.999) < 1e-6, "naive mean is reference-faithful (and wrong)")
    val (wra, wstd) = wrapped("r1")
    assert(wra > 359.99 || wra < 0.01, s"wrapped mean must sit at the cluster, got $wra")
    assert(wstd < 0.01, s"wrapped rastd must reflect the tight scatter, got $wstd")
    assert(math.abs(wrapped("r2")._1 - naive("r2")) < 1e-9, "away from the meridian both agree")
  }

  test("A7 weighted positions match naive oracle (ltcv.py:828-878)") {
    val pv = "pv3"
    val got = Ltcv.weightedPositions(Ltcv.sources(cat, pvId(pv))).collect()
      .map(r => r.getAs[String]("rootid") ->
        (r.getAs[Double]("ra"), r.getAs[Double]("dec"), r.getAs[Long]("nposdets"))).toMap
    val naive = naiveDedup(detections, pv).toSeq
      .map { case ((root, _), (s, _)) => (root, s) }
      .filter { case (_, s) => s.flux.toFloat / s.fluxerr.toFloat > 3.0 }
      .groupBy(_._1)
      .map { case (root, rows) =>
        val ws = rows.map { case (_, s) =>
          val w = math.pow(s.flux.toFloat / s.fluxerr.toFloat, 2); (w, s) }
        val sw = ws.map(_._1).sum
        root -> (ws.map { case (w, s) => w * s.ra }.sum / sw,
          ws.map { case (w, s) => w * s.dec }.sum / sw, rows.size.toLong)
      }
    assert(got.keySet == naive.keySet)
    naive.foreach { case (root, (ra, dec, n)) =>
      val (gra, gdec, gn) = got(root)
      assert(gn == n)
      assert(math.abs(gra - ra) < 1e-9 && math.abs(gdec - dec) < 1e-9)
    }
  }

  test("T6 hot transients: only objects detected in the window (ltcv.py:1467-1507)") {
    val mjdNow = 60041.0
    val hot = Ltcv.hotLtcvs(cat, pvId("pv3"), mjdNow, lastdays = 10.0)
    val hotRoots = hot.select("rootid").distinct().collect().map(_.getString(0)).toSet
    val want = naiveDedup(detections, "pv3", Some(mjdNow)).collect {
      case ((root, _), (s, _)) if s.mjd >= mjdNow - 10.0 => root
    }.toSet
    assert(hotRoots == want && hotRoots.nonEmpty)
    // photometry must be cut at mjd_now
    assert(hot.filter(col("midpointmjdtai") > mjdNow).count() == 0)
  }

  /** The fixture catalog plus hand-placed objects at a window's edges
    * (pv1 chain: bpv1b > bpv1a > bpv1; hot window [60095, 60105], where
    * no fixture object has a detection): root-hx's only in-window
    * detection loses its visit to a higher-priority out-of-window row;
    * root-hy's in-window detection is under bpv2, outside pv1; root-hz
    * has an in-window g detection and an earlier r one; diaobjectid
    * 9300 is under root-ha in bpv1 and under root-hb in bpv1a. */
  lazy val edgeCat: Catalog = {
    import spark.implicits._
    val objs = Seq((9000L, "bpv1", "root-hx"), (9000L, "bpv1b", "root-hx"),
        (9100L, "bpv1", "root-hy"), (9200L, "bpv1", "root-hz"),
        (9300L, "bpv1", "root-ha"), (9300L, "bpv1a", "root-hb"))
      .map { case (id, bpv, root) => (id, bpvId(bpv, "diaobject"), root) }
      .toDF(cat.diaobject.columns: _*)
    val dets = Seq(
        (900001L, "bpv1", 9000L, 1L, "r", 60100.0),
        (900002L, "bpv1b", 9000L, 1L, "r", 60050.0),
        (900003L, "bpv2", 9100L, 2L, "r", 60100.0),
        (900004L, "bpv1", 9200L, 3L, "g", 60101.0),
        (900005L, "bpv1", 9200L, 4L, "r", 60080.0),
        (900006L, "bpv1", 9300L, 5L, "r", 60102.0))
      .map { case (id, bpv, obj, visit, band, mjd) =>
        (id, bpvId(bpv, "diasource"), obj, visit, band, mjd, 1000.0f, 10.0f, 42.0, 15.0) }
      .toDF(cat.diasource.columns: _*)
    cat.copy(diaobject = cat.diaobject.unionByName(objs),
      diasource = cat.diasource.unionByName(dets))
  }

  private def roots(df: DataFrame): Set[String] =
    df.select("rootid").distinct().collect().map(_.getString(0)).toSet

  test("T6 hot transients: exact on deduped detections, procver and band scoped, empty window") {
    def hot(mjdNow: Double = 60105.0, bands: Seq[String] = Nil) =
      Ltcv.hotLtcvs(edgeCat, pvId("pv1"), mjdNow, lastdays = 10.0, bands = bands)
    val all = hot()
    assert(roots(all) == Set("root-hz", "root-ha", "root-hb"))
    // a hot root's whole cut lightcurve comes back, not just the window
    assert(all.filter(col("rootid") === "root-hz").count() == 2)
    assert(roots(hot(bands = Seq("r"))) == Set("root-ha", "root-hb"))
    val empty = hot(mjdNow = 59000.0)
    assert(empty.count() == 0 && empty.schema == all.schema)
  }

  test("getLtcvs: an unknown id is empty with the usual schema; a two-root id serves both roots") {
    val known = LtcvApi.getLtcvs(edgeCat, pvId("pv1"), diaobjectids = Seq(9200L))
    val unknown = LtcvApi.getLtcvs(edgeCat, pvId("pv1"), diaobjectids = Seq(424242L))
    assert(unknown.count() == 0 && unknown.schema == known.schema)
    val both = LtcvApi.getLtcvs(edgeCat, pvId("pv1"), diaobjectids = Seq(9300L))
      .select("rootid", "diaobjectid", "visit").collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2))).toSet
    assert(both == Set(("root-ha", 9300L, 5L), ("root-hb", 9300L, 5L)))
  }

  test("request path job budget: getLtcvs <= 5, getObjectInfos <= 4, hotLtcvs <= 7 jobs") {
    val pq = FixtureWorld.onParquet(spark, cat)
    val m = new Probe.Meter(spark)
    try {
      def jobs(df: => DataFrame) = m.run(df).jobs
      val ltcv = jobs(LtcvApi.getLtcvs(pq, pvId("pv2"), diaobjectids = Seq(201L)))
      val infos = jobs(LtcvApi.getObjectInfos(pq, pvId("pv2"), diaobjectids = Seq(201L)))
      val hot = jobs(Ltcv.hotLtcvs(pq, pvId("pv3"), 60041.0, lastdays = 10.0))
      assert(ltcv.size <= 5, s"getLtcvs: ${ltcv.map(_.label)}")
      assert(infos.size <= 4, s"getObjectInfos: ${infos.map(_.label)}")
      assert(hot.size <= 7, s"hotLtcvs: ${hot.map(_.label)}")
      // the driver-side collects are labelled for a job census
      Seq(ltcv, infos, hot).foreach(js =>
        assert(js.count(_.label.startsWith("[ltcv: resolve ids]")) == 2, js.map(_.label)))
      assert(hot.count(_.label.startsWith("[ltcv: hot candidates]")) == 1, hot.map(_.label))
    } finally m.close()
  }
}
