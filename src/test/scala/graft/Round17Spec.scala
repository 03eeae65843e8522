package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._
import graft.query.Catalog

/** Specs for the round-17 additions: the full what_spectra_are_wanted
  * workflow (edge semantics the battery's sp1 parameters can't pin
  * one-by-one), the Stage.publish post-rename marker verification, the
  * IvfAnn index-resolution guard, and portableProfile's null-text
  * contract.
  */
class Round17Spec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  private def tmpBase(tag: String): String = {
    val d = java.nio.file.Files.createTempDirectory(s"graft-$tag")
    d.toFile.deleteOnExit()
    d.toString
  }

  /** Two-root catalog with hand-computable photometry:
    * rA — latest DETECTION (mjd 110, band r) is faint (flux 10 →
    *      mag 28.9) but a NEWER forced point (mjd 115, flux 20000 →
    *      mag ~20.65) exists;
    * rB — single detection with NEGATIVE flux (the 99.0 sentinel),
    *      no forced photometry. */
  private def miniCatalog: Catalog = {
    val dia = Seq((1L, "rA", "bpv0"), (2L, "rB", "bpv0"))
      .toDF("diaobjectid", "rootid", "base_procver_id")
    val ds = Seq(
      (11L, "bpv0", 1L, 1L, "g", 100.0, 10000.0, 10.0, 30.0, -5.0),
      (12L, "bpv0", 1L, 2L, "r", 110.0, 10.0, 10.0, 30.0, -5.0),
      (21L, "bpv0", 2L, 3L, "g", 105.0, -4.0, 10.0, 40.0, 5.0))
      .toDF("diasourceid", "base_procver_id", "diaobjectid", "visit", "band",
        "midpointmjdtai", "psfflux", "psffluxerr", "ra", "dec")
    val fs = Seq(
      (31L, "bpv0", 1L, 4L, "r", 115.0, 20000.0, 10.0, 30.0, -5.0))
      .toDF("diaforcedsourceid", "base_procver_id", "diaobjectid", "visit",
        "band", "midpointmjdtai", "psfflux", "psffluxerr", "ra", "dec")
    val tables = Seq("diaobject", "diasource", "diaforcedsource")
    val dims = graft.procver.ProcVer.fromRows(spark,
      basePv = tables.map(t => ("bpv0", "bpv0", t)),
      pv = Seq(("pv", "pv")),
      links = tables.map(t => ("pv", "bpv0", t, 0)),
      aliases = Nil)
    Catalog(dia.select("rootid").distinct(), dia, spark.emptyDataFrame,
      ds, fs, dims)
  }

  private def wants = Seq(
    ("rA", false, 1.0, 2.0, "req1", 3L, 50.0),
    ("rA", false, 1.1, 2.1, "req1", 4L, 60.0), // later want wins the DISTINCT ON
    ("rB", false, 9.0, 9.0, "req1", 2L, 55.0),
    ("rC", false, 5.0, 5.0, "req1", 1L, 55.0)) // no detections at all
    .toDF("root_diaobject_id", "is_host", "ra", "dec", "requester",
      "priority", "wanttime")

  private val noPlans =
    Seq.empty[(String, Boolean, Double)]
      .toDF("root_diaobject_id", "is_host", "plantime")
  private val noInfo =
    Seq.empty[(String, Boolean, Double)]
      .toDF("root_diaobject_id", "is_host", "mjd")

  test("magOr99: non-positive flux gets the reference's 99.0 sentinel") {
    val m = Seq(100.0, 0.0, -4.0).toDF("f")
      .select(graft.api.Spectrum.magOr99(col("f")).as("m"))
      .collect().map(_.getDouble(0))
    assert(math.abs(m(0) - 26.4) < 1e-9) // -2.5*log10(100)+31.4
    assert(m(1) == 99.0 && m(2) == 99.0)
  }

  test("wantedSpectraReport: DISTINCT-ON latest want, forced-newer lim-mag, " +
    "99-sentinel cut, detection-less wants dropped") {
    val out = graft.api.Spectrum.wantedSpectraReport(
      miniCatalog, "pv", wants, noPlans, noInfo,
      mjdNow = 200.0, limMag = Some(25.0)).collect()
    // rB fails lim (its only mag is the 99 sentinel); rC has no
    // detections (inner join); rA passes ONLY via the newer forced point
    assert(out.length == 1)
    val r = out.head
    assert(r.getAs[String]("root_diaobject_id") == "rA")
    assert(r.getAs[Long]("priority") == 4L &&
      r.getAs[Double]("wanttime") == 60.0 &&
      r.getAs[Double]("ra") == 1.1) // the later want's payload
    assert(r.getAs[Double]("src_mjd") == 110.0 &&
      r.getAs[String]("src_band") == "r")
    assert(math.abs(r.getAs[Double]("src_mag") - 28.9) < 1e-9)
    assert(r.getAs[Double]("frced_mjd") == 115.0)
    assert(math.abs(r.getAs[Double]("frced_mag") -
      (-2.5 * math.log10(20000.0) + 31.4)) < 1e-9)
    assert(r.getAs[Long]("diaobjectid") == 1L)
    // without the lim cut, rB comes back with the sentinel mag
    val noLim = graft.api.Spectrum.wantedSpectraReport(
      miniCatalog, "pv", wants, noPlans, noInfo, mjdNow = 200.0).collect()
    assert(noLim.map(_.getAs[String]("root_diaobject_id")).toSet ==
      Set("rA", "rB"))
    assert(noLim.find(_.getAs[String]("root_diaobject_id") == "rB")
      .get.getAs[Double]("src_mag") == 99.0)
  }

  test("wantedSpectraReport: claim anti-join is (root, is_host)-paired " +
    "and plantime-windowed; spectrum anti-join windows [since, now]") {
    // a HOST claim must not block a TRANSIENT want for the same root
    val hostClaim = Seq(("rA", true, 70.0))
      .toDF("root_diaobject_id", "is_host", "plantime")
    val blocked = Seq(("rA", false, 70.0))
      .toDF("root_diaobject_id", "is_host", "plantime")
    val stale = Seq(("rA", false, 30.0)) // before notClaimSince
      .toDF("root_diaobject_id", "is_host", "plantime")
    def roots(planned: org.apache.spark.sql.DataFrame,
        info: org.apache.spark.sql.DataFrame = noInfo): Set[String] =
      graft.api.Spectrum.wantedSpectraReport(
          miniCatalog, "pv", wants, planned, info,
          mjdNow = 200.0, notClaimSince = Some(40.0), noSpecSince = Some(20.0))
        .select("root_diaobject_id").collect().map(_.getString(0)).toSet
    assert(roots(hostClaim) == Set("rA", "rB"))
    assert(roots(blocked) == Set("rB"))
    assert(roots(stale) == Set("rA", "rB"))
    // reported spectrum inside [noSpecSince, mjdNow] blocks; outside doesn't
    val recentSpec = Seq(("rA", false, 150.0))
      .toDF("root_diaobject_id", "is_host", "mjd")
    val futureSpec = Seq(("rA", false, 250.0)) // after mjdNow
      .toDF("root_diaobject_id", "is_host", "mjd")
    assert(roots(noPlans, recentSpec) == Set("rB"))
    assert(roots(noPlans, futureSpec) == Set("rA", "rB"))
  }

  test("wantedSpectraReport: detSince cuts on the LATEST detection mjd") {
    val cutKeeps = graft.api.Spectrum.wantedSpectraReport(
        miniCatalog, "pv", wants, noPlans, noInfo,
        mjdNow = 200.0, detSince = Some(106.0))
      .select("root_diaobject_id").collect().map(_.getString(0)).toSet
    assert(cutKeeps == Set("rA")) // rB's only detection is mjd 105
    val cutAll = graft.api.Spectrum.wantedSpectraReport(
        miniCatalog, "pv", wants, noPlans, noInfo,
        mjdNow = 200.0, detSince = Some(111.0)).count()
    assert(cutAll == 0)
  }

  test("spectrum cycle lifecycle: want → claim hides → remove restores → " +
    "report hides again") {
    import graft.api.Spectrum
    def reportRoots(planned: org.apache.spark.sql.DataFrame,
        info: org.apache.spark.sql.DataFrame): Set[String] =
      Spectrum.wantedSpectraReport(miniCatalog, "pv", wants, planned, info,
          mjdNow = 200.0, notClaimSince = Some(40.0), noSpecSince = Some(20.0))
        .select("root_diaobject_id").collect().map(_.getString(0)).toSet
    val plansWithFacility = Seq.empty[(String, Boolean, Double, String)]
      .toDF("root_diaobject_id", "is_host", "plantime", "facility")
    assert(reportRoots(plansWithFacility, noInfo) == Set("rA", "rB"))
    // a facility claims rA → it leaves the wanted report
    val claimed = Spectrum.planSpectrum(plansWithFacility,
      Seq(("rA", false, 100.0, "keck-lris"))
        .toDF("root_diaobject_id", "is_host", "plantime", "facility"))
    assert(reportRoots(claimed, noInfo) == Set("rB"))
    // the plan is withdrawn (delete by root+facility) → rA comes back
    val withdrawn = Spectrum.removeSpectrumPlan(claimed, "rA", "keck-lris")
    assert(reportRoots(withdrawn, noInfo) == Set("rA", "rB"))
    // a spectrum is reported for rA → it leaves the report for good
    val reported = Seq(("rA", false, 150.0))
      .toDF("root_diaobject_id", "is_host", "mjd")
    assert(reportRoots(withdrawn, reported) == Set("rB"))
    // null-facility rows (legacy plans unioned via allowMissingColumns)
    // must SURVIVE an unrelated delete — plain === would NULL the
    // complement predicate and silently drop them
    val legacy = Spectrum.planSpectrum(
      Seq(("rB", false, 100.0)).toDF("root_diaobject_id", "is_host", "plantime"),
      Seq(("rA", false, 100.0, "keck-lris"))
        .toDF("root_diaobject_id", "is_host", "plantime", "facility"))
    val afterDelete = Spectrum.removeSpectrumPlan(legacy, "rA", "keck-lris")
    assert(afterDelete.count() == 1 &&
      afterDelete.head().getAs[String]("root_diaobject_id") == "rB")
  }

  test("spectraWanted endpoint defaults: 7-day claim/spectrum windows, " +
    "14-day detection window, detected_since overrides detected_in_last_days") {
    import graft.api.Spectrum
    // rA's latest detection is mjd 110, rB's is 105; mjdNow 115 puts
    // both inside the default 14-day window; mjdNow 125 drops rB only
    def roots(mjdNow: Double, planned: org.apache.spark.sql.DataFrame = noPlans,
        info: org.apache.spark.sql.DataFrame = noInfo,
        detSince: Spectrum.JsonParam[Double] = Spectrum.Unset,
        detDays: Option[Double] = Some(14.0)): Set[String] =
      Spectrum.spectraWanted(miniCatalog, "pv", wants, planned, info,
          mjdNow = mjdNow, detectedSinceMjd = detSince,
          detectedInLastDays = detDays)
        .select("root_diaobject_id").collect().map(_.getString(0)).toSet
    assert(roots(115.0) == Set("rA", "rB"))
    assert(roots(120.0) == Set("rA")) // rB's det (105) > 14 days old
    // detected_since_mjd OVERRIDES the day window
    assert(roots(120.0, detSince = Spectrum.JsonValue(100.0)) == Set("rA", "rB"))
    // disabling detection filtering entirely (day-window spelling)
    assert(roots(200.0, detDays = None) == Set("rA", "rB"))
    // the endpoint's {"detected_since_mjd": null} spelling disables it
    // too, even with the day window left at its default — the exact
    // case an Option[Double] parameter could not express
    assert(roots(200.0, detSince = Spectrum.JsonNull) == Set("rA", "rB"))
    // and fromOption maps plain Options onto the tri-state (None → Unset)
    assert(roots(120.0,
      detSince = Spectrum.JsonParam.fromOption(Some(100.0))) == Set("rA", "rB"))
    assert(roots(120.0,
      detSince = Spectrum.JsonParam.fromOption(None)) == Set("rA"))
    // default 7-day claim window: a claim 3 days ago hides rA at
    // mjdNow 115; the same claim is stale at mjdNow 125
    val claim = Seq(("rA", false, 112.0, "keck"))
      .toDF("root_diaobject_id", "is_host", "plantime", "facility")
    assert(roots(115.0, planned = claim) == Set("rB"))
    assert(roots(125.0, planned = claim, detDays = None) == Set("rA", "rB"))
    // default 7-day spectrum window behaves the same way
    val spec = Seq(("rA", false, 112.0)).toDF("root_diaobject_id", "is_host", "mjd")
    assert(roots(115.0, info = spec) == Set("rB"))
    assert(roots(125.0, info = spec, detDays = None) == Set("rA", "rB"))
  }

  test("getSpectrumInfo: searchspec kinds compose; since alias maps to " +
    "inserted_at_min; disallowed kinds throw") {
    import graft.api.Spectrum
    val info = Seq(
      ("rA", "keck-lris", 60010.0, 0.1, 2221L, "SN Ia", false, 60055.0, 1L),
      ("rB", "gemini-gmos", 60030.0, 0.9, 2223L, "SN II", false, 60070.0, 2L),
      ("rC", "vlt-xshooter", 60030.0, 0.2, 2221L, "SN Ia", true, 60070.0, 3L))
      .toDF("root_diaobject_id", "facility", "mjd", "z", "classid",
        "class_description", "is_host", "inserted_at", "specinfo_id")
    def ids(args: Map[String, Any]): Set[Long] =
      Spectrum.getSpectrumInfo(info, args)
        .select("specinfo_id").collect().map(_.getLong(0)).toSet
    assert(ids(Map("facility_contains" -> Seq("keck", "gemini"))) == Set(1L, 2L))
    assert(ids(Map("z_max" -> 0.5, "is_host" -> false)) == Set(1L))
    assert(ids(Map("since" -> 60060.0)) == Set(2L, 3L))
    assert(ids(Map("root_diaobject_ids" -> Seq("rA", "rC"))) == Set(1L, 3L))
    intercept[IllegalArgumentException] {
      ids(Map("z_contains" -> "0"))
    }
  }

  test("Stage.publish: a write that produces no marker fails loudly " +
    "instead of publishing an uncommitted artifact") {
    val dir = s"${tmpBase("stage17")}/artifact"
    val ex = intercept[java.io.IOException] {
      graft.util.Stage.publish(spark, dir) { staging =>
        new java.io.File(staging).mkdirs() // no _SUCCESS anywhere
      }
    }
    assert(ex.getMessage.contains("marker"))
    assert(!graft.util.Stage.isCommitted(spark, dir))
  }

  test("IvfAnn.loadOrBuild: a saved index at a different resolution is " +
    "rejected, not silently truncated or coarsened") {
    val emb = (0 until 24).map(i =>
        (i.toLong, Array(i.toFloat, (i * 7 % 5).toFloat, (i % 3).toFloat, 1f)))
      .toDF("vec_id", "embedding")
    val dir = s"${tmpBase("ivf17")}/ix"
    graft.pipeline.IvfAnn.loadOrBuild(emb, "vec_id", "embedding", 4, dir)
    // the artifact's stamp records the REQUESTED resolution — a later
    // request at a different one fails loudly in BOTH directions
    val up = intercept[IllegalArgumentException] {
      graft.pipeline.IvfAnn.loadOrBuild(emb, "vec_id", "embedding", 8, dir)
    }
    assert(up.getMessage.contains("nlist=4") && up.getMessage.contains("nlist=8"))
    val down = intercept[IllegalArgumentException] {
      graft.pipeline.IvfAnn.loadOrBuild(emb, "vec_id", "embedding", 2, dir)
    }
    assert(down.getMessage.contains("nlist=4") && down.getMessage.contains("nlist=2"))
    // same resolution reloads fine (no count job, just the marker read)
    assert(graft.pipeline.IvfAnn
      .loadOrBuild(emb, "vec_id", "embedding", 4, dir).centroids.count() == 4)
    // and nlist-keyed scratch locations can't collide in the first place
    assert(graft.pipeline.IvfAnn.scratchDir("/x", 4) !=
      graft.pipeline.IvfAnn.scratchDir("/x", 8))
  }

  test("NfcNormalize: composition, canonical reordering, NFC-invariance, " +
    "nulls, and the SQL-surface name") {
    import graft.functions.VectorExprs
    val rows = Seq(
      "cafe\u0301",          // decomposed -> precomposed \u00e9
      "A\u030A",             // -> \u00c5
      "caf\u00e9",           // already NFC: unchanged
      "q\u0307\u0323",       // ccc 230 then 220: canonical REORDERING
      "q\u0323\u0307",       // same marks, other order -> same NFC
      "plain ascii",
      null)
    val df = rows.toDF("s").select(col("s"),
      VectorExprs.nfcNormalize(col("s")).as("n"))
    val got = df.collect().map(r => Option(r.getString(1)))
    val want = rows.map(s => Option(s).map(
      java.text.Normalizer.normalize(_, java.text.Normalizer.Form.NFC)))
    assert(got.toSeq == want)
    // the two mark orders converge on one canonical form
    assert(want(3) == want(4))
    // decomposed input actually changed; precomposed didn't
    assert(got(0).get == "caf\u00e9" && got(2).get == "caf\u00e9")
    // whole-stage codegen result ≡ interpreted (expression off the
    // codegen path via a filter barrier that disables it)
    val interp = spark.conf.get("spark.sql.codegen.wholeStage")
    try {
      spark.conf.set("spark.sql.codegen.wholeStage", "false")
      val got2 = rows.toDF("s")
        .select(VectorExprs.nfcNormalize(col("s")).as("n"))
        .collect().map(r => Option(r.getString(0)))
      assert(got2.toSeq == want)
    } finally spark.conf.set("spark.sql.codegen.wholeStage", interp)
    // SQL-callable under the DuckDB/Postgres-compatible name
    graft.functions.SqlFunctions.register(spark)
    assert(spark.sql("SELECT nfc_normalize('cafe\u0301') AS n")
      .head().getString(0) == "caf\u00e9")
  }

  test("readCsv quarantine: unparseable typed field and wrong-arity line " +
    "are quarantined with raw-line evidence; clean rows parse positionally") {
    import org.apache.spark.sql.types._
    val dir = tmpBase("csv17")
    java.nio.file.Files.write(java.nio.file.Paths.get(s"$dir/part.csv"),
      ("id,name,score\n" +      // header (skipped)
        "1,alpha,10\n" +        // clean
        "oops,beta,20\n" +      // unparseable long id -> quarantine
        "3,gamma\n" +           // wrong arity -> quarantine
        "4,delta,40\n")         // clean
        .getBytes(java.nio.charset.StandardCharsets.UTF_8))
    val schema = StructType(Seq(StructField("id", LongType),
      StructField("name", StringType), StructField("score", LongType)))
    val parsed = graft.ingest.CorpusLoader.landBronzeCsv(
      spark, s"$dir/part.csv", schema, s"$dir/bronze")
    val good = graft.ingest.CorpusLoader.good(parsed)
      .collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2))).toSet
    assert(good == Set((1L, "alpha", 10L), (4L, "delta", 40L)))
    val q = graft.ingest.CorpusLoader.quarantine(parsed)
      .select("_corrupt").collect().map(_.getString(0)).toSet
    assert(q == Set("oops,beta,20", "3,gamma"),
      "quarantine must keep the raw lines as evidence")
  }

  test("portableProfile: null-text rows are excluded (the null-text contract)") {
    val docs = Seq((1L, "en", "a b"), (2L, "en", null), (3L, "en", "c d e"),
        (4L, "fr", null))
      .toDF("doc_id", "lang", "text")
    val p = graft.pipeline.TextAnalysis
      .portableProfile(docs, "doc_id", "lang", "text").collect()
    // fr had ONLY a null-text row → no profile row at all
    assert(p.map(_.getAs[String]("lang")).toSet == Set("en"))
    val en = p.head
    assert(en.getAs[Long]("n_docs") == 2L &&
      en.getAs[Long]("n_tokens_total") == 5L &&
      en.getAs[Long]("kmv_distinct_est") == 2L)
  }
}
