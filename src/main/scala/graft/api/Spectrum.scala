package graft.api

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import graft.functions.Funcs
import graft.query.{Catalog, Ltcv}

/** Spectrum-cycle workflow (src/spectrum.py + spectrumapp.py): request
  * spectra for transients, claim them per facility, report results —
  * the reference's wanted/planned/info anti-join battery (J3/J8, A9).
  */
object Spectrum {

  /** Tri-state JSON parameter, so the reference endpoint's three
    * distinct request shapes map one-to-one (spectrumapp.py:120-121):
    * key ABSENT → [[Unset]] (the endpoint default applies), key
    * present with NULL → [[JsonNull]] (the filter is disabled
    * outright), key present with a value → [[JsonValue]]. An
    * `Option[Double]` cannot distinguish the first two, which is why
    * `detectedSinceMjd` takes this type: the reference's
    * `{"detected_since_mjd": null}` disables detection filtering,
    * while omitting the key falls back to the 14-day window. */
  sealed trait JsonParam[+A]
  case object Unset extends JsonParam[Nothing]
  case object JsonNull extends JsonParam[Nothing]
  final case class JsonValue[A](v: A) extends JsonParam[A]
  object JsonParam {
    /** Adapter for callers holding a plain Option (None → Unset). */
    def fromOption[A](o: Option[A]): JsonParam[A] =
      o.fold[JsonParam[A]](Unset)(JsonValue(_))
  }

  /** Spectra wanted but not yet claimed by any facility
    * (spectrum.py:150-156). */
  def wantedNotClaimed(wanted: DataFrame, planned: DataFrame): DataFrame =
    wanted.join(planned.select("root_diaobject_id").distinct(),
      Seq("root_diaobject_id"), "left_anti")

  /** Spectra wanted with no spectrum reported since `sinceMjd`
    * (spectrum.py:202-215). */
  def wantedWithoutRecentSpectrum(wanted: DataFrame, info: DataFrame,
      sinceMjd: Double): DataFrame =
    wanted.join(
      info.filter(col("mjd") >= sinceMjd).select("root_diaobject_id").distinct(),
      Seq("root_diaobject_id"), "left_anti")

  /** A9 — latest detection magnitude per (rootid, band): the pandas
    * groupby-idxmax (spectrum.py:265-291) as one max_by pass. */
  def latestDetectionMags(dedupedSources: DataFrame): DataFrame =
    dedupedSources
      .groupBy("rootid", "band")
      .agg(max_by(struct(col("midpointmjdtai").as("mjd"), col("psfflux").as("flux")),
        struct(col("midpointmjdtai"), col("diasourceid"))).as("_latest"))
      .select(col("rootid"), col("band"),
        col("_latest.mjd").as("latest_mjd"),
        Funcs.flux2mag(col("_latest.flux")).as("latest_mag"))

  /** New spectrum-want request rows (spectrumapp.py:59-63): id munging
    * F14 + priority clamp F15. */
  def makeWantRows(requests: DataFrame): DataFrame =
    requests.withColumn("wantspec_id",
        Funcs.wantspecId(col("root_diaobject_id"), col("requester")))
      .withColumn("priority", Funcs.clampPriority(col("priority")).cast("short"))

  /** The spectruminfo search spec (get_spectrum_info,
    * src/spectrum.py:342-386): the reference's declarative
    * mult/substr/minmax table, compiled by the same [[graft.query
    * .SearchSpec]] builder the object search uses — predicates are
    * Column conjunctions, so Catalyst pushes them into the scan. */
  val spectrumInfoSpec: graft.query.SearchSpec = graft.query.SearchSpec(Map(
    "root_diaobject_id" -> graft.query.FieldSpec(mult = true),
    "facility" -> graft.query.FieldSpec(mult = true, substr = true, minmax = true),
    "mjd" -> graft.query.FieldSpec(minmax = true),
    "z" -> graft.query.FieldSpec(minmax = true),
    "class_description" -> graft.query.FieldSpec(mult = true, substr = true),
    "classid" -> graft.query.FieldSpec(mult = true, minmax = true),
    "is_host" -> graft.query.FieldSpec(),
    "inserted_at" -> graft.query.FieldSpec(minmax = true)))

  /** GET /spectrum/getknownspectruminfo (spectrum.py:342-386) with the
    * reference's backwards-compat kwarg aliases (`since` →
    * inserted_at_min, `root_diaobject_ids` → root_diaobject_id). When
    * both an alias and its canonical key are passed, the alias WINS —
    * exactly the reference's `kwargs['inserted_at_min'] =
    * kwargs['since']` overwrite — and deterministically so (a plain
    * Map.map would keep an arbitrary one of the two colliding
    * entries). */
  def getSpectrumInfo(info: DataFrame, args: Map[String, Any]): DataFrame = {
    val aliases = Map("since" -> "inserted_at_min",
      "root_diaobject_ids" -> "root_diaobject_id")
    val normalized = (args -- aliases.keys) ++
      aliases.flatMap { case (a, canon) => args.get(a).map(canon -> _) }
    info.filter(spectrumInfoSpec.buildPredicate(normalized))
  }

  /** POST /spectrum/planspectrum (spectrumapp.py:157-181): claim a
    * spectrum for a facility — an append to the plannedspectra table.
    * On parquet this is a union the caller persists (the engine's
    * log-structured merge shapes own durability). */
  def planSpectrum(planned: DataFrame, newPlans: DataFrame): DataFrame =
    planned.unionByName(newPlans, allowMissingColumns = true)

  /** POST /spectrum/removespectrumplan (spectrumapp.py:187-204):
    * delete by (root_diaobject_id, facility) — expressed as the
    * complement filter (a rewrite-on-delete, the parquet idiom).
    * NULL-SAFE comparisons: with plain ===, a row whose facility is
    * NULL (legal — [[planSpectrum]]'s allowMissingColumns fills
    * absent columns with null) evaluates the whole predicate to NULL
    * and the filter silently deletes it; `<=>` keeps non-matching
    * rows regardless of nulls. */
  def removeSpectrumPlan(planned: DataFrame, rootId: String,
      facility: String): DataFrame =
    planned.filter(!(col("root_diaobject_id") <=> rootId &&
      col("facility") <=> facility))

  /** Flux → AB magnitude with the reference's 99.0 sentinel for
    * non-positive flux (spectrum.py:273-277: mag defaults to 99, set
    * only where flux > 0). */
  def magOr99(flux: Column): Column =
    when(flux > 0, Funcs.flux2mag(flux)).otherwise(lit(99.0))

  /** POST /spectrum/spectrawanted (spectrumapp.py:84-152): the web
    * endpoint's DAY-based parameter surface over
    * [[wantedSpectraReport]], with the reference's defaults and
    * precedence — `notClaimedInLastDays` and `noSpectraInLastDays`
    * default to 7 (pass None to disable, like the JSON null);
    * `detectedSinceMjd` is a [[JsonParam]] tri-state matching the
    * endpoint's three request shapes exactly: [[JsonValue]] OVERRIDES
    * `detectedInLastDays`; [[JsonNull]] (the endpoint's
    * `{"detected_since_mjd": null}`, spectrumapp.py:120-121) disables
    * detection filtering outright regardless of the day window;
    * [[Unset]] (key absent) falls back to `detectedInLastDays`
    * (default 14, itself None-able). Day windows anchor at `mjdNow`,
    * exactly like the endpoint's timedelta arithmetic. */
  def spectraWanted(cat: Catalog, procverId: String,
      wanted: DataFrame, planned: DataFrame, info: DataFrame,
      mjdNow: Double,
      requestedSince: Option[Double] = None,
      requester: Option[String] = None,
      isHost: Option[Boolean] = None,
      notClaimedInLastDays: Option[Double] = Some(7.0),
      noSpectraInLastDays: Option[Double] = Some(7.0),
      detectedSinceMjd: JsonParam[Double] = Unset,
      detectedInLastDays: Option[Double] = Some(14.0),
      limMag: Option[Double] = None,
      limMagBand: Option[String] = None): DataFrame =
    wantedSpectraReport(cat, procverId, wanted, planned, info, mjdNow,
      wantSince = requestedSince, requester = requester, isHost = isHost,
      notClaimSince = notClaimedInLastDays.map(mjdNow - _),
      noSpecSince = noSpectraInLastDays.map(mjdNow - _),
      detSince = detectedSinceMjd match {
        case JsonValue(m) => Some(m)
        case JsonNull     => None
        case Unset        => detectedInLastDays.map(mjdNow - _)
      },
      limMag = limMag, limMagBand = limMagBand)

  /** The FULL `what_spectra_are_wanted` report (spectrum.py:23-334) as
    * one declarative plan — every implicit and explicit filter of the
    * reference's temp-table pipeline, composed from the engine's own
    * operators instead of three materialized temp tables:
    *
    *  1. latest want per (root, requester, is_host) with
    *     `wanttime <= mjdNow` and the optional wantSince / requester /
    *     isHost cuts (the DISTINCT ON ... ORDER BY wanttime DESC step);
    *  2. anti-join roots claimed since `notClaimSince`
    *     (plannedspectra, J3);
    *  3. anti-join roots with a spectrum reported in
    *     [noSpecSince, mjdNow] (spectruminfo, J3);
    *  4. photometry for the surviving roots only — [[Ltcv.sources]] /
    *     [[Ltcv.forced]] over the cohort's (diaobjectid, rootid) frame
    *     ([[Ltcv.Joined]]), so the priority
    *     dedup scans only the requested cohort (the reference pulls
    *     whole lightcurves into pandas here; this stays distributed);
    *  5. latest detection / forced point per (rootid, band) (A9), AB
    *     mags with the 99.0 non-positive-flux sentinel;
    *  6. the optional limiting-magnitude cut: per root, the magnitude
    *     of the newest point — forced wins when it is newer than the
    *     newest detection or when there is no detection
    *     (spectrum.py:285-311's `forcednewer`) — restricted to
    *     `limMagBand` when given;
    *  7. collapse to the newest point per root independent of band;
    *     optional detSince cut on the latest-detection mjd;
    *  8. objinfo: one member diaobjectid per root — the MINIMUM, where
    *     the reference's groupby-first is frame-order arbitrary and
    *     its own docstring warns "these aren't unique, just a random
    *     one" — plus the (S/N)²-weighted mean detection position
    *     ([[Ltcv.weightedPositions]]; the reference calls
    *     many_object_ltcvs with always_use_weighted_source_positions);
    *  9. wants ⋈ latest detection (INNER — "we assume there are
    *     detections, otherwise nobody would want a spectrum")
    *     ⟕ latest forced ⟕ objinfo.
    *
    * Times are MJD doubles throughout (the reference mixes
    * timestamptz for wanttime with MJD floats for spectruminfo; one
    * timeline unit keeps the window/anti-join semantics identical
    * without timezone noise — F4 converts at the edge if a deployment
    * stores timestamps).
    *
    * `wanted` columns: root_diaobject_id, is_host, ra, dec, requester,
    * priority, wanttime. `planned`: root_diaobject_id, is_host,
    * plantime. `info`: root_diaobject_id, is_host, mjd. Detections
    * need ra/dec columns for the weighted positions.
    *
    * Scale shape: the want/claim/info tables are request-sized —
    * every join against them broadcasts — and the only corpus-sized
    * inputs (the photometry tables) are scanned once each, pre-cut by
    * mjdNow at the parquet scan and semi-joined to the surviving
    * cohort BEFORE the dedup shuffle. */
  def wantedSpectraReport(cat: Catalog, procverId: String,
      wanted: DataFrame, planned: DataFrame, info: DataFrame,
      mjdNow: Double,
      wantSince: Option[Double] = None,
      requester: Option[String] = None,
      isHost: Option[Boolean] = None,
      notClaimSince: Option[Double] = None,
      noSpecSince: Option[Double] = None,
      detSince: Option[Double] = None,
      limMag: Option[Double] = None,
      limMagBand: Option[String] = None): DataFrame = {

    // 1. latest want per (root, requester, is_host); full-payload
    // tiebreak after wanttime so equal-time duplicates resolve
    // deterministically (the reference keeps an arbitrary one)
    val cut0 = wanted.filter(col("wanttime") <= mjdNow)
    val cut1 = wantSince.map(t => cut0.filter(col("wanttime") >= t)).getOrElse(cut0)
    val cut2 = requester.map(r => cut1.filter(col("requester") === r)).getOrElse(cut1)
    val cut3 = isHost.map(h => cut2.filter(col("is_host") === h)).getOrElse(cut2)
    val latestWant = cut3
      .groupBy("root_diaobject_id", "requester", "is_host")
      .agg(max_by(struct(col("ra"), col("dec"), col("priority"), col("wanttime")),
        struct(col("wanttime"), col("priority"), col("ra"), col("dec"))).as("_w"))
      .select(col("root_diaobject_id"), col("requester"), col("is_host"),
        col("_w.ra").as("ra"), col("_w.dec").as("dec"),
        col("_w.priority").as("priority"), col("_w.wanttime").as("wanttime"))

    // 2. J3 — drop roots claimed since notClaimSince
    val unclaimed = notClaimSince.map { t =>
      latestWant.join(
        planned.filter(col("plantime") > t)
          .select("root_diaobject_id", "is_host").distinct(),
        Seq("root_diaobject_id", "is_host"), "left_anti")
    }.getOrElse(latestWant)

    // 3. J3 — drop roots with a spectrum reported in [noSpecSince, now]
    val noSpec = noSpecSince.map { t =>
      unclaimed.join(
        info.filter(col("mjd") >= t && col("mjd") <= mjdNow)
          .select("root_diaobject_id", "is_host").distinct(),
        Seq("root_diaobject_id", "is_host"), "left_anti")
    }.getOrElse(unclaimed)

    // 4. photometry for the surviving roots only. The deduped frames
    // are materialized (eager localCheckpoint): they are cohort-sized
    // but their UPSTREAM is the corpus-sized photometry scan + dedup,
    // and three consumers read each (per-band latest, lim-mag,
    // weighted positions) — without the checkpoint each consumer
    // re-executes the full scan (the reference materializes its
    // tmp_wanted tables for the same reason).
    val roots = noSpec.select(col("root_diaobject_id").as("rootid")).distinct()
    val ids = Ltcv.objMap(cat, procverId)
      .join(broadcast(roots), Seq("rootid"), "left_semi")
    // the two eager checkpoints are INDEPENDENT corpus scans (sources
    // vs forced) serialized only by the driver calling them in turn —
    // submit both at once so the second scan back-fills executors freed
    // by the first's tail (Spark schedules concurrent jobs FIFO, exactly
    // the overlap wanted here)
    val Seq(src, frc) = graft.util.Jobs.par(Seq(
      () => Ltcv.sources(cat, procverId, mjdNow = Some(mjdNow),
        scope = Some(Ltcv.Joined(ids))).localCheckpoint(),
      () => Ltcv.forced(cat, procverId, mjdNow = Some(mjdNow),
        scope = Some(Ltcv.Joined(ids))).localCheckpoint()))

    // 5. A9 — latest point per (rootid, band), with mags
    def latestPerBand(df: DataFrame, idCol: String, pfx: String): DataFrame =
      df.groupBy("rootid", "band")
        .agg(max_by(struct(col("midpointmjdtai").as("mjd"), col("psfflux").as("flux")),
          struct(col("midpointmjdtai"), col(idCol))).as("_l"))
        .select(col("rootid"), col("band").as(s"${pfx}_band"),
          col("_l.mjd").as(s"${pfx}_mjd"), magOr99(col("_l.flux")).as(s"${pfx}_mag"))
    val srcBand = latestPerBand(src, "diasourceid", "src")
    val frcBand = latestPerBand(frc, "diaforcedsourceid", "frced")

    // newest point per root independent of band; tiebreak on band
    // (the reference's idxmax keeps the first max in frame order —
    // arbitrary; band makes it deterministic)
    def latestAcrossBands(df: DataFrame, pfx: String): DataFrame =
      df.groupBy("rootid")
        .agg(max_by(struct(col(s"${pfx}_mjd"), col(s"${pfx}_band"), col(s"${pfx}_mag")),
          struct(col(s"${pfx}_mjd"), col(s"${pfx}_band"))).as("_l"))
        .select(col("rootid"), col(s"_l.${pfx}_mjd").as(s"${pfx}_mjd"),
          col(s"_l.${pfx}_band").as(s"${pfx}_band"),
          col(s"_l.${pfx}_mag").as(s"${pfx}_mag"))

    // 6. limiting-magnitude cut (spectrum.py:283-311)
    val afterLim = limMag.map { lim =>
      val (ls, lf) = limMagBand match {
        case Some(b) => (srcBand.filter(col("src_band") === b),
          frcBand.filter(col("frced_band") === b))
        case None => (latestAcrossBands(srcBand, "src"),
          latestAcrossBands(frcBand, "frced"))
      }
      val forcedNewer = (col("src_mag").isNull && col("frced_mag").isNotNull) ||
        (col("src_mag").isNotNull && col("frced_mag").isNotNull &&
          col("frced_mjd") > col("src_mjd"))
      val passing = ls.select("rootid", "src_mjd", "src_mag")
        .join(lf.select("rootid", "frced_mjd", "frced_mag"), Seq("rootid"), "full_outer")
        .select(col("rootid"),
          when(forcedNewer, col("frced_mag")).otherwise(col("src_mag")).as("_cutmag"))
        .filter(col("_cutmag") <= lim)
        .select("rootid")
      noSpec.join(broadcast(passing),
        col("root_diaobject_id") === col("rootid"), "left_semi")
    }.getOrElse(noSpec)

    // 7. collapse to newest per root; detSince on the detection side
    val srcLatest0 = latestAcrossBands(srcBand, "src")
    val srcLatest = detSince.map(t => srcLatest0.filter(col("src_mjd") >= t))
      .getOrElse(srcLatest0)
    val frcLatest = latestAcrossBands(frcBand, "frced")

    // 8. objinfo: min member diaobjectid + weighted mean position
    val objinfo = ids.groupBy("rootid")
      .agg(min(col("diaobjectid")).as("diaobjectid"))
      .join(Ltcv.weightedPositions(src)
        .select(col("rootid"), col("ra").as("diaobj_meanra"),
          col("dec").as("diaobj_meandec")),
        Seq("rootid"), "left_outer")

    // 9. final assembly — wants are request-sized, photometry rollups
    // are root-sized: every join here broadcasts the smaller side
    afterLim
      .join(srcLatest.withColumnRenamed("rootid", "root_diaobject_id"),
        Seq("root_diaobject_id"))
      .join(frcLatest.withColumnRenamed("rootid", "root_diaobject_id"),
        Seq("root_diaobject_id"), "left_outer")
      .join(objinfo.withColumnRenamed("rootid", "root_diaobject_id"),
        Seq("root_diaobject_id"), "left_outer")
      .select(col("root_diaobject_id"), col("requester"), col("priority"),
        col("wanttime"), col("diaobjectid"), col("is_host"),
        col("ra"), col("dec"), col("diaobj_meanra"), col("diaobj_meandec"),
        col("src_mjd"), col("src_band"), col("src_mag"),
        col("frced_mjd"), col("frced_band"), col("frced_mag"))
  }
}
