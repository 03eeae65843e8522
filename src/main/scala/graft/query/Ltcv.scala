package graft.query

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.procver.ProcVerDims
import graft.functions.Funcs
import graft.util.Jobs.labelled

/** Catalog handle: the silver fact tables + procver dimensions.
  * All ops are DataFrame-in/DataFrame-out; nothing collects except
  * tiny-dimension resolution and request-key resolution: a call with
  * requested ids (or [[Ltcv.hotLtcvs]]'s window candidates) resolves
  * them to (diaobjectid, rootid) pairs on the driver when it is
  * called, so those resolve jobs run before the returned frame does.
  */
final case class Catalog(
    rootDiaobject: DataFrame,
    diaobject: DataFrame,
    diaobjectPosition: DataFrame,
    diasource: DataFrame,
    diaforcedsource: DataFrame,
    dims: ProcVerDims,
    // host-galaxy surface (refactor.sql:113-167); optional because a
    // catalog without a DR import simply has no hosts to join
    hostGalaxy: Option[DataFrame] = None,
    diaobjectHostMatch: Option[DataFrame] = None)

/** Lightcurve query core — the load-bearing semantics of the reference
  * (SURVEY.md §3.1): processing-version priority dedup (A1), the
  * forced/detection patch join (J2), per-object stats (A2-A4), weighted
  * positions (A7), and the hot-transient recency window (T6).
  */
object Ltcv {

  /** (base_procver_id, priority) pairs of a priority frame, collected:
    * the dimension is a handful of rows. Any integral `priority` type. */
  private def priorityList(priorities: DataFrame): Seq[(Any, Long)] =
    priorities.select(col("base_procver_id"), col("priority").cast("long"))
      .collect().toSeq.map(r => r.get(0) -> r.getLong(1))

  /** Base procvers of `table` under a procver, as literals for an
    * `IN (…)` predicate that reaches the scan. */
  def baseProcvers(cat: Catalog, procverId: String, table: String): Seq[Any] =
    priorityList(cat.dims.priorities(procverId, table)).map(_._1)

  /** A1 — priority dedup, the system's signature operator.
    *
    * For each natural key keep the row whose base procver has the
    * highest priority under the requested procver (the reference's
    * `DISTINCT ON ... ORDER BY priority DESC`, src/ltcv.py:645-669).
    *
    * Implemented as `max_by(struct(payload), struct(priority, tiebreak))`
    * over a `groupBy(keys)` rather than a rank-1 window: the aggregate
    * gets map-side partial combine, so at 100 TB only one row per
    * (key, partition) reaches the shuffle instead of every photometry
    * row hitting a full partition sort. The priority map is a handful
    * of rows, so it is collected, not joined: the rows are restricted
    * by `base_procver_id IN (…)` (a filter the parquet scan takes) and
    * ranked by a literal `CASE base_procver_id WHEN … THEN priority`.
    *
    * Physical note: the struct-typed max_by buffer is not
    * UnsafeRow-mutable, so both aggregate halves run as SortAggregate
    * (hash aggregation is impossible for ANY multi-field argmax in
    * Spark) — the map-side combine + groups-only shuffle argument
    * above still holds, but every payload column rides the per-task
    * sort, and Catalyst's nested-column pruning cannot see through the
    * buffer. Callers should PROJECT AWAY payload columns they don't
    * need before calling (a1PriorityDedup does).
    */
  def priorityDedup(df: DataFrame, priorities: DataFrame,
      keys: Seq[String], tiebreaks: Seq[String]): DataFrame = {
    val prios = priorityList(priorities)
    val bpv = col("base_procver_id")
    val rank = prios match {
      case Seq() => lit(null).cast("long")
      case (b, p) +: rest =>
        rest.foldLeft(when(bpv === lit(b), p)) { case (c, (b, p)) => c.when(bpv === lit(b), p) }
    }
    // base_procver_id leads the payload, where the former join put it
    val payload = "base_procver_id" +:
      df.columns.filterNot(c => keys.contains(c) || c == "base_procver_id")
    val ordKey = struct(rank +: tiebreaks.map(col): _*)
    df.filter(bpv.isin(prios.map(_._1): _*))
      .groupBy(keys.map(col): _*)
      .agg(max_by(struct(payload.map(col): _*), ordKey).as("_best"))
      .select(keys.map(col) ++ payload.map(c => col(s"_best.$c").as(c)): _*)
  }

  /** diaobjectid → rootid map under a procver's diaobject base versions
    * (the reference's tmp_objids without the id-list restriction,
    * src/ltcv.py:569-630). */
  def objMap(cat: Catalog, procverId: String): DataFrame =
    cat.diaobject
      .filter(col("base_procver_id").isin(baseProcvers(cat, procverId, "diaobject"): _*))
      .select("diaobjectid", "rootid").distinct()

  /** Resolve requested object ids to *all* (diaobjectid, rootid) pairs
    * sharing their rootids, on the driver (src/ltcv.py:569-630): the
    * alert stream re-associates sources across diaobjectids, so
    * lightcurves must be assembled per rootid (SURVEY.md §7.4 "identity
    * pathologies"). Two filtered, shuffle-free scans of `diaobject`
    * under the procver's base versions: requested ids to rootids, then
    * rootids to member ids (a rootid-only request needs only the
    * second). The result is a few rows per requested object. */
  def resolveIds(cat: Catalog, procverId: String,
      diaobjectids: Seq[Long] = Nil, rootids: Seq[String] = Nil): Seq[(Long, String)] =
    if (diaobjectids.isEmpty && rootids.isEmpty) Nil
    else labelled(cat.diaobject.sparkSession, "ltcv: resolve ids") {
      val objs = cat.diaobject.filter(
        col("base_procver_id").isin(baseProcvers(cat, procverId, "diaobject"): _*))
      val viaIds =
        if (diaobjectids.isEmpty) Nil
        else objs.filter(col("diaobjectid").isin(diaobjectids.distinct.sorted: _*))
          .select("rootid").collect().toSeq.map(_.getString(0))
      val roots = (rootids ++ viaIds).distinct.sorted
      if (roots.isEmpty) Nil
      else objs.filter(col("rootid").isin(roots: _*))
        .select(col("diaobjectid").cast("long"), col("rootid")).collect().toSeq
        .map(r => (r.getLong(0), r.getString(1))).distinct.sorted
    }

  /** [[resolveIds]] as a (diaobjectid, rootid) frame. */
  def expandObjids(cat: Catalog, procverId: String,
      diaobjectids: Seq[Long] = Nil, rootids: Seq[String] = Nil): DataFrame =
    Keys(resolveIds(cat, procverId, diaobjectids, rootids)).members(cat.diaobject.sparkSession)

  /** Which objects a read covers, and how its diaobjectid-keyed rows
    * get their rootid. */
  sealed trait Scope {
    /** Restrict diaobjectid-keyed rows to the scope and append `rootid`. */
    def tag(df: DataFrame): DataFrame
    /** The scope's (diaobjectid, rootid) pairs. */
    def members(spark: SparkSession): DataFrame
    /** Bring a scoped result together for its last operator: one
      * partition for a request, unchanged for the corpus. */
    def gather(df: DataFrame): DataFrame
  }

  /** Request path: (diaobjectid, rootid) pairs resolved on the driver.
    * The ids reach the scan as a pushed `diaobjectid IN (…)`, the
    * surviving rows cross one single-partition exchange, and rootid
    * comes from the literal pairs — so dedup, the patch join and the
    * final sort run in that one partition with no further exchange,
    * and the plan grows with the request, not the catalog. A
    * diaobjectid under several rootids (across base procvers) sends
    * its rows to each of them, as a join would. */
  final case class Keys(pairs: Seq[(Long, String)]) extends Scope {
    private val rootsOf: Map[Long, Seq[String]] =
      pairs.groupBy(_._1).map { case (id, ps) => id -> ps.map(_._2).distinct.sorted }
    def tag(df: DataFrame): DataFrame = {
      val one = df.filter(col("diaobjectid").isin(rootsOf.keys.toSeq.sorted: _*)).repartition(1)
      // the column order a join on diaobjectid would give
      one.select(col("diaobjectid") +: one.columns.filterNot(_ == "diaobjectid").map(col) :+
        explode(element_at(typedLit(rootsOf), col("diaobjectid"))).as("rootid"): _*)
    }
    def members(spark: SparkSession): DataFrame =
      spark.createDataFrame(pairs).toDF("diaobjectid", "rootid")
    def gather(df: DataFrame): DataFrame = df.coalesce(1)
  }

  /** Corpus path: rows join a (diaobjectid, rootid) frame. */
  final case class Joined(objids: DataFrame) extends Scope {
    def tag(df: DataFrame): DataFrame = df.join(objids, Seq("diaobjectid"))
    def members(spark: SparkSession): DataFrame = objids.select("diaobjectid", "rootid")
    def gather(df: DataFrame): DataFrame = df
  }

  /** The request path when ids are given, else every object under the
    * procver. */
  def scope(cat: Catalog, procverId: String,
      diaobjectids: Seq[Long], rootids: Seq[String]): Scope =
    if (diaobjectids.nonEmpty || rootids.nonEmpty)
      Keys(resolveIds(cat, procverId, diaobjectids, rootids))
    else Joined(objMap(cat, procverId))

  private def photometryForProcver(phot: DataFrame, cat: Catalog,
      procverId: String, table: String, idCol: String,
      mjdNow: Option[Double], bands: Seq[String], scope: Option[Scope]): DataFrame = {
    // P3 time-travel cut + P4 band filter push down to the parquet scan.
    val cut = mjdNow.map(m => phot.filter(col("midpointmjdtai") <= m)).getOrElse(phot)
    val banded = if (bands.nonEmpty) cut.filter(col("band").isin(bands: _*)) else cut
    val scoped = scope.getOrElse(Joined(objMap(cat, procverId))).tag(banded)
    // (idCol, base_procver_id) is the storage PK, so priority + idCol is
    // a total order within any (rootid, visit) group.
    priorityDedup(scoped, cat.dims.priorities(procverId, table),
      keys = Seq("rootid", "visit"), tiebreaks = Seq(idCol))
  }

  /** Detections deduped per (rootid, visit) under `procverId`
    * (src/ltcv.py:640-671), over `scope` (default: every object under
    * the procver). */
  def sources(cat: Catalog, procverId: String,
      mjdNow: Option[Double] = None, bands: Seq[String] = Nil,
      scope: Option[Scope] = None): DataFrame =
    photometryForProcver(cat.diasource, cat, procverId, "diasource",
      "diasourceid", mjdNow, bands, scope)

  /** Forced photometry deduped per (rootid, visit)
    * (src/ltcv.py:681-712). */
  def forced(cat: Catalog, procverId: String,
      mjdNow: Option[Double] = None, bands: Seq[String] = Nil,
      scope: Option[Scope] = None): DataFrame =
    photometryForProcver(cat.diaforcedsource, cat, procverId, "diaforcedsource",
      "diaforcedsourceid", mjdNow, bands, scope)

  /** J2 — the FULL OUTER patch join (src/ltcv.py:714-741).
    *
    * Forced photometry arrives ≥ ~24 h late; until then the lightcurve
    * is "patched" from the detection's photometry. For each (rootid,
    * visit): take every column from the forced row if present, else
    * from the detection; `isdet` = a detection exists; `ispatch` = the
    * value came from the detection because forced hasn't arrived.
    */
  def patchJoin(forcedDf: DataFrame, sourcesDf: DataFrame): DataFrame =
    patched(forcedDf, sourcesDf).drop("_detmjd")

  /** [[patchJoin]] plus `_detmjd`, the detection's own mjd (null on
    * forced-only rows). */
  private def patched(forcedDf: DataFrame, sourcesDf: DataFrame): DataFrame = {
    val f = forcedDf.select(
      col("rootid"), col("visit"),
      col("band").as("f_band"), col("midpointmjdtai").as("f_mjd"),
      col("psfflux").as("f_psfflux"), col("psffluxerr").as("f_psffluxerr"),
      col("diaobjectid").as("f_diaobjectid"))
    val s = sourcesDf.select(
      col("rootid"), col("visit"),
      col("band").as("s_band"), col("midpointmjdtai").as("s_mjd"),
      col("psfflux").as("s_psfflux"), col("psffluxerr").as("s_psffluxerr"),
      col("diaobjectid").as("s_diaobjectid"),
      col("psfflux").as("s_detflux"), col("psffluxerr").as("s_detfluxerr"))
    f.join(s, Seq("rootid", "visit"), "full_outer")
      .select(
        col("rootid"), col("visit"),
        coalesce(col("f_band"), col("s_band")).as("band"),
        coalesce(col("f_mjd"), col("s_mjd")).as("midpointmjdtai"),
        coalesce(col("f_psfflux"), col("s_psfflux")).as("psfflux"),
        coalesce(col("f_psffluxerr"), col("s_psffluxerr")).as("psffluxerr"),
        coalesce(col("f_diaobjectid"), col("s_diaobjectid")).as("diaobjectid"),
        col("s_detflux").as("detflux"), col("s_detfluxerr").as("detfluxerr"),
        col("s_band").isNotNull.as("isdet"),
        (col("s_band").isNotNull && col("f_band").isNull).as("ispatch"),
        col("s_mjd").as("_detmjd"))
  }

  /** Full lightcurve assembly for a set of objects, ordered
    * (rootid, mjd) — the reference's `many_object_ltcvs`
    * (src/ltcv.py:294-924) as one declarative plan. Requested ids take
    * the request path ([[Keys]]); no ids means every object. */
  def objectLtcvs(cat: Catalog, procverId: String,
      diaobjectids: Seq[Long] = Nil, rootids: Seq[String] = Nil,
      mjdNow: Option[Double] = None, bands: Seq[String] = Nil,
      whichPhot: String = "patch"): DataFrame = {
    // reject typos instead of silently serving the patch dataset (the
    // reference raises on an unknown which_phot the same way)
    require(Seq("patch", "detections", "forced").contains(whichPhot),
      s"whichPhot must be patch|detections|forced, got '$whichPhot'")
    val sc = scope(cat, procverId, diaobjectids, rootids)
    def src = sources(cat, procverId, mjdNow, bands, Some(sc))
    def frc = forced(cat, procverId, mjdNow, bands, Some(sc))
    val out = whichPhot match {
      case "detections" => src
      case "forced"     => frc
      case _            => patchJoin(frc, src)
    }
    sc.gather(out).orderBy("rootid", "midpointmjdtai")
  }

  // ---- objstats (A2-A4): the matview replacement ------------------

  /** Flux thresholds for ndets24/23/22/21 (mag cuts at ZP 31.4,
    * src/ltcv.py:1590-1595). */
  private val magCuts = Seq(24, 23, 22, 21).map(m => m -> Funcs.mag2flux(m.toDouble))
  private val snCuts = Seq(10, 7, 5)

  /** Per-(rootid, band) lightcurve statistics — one `groupBy` pass
    * replacing the reference's 8-subquery materialized view
    * (src/ltcv.py:1600-1754). Input: deduped detections from
    * [[sources]]. */
  /** The shared stat aggregate list — objStats and objStatsComb differ
    * ONLY in grouping keys; one definition keeps the cut set from
    * silently diverging between the per-band and cross-band tables. */
  private def statAggs: Seq[Column] = {
    val mjdOrd = struct(col("midpointmjdtai"), col("diasourceid"))
    val detTriple = struct(col("midpointmjdtai").as("mjd"),
      col("psfflux").as("flux"), col("psffluxerr").as("fluxerr"))
    Seq(
      count(lit(1)).as("ndets"),
      min_by(detTriple, mjdOrd).as("firstdet"),
      max_by(detTriple, mjdOrd).as("lastdet"),
      max_by(detTriple, struct(col("psfflux"), col("diasourceid"))).as("maxdet")) ++
      magCuts.map { case (m, f) =>
        sum(when(col("psfflux") >= f, 1L).otherwise(0L)).as(s"ndets$m") } ++
      snCuts.map { n =>
        sum(when(col("psfflux") / col("psffluxerr") >= n, 1L).otherwise(0L)).as(s"nsn$n") }
  }

  def objStats(dedupedSources: DataFrame): DataFrame = {
    val aggs = statAggs
    dedupedSources
      .groupBy("rootid", "band")
      .agg(aggs.head, aggs.tail: _*)
      .select(col("rootid") +: col("band") +: statCols: _*)
  }

  private def statCols: Seq[Column] = Seq(
    col("ndets"),
    col("firstdet.mjd").as("firstdetmjd"), col("firstdet.flux").as("firstdetflux"),
    col("firstdet.fluxerr").as("firstdetfluxerr"),
    col("lastdet.mjd").as("lastdetmjd"), col("lastdet.flux").as("lastdetflux"),
    col("lastdet.fluxerr").as("lastdetfluxerr"),
    col("maxdet.mjd").as("maxdetmjd"), col("maxdet.flux").as("maxdetflux"),
    col("maxdet.fluxerr").as("maxdetfluxerr")) ++
    magCuts.map { case (m, _) => col(s"ndets$m") } ++
    snCuts.map(n => col(s"nsn$n"))

  /** A4 — cross-band rollup per rootid (objstatscomb_{pv},
    * src/ltcv.py:1781-1815): counts summed, first/last/max recomputed
    * across bands. Takes the *deduped sources* so the extrema are exact
    * (not a max-of-maxes on ties). */
  def objStatsComb(dedupedSources: DataFrame): DataFrame = {
    val aggs = statAggs
    dedupedSources.groupBy("rootid").agg(aggs.head, aggs.tail: _*)
      .select(col("rootid") +: statCols: _*)
  }

  /** A7 — (S/N)²-weighted mean position per rootid over detections with
    * S/N > 3 (src/ltcv.py:828-878), as single-pass column arithmetic
    * instead of the reference's per-lightcurve numpy loop.
    *
    * Default semantics are REFERENCE-FAITHFUL: a plain arithmetic mean
    * of RA, exactly like ltcv.py:855 — which means an object whose
    * astrometric scatter straddles the RA 0/360 meridian averages to
    * ~180° (half a sky away), in the reference too. `wrapRa = true`
    * fixes that: every detection's RA is taken relative to the
    * object's first-detection RA (wrapped to ±180°) before averaging,
    * and the mean is wrapped back to [0, 360) — identical output for
    * any object away from the meridian, correct at it. */
  def weightedPositions(dedupedSources: DataFrame, snCut: Double = 3.0,
      wrapRa: Boolean = false): DataFrame = {
    val w = pow(col("psfflux") / col("psffluxerr"), 2)
    val base = dedupedSources
      .filter(col("psfflux") / col("psffluxerr") > snCut)
    val input =
      if (!wrapRa) base
      else {
        // per-object reference meridian: the FIRST detection's RA
        // (deterministic min_by on (mjd, id)); deltas wrap to ±180
        val ra0 = base.groupBy("rootid").agg(min_by(col("ra"),
          struct(col("midpointmjdtai"), col("diasourceid"))).as("_ra0"))
        base.join(ra0, Seq("rootid"))
          .withColumn("_d", col("ra") - col("_ra0"))
          .withColumn("ra",
            col("_ra0") + col("_d") - lit(360.0) * floor((col("_d") + 180.0) / 360.0))
          .drop("_d", "_ra0")
      }
    val unwrapped = input
      .withColumn("_w", w)
      .groupBy("rootid")
      .agg(
        sum("_w").as("_sw"),
        sum(col("_w") * col("ra")).as("_swra"),
        sum(col("_w") * col("dec")).as("_swdec"),
        sum(col("_w") * col("ra") * col("ra")).as("_swra2"),
        sum(col("_w") * col("dec") * col("dec")).as("_swdec2"),
        sum(col("_w") * col("ra") * col("dec")).as("_swradec"),
        count(lit(1)).as("nposdets"))
      .select(
        col("rootid"), col("nposdets"),
        (col("_swra") / col("_sw")).as("ra"),
        (col("_swdec") / col("_sw")).as("dec"),
        sqrt(greatest(col("_swra2") / col("_sw") - pow(col("_swra") / col("_sw"), 2), lit(0.0))).as("rastd"),
        sqrt(greatest(col("_swdec2") / col("_sw") - pow(col("_swdec") / col("_sw"), 2), lit(0.0))).as("decstd"),
        (col("_swradec") / col("_sw") - col("_swra") * col("_swdec") / (col("_sw") * col("_sw"))).as("ra_dec_cov"))
    if (!wrapRa) unwrapped
    else unwrapped.withColumn("ra",
      col("ra") - lit(360.0) * floor(col("ra") / 360.0))
  }

  /** A13 (beyond ref) — per-(root, band) light-curve FEATURE
    * extraction: the summary statistics an alert-broker classifier
    * consumes (amplitude, time span, mean/spread, linear trend).
    * The trend is the closed-form least-squares slope of flux vs mjd
    * computed on CENTERED values — two aggregation passes over the
    * same grouped keys instead of the one-pass nΣtf−ΣtΣf form, whose
    * catastrophic cancellation at mjd ~ 6e4 would leave the rounded
    * output at the mercy of each engine's summation order. Spread is
    * the population standard deviation from the same centered pass
    * (NOT stddev_samp: its Welford accumulation is engine-specific;
    * a centered Σ(f−f̄)² replays identically anywhere).
    *
    * Scale shape: two partial-aggregated groupBys on (rootid, band)
    * and a same-key join — per-group state is O(1), no window, no
    * per-lightcurve collect. Output rounds to 4 dp (the a7 idiom);
    * single-detection or zero-time-variance groups emit slope 0. */
  def lightcurveFeatures(dedupedSources: DataFrame): DataFrame = {
    val m = dedupedSources.groupBy("rootid", "band").agg(
      count(lit(1)).as("ndets"),
      avg(col("midpointmjdtai")).as("_tbar"),
      avg(col("psfflux")).as("_fbar"),
      sum(col("psfflux")).as("_fsum"),
      max(col("psfflux")).as("_fmax"), min(col("psfflux")).as("_fmin"),
      max(col("midpointmjdtai")).as("_tmax"),
      min(col("midpointmjdtai")).as("_tmin"))
    val cen = dedupedSources
      .join(m.select("rootid", "band", "_tbar", "_fbar"), Seq("rootid", "band"))
      .groupBy("rootid", "band").agg(
        sum((col("midpointmjdtai") - col("_tbar")) *
          (col("psfflux") - col("_fbar"))).as("_stf"),
        sum(pow(col("midpointmjdtai") - col("_tbar"), 2)).as("_stt"),
        sum(pow(col("psfflux") - col("_fbar"), 2)).as("_sff"))
    m.join(cen, Seq("rootid", "band")).select(
      col("rootid"), col("band"), col("ndets"),
      round(col("_fmax") - col("_fmin"), 4).as("amplitude"),
      round(col("_tmax") - col("_tmin"), 4).as("mjd_span"),
      // flux SUM, not mean: the inputs are exact finite decimals, so a
      // mean (sum/n) lands exactly on .5 at the rounding digit whenever
      // n divides the decimal tail — the one case where Spark HALF_UP
      // and banker's rounding disagree. The sum keeps the inputs' own
      // decimal precision → no representable half-tie at 3 dp; the
      // mean is one division away for the consumer.
      round(col("_fsum"), 3).as("flux_sum"),
      round(sqrt(col("_sff") / col("ndets")), 4).as("flux_std"),
      round(when(col("_stt") > 0, col("_stf") / col("_stt"))
        .otherwise(lit(0.0)), 4).as("trend_slope"))
  }

  /** W6 (beyond ref) — trailing rolling-window statistics per curve:
    * for every detection, the count / flux sum / peak over the
    * trailing `trail` units of the integer `timeCol` axis (a RANGE
    * frame, so same-time peers are always included — value-based, not
    * row-based). The time axis must be integral: a value-based frame
    * on floats means different things to different engines, so
    * callers scale their mjd to integer units first (w6 uses
    * centi-mjd). Adds `n_trail` / `flux_trail_raw` / `peak_trail_raw`.
    *
    * Scale shape: one window over the per-curve partitions — millions
    * of small curves, no global sort, no skew. */
  def rollingTrailing(src: DataFrame, keys: Seq[String], timeCol: String,
      fluxCol: String, trail: Long): DataFrame = {
    val w = Window.partitionBy(keys.map(col): _*).orderBy(timeCol)
      .rangeBetween(-trail, 0L)
    src.withColumn("n_trail", count(lit(1)).over(w))
      .withColumn("flux_trail_raw", sum(col(fluxCol)).over(w))
      .withColumn("peak_trail_raw", max(col(fluxCol)).over(w))
  }

  /** W9 (beyond ref) — light-curve resampling by linear interpolation
    * onto a regular grid: for every grid epoch inside a curve's
    * observed span, the flux interpolated between the bracketing
    * detections. The grid classifiers and cross-matchers consume —
    * irregular cadence in, fixed-step vectors out.
    *
    * The time axis is INTEGER units (`timeCol`, e.g. deci-days):
    * value-based bracketing on floats diverges between engines, while
    * integer epochs, integer grid steps, and integer gaps replay
    * exactly; the interpolation weight is then one exact-integer
    * division and the output flux three IEEE ops on bit-identical
    * inputs — no rounding anywhere. Duplicate epochs within a curve
    * must be pre-collapsed by the caller (the brightest-wins aggregate
    * w9 uses); a grid point landing exactly on a detection emits that
    * detection's flux (the zero-gap guard).
    *
    * Scale shape: detections and grid points union and ride ONE
    * per-curve window sorted by epoch (carry-forward for the previous
    * detection, carry-backward for the next — two frame directions on
    * the same sort). The grid derives from a per-curve min/max
    * aggregate, so its row count is span/step per curve, never a
    * global densification. */
  def interpolateGrid(dedupedSrc: DataFrame, keys: Seq[String],
      timeCol: String, fluxCol: String, step: Long): DataFrame = {
    val k = keys.map(col)
    val grid = dedupedSrc.groupBy(k: _*)
      .agg(min(col(timeCol)).as("_tmin"), max(col(timeCol)).as("_tmax"))
      // ceil/floor by INTEGER division (Spark's `/` on longs is double
      // division — a boundary epoch would flip under float noise);
      // valid for the non-negative epochs this operator contracts
      .select(k :+ explode(sequence(
        expr(s"(_tmin + ${step - 1}) div $step"),
        expr(s"_tmax div $step"))).as("_k"): _*)
      .select(k :+ (col("_k") * step).as("_t") :+ lit(1).as("_isgrid"): _*)
    val dets = dedupedSrc.select(
      k :+ col(timeCol).as("_t") :+ lit(0).as("_isgrid") :+
        col(fluxCol).cast("double").as("_f"): _*)
    val unioned = grid.withColumn("_f", lit(null).cast("double"))
      .unionByName(dets)
    // detections sort BEFORE grid points at equal epochs IN BOTH
    // PASSES, so an exact hit is its own bracket on both sides: the
    // ascending pass orders (_t asc, _isgrid asc); the descending pass
    // must order (_t desc, _isgrid ASC) — a naive full reversal would
    // put the co-located detection AFTER the grid point, dropping grid
    // epochs that land exactly on a curve's last detection and making
    // the zero-gap guard unreachable for mid-curve exact hits
    val wPrev = Window.partitionBy(k: _*)
      .orderBy(col("_t").asc, col("_isgrid").asc)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val wNext = Window.partitionBy(k: _*)
      .orderBy(col("_t").desc, col("_isgrid").asc)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val bracket = unioned
      .withColumn("_tp", last(when(col("_isgrid") === 0, col("_t")),
        ignoreNulls = true).over(wPrev))
      .withColumn("_fp", last(when(col("_isgrid") === 0, col("_f")),
        ignoreNulls = true).over(wPrev))
      .withColumn("_tn", last(when(col("_isgrid") === 0, col("_t")),
        ignoreNulls = true).over(wNext))
      .withColumn("_fn", last(when(col("_isgrid") === 0, col("_f")),
        ignoreNulls = true).over(wNext))
      .filter(col("_isgrid") === 1 &&
        col("_tp").isNotNull && col("_tn").isNotNull)
    bracket.select(
      k :+ col("_t").as(timeCol) :+
        when(col("_tn") === col("_tp"), col("_fp"))
          .otherwise(col("_fp") + (col("_fn") - col("_fp")) *
            ((col("_t") - col("_tp")).cast("double") /
              (col("_tn") - col("_tp")).cast("double")))
          .as("flux_interp") :+
        (col("_tn") - col("_tp")).as("bracket_gap"): _*)
  }

  /** A21 (beyond ref) — Stetson J/K variability indices (Stetson 1996,
    * PASP 108, 851): the error-weighted pair statistic transient
    * classifiers use alongside a18's von Neumann η. Per curve with
    * n ≥ 2: δ_i = √(n/(n−1)) · (f_i − f̄)/σ_i, consecutive-pair
    * products P_i = δ_i·δ_{i+1}, J = Σ sgn(P)·√|P| / n_pairs
    * (normalized), K = (Σ|δ|/n) / √(Σδ²/n). The mean stays UNROUNDED
    * (the a13/a17 rule: rounding a mean creates half-ties; engines'
    * sum-order noise is smooth and sgn(x)·√|x| is continuous at 0, so
    * the 3-dp output rounding absorbs it).
    *
    * Scale shape: one per-curve mean aggregate joins back (broadcast
    * at stats cardinality), δ is a scan-stage projection, pairs ride
    * one per-curve lag window, and J/K are one final map-combined
    * aggregate. `tieCol` must make (timeCol, tieCol) unique per curve
    * so pairing replays on any engine. */
  def stetsonIndices(dedupedSrc: DataFrame, keys: Seq[String],
      timeCol: String, tieCol: String, fluxCol: String,
      errCol: String): DataFrame = {
    val k = keys.map(col)
    val m = dedupedSrc.groupBy(k: _*)
      .agg(count(lit(1)).as("_n"), avg(col(fluxCol)).as("_fbar"))
      .filter(col("_n") >= 2)
    val del = dedupedSrc.join(m, keys)
      .withColumn("_delta",
        sqrt(col("_n").cast("double") / (col("_n") - 1)) *
          (col(fluxCol) - col("_fbar")) / col(errCol))
    val w = Window.partitionBy(k: _*).orderBy(col(timeCol), col(tieCol))
    val paired = del.withColumn("_dprev", lag(col("_delta"), 1).over(w))
    paired.groupBy(k: _*).agg(
      count(lit(1)).as("ndets"),
      sum(when(col("_dprev").isNotNull,
          signum(col("_dprev") * col("_delta")) *
            sqrt(abs(col("_dprev") * col("_delta")))))
        .as("_jsum"),
      sum(when(col("_dprev").isNotNull, 1L).otherwise(0L)).as("_npairs"),
      sum(abs(col("_delta"))).as("_abssum"),
      sum(col("_delta") * col("_delta")).as("_sqsum"))
      .select(k :+ col("ndets") :+
        // + 0.0 pins the sign of zero on the (sign-indefinite) J sum
        // — the graft.queries.Num.rnd0 rule
        (round(col("_jsum") / col("_npairs"), 3) + lit(0.0)).as("stetson_j") :+
        round((col("_abssum") / col("ndets")) /
          sqrt(col("_sqsum") / col("ndets")), 3).as("stetson_k"): _*)
  }

  /** T6 — hot transients: lightcurves of objects with a detection in
    * [mjdNow - lastdays, mjdNow] (src/ltcv.py:1290-1518; default window
    * 30 d). Photometry is cut at mjdNow (P3).
    *
    * Window first: one scan of `diasource` with the window, band and
    * base-procver filters pushed collects the candidate diaobjectids,
    * which then take the request path. A candidate's raw detection may
    * still lose the priority dedup (or a candidate root may hold no
    * in-window detection after it), so a root is kept exactly when one
    * of its *deduped* detections lies in the window. */
  def hotLtcvs(cat: Catalog, procverId: String, mjdNow: Double,
      lastdays: Double = 30.0, bands: Seq[String] = Nil): DataFrame = {
    val candidates = labelled(cat.diasource.sparkSession, "ltcv: hot candidates") {
      hotCandidates(cat, procverId, mjdNow, lastdays, bands)
        .collect().toSeq.map(_.getLong(0)).distinct
    }
    val keys = Keys(resolveIds(cat, procverId, candidates))
    val lastDet = max(col("_detmjd")).over(Window.partitionBy("rootid"))
    keys.gather(patched(
        forced(cat, procverId, Some(mjdNow), bands, Some(keys)),
        sources(cat, procverId, Some(mjdNow), bands, Some(keys))))
      .withColumn("_lastdet", lastDet)
      .filter(col("_lastdet") >= mjdNow - lastdays)
      .drop("_detmjd", "_lastdet")
      .orderBy("rootid", "midpointmjdtai")
  }

  /** diaobjectids of the detections in [[hotLtcvs]]'s window, band and
    * base-procver filters included: a superset of the hot objects. */
  private[graft] def hotCandidates(cat: Catalog, procverId: String, mjdNow: Double,
      lastdays: Double, bands: Seq[String]): DataFrame = {
    val inWindow = cat.diasource.filter(
      col("midpointmjdtai").between(mjdNow - lastdays, mjdNow) &&
        col("base_procver_id").isin(baseProcvers(cat, procverId, "diasource"): _*))
    val banded = if (bands.nonEmpty) inWindow.filter(col("band").isin(bands: _*)) else inWindow
    banded.select(col("diaobjectid").cast("long"))
  }
}
