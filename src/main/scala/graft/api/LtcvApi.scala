package graft.api

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.query.{Catalog, Ltcv}

/** The lightcurve web-API surface (src/webserver/ltcvapp.py:340-364,
  * server.py:298-311) as library calls. JSON/NaN-stripping serialization
  * is the HTTP layer's concern; these return DataFrames.
  */
object LtcvApi {

  /** GET /ltcv/getltcv — §3.1. `objids` may be diaobjectids (ints) or
    * rootids (uuid strings), exactly like the reference's id sniffing
    * (ltcvapp.py:19-94). */
  def getLtcvs(cat: Catalog, procver: String,
      diaobjectids: Seq[Long] = Nil, rootids: Seq[String] = Nil,
      mjdNow: Option[Double] = None, bands: Seq[String] = Nil,
      whichPhot: String = "patch"): DataFrame =
    Ltcv.objectLtcvs(cat, procver, diaobjectids, rootids, mjdNow, bands, whichPhot)

  /** Per-rootid object info: member diaobjectids + best position
    * (get_object_infos, src/ltcv.py:38-291 — DISTINCT ON + position
    * LEFT JOIN collapsed into one pass). Position: highest-priority
    * diaobject_position row per diaobjectid, then the first per rootid
    * preferring non-null positions (the reference's DISTINCT ON
    * arbitrariness made deterministic).
    *
    * `useWeightedSourcePositions` (src/ltcv.py:826-878): roots whose
    * position is still null after the diaobject_position lookup get the
    * (S/N)²-weighted mean of their detections' positions
    * ([[Ltcv.weightedPositions]], S/N > 3).
    * `alwaysUseWeightedSourcePositions` ignores diaobject_position
    * entirely, exactly like the reference flag.
    *
    * Each source of facts (members, stored positions, weighted
    * positions, hosts) is a rootid-keyed frame over the same
    * [[Ltcv.Scope]]; they union into one per-root aggregate, so there
    * is no join, and a requested call runs in one partition after each
    * scan's pushed `diaobjectid IN (…)`. */
  def getObjectInfos(cat: Catalog, procverId: String,
      diaobjectids: Seq[Long] = Nil, rootids: Seq[String] = Nil,
      useWeightedSourcePositions: Boolean = false,
      alwaysUseWeightedSourcePositions: Boolean = false,
      includeHostinfo: Boolean = false): DataFrame = {
    // no ids requested = ALL objects, the same convention getLtcvs uses
    val scope = Ltcv.scope(cat, procverId, diaobjectids, rootids)
    val prios = cat.dims.priorities(procverId, "diaobject")
    val weighted = useWeightedSourcePositions || alwaysUseWeightedSourcePositions
    val members = scope.members(cat.diaobject.sparkSession)
      .select(col("rootid"), col("diaobjectid").cast("long").as("_member"))
    // per member the highest-priority stored row (tiebreak on
    // base_procver_id so equal-priority versions resolve
    // deterministically), then per root non-null first, smallest id
    val stored =
      if (alwaysUseWeightedSourcePositions) Nil
      else Seq(Ltcv.priorityDedup(
          scope.tag(cat.diaobjectPosition.select("diaobjectid", "base_procver_id", "ra", "dec")),
          prios, keys = Seq("rootid", "diaobjectid"), tiebreaks = Seq("base_procver_id"))
        .select(col("rootid"), struct(col("ra"), col("dec")).as("_pos"),
          struct(col("ra").isNull, col("diaobjectid")).as("_pord")))
    // weighted positions come from the *same rootids'* deduped detections
    val wp =
      if (!weighted) Nil
      else Seq(Ltcv.weightedPositions(Ltcv.sources(cat, procverId, scope = Some(scope)))
        .select(col("rootid"), struct(col("ra"), col("dec"), col("rastd"),
          col("decstd"), col("ra_dec_cov")).as("_w")))
    val hosts = (cat.hostGalaxy, cat.diaobjectHostMatch) match {
      case (Some(h), Some(matches)) if includeHostinfo =>
        // ltcvapp's include_hostinfo: the best (lowest-prio) host per
        // root. Matches are diaobjectid-keyed and span base procvers —
        // restrict to versions under the REQUESTED procver first, like
        // every other path in this call (an experimental version's
        // match must not win the argmax) — then lift to rootid and
        // argmax once more; both argmaxes are partial-aggregating
        // min_by, no window sort.
        val inProcver = matches.filter(col("base_procver_id")
          .isin(Ltcv.baseProcvers(cat, procverId, "diaobject"): _*))
        Seq(scope.tag(graft.host.HostGalaxy.bestHost(inProcver, h))
          .select(col("rootid"), struct(col("host_id"), col("prio"), col("host_ra"),
            col("host_dec"), col("info")).as("_h"),
            struct(col("prio"), col("host_galaxy_id")).as("_hord")))
      // a catalog without a host import returns infos unchanged — the
      // reference errors instead, but absent tables here are a typed
      // None, not a broken deployment
      case _ => Nil
    }
    val facts = (Seq(members) ++ stored ++ wp ++ hosts)
      .reduce(_.unionByName(_, allowMissingColumns = true))
    val aggs = Seq(sort_array(collect_list(col("_member"))).as("diaobjectids")) ++
      stored.map(_ => min_by(col("_pos"), col("_pord")).as("_pos")) ++
      wp.map(_ => max(col("_w")).as("_w")) ++
      hosts.map(_ => min_by(col("_h"), col("_hord")).as("_h"))
    val perRoot = scope.gather(facts).groupBy("rootid").agg(aggs.head, aggs.tail: _*)
    val nullPos = lit(null).cast("double")
    val (ra, dec) =
      if (stored.isEmpty) (nullPos, nullPos) else (col("_pos.ra"), col("_pos.dec"))
    // uncertainty columns exist only on the weighted path (the
    // reference's objinfo carries raerr/decerr/ra_dec_cov alongside
    // ra/dec); rows whose position came from diaobject_position keep
    // them null rather than mixing estimators
    val position =
      if (!weighted) Seq(ra.as("ra"), dec.as("dec"))
      else Seq(coalesce(ra, col("_w.ra")).as("ra"), coalesce(dec, col("_w.dec")).as("dec"),
        when(ra.isNull, col("_w.rastd")).as("rastd"),
        when(ra.isNull, col("_w.decstd")).as("decstd"),
        when(ra.isNull, col("_w.ra_dec_cov")).as("ra_dec_cov"))
    val host = hosts.flatMap(_ => Seq(col("_h.host_id").as("hostgal_id"),
      col("_h.prio").as("hostgal_prio"), col("_h.host_ra").as("hostgal_ra"),
      col("_h.host_dec").as("hostgal_dec"), col("_h.info").as("hostgal_info")))
    perRoot.select(Seq(col("rootid"), col("diaobjectids")) ++ position ++ host: _*)
  }

  /** GET a random object (ltcvapp.py:133-145's ORDER BY random()
    * LIMIT 1), seedable for reproducibility. */
  def randomObject(cat: Catalog, procverId: String, seed: Long = -1L): String = {
    val m = Ltcv.objMap(cat, procverId).select("rootid").distinct()
    val shuffled = if (seed >= 0) m.orderBy(rand(seed)) else m.orderBy(rand())
    shuffled.limit(1).collect().headOption
      .getOrElse(throw new NoSuchElementException(
        s"no objects under processing version '$procverId'"))
      .getString(0)
  }

  /** A5 — exact count and optimizer-estimated count of the deduped
    * detections under a procver (server.py:120-203; the estimate path
    * reads plan statistics instead of EXPLAIN json). */
  def countSources(cat: Catalog, procverId: String): (Long, BigInt) = {
    val src = Ltcv.sources(cat, procverId)
    val est = src.queryExecution.optimizedPlan.stats.rowCount
      .getOrElse(BigInt(-1))
    (src.count(), est)
  }
}
