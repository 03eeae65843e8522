package graft.stats

import java.nio.file.Paths
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.query.{Catalog, Ltcv}
import graft.util.SegmentTable

/** Gold summary tables — the replacement for the reference's
  * `objstats_{procver}` / `objstatscomb_{procver}` materialized views
  * (src/ltcv.py:1537-1831) and the pg_parquet lightcurve exporter
  * (src/parquet_export.py:52-137).
  *
  * The reference creates the views with 8 chained subqueries and
  * per-view indexes, refreshed manually; here each is one
  * `groupBy` pass over the deduped detections, kept as a
  * [[SegmentTable]]: a refresh writes each result as one new segment
  * and then flips both manifests, so no reader sees a missing or torn
  * table. Object search (§3.4) is then a predicate-spec filter over the
  * gold table — at 100 TB the search never touches photometry.
  */
object GoldTables {

  private def table(outDir: String, name: String): SegmentTable =
    new SegmentTable(Paths.get(outDir, name), s"gold write: $name")

  /** Build + commit per-band and cross-band objstats for one procver.
    * Joins weighted positions (A7) so cone search works on the gold
    * table alone. */
  def refreshObjStats(cat: Catalog, procverId: String, outDir: String): Unit =
    stageObjStats(cat, procverId, outDir).commit()

  private[graft] def stageObjStats(cat: Catalog, procverId: String,
      outDir: String): SegmentTable.Staged = {
    // persist: the priority dedup over the full photometry is the most
    // expensive aggregation in the system, and without it the two
    // writes would execute it three times (perBand once, comb's
    // objStatsComb + weightedPositions join twice more)
    val src = Ltcv.sources(cat, procverId).persist()
    try SegmentTable.Staged(Seq(
      s"objstats_$procverId" -> Ltcv.objStats(src),
      s"objstatscomb_$procverId" -> Ltcv.objStatsComb(src)
        .join(Ltcv.weightedPositions(src), Seq("rootid"), "left_outer")
    ).map { case (name, df) => val t = table(outDir, name); t -> t.write(df).toSeq })
    finally src.unpersist()
  }

  /** The committed per-band (`band` given) or cross-band objstats. */
  def objStats(spark: SparkSession, outDir: String, procverId: String,
      band: Option[String] = None): DataFrame = {
    val name = if (band.isDefined) s"objstats_$procverId" else s"objstatscomb_$procverId"
    val paths = table(outDir, name).paths
    require(paths.nonEmpty, s"gold table $name under $outDir has no rows")
    val df = spark.read.parquet(paths: _*)
    band.map(b => df.filter(col("band") === b)).getOrElse(df)
  }

  /** S7 — lightcurve parquet export: one row per root object with the
    * photometry as an mjd-ordered array of records
    * (array_agg(record ORDER BY mjd), parquet_export.py:52-93). */
  def exportLtcvs(cat: Catalog, procverId: String, outDir: String,
      whichPhot: String = "patch"): Unit = {
    val ltcv = Ltcv.objectLtcvs(cat, procverId, whichPhot = whichPhot)
    // isdet/ispatch exist only on the patch-join output; the
    // detections-only / forced-only exports carry the constant flags
    // instead of failing analysis. Constants follow patchJoin's pinned
    // semantics (ispatch = "this flux comes from the detection"): a
    // detections export is all detection fluxes (true, true), a forced
    // export is all forced photometry (false, false).
    val (isdet, ispatch) = whichPhot match {
      case "detections" => (lit(true).as("isdet"), lit(true).as("ispatch"))
      case "forced"     => (lit(false).as("isdet"), lit(false).as("ispatch"))
      case _            => (col("isdet"), col("ispatch"))
    }
    ltcv
      .groupBy("rootid")
      .agg(array_sort(collect_list(struct(
        col("midpointmjdtai").as("mjd"), col("band"),
        col("psfflux"), col("psffluxerr"),
        isdet, ispatch))).as("ltcv"),
        count(lit(1)).as("nobs"))
      .write.mode("overwrite").parquet(outDir)
  }
}
