package graft.procver

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Processing-version dimension tables.
  *
  * The defining semantic of the whole system (docs/overview.rst:45-74):
  * a user-facing `processing_version` maps, per table, to a
  * priority-ordered list of `base_processing_version`s; photometric rows
  * carry `base_procver_id`, and queries must keep — for each natural key
  * — the row whose base version has the highest priority under the
  * requested procver.
  */
final case class ProcVerDims(
    baseProcessingVersion: DataFrame,
    processingVersion: DataFrame,
    baseProcverOfProcver: DataFrame,
    processingVersionAlias: DataFrame) {

  /** (base_procver_id, priority) for one (procver, table) — tiny; the
    * queries collect it into literal predicates rather than join it. */
  def priorities(procverId: String, table: String): DataFrame =
    baseProcverOfProcver
      .filter(col("procver_id") === procverId && col("_table") === table)
      .select(col("base_procver_id"), col("priority"))
}

object ProcVer {

  /** Resolve a user-supplied processing-version key to a procver id.
    * Resolution order id → description → alias, mirroring
    * src/db.py:1597-1630. Dimension tables are tiny; driver-side lookup
    * is the right plan (the reference runs one Postgres query per call).
    */
  def resolve(dims: ProcVerDims, key: String): Option[String] = {
    val pv = dims.processingVersion.select("id", "description").collect()
    pv.find(_.getString(0) == key).map(_.getString(0))
      .orElse(pv.find(_.getString(1) == key).map(_.getString(0)))
      .orElse {
        dims.processingVersionAlias
          .filter(col("description") === key)
          .select("procver_id").collect().headOption.map(_.getString(0))
      }
  }

  /** Highest-priority base procver for (procver, table)
    * (src/db.py:1699-1706's ORDER BY priority DESC LIMIT 1). */
  def topBaseProcver(dims: ProcVerDims, procverId: String, table: String): Option[String] =
    dims.priorities(procverId, table)
      .orderBy(desc("priority"))
      .limit(1).collect().headOption.map(_.getString(0))

  /** In-memory fixture constructor for tests and small deployments. */
  def fromRows(spark: SparkSession,
      basePv: Seq[(String, String, String)],          // (id, description, _table)
      pv: Seq[(String, String)],                      // (id, description)
      links: Seq[(String, String, String, Int)],      // (procver_id, base_procver_id, _table, priority)
      aliases: Seq[(String, String)]                  // (description, procver_id)
  ): ProcVerDims = {
    import spark.implicits._
    ProcVerDims(
      basePv.toDF("id", "description", "_table")
        .withColumn("notes", lit(null).cast("string")),
      pv.toDF("id", "description"),
      links.toDF("procver_id", "base_procver_id", "_table", "priority"),
      aliases.toDF("description", "procver_id"))
  }
}
