package graft.layout

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.col

/** Bucketed physical layout — the shuffle-elimination lever for the
  * repeated big⋈big joins a 100 TB warehouse runs every day (the
  * reference leans on PostgreSQL btree clustering for the same access
  * pattern — the keyed bulk lookups across src/services). Writing both
  * join sides bucketed AND bucket-sorted by the join key means every
  * subsequent join co-locates matching keys by FILE, so the sort-merge
  * join reads both sides with NO exchange — the only shuffle left in a
  * typical join+rollup plan is the final group-cardinality aggregate.
  * At 100 TB that turns the daily fact⋈fact join from a full-corpus
  * network shuffle into a local merge. (A partition-local Sort remains
  * in the plan: since SPARK-28113 the scan only advertises bucket-sort
  * order under spark.sql.legacy.bucketedTableScan.outputOrdering,
  * because a bucket spread over several files would need a merge; the
  * sort runs over already-sorted runs and costs no network.)
  *
  * Tables persist as EXTERNAL parquet (the live segment of a
  * [[graft.util.Stage]] artifact, committed by its manifest flip) with
  * bucket metadata in the session catalog; a fresh session re-attaches
  * to the files via CREATE TABLE ... CLUSTERED BY ... LOCATION (bucket
  * info lives in the catalog, not the files — re-registering with the
  * same spec is what makes the layout durable across sessions).
  */
object Bucketing {

  /** Canonical location of a bucketed copy of `table`: a
    * [[graft.util.Stage]] artifact ([[graft.util.Stage.scratchDir]]). */
  def scratchDir(dataset: String, table: String, key: String,
      nBuckets: Int): String =
    graft.util.Stage.scratchDir("bkt", dataset, table, key, nBuckets)

  /** Catalog name bound to the same key as [[scratchDir]]. */
  def tableName(dataset: String, table: String, key: String,
      nBuckets: Int): String =
    graft.util.Stage.scratchKey("bkt", dataset, table, key, nBuckets)

  /** Return `name` as a bucketed table, materializing `df` on first
    * use: write once (bucketBy + sortBy on `key`, one file per bucket
    * via the pre-repartition, so the scan needs no per-bucket merge
    * sort), re-attach on every later session. The files are the live
    * segment of a [[graft.util.Stage]] artifact at `dir`, written
    * through a throwaway catalog name (`saveAsTable` is the only API
    * that writes bucket layout, so this family cannot use
    * [[graft.util.Stage.loadOrBuild]]'s writers); the catalog entry is
    * then always (re)declared over that segment with CREATE TABLE ...
    * CLUSTERED BY ... LOCATION.
    */
  def bucketedTable(spark: SparkSession, name: String, df: => DataFrame,
      key: String, nBuckets: Int, dir: String): DataFrame = {
    if (!spark.catalog.tableExists(name)) {
      val seg = graft.util.Stage.segment(spark, dir) { seg =>
        // unique per build: racing builders on a shared metastore must
        // not drop each other's in-flight entry
        val building = s"${name}_${seg.split('/').last}"
        df.repartition(nBuckets, col(key))
          .write.bucketBy(nBuckets, key).sortBy(key)
          .option("path", seg).saveAsTable(building)
        // external table: dropping the catalog entry keeps the files
        spark.sql(s"DROP TABLE $building")
      }
      // CLUSTERED BY requires an explicit column list, so read the
      // schema back from the parquet footers of the committed files.
      val ddl = spark.read.parquet(seg).schema.toDDL
      spark.sql(
        s"""CREATE TABLE $name ($ddl) USING parquet
           |CLUSTERED BY ($key) SORTED BY ($key) INTO $nBuckets BUCKETS
           |LOCATION '$seg'""".stripMargin)
    }
    spark.table(name)
  }
}
