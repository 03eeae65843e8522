package graft.streaming

import java.nio.file.Paths
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StructType
import graft.merge.SourceImporter.{ImportDeltas, ImportResult}
import graft.schema.Schemas
import graft.util.{Jobs, SegmentTable}
import graft.util.SegmentTable.Staged

/** Log-structured parquet persistence for the silver catalog, one
  * [[SegmentTable]] per table: it commits through the same segment +
  * manifest flip as every other table the chain mutates. A commit keeps
  * the generation it replaced, so a frame opened before a [[compact]]
  * still reads its snapshot after it (one commit of GC lag).
  *
  * Two write paths:
  *  - [[save]]: full rewrite, one fresh segment per table (bulk loads,
  *    compaction).
  *  - [[saveDelta]]: appends each insert-only table's batch delta as a
  *    new segment — per-batch I/O is O(delta rows), not O(catalog),
  *    which is what keeps continuous ingest viable when the catalog is
  *    many TB. The *_extra COALESCE tables append too, and [[load]]
  *    merges them on read (earliest non-null per column wins, ordered
  *    by the segment sequence number stamped at write) — the standard
  *    merge-on-read tradeoff, amortized by [[compact]].
  *
  * Cross-table consistency: all segments are written before any
  * manifest flips, so a crash mid-flip can mix per-table versions but
  * never exposes a torn table. The per-table segment writes are
  * independent jobs submitted at once ([[Jobs.par]]); if one fails no
  * manifest flips, and the segments the others wrote are orphans the
  * next commit collects. A transactional format (Delta/Iceberg)
  * would collapse this whole file into `MERGE INTO`; the manifest is
  * the minimal stand-in this environment allows.
  */
final class SilverStore(baseDir: String) {

  // the label prefix is what a job census classifies silver writes by
  private def table(name: String): SegmentTable =
    new SegmentTable(Paths.get(baseDir, name), s"silver write: $name")

  private def withSeq(schema: StructType): StructType =
    StructType(schema.fields :+
      org.apache.spark.sql.types.StructField("_seq", org.apache.spark.sql.types.LongType))

  /** Merge-on-read for a COALESCE table: per key and column, the value
    * from the earliest segment that had it non-null — exactly the
    * fold of mergeCoalesce over the append history (coalesce is
    * associative, so append order reproduces the upsert chain). */
  private def readMor(spark: SparkSession, name: String,
      schema: StructType): DataFrame = {
    val t = table(name)
    val segs = t.live
    if (segs.isEmpty) return t.read(spark, schema, segs)
    val raw = t.read(spark, withSeq(schema), segs)
    val keys = Seq(schema.fields.head.name, "base_procver_id")
    val payload = schema.fieldNames.toSeq.filterNot(keys.contains)
    val seq = col("_seq")
    raw.groupBy(keys.map(col): _*)
      .agg(min_by(col(payload.head), when(col(payload.head).isNotNull, seq)).as(payload.head),
        payload.tail.map(c =>
          min_by(col(c), when(col(c).isNotNull, seq)).as(c)): _*)
      .select(schema.fieldNames.toSeq.map(col): _*)
  }

  def load(spark: SparkSession): ImportResult = ImportResult(
    table("root_diaobject").read(spark, Schemas.rootDiaObject),
    table("diaobject").read(spark, Schemas.diaObject),
    table("diasource").read(spark, Schemas.diaSource),
    table("diaforcedsource").read(spark, Schemas.diaForcedSource),
    table("diaobject_position").read(spark, Schemas.diaObjectPosition),
    readMor(spark, "diasource_extra", Schemas.diaSourceExtra),
    readMor(spark, "diaforcedsource_extra", Schemas.diaForcedSourceExtra),
    table("diasource_brokerinfo").read(spark, Schemas.diaSourceBrokerInfo),
    table("thumbnails").read(spark, Schemas.thumbnails))

  // ---- write path ---------------------------------------------------

  /** Full rewrite of every table (bulk load / compaction path). */
  private[graft] def stageFull(r: ImportResult): Staged = {
    val work = Seq(
      "root_diaobject" -> r.rootDiaobject, "diaobject" -> r.diaobject,
      "diasource" -> r.diasource, "diaforcedsource" -> r.diaforcedsource,
      "diaobject_position" -> r.diaobjectPosition,
      "diasource_brokerinfo" -> r.brokerinfo, "thumbnails" -> r.thumbnails) ++
      Seq("diasource_extra" -> r.diasourceExtra,
        "diaforcedsource_extra" -> r.diaforcedsourceExtra)
        .map { case (name, df) => name -> df.withColumn("_seq", lit(0L)) }
    Staged(Jobs.par(work.map { case (name, df) => () =>
      val t = table(name)
      t -> t.write(df).toSeq
    }))
  }

  def save(r: ImportResult): Unit = stageFull(r).commit()

  /** Append one importer batch: O(delta) I/O. Insert-only tables gain
    * a segment holding exactly their new rows; COALESCE tables append
    * their staged docs with the next `_seq` (merge-on-read recovers
    * upsert semantics); untouched tables' manifests are not flipped. */
  def saveDelta(d: ImportDeltas): Unit = stageDelta(d).commit()

  private[graft] def stageDelta(d: ImportDeltas): Staged = {
    val appends = Seq(
      "root_diaobject" -> d.rootDiaobject, "diaobject" -> d.diaobject,
      "diasource" -> d.diasource, "diaforcedsource" -> d.diaforcedsource,
      "diaobject_position" -> d.diaobjectPosition,
      "diasource_brokerinfo" -> d.brokerinfo, "thumbnails" -> d.thumbnails)
    val morAppends = Seq(
      "diasource_extra" -> d.diasourceExtra,
      "diaforcedsource_extra" -> d.diaforcedsourceExtra)
      .collect { case (name, Some(df)) =>
        val seq = table(name).live.size.toLong + 1L
        // a UDF's result, not a literal: a literal is inlined into the
        // generated class, so each batch would compile the table's
        // write stage anew; the UDF is a reference the class reads
        name -> df.withColumn("_seq", udf(() => seq).apply())
      }
    Staged(Jobs.par((appends ++ morAppends).map { case (name, df) => () =>
      val t = table(name)
      t.write(df).map(seg => t -> (t.live :+ seg))
    }).flatten)
  }

  /** Rewrite every table to a single segment (and collapse the
    * merge-on-read history). Run periodically — segment count, not
    * correctness, is the only thing that degrades without it. */
  def compact(spark: SparkSession): Unit = save(load(spark))
}
