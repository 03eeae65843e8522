package graft.streaming

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Path, Paths, StandardCopyOption}
import scala.jdk.CollectionConverters._
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StructType
import graft.merge.SourceImporter.{ImportDeltas, ImportResult}
import graft.schema.Schemas
import graft.util.Local

/** Log-structured parquet persistence for the silver catalog.
  *
  * Layout per table: immutable segment directories plus a `_manifest`
  * file listing the live segments, one per line. Readers union the
  * listed segments; writers stage new segments and then flip the
  * manifest with an atomic rename — a crash at ANY point before the
  * flip leaves the previous manifest (and its segments) fully
  * readable, replacing the old delete-then-move swap whose crash
  * window could lose a table outright.
  *
  * Two write paths:
  *  - [[save]]: full rewrite, one fresh segment per table (bulk loads,
  *    compaction). Old segments are garbage-collected after the flip.
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
  * never exposes a torn table. A transactional format (Delta/Iceberg)
  * would collapse this whole file into `MERGE INTO`; the manifest is
  * the minimal stand-in this environment allows.
  */
final class SilverStore(baseDir: String) {

  private def tableDir(name: String): Path = Paths.get(baseDir, name)
  private def manifestPath(name: String): Path = tableDir(name).resolve("_manifest")

  private def liveSegments(name: String): Seq[String] =
    if (Files.exists(manifestPath(name)))
      Files.readAllLines(manifestPath(name), StandardCharsets.UTF_8)
        .asScala.toSeq.filter(_.nonEmpty)
    else Seq.empty

  private def segPaths(name: String): Seq[String] =
    liveSegments(name).map(s => tableDir(name).resolve(s).toString)

  private def emptyOf(spark: SparkSession, schema: StructType): DataFrame =
    spark.createDataFrame(spark.sparkContext.emptyRDD[org.apache.spark.sql.Row], schema)

  private def readRaw(spark: SparkSession, name: String,
      schema: StructType): DataFrame = {
    val paths = segPaths(name)
    if (paths.isEmpty) emptyOf(spark, schema)
    else spark.read.schema(schema).parquet(paths: _*)
  }

  private def withSeq(schema: StructType): StructType =
    StructType(schema.fields :+
      org.apache.spark.sql.types.StructField("_seq", org.apache.spark.sql.types.LongType))

  /** Merge-on-read for a COALESCE table: per key and column, the value
    * from the earliest segment that had it non-null — exactly the
    * fold of mergeCoalesce over the append history (coalesce is
    * associative, so append order reproduces the upsert chain). */
  private def readMor(spark: SparkSession, name: String,
      schema: StructType): DataFrame = {
    val paths = segPaths(name)
    if (paths.isEmpty) return emptyOf(spark, schema)
    val raw = spark.read.schema(withSeq(schema)).parquet(paths: _*)
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
    readRaw(spark, "root_diaobject", Schemas.rootDiaObject),
    readRaw(spark, "diaobject", Schemas.diaObject),
    readRaw(spark, "diasource", Schemas.diaSource),
    readRaw(spark, "diaforcedsource", Schemas.diaForcedSource),
    readRaw(spark, "diaobject_position", Schemas.diaObjectPosition),
    readMor(spark, "diasource_extra", Schemas.diaSourceExtra),
    readMor(spark, "diaforcedsource_extra", Schemas.diaForcedSourceExtra),
    readRaw(spark, "diasource_brokerinfo", Schemas.diaSourceBrokerInfo),
    readRaw(spark, "thumbnails", Schemas.thumbnails))

  // ---- write path ---------------------------------------------------

  private def newSegName(): String =
    s"seg_${java.util.UUID.randomUUID().toString.replace("-", "")}"

  /** Sum of the row counts in the segment's parquet footers — a
    * driver-side metadata read, NO Spark job. The segment was written
    * by this process an instant ago (footers hot in page cache), and
    * the store is NIO/local-FS by design, so scheduling a distributed
    * count here only added one scheduler round-trip per table write —
    * ~18 of them per two-batch streaming import, the dominant fixed
    * cost of a small batch. Falls back to a Spark count if any footer
    * read fails (torn file, concurrent GC). */
  private def footerRowCount(spark: SparkSession, dir: Path): Long = {
    try {
      // the directory listing sits INSIDE the try: a listing failure
      // (racing delete, transient FS error) must take the documented
      // Spark-count fallback, not propagate out of a "jobless" helper
      val files = {
        val s = Files.list(dir)
        try s.iterator().asScala.toSeq
          .filter(_.getFileName.toString.endsWith(".parquet"))
        finally s.close()
      }
      val conf = new org.apache.hadoop.conf.Configuration(false)
      files.map { p =>
        val in = org.apache.parquet.hadoop.util.HadoopInputFile.fromPath(
          new org.apache.hadoop.fs.Path(p.toUri), conf)
        val r = org.apache.parquet.hadoop.ParquetFileReader.open(in)
        try r.getRecordCount finally r.close()
      }.sum
    } catch {
      case scala.util.control.NonFatal(_) =>
        spark.read.parquet(dir.toString).count()
    }
  }

  /** Write `df` as a fresh segment; returns None (and removes the dir)
    * when the frame was empty, so no-op deltas cost nothing in the
    * manifest. The emptiness check reads only parquet footers
    * (driver-side, jobless — see [[footerRowCount]]). */
  private def writeSegment(name: String, df: DataFrame): Option[String] = {
    val seg = newSegName()
    val dir = tableDir(name).resolve(seg)
    // label the write job (guide §1.5): inside foreachBatch every call
    // site collapses to the stream's start(), so without the label a
    // job census cannot attribute the import merge's dominant jobs.
    // setJobDescription is thread-local — stagePar's pool threads each
    // label only their own table's job.
    val sc = df.sparkSession.sparkContext
    sc.setJobDescription(s"silver write: $name")
    try df.write.parquet(dir.toString)
    finally sc.setJobDescription(null)
    val n = footerRowCount(df.sparkSession, dir)
    if (n == 0L) { Local.deleteRecursively(dir.toString); None } else Some(seg)
  }

  /** Staged writes: per table, the manifest contents to commit. */
  private[graft] final case class Staged(entries: Seq[(String, Seq[String])])

  /** Run one staging closure per table CONCURRENTLY on a bounded driver
    * pool, preserving input order. The per-table segment writes are
    * independent Spark jobs on disjoint directories, but running them
    * back-to-back on one driver thread serializes ~9 scheduler
    * round-trips per import batch — the dominant fixed cost of a small
    * batch (the st4 profile: 9 sequential write jobs × 2 micro-batches).
    * Concurrent job submission is exactly what the Spark scheduler
    * exists to arbitrate; the cluster-slot story is unchanged. The
    * manifest flips stay OUTSIDE this helper, sequential and atomic as
    * before. On any failure the first error propagates and no commit
    * happens; segments other threads managed to write are orphans the
    * next successful commit garbage-collects (the same crash story as
    * a mid-stage abort). */
  private def stagePar[A, B](entries: Seq[A])(f: A => B): Seq[B] =
    if (entries.sizeIs <= 1) entries.map(f)
    else {
      val pool = java.util.concurrent.Executors.newFixedThreadPool(
        math.min(entries.size, 8))
      implicit val ec: scala.concurrent.ExecutionContext =
        scala.concurrent.ExecutionContext.fromExecutor(pool)
      try {
        val futs = entries.map(e => scala.concurrent.Future(f(e)))
        scala.concurrent.Await.result(
          scala.concurrent.Future.sequence(futs),
          scala.concurrent.duration.Duration.Inf)
      } finally pool.shutdown()
    }

  /** Atomic manifest flip: write `_manifest.tmp`, then rename over the
    * live manifest. Rename is atomic on POSIX; a crash before it
    * leaves the old manifest intact. */
  private def flipManifest(name: String, segs: Seq[String]): Unit = {
    val tmp = tableDir(name).resolve("_manifest.tmp")
    Files.createDirectories(tableDir(name))
    Files.write(tmp, segs.mkString("\n").getBytes(StandardCharsets.UTF_8))
    Files.move(tmp, manifestPath(name), StandardCopyOption.ATOMIC_MOVE,
      StandardCopyOption.REPLACE_EXISTING)
  }

  private[graft] def commit(staged: Staged): Unit = {
    staged.entries.foreach { case (name, segs) => flipManifest(name, segs) }
    // GC: segments no longer referenced are garbage (orphans from
    // crashed stages are collected by the next successful commit).
    // Only `seg_*` dirs and the manifest tmp are ever deleted.
    staged.entries.foreach { case (name, segs) =>
      val live = segs.toSet
      if (Files.exists(tableDir(name))) {
        val s = Files.list(tableDir(name))
        val garbage =
          try s.iterator().asScala.toSeq.filter { p =>
            val n = p.getFileName.toString
            (n.startsWith("seg_") || n == "_manifest.tmp") && !live.contains(n)
          }
          finally s.close()
        garbage.foreach(p => Local.deleteRecursively(p.toString))
      }
    }
  }

  /** Full rewrite of every table (bulk load / compaction path). */
  private[graft] def stageFull(r: ImportResult): Staged = {
    val morSeq = Map[String, DataFrame](
      "diasource_extra" -> r.diasourceExtra,
      "diaforcedsource_extra" -> r.diaforcedsourceExtra)
    val work = Seq(
      "root_diaobject" -> r.rootDiaobject, "diaobject" -> r.diaobject,
      "diasource" -> r.diasource, "diaforcedsource" -> r.diaforcedsource,
      "diaobject_position" -> r.diaobjectPosition,
      "diasource_brokerinfo" -> r.brokerinfo, "thumbnails" -> r.thumbnails) ++
      morSeq.toSeq.map { case (name, df) =>
        name -> df.withColumn("_seq", lit(0L))
      }
    Staged(stagePar(work) { case (name, df) =>
      name -> writeSegment(name, df).toSeq
    })
  }

  def save(r: ImportResult): Unit = commit(stageFull(r))

  /** Append one importer batch: O(delta) I/O. Insert-only tables gain
    * a segment holding exactly their new rows; COALESCE tables append
    * their staged docs with the next `_seq` (merge-on-read recovers
    * upsert semantics); untouched tables' manifests are not flipped. */
  def saveDelta(d: ImportDeltas): Unit = {
    val appends = Seq(
      "root_diaobject" -> d.rootDiaobject, "diaobject" -> d.diaobject,
      "diasource" -> d.diasource, "diaforcedsource" -> d.diaforcedsource,
      "diaobject_position" -> d.diaobjectPosition,
      "diasource_brokerinfo" -> d.brokerinfo, "thumbnails" -> d.thumbnails)
    val morAppends = Seq(
      "diasource_extra" -> d.diasourceExtra,
      "diaforcedsource_extra" -> d.diaforcedsourceExtra)
      .collect { case (name, Some(df)) =>
        val seq = liveSegments(name).size.toLong + 1L
        // a UDF's result, not a literal: a literal is inlined into the
        // generated class, so each batch would compile the table's
        // write stage anew; the UDF is a reference the class reads
        name -> df.withColumn("_seq", udf(() => seq).apply())
      }
    val staged = Staged(stagePar(appends ++ morAppends) { case (name, df) =>
      writeSegment(name, df).map(seg => name -> (liveSegments(name) :+ seg))
    }.flatten)
    commit(staged)
  }

  /** Rewrite every table to a single segment (and collapse the
    * merge-on-read history). Run periodically — segment count, not
    * correctness, is the only thing that degrades without it. */
  def compact(spark: SparkSession): Unit = save(load(spark))
}
