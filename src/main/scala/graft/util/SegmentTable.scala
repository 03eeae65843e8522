package graft.util

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Path, StandardCopyOption}
import scala.jdk.CollectionConverters._
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.types.StructType

/** One mutable table of the chain: a directory of immutable `seg_*`
  * parquet segments plus a `_manifest` listing the live ones, one name
  * per line. A writer writes new segments, then flips the manifest by
  * atomic rename, so a crash leaves either the old or the new manifest
  * readable, never a torn table. It is the one commit protocol for
  * every table the chain mutates: silver, gold, the rollup and the
  * streamed near-dup and vector state (build-once artifacts go through
  * [[Stage.publish]]).
  *
  * A commit deletes the `seg_*` directories that neither the new
  * manifest nor the one it replaced lists: a frame opened before a
  * commit still reads its snapshot whole after it (one commit of GC
  * lag), and crash orphans, which no manifest lists, go at the next
  * commit. One writer per table; `label` describes its write jobs. */
final class SegmentTable(dir: Path, val label: String) {
  private def manifest: Path = dir.resolve("_manifest")

  /** The live segment names, in commit order. */
  def live: Seq[String] =
    if (Files.exists(manifest))
      Files.readAllLines(manifest, StandardCharsets.UTF_8).asScala.toSeq.filter(_.nonEmpty)
    else Seq.empty

  def paths: Seq[String] = live.map(s => dir.resolve(s).toString)

  /** The segments `segs` (all live ones by default) read with the
    * declared `schema` (no footer-inference job); a typed empty frame
    * when there are none. */
  def read(spark: SparkSession, schema: StructType,
      segs: Seq[String] = live): DataFrame =
    if (segs.isEmpty) spark.createDataFrame(spark.sparkContext.emptyRDD[Row], schema)
    else spark.read.schema(schema).parquet(segs.map(s => dir.resolve(s).toString): _*)

  /** Write `df` as a fresh segment, its jobs labelled, named
    * `seg_<tag>_<uuid>` when tagged (a writer that must find its own
    * segments again, such as a replayed batch, tags them); None (and
    * the directory removed) when the frame was empty, so a no-op write
    * costs nothing in the manifest. */
  def write(df: DataFrame, tag: Option[String] = None): Option[String] = {
    val seg = s"seg_${tag.fold("")(_ + "_")}" +
      java.util.UUID.randomUUID().toString.replace("-", "")
    val segDir = dir.resolve(seg)
    Jobs.labelled(df.sparkSession, label)(df.write.parquet(segDir.toString))
    if (footerRowCount(df.sparkSession, segDir) == 0L) {
      Local.deleteRecursively(segDir.toString); None
    } else Some(seg)
  }

  /** Sum of the row counts in the segment's parquet footers — a
    * driver-side metadata read, NO Spark job: a distributed count cost
    * one scheduler round-trip per table write, the dominant fixed cost
    * of a small batch. Any failure, the listing's included, falls back
    * to a Spark count. */
  private def footerRowCount(spark: SparkSession, segDir: Path): Long = {
    try {
      val s = Files.list(segDir)
      val files = try s.iterator().asScala.toSeq
        .filter(_.getFileName.toString.endsWith(".parquet")) finally s.close()
      val conf = new org.apache.hadoop.conf.Configuration(false)
      files.map { p =>
        val in = org.apache.parquet.hadoop.util.HadoopInputFile.fromPath(
          new org.apache.hadoop.fs.Path(p.toUri), conf)
        val r = org.apache.parquet.hadoop.ParquetFileReader.open(in)
        try r.getRecordCount finally r.close()
      }.sum
    } catch {
      case scala.util.control.NonFatal(_) =>
        Jobs.labelled(spark, label)(spark.read.parquet(segDir.toString).count())
    }
  }

  /** Atomic manifest flip: write `_manifest.tmp`, then rename over the
    * live manifest (atomic on POSIX). Returns the segments it replaced. */
  private[util] def flip(segs: Seq[String]): Seq[String] = {
    val replaced = live
    val tmp = dir.resolve("_manifest.tmp")
    Files.createDirectories(dir)
    Files.write(tmp, segs.mkString("\n").getBytes(StandardCharsets.UTF_8))
    Files.move(tmp, manifest, StandardCopyOption.ATOMIC_MOVE,
      StandardCopyOption.REPLACE_EXISTING)
    replaced
  }

  /** Delete every `seg_*` directory (and the manifest's tmp) not in `keep`. */
  private[util] def collect(keep: Set[String]): Unit =
    if (Files.exists(dir)) {
      val s = Files.list(dir)
      val garbage =
        try s.iterator().asScala.toSeq.filter { p =>
          val n = p.getFileName.toString
          (n.startsWith("seg_") || n == "_manifest.tmp") && !keep.contains(n)
        }
        finally s.close()
      garbage.foreach(p => Local.deleteRecursively(p.toString))
    }
}

object SegmentTable {
  /** The tag a segment was written with, if any. */
  def tagOf(seg: String): Option[String] = {
    val body = seg.stripPrefix("seg_")
    Some(body.lastIndexOf('_')).filter(_ > 0).map(body.take)
  }

  /** Written segments awaiting their commit: each table's manifest-to-be. */
  final case class Staged(entries: Seq[(SegmentTable, Seq[String])]) {
    /** Flip every manifest, then collect each table's garbage: every
      * segment is written before any manifest flips, so a crash between
      * flips can mix per-table versions but never exposes a torn table. */
    def commit(): Unit = flip().foreach { case (t, keep) => t.collect(keep) }

    /** The flips alone (a test stops here): each table with the
      * segments its GC keeps. */
    private[graft] def flip(): Seq[(SegmentTable, Set[String])] =
      entries.map { case (t, segs) => t -> (segs ++ t.flip(segs)).toSet }
  }
}
