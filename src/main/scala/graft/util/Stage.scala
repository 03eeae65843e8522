package graft.util

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Paths}

import org.apache.spark.sql.{DataFrame, DataFrameWriter, Row, SparkSession}
import org.apache.spark.sql.types.StructType

/** Lifecycle of the persisted shared artifacts — indexes, cluster
  * tables, fixtures and bucketed table copies that are built once and
  * then probed by every reader. One artifact is a [[SegmentTable]]
  * whose manifest lists one segment:
  *
  *  - Location: [[scratchDir]] keys it by kind, source table, build
  *    parameters and the source table's CONTENT signature, so a
  *    regenerated dataset or a different parameter set gets a fresh
  *    artifact instead of a stale one. Builders racing at one location
  *    therefore always build content-equivalent artifacts.
  *  - Build ([[segment]]): the artifact is written into a fresh
  *    `seg_<uuid>/` together with its `_stamp` (the build parameters),
  *    every job labelled `stage build: <dir name>`, and committed by
  *    the manifest flip, so the parts and the stamp appear together.
  *  - Race: a builder re-reads the manifest before its flip. If another
  *    session committed meanwhile, it deletes its own segment and reads
  *    the winner's. An artifact commit never collects: that would
  *    delete a racing builder's in-flight segment. So when two flips
  *    both pass the re-check, the later one stays listed and a reader
  *    of either segment still reads a whole artifact.
  *  - Load ([[loadOrBuild]]): every named part (`seg_<uuid>/<part>`)
  *    read back with its declared schema, so a load plans without the
  *    footer-inference job a schemaless read fires.
  */
object Stage {
  private def table(dir: String): SegmentTable = {
    val root = Paths.get(dir)
    new SegmentTable(root, s"stage build: ${root.getFileName}")
  }

  /** Is the artifact at `dir` committed (its manifest lists a segment)? */
  def isCommitted(dir: String): Boolean = table(dir).live.nonEmpty

  /** Catalog-safe artifact key: `graft_<kind>_<table>_<params…>_<sig>`
    * where `sig` is the content signature of `dataset`'s `table`. */
  def scratchKey(kind: String, dataset: String, table: String,
      params: Any*): String =
    (Seq("graft", kind, table) ++ params.map(_.toString) :+
      graft.Tables.tableSignature(dataset, table)).mkString("_")

  /** The canonical location of a [[scratchKey]]-keyed artifact. */
  def scratchDir(kind: String, dataset: String, table: String,
      params: Any*): String =
    s"${System.getProperty("java.io.tmpdir")}/${
      scratchKey(kind, dataset, table, params: _*)}"

  /** Write a fresh, unlisted segment of the artifact at `dir` with
    * `write` (given the segment's path) and then its `_stamp`; the name
    * of the segment. A `write` that throws deletes the segment first. */
  private[graft] def stage(spark: SparkSession, dir: String, stamp: String)(
      write: String => Unit): String = {
    val t = table(dir)
    val seg = "seg_" + java.util.UUID.randomUUID().toString.replace("-", "")
    val path = Paths.get(dir, seg)
    try {
      Jobs.labelled(spark, t.label)(write(path.toString))
      Files.createDirectories(path)
      Files.write(path.resolve("_stamp"), stamp.getBytes(UTF_8))
    } catch {
      case e: Throwable => Local.deleteRecursively(path.toString); throw e
    }
    seg
  }

  /** The path of the artifact's live segment, written by `write` and
    * committed first if the artifact is not committed. `write` is never
    * called for a committed artifact. A committed artifact stamped
    * differently — a build at other parameters, e.g. a racing writer at
    * the same explicit dir — is rejected rather than served. */
  def segment(spark: SparkSession, dir: String, stamp: String = "")(
      write: String => Unit): String = {
    val t = table(dir)
    if (t.live.isEmpty) {
      val seg = stage(spark, dir, stamp)(write)
      if (t.live.nonEmpty) Local.deleteRecursively(Paths.get(dir, seg).toString)
      else SegmentTable.Staged(Seq(t -> Seq(seg))).flip(): Unit
    }
    val path = t.paths.head
    val built = new String(Files.readAllBytes(Paths.get(path, "_stamp")), UTF_8)
    require(built == stamp, s"artifact at $dir was built with '$built' " +
      s"but '$stamp' was requested — rebuild it or key the location by it")
    path
  }

  /** What a build hands [[loadOrBuild]]: one writer per declared part,
    * in part order, and the release of whatever the build cached. */
  final case class Built(writers: Seq[DataFrameWriter[Row]],
      release: () => Unit = () => ())

  /** The artifact at `dir` as one frame per part (name, read schema),
    * built by [[segment]] first if it is not committed: `build`'s
    * writers fill the parts in order, then the build's caches are
    * released. `build` is never evaluated for a committed artifact, and
    * the returned frames are schema-declared reads, so a load runs no
    * job. */
  def loadOrBuild(spark: SparkSession, dir: String,
      parts: Seq[(String, StructType)], stamp: String = "")(
      build: => Built): Seq[DataFrame] = {
    val seg = segment(spark, dir, stamp) { seg =>
      val b = build
      require(b.writers.size == parts.size,
        s"${b.writers.size} writers for ${parts.size} parts of $dir")
      try parts.zip(b.writers).foreach { case ((name, _), w) =>
        w.parquet(s"$seg/$name") }
      finally b.release()
    }
    parts.map { case (name, schema) =>
      spark.read.schema(schema).parquet(s"$seg/$name") }
  }
}
