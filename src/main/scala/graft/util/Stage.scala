package graft.util

import java.nio.charset.StandardCharsets.UTF_8

import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.{DataFrame, DataFrameWriter, Row, SparkSession}
import org.apache.spark.sql.types.StructType

/** Lifecycle of the persisted shared artifacts — indexes, cluster
  * tables, fixtures and bucketed table copies that are built once and
  * then probed by every reader. One artifact is a directory:
  *
  *  - Location: [[scratchDir]] keys it by kind, source table, build
  *    parameters and the source table's CONTENT signature, so a
  *    regenerated dataset or a different parameter set gets a fresh
  *    artifact instead of a stale one. Readers racing at one location
  *    therefore always race to publish content-equivalent artifacts.
  *  - Build ([[loadOrBuild]]): named parts written in order under a
  *    session-unique staging dir, then a root `_SUCCESS` written LAST
  *    (optionally stamped with the build parameters), then the build's
  *    caches released, then [[publish]]ed by one rename.
  *  - Load: every part read back with its declared schema, so a load
  *    plans without the footer-inference job a schemaless read fires.
  *
  * All probes go through the Hadoop `FileSystem`, so the same code
  * works on HDFS/S3/GCS paths, not just `file:` (a `java.io.File`
  * probe silently returns false on any remote filesystem and every
  * session rebuilds).
  *
  * Concurrency contract: `FileSystem.rename` is atomic on HDFS (and
  * real-filesystem schemes like file:), so when two sessions race to
  * build the same artifact, exactly one rename lands; the loser
  * detects the existing destination, discards its staging dir, and
  * reads the winner's files. On OBJECT stores (S3A, GCS) a directory
  * rename is a client-side copy loop, not atomic — there the marker
  * check still gates readers correctly only because the marker file
  * is the artifact's LAST write inside the staging tree and copies
  * preserve per-file completeness; a deployment that needs hard
  * atomicity on S3 should point `dir` at an HDFS/consistent namespace
  * or use a manifest committer.
  */
object Stage {
  def fs(spark: SparkSession, dir: String): FileSystem =
    new Path(dir).getFileSystem(spark.sessionState.newHadoopConf())

  /** Is the artifact at `dir` committed (root `_SUCCESS` present)? */
  def isCommitted(spark: SparkSession, dir: String): Boolean =
    fs(spark, dir).exists(new Path(dir, "_SUCCESS"))

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

  /** Session-unique staging location next to the destination (same
    * filesystem — a cross-FS rename is a copy, not atomic). */
  def stagingDir(spark: SparkSession, dir: String): String =
    s"$dir.staging-${spark.sparkContext.applicationId}"

  /** What a build hands [[loadOrBuild]]: one writer per declared part,
    * in part order, and the release of whatever the build cached. */
  final case class Built(writers: Seq[DataFrameWriter[Row]],
      release: () => Unit = () => ())

  /** The artifact at `dir`, built first if it is not committed: the
    * parts (name, read schema) are written in order from `build`'s
    * writers, the root `_SUCCESS` (holding `stamp`) last, and the
    * build's caches are released before publishing. `build` is never
    * evaluated for a committed artifact, and the returned frames (in
    * part order) are schema-declared reads, so a load runs no job. A
    * committed artifact stamped differently — a build at other
    * parameters, e.g. a racing writer at the same explicit dir — is
    * rejected rather than served. */
  def loadOrBuild(spark: SparkSession, dir: String,
      parts: Seq[(String, StructType)], stamp: String = "")(
      build: => Built): Seq[DataFrame] = {
    val f = fs(spark, dir)
    val marker = new Path(dir, "_SUCCESS")
    if (!f.exists(marker)) publish(spark, dir) { staging =>
      val b = build
      require(b.writers.size == parts.size,
        s"${b.writers.size} writers for ${parts.size} parts of $dir")
      try parts.zip(b.writers).foreach { case ((name, _), w) =>
        w.parquet(s"$staging/$name") }
      finally b.release()
      val out = f.create(new Path(staging, "_SUCCESS"))
      try out.write(stamp.getBytes(UTF_8)) finally out.close()
    }
    val in = f.open(marker)
    val built = try new String(in.readAllBytes(), UTF_8) finally in.close()
    require(built == stamp, s"artifact at $dir was built with '$built' " +
      s"but '$stamp' was requested — rebuild it or key the location by it")
    parts.map { case (name, schema) =>
      spark.read.schema(schema).parquet(s"$dir/$name") }
  }

  /** Build into `staging` via `write`, then atomically publish it at
    * `dir`. Returns true if this session's artifact landed, false if
    * a concurrent writer already published (staging is discarded; the
    * winner's artifact is content-equivalent, since locations are
    * keyed by source-content signature + parameters). `write` must
    * leave the root `_SUCCESS` as its last write. An existing
    * UNCOMMITTED destination (no marker — a crashed writer's debris,
    * or a pre-created empty dir) is replaced. The racy interleaving
    * where a winner commits between the debris delete and the rename
    * is detected POST-rename (see the in-body comment on HDFS's
    * rename-into-existing-dir semantics) rather than assumed away. */
  def publish(spark: SparkSession, dir: String)(write: String => Unit): Boolean = {
    val f = fs(spark, dir)
    val staging = stagingDir(spark, dir)
    val stagingPath = new Path(staging)
    f.delete(stagingPath, true) // leftover from a crashed prior run
    write(staging)
    val dst = new Path(dir)
    def committed = f.exists(new Path(dst, "_SUCCESS"))
    if (committed) {
      f.delete(stagingPath, true)
      false
    } else {
      // Replace uncommitted debris (a crashed writer's half-written
      // dir), then rename. HDFS hazard: if a concurrent winner commits
      // BETWEEN the delete and the rename, HDFS's rename-onto-an-
      // existing-directory does not fail — it moves the staging dir
      // INSIDE dst and returns true, nesting a '*.staging-*' subtree
      // into the committed artifact (which would pollute partition
      // discovery for every later reader). So a true return is not
      // trusted by itself: verify no nested staging entry landed under
      // dst (the staging name is session-unique, so the check is
      // unambiguous) and that the marker is present at the expected
      // relative path. Local-FS renames onto a non-empty dst simply
      // fail, which the committed-recheck branch below handles.
      //
      // Narrow re-check IMMEDIATELY before the destructive delete: a
      // winner that committed between the initial marker check and
      // here would otherwise have its fully committed artifact
      // removed — only safe under the content-equivalence convention,
      // which publish cannot enforce for caller-chosen explicit dirs
      // (e.g. two IvfAnn writers with different nlist at one dir; the
      // stamp would catch the damage only at load time). The re-check
      // is a single metadata probe and composes with the post-rename
      // nested-staging verification below.
      if (committed) {
        f.delete(stagingPath, true)
        false
      } else {
        f.delete(dst, true)
        if (f.rename(stagingPath, dst)) {
          val nested = new Path(dst, stagingPath.getName)
          if (f.exists(nested)) {
            // lost the race on HDFS semantics: un-nest our debris and
            // defer to the winner's (content-equivalent) artifact
            f.delete(nested, true)
            false
          } else if (committed) true
          else throw new java.io.IOException(
            s"publish to $dir renamed but marker _SUCCESS is absent — " +
              "the write callback did not produce the marker as its last write")
        }
        else if (committed) {
          // rename lost to a concurrent winner that landed in the gap
          f.delete(stagingPath, true)
          false
        } else {
          // rename failed with NO winner present: a real IO problem.
          // Keep staging for post-mortem and fail loudly — silently
          // returning would leave isCommitted-gated readers pointing at
          // a nonexistent artifact.
          throw new java.io.IOException(
            s"rename $staging -> $dir failed and no committed artifact exists")
        }
      }
    }
  }
}
