package graft

import java.nio.file.{Files, Path, Paths}
import scala.jdk.CollectionConverters._
import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.TimestampType
import graft.merge.{RollupStore, SourceImporter}
import graft.merge.SourceImporter.ImportDeltas
import graft.query.Ltcv
import graft.stats.GoldTables
import graft.pipeline.PqAnn
import graft.streaming.{AlertStream, NearDupStream, SilverStore, VectorIngest}
import graft.util.{SegmentTable, Stage}

/** Crash consistency of the chain's one commit protocol
  * ([[SegmentTable]]): for each owner of a mutable table — a silver
  * `saveDelta`, a gold refresh, a rollup fold, a streamed near-dup
  * batch, a streamed vector batch — a failure is injected mid-segment
  * write (a UDF that throws on one row), after staging and before the
  * manifest flip, and after the flip before garbage collection; for
  * owners of more than one table also between two tables' flips. After
  * the recovery the tables' contents equal those of an uninterrupted
  * run, and no `seg_*` directory is left that neither the live manifest
  * nor the one it replaced lists. A build-once artifact ([[Stage]])
  * commits through the same flip: a build that throws mid-part, a crash
  * after its parts are written and one after its flip each recover to
  * an uninterrupted build with one listed segment, and a build that
  * loses a race reads the winner's rows. */
class FaultSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  /** `df` with a filter that throws when it meets `key` in `keyCol`,
    * failing the job that writes it part-way. */
  private def failOn(df: DataFrame, keyCol: String, key: Long): DataFrame =
    df.filter(udf { (k: Long) =>
      if (k == key) throw new IllegalStateException(s"injected fault at $keyCol=$key")
      true
    }.apply(col(keyCol)))

  private def maxOf(df: DataFrame, c: String): Long = df.agg(max(col(c))).head().getLong(0)

  /** Sorted rows, ingest stamps dropped (they differ between runs). */
  private def rows(df: DataFrame): Seq[String] =
    df.drop(df.schema.fields.filter(_.dataType == TimestampType).map(_.name).toSeq: _*)
      .collect().map(_.toSeq.map {
        case b: Array[Byte] => b.mkString("0x", ",", "")
        case a: scala.collection.Seq[_] => a.map(String.valueOf).sorted.mkString("[", ",", "]")
        case v => String.valueOf(v)
      }.mkString("|")).toSeq.sorted

  private def segDirs(t: Path): Set[String] =
    if (!Files.exists(t)) Set.empty
    else {
      val s = Files.list(t)
      try s.iterator().asScala.map(_.getFileName.toString).filter(_.startsWith("seg_")).toSet
      finally s.close()
    }
  private def live(t: Path): Set[String] = new SegmentTable(t, "").live.toSet

  /** One owner of mutable tables: the commit before the faulted one,
    * the faulted commit run whole, the same commit with one row that
    * throws, its staging half, and its recovery once the crash came
    * after the flip. */
  private trait Owner {
    def tables(root: String): Seq[Path]
    def prior(root: String): Unit
    def commit(root: String): Unit
    def failing(root: String): Unit
    def stage(root: String): SegmentTable.Staged
    def recoverCommitted(root: String): Unit
    def contents(root: String): Seq[Seq[String]]
  }

  private object Silver extends Owner {
    private val names = Seq("root_diaobject", "diaobject", "diasource",
      "diaforcedsource", "diaobject_position", "diasource_extra",
      "diaforcedsource_extra", "diasource_brokerinfo", "thumbnails")
    def tables(root: String) = names.map(Paths.get(root, _))
    private def deltas(root: String, ids: Seq[Long], obj: Long): ImportDeltas = {
      val w = AlertStream.wrangle(AlertFixture.alerts(spark, ids, obj, 42.0, 13.0), "bpv-f")
      SourceImporter.importBatchWithDeltas(new SilverStore(root).load(spark),
        w.objects, w.sources, w.forced,
        stagedSourcesExtra = Some(w.sourcesExtra), stagedForcedExtra = Some(w.forcedExtra),
        stagedBrokerinfo = Some(w.brokerinfo), stagedThumbnails = Some(w.thumbnails))._2
    }
    private def batch(root: String) = deltas(root, Seq(50L, 51L, 52L), 10L)
    def prior(root: String) = new SilverStore(root).saveDelta(deltas(root, Seq(1L, 2L), 9L))
    def commit(root: String) = new SilverStore(root).saveDelta(batch(root))
    def failing(root: String) = {
      val d = batch(root)
      new SilverStore(root).saveDelta(
        d.copy(diasource = failOn(d.diasource, "diasourceid", maxOf(d.diasource, "diasourceid"))))
    }
    def stage(root: String) = new SilverStore(root).stageDelta(batch(root))
    // the batch committed but its stream offset did not: it replays
    def recoverCommitted(root: String) = commit(root)
    def contents(root: String) = {
      val r = new SilverStore(root).load(spark)
      Seq(r.rootDiaobject, r.diaobject, r.diasource, r.diaforcedsource,
        r.diaobjectPosition, r.diasourceExtra, r.diaforcedsourceExtra,
        r.brokerinfo, r.thumbnails).map(rows)
    }
  }

  private object Gold extends Owner {
    private val pv = "pvid-pv1"
    private lazy val cat = FixtureWorld.catalog(spark)
    private lazy val changed = cat.copy(diasource = cat.diasource.filter(col("visit") % 3 =!= 0))
    private val names = Seq(s"objstats_$pv", s"objstatscomb_$pv")
    def tables(root: String) = names.map(Paths.get(root, _))
    def prior(root: String) = GoldTables.refreshObjStats(cat, pv, root)
    def commit(root: String) = GoldTables.refreshObjStats(changed, pv, root)
    def failing(root: String) = {
      val key = maxOf(Ltcv.sources(changed, pv), "diasourceid")
      GoldTables.refreshObjStats(
        changed.copy(diasource = failOn(changed.diasource, "diasourceid", key)), pv, root)
    }
    def stage(root: String) = GoldTables.stageObjStats(changed, pv, root)
    // a refresh is a rerun
    def recoverCommitted(root: String) = commit(root)
    def contents(root: String) = liveRows(tables(root))
  }

  private object Rollup extends Owner {
    private def events(from: Long, until: Long) = (from until until)
      .map(i => (i, (i % 5).toInt, Vector("a", "b", "c")((i % 3).toInt), (i % 97) / 8.0))
      .toDF("eid", "day", "k", "v")
    def tables(root: String) = Seq(Paths.get(root))
    def prior(root: String) = RollupStore.fold(root, events(0, 200), "day", "k", "v")
    private val batch = (200L, 260L)
    def commit(root: String) = RollupStore.fold(root, events(batch._1, batch._2), "day", "k", "v")
    def failing(root: String) = RollupStore.fold(root,
      failOn(events(batch._1, batch._2), "eid", batch._1 + 30), "day", "k", "v")
    def stage(root: String) =
      RollupStore.stageFold(root, events(batch._1, batch._2), "day", "k", "v")
    // the flip is the fold's commit point: a fold that reached it is
    // done, and replaying it would double-count (RollupStore's contract)
    def recoverCommitted(root: String) = ()
    def contents(root: String) = Seq(rows(RollupStore.load(spark, root)
      .withColumn("sum_value", round(col("sum_value"), 6))))
  }

  /** Every live row of each table, read back schemaless. */
  private def liveRows(tables: Seq[Path]): Seq[Seq[String]] =
    tables.map(t => rows(spark.read.parquet(new SegmentTable(t, "").paths: _*)))

  private object NearDup extends Owner {
    private def doc(seed: Int) = {
      val r = new scala.util.Random(seed)
      Seq.fill(25)(s"w${r.nextInt(1000)}").mkString(" ")
    }
    private val p = NearDupStream.Params(threshold = 0.3)
    private def batch0 = Seq((1L, doc(1)), (2L, doc(2)), (3L, doc(1) + " tail"))
      .toDF("doc_id", "text")
    // a corpus dup of 2, a novel doc and its in-batch twin
    private def batch1 = Seq((10L, doc(2) + " tail"), (11L, doc(7)), (12L, doc(7) + " end"))
      .toDF("doc_id", "text")
    def tables(root: String) =
      Seq("buckets", "shingles", "decisions", "clusters").map(Paths.get(root, _))
    private def run(root: String, batch: DataFrame, id: Long): Unit =
      NearDupStream.processBatch(batch, "doc_id", "text", root, id, p, liveClusters = true): Unit
    def prior(root: String) = run(root, batch0, 0L)
    def commit(root: String) = run(root, batch1, 1L)
    def failing(root: String) = run(root, failOn(batch1, "doc_id", 11L), 1L)
    def stage(root: String) =
      NearDupStream.stageBatch(batch1, "doc_id", "text", root, 1L, p, liveClusters = true)._2
    // the batch committed but its stream offset did not: foreachBatch
    // replays it under the same id
    def recoverCommitted(root: String) = commit(root)
    def contents(root: String) = liveRows(tables(root))
  }

  private object Codes extends Owner {
    private lazy val emb = Tables.embeddings(spark, "/root/testdata/sf0.001")
      .select("vec_id", "embedding")
    private lazy val model = {
      val (built, assigned) = PqAnn.buildIndexWithAssigned(
        emb, "vec_id", "embedding", dim = 64, nlist = 8, m = 8, ksub = 16)
      assigned.unpersist()
      built.model
    }
    private def wave(from: Long, until: Long, shift: Long) =
      emb.filter(col("vec_id") >= from && col("vec_id") < until)
        .select((col("vec_id") + shift).as("vec_id"), col("embedding"))
    private def batch1 = wave(5, 8, 2000L)
    def tables(root: String) = Seq(Paths.get(root, "codes"))
    def prior(root: String) =
      VectorIngest.processBatch(wave(0, 5, 1000L), "vec_id", "embedding", model, root, 0L)
    def commit(root: String) =
      VectorIngest.processBatch(batch1, "vec_id", "embedding", model, root, 1L)
    def failing(root: String) = VectorIngest.processBatch(
      failOn(batch1, "vec_id", 2006L), "vec_id", "embedding", model, root, 1L)
    def stage(root: String) =
      VectorIngest.stageBatch(batch1, "vec_id", "embedding", model, root, 1L)
    def recoverCommitted(root: String) = commit(root)
    def contents(root: String) = liveRows(tables(root))
  }

  /** A build-once artifact of two parts: nothing comes before its
    * build, and a build that finds it committed is a load. */
  private object Artifact extends Owner {
    private def frame = spark.range(0, 40, 1, 4)
      .select(col("id"), concat(lit("v"), col("id")).as("v"))
    private val parts = Seq("head", "tail").map(_ -> frame.schema)
    def dir(root: String) = Paths.get(root, "artifact")
    def tables(root: String) = Seq(dir(root))
    def prior(root: String) = ()
    def built(df: DataFrame, release: () => Unit = () => (),
        tail: DataFrame => DataFrame = identity) = Stage.Built(
      Seq(df.filter(col("id") < 20).write, tail(df.filter(col("id") >= 20)).write), release)
    def load(root: String)(build: => Stage.Built): Seq[DataFrame] =
      Stage.loadOrBuild(spark, dir(root).toString, parts, "v1")(build)
    def commit(root: String) = load(root)(built(frame)): Unit
    // the head part is written, then the tail part's write throws part-way
    def failing(root: String) = load(root)(built(frame, tail = failOn(_, "id", 30L))): Unit
    def stage(root: String) = SegmentTable.Staged(Seq(new SegmentTable(dir(root), "") ->
      Seq(Stage.stage(spark, dir(root).toString, "v1") { seg =>
        parts.zip(built(frame).writers).foreach { case ((n, _), w) => w.parquet(s"$seg/$n") }
      })))
    def recoverCommitted(root: String) = commit(root)
    def contents(root: String) =
      load(root)(sys.error("a committed artifact must not be rebuilt")).map(rows)
  }

  private def tmp(tag: String) = Files.createTempDirectory(s"fault_$tag").toString

  /** Run `owner`'s faulted commit with `crash`, recover, and compare
    * with an uninterrupted run. */
  private def check(tag: String, owner: Owner, afterFlip: Boolean = false,
      staged: Boolean = false)(crash: String => Unit): String = {
    val clean = tmp(tag)
    owner.prior(clean); owner.commit(clean)
    val root = tmp(tag)
    owner.prior(root)
    crash(root)
    // a failed silver stage rethrows as soon as one table's write fails
    // while the other tables' writes run on: let them end before the retry
    while (spark.sparkContext.statusTracker.getActiveJobIds().nonEmpty) Thread.sleep(20)
    val liveAtCrash = owner.tables(root).map(live)
    if (staged) assert(owner.tables(root).zip(liveAtCrash).exists { case (t, l) =>
      (segDirs(t) -- l).nonEmpty }, "the staged segments must be on disk, unlisted")
    if (afterFlip) owner.recoverCommitted(root) else owner.commit(root)
    assert(owner.contents(root) == owner.contents(clean))
    owner.tables(root).zip(liveAtCrash).foreach { case (t, before) =>
      val stray = segDirs(t) -- live(t) -- before
      assert(stray.isEmpty, s"$t keeps unlisted segments $stray")
    }
    root
  }

  private val owners = Seq("silver saveDelta" -> Silver, "gold refresh" -> Gold,
    "rollup fold" -> Rollup, "neardup batch" -> NearDup, "vector batch" -> Codes)

  for ((tag, owner) <- owners) {
    val prefix = tag.takeWhile(_ != ' ')
    test(s"$tag: a crash mid-segment write, then a retry, equals an uninterrupted run") {
      check(prefix, owner) { root =>
        val e = intercept[Exception](owner.failing(root))
        assert(Iterator.iterate[Throwable](e)(_.getCause).takeWhile(_ != null)
          .exists(t => Option(t.getMessage).exists(_.contains("injected fault"))))
      }
    }
    test(s"$tag: a crash before the manifest flip, then a retry, equals an uninterrupted run") {
      check(prefix, owner, staged = true) { root =>
        owner.stage(root): Unit
      }
    }
    test(s"$tag: a crash after the flip before GC, then recovery, equals an uninterrupted run") {
      check(prefix, owner, afterFlip = true) { root =>
        owner.stage(root).flip(): Unit
      }
    }
  }

  // a crash between two tables' flips: the first table's manifest is
  // flipped, the others' staged segments are left unlisted
  for ((tag, owner) <- owners if owner.tables("").size > 1) {
    test(s"$tag: a crash between two tables' flips, then recovery, equals an uninterrupted run") {
      check(tag.takeWhile(_ != ' '), owner, afterFlip = true) { root =>
        SegmentTable.Staged(owner.stage(root).entries.take(1)).flip(): Unit
      }
    }
  }

  test("stage build: a build that throws mid-part, then a retry, equals an uninterrupted build") {
    val root = check("artifact", Artifact) { root =>
      val e = intercept[Exception](Artifact.failing(root))
      assert(Iterator.iterate[Throwable](e)(_.getCause).takeWhile(_ != null)
        .exists(t => Option(t.getMessage).exists(_.contains("injected fault"))))
      assert(!Stage.isCommitted(Artifact.dir(root).toString))
    }
    assert(live(Artifact.dir(root)).size == 1)
  }

  test("stage build: a crash after the parts are written, before the flip, " +
    "then a retry, equals an uninterrupted build") {
    val clean = tmp("artifact")
    Artifact.commit(clean)
    val root = tmp("artifact")
    val t = Artifact.dir(root)
    val Seq((_, Seq(debris))) = Artifact.stage(root).entries
    assert(!Stage.isCommitted(t.toString) && segDirs(t) == Set(debris))
    Artifact.commit(root)
    assert(Artifact.contents(root) == Artifact.contents(clean))
    val listed = live(t)
    assert(listed.size == 1 && !listed.contains(debris))
    // an artifact commit never collects: the crashed build's segment stays
    assert(segDirs(t) == listed + debris)
  }

  test("stage build: a crash after the flip, then a load, equals an uninterrupted build") {
    val root = check("artifact", Artifact, afterFlip = true) { root =>
      Artifact.stage(root).flip(): Unit
    }
    assert(live(Artifact.dir(root)).size == 1)
  }

  test("stage build: a build that loses a race reads the winner's rows " +
    "and deletes only its own segment") {
    val root = tmp("artifact_race")
    val t = Artifact.dir(root)
    def files(seg: Path): Map[String, (Long, Long)] = {
      val w = Files.walk(seg)
      try w.iterator().asScala.filter(Files.isRegularFile(_)).map { p =>
        seg.relativize(p).toString -> (Files.size(p), Files.getLastModifiedTime(p).toMillis)
      }.toMap finally w.close()
    }
    var winner = ""
    var winnerFiles = Map.empty[String, (Long, Long)]
    val loserRows = spark.range(100, 110).select(col("id"), lit("loser").as("v"))
    // the loser's parts are written; before its flip the winner commits
    val got = Artifact.load(root)(Artifact.built(loserRows, release = () => {
      Artifact.commit(root)
      winner = live(t).head
      winnerFiles = files(t.resolve(winner))
      assert(segDirs(t).size == 2, "the loser's segment is written, unlisted")
    }))
    assert(got.map(rows) == Artifact.contents(root))
    assert(!got.map(rows).flatten.exists(_.contains("loser")))
    assert(live(t) == Set(winner) && segDirs(t) == Set(winner))
    assert(files(t.resolve(winner)) == winnerFiles)
  }

  test("every job of a gold refresh carries a gold write label") {
    val cat = FixtureWorld.catalog(spark)
    val m = new Probe.Meter(spark)
    try {
      // the empty frame's own sink write is the run's only other job
      val sink = m.run(spark.emptyDataFrame).jobs.map(_.label)
      val jobs = m.run {
        GoldTables.refreshObjStats(cat, "pvid-pv1", tmp("census"))
        spark.emptyDataFrame
      }.jobs.map(_.label)
      val refresh = jobs.diff(sink)
      assert(refresh.nonEmpty)
      assert(refresh.forall(_.startsWith("[gold write: objstats")), refresh.mkString("\n"))
    } finally m.close()
  }
}
