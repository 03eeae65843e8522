package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._
import java.nio.file.{Files, Paths}
import graft.streaming.{AlertStream, SilverStore}
import graft.util.SegmentTable

/** End-to-end alert-cycle test (the reference's alertcycle fixtures,
  * tests/fixtures/alertcycle.py): write alert packets as parquet files
  * into a streamed directory in two waves, run the structured stream
  * with foreachBatch merge, assert the silver tables. */
class StreamingSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  def alertsDf(ids: Seq[Long], objId: Long, ra: Double, dec: Double) =
    AlertFixture.alerts(spark, ids, objId, ra, dec)

  test("alert file stream → foreachBatch merge builds consistent silver tables") {
    val inDir = Files.createTempDirectory("alerts").toString
    val ckDir = Files.createTempDirectory("ck").toString
    val silverDir = Files.createTempDirectory("silver").toString
    val hbDir = Files.createTempDirectory("hb").toString
    val store = new SilverStore(silverDir)
    val listener = graft.streaming.Monitoring.attach(spark, hbDir)

    // wave 1: alerts 5..7 for object 1; wave 2 overlaps (at-least-once)
    alertsDf(Seq(5L, 6L, 7L), 1L, 42.0, 13.0)
      .write.parquet(s"$inDir/w1")
    AlertStream.run(spark, s"$inDir/*", store, "bpv-rt", ckDir, awaitAll = true)
    val s1 = store.load(spark)
    assert(s1.rootDiaobject.count() == 1)
    assert(s1.diaobject.count() == 1)
    // sources: current 5,6,7 + prv 4,5,6 → ids 4..7
    assert(s1.diasource.select("diasourceid").collect().map(_.getLong(0)).toSet
      == Set(4L, 5L, 6L, 7L))
    assert(s1.diaforcedsource.count() == 3)
    // extended silver surface: one position per object; extras only for
    // the enriched current sources; a brokerinfo row per alert; a
    // thumbnail per even alert (cutoutDifference canary)
    assert(s1.diaobjectPosition.count() == 1)
    assert(s1.diaobjectPosition.head().getAs[Double]("ra") == 42.0)
    assert(s1.diasourceExtra.select("diasourceid").collect().map(_.getLong(0)).toSet
      == Set(5L, 6L, 7L))
    assert(s1.diasourceExtra.head().getAs[Float]("snr") == 7.5f)
    assert(s1.diasourceExtra.head().getAs[java.lang.Float]("detector") == null)
    assert(s1.diaforcedsourceExtra.count() == 3)
    assert(s1.brokerinfo.count() == 3)
    assert(s1.brokerinfo.head().getAs[String]("brokername") == "direct")
    assert(s1.thumbnails.select("diasourceid").collect().map(_.getLong(0)).toSet
      == Set(6L))

    alertsDf(Seq(7L, 8L), 1L, 42.0, 13.0).write.parquet(s"$inDir/w2")
    alertsDf(Seq(100L), 2L, 10.0, -30.0).write.parquet(s"$inDir/w3")
    // second run compacts before each batch — assertions below then
    // also cover compaction interleaved with live appends
    AlertStream.run(spark, s"$inDir/*", store, "bpv-rt", ckDir,
      awaitAll = true, compactEvery = 1)
    val s2 = store.load(spark)
    assert(s2.rootDiaobject.count() == 2)
    assert(s2.diaobject.count() == 2)
    assert(s2.diasource.select("diasourceid").collect().map(_.getLong(0)).toSet
      == Set(4L, 5L, 6L, 7L, 8L, 99L, 100L))
    // replayed alert 7 created nothing new for object 1's forced rows
    assert(s2.diaforcedsource.filter(col("diaobjectid") === 1L).count() == 4)
    assert(s2.diaobjectPosition.count() == 2)
    // replayed alert 7's brokerinfo merged keep-existing: ids 5..8 + 100
    assert(s2.brokerinfo.select("diasourceid").collect().map(_.getLong(0)).toSet
      == Set(5L, 6L, 7L, 8L, 100L))
    assert(s2.thumbnails.select("diasourceid").collect().map(_.getLong(0)).toSet
      == Set(6L, 8L, 100L))
    // classifier envelope round-trips through info JSON
    val cls = graft.api.BrokerInfo.explodeClassifications(
      s2.brokerinfo.filter(col("diasourceid") === 8L))
    assert(cls.head().getAs[Int]("classid") == 111)
    assert(math.abs(cls.head().getAs[Double]("probability") - 0.008) < 1e-12)

    // T8: the heartbeat listener recorded per-batch progress (listener
    // bus is async — poll briefly for the log to land)
    val hbFile = java.nio.file.Paths.get(hbDir, "progress.jsonl")
    val deadline = System.nanoTime() + 10e9.toLong
    while (!Files.exists(hbFile) && System.nanoTime() < deadline) Thread.sleep(100)
    graft.streaming.Monitoring.detach(spark, listener)
    assert(Files.exists(hbFile), "no heartbeat progress rows")
    val hb = graft.streaming.Monitoring.summary(spark, hbDir).collect()
    assert(hb.map(_.getAs[Long]("rows")).sum >= 6,
      "heartbeat must account for the streamed alerts")
  }

  test("alert stream: each micro-batch reads its input once") {
    val inDir = Files.createTempDirectory("alerts").toString
    val ckDir = Files.createTempDirectory("ck").toString
    val store = new SilverStore(Files.createTempDirectory("silver").toString)
    // one file per trigger: two micro-batches of three alerts
    alertsDf(Seq(5L, 6L, 7L), 1L, 42.0, 13.0).coalesce(1).write.parquet(s"$inDir/w1")
    alertsDf(Seq(20L, 21L, 22L), 2L, 10.0, -30.0).coalesce(1).write.parquet(s"$inDir/w2")
    val persisted = spark.sparkContext.getPersistentRDDs.keySet
    val q = AlertStream.run(spark, s"$inDir/*", store, "bpv-once", ckDir,
      maxFilesPerTrigger = 1, awaitAll = true)
    val inputRows = q.recentProgress.map(_.numInputRows).sum
    assert(inputRows == 6, s"$inputRows input rows scanned for 6 alerts")
    assert(spark.sparkContext.getPersistentRDDs.keySet == persisted,
      "the import left a frame persisted")
    assert(store.load(spark).brokerinfo.count() == 6)
  }

  /** Alerts `ids` of object `objId`, read back from parquet with the
    * stream's schema, as a micro-batch's frame is. */
  def alertBatch(ids: Seq[Long], objId: Long, ra: Double, dec: Double) = {
    val dir = Files.createTempDirectory("batch").toString
    alertsDf(ids, objId, ra, dec).write.mode("overwrite").parquet(dir)
    spark.read.schema(AlertStream.alertSchema).parquet(dir)
  }

  test("the test JVM runs with the build's codegen cache size") {
    // build.sbt's javaOptions set it; a launch path that drops them
    // leaves Spark's 100-entry LRU, which one alert batch's ~151
    // generated classes thrash
    val key = "spark.sql.codegen.cache.maxEntries"
    val entries = sys.props.get(key)
    assert(entries.exists(_.toInt > 151), s"$key = $entries: javaOptions not applied")
    assert(spark.conf.get(key) == entries.get)
  }

  test("alert import: a steady-state batch reuses its generated classes") {
    val store = new SilverStore(Files.createTempDirectory("silver").toString)
    val compiles = (0 until 4).map { k =>
      val batch = alertBatch(Seq(10L, 11L, 12L).map(_ + 100 * k), 30L + k,
        20.0 + k, 5.0)
      val (n0, _) = Probe.codegenCounters()
      AlertStream.importAlerts(spark, store, batch, "bpv-cg")
      Probe.codegenCounters()._1 - n0
    }
    assert(store.load(spark).brokerinfo.count() == 12)
    // the first three batches compile the plan shapes that an empty, a
    // one-segment and a two-segment store give; from then on a batch
    // compiles only the projection beneath its cache, which inlines
    // the batch's ingest stamp (measured: 2 classes)
    assert(compiles(3) <= 4, s"classes compiled per batch: ${compiles.mkString(", ")}")
  }

  test("alert import: one ingest stamp per batch across tables") {
    val store = new SilverStore(Files.createTempDirectory("silver").toString)
    AlertStream.importAlerts(spark, store,
      alertBatch(Seq(5L, 6L, 7L), 1L, 42.0, 13.0), "bpv-ts")
    AlertStream.importAlerts(spark, store,
      alertBatch(Seq(40L, 41L), 4L, 50.0, 13.0), "bpv-ts")
    val s = store.load(spark)
    val stamps = s.diaobjectPosition.select(col("diaobjectid"), col("created_at").as("t"))
      .union(Seq("msgtime", "receivedtime", "importtime").map(c =>
        s.brokerinfo.select(col("diaobjectid"), col(c).as("t"))).reduce(_ union _))
      .groupBy("diaobjectid").agg(countDistinct("t").as("n"), min("t").as("t"))
      .orderBy("diaobjectid").collect()
    assert(stamps.map(_.getLong(0)).toSeq == Seq(1L, 4L))
    assert(stamps.forall(_.getLong(1) == 1L), "a batch's rows carry several stamps")
    assert(stamps(0).getTimestamp(2).before(stamps(1).getTimestamp(2)))
  }

  test("silver store: crash before manifest flip leaves previous version readable") {
    val store = new SilverStore(Files.createTempDirectory("swap").toString)
    val w1 = AlertStream.wrangle(alertsDf(Seq(1L, 2L), 9L, 1.0, 2.0), "bpv-c")
    val (_, d1) = graft.merge.SourceImporter.importBatchWithDeltas(
      store.load(spark), w1.objects, w1.sources, w1.forced,
      stagedBrokerinfo = Some(w1.brokerinfo))
    store.saveDelta(d1)
    val before = store.load(spark)
    val srcIds = before.diasource.select("diasourceid").collect().map(_.getLong(0)).toSet
    assert(srcIds.nonEmpty && before.brokerinfo.count() == 2)

    // simulate a crash mid-save: segments staged, manifests never flipped
    val w2 = AlertStream.wrangle(alertsDf(Seq(50L), 9L, 1.0, 2.0), "bpv-c")
    val (full2, _) = graft.merge.SourceImporter.importBatchWithDeltas(
      store.load(spark), w2.objects, w2.sources, w2.forced)
    store.stageFull(full2)   // writes segments; commit never runs

    val after = store.load(spark)
    assert(after.diasource.select("diasourceid").collect().map(_.getLong(0)).toSet
      == srcIds, "uncommitted segments must be invisible")
    assert(after.brokerinfo.count() == 2)

    // compaction rewrites to single segments without changing contents
    store.compact(spark)
    val compacted = store.load(spark)
    assert(compacted.diasource.select("diasourceid").collect().map(_.getLong(0)).toSet
      == srcIds)
    assert(compacted.brokerinfo.count() == 2)
  }

  test("silver store: crash-orphaned segment on a FRESH table is not legacy data") {
    val store = new SilverStore(Files.createTempDirectory("orphan").toString)
    // first-ever batch stages segments but crashes before commit
    val w1 = AlertStream.wrangle(alertsDf(Seq(1L, 2L), 9L, 1.0, 2.0), "bpv-c")
    val (full1, _) = graft.merge.SourceImporter.importBatchWithDeltas(
      store.load(spark), w1.objects, w1.sources, w1.forced)
    store.stageFull(full1)   // seg_* dirs exist, NO manifest anywhere
    // the orphan must NOT read as committed data...
    assert(store.load(spark).diasource.count() == 0,
      "orphaned segments on a manifest-less table must be invisible")
    // ...so the replayed batch re-imports everything and commits it
    val expected = full1.diasource.count()
    val (_, d1) = graft.merge.SourceImporter.importBatchWithDeltas(
      store.load(spark), w1.objects, w1.sources, w1.forced)
    store.saveDelta(d1)
    val after = store.load(spark)
    assert(expected > 0 && after.diasource.count() == expected,
      "replayed rows must land")
  }

  test("silver store: saveDelta commits leak no file descriptors") {
    val fds = new java.io.File("/proc/self/fd")
    assume(fds.isDirectory, "needs /proc/self/fd")
    val store = new SilverStore(Files.createTempDirectory("fds").toString)
    val w = AlertStream.wrangle(alertsDf(Seq(1L, 2L), 9L, 1.0, 2.0), "bpv-c")
    // imported against the empty store and pinned, so every save
    // appends the same non-empty rows and flips each touched manifest
    val (_, d0) = graft.merge.SourceImporter.importBatchWithDeltas(
      store.load(spark), w.objects, w.sources, w.forced,
      stagedBrokerinfo = Some(w.brokerinfo))
    def pin(df: org.apache.spark.sql.DataFrame) = df.localCheckpoint()
    val d = graft.merge.SourceImporter.ImportDeltas(pin(d0.rootDiaobject),
      pin(d0.diaobject), pin(d0.diasource), pin(d0.diaforcedsource),
      pin(d0.diaobjectPosition), pin(d0.brokerinfo), pin(d0.thumbnails),
      None, None)
    store.saveDelta(d) // warm-up: pools and class loading open their fds once
    val before = fds.list().length
    val commits = 50
    (1 to commits).foreach(_ => store.saveDelta(d))
    val grown = fds.list().length - before
    assert(grown < commits / 5, s"$commits commits left $grown more open fds")
  }

  test("query queue: FIFO, read-only enforcement, results and errors") {
    val q = new graft.api.QueryQueue(spark,
      Files.createTempDirectory("qres").toString)
    Tables.registerAll(spark, "/root/testdata/sf0.001")
    val ok = q.submit("alice", Seq("SELECT COUNT(*) AS n FROM region"))
    val okCte = q.submit("alice",
      Seq("WITH t AS (SELECT r_regionkey FROM region) SELECT COUNT(*) AS n FROM t"))
    val bad = q.submit("bob", Seq("DROP TABLE region"))
    // a leading-keyword regex would admit this CTE-prefixed write
    val evilDir = Files.createTempDirectory("evil").resolve("out")
    val sneaky = q.submit("mallory", Seq(
      s"WITH x AS (SELECT 1 AS a) INSERT OVERWRITE DIRECTORY '$evilDir' USING parquet SELECT * FROM x"))
    // EXECUTE IMMEDIATE wraps arbitrary SQL in a node that is neither a
    // Command nor an InsertInto*, so a Command-only check lets it through
    val wrapped = q.submit("mallory", Seq("EXECUTE IMMEDIATE 'DROP TABLE region'"))
    val err = q.submit("eve", Seq("SELECT * FROM missing_table"))
    // read-only metadata statements must stay allowed under default-deny
    Seq("SHOW DATABASES", "SHOW TABLES", "DESCRIBE FUNCTION abs",
      "EXPLAIN SELECT 1").foreach(q.assertReadOnly)
    q.runAll()
    assert(q.results(ok).head().getLong(0) == 5L)
    assert(q.results(okCte).head().getLong(0) == 5L)
    assert(q.status(ok).exists(e => e.finished.isDefined && !e.error))
    assert(q.status(bad).exists(e => e.error && e.errortext.contains("read-only")))
    assert(q.status(sneaky).exists(e => e.error && e.errortext.contains("read-only")))
    assert(q.status(wrapped).exists(e => e.error && e.errortext.contains("read-only")))
    assert(!Files.exists(evilDir))
    assert(spark.catalog.tableExists("region"))
    assert(q.status(err).exists(_.error))
    // FIFO: submitted order preserved in start times
    val times = Seq(ok, bad, err).map(id => q.status(id).get.started.get.getTime)
    assert(times == times.sorted)
  }

  test("query queue: concurrent pool drain claims each entry exactly once") {
    // the reference drains with a pool of 10 worker processes
    // (long_query_runner.py:216-251); ours is runAll(nWorkers) over
    // claimNext's monitor. Pin the pool contract under real
    // contention: every entry claimed exactly once (no double
    // execution, no skips), claim order oldest-first, a poisoned
    // entry errors in place without stalling the drain, and every
    // successful result is readable afterwards.
    val q = new graft.api.QueryQueue(spark,
      Files.createTempDirectory("qres_pool").toString)
    Tables.registerAll(spark, "/root/testdata/sf0.001")
    val oks = (1 to 10).map { i =>
      q.submit(s"user$i", Seq(s"SELECT COUNT(*) + $i AS n FROM region"))
    }
    val poison = q.submit("mallory", Seq("DROP TABLE region"))
    val broken = q.submit("eve", Seq("SELECT * FROM missing_table"))
    val all = oks :+ poison :+ broken
    q.runAll(nWorkers = 4)
    // exactly-once: all started, all finished, and a second drain
    // finds nothing left to claim
    all.foreach { id =>
      val e = q.status(id).get
      assert(e.started.isDefined && e.finished.isDefined, id)
    }
    assert(q.claimNext().isEmpty, "drain must exhaust the queue")
    // claim order is oldest-submitted-first even under contention:
    // claimSeq is stamped under the monitor, so it is the TRUE
    // hand-out order (timestamps can tie at ms resolution) — it must
    // be exactly 1..n in submission order
    val seqs = all.map(id => q.status(id).get.claimSeq)
    assert(seqs == (1L to all.size.toLong).toList, s"claim order violated: $seqs")
    // errors recorded in place, queue drained past them
    assert(q.status(poison).exists(e => e.error && e.errortext.contains("read-only")))
    assert(q.status(broken).exists(_.error))
    assert(spark.catalog.tableExists("region"))
    // every successful result is present and correct
    oks.zipWithIndex.foreach { case (id, i) =>
      assert(!q.status(id).get.error, q.status(id).get.errortext)
      assert(q.results(id).head().getLong(0) == 5L + i + 1)
    }
  }

  test("query queue: retention pruning deletes old results, keeps fresh and in-flight") {
    // the reference prunes results more than 7 days old — result file
    // + queue row (long_query_runner.py:69-89). Pin: pruned ids 404 in
    // status/results, fresh results still read, unfinished entries
    // survive and remain claimable, and the pass is idempotent. Ages
    // are INJECTED (entries are mutable by design) so the spec is
    // deterministic instead of sleeping across a cutoff.
    val q = new graft.api.QueryQueue(spark,
      Files.createTempDirectory("qres_prune").toString)
    Tables.registerAll(spark, "/root/testdata/sf0.001")
    val oldOk = q.submit("alice", Seq("SELECT COUNT(*) AS n FROM region"))
    val oldErr = q.submit("eve", Seq("SELECT * FROM missing_table"))
    val fresh = q.submit("bob", Seq("SELECT COUNT(*) AS n FROM nation"))
    q.runAll(nWorkers = 4)
    val aged = new java.sql.Timestamp(1000000L)
    Seq(oldOk, oldErr).foreach(id => q.status(id).get.finished = Some(aged))
    val pending = q.submit("carol", Seq("SELECT 1 AS one")) // never claimed
    val pruned = q.prune(new java.sql.Timestamp(2000000L))
    assert(pruned.toSet == Set(oldOk, oldErr))
    assert(q.status(oldOk).isEmpty && q.status(oldErr).isEmpty)
    intercept[Exception](q.results(oldOk)) // pruned result dir must 404
    // fresh entry survives with its result readable
    assert(q.results(fresh).head().getLong(0) == 25L)
    // the unfinished entry is untouched and still claimable afterwards
    assert(q.status(pending).isDefined)
    assert(q.prune(new java.sql.Timestamp(2000000L)).isEmpty, "idempotent")
    q.runAll()
    assert(q.results(pending).head().getInt(0) == 1)
    // default retention: nothing here finished >7 days before now
    assert(q.pruneExpired(
      new java.sql.Timestamp(System.currentTimeMillis())).isEmpty)
  }

  test("query queue: prune re-sweeps orphaned trash directories") {
    // prune deletes via atomic rename-to-trash then walk, so a reader
    // can never observe a half-deleted parquet directory; a walk that
    // dies mid-delete leaves a `.trash-<id>` sibling that the NEXT
    // prune must clean up. Pin: a planted trash tree (nested, as a
    // parquet dir would be) is gone after any prune call, and its
    // presence never makes the pruned id readable again.
    val resDir = Files.createTempDirectory("qres_trash")
    val q = new graft.api.QueryQueue(spark, resDir.toString)
    val trash = resDir.resolve(".trash-deadbeef")
    Files.createDirectories(trash.resolve("part-0"))
    Files.write(trash.resolve("part-0/data.bin"), Array[Byte](1, 2, 3))
    assert(q.prune(new java.sql.Timestamp(1L)).isEmpty) // no victims
    assert(!Files.exists(trash), "orphaned trash must be re-swept")
    intercept[Exception](q.results("deadbeef"))
  }

  test("spectrum workflow: anti-joins and latest-mag rollup") {
    import graft.api.Spectrum
    val wanted = Seq(("r1", "alice"), ("r2", "bob"), ("r3", "carol"))
      .toDF("root_diaobject_id", "requester")
    val planned = Seq(("r2", "keck")).toDF("root_diaobject_id", "facility")
    val info = Seq(("r3", 60010.0f)).toDF("root_diaobject_id", "mjd")
    assert(Spectrum.wantedNotClaimed(wanted, planned)
      .select("root_diaobject_id").collect().map(_.getString(0)).toSet == Set("r1", "r3"))
    assert(Spectrum.wantedWithoutRecentSpectrum(wanted, info, 60000.0)
      .select("root_diaobject_id").collect().map(_.getString(0)).toSet == Set("r1", "r2"))

    val srcs = Seq(
      ("r1", "r", 60000.0, 1000.0f, 1L), ("r1", "r", 60005.0, 2000.0f, 2L),
      ("r1", "g", 60001.0, 500.0f, 3L))
      .toDF("rootid", "band", "midpointmjdtai", "psfflux", "diasourceid")
    val latest = Spectrum.latestDetectionMags(srcs).collect()
      .map(r => (r.getString(0), r.getString(1)) -> r.getAs[Double]("latest_mjd")).toMap
    assert(latest == Map(("r1", "r") -> 60005.0, ("r1", "g") -> 60001.0))

    val reqs = Seq(("r9", "dave", 9)).toDF("root_diaobject_id", "requester", "priority")
    val made = Spectrum.makeWantRows(reqs).head()
    assert(made.getAs[String]("wantspec_id") == "r9 ; dave")
    assert(made.getAs[Short]("priority") == 5)
  }

  test("alert producer: unsent selection, window reconstruction, encode/decode round-trip") {
    import graft.streaming.{AlertProducer, AvroAlerts}
    // silver-shaped photometry: object 1 with detections at mjd 10,11,12
    // (visits 1,2,3) and forced rows at 9.5, 11.5; object 2 at mjd 50
    def src(id: Long, obj: Long, visit: Long, mjd: Double) =
      (id, "bpv", obj, visit, "r", mjd, 1.0f, 0.1f, 5.0, 6.0)
    val sources = Seq(src(1, 1, 1, 10.0), src(2, 1, 2, 11.0), src(3, 1, 3, 12.0),
      src(9, 2, 9, 50.0))
      .toDF("diasourceid", "base_procver_id", "diaobjectid", "visit", "band",
        "midpointmjdtai", "psfflux", "psffluxerr", "ra", "dec")
    val forced = Seq((101L, "bpv", 1L, 8L, "r", 9.5, 0.4f, 0.1f),
      (102L, "bpv", 1L, 9L, "r", 11.5, 0.5f, 0.1f))
      .toDF("diaforcedsourceid", "base_procver_id", "diaobjectid", "visit", "band",
        "midpointmjdtai", "psfflux", "psffluxerr")
    val objects = Seq((1L, 5.0, 6.0), (2L, 7.0, 8.0)).toDF("diaobjectid", "ra", "dec")
    val sent = Seq((1L, new java.sql.Timestamp(0L))).toDF("diasourceid", "senttime")

    // horizon: max sent mjd (10.0) + 5 → sources 2,3 selected, 9 (mjd 50) not
    val toSend = AlertProducer.alertsToSend(sources, sent, addedDays = 5.0)
    assert(toSend.select("diasourceid").collect().map(_.getLong(0)).toSet == Set(2L, 3L))

    val alerts = AlertProducer.reconstruct(toSend, sources, forced, objects)
    // same names/types as the consumer schema (nullability is plan-derived)
    assert(alerts.schema.simpleString == AlertStream.alertSchema.simpleString)
    val byId = alerts.collect().map(r => r.getLong(0) -> r).toMap
    // alert for source 3 (mjd 12): prv sources 1,2 mjd-ascending; both forced rows
    val a3 = byId(3L)
    assert(a3.getSeq[org.apache.spark.sql.Row](2).map(_.getLong(0)) == Seq(1L, 2L))
    assert(a3.getSeq[org.apache.spark.sql.Row](3).map(_.getLong(0)) == Seq(101L, 102L))
    // alert for source 2 (mjd 11): prv source 1 only; forced row at 9.5 only
    val a2 = byId(2L)
    assert(a2.getSeq[org.apache.spark.sql.Row](2).map(_.getLong(0)) == Seq(1L))
    assert(a2.getSeq[org.apache.spark.sql.Row](3).map(_.getLong(0)) == Seq(101L))

    // encode → decode round-trips the packets bit-exactly
    val encoded = AvroAlerts.encode(spark, alerts)
    val decoded = AvroAlerts.decode(spark, encoded, "value")
    assert(decoded.schema == AlertStream.alertSchema)
    val dec3 = decoded.collect().map(r => r.getLong(0) -> r).toMap.apply(3L)
    assert(dec3.getStruct(1).getLong(0) == 3L)
    assert(dec3.getSeq[org.apache.spark.sql.Row](2).map(_.getLong(0)) == Seq(1L, 2L))
    assert(dec3.getSeq[org.apache.spark.sql.Row](3).map(_.getLong(0)) == Seq(101L, 102L))
    assert(dec3.getStruct(4).getDouble(1) == 5.0)

    // ...and the decoded packets wrangle like live broker traffic
    val w = AlertStream.wrangle(decoded, "bpv-loop")
    assert(w.sources.select("diasourceid").collect().map(_.getLong(0)).toSet
      == Set(1L, 2L, 3L))

    // mark-sent: replaying selection after the mark yields nothing new
    val sent2 = AlertProducer.markSent(sent, toSend, new java.sql.Timestamp(1000L))
    assert(AlertProducer.alertsToSend(sources, sent2, addedDays = 5.0).count() == 0)
  }

  test("stateful burst trigger: fires once per object, carries state across batches") {
    import graft.streaming.StatefulTriggers
    import graft.streaming.StatefulTriggers.{BurstTrigger, Det}
    implicit val detEnc = org.apache.spark.sql.Encoders.product[Det]

    val inDir = Files.createTempDirectory("dets").toString
    val ckDir = Files.createTempDirectory("detck").toString
    // wave 1: object 1 has two detections close together; object 2 one
    Seq(Det(1L, 100.0), Det(1L, 100.5), Det(2L, 100.0))
      .toDF().write.parquet(s"$inDir/w1")
    val collected = scala.collection.mutable.ListBuffer[BurstTrigger]()
    def runWave(): Unit = {
      val stream = spark.readStream
        .schema(implicitly[org.apache.spark.sql.Encoder[Det]].schema)
        .parquet(s"$inDir/*").as[Det]
      val q = StatefulTriggers.burstTriggers(stream, minDets = 3, windowDays = 2.0)
        .writeStream.outputMode("append")
        .option("checkpointLocation", ckDir)
        .foreachBatch { (b: org.apache.spark.sql.Dataset[BurstTrigger], _: Long) =>
          collected ++= b.collect(); ()
        }.start()
      q.processAllAvailable(); q.stop()
    }
    runWave()
    assert(collected.isEmpty, "no object has 3 detections yet")

    // wave 2: object 1's third detection lands within the window →
    // trigger (state crossed the batch boundary); object 2's second
    // detection is outside the 2-day window → still nothing
    Seq(Det(1L, 101.0), Det(2L, 105.0)).toDF().write.parquet(s"$inDir/w2")
    runWave()
    assert(collected.map(t => (t.diaobjectid, t.ndets, t.triggerMjd)).toList
      == List((1L, 3, 101.0)))

    // wave 3: more detections on object 1 do NOT re-fire
    Seq(Det(1L, 101.2), Det(1L, 101.3)).toDF().write.parquet(s"$inDir/w3")
    runWave()
    assert(collected.size == 1)
  }

  test("streaming exact dedup: first-seen wins across batches; batch-mode agrees") {
    import graft.streaming.StreamingDedup
    import graft.streaming.StreamingDedup.Doc
    implicit val docEnc = org.apache.spark.sql.Encoders.product[Doc]

    val inDir = Files.createTempDirectory("sdedup").toString
    val ckDir = Files.createTempDirectory("sdedupck").toString
    val kept = scala.collection.mutable.ListBuffer[Doc]()
    def runWave(): Unit = {
      val stream = spark.readStream
        .schema(implicitly[org.apache.spark.sql.Encoder[Doc]].schema)
        .parquet(s"$inDir/*").as[Doc]
      val q = StreamingDedup.dedupStream(stream)
        .writeStream.outputMode("append")
        .option("checkpointLocation", ckDir)
        .foreachBatch { (b: org.apache.spark.sql.Dataset[Doc], _: Long) =>
          kept ++= b.collect(); ()
        }.start()
      q.processAllAvailable(); q.stop()
    }
    // wave 1: two copies of "aaa" in ONE batch → min-id copy kept
    Seq(Doc(5L, "aaa", "s1"), Doc(2L, "aaa", "s2"), Doc(3L, "bbb", "s1"))
      .toDF().write.parquet(s"$inDir/w1")
    runWave()
    assert(kept.map(d => (d.doc_id, d.text)).toSet == Set((2L, "aaa"), (3L, "bbb")))

    // wave 2: a LATER batch's copy of "aaa" is dropped (state crossed
    // the batch boundary); new text passes
    Seq(Doc(1L, "aaa", "s3"), Doc(9L, "ccc", "s1"))
      .toDF().write.parquet(s"$inDir/w2")
    runWave()
    assert(kept.map(d => (d.doc_id, d.text)).toSet ==
      Set((2L, "aaa"), (3L, "bbb"), (9L, "ccc")))

    // batch mode: same code, one-shot, agrees with pipeline.Dedup.exactDedup keys
    val batch = Seq(Doc(5L, "aaa", "s1"), Doc(2L, "aaa", "s2"), Doc(3L, "bbb", "s1"))
      .toDS()
    val got = StreamingDedup.dedupStream(batch).collect().map(_.doc_id).toSet
    assert(got == Set(2L, 3L))
  }

  test("streaming corpus ingest: dedup + scoring compose; batch and stream agree") {
    import graft.streaming.{CorpusIngest, StreamingDedup}
    import graft.streaming.StreamingDedup.Doc
    implicit val docEnc = org.apache.spark.sql.Encoders.product[Doc]

    val inDir = Files.createTempDirectory("scorp").toString
    val ckDir = Files.createTempDirectory("scorpck").toString
    val out = scala.collection.mutable.ListBuffer[org.apache.spark.sql.Row]()
    def runWave(): Unit = {
      val stream = spark.readStream
        .schema(implicitly[org.apache.spark.sql.Encoder[Doc]].schema)
        .parquet(s"$inDir/*").as[Doc]
      val q = CorpusIngest.scored(stream)
        .writeStream.outputMode("append")
        .option("checkpointLocation", ckDir)
        .foreachBatch { (b: org.apache.spark.sql.DataFrame, _: Long) =>
          out ++= b.collect(); ()
        }.start()
      q.processAllAvailable(); q.stop()
    }
    val w1 = Seq(
      Doc(1L, "the cat sat on the mat and it is fine", "s1"),
      Doc(2L, "el gato es un gato de la casa", "s2"),
      Doc(7L, "the cat sat on the mat and it is fine", "s1"))  // dup of 1
    val w2 = Seq(
      Doc(3L, "the cat sat on the mat and it is fine", "s3"),  // late dup of 1
      Doc(4L, "mail me at a.user@example.com or 555-0100 today", "s1"))
    w1.toDF().write.parquet(s"$inDir/w1")
    runWave()
    w2.toDF().write.parquet(s"$inDir/w2")
    runWave()

    val got = out.map(r => (r.getAs[Long]("doc_id"), r.getAs[String]("lang_pred"),
      r.getAs[String]("export_text"))).toSet
    assert(got.map(_._1) == Set(1L, 2L, 4L), "dedup state crossed batches")
    assert(got.find(_._1 == 1L).get._2 == "en")
    assert(got.find(_._1 == 2L).get._2 == "es")
    assert(got.find(_._1 == 4L).get._3 ==
      "mail me at [EMAIL] or [PHONE] today", "PII scrubbed in-stream")

    // one-shot batch run of the SAME definition agrees column-for-column
    val batchGot = CorpusIngest.scored((w1 ++ w2).toDS())
      .orderBy("doc_id").collect().map(_.toSeq).toSeq
    val streamGot = out.sortBy(_.getAs[Long]("doc_id")).map(_.toSeq).toSeq
    assert(batchGot == streamGot)
  }

  test("TTL dedup: duplicates drop inside the horizon, re-enter beyond it") {
    import graft.streaming.StreamingDedup
    import graft.streaming.StreamingDedup.TimedDoc
    implicit val enc = org.apache.spark.sql.Encoders.product[TimedDoc]
    def ts(min: Int) = new java.sql.Timestamp(
      java.sql.Timestamp.valueOf("2024-03-01 10:00:00").getTime + min * 60000L)
    val inDir = Files.createTempDirectory("ttldup").toString
    val ckDir = Files.createTempDirectory("ttldupck").toString
    val kept = scala.collection.mutable.ListBuffer[Long]()
    def runWave(): Unit = {
      val stream = spark.readStream
        .schema(implicitly[org.apache.spark.sql.Encoder[TimedDoc]].schema)
        .parquet(s"$inDir/*").as[TimedDoc]
        .withWatermark("ts", "0 seconds")
      val q = StreamingDedup.dedupStreamTtl(stream, java.time.Duration.ofMinutes(30))
        .writeStream.outputMode("append")
        .option("checkpointLocation", ckDir)
        .foreachBatch { (b: org.apache.spark.sql.Dataset[TimedDoc], _: Long) =>
          kept ++= b.collect().map(_.doc_id); ()
        }.start()
      q.processAllAvailable(); q.stop()
    }
    // wave 1: doc kept; in-batch duplicate dropped (min id wins)
    Seq(TimedDoc(2L, "aaa", "s", ts(0)), TimedDoc(5L, "aaa", "s", ts(1)))
      .toDF().write.parquet(s"$inDir/w1")
    runWave()
    assert(kept.toList == List(2L))
    // wave 2 at +10 min: duplicate inside the 30-min horizon → dropped;
    // watermark advances to +10
    Seq(TimedDoc(7L, "aaa", "s", ts(10))).toDF().write.parquet(s"$inDir/w2")
    runWave()
    assert(kept.toList == List(2L))
    // wave 3 pushes the watermark past +40 (last seen +10, ttl 30) so
    // the state expires...
    Seq(TimedDoc(8L, "zzz", "s", ts(50))).toDF().write.parquet(s"$inDir/w3")
    runWave()
    // ...and wave 4's copy of "aaa" re-enters as a fresh document
    Seq(TimedDoc(9L, "aaa", "s", ts(51))).toDF().write.parquet(s"$inDir/w4")
    runWave()
    assert(kept.toList == List(2L, 8L, 9L),
      s"expected horizon-expired duplicate to re-enter; got $kept")
  }

  test("streamed near-dup: every job of the live-cluster fold carries the clusters label") {
    import graft.streaming.NearDupStream
    val r = new scala.util.Random(1)
    val text = Seq.fill(25)(s"w${r.nextInt(1000)}").mkString(" ")
    val ixDir = Files.createTempDirectory("sndlbl").toString + "/ix"
    def batch(id: Long, docs: (Long, String)*) =
      NearDupStream.processBatch(docs.toDF("doc_id", "text"), "doc_id",
        "text", ixDir, id, NearDupStream.Params(threshold = 0.3),
        liveClusters = true)
    // batch 0 commits a cluster map; batch 1's doc joins that cluster,
    // so its fold collects the touched endpoints' labels from the map
    batch(0L, 1L -> text, 2L -> (text + " tail")).collect()
    val m = new Probe.Meter(spark)
    val run = try m.run(batch(1L, 3L -> (text + " more"))) finally m.close()
    val fold = run.jobs.map(_.label).filter(_.contains("Components.scala"))
    assert(fold.nonEmpty, run.jobs.map(_.label))
    assert(fold.forall(_.startsWith("[neardup write: clusters]")), fold)
  }

  test("streamed near-dup: index accumulates across batches; retries idempotent") {
    import graft.streaming.NearDupStream
    def doc(seed: Int) = {
      val r = new scala.util.Random(seed)
      Seq.fill(25)(s"w${r.nextInt(1000)}").mkString(" ")
    }
    val inDir = Files.createTempDirectory("snd").toString
    val ckDir = Files.createTempDirectory("sndck").toString
    val ixDir = Files.createTempDirectory("sndix").toString + "/ix"
    val decisions = scala.collection.mutable.Map[Long, String]()
    def runWave(): Unit = {
      val stream = spark.readStream
        .schema(Seq((1L, "x")).toDF("doc_id", "text").schema)
        .parquet(s"$inDir/*")
      val q = stream.writeStream.outputMode("append")
        .option("checkpointLocation", ckDir)
        .foreachBatch { (b: org.apache.spark.sql.DataFrame, id: Long) =>
          NearDupStream.processBatch(b, "doc_id", "text", ixDir, id,
              NearDupStream.Params(threshold = 0.3), liveClusters = true)
            .collect().foreach(r => decisions(r.getLong(0)) = r.getString(1))
          ()
        }.start()
      q.processAllAvailable(); q.stop()
    }
    // wave 1: two novel docs + a near-copy of doc 1 (same batch)
    Seq((1L, doc(1)), (2L, doc(2)), (3L, doc(1) + " tail"))
      .toDF("doc_id", "text").write.parquet(s"$inDir/w1")
    runWave()
    assert(decisions(1L) == "kept" && decisions(2L) == "kept")
    assert(decisions(3L) == "dup_batch")

    // wave 2: near-copy of wave-1 doc 2 (crosses the batch boundary via
    // the persisted index) + a novel doc
    Seq((10L, doc(2) + " tail"), (11L, doc(7)))
      .toDF("doc_id", "text").write.parquet(s"$inDir/w2")
    runWave()
    assert(decisions(10L) == "dup_corpus", s"got ${decisions.get(10L)}")
    assert(decisions(11L) == "kept")

    // the index holds postings for exactly the kept docs, one live
    // segment per batch
    def liveTags(table: String) = new SegmentTable(Paths.get(ixDir, table), "").live
      .map(SegmentTable.tagOf(_).get)
    def liveRead(table: String) =
      spark.read.parquet(new SegmentTable(Paths.get(ixDir, table), "").paths: _*)
    assert(liveTags("shingles") == Seq("b0", "b1"))
    val indexed = liveRead("shingles")
      .select("doc_id").distinct().collect().map(_.getLong(0)).toSet
    assert(indexed == Set(1L, 2L, 11L))

    // live clusters: wave-1 pair (1,3) and wave-2 pair (2,10), folded
    // incrementally across batches into one versioned map
    val clusters = NearDupStream.latestClusters(spark, ixDir).get
      .collect().map(r => (r.getLong(0), r.getLong(1))).toMap
    assert(clusters == Map(1L -> 1L, 3L -> 1L, 2L -> 2L, 10L -> 2L),
      s"got $clusters")

    // a replay of batch 0 (as foreachBatch would after a crash, with
    // its segment ALREADY committed) must reproduce the original
    // decisions — not match its own replayed postings — and must leave
    // the segment intact, not emptied
    val w1df = Seq((1L, doc(1)), (2L, doc(2)), (3L, doc(1) + " tail"))
      .toDF("doc_id", "text")
    val replay = NearDupStream.processBatch(w1df, "doc_id", "text", ixDir, 0L,
        NearDupStream.Params(threshold = 0.3), liveClusters = true)
      .collect().map(r => (r.getLong(0), r.getString(1))).toMap
    assert(replay == Map(1L -> "kept", 2L -> "kept", 3L -> "dup_batch"),
      s"replay changed decisions: $replay")
    // the replay's flip replaced batch 0's own live segments
    assert(liveTags("buckets").sorted == Seq("b0", "b1"))
    assert(liveTags("decisions").sorted == Seq("b0", "b1"))
    val postingDocs = liveRead("buckets")
    assert(postingDocs.groupBy("doc_id", "_band").count()
      .filter(col("count") > 1).count() == 0L, "replay duplicated postings")
    assert(postingDocs.select("doc_id").distinct().collect()
      .map(_.getLong(0)).toSet == Set(1L, 2L, 11L),
      "replay emptied or grew the segment")
    // and the replayed cluster fold is idempotent too
    val clusters2 = NearDupStream.latestClusters(spark, ixDir).get
      .collect().map(r => (r.getLong(0), r.getLong(1))).toMap
    assert(clusters2 == Map(1L -> 1L, 3L -> 1L, 2L -> 2L, 10L -> 2L),
      s"replayed cluster fold drifted: $clusters2")

    // a crash-orphaned segment the manifest never listed must not
    // poison future batches: drop one in (tagged BELOW the probing
    // batch, so only the manifest excludes it), holding a parquet file
    // any read would fail on, and process another wave
    val orphans = Seq("buckets", "shingles").map { t =>
      val o = Paths.get(ixDir, t, "seg_b2_0123456789abcdef0123456789abcdef")
      Files.createDirectories(o)
      Files.write(o.resolve("part-00000.snappy.parquet"), "not parquet".getBytes)
      o
    }
    val more = NearDupStream.processBatch(
      Seq((20L, doc(7) + " other tail")).toDF("doc_id", "text"),
      "doc_id", "text", ixDir, 3L, NearDupStream.Params(threshold = 0.3))
    assert(more.collect().map(r => (r.getLong(0), r.getString(1))).toMap ==
      Map(20L -> "dup_corpus"), "orphaned segment broke the index read")
    // ...and that batch's commit collected them
    assert(orphans.forall(o => !Files.exists(o)), "orphaned segments survived a commit")
  }

  test("streamed embeddings grow the PQ index; codes equal batch encode; replay idempotent") {
    import graft.streaming.VectorIngest
    import graft.pipeline.PqAnn
    val emb = Tables.embeddings(spark, "/root/testdata/sf0.001")
      .select("vec_id", "embedding")
    // frozen model trained offline on the existing corpus
    val (built, assigned) = PqAnn.buildIndexWithAssigned(
      emb, "vec_id", "embedding", dim = 64, nlist = 8, m = 8, ksub = 16)
    val model = built.model
    assigned.unpersist()
    val inDir = Files.createTempDirectory("vi").toString
    val ckDir = Files.createTempDirectory("vick").toString
    val ixDir = Files.createTempDirectory("viix").toString + "/ix"
    def runWave(): Unit = {
      val stream = spark.readStream.schema(emb.schema).parquet(s"$inDir/*")
      val q = stream.writeStream.outputMode("append")
        .option("checkpointLocation", ckDir)
        .foreachBatch { (b: org.apache.spark.sql.DataFrame, id: Long) =>
          VectorIngest.processBatch(b, "vec_id", "embedding", model, ixDir, id)
        }.start()
      q.processAllAvailable(); q.stop()
    }
    // two waves: new ids carrying verbatim copies of corpus vectors
    val w1 = emb.filter(col("vec_id") < 5)
      .select((col("vec_id") + 1000L).as("vec_id"), col("embedding"))
    val w2 = emb.filter(col("vec_id") >= 5 && col("vec_id") < 8)
      .select((col("vec_id") + 2000L).as("vec_id"), col("embedding"))
    w1.write.parquet(s"$inDir/w1"); runWave()
    w2.write.parquet(s"$inDir/w2"); runWave()

    def codeSet(df: org.apache.spark.sql.DataFrame) =
      df.select("vec_id", "_cell", "_code").collect()
        .map(r => (r.getLong(0), r.getInt(1), r.getAs[Array[Byte]](2).toSeq)).toSet
    val streamed = VectorIngest.loadIndex(spark, ixDir, model,
      emb, "vec_id", "embedding")
    // accumulated codes == one batch encode over the union of waves
    val want = codeSet(PqAnn.encodeNew(model, w1.unionByName(w2),
      "vec_id", "embedding"))
    assert(codeSet(streamed.codes) == want)
    assert(want.size == 8)
    // probe: corpus vector 6's query must surface its streamed twin
    val q6 = emb.filter(col("vec_id") === 6)
      .select(col("vec_id").as("q_vec_id"), col("embedding").as("q_embedding"))
    val hit = PqAnn.topK(streamed, emb.unionByName(w1).unionByName(w2), q6,
        k = 1, nprobe = 3, rerankFactor = 8)
      .head()
    assert(hit.getLong(1) == 2006L && hit.getDouble(2) > 0.9999,
      s"expected streamed twin 2006, got ${hit.getLong(1)}")
    // at-least-once: replaying wave 1 as its own batch id replaces its
    // segment and changes nothing
    VectorIngest.processBatch(w1, "vec_id", "embedding", model, ixDir, 0L)
    val replayed = VectorIngest.loadIndex(spark, ixDir, model,
      emb, "vec_id", "embedding")
    assert(codeSet(replayed.codes) == want)
    assert(new SegmentTable(Paths.get(ixDir, "codes"), "").live
      .map(SegmentTable.tagOf(_).get).sorted == Seq("b0", "b1"))
  }

  test("live clusters: six folds keep at most two map generations and equal a one-shot closure") {
    import graft.streaming.NearDupStream
    def doc(seed: Int) = {
      val r = new scala.util.Random(seed)
      Seq.fill(25)(s"w${r.nextInt(1000)}").mkString(" ")
    }
    // batch k = doc_id % 6; three planted groups of exact copies: one
    // spanning four batches, one inside one batch, one across two
    val base = (0L until 24L).map(i => i -> doc(100 + i.toInt))
    val planted = Seq(24L -> 0L, 25L -> 0L, 26L -> 0L, 27L -> 0L,
      33L -> 3L, 39L -> 3L, 29L -> 10L)
      .map { case (id, of) => id -> base(of.toInt)._2 }
    val docs = (base ++ planted).toDF("doc_id", "text")
    val dir = Files.createTempDirectory("cc6").toString + "/ix"
    (0 until 6).foreach { k =>
      NearDupStream.processBatch(docs.filter(col("doc_id") % 6 === k),
        "doc_id", "text", dir, k.toLong, NearDupStream.Params(threshold = 0.3),
        liveClusters = true)
    }
    // one generation per fold would leave six map copies on disk; the
    // flip keeps the live map and the one it replaced
    val gens = Files.list(Paths.get(dir, "clusters")).toArray.toSeq
      .map(_.asInstanceOf[java.nio.file.Path]).filter(Files.isDirectory(_))
      .map(_.getFileName.toString)
    assert(gens.size <= 2, s"cluster map generations on disk: ${gens.sorted}")
    assert(gens.forall(_.startsWith("seg_")), s"${gens.sorted}")
    // the one-shot closure of the planted copy groups: min id per group
    val closure = (base ++ planted).groupBy(_._2).values.map(_.map(_._1))
      .filter(_.size > 1).flatMap(ids => ids.map(_ -> ids.min)).toMap
    val got = NearDupStream.latestClusters(spark, dir).get
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got == closure)
  }

  test("segment compaction: decisions unchanged, files collapse, crash residue ignored") {
    import graft.streaming.NearDupStream
    def doc(seed: Int) = {
      val r = new scala.util.Random(seed)
      Seq.fill(25)(s"w${r.nextInt(1000)}").mkString(" ")
    }
    val p = NearDupStream.Params(threshold = 0.3)
    def liveTags(dir: String, table: String) =
      new SegmentTable(Paths.get(dir, table), "").live.map(SegmentTable.tagOf(_).get).toSet
    def run(dir: String, compact: Boolean): Map[Long, String] = {
      NearDupStream.processBatch(
        Seq((1L, doc(21)), (2L, doc(22))).toDF("doc_id", "text"),
        "doc_id", "text", dir, 0L, p)
      NearDupStream.processBatch(
        Seq((10L, doc(23)), (11L, doc(24))).toDF("doc_id", "text"),
        "doc_id", "text", dir, 1L, p)
      if (compact) NearDupStream.compactSegments(spark, dir, 2L)
      NearDupStream.processBatch(
        Seq((20L, doc(21) + " tail"), (21L, doc(24) + " tail"),
          (22L, doc(29))).toDF("doc_id", "text"),
        "doc_id", "text", dir, 2L, p)
        .collect().map(r => (r.getLong(0), r.getString(1))).toMap
    }
    val dirA = Files.createTempDirectory("cmpA").toString + "/ix"
    val dirB = Files.createTempDirectory("cmpB").toString + "/ix"
    val base = run(dirA, compact = false)
    assert(base == Map(20L -> "dup_corpus", 21L -> "dup_corpus", 22L -> "kept"))
    assert(run(dirB, compact = true) == base,
      "compaction changed dedup decisions")
    // the two b-segments collapsed into c2; batch 2 appended its own
    assert(liveTags(dirA, "buckets") == Set("b0", "b1", "b2"))
    assert(liveTags(dirB, "buckets") == Set("c2", "b2"))
    assert(liveTags(dirB, "shingles") == Set("c2", "b2"))

    // crash residue: a superseded input back on disk (copy dirA's
    // identical b0 segments next to dirB's c2, under their own names)
    // must be invisible — the manifest does not list it, so the
    // effective view double-counts nothing
    def copyRec(src: java.io.File, dst: java.io.File): Unit = {
      java.nio.file.Files.walk(src.toPath).forEach { sp =>
        val dp = dst.toPath.resolve(src.toPath.relativize(sp))
        if (java.nio.file.Files.isDirectory(sp))
          java.nio.file.Files.createDirectories(dp)
        else java.nio.file.Files.copy(sp, dp)
      }
    }
    Seq("buckets", "shingles").foreach { k =>
      val b0 = new SegmentTable(Paths.get(dirA, k), "").live
        .find(SegmentTable.tagOf(_).contains("b0")).get
      copyRec(new java.io.File(s"$dirA/$k/$b0"), new java.io.File(s"$dirB/$k/$b0"))
    }
    val like = Seq((1L, "x")).toDF("doc_id", "text")
    val view = NearDupStream.loadIndex(spark, dirB, like, "doc_id", "text", p)
    assert(view.buckets.groupBy("doc_id", "_band").count()
      .filter(col("count") > 1).count() == 0L,
      "resurrected superseded segment double-counted postings")
    assert(view.shingles.select("doc_id").distinct().count() ==
      view.shingles.count(), "duplicate shingle rows in effective view")
  }

  test("windowed corpus stats: streamed rollup equals the batch rollup per closed window") {
    import graft.streaming.CorpusIngest
    def ts(m: Int) = java.sql.Timestamp.valueOf(f"2024-03-01 10:$m%02d:30")
    // two 5-minute windows in wave 1; wave 2 sits 20+ minutes later so
    // the 10-minute watermark closes (and append-emits) both of them
    val w1 = Seq(
      (1L, "the cat sat on the mat and it is fine", ts(1)),
      (2L, "el gato es un gato de la casa", ts(2)),
      (3L, "the dog sat on the log and it is good", ts(3)),
      (4L, "the bird is in the tree and it is ok", ts(7)),
      (5L, "el perro es un perro de la casa", ts(8)))
    val w2 = Seq(
      (6L, "the fish is in the sea and it is wet", ts(31)),
      (7L, "der hund ist ein hund von der stadt", ts(32)))
    val all = w1 ++ w2
    val cols = Seq("doc_id", "text", "ts")

    val inDir = Files.createTempDirectory("cwstats").toString
    val ck = Files.createTempDirectory("cwstatsck").toString
    val out = scala.collection.mutable.ListBuffer[org.apache.spark.sql.Row]()
    def runWave(): Unit = {
      val stream = spark.readStream
        .schema(w1.toDF(cols: _*).schema)
        .parquet(s"$inDir/*")
      val q = CorpusIngest.windowedStats(stream, "ts")
        .writeStream.outputMode("append")
        .option("checkpointLocation", ck)
        .foreachBatch { (b: org.apache.spark.sql.DataFrame, _: Long) =>
          out ++= b.collect(); ()
        }.start()
      q.processAllAvailable(); q.stop()
    }
    w1.toDF(cols: _*).write.parquet(s"$inDir/w1")
    runWave()
    w2.toDF(cols: _*).write.parquet(s"$inDir/w2")
    runWave()

    def key(r: org.apache.spark.sql.Row) =
      (r.getTimestamp(0), r.getTimestamp(1), r.getString(2))
    def payload(r: org.apache.spark.sql.Row) =
      (r.getLong(3), r.getLong(4),
        math.round(r.getDouble(5) * 1e9), r.getLong(6))
    val batch = CorpusIngest.windowedStats(all.toDF(cols: _*), "ts")
      .collect().map(r => key(r) -> payload(r)).toMap
    val got = out.map(r => key(r) -> payload(r)).toMap
    // wave-1 windows must have closed and emitted: both languages seen
    assert(got.keySet.map(_._3).contains("en") && got.keySet.map(_._3).contains("es"),
      s"expected closed en/es windows, got ${got.keySet}")
    // every emitted window matches the batch computation exactly
    got.foreach { case (k, v) => assert(batch(k) == v, s"window $k") }
  }

  test("broker variants: wire framing, topic rediscovery, config invariants") {
    import graft.streaming.{AlertProducer, AvroAlerts, Brokers}
    // Confluent-wire framing: a 5-byte magic+schema-id prefix must be
    // stripped before the schemaless datum decodes (Pitt-Google / Fink)
    val sources = Seq((1L, "bpv", 1L, 1L, "r", 10.0, 1.0f, 0.1f, 5.0, 6.0))
      .toDF("diasourceid", "base_procver_id", "diaobjectid", "visit", "band",
        "midpointmjdtai", "psfflux", "psffluxerr", "ra", "dec")
    val objects = Seq((1L, 5.0, 6.0)).toDF("diaobjectid", "ra", "dec")
    val alerts = AlertProducer.reconstruct(sources, sources.limit(0),
      sources.limit(0).withColumnRenamed("diasourceid", "diaforcedsourceid"),
      objects)
    val framed = AvroAlerts.encode(spark, alerts)
      .withColumn("value", concat(lit(Array[Byte](0, 0, 0, 0, 42)), col("value")))
    val decoded = Brokers.decode(spark, framed, "value", Brokers.ConfluentWire)
    assert(decoded.head().getStruct(1).getLong(0) == 1L)
    // ...and the broker identity lands on the brokerinfo staging rows
    val w = AlertStream.wrangle(decoded, "bpv-f", Brokers.fink("g1").brokername,
      "fink_lsst")
    val bi = w.brokerinfo.head()
    assert(bi.getAs[String]("brokername") == "Fink")
    assert(bi.getAs[String]("topic") == "fink_lsst")

    // Alerce dated-topic rediscovery: date window + bad-topic exclusion
    val today = java.time.LocalDate.of(2023, 8, 10)
    val avail = Seq(
      "lc_classifier_balto_20230807",     // in window but known-bad
      "lc_classifier_mlpscore_20230807",  // in window
      "lc_classifier_mlpscore_20230812",  // today+2 boundary
      "lc_classifier_mlpscore_20230813",  // past the +2 boundary
      "lc_classifier_mlpscore_20230805",  // before the -4 boundary
      "unrelated_topic_20230810")
    assert(Brokers.alerceTopics(avail, today).toSet ==
      Set("lc_classifier_mlpscore_20230807", "lc_classifier_mlpscore_20230812"))

    // AMPEL invariant: groupid must be username-prefixed
    intercept[IllegalArgumentException](Brokers.ampel("alice", "pw", "bob-group"))
    val cfg = Brokers.ampel("alice", "pw", "alice-group")
    assert(cfg.consumerOptions("kafka.sasl.mechanism") == "SCRAM-SHA-512")
    assert(Brokers.alerce("u", "p", "g").dynamicTopics)
  }

  test("production kafka source: real code path; only the connector jar is absent here") {
    import graft.streaming.Brokers
    // format("kafka") resolves the provider BY NAME at load(), so the
    // builder + options + subscription construct against stock Spark;
    // in this jar-less environment load() must fail with the standard
    // missing-provider error — proving the deploy-time delta is one
    // classpath entry, not code
    val e = intercept[Exception] {
      Brokers.kafkaSource(spark, Brokers.fink("g1"))
    }
    assert(e.getMessage.toLowerCase.contains("kafka"),
      s"unexpected failure: ${e.getMessage}")
    // pub/sub brokers are guarded out of the kafka path
    intercept[IllegalArgumentException] {
      Brokers.kafkaSource(spark, Brokers.pittGoogle("t", "p"))
    }
  }

  test("avro alert decode round-trips through the bundled avro runtime") {
    import org.apache.avro.Schema
    import org.apache.avro.generic.{GenericData, GenericDatumWriter, GenericRecord}
    import org.apache.avro.io.EncoderFactory
    import graft.streaming.AvroAlerts

    val schema = new Schema.Parser().parse(AvroAlerts.alertAvsc)
    val srcSchema = schema.getField("diaSource").schema()
    val objSchema = schema.getField("diaObject").schema()

    def mkSrc(id: Long, obj: Long, mjd: Double): GenericRecord = {
      val r = new GenericData.Record(srcSchema)
      r.put("diaSourceId", id); r.put("diaObjectId", obj)
      r.put("visit", id % 100); r.put("band", "r")
      r.put("midpointMjdTai", mjd)
      r.put("psfFlux", 1.5f); r.put("psfFluxErr", 0.1f)
      r.put("ra", 42.0); r.put("dec", 13.0)
      r
    }
    def encode(alertId: Long, srcId: Long): Array[Byte] = {
      val a = new GenericData.Record(schema)
      a.put("alertId", alertId)
      a.put("diaSource", mkSrc(srcId, 7L, 60000.0))
      val prv = new java.util.ArrayList[GenericRecord]()
      prv.add(mkSrc(srcId - 1, 7L, 59999.0))
      a.put("prvDiaSources", prv)
      a.put("prvDiaForcedSources", null)
      val o = new GenericData.Record(objSchema)
      o.put("diaObjectId", 7L); o.put("ra", 42.0); o.put("dec", 13.0)
      a.put("diaObject", o)
      val bos = new java.io.ByteArrayOutputStream()
      val enc = EncoderFactory.get().binaryEncoder(bos, null)
      new GenericDatumWriter[GenericRecord](schema).write(a, enc)
      enc.flush(); bos.toByteArray
    }

    val bin = Seq(Tuple1(encode(1L, 10L)), Tuple1(encode(2L, 20L))).toDF("value")
    val decoded = AvroAlerts.decode(spark, bin, "value")
    assert(decoded.schema == graft.streaming.AlertStream.alertSchema)
    val rows = decoded.collect().map(r => r.getLong(0) -> r).toMap
    assert(rows.keySet == Set(1L, 2L))
    val s = rows(1L).getStruct(1)
    assert(s.getLong(0) == 10L && s.getString(3) == "r" && s.getDouble(4) == 60000.0)
    assert(rows(1L).getSeq[org.apache.spark.sql.Row](2).head.getLong(0) == 9L)
    assert(rows(1L).isNullAt(3))   // prvDiaForcedSources absent
    // and the decoded frame wrangles like any other alert batch
    val w = graft.streaming.AlertStream.wrangle(decoded, "bpv-avro")
    assert(w.sources.count() == 4 && w.objects.count() == 2)
  }

  test("end-to-end streaming corpus: ingest → near-dup → silver → telemetry") {
    // The streaming analog of e3's gold composition: one pipeline wires
    // the existing pieces — file-source ingest, cross-batch NEAR-dup
    // against the persisted band index (NearDupStream), the codegen'd
    // scoring surface on the kept docs, an append-only silver corpus,
    // and the windowed telemetry — and the whole chain is pinned
    // stream ≡ batch at both ends: the silver doc set equals a
    // single-batch run of the same dedup definition, and telemetry
    // over the streamed silver equals the batch rollup of that
    // equivalent corpus.
    import graft.streaming.{CorpusIngest, NearDupStream}
    import graft.pipeline.TextAnalysis
    def doc(seed: Int) = {
      val r = new scala.util.Random(seed)
      Seq.fill(25)(s"w${r.nextInt(1000)}").mkString(" ")
    }
    def ts(min: Int) = new java.sql.Timestamp(
      java.sql.Timestamp.valueOf("2024-06-01 09:00:00").getTime + min * 60000L)
    val w1 = Seq((1L, doc(1), ts(0)), (2L, doc(2), ts(2)),
      (3L, doc(1) + " tail", ts(3)))                   // 3 near-dups 1 in-batch
    val w2 = Seq((10L, doc(2) + " tail", ts(32)),      // near-dups indexed 2
      (11L, doc(7), ts(33)))
    val cols = Seq("doc_id", "text", "ts")

    val inDir = Files.createTempDirectory("e2e").toString
    val ckDir = Files.createTempDirectory("e2eck").toString
    val ixDir = Files.createTempDirectory("e2eix").toString + "/ix"
    val silverDir = Files.createTempDirectory("e2esilver").toString + "/corpus"
    def score(kept: org.apache.spark.sql.DataFrame) = kept
      .withColumn("n_tokens", TextAnalysis.tokenCount(col("text")).cast("long"))
      .withColumn("lang_pred", TextAnalysis.langId(col("text")))
      .withColumn("quality", TextAnalysis.qualityScore(col("text")))
      .withColumn("fingerprint", TextAnalysis.fingerprint(col("text")))
      .withColumn("export_text", TextAnalysis.redactPii(col("text")))
    def runWave(): Unit = {
      val stream = spark.readStream
        .schema(w1.toDF(cols: _*).schema)
        .parquet(s"$inDir/*")
      val q = stream.writeStream.outputMode("append")
        .option("checkpointLocation", ckDir)
        .foreachBatch { (b: org.apache.spark.sql.DataFrame, id: Long) =>
          val decisions = NearDupStream.processBatch(b, "doc_id", "text",
            ixDir, id, NearDupStream.Params(threshold = 0.3))
          val kept = b.join(decisions.filter(col("decision") === "kept"),
            Seq("doc_id"), "left_semi")
          score(kept).write.mode("append").parquet(silverDir)
          ()
        }.start()
      q.processAllAvailable(); q.stop()
    }
    w1.toDF(cols: _*).write.parquet(s"$inDir/w1")
    runWave()
    w2.toDF(cols: _*).write.parquet(s"$inDir/w2")
    runWave()

    // silver holds exactly the near-deduped corpus
    val silver = spark.read.parquet(silverDir)
    assert(silver.select("doc_id").collect().map(_.getLong(0)).toSet
      == Set(1L, 2L, 11L))

    // stream ≡ batch: one-shot run of the SAME dedup definition over
    // all docs (fresh index) keeps the same doc set
    val ixDir2 = Files.createTempDirectory("e2eix2").toString + "/ix"
    val batchKept = NearDupStream.processBatch(
        (w1 ++ w2).toDF(cols: _*), "doc_id", "text", ixDir2, 0L,
        NearDupStream.Params(threshold = 0.3))
      .filter(col("decision") === "kept")
    val batchCorpus = (w1 ++ w2).toDF(cols: _*)
      .join(batchKept, Seq("doc_id"), "left_semi")
    assert(batchCorpus.select("doc_id").collect().map(_.getLong(0)).toSet
      == Set(1L, 2L, 11L))

    // telemetry over the streamed silver equals the batch rollup of
    // the equivalent corpus, window for window
    def rollup(df: org.apache.spark.sql.DataFrame) =
      CorpusIngest.windowedStats(df.select("doc_id", "text", "ts"), "ts")
        .orderBy("window_start", "lang_pred").collect().map(_.toSeq).toSeq
    assert(rollup(silver) == rollup(batchCorpus))
  }

  test("PubSubLike V2 source: envelope stream, offset advance, checkpoint replay") {
    // The connector shape the Pitt-Google path needs (no Spark Pub/Sub
    // source exists): a custom MicroBatchStream emitting the Kafka
    // envelope, driven end-to-end through the REAL Confluent-framing
    // decode (5-byte prefix, brokerconsumer.py:1123's data[5:]) into
    // typed alerts, across multiple triggers, and replayed exactly
    // from a checkpoint after the query restarts.
    import org.apache.avro.Schema
    import org.apache.avro.generic.{GenericData, GenericDatumWriter, GenericRecord}
    import org.apache.avro.io.EncoderFactory
    import graft.streaming.{AvroAlerts, Brokers, PubSubLikeSource}

    val schema = new Schema.Parser().parse(AvroAlerts.alertAvsc)
    val srcSchema = schema.getField("diaSource").schema()
    val objSchema = schema.getField("diaObject").schema()
    def framed(alertId: Long): Array[Byte] = {
      val s = new GenericData.Record(srcSchema)
      s.put("diaSourceId", alertId * 10); s.put("diaObjectId", 7L)
      s.put("visit", alertId % 100); s.put("band", "r")
      s.put("midpointMjdTai", 60000.0)
      s.put("psfFlux", 1.5f); s.put("psfFluxErr", 0.1f)
      s.put("ra", 42.0); s.put("dec", 13.0)
      val a = new GenericData.Record(schema)
      a.put("alertId", alertId); a.put("diaSource", s)
      a.put("prvDiaSources", null); a.put("prvDiaForcedSources", null)
      val o = new GenericData.Record(objSchema)
      o.put("diaObjectId", 7L); o.put("ra", 42.0); o.put("dec", 13.0)
      a.put("diaObject", o)
      val bos = new java.io.ByteArrayOutputStream()
      // Confluent wire prefix: magic 0 + 4-byte schema id
      bos.write(Array[Byte](0, 0, 0, 0, 42))
      val enc = EncoderFactory.get().binaryEncoder(bos, null)
      new GenericDatumWriter[GenericRecord](schema).write(a, enc)
      enc.flush(); bos.toByteArray
    }
    val queue = s"psl-${System.nanoTime()}"
    def pub(ids: Long*): Unit = ids.foreach(i =>
      PubSubLikeSource.publish(queue, "lsst-alerts", null, framed(i)))

    pub(1L, 2L, 3L)
    val ck = Files.createTempDirectory("pslck").toString
    // foreachBatch decode: the engine's T7 pattern (and the only
    // avro-decode home without the spark-avro module — AvroAlerts
    // .decode is an RDD pass, legal on the batch frame inside the sink)
    val seen = new scala.collection.mutable.ArrayBuffer[Long]()
    val partsSeen = new scala.collection.mutable.ArrayBuffer[Int]()
    def start() = PubSubLikeSource.readStream(spark, queue, numPartitions = 2)
      .writeStream
      .foreachBatch { (batch: org.apache.spark.sql.DataFrame, _: Long) =>
        val b = batch.cache()
        partsSeen.synchronized {
          partsSeen ++= b.select("partition").distinct()
            .collect().map(_.getInt(0))
        }
        val ids = Brokers.decode(spark,
            b.select(col("topic"), col("value")), "value",
            Brokers.ConfluentWire)
          .select("alertId").collect().map(_.getLong(0))
        b.unpersist()
        seen.synchronized { seen ++= ids }: Unit
      }
      .option("checkpointLocation", ck).start()

    val q1 = start()
    q1.processAllAvailable()
    assert(seen.sorted.toSeq == Seq(1L, 2L, 3L),
      "first trigger decodes the backlog")
    assert(partsSeen.distinct.sorted == Seq(0, 1),
      "a multi-message trigger must fan out across source partitions")
    // offsets advance: a later publish lands in a later micro-batch
    pub(4L, 5L)
    q1.processAllAvailable()
    assert(seen.sorted.toSeq == (1L to 5L))
    q1.stop()
    // checkpoint replay: messages published while the query is DOWN
    // are exactly the suffix the restarted query reads — nothing
    // re-delivered, nothing lost
    pub(6L, 7L)
    seen.clear()
    val q2 = start()
    q2.processAllAvailable()
    assert(seen.sorted.toSeq == Seq(6L, 7L),
      "restart must resume from the checkpointed offset")
    q2.stop()
    PubSubLikeSource.clear(queue)
  }
}
