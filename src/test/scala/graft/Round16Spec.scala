package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._

/** Specs for the round-16 additions: the Stage artifact lifecycle
  * (a committed artifact loads without a job; every job of a build is
  * labelled), the hardNegatives duplicate-rank tie-break, and the a22
  * lightcurve-API composition's split-identity expansion. Stage's crash
  * and race cases are in FaultSpec.
  */
class Round16Spec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  private def tmpBase(tag: String): String = {
    val d = java.nio.file.Files.createTempDirectory(s"graft-$tag")
    d.toFile.deleteOnExit()
    d.toString
  }

  /** Spark jobs launched while `f` runs on this thread: job-start
    * events of this thread's job group, counted up to a marker job run
    * after `f` — the listener bus is ordered, so once the marker
    * arrives every earlier job has been seen. */
  private def jobsDuring[A](f: => A): (A, Int) = {
    import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
    val sc = spark.sparkContext
    val group = s"jobsDuring-${java.util.UUID.randomUUID()}"
    val seen = new java.util.concurrent.LinkedBlockingQueue[String]()
    val listener = new SparkListener {
      override def onJobStart(j: SparkListenerJobStart): Unit =
        if (j.properties != null &&
            j.properties.getProperty("spark.jobGroup.id") == group)
          seen.put(String.valueOf(j.properties.getProperty("spark.job.description")))
    }
    sc.addSparkListener(listener)
    sc.setJobGroup(group, "counted")
    try {
      val a = f
      sc.setJobGroup(group, "marker")
      sc.parallelize(Seq(1), 1).count()
      var n = 0
      var next = seen.poll(60, java.util.concurrent.TimeUnit.SECONDS)
      while (next != "marker") {
        assert(next != null, "marker job never reached the listener")
        n += 1
        next = seen.poll(60, java.util.concurrent.TimeUnit.SECONDS)
      }
      (a, n)
    } finally {
      sc.clearJobGroup()
      sc.removeSparkListener(listener)
    }
  }

  test("Stage.loadOrBuild: a committed artifact loads without building " +
    "and without a Spark job") {
    import graft.util.Stage
    val dir = s"${tmpBase("lifecycle")}/artifact"
    val part = Seq((1L, "a"), (2L, "b")).toDF("id", "v")
    def load(build: => Stage.Built) =
      Stage.loadOrBuild(spark, dir, Seq("rows" -> part.schema))(build)
    load(Stage.Built(Seq(part.write)))
    val (Seq(rows), jobs) = jobsDuring(
      load(sys.error("a committed artifact must not be rebuilt")))
    assert(jobs == 0, s"$jobs job(s) before the first action")
    assert(rows.count() == 2)

    // the cluster table through its family entry point (its load used
    // to infer the schema from the parquet footers: one job per call)
    val ds = tmpBase("lifecycle_cc")
    val docs = Seq((1L, "a b c d e"), (2L, "a b c d e"), (3L, "x y z w q"))
      .toDF("doc_id", "text")
    docs.write.parquet(s"$ds/documents.parquet")
    graft.pipeline.ClusterStore.loadOrBuild(spark, ds, docs)
    val (clusters, ccJobs) = jobsDuring(graft.pipeline.ClusterStore
      .loadOrBuild(spark, ds, sys.error("a committed artifact must not be rebuilt")))
    assert(ccJobs == 0, s"$ccJobs job(s) before the first action")
    assert(clusters.filter(col("is_rep")).count() == 2)
    graft.util.Local.deleteRecursively(graft.pipeline.ClusterStore.scratchDir(ds, 3, 0.5))
  }

  test("every job of an artifact build carries its stage build label") {
    val ds = tmpBase("census_cc")
    val docs = Seq((1L, "a b c d e"), (2L, "a b c d e"), (3L, "x y z w q"))
      .toDF("doc_id", "text")
    docs.write.parquet(s"$ds/documents.parquet")
    val m = new Probe.Meter(spark)
    try {
      // the empty frame's own sink write is the run's only other job
      val sink = m.run(spark.emptyDataFrame).jobs.map(_.label)
      val jobs = m.run {
        graft.pipeline.ClusterStore.loadOrBuild(spark, ds, docs)
        spark.emptyDataFrame
      }.jobs.map(_.label)
      val build = jobs.diff(sink)
      assert(build.nonEmpty)
      assert(build.forall(_.startsWith("[stage build: graft_cc_documents_3_50_")),
        build.mkString("\n"))
    } finally {
      m.close()
      graft.util.Local.deleteRecursively(graft.pipeline.ClusterStore.scratchDir(ds, 3, 0.5))
    }
  }

  test("hardNegatives: duplicate ranks resolve by id, partition-invariant") {
    import graft.pipeline.Retrieval
    // a fused list with tied ranks — the shape RRF/rerankers emit
    val rows = Seq(
      (1L, "dA", 1L), (1L, "dB", 1L), (1L, "dC", 2L), (1L, "dD", 2L),
      (1L, "dE", 3L))
    val gold = Seq((1L, "dC")).toDF("query_id", "doc_id")
    def run(parts: Int) = Retrieval.hardNegatives(
        rows.toDF("query_id", "doc_id", "rank").repartition(parts),
        gold, "query_id", "doc_id", "rank", nNeg = 3)
      .select("neg_doc_id", "neg_rank")
      .collect().map(r => (r.getString(0), r.getLong(1))).toSet
    // non-gold by (rank, id): dA(1) dB(1) dD(2) dE(3) -> neg_rank 1..3
    val want = Set(("dA", 1L), ("dB", 2L), ("dD", 3L))
    assert(run(1) == want)
    assert(run(7) == want, "duplicate ranks must not be partition-order-dependent")
  }

  test("unimaxSample: water-filling allocation, caps bind, partition-invariant") {
    import graft.pipeline.Sharding
    // skewed strata: tiny(4) small(10) big(100) — budget 60:
    //   tiny: min(4,  60/3=20) = 4   (cap binds)   rem 56
    //   small: min(10, 56/2=28) = 10 (cap binds)   rem 46
    //   big:  min(100, 46/1)   = 46 (budget binds)
    val docs = (
      (0L until 4L).map(i => (i, "tiny")) ++
      (100L until 110L).map(i => (i, "small")) ++
      (1000L until 1100L).map(i => (i, "big"))).toDF("doc_id", "lang")
    def quotas(parts: Int) = Sharding.unimaxSample(
        docs.repartition(parts), "doc_id", "lang", budget = 60L)
      .groupBy("lang").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    val q = quotas(1)
    assert(q == Map("tiny" -> 4L, "small" -> 10L, "big" -> 46L))
    assert(q.values.sum == 60L, "budget fully spent when corpus allows")
    assert(quotas(11) == q, "allocation and membership are partition-invariant")
    // maxEpochs caps the pass budget: epochs=2 doubles the small caps
    //   tiny: min(8, 20) = 8; small: min(20, 26) = 20; big: 32
    val q2 = Sharding.unimaxSample(docs, "doc_id", "lang",
        budget = 60L, maxEpochs = 2L)
      .groupBy("lang").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    // sample rows cap at one physical pass even when the PASS quota
    // exceeds the corpus (tiny's quota 8 > 4 docs)
    assert(q2 == Map("tiny" -> 4L, "small" -> 10L, "big" -> 32L))
  }

  test("portableProfile: KMV estimate near exact, quantiles exact on uniform docs") {
    import graft.pipeline.TextAnalysis
    // 3000 docs, exactly 2000 distinct texts, all 4 tokens long
    val docs = (0L until 3000L)
      .map(i => (i, "g", s"text number ${i % 2000} pad"))
      .toDF("doc_id", "lang", "text")
    val r = TextAnalysis.portableProfile(docs, "doc_id", "lang", "text", k = 64)
      .collect().head
    assert(r.getAs[Long]("n_docs") == 3000L)
    assert(r.getAs[Long]("n_tokens_total") == 12000L)
    val est = r.getAs[Long]("kmv_distinct_est")
    // KMV sigma ~ 1/sqrt(k-2) ~ 12.7% at k=64; allow 3 sigma. The
    // check is deterministic (md5), not flaky — it pins the estimator
    // path (2000 >> k) and its scaling constant.
    assert(math.abs(est - 2000.0) / 2000.0 < 0.38, s"KMV est $est vs 2000")
    assert(r.getAs[Long]("p50_tokens_est") == 4L)
    assert(r.getAs[Long]("p95_tokens_est") == 4L)
    // partition invariance of the whole profile row
    val r13 = TextAnalysis.portableProfile(
      docs.repartition(13), "doc_id", "lang", "text", k = 64).collect().head
    assert(r13.toSeq == r.toSeq)
  }

  test("CorpusLoader: explicit-schema JSONL, bronze landing, quarantine semantics") {
    import graft.ingest.CorpusLoader
    import org.apache.spark.sql.types._
    val dir = tmpBase("jsonl")
    val schema = StructType(Seq(
      StructField("id", LongType), StructField("text", StringType)))
    java.nio.file.Files.write(java.nio.file.Paths.get(s"$dir/part0.json"),
      ("""{"id": 1, "text": "hello world"}""" + "\n" +
       """{"id": 2}""" + "\n" +                       // missing field: CLEAN, null text
       """{"id": "not-a-number", "text": "kept"}""" + "\n" + // partial parse: quarantined
       """garbage line""" + "\n" +
       """{"id": 4, "text": "tail"}""" + "\n").getBytes("UTF-8"))
    val bronze = CorpusLoader.landBronze(spark, dir, schema, s"$dir.bronze")
    val good = CorpusLoader.good(bronze).collect()
      .map(r => (r.getAs[Any]("id"), r.getAs[String]("text"))).toSet
    // a missing FIELD is data (null), not corruption — C4-style corpora
    // have optional fields everywhere
    assert(good == Set((1L, "hello world"), (2L, null), (4L, "tail")))
    val q = CorpusLoader.quarantine(bronze).collect()
    assert(q.length == 2)
    val rawLines = q.map(_.getAs[String](CorpusLoader.CorruptCol)).toSet
    assert(rawLines.exists(_.contains("not-a-number")),
      "type-mismatch rows are quarantined with their raw line")
    assert(rawLines.contains("garbage line"))
    // the type-mismatch row is a PARTIAL parse: the readable field survives
    assert(q.find(_.getAs[String](CorpusLoader.CorruptCol).contains("not-a-number"))
      .get.getAs[String]("text") == "kept")
    // the loader refuses a schema that collides with its marker column
    intercept[IllegalArgumentException] {
      CorpusLoader.readJsonl(spark, dir, schema.add("_corrupt", StringType))
    }
  }

  test("a22 expands requested ids to full rootid cohorts (split identity)") {
    val d = "/root/testdata/sf0.001"
    val out = graft.queries.FastdbOps.a22ManyLtcvs(spark, d)
      .select("rootid", "diaobjectid", "isdet", "ispatch").collect()
    val roots = out.map(_.getString(0)).toSet
    // requested: diaobjectids 7, 160, 311 and rootid r5 -> root cohort
    // {r7, r10, r11, r5} (diaobjectid d maps to root r(d % 150)); a
    // cohort with no photometry surviving the mjd/band cuts at this SF
    // legitimately yields no rows (r10 at sf0.001), so assert subset +
    // both request modes represented, not the exact set
    assert(roots.subsetOf(Set("r5", "r7", "r10", "r11")) && roots.size >= 3)
    assert(roots("r5"), "the rootid-mode request must be served")
    // the split-identity contract: the lightcurve must contain rows
    // from member diaobjectids the user did NOT request (e.g. root r7's
    // members are {7, 157, 307}; only 7 was requested)
    val dids = out.map(_.getLong(1)).toSet
    assert((dids -- Set(7L, 160L, 311L)).nonEmpty,
      "expansion must pull in unrequested sibling diaobjectids")
    assert(dids.forall(id => Set("r5", "r7", "r10", "r11")(s"r${id % 150}")),
      "every returned row must belong to a requested root cohort")
    // all three patch categories present
    val cats = out.map(r => (r.getBoolean(2), r.getBoolean(3))).toSet
    assert(cats.contains((true, false)), "both-rows (isdet, not patch)")
    assert(cats.contains((true, true)), "detection-only (ispatch)")
    assert(cats.contains((false, false)), "forced-only")
  }
}
