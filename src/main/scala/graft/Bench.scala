package graft

import java.io.File
import java.lang.management.ManagementFactory
import java.nio.file.{Files, Paths}
import java.util.concurrent.TimeUnit

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.SparkSession

/** Benchmark main: runs every SparkEntry query on SPARK_GRAFT_SF_DIR
  * and prints one JSON line.
  *
  * Process model: the parent forks one child JVM per chunk of 8
  * queries, the sorted names cut in order ([[groups]]), so a chunk
  * mostly holds one family's same-shaped plans. Each child runs an
  * untimed warm-up plan, then its queries one after another with cache
  * hygiene after every run. FASTDB serves its queries from long-lived
  * processes, so a warm process is what the battery times: JVM and
  * session startup happen OUTSIDE the timed region, `cold` means "first
  * execution of this plan" (codegen compile), not "JVM boot", and only
  * process-level infrastructure gets hot, as it would on any real
  * cluster. Spark's generated-class cache is sized to 1000 entries
  * (build.sbt; children start with the parent's JVM arguments), so a
  * neighbour's classes no longer evict a query's own.
  *
  * Each query is timed by [[Probe.Meter.run]], the measured run Probe
  * and TailScale use: one cold run, then 3 warm runs if cold < 2.5 s
  * (jittery sub-second plans need the middle-of-3 median) or 2 warm
  * runs otherwise (steady multi-second plans; the 2-run median is
  * their mean). `value` is the sum of warm MEDIANs. The driver keeps
  * only the last ~2000 chars of stdout, so the stdout line carries the
  * scalar aggregates, the q1/a5/p1 canary medians and the slowest
  * queries only (trimmed to fit). The complete per-query record lives
  * in `bench_detail_c<cpus>.json`: cold, median and best seconds, the
  * median warm run's jobs and stages, and the classes compiled in the
  * cold run and over all warm runs. A warm run of an unchanged plan
  * compiles nothing, so `queries_compiles_warm` above 0 names a query
  * with a per-run literal in its plan, or one whose classes a
  * neighbour evicted.
  *
  * Survivability: the parent rewrites the detail file cumulatively
  * after every finished group (atomic tmp+rename, `"partial":true` +
  * group/elapsed counters), so a driver timeout preserves every query
  * measured up to the kill.
  */
object Bench {

  def main(args: Array[String]): Unit = args.headOption match {
    case Some("--child")  => childMain(args(1), args(2).split(",").toSeq)
    case Some("--ingest") => ingestChildMain(args(1))
    // smoke mode: run the full parent pipeline (forking, incremental
    // detail rewrites, final stdout line) on a named subset; writes
    // bench_detail_smoke.json so it can never clobber a real
    // battery's bench_detail_c<cpus>.json record
    case Some("--only") =>
      require(args.length > 1 && args(1).nonEmpty, "--only needs a name list")
      val only = args(1).split(",").toSet
      val unknown = only -- SparkEntry.queries.keySet
      require(unknown.isEmpty, s"unknown queries: ${unknown.mkString(",")}")
      parentMain(Some(only))
    case _ => parentMain(None)
  }

  /** One query's record: cold, warm-median and best-warm seconds (-1
    * for a run that threw), the median warm run's jobs and stages, the
    * classes the cold run compiled and those all warm runs compiled. */
  private[graft] final case class Measured(cold: Double, median: Double,
      best: Double, jobs: Int, stages: Int, compilesCold: Long,
      compilesWarm: Long) {
    def ok: Boolean = median >= 0
  }

  private val failed = Measured(-1, -1, -1, -1, -1, -1, -1)

  /** The child JVMs' queries: the sorted names in chunks of 8. */
  private[graft] def groups(names: Seq[String]): Seq[Seq[String]] =
    names.sorted.grouped(8).toSeq

  // ------------------------------------------------------------------
  // parent: fork a JVM per group, aggregate, emit the driver contract
  // ------------------------------------------------------------------

  private def parentMain(only: Option[Set[String]]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val chunks = groups(SparkEntry.queries.keys.toSeq.filter(n => only.forall(_(n))))

    // rewrite the detail file after EVERY group (and again after
    // ingest), so a driver-side timeout still leaves complete
    // per-query numbers for every finished group on disk
    val log = new File("bench_children.log")
    val t0 = System.nanoTime()
    val acc = scala.collection.mutable.ArrayBuffer.empty[(String, Measured)]
    // cpu-suffixed: the same tree is benched at two core counts back to
    // back, and one shared file would keep only the second run's record
    val detailFile =
      if (only.isDefined) "bench_detail_smoke.json"
      else s"bench_detail_c${GraftSession.cpus}.json"
    chunks.zipWithIndex.foreach { case (g, i) =>
      System.err.println(s"[bench] forking group ${i + 1}/${chunks.size}: ${g.mkString(",")}")
      acc ++= forkGroup(g, log)
      emit(acc.toSeq, (0L, -1.0, -1.0), sfDir, detailFile,
        partial = Some((i + 1, chunks.size, (System.nanoTime() - t0) / 1e9)))
    }

    val ingest = forkIngest(log)
    emit(acc.toSeq, ingest, sfDir, detailFile, partial = None)
  }

  /** Fork one child JVM for `names`; returns each query's record. The
    * child appends results incrementally, so a child that dies
    * mid-group still reports the queries it finished; any query still
    * unreported after the fork is retried ONCE in a fresh child (a
    * one-off environment hiccup — classpath race with a concurrent
    * compile, OOM-killed container neighbor — must not stamp -1 on a
    * healthy query). Only after the retry does a missing query yield
    * -1s (a failing query must not masquerade as a fast one, and -1 is
    * excluded from every total). */
  private def forkGroup(names: Seq[String], log: File): Seq[(String, Measured)] = {
    def attempt(ns: Seq[String]): Map[String, Measured] = {
      val out = Files.createTempFile("benchgrp", ".csv").toFile
      forkChild(Seq("--child", out.getAbsolutePath, ns.mkString(",")), log,
        timeoutMin = 20)
      val reported: Map[String, Measured] =
        if (!out.exists()) Map.empty
        else scala.io.Source.fromFile(out).getLines().flatMap { line =>
          line.split(",") match {
            case Array(n, c, m, b, j, st, cc, cw) if c.toDouble >= 0 =>
              Some(n -> Measured(c.toDouble, m.toDouble, b.toDouble, j.toInt,
                st.toInt, cc.toLong, cw.toLong))
            case _ => None
          }
        }.toMap
      out.delete()
      reported
    }
    val first = attempt(names)
    val missing = names.filterNot(first.contains)
    val second =
      if (missing.isEmpty) Map.empty[String, Measured]
      else {
        System.err.println(s"[bench] retrying unreported: ${missing.mkString(",")}")
        attempt(missing)
      }
    names.map(n => n -> first.orElse(second).applyOrElse(n, (_: String) => failed))
  }

  private def forkIngest(log: File): (Long, Double, Double) = {
    val out = Files.createTempFile("benchingest", ".csv").toFile
    val ok = forkChild(Seq("--ingest", out.getAbsolutePath), log, timeoutMin = 20)
    val res =
      if (!ok || !out.exists()) (0L, -1.0, -1.0)
      else scala.io.Source.fromFile(out).getLines().toSeq.headOption match {
        case Some(line) => line.split(",") match {
          case Array(r, s, re) => (r.toLong, s.toDouble, re.toDouble)
          case _               => (0L, -1.0, -1.0)
        }
        case None => (0L, -1.0, -1.0)
      }
    out.delete()
    res
  }

  /** Child classpath: the parent's own java.class.path when it
    * already carries Spark (an `sbt runMain` parent lists every jar —
    * including sbt's bg-jobs layout, which COPIES each jar into its
    * own directory, so a jars-dir glob derived from one class's
    * code-source would see exactly one jar and the child dies with
    * NoClassDefFoundError). Fallback for launchers whose class.path
    * is just a bootstrap jar: code-source locations (graft classes
    * dir + the Spark jars dir glob). */
  private def forkChild(childArgs: Seq[String], log: File,
      timeoutMin: Long): Boolean = {
    def loc(c: Class[_]): String =
      new File(c.getProtectionDomain.getCodeSource.getLocation.toURI).getAbsolutePath
    val graftCp = loc(Bench.getClass)
    val parentCp = System.getProperty("java.class.path", "")
    val cp =
      if (parentCp.split(File.pathSeparator).exists(_.contains("spark-core")))
        Seq(parentCp, graftCp).mkString(File.pathSeparator)
      else {
        val sparkJars = new File(loc(classOf[SparkSession])).getParent
        val scalaJar = loc(classOf[scala.Option[_]]) // scala-library (also in sparkJars, kept explicit)
        Seq(graftCp, scalaJar, sparkJars + "/*").mkString(File.pathSeparator)
      }
    val javaBin = Paths.get(System.getProperty("java.home"), "bin", "java").toString
    // the parent's own JVM arguments (build.sbt's javaOptions: module
    // opens, heap, the codegen cache size and the Spark defaults), so a
    // child runs under exactly the settings its parent was started with
    val jvmArgs = ManagementFactory.getRuntimeMXBean.getInputArguments.asScala.toSeq
    val cmd = Seq(javaBin) ++ jvmArgs ++ Seq("-cp", cp, "graft.Bench") ++ childArgs
    val pb = new ProcessBuilder(cmd: _*)
    pb.redirectErrorStream(true)
    pb.redirectOutput(ProcessBuilder.Redirect.appendTo(log))
    val p = pb.start()
    val done = p.waitFor(timeoutMin, TimeUnit.MINUTES)
    if (!done) {
      System.err.println(s"[bench] child timed out after $timeoutMin min: $childArgs")
      p.destroyForcibly()
      false
    } else {
      if (p.exitValue() != 0)
        System.err.println(s"[bench] child exited ${p.exitValue()}: $childArgs (see ${log.getName})")
      p.exitValue() == 0
    }
  }

  // ------------------------------------------------------------------
  // child: run a group of queries in a fresh JVM
  // ------------------------------------------------------------------

  private def childMain(outPath: String, names: Seq[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val m = new Probe.Meter(GraftSession.create())
    // Generic untimed warmup: a fresh JVM would otherwise pay Spark's
    // OWN JIT/classloading (parquet reader, exchange, codegen
    // compiler, noop sink) inside the first timed runs. This plan
    // shares no fragment with any battery query, so every query's
    // `cold` remains a true first-execution-of-that-plan measurement.
    locally {
      import org.apache.spark.sql.functions._
      m.spark.read.parquet(s"$sfDir/region.parquet")
        .groupBy("r_regionkey").agg(count(lit(1)).as("_w"))
        .orderBy("r_regionkey")
        .write.mode("overwrite").format("noop").save()
    }
    // truncate, then APPEND one line per finished query: a child that
    // dies mid-group (OOM, classpath race) still reports what it ran,
    // and the parent retries only the remainder
    Files.write(Paths.get(outPath), Array.emptyByteArray)
    names.foreach { name =>
      val r = measure(m, name, sfDir)
      Files.write(Paths.get(outPath),
        (Seq(name, r.cold, r.median, r.best, r.jobs, r.stages, r.compilesCold,
          r.compilesWarm).mkString(",") + "\n").getBytes("UTF-8"),
        java.nio.file.StandardOpenOption.APPEND)
    }
    m.spark.stop()
  }

  /** One query's record, every run through `m`: a cold run, then 3
    * warm runs if it took under 2.5 s, else 2. The jobs and stages are
    * the median warm run's (the faster of the middle two for an even
    * count). A run that throws (the name's lookup included) ends the
    * query: -1 for the cold run, or -1 for the warm median and best. */
  private[graft] def measure(m: Probe.Meter, name: String, sfDir: String): Measured = {
    def attempt(): Option[Probe.Run] =
      try {
        val fn = SparkEntry.queries(name)
        Some(m.run(fn(m.spark, sfDir)))
      } catch { case e: Throwable =>
        System.err.println(s"[bench] $name failed: $e"); None }
    attempt().fold(failed) { cold =>
      val nWarm = if (cold.secs < 2.5) 3 else 2
      val warms = Iterator.fill(nWarm)(attempt()).takeWhile(_.isDefined)
        .flatten.toSeq.sortBy(_.secs)
      if (warms.size < nWarm) failed.copy(cold = cold.secs)
      else {
        val mid = warms((nWarm - 1) / 2)
        Measured(cold.secs, Probe.median(warms.map(_.secs)), warms.head.secs,
          mid.jobs.size, mid.jobs.map(_.stages).sum, cold.compiles,
          warms.map(_.compiles).sum)
      }
    }
  }

  private def ingestChildMain(outPath: String): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val spark = GraftSession.create()
    val (rows, sec, reSec) = ingestBench(spark, sfDir)
    Files.write(Paths.get(outPath), s"$rows,$sec,$reSec\n".getBytes("UTF-8"))
    spark.stop()
  }

  // ------------------------------------------------------------------
  // aggregation + driver contract
  // ------------------------------------------------------------------

  /** Writes the detail file; when `partial` is None this is the final
    * emission and the driver-contract JSON line also goes to stdout.
    * With `partial = Some((done, total, elapsedSec))` only the detail
    * file is (re)written — cumulatively, so the newest file always
    * carries every query finished so far — and a short progress line
    * goes to stderr. stdout stays a single JSON line either way (the
    * driver greps the output for that line; printing several full
    * contract lines risks it parsing an early partial one). */
  private def emit(results: Seq[(String, Measured)],
                   ingest: (Long, Double, Double), sfDir: String,
                   detailFile: String,
                   partial: Option[(Int, Int, Double)]): Unit = {
    def r3(d: Double): Double = math.round(d * 1000) / 1000.0
    def jsonMap(rs: Seq[(String, Measured)])(f: Measured => Any) =
      rs.map { case (k, r) =>
        "\"" + k + "\":" + (f(r) match { case d: Double => r3(d); case v => v })
      }.mkString("{", ",", "}")
    def okSum(f: Measured => Double) =
      r3(results.map(r => f(r._2)).filter(_ >= 0).sum)
    val total = okSum(_.median)
    val bestTotal = okSum(_.best)
    val coldTotal = okSum(_.cold)
    val nFailed = results.count(!_._2.ok)
    val (ingestRows, ingestSecRaw, reimportSec) = ingest
    val ingestSec = r3(ingestSecRaw)
    val ingestRate =
      if (ingestSecRaw > 0) math.round(ingestRows / ingestSecRaw) else 0L
    val scalars = s""""best_total":$bestTotal,"cold_total":$coldTotal,"n_failed":$nFailed,"ingest_rows":$ingestRows,"ingest_sec":$ingestSec,"ingest_rows_per_sec":$ingestRate,"reimport_sec":${r3(reimportSec)},"sf":"$sfDir""""
    val partialTag = partial match {
      case Some((done, tot, elapsed)) =>
        s""""partial":true,"groups_done":$done,"groups_total":$tot,"elapsed_sec":${r3(elapsed)},"""
      case None => """"partial":false,"""
    }
    val maps = Seq[(String, Measured => Any)]("queries" -> (_.median),
      "queries_best" -> (_.best), "queries_cold" -> (_.cold),
      "queries_jobs" -> (_.jobs), "queries_stages" -> (_.stages),
      "queries_compiles_cold" -> (_.compilesCold),
      "queries_compiles_warm" -> (_.compilesWarm))
      .map { case (k, f) => "\"" + k + "\":" + jsonMap(results)(f) }.mkString(",")
    val detail = s"""{"metric":"total","value":$total,"unit":"sec",$partialTag$maps,$scalars}"""
    // write-then-rename so a timeout can never leave a torn JSON file
    val tmp = Paths.get(detailFile + ".tmp")
    Files.write(tmp, detail.getBytes("UTF-8"))
    Files.move(tmp, Paths.get(detailFile),
      java.nio.file.StandardCopyOption.REPLACE_EXISTING)
    partial match {
      case Some((done, tot, elapsed)) =>
        System.err.println(f"[bench] groups $done/$tot done, ${results.size} queries, elapsed ${elapsed}%.0f s, running total ${total}%.1f s")
      case None =>
        // The driver keeps only the LAST ~2000 chars of stdout and
        // parses the JSON line out of that tail, and the full
        // ~190-query map is ~14.5k chars. So the stdout contract line
        // carries the scalar aggregates, the canary medians (fixed
        // cheap plans, so window drift can be normalized out) and only
        // the slowest queries, trimmed until the whole line fits with
        // margin.
        val ok = results.filter(_._2.ok)
        val canary = jsonMap(Seq("q1_agg", "a5_counts", "p1_filters")
          .flatMap(n => ok.find(_._1 == n)))(_.median)
        def line(topN: Int): String = {
          val top = jsonMap(ok.sortBy(-_._2.median).take(topN))(_.median)
          s"""{"metric":"total","value":$total,"unit":"sec","n_queries":${results.size},"queries":$top,$scalars,"canary":$canary,"detail":"$detailFile"}"""
        }
        // finite candidate list, last resort the scalar-only line —
        // an open-ended countdown would spin forever in the (config-
        // pathological) case where even line(0) exceeds the cap
        println(Seq(20, 15, 10, 5, 0).iterator.map(line)
          .find(_.length < 1800).getOrElse(line(0)))
    }
  }

  /** Bulk-import throughput: lineitem-shaped staging rows through the
    * full importer batch (dedup → anti-join → root crossmatch → merges)
    * into an empty catalog, then an idempotent re-import. The
    * reference's comparable figure is ~3.8 k photometry rows/s
    * (BASELINE.md, 10-day Mongo→Postgres import). */
  private def ingestBench(spark: SparkSession, sfDir: String): (Long, Double, Double) = {
    import org.apache.spark.sql.functions._
    import graft.merge.SourceImporter
    val li = spark.read.parquet(s"$sfDir/lineitem.parquet")
    val staged = li.select(
      (col("l_orderkey") * 10 + col("l_linenumber")).as("diasourceid"),
      lit("bpv-bench").as("base_procver_id"),
      (col("l_orderkey") % 50000).as("diaobjectid"),
      (col("l_partkey") % 100).as("visit"),
      col("l_returnflag").as("band"),
      col("l_extendedprice").as("midpointmjdtai"),
      (col("l_extendedprice") / 10).cast("float").as("psfflux"),
      col("l_quantity").cast("float").as("psffluxerr"),
      ((col("l_orderkey") % 3600) * 0.1).as("ra"),
      ((col("l_orderkey") % 1700) * 0.1 - 85.0).as("dec"),
      current_timestamp().as("ingest_ts"))
      .withColumn("raerr", lit(null).cast("float"))
      .withColumn("decerr", lit(null).cast("float"))
      .withColumn("ra_dec_cov", lit(null).cast("float"))
    val objs = staged.select("diaobjectid", "base_procver_id", "ra", "dec", "ingest_ts")
      .dropDuplicates("diaobjectid")
    val forced = staged
      .withColumnRenamed("diasourceid", "diaforcedsourceid")
      .drop("raerr", "decerr", "ra_dec_cov")
    val store = new graft.streaming.SilverStore(
      java.nio.file.Files.createTempDirectory("ingestbench").toString)
    val empty = store.load(spark)
    val nRows = li.count() * 2   // sources + forced
    val t0 = System.nanoTime()
    store.saveDelta(SourceImporter.importBatchWithDeltas(
      empty, objs, staged, forced)._2)
    val ingestSec = (System.nanoTime() - t0) / 1e9
    // idempotent re-import: every delta is empty, so the store appends
    // nothing — per-batch write cost is O(new rows), not O(catalog)
    val t1 = System.nanoTime()
    store.saveDelta(SourceImporter.importBatchWithDeltas(
      store.load(spark), objs, staged, forced)._2)
    val reimportSec = (System.nanoTime() - t1) / 1e9
    (nRows, ingestSec, reimportSec)
  }
}
