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
  * Process model: the battery is NOT one long-lived JVM. Round-6
  * measurement showed 76 queries x 4 executions in a single JVM
  * contaminate each other (codegen-cache pressure + GC residue):
  * `d3_simhash` measured 18.6 s in-battery vs 5.5 s in an isolated
  * JVM, d9 16.7 vs 2.2, e1 13.5 vs 2.8 — the battery was
  * overstating the engine ~2x. The codegen half has a measured
  * mechanism: Spark's generated-class cache was a 100-entry LRU, and a
  * work set larger than 100 classes (one alert micro-batch alone needs
  * ~151) evicts every class before its next use, so each execution
  * recompiles them all. build.sbt sizes the cache to 1000 entries, and
  * children start with the parent's JVM arguments, so they get that
  * setting too. The parent still forks a child JVM
  * per query GROUP: every dedup/composition query (d*, e*, cc*) runs
  * in its own JVM, the cheap relational/scalar queries run in chunks
  * of 8 with the same inter-query cache hygiene. JVM + session
  * startup happens OUTSIDE the timed region, so `cold` still means
  * "first execution of this plan" (codegen compile), not "JVM boot".
  *
  * Within a child, each query runs once cold — paying whole-stage
  * codegen compilation, fixed per-plan overhead that amortizes away on
  * a long-lived cluster — then 3 warm runs if cold < 2.5 s (jittery
  * sub-second plans need the middle-of-3 median) or 2 warm runs
  * otherwise (steady multi-second plans; the 2-run median is their
  * mean, and the third run was ~5 min of battery wall).
  * `value` is the sum of warm MEDIANs. The driver captures only the
  * last ~2000 chars of stdout, so the final stdout line carries the
  * scalar aggregates plus the top-slowest queries only (trimmed to
  * fit); the complete per-query cold/median/best maps live in
  * `bench_detail.json` alone.
  *
  * Survivability (round 14, after BENCH_r13 died rc 124 with zero
  * data): the parent rewrites `bench_detail.json` cumulatively after
  * every finished group (atomic tmp+rename, `"partial":true` +
  * group/elapsed counters), so a driver timeout preserves every
  * query measured up to the kill instead of erasing the round.
  */
object Bench {

  def main(args: Array[String]): Unit = args.headOption match {
    case Some("--child")  => childMain(args(1), args(2).split(",").toSeq)
    case Some("--ingest") => ingestChildMain(args(1))
    // smoke mode: run the full parent pipeline (forking, incremental
    // detail rewrites, final stdout line) on a named subset; writes
    // bench_detail_smoke.json so it can never clobber a real
    // battery's bench_detail.json record
    case Some("--only") =>
      require(args.length > 1 && args(1).nonEmpty, "--only needs a name list")
      val only = args(1).split(",").toSet
      val unknown = only -- SparkEntry.queries.keySet
      require(unknown.isEmpty, s"unknown queries: ${unknown.mkString(",")}")
      parentMain(Some(only))
    case _ => parentMain(None)
  }

  // ------------------------------------------------------------------
  // parent: fork a JVM per group, aggregate, emit the driver contract
  // ------------------------------------------------------------------

  private def parentMain(only: Option[Set[String]]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val names = SparkEntry.queries.keys.toSeq.sorted
      .filter(n => only.forall(_(n)))
    // Heavy dedup / clustering / end-to-end compositions are isolated
    // from the CHEAP chunks; everything else (<~2.5 s) runs in chunks
    // of 8 where residue is negligible. The historical evidence for
    // isolation is all HETEROGENEOUS co-tenancy: t9/t10 measured 2-3x
    // their isolated steady state inside a mixed chunk, m1/m7/m9
    // showed 4-12x swings sharing a JVM with other query shapes
    // (r8/r9 logs), r6_ndcg hit 18.9 s inside a relational chunk vs
    // 2.4 s solo (BENCH_r10). Members of soloExtra therefore never mix
    // with the relational chunks — but SAME-SHAPED families may share
    // one JVM (familyDef below), which held medians at solo levels for
    // the light family (two batteries) and the media trio (r14).
    val soloExtra = Set("t9_lm_score", "t10_dsir_weights", "t20_kn_score",
      "t21_trigram_kn", "t23_kn_buckets", "st3_stream_neardup",
      "st4_pubsub_alerts",
      "g1_pagerank", "g2_triangles", "g3_link_predict", "g4_communities",
      "g5_bfs", "a16_structure_func", "a19_lomb_scargle",
      "m1_multimodal", "m7_image_dedup", "m9_video_framehash",
      "r6_ndcg", "r9_proximity",
      // sp1 runs two full-cohort photometry dedup passes (~4.3 s at
      // sf0.1) — above the ~2.5 s chunk guidance, so it gets its own
      // JVM rather than bleeding GC/JIT residue into chunk neighbors
      "sp1_wanted_spectra",
      // event queries above the ~2.5 s chunk guidance; the rest of
      // ev* (~1 s each) run chunked — they only ever sat in solo JVMs
      // because startsWith("e") matched the ev prefix. ev10/ev12 are
      // listed here then re-routed into the light chunks below.
      "ev8_incremental_rollup", "ev10_rfm", "ev12_peak_concurrency")
    // Light members of the solo families (r15 de-solo pass): warm
    // median < ~2 s and cold < ~6 s measured solo at sf0.1
    // (r14 bench_detail) — the blanket d*/e*/cc* one-per-JVM rule was
    // spending ~20 JVM forks (~4 min battery wall) on queries whose
    // plans are too small to leave the GC/JIT residue the rule exists
    // for. They run chunked among THEMSELVES (chunks of 5, never
    // mixed into the relational chunks) so the heavy dedup solos and
    // the cheap chunks both keep their isolation; ev10/ev12/r9 move
    // from soloExtra into the same light chunks on the same numbers.
    val lightFamily = Set(
      "cc1_dedup_clusters", "cc2_dedup_apply", "cc3_minhash_clusters",
      "cc4_dedup_best",
      "d1_exact_dedup", "d2_minhash_lsh", "d8_incremental",
      "d9_incremental_neardup", "d10_incremental_simhash",
      "d11_snapshot_diff", "d12_containment", "d13_scd_history",
      "d14_timetravel_diff", "d15_normalized_dedup", "d16_cdc_compact",
      "d17_entity_resolve", "e2_decontaminate", "e5_fuzzy_decontaminate",
      "ev10_rfm", "ev12_peak_concurrency", "r9_proximity",
      // r15 second de-solo pass: the 2-3 s-median d/e tail (cold < 8 s
      // solo, r14 bench_detail). Chunked among themselves only — the
      // original d3-in-a-76-query-JVM contamination was a much larger
      // shared JVM with heterogeneous plans; homogeneous chunks of 5
      // with the inter-query cache hygiene held the light family's
      // medians at solo levels in r14/r15 batteries.
      "d3_simhash", "d4_ngram_jaccard", "d7_dup_spans",
      "e4_tokenized_pack", "e6_cluster_split", "e7_bloom_decontaminate",
      "e9_contamination_report", "e10_suite_rollup")
    // HOMOGENEOUS family chunks (r15, extending the r14 media-trio
    // move): the original solo rule exists because heterogeneous
    // co-tenancy showed 2-12x swings (d3 in the 76-query JVM, r6 in a
    // relational chunk) — but a chunk of SAME-SHAPED plans with the
    // inter-query cache hygiene held the light family's medians at
    // solo levels for two batteries running. Each Seq below shares one
    // JVM: the multimodal decode trio (r14), the co-purchase graph
    // family, the n-gram LM family (t9/t10's documented 2-3x chunk
    // inflation was in a MIXED chunk), the periodogram pair, the
    // foreachBatch streaming pair, the embedding-dedup pair, and the
    // corpus-funnel trio. Validated r15 by an --only smoke run against
    // the same-session solo battery (see OPTIMIZATION_r15.md); a
    // family whose members inflate >15% vs solo goes back to solo.
    val familyDef: Seq[Seq[String]] = Seq(
      Seq("m1_multimodal", "m7_image_dedup", "m9_video_framehash"),
      Seq("g1_pagerank", "g2_triangles", "g3_link_predict",
        "g4_communities", "g5_bfs"),
      Seq("t9_lm_score", "t10_dsir_weights", "t20_kn_score",
        "t21_trigram_kn", "t23_kn_buckets"),
      Seq("a16_structure_func", "a19_lomb_scargle"),
      Seq("st3_stream_neardup", "st4_pubsub_alerts"),
      Seq("d5_embed_neardup", "d6_semantic_dedup"),
      Seq("e1_corpus_funnel", "e3_export_manifest", "e8_training_export"))
    def family(n: String, p: String) =
      n.startsWith(p) && n.length > p.length && n(p.length).isDigit
    val (solo0, cheap) = names.partition(n =>
      family(n, "d") || family(n, "e") || family(n, "cc") || soloExtra(n))
    val (light, soloRest) = solo0.partition(lightFamily)
    val familySet = familyDef.flatten.toSet
    val (fam, solo) = soloRest.partition(familySet)
    val famChunks = familyDef.map(_.filter(fam.contains)).filter(_.nonEmpty)
    val groups: Seq[Seq[String]] =
      solo.map(Seq(_)) ++ famChunks ++
        light.grouped(5).toSeq ++ cheap.grouped(8).toSeq

    // Stream results: rewrite bench_detail.json after EVERY group (and
    // again after ingest) so a driver-side timeout (BENCH_r13: rc 124,
    // parsed null — the old Bench buffered one JSON line to the very
    // end and the whole round's perf record died with it) still leaves
    // complete per-query numbers for every finished group on disk.
    val log = new File("bench_children.log")
    val t0 = System.nanoTime()
    val acc = scala.collection.mutable.ArrayBuffer
      .empty[(String, Double, Double, Double)]
    // cpu-suffixed: the driver benches the same tree at two core counts
    // back to back, and a single shared filename meant the second run
    // overwrote the first's full per-query record (r15 lost its 32-core
    // map to the 8-core rerun)
    val detailFile =
      if (only.isDefined) "bench_detail_smoke.json"
      else s"bench_detail_c${GraftSession.cpus}.json"
    groups.zipWithIndex.foreach { case (g, i) =>
      System.err.println(s"[bench] forking group ${i + 1}/${groups.size}: ${g.mkString(",")}")
      acc ++= forkGroup(g, log)
      emit(acc.toSeq, (0L, -1.0, -1.0), sfDir, detailFile,
        partial = Some((i + 1, groups.size, (System.nanoTime() - t0) / 1e9)))
    }

    val ingest = forkIngest(log)
    emit(acc.toSeq, ingest, sfDir, detailFile, partial = None)
  }

  /** Fork one child JVM for `names`; returns (name, cold, median, best)
    * per query. The child appends results incrementally, so a child
    * that dies mid-group still reports the queries it finished; any
    * query still unreported after the fork is retried ONCE in a fresh
    * child (a one-off environment hiccup — classpath race with a
    * concurrent compile, OOM-killed container neighbor — must not
    * stamp -1 on a healthy query). Only after the retry does a missing
    * query yield -1s (a failing query must not masquerade as a fast
    * one, and -1 is excluded from every total). */
  private def forkGroup(names: Seq[String], log: File): Seq[(String, Double, Double, Double)] = {
    def attempt(ns: Seq[String]): Map[String, (Double, Double, Double)] = {
      val out = Files.createTempFile("benchgrp", ".csv").toFile
      forkChild(Seq("--child", out.getAbsolutePath, ns.mkString(",")), log,
        timeoutMin = 20)
      val reported: Map[String, (Double, Double, Double)] =
        if (!out.exists()) Map.empty
        else scala.io.Source.fromFile(out).getLines().flatMap { line =>
          line.split(",") match {
            case Array(n, c, m, b) if c.toDouble >= 0 =>
              Some(n -> (c.toDouble, m.toDouble, b.toDouble))
            case _ => None
          }
        }.toMap
      out.delete()
      reported
    }
    val first = attempt(names)
    val missing = names.filterNot(first.contains)
    val second =
      if (missing.isEmpty) Map.empty[String, (Double, Double, Double)]
      else {
        System.err.println(s"[bench] retrying unreported: ${missing.mkString(",")}")
        attempt(missing)
      }
    names.map { n =>
      val (c, m, b) = first.orElse(second).applyOrElse(
        n, (_: String) => (-1.0, -1.0, -1.0))
      (n, c, m, b)
    }
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
    val spark = GraftSession.create()
    // Generic untimed warmup: a fresh JVM would otherwise pay Spark's
    // OWN JIT/classloading (parquet reader, exchange, codegen
    // compiler, noop sink) inside the first timed runs — measured
    // ~2x inflation on the first queries of a chunk (x1 0.75->1.61 s
    // vs the long-lived r6 JVM). This plan shares no fragment with
    // any battery query, so every query's `cold` remains a true
    // first-execution-of-that-plan measurement; only process-level
    // infrastructure gets hot, as it would be on any real cluster.
    locally {
      import org.apache.spark.sql.functions._
      spark.read.parquet(s"$sfDir/region.parquet")
        .groupBy("r_regionkey").agg(count(lit(1)).as("_w"))
        .orderBy("r_regionkey")
        .write.mode("overwrite").format("noop").save()
    }
    // truncate, then APPEND one line per finished query: a child that
    // dies mid-group (OOM, classpath race) still reports what it ran,
    // and the parent retries only the remainder
    Files.write(Paths.get(outPath), Array.emptyByteArray)
    names.foreach { name =>
      // the lookup itself can throw (NoClassDefFoundError if the
      // classes dir is being rewritten under us) — contain it to this
      // query, not the group
      val fn = try SparkEntry.queries(name) catch { case e: Throwable =>
        System.err.println(s"[bench] $name lookup failed: $e")
        (_: SparkSession, _: String) => throw e
      }
      def run(): Double = {
        val t0 = System.nanoTime()
        // noop sink, not count(): under Aggregate(count(1)) Catalyst
        // prunes projections, unreferenced windows, and ORDER BY
        // sorts, so count() times a gutted plan — noop executes the
        // same full plan Verify writes, minus only the parquet encode
        try { fn(spark, sfDir).write.mode("overwrite").format("noop").save()
          (System.nanoTime() - t0) / 1e9 }
        catch { case e: Throwable =>
          System.err.println(s"[bench] $name failed: ${e.getMessage}"); -1.0 }
      }
      // clean between runs, so operators that persist() intermediates
      // are measured recomputing
      def cleanRun(): Double = {
        val t = run()
        GraftSession.clean(spark)
        t
      }
      // Adaptive warm count: sub-2.5s-cold queries keep 3 warms (their
      // run-to-run jitter is up to ~2x, the middle-of-3 median absorbs
      // one outlier for ~65 s of total battery time); the heavy tail
      // (cold >= 2.5 s, steady multi-second runs) gets 2 warms — the
      // median of two is their mean — which cuts ~5 min off the
      // battery wall without touching the cold measurement.
      val cold = cleanRun()
      val nWarm = if (cold >= 0 && cold < 2.5) 3 else 2
      val warms = Seq.fill(nWarm)(cleanRun()).sorted
      val median =
        if (warms.exists(_ < 0)) warms.head
        else if (nWarm == 3) warms(1)
        else (warms.head + warms(1)) / 2
      Files.write(Paths.get(outPath),
        s"$name,$cold,$median,${warms.head}\n".getBytes("UTF-8"),
        java.nio.file.StandardOpenOption.APPEND)
    }
    spark.stop()
  }

  private def ingestChildMain(outPath: String): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val spark = GraftSession.create()
    val (rows, sec, reSec) = ingestBench(spark, sfDir)
    Files.write(Paths.get(outPath), s"$rows,$sec,$reSec\n".getBytes("UTF-8"))
    spark.stop()
  }

  // ------------------------------------------------------------------
  // aggregation + driver contract (unchanged stdout format)
  // ------------------------------------------------------------------

  /** Writes bench_detail.json; when `partial` is None this is the final
    * emission and the driver-contract JSON line also goes to stdout.
    * With `partial = Some((done, total, elapsedSec))` only the detail
    * file is (re)written — cumulatively, so the newest file always
    * carries every query finished so far — and a short progress line
    * goes to stderr. stdout stays a single JSON line either way (the
    * driver greps the output for that line; printing several full
    * contract lines risks it parsing an early partial one). */
  private def emit(results: Seq[(String, Double, Double, Double)],
                   ingest: (Long, Double, Double), sfDir: String,
                   detailFile: String,
                   partial: Option[(Int, Int, Double)]): Unit = {
    // bench_detail.json carries the full per-query cold/median/best
    // maps; the stdout contract line (built at the bottom) is
    // totals-only plus a top-slowest excerpt, sized for the driver's
    // ~2000-char stdout tail capture.
    def r3(d: Double): Double = math.round(d * 1000) / 1000.0
    def jsonMap(f: ((String, Double, Double, Double)) => (String, Double)) =
      results.map(r => { val (k, v) = f(r); "\"" + k + "\":" + r3(v) })
        .mkString("{", ",", "}")
    val qs = jsonMap(r => (r._1, r._3))
    val qsBest = jsonMap(r => (r._1, r._4))
    val qsCold = jsonMap(r => (r._1, r._2))
    def okSum(f: ((String, Double, Double, Double)) => Double) =
      r3(results.map(f).filter(_ >= 0).sum)
    val total = okSum(_._3)
    val bestTotal = okSum(_._4)
    val coldTotal = okSum(_._2)
    val nFailed = results.count(_._3 < 0)
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
    val detail = s"""{"metric":"total","value":$total,"unit":"sec",$partialTag"queries":$qs,"queries_best":$qsBest,"queries_cold":$qsCold,$scalars}"""
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
        // parses the JSON line out of that tail. The full ~190-query
        // map is ~14.5k chars (BENCH_r13/r14 both came back
        // parsed:null at rc 0 because of it), so the stdout contract
        // line carries the scalar aggregates plus only the slowest
        // queries, trimmed until the whole line fits with margin; the
        // complete per-query cold/median/best maps live exclusively
        // in bench_detail.json.
        def line(topN: Int): String = {
          val top = results.filter(_._3 >= 0).sortBy(-_._3).take(topN)
            .map(r => "\"" + r._1 + "\":" + r3(r._3)).mkString("{", ",", "}")
          s"""{"metric":"total","value":$total,"unit":"sec","n_queries":${results.size},"queries":$top,$scalars,"detail":"$detailFile"}"""
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
