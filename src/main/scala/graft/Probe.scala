package graft

import java.util.concurrent.ConcurrentHashMap

import scala.jdk.CollectionConverters._

import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobEnd, SparkListenerJobStart}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator
import org.apache.spark.sql.execution.FormattedMode
import org.apache.spark.sql.graftbridge.Bridge

/** Solo measurement of battery queries: `runMain graft.Probe
  * <name[,name...]> [runs]` over SPARK_GRAFT_SF_DIR, default 3 runs with
  * Bench's cache hygiene between them. Per query it prints
  *  - each run's seconds with its Spark job and stage counts and the
  *    classes it compiled: fixed-cost queries pay scheduler round-trips
  *    and Janino compiles, which wall-clock alone can't show;
  *  - the last run's per-job census: id, wall-clock, and the label or
  *    call site that scheduled it;
  *  - the formatted physical plan of the last run's frame. A composite
  *    query (foreachBatch folds, multi-pass pipelines) runs its
  *    internal actions while building that frame, so for st1-st4, cc5
  *    and ev8 the plan is only the last leg and the census is the
  *    evidence.
  *
  * SPARK_GRAFT_CONF (semicolon-separated k=v) overrides session conf,
  * so an A/B like "same query, AQE off" is one env var instead of a
  * recompile. Bench never reads it. [[Meter]] is the measured run
  * [[Bench]] and [[TailScale]] share. */
object Probe {

  final case class Job(id: Int, stages: Int, label: String,
      startNs: Long) {
    @volatile var endNs: Long = -1L
  }

  /** One measured run: wall seconds of building the frame plus its
    * noop-sink write, the jobs both launched, the generated classes
    * Janino compiled meanwhile and their compile milliseconds (a plan
    * shape seen before is a codegen-cache hit and compiles nothing),
    * and (when asked for) the frame's formatted plan. */
  final case class Run(secs: Double, jobs: Seq[Job], compiles: Long,
      compileMs: Double, plan: Option[String]) {
    def summary: String =
      f"$secs%.3f s jobs=${jobs.size} stages=${jobs.map(_.stages).sum} " +
        f"compiles=$compiles compile_ms=$compileMs%.0f"
  }

  /** Process-wide codegen counters: classes compiled, compile ns. The
    * counts are per JVM, so in local mode they include executor-side
    * compiles, which hit the same cache. */
  def codegenCounters(): (Long, Long) =
    (CodegenMetrics.METRIC_COMPILATION_TIME.getCount, CodeGenerator.compileTime)

  /** The middle value of `xs`; for an even count, the mean of the
    * middle two. */
  def median(xs: Seq[Double]): Double = {
    val s = xs.sorted
    val n = s.size
    if (n % 2 == 1) s(n / 2) else (s(n / 2 - 1) + s(n / 2)) / 2
  }

  /** The one listener: every job's stage count, label and wall-clock. */
  private final class Census extends SparkListener {
    val jobs = new ConcurrentHashMap[Int, Job]

    override def onJobStart(j: SparkListenerJobStart): Unit = {
      // the result stage's name carries the call site ("parquet at
      // Foo.scala:123"). AQE/broadcast futures and foreachBatch jobs
      // collapse to one anonymous site; for those, the per-stage call
      // sites name the operators the job materialized.
      val site = j.stageInfos.lastOption.map(_.name).getOrElse("?")
      val anon = site.contains("withThreadLocalCaptured") ||
        site.startsWith("start at")
      val stageSites = j.stageInfos.map(_.name).distinct
        .filterNot(_.contains("withThreadLocalCaptured"))
      val where =
        if (anon && stageSites.nonEmpty)
          s"$site <- [${stageSites.take(4).mkString(" | ")}]"
        else site
      // job labels (`Jobs.labelled`: silver, gold and rollup
      // writes, the importer, the ltcv driver-side collects)
      // survive in the job properties when every call site collapses
      // to the stream's start()
      val label = Option(j.properties)
        .flatMap(p => Option(p.getProperty("spark.job.description")))
        .fold(where)(d => s"[$d] $where")
      jobs.put(j.jobId, Job(j.jobId, j.stageInfos.size, label, System.nanoTime())): Unit
    }

    override def onJobEnd(j: SparkListenerJobEnd): Unit =
      Option(jobs.get(j.jobId)).foreach(_.endNs = System.nanoTime())
  }

  /** Measured runs on one session, whose job census listener it
    * installs. */
  final class Meter(val spark: SparkSession) {
    private val census = new Census
    spark.sparkContext.addSparkListener(census)

    /** Build the frame and write it to the noop sink, timed; then drain
      * the listener bus (outside the timed region: events arrive
      * asynchronously, and an undrained run's jobs undercount and bleed
      * into the next), take the census, and clean the session's caches.
      * A build or write that throws still drains and cleans before the
      * exception leaves, so its jobs and caches never reach the next run. */
    def run(build: => DataFrame, explain: Boolean = false): Run = {
      census.jobs.clear()
      val (n0, ns0) = codegenCounters()
      val (secs, compiles, compileNs, plan) = try {
        val t0 = System.nanoTime()
        val df = build
        df.write.mode("overwrite").format("noop").save()
        val secs = (System.nanoTime() - t0) / 1e9
        val (n1, ns1) = codegenCounters()
        (secs, n1 - n0, ns1 - ns0,
          Option.when(explain)(df.queryExecution.explainString(FormattedMode)))
      } finally {
        Bridge.drainListeners(spark.sparkContext)
        GraftSession.clean(spark)
      }
      Run(secs, census.jobs.values.asScala.toSeq.sortBy(_.id), compiles,
        compileNs / 1e6, plan)
    }

    def close(): Unit = spark.sparkContext.removeSparkListener(census)
  }

  /** The probing mains' session: [[GraftSession]] with SPARK_GRAFT_CONF
    * applied, metered. */
  def meter(): Meter = {
    val conf = sys.env.get("SPARK_GRAFT_CONF").toSeq.flatMap(_.split(';'))
      .map(_.trim).filter(_.nonEmpty).map { kv =>
        kv.split("=", 2) match {
          case Array(k, v) => k -> v
          case _ => sys.error(s"bad SPARK_GRAFT_CONF entry (need k=v): '$kv'")
        }
      }.toMap
    new Meter(GraftSession.create(conf = conf))
  }

  def main(args: Array[String]): Unit = {
    val names = args(0).split(",").toSeq
    val runs = if (args.length > 1) args(1).toInt else 3
    require(runs >= 1, s"runs must be >= 1, got $runs")
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR",
      sys.error("set SPARK_GRAFT_SF_DIR to a test-data directory"))
    val m = meter()
    names.foreach { name =>
      val fn = SparkEntry.queries(name)
      (1 to runs).foreach { i =>
        val last = i == runs
        val r = m.run(fn(m.spark, sfDir), explain = last)
        println(s"[probe] $name run$i: ${r.summary}")
        if (last) {
          r.jobs.foreach { j =>
            val ms = if (j.endNs < 0) Double.NaN else (j.endNs - j.startNs) / 1e6
            println(f"[probe] $name job ${j.id}%4d $ms%8.1f ms  ${j.label}")
          }
          r.plan.foreach(plan => println(s"[probe] $name plan:\n$plan"))
        }
      }
    }
    m.spark.stop()
  }
}
