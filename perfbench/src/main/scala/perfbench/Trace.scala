package perfbench

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths}
import java.util.concurrent.{ConcurrentHashMap, ConcurrentLinkedQueue}
import java.util.concurrent.atomic.AtomicLong
import scala.jdk.CollectionConverters._
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.streaming.StreamingQueryListener

/** Spark task counters summed over some set of tasks. */
final class Acc {
  var jobs = 0L; var tasks = 0L; var runMs = 0L
  var shuffleWrite = 0L; var shuffleRead = 0L; var spill = 0L
  var recordsRead = 0L; var bytesOut = 0L
  def add(m: org.apache.spark.executor.TaskMetrics): Unit = synchronized {
    tasks += 1
    runMs += m.executorRunTime
    shuffleWrite += m.shuffleWriteMetrics.bytesWritten
    shuffleRead += m.shuffleReadMetrics.totalBytesRead
    spill += m.memoryBytesSpilled + m.diskBytesSpilled
    recordsRead += m.inputMetrics.recordsRead
    bytesOut += m.outputMetrics.bytesWritten
  }
  def job(): Unit = synchronized { jobs += 1 }
  def plus(o: Acc): Acc = {
    val r = new Acc
    r.jobs = jobs + o.jobs; r.tasks = tasks + o.tasks; r.runMs = runMs + o.runMs
    r.shuffleWrite = shuffleWrite + o.shuffleWrite; r.shuffleRead = shuffleRead + o.shuffleRead
    r.spill = spill + o.spill; r.recordsRead = recordsRead + o.recordsRead
    r.bytesOut = bytesOut + o.bytesOut
    r
  }
  def minus(o: Acc): Acc = {
    val r = new Acc
    r.jobs = jobs - o.jobs; r.tasks = tasks - o.tasks; r.runMs = runMs - o.runMs
    r.shuffleWrite = shuffleWrite - o.shuffleWrite; r.shuffleRead = shuffleRead - o.shuffleRead
    r.spill = spill - o.spill; r.recordsRead = recordsRead - o.recordsRead
    r.bytesOut = bytesOut - o.bytesOut
    r
  }
  def copy: Acc = plus(new Acc)
  def json: String = Json.obj(Seq("jobs" -> jobs, "tasks" -> tasks, "run_ms" -> runMs,
    "shuffle_write_bytes" -> shuffleWrite, "shuffle_read_bytes" -> shuffleRead,
    "spill_bytes" -> spill, "records_read" -> recordsRead, "bytes_written" -> bytesOut)
    .map { case (k, v) => k -> v.toString })
}

/** A traced interval; `parent` 0 is the root. */
final case class Span(id: Long, name: String, parent: Long, start: Double,
    end: Double, attrs: Seq[(String, Double)])

/** A Spark job as the listener saw it: the program's own label
  * (`spark.job.description`), the streaming batch it ran in, and the
  * benchmark span that was open on the submitting thread. */
final case class JobRec(id: Int, label: String, batch: Long, span: Long,
    start: Long, var end: Long = -1L)

/** Spans around calls into the program's layers, plus Spark's own
  * listeners: job/stage/task events attributed to the innermost open
  * span (through a thread-local Spark property, which Spark carries
  * into the jobs a call submits) and to the streaming batch they ran
  * in. Everything is kept in memory and written out at exit.
  *
  * The listeners can be detached and attached again between operations
  * (`tracing`), so a traced run can time untraced turns with nothing of
  * the benchmark's attached to Spark and compare them with traced ones.
  * Counters cover only the time the listeners were attached. */
final class Tracer(spark: SparkSession, val workload: String) {
  import Tracer._

  private val sc = spark.sparkContext
  private val spans = new ConcurrentLinkedQueue[Span]
  private val nextId = new AtomicLong(0)
  private val open = new ThreadLocal[java.lang.Long] {
    override def initialValue(): java.lang.Long = 0L
  }
  val total = new Acc
  private val bySpan = new ConcurrentHashMap[Long, Acc]
  private val byBatchLabel = new ConcurrentHashMap[(Long, String), Acc]
  private val stageOwner = new ConcurrentHashMap[Int, JobRec]
  val jobs = new ConcurrentHashMap[Int, JobRec]
  val progress = new ConcurrentLinkedQueue[org.apache.spark.sql.streaming.StreamingQueryProgress]

  /** Run `f` inside a span named `name`, child of the thread's open
    * span. */
  def span[A](name: String)(f: => A): A = {
    val id = nextId.incrementAndGet()
    val parent: Long = open.get()
    open.set(id)
    sc.setLocalProperty(SpanKey, id.toString)
    val s = Clock.now()
    try f
    finally {
      spans.add(Span(id, name, parent, s, Clock.now(), Nil))
      open.set(parent)
      sc.setLocalProperty(SpanKey, if (parent == 0L) null else parent.toString)
    }
  }
  def currentSpan: Long = open.get()

  /** Add a span whose times were measured elsewhere (streaming batches). */
  def record(name: String, start: Double, end: Double, attrs: Seq[(String, Double)]): Unit =
    spans.add(Span(nextId.incrementAndGet(), name, 0L, start, end, attrs))

  private def accOf[K](m: ConcurrentHashMap[K, Acc], k: K): Acc =
    m.computeIfAbsent(k, _ => new Acc)

  val sparkListener: SparkListener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = {
      def prop(k: String) = Option(e.properties).flatMap(p => Option(p.getProperty(k)))
      val rec = JobRec(e.jobId, prop("spark.job.description").getOrElse(""),
        prop("streaming.sql.batchId").map(_.toLong).getOrElse(-1L),
        prop(SpanKey).map(_.toLong).getOrElse(0L), e.time)
      total.job()
      jobs.put(e.jobId, rec)
      e.stageIds.foreach(stageOwner.put(_, rec))
      if (rec.span != 0L) accOf(bySpan, rec.span).job()
      if (rec.batch >= 0) accOf(byBatchLabel, (rec.batch, labelKind(rec.label))).job()
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit =
      Option(jobs.get(e.jobId)).foreach(_.end = e.time)
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = Option(e.taskMetrics).foreach { m =>
      total.add(m)
      Option(stageOwner.get(e.stageId)).foreach { rec =>
        if (rec.span != 0L) accOf(bySpan, rec.span).add(m)
        if (rec.batch >= 0) accOf(byBatchLabel, (rec.batch, labelKind(rec.label))).add(m)
      }
    }
  }

  val streamListener: StreamingQueryListener = new StreamingQueryListener {
    override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
    override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit =
      progress.add(e.progress)
    override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
  }

  private var attached = false
  def attach(): Unit = if (!attached) {
    sc.addSparkListener(sparkListener)
    spark.streams.addListener(streamListener)
    attached = true
  }
  /** Deliver every queued event, then remove the listeners. */
  def detach(): Unit = if (attached) {
    drain()
    sc.removeSparkListener(sparkListener)
    spark.streams.removeListener(streamListener)
    attached = false
  }
  def tracing(on: Boolean): Unit = if (on) attach() else detach()
  def drain(): Unit = org.apache.spark.PerfbenchBridge.drainListeners(sc)

  /** Counters of span `id` and every span below it. */
  def subtree(id: Long): Acc = {
    val kids = spans.asScala.groupBy(_.parent)
    def go(s: Long): Acc =
      kids.getOrElse(s, Nil).map(c => go(c.id)).foldLeft(
        Option(bySpan.get(s)).map(_.copy).getOrElse(new Acc))(_ plus _)
    go(id)
  }
  def spansNamed(name: String): Seq[Span] = spans.asScala.filter(_.name == name).toSeq
  def children(id: Long): Seq[Span] = spans.asScala.filter(_.parent == id).toSeq

  /** Counters and jobs of streaming batch `b` whose label starts with
    * the given kind. */
  def batchAcc(b: Long, kind: String): Acc =
    Option(byBatchLabel.get((b, kind))).map(_.copy).getOrElse(new Acc)
  def batchJobs(b: Long, kind: String): Seq[JobRec] =
    jobs.values.asScala.filter(j => j.batch == b && labelKind(j.label) == kind).toSeq

  def write(dir: String, seed: Long, perLayer: Seq[(String, Double)]): String = {
    Files.createDirectories(Paths.get(dir))
    val path = Paths.get(dir, s"$workload-seed$seed.json")
    val spanJson = spans.asScala.toSeq.sortBy(_.id).map { s =>
      Json.obj(Seq("id" -> s.id.toString, "name" -> Json.str(s.name),
        "parent" -> (if (s.parent == 0L) "null" else s.parent.toString),
        "start_s" -> Json.num(s.start), "end_s" -> Json.num(s.end),
        "workload" -> Json.str(workload),
        "counters" -> Option(bySpan.get(s.id)).map(_.json).getOrElse("null")) ++
        s.attrs.map { case (k, v) => k -> Json.num(v) })
    }
    val body = Json.obj(Seq(
      "workload" -> Json.str(workload), "seed" -> seed.toString,
      "per_layer" -> Json.obj(perLayer.map { case (k, v) => k -> Json.num(v) }),
      "spark_total" -> total.json,
      "spans" -> Json.arr(spanJson),
      "stream_progress" -> Json.arr(progress.asScala.toSeq.map(_.json))))
    Files.write(path, body.getBytes(StandardCharsets.UTF_8))
    path.toString
  }
}

object Tracer {
  val SpanKey = "perfbench.span"
  /** Whether turn k (a streaming batch, a cycle of the read mix) of a
    * traced run's window is traced: traced, untraced, untraced, traced,
    * and again, so a steady drift in timings (JIT warm-up) weighs on
    * traced and untraced turns alike over every four turns. */
  def tracedTurn(k: Int): Boolean = k % 4 == 0 || k % 4 == 3
  /** The program's job labels, by kind: `importer: procver groups`
    * and `silver write: <table>`. */
  def labelKind(label: String): String =
    if (label.startsWith("importer:")) "importer"
    else if (label.startsWith("silver write:")) "silver write"
    else "other"
}

/** Spark totals over the traced turns of a measurement window, which
  * took `tracedS` seconds, and JVM totals over the whole window. */
object WindowLayers {
  def report(ctx: Ctx, t: Tracer, before: Acc, jvm: JvmWindow, tracedS: Double): Unit = {
    t.drain()
    val d = t.total.copy.minus(before)
    val r = ctx.report
    r.put("spark.executor_busy_ratio", d.runMs / 1000.0 / (tracedS * ctx.cores), "ratio")
    r.put("spark.jobs", d.jobs, "count")
    r.put("spark.tasks", d.tasks, "count")
    r.put("spark.shuffle_bytes", d.shuffleWrite, "B")
    r.put("spark.spill_bytes", d.spill, "B")
    r.put("jvm.gc_s", jvm.gcSeconds, "s")
    r.put("jvm.heap_peak_bytes", jvm.heapPeakBytes, "B")
  }
}
