package perfbench

import org.apache.spark.sql.SparkSession

/** Everything one run shares. */
final case class Ctx(spark: SparkSession, workload: String, seed: Long,
    seconds: Double, cores: Int, work: String, tracer: Option[Tracer],
    out: Outcomes, report: Report) {
  def traced: Boolean = tracer.isDefined
  /** Run `f` in a span when tracing, else plainly. */
  def span[A](name: String, on: Boolean = true)(f: => A): A = tracer match {
    case Some(t) if on => t.span(name)(f)
    case _ => f
  }
  def note(msg: String): Unit =
    System.err.println(f"[perfbench] $workload ${Clock.now()}%.1fs: $msg")
}

/** One benchmark run: `--workload <name> --seed <n> --seconds <s>
  * --trace <0|1>`, plus the working directory, core count and trace
  * output directory chosen by `perfbench/run.py`. Progress goes to
  * stderr; the last stdout line is the result JSON. */
object Main {
  /** Alert nights of ~2,000 alerts (500 new objects a night, eight
    * active nights, half of them detected). */
  val ObjectsPerNight = 500
  /** The served catalog: 400 new objects a night through night 12. */
  val ServeObjectsPerNight = 400
  val ServeLastNight = 12

  def main(args: Array[String]): Unit = {
    val opts = args.grouped(2).map { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val workload = opts("workload")
    val seed = opts("seed").toLong
    val cores = opts("cores").toInt
    val work = opts("work")
    val trace = opts("trace") == "1"
    val spark = SparkSession.builder()
      .master(s"local[$cores]")
      .appName(s"perfbench-$workload")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", s"$work/spark-local")
      .config("spark.sql.warehouse.dir", s"$work/warehouse")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    val tracer = if (trace) Some(new Tracer(spark, workload)) else None
    tracer.foreach(_.attach())
    val ctx = Ctx(spark, workload, seed, opts("seconds").toDouble, cores, work, tracer,
      new Outcomes, new Report)

    // the canary is a per-layer metric: only a traced run spends on it
    val canaryStart = if (trace) Canary.run(spark) else Double.NaN
    try workload match {
      case "alert_ingest" => AlertIngest.run(ctx, ObjectsPerNight)
      case "ltcv_serve" => LtcvServe.run(ctx, ServeObjectsPerNight, ServeLastNight)
    } catch {
      case e: Throwable =>
        System.err.println(s"[perfbench] $workload failed")
        e.printStackTrace()
        spark.stop()
        System.exit(4)
    }
    val report = ctx.report
    tracer.foreach { t =>
      val canaryEnd = Canary.run(spark)
      ctx.note(f"canary $canaryStart%.3f s at start, $canaryEnd%.3f s at end")
      report.put("env.canary_s", Samples.median(Seq(canaryStart, canaryEnd)), "s")
      t.detach()
      val path = t.write(opts("trace-out"), seed,
        report.metrics.toSeq.map { case (k, (v, _, _)) => k -> v })
      ctx.note(s"trace written to $path")
    }
    report.metrics.foreach { case (k, (v, u, _)) => ctx.note(s"$k = $v $u") }
    ctx.note(s"attempted ${ctx.out.attempted}, failed ${ctx.out.failed}, " +
      s"checks ${ctx.out.checks} (${ctx.out.checksFailed} failed)")
    println(report.line(ctx.out, trace))
    spark.stop()
  }
}
