package perfbench

import java.nio.file.{Files, Paths, StandardCopyOption}
import scala.collection.mutable
import org.apache.spark.sql.streaming.{StreamingQuery, StreamingQueryProgress}
import graft.streaming.{AlertStream, SilverStore}

/** One committed micro-batch as the stream reported it, with the night
  * it carried and the silver photometry rows it added. */
final case class Batch(id: Long, night: Int, start: Double, seconds: Double,
    addBatchS: Double, inputRows: Long, alerts: Int, rowsAdded: Long) {
  def end: Double = start + seconds
}

/** The alert path of one run: nights generated ahead of time, landed
  * one directory rename at a time into the directory `AlertStream.run`
  * watches, and committed to silver. Each night is ten parquet files,
  * so with the stream's default of ten files per trigger every
  * micro-batch carries exactly one night. */
final class AlertPath(ctx: Ctx, val world: World, dir: String, nights: String,
    val truth: Truth) {
  import ctx.spark
  val landing = s"$dir/landing"
  val store = new SilverStore(s"$dir/silver")
  val files = new SilverFiles(s"$dir/silver")
  Files.createDirectories(Paths.get(landing))

  private val landed = mutable.ArrayBuffer.empty[Int]
  /** Land night n atomically (one directory rename) from the nights
    * generated under `nights`. */
  def land(n: Int): Unit = {
    Files.move(Paths.get(AlertPath.nightDir(nights, n)), Paths.get(s"$landing/$n"),
      StandardCopyOption.ATOMIC_MOVE)
    landed += n
    world.recordNight(n, truth)
    ctx.out.op()
  }

  private var query: Option[StreamingQuery] = None
  def start(): Unit =
    query = Some(AlertStream.run(spark, s"$landing/*", store, World.BpvA, s"$dir/checkpoint"))
  def stop(): Unit = query.foreach { q => q.stop(); q.awaitTermination(60000L) }

  /** Offset from Clock to wall-clock seconds, for progress timestamps. */
  private val wallOffset = System.currentTimeMillis() / 1000.0 - Clock.now()
  private var seen = -1L
  val batches = mutable.ArrayBuffer.empty[Batch]
  private var rowsSeen = 0L

  /** New committed batches since the last poll, in order. */
  def poll(): Seq[Batch] = {
    val q = query.getOrElse(sys.error("stream not started"))
    q.exception.foreach(e => throw new RuntimeException("alert stream failed", e))
    val fresh = q.recentProgress.filter(p => p.batchId > seen && p.numInputRows > 0)
      .sortBy(_.batchId)
    fresh.map { p =>
      seen = p.batchId
      val night = landed(batches.size)
      val rows = files.photometryRows
      val b = Batch(p.batchId, night, startOf(p), p.batchDuration / 1000.0,
        p.durationMs.getOrDefault("addBatch", 0L) / 1000.0, p.numInputRows,
        world.nightAlerts(night).size, rows - rowsSeen)
      rowsSeen = rows
      batches += b
      b
    }.toSeq
  }
  private def startOf(p: StreamingQueryProgress): Double =
    java.time.Instant.parse(p.timestamp).toEpochMilli / 1000.0 - wallOffset
  def committedNights: Int = batches.size

  /** Poll until `n` batches have committed; fails when none commits
    * for 120 s. */
  def awaitCommitted(n: Int): Unit = {
    var last = Clock.now()
    while (committedNights < n) {
      if (poll().nonEmpty) last = Clock.now()
      else if (Clock.now() - last > 120) sys.error("no batch committed for 120 s")
      else Thread.sleep(20)
    }
  }
}

object AlertPath {
  val FilesPerNight = 10
  def nightDir(nights: String, n: Int): String = s"$nights/night=$n"
  /** Generate the nights' alert files under `nights` (benchmark input,
    * made outside any timing). */
  def generate(ctx: Ctx, world: World, nights: String, ns: Seq[Int]): Unit =
    world.writeNights(ctx.spark, ns, FilesPerNight, nights)
}

object AlertIngest {
  /** Nights 0 and 1 warm the JVM up; the window starts after they
    * commit. */
  val WarmupNights = 2
  /** A window times at least this many batches: in a slow spell of the
    * machine, two batches may outlast `--seconds`, and a window of
    * three would then read differently from the usual four. */
  val MinBatches = 4
  val SetupRepeats = 5

  def run(ctx: Ctx, objectsPerNight: Int): Unit = {
    val world = new World(ctx.seed, objectsPerNight)
    // the warm-up nights and the first timed one are generated before
    // set-up; the nights the window may use (room for batches of 3 s)
    // while the warm-up batches run
    val nights = s"${ctx.work}/nights"
    var generated = WarmupNights + 1
    AlertPath.generate(ctx, world, nights, 0 until generated)

    // set-up: an empty store and a started stream, five times: one
    // takes ~0.07 s, so the median needs several
    val setups = (1 to SetupRepeats).map { k =>
      val dir = s"${ctx.work}/ingest$k"
      val (path, s) = Clock.time {
        val p = new AlertPath(ctx, world, dir, nights, new Truth)
        p.start()
        p
      }
      ctx.note(f"setup $k: $s%.3f s")
      if (k < SetupRepeats) { path.stop(); graft.util.Local.deleteRecursively(dir) }
      (path, s)
    }
    val path = setups.last._1
    ctx.report.endToEnd("setup_s", Samples.median(setups.map(_._2)), "s")

    (0 until WarmupNights).foreach(path.land)
    val want = WarmupNights + 2 + (ctx.seconds / 3.0).ceil.toInt
    AlertPath.generate(ctx, world, nights, generated until want)
    generated = want
    path.awaitCommitted(WarmupNights)
    val rowsAtStart = path.files.photometryRows
    val jvm = new JvmWindow
    val spark0 = ctx.tracer.map { t => t.drain(); t.total.copy }.getOrElse(new Acc)

    // closed loop with one night of lookahead: a night lands as soon as
    // the previous batch commits, so the stream never idles waiting
    // for the trigger and never holds more than two nights. A traced
    // run lands no night ahead, so that between batches it can attach
    // the listeners for a traced batch and detach them for an untraced
    // one.
    val tracedNights = mutable.Set.empty[Int]
    var next = WarmupNights
    def landNext(): Unit = {
      if (next == generated) {
        ctx.note(s"generating night $next during the window")
        AlertPath.generate(ctx, world, nights, Seq(next))
        generated += 1
      }
      ctx.tracer.foreach { t =>
        val on = Tracer.tracedTurn(next - WarmupNights)
        t.tracing(on)
        if (on) tracedNights += next
      }
      path.land(next)
      next += 1
    }
    val deadline = Clock.now() + ctx.seconds
    landNext()
    if (!ctx.traced) landNext()
    var lastCommit = Clock.now()
    while (path.committedNights < next) {
      val bs = path.poll()
      if (bs.nonEmpty) lastCommit = Clock.now()
      else if (Clock.now() - lastCommit > 120) sys.error("no batch committed for 120 s")
      bs.foreach { _ =>
        if (Clock.now() < deadline || next - WarmupNights < MinBatches) landNext()
      }
      if (bs.isEmpty) Thread.sleep(20)
    }
    val timed = path.batches.filter(_.night >= WarmupNights).toSeq
    path.stop()
    // the window runs from the first timed batch's start to the last
    // one's commit: the stream's wait for its first trigger is not in it
    val window = timed.last.end - timed.head.start
    val rows = path.files.photometryRows - rowsAtStart
    val alerts = timed.map(_.alerts).sum
    ctx.note(f"${timed.size} timed batches, $rows rows, $alerts alerts, $window%.2f s, " +
      f"${rows / window}%.0f rows/s, ${alerts / window}%.0f alerts/s; " +
      s"batch s ${timed.map(b => f"${b.seconds}%.2f").mkString(" ")}")

    Checks.silver(ctx, path.store, path.truth)
    ctx.report.endToEnd("turn_p50_s", Samples.median(timed.map(_.seconds)), "s")
    ctx.report.endToEnd("ops_per_s", alerts / window, "1/s")
    ctx.report.endToEnd("stored_bytes_per_row",
      path.files.bytes.toDouble / path.files.photometryRows, "B/row")
    ctx.tracer.foreach { t =>
      val traced = timed.filter(b => tracedNights(b.night))
      IngestLayers.report(ctx, t, path, timed, traced)
      WindowLayers.report(ctx, t, spark0, jvm, traced.map(_.seconds).sum)
      ctx.report.put("trace.overhead.turn_p50_s", Samples.median(traced.map(_.seconds)) -
        Samples.median(timed.filterNot(traced.contains).map(_.seconds)), "s")
      // the read layers, over the catalog the stream wrote
      ServePass.run(ctx, t, world, path.store, s"${ctx.work}/ingest$SetupRepeats",
        path.truth, 0 until next)
    }
  }
}

/** A traced `ltcv_serve` run's pass through the alert path after its
  * window: the stream started on the served catalog, and `passNights`
  * nights landed one at a time; the first batch warms the streaming
  * path up, the rest give the alert path's per-layer metrics. */
object StreamPass {
  def run(ctx: Ctx, t: Tracer, world: World, dir: String, nights: String, truth: Truth,
      passNights: Seq[Int]): Unit = {
    t.tracing(true)
    val path = new AlertPath(ctx, world, dir, nights, truth)
    path.start()
    passNights.zipWithIndex.foreach { case (n, k) =>
      path.land(n)
      path.awaitCommitted(k + 1)
    }
    path.stop()
    Checks.silver(ctx, path.store, truth)
    val timed = path.batches.drop(1).toSeq
    ctx.note(s"stream pass: batch s ${path.batches.map(b => f"${b.seconds}%.2f").mkString(" ")}")
    IngestLayers.report(ctx, t, path, timed, timed)
  }
}

/** Per-layer metrics of the alert path, from streaming progress and the
  * program's labelled jobs. */
object IngestLayers {
  def report(ctx: Ctx, t: Tracer, path: AlertPath, timed: Seq[Batch], traced: Seq[Batch]): Unit = {
    t.drain()
    val r = ctx.report
    def med(f: Batch => Double) = Samples.median(timed.map(f))
    r.put("stream.add_batch_p50_s", med(_.addBatchS), "s")
    r.put("stream.trigger_overhead_p50_s", med(b => b.seconds - b.addBatchS), "s")
    r.put("stream.input_scans_per_batch", med(b => b.inputRows.toDouble / b.alerts), "ratio")
    val q = math.max(1, timed.size / 4)
    r.put("stream.batch_growth_ratio",
      Samples.median(timed.takeRight(q).map(_.seconds)) / Samples.median(timed.take(q).map(_.seconds)),
      "ratio")
    // rates over the time batches ran: a traced run idles up to a
    // trigger interval between batches
    val busy = timed.map(_.seconds).sum
    r.put("stream.alerts_per_s", timed.map(_.alerts).sum / busy, "1/s")
    r.put("stream.rows_per_s", timed.map(_.rowsAdded).sum / busy, "rows/s")
    timed.foreach(b => t.record("stream.batch", b.start, b.end,
      Seq("batch" -> b.id.toDouble, "night" -> b.night.toDouble, "rows" -> b.rowsAdded.toDouble,
        "traced" -> (if (traced.contains(b)) 1.0 else 0.0))))
    // job counts and labelled-job wall times come from traced batches
    for ((kind, prefix) <- Seq("importer" -> "merge.importer", "silver write" -> "silver.write")) {
      val perBatch = traced.map { b =>
        val js = t.batchJobs(b.id, kind)
        val wall = if (js.isEmpty) 0.0 else (js.map(_.end).max - js.map(_.start).min) / 1000.0
        (js.size.toDouble, wall)
      }
      r.put(s"$prefix.jobs_per_batch", Samples.median(perBatch.map(_._1)), "count")
      r.put(s"$prefix.wall_s_per_batch", Samples.median(perBatch.map(_._2)), "s")
    }
    r.put("stream.jobs_per_batch",
      Samples.median(traced.map(b => Seq("importer", "silver write", "other")
        .map(k => t.batchAcc(b.id, k).jobs).sum.toDouble)), "count")
    val written = traced.map(b => t.batchAcc(b.id, "silver write").bytesOut).sum
    r.put("silver.bytes_written_per_row",
      written.toDouble / math.max(1L, traced.map(_.rowsAdded).sum), "B/row")
    r.put("silver.segments_live", path.files.liveSegments, "count")
  }
}
