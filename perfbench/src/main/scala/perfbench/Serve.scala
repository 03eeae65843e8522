package perfbench

import scala.collection.mutable
import org.apache.spark.sql.{DataFrame, SparkSession}
import graft.api.{LtcvApi, QueryQueue}
import graft.procver.{ProcVer, ProcVerDims}
import graft.query.{Catalog, Ltcv, ObjectSearch}
import graft.stats.GoldTables
import graft.streaming.SilverStore

object Catalogs {
  private val tables = Seq("diaobject", "diasource", "diaforcedsource")
  /** One user-facing procver over base procvers A (priority 1) and B
    * (priority 2, wins). */
  def dims(spark: SparkSession): ProcVerDims = ProcVer.fromRows(spark,
    basePv = tables.flatMap(t => Seq((World.BpvA, "a", t), (World.BpvB, "b", t))),
    pv = Seq((World.Procver, "bench")),
    links = tables.flatMap(t => Seq((World.Procver, World.BpvA, t, 1),
      (World.Procver, World.BpvB, t, 2))),
    aliases = Seq(("default", World.Procver)))

  def load(spark: SparkSession, store: SilverStore, dims: ProcVerDims): Catalog = {
    val r = store.load(spark)
    Catalog(r.rootDiaobject, r.diaobject, r.diaobjectPosition, r.diasource,
      r.diaforcedsource, dims)
  }

  /** The staged importer frames of every night through `last`, written
    * as bronze parquet under `dir` (benchmark input, made outside any
    * timing). */
  def writeBronze(spark: SparkSession, world: World, last: Int, dir: String): Unit = {
    val (o, s, f) = world.bulk(spark, last)
    Seq("objects" -> o, "sources" -> s, "forced" -> f).foreach { case (n, df) =>
      df.write.parquet(s"$dir/$n")
    }
  }

  /** One importer batch of the bronze at `bronze` into an empty store at
    * `silver`. */
  def bulkImport(spark: SparkSession, bronze: String, silver: String): SilverStore = {
    def read(n: String, schema: org.apache.spark.sql.types.StructType) =
      spark.read.schema(schema).parquet(s"$bronze/$n")
    val store = new SilverStore(silver)
    store.saveDelta(graft.merge.SourceImporter.importBatchWithDeltas(store.load(spark),
      read("objects", World.stagedObjectSchema), read("sources", World.stagedSourceSchema),
      read("forced", World.stagedForcedSchema))._2)
    store
  }
}

/** Expected read results, from the generator's truth and silver's
  * object-to-root map (the one choice the program makes that the
  * generator cannot know in advance: which twins merged). */
final class Oracle(world: World, truth: Truth, objRoot: Map[(Int, Boolean), String]) {
  private val members: Map[String, Seq[(Int, Boolean)]] =
    objRoot.toSeq.groupBy(_._2).map { case (r, xs) => r -> xs.map(_._1) }
  def rootOf(i: Int): Option[String] = objRoot.get((i, false)).orElse(objRoot.get((i, true)))
  def memberIds(root: String): Seq[Long] =
    members(root).map(m => world.objectId(m._1)).distinct.sorted

  /** Distinct (visit, mjd) of a root's detections and forced points. */
  private def visits(root: String, dets: Boolean, forced: Boolean): Set[(Long, Double)] =
    members(root).flatMap { case (i, isB) =>
      (world.birth(i) until (world.birth(i) + World.ActiveNights)).filter { n =>
        val k = world.sourceKey(i, n)
        (dets && (if (isB) truth.srcB else truth.srcA).get(k)) ||
          (forced && (if (isB) truth.frcB else truth.frcA).get(k))
      }.map(n => (world.visit(i, n), world.mjd(i, n)))
    }.toSet

  /** getLtcvs rows: the patch join has one row per visit. */
  def ltcvRows(root: String): Int = visits(root, dets = true, forced = true).size
  /** Sum of gold `ndets`: deduped detections over all roots. */
  def ndetsSum: Long = members.keys.iterator.map(r => visits(r, true, false).size.toLong).sum

  /** (hot roots, rows) of hotLtcvs(mjdNow, lastdays). */
  def hot(mjdNow: Double, lastdays: Double): (Int, Int) = {
    val n0 = math.floor(mjdNow - lastdays - World.MjdZero).toInt
    val n1 = math.floor(mjdNow - World.MjdZero).toInt
    val roots = (n0 to n1).flatMap(n => world.activeRange(n).flatMap(rootOf)).distinct
      .filter(r => visits(r, true, false).exists { case (_, m) =>
        m >= mjdNow - lastdays && m <= mjdNow })
    (roots.size, roots.map(r => visits(r, true, true).count(_._2 <= mjdNow)).sum)
  }
}

object Oracle {
  def apply(world: World, truth: Truth, cat: Catalog): Oracle = {
    val rows = cat.diaobject.select("diaobjectid", "base_procver_id", "rootid").collect()
    new Oracle(world, truth, rows.map { r =>
      ((r.getLong(0) - World.ObjectBase).toInt, r.getString(1) == World.BpvB) -> r.getString(2)
    }.toMap)
  }
}

/** One client operation of the read mix. */
sealed trait Op { def kind: String }
final case class LtcvOp(obj: Int) extends Op { def kind = "ltcv" }
final case class ObjInfoOp(obj: Int) extends Op { def kind = "objinfo" }
final case class HotOp(mjdNow: Double, lastdays: Double) extends Op { def kind = "hot" }
final case class SearchOp(ra: Double, dec: Double, radius: Double, ndetsMin: Int) extends Op {
  def kind = "search"
}
final case class SqlOp(obj: Int) extends Op {
  def kind = "sql"
  def sql: String = {
    val a = World.ObjectBase + obj
    "SELECT band, count(*) AS n, sum(visit) AS sv, min(midpointmjdtai) AS m0, " +
      s"max(psfflux) AS fmax FROM diasource WHERE diaobjectid BETWEEN $a AND ${a + 199} " +
      "GROUP BY band ORDER BY band"
  }
}

object Op {
  val kinds: Seq[String] = Seq("ltcv", "objinfo", "search", "hot", "sql")
  /** One cycle of the mix. The cheap kinds run more often: a cycle
    * takes ~5 s, so a window holds few, and their medians need the
    * samples. */
  val cycle: Seq[String] = Seq("ltcv", "objinfo", "hot", "search", "search", "search",
    "sql", "sql")
}

/** The seeded read mix: cycles of `Op.cycle` in a seeded order. Object
  * choice is Zipf(1) over the objects detected on one of `nights`,
  * ranked by their latest detection there, newest first. */
final class OpGen(seed: Long, world: World, nights: Range) {
  private val rng = new java.util.Random(seed)
  private val lastNight = nights.last
  private val ranked: Array[Int] = world.objectsThrough(lastNight)
    .map(i => i -> (math.max(world.birth(i), nights.head) until
      math.min(world.birth(i) + World.ActiveNights, lastNight + 1))
      .filter(world.detected(i, _)).lastOption)
    .collect { case (i, Some(n)) => (i, n) }
    .sortBy { case (i, n) => (-n, i) }.map(_._1).toArray
  private val cdf: Array[Double] = {
    val w = ranked.indices.map(r => 1.0 / (r + 1))
    val s = w.sum
    w.scanLeft(0.0)(_ + _).tail.map(_ / s).toArray
  }
  private def pickObject(): Int = {
    val x = rng.nextDouble()
    val r = java.util.Arrays.binarySearch(cdf, x)
    ranked(math.min(ranked.length - 1, if (r >= 0) r else -r - 1))
  }
  private var cycle: List[String] = Nil
  def next(): Op = {
    if (cycle.isEmpty) {
      val ks = scala.collection.mutable.ArrayBuffer.from(Op.cycle)
      cycle = List.fill(ks.size)(ks.remove(rng.nextInt(ks.size)))
    }
    val k = cycle.head
    cycle = cycle.tail
    ofKind(k)
  }
  def ofKind(kind: String): Op = kind match {
    case "ltcv" => LtcvOp(pickObject())
    case "objinfo" => ObjInfoOp(pickObject())
    case "search" => SearchOp(150.0 + (rng.nextDouble() - 0.5) * 1.6,
      2.0 + (rng.nextDouble() - 0.5) * 1.6, 600.0, 1 + rng.nextInt(3))
    case "hot" =>
      val n = lastNight - rng.nextInt(3)
      HotOp(World.MjdZero + n + 0.01 * (1 + rng.nextInt(28)) + 0.005, 0.02)
    case "sql" => SqlOp(pickObject())
  }
}

/** What one operation returned, for checking. */
final case class OpResult(rows: Int, rootids: Seq[String] = Nil,
    infos: Seq[(String, Seq[Long])] = Nil, queryId: String = "")

/** Runs read operations against a loaded catalog and the gold objstats,
  * timing each and checking each against an oracle. */
final class Client(ctx: Ctx, cat: Catalog, goldComb: DataFrame, queueDir: String,
    oracle: Oracle) {
  import ctx.spark
  val queue = new QueryQueue(spark, queueDir)
  cat.diasource.createOrReplaceTempView("diasource")
  val latency: Map[String, Samples] = Op.kinds.map(_ -> new Samples).toMap
  /** Queued queries: (query id, SQL). */
  val queued = mutable.ArrayBuffer.empty[(String, String)]
  /** Per queued query: (wait s, exec s, errored). Exec runs from the
    * queue's start timestamp to its finish timestamp (milliseconds);
    * wait is the rest of the time from submit to `runAll` returning. */
  val queueTimes = mutable.ArrayBuffer.empty[(Double, Double, Boolean)]
  private def secondsBetween(a: java.sql.Timestamp, b: java.sql.Timestamp): Double =
    (b.getTime - a.getTime) / 1000.0
  /** Per traced op: (kind, span id, rows returned). */
  val tracedOps = mutable.ArrayBuffer.empty[(String, Long, Int)]

  private def collectTimed(df: => DataFrame, traced: Boolean): Array[org.apache.spark.sql.Row] = {
    val d = ctx.span("plan", traced) { val d = df; d.queryExecution.executedPlan; d }
    ctx.span("exec", traced)(d.collect())
  }

  /** Run `op`; returns its latency. Failures are counted, not thrown. */
  def run(op: Op, traced: Boolean, record: Boolean): Option[Double] = {
    ctx.out.op()
    val t0 = Clock.now()
    var spanId = 0L
    val res = try Some(ctx.span(s"op.${op.kind}", traced) {
      spanId = ctx.tracer.map(_.currentSpan).getOrElse(0L)
      execute(op, traced)
    }) catch { case e: Exception => ctx.out.opFailed(op.toString, e); None }
    val dt = Clock.now() - t0
    res.map { r =>
      if (traced) tracedOps += ((op.kind, spanId, r.rows))
      if (record) latency(op.kind).add(dt)
      check(op, r)
      dt
    }
  }

  private def execute(op: Op, traced: Boolean): OpResult = op match {
    case LtcvOp(i) =>
      OpResult(collectTimed(LtcvApi.getLtcvs(cat, World.Procver,
        diaobjectids = Seq(World.ObjectBase + i)), traced).length)
    case ObjInfoOp(i) =>
      val rows = collectTimed(LtcvApi.getObjectInfos(cat, World.Procver,
        diaobjectids = Seq(World.ObjectBase + i)), traced)
      OpResult(rows.length, infos = rows.toSeq.map(r =>
        r.getAs[String]("rootid") -> r.getAs[Seq[Long]]("diaobjectids")))
    case HotOp(m, d) =>
      val rows = collectTimed(Ltcv.hotLtcvs(cat, World.Procver, m, d), traced)
      OpResult(rows.length, rootids = rows.toSeq.map(_.getAs[String]("rootid")).distinct)
    case SearchOp(ra, dec, r, k) =>
      val rows = collectTimed(ObjectSearch.search(goldComb,
        Map("ndets_min" -> k), Some((ra, dec, r))), traced)
      OpResult(rows.length, rootids = rows.toSeq.map(_.getAs[String]("rootid")))
    case q: SqlOp =>
      val t0 = Clock.now()
      val id = ctx.span("queue.submit", traced)(queue.submit("bench", Seq(q.sql)))
      ctx.span("queue.run", traced)(queue.runAll())
      val total = Clock.now() - t0
      val e = queue.status(id).get
      val exec = secondsBetween(e.started.get, e.finished.get)
      queueTimes += ((total - exec, exec, e.error))
      if (e.error) throw new RuntimeException(s"queued query failed: ${e.errortext}")
      queued += ((id, q.sql))
      OpResult(1, queryId = id)
  }

  private def check(op: Op, r: OpResult): Unit = op match {
    case LtcvOp(i) =>
      val want = oracle.rootOf(i).map(oracle.ltcvRows).getOrElse(-1)
      ctx.out.check(s"getLtcvs rows of object $i", r.rows == want, s"got ${r.rows} want $want")
    case ObjInfoOp(i) =>
      val want = oracle.rootOf(i).map(root => Seq(root -> oracle.memberIds(root))).getOrElse(Nil)
      ctx.out.check(s"getObjectInfos of object $i", r.infos == want, s"got ${r.infos} want $want")
    case HotOp(m, d) =>
      val (roots, rows) = oracle.hot(m, d)
      ctx.out.check(s"hotLtcvs($m, $d)", r.rootids.size == roots && r.rows == rows,
        s"got ${r.rootids.size} roots / ${r.rows} rows, want $roots / $rows")
    case s: SearchOp =>
      val (sure, edge) = Client.searchOracle(goldRows, s)
      val got = r.rootids.toSet
      ctx.out.check(s"search $s", sure.subsetOf(got) && got.subsetOf(sure ++ edge),
        s"got ${got.size} want ${sure.size} (+${edge.size} on the edge)")
    case _: SqlOp => ()
  }

  /** Gold rows (rootid, ndets, ra, dec), read before any op. */
  private val goldRows: Array[(String, Long, Double, Double)] =
    goldComb.select("rootid", "ndets", "ra", "dec").collect()
      .map(r => (r.getString(0), r.getLong(1),
        if (r.isNullAt(2)) Double.NaN else r.getDouble(2),
        if (r.isNullAt(3)) Double.NaN else r.getDouble(3)))

  /** Every queued query's stored result equals running its SQL
    * directly. */
  def checkQueued(): Unit = {
    queued.foreach { case (id, sql) =>
      val got = queue.results(id).collect().toSeq.map(_.toSeq)
      val want = spark.sql(sql).collect().toSeq.map(_.toSeq)
      ctx.out.check(s"QueryQueue result $id", got == want, s"got $got want $want")
    }
  }
}

object Client {
  private def sepArcsec(ra1: Double, dec1: Double, ra2: Double, dec2: Double): Double = {
    val dRa = math.toRadians(ra2 - ra1) / 2; val dDec = math.toRadians(dec2 - dec1) / 2
    val a = math.pow(math.sin(dDec), 2) +
      math.cos(math.toRadians(dec1)) * math.cos(math.toRadians(dec2)) * math.pow(math.sin(dRa), 2)
    math.toDegrees(2 * math.asin(math.sqrt(a))) * 3600.0
  }
  /** Root ids a search must return, and those within a micro-arcsecond
    * of the cone's edge, which it may return either way. */
  def searchOracle(rows: Array[(String, Long, Double, Double)], s: SearchOp): (Set[String], Set[String]) = {
    val hits = rows.filter(r => r._2 >= s.ndetsMin && !r._3.isNaN).map { r =>
      r._1 -> (sepArcsec(r._3, r._4, s.ra, s.dec) - s.radius)
    }
    (hits.filter(_._2 < -1e-6).map(_._1).toSet, hits.filter(h => math.abs(h._2) <= 1e-6).map(_._1).toSet)
  }
}

/** A served catalog: the store's tables and the gold objstats opened
  * once, as a server holds them, and a client checking every op
  * against the generator's truth. */
final class Server(ctx: Ctx, world: World, store: SilverStore, dir: String, truth: Truth) {
  import ctx.spark
  val (cat, loadS) = Clock.time(Catalogs.load(spark, store, Catalogs.dims(spark)))
  val gold: DataFrame = GoldTables.objStats(spark, s"$dir/gold", World.Procver)
  val oracle: Oracle = Oracle(world, truth, cat)
  Checks.gold(ctx, gold, oracle)
  val client = new Client(ctx, cat, gold, s"$dir/queue", oracle)

  /** One op of each kind from its own seeded stream: in a traced run
    * the ops the per-op counts come from. */
  def probe(nights: Range): Unit = {
    val gen = new OpGen(ctx.seed * 7919L + 17L, world, nights)
    Op.kinds.foreach(k => client.run(gen.ofKind(k), traced = ctx.traced, record = false))
  }
  /** Untimed cycles of the mix from their own seeded stream. */
  def warmup(nights: Range, cycles: Int): Unit = {
    val gen = new OpGen(ctx.seed * 7919L + 29L, world, nights)
    (1 to cycles * Op.cycle.size).foreach(_ => client.run(gen.next(), traced = false, record = false))
  }
}

object Server {
  def refreshGold(ctx: Ctx, store: SilverStore, dir: String): Unit =
    ctx.span("gold.refresh")(GoldTables.refreshObjStats(
      Catalogs.load(ctx.spark, store, Catalogs.dims(ctx.spark)), World.Procver, s"$dir/gold"))
}

/** A traced `alert_ingest` run's pass through the read layers after its
  * window: gold refreshed over the catalog the stream wrote, which is
  * then opened and probed once with each op kind. */
object ServePass {
  def run(ctx: Ctx, t: Tracer, world: World, store: SilverStore, dir: String, truth: Truth,
      nights: Range): Unit = {
    t.tracing(true)
    Server.refreshGold(ctx, store, dir)
    val server = new Server(ctx, world, store, dir, truth)
    server.probe(nights)
    server.client.checkQueued()
    LtcvServe.layers(ctx, t, server, server.client.tracedOps.size)
  }
}

object LtcvServe {
  /** A window times at least this many cycles of the mix, a traced one
    * at least `MinTracedRunCycles`, so that a slow spell of the machine
    * does not cut it a cycle short of the usual. */
  val MinCycles = 3
  val MinTracedRunCycles = 4
  val WarmupCycles = 2
  /** Nights a traced run streams into the served catalog after its
    * window; the first warms the streaming path up. */
  val StreamPassNights = 3

  /** A catalog of every night through `lastNight`, bulk-imported, with
    * gold refreshed once; one client runs the read mix closed-loop. */
  def run(ctx: Ctx, objectsPerNight: Int, lastNight: Int): Unit = {
    import ctx.spark
    val world = new World(ctx.seed, objectsPerNight)
    val bronze = s"${ctx.work}/bronze"
    Catalogs.writeBronze(spark, world, lastNight, bronze)
    val passNights = (lastNight + 1) to (lastNight + StreamPassNights)
    val nights = s"${ctx.work}/nights"
    if (ctx.traced) AlertPath.generate(ctx, world, nights, passNights)
    // set-up: import the bronze into an empty store and refresh gold,
    // once (see NOTES.md, "Set-up")
    val dir = s"${ctx.work}/serve"
    val (store, setupS) = Clock.time {
      val store = Catalogs.bulkImport(spark, bronze, s"$dir/silver")
      Server.refreshGold(ctx, store, dir)
      store
    }
    ctx.note(f"setup: $setupS%.3f s")
    ctx.report.endToEnd("setup_s", setupS, "s")
    val files = new SilverFiles(s"$dir/silver")
    ctx.note(s"catalog: ${files.rows("diasource")} detections, " +
      s"${files.rows("diaforcedsource")} forced, ${files.rows("root_diaobject")} roots, " +
      s"${files.liveSegments} live segments")

    val truth = new Truth
    world.recordBulk(lastNight, truth)
    Checks.silver(ctx, store, truth)
    val server = new Server(ctx, world, store, dir, truth)
    val client = server.client
    val catalogNights = -World.ActiveNights to lastNight
    // warm-up: whole cycles; after one, the first timed cycle was
    // still ~20% slower than the next (JIT). A traced run first runs
    // the probe set.
    if (ctx.traced) server.probe(catalogNights)
    val nProbe = client.tracedOps.size
    server.warmup(catalogNights, WarmupCycles)

    val gen = new OpGen(ctx.seed, world, catalogNights)
    val jvm = new JvmWindow
    val spark0 = ctx.tracer.map { t => t.drain(); t.total.copy }.getOrElse(new Acc)
    // the window runs whole cycles, so the op rate does not depend on
    // which kinds a last, partial cycle would hold. A traced run
    // attaches the listeners for traced cycles and detaches them for
    // untraced ones, for the tracing overhead.
    val cycle = Op.cycle.size
    val t0 = Clock.now()
    val cycles = mutable.ArrayBuffer.empty[(Double, Boolean)]
    var n = 0
    var cycleStart = t0
    val minCycles = if (ctx.traced) MinTracedRunCycles else MinCycles
    while (n % cycle != 0 || Clock.now() < t0 + ctx.seconds || n < minCycles * cycle) {
      val on = ctx.traced && Tracer.tracedTurn(n / cycle)
      if (n % cycle == 0) {
        ctx.tracer.foreach(_.tracing(on))
        cycleStart = Clock.now()
      }
      client.run(gen.next(), traced = on, record = true)
      n += 1
      if (n % cycle == 0) cycles += ((Clock.now() - cycleStart, on))
    }
    val window = Clock.now() - t0
    client.checkQueued()

    val lat = client.latency
    ctx.note(f"$n ops in $window%.2f s; cycles (s) ${cycles.map(c => f"${c._1}%.2f").mkString(" ")}; " +
      "latencies (s): " + Op.kinds.map(k =>
      s"$k ${lat(k).values.map(v => f"$v%.3f").mkString(" ")}").mkString("; "))
    // too few samples for a steady tail: a diagnostic on stderr only
    lat("ltcv").tail match {
      case Some((p, v)) => ctx.note(f"getLtcvs p$p = $v%.3f s over ${lat("ltcv").size} samples")
      case None => ctx.note(f"getLtcvs max = ${lat("ltcv").values.max}%.3f s over " +
        s"${lat("ltcv").size} samples, too few for a tail")
    }
    ctx.report.endToEnd("turn_p50_s", Samples.median(cycles.map(_._1).toSeq), "s")
    ctx.report.endToEnd("ops_per_s", n / window, "1/s")
    ctx.report.endToEnd("stored_bytes_per_row", files.bytes.toDouble / files.photometryRows, "B/row")
    ctx.tracer.foreach { t =>
      val (traced, untraced) = cycles.toSeq.partition(_._2)
      WindowLayers.report(ctx, t, spark0, jvm, traced.map(_._1).sum)
      ctx.report.put("trace.overhead.turn_p50_s",
        Samples.median(traced.map(_._1)) - Samples.median(untraced.map(_._1)), "s")
      layers(ctx, t, server, nProbe)
      StreamPass.run(ctx, t, world, dir, nights, truth, passNights)
    }
  }

  private val layerName = Map("ltcv" -> "api.LtcvApi.getLtcvs",
    "objinfo" -> "api.LtcvApi.getObjectInfos", "hot" -> "query.Ltcv.hotLtcvs",
    "search" -> "query.ObjectSearch.search", "sql" -> "api.QueryQueue")

  /** Per-layer metrics of the read path: plan and exec time from the
    * traced ops' child spans; jobs, shuffle bytes and rows read per row
    * returned from the traced probe set (the first `nProbe` traced ops)
    * only; the catalog's load time and the last gold refresh. */
  def layers(ctx: Ctx, t: Tracer, server: Server, nProbe: Int): Unit = {
    t.drain()
    val r = ctx.report
    val client = server.client
    for (k <- Op.kinds) {
      val name = layerName(k)
      if (k == "sql") {
        val q = client.queueTimes.toSeq
        r.put(s"$name.wait_s", Samples.median(q.map(_._1)), "s")
        r.put(s"$name.exec_s", Samples.median(q.map(_._2)), "s")
        r.put(s"$name.errors", q.count(_._3), "count")
      } else {
        val ops = client.tracedOps.filter(_._1 == k).toSeq
        def child(n: String) = ops.flatMap(o => t.children(o._2).filter(_.name == n))
          .map(s => s.end - s.start)
        r.put(s"$name.plan_s", Samples.median(child("plan")), "s")
        r.put(s"$name.exec_s", Samples.median(child("exec")), "s")
        val probe = client.tracedOps.take(nProbe).filter(_._1 == k).toSeq
        val accs = probe.map(o => t.subtree(o._2))
        r.put(s"$name.jobs", accs.map(_.jobs).sum.toDouble / probe.size, "count")
        r.put(s"$name.shuffle_bytes", accs.map(_.shuffleWrite).sum.toDouble / probe.size, "B")
        r.put(s"$name.rows_read_per_row_returned",
          accs.map(_.recordsRead).sum.toDouble / math.max(1, probe.map(_._3).sum), "ratio")
      }
    }
    r.put("silver.load_s", server.loadS, "s")
    val refresh = t.spansNamed("gold.refresh").maxBy(_.end)
    r.put("gold.refresh_s", refresh.end - refresh.start, "s")
    r.put("gold.refresh_shuffle_bytes", t.subtree(refresh.id).shuffleWrite, "B")
  }
}
