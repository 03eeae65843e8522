package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Regression guard on the physical-plan properties PLANS.md documents:
  * pushdown, pruning, broadcast dims, and partial aggregation. A change
  * that silently loses one of these would still pass value-correctness
  * tests but regress badly at scale. */
class PlanShapeSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  val d = "/root/testdata/sf0.001"

  /** The physical plan as text, with scan metadata (PushedFilters,
    * DataFilters) rendered whole instead of cut at 100 characters. */
  def plan(df: DataFrame): String = {
    val key = "spark.sql.maxMetadataStringLength"
    val was = spark.conf.getOption(key)
    spark.conf.set(key, "100000")
    try df.queryExecution.executedPlan.toString
    finally was.fold(spark.conf.unset(key))(spark.conf.set(key, _))
  }

  /** A shuffle exchange line (not a BroadcastExchange). */
  private def isExchange(line: String): Boolean =
    "\\bExchange ".r.findFirstIn(line).isDefined

  /** A request plan (the a22/a23/T6 serving calls with ids): every scan
    * takes the key set as a pushed `In(diaobjectid`, nothing
    * broadcasts, and each scanned table crosses at most one exchange,
    * which sits above the key filter — so no photometry row is
    * shuffled before the request has cut it down. */
  def assertRequestPlan(p: String, scans: Int): Unit = {
    val lines = p.split("\n").toSeq
    val scanLines = lines.filter(_.contains("FileScan"))
    assert(scanLines.length == scans, s"want $scans scans:\n$p")
    scanLines.foreach(l => assert(l.contains("In(diaobjectid"), s"key set not pushed:\n$l"))
    assert(!p.contains("BroadcastExchange"), s"a request plan must not broadcast:\n$p")
    val ex = lines.indices.filter(i => isExchange(lines(i)))
    assert(ex.length <= scans, s"more exchanges than scanned tables:\n$p")
    ex.foreach { i =>
      val below = lines.drop(i + 1).takeWhile(!_.contains("FileScan"))
      assert(below.exists(l => l.contains("Filter") &&
          "diaobjectid#\\d+L? (IN|INSET) ".r.findFirstIn(l).isDefined),
        s"exchange before the key filter:\n${lines(i)}")
    }
  }

  /** The a22/a23 API catalog with its tables on parquet. */
  lazy val apiCat = FixtureWorld.onParquet(spark,
    graft.queries.FastdbOps.apiCatalog(spark, d)
      .copy(diaobjectPosition = graft.queries.FastdbOps.apiPositions(spark, d)))

  test("j1 join chain: dims broadcast, region predicate pushed, lineitem pruned") {
    val p = plan(graft.queries.Relational.j1JoinChain(spark, d))
    assert("BroadcastHashJoin".r.findAllIn(p).size == 4, "all four dim joins broadcast")
    assert(!p.contains("SortMergeJoin"))
    assert(p.contains("EqualTo(r_name,ASIA)"), "filter must reach the region scan")
    assert(p.contains("struct<l_orderkey:bigint,l_extendedprice:double,l_discount:double>"),
      "lineitem scan must read exactly 3 columns")
  }

  test("a1 priority dedup: broadcast priorities + partial aggregation, no window sort") {
    // the tiny priority map reaches every task as plan literals (a
    // pushed IN and a CASE rank), not through a broadcast hash join
    val p = plan(graft.queries.FastdbOps.a1PriorityDedup(spark, d))
    assert(!p.contains("Join"), s"the priority map must not be joined:\n$p")
    // a1's base_procver_id is derived, so the IN lands in the scan's
    // DataFilters; on a stored column it is a pushed parquet filter
    assert("DataFilters: \\[[^\\]]* IN \\(bpv0,bpv1,bpv2\\)".r.findFirstIn(p).isDefined,
      "the priority set must filter the scan")
    assert(p.contains("partial_max_by"), "dedup must combine map-side")
    assert(!p.contains("Window"), "A1 must not be a window sort")
    val stored = plan(graft.query.Ltcv.sources(
      FixtureWorld.onParquet(spark, FixtureWorld.catalog(spark)), "pvid-pv1"))
    assert(stored.contains("In(base_procver_id"), s"priority set not pushed:\n$stored")
  }

  test("time-travel cut pushes down to the parquet photometry scan") {
    // persist the fixture catalog to parquet so PushedFilters is visible
    val mem = FixtureWorld.catalog(spark)
    val dir = java.nio.file.Files.createTempDirectory("planshape").toString
    mem.diasource.write.parquet(s"$dir/diasource")
    mem.diaobject.write.parquet(s"$dir/diaobject")
    val cat = mem.copy(
      diasource = spark.read.parquet(s"$dir/diasource"),
      diaobject = spark.read.parquet(s"$dir/diaobject"))
    val p = plan(graft.query.Ltcv.sources(cat, "pvid-pv3",
      mjdNow = Some(60010.0), bands = Seq("r")))
    assert(p.contains("LessThanOrEqual(midpointmjdtai,60010.0)"),
      "mjd_now cut must reach the parquet scan as a pushed filter")
    // FileScan metadata truncates each entry at 100 chars, so match the
    // visible prefix of the band predicate
    assert(p.contains("EqualTo(ban") || p.contains("In(band"),
      "band filter must reach the parquet scan")
  }

  test("cone join is a zone equi-join, not a nested-loop cross join") {
    val p = plan(graft.queries.FastdbOps.j6ConeJoin(spark, d))
    assert(p.contains("BroadcastHashJoin") || p.contains("SortMergeJoin"),
      "zone key must make this an equi-join")
    assert(!p.contains("BroadcastNestedLoopJoin") && !p.contains("CartesianProduct"),
      "no quadratic spatial join")
  }

  test("events scan prunes columns for the hot-window query") {
    val p = plan(graft.queries.FastdbOps.t6HotWindow(spark, d))
    assert(!p.contains("props"), "unused JSON column must not be read")
  }

  test("e3 export manifest: one-pass stratified packing; LM count joins broadcast") {
    // The stratified prefix sum range-partitions the kept corpus ONCE
    // and materializes it (localCheckpoint pins the partition
    // boundaries for both the row and offset subtrees), so the final
    // plan contains NO pack-side range exchange — only the
    // presentation ORDER BY's. A per-split pack would show three
    // materializations / six exchanges.
    val p = plan(graft.queries.Corpus.e3ExportManifest(spark, d))
    val packExchanges = p.split("\n")
      .count(l => l.contains("rangepartitioning") && l.contains("REPARTITION_BY_COL"))
    assert(packExchanges == 0,
      s"pack input must be materialized once, found $packExchanges live pack exchanges")
    assert(p.contains("Scan ExistingRDD"),
      "the packed frame must read from the materialized checkpoint")
    val p9 = plan(graft.queries.Quality.t9LmScore(spark, d))
    assert(p9.contains("BroadcastHashJoin"),
      "bigram count tables must broadcast back onto the gram rows under AQE")
  }

  test("span dedup: one window-row generation, window decision, no join-back") {
    // r16: duplicateSpans is a single Window over gram, not
    // groupBy(gram) + join-back — the join form generated the corpus
    // k-window rows twice (two Generates for the decision) and pays a
    // second full shuffle at scale; covered positions aggregate with
    // collect_set (one shuffle), not distinct + collect_list (two)
    val p = plan(graft.queries.Quality.d7DupSpans(spark, d))
    assert(p.contains("Window"), "span decision must be a window over gram")
    assert("\\bGenerate\\b".r.findAllIn(p).size == 2,
      "exactly two Generates: one window-row generation + the covered-span explode")
    assert(p.contains("collect_set"), "covered positions dedup inside the aggregate")
    assert(!p.contains("collect_list"), "no distinct+collect_list two-shuffle form")
  }

  test("pair-stage policy: size-based auto-choice, both branch shapes pinned") {
    // cc1/cc2/e1 call ngramJaccardPairsAuto, which picks the candidate
    // path by corpus size (Dedup.usePrefixFilter): plain inverted index
    // below the 50k-doc threshold (the prefix bound's two extra
    // gram-stream shuffles measured 3-8x slower at sf0.1 for identical
    // output), PPJoin prefix filter above it (where sum df^2 can
    // explode). Pin the policy at its boundary, then both branch
    // shapes built with the compositions' exact arguments.
    assert(!graft.pipeline.Dedup.usePrefixFilter(49999L))
    assert(graft.pipeline.Dedup.usePrefixFilter(50000L))
    val docs = graft.Tables.documents(spark, d)
    val pref = plan(graft.pipeline.Dedup.ngramJaccardPairs(
      docs, "doc_id", "text", shingleWords = 3, threshold = 0.5,
      prefixFilter = true))
    assert(pref.contains("row_number"),
      "prefix path must rank shingles per doc (df-ordered window)")
    assert(pref.contains("_df"),
      "prefix path must compute global shingle document frequency")
    assert(!pref.contains("CartesianProduct") &&
      !pref.contains("BroadcastNestedLoopJoin"))
    // the auto path at test scale (< threshold) resolves to the plain
    // inverted index — no df pass in the plan
    val auto = plan(graft.pipeline.Dedup.ngramJaccardPairsAuto(
      docs, "doc_id", "text", shingleWords = 3, threshold = 0.5))
    assert(!auto.contains("_df"),
      "auto path below the threshold must be the plain inverted index")
    // d4 is the documented plain-inverted-index baseline: no df pass
    val plain = plan(graft.queries.Pipeline.d4NgramJaccard(spark, d))
    assert(!plain.contains("_df"),
      "d4 must remain the plain inverted-index exactness baseline")
  }

  test("s4 IVF-PQ probe dynamically prunes the cell-partitioned code scan") {
    // the probe joins cell-partitioned codes against a broadcast probe
    // list; dynamic partition pruning must reach the code scan so a
    // query physically reads only its probed cells' files — the
    // property that makes the index probe-able at 100 TB
    val p = plan(graft.queries.Pipeline.s4AnnIvfPq(spark, d))
    assert(p.contains("dynamicpruning"),
      "code scan must carry a dynamic partition-pruning subquery on _cell")
  }

  test("a22 API path: request-bounded sides broadcast, cuts reach the scans") {
    // the request-bounded sides (resolved keys, priorities) reach every
    // task as plan literals pushed into the photometry scans, not through
    // broadcast joins; each table then crosses one exchange into a
    // single partition
    val p = plan(graft.api.LtcvApi.getLtcvs(apiCat, "pv",
      diaobjectids = Seq(7L, 160L, 311L), rootids = Seq("r5"),
      mjdNow = Some(60075.05), bands = Seq("g", "r")))
    assertRequestPlan(p, scans = 2)
    assert(p.contains("LessThanOrEqual(midpointmjdtai,60075.05)") && p.contains("In(band"),
      "mjd and band cuts must reach the scans")
    // FULL OUTER cannot broadcast, and both its inputs already sit in
    // one partition, so it is a merge join with no exchange of its own
    val joins = p.split("\n").filter(_.contains("Join"))
    assert(joins.length == 1 && joins.head.contains("SortMergeJoin") &&
      joins.head.contains("FullOuter"), s"only the patch join:\n${joins.mkString("\n")}")
    val battery = plan(graft.queries.FastdbOps.a22ManyLtcvs(spark, d))
    assert(!battery.contains("BroadcastExchange"))
    assert(battery.split("\n").count(isExchange) == 2, battery)
  }

  test("sp1 spectrum workflow: request-sized joins broadcast, dedup combines map-side") {
    val p = plan(graft.queries.FastdbOps.sp1WantedSpectra(spark, d))
    // every anti-join against claims/spectra and every semi-join of the
    // surviving cohort builds on the request-sized side; the corpus-
    // sized photometry tables enter only through the map-combined
    // priority dedup (groups shuffle, rows don't)
    val anti = p.split("\n").filter(_.contains("LeftAnti"))
    assert(anti.nonEmpty && anti.forall(_.contains("BroadcastHashJoin")),
      s"claim/spectrum anti-joins must broadcast:\n${anti.mkString("\n")}")
    assert(p.contains("partial_max_by"), "dedup/rollups must combine map-side")
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"))
    // the only tolerated shuffle joins: the src/frced full-outer
    // lim-mag join and the final root-sized outer assembly joins
    val smj = p.split("\n").filter(_.contains("SortMergeJoin"))
    assert(smj.forall(l => l.contains("FullOuter") || l.contains("LeftOuter")),
      s"inner corpus-side joins must broadcast:\n${smj.mkString("\n")}")
  }

  test("a23 object infos: keys pushed into the position and source scans, no join") {
    def infos(always: Boolean) = plan(graft.api.LtcvApi.getObjectInfos(apiCat, "pv",
      diaobjectids = Seq(3L, 158L, 304L), rootids = Seq("r7", "r29"),
      useWeightedSourcePositions = !always, alwaysUseWeightedSourcePositions = always))
    val p = infos(always = false)
    assertRequestPlan(p, scans = 2)
    assert(!p.contains("Join"), s"members, positions and weights meet in one aggregate:\n$p")
    assert(p.contains("partial_max_by") && p.contains("partial_min_by"),
      "best-position / first-per-root argmaxes must combine map-side")
    // stored positions ignored: the position table is not read at all
    assertRequestPlan(infos(always = true), scans = 1)
  }

  test("T6 hot request plan: window pushed into the candidate scan, keys into the photometry") {
    val cat = FixtureWorld.onParquet(spark, FixtureWorld.catalog(spark))
    val cand = plan(graft.query.Ltcv.hotCandidates(cat, "pvid-pv1", 60041.0, 10.0, Seq("r", "g")))
    Seq("GreaterThanOrEqual(midpointmjdtai,60031.0)", "LessThanOrEqual(midpointmjdtai,60041.0)",
        "In(base_procver_id", "In(band").foreach(f =>
      assert(cand.contains(f), s"$f not pushed:\n$cand"))
    assert(!cand.split("\n").exists(isExchange), "the candidate scan must not shuffle")
    assertRequestPlan(plan(graft.query.Ltcv.hotLtcvs(cat, "pvid-pv1", 60041.0, 10.0)), scans = 2)
  }

  test("a19 Lomb-Scargle pass 2: phase trig projected once per row, not per sum") {
    // cos(ph)/sin(ph) feed 3 of the 4 phased sums each; aggregate
    // update expressions do not reliably get codegen subexpression
    // elimination, so the query projects them ONCE before the groupBy
    // (measured ~9% off the solo warm time). Pass 1's single-trig sums
    // (sin/cos of 2ωt, one use each) legitimately stay inside their
    // aggregate — the assertion targets only the multiplied forms.
    val p = plan(graft.queries.FastdbOps.a19LombScargle(spark, d))
    assert("""partial_sum\(\(y#\d+ \* _cph""".r.findFirstIn(p).isDefined,
      "phased sums must read the projected cosine, not recompute it")
    assert(!p.contains(" * COS") && !p.contains(" * SIN"),
      "no trig call may appear as a multiplication operand inside an aggregate")
  }

  test("no battery plan is corpus-quadratic") {
    // A nested-loop join (the physical plan Spark picks when a join
    // has no equi keys) is acceptable only when one side is BOUNDED —
    // the ANN query sets (linear corpus scan x a handful of broadcast
    // query vectors / centroids) or a ONE-ROW scalar-totals frame (the
    // distributed alternative to a driver collect that would re-scan
    // the corpus). Rather than a query-name whitelist (which rounds
    // 7-9 showed re-trips every time a bounded scorer is composed into
    // a new query, e.g. r11 reusing r10's QLM stats), assert the
    // property itself on the optimized logical plan: every join
    // without equi keys must have a side whose static row bound
    // (`LogicalPlan.maxRows` — Some(1) for ungrouped aggregates,
    // Some(k) for limits, Some(n) for local relations, propagated
    // through Project/Filter) is known and small. An unbounded x
    // unbounded non-equi join — the corpus-quadratic shape — has
    // maxRows None on both sides and fails regardless of which query
    // composed it. A CartesianProduct is never acceptable.
    import org.apache.spark.sql.catalyst.expressions.{And, EqualTo, EqualNullSafe, Expression}
    import org.apache.spark.sql.catalyst.plans.logical.Join
    def isEquiKey(j: Join, l: Expression, r: Expression): Boolean =
      (l.references.subsetOf(j.left.outputSet) && r.references.subsetOf(j.right.outputSet) ||
       l.references.subsetOf(j.right.outputSet) && r.references.subsetOf(j.left.outputSet)) &&
      l.references.nonEmpty && r.references.nonEmpty
    // only TOP-LEVEL CONJUNCTS count: Spark's ExtractEquiJoinKeys uses
    // conjunctive equalities only, so an EqualTo under an Or/Not does
    // NOT make the join hashable (`a.x = b.y OR a.u > b.v` still plans
    // a nested loop) — Expression.collect over the whole tree would
    // wave such a join through
    def conjuncts(e: Expression): Seq[Expression] = e match {
      case And(l, r) => conjuncts(l) ++ conjuncts(r)
      case other => Seq(other)
    }
    def hasEquiKeys(j: Join): Boolean =
      j.condition.toSeq.flatMap(conjuncts).exists {
        case EqualTo(l, r) => isEquiKey(j, l, r)
        case EqualNullSafe(l, r) => isEquiKey(j, l, r)
        case _ => false
      }
    val boundRows = 10000L
    SparkEntry.queries.toSeq.sortBy(_._1).foreach { case (name, fn) =>
      val df = fn(spark, d)
      val p = plan(df)
      assert(!p.contains("CartesianProduct"),
        s"$name plans a cartesian product")
      df.queryExecution.optimizedPlan.foreach {
        case j: Join if !hasEquiKeys(j) =>
          assert(j.left.maxRows.exists(_ <= boundRows) ||
                 j.right.maxRows.exists(_ <= boundRows),
            s"$name plans a nested-loop join with NO statically bounded " +
            s"side (left=${j.left.maxRows}, right=${j.right.maxRows}) — " +
            "corpus-quadratic at scale")
        case _ =>
      }
    }
  }
}
