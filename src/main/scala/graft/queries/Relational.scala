package graft.queries

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.Tables._
import graft.functions.Funcs
import graft.query.{FieldSpec, SearchSpec}

/** Relational operator battery over the driver's TPC-H-ish tables.
  *
  * Each query exercises one operator family from SURVEY.md §2 (the
  * FASTDB operator inventory), re-expressed on the synthetic tables so
  * the driver's DuckDB oracle can hash-compare results. The FASTDB
  * domain library itself lives in graft.* (see also
  * [[graft.queries.FastdbOps]], which drives the Ltcv/Spatial code
  * paths directly).
  *
  * Conventions:
  *  - every computed column is aliased identically here and in the
  *    oracle SQL (driver sorts columns by name before hashing);
  *  - every result is deterministically ordered and floating-point
  *    aggregates are rounded, so Spark/DuckDB summation-order noise
  *    cannot flip the hash;
  *  - DuckDB SUM(int) is HUGEINT — integer sums in oracles are CAST to
  *    BIGINT to match Spark's long.
  */
object Relational {

  /** A3: grouped aggregation with conditional counts (objstats-style
    * ndets / threshold counts — src/ltcv.py:1652-1754 semantics). */
  def q1Agg(s: SparkSession, d: String): DataFrame =
    lineitem(s, d)
      .groupBy("l_returnflag", "l_linestatus")
      .agg(
        round(sum("l_quantity"), 2).as("sum_qty"),
        round(sum("l_extendedprice"), 2).as("sum_base_price"),
        round(sum(col("l_extendedprice") * (lit(1) - col("l_discount"))), 2).as("sum_disc_price"),
        round(avg("l_quantity"), 6).as("avg_qty"),
        count(lit(1)).as("count_order"),
        sum(when(col("l_quantity") >= 25, 1L).otherwise(0L)).as("n_big"))
      .orderBy("l_returnflag", "l_linestatus")

  val q1AggSql: String =
    """SELECT l_returnflag, l_linestatus,
      |  ROUND(SUM(l_quantity), 2) AS sum_qty,
      |  ROUND(SUM(l_extendedprice), 2) AS sum_base_price,
      |  ROUND(SUM(l_extendedprice * (1 - l_discount)), 2) AS sum_disc_price,
      |  ROUND(AVG(l_quantity), 6) AS avg_qty,
      |  COUNT(*) AS count_order,
      |  CAST(SUM(CASE WHEN l_quantity >= 25 THEN 1 ELSE 0 END) AS BIGINT) AS n_big
      |FROM lineitem
      |GROUP BY l_returnflag, l_linestatus
      |ORDER BY l_returnflag, l_linestatus""".stripMargin

  /** P1/J9: predicate-spec battery — equality-in-list, substring,
    * range, and the regex-parsed difference predicate (db.py:463-577),
    * built through the real [[SearchSpec]] code path. */
  def p1Filters(s: SparkSession, d: String): DataFrame = {
    val spec = SearchSpec(Map(
      "p_type" -> FieldSpec(mult = true, substr = true),
      "p_size" -> FieldSpec(mult = true, minmax = true),
      "p_retailprice" -> FieldSpec(minmax = true),
      "p_partkey" -> FieldSpec(minmax = true)))
    part(s, d).filter(spec.buildPredicate(Map(
        "p_type" -> Seq("PROMO", "LARGE"),
        "p_size_min" -> 10, "p_size_max" -> 40,
        "p_retailprice_minus_p_size_min" -> 920.0)))
      .select(col("p_partkey"), col("p_name"), col("p_type"), col("p_size"),
        col("p_retailprice"))
      .orderBy("p_partkey")
  }

  val p1FiltersSql: String =
    """SELECT p_partkey, p_name, p_type, p_size, p_retailprice
      |FROM part
      |WHERE p_type IN ('PROMO', 'LARGE')
      |  AND p_size >= 10 AND p_size <= 40
      |  AND p_retailprice - p_size >= 920.0
      |ORDER BY p_partkey""".stripMargin

  /** J1: the canonical equi-join chain with broadcast dimensions
    * (ltcv.py:640-671's photometry ⋈ object ⋈ procver shape). */
  def j1JoinChain(s: SparkSession, d: String): DataFrame =
    lineitem(s, d)
      .join(orders(s, d), col("l_orderkey") === col("o_orderkey"))
      .join(customer(s, d), col("o_custkey") === col("c_custkey"))
      .join(broadcast(nation(s, d)), col("c_nationkey") === col("n_nationkey"))
      .join(broadcast(region(s, d)), col("n_regionkey") === col("r_regionkey"))
      .filter(col("r_name") === "ASIA")
      .groupBy("n_name")
      .agg(round(sum(col("l_extendedprice") * (lit(1) - col("l_discount"))), 2).as("revenue"),
        count(lit(1)).as("n_items"))
      .orderBy("n_name")

  val j1JoinChainSql: String =
    """SELECT n_name,
      |  ROUND(SUM(l_extendedprice * (1 - l_discount)), 2) AS revenue,
      |  COUNT(*) AS n_items
      |FROM lineitem
      |JOIN orders ON l_orderkey = o_orderkey
      |JOIN customer ON o_custkey = c_custkey
      |JOIN nation ON c_nationkey = n_nationkey
      |JOIN region ON n_regionkey = r_regionkey
      |WHERE r_name = 'ASIA'
      |GROUP BY n_name
      |ORDER BY n_name""".stripMargin

  /** J3: anti join — customers with no 1995 orders
    * (source_importer.py:423-428's new-object detection shape). */
  def j3AntiJoin(s: SparkSession, d: String): DataFrame = {
    val o95 = orders(s, d).filter(
      col("o_orderdate") >= lit("1995-01-01").cast("timestamp") &&
      col("o_orderdate") < lit("1996-01-01").cast("timestamp"))
    customer(s, d)
      .join(o95, col("c_custkey") === col("o_custkey"), "left_anti")
      .select("c_custkey", "c_name", "c_mktsegment")
      .orderBy("c_custkey")
  }

  val j3AntiJoinSql: String =
    """SELECT c_custkey, c_name, c_mktsegment
      |FROM customer
      |WHERE NOT EXISTS (
      |  SELECT 1 FROM orders
      |  WHERE o_custkey = c_custkey
      |    AND o_orderdate >= TIMESTAMP '1995-01-01'
      |    AND o_orderdate < TIMESTAMP '1996-01-01')
      |ORDER BY c_custkey""".stripMargin

  /** J4: semi join — suppliers with a shipment after 2000-01-01
    * (refactor.sql:49-50's id = ANY(SELECT ...) shape). */
  def j4SemiJoin(s: SparkSession, d: String): DataFrame = {
    val recent = lineitem(s, d)
      .filter(col("l_shipdate") >= lit("2000-01-01").cast("timestamp"))
    supplier(s, d)
      .join(recent, col("s_suppkey") === col("l_suppkey"), "left_semi")
      .select("s_suppkey", "s_name", "s_acctbal")
      .orderBy("s_suppkey")
  }

  val j4SemiJoinSql: String =
    """SELECT s_suppkey, s_name, s_acctbal
      |FROM supplier
      |WHERE EXISTS (
      |  SELECT 1 FROM lineitem
      |  WHERE l_suppkey = s_suppkey
      |    AND l_shipdate >= TIMESTAMP '2000-01-01')
      |ORDER BY s_suppkey""".stripMargin

  /** J7: range self-join — events within the preceding hour per user
    * (projectsim.py:174-210's prv-source window shape).
    *
    * Bucketed: the plain (user_id equi + time-range theta) join pairs
    * every event of a user with every other — quadratic in per-user
    * volume, catastrophic on a power user at corpus scale. Adding the
    * hour bucket to the equi key bounds candidates per (user, hour)
    * instead: a probe row's 1-hour lookback spans at most its own and
    * the previous bucket, so probing those two buckets (build side
    * keyed by its own bucket — each match found exactly once) is
    * complete, and the range predicate keeps the output identical.
    * The left join's null row from a matchless bucket adds nothing to
    * `count(b_event_id)`. */
  def j7RangeJoin(s: SparkSession, d: String): DataFrame = {
    // hour bucket by integer division (µs epochs stay exact — the
    // double-division path loses integer precision past 2^53)
    val a = events(s, d).select(col("user_id"), col("event_id"), col("ts"))
      .withColumn("_bkt", explode(array(
        expr("unix_micros(ts) div 3600000000") - 1,
        expr("unix_micros(ts) div 3600000000"))))
    val b = events(s, d).select(col("user_id"),
        col("event_id").as("b_event_id"), col("ts").as("b_ts"))
      .withColumn("_bkt", expr("unix_micros(b_ts) div 3600000000"))
    a.join(b,
        a("user_id") === b("user_id") &&
        a("_bkt") === b("_bkt") &&
        col("b_ts") >= col("ts") - expr("INTERVAL 1 HOUR") &&
        col("b_ts") <= col("ts") &&
        col("b_event_id") =!= col("event_id"), "left_outer")
      .groupBy(a("user_id"), col("event_id"))
      .agg(count(col("b_event_id")).as("n_prev_hour"))
      .orderBy("user_id", "event_id")
  }

  val j7RangeJoinSql: String =
    """SELECT a.user_id, a.event_id, COUNT(b.event_id) AS n_prev_hour
      |FROM events a
      |LEFT JOIN events b
      |  ON a.user_id = b.user_id
      | AND b.ts >= a.ts - INTERVAL 1 HOUR
      | AND b.ts <= a.ts
      | AND b.event_id <> a.event_id
      |GROUP BY a.user_id, a.event_id
      |ORDER BY a.user_id, a.event_id""".stripMargin

  /** A5: exact counts + distinct counts per group (server.py:120-203). */
  def a5Counts(s: SparkSession, d: String): DataFrame =
    orders(s, d)
      .groupBy("o_orderpriority")
      .agg(count(lit(1)).as("n_orders"),
        countDistinct(col("o_custkey")).as("n_custs"),
        round(max("o_totalprice"), 2).as("max_price"),
        round(min("o_totalprice"), 2).as("min_price"))
      .orderBy("o_orderpriority")

  val a5CountsSql: String =
    """SELECT o_orderpriority, COUNT(*) AS n_orders,
      |  COUNT(DISTINCT o_custkey) AS n_custs,
      |  ROUND(MAX(o_totalprice), 2) AS max_price,
      |  ROUND(MIN(o_totalprice), 2) AS min_price
      |FROM orders
      |GROUP BY o_orderpriority
      |ORDER BY o_orderpriority""".stripMargin

  /** A8: ordered array aggregation (parquet_export.py:52-93's
    * array_agg(record ORDER BY mjd)), serialized to a string so the
    * hash compare is list-representation-independent. */
  def a8ArrayAgg(s: SparkSession, d: String): DataFrame =
    lineitem(s, d)
      .groupBy("l_orderkey")
      .agg(array_join(array_sort(collect_list(col("l_quantity").cast("int"))), ",")
        .as("quantities"),
        count(lit(1)).as("n"))
      .orderBy("l_orderkey")

  val a8ArrayAggSql: String =
    """SELECT l_orderkey,
      |  STRING_AGG(CAST(CAST(l_quantity AS INT) AS VARCHAR), ',' ORDER BY l_quantity) AS quantities,
      |  COUNT(*) AS n
      |FROM lineitem
      |GROUP BY l_orderkey
      |ORDER BY l_orderkey""".stripMargin

  /** W2: rank-1 window + running sum (the DISTINCT ON replacement and
    * the only window shapes the reference uses, SURVEY.md §2.5). */
  def w2Window(s: SparkSession, d: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    events(s, d)
      .withColumn("rn", row_number().over(w).cast("long"))
      .withColumn("running_value", round(sum("value").over(
        w.rowsBetween(Window.unboundedPreceding, 0)), 4))
      .filter(col("rn") <= 5)
      .select(col("user_id"), col("event_id"), col("rn"), col("running_value"))
      .orderBy("user_id", "rn")
  }

  val w2WindowSql: String =
    """SELECT user_id, event_id, rn, running_value
      |FROM (
      |  SELECT user_id, event_id,
      |    ROW_NUMBER() OVER (PARTITION BY user_id ORDER BY ts, event_id) AS rn,
      |    ROUND(SUM(value) OVER (PARTITION BY user_id ORDER BY ts, event_id
      |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW), 4) AS running_value
      |  FROM events)
      |WHERE rn <= 5
      |ORDER BY user_id, rn""".stripMargin

  /** O: deterministic top-k (top customers by revenue). */
  def o1TopK(s: SparkSession, d: String): DataFrame =
    orders(s, d)
      .groupBy("o_custkey")
      .agg(round(sum("o_totalprice"), 2).as("total_spent"),
        count(lit(1)).as("n_orders"))
      .orderBy(desc("total_spent"), col("o_custkey"))
      .limit(10)

  val o1TopKSql: String =
    """SELECT o_custkey, ROUND(SUM(o_totalprice), 2) AS total_spent,
      |  COUNT(*) AS n_orders
      |FROM orders
      |GROUP BY o_custkey
      |ORDER BY total_spent DESC, o_custkey
      |LIMIT 10""".stripMargin

  /** O4: keyset (seek-method) pagination — the reference exports
    * result chunks with OFFSET/LIMIT (src/parquet_export.py:96-101),
    * which SURVEY.md §2 marks "avoid": OFFSET n re-sorts and discards
    * n rows per page, O(n·pages) total and unstable under concurrent
    * writes. The scale-correct replacement is the seek method: each
    * page filters `key > last_seen_key` (a parquet min/max-prunable
    * predicate — untouched row groups are never read) and takes the
    * next `pageSize` by key order. Pages 1–3 are walked here by
    * carrying only the boundary KEY between pages (two one-scalar
    * collects, the client-cursor contract); the third page is the
    * result. The oracle states the same rows as OFFSET/LIMIT — tiny
    * in DuckDB, which is exactly the asymmetry the operator exists
    * for. */
  def o4KeysetPage(s: SparkSession, d: String): DataFrame = {
    val pageSize = 100
    def page(after: Option[Long]): DataFrame =
      after.foldLeft(orders(s, d))((df, b) => df.filter(col("o_orderkey") > b))
        .select(col("o_orderkey"), col("o_custkey"),
          col("o_orderpriority"), col("o_totalprice"))
        .orderBy("o_orderkey")
        .limit(pageSize)
    val b1 = page(None).agg(max(col("o_orderkey"))).head().getLong(0)
    val b2 = page(Some(b1)).agg(max(col("o_orderkey"))).head().getLong(0)
    page(Some(b2)).orderBy("o_orderkey")
  }

  val o4KeysetPageSql: String =
    """SELECT o_orderkey, o_custkey, o_orderpriority, o_totalprice
      |FROM orders
      |ORDER BY o_orderkey
      |LIMIT 100 OFFSET 200""".stripMargin

  /** Set op: UNION ALL of two entity projections (server.py:38-43's
    * procver + alias concatenation). */
  def setUnion(s: SparkSession, d: String): DataFrame =
    customer(s, d).filter(col("c_custkey") % 100 === 0)
      .select(col("c_custkey").as("k"), lit("customer").as("kind"))
      .unionAll(supplier(s, d)
        .select(col("s_suppkey").cast("long").as("k"), lit("supplier").as("kind")))
      .orderBy("kind", "k")

  val setUnionSql: String =
    """SELECT k, kind FROM (
      |  SELECT c_custkey AS k, 'customer' AS kind FROM customer WHERE c_custkey % 100 = 0
      |  UNION ALL
      |  SELECT s_suppkey AS k, 'supplier' AS kind FROM supplier)
      |ORDER BY kind, k""".stripMargin

  /** F1: flux ↔ AB-magnitude scalar math through Funcs on events. */
  def f1ScalarMath(s: SparkSession, d: String): DataFrame =
    events(s, d).filter(col("value") > 0)
      .select(col("event_id"),
        round(Funcs.flux2mag(col("value")), 6).as("mag"),
        round(Funcs.mag2flux(Funcs.flux2mag(col("value"))), 6).as("flux_rt"))
      .orderBy("event_id")

  val f1ScalarMathSql: String =
    """SELECT event_id,
      |  ROUND(-2.5 * LOG10(value) + 31.4, 6) AS mag,
      |  ROUND(POWER(10, ((-2.5 * LOG10(value) + 31.4) - 31.4) / -2.5), 6) AS flux_rt
      |FROM events WHERE value > 0
      |ORDER BY event_id""".stripMargin

  /** F9: JSON field extraction (the brokerinfo JSONB path,
    * db.py:719-722) — group counts by a JSON-extracted key. */
  def f9Json(s: SparkSession, d: String): DataFrame =
    events(s, d)
      .withColumn("k", get_json_object(col("props"), "$.k").cast("long"))
      .groupBy((col("k") % 10).as("k_mod"))
      .agg(count(lit(1)).as("n"), round(sum("value"), 4).as("sum_value"))
      .select(col("k_mod"), col("n"), col("sum_value"))
      .orderBy("k_mod")

  val f9JsonSql: String =
    """SELECT CAST(json_extract_string(props, '$.k') AS BIGINT) % 10 AS k_mod,
      |  COUNT(*) AS n, ROUND(SUM(value), 4) AS sum_value
      |FROM events
      |GROUP BY 1
      |ORDER BY k_mod""".stripMargin

  /** F8/P6: bitfield pack + group-by on packed flags
    * (brokerconsumer.py:453-461 / db.py:1793-1837). */
  def f8Bitfield(s: SparkSession, d: String): DataFrame =
    lineitem(s, d)
      .withColumn("flags", Funcs.packBits(Seq(
        (col("l_returnflag") === "R", 0),
        (col("l_quantity") >= 25, 1),
        (col("l_discount") > 0.05, 4))))
      .groupBy("flags")
      .agg(count(lit(1)).as("n"),
        sum(when(Funcs.hasAnyBit(col("flags"), 1 << 4), 1L).otherwise(0L)).as("n_bit4"))
      .orderBy("flags")

  val f8BitfieldSql: String =
    """WITH flagged AS (
      |  SELECT (CASE WHEN l_returnflag = 'R' THEN 1 ELSE 0 END)
      |       | (CASE WHEN l_quantity >= 25 THEN 2 ELSE 0 END)
      |       | (CASE WHEN l_discount > 0.05 THEN 16 ELSE 0 END) AS flags
      |  FROM lineitem)
      |SELECT flags, COUNT(*) AS n,
      |  CAST(SUM(CASE WHEN (flags & 16) != 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_bit4
      |FROM flagged
      |GROUP BY flags
      |ORDER BY flags""".stripMargin

  /** J10: as-of join — each purchase matched to the user's most recent
    * at-or-before view (attribution lookup; the reference's
    * latest-row-before-t shape, `ltcv.py` detection queries). Runs as
    * [[graft.query.Temporal.asofJoin]]'s union + carry-forward window:
    * one shuffle, no candidate pairs. Event timestamps are unique per
    * user (driver data), so no tieBreak is needed; the gap is emitted
    * in integer microseconds, which both engines compute exactly. */
  def j8AsofJoin(s: SparkSession, d: String): DataFrame = {
    val ev = events(s, d)
    val purchases = ev.filter(col("event_type") === "purchase")
      .select("user_id", "event_id", "ts")
    val views = ev.filter(col("event_type") === "view")
      .select(col("user_id"), col("event_id").as("v_event_id"),
        col("ts").as("v_ts"))
    graft.query.Temporal.asofJoin(purchases, views, "user_id", "ts", "v_ts")
      .select(col("user_id"), col("event_id"), col("v_event_id"),
        (unix_micros(col("ts")) - unix_micros(col("v_ts"))).as("gap_us"))
      .orderBy("event_id")
  }

  val j8AsofJoinSql: String =
    """WITH p AS (SELECT user_id, event_id, ts FROM events
      |           WHERE event_type = 'purchase'),
      |v AS (SELECT user_id, event_id AS v_event_id, ts AS v_ts FROM events
      |      WHERE event_type = 'view'),
      |j AS (SELECT p.user_id, p.event_id, v.v_event_id,
      |        epoch_us(p.ts) - epoch_us(v.v_ts) AS gap_us,
      |        ROW_NUMBER() OVER (PARTITION BY p.event_id
      |          ORDER BY v.v_ts DESC) AS rk
      |      FROM p LEFT JOIN v
      |        ON p.user_id = v.user_id AND v.v_ts <= p.ts)
      |SELECT user_id, event_id, v_event_id, CAST(gap_us AS BIGINT) AS gap_us
      |FROM j WHERE rk = 1 ORDER BY event_id""".stripMargin

  /** W3: gap sessionization (30-minute inactivity cutoff) — per-session
    * event/purchase counts and exact duration. The session id is a
    * running sum of boundary flags over one (user, time) window
    * ([[graft.query.Temporal.sessionize]]). */
  def w3Sessionize(s: SparkSession, d: String): DataFrame =
    graft.query.Temporal.sessionize(events(s, d), "user_id", "ts",
        expr("INTERVAL 30 MINUTES"))
      .groupBy("user_id", "session_seq")
      .agg(count(lit(1)).as("n_events"),
        sum(when(col("event_type") === "purchase", 1L).otherwise(0L))
          .as("n_purchases"),
        (unix_micros(max("ts")) - unix_micros(min("ts"))).as("dur_us"))
      .orderBy("user_id", "session_seq")

  val w3SessionizeSql: String =
    """WITH o AS (SELECT user_id, ts, event_type,
      |    LAG(ts) OVER (PARTITION BY user_id ORDER BY ts) AS prev_ts
      |  FROM events),
      |s AS (SELECT user_id, ts, event_type,
      |    SUM(CASE WHEN prev_ts IS NULL
      |               OR ts - prev_ts > INTERVAL 30 MINUTE
      |             THEN 1 ELSE 0 END)
      |      OVER (PARTITION BY user_id ORDER BY ts) AS session_seq
      |  FROM o)
      |SELECT user_id, CAST(session_seq AS BIGINT) AS session_seq,
      |  COUNT(*) AS n_events,
      |  CAST(SUM(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END)
      |       AS BIGINT) AS n_purchases,
      |  CAST(epoch_us(MAX(ts)) - epoch_us(MIN(ts)) AS BIGINT) AS dur_us
      |FROM s GROUP BY user_id, session_seq
      |ORDER BY user_id, session_seq""".stripMargin

  /** EV1 (beyond ref): ordered-step event funnel view → click →
    * purchase ([[graft.query.Temporal.funnel]]) — first qualifying
    * event per step, strictly increasing timestamps, per-user state
    * one timestamp per step. Exact integer semantics → fully
    * oracled. */
  def ev1EventFunnel(s: SparkSession, d: String): DataFrame =
    graft.query.Temporal.funnel(
        events(s, d).withColumn("ts_us", unix_micros(col("ts"))),
        "user_id", "event_type", "ts_us",
        steps = Seq("view", "click", "purchase"))
      .orderBy("step")

  val ev1Sql: String =
    """WITH ev AS (SELECT user_id, event_type, epoch_us(ts) AS ts_us
      |            FROM events),
      |s1 AS (SELECT user_id, MIN(ts_us) AS t FROM ev
      |       WHERE event_type = 'view' GROUP BY user_id),
      |s2 AS (SELECT e.user_id, MIN(e.ts_us) AS t
      |       FROM ev e JOIN s1 ON e.user_id = s1.user_id
      |       WHERE e.event_type = 'click' AND e.ts_us > s1.t
      |       GROUP BY e.user_id),
      |s3 AS (SELECT e.user_id, MIN(e.ts_us) AS t
      |       FROM ev e JOIN s2 ON e.user_id = s2.user_id
      |       WHERE e.event_type = 'purchase' AND e.ts_us > s2.t
      |       GROUP BY e.user_id)
      |SELECT * FROM (
      |  SELECT CAST(1 AS BIGINT) AS step, 'view' AS step_name,
      |    COUNT(*) AS n_users FROM s1
      |  UNION ALL
      |  SELECT 2, 'click', COUNT(*) FROM s2
      |  UNION ALL
      |  SELECT 3, 'purchase', COUNT(*) FROM s3)
      |ORDER BY step""".stripMargin

  /** EV2 (beyond ref): weekly cohort retention matrix
    * ([[graft.query.Temporal.retention]]) — users cohorted by
    * first-activity week (exact integer division of the microsecond
    * epoch), per-(cohort, offset) active counts and 4-dp rates. */
  def ev2Retention(s: SparkSession, d: String): DataFrame =
    graft.query.Temporal.retention(
        events(s, d).withColumn("ts_us", unix_micros(col("ts"))),
        "user_id", "ts_us")
      .orderBy("cohort_week", "week_offset")

  val ev2Sql: String =
    """WITH act AS (SELECT DISTINCT user_id,
      |    epoch_us(ts) // 604800000000 AS wk FROM events),
      |coh AS (SELECT user_id, MIN(wk) AS cohort_week FROM act GROUP BY 1),
      |sz AS (SELECT cohort_week, COUNT(*) AS cohort_size FROM coh GROUP BY 1)
      |SELECT a.cohort_week, a.week_offset, a.n_active, sz.cohort_size,
      |  ROUND(CAST(a.n_active AS DOUBLE) / sz.cohort_size, 4) AS retention
      |FROM (SELECT coh.cohort_week, act.wk - coh.cohort_week AS week_offset,
      |        COUNT(*) AS n_active
      |      FROM act JOIN coh USING (user_id)
      |      GROUP BY 1, 2) a
      |JOIN sz USING (cohort_week)
      |ORDER BY cohort_week, week_offset""".stripMargin

  /** EV3 (beyond ref): rolling DAU / trailing-7-day WAU / stickiness
    * per day ([[graft.query.Temporal.activeUsers]]) — WAU via the
    * linear contribute-forward explode, never a per-day range
    * self-join. Exact integer counting + one 4-dp rate → fully
    * oracled. */
  def ev3ActiveUsers(s: SparkSession, d: String): DataFrame =
    graft.query.Temporal.activeUsers(
        events(s, d).withColumn("ts_us", unix_micros(col("ts"))),
        "user_id", "ts_us")
      .orderBy("day")

  val ev3Sql: String =
    """WITH act AS (SELECT DISTINCT user_id,
      |    epoch_us(ts) // 86400000000 AS d FROM events),
      |dau AS (SELECT d AS day, COUNT(*) AS dau FROM act GROUP BY 1),
      |wau AS (SELECT day, COUNT(DISTINCT user_id) AS wau
      |        FROM (SELECT user_id, unnest(range(d, d + 7)) AS day FROM act)
      |        GROUP BY day)
      |SELECT dau.day, dau.dau, wau.wau,
      |  ROUND(CAST(dau.dau AS DOUBLE) / wau.wau, 4) AS stickiness
      |FROM dau JOIN wau USING (day)
      |ORDER BY dau.day""".stripMargin

  /** EV4 (beyond ref): first-order Markov transition matrix over
    * per-user event sequences ([[graft.query.Temporal
    * .transitionMatrix]]); event_id is the total-order tiebreak. Exact
    * integer counting + one 4-dp rate → fully oracled. */
  def ev4Transitions(s: SparkSession, d: String): DataFrame =
    graft.query.Temporal.transitionMatrix(
        events(s, d).withColumn("ts_us", unix_micros(col("ts"))),
        "user_id", "event_type", "ts_us", "event_id")
      .orderBy("from_type", "to_type")

  val ev4Sql: String =
    """WITH l AS (SELECT user_id, event_type,
      |    LAG(event_type) OVER (PARTITION BY user_id
      |      ORDER BY epoch_us(ts), event_id) AS prev
      |  FROM events),
      |pr AS (SELECT prev AS from_type, event_type AS to_type,
      |         COUNT(*) AS n
      |       FROM l WHERE prev IS NOT NULL GROUP BY 1, 2),
      |tt AS (SELECT from_type, CAST(SUM(n) AS BIGINT) AS tot
      |       FROM pr GROUP BY 1)
      |SELECT pr.from_type, pr.to_type, pr.n,
      |  ROUND(CAST(pr.n AS DOUBLE) / tt.tot, 4) AS p
      |FROM pr JOIN tt USING (from_type)
      |ORDER BY from_type, to_type""".stripMargin

  /** EV5 (beyond ref): per-user daily-volume anomaly z-scores
    * ([[graft.query.Temporal.dailyAnomalies]], centered two-pass
    * moments, |z| ≥ 2 flagged). Deterministic arithmetic at 4 dp →
    * fully oracled. */
  def ev5Anomalies(s: SparkSession, d: String): DataFrame =
    graft.query.Temporal.dailyAnomalies(
        events(s, d).withColumn("ts_us", unix_micros(col("ts"))),
        "user_id", "ts_us", zThreshold = 2.0)
      // z is a rounded value that can sit at a tiny negative — pin the
      // sign of zero on both engines (graft.queries.Num.rnd0 rule)
      .withColumn("z", col("z") + lit(0.0))
      .orderBy("user_id", "day")

  val ev5Sql: String =
    """WITH dly AS (SELECT user_id, epoch_us(ts) // 86400000000 AS day,
      |         COUNT(*) AS n_events
      |       FROM events GROUP BY 1, 2),
      |m AS (SELECT user_id, COUNT(*) AS nd,
      |        AVG(CAST(n_events AS DOUBLE)) AS mean
      |      FROM dly GROUP BY 1),
      |m2 AS (SELECT d.user_id,
      |         SUM((d.n_events - m.mean) * (d.n_events - m.mean)) AS s2
      |       FROM dly d JOIN m USING (user_id) GROUP BY 1),
      |z AS (SELECT d.user_id, d.day, d.n_events,
      |        CASE WHEN sqrt(m2.s2 / m.nd) > 0
      |             THEN ROUND((d.n_events - m.mean) / sqrt(m2.s2 / m.nd), 4)
      |               + 0.0
      |             ELSE 0.0 END AS z
      |      FROM dly d JOIN m USING (user_id) JOIN m2 USING (user_id))
      |SELECT user_id, day, n_events, z, ABS(z) >= 2.0 AS is_anomaly
      |FROM z ORDER BY user_id, day""".stripMargin

  /** EV6 (beyond ref): top session paths — 30-minute-gap sessions, the
    * first 5 event types of each session in (ts, event_id) order joined
    * into a path string, the 20 most frequent paths
    * ([[graft.query.Temporal.topPaths]]). Exact integer counting with
    * the (count desc, path) tie rule → fully oracled. */
  def ev6EventPaths(s: SparkSession, d: String): DataFrame =
    graft.query.Temporal.topPaths(
        events(s, d).withColumn("ts_us", unix_micros(col("ts"))),
        "user_id", "event_type", "ts_us", "event_id",
        gapUs = 1800000000L, maxSteps = 5, k = 20)
      .orderBy("rank")

  val ev6Sql: String =
    """WITH o AS (SELECT user_id, event_id, event_type,
      |    epoch_us(ts) AS ts_us,
      |    LAG(epoch_us(ts)) OVER (PARTITION BY user_id
      |      ORDER BY epoch_us(ts), event_id) AS prev
      |  FROM events),
      |s AS (SELECT *, SUM(CASE WHEN prev IS NULL
      |          OR ts_us - prev > 1800000000 THEN 1 ELSE 0 END)
      |        OVER (PARTITION BY user_id ORDER BY ts_us, event_id) AS sess
      |      FROM o),
      |r AS (SELECT *, ROW_NUMBER() OVER (PARTITION BY user_id, sess
      |        ORDER BY ts_us, event_id) AS rn FROM s),
      |p AS (SELECT user_id, sess,
      |        string_agg(event_type, '>' ORDER BY rn) AS path
      |      FROM r WHERE rn <= 5 GROUP BY user_id, sess),
      |c AS (SELECT path, COUNT(*) AS n_sessions FROM p GROUP BY 1)
      |SELECT path, n_sessions, CAST(rk AS BIGINT) AS rank
      |FROM (SELECT *, ROW_NUMBER() OVER (ORDER BY n_sessions DESC, path)
      |        AS rk FROM c)
      |WHERE rk <= 20 ORDER BY rank""".stripMargin

  /** EV9 (beyond ref): daily trending leaderboard — top-3 event types
    * per day by volume with the day-over-day delta
    * ([[graft.query.Temporal.trendingTypes]]). Exact integer counts,
    * lag/rank windows only over the day×type-bounded count frame,
    * (n desc, type) deterministic tie rule → fully oracled. */
  def ev9Trending(s: SparkSession, d: String): DataFrame =
    graft.query.Temporal.trendingTypes(
        events(s, d).withColumn("ts_us", unix_micros(col("ts"))),
        "event_type", "ts_us", k = 3)
      .orderBy("day", "rank")

  val ev9Sql: String =
    """WITH c AS (SELECT epoch_us(ts) // 86400000000 AS day, event_type,
      |         COUNT(*) AS n
      |       FROM events GROUP BY 1, 2),
      |l AS (SELECT *,
      |        LAG(day) OVER (PARTITION BY event_type ORDER BY day) AS pd,
      |        LAG(n) OVER (PARTITION BY event_type ORDER BY day) AS pn
      |      FROM c),
      |r AS (SELECT day, event_type, n,
      |        CASE WHEN pd = day - 1 THEN n - pn END AS delta,
      |        ROW_NUMBER() OVER (PARTITION BY day
      |          ORDER BY n DESC, event_type) AS rank
      |      FROM l)
      |SELECT day, CAST(rank AS BIGINT) AS rank, event_type, n, delta
      |FROM r WHERE rank <= 3
      |ORDER BY day, rank""".stripMargin

  /** EV7 (beyond ref): A/B experiment readout — the analysis every
    * event pipeline ends in. Users are assigned to arms by the
    * engine-portable md5-nibble split ([[graft.pipeline.Sharding]]'s
    * idiom: first hex nibble of md5(user_id), 0–7 → control, 8–f →
    * treatment — deterministic, seedless, and identical on any engine
    * with a standard md5); conversion = the user fired ≥ 1 `purchase`
    * event above the 180.0 value cut (every synthetic user purchases
    * SOMETHING, so bare purchase saturates to p = 1 and the z
    * denominator vanishes — the cut keeps both arms interior at every
    * SF). One row: per-arm sizes/conversions plus the two-proportion
    * z statistic, spelled identically in both engines — every step
    * (counts, exact integer-ratio divisions, one sqrt) is a correctly
    * rounded IEEE op on identical inputs, so the 6-dp rounding carries
    * three digits of margin. Shape: one user-keyed partial-agg groupBy
    * + one scalar conditional aggregate — no join, nothing wider than
    * a row ever moves. */
  def ev7AbTest(s: SparkSession, d: String): DataFrame = {
    val perUser = events(s, d).groupBy("user_id")
      .agg(max(when(col("event_type") === "purchase" && col("value") > 180.0,
          1L).otherwise(0L))
        .as("conv"))
      .withColumn("arm",
        when(substring(md5(col("user_id").cast("string")), 1, 1) <= "7",
          "control").otherwise("treatment"))
    perUser.agg(
        sum(when(col("arm") === "control", 1L).otherwise(0L)).as("n_c"),
        sum(when(col("arm") === "control", col("conv")).otherwise(0L)).as("k_c"),
        sum(when(col("arm") === "treatment", 1L).otherwise(0L)).as("n_t"),
        sum(when(col("arm") === "treatment", col("conv")).otherwise(0L)).as("k_t"))
      .select(col("n_c"), col("k_c"), col("n_t"), col("k_t"),
        round(col("k_c").cast("double") / col("n_c"), 6).as("conv_c"),
        round(col("k_t").cast("double") / col("n_t"), 6).as("conv_t"),
        Num.rnd0(
          (col("k_t").cast("double") / col("n_t") -
            col("k_c").cast("double") / col("n_c")) /
          sqrt(((col("k_c") + col("k_t")).cast("double") / (col("n_c") + col("n_t"))) *
            (lit(1.0) - (col("k_c") + col("k_t")).cast("double") / (col("n_c") + col("n_t"))) *
            (lit(1.0) / col("n_c") + lit(1.0) / col("n_t"))), 6).as("z"))
  }

  val ev7Sql: String =
    """WITH pu AS (SELECT user_id,
      |    MAX(CASE WHEN event_type = 'purchase' AND value > 180.0
      |        THEN 1 ELSE 0 END) AS conv
      |  FROM events GROUP BY 1),
      |ar AS (SELECT CASE WHEN substring(md5(CAST(user_id AS VARCHAR)), 1, 1)
      |           <= '7' THEN 'control' ELSE 'treatment' END AS arm, conv
      |       FROM pu),
      |ag AS (SELECT
      |    SUM(CASE WHEN arm = 'control' THEN 1 ELSE 0 END) AS n_c,
      |    SUM(CASE WHEN arm = 'control' THEN conv ELSE 0 END) AS k_c,
      |    SUM(CASE WHEN arm = 'treatment' THEN 1 ELSE 0 END) AS n_t,
      |    SUM(CASE WHEN arm = 'treatment' THEN conv ELSE 0 END) AS k_t
      |  FROM ar)
      |SELECT CAST(n_c AS BIGINT) AS n_c, CAST(k_c AS BIGINT) AS k_c,
      |  CAST(n_t AS BIGINT) AS n_t, CAST(k_t AS BIGINT) AS k_t,
      |  ROUND(CAST(k_c AS DOUBLE) / n_c, 6) AS conv_c,
      |  ROUND(CAST(k_t AS DOUBLE) / n_t, 6) AS conv_t,
      |  ROUND((CAST(k_t AS DOUBLE) / n_t - CAST(k_c AS DOUBLE) / n_c) /
      |    sqrt((CAST(k_c + k_t AS DOUBLE) / (n_c + n_t)) *
      |      (1.0 - CAST(k_c + k_t AS DOUBLE) / (n_c + n_t)) *
      |      (1.0 / CAST(n_c AS DOUBLE) + 1.0 / CAST(n_t AS DOUBLE))), 6)
      |    + 0.0 AS z
      |FROM ag""".stripMargin

  /** EV8 (beyond ref): incrementally-maintained daily rollup — the
    * materialized-view pattern ([[graft.merge.RollupStore]]): the
    * event stream folds in four batches, each fold aggregating ONLY
    * its batch and appending that aggregate as one segment, and the
    * read sums the per-fold partials. Counts/sums are additive so the
    * final state equals the one-shot GROUP BY the oracle runs — which
    * is precisely the m-view maintenance invariant the query pins.
    * Sums round at 4 dp only at the output (state carries raw doubles;
    * per-batch partial sums reassociate differently than one pass). */
  def ev8IncrementalRollup(s: SparkSession, d: String): DataFrame = {
    val dir = java.nio.file.Files.createTempDirectory("graft_ev8").toString
    try {
      val ev = events(s, d).withColumn("day",
        expr("unix_micros(ts) div 86400000000").cast("int"))
      (0 until 4).foreach { k =>
        graft.merge.RollupStore.fold(dir,
          ev.filter(col("event_id") % 4 === k), "day", "event_type", "value")
      }
      // plan-only derivation of the store schema (fold's aggregate
      // shape) so the final load skips its footer-inference job too
      val storeSchema = ev.groupBy(col("day"), col("event_type"))
        .agg(count(lit(1)).as("n"), sum(col("value")).as("sum_value")).schema
      graft.merge.RollupStore.load(s, dir, Some(storeSchema))
        .select(col("day"), col("event_type"), col("n"),
          round(col("sum_value"), 4).as("sum_value_r"))
        .orderBy("day", "event_type")
        .localCheckpoint(true)  // detach from the scratch tree before delete
    } finally graft.util.Local.deleteRecursively(dir)
  }

  val ev8Sql: String =
    """SELECT CAST(epoch_us(ts) // 86400000000 AS INTEGER) AS day,
      |  event_type, COUNT(*) AS n, ROUND(SUM(value), 4) AS sum_value_r
      |FROM events
      |GROUP BY 1, 2
      |ORDER BY day, event_type""".stripMargin

  /** G1 (beyond ref): weighted PageRank over the part co-purchase
    * graph — parts are linked when they share an order, weight = the
    * number of shared orders, both orientations (undirected), 5
    * power-iteration steps at damping 0.85
    * ([[graft.pipeline.Graph.pageRank]]). The oracle unrolls the same
    * five iterations in SQL; ranks are O(1/N) and round at 6 dp, three
    * significant digits of float-portability margin. */
  /** The part co-purchase pair substrate g1/g2 share: parts linked
    * when they appear in >= 2 common orders (pk < pk2 canonical form,
    * w = shared-order count). Significant co-occurrences only — the
    * association-mining convention: the w=1 noise floor is quadratic
    * in basket size and carries no signal, and thresholding INSIDE
    * the pair aggregate keeps everything downstream churn-sized.
    * Checkpointed so multiple consumers don't re-run the order-keyed
    * self-join. */
  private def coPurchasePairs(s: SparkSession, d: String): DataFrame = {
    val li = lineitem(s, d)
      .select(col("l_orderkey").as("ok"), col("l_partkey").as("pk"))
    li.join(li.select(col("ok"), col("pk").as("pk2")), Seq("ok"))
      .filter(col("pk") < col("pk2"))
      .groupBy("pk", "pk2").agg(count(lit(1)).as("w"))
      .filter(col("w") >= 2)
      .localCheckpoint(true)
  }

  /** The e0 CTE both graph oracles open with — the SQL spelling of
    * [[coPurchasePairs]]. */
  private val coPurchaseSql: String =
    """e0 AS (SELECT a.l_partkey AS s, b.l_partkey AS t, COUNT(*) AS w
      |  FROM lineitem a JOIN lineitem b
      |    ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
      |  GROUP BY 1, 2 HAVING COUNT(*) >= 2)""".stripMargin

  def g1PageRank(s: SparkSession, d: String): DataFrame = {
    val pairs = coPurchasePairs(s, d)
    val edges = pairs
      .select(col("pk").as("src"), col("pk2").as("dst"), col("w"))
      .unionByName(
        pairs.select(col("pk2").as("src"), col("pk").as("dst"), col("w")))
    graft.pipeline.Graph.pageRank(edges, "src", "dst", "w", iterations = 5)
      .select(col("node").as("part"), round(col("rank"), 6).as("rank"))
      .orderBy("part")
  }

  val g1Sql: String = {
    // one power-iteration step: rank = teleport + damping * inbound
    // contribution sum (COALESCE for generality; the symmetric graph
    // has no in-edge-free node)
    def step(i: Int) =
      s"""r$i AS (SELECT n.v, 0.15 / c.nd +
         |    0.85 * COALESCE(SUM(r${i - 1}.r * en.f), 0.0) AS r
         |  FROM n CROSS JOIN c
         |  LEFT JOIN en ON en.t = n.v
         |  LEFT JOIN r${i - 1} ON r${i - 1}.v = en.s
         |  GROUP BY n.v, c.nd)""".stripMargin
    s"""WITH $coPurchaseSql,
       |e AS (SELECT s, t, w FROM e0 UNION ALL SELECT t, s, w FROM e0),
       |ow AS (SELECT s, SUM(w) AS ow FROM e GROUP BY 1),
       |en AS (SELECT e.s, e.t, CAST(e.w AS DOUBLE) / ow.ow AS f
       |       FROM e JOIN ow USING (s)),
       |n AS (SELECT DISTINCT s AS v FROM e),
       |c AS (SELECT CAST(COUNT(*) AS DOUBLE) AS nd FROM n),
       |r0 AS (SELECT v, 1.0 / c.nd AS r FROM n CROSS JOIN c),
       |${(1 to 5).map(step).mkString(",\n")}
       |SELECT v AS part, ROUND(r, 6) AS rank FROM r5
       |ORDER BY part""".stripMargin
  }

  /** G2 (beyond ref): per-node triangle counts + local clustering
    * coefficient over the co-purchase graph ([[graft.pipeline.Graph
    * .triangleCounts]] — degree-ordered wedge closing, so no reducer
    * ever sees a hub's Θ(deg²) wedge set). The oracle enumerates each
    * triangle once in its canonical x < y < z form — the orientations
    * differ but the triangle SET is identical, which is exactly what
    * the hash check pins. Clustering = 2T / (d(d−1)), an exact IEEE
    * division of integers, rounded at 6 dp. */
  def g2Triangles(s: SparkSession, d: String): DataFrame = {
    val pairs = coPurchasePairs(s, d)
    graft.pipeline.Graph.triangleCounts(pairs, "pk", "pk2")
      .select(col("node").as("part"), col("degree"), col("n_triangles"),
        round(when(col("degree") > 1,
            col("n_triangles") * lit(2.0) /
              (col("degree") * (col("degree") - 1)))
          .otherwise(lit(0.0)), 6).as("clustering"))
      .orderBy("part")
  }

  val g2Sql: String =
    s"""WITH $coPurchaseSql,
       |tri AS (SELECT a.s AS x, a.t AS y, b.t AS z
       |  FROM e0 a
       |  JOIN e0 b ON b.s = a.s AND b.t > a.t
       |  JOIN e0 c ON c.s = a.t AND c.t = b.t),
       |deg AS (SELECT n, COUNT(*) AS d FROM (
       |    SELECT s AS n FROM e0 UNION ALL SELECT t FROM e0)
       |  GROUP BY 1),
       |tc AS (SELECT n, COUNT(*) AS t FROM (
       |    SELECT x AS n FROM tri UNION ALL SELECT y FROM tri
       |    UNION ALL SELECT z FROM tri)
       |  GROUP BY 1)
       |SELECT deg.n AS part, deg.d AS degree,
       |  COALESCE(tc.t, 0) AS n_triangles,
       |  ROUND(CASE WHEN deg.d > 1
       |    THEN COALESCE(tc.t, 0) * 2.0 / (deg.d * (deg.d - 1))
       |    ELSE 0.0 END, 6) AS clustering
       |FROM deg LEFT JOIN tc ON tc.n = deg.n
       |ORDER BY part""".stripMargin

  /** G3 (beyond ref): link prediction over the co-purchase graph —
    * for every non-linked part pair sharing ≥ 2 co-purchase neighbors,
    * the common-neighbor count and Adamic–Adar score
    * ([[graft.pipeline.Graph.linkPredict]]): the related-item
    * candidate generator. Integer counts are engine-exact; the
    * Adamic–Adar sum (few O(1) terms of 1/ln d, libm log on identical
    * integer inputs) rounds at 6 dp with ~9 digits of margin over
    * 1-ulp libm divergence. */
  def g3LinkPredict(s: SparkSession, d: String): DataFrame = {
    val pairs = coPurchasePairs(s, d)
    graft.pipeline.Graph.linkPredict(pairs, "pk", "pk2")
      .filter(col("common") >= 2)
      .select(col("u").as("part_u"), col("v").as("part_v"),
        col("common"), round(col("aa"), 6).as("aa"))
      .orderBy("part_u", "part_v")
  }

  val g3Sql: String =
    s"""WITH $coPurchaseSql,
       |adj AS (SELECT s AS c, t AS n FROM e0
       |        UNION ALL SELECT t, s FROM e0),
       |deg AS (SELECT c, COUNT(*) AS d FROM adj GROUP BY 1),
       |w AS (SELECT a.c, a.n AS u, b.n AS v
       |      FROM adj a JOIN adj b ON a.c = b.c AND a.n < b.n),
       |cand AS (SELECT u, v, COUNT(*) AS common,
       |           ROUND(SUM(1.0 / LN(deg.d)), 6) AS aa
       |         FROM w JOIN deg ON deg.c = w.c GROUP BY 1, 2)
       |SELECT u AS part_u, v AS part_v, common, aa
       |FROM cand
       |WHERE common >= 2
       |  AND NOT EXISTS (SELECT 1 FROM e0
       |                  WHERE e0.s = cand.u AND e0.t = cand.v)
       |ORDER BY part_u, part_v""".stripMargin

  /** ST1: a REAL Structured Streaming execution as a driver-oracled
    * battery entry — the events table replayed through a file-source
    * stream into [[graft.streaming.EventWindows.windowedCounts]]
    * (event-time watermark + 5-minute tumbling windows), collected via
    * an availableNow trigger into a memory sink. Output mode is
    * `complete` so every window — including those the watermark has
    * not yet closed when the finite replay ends — is emitted exactly
    * once, making the result identical to the batch GROUP BY the
    * DuckDB oracle runs (production monitoring uses `append` +
    * watermark-closed windows; that incremental mode is pinned
    * stream≡batch in StreamingSpec). Window starts are emitted as
    * integer epoch-microseconds, the battery's timestamp idiom. */
  def st1StreamWindows(s: SparkSession, d: String): DataFrame = {
    s.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    val schema = s.read.parquet(s"$d/events.parquet").schema
    val name = "st1_mem_" + java.util.UUID.randomUUID().toString.replace("-", "")
    val ckpt = java.nio.file.Files.createTempDirectory("st1_ckpt").toString
    // the driver ships events.parquet as a single FILE; for a non-glob
    // path FileStreamSource force-sets basePath to that file and then
    // rejects it ("must be a directory"), so select the file via a
    // glob (leaves our explicit directory basePath in effect)
    val stream = s.readStream.schema(schema)
      .option("basePath", d).parquet(s"$d/events.*")
    val q = graft.streaming.EventWindows
      .windowedCounts(normalizeEventTs(stream), "ts", "event_type",
        window_ = "5 minutes", lateness = "10 minutes")
      .writeStream
      .outputMode("complete")
      .format("memory")
      .queryName(name)
      .option("checkpointLocation", ckpt)
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start()
    q.awaitTermination()
    val out = s.table(name)
      .select(unix_micros(col("window_start")).as("window_start_us"),
        col("event_type"), col("n"),
        round(col("sum_value"), 4).as("sum_value"))
      .orderBy("window_start_us", "event_type")
      .localCheckpoint(true)  // detach from the sink before the view is dropped
    s.catalog.dropTempView(name)
    out
  }

  val st1Sql: String =
    """SELECT (epoch_us(ts) // 300000000) * 300000000 AS window_start_us,
      |  event_type, COUNT(*) AS n, ROUND(SUM(value), 4) AS sum_value
      |FROM events
      |GROUP BY 1, 2
      |ORDER BY window_start_us, event_type""".stripMargin

  /** ST2: watermark-driven session finalization, APPEND mode, exactly
    * oracled — the stricter streaming demonstration: st1's complete
    * mode re-emits everything, append emits a session exactly once and
    * only when the event-time watermark proves it closed. A finite
    * replay would leave the trailing sessions open (append would drop
    * them and the oracle could never match), so the staged file
    * sequence appends two far-future sentinel rows as separate
    * micro-batches: sentinel 1 advances the watermark past every real
    * session, sentinel 2 triggers the batch in which that watermark
    * evicts + emits them. Sentinel users are negative ids, filtered
    * from the result; their own sessions never close, so nothing
    * synthetic can leak through the filter anyway. The staged copy
    * (b0..b2) is a [[graft.util.Stage]] artifact; the real table rides in ONE file so no real row can arrive behind the
    * watermark (the checkpoint is fresh per run — replay determinism
    * is StreamingSpec territory). */
  def st2StreamSessions(s: SparkSession, d: String): DataFrame = {
    val ev = events(s, d).select(col("ts"), col("user_id"))
    val stage = graft.util.Stage.scratchDir("st2", d, "events")
    graft.util.Stage.loadOrBuild(s, stage, (0 to 2).map(i => s"b$i" -> ev.schema)) {
      val maxTs = ev.agg(max(unix_micros(col("ts")))).head().getLong(0)
      val day = 86400000000L
      graft.util.Stage.Built(ev.coalesce(1).write +:
        Seq(1 -> (maxTs + 10 * day), 2 -> (maxTs + 11 * day)).map {
          case (i, us) =>
            s.range(1)
              .select(timestamp_micros(lit(us)).as("ts"),
                lit(-i.toLong).as("user_id"))
              .coalesce(1).write
        })
    }
    val ckpt = java.nio.file.Files.createTempDirectory("st2_ckpt").toString
    val name = "st2_mem_" + java.util.UUID.randomUUID().toString.replace("-", "")
    val q = graft.streaming.EventWindows
      .sessionCounts(
        s.readStream.schema(ev.schema)
          .option("maxFilesPerTrigger", "1").parquet(s"$stage/b*"),
        "ts", "user_id", gap = "30 minutes", lateness = "10 minutes")
      .writeStream
      .outputMode("append")
      .format("memory")
      .queryName(name)
      .option("checkpointLocation", ckpt)
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start()
    q.awaitTermination()
    val out = s.table(name)
      .filter(col("user_id") >= 0)
      .select(unix_micros(col("session_start")).as("session_start_us"),
        unix_micros(col("session_end")).as("session_end_us"),
        col("user_id"), col("n"))
      .orderBy("user_id", "session_start_us")
      .localCheckpoint(true)
    s.catalog.dropTempView(name)
    out
  }

  /** Session rule mirrors Spark's session_window: a gap of EXACTLY the
    * duration closes the session (extension is strictly-less-than);
    * session end = last event + gap. */
  val st2Sql: String =
    """WITH o AS (SELECT user_id, ts,
      |    LAG(ts) OVER (PARTITION BY user_id ORDER BY ts) AS prev
      |  FROM events),
      |s AS (SELECT user_id, ts,
      |    SUM(CASE WHEN prev IS NULL OR ts - prev >= INTERVAL 30 MINUTE
      |             THEN 1 ELSE 0 END)
      |      OVER (PARTITION BY user_id ORDER BY ts) AS sid
      |  FROM o)
      |SELECT CAST(epoch_us(MIN(ts)) AS BIGINT) AS session_start_us,
      |  CAST(epoch_us(MAX(ts)) + 1800000000 AS BIGINT) AS session_end_us,
      |  user_id, COUNT(*) AS n
      |FROM s GROUP BY user_id, sid
      |ORDER BY user_id, session_start_us""".stripMargin

  /** EV10 (beyond ref): RFM customer segmentation — the canonical
    * marketing-analytics readout. Per customer: recency (last order's
    * epoch day), frequency (order count), monetary (3-dp-rounded spend
    * sum — the established sum-rounding idiom, and the RANK key, so
    * ordering is engine-stable). Each metric is ranked best-first with
    * a custkey tie-break and cut into quintiles by the explicit
    * formula q = (5·(rank−1)) div n + 1 — spelled identically in both
    * engines because NTILE's remainder distribution (first n mod 5
    * groups one larger) differs from this flooring split.
    *
    * Scale shape: one orders-keyed partial agg, then THREE
    * [[graft.pipeline.Sharding.globalRank]] two-phase rankings
    * (range exchange + local row_number + per-partition offsets) —
    * never a single-task `Window.orderBy` over all customers. The
    * customer count n arrives via one scalar count() action. */
  def ev10Rfm(s: SparkSession, d: String): DataFrame = {
    val per = orders(s, d).groupBy(col("o_custkey").as("custkey"))
      // o_orderdate ships as TIMESTAMP_NTZ: cast relabels the same
      // wall-clock instant under the fixed UTC session tz (Tables rule)
      .agg(max(expr("unix_micros(cast(o_orderdate as timestamp)) div 86400000000"))
          .as("rec_day"),
        count(lit(1)).as("frequency"),
        round(sum("o_totalprice"), 3).as("monetary"))
    val n = per.count()
    val ranked = Seq(
      (Seq(col("rec_day").desc, col("custkey").asc), "_rr"),
      (Seq(col("frequency").desc, col("custkey").asc), "_rf"),
      (Seq(col("monetary").desc, col("custkey").asc), "_rm"))
      .foldLeft(per) { case (df, (ord, name)) =>
        graft.pipeline.Sharding.globalRank(df, ord, name)
      }
    def quint(rank: String) = expr(s"(5 * ($rank - 1)) div ${n}L + 1")
    ranked
      .withColumn("r_q", quint("_rr"))
      .withColumn("f_q", quint("_rf"))
      .withColumn("m_q", quint("_rm"))
      .select(col("custkey"), col("rec_day"), col("frequency"),
        col("monetary"), col("r_q"), col("f_q"), col("m_q"),
        (col("r_q") * 100 + col("f_q") * 10 + col("m_q")).as("rfm"))
      .orderBy("custkey")
  }

  val ev10Sql: String =
    """WITH per AS (SELECT o_custkey AS custkey,
      |    MAX(epoch_us(o_orderdate) // 86400000000) AS rec_day,
      |    COUNT(*) AS frequency,
      |    ROUND(SUM(o_totalprice), 3) AS monetary
      |  FROM orders GROUP BY 1),
      |nn AS (SELECT COUNT(*) AS n FROM per),
      |rk AS (SELECT per.*,
      |    ROW_NUMBER() OVER (ORDER BY rec_day DESC, custkey) AS rr,
      |    ROW_NUMBER() OVER (ORDER BY frequency DESC, custkey) AS rf,
      |    ROW_NUMBER() OVER (ORDER BY monetary DESC, custkey) AS rm
      |  FROM per),
      |q AS (SELECT custkey, rec_day, frequency, monetary,
      |    (5 * (rr - 1)) // nn.n + 1 AS r_q,
      |    (5 * (rf - 1)) // nn.n + 1 AS f_q,
      |    (5 * (rm - 1)) // nn.n + 1 AS m_q
      |  FROM rk, nn)
      |SELECT custkey, rec_day, frequency, monetary,
      |  r_q, f_q, m_q, r_q * 100 + f_q * 10 + m_q AS rfm
      |FROM q ORDER BY custkey""".stripMargin

  /** G4 (beyond ref): community detection over the co-purchase graph
    * by deterministic synchronous label propagation
    * ([[graft.pipeline.Graph.labelPropagate]], 3 rounds) — frequency
    * voting with a smaller-label tie-break, so unlike min-label
    * flooding (= connected components) dense regions keep distinct
    * labels across bridges. The oracle unrolls the same three
    * rounds as CTEs; all arithmetic is integer, so the hash check is
    * exact with no rounding at all. */
  def g4Communities(s: SparkSession, d: String): DataFrame = {
    val pairs = coPurchasePairs(s, d)
    graft.pipeline.Graph.labelPropagate(pairs, "pk", "pk2", rounds = 3)
      .select(col("node").as("part"), col("label"))
      .orderBy("part")
  }

  val g4Sql: String = {
    def round_(i: Int) =
      s"""v$i AS (SELECT adj.c, l${i - 1}.l, COUNT(*) AS cnt
         |  FROM adj JOIN l${i - 1} ON l${i - 1}.v = adj.n GROUP BY 1, 2),
         |l$i AS (SELECT c AS v, l FROM (
         |    SELECT c, l, ROW_NUMBER() OVER (PARTITION BY c
         |      ORDER BY cnt DESC, l) AS rk FROM v$i) WHERE rk = 1)""".stripMargin
    s"""WITH $coPurchaseSql,
       |adj AS (SELECT s AS c, t AS n FROM e0
       |        UNION ALL SELECT t, s FROM e0),
       |l0 AS (SELECT DISTINCT c AS v, c AS l FROM adj),
       |${(1 to 3).map(round_).mkString(",\n")}
       |SELECT v AS part, l AS label FROM l3 ORDER BY part""".stripMargin
  }

  /** EV12 (beyond ref): peak concurrent sessions per day — the
    * capacity-planning statistic, computed as a classic sweep line:
    * every session (w3's 30-minute-gap definition, st2's
    * last-event + 30 min end convention) emits +1 at its start and
    * −1 at its end; the running sum over the global boundary order is
    * the live concurrency, and the per-day max of the inclusive
    * running sum is the peak. Boundary order is (instant, end<start,
    * user) — ends sort first, so back-to-back sessions hand over
    * without a phantom double-count, and the triple is unique (one
    * boundary per user per tag per instant), making the row-framed
    * running sum identical in both engines.
    *
    * Scale shape: the global running sum is [[graft.pipeline.Sharding
    * .prefixSum]]'s two-phase scheme over a zero-padded (t, tag, user)
    * sort key — partition-local sums + a one-row-per-partition offset
    * window, never a single-task global window. Days containing no
    * session boundary are absent (their peak equals the carried
    * concurrency — document, don't densify). */
  def ev12PeakConcurrency(s: SparkSession, d: String): DataFrame = {
    val sess = graft.query.Temporal.sessionize(
        events(s, d).select(col("user_id"), col("ts")),
        "user_id", "ts", expr("INTERVAL 30 MINUTES"))
      .groupBy("user_id", "session_seq")
      .agg(unix_micros(min("ts")).as("start_us"),
        (unix_micros(max("ts")) + lit(1800000000L)).as("end_us"))
    val sweep = sess.select(col("end_us").as("t"), lit("0").as("tag"),
        col("user_id"), lit(-1L).as("delta"))
      .unionByName(sess.select(col("start_us").as("t"), lit("1").as("tag"),
        col("user_id"), lit(1L).as("delta")))
      .select(concat(
          lpad(col("t").cast("string"), 20, "0"),
          col("tag"),
          lpad(col("user_id").cast("string"), 12, "0")).as("k"),
        col("delta"))
    graft.pipeline.Sharding.prefixSum(sweep, "k", col("delta"), Nil)
      .select(expr("cast(substring(k, 1, 20) as bigint) div 86400000000")
          .as("day"),
        col("cum_tokens").as("_conc"))
      .groupBy("day").agg(max("_conc").as("peak"))
      .orderBy("day")
  }

  val ev12Sql: String =
    """WITH o AS (SELECT user_id, ts,
      |    LAG(ts) OVER (PARTITION BY user_id ORDER BY ts) AS prev_ts
      |  FROM events),
      |sq AS (SELECT user_id, ts,
      |    SUM(CASE WHEN prev_ts IS NULL
      |               OR ts - prev_ts > INTERVAL 30 MINUTE
      |             THEN 1 ELSE 0 END)
      |      OVER (PARTITION BY user_id ORDER BY ts) AS session_seq
      |  FROM o),
      |sess AS (SELECT user_id, epoch_us(MIN(ts)) AS start_us,
      |           epoch_us(MAX(ts)) + 1800000000 AS end_us
      |         FROM sq GROUP BY user_id, session_seq),
      |sw AS (SELECT end_us AS t, 0 AS tag, user_id, -1 AS delta FROM sess
      |       UNION ALL
      |       SELECT start_us, 1, user_id, 1 FROM sess),
      |c AS (SELECT t, SUM(delta) OVER (ORDER BY t, tag, user_id
      |        ROWS UNBOUNDED PRECEDING) AS conc
      |      FROM sw)
      |SELECT t // 86400000000 AS day, CAST(MAX(conc) AS BIGINT) AS peak
      |FROM c GROUP BY 1 ORDER BY 1""".stripMargin

  /** D16 (beyond ref): CDC changelog compaction — the operator behind
    * every lakehouse MERGE/upsert sink: given a keyed change stream
    * (op ∈ {U, D} with a total-order sequence), produce the final
    * table state — last-writer-wins per key, deleted keys absent.
    * The events table stands in as the changelog (key = user_id,
    * seq = (event-time µs, event_id), op = D on 'error' else U).
    *
    * Scale shape: ONE map-side-combined `max_by(payload, seq)`
    * aggregate — per-partition pre-argmax means a hot key's million
    * changes collapse before the shuffle, strictly better than the
    * per-key window sort the oracle spells (row_number = the
    * PostgreSQL/DuckDB idiom; max_by = the Spark-native one — same
    * rows, pinned by the hash compare). Payload doubles are emitted
    * raw (bit-identical parquet reads), no rounding anywhere. */
  def d16CdcCompact(s: SparkSession, d: String): DataFrame = {
    val log = events(s, d).select(col("user_id"),
      unix_micros(col("ts")).as("seq_us"), col("event_id"),
      when(col("event_type") === "error", lit("D")).otherwise(lit("U"))
        .as("op"),
      col("value"))
    log.groupBy("user_id")
      .agg(count(lit(1)).as("n_ops"),
        max_by(col("op"), struct(col("seq_us"), col("event_id")))
          .as("_last_op"),
        max_by(col("value"), struct(col("seq_us"), col("event_id")))
          .as("_last_value"))
      .filter(col("_last_op") =!= "D")
      .select(col("user_id"), col("n_ops"), col("_last_value").as("last_value"))
      .orderBy("user_id")
  }

  val d16Sql: String =
    """WITH log AS (SELECT user_id, epoch_us(ts) AS seq_us, event_id,
      |    CASE WHEN event_type = 'error' THEN 'D' ELSE 'U' END AS op,
      |    value
      |  FROM events),
      |rk AS (SELECT *,
      |    ROW_NUMBER() OVER (PARTITION BY user_id
      |      ORDER BY seq_us DESC, event_id DESC) AS rn,
      |    COUNT(*) OVER (PARTITION BY user_id) AS n_ops
      |  FROM log)
      |SELECT user_id, n_ops, value AS last_value
      |FROM rk WHERE rn = 1 AND op != 'D'
      |ORDER BY user_id""".stripMargin

  /** G5 (beyond ref): multi-source BFS hop distances over the
    * co-purchase graph ([[graft.pipeline.Graph.bfs]], delta-frontier,
    * 3 hops) from the deterministic seed set pk ≡ 0 (mod 50). Hop
    * counts are integers — engine-exact with no rounding; the oracle
    * unrolls the same frontier rounds as CTEs. */
  def g5Bfs(s: SparkSession, d: String): DataFrame = {
    val pairs = coPurchasePairs(s, d)
    val seeds = pairs.select(col("pk").as("node"))
      .union(pairs.select(col("pk2").as("node")))
      .distinct()
      .filter(col("node") % 50 === 0)
    graft.pipeline.Graph.bfs(pairs, "pk", "pk2", seeds, "node", maxHops = 3)
      .select(col("node").as("part"), col("dist").cast("long").as("dist"))
      .orderBy("part")
  }

  val g5Sql: String = {
    def hop(i: Int) =
      s"""f$i AS (SELECT DISTINCT adj.c AS node FROM adj
         |  JOIN f${i - 1} ON f${i - 1}.node = adj.n
         |  WHERE adj.c NOT IN (SELECT node FROM s${i - 1})),
         |s$i AS (SELECT node, dist FROM s${i - 1}
         |        UNION ALL SELECT node, $i FROM f$i)""".stripMargin
    s"""WITH $coPurchaseSql,
       |adj AS (SELECT s AS c, t AS n FROM e0
       |        UNION ALL SELECT t, s FROM e0),
       |f0 AS (SELECT DISTINCT c AS node FROM adj WHERE c % 50 = 0),
       |s0 AS (SELECT node, 0 AS dist FROM f0),
       |${(1 to 3).map(hop).mkString(",\n")}
       |SELECT node AS part, CAST(dist AS BIGINT) AS dist FROM s3
       |ORDER BY part""".stripMargin
  }

  /** EV11 (beyond ref): growth accounting — the daily
    * new / retained / resurrected / churned user ledger every product
    * analytics stack reports. Per user-day (distinct active days):
    * new = first-ever day, retained = also active the previous day,
    * resurrected = returning after a gap ≥ 2 days; churned on day d =
    * active on d−1 but not d (attributed to the day the user went
    * silent, including max_day+1). All counts are integers — no
    * rounding anywhere.
    *
    * Scale shape: one distinct over (user, day), one per-user lag AND
    * lead window in the same pass (user-keyed, never global), then a
    * day-keyed map-combined aggregate; the churn side reuses the same
    * windowed frame. Nothing is ever user×day dense. */
  def ev11GrowthAccounting(s: SparkSession, d: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val ud = events(s, d)
      .select(col("user_id"),
        expr("unix_micros(ts) div 86400000000").as("day"))
      .distinct()
    val w = Window.partitionBy("user_id").orderBy("day")
    val flagged = ud
      .withColumn("_prev", lag("day", 1).over(w))
      .withColumn("_next", lead("day", 1).over(w))
    val act = flagged.groupBy("day").agg(
      sum(when(col("_prev").isNull, 1L).otherwise(0L)).as("n_new"),
      sum(when(col("_prev") === col("day") - 1, 1L).otherwise(0L))
        .as("n_retained"),
      sum(when(col("_prev").isNotNull && col("_prev") < col("day") - 1, 1L)
        .otherwise(0L)).as("n_resurrected"))
    val churn = flagged
      .filter(col("_next").isNull || col("_next") > col("day") + 1)
      .groupBy((col("day") + 1).as("day"))
      .agg(count(lit(1)).as("n_churned"))
    act.join(churn, Seq("day"), "full_outer")
      .select(col("day"),
        coalesce(col("n_new"), lit(0L)).as("n_new"),
        coalesce(col("n_retained"), lit(0L)).as("n_retained"),
        coalesce(col("n_resurrected"), lit(0L)).as("n_resurrected"),
        coalesce(col("n_churned"), lit(0L)).as("n_churned"))
      .orderBy("day")
  }

  val ev11Sql: String =
    """WITH ud AS (SELECT DISTINCT user_id,
      |    epoch_us(ts) // 86400000000 AS day
      |  FROM events),
      |f AS (SELECT user_id, day,
      |    LAG(day) OVER (PARTITION BY user_id ORDER BY day) AS prev,
      |    LEAD(day) OVER (PARTITION BY user_id ORDER BY day) AS next
      |  FROM ud),
      |act AS (SELECT day,
      |    COUNT(CASE WHEN prev IS NULL THEN 1 END) AS n_new,
      |    COUNT(CASE WHEN prev = day - 1 THEN 1 END) AS n_retained,
      |    COUNT(CASE WHEN prev IS NOT NULL AND prev < day - 1 THEN 1 END)
      |      AS n_resurrected
      |  FROM f GROUP BY 1),
      |ch AS (SELECT day + 1 AS day, COUNT(*) AS n_churned
      |       FROM f WHERE next IS NULL OR next > day + 1 GROUP BY 1)
      |SELECT COALESCE(act.day, ch.day) AS day,
      |  COALESCE(n_new, 0) AS n_new,
      |  COALESCE(n_retained, 0) AS n_retained,
      |  COALESCE(n_resurrected, 0) AS n_resurrected,
      |  COALESCE(n_churned, 0) AS n_churned
      |FROM act FULL OUTER JOIN ch ON act.day = ch.day
      |ORDER BY day""".stripMargin

  /** P11 (beyond ref): equal-frequency discretization (decile binning)
    * of a numeric column — the feature-engineering quantizer. Each
    * lineitem price gets a decile via the ev10 flooring-split formula
    * over a [[graft.pipeline.Sharding.globalRank]] two-phase ranking
    * (total order: price, then the synthetic row id — never a
    * single-task global window); the battery entry emits the 10-row
    * bin summary (count, exact min/max edges, 3-dp-rounded mass). */
  def p11QuantileBins(s: SparkSession, d: String): DataFrame = {
    val rows = lineitem(s, d)
      .select((col("l_orderkey") * 10 + col("l_linenumber")).as("rid"),
        col("l_extendedprice").as("x"))
    val n = rows.count()
    val ranked = graft.pipeline.Sharding.globalRank(rows,
      Seq(col("x").asc, col("rid").asc), "_rk")
    ranked
      .withColumn("bin", expr(s"(10 * (_rk - 1)) div ${n}L + 1"))
      .groupBy("bin")
      .agg(count(lit(1)).as("n_rows"),
        min("x").as("lo"), max("x").as("hi"),
        round(sum("x"), 3).as("mass_r"))
      .orderBy("bin")
  }

  val p11Sql: String =
    """WITH rows_ AS (SELECT l_orderkey * 10 + l_linenumber AS rid,
      |    l_extendedprice AS x
      |  FROM lineitem),
      |nn AS (SELECT COUNT(*) AS n FROM rows_),
      |rk AS (SELECT x, ROW_NUMBER() OVER (ORDER BY x, rid) AS r
      |       FROM rows_),
      |b AS (SELECT x, (10 * (r - 1)) // nn.n + 1 AS bin FROM rk, nn)
      |SELECT bin, COUNT(*) AS n_rows, MIN(x) AS lo, MAX(x) AS hi,
      |  ROUND(SUM(x), 3) AS mass_r
      |FROM b GROUP BY 1 ORDER BY 1""".stripMargin

  /** W7 (beyond ref): PIVOT — the wide-format rollup
    * (`groupBy().pivot()` with an EXPLICIT value list, so no
    * distinct-scan pre-pass and a fixed output schema at any scale;
    * Spark compiles it to the same one-pass conditional aggregation
    * the oracle spells with CASE WHEN). Counts and 3-dp-rounded spend
    * per (priority × status) cell; absent cells coalesce to 0. */
  def w7Pivot(s: SparkSession, d: String): DataFrame = {
    val statuses = Seq("F", "O", "P")
    val wide = orders(s, d).groupBy("o_orderpriority")
      .pivot("o_orderstatus", statuses)
      .agg(count(lit(1)).as("n"), round(sum("o_totalprice"), 3).as("rev"))
    wide.select(col("o_orderpriority") +:
        statuses.flatMap(st => Seq(
          coalesce(col(s"${st}_n"), lit(0L)).as(s"${st.toLowerCase}_n"),
          coalesce(col(s"${st}_rev"), lit(0.0)).as(s"${st.toLowerCase}_rev"))): _*)
      .orderBy("o_orderpriority")
  }

  val w7Sql: String =
    """SELECT o_orderpriority,
      |  COUNT(CASE WHEN o_orderstatus = 'F' THEN 1 END) AS f_n,
      |  COALESCE(ROUND(SUM(CASE WHEN o_orderstatus = 'F'
      |    THEN o_totalprice END), 3), 0.0) AS f_rev,
      |  COUNT(CASE WHEN o_orderstatus = 'O' THEN 1 END) AS o_n,
      |  COALESCE(ROUND(SUM(CASE WHEN o_orderstatus = 'O'
      |    THEN o_totalprice END), 3), 0.0) AS o_rev,
      |  COUNT(CASE WHEN o_orderstatus = 'P' THEN 1 END) AS p_n,
      |  COALESCE(ROUND(SUM(CASE WHEN o_orderstatus = 'P'
      |    THEN o_totalprice END), 3), 0.0) AS p_rev
      |FROM orders GROUP BY 1 ORDER BY 1""".stripMargin

  /** W8 (beyond ref): UNPIVOT/melt — wide columns to (key, metric,
    * value) long format (Spark's native `unpivot`, a scan-stage
    * expansion with no shuffle at all; the oracle is the equivalent
    * UNION ALL). Values cast to the common double type explicitly. */
  def w8Melt(s: SparkSession, d: String): DataFrame =
    part(s, d).unpivot(
        Array(col("p_partkey")),
        Array(col("p_size").cast("double").as("p_size"),
          col("p_retailprice").as("p_retailprice")),
        "metric", "val")
      .orderBy("p_partkey", "metric")

  val w8Sql: String =
    """SELECT p_partkey, 'p_size' AS metric, CAST(p_size AS DOUBLE) AS val
      |FROM part
      |UNION ALL
      |SELECT p_partkey, 'p_retailprice', p_retailprice FROM part
      |ORDER BY p_partkey, metric""".stripMargin

  /** EV13 (beyond ref): last-touch marketing attribution — for every
    * conversion (purchase), the single most recent marketing touch
    * (click/view) by the same user within a 7-day lookback, rolled up
    * to per-channel conversions / attributed revenue / revenue share;
    * conversions with no touch in the window attribute to 'direct'.
    *
    * The touch lookup is [[graft.query.Temporal.asofJoin]] — ONE
    * user-keyed shuffle carrying both event streams through a single
    * carry-forward window (tolerance gates the lookback), never the
    * per-conversion correlated scan the oracle spells with a
    * LEFT JOIN + rank. At-or-equal instants match (at-or-before
    * semantics); duplicate touch instants break ties on event_id
    * (highest wins), pinning the attributed row on any engine.
    * Revenue sums round at 4 dp (inputs are 2-dp values, so the sum
    * sits on the 2-dp grid up to accumulation noise); the share
    * divides the two ROUNDED sums so both engines divide identical
    * numerators. */
  def ev13Attribution(s: SparkSession, d: String): DataFrame = {
    val ev = events(s, d)
    val conv = ev.filter(col("event_type") === "purchase")
      .select(col("user_id"), col("event_id"), col("ts"), col("value"))
    val touch = ev.filter(col("event_type").isin("click", "view"))
      .select(col("user_id"), col("ts").as("t_ts"),
        col("event_type").as("channel"), col("event_id").as("t_event_id"))
    val attributed = graft.query.Temporal.asofJoin(
      conv, touch, "user_id", "ts", "t_ts",
      tolerance = Some(expr("INTERVAL 7 DAYS")),
      tieBreak = Seq("t_event_id"))
    val perChannel = attributed
      .groupBy(coalesce(col("channel"), lit("direct")).as("channel"))
      .agg(count(lit(1)).as("n_conversions"),
        round(sum("value"), 4).as("revenue"))
    val total = conv.agg(round(sum("value"), 4).as("_tot"))
    perChannel.join(broadcast(total))
      .withColumn("share", round(col("revenue") / col("_tot"), 4))
      .select("channel", "n_conversions", "revenue", "share")
      .orderBy("channel")
  }

  val ev13Sql: String =
    """WITH conv AS (SELECT user_id, event_id, ts, value FROM events
      |              WHERE event_type = 'purchase'),
      |t AS (SELECT user_id, ts AS t_ts, event_type AS channel,
      |        event_id AS t_event_id
      |      FROM events WHERE event_type IN ('click', 'view')),
      |j AS (SELECT c.user_id, c.event_id, c.value, t.channel,
      |        ROW_NUMBER() OVER (PARTITION BY c.event_id
      |          ORDER BY t.t_ts DESC, t.t_event_id DESC) AS rk
      |      FROM conv c LEFT JOIN t
      |        ON c.user_id = t.user_id AND t.t_ts <= c.ts
      |       AND t.t_ts >= c.ts - INTERVAL 7 DAYS),
      |a AS (SELECT COALESCE(channel, 'direct') AS channel,
      |        COUNT(*) AS n_conversions, ROUND(SUM(value), 4) AS revenue
      |      FROM j WHERE rk = 1 GROUP BY 1),
      |tot AS (SELECT ROUND(SUM(value), 4) AS t FROM conv)
      |SELECT channel, n_conversions, revenue,
      |  ROUND(revenue / (SELECT t FROM tot), 4) AS share
      |FROM a ORDER BY channel""".stripMargin

  /** EV14 (beyond ref): robust per-type value outliers — MAD-based
    * deviation scores ([[graft.pipeline.TextAnalysis.madOutliers]],
    * k = 3), the heavy-tail-safe alternative to ev5's mean/std
    * z-score: one extreme purchase shifts a mean, it cannot shift a
    * median. med/mad round at 4 dp inside the operator (pinning the
    * engine-divergent quantile interpolation — see the operator doc);
    * every deviation, the threshold compare, and the emitted
    * robust_z are then IEEE ops on bit-identical inputs → unrounded,
    * fully oracled. The oracle spells the constants as float literals
    * ((3.0 * 1.4826e0), left-assoc) so DuckDB doesn't promote them to
    * DECIMAL one ulp away. */
  def ev14MadOutliers(s: SparkSession, d: String): DataFrame =
    graft.pipeline.TextAnalysis.madOutliers(
        events(s, d).select("event_id", "event_type", "value"),
        "event_type", "value", k = 3.0)
      .select(col("event_id"), col("event_type"), col("value"),
        col("med"), col("mad"), col("robust_z"))
      .orderBy("event_id")

  val ev14Sql: String =
    """WITH med AS (SELECT event_type,
      |      ROUND(quantile_cont(CAST(value AS DOUBLE), 0.5), 4) AS med
      |    FROM events GROUP BY 1),
      |dev AS (SELECT e.event_id, e.event_type, e.value, med.med,
      |          ABS(e.value - med.med) AS adev
      |        FROM events e JOIN med USING (event_type)),
      |mad AS (SELECT event_type, ROUND(quantile_cont(adev, 0.5), 4) AS mad
      |        FROM dev GROUP BY 1)
      |SELECT dev.event_id, dev.event_type, dev.value, dev.med, mad.mad,
      |  (dev.value - dev.med) / (1.4826e0 * mad.mad) AS robust_z
      |FROM dev JOIN mad USING (event_type)
      |WHERE mad.mad > 0 AND dev.adev > (3.0 * 1.4826e0) * mad.mad
      |ORDER BY dev.event_id""".stripMargin

  /** D17 (beyond ref): blocked fuzzy entity resolution — the
    * record-linkage staple: candidate entity-name pairs whose edit
    * distance is within a threshold, generated only WITHIN blocks so
    * no pair crosses a blocking key. The match runs over DISTINCT
    * entity keys, not raw rows: rows first collapse to (name,
    * support count, canonical min id) — at 100 TB the name vocabulary
    * is Heaps-bounded (here 64 names over 20 k parts at sf0.1), so the
    * pairwise stage is vocabulary², never rows², and the blocking key
    * (the name's last token — the entity's type noun) cuts it another
    * ~8×. Levenshtein is the classic unit-cost edit distance in both
    * engines — exact integers; similarity = 1 − lev/maxlen is two IEEE
    * ops on identical inputs, emitted unrounded (bit-identical). */
  def d17EntityResolve(s: SparkSession, d: String): DataFrame = {
    val ents = part(s, d)
      .groupBy(col("p_name").as("name"))
      .agg(count(lit(1)).as("n_rows"), min("p_partkey").as("canon_id"))
      .withColumn("_blk", element_at(split(col("name"), " "), -1))
    val a = ents.select(col("_blk"), col("name").as("name_a"),
      col("n_rows").as("n_a"), col("canon_id").as("id_a"))
    val b = ents.select(col("_blk"), col("name").as("name_b"),
      col("n_rows").as("n_b"), col("canon_id").as("id_b"))
    a.join(b, Seq("_blk"))
      .filter(col("name_a") < col("name_b"))
      .withColumn("lev", levenshtein(col("name_a"), col("name_b")).cast("long"))
      .filter(col("lev") <= 2)
      .withColumn("sim", lit(1.0) - col("lev") /
        greatest(length(col("name_a")), length(col("name_b"))).cast("double"))
      .select("name_a", "name_b", "n_a", "n_b", "id_a", "id_b", "lev", "sim")
      .orderBy("name_a", "name_b")
  }

  val d17Sql: String =
    """WITH e AS (SELECT p_name AS name, COUNT(*) AS n_rows,
      |    MIN(p_partkey) AS canon_id
      |  FROM part GROUP BY 1),
      |blk AS (SELECT name, n_rows, canon_id,
      |    string_split(name, ' ')[-1] AS b
      |  FROM e),
      |pr AS (SELECT a.name AS name_a, b.name AS name_b,
      |         a.n_rows AS n_a, b.n_rows AS n_b,
      |         a.canon_id AS id_a, b.canon_id AS id_b,
      |         levenshtein(a.name, b.name) AS lev
      |       FROM blk a JOIN blk b ON a.b = b.b AND a.name < b.name)
      |SELECT name_a, name_b, n_a, n_b, id_a, id_b,
      |  CAST(lev AS BIGINT) AS lev,
      |  1.0 - lev / CAST(GREATEST(len(name_a), len(name_b)) AS DOUBLE)
      |    AS sim
      |FROM pr WHERE lev <= 2
      |ORDER BY name_a, name_b""".stripMargin

  /** J9 (beyond ref): shuffle-free big⋈big join over BUCKETED layout
    * ([[graft.layout.Bucketing]]) — lineitem and orders persisted
    * bucketed + bucket-sorted on the order key, then sort-merge-joined
    * with NO exchange on either input (spec-pinned); the only shuffle
    * in the whole plan is the final 5-row priority rollup. This is the
    * physical-layout story the 100 TB
    * fact⋈fact join needs — co-locate once at write time, join free
    * forever — and the result is oracled against the plain logical
    * join, which by definition must be identical. */
  def j9BucketedJoin(s: SparkSession, d: String): DataFrame = {
    import graft.layout.Bucketing
    val n = 16
    val li = Bucketing.bucketedTable(s,
      Bucketing.tableName(d, "lineitem", "l_orderkey", n),
      lineitem(s, d).select("l_orderkey", "l_extendedprice"),
      "l_orderkey", n, Bucketing.scratchDir(d, "lineitem", "l_orderkey", n))
    val ord = Bucketing.bucketedTable(s,
      Bucketing.tableName(d, "orders", "o_orderkey", n),
      orders(s, d).select("o_orderkey", "o_orderpriority"),
      "o_orderkey", n, Bucketing.scratchDir(d, "orders", "o_orderkey", n))
    // money sums in DECIMAL, not double: prices are exact 2-dp values,
    // and a double SUM over sf0.1's 600k rows (~6.4e9 per group)
    // carries order-dependent last-ulp noise ABOVE a 4-dp round —
    // Spark and DuckDB disagreed at the 4th decimal at sf0.1 while
    // agreeing at sf0.01. The decimal sum is exact in any order at
    // any scale (and is what a 100 TB revenue rollup should do
    // anyway); the final cast emits the same nearest-double in both
    // engines because the cents value is exact.
    li.hint("merge")
      .join(ord, col("l_orderkey") === col("o_orderkey"))
      .groupBy("o_orderpriority")
      .agg(count(lit(1)).as("n_items"),
        sum(col("l_extendedprice").cast("decimal(18,2)"))
          .cast("double").as("revenue"))
      .orderBy("o_orderpriority")
  }

  val j9Sql: String =
    """SELECT o_orderpriority, COUNT(*) AS n_items,
      |  CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE)
      |    AS revenue
      |FROM lineitem JOIN orders ON l_orderkey = o_orderkey
      |GROUP BY 1 ORDER BY 1""".stripMargin

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q1_agg" -> (q1Agg _),
    "j9_bucketed_join" -> (j9BucketedJoin _),
    "st1_stream_windows" -> (st1StreamWindows _),
    "st2_stream_sessions" -> (st2StreamSessions _),
    "j8_asof_join" -> (j8AsofJoin _),
    "w3_sessionize" -> (w3Sessionize _),
    "ev1_event_funnel" -> (ev1EventFunnel _),
    "ev2_retention" -> (ev2Retention _),
    "ev3_active_users" -> (ev3ActiveUsers _),
    "ev4_transitions" -> (ev4Transitions _),
    "ev5_anomalies" -> (ev5Anomalies _),
    "ev6_event_paths" -> (ev6EventPaths _),
    "ev9_trending" -> (ev9Trending _),
    "ev7_ab_test" -> (ev7AbTest _),
    "ev8_incremental_rollup" -> (ev8IncrementalRollup _),
    "ev10_rfm" -> (ev10Rfm _),
    "ev11_growth" -> (ev11GrowthAccounting _),
    "d16_cdc_compact" -> (d16CdcCompact _),
    "ev12_peak_concurrency" -> (ev12PeakConcurrency _),
    "ev13_attribution" -> (ev13Attribution _),
    "ev14_mad_outliers" -> (ev14MadOutliers _),
    "d17_entity_resolve" -> (d17EntityResolve _),
    "p11_quantile_bins" -> (p11QuantileBins _),
    "g5_bfs" -> (g5Bfs _),
    "w7_pivot" -> (w7Pivot _),
    "w8_melt" -> (w8Melt _),
    "g4_communities" -> (g4Communities _),
    "g1_pagerank" -> (g1PageRank _),
    "g2_triangles" -> (g2Triangles _),
    "g3_link_predict" -> (g3LinkPredict _),
    "p1_filters" -> (p1Filters _),
    "j1_join_chain" -> (j1JoinChain _),
    "j3_anti_join" -> (j3AntiJoin _),
    "j4_semi_join" -> (j4SemiJoin _),
    "j7_range_join" -> (j7RangeJoin _),
    "a5_counts" -> (a5Counts _),
    "a8_array_agg" -> (a8ArrayAgg _),
    "w2_window" -> (w2Window _),
    "o1_topk" -> (o1TopK _),
    "o4_keyset_page" -> (o4KeysetPage _),
    "set_union" -> (setUnion _),
    "f1_scalar_math" -> (f1ScalarMath _),
    "f9_json" -> (f9Json _),
    "f8_bitfield" -> (f8Bitfield _))

  def oracles: Map[String, String] = Map(
    "q1_agg" -> q1AggSql,
    "st1_stream_windows" -> st1Sql,
    "st2_stream_sessions" -> st2Sql,
    "j8_asof_join" -> j8AsofJoinSql,
    "w3_sessionize" -> w3SessionizeSql,
    "ev1_event_funnel" -> ev1Sql,
    "ev2_retention" -> ev2Sql,
    "ev3_active_users" -> ev3Sql,
    "ev4_transitions" -> ev4Sql,
    "ev5_anomalies" -> ev5Sql,
    "ev6_event_paths" -> ev6Sql,
    "ev9_trending" -> ev9Sql,
    "ev7_ab_test" -> ev7Sql,
    "ev8_incremental_rollup" -> ev8Sql,
    "ev10_rfm" -> ev10Sql,
    "ev11_growth" -> ev11Sql,
    "d16_cdc_compact" -> d16Sql,
    "ev12_peak_concurrency" -> ev12Sql,
    "ev13_attribution" -> ev13Sql,
    "ev14_mad_outliers" -> ev14Sql,
    "j9_bucketed_join" -> j9Sql,
    "d17_entity_resolve" -> d17Sql,
    "p11_quantile_bins" -> p11Sql,
    "g5_bfs" -> g5Sql,
    "w7_pivot" -> w7Sql,
    "w8_melt" -> w8Sql,
    "g4_communities" -> g4Sql,
    "g1_pagerank" -> g1Sql,
    "g2_triangles" -> g2Sql,
    "g3_link_predict" -> g3Sql,
    "p1_filters" -> p1FiltersSql,
    "j1_join_chain" -> j1JoinChainSql,
    "j3_anti_join" -> j3AntiJoinSql,
    "j4_semi_join" -> j4SemiJoinSql,
    "j7_range_join" -> j7RangeJoinSql,
    "a5_counts" -> a5CountsSql,
    "a8_array_agg" -> a8ArrayAggSql,
    "w2_window" -> w2WindowSql,
    "o1_topk" -> o1TopKSql,
    "o4_keyset_page" -> o4KeysetPageSql,
    "set_union" -> setUnionSql,
    "f1_scalar_math" -> f1ScalarMathSql,
    "f9_json" -> f9JsonSql,
    "f8_bitfield" -> f8BitfieldSql)
}
