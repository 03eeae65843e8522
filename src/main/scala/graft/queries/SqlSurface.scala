package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.Tables

/** The ad-hoc SQL surface exercised end-to-end: registered graft
  * functions (q3c cone predicates, flux↔mag, MJD conversions, bit
  * tests) resolving inside a plain `spark.sql` statement over the
  * registered table views — the migration path for a reference user's
  * existing q3c SQL (src/webserver/dbapp.py:126-232 hands exactly this
  * kind of statement to Postgres+q3c).
  */
object SqlSurface {

  /** Cone search + photometric conversions, entirely in SQL through
    * the registered function surface. Positions synthesized from
    * c_custkey exactly as j6 does; every scalar the SELECT computes
    * goes through a registered graft function.
    *
    * The 15.0° cutoff is evaluated by two different floating-point
    * stacks (Spark's asin/sqrt vs DuckDB's): safe here because the
    * synthesized positions land on a 0.1° lattice, so every fixture
    * separation keeps ≫1 ULP of margin from the boundary — keep any
    * future cutoff off the lattice the same way. */
  def x1SqlCone(s: SparkSession, d: String): DataFrame = {
    Tables.registerAll(s, d)
    s.sql("""
      WITH c AS (SELECT c_custkey, (c_custkey % 3600) * 0.1 AS ra,
                   (c_custkey % 1700) * 0.1 - 85.0 AS dec,
                   1000.0 + c_custkey % 5000 AS flux
                 FROM customer)
      SELECT c_custkey,
        ROUND(q3c_dist(ra, dec, 7.5, -77.5), 6) AS sep_deg,
        zone_id(dec, 0.5) AS zid,
        ROUND(flux2mag(flux), 6) AS mag,
        ROUND(timestamp_to_mjd(mjd_to_timestamp(60000.0 + c_custkey * 0.001)), 6) AS mjd_rt
      FROM c
      WHERE q3c_radial_query(ra, dec, 7.5, -77.5, 15.0)
        AND has_any_bit(CAST(c_custkey % 16 AS INT), 5)
      ORDER BY c_custkey""")
  }

  /** DuckDB replay: haversine spelled out (same formula as
    * Funcs.greatCircleDeg), zeropoint arithmetic inline.
    *
    * `sep <= 15.0` is a FLOAT boundary evaluated by two different
    * libm stacks — safe only because the fixture's 0.1° lattice keeps
    * every actual separation ≫1 ULP away from exactly 15.0 (see the
    * note on [[x1SqlCone]]); if the cutoff or the position generator
    * changes, keep the boundary off the lattice or the two engines may
    * disagree on a boundary row. */
  val x1Sql: String =
    """WITH c AS (SELECT c_custkey, (c_custkey % 3600) * 0.1 AS ra,
      |             (c_custkey % 1700) * 0.1 - 85.0 AS dec,
      |             1000.0 + c_custkey % 5000 AS flux
      |           FROM customer),
      |d AS (SELECT c_custkey, dec, flux,
      |        DEGREES(2 * ASIN(SQRT(
      |          POWER(SIN(RADIANS(-77.5 - dec) / 2), 2) +
      |          COS(RADIANS(dec)) * COS(RADIANS(-77.5)) *
      |          POWER(SIN(RADIANS(7.5 - ra) / 2), 2)))) AS sep
      |      FROM c)
      |SELECT c_custkey, ROUND(sep, 6) AS sep_deg,
      |  CAST(FLOOR((dec + 90.0) / 0.5) AS INT) AS zid,
      |  ROUND(-2.5 * LOG10(flux) + 31.4, 6) AS mag,
      |  ROUND(60000.0 + c_custkey * 0.001, 6) AS mjd_rt
      |FROM d
      |WHERE sep <= 15.0 AND (c_custkey % 16) & 5 != 0
      |ORDER BY c_custkey""".stripMargin

  /** The reference's marquee user query — cone search + procver
    * priority dedup + flux/magnitude cut — as ONE plain-SQL statement
    * submitted through the asynchronous [[graft.api.QueryQueue]] (not a
    * bare `spark.sql`): registered q3c/photometric functions resolve
    * over registered silver-shaped views, the statement passes the
    * read-only sandbox, executes, persists to the result sink, and the
    * result is read back — the full ad-hoc stack composed end-to-end
    * (ref: docs/overview.rst query examples; dbapp.py:72-119 +
    * long_query_runner.py run the same lifecycle against Postgres).
    *
    * Cone center/radius sit off the synthesized 1e-4° position lattice
    * and inside every SF's partkey range, so membership has float
    * margin and the result is nonempty at sf0.001/0.01/0.1. */
  def x2AdhocAstro(s: SparkSession, d: String): DataFrame = {
    FastdbOps.liSources(s, d).createOrReplaceTempView("diasource")
    FastdbOps.bpvPriorities(s).createOrReplaceTempView("procver_priority")
    val dir = java.nio.file.Files.createTempDirectory("x2queue").toString
    val queue = new graft.api.QueryQueue(s, dir)
    // the queue dir is per-invocation scratch: the result is
    // materialized (localCheckpoint) before returning so the dir can
    // be deleted — repeated bench runs must not litter tmp with
    // result sinks (blocks are freed by the caller's standard sweep)
    val id = queue.submit("astro_user", Seq(
      """WITH hit AS (
        |  SELECT s.*, p.priority
        |  FROM diasource s
        |  JOIN procver_priority p ON s.base_procver_id = p.base_procver_id
        |  WHERE q3c_radial_query(s.ra, s.dec, 0.02, 0.0005, 0.01505)),
        |ranked AS (
        |  SELECT *, ROW_NUMBER() OVER (PARTITION BY rootid, visit
        |      ORDER BY priority DESC, diasourceid DESC, midpointmjdtai DESC,
        |               psffluxerr DESC, band DESC) AS rn
        |  FROM hit)
        |SELECT rootid, visit, diasourceid, base_procver_id,
        |  ROUND(flux2mag(psfflux * 1000), 6) AS mag,
        |  ROUND(psfflux, 4) AS psfflux
        |FROM ranked
        |WHERE rn = 1 AND psfflux >= 500
        |ORDER BY rootid, visit""".stripMargin))
    queue.runAll()
    val entry = queue.status(id).get
    require(!entry.error, s"x2 queue execution failed: ${entry.errortext}")
    // the sink is parquet: re-impose the presentation order on read-back
    val out = queue.results(id).orderBy("rootid", "visit").localCheckpoint()
    graft.util.Local.deleteRecursively(dir)
    out
  }

  val x2Sql: String =
    s"""WITH src AS (${FastdbOps.liSourcesSql}),
       |hit AS (
       |  SELECT *, CAST(SUBSTR(base_procver_id, 4) AS INT) AS priority,
       |    DEGREES(2 * ASIN(SQRT(
       |      POWER(SIN(RADIANS(0.0005 - dec) / 2), 2) +
       |      COS(RADIANS(dec)) * COS(RADIANS(0.0005)) *
       |      POWER(SIN(RADIANS(0.02 - ra) / 2), 2)))) AS sep
       |  FROM src),
       |ranked AS (
       |  SELECT *, ROW_NUMBER() OVER (PARTITION BY rootid, visit
       |      ORDER BY priority DESC, diasourceid DESC, midpointmjdtai DESC,
       |               psffluxerr DESC, band DESC) AS rn
       |  FROM hit WHERE sep <= 0.01505)
       |SELECT rootid, visit, diasourceid, base_procver_id,
       |  ROUND(-2.5 * LOG10(psfflux * 1000) + 31.4, 6) AS mag,
       |  ROUND(psfflux, 4) AS psfflux
       |FROM ranked
       |WHERE rn = 1 AND psfflux >= 500
       |ORDER BY rootid, visit""".stripMargin

  /** The training-data pipeline's per-row primitives through the same
    * ad-hoc SQL path as the astronomy set: language ID, token counts,
    * quality score and fingerprint resolving as registered Catalyst
    * expression trees inside one plain-SQL corpus report. Every value
    * is exact-integer or a formula t1/t3/t4 already prove replays
    * identically in DuckDB, so the whole statement is oracled. */
  def x3SqlPipeline(s: SparkSession, d: String): DataFrame = {
    Tables.registerAll(s, d)
    s.sql("""
      SELECT lang_id(text) AS pred_lang, COUNT(*) AS n_docs,
        CAST(SUM(token_count(text)) AS BIGINT) AS n_tokens,
        ROUND(AVG(quality_score(text)), 4) AS avg_quality,
        COUNT(DISTINCT doc_fingerprint(text)) AS n_distinct_fp
      FROM documents
      WHERE quality_score(text) >= 0.3
      GROUP BY 1 ORDER BY 1""")
  }

  val x3Sql: String =
    """WITH f AS (SELECT text,
      |    list_filter(string_split(trim(text), ' '), t -> t != '') AS tok,
      |    length(text) AS nchar
      |  FROM documents),
      |q AS (SELECT text, len(tok) AS ntok, nchar,
      |    len(regexp_extract_all(text, '[^A-Za-z0-9\s]')) AS npunct,
      |    len(list_filter(tok, t -> t IN ('the','a','an','and','of','to','in','is','it'))) AS s_en,
      |    len(list_filter(tok, t -> t IN ('el','la','los','las','de','y','en','es','un'))) AS s_es,
      |    len(list_filter(tok, t -> t IN ('der','die','das','und','von','zu','ist','ein'))) AS s_de
      |  FROM f),
      |g AS (SELECT
      |    CASE WHEN s_en = 0 AND s_es = 0 AND s_de = 0 THEN 'und'
      |         WHEN s_en >= s_es AND s_en >= s_de THEN 'en'
      |         WHEN s_es >= s_de THEN 'es' ELSE 'de' END AS pred_lang,
      |    ntok,
      |    ROUND(0.4 * LEAST(ntok / 100.0, 1.0)
      |      + 0.3 * (1.0 - LEAST(npunct * 5.0 / GREATEST(nchar, 1), 1.0))
      |      + 0.3 * LEAST(s_en * 5.0 / GREATEST(ntok, 1), 1.0), 6) AS quality,
      |    list_reduce(list_prepend(CAST(0 AS BIGINT),
      |      [CAST(ascii(x) AS BIGINT)
      |       for x in list_filter(string_split(lower(text), ''), c -> c != '')]),
      |      (a, b) -> (a * 31 + b) % 1000000007) AS fp
      |  FROM q)
      |SELECT pred_lang, COUNT(*) AS n_docs,
      |  CAST(SUM(ntok) AS BIGINT) AS n_tokens,
      |  ROUND(AVG(quality), 4) AS avg_quality,
      |  CAST(COUNT(DISTINCT fp) AS BIGINT) AS n_distinct_fp
      |FROM g WHERE quality >= 0.3
      |GROUP BY 1 ORDER BY 1""".stripMargin

  /** The NAIVE q3c spelling — `WHERE q3c_dist(...) <= r`, the form the
    * reference's example SQL actually uses — through the driver gate.
    * Same fixture cone as x1 (its boundary margin is proven), but the
    * predicate here is the bare distance comparison: membership is
    * computed via [[graft.spatial.GreatCircleDist]] + the SargableCone
    * optimizer rewrite rather than q3c_radial_query's explicit band
    * expansion, so a hash match proves the migration form and the
    * blessed form agree end to end. */
  def x4NaiveCone(s: SparkSession, d: String): DataFrame = {
    Tables.registerAll(s, d)
    s.sql("""
      WITH c AS (SELECT c_custkey, (c_custkey % 3600) * 0.1 AS ra,
                   (c_custkey % 1700) * 0.1 - 85.0 AS dec
                 FROM customer)
      SELECT c_custkey, ROUND(q3c_dist(ra, dec, 7.5, -77.5), 6) AS sep_deg
      FROM c
      WHERE q3c_dist(ra, dec, 7.5, -77.5) <= 15.0
      ORDER BY c_custkey""")
  }

  val x4Sql: String =
    """WITH c AS (SELECT c_custkey, (c_custkey % 3600) * 0.1 AS ra,
      |             (c_custkey % 1700) * 0.1 - 85.0 AS dec
      |           FROM customer),
      |d AS (SELECT c_custkey,
      |        DEGREES(2 * ASIN(SQRT(
      |          POWER(SIN(RADIANS(-77.5 - dec) / 2), 2) +
      |          COS(RADIANS(dec)) * COS(RADIANS(-77.5)) *
      |          POWER(SIN(RADIANS(7.5 - ra) / 2), 2)))) AS sep
      |      FROM c)
      |SELECT c_custkey, ROUND(sep, 6) AS sep_deg
      |FROM d WHERE sep <= 15.0
      |ORDER BY c_custkey""".stripMargin

  /** X5: PIVOT on the ad-hoc SQL surface — the same wide-format rollup
    * w7 states through the Column API, here as the SQL `PIVOT` clause
    * a reference user would type into the query queue (explicit IN
    * list, so the plan is the identical one-pass conditional
    * aggregation — no distinct pre-pass at any scale). ROUND/COALESCE
    * applied in the outer select; the oracle spells DuckDB's CASE
    * WHEN equivalent. */
  def x5SqlPivot(s: SparkSession, d: String): DataFrame = {
    Tables.registerAll(s, d)
    s.sql("""
      SELECT o_orderpriority,
        COALESCE(f_n, 0L) AS f_n, COALESCE(ROUND(f_rev, 3), 0.0) AS f_rev,
        COALESCE(o_n, 0L) AS o_n, COALESCE(ROUND(o_rev, 3), 0.0) AS o_rev,
        COALESCE(p_n, 0L) AS p_n, COALESCE(ROUND(p_rev, 3), 0.0) AS p_rev
      FROM (SELECT o_orderpriority, o_orderstatus, o_totalprice FROM orders)
      PIVOT (COUNT(*) AS n, SUM(o_totalprice) AS rev
             FOR o_orderstatus IN ('F' AS f, 'O' AS o, 'P' AS p))
      ORDER BY o_orderpriority""")
  }

  val x5Sql: String =
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

  /** §3.2 — the asynchronous query-queue LIFECYCLE as one battery row
    * (submit → FIFO claim → execute → persist → status; reference:
    * src/webserver/dbapp.py:126-232 submit/status/results +
    * src/services/long_query_runner.py:92-183 claim-oldest/execute/
    * persist). Four entries from four users:
    *  - q000001 alice: a plain aggregate — persisted, fingerprinted;
    *  - q000002 bob: a MULTI-STATEMENT session — only the LAST
    *    statement's result persists (long_query_runner.py:112-175
    *    runs the list sequentially on one connection and keeps the
    *    final frame);
    *  - q000003 carol: a WRITE the read-only sandbox must REJECT —
    *    the error is captured on the entry (dbapp error columns) and
    *    the queue keeps draining past it;
    *  - q000004 dave: another aggregate, proving the queue survived
    *    the failed entry.
    * The drain is the POOLED one — `runAll(nWorkers = 4)`, the
    * reference's worker-pool shape (long_query_runner.py:216-251
    * spawns 10 claiming processes) — and the claim order is MEASURED,
    * not assumed: claimNext stamps each entry's `claimSeq` under the
    * queue monitor, so `claim_pos` carries the true hand-out order,
    * which stays oldest-submitted-first (deterministic) even with 4
    * workers racing, because the monitor serializes hand-out while
    * only EXECUTION overlaps. Persisted results are read back from
    * the sink and carried as row count + md5-sum content fingerprint
    * (the io1 idiom); DuckDB recomputes both from the same SQL over
    * the same tables, so persistence is hash-verified end-to-end.
    *
    * Driver-side control flow is the POINT here (it replaces the
    * reference's worker processes); every per-entry read-back is a
    * single aggregate row (`head()` on a 1-row frame — bounded by
    * construction), and the output is 4 rows of scalars. */
  def qq1QueryQueue(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    Tables.registerAll(s, d)
    val dir = java.nio.file.Files.createTempDirectory("qq1queue").toString
    try {
      val queue = new graft.api.QueryQueue(s, dir)
      val idA = queue.submit("alice", Seq(
        "SELECT lang, COUNT(*) AS n FROM documents GROUP BY lang"))
      val idB = queue.submit("bob", Seq(
        "SELECT 1 AS probe",
        "SELECT source, CAST(SUM(n_chars) AS BIGINT) AS s_chars " +
          "FROM documents GROUP BY source"))
      val idC = queue.submit("carol", Seq(
        "INSERT INTO documents VALUES (1, 'x', 'en', 'web', 1)"))
      val idD = queue.submit("dave", Seq(
        "SELECT CAST(COUNT(*) AS BIGINT) AS n_big FROM documents " +
          "WHERE n_chars >= 400"))
      queue.runAll(nWorkers = 4)
      def claimPos(id: String): Long = queue.status(id).get.claimSeq
      // md5-sum fingerprint of a persisted result (io1's idiom):
      // one aggregate row per entry — bounded collect by construction
      def fingerprint(id: String, cols: Seq[String]): (Long, Long) = {
        val key = concat_ws("|", cols.map(c => col(c).cast("string")): _*)
        val r = queue.results(id).agg(count(lit(1)),
          coalesce(sum(conv(substring(md5(key), 1, 12), 16, 10)
            .cast("long")), lit(0L))).head()
        (r.getLong(0), r.getLong(1))
      }
      val resultCols = Map(
        idA -> Seq("lang", "n"),
        idB -> Seq("source", "s_chars"),
        idD -> Seq("n_big"))
      val rows = Seq(idA -> "alice", idB -> "bob", idC -> "carol",
        idD -> "dave").map { case (id, user) =>
        val e = queue.status(id).get
        val ok = e.finished.isDefined && !e.error
        val errRo = e.error && e.errortext != null &&
          e.errortext.contains("read-only")
        val (nRows, fp) =
          if (ok) fingerprint(id, resultCols(id)) else (0L, 0L)
        (id, user, claimPos(id), if (ok) 1L else 0L,
          if (errRo) 1L else 0L, nRows, fp)
      }
      rows.toDF("queryid", "userid", "claim_pos", "ok", "err_readonly",
        "n_rows", "fp").orderBy("queryid")
    } finally graft.util.Local.deleteRecursively(dir)
  }

  val qq1Sql: String =
    """WITH e1 AS (SELECT lang, COUNT(*) AS n FROM documents GROUP BY lang),
      |f1 AS (SELECT COUNT(*) AS n_rows,
      |  CAST(SUM(('0x' || substr(md5(lang || '|' || CAST(n AS VARCHAR)),
      |    1, 12))::BIGINT) AS BIGINT) AS fp FROM e1),
      |e2 AS (SELECT source, CAST(SUM(n_chars) AS BIGINT) AS s_chars
      |       FROM documents GROUP BY source),
      |f2 AS (SELECT COUNT(*) AS n_rows,
      |  CAST(SUM(('0x' || substr(md5(source || '|' || CAST(s_chars AS VARCHAR)),
      |    1, 12))::BIGINT) AS BIGINT) AS fp FROM e2),
      |e4 AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_big FROM documents
      |       WHERE n_chars >= 400),
      |f4 AS (SELECT COUNT(*) AS n_rows,
      |  CAST(SUM(('0x' || substr(md5(CAST(n_big AS VARCHAR)),
      |    1, 12))::BIGINT) AS BIGINT) AS fp FROM e4)
      |SELECT * FROM (
      |  SELECT 'q000001' AS queryid, 'alice' AS userid,
      |    CAST(1 AS BIGINT) AS claim_pos, CAST(1 AS BIGINT) AS ok,
      |    CAST(0 AS BIGINT) AS err_readonly,
      |    CAST(n_rows AS BIGINT) AS n_rows, fp FROM f1
      |  UNION ALL SELECT 'q000002', 'bob', 2, 1, 0,
      |    CAST(n_rows AS BIGINT), fp FROM f2
      |  UNION ALL SELECT 'q000003', 'carol', 3, 0, 1, 0, 0
      |  UNION ALL SELECT 'q000004', 'dave', 4, 1, 0,
      |    CAST(n_rows AS BIGINT), fp FROM f4)
      |ORDER BY queryid""".stripMargin

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "x5_sql_pivot" -> (x5SqlPivot _),
    "x1_sql_cone" -> (x1SqlCone _),
    "x2_adhoc_astro" -> (x2AdhocAstro _),
    "x3_sql_pipeline" -> (x3SqlPipeline _),
    "x4_naive_cone" -> (x4NaiveCone _),
    "qq1_query_queue" -> (qq1QueryQueue _))

  def oracles: Map[String, String] = Map(
    "x5_sql_pivot" -> x5Sql,
    "x1_sql_cone" -> x1Sql,
    "x2_adhoc_astro" -> x2Sql,
    "x3_sql_pipeline" -> x3Sql,
    "x4_naive_cone" -> x4Sql,
    "qq1_query_queue" -> qq1Sql)
}
