package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.Tables._
import graft.pipeline.{Dedup, LangModel, QualityClassifier, SemDedup, SpanDedup, TextAnalysis}

/** Round-6 corpus-quality operators: bigram-LM perplexity scoring,
  * duplicated-span (exact-substring) removal, incremental dedup
  * against a persisted corpus index, and semantic (embedding-space)
  * dedup. The first three are exact/deterministic → DuckDB-oracled;
  * SemDeDup depends on the k-means quantizer → rows-only, with
  * recall/precision vs the exact all-pairs ground truth in
  * QualitySpec.
  */
object Quality {

  /** Per-doc mean bigram log-likelihood under an add-0.5-smoothed
    * model trained on the corpus itself (self-perplexity quality
    * filtering). */
  def t9LmScore(s: SparkSession, d: String): DataFrame = {
    val docs = documents(s, d)
    LangModel.bigramScores(docs, "doc_id", "text", docs, "text", addK = 0.5)
      .select(col("doc_id"), col("n_bigrams"),
        round(col("avg_logp"), 6).as("avg_logp"))
      .orderBy("doc_id")
  }

  val t9Sql: String =
    """WITH w AS (SELECT doc_id,
      |    list_filter(string_split(trim(text), ' '), t -> t != '') AS wd
      |  FROM documents),
      |b AS (SELECT doc_id, wd[i] AS w1, wd[i+1] AS w2
      |  FROM (SELECT doc_id, wd, unnest(range(1, len(wd))) AS i
      |        FROM w WHERE len(wd) >= 2)),
      |cb AS (SELECT w1, w2, COUNT(*) AS c FROM b GROUP BY 1, 2),
      |cx AS (SELECT w1, COUNT(*) AS cx FROM b GROUP BY 1),
      |v AS (SELECT COUNT(DISTINCT u) AS v
      |      FROM (SELECT unnest(wd) AS u FROM w)),
      |sc AS (SELECT b.doc_id,
      |         LN((cb.c + 0.5) / (cx.cx + 0.5 * v.v)) AS lp
      |       FROM b JOIN cb USING (w1, w2) JOIN cx USING (w1), v)
      |SELECT doc_id, COUNT(*) AS n_bigrams,
      |  ROUND(AVG(lp), 6) AS avg_logp
      |FROM sc GROUP BY doc_id ORDER BY doc_id""".stripMargin

  /** Interpolated Kneser-Ney self-scoring ([[LangModel.knBigramScores]],
    * D = 0.75) — the KenLM-style smoothing next to t9's add-k. Fully
    * deterministic counts + arithmetic → oracled. */
  def t20KnScore(s: SparkSession, d: String): DataFrame = {
    val docs = documents(s, d)
    LangModel.knBigramScores(docs, "doc_id", "text", docs, "text",
        discount = 0.75)
      .select(col("doc_id"), col("n_bigrams"),
        round(col("avg_logp"), 6).as("avg_logp"))
      .orderBy("doc_id")
  }

  val t20Sql: String =
    """WITH w AS (SELECT doc_id,
      |    list_filter(string_split(trim(text), ' '), t -> t != '') AS wd
      |  FROM documents),
      |b AS (SELECT doc_id, wd[i] AS w1, wd[i+1] AS w2
      |  FROM (SELECT doc_id, wd, unnest(range(1, len(wd))) AS i
      |        FROM w WHERE len(wd) >= 2)),
      |cb AS (SELECT w1, w2, COUNT(*) AS c FROM b GROUP BY 1, 2),
      |cx AS (SELECT w1, CAST(SUM(c) AS BIGINT) AS cx,
      |         COUNT(*) AS n1c FROM cb GROUP BY 1),
      |ce AS (SELECT w2, COUNT(*) AS n1e FROM cb GROUP BY 1),
      |tt AS (SELECT COUNT(*) AS t FROM cb),
      |v AS (SELECT COUNT(DISTINCT u) AS v
      |      FROM (SELECT unnest(wd) AS u FROM w)),
      |sc AS (SELECT b.doc_id,
      |         LN((GREATEST(cb.c - 0.75, 0.0) + 0.75 * cx.n1c *
      |             ((ce.n1e + 0.5) / (tt.t + 0.5 * (v.v + 1)))) / cx.cx) AS lp
      |       FROM b JOIN cb USING (w1, w2) JOIN cx USING (w1)
      |       JOIN ce USING (w2), tt, v)
      |SELECT doc_id, COUNT(*) AS n_bigrams,
      |  ROUND(AVG(lp), 6) AS avg_logp
      |FROM sc GROUP BY doc_id ORDER BY doc_id""".stripMargin

  /** Interpolated Kneser-Ney TRIGRAM self-scoring
    * ([[LangModel.knTrigramScores]], D = 0.75) — the order-3 member of
    * the t9/t20 LM family, with textbook recursive continuation counts
    * (each lower-order table derives from the order above). Exact
    * counts + deterministic arithmetic → fully oracled. */
  def t21Trigram(s: SparkSession, d: String): DataFrame = {
    val docs = documents(s, d)
    LangModel.knTrigramScores(docs, "doc_id", "text", docs, "text",
        discount = 0.75)
      .select(col("doc_id"), col("n_trigrams"),
        round(col("avg_logp"), 6).as("avg_logp"))
      .orderBy("doc_id")
  }

  val t21Sql: String =
    """WITH w AS (SELECT doc_id,
      |    list_filter(string_split(trim(text), ' '), t -> t != '') AS wd
      |  FROM documents),
      |tg AS (SELECT doc_id, wd[i] AS w1, wd[i+1] AS w2, wd[i+2] AS w3
      |  FROM (SELECT doc_id, wd, unnest(range(1, len(wd) - 1)) AS i
      |        FROM w WHERE len(wd) >= 3)),
      |c3 AS (SELECT w1, w2, w3, COUNT(*) AS c FROM tg GROUP BY 1, 2, 3),
      |cx AS (SELECT w1, w2, CAST(SUM(c) AS BIGINT) AS c12,
      |         COUNT(*) AS n1c3 FROM c3 GROUP BY 1, 2),
      |cm AS (SELECT w2, w3, COUNT(*) AS nm FROM c3 GROUP BY 1, 2),
      |md AS (SELECT w2, CAST(SUM(nm) AS BIGINT) AS mden,
      |         COUNT(*) AS mtypes FROM cm GROUP BY 1),
      |un AS (SELECT w3, COUNT(*) AS ne FROM cm GROUP BY 1),
      |tt AS (SELECT COUNT(*) AS t FROM cm),
      |v AS (SELECT COUNT(DISTINCT u) AS v
      |      FROM (SELECT unnest(wd) AS u FROM w)),
      |sc AS (SELECT tg.doc_id,
      |         LN((GREATEST(c3.c - 0.75, 0.0) + 0.75 * cx.n1c3 *
      |             ((GREATEST(cm.nm - 0.75, 0.0) + 0.75 * md.mtypes *
      |               ((un.ne + 0.5) / (tt.t + 0.5 * (v.v + 1)))) / md.mden))
      |            / cx.c12) AS lp
      |       FROM tg JOIN c3 USING (w1, w2, w3) JOIN cx USING (w1, w2)
      |       JOIN cm USING (w2, w3) JOIN md USING (w2)
      |       JOIN un USING (w3), tt, v)
      |SELECT doc_id, COUNT(*) AS n_trigrams,
      |  ROUND(AVG(lp), 6) AS avg_logp
      |FROM sc GROUP BY doc_id ORDER BY doc_id""".stripMargin

  /** Per-run scratch for the streamed-ingestion entries: the index IS
    * the stream's state, so each run gets a fresh directory — and the
    * result is eagerly materialized (localCheckpoint) so the
    * multi-segment parquet tree can be deleted before returning
    * instead of accumulating under /tmp across bench repetitions. */
  private def withStreamScratch(f: String => DataFrame): DataFrame = {
    val dir = java.nio.file.Files.createTempDirectory("graft_stream").toString
    try f(dir).localCheckpoint(true)
    finally graft.util.Local.deleteRecursively(dir)
  }

  /** Streamed near-dup ingestion, end-to-end under the oracle gate:
    * the corpus arrives as four deterministic micro-batches
    * (batch k = doc_id % 4) through
    * [[graft.streaming.NearDupStream.processBatch]] — the real
    * foreachBatch body: each batch probes the accumulated band-posting
    * index, labels its docs dup_corpus / dup_batch / kept, and appends
    * only the novel docs' postings as a new segment. The oracle
    * unrolls the same state machine as chained CTEs
    * ([[PortableHashOracle.st3Sql]]), so the evolving kept-set
    * semantics — not just the final pair graph — are hash-checked.
    * Fresh scratch per run: the index IS the stream's state. */
  def st3StreamNeardup(s: SparkSession, d: String): DataFrame =
    withStreamScratch { dir =>
      val docs = documents(s, d)
      val parts = (0 until 4).map { k =>
        graft.streaming.NearDupStream.processBatch(
          docs.filter(col("doc_id") % 4 === k), "doc_id", "text", dir,
          batchId = k.toLong)
      }
      parts.reduce(_ unionByName _).orderBy("doc_id")
    }

  /** LIVE duplicate clusters after the st3 ingestion — the incremental
    * connected-components fold ([[graft.pipeline.Components
    * .updateClusters]] via `liveClusters = true`) driven over the same
    * four micro-batches, serving the final live (doc, cluster)
    * map. The oracle computes the transitive closure over exactly the
    * pair stream the batches emit ([[PortableHashOracle.cc5Sql]]), so
    * the touched-clusters-only fold is hash-checked against a full
    * recomputation — the driver-gated version of what ComponentsSpec
    * pins on random streams. */
  def cc5LiveClusters(s: SparkSession, d: String): DataFrame =
    withStreamScratch { dir =>
      val docs = documents(s, d)
      (0 until 4).foreach { k =>
        graft.streaming.NearDupStream.processBatch(
          docs.filter(col("doc_id") % 4 === k), "doc_id", "text", dir,
          batchId = k.toLong, liveClusters = true)
      }
      graft.streaming.NearDupStream.latestClusters(s, dir).get
        .select(col("doc_id"), col("cluster"))
        .orderBy("doc_id")
    }

  /** SCD-type-2 history over a three-version snapshot stack
    * ([[graft.pipeline.SnapshotDiff.scdHistory]]): v2 edits every 7th
    * doc and drops every 9th; v3 edits every 5th and re-adds the
    * dropped — exercising open-on-change, open-on-reappearance (the
    * absence gap), and multi-interval keys. md5 digests + integer
    * versions → fully oracled. */
  /** The three-version snapshot stack d13/d14 share: v2 edits every
    * 7th doc and drops every 9th; v3 edits every 5th and re-adds the
    * dropped. */
  private def scdSnaps(docs: DataFrame): DataFrame = {
    val v1 = docs.select(col("doc_id"), col("text"), lit(1L).as("version"))
    val v2 = docs.filter(col("doc_id") % 9 =!= 0)
      .select(col("doc_id"),
        when(col("doc_id") % 7 === 0, concat(col("text"), lit(" r2")))
          .otherwise(col("text")).as("text"),
        lit(2L).as("version"))
    val v3 = docs.select(col("doc_id"),
      when(col("doc_id") % 5 === 0, concat(col("text"), lit(" r3")))
        .when(col("doc_id") % 7 === 0, concat(col("text"), lit(" r2")))
        .otherwise(col("text")).as("text"),
      lit(3L).as("version"))
    v1.unionByName(v2).unionByName(v3)
      .select(col("doc_id"), col("version"), md5(col("text")).as("digest"))
  }

  def d13ScdHistory(s: SparkSession, d: String): DataFrame = {
    val snaps = scdSnaps(documents(s, d))
    graft.pipeline.SnapshotDiff.scdHistory(snaps, "doc_id", "version", "digest")
      .withColumn("is_current", col("valid_to") === 3L)
      .orderBy("doc_id", "valid_from")
  }

  val d13Sql: String =
    """WITH sn AS (
      |  SELECT doc_id, CAST(1 AS BIGINT) AS version, md5(text) AS digest
      |  FROM documents
      |  UNION ALL
      |  SELECT doc_id, 2,
      |    md5(CASE WHEN doc_id % 7 = 0 THEN text || ' r2' ELSE text END)
      |  FROM documents WHERE doc_id % 9 != 0
      |  UNION ALL
      |  SELECT doc_id, 3,
      |    md5(CASE WHEN doc_id % 5 = 0 THEN text || ' r3'
      |             WHEN doc_id % 7 = 0 THEN text || ' r2'
      |             ELSE text END)
      |  FROM documents),
      |l AS (SELECT doc_id, version, digest,
      |        LAG(version) OVER w AS pv, LAG(digest) OVER w AS pd
      |      FROM sn
      |      WINDOW w AS (PARTITION BY doc_id ORDER BY version)),
      |o AS (SELECT *, CASE WHEN pv IS NULL OR pv != version - 1
      |                       OR pd != digest THEN 1 ELSE 0 END AS op
      |      FROM l),
      |e AS (SELECT *, SUM(op) OVER (PARTITION BY doc_id
      |        ORDER BY version) AS era FROM o)
      |SELECT doc_id, MAX(digest) AS digest,
      |  MIN(version) AS valid_from, MAX(version) AS valid_to,
      |  MAX(version) = 3 AS is_current
      |FROM e GROUP BY doc_id, era
      |ORDER BY doc_id, valid_from""".stripMargin

  /** Time-travel diff over the d13 SCD-2 history
    * ([[graft.pipeline.SnapshotDiff.asOfDiff]]): classify every doc
    * between version 2 and version 3 by reconstructing BOTH sides from
    * validity-interval filters — the churn audit that never rescans a
    * snapshot. v2→v3 exercises `added` (the docs v2 dropped and v3
    * re-added), `changed` (the r3 edits), and `unchanged`; the
    * `removed` leg is pinned on a constructed stack in Round10Spec. */
  def d14TimetravelDiff(s: SparkSession, d: String): DataFrame = {
    val hist = graft.pipeline.SnapshotDiff.scdHistory(
      scdSnaps(documents(s, d)), "doc_id", "version", "digest")
    graft.pipeline.SnapshotDiff.asOfDiff(hist, "doc_id", "digest",
        vOld = 2L, vNew = 3L)
      .orderBy("doc_id")
  }

  val d14Sql: String =
    s"""WITH h AS ($d13Sql),
       |o AS (SELECT doc_id, digest AS d1 FROM h
       |      WHERE valid_from <= 2 AND valid_to >= 2),
       |nw AS (SELECT doc_id, digest AS d2 FROM h
       |       WHERE valid_from <= 3 AND valid_to >= 3)
       |SELECT COALESCE(o.doc_id, nw.doc_id) AS doc_id,
       |  CASE WHEN d1 IS NULL THEN 'added'
       |       WHEN d2 IS NULL THEN 'removed'
       |       WHEN d1 = d2 THEN 'unchanged'
       |       ELSE 'changed' END AS status
       |FROM o FULL OUTER JOIN nw ON o.doc_id = nw.doc_id
       |ORDER BY doc_id""".stripMargin

  /** Per-language head/middle/tail stratification over the TRIGRAM KN
    * scores — t16's CCNet split driven by the order-3 model (t21), the
    * pairing a production CCNet filter actually ships (5-gram KenLM →
    * terciles). Same broadcast-aggregate + scan-stage assignment shape;
    * fully oracled by wrapping t21's replay in the per-language
    * `quantile_cont` terciles. */
  def t23KnBuckets(s: SparkSession, d: String): DataFrame = {
    val docs = documents(s, d)
    val scored = LangModel
      .knTrigramScores(docs, "doc_id", "text", docs, "text", discount = 0.75)
      .select(col("doc_id"), round(col("avg_logp"), 6).as("avg_logp"))
      .join(docs.select(col("doc_id"), col("lang")), Seq("doc_id"))
    LangModel.scoreBuckets(scored, "lang", "avg_logp")
      .select(col("doc_id"), col("lang"), col("avg_logp"), col("bucket"))
      .orderBy("doc_id")
  }

  val t23Sql: String = {
    // t21's score replay as a subquery (its ORDER BY is harmless), the
    // t16 tercile wrapper on top — same 4-dp boundary rounding + strict
    // `>` tie rule on both engines
    val scores = t21Sql
    s"""WITH sc AS (SELECT doc_id, avg_logp FROM ($scores)),
       |lg AS (SELECT sc.doc_id, d.lang, sc.avg_logp
       |       FROM sc JOIN documents d ON sc.doc_id = d.doc_id),
       |q AS (SELECT lang,
       |        ROUND(quantile_cont(avg_logp, 1.0/3), 4) AS q1,
       |        ROUND(quantile_cont(avg_logp, 2.0/3), 4) AS q2
       |      FROM lg GROUP BY lang)
       |SELECT lg.doc_id, lg.lang, lg.avg_logp,
       |  CASE WHEN lg.avg_logp > q.q2 THEN 'head'
       |       WHEN lg.avg_logp > q.q1 THEN 'middle'
       |       ELSE 'tail' END AS bucket
       |FROM lg JOIN q USING (lang)
       |ORDER BY lg.doc_id""".stripMargin
  }

  /** CCNet-style perplexity stratification: per-LANGUAGE tercile
    * boundaries over the t9 bigram-LM scores split the corpus into
    * head (most fluent third), middle, tail — the split CCNet feeds to
    * downstream sampling (head kept, tail dropped or downweighted).
    *
    * Scale shape: boundaries are a per-language AGGREGATE (two exact
    * percentiles of the 6-dp-rounded score) broadcast back, and bucket
    * assignment is a scan-stage comparison — never the per-language
    * `ntile` window that would funnel a billion-row language through
    * one task. (Exact percentile buffers per-group values; at real
    * scale swap `percentile_approx` — assignment shape is unchanged.)
    * Boundaries are rounded to 4 dp in BOTH engines before comparison
    * so a last-ulp interpolation difference cannot flip a boundary
    * doc; scores at exactly a rounded boundary go to the lower bucket
    * (`>` strict) in both. */
  def t16PplBuckets(s: SparkSession, d: String): DataFrame = {
    val docs = documents(s, d)
    val scored = LangModel
      .bigramScores(docs, "doc_id", "text", docs, "text", addK = 0.5)
      .select(col("doc_id"), round(col("avg_logp"), 6).as("avg_logp"))
      .join(docs.select(col("doc_id"), col("lang")), Seq("doc_id"))
    LangModel.scoreBuckets(scored, "lang", "avg_logp")
      .select(col("doc_id"), col("lang"), col("avg_logp"), col("bucket"))
      .orderBy("doc_id")
  }

  /** The t9 score CTE + per-lang `quantile_cont` terciles; DuckDB's
    * continuous quantile is the same (n−1)·p linear interpolation as
    * Spark's `percentile`, and both sides round boundaries to 4 dp
    * before the strict `>` comparison. Docs with no bigrams have no
    * score and are absent, exactly as in the Spark frame. */
  val t16Sql: String =
    """WITH w AS (SELECT doc_id,
      |    list_filter(string_split(trim(text), ' '), t -> t != '') AS wd
      |  FROM documents),
      |b AS (SELECT doc_id, wd[i] AS w1, wd[i+1] AS w2
      |  FROM (SELECT doc_id, wd, unnest(range(1, len(wd))) AS i
      |        FROM w WHERE len(wd) >= 2)),
      |cb AS (SELECT w1, w2, COUNT(*) AS c FROM b GROUP BY 1, 2),
      |cx AS (SELECT w1, COUNT(*) AS cx FROM b GROUP BY 1),
      |v AS (SELECT COUNT(DISTINCT u) AS v
      |      FROM (SELECT unnest(wd) AS u FROM w)),
      |sc AS (SELECT b.doc_id,
      |         LN((cb.c + 0.5) / (cx.cx + 0.5 * v.v)) AS lp
      |       FROM b JOIN cb USING (w1, w2) JOIN cx USING (w1), v),
      |doc AS (SELECT sc.doc_id, ROUND(AVG(lp), 6) AS avg_logp
      |        FROM sc GROUP BY sc.doc_id),
      |lg AS (SELECT doc.doc_id, d.lang, doc.avg_logp
      |       FROM doc JOIN documents d ON doc.doc_id = d.doc_id),
      |q AS (SELECT lang,
      |        ROUND(quantile_cont(avg_logp, 1.0/3), 4) AS q1,
      |        ROUND(quantile_cont(avg_logp, 2.0/3), 4) AS q2
      |      FROM lg GROUP BY lang)
      |SELECT lg.doc_id, lg.lang, lg.avg_logp,
      |  CASE WHEN lg.avg_logp > q.q2 THEN 'head'
      |       WHEN lg.avg_logp > q.q1 THEN 'middle'
      |       ELSE 'tail' END AS bucket
      |FROM lg JOIN q USING (lang)
      |ORDER BY lg.doc_id""".stripMargin

  /** Duplicated 8-token spans removed corpus-wide (first occurrence
    * kept); per-doc token accounting + md5 of the cleaned text. */
  def d7DupSpans(s: SparkSession, d: String): DataFrame =
    SpanDedup.removeDuplicateSpans(documents(s, d), "doc_id", "text", k = 8)
      .select(col("doc_id"), col("n_tokens"), col("n_removed"),
        md5(col("clean_text")).as("clean_md5"))
      .orderBy("doc_id")

  val d7Sql: String =
    """WITH w AS (SELECT doc_id,
      |    list_filter(string_split(trim(text), ' '), t -> t != '') AS wd
      |  FROM documents),
      |tk AS (SELECT doc_id, unnest(wd) AS w,
      |         unnest(range(1, len(wd) + 1)) AS pos FROM w),
      |win AS (SELECT doc_id, i AS pos, array_to_string(wd[i:i+7], ' ') AS gram
      |  FROM (SELECT doc_id, wd, unnest(range(1, len(wd) - 6)) AS i
      |        FROM w WHERE len(wd) >= 8)),
      |st AS (SELECT doc_id, pos,
      |         COUNT(*) OVER (PARTITION BY gram) AS n,
      |         ROW_NUMBER() OVER (PARTITION BY gram
      |           ORDER BY doc_id, pos) AS rk
      |       FROM win),
      |cov AS (SELECT DISTINCT st.doc_id, st.pos + o.o AS p
      |        FROM st CROSS JOIN (SELECT unnest(range(0, 8)) AS o) o
      |        WHERE st.n >= 2 AND st.rk > 1),
      |j AS (SELECT tk.doc_id, tk.pos, tk.w, cov.p IS NOT NULL AS c
      |      FROM tk LEFT JOIN cov
      |        ON tk.doc_id = cov.doc_id AND tk.pos = cov.p)
      |SELECT doc_id, COUNT(*) AS n_tokens,
      |  CAST(SUM(CASE WHEN c THEN 1 ELSE 0 END) AS BIGINT) AS n_removed,
      |  md5(COALESCE(string_agg(CASE WHEN NOT c THEN w END, ' '
      |        ORDER BY pos), '')) AS clean_md5
      |FROM j GROUP BY doc_id ORDER BY doc_id""".stripMargin

  /** Incremental dedup of a simulated re-crawl batch against the
    * existing corpus's digest index: exact re-downloads of every
    * 7th doc (→ dup_corpus), edited " v2" copies of every 5th doc
    * (novel → kept), and second submissions of the every-25th " v2"
    * texts (→ dup_batch). */
  def d8Incremental(s: SparkSession, d: String): DataFrame = {
    val docs = documents(s, d)
    val batch = docs.filter(col("doc_id") % 7 === 0)
      .select((col("doc_id") + 1000000L).as("doc_id"), col("text"))
      .unionAll(docs.filter(col("doc_id") % 5 === 0)
        .select((col("doc_id") + 2000000L).as("doc_id"),
          concat(col("text"), lit(" v2")).as("text")))
      .unionAll(docs.filter(col("doc_id") % 25 === 0)
        .select((col("doc_id") + 3000000L).as("doc_id"),
          concat(col("text"), lit(" v2")).as("text")))
    Dedup.incrementalExact(batch, "doc_id", "text",
        Dedup.digestIndex(docs, "text"))
      .select("doc_id", "decision")
      .orderBy("doc_id")
  }

  val d8Sql: String =
    """WITH b AS (
      |  SELECT doc_id + 1000000 AS doc_id, text
      |  FROM documents WHERE doc_id % 7 = 0
      |  UNION ALL
      |  SELECT doc_id + 2000000, text || ' v2'
      |  FROM documents WHERE doc_id % 5 = 0
      |  UNION ALL
      |  SELECT doc_id + 3000000, text || ' v2'
      |  FROM documents WHERE doc_id % 25 = 0),
      |cx AS (SELECT DISTINCT text FROM documents),
      |m AS (SELECT b.doc_id, b.text, cx.text IS NOT NULL AS inc,
      |        MIN(b.doc_id) OVER (PARTITION BY b.text) AS mn
      |      FROM b LEFT JOIN cx ON b.text = cx.text)
      |SELECT doc_id, CASE WHEN inc THEN 'dup_corpus'
      |  WHEN doc_id > mn THEN 'dup_batch' ELSE 'kept' END AS decision
      |FROM m ORDER BY doc_id""".stripMargin

  /** Snapshot diff vs a simulated re-crawl: every 9th doc vanished
    * (removed), every remaining 7th was edited (changed), every 11th
    * spawned a brand-new page (added), the rest untouched — the
    * crawl-to-crawl audit that decides which downstream artifacts need
    * refreshing. One digest projection per side + one full-outer
    * id-join; exact and seedless → fully oracled. The per-source churn
    * rollup over the same diff is spec-pinned
    * ([[graft.pipeline.SnapshotDiff.churnReport]]). */
  def d11SnapshotDiff(s: SparkSession, d: String): DataFrame = {
    val v1 = documents(s, d)
    val v2 = v1.filter(col("doc_id") % 9 =!= 0)
      .select(col("doc_id"),
        when(col("doc_id") % 7 === 0, concat(col("text"), lit(" updated")))
          .otherwise(col("text")).as("text"))
      .unionByName(v1.filter(col("doc_id") % 11 === 0)
        .select((col("doc_id") + 7000000L).as("doc_id"), col("text")))
    graft.pipeline.SnapshotDiff.diff(v1, v2, "doc_id", "text")
      .orderBy("doc_id")
  }

  val d11Sql: String =
    """WITH v2 AS (
      |  SELECT doc_id,
      |    CASE WHEN doc_id % 7 = 0 THEN text || ' updated' ELSE text END AS text
      |  FROM documents WHERE doc_id % 9 != 0
      |  UNION ALL
      |  SELECT doc_id + 7000000, text FROM documents WHERE doc_id % 11 = 0),
      |a AS (SELECT doc_id, md5(text) AS d1 FROM documents),
      |b AS (SELECT doc_id, md5(text) AS d2 FROM v2)
      |SELECT COALESCE(a.doc_id, b.doc_id) AS doc_id,
      |  CASE WHEN a.doc_id IS NULL THEN 'added'
      |       WHEN b.doc_id IS NULL THEN 'removed'
      |       WHEN a.d1 = b.d2 THEN 'unchanged'
      |       ELSE 'changed' END AS status
      |FROM a FULL OUTER JOIN b ON a.doc_id = b.doc_id
      |ORDER BY doc_id""".stripMargin

  /** Incremental NEAR-dup: the corpus's MinHash band postings are the
    * persisted state; a new batch (near-copies of a corpus slice plus
    * a batch-internal near-pair) probes them and verifies candidates
    * by exact Jaccard — the paraphrase-level counterpart of d8, and
    * the operational mode at 100 TB (no corpus rescan). Fully
    * ORACLED: the portable md5-64 + Mersenne-61 signatures replay in
    * DuckDB, which re-derives the postings from source text
    * ([[PortableHashOracle.d9Sql]]); QualitySpec additionally pins
    * the result equal to the full-batch minhashNearDups recomputation
    * restricted to batch pairs.
    *
    * The corpus band index is loaded from the content-signature-keyed
    * scratch location (built on first use, like s3/d6's shared IVF
    * index) — so this query measures what the operator costs in its
    * own stated mode: probe + verify, NOT full-corpus indexing. */
  def d9IncrementalNeardup(s: SparkSession, d: String): DataFrame = {
    val docs = documents(s, d)
    // near-copies: append one token so shingles overlap heavily but not
    // exactly; ids offset to keep the id space disjoint from the corpus
    val batch = docs.filter(col("doc_id") % 6 === 0)
      .select((col("doc_id") + 1000000L).as("doc_id"),
        concat(col("text"), lit(" appended")).as("text"))
    val index = Dedup.loadOrBuildIndex(docs, "doc_id", "text",
      dir = Dedup.indexScratchDir(d))
    Dedup.incrementalMinhash(batch, "doc_id", "text", index, threshold = 0.5)
      .select(col("id_a"), col("id_b"), round(col("jaccard"), 4).as("jacc"),
        col("origin"))
      .orderBy("id_a", "id_b", "origin")
  }

  /** Incremental SimHash near-dup — d9's counterpart on the
    * hamming-distance candidate family: the corpus's combined-block
    * key postings are the persisted state (content-signature-keyed
    * scratch, built on first use); only the batch is re-signed.
    * Fully ORACLED by a brute-force DuckDB replay of the portable
    * md5-64 signatures ([[PortableHashOracle.d10Sql]]) — valid
    * because candidates are pigeonhole-complete; QualitySpec pins the
    * same equality against the full simhashNearDups recomputation on
    * batch pairs. */
  def d10IncrementalSimhash(s: SparkSession, d: String): DataFrame = {
    val docs = documents(s, d)
    val batch = docs.filter(col("doc_id") % 6 === 0)
      .select((col("doc_id") + 1000000L).as("doc_id"),
        concat(col("text"), lit(" appended")).as("text"))
    val index = Dedup.loadOrBuildSimhashIndex(docs, "doc_id", "text",
      dir = Dedup.simhashScratchDir(d))
    Dedup.incrementalSimhash(batch, "doc_id", "text", index, threshold = 0.5)
      .select(col("id_a"), col("id_b"), col("hamming"),
        round(col("jaccard"), 4).as("jacc"), col("origin"))
      .orderBy("id_a", "id_b", "origin")
  }

  /** DSIR importance weights for the full corpus against the English
    * slice as the target domain: docs whose hashed-bigram distribution
    * is en-like weigh high, other-language docs weigh low — the
    * data-selection ranking, oracle-replayed exactly (md5-prefix
    * feature hash is engine-portable). */
  def t10DsirWeights(s: SparkSession, d: String): DataFrame = {
    val docs = documents(s, d)
    LangModel.dsirWeights(docs, "doc_id", "text",
        docs.filter(col("lang") === "en"), "text")
      .select(col("doc_id"), col("n_features"),
        // avg log-ratio can sit at a tiny negative — pin the sign of
        // zero on both engines (graft.queries.Num.rnd0 rule)
        (round(col("dsir_weight"), 6) + lit(0.0)).as("dsir_weight"))
      .orderBy("doc_id")
  }

  val t10Sql: String =
    """WITH w AS (SELECT doc_id, lang,
      |    list_filter(string_split(trim(text), ' '), t -> t != '') AS wd
      |  FROM documents),
      |b AS (SELECT doc_id, lang,
      |    substr(md5(wd[i] || ' ' || wd[i+1]), 1, 3) AS f
      |  FROM (SELECT doc_id, lang, wd, unnest(range(1, len(wd))) AS i
      |        FROM w WHERE len(wd) >= 2)),
      |t AS (SELECT f, COUNT(*) AS ct FROM b WHERE lang = 'en' GROUP BY 1),
      |tt AS (SELECT COUNT(*) AS n FROM b WHERE lang = 'en'),
      |r AS (SELECT f, COUNT(*) AS cr FROM b GROUP BY 1),
      |rt AS (SELECT COUNT(*) AS n FROM b),
      |sc AS (SELECT b.doc_id,
      |    LN(((COALESCE(t.ct, 0) + 0.5) / (tt.n + 0.5 * 4096)) /
      |       ((r.cr + 0.5) / (rt.n + 0.5 * 4096))) AS lr
      |  FROM b LEFT JOIN t USING (f) JOIN r USING (f), tt, rt)
      |SELECT doc_id, COUNT(*) AS n_features,
      |  ROUND(AVG(lr), 6) + 0.0 AS dsir_weight
      |FROM sc GROUP BY doc_id ORDER BY doc_id""".stripMargin

  /** HTML extraction end-to-end: each doc rendered into a
    * deterministic page template (script + style payloads, comments,
    * entities — the boilerplate a crawler actually fetches), then
    * extracted back in-scan. md5 of the extraction lets the oracle
    * verify the full output byte-for-byte. */
  def t12HtmlExtract(s: SparkSession, d: String): DataFrame = {
    val page = concat(
      lit("<html><head><title>Doc "), col("doc_id").cast("string"),
      lit("</title><script type=\"text/javascript\">var x = 1 < 2 && 2 > 1;</script>"),
      lit("<style>.c{color:red}</style></head><body><h1>Doc "),
      col("doc_id").cast("string"),
      lit("</h1><!-- hidden comment --><p>"), col("text"),
      lit("</p><div class=\"footer\">&amp;lt; stays; tail &lt;2026&gt;&nbsp;fin</div></body></html>"))
    documents(s, d)
      .select(col("doc_id"),
        TextAnalysis.htmlToText(page).as("extracted"))
      .select(col("doc_id"),
        TextAnalysis.tokenCount(col("extracted")).cast("long").as("n_tokens"),
        md5(col("extracted")).as("text_md5"))
      .orderBy("doc_id")
  }

  val t12Sql: String =
    """WITH p AS (SELECT doc_id,
      |    '<html><head><title>Doc ' || CAST(doc_id AS VARCHAR) ||
      |    '</title><script type="text/javascript">var x = 1 < 2 && 2 > 1;</script>' ||
      |    '<style>.c{color:red}</style></head><body><h1>Doc ' ||
      |    CAST(doc_id AS VARCHAR) ||
      |    '</h1><!-- hidden comment --><p>' || text ||
      |    '</p><div class="footer">&amp;lt; stays; tail &lt;2026&gt;&nbsp;fin</div></body></html>'
      |    AS page
      |  FROM documents),
      |s1 AS (SELECT doc_id, regexp_replace(page,
      |    '(?is)<script[^>]*>.*?</script>', ' ', 'g') AS t FROM p),
      |s2 AS (SELECT doc_id, regexp_replace(t,
      |    '(?is)<style[^>]*>.*?</style>', ' ', 'g') AS t FROM s1),
      |s3 AS (SELECT doc_id, regexp_replace(t,
      |    '(?s)<!--.*?-->', ' ', 'g') AS t FROM s2),
      |s4 AS (SELECT doc_id, regexp_replace(t,
      |    '<[^>]+>', ' ', 'g') AS t FROM s3),
      |s5 AS (SELECT doc_id, replace(replace(replace(replace(replace(
      |    replace(t, '&lt;', '<'), '&gt;', '>'), '&quot;', '"'),
      |    '&#39;', CHR(39)), '&nbsp;', ' '), '&amp;', '&') AS t FROM s4),
      |x AS (SELECT doc_id,
      |    trim(regexp_replace(t, '\s+', ' ', 'g')) AS extracted FROM s5)
      |SELECT doc_id,
      |  CAST(len(list_filter(string_split(extracted, ' '), t -> t != ''))
      |    AS BIGINT) AS n_tokens,
      |  md5(extracted) AS text_md5
      |FROM x ORDER BY doc_id""".stripMargin

  /** URL-level dedup + domain blocklist over planted crawl URLs: four
    * fetch variants per page (query string, fragment, trailing slash,
    * upper-cased scheme/host) canonicalize to one URL; blocked domains
    * drop; per-domain accounting of fetches vs distinct pages vs kept
    * (min-id) docs. The web-corpus step BEFORE content dedup. */
  def t13UrlDedup(s: SparkSession, d: String): DataFrame = {
    val docs = documents(s, d)
      .withColumn("_dom",
        element_at(array(lit("example.com"), lit("www.example.com"),
          lit("blog.example.org"), lit("ads.tracker.net")),
          (pmod(col("doc_id"), lit(4)) + 1).cast("int")))
      .withColumn("_base",
        concat(lit("https://"), col("_dom"), lit("/page"),
          pmod(col("doc_id"), lit(50)).cast("string")))
      .withColumn("url",
        when(pmod(col("doc_id"), lit(4)) === 0,
            concat(col("_base"), lit("?utm_source=feed&ref=rss")))
          .when(pmod(col("doc_id"), lit(4)) === 1, concat(col("_base"), lit("#section-2")))
          .when(pmod(col("doc_id"), lit(4)) === 2, concat(col("_base"), lit("/")))
          .otherwise(concat(upper(concat(lit("https://"), col("_dom"))),
            lit("/page"), pmod(col("doc_id"), lit(50)).cast("string"))))
    val canon = docs
      .withColumn("canonical", TextAnalysis.canonicalizeUrl(col("url")))
      .withColumn("domain", TextAnalysis.urlHost(col("url")))
      .filter(!col("domain").isin("ads.tracker.net"))
    canon.groupBy("domain").agg(
        count(lit(1)).as("n_fetches"),
        countDistinct(col("canonical")).as("n_pages"),
        min(col("doc_id")).as("first_doc"))
      .orderBy("domain")
  }

  val t13Sql: String =
    """WITH u AS (SELECT doc_id,
      |    ['example.com', 'www.example.com', 'blog.example.org',
      |     'ads.tracker.net'][CAST(doc_id % 4 AS INT) + 1] AS dom,
      |    CAST(doc_id % 50 AS VARCHAR) AS pg
      |  FROM documents),
      |raw AS (SELECT doc_id,
      |    CASE CAST(doc_id % 4 AS INT)
      |      WHEN 0 THEN 'https://' || dom || '/page' || pg || '?utm_source=feed&ref=rss'
      |      WHEN 1 THEN 'https://' || dom || '/page' || pg || '#section-2'
      |      WHEN 2 THEN 'https://' || dom || '/page' || pg || '/'
      |      ELSE upper('https://' || dom) || '/page' || pg
      |    END AS url
      |  FROM u),
      |c0 AS (SELECT doc_id,
      |    regexp_replace(regexp_replace(url, '[?#].*$', ''), '/$', '') AS nq
      |  FROM raw),
      |c AS (SELECT doc_id,
      |    lower(regexp_extract(nq, '^((?:[A-Za-z]+://|//)?[^/]*)', 1)) ||
      |      regexp_replace(nq, '^((?:[A-Za-z]+://|//)?[^/]*)', '') AS canonical
      |  FROM c0),
      |k AS (SELECT doc_id, canonical,
      |    regexp_extract(canonical, '^(?:[a-z]+://|//)?([^/]+)', 1) AS domain
      |  FROM c)
      |SELECT domain, COUNT(*) AS n_fetches,
      |  CAST(COUNT(DISTINCT canonical) AS BIGINT) AS n_pages,
      |  MIN(doc_id) AS first_doc
      |FROM k WHERE domain != 'ads.tracker.net'
      |GROUP BY domain ORDER BY domain""".stripMargin

  /** BPE tokenizer end-to-end: 64 merges trained on the corpus's
    * word-frequency table (one distributed count + local merge loop),
    * corpus encoded with the broadcast merge ranks. Fully ORACLED:
    * [[BpeOracle]] replays the greedy training in DuckDB as generated
    * chained CTEs (determinism and round-trip exactness additionally
    * pinned in QualitySpec). */
  def t14BpeTokenize(s: SparkSession, d: String): DataFrame = {
    val docs = documents(s, d)
    val merges = graft.pipeline.Bpe.train(docs, "text", numMerges = 64)
    graft.pipeline.Bpe.encodeCorpus(docs, "doc_id", "text", merges)
      .select(col("doc_id"), size(col("bpe_tokens")).cast("long").as("n_bpe_tokens"))
      .orderBy("doc_id")
  }

  /** Tokenizer fertility per language (BPE tokens / whitespace word) —
    * the tokenizer-diagnostics table a training pipeline reports
    * before committing to a vocabulary: high-fertility languages are
    * under-served by the merges and blow up sequence lengths. Same
    * distributed encode as t14 (broadcast-ranks, partition-invariant),
    * then a per-language rollup; oracled by replaying the merge
    * training in generated SQL ([[BpeOracle.t17Sql]]). */
  def t17TokenizerFertility(s: SparkSession, d: String): DataFrame = {
    val docs = documents(s, d)
    val merges = graft.pipeline.Bpe.train(docs, "text", numMerges = 64)
    val enc = graft.pipeline.Bpe.encodeCorpus(docs, "doc_id", "text", merges)
      .select(col("doc_id"), size(col("bpe_tokens")).cast("long").as("_nb"))
    docs.select(col("doc_id"), col("lang"),
        TextAnalysis.tokenCount(col("text")).cast("long").as("_nw"))
      .join(enc, Seq("doc_id"))
      .groupBy("lang")
      .agg(count(lit(1)).as("n_docs"),
        sum(col("_nw")).as("n_words"),
        sum(col("_nb")).as("n_bpe_tokens"),
        round(sum(col("_nb")) / sum(col("_nw")), 4).as("fertility"))
      .orderBy("lang")
  }

  /** Deterministic planted near-dup corpus over the embeddings table's
    * id universe: 8 exactly-orthogonal unit centers (basis vector 2g),
    * each vec_id assigned to group `vec_id % 8` and jittered by
    * md5-derived uniforms (the p9 replayable-noise idiom) — so BOTH
    * engines construct bit-identical vectors, within-group cosine is
    * ≥ ~0.95 and cross-group ≤ ~0.25, and the TRUE duplicate pair set
    * (same-group, sim ≥ 0.8) is exact on both sides. */
  private def d6Planted(s: SparkSession, d: String): DataFrame = {
    val dim = 16
    val g = col("vec_id") % 8
    val comps = (0 until dim).map { k =>
      val u = conv(substring(md5(
          concat(lit("d6:"), col("vec_id").cast("string"), lit(s":$k"))), 1, 12),
          16, 10).cast("double") / lit(281474976710656.0)
      val center = when(g * 2 === k, lit(1.0)).otherwise(lit(0.0))
      (center + (u - lit(0.5)) * lit(0.2)).cast("float")
    }
    embeddings(s, d).select(col("vec_id"), array(comps: _*).as("embedding"))
  }

  /** SemDeDup driven end-to-end under the oracle via its PLANTED-PAIR
    * contract (previously rows-only: cluster labels depend on the
    * seeded k-means quantizer, so per-row output can't hash-oracle).
    * The engine runs the real operator — deterministic sampled
    * k-means quantizer, in-cell exact-cosine pair scan — over
    * [[d6Planted]] and emits the exact ground-truth pair count plus
    * the paper's quality contract as booleans: precision_ok (every
    * found pair is a true planted pair; cross-group cosine sits at
    * ≤ ~0.25, far under the 0.8 threshold) and recall_ok (≥ 0.9 of
    * true pairs found; measured 1.0 at both test SFs with nlist = 8 —
    * one k-means cell per planted cluster). The oracle replays the
    * planted construction and brute-forces ALL pairs, so it also
    * verifies the separation assumption (a cross-group pair ≥ 0.8
    * would shift n_true_pairs and break the hash). Per-vector labels
    * on REAL embeddings stay pinned by QualitySpec (persisted-index ≡
    * in-place identity, recall vs exact all-pairs). The truth join
    * keys on the planted GROUP — an equi-join, quadratic only within
    * one planted cluster. */
  def d6SemanticDedup(s: SparkSession, d: String): DataFrame = {
    val planted = d6Planted(s, d)
    val n = graft.pipeline.Similarity.normalized(
        planted.select(col("vec_id"), col("embedding")), "embedding", "_ne")
      .withColumn("_g", col("vec_id") % 8)
    val truthFrame = n
      .select(col("_g"), col("vec_id").as("id_a"), col("_ne").as("_ea"))
      .join(n.select(col("_g"), col("vec_id").as("id_b"), col("_ne").as("_eb")),
        Seq("_g"))
      .filter(col("id_a") < col("id_b"))
      .withColumn("sim", graft.pipeline.Similarity.dot(col("_ea"), col("_eb")))
      .filter(col("sim") >= 0.8)
      .select("id_a", "id_b")
    // The operator run (quantize + in-cell pair scan; semanticPairs
    // checkpoints its result internally — a second localCheckpoint here
    // was one redundant re-materialization job), the ground-truth
    // in-group pair scan, and the vector count are three INDEPENDENT
    // materializations over the same planted frame — submit them from a
    // small pool (guide §2.6; graft.util.Jobs.par does this for results
    // of one type, these are two frames and a count) so the truth
    // scan and the count back-fill the k-means train's driver-bound
    // phases instead of waiting for them. Frames and values are
    // byte-identical to the serial order; only job submission overlaps.
    val pool = java.util.concurrent.Executors.newFixedThreadPool(3)
    implicit val ec: scala.concurrent.ExecutionContext =
      scala.concurrent.ExecutionContext.fromExecutor(pool)
    import scala.concurrent.{Await, Future}
    import scala.concurrent.duration.Duration
    val (found, truth, nVec) =
      try {
        val fFound = Future(SemDedup.semanticPairs(planted, "vec_id",
          "embedding", nlist = 8, threshold = 0.8))
        val fTruth = Future(truthFrame.localCheckpoint())
        val fNVec = Future(planted.count())
        (Await.result(fFound, Duration.Inf),
         Await.result(fTruth, Duration.Inf),
         Await.result(fNVec, Duration.Inf))
      } finally pool.shutdown()
    val nTrue = truth.count()
    val nFound = found.count()
    val nFoundTrue = found.join(truth, Seq("id_a", "id_b"), "left_semi").count()
    import s.implicits._
    Seq((nVec, nTrue, nFoundTrue == nFound,
        nFoundTrue >= math.ceil(0.9 * nTrue).toLong))
      .toDF("n_vectors", "n_true_pairs", "precision_ok", "recall_ok")
  }

  val d6Sql: String =
    """WITH ks AS (SELECT range AS k FROM range(16)),
      |v AS (SELECT e.vec_id, ks.k,
      |    CAST(CASE WHEN (e.vec_id % 8) * 2 = ks.k THEN 1.0 ELSE 0.0 END
      |      + (('0x' || substr(md5('d6:' || CAST(e.vec_id AS VARCHAR) || ':'
      |            || CAST(ks.k AS VARCHAR)), 1, 12))::UBIGINT
      |         / 281474976710656.0 - 0.5) * 0.2 AS REAL) AS x
      |  FROM embeddings e CROSS JOIN ks),
      |arr AS (SELECT vec_id, list(CAST(x AS DOUBLE) ORDER BY k) AS emb
      |  FROM v GROUP BY vec_id),
      |e AS (SELECT vec_id,
      |    list_transform(emb, t -> t / sqrt(list_sum(
      |      list_transform(emb, u -> u * u)))) AS ne
      |  FROM arr),
      |p AS (SELECT a.vec_id AS ia, b.vec_id AS ib,
      |    list_sum(list_transform(range(1, 17), k -> a.ne[k] * b.ne[k])) AS sim
      |  FROM e a JOIN e b ON a.vec_id < b.vec_id)
      |SELECT (SELECT CAST(COUNT(*) AS BIGINT) FROM embeddings) AS n_vectors,
      |  CAST(COUNT(*) FILTER (sim >= 0.8) AS BIGINT) AS n_true_pairs,
      |  TRUE AS precision_ok, TRUE AS recall_ok
      |FROM p""".stripMargin

  /** Trained quality classifier: pseudo-labels from the heuristic on
    * the even-id half as the seed set, LBFGS-fitted, the ODD-id
    * holdout scored by the broadcast model as a column expression.
    *
    * Previously rows-only (LBFGS coefficient bits are
    * float-association-dependent, so per-doc p_good digits can't
    * hash-oracle); now HASH-ORACLED via the decision contract, the
    * s6-whiten trick: the emitted table is the per-true-class holdout
    * size (exactly replayable from the heuristic + split in SQL) and
    * the boolean `acc_ok` = per-class holdout accuracy ≥ 0.85 — the
    * property that is deterministic given the deterministic split,
    * robust to coefficient-bit jitter (measured per-class accuracy:
    * 0.926-1.0 at sf0.001, 0.986-1.0 at sf0.01; the sharper ≥ 0.95
    * OVERALL holdout bound stays pinned in QualitySpec). A model
    * regression below the bound flips the boolean and fails the hash
    * gate. */
  def t11QualityClassifier(s: SparkSession, d: String): DataFrame = {
    val docs = documents(s, d)
    val seed = docs.filter(col("doc_id") % 2 === 0)
      .withColumn("label",
        (TextAnalysis.qualityScore(col("text")) >= 0.55).cast("double"))
    QualityClassifier.trainAndScore(docs, "text", seed, "text", "label")
      .filter(col("doc_id") % 2 =!= 0)
      .withColumn("_true", TextAnalysis.qualityScore(col("text")) >= 0.55)
      .withColumn("_pred", col("p_good") >= 0.5)
      .groupBy(col("_true").as("is_good"))
      .agg(count(lit(1)).as("n_docs"),
        sum(when(col("_pred") === col("_true"), 1L).otherwise(0L)).as("_nc"))
      .select(col("is_good"), col("n_docs"),
        (col("_nc").cast("double") / col("n_docs") >= 0.85).as("acc_ok"))
      .orderBy("is_good")
  }

  val t11Sql: String =
    """WITH f AS (SELECT doc_id,
      |    len(list_filter(string_split(trim(text), ' '), t -> t != '')) AS ntok,
      |    len(regexp_extract_all(text, '[^A-Za-z0-9\s]')) AS npunct,
      |    len(list_filter(list_filter(string_split(trim(text), ' '), t -> t != ''),
      |        t -> t IN ('the','a','an','and','of','to','in','is','it'))) AS nstop,
      |    length(text) AS nchar
      |  FROM documents WHERE doc_id % 2 != 0),
      |h AS (SELECT (ROUND(0.4 * LEAST(ntok / 100.0, 1.0)
      |      + 0.3 * (1.0 - LEAST(npunct * 5.0 / GREATEST(nchar, 1), 1.0))
      |      + 0.3 * LEAST(nstop * 5.0 / GREATEST(ntok, 1), 1.0), 6) >= 0.55)
      |    AS is_good
      |  FROM f)
      |SELECT is_good, COUNT(*) AS n_docs, TRUE AS acc_ok
      |FROM h GROUP BY is_good ORDER BY is_good""".stripMargin

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "t11_quality_classifier" -> (t11QualityClassifier _),
    "t9_lm_score" -> (t9LmScore _),
    "t20_kn_score" -> (t20KnScore _),
    "t21_trigram_kn" -> (t21Trigram _),
    "t23_kn_buckets" -> (t23KnBuckets _),
    "st3_stream_neardup" -> (st3StreamNeardup _),
    "cc5_live_clusters" -> (cc5LiveClusters _),
    "d13_scd_history" -> (d13ScdHistory _),
    "d14_timetravel_diff" -> (d14TimetravelDiff _),
    "t16_ppl_buckets" -> (t16PplBuckets _),
    "t10_dsir_weights" -> (t10DsirWeights _),
    "t12_html_extract" -> (t12HtmlExtract _),
    "t13_url_dedup" -> (t13UrlDedup _),
    "t14_bpe_tokenize" -> (t14BpeTokenize _),
    "t17_tokenizer_fertility" -> (t17TokenizerFertility _),
    "d7_dup_spans" -> (d7DupSpans _),
    "d8_incremental" -> (d8Incremental _),
    "d11_snapshot_diff" -> (d11SnapshotDiff _),
    "d9_incremental_neardup" -> (d9IncrementalNeardup _),
    "d10_incremental_simhash" -> (d10IncrementalSimhash _),
    "d6_semantic_dedup" -> (d6SemanticDedup _))

  def oracles: Map[String, String] = Map(
    "d6_semantic_dedup" -> d6Sql,
    "t11_quality_classifier" -> t11Sql,
    "t9_lm_score" -> t9Sql,
    "t20_kn_score" -> t20Sql,
    "t21_trigram_kn" -> t21Sql,
    "t23_kn_buckets" -> t23Sql,
    "t16_ppl_buckets" -> t16Sql,
    "t10_dsir_weights" -> t10Sql,
    "t12_html_extract" -> t12Sql,
    "t13_url_dedup" -> t13Sql,
    "d7_dup_spans" -> d7Sql,
    "d8_incremental" -> d8Sql,
    "d11_snapshot_diff" -> d11Sql,
    "d13_scd_history" -> d13Sql,
    "d14_timetravel_diff" -> d14Sql,
    "t14_bpe_tokenize" -> BpeOracle.t14Sql(numMerges = 64),
    "t17_tokenizer_fertility" -> BpeOracle.t17Sql(numMerges = 64),
    "d9_incremental_neardup" -> PortableHashOracle.d9Sql,
    "d10_incremental_simhash" -> PortableHashOracle.d10Sql,
    "st3_stream_neardup" -> PortableHashOracle.st3Sql(),
    "cc5_live_clusters" -> PortableHashOracle.cc5Sql())
}
