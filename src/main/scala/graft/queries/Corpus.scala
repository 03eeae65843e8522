package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.Tables._
import graft.pipeline.{Dedup, Sharding, SpanDedup, TextAnalysis}

/** Corpus-export operators — the last mile between a filtered corpus
  * and training shards: token-budget shard packing, deterministic
  * split assignment, boilerplate n-gram reporting, PII redaction.
  * All four are exact/deterministic → DuckDB-oracled.
  */
object Corpus {

  /** Token-budget shard packing (budget = 2000 whitespace tokens):
    * per-shard doc/token accounting. Distributed two-phase prefix sum —
    * the serial window sees one row per partition, never the corpus. */
  def p2ShardPack(s: SparkSession, d: String): DataFrame =
    Sharding.packByTokenBudget(documents(s, d), "doc_id",
        TextAnalysis.tokenCount(col("text")), budget = 2000L)
      .groupBy("shard").agg(
        count(lit(1)).as("n_docs"),
        sum("n_tokens").as("shard_tokens"),
        min("doc_id").as("first_doc"),
        max("doc_id").as("last_doc"))
      .orderBy("shard")

  val p2Sql: String =
    """WITH w AS (SELECT doc_id,
      |    len(list_filter(string_split(trim(text), ' '), t -> t != '')) AS tok
      |  FROM documents),
      |c AS (SELECT doc_id, tok, SUM(tok) OVER (ORDER BY doc_id) AS cum FROM w),
      |sh AS (SELECT doc_id, tok,
      |         CAST((cum - tok) // 2000 AS BIGINT) AS shard FROM c)
      |SELECT shard, COUNT(*) AS n_docs,
      |  CAST(SUM(tok) AS BIGINT) AS shard_tokens,
      |  MIN(doc_id) AS first_doc, MAX(doc_id) AS last_doc
      |FROM sh GROUP BY shard ORDER BY shard""".stripMargin

  /** Fixed-context-length sequence packing (L = 512): tokens laid
    * end-to-end in doc_id order, cut every 512, docs splitting across
    * cuts. One row per (document, sequence) span — the exact layout a
    * trainer's data loader materializes. */
  def p4PackSequences(s: SparkSession, d: String): DataFrame =
    Sharding.packSequences(documents(s, d), "doc_id",
        TextAnalysis.tokenCount(col("text")), seqLen = 512L)
      .orderBy("seq_id", "doc_id")

  val p4Sql: String =
    """WITH w AS (SELECT doc_id,
      |    len(list_filter(string_split(trim(text), ' '), t -> t != '')) AS tok
      |  FROM documents),
      |c AS (SELECT doc_id, tok,
      |    CAST(SUM(tok) OVER (ORDER BY doc_id) AS BIGINT) AS cum FROM w),
      |s AS (SELECT doc_id, cum - tok AS strt, cum FROM c WHERE tok > 0),
      |e AS (SELECT doc_id, strt, cum,
      |    unnest(generate_series(strt // 512, (cum - 1) // 512)) AS seq
      |  FROM s)
      |SELECT CAST(seq AS BIGINT) AS seq_id, doc_id,
      |  CAST(GREATEST(strt, seq * 512) - strt AS BIGINT) AS tok_start,
      |  CAST(LEAST(cum, (seq + 1) * 512)
      |       - GREATEST(strt, seq * 512) AS BIGINT) AS tok_len,
      |  CAST(GREATEST(strt, seq * 512) - seq * 512 AS BIGINT) AS seq_off
      |FROM e ORDER BY seq_id, doc_id""".stripMargin

  /** P12 (beyond ref): packing-efficiency audit — the per-sequence
    * manifest a trainer's data loader checks before a run: for every
    * fixed-length sequence of p4's layout, how many documents it
    * holds, its used-token count, how many spans are continuations of
    * a document split across a boundary, and whether the slot is full
    * (only the final sequence may not be). Integer-exact end to end →
    * fully oracled; one map-side-combined aggregate over the packed
    * span frame (seq_id-keyed, ~tokens/512 rows at any scale). */
  def p12PackAudit(s: SparkSession, d: String): DataFrame =
    Sharding.packSequences(documents(s, d), "doc_id",
        TextAnalysis.tokenCount(col("text")), seqLen = 512L)
      .groupBy("seq_id")
      .agg(count(lit(1)).as("n_docs"),
        sum("tok_len").as("n_tokens"),
        sum(when(col("tok_start") > 0, 1L).otherwise(0L))
          .as("n_continuations"),
        sum(when(col("seq_off") === 0 && col("tok_start") > 0, 1L)
          .otherwise(0L)).as("n_carry_ins"))
      .withColumn("is_full", col("n_tokens") === 512L)
      .orderBy("seq_id")

  val p12Sql: String =
    """WITH w AS (SELECT doc_id,
      |    len(list_filter(string_split(trim(text), ' '), t -> t != '')) AS tok
      |  FROM documents),
      |c AS (SELECT doc_id, tok,
      |    CAST(SUM(tok) OVER (ORDER BY doc_id) AS BIGINT) AS cum FROM w),
      |s AS (SELECT doc_id, cum - tok AS strt, cum FROM c WHERE tok > 0),
      |e AS (SELECT doc_id, strt, cum,
      |    unnest(generate_series(strt // 512, (cum - 1) // 512)) AS seq
      |  FROM s),
      |sp AS (SELECT CAST(seq AS BIGINT) AS seq_id, doc_id,
      |    CAST(GREATEST(strt, seq * 512) - strt AS BIGINT) AS tok_start,
      |    CAST(LEAST(cum, (seq + 1) * 512)
      |         - GREATEST(strt, seq * 512) AS BIGINT) AS tok_len,
      |    CAST(GREATEST(strt, seq * 512) - seq * 512 AS BIGINT) AS seq_off
      |  FROM e)
      |SELECT seq_id, COUNT(*) AS n_docs,
      |  CAST(SUM(tok_len) AS BIGINT) AS n_tokens,
      |  CAST(SUM(CASE WHEN tok_start > 0 THEN 1 ELSE 0 END) AS BIGINT)
      |    AS n_continuations,
      |  CAST(SUM(CASE WHEN seq_off = 0 AND tok_start > 0 THEN 1 ELSE 0 END)
      |    AS BIGINT) AS n_carry_ins,
      |  SUM(tok_len) = 512 AS is_full
      |FROM sp GROUP BY seq_id ORDER BY seq_id""".stripMargin

  /** Temperature mixing over the skewed language mix (α = 0.5,
    * target 200): per-language quotas ∝ ⌊√n⌋ flatten the en-heavy
    * corpus; the kept docs per language are the quota-many smallest
    * md5(doc_id) — exact, engine-portable membership. */
  def p5SourceMix(s: SparkSession, d: String): DataFrame =
    Sharding.temperatureMix(documents(s, d), "doc_id", "lang", targetN = 200L)
      .orderBy("lang", "rank")

  val p5Sql: String =
    """WITH n AS (SELECT lang, COUNT(*) AS n_docs FROM documents GROUP BY 1),
      |w AS (SELECT lang, n_docs,
      |    CAST(FLOOR(SQRT(n_docs)) AS BIGINT) AS wt FROM n),
      |t AS (SELECT CAST(SUM(wt) AS BIGINT) AS tot FROM w),
      |k AS (SELECT lang,
      |    CAST(LEAST(n_docs, (200 * wt) // tot) AS BIGINT) AS k FROM w, t),
      |r AS (SELECT lang, doc_id, ROW_NUMBER() OVER (PARTITION BY lang
      |        ORDER BY md5(CAST(doc_id AS VARCHAR))) AS rk FROM documents)
      |SELECT r.lang, r.doc_id, CAST(r.rk AS BIGINT) AS rank
      |FROM r JOIN k USING (lang) WHERE r.rk <= k.k
      |ORDER BY lang, rank""".stripMargin

  /** Deterministic md5-nibble train/val/test split: per (source,
    * split) doc/token accounting. Stable across runs, partitionings,
    * and engines — membership is a pure function of the id. */
  def p3HashSplit(s: SparkSession, d: String): DataFrame =
    documents(s, d)
      .withColumn("split", Sharding.hashSplit(col("doc_id")))
      .groupBy("source", "split").agg(
        count(lit(1)).as("n_docs"),
        sum(TextAnalysis.tokenCount(col("text")).cast("long")).as("n_tokens"))
      .orderBy("source", "split")

  val p3Sql: String =
    """WITH s AS (SELECT source, doc_id,
      |    len(list_filter(string_split(trim(text), ' '), t -> t != '')) AS tok,
      |    substr(md5(CAST(doc_id AS VARCHAR)), 1, 1) AS nib
      |  FROM documents)
      |SELECT source,
      |  CASE WHEN nib IN ('c', 'd') THEN 'val'
      |       WHEN nib IN ('e', 'f') THEN 'test'
      |       ELSE 'train' END AS split,
      |  COUNT(*) AS n_docs, CAST(SUM(tok) AS BIGINT) AS n_tokens
      |FROM s GROUP BY 1, 2 ORDER BY source, split""".stripMargin

  /** Deterministic language rebalancing: halve en, keep zh/es whole,
    * quarter de, drop fr (absent stratum). Seedless md5-threshold
    * sampling — the SAME ids survive in any engine at any parallelism,
    * which is what makes corpus curation reproducible; the oracle
    * replays the identical lexicographic hex comparison. Emits the
    * surviving ids (full fidelity, not just counts). */
  def p6StratifiedSample(s: SparkSession, d: String): DataFrame =
    Sharding.stratifiedSample(documents(s, d), "doc_id", "lang",
        Map("en" -> 0.5, "zh" -> 1.0, "es" -> 1.0, "de" -> 0.25))
      .select(col("doc_id"), col("lang"))
      .orderBy("doc_id")

  val p6Sql: String =
    """SELECT doc_id, lang FROM documents
      |WHERE substr(md5(CAST(doc_id AS VARCHAR)), 1, 12) <
      |  CASE lang WHEN 'en' THEN '800000000000'
      |            WHEN 'zh' THEN 'g'
      |            WHEN 'es' THEN 'g'
      |            WHEN 'de' THEN '400000000000'
      |            ELSE '000000000000' END
      |ORDER BY doc_id""".stripMargin

  /** Seeded deterministic global shuffle of the corpus — the
    * order-randomization step of a training export, oracle-replayed
    * exactly (the md5 rank key is engine-portable; see
    * [[graft.pipeline.Sharding.deterministicShuffle]] for the
    * two-phase position scheme that avoids a single-task window). */
  def p7GlobalShuffle(s: SparkSession, d: String): DataFrame =
    Sharding.deterministicShuffle(documents(s, d), "doc_id", seed = 42L)
      .select(col("doc_id"), col("shuffle_pos"))
      .orderBy("doc_id")

  val p7Sql: String =
    """SELECT doc_id,
      |  CAST(ROW_NUMBER() OVER (
      |    ORDER BY md5('42:' || CAST(doc_id AS VARCHAR)), doc_id) - 1
      |    AS BIGINT) AS shuffle_pos
      |FROM documents ORDER BY doc_id""".stripMargin

  /** Epoch-replicated source mixing — the LLaMA/Pile-style upsampling
    * manifest: each source gets an integer epoch count (here
    * 1 + srcN % 3, replayable from the source name), every doc is
    * replicated once per epoch, and the replicated stream gets a
    * seeded deterministic global shuffle position keyed on
    * (doc, epoch) — so upsampled copies land spread across the
    * training order, not adjacent. Distinct job from p5's temperature
    * QUOTAS (which sample a subset): epoch mixing REPEATS data.
    * Same two-phase position scheme as p7 (no single-task window);
    * md5 rank key is engine-portable → fully oracled. */
  def p10EpochMix(s: SparkSession, d: String): DataFrame = {
    val rep = documents(s, d)
      .withColumn("_ep", expr("CAST(substring(source, 4) AS INT) % 3 + 1"))
      .withColumn("epoch", explode(sequence(lit(1), col("_ep"))))
      .withColumn("_rid", concat_ws(":",
        col("doc_id").cast("string"), col("epoch").cast("string")))
    Sharding.deterministicShuffle(rep, "_rid", seed = 7L)
      .select(col("doc_id"), col("epoch").cast("long").as("epoch"),
        col("shuffle_pos"))
      .orderBy("doc_id", "epoch")
  }

  val p10Sql: String =
    """WITH rep AS (SELECT doc_id,
      |    unnest(range(1, CAST(substr(source, 4) AS INT) % 3 + 2)) AS epoch
      |  FROM documents)
      |SELECT doc_id, CAST(epoch AS BIGINT) AS epoch,
      |  CAST(ROW_NUMBER() OVER (ORDER BY
      |      md5('7:' || CAST(doc_id AS VARCHAR) || ':' || CAST(epoch AS VARCHAR)),
      |      CAST(doc_id AS VARCHAR) || ':' || CAST(epoch AS VARCHAR)) - 1
      |    AS BIGINT) AS shuffle_pos
      |FROM rep ORDER BY doc_id, epoch""".stripMargin

  /** UniMax language-budget allocation + sample
    * ([[graft.pipeline.Sharding.unimaxSample]]): a 400-doc budget
    * spread uniformly over languages, each capped at 1 epoch of its
    * corpus with the unused share re-distributed to larger languages —
    * the water-filling allocator that succeeded p5's temperature
    * quotas for multilingual pretraining mixes. At this corpus's skew
    * (en ≈ 3× the tail languages) the caps BIND for the three smallest
    * languages and en absorbs the redistributed remainder, so the
    * oracle exercises the actual recurrence, not the uniform
    * fast path. All-integer allocation + smallest-md5 membership →
    * fully oracled (the oracle replays the water-filling as a
    * recursive CTE over the language counts). */
  def p13Unimax(s: SparkSession, d: String): DataFrame =
    Sharding.unimaxSample(documents(s, d), "doc_id", "lang", budget = 400L)
      .orderBy("lang", "rank")

  val p13Sql: String =
    """WITH RECURSIVE n AS (
      |  SELECT lang, COUNT(*) AS n_docs,
      |    ROW_NUMBER() OVER (ORDER BY COUNT(*), lang) AS i
      |  FROM documents GROUP BY lang),
      |tot AS (SELECT COUNT(*) AS k FROM n),
      |a AS (
      |  SELECT 0 AS i, CAST(400 AS BIGINT) AS rem,
      |    CAST(NULL AS VARCHAR) AS lang, CAST(0 AS BIGINT) AS quota
      |  UNION ALL
      |  SELECT n.i,
      |    a.rem - LEAST(n.n_docs, a.rem // (tot.k - a.i)),
      |    n.lang,
      |    LEAST(n.n_docs, a.rem // (tot.k - a.i))
      |  FROM a, n, tot WHERE n.i = a.i + 1),
      |q AS (SELECT lang, quota FROM a WHERE lang IS NOT NULL),
      |r AS (SELECT lang, doc_id, ROW_NUMBER() OVER (PARTITION BY lang
      |        ORDER BY md5(CAST(doc_id AS VARCHAR))) AS rk FROM documents)
      |SELECT r.lang, r.doc_id, CAST(r.rk AS BIGINT) AS rank
      |FROM r JOIN q USING (lang) WHERE r.rk <= q.quota
      |ORDER BY lang, rank""".stripMargin

  /** Exact-k stratified sample: exactly 7 docs per language, the 7
    * smallest md5("11:"+id) rank keys — the deterministic per-stratum
    * quota draw of a corpus export. The oracle replays the rank key
    * directly; the two-phase pre-cut + fallback plan that avoids a
    * full-corpus single-stratum window is pinned in ShardingSpec. */
  def p8ExactSample(s: SparkSession, d: String): DataFrame =
    Sharding.stratifiedExactK(documents(s, d), "lang", "doc_id",
        k = 7, seed = 11L)
      .select(col("lang"), col("doc_id"), col("sample_rank"))
      .orderBy("lang", "doc_id")

  val p8Sql: String =
    """SELECT lang, doc_id, sample_rank FROM (
      |  SELECT lang, doc_id,
      |    CAST(ROW_NUMBER() OVER (PARTITION BY lang
      |      ORDER BY md5('11:' || CAST(doc_id AS VARCHAR)), doc_id)
      |      AS INTEGER) AS sample_rank
      |  FROM documents WHERE lang IS NOT NULL)
      |WHERE sample_rank <= 7
      |ORDER BY lang, doc_id""".stripMargin

  /** Token-weighted sample without replacement: 50 docs drawn with
    * probability ∝ token count (A-ES exponential keys) — a corpus
    * audit sample that is uniform over TOKENS, not documents. The
    * oracle replays the md5-derived uniform and the key formula; the
    * only engine-sensitive step (ln, 1 ulp) sits 10 orders of
    * magnitude under the 6-dp key rounding. */
  def p9WeightedSample(s: SparkSession, d: String): DataFrame = {
    val docs = documents(s, d)
      .withColumn("n_tokens", TextAnalysis.tokenCount(col("text")).cast("long"))
    Sharding.weightedSample(docs, "doc_id", col("n_tokens"), k = 50, seed = 7L)
      .select(col("doc_id"), col("n_tokens"), col("draw_key"), col("sample_rank"))
      .orderBy("sample_rank")
  }

  val p9Sql: String =
    """WITH w AS (SELECT doc_id,
      |    CAST(len(list_filter(string_split(trim(text), ' '), t -> t != ''))
      |      AS BIGINT) AS n_tokens
      |  FROM documents),
      |k AS (SELECT doc_id, n_tokens,
      |    ROUND(-ln((('0x' || substr(md5('7:' || CAST(doc_id AS VARCHAR)), 1, 12))::UBIGINT
      |        + 0.5) / 281474976710656.0) / n_tokens, 6) AS draw_key
      |  FROM w WHERE n_tokens > 0)
      |SELECT doc_id, n_tokens, draw_key,
      |  CAST(rk AS BIGINT) AS sample_rank FROM (
      |  SELECT *, ROW_NUMBER() OVER (ORDER BY draw_key, doc_id) AS rk FROM k)
      |WHERE rk <= 50 ORDER BY rk""".stripMargin

  /** JSONL ingest round-trip ([[graft.ingest.CorpusLoader]]): the
    * documents table is exported as newline-delimited JSON (the wire
    * format raw corpora actually arrive in), two malformed lines are
    * injected (a truncated record + plain garbage), and the loader
    * reads it back with an EXPLICIT schema in PERMISSIVE mode. Clean
    * rows aggregate per language with a portable md5-sum content
    * fingerprint — any mutation of any text byte in the round trip
    * breaks the oracle hash — and the quarantine count rides along as
    * a column (both injected lines, no clean row swept up). The parse
    * lands as BRONZE parquet first ([[graft.ingest.CorpusLoader
    * .landBronze]]) — the parse-once medallion step — and everything
    * downstream reads bronze. Scratch dir is per-invocation and
    * deleted after materialization (the x2 rule). */
  def io1JsonlIngest(s: SparkSession, d: String): DataFrame = {
    val docs = documents(s, d)
    val dir = java.nio.file.Files.createTempDirectory("io1jsonl").toString
    try {
      docs.coalesce(4).write.mode("overwrite").json(s"$dir/data")
      java.nio.file.Files.write(
        java.nio.file.Paths.get(s"$dir/data/zz_corrupt.json"),
        "{\"doc_id\": 999999999, \"text\": \nnot json at all\n"
          .getBytes(java.nio.charset.StandardCharsets.UTF_8))
      val parsed = graft.ingest.CorpusLoader.landBronze(
        s, s"$dir/data", docs.schema, s"$dir/bronze")
      val nQuarantined = graft.ingest.CorpusLoader.quarantine(parsed).count()
      graft.ingest.CorpusLoader.good(parsed)
        .groupBy("lang").agg(
          count(lit(1)).as("n_docs"),
          sum(col("n_chars")).as("sum_chars"),
          sum(conv(substring(md5(col("text")), 1, 12), 16, 10).cast("long"))
            .as("text_md5_sum"))
        .withColumn("n_quarantined", lit(nQuarantined))
        .orderBy("lang")
        .localCheckpoint()
    } finally {
      // the localCheckpoint above materialized everything that reads
      // from the scratch tree, so deletion is safe even on failure
      // paths — and a failure no longer leaks the tree (st4's rule)
      graft.util.Local.deleteRecursively(dir)
    }
  }

  val io1Sql: String =
    """SELECT lang, COUNT(*) AS n_docs,
      |  CAST(SUM(n_chars) AS BIGINT) AS sum_chars,
      |  CAST(SUM(('0x' || substr(md5(text), 1, 12))::BIGINT) AS BIGINT)
      |    AS text_md5_sum,
      |  CAST(2 AS BIGINT) AS n_quarantined
      |FROM documents GROUP BY lang ORDER BY lang""".stripMargin

  /** CSV ingest round-trip — io1's twin for the OTHER wire format
    * ([[graft.ingest.CorpusLoader.readCsv]]/[[graft.ingest
    * .CorpusLoader.landBronzeCsv]]): the documents table is exported
    * as headered CSV, two malformed rows are injected (an unparseable
    * typed field + a wrong-arity line — the injected file carries its
    * own header line, since `header = true` skips the FIRST line of
    * EVERY file), and the loader reads it back with an EXPLICIT
    * schema in PERMISSIVE mode. Clean rows aggregate per source with
    * the portable md5-sum content fingerprint (any byte mutated in
    * the CSV quote/escape round trip breaks the oracle hash); the
    * quarantine count rides along. Bronze-first like io1. */
  def io2CsvIngest(s: SparkSession, d: String): DataFrame = {
    val docs = documents(s, d)
      .select("doc_id", "text", "lang", "source", "n_chars")
    val dir = java.nio.file.Files.createTempDirectory("io2csv").toString
    try {
      // readCsv's newline contract (default multiLine = false):
      // records are physical lines, so a text field with an embedded
      // newline would round-trip through Spark's (quoting) CSV writer
      // into two quarantined lines and silently shift n_quarantined
      // off its pinned value of 2. Assert the precondition up front
      // so a corpus regeneration that introduces newlines fails with
      // THIS message instead of a mysterious oracle hash mismatch.
      val nMultiline = docs.filter(
        col("text").contains("\n") || col("text").contains("\r")).count()
      require(nMultiline == 0, s"io2 precondition violated: $nMultiline " +
        "documents contain embedded newlines — readCsv(multiLine=false) " +
        "would quarantine their split lines; use multiLine=true or clean")
      docs.coalesce(4).write.option("header", true)
        .mode("overwrite").csv(s"$dir/data")
      java.nio.file.Files.write(
        java.nio.file.Paths.get(s"$dir/data/zz_corrupt.csv"),
        ("doc_id,text,lang,source,n_chars\n" +
          "notanumber,some text,en,web,12\n" +
          "just one field\n")
          .getBytes(java.nio.charset.StandardCharsets.UTF_8))
      val parsed = graft.ingest.CorpusLoader.landBronzeCsv(
        s, s"$dir/data", docs.schema, s"$dir/bronze")
      val nQuarantined = graft.ingest.CorpusLoader.quarantine(parsed).count()
      graft.ingest.CorpusLoader.good(parsed)
        .groupBy("source").agg(
          count(lit(1)).as("n_docs"),
          sum(col("n_chars")).as("sum_chars"),
          sum(conv(substring(md5(col("text")), 1, 12), 16, 10).cast("long"))
            .as("text_md5_sum"))
        .withColumn("n_quarantined", lit(nQuarantined))
        .orderBy("source")
        .localCheckpoint()
    } finally {
      graft.util.Local.deleteRecursively(dir)
    }
  }

  val io2Sql: String =
    """SELECT source, COUNT(*) AS n_docs,
      |  CAST(SUM(n_chars) AS BIGINT) AS sum_chars,
      |  CAST(SUM(('0x' || substr(md5(text), 1, 12))::BIGINT) AS BIGINT)
      |    AS text_md5_sum,
      |  CAST(2 AS BIGINT) AS n_quarantined
      |FROM documents GROUP BY source ORDER BY source""".stripMargin

  /** Top-5 bigrams per language by exact corpus count (ties broken by
    * gram text, so ranking is deterministic). */
  def t7TopNgrams(s: SparkSession, d: String): DataFrame =
    TextAnalysis.topNgrams(documents(s, d), "doc_id", "lang", "text", k = 5)
      .select(col("lang"), col("gram"), col("n"), col("rank"))
      .orderBy("lang", "rank")

  val t7Sql: String =
    """WITH w AS (SELECT doc_id, lang,
      |    list_filter(string_split(trim(text), ' '), t -> t != '') AS wd
      |  FROM documents),
      |b AS (SELECT lang,
      |    unnest([wd[i] || ' ' || wd[i+1] for i in range(1, len(wd))]) AS gram
      |  FROM w WHERE len(wd) >= 2),
      |c AS (SELECT lang, gram, COUNT(*) AS n FROM b GROUP BY 1, 2),
      |r AS (SELECT *, ROW_NUMBER() OVER (PARTITION BY lang
      |        ORDER BY n DESC, gram) AS rank FROM c)
      |SELECT lang, gram, n, rank FROM r WHERE rank <= 5
      |ORDER BY lang, rank""".stripMargin

  /** PII scrub: the synthetic corpus carries no PII, so a
    * deterministic email + phone is appended per doc first; then both
    * are counted and redacted. The md5 of the redacted text lets the
    * oracle verify the FULL redaction output byte-for-byte without
    * shipping the corpus through the compare step. */
  def t8Redact(s: SparkSession, d: String): DataFrame =
    documents(s, d)
      .withColumn("full_text",
        concat(col("text"), lit(" Contact user"), col("doc_id").cast("string"),
          lit("@mail.example.com or call 555-"),
          lpad(pmod(col("doc_id"), lit(10000)).cast("string"), 4, "0"),
          lit(" now.")))
      .select(col("doc_id"),
        TextAnalysis.emailCount(col("full_text")).cast("long").as("n_emails"),
        TextAnalysis.phoneCount(col("full_text")).cast("long").as("n_phones"),
        md5(TextAnalysis.redactPii(col("full_text"))).as("redacted_md5"))
      .orderBy("doc_id")

  val t8Sql: String =
    """WITH f AS (SELECT doc_id,
      |    text || ' Contact user' || CAST(doc_id AS VARCHAR) ||
      |    '@mail.example.com or call 555-' ||
      |    lpad(CAST(doc_id % 10000 AS VARCHAR), 4, '0') || ' now.' AS full_text
      |  FROM documents)
      |SELECT doc_id,
      |  CAST(len(regexp_extract_all(full_text,
      |    '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}')) AS BIGINT) AS n_emails,
      |  CAST(len(regexp_extract_all(full_text,
      |    '\b555-[0-9]{4}\b')) AS BIGINT) AS n_phones,
      |  md5(regexp_replace(regexp_replace(full_text,
      |    '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}', '[EMAIL]', 'g'),
      |    '\b555-[0-9]{4}\b', '[PHONE]', 'g')) AS redacted_md5
      |FROM f ORDER BY doc_id""".stripMargin

  /** The gold export manifest — the whole last mile as ONE oracled
    * DataFrame program: duplicated-span removal → exact dedup of the
    * CLEANED texts (span removal creates new exact dups — real effect,
    * the two dedups compose) → PII redaction → quality cut on the
    * artifact text → deterministic split assignment → per-split
    * token-budget shard packing. Output = the shard manifest a trainer
    * consumes: (split, shard) → docs, tokens, id range. */
  def e3ExportManifest(s: SparkSession, d: String): DataFrame = {
    val docs = documents(s, d)
    // persist: exactDedup reads its input from BOTH sides of the
    // keep/join, and the span-removal chain above it is the expensive
    // part of the whole funnel — without this it recomputes per
    // subtree. The cache lives until the session's next
    // clearCache (Verify/Bench clear between queries; a library
    // caller embedding this funnel should clearCache when done).
    //
    // redact + quality are computed INSIDE the persisted frame: a
    // quality filter phrased as qualityScore(redactPii(...)) above the
    // dedup join gets predicate-pushed below it with the redact tree
    // substituted once per reference — 7 inlined redactPii copies
    // (14 regexp_replace full-text passes) per probe row, and an 8th
    // in the projection above (measured: the slim leg was one 17.8 s
    // job at 10×, plan had 30 regexp_replace occurrences). Stored as
    // cached columns they are computed once per cleaned row and the
    // filter reads a materialized double. Same expressions, same rows.
    val cleaned = SpanDedup.removeDuplicateSpans(docs, "doc_id", "text", k = 8)
      .filter(col("n_removed") < col("n_tokens"))   // all-boilerplate docs drop out
      .withColumn("export_text", TextAnalysis.redactPii(col("clean_text")))
      .withColumn("_q", TextAnalysis.qualityScore(col("export_text")))
      .persist()
    val deduped = Dedup.exactDedup(cleaned, "doc_id", "clean_text")
    val kept = deduped
      .filter(col("_q") >= 0.55)
      .withColumn("split", Sharding.hashSplit(col("doc_id")))
    // one corpus pass for all three splits (a per-split pack would
    // re-scan the kept corpus once per split at 100 TB)
    // narrow before the range exchange (guide §2.3): the exchange's
    // boundary-sampling pass replays its input lineage, which here is
    // the redact+quality regex chain — materializing the 3-column
    // (split, doc_id, n_tokens) frame first means both the sample and
    // the shuffle read 24-byte rows and the regex work runs once
    val slim = kept.select(col("split"), col("doc_id"),
        TextAnalysis.tokenCount(col("export_text")).cast("long").as("n_tokens"))
      .persist()
    slim.count(): Unit // eager: one compute+cache pass (localCheckpoint's
                       // eager path ran the subtree twice — the job census showed
                       // two ~8.3 s jobs at this line at 10×)
    val packed = Sharding.packByTokenBudgetStratified(slim, "doc_id",
      col("n_tokens"), budget = 1000L, strata = Seq("split"))
    packed.groupBy("split", "shard").agg(
        count(lit(1)).as("n_docs"),
        sum("n_tokens").as("shard_tokens"),
        min("doc_id").as("first_doc"),
        max("doc_id").as("last_doc"))
      .orderBy("split", "shard")
  }

  val e3Sql: String =
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
      |        ON tk.doc_id = cov.doc_id AND tk.pos = cov.p),
      |cl AS (SELECT doc_id, COUNT(*) AS n_tokens,
      |         SUM(CASE WHEN c THEN 1 ELSE 0 END) AS n_removed,
      |         COALESCE(string_agg(CASE WHEN NOT c THEN w END, ' '
      |           ORDER BY pos), '') AS clean_text
      |       FROM j GROUP BY doc_id),
      |nd AS (SELECT * FROM cl WHERE n_removed < n_tokens),
      |k AS (SELECT MIN(doc_id) AS doc_id FROM nd GROUP BY clean_text),
      |ex AS (SELECT nd.doc_id,
      |         regexp_replace(regexp_replace(nd.clean_text,
      |           '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}',
      |           '[EMAIL]', 'g'),
      |           '\b555-[0-9]{4}\b', '[PHONE]', 'g') AS export_text
      |       FROM nd JOIN k USING (doc_id)),
      |q AS (SELECT doc_id, export_text,
      |        list_filter(string_split(trim(export_text), ' '),
      |          t -> t != '') AS tok
      |      FROM ex),
      |qq AS (SELECT doc_id, len(tok) AS tokc,
      |         ROUND(0.4 * LEAST(len(tok) / 100.0, 1.0)
      |           + 0.3 * (1.0 - LEAST(len(regexp_extract_all(export_text,
      |               '[^A-Za-z0-9\s]')) * 5.0
      |               / GREATEST(length(export_text), 1), 1.0))
      |           + 0.3 * LEAST(len(list_filter(tok,
      |               t -> t IN ('the','a','an','and','of','to','in','is','it')))
      |               * 5.0 / GREATEST(len(tok), 1), 1.0), 6) AS quality
      |       FROM q),
      |keep AS (SELECT doc_id, tokc,
      |           CASE WHEN substr(md5(CAST(doc_id AS VARCHAR)), 1, 1)
      |                  IN ('c', 'd') THEN 'val'
      |                WHEN substr(md5(CAST(doc_id AS VARCHAR)), 1, 1)
      |                  IN ('e', 'f') THEN 'test'
      |                ELSE 'train' END AS split
      |         FROM qq WHERE quality >= 0.55),
      |c AS (SELECT split, doc_id, tokc,
      |        SUM(tokc) OVER (PARTITION BY split ORDER BY doc_id) AS cum
      |      FROM keep),
      |sh AS (SELECT split, doc_id, tokc,
      |         CAST((cum - tokc) // 1000 AS BIGINT) AS shard FROM c)
      |SELECT split, shard, COUNT(*) AS n_docs,
      |  CAST(SUM(tokc) AS BIGINT) AS shard_tokens,
      |  MIN(doc_id) AS first_doc, MAX(doc_id) AS last_doc
      |FROM sh GROUP BY split, shard ORDER BY split, shard""".stripMargin

  /** Tokenizer → trainer handoff composed end-to-end: BPE (64 merges
    * trained on this corpus) encodes every document, then
    * [[Sharding.assembleSequences]] splices the real token arrays into
    * fixed 256-token training sequences, documents splitting across
    * boundaries. Output is the per-sequence manifest with an
    * order-aware content signature (md5 of the space-joined token
    * stream; tokens come from whitespace-split words, so the separator
    * is unambiguous). Fully ORACLED: [[BpeOracle]] replays the greedy
    * merge training itself as generated chained CTEs, so every token
    * of every sequence is pinned cross-engine; exact reconstruction is
    * additionally pinned in ShardingSpec. */
  def e4TokenizedPack(s: SparkSession, d: String): DataFrame = {
    val docs = documents(s, d)
    val merges = graft.pipeline.Bpe.train(docs, "text", numMerges = 64)
    val enc = graft.pipeline.Bpe.encodeCorpus(docs, "doc_id", "text", merges)
    Sharding.assembleSequences(enc, "doc_id", "bpe_tokens", seqLen = 256L)
      .select(col("seq_id"), col("n_docs"), col("n_tokens"),
        md5(array_join(col("tokens"), " ")).as("seq_sig"))
      .orderBy("seq_id")
  }

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "e3_export_manifest" -> (e3ExportManifest _),
    "e4_tokenized_pack" -> (e4TokenizedPack _),
    "p2_shard_pack" -> (p2ShardPack _),
    "p3_hash_split" -> (p3HashSplit _),
    "p6_stratified_sample" -> (p6StratifiedSample _),
    "p7_global_shuffle" -> (p7GlobalShuffle _),
    "p8_exact_sample" -> (p8ExactSample _),
    "p10_epoch_mix" -> (p10EpochMix _),
    "p9_weighted_sample" -> (p9WeightedSample _),
    "p4_pack_sequences" -> (p4PackSequences _),
    "p12_pack_audit" -> (p12PackAudit _),
    "p13_unimax" -> (p13Unimax _),
    "io1_jsonl_ingest" -> (io1JsonlIngest _),
    "io2_csv_ingest" -> (io2CsvIngest _),
    "p5_source_mix" -> (p5SourceMix _),
    "t7_top_ngrams" -> (t7TopNgrams _),
    "t8_redact" -> (t8Redact _))

  def oracles: Map[String, String] = Map(
    "e3_export_manifest" -> e3Sql,
    "e4_tokenized_pack" -> BpeOracle.e4Sql(numMerges = 64, seqLen = 256),
    "p2_shard_pack" -> p2Sql,
    "p3_hash_split" -> p3Sql,
    "p6_stratified_sample" -> p6Sql,
    "p7_global_shuffle" -> p7Sql,
    "p8_exact_sample" -> p8Sql,
    "p10_epoch_mix" -> p10Sql,
    "p9_weighted_sample" -> p9Sql,
    "p4_pack_sequences" -> p4Sql,
    "p12_pack_audit" -> p12Sql,
    "p13_unimax" -> p13Sql,
    "io1_jsonl_ingest" -> io1Sql,
    "io2_csv_ingest" -> io2Sql,
    "p5_source_mix" -> p5Sql,
    "t7_top_ngrams" -> t7Sql,
    "t8_redact" -> t8Sql)
}
