package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import graft.Tables._
import graft.pipeline.{Dedup, Multimodal, ScalarQuant, Sharding, Similarity, TextAnalysis}

/** Training-data pipeline operators (dedup / similarity / text /
  * multimodal) as driver-checked queries on the documents + embeddings
  * tables.
  *
  * Exact, brute-force, AND the md5-based MinHash/SimHash operators
  * carry DuckDB oracles (the latter via the engine-portable hash
  * family, [[PortableHashOracle]]); only the genuinely seed-dependent
  * ones (hyperplane-LSH ANN, IVF k-means, sketches) remain rows-only
  * — their recall/precision against the exact baselines is asserted
  * in PipelineSpec/AnnSpec instead.
  */
object Pipeline {

  // ---- dedup -------------------------------------------------------

  /** Exact dedup via hash-groupBy; per-source keep counts. */
  def d1ExactDedup(s: SparkSession, d: String): DataFrame =
    Dedup.exactDedup(documents(s, d), "doc_id", "text")
      .groupBy("source")
      .agg(count(lit(1)).as("n_kept"), sum("n_copies").as("n_docs"))
      .orderBy("source")

  val d1Sql: String =
    """WITH k AS (SELECT MIN(doc_id) AS doc_id, COUNT(*) AS n_copies
      |           FROM documents GROUP BY text)
      |SELECT d.source, COUNT(*) AS n_kept,
      |  CAST(SUM(k.n_copies) AS BIGINT) AS n_docs
      |FROM k JOIN documents d ON k.doc_id = d.doc_id
      |GROUP BY d.source
      |ORDER BY d.source""".stripMargin

  /** Shared oracle substrate: exact 3-word-shingle overlap counts via
    * an INVERTED-INDEX (posting-list) join — `co(id_a, id_b, common)`
    * for every doc pair sharing ≥1 distinct shingle, with `nsh` the
    * per-doc distinct-shingle count. Replaces the earlier quadratic
    * `s a JOIN s b ON a.doc_id < b.doc_id` + per-pair list_intersect
    * spelling, which at sf0.1's 5k docs is 12.5M list intersections
    * (DuckDB wall: >9 min, the reason the full battery could never be
    * oracle-swept at sf0.1); the posting join touches Σ df² ≈ 2.8M
    * grouped rows (sub-second) and computes the IDENTICAL exact math:
    * common = |shared distinct shingles|, |A∪B| = n_a + n_b − common
    * (shingle lists are distinct within a doc). This is the same
    * algorithmic shape the engine side uses (Dedup.ngramJaccardPairs'
    * exploded-posting join), now mirrored in the oracle so the ground
    * truth scales with the data it checks. */
  private def shingleCoCtes: String =
    """w AS (SELECT doc_id,
      |    list_filter(string_split(trim(text), ' '), t -> t != '') AS wd
      |  FROM documents),
      |sl AS (SELECT doc_id,
      |    list_distinct([wd[i] || ' ' || wd[i+1] || ' ' || wd[i+2]
      |                   for i in range(1, len(wd) - 1)]) AS sh
      |  FROM w WHERE len(wd) >= 3),
      |nsh AS (SELECT doc_id, len(sh) AS n_sh FROM sl),
      |post AS (SELECT doc_id, unnest(sh) AS g FROM sl),
      |co AS (SELECT a.doc_id AS id_a, b.doc_id AS id_b, COUNT(*) AS common
      |  FROM post a JOIN post b ON a.g = b.g AND a.doc_id < b.doc_id
      |  GROUP BY 1, 2)""".stripMargin

  /** Jaccard ≥ 0.5 pair selection over [[shingleCoCtes]] — the edge
    * set of the dedup-cluster family (cc1/cc2/cc4/e1/e6). */
  private def jaccardPairsCte: String =
    """pairs AS (SELECT id_a, id_b FROM co
      |  JOIN nsh na ON na.doc_id = id_a JOIN nsh nb ON nb.doc_id = id_b
      |  WHERE CAST(common AS DOUBLE)
      |        / (na.n_sh + nb.n_sh - common) >= 0.5)""".stripMargin

  /** Min-id connected-component labels over `pairs` via a recursive
    * reachability CTE. Fine at battery scale ONCE the pair generation
    * is posting-joined (components here are near-dup groups, ≤ tens
    * of members, so the closure is tiny — the old bottleneck was the
    * quadratic pair CTE feeding it, not the recursion). */
  private def closureLblCtes: String =
    """edges AS (SELECT id_a AS a, id_b AS b FROM pairs
      |          UNION SELECT id_b AS a, id_a AS b FROM pairs),
      |reach(a, b) AS (SELECT a, b FROM edges
      |  UNION SELECT r.a, e.b FROM reach r JOIN edges e ON r.b = e.a),
      |lbl AS (SELECT d.doc_id,
      |    LEAST(d.doc_id, COALESCE(MIN(r.b), d.doc_id)) AS cluster
      |  FROM documents d LEFT JOIN reach r ON r.a = d.doc_id
      |  GROUP BY d.doc_id)""".stripMargin

  /** Brute-force 3-word-shingle Jaccard pairs (ground truth for the
    * LSH variants; the oracle replays the same predicate through the
    * posting-join spelling). */
  /** prefixFilter off: this corpus's shingle frequencies are uniform
    * (max df 25), so the plain inverted index is already near-minimal
    * and the prefix ranking pass would be pure overhead; flip it on for
    * boilerplate-heavy corpora where Σ df² explodes (both paths are
    * verified equal in PipelineSpec). */
  def d4NgramJaccard(s: SparkSession, d: String): DataFrame =
    Dedup.ngramJaccardPairs(documents(s, d), "doc_id", "text",
        shingleWords = 3, threshold = 0.5, prefixFilter = false)
      .select(col("id_a"), col("id_b"), round(col("jaccard"), 6).as("jaccard"))
      .orderBy("id_a", "id_b")

  /** Containment near-dup pairs ([[Dedup.containmentPairs]]): the
    * asymmetric |A∩B|/min(|A|,|B|) measure that catches near-subset
    * duplication (quote/embed/prefix dups) Jaccard dilutes away.
    * Exact counts + one double division → fully oracled; threshold
    * 0.6 so partially-overlapping synthetic docs appear, not only
    * the verbatim copies. */
  def d12Containment(s: SparkSession, d: String): DataFrame =
    Dedup.containmentPairs(documents(s, d), "doc_id", "text",
        shingleWords = 3, threshold = 0.6)
      .select(col("id_a"), col("id_b"), col("n_common"),
        round(col("containment"), 6).as("containment"))
      .orderBy("id_a", "id_b")

  val d12Sql: String =
    s"""WITH $shingleCoCtes
      |SELECT id_a, id_b,
      |  CAST(common AS BIGINT) AS n_common,
      |  ROUND(CAST(common AS DOUBLE)
      |        / LEAST(na.n_sh, nb.n_sh), 6) AS containment
      |FROM co
      |JOIN nsh na ON na.doc_id = id_a JOIN nsh nb ON nb.doc_id = id_b
      |WHERE CAST(common AS DOUBLE) / LEAST(na.n_sh, nb.n_sh) >= 0.6
      |ORDER BY id_a, id_b""".stripMargin

  val d4Sql: String =
    s"""WITH $shingleCoCtes
      |SELECT id_a, id_b,
      |  ROUND(CAST(common AS DOUBLE)
      |        / (na.n_sh + nb.n_sh - common), 6) AS jaccard
      |FROM co
      |JOIN nsh na ON na.doc_id = id_a JOIN nsh nb ON nb.doc_id = id_b
      |WHERE CAST(common AS DOUBLE) / (na.n_sh + nb.n_sh - common) >= 0.5
      |ORDER BY id_a, id_b""".stripMargin

  /** MinHash + LSH banding near-dups — fully ORACLED: the portable
    * md5-64 + Mersenne-61 signature family replays bit-for-bit in
    * DuckDB ([[PortableHashOracle.d2Sql]]); recall vs the exact d4
    * pair set is additionally asserted in PipelineSpec. */
  def d2MinhashLsh(s: SparkSession, d: String): DataFrame =
    Dedup.minhashNearDups(documents(s, d), "doc_id", "text",
        shingleWords = 3, numHashes = 32, bands = 8, threshold = 0.5)
      .select(col("id_a"), col("id_b"), round(col("jaccard"), 6).as("jaccard"))
      .orderBy("id_a", "id_b")

  /** SimHash near-dups via combined-block candidate join — fully
    * ORACLED by a brute-force DuckDB replay (valid because the
    * combined-block candidate join is pigeonhole-complete; see
    * [[PortableHashOracle.d3Sql]]).
    *
    * maxHamming = 4, profiled at sf0.1 (5 k docs): verified pairs by
    * hamming are 36/60/49/43/23 at h=0..4 then a long tail (22/12/8/2
    * at h=5..8); widening 4→8 recovers that 17 % tail but multiplies
    * candidate volume into quadratic territory (80 k candidates for
    * 255 survivors, 8.2 s vs 1.3 s wall). SimHash is the
    * high-similarity fast path — callers wanting moderate-similarity
    * recall at τ≈0.5 should use MinHash (d2), whose banding bounds
    * candidates by design at any similarity target. */
  def d3Simhash(s: SparkSession, d: String): DataFrame =
    Dedup.simhashNearDups(documents(s, d), "doc_id", "text",
        maxHamming = 4, shingleWords = 3, threshold = 0.5)
      .select(col("id_a"), col("id_b"), col("hamming"),
        round(col("jaccard"), 6).as("jaccard"))
      .orderBy("id_a", "id_b")

  /** Embedding cosine near-dup pairs via hyperplane-LSH blocking +
    * exact verification — fully ORACLED: the hyperplanes are
    * seeded-deterministic, so the generated oracle embeds them as SQL
    * literals and replays buckets + verification exactly
    * ([[LshOracle.d5Sql]]); recall >= 0.95 vs the brute-force ground
    * truth is additionally asserted in PipelineSpec. The all-pairs
    * crossJoin variant exists only as that spec's oracle — no battery
    * plan is quadratic by construction. */
  def d5EmbedNearDup(s: SparkSession, d: String): DataFrame =
    Similarity.cosineNearDupsLsh(embeddings(s, d), "vec_id", "embedding",
        threshold = 0.4, dim = 64, numTables = 24, planesPerTable = 4)
      .select(col("id_a"), col("id_b"), round(col("sim"), 6).as("sim"))
      .orderBy("id_a", "id_b")

  /** Near-dup pairs → disjoint clusters + kept representative: the
    * exact d4 pair graph through large-star/small-star connected
    * components. Deterministic (exact pairs, min-id labels) → oracled
    * via a DuckDB recursive-CTE transitive closure.
    *
    * The cluster table is the [[graft.pipeline.ClusterStore]]
    * ARTIFACT: cc1 is the build step (first execution pays the pair
    * graph + CC and persists it content-signature-keyed), and
    * cc2/cc4 are downstream consumers that probe the parquet — the
    * production division of labor the r7 review asked for. */
  def cc1DedupClusters(s: SparkSession, d: String): DataFrame =
    graft.pipeline.ClusterStore.loadOrBuild(s, d, documents(s, d))
      .orderBy("doc_id")

  val cc1Sql: String =
    s"""WITH RECURSIVE
      |$shingleCoCtes,
      |$jaccardPairsCte,
      |$closureLblCtes
      |SELECT doc_id, cluster, cluster = doc_id AS is_rep
      |FROM lbl ORDER BY doc_id""".stripMargin

  /** The artifact a training-data pipeline actually ships: cc1's
    * clusters applied back to the corpus — one row per KEPT
    * representative with its cluster size and how many near-dups it
    * displaced. Deterministic (exact pair graph, min-id labels) →
    * oracled. */
  def cc2DedupApply(s: SparkSession, d: String): DataFrame = {
    val docs = documents(s, d)
    // PROBE the persisted cluster artifact (built once by whichever
    // cc-consumer ran first) — applying clusters must not re-pay the
    // pair-graph + CC substrate it claims to apply
    val clusters = graft.pipeline.ClusterStore.loadOrBuild(s, d, docs)
    val sizes = clusters.groupBy("cluster").agg(count(lit(1)).as("n_members"))
    docs.join(clusters.filter(col("is_rep")), Seq("doc_id"))
      .join(sizes, Seq("cluster"))
      .select(col("doc_id"), col("source"), col("n_members"),
        (col("n_members") - 1).as("n_dropped"))
      .orderBy("doc_id")
  }

  val cc2Sql: String =
    s"""WITH RECURSIVE
      |$shingleCoCtes,
      |$jaccardPairsCte,
      |$closureLblCtes,
      |sz AS (SELECT cluster, COUNT(*) AS n_members FROM lbl GROUP BY cluster)
      |SELECT l.doc_id, d.source,
      |  CAST(sz.n_members AS BIGINT) AS n_members,
      |  CAST(sz.n_members - 1 AS BIGINT) AS n_dropped
      |FROM lbl l JOIN documents d ON l.doc_id = d.doc_id
      |JOIN sz ON l.cluster = sz.cluster
      |WHERE l.doc_id = l.cluster
      |ORDER BY l.doc_id""".stripMargin

  /** cc2 with the representative a production pipeline actually keeps:
    * the highest-QUALITY member of each duplicate cluster (lowest id
    * breaking ties), not the min-id one — boilerplate-stripped copies
    * often score better than the original. Same deterministic pair
    * graph and min-id cluster LABELS as cc1/cc2; only the kept row
    * moves, via [[graft.pipeline.Components.dedupClustersBy]]'s
    * map-side-combinable argmax. Fully oracled: the quality formula is
    * the same one e3's oracle already replays in DuckDB. */
  def cc4DedupBest(s: SparkSession, d: String): DataFrame = {
    val docs = documents(s, d)
      .withColumn("quality", TextAnalysis.qualityScore(col("text")))
    // PROBE the persisted cluster artifact (labels are min-id and
    // identical to cc1's); only the representative choice — argmax
    // quality, lowest id breaking ties, the same map-side-combinable
    // max_by as Components.dedupClustersBy — runs here
    val labeled = graft.pipeline.ClusterStore.loadOrBuild(s, d, docs)
      .select(col("doc_id"), col("cluster"))
      .join(docs.select(col("doc_id"), col("quality")), Seq("doc_id"))
    val reps = labeled.groupBy("cluster")
      .agg(max_by(col("doc_id"),
          struct(col("quality"), (-col("doc_id")).as("_negid"))).as("_rep"),
        count(lit(1)).as("n_members"))
    labeled.join(reps, Seq("cluster"))
      .filter(col("doc_id") === col("_rep"))
      .select(col("cluster"), col("doc_id"), col("quality"), col("n_members"))
      .orderBy("cluster")
  }

  val cc4Sql: String =
    s"""WITH RECURSIVE
      |$shingleCoCtes,
      |$jaccardPairsCte,
      |$closureLblCtes,
      |q AS (SELECT doc_id,
      |    list_filter(string_split(trim(text), ' '), t -> t != '') AS tok,
      |    text FROM documents),
      |qs AS (SELECT doc_id,
      |  ROUND(0.4 * LEAST(len(tok) / 100.0, 1.0)
      |    + 0.3 * (1.0 - LEAST(len(regexp_extract_all(text,
      |        '[^A-Za-z0-9\\s]')) * 5.0
      |        / GREATEST(length(text), 1), 1.0))
      |    + 0.3 * LEAST(len(list_filter(tok,
      |        t -> t IN ('the','a','an','and','of','to','in','is','it')))
      |        * 5.0 / GREATEST(len(tok), 1), 1.0), 6) AS quality
      |  FROM q),
      |j AS (SELECT l.doc_id, l.cluster, qs.quality,
      |        ROW_NUMBER() OVER (PARTITION BY l.cluster
      |          ORDER BY qs.quality DESC, l.doc_id) AS rn,
      |        COUNT(*) OVER (PARTITION BY l.cluster) AS n_members
      |      FROM lbl l JOIN qs ON l.doc_id = qs.doc_id)
      |SELECT cluster, doc_id, quality,
      |  CAST(n_members AS BIGINT) AS n_members
      |FROM j WHERE rn = 1 ORDER BY cluster""".stripMargin

  /** The probabilistic path composed end-to-end: MinHash-LSH pair graph
    * → connected components → keep/drop — fully ORACLED: the portable
    * minhash pair graph plus a recursive-CTE transitive closure
    * ([[PortableHashOracle.cc3Sql]]); CC is additionally
    * differential-tested in ComponentsSpec. */
  def cc3MinhashClusters(s: SparkSession, d: String): DataFrame = {
    val docs = documents(s, d)
    val pairs = Dedup.minhashNearDups(docs, "doc_id", "text",
      shingleWords = 3, numHashes = 32, bands = 8, threshold = 0.5)
    graft.pipeline.Components
      .dedupClusters(docs, "doc_id", pairs, "id_a", "id_b")
      .orderBy("doc_id")
  }

  /** The complete training-data funnel composed end-to-end: exact
    * near-dup clustering (keep representatives) → repetition filter
    * (top word ≤ 20% of tokens — an integer predicate, so the funnel
    * boundary is float-free) → quality scoring → per-source corpus
    * accounting (docs seen / after dedup / after filtering, tokens
    * shipped, mean quality of the kept set). The artifact every
    * pipeline stage feeds; oracled across the whole composition. */
  def e1CorpusFunnel(s: SparkSession, d: String): DataFrame = {
    val docs = documents(s, d)
    // candidate path auto-chosen by corpus size (Dedup.usePrefixFilter):
    // the PPJoin prefix bound costs two extra full-gram-stream shuffles
    // (global df agg + df-ranked window), measured 3-8x slower than the
    // plain inverted index at sf0.1 (stage profile: 4.6-9.8s vs
    // 1.2-2.0s, identical 256 pairs) — it pays only where sum df^2 can
    // explode, i.e. large/boilerplate-heavy corpora. Output is
    // identical either way (PipelineSpec proves it)
    val pairs = Dedup.ngramJaccardPairsAuto(docs, "doc_id", "text",
      shingleWords = 3, threshold = 0.5)
    val clusters = graft.pipeline.Components
      .dedupClusters(docs, "doc_id", pairs, "id_a", "id_b")
    val rep = TextAnalysis.repetitionStats(docs, "doc_id", "text")
    val flagged = docs.join(clusters, Seq("doc_id")).join(rep, Seq("doc_id"))
      .withColumn("quality", TextAnalysis.qualityScore(col("text")))
      .withColumn("keep",
        col("is_rep") && col("top_word_count") * 5 <= col("n_tokens"))
    flagged.groupBy("source").agg(
      count(lit(1)).as("n_docs"),
      sum(when(col("is_rep"), 1L).otherwise(0L)).as("n_reps"),
      sum(when(col("keep"), 1L).otherwise(0L)).as("n_kept"),
      sum(when(col("keep"), col("n_tokens")).otherwise(0L)).as("tokens_kept"),
      round(avg(when(col("keep"), col("quality"))), 4).as("avg_quality_kept"))
      .orderBy("source")
  }

  val e1Sql: String =
    s"""WITH RECURSIVE
      |$shingleCoCtes,
      |$jaccardPairsCte,
      |$closureLblCtes,
      |t AS (SELECT doc_id, unnest(wd) AS word FROM w),
      |wc AS (SELECT doc_id, word, COUNT(*) AS c FROM t GROUP BY doc_id, word),
      |rep AS (SELECT doc_id, CAST(SUM(c) AS BIGINT) AS n_tokens,
      |          CAST(MAX(c) AS BIGINT) AS top_word_count
      |        FROM wc GROUP BY doc_id),
      |qf AS (SELECT doc_id,
      |    len(list_filter(string_split(trim(text), ' '), t -> t != '')) AS ntok,
      |    len(regexp_extract_all(text, '[^A-Za-z0-9\\s]')) AS npunct,
      |    len(list_filter(list_filter(string_split(trim(text), ' '), t -> t != ''),
      |        t -> t IN ('the','a','an','and','of','to','in','is','it'))) AS nstop,
      |    length(text) AS nchar
      |  FROM documents),
      |q AS (SELECT doc_id,
      |    ROUND(0.4 * LEAST(ntok / 100.0, 1.0)
      |      + 0.3 * (1.0 - LEAST(npunct * 5.0 / GREATEST(nchar, 1), 1.0))
      |      + 0.3 * LEAST(nstop * 5.0 / GREATEST(ntok, 1), 1.0), 6) AS quality
      |  FROM qf),
      |f AS (SELECT d.doc_id, d.source,
      |        l.cluster = d.doc_id AS is_rep,
      |        rep.n_tokens, rep.top_word_count, q.quality,
      |        (l.cluster = d.doc_id AND rep.top_word_count * 5 <= rep.n_tokens) AS keep
      |      FROM documents d
      |      JOIN lbl l ON d.doc_id = l.doc_id
      |      JOIN rep ON d.doc_id = rep.doc_id
      |      JOIN q ON d.doc_id = q.doc_id)
      |SELECT source, CAST(COUNT(*) AS BIGINT) AS n_docs,
      |  CAST(SUM(CASE WHEN is_rep THEN 1 ELSE 0 END) AS BIGINT) AS n_reps,
      |  CAST(SUM(CASE WHEN keep THEN 1 ELSE 0 END) AS BIGINT) AS n_kept,
      |  CAST(SUM(CASE WHEN keep THEN n_tokens ELSE 0 END) AS BIGINT) AS tokens_kept,
      |  ROUND(AVG(CASE WHEN keep THEN quality END), 4) AS avg_quality_kept
      |FROM f GROUP BY source
      |ORDER BY source""".stripMargin

  /** Leakage-safe train/val/test split: the md5-nibble split (p3's
    * deterministic assignment) applied to the near-dup CLUSTER label
    * instead of the document id, so every member of a duplicate
    * cluster lands in the same split — the assignment that keeps
    * near-duplicates of a test document out of train. Deterministic
    * (exact pair graph, min-id labels, seedless hash) → fully oracled
    * via the recursive-CTE closure + the same nibble mapping. */
  def e6ClusterSplit(s: SparkSession, d: String): DataFrame = {
    val docs = documents(s, d)
    val pairs = Dedup.ngramJaccardPairsAuto(docs, "doc_id", "text",
      shingleWords = 3, threshold = 0.5)
    graft.pipeline.Components
      .dedupClusters(docs, "doc_id", pairs, "id_a", "id_b")
      .withColumn("split", graft.pipeline.Sharding.hashSplit(col("cluster")))
      .select(col("doc_id"), col("cluster"), col("split"))
      .orderBy("doc_id")
  }

  val e6Sql: String =
    s"""WITH RECURSIVE
      |$shingleCoCtes,
      |$jaccardPairsCte,
      |$closureLblCtes
      |SELECT doc_id, cluster,
      |  CASE WHEN substr(md5(CAST(cluster AS VARCHAR)), 1, 1)
      |         IN ('c', 'd') THEN 'val'
      |       WHEN substr(md5(CAST(cluster AS VARCHAR)), 1, 1)
      |         IN ('e', 'f') THEN 'test'
      |       ELSE 'train' END AS split
      |FROM lbl ORDER BY doc_id""".stripMargin

  /** Benchmark decontamination: every (corpus doc, eval doc) pair
    * sharing an 8-word-gram, with the shared-gram count — the hygiene
    * pass that drops eval leakage before training. The eval set is the
    * doc_id % 25 == 0 slice; its distinct gram set is broadcast so the
    * corpus side never shuffles to find matches. Exact → oracled. */
  def e2Decontaminate(s: SparkSession, d: String): DataFrame = {
    val docs = documents(s, d)
    val evalSet = docs.filter(col("doc_id") % 25 === 0)
    val corpus = docs.filter(col("doc_id") % 25 =!= 0)
    graft.pipeline.Decontamination
      .contaminationPairs(corpus, evalSet, "doc_id", "text", n = 8)
      .orderBy("doc_id", "eval_doc_id")
  }

  /** Bloom-prefiltered decontamination — same contamination report as
    * e2, but through the non-broadcast shape: a ~1 MB Bloom sketch of
    * eval-gram hashes cuts the corpus gram stream map-side BEFORE the
    * shuffle join (the plan for an eval suite too big to broadcast).
    * The exact join removes bloom false positives, so the oracle is
    * e2's verbatim; ≡-to-exact is additionally pinned by spec. */
  def e7BloomDecontaminate(s: SparkSession, d: String): DataFrame = {
    val docs = documents(s, d)
    val evalSet = docs.filter(col("doc_id") % 25 === 0)
    val corpus = docs.filter(col("doc_id") % 25 =!= 0)
    graft.pipeline.Decontamination
      .contaminationPairsBloom(corpus, evalSet, "doc_id", "text", n = 8)
      .orderBy("doc_id", "eval_doc_id")
  }

  /** Fuzzy decontamination: an "external benchmark" (every 25th doc,
    * id-offset, text VERBATIM — the classic leakage) probed against
    * the corpus's persisted band postings — the SAME
    * content-signature-keyed index d9 probes, demonstrating one index
    * serving both incremental ingest and decontamination. Each eval
    * doc hits its verbatim twin at jaccard 1 plus the twin's planted
    * near-dups. Fully ORACLED via the portable-hash replay
    * ([[PortableHashOracle.e5Sql]]); the probe ≡ full-recompute
    * equality is pinned by d9's spec, the origin filter by
    * PipelineSpec's fuzzyContamination test. */
  def e5FuzzyDecontaminate(s: SparkSession, d: String): DataFrame = {
    val docs = documents(s, d)
    val evalSet = docs.filter(col("doc_id") % 25 === 0)
      .select((col("doc_id") + 5000000L).as("doc_id"), col("text"))
    val index = Dedup.loadOrBuildIndex(docs, "doc_id", "text",
      dir = Dedup.indexScratchDir(d))
    graft.pipeline.Decontamination
      .fuzzyContamination(index, evalSet, "doc_id", "text", threshold = 0.5)
      .select(col("doc_id"), col("eval_doc_id"),
        round(col("jaccard"), 4).as("jacc"))
      .orderBy("doc_id", "eval_doc_id")
  }

  /** Contamination DATASHEET — the report a release review reads
    * before publishing eval numbers: one row per eval-suite document
    * with how many corpus docs share a verbatim 8-gram (e2's exact
    * definition), how many sit at fuzzy Jaccard ≥ 0.5 through a
    * corpus-only persisted band index, and the combined flag.
    * Zero-hit eval docs KEEP their row (a datasheet that silently
    * drops the clean majority misreads as 100% contamination), and
    * both columns share ONE corpus universe — excluding the eval
    * docs' own rows — so a clean suite reports clean. Fully oracled:
    * the exact side replays relationally, the fuzzy side through
    * [[PortableHashOracle]]'s signature replay. */
  def e9ContaminationReport(s: SparkSession, d: String): DataFrame = {
    val docs = documents(s, d)
    val evalSet = docs.filter(col("doc_id") % 25 === 0)
    val corpus = docs.filter(col("doc_id") % 25 =!= 0)
    val verb = graft.pipeline.Decontamination
      .contaminationPairs(corpus, evalSet, "doc_id", "text", n = 8)
      .groupBy("eval_doc_id")
      .agg(countDistinct(col("doc_id")).as("_nv"))
    val evalOff = evalSet.select((col("doc_id") + 5000000L).as("doc_id"),
      col("text"))
    // BOTH columns of the datasheet must use the same corpus universe:
    // probing the full-corpus index (e5's mode) would match every eval
    // doc's own verbatim origin at Jaccard 1.0 and flag 100% of the
    // suite — so the fuzzy side gets its own corpus-only persisted
    // index (still content-signature-keyed; "e9c" names the subset)
    val index = Dedup.loadOrBuildIndex(corpus, "doc_id", "text",
      dir = Dedup.indexScratchDir(d, "e9c"))
    val fuzzy = graft.pipeline.Decontamination
      .fuzzyContamination(index, evalOff, "doc_id", "text", threshold = 0.5)
      .select((col("eval_doc_id") - 5000000L).as("eval_doc_id"), col("doc_id"))
      .groupBy("eval_doc_id")
      .agg(countDistinct(col("doc_id")).as("_nf"))
    evalSet.select(col("doc_id").as("eval_doc_id"))
      .join(verb, Seq("eval_doc_id"), "left")
      .join(fuzzy, Seq("eval_doc_id"), "left")
      .select(col("eval_doc_id"),
        coalesce(col("_nv"), lit(0L)).as("n_verbatim_docs"),
        coalesce(col("_nf"), lit(0L)).as("n_fuzzy_docs"))
      .withColumn("flagged",
        when(col("n_verbatim_docs") > 0 || col("n_fuzzy_docs") > 0, 1L)
          .otherwise(0L))
      .orderBy("eval_doc_id")
  }

  /** Per-SUITE contamination rollup — the one-line-per-benchmark
    * summary a release note publishes, aggregated from e9's per-doc
    * datasheet with the doc's `source` standing in for the suite name:
    * suite size, flagged counts (any / verbatim / fuzzy), and the
    * contamination rate. Same oracle substrate as e9 (exact relational
    * + portable-hash replay), one more exact aggregate on top. */
  def e10SuiteRollup(s: SparkSession, d: String): DataFrame = {
    val per = e9ContaminationReport(s, d)
    val src = documents(s, d)
      .select(col("doc_id").as("eval_doc_id"), col("source"))
    per.join(src, Seq("eval_doc_id"))
      .groupBy("source")
      .agg(count(lit(1)).as("n_eval_docs"),
        sum(col("flagged")).as("n_flagged"),
        sum(when(col("n_verbatim_docs") > 0, 1L).otherwise(0L)).as("n_verbatim"),
        sum(when(col("n_fuzzy_docs") > 0, 1L).otherwise(0L)).as("n_fuzzy"),
        round(sum(col("flagged")).cast("double") / count(lit(1)), 4)
          .as("contamination_rate"))
      .orderBy("source")
  }

  val e2Sql: String =
    """WITH w AS (SELECT doc_id,
      |    list_filter(string_split(trim(text), ' '), t -> t != '') AS wd
      |  FROM documents),
      |s AS (SELECT doc_id,
      |    [array_to_string(wd[i:i+7], ' ') for i in range(1, len(wd) - 6)] AS sh
      |  FROM w WHERE len(wd) >= 8),
      |eg AS (SELECT DISTINCT doc_id AS eval_doc_id, unnest(sh) AS gram
      |       FROM s WHERE doc_id % 25 = 0),
      |cg AS (SELECT doc_id, unnest(sh) AS gram FROM s WHERE doc_id % 25 != 0)
      |SELECT cg.doc_id, eg.eval_doc_id,
      |  COUNT(DISTINCT cg.gram) AS n_shared_grams
      |FROM cg JOIN eg USING (gram)
      |GROUP BY cg.doc_id, eg.eval_doc_id
      |ORDER BY cg.doc_id, eg.eval_doc_id""".stripMargin

  // ---- similarity search -------------------------------------------

  /** Brute-force cosine top-5 for the first 10 vectors; ranking on the
    * 4-dp-rounded similarity (with id tiebreak) so both engines rank
    * identically despite last-ulp summation differences. */
  def s1CosineTopK(s: SparkSession, d: String): DataFrame = {
    val emb = embeddings(s, d)
    // limit(10) is a no-op on the <10 id filter but stamps the static
    // row bound (maxRows) the corpus-quadratic plan gate proves
    // boundedness with (the IvfAnn centroid idiom)
    val q = emb.filter(col("vec_id") < 10).limit(10)
      .select(col("vec_id").as("q_vec_id"), col("embedding").as("q_embedding"))
    val w = Window.partitionBy("q_vec_id").orderBy(desc("sim_r"), col("vec_id"))
    Similarity.pairSims(emb, q, "vec_id", "q_vec_id", "embedding", "q_embedding")
      .withColumn("sim_r", Num.rnd0(col("sim"), 4))
      .withColumn("rank", row_number().over(w).cast("long"))
      .filter(col("rank") <= 5)
      .select(col("q_vec_id"), col("vec_id"), col("sim_r"), col("rank"))
      .orderBy("q_vec_id", "rank")
  }

  val s1Sql: String =
    """WITH e AS (SELECT vec_id, embedding,
      |    sqrt(list_sum(list_transform(embedding,
      |      x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)))) AS nrm
      |  FROM embeddings),
      |q AS (SELECT vec_id AS q_vec_id, embedding AS qe, nrm AS qn
      |      FROM e WHERE vec_id < 10),
      |sims AS (
      |  SELECT q.q_vec_id, e.vec_id,
      |    ROUND(list_sum(list_transform(range(1, len(qe) + 1),
      |        k -> CAST(qe[k] AS DOUBLE) * CAST(e.embedding[k] AS DOUBLE)))
      |      / (qn * e.nrm), 4) + 0.0 AS sim_r
      |  FROM q CROSS JOIN e WHERE e.vec_id != q.q_vec_id)
      |SELECT q_vec_id, vec_id, sim_r, rank FROM (
      |  SELECT *, ROW_NUMBER() OVER (PARTITION BY q_vec_id
      |    ORDER BY sim_r DESC, vec_id) AS rank
      |  FROM sims)
      |WHERE rank <= 5
      |ORDER BY q_vec_id, rank""".stripMargin

  /** Hyperplane-LSH bucketed ANN top-5 with 1-bit multiprobe — fully
    * ORACLED via embedded-literal hyperplane replay
    * ([[LshOracle.s2Sql]]); recall vs s1 additionally asserted in
    * PipelineSpec. */
  def s2AnnLsh(s: SparkSession, d: String): DataFrame = {
    val emb = embeddings(s, d)
    // limit(10) is a no-op on the <10 id filter but stamps the static
    // row bound (maxRows) the corpus-quadratic plan gate proves
    // boundedness with (the IvfAnn centroid idiom)
    val q = emb.filter(col("vec_id") < 10).limit(10)
      .select(col("vec_id").as("q_vec_id"), col("embedding").as("q_embedding"))
    Similarity.annTopK(emb, q, k = 5, dim = 64)
      .select(col("q_vec_id"), col("vec_id"), Num.rnd0(col("sim"), 4).as("sim_r"), col("rank"))
      .orderBy("q_vec_id", "rank")
  }

  /** Exact rounded-cosine top-k per query — s1's portable ranking
    * spelling (4-dp round, id tiebreak), factored out as the
    * ground-truth side of the ANN decision contracts. */
  private def exactCosineTopK(emb: DataFrame, q: DataFrame, k: Int): DataFrame = {
    val w = Window.partitionBy("q_vec_id").orderBy(desc("sim_r"), col("vec_id"))
    Similarity.pairSims(emb, q, "vec_id", "q_vec_id", "embedding", "q_embedding")
      .withColumn("sim_r", Num.rnd0(col("sim"), 4))
      .withColumn("rank", row_number().over(w).cast("long"))
      .filter(col("rank") <= k)
      .select("q_vec_id", "vec_id", "rank")
  }

  /** Decision-contract projection shared by the seeded ANN queries
    * (s3/s4/s5) — the d6/t11 promotion idiom applied to the vector
    * family. The seeded k-means trainer makes raw ANN ranks
    * engine-local (DuckDB cannot re-run MLlib training), so the
    * battery row carries only oracle-decidable facts:
    *  - `exact_topk`: the EXACT rounded-cosine top-k ids per query in
    *    rank order — recomputed verbatim by the oracle, so the
    *    ground-truth half of the recall measurement is itself
    *    hash-verified (the d6 move: the oracle checks the premise,
    *    not just the verdict);
    *  - `n_returned` / `ranks_ok` / `self_excluded`: structural
    *    contracts on the ANN result (full k rows, rank sequence
    *    exactly 1..k, the query never its own neighbor);
    *  - `pooled_recall_ok`: recall@k POOLED over all queries against
    *    the exact top-k meets `recallBound` — pooled, not per-query,
    *    because seeded-trainer jitter moves individual queries' hit
    *    counts while the pool stays clear of the bound.
    *
    * The bound is the BLIND-PROBE BASELINE, nprobe/nlist (+0.1 for
    * uncompressed IVF): an index that merely sampled random cells
    * would land recall ≈ nprobe/nlist on this isotropic synthetic
    * data, so the contract pins "the quantizer routes probes better
    * than chance". A fixed absolute bound (0.8) cannot work here —
    * measured pooled recall is 0.82/0.82/0.60 for s3 across
    * sf0.001/0.01/0.1 (64-d near-uniform embeddings: the bigger the
    * corpus, the more the true top-5 spreads across cells — the
    * curse of dimensionality, not an engine defect), while the
    * baseline-relative margin stays ≥ +0.10 at every SF. The
    * absolute ≥0.8 / ≥0.75 recalls remain pinned at sf0.01 in
    * PipelineSpec, where the SF is fixed. */
  private def annContract(ann: DataFrame, exact: DataFrame, k: Int,
      recallBound: Double): DataFrame = {
    val exactIds = exact.groupBy("q_vec_id").agg(
      concat_ws(",", transform(
        array_sort(collect_list(struct(col("rank"), col("vec_id")))),
        x => x.getField("vec_id").cast("string"))).as("exact_topk"))
    val perQ = ann.groupBy("q_vec_id").agg(
      count(lit(1)).as("n_returned"),
      when(min(col("rank")) === 1L && max(col("rank")) === k.toLong &&
        countDistinct(col("rank")) === k.toLong, 1L).otherwise(0L).as("ranks_ok"),
      when(max(when(col("vec_id") === col("q_vec_id"), 1L).otherwise(0L)) === 0L,
        1L).otherwise(0L).as("self_excluded"))
    val hits = ann.join(exact.select("q_vec_id", "vec_id"),
        Seq("q_vec_id", "vec_id"), "left_semi")
      .groupBy("q_vec_id").agg(count(lit(1)).as("_hits"))
    val pooled = perQ.join(hits, Seq("q_vec_id"), "left")
      .agg((sum(coalesce(col("_hits"), lit(0L))).cast("double") /
        (count(lit(1)) * k)).as("_pooled_recall"))
    perQ.join(exactIds, Seq("q_vec_id"))
      .crossJoin(broadcast(pooled))
      .select(col("q_vec_id"), col("exact_topk"),
        col("n_returned"), col("ranks_ok"), col("self_excluded"),
        when(col("_pooled_recall") >= recallBound, 1L).otherwise(0L)
          .as("pooled_recall_ok"))
      .orderBy("q_vec_id")
  }

  /** The exact-top-k half of the s3/s4 oracle: identical sims/ranking
    * CTEs to s1Sql, aggregated to one comma-joined id list per query. */
  private def exactTopkSqlCtes: String =
    """WITH e AS (SELECT vec_id, embedding,
      |    sqrt(list_sum(list_transform(embedding,
      |      x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)))) AS nrm
      |  FROM embeddings),
      |q AS (SELECT vec_id AS q_vec_id, embedding AS qe, nrm AS qn
      |      FROM e WHERE vec_id < 10),
      |sims AS (
      |  SELECT q.q_vec_id, e.vec_id,
      |    ROUND(list_sum(list_transform(range(1, len(qe) + 1),
      |        k -> CAST(qe[k] AS DOUBLE) * CAST(e.embedding[k] AS DOUBLE)))
      |      / (qn * e.nrm), 4) + 0.0 AS sim_r
      |  FROM q CROSS JOIN e WHERE e.vec_id != q.q_vec_id),
      |top AS (SELECT q_vec_id, vec_id, ROW_NUMBER() OVER (
      |    PARTITION BY q_vec_id ORDER BY sim_r DESC, vec_id) AS rank
      |  FROM sims)""".stripMargin

  private def annContractSql: String =
    """SELECT q_vec_id,
      |  string_agg(CAST(vec_id AS VARCHAR), ',' ORDER BY rank) AS exact_topk,
      |  CAST(5 AS BIGINT) AS n_returned,
      |  CAST(1 AS BIGINT) AS ranks_ok,
      |  CAST(1 AS BIGINT) AS self_excluded,
      |  CAST(1 AS BIGINT) AS pooled_recall_ok
      |FROM top WHERE rank <= 5
      |GROUP BY q_vec_id ORDER BY q_vec_id""".stripMargin

  /** IVF (k-means cell) ANN top-5, HASH-ORACLED as a decision
    * contract ([[annContract]]): the oracle recomputes the exact
    * top-5 (the recall ground truth) and pins the structural booleans
    * plus pooled recall@5 above the blind-probe baseline; raw seeded
    * ranks stay spec-pinned in PipelineSpec. The index is built ONCE per dataset and persisted
    * cell-partitioned (`IvfAnn.loadOrBuild`), so repeat executions —
    * e.g. every warm bench run, and every query in a served
    * deployment — pay only the probe cost, reading just the probed
    * cells' files. Training is seeded-deterministic, so
    * build-then-load ≡ rebuild. */
  def s3AnnIvf(s: SparkSession, d: String): DataFrame = {
    val emb = embeddings(s, d)
    // limit(10) is a no-op on the <10 id filter but stamps the static
    // row bound (maxRows) the corpus-quadratic plan gate proves
    // boundedness with (the IvfAnn centroid idiom)
    val q = emb.filter(col("vec_id") < 10).limit(10)
      .select(col("vec_id").as("q_vec_id"), col("embedding").as("q_embedding"))
    val ixDir = graft.pipeline.IvfAnn.scratchDir(d, nlist = 16)
    val index = graft.pipeline.IvfAnn.loadOrBuild(emb, "vec_id", "embedding",
      nlist = 16, dir = ixDir)
    val ann = graft.pipeline.IvfAnn.topK(index, q, k = 5, nprobe = 6)
    // bound: blind-probe baseline 6/16 + 0.1 (see annContract)
    annContract(ann, exactCosineTopK(emb, q, 5), k = 5,
      recallBound = 6.0 / 16 + 0.1)
  }

  val s3Sql: String = s"$exactTopkSqlCtes\n$annContractSql"

  /** IVF-PQ compressed ANN top-5, HASH-ORACLED as a decision contract
    * ([[annContract]], pooled recall@5 above the blind-probe
    * baseline); raw seeded ranks + reconstruction
    * quality stay spec-pinned in PipelineSpec. The corpus is
    * stored as 8 one-byte PQ codes per vector — 64× smaller than the
    * raw float64 embeddings, the representation that keeps a 100 TB
    * embedding corpus probe-able from memory — scanned with a
    * per-query ADC lookup table and re-ranked exactly on the
    * shortlist. Index persisted cell-partitioned and
    * content-signature-keyed like s3's. */
  def s4AnnIvfPq(s: SparkSession, d: String): DataFrame = {
    val emb = embeddings(s, d)
    // limit(10) is a no-op on the <10 id filter but stamps the static
    // row bound (maxRows) the corpus-quadratic plan gate proves
    // boundedness with (the IvfAnn centroid idiom)
    val q = emb.filter(col("vec_id") < 10).limit(10)
      .select(col("vec_id").as("q_vec_id"), col("embedding").as("q_embedding"))
    val dir = graft.pipeline.PqAnn.scratchDir(d, nlist = 16, m = 8, ksub = 64)
    val index = graft.pipeline.PqAnn.loadOrBuild(emb, "vec_id", "embedding",
      dim = 64, nlist = 16, m = 8, ksub = 64, dir = dir)
    val ann = graft.pipeline.PqAnn.topK(index, emb, q,
      k = 5, nprobe = 6, rerankFactor = 8)
    // bound: blind-probe baseline 6/16 — PQ's ADC shortlist loses a
    // little recall vs plain IVF, so no +0.1 (see annContract)
    annContract(ann, exactCosineTopK(emb, q, 5), k = 5,
      recallBound = 6.0 / 16)
  }

  val s4Sql: String = s"$exactTopkSqlCtes\n$annContractSql"

  /** Incremental PQ index growth, HASH-ORACLED as a decision contract:
    * a batch of new embeddings (verbatim twins of every 10th corpus
    * vector, ids offset by 1e6) is encoded against the FROZEN
    * persisted codebooks — O(batch), no retraining, no corpus rescan,
    * the faiss-`add` shape and the vector-family counterpart of
    * d8/d9/d10 — appended to the code table, and probed. The contract
    * is [[annContract]] against the exact top-5 over the GROWN corpus
    * (which the oracle reconstructs with a UNION ALL), plus the
    * incremental-visibility boolean the query exists to demonstrate:
    * `twin_found` — a query whose identical twin was added through
    * the frozen-codebook path MUST surface it (cosine exactly 1.0 →
    * same probe cell, minimal ADC distance, exact re-rank top), and a
    * query without a twin must not invent one. Shares s4's persisted
    * index. */
  def s5IncrementalPq(s: SparkSession, d: String): DataFrame = {
    val emb = embeddings(s, d)
    val dir = graft.pipeline.PqAnn.scratchDir(d, nlist = 16, m = 8, ksub = 64)
    val index = graft.pipeline.PqAnn.loadOrBuild(emb, "vec_id", "embedding",
      dim = 64, nlist = 16, m = 8, ksub = 64, dir = dir)
    val batch = emb.filter(col("vec_id") % 10 === 0)
      .select((col("vec_id") + 1000000L).as("vec_id"), col("embedding"))
    val grown = graft.pipeline.PqAnn.Index(index.model,
      index.codes.unionByName(
        graft.pipeline.PqAnn.encodeNew(index.model, batch, "vec_id", "embedding")))
    // limit(10) is a no-op on the <10 id filter but stamps the static
    // row bound (maxRows) the corpus-quadratic plan gate proves
    // boundedness with (the IvfAnn centroid idiom)
    val q = emb.filter(col("vec_id") < 10).limit(10)
      .select(col("vec_id").as("q_vec_id"), col("embedding").as("q_embedding"))
    val grownCorpus = emb.select("vec_id", "embedding").unionByName(batch)
    val ann = graft.pipeline.PqAnn.topK(grown, grownCorpus, q,
      k = 5, nprobe = 6, rerankFactor = 8)
    val twin = ann.groupBy("q_vec_id").agg(
      max(when(col("vec_id") === col("q_vec_id") + 1000000L, 1L).otherwise(0L))
        .as("twin_found"))
    annContract(ann, exactCosineTopK(grownCorpus, q, 5), k = 5,
        recallBound = 6.0 / 16)
      .join(twin, Seq("q_vec_id"))
      .orderBy("q_vec_id")
  }

  val s5Sql: String =
    """WITH grown AS (SELECT vec_id, embedding FROM embeddings
      |  UNION ALL SELECT vec_id + 1000000, embedding
      |  FROM embeddings WHERE vec_id % 10 = 0),
      |e AS (SELECT vec_id, embedding,
      |    sqrt(list_sum(list_transform(embedding,
      |      x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)))) AS nrm
      |  FROM grown),
      |q AS (SELECT vec_id AS q_vec_id, embedding AS qe, nrm AS qn
      |      FROM e WHERE vec_id < 10),
      |sims AS (
      |  SELECT q.q_vec_id, e.vec_id,
      |    ROUND(list_sum(list_transform(range(1, len(qe) + 1),
      |        k -> CAST(qe[k] AS DOUBLE) * CAST(e.embedding[k] AS DOUBLE)))
      |      / (qn * e.nrm), 4) + 0.0 AS sim_r
      |  FROM q CROSS JOIN e WHERE e.vec_id != q.q_vec_id),
      |top AS (SELECT q_vec_id, vec_id, ROW_NUMBER() OVER (
      |    PARTITION BY q_vec_id ORDER BY sim_r DESC, vec_id) AS rank
      |  FROM sims)
      |SELECT q_vec_id,
      |  string_agg(CAST(vec_id AS VARCHAR), ',' ORDER BY rank) AS exact_topk,
      |  CAST(5 AS BIGINT) AS n_returned,
      |  CAST(1 AS BIGINT) AS ranks_ok,
      |  CAST(1 AS BIGINT) AS self_excluded,
      |  CAST(1 AS BIGINT) AS pooled_recall_ok,
      |  CAST(CASE WHEN q_vec_id % 10 = 0 THEN 1 ELSE 0 END AS BIGINT)
      |    AS twin_found
      |FROM top WHERE rank <= 5
      |GROUP BY q_vec_id ORDER BY q_vec_id""".stripMargin

  // ---- text analysis -----------------------------------------------

  /** Per-language corpus statistics: token counts (whitespace and
    * BPE-ish), punctuation, quality score. */
  def t1TextStats(s: SparkSession, d: String): DataFrame =
    documents(s, d)
      .select(col("lang"),
        TextAnalysis.tokenCount(col("text")).as("ntok"),
        TextAnalysis.bpeishTokenCount(col("text")).as("nbpe"),
        TextAnalysis.punctCount(col("text")).as("npunct"),
        TextAnalysis.qualityScore(col("text")).as("quality"))
      .groupBy("lang")
      .agg(count(lit(1)).as("n_docs"),
        sum("ntok").as("sum_tok"), sum("nbpe").as("sum_bpe"),
        sum("npunct").as("sum_punct"),
        round(avg("quality"), 4).as("avg_quality"))
      .orderBy("lang")

  val t1Sql: String =
    """WITH f AS (SELECT lang,
      |    len(list_filter(string_split(trim(text), ' '), t -> t != '')) AS ntok,
      |    len(regexp_extract_all(text, '[A-Za-z]+|[0-9]|[^A-Za-z0-9\s]')) AS nbpe,
      |    len(regexp_extract_all(text, '[^A-Za-z0-9\s]')) AS npunct,
      |    len(list_filter(list_filter(string_split(trim(text), ' '), t -> t != ''),
      |        t -> t IN ('the','a','an','and','of','to','in','is','it'))) AS nstop,
      |    length(text) AS nchar
      |  FROM documents),
      |g AS (SELECT lang, ntok, nbpe, npunct,
      |    ROUND(0.4 * LEAST(ntok / 100.0, 1.0)
      |      + 0.3 * (1.0 - LEAST(npunct * 5.0 / GREATEST(nchar, 1), 1.0))
      |      + 0.3 * LEAST(nstop * 5.0 / GREATEST(ntok, 1), 1.0), 6) AS quality
      |  FROM f)
      |SELECT lang, COUNT(*) AS n_docs,
      |  CAST(SUM(ntok) AS BIGINT) AS sum_tok,
      |  CAST(SUM(nbpe) AS BIGINT) AS sum_bpe,
      |  CAST(SUM(npunct) AS BIGINT) AS sum_punct,
      |  ROUND(AVG(quality), 4) AS avg_quality
      |FROM g GROUP BY lang ORDER BY lang""".stripMargin

  /** Heuristic language ID vs the labelled lang column: confusion
    * counts. Deterministic stopword-count argmax → oracle-able. */
  def t3LangId(s: SparkSession, d: String): DataFrame =
    documents(s, d)
      .select(col("lang"), TextAnalysis.langId(col("text")).as("pred_lang"))
      .groupBy("lang", "pred_lang")
      .agg(count(lit(1)).as("n"))
      .orderBy("lang", "pred_lang")

  val t3Sql: String =
    """WITH t AS (SELECT lang,
      |    list_filter(string_split(trim(text), ' '), x -> x != '') AS tok
      |  FROM documents),
      |sc AS (SELECT lang,
      |    len(list_filter(tok, x -> x IN ('the','a','an','and','of','to','in','is','it'))) AS s_en,
      |    len(list_filter(tok, x -> x IN ('el','la','los','las','de','y','en','es','un'))) AS s_es,
      |    len(list_filter(tok, x -> x IN ('der','die','das','und','von','zu','ist','ein'))) AS s_de
      |  FROM t)
      |SELECT lang,
      |  CASE WHEN s_en = 0 AND s_es = 0 AND s_de = 0 THEN 'und'
      |       WHEN s_en >= s_es AND s_en >= s_de THEN 'en'
      |       WHEN s_es >= s_de THEN 'es'
      |       ELSE 'de' END AS pred_lang,
      |  COUNT(*) AS n
      |FROM sc GROUP BY 1, 2 ORDER BY lang, pred_lang""".stripMargin

  /** Rolling-hash document fingerprints (dedup/provenance keys). */
  def t4Fingerprint(s: SparkSession, d: String): DataFrame =
    documents(s, d)
      .select(col("doc_id"), TextAnalysis.fingerprint(col("text")).as("fp"))
      .orderBy("doc_id")

  val t4Sql: String =
    """SELECT doc_id, list_reduce(list_prepend(CAST(0 AS BIGINT),
      |    [CAST(ascii(x) AS BIGINT)
      |     for x in list_filter(string_split(lower(text), ''), c -> c != '')]),
      |    (a, b) -> (a * 31 + b) % 1000000007) AS fp
      |FROM documents
      |ORDER BY doc_id""".stripMargin

  /** Gopher-style repetition signals (top-word / top-2-gram
    * concentration, distinct ratios) as exact integer counts. */
  def t2Repetition(s: SparkSession, d: String): DataFrame =
    TextAnalysis.repetitionStats(documents(s, d), "doc_id", "text")
      .orderBy("doc_id")

  val t2Sql: String =
    """WITH w AS (SELECT doc_id,
      |    list_filter(string_split(trim(text), ' '), t -> t != '') AS wd
      |  FROM documents),
      |t AS (SELECT doc_id, unnest(wd) AS word FROM w),
      |wc AS (SELECT doc_id, word, COUNT(*) AS c FROM t GROUP BY doc_id, word),
      |wa AS (SELECT doc_id, CAST(SUM(c) AS BIGINT) AS n_tokens,
      |         CAST(COUNT(*) AS BIGINT) AS n_distinct_words,
      |         CAST(MAX(c) AS BIGINT) AS top_word_count
      |       FROM wc GROUP BY doc_id),
      |b AS (SELECT doc_id,
      |        unnest([wd[i] || ' ' || wd[i+1] for i in range(1, len(wd))]) AS bg
      |      FROM w WHERE len(wd) >= 2),
      |bc AS (SELECT doc_id, bg, COUNT(*) AS c FROM b GROUP BY doc_id, bg),
      |ba AS (SELECT doc_id, CAST(SUM(c) AS BIGINT) AS n_2grams,
      |         CAST(COUNT(*) AS BIGINT) AS n_distinct_2grams,
      |         CAST(MAX(c) AS BIGINT) AS top_2gram_count
      |       FROM bc GROUP BY doc_id)
      |SELECT wa.doc_id, wa.n_tokens, wa.n_distinct_words, wa.top_word_count,
      |  COALESCE(ba.n_2grams, 0) AS n_2grams,
      |  COALESCE(ba.n_distinct_2grams, 0) AS n_distinct_2grams,
      |  COALESCE(ba.top_2gram_count, 0) AS top_2gram_count
      |FROM wa LEFT JOIN ba ON wa.doc_id = ba.doc_id
      |ORDER BY wa.doc_id""".stripMargin

  /** Gopher/C4-style heuristic filter bank: per-document 0/1 rule
    * flags + the keep verdict ([[TextAnalysis.filterBank]]). Every
    * rule is an integer comparison → fully oracled. */
  def t19FilterBank(s: SparkSession, d: String): DataFrame =
    TextAnalysis.filterBank(documents(s, d), "doc_id", "text")
      .orderBy("doc_id")

  val t19Sql: String =
    """WITH w AS (SELECT doc_id,
      |    list_filter(string_split(trim(text), ' '), t -> t != '') AS wd
      |  FROM documents),
      |t AS (SELECT doc_id, unnest(wd) AS word FROM w),
      |wc AS (SELECT doc_id, word, COUNT(*) AS c FROM t GROUP BY doc_id, word),
      |wa AS (SELECT doc_id, CAST(SUM(c) AS BIGINT) AS n_tokens,
      |         CAST(COUNT(*) AS BIGINT) AS n_distinct_words,
      |         CAST(MAX(c) AS BIGINT) AS top_word_count
      |       FROM wc GROUP BY doc_id),
      |b AS (SELECT doc_id,
      |        unnest([wd[i] || ' ' || wd[i+1] for i in range(1, len(wd))]) AS bg
      |      FROM w WHERE len(wd) >= 2),
      |bc AS (SELECT doc_id, bg, COUNT(*) AS c FROM b GROUP BY doc_id, bg),
      |ba AS (SELECT doc_id, CAST(SUM(c) AS BIGINT) AS n_2grams,
      |         CAST(MAX(c) AS BIGINT) AS top_2gram_count
      |       FROM bc GROUP BY doc_id),
      |sca AS (SELECT doc_id,
      |    length(regexp_replace(text, '\s', '', 'g')) AS sumch,
      |    len(list_filter(list_filter(string_split(trim(text), ' '), t -> t != ''),
      |        t -> t IN ('the','a','an','and','of','to','in','is','it',
      |                   'el','la','los','las','de','y','en','es','un',
      |                   'der','die','das','und','von','zu','ist','ein'))) AS nstop,
      |    len(regexp_extract_all(text, '[^A-Za-z0-9\s]')) AS npunct
      |  FROM documents),
      |j AS (SELECT wa.doc_id, wa.n_tokens, wa.n_distinct_words,
      |        wa.top_word_count,
      |        COALESCE(ba.n_2grams, 0) AS n_2grams,
      |        COALESCE(ba.top_2gram_count, 0) AS top_2gram_count,
      |        sca.sumch, sca.nstop, sca.npunct
      |      FROM wa LEFT JOIN ba ON wa.doc_id = ba.doc_id
      |      JOIN sca ON wa.doc_id = sca.doc_id),
      |r AS (SELECT doc_id, n_tokens,
      |  CASE WHEN n_tokens >= 30 AND n_tokens <= 100000 THEN 1 ELSE 0 END AS r_len,
      |  CASE WHEN sumch >= 2 * n_tokens AND sumch <= 5 * n_tokens THEN 1 ELSE 0 END AS r_word_len,
      |  CASE WHEN nstop >= 2 THEN 1 ELSE 0 END AS r_stop,
      |  CASE WHEN top_word_count * 5 <= n_tokens THEN 1 ELSE 0 END AS r_top_word,
      |  CASE WHEN top_2gram_count * 5 <= GREATEST(n_2grams, 1) THEN 1 ELSE 0 END AS r_top_2gram,
      |  CASE WHEN n_distinct_words * 3 >= n_tokens THEN 1 ELSE 0 END AS r_distinct,
      |  CASE WHEN npunct * 10 <= n_tokens THEN 1 ELSE 0 END AS r_symbol
      |  FROM j)
      |SELECT doc_id, n_tokens,
      |  CAST(r_len AS BIGINT) AS r_len,
      |  CAST(r_word_len AS BIGINT) AS r_word_len,
      |  CAST(r_stop AS BIGINT) AS r_stop,
      |  CAST(r_top_word AS BIGINT) AS r_top_word,
      |  CAST(r_top_2gram AS BIGINT) AS r_top_2gram,
      |  CAST(r_distinct AS BIGINT) AS r_distinct,
      |  CAST(r_symbol AS BIGINT) AS r_symbol,
      |  CAST(CASE WHEN r_len + r_word_len + r_stop + r_top_word
      |         + r_top_2gram + r_distinct + r_symbol = 7
      |       THEN 1 ELSE 0 END AS BIGINT) AS keep
      |FROM r ORDER BY doc_id""".stripMargin

  /** PMI-scored collocations with ≥20-bigram support — phrase mining /
    * embedding-prep association scores. Deterministic (integer counts,
    * one ln at the end, rounded) → oracled. PMI can be a tiny
    * negative, so the round is zero-canonicalized ([[Num.rnd0]] —
    * the r7 hash-FAIL was ONE bigram rounding to -0.0 in DuckDB and
    * +0.0 in Spark). */
  def t15Collocations(s: SparkSession, d: String): DataFrame =
    TextAnalysis.collocations(documents(s, d), "doc_id", "text", minCount = 20L)
      .select(col("w1"), col("w2"), col("n_pair"),
        Num.rnd0(col("pmi"), 4).as("pmi_r"))
      .orderBy("w1", "w2")

  val t15Sql: String =
    """WITH w AS (SELECT doc_id,
      |    list_filter(string_split(trim(text), ' '), t -> t != '') AS wd
      |  FROM documents),
      |t AS (SELECT doc_id, unnest(wd) AS word FROM w),
      |wc AS (SELECT word, COUNT(*) AS cw FROM t GROUP BY word),
      |tw AS (SELECT CAST(SUM(cw) AS DOUBLE) AS tw FROM wc),
      |b AS (SELECT unnest([[wd[i], wd[i+1]] for i in range(1, len(wd))]) AS bg
      |      FROM w WHERE len(wd) >= 2),
      |bc AS (SELECT bg[1] AS w1, bg[2] AS w2, COUNT(*) AS n_pair
      |       FROM b GROUP BY 1, 2),
      |tb AS (SELECT CAST(SUM(n_pair) AS DOUBLE) AS tb FROM bc)
      |SELECT bc.w1, bc.w2, CAST(bc.n_pair AS BIGINT) AS n_pair,
      |  ROUND(ln((bc.n_pair / tb.tb)
      |        / ((c1.cw / tw.tw) * (c2.cw / tw.tw))), 4) + 0.0 AS pmi_r
      |FROM bc JOIN wc c1 ON bc.w1 = c1.word
      |JOIN wc c2 ON bc.w2 = c2.word, tw, tb
      |WHERE bc.n_pair >= 20
      |ORDER BY w1, w2""".stripMargin

  // ---- multimodal --------------------------------------------------

  /** Binary-column feature extraction through the typed mapPartitions
    * pipeline. HASH-ORACLED via the io2 content-fingerprint idiom:
    * the binary payload is represented by its md5 hex (DuckDB md5's
    * the same UTF-8 bytes natively), n_bytes/media_type/source are
    * closed-form from the documents table, and the float feature
    * vector — whose exact values are pinned bitwise in PipelineSpec —
    * enters the oracle as a DECISION CONTRACT (the d6/t11 idiom):
    * the declared dimensionality and a physical bound on the stub's
    * first component (f0 sums every 8th byte scaled to [0,1], so
    * 0 ≤ f0 ≤ n_bytes/8 + 1 must hold). */
  def m1Multimodal(s: SparkSession, d: String): DataFrame = {
    val media = Multimodal.mediaFromDocuments(s, documents(s, d))
    val f0 = element_at(col("features"), 1)
    Multimodal.extractFeatures(media, dim = 8).toDF()
      .select(col("media_id"), col("media_type"), col("source"),
        col("n_bytes"), col("payload_md5"),
        size(col("features")).as("n_features"),
        when(f0 >= 0.0 && f0 <= col("n_bytes").cast("double") / 8.0 + 1.0,
          1L).otherwise(0L).as("f0_bounded"))
      .orderBy("media_id")
  }

  val m1Sql: String =
    """SELECT doc_id AS media_id,
      |  (['image','audio','video'])[CAST(doc_id % 3 AS INT) + 1]
      |    AS media_type,
      |  source,
      |  CAST(strlen(text) AS INT) AS n_bytes,
      |  md5(text) AS payload_md5,
      |  CAST(8 AS INT) AS n_features,
      |  CAST(1 AS BIGINT) AS f0_bounded
      |FROM documents ORDER BY media_id""".stripMargin

  /** REAL image decode end-to-end: a deterministic PNG is synthesized
    * per doc, encoded, and decoded back through JDK ImageIO
    * (`Multimodal.imageStats`); the emitted dims + EXACT integer
    * channel sums are regenerated in closed form by the DuckDB oracle.
    * Integer sums (not float means) so the hash compare is
    * rounding-mode-free. */
  def m2ImageDecode(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    documents(s, d).select(col("doc_id")).as[Long]
      .mapPartitions { it =>
        it.map { id =>
          val st = Multimodal.imageStats(Multimodal.syntheticPng(id))
            .getOrElse(throw new IllegalStateException(
              s"ImageIO failed to decode the synthesized PNG for doc $id"))
          (id, st.width, st.height, st.channels,
            st.sums(0), st.sums(1), st.sums(2))
        }
      }
      .toDF("doc_id", "width", "height", "channels", "sum_c0", "sum_c1", "sum_c2")
      .orderBy("doc_id")
  }

  val m2Sql: String =
    """WITH p AS (SELECT doc_id, CAST(8 + doc_id % 9 AS INT) AS w,
      |                  CAST(8 + doc_id % 7 AS INT) AS h
      |           FROM documents),
      |px AS (SELECT p.doc_id, p.w, p.h, x.range AS x, y.range AS y
      |       FROM p, range(16) x, range(14) y
      |       WHERE x.range < p.w AND y.range < p.h)
      |SELECT doc_id, w AS width, h AS height, CAST(3 AS INT) AS channels,
      |  CAST(SUM((x + 2*y + doc_id) % 256) AS BIGINT) AS sum_c0,
      |  CAST(SUM((x + 2*y + doc_id + 5) % 256) AS BIGINT) AS sum_c1,
      |  CAST(SUM((x + 2*y + doc_id + 10) % 256) AS BIGINT) AS sum_c2
      |FROM px GROUP BY doc_id, w, h
      |ORDER BY doc_id""".stripMargin

  /** Corpus datasheet — the "data card" a dataset release ships
    * (Datasheets for Datasets): per source, document/token volumes,
    * the exact-duplicate fraction, mean heuristic quality, and the
    * median document length. One pass over the corpus plus the
    * text-group dup sizes; medians via the same exact-percentile
    * aggregate t16 proved engine-portable. */
  def t18Datasheet(s: SparkSession, d: String): DataFrame = {
    val docs = documents(s, d)
    val scored = docs.select(col("doc_id"), col("source"), col("text"),
      TextAnalysis.tokenCount(col("text")).cast("long").as("_nt"),
      TextAnalysis.qualityScore(col("text")).as("_q"))
    val dupSizes = docs.groupBy("text").agg(count(lit(1)).as("_gs"))
    scored.join(dupSizes, Seq("text"))
      .groupBy("source").agg(
        count(lit(1)).as("n_docs"),
        sum(col("_nt")).as("n_tokens"),
        round(avg(when(col("_gs") > 1, 1.0).otherwise(0.0)), 4).as("dup_frac"),
        round(avg(col("_q")), 4).as("avg_quality"),
        round(percentile(col("_nt"), lit(0.5)), 1).as("median_tokens"))
      .orderBy("source")
  }

  val t18Sql: String =
    """WITH q AS (SELECT doc_id, source, text,
      |    list_filter(string_split(trim(text), ' '), t -> t != '') AS tok
      |  FROM documents),
      |qs AS (SELECT doc_id, source, text, len(tok) AS nt,
      |  ROUND(0.4 * LEAST(len(tok) / 100.0, 1.0)
      |    + 0.3 * (1.0 - LEAST(len(regexp_extract_all(text,
      |        '[^A-Za-z0-9\s]')) * 5.0
      |        / GREATEST(length(text), 1), 1.0))
      |    + 0.3 * LEAST(len(list_filter(tok,
      |        t -> t IN ('the','a','an','and','of','to','in','is','it')))
      |        * 5.0 / GREATEST(len(tok), 1), 1.0), 6) AS quality
      |  FROM q),
      |g AS (SELECT text, COUNT(*) AS gs FROM documents GROUP BY text)
      |SELECT qs.source, COUNT(*) AS n_docs,
      |  CAST(SUM(qs.nt) AS BIGINT) AS n_tokens,
      |  ROUND(AVG(CASE WHEN g.gs > 1 THEN 1.0 ELSE 0.0 END), 4) AS dup_frac,
      |  ROUND(AVG(qs.quality), 4) AS avg_quality,
      |  ROUND(quantile_cont(qs.nt, 0.5), 1) AS median_tokens
      |FROM qs JOIN g ON qs.text = g.text
      |GROUP BY qs.source ORDER BY qs.source""".stripMargin

  /** The EXPORT TRAIN end to end — the session-3 operators composed
    * the way a real training export runs them: exact dedup apply →
    * exact-k per-language cap (p8) → deterministic global shuffle
    * (p7) → token-budget shard packing in shuffle order (p2) → a
    * per-shard manifest (doc/token counts + an md5 over the exact
    * doc-id sequence, pinning order byte-for-byte). Every stage is
    * seedless-deterministic, so the WHOLE train replays in DuckDB —
    * the e3 counterpart for the export family. */
  def e8TrainingExport(s: SparkSession, d: String): DataFrame = {
    val docs = documents(s, d)
    // Decide membership on NARROW rows, attach the payload once (guide
    // §8 / §2.3): stratifiedExactK makes two passes over its input
    // (count + cut), and feeding it the exactDedup JOIN output re-ran
    // the full text-groupBy dedup once per pass while hauling `text`
    // through the sample window. Instead: checkpoint the deduped
    // (doc_id, lang) ids once — eager, narrow, corpus-bounded — run the
    // quota sample over ids alone, and broadcast-join the ≤ k·|langs|
    // sampled ids back to the documents scan for their text (quota-
    // bounded ⇒ broadcast-safe at any corpus size). Same kept ids, same
    // text per id (doc_id is unique), so the downstream shuffle/pack/
    // digest pipeline sees identical rows.
    val keptIds = Dedup.exactDedup(docs, "doc_id", "text")
      .select("doc_id", "lang").localCheckpoint()
    val cappedIds = Sharding.stratifiedExactK(keptIds, "lang", "doc_id",
        k = 50, seed = 11L)
      .select("doc_id")
    val capped = docs.select("doc_id", "text")
      .join(broadcast(cappedIds), Seq("doc_id"))
      .select("doc_id", "text")
    val shuffled = Sharding.deterministicShuffle(capped, "doc_id", 42L)
    val packed = Sharding.packByTokenBudget(shuffled, "shuffle_pos",
      TextAnalysis.tokenCount(col("text")), budget = 4000L)
    packed.join(shuffled.select("shuffle_pos", "doc_id"), Seq("shuffle_pos"))
      .groupBy("shard").agg(
        count(lit(1)).as("n_docs"),
        sum(col("n_tokens")).as("n_tokens"),
        md5(array_join(transform(
          array_sort(collect_list(struct(col("shuffle_pos"), col("doc_id")))),
          x => x.getField("doc_id").cast("string")), ",")).as("ids_md5"))
      .orderBy("shard")
  }

  val e8Sql: String =
    """WITH dd AS (SELECT MIN(doc_id) AS doc_id FROM documents GROUP BY text),
      |d AS (SELECT doc.doc_id, doc.lang, doc.text
      |      FROM documents doc JOIN dd ON doc.doc_id = dd.doc_id),
      |k AS (SELECT doc_id, text FROM (
      |  SELECT doc_id, text,
      |    ROW_NUMBER() OVER (PARTITION BY lang
      |      ORDER BY md5('11:' || CAST(doc_id AS VARCHAR)), doc_id) AS rk
      |  FROM d WHERE lang IS NOT NULL) WHERE rk <= 50),
      |sh AS (SELECT doc_id, text,
      |    ROW_NUMBER() OVER (
      |      ORDER BY md5('42:' || CAST(doc_id AS VARCHAR)), doc_id) - 1 AS pos
      |  FROM k),
      |t AS (SELECT doc_id, pos,
      |    len(list_filter(string_split(trim(text), ' '), x -> x != '')) AS nt
      |  FROM sh),
      |c AS (SELECT doc_id, pos, nt,
      |    COALESCE(SUM(nt) OVER (ORDER BY pos
      |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS cum
      |  FROM t)
      |SELECT CAST(cum // 4000 AS BIGINT) AS shard,
      |  COUNT(*) AS n_docs,
      |  CAST(SUM(nt) AS BIGINT) AS n_tokens,
      |  md5(string_agg(CAST(doc_id AS VARCHAR), ',' ORDER BY pos)) AS ids_md5
      |FROM c GROUP BY 1 ORDER BY shard""".stripMargin

  /** PCA-whitening of the embeddings table, verified by its CONTRACT:
    * the population covariance of the whitened corpus is the identity
    * matrix (W Σ Wᵀ = I — the defining property of a whitening
    * transform), so the 4-dp-rounded covariance diagnostic is an
    * engine-independent constant the oracle can state exactly even
    * though no SQL engine replays the eigendecomposition. Rounding
    * headroom is real, not luck: the test embeddings' eigenvalues are
    * all ≥ ~7e-3, so diagonal λ/(λ+1e-9) ≥ 0.9999998 and off-diagonals
    * are LAPACK rotation residue ~1e-12 — both 6+ orders inside the
    * 4-dp boundary. `math.round` (driver-side, on |x| < 2⁶³ values)
    * also canonicalizes −0.0 away. Spectrum reporting and
    * partition-invariance stay spec-pinned
    * ([[graft.pipeline.Whitening]]). */
  def s6Whiten(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val emb = embeddings(s, d)
    val model = graft.pipeline.Whitening.fit(emb, "vec_id", "embedding", dim = 64)
    graft.pipeline.Whitening.whitenedCovariance(emb, "vec_id", "embedding", model)
      .map { case (i, j, c) =>
        (i.toLong, j.toLong, math.round(c * 1e4) / 1e4) }
      .toDF("component_i", "component_j", "cov_r")
      .orderBy("component_i", "component_j")
  }

  val s6Sql: String =
    """SELECT CAST(i.range AS BIGINT) AS component_i,
      |       CAST(j.range AS BIGINT) AS component_j,
      |       CASE WHEN i.range = j.range THEN 1.0 ELSE 0.0 END + 0.0 AS cov_r
      |FROM range(64) i, range(64) j
      |WHERE j.range >= i.range
      |ORDER BY component_i, component_j""".stripMargin

  /** Brute-force max-inner-product top-5 for the first 10 vectors
    * ([[Similarity.mipsTopK]]) — the recommender-side scoring mode
    * next to s1's cosine; magnitude carries signal cosine normalizes
    * away. Same 4-dp-round + id-tiebreak ranking idiom → fully
    * oracled. */
  def s10MipsTopK(s: SparkSession, d: String): DataFrame = {
    val emb = embeddings(s, d)
    // limit(10) is a no-op on the <10 id filter but stamps the static
    // row bound (maxRows) the corpus-quadratic plan gate proves
    // boundedness with (the IvfAnn centroid idiom)
    val q = emb.filter(col("vec_id") < 10).limit(10)
      .select(col("vec_id").as("q_vec_id"), col("embedding").as("q_embedding"))
    Similarity.mipsTopK(emb, q, k = 5, excludeSelfId = true)
      .withColumn("ip_r", col("ip_r") + lit(0.0))
      .orderBy("q_vec_id", "rank")
  }

  val s10Sql: String =
    """WITH e AS (SELECT vec_id, embedding FROM embeddings),
      |qe AS (SELECT vec_id AS q_vec_id, embedding AS qv
      |       FROM e WHERE vec_id < 10),
      |ips AS (SELECT qe.q_vec_id, e.vec_id,
      |    ROUND(list_sum(list_transform(range(1, len(qv) + 1),
      |        k -> CAST(qv[k] AS DOUBLE) * CAST(e.embedding[k] AS DOUBLE))),
      |      4) + 0.0 AS ip_r
      |  FROM qe CROSS JOIN e WHERE e.vec_id != qe.q_vec_id)
      |SELECT q_vec_id, vec_id, ip_r, CAST(rank AS BIGINT) AS rank FROM (
      |  SELECT *, ROW_NUMBER() OVER (PARTITION BY q_vec_id
      |    ORDER BY ip_r DESC, vec_id) AS rank FROM ips)
      |WHERE rank <= 5 ORDER BY q_vec_id, rank""".stripMargin

  /** Deterministic k-means over the embedding corpus
    * ([[graft.pipeline.KMeans.assign]]): k = 8 seeds = the 8 lowest
    * vec_ids, 2 full Lloyd steps, every engine-divergent quantity
    * (distances, centroid means) rounded at 6 dp before it feeds the
    * next decision — so the whole clustering replays exactly and the
    * oracle unrolls both iterations as chained CTEs. The distance is
    * the codegen'd difference fold [[graft.functions.SqL2Dist]],
    * bit-identical to DuckDB's sequential list_sum replay. */
  def s11Kmeans(s: SparkSession, d: String): DataFrame =
    graft.pipeline.KMeans.assign(embeddings(s, d), "vec_id", "embedding",
        k = 8, iterations = 2)
      .orderBy("vec_id")

  /** The shared DuckDB replay of [[graft.pipeline.KMeans.fitAssign]]'s
    * Lloyd run (s11 + s12 oracles): CTEs `e` (double-cast vectors),
    * `k0` (first-8-id seeds), two unrolled steps ending in the final
    * centroids `k2`, and `df` (final per-vector distances vs k2) —
    * one Lloyd step = assignment against k<i-1>, then per-(cluster,
    * dim) rounded means with empty-cluster carryover. */
  private val kmeansLloydCtes: String = {
    def step(i: Int) = {
      val p = i - 1
      s"""d$i AS (SELECT e.vec_id, k.c,
         |    ROUND(list_sum(list_transform(range(1, len(e.v) + 1),
         |      j -> (e.v[j] - k.cv[j]) * (e.v[j] - k.cv[j]))), 6) AS d2
         |  FROM e CROSS JOIN k$p k),
         |a$i AS (SELECT vec_id, c FROM (
         |    SELECT *, ROW_NUMBER() OVER (PARTITION BY vec_id
         |      ORDER BY d2, c) AS rn FROM d$i) WHERE rn = 1),
         |x$i AS (SELECT a$i.c, e.v,
         |         unnest(generate_series(1, len(e.v))) AS dim
         |       FROM a$i JOIN e USING (vec_id)),
         |m$i AS (SELECT c, dim, ROUND(AVG(v[dim]), 6) AS mv
         |       FROM x$i GROUP BY 1, 2),
         |k$i AS (SELECT k$p.c, COALESCE(g.gcv, k$p.cv) AS cv
         |       FROM k$p LEFT JOIN (SELECT c, list(mv ORDER BY dim) AS gcv
         |                           FROM m$i GROUP BY 1) g USING (c))""".stripMargin
    }
    s"""e AS (SELECT vec_id,
       |    list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
       |  FROM embeddings),
       |k0 AS (SELECT vec_id AS c, v AS cv FROM e ORDER BY vec_id LIMIT 8),
       |${(1 to 2).map(step).mkString(",\n")},
       |df AS (SELECT e.vec_id, k.c,
       |    ROUND(list_sum(list_transform(range(1, len(e.v) + 1),
       |      j -> (e.v[j] - k.cv[j]) * (e.v[j] - k.cv[j]))), 6) AS d2
       |  FROM e CROSS JOIN k2 k)""".stripMargin
  }

  val s11Sql: String =
    s"""WITH $kmeansLloydCtes
       |SELECT vec_id, c AS cluster, d2 AS dist2_r FROM (
       |  SELECT *, ROW_NUMBER() OVER (PARTITION BY vec_id
       |    ORDER BY d2, c) AS rn FROM df)
       |WHERE rn = 1 ORDER BY vec_id""".stripMargin

  /** S12 (beyond ref): a deterministic-IVF ANN query under the FULL
    * hash-oracle gate ([[graft.pipeline.DetIvf.topK]]) — unlike
    * s3/s4's seeded trainers (rows-only + recall specs), every
    * decision here replays exactly: s11's Lloyd cells, 2-cell probes,
    * exact 6-dp squared-L2 re-rank, (d2_r, vec_id) tiebreak. */
  def s12IvfDet(s: SparkSession, d: String): DataFrame = {
    val emb = embeddings(s, d)
    // limit(10) is a no-op on the <10 id filter but stamps the static
    // row bound (maxRows) the corpus-quadratic plan gate proves
    // boundedness with (the IvfAnn centroid idiom)
    val q = emb.filter(col("vec_id") < 10).limit(10)
      .select(col("vec_id").as("q_vec_id"), col("embedding").as("q_embedding"))
    graft.pipeline.DetIvf.topK(emb, "vec_id", "embedding",
        q, "q_vec_id", "q_embedding",
        kCells = 8, iterations = 2, nprobe = 2, topK = 5)
      .orderBy("q_vec_id", "rank")
  }

  val s12Sql: String =
    s"""WITH $kmeansLloydCtes,
       |af AS (SELECT vec_id, c FROM (
       |    SELECT *, ROW_NUMBER() OVER (PARTITION BY vec_id
       |      ORDER BY d2, c) AS rn FROM df) WHERE rn = 1),
       |q AS (SELECT vec_id AS q_vec_id, v AS qv FROM e WHERE vec_id < 10),
       |pd AS (SELECT q.q_vec_id, k.c,
       |    ROUND(list_sum(list_transform(range(1, len(q.qv) + 1),
       |      j -> (q.qv[j] - k.cv[j]) * (q.qv[j] - k.cv[j]))), 6) AS d2
       |  FROM q CROSS JOIN k2 k),
       |pr AS (SELECT q_vec_id, c FROM (
       |    SELECT *, ROW_NUMBER() OVER (PARTITION BY q_vec_id
       |      ORDER BY d2, c) AS rn FROM pd) WHERE rn <= 2),
       |cand AS (SELECT pr.q_vec_id, af.vec_id
       |         FROM pr JOIN af USING (c) WHERE af.vec_id != pr.q_vec_id),
       |sc AS (SELECT cand.q_vec_id, cand.vec_id,
       |    ROUND(list_sum(list_transform(range(1, len(q.qv) + 1),
       |      j -> (q.qv[j] - e.v[j]) * (q.qv[j] - e.v[j]))), 6) AS d2_r
       |  FROM cand JOIN q USING (q_vec_id) JOIN e ON e.vec_id = cand.vec_id)
       |SELECT q_vec_id, vec_id, d2_r, CAST(rank AS BIGINT) AS rank
       |FROM (SELECT *, ROW_NUMBER() OVER (PARTITION BY q_vec_id
       |        ORDER BY d2_r, vec_id) AS rank FROM sc)
       |WHERE rank <= 5 ORDER BY q_vec_id, rank""".stripMargin

  /** Vocabulary-growth (Heaps-law) curve
    * ([[TextAnalysis.vocabGrowth]]): per first-occurrence doc, new
    * terms introduced + cumulative vocabulary size, the corpus-health
    * diagnostic. Exact integer counting + the two-phase prefix sum →
    * fully oracled. */
  def t22VocabGrowth(s: SparkSession, d: String): DataFrame =
    TextAnalysis.vocabGrowth(documents(s, d), "doc_id", "text")
      .orderBy("doc_id")

  val t22Sql: String =
    """WITH tok AS (SELECT doc_id,
      |    unnest(list_filter(string_split(trim(text), ' '), t -> t != '')) AS term
      |  FROM documents),
      |fo AS (SELECT term, MIN(doc_id) AS doc_id FROM tok GROUP BY term),
      |np AS (SELECT doc_id, COUNT(*) AS n_new_terms FROM fo GROUP BY doc_id)
      |SELECT doc_id, n_new_terms,
      |  CAST(SUM(n_new_terms) OVER (ORDER BY doc_id) AS BIGINT) AS vocab_size
      |FROM np ORDER BY doc_id""".stripMargin

  /** T24: per-doc TF-IDF keywords, top-3 by (6-dp score desc, term)
    * ([[TextAnalysis.tfidfKeywords]]) — ranking on the ROUNDED score
    * keeps the order engine-portable. */
  def t24TfidfKeywords(s: SparkSession, d: String): DataFrame =
    TextAnalysis.tfidfKeywords(documents(s, d), "doc_id", "text", k = 3)
      .orderBy("doc_id", "rank")

  val t24Sql: String =
    """WITH tok AS (SELECT doc_id,
      |    unnest(list_filter(string_split(trim(text), ' '), t -> t != '')) AS term
      |  FROM documents),
      |tf AS (SELECT doc_id, term, COUNT(*) AS tf FROM tok GROUP BY 1, 2),
      |df AS (SELECT term, COUNT(*) AS df FROM tf GROUP BY 1),
      |c AS (SELECT CAST(COUNT(*) AS DOUBLE) AS nd FROM documents),
      |sc AS (SELECT tf.doc_id, tf.term, tf.tf, df.df,
      |         ROUND(tf.tf * ln(c.nd / df.df), 6) AS score
      |       FROM tf JOIN df USING (term) CROSS JOIN c),
      |r AS (SELECT *, ROW_NUMBER() OVER (PARTITION BY doc_id
      |        ORDER BY score DESC, term) AS rank FROM sc)
      |SELECT doc_id, term, tf, df, score, CAST(rank AS BIGINT) AS rank
      |FROM r WHERE rank <= 3 ORDER BY doc_id, rank""".stripMargin

  /** Zipf slope per language ([[TextAnalysis.zipfSlope]]): OLS of
    * ln(freq) on ln(rank) over each language's top-200 terms, centered
    * two-pass moments, 4-dp rounding. */
  /** T27 (beyond ref): pairwise Jensen–Shannon divergence between the
    * per-language unigram distributions
    * ([[TextAnalysis.jsDivergence]]) — the distribution-shift /
    * source-similarity diagnostic run before mixing corpora. Exact
    * over the full shared vocabulary via the intersection
    * decomposition (one-sided tails fold into scalar sums, so only
    * intersecting terms ever join); both engines spell the identical
    * formula, and the ~|vocab|-term sums differ only by accumulation
    * order (≲1e-12), absorbed by the 6-dp rounding. */
  def t27JsDivergence(s: SparkSession, d: String): DataFrame =
    TextAnalysis.jsDivergence(documents(s, d), "lang", "text")
      .select(col("group_a").as("lang_a"), col("group_b").as("lang_b"),
        col("n_shared"), Num.rnd0(col("jsd"), 6).as("jsd_r"))
      .orderBy("lang_a", "lang_b")

  val t27Sql: String =
    """WITH tok AS (SELECT lang,
      |    unnest(list_filter(string_split(trim(text), ' '), t -> t != ''))
      |      AS term
      |  FROM documents),
      |cnt AS (SELECT lang, term, COUNT(*) AS c FROM tok GROUP BY 1, 2),
      |tot AS (SELECT lang, SUM(c) AS n FROM cnt GROUP BY 1),
      |p AS (SELECT cnt.lang, term, CAST(c AS DOUBLE) / tot.n AS p
      |      FROM cnt JOIN tot USING (lang)),
      |pr AS (SELECT a.lang AS lang_a, b.lang AS lang_b,
      |         a.p AS pa, b.p AS pb
      |       FROM p a JOIN p b ON a.term = b.term AND a.lang < b.lang),
      |ag AS (SELECT lang_a, lang_b, COUNT(*) AS n_shared,
      |    SUM(pa * ln(2.0 * pa / (pa + pb)) +
      |        pb * ln(2.0 * pb / (pa + pb))) AS inter,
      |    SUM(pa) AS spa, SUM(pb) AS spb
      |  FROM pr GROUP BY 1, 2)
      |SELECT lang_a, lang_b, n_shared,
      |  ROUND(0.5 * inter + 0.5 * ln(2.0) * (2.0 - spa - spb), 6) + 0.0
      |    AS jsd_r
      |FROM ag ORDER BY lang_a, lang_b""".stripMargin

  def t25ZipfSlope(s: SparkSession, d: String): DataFrame =
    TextAnalysis.zipfSlope(documents(s, d), "lang", "text", topR = 200)
      .withColumn("slope_r", col("slope_r") + lit(0.0))
      .orderBy("lang")

  val t25Sql: String =
    """WITH tok AS (SELECT lang,
      |    unnest(list_filter(string_split(trim(text), ' '), t -> t != '')) AS term
      |  FROM documents),
      |f AS (SELECT lang, term, COUNT(*) AS f FROM tok GROUP BY 1, 2),
      |r AS (SELECT lang, f, ROW_NUMBER() OVER (PARTITION BY lang
      |        ORDER BY f DESC, term) AS rk FROM f),
      |t AS (SELECT lang, ln(CAST(rk AS DOUBLE)) AS x,
      |        ln(CAST(f AS DOUBLE)) AS y
      |      FROM r WHERE rk <= 200),
      |m AS (SELECT lang, AVG(x) AS mx, AVG(y) AS my,
      |        COUNT(*) AS n_terms FROM t GROUP BY 1)
      |SELECT t.lang, CAST(m.n_terms AS BIGINT) AS n_terms,
      |  ROUND(SUM((x - mx) * (y - my)) / SUM((x - mx) * (x - mx)), 4) + 0.0
      |    AS slope_r
      |FROM t JOIN m USING (lang)
      |GROUP BY t.lang, m.n_terms
      |ORDER BY lang""".stripMargin

  /** T26 (beyond ref): Flesch reading-ease per doc — the classic
    * readability quality signal next to t19's rule flags: words =
    * letter runs, sentences = terminator runs (min 1), syllables =
    * vowel runs ([[TextAnalysis.syllableCount]]'s engine-exact
    * heuristic). All three counts are integers; the score is IEEE
    * division/multiplication of identical inputs rounded at 4 dp. */
  def t26Readability(s: SparkSession, d: String): DataFrame = {
    val t = col("text")
    documents(s, d)
      .select(col("doc_id"),
        TextAnalysis.letterWordCount(t).as("n_words"),
        TextAnalysis.sentenceCount(t).as("n_sentences"),
        TextAnalysis.syllableCount(t).as("n_syllables"))
      .withColumn("flesch_r",
        when(col("n_words") > 0,
          Num.rnd0(lit(206.835) -
            lit(1.015) * (col("n_words").cast("double") / col("n_sentences")) -
            lit(84.6) * (col("n_syllables").cast("double") / col("n_words")), 4)))
      .orderBy("doc_id")
  }

  val t26Sql: String =
    """WITH c AS (SELECT doc_id,
      |    CAST(len(regexp_extract_all(text, '[A-Za-z]+')) AS BIGINT)
      |      AS n_words,
      |    CAST(GREATEST(len(regexp_extract_all(text, '[.!?]+')), 1)
      |      AS BIGINT) AS n_sentences,
      |    CAST(len(regexp_extract_all(lower(text), '[aeiouy]+')) AS BIGINT)
      |      AS n_syllables
      |  FROM documents)
      |SELECT doc_id, n_words, n_sentences, n_syllables,
      |  CASE WHEN n_words > 0 THEN
      |    ROUND(206.835
      |      - 1.015 * (CAST(n_words AS DOUBLE) / n_sentences)
      |      - 84.6 * (CAST(n_syllables AS DOUBLE) / n_words), 4) + 0.0
      |  END AS flesch_r
      |FROM c ORDER BY doc_id""".stripMargin

  /** D15 (beyond ref): normalized ("fuzzy-exact") dedup — the C4/CCNet
    * recipe: casefold + punctuation/whitespace canonicalization
    * ([[TextAnalysis.normalizeText]]) BEFORE the d1 digest groupBy, so
    * trivially-reformatted copies collapse too. Same per-source
    * readout as d1 for direct comparison (n_kept here ≤ d1's). */
  def d15NormalizedDedup(s: SparkSession, d: String): DataFrame =
    Dedup.exactDedup(
        documents(s, d)
          .withColumn("_norm", TextAnalysis.normalizeText(col("text"))),
        "doc_id", "_norm")
      .groupBy("source")
      .agg(count(lit(1)).as("n_kept"), sum("n_copies").as("n_docs"))
      .orderBy("source")

  val d15Sql: String =
    """WITH nd AS (SELECT doc_id, source,
      |    trim(regexp_replace(lower(text), '[^a-z0-9]+', ' ', 'g')) AS norm
      |  FROM documents),
      |k AS (SELECT MIN(doc_id) AS doc_id, COUNT(*) AS n_copies
      |      FROM nd GROUP BY norm)
      |SELECT d.source, COUNT(*) AS n_kept,
      |  CAST(SUM(k.n_copies) AS BIGINT) AS n_docs
      |FROM k JOIN nd d ON k.doc_id = d.doc_id
      |GROUP BY d.source
      |ORDER BY d.source""".stripMargin

  /** Per-label embedding centroids — the domain/cluster drift monitor
    * an embedding pipeline reports (centroid movement between corpus
    * versions flags encoder or distribution drift): one row per
    * (label, dimension) with the mean component, plus per-label
    * counts. Scale shape: posexplode to (label, dim, x) rows —
    * label-cardinality × dim after the partial agg, corpus-sized only
    * in the scan stage — one groupBy, no window. Means of float
    * components round at 4 dp (binary floats have no finite-decimal
    * half-tie; summation-order noise is ~1e-14) and canonicalize the
    * sign of zero (Num.rnd0): a mean that is true-zero up to
    * accumulation noise rounds to -0.0 in one engine and +0.0 in the
    * other — pandas-equal but hash-different (seen at sf0.001). */
  def s7Centroids(emb: DataFrame): DataFrame =
    emb
      .select(col("label"), posexplode(col("embedding")).as(Seq("dim", "_x")))
      .groupBy("label", "dim")
      .agg(count(lit(1)).as("n_vecs"),
        Num.rnd0(avg(col("_x").cast("double")), 4).as("mean_r"))
      .withColumn("dim", col("dim").cast("long"))
      .orderBy("label", "dim")

  def s7EmbedCentroids(s: SparkSession, d: String): DataFrame =
    s7Centroids(embeddings(s, d))

  val s7Sql: String =
    """SELECT label, CAST(k - 1 AS BIGINT) AS dim,
      |  COUNT(*) AS n_vecs,
      |  ROUND(AVG(CAST(embedding[k] AS DOUBLE)), 4) + 0.0 AS mean_r
      |FROM (SELECT label, embedding,
      |        unnest(range(1, len(embedding) + 1)) AS k
      |      FROM embeddings)
      |GROUP BY label, k ORDER BY label, dim""".stripMargin

  /** Int8 scalar quantization of the embedding table
    * ([[ScalarQuant.quantize]]): per-dim min/max bounds, one byte per
    * component, plus the per-vector squared reconstruction error
    * (sequential left-fold, so order-deterministic). Codes are exact
    * integers and the error is deterministic IEEE arithmetic → fully
    * oracled; error rounds at 8 dp (values ~1e-4, summation-order
    * noise ~1e-18). The code vector is emitted as a comma-joined
    * STRING (the a8 rule): the driver's pandas compare lexsorts every
    * column and an array cell is unhashable there — scalar rendering
    * keeps the hash compare representation-independent. */
  def s8SqQuantize(s: SparkSession, d: String): DataFrame =
    ScalarQuant.quantize(embeddings(s, d), "vec_id", "embedding")
      .select(col("vec_id"),
        concat_ws(",", col("codes")).as("codes"),
        round(col("sq_err"), 8).as("sq_err"))
      .orderBy("vec_id")

  val s8Sql: String =
    """WITH e AS (SELECT vec_id, embedding FROM embeddings),
      |ex AS (SELECT vec_id, k, CAST(embedding[k] AS DOUBLE) AS x
      |  FROM (SELECT vec_id, embedding,
      |          unnest(range(1, len(embedding) + 1)) AS k FROM e)),
      |st AS (SELECT k, MIN(x) AS mn, MAX(x) AS mx FROM ex GROUP BY k),
      |cd AS (SELECT vec_id, k, x, mn, mx,
      |    CASE WHEN mx = mn THEN 0
      |         ELSE CAST(floor((x - mn) / (mx - mn) * 255 + 0.5) AS BIGINT)
      |    END AS code
      |  FROM ex JOIN st USING (k)),
      |rc AS (SELECT vec_id, k, code,
      |    x - (CASE WHEN mx = mn THEN mn
      |              ELSE mn + CAST(code AS DOUBLE) / 255.0 * (mx - mn)
      |         END) AS diff
      |  FROM cd)
      |SELECT vec_id,
      |  array_to_string(list(code ORDER BY k), ',') AS codes,
      |  ROUND(SUM(diff * diff ORDER BY k), 8) AS sq_err
      |FROM rc GROUP BY vec_id ORDER BY vec_id""".stripMargin

  /** Media curation rollup — the table an image-pipeline operator
    * reads before training: per source, how many payloads decode at
    * all (every 13th doc carries a corrupt payload, exercising the
    * in-scan `imageStats → None` failure path), dimension averages of
    * the decodables, and how many fall under the min-width cut. The
    * synthetic PNGs are a closed form of doc_id, so the whole rollup —
    * including the decode-failure accounting — replays in DuckDB. */
  def m5MediaQuality(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    documents(s, d).select(col("doc_id"), col("source"))
      .as[(Long, String)]
      .mapPartitions { it =>
        it.map { case (id, src) =>
          val bytes =
            if (id % 13 == 0) Array[Byte](1, 2, 3)  // corrupt payload
            else Multimodal.syntheticPng(id)
          val st = Multimodal.imageStats(bytes)
          (src, st.isDefined,
            st.map(_.width).getOrElse(0), st.map(_.height).getOrElse(0))
        }
      }
      .toDF("source", "_ok", "_w", "_h")
      .groupBy("source").agg(
        count(lit(1)).as("n_images"),
        sum(when(col("_ok"), 1L).otherwise(0L)).as("n_decodable"),
        round(avg(when(col("_ok"), col("_w"))), 4).as("avg_width"),
        round(avg(when(col("_ok"), col("_h"))), 4).as("avg_height"),
        sum(when(col("_ok") && col("_w") < 10, 1L).otherwise(0L))
          .as("n_too_small"))
      .orderBy("source")
  }

  val m5Sql: String =
    """WITH p AS (SELECT doc_id, source, doc_id % 13 != 0 AS ok,
      |    8 + doc_id % 9 AS w, 8 + doc_id % 7 AS h
      |  FROM documents)
      |SELECT source, COUNT(*) AS n_images,
      |  CAST(SUM(CASE WHEN ok THEN 1 ELSE 0 END) AS BIGINT) AS n_decodable,
      |  ROUND(AVG(CASE WHEN ok THEN w END), 4) AS avg_width,
      |  ROUND(AVG(CASE WHEN ok THEN h END), 4) AS avg_height,
      |  CAST(SUM(CASE WHEN ok AND w < 10 THEN 1 ELSE 0 END) AS BIGINT)
      |    AS n_too_small
      |FROM p GROUP BY source ORDER BY source""".stripMargin

  /** Perceptual image hashes for the corpus's synthetic PNGs — the
    * image-side near-dup key (the multimodal counterpart of d3's
    * SimHash; hamming-near hashes feed the same block-index join).
    * The hash definition is exact-integer ([[Multimodal.aHashBits]]),
    * so the REAL ImageIO decode on the Spark side and the closed-form
    * pixel replay in DuckDB produce identical 64-bit strings. */
  def m6ImageAhash(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    documents(s, d).select(col("doc_id")).as[Long]
      .mapPartitions(_.map { id =>
        val bits = Multimodal.aHashBits(Multimodal.syntheticPng(id))
          .getOrElse(throw new IllegalStateException(
            s"ImageIO failed to decode the synthesized PNG for doc $id"))
        (id, bits)
      })
      .toDF("doc_id", "ahash")
      .orderBy("doc_id")
  }

  val m6Sql: String =
    """WITH p AS (SELECT doc_id, CAST(8 + doc_id % 9 AS INT) AS w,
      |                  CAST(8 + doc_id % 7 AS INT) AS h
      |           FROM documents),
      |px AS (SELECT p.doc_id, p.w, p.h, x.range AS x, y.range AS y,
      |    ((x.range + 2*y.range + p.doc_id) % 256)
      |  + ((x.range + 2*y.range + p.doc_id + 5) % 256)
      |  + ((x.range + 2*y.range + p.doc_id + 10) % 256) AS lum
      |  FROM p, range(16) x, range(14) y
      |  WHERE x.range < p.w AND y.range < p.h),
      |b AS (SELECT doc_id, ((x*8)//w)*8 + (y*8)//h AS k,
      |        SUM(lum) AS s, COUNT(*) AS c
      |      FROM px GROUP BY doc_id, ((x*8)//w)*8 + (y*8)//h),
      |t AS (SELECT doc_id, k, (s * 64) // c AS t FROM b),
      |tot AS (SELECT doc_id, SUM(t) AS total FROM t GROUP BY doc_id)
      |SELECT t.doc_id,
      |  string_agg(CASE WHEN 64 * t.t > tot.total THEN '1' ELSE '0' END,
      |             '' ORDER BY t.k) AS ahash
      |FROM t JOIN tot ON t.doc_id = tot.doc_id
      |GROUP BY t.doc_id ORDER BY t.doc_id""".stripMargin

  /** Difference-hash (dHash) fingerprints for the same synthetic PNGs
    * — the GRADIENT perceptual hash next to m6's mean-based aHash
    * ([[Multimodal.dHashBits]]): bit = does block luminance increase
    * left→right in a 9×8 grid. Survives the global brightness shifts
    * that flip aHash bits. The mean comparison is cross-multiplied
    * (s₁·c₂ < s₂·c₁), so the definition is exact-integer and the
    * DuckDB pixel replay produces identical 64-bit strings. */
  def m11ImageDhash(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    documents(s, d).select(col("doc_id")).as[Long]
      .mapPartitions(_.map { id =>
        val bits = Multimodal.dHashBits(Multimodal.syntheticPng(id))
          .getOrElse(throw new IllegalStateException(
            s"ImageIO failed to decode the synthesized PNG for doc $id"))
        (id, bits)
      })
      .toDF("doc_id", "dhash")
      .orderBy("doc_id")
  }

  val m11Sql: String =
    """WITH p AS (SELECT doc_id, CAST(8 + doc_id % 9 AS INT) AS w,
      |                  CAST(8 + doc_id % 7 AS INT) AS h
      |           FROM documents),
      |px AS (SELECT p.doc_id, p.w, p.h, x.range AS x, y.range AS y,
      |    ((x.range + 2*y.range + p.doc_id) % 256)
      |  + ((x.range + 2*y.range + p.doc_id + 5) % 256)
      |  + ((x.range + 2*y.range + p.doc_id + 10) % 256) AS lum
      |  FROM p, range(16) x, range(14) y
      |  WHERE x.range < p.w AND y.range < p.h),
      |b AS (SELECT doc_id, (x*9)//w AS bx, (y*8)//h AS by,
      |        SUM(lum) AS s, COUNT(*) AS c
      |      FROM px GROUP BY doc_id, (x*9)//w, (y*8)//h),
      |g AS (SELECT l.doc_id, l.by, l.bx,
      |        CASE WHEN l.s * COALESCE(r.c, 0) < COALESCE(r.s, 0) * l.c
      |             THEN '1' ELSE '0' END AS bit
      |      FROM b l LEFT JOIN b r
      |        ON r.doc_id = l.doc_id AND r.by = l.by AND r.bx = l.bx + 1
      |      WHERE l.bx < 8)
      |SELECT doc_id, string_agg(bit, '' ORDER BY by*8 + bx) AS dhash
      |FROM g GROUP BY doc_id ORDER BY doc_id""".stripMargin

  /** Perceptual image-dup groups: images sharing an identical aHash
    * are perceptual duplicates (the synthetic corpus is heavily
    * clustered — dims repeat every 63 ids and brightness shifts are
    * hash-invariant); the group table is the image-side d1. Near-dup
    * at hamming ≤ h uses [[Dedup.signaturePairs]] on the same hashes —
    * pigeonhole-complete, spec-pinned ≡ brute force. */
  def m7ImageDedup(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    documents(s, d).select(col("doc_id")).as[Long]
      .mapPartitions(_.map { id =>
        (id, Multimodal.aHashBits(Multimodal.syntheticPng(id)).get)
      })
      .toDF("doc_id", "ahash")
      .groupBy("ahash")
      .agg(count(lit(1)).as("n_images"), min(col("doc_id")).as("min_doc"))
      .orderBy("ahash")
  }

  val m7Sql: String =
    """WITH p AS (SELECT doc_id, CAST(8 + doc_id % 9 AS INT) AS w,
      |                  CAST(8 + doc_id % 7 AS INT) AS h
      |           FROM documents),
      |px AS (SELECT p.doc_id, p.w, p.h, x.range AS x, y.range AS y,
      |    ((x.range + 2*y.range + p.doc_id) % 256)
      |  + ((x.range + 2*y.range + p.doc_id + 5) % 256)
      |  + ((x.range + 2*y.range + p.doc_id + 10) % 256) AS lum
      |  FROM p, range(16) x, range(14) y
      |  WHERE x.range < p.w AND y.range < p.h),
      |b AS (SELECT doc_id, ((x*8)//w)*8 + (y*8)//h AS k,
      |        SUM(lum) AS s, COUNT(*) AS c
      |      FROM px GROUP BY doc_id, ((x*8)//w)*8 + (y*8)//h),
      |t AS (SELECT doc_id, k, (s * 64) // c AS t FROM b),
      |tot AS (SELECT doc_id, SUM(t) AS total FROM t GROUP BY doc_id),
      |hsh AS (SELECT t.doc_id,
      |  string_agg(CASE WHEN 64 * t.t > tot.total THEN '1' ELSE '0' END,
      |             '' ORDER BY t.k) AS ahash
      |  FROM t JOIN tot ON t.doc_id = tot.doc_id GROUP BY t.doc_id)
      |SELECT ahash, COUNT(*) AS n_images, MIN(doc_id) AS min_doc
      |FROM hsh GROUP BY ahash ORDER BY ahash""".stripMargin

  /** Perceptual audio fingerprints for the corpus's synthetic WAVs —
    * the audio-side near-dup key ([[Multimodal.audioFingerprint]]):
    * REAL javax.sound PCM decode on the Spark side, closed-form sample
    * replay in DuckDB, identical 64-bit strings by the exact-integer
    * definition. Feeds [[Dedup.signaturePairs]] like m7's image
    * hashes. */
  def m8AudioFingerprint(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    documents(s, d).select(col("doc_id")).as[Long]
      .mapPartitions(_.map { id =>
        val bits = Multimodal.audioFingerprint(Multimodal.syntheticWav(id))
          .getOrElse(throw new IllegalStateException(
            s"PCM decode failed for the synthesized WAV for doc $id"))
        (id, bits)
      })
      .toDF("doc_id", "afp")
      .orderBy("doc_id")
  }

  val m8Sql: String =
    """WITH p AS (SELECT doc_id, 200 + doc_id % 100 AS n, doc_id % 251 + 3 AS k
      |           FROM documents),
      |s AS (SELECT p.doc_id, p.n, i.range AS i,
      |        ((i.range * p.k) % 65536) - 32768 AS v
      |      FROM p, range(300) i WHERE i.range < p.n),
      |b AS (SELECT doc_id, (i * 64) // n AS j,
      |        SUM(v * v) AS e, COUNT(*) AS c
      |      FROM s GROUP BY doc_id, (i * 64) // n),
      |t AS (SELECT doc_id, j, (e * 64) // c AS t FROM b),
      |tot AS (SELECT doc_id, SUM(t) AS total FROM t GROUP BY doc_id)
      |SELECT t.doc_id,
      |  string_agg(CASE WHEN 64 * t.t > tot.total THEN '1' ELSE '0' END,
      |             '' ORDER BY t.j) AS afp
      |FROM t JOIN tot ON t.doc_id = tot.doc_id
      |GROUP BY t.doc_id ORDER BY t.doc_id""".stripMargin

  /** Perceptual audio-dup groups — m7's image-side dedup completed
    * for the audio modality: clips sharing an identical energy-sign
    * fingerprint ([[Multimodal.audioFingerprint]] over the REAL
    * javax.sound decode) group as perceptual duplicates. The fixture
    * synthesizes audio from 40 recycled seeds (the m-family's
    * planted-signal idiom), which collapse to 13 distinct sign
    * patterns — the coarse-hash collisions are themselves the
    * point of a perceptual key; near-dup at hamming ≤ h reuses
    * [[graft.pipeline.Dedup.signaturePairs]] as with m7.
    * Exact-integer hash → oracled via sample closed form. */
  def m10AudioDedup(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    documents(s, d).select(col("doc_id")).as[Long]
      .mapPartitions(_.map { id =>
        val bits = Multimodal.audioFingerprint(
          Multimodal.syntheticWav(id % 40 * 617))
          .getOrElse(throw new IllegalStateException(
            s"PCM decode failed for the synthesized WAV for doc $id"))
        (id, bits)
      })
      .toDF("doc_id", "afp")
      .groupBy("afp")
      .agg(count(lit(1)).as("n_clips"), min(col("doc_id")).as("min_doc"))
      .orderBy("afp")
  }

  val m10Sql: String =
    """WITH p AS (SELECT doc_id, 200 + ((doc_id % 40) * 617) % 100 AS n,
      |                  ((doc_id % 40) * 617) % 251 + 3 AS k
      |           FROM documents),
      |s AS (SELECT p.doc_id, p.n, i.range AS i,
      |        ((i.range * p.k) % 65536) - 32768 AS v
      |      FROM p, range(300) i WHERE i.range < p.n),
      |b AS (SELECT doc_id, (i * 64) // n AS j,
      |        SUM(v * v) AS e, COUNT(*) AS c
      |      FROM s GROUP BY doc_id, (i * 64) // n),
      |t AS (SELECT doc_id, j, (e * 64) // c AS t FROM b),
      |tot AS (SELECT doc_id, SUM(t) AS total FROM t GROUP BY doc_id),
      |hsh AS (SELECT t.doc_id,
      |  string_agg(CASE WHEN 64 * t.t > tot.total THEN '1' ELSE '0' END,
      |             '' ORDER BY t.j) AS afp
      |  FROM t JOIN tot ON t.doc_id = tot.doc_id GROUP BY t.doc_id)
      |SELECT afp, COUNT(*) AS n_clips, MIN(doc_id) AS min_doc
      |FROM hsh GROUP BY afp ORDER BY afp""".stripMargin

  /** Sketch-profiled corpus statistics per source, HASH-oracled as a
    * decision contract ([[TextAnalysis.corpusProfileContract]]): the
    * real sketch operator ([[TextAnalysis.corpusProfile]]) runs
    * unchanged, the exact distinct-text count and order-statistic
    * token quantiles are recomputed alongside (oracle-recomputable in
    * any engine), and the engine-specific HLL/KLL estimates enter the
    * output only as in-bound FLAGS the oracle pins to literal 1 —
    * |hll − exact| ≤ max(1, 10%·exact), each sketch quantile within
    * max(2, 2%·n) ranks of its target. A sketch regression breaks the
    * hash; the raw estimates (engine-specific by construction) never
    * touch it. Error bounds vs exact are additionally asserted tighter
    * in PipelineSpec. */
  def t5Profile(s: SparkSession, d: String): DataFrame =
    TextAnalysis.corpusProfileContract(documents(s, d), "source", "text")
      .orderBy("source")

  val t5Sql: String =
    """WITH d AS (SELECT source, text,
      |    len(list_filter(string_split(trim(text), ' '), t -> t != ''))
      |      AS tok
      |  FROM documents WHERE text IS NOT NULL),
      |r AS (SELECT source, text, tok,
      |    ROW_NUMBER() OVER (PARTITION BY source ORDER BY tok) AS vrk,
      |    COUNT(*) OVER (PARTITION BY source) AS m FROM d)
      |SELECT source,
      |  COUNT(*) AS n_docs,
      |  CAST(SUM(tok) AS BIGINT) AS n_tokens_total,
      |  CAST(SUM(len(text)) AS BIGINT) AS n_chars_total,
      |  CAST(COUNT(DISTINCT text) AS BIGINT) AS exact_distinct_texts,
      |  CAST(MAX(CASE WHEN vrk = 1 + (50 * (m - 1)) // 100 THEN tok END)
      |    AS BIGINT) AS p50_tokens_exact,
      |  CAST(MAX(CASE WHEN vrk = 1 + (95 * (m - 1)) // 100 THEN tok END)
      |    AS BIGINT) AS p95_tokens_exact,
      |  CAST(1 AS BIGINT) AS hll_within_bound,
      |  CAST(1 AS BIGINT) AS p50_within_bound,
      |  CAST(1 AS BIGINT) AS p95_within_bound
      |FROM r GROUP BY source ORDER BY source""".stripMargin

  /** The engine-portable sketch profile
    * ([[TextAnalysis.portableProfile]]): KMV bottom-32 distinct-text
    * estimate + order-statistic quantiles of a bottom-32 md5(id) doc
    * sample — t5's profile re-expressed so every number replays
    * bit-identically in any engine with an md5, hence fully ORACLED
    * (unlike t5's HLL/KLL, whose outputs are engine-specific by
    * construction). Grouped by lang (every language exceeds 32
    * distinct texts at both test SFs, so the ESTIMATOR path runs, not
    * the small-group exact fallback). */
  def t28PortableProfile(s: SparkSession, d: String): DataFrame =
    TextAnalysis.portableProfile(documents(s, d), "doc_id", "lang", "text",
        k = 32)
      .orderBy("lang")

  val t28Sql: String =
    """WITH d AS (SELECT lang, doc_id,
      |    ('0x' || substr(md5(text), 1, 12))::BIGINT AS h,
      |    ('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 12))::BIGINT AS sh,
      |    len(list_filter(string_split(trim(text), ' '), t -> t != '')) AS tok
      |  FROM documents WHERE text IS NOT NULL),
      |ex AS (SELECT lang, COUNT(*) AS n_docs,
      |    CAST(SUM(tok) AS BIGINT) AS n_tokens_total FROM d GROUP BY 1),
      |hr AS (SELECT lang, h, ROW_NUMBER() OVER (PARTITION BY lang
      |    ORDER BY h) AS rk FROM (SELECT DISTINCT lang, h FROM d)),
      |kd AS (SELECT lang, CAST(CASE WHEN COUNT(*) < 32 THEN COUNT(*)
      |      ELSE (31 * 281474976710656) // MAX(h) END AS BIGINT)
      |    AS kmv_distinct_est
      |  FROM hr WHERE rk <= 32 GROUP BY lang),
      |sr AS (SELECT lang, tok, sh, ROW_NUMBER() OVER (PARTITION BY lang
      |    ORDER BY sh) AS rk FROM d),
      |sv AS (SELECT lang, tok, ROW_NUMBER() OVER (PARTITION BY lang
      |      ORDER BY tok, sh) AS vrk,
      |    COUNT(*) OVER (PARTITION BY lang) AS m
      |  FROM sr WHERE rk <= 32),
      |q AS (SELECT lang,
      |    CAST(MAX(CASE WHEN vrk = 1 + (50 * (m - 1)) // 100 THEN tok END)
      |      AS BIGINT) AS p50_tokens_est,
      |    CAST(MAX(CASE WHEN vrk = 1 + (95 * (m - 1)) // 100 THEN tok END)
      |      AS BIGINT) AS p95_tokens_est
      |  FROM sv GROUP BY lang)
      |SELECT ex.lang, ex.n_docs, ex.n_tokens_total, kd.kmv_distinct_est,
      |  q.p50_tokens_est, q.p95_tokens_est
      |FROM ex JOIN kd USING (lang) JOIN q USING (lang)
      |ORDER BY lang""".stripMargin

  /** Unicode NFC canonicalization through the native codegen
    * expression ([[graft.functions.VectorExprs.nfcNormalize]]) — the
    * text-normalization step lexical dedup needs BEFORE hashing
    * (decomposed vs precomposed accents hash apart and defeat
    * exact/MinHash dedup). The synthetic corpus is ASCII, so
    * deterministic DECOMPOSED sequences are injected per doc (the t8
    * PII-injection idiom): combining acute / combining ring above
    * (NFC composes both), a precomposed é (NFC-invariant), or nothing.
    * Emitted per lang: doc count, how many docs normalization CHANGED,
    * and the md5-prefix sum of the normalized text — any byte
    * difference between the two engines' NFC breaks the hash. Oracle:
    * DuckDB's utf8proc `nfc_normalize` replays Java's Normalizer
    * exactly (both implement Unicode canonical composition). */
  def t29NfcNormalize(s: SparkSession, d: String): DataFrame = {
    val v = pmod(col("doc_id"), lit(4))
    val full = concat(col("text"),
      when(v === 0, lit(" cafe\u0301"))   // e + COMBINING ACUTE -> \u00e9
        .when(v === 1, lit(" A\u030A"))      // A + COMBINING RING ABOVE -> \u00c5
        .when(v === 2, lit(" caf\u00e9"))    // precomposed, NFC-invariant
        .otherwise(lit("")))
    val norm = graft.functions.VectorExprs.nfcNormalize(full)
    documents(s, d)
      .select(col("lang"), full.as("_f"), norm.as("_n"))
      .groupBy("lang")
      .agg(count(lit(1)).as("n_docs"),
        sum(when(col("_n") =!= col("_f"), 1L).otherwise(0L)).as("n_changed"),
        sum(conv(substring(md5(col("_n")), 1, 12), 16, 10).cast("long"))
          .as("norm_md5_sum"))
      .orderBy("lang")
  }

  val t29Sql: String =
    """WITH f AS (SELECT lang, text || CASE doc_id % 4
      |    WHEN 0 THEN ' cafe' || chr(769)
      |    WHEN 1 THEN ' A' || chr(778)
      |    WHEN 2 THEN ' caf' || chr(233)
      |    ELSE '' END AS ftext
      |  FROM documents),
      |n AS (SELECT lang, ftext, nfc_normalize(ftext) AS norm FROM f)
      |SELECT lang, COUNT(*) AS n_docs,
      |  CAST(SUM(CASE WHEN norm != ftext THEN 1 ELSE 0 END) AS BIGINT)
      |    AS n_changed,
      |  CAST(SUM(('0x' || substr(md5(norm), 1, 12))::BIGINT) AS BIGINT)
      |    AS norm_md5_sum
      |FROM n GROUP BY lang ORDER BY lang""".stripMargin

  /** REAL per-frame video decode: a 3-frame PNG container is
    * synthesized per doc, demuxed by signature scan, and every frame
    * decoded through ImageIO; dims + exact integer channel sums per
    * frame hash-match the closed-form oracle. */
  def m3FrameDecode(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    documents(s, d).select(col("doc_id")).as[Long]
      .flatMap { id =>
        val frames = Multimodal.splitPngFrames(Multimodal.syntheticVideo(id, 3))
        require(frames.length == 3, s"expected 3 frames for doc $id, got ${frames.length}")
        frames.zipWithIndex.map { case (png, idx) =>
          val st = Multimodal.imageStats(png).getOrElse(
            throw new IllegalStateException(s"frame $idx of doc $id failed to decode"))
          (id, idx, st.width, st.height, st.sums(0), st.sums(1), st.sums(2))
        }
      }
      .toDF("doc_id", "frame_idx", "width", "height", "sum_c0", "sum_c1", "sum_c2")
      .orderBy("doc_id", "frame_idx")
  }

  val m3Sql: String =
    """WITH p AS (SELECT doc_id, CAST(8 + doc_id % 9 AS INT) AS w,
      |                  CAST(8 + doc_id % 7 AS INT) AS h
      |           FROM documents),
      |px AS (SELECT p.doc_id, p.w, p.h, f.range AS f, x.range AS x, y.range AS y
      |       FROM p, range(3) f, range(16) x, range(14) y
      |       WHERE x.range < p.w AND y.range < p.h)
      |SELECT doc_id, CAST(f AS INT) AS frame_idx, w AS width, h AS height,
      |  CAST(SUM((x + 2*y + doc_id + 7*f) % 256) AS BIGINT) AS sum_c0,
      |  CAST(SUM((x + 2*y + doc_id + 7*f + 5) % 256) AS BIGINT) AS sum_c1,
      |  CAST(SUM((x + 2*y + doc_id + 7*f + 10) % 256) AS BIGINT) AS sum_c2
      |FROM px GROUP BY doc_id, f, w, h
      |ORDER BY doc_id, frame_idx""".stripMargin

  /** Per-frame perceptual hashes through the REAL video path: the
    * 3-frame PNG container is demuxed by the actual frame splitter
    * ([[Multimodal.splitPngFrames]]) and every frame ImageIO-decoded
    * into its aHash — the key a video near-dup pipeline blocks on
    * (shot-level matching = [[Dedup.signaturePairs]] over frame
    * hashes). Exact-integer definition → the whole demux+decode+hash
    * chain replays from the pixel closed form. */
  def m9VideoFramehash(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    documents(s, d).select(col("doc_id")).as[Long]
      .flatMap { id =>
        Multimodal.splitPngFrames(Multimodal.syntheticVideo(id, 3))
          .zipWithIndex.map { case (png, f) =>
            val bits = Multimodal.aHashBits(png).getOrElse(
              throw new IllegalStateException(
                s"frame $f of doc $id failed to decode"))
            (id, f, bits)
          }
      }
      .toDF("doc_id", "frame_idx", "ahash")
      .orderBy("doc_id", "frame_idx")
  }

  val m9Sql: String =
    """WITH p AS (SELECT doc_id, CAST(8 + doc_id % 9 AS INT) AS w,
      |                  CAST(8 + doc_id % 7 AS INT) AS h
      |           FROM documents),
      |px AS (SELECT p.doc_id, p.w, p.h, f.range AS f, x.range AS x, y.range AS y,
      |    ((x.range + 2*y.range + p.doc_id + 7*f.range) % 256)
      |  + ((x.range + 2*y.range + p.doc_id + 7*f.range + 5) % 256)
      |  + ((x.range + 2*y.range + p.doc_id + 7*f.range + 10) % 256) AS lum
      |  FROM p, range(3) f, range(16) x, range(14) y
      |  WHERE x.range < p.w AND y.range < p.h),
      |b AS (SELECT doc_id, f, ((x*8)//w)*8 + (y*8)//h AS k,
      |        SUM(lum) AS s, COUNT(*) AS c
      |      FROM px GROUP BY doc_id, f, ((x*8)//w)*8 + (y*8)//h),
      |t AS (SELECT doc_id, f, k, (s * 64) // c AS t FROM b),
      |tot AS (SELECT doc_id, f, SUM(t) AS total FROM t GROUP BY doc_id, f)
      |SELECT t.doc_id, CAST(t.f AS INT) AS frame_idx,
      |  string_agg(CASE WHEN 64 * t.t > tot.total THEN '1' ELSE '0' END,
      |             '' ORDER BY t.k) AS ahash
      |FROM t JOIN tot ON t.doc_id = tot.doc_id AND t.f = tot.f
      |GROUP BY t.doc_id, t.f ORDER BY t.doc_id, frame_idx""".stripMargin

  /** Perceptual video-dup groups — the video-side m7/m10: two videos
    * are perceptual duplicates when their ORDERED frame-hash sequences
    * match (the whole demux → per-frame decode → aHash chain, joined
    * with '|'). Completes identical-signature dedup across all three
    * modalities; near-dup at frame granularity uses
    * [[Dedup.signaturePairs]] on m9's per-frame hashes. Exact-integer
    * hash definition → the sequence key replays from the pixel closed
    * form. */
  def m12VideoDedup(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    documents(s, d).select(col("doc_id")).as[Long]
      .mapPartitions(_.map { id =>
        val sig = Multimodal.splitPngFrames(Multimodal.syntheticVideo(id, 3))
          .zipWithIndex.map { case (png, f) =>
            Multimodal.aHashBits(png).getOrElse(
              throw new IllegalStateException(
                s"frame $f of doc $id failed to decode"))
          }.mkString("|")
        (id, sig)
      })
      .toDF("doc_id", "vhash")
      .groupBy("vhash")
      .agg(count(lit(1)).as("n_videos"), min(col("doc_id")).as("min_doc"))
      .orderBy("vhash")
  }

  val m12Sql: String =
    """WITH p AS (SELECT doc_id, CAST(8 + doc_id % 9 AS INT) AS w,
      |                  CAST(8 + doc_id % 7 AS INT) AS h
      |           FROM documents),
      |px AS (SELECT p.doc_id, p.w, p.h, f.range AS f, x.range AS x, y.range AS y,
      |    ((x.range + 2*y.range + p.doc_id + 7*f.range) % 256)
      |  + ((x.range + 2*y.range + p.doc_id + 7*f.range + 5) % 256)
      |  + ((x.range + 2*y.range + p.doc_id + 7*f.range + 10) % 256) AS lum
      |  FROM p, range(3) f, range(16) x, range(14) y
      |  WHERE x.range < p.w AND y.range < p.h),
      |b AS (SELECT doc_id, f, ((x*8)//w)*8 + (y*8)//h AS k,
      |        SUM(lum) AS s, COUNT(*) AS c
      |      FROM px GROUP BY doc_id, f, ((x*8)//w)*8 + (y*8)//h),
      |t AS (SELECT doc_id, f, k, (s * 64) // c AS t FROM b),
      |tot AS (SELECT doc_id, f, SUM(t) AS total FROM t GROUP BY doc_id, f),
      |fh AS (SELECT t.doc_id, t.f,
      |  string_agg(CASE WHEN 64 * t.t > tot.total THEN '1' ELSE '0' END,
      |             '' ORDER BY t.k) AS ahash
      |  FROM t JOIN tot ON t.doc_id = tot.doc_id AND t.f = tot.f
      |  GROUP BY t.doc_id, t.f),
      |vh AS (SELECT doc_id, string_agg(ahash, '|' ORDER BY f) AS vhash
      |       FROM fh GROUP BY doc_id)
      |SELECT vhash, COUNT(*) AS n_videos, MIN(doc_id) AS min_doc
      |FROM vh GROUP BY vhash ORDER BY vhash""".stripMargin

  /** M13 (beyond ref): shot/scene-change detection — the video
    * pipeline's segmentation primitive: a cut is declared between
    * consecutive frames whose perceptual aHashes differ in ≥ 16 of 64
    * bits (the standard shot-boundary heuristic over m9's per-frame
    * hashes). A video's frames live in ONE row's payload, so the
    * demux → decode → hash → consecutive-hamming chain is pure per-row
    * work — no shuffle at all before the output sort; at 100 TB the
    * cut detector scales with video count, not frame count × cluster
    * coordination. Exact-integer hash + integer hamming → the whole
    * chain replays from the pixel closed form. */
  def m13SceneCuts(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    documents(s, d).select(col("doc_id")).as[Long]
      .flatMap { id =>
        val hs = Multimodal.splitPngFrames(Multimodal.syntheticVideo(id, 3))
          .zipWithIndex.map { case (png, f) =>
            Multimodal.aHashBits(png).getOrElse(
              throw new IllegalStateException(
                s"frame $f of doc $id failed to decode"))
          }
        hs.sliding(2).zipWithIndex.flatMap {
          case (Seq(a, b), i) =>
            val ham = a.zip(b).count { case (x, y) => x != y }
            if (ham >= 16) Some((id, (i + 1).toLong, ham.toLong)) else None
          case _ => None
        }
      }
      .toDF("doc_id", "frame_idx", "hamming")
      .orderBy("doc_id", "frame_idx")
  }

  val m13Sql: String =
    """WITH p AS (SELECT doc_id, CAST(8 + doc_id % 9 AS INT) AS w,
      |                  CAST(8 + doc_id % 7 AS INT) AS h
      |           FROM documents),
      |px AS (SELECT p.doc_id, p.w, p.h, f.range AS f, x.range AS x, y.range AS y,
      |    ((x.range + 2*y.range + p.doc_id + 7*f.range) % 256)
      |  + ((x.range + 2*y.range + p.doc_id + 7*f.range + 5) % 256)
      |  + ((x.range + 2*y.range + p.doc_id + 7*f.range + 10) % 256) AS lum
      |  FROM p, range(3) f, range(16) x, range(14) y
      |  WHERE x.range < p.w AND y.range < p.h),
      |b AS (SELECT doc_id, f, ((x*8)//w)*8 + (y*8)//h AS k,
      |        SUM(lum) AS s, COUNT(*) AS c
      |      FROM px GROUP BY doc_id, f, ((x*8)//w)*8 + (y*8)//h),
      |t AS (SELECT doc_id, f, k, (s * 64) // c AS t FROM b),
      |tot AS (SELECT doc_id, f, SUM(t) AS total FROM t GROUP BY doc_id, f),
      |bits AS (SELECT t.doc_id, t.f, t.k,
      |    CASE WHEN 64 * t.t > tot.total THEN 1 ELSE 0 END AS bit
      |  FROM t JOIN tot ON t.doc_id = tot.doc_id AND t.f = tot.f),
      |h AS (SELECT a.doc_id, b2.f AS frame_idx,
      |        SUM(CASE WHEN a.bit != b2.bit THEN 1 ELSE 0 END) AS ham
      |      FROM bits a JOIN bits b2
      |        ON a.doc_id = b2.doc_id AND a.k = b2.k AND b2.f = a.f + 1
      |      GROUP BY 1, 2)
      |SELECT doc_id, CAST(frame_idx AS BIGINT) AS frame_idx,
      |  CAST(ham AS BIGINT) AS hamming
      |FROM h WHERE ham >= 16
      |ORDER BY doc_id, frame_idx""".stripMargin

  /** REAL audio decode: a 16-bit PCM WAV is synthesized per doc and
    * decoded back through the JRE's javax.sound.sampled (RIFF header
    * parsed by the real reader); format fields + exact integer sample
    * sums hash-match the closed-form oracle. */
  def m4AudioDecode(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    documents(s, d).select(col("doc_id")).as[Long]
      .mapPartitions { it =>
        it.map { id =>
          val st = Multimodal.audioStats(Multimodal.syntheticWav(id)).getOrElse(
            throw new IllegalStateException(s"WAV for doc $id failed to decode"))
          // Σv² ≤ 300·2³⁰ ≪ 2⁵³: the double accumulator is exact here
          (id, st.channels, st.sampleRate, st.nFrames,
            st.sums(0), st.sumSquares(0).toLong)
        }
      }
      .toDF("doc_id", "channels", "sample_rate", "n_samples", "sum_s", "sum_sq")
      .orderBy("doc_id")
  }

  val m4Sql: String =
    """WITH p AS (SELECT doc_id, 200 + doc_id % 100 AS n, doc_id % 251 + 3 AS k
      |           FROM documents),
      |s AS (SELECT p.doc_id, ((i.range * p.k) % 65536) - 32768 AS v
      |      FROM p, range(300) i WHERE i.range < p.n)
      |SELECT doc_id, CAST(1 AS INT) AS channels, CAST(8000 AS INT) AS sample_rate,
      |  CAST(COUNT(*) AS BIGINT) AS n_samples,
      |  CAST(SUM(v) AS BIGINT) AS sum_s,
      |  CAST(SUM(v * v) AS BIGINT) AS sum_sq
      |FROM s GROUP BY doc_id
      |ORDER BY doc_id""".stripMargin

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "d1_exact_dedup" -> (d1ExactDedup _),
    "d2_minhash_lsh" -> (d2MinhashLsh _),
    "d3_simhash" -> (d3Simhash _),
    "d4_ngram_jaccard" -> (d4NgramJaccard _),
    "d12_containment" -> (d12Containment _),
    "d5_embed_neardup" -> (d5EmbedNearDup _),
    "cc1_dedup_clusters" -> (cc1DedupClusters _),
    "cc2_dedup_apply" -> (cc2DedupApply _),
    "cc4_dedup_best" -> (cc4DedupBest _),
    "cc3_minhash_clusters" -> (cc3MinhashClusters _),
    "e1_corpus_funnel" -> (e1CorpusFunnel _),
    "e2_decontaminate" -> (e2Decontaminate _),
    "e7_bloom_decontaminate" -> (e7BloomDecontaminate _),
    "e5_fuzzy_decontaminate" -> (e5FuzzyDecontaminate _),
    "e9_contamination_report" -> (e9ContaminationReport _),
    "e10_suite_rollup" -> (e10SuiteRollup _),
    "e6_cluster_split" -> (e6ClusterSplit _),
    "e8_training_export" -> (e8TrainingExport _),
    "t18_datasheet" -> (t18Datasheet _),
    "s1_cosine_topk" -> (s1CosineTopK _),
    "s2_ann_lsh" -> (s2AnnLsh _),
    "s3_ann_ivf" -> (s3AnnIvf _),
    "s4_ann_ivfpq" -> (s4AnnIvfPq _),
    "s5_incremental_pq" -> (s5IncrementalPq _),
    "s6_whiten" -> (s6Whiten _),
    "s7_embed_centroids" -> (s7EmbedCentroids _),
    "s8_sq_quantize" -> (s8SqQuantize _),
    "s10_mips_topk" -> (s10MipsTopK _),
    "s11_kmeans" -> (s11Kmeans _),
    "s12_ivf_det" -> (s12IvfDet _),
    "t1_text_stats" -> (t1TextStats _),
    "t3_langid" -> (t3LangId _),
    "t4_fingerprint" -> (t4Fingerprint _),
    "t2_repetition" -> (t2Repetition _),
    "t19_filter_bank" -> (t19FilterBank _),
    "t22_vocab_growth" -> (t22VocabGrowth _),
    "t24_tfidf_keywords" -> (t24TfidfKeywords _),
    "t25_zipf_slope" -> (t25ZipfSlope _),
    "t26_readability" -> (t26Readability _),
    "t27_js_divergence" -> (t27JsDivergence _),
    "d15_normalized_dedup" -> (d15NormalizedDedup _),
    "t15_collocations" -> (t15Collocations _),
    "t5_profile" -> (t5Profile _),
    "t28_portable_profile" -> (t28PortableProfile _),
    "t29_nfc_normalize" -> (t29NfcNormalize _),
    "m1_multimodal" -> (m1Multimodal _),
    "m2_image_decode" -> (m2ImageDecode _),
    "m5_media_quality" -> (m5MediaQuality _),
    "m6_image_ahash" -> (m6ImageAhash _),
    "m11_image_dhash" -> (m11ImageDhash _),
    "m7_image_dedup" -> (m7ImageDedup _),
    "m8_audio_fingerprint" -> (m8AudioFingerprint _),
    "m10_audio_dedup" -> (m10AudioDedup _),
    "m9_video_framehash" -> (m9VideoFramehash _),
    "m12_video_dedup" -> (m12VideoDedup _),
    "m13_scene_cuts" -> (m13SceneCuts _),
    "m3_frame_decode" -> (m3FrameDecode _),
    "m4_audio_decode" -> (m4AudioDecode _))

  def oracles: Map[String, String] = Map(
    "d1_exact_dedup" -> d1Sql,
    "d4_ngram_jaccard" -> d4Sql,
    "d12_containment" -> d12Sql,
    "cc1_dedup_clusters" -> cc1Sql,
    "cc2_dedup_apply" -> cc2Sql,
    "cc4_dedup_best" -> cc4Sql,
    "e1_corpus_funnel" -> e1Sql,
    "e2_decontaminate" -> e2Sql,
    "e7_bloom_decontaminate" -> e2Sql,
    "e6_cluster_split" -> e6Sql,
    "e8_training_export" -> e8Sql,
    "t18_datasheet" -> t18Sql,
    "s7_embed_centroids" -> s7Sql,
    "s8_sq_quantize" -> s8Sql,
    "s6_whiten" -> s6Sql,
    "t5_profile" -> t5Sql,
    "t28_portable_profile" -> t28Sql,
    "t29_nfc_normalize" -> t29Sql,
    "m1_multimodal" -> m1Sql,
    "s3_ann_ivf" -> s3Sql,
    "s4_ann_ivfpq" -> s4Sql,
    "s5_incremental_pq" -> s5Sql,
    "s10_mips_topk" -> s10Sql,
    "s11_kmeans" -> s11Sql,
    "s12_ivf_det" -> s12Sql,
    "s1_cosine_topk" -> s1Sql,
    "t1_text_stats" -> t1Sql,
    "t3_langid" -> t3Sql,
    "t4_fingerprint" -> t4Sql,
    "t2_repetition" -> t2Sql,
    "t19_filter_bank" -> t19Sql,
    "t22_vocab_growth" -> t22Sql,
    "t24_tfidf_keywords" -> t24Sql,
    "t25_zipf_slope" -> t25Sql,
    "t26_readability" -> t26Sql,
    "t27_js_divergence" -> t27Sql,
    "d15_normalized_dedup" -> d15Sql,
    "t15_collocations" -> t15Sql,
    "m2_image_decode" -> m2Sql,
    "m5_media_quality" -> m5Sql,
    "m6_image_ahash" -> m6Sql,
    "m11_image_dhash" -> m11Sql,
    "m7_image_dedup" -> m7Sql,
    "m8_audio_fingerprint" -> m8Sql,
    "m10_audio_dedup" -> m10Sql,
    "m9_video_framehash" -> m9Sql,
    "m12_video_dedup" -> m12Sql,
    "m13_scene_cuts" -> m13Sql,
    "m3_frame_decode" -> m3Sql,
    "m4_audio_decode" -> m4Sql,
    "d2_minhash_lsh" -> PortableHashOracle.d2Sql,
    "d3_simhash" -> PortableHashOracle.d3Sql,
    "cc3_minhash_clusters" -> PortableHashOracle.cc3Sql,
    "e5_fuzzy_decontaminate" -> PortableHashOracle.e5Sql,
    "e9_contamination_report" -> PortableHashOracle.e9Sql,
    "e10_suite_rollup" -> PortableHashOracle.e10Sql,
    "d5_embed_neardup" -> LshOracle.d5Sql,
    "s2_ann_lsh" -> LshOracle.s2Sql)
}
