package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

/** One-decade-deeper exponent probe for the battery's highest-exponent
  * tail: `runMain graft.TailScale <query> <nCopies>`.
  *
  * SfScaling fits per-query exponents across sf0.001/0.01/0.1 and the
  * 0.3–0.42 tail (e3, g2, g3, g4, a19) reads as "a linear term emerging
  * above a large constant" — a claim that should be TESTED one decade
  * up, where a hidden superlinear term would finally dominate. This
  * harness builds ScaleCheck-style disjoint-copy inputs at N× the
  * sf0.1 tables (true work grows exactly ×N by construction) into a
  * directory shaped like a testdata dir, then runs the REAL battery
  * entry (`SparkEntry.queries(name)`) against it — same plan, same
  * rounding, same orderBy, nothing re-derived for the harness.
  *
  * Copy construction (ScaleCheck builds its copies with the same
  * generators):
  *  - documents: copy k offsets doc_id by k·10⁷ and suffixes every
  *    word with `_ck` — shingle/df structure replicates per copy,
  *    disjoint across copies.
  *  - lineitem: copy k offsets l_orderkey and l_partkey by k·10⁹ —
  *    co-purchase graphs of different copies are vertex-disjoint
  *    (offsets divisible by 1000 and 100 keep the derived
  *    rootid = ok % 1000 and visit = pk % 100 distributions, so
  *    light-curve groups DEEPEN ×N exactly as they do when the real
  *    table grows).
  *
  * Run each (query, scale) in its own JVM invocation (the SfScaling
  * discipline); generation is cached per scale under the scratch dir
  * and excluded from timings. Prints cold + warm median over nWarms
  * runs (optional third arg, default 3; an even count reports the
  * mean of the middle two); the exponent one decade up is
  * log10(t(100×)/t(10×)).
  *
  * Round-14 additions: e4/e7 (documents copies), ev8 (events copies —
  * rollup groups deepen ×N), and the d6 OPERATOR probe (embeddings
  * copies rotated/negated per copy + nlist scaled ×N — see the
  * d6Probe note for why the battery's planted-pair contract cannot be
  * replicated ×N directly).
  */
object TailScale {

  // e8 (r16): pure documents-table derivation like e3 — the whole
  // export (dedup → exact-k cap → global shuffle → pack → manifest)
  // deepens ×N, exercising this round's narrow-shuffle rewrite.
  // e1 (r16): documents-only funnel whose pair stage auto-switches to
  // the PPJoin prefix-filter branch above 50k docs — ×10 of sf0.1
  // crosses that threshold, so this probe measures the branch the
  // 100 TB brief would actually run (sf0.1 itself never exercises it
  // at battery scale).
  private val docQueries = Set("e1_corpus_funnel", "e3_export_manifest",
    "e4_tokenized_pack", "e7_bloom_decontaminate", "e8_training_export")
  // a2/a4/sp1 (r15): lineitem-derived photometry deepens ×N under the
  // same offsets — rootid = l_orderkey % 1000 and apiCatalog's
  // diaobjectid = (l_orderkey*10 + l_linenumber) % 400 are both
  // preserved because k·10⁹·10 is divisible by 1000 and 400 — so the
  // per-object light curves grow ×N exactly as a longer survey would
  // grow them. sp1's dims (customer/supplier/nation wanted lists) ride
  // through as symlinks at 1×: dim tables don't grow with the survey.
  private val liQueries =
    Set("g2_triangles", "g3_link_predict", "g4_communities", "a19_lomb_scargle",
      "a2_objstats", "a4_rollup", "sp1_wanted_spectra")
  // st2 (r15): events copies share user_id/ts, so each user's session
  // structure keeps its bounds while every session deepens ×N — a
  // busier stream, the realistic growth mode for sessionization.
  private val evQueries = Set("ev8_incremental_rollup", "st2_stream_sessions")
  // d6's battery entry is its planted-pair contract, whose truth-pair
  // volume is QUADRATIC in the vector count by construction (8 fixed
  // planted groups that deepen with the corpus) — replicating it ×N
  // measures the construction, not the engine. The tail probe instead
  // runs the real operator (SemDedup.semanticPairs) over ×N rotated/
  // sign-flipped copies of the embeddings table with nlist scaled ×N —
  // the configuration the operator's own Scaladoc prescribes at scale
  // (hold the expected cell size constant), which is the 100 TB
  // question being tested.
  private val d6Probe = "d6_semantic_dedup"

  def main(args: Array[String]): Unit = {
    val name = args(0)
    val nCopies = args(1).toInt
    // optional third arg: warm-run count (default 3) — the 100× runs
    // of the linear-dominated queries cost minutes per execution, and
    // 2 warms bound a multi-hour sweep while still separating warm
    // from cold
    val nWarms = if (args.length > 2) args(2).toInt else 3
    require(nWarms >= 1, s"nWarms must be >= 1, got $nWarms")
    require(docQueries.contains(name) || liQueries.contains(name) ||
      evQueries.contains(name) || name == d6Probe,
      s"unknown tail query $name")
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = GraftSession.cpus
    val scratch = sys.env.getOrElse("SPARK_GRAFT_SCRATCH", "/tmp/graft_tail")
    val spark = GraftSession.create()

    val dir =
      if (nCopies == 1) sfDir
      else {
        val d = s"$scratch/x$nCopies"
        val scaled =
          if (docQueries.contains(name)) {
            genDocs(spark, sfDir, d, nCopies, cpus); "documents"
          } else if (evQueries.contains(name)) {
            genEvents(spark, sfDir, d, nCopies, cpus); "events"
          } else if (name == d6Probe) {
            genEmbeddings(spark, sfDir, d, nCopies, cpus); "embeddings"
          } else {
            genLineitem(spark, sfDir, d, nCopies, cpus); "lineitem"
          }
        linkOthers(sfDir, d, except = scaled)
        d
      }

    val fn: (SparkSession, String) => org.apache.spark.sql.DataFrame =
      if (name == d6Probe) { (s, dd) =>
        graft.pipeline.SemDedup.semanticPairs(
          s.read.parquet(s"$dd/embeddings.parquet")
            .select(col("vec_id"), col("embedding")),
          "vec_id", "embedding", nlist = 8 * nCopies, threshold = 0.8)
      }
      else SparkEntry.queries(name)
    def once(): Double = {
      val t0 = System.nanoTime()
      fn(spark, dir).write.mode("overwrite").format("noop").save()
      val dt = (System.nanoTime() - t0) / 1e9
      GraftSession.clean(spark)
      dt
    }
    val cold = once()
    val n = fn(spark, dir).count() // untimed, result-shape sanity only
    GraftSession.clean(spark)
    val warms = Seq.fill(nWarms)(once()).sorted
    val med =
      if (nWarms % 2 == 1) warms(nWarms / 2)
      else (warms(nWarms / 2 - 1) + warms(nWarms / 2)) / 2
    println(f"[tailscale] $name x$nCopies%-4d rows=$n%-9d " +
      f"cold=${cold}%7.2f s  warm_med=${med}%7.2f s  warm_min=${warms.head}%7.2f s")
    spark.stop()
  }

  /** Symlink every base table the probe does NOT scale into the scaled
    * dir, so multi-table queries (sp1's dims, a2's procver joins) run
    * against it unchanged — dim tables staying at 1× is the realistic
    * growth mode. Never overwrites a real generated table; a gen for a
    * table that was previously linked deletes the link first
    * ([[dropIfSymlink]]), so a write can never chase a link into the
    * read-only source dir. */
  private def linkOthers(sfDir: String, outDir: String, except: String): Unit =
    graft.Tables.names.filter(_ != except).foreach { n =>
      val src = java.nio.file.Paths.get(s"$sfDir/$n.parquet")
      val dst = java.nio.file.Paths.get(s"$outDir/$n.parquet")
      if (java.nio.file.Files.exists(src) &&
          !java.nio.file.Files.exists(dst,
            java.nio.file.LinkOption.NOFOLLOW_LINKS))
        java.nio.file.Files.createSymbolicLink(dst, src): Unit
    }

  /** A scaled-table generator's first act: if its output path is a
    * symlink (left by a PREVIOUS probe that scaled a different table
    * and linked this one through), remove the link — both so the
    * `_SUCCESS` cache check can't mistake the 1× link for a committed
    * generation, and so the overwrite-write can't follow the link into
    * the source dir. */
  private def dropIfSymlink(out: String): Unit = {
    val p = java.nio.file.Paths.get(out)
    if (java.nio.file.Files.isSymbolicLink(p)) java.nio.file.Files.delete(p)
  }

  /** Whether a cached generation at `out` is complete. A crash
    * mid-write leaves a partial dir that a bare exists() would silently
    * accept, corrupting every later measurement; `_SUCCESS` is written
    * on job commit, and mode("overwrite") cleanly replaces any partial
    * leftover. */
  private[graft] def committed(out: String): Boolean =
    new java.io.File(out, "_SUCCESS").exists()

  /** documents ×n into `outDir/documents.parquet`; see the object doc. */
  private[graft] def genDocs(spark: SparkSession, sfDir: String, outDir: String,
      n: Int, cpus: Int): Unit = {
    val out = s"$outDir/documents.parquet"
    dropIfSymlink(out)
    if (committed(out)) return
    val base = spark.read.parquet(s"$sfDir/documents.parquet")
    (0 until n).map { k =>
      base.select(
        (col("doc_id") + lit(k.toLong * 10000000L)).as("doc_id"),
        (if (k == 0) col("text")
         else regexp_replace(col("text"), "(\\S+)", s"$$1_c$k")).as("text"),
        col("lang"), col("source"), col("n_chars"))
    }.reduce(_ unionByName _)
      .repartition(cpus).write.mode("overwrite").parquet(out)
  }

  /** events ×n: event_id offset by k·10⁹ (divisible by 4, so the
    * battery's %4 micro-batch split keeps its distribution);
    * ts/type/value untouched, so the (day, event_type) rollup groups
    * DEEPEN ×n exactly as a busier real stream would. */
  private def genEvents(spark: SparkSession, sfDir: String, outDir: String,
      n: Int, cpus: Int): Unit = {
    val out = s"$outDir/events.parquet"
    dropIfSymlink(out)
    if (committed(out)) return
    val base = spark.read.parquet(s"$sfDir/events.parquet")
    (0 until n).map { k =>
      base.withColumn("event_id", col("event_id") + lit(k.toLong * 1000000000L))
    }.reduce(_ unionByName _)
      .repartition(cpus).write.mode("overwrite").parquet(out)
  }

  /** embeddings ×n, pairwise-dissimilar across copies: vec_id offset
    * by k·10⁷; copy k's vectors are circularly rotated by k mod dim
    * positions (slice+concat projections, codegen-friendly) and
    * globally negated every dim copies ((−1)^(k div dim)) — the
    * negation leg (copies ≥ dim only) is a per-element transform
    * lambda, generation-time and untimed. Rotated/negated real
    * embeddings are
    * almost surely below any near-dup threshold against other
    * copies, so true near-dup structure replicates ×n while the
    * probe's nlist scales ×n to hold cell size constant. */
  private def genEmbeddings(spark: SparkSession, sfDir: String, outDir: String,
      n: Int, cpus: Int): Unit = {
    val out = s"$outDir/embeddings.parquet"
    dropIfSymlink(out)
    if (committed(out)) return
    val base = spark.read.parquet(s"$sfDir/embeddings.parquet")
      .select(col("vec_id"), col("embedding"))
    val dim = base.select(size(col("embedding")).as("d")).head().getInt(0)
    // rotate-by-(k mod dim) × negate-every-dim-copies repeats with
    // period 2·dim: copy k and copy k+2·dim would be bit-identical,
    // silently reintroducing the quadratic cross-copy near-dup volume
    // this scheme exists to exclude. Refuse rather than alias.
    require(n <= 2 * dim,
      s"genEmbeddings: n=$n exceeds the 2*dim=${2 * dim} pairwise-dissimilar period")
    (0 until n).map { k =>
      val rot = k % dim
      val sign = if ((k / dim) % 2 == 0) 1.0f else -1.0f
      val rotated =
        if (rot == 0) col("embedding")
        else concat(slice(col("embedding"), rot + 1, dim - rot),
          slice(col("embedding"), 1, rot))
      base.select(
        (col("vec_id") + lit(k.toLong * 10000000L)).as("vec_id"),
        (if (sign == 1.0f) rotated
         else transform(rotated, x => -x)).as("embedding"))
    }.reduce(_ unionByName _)
      .repartition(cpus).write.mode("overwrite").parquet(out)
  }

  /** lineitem ×n into `outDir/lineitem.parquet`; see the object doc. */
  private[graft] def genLineitem(spark: SparkSession, sfDir: String, outDir: String,
      n: Int, cpus: Int): Unit = {
    val out = s"$outDir/lineitem.parquet"
    dropIfSymlink(out)
    if (committed(out)) return
    val base = spark.read.parquet(s"$sfDir/lineitem.parquet")
    (0 until n).map { k =>
      base
        .withColumn("l_orderkey", col("l_orderkey") + lit(k.toLong * 1000000000L))
        .withColumn("l_partkey", col("l_partkey") + lit(k.toLong * 1000000000L))
    }.reduce(_ unionByName _)
      .repartition(cpus).write.mode("overwrite").parquet(out)
  }
}
