package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** The scale probe: `runMain graft.TailScale <query> <nCopies> [warms]`.
  *
  * At sf0.1 most of the battery measures fixed cost, so a scale claim
  * is tested one or two decades up, where a hidden superlinear term
  * would finally dominate. This harness builds disjoint-copy inputs at
  * N× the base table the query scales ([[scaledTable]]) into a
  * directory shaped like a testdata dir, then runs the REAL battery
  * entry (`SparkEntry.queries(name)`) against it — same plan, same
  * rounding, same orderBy, nothing re-derived for the harness. Every
  * other table is symlinked through at 1×.
  *
  * Copy construction ([[generators]]; true work grows exactly ×N):
  *  - documents: copy k offsets doc_id by k·10⁷ and suffixes every
  *    word with `_ck` — shingle/df structure replicates per copy,
  *    disjoint across copies.
  *  - lineitem: copy k offsets l_orderkey and l_partkey by k·10⁹ —
  *    co-purchase graphs of different copies are vertex-disjoint
  *    (offsets divisible by 1000 and 100 keep the derived
  *    rootid = ok % 1000 and visit = pk % 100 distributions, so
  *    light-curve groups DEEPEN ×N exactly as they do when the real
  *    table grows).
  *  - events: event_id offset by k·10⁹ (divisible by 4, so the
  *    battery's %4 micro-batch split keeps its distribution);
  *    ts/type/value untouched, so rollup groups and sessions DEEPEN ×N
  *    as a busier real stream would.
  *  - embeddings: vec_id offset by k·10⁷, vectors rotated/negated per
  *    copy ([[embeddingCopy]]).
  *
  * Each run is [[Probe.Meter.run]]: seconds plus the job and stage
  * census, with cache hygiene between runs. Run each (query, scale) in
  * its own JVM invocation; generation is cached per scale and core
  * count under the scratch dir and excluded from timings. Prints every
  * run, then cold + warm median over `warms` runs (default 3; an even
  * count reports the mean of the middle two); the exponent one decade
  * up is log10(t(100×)/t(10×)). At ×1 any battery query runs against
  * SPARK_GRAFT_SF_DIR itself, which is the per-scale-factor sweep.
  */
object TailScale {

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

  /** Query → the one table whose copies it scales over. A query is
    * mapped only when its entry reads that table plus dimension tables
    * and nothing else, and its construction grows ×N with the copies.
    * a16_structure_func stays out: its rootid = l_orderkey % 1000 is
    * shared by every copy, so each curve deepens ×N and the in-window
    * pair volume grows ×N² by construction. */
  private[graft] val scaledTable: Map[String, String] = {
    // e1 (r16): its pair stage switches to the PPJoin prefix-filter
    // branch above 50k docs, so ×10 of sf0.1 measures the branch a
    // 100 TB run would take (sf0.1 itself never exercises it).
    val documents = Seq("e1_corpus_funnel", "e3_export_manifest",
      "e4_tokenized_pack", "e7_bloom_decontaminate", "e8_training_export",
      "d1_exact_dedup", "d2_minhash_lsh", "d3_simhash", "d4_ngram_jaccard",
      "d7_dup_spans", "d9_incremental_neardup", "d12_containment",
      "cc1_dedup_clusters", "cc5_live_clusters", "p7_global_shuffle",
      "p8_exact_sample", "p9_weighted_sample", "t19_filter_bank",
      "t21_trigram_kn")
    // a2/a4/sp1: rootid = l_orderkey % 1000 and apiCatalog's
    // diaobjectid = (l_orderkey*10 + l_linenumber) % 400 survive the
    // offsets, so per-object light curves grow ×N as a longer survey
    // would grow them; sp1's wanted lists are dimension tables at 1×.
    val lineitem = Seq("g1_pagerank", "g2_triangles", "g3_link_predict",
      "g4_communities", "g5_bfs", "a19_lomb_scargle", "a2_objstats",
      "a4_rollup", "sp1_wanted_spectra")
    val events = Seq("ev8_incremental_rollup", "st2_stream_sessions")
    val embeddings = Seq(d6Probe, "s8_sq_quantize")
    Seq("documents" -> documents, "lineitem" -> lineitem,
      "events" -> events, "embeddings" -> embeddings)
      .flatMap { case (t, qs) => qs.map(_ -> t) }.toMap
  }

  /** Table → its k-th disjoint copy, given the base table and the copy
    * count; see the object doc. */
  private[graft] val generators: Map[String, (DataFrame, Int) => Int => DataFrame] =
    Map("documents" -> (documentCopy _), "lineitem" -> (lineitemCopy _),
      "events" -> (eventCopy _), "embeddings" -> (embeddingCopy _))

  def main(args: Array[String]): Unit = {
    val name = args(0)
    val nCopies = args(1).toInt
    // optional third arg: warm-run count (default 3) — the 100× runs
    // of the linear-dominated queries cost minutes per execution, and
    // 2 warms bound a multi-hour sweep while still separating warm
    // from cold
    val nWarms = if (args.length > 2) args(2).toInt else 3
    require(nWarms >= 1, s"nWarms must be >= 1, got $nWarms")
    require(SparkEntry.queries.contains(name), s"unknown query $name")
    require(nCopies == 1 || scaledTable.contains(name),
      s"$name has no scaled table; only x1 runs it")
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = GraftSession.cpus
    val scratch = sys.env.getOrElse("SPARK_GRAFT_SCRATCH", "/tmp/graft_tail")
    val m = Probe.meter()
    val spark = m.spark

    val dir =
      if (nCopies == 1) sfDir
      else {
        // keyed by layout too: the copies are written in `cpus` files
        val d = s"$scratch/x${nCopies}_c$cpus"
        val table = scaledTable(name)
        generate(spark, sfDir, d, table, nCopies, cpus)
        linkOthers(sfDir, d, except = table)
        d
      }

    val fn: (SparkSession, String) => DataFrame =
      if (name == d6Probe) { (s, dd) =>
        graft.pipeline.SemDedup.semanticPairs(
          s.read.parquet(s"$dd/embeddings.parquet")
            .select(col("vec_id"), col("embedding")),
          "vec_id", "embedding", nlist = 8 * nCopies, threshold = 0.8)
      }
      else SparkEntry.queries(name)
    val cold = m.run(fn(spark, dir))
    val n = fn(spark, dir).count() // untimed, result-shape sanity only
    GraftSession.clean(spark)
    val warms = Seq.fill(nWarms)(m.run(fn(spark, dir)))
    (cold +: warms).zipWithIndex.foreach { case (r, i) =>
      println(s"[tailscale] $name x$nCopies run${i + 1}: ${r.summary}")
    }
    val secs = warms.map(_.secs)
    println(f"[tailscale] $name x$nCopies%-4d rows=$n%-9d " +
      f"cold=${cold.secs}%7.2f s  warm_med=${Probe.median(secs)}%7.2f s  warm_min=${secs.min}%7.2f s")
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

  /** `table` ×n into `outDir/<table>.parquet` as `cpus` files, unless a
    * committed generation is already there. A crash mid-write leaves a
    * partial dir that a bare exists() would silently accept; `_SUCCESS`
    * is written on job commit, and mode("overwrite") cleanly replaces
    * any partial leftover. */
  private def generate(spark: SparkSession, sfDir: String, outDir: String,
      table: String, n: Int, cpus: Int): Unit = {
    val out = s"$outDir/$table.parquet"
    dropIfSymlink(out)
    if (!new java.io.File(out, "_SUCCESS").exists()) {
      val copy = generators(table)(spark.read.parquet(s"$sfDir/$table.parquet"), n)
      (0 until n).map(copy).reduce(_ unionByName _)
        .repartition(cpus).write.mode("overwrite").parquet(out)
    }
  }

  private def documentCopy(base: DataFrame, n: Int)(k: Int): DataFrame =
    base.withColumn("doc_id", col("doc_id") + lit(k.toLong * 10000000L))
      .withColumn("text",
        if (k == 0) col("text")
        else regexp_replace(col("text"), "(\\S+)", s"$$1_c$k"))

  private def lineitemCopy(base: DataFrame, n: Int)(k: Int): DataFrame =
    base
      .withColumn("l_orderkey", col("l_orderkey") + lit(k.toLong * 1000000000L))
      .withColumn("l_partkey", col("l_partkey") + lit(k.toLong * 1000000000L))

  private def eventCopy(base: DataFrame, n: Int)(k: Int): DataFrame =
    base.withColumn("event_id", col("event_id") + lit(k.toLong * 1000000000L))

  /** Embeddings, pairwise-dissimilar across copies: copy k's vectors
    * are circularly rotated by k mod dim positions (slice+concat
    * projections, codegen-friendly) and globally negated every dim
    * copies ((−1)^(k div dim)) — the negation leg (copies ≥ dim only)
    * is a per-element transform lambda, generation-time and untimed.
    * Rotated/negated real embeddings are almost surely below any
    * near-dup threshold against other copies, so true near-dup
    * structure replicates ×n while the d6 probe's nlist scales ×n to
    * hold cell size constant. */
  private def embeddingCopy(base: DataFrame, n: Int): Int => DataFrame = {
    val dim = base.select(size(col("embedding")).as("d")).head().getInt(0)
    // rotate-by-(k mod dim) × negate-every-dim-copies repeats with
    // period 2·dim: copy k and copy k+2·dim would be bit-identical,
    // silently reintroducing the quadratic cross-copy near-dup volume
    // this scheme exists to exclude. Refuse rather than alias.
    require(n <= 2 * dim,
      s"embeddings: n=$n exceeds the 2*dim=${2 * dim} pairwise-dissimilar period")
    k => {
      val rot = k % dim
      val rotated =
        if (rot == 0) col("embedding")
        else concat(slice(col("embedding"), rot + 1, dim - rot),
          slice(col("embedding"), 1, rot))
      base.withColumn("vec_id", col("vec_id") + lit(k.toLong * 10000000L))
        .withColumn("embedding",
          if ((k / dim) % 2 == 0) rotated else transform(rotated, x => -x))
    }
  }
}
