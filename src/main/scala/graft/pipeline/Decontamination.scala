package graft.pipeline

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.catalyst.expressions.aggregate.BloomFilterAggregate
import org.apache.spark.sql.graftbridge.Bridge

/** Benchmark/test-set decontamination — the standard training-data
  * hygiene pass: flag every corpus document that shares at least one
  * word n-gram (n = 8 by convention) with an evaluation set, so eval
  * leakage can be dropped before training.
  *
  * Shape at 100 TB: the eval side (benchmark suites — thousands of
  * documents, megabytes of distinct grams) is tiny next to the corpus,
  * so its distinct gram set is BROADCAST and the corpus gram stream
  * filter-joins against it map-side — the corpus is never shuffled to
  * find matches; only the (rare) hits reach the per-doc aggregation.
  * For eval sets too big to broadcast, pass `broadcastEval = false`
  * for a plain shuffle equi-join on the gram key (or pre-filter with
  * a Bloom filter of eval grams — same join afterwards).
  */
object Decontamination {

  /** Per (corpus doc, eval doc) contamination detail: the number of
    * distinct n-grams of `idCol`-document shared with each eval
    * document it overlaps. Corpus rows that are themselves in
    * `evalSet` (same id) are NOT excluded here — callers decide what
    * "in the eval set" means; the battery query filters by id space. */
  def contaminationPairs(corpus: DataFrame, evalSet: DataFrame,
      idCol: String, textCol: String, n: Int = 8,
      broadcastEval: Boolean = true): DataFrame = {
    // corpus grams keep duplicates: the broadcast join filters first,
    // so only matching occurrences pay the dedup/aggregation cost
    val cg = Dedup.gramRows(corpus, idCol, textCol, n)
    val eg0 = Dedup.gramRows(evalSet, idCol, textCol, n)
      .select(col("_sh_id").as("eval_doc_id"), col("_sh_g"))
      .distinct()
    val eg = if (broadcastEval) broadcast(eg0) else eg0
    cg.join(eg, Seq("_sh_g"))
      .groupBy(col("_sh_id").as(idCol), col("eval_doc_id"))
      .agg(countDistinct(col("_sh_g")).as("n_shared_grams"))
  }

  /** [[contaminationPairs]] with a BLOOM pre-filter — the shape for an
    * eval side too big to broadcast (the fallback the broadcast path's
    * doc promises). With `broadcastEval = false` the exact gram join
    * is a shuffle join, and shuffling the FULL corpus gram stream to
    * find rare hits is the 100 TB killer; here a compact Bloom filter
    * of xxhash64(eval gram) — built with Spark's own runtime-filter
    * aggregate ([[BloomFilterAggregate]]) and probed through
    * [[graft.functions.BloomSketchContains]] (same sketch class and
    * `mightContainLong` as Spark's `might_contain`, holding the bytes
    * outside the expression tree) — is built
    * in one distributed pass, collected (~1 MB, the point of the
    * sketch), and applied MAP-SIDE to the corpus gram stream, so only
    * might-contain survivors (true hits + the filter's ~1% false
    * positives) enter the exchange. The exact join then removes false
    * positives: output is bit-identical to [[contaminationPairs]],
    * pinned by spec.
    *
    * `expectedEvalGrams` sizes the filter (fpp degrades, never
    * correctness, if undershot). The eval gram set is evaluated twice
    * (bloom action + join) — it is the small side by the operator's
    * own premise. */
  def contaminationPairsBloom(corpus: DataFrame, evalSet: DataFrame,
      idCol: String, textCol: String, n: Int = 8,
      expectedEvalGrams: Long = 1L << 20): DataFrame = {
    val cg = Dedup.gramRows(corpus, idCol, textCol, n)
    val eg = Dedup.gramRows(evalSet, idCol, textCol, n)
      .select(col("_sh_id").as("eval_doc_id"), col("_sh_g"))
      .distinct()
    val bloomAgg = new BloomFilterAggregate(
      Bridge.toExpression(xxhash64(col("_sh_g"))), expectedEvalGrams)
    val bloomBytes = eg
      .select(Bridge.toColumn(bloomAgg.toAggregateExpression()).as("_bf"))
      .head().getAs[Array[Byte]](0)
    // empty eval set -> null sketch; the join below is then empty
    // anyway, so skip the (null-propagating) membership filter.
    // BloomSketchContains, not BloomFilterMightContain(Literal(bytes)):
    // the ~1 MB sketch as a binary Literal hex-prints into every plan-
    // stringification event and re-hashes on every optimizer
    // expression-set lookup — O(sketch) driver work per plan pass on
    // a megabyte payload (see the expression's doc). Same
    // BloomFilter.readFrom + mightContainLong semantics, so the
    // surviving row set (true hits + the same false positives) is
    // bit-identical.
    val pruned =
      if (bloomBytes == null) cg
      else cg.filter(Bridge.toColumn(graft.functions.BloomSketchContains(
        Bridge.toExpression(xxhash64(col("_sh_g"))), bloomBytes)))
    pruned.join(eg, Seq("_sh_g"))
      .groupBy(col("_sh_id").as(idCol), col("eval_doc_id"))
      .agg(countDistinct(col("_sh_g")).as("n_shared_grams"))
  }

  /** NEAR-dup decontamination — the exact-gram pass above misses
    * paraphrased leakage (reworded eval questions, reformatted
    * answers); this flags corpus docs whose shingle set near-matches
    * an eval doc at `threshold` Jaccard. It is the incremental
    * near-dup probe with the EVAL SET as the batch: the corpus's
    * persisted band postings (the same index d9-style ingest probes —
    * built once, never rescanned) are probed by the tiny eval side,
    * and only corpus-origin pairs survive (eval-internal near-dups
    * are not contamination). Returns (idCol, eval_doc_id, jaccard).
    * Ids must be disjoint across corpus and eval (same contract as
    * [[Dedup.incrementalMinhash]]); exact-Jaccard verification means
    * precision 1 against the shingle-set definition, recall is the
    * banding's, bounded in spec. */
  def fuzzyContamination(index: Dedup.NearDupIndex, evalSet: DataFrame,
      idCol: String, textCol: String, shingleWords: Int = 3,
      numHashes: Int = 32, bands: Int = 8,
      threshold: Double = 0.5): DataFrame =
    Dedup.incrementalMinhash(evalSet, idCol, textCol, index,
        shingleWords, numHashes, bands, threshold)
      .filter(col("origin") === "corpus")
      .select(col("id_a").as(idCol), col("id_b").as("eval_doc_id"),
        col("jaccard"))
}
