package graft.pipeline

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Semantic deduplication — SemDeDup (Abbas et al., "SemDeDup: Data-
  * efficient learning at web-scale through semantic deduplication",
  * 2023): k-means the embedding space into cells, compare pairs ONLY
  * within a cell by exact cosine, and keep one representative per
  * connected duplicate group. Catches paraphrases and re-renderings
  * that lexical dedup (MinHash/SimHash/n-gram) cannot see, because
  * they share meaning, not tokens.
  *
  * Composition of machinery that already has its own specs:
  * [[IvfAnn.buildIndex]] (deterministic sampled k-means quantizer) for
  * the cells, the codegen'd dot product for the in-cell pair scan, and
  * [[Components.dedupClusters]] (large-star/small-star) to close
  * pairwise hits into disjoint keep/drop clusters.
  *
  * Scale shape: the cell equi-join bounds pair work at Σ|cell|² —
  * n²/nlist for balanced cells — instead of n²; nlist grows with the
  * corpus (FAISS rule of thumb ~√n cells) so per-cell work stays flat.
  * Only (id, vec) rows shuffle, keyed by cell id; the quantizer trains
  * on a bounded deterministic sample. Recall vs the exact all-pairs
  * ground truth is asserted in QualitySpec (a cross-cell near-dup pair
  * is the miss mode, same honest tradeoff the paper accepts).
  */
object SemDedup {

  /** Same-cell pairs with exact cosine >= threshold, over an existing
    * (possibly [[IvfAnn.loadOrBuild]]-loaded) index — the deploy shape:
    * build and persist the quantizer once, run dedup passes against it. */
  def semanticPairsWithIndex(index: IvfAnn.Index, idCol: String,
      threshold: Double): DataFrame = {
    val a = index.assigned.select(col("_cell"), col(idCol).as("id_a"), col("_ne").as("_ea"))
    val b = index.assigned.select(col("_cell"), col(idCol).as("id_b"), col("_ne").as("_eb"))
    a.join(b, Seq("_cell"))
      .filter(col("id_a") < col("id_b"))
      .withColumn("sim", Similarity.dot(col("_ea"), col("_eb")))
      .filter(col("sim") >= threshold)
      .select("id_a", "id_b", "sim")
  }

  /** Same-cell pairs with exact cosine >= threshold (index built
    * in-place from the corpus). */
  def semanticPairs(corpus: DataFrame, idCol: String, embCol: String,
      nlist: Int, threshold: Double): DataFrame = {
    val ix = IvfAnn.buildIndex(corpus, idCol, embCol, nlist)
    // materialize before releasing the assignment cache the build left
    val out = semanticPairsWithIndex(ix, idCol, threshold).localCheckpoint()
    ix.assigned.unpersist()
    out
  }

  /** SemDeDup against an existing (typically [[IvfAnn.loadOrBuild]]-loaded)
    * index — the deploy shape: quantize and persist once, then every
    * dedup pass (rerun after a threshold change, a nightly re-audit, a
    * new downstream consumer) pays the in-cell pair scan only, reading
    * the cell-partitioned parquet instead of re-training k-means and
    * re-assigning the corpus. The id universe is the index's own
    * assignment table (every corpus row is assigned), so no separate
    * corpus frame is needed. Call [[Components.release]] on the result
    * when done. */
  def semanticDedupWithIndex(index: IvfAnn.Index, idCol: String,
      threshold: Double): DataFrame = {
    val pairs = semanticPairsWithIndex(index, idCol, threshold)
    Components.dedupClusters(index.assigned.select(col(idCol)), idCol,
      pairs, "id_a", "id_b")
  }

  /** Full SemDeDup: every corpus row labeled with its semantic
    * duplicate cluster and `is_rep` (the min-id member a pipeline
    * keeps). Call [[Components.release]] on the result when done. */
  def semanticDedup(corpus: DataFrame, idCol: String, embCol: String,
      nlist: Int, threshold: Double): DataFrame = {
    val pairs = semanticPairs(corpus, idCol, embCol, nlist, threshold)
    val out = Components.dedupClusters(corpus.select(col(idCol)), idCol,
      pairs, "id_a", "id_b")
    // the CC loop materialized everything it needs from the pair frame
    // (eager checkpoints inside connectedComponents), so the pairs'
    // own checkpoint blocks can be freed before returning
    Components.release(pairs)
    out
  }
}
