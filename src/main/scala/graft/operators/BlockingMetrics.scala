package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Blocking-quality metrics — the standard record-linkage evaluation of a
  * blocking scheme (pairs completeness / reduction ratio; Christen,
  * "A Survey of Indexing Techniques for Scalable Record Linkage and
  * Deduplication", TKDE 2012). The reference tunes its candidate stage by
  * exactly these two forces (commonness threshold vs recall,
  * nordlys/erd/query/query.py:88-108 and the recall notes in
  * train_set_cer.py:92-119); this operator makes the trade measurable on
  * any (id, block_key) table the engine produces — shingle blocks, LSH
  * bands, SimHash chunks, or the pipeline's hybrid keys.
  *
  * Scale shape: everything is joins + aggregations on the block key /
  * the gt pair ids — no windows, no collects. The one genuinely
  * quadratic term, the DISTINCT candidate-pair count, is the same
  * computation as pair generation itself, so at lake scale pass the
  * pair-generation output you already materialized (`candPairs`) instead
  * of letting the default within-block self-join recompute it; the
  * summed per-block count (`cand_pairs_sum`, no pair materialization —
  * one aggregation) is the cheap upper bound always computed.
  */
object BlockingMetrics {

  /** One-row summary of a blocking table against a ground-truth pair set.
    *
    * @param blocks   (idCol, keyCol) — one row per (doc, blocking key)
    * @param gtPairs  (a, b) true duplicate pairs, a < b
    * @param nDocs    universe size (for the total-pair denominator)
    * @param candPairs optional pre-materialized distinct candidate pairs
    *                  (a, b), a < b — e.g. `Blocking.pairsFromBlocks`
    *                  output; when absent, computed by a within-block
    *                  self-join (fine at test scale, wasteful at lake
    *                  scale where the pair stage already ran)
    *
    * Output: n_docs, n_blocks, n_entries, cand_pairs_sum (Σ c·(c−1)/2,
    * counts a pair once per shared block), cand_pairs_distinct, gt_pairs,
    * gt_covered (gt pairs sharing ≥1 block key), pair_completeness
    * (gt_covered / gt_pairs — the recall the blocking scheme permits),
    * reduction_ratio (1 − cand_pairs_distinct / C(n_docs, 2) — the
    * fraction of the quadratic comparison space pruned). Ratios rounded
    * to 6 places so an independent oracle can match bit-for-bit.
    */
  def summarize(blocks: DataFrame, gtPairs: DataFrame, nDocs: Long,
                idCol: String = "conv_id", keyCol: String = "block_key",
                candPairs: Option[DataFrame] = None): DataFrame = {
    val b = blocks.select(col(idCol).as("id"), col(keyCol).as("key"))

    val perBlock = b.groupBy("key").agg(count(lit(1)).as("c"))
    // coalesce: sum() over zero rows is NULL — an empty blocking must
    // still yield a fully-defined summary row (count gives 0 either way)
    val blockAgg = perBlock.agg(
      count(lit(1)).as("n_blocks"),
      coalesce(sum(col("c")), lit(0L)).as("n_entries"),
      coalesce(sum(col("c") * (col("c") - 1) / 2).cast("long"), lit(0L))
        .as("cand_pairs_sum"))

    val distinctPairs = candPairs.getOrElse {
      b.as("x").join(b.as("y"),
          col("x.key") === col("y.key") && col("x.id") < col("y.id"))
        .select(col("x.id").as("a"), col("y.id").as("b"))
        .distinct()
    }
    val candAgg = distinctPairs.agg(count(lit(1)).as("cand_pairs_distinct"))

    val gt = gtPairs.select(col("a"), col("b")).distinct()
    // covered = gt pairs whose two sides share ≥1 blocking key: key-equi
    // join both sides, semi-distinct on the pair — shuffles on the gt
    // pair ids and the block key only
    val covered = gt
      .join(b.select(col("id").as("a"), col("key")), Seq("a"))
      .join(b.select(col("id").as("b"), col("key")), Seq("b", "key"))
      .select("a", "b").distinct()
    val gtAgg = gt.agg(count(lit(1)).as("gt_pairs"))
      .crossJoin(covered.agg(count(lit(1)).as("gt_covered")))

    val totalPairs = nDocs * (nDocs - 1) / 2
    blockAgg.crossJoin(candAgg).crossJoin(gtAgg)
      .withColumn("n_docs", lit(nDocs))
      .withColumn("pair_completeness",
        round(col("gt_covered").cast("double") /
          greatest(col("gt_pairs"), lit(1L)).cast("double"), 6))
      .withColumn("reduction_ratio",
        round(lit(1.0) - col("cand_pairs_distinct").cast("double") /
          lit(math.max(totalPairs, 1L)).cast("double"), 6))
      .select(col("n_docs"), col("n_blocks"), col("n_entries"),
        col("cand_pairs_sum"), col("cand_pairs_distinct"),
        col("gt_pairs"), col("gt_covered"),
        col("pair_completeness"), col("reduction_ratio"))
  }
}
