package graft

import graft.operators.BlockingMetrics
import org.apache.spark.sql.Row

/** Hand-computed fixture:
  *   blocks: k1 → {1,2,3}, k2 → {2,3}, k3 → {4}
  *   gt pairs: (1,2) co-blocked via k1; (1,5) never co-blocked
  *   universe: 5 docs → C(5,2) = 10 total pairs
  *
  *   n_blocks 3, n_entries 6, cand_pairs_sum 3+1+0 = 4,
  *   cand_pairs_distinct {1-2, 1-3, 2-3} = 3 (2-3 counted once despite
  *   two shared keys), completeness 1/2 = 0.5, reduction 1 − 3/10 = 0.7.
  */
class BlockingMetricsSpec extends SparkSpec {
  import spark.implicits._

  private def fixtureBlocks =
    Seq((1L, "k1"), (2L, "k1"), (3L, "k1"), (2L, "k2"), (3L, "k2"), (4L, "k3"))
      .toDF("conv_id", "block_key")

  private def fixtureGt = Seq((1L, 2L), (1L, 5L)).toDF("a", "b")

  test("summarize matches the hand computation") {
    val out = BlockingMetrics.summarize(fixtureBlocks, fixtureGt, nDocs = 5L)
    assert(out.columns.toSeq == Seq("n_docs", "n_blocks", "n_entries",
      "cand_pairs_sum", "cand_pairs_distinct", "gt_pairs", "gt_covered",
      "pair_completeness", "reduction_ratio"))
    val r = out.head()
    assert(r.getLong(0) == 5L)       // n_docs
    assert(r.getLong(1) == 3L)       // n_blocks
    assert(r.getLong(2) == 6L)       // n_entries
    assert(r.getLong(3) == 4L)       // cand_pairs_sum
    assert(r.getLong(4) == 3L)       // cand_pairs_distinct
    assert(r.getLong(5) == 2L)       // gt_pairs
    assert(r.getLong(6) == 1L)       // gt_covered
    assert(r.getDouble(7) == 0.5)    // pair_completeness
    assert(r.getDouble(8) == 0.7)    // reduction_ratio
  }

  test("precomputed candPairs substitutes for the self-join, same result") {
    val pre = Seq((1L, 2L), (1L, 3L), (2L, 3L)).toDF("a", "b")
    val a = BlockingMetrics.summarize(fixtureBlocks, fixtureGt, 5L).head()
    val b = BlockingMetrics.summarize(fixtureBlocks, fixtureGt, 5L,
      candPairs = Some(pre)).head()
    assert(a == b)
  }

  test("empty gt keeps completeness defined (0 over max(gt,1))") {
    val out = BlockingMetrics.summarize(
      fixtureBlocks, fixtureGt.where("a < 0"), 5L).head()
    assert(out.getLong(5) == 0L && out.getLong(6) == 0L)
    assert(out.getDouble(7) == 0.0)
  }
}
