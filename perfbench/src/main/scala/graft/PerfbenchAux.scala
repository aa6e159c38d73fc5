package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.streaming.IncrementalLink

/** The q53 oracle replays exported stream-side features and corpus index
  * rows (see [[Verify]]); the feature function is package-private, so the
  * benchmark builds the same two exports for its own documents here.
  */
object PerfbenchAux {

  /** (q53_index, q53_stream) for a documents table, as `Verify` writes them. */
  def q53(docs: DataFrame): (DataFrame, DataFrame) = {
    val corpus = docs.where(pmod(col("doc_id"), lit(17)) =!= 0)
      .select(col("doc_id").cast("string").as("conv_id"), col("text"))
    val stream = docs.where(pmod(col("doc_id"), lit(17)) === 0)
      .select(col("doc_id").cast("string").as("conv_id"), col("text"))
    (IncrementalLink.corpusIndex(corpus),
      IncrementalLink.docFeatures(stream, exactK = 3, lshShingleK = 2,
        numHashes = 96, bands = 24, winnowW = 8, prefixChars = 256))
  }
}
