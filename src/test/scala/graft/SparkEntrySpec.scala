package graft

import org.apache.spark.sql.functions.lit

/** The contract of [[SparkEntry]]: query ↔ oracle pairing and the
  * rounding both engines must share.
  */
class SparkEntrySpec extends SparkSpec {

  test("every declared query has oracle SQL, and every oracle SQL a query") {
    // no Spark session: the maps hold closures and SQL text
    assert(SparkEntry.queries.keySet == SparkEntry.oracleSql.keySet)
  }

  test("round4 rounds a double one ulp under a half up, as the oracle does") {
    // q53's score for jaccard 0.9375, jw ≈ 0.99375, lev_sim 0.96875
    val r = spark.range(1).select(SparkEntry.round4(lit(0.9562499999999999)))
      .head().getDouble(0)
    assert(r == 0.9563)
  }

  test("q11, q47 and q50 complete on zero- and one-token documents") {
    val sess = spark
    import sess.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft-degenerate").toString
    // the documents schema of the test data; two punctuation-only docs (no
    // tokens) and a one-token doc among q50's queries (doc_id % 17 == 0)
    Seq(
      1L -> "the fast key order sort table scan merge part window",
      2L -> "the fast key order sort table scan merge part window small",
      3L -> "spark group query row data slow small filter customer line",
      4L -> "!!! ... ???",
      5L -> "--- ;;; !!!",
      17L -> "spark",
      34L -> "spark group query row data slow small filter")
      .map { case (id, text) => (id, text, "en", "src0", text.length.toLong) }
      .toDF("doc_id", "text", "lang", "source", "n_chars")
      .coalesce(1).write.parquet(s"$dir/documents.parquet")
    def run(name: String) = SparkEntry.queries(name)(spark, dir).collect()
    val q11 = run("q11_shingle_blocks")
    assert(q11.nonEmpty)
    assert(!q11.exists(_.getAs[String]("shingle") == ""), "zero-token docs share a \"\" block")
    assert(run("q47_ltr_features").nonEmpty)
    assert(run("q50_context_sim").nonEmpty)
  }
}
