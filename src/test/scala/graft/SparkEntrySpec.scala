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
}
