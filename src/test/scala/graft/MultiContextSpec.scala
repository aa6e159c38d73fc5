package graft

import graft.pipeline.ConnectedComponents
import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** Several SparkContexts, one after another, in one JVM. Broadcast ids
  * restart at 0 in every context, so any state the engine keys by
  * broadcast id across contexts serves one context's data to the next.
  */
class MultiContextSpec extends AnyFunSuite {

  /** Clusters of `edges` over the ids a..e, in a fresh context that is
    * stopped before returning. Every call runs the same operations, so
    * the two contexts below hand out the same broadcast ids.
    */
  private def clustersInFreshContext(edges: Seq[(String, String)]): Map[String, String] = {
    val s = SparkSession.builder()
      .master("local[2]")
      .appName("graft-multi-context")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    try {
      import s.implicits._
      ConnectedComponents.runWithUniverse(edges.toDF("src", "dst"),
        Seq("a", "b", "c", "d", "e").toDF("conv_id"), localMaxEdges = 1000L)
        .as[(String, String)].collect().toMap
    } finally s.stop()
  }

  test("runWithUniverse: a second SparkContext reads its own broadcast assignment") {
    SharedSpark.stop() // one live context per JVM; later suites get a new shared one
    assert(clustersInFreshContext(Seq("a" -> "b", "c" -> "d")) ==
      Map("a" -> "a", "b" -> "a", "c" -> "c", "d" -> "c", "e" -> "e"))
    assert(clustersInFreshContext(Seq("b" -> "c", "d" -> "e")) ==
      Map("a" -> "a", "b" -> "b", "c" -> "b", "d" -> "d", "e" -> "d"))
  }
}
