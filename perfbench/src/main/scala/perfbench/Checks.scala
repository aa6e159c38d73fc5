package perfbench

import scala.concurrent.Await
import scala.concurrent.duration._

import org.apache.spark.sql.{Column, DataFrame, Observation}
import org.apache.spark.sql.functions._

/** Output checks. They run outside the timed region. */
object Checks {

  /** Row count and xor of the rows' 64-bit hashes: equal for equal row
    * sets, whatever their order.
    */
  final case class Sum(rows: Long, xor: Long)

  object Sum {
    /** The checksum an observed write computed ([[sumColumns]]), or an
      * impossible one if its metrics never arrived.
      */
    def apply(obs: Observation): Sum =
      scala.util.Try(Await.result(obs.future, 30.seconds)).toOption
        .map(r => Sum(r.getAs[Long]("rows"),
          if (r.isNullAt(r.fieldIndex("xor"))) 0L else r.getAs[Long]("xor")))
        .getOrElse(Sum(-1L, 0L))
  }

  def sumColumns(df: DataFrame): Seq[Column] =
    Seq(count(lit(1)).as("rows"), bit_xor(xxhash64(df.columns.toSeq.map(col): _*)).as("xor"))

  def sum(df: DataFrame): Sum = {
    val r = df.agg(sumColumns(df).head, sumColumns(df).tail: _*).head()
    Sum(r.getLong(0), if (r.isNullAt(1)) 0L else r.getLong(1))
  }

  /** Names of the outputs the ops wrote ([[Ctx.written]]) whose checksum
    * differs from that of the expected output of the same name.
    */
  def badWrites(ctx: Ctx, expected: Map[String, DataFrame]): Seq[String] = {
    val want = expected.map { case (n, df) => n -> sum(df) }
    ctx.written.collect { case (n, s) if !want.get(n).contains(s) => n }.toSeq
  }

  /** Sequential union-find over string ids; every node maps to the least id
    * of its component (the labelling `ConnectedComponents` promises).
    */
  def unionFind(edges: Iterable[(String, String)]): Map[String, String] = {
    val parent = scala.collection.mutable.HashMap[String, String]()
    def find(x: String): String = {
      var r = x
      while (parent(r) != r) r = parent(r)
      var c = x
      while (parent(c) != r) { val n = parent(c); parent(c) = r; c = n }
      r
    }
    edges.foreach { case (a, b) =>
      parent.getOrElseUpdate(a, a); parent.getOrElseUpdate(b, b)
      val (ra, rb) = (find(a), find(b))
      // keep the smaller id as root, so the root is the component's minimum
      if (ra != rb) { if (ra < rb) parent(rb) = ra else parent(ra) = rb }
    }
    parent.keys.map(k => k -> find(k)).toMap
  }

  /** The two string columns of every row of `df`. */
  def pairs(df: DataFrame): Array[(String, String)] =
    df.collect().map(r => r.getString(0) -> r.getString(1))

  /** Nodes whose label in `assignment` (node, component) differs from a
    * sequential union-find over `edges` (src, dst).
    */
  def ccWrong(edges: DataFrame, assignment: DataFrame): Int = {
    val expected = unionFind(pairs(edges))
    val got = pairs(assignment).toMap
    (got.keySet ++ expected.keySet).count(k => got.get(k) != expected.get(k))
  }

  /** Pairwise F1 of a clustering against a reference clustering over the
    * same ids (both id → cluster label). Pairs are unordered and counted
    * through the cluster contingency table, never enumerated.
    */
  def pairF1(predicted: Map[String, String], truth: Map[String, String]): Double = {
    def pairs(n: Long) = n * (n - 1) / 2
    val tp = predicted.toSeq.groupBy { case (id, c) => (c, truth.getOrElse(id, "\u0000" + id)) }
      .values.map(g => pairs(g.size.toLong)).sum
    val pred = predicted.values.groupBy(identity).values.map(g => pairs(g.size.toLong)).sum
    val tru = truth.values.groupBy(identity).values.map(g => pairs(g.size.toLong)).sum
    val p = if (pred == 0) 1.0 else tp.toDouble / pred
    val r = if (tru == 0) 1.0 else tp.toDouble / tru
    if (p + r == 0) 0.0 else 2 * p * r / (p + r)
  }

  /** F1 of a found set against a true set (1 when both are empty). */
  def setF1[A](found: Set[A], truth: Set[A]): Double = {
    val tp = (found & truth).size.toDouble
    val p = if (found.isEmpty) 1.0 else tp / found.size
    val r = if (truth.isEmpty) 1.0 else tp / truth.size
    if (p + r == 0) 0.0 else 2 * p * r / (p + r)
  }

  /** Rows in one assignment and not the other, both ways (0 = equal sets). */
  def assignmentDiff(a: DataFrame, b: DataFrame): Long = {
    val x = a.select("conv_id", "cluster_id")
    val y = b.select("conv_id", "cluster_id")
    x.exceptAll(y).count() + y.exceptAll(x).count()
  }

  /** The pairwise-F1 floor of the linkage workloads (BASELINE.json's guard). */
  val MinPairF1 = 0.99
}
