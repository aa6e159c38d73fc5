package perfbench

import java.nio.file.Path

import scala.collection.mutable

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.{PerfbenchAux, SparkEntry, Verify}
import graft.eval.TrecEval

/** One row of the generated documents table (the schema of the test-data
  * `documents.parquet`).
  */
final case class ElqDoc(doc_id: Long, text: String, lang: String, source: String, n_chars: Long)

/** The ELQ query layers: a subset of `SparkEntry.queries` that covers
  * `operators`, `ml` and `streaming`, plus `TrecEval.evaluate` (`eval`),
  * over a documents table generated from the seed. Outputs are checked
  * against the DuckDB oracles of `SparkEntry.oracleSql` by run.py, after
  * the JVM has ended; the manifest this workload writes tells it where the
  * tables, the oracle SQL and the outputs are.
  */
final class ElqQueries(nDocs: Int) extends Workload {
  import ElqQueries._

  val name = "elq_queries"
  private var spark: SparkSession = _
  private var tablesDir: Path = _
  private var qrels: DataFrame = _
  /** pairs of documents planted as copies of one original */
  private var plantedPairs: Set[(Long, Long)] = Set.empty
  /** where the warm-up op's outputs are, one directory per query */
  private[perfbench] var outputs: Path = _

  private def query(q: String): DataFrame = SparkEntry.queries(q)(spark, tablesDir.toString)

  def stage(ctx: Ctx): Unit = {
    spark = ctx.spark
    tablesDir = ctx.dir.resolve("tables")
    val (docs, roots) = documents(nDocs, ctx.seed)
    val session = ctx.spark
    import session.implicits._
    spark.createDataset(docs).toDF().coalesce(1).write.mode("overwrite")
      .parquet(tablesDir.resolve("documents.parquet").toString)
    plantedPairs = roots.groupBy(_._2).values.flatMap { g =>
      val ids = g.map(_._1).toSeq.sorted
      for (i <- ids.indices; j <- i + 1 until ids.size) yield (ids(i), ids(j))
    }.toSet
    // q53's oracle replays these exports instead of the hashed features
    val (index, stream) = PerfbenchAux.q53(spark.read.parquet(tablesDir.resolve("documents.parquet").toString))
    index.coalesce(1).write.mode("overwrite").parquet(ctx.dir.resolve("aux/q53_index").toString)
    stream.coalesce(1).write.mode("overwrite").parquet(ctx.dir.resolve("aux/q53_stream").toString)
    // eval: a query's relevant entities are its own document and the
    // documents planted as copies of the same original
    val byRoot = roots.groupBy(_._2)
    qrels = ctx.stage(roots.collect { case (q, root) if q % 17 == 0 =>
      byRoot(root).map(e => (q, e._1)) }.flatten.toDF("qid", "entity"), "eval_qrels", files = 1)
    ctx.clear()
  }

  /** q31's MLM scores ranked per query, the run `TrecEval` evaluates. */
  private def ranked(q31: DataFrame): DataFrame =
    q31.where(col("score").isNotNull).select(col("qid"), col("entity"),
      row_number().over(Window.partitionBy("qid").orderBy(col("score").desc, col("entity")))
        .as("rank"), col("score"))

  private def evaluate(q31: DataFrame): TrecEval.Result = TrecEval.evaluate(qrels, ranked(q31))

  private def materialized(q: String): DataFrame =
    query(q).localCheckpoint(true, org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK_SER)

  /** The evaluation as the one-row table its oracle gives, rounded to 9 digits. */
  private def evalRow(e: TrecEval.Result): DataFrame = {
    val round9 = (x: Double) => BigDecimal(x).setScale(9, BigDecimal.RoundingMode.HALF_UP).toDouble
    val session = spark
    import session.implicits._
    Seq((round9(e.map), round9(e.p5), round9(e.mrr), round9(e.recall), e.nQueries))
      .toDF("map", "p5", "mrr", "recall", "n_queries")
  }

  def checkedOp(ctx: Ctx): Unit = {
    val dir = ctx.dir.resolve("elq-out")
    Queries.foreach { q =>
      query(q).coalesce(1).write.mode("overwrite").parquet(dir.resolve(q).toString)
      ctx.clear()
    }
    evalRow(evaluate(ctx.spark.read.parquet(dir.resolve(Ranked).toString)))
      .coalesce(1).write.mode("overwrite").parquet(dir.resolve(Eval).toString)
    outputs = dir
  }

  /** Runs the queries, each to the noop sink except q31, whose scores are
    * materialized for `TrecEval` to rank and evaluate; `wrap` times or
    * traces each part. The checksums of q31's scores and of the evaluation
    * are taken after the part, outside `wrap`.
    */
  private def pass(ctx: Ctx, wrap: String => (=> Unit) => Double): Seq[(String, Double)] = {
    var scores: DataFrame = null
    var result: TrecEval.Result = null
    val out = Queries.map { q =>
      q -> wrap(q) { if (q == Ranked) scores = materialized(q) else ctx.noop(query(q), q) }
    } :+ (Eval -> wrap(Eval) { result = evaluate(scores) })
    ctx.written += Ranked -> Checks.sum(scores)
    ctx.written += Eval -> Checks.sum(evalRow(result))
    ctx.clear()
    out
  }

  def op(ctx: Ctx): Seq[(String, Double)] = pass(ctx, _ => f => timed(f))

  def traced(ctx: Ctx, tr: Tracer): Map[String, Double] = {
    val times = pass(ctx, q => f => { tr.span(s"query.$q")(f); tr.metrics(s"query.$q").wallS })
      .map { case (q, s) => s"query.${q}_s" -> s }
    times.toMap + ("op.wall_s" -> times.map(_._2).sum)
  }

  /** Writes the manifest run.py checks the warm-up op's outputs against
    * their oracles with, checks that every op's outputs equal the warm-up
    * op's, and scores q15's near-duplicate pairs against the planted
    * copies. A query with no output fails here; value checks are run.py's.
    */
  def check(ctx: Ctx): CheckResult = {
    val all = Queries :+ Eval
    val missing = all.filterNot(q => java.nio.file.Files.isDirectory(outputs.resolve(q)))
    val bad = if (missing.nonEmpty) Nil else Checks.badWrites(ctx,
      all.map(q => q -> spark.read.parquet(outputs.resolve(q).toString)).toMap)
    val f1 = if (missing.nonEmpty) 0.0 else {
      val found = spark.read.parquet(outputs.resolve("q15_neardup_jaccard").toString)
        .select("a", "b").collect().map(r => (r.getLong(0), r.getLong(1)))
        .map { case (a, b) => (math.min(a, b), math.max(a, b)) }.toSet
      Checks.setF1(found, plantedPairs)
    }
    val aux = ctx.dir.resolve("aux").toString
    val manifest = Map(
      "tables" -> Map(
        "documents" -> tablesDir.resolve("documents.parquet").toString,
        "eval_qrels" -> ctx.dir.resolve("eval_qrels").toString),
      "sql" -> ((Queries.map(q => q -> SparkEntry.oracleSql(q).replace(Verify.AuxDir, aux)) :+
        (Eval -> EvalOracle.replace(RankedOutput, SparkEntry.oracleSql(Ranked)))).toMap),
      "outputs" -> Map("warmup" -> outputs.toString))
    val manifestPath = ctx.dir.resolve("oracle.json")
    java.nio.file.Files.write(manifestPath, Main.Json.writeValueAsBytes(manifest))
    CheckResult(missing.isEmpty && bad.isEmpty, f1,
      Seq("missing_outputs" -> missing, "planted_pairs" -> plantedPairs.size,
        "ops_checked" -> ctx.written.count(_._1 == Eval), "bad_writes" -> bad,
        "oracle_manifest" -> manifestPath.toString))
  }
}

object ElqQueries {
  /** The queries of each module: `operators` (q15 Dedup, q31
    * LanguageModel), `ml` (q47 Ltr) and `streaming` (q53 IncrementalLink).
    * All read only `documents`.
    */
  val Queries: Seq[String] = Seq("q15_neardup_jaccard", "q31_mlm_score",
    "q47_ltr_features", "q53_stream_static_link")
  /** the query whose scores `TrecEval` ranks */
  val Ranked = "q31_mlm_score"
  /** `TrecEval.evaluate` of q31's ranking (`eval`) */
  val Eval = "e01_trec_eval"

  private val RankedOutput = "RANKED_OUTPUT"

  /** DuckDB replay of `TrecEval.evaluate` over q31's oracle output, ranked
    * the way the workload ranks it, and the staged qrels.
    */
  val EvalOracle: String =
    s"""WITH eval_run AS (
      |    SELECT qid, entity, score,
      |      row_number() OVER (PARTITION BY qid ORDER BY score DESC, entity) AS rank
      |    FROM ($RankedOutput) WHERE score IS NOT NULL),
      |  rel AS (SELECT qid, entity, 1 AS rel FROM eval_qrels),
      |  n_rel AS (SELECT qid, count(*) AS n_rel FROM eval_qrels GROUP BY qid),
      |  scan AS (
      |    SELECT r.qid, coalesce(rel.rel, 0) AS rel,
      |      row_number() OVER w AS pos,
      |      sum(coalesce(rel.rel, 0)) OVER (w ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS hits
      |    FROM eval_run r LEFT JOIN rel ON r.qid = rel.qid AND r.entity = rel.entity
      |    WINDOW w AS (PARTITION BY r.qid ORDER BY r.rank, r.score DESC, r.entity)),
      |  per AS (
      |    SELECT qid,
      |      sum(CASE WHEN rel = 1 THEN hits::DOUBLE / pos ELSE 0 END) AS ap_num,
      |      sum(CASE WHEN rel = 1 AND pos <= 5 THEN 1 ELSE 0 END)::DOUBLE / 5.0 AS p5,
      |      coalesce(max(CASE WHEN rel = 1 THEN 1.0 / pos END), 0) AS rr,
      |      sum(rel)::DOUBLE AS n_hits
      |    FROM scan GROUP BY qid)
      |SELECT round(avg(coalesce(ap_num, 0) / n_rel), 9) AS map,
      |  round(avg(coalesce(p5, 0)), 9) AS p5,
      |  round(avg(coalesce(rr, 0)), 9) AS mrr,
      |  round(avg(coalesce(n_hits, 0) / n_rel), 9) AS recall,
      |  count(*) AS n_queries
      |FROM n_rel LEFT JOIN per USING (qid)""".stripMargin

  /** The 30-word vocabulary of the test-data documents. */
  private val Vocab = ("a agg batch big column customer data fast filter group hash join key " +
    "line merge order part query row scan slow small sort spark stream table the value " +
    "vector window").split(" ")
  private val Langs = Array("fr", "zh", "de", "es")

  /** `n` documents shaped like the test data's: 10 to 99 words of the
    * vocabulary; ~40% `en`, the rest spread over four languages; source
    * `src<id mod 20>`; ~5% are a copy of an earlier original with " dup"
    * appended. Also returns every document's original (doc_id, root).
    */
  def documents(n: Int, seed: Long): (Seq[ElqDoc], Seq[(Long, Long)]) = {
    val rnd = new scala.util.Random(seed)
    val texts = mutable.ArrayBuffer[String]()
    val roots = mutable.ArrayBuffer[Long]()
    val originals = mutable.ArrayBuffer[Int]()
    val docs = (0 until n).map { i =>
      val text =
        if (originals.nonEmpty && rnd.nextDouble() < 0.05) {
          val o = originals(rnd.nextInt(originals.size))
          roots += o.toLong
          texts(o) + " dup"
        } else {
          originals += i
          roots += i.toLong
          Seq.fill(10 + rnd.nextInt(90))(Vocab(rnd.nextInt(Vocab.length))).mkString(" ")
        }
      texts += text
      val lang = if (rnd.nextDouble() < 0.4) "en" else Langs(rnd.nextInt(Langs.length))
      ElqDoc(i.toLong, text, lang, s"src${i % 20}", text.length.toLong)
    }
    (docs, roots.indices.map(i => (i.toLong, roots(i))))
  }
}
