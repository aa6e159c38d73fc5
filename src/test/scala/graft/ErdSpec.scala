package graft

import graft.ml.Ltr
import graft.eval.{StrictEval, TrecEval}
import graft.operators.{Features, GreedyIsf, IsfSets, ReferenceOps}
import graft.sources.Readers
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** ERD-dataset end-to-end (the second dataset of every BASELINE.md row):
  * the LtrSpec/IsfSetsSpec recipe — gt-derived dictionary → CER feature
  * assembly → 5-fold session CV → TREC + strict-set evaluation — on the
  * ERD queries/annotations the Readers already parse
  * (erd_gt.py:15-78). Caveats, stated: the dictionary is derived from the
  * gt itself (recall 1.0 — the reference's Mongo dictionary has imperfect
  * recall), and the fb→dbp mapping of erd_gt.py:41-46 has no shipped dim,
  * so entities stay freebase ids and the title-based features degrade to
  * constants. Bands are therefore one-sided (≥ reference − slack).
  */
class ErdSpec extends SparkSpec {
  import spark.implicits._

  private lazy val gt: DataFrame = {
    val q = Readers.readErdQueries(spark, ReferenceData("data/Trec_beta.query.txt"))
    val ann = Readers.readErdAnnotations(spark, ReferenceData("data/Trec_beta.annotation.txt"))
    // Y-ERD-shaped frame: all queries enter (unannotated ones carry null
    // mention and generate candidates but no positives)
    q.join(ann, Seq("qid"), "left")
      .select(lit("").as("difficulty"), col("qid"), col("query"),
        col("mention"), col("freebase_id").as("entity"), col("set_id"),
        col("freebase_id"))
  }

  test("ERD LTR end-to-end: 5-fold CV MAP, LTR+Greedy strict F1, set-detector variants in bands") {
    val instances = Ltr.yerdCvInstances(gt).localCheckpoint(true)
    val qrels = TrecEval.readQrels(spark, ReferenceData("qrels/ERD_trec.qrels"))

    // --- CER: LTR (reference row MAP 0.8606) ---
    val cfg = Ltr.RfConfig(numTrees = 200, featuresPerSplit = 3, maxDepth = 12)
    val cv = Ltr.crossValidate(instances, Ltr.YerdFeatures, "label", 5, cfg)
      .localCheckpoint(true)
    val ranked = ReferenceOps.rankCandidates(cv, "qid", "entity", "score", 100)
    val r = TrecEval.evaluate(qrels,
      ranked.select(col("qid"), col("entity"), col("rnk").cast("int").as("rank"), col("score")))
    info(f"ERD LTR 5-fold CV: MAP=${r.map}%.4f MRR=${r.mrr}%.4f recall=${r.recall}%.4f " +
      f"over ${r.nQueries} queries (reference LTR row 0.8606)")
    assert(r.map >= 0.8606 - 0.10, f"MAP ${r.map}%.4f below band")
    assert(r.nQueries == 45)

    // --- ISF: LTR+Greedy, th=0.3 (reference row strict F1 0.8398) ---
    val members = GreedyIsf.interpretations(
      cv.select(col("qid"), col("mention"), col("entity"), col("score")), 0.3)
    val dir = java.nio.file.Files.createTempDirectory("erdgreedy").toString
    Readers.writeErdEval(members.toDF(), s"$dir/run")
    val strict = StrictEval.evaluate(spark,
      ReferenceData("qrels/ERD_elq.qrels"), s"$dir/run")
    info(f"ERD LTR+Greedy strict: P=${strict.precision}%.4f R=${strict.recall}%.4f " +
      f"F1=${strict.f1}%.4f (reference row 0.8398)")
    assert(strict.f1 >= 0.8398 - 0.07, f"strict F1 ${strict.f1}%.4f below band")

    // --- ISF: set detector (MLMcg+LTR 0.7280, LTR+LTR 0.7529) ---
    val queries = gt.select(col("qid"),
      graft.functions.norm_text(col("query")).as("qtext")).distinct()
    val gtIsf = Features.gtToIsfInstances(
      gt.where(col("mention").isNotNull && col("freebase_id").isNotNull)
        .select(col("qid"), col("set_id"), col("freebase_id").as("entity"),
          graft.functions.norm_text(col("mention")).as("mention")))
      .localCheckpoint(true)

    def detect(cer: DataFrame, normalizeMlm: Boolean, tag: String, refF1: Double): Double = {
      val top = IsfSets.topKCandidates(cer.join(queries, "qid"), 5, normalizeMlm)
      val mem = IsfSets.enumerate(top).toDF().localCheckpoint(true)
      val labeled = IsfSets.setFeatures(mem)
        .join(IsfSets.labelByGt(mem, gtIsf), Seq("qid", "iset_id"))
      val classified = Ltr.crossValidateGbt(labeled, IsfSets.BaseFeatures, "label",
        5, Ltr.GbtConfig(numTrees = 60, maxDepth = 3))
      val outDir = java.nio.file.Files.createTempDirectory(s"erdisf").toString
      Readers.writeErdEval(IsfSets.keptMembers(mem, classified), s"$outDir/run")
      val s = StrictEval.evaluate(spark,
        ReferenceData("qrels/ERD_elq.qrels"), s"$outDir/run")
      info(f"ERD $tag strict: P=${s.precision}%.4f R=${s.recall}%.4f F1=${s.f1}%.4f " +
        f"(reference row $refF1%.4f)")
      s.f1
    }
    val f1Mlm = detect(
      instances.select(col("qid"), col("mention"), col("entity"),
        col("cmn").as("score"), col("cmn")),
      normalizeMlm = true, "MLMcg+LTR", 0.7280)
    assert(f1Mlm >= 0.7280 - 0.07, f"MLMcg+LTR F1 $f1Mlm%.4f below band")
    val f1Ltr = detect(
      cv.select(col("qid"), col("mention"), col("entity"), col("score"), col("cmn")),
      normalizeMlm = false, "LTR+LTR", 0.7529)
    assert(f1Ltr >= 0.7529 - 0.07, f"LTR+LTR F1 $f1Ltr%.4f below band")
  }
}
