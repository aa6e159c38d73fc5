package graft

import graft.ml.Ltr
import graft.eval.{StrictEval, TrecEval}
import graft.operators.{GreedyIsf, ReferenceOps}
import graft.sources.Readers
import org.apache.spark.sql.functions._

class LtrSpec extends SparkSpec {
  import spark.implicits._

  test("session key: qid prefix before the LAST '_' (instance.py:174-183)") {
    val out = Seq("trec-2010-100_1", "yahoo-9_1", "plain", "a_b_c")
      .toDF("qid").select(Ltr.session($"qid")).as[String].collect()
    assert(out.toSeq == Seq("trec-2010-100", "yahoo-9", "plain", "a_b"))
  }

  test("folds group by session: never split, all folds used, deterministic") {
    val rows = for (s <- 0 until 20; q <- 0 until 3)
      yield (s"sess$s%02d-x_$q", s % 2)
    val df = rows.toDF("qid", "junk")
    val folded = Ltr.assignFolds(df, 5, seed = 7L)
    val bySession = folded.select("session", "fold").distinct()
      .as[(String, Int)].collect()
    // one fold per session
    assert(bySession.map(_._1).distinct.length == bySession.length)
    val sizes = bySession.groupBy(_._2).view.mapValues(_.size).toMap
    assert(sizes.keySet == Set(0, 1, 2, 3, 4))
    assert(sizes.values.forall(_ == 4)) // 20 sessions round-robin into 5
    // deterministic across invocations
    val again = Ltr.assignFolds(df, 5, seed = 7L).select("session", "fold")
      .distinct().as[(String, Int)].collect()
    assert(again.sortBy(_._1).toSeq == bySession.sortBy(_._1).toSeq)
  }

  test("RF train/apply: separable synthetic signal, score = P(label 1), deterministic") {
    val rnd = new scala.util.Random(5)
    val rows = (0 until 400).map { i =>
      val good = i % 2 == 0
      val f1 = (if (good) 0.8 else 0.2) + rnd.nextGaussian() * 0.05
      val f2 = rnd.nextDouble() // noise
      (s"s${i % 10}_q$i", f1, f2, if (good) 1.0 else 0.0)
    }
    val df = rows.toDF("qid", "f1", "f2", "label")
    val cfg = Ltr.RfConfig(numTrees = 50, featuresPerSplit = 1, maxDepth = 5)
    val scored = Ltr.crossValidate(df, Seq("f1", "f2"), "label", 3, cfg)
      .select("qid", "label", "score").as[(String, Double, Double)].collect()
    assert(scored.length == 400) // every instance scored exactly once
    val posMean = scored.filter(_._2 == 1.0).map(_._3).sum / 200
    val negMean = scored.filter(_._2 == 0.0).map(_._3).sum / 200
    assert(posMean > 0.8 && negMean < 0.2, s"pos=$posMean neg=$negMean")
    // importances find the signal feature
    val model = Ltr.trainRf(df, Seq("f1", "f2"), "label", cfg)
    val imps = Ltr.featureImportances(model, Seq("f1", "f2")).toMap
    assert(imps("f1") > imps("f2"))

    // GBRT family (ml.py:88-103): same separable signal, same score shape
    val gbt = Ltr.trainGbt(df, Seq("f1", "f2"), "label",
      Ltr.GbtConfig(numTrees = 30, maxDepth = 2))
    val gs = Ltr.applyRf(gbt, df, Seq("f1", "f2"))
      .select("label", "score").as[(Double, Double)].collect()
    val gPos = gs.filter(_._1 == 1.0).map(_._2).sum / 200
    val gNeg = gs.filter(_._1 == 0.0).map(_._2).sum / 200
    assert(gPos > 0.8 && gNeg < 0.2, s"gbt pos=$gPos neg=$gNeg")
  }

  test("Y-ERD LTR end-to-end: 5-fold session CV, TREC run, MAP in band of the reference LTR row") {
    val gt = Readers.readYerdTsv(spark, ReferenceData("data/Y-ERD.tsv"))
    val instances = Ltr.yerdCvInstances(gt).localCheckpoint(true)

    // CMNS floor: the same candidates ranked by commonness alone
    val qrels = TrecEval.readQrels(spark, ReferenceData("qrels/Y-ERD_trec.qrels"))
    def mapOf(scored: org.apache.spark.sql.DataFrame): Double = {
      val ranked = ReferenceOps.rankCandidates(scored, "qid", "entity", "score", 100)
        .select(col("qid"), col("entity"), col("rnk").cast("int").as("rank"), col("score"))
      TrecEval.evaluate(qrels, ranked).map
    }
    val cmnsMap = mapOf(instances.withColumn("score", col("cmn")))

    val cfg = Ltr.RfConfig(numTrees = 200, featuresPerSplit = 3, maxDepth = 12)
    val cv = Ltr.crossValidate(instances, Ltr.YerdFeatures, "label", 5, cfg)

    // exercise the TREC sink + reader round-trip on the real run
    val ranked = ReferenceOps.rankCandidates(cv, "qid", "entity", "score", 100)
    val dir = java.nio.file.Files.createTempDirectory("ltrrun").toString
    Readers.writeTrecRun(ranked, s"$dir/run", "-ltr-t200-m3")
    val run = TrecEval.readRun(spark, s"$dir/run")
    val r = TrecEval.evaluate(qrels, run)

    info(f"Y-ERD LTR 5-fold CV: MAP=${r.map}%.4f MRR=${r.mrr}%.4f recall=${r.recall}%.4f " +
      f"(CMNS floor MAP=$cmnsMap%.4f; reference LTR row 0.8667)")
    // Band vs BASELINE.md row 8 (MAP 0.8667, full Mongo dict + 26 features):
    // the gt-derived dictionary changes the candidate pool, so parity is
    // bounded, not exact — require the run to land within 0.10 of the
    // reference number AND beat the commonness-only floor it trained from.
    assert(r.map >= 0.8667 - 0.10, f"MAP ${r.map}%.4f below band")
    assert(r.map <= 1.0)
    assert(r.map > cmnsMap, f"LTR ${r.map}%.4f did not beat CMNS $cmnsMap%.4f")
    assert(r.nQueries > 1000)

    // --- LTR + Greedy: the reference's BEST published configuration
    // (erd_app.py -ltr -greedy, th=0.3 — BASELINE.md row 6: strict F1
    // 0.7867 on Y-ERD). CV scores feed the greedy interpretation builder,
    // the erdeval sink, and the strict set-equality evaluator.
    val members = GreedyIsf.interpretations(
      cv.select(col("qid"), col("mention"), col("entity"), col("score")), 0.3)
    val dir2 = java.nio.file.Files.createTempDirectory("ltrgreedy").toString
    Readers.writeErdEval(members.toDF(), s"$dir2/run")
    val strict = StrictEval.evaluate(spark,
      ReferenceData("qrels/Y-ERD_elq.qrels"), s"$dir2/run")
    info(f"Y-ERD LTR+Greedy strict: P=${strict.precision}%.4f R=${strict.recall}%.4f " +
      f"F1=${strict.f1}%.4f (reference LTR+Greedy row 0.7867)")
    assert(strict.f1 >= 0.7867 - 0.05, f"strict F1 ${strict.f1}%.4f below band")
    assert(strict.nQueries > 1000)
  }
}
