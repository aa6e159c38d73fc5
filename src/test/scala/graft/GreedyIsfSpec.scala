package graft

import graft.functions._
import graft.operators.GreedyIsf
import graft.operators.GreedyIsf.Cand
import graft.operators.ReferenceOps
import graft.eval.StrictEval
import graft.sources.Readers
import org.apache.spark.sql.functions._

class GreedyIsfSpec extends SparkSpec {
  import spark.implicits._

  test("isOverlapping truth table (segmentation.py:91-110)") {
    assert(!GreedyIsf.isOverlapping(Seq("the", "music man")))
    assert(GreedyIsf.isOverlapping(Seq("the", "the man", "music")))
    assert(GreedyIsf.isOverlapping(Seq("music man", "man")))
    // word-level semantics: distinct words never overlap even if chars do
    assert(!GreedyIsf.isOverlapping(Seq("yx", "xz")))
    // within-mention duplicates don't count (each mention contributes a set)
    assert(!GreedyIsf.isOverlapping(Seq("a a")))
    assert(!GreedyIsf.isOverlapping(Nil))
  }

  test("containment prune: scan by score, drop contained/containing, dedup mentions (greedy.py:76-97)") {
    val sorted = Seq(
      Cand("q", "new york", "e1", 0.9),
      Cand("q", "new", "e2", 0.8),         // contained in kept "new york" → dropped
      Cand("q", "york city", "e3", 0.7),   // not a substring either way → kept
      Cand("q", "new york", "e4", 0.6),    // same mention (contains itself) → dropped
      Cand("q", "city", "e5", 0.5))        // contained in "york city" → dropped
    val kept = GreedyIsf.pruneContainment(sorted)
    assert(kept.map(_.entity) == Seq("e1", "e3"))
  }

  test("first-fit adds to EVERY compatible interpretation, opens new on conflict (greedy.py:48-66)") {
    val kept = Seq(
      Cand("q", "a b", "e1", 0.9),
      Cand("q", "c", "e2", 0.8),
      Cand("q", "b c", "e3", 0.7)) // overlaps both kept mentions → new set
    val sets = GreedyIsf.firstFit(kept).map(_.map(_.entity))
    assert(sets == Seq(Seq("e1", "e2"), Seq("e3")))
    // a later non-overlapping mention joins BOTH interpretations
    val kept2 = kept :+ Cand("q", "d", "e4", 0.6)
    val sets2 = GreedyIsf.firstFit(kept2).map(_.map(_.entity))
    assert(sets2 == Seq(Seq("e1", "e2", "e4"), Seq("e3", "e4")))
  }

  test("interpretations: threshold prune, per-query isolation, mean set score") {
    // "delta alpha" word-overlaps "alpha beta" (shared word) without being
    // a string containment, so it survives the prune but opens a new set
    val cands = Seq(
      ("q1", "alpha beta", "e1", 0.9),
      ("q1", "gamma", "e2", 0.7),
      ("q1", "delta alpha", "e3", 0.6),
      ("q1", "noise", "e4", 0.1),   // below threshold
      ("q2", "alpha", "e9", 0.8))
      .toDF("qid", "mention", "entity", "score")
    val out = GreedyIsf.interpretations(cands, 0.5).collect()
    val q1s0 = out.filter(m => m.qid == "q1" && m.set_id == 0)
    assert(q1s0.map(_.entity).sorted.toSeq == Seq("e1", "e2"))
    assert(math.abs(q1s0.head.score - 0.8) < 1e-12) // mean(0.9, 0.7)
    val q1s1 = out.filter(m => m.qid == "q1" && m.set_id == 1)
    assert(q1s1.map(_.entity).toSeq == Seq("e3"))
    assert(out.count(_.qid == "q2") == 1)
    assert(!out.exists(_.entity == "e4"))
  }

  test("end-to-end CMNS back-off + greedy on Y-ERD, erdeval output, strict-evaluated") {
    val gt = Readers.readYerdTsv(spark, ReferenceData("data/Y-ERD.tsv"))
    val queries = gt.select(col("qid"), col("query").as("qtext")).distinct()
    // surface-form dictionary from the gt annotations themselves
    // (the Mongo FACC dictionary is not shipped; the gt mentions make a
    // small faithful stand-in — entities are freebase ids like the qrels)
    val counts = gt.where(col("mention").isNotNull && col("freebase_id").isNotNull)
      .select(norm_text(col("mention")).as("surface"), col("freebase_id").as("entity"))
      .groupBy("surface", "entity").agg(count(lit(1)).as("cnt"))
    val w = org.apache.spark.sql.expressions.Window.partitionBy("surface")
    val dict = counts
      .withColumn("cmn", col("cnt").cast("double") / sum("cnt").over(w).cast("double"))
      .where(col("cmn") >= 0.1)
      .select("surface", "entity", "cmn")

    val cands = ReferenceOps.commonnessBackoff(queries, dict, 8)
      .select(col("qid"), col("surface").as("mention"), col("entity"),
        col("cmn").as("score"))
    val members = GreedyIsf.interpretations(cands, 0.1).toDF()

    val dir = java.nio.file.Files.createTempDirectory("erdeval").toString
    Readers.writeErdEval(members, s"$dir/run")

    // erdeval file(s) written as text part files — feed the directory
    val r = StrictEval.evaluate(spark, ReferenceData("qrels/Y-ERD_elq.qrels"), s"$dir/run")
    info(s"CMNS+greedy on Y-ERD (gt-derived dict): P=${r.precision} R=${r.recall} F1=${r.f1}")
    assert(r.nQueries > 1000)
    assert(r.f1 >= 0.5, s"F1 ${r.f1} unexpectedly low")
  }
}
