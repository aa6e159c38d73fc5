package graft

import graft.functions._
import graft.operators.Features
import graft.sources.Readers
import org.apache.spark.sql.functions._

class FeaturesSpec extends SparkSpec {
  import spark.implicits._

  test("faccPairFeatures hand-computed (facc_feat.py formulas)") {
    // 4 docs: e1 in {1,2,3}, e2 in {2,3}, e3 in {4}
    val facc = Seq((1L, "e1"), (2L, "e1"), (3L, "e1"), (2L, "e2"), (3L, "e2"), (4L, "e3"))
      .toDF("doc_id", "entity")
    val pairs = Seq(("e1", "e2"), ("e1", "e3")).toDF("e1", "e2")
    val out = Features.faccPairFeatures(pairs, facc, 4)
      .select("e1", "e2", "and_freq", "or_freq", "joint_prob", "entropy", "jc", "mw_rel")
      .as[(String, String, Long, Long, Double, Double, Double, Double)]
      .collect().map(r => (r._1, r._2) -> r).toMap
    val a = out(("e1", "e2"))
    assert(a._3 == 2 && a._4 == 3)                       // and=2, or=3+2-2
    assert(math.abs(a._5 - 0.5) < 1e-12)                 // p = 2/4
    assert(math.abs(a._6 - math.log(2)) < 1e-12)         // H(0.5) = ln 2
    assert(math.abs(a._7 - 2.0 / 3) < 1e-12)
    // mw = 1 - (ln max - ln and)/(ln N - ln min) = 1 - (ln3-ln2)/(ln4-ln2)
    assert(math.abs(a._8 - (1 - (math.log(3) - math.log(2)) / (math.log(4) - math.log(2)))) < 1e-12)
    val b = out(("e1", "e3")) // disjoint: and=0
    assert(b._3 == 0 && b._7 == 0.0 && b._8 == 0.0 && b._6 == 0.0)
  }

  test("faccSetFeatures hand-computed over n = 1, 2, 3 sets (facc_feat.py:44-113)") {
    // docs: e1 ∈ {1,2,3}, e2 ∈ {2,3}, e3 ∈ {3,4}, e4 nowhere
    val facc = Seq((1L, "e1"), (2L, "e1"), (3L, "e1"), (2L, "e2"), (3L, "e2"),
      (3L, "e3"), (4L, "e3")).toDF("doc_id", "entity")
    val sets = Seq(
      ("s3", "e1"), ("s3", "e2"), ("s3", "e3"),  // AND = {3}, OR = {1,2,3,4}
      ("s2", "e1"), ("s2", "e2"), ("s2", "e2"),  // duplicate member deduped
      ("s1", "e1"),                              // singleton conventions
      ("s0", "e1"), ("s0", "e4"))                // e4 unindexed → and=0, min_f=0
      .toDF("set_id", "entity")
    val out = Features.faccSetFeatures(sets, facc, 4)
      .select("set_id", "n", "and_freq", "or_freq", "joint_prob", "entropy", "jc", "mw_rel")
      .as[(String, Long, Long, Long, Double, Double, Double, Double)]
      .collect().map(r => r._1 -> r).toMap
    val s3 = out("s3")
    assert(s3._2 == 3 && s3._3 == 1 && s3._4 == 4)
    assert(math.abs(s3._5 - 0.25) < 1e-12)
    val h = -(0.25 * math.log(0.25)) - 0.75 * math.log(0.75)
    assert(math.abs(s3._6 - h) < 1e-12)
    assert(math.abs(s3._7 - 0.25) < 1e-12)
    // mw over the whole set: max_f=3 (e1), min_f=2, and=1
    val mw = 1 - (math.log(3) - math.log(1)) / (math.log(4) - math.log(2))
    assert(math.abs(s3._8 - math.max(mw, 0)) < 1e-12)
    val s2 = out("s2")
    assert(s2._2 == 2 && s2._3 == 2 && s2._4 == 3) // matches faccPairFeatures e1,e2
    val s1 = out("s1")
    assert(s1._2 == 1 && s1._7 == -1.0 && s1._8 == -1.0) // facc_feat.py:71,99
    val s0 = out("s0")
    assert(s0._3 == 0 && s0._7 == 0.0 && s0._8 == 0.0)
  }

  test("gtToIsfInstances groups gt rows into interpretation sets (train_set_isf.py:89-122)") {
    val gt = Seq(
      ("q1", "0", "e1", "new york"),
      ("q1", "0", "e2", "hotel"),
      ("q1", "1", "e1", "york"),
      ("q1", "-1", "e9", "noise"),         // no-interpretation marker → dropped
      ("q2", "0", null, "orphan"),         // null entity never enters a set
      ("q3", "0", "e5", "a"), ("q3", "0", "e5", "b")) // dedup per entity, max mention
      .toDF("qid", "set_id", "entity", "mention")
    val out = Features.gtToIsfInstances(gt)
      .select($"qid", $"set_id", $"target", $"inter_set")
      .as[(String, String, String, Map[String, String])].collect()
      .map(r => (r._1, r._2) -> (r._3, r._4)).toMap
    assert(out(("q1", "0")) == (("1", Map("e1" -> "new york", "e2" -> "hotel"))))
    assert(out(("q1", "1")) == (("1", Map("e1" -> "york"))))
    assert(out(("q3", "0")) == (("1", Map("e5" -> "b"))))
    // q1/-1 dropped; q2's only row had a null entity → empty set not emitted
    assert(!out.contains(("q1", "-1")) && !out.keys.exists(_._1 == "q2"))
    assert(out.size == 3)
  }

  test("gtToIsfInstances on the real Y-ERD gt reproduces the reference set grouping") {
    val gt = Readers.readYerdTsv(spark, ReferenceData("data/Y-ERD.tsv"))
      .select(col("qid"), col("set_id"), col("freebase_id").as("entity"), col("mention"))
    val out = Features.gtToIsfInstances(gt).cache()
    // scalar oracle over the collected rows (the reference's dict loop)
    val rows = gt.collect().map(r => (r.getString(0), Option(r.getString(1)),
      Option(r.getString(2)), Option(r.getString(3))))
    val expected = rows
      .filter(r => r._2.exists(_ != "-1") && r._3.isDefined)
      .groupBy(r => (r._1, r._2.get))
      .view.mapValues(_.groupBy(_._3.get).view.mapValues(_.map(_._4.get).max).toMap).toMap
    val got = out.select($"qid", $"set_id", $"inter_set")
      .as[(String, String, Map[String, String])].collect()
      .map(r => (r._1, r._2) -> r._3).toMap
    assert(got == expected)
    assert(got.nonEmpty)
  }

  test("graphSetFeatures on a hand graph (graph_feat.py conventions)") {
    // cluster c1: a-b linked, c isolated; common neighbor of all three = x
    val members = Seq(
      ("c1", "a", Seq("b", "x")),
      ("c1", "b", Seq("x")),
      ("c1", "c", Seq("x", "y")),
      ("c2", "solo", Seq("z")))
      .toDF("cluster_id", "entity", "links")
    val out = Features.graphSetFeatures(members)
      .select("cluster_id", "n", "n_edges", "common_neighbors", "all_neighbors",
        "completeness", "jc")
      .as[(String, Long, Long, Long, Long, Double, Double)]
      .collect().map(r => r._1 -> r).toMap
    val c1 = out("c1")
    assert(c1._2 == 3 && c1._3 == 1)                  // edge a-b only
    assert(c1._4 == 1 && c1._5 == 3)                  // common {x}; all {b,x,y}
    assert(math.abs(c1._6 - 1.0 / 3) < 1e-12)         // 1 edge / 3 possible
    assert(math.abs(c1._7 - 1.0 / 3) < 1e-12)
    val c2 = out("c2")                                // singleton conventions
    assert(c2._2 == 1 && c2._4 == -1 && c2._6 == 1.0 && c2._7 == -1.0)
  }

  test("pruneLargestDelta matches the sequential reference loop on fuzz inputs (pruner.py:11-42)") {
    // scalar re-implementation of the loop
    def oracle(scores: Seq[Double]): Seq[Double] = {
      val s = scores.sorted(Ordering[Double].reverse)
      if (s.length <= 2) return s
      val valid = scala.collection.mutable.ArrayBuffer(s(0))
      var maxDelta = s(0) - s(1)
      var i = 1
      while (i < s.length) {
        if (i == s.length - 1) { valid += s(i); return valid.toSeq }
        val d = s(i) - s(i + 1)
        if (d >= maxDelta) { valid += s(i); maxDelta = d; i += 1 }
        else return valid.toSeq
      }
      valid.toSeq
    }
    val rnd = new scala.util.Random(3)
    val groups = (0 until 40).map { q =>
      val n = 1 + rnd.nextInt(8)
      // distinct scores (the reference orders by score only)
      q.toString -> rnd.shuffle((1 to 30).toList).take(n).map(_.toDouble)
    }
    val df = groups.flatMap { case (q, ss) => ss.map(s => (q, s)) }.toDF("qid", "score")
    val got = Features.pruneLargestDelta(df, "qid", "score")
      .as[(String, Double)].collect().groupBy(_._1)
      .view.mapValues(_.map(_._2).sorted(Ordering[Double].reverse).toSeq).toMap
    groups.foreach { case (q, ss) =>
      assert(got.getOrElse(q, Nil) == oracle(ss), s"group $q scores $ss")
    }
  }

  test("pruneLargestDelta: n ≤ 2 short-circuit counts null-scored rows too (pruner.py:13-14)") {
    val df = Seq(
      ("q1", Some(5.0)), ("q1", None),                      // total 2 → unchanged, null kept
      ("q2", Some(9.0)), ("q2", Some(1.0)), ("q2", None),   // total 3 → null dropped, prune
      ("q3", Some(9.0)), ("q3", Some(8.5)), ("q3", Some(1.0)), ("q3", None))
      .toDF("qid", "score")
    val got = Features.pruneLargestDelta(df, "qid", "score")
      .as[(String, Option[Double])].collect().groupBy(_._1)
      .view.mapValues(_.map(_._2).toSeq).toMap
    assert(got("q1").size == 2 && got("q1").contains(None))
    assert(got("q2").toSet == Set(Some(9.0), Some(1.0)))    // ≤2 non-null kept, null gone
    // q3 non-null prune: deltas 0.5 then 7.5 (≥ max so far) and the last
    // row is always appended when reached → all three non-null kept
    assert(got("q3").toSet == Set(Some(9.0), Some(8.5), Some(1.0)))
  }

  test("entityMentionFeatures booleans and pos1 (entity_mention_feat.py:27-63)") {
    val df = Seq(
      ("new york city", "New_York", "visit new york city today"),
      ("ny", "New_York", "big apple"),
      ("new york", "New York", "x"))
      .toDF("mention", "title", "abs")
    val out = Features.entityMentionFeatures(df, $"mention", $"title", $"abs")
      .select("mention", "mct", "tcm", "tem", "pos1")
      .as[(String, Int, Int, Int, Int)].collect()
    assert(out(0) == (("new york city", 1, 0, 0, 6)))  // mention ⊇ title; pos 0-based
    assert(out(1) == (("ny", 0, 0, 0, 1000)))          // absent from abstract
    assert(out(2) == (("new york", 1, 1, 1, 1000)))
  }

  test("concatInstances: sequential ids across frames (instances.py:268-283)") {
    val a = Seq(10L, 30L).toDF("doc_id")
    val b = Seq(20L).toDF("doc_id")
    val out = Features.concatInstances(Seq(a, b), Seq("doc_id"))
      .orderBy("ins_id").as[(Long, Long)].collect()
    assert(out.toSeq == Seq((10L, 0L), (30L, 1L), (20L, 2L)))
  }

  test("ERD annotation reader parses the 5-col reference fixture") {
    val ann = Readers.readErdAnnotations(spark, ReferenceData("data/Trec_beta.annotation.txt"))
    assert(ann.columns.toSeq == Seq("qid", "set_id", "freebase_id", "mention", "label"))
    val first = ann.where($"qid" === "TREC-7").head()
    assert(first.getString(2) == "/m/04cnvy" && first.getString(3) == "bowflex")
    assert(ann.count() > 50)
  }

  test("id/URI scalar functions (freebase/utils.py, indexer.py:27-35)") {
    val out = Seq("/m/02_286").toDF("id").select(
      fb_id_to_uri($"id").as("uri"),
      fb_uri_to_id(fb_id_to_uri($"id")).as("back"),
      uri_to_name(lit("<dbpedia:Charleston,_South_Carolina>")).as("n1"),
      uri_to_name(lit("<dbpedia:Category:Some_Thing>")).as("n2"),
      uri_to_name(lit("plain text")).as("n3"),
      percent_decode(lit("a%2Fb%20c")).as("dec")).head()
    assert(out.getString(0) == "<fb:m.02_286>")
    assert(out.getString(1) == "/m/02_286")
    assert(out.getString(2) == "Charleston, South Carolina")
    assert(out.getString(3) == "Some Thing")   // last ':' wins
    assert(out.getString(4) == "plain text")
    assert(out.getString(5) == "a/b c")
    // invalid ids → null (the reference raises)
    val bad = Seq("x/02").toDF("id").select(fb_id_to_uri($"id")).head()
    assert(bad.isNullAt(0))
  }

  test("word_overlap column predicate agrees with GreedyIsf.isOverlapping") {
    val cases = Seq(("the", "music man"), ("the man", "man"), ("a a", "b"), ("yx", "xz"))
    val got = cases.toDF("a", "b").select(word_overlap($"a", $"b")).as[Boolean].collect()
    cases.zip(got).foreach { case ((a, b), g) =>
      assert(g == graft.operators.GreedyIsf.isOverlapping(Seq(a, b)), s"($a, $b)")
    }
  }
}
