package graft

import graft.operators._
import graft.functions._
import org.apache.spark.sql.functions._

class OperatorsSpec extends SparkSpec {
  import spark.implicits._

  private lazy val docs = Seq(
    (1L, "the quick brown fox jumps over the lazy dog", "en", "s0"),
    (2L, "The quick brown fox jumps over the lazy dog!", "en", "s1"), // exact after norm
    (3L, "the quick brown fox leaps over the lazy dog", "en", "s0"),  // near-dup
    (4L, "der schnelle braune fuchs und der faule hund ist nicht da", "de", "s1"),
    (5L, "completely unrelated text about database engines and queries", "en", "s0"))
    .toDF("doc_id", "text", "lang", "source")

  test("Dedup.exact: normalized-identical docs collapse to min id") {
    val out = Dedup.exact(docs).orderBy("doc_id")
      .as[(Long, Long, Boolean)].collect()
    assert(out(0) == ((1L, 1L, false)))
    assert(out(1) == ((2L, 1L, true)))   // differs only by case/punct
    assert(out(2) == ((3L, 3L, false)))
  }

  test("Dedup.exact never merges distinct texts under a forced hash collision") {
    // every row gets the SAME group key; only the in-group text-equality
    // check keeps them apart (the 64-bit-collision regime at 10^12 rows)
    val d = Seq((1L, "alpha text"), (2L, "beta text"), (3L, "Alpha, TEXT"))
      .toDF("doc_id", "text")
    val out = Dedup.exact(d, grpKey = _ => lit(0L))
      .as[(Long, Long, Boolean)].collect().toSet
    assert(out == Set((1L, 1L, false), (2L, 2L, false), (3L, 1L, true)))
  }

  test("Dedup.ngramJaccardPairs finds the near-dup pair and not unrelated docs") {
    val out = Dedup.ngramJaccardPairs(docs, "doc_id", "text", 2, 0.4, 50)
      .select("a", "b").as[(Long, Long)].collect().toSet
    assert(out.contains((1L, 2L)))
    assert(out.contains((1L, 3L)) || out.contains((2L, 3L)))
    assert(!out.exists(p => p._1 == 5L || p._2 == 5L))
  }

  test("Dedup.minhashLshPairs agrees with exact near-dup on this fixture") {
    val out = Dedup.minhashLshPairs(docs, "doc_id", "text", 2, 64, 32, 0.4, 50)
      .select("a", "b").as[(Long, Long)].collect().toSet
    assert(out.contains((1L, 2L)))
    assert(!out.exists(p => p._1 == 4L || p._2 == 4L))
  }

  test("Dedup.simhashPairs: near-identical docs within small hamming distance") {
    val out = Dedup.simhashPairs(docs, "doc_id", "text", 16, 50)
      .select("a", "b").as[(Long, Long)].collect().toSet
    assert(out.contains((1L, 2L)))
  }

  test("Dedup.simhashPairs banding finds ALL pairs within maxHamming (pigeonhole recall)") {
    // planted corpus: 8 base docs, each with 3 variants perturbing 0..2
    // tokens — variant pairs land at small Hamming distances (including 0)
    val rnd = new scala.util.Random(7)
    val corpus = (0 until 8).flatMap { b =>
      val base = Array.fill(60)(s"tok${rnd.nextInt(500)}b$b")
      (0 until 3).map { v =>
        val toks = base.clone()
        (0 until v).foreach(k => toks(rnd.nextInt(toks.length)) = s"alt${k}v$v")
        ((b * 3 + v).toLong, toks.mkString(" "))
      }
    }.toDF("doc_id", "text")
    for (mh <- Seq(3, 7)) {
      val emitted = Dedup.simhashPairs(corpus, "doc_id", "text", mh, 100000)
        .select("a", "b").as[(Long, Long)].collect().toSet
      val sims = corpus.select($"doc_id", simhash64(tokens($"text")).as("s"))
        .as[(Long, Long)].collect()
      val want = (for {
        (i, si) <- sims; (j, sj) <- sims
        if i < j && java.lang.Long.bitCount(si ^ sj) <= mh
      } yield (i, j)).toSet
      assert(want.nonEmpty, "fixture must contain in-threshold pairs")
      assert(want.subsetOf(emitted), s"maxHamming=$mh missing ${want -- emitted}")
    }
  }

  test("hash-based near-dup outputs vs exact brute force (q21/q22/q23 rows-only evidence)") {
    val sf = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    // exact shingle-jaccard pairs over all pairs (tiny sf)
    val sh = sf.select($"doc_id", shingle_hashes(tokens($"text"), 3).as("sh"))
      .as[(Long, Seq[Long])].collect().toMap
    def jac(a: Seq[Long], b: Seq[Long]): Double = {
      val u = (a.toSet ++ b.toSet).size
      if (u == 0) 0.0 else (a.toSet & b.toSet).size.toDouble / u
    }
    val ids = sh.keys.toSeq.sorted
    val exactJ = (for { i <- ids; j <- ids if i < j; v = jac(sh(i), sh(j)) if v >= 0.5 }
      yield (i, j) -> v).toMap
    val mh = Dedup.minhashLshPairs(sf, "doc_id", "text", 3, 64, 16, 0.5, 64)
      .as[(Long, Long, Double)].collect()
    mh.foreach { case (a, b, v) =>
      assert(exactJ.contains((a, b)), s"($a,$b) emitted but not exact")
      assert(math.abs(exactJ((a, b)) - v) < 1e-12)
    }
    // simhash with guaranteed-recall banding and a huge cap: emitted ==
    // exact hamming pairs
    val sim = sf.select($"doc_id", simhash64(tokens($"text")).as("s"))
      .as[(Long, Long)].collect()
    val exactH = (for { (i, si) <- sim; (j, sj) <- sim if i < j
      if java.lang.Long.bitCount(si ^ sj) <= 3 } yield (i, j)).toSet
    val sh22 = Dedup.simhashPairs(sf, "doc_id", "text", 3, 100000)
      .select("a", "b").as[(Long, Long)].collect().toSet
    assert(sh22 == exactH)
    // embedding cosine: emitted ⊆ exact pairs, values equal
    val emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    val vecs = emb.select($"vec_id", $"embedding").as[(Long, Seq[Float])].collect().toMap
    def cos(a: Seq[Float], b: Seq[Float]): Double = {
      val dot = a.zip(b).map { case (x, y) => x.toDouble * y.toDouble }.sum
      val na = math.sqrt(a.map(x => x.toDouble * x.toDouble).sum)
      val nb = math.sqrt(b.map(x => x.toDouble * x.toDouble).sum)
      if (na * nb == 0) 0.0 else dot / (na * nb)
    }
    val ec = Dedup.embeddingCosinePairs(emb, "vec_id", "embedding", 6, 0.25, 256)
      .as[(String, String, Double)].collect()
    ec.foreach { case (a, b, v) =>
      val exact = cos(vecs(a.toLong), vecs(b.toLong))
      assert(exact >= 0.25 && math.abs(exact - v) < 1e-9, s"($a,$b) $v vs $exact")
    }
  }

  test("Dedup.embeddingCosinePairs orients each pair in string order") {
    // ids 9 and 10 share a vector: numerically 9 < 10, but the operator's
    // pairs (and q23's oracle) order ids as strings, where "10" < "9"
    val emb = Seq((9L, Seq(0.3f, -0.2f, 0.9f)), (10L, Seq(0.3f, -0.2f, 0.9f)))
      .toDF("vec_id", "embedding")
    val out = Dedup.embeddingCosinePairs(emb, "vec_id", "embedding", 6, 0.25, 256)
      .select("a", "b").as[(String, String)].collect().toSeq
    assert(out == Seq(("10", "9")))
  }

  test("SimilaritySearch.bruteForceTopK: self excluded, k respected, exact order") {
    val emb = Seq(
      (1L, Seq(1.0f, 0.0f, 0.0f)),
      (2L, Seq(0.9f, 0.1f, 0.0f)),
      (3L, Seq(0.0f, 1.0f, 0.0f)),
      (4L, Seq(0.0f, 0.0f, 1.0f))).toDF("vec_id", "embedding")
    val out = SimilaritySearch.bruteForceTopK(emb.where($"vec_id" === 1), emb, 2)
      .orderBy("rnk").as[(Long, Long, Double, Int)].collect()
    assert(out.length == 2)
    assert(out(0)._2 == 2L)           // closest is vec 2
    assert(out(0)._3 > 0.99)
    assert(out.forall(_._2 != 1L))    // self excluded
  }

  test("SimilaritySearch.ivfTopK recall vs brute force on clustered vectors") {
    // 3 tight clusters of 20 vectors each
    val rnd = new scala.util.Random(11)
    val rows = (0 until 60).map { i =>
      val c = i % 3
      val base = Array.fill(8)(0.0f); base(c) = 1.0f
      (i.toLong, base.map(v => v + rnd.nextFloat() * 0.1f).toSeq)
    }
    val emb = rows.toDF("vec_id", "embedding")
    val queries = emb.where($"vec_id" < 6)
    val bf = SimilaritySearch.bruteForceTopK(queries, emb, 3)
      .select("query_id", "nbr_id").as[(Long, Long)].collect().toSet
    val ivf = SimilaritySearch.ivfTopK(queries, emb, 3, 6, 3)
      .select("query_id", "nbr_id").as[(Long, Long)].collect().toSet
    val recall = (bf & ivf).size.toDouble / bf.size
    info(s"IVF recall vs brute force: $recall")
    assert(recall >= 0.8, s"recall $recall")

    // trained codebook (2 Lloyd rounds): centroids move onto the true
    // cluster centers, so recall tightens on the same probe budget
    val trained = SimilaritySearch.ivfTopKTrained(queries, emb, 3, 6, 3, 2)
      .select("query_id", "nbr_id").as[(Long, Long)].collect().toSet
    val recallTrained = (bf & trained).size.toDouble / bf.size
    info(s"trained-IVF recall vs brute force: $recallTrained")
    assert(recallTrained >= 0.9, s"trained recall $recallTrained")
    assert(recallTrained >= recall, "training must not lose recall here")
  }

  test("TextAnalysis.langId picks the dominant stopword language") {
    val out = docs.select($"doc_id", TextAnalysis.langId($"text").as("l"))
      .orderBy("doc_id").as[(Long, String)].collect().toMap
    assert(out(1L) == "en")
    assert(out(4L) == "de")
  }

  test("TextAnalysis.fingerprint: deterministic, content-sensitive, order-sensitive") {
    val out = Seq("a b c", "a b c", "c b a", "").toDF("text")
      .select(TextAnalysis.fingerprint($"text")).as[Long].collect()
    assert(out(0) == out(1))
    assert(out(0) != out(2))
    assert(out(3) == 0L)
  }

  test("Multimodal: decode stub is deterministic and schema-correct; frames fan out") {
    val media = Multimodal.syntheticMedia(docs)
    val dec = Multimodal.decodeStub(media, 4).collect().sortBy(_.media_id)
    assert(dec.length == 5)
    assert(dec.forall(_.features.length == 4))
    val dec2 = Multimodal.decodeStub(media, 4).collect().sortBy(_.media_id)
    assert(dec.zip(dec2).forall { case (a, b) => a.features.sameElements(b.features) })
  }

  test("ReferenceOps.commonness ratios and threshold") {
    val d = Seq(("x a", "e1"), ("x b", "e1"), ("x c", "e2"), ("y d", "e2"))
      .toDF("text", "ent")
    val out = ReferenceOps.commonness(d, "text", "ent", 0.5)
      .where($"surface" === "x").orderBy("entity")
      .select("entity", "cmn").as[(String, Double)].collect()
    // x: e1=2/3, e2=1/3 → only e1 survives threshold 0.5
    assert(out.toSeq == Seq(("e1", 0.6667)))
  }

  test("ReferenceOps.rankCandidates: ties share dense rank, (q,e) deduped to max") {
    val d = Seq(
      ("q1", "e1", 5.0), ("q1", "e1", 9.0), // dedup → 9.0
      ("q1", "e2", 9.0),                    // tie with e1 → same rank
      ("q1", "e3", 7.0),
      ("q2", "e1", 1.0)).toDF("qid", "ent", "score")
    val out = ReferenceOps.rankCandidates(d, "qid", "ent", "score", 10)
      .orderBy("qid", "ent").select("qid", "ent", "score", "rnk")
      .as[(String, String, Double, Int)].collect()
    assert(out.toSeq == Seq(
      ("q1", "e1", 9.0, 1), ("q1", "e2", 9.0, 1), ("q1", "e3", 7.0, 2),
      ("q2", "e1", 1.0, 1)))
  }

  test("ReferenceOps.sessionize splits on the gap") {
    val base = java.sql.Timestamp.valueOf("2024-01-01 00:00:00")
    def ts(m: Long) = new java.sql.Timestamp(base.getTime + m * 60000)
    val ev = Seq(
      (1L, 10L, ts(0)), (2L, 10L, ts(10)), (3L, 10L, ts(60)), // gap 50min > 30min
      (4L, 20L, ts(0))).toDF("event_id", "user_id", "ts")
    val out = ReferenceOps.sessionize(ev, 1800)
      .select("event_id", "session_seq").as[(Long, Long)].collect().toMap
    assert(out == Map(1L -> 1L, 2L -> 1L, 3L -> 2L, 4L -> 1L))
  }

  test("ReferenceOps.sameAsMap: first target-prefix entry in stored order, NULL paths (entity.py:79-119)") {
    val ids = Seq(Tuple1(1L), Tuple1(2L), Tuple1(3L), Tuple1(4L)).toDF("id0")
    val mapping = Seq(
      (1L, Seq("<dbp:X>", "<fb:m.a>", "<fb:m.b>")), // two fb entries → first wins
      (2L, Seq("<dbp:Y>")),                         // mapped, no fb entry → NULL
      (3L, Seq("<fb:m.c>"))                         // fb-only
    ).toDF("id", "same_as")                          // id 4: unmapped → NULL
    val out = ReferenceOps.sameAsMap(ids, "id0", mapping, "<fb:")
      .select("id0", "mapped").as[(Long, Option[String])].collect().toMap
    assert(out == Map(1L -> Some("<fb:m.a>"), 2L -> None,
      3L -> Some("<fb:m.c>"), 4L -> None))
  }
}
