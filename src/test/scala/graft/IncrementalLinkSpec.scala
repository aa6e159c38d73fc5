package graft

import graft.streaming.IncrementalLink
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import java.sql.Timestamp

class IncrementalLinkSpec extends SparkSpec {
  import spark.implicits._

  private def ts(minute: Int) = new Timestamp(1700000000000L + minute * 60000L)

  /** Near-dup corpus: groups of variants sharing long token runs, plus
    * unrelated docs — enough structure that hybrid blocking emits pairs.
    */
  private val corpus: Seq[(String, String)] = {
    val bases = Seq(
      "the quick brown fox jumps over the lazy dog near the quiet river bank today",
      "a customer asked the support agent about billing for the premium plan last week",
      "machine learning pipelines require careful feature engineering and robust validation steps")
    bases.zipWithIndex.flatMap { case (b, g) =>
      Seq(s"g${g}a" -> b, s"g${g}b" -> (b + " exactly"), s"g${g}c" -> ("well " + b))
    } ++ Seq("solo1" -> "completely unrelated text about gardening tulips in spring soil",
      "solo2" -> "another disjoint snippet concerning orbital mechanics and fuel budgets")
  }

  test("docFeatures block keys JOIN the batch blocks snapshot") {
    val batchDocs = corpus.toDF("conv_id", "text")
      .withColumn("tokens", graft.functions.tokens(col("text")))
    // the batch pipeline's docs payload for the same texts (the shape a
    // production `docs` snapshot has — Pipeline.docsPayload fields)
    val docsPayload = batchDocs.select(col("conv_id"),
      graft.functions.shingle_hashes(col("tokens"), 1, distinct = false).as("tokh"),
      xxhash64(col("conv_id")).as("hid"))
    val cfg = graft.pipeline.Pipeline.Config()
    val batchBlocks = graft.pipeline.Pipeline.blocksPayload(docsPayload, cfg)
    assert(!batchBlocks.isEmpty, "fixture must produce batch blocks")

    // exact (block_key, member) multiset equality, member ids mapped via hid
    val streamKeys = IncrementalLink.docFeatures(corpus.toDF("conv_id", "text"),
        cfg.shingleK, cfg.lshShingleK, cfg.numHashes, cfg.bands, cfg.winnowWindow,
        cfg.prefixChars)
      .select(xxhash64(col("conv_id")).as("conv_id"), col("block_key"))
    assert(streamKeys.exceptAll(batchBlocks).isEmpty &&
      batchBlocks.exceptAll(streamKeys).isEmpty,
      "streaming block keys != batch blocksPayload keys")
  }

  // ----- stream-static corpus linkage -----

  private val corpusDocs = Seq(
    "c1" -> "the quick brown fox jumps over the lazy dog near the quiet river bank today",
    "c2" -> "a customer asked the support agent about billing for the premium plan last week",
    "c3" -> "machine learning pipelines require careful feature engineering and robust validation steps",
    "c4" -> "an entirely different conversation about weekend hiking trails and alpine weather")

  private val streamDocs = Seq(
    "s1" -> "the quick brown fox jumps over the lazy dog near the quiet river bank yesterday",
    "s2" -> "a customer asked the support agent about billing for the premium plan this week",
    "s3" -> "unrelated chatter regarding sourdough starters and oven spring humidity",
    "s4" -> "machine learning pipelines require careful feature engineering and robust validation gates")

  test("linkAgainstCorpus finds planted near-dups once each, scores match the batch scorer") {
    val corpus = corpusDocs.toDF("conv_id", "text")
    val index = IncrementalLink.corpusIndex(corpus).cache()

    implicit val sqlCtx = spark.sqlContext
    val in = MemoryStream[(String, String, Timestamp)]
    val stream = in.toDF().toDF("conv_id", "text", "ts")
    val q = IncrementalLink.linkAgainstCorpus(stream, index,
      graft.pipeline.Pipeline.Config(scoreThreshold = 0.55))
      .writeStream.format("memory").queryName("ilcorp").outputMode("append").start()
    try {
      // two micro-batches; s1 appears in BOTH (watermarked dedup must
      // still emit its match only once)
      in.addData(streamDocs.take(2).map { case (id, t) => (id, t, ts(0)) })
      q.processAllAvailable()
      in.addData((streamDocs.drop(2) :+ streamDocs.head)
        .map { case (id, t) => (id, t, ts(1)) })
      q.processAllAvailable()
      val got = spark.table("ilcorp")
      val matches = got.select("conv_id", "corpus_id")
        .as[(String, String)].collect().toList
      assert(matches.sorted == List("s1" -> "c1", "s2" -> "c2", "s4" -> "c3"),
        s"got $matches")

      // score parity with the batch scorer on the same pairs
      val allDocs = (corpusDocs ++ streamDocs).toDF("conv_id", "text")
        .select(col("conv_id"),
          graft.functions.tokens(col("text")).as("tokens"),
          substring(graft.functions.norm_text(col("text")), 1, 256).as("prefix"))
      val pairs = matches.toDF("conv_a", "conv_b")
      val batch = graft.pipeline.Scoring.scorePairs(pairs, allDocs)
        .select(col("conv_a"), col("conv_b"), round(col("score"), 9).as("score"))
        .as[(String, String, Double)].collect().map(r => (r._1, r._2) -> r._3).toMap
      val streamed = got.select(col("conv_id"), col("corpus_id"),
          round(col("score"), 9).as("score"))
        .as[(String, String, Double)].collect().map(r => (r._1, r._2) -> r._3).toMap
      assert(streamed == batch, s"stream scores $streamed != batch $batch")
    } finally q.stop()
  }

  test("corpusIndex drops keys above the fanout cap") {
    val hotCorpus = (1 to 5).map(i => s"h$i" ->
      "identical stopword heavy text repeated across many corpus documents verbatim")
      .toDF("conv_id", "text")
    assert(IncrementalLink.corpusIndex(hotCorpus, maxKeyFanout = 3).count() == 0)
    val kept = IncrementalLink.corpusIndex(hotCorpus, maxKeyFanout = 10)
    assert(kept.count() > 0)
    // every surviving key's fanout respects the cap
    val maxFan = kept.groupBy("block_key").count()
      .agg(max("count")).as[Long].head()
    assert(maxFan <= 10)
  }
}
