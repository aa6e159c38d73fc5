package graft

import graft.pipeline.Blocking
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

  test("streamed pairs == batch pipeline pairs; streaming keys JOIN the batch blocks snapshot") {
    val batchDocs = corpus.toDF("conv_id", "text")
      .withColumn("tokens", graft.functions.tokens(col("text")))
    // the batch pipeline's docs payload for the same texts (the shape a
    // production `docs` snapshot has — Pipeline.docsPayload fields)
    val docsPayload = batchDocs.select(col("conv_id"),
      graft.functions.shingle_hashes(col("tokens"), 1, distinct = false).as("tokh"),
      xxhash64(col("conv_id")).as("hid"))
    val batchBlocks = graft.pipeline.Pipeline
      .blocksPayload(docsPayload, graft.pipeline.Pipeline.Config())

    // ADVICE r4: streaming keys must JOIN a batch blocks snapshot — exact
    // (block_key, member) multiset equality, member ids mapped via hid
    val streamKeys = IncrementalLink.blockKeys(
        batchDocs.withColumn("ts", lit(ts(0))))
      .select(xxhash64(col("conv_id")).as("conv_id"), col("block_key"))
    assert(streamKeys.exceptAll(batchBlocks).isEmpty &&
      batchBlocks.exceptAll(streamKeys).isEmpty,
      "streaming block keys != batch blocksPayload keys")

    val (expectedDf, _) = Blocking.pairsFromBlocks(batchBlocks, maxBlockSize = 64)
    val expected = expectedDf.select("conv_a", "conv_b")
      .as[(Long, Long)].collect().toSet
    assert(expected.nonEmpty, "fixture must produce batch pairs")

    implicit val sqlCtx = spark.sqlContext
    val in = MemoryStream[(String, String, Timestamp)]
    val docs = in.toDF().toDF("conv_id", "text", "ts")
    val pairs = IncrementalLink.dedupedPairs(
      IncrementalLink.incrementalPairs(
        IncrementalLink.blockKeys(docs), maxBlockSize = 64, idleGapMs = 0L))
    val q = pairs.writeStream.format("memory").queryName("ilp")
      .outputMode("append").start()
    try {
      // same docs, three micro-batches — pairs must form across batches
      corpus.grouped(4).zipWithIndex.foreach { case (chunk, i) =>
        in.addData(chunk.map { case (id, t) => (id, t, ts(i)) })
        q.processAllAvailable()
      }
      // stream pairs are canonical in STRING order, the batch snapshot's
      // in hid order — compare as canonical hid pairs
      val got = spark.table("ilp")
        .select(least(xxhash64(col("conv_a")), xxhash64(col("conv_b"))).as("a"),
          greatest(xxhash64(col("conv_a")), xxhash64(col("conv_b"))).as("b"))
        .as[(Long, Long)].collect().toSet
      assert(got == expected,
        s"stream/batch pair sets differ: only-stream=${got -- expected}, " +
          s"only-batch=${expected -- got}")
    } finally q.stop()
  }

  test("new member pairs with previously-seen members across micro-batches") {
    implicit val sqlCtx = spark.sqlContext
    val in = MemoryStream[(Long, String, Timestamp)]
    val blocked = in.toDF().toDF("block_key", "conv_id", "ts")
    val q = IncrementalLink.incrementalPairs(blocked, maxBlockSize = 10, idleGapMs = 0L)
      .writeStream.format("memory").queryName("ilinc").outputMode("append").start()
    try {
      in.addData((7L, "a", ts(0)), (7L, "b", ts(1)))
      q.processAllAvailable()
      assert(spark.table("ilinc").count() == 1) // (a, b)
      in.addData((7L, "c", ts(2)))
      q.processAllAvailable()
      val got = spark.table("ilinc").select("conv_a", "conv_b")
        .as[(String, String)].collect().toSet
      assert(got == Set(("a", "b"), ("a", "c"), ("b", "c")))
    } finally q.stop()
  }

  test("oversize block collapses to O(1) state and stops emitting") {
    implicit val sqlCtx = spark.sqlContext
    val in = MemoryStream[(Long, String, Timestamp)]
    val blocked = in.toDF().toDF("block_key", "conv_id", "ts")
    val q = IncrementalLink.incrementalPairs(blocked, maxBlockSize = 3, idleGapMs = 0L)
      .writeStream.format("memory").queryName("ilcap").outputMode("append").start()
    try {
      // c1..c3 fill the cap (1 + 2 pairs); c4 trips the collapse; c5 and a
      // later-batch c6 are dropped in O(1)
      in.addData((9L, "c1", ts(0)), (9L, "c2", ts(1)), (9L, "c3", ts(2)),
        (9L, "c4", ts(3)), (9L, "c5", ts(4)))
      q.processAllAvailable()
      assert(spark.table("ilcap").count() == 3)
      in.addData((9L, "c6", ts(5)))
      q.processAllAvailable()
      assert(spark.table("ilcap").count() == 3)
      // duplicate re-arrival of a pre-cap member is also a no-op
      in.addData((9L, "c1", ts(6)))
      q.processAllAvailable()
      assert(spark.table("ilcap").count() == 3)
    } finally q.stop()
  }

  test("idle block state expires by event time; a re-arrival starts fresh") {
    implicit val sqlCtx = spark.sqlContext
    val in = MemoryStream[(Long, String, Timestamp)]
    val blocked = in.toDF().toDF("block_key", "conv_id", "ts")
    // watermark 0s: the watermark tracks max seen event time directly;
    // idle gap 1 minute
    val q = IncrementalLink.incrementalPairs(blocked, maxBlockSize = 10,
        watermark = "0 seconds", idleGapMs = 60000L)
      .writeStream.format("memory").queryName("ilexp").outputMode("append").start()
    try {
      in.addData((1L, "a", ts(0)), (1L, "b", ts(0)))
      q.processAllAvailable()
      assert(spark.table("ilexp").count() == 1)
      // unrelated key advances the watermark past key 1's timeout (two
      // batches: the first moves the watermark, the second fires timeouts
      // under it — watermark updates are visible from the NEXT batch)
      in.addData((2L, "x", ts(10)))
      q.processAllAvailable()
      in.addData((2L, "y", ts(10)))
      q.processAllAvailable()
      // key 1's state is gone: a new member pairs with nothing
      in.addData((1L, "c", ts(11)))
      q.processAllAvailable()
      val key1Pairs = spark.table("ilexp").where(col("block_key") === 1L).count()
      assert(key1Pairs == 1, s"expected expired state (1 pair), got $key1Pairs")
    } finally q.stop()
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
