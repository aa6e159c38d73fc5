package graft

import graft.pipeline._
import org.apache.spark.sql.functions._

class PipelineSpec extends SparkSpec {
  import spark.implicits._

  private lazy val t = TranscriptGen.transcripts(spark, nBase = 60, dupsPerBase = 2).cache()
  private lazy val labels = TranscriptGen.labels(spark, nBase = 60, dupsPerBase = 2).cache()

  test("generator: schema, dense turn_idx, deterministic") {
    assert(t.columns.toSeq == Seq("conv_id", "turn_idx", "role", "text", "tool", "ts"))
    // dense 0-based turn_idx per conversation
    val bad = t.groupBy("conv_id")
      .agg(count(lit(1)).as("n"), max("turn_idx").as("mx"), min("turn_idx").as("mn"),
        countDistinct("turn_idx").as("nd"))
      .where($"mn" =!= 0 || $"mx" =!= $"n" - 1 || $"nd" =!= $"n")
      .count()
    assert(bad == 0)
    // deterministic: re-generation at different parallelism is identical
    val again = TranscriptGen.transcripts(spark, nBase = 60, dupsPerBase = 2).repartition(13)
    assert(t.exceptAll(again).isEmpty && again.exceptAll(t).isEmpty)
  }

  test("doc assembly preserves per-turn text (the per-row invariant)") {
    val docs = DocAssembly.assemble(t)
    val back = DocAssembly.explodeBack(docs)
    val orig = t.select("conv_id", "turn_idx", "text")
    assert(back.exceptAll(orig).isEmpty && orig.exceptAll(back).isEmpty)
    assert(docs.count() == t.select("conv_id").distinct().count())
  }

  test("hybrid (LSH + exact-shingle) pipeline reaches pairwise F1 >= 0.99") {
    val res = Pipeline.run(t, Pipeline.Config(maxBlockSize = 500))
    val r = PairEval.pairwise(res.clusters, labels)
    info(s"hybrid blocking: P=${r.precision} R=${r.recall} F1=${r.f1} ($r)")
    assert(r.f1 >= 0.99, r.toString)
  }

  // single-token shingle blocks over hid member ids (the pipeline's pair
  // key): stopword tokens make plenty of blocks oversize at a small cap
  private lazy val hidBlocks = Blocking.exactShingleBlocks(DocAssembly.assemble(t), 1)
    .select(col("block_key"), xxhash64(col("conv_id")).as("conv_id"))

  test("hot blocks are capped and the drop is reported, not silent") {
    // tiny cap forces stopword-shingle blocks over the cap
    val (pairs, dropped) = Blocking.pairsFromBlocks(hidBlocks, maxBlockSize = 10)
    assert(dropped.count() > 0)
    val maxPairKey = pairs.groupBy().agg(max("n_blocks")).as[Long].head()
    assert(maxPairKey > 0)
  }

  test("pairsFromBlocks ≡ driver brute force (pairs, drop audit, state bound)") {
    val cap = 10
    val (pFus, dFus) = Blocking.pairsFromBlocks(hidBlocks, maxBlockSize = cap)
    // brute force on the driver: distinct members per key, within-block
    // pairs of every block of 2..cap members, counted per pair
    val members = hidBlocks.as[(Long, Long)].collect()
      .groupBy(_._1).map { case (k, rows) => k -> rows.map(_._2).distinct.sorted }
    val want = members.values.filter(m => m.length >= 2 && m.length <= cap).toSeq
      .flatMap(_.combinations(2).map(p => (p(0), p(1))))
      .groupBy(identity).map { case (p, hits) => (p._1, p._2, hits.size.toLong) }.toSet
    val fus = pFus.select(col("conv_a"), col("conv_b"), col("n_blocks"))
      .as[(Long, Long, Long)].collect().toSet
    assert(want.nonEmpty && fus == want)
    // the dropped keys are exactly the keys with more than cap members,
    // each reported at the documented cap+1 lower bound
    val oversize = members.collect { case (k, m) if m.length > cap => k }.toSet
    assert(oversize.nonEmpty)
    assert(dFus.select("block_key").as[Long].collect().toSet == oversize)
    assert(dFus.select("block_size").as[Long].collect().forall(_ == cap + 1L))
    // the prePartition plan shape (raw-shuffle-then-aggregate, no map-side
    // partial agg) must be a pure physical rewrite: identical pairs AND
    // identical drop audit
    val (pPre, dPre) =
      Blocking.pairsFromBlocks(hidBlocks, maxBlockSize = cap, prePartition = true)
    val pre = pPre.select(col("conv_a"), col("conv_b"), col("n_blocks"))
      .as[(Long, Long, Long)].collect().toSet
    assert(pre == fus)
    assert(dPre.select("block_key").as[Long].collect().toSet == oversize)
    // the aggregator's state bound: saturates at cap+1 distinct, dedups
    val agg = new graft.functions.BoundedCollectSet(4)
    val r = (1L to 100L).foldLeft(agg.zero)((b, v) => agg.reduce(agg.reduce(b, v), v))
    assert(r.toSeq == Seq(1L, 2L, 3L, 4L))
    val m = agg.merge(Array(1L, 3L, 5L), Array(2L, 3L, 7L, 9L))
    assert(m.toSeq == Seq(1L, 2L, 3L, 5L))
    // merge stays bounded + sorted-distinct from arbitrary partials
    val m2 = agg.merge(Array(1L, 2L, 3L), Array(4L, 5L, 6L, 7L))
    assert(m2.toSeq == Seq(1L, 2L, 3L, 4L))
  }

  test("pairsFromBlocks rejects string ids with an error naming the type") {
    val strBlocks = Seq((1L, "a"), (1L, "b")).toDF("block_key", "conv_id")
    val e = intercept[IllegalArgumentException](
      Blocking.pairsFromBlocks(strBlocks, maxBlockSize = 10))
    assert(e.getMessage.contains("string"), e.getMessage)
  }

  test("threshold-aware string-kernel prune: matched set identical, hopeless pairs skip the kernels") {
    val cfg = Pipeline.Config()
    val docs = Pipeline.docsPayload(t, cfg)
      .localCheckpoint(true)
    val (pairsDf, _) = Blocking.pairsFromBlocks(
      Pipeline.blocksPayload(docs, cfg), cfg.maxBlockSize)
    val pairs = pairsDf.localCheckpoint(true)
    val plain = Scoring.scorePairs(pairs, docs, cfg.weights, cfg.prefixChars,
      cfg.levMaxDist, pairIdCol = "hid")
    val pruned = Scoring.scorePairs(pairs, docs, cfg.weights, cfg.prefixChars,
      cfg.levMaxDist, pairIdCol = "hid",
      pruneBelowThreshold = Some(cfg.scoreThreshold))
    // the threshold cut sees exactly the same matches with the same scores
    val mPlain = Scoring.matchedPairs(plain, cfg.scoreThreshold)
    val mPruned = Scoring.matchedPairs(pruned, cfg.scoreThreshold)
    assert(mPlain.exceptAll(mPruned).isEmpty && mPruned.exceptAll(mPlain).isEmpty)
    assert(mPlain.count() > 0) // non-vacuous: the fixture has real matches
    // skipped pairs (jaccard below the guard) read jw = lev = 0 and can
    // never cross the threshold; surviving pairs carry identical values
    val guard = (cfg.scoreThreshold - cfg.weights.jaroWinkler -
      cfg.weights.levenshtein) / cfg.weights.jaccard - 1e-9
    val skipped = pruned.where(col("jaccard") < guard)
    assert(skipped.where(col("jw") =!= 0d || col("lev_sim") =!= 0d).isEmpty)
    assert(skipped.where(col("score") >= cfg.scoreThreshold).isEmpty)
    val survivorsPlain = plain.where(col("jaccard") >= guard)
    val survivorsPruned = pruned.where(col("jaccard") >= guard)
    assert(survivorsPlain.exceptAll(survivorsPruned).isEmpty &&
      survivorsPruned.exceptAll(survivorsPlain).isEmpty)
  }

  test("zero Jaccard weight: identical conversations still link under the prune") {
    // the prune guard divides by the Jaccard weight; at 0 it must not
    // skip the string kernels that carry the whole score
    val first = t.select(min("conv_id")).as[String].head()
    val one = t.where(col("conv_id") === first)
    val twins = one.unionByName(one.withColumn("conv_id", lit(s"$first-twin")))
    val cfg = Pipeline.Config(weights = Scoring.Weights(0.0, 0.5, 0.5), scoreThreshold = 1.0)
    val clusters = Pipeline.run(twins, cfg).clusters
    assert(clusters.count() == 2)
    assert(clusters.select("cluster_id").distinct().as[String].collect().toSeq == Seq(first))
  }

  test("checkpointed run resumes from snapshots and is byte-identical") {
    val dir = java.nio.file.Files.createTempDirectory("graft-ckpt").toString
    val io = new ParquetTableIO(spark, dir)
    val cfg = Pipeline.Config(maxBlockSize = 500)
    val first = Pipeline.runCheckpointed(t, cfg, io).clusters.orderBy("conv_id").collect()
    // second run must reuse every stage snapshot (resume) and match exactly
    val second = Pipeline.runCheckpointed(t, cfg, io).clusters.orderBy("conv_id").collect()
    assert(first.sameElements(second))
    // both modes close CC the same way: the snapshot run equals the in-memory one
    assert(first.sameElements(Pipeline.run(t, cfg).clusters.orderBy("conv_id").collect()))
    assert(io.exists("clusters") && io.exists("edges") && io.exists("docs"))
    assert(io.readMetrics().nonEmpty)
  }
}
