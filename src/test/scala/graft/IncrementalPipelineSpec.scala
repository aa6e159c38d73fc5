package graft

import graft.pipeline._
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Incremental linkage ≡ full recompute: the delta path's clusters must
  * equal, row for row, what [[Pipeline.run]] produces over the combined
  * corpus (same min-member labels, not just the same partition).
  */
class IncrementalPipelineSpec extends SparkSpec {
  import spark.implicits._

  // 50 bases × (1 base + 2 dups). Split: the prior batch gets every base
  // conversation plus both dups of bases ≡ 0 (mod 3); the delta gets the
  // rest — so the delta contains new-OLD links (a dup arriving after its
  // base) AND new-NEW links (two dups of the same base both in the delta).
  private lazy val all = TranscriptGen
    .transcripts(spark, nBase = 50, dupsPerBase = 2).cache()
  private def dupIdx = split(col("conv_id"), "_").getItem(1).cast("int")
  private def baseIdx = substring(col("conv_id"), 2, 9).cast("long")
  private lazy val prior = all.where(dupIdx === 0 || baseIdx % 3 === 0).cache()
  private lazy val delta = all.where(dupIdx =!= 0 && baseIdx % 3 =!= 0).cache()

  private val cfg = Pipeline.Config(maxBlockSize = 500)

  private def assertSameClusters(a: DataFrame, b: DataFrame): Unit = {
    val l = a.select("conv_id", "cluster_id")
    val r = b.select("conv_id", "cluster_id")
    assert(l.exceptAll(r).isEmpty && r.exceptAll(l).isEmpty,
      s"cluster mismatch:\n only-left: ${l.exceptAll(r).collect().toSeq}\n" +
        s" only-right: ${r.exceptAll(l).collect().toSeq}")
  }

  test("one increment reproduces the full recompute exactly") {
    val full = Pipeline.run(all, cfg).clusters
    val priorRun = Pipeline.run(prior, cfg)
    val inc = IncrementalPipeline.run(delta,
      Pipeline.docsPayload(prior, cfg), priorRun.clusters, cfg)
    assertSameClusters(inc.clusters, full)
    // the delta genuinely exercised both link kinds
    val priorIds = prior.select("conv_id").distinct().as[String].collect().toSet
    val edges = inc.matchedEdges.select("conv_a", "conv_b")
      .as[(String, String)].collect()
    assert(edges.exists(e => priorIds(e._1) ^ priorIds(e._2)), "no new-old edge")
    assert(edges.exists(e => !priorIds(e._1) && !priorIds(e._2)), "no new-new edge")
    assert(inc.droppedKeys.isEmpty)
  }

  test("chained increments via appended snapshots reproduce the full recompute") {
    // delta split again: dup 1 arrives before dup 2. The second increment
    // runs against APPENDED snapshots (prior tables ∪ the first delta's
    // returned payloads) — the production maintenance loop, no
    // re-derivation of the corpus side between days.
    val d1 = delta.where(dupIdx === 1).cache()
    val d2 = delta.where(dupIdx === 2).cache()
    val docs0 = Pipeline.docsPayload(prior, cfg)
    val blocks0 = Pipeline.blocksPayload(docs0, cfg)
    val run0 = Pipeline.run(prior, cfg)
    val inc1 = IncrementalPipeline.run(d1, docs0, run0.clusters, cfg,
      priorBlocks = Some(blocks0))
    val inc2 = IncrementalPipeline.run(d2,
      docs0.unionByName(inc1.newDocs), inc1.clusters, cfg,
      priorBlocks = Some(blocks0.unionByName(inc1.newBlocks)))
    assertSameClusters(inc2.clusters, Pipeline.run(all, cfg).clusters)
  }

  test("empty delta is an identity: clusters pass through unchanged") {
    val priorRun = Pipeline.run(prior, cfg)
    val inc = IncrementalPipeline.run(delta.limit(0),
      Pipeline.docsPayload(prior, cfg), priorRun.clusters, cfg)
    assertSameClusters(inc.clusters, priorRun.clusters)
    assert(inc.matchedEdges.isEmpty && inc.droppedKeys.isEmpty)
  }

  test("supplied priorBlocks snapshot gives identical results to re-blocking") {
    val priorDocs = Pipeline.docsPayload(prior, cfg)
    val priorRun = Pipeline.run(prior, cfg)
    val withSnap = IncrementalPipeline.run(delta, priorDocs, priorRun.clusters,
      cfg, priorBlocks = Some(Pipeline.blocksPayload(priorDocs, cfg)))
    assertSameClusters(withSnap.clusters, Pipeline.run(all, cfg).clusters)
  }

  test("retract: deleting conversations reproduces the full recompute over the remainder") {
    val priorRun = Pipeline.run(all, cfg)
    // delete one whole duplicate family (base + both dups) and one lone
    // dup of another base — exercises cluster removal AND cluster shrink
    val gone = all.select("conv_id").distinct()
      .where(baseIdx === 7 || (baseIdx === 11 && dupIdx === 2))
    val r = IncrementalPipeline.retract(gone, priorRun.clusters,
      priorRun.matchedEdges)
    val remaining = all.join(gone, Seq("conv_id"), "left_anti")
    assertSameClusters(r.clusters, Pipeline.run(remaining, cfg).clusters)
    // retracted ids are gone from the output; removed edges all touch one
    val goneSet = gone.as[String].collect().toSet
    assert(r.clusters.where(col("conv_id").isin(goneSet.toSeq: _*)).isEmpty)
    val removed = r.removedEdges.as[(String, String)].collect()
    assert(removed.nonEmpty &&
      removed.forall(e => goneSet(e._1) || goneSet(e._2)))
  }

  test("retract: deleting a bridge doc splits its cluster") {
    // chain A—B—C: B shares a long token run with each of A and C, but A
    // and C share nothing — jaccard-only scoring links A-B and B-C while
    // A-C never pairs (no shared block key). Retracting B must split.
    def turns(id: String, toks: Seq[String]) =
      toks.grouped(10).zipWithIndex.map { case (g, i) =>
        (id, i, "user", g.mkString(" "), "", new java.sql.Timestamp(1000L * i))
      }.toSeq
    val aToks = (1 to 30).map(i => s"alpha$i")
    val cToks = (1 to 30).map(i => s"gamma$i")
    val bToks = aToks.take(15) ++ cToks.take(15)
    val chain = (turns("A", aToks) ++ turns("B", bToks) ++ turns("C", cToks))
      .toDF("conv_id", "turn_idx", "role", "text", "tool", "ts")
    val chainCfg = Pipeline.Config(
      weights = Scoring.Weights(jaccard = 1.0, jaroWinkler = 0.0, levenshtein = 0.0),
      scoreThreshold = 0.3, maxBlockSize = 500)
    val run0 = Pipeline.run(chain, chainCfg)
    // precondition: one cluster via B, no direct A-C edge
    assert(run0.clusters.select("cluster_id").distinct().count() == 1)
    // pair orientation is canonical in hid (hash) order, not string order
    val e0 = run0.matchedEdges.select("conv_a", "conv_b")
      .as[(String, String)].collect()
      .map { case (a, b) => if (a < b) (a, b) else (b, a) }.toSet
    assert(e0 == Set("A" -> "B", "B" -> "C"), s"unexpected edges $e0")
    val r = IncrementalPipeline.retract(
      Seq("B").toDF("conv_id"), run0.clusters, run0.matchedEdges)
    val got = r.clusters.as[(String, String)].collect().toMap
    assert(got == Map("A" -> "A", "C" -> "C"), s"expected a split, got $got")
  }

  test("maintenance loop: retract then ingest against pruned snapshots ≡ full recompute") {
    // day 0: cluster the prior corpus; day 1: a deletion request arrives,
    // then a fresh ingest — the delta runs against snapshots with the
    // retracted ids dropped (the caller's snapshot maintenance duty)
    val docs0 = Pipeline.docsPayload(prior, cfg)
    val blocks0 = Pipeline.blocksPayload(docs0, cfg)
    val run0 = Pipeline.run(prior, cfg)
    val gone = prior.select("conv_id").distinct()
      .where(baseIdx % 5 === 0) // every 5th base's prior members
    val afterRetract = IncrementalPipeline.retract(gone, run0.clusters,
      run0.matchedEdges)
    val docs1 = docs0.join(gone, Seq("conv_id"), "left_anti")
    val blocks1 = blocks0.join(
      docs1.select(col("hid").as("conv_id")), Seq("conv_id"), "left_semi")
    val inc = IncrementalPipeline.run(delta, docs1, afterRetract.clusters,
      cfg, priorBlocks = Some(blocks1))
    val remaining = all.join(gone, Seq("conv_id"), "left_anti")
    assertSameClusters(inc.clusters, Pipeline.run(remaining, cfg).clusters)
  }

  test("maintenance loop via TableIO: chained commits + snapshot expiry + retract stay recompute-exact") {
    val root = java.nio.file.Files.createTempDirectory("graft-maint").toString
    val io = new ParquetTableIO(spark, root)
    val d1 = delta.where(dupIdx === 1)
    val d2 = delta.where(dupIdx === 2)
    // day 0: seed the store from the prior batch run
    io.write(Pipeline.docsPayload(prior, cfg), "docs")
    io.write(Pipeline.blocksPayload(io.read("docs"), cfg), "blocks")
    val run0 = Pipeline.run(prior, cfg)
    io.write(run0.clusters, "clusters")
    io.write(run0.matchedEdges, "matched_edges")
    // days 1 and 2: read → link → commit (history bounded at keepLast=2)
    Seq(d1, d2).foreach { d =>
      val inc = IncrementalPipeline.run(d, io.read("docs"), io.read("clusters"),
        cfg, priorBlocks = Some(io.read("blocks")))
      IncrementalPipeline.commitSnapshots(io, inc, keepLast = 2)
    }
    // resume read-back equals the full recompute over everything
    assertSameClusters(io.read("clusters"), Pipeline.run(all, cfg).clusters)
    // expiry genuinely bounded the history: ≤ keepLast snapshot dirs per table
    for (t <- Seq("docs", "blocks", "matched_edges", "clusters")) {
      val snaps = new java.io.File(s"$root/$t").listFiles()
        .count(_.getName.startsWith("snapshot="))
      assert(snaps <= 2, s"$t holds $snaps snapshots after expiry")
    }
    // the committed (appended) matched_edges history still serves retraction
    val gone = prior.select("conv_id").distinct().where(baseIdx === 7)
    val r = IncrementalPipeline.retract(gone, io.read("clusters"),
      io.read("matched_edges"))
    val remaining = all.join(gone, Seq("conv_id"), "left_anti")
    assertSameClusters(r.clusters, Pipeline.run(remaining, cfg).clusters)
  }

  test("retract: empty retract set is an identity; retracting everything empties the table") {
    val priorRun = Pipeline.run(prior, cfg)
    val none = IncrementalPipeline.retract(spark.emptyDataset[String]
      .toDF("conv_id"), priorRun.clusters, priorRun.matchedEdges)
    assertSameClusters(none.clusters, priorRun.clusters)
    assert(none.removedEdges.isEmpty)
    val everything = IncrementalPipeline.retract(
      prior.select("conv_id").distinct(), priorRun.clusters,
      priorRun.matchedEdges)
    assert(everything.clusters.isEmpty)
  }

  test("combined-size cap drops are reported and bounded, never silent") {
    // shingleK=1 + tiny cap: stopword token blocks blow past the cap only
    // once both batches are counted together
    val tiny = Pipeline.Config(shingleK = 1, maxBlockSize = 8)
    val priorRun = Pipeline.run(prior, tiny)
    val inc = IncrementalPipeline.run(delta,
      Pipeline.docsPayload(prior, tiny), priorRun.clusters, tiny)
    val drops = inc.droppedKeys.collect()
    assert(drops.nonEmpty, "expected combined-cap drops")
    assert(drops.forall(_.getLong(1) > 8))
    // pipeline still completes and every id keeps exactly one cluster row
    val n = inc.clusters.count()
    assert(n == all.select("conv_id").distinct().count())
    assert(inc.clusters.select("conv_id").distinct().count() == n)
  }
}
