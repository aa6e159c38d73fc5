package perfbench

import java.nio.file.{Files, Path}

import org.apache.spark.sql.{DataFrame, Observation, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel

import graft.pipeline._

/** Outcome of a workload's output checks. `pairF1` is the workload's
  * linkage quality (see README); `ok` is every check passing.
  */
final case class CheckResult(ok: Boolean, pairF1: Double, detail: Seq[(String, Any)])

/** What one workload run owns: the session, its seed, its directory and
  * whether it is traced.
  */
final class Ctx(val spark: SparkSession, val seed: Long, val dir: Path,
                val trace: Boolean = false) {

  /** Write `df` as parquet under the run directory and read it back. */
  def stage(df: DataFrame, name: String, files: Int = 16): DataFrame = {
    val p = dir.resolve(name).toString
    df.repartition(files).write.mode("overwrite").parquet(p)
    spark.read.parquet(p)
  }

  /** Release every cached block of the previous op, so each op starts from
    * the same storage state.
    */
  def clear(): Unit = {
    spark.catalog.clearCache()
    spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(blocking = true))
  }

  /** Output name and checksum of every op output written to the noop sink:
    * the checks compare them with the checked warm-up op's outputs.
    */
  val written = scala.collection.mutable.ArrayBuffer[(String, Checks.Sum)]()

  /** Write `df` to the noop sink; the same write computes a checksum of its
    * rows, recorded under `name`.
    */
  def noop(df: DataFrame, name: String): Unit = {
    val obs = new Observation()
    df.observe(obs, Checks.sumColumns(df).head, Checks.sumColumns(df).tail: _*)
      .write.mode("overwrite").format("noop").save()
    written += name -> Checks.Sum(obs)
  }
}

object Ctx {
  def deleteRecursively(p: Path): Unit = if (Files.exists(p)) {
    val s = Files.walk(p)
    try s.sorted(java.util.Comparator.reverseOrder[Path]()).forEach(x => Files.deleteIfExists(x))
    finally s.close()
  }
}

trait Workload {
  def name: String
  /** Generate the inputs from the seed and stage them, with the snapshots
    * the op reads and the references the checks compare against. Runs once.
    */
  def stage(ctx: Ctx): Unit
  /** The untimed warm-up op; its outputs are staged for [[check]]. */
  def checkedOp(ctx: Ctx): Unit
  /** One timed op, writing to the noop sink ([[Ctx.noop]]): the seconds of
    * each named part.
    */
  def op(ctx: Ctx): Seq[(String, Double)]
  /** The same op with a span around each layer call: per-layer metrics. */
  def traced(ctx: Ctx, tr: Tracer): Map[String, Double]
  /** Checks the warm-up op's outputs, and that every output the timed and
    * traced ops wrote has the checksum of the warm-up op's output of the
    * same name. Runs after the timed ops.
    */
  def check(ctx: Ctx): CheckResult

  protected def timed(f: => Unit): Double = {
    val t0 = System.nanoTime(); f; (System.nanoTime() - t0) / 1e9
  }
}

object Workloads {
  /** Sizes for a benchmark run; `smoke` shrinks them for the tests. */
  def apply(name: String, smoke: Boolean = false): Workload = name match {
    case "batch_link" => new BatchLink(if (smoke) 60 else 2000, if (smoke) 40 else 1000)
    case "delta_link" => new DeltaLink(if (smoke) 60 else 400)
    case "elq_queries" => new ElqQueries(if (smoke) 120 else 500)
    case "cc_rounds" => new CcRounds(if (smoke) 40 else 1000)
    case other => throw new IllegalArgumentException(s"unknown workload $other")
  }

  private val ser = StorageLevel.MEMORY_AND_DISK_SER

  /** The stage functions of `Pipeline.run` (in-memory path, default
    * `Config`), called in the same order, each materialized and wrapped in
    * a span. Returns the clusters, materialized, plus the stage outputs the
    * per-layer counts are taken from.
    */
  final case class Composed(clusters: DataFrame, blocks: DataFrame, pairs: DataFrame,
                            dropped: DataFrame, matched: DataFrame)

  def composeTraced(ctx: Ctx, input: DataFrame, tr: Tracer,
                    cfg: Pipeline.Config = Pipeline.Config()): Composed = tr.span("link") {
    val docs = tr.span("docs")(Pipeline.docsPayload(input, cfg).localCheckpoint(true, ser))
    val blocks = Pipeline.blocksPayload(docs, cfg)
    val (pairs, dropped) = tr.span("pairs") {
      val (p, d) = Blocking.pairsFromBlocks(blocks, cfg.maxBlockSize,
        prePartition = cfg.prePartitionPairs)
      (p.localCheckpoint(true, ser), d)
    }
    val obs = new Observation()
    val scored = tr.span("scored") {
      Scoring.scorePairs(pairs, docs, cfg.weights, cfg.prefixChars, cfg.levMaxDist,
        pairIdCol = "hid", pruneBelowThreshold = Some(cfg.scoreThreshold))
        .observe(obs, sum(when(col("score") >= cfg.scoreThreshold, 1L).otherwise(0L)).as("n"))
        .localCheckpoint(true, ser)
    }
    val deadline = System.nanoTime() + 2000000000L
    while (!obs.future.isCompleted && System.nanoTime() < deadline) Thread.sleep(10)
    val knownEdges =
      if (!obs.future.isCompleted) None
      else obs.get.get("n").map(v => Option(v).fold(0L)(_.asInstanceOf[Number].longValue))
    val matched = Scoring.matchedPairs(scored, cfg.scoreThreshold)
    val clusters = tr.span("clusters") {
      ConnectedComponents.runWithUniverse(
        matched.select(col("conv_a").as("src"), col("conv_b").as("dst")),
        docs.select(col("conv_id")),
        (df, _) => df.localCheckpoint(false, ser),
        localMaxEdges = ConnectedComponents.defaultLocalMaxEdges,
        edgesDistinct = true,
        knownEdgeCount = knownEdges).localCheckpoint(true, ser)
    }
    tr.span("sink")(ctx.noop(clusters, "clusters"))
    Composed(clusters, blocks, pairs, dropped, matched)
  }

  /** Seconds of each CC round, from `ConnectedComponents`' `onRound`. */
  final class RoundClock {
    private var last = 0L
    private val buf = scala.collection.mutable.ArrayBuffer[Double]()
    def start(): Unit = last = System.nanoTime()
    val onRound: (Int, Long, Long) => Unit = (_, _, _) => {
      val now = System.nanoTime(); buf += (now - last) / 1e9; last = now
    }
    def seconds: Seq[Double] = buf.toSeq
  }

  def median(xs: Seq[Double]): Double =
    if (xs.isEmpty) 0.0 else {
      val s = xs.sorted; val n = s.size
      if (n % 2 == 1) s(n / 2) else (s(n / 2 - 1) + s(n / 2)) / 2
    }
}

import Workloads.{composeTraced, RoundClock}


/** The north-rule job: `Pipeline.run` over staged transcripts. A traced
  * run also times `ConnectedComponents.run` on cc_rounds' edges, outside
  * the op, so the per-layer `cc.*` metrics cover the distributed rounds.
  */
final class BatchLink(nBase: Long, ccComponents: Long) extends Workload {
  val name = "batch_link"
  private var input, labels, ccEdges: DataFrame = _
  /** the warm-up op's clusters */
  private[perfbench] var clusters: DataFrame = _

  def stage(ctx: Ctx): Unit = {
    input = ctx.stage(TranscriptGen.transcripts(ctx.spark, nBase, dupsPerBase = 2,
      seed = ctx.seed), "transcripts")
    labels = ctx.stage(TranscriptGen.labels(ctx.spark, nBase, dupsPerBase = 2,
      seed = ctx.seed), "labels", files = 4)
    if (ctx.trace) ccEdges = ctx.stage(CcRounds.generate(ctx.spark, ccComponents, ctx.seed)._1, "cc-edges")
  }

  def checkedOp(ctx: Ctx): Unit =
    clusters = ctx.stage(Pipeline.run(input).clusters, "out-clusters", files = 4)

  def op(ctx: Ctx): Seq[(String, Double)] =
    Seq("link" -> timed(ctx.noop(Pipeline.run(input).clusters, "clusters")))

  def traced(ctx: Ctx, tr: Tracer): Map[String, Double] = {
    val c = composeTraced(ctx, input, tr)
    val docs = tr.metrics("docs"); val pairs = tr.metrics("pairs")
    val scored = tr.metrics("scored"); val cl = tr.metrics("clusters")
    // counts, outside every span
    val keySizes = c.blocks.groupBy("block_key").count()
    val keys = keySizes.count()
    val singletonKeys = keySizes.where(col("count") === 1).count()
    val candidates = c.pairs.count()
    val edges = c.matched.count()
    val hid = (s: String) => xxhash64(col(s))
    val positives = labels.where(col("label") === 1)
      .select(least(hid("conv_a"), hid("conv_b")).as("conv_a"),
        greatest(hid("conv_a"), hid("conv_b")).as("conv_b"))
    val nPos = positives.count()
    val found = positives.join(c.pairs, Seq("conv_a", "conv_b"), "left_semi").count()
    val blockRows = c.blocks.count()
    val droppedKeys = c.dropped.count()
    ctx.clear()
    val cc = CcRounds.traced(ctx, tr, ccEdges)
    cc ++ Map(
      "docs.s" -> docs.s, "docs.task_s" -> docs.taskS, "docs.shuffle_write_mb" -> docs.shuffleWriteMb,
      "pairs.s" -> pairs.s, "pairs.task_s" -> pairs.taskS,
      "pairs.shuffle_write_mb" -> pairs.shuffleWriteMb, "pairs.spill_mb" -> pairs.spillMb,
      "pairs.skew" -> pairs.skew, "pairs.block_rows" -> blockRows.toDouble,
      "pairs.singleton_key_share" -> (if (keys == 0) 0.0 else singletonKeys.toDouble / keys),
      "pairs.candidates" -> candidates.toDouble,
      "pairs.dropped_keys" -> droppedKeys.toDouble,
      "pairs.completeness" -> (if (nPos == 0) 1.0 else found.toDouble / nPos),
      "scored.s" -> scored.s, "scored.task_s" -> scored.taskS,
      "scored.shuffle_write_mb" -> scored.shuffleWriteMb,
      "scored.match_ratio" -> (if (candidates == 0) 0.0 else edges.toDouble / candidates),
      "clusters.s" -> cl.s, "clusters.driver_s" -> cl.driverS, "clusters.edges" -> edges.toDouble,
      "op.wall_s" -> tr.metrics("link").wallS)
  }

  /** The warm-up op's clusters reach the F1 floor, and every op (the traced
    * composition included) gives the same clusters: `Pipeline.run` is
    * deterministic. Traced runs also check the CC rounds' assignment
    * against a sequential union-find.
    */
  def check(ctx: Ctx): CheckResult = {
    val f1 = PairEval.pairwise(clusters, labels).f1
    val cc = Option(ccEdges).map(ConnectedComponents.run(_))
    val ccWrong = cc.map(Checks.ccWrong(ccEdges, _))
    val bad = Checks.badWrites(ctx, Map("clusters" -> clusters) ++ cc.map("cc" -> _))
    CheckResult(f1 >= Checks.MinPairF1 && bad.isEmpty && ccWrong.forall(_ == 0), f1,
      Seq("ops_checked" -> ctx.written.size, "bad_writes" -> bad) ++
        ccWrong.map("cc_wrong_assignments" -> _))
  }
}

/** The write side: `IncrementalPipeline.run` (ingest a delta) and
  * `IncrementalPipeline.retract` (delete ids and heal their clusters)
  * against staged snapshots of a prior run.
  */
final class DeltaLink(nBase: Long) extends Workload {
  val name = "delta_link"
  private val cfg = Pipeline.Config()
  private var delta, labels: DataFrame = _
  private var priorDocs, priorBlocks, priorClusters, priorEdges, retractIds: DataFrame = _
  /** `Pipeline.run` over prior ∪ delta, and over the prior corpus minus the retracted ids */
  private var refIngest, refRetract: DataFrame = _
  /** the warm-up op's outputs */
  private[perfbench] var ingested, retracted: DataFrame = _

  private val dupIdx = split(col("conv_id"), "_").getItem(1).cast("int")
  private val baseIdx = substring(col("conv_id"), 2, 9).cast("long")
  // the delta: dup 2 of every 7th base (~4.8% of conversations)
  private val isDelta = dupIdx === 2 && baseIdx % 7 === 0

  def stage(ctx: Ctx): Unit = {
    val full = ctx.stage(TranscriptGen.transcripts(ctx.spark, nBase, dupsPerBase = 2,
      seed = ctx.seed), "full")
    val prior = full.where(!isDelta)
    delta = ctx.stage(full.where(isDelta), "delta", files = 4)
    labels = ctx.stage(TranscriptGen.labels(ctx.spark, nBase, dupsPerBase = 2, seed = ctx.seed),
      "labels", files = 4)
    priorDocs = ctx.stage(Pipeline.docsPayload(prior, cfg), "prior-docs")
    priorBlocks = ctx.stage(Pipeline.blocksPayload(priorDocs, cfg), "prior-blocks")
    val run = Pipeline.run(prior, cfg)
    priorClusters = ctx.stage(run.clusters, "prior-clusters")
    priorEdges = ctx.stage(run.matchedEdges, "prior-edges")
    // whole clusters (every member of every 41st base) plus single members:
    // the least member of every 23rd base (its cluster relabels) and dup 1
    // of every 29th base (its cluster keeps its label)
    val pick = baseIdx % 41 === 3 || (baseIdx % 23 === 5 && dupIdx === 0) ||
      (baseIdx % 29 === 7 && dupIdx === 1)
    retractIds = ctx.stage(priorClusters.select("conv_id").where(pick), "retract-ids", files = 1)
    ctx.clear()
    refIngest = ctx.stage(Pipeline.run(full, cfg).clusters, "ref-ingest", files = 4)
    ctx.clear()
    refRetract = ctx.stage(Pipeline.run(prior.join(retractIds, Seq("conv_id"), "left_anti"), cfg)
      .clusters, "ref-retract", files = 4)
    ctx.clear()
  }

  private def ingest() = IncrementalPipeline.run(delta, priorDocs, priorClusters, cfg,
    priorBlocks = Some(priorBlocks))
  private def retract() = IncrementalPipeline.retract(retractIds, priorClusters, priorEdges)

  def checkedOp(ctx: Ctx): Unit = {
    ingested = ctx.stage(ingest().clusters, "out-ingest", files = 4)
    ctx.clear()
    retracted = ctx.stage(retract().clusters, "out-retract", files = 4)
  }

  def op(ctx: Ctx): Seq[(String, Double)] = {
    val i = timed(ctx.noop(ingest().clusters, "ingest"))
    ctx.clear()
    val r = timed(ctx.noop(retract().clusters, "retract"))
    Seq("ingest" -> i, "retract" -> r)
  }

  def traced(ctx: Ctx, tr: Tracer): Map[String, Double] = {
    val ri = tr.span("ingest") { val r = ingest(); ctx.noop(r.clusters, "ingest"); r }
    val matched = ri.matchedEdges.count()
    val droppedKeys = ri.droppedKeys.count()
    ctx.clear()
    val rr = tr.span("retract") { val r = retract(); ctx.noop(r.clusters, "retract"); r }
    val removed = rr.removedEdges.count()
    val i = tr.metrics("ingest"); val r = tr.metrics("retract")
    Map(
      "ingest.input_mb" -> i.inputMb, "ingest.shuffle_write_mb" -> i.shuffleWriteMb,
      "ingest.task_s" -> i.taskS, "ingest.driver_s" -> i.driverS,
      "ingest.matched_edges" -> matched.toDouble, "ingest.dropped_keys" -> droppedKeys.toDouble,
      "retract.shuffle_write_mb" -> r.shuffleWriteMb, "retract.driver_s" -> r.driverS,
      "retract.removed_edges" -> removed.toDouble,
      "op.wall_s" -> (i.wallS + r.wallS))
  }

  /** Ingest parity with `Pipeline.run` over prior ∪ delta, retract parity
    * with `Pipeline.run` over the prior corpus minus the retracted ids, and
    * every op's outputs equal to the warm-up op's.
    */
  def check(ctx: Ctx): CheckResult = {
    val ingestDiff = Checks.assignmentDiff(ingested, refIngest)
    val retractDiff = Checks.assignmentDiff(retracted, refRetract)
    val f1 = PairEval.pairwise(ingested, labels).f1
    val bad = Checks.badWrites(ctx, Map("ingest" -> ingested, "retract" -> retracted))
    CheckResult(ingestDiff == 0 && retractDiff == 0 && bad.isEmpty && f1 >= Checks.MinPairF1, f1,
      Seq("ingest_diff_rows" -> ingestDiff, "retract_diff_rows" -> retractDiff,
        "retract_ids" -> retractIds.count(), "ops_checked" -> ctx.written.size / 2,
        "bad_writes" -> bad))
  }
}

/** The distributed large-star/small-star rounds of `ConnectedComponents.run`
  * (its default `localMaxEdges = 0`) on seeded path-shaped components.
  */
final class CcRounds(nComponents: Long) extends Workload {
  val name = "cc_rounds"
  private var edges, truth: DataFrame = _
  /** the warm-up op's assignment */
  private[perfbench] var assignment: DataFrame = _

  def stage(ctx: Ctx): Unit = {
    val (e, t) = CcRounds.generate(ctx.spark, nComponents, ctx.seed)
    edges = ctx.stage(e, "edges")
    truth = ctx.stage(t, "truth", files = 4)
  }

  def checkedOp(ctx: Ctx): Unit =
    assignment = ctx.stage(ConnectedComponents.run(edges), "out-assignment", files = 4)

  def op(ctx: Ctx): Seq[(String, Double)] =
    Seq("cc" -> timed(ctx.noop(ConnectedComponents.run(edges), "cc")))

  def traced(ctx: Ctx, tr: Tracer): Map[String, Double] = {
    val m = CcRounds.traced(ctx, tr, edges)
    m + ("op.wall_s" -> tr.metrics("cc").wallS)
  }

  /** The warm-up op's assignment equals a sequential union-find over the
    * same edges, and every op's assignment equals the warm-up op's.
    */
  def check(ctx: Ctx): CheckResult = {
    val planted = truth.collect().map(r => r.getString(0) -> r.getLong(1).toString).toMap
    val wrong = Checks.ccWrong(edges, assignment)
    val bad = Checks.badWrites(ctx, Map("cc" -> assignment))
    CheckResult(wrong == 0 && bad.isEmpty, Checks.pairF1(Checks.pairs(assignment).toMap, planted),
      Seq("nodes" -> planted.size, "wrong_assignments" -> wrong,
        "ops_checked" -> ctx.written.size, "bad_writes" -> bad))
  }
}

object CcRounds {
  /** `ConnectedComponents.run` on `edges` in a span "cc", with its rounds
    * timed through `onRound`: the per-layer `cc.*` metrics.
    */
  def traced(ctx: Ctx, tr: Tracer, edges: DataFrame): Map[String, Double] = {
    val rounds = new RoundClock
    tr.span("cc") {
      rounds.start()
      ctx.noop(ConnectedComponents.run(edges, onRound = rounds.onRound), "cc")
    }
    val m = tr.metrics("cc")
    Map("cc.rounds" -> rounds.seconds.size.toDouble,
      "cc.round_s" -> Workloads.median(rounds.seconds),
      "cc.shuffle_write_mb" -> m.shuffleWriteMb, "cc.driver_s" -> m.driverS)
  }

  /** Edges (src, dst) of `nComponents` path-shaped components. Even
    * components are chains of 2 to 16 nodes laid in id order (their depth
    * sets the round count, 5); odd ones are paths of 2 to 8 nodes in random
    * id order. Sizes follow the component index, so every seed has the same
    * shape; node ids are 64-bit hashes of the seed and each edge's
    * orientation is drawn from the seed. Also returns the planted component
    * of every node (node, comp).
    */
  def generate(spark: SparkSession, nComponents: Long, seed: Long): (DataFrame, DataFrame) = {
    val h = (tag: String, cs: Seq[org.apache.spark.sql.Column]) =>
      xxhash64((lit(seed) +: lit(tag) +: cs): _*)
    val chain = col("comp") % 2 === 0
    val half = (col("comp") / 2).cast("long")
    val size = when(chain, lit(2L) + half % 15).otherwise(lit(2L) + half % 7)
    val nodes = spark.range(nComponents).select(col("id").as("comp"))
      .select(col("comp"), chain.as("chain"), explode(sequence(lit(0L), size - 1)).as("j"))
      .select(col("comp"), col("chain"), col("j"),
        format_string("n%016x", h("id", Seq(col("comp"), col("j")))).as("node"))
    val byId = org.apache.spark.sql.expressions.Window.partitionBy("comp").orderBy("node")
    val ordered = nodes.withColumn("pos",
      when(col("chain"), row_number().over(byId).cast("long") - 1).otherwise(col("j")))
    val a = ordered.select(col("comp"), col("pos"), col("node").as("a"))
    val b = ordered.select(col("comp"), (col("pos") - 1).as("pos"), col("node").as("b"))
    val flip = pmod(h("flip", Seq(col("a"), col("b"))), lit(2)) === 0
    val edges = a.join(b, Seq("comp", "pos"))
      .select(when(flip, col("b")).otherwise(col("a")).as("src"),
        when(flip, col("a")).otherwise(col("b")).as("dst"))
    (edges, nodes.select(col("node"), col("comp")))
  }
}
