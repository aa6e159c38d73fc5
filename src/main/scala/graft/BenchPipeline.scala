package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import graft.pipeline.{Pipeline, TranscriptGen}

/** Pipeline timing probe under any master (spark-submit with
  * GRAFT_MASTER=local-cluster[n,c,m] is the multi-executor drive).
  * Usage: runMain graft.BenchPipeline [nBase] [cores] [reps]
  * Runs one warmup (nBase/10, JIT + codegen + shuffle service) then
  * `reps` measured runs; reports each and the minimum (the sandbox shows
  * heavy external timing interference — min filters it).
  *
  * The generated input is staged to a temp parquet and the timed run reads
  * from it: production-shaped (the pipeline starts from a columnar scan),
  * and resilient — a lost executor recomputes from the file, unlike a
  * localCheckpoint block which dies with its executor.
  */
object BenchPipeline {

  /** Stage deterministic transcripts to parquet; returns the reader.
    * Written as 64 files regardless of generator parallelism: the
    * generator inherits defaultParallelism (4 files at local-cluster[2,2]),
    * and a 4-file table caps the scan+assemble stage at 4 read tasks — the
    * round-2 "docs stage only speeds up 1.4×" finding was input-layout,
    * not compute. 64 files give both cluster sizes full scan fan-out.
    */
  private[graft] def stageInput(spark: SparkSession, n: Long): DataFrame = {
    val dir = s"${System.getProperty("java.io.tmpdir", "/tmp")}/graft-bench-input-$n"
    // the generator is deterministic in n, so a completed staging (marked
    // by parquet's _SUCCESS) is reused across sessions/configs — the
    // cluster-scaling block would otherwise regenerate the same table for
    // every parallelism level it measures
    if (!new java.io.File(s"$dir/_SUCCESS").exists()) {
      TranscriptGen.transcripts(spark, n, dupsPerBase = 2)
        .repartition(64)
        .write.mode("overwrite").parquet(dir)
    }
    spark.read.parquet(dir)
  }

  /** One timed end-to-end run over staged input: scan → pipeline → noop.
    * Returns (turns, sec). The turn count is rep-invariant reporting, not
    * pipeline work — counted once per input (cached) so the timed section
    * is exactly the pipeline.
    */
  private val turnCounts = new java.util.concurrent.ConcurrentHashMap[String, Long]()

  private[graft] def timedRun(spark: SparkSession,
                              input: DataFrame): (Long, Double) = {
    val key = input.queryExecution.analyzed.semanticHash().toString
    val turns = turnCounts.computeIfAbsent(key, _ => input.count())
    val t0 = System.nanoTime()
    Pipeline.run(input).clusters.write.mode("overwrite").format("noop").save()
    val sec = (System.nanoTime() - t0) / 1e9
    // drop this run's stage blocks NOW: localCheckpoint RDDs are otherwise
    // only unpersisted when driver GC reaches them (ContextCleaner), so
    // back-to-back runs stack ~1 GB of dead blocks per run onto executor
    // storage and successive reps measure under growing memory pressure
    spark.catalog.clearCache()
    spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(blocking = true))
    System.gc()
    (turns, sec)
  }

  def main(args: Array[String]): Unit = {
    val nBase = if (args.length > 0) args(0).toLong else 2000L
    val cores = if (args.length > 1) args(1).toInt else 32
    val reps = if (args.length > 2) args(2).toInt else 1
    val spark = SparkSession.builder().master(sys.env.getOrElse("GRAFT_MASTER", s"local[$cores]"))
      // 64 = 4 waves on the 16-core config (vs 2 at 32, where one straggler
      // idles half the cores); identical at every parallelism level so the
      // N-vs-4N comparison only varies compute. Minutes-scale runs override
      // upward (more waves amortize stragglers once tasks are seconds-long).
      .config("spark.sql.shuffle.partitions",
        sys.env.getOrElse("SPARK_GRAFT_SHUFFLE_PARTITIONS", "64"))
      // Partition-count quantization killed measured scaling before these
      // two (event-log analysis, round 3): the scan bin-packed the 64
      // staged files into ~9 partitions — localCheckpoint freezes that
      // count, so every cached-stage consumer ran ≤18 map tasks (1.1
      // waves at 16 cores, half the cluster idle) — and AQE's default
      // 64 MB advisory target coalesced the 256-partition reduces to
      // ~15-18 fat tasks. 8 MB on both knobs keeps second-scale stages
      // well above 4 task waves at 16 cores — the wave count a
      // production minutes-scale stage gets from the SAME defaults.
      // (Round-5 screen, interleaved at [8,2]: 8 MB beat the round-3/4
      // 16 MB at the hi config — 34.7 vs 39.2 s alone, 30.1 vs 35.3 s
      // combined with the sort-based partial agg below — and was neutral
      // at [2,2]; finer waves shorten the straggler tail exactly where
      // 16 cores share one memory bus.) Identical at every parallelism
      // level (fairness).
      .config("spark.sql.files.maxPartitionBytes", (8 * 1024 * 1024).toString)
      .config("spark.sql.adaptive.advisoryPartitionSizeInBytes",
        (8 * 1024 * 1024).toString)
      // the CC singleton-attach join broadcasts the assignment (10-50 MB
      // at bench scale); the 10 MB default silently degrades it to a
      // sort-merge shuffle of every doc
      .config("spark.sql.autoBroadcastJoinThreshold", (64 * 1024 * 1024).toString)
      .config("spark.local.dir", sys.env.getOrElse("SPARK_LOCAL_DIRS", "/tmp"))
      // Pair-generation aggregates over ~UNIQUE block keys (round-5 event
      // logs: 47.5M exploded key rows → 47.1M partial-agg output rows,
      // <1% map-side combining), so ObjectHashAggregate's map-side hash
      // map is ~1.3M entries of pure random-memory traffic per task that
      // combines nothing. The stock 128-entry sort fallback makes the
      // partial agg sort-based (sequential memory access) while KEEPING
      // the per-key state bound (BoundedCollectSet saturates at cap+1
      // either way). Interleaved round-5 screen at [8,2]: pairs stage
      // 17-19 s → 12.8 s, end-to-end 39.2 → 35.3 s (30.1 s with the 8 MB
      // partition knob above); neutral at [2,2] where 2 cores never
      // saturate the bus. Round 3's raised threshold (keep hash-based)
      // was measured on second-scale inputs where the map fit in L2 —
      // at minutes scale the trade flips.
      .config("spark.sql.objectHashAggregate.sortBased.fallbackThreshold", "128")
      // measured at both cluster sizes (see Bench.clusterScaling): delay
      // scheduling only idles cores here, wait=0 wins at [2,2] AND [8,2]
      .config("spark.locality.wait", "0")
      .config("spark.ui.enabled", "false").getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")

    val input = stageInput(spark, nBase)
    // full-size warmup: the first pass after staging is dominated by JIT,
    // shuffle-dir creation and the OS writing back the staged parquet
    // (measured 3-6× the converged time) — burn it untimed so every
    // measured rep sees the same settled environment
    timedRun(spark, input)
    val runs = (1 to reps).map { i =>
      val (turns, sec) = timedRun(spark, input)
      println(f"PIPELINE_RUN $i turns=$turns sec=$sec%.2f turns_per_sec=${turns / sec}%.1f")
      (turns, sec)
    }
    val (turns, sec) = runs.minBy(_._2)
    println(f"PIPELINE turns=$turns sec=$sec%.2f turns_per_sec=${turns / sec}%.1f cores=$cores")
    spark.stop()
  }
}
