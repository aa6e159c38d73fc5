package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.pipeline.{IncrementalPipeline, Pipeline, TranscriptGen}

/** The dev benchmark main, one harness for the paper's efficiency
  * measurements. Modes:
  *
  *   runMain graft.Bench [all]
  *     per-query timings, the end-to-end pipeline at two thread levels
  *     (local[N/4] vs local[N]) and at two executor counts
  *     (local-cluster[2,2] vs [8,2], the N-vs-4N scaling evidence), and the
  *     incremental-vs-full block. Writes ONE JSON line
  *     {"metric":"total","value":N,"unit":"sec","queries":{...},"sf":...,
  *      "pipeline":{...},"pipeline_cluster":{...},"incremental":{...}}
  *     to BENCH.json (SPARK_GRAFT_BENCH_OUT) and prints it last.
  *   runMain graft.Bench pipeline <nBase> [cores] [reps]
  *     one full-size untimed warmup, then `reps` timed runs (default 1):
  *     `PIPELINE_RUN` per rep and a `PIPELINE` line with the minimum.
  *   runMain graft.Bench incremental <nBase> [cores] [reps]
  *     full recompute vs [[IncrementalPipeline]] (default 3 reps):
  *     `INC_RUN` per rep and an `INC_BENCH` line with the minima.
  *
  * `pipeline` and `incremental` run on GRAFT_MASTER when it is set
  * (spark-submit with GRAFT_MASTER=local-cluster[n,c,m] is the
  * multi-executor drive), else on local[cores] (default 32). Min-of-reps
  * throughout: on a shared host, external interference bursts last whole
  * reps.
  */
object Bench {

  private val MB = 1024 * 1024

  // Shuffle partitions per preset, identical at every parallelism level so
  // an N-vs-4N comparison only varies compute. 64 = 4 waves on the 16-core
  // config (2 at 32, where one straggler idles half the cores);
  // minutes-scale cluster blocks take 256 (more waves amortize stragglers
  // once tasks are seconds long).
  private val QueryShufflePartitions = 32
  private val LinkShufflePartitions = 64
  private val MinutesScaleShufflePartitions = 256

  /** What every linkage session (not the query preset) adds to [[build]].
    *
    * Pair generation aggregates over ~unique block keys (round-5 event
    * logs: 47.5M exploded key rows → 47.1M partial-agg rows), so the
    * ObjectHashAggregate map-side hash map is pure random-memory traffic
    * that combines nothing; the stock 128-entry sort fallback makes the
    * partial agg sort-based while keeping the per-key state bound
    * (BoundedCollectSet saturates at cap+1 either way). Round-5 screen at
    * [8,2]: pairs stage 17-19 → 12.8 s; neutral at [2,2].
    *
    * Delay scheduling only idles cores waiting for localCheckpoint-block
    * locality in second-scale stages: interleaved A/B at 6.72M turns
    * measured wait=0 faster at both cluster sizes ([2,2] 121.0 vs 125.8 s,
    * [8,2] 42.6 vs 49.0 s).
    */
  private val LinkConf = Seq(
    "spark.sql.objectHashAggregate.sortBased.fallbackThreshold" -> "128",
    "spark.locality.wait" -> "0")

  /** The one session recipe; the presets differ only in master,
    * shuffle partitions, partition bytes and `extra`.
    *
    * `partBytes` pins both the scan split and the AQE advisory size:
    * partition-count quantization killed measured scaling before these two
    * (round-3 event logs) — the scan bin-packed the 64 staged files into ~9
    * partitions, localCheckpoint froze that count, and AQE's 64 MB default
    * coalesced 256-partition reduces to ~16 fat tasks, so the 4N config ran
    * ~1 wave and idled half its cores. Small splits give second-scale
    * stages the ≥4 task waves a production stage gets from the defaults.
    * The 64 MB broadcast threshold keeps the CC singleton-attach join (10-50
    * MB at bench scale) a broadcast instead of a sort-merge of every doc.
    */
  private def build(master: String, appName: String, shufflePartitions: Int,
                    partBytes: Int, extra: (String, String)*): SparkSession = {
    val b = SparkSession.builder().master(master).appName(appName)
      .config("spark.sql.shuffle.partitions", shufflePartitions.toString)
      .config("spark.sql.files.maxPartitionBytes", partBytes.toString)
      .config("spark.sql.adaptive.advisoryPartitionSizeInBytes", partBytes.toString)
      .config("spark.sql.autoBroadcastJoinThreshold", (64 * MB).toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
    extra.foreach { case (k, v) => b.config(k, v) }
    val s = b.getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }

  /** The query / thread-scaling preset (also `graft.Profile`'s): 4 MB
    * splits, and blocking collect_set states are cap-bounded, so hash agg
    * instead of the 128-entry sort-based fallback.
    */
  private[graft] def session(cores: Int): SparkSession =
    build(s"local[$cores]", s"graft-bench-$cores", QueryShufflePartitions, 4 * MB,
      "spark.sql.objectHashAggregate.sortBased.fallbackThreshold" -> "4194304")

  /** `/dev/shm/<name>` when tmpfs is writable, else under java.io.tmpdir.
    * A single virtual disk saturates under parallel scans and shuffles (a
    * hard ~40 s floor at 16 cores that vanishes on tmpfs); a real cluster
    * brings a local disk per executor, so tmpfs is the faithful proxy.
    */
  private def scratchDir(name: String): String = {
    val shm = new java.io.File("/dev/shm")
    if (shm.isDirectory && shm.canWrite) s"/dev/shm/$name"
    else s"${System.getProperty("java.io.tmpdir", "/tmp")}/$name"
  }

  /** Drop a run's cached tables and stage blocks now: localCheckpoint RDDs
    * are otherwise only unpersisted when driver GC reaches them
    * (ContextCleaner), so back-to-back runs stack ~1 GB of dead blocks per
    * run onto executor storage and later reps measure under growing memory
    * pressure.
    */
  private def clear(spark: SparkSession): Unit = {
    spark.catalog.clearCache()
    spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(blocking = true))
    System.gc()
  }

  /** Stage deterministic transcripts to parquet; returns the reader.
    * Written as 64 files regardless of generator parallelism: a 4-file
    * table (the generator's defaultParallelism at local-cluster[2,2]) caps
    * the scan at 4 read tasks. A lost executor recomputes from the file,
    * unlike a localCheckpoint block. The generator is deterministic in n,
    * so a completed staging (parquet's _SUCCESS) is reused across sessions.
    */
  private def stageInput(spark: SparkSession, n: Long): DataFrame = {
    val dir = s"${System.getProperty("java.io.tmpdir", "/tmp")}/graft-bench-input-$n"
    if (!new java.io.File(s"$dir/_SUCCESS").exists()) {
      TranscriptGen.transcripts(spark, n, dupsPerBase = 2)
        .repartition(64)
        .write.mode("overwrite").parquet(dir)
    }
    spark.read.parquet(dir)
  }

  // The turn count is rep-invariant reporting, not pipeline work: counted
  // once per input so the timed section is exactly the pipeline.
  private val turnCounts = new java.util.concurrent.ConcurrentHashMap[String, Long]()

  /** One timed end-to-end run over staged input: scan → pipeline → noop.
    * Returns (turns, sec).
    */
  private def timedRun(spark: SparkSession, input: DataFrame): (Long, Double) = {
    val key = input.queryExecution.analyzed.semanticHash().toString
    val turns = turnCounts.computeIfAbsent(key, _ => input.count())
    val t0 = System.nanoTime()
    Pipeline.run(input).clusters.write.mode("overwrite").format("noop").save()
    val sec = (System.nanoTime() - t0) / 1e9
    clear(spark)
    (turns, sec)
  }

  /** Zip the compiled classes into a jar so local-cluster executor JVMs
    * (separate processes) can load graft classes via spark.jars.
    */
  private def classesJar(): String = {
    val src = new java.io.File(
      getClass.getProtectionDomain.getCodeSource.getLocation.toURI)
    if (src.isFile) return src.getAbsolutePath // already a jar (spark-submit)
    val out = java.io.File.createTempFile("graft-classes", ".jar")
    val zos = new java.util.zip.ZipOutputStream(new java.io.FileOutputStream(out))
    def add(f: java.io.File, base: String): Unit =
      if (f.isDirectory) f.listFiles.foreach(c => add(c, s"$base${c.getName}" +
        (if (c.isDirectory) "/" else "")))
      else {
        zos.putNextEntry(new java.util.zip.ZipEntry(base))
        java.nio.file.Files.copy(f.toPath, zos)
        zos.closeEntry()
      }
    src.listFiles.foreach(c => add(c, c.getName + (if (c.isDirectory) "/" else "")))
    zos.close()
    out.getAbsolutePath
  }

  private def loadAvg(): Double =
    try {
      val src = scala.io.Source.fromFile("/proc/loadavg")
      try src.getLines().next().split(" ")(0).toDouble finally src.close()
    } catch { case _: Throwable => -1.0 }

  /** The north-rule scaling evidence at real executor granularity: the
    * same pipeline under local-cluster[2,2] vs [8,2] — separate executor
    * JVMs with private heaps and a cross-process shuffle, the closest
    * single-machine proxy for N vs 4N cluster executors. Both configs are
    * multi-executor, so both pay cross-process shuffle serde (a [1,c]
    * baseline would shuffle in-process and overstate the low config).
    * Returns a JSON fragment, or an error object if the environment
    * cannot launch executor processes.
    */
  private def clusterScaling(nBase: Long): String = {
    val exLo = 2
    val exHi = 8
    val coresPer = 2
    // anti-quantization sizing scales with the input (BASELINE.md round-3
    // protocol), identical at both levels: at the minutes-scale 6.72M-turn
    // input 8 MB splits (round 5; finer waves shorten the 4N straggler
    // tail) and 256 shuffle partitions; at smaller inputs 4 MB / 64
    val minutesScale = nBase >= 400000L
    val partBytes = (if (minutesScale) 8 else 4) * MB
    val shufflePartitions =
      if (minutesScale) MinutesScaleShufflePartitions else LinkShufflePartitions
    try {
      val jar = classesJar()
      // per-rep times and the 1-min loadavg at each rep start ride into the
      // JSON: interference bursts last whole reps (same config measured
      // 45-169 s in round 3), so these let a reader tell a burst rep from a
      // regression. Self-load baseline during the previous rep: ~4 at the
      // lo config, ~16 at hi — excess above that is external.
      val repLog = scala.collection.mutable.Map.empty[Int, Vector[Double]]
      val repLoads = scala.collection.mutable.Map.empty[Int, Vector[Double]]
      def block(executors: Int, reps: Int): Long = {
        val s = build(s"local-cluster[$executors,$coresPer,8192]",
          s"graft-bench-cluster-$executors", shufflePartitions, partBytes,
          LinkConf ++ Seq("spark.executor.memory" -> "6g", "spark.jars" -> jar,
            "spark.local.dir" -> scratchDir("graft-bench-tmp")): _*)
        try {
          val input = stageInput(s, nBase)
          // full-size untimed warmup per block: a fresh local-cluster's
          // executor JVMs repay JIT + shuffle-dir setup (3-6× converged time)
          val (turns, _) = timedRun(s, input)
          val measured = (1 to reps).map { _ =>
            val l = loadAvg()
            (l, timedRun(s, input))
          }
          repLog(executors) = repLog.getOrElse(executors, Vector.empty) ++
            measured.map(_._2._2)
          repLoads(executors) = repLoads.getOrElse(executors, Vector.empty) ++
            measured.map(_._1)
          turns
        } finally s.stop()
      }
      // INTERLEAVED blocks (lo, hi, lo, hi): ambient interference drifts in
      // tens-of-minutes phases on top of whole-rep bursts, and a sequential
      // sweep can sample the two configs in different phases. 3 reps per
      // block give each config's min six draws.
      val repsPerBlock =
        sys.env.getOrElse("SPARK_GRAFT_CLUSTER_REPS_PER_BLOCK", "3").toInt
      var turnsLo = 0L
      // 1-min load at each block start: the artifact's own validity
      // indicator (round-5 sweep #7 ran uniformly +50-60% under ambient
      // load). Each sample includes the bench's own previous block (≤4
      // after lo, ≤16 after hi); only the excess is external.
      val blockLoads = scala.collection.mutable.ArrayBuffer.empty[Double]
      // a lost executor must not zero out the sweep: retry a failed block
      // once with a fresh local-cluster, and skip a block that fails twice
      // as long as both configs still land ≥1 rep
      Seq(exLo, exHi, exLo, exHi).foreach { ex =>
        blockLoads += loadAvg()
        val t =
          try block(ex, repsPerBlock)
          catch {
            case e: Throwable =>
              System.err.println(s"[bench] block($ex) failed, retrying once: $e")
              try block(ex, repsPerBlock)
              catch {
                case e2: Throwable =>
                  System.err.println(s"[bench] block($ex) retry failed, skipping: $e2")
                  -1L
              }
          }
        if (ex == exLo && t > 0) turnsLo = t
      }
      require(repLog.contains(exLo) && repLog.contains(exHi) && turnsLo > 0,
        "no successful rep at one of the configs")
      val tLo = repLog(exLo).min
      val tHi = repLog(exHi).min
      val thrLo = turnsLo / tLo
      val thrHi = turnsLo / tHi
      val eff = (thrHi / thrLo) / (exHi.toDouble / exLo)
      def repsJson(ex: Int): String =
        repLog.getOrElse(ex, Vector.empty).map(t => f"$t%.2f").mkString("[", ",", "]")
      def loadsJson(ex: Int): String =
        repLoads.getOrElse(ex, Vector.empty).map(l => f"$l%.2f").mkString("[", ",", "]")
      f"""{"turns":$turnsLo,"executors_lo":$exLo,"executors_hi":$exHi,""" +
        f""""cores_per_executor":$coresPer,"sec_lo":$tLo%.2f,"sec_hi":$tHi%.2f,""" +
        f""""turns_per_sec_lo":$thrLo%.1f,"turns_per_sec_hi":$thrHi%.1f,""" +
        f""""scaling_efficiency":$eff%.3f,"interleaved":true,""" +
        s""""reps_lo":${repsJson(exLo)},"reps_hi":${repsJson(exHi)},""" +
        s""""block_loads":${blockLoads.map(l => f"$l%.2f").mkString("[", ",", "]")},""" +
        s""""rep_loads_lo":${loadsJson(exLo)},"rep_loads_hi":${loadsJson(exHi)}}"""
    } catch {
      case e: Throwable =>
        System.err.println(s"[bench] local-cluster scaling unavailable: $e")
        """{"error":"local-cluster unavailable"}"""
    }
  }

  /** One delta-linkage measurement: (total turns, delta turns, full
    * recompute sec, incremental sec, parity).
    */
  private case class IncResult(turns: Long, deltaTurns: Long, fullSec: Double,
                               incSec: Double, parity: Boolean)

  /** What does clustering today's ingest cost with [[IncrementalPipeline]]
    * against yesterday's snapshots, vs re-running the full pipeline over the
    * combined corpus?
    *
    * Corpus: TranscriptGen at `nBase` bases × (base + 2 dups); the delta is
    * dup 2 of every 7th base (~4.8% of conversations — a daily-ingest
    * shape, every delta doc linking into an existing cluster). Prior
    * snapshots (docs payload, blocks, clusters) are staged to parquet
    * untimed — a production delta job reads them, not recomputes. They are
    * staged on tmpfs when available: the incremental path reads the large
    * prior snapshots where the full path re-reads only the raw corpus, and
    * a disk-bound stage would charge the delta path for a bottleneck a
    * distributed lake does not have. Cluster-set equality of the two paths
    * is asserted once, untimed (it doubles as the warmup of both paths);
    * then the reps interleave the two paths so host-load phases hit both.
    */
  private def measureIncremental(spark: SparkSession, nBase: Long, reps: Int): IncResult = {
    val cfg = Pipeline.Config()
    val dirs = Seq("full", "prior", "delta", "pdocs", "pblocks", "pclusters")
      .map(n => n -> scratchDir(s"graft-incbench-$n-$nBase")).toMap
    def stage(df: DataFrame, name: String, files: Int = 64): DataFrame = {
      df.repartition(files).write.mode("overwrite").parquet(dirs(name))
      spark.read.parquet(dirs(name))
    }

    val all0 = TranscriptGen.transcripts(spark, nBase, dupsPerBase = 2)
    val dupIdx = split(col("conv_id"), "_").getItem(1).cast("int")
    val baseIdx = substring(col("conv_id"), 2, 9).cast("long")
    val isDelta = dupIdx === 2 && baseIdx % 7 === 0
    val full = stage(all0, "full")
    val prior = stage(all0.where(!isDelta), "prior")
    val delta = stage(all0.where(isDelta), "delta", files = 8)

    val priorDocs = stage(Pipeline.docsPayload(prior, cfg), "pdocs")
    val priorBlocks = stage(Pipeline.blocksPayload(priorDocs, cfg), "pblocks")
    val priorClusters = stage(Pipeline.run(prior, cfg).clusters, "pclusters")
    clear(spark)

    val totalTurns = full.count()
    val deltaTurns = delta.count()
    def incClusters(): DataFrame =
      IncrementalPipeline.run(delta, priorDocs, priorClusters, cfg,
        priorBlocks = Some(priorBlocks)).clusters
    def time(clusters: => DataFrame): Double = {
      val t0 = System.nanoTime()
      clusters.write.mode("overwrite").format("noop").save()
      val s = (System.nanoTime() - t0) / 1e9; clear(spark); s
    }

    val fullC = Pipeline.run(full, cfg).clusters
    val incC = incClusters()
    val diff = fullC.exceptAll(incC).count() + incC.exceptAll(fullC).count()
    val parity = diff == 0
    if (!parity)
      System.err.println(s"[bench] incremental != full recompute: $diff differing rows")
    clear(spark)

    val runs = (1 to reps).map { i =>
      val f = time(Pipeline.run(full, cfg).clusters); val inc = time(incClusters())
      println(f"INC_RUN $i full=$f%.2f inc=$inc%.2f")
      (f, inc)
    }
    // staged snapshots may live on tmpfs (RAM): delete them recursively
    // (a one-level delete left the _temporary subtrees of an interrupted
    // parquet write behind)
    def deleteRec(f: java.io.File): Unit = {
      if (f.isDirectory) {
        val cs = f.listFiles()
        if (cs != null) cs.foreach(deleteRec)
      }
      f.delete()
    }
    dirs.values.map(new java.io.File(_)).filter(_.isDirectory).foreach(deleteRec)
    IncResult(totalTurns, deltaTurns, runs.map(_._1).min, runs.map(_._2).min, parity)
  }

  def main(args: Array[String]): Unit = args.headOption.getOrElse("all") match {
    case "all" => all()
    case mode @ ("pipeline" | "incremental") if args.length > 1 =>
      val nBase = args(1).toLong
      val cores = if (args.length > 2) args(2).toInt else 32
      val reps = if (args.length > 3) args(3).toInt else if (mode == "pipeline") 1 else 3
      val spark = build(sys.env.getOrElse("GRAFT_MASTER", s"local[$cores]"),
        s"graft-bench-$mode", LinkShufflePartitions, 8 * MB,
        LinkConf :+ ("spark.local.dir" -> sys.env.getOrElse("SPARK_LOCAL_DIRS", "/tmp")): _*)
      try {
        if (mode == "pipeline") runPipeline(spark, nBase, cores, reps)
        else runIncremental(spark, nBase, cores, reps)
      } finally spark.stop()
    case _ =>
      throw new IllegalArgumentException(
        "usage: graft.Bench [all] | pipeline <nBase> [cores] [reps] | incremental <nBase> [cores] [reps]")
  }

  private def runPipeline(spark: SparkSession, nBase: Long, cores: Int, reps: Int): Unit = {
    val input = stageInput(spark, nBase)
    // full-size warmup: the first pass after staging is dominated by JIT,
    // shuffle-dir creation and the OS writing back the staged parquet
    timedRun(spark, input)
    val runs = (1 to reps).map { i =>
      val (turns, sec) = timedRun(spark, input)
      println(f"PIPELINE_RUN $i turns=$turns sec=$sec%.2f turns_per_sec=${turns / sec}%.1f")
      (turns, sec)
    }
    val (turns, sec) = runs.minBy(_._2)
    println(f"PIPELINE turns=$turns sec=$sec%.2f turns_per_sec=${turns / sec}%.1f cores=$cores")
  }

  private def runIncremental(spark: SparkSession, nBase: Long, cores: Int, reps: Int): Unit = {
    val r = measureIncremental(spark, nBase, reps)
    require(r.parity, "incremental != full recompute")
    println(f"INC_BENCH turns=${r.turns} delta_turns=${r.deltaTurns} " +
      f"full_sec=${r.fullSec}%.2f inc_sec=${r.incSec}%.2f speedup=${r.fullSec / r.incSec}%.2f " +
      f"cores=$cores reps=$reps")
  }

  private def all(): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32").toInt
    // 80k bases ≈ 1.1M turns: a 20k input is pure fixed cost
    val scaleBase = sys.env.getOrElse("SPARK_GRAFT_BENCH_NBASE", "80000").toLong

    // --- operator queries at the requested parallelism ---
    val spark = session(cpus)
    var failed = List.empty[String]
    val results = SparkEntry.queries.toSeq.sortBy(_._1).map { case (name, fn) =>
      val t0 = System.nanoTime()
      val ok =
        try { fn(spark, sfDir).write.mode("overwrite").format("noop").save(); true }
        catch { case e: Throwable =>
          System.err.println(s"[bench] $name FAILED: ${e.getClass.getName}: ${e.getMessage}")
          failed ::= name; false
        }
      // drop cached blocks between queries: pinned intermediates from one
      // query must not distort the next query's memory budget
      spark.catalog.clearCache()
      // a failed query is reported as negative elapsed, never as a timing
      name -> (if (ok) (System.nanoTime() - t0) / 1e9 else -1.0)
    }
    spark.stop()

    // --- north-rule scaling: same job, two thread levels ---
    // interleaved single-rep blocks (lo, hi, lo, hi), min per level.
    // Thread-mode executors live in this JVM, so JIT persists across
    // blocks and each block only needs a tiny warmup.
    val loCores = math.max(cpus / 4, 2)
    def measureOnce(cores: Int): (Long, Double) = {
      val s = session(cores)
      timedRun(s, stageInput(s, math.min(scaleBase, 500L))) // warmup (JIT, codegen cache)
      val r = timedRun(s, stageInput(s, scaleBase))
      s.stop()
      r
    }
    val threadRuns = Seq(loCores, cpus, loCores, cpus).map(c => c -> measureOnce(c))
    val (turnsLo, tLo) = threadRuns.filter(_._1 == loCores).map(_._2).minBy(_._2)
    val (turnsHi, tHi) = threadRuns.filter(_._1 == cpus).map(_._2).minBy(_._2)

    val thrLo = turnsLo / tLo
    val thrHi = turnsHi / tHi
    val eff = (thrHi / thrLo) / (cpus.toDouble / loCores)

    // executor-granularity scaling; 480k bases ≈ 6.72M turns, the
    // BASELINE.md round-3 minutes-scale protocol: the low config runs
    // minutes per rep, so the constant serial tail stops dominating the ratio
    val clusterBase = sys.env.getOrElse("SPARK_GRAFT_CLUSTER_NBASE", "480000").toLong
    val cluster = clusterScaling(clusterBase)

    // delta-maintenance evidence, same input size as the cluster block;
    // SPARK_GRAFT_INC_NBASE=0 disables
    val incBase = sys.env.getOrElse("SPARK_GRAFT_INC_NBASE", clusterBase.toString).toLong
    val incReps = sys.env.getOrElse("SPARK_GRAFT_INC_REPS", "2").toInt
    val incremental: String =
      if (incBase <= 0) """{"skipped":true}"""
      else try {
        val s = build(s"local[$cpus]", "graft-bench-incremental", LinkShufflePartitions,
          8 * MB, LinkConf :+ ("spark.local.dir" -> scratchDir("graft-bench-tmp")): _*)
        try {
          val r = measureIncremental(s, incBase, incReps)
          f"""{"turns":${r.turns},"delta_turns":${r.deltaTurns},""" +
            f""""full_sec":${r.fullSec}%.2f,"inc_sec":${r.incSec}%.2f,""" +
            f""""speedup":${r.fullSec / r.incSec}%.2f,"parity":${r.parity}}"""
        } finally s.stop()
      } catch {
        case e: Throwable =>
          System.err.println(s"[bench] incremental block failed: $e")
          """{"error":"incremental bench failed"}"""
      }

    val qs = results.map { case (k, v) => "\"" + k + f"""\":$v%.3f""" }
      .mkString("{", ",", "}")
    val total = results.map(_._2).filter(_ >= 0).sum
    val errs = failed.reverse.map("\"" + _ + "\"").mkString("[", ",", "]")
    val pipeline =
      f"""{"turns":$turnsHi,"cores_lo":$loCores,"cores_hi":$cpus,""" +
        f""""sec_lo":$tLo%.2f,"sec_hi":$tHi%.2f,""" +
        f""""turns_per_sec_lo":$thrLo%.1f,"turns_per_sec_hi":$thrHi%.1f,""" +
        f""""scaling_efficiency":$eff%.3f}"""
    // the file is the robust artifact (sbt interleaves stderr noise around
    // the printed line); the same line is printed LAST, so the tail ends
    // with one complete, parseable JSON object
    val out = sys.env.getOrElse("SPARK_GRAFT_BENCH_OUT", "BENCH.json")
    val json =
      f"""{"metric":"total","value":$total%.2f,"unit":"sec","queries":$qs,"errors":$errs,"sf":"$sfDir","full_queries_in":"$out","pipeline":$pipeline,"pipeline_cluster":$cluster,"incremental":$incremental}"""
    java.nio.file.Files.write(java.nio.file.Paths.get(out),
      (json + "\n").getBytes(java.nio.charset.StandardCharsets.UTF_8))
    println(json)
  }
}
