package graft

import org.apache.spark.sql.SparkSession

/** Benchmark main. Prints ONE JSON line:
  * {"metric":"total","value":N,"unit":"sec","queries":{...},"sf":...,
  *  "pipeline":{...}} where "pipeline" carries the north-rule scaling
  * evidence: the same end-to-end record-linkage job at two parallelism
  * levels (local[N] and local[4N] as the sandbox proxy for N vs 4N
  * executors), throughput in turns/sec at both, and the normalized
  * scaling efficiency (speedup / 4).
  */
object Bench {

  private[graft] def session(cores: Int): SparkSession = {
    val s = SparkSession.builder()
      .master(s"local[$cores]")
      .appName(s"graft-bench-$cores")
      // constant across parallelism levels: partitioning is data layout,
      // not a resource knob — the N vs 4N comparison must only vary cores
      .config("spark.sql.shuffle.partitions", "32")
      // same anti-quantization sizing as the cluster block, for the
      // local[N] thread-scaling compare (see clusterScaling)
      .config("spark.sql.files.maxPartitionBytes", (4 * 1024 * 1024).toString)
      .config("spark.sql.adaptive.advisoryPartitionSizeInBytes",
        (4 * 1024 * 1024).toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.autoBroadcastJoinThreshold", (64 * 1024 * 1024).toString)
      // blocking collect_set states are cap-bounded → hash agg, not the
      // default 128-entry sort-based fallback
      .config("spark.sql.objectHashAggregate.sortBased.fallbackThreshold", "4194304")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }

  /** One full pipeline run over parquet-staged input (resilient to
    * executor loss, unlike localCheckpoint blocks); returns (turns, sec).
    */
  private def pipelineRun(spark: SparkSession, nBase: Long): (Long, Double) =
    BenchPipeline.timedRun(spark, BenchPipeline.stageInput(spark, nBase))

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

  /** The north-rule scaling evidence at real executor granularity:
    * the same pipeline under local-cluster[N,c,*] vs local-cluster[4N,c,*]
    * — separate executor JVMs with private heaps and a cross-process
    * shuffle, the sandbox's closest proxy for N vs 4N cluster executors.
    * Returns a JSON fragment, or null-bearing JSON if the environment
    * cannot launch executor processes.
    */
  private def clusterScaling(nBase: Long): String = {
    // [2,2] vs [8,2]: BOTH configs are multi-executor, so both pay
    // cross-process shuffle serde — the fair N-vs-4N proxy. ([1,c] as the
    // baseline would shuffle entirely in-process and overstate the low
    // config, understating efficiency vs a real cluster where N and 4N
    // both ship shuffle blocks between JVMs.)
    val exLo = 2
    val exHi = 8
    val coresPer = 2
    // anti-quantization sizing scales with the input (BASELINE.md round-3
    // protocol): at the minutes-scale 6.72M-turn input the stages need
    // 16 MB scan splits / AQE advisory + 256 shuffle partitions to keep
    // ≥4 task waves at the 4N config; at the old 3.36M default, 4 MB / 64.
    // Identical at both levels (fairness).
    val minutesScale = nBase >= 400000L
    // 8 MB at minutes scale (round 5; was 16): finer waves shorten the
    // 4N config's straggler tail — interleaved screen measured 34.7 vs
    // 39.2 s at [8,2] alone, 30.1 s combined with the sort-based partial
    // agg below, neutral at [2,2]
    val partBytes = (if (minutesScale) 8 else 4) * 1024 * 1024
    val shufflePartitions =
      sys.env.getOrElse("SPARK_GRAFT_SHUFFLE_PARTITIONS",
        if (minutesScale) "256" else "64")
    // shuffle + spill on tmpfs when available: the sandbox's single
    // virtual disk saturates at the 4N config (measured: a hard ~40 s
    // floor at 16 cores that vanishes on /dev/shm); a real 4N cluster
    // brings 4N local disks, so tmpfs is the faithful proxy
    val shm = new java.io.File("/dev/shm")
    val localDir =
      if (shm.isDirectory && shm.canWrite) "/dev/shm/graft-bench-tmp"
      else sys.props.getOrElse("java.io.tmpdir", "/tmp")
    try {
      val jar = classesJar()
      // per-rep times ride into the JSON: the sandbox's interference
      // bursts last whole reps (same config measured 45-169 s in round
      // 3), so the rep spread is what lets a reader judge whether the
      // min landed in a clean window
      val repLog = scala.collection.mutable.Map.empty[Int, Vector[Double]]
      // 1-min loadavg sampled at each rep start (rep_loads_lo/_hi in the
      // JSON): interference bursts last whole reps, so annotating each
      // rep with the load it started under lets a reader tell a burst
      // rep from a regression without the sweep log. Self-load baseline
      // during the previous rep: ~4 at the lo config, ~16 at hi — excess
      // above that is external.
      val repLoads = scala.collection.mutable.Map.empty[Int, Vector[Double]]
      def loadAvg(): Double =
        try {
          val src = scala.io.Source.fromFile("/proc/loadavg")
          try src.getLines().next().split(" ")(0).toDouble finally src.close()
        } catch { case _: Throwable => -1.0 }
      def block(executors: Int, reps: Int): Long = {
        val s = SparkSession.builder()
          .master(s"local-cluster[$executors,$coresPer,8192]")
          .appName(s"graft-bench-cluster-$executors")
          .config("spark.executor.memory", "6g")
          .config("spark.jars", jar)
          .config("spark.local.dir", localDir)
          .config("spark.sql.shuffle.partitions", shufflePartitions)
          // anti-quantization pair (see BenchPipeline): fine scan splits +
          // small AQE advisory size keep map AND reduce task counts well
          // above the 4N core count — without them the 64-file stage input
          // bin-packs to ~9 map partitions and AQE coalesces reduces to
          // ~16, so the 4N config runs ~1 wave of fat tasks and idles half
          // its cores on the straggler tail. The point is matching the
          // ≥4-waves task structure a production-sized stage gets from the
          // DEFAULT 64 MB target, scaled to the proxy's stage sizes.
          // Identical at both levels (fairness).
          .config("spark.sql.files.maxPartitionBytes", partBytes.toString)
          .config("spark.sql.adaptive.advisoryPartitionSizeInBytes",
            partBytes.toString)
          .config("spark.sql.autoBroadcastJoinThreshold", (64 * 1024 * 1024).toString)
          .config("spark.sql.session.timeZone", "UTC")
          // stock 128-entry sort fallback = sort-based map-side partial
          // agg: block keys are ~unique, so the hash map combines nothing
          // and its random-memory traffic dominated the pairs stage at 16
          // cores (round-5 screen: pairs 17-19 → 12.8 s, end-to-end 39.2
          // → 35.3 s at [8,2]; neutral at [2,2]). Per-key state stays
          // bounded at cap+1 either way (BoundedCollectSet saturates).
          .config("spark.sql.objectHashAggregate.sortBased.fallbackThreshold", "128")
          // delay scheduling idles cores waiting for localCheckpoint-block
          // locality in second-scale stages; interleaved A/B at 6.72M turns
          // measured wait=0 faster at BOTH cluster sizes ([2,2] 121.0 vs
          // 125.8 s, [8,2] 42.6 vs 49.0 s) — identical at both levels
          .config("spark.locality.wait", "0")
          .config("spark.ui.enabled", "false")
          .getOrCreate()
        s.sparkContext.setLogLevel("ERROR")
        try {
          val input = BenchPipeline.stageInput(s, nBase)
          // full-size untimed warmup per block: a fresh local-cluster's
          // executor JVMs repay JIT + shuffle-dir setup (measured 3-6×
          // converged time on the first pass) — burn it untimed so every
          // measured rep sees a settled environment
          val (turns, _) = BenchPipeline.timedRun(s, input)
          val measured = (1 to reps).map { _ =>
            val l = loadAvg()
            (l, BenchPipeline.timedRun(s, input))
          }
          repLog(executors) = repLog.getOrElse(executors, Vector.empty) ++
            measured.map(_._2._2)
          repLoads(executors) = repLoads.getOrElse(executors, Vector.empty) ++
            measured.map(_._1)
          turns
        } finally s.stop()
      }
      // INTERLEAVED blocks (lo, hi, lo, hi — 2 reps each): ambient
      // interference on this host drifts in tens-of-minutes PHASES on top
      // of whole-rep bursts (round-4 logs: the same [2,2] config measured
      // 130 s and 158 s in sweeps an hour apart). A sequential
      // all-lo-then-all-hi sweep can sample the two configs in different
      // phases and corrupt the ratio in either direction; alternating
      // blocks give both configs' minima the same phase exposure at the
      // same total cost as one warmup + 5 reps per config.
      // 3 reps (round 5; was 2): interference on this host bursts in
      // whole reps — with 2 blocks × 3 reps per config, each config's
      // min gets six draws at a clean window instead of four, for ~5 min
      // extra wall time on a run whose ratio is the round's gate number
      val repsPerBlock =
        sys.env.getOrElse("SPARK_GRAFT_CLUSTER_REPS_PER_BLOCK", "3").toInt
      var turnsLo = 0L
      // Ambient 1-min load at each block start, recorded into the JSON:
      // external interference phases on this host inflate whole sweeps
      // (round-5 sweep #7: all 12 reps uniformly +50-60% vs the quiet
      // band on the same jar), so the artifact should carry its own
      // validity indicator — a bad ratio next to high recorded loads
      // reads as ambient pollution, not a code regression. Reading the
      // numbers: each sample includes the decaying load of the bench's
      // OWN previous block (bounded by its core count — 4 after a lo
      // block, 16 after a hi block); only the excess above that
      // self-load baseline indicates external interference.
      val blockLoads = scala.collection.mutable.ArrayBuffer.empty[Double]
      // One lost executor (ambient interference has killed executor JVMs
      // mid-rep on this host) must not zero out the whole sweep: retry a
      // failed block once with a fresh local-cluster, and tolerate a block
      // that fails twice as long as BOTH configs still land ≥1 rep — the
      // interleave then degrades gracefully instead of reporting nothing.
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

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32").toInt
    // 80k bases ≈ 1.1M turns: after the round-2 speedups a 20k input ran in
    // ~7 s — pure fixed cost — and the thread comparison measured nothing
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

    // --- north-rule scaling: same job, two parallelism levels ---
    // INTERLEAVED single-rep blocks (lo, hi, lo, hi), min per level:
    // the sandbox VM shows heavy external timing interference that drifts
    // in tens-of-minutes phases — alternating blocks give both levels the
    // same phase exposure (a sequential sweep can sample them in different
    // phases and corrupt the ratio in either direction). Thread-mode
    // executors live in this JVM, so JIT persists across blocks and each
    // block only needs a tiny warmup.
    val loCores = math.max(cpus / 4, 2)
    def measureOnce(cores: Int): (Long, Double) = {
      val s = session(cores)
      pipelineRun(s, math.min(scaleBase, 500L)) // warmup (JIT, codegen cache)
      val input = BenchPipeline.stageInput(s, scaleBase)
      val r = BenchPipeline.timedRun(s, input)
      s.stop()
      r
    }
    val threadRuns = Seq(loCores, cpus, loCores, cpus).map(c => c -> measureOnce(c))
    val (turnsLo, tLo) = threadRuns.filter(_._1 == loCores).map(_._2).minBy(_._2)
    val (turnsHi, tHi) = threadRuns.filter(_._1 == cpus).map(_._2).minBy(_._2)

    val thrLo = turnsLo / tLo
    val thrHi = turnsHi / tHi
    val eff = (thrHi / thrLo) / (cpus.toDouble / loCores)

    // executor-granularity scaling (separate JVMs — the honest N vs 4N
    // proxy; the in-JVM thread comparison above is kept for continuity).
    // 480k bases ≈ 6.72M turns: the BASELINE.md round-3 minutes-scale
    // protocol — the low config runs minutes per rep, deep enough that
    // the constant serial tail (CC finisher + scheduling barriers) stops
    // dominating the ratio, and the criterion-bearing efficiency number
    // lands in THIS artifact instead of a side run (VERDICT r3 item 1)
    val clusterBase = sys.env.getOrElse("SPARK_GRAFT_CLUSTER_NBASE", "480000").toLong
    val cluster = clusterScaling(clusterBase)

    // delta-maintenance evidence (VERDICT r4 item 4): the incremental
    // pipeline vs a full recompute over the same combined corpus, parity
    // asserted at bench scale before timing. Same protocol input size as
    // the cluster block; SPARK_GRAFT_INC_NBASE=0 disables.
    val incBase = sys.env.getOrElse("SPARK_GRAFT_INC_NBASE", clusterBase.toString).toLong
    val incReps = sys.env.getOrElse("SPARK_GRAFT_INC_REPS", "2").toInt
    val incremental: String =
      if (incBase <= 0) """{"skipped":true}"""
      else try {
        // same tmpfs local.dir as the cluster block: the single virtual
        // disk otherwise bottlenecks both paths' shuffles (and the
        // staged snapshots BenchIncremental reads live there too)
        val shmInc = new java.io.File("/dev/shm")
        val incLocalDir =
          if (shmInc.isDirectory && shmInc.canWrite) "/dev/shm/graft-bench-tmp"
          else sys.props.getOrElse("java.io.tmpdir", "/tmp")
        val s = SparkSession.builder()
          .master(s"local[$cpus]")
          .appName("graft-bench-incremental")
          .config("spark.sql.shuffle.partitions",
            sys.env.getOrElse("SPARK_GRAFT_SHUFFLE_PARTITIONS", "64"))
          .config("spark.local.dir", incLocalDir)
          .config("spark.sql.files.maxPartitionBytes", (8 * 1024 * 1024).toString)
          .config("spark.sql.adaptive.advisoryPartitionSizeInBytes",
            (8 * 1024 * 1024).toString)
          .config("spark.sql.autoBroadcastJoinThreshold", (64 * 1024 * 1024).toString)
          // same minutes-scale finding as clusterScaling: ~unique block
          // keys make sort-based map-side partial agg the right default
          .config("spark.sql.objectHashAggregate.sortBased.fallbackThreshold", "128")
          .config("spark.locality.wait", "0")
          .config("spark.sql.session.timeZone", "UTC")
          .config("spark.ui.enabled", "false")
          .getOrCreate()
        s.sparkContext.setLogLevel("ERROR")
        try {
          val r = BenchIncremental.measure(s, incBase, incReps)
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
    val json =
      f"""{"metric":"total","value":$total%.2f,"unit":"sec","queries":$qs,"errors":$errs,"sf":"$sfDir","pipeline":$pipeline,"pipeline_cluster":$cluster,"incremental":$incremental}"""
    println(json)
    // also write to a file: the driver greps the sbt log tail for the JSON
    // line, and sbt interleaves [error]-stream INFO noise around it — the
    // file is the robust artifact (BENCH_rN "parsed" was null in round 2)
    val out = sys.env.getOrElse("SPARK_GRAFT_BENCH_OUT", "BENCH.json")
    java.nio.file.Files.write(java.nio.file.Paths.get(out),
      (json + "\n").getBytes(java.nio.charset.StandardCharsets.UTF_8))
    // compact criterion-bearing line, printed LAST: the full line above is
    // ~3.5 kB (52 per-query timings) and the driver's log-tail window can
    // clip its head mid-line (BENCH_r04 "parsed" was null for exactly this
    // reason) — this line drops the per-query map (it lives in the file
    // and in the full line) so the tail always carries one complete,
    // parseable JSON object ending the stream.
    val compact =
      f"""{"metric":"total","value":$total%.2f,"unit":"sec","queries":{},"errors":$errs,"sf":"$sfDir","full_queries_in":"$out","pipeline":$pipeline,"pipeline_cluster":$cluster,"incremental":$incremental}"""
    println(compact)
  }
}
