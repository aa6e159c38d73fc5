package perfbench

import java.lang.management.ManagementFactory
import java.nio.file.{Files, Path, Paths}

import scala.collection.immutable.ListMap

import com.fasterxml.jackson.databind.ObjectMapper
import com.fasterxml.jackson.module.scala.DefaultScalaModule
import org.apache.spark.sql.SparkSession

/** One benchmark run of one workload in this JVM, with one SparkContext.
  *
  * Usage: perfbench.Main --workload <name> --seed <n> --seconds <s>
  *          --trace <0|1> --run-dir <dir> --out <file> [--start-ms <epoch ms>]
  *          [--trace-file <file>]
  *
  * Set-up (session start, input generation and staging, snapshots, check
  * preparation, warm-up) ends before the first timed op. Ops repeat until
  * `--seconds` have passed. With `--trace 1` the first half of the window
  * times untraced ops and the second half traced ones, which give the
  * per-layer metrics; their difference is the tracing overhead. The output
  * checks run afterwards: they check the warm-up op's outputs, and that
  * every timed and traced op wrote the same outputs. The result goes to
  * `--out` as one JSON object.
  */
object Main {

  /** JSON for the result, the manifest and the span lines. */
  val Json: ObjectMapper = new ObjectMapper().registerModule(DefaultScalaModule)

  val EndToEnd: Seq[(String, String)] = Seq(
    "op_s" -> "s", "setup_s" -> "s", "heap_retained_mb" -> "MB", "pair_f1" -> "ratio")

  /** Per-layer metrics of a traced run; the scalar-kernel metrics
    * ([[Kernels.Names]]) come from a JVM of their own (see run.py).
    */
  val PerLayer: Seq[String] = Seq(
    "docs.s", "docs.task_s", "docs.shuffle_write_mb",
    "pairs.s", "pairs.task_s", "pairs.shuffle_write_mb", "pairs.spill_mb", "pairs.skew",
    "pairs.block_rows", "pairs.singleton_key_share", "pairs.candidates",
    "pairs.dropped_keys", "pairs.completeness",
    "scored.s", "scored.task_s", "scored.shuffle_write_mb", "scored.match_ratio",
    "clusters.s", "clusters.driver_s", "clusters.edges",
    "cc.rounds", "cc.round_s", "cc.shuffle_write_mb", "cc.driver_s",
    "ingest.input_mb", "ingest.shuffle_write_mb", "ingest.task_s", "ingest.driver_s",
    "ingest.matched_edges", "ingest.dropped_keys",
    "retract.shuffle_write_mb", "retract.driver_s", "retract.removed_edges") ++
    (ElqQueries.Queries :+ ElqQueries.Eval).map(q => s"query.${q}_s") ++
    Seq("trace.overhead_s", "trace.failed_tasks", "trace.retried_tasks")

  def unit(metric: String): String =
    if (metric.endsWith("_ns")) "ns"
    else if (metric.endsWith("_s") || metric.endsWith(".s")) "s"
    else if (metric.endsWith("_mb")) "MB"
    else if (Seq("skew", "share", "completeness", "ratio").exists(metric.endsWith)) "ratio"
    else "count"

  def session(cores: Int, runDir: Path): SparkSession = {
    val spark = SparkSession.builder()
      .master(s"local[$cores]")
      .appName("perfbench")
      .config("spark.sql.shuffle.partitions", (4 * cores).toString)
      .config("spark.sql.files.maxPartitionBytes", (8 * 1024 * 1024).toString)
      .config("spark.sql.adaptive.advisoryPartitionSizeInBytes", (8 * 1024 * 1024).toString)
      .config("spark.sql.autoBroadcastJoinThreshold", (64 * 1024 * 1024).toString)
      .config("spark.sql.objectHashAggregate.sortBased.fallbackThreshold", "128")
      .config("spark.locality.wait", "0")
      .config("spark.local.dir", runDir.resolve("local").toString)
      .config("spark.sql.warehouse.dir", runDir.resolve("warehouse").toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      // the status store keeps every job, stage and query of the run; cap it
      // so the heap left after the timed ops does not grow with their count
      .config("spark.ui.retainedJobs", "50")
      .config("spark.ui.retainedStages", "50")
      .config("spark.ui.retainedTasks", "1000")
      .config("spark.sql.ui.retainedExecutions", "20")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    spark
  }

  /** Driver heap in use after full GCs. Spark's ContextCleaner frees shuffle
    * and broadcast state only after a GC has cleared their references, so
    * collect until the figure stops falling.
    */
  def retainedHeapMb(): Double = {
    def used(): Double = {
      System.gc(); Thread.sleep(200)
      ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed / 1e6
    }
    var prev = used()
    var cur = used()
    var rounds = 0
    while (cur < prev * 0.99 && rounds < 8) { prev = cur; cur = used(); rounds += 1 }
    cur
  }

  private def load1(): Double = ManagementFactory.getOperatingSystemMXBean.getSystemLoadAverage

  /** CPU time of the whole JVM: driver, task threads, JIT and GC. */
  private def processCpuNs(): Long = ManagementFactory.getOperatingSystemMXBean match {
    case os: com.sun.management.OperatingSystemMXBean => os.getProcessCpuTime
    case _ => 0L
  }

  private def timedS(f: => Unit): Double = {
    val t0 = System.nanoTime(); f; (System.nanoTime() - t0) / 1e9
  }

  final case class OpSample(parts: Seq[(String, Double)], cpuS: Double,
                            loadStart: Double, loadEnd: Double) {
    def total: Double = parts.map(_._2).sum
  }

  def main(args: Array[String]): Unit = {
    val opt = args.grouped(2).collect { case Array(k, v) if k.startsWith("--") => k.drop(2) -> v }.toMap
    val workload = opt("workload")
    val seed = opt.getOrElse("seed", "42").toLong
    val seconds = opt.getOrElse("seconds", "10").toDouble
    val trace = opt.getOrElse("trace", "0") == "1"
    val runDir = Paths.get(opt("run-dir")).toAbsolutePath
    val startMs = opt.get("start-ms").map(_.toLong)
      .getOrElse(ManagementFactory.getRuntimeMXBean.getStartTime)
    val cores = Runtime.getRuntime.availableProcessors()
    val wl = Workloads(workload)
    Files.createDirectories(runDir)
    val spark = session(cores, runDir)
    try {
      val json = run(spark, wl, seed, seconds, trace, runDir, startMs, cores,
        opt.get("trace-file").map(Paths.get(_)))
      Files.write(Paths.get(opt("out")), json.getBytes("UTF-8"))
    } finally spark.stop() // run.py deletes the run directory once it has checked the outputs
  }

  def run(spark: SparkSession, wl: Workload, seed: Long, seconds: Double, trace: Boolean,
          runDir: Path, startMs: Long, cores: Int, traceFile: Option[Path]): String = {
    val ctx = new Ctx(spark, seed, runDir.resolve("data"), trace)
    val t0 = System.nanoTime()
    wl.stage(ctx)
    val stageS = (System.nanoTime() - t0) / 1e9
    // one untimed op warms JIT, codegen caches, heap sizing and shuffle
    // directories; its outputs are checked
    val warmS = timedS { wl.checkedOp(ctx); ctx.clear() }
    System.gc()
    val setupS = (System.currentTimeMillis() - startMs) / 1e3

    var failed = 0
    def loop(window: Double)(one: => Seq[(String, Double)]): Seq[OpSample] = {
      val out = scala.collection.mutable.ArrayBuffer[OpSample]()
      val end = System.nanoTime() + (window * 1e9).toLong
      var attempted = 0
      var last = 0L
      // a next op that would end past the window is not started
      while (attempted == 0 || System.nanoTime() + last <= end) {
        attempted += 1
        val l0 = load1()
        val t0 = System.nanoTime()
        val cpu0 = processCpuNs()
        try {
          val parts = one
          out += OpSample(parts, (processCpuNs() - cpu0) / 1e9, l0, load1())
        } catch {
          case e: Exception =>
            failed += 1
            System.err.println(s"[perfbench] ${wl.name} op failed: $e")
        }
        last = System.nanoTime() - t0
        ctx.clear()
        System.gc()
      }
      out.toSeq
    }

    // a traced run times its untraced ops one op later in the JVM, as
    // warm as the traced ops after them, so their difference is the tracing
    if (trace) { wl.op(ctx); ctx.clear() }
    val untraced = loop(if (trace) seconds / 2 else seconds)(wl.op(ctx))
    // the listener is registered only after the untraced ops
    val tracer = if (trace) Some(new Tracer(spark.sparkContext, s"${wl.name}-$seed")) else None
    val tracedMaps = scala.collection.mutable.ArrayBuffer[Map[String, Double]]()
    val traced = tracer.toSeq.flatMap { tr =>
      loop(seconds / 2) {
        val m = wl.traced(ctx, tr)
        tracedMaps += m
        Seq("traced" -> m("op.wall_s"))
      }
    }
    ctx.clear()
    val heapMb = retainedHeapMb()

    var check: CheckResult = null
    val checkS = timedS { check = wl.check(ctx) }
    val attempted = untraced.size + traced.size + failed
    if (!check.ok) failed = attempted
    val partNames = untraced.flatMap(_.parts.map(_._1)).distinct
    val partMedians = partNames.map(p =>
      p -> Workloads.median(untraced.flatMap(_.parts.filter(_._1 == p).map(_._2))))
    val opS = partMedians.map(_._2).sum

    val metrics: Seq[(String, Double, String)] =
      if (!trace) {
        val value = Map("op_s" -> opS, "setup_s" -> setupS, "heap_retained_mb" -> heapMb, "pair_f1" -> check.pairF1)
        EndToEnd.map { case (k, u) => (k, value(k), u) }
      }
      else {
        val layer = tracedMaps.flatMap(_.keys).distinct.map(k =>
          k -> Workloads.median(tracedMaps.flatMap(_.get(k)).toSeq)).toMap
        val tr = tracer.get
        val all = layer ++ Map(
          "trace.overhead_s" -> (Workloads.median(traced.map(_.total)) -
            Workloads.median(untraced.map(_.total))),
          "trace.failed_tasks" -> tr.failedTasks.toDouble,
          "trace.retried_tasks" -> tr.retriedTasks.toDouble)
        traceFile.foreach(tr.write)
        PerLayer.map(k => (k, all.getOrElse(k, 0.0), unit(k)))
      }

    val record = ListMap(
      "workload" -> wl.name, "seed" -> seed, "seconds" -> seconds, "trace" -> trace,
      "nproc" -> cores, "jvm" -> System.getProperty("java.vm.version"),
      "spark" -> spark.version, "scala" -> scala.util.Properties.versionNumberString,
      "setup" -> Map("wall_s" -> setupS, "stage_s" -> stageS, "warmup_s" -> warmS),
      "check_s" -> checkS,
      "op_samples_s" -> untraced.map(_.total),
      "op_cpu_samples_s" -> untraced.map(_.cpuS),
      "op_part_medians_s" -> partMedians.toMap,
      "traced_samples_s" -> traced.map(_.total),
      "load1_per_op" -> (untraced ++ traced).map(s => Seq(s.loadStart, s.loadEnd)),
      "check" -> (ListMap[String, Any]("ok" -> check.ok, "pair_f1" -> check.pairF1) ++ check.detail))
    Json.writeValueAsString(ListMap(
      "correct" -> (check.ok && failed == 0),
      "attempted" -> attempted,
      "failed" -> failed,
      "metrics" -> ListMap(metrics.map { case (k, v, u) => k -> ListMap("value" -> v, "unit" -> u) }: _*),
      "record" -> record))
  }
}
