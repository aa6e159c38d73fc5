package perfbench

import java.nio.file.Paths

/** Runs workloads at smoke size in one JVM. run.py starts it with
  * `-XX:ArchiveClassesAtExit` after each build, so the classes a benchmark
  * run loads come from a class-data archive and every run's JVM starts the
  * same, shorter way.
  *
  * Usage: perfbench.ClassArchive --run-dir <dir>
  */
object ClassArchive {
  def main(args: Array[String]): Unit = {
    val runDir = Paths.get(args(1)).toAbsolutePath
    val cores = Runtime.getRuntime.availableProcessors()
    val spark = Main.session(cores, runDir)
    try {
      // a traced batch_link run and an elq_queries run load the classes of
      // every layer; the other workloads load no others to speak of
      for ((name, trace) <- Seq("batch_link" -> true, "elq_queries" -> false)) {
        val dir = runDir.resolve(s"$name-$trace")
        Main.run(spark, Workloads(name, smoke = true), seed = 1, seconds = 0, trace = trace,
          runDir = dir, startMs = System.currentTimeMillis(), cores = cores, traceFile = None)
        Ctx.deleteRecursively(dir)
      }
    } finally spark.stop()
  }
}
