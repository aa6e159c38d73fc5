package graft

import org.apache.spark.sql.SparkSession
import java.nio.file.{Files, Paths}

/** Dev tool: time or plan-dump SparkEntry queries on [[Bench.session]], so
  * the timings and plans are the ones the bench's query phase runs.
  * Cores come from SPARK_GRAFT_CPUS (default 32).
  *
  * Usage:
  *   runMain graft.Profile time <sfDir> <queryName> [queryName...]
  *     prints `TIMEQ <query> <sec> s` per query (noop sink)
  *   runMain graft.Profile plan <sfDir> <outDir> [suffix] [queryName...]
  *     writes `.explain("formatted")` of every query (or the named subset)
  *     to <outDir>/<query><suffix>.txt (suffix e.g. "_before"/"_after")
  *     and prints `PLAN <query> exchanges=<n> chars=<n>`
  */
object Profile {
  def main(args: Array[String]): Unit = {
    val mode = args.headOption.getOrElse("")
    require(Set("time", "plan")(mode) && args.length > 2,
      "usage: graft.Profile time <sfDir> <query...> | plan <sfDir> <outDir> [suffix] [query...]")
    val spark = Bench.session(sys.env.getOrElse("SPARK_GRAFT_CPUS", "32").toInt)
    try {
      if (mode == "time") time(spark, args(1), args.drop(2).toSeq)
      else plan(spark, args(1), args(2), if (args.length > 3) args(3) else "",
        args.drop(4).toSet)
    } finally spark.stop()
  }

  private def time(spark: SparkSession, sfDir: String, names: Seq[String]): Unit =
    names.foreach { name =>
      val t0 = System.nanoTime()
      SparkEntry.queries(name)(spark, sfDir).write.mode("overwrite").format("noop").save()
      println(f"TIMEQ $name ${(System.nanoTime() - t0) / 1e9}%.2f s")
      spark.catalog.clearCache()
    }

  private def plan(spark: SparkSession, sfDir: String, outDir: String,
                   suffix: String, only: Set[String]): Unit = {
    Files.createDirectories(Paths.get(outDir))
    SparkEntry.queries.toSeq.sortBy(_._1)
      .filter { case (n, _) => only.isEmpty || only.contains(n) }
      .foreach { case (name, fn) =>
        try {
          val text = fn(spark, sfDir).queryExecution.explainString(
            org.apache.spark.sql.execution.FormattedMode)
          Files.write(Paths.get(outDir, s"$name$suffix.txt"),
            text.getBytes(java.nio.charset.StandardCharsets.UTF_8))
          val nEx = "Exchange".r.findAllIn(text).length
          println(f"PLAN $name exchanges=$nEx chars=${text.length}")
        } catch {
          case e: Throwable =>
            System.err.println(s"[profile] $name failed: ${e.getMessage}")
        }
        spark.catalog.clearCache()
      }
  }
}
