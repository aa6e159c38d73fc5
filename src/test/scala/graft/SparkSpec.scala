package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** The test JVM's one live session. Rebuilt when a suite has stopped its
  * context (MultiContextSpec runs SparkContexts of its own), so suites
  * that run later still get a live session.
  */
object SharedSpark {
  private var live: SparkSession = _

  def spark: SparkSession = synchronized {
    if (live == null || live.sparkContext.isStopped) {
      live = SparkSession.builder()
        .master("local[4]")
        .appName("graft-test")
        .config("spark.sql.shuffle.partitions", "4")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.ui.enabled", "false")
        .getOrCreate()
      live.sparkContext.setLogLevel("WARN")
    }
    live
  }

  def stop(): Unit = synchronized {
    if (live != null) live.stop()
  }
}

trait SparkSpec extends AnyFunSuite {
  lazy val spark: SparkSession = SharedSpark.spark
}
