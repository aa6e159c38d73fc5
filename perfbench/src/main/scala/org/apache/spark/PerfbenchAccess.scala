package org.apache.spark

/** The listener bus's drain is Spark-internal; the benchmark needs it so a
  * span's task metrics are complete before they are read.
  */
object PerfbenchAccess {
  def drainListenerBus(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
