package org.apache.spark

/** The listener bus's drain is package-private to Spark; the benchmark
  * needs it so that every job and query event is counted before the
  * traced run reports.
  */
object PerfbenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
