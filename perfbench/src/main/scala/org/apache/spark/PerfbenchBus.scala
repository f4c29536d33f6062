package org.apache.spark

/** The listener bus is private to Spark; the benchmark reads its listener's
  * totals only after every event posted so far has been delivered. */
object PerfbenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
