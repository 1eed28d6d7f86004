package org.apache.spark

/** The listener bus is package-private to Spark; the benchmark needs to wait
  * for it so that a traced region's engine counters are complete.
  */
object PerfbenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
