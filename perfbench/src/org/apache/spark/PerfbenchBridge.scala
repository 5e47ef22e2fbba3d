package org.apache.spark

/** Access to the listener bus, which is private to Spark: the benchmark
  * reads its listener's records only after every queued event was
  * delivered. */
object PerfbenchBridge {
  def waitForListeners(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
