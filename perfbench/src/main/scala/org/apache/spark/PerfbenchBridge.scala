package org.apache.spark

/** The listener bus is private to Spark; the traced run must let it
  * drain before it reads what its listener saw. */
object PerfbenchBridge {
  def drainListeners(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
