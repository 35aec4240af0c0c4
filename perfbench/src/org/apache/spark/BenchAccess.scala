package org.apache.spark

/** The listener bus is private to Spark; per-layer counters are read only
  * after every event of the measured ops has been delivered. */
object BenchAccess {
  def drainListeners(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
