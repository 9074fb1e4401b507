package org.apache.spark

/** Access to Spark's listener bus, which is package-private: the
  * heap is measured, and the traced run reads its listener counters,
  * only after every queued event has been delivered. */
object PerfbenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
