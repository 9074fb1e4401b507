package org.apache.spark

/** Access to Spark's package-private listener bus, so a spec reads its
  * listener counters only after every queued event was delivered. */
object SpecBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
