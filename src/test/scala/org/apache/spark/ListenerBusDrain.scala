package org.apache.spark

/** Test bridge: waits until every queued listener event has been delivered,
  * so a listener's counters read after a call include all of that call's
  * jobs. `SparkContext.listenerBus` is package-private, hence this object
  * in Spark's own package. */
object ListenerBusDrain {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty(60000L)
}
