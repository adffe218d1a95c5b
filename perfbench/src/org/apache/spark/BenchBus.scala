package org.apache.spark

/** Lets the benchmark wait until every queued listener event has been
  * delivered, so counters read after a call include all of that call's
  * jobs and tasks. `SparkContext.listenerBus` is package-private, hence
  * this one-line bridge in Spark's own package. */
object BenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty(60000L)
}
