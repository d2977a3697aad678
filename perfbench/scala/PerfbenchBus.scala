package org.apache.spark

/** The one private hook the traced run needs: block until every queued
  * listener event has been delivered, so the counts read after an
  * operation belong to that operation alone. */
object PerfbenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty(60000L)
}
