package org.apache.spark

/** Test access to Spark's private listener bus: block until every queued
  * event has been delivered, so a listener's counts belong to the code
  * that ran before the call. */
object TestBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty(60000L)
}
