package org.apache.spark

/** Lets a test wait until every listener has seen every posted event,
  * so what a listener collected is complete when the test reads it. The
  * bus is private to Spark, hence this object's package. */
object TestListenerBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
