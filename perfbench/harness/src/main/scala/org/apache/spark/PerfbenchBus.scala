package org.apache.spark

/** Lets the harness wait until every listener has seen every posted
  * event, so counters read between operations are complete. The bus is
  * private to Spark, hence this object's package. */
object PerfbenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
