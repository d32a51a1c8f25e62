package org.apache.spark

/** Waits until every posted listener event has been delivered, so the
  * benchmark's tracer totals are complete before they are read. The bus
  * is private to Spark, hence this package. */
object PerfbenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
