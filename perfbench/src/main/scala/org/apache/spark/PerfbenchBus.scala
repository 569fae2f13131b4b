package org.apache.spark

/** The listener bus is private to Spark; the traced run drains it before
  * reading job records, so the last job of a span is never missed.
  */
object PerfbenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
