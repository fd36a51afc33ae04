package org.apache.spark

/** The listener bus is private to Spark; the traced run drains it before
  * reading its counts, so that every event of a finished span is in. */
object PerfbenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
