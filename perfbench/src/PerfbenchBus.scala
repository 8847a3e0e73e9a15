package org.apache.spark

/** The listener bus is package-private; waiting for it to drain is what
  * makes counters read right after an action complete.
  */
object PerfbenchBus {
  def flush(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
