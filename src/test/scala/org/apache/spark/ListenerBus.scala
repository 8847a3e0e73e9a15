package org.apache.spark

/** The listener bus is package-private; a spec that counts jobs waits for
  * it to drain before it reads what its listener saw.
  */
object ListenerBus {
  def flush(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
