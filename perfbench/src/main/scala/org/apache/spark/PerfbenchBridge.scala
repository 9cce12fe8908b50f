package org.apache.spark

/** The listener bus is package-private; the traced run must wait for it
  * to drain before it reads the listener's counts. */
object PerfbenchBridge {
  def drainListeners(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
