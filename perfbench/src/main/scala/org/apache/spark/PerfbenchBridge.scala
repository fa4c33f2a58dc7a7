package org.apache.spark

/** Waits until the listener bus has delivered every posted event, so a
  * listener's counts are complete when read. The method is
  * package-private in Spark; this bridge lives in Spark's package for
  * that one call. */
object PerfbenchBridge {
  def drainListeners(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
