package org.apache.spark

/** Lives in Spark's package only to reach the listener bus, whose drain
 * method is package-private: the traced run must not read its listener's
 * sums while events are still queued. */
object PerfbenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
