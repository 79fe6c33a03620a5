package org.apache.spark

/** The listener bus is package-private; the traced run needs to wait for
  * every queued event before it reads its counters. */
object PerfbenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
