package org.apache.spark

/** Access to the listener bus, which Spark keeps package-private: the
  * benchmark waits for queued events before it reads its counters. */
object PerfbenchBridge {
  def drainListeners(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
