package org.apache.spark

/** Access to the listener bus, which Spark keeps package-private: the
  * benchmark reads per-layer counts only after every event is delivered. */
object PerfbenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
