package org.apache.spark

/** Spark keeps its listener bus package-private; a spec that counts
  * listener events delivers every queued one before it reads them. */
object TestListenerBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
