package org.apache.spark

/** Access to the one scheduler hook the benchmark needs that Spark keeps
  * package-private: waiting until queued listener events are delivered. */
object PerfbenchShim {
  def drainListenerBus(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
