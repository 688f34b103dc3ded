package org.apache.spark

/** The one listener-bus call the benchmark's tracer needs that Spark keeps
  * package-private: block until every posted event has been delivered, so
  * the per-layer totals are complete before they are read.
  */
object PerfbenchBridge {
  def drainListeners(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
