package org.apache.spark

/** The one scheduler hook the benchmark needs that Spark keeps
  * package-private: wait until every posted listener event is handled, so
  * that per-span counters are complete before they are read. */
object PerfbenchAccess {
  def drainListeners(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
