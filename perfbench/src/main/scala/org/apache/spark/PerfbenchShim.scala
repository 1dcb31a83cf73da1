package org.apache.spark

/** Access to the listener bus, which Spark keeps package-private: the
  * traced run must read its counters only after every event is delivered. */
object PerfbenchShim {
  def drainListeners(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
