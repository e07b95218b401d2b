package org.apache.spark

/** Access to the listener bus, which Spark keeps package-private: the
  * traced run drains it before reading listener counters, so events
  * posted by the last op are not lost.
  */
object PerfbenchBridge {
  def drainListeners(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty(60000L)
}
