package org.apache.spark

/** The listener bus is asynchronous and its drain is package-private: the
  * tracer waits on it before reading what its listener collected.
  */
object PerfbenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
