package org.apache.spark

/** Package-local access for the benchmark's traced run: listener events
  * are delivered asynchronously, so per-op attribution waits for the
  * bus to drain before reading what the listeners collected. */
object PerfbenchShim {
  def drainListenerBus(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
