package org.apache.spark

/** The one engine hook the benchmark needs that is not public: waiting for
  * the listener bus to deliver every queued event, so per-phase counter
  * readings are complete when they are taken. */
object PerfbenchAccess {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
