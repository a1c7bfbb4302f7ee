package org.apache.spark

/** Package bridge to the listener bus: a snapshot of listener counters is
  * taken only after every event posted so far has been delivered. */
object BenchBridge {
  def drainListeners(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
