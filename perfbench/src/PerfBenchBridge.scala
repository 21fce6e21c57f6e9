package org.apache.spark

/** Listener events are delivered asynchronously; span totals are read only
  * after every event posted so far has been handled. */
object PerfBenchBridge {
  def drainListeners(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
