package org.apache.spark

/** The listener bus's drain is package-private: the benchmark's span
  * summaries must not be computed while job and task events are still
  * queued. */
object PerfbenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
