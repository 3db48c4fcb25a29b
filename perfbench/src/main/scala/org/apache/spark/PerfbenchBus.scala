package org.apache.spark

/** Listener-bus drain: the bus is package-private, and span/job attribution
  * must see every job event before the trace is summarised.
  */
object PerfbenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
