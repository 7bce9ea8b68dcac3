package org.apache.spark

/** The listener bus is private to Spark; the benchmark drains it before it
  * reads its listener's counters, so every task of a finished action is
  * counted (listener delivery is asynchronous). */
object PerfbenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
