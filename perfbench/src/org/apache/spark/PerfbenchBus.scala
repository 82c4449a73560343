package org.apache.spark

/** The listener bus is package-private; the tracer must see every task
  * event before it sums counters.
  */
object PerfbenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
