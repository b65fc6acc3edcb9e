package org.apache.spark

/** The listener bus is package-private; the benchmark drains it before
  * reading listener totals, so no event of a finished call is missed. */
object PerfbenchAccess {
  def drainListeners(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
