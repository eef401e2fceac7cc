package org.apache.spark

/** The listener bus is package-private; the benchmark's collectors need to
  * wait until every posted event was delivered before reading counters.
  */
object ListenerDrain {
  def apply(sc: SparkContext, timeoutMs: Long): Unit = sc.listenerBus.waitUntilEmpty(timeoutMs)
}
