package org.apache.spark.sql.graftbridge

import org.apache.spark.SparkContext

/** The listener bus is private[spark]; a measurement that reads listener
  * counters must first wait until every posted event was delivered, or it
  * races the bus and undercounts the last job's stages and tasks.
  */
object ListenerBridge {

  /** Blocks until the bus is empty; throws `TimeoutException` after
    * `timeoutMs` so a wedged listener can never hang the caller.
    */
  def drain(sc: SparkContext, timeoutMs: Long): Unit = sc.listenerBus.waitUntilEmpty(timeoutMs)
}
