package org.apache.spark.sql.graftbridge

import org.apache.spark.SparkContext

/** `SparkContext.listenerBus` is private[spark]; this shim waits until
  * every listener has seen every event posted so far, so a count covers
  * the work it ran and nothing later. */
object ListenerBusDrain {
  def apply(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
