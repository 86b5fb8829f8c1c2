package org.apache.spark.graft

import org.apache.spark.SparkContext

/** Waits until every listener has seen every event posted so far, so a
  * test's counts cover the work it ran and nothing later. */
object ListenerBusDrain {
  def apply(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
