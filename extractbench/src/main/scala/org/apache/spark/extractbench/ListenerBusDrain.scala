package org.apache.spark.extractbench

import org.apache.spark.SparkContext

/** Blocks until the listener bus has delivered every queued event, so the
  * benchmark's listener counts are complete before they are read. The bus
  * is `private[spark]`, hence this package. */
object ListenerBusDrain {
  def apply(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
