package org.apache.spark

/** Waits until the listener bus has delivered every posted event, so the
  * traced counters read complete totals. Lives in this package because the
  * bus is `private[spark]`. */
object BusDrain {
  def apply(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty(60000L)
}
