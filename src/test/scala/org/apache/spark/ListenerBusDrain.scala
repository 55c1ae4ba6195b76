package org.apache.spark

/** Waits until the listener bus has delivered every posted event. Lives in
  * this package because the bus is `private[spark]`. */
object ListenerBusDrain {
  def apply(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty(60000L)
}
