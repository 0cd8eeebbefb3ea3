package org.apache.spark

/** The listener bus is `private[spark]`: specs that count scheduler
  * events drain it before reading their listener. */
object ListenerBusAccess {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
