package org.apache.spark

import org.apache.spark.scheduler.StageInfo

/** The listener bus and a stage's shuffle id are `private[spark]`:
  * specs that count scheduler events drain the bus before reading their
  * listener, and tell shuffle-map stages from result stages. */
object ListenerBusAccess {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
  def isShuffleMap(s: StageInfo): Boolean = s.shuffleDepId.isDefined
}
