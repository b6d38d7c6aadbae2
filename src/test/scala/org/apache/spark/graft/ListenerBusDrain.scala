package org.apache.spark.graft

import org.apache.spark.SparkContext

/** Waits until every posted listener event has been delivered, so a test
  * listener's counts are complete once an action returns.
  */
object ListenerBusDrain {
  def apply(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
