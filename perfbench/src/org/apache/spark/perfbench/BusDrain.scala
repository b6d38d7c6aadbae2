package org.apache.spark.perfbench

import org.apache.spark.SparkContext

/** Blocks until every queued listener event has been delivered. Listener
  * delivery is asynchronous, so the benchmark drains the bus before it
  * reads the scheduler counters of a finished phase. `listenerBus` is
  * `private[spark]`, hence this one-line bridge in Spark's package.
  */
object BusDrain {
  def apply(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
