package org.apache.spark.perfbench

import org.apache.spark.SparkContext

/** Listener-bus access the public API lacks: op-boundary counts are only
  * complete once every event posted so far has been delivered. */
object BusDrain {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
