package org.apache.spark

/** Waits until every listener event posted so far has been delivered, so
  * counters read right after an action include that action's events. */
object BusFlush {
  def apply(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
