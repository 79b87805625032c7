package org.apache.spark.perfbench

import org.apache.spark.SparkContext

/** The listener bus is `private[spark]`; the benchmark drains it before it
  * reads listener-fed counters, so that every event of a unit is counted. */
object ListenerBusAccess {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty(60000L)
}
