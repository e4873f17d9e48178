package org.apache.spark.perfbench

import org.apache.spark.SparkContext

/** Access to the listener bus, which is private to the `org.apache.spark`
  * package: a traced boundary drains it so the counters read there hold
  * every event posted before the boundary. */
object Bus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
