package org.apache.spark.graftbench

import org.apache.spark.SparkContext

/** Reaches the listener bus, which is `private[spark]`: the traced run
  * drains it after each query so every task event is attributed to the
  * query that caused it before the next one starts. */
object Bus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
