package org.apache.spark.graft

import org.apache.spark.SparkContext

/** Drains Spark's listener bus, so listener counts read after an action
  * include every event that action posted. The bus is `private[spark]`,
  * hence this package. */
object ListenerBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty(60000L)
}
