package org.apache.spark.perfbench

import org.apache.spark.SparkContext

/** Drains Spark's listener bus, so counters read after an action include
  * every event that action posted. The bus is `private[spark]`, hence this
  * package. */
object Bus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty(60000L)
}
