package org.apache.spark.sql.graftbridge

import scala.jdk.CollectionConverters._

import org.apache.spark.SparkContext
import org.apache.spark.sql.SparkSession

/** The listener bus and the session's query listeners, which are
  * `private[spark]` and `private[sql]`: hence this package. */
object ListenerBridge {
  /** Blocks until every event posted so far has reached every listener. */
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty(60000L)

  /** Every listener registered now, on the bus and on the session. */
  def listeners(spark: SparkSession): Seq[AnyRef] =
    spark.sparkContext.listenerBus.listeners.asScala.toSeq ++ spark.listenerManager.listListeners()
}
