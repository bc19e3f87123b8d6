package org.apache.spark.graft

import org.apache.spark.SparkContext

/** Drops every stored block of one RDD from every block manager — the
  * storage side of losing the executors that held it, with the RDD's
  * lineage and storage level left as they were. The block manager is
  * `private[spark]`, hence this package. */
object BlockLoss {
  def dropRdd(sc: SparkContext, rddId: Int): Unit =
    sc.env.blockManager.master.removeRdd(rddId, blocking = true)
}
