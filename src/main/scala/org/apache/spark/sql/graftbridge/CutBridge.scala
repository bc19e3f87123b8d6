package org.apache.spark.sql.graftbridge

import org.apache.spark.sql.{DataFrame, classic}
import org.apache.spark.sql.execution.LogicalRDD
import org.apache.spark.storage.StorageLevel

/** `Dataset.checkpoint`'s plan truncation without the checkpoint: the
  * frame's result RDD is persisted at `level` with its lineage KEPT (a lost
  * block is recomputed from its parents), and the returned frame scans
  * that RDD — the same `LogicalRDD` (output, partitioning, ordering,
  * statistics) a checkpoint returns, so an iterative loop's plan stays
  * O(1) per round. `LogicalRDD.fromDataset` and `Dataset.ofRows` are
  * `private[sql]`, hence this package. */
object CutBridge {
  def persisted(df: DataFrame, level: StorageLevel, eager: Boolean): DataFrame = {
    val ds = df.asInstanceOf[classic.Dataset[_]]
    val rdd = ds.queryExecution.toRdd.map(_.copy()).persist(level)
    if (eager) rdd.count()
    classic.Dataset.ofRows(ds.sparkSession, LogicalRDD.fromDataset(rdd, ds, ds.isStreaming))
  }
}
