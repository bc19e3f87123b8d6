package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Skew mitigation for non-algebraic aggregations.
  *
  * Algebraic aggs (sum/count/min/max/avg) don't need this — Spark's partial
  * aggregation (map-side combine) already collapses hot keys before the
  * shuffle. The problem case is holistic aggs like `collect_list`: every
  * row of a hot key lands in one reducer task. Salting splits each key into
  * `salts` sub-keys for a first-stage aggregation, then merges the (now
  * bounded-size) partials in a second stage — the classic two-stage
  * repartition trick, kept fully declarative. AQE's skew handling covers
  * joins, not aggregations, so this is the groupBy-side answer.
  */
object Skew {

  /** collect_list over possibly-skewed keys in two salted stages; output
    * (groupCols..., values: array). Order within the array is
    * non-deterministic (as with plain collect_list) — sort downstream if
    * order matters. */
  def saltedCollectList(df: DataFrame, groupCols: Seq[String], valueCol: String,
                        salts: Int = 32): DataFrame = {
    val gc = groupCols.map(col)
    val salted = df.withColumn("__salt", pmod(spark_partition_id()
      + hash(col(valueCol)), lit(salts)))
    salted
      .groupBy((gc :+ col("__salt")): _*)
      .agg(collect_list(col(valueCol)).as("__partial"))
      .groupBy(gc: _*)
      .agg(flatten(collect_list(col("__partial"))).as("values"))
  }

  /** Join-key SKEW DIAGNOSTIC — the report an operator (or an engineer)
    * consults BEFORE picking a salt factor or enabling a skew-join hint at
    * 100 TB: per-key frequency profile (exact nearest-rank p50/p99 over
    * the count distribution — pure integer selection, never an
    * interpolated quantile), the top-k hottest keys, and a suggested salt
    * factor ceil(max_count · n_keys / n_rows) (how many times hotter than
    * uniform the hottest key runs).
    *
    * Plan: ONE map-side-combined count groupBy (the only corpus-sized
    * exchange); the count distribution is keys-sized, ranked by one
    * window; top-k is a k-bounded heap (TakeOrderedAndProject). Output =
    * k rows (rank, key, cnt) carrying the summary columns. */
  def skewReport(df: DataFrame, keyCol: String, k: Int = 10): DataFrame = {
    val counts = df.groupBy(col(keyCol).as("key"))
      .agg(count(lit(1)).as("cnt"))
    val n = counts.agg(
      count(lit(1)).as("n_keys"), sum("cnt").as("n_rows"),
      max("cnt").as("max_count"))
    val w = org.apache.spark.sql.expressions.Window
      .orderBy(col("cnt").asc, col("key").asc)
    val ranked = counts.withColumn("rn", row_number().over(w) - 1)
    val quantiles = ranked.crossJoin(broadcast(n))
      .filter(col("rn") === expr("(n_keys - 1) div 2") ||
        col("rn") === expr("((n_keys - 1) * 99) div 100"))
      .groupBy("n_keys").agg(
        min(when(col("rn") === expr("(n_keys - 1) div 2"), col("cnt")))
          .as("p50_count"),
        min(when(col("rn") === expr("((n_keys - 1) * 99) div 100"),
          col("cnt"))).as("p99_count"))
      .drop("n_keys")
    counts.orderBy(col("cnt").desc, col("key").asc).limit(k)
      .withColumn("rank",
        row_number().over(org.apache.spark.sql.expressions.Window
          .orderBy(col("cnt").desc, col("key").asc)))
      .crossJoin(broadcast(n)).crossJoin(broadcast(quantiles))
      .select(col("rank").cast("long").as("rank"), col("key"), col("cnt"),
        col("n_keys"), col("n_rows"), col("max_count"),
        col("p50_count"), col("p99_count"),
        expr("(max_count * n_keys + n_rows - 1) div n_rows")
          .as("suggested_salt"))
  }
}
