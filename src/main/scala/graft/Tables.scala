package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Loaders for the driver-generated testdata tables (TESTDATA.md).
  *
  * All readers are plain parquet scans so Catalyst's predicate pushdown /
  * column pruning apply (the 100 TB design rule: every query starts from a
  * declarative scan, never a pre-collected dataset).
  */
object Tables {
  def table(spark: SparkSession, dir: String, name: String): DataFrame =
    spark.read.parquet(s"$dir/$name.parquet")

  /** Fan a (possibly single-row-group) scan out to all cores before a
    * compute-bound stage. The testdata files are one row group each, so
    * without this every md5/cosine/simhash loop runs on ONE task — at
    * cluster scale the input would already be many splits and this becomes a
    * cheap no-op-ish round robin. Call it only in front of per-row-heavy
    * work; pure scan→filter→agg paths stay un-shuffled. */
  def scaled(df: DataFrame): DataFrame =
    df.repartition(df.sparkSession.sparkContext.defaultParallelism)

  def region(spark: SparkSession, dir: String): DataFrame    = table(spark, dir, "region")
  def nation(spark: SparkSession, dir: String): DataFrame    = table(spark, dir, "nation")
  def customer(spark: SparkSession, dir: String): DataFrame  = table(spark, dir, "customer")
  def supplier(spark: SparkSession, dir: String): DataFrame  = table(spark, dir, "supplier")
  def part(spark: SparkSession, dir: String): DataFrame      = table(spark, dir, "part")
  def orders(spark: SparkSession, dir: String): DataFrame    = table(spark, dir, "orders")
  def lineitem(spark: SparkSession, dir: String): DataFrame  = table(spark, dir, "lineitem")
  /** events.ts normalizes to a session-TZ µs timestamp whatever the
    * generator emitted — the driver has shipped BOTH layouts across rounds:
    * TIMESTAMP(NANOS) (Spark refuses natively; read as long ns via the
    * legacy flag, integer-div to µs — `div`, not `/`: epoch-ns ~1.7e18
    * exceeds double precision) and, since round 8, plain timestamp[us]
    * (arrives as TIMESTAMP_NTZ; cast is micros-identity under the UTC
    * session every entrypoint pins). Dispatch on the read schema so a
    * regenerated testdata layout can't break every e-query again. */
  def events(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.functions.{col, expr, timestamp_micros}
    import org.apache.spark.sql.types.{LongType, TimestampType}
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    val raw = table(spark, dir, "events")
    raw.schema("ts").dataType match {
      case LongType => raw.withColumn("ts", timestamp_micros(expr("ts div 1000")))
      case TimestampType => raw
      case _ => raw.withColumn("ts", col("ts").cast(TimestampType))
    }
  }
  def documents(spark: SparkSession, dir: String): DataFrame = table(spark, dir, "documents")
  def embeddings(spark: SparkSession, dir: String): DataFrame = table(spark, dir, "embeddings")

  /** In-band negative-control corpus tag (the v23 fixture-version
    * convention, generalized — r14 verdict ask #4): a one-row, one-column
    * frame `fixture: BIGINT` = Σ over documents of a 24-bit md5 hash of
    * `doc_id:text`. `documents` keeps its row COUNT across the small
    * scale factors but its TEXT is regenerated per sf, so queries that
    * synthesize their inputs from doc_ids/fixed rules alone — and would
    * otherwise compute identical output on the wrong-sf control data —
    * crossJoin(broadcast(this)) into their output; the wrong-sf check
    * then flips red AT THE TAG COLUMN, naming data-mismatch as the
    * cause. Order-independent exact-integer arithmetic (sum of bounded
    * longs: ≤ 2²⁴·|docs|, int64-safe past 10¹² docs), so partitioning
    * cannot move it. The oracle twin is [[graft.queries.OracleTag.sql]]. */
  def corpusTag(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.functions._
    documents(spark, dir).agg(
      sum(graft.functions.text.md5_prefix_long(concat(
        col("doc_id").cast("string"), lit(":"), col("text")), 1, 6)).as("fixture"))
  }
}
