package graft.operators

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{Column, DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{ArrayType, DoubleType, StructField, StructType}

/** Neighbor-padding + chunk grouping (SURVEY Q8/Q9,
  * `document_service.py:554-818`): for image-chunk hits, fetch chunks at
  * `chunk_number ± 1..p` from the same document, dedup against the
  * originals, mark `is_padding` with score 0.0, order by
  * `(-score, document_id, chunk_number)`; then group each main match with
  * its padding (display order before/main/after).
  *
  * Both are request-sized decisions over at most k hits, so they run on
  * the driver (rule 17): the hits are collected once, the ±p neighbour
  * keys are computed in Scala, and exactly those rows come back from one
  * chunk-table scan whose `document_id` IN-list reaches the scan's pushed
  * filters. Results are local frames in their final order.
  */
object Padding {

  /** hits: (document_id, chunk_number, score, ...); chunks: the indexed
    * chunk table. Returns hits ∪ padding with `is_padding`, ordered, in
    * `unionByName(allowMissingColumns)`'s column layout. At most 2 jobs:
    * the hits and the padding rows, each collected once. */
  def expand(hits: DataFrame, chunks: DataFrame, padding: Int,
             docCol: String = "document_id", numCol: String = "chunk_number"): DataFrame = {
    val main = hits.withColumn("is_padding", lit(false))
    val pads = chunks.withColumn("score", lit(0.0)).withColumn("is_padding", lit(true))
    // each side is read through the union, so both get its columns and widened types
    def union(m: DataFrame, p: DataFrame) = m.unionByName(p, allowMissingColumns = true)
    val schema = union(main, pads).schema
    val Seq(d, n, s) = Seq(docCol, numCol, "score").map(schema.fieldIndex)
    val hitRows = union(main, pads.limit(0)).collect()
    val hitKeys = hitRows.collect { case r if !r.isNullAt(d) && !r.isNullAt(n) =>
      (r.get(d), r.getAs[Number](n).longValue) }.toSet
    val padKeys = (for ((doc, num) <- hitKeys; off <- 1 to padding; k <- Seq(num - off, num + off))
      yield (doc, k)) -- hitKeys
    // two flat IN-lists cover every key; the exact keys are kept after the collect
    val padRows = if (padKeys.isEmpty) Array.empty[Row] else
      union(main.limit(0), pads.filter(col(docCol).isin(padKeys.map(_._1).toSeq: _*) &&
        col(numCol).isin(padKeys.map(_._2).toSeq: _*))).collect()
        .filter(r => padKeys((r.get(d), r.getAs[Number](n).longValue)))
    val ordered = (hitRows ++ padRows).sortWith((a, b) => Serving.sortsBefore(
      (b.get(s), a.get(s)), (a.get(d), b.get(d)), (a.get(n), b.get(n))))
    hits.sparkSession.createDataFrame(ordered.toSeq.asJava, schema)
  }

  /** `_is_image_chunk` (`document_service.py:578-589`): an explicit
    * boolean `is_image` metadata flag wins; otherwise content starting
    * with "data" (a data URI) counts as an image. (The storage-key
    * extension branch is serving-side path sniffing; chunk payloads here
    * are inline.) */
  def isImageChunk(content: Column, meta: Column): Column = {
    val flag = meta.getItem("is_image")
    // the reference flag is a JSONB bool; rows ported through a string map
    // may carry Python's str(True) — accept the common bool serializations
    when(flag.isNotNull, graft.functions.text.fold(flag).isin("true", "1"))
      .otherwise(coalesce(content.startsWith("data"), lit(false)))
  }

  /** `_apply_padding_to_chunks` (`document_service.py:554-688`), the
    * ColPali arm's padding: padding applies to IMAGE chunks only — text
    * hits are dropped when padding is on (pages are the padding unit, and
    * a text chunk has no page neighbors), and padding rows fetched from
    * the chunk table must themselves be images. No image hits → empty
    * result, which the filter composition yields naturally. */
  def expandImages(hits: DataFrame, chunks: DataFrame, padding: Int,
                   docCol: String = "document_id", numCol: String = "chunk_number",
                   contentCol: String = "content", metaCol: String = "metadata"): DataFrame =
    expand(
      hits.filter(isImageChunk(col(contentCol), col(metaCol))),
      chunks.filter(isImageChunk(col(contentCol), col(metaCol))),
      padding, docCol, numCol)

  /** Q9 grouping (`document_service.py:728-763`): each padding chunk is
    * claimed by the FIRST main hit within ±p in the reference's iteration
    * order — mains sorted (score desc, chunk asc), i.e. a higher-scored
    * main wins a contested padding chunk even when another main is nearer.
    * Mains always head their own group. Emits
    * (doc, main_chunk, members sorted by chunk_number = before/main/after
    * display order, score) as a local frame ordered by (doc, main_chunk),
    * computed on the driver over the collected expanded rows. */
  def group(expanded: DataFrame, padding: Int,
            docCol: String = "document_id", numCol: String = "chunk_number"): DataFrame = {
    val rows = expanded.select(col(docCol), col(numCol), col("score"), col("is_padding")).collect()
    val mains = rows.filterNot(_.getBoolean(3))
      .sortWith((a, b) => Serving.sortsBefore((b.get(2), a.get(2)), (a.get(1), b.get(1))))
    def near(m: Row, p: Row) = m.get(0) == p.get(0) && !m.isNullAt(1) && !p.isNullAt(1) &&
      math.abs(m.getAs[Number](1).longValue - p.getAs[Number](1).longValue) <= padding
    val claims = rows.filter(_.getBoolean(3)).flatMap(p => mains.find(near(_, p)).map(_ -> p.get(1)))
    val groups = (mains.map(m => m -> m.get(1)) ++ claims).groupBy(_._1).toSeq.map { case (m, ms) =>
      Row(m.get(0), m.get(1), ms.map(_._2).filter(_ != null).sortWith(Serving.sqlCompare(_, _) < 0)
        .toSeq, m.get(2))
    }.sortWith((a, b) => Serving.sortsBefore((a.get(0), b.get(0)), (a.get(1), b.get(1))))
    val num = expanded.schema(numCol)
    val schema = StructType(Seq(expanded.schema(docCol), num.copy(name = "main_chunk"),
      StructField("member_chunks", ArrayType(num.dataType, containsNull = false), nullable = false),
      StructField("score", DoubleType)))
    expanded.sparkSession.createDataFrame(groups.asJava, schema)
  }
}
