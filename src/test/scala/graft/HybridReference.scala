package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.GraftService.{ChunkTable, RetrieveRequest, compileScope}
import graft.functions.text
import graft.operators.{Embedder, HashEmbedder, KnnSearch}

/** The BM25 plan (explode / groupBy / df window) and the hybrid fusion
  * (partition-less rank windows, full-outer-join RRF, join back to the
  * chunk table) as they were before the single-scan rewrite. Kept as the
  * reference: `FullText.bm25` and `GraftService.retrieveChunksHybrid` must
  * return the same rows (HybridReferenceSpec), and the job-count guard in
  * GraftServiceSpec must tell this plan shape apart from theirs. */
object HybridReference {

  def bm25(docs: DataFrame, idCol: String, textCol: String, terms: Seq[String],
           k: Int, k1: Double = 1.2, b: Double = 0.75): DataFrame = {
    val toks = docs.select(col(idCol).as("doc_id"),
      text.tokens(col(textCol)).as("tk"))
    val lens = toks.select(col("doc_id"), size(col("tk")).cast("long").as("dl"))
    val global = lens.agg(count(lit(1)).as("n_docs"),
      avg(col("dl").cast("double")).as("avgdl"))
    val tf = toks.select(col("doc_id"), size(col("tk")).cast("long").as("dl"),
        explode(col("tk")).as("term"))
      .filter(col("term").isin(terms: _*))
      .groupBy("doc_id", "dl", "term").agg(count(lit(1)).as("tf"))
    tf.withColumn("df", count(lit(1)).over(Window.partitionBy("term")))
      .crossJoin(broadcast(global))
      .withColumn("idf",
        log(lit(1.0) + (col("n_docs") - col("df") + lit(0.5)) / (col("df") + lit(0.5))))
      .withColumn("w",
        col("idf") * (col("tf") * lit(k1 + 1.0)) /
          (col("tf") + lit(k1) * (lit(1.0 - b) + lit(b) * col("dl") / col("avgdl"))))
      .groupBy("doc_id")
      .agg(sum("w").as("score"), count(lit(1)).as("n_terms"))
      .orderBy(col("score").desc, col("doc_id"))
      .limit(k)
  }

  def rrfFuse(dense: DataFrame, keyword: DataFrame, idCol: String,
              k: Int, kRrf: Int = 60): DataFrame = {
    val d = dense.select(col(idCol).as("doc_id"), col("rank").cast("long").as("dense_rank"))
    val kw = keyword.select(col(idCol).as("doc_id"), col("rank").cast("long").as("keyword_rank"))
    d.join(kw, Seq("doc_id"), "full_outer")
      .withColumn("rrf",
        coalesce(lit(1.0) / (lit(kRrf.toLong) + col("dense_rank")), lit(0.0)) +
          coalesce(lit(1.0) / (lit(kRrf.toLong) + col("keyword_rank")), lit(0.0)))
      .orderBy(col("rrf").desc, col("doc_id"))
      .limit(k)
  }

  def retrieveChunksHybrid(req: RetrieveRequest, chunks: ChunkTable,
                           embedder: Embedder = HashEmbedder(64),
                           kRrf: Int = 60): DataFrame = {
    val keyed = chunks.df.filter(compileScope(req, chunks)).withColumn("__cid",
      concat_ws(":", col(chunks.docIdCol), col(chunks.chunkNoCol)))
    val fetchK = math.max(req.k * 2, 20)
    val rankW = Window.orderBy(col("score").desc, col("__cid"))
    val dense = KnnSearch.topK(keyed, chunks.embeddingCol, "__cid",
      embedder.embedText(req.queryText), fetchK)
      .select(col("__cid"), col("score"))
      .withColumn("rank", row_number().over(rankW))
    val terms = Option(req.queryText).getOrElse("").toLowerCase
      .split("\\s+").filter(_.nonEmpty).distinct.toSeq
    val keyword = bm25(keyed, "__cid", chunks.contentCol, terms, fetchK)
      .withColumnRenamed("doc_id", "__cid")
      .withColumn("rank", row_number().over(rankW))
    val fused = rrfFuse(dense, keyword, "__cid", req.k, kRrf)
      .withColumnRenamed("doc_id", "__cid")
    fused.join(keyed.drop("score"), "__cid")
      .withColumn("score", col("rrf"))
      .drop("__cid")
      .orderBy(col("score").desc, col(chunks.docIdCol), col(chunks.chunkNoCol))
  }
}
