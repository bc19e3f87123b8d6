package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import graft.functions.{vec, TopKAggregate}

/** Dense KNN retrieval (SURVEY §2.5 Q1-Q3, Q11, Q14).
  *
  * Spark-first shape of `pgvector_store.query_similar`
  * (`pgvector_store.py:444-507`): all predicates (tenancy, metadata DSL,
  * authorized-doc semi-join) are applied BEFORE scoring so they push into the
  * scan — the v2 "pushed-down filtered KNN" layout (`chunk_v2_store.py:352-431`)
  * is the only one we implement, since it strictly dominates the pre-pass
  * variant on a columnar store.
  *
  * Physical notes for 100 TB:
  *  - single query: `orderBy(desc).limit(k)` plans as TakeOrderedAndProject —
  *    per-partition heap + driver merge of |partitions|*k rows; no global sort.
  *  - query batch: per-query [[TopKAggregate]] — map-side partial heaps mean
  *    the shuffle carries |queries| x |partitions| x k entries, not the full
  *    scored cross product.
  */
object KnnSearch {

  /** Score column for a literal query vector (cosine). */
  def cosineTo(vecCol: Column, query: Array[Float]): Column =
    vec.cosine_sim(vecCol, lit(query))

  /** Single-query brute-force top-k: filter -> score -> TakeOrderedAndProject.
    * `where` should carry every scope/metadata predicate (pushed-down-KNN
    * semantics); `minScore` mirrors Q14. */
  def topK(corpus: DataFrame, vecCol: String, idCol: String,
           query: Array[Float], k: Int,
           where: Column = lit(true), minScore: Double = Double.NegativeInfinity): DataFrame = {
    val scored = corpus.filter(where)
      .withColumn("score", cosineTo(col(vecCol), query))
    val bounded = if (minScore.isNegInfinity) scored else scored.filter(col("score") >= minScore)
    bounded.orderBy(col("score").desc, col(idCol).asc).limit(k)
  }

  /** Range search (FAISS `range_search` / Milvus `radius` — the similarity
    * API the top-k family doesn't cover: "everything at least this
    * similar", unbounded result count): all corpus vectors with cosine ≥
    * `minScore`. A narrow map + filter — NO shuffle, no heap, no sort; the
    * predicate sits directly on the scan, so at 100 TB this is a pure
    * embarrassingly-parallel scan emitting only qualifying rows. Callers
    * wanting ranked output sort the (usually small) result. */
  def rangeSearch(corpus: DataFrame, vecCol: String, idCol: String,
                  query: Array[Float], minScore: Double,
                  where: Column = lit(true)): DataFrame =
    corpus.filter(where)
      .withColumn("score", cosineTo(col(vecCol), query))
      .filter(col("score") >= minScore)

  /** Batch top-k: one row per (query, rank) via the bounded-heap aggregate.
    * `queries` must be small enough to broadcast (it is: query batches are
    * user requests, not data). */
  def topKPerQuery(corpus: DataFrame, vecCol: String, idCol: String,
                   queries: DataFrame, queryVecCol: String, queryIdCol: String,
                   k: Int, where: Column = lit(true)): DataFrame = {
    val scored = graft.Tables.scaled(corpus.filter(where))
      .join(broadcast(queries.select(col(queryIdCol).as("query_id"),
        col(queryVecCol).as("__qvec"))))
      .withColumn("score", vec.cosine_sim(col(vecCol), col("__qvec")))
    scored
      .groupBy("query_id")
      .agg(TopKAggregate.top_k(col("score"), col(idCol).cast("long"), k).as("hits"))
      .select(col("query_id"), posexplode(col("hits")).as(Seq("rank", "hit")))
      .select(col("query_id"), col("rank") + 1 as "rank",
        col("hit.id").as("id"), col("hit.score").as("score"))
  }

  /** Q11: doc-level results — group chunk hits per document, score = highest
    * chunk score (`document_service.py:819-852`). */
  def docLevel(chunkHits: DataFrame, docIdCol: String): DataFrame =
    chunkHits.groupBy(docIdCol)
      .agg(max("score").as("score"), count(lit(1)).as("chunk_hits"))

  /** Q2 semantics retained for API parity: restrict the corpus to an
    * authorized id set via LEFT SEMI JOIN (broadcast when small). */
  def authorized(corpus: DataFrame, idCol: String,
                 authorizedIds: DataFrame, authIdCol: String): DataFrame =
    corpus.join(broadcast(authorizedIds),
      corpus(idCol) === authorizedIds(authIdCol), "left_semi")
}
