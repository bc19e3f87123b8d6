package graft

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{Column, DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DoubleType, LongType, StructField, StructType}
import graft.filters.{MetadataFilter, ScopeFilters}
import graft.functions.text
import graft.operators.{Embedder, HashEmbedder, KnnSearch, ModelRerank, Padding, Serving,
  TokenOverlapModel}

/** The serving-layer planner (SURVEY §3.1/§3.2): a `RetrieveRequest`-shaped
  * case class compiled to one declarative DataFrame plan — the Spark
  * equivalent of `document_service.retrieve_chunks`
  * (`document_service.py:213-505`).
  *
  * Plan shape (the v2 pushed-down form, `chunk_v2_store.py:352-431`): every
  * predicate — tenancy, end-user, folder scope (exact/prefix/depth),
  * metadata DSL, status — lands BEFORE the scoring/limit, so Catalyst pushes
  * it into the chunk-table scan; then score -> min_score -> top-k ->
  * optional rerank (oversampled) -> optional padding -> deterministic order.
  * One ranking path, like the reference dispatcher: each arm opens with
  * one request [[gate]], every arm but hybrid cuts through [[candidates]],
  * dense and multivector share [[finish]], and hybrid fuses with
  * [[operators.FullText.rrf]]. Jobs per read: ARCHITECTURE rule 17.
  */
object GraftService {

  /** Mirror of `core/models/request.py:114-182` (the analytics-relevant
    * fields; model/output-format knobs live serving-side). `queryImage`
    * is the visual-search arm (`request.py:122-125`): raw image bytes,
    * mutually exclusive with a non-empty `queryText`
    * (`request.py:175-179`), only valid on the multivector branch
    * (`document_service.py:234-238`), at most [[MaxQueryImageBytes]]
    * (`document_service.py:241-246`). */
  case class RetrieveRequest(
      queryText: String,
      k: Int = 20,
      filters: Option[String] = None,          // metadata DSL JSON
      minScore: Double = Double.NegativeInfinity,
      useReranking: Boolean = false,
      appId: Option[String] = None,
      endUserId: Option[String] = None,
      folderPath: Option[String] = None,
      folderDepth: Int = 0,                    // 0 exact, -1 descendants, n>0 bounded
      padding: Int = 0,
      queryImage: Option[Array[Byte]] = None)

  /** The reference's 10 MB query-image gate (`document_service.py:241`). */
  val MaxQueryImageBytes: Int = 10 * 1024 * 1024

  /** The request gate each arm opens with: `k` and `padding` must be
    * non-negative (`k = 0` reads an empty result on every arm); a text arm
    * rejects an image query with `textArm` (`document_service.py:234-238`);
    * the multivector arm takes one without queryText (`request.py:175-179`),
    * within the 10 MB gate (`document_service.py:241-246`) and unreranked. */
  private def gate(req: RetrieveRequest, imageArm: Boolean, textArm: String =
      "image queries require the multivector arm (document_service.py:234-238)"): Unit = {
    require(req.k >= 0, s"k must be non-negative (got ${req.k})")
    require(req.padding >= 0, s"padding must be non-negative (got ${req.padding})")
    req.queryImage.foreach { img =>
      require(imageArm, textArm)
      require(req.queryText == null || req.queryText.isEmpty,
        "Provide either queryText or queryImage, not both (request.py:175-179)")
      require(img.length <= MaxQueryImageBytes,
        f"query image exceeds the 10MB gate (got ${img.length / 1048576.0}%.1fMB," +
          " document_service.py:241-246)")
      require(!req.useReranking,
        "reranking is text-queried; image queries run unreranked " +
          "(the cross-encoder scores (queryText, content) pairs)")
    }
  }

  /** Chunk-table column contract (the wide v2 layout, FIXTURES A2). */
  case class ChunkTable(
      df: DataFrame,
      docIdCol: String = "document_id",
      chunkNoCol: String = "chunk_number",
      contentCol: String = "content",
      embeddingCol: String = "embedding",
      metaCol: String = "metadata",
      metaTypesCol: String = "metadata_types",
      appIdCol: String = "app_id",
      endUserCol: String = "end_user_id",
      folderPathCol: String = "folder_path")

  /** Compile the request's WHERE (everything except the vector part). */
  def compileScope(req: RetrieveRequest, t: ChunkTable): Column = {
    val c = t.df
    val parts = Seq(
      req.appId.map(a => c(t.appIdCol) === a),
      req.endUserId.map(u => c(t.endUserCol) === u),
      // reference depth semantics are RELATIVE to the base path (0 exact,
      // -1 all descendants, n>0 at most n levels deeper) — the dispatcher
      // adds base_depth, so "/a/b" with depth 1 bounds at total depth 3
      req.folderPath.map(p =>
        ScopeFilters.folderScope(c(t.folderPathCol), Seq(Some(p)),
          Some(req.folderDepth))),
      req.filters.map(json =>
        MetadataFilter.compile(json, MetadataFilter.Ctx(
          c(t.metaCol), c(t.metaTypesCol))))
    ).flatten
    parts.reduceOption(_ && _).getOrElse(lit(true))
  }

  /** The cut of every arm but hybrid: scope → `score` → min_score → top
    * `fetchK` by (score desc, document_id, chunk_number), so a tie never
    * depends on row order; one `TakeOrderedAndProject` over the scan. */
  private def candidates(req: RetrieveRequest, t: ChunkTable, score: Column,
                         fetchK: Int): DataFrame = {
    val scored = t.df.filter(compileScope(req, t)).withColumn("score", score)
    val bounded =
      if (req.minScore.isNegInfinity) scored
      else scored.filter(col("score") >= req.minScore)
    bounded.orderBy(col("score").desc, col(t.docIdCol), col(t.chunkNoCol)).limit(fetchK)
  }

  /** Dense and multivector: [[candidates]] (oversampled when reranking) →
    * rerank to k ([[ModelRerank]]) → `pad` if padding, else the final
    * [[candidates]] order. */
  private def finish(req: RetrieveRequest, t: ChunkTable, score: Column,
                     pad: DataFrame => DataFrame): DataFrame = {
    val fetchK = if (req.useReranking) Serving.oversample(req.k) else req.k
    val hits = candidates(req, t, score, fetchK)
    val ranked =
      if (!req.useReranking) hits
      else ModelRerank.rerank(hits, t.docIdCol, t.contentCol, req.queryText, req.k,
        TokenOverlapModel(), tiebreak = Seq(t.chunkNoCol)).withColumn("score", col("rerank_score"))
    if (req.padding > 0) pad(ranked)
    else ranked.orderBy(col("score").desc, col(t.docIdCol), col(t.chunkNoCol))
  }

  /** retrieve_chunks: the full Q1+Q14(+Q6)(+Q8) pipeline as one plan. */
  def retrieveChunks(req: RetrieveRequest, chunks: ChunkTable,
                     embedder: Embedder = HashEmbedder(64)): DataFrame = {
    gate(req, imageArm = false, "image queries require the multivector arm — use " +
      "retrieveChunksMultivector (document_service.py:234-238)")
    finish(req, chunks, KnnSearch.cosineTo(col(chunks.embeddingCol),
      embedder.embedText(req.queryText)),
      Padding.expand(_, chunks.df, req.padding, chunks.docIdCol, chunks.chunkNoCol))
  }

  /** retrieve_chunks, ColPali/multivector branch (Q7's `use_colpali` arm,
    * `document_service.py:213-229` config dispatch → MaxSim scoring like
    * `multi_vector_store.query_similar`): identical scope compilation and
    * plan shape to the dense branch, with the score expression swapped for
    * float MaxSim against the query's multivector. The query multivector
    * is a literal (request-sized, broadcast by construction); the chunk
    * multivector column never enters a shuffle — scoring happens in the
    * scan projection and only (score, ids) reach the top-k. */
  def retrieveChunksMultivector(req: RetrieveRequest, chunks: ChunkTable,
                                mvCol: String,
                                embedder: operators.MultiVectorEmbedder): DataFrame = {
    gate(req, imageArm = true)
    // `document_service.py:278-296`: an image query embeds through the
    // model's image path, a text query through embed_for_query — then the
    // two share every downstream stage.
    val qmv = req.queryImage match {
      case Some(img) => embedder.embedImageMulti(img)
      case None      => embedder.embedTextMulti(req.queryText)
    }
    require(qmv.nonEmpty, "query multivector is empty (embedder failure)")
    // ColPali padding is image-only (`_apply_padding_to_chunks`,
    // `document_service.py:554-688`): text hits drop out, padding rows
    // must be images, matched scores survive, padding scores 0.0, final
    // order (-score, doc, chunk).
    finish(req, chunks,
      graft.functions.vec.max_sim_float(col(mvCol), typedLit(qmv.map(_.toSeq).toSeq)),
      Padding.expandImages(_, chunks.df, req.padding,
        chunks.docIdCol, chunks.chunkNoCol, chunks.contentCol, chunks.metaCol))
  }

  /** Hybrid retrieval: the dense arm fused with an Okapi BM25 keyword arm
    * by reciprocal rank (the pgvector+FTS deployment shape, generalizing
    * the reference's filename-only keyword search Q12 to chunk content).
    * Scope compiles ONCE and lands before BOTH arms' scoring, so each arm
    * scans only authorized rows. Chunks are keyed by a composite doc:chunk
    * string `__cid` so fusion is per-chunk; each arm oversamples to
    * fetchK = max(2k, 20) before the RRF cut.
    *
    * Plan: the two arms are collected and fused on the driver (rule 17) —
    * at most 2·fetchK request-sized rows, each carrying its chunk columns,
    * so nothing joins back to the table:
    *  - dense: [[KnnSearch.topK]] on `__cid`, a bounded-heap scan (1 job);
    *  - keyword: [[operators.FullText.bm25Rows]], a one-row stats aggregate
    *    (2 jobs under AQE) and a bounded-heap scoring scan (1 job), both
    *    skipped when the query has no term the scope holds;
    *  - fusion: [[operators.FullText.rrf]] with the constant 60 cuts the
    *    top k by (rrf desc, `__cid` in Spark's UTF-8 binary string order),
    *    returned as a local frame in (score desc, document_id,
    *    chunk_number) order, so reading it runs no further job.
    * At most 4 jobs per call. Columns: dense_rank, keyword_rank (null for
    * an arm that missed the chunk), rrf, the chunk table's columns, and
    * score (= rrf). */
  def retrieveChunksHybrid(req: RetrieveRequest, chunks: ChunkTable,
                           embedder: Embedder = HashEmbedder(64)): DataFrame = {
    gate(req, imageArm = false)
    val keyed = chunks.df.filter(compileScope(req, chunks)).drop("score")
      .withColumn("__cid", concat_ws(":", col(chunks.docIdCol), col(chunks.chunkNoCol)))
    val fetchK = math.max(req.k * 2, 20)
    val dense = KnnSearch.topK(keyed, chunks.embeddingCol, "__cid",
      embedder.embedText(req.queryText), fetchK).collect()
    val terms = text.words(req.queryText).distinct
    val keyword = operators.FullText.bm25Rows(keyed, "__cid", chunks.contentCol,
      terms, fetchK).collect()
    // both arms' rows start with keyed's columns; a both-arms chunk keeps its dense row
    val cidIdx = keyed.columns.indexOf("__cid")
    val chunkIdx = keyed.columns.indices.filter(_ != cidIdx)
    val rowOf = (keyword ++ dense).map(r => r.getString(cidIdx) -> r).toMap
    val docIdx = keyed.columns.indexOf(chunks.docIdCol)
    val chunkNoIdx = keyed.columns.indexOf(chunks.chunkNoCol)
    val top = operators.FullText.rrf(dense.map(_.getString(cidIdx)).toSeq,
        keyword.map(_.getString(cidIdx)).toSeq, req.k,
        Ordering.fromLessThan[String](Serving.sqlCompare(_, _) < 0))
      .sortWith { (a, b) =>
        val (ra, rb) = (rowOf(a.key), rowOf(b.key))
        Serving.sortsBefore((b.rrf, a.rrf), (ra.get(docIdx), rb.get(docIdx)),
          (ra.get(chunkNoIdx), rb.get(chunkNoIdx)))
      }
    val outSchema = StructType(
      Seq(StructField("dense_rank", LongType), StructField("keyword_rank", LongType),
        StructField("rrf", DoubleType, nullable = false)) ++
        chunkIdx.map(keyed.schema.fields(_)) :+
        StructField("score", DoubleType, nullable = false))
    val outRows = top.map { f =>
      Row.fromSeq(Seq[Any](f.denseRank.orNull, f.keywordRank.orNull, f.rrf) ++
        chunkIdx.map(rowOf(f.key).get) :+ f.rrf)
    }
    keyed.sparkSession.createDataFrame(outRows.asJava, outSchema)
  }

  /** MMR-diversified retrieval: the dense branch oversampled to fetchK,
    * then greedily re-ranked for diversity ([[operators.Mmr]], λ=0.5 by
    * default) — the serving answer to a corpus whose top-k fills with
    * near-copies. Same scope compilation and pushed-down plan as
    * [[retrieveChunks]]; the diversification runs over the request-sized
    * candidate slice only: it is collected once (1 job, the [[candidates]]
    * heap scan), the greedy step runs on the driver over each candidate's
    * slice position as its id, and the picks come back as a local frame
    * already in `mmr_rank` order, so reading it runs no further job.
    * Columns: the chunk table's, score, mmr_score, mmr_rank. */
  def retrieveChunksDiverse(req: RetrieveRequest, chunks: ChunkTable,
                            embedder: Embedder = HashEmbedder(64),
                            lambda: Double = 0.5): DataFrame = {
    gate(req, imageArm = false)
    // 2k oversample (the hybrid arm's rule, NOT Serving.oversample whose
    // max(k, min(3k, 20)) cap equals k once k >= 20 — a pool of exactly k
    // candidates would make diversification a pure reorder with nothing to
    // swap in)
    val hits = candidates(req, chunks, KnnSearch.cosineTo(col(chunks.embeddingCol),
      embedder.embedText(req.queryText)), math.max(req.k * 2, 20))
    // ONE execution of the retrieval plan: collect the request-sized slice
    // (already in candidate order), greedy-select on it, and rebuild the
    // result from the same rows — a join back to `hits` would re-derive
    // the corpus scan a second time per request
    val rows = hits.collect()
    val scoreIdx = rows.headOption.map(_.fieldIndex("score")).getOrElse(0)
    val embIdx = rows.headOption.map(_.fieldIndex(chunks.embeddingCol)).getOrElse(0)
    val cand = rows.zipWithIndex.map { case (r, i) =>
      ((i + 1).toLong, r.getDouble(scoreIdx), r.getSeq[Float](embIdx).toArray)
    }
    val picks = operators.Mmr.select(cand.toSeq, req.k, lambda)
    val outSchema = hits.schema
      .add("mmr_score", DoubleType, nullable = false)
      .add("mmr_rank", LongType, nullable = false)
    val outRows = picks.map { case (sid, _, m, rk) =>
      // Seq[Any], NOT Seq(m, rk): Scala's numeric widening would unify
      // (Double, Long) to Seq[Double], silently turning the rank into 3.0
      // and corrupting the LongType slot
      Row.fromSeq(rows(sid.toInt - 1).toSeq ++ Seq[Any](m, rk))
    }
    // picks come in selection order = mmr_rank order: a local frame,
    // read without another job
    hits.sparkSession.createDataFrame(outRows.asJava, outSchema)
  }

  /** Doc-level results (Q11): max chunk score per [[retrieveChunks]] document. */
  def retrieveDocs(req: RetrieveRequest, chunks: ChunkTable,
                   embedder: Embedder = HashEmbedder(64)): DataFrame =
    KnnSearch.docLevel(retrieveChunks(req, chunks, embedder), chunks.docIdCol)

  /** R1 context assembly: the retrieved chunks concatenated in rank order
    * into the completion prompt context (`document_service.py:1028-1233` —
    * the DataFrame-able part of `query`; the LLM call itself is serving). */
  def assembleContext(hits: DataFrame, contentCol: String, docIdCol: String,
                      chunkNoCol: String): DataFrame =
    hits.agg(
      concat_ws("\n\n",
        transform(
          array_sort(collect_list(struct(
            (-col("score")).as("neg"), col(docIdCol).as("d"),
            col(chunkNoCol).as("n"), col(contentCol).as("c")))),
          x => x.getField("c"))).as("context"),
      count(lit(1)).as("n_chunks"))
}
