package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}
import org.apache.spark.sql.types._
import graft.operators.{Chunker, Embedder, HashEmbedder}

/** Ingestion dataflow (SURVEY §2.1 S1-S2, §2.8): parse → clean → chunk →
  * embed → index, with per-document status accounting.
  *
  * The reference runs this as a Redis/arq worker queue with 6-step progress
  * rows (`ingestion_worker.py:336-1928`); the Spark-native form is
  * Structured Streaming over a landing directory with `foreachBatch` running
  * the exact batch pipeline, checkpointing standing in for job-state, and an
  * append-only status table standing in for progress rows. Jobs are
  * idempotent per document (re-ingest overwrites by doc id — the reference's
  * `external_id` upsert), so at-least-once delivery is safe.
  */
object IngestPipeline {

  case class Config(
      chunkSize: Int = 6000,
      overlap: Int = 300,
      embedder: Embedder = HashEmbedder(64),
      idCol: String = "doc_id",
      textCol: String = "text")

  /** C4: strip C0 control chars (except \t\n\r), DEL, C1
    * (`fast_ops.py:26,289-304`). */
  def cleanControlChars(c: org.apache.spark.sql.Column): org.apache.spark.sql.Column =
    regexp_replace(c, "[\\x00-\\x08\\x0b\\x0c\\x0e-\\x1f\\x7f\\x80-\\x9f]", "")

  /** Ingest-time metadata normalization: a raw JSON metadata column becomes
    * the queryable two-map layout (`metadata`, `metadata_types`) via
    * [[graft.filters.TypedMetadata]] (`typed_metadata.py:69-95` applied at
    * `ingestion_service.py:552-704` ingest). A UDF is acceptable here: this
    * is a once-per-document ingest step, not a query-time filter path. */
  def normalizeMetadata(df: DataFrame, jsonCol: String = "metadata_json"): DataFrame = {
    val norm = udf { (json: String) =>
      val b = graft.filters.TypedMetadata.normalize(
        Option(json).filter(_.trim.nonEmpty).getOrElse("{}"))
      (b.values, b.types)
    }
    df.withColumn("__m", norm(col(jsonCol)))
      .withColumn("metadata", col("__m._1"))
      .withColumn("metadata_types", col("__m._2"))
      .drop("__m", jsonCol)
  }

  /** S4/S5 front door: raw file rows (idCol, filename, bytes) through the
    * graded deep-parse ladder (`ingestion_worker.py:777-905`) — the Spark
    * form of `_parse_document` feeding the worker
    * (`morphik_parser.py:586-651`): parse with fallback rungs
    * (native → text decode → deep stage → accept-but-mark), run the batch
    * pipeline on whatever text survived, and emit status rows carrying the
    * extraction marks. Every document COMPLETES — a no-content doc is
    * accepted with `content_extraction_status = no_content_extracted` and
    * the warning, exactly the reference's accept-but-mark contract; it is
    * simply not searchable (0 chunks).
    *
    * Returns (chunks, status). Callers running both outputs should
    * persist/cache the parsed frame's lineage or write chunks first (as
    * [[runStreaming]] does) — the ladder re-executes otherwise. A
    * different converter (reference: Docling/parse-API) plugs in via
    * `stage`. */
  def processFilesWithFallback(files: DataFrame, cfg: Config = Config(),
      deep: graft.operators.DocParser.DeepStage = graft.operators.DocParser.NoDeepStage,
      stage: graft.operators.DocParser.Stage = graft.operators.DocParser.NativeStage)
      : (DataFrame, DataFrame) = {
    val parsed = graft.operators.DocParser.parseColumnWithFallback(
      files, "filename", "bytes", cfg.textCol, deep, stage)
    val chunks = processBatch(parsed.select(col(cfg.idCol), col(cfg.textCol)), cfg)
    val status = parsed
      .select(col(cfg.idCol), col("parse_path"), col("extraction_status"),
        col("extraction_warning"))
      .join(chunks.groupBy(cfg.idCol).agg(count(lit(1)).as("n_chunks")),
        Seq(cfg.idCol), "left")
      .select(col(cfg.idCol), col("parse_path"), col("extraction_status"),
        col("extraction_warning"),
        coalesce(col("n_chunks"), lit(0L)).as("n_chunks"),
        lit("completed").as("status"))
    (chunks, status)
  }

  /** The batch pipeline: documents -> chunk index rows
    * (doc_id, chunk_number, chunk, embedding). */
  def processBatch(docs: DataFrame, cfg: Config = Config()): DataFrame = {
    val cleaned = docs.withColumn(cfg.textCol, cleanControlChars(col(cfg.textCol)))
    val chunks = Chunker.recursiveChunks(cleaned, cfg.idCol, cfg.textCol,
      cfg.chunkSize, cfg.overlap)
    cfg.embedder.embed(chunks, "chunk", "embedding")
  }

  /** Per-document status rows for one batch (the 6-step progress analog —
    * here one terminal row per doc: completed + chunk count, or
    * no_content_extracted for empty docs, mirroring the worker's
    * accept-but-mark path `ingestion_worker.py:880-905`). */
  def statusRows(docs: DataFrame, chunks: DataFrame, cfg: Config = Config()): DataFrame = {
    val counts = chunks.groupBy(cfg.idCol)
      .agg(count(lit(1)).as("n_chunks"))
    docs.select(col(cfg.idCol))
      .join(counts, Seq(cfg.idCol), "left")
      .select(col(cfg.idCol),
        coalesce(col("n_chunks"), lit(0L)).as("n_chunks"),
        when(coalesce(col("n_chunks"), lit(0L)) > 0, "completed")
          .otherwise("no_content_extracted").as("status"))
  }

  /** L9 status POLLING surface: the per-document 6-step progress ladder a
    * `GET /documents/{id}/status` poll reads while ingestion runs —
    * Downloading file → Parsing file → Splitting into chunks → Generating
    * embeddings → Storing chunks → Finalizing, `status=processing` with
    * `percentage = round(step/6·100)` at each rung
    * (`ingestion_worker.py:478,546,675,931,1148,1241`; percentage formula
    * `:175`), then the terminal row: `completed`, or the accept-but-mark
    * `no_content_extracted` for docs that produced no chunks
    * (`:880-905`). Steps 4 and 5 are emitted only for docs WITH chunks —
    * the worker's `if processed_chunks` gate (`:931`) — so the ladder
    * itself discriminates on pipeline outcome, not just doc presence.
    * The percentage literals are computed ONCE in Scala and interpolated
    * into both engines (the t60 convention — no cross-engine round()). */
  def progressLadder(docs: DataFrame, chunks: DataFrame,
                     cfg: Config = Config()): DataFrame = {
    val totalSteps = 6
    val steps = Seq(
      (1, "Downloading file", false), (2, "Parsing file", false),
      (3, "Splitting into chunks", false), (4, "Generating embeddings", true),
      (5, "Storing chunks", true), (6, "Finalizing", false))
    val stepRows = steps.map { case (n, nm, needsChunks) =>
      struct(lit(n.toLong).as("step"), lit(nm).as("step_name"),
        lit(math.round(n * 100.0 / totalSteps)).as("percentage"),
        lit("processing").as("status"), lit(needsChunks).as("needs"))
    }
    statusRows(docs, chunks, cfg)
      .select(col(cfg.idCol), col("n_chunks"),
        explode(concat(
          filter(array(stepRows: _*),
            s => !s.getField("needs") || col("n_chunks") > 0),
          array(struct(lit(7L).as("step"), lit("terminal").as("step_name"),
            lit(100L).as("percentage"), col("status").as("status"),
            lit(false).as("needs"))))).as("s"))
      .select(col(cfg.idCol), col("s.step").as("step"),
        col("s.step_name").as("step_name"),
        col("s.percentage").as("percentage"), col("s.status").as("status"),
        col("n_chunks"))
  }

  /** S2's failure→requeue semantics, replayable (r13 verdict ask #5b):
    * the worker's processing→failed transition
    * (`ingestion_worker.py:733-749` — on exception, write status
    * `failed` + the error string and STOP: nothing is indexed for that
    * document) followed by the retry endpoint's re-ingest
    * (`routes/ingest.py:272`). `failWhen` marks the documents whose
    * (transient) failure fires on attempt 1 — the planted-input
    * convention standing in for a raised parse/embed exception, which the
    * reference catches PER DOCUMENT because each runs as its own queue
    * job. The requeue set is then derived FROM THE STATUS TABLE (the
    * retry endpoint reads failed ids back from the DB — not from the
    * original cause, which is gone by retry time), and attempt 2 runs the
    * normal pipeline: `completed`, or the accept-but-mark
    * `no_content_extracted` — re-ingest is idempotent per doc id
    * (the `external_id` upsert), so the at-least-once queue is safe.
    * Output: one status row per (document, attempt). */
  def requeueLadder(docs: DataFrame, failWhen: org.apache.spark.sql.Column,
                    error: String, chunker: DataFrame => DataFrame,
                    cfg: Config = Config()): DataFrame = {
    val ok1 = docs.filter(!failWhen)
    val a1ok = statusRows(ok1, chunker(ok1), cfg)
      .select(col(cfg.idCol), lit(1L).as("attempt"), col("status"),
        lit(null).cast("string").as("error"), col("n_chunks"))
    val a1fail = docs.filter(failWhen)
      .select(col(cfg.idCol), lit(1L).as("attempt"),
        lit("failed").as("status"), lit(error).as("error"),
        lit(0L).as("n_chunks"))
    val statusTable = a1ok.unionByName(a1fail)
    val requeued = docs.join(
      statusTable.filter(col("status") === "failed").select(cfg.idCol),
      Seq(cfg.idCol), "left_semi")
    val a2 = statusRows(requeued, chunker(requeued), cfg)
      .select(col(cfg.idCol), lit(2L).as("attempt"), col("status"),
        lit(null).cast("string").as("error"), col("n_chunks"))
    statusTable.unionByName(a2)
  }

  /** Streaming ingest: watch `inputDir` for parquet document files, run the
    * batch pipeline per micro-batch, append chunk index + status tables.
    * Checkpointed -> exactly-once per file; idempotent per doc id. */
  def runStreaming(spark: SparkSession, inputDir: String, schema: StructType,
                   indexDir: String, statusDir: String, checkpointDir: String,
                   cfg: Config = Config()): StreamingQuery = {
    spark.readStream.schema(schema).parquet(inputDir)
      .writeStream
      .option("checkpointLocation", checkpointDir)
      .trigger(Trigger.AvailableNow())
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        val chunks = processBatch(batch, cfg).cache()
        try {
          chunks.write.mode("append").parquet(indexDir)
          statusRows(batch, chunks, cfg)
            .withColumn("batch_id", lit(batchId))
            .write.mode("append").parquet(statusDir)
        } finally chunks.unpersist()
        ()
      }
      .start()
  }
}
