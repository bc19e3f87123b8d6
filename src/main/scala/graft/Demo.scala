package graft

import org.apache.spark.sql.functions._
import graft.GraftService._
import graft.streaming.IngestPipeline

/** Library walkthrough: ingest the testdata documents (chunk+embed), stand
  * up the wide chunk table, and serve a scoped retrieve request — the
  * reference's ingest→retrieve round trip end-to-end.
  * Usage: runMain graft.Demo [sfDir] [queryText]
  */
object Demo {
  def main(args: Array[String]): Unit = {
    val dir = args.headOption.getOrElse("/root/testdata/sf0.001")
    val queryText = if (args.length > 1) args.drop(1).mkString(" ")
      else "fast table scan merge join"
    val spark = Harness.session(8)

    // ingest: documents -> chunks + embeddings (the S1/C1/E1 pipeline)
    val docs = Tables.documents(spark, dir)
    val chunks = IngestPipeline.processBatch(
      docs, IngestPipeline.Config(chunkSize = 300, overlap = 30))
    // wide v2-style chunk table with scope columns
    val wide = chunks
      .join(docs.select(col("doc_id"), col("lang"), col("source")), "doc_id")
      .select(col("doc_id").as("document_id"), col("chunk_number"),
        col("chunk").as("content"), col("embedding"),
        map(lit("lang"), col("lang")).as("metadata"),
        typedLit(Map("lang" -> "string")).as("metadata_types"),
        lit("app1").as("app_id"), lit("u1").as("end_user_id"),
        concat(lit("/"), col("source")).as("folder_path"))
    val table = ChunkTable(wide)

    val req = RetrieveRequest(queryText, k = 5,
      filters = Some("""{"lang": {"$in": ["en", "de"]}}"""),
      appId = Some("app1"), folderPath = Some("/src1"), folderDepth = -1,
      useReranking = true, padding = 1)
    println(s"== retrieve: '$queryText' (filtered lang in [en,de], /src1 subtree, rerank, padding=1)")
    retrieveChunks(req, table)
      .select("document_id", "chunk_number", "score", "is_padding", "folder_path")
      .show(20, false)
    println("== doc-level results")
    retrieveDocs(req.copy(useReranking = false, padding = 0), table).show(5, false)
    println("== assembled context (first 200 chars)")
    val ctx = assembleContext(
      retrieveChunks(req.copy(padding = 0), table),
      "content", "document_id", "chunk_number")
      .select("context").head().getString(0)
    println(ctx.take(200))
    spark.stop()
  }
}
