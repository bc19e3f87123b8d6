package graft

import java.nio.file.Files

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.streaming.IngestPipeline

/** End-to-end ingestion: batch pipeline (clean -> chunk -> embed) and the
  * Structured Streaming form with checkpointed exactly-once file processing
  * and status accounting (SURVEY S1/S2, §2.8). */
class IngestPipelineSpec extends AnyFunSuite {

  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  import spark.implicits._

  lazy val cfg = IngestPipeline.Config(chunkSize = 100, overlap = 10)

  test("batch pipeline chunks, cleans control chars, and embeds") {
    val docs = Seq(
      (1L, ("alpha beta. " * 20).trim),       // long -> multiple chunks
      (2L, "short\u0000doc\u009f here"),      // control chars stripped
      (3L, "")                                 // empty -> no chunks
    ).toDF("doc_id", "text")
    val chunks = IngestPipeline.processBatch(docs, cfg)
    val byDoc = chunks.groupBy("doc_id").count().as[(Long, Long)].collect().toMap
    assert(byDoc(1L) > 1)
    assert(byDoc(2L) == 1)
    assert(!byDoc.contains(3L))
    // control chars removed before chunking
    val c2 = chunks.filter($"doc_id" === 2L).select("chunk").as[String].head()
    assert(c2 == "shortdoc here")
    // embeddings present, dim 64, unit norm for nonempty chunks
    val norms = chunks.select(
      aggregate($"embedding", lit(0.0), (a, x) => a + x * x)).as[Double].collect()
    norms.foreach(n => assert(math.abs(n - 1.0) < 1e-5))
    // status rows
    val status = IngestPipeline.statusRows(docs, chunks, cfg)
      .select("doc_id", "status").as[(Long, String)].collect().toMap
    assert(status(1L) == "completed" && status(3L) == "no_content_extracted")
  }

  test("progressLadder: 6-step worker ladder; embed/store steps gated on " +
    "chunks; terminal row carries the statusRows verdict") {
    val docs = Seq((1L, "alpha beta gamma. " * 30), (2L, "")).toDF("doc_id", "text")
    val chunks = IngestPipeline.processBatch(docs, cfg)
    val rows = IngestPipeline.progressLadder(docs, chunks, cfg)
      .select("doc_id", "step", "step_name", "percentage", "status")
      .as[(Long, Long, String, Long, String)].collect()
    val d1 = rows.filter(_._1 == 1L).sortBy(_._2)
    // full ladder: 6 processing rungs + terminal completed
    assert(d1.map(_._2).toSeq == (1L to 7L))
    assert(d1.map(_._3).toSeq == Seq("Downloading file", "Parsing file",
      "Splitting into chunks", "Generating embeddings", "Storing chunks",
      "Finalizing", "terminal"))
    // percentage = round(step/6*100), the worker's formula
    assert(d1.map(_._4).toSeq == Seq(17L, 33L, 50L, 67L, 83L, 100L, 100L))
    assert(d1.init.forall(_._5 == "processing") && d1.last._5 == "completed")
    // chunk-less doc: steps 4/5 absent, terminal no_content_extracted
    val d2 = rows.filter(_._1 == 2L).sortBy(_._2)
    assert(d2.map(_._2).toSeq == Seq(1L, 2L, 3L, 6L, 7L))
    assert(d2.last._5 == "no_content_extracted")
  }

  test("requeueLadder: attempt 1 fails the planted set (error carried, " +
    "nothing chunked), requeue derives from the status table, attempt 2 " +
    "completes or accept-but-marks") {
    val docs = Seq(
      (1L, "alpha beta gamma. " * 30), // clean: completes on attempt 1
      (2L, "delta epsilon. " * 30),    // planted transient: fails, retries ok
      (3L, "")                          // planted transient AND empty: retry
                                        // lands on accept-but-mark
    ).toDF("doc_id", "text")
    val rows = IngestPipeline.requeueLadder(docs,
        failWhen = col("doc_id") >= 2, error = "boom",
        chunker = d => IngestPipeline.processBatch(d, cfg), cfg)
      .select("doc_id", "attempt", "status", "error", "n_chunks")
      .as[(Long, Long, String, Option[String], Long)].collect()
      .map(r => (r._1, r._2) -> ((r._3, r._4, r._5))).toMap
    assert(rows.size == 5, s"3 attempt-1 rows + 2 requeues: $rows")
    assert(rows((1L, 1L))._1 == "completed" && rows((1L, 1L))._2.isEmpty &&
      rows((1L, 1L))._3 > 0)
    // the worker's exception path: failed + error, NOTHING indexed
    assert(rows((2L, 1L)) == (("failed", Some("boom"), 0L)))
    assert(rows((3L, 1L)) == (("failed", Some("boom"), 0L)))
    // attempt 2 = the normal rules on exactly the failed ids
    assert(rows((2L, 2L))._1 == "completed" && rows((2L, 2L))._3 > 0)
    assert(rows((3L, 2L)) == (("no_content_extracted", None, 0L)))
    assert(!rows.contains((1L, 2L)), "a completed doc is never requeued")
  }

  test("streaming ingest is checkpointed exactly-once and idempotent per doc") {
    val root = Files.createTempDirectory("graft_stream").toString
    val (in, idxDir, stDir, ckpt) =
      (s"$root/in", s"$root/index", s"$root/status", s"$root/ckpt")
    new java.io.File(in).mkdirs()
    val schema = org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("doc_id", org.apache.spark.sql.types.LongType),
      org.apache.spark.sql.types.StructField("text", org.apache.spark.sql.types.StringType)))

    Seq((1L, "one two three. " * 10), (2L, "hello world"))
      .toDF("doc_id", "text").write.mode("append").parquet(in)
    val q1 = IngestPipeline.runStreaming(spark, in, schema, idxDir, stDir, ckpt, cfg)
    q1.awaitTermination()
    val afterFirst = spark.read.parquet(stDir).count()
    assert(afterFirst == 2)

    // second batch: only the NEW file is processed (checkpoint skips file 1)
    Seq((3L, "third doc text here")).toDF("doc_id", "text")
      .write.mode("append").parquet(in)
    val q2 = IngestPipeline.runStreaming(spark, in, schema, idxDir, stDir, ckpt, cfg)
    q2.awaitTermination()
    val status = spark.read.parquet(stDir)
    assert(status.count() == 3) // 2 + 1, not 2 + 3 (no reprocessing)
    val idx = spark.read.parquet(idxDir)
    assert(idx.select("doc_id").distinct().count() == 3)
    assert(idx.filter($"doc_id" === 1L).count() ==
      IngestPipeline.processBatch(
        Seq((1L, "one two three. " * 10)).toDF("doc_id", "text"), cfg).count())
  }

  test("normalizeMetadata produces the queryable two-map layout") {
    val df = Seq(
      (1L, """{"year": "2024", "tags": ["a","b"], "at": "2024-01-15T10:30:00Z"}"""),
      (2L, null.asInstanceOf[String])).toDF("doc_id", "metadata_json")
    val out = IngestPipeline.normalizeMetadata(df).orderBy("doc_id")
      .select("doc_id", "metadata", "metadata_types")
      .as[(Long, Map[String, String], Map[String, String])].collect()
    assert(out(0)._3 == Map("year" -> "string", "tags" -> "array", "at" -> "datetime"))
    assert(out(0)._2("at") == "2024-01-15T10:30:00+00:00")
    assert(out(1)._2.isEmpty && out(1)._3.isEmpty)
    // and the filter DSL can query the result directly
    val hits = IngestPipeline.normalizeMetadata(df)
      .filter(graft.filters.MetadataFilter.compile(
        """{"year": "2024"}""", col("metadata"), col("metadata_types")))
      .select("doc_id").as[Long].collect().toSeq
    assert(hits == Seq(1L))
  }

  test("processFilesWithFallback parses real containers (xlsx/pdf/txt) to chunks") {
    val files = Seq(
      (1L, "a.xlsx", graft.sources.OfficeFixtures.xlsx(Seq(
        "S" -> Seq(Seq("alpha", "beta"), Seq("gamma", "delta"))))),
      (2L, "b.pdf", graft.sources.OfficeFixtures.pdf(
        Seq("pdf line one", "pdf line two"), compress = true)),
      (3L, "c.txt", "plain text body".getBytes("UTF-8")),
      (4L, "broken.docx", Array[Byte](9, 9, 9))  // parse failure -> no chunks
    ).toDF("doc_id", "filename", "bytes")
    val (chunks, _) = IngestPipeline.processFilesWithFallback(files, cfg)
    val byDoc = chunks.groupBy("doc_id").count().as[(Long, Long)].collect().toMap
    assert(byDoc.getOrElse(1L, 0L) > 0 && byDoc.getOrElse(2L, 0L) > 0
      && byDoc.getOrElse(3L, 0L) > 0)
    assert(!byDoc.contains(4L))
    val x = chunks.filter(col("doc_id") === 1L).select("chunk")
      .as[String].collect().mkString
    assert(x.contains("| alpha | beta |"))
    val p = chunks.filter(col("doc_id") === 2L).select("chunk")
      .as[String].collect().mkString
    assert(p.contains("pdf line one\npdf line two"))
    // status accounting marks the unparseable file, not just drops it
    val status = IngestPipeline.statusRows(files, chunks, cfg)
      .as[(Long, Long, String)].collect().map(r => r._1 -> r._3).toMap
    assert(status(4L) == "no_content_extracted")
    assert(status(1L) == "completed" && status(2L) == "completed")
  }

  test("parseWithFallback walks the graded ladder rung by rung") {
    import graft.operators.DocParser
    // rung 1: native parse wins, no marks
    val native = DocParser.parseWithFallback("a.pdf",
      graft.sources.OfficeFixtures.pdf(Seq("real pdf text")))
    assert(native.path == "native" && native.text == "real pdf text"
      && native.extractionStatus.isEmpty && native.warning.isEmpty)
    // rung 2: .pdf name over plain printable bytes -> text-decode fallback
    val textFb = DocParser.parseWithFallback("b.pdf",
      "just some readable bytes".getBytes("UTF-8"))
    assert(textFb.path == "text_fallback" && textFb.text == "just some readable bytes"
      && textFb.extractionStatus.isEmpty)
    // rung 3: binary junk with an embedded ASCII run -> deep stage recovers
    val deepBytes = Array[Byte](-1, 0, -1) ++ "HIDDEN WORDS".getBytes("US-ASCII") ++
      Array[Byte](0, -1)
    val noDeep = DocParser.parseWithFallback("c.pdf", deepBytes)
    assert(noDeep.path == "none" &&
      noDeep.extractionStatus.contains("no_content_extracted") &&
      noDeep.warning.contains(DocParser.NoContentWarning))
    val deep = DocParser.parseWithFallback("c.pdf", deepBytes,
      deep = DocParser.StringsDeepStage(4))
    assert(deep.path == "deep" && deep.text == "HIDDEN WORDS" &&
      deep.extractionStatus.contains("deep_fallback_succeeded") && deep.warning.isEmpty)
    // rung 4: nothing recoverable -> accept-but-mark, text stays empty
    val none = DocParser.parseWithFallback("d.pdf", Array[Byte](-1, 0, -1, 0),
      deep = DocParser.StringsDeepStage(4))
    assert(none.path == "none" && none.text.isEmpty &&
      none.extractionStatus.contains("no_content_extracted"))
    // the text rung refuses mojibake: Latin-1 would "decode" this junk
    assert(DocParser.parseWithFallback("e.pdf",
      Array[Byte](-1, -2, -3, -4, -5, -6, -7, -8)).path == "none")
    // empty bytes fall through every rung
    assert(DocParser.parseWithFallback("f.pdf", Array.emptyByteArray).path == "none")
  }

  test("processFilesWithFallback: every doc completes, marks carried, chunks only for text") {
    import graft.operators.DocParser
    val files = Seq(
      (1L, "a.pdf", graft.sources.OfficeFixtures.pdf(Seq("native content here"))),
      (2L, "b.pdf", "fallback text body readable".getBytes("UTF-8")),
      (3L, "c.pdf", Array[Byte](-1, 0) ++ "DEEP CONTENT".getBytes("US-ASCII") ++ Array[Byte](0, -1)),
      (4L, "d.pdf", Array[Byte](-1, 0, -1, 0))
    ).toDF("doc_id", "filename", "bytes")
    val (chunks, status) = IngestPipeline.processFilesWithFallback(
      files, cfg, deep = DocParser.StringsDeepStage(4))
    val byDoc = chunks.groupBy("doc_id").count().as[(Long, Long)].collect().toMap
    assert(byDoc.keySet == Set(1L, 2L, 3L))
    val st = status
      .select("doc_id", "parse_path", "extraction_status", "n_chunks", "status")
      .as[(Long, String, Option[String], Long, String)].collect()
      .map(r => r._1 -> r).toMap
    assert(st.values.forall(_._5 == "completed")) // accept-but-mark: all complete
    assert(st(1L)._2 == "native" && st(1L)._3.isEmpty)
    assert(st(2L)._2 == "text_fallback" && st(2L)._3.isEmpty)
    assert(st(3L)._2 == "deep" && st(3L)._3.contains("deep_fallback_succeeded"))
    assert(st(4L)._2 == "none" && st(4L)._3.contains("no_content_extracted")
      && st(4L)._4 == 0L)
  }
}
