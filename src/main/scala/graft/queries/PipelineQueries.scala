package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.Tables
import graft.operators.{Chunker, HashEmbedder, HashTranscriber, HtmlExtract, KnnSearch, ModelRerank,
  Multimodal, Serving, TokenOverlapModel, Transcriber}

/** End-to-end pipeline + serving coverage: ingest (chunk→embed) stats,
  * multimodal decode plumbing, rerank, batch-get, filename search.
  * (SURVEY §2.1-2.3, Q6, Q10, Q12.)
  */
object PipelineQueries {

  // the media fixtures ImageIO-encode frames inside executor closures;
  // memory-backed stream cache there too (see ImageCodec's rationale) —
  // object init runs wherever the fixture closure first executes
  javax.imageio.ImageIO.setUseCache(false)

  /** Static query text shared by Spark and oracle (vocabulary words from the
    * synthetic corpus). */
  val RerankQuery = "the fast table scan join merge sort filter"
  // "the" exercises stopword drop (english config keeps [table, scan] after
  // stemming; simple config keeps all three so it never fires on these names)
  val NameQuery = "the tables scans"

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q8_padding" -> ((s, d) => padding(s, d)),
    "p1_ingest_stats" -> ((s, d) => ingestStats(s, d)),
    "p2_office_ingest" -> ((s, d) => officeIngest(s, d)),
    "p3_pdf_ingest" -> ((s, d) => pdfIngest(s, d)),
    "p4_pdf_pages" -> ((s, d) => pdfPages(s, d)),
    "p5_parse_ladder" -> ((s, d) => parseLadder(s, d)),
    "b1_datauri" -> ((s, d) => dataUri(s, d)),
    "m1_media_decode" -> ((s, d) => mediaDecode(s, d)),
    "x1_xml_chunks" -> ((s, d) => xmlChunks(s, d)),
    "m2_frame_sample" -> ((s, d) => frameSample(s, d)),
    "m3_blank_pages" -> ((s, d) => blankPages(s, d)),
    "m4_transcript" -> ((s, d) => transcript(s, d)),
    "m5_image_dhash" -> ((s, d) => imageNearDups(s, d)),
    "m11_image_keeplist" -> ((s, d) => imageKeepList(s, d)),
    "m6_audio_activity" -> ((s, d) => audioActivity(s, d)),
    "m12_loudness" -> ((s, d) => loudnessQ(s, d)),
    "m13_image_entropy" -> ((s, d) => imageEntropyQ(s, d)),
    "m7_multimodal_curation" -> ((s, d) => multimodalCuration(s, d)),
    "m8_scene_cuts" -> ((s, d) => sceneCutsQ(s, d)),
    "m14_video_neardup" -> ((s, d) => videoNearDupsQ(s, d)),
    "m15_audio_neardup" -> ((s, d) => audioNearDupsQ(s, d)),
    "m9_scene_cuts_dense" -> ((s, d) => sceneCutsDense(s, d)),
    "m10_caption_frames" -> ((s, d) => captionFrames(s, d)),
    "r1_rerank" -> ((s, d) => rerank(s, d)),
    "r2_context_assembly" -> ((s, d) => contextAssembly(s, d)),
    "r3_augmented_content" -> ((s, d) => augmentedContent(s, d)),
    "g1_batch_get" -> ((s, d) => batchGet(s, d)),
    "n1_filename_search" -> ((s, d) => filenameSearch(s, d)),
    "n12_trgm_fuzzy" -> ((s, d) => trgmFuzzy(s, d)),
    "p8_incremental_reembed" -> ((s, d) => incrementalReembed(s, d)),
    "p6_clean_control" -> ((s, d) => cleanControl(s, d)),
    "p7_index_layout" -> ((s, d) => indexLayout(s, d)),
    "h1_html_blocks" -> ((s, d) => htmlBlocksQ(s, d)),
    "h2_html_main" -> ((s, d) => htmlMainQ(s, d)),
    "p9_md_tables" -> ((s, d) => mdTablesQ(s, d)),
    "s10_office_colpali" -> ((s, d) => officeColpali(s, d))
  )

  /** Deterministic S11 page renderer over REAL xlsx containers: pageCount
    * and per-page cell text come from genuine OOXML package walking
    * ([[graft.operators.DocParser.xlsxSheetCells]] — sheet == page, the
    * reference's LibreOffice→PDF rung paginates the same way); the PIXELS
    * are the clearly-marked stub half (no office rasterizer exists in a
    * pure JVM): planted arithmetic of the sheet's total cell length, so
    * render failures ((tot·3+page)%5==0 throws), blank pages
    * ((tot+page)%4==0 renders uniform), and the decoded width
    * (8+(tot·7+page)%56) are all facts an oracle reconstructs from the
    * same planted words — extract(render(cells)) round-trip gating, the
    * p9 convention lifted to the image chain. */
  object XlsxSheetRenderer extends Multimodal.PageRenderer {
    private def totLen(doc: Array[Byte], page: Int): Int =
      graft.operators.DocParser.xlsxSheetCells(doc)(page)
        .flatten.map(_.length).sum
    def pageCount(doc: Array[Byte]): Int =
      graft.operators.DocParser.xlsxSheetCells(doc).length
    def render(doc: Array[Byte], page: Int): Array[Byte] = {
      val tot = totLen(doc, page)
      if ((tot * 3 + page) % 5 == 0)
        throw new RuntimeException(s"planted render failure page=$page")
      val blank = (tot + page) % 4 == 0
      val w = 8 + ((tot * 7 + page) % 56)
      val g = 40 + tot % 150
      val img = new java.awt.image.BufferedImage(
        w, 8, java.awt.image.BufferedImage.TYPE_INT_RGB)
      var y = 0
      while (y < 8) {
        var x = 0
        while (x < w) {
          val v = if (blank || (x + y) % 2 == 0) g else g + 16
          img.setRGB(x, y, (v << 16) | (v << 8) | v); x += 1
        }
        y += 1
      }
      val bos = new java.io.ByteArrayOutputStream()
      javax.imageio.ImageIO.write(img, "png", bos)
      bos.toByteArray
    }
  }

  /** S11 end-to-end (round-11 verdict #6 — the one §2 component that was
    * spec-only): office ingest → rendered page images → C3 multivector
    * chunk dispatch as ONE row (`ingestion_service.py:1698-1896`). Each
    * doc becomes a REAL xlsx with 1+doc_id%3 sheets (both shared-string
    * and inline-string layouts, alternating by id); [[XlsxSheetRenderer]]
    * walks the real container per page; the [[Multimodal.pageImageChunks]]
    * skeleton skips planted render-failures and blank pages and numbers
    * survivors densely; each surviving data-URI chunk is decoded BACK
    * (b1's codec direction) and dispatched to the image multivector model
    * ([[graft.operators.HashMultiVectorEmbedder.embedImageMulti]], the
    * ColPali patch-shaped stand-in) — emitted per chunk: the decoded
    * width (value-ties the xlsx parse → render → normalize → data-URI →
    * decode chain to the planted words) and the multivector shape
    * (n_vecs×dim = the 4×4 luma patch grid × 128). */
  def officeColpali(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val docs = Tables.documents(spark, dir).filter(col("doc_id") < 100)
      .select(col("doc_id"), col("text")).as[(Long, String)]
    val withBytes = docs.map { case (id, text) =>
      val ws = text.split(" ")
      val n = ws.length
      val sheets = (0 until (1 + id % 3).toInt).map { s =>
        (s"S$s", Seq(Seq(ws((2 * s) % n), ws((2 * s + 1) % n))))
      }
      (id, graft.sources.OfficeFixtures.xlsx(sheets,
        sharedStrings = id % 2 == 0))
    }.toDF("doc_id", "bytes")
    val chunks = Multimodal.pageImageChunks(
      withBytes, "doc_id", "bytes", XlsxSheetRenderer)
    val emb = graft.operators.HashMultiVectorEmbedder(dim = 128)
    chunks.as[(Long, Int, Int, String, Boolean)].map {
      case (id, chunkNo, page, uri, isImage) =>
        val bytes = java.util.Base64.getDecoder
          .decode(uri.substring(uri.indexOf(',') + 1))
        val img = javax.imageio.ImageIO.read(
          new java.io.ByteArrayInputStream(bytes))
        val mv = emb.embedImageMulti(bytes)
        (id, chunkNo.toLong, page.toLong, isImage,
          uri.startsWith("data:image/"), img.getWidth.toLong,
          mv.length.toLong, mv.head.length.toLong)
    }.toDF("doc_id", "chunk_number", "page_index", "is_image", "mime_ok",
      "width", "n_vecs", "dim")
      .orderBy("doc_id", "page_index")
  }

  /** [[graft.operators.MarkdownTables.extract]] over PLANTED markdown
    * (t18/t37 convention — structure from pure integer functions of
    * (doc_id, position), constructed identically in both engines' heads):
    * each ≥9-token doc renders prose + a 3-col pipe table (1 + doc_id%3
    * data rows) + every-4th doc a second 2×2 table + every-3rd doc a
    * single-line pipe TRAP with no separator (must parse as prose — the
    * naive line-filter failure) + every-5th doc an escaped `\|` inside a
    * cell (must round-trip to a literal pipe). The oracle never parses:
    * it derives the EXPECTED cells straight from the planting rule, so
    * extract(render(cells)) == cells is the gate — block segmentation,
    * separator validation, trap rejection, escape handling and cell
    * arithmetic all value-checked. */
  def mdTablesQ(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.Column
    // rule 7: render+parse is per-row-heavy and map-only — fan out the scan
    val docs = Tables.scaled(Tables.documents(spark, dir))
    val tk = graft.functions.text.tokens(col("text"))
    val base = docs.select(col("doc_id"), tk.as("tk"))
      .withColumn("ntok", size(col("tk"))).where(col("ntok") >= 9)
      .withColumn("nrows", (col("doc_id") % 3 + 1).cast("int"))
    def tkAt(i: Column): Column = element_at(col("tk"), (i + 1).cast("int"))
    def cell1(r: Column, c: Column): Column = {
      val v = tkAt(((r * 3 + c) * 7) % col("ntok"))
      when(r === 1 && c === 1 && col("doc_id") % 5 === 0,
        concat(v, lit("\\|"), element_at(col("tk"), 1))).otherwise(v)
    }
    def cell2(r: Column, c: Column): Column = tkAt(((r * 2 + c) * 5) % col("ntok"))
    def row1(r: Column): Column = concat(lit("| "), cell1(r, lit(0)),
      lit(" | "), cell1(r, lit(1)), lit(" | "), cell1(r, lit(2)), lit(" |"))
    def row2(r: Column): Column = concat(lit("| "), cell2(r, lit(0)),
      lit(" | "), cell2(r, lit(1)), lit(" |"))
    val noLines = array().cast("array<string>")
    val md = concat_ws("\n", concat(
      array(concat(lit("intro "), element_at(col("tk"), 1))),
      when(col("doc_id") % 3 === 0,
        array(lit("| fake | pipe |"),
          concat(lit("mid "), element_at(col("tk"), 2)))).otherwise(noLines),
      array(row1(lit(0)), lit("| --- | --- | --- |")),
      transform(sequence(lit(1), col("nrows")), r => row1(r)),
      array(concat(lit("after "), element_at(col("tk"), 3))),
      when(col("doc_id") % 4 === 0,
        array(row2(lit(0)), lit("| --- | --- |"), row2(lit(1))))
        .otherwise(noLines),
      array(lit("tail"))))
    graft.operators.MarkdownTables.extract(
        base.withColumn("md", md), "doc_id", "md")
      .orderBy("doc_id", "tbl", "row_idx", "col_idx")
  }

  /** C4 oracle-gated: the ingest control-char cleaner over documents whose
    * text is salted with one representative of every class boundary the
    * regex draws — C0 (\\u0001), kept whitespace (\t), DEL, the C1
    * range ends (\\u0080, \\u009F), and \\u000B — so the gate pins the char
    * class, not just "no-op on clean text". Output: per-doc raw/clean
    * lengths plus the cleaned text's md5. */
  def cleanControl(spark: SparkSession, dir: String): DataFrame = {
    val dirty = concat(col("text"), lit("\u0001\t\u007F\u0080\u009F\u000BX"))
    val clean = graft.streaming.IngestPipeline.cleanControlChars(dirty)
    Tables.documents(spark, dir).select(col("doc_id"),
        length(dirty).cast("long").as("len_raw"),
        length(clean).cast("long").as("len_clean"),
        md5(clean).as("clean_md5"))
      .orderBy("doc_id")
  }

  /** S12 oracle-gated: the partitioned index LAYOUT round-trips — write
    * the doc index via [[graft.sources.IndexStore.writePartitioned]]
    * (directory-partitioned on the scope column), then answer a scoped
    * aggregate THROUGH the written layout with a partition filter (the
    * read plans a pruned scan: only the lang=en/de directories are
    * listed). The oracle computes the same aggregate from the source
    * table, so any write-path loss/dup/misroute — a row in the wrong
    * partition directory changes the pruned counts — goes red. The
    * partition column round-trips as a directory name (string), hence the
    * explicit cast back. */
  def indexLayout(spark: SparkSession, dir: String): DataFrame = {
    // unique per invocation: a fixed shared tmp name let two concurrent
    // verify/bench runs on one host interleave overwrite and read-back
    val out = java.nio.file.Files
      .createTempDirectory("graft_p7_index_layout").toString
    graft.sources.IndexStore.writePartitioned(
      Tables.documents(spark, dir).select(
        col("doc_id"), col("source"), col("n_chars"), col("lang")),
      out, "lang")
    spark.read.parquet(out)
      .filter(col("lang").isin("en", "de"))
      .groupBy(col("lang").cast("string").as("lang"))
      .agg(count(lit(1)).as("n_docs"),
        sum("n_chars").cast("long").as("sum_chars"),
        countDistinct("source").cast("long").as("n_sources"))
      .orderBy("lang")
  }

  /** Q8 neighbor padding over the chunk table: literal hits expanded ±1,
    * dedup'd against the hits, padding scored 0.0, reference ordering. */
  def padding(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val chunks = Chunker.fixedChunks(
      Tables.documents(spark, dir).filter(col("doc_id") < 50),
      "doc_id", "text", n = 120, overlap = 20)
    val hits = Seq((3L, 1, 0.9), (7L, 0, 0.8), (7L, 1, 0.7), (11L, 2, 0.6))
      .toDF("doc_id", "chunk_number", "score")
    graft.operators.Padding.expand(hits, chunks, padding = 1,
      docCol = "doc_id", numCol = "chunk_number")
      .select(col("doc_id"), col("chunk_number").cast("long").as("chunk_number"),
        col("score"), col("is_padding"))
  }

  /** Ingest pipeline (fixed chunker + hash embedder, unnormalized so every
    * statistic is exact integer arithmetic in both engines). */
  def ingestStats(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(spark, dir).filter(col("doc_id") < 100)
    val chunks = Chunker.fixedChunks(docs, "doc_id", "text", n = 200, overlap = 40)
    val embedded = HashEmbedder(dim = 64, normalize = false)
      .embed(chunks, "chunk", "embedding")
    embedded.select(
      col("doc_id"), col("chunk_number").cast("long").as("chunk_number"),
      length(col("chunk")).cast("long").as("chunk_len"),
      aggregate(col("embedding"), lit(0L), (acc, x) => acc + x.cast("long")).as("emb_sum"),
      aggregate(col("embedding"), lit(0L), (acc, x) => acc + (x * x).cast("long")).as("emb_sq"))
      .orderBy("doc_id", "chunk_number")
  }

  /** S5 end-to-end: each document's first six words become a real XLSX
    * (zip + OOXML worksheet), parsed back to markdown by the native
    * parser. The oracle reconstructs the exact expected markdown string in
    * SQL — the md5 gate means any byte drift through the zip/XML round
    * trip fails. */
  def officeIngest(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val docs = Tables.documents(spark, dir).filter(col("doc_id") < 100)
      .select(col("doc_id"), col("text"))
    val withBytes = docs.as[(Long, String)].map { case (id, text) =>
      val ws = text.split(" ")
      (id, "doc.xlsx", graft.sources.OfficeFixtures.xlsx(Seq(
        "Sheet1" -> Seq(Seq(ws(0), ws(1)), Seq(ws(2), ws(3)), Seq(ws(4), ws(5))))))
    }.toDF("doc_id", "filename", "bytes")
    graft.operators.DocParser.parseColumnWithFallback(withBytes, "filename", "bytes", "parsed")
      .select(col("doc_id"), md5(col("parsed")).as("md_md5"),
        length(col("parsed")).cast("long").as("md_len"))
      .orderBy("doc_id")
  }

  /** S4 end-to-end: two 40-char lines of each document become a real
    * one-page PDF — Flate-compressed for even ids, raw for odd, so BOTH
    * stream paths are oracle-gated — and the extracted text is md5-checked
    * against the SQL-reconstructed expectation. */
  def pdfIngest(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val docs = Tables.documents(spark, dir).filter(col("doc_id") < 100)
      .select(col("doc_id"), col("text"))
    val withBytes = docs.as[(Long, String)].map { case (id, text) =>
      val l1 = text.substring(0, math.min(40, text.length))
      val l2 = if (text.length > 40) text.substring(40, math.min(80, text.length)) else ""
      (id, "doc.pdf", graft.sources.OfficeFixtures.pdf(Seq(l1, l2), compress = id % 2 == 0))
    }.toDF("doc_id", "filename", "bytes")
    graft.operators.DocParser.parseColumnWithFallback(withBytes, "filename", "bytes", "parsed")
      .select(col("doc_id"), md5(col("parsed")).as("txt_md5"),
        length(col("parsed")).cast("long").as("txt_len"))
      .orderBy("doc_id")
  }

  /** S10's page == row shape on REAL containers: each document becomes a
    * two-page PDF, `DocParser.parsePdfPages` walks the object graph
    * (catalog → pages → per-page /Contents) and the page texts explode to
    * rows, md5-gated per page. */
  def pdfPages(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val docs = Tables.documents(spark, dir).filter(col("doc_id") < 100)
      .select(col("doc_id"), col("text"))
    val exploded = docs.as[(Long, String)].flatMap { case (id, text) =>
      val l1 = text.substring(0, math.min(40, text.length))
      val l2 = if (text.length > 40) text.substring(40, math.min(80, text.length)) else ""
      val bytes = graft.sources.OfficeFixtures.pdfPages(
        Seq(Seq(l1), Seq(l2)), compress = id % 2 == 0)
      graft.operators.DocParser.parsePdfPages(bytes).zipWithIndex.map {
        case (t, i) => (id, i.toLong, t)
      }
    }.toDF("doc_id", "page_number", "page_text")
    exploded.select(col("doc_id"), col("page_number"),
      md5(col("page_text")).as("page_md5"),
      length(col("page_text")).cast("long").as("page_len"))
      .orderBy("doc_id", "page_number")
  }

  /** The deep-parse fallback ladder (`ingestion_worker.py:777-905`) with
    * every rung planted by doc_id % 4: 0 → a real PDF (native parse wins);
    * 1 → printable bytes under a .pdf name (native parse empty → text
    * fallback recovers); 2 → binary junk with an embedded ASCII run (text
    * gate refuses, the strings-scan deep stage recovers →
    * `deep_fallback_succeeded`); 3 → pure binary junk (all rungs fail →
    * accept-but-mark `no_content_extracted` + warning). Texts, statuses,
    * and warnings are all arithmetic facts of doc_id the oracle
    * reproduces. */
  def parseLadder(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val docs = Tables.documents(spark, dir).filter(col("doc_id") < 200)
      .select(col("doc_id"), col("text")).as[(Long, String)]
    val withBytes = docs.map { case (id, text) =>
      val bytes: Array[Byte] = (id % 4) match {
        case 0 => graft.sources.OfficeFixtures.pdf(
          Seq(text.substring(0, math.min(40, text.length))), compress = false)
        case 1 => ("FALLBACK " + text.substring(0, math.min(30, text.length)))
          .getBytes("UTF-8")
        case 2 => Array[Byte](-1, 0, -1, 0) ++
          s"DEEPRECOVERED$id".getBytes("US-ASCII") ++ Array[Byte](0, -1)
        case _ => Array.tabulate[Byte](16)(i => if (i % 2 == 0) -1 else 0)
      }
      (id, "doc.pdf", bytes)
    }.toDF("doc_id", "filename", "bytes")
    graft.operators.DocParser.parseColumnWithFallback(
      withBytes, "filename", "bytes", "parsed",
      deep = graft.operators.DocParser.StringsDeepStage(4))
      .select(col("doc_id"), col("parse_path"), col("extraction_status"),
        col("extraction_warning").isNotNull.as("has_warning"),
        md5(col("parsed")).as("text_md5"),
        length(col("parsed")).cast("long").as("text_len"))
      .orderBy("doc_id")
  }

  /** C6 base64/data-URI codecs (`fast_ops.py:48-97` bytes_to_data_uri):
    * encode each document as a data URI with Spark built-ins and prove the
    * decode round trip — both directions oracle-gated. */
  def dataUri(spark: SparkSession, dir: String): DataFrame =
    Tables.documents(spark, dir)
      // Spark's base64 is MIME-wrapped (CRLF per 76 chars); a data URI
      // wants the canonical unwrapped RFC 4648 form
      .withColumn("uri", concat(lit("data:text/plain;base64,"),
        regexp_replace(base64(encode(col("text"), "UTF-8")), "[\\r\\n]", "")))
      .select(col("doc_id"), md5(col("uri")).as("uri_md5"),
        length(col("uri")).cast("long").as("uri_len"),
        (decode(unbase64(regexp_replace(col("uri"), "^data:[^,]*,", "")), "UTF-8")
          === col("text")).as("roundtrip"))
      .orderBy("doc_id")

  /** Multimodal decode + resize planning over synthesized media (bytes =
    * utf8 text; kind round-robins image/audio/video). The stub codec is
    * md5-derived, so even this stage has a full oracle. */
  def media(spark: SparkSession, dir: String): DataFrame =
    Tables.documents(spark, dir).select(
      col("doc_id").as("media_id"), col("doc_id"),
      element_at(array(lit("image"), lit("audio"), lit("video")),
        (col("doc_id") % 3 + 1).cast("int")).as("kind"),
      encode(col("text"), "UTF-8").as("bytes"),
      map(lit("source"), col("source")).as("meta"))

  def mediaDecode(spark: SparkSession, dir: String): DataFrame =
    Multimodal.resizePlan(Multimodal.decode(media(spark, dir)))
      .select(col("media_id"), col("kind"), col("width"), col("height"),
        col("duration_sec"), col("target_width"), col("target_height"))
      .orderBy("media_id")

  def frameSample(spark: SparkSession, dir: String): DataFrame =
    Multimodal.sampleFrames(Multimodal.decode(media(spark, dir)), stepSec = 30)
      .select(col("media_id"), col("frame_number"), col("ts"))
      .orderBy("media_id", "frame_number")

  /** S10's blank-page gate (`_is_blank_image_bytes`,
    * `ingestion_service.py:1396-1414`) on REAL rendered bytes: each doc
    * becomes a tiny PNG checkerboard of luma g = doc_id % 200 and
    * g + (doc_id % 5), so the grayscale extrema spread IS doc_id % 5 and
    * "blank" (spread ≤ 2) is an arithmetic fact the oracle reproduces.
    * doc_id % 7 == 0 plants empty bytes (→ blank) and % 7 == 1 plants
    * undecodable bytes (→ kept: the reference refuses to drop a page it
    * could not inspect) — all three reference branches value-checked
    * through real PNG encode/decode. */
  def blankPages(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val docs = Tables.documents(spark, dir).filter(col("doc_id") < 200)
      .select(col("doc_id")).as[Long]
    val withBytes = docs.map { id =>
      val bytes: Array[Byte] =
        if (id % 7 == 0) Array.emptyByteArray
        else if (id % 7 == 1) Array.fill[Byte](16)(0x2a)
        else {
          val g = (id % 200).toInt
          val s = (id % 5).toInt
          val img = new java.awt.image.BufferedImage(
            8, 8, java.awt.image.BufferedImage.TYPE_INT_RGB)
          var y = 0
          while (y < 8) {
            var x = 0
            while (x < 8) {
              val v = if ((x + y) % 2 == 0) g else g + s
              img.setRGB(x, y, (v << 16) | (v << 8) | v)
              x += 1
            }
            y += 1
          }
          val bos = new java.io.ByteArrayOutputStream()
          javax.imageio.ImageIO.write(img, "png", bos)
          bos.toByteArray
        }
      (id, bytes)
    }.toDF("doc_id", "page_png")
    graft.operators.ImageCodec.flagBlankColumn(withBytes, "page_png")
      .select(col("doc_id"), col("is_blank"))
      .orderBy("doc_id")
  }

  /** Q6: KNN oversample (k=5 -> 15 candidates) then cross-encoder-shaped
    * rerank (deterministic token-overlap stand-in). */
  def rerank(spark: SparkSession, dir: String): DataFrame = {
    val q = VectorQueries.queryVec(spark, dir)
    val hits = KnnSearch.topK(Tables.embeddings(spark, dir), "embedding", "vec_id",
      q, Serving.oversample(5), where = col("vec_id") =!= 0)
    val withText = hits.join(Tables.documents(spark, dir),
      hits("vec_id") === col("doc_id"))
    ModelRerank.rerank(withText, "doc_id", "text", RerankQuery, 5, TokenOverlapModel())
      .select(col("doc_id"), col("rerank_score"))
  }

  /** R1 context assembly: ranked hits join their chunk text and collapse
    * into the completion prompt context in (score desc, doc, chunk) order
    * — md5-gated so the exact concatenation order is value-checked. */
  def contextAssembly(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val chunks = Chunker.fixedChunks(
      Tables.documents(spark, dir).filter(col("doc_id") < 50),
      "doc_id", "text", n = 120, overlap = 20)
    val hits = Seq((3L, 1, 0.9), (7L, 0, 0.8), (7L, 1, 0.7), (11L, 2, 0.6))
      .toDF("doc_id", "chunk_number", "score")
    val withText = hits.join(chunks, Seq("doc_id", "chunk_number"))
    graft.GraftService.assembleContext(withText, "chunk", "doc_id", "chunk_number")
      .select(md5(col("context")).as("context_md5"), col("n_chunks"))
  }

  /** §3.2 `augmented_content` (`documents.py:113-133`): a video chunk with
    * a timestamp pulls the nearest frame description AND transcript via
    * at_time (= as-of nearest, ties to earlier) and renders the exact
    * reference format string. Frame/transcript series are synthesized from
    * the same md5-deterministic durations as m2, so the whole composition
    * — two as-of joins plus formatting — is value-checked. */
  /** S8's audio half through the REAL seat plumbing: the video slice of the
    * media fixture (raw binary column) runs through
    * [[Transcriber.transcriptChunks]]'s mapPartitions with the
    * deterministic [[HashTranscriber]] stand-in — the same
    * bytes→seat→rows path [[HttpTranscriber]] takes in production, every
    * emitted utterance replayable by the DuckDB oracle. */
  def transcript(spark: SparkSession, dir: String): DataFrame =
    Transcriber.transcriptChunks(
      media(spark, dir).filter(col("kind") === "video"),
      "media_id", "bytes", HashTranscriber(segmentSec = 20))
      .select(col("media_id"), col("seg_number").cast("long").as("seg_number"),
        col("ts"), col("text"))
      .orderBy("media_id", "seg_number")

  /** Image near-dup dedup (LAION-style) on REAL pixels: each doc < 200
    * becomes a 9×8 grayscale STAIRCASE PNG that encodes a known 60-bit
    * pattern in its horizontal brightness comparisons — row y starts at
    * luma 128 and steps ±10 per cell according to bit (y·8+x) of
    *   H(doc) = base(doc % 5) XOR (doc % 7 == 0 ? 1 << (doc % 60) : 0),
    *   base(g) = first 15 md5 hex chars of "g:<g>" (60 bits, positive),
    * so ImageIO decode → integer-luma dHash recovers H EXACTLY (9×8 input
    * = identity downsample; r=g=b=v makes the 601-2 luma v itself) and the
    * oracle replays the whole pass — hashes, pigeonhole blocking, XOR
    * popcount — in integer SQL. Within a group pairs sit at Hamming 0/1/2
    * (flip-vs-base/flip-vs-flip); across groups md5-random bases stay far
    * apart. The pixel path (encode→decode→downsample→compare) is the same
    * code real scanned images take. */
  def imageNearDups(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val docs = Tables.documents(spark, dir).filter(col("doc_id") < 200)
      .select(col("doc_id")).as[Long]
    val withBytes = docs.map(id => (id, staircasePng(id))).toDF("doc_id", "bytes")
    Multimodal.imageNearDups(withBytes, "doc_id", "bytes", maxHamming = 3)
      .orderBy("id_a", "id_b")
  }

  /** The image-dedup KEEP LIST — m5's pair view taken to its curation
    * decision (the LAION pass: one keeper per perceptual-hash cluster):
    * dHash near-dup pairs → size-adaptive connected components → min-id
    * keeper, singletons keeping themselves. Output (id, keep_id,
    * is_dup) for EVERY image — the t9/t23 keep-list shape for the image
    * modality; keep = rows where id == keep_id. */
  def imageKeepList(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val docs = Tables.documents(spark, dir).filter(col("doc_id") < 200)
      .select(col("doc_id")).as[Long]
    val withBytes = docs.map(id => (id, staircasePng(id))).toDF("doc_id", "bytes")
    val comp = graft.operators.Dedup.connectedComponents(
      Multimodal.imageNearDups(withBytes, "doc_id", "bytes", maxHamming = 3))
    withBytes.select(col("doc_id").cast("long").as("id"))
      .join(comp, Seq("id"), "left")
      .select(col("id"),
        coalesce(col("component"), col("id")).as("keep_id"))
      .withColumn("is_dup", col("keep_id") =!= col("id"))
      .orderBy("id")
  }

  /** Scene-cut detection over synthesized frame timelines: video = doc <
    * 120, frames at ts = 2f for f in 0..(doc%6+3); a new SCENE starts at
    * every frame f ≥ 1 with (doc+f) % 3 == 0, and each frame renders the
    * staircase of md5("v:doc:scene") — so within-scene transitions hash
    * identically (hamming 0) and cross-scene ones re-randomize the 60-bit
    * hash (≫ the 10-bit threshold). The oracle replays hash, lag, and
    * popcount; SceneCutsSpec proves cuts land exactly on the scene
    * boundaries and undecodable frames stay on the timeline uncut. */
  def sceneCutsQ(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val docs = Tables.documents(spark, dir).filter(col("doc_id") < 120)
      .select(col("doc_id")).as[Long]
    val frames = docs.flatMap { id =>
      val n = (id % 6 + 3).toInt
      var scene = 0L
      (0 to n).map { f =>
        if (f >= 1 && (id + f) % 3 == 0) scene += 1
        (id, f * 2L, staircaseFromHash(md5Hash60(s"v:$id:$scene")))
      }
    }.toDF("video_id", "ts", "bytes")
    Multimodal.sceneCuts(frames, "video_id", "ts", "bytes", maxHamming = 10)
      .orderBy("video_id", "ts")
  }

  /** The GROWING-timeline arm of m8 (the gr1→gr2 pattern): EVERY document
    * row becomes a video — the timeline scales with the corpus where m8's
    * fixture pins a fixed 120-video budget — so the x64 probe measures the
    * windowed-exchange growth law itself, not constant-work stability.
    * Identical synthesis and operator; the gate row is a per-video rollup
    * (frames, cuts, hamming mass) so the registered output stays one row
    * per video. Plan: the same map-only decode + one (video,ts) window,
    * plus one map-side-combined rollup on the already-exchanged key. */
  def sceneCutsDense(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val docs = graft.Tables.scaled(
      Tables.documents(spark, dir).select(col("doc_id"))).as[Long]
    val frames = docs.flatMap { id =>
      val n = (id % 6 + 3).toInt
      var scene = 0L
      (0 to n).map { f =>
        if (f >= 1 && (id + f) % 3 == 0) scene += 1
        (id, f * 2L, staircaseFromHash(md5Hash60(s"v:$id:$scene")))
      }
    }.toDF("video_id", "ts", "bytes")
    Multimodal.sceneCuts(frames, "video_id", "ts", "bytes", maxHamming = 10)
      .groupBy("video_id")
      .agg(count(lit(1)).as("n_frames"),
        sum(when(col("is_cut"), 1L).otherwise(0L)).as("n_cuts"),
        sum(coalesce(col("hamming"), lit(0L))).as("hamming_sum"))
      .orderBy("video_id")
  }

  /** VLM caption↔frame PAIR CONSTRUCTION — the training-tuple join a
    * video-language pipeline runs after m2/m4/m8 have done their jobs:
    * each transcript utterance pairs with the nearest sampled frame
    * AT-OR-BEFORE its timestamp (the as-of discipline: a caption
    * describes what is ON SCREEN — the last rendered frame, never a
    * future one). Frames are the m8 scene-hash staircases at a 30 s
    * cadence, REALLY decoded (pixels → dHash) before the join;
    * utterances are the m4 deterministic transcriber segments at 20 s,
    * so the two timelines interleave and the bracketing is exercised,
    * not degenerate. One [[graft.operators.AsOfJoin.backward]] = one
    * keyed shuffle; decode stays map-only before it. */
  def captionFrames(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val vids = Tables.documents(spark, dir)
      .filter(col("doc_id") % 3 === 2 && col("doc_id") < 120)
      .select(col("doc_id")).as[Long]
    val frames = vids.flatMap { id =>
      val n = (id % 6 + 3).toInt
      var scene = 0L
      (0 to n).map { f =>
        if (f >= 1 && (id + f) % 3 == 0) scene += 1
        (id, f * 30L, staircaseFromHash(md5Hash60(s"v:$id:$scene")))
      }
    }.toDF("video_id", "ts", "bytes")
    val hashed = frames.as[(Long, Long, Array[Byte])]
      .map { case (v, ts, b) =>
        (v, ts.toDouble, graft.operators.ImageCodec.dHash(b).getOrElse(-1L))
      }.toDF("video_id", "ts", "frame_hash")
    val utter = Transcriber.transcriptChunks(
      media(spark, dir).filter(col("kind") === "video" && col("media_id") < 120),
      "media_id", "bytes", HashTranscriber(segmentSec = 20))
      .select(col("media_id").as("video_id"),
        col("seg_number").cast("long").as("seg_number"), col("ts"), col("text"))
    graft.operators.AsOfJoin.backward(utter, hashed, "video_id", "ts",
        Seq("frame_hash"))
      .select(col("video_id"), col("seg_number"), col("ts"), col("text"),
        col("asof_ts").as("frame_ts"),
        col("asof_frame_hash").as("frame_hash"))
      .orderBy("video_id", "seg_number")
  }

  /** [[graft.operators.Multimodal.videoNearDups]] over synthesized
    * re-upload triples (every rule named): videos = doc_id < 180 in
    * groups g = id div 3 of three uploads each, g%4+4 frames at ts = f;
    * frame hashes h(f) = md5₆₀("vg:g:f") perturbed per upload slot —
    * slot 0 exact, slot 1 flips ONE bit per frame (a re-encode's
    * jitter: per-frame Hamming 1 → MATCHES), slot 2 flips the SAME ten
    * bits of block 3 in every frame (blocks 0–2 still agree at every
    * rank, so it IS a candidate, but per-frame Hamming 10 ≫ 3 → is_dup
    * false — the planted candidate-audit negative). Every group emits
    * its (0,1) dup pair and two audited non-dup candidates; chance
    * 16-bit collisions across groups add deterministic extras the
    * oracle replays identically. */
  def videoNearDupsQ(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val vids = Tables.documents(spark, dir).filter(col("doc_id") < 180)
      .select(col("doc_id")).as[Long]
    val frames = vids.flatMap { id =>
      val g = id / 3
      val n = (g % 4 + 4).toInt
      (0 until n).map { f =>
        val base = md5Hash60(s"vg:$g:$f")
        val h = (id % 3) match {
          case 0 => base
          case 1 => base ^ (1L << (f % 60).toInt)
          case _ => base ^ (1023L << 48)
        }
        (id, f.toLong, staircaseFromHash(h))
      }
    }.toDF("video_id", "ts", "bytes")
    Multimodal.videoNearDups(frames, "video_id", "ts", "bytes",
        maxHamming = 3, minMatchPpm = 800000L)
      .orderBy("video_a", "video_b")
  }

  /** [[graft.operators.AudioCodec.audioNearDups]] over synthesized
    * re-upload triples (every rule named, the m14 convention): clips =
    * doc_id < 180 minus the %11 junk tier (format-gated on both sides),
    * groups g = id div 3; per-group duration class S = 32·(g%3+1)
    * samples per sub-window × 61 windows (8 kHz mono 16-bit). Window k's
    * amplitude is 1000 + 500·bit_k of the group's 60-bit md5 word
    * (window 60 fixed at 1000), square-wave ±A alternating every 4
    * samples so mean-abs = A EXACTLY and the whole envelope — hence the
    * whole fingerprint — is analytic (the m6 rule: DuckDB cannot parse
    * WAV and doesn't need to, the fixture IS the specification).
    * Upload slots: 0 = exact, 1 = ONE amplitude bit flipped (g%60 —
    * perturbs ≤ 2 delta bits: a re-encode's jitter → MATCHES), 2 = a
    * different md5 word entirely (envelope uncorrelated, expected
    * Hamming ≫ 3 → never a dup; chance block collisions surface as
    * audited high-Hamming candidates the filter drops on both sides). */
  def audioNearDupsQ(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val clips = Tables.documents(spark, dir).filter(col("doc_id") < 180)
      .select(col("doc_id")).as[Long]
      .map(id => (id, envelopeWav(id))).toDF("clip_id", "bytes")
    graft.operators.AudioCodec
      .audioNearDups(clips, "clip_id", "bytes", windows = 61, maxHamming = 3)
      .orderBy("id_a", "id_b")
  }

  /** The m15 fixture WAV: 61 sub-windows of S = 32·(g%3+1) samples, the
    * per-window square wave described on [[audioNearDupsQ]]. */
  private def envelopeWav(id: Long): Array[Byte] =
    if (id % 11 == 0) s"junk-not-a-wav-$id".getBytes("UTF-8")
    else {
      val g = id / 3
      val sWin = 32 * ((g % 3).toInt + 1)
      val bits = (id % 3) match {
        case 0 => md5Hash60(s"ag:$g")
        case 1 => md5Hash60(s"ag:$g") ^ (1L << (g % 60).toInt)
        case _ => md5Hash60(s"agx:$g")
      }
      val n = 61 * sWin
      val dataLen = n * 2
      val bb = java.nio.ByteBuffer.allocate(44 + dataLen)
        .order(java.nio.ByteOrder.LITTLE_ENDIAN)
      bb.putInt(0x46464952); bb.putInt(36 + dataLen); bb.putInt(0x45564157)
      bb.putInt(0x20746d66); bb.putInt(16)
      bb.putShort(1); bb.putShort(1)
      bb.putInt(8000); bb.putInt(16000)
      bb.putShort(2); bb.putShort(16)
      bb.putInt(0x61746164); bb.putInt(dataLen)
      var s = 0
      while (s < n) {
        val k = s / sWin
        val amp = 1000 + (if (k <= 59 && ((bits >> k) & 1L) == 1L) 500 else 0)
        bb.putShort((if ((s / 4) % 2 == 0) amp else -amp).toShort)
        s += 1
      }
      bb.array()
    }

  /** The m5 fixture: a 9x8 staircase PNG whose dHash is
    * `base(id % 5) XOR (id % 7 == 0 ? 1 << (id % 60) : 0)` — see
    * [[imageNearDups]]'s scaladoc for the construction contract. */
  private def staircasePng(id: Long): Array[Byte] = {
    val g = id % 5
    val base = md5Hash60(s"g:$g")
    staircaseFromHash(if (id % 7 == 0) base ^ (1L << (id % 60).toInt) else base)
  }

  /** First 15 hex digits of md5(key) as a 60-bit long — the oracle's
    * `('0x' || substr(md5(key), 1, 15))::BIGINT`. */
  private def md5Hash60(key: String): Long =
    java.lang.Long.parseLong(
      java.security.MessageDigest.getInstance("MD5")
        .digest(key.getBytes("UTF-8")).map(b => f"$b%02x").mkString
        .substring(0, 15), 16)

  /** Render a 9x8 staircase PNG whose [[graft.operators.ImageCodec.dHash]]
    * is exactly `h` (bit y·8+x = right-pixel > left-pixel). */
  private def staircaseFromHash(h: Long): Array[Byte] = {
    val img = new java.awt.image.BufferedImage(
      9, 8, java.awt.image.BufferedImage.TYPE_INT_RGB)
    var y = 0
    while (y < 8) {
      var v = 128
      img.setRGB(0, y, (v << 16) | (v << 8) | v)
      var x = 0
      while (x < 8) {
        v += (if (((h >> (y * 8 + x)) & 1L) == 1L) 10 else -10)
        img.setRGB(x + 1, y, (v << 16) | (v << 8) | v)
        x += 1
      }
      y += 1
    }
    val out = new java.io.ByteArrayOutputStream()
    javax.imageio.ImageIO.write(img, "png", out)
    out.toByteArray
  }

  /** Audio silence-gate curation on REAL RIFF/WAVE bytes: each doc < 200
    * (except % 11 == 0, which plants non-WAV junk → format-gated, zero
    * rows) becomes a genuine PCM WAV — 8 kHz mono 16-bit, (doc%3)+1
    * seconds, a ±(doc%50)·40 square wave on even seconds and digital
    * silence on odd ones — parsed by the fixed-offset RIFF walk and
    * windowed into integer mean-absolute-amplitude rows. Every emitted
    * value is exact integer arithmetic (|±A| = A), so the oracle replays
    * the whole pass; the silence flag is the m3 blank-gate analog for the
    * audio modality (don't transcribe/embed windows of nothing). */
  def audioActivity(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val docs = Tables.documents(spark, dir).filter(col("doc_id") < 200)
      .select(col("doc_id")).as[Long]
    val withBytes = docs.map(id => (id, squareWav(id))).toDF("doc_id", "bytes")
    graft.operators.AudioCodec
      .activityWindows(withBytes, "doc_id", "bytes",
        windowSec = 1.0, silenceThreshold = 100L)
      // `window` is a reserved word in DuckDB and the driver's compare
      // interpolates column names unquoted — alias it out of the registry
      // surface
      .select(col("id"), col("window").as("win"), col("mean_abs"),
        col("is_silence"))
      .orderBy("id", "win")
  }

  /** The m6 fixture: a real RIFF/WAVE — 8 kHz mono 16-bit, (id%3)+1
    * seconds, ±(id%50)·40 square wave on even seconds, digital silence on
    * odd ones; id % 11 == 0 plants non-WAV junk (format-gated). */
  private def squareWav(id: Long): Array[Byte] =
    if (id % 11 == 0) s"junk-not-a-wav-$id".getBytes("UTF-8")
    else {
      val rate = 8000
      val nSec = (id % 3).toInt + 1
      val amp = ((id % 50) * 40).toInt
      val n = rate * nSec
      val dataLen = n * 2
      val bb = java.nio.ByteBuffer.allocate(44 + dataLen)
        .order(java.nio.ByteOrder.LITTLE_ENDIAN)
      bb.putInt(0x46464952); bb.putInt(36 + dataLen); bb.putInt(0x45564157)
      bb.putInt(0x20746d66); bb.putInt(16)
      bb.putShort(1); bb.putShort(1)         // PCM, mono
      bb.putInt(rate); bb.putInt(rate * 2)   // byte rate
      bb.putShort(2); bb.putShort(16)        // block align, bits
      bb.putInt(0x61746164); bb.putInt(dataLen)
      var s = 0
      while (s < n) {
        val a = if ((s / rate) % 2 == 1) 0 else amp
        bb.putShort((if ((s / 4) % 2 == 0) a else -a).toShort)
        s += 1
      }
      bb.array()
    }

  /** [[graft.operators.AudioCodec.clipLoudness]] over the m6 WAV shape
    * with a HOT amplitude rule (amp = min((id%50)·800, 32767) — the
    * named rule: the ×20 tier drives ids with id%50 ≥ 41 into digital
    * full scale): targetRms 12000 populates every path at sf0.01 —
    * silent (amp 0), clipped (full-scale tier), ok, capped gain (the
    * low-RMS 1-active-of-3-seconds clips want ×26, the 20000-milli cap
    * holds them), uncapped gain. The oracle computes every statistic
    * analytically from the wave rule (the m6 convention — DuckDB
    * cannot parse WAV, and doesn't need to: the fixture IS the
    * specification). */
  def loudnessQ(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val docs = Tables.documents(spark, dir).filter(col("doc_id") < 200)
      .select(col("doc_id")).as[Long]
    val withBytes = docs.map(id => (id, loudWav(id))).toDF("doc_id", "bytes")
    graft.operators.AudioCodec
      .clipLoudness(withBytes, "doc_id", "bytes", targetRms = 12000L)
      .orderBy("id")
  }

  /** [[graft.operators.Multimodal.imageEntropy]] over REAL 16×16 PNGs
    * whose gray levels follow the named rule luma(x,y) = ((x + 16y +
    * id) % L)·(256/L) with L ∈ {1, 4, 16, 256} by id%4 — L divides 256,
    * so every level appears exactly 256/L times and the histogram (and
    * therefore the entire ln fold) is ANALYTIC: entropy = ln(L) nats
    * exactly, spanning flat-fill 0 through two-tone-ish 1.39 (both
    * low_info) to 2.77 and the full-range 5.55 (both pass) — every
    * verdict path populated across the ladder, the real decode + ITU-R
    * luma on the Spark side, the m6/m12 fixture-is-the-specification
    * oracle convention underneath (incl. the %11 junk plants). */
  def imageEntropyQ(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val docs = Tables.documents(spark, dir).filter(col("doc_id") < 200)
      .select(col("doc_id")).as[Long]
    val imgs = docs.map(id => (id, levelsPng(id))).toDF("doc_id", "bytes")
    graft.operators.Multimodal.imageEntropy(imgs, "doc_id", "bytes")
      .orderBy("id")
  }

  /** The m13 fixture: real PNG, gray pixels on the L-level rule. */
  private def levelsPng(id: Long): Array[Byte] =
    if (id % 11 == 0) s"junk-not-an-image-$id".getBytes("UTF-8")
    else {
      val levels = Seq(1, 4, 16, 256)((id % 4).toInt)
      val step = 256 / levels
      val img = new java.awt.image.BufferedImage(
        16, 16, java.awt.image.BufferedImage.TYPE_INT_RGB)
      var y = 0
      while (y < 16) {
        var x = 0
        while (x < 16) {
          val v = (((x + 16 * y + id) % levels) * step).toInt
          img.setRGB(x, y, (v << 16) | (v << 8) | v)
          x += 1
        }
        y += 1
      }
      val bos = new java.io.ByteArrayOutputStream()
      javax.imageio.ImageIO.write(img, "png", bos)
      bos.toByteArray
    }

  /** The m12 fixture: squareWav's container with the hot amplitude rule
    * (and the same %11 junk plants format-gated out). */
  private def loudWav(id: Long): Array[Byte] =
    if (id % 11 == 0) s"junk-not-a-wav-$id".getBytes("UTF-8")
    else {
      val rate = 8000
      val nSec = (id % 3).toInt + 1
      val amp = math.min((id % 50) * 800, 32767L).toInt
      val n = rate * nSec
      val dataLen = n * 2
      val bb = java.nio.ByteBuffer.allocate(44 + dataLen)
        .order(java.nio.ByteOrder.LITTLE_ENDIAN)
      bb.putInt(0x46464952); bb.putInt(36 + dataLen); bb.putInt(0x45564157)
      bb.putInt(0x20746d66); bb.putInt(16)
      bb.putShort(1); bb.putShort(1)
      bb.putInt(rate); bb.putInt(rate * 2)
      bb.putShort(2); bb.putShort(16)
      bb.putInt(0x61746164); bb.putInt(dataLen)
      var s = 0
      while (s < n) {
        val a = if ((s / rate) % 2 == 1) 0 else amp
        bb.putShort((if ((s / 4) % 2 == 0) a else -a).toShort)
        s += 1
      }
      bb.array()
    }

  /** The COMPOSED multimodal curation pipeline — t28's role for media: one
    * dataflow routes every media doc through its modality's gate and emits
    * a per-doc keep/drop verdict with the reason.
    *  - images (doc%3==0): [[Multimodal.imageNearDups]] keep-list — a doc
    *    near-dup-matched (Hamming ≤ 3) to any SMALLER id is dropped
    *    (`image_near_dup`), the deterministic min-id keep rule;
    *  - audio (doc%3==1): real WAV parse + [[AudioCodec.activityWindows]] —
    *    unparseable bytes drop (`unparseable`); docs whose non-silent
    *    window fraction < 1/2 drop (`mostly_silent`);
    *  - video (doc%3==2): [[Transcriber.transcriptChunks]] utterance
    *    coverage — fewer than 10 utterances drops (`sparse_transcript`).
    * Every arm is the REAL operator over real container bytes; the whole
    * composition replays in the oracle (pairs/silence/utterance arithmetic
    * are the m4/m5/m6 constructions). */
  def multimodalCuration(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val docs = Tables.documents(spark, dir).filter(col("doc_id") < 200)
      .select(col("doc_id"), col("text"))
    val ids = docs.select("doc_id").as[Long]

    // image arm
    val imgs = ids.filter(_ % 3 == 0).map(id => (id, staircasePng(id)))
      .toDF("doc_id", "bytes")
    val imgDropped = Multimodal.imageNearDups(imgs, "doc_id", "bytes")
      .select(col("id_b").as("doc_id")).distinct()
      .withColumn("reason", lit("image_near_dup"))

    // audio arm
    val auds = ids.filter(_ % 3 == 1).map(id => (id, squareWav(id)))
      .toDF("doc_id", "bytes")
    val audWindows = graft.operators.AudioCodec
      .activityWindows(auds, "doc_id", "bytes",
        windowSec = 1.0, silenceThreshold = 100L)
    val audParsed = audWindows.groupBy(col("id").as("doc_id"))
      .agg(count(lit(1)).as("n_w"),
        sum(when(col("is_silence"), 0L).otherwise(1L)).as("n_loud"))
    val audDropped = auds.select("doc_id")
      .join(audParsed, Seq("doc_id"), "left")
      .filter(col("n_w").isNull || col("n_loud") * 2 < col("n_w"))
      .select(col("doc_id"),
        when(col("n_w").isNull, "unparseable")
          .otherwise("mostly_silent").as("reason"))

    // video arm
    val vids = docs.filter(col("doc_id") % 3 === 2)
      .select(col("doc_id").as("media_id"),
        encode(col("text"), "UTF-8").as("bytes"))
    val vidDropped = Transcriber
      .transcriptChunks(vids, "media_id", "bytes", HashTranscriber(20))
      .groupBy(col("media_id").as("doc_id"))
      .agg(count(lit(1)).as("n_utt"))
      .filter(col("n_utt") < 10)
      .select(col("doc_id"), lit("sparse_transcript").as("reason"))

    val dropped = imgDropped.unionByName(audDropped).unionByName(vidDropped)
    docs.select(col("doc_id"),
        element_at(array(lit("image"), lit("audio"), lit("video")),
          (col("doc_id") % 3 + 1).cast("int")).as("kind"))
      .join(dropped, Seq("doc_id"), "left")
      .select(col("doc_id"), col("kind"),
        col("reason").isNull.as("survived"),
        coalesce(col("reason"), lit("kept")).as("reason"))
      .orderBy("doc_id")
  }

  def augmentedContent(spark: SparkSession, dir: String): DataFrame = {
    import graft.operators.{AsOfJoin, Multimodal}
    val decoded = Multimodal.decode(media(spark, dir))
    val vids = decoded.filter(col("kind") === "video")
      .select(col("media_id"), col("duration_sec"))
    val frames = Multimodal.sampleFrames(decoded, stepSec = 30)
      .select(col("media_id"), col("ts").cast("long").as("ts"),
        concat_ws(" ", lit("frame"), col("media_id"), col("frame_number")).as("frame_desc"))
    val speech = vids
      .select(col("media_id"),
        explode(sequence(lit(0L), (col("duration_sec") / 20).cast("long"))).as("sidx"))
      .select(col("media_id"), (col("sidx") * 20).as("ts"),
        concat_ws(" ", lit("speech"), col("media_id"), col("sidx")).as("speech_txt"))
    val hits = vids.select(col("media_id"),
      floor(col("duration_sec") / 2).cast("long").as("ts"))
    val withFrame = AsOfJoin.nearest(hits, frames, "media_id", "ts",
      Seq("frame_desc"), toleranceSec = 1e12)
      .select(col("media_id"), col("ts"), col("near_frame_desc"))
    AsOfJoin.nearest(withFrame, speech, "media_id", "ts",
      Seq("speech_txt"), toleranceSec = 1e12)
      .select(col("media_id"),
        concat(lit("Frame description: "), col("near_frame_desc"),
          lit(" \n \n Transcript: "), col("near_speech_txt")).as("augmented"))
      .orderBy("media_id")
  }

  def batchGet(spark: SparkSession, dir: String): DataFrame = {
    val chunks = Chunker.fixedChunks(
      Tables.documents(spark, dir).filter(col("doc_id") < 50),
      "doc_id", "text", n = 120, overlap = 20)
    Serving.batchGet(chunks,
      Seq((3L, 0), (3L, 1), (7L, 2), (11L, 0), (3L, 0)), // dup key dropped
      "doc_id", "chunk_number")
      .select(col("doc_id"), col("chunk_number").cast("long").as("chunk_number"),
        col("chunk"))
  }

  /** Q12 over synthesized inflected filenames ("<src>_<w1>s_<w2>s_<w3>s_
    * <w4>s_<id>.txt") so stemmed matching is actually load-bearing, with a
    * deterministic updated_at for the rank tiebreak. */
  def filenameSearch(spark: SparkSession, dir: String): DataFrame = {
    val w = split(col("text"), " ")
    val docs = Tables.documents(spark, dir)
      .withColumn("filename", concat(col("source"), lit("_"),
        w.getItem(0), lit("s_"), w.getItem(1), lit("s_"),
        w.getItem(2), lit("s_"), w.getItem(3), lit("s_"),
        col("doc_id"), lit(".txt")))
      .withColumn("updated_at",
        expr("timestamp'2026-01-01 00:00:00' + make_interval(0, 0, 0, cast(doc_id % 7 as int), 0, 0, 0)"))
    Serving.filenameSearch(docs, "filename", "doc_id", NameQuery, limit = 10,
      updatedAtCol = Some("updated_at"))
      .select(col("doc_id"), col("filename"), col("name_rank"))
  }

  /** Incremental RE-EMBED PLANNING — the composed crawl-delta pipeline
    * that makes a 100 TB index affordable to keep fresh (and the reason
    * c4's content-defined chunking exists): snapshot diff (t50) finds the
    * added/changed docs, CDC chunking (c4) re-chunks ONLY those, and a
    * per-doc anti-join against the previous crawl's chunk fingerprints
    * yields exactly the chunks whose embeddings must be computed —
    * boundaries re-synchronize after an edit, so a changed doc re-embeds
    * its edited chunks, not its whole body (~39% of work-doc chunks reuse
    * on this fixture's prepend edit; an added doc embeds everything).
    * Fixture: BEFORE = docs with doc_id % 19 ≠ 3; AFTER = all docs, text
    * prepend-edited when doc_id % 17 = 0.
    *
    * Plan: two fingerprint scans into one full-outer (t50's shape), the
    * CDC kernel map over the ~10% work slice only, one (doc, md5)
    * anti-join of survivor-sized chunk tables, map-side-combined rollups.
    * The work list is stage-cut (three consumers — rule 14). */
  def incrementalReembed(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(spark, dir)
    val before = docs.filter(col("doc_id") % 19 =!= 3)
      .select(col("doc_id"), col("text"))
    val after = docs.select(col("doc_id"),
      when(col("doc_id") % 17 === 0, concat(lit("edited! "), col("text")))
        .otherwise(col("text")).as("text"))
    val work = graft.StageCut(graft.operators.Mutations
      .snapshotDiff(before, after, "doc_id", "text")
      .filter(col("status").isin("added", "changed")), "incrementalReembed.work")
    def chunkSet(df: DataFrame): DataFrame = df
      .select(col("doc_id").cast("long").as("doc_id"),
        explode(graft.functions.CdcExpressions.cdc_chunks(
          col("text"), k = 5, divisor = 64L, maxLen = 192)).as("chunk"))
      .select(col("doc_id"), md5(col("chunk")).as("h")).distinct()
    val wIds = work.select("doc_id")
    val ac = chunkSet(after.join(wIds, "doc_id"))
    val bc = chunkSet(before.join(wIds, "doc_id"))
    val toEmbed = ac.join(bc, Seq("doc_id", "h"), "left_anti")
    ac.groupBy("doc_id").agg(count(lit(1)).as("n_chunks"))
      .join(toEmbed.groupBy("doc_id").agg(count(lit(1)).as("n_embed")),
        Seq("doc_id"), "left")
      .join(work, "doc_id")
      .select(col("doc_id"), col("status"), col("n_chunks"),
        coalesce(col("n_embed"), lit(0L)).as("n_embed"),
        (col("n_chunks") - coalesce(col("n_embed"), lit(0L))).as("n_reused"))
      .orderBy("doc_id")
  }

  /** pg_trgm fuzzy filename lookup over the same synthesized inflected
    * filenames as n1: the query misspells two words ("kye" for "key",
    * "scna" for "scan") so neither the substring nor the FTS arm of Q12
    * could match — trigram similarity is what survives typos. Top-10 by
    * (similarity desc, id); similarity is an exact integer ratio, so the
    * doubles compare identically across engines. */
  def trgmFuzzy(spark: SparkSession, dir: String): DataFrame = {
    val w = split(col("text"), " ")
    val docs = Tables.documents(spark, dir)
      .withColumn("filename", concat(col("source"), lit("_"),
        w.getItem(0), lit("s_"), w.getItem(1), lit("s_"),
        w.getItem(2), lit("s_"), w.getItem(3), lit("s_"),
        col("doc_id"), lit(".txt")))
    Serving.trgmSimilaritySearch(docs, "filename", "doc_id",
        "web_kye_scna_slow_fast.txt", k = 10)
      .select(col("id").as("doc_id"), col("shared"),
        round(col("similarity"), 6).as("similarity"))
  }

  /** S7 XML structural chunker over XML synthesized from the documents
    * table (escaped text split into sections). Fully oracle-gated: on this
    * fixed structure the unit-tag profile deterministically picks `sec`
    * (count 2, shallower than `p`), so chunks reduce to 20-token windows
    * over each section's normalized text — which the oracle reproduces
    * directly. Generic-tree semantics stay golden-tested in
    * XmlChunkerSpec. */
  def xmlChunks(spark: SparkSession, dir: String): DataFrame = {
    val esc = (c: org.apache.spark.sql.Column) =>
      regexp_replace(regexp_replace(regexp_replace(c,
        "&", "&amp;"), "<", "&lt;"), ">", "&gt;")
    val xml = Tables.documents(spark, dir).filter(col("doc_id") < 100)
      .select(col("doc_id"), concat(
        lit("<doc><sec><p>"), esc(substring(col("text"), 1, 150)),
        lit("</p></sec><sec><p>"), esc(substring(col("text"), 151, 100000)),
        lit("</p></sec></doc>")).as("xml"))
    graft.operators.XmlChunker.chunkColumn(xml, "doc_id", "xml", maxTokens = 20)
      .select(col("doc_id"), col("chunk_index").cast("long").as("chunk_index"),
        col("tag"), col("breadcrumbs"), md5(col("content")).as("content_md5"))
      .orderBy("doc_id", "chunk_index")
  }

  /** The c4 CDC-chunk replay as a reusable CTE chain over a (doc_id,
    * text) relation `src`, prefixed `p` — p8 needs it twice (before/
    * after crawls). Ends with `${p}ch` = per-doc DISTINCT chunk md5s. */
  private def cdcChunkCte(src: String, p: String): String =
    s"""${p}c AS (SELECT doc_id, text, len(text)::BIGINT AS n,
       |    list_transform(range(1, len(text)+1), i -> unicode(text[i:i])::BIGINT) AS cs
       |  FROM $src),
       |${p}h AS (SELECT doc_id, text, n,
       |    CASE WHEN n >= 5 THEN list_filter(
       |      list_transform(range(n - 4), i ->
       |        CASE WHEN (cs[i+1]*294499921 + cs[i+2]*2248091 + cs[i+3]*17161
       |                   + cs[i+4]*131 + cs[i+5]) % 2147483647 % 64 = 0
       |             AND i + 5 < n THEN i + 5 END),
       |      x -> x IS NOT NULL)
       |    ELSE []::BIGINT[] END AS cuts
       |  FROM ${p}c),
       |${p}b AS (SELECT doc_id, text, n,
       |    list_prepend(0::BIGINT, list_append(cuts, n)) AS bs
       |  FROM ${p}h),
       |${p}pairs AS (SELECT doc_id, text, n, bs[i+1] AS pp, bs[i+2] AS q
       |          FROM ${p}b, unnest(range(len(bs)-1)) u(i)),
       |${p}st AS (SELECT doc_id, text, n, pp + 192*t AS s
       |       FROM ${p}pairs, unnest(range((q - pp - 1) // 192 + 1)) v(t)),
       |${p}ord AS (SELECT doc_id, text, s,
       |         lead(s, 1, n) OVER (PARTITION BY doc_id ORDER BY s) AS e
       |       FROM ${p}st),
       |${p}ch AS (SELECT DISTINCT doc_id, md5(text[(s+1)::INT:e::INT]) AS h
       |       FROM ${p}ord)""".stripMargin

  /** Planted-HTML synthesis (t18/t37 convention): real markup derived from
    * the word soup by pure integer functions of (doc_id, 6-word block
    * index) — nav link-farms, script junk, entity escapes, short <li>
    * crumbs, inline anchors, plain paragraphs — so the extractor's every
    * branch exercises at sf0.01. Lockstep with the h1/h2 oracles. */
  private def htmlSynth(docs: DataFrame): DataFrame = {
    val d = col("doc_id")
    def seg(j: org.apache.spark.sql.Column, a: Int, b: Int) =
      array_join(slice(col("tk"), (j * 6 + a).cast("int"), lit(b - a + 1)),
        " ")
    docs.select(d, graft.functions.text.tokens(col("text")).as("tk"))
      .withColumn("n_w", size(col("tk")).cast("long"))
      .withColumn("nl", when(col("n_w") === 0, lit(0L))
        .otherwise(expr("(n_w + 5) div 6")))
      .withColumn("body", when(col("nl") === 0, lit(""))
        .otherwise(array_join(
          transform(sequence(lit(0L), col("nl") - 1), j => {
            val m = (d * 23 + j) % 7
            when(m === 0, concat(lit("<div class=\"m\"><a href=\"/x\">"),
              seg(j, 1, 2), lit("</a> <a href=\"/y\">"), seg(j, 3, 4),
              lit("</a> <a href=\"/z\">"), seg(j, 5, 6), lit("</a></div>")))
              .when(m === 1, concat(lit("<script>var x = 1; // "),
                seg(j, 1, 6), lit("</script>")))
              .when(m === 2, concat(lit("<p>"), seg(j, 1, 2),
                lit(" &amp; "), seg(j, 3, 4), lit(" &lt;"), seg(j, 5, 5),
                lit("&gt; "), seg(j, 6, 6), lit("</p>")))
              .when(m === 3, concat(lit("<li>"), seg(j, 1, 2), lit("</li>")))
              .when(m === 4, concat(lit("<p>"), seg(j, 1, 3),
                lit(" <a href=\"#\">"), seg(j, 4, 4), lit("</a> "),
                seg(j, 5, 6), lit("</p>")))
              .otherwise(concat(lit("<p>"), seg(j, 1, 6), lit("</p>")))
          }), "")))
      .select(d, concat(lit("<html><body><h1>"),
        array_join(slice(col("tk"), 1, 3), " "), lit("</h1>"),
        col("body"), lit("</body></html>")).as("html"))
  }

  /** Per-block extraction rows over the planted HTML: position, char and
    * link-char tallies, the boilerplate verdict, and the block text md5. */
  def htmlBlocksQ(spark: SparkSession, dir: String): DataFrame =
    HtmlExtract.blocks(htmlSynth(Tables.documents(spark, dir)),
        "doc_id", "html")
      .select(col("id").as("doc_id"), col("pos"), col("n_chars"),
        col("link_chars"), col("is_boiler"), md5(col("btext")).as("block_md5"))
      .orderBy("doc_id", "pos")

  /** Doc-level main-text view: tallies + md5 of the reassembled main
    * text (the string that would feed the chunker on a text/html upload). */
  def htmlMainQ(spark: SparkSession, dir: String): DataFrame =
    HtmlExtract.mainText(htmlSynth(Tables.documents(spark, dir)),
        "doc_id", "html")
      .select(col("id").as("doc_id"), col("n_blocks"), col("n_main"),
        col("n_boiler"), col("total_chars"), col("total_link_chars"),
        md5(col("main_text")).as("main_md5"))
      .orderBy("doc_id")

  /** Shared oracle chain for h1/h2: planted-HTML synthesis (lockstep with
    * htmlSynth) + the extractor's stated op order — script/style/comment
    * strip, block-tag split, per-block anchor text, tag strip, entity
    * decode (amp LAST), whitespace collapse, link-density classify. */
  private val htmlOracleCtes: String = {
    val ent = (c: String) =>
      "trim(regexp_replace(regexp_replace(regexp_replace(regexp_replace(" +
        "regexp_replace(regexp_replace(regexp_replace(" + c +
        ", '<[^>]*>', ' ', 'g'), '&nbsp;', ' ', 'g'), '&lt;', '<', 'g'), " +
        "'&gt;', '>', 'g'), '&quot;', '\"', 'g'), '&#39;', chr(39), 'g'), " +
        "'&amp;', '&', 'g'))"
    s"""WITH n AS (SELECT doc_id, trim(regexp_replace(lower(text), '\\s+', ' ', 'g')) AS norm FROM documents),
       |tk AS (SELECT doc_id, list_filter(string_split(norm, ' '), t -> len(t) > 0) AS tk FROM n),
       |ln AS (SELECT doc_id, tk, 6::BIGINT AS ll,
       |  CASE WHEN len(tk) = 0 THEN 0 ELSE (len(tk) + 5) // 6 END::BIGINT AS nl FROM tk),
       |hb AS (SELECT doc_id,
       |  '<html><body><h1>' || coalesce(array_to_string(list_slice(tk, 1, 3), ' '), '') || '</h1>' ||
       |  (CASE WHEN nl = 0 THEN '' ELSE array_to_string(list_transform(range(nl), j ->
       |    CASE (doc_id * 23 + j) % 7
       |      WHEN 0 THEN '<div class="m"><a href="/x">' || coalesce(array_to_string(list_slice(tk, j*ll+1, j*ll+2), ' '), '')
       |        || '</a> <a href="/y">' || coalesce(array_to_string(list_slice(tk, j*ll+3, j*ll+4), ' '), '')
       |        || '</a> <a href="/z">' || coalesce(array_to_string(list_slice(tk, j*ll+5, j*ll+6), ' '), '') || '</a></div>'
       |      WHEN 1 THEN '<script>var x = 1; // ' || coalesce(array_to_string(list_slice(tk, j*ll+1, j*ll+6), ' '), '') || '</script>'
       |      WHEN 2 THEN '<p>' || coalesce(array_to_string(list_slice(tk, j*ll+1, j*ll+2), ' '), '') || ' &amp; '
       |        || coalesce(array_to_string(list_slice(tk, j*ll+3, j*ll+4), ' '), '') || ' &lt;'
       |        || coalesce(array_to_string(list_slice(tk, j*ll+5, j*ll+5), ' '), '') || '&gt; '
       |        || coalesce(array_to_string(list_slice(tk, j*ll+6, j*ll+6), ' '), '') || '</p>'
       |      WHEN 3 THEN '<li>' || coalesce(array_to_string(list_slice(tk, j*ll+1, j*ll+2), ' '), '') || '</li>'
       |      WHEN 4 THEN '<p>' || coalesce(array_to_string(list_slice(tk, j*ll+1, j*ll+3), ' '), '')
       |        || ' <a href="#">' || coalesce(array_to_string(list_slice(tk, j*ll+4, j*ll+4), ' '), '') || '</a> '
       |        || coalesce(array_to_string(list_slice(tk, j*ll+5, j*ll+6), ' '), '') || '</p>'
       |      ELSE '<p>' || coalesce(array_to_string(list_slice(tk, j*ll+1, j*ll+ll), ' '), '') || '</p>'
       |    END), '') END) || '</body></html>' AS html
       |  FROM ln),
       |s1 AS (SELECT doc_id, regexp_replace(regexp_replace(regexp_replace(html,
       |  '(?is)<script\\b[^>]*>.*?</script>', ' ', 'g'),
       |  '(?is)<style\\b[^>]*>.*?</style>', ' ', 'g'),
       |  '(?s)<!--.*?-->', ' ', 'g') AS h FROM s1src),
       |s2 AS (SELECT doc_id, string_split(regexp_replace(h,
       |  '(?i)</?(p|div|h[1-6]|li|ul|ol|br|tr|td|th|table|section|article|header|footer|nav|blockquote)\\b[^>]*>',
       |  chr(1), 'g'), chr(1)) AS blocks FROM s1),
       |b AS (SELECT doc_id, unnest(list_transform(blocks, (x, i) -> struct_pack(raw := x, pos := i - 1))) AS bk FROM s2),
       |t AS (SELECT doc_id, bk.pos::BIGINT AS pos,
       |  ${ent("bk.raw")} AS rawtext,
       |  ${ent("coalesce(array_to_string(regexp_extract_all(bk.raw, '(?is)<a\\b[^>]*>(.*?)</a>', 1), ' '), '')")} AS rawlink
       |  FROM b),
       |c AS (SELECT doc_id, pos,
       |  trim(regexp_replace(rawtext, '\\s+', ' ', 'g')) AS btext,
       |  len(trim(regexp_replace(rawtext, '\\s+', ' ', 'g')))::BIGINT AS n_chars,
       |  len(trim(regexp_replace(rawlink, '\\s+', ' ', 'g')))::BIGINT AS link_chars
       |  FROM t),
       |f AS (SELECT doc_id, pos, btext, n_chars, link_chars,
       |  (2 * link_chars > n_chars OR n_chars < 15) AS is_boiler
       |  FROM c WHERE n_chars > 0)""".stripMargin
      .replace("FROM s1src", "FROM hb")
  }

  def oracles: Map[String, String] = Map(
    // NOTE plain concatenation, not an interpolated stripMargin template:
    // the inner CTE block carries `||` continuation lines that a second
    // stripMargin pass would truncate to a single `|`
    "h1_html_blocks" ->
      (htmlOracleCtes +
        "\nSELECT doc_id, pos, n_chars, link_chars, is_boiler," +
        "\n  md5(btext) AS block_md5" +
        "\nFROM f ORDER BY doc_id, pos"),
    "h2_html_main" ->
      (htmlOracleCtes +
        "\nSELECT doc_id, count(*)::BIGINT AS n_blocks," +
        "\n  sum(CASE WHEN is_boiler THEN 0 ELSE 1 END)::BIGINT AS n_main," +
        "\n  sum(CASE WHEN is_boiler THEN 1 ELSE 0 END)::BIGINT AS n_boiler," +
        "\n  sum(n_chars)::BIGINT AS total_chars," +
        "\n  sum(link_chars)::BIGINT AS total_link_chars," +
        "\n  md5(coalesce(array_to_string(" +
        "\n    list(btext ORDER BY pos) FILTER (WHERE NOT is_boiler)," +
        "\n    chr(10)), '')) AS main_md5" +
        "\nFROM f GROUP BY doc_id ORDER BY doc_id"),
    // composed diff ∘ CDC ∘ anti-join replay: t50's fingerprint diff
    // selects the work docs, the c4 chunk chain runs over before/after
    // work slices, reuse = per-doc chunk-md5 intersection
    "p8_incremental_reembed" ->
      s"""WITH ba AS (SELECT doc_id, text FROM documents WHERE doc_id % 19 <> 3),
         |aa AS (SELECT doc_id, CASE WHEN doc_id % 17 = 0 THEN 'edited! ' || text
         |                           ELSE text END AS text FROM documents),
         |fa AS (SELECT doc_id, md5(trim(regexp_replace(lower(text),'\\s+',' ','g'))) AS f FROM ba),
         |fb AS (SELECT doc_id, md5(trim(regexp_replace(lower(text),'\\s+',' ','g'))) AS f FROM aa),
         |d AS (SELECT coalesce(fa.doc_id, fb.doc_id) AS doc_id,
         |        CASE WHEN fa.f IS NULL THEN 'added'
         |             WHEN fb.f IS NULL THEN 'removed'
         |             WHEN fa.f = fb.f THEN 'same' ELSE 'changed' END AS status
         |      FROM fa FULL OUTER JOIN fb ON fa.doc_id = fb.doc_id),
         |work AS (SELECT doc_id, status FROM d WHERE status IN ('added','changed')),
         |wa AS (SELECT aa.doc_id, aa.text FROM aa JOIN work USING (doc_id)),
         |wb AS (SELECT ba.doc_id, ba.text FROM ba JOIN work USING (doc_id)),
         |${cdcChunkCte("wa", "a")},
         |${cdcChunkCte("wb", "r")},
         |te AS (SELECT ach.doc_id, ach.h FROM ach
         |       LEFT JOIN rch ON ach.doc_id = rch.doc_id AND ach.h = rch.h
         |       WHERE rch.h IS NULL),
         |na AS (SELECT doc_id, count(*) AS n_chunks FROM ach GROUP BY doc_id),
         |ne AS (SELECT doc_id, count(*) AS n_embed FROM te GROUP BY doc_id)
         |SELECT work.doc_id, status, n_chunks::BIGINT AS n_chunks,
         |  coalesce(n_embed, 0)::BIGINT AS n_embed,
         |  (n_chunks - coalesce(n_embed, 0))::BIGINT AS n_reused
         |FROM work JOIN na USING (doc_id) LEFT JOIN ne USING (doc_id)
         |ORDER BY doc_id""".stripMargin,
    // C4 replay: same salt chars appended (chr() keeps the JSON transport
    // clean), same RE2/Java char class, then length + md5 of the cleaned
    // text — a class-boundary drift (e.g. \x9f excluded) flips both.
    "p9_md_tables" ->
      ("""WITH n AS (SELECT doc_id, trim(regexp_replace(lower(text), '\s+', ' ', 'g')) AS norm FROM documents),
         |tk0 AS (SELECT doc_id, list_filter(string_split(norm, ' '), t -> len(t) > 0) AS tk FROM n),
         |base AS (SELECT doc_id, tk, len(tk) AS ntok, (doc_id % 3 + 1) AS nrows FROM tk0 WHERE len(tk) >= 9),
         |c1 AS (SELECT doc_id, 1::BIGINT AS tbl, r.r::BIGINT AS row_idx, c.c::BIGINT AS col_idx,
         |    CASE WHEN r.r = 1 AND c.c = 1 AND doc_id % 5 = 0
         |         THEN tk[((r.r * 3 + c.c) * 7) % ntok + 1] || '|' || tk[1]
         |         ELSE tk[((r.r * 3 + c.c) * 7) % ntok + 1] END AS cell
         |  FROM base, (SELECT unnest(range(0, 4)) AS r) r, (SELECT unnest(range(0, 3)) AS c) c
         |  WHERE r.r <= nrows),
         |c2 AS (SELECT doc_id, 2::BIGINT AS tbl, r.r::BIGINT AS row_idx, c.c::BIGINT AS col_idx,
         |    tk[((r.r * 2 + c.c) * 5) % ntok + 1] AS cell
         |  FROM base, (SELECT unnest(range(0, 2)) AS r) r, (SELECT unnest(range(0, 2)) AS c) c
         |  WHERE doc_id % 4 = 0)
         |SELECT doc_id, tbl, row_idx, col_idx, cell
         |FROM (SELECT * FROM c1 UNION ALL SELECT * FROM c2)
         |ORDER BY doc_id, tbl, row_idx, col_idx""").stripMargin,
    // S11 chain replay from the planting rule alone: sheet s of doc d
    // carries words ws[(2s)%n], ws[(2s+1)%n]; tot = their length sum drives
    // the renderer's planted failure/blank/width arithmetic (see
    // XlsxSheetRenderer). The oracle never touches a container or a pixel —
    // it derives which pages survive and what width the decoded image must
    // have; the engine earns equality only if the real OOXML write→walk,
    // render, blank-gate, data-URI encode→decode, and survivor numbering
    // all land exactly.
    "s10_office_colpali" ->
      """WITH d AS (SELECT doc_id, string_split(text, ' ') AS ws,
        |             len(string_split(text, ' ')) AS n
        |           FROM documents WHERE doc_id < 100),
        |p AS (SELECT doc_id, s AS page_index,
        |        len(ws[((2*s) % n) + 1]) + len(ws[((2*s+1) % n) + 1]) AS tot
        |      FROM d, generate_series(0, 2) t(s)
        |      WHERE s < 1 + doc_id % 3),
        |surv AS (SELECT doc_id, page_index, tot FROM p
        |         WHERE (tot * 3 + page_index) % 5 <> 0
        |           AND (tot + page_index) % 4 <> 0),
        |ord AS (SELECT doc_id, page_index,
        |          row_number() OVER (PARTITION BY doc_id
        |            ORDER BY page_index) - 1 AS chunk_number,
        |          8 + ((tot * 7 + page_index) % 56) AS width
        |        FROM surv)
        |SELECT doc_id, chunk_number::BIGINT AS chunk_number,
        |  page_index::BIGINT AS page_index, true AS is_image,
        |  true AS mime_ok, width::BIGINT AS width,
        |  16::BIGINT AS n_vecs, 128::BIGINT AS dim
        |FROM ord ORDER BY doc_id, page_index""".stripMargin,
    "p6_clean_control" ->
      """WITH dirty AS (SELECT doc_id,
        |  text || chr(1) || chr(9) || chr(127) || chr(128) || chr(159)
        |       || chr(11) || 'X' AS t
        |  FROM documents),
        |c AS (SELECT doc_id, t,
        |  regexp_replace(t, '[\x00-\x08\x0b\x0c\x0e-\x1f\x7f\x80-\x9f]', '', 'g') AS clean
        |  FROM dirty)
        |SELECT doc_id, length(t)::BIGINT AS len_raw,
        |  length(clean)::BIGINT AS len_clean, md5(clean) AS clean_md5
        |FROM c ORDER BY doc_id""".stripMargin,
    // S12 layout gate: the same scoped aggregate computed from the SOURCE
    // table — the Spark side answers it through the freshly written
    // partitioned layout with a partition-pruned scan, so write-path
    // loss/dup/misroute diverges here.
    "p7_index_layout" ->
      """SELECT lang, count(*)::BIGINT AS n_docs,
        |  sum(n_chars)::BIGINT AS sum_chars,
        |  count(DISTINCT source)::BIGINT AS n_sources
        |FROM documents WHERE lang IN ('en', 'de')
        |GROUP BY lang ORDER BY lang""".stripMargin,
    "q8_padding" ->
      """WITH ch AS (
        |  SELECT doc_id, (s - 1) // 100 AS chunk_number
        |  FROM documents, generate_series(1, 100000, 100) AS t(s)
        |  WHERE doc_id < 50 AND s <= greatest(len(text) - 20, 1)
        |    AND len(substr(text, s::INT, 120)) > 0),
        |hits(doc_id, chunk_number, score) AS (
        |  VALUES (3, 1, 0.9), (7, 0, 0.8), (7, 1, 0.7), (11, 2, 0.6)),
        |pad AS (
        |  SELECT DISTINCT h.doc_id, h.chunk_number + o AS chunk_number
        |  FROM hits h, (VALUES (-1), (1)) t(o)),
        |pad2 AS (
        |  SELECT p.doc_id, p.chunk_number FROM pad p
        |  LEFT JOIN hits h ON p.doc_id = h.doc_id AND p.chunk_number = h.chunk_number
        |  WHERE h.doc_id IS NULL)
        |SELECT doc_id, chunk_number, score::DOUBLE AS score, is_padding FROM (
        |  SELECT doc_id, chunk_number, score, false AS is_padding FROM hits
        |  UNION ALL
        |  SELECT p.doc_id, p.chunk_number, 0.0, true
        |  FROM pad2 p JOIN ch ON p.doc_id = ch.doc_id AND p.chunk_number = ch.chunk_number)
        |ORDER BY score DESC, doc_id, chunk_number""".stripMargin,
    "p1_ingest_stats" ->
      """WITH ch AS (
        |  SELECT doc_id, (s - 1) // 160 AS chunk_number, substr(text, s::INT, 200) AS chunk
        |  FROM documents, generate_series(1, 100000, 160) AS t(s)
        |  WHERE doc_id < 100 AND s <= greatest(len(text) - 40, 1)
        |    AND len(substr(text, s::INT, 200)) > 0),
        |tok AS (
        |  SELECT doc_id, chunk_number, len(chunk) AS chunk_len, tok
        |  FROM ch, unnest(list_filter(string_split_regex(lower(chunk), '\s+'), t -> len(t) > 0)) AS u(tok)),
        |buckets AS (
        |  SELECT doc_id, chunk_number, any_value(chunk_len) AS chunk_len,
        |    ('0x' || substr(md5('42:' || tok), 1, 4))::BIGINT % 64 AS idx,
        |    sum(CASE WHEN ('0x' || substr(md5('42:' || tok), 5, 2))::BIGINT % 2 = 0
        |             THEN 1 ELSE -1 END) AS s
        |  FROM tok GROUP BY doc_id, chunk_number,
        |    ('0x' || substr(md5('42:' || tok), 1, 4))::BIGINT % 64)
        |SELECT doc_id, chunk_number, any_value(chunk_len) AS chunk_len,
        |  sum(s)::BIGINT AS emb_sum, sum(s * s)::BIGINT AS emb_sq
        |FROM buckets GROUP BY doc_id, chunk_number
        |ORDER BY doc_id, chunk_number""".stripMargin,
    "x1_xml_chunks" ->
      """WITH d AS (SELECT doc_id, substr(text, 1, 150) AS p1, substr(text, 151, 100000) AS p2
        |           FROM documents WHERE doc_id < 100),
        |u AS (SELECT doc_id, 0 AS ui, trim(regexp_replace(p1, '\s+', ' ', 'g')) AS t FROM d
        |      UNION ALL SELECT doc_id, 1, trim(regexp_replace(p2, '\s+', ' ', 'g')) FROM d),
        |tk AS (SELECT doc_id, ui, list_filter(string_split(t, ' '), x -> len(x) > 0) AS toks
        |       FROM u WHERE len(t) > 0),
        |w AS (SELECT doc_id, ui, j AS pi,
        |        array_to_string(list_slice(toks, j*20 + 1, (j+1)*20), ' ') AS content
        |      FROM tk, generate_series(0, 100) s(j)
        |      WHERE j * 20 < len(toks)),
        |ord AS (SELECT doc_id, ui, pi, content,
        |          row_number() OVER (PARTITION BY doc_id ORDER BY ui, pi) - 1 AS chunk_index
        |        FROM w)
        |SELECT doc_id, chunk_index::BIGINT AS chunk_index, 'sec' AS tag,
        |       'doc' AS breadcrumbs, md5(content) AS content_md5
        |FROM ord ORDER BY doc_id, chunk_index""".stripMargin,
    "p2_office_ingest" ->
      """WITH t AS (SELECT doc_id, string_split(text, ' ') AS ws
        |           FROM documents WHERE doc_id < 100),
        |md AS (SELECT doc_id,
        |    '## Sheet1' || chr(10) || chr(10) ||
        |    '| ' || ws[1] || ' | ' || ws[2] || ' |' || chr(10) ||
        |    '| --- | --- |' || chr(10) ||
        |    '| ' || ws[3] || ' | ' || ws[4] || ' |' || chr(10) ||
        |    '| ' || ws[5] || ' | ' || ws[6] || ' |' || chr(10) AS m
        |  FROM t)
        |SELECT doc_id, md5(m) AS md_md5, len(m)::BIGINT AS md_len
        |FROM md ORDER BY doc_id""".stripMargin,
    "p3_pdf_ingest" ->
      """WITH t AS (SELECT doc_id,
        |    substr(text, 1, 40) AS l1, substr(text, 41, 40) AS l2
        |  FROM documents WHERE doc_id < 100),
        |x AS (SELECT doc_id,
        |    l1 || (CASE WHEN len(l2) > 0 THEN chr(10) || l2 ELSE '' END) AS txt
        |  FROM t)
        |SELECT doc_id, md5(txt) AS txt_md5, len(txt)::BIGINT AS txt_len
        |FROM x ORDER BY doc_id""".stripMargin,
    "p4_pdf_pages" ->
      """WITH t AS (SELECT doc_id,
        |    substr(text, 1, 40) AS l1, substr(text, 41, 40) AS l2
        |  FROM documents WHERE doc_id < 100),
        |p AS (SELECT doc_id, 0 AS page_number, l1 AS txt FROM t
        |      UNION ALL SELECT doc_id, 1, l2 FROM t)
        |SELECT doc_id, page_number::BIGINT AS page_number, md5(txt) AS page_md5,
        |  len(txt)::BIGINT AS page_len
        |FROM p ORDER BY doc_id, page_number""".stripMargin,
    "p5_parse_ladder" ->
      """WITH t AS (SELECT doc_id, text, doc_id % 4 AS m
        |           FROM documents WHERE doc_id < 200),
        |x AS (SELECT doc_id,
        |  CASE m WHEN 0 THEN 'native' WHEN 1 THEN 'text_fallback'
        |         WHEN 2 THEN 'deep' ELSE 'none' END AS parse_path,
        |  CASE m WHEN 2 THEN 'deep_fallback_succeeded'
        |         WHEN 3 THEN 'no_content_extracted' END AS extraction_status,
        |  m = 3 AS has_warning,
        |  CASE m WHEN 0 THEN substr(text, 1, 40)
        |         WHEN 1 THEN 'FALLBACK ' || substr(text, 1, 30)
        |         WHEN 2 THEN 'DEEPRECOVERED' || doc_id
        |         ELSE '' END AS txt
        |  FROM t)
        |SELECT doc_id, parse_path, extraction_status, has_warning,
        |  md5(txt) AS text_md5, len(txt)::BIGINT AS text_len
        |FROM x ORDER BY doc_id""".stripMargin,
    "b1_datauri" ->
      """WITH u AS (SELECT doc_id, text,
        |    'data:text/plain;base64,' || to_base64(encode(text)) AS uri
        |  FROM documents)
        |SELECT doc_id, md5(uri) AS uri_md5, len(uri)::BIGINT AS uri_len,
        |  decode(from_base64(regexp_replace(uri, '^data:[^,]*,', ''))) = text AS roundtrip
        |FROM u ORDER BY doc_id""".stripMargin,
    "m1_media_decode" ->
      """SELECT doc_id AS media_id,
        |  ['image','audio','video'][(doc_id % 3 + 1)::INT] AS kind,
        |  ('0x' || substr(md5(text), 1, 4))::BIGINT % 1920 + 1 AS width,
        |  ('0x' || substr(md5(text), 5, 4))::BIGINT % 1080 + 1 AS height,
        |  CASE WHEN doc_id % 3 <> 0
        |       THEN ('0x' || substr(md5(text), 9, 4))::BIGINT % 600 + 1 END AS duration_sec,
        |  least(('0x' || substr(md5(text), 1, 4))::BIGINT % 1920 + 1, 256) AS target_width,
        |  CASE WHEN ('0x' || substr(md5(text), 1, 4))::BIGINT % 1920 + 1 > 256
        |       THEN greatest(
        |         ((('0x' || substr(md5(text), 5, 4))::BIGINT % 1080 + 1) * 256
        |          // (('0x' || substr(md5(text), 1, 4))::BIGINT % 1920 + 1)), 1)
        |       ELSE ('0x' || substr(md5(text), 5, 4))::BIGINT % 1080 + 1 END AS target_height
        |FROM documents ORDER BY media_id""".stripMargin,
    "m2_frame_sample" ->
      """WITH v AS (SELECT doc_id AS media_id,
        |    ('0x' || substr(md5(text), 9, 4))::BIGINT % 600 + 1 AS dur
        |  FROM documents WHERE doc_id % 3 = 2)
        |SELECT media_id, f AS frame_number, (f * 30)::DOUBLE AS ts
        |FROM v, generate_series(0, 100) AS t(f)
        |WHERE f <= dur // 30
        |ORDER BY media_id, frame_number""".stripMargin,
    "m7_multimodal_curation" ->
      """WITH d AS (SELECT doc_id, text FROM documents WHERE doc_id < 200),
        |img AS (SELECT doc_id,
        |    ('0x' || substr(md5('g:' || (doc_id % 5)), 1, 15))::BIGINT AS base
        |  FROM d WHERE doc_id % 3 = 0),
        |ih AS (SELECT doc_id,
        |    CASE WHEN doc_id % 7 = 0
        |         THEN xor(base, 1::BIGINT << (doc_id % 60)::INT)
        |         ELSE base END AS dh
        |  FROM img),
        |idrop AS (SELECT DISTINCT b.doc_id FROM ih a JOIN ih b
        |  ON a.doc_id < b.doc_id AND bit_count(xor(a.dh, b.dh)) <= 3),
        |adrop AS (SELECT doc_id,
        |    CASE WHEN doc_id % 11 = 0 THEN 'unparseable'
        |         ELSE 'mostly_silent' END AS reason
        |  FROM d WHERE doc_id % 3 = 1
        |    AND (doc_id % 11 = 0 OR (doc_id % 50) * 40 < 100)),
        |vdrop AS (SELECT doc_id, 'sparse_transcript' AS reason FROM d
        |  WHERE doc_id % 3 = 2
        |    AND ('0x' || substr(md5(text), 9, 4))::BIGINT % 600 + 1 < 180),
        |drops AS (SELECT doc_id, 'image_near_dup' AS reason FROM idrop
        |  UNION ALL SELECT doc_id, reason FROM adrop
        |  UNION ALL SELECT doc_id, reason FROM vdrop)
        |SELECT d.doc_id,
        |  CASE (d.doc_id % 3) WHEN 0 THEN 'image' WHEN 1 THEN 'audio'
        |       ELSE 'video' END AS kind,
        |  dr.doc_id IS NULL AS survived,
        |  coalesce(dr.reason, 'kept') AS reason
        |FROM d LEFT JOIN drops dr ON d.doc_id = dr.doc_id
        |ORDER BY d.doc_id""".stripMargin,
    // replays the fixture contract (scene = running cut count, hash =
    // md5-derived 60-bit staircase dHash) and the operator's lag +
    // XOR-popcount + threshold over the (video, ts) timeline
    "m8_scene_cuts" ->
      """WITH v AS (SELECT doc_id FROM documents WHERE doc_id < 120),
        |f AS (SELECT doc_id, s AS f FROM v, generate_series(0, 8) t(s)
        |      WHERE s <= doc_id % 6 + 3),
        |sc AS (SELECT doc_id, f,
        |    sum(CASE WHEN f >= 1 AND (doc_id + f) % 3 = 0 THEN 1 ELSE 0 END)
        |      OVER (PARTITION BY doc_id ORDER BY f) AS scene
        |  FROM f),
        |h AS (SELECT doc_id, f, (f * 2)::BIGINT AS ts,
        |    ('0x' || substr(md5('v:' || doc_id || ':' || scene), 1, 15))::BIGINT AS dh
        |  FROM sc),
        |l AS (SELECT doc_id, ts, dh,
        |    lag(dh) OVER (PARTITION BY doc_id ORDER BY ts) AS prev FROM h)
        |SELECT doc_id AS video_id, ts,
        |  CASE WHEN prev IS NOT NULL THEN bit_count(xor(dh, prev))::BIGINT END AS hamming,
        |  coalesce(bit_count(xor(dh, prev)) > 10, false) AS is_cut
        |FROM l ORDER BY video_id, ts""".stripMargin,
    // the growing-timeline arm: the same replay over EVERY doc, rolled up
    // per video (every synthesized video has >= 4 frames, so prev always
    // exists past the first row and the hamming mass is well-defined)
    "m9_scene_cuts_dense" ->
      """WITH f AS (SELECT doc_id, s AS f FROM documents, generate_series(0, 8) t(s)
        |      WHERE s <= doc_id % 6 + 3),
        |sc AS (SELECT doc_id, f,
        |    sum(CASE WHEN f >= 1 AND (doc_id + f) % 3 = 0 THEN 1 ELSE 0 END)
        |      OVER (PARTITION BY doc_id ORDER BY f) AS scene
        |  FROM f),
        |h AS (SELECT doc_id, (f * 2)::BIGINT AS ts,
        |    ('0x' || substr(md5('v:' || doc_id || ':' || scene), 1, 15))::BIGINT AS dh
        |  FROM sc),
        |l AS (SELECT doc_id, ts, dh,
        |    lag(dh) OVER (PARTITION BY doc_id ORDER BY ts) AS prev FROM h)
        |SELECT doc_id AS video_id, count(*)::BIGINT AS n_frames,
        |  sum(CASE WHEN coalesce(bit_count(xor(dh, prev)) > 10, false)
        |      THEN 1 ELSE 0 END)::BIGINT AS n_cuts,
        |  coalesce(sum(CASE WHEN prev IS NOT NULL
        |      THEN bit_count(xor(dh, prev)) END), 0)::BIGINT AS hamming_sum
        |FROM l GROUP BY doc_id ORDER BY video_id""".stripMargin,
    "m6_audio_activity" ->
      """WITH d AS (SELECT doc_id FROM documents
        |           WHERE doc_id < 200 AND doc_id % 11 <> 0),
        |w AS (SELECT doc_id, s AS win FROM d, generate_series(0, 2) t(s)
        |      WHERE s <= doc_id % 3),
        |m AS (SELECT doc_id, win,
        |    CASE WHEN win % 2 = 1 THEN 0 ELSE (doc_id % 50) * 40 END AS amp
        |  FROM w)
        |SELECT doc_id AS id, win::BIGINT AS win, amp::BIGINT AS mean_abs,
        |  amp < 100 AS is_silence
        |FROM m ORDER BY id, win""".stripMargin,
    // analytic histogram (L divides 256: each level appears 256/L times);
    // the c·ln(c) fold replayed as a list_sum over the L equal terms IN
    // ORDER (repeated addition, never a multiply — float sums of equal
    // terms still round step by step), then the stated H chain
    "m13_image_entropy" ->
      """WITH d AS (SELECT doc_id,
        |    (CASE (doc_id % 4) WHEN 0 THEN 1 WHEN 1 THEN 4
        |          WHEN 2 THEN 16 ELSE 256 END)::BIGINT AS lv
        |  FROM documents WHERE doc_id < 200 AND doc_id % 11 <> 0),
        |e AS (SELECT doc_id, lv,
        |    floor((ln(256.0) -
        |      list_sum(list_transform(range(lv), i ->
        |        ((256 // lv)::DOUBLE) * ln((256 // lv)::DOUBLE))) / 256.0)
        |      * 1000000)::BIGINT AS entropy_micro
        |  FROM d)
        |SELECT doc_id AS id, 256::BIGINT AS n_pixels, lv AS n_levels,
        |  entropy_micro, entropy_micro < 2000000 AS low_info
        |FROM e ORDER BY id""".stripMargin,
    // analytic replay of the hot-amplitude wave rule: active seconds,
    // exact sum-of-squares, integer-div-then-IEEE-sqrt RMS, the clip
    // tier at >= 32735, the capped normalizer gain, verdict precedence
    "m12_loudness" ->
      """WITH d AS (SELECT doc_id, (doc_id % 3 + 1)::BIGINT AS nsec,
        |    least((doc_id % 50) * 800, 32767)::BIGINT AS amp
        |  FROM documents WHERE doc_id < 200 AND doc_id % 11 <> 0),
        |s AS (SELECT doc_id, nsec * 8000 AS total,
        |        ((nsec + 1) // 2) * 8000 AS act, amp FROM d),
        |c AS (SELECT doc_id, total, amp,
        |    floor(sqrt(((act * amp * amp) // total)::DOUBLE))::BIGINT AS rms,
        |    (CASE WHEN amp >= 32735 THEN act ELSE 0 END)::BIGINT AS n_clipped
        |  FROM s)
        |SELECT doc_id AS id, total AS n_samples, rms, amp AS peak, n_clipped,
        |  (CASE WHEN rms >= 50 THEN least(12000000 // rms, 20000) END)::BIGINT
        |    AS gain_milli,
        |  CASE WHEN rms < 50 THEN 'silent'
        |       WHEN n_clipped * 10000 >= 10 * total THEN 'clipped'
        |       ELSE 'ok' END AS verdict
        |FROM c ORDER BY id""".stripMargin,
    // m5's hash synthesis + the t17 recursive-reachability pattern, with
    // singletons (no edges) keeping themselves via the left join
    "m11_image_keeplist" ->
      """WITH RECURSIVE d AS (SELECT doc_id,
        |    ('0x' || substr(md5('g:' || (doc_id % 5)), 1, 15))::BIGINT AS base
        |  FROM documents WHERE doc_id < 200),
        |h AS (SELECT doc_id,
        |    CASE WHEN doc_id % 7 = 0
        |         THEN xor(base, 1::BIGINT << (doc_id % 60)::INT)
        |         ELSE base END AS dh
        |  FROM d),
        |e AS (SELECT a.doc_id AS id_a, b.doc_id AS id_b
        |      FROM h a JOIN h b ON a.doc_id < b.doc_id
        |      WHERE bit_count(xor(a.dh, b.dh)) <= 3),
        |und AS (SELECT id_a AS s, id_b AS t FROM e
        |        UNION SELECT id_b, id_a FROM e),
        |reach(id, r) AS (
        |  SELECT s, s FROM und
        |  UNION
        |  SELECT u.s, reach.r FROM und u JOIN reach ON reach.id = u.t),
        |comp AS (SELECT id, min(r) AS keep FROM reach GROUP BY id)
        |SELECT h.doc_id AS id,
        |  coalesce(comp.keep, h.doc_id)::BIGINT AS keep_id,
        |  (coalesce(comp.keep, h.doc_id) <> h.doc_id) AS is_dup
        |FROM h LEFT JOIN comp ON comp.id = h.doc_id
        |ORDER BY id""".stripMargin,
    "m14_video_neardup" ->
      """WITH v AS (SELECT doc_id AS id, doc_id // 3 AS g FROM documents
        |  WHERE doc_id < 180),
        |f0 AS (SELECT id, g, s AS f FROM v, generate_series(0, 10) t(s)
        |       WHERE s < (g % 4 + 4)),
        |h AS (SELECT id, f, (g % 4 + 4)::BIGINT AS n,
        |    CASE WHEN id % 3 = 0 THEN base
        |         WHEN id % 3 = 1 THEN xor(base, 1::BIGINT << (f % 60)::INT)
        |         ELSE xor(base, 1023::BIGINT << 48) END AS dh
        |  FROM (SELECT *,
        |    ('0x' || substr(md5('vg:' || g || ':' || f), 1, 15))::BIGINT AS base
        |    FROM f0)),
        |blk AS (SELECT id, n, f, bi, (dh >> (16 * bi)::INT) & 65535 AS b
        |        FROM h, generate_series(0, 3) t(bi)),
        |cand AS (SELECT DISTINCT a.id AS va, b.id AS vb, a.n
        |         FROM blk a JOIN blk b
        |         ON a.f = b.f AND a.bi = b.bi AND a.b = b.b AND a.n = b.n
        |           AND a.id < b.id),
        |ver AS (SELECT c.va, c.vb, c.n,
        |          sum(CASE WHEN bit_count(xor(ha.dh, hb.dh)) <= 3
        |              THEN 1 ELSE 0 END)::BIGINT AS n_matched
        |        FROM cand c
        |        JOIN h ha ON ha.id = c.va
        |        JOIN h hb ON hb.id = c.vb AND hb.f = ha.f
        |        GROUP BY c.va, c.vb, c.n)
        |SELECT va AS video_a, vb AS video_b, n AS n_frames, n_matched,
        |  (n_matched * 1000000) // n AS match_ppm,
        |  ((n_matched * 1000000) // n) >= 800000 AS is_dup
        |FROM ver ORDER BY video_a, video_b""".stripMargin,

    // analytic envelope replay (the m6 convention): amplitude bits from
    // the group md5 word, fp bit i = (NOT bit_i) AND bit_{i+1} — the
    // delta-sign of the 1000/1500 two-level envelope; then the m5 block
    // pigeonhole + bit_count verify
    "m15_audio_neardup" ->
      """WITH v AS (SELECT doc_id AS id, doc_id // 3 AS g FROM documents
        |  WHERE doc_id < 180 AND doc_id % 11 <> 0),
        |h AS (SELECT id, g, (32 * (g % 3 + 1))::BIGINT AS s,
        |    CASE WHEN id % 3 = 0 THEN base
        |         WHEN id % 3 = 1 THEN xor(base, 1::BIGINT << (g % 60)::INT)
        |         ELSE ('0x' || substr(md5('agx:' || g), 1, 15))::BIGINT
        |    END AS bits
        |  FROM (SELECT *,
        |    ('0x' || substr(md5('ag:' || g), 1, 15))::BIGINT AS base
        |    FROM v)),
        |f AS (SELECT h.id, (61 * h.s)::BIGINT AS n_samples,
        |    sum(CASE WHEN ((h.bits >> i.i::INT) & 1) = 0
        |              AND ((h.bits >> (i.i + 1)::INT) & 1) = 1
        |         THEN (1::BIGINT << i.i::INT) ELSE 0 END)::BIGINT AS fp
        |  FROM h, generate_series(0, 58) i(i) GROUP BY 1, 2),
        |blk AS (SELECT id, n_samples, fp, bi,
        |    (fp >> (16 * bi)::INT) & 65535 AS b
        |  FROM f, generate_series(0, 3) t(bi)),
        |cand AS (SELECT DISTINCT a.id AS ia, b.id AS ib,
        |    a.n_samples, a.fp AS fa, b.fp AS fb
        |  FROM blk a JOIN blk b
        |  ON a.bi = b.bi AND a.b = b.b AND a.n_samples = b.n_samples
        |    AND a.id < b.id)
        |SELECT ia AS id_a, ib AS id_b, n_samples,
        |  bit_count(xor(fa, fb))::BIGINT AS hamming
        |FROM cand WHERE bit_count(xor(fa, fb)) <= 3
        |ORDER BY id_a, id_b""".stripMargin,

    "m5_image_dhash" ->
      """WITH d AS (SELECT doc_id,
        |    ('0x' || substr(md5('g:' || (doc_id % 5)), 1, 15))::BIGINT AS base
        |  FROM documents WHERE doc_id < 200),
        |h AS (SELECT doc_id,
        |    CASE WHEN doc_id % 7 = 0
        |         THEN xor(base, 1::BIGINT << (doc_id % 60)::INT)
        |         ELSE base END AS dh
        |  FROM d)
        |SELECT a.doc_id AS id_a, b.doc_id AS id_b,
        |  bit_count(xor(a.dh, b.dh))::BIGINT AS hamming
        |FROM h a JOIN h b ON a.doc_id < b.doc_id
        |WHERE bit_count(xor(a.dh, b.dh)) <= 3
        |ORDER BY id_a, id_b""".stripMargin,
    "m4_transcript" ->
      """WITH v AS (SELECT doc_id AS media_id, text,
        |    ('0x' || substr(md5(text), 9, 4))::BIGINT % 600 + 1 AS dur
        |  FROM documents WHERE doc_id % 3 = 2)
        |SELECT media_id, s::BIGINT AS seg_number, (s * 20)::DOUBLE AS ts,
        |  substr(md5(text || ':' || s), 1, 8) AS text
        |FROM v, generate_series(0, 100) t(s)
        |WHERE s <= dur // 20
        |ORDER BY media_id, seg_number""".stripMargin,
    // caption↔frame replay: m4's segment grid (20 s) ASOF-joined to the
    // 30 s scene-hash frame timeline — backward (>=), so every caption
    // sees the last frame rendered at-or-before it
    "m10_caption_frames" ->
      """WITH v AS (SELECT doc_id AS media_id, text,
        |    ('0x' || substr(md5(text), 9, 4))::BIGINT % 600 + 1 AS dur
        |  FROM documents WHERE doc_id % 3 = 2 AND doc_id < 120),
        |u AS (SELECT media_id AS video_id, s::BIGINT AS seg_number,
        |        (s * 20)::DOUBLE AS ts, substr(md5(text || ':' || s), 1, 8) AS text
        |      FROM v, generate_series(0, 100) t(s) WHERE s <= dur // 20),
        |f0 AS (SELECT doc_id, s AS f FROM documents, generate_series(0, 8) t(s)
        |       WHERE doc_id % 3 = 2 AND doc_id < 120 AND s <= doc_id % 6 + 3),
        |sc AS (SELECT doc_id, f,
        |    sum(CASE WHEN f >= 1 AND (doc_id + f) % 3 = 0 THEN 1 ELSE 0 END)
        |      OVER (PARTITION BY doc_id ORDER BY f) AS scene FROM f0),
        |fr AS (SELECT doc_id AS video_id, (f * 30)::DOUBLE AS ts,
        |    ('0x' || substr(md5('v:' || doc_id || ':' || scene), 1, 15))::BIGINT AS fh
        |  FROM sc)
        |SELECT u.video_id, u.seg_number, u.ts, u.text,
        |  fr.ts AS frame_ts, fr.fh AS frame_hash
        |FROM u ASOF LEFT JOIN fr
        |  ON u.video_id = fr.video_id AND u.ts >= fr.ts
        |ORDER BY u.video_id, seg_number""".stripMargin,
    "m3_blank_pages" ->
      """SELECT doc_id,
        |  CASE WHEN doc_id % 7 = 0 THEN true
        |       WHEN doc_id % 7 = 1 THEN false
        |       ELSE (doc_id % 5) <= 2 END AS is_blank
        |FROM documents WHERE doc_id < 200 ORDER BY doc_id""".stripMargin,
    "r1_rerank" ->
      s"""WITH q AS (SELECT embedding::DOUBLE[] AS qv FROM embeddings WHERE vec_id = 0),
         |hits AS (
         |  SELECT vec_id FROM embeddings, q WHERE vec_id <> 0
         |  ORDER BY list_cosine_similarity(embedding::DOUBLE[], qv) DESC, vec_id LIMIT 15),
         |scored AS (
         |  SELECT d.doc_id,
         |    len(list_intersect(
         |      list_distinct(list_filter(string_split(trim(regexp_replace(lower(d.text), '\\s+', ' ', 'g')), ' '), t -> len(t) > 0)),
         |      ['the','fast','table','scan','join','merge','sort','filter'])) / 8.0 AS rerank_score
         |  FROM hits h JOIN documents d ON h.vec_id = d.doc_id)
         |SELECT doc_id, rerank_score FROM scored
         |ORDER BY rerank_score DESC, doc_id LIMIT 5""".stripMargin,
    "r2_context_assembly" ->
      """WITH ch AS (
        |  SELECT doc_id, (s - 1) // 100 AS chunk_number, substr(text, s::INT, 120) AS chunk
        |  FROM documents, generate_series(1, 100000, 100) AS t(s)
        |  WHERE doc_id < 50 AND s <= greatest(len(text) - 20, 1)
        |    AND len(substr(text, s::INT, 120)) > 0),
        |hits(doc_id, chunk_number, score) AS (
        |  VALUES (3, 1, 0.9), (7, 0, 0.8), (7, 1, 0.7), (11, 2, 0.6)),
        |j AS (SELECT h.doc_id, h.chunk_number, h.score, ch.chunk
        |      FROM hits h JOIN ch ON h.doc_id = ch.doc_id AND h.chunk_number = ch.chunk_number)
        |SELECT md5(string_agg(chunk, chr(10) || chr(10)
        |         ORDER BY score DESC, doc_id, chunk_number)) AS context_md5,
        |       count(*) AS n_chunks
        |FROM j""".stripMargin,
    "r3_augmented_content" ->
      """WITH v AS (SELECT doc_id AS media_id,
        |    ('0x' || substr(md5(text), 9, 4))::BIGINT % 600 + 1 AS dur
        |  FROM documents WHERE doc_id % 3 = 2),
        |fr AS (SELECT media_id, (f * 30)::BIGINT AS ts,
        |    'frame ' || media_id || ' ' || f AS frame_desc
        |  FROM v, generate_series(0, 100) t(f) WHERE f <= dur // 30),
        |sp AS (SELECT media_id, (s * 20)::BIGINT AS ts,
        |    'speech ' || media_id || ' ' || s AS speech_txt
        |  FROM v, generate_series(0, 100) t(s) WHERE s <= dur // 20),
        |h AS (SELECT media_id, (dur // 2)::BIGINT AS ts FROM v),
        |jf AS (SELECT h.media_id, fr.frame_desc,
        |    row_number() OVER (PARTITION BY h.media_id
        |                       ORDER BY abs(fr.ts - h.ts), fr.ts) AS rn
        |  FROM h JOIN fr USING (media_id)),
        |js AS (SELECT h.media_id, sp.speech_txt,
        |    row_number() OVER (PARTITION BY h.media_id
        |                       ORDER BY abs(sp.ts - h.ts), sp.ts) AS rn
        |  FROM h JOIN sp USING (media_id))
        |SELECT jf.media_id,
        |  'Frame description: ' || jf.frame_desc || ' ' || chr(10) || ' ' || chr(10)
        |    || ' Transcript: ' || js.speech_txt AS augmented
        |FROM jf JOIN js ON jf.media_id = js.media_id
        |WHERE jf.rn = 1 AND js.rn = 1
        |ORDER BY jf.media_id""".stripMargin,
    "g1_batch_get" ->
      """WITH ch AS (
        |  SELECT doc_id, (s - 1) // 100 AS chunk_number, substr(text, s::INT, 120) AS chunk
        |  FROM documents, generate_series(1, 100000, 100) AS t(s)
        |  WHERE doc_id < 50 AND s <= greatest(len(text) - 20, 1)
        |    AND len(substr(text, s::INT, 120)) > 0)
        |SELECT ch.doc_id, ch.chunk_number, ch.chunk
        |FROM ch JOIN (VALUES (3, 0), (3, 1), (7, 2), (11, 0)) AS k(d, c)
        |  ON ch.doc_id = k.d AND ch.chunk_number = k.c
        |ORDER BY ch.doc_id, ch.chunk_number""".stripMargin,
    // pg_trgm replay: identical padded word-trigram sets on both sides
    // (two leading + one trailing blank per word, distinct across the
    // string), Jaccard as an exact integer ratio
    "n12_trgm_fuzzy" ->
      """WITH f AS (SELECT doc_id,
        |    source || '_' || string_split(text,' ')[1] || 's_'
        |      || string_split(text,' ')[2] || 's_' || string_split(text,' ')[3]
        |      || 's_' || string_split(text,' ')[4] || 's_' || doc_id
        |      || '.txt' AS filename
        |  FROM documents),
        |qw AS (SELECT unnest(list_filter(string_split(regexp_replace(
        |    lower('web_kye_scna_slow_fast.txt'), '[^a-z0-9]+', ' ', 'g'), ' '),
        |    x -> len(x) > 0)) AS w),
        |qg AS (SELECT DISTINCT unnest(list_transform(
        |    range(1, len('  ' || w || ' ') - 1),
        |    i -> substr('  ' || w || ' ', i, 3))) AS g FROM qw),
        |nq AS (SELECT count(*) AS n_q FROM qg),
        |dw AS (SELECT doc_id, unnest(list_filter(string_split(regexp_replace(
        |    lower(filename), '[^a-z0-9]+', ' ', 'g'), ' '),
        |    x -> len(x) > 0)) AS w FROM f),
        |dg AS (SELECT DISTINCT doc_id, unnest(list_transform(
        |    range(1, len('  ' || w || ' ') - 1),
        |    i -> substr('  ' || w || ' ', i, 3))) AS g FROM dw),
        |dn AS (SELECT doc_id, count(*) AS n_tg FROM dg GROUP BY doc_id),
        |sh AS (SELECT doc_id, count(*) AS shared FROM dg JOIN qg USING (g)
        |       GROUP BY doc_id)
        |SELECT sh.doc_id, shared::BIGINT AS shared,
        |  round(shared / (n_tg + n_q - shared), 6) AS similarity
        |FROM sh JOIN dn USING (doc_id), nq
        |ORDER BY shared / (n_tg + n_q - shared) DESC, sh.doc_id
        |LIMIT 10""".stripMargin,
    "n1_filename_search" ->
      """WITH f AS (
        |  SELECT doc_id,
        |    source || '_' || ws[1] || 's_' || ws[2] || 's_' || ws[3] || 's_'
        |      || ws[4] || 's_' || doc_id || '.txt' AS filename,
        |    TIMESTAMP '2026-01-01 00:00:00' + (doc_id % 7) * INTERVAL 1 DAY AS updated_at
        |  FROM (SELECT doc_id, source, string_split(text, ' ') AS ws FROM documents)),
        |t AS (SELECT doc_id, filename, updated_at,
        |  list_filter(string_split_regex(lower(
        |    regexp_replace(regexp_replace(filename, '\.[^.]*$', ''), '[_-]+', ' ', 'g')
        |  ), '\s+'), x -> len(x) > 0) AS raw
        |  FROM f),
        |lx AS (SELECT doc_id, filename, updated_at, raw,
        |  list_transform(
        |    list_transform(
        |      list_filter(raw, x -> NOT list_contains(
        |        ['a','an','and','are','as','at','be','but','by','for','if','in',
        |         'into','is','it','no','not','of','on','or','such','that','the',
        |         'their','then','there','these','they','this','to','was','will',
        |         'with'], x)),
        |      x -> CASE WHEN regexp_matches(x, 'sses$') THEN regexp_replace(x, 'es$', '')
        |                WHEN regexp_matches(x, 'ies$') THEN regexp_replace(x, 'ies$', 'i')
        |                WHEN regexp_matches(x, 'ss$') THEN x
        |                WHEN regexp_matches(x, 's$') AND len(x) > 3 THEN regexp_replace(x, 's$', '')
        |                ELSE x END),
        |    s -> CASE WHEN regexp_matches(s, 'ing$') AND len(s) > 5 THEN regexp_replace(s, 'ing$', '')
        |              WHEN regexp_matches(s, 'ed$') AND len(s) > 4 THEN regexp_replace(s, 'ed$', '')
        |              ELSE s END) AS lex
        |  FROM t),
        |m AS (SELECT doc_id, filename, updated_at,
        |  0.1 * len(list_filter(lex, x -> x = 'table'))
        |      / (len(list_filter(lex, x -> x = 'table')) + 1.0)
        |  + 0.1 * len(list_filter(lex, x -> x = 'scan'))
        |      / (len(list_filter(lex, x -> x = 'scan')) + 1.0) AS name_rank,
        |  contains(lower(filename), 'the tables scans') AS substr_hit,
        |  (list_contains(lex, 'table') AND list_contains(lex, 'scan')) AS english_hit,
        |  (list_contains(raw, 'the') AND list_contains(raw, 'tables')
        |    AND list_contains(raw, 'scans')) AS simple_hit
        |  FROM lx)
        |SELECT doc_id, filename, name_rank FROM m
        |WHERE substr_hit OR english_hit OR simple_hit
        |ORDER BY name_rank DESC, updated_at DESC NULLS LAST, doc_id
        |LIMIT 10""".stripMargin
  )
}
