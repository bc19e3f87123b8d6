package perfbench

import java.nio.file.{Files, Path, Paths}

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, Row, SaveMode, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.operators.{Chunker, DocParser, HashEmbedder, HashMultiVectorEmbedder}
import graft.sources.IndexStore
import graft.streaming.IngestPipeline

/** The chunk-index build of `serve`'s set-up and writes, written only
  * against the program's public functions. Index rows follow
  * GraftService's chunk-table contract; pdf chunks also carry a
  * multivector `mv`. */
object IndexBuild {
  val cfg: IngestPipeline.Config = IngestPipeline.Config()
  val mvEmbedder: HashMultiVectorEmbedder = HashMultiVectorEmbedder(16)
  val mvType: DataType = ArrayType(ArrayType(FloatType))

  val fileSchema: StructType = StructType(Seq(
    StructField("doc_id", LongType, nullable = false),
    StructField("filename", StringType), StructField("bytes", BinaryType),
    StructField("metadata_json", StringType), StructField("app_id", StringType),
    StructField("end_user_id", StringType), StructField("folder_path", StringType)))

  def fileRows(fs: Seq[Gen.FileDoc]): Seq[Row] =
    fs.map(f => Row(f.id, f.filename, f.bytes, f.metaJson, f.appId, f.endUser, f.folder))

  /** Per-doc scope and typed metadata (`TypedMetadata` via
    * `normalizeMetadata`). */
  def meta(files: DataFrame): DataFrame =
    IngestPipeline.normalizeMetadata(files.select("doc_id", "metadata_json", "app_id",
      "end_user_id", "folder_path", "filename"))

  /** Chunks (doc_id, chunk_number, chunk, embedding) joined to their doc's
    * metadata, in index column order; `mv` on pdf chunks when `withMv`. */
  def indexRows(chunks: DataFrame, meta: DataFrame, withMv: Boolean): DataFrame = {
    val joined = chunks.join(meta, "doc_id")
    // one pass over the chunks: non-pdf rows embed an empty text (a single
    // cheap vector), then drop it
    val isPdf = col("filename").endsWith(".pdf")
    val mvd =
      if (!withMv) joined.withColumn("mv", lit(null).cast(mvType))
      else mvEmbedder.embedMulti(joined.withColumn("mv_text", when(isPdf, col("chunk"))
          .otherwise(lit(""))), "mv_text", "mv")
        .withColumn("mv", when(isPdf, col("mv")))
    mvd.select(col("doc_id").as("document_id"), col("chunk_number"),
      col("chunk").as("content"), col("embedding"), col("mv"), col("metadata"),
      col("metadata_types"), col("end_user_id"), col("folder_path"), col("app_id"))
  }

  /** Status rows from what the index holds: one per doc, `completed` or
    * `no_content_extracted`. */
  def writeStatus(files: DataFrame, indexPath: String, statusPath: String): Unit = {
    val written = files.sparkSession.read.parquet(indexPath)
      .select(col("document_id").as("doc_id"))
    IngestPipeline.statusRows(files.select("doc_id"), written, cfg)
      .write.mode(SaveMode.Overwrite).parquet(statusPath)
  }

  /** The untraced ingest: processFilesWithFallback → normalizeMetadata →
    * IndexStore.writePartitioned(app_id) + statusRows. */
  def ingest(files: DataFrame, indexPath: String, statusPath: String): Unit = {
    val (chunks, _) = IngestPipeline.processFilesWithFallback(
      files.select("doc_id", "filename", "bytes"), cfg)
    IndexStore.writePartitioned(indexRows(chunks, meta(files), withMv = true), indexPath, "app_id")
    writeStatus(files, indexPath, statusPath)
  }

  private def cut(df: DataFrame): (DataFrame, Double) = Main.time(df.localCheckpoint())

  /** The same composition, one layer at a time: each layer's output is
    * materialized (and timed) before the next layer reads it. */
  def ingestTraced(files: DataFrame, indexPath: String,
                   statusPath: String): Map[String, Double] = {
    val (nDocs, _) = Main.time(files.count())
    val (parsed, parseS) = cut(DocParser.parseColumnWithFallback(
      files.select("doc_id", "filename", "bytes"), "filename", "bytes", cfg.textCol)
      .select(col("doc_id"), col(cfg.textCol), col("parse_path")))
    val fallback = parsed.filter(col("parse_path") =!= "native").count()
    val (m, metaS) = cut(meta(files))
    val (chunks, chunkS) = cut(Chunker.recursiveChunks(
      parsed.select(col("doc_id"), IngestPipeline.cleanControlChars(col(cfg.textCol))
        .as(cfg.textCol)), "doc_id", cfg.textCol, cfg.chunkSize, cfg.overlap))
    val nChunks = chunks.count()
    val (emb, embS) = cut(cfg.embedder.embed(chunks, "chunk", "embedding"))
    val (_, writeS) = Main.time {
      IndexStore.writePartitioned(indexRows(emb, m, withMv = true), indexPath, "app_id")
      writeStatus(files, indexPath, statusPath)
    }
    val (bytes, nFiles) = dirSize(indexPath)
    Map("DocParser.s" -> parseS, "DocParser.fallback_share" -> fallback.toDouble / nDocs,
      "TypedMetadata.s" -> metaS, "Chunker.s" -> chunkS,
      "Chunker.chunks_per_doc" -> nChunks.toDouble / nDocs,
      "Embedder.s" -> embS, "Embedder.vectors" -> nChunks.toDouble,
      "IndexStore.s" -> writeS, "IndexStore.bytes" -> bytes.toDouble,
      "IndexStore.files" -> nFiles.toDouble)
  }

  /** Checks an ingest: one status row per doc, `no_content_extracted`
    * exactly for the planted empty and undecodable files, and a sample of
    * indexed embeddings equal to `HashEmbedder.embedText` of their chunk.
    * Returns (attempted, failed, notes). */
  def check(spark: SparkSession, nDocs: Int, planted: Set[Long], indexPath: String,
            statusPath: String, sampleKey: Int): (Long, Long, Seq[String]) = {
    val status = spark.read.parquet(statusPath).select("doc_id", "status").collect()
      .map(r => r.getLong(0) -> r.getString(1))
    val byId = status.toMap
    var failed = math.abs(status.length - nDocs).toLong + (status.length - byId.size)
    val notes = Seq.newBuilder[String]
    (0L until nDocs).foreach { id =>
      val want = if (planted(id)) "no_content_extracted" else "completed"
      if (!byId.get(id).contains(want)) {
        failed += 1
        notes += s"ingest: doc $id status ${byId.get(id).orNull}, want $want"
      }
    }
    val emb = cfg.embedder.asInstanceOf[HashEmbedder]
    val sample = spark.read.parquet(indexPath)
      .filter(pmod(col("document_id"), lit(31)) === sampleKey % 31)
      .select("content", "embedding").limit(16).collect()
    sample.foreach { r =>
      if (!java.util.Arrays.equals(r.getSeq[Float](1).toArray, emb.embedText(r.getString(0)))) {
        failed += 1; notes += "ingest: an indexed embedding differs from HashEmbedder.embedText"
      }
    }
    (nDocs.toLong + sample.length, failed, notes.result().take(3))
  }

  /** (bytes, data files) under a directory, Spark's marker files aside. */
  def dirSize(dir: String): (Long, Long) = {
    val p = Paths.get(dir)
    if (!Files.exists(p)) return (0L, 0L)
    val fs = Files.walk(p).iterator().asScala.filter(Files.isRegularFile(_))
      .filter { f => val n = f.getFileName.toString; !n.startsWith(".") && !n.startsWith("_") }
      .toSeq
    (fs.map(Files.size).sum, fs.size.toLong)
  }

  def delete(dir: String): Unit = {
    val p = Paths.get(dir)
    if (Files.exists(p))
      Files.walk(p).iterator().asScala.toSeq.reverse.foreach((f: Path) => Files.deleteIfExists(f))
  }
}
