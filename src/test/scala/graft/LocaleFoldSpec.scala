package graft

import java.util.Locale

import org.apache.spark.sql.{Row, SparkSession}
import org.scalatest.funsuite.AnyFunSuite
import graft.GraftService._
import graft.filters.MetadataFilter
import graft.operators.{ContentType, HashEmbedder}

/** No answer depends on the JVM's default locale: under `tr`, where
  * `"I".toLowerCase` is a dotless `ı`, the serving arms, MIME detection and
  * metadata type names answer as under `en`. */
class LocaleFoldSpec extends AnyFunSuite {

  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  import spark.implicits._

  private def underLocale[A](tag: String)(body: => A): A = {
    val saved = Locale.getDefault
    Locale.setDefault(Locale.forLanguageTag(tag))
    try body finally Locale.setDefault(saved)
  }

  private lazy val chunks = ChunkTable(HashEmbedder(64).embed(
    Seq((1L, 0, "index build notes"), (2L, 0, "cooking pasta recipe"))
      .toDF("document_id", "chunk_number", "content"), "content", "embedding"))

  private def answers(): (Seq[Row], Seq[Row]) = {
    val req = RetrieveRequest("INDEX", k = 2)
    (retrieveChunksHybrid(req, chunks)
      .select("document_id", "dense_rank", "keyword_rank", "rrf").collect().toSeq,
     retrieveChunks(req, chunks).select("document_id", "score").collect().toSeq)
  }

  test("a hybrid and a dense read for INDEX answer under tr as under en") {
    val (hybridEn, denseEn) = underLocale("en")(answers())
    val (hybridTr, denseTr) = underLocale("tr")(answers())
    assert(hybridEn.head.getLong(0) == 1L && hybridEn.head.getLong(2) == 1L)
    assert(math.abs(denseEn.head.getDouble(1) - 1 / math.sqrt(3)) < 1e-6)
    assert(hybridTr.head.getLong(0) == 1L)
    assert(!hybridTr.head.isNullAt(2), "tr: INDEX lost its keyword hit")
    assert(math.abs(denseTr.head.getDouble(1) - 1 / math.sqrt(3)) < 1e-6,
      s"tr: dense score ${denseTr.head.getDouble(1)}")
    assert(hybridTr == hybridEn)
    assert(denseTr == denseEn)
  }

  test("ContentType.detect maps an upper-case extension under tr") {
    underLocale("tr") {
      assert(ContentType.detect(None, Some("PHOTO.GIF"), None) == "image/gif")
      assert(ContentType.detect(None, None, Some("IMAGE/PNG; q=1")) == "image/png")
    }
  }

  test("MetadataFilter.canonicalType accepts an upper-case type name under tr") {
    underLocale("tr") {
      assert(MetadataFilter.canonicalType("INT") == "number")
      assert(MetadataFilter.canonicalType("LIST") == "array")
    }
  }
}
