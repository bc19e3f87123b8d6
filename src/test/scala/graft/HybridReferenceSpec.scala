package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.GraftService._
import graft.operators.{FullText, HashEmbedder}

/** The single-scan `FullText.bm25` and the driver-fused
  * `GraftService.retrieveChunksHybrid` return what the explode/groupBy/
  * window BM25 and the full-outer-join RRF plan ([[HybridReference]])
  * return: the same rows in the same order, the same ranks, `n_terms` and
  * schema, scores within 1e-12 — on the FullTextSpec and GraftServiceSpec
  * fixtures and on edge inputs (empty and all-whitespace queries,
  * duplicate and absent terms, an empty scope, k above the candidate pool,
  * empty and null content, non-BMP text and ids). */
class HybridReferenceSpec extends AnyFunSuite {

  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  import spark.implicits._

  lazy val emb = HashEmbedder(64)

  /** Row for row: `approx` columns within 1e-12, every other one equal. */
  private def assertSame(got: DataFrame, want: DataFrame, approx: Set[String],
                         clue: String): Unit = {
    assert(got.schema == want.schema, s"$clue: schema")
    val g = got.collect(); val w = want.collect()
    assert(g.length == w.length, s"$clue: row count")
    g.zip(w).zipWithIndex.foreach { case ((gr, wr), n) =>
      want.columns.indices.foreach { i =>
        val name = want.columns(i)
        if (approx(name))
          assert(math.abs(gr.getDouble(i) - wr.getDouble(i)) <= 1e-12,
            s"$clue: row $n $name ${gr.get(i)} vs ${wr.get(i)}")
        else assert(gr.get(i) == wr.get(i), s"$clue: row $n $name")
      }
    }
  }

  private def assertSameBm25(docs: DataFrame, terms: Seq[String], k: Int): Unit =
    assertSame(FullText.bm25(docs, "doc_id", "text", terms, k),
      HybridReference.bm25(docs, "doc_id", "text", terms, k), Set("score"),
      s"bm25 $terms k=$k")

  private def textDocs = Seq[(Long, String)](
    (0L, "spark spark spark engine"),
    (1L, "spark engine engine engine"),
    (2L, "engine room"),
    (3L, "spark"),
    (4L, ""),
    (5L, null),
    (6L, "   \t  "),
    (7L, "Spark SPARK room  engine"),
    (8L, "𝔘𝔫𝔦 spark 😀 😀 engine"),
    (9L, "room room room spark engine")
  ).toDF("doc_id", "text")

  private val termSets = Seq(
    Seq("spark"), Seq("spark", "room"), Seq("spark", "engine", "room"),
    Seq("room", "engine", "spark"),
    Seq("spark", "spark", "engine", "spark"),              // duplicates
    Seq("zzz"), Seq("zzz", "room"), Seq("Spark"),         // absent terms
    Seq.empty[String], Seq(""),
    Seq("😀", "𝔘𝔫𝔦"))  // non-BMP

  test("bm25 equals the explode/groupBy/window plan on the FullTextSpec corpus") {
    val docs = textDocs.filter(col("doc_id") <= 3)
    for (t <- Seq(Seq("spark"), Seq("spark", "room"), Seq("spark", "engine")); k <- Seq(1, 2, 10))
      assertSameBm25(docs, t, k)
  }

  test("bm25 edge inputs: empty/absent/duplicate terms, empty and null text, " +
    "non-BMP text, empty corpus, k above the pool") {
    for (t <- termSets; k <- Seq(1, 3, 100)) assertSameBm25(textDocs, t, k)
    for (t <- termSets.take(3)) assertSameBm25(textDocs.filter(lit(false)), t, 10)
  }

  test("bm25 edge inputs: string ids tie-break in UTF-8 binary order") {
    // equal scores; U+FF21 sorts after U+1F600 in UTF-16 but before it in UTF-8
    val docs = Seq("Ａ", "😀", "b", "a", "Ａx")
      .map(id => (id, "spark engine")).toDF("doc_id", "text")
    for (k <- Seq(1, 2, 5)) assertSameBm25(docs, Seq("spark", "engine"), k)
  }

  /** The GraftServiceSpec 3x3 chunk table plus a 4th doc holding an empty
    * chunk and a non-BMP one. */
  lazy val chunkTable: ChunkTable = {
    val rows = (for {
      d <- 1 to 3
      n <- 0 until 3
    } yield {
      val content = d match {
        case 1 => s"spark query engine chunk $n"
        case 2 => s"cooking pasta recipe part $n"
        case 3 => s"spark cluster tuning note $n"
      }
      (d.toLong, n, content,
        Map("year" -> (2020 + d).toString, "dept" -> (if (d == 2) "food" else "eng")),
        Map("year" -> "number", "dept" -> "string"),
        if (d == 3) "app2" else "app1",
        s"user$d",
        if (d == 1) "/proj/spark" else if (d == 3) "/proj/spark/deep" else "/other")
    }) ++ Seq(
      (4L, 0, "", Map("dept" -> "eng"), Map("dept" -> "string"), "app1", "user4", "/proj"),
      (4L, 1, "𝔘𝔫𝔦 spark 😀 engine",
        Map("dept" -> "eng"), Map("dept" -> "string"), "app1", "user4", "/proj"))
    val df = rows.toDF("document_id", "chunk_number", "content",
      "metadata", "metadata_types", "app_id", "end_user_id", "folder_path")
    ChunkTable(emb.embed(df, "content", "embedding"))
  }

  private def assertSameHybrid(req: RetrieveRequest, t: ChunkTable): Unit =
    assertSame(retrieveChunksHybrid(req, t, emb),
      HybridReference.retrieveChunksHybrid(req, t, emb), Set("rrf", "score"),
      s"hybrid '${req.queryText}' k=${req.k} app=${req.appId}")

  test("hybrid equals the full-outer-join RRF plan on the GraftServiceSpec requests") {
    Seq(
      RetrieveRequest("spark query engine chunk 0", k = 5, appId = Some("app1")),
      RetrieveRequest("spark query engine", k = 3, appId = Some("app1")),
      RetrieveRequest("zzzzz qqqqq", k = 3, appId = Some("app1")),
      RetrieveRequest("spark", k = 10,
        filters = Some("""{"dept": "eng", "year": {"$gte": 2021}}"""),
        folderPath = Some("/proj/spark"), folderDepth = -1),
      RetrieveRequest("cooking pasta recipe part 1", k = 4),
      RetrieveRequest("spark cluster tuning note 2", k = 2)
    ).foreach(assertSameHybrid(_, chunkTable))
  }

  test("hybrid edge inputs: empty/whitespace query, duplicate and absent terms, " +
    "empty scope, k above the pool, empty and non-BMP chunks") {
    Seq(
      RetrieveRequest("", k = 5),
      RetrieveRequest("  \t ", k = 5, appId = Some("app1")),
      RetrieveRequest("spark spark engine SPARK", k = 5),
      RetrieveRequest("zzz", k = 5),
      RetrieveRequest("spark engine", k = 5, appId = Some("nobody")),
      RetrieveRequest("spark engine", k = 100),
      RetrieveRequest("😀 𝔘𝔫𝔦", k = 3),
      RetrieveRequest("spark 😀", k = 1, appId = Some("app1"))
    ).foreach(assertSameHybrid(_, chunkTable))
  }

  test("hybrid edge inputs: rrf ties between string doc ids order in UTF-8 binary order") {
    // rrf ties arise when one chunk is dense #1 / keyword #2 and another
    // dense #2 / keyword #1; ids straddle the UTF-16 vs UTF-8 order split
    val ids = Seq("Ａ", "😀", "a")
    val rows = for (d <- ids; n <- 0 until 2)
      yield (d, n, s"spark engine note ${d.length} $n", Map.empty[String, String],
        Map.empty[String, String], "app1", "u", "/")
    val t = ChunkTable(emb.embed(rows.toDF("document_id", "chunk_number", "content",
      "metadata", "metadata_types", "app_id", "end_user_id", "folder_path"),
      "content", "embedding"))
    for (q <- Seq("spark engine", "note 1 0", "note 2 1 spark"); k <- Seq(1, 2, 3, 6))
      assertSameHybrid(RetrieveRequest(q, k = k), t)
    // the fixture must actually hold a tie across ids, or it proves nothing
    val scores = retrieveChunksHybrid(RetrieveRequest("spark engine", k = 6), t, emb)
      .select("document_id", "score").as[(String, Double)].collect().toSeq
    assert(scores.sliding(2).exists(p => p.head._2 == p.last._2 && p.head._1 != p.last._1),
      s"no rrf tie across doc ids in $scores")
  }
}
