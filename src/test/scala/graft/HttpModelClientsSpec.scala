package graft

import java.net.InetSocketAddress
import java.nio.charset.StandardCharsets
import java.security.MessageDigest

import com.sun.net.httpserver.{HttpExchange, HttpServer}
import org.apache.spark.sql.SparkSession
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite
import org.json4s._
import org.json4s.jackson.JsonMethods
import graft.operators.{HttpMultiVectorEmbedder, HttpReranker, ModelRerank, TokenOverlapModel}

/** Multivector (ColPali-wire) embedding client + HTTP cross-encoder rerank
  * client against local stub servers, plus the semantics of the
  * deterministic TokenOverlapModel the serving facade reranks with. */
class HttpModelClientsSpec extends AnyFunSuite with BeforeAndAfterAll {

  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  val Dim = 4

  /** Deterministic fake multivector: one 4-d vector per whitespace token. */
  def fakeMulti(text: String): Array[Array[Float]] =
    text.split("\\s+").filter(_.nonEmpty).map { tok =>
      val h = MessageDigest.getInstance("MD5")
        .digest(tok.getBytes(StandardCharsets.UTF_8))
      Array.tabulate(Dim)(i => (h(i) & 0xff).toFloat / 255f)
    }

  private var server: HttpServer = _
  private var port: Int = _

  private def texts(body: String, field: String): Seq[String] =
    (JsonMethods.parse(body) \ field) match {
      case JArray(xs) => xs.map { case JString(s) => s; case o => o.toString }
      case JString(s) => Seq(s)
      case o          => sys.error(s"bad $field: $o")
    }

  private def respond(ex: HttpExchange, resp: String): Unit = {
    val bytes = resp.getBytes(StandardCharsets.UTF_8)
    ex.getResponseHeaders.add("Content-Type", "application/json")
    ex.sendResponseHeaders(200, bytes.length)
    ex.getResponseBody.write(bytes)
    ex.close()
  }

  override def beforeAll(): Unit = {
    server = HttpServer.create(new InetSocketAddress("127.0.0.1", 0), 0)
    server.createContext("/v1/multivector", (ex: HttpExchange) => {
      val body = new String(ex.getRequestBody.readAllBytes(), StandardCharsets.UTF_8)
      val resp = texts(body, "input").map { t =>
        fakeMulti(t).map(v => v.map(x => f"$x%.6f").mkString("[", ",", "]"))
          .mkString("""{"embedding":[""", ",", "]}")
      }.mkString("""{"data":[""", ",", "]}")
      respond(ex, resp)
    })
    server.createContext("/v1/rerank", (ex: HttpExchange) => {
      val body = new String(ex.getRequestBody.readAllBytes(), StandardCharsets.UTF_8)
      val q = texts(body, "query").head
      val docs = texts(body, "documents")
      // server-side deterministic score: token overlap (same as the CI model)
      val scores = TokenOverlapModel().scoreBatch(q, docs)
      val resp = scores.zipWithIndex.map { case (s, i) =>
        s"""{"index":$i,"relevance_score":$s}"""
      }.mkString("""{"results":[""", ",", "]}")
      respond(ex, resp)
    })
    server.start()
    port = server.getAddress.getPort
  }

  override def afterAll(): Unit = if (server != null) server.stop(0)

  test("multivector client returns one vector per token, order preserved") {
    import spark.implicits._
    val df = Seq((1L, "alpha beta gamma"), (2L, "delta")).toDF("id", "text")
    val emb = HttpMultiVectorEmbedder(s"http://127.0.0.1:$port/v1/multivector", Dim)
    val out = emb.embedMulti(df, "text", "mv")
      .select($"id", $"mv").as[(Long, Seq[Seq[Float]])].collect().sortBy(_._1)
    assert(out(0)._2.length == 3 && out(1)._2.length == 1)
    val want = fakeMulti("alpha beta gamma")
    out(0)._2.zip(want).foreach { case (got, w) =>
      got.zip(w).foreach { case (g, x) => assert(math.abs(g - x) < 1e-5f) }
    }
    // query side matches the distributed side
    val q = emb.embedTextMulti("alpha beta gamma")
    assert(q.length == 3 && math.abs(q(0)(0) - want(0)(0)) < 1e-5f)
  }

  test("HTTP reranker reproduces the deterministic model's ranking end to end") {
    import spark.implicits._
    val candidates = Seq(
      (1L, "the fast table scan"),
      (2L, "slow row stream"),
      (3L, "fast table scan merge sort filter"),
      (4L, "unrelated words only")).toDF("doc_id", "content")
    val query = "fast table scan merge"
    val http = ModelRerank.rerank(candidates, "doc_id", "content", query, 3,
      HttpReranker(s"http://127.0.0.1:$port/v1/rerank"))
      .select("doc_id").as[Long].collect().toSeq
    val local = ModelRerank.rerank(candidates, "doc_id", "content", query, 3,
      TokenOverlapModel())
      .select("doc_id").as[Long].collect().toSeq
    assert(http == local)
    assert(http.head == 3L) // all four query tokens present
  }

  test("reranker edge cases: empty input, [0,1] scores, descending order") {
    // ports test_reranker.py::test_reranker_empty_and_edge_cases +
    // test_reranker_score_distribution to the deterministic CI model
    import spark.implicits._
    val empty = ModelRerank.rerank(
      Seq.empty[(Long, String)].toDF("doc_id", "content"),
      "doc_id", "content", "any query", 5, TokenOverlapModel())
    assert(empty.count() == 0)
    val cands = Seq(
      (1L, "machine learning and data science text here"),
      (2L, "the quick brown fox jumps over the lazy dog"),
      (3L, "machine learning")).toDF("doc_id", "content")
    val scores = ModelRerank.rerank(cands, "doc_id", "content",
      "machine learning data science", 3, TokenOverlapModel())
      .select("rerank_score").as[Double].collect().toSeq
    assert(scores.forall(s => s >= 0.0 && s <= 1.0))
    assert(scores == scores.sorted.reverse)
    assert(scores.distinct.size > 1)
  }

  test("TokenOverlapModel: case, whitespace, repeats, empty, null and non-BMP text; the oracle formula") {
    val m = TokenOverlapModel()
    def score(q: String, p: String): Double = m.scoreBatch(q, Seq(p)).head
    // case folds with text.fold (ICU root), whatever the JVM's default
    // locale: under tr, "TITLE".toLowerCase() is "tıtle" (dotless i)
    val saved = java.util.Locale.getDefault
    java.util.Locale.setDefault(java.util.Locale.forLanguageTag("tr"))
    try assert(score("TITLE Index", "title INDEX") == 1.0)
    finally java.util.Locale.setDefault(saved)
    // tokens are whitespace runs: tabs and newlines separate, punctuation sticks
    assert(score("fast table scan", "fast\ttable\n\nscan") == 1.0)
    assert(score("scan merge", "a scan, then merge.") == 0.0)
    assert(score("scan, merge.", "a scan, then merge.") == 1.0)
    // repeated tokens count once on both sides
    assert(score("scan scan merge", "scan scan scan") == 0.5)
    // an empty query scores every passage 0.0; a null passage scores 0.0
    assert(m.scoreBatch("", Seq("scan", null)) == Seq(0.0, 0.0))
    assert(m.scoreBatch(" \t ", Seq("scan")) == Seq(0.0))
    assert(score("scan", null) == 0.0)
    // non-BMP text: surrogate pairs stay whole and fold case (U+10400 -> U+10428)
    assert(score("\uD801\uDC00 \uD83D\uDE00", "\uD801\uDC28 x \uD83D\uDE00") == 1.0)
    assert(score("\uD83D\uDE00", "\uD83D\uDE01") == 0.0)
    // the facade's reranking of the removed Column-twin comparison's input
    import spark.implicits._
    val candidates = Seq(
      (1L, "the fast table scan"),
      (2L, "slow row stream"),
      (3L, "fast table scan merge sort filter")).toDF("doc_id", "content")
    val ranked = ModelRerank.rerank(candidates, "doc_id", "content",
      "fast table scan merge", 3, TokenOverlapModel())
      .select("doc_id", "rerank_score").as[(Long, Double)].collect().toSeq
    assert(ranked == Seq((3L, 1.0), (1L, 0.75), (2L, 0.0)))
    // the r1_rerank oracle's formula, stated apart from the model:
    // |distinct passage tokens ∩ distinct query tokens| / |distinct query tokens|
    def toks(s: String): Seq[String] =
      s.toLowerCase(java.util.Locale.ROOT).replaceAll("\\s+", " ").split(" ")
        .filter(_.nonEmpty).toSeq
    def oracle(q: String, p: String): Double = {
      val qs = toks(q).distinct
      if (qs.isEmpty) 0.0 else toks(p).distinct.count(qs.contains).toDouble / qs.length
    }
    val rnd = new scala.util.Random(7)
    val vocab = Seq("Scan", "scan", "MERGE", "table,", "\uD83D\uDE00", "fast", "the", "")
    val seps = Seq(" ", "  ", "\t", "\n", " \r\n ")
    def text(): String = Seq.fill(rnd.nextInt(7))(vocab(rnd.nextInt(vocab.size)))
      .map(_ + seps(rnd.nextInt(seps.size))).mkString
    (1 to 300).foreach { _ =>
      val (q, p) = (text(), text())
      assert(score(q, p) == oracle(q, p), s"query '$q', passage '$p'")
    }
  }
}
