package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.operators.Corpus

/** Quality of the trained Cavnar–Trenkle language ID on a planted
  * multilingual fixture (the t34 oracle proves engine-equivalence of the
  * arithmetic; the registry corpus draws all languages from one vocabulary,
  * so classification quality must be proven here, on text that actually
  * differs by language — the DedupSpec planted-pair convention). */
class LangIdSpec extends AnyFunSuite {

  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  import spark.implicits._

  private val de = "der hund und die katze sind nicht im haus aber der mann ist hier und die frau auch nicht"
  private val en = "the dog and the cat are not in the house but the man is here and the woman also not"
  private val fr = "le chien et le chat ne sont pas dans la maison mais le homme est ici et la femme aussi"

  private def mix(s: String, seed: Int): String = {
    val w = s.split(" "); val r = new scala.util.Random(seed)
    Seq.fill(30)(w(r.nextInt(w.length))).mkString(" ")
  }

  // ids 0-2: labeled seeds (one per language); 10+: unlabeled docs drawn
  // from one language's word distribution each
  private def corpus = (Seq(
    (0L, "de", de), (1L, "en", en), (2L, "fr", fr)) ++
    (0 until 12).map { i =>
      val lang = Seq("de", "en", "fr")(i % 3)
      val src = Map("de" -> de, "en" -> en, "fr" -> fr)(lang)
      (10L + i, lang, mix(src, i))
    }).toDF("doc_id", "lang", "text")

  test("every unlabeled doc classifies to its true language on distinct-vocabulary text") {
    val out = Corpus.langIdTrained(corpus, "doc_id", "text", "lang",
      isSeed = col("doc_id") < 10)
      .join(corpus.select(col("doc_id").as("id"), col("lang")), "id")
      .select("id", "lang", "pred").collect()
    assert(out.length === 12)
    out.foreach(r => assert(r.getString(2) === r.getString(1),
      s"doc ${r.getLong(0)}: predicted ${r.getString(2)}, true ${r.getString(1)}"))
  }

  test("deterministic: identical output across runs and partitionings") {
    def run(parts: Int) = Corpus.langIdTrained(
      corpus.repartition(parts), "doc_id", "text", "lang",
      isSeed = col("doc_id") < 10)
      .orderBy("id").collect().map(_.toSeq).toSeq
    assert(run(1) === run(7))
  }

  test("docs shorter than the n-gram width are dropped, not misclassified") {
    val tiny = (Seq((0L, "de", de), (1L, "en", en)) ++
      Seq((10L, "en", "ab"), (11L, "en", mix(en, 3)))).toDF("doc_id", "lang", "text")
    val ids = Corpus.langIdTrained(tiny, "doc_id", "text", "lang",
      isSeed = col("doc_id") < 10).select("id").collect().map(_.getLong(0))
    assert(ids.toSeq === Seq(11L))
  }

  test("docM > profileK is refused; docM == profileK still scores") {
    // matched-only scoring equals the out-of-place argmin only while every
    // doc rank is <= profileK; past it the answer would be silently wrong
    val e = intercept[IllegalArgumentException] {
      Corpus.langIdTrained(corpus, "doc_id", "text", "lang",
        isSeed = col("doc_id") < 10, profileK = 5, docM = 6)
    }
    assert(e.getMessage.contains("docM <= profileK"))
    assert(Corpus.langIdTrained(corpus, "doc_id", "text", "lang",
      isSeed = col("doc_id") < 10, profileK = 5, docM = 5).count() === 12)
  }

  test("no labeled seed docs: zero rows, not a null prediction per doc") {
    val out = Corpus.langIdTrained(corpus, "doc_id", "text", "lang",
      isSeed = lit(false)).collect()
    assert(out.isEmpty, s"expected no predictions, got ${out.toSeq}")
  }
}
