package graft

import java.util.Locale

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.scalacheck.Gen
import org.scalacheck.rng.Seed
import org.scalatest.funsuite.AnyFunSuite
import graft.functions.text

/** The query side and the document side fold case alike: the Scala
  * `text.fold` / `text.words` equal the Column `text.fold` / `text.tokens`
  * on generated text, under an `en` and a `tr` default locale. The text
  * mixes ASCII words with the letters whose fold depends on a locale or on
  * context (İ ı I i, a final sigma, ẞ, ǅ), non-BMP letters, every
  * whitespace `\s` matches (tab, newline, `\u000B`, form feed, carriage
  * return) and one it does not (no-break space), and empty text.
  *
  * Null convention: the fold of null is null on both sides; the Column
  * `text.tokens` of null is a null array and `text.words(null)` is empty,
  * so null text has no words on either side.
  * (Seeded Gen sampling — the scalatest/scalacheck bridge isn't on the
  * classpath, scalacheck itself is.) */
class TextFoldPropSpec extends AnyFunSuite {

  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  import spark.implicits._

  private val piece: Gen[String] = Gen.frequency(
    4 -> Gen.alphaNumStr.map(_.take(6)),
    4 -> Gen.oneOf("INDEX", "café", "İ", "ı", "I", "i", "TITLE", "ΟΔΟΣ", "Σ",
      "ΣΑΣ", "ẞ", "ß", "ǅ", "Ǆ", "É", "ÀÉÎÕÜ"),
    2 -> Gen.oneOf("𝔘𝔫𝔦", "😀", "\uD801\uDC00", "\uD801\uDC28", "\uD83C\uDD30"),
    4 -> Gen.oneOf(" ", "  ", "\t", "\n", "\u000B", "\f", "\r\n", "\u00A0"))
  private val textGen: Gen[String] =
    Gen.choose(0, 12).flatMap(n => Gen.listOfN(n, piece)).map(_.mkString)

  private val texts: Seq[String] = {
    val params = Gen.Parameters.default
    val sampled = (0 until 300).flatMap(i => textGen.apply(params, Seed(i.toLong)))
    Seq("", " ", "INDEX café", "INDEX build", "ΟΔΟΣ ΟΔΟΣ.", "\u000B\t\n") ++ sampled
  }

  private def underLocale[A](tag: String)(body: => A): A = {
    val saved = Locale.getDefault
    Locale.setDefault(Locale.forLanguageTag(tag))
    try body finally Locale.setDefault(saved)
  }

  /** The Column side over a scanned column (whole-stage codegen) and over
    * literals (constant-folded by the optimizer), beside the Scala side. */
  private def checkAgree(): Unit = {
    val scanned = texts.zipWithIndex.map(_.swap).toDF("i", "s")
      .select(col("i"), text.fold(col("s")), text.tokens(col("s")))
      .as[(Int, String, Seq[String])].collect().sortBy(_._1)
    assert(scanned.length == texts.length)
    scanned.foreach { case (i, folded, toks) =>
      val s = texts(i)
      assert(folded == text.fold(s), s"fold of ${s.map(_.toInt.toHexString)}")
      assert(toks == text.words(s), s"tokens of ${s.map(_.toInt.toHexString)}")
    }
    val lits = texts.take(60)
    val row = spark.range(1).select(lits.flatMap(s =>
      Seq(text.fold(lit(s)), text.tokens(lit(s)))): _*).head()
    lits.zipWithIndex.foreach { case (s, j) =>
      assert(row.getString(2 * j) == text.fold(s))
      assert(row.getSeq[String](2 * j + 1) == text.words(s))
    }
  }

  for (tag <- Seq("en", "tr"))
    test(s"text.words equals text.tokens and the two folds agree under the default locale $tag") {
      underLocale(tag)(checkAgree())
    }

  test("the fold is ICU root lower-casing whatever the default locale") {
    underLocale("tr") {
      assert(text.fold("INDEX café") == "index café")
      assert(text.words("TITLE\u000BIndex\t\t\u0130") == Seq("title", "index", "i\u0307"))
      assert(text.fold("ΟΔΟΣ ΟΔΟΣ.") == "\u03bf\u03b4\u03bf\u03c2 \u03bf\u03b4\u03bf\u03c2.")
      assert(text.fold("\u1E9E \u01C5 \uD801\uDC00") == "\u00DF \u01C6 \uD801\uDC28")
      val row = Seq("INDEX café").toDF("s")
        .select(text.fold(col("s")), text.normalize(col("s"))).head()
      assert(row.getString(0) == "index café" && row.getString(1) == "index café")
      // the Column fold hands back the plain binary string type
      assert(Seq("A").toDF("s").select(text.fold(col("s"))).schema.head.dataType ==
        org.apache.spark.sql.types.StringType)
    }
  }

  test("null convention: null folds to null and has no words on either side") {
    assert(text.fold(null: String) == null)
    assert(text.words(null).isEmpty)
    val row = Seq(Option.empty[String]).toDF("s")
      .select(text.fold(col("s")), text.tokens(col("s"))).head()
    assert(row.isNullAt(0) && row.isNullAt(1))
  }
}
