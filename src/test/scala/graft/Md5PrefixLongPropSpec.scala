package graft

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.scalacheck.{Arbitrary, Gen}
import org.scalacheck.rng.Seed
import org.scalatest.funsuite.AnyFunSuite
import graft.functions.text
import graft.operators.Multimodal.StubCodec

/** `text.md5_prefix_long(s, a, n)` equals the SQL spelling the oracles
  * use, `conv(substring(md5(s), a, n), 16, 10)::long`, for every slice
  * the kernel accepts (`n` ≤ 15, `a − 1 + n` ≤ 32):
  *  - over generated strings mixing ASCII, `İ`, `ı`, non-BMP letters and
  *    empty text, and over null (both sides are null);
  *  - over a binary column holding invalid UTF-8. The kernel takes a
  *    string, and Spark's binary → string cast keeps the raw bytes, so the
  *    digest is of the same bytes `md5` reads. StubCodec's three columns
  *    hash such bytes.
  * (Seeded Gen sampling — the scalatest/scalacheck bridge isn't on the
  * classpath, scalacheck itself is.) */
class Md5PrefixLongPropSpec extends AnyFunSuite {

  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  import spark.implicits._

  private def sample[A](g: Gen[A], n: Int): Seq[A] =
    (0 until n).flatMap(i => g.apply(Gen.Parameters.default, Seed(i.toLong)))

  private val piece: Gen[String] = Gen.frequency(
    4 -> Gen.alphaNumStr.map(_.take(8)),
    3 -> Gen.oneOf("İ", "ı", "I", "i", ":", " ", "café", "日本語"),
    2 -> Gen.oneOf("𝔘𝔫𝔦", "😀", "𐐀", "🄰"))
  private val textGen: Gen[String] =
    Gen.choose(0, 6).flatMap(n => Gen.listOfN(n, piece)).map(_.mkString)

  private val texts: Seq[String] =
    Seq("", "İ", "ı", "😀", null) ++ sample(textGen, 200)

  /** Invalid UTF-8 first (a lone continuation byte, an overlong lead, a
    * lone surrogate half, 0xFF), then random byte strings. */
  private val blobs: Seq[Array[Byte]] =
    Seq(Array(0xFF, 0x00, 0xC3, 0xD8, 0x00), Array(0x80), Array(0xC0, 0xAF),
      Array(0xED, 0xA0, 0x80), Array.empty[Int]).map(_.map(_.toByte)) ++
      sample(Gen.listOf(Arbitrary.arbitrary[Byte]).map(_.toArray), 100)

  private val slices: Seq[(Int, Int)] =
    for (n <- 1 to 15; a <- 1 to 33 - n) yield (a, n)

  private def reference(s: Column, a: Int, n: Int): Column =
    conv(substring(md5(s), a, n), 16, 10).cast("long")

  /** Row indices where kernel and reference differ, per slice, with one
    * null-safe comparison column per slice of a given length. */
  private def mismatches(df: DataFrame, s: Column): Seq[String] =
    slices.groupBy(_._2).toSeq.sortBy(_._1).flatMap { case (_, shapes) =>
      val rows = df.select(col("i") +: shapes.map { case (a, n) =>
        (text.md5_prefix_long(s, a, n) <=> reference(s, a, n)).as(s"s${a}_$n")
      }: _*).collect()
      for (r <- rows.toSeq; ((a, n), j) <- shapes.zipWithIndex
           if !r.getBoolean(j + 1))
        yield s"row ${r.getInt(0)} slice ($a,$n)"
    }

  test("property: kernel == conv(substring(md5(s), a, n)) on every slice, strings and null") {
    val df = texts.zipWithIndex.map(_.swap).toDF("i", "s")
    val bad = mismatches(df, col("s"))
    if (bad.nonEmpty) fail(s"${bad.size} mismatches:\n${bad.take(10).mkString("\n")}")
    val nulls = df.filter(col("s").isNull)
      .select(text.md5_prefix_long(col("s"), 1, 6)).collect()
    assert(nulls.length == 1 && nulls.head.isNullAt(0))
  }

  test("property: kernel == conv(substring(md5(b), a, n)) on every slice of invalid UTF-8 bytes") {
    val df = blobs.zipWithIndex.map(_.swap).toDF("i", "b")
    val bad = mismatches(df, col("b"))
    if (bad.nonEmpty) fail(s"${bad.size} mismatches:\n${bad.take(10).mkString("\n")}")
    // Spark's binary -> string -> binary round trip keeps the raw bytes
    assert(spark.sql("SELECT md5(X'FF00C3D800') = " +
      "md5(CAST(CAST(X'FF00C3D800' AS STRING) AS BINARY))").head().getBoolean(0))
    val stub = df.select(
      StubCodec.width(col("b")) === reference(col("b"), 1, 4) % 1920 + 1,
      StubCodec.height(col("b")) === reference(col("b"), 5, 4) % 1080 + 1,
      StubCodec.durationSec(col("b")) === reference(col("b"), 9, 4) % 600 + 1)
      .collect()
    assert(stub.forall(r => (0 until 3).forall(r.getBoolean)))
  }
}
