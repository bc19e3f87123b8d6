package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** r18 kernel gates: the compiled n-gram kernels must be EXACTLY equal —
  * element order, duplicates, empty/null handling, non-BMP text — to the
  * bind-once HOF formulations they replaced (the r17 R17KernelSpec
  * convention). The old formulations are reproduced verbatim here as the
  * reference implementations. */
class R18KernelSpec extends AnyFunSuite {

  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  import graft.functions.text

  // --- the replaced HOF formulations, verbatim (round-12 bodies) ---

  private def oldCharShingles(c: Column, n: Int): Column =
    element_at(transform(array(struct(text.normalize(c).as("s"))), p => {
      val norm = p.getField("s")
      when(length(norm) >= n,
        array_distinct(transform(sequence(lit(1), length(norm) - (n - 1)),
          i => norm.substr(i, lit(n)))))
        .otherwise(array())
    }), 1)

  private def oldCharNgramsAll(normCol: Column, n: Int): Column =
    transform(sequence(lit(1), length(normCol) - (n - 1)),
      i => normCol.substr(i, lit(n)))

  private def oldWordShingles(c: Column, n: Int): Column =
    element_at(transform(array(struct(text.tokens(c).as("t"))), p => {
      val toks = p.getField("t")
      when(size(toks) >= n,
        array_distinct(transform(sequence(lit(0), size(toks) - n),
          i => concat_ws(" ", (0 until n).map(j =>
            element_at(toks, (i + lit(j + 1)).cast("int"))): _*))))
        .otherwise(array())
    }), 1)

  private def oldWordShinglesMulti(c: Column, ns: Seq[Int],
                                   distinct: Boolean): Column =
    element_at(transform(array(struct(text.tokens(c).as("t"))), p => {
      val toks = p.getField("t")
      def dedup(gs: Column): Column = if (distinct) array_distinct(gs) else gs
      array(ns.map { n =>
        struct(lit(n.toLong).as("rung"),
          when(size(toks) >= n,
            dedup(transform(sequence(lit(0), size(toks) - n),
              i => concat_ws(" ", (0 until n).map(j =>
                element_at(toks, (i + lit(j + 1)).cast("int"))): _*))))
            .otherwise(array().cast("array<string>")).as("gs"))
      }: _*)
    }), 1)

  /** Fixture rows: real corpus text + adversarial cases — multibyte and
    * non-BMP chars (the code-point window rule), duplicate grams, repeated
    * whitespace, short/empty strings, and a null. */
  private lazy val fixture = {
    val docs = spark.read
      .parquet("/root/testdata/sf0.001/documents.parquet")
      .select(col("text")).limit(40)
    val edge = spark.createDataFrame(Seq(
      Tuple1("a b a b a b"),
      Tuple1("  x  "),
      Tuple1(""),
      Tuple1("ab"),
      Tuple1("añejo café 日本語テキスト𝔘𝔫𝔦 🙂🙂 test"),
      Tuple1("one two three two one two"),
      Tuple1(null.asInstanceOf[String])
    )).toDF("text")
    docs.unionByName(edge)
  }

  private def assertSame(oldC: Column, newC: Column, what: String): Unit = {
    val rows = fixture.select(oldC.as("o"), newC.as("n")).collect()
    rows.zipWithIndex.foreach { case (r, i) =>
      assert(r.get(0) == r.get(1),
        s"$what diverged at fixture row $i:\nold=${r.get(0)}\nnew=${r.get(1)}")
    }
  }

  test("char_shingles kernel == round-12 HOF (distinct, order, non-BMP)") {
    for (n <- Seq(2, 3, 5))
      assertSame(
        coalesce(oldCharShingles(col("text"), n), array()),
        text.char_shingles(col("text"), n), s"char_shingles n=$n")
  }

  test("char_ngrams_all kernel == raw transform sweep (duplicates kept)") {
    // the t34 shape: per-position grams over pre-normalized text with
    // length >= n guaranteed (the operator filters first)
    val norm = text.normalize(col("text"))
    for (n <- Seq(3)) {
      val rows = fixture
        .select(norm.as("nm"))
        .filter(length(col("nm")) >= n)
        .select(oldCharNgramsAll(col("nm"), n).as("o"),
          text.char_ngrams_all(col("nm"), n).as("n")).collect()
      rows.zipWithIndex.foreach { case (r, i) =>
        assert(r.get(0) == r.get(1), s"char_ngrams_all diverged at row $i") }
    }
  }

  test("word_shingles kernel == round-12 HOF") {
    for (n <- Seq(2, 3, 4, 5))
      assertSame(
        coalesce(oldWordShingles(col("text"), n), array().cast("array<string>")),
        text.word_shingles(col("text"), n), s"word_shingles n=$n")
  }

  test("top_grams kernel == groupBy+window formulation (t34's doc profile)") {
    import org.apache.spark.sql.expressions.Window
    val n = 3; val m = 5 // small m so rank ties at the boundary are exercised
    val base = fixture.select(text.normalize(col("text")).as("norm"))
      .filter(length(col("norm")) >= n)
      .withColumn("id", monotonically_increasing_id())
    val reference = base
      .select(col("id"), explode(text.char_ngrams_all(col("norm"), n)).as("gram"))
      .groupBy("id", "gram").agg(count(lit(1)).as("c"))
      .withColumn("drank", row_number().over(
        Window.partitionBy("id").orderBy(col("c").desc, col("gram"))))
      .filter(col("drank") <= m)
      .select(col("id"), col("gram"), col("drank").cast("long").as("drank"))
    val kernel = base
      .select(col("id"),
        explode(graft.functions.NgramExpressions.top_grams(col("norm"), n, m))
          .as("tg"))
      .select(col("id"), col("tg.gram").as("gram"), col("tg.drank").as("drank"))
    val ref = reference.collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2))).sorted
    val ker = kernel.collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2))).sorted
    assert(ref.length > 0 && ref.sameElements(ker),
      s"top_grams diverged:\nref=${ref.take(20).mkString(",")}\nker=${ker.take(20).mkString(",")}")
  }

  test("md5_prefix_long kernel == conv(substring(md5)) for every used slice") {
    val s = col("text")
    // every (start, len) shape used by the repo's call sites, including
    // odd (non-byte-aligned) starts
    for ((a, b) <- Seq((1, 15), (1, 6), (1, 8), (3, 13), (9, 8), (5, 2),
                       (1, 2), (2, 7), (4, 4), (1, 4), (5, 4), (9, 4), (1, 12))) {
      val rows = fixture.select(
        conv(substring(md5(s), a, b), 16, 10).cast("long").as("o"),
        text.md5_prefix_long(s, a, b).as("n")).collect()
      rows.zipWithIndex.foreach { case (r, i) =>
        assert(r.get(0) == r.get(1),
          s"md5_prefix_long($a,$b) diverged at row $i: ${r.get(0)} vs ${r.get(1)}") }
    }
  }

  test("shingle_hash kernel == two-conv Column form across seeds") {
    val s = coalesce(col("text"), lit(""))
    def oldForm(seed: Column, sh: Column): Column = {
      val h1 = conv(substring(md5(sh), 1, 8), 16, 10).cast("long")
      val h2 = conv(substring(md5(sh), 9, 8), 16, 10).cast("long")
      (h1 + seed.cast("long") * h2).bitwiseAND(lit(4294967295L))
    }
    for (seed <- Seq(0, 1, 7, 15)) {
      val rows = fixture.select(
        oldForm(lit(seed), s).as("o"),
        text.shingle_hash(lit(seed), s).as("n")).collect()
      rows.zipWithIndex.foreach { case (r, i) =>
        assert(r.get(0) == r.get(1),
          s"shingle_hash(seed=$seed) diverged at row $i") }
    }
  }

  test("word_shingles_multi kernel == round-12 HOF (both distinct modes)") {
    for (d <- Seq(true, false))
      assertSame(
        coalesce(oldWordShinglesMulti(col("text"), Seq(1, 3, 5), d),
          typedLit(Seq.empty[(Long, Seq[String])])
            .cast("array<struct<rung:bigint,gs:array<string>>>")),
        text.word_shingles_multi(col("text"), Seq(1, 3, 5), d),
        s"word_shingles_multi distinct=$d")
  }
}
