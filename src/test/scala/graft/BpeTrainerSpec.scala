package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite
import graft.operators.BpeTrainer

/** Semantic laws for BPE training: the t41 oracle proves engine-
  * equivalence of the unrolled replay; this proves the loop IS learn_bpe —
  * equal to an independent fold-left reference (explicit symbol lists, no
  * string replace), including the symbol-run case the doubled-space
  * encoding exists for. */
class BpeTrainerSpec extends AnyFunSuite {

  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  import spark.implicits._

  /** Reference learn_bpe: word-frequency map of symbol vectors; per step
    * all-adjacent weighted pair counts, (freq desc, l, r) argmax, fold-left
    * merge (acc.last==l && cur==r ⇒ replace last with l+r). */
  private def reference(texts: Seq[String], n: Int): Seq[(Long, String, String, Long)] = {
    val norm = texts.map(_.toLowerCase.replaceAll("\\s+", " ").trim)
    var words: Map[Vector[String], Long] = norm.flatMap(_.split(" ")).filter(_.nonEmpty)
      .groupBy(w => w.map(_.toString).toVector)
      .map { case (k, v) => k -> v.size.toLong }
    val out = scala.collection.mutable.ArrayBuffer.empty[(Long, String, String, Long)]
    for (step <- 1 to n) {
      val pc = scala.collection.mutable.Map.empty[(String, String), Long]
      for ((syms, c) <- words; Seq(a, b) <- syms.sliding(2) if syms.size >= 2)
        pc((a, b)) = pc.getOrElse((a, b), 0L) + c
      if (pc.nonEmpty) {
        val ((l, r), f) = pc.minBy { case ((a, b), c) => (-c, a, b) }
        out += ((step.toLong, l, r, f))
        words = words.toSeq.map { case (syms, c) =>
          val acc = scala.collection.mutable.ArrayBuffer.empty[String]
          for (s <- syms) {
            if (acc.nonEmpty && acc.last == l && s == r) acc(acc.size - 1) = l + r
            else acc += s
          }
          (acc.toVector, c)
        }.groupBy(_._1).map { case (k, v) => k -> v.map(_._2).sum }
      }
    }
    out.toSeq
  }

  private def train(texts: Seq[String], n: Int): Seq[(Long, String, String, Long)] =
    BpeTrainer.train(texts.zipWithIndex.map { case (t, i) => (i.toLong, t) }
      .toDF("id", "text"), "text", n)
      .as[(Long, String, String, Long)].collect().toSeq.sortBy(_._1)

  test("classic corpus: merges match the reference step for step") {
    val corpus = Seq("low low low low low", "lower lower", "newest newest newest",
      "newest newest newest", "widest widest widest")
    assert(train(corpus, 10) == reference(corpus, 10))
  }

  test("driver replay == distributed ladder (r18 rule-17 split)") {
    // driverWordCap=0 forces the distributed path; default takes the
    // driver replay — both must produce the identical merge table,
    // including on symbol runs and tie-heavy corpora
    val corpus = Seq("low low low low low", "aaaa aaaa bb bb",
      "newest newest newest", "ab ab ba ba ab", "widest widest")
    val df = corpus.zipWithIndex.map { case (t, i) => (i.toLong, t) }
      .toDF("id", "text")
    val driver = BpeTrainer.train(df, "text", 12)
      .as[(Long, String, String, Long)].collect().toSeq.sortBy(_._1)
    val dist = BpeTrainer.train(df, "text", 12, driverWordCap = 0)
      .as[(Long, String, String, Long)].collect().toSeq.sortBy(_._1)
    assert(driver == dist)
  }

  test("symbol runs merge leftmost-pairwise (aaaa → aa+aa, not aa+a+a)") {
    // 'aaaa' x3 forces merge1=(a,a) f=9; if runs merged wrong, step 2
    // would see pair (aa,a) instead of (aa,aa)
    val corpus = Seq("aaaa aaaa aaaa")
    val m = train(corpus, 2)
    assert(m(0)._2 == "a" && m(0)._3 == "a" && m(0)._4 == 9L)
    assert(m(1) == (2L, "aa", "aa", 3L), s"run merged wrong: ${m(1)}")
    assert(m == reference(corpus, 2))
  }

  test("random corpora: engine equals reference across ties and merges") {
    val rnd = new scala.util.Random(23)
    for (trial <- 1 to 3) {
      val corpus = Seq.fill(30)(
        Seq.fill(6)(Seq.fill(2 + rnd.nextInt(6))(('a' + rnd.nextInt(4)).toChar)
          .mkString).mkString(" "))
      assert(train(corpus, 12) == reference(corpus, 12), s"trial=$trial")
    }
  }

  test("stops early when no pairs remain") {
    assert(train(Seq("a b c d"), 5).isEmpty) // all words single-symbol
  }

  test("roundtrip: encoding with the LEARNED merges matches a reference greedy encode") {
    // the full tokenizer lifecycle — train on the corpus, then encode the
    // corpus with the learned table via the t25 expression
    val corpus = Seq("low low lower lowest", "newer newest new low")
    val merges = train(corpus, 8).map(m => (m._2, m._3))
    assert(merges.nonEmpty)
    val got = corpus.zipWithIndex.map { case (t, i) => (i.toLong, t) }
      .toDF("id", "text")
      .select($"id", graft.functions.BpeTokenizer.bpe_encode($"text", merges).as("tok"))
      .as[(Long, Seq[String])].collect().toMap
    // reference greedy encode: per word, repeatedly merge the lowest-rank
    // adjacent pair present (fold-left application like the trainer)
    val rank = merges.zipWithIndex.toMap
    def encodeWord(w: String): Seq[String] = {
      var syms = w.map(_.toString).toVector
      var done = false
      while (!done && syms.size >= 2) {
        val present = syms.sliding(2).map(s => (s(0), s(1)))
          .filter(rank.contains).toSeq
        if (present.isEmpty) done = true
        else {
          val (l, r) = present.minBy(rank)
          val acc = scala.collection.mutable.ArrayBuffer.empty[String]
          for (s <- syms) {
            if (acc.nonEmpty && acc.last == l && s == r) acc(acc.size - 1) = l + r
            else acc += s
          }
          syms = acc.toVector
        }
      }
      syms
    }
    corpus.zipWithIndex.foreach { case (t, i) =>
      val expected = t.toLowerCase.trim.split("\\s+").filter(_.nonEmpty)
        .toSeq.flatMap(encodeWord)
      assert(got(i.toLong) == expected, s"doc $i")
    }
  }

  test("vocabulary above driverWordCap: the corpus is aggregated once") {
    // every input partition counts one scan per pass over the corpus; the
    // cap probe and the distributed ladder must share ONE aggregation
    val scans = spark.sparkContext.longAccumulator("corpus partition scans")
    val texts = Seq("low lower newest", "widest low new", "aaaa bb ab", "lower newest wide")
    val df = spark.sparkContext.parallelize(texts, 4)
      .mapPartitions { it => scans.add(1); it }.toDF("text")
    val merges = BpeTrainer.train(df, "text", 3, driverWordCap = 2)
      .as[(Long, String, String, Long)].collect().toSeq.sortBy(_._1)
    assert(merges == reference(texts, 3))
    assert(scans.value == 4, s"${scans.value} partition scans for 4 partitions")
  }
}
