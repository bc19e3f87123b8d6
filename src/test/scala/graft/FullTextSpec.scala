package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite
import graft.operators.FullText

/** BM25 + RRF behavioral checks against hand-computed values. */
class FullTextSpec extends AnyFunSuite {

  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  import spark.implicits._

  private def docs = Seq(
    (0L, "spark spark spark engine"),        // tf=3, dl=4
    (1L, "spark engine engine engine"),      // tf=1, dl=4
    (2L, "engine room"),                     // no hit, dl=2
    (3L, "spark")                            // tf=1, dl=1
  ).toDF("doc_id", "text")

  test("bm25 matches the hand-computed Okapi scores") {
    val out = FullText.bm25(docs, "doc_id", "text", Seq("spark"), k = 10)
      .select("doc_id", "score").as[(Long, Double)].collect().toMap
    // N=4, df=3 -> idf = ln(1 + 1.5/3.5); avgdl = 11/4 = 2.75
    val idf = math.log(1.0 + (4 - 3 + 0.5) / 3.5)
    def w(tf: Long, dl: Long) =
      idf * (tf * 2.2) / (tf + 1.2 * (0.25 + 0.75 * dl / 2.75))
    assert(math.abs(out(0L) - w(3, 4)) < 1e-12)
    assert(math.abs(out(1L) - w(1, 4)) < 1e-12)
    assert(math.abs(out(3L) - w(1, 1)) < 1e-12)
    assert(!out.contains(2L), "doc without any query term is absent")
  }

  test("bm25 rewards tf and penalizes length; short doc beats long at same tf") {
    val out = FullText.bm25(docs, "doc_id", "text", Seq("spark"), k = 10)
      .select("doc_id", "score").as[(Long, Double)].collect().toMap
    assert(out(0L) > out(1L), "higher tf wins at equal length")
    assert(out(3L) > out(1L), "shorter doc wins at equal tf")
  }

  test("rrf sums both arms and ranks a both-arms doc above single-arm") {
    val dense = Seq(10L, 11L, 12L)
    val kw = Seq(12L, 13L)
    val out = FullText.rrf(dense, kw, k = 10, Ordering.Long)
      .map(f => f.key -> f.rrf).toMap
    assert(math.abs(out(12L) - (1.0 / 63 + 1.0 / 61)) < 1e-12)
    assert(math.abs(out(10L) - 1.0 / 61) < 1e-12)
    assert(math.abs(out(13L) - 1.0 / 62) < 1e-12)
    assert(out(12L) > out(10L), "doc in both arms outranks rank-1 single-arm")
  }

  test("queryIndex over the prepared index is value-identical to bm25") {
    val direct = FullText.bm25(docs, "doc_id", "text", Seq("spark", "room"), k = 10)
      .select("doc_id", "score", "n_terms").as[(Long, Double, Long)].collect().toSet
    val viaIndex = FullText.queryIndex(
      FullText.buildIndex(docs, "doc_id", "text"), Seq("spark", "room"), k = 10)
      .select("doc_id", "score", "n_terms").as[(Long, Double, Long)].collect().toSet
    assert(direct == viaIndex)
    assert(direct.nonEmpty)
  }

  test("snippets: window center, start clamp, ellipsis rules, no-match fallback") {
    val df = Seq(
      (1L, "A" * 100 + " spark " + "B" * 100),      // mid match: both ellipses
      (2L, "spark at the very start " + "C" * 100), // clamp at 1: trailing only
      (3L, "no match here at all"),                 // exactly width chars, no match
      (4L, "vector spark")                          // earliest term wins
    ).toDF("doc_id", "text")
    val out = FullText.snippets(df, "text", Seq("spark", "vector"), width = 20)
      .select("doc_id", "snippet", "matched_term", "match_pos")
      .as[(Long, String, Option[String], Option[Long])].collect()
      .map(r => r._1 -> ((r._2, r._3, r._4))).toMap
    assert(out(1L)._3.contains(102L))
    assert(out(1L)._1.startsWith("…") && out(1L)._1.endsWith("…"))
    assert(out(1L)._1.contains("spark"))
    assert(out(2L) == (("spark at the very st…", Some("spark"), Some(1L))))
    assert(out(3L) == (("no match here at all", None, None)),
      "no-match row snippets from the start without ellipses")
    assert(out(4L)._2.contains("vector"), "earliest occurrence wins")
  }

  test("snippets: terms matching at the same position tie toward query order") {
    // substring mode: a prefix term collides at the same position
    val df = Seq((1L, "spark engine")).toDF("doc_id", "text")
    val out = FullText.snippets(df, "text", Seq("spark", "spa"), width = 40,
      boundary = false)
      .select("matched_term").as[String].head()
    assert(out == "spark")
    // boundary mode: the same tie via two whole-word terms at position 1
    val out2 = FullText.snippets(df, "text", Seq("spark engine", "spark"), width = 40)
      .select("matched_term").as[String].head()
    assert(out2 == "spark engine")
  }

  test("snippets boundary mode: 'cat' does not headline inside 'concatenate'") {
    val df = Seq(
      (1L, "concatenate a cat now"), // inner substring at 4, whole word at 15
      (2L, "concatenation only"),    // inner substring only -> boundary no-match
      (3L, "feed the cat.")          // punctuation is a word boundary
    ).toDF("doc_id", "text")
    def run(boundary: Boolean) = FullText.snippets(
      df, "text", Seq("cat"), width = 200, boundary = boundary)
      .select("doc_id", "matched_term", "match_pos")
      .as[(Long, Option[String], Option[Long])].collect()
      .map(r => r._1 -> ((r._2, r._3))).toMap
    val b = run(boundary = true)
    assert(b(1L) == ((Some("cat"), Some(15L))), "whole-word match, not the inner one")
    assert(b(2L) == ((None, None)), "inner substring alone must not match")
    assert(b(3L) == ((Some("cat"), Some(10L))), "'.' delimits a word")
    val s = run(boundary = false)
    assert(s(1L)._2.contains(4L) && s(2L)._2.contains(4L),
      "substring mode keeps the raw-instr semantics")
  }

  test("snippets: İ, which folds to two code points, shifts no match position in either mode") {
    val df = Seq((1L, "İİİİ spark"), (2L, "İİ and İSTANBUL")).toDF("doc_id", "text")
    for (boundary <- Seq(true, false)) {
      val out = FullText.snippets(df, "text", Seq("spark", "İstanbul"), width = 6,
        boundary = boundary).orderBy("doc_id")
        .select("snippet", "matched_term", "match_pos").as[(String, String, Long)].collect()
      assert(out.toSeq == Seq(("…İİ spa…", "spark", 6L), ("…nd İST…", "İstanbul", 8L)),
        s"boundary = $boundary")
    }
  }

  test("snippets boundary mode: multi-word terms are AND-of-lexemes, not phrases") {
    // parity target: the reference FTS arm uses plainto_tsquery (AND of
    // word lexemes) — adjacency and separator width must not matter
    val df = Seq(
      (1L, "spark, engine ready"),      // comma+space: TWO separator chars
      (2L, "engine of the spark kind"), // scattered, reverse order
      (3L, "spark only here"),          // one word absent -> no match
      (4L, "sparkly engineering")       // substrings only -> no match
    ).toDF("doc_id", "text")
    val out = FullText.snippets(df, "text", Seq("spark engine"), width = 200)
      .select("doc_id", "matched_term", "match_pos")
      .as[(Long, Option[String], Option[Long])].collect()
      .map(r => r._1 -> ((r._2, r._3))).toMap
    assert(out(1L) == ((Some("spark engine"), Some(1L))),
      "multi-separator text matches a multi-word term")
    assert(out(2L) == ((Some("spark engine"), Some(1L))),
      "scattered words match, anchored at the earliest word")
    assert(out(3L) == ((None, None)), "every word must be present")
    assert(out(4L) == ((None, None)), "words match as lexemes, not substrings")
  }

  test("rrf keeps absent-arm ranks null and bounds output at k") {
    val dense = 1L to 30L
    val kw = Seq(100L)
    val rows = FullText.rrf(dense, kw, k = 5, Ordering.Long)
    assert(rows.length == 5)
    val solo = rows.find(_.key == 100L).get
    assert(solo.denseRank.isEmpty)
  }

  // N=7; seed 1 term profile: zebra tf3, quartz tf2, common tf2 survive
  // (nebula tf1 < minTf, "ab" len<3); df zebra=3, quartz=2, common=7 ->
  // interest zebra 3*7div3=7, quartz 2*7div2=7, common 2*7div7=2 — the
  // integer tf·N div df ranking kills the ubiquitous term exactly like idf
  private def mltDocs = Seq(
    (1L, "zebra quartz zebra quartz zebra nebula common common ab ab ab"),
    (2L, "zebra quartz zebra common filler filler"),
    (7L, "zebra common filler filler filler"),
    (3L, "filler words only common"),
    (4L, "unrelated stuff common"),
    (5L, "nebula nebula nebula common"),
    (6L, "ab ab common")
  ).toDF("doc_id", "text")

  test("moreLikeThis: rare shared terms rank similar docs; seed, ubiquitous," +
    " sub-minTf and sub-minLen terms are all excluded") {
    val out = FullText.moreLikeThis(mltDocs, "doc_id", "text",
      seedId = 1L, m = 2, k = 10)
      .select("doc_id", "n_terms").as[(Long, Long)].collect()
    // m=2 keeps {zebra, quartz} (common loses on interest 2 vs 7): only
    // docs 2 and 7 match; 2 (both terms, higher tf) outranks 7
    assert(out.map(_._1).toSeq == Seq(2L, 7L), out.mkString(","))
    assert(out.toMap == Map(2L -> 2L, 7L -> 1L), "n_terms per doc")
    val ids = out.map(_._1).toSet
    assert(!ids.contains(1L), "seed doc never returned")
    assert(!ids.contains(5L), "nebula (seed tf 1 < minTf) never selected")
    assert(!ids.contains(6L), "'ab' (len < minLen) never selected")
  }

  test("proximitySearch: minimal cover windows, hand-computed; missing-term docs drop") {
    val pdocs = Seq(
      // positions:        0 1    2    3  4    5
      (1L, "a b spark c merge x"),          // spark@2 merge@4 -> window 3
      (2L, "spark merge"),                  // adjacent -> window 2
      (3L, "merge y y y spark y merge"),    // best = spark@4..merge@6 -> 3
      (4L, "spark only here"),              // merge missing -> dropped
      (5L, "spark x x x x x x x x merge")   // window 10
    ).toDF("doc_id", "text")
    val out = FullText.proximitySearch(pdocs, "doc_id", "text",
      Seq("spark", "merge"), k = 10)
      .as[(Long, Long, Long)].collect()
    // doc 3 ties doc 1 at window 3; its 3 hits beat doc 1's 2 on the
    // n_hits-desc tiebreak — and doc 4 (no merge) never appears
    assert(out.map(_._1).toSeq == Seq(2L, 3L, 1L, 5L), out.mkString(","))
    val win = out.map(r => r._1 -> r._3).toMap
    assert(win == Map(2L -> 2L, 1L -> 3L, 3L -> 3L, 5L -> 10L))
    assert(out.map(r => r._1 -> r._2).toMap ==
      Map(2L -> 2L, 3L -> 3L, 1L -> 2L, 5L -> 2L), "hit counts")
  }

  test("moreLikeThis honors m: with m=3 the ubiquitous term re-enters") {
    val ids = FullText.moreLikeThis(mltDocs, "doc_id", "text",
      seedId = 1L, m = 3, k = 10)
      .select("doc_id").as[Long].collect().toSet
    // third term is common (df=N) -> every other doc now matches
    assert(ids == Set(2L, 3L, 4L, 5L, 6L, 7L))
  }

  test("spellSuggest canonicalizes query tokens: mixed case finds the same correction") {
    val docs = Seq((1L, "spark spark merge"), (2L, "spark shuffle")).toDF("doc_id", "text")
    def run(qs: Seq[String]) =
      FullText.spellSuggest(docs, "text", qs, maxDist = 2)
        .select("token", "suggestion", "dist")
        .as[(String, String, Long)].collect().toSet
    val lower = run(Seq("sparc"))
    assert(lower == Set(("sparc", "spark", 1L)), lower.toString)
    // mixed case + padding canonicalize to the same token -> same row
    assert(run(Seq("  SpArC ")) == lower, "mixed-case query must not miss")
  }

  test("bm25f: hand-computed fielded scores; cross-field saturation") {
    val docs = Seq(
      (1L, "spark alpha", "beta gamma"),
      (2L, "alpha beta", "spark spark gamma delta"),
      (3L, "spark zeta", "spark eta theta iota")
    ).toDF("doc_id", "title", "body")
    val out = FullText.bm25f(docs, "doc_id",
        Seq(("title", 2.0, 0.75), ("body", 1.0, 0.75)), Seq("spark"), k = 10)
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    // avgdl: title (2+2+2)/3 = 2, body (2+4+4)/3 ≈ 3.333...; df = 3, N = 3
    val avgdl0 = (2.0 + 2.0 + 2.0) / 3.0
    val avgdl1 = (2.0 + 4.0 + 4.0) / 3.0
    val idf = math.log(1.0 + (3L - 3L + 0.5) / (3L + 0.5))
    def cT(tf: Long, dl: Long) = 2.0 * tf / (0.25 + 0.75 * dl / avgdl0)
    def cB(tf: Long, dl: Long) = 1.0 * tf / (0.25 + 0.75 * dl / avgdl1)
    def w(tfc: Double) = idf * tfc / (1.2 + tfc)
    assert(out(1L) == w(cT(1, 2) + 0.0), "title-only doc")
    assert(out(2L) == w(0.0 + cB(2, 4)), "body-only doc")
    assert(out(3L) == w(cT(1, 2) + cB(1, 4)), "both-fields doc")
    // saturation: combining fields BEFORE the k1 saturation scores LESS
    // than a naive sum of per-field BM25F scores (the BM25F point)
    assert(w(cT(1, 2) + cB(1, 4)) < w(cT(1, 2)) + w(cB(1, 4)))
    // title weight dominates: one title hit outranks two body hits
    assert(out(1L) > out(2L))
  }

  test("qlDirichlet: hand-computed Dirichlet scores via the hit-only " +
    "decomposition; zero-hit docs still rank by the length prior; " +
    "out-of-corpus query terms raise") {
    import graft.operators.FullText
    // |C| = 5, cf(apple) = 2, mu = 10:
    // d1 "apple apple banana": ln((2 + 10*2/5)/(3+10)) = ln(6/13)
    // d2 "banana cherry":      ln((0 + 4)/(2+10))      = ln(4/12)
    val docs = Seq((1L, "apple apple banana"), (2L, "banana cherry"))
      .toDF("doc_id", "text")
    val out = FullText.qlDirichlet(docs, "doc_id", "text",
        Seq("apple"), k = 10, mu = 10L)
      .as[(Long, Long, Long)].collect().map(r => r._1 -> ((r._2, r._3))).toMap
    // replay the engine's own float parenthesization
    val q = math.log(10.0 * 2 / 5.0)
    val s1 = math.log(1.0 + (2L * 5).toDouble / (10L * 2).toDouble)
    val d1 = math.floor(((s1 + q) - 1.0 * math.log(13.0)) * 1e6).toLong
    val d2 = math.floor(((0.0 + q) - 1.0 * math.log(12.0)) * 1e6).toLong
    assert(out(1L) == ((1L, d1)))
    assert(out(2L) == ((0L, d2)), "zero hits: ranked by the length prior")
    assert(out(1L)._2 > out(2L)._2)
    assert(math.abs(d1 / 1e6 - math.log(6.0 / 13)) < 1e-6,
      "decomposition equals the textbook form")
    val thrown = intercept[IllegalArgumentException] {
      FullText.qlDirichlet(docs, "doc_id", "text", Seq("apple", "zzz"),
        k = 5, mu = 10L)
    }
    assert(thrown.getMessage.contains("absent from the"))
  }

  test("tfidfVsm: hand-replayed lnc.ltc cosine; zero-hit docs absent; " +
    "out-of-corpus terms contribute nothing; duplicate terms raise") {
    import graft.operators.FullText
    val docs = Seq(
      (1L, "apple apple banana"), // hits apple(2): lnc = 1+ln2
      (2L, "banana banana"),      // no hits: absent from the ranking
      (3L, "cherry apple")        // hits apple(1), cherry(1)
    ).toDF("doc_id", "text")
    def run(terms: Seq[String]) =
      FullText.tfidfVsm(docs, "doc_id", "text", terms, k = 10)
        .as[(Long, Long, Long)].collect()
        .map(r => r._1 -> ((r._2, r._3))).toMap
    val out = run(Seq("apple", "cherry"))
    // engine float parenthesization replayed independently:
    def sq(x: Double) = x * x
    val n1 = math.sqrt(sq(1 + math.log(2.0)) + sq(1 + math.log(1.0)))
    val n3 = math.sqrt(sq(1.0) + sq(1.0)) // two tf=1 terms
    val wqA = math.log(3.0 / 2) // df(apple)=2 of N=3
    val wqC = math.log(3.0 / 1)
    val nq = math.sqrt(wqA * wqA + wqC * wqC)
    val s1 = (1 + math.log(2.0)) * wqA
    val s3 = (1.0 + math.log(1.0)) * wqA + (1.0 + math.log(1.0)) * wqC
    val f1 = math.floor(s1 / (n1 * nq) * 1e6).toLong
    val f3 = math.floor(s3 / (n3 * nq) * 1e6).toLong
    assert(out == Map(1L -> ((1L, f1)), 3L -> ((2L, f3))),
      "hand cosine replay; the hit-less d2 is absent (VSM scores 0)")
    assert(out(3L)._2 > out(1L)._2,
      "the rarer term + flatter doc vector wins the cosine")
    // an absent term has no df row: neither weights nor the query norm
    // move, so every score is unchanged
    assert(run(Seq("apple", "cherry", "durian")) == out)
    val dup = intercept[IllegalArgumentException] {
      FullText.tfidfVsm(docs, "doc_id", "text", Seq("apple", "apple"), 5)
    }
    assert(dup.getMessage.contains("duplicate query terms"))
  }
}
