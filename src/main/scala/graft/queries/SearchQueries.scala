package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.Tables
import graft.operators.{FullText, KnnSearch, Mmr}

/** Content keyword search (BM25) + hybrid dense/keyword fusion (RRF).
  * The testdata's vec_id aligns with doc_id, so the dense arm (embeddings)
  * and the keyword arm (documents) rank the same corpus. */
object SearchQueries {

  private val Terms = Seq("spark", "vector", "merge", "stream")

  /** Snippet decoration probes one extra MULTI-WORD term: in boundary mode
    * it matches with plainto_tsquery AND-of-lexemes semantics (both words
    * present as whole words, anchored at the earlier — adjacency NOT
    * required), in substring mode as the literal substring — so the n4/n5
    * pair pins the multi-word divergence on top of the stream/streaming
    * word-boundary one. Retrieval stays on [[Terms]] (BM25 tokens are
    * single words by construction). */
  private val SnippetTerms = Terms :+ "vector merge"

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "n2_bm25" -> ((s, d) => bm25(s, d)),
    "n13_bm25f" -> ((s, d) => bm25fQ(s, d)),
    "n3_hybrid_rrf" -> ((s, d) => hybridRrf(s, d)),
    "s4_mmr_diversify" -> ((s, d) => mmrDiversify(s, d)),
    "n4_snippets" -> ((s, d) => snippets(s, d)),
    "n5_snippets_substring" -> ((s, d) => snippets(s, d, boundary = false)),
    "n6_phrase" -> ((s, d) => phrase(s, d)),
    "n7_rm3_expand" -> ((s, d) => rm3Expand(s, d)),
    "n8_more_like_this" -> ((s, d) => moreLikeThis(s, d)),
    "n9_proximity" -> ((s, d) => proximity(s, d)),
    "n10_spell_suggest" -> ((s, d) => spellSuggest(s, d)),
    "n14_ql_dirichlet" -> ((s, d) => qlDirichletQ(s, d)),
    "n15_tfidf_vsm" -> ((s, d) => tfidfVsmQ(s, d))
  )

  /** [[graft.operators.FullText.tfidfVsm]] top-10 on the shared 4-term
    * query — the SMART lnc.ltc cosine seat beside BM25 (n2), BM25F
    * (n13), and Dirichlet QL (n14): same corpus, same terms, the third
    * ranking paradigm, so the four rows together are a comparable
    * ranking-function panel. */
  def tfidfVsmQ(spark: SparkSession, dir: String): DataFrame =
    FullText.tfidfVsm(Tables.documents(spark, dir), "doc_id", "text",
      Terms, k = 10)

  /** [[graft.operators.FullText.qlDirichlet]] over the n2 terms at
    * μ = 2000: the language-modeling ranking beside BM25 — every doc
    * scores (zero-hit docs rank by their length prior), the top-10 is a
    * genuinely different order from n2's (QL's length normalization is
    * the Dirichlet prior, not b·dl/avgdl), and every ln argument is a
    * ratio of exact integers the oracle refolds in the same term order. */
  def qlDirichletQ(spark: SparkSession, dir: String): DataFrame =
    FullText.qlDirichlet(Tables.documents(spark, dir), "doc_id", "text",
      Terms, k = 10)

  /** Proximity search: all four query terms required, ranked by the
    * minimal token window covering them (then n_hits desc, doc_id) — the
    * cover-density middle ground between n2's bag-of-words and n6's
    * strict adjacency. */
  def proximity(spark: SparkSession, dir: String): DataFrame =
    FullText.proximitySearch(Tables.documents(spark, dir), "doc_id", "text",
      Terms, k = 10)

  /** Did-you-mean over the corpus vocabulary: three planted misspellings
    * correct to real corpus terms, an exact term maps to itself, and a
    * no-candidate token emits nothing (serving falls back to it raw). */
  def spellSuggest(spark: SparkSession, dir: String): DataFrame =
    FullText.spellSuggest(Tables.documents(spark, dir), "text",
      Seq("spakr", "tabel", "wnidow", "xqzw", "join"))
      .orderBy("token")

  /** More-Like-This: docs most similar to seed doc 3 by its interesting
    * terms (tf≥2, len≥3, top-10 by integer tf·N div df), scored with BM25
    * over the corpus minus the seed — the find-similar-documents serving
    * call that needs no embedding. */
  def moreLikeThis(spark: SparkSession, dir: String): DataFrame =
    FullText.moreLikeThis(Tables.documents(spark, dir), "doc_id", "text",
      seedId = 3L, m = 10, k = 10)
      .select(col("doc_id"), round(col("score"), 6).as("bm25"), col("n_terms"))

  /** Pseudo-relevance-feedback query expansion (the RM3 shape, Lavrenko &
    * Croft relevance models, counts-only core): pass 1 = BM25 top-10 for
    * the original terms; expansion = the top-5 non-query terms of those
    * docs by frequency (cnt desc, term asc — total tiebreak); pass 2 =
    * BM25 over original ∪ expansion. The 5-term expansion list is a
    * request-sized driver decision (design rule 17 — it parameterizes the
    * next plan's term filter, exactly like a user query would). */
  def rm3Expand(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(spark, dir)
    val top = FullText.bm25(docs, "doc_id", "text", Terms, k = 10)
      .select("doc_id")
    val exp = docs.join(broadcast(top), "doc_id")
      .select(explode(graft.functions.text.tokens(col("text"))).as("term"))
      .filter(!col("term").isin(Terms: _*))
      .groupBy("term").agg(count(lit(1)).as("cnt"))
      .orderBy(col("cnt").desc, col("term").asc).limit(5)
      .collect().map(_.getString(0)).toSeq
    FullText.bm25(docs, "doc_id", "text", Terms ++ exp, k = 10)
      .select(col("doc_id"), round(col("score"), 6).as("bm25"), col("n_terms"))
  }

  /** Exact phrase search ("big order scan", adjacency REQUIRED — the
    * upgrade over n4's AND-of-lexemes multi-word terms): matching docs
    * with occurrence counts and the earliest start, top-10 by matches. */
  def phrase(spark: SparkSession, dir: String): DataFrame =
    FullText.phraseSearch(Tables.documents(spark, dir), "doc_id", "text",
      Seq("big", "order", "scan"), k = 10)

  /** BM25 top-10 for a fixed 4-term query (k1=1.2, b=0.75). */
  def bm25(spark: SparkSession, dir: String): DataFrame =
    FullText.bm25(Tables.documents(spark, dir), "doc_id", "text", Terms, k = 10)
      .select(col("doc_id"), round(col("score"), 6).as("bm25"), col("n_terms"))

  /** BM25F fielded top-10: title = the doc's first three tokens at weight
    * 2.0, body = the rest at 1.0 (both b=0.75) — per-term contributions
    * combine across fields BEFORE saturation, idf on whole-document df. */
  def bm25fQ(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(spark, dir)
      .select(col("doc_id"), graft.functions.text.tokens(col("text")).as("tk"))
      .select(col("doc_id"),
        array_join(slice(col("tk"), 1, 3), " ").as("title"),
        array_join(slice(col("tk"), lit(4),
          greatest(size(col("tk")) - 3, lit(0))), " ").as("body"))
    FullText.bm25f(docs, "doc_id",
        Seq(("title", 2.0, 0.75), ("body", 1.0, 0.75)), Terms, k = 10)
      .select(col("doc_id"), round(col("score"), 6).as("bm25f"),
        col("n_terms"))
  }

  /** Hybrid retrieval: dense top-20 (cosine to vec 0, vec 0 excluded, the v1
    * arm) fused with BM25 top-20 by [[FullText.rrf]] (ties by numeric id),
    * final top-10: a local frame, so reading it runs no job. */
  def hybridRrf(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val qv = VectorQueries.queryVec(spark, dir)
    val dense = KnnSearch.topK(Tables.embeddings(spark, dir), "embedding", "vec_id",
      qv, k = 20, where = col("vec_id") =!= 0).select("vec_id").as[Long].collect().toSeq
    val keyword = FullText.bm25(Tables.documents(spark, dir), "doc_id", "text", Terms, k = 20)
      .select("doc_id").as[Long].collect().toSeq
    FullText.rrf(dense, keyword, k = 10, Ordering.Long)
      .map(f => (f.key, f.rrf, f.denseRank, f.keywordRank))
      .toDF("doc_id", "rrf", "dense_rank", "keyword_rank")
      .withColumn("rrf", round(col("rrf"), 6))
  }

  /** MMR-diversified retrieval: the v1 dense arm's top-20 (cosine to vec 0,
    * self excluded) greedily re-ranked to 10 at λ=0.5 — the oracle replays
    * every greedy step (unrolled CTEs, like the k1 Lloyd replay), so each
    * pick's penalty, mmr score, and tie-break are value-checked. */
  def mmrDiversify(spark: SparkSession, dir: String): DataFrame = {
    val qv = VectorQueries.queryVec(spark, dir)
    val cand = KnnSearch.topK(Tables.embeddings(spark, dir), "embedding", "vec_id",
      qv, k = 20, where = col("vec_id") =!= 0)
    Mmr.diversify(cand, "vec_id", "embedding", "score", k = 10)
      .orderBy("mmr_rank")
  }

  /** Headlined hits: the n2 BM25 top-10 decorated with ts_headline-lite
    * snippets (80-char window on the earliest term match, query-order tie
    * break, ellipsis truncation marks). n4 runs the default word-BOUNDARY
    * matching (Postgres ts_headline matches lexemes — "stream" must not
    * headline inside "streaming"); n5 runs the raw-substring mode, so the
    * two registered results pin the divergence on the same corpus. The hit
    * slice is broadcast back against the corpus for its text —
    * request-sized join side. */
  def snippets(spark: SparkSession, dir: String, boundary: Boolean = true): DataFrame = {
    val top = FullText.bm25(Tables.documents(spark, dir), "doc_id", "text", Terms, k = 10)
    val docs = Tables.documents(spark, dir).select(col("doc_id"), col("text"))
    FullText.snippets(docs.join(broadcast(top), "doc_id"), "text", SnippetTerms,
      width = 80, boundary = boundary)
      .select(col("doc_id"), round(col("score"), 6).as("bm25"), col("snippet"),
        col("matched_term"), col("match_pos"))
      .orderBy("doc_id")
  }

  /** Shared BM25 SQL arm: tokenization identical to t1's norm/split, idf =
    * ln(1 + (N - df + 0.5)/(df + 0.5)), same operation shapes as
    * [[FullText.bm25]] so doubles agree before the 6-dp rounding. */
  private def bm25Sql(limit: Int): String =
    s"""n AS (SELECT doc_id, trim(regexp_replace(lower(text), '\\s+', ' ', 'g')) AS norm
       |       FROM documents),
       |tk AS (SELECT doc_id, list_filter(string_split(norm, ' '), t -> len(t) > 0) AS tk
       |       FROM n),
       |lens AS (SELECT doc_id, len(tk) AS dl FROM tk),
       |g AS (SELECT count(*) AS n_docs, avg(dl::DOUBLE) AS avgdl FROM lens),
       |tf AS (SELECT doc_id, t AS term, count(*) AS tf
       |       FROM (SELECT doc_id, unnest(tk) AS t FROM tk)
       |       WHERE t IN ('spark','vector','merge','stream') GROUP BY doc_id, t),
       |dfq AS (SELECT term, count(DISTINCT doc_id) AS df FROM tf GROUP BY term),
       |w AS (SELECT tf.doc_id,
       |        ln(1.0 + (g.n_docs - dfq.df + 0.5) / (dfq.df + 0.5))
       |          * (tf.tf * 2.2) / (tf.tf + 1.2 * (0.25 + 0.75 * lens.dl / g.avgdl)) AS w
       |      FROM tf JOIN dfq USING (term) JOIN lens USING (doc_id), g),
       |sc AS (SELECT doc_id, sum(w) AS score, count(*) AS n_terms FROM w
       |       GROUP BY doc_id ORDER BY sum(w) DESC, doc_id LIMIT $limit)""".stripMargin

  /** Explicit-fold cosine (dot / (|a|·|b|)) — the same three independent
    * left-to-right double accumulations as the CosineSimilarity expression
    * and [[Mmr]]'s driver loop, so the doubles are bit-identical. */
  private def cosSql(a: String, b: String): String =
    s"(list_sum(list_transform(range(64), j -> $a[j+1]*$b[j+1])) / " +
      s"(sqrt(list_sum(list_transform(range(64), j -> $a[j+1]*$a[j+1]))) * " +
      s"sqrt(list_sum(list_transform(range(64), j -> $b[j+1]*$b[j+1])))))"

  /** Unrolled greedy MMR replay: step i scores every unpicked candidate as
    * 0.5·rel − 0.5·max(cos to the i−1 picks) and takes the (mmr DESC,
    * vec_id) winner — the same engine-replay pattern as the Lloyd oracle.
    * Every CTE is MATERIALIZED: each sel is referenced 3× by the next step
    * (join side, NOT IN, union), so inlined evaluation grows ~3^k and
    * re-opens the parquet thousands of times. */
  private def mmrOracleSql: String = {
    val steps = (2 to 10).map { i =>
      s"""step$i AS MATERIALIZED (SELECT c.vec_id, c.v, c.rel,
         |    0.5*c.rel - 0.5*max(${cosSql("c.v", "s.v")}) AS mmr
         |  FROM cand c, sel${i - 1} s
         |  WHERE c.vec_id NOT IN (SELECT vec_id FROM sel${i - 1})
         |  GROUP BY c.vec_id, c.v, c.rel),
         |pick$i AS MATERIALIZED (SELECT vec_id, v, rel, mmr, $i AS rk FROM step$i
         |  ORDER BY mmr DESC, vec_id LIMIT 1),
         |sel$i AS MATERIALIZED (SELECT * FROM sel${i - 1} UNION ALL SELECT * FROM pick$i)""".stripMargin
    }.mkString(",\n")
    s"""WITH e AS MATERIALIZED (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
       |q AS MATERIALIZED (SELECT v AS qv FROM e WHERE vec_id = 0),
       |cand AS MATERIALIZED (SELECT vec_id, v, ${cosSql("v", "qv")} AS rel
       |  FROM e, q WHERE vec_id <> 0 ORDER BY rel DESC, vec_id LIMIT 20),
       |sel1 AS MATERIALIZED (SELECT vec_id, v, rel, 0.5*rel AS mmr, 1 AS rk FROM cand
       |  ORDER BY rel DESC, vec_id LIMIT 1),
       |$steps
       |SELECT vec_id, rel AS score, mmr AS mmr_score, rk::BIGINT AS mmr_rank
       |FROM sel10 ORDER BY rk""".stripMargin
  }

  /** Exact replay of [[FullText.snippets]]: per-term 1-based strpos (0 →
    * absent → NULL), earliest-match argmin with query-order tie-break via
    * an ordered CASE, 80-char window clamped at 1, ellipsis when truncated.
    * All integer/char string ops — no float hazards. In boundary mode the
    * position probe is the same length-preserving normalize-pad-strpos the
    * Spark side runs (DuckDB regexp_replace needs the explicit 'g' flag;
    * Spark's is global by default), and a multi-word term replays the
    * AND-of-word-lexemes rule: every word strpos > 0, anchored at least()
    * of them. */
  private def snippetOracleSql(boundary: Boolean): String = {
    val norm = "' ' || regexp_replace(lower(text), '[^a-z0-9]', ' ', 'g') || ' '"
    val ps = SnippetTerms.zipWithIndex.map { case (t, i) =>
      if (boundary) {
        val probes = graft.functions.text.words(t, "[^a-z0-9]+")
          .map(w => s"strpos($norm, ' $w ')")
        if (probes.length == 1) s"nullif(${probes.head}, 0) AS p$i"
        else s"(CASE WHEN ${probes.map(p => s"$p > 0").mkString(" AND ")} " +
          s"THEN least(${probes.mkString(", ")}) END) AS p$i"
      } else
        s"nullif(strpos(lower(text), '$t'), 0) AS p$i" }.mkString(", ")
    val pCols = SnippetTerms.indices.map(i => s"p$i").mkString(", ")
    val leastArgs = SnippetTerms.indices.map(i => s"coalesce(p$i, 9223372036854775807)").mkString(", ")
    val matchCase = SnippetTerms.zipWithIndex.map { case (t, i) =>
      s"WHEN p$i = mp THEN '$t'" }.mkString(" ")
    s"""WITH ${bm25Sql(10)},
       |j AS (SELECT sc.doc_id, sc.score, d.text FROM sc JOIN documents d USING (doc_id)),
       |p AS (SELECT doc_id, score, text, $ps FROM j),
       |m AS (SELECT doc_id, score, text, $pCols,
       |   nullif(least($leastArgs), 9223372036854775807) AS mp FROM p)
       |SELECT doc_id, round(score, 6) AS bm25,
       |  (CASE WHEN greatest(1, coalesce(mp, 1) - 40) > 1 THEN '…' ELSE '' END ||
       |   substr(text, greatest(1, coalesce(mp, 1) - 40), 80) ||
       |   CASE WHEN greatest(1, coalesce(mp, 1) - 40) + 79 < length(text)
       |        THEN '…' ELSE '' END) AS snippet,
       |  CASE $matchCase END AS matched_term,
       |  mp AS match_pos
       |FROM m ORDER BY doc_id""".stripMargin
  }

  def oracles: Map[String, String] = Map(
    // phrase-start replay: a start s matches where the 3-token slice
    // equals the phrase; occurrence counts include overlaps (start-based,
    // same as the Spark vote count)
    "n6_phrase" ->
      """WITH n AS (SELECT doc_id, trim(regexp_replace(lower(text), '\s+', ' ', 'g')) AS norm
        |           FROM documents),
        |tk AS (SELECT doc_id, list_filter(string_split(norm, ' '), t -> len(t) > 0) AS tk
        |       FROM n),
        |m AS (SELECT doc_id,
        |        list_filter(range(greatest(len(tk) - 2, 0)),
        |          s -> tk[s + 1] = 'big' AND tk[s + 2] = 'order' AND tk[s + 3] = 'scan') AS st
        |      FROM tk)
        |SELECT doc_id, len(st)::BIGINT AS n_matches, list_min(st)::BIGINT AS first_pos
        |FROM m WHERE len(st) > 0
        |ORDER BY n_matches DESC, doc_id LIMIT 10""".stripMargin,
    "s4_mmr_diversify" -> mmrOracleSql,
    "n4_snippets" -> snippetOracleSql(boundary = true),
    "n5_snippets_substring" -> snippetOracleSql(boundary = false),
    // BM25F replay: per-field tf/dl/avgdl, field fold over a FULL JOIN in
    // declaration order (title then body — the engine's coalesce(+) order),
    // whole-doc df via window, identical float parenthesization, 6-dp round
    "n13_bm25f" ->
      s"""WITH n AS (SELECT doc_id, trim(regexp_replace(lower(text), '\\s+', ' ', 'g')) AS norm
         |       FROM documents),
         |tk AS (SELECT doc_id, list_filter(string_split(norm, ' '), t -> len(t) > 0) AS tk
         |       FROM n),
         |g AS (SELECT count(*) AS n_docs,
         |        avg(len(list_slice(tk, 1, 3))::DOUBLE) AS avgdl0,
         |        avg(len(list_slice(tk, 4, len(tk)))::DOUBLE) AS avgdl1 FROM tk),
         |tf0 AS (SELECT doc_id, dl, term, count(*) AS tf FROM (
         |        SELECT doc_id, len(list_slice(tk, 1, 3))::BIGINT AS dl,
         |               unnest(list_slice(tk, 1, 3)) AS term FROM tk)
         |        WHERE term IN ('spark','vector','merge','stream')
         |        GROUP BY doc_id, dl, term),
         |tf1 AS (SELECT doc_id, dl, term, count(*) AS tf FROM (
         |        SELECT doc_id, len(list_slice(tk, 4, len(tk)))::BIGINT AS dl,
         |               unnest(list_slice(tk, 4, len(tk))) AS term FROM tk)
         |        WHERE term IN ('spark','vector','merge','stream')
         |        GROUP BY doc_id, dl, term),
         |c0 AS (SELECT doc_id, term,
         |         (2.0 * tf) / (0.25 + 0.75 * dl / g.avgdl0) AS c0 FROM tf0, g),
         |c1 AS (SELECT doc_id, term,
         |         (1.0 * tf) / (0.25 + 0.75 * dl / g.avgdl1) AS c1 FROM tf1, g),
         |j AS (SELECT coalesce(c0.doc_id, c1.doc_id) AS doc_id,
         |        coalesce(c0.term, c1.term) AS term,
         |        coalesce(c0.c0, 0.0) + coalesce(c1.c1, 0.0) AS tfc
         |      FROM c0 FULL JOIN c1 ON c0.doc_id = c1.doc_id AND c0.term = c1.term),
         |d AS (SELECT doc_id, term, tfc,
         |        count(*) OVER (PARTITION BY term) AS df FROM j),
         |w AS (SELECT doc_id,
         |        ln(1.0 + (g.n_docs - d.df + 0.5) / (d.df + 0.5)) * d.tfc
         |          / (1.2 + d.tfc) AS w
         |      FROM d, g),
         |sc AS (SELECT doc_id, sum(w) AS score, count(*) AS n_terms
         |       FROM w GROUP BY doc_id ORDER BY score DESC, doc_id LIMIT 10)
         |SELECT doc_id, round(score, 6) AS bm25f, n_terms FROM sc
         |ORDER BY score DESC, doc_id""".stripMargin,
    "n2_bm25" ->
      s"""WITH ${bm25Sql(10)}
         |SELECT doc_id, round(score, 6) AS bm25, n_terms FROM sc
         |ORDER BY score DESC, doc_id""".stripMargin,
    // the hit-only QL decomposition refolded: part-1 per-doc term-ordered
    // ln fold, part-2 query constant as a term-ordered 0.0-seeded
    // list_reduce, part-3 length prior; every ln arg a ratio of exact
    // integer products in the engine's parenthesization
    // lnc.ltc replay: in-row norm fold == per-(doc,term) group fold in
    // ascending term order (list_sum ORDER BY term == Spark's left fold),
    // squares spelled x*x, one floored fixed-point division at the end
    "n15_tfidf_vsm" ->
      """WITH n AS (SELECT doc_id, trim(regexp_replace(lower(text), '\s+', ' ', 'g')) AS norm
        |       FROM documents),
        |tk AS (SELECT doc_id, list_filter(string_split(norm, ' '), t -> len(t) > 0) AS tk
        |       FROM n),
        |tfall AS (SELECT doc_id, t AS term, count(*)::BIGINT AS c
        |          FROM (SELECT doc_id, unnest(tk) AS t FROM tk) GROUP BY doc_id, t),
        |nrm AS (SELECT doc_id,
        |          sqrt(list_sum(list((1.0 + ln(c::DOUBLE)) * (1.0 + ln(c::DOUBLE))
        |            ORDER BY term))) AS nd
        |        FROM tfall GROUP BY doc_id),
        |tf AS (SELECT doc_id, term, c AS tf FROM tfall
        |       WHERE term IN ('spark','vector','merge','stream')),
        |g AS (SELECT count(*)::BIGINT AS n_docs FROM tk),
        |dfq AS (SELECT term, count(*)::BIGINT AS df
        |        FROM (SELECT DISTINCT doc_id, term FROM tf) GROUP BY term),
        |wqt AS (SELECT term, ln((SELECT n_docs FROM g)::DOUBLE / df) AS wq FROM dfq),
        |qn AS (SELECT sqrt(list_sum(list(wq * wq ORDER BY term))) AS nq FROM wqt),
        |w AS (SELECT tf.doc_id, tf.term, (1.0 + ln(tf.tf::DOUBLE)) * wqt.wq AS w
        |      FROM tf JOIN wqt USING (term)),
        |sc AS (SELECT doc_id, list_sum(list(w ORDER BY term)) AS s,
        |         count(*)::BIGINT AS n_terms
        |       FROM w GROUP BY doc_id)
        |SELECT sc.doc_id, sc.n_terms,
        |  floor((sc.s / (nrm.nd * (SELECT nq FROM qn))) * 1000000)::BIGINT AS score_fp
        |FROM sc JOIN nrm USING (doc_id)
        |ORDER BY score_fp DESC, doc_id LIMIT 10""".stripMargin,

    "n14_ql_dirichlet" ->
      """WITH n AS (SELECT doc_id, trim(regexp_replace(lower(text), '\s+', ' ', 'g')) AS norm
        |       FROM documents),
        |tk AS (SELECT doc_id, list_filter(string_split(norm, ' '), t -> len(t) > 0) AS tk
        |       FROM n),
        |lens AS (SELECT doc_id, len(tk)::BIGINT AS dl FROM tk),
        |tot AS (SELECT sum(dl)::BIGINT AS c FROM lens),
        |tf AS (SELECT doc_id, t AS term, count(*)::BIGINT AS tf
        |       FROM (SELECT doc_id, unnest(tk) AS t FROM tk)
        |       WHERE t IN ('spark','vector','merge','stream') GROUP BY doc_id, t),
        |cf AS (SELECT term, sum(tf)::BIGINT AS cf FROM tf GROUP BY term),
        |qc AS (SELECT list_reduce([0.0::DOUBLE] ||
        |         list(ln((2000 * cf)::DOUBLE / (SELECT c FROM tot)::DOUBLE) ORDER BY term),
        |         (a, b) -> a + b) AS qconst,
        |       count(*) AS nq FROM cf),
        |w AS (SELECT tf.doc_id, tf.term,
        |        ln(1.0 + (tf.tf * (SELECT c FROM tot))::DOUBLE / (2000 * cf.cf)::DOUBLE) AS w
        |      FROM tf JOIN cf USING (term)),
        |p1 AS (SELECT doc_id,
        |         list_reduce([0.0::DOUBLE] || list(w ORDER BY term), (a, b) -> a + b) AS s1,
        |         count(*)::BIGINT AS n_hit_terms
        |       FROM w GROUP BY doc_id),
        |sc AS (SELECT lens.doc_id,
        |         coalesce(p1.n_hit_terms, 0)::BIGINT AS n_hit_terms,
        |         floor(((coalesce(p1.s1, 0.0::DOUBLE) + qc.qconst)
        |           - 4.0::DOUBLE * ln((lens.dl + 2000)::DOUBLE)) * 1000000)::BIGINT AS score_fp
        |       FROM lens LEFT JOIN p1 USING (doc_id), qc)
        |SELECT doc_id, n_hit_terms, score_fp FROM sc
        |ORDER BY score_fp DESC, doc_id LIMIT 10""".stripMargin,
    "n7_rm3_expand" ->
      s"""WITH ${bm25Sql(10)},
         |ex AS (SELECT t AS term FROM (
         |    SELECT t, count(*) AS cnt
         |    FROM (SELECT doc_id, unnest(tk) AS t FROM tk) u JOIN sc USING (doc_id)
         |    WHERE t NOT IN ('spark','vector','merge','stream')
         |    GROUP BY t ORDER BY cnt DESC, t ASC LIMIT 5)),
         |qt AS (SELECT unnest(['spark','vector','merge','stream']) AS term
         |       UNION SELECT term FROM ex),
         |tf2 AS (SELECT u.doc_id, u.t AS term, count(*) AS tf
         |        FROM (SELECT doc_id, unnest(tk) AS t FROM tk) u
         |        JOIN qt ON u.t = qt.term GROUP BY u.doc_id, u.t),
         |dfq2 AS (SELECT term, count(DISTINCT doc_id) AS df FROM tf2 GROUP BY term),
         |w2 AS (SELECT tf2.doc_id,
         |        ln(1.0 + (g.n_docs - dfq2.df + 0.5) / (dfq2.df + 0.5))
         |          * (tf2.tf * 2.2) / (tf2.tf + 1.2 * (0.25 + 0.75 * lens.dl / g.avgdl)) AS w
         |       FROM tf2 JOIN dfq2 USING (term) JOIN lens USING (doc_id), g),
         |sc2 AS (SELECT doc_id, sum(w) AS score, count(*) AS n_terms FROM w2
         |        GROUP BY doc_id ORDER BY sum(w) DESC, doc_id LIMIT 10)
         |SELECT doc_id, round(score, 6) AS bm25, n_terms FROM sc2
         |ORDER BY score DESC, doc_id""".stripMargin,
    // replay of the windowed minimal-cover: per-term running max over the
    // position-ordered hit rows, candidate = pos - least(latests) + 1
    // under an explicit all-covered guard, per-doc min — identical window
    // semantics in both engines (integer positions, total tiebreak)
    // did-you-mean replay: corpus vocabulary with df, |len diff| gate
    // (a Levenshtein lower bound), min-dist with (df desc, term) ties
    "n10_spell_suggest" ->
      """WITH n AS (SELECT trim(regexp_replace(lower(text), '\s+', ' ', 'g')) AS norm
        |  FROM documents),
        |e AS (SELECT unnest(list_filter(string_split(norm, ' '),
        |        t -> len(t) > 0)) AS vterm FROM n),
        |vc AS (SELECT vterm, count(*)::BIGINT AS df FROM e GROUP BY vterm),
        |q AS (SELECT unnest(['spakr', 'tabel', 'wnidow', 'xqzw', 'join']) AS qt),
        |cand AS (SELECT qt, vterm, df, levenshtein(qt, vterm)::BIGINT AS dist
        |         FROM q JOIN vc ON abs(len(qt) - len(vterm)) <= 2
        |         WHERE levenshtein(qt, vterm) <= 2),
        |best AS (SELECT qt, vterm, dist, df,
        |           row_number() OVER (PARTITION BY qt
        |             ORDER BY dist, df DESC, vterm) AS rn
        |         FROM cand)
        |SELECT qt AS token, vterm AS suggestion, dist, df FROM best
        |WHERE rn = 1 ORDER BY token""".stripMargin,
    "n9_proximity" ->
      """WITH n AS (SELECT doc_id, trim(regexp_replace(lower(text), '\s+', ' ', 'g')) AS norm
        |       FROM documents),
        |tk AS (SELECT doc_id, list_filter(string_split(norm, ' '), t -> len(t) > 0) AS tk
        |       FROM n),
        |e AS (SELECT doc_id,
        |        unnest(list_transform(tk, (x, i) -> struct_pack(term := x, pos := i - 1))) AS u
        |      FROM tk),
        |h AS (SELECT doc_id, u.pos AS pos, u.term AS term FROM e
        |      WHERE u.term IN ('spark','vector','merge','stream')),
        |l AS (SELECT doc_id, pos,
        |        max(CASE WHEN term = 'spark' THEN pos END) OVER w AS l0,
        |        max(CASE WHEN term = 'vector' THEN pos END) OVER w AS l1,
        |        max(CASE WHEN term = 'merge' THEN pos END) OVER w AS l2,
        |        max(CASE WHEN term = 'stream' THEN pos END) OVER w AS l3
        |      FROM h
        |      WINDOW w AS (PARTITION BY doc_id ORDER BY pos ROWS UNBOUNDED PRECEDING)),
        |c AS (SELECT doc_id,
        |        CASE WHEN l0 IS NOT NULL AND l1 IS NOT NULL AND l2 IS NOT NULL AND l3 IS NOT NULL
        |             THEN pos - least(l0, l1, l2, l3) + 1 END AS cand
        |      FROM l),
        |m AS (SELECT doc_id, count(*)::BIGINT AS n_hits, min(cand)::BIGINT AS min_window
        |      FROM c GROUP BY doc_id)
        |SELECT doc_id, n_hits, min_window FROM m WHERE min_window IS NOT NULL
        |ORDER BY min_window ASC, n_hits DESC, doc_id LIMIT 10""".stripMargin,
    // full replay of the MLT two-pass: seed term profile (tf>=2, len>=3),
    // corpus df restricted to those terms, the INTEGER interest ranking
    // tf*N div df (interest desc, tf desc, term asc — total tiebreak),
    // then the n2 BM25 formula over the corpus minus the seed
    "n8_more_like_this" ->
      """WITH n AS (SELECT doc_id, trim(regexp_replace(lower(text), '\s+', ' ', 'g')) AS norm
        |       FROM documents),
        |tk AS (SELECT doc_id, list_filter(string_split(norm, ' '), t -> len(t) > 0) AS tk
        |       FROM n),
        |st AS (SELECT t AS term, count(*)::BIGINT AS tf
        |       FROM (SELECT unnest(tk) AS t FROM tk WHERE doc_id = 3)
        |       WHERE len(t) >= 3 GROUP BY t HAVING count(*) >= 2),
        |g0 AS (SELECT count(*)::BIGINT AS n_docs FROM tk),
        |hits AS (SELECT u.t AS term, count(DISTINCT u.doc_id)::BIGINT AS df
        |         FROM (SELECT doc_id, unnest(tk) AS t FROM tk) u JOIN st ON u.t = st.term
        |         GROUP BY u.t),
        |mt AS (SELECT st.term FROM st JOIN hits USING (term), g0
        |       ORDER BY (st.tf * g0.n_docs) // hits.df DESC, st.tf DESC, st.term ASC
        |       LIMIT 10),
        |tk2 AS (SELECT doc_id, tk FROM tk WHERE doc_id <> 3),
        |lens AS (SELECT doc_id, len(tk) AS dl FROM tk2),
        |g AS (SELECT count(*) AS n_docs, avg(dl::DOUBLE) AS avgdl FROM lens),
        |tf2 AS (SELECT u.doc_id, u.t AS term, count(*) AS tf
        |        FROM (SELECT doc_id, unnest(tk) AS t FROM tk2) u JOIN mt ON u.t = mt.term
        |        GROUP BY u.doc_id, u.t),
        |dfq AS (SELECT term, count(DISTINCT doc_id) AS df FROM tf2 GROUP BY term),
        |w AS (SELECT tf2.doc_id,
        |        ln(1.0 + (g.n_docs - dfq.df + 0.5) / (dfq.df + 0.5))
        |          * (tf2.tf * 2.2) / (tf2.tf + 1.2 * (0.25 + 0.75 * lens.dl / g.avgdl)) AS w
        |      FROM tf2 JOIN dfq USING (term) JOIN lens USING (doc_id), g),
        |sc AS (SELECT doc_id, sum(w) AS score, count(*) AS n_terms FROM w
        |       GROUP BY doc_id ORDER BY sum(w) DESC, doc_id LIMIT 10)
        |SELECT doc_id, round(score, 6) AS bm25, n_terms FROM sc
        |ORDER BY score DESC, doc_id""".stripMargin,
    "n3_hybrid_rrf" ->
      s"""WITH ${bm25Sql(20)},
         |kw AS (SELECT doc_id, row_number() OVER (ORDER BY score DESC, doc_id) AS rank
         |       FROM sc),
         |q AS (SELECT embedding::DOUBLE[] AS qv FROM embeddings WHERE vec_id = 0),
         |dn AS (SELECT doc_id, rank FROM (
         |         SELECT vec_id AS doc_id,
         |           row_number() OVER (ORDER BY
         |             list_cosine_similarity(embedding::DOUBLE[], qv) DESC, vec_id) AS rank
         |         FROM embeddings, q WHERE vec_id <> 0) WHERE rank <= 20),
         |f AS (SELECT coalesce(d.doc_id, k.doc_id) AS doc_id,
         |        d.rank AS dr, k.rank AS kr
         |      FROM dn d FULL JOIN kw k ON d.doc_id = k.doc_id)
         |SELECT doc_id,
         |  round(coalesce(1.0/(60+dr), 0.0) + coalesce(1.0/(60+kr), 0.0), 6) AS rrf,
         |  dr AS dense_rank, kr AS keyword_rank
         |FROM f
         |ORDER BY coalesce(1.0/(60+dr), 0.0) + coalesce(1.0/(60+kr), 0.0) DESC, doc_id
         |LIMIT 10""".stripMargin
  )
}
