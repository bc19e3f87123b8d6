package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import graft.functions.text

/** Content full-text scoring + hybrid fusion.
  *
  * The reference's keyword arm is Postgres FTS over filenames only
  * (`postgres_database.py:2700-2790`, ported as Q12/n1); this generalizes it
  * to BM25 over document CONTENT — the standard keyword side of a hybrid
  * retrieval stack — plus reciprocal-rank fusion ([[rrf]], on the driver,
  * the one RRF of both hybrid readers) to combine it with the dense KNN arm
  * ([[KnnSearch]]), the fusion pgvector+FTS deployments use (Cormack et
  * al. 2009 RRF; k=60 is the canonical constant).
  *
  * 100 TB shape ([[bm25]]): one global aggregate gives the (N, avgdl,
  * per-term df) row, then one map-only scoring pass cuts the top-k with a
  * bounded heap per partition — nothing corpus-sized shuffles, and the
  * only rows leaving a task are its top-k. Scoring is all built-in
  * codegen'd arithmetic — no UDFs.
  */
object FullText {

  /** Okapi BM25 top-k for a bag of query terms over `textCol`.
    * Tokenization = [[text.tokens]] (lower, whitespace), matching every other
    * text operator and the oracle. Emits (doc_id, score, n_terms) in
    * (score desc, doc_id asc) order with the idf form
    * ln(1 + (N - df + 0.5)/(df + 0.5)) — always positive, the Lucene
    * variant. A doc's score sums its distinct query terms' weights in
    * query-term order. Plan ([[bm25Rows]]): the call itself runs the
    * one-row stats aggregate (2 jobs under AQE); the frame it returns is
    * one scoring scan cut by `TakeOrderedAndProject` (1 job when read). */
  def bm25(docs: DataFrame, idCol: String, textCol: String, terms: Seq[String],
           k: Int, k1: Double = 1.2, b: Double = 0.75): DataFrame =
    // id keeps its incoming type (long doc ids, composite chunk keys, ...)
    bm25Rows(docs.select(col(idCol).as("doc_id"), col(textCol).as("__text")),
        "doc_id", "__text", terms, k, k1, b)
      .select("doc_id", "score", "n_terms")

  /** [[bm25]] keeping each hit's own columns: the top-k rows of `docs`
    * with `score` and `n_terms` appended (replacing columns of those
    * names), in (score desc, `idCol` asc) order. The serving hybrid arm
    * reads its keyword hits' chunk columns from here instead of joining
    * hit ids back to the table.
    *
    * Plan: two passes over `docs` and no shuffle of per-doc rows.
    *  1. One global aggregate gives a single stats row — N, avgdl and each
    *     distinct query term's df — collected to the driver (2 jobs under
    *     AQE: the partial-aggregate map stage and the one-row result).
    *  2. One scoring projection over the same scan with idf and avgdl bound
    *     as literals: tf per term is `size(tk) - size(array_remove(tk, t))`
    *     (compiled, no lambda), the weights of the terms are summed in
    *     query-term order, rows with no term hit are filtered out, and the
    *     top-k cut plans as `TakeOrderedAndProject` (1 job when collected).
    * Terms with df = 0 drop out of the projection; when none is left (or
    * there are no terms) the scoring plan prunes to an empty relation and
    * runs no job. idf is evaluated by Spark in the stats query and each
    * term's weight is the same expression tree the explode/groupBy/window
    * plan used, so per-term weights are bit-identical to it. */
  def bm25Rows(docs: DataFrame, idCol: String, textCol: String, terms: Seq[String],
               k: Int, k1: Double = 1.2, b: Double = 0.75): DataFrame = {
    val qs = terms.filter(_ != null).distinct
    val toks = docs.select(col("*"), text.tokens(col(textCol)).as("__tk"))
    val dl = size(col("__tk")).cast("long")
    // (avgdl, per-term (df, idf)) from one aggregate; skipped without terms
    val (avgdl, termStats) =
      if (qs.isEmpty) (0.0, Seq.empty[(Long, Double)])
      else {
        val stats = toks.agg(count(lit(1)).as("n_docs"),
          (avg(dl.cast("double")).as("avgdl") +: qs.indices.map(i =>
            count(when(array_contains(col("__tk"), qs(i)), 1)).as(s"df$i"))): _*)
        val row = stats.select((col("avgdl") +: qs.indices.flatMap { i =>
          val df = col(s"df$i")
          Seq(df, log(lit(1.0) + (col("n_docs") - df + lit(0.5)) / (df + lit(0.5))))
        }): _*).head()
        (if (row.isNullAt(0)) 0.0 else row.getDouble(0),
          qs.indices.map(i => (row.getLong(1 + 2 * i), row.getDouble(2 + 2 * i))))
      }
    val hit = qs.indices.filter(i => termStats(i)._1 > 0)
    val tfd = toks.select((col("*") +: dl.as("__dl") +: hit.map(i =>
      (size(col("__tk")) - size(array_remove(col("__tk"), qs(i)))).cast("long")
        .as(s"__tf$i"))): _*)
    def w(i: Int): Column = {
      val tf = col(s"__tf$i")
      when(tf > 0, lit(termStats(i)._2) * (tf * lit(k1 + 1.0)) /
        (tf + lit(k1) * (lit(1.0 - b) + lit(b) * col("__dl") / lit(avgdl))))
        .otherwise(lit(0.0))
    }
    val scored = tfd
      .withColumn("score",
        hit.map(w).reduceOption(_ + _).getOrElse(lit(null).cast("double")))
      .withColumn("n_terms", hit.map(i =>
        when(col(s"__tf$i") > 0, lit(1L)).otherwise(lit(0L))).reduceOption(_ + _)
        .getOrElse(lit(0L)))
      .filter(if (hit.isEmpty) lit(false) else col("n_terms") > 0)
    scored.drop(("__tk" +: "__dl" +: hit.map(i => s"__tf$i")): _*)
      .orderBy(col("score").desc, col(idCol))
      .limit(k)
  }

  /** BM25F fielded ranking (Robertson & Zaragoza 2009 §3.3 — the
    * Lucene/Elasticsearch multi-field convention): per-term contributions
    * combine ACROSS fields BEFORE saturation,
    *
    *   tf~(t,d) = Σ_f w_f · tf_f / ((1−b_f) + b_f · dl_f/avgdl_f)
    *   score(d) = Σ_t idf(t) · tf~ / (k1 + tf~)
    *
    * so a term hitting both title and body saturates once — the property
    * a naive sum of per-field BM25 scores lacks. idf uses whole-document
    * df (a doc counts once however many fields hit). The Σ_f fold runs in
    * declaration order over a full-outer-joined per-field frame (never a
    * union + groupBy sum, whose float order is partition-dependent), so
    * the doubles replay exactly; the Σ_t term sum follows n2's convention
    * (4-term sums, 6-dp rounding downstream).
    *
    * Plan: per field, explode + codegen'd In-filter so every exchange
    * carries query-term hits only; the (N, avgdl_f) scalars ride ONE
    * broadcast row. At 100 TB each field's hit table is bounded by the
    * query terms' postings. */
  def bm25f(docs: DataFrame, idCol: String,
            fields: Seq[(String, Double, Double)],
            terms: Seq[String], k: Int, k1: Double = 1.2): DataFrame = {
    require(fields.nonEmpty, "bm25f needs at least one (col, weight, b) field")
    val base = docs.select(
      (col(idCol).as("doc_id") +: fields.zipWithIndex.map { case ((c, _, _), i) =>
        text.tokens(col(c)).as(s"tk$i")
      }): _*)
    val global = base.agg(
      count(lit(1)).as("n_docs"),
      fields.indices.map(i =>
        avg(size(col(s"tk$i")).cast("double")).as(s"avgdl$i")): _*)
    val perField = fields.zipWithIndex.map { case ((_, w, b), i) =>
      base.select(col("doc_id"), size(col(s"tk$i")).cast("long").as("dl"),
          explode(col(s"tk$i")).as("term"))
        .filter(col("term").isin(terms: _*))
        .groupBy("doc_id", "dl", "term").agg(count(lit(1)).as("tf"))
        .crossJoin(broadcast(global.select(col(s"avgdl$i"))))
        .select(col("doc_id"), col("term"),
          (lit(w) * col("tf") /
            (lit(1.0 - b) + lit(b) * col("dl") / col(s"avgdl$i")))
            .as(s"c$i"))
    }
    val joined = perField.zipWithIndex
      .map { case (f, i) => (f, i) }
      .reduceLeft[(DataFrame, Int)] { case ((acc, _), (f, i)) =>
        (acc.join(f, Seq("doc_id", "term"), "full"), i)
      }._1
    val tfc = fields.indices
      .map(i => coalesce(col(s"c$i"), lit(0.0)))
      .reduceLeft(_ + _)
    joined
      .withColumn("tfc", tfc)
      .withColumn("df", count(lit(1)).over(
        org.apache.spark.sql.expressions.Window.partitionBy("term")))
      .crossJoin(broadcast(global.select(col("n_docs"))))
      .withColumn("idf",
        log(lit(1.0) + (col("n_docs") - col("df") + lit(0.5)) /
          (col("df") + lit(0.5))))
      .withColumn("w", col("idf") * col("tfc") / (lit(k1) + col("tfc")))
      .groupBy("doc_id")
      .agg(sum("w").as("score"), count(lit(1)).as("n_terms"))
      .orderBy(col("score").desc, col("doc_id"))
      .limit(k)
  }

  /** Offline BM25 artifacts: the full-vocabulary postings list
    * (term, doc_id, tf, dl), per-term document frequencies, and the corpus
    * stats row — what a serving deployment builds ONCE per corpus snapshot
    * and queries many times. At scale `postings` is written bucketed/
    * partitioned by term, so a query's `isin` semi-join prunes to the
    * query-term partitions instead of scanning the corpus. */
  case class Bm25Index(postings: DataFrame, dfreq: DataFrame, stats: DataFrame)

  /** The whole corpus as one [[indexDelta]] batch under [[indexFromParts]]:
    * one explode → (doc, term) counts (map-side combined). */
  def buildIndex(docs: DataFrame, idCol: String, textCol: String): Bm25Index = {
    val (postings, docLens) = indexDelta(docs, idCol, textCol)
    indexFromParts(postings, docLens)
  }

  /** Rebuild the queryable index from ACCUMULATED parts — the incremental
    * maintenance path: an ingest stream appends each micro-batch's postings
    * (doc_id, dl, term, tf) and doc lengths (doc_id, dl) to two tables
    * (disjoint doc ids per batch, the exactly-once contract the streaming
    * specs gate), and df/N/avgdl are DERIVED from the accumulated parts, so
    * the result is value-identical to [[buildIndex]] over the union of all
    * batches — no global rebuild, ever. */
  def indexFromParts(postings: DataFrame, docLens: DataFrame): Bm25Index = {
    val dfreq = postings.groupBy("term").agg(countDistinct("doc_id").as("df"))
    val stats = docLens.agg(count(lit(1)).as("n_docs"),
      avg(col("dl").cast("double")).as("avgdl"))
    Bm25Index(postings, dfreq, stats)
  }

  /** The per-batch delta for [[indexFromParts]]: (postings, docLens). */
  def indexDelta(docs: DataFrame, idCol: String, textCol: String): (DataFrame, DataFrame) = {
    val toks = docs.select(col(idCol).as("doc_id"), text.tokens(col(textCol)).as("tk"))
    val postings = toks.select(col("doc_id"), size(col("tk")).cast("long").as("dl"),
        explode(col("tk")).as("term"))
      .groupBy("doc_id", "dl", "term").agg(count(lit(1)).as("tf"))
    (postings, toks.select(col("doc_id"), size(col("tk")).cast("long").as("dl")))
  }

  /** Query the prepared index — value-identical to [[bm25]] (the tf/df
    * multisets restricted to the query terms are the same), but the only
    * scan is the term-pruned postings slice. */
  def queryIndex(idx: Bm25Index, terms: Seq[String], k: Int,
                 k1: Double = 1.2, b: Double = 0.75): DataFrame =
    idx.postings.filter(col("term").isin(terms: _*))
      .join(broadcast(idx.dfreq.filter(col("term").isin(terms: _*))), "term")
      .crossJoin(broadcast(idx.stats))
      .withColumn("idf",
        log(lit(1.0) + (col("n_docs") - col("df") + lit(0.5)) / (col("df") + lit(0.5))))
      .withColumn("w",
        col("idf") * (col("tf") * lit(k1 + 1.0)) /
          (col("tf") + lit(k1) * (lit(1.0 - b) + lit(b) * col("dl") / col("avgdl"))))
      .groupBy("doc_id")
      .agg(sum("w").as("score"), count(lit(1)).as("n_terms"))
      .orderBy(col("score").desc, col("doc_id"))
      .limit(k)

  /** More-Like-This document similarity (the Lucene `MoreLikeThis` shape —
    * find documents resembling ONE seed document without an embedding):
    * the seed's "interesting terms" are extracted and run as a BM25 query
    * against the rest of the corpus.
    *
    * Term selection mirrors Lucene's defaults made integer-deterministic
    * (design rule 13): candidate terms occur ≥ `minTf` times in the seed
    * (min_term_freq) at length ≥ `minLen`, ranked by
    * `interest = tf · N div df` — tf·idf's "frequent here, rare there"
    * ordering in exact integer arithmetic (div, not a float log, so the
    * top-`m` cut is replayable in any engine; total tiebreak interest ↓,
    * tf ↓, term ↑). The selected terms are a request-sized driver decision
    * (design rule 17, the n7 RM3 convention — they parameterize the next
    * plan's term filter exactly like a user query would).
    *
    * 100 TB shape: the seed profile is a one-document slice (the id filter
    * pushes into the scan); corpus document frequencies come from one
    * explode pass semi-joined against the broadcast seed-term list BEFORE
    * the groupBy, so the only corpus-sized shuffle carries seed-term hits
    * only (the term-filter-before-shuffle discipline); the final scoring
    * pass IS [[bm25]] over the corpus minus the seed. */
  def moreLikeThis(docs: DataFrame, idCol: String, textCol: String,
                   seedId: Long, m: Int = 10, k: Int = 10,
                   minTf: Long = 2, minLen: Int = 3): DataFrame = {
    require(m >= 1 && k >= 1, s"moreLikeThis needs m>=1, k>=1 (got $m, $k)")
    val toks = docs.select(col(idCol).as("doc_id"),
      text.tokens(col(textCol)).as("tk"))
    val seedTf = toks.filter(col("doc_id") === seedId)
      .select(explode(col("tk")).as("term"))
      .filter(length(col("term")) >= minLen)
      .groupBy("term").agg(count(lit(1)).as("tf"))
      .filter(col("tf") >= minTf)
    val global = toks.agg(count(lit(1)).as("n_docs"))
    val dfreq = toks.select(col("doc_id"), explode(col("tk")).as("term"))
      .join(broadcast(seedTf.select("term")), Seq("term"), "left_semi")
      .groupBy("term").agg(countDistinct("doc_id").as("df"))
    val terms = seedTf.join(dfreq, "term")
      .crossJoin(broadcast(global))
      .withColumn("interest", expr("tf * n_docs div df"))
      .orderBy(col("interest").desc, col("tf").desc, col("term").asc)
      .limit(m)
      .collect().map(_.getString(0)).toSeq
    bm25(docs.filter(col(idCol) =!= seedId), idCol, textCol, terms, k)
  }

  /** Search-result snippets — the Spark-first `ts_headline`-lite (the
    * reference's keyword arm is Postgres FTS, whose result pages headline
    * matches; `postgres_database.py:2700-2790` serves the hit rows this
    * decorates). For each row: find the EARLIEST occurrence of any query
    * term in the lowercased text (ties between terms at the same position
    * go to query order), cut a `width`-char window centered on it
    * (clamped to the text start), and mark truncation with ellipses.
    * Rows matching no term snippet from the start, with null
    * matched_term/match_pos.
    *
    * Matching modes: `boundary = true` (the DEFAULT — parity with Postgres
    * `ts_headline`, which matches LEXEMES, so the term "cat" must not
    * headline "concatenate") matches the term only where it stands as a
    * whole word: the haystack is lowercased and every non-[a-z0-9] char is
    * replaced by a space — a LENGTH-PRESERVING rewrite, so positions in
    * the normalized string ARE positions in the original text — then the
    * space-padded haystack is probed for the space-wrapped term;
    * `instr(' '||norm||' ', ' t ')` is then exactly the 1-based start of
    * the whole-word match in the original text (the leading pad occupies
    * index 1, so the hit's space-before lands ON the preceding original
    * index). A MULTI-WORD term matches with `plainto_tsquery` semantics —
    * AND of its word lexemes, NOT phrase adjacency (the parity target: the
    * reference's FTS arm builds its query with plainto_tsquery,
    * `postgres_database.py:2760-2773`, so "spark engine" must headline
    * "spark, engine" and "spark ... engine" alike): the term matches iff
    * EVERY word matches as a whole word, anchored at the earliest of its
    * words — exactly where ts_headline starts its first fragment. (A naive
    * single-probe ` spark engine ` would silently demand one-separator
    * adjacency: "spark, engine" normalizes to two spaces and stops
    * matching.) `boundary = false` is the raw-substring mode (multi-word
    * terms are matched as literal substrings). In both modes match_pos is
    * the 1-based start of the matched term (boundary: its earliest word) in
    * the original text. Terms and text both fold through `text.fold`,
    * after `İ` → `I`: ICU folds `İ` to two code points (`i` + U+0307), and
    * every other letter to one, so with that one mapped first a position
    * in the folded text is the same position in the original.
    *
    * KNOWN LIMITATION — boundary mode is ASCII-lexeme only: the
    * `[^a-z0-9]` normalization treats EVERY non-ASCII letter as a
    * separator, so an accented or non-Latin term ("café", "東京") can never
    * match in the default mode and falls to the no-match from-the-start
    * snippet. Callers with non-ASCII query terms should pass
    * `boundary = false` (substring mode matches them verbatim). Extending
    * the lexeme class to `\p{L}\p{N}` must happen in lockstep with the n4
    * oracle's regex or the registered divergence pair starts lying.
    *
    * Deterministic by construction — ASCII-lowercase matching, 1-based char
    * positions (Spark `instr` == DuckDB `strpos`, 0 = absent; Spark
    * `regexp_replace` == DuckDB `regexp_replace(..., 'g')`), char-based
    * substring — so the n4 oracle replays it exactly. Pure built-in string
    * expressions, applied AFTER retrieval to the request-sized hit slice
    * (the one HOF filter runs over a |terms|-length array per hit row,
    * never over the corpus). */
  def snippets(hits: DataFrame, textCol: String, terms: Seq[String],
               width: Int = 80, boundary: Boolean = true): DataFrame = {
    require(terms.nonEmpty, "snippets needs at least one query term")
    val folded = text.fold(translate(col(textCol), "İ", "I"))
    val hay =
      if (boundary) concat(lit(" "), regexp_replace(folded, "[^a-z0-9]", " "), lit(" "))
      else folded
    def termPos(term: String): Column = {
      val t = term.replace("İ", "I")
      if (!boundary) instr(hay, text.fold(t)).cast("long")
      else {
        val words = text.words(t, "[^a-z0-9]+")
        if (words.isEmpty) lit(0L)
        else {
          val ps = words.map(w => instr(hay, s" $w ").cast("long"))
          if (ps.length == 1) ps.head
          else // AND of word lexemes, anchored at the earliest word
            when(ps.map(_ > 0L).reduce(_ && _), least(ps.toIndexedSeq: _*))
              .otherwise(lit(0L))
        }
      }
    }
    val found = filter(
      array(terms.zipWithIndex.map { case (t, i) =>
        struct(termPos(t).as("pos"), lit(i).as("idx"))
      }: _*),
      s => s.getField("pos") > 0)
    val best = array_min(found) // min by (pos, idx): earliest, then query order
    val pos = coalesce(best.getField("pos"), lit(1L))
    val start = greatest(lit(1L), pos - lit((width / 2).toLong))
    val snip = concat(
      when(start > 1, lit("…")).otherwise(lit("")),
      col(textCol).substr(start, lit(width.toLong)),
      when(start + lit(width.toLong) - 1 < length(col(textCol)), lit("…"))
        .otherwise(lit("")))
    hits
      .withColumn("match_pos", best.getField("pos"))
      .withColumn("matched_term",
        element_at(typedLit(terms), (best.getField("idx") + 1).cast("int")))
      .withColumn("snippet", snip)
  }

  /** A fused key: its 1-based rank per arm (None where the arm missed it)
    * and rrf = Σ 1/(60 + rank) over the arms that hold it. */
  case class Fused[K](key: K, denseRank: Option[Long], keywordRank: Option[Long]) {
    val rrf: Double = Seq(denseRank, keywordRank).flatten.map(r => 1.0 / (60L + r)).sum
  }

  /** Reciprocal-rank fusion of two ranked key lists (best first): the top
    * `k` keys of either list by (rrf desc, key in `keyOrder`, the order
    * the caller's engine side sorts its keys by). Runs on the driver over
    * request-sized lists (rule 17). */
  def rrf[K](dense: Seq[K], keyword: Seq[K], k: Int, keyOrder: Ordering[K]): Seq[Fused[K]] = {
    def ranks(arm: Seq[K]) = arm.zipWithIndex.map { case (key, i) => key -> (i + 1L) }.toMap
    val (d, w) = (ranks(dense), ranks(keyword))
    (dense ++ keyword).distinct.map(key => Fused(key, d.get(key), w.get(key)))
      .sortWith((a, b) => a.rrf > b.rrf || (a.rrf == b.rrf && keyOrder.lt(a.key, b.key)))
      .take(k)
  }

  /** Exact phrase search — Postgres `tsquery <->` / Lucene PhraseQuery
    * semantics (reference search is AND-of-lexemes only,
    * `postgres_database.py:2700-2802`; n4's multi-word terms deliberately
    * mirror that — THIS is the adjacency upgrade): a match is the phrase's
    * tokens CONSECUTIVE in [[text.tokens]] order. Each hit occurrence
    * votes for the phrase start it would belong to (`pos − qi`); a start
    * where all `|phrase|` distinct query positions voted is a match —
    * correct even when the phrase repeats a term ("the cat the"), because
    * votes are counted per query POSITION, not per term. Emits matching
    * docs only: `doc_id`, `n_matches`, `first_pos` (top-k by matches).
    *
    * 100 TB shape: the In-filter cuts the exploded stream to query-term
    * hits BEFORE anything shuffles (the term-filter discipline); the phrase table
    * is a ≤|phrase|-row broadcast; vote counting is a map-side-combined
    * groupBy on (doc, start); ranking is TakeOrderedAndProject. */
  def phraseSearch(docs: DataFrame, idCol: String, textCol: String,
                   phrase: Seq[String], k: Int): DataFrame = {
    require(phrase.nonEmpty, "phraseSearch needs a non-empty phrase")
    val terms = phrase.map(text.fold(_))
    val spark = docs.sparkSession
    import spark.implicits._
    val q = terms.zipWithIndex.toDF("term", "qi")
    val hits = docs.select(col(idCol).as("doc_id"),
        posexplode(text.tokens(col(textCol))).as(Seq("pos", "term")))
      .filter(col("term").isin(terms.distinct: _*))
    hits.join(broadcast(q), "term")
      .select(col("doc_id"), (col("pos") - col("qi")).as("start"), col("qi"))
      .filter(col("start") >= 0)
      .groupBy("doc_id", "start")
      .agg(countDistinct("qi").as("nq"))
      .filter(col("nq") === terms.length)
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_matches"),
        min(col("start")).cast("long").as("first_pos"))
      .orderBy(col("n_matches").desc, col("doc_id"))
      .limit(k)
  }

  /** Proximity search — the general form between [[bm25]]'s bag-of-words
    * AND and [[phraseSearch]]'s strict adjacency: docs containing EVERY
    * query term, ranked by the MINIMAL token window covering all of them
    * (Clarke et al.'s cover-density intuition: "spark … merge" two tokens
    * apart beats two mentions 900 tokens apart).
    *
    * The minimal cover is computed WITHOUT a per-doc two-pointer loop, as
    * pure windowed SQL both engines replay identically: over the hit rows
    * ordered by position, carry one running `max(pos) so far` PER TERM
    * (|terms| window columns — query-sized, not corpus-sized); at each hit
    * the candidate window is `pos − least(latest₁..latestₙ) + 1`, defined
    * once every term has appeared, and the per-doc `min` of candidates IS
    * the minimal cover (the windowing equivalent of the classic shrink
    * step: the best window ending at `pos` starts at the stalest term's
    * latest occurrence).
    *
    * 100 TB shape: the explode is term-filtered before any shuffle (the
    * [[phraseSearch]] discipline), the running maxes and the final min share ONE
    * doc-keyed exchange, and per-row state is |terms| longs. Output:
    * (doc_id, n_hits, min_window), all-terms docs only, ranked
    * min_window ↑, n_hits ↓, doc_id ↑ — total integer tiebreak. */
  def proximitySearch(docs: DataFrame, idCol: String, textCol: String,
                      terms: Seq[String], k: Int): DataFrame = {
    require(terms.nonEmpty, "proximitySearch needs at least one term")
    val t = terms.map(text.fold(_)).distinct
    val byPos = org.apache.spark.sql.expressions.Window
      .partitionBy("doc_id").orderBy("pos")
      .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding, 0)
    val latest = t.zipWithIndex.map { case (term, i) =>
      max(when(col("term") === term, col("pos"))).over(byPos).as(s"__l$i")
    }
    val ls = t.indices.map(i => col(s"__l$i"))
    // coverage is an EXPLICIT conjunction, not least()'s null behavior
    // (Spark's least skips nulls — an uncovered prefix would otherwise
    // yield bogus windows; the oracle states the same CASE WHEN)
    val covered = ls.map(_.isNotNull).reduce(_ && _)
    val cand = when(covered,
      col("pos") - ls.reduce((a, b) => least(a, b)) + lit(1))
    docs.select(col(idCol).as("doc_id"),
        posexplode(text.tokens(col(textCol))).as(Seq("pos", "term")))
      .filter(col("term").isin(t: _*))
      .select(col("doc_id") +: col("pos") +: latest: _*)
      .select(col("doc_id"), cand.cast("long").as("cand"))
      .groupBy("doc_id")
      .agg(count(lit(1)).cast("long").as("n_hits"),
        min("cand").as("min_window"))
      // min() skips the null pre-coverage candidates; an all-null doc is
      // missing a term entirely and drops here
      .filter(col("min_window").isNotNull)
      .orderBy(col("min_window").asc, col("n_hits").desc, col("doc_id"))
      .limit(k)
  }

  /** "Did you mean" — query-token spell correction against the corpus's
    * OWN vocabulary (the serving feature keyword engines bolt onto BM25:
    * a misspelled term otherwise just misses the postings): per query
    * token, the minimum-edit-distance vocabulary term within `maxDist`,
    * ties to the HIGHER document frequency then lexicographic — common
    * words win, hapax noise loses. Vocabulary = one map-side-combined
    * token count; candidates gate on |length difference| ≤ maxDist (a
    * Levenshtein lower bound, so the gate loses nothing). The non-equi
    * join deliberately broadcasts the REQUEST-SIZED side (the query's
    * tokens) against one vocabulary scan — a broadcast-query nested loop
    * is the honest plan here, never vocab × vocab. Tokens with no
    * candidate emit nothing (serving falls back to the raw token).
    * Query tokens are canonicalized (lowercase + trim, the same
    * `text.normalize` form the vocabulary is built from) before the
    * join — a mixed-case query token would otherwise see inflated edit
    * distances against the lowercased vocabulary and silently miss its
    * correction; the output `token` column is the canonical form. */
  def spellSuggest(docs: DataFrame, textCol: String,
                   queryTokens: Seq[String], maxDist: Int = 2): DataFrame = {
    require(maxDist >= 0, s"spellSuggest needs maxDist>=0 (got $maxDist)")
    val spark = docs.sparkSession
    import spark.implicits._
    val vocab = graft.Tables.scaled(
      docs.select(explode(text.tokens(col(textCol))).as("vterm")))
      .groupBy("vterm").agg(count(lit(1)).as("df"))
    val canonical = queryTokens.map(t => text.fold(t.trim))
      .filter(_.nonEmpty).distinct
    val q = broadcast(canonical.toDF("qt"))
    vocab.join(q, abs(length(col("vterm")) - length(col("qt"))) <= maxDist)
      .withColumn("dist", levenshtein(col("qt"), col("vterm")).cast("long"))
      .filter(col("dist") <= maxDist)
      .withColumn("__rn", row_number().over(
        org.apache.spark.sql.expressions.Window.partitionBy("qt")
          .orderBy(col("dist").asc, col("df").desc, col("vterm").asc)))
      .filter(col("__rn") === 1)
      .select(col("qt").as("token"), col("vterm").as("suggestion"),
        col("dist"), col("df"))
  }

  /** Query-likelihood retrieval with Dirichlet-prior smoothing (Zhai &
    * Lafferty 2001 — the language-modeling ranking family beside the
    * probabilistic BM25/BM25F and the feedback RM3; Lucene's
    * `LMDirichletSimilarity`):
    *
    *   score(Q, D) = Σ_w ln( (tf_{w,D} + μ·P(w|C)) / (|D| + μ) )
    *
    * computed by the standard hit-only decomposition so unseen query
    * terms never explode the plan:
    *
    *   score = Σ_{hits} ln(1 + tf·|C|/(μ·cf_w))                 (part 1)
    *         + Σ_w ln(μ·cf_w/|C|)  −  |Q|·ln(|D| + μ)     (parts 2 & 3)
    *
    * part 2 is a per-QUERY constant and part 3 depends only on doc
    * length, so ONLY matching (doc, term) rows are ever exchanged — the
    * n2 explode + In-filter discipline — yet every document in the
    * corpus is scored (a doc with zero hits still ranks by its length
    * prior, the property BM25's zero-for-missing scoring doesn't have).
    *
    * Determinism: every ln argument is a ratio of EXACT integers
    * (μ, cf_w, |C|, tf, |D| — ln of integer ratios, the t30 primitive);
    * part 1 folds per doc in TERM order (sort_array fold, the t57
    * word-ordered discipline), part 2 folds the cf rows in term order on
    * a one-row frame, and the score is emitted as ⌊score·10⁶⌋ with the
    * (score_fp desc, doc_id) total order. A query term absent from the
    * corpus raises loudly (its smoothed probability is 0 — the whole
    * query would score −∞; the caller drops or respells it, the n10
    * suggestion path).
    *
    * 100 TB shape: two vocab-bounded scalars (|C|, the 4-row cf table)
    * + one hit-only explode groupBy (n2's exchange) + a k-bounded
    * TakeOrdered. Nothing corpus-sized shuffles except the hit rows. */
  def qlDirichlet(docs: DataFrame, idCol: String, textCol: String,
                  terms: Seq[String], k: Int, mu: Long = 2000L): DataFrame = {
    require(terms.nonEmpty && k >= 1 && mu >= 1,
      s"qlDirichlet needs terms, k >= 1, mu >= 1 (got $terms / $k / $mu)")
    // parts 2/3 sum per term OCCURRENCE but part 1's (doc, term) tf fold
    // counts each matched term once — a duplicated query term would drop
    // a copy of its hit contribution silently. Distinct terms is the
    // contract (the memorizationReport / genDiversity convention).
    require(terms.distinct.length == terms.length,
      s"qlDirichlet: duplicate query terms (${terms.mkString(", ")}) — " +
        "part 1 scores each (doc, term) once; dedupe the query")
    // ONE tokenize pass: dl and the in-row hit sublist ride a single
    // checkpointed per-doc frame (rows are (id, long, tiny array) — the
    // token arrays themselves are never materialized), so the cf collect,
    // the |C| sum, and the tf groupBy below are three cheap jobs over one
    // materialization instead of three corpus re-tokenizations (the t62
    // lineage lesson).
    val perDoc = graft.StageCut(docs.select(col(idCol).as("doc_id"),
        text.tokens(col(textCol)).as("tk"))
      .select(col("doc_id"), size(col("tk")).cast("long").as("dl"),
        filter(col("tk"), t => t.isInCollection(terms)).as("hit_tk")),
      "qlDirichlet.perDoc")
    val lens = perDoc.select(col("doc_id"), col("dl"))
    val spark = docs.sparkSession
    import spark.implicits._
    val hits = perDoc.select(col("doc_id"), explode(col("hit_tk")).as("term"))
    val cfRows = hits.groupBy("term").agg(count(lit(1)).as("cf"))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    val missing = terms.filterNot(cfRows.contains)
    require(missing.isEmpty, s"qlDirichlet: query terms absent from the " +
      s"corpus (smoothed probability 0 — the query would score -inf): " +
      s"${missing.mkString(", ")}; drop or respell them (spellSuggest)")
    val totC = lens.agg(sum(col("dl"))).head().getLong(0)
    require(totC > 0, "qlDirichlet: empty corpus")
    // part 2: per-query constant, folded in sorted-term order (driver —
    // |Q| values, rule 17)
    val qConst = terms.sorted.foldLeft(0.0)((a, t) =>
      a + math.log(mu.toDouble * cfRows(t) / totC.toDouble))
    val cfDf = broadcast(cfRows.toSeq.toDF("term", "cf"))
    val tf = hits.groupBy("doc_id", "term").agg(count(lit(1)).as("tf"))
    val part1 = tf.join(cfDf, "term")
      .withColumn("w", log(lit(1.0) +
        (col("tf") * totC).cast("double") /
          (lit(mu) * col("cf")).cast("double")))
      .groupBy("doc_id")
      .agg(graft.functions.GenEvalExpressions.ordered_sum(
        collect_list(struct(col("term").as("t"),
          col("w").as("w")))).as("s1"),
        count(lit(1)).as("n_hit_terms"))
    lens.join(part1, Seq("doc_id"), "left")
      .select(col("doc_id"),
        coalesce(col("n_hit_terms"), lit(0L)).as("n_hit_terms"),
        floor((coalesce(col("s1"), lit(0.0)) + lit(qConst) -
          lit(terms.length.toDouble) *
            log((col("dl") + mu).cast("double"))) * lit(1000000.0))
          .cast("long").as("score_fp"))
      .orderBy(col("score_fp").desc, col("doc_id").asc)
      .limit(k)
  }

  /** Classic vector-space cosine ranking in the SMART lnc.ltc weighting
    * (Salton–Buckley 1988; Manning–Raghavan–Schütze IIR §6.4.3 — the
    * third ranking paradigm beside BM25's probabilistic-relevance family
    * (n2/n13) and the language-model family (n14): document vectors are
    * log-tf with COSINE normalization and no idf (lnc), query vectors
    * are log-tf · idf (ltc), score = the normalized dot product. The
    * property the others lack: doc weights are QUERY-INDEPENDENT, so
    * the normalized vectors are a precomputable index artifact and a
    * score is a pure dot product at serve time).
    *
    * Determinism: w_d = 1 + ln(tf), w_q = ln(N/df) (ln of integer
    * ratios, the t30 primitive; squares spelled x·x, never pow — rule
    * 13); the doc norm folds (1+ln tf)² over the doc's DISTINCT terms in
    * ascending term order via ONE in-row pass over the sorted token
    * array (a struct-accumulator run-length fold — no per-doc histogram
    * is ever materialized or shuffled), the per-doc score folds hit
    * terms in term order (the n14 discipline), and the output is
    * ⌊cosine·10⁶⌋ under the (score_fp desc, doc_id) total order. Query
    * terms absent from the corpus contribute nothing (idf undefined —
    * the standard VSM behavior, unlike n14's loud −∞).
    *
    * 100 TB shape: the doc-norm pass is MAP-ONLY (the one thing that
    * looks corpus-sized — the per-doc term histogram — never leaves the
    * row); the only corpus-sized exchange is n2's hit-only explode
    * groupBy. df/idf/query-norm come from a second LEAN tokenize pass
    * (no norm fold) whose ≤|Q|-row result is stage-cut and
    * consumed by both the broadcast scoring join and the query-norm
    * aggregate (the n14 lineage discipline — the alternative df window
    * over the hit table would leave the query norm re-executing the
    * expensive norm-fold scan); the cut is a k-bounded TakeOrdered. */
  def tfidfVsm(docs: DataFrame, idCol: String, textCol: String,
               terms: Seq[String], k: Int): DataFrame = {
    require(terms.nonEmpty && k >= 1,
      s"tfidfVsm needs terms and k >= 1 (got $terms / $k)")
    require(terms.distinct.length == terms.length,
      s"tfidfVsm: duplicate query terms (${terms.mkString(", ")}) — " +
        "ltc weights score each term once; dedupe the query")
    val toks = docs.select(col(idCol).as("doc_id"),
      text.tokens(col(textCol)).as("tk"))
    // the codegen'd static kernel: one histogram pass + an ascending-
    // term fold of (1+ln tf)² — bit-identical to the sort_array
    // run-length HOF fold it replaces (first draft; HOFs evaluate
    // interpreted with per-element boxing — the ev1 pathology), and the
    // oracle's list_sum(... ORDER BY term) replays the same order
    val normExpr = sqrt(graft.functions.GenEvalExpressions
      .lnc_norm_sq(col("tk")))
    // (docs × |Q|)-bounded after the term filter — checkpointed (r17) so
    // the df rollup derives from it instead of a second tokenize+explode
    // pass over the corpus (tf has exactly one row per matching
    // (doc, term), so count-per-term IS the document frequency)
    val tf = graft.StageCut(toks.select(col("doc_id"), normExpr.as("norm_d"),
        explode(col("tk")).as("term"))
      .filter(col("term").isin(terms: _*))
      .groupBy("doc_id", "norm_d", "term").agg(count(lit(1)).as("tf")),
      "tfidfVsm.tf")
    val global = toks.agg(count(lit(1)).as("n_docs"))
    val dfT = graft.StageCut(tf
      .groupBy("term").agg(count(lit(1)).as("df"))
      .crossJoin(broadcast(global))
      .withColumn("wq", log(col("n_docs").cast("double") / col("df"))), "tfidfVsm.dfT")
    val qNorm = dfT
      .agg(coalesce(sqrt(aggregate(
        sort_array(collect_list(struct(col("term").as("t"),
          col("wq").as("q")))),
        lit(0.0), (a, x) => a + x.getField("q") * x.getField("q"))),
        lit(0.0)).as("norm_q"))
    val weighted = tf.join(broadcast(dfT.select(col("term"), col("wq"))), "term")
      .withColumn("w", (lit(1.0) + log(col("tf").cast("double"))) * col("wq"))
    weighted
      .groupBy("doc_id", "norm_d")
      .agg(graft.functions.GenEvalExpressions.ordered_sum(
        collect_list(struct(col("term").as("t"),
          col("w").as("w")))).as("s"),
        count(lit(1)).as("n_terms"))
      .crossJoin(broadcast(qNorm))
      // norm_q = 0 with scored rows present means EVERY query term
      // appears in every document (all ltc idf weights ln(N/df) = 0):
      // the ratio would be 0/0 = NaN, which Spark's floor→long silently
      // zeroes while DuckDB errors — a silent-zero ranking and an
      // engine/oracle divergence. Raise loudly instead (the qlDirichlet
      // convention). norm_d needs no guard: a scored doc has ≥ 1 matched
      // token, so its lnc fold is ≥ 1.
      .select(col("doc_id"), col("n_terms"),
        floor((col("s") / (col("norm_d") *
          when(col("norm_q") > 0, col("norm_q")).otherwise(raise_error(
            lit("tfidfVsm: query norm is 0 - every query term appears " +
              "in every document, ltc weights cannot rank; drop " +
              "stopword-like terms"))))) * lit(1000000.0))
          .cast("long").as("score_fp"))
      .orderBy(col("score_fp").desc, col("doc_id").asc)
      .limit(k)
  }
}
