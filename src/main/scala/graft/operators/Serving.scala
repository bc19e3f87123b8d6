package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.catalyst.util.SQLOrderingUtil
import org.apache.spark.sql.functions._
import org.apache.spark.unsafe.types.UTF8String
import graft.functions.text

/** Remaining query-time serving operators (SURVEY Q6, Q8-Q10, Q12).
  */
object Serving {

  /** Q6 rerank oversample: the reference reranks `max(k, min(3k, 20))`
    * candidates (`document_service.py:388-391`); the model stage is
    * [[ModelRerank.rerank]]. */
  def oversample(k: Int): Int = math.max(k, math.min(3 * k, 20))

  /** Spark's ascending order for one sort-key value, nulls first:
    * strings by UTF-8 bytes (Java's UTF-16 order differs for non-BMP
    * text), floating point with NaN largest and -0.0 == 0.0, everything
    * else by its natural order. */
  def sqlCompare(a: Any, b: Any): Int = (a, b) match {
    case (null, null) => 0
    case (null, _) => -1
    case (_, null) => 1
    case (x: String, y: String) => UTF8String.fromString(x).compareTo(UTF8String.fromString(y))
    case (x: Double, y: Double) => SQLOrderingUtil.compareDoubles(x, y)
    case (x: Float, y: Float) => SQLOrderingUtil.compareFloats(x, y)
    case (x: Comparable[_], y) => x.asInstanceOf[Comparable[Any]].compareTo(y)
    case _ => throw new IllegalArgumentException(
      s"no driver-side order for sort key ${a.getClass.getName}")
  }

  /** Spark's `ORDER BY` on the driver: whether the first row sorts before
    * the second, given each key's (first, second) values in turn; pass a
    * descending key's pair swapped. */
  def sortsBefore(keys: (Any, Any)*): Boolean =
    keys.iterator.map { case (a, b) => sqlCompare(a, b) }.find(_ != 0).exists(_ < 0)

  /** Q10 batch get by composite id: join against a literal key set with
    * order-preserving dedup (`pgvector_store.py:509-570`). Broadcast — the
    * key list is a user request, never data-sized. */
  def batchGet(chunks: DataFrame, keys: Seq[(Long, Int)],
               docIdCol: String, chunkNoCol: String): DataFrame = {
    val spark = chunks.sparkSession
    import spark.implicits._
    val dedup = keys.distinct.zipWithIndex
    val keyDf = dedup.map { case ((d, c), i) => (d, c, i) }
      .toDF(docIdCol, chunkNoCol, "__req_order")
    chunks.join(broadcast(keyDf), Seq(docIdCol, chunkNoCol))
      .orderBy("__req_order")
      .drop("__req_order")
  }

  /** Q12 filename full-text search (`postgres_database.py:2700-2802`):
    * the reference's 3-way OR of
    *   1. `filename ILIKE %query%` (raw substring),
    *   2. 'english' FTS — to_tsvector of the normalized name (extension
    *      stripped, [_-]+ → space) @@ plainto_tsquery: ALL stemmed
    *      non-stopword query lexemes present (AND semantics),
    *   3. 'simple' FTS — same, unstemmed and stopword-free;
    * ranked by a ts_rank-shaped score over the 'english' lexemes — each
    * matched query lexeme contributes `0.1 · tf/(tf+1)` (Postgres's
    * unlabeled-position weight times its saturating frequency factor) —
    * then `updated_at DESC NULLS LAST` and id as the final deterministic
    * tiebreak. Stemming is [[text.light_stem]] (see its deviation note). */
  def filenameSearch(docs: DataFrame, filenameCol: String, idCol: String,
                     query: String, limit: Int,
                     updatedAtCol: Option[String] = None): DataFrame = {
    val q = text.fold(query.trim)
    val normName = text.fold(regexp_replace(
      regexp_replace(col(filenameCol), "\\.[^.]*$", ""), "[_-]+", " "))
    val rawToks = filter(split(normName, "\\s+"), t => length(t) > 0)
    val lexemes = transform(
      filter(rawToks, t => !t.isin(text.ftsStopwords.map(lit(_)): _*)),
      t => text.light_stem(t))
    val qRaw = text.words(query.trim).distinct
    val qLex = qRaw.filterNot(text.ftsStopwords.contains)
      .map(text.lightStemString).distinct
    val substrHit = text.fold(col(filenameCol)).contains(q)
    val englishHit =
      if (qLex.isEmpty) lit(false)
      else qLex.map(l => array_contains(lexemes, l)).reduce(_ && _)
    val simpleHit =
      if (qRaw.isEmpty) lit(false)
      else qRaw.map(t => array_contains(rawToks, t)).reduce(_ && _)
    val rank =
      if (qLex.isEmpty) lit(0.0)
      else qLex.map { l =>
        val tf = size(filter(lexemes, x => x === lit(l))).cast("double")
        lit(0.1) * tf / (tf + lit(1.0))
      }.reduce(_ + _)
    val matched = docs.filter(substrHit || englishHit || simpleHit)
      .withColumn("name_rank", rank)
    val ordering = Seq(col("name_rank").desc) ++
      updatedAtCol.map(c => col(c).desc_nulls_last).toSeq :+ col(idCol).asc
    matched.orderBy(ordering: _*).limit(math.max(1, math.min(limit, 100)))
  }

  /** The pg_trgm word-trigram SET of a string, as a Column — Postgres's
    * `show_trgm` semantics (pg_trgm docs): lowercase, words = alphanumeric
    * runs, each word padded with two leading and one trailing blank, all
    * 3-char windows, de-duplicated across the whole string. */
  def trgmColumn(c: Column): Column = {
    val words = filter(
      split(regexp_replace(text.fold(c), "[^a-z0-9]+", " "), " "),
      w => length(w) > 0)
    array_distinct(flatten(transform(words, w => {
      val padded = concat(lit("  "), w, lit(" "))
      transform(sequence(lit(1), length(padded) - lit(2)),
        i => padded.substr(i, lit(3)))
    })))
  }

  /** Driver-side mirror of [[trgmColumn]] for the request string. */
  def trgmSet(s: String): Set[String] =
    text.words(s, "[^a-z0-9]+").flatMap { w =>
      val p = "  " + w + " "
      (0 to p.length - 3).map(i => p.substring(i, i + 3))
    }.toSet

  /** Fuzzy string search by pg_trgm SIMILARITY — the production upgrade
    * of [[filenameSearch]]'s ILIKE substring arm (Postgres deployments
    * back it with a GIN trigram index; `similarity(a,b) = |A∩B|/|A∪B|`
    * over the padded word-trigram sets): typo-tolerant filename/title
    * lookup where FTS stemming and exact substrings both miss.
    *
    * 100 TB shape: the corpus side explodes to (id, trigram) rows with
    * the QUERY-trigram In-filter applied before anything shuffles (the
    * bm25 discipline — a request has tens of trigrams, so the shuffle
    * carries only candidate hits); shared counts are one map-side-
    * combined groupBy; the union size needs no join back because the
    * per-doc trigram count rides the exploded rows as a grouping key.
    * At scale the (trigram → ids) postings table is the precomputed GIN
    * analog ([[FullText.buildIndex]] pattern). Docs sharing NO trigram
    * never appear (similarity 0 — exactly pg_trgm's index behavior).
    * Output: `id`, `shared`, `similarity`, top-k by (similarity desc,
    * id). */
  def trgmSimilaritySearch(docs: DataFrame, strCol: String, idCol: String,
                           query: String, k: Int,
                           minSim: Double = 0.0): DataFrame = {
    val qg = trgmSet(query)
    require(qg.nonEmpty, s"query '$query' yields no trigrams")
    require(k >= 1, s"trgmSimilaritySearch needs k>=1 (got $k)")
    val tg = docs.select(col(idCol).as("id"), trgmColumn(col(strCol)).as("__tg"))
    tg.select(col("id"), size(col("__tg")).as("n_tg"),
        explode(col("__tg")).as("g"))
      .filter(col("g").isin(qg.toSeq: _*))
      .groupBy("id", "n_tg").agg(count(lit(1)).as("shared"))
      .withColumn("similarity",
        col("shared") / (col("n_tg") + lit(qg.size) - col("shared")))
      .filter(col("similarity") >= minSim)
      .select(col("id"), col("shared"), col("similarity"))
      .orderBy(col("similarity").desc, col("id"))
      .limit(k)
  }
}
