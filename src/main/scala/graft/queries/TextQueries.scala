package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.Tables
import graft.functions.text
import graft.operators.Dedup

/** Text-analysis + dedup coverage over the `documents` table: token stats,
  * language ID, quality scoring, exact dedup, MinHash+LSH, SimHash,
  * n-gram Jaccard. Every query has a full DuckDB oracle — the hash
  * constructions are md5-based specifically so the oracle can reproduce
  * them bit-for-bit.
  */
object TextQueries {

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "t1_token_stats" -> ((s, d) => tokenStats(s, d)),
    "t2_lang_quality" -> ((s, d) => langQuality(s, d)),
    "t3_exact_dups" -> ((s, d) => exactDups(s, d)),
    "t65_soft_dedup" -> ((s, d) => softDedupQ(s, d)),
    "t4_minhash_lsh" -> ((s, d) => minhashLsh(s, d)),
    "t52_source_overlap" -> ((s, d) => sourceOverlap(s, d)),
    "t5_simhash" -> ((s, d) => simhash(s, d)),
    "t6_simhash_neardups" -> ((s, d) => simhashNearDups(s, d)),
    "t7_ngram_jaccard" -> ((s, d) => ngramJaccard(s, d)),
    "t74_containment" -> ((s, d) => containmentQ(s, d)),
    "t48_fuzzy_pairs" -> ((s, d) => fuzzyPairsQ(s, d)),
    "t49_fuzzy_match" -> ((s, d) => fuzzyMatchQ(s, d)),
    "t8_bpe_tokens" -> ((s, d) => bpeTokens(s, d)),
    "t25_bpe_encode" -> ((s, d) => bpeEncode(s, d)),
    "t70_fertility" -> ((s, d) => fertilityQ(s, d)),
    "t60_wordpiece" -> ((s, d) => wordpieceQ(s, d)),
    "t9_lsh_keeplist" -> ((s, d) => lshKeepList(s, d)),
    "t17_components" -> ((s, d) => components(s, d)),
    "t23_keep_best" -> ((s, d) => keepBest(s, d)),
    "t24_lsh_match" -> ((s, d) => lshMatch(s, d)()),
    "t26_dup_spans" -> ((s, d) => dupSpans(s, d)),
    "t29_remove_dup_spans" -> ((s, d) => removeDupSpans(s, d)),
    "t33_paragraph_dedup" -> ((s, d) => paragraphDedup(s, d)),
    "t39_winnow" -> ((s, d) => winnow(s, d)),
    "t40_winnow_match" -> ((s, d) => winnowMatch(s, d)),
    "t41_bpe_train" -> ((s, d) => bpeTrain(s, d)),
    "t62_unigram_train" -> ((s, d) => unigramTrain(s, d)),
    "t63_dedup_recall" -> ((s, d) => dedupRecallQ(s, d))
  )

  /** Dedup-pipeline QUALITY regression — the t4 MinHash-LSH pipeline run
    * against PLANTED ground truth (the v19/s8 pattern lifted to the dedup
    * family, which until now was only shape- and equivalence-gated, never
    * precision/recall-gated): every 4th doc is a cluster base and spawns
    * three variants by a deterministic token-drop rule ((pos + 3k) % 9,
    * ~11% of tokens each, different tokens per variant), so same-cluster
    * pairs are TRUE near-dups and cross-cluster pairs are word-soup
    * baseline. Pair precision/recall at two lane thresholds (6/16 and
    * 10/16 signature agreement) emit as exact integer ppm — at sf0.01 the
    * operating points are P≈0.79/R≈0.68 and P≈0.98/R≈0.62, a REAL
    * tradeoff curve, so a banding/hashing regression moves the row, not
    * just a spec. Truth counts only docs the pipeline itself admits
    * (norm ≥ shingle size — the guard never binds on this corpus but the
    * rule is mirrored, not assumed). One extra exchange beyond t4: the
    * base-slice self-explode that synthesizes the variants. */
  def dedupRecallQ(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(spark, dir)
    val maxId = docs.agg(max(col("doc_id"))).head.getLong(0)
    // stage cut (rule 14): the synthesized mutated corpus feeds the LSH
    // pass AND the truth counts — two token-filter rebuilds without it
    val mut = graft.StageCut(docs.where(col("doc_id") % 4 === 0)
      .select(col("doc_id").as("base_id"),
        graft.functions.text.tokens(col("text")).as("tk"))
      .withColumn("k", explode(sequence(lit(0L), lit(3L))))
      .where(col("base_id") + col("k") <= maxId)
      .select((col("base_id") + col("k")).as("doc_id"),
        concat_ws(" ", filter(col("tk"), (t, i) =>
          col("k") === 0 || (i.cast("long") + 1L + col("k") * 3L) % 9 =!= 0))
          .as("text"))
      .where(length(col("text")) >= 5), "dedupRecallQ.mut")
    val pairs = Dedup.minhashLshPairs(mut, "doc_id", "text",
      shingleSize = 5, numHashes = 16, bands = 4, minEst = 0.0)
    val truth = mut
      .groupBy((col("doc_id") - pmod(col("doc_id"), lit(4L))).as("b"))
      .agg(count(lit(1)).as("c"))
      .agg(sum(expr("(c * (c - 1)) div 2")).as("n_truth"))
    val th = spark.createDataFrame(Seq(Tuple1(6L), Tuple1(10L)))
      .toDF("th_lanes")
    pairs
      .select(col("est_jaccard"),
        (expr("id_a div 4") === expr("id_b div 4")).as("is_true"))
      .crossJoin(broadcast(th))
      .where(col("est_jaccard") >= col("th_lanes").cast("double") / 16.0)
      .groupBy("th_lanes")
      .agg(count(lit(1)).as("n_found"),
        sum(when(col("is_true"), 1L).otherwise(0L)).as("n_tp"))
      .crossJoin(broadcast(truth))
      .select(col("th_lanes"), col("n_truth"), col("n_found"), col("n_tp"),
        when(col("n_found") === 0, 0L)
          .otherwise(expr("(n_tp * 1000000) div n_found")).as("precision_ppm"),
        expr("(n_tp * 1000000) div n_truth").as("recall_ppm"))
      .orderBy("th_lanes")
  }

  /** [[graft.operators.UnigramTrainer.train]] at the default ladder
    * constants (pieces ≤ 6 chars, 150-candidate multi-char seed, keep 64):
    * the full hard-EM round — seed counts, fixed-point log-prob model,
    * Viterbi usage counts, prune verdict — value-checked piece by piece.
    * The oracle replays the ENTIRE round: the same grid seeding, the same
    * ⌊1e9·ln p⌋ model, the Viterbi DP as a recursive CTE carrying the
    * (best, backpointer) lists (tr4/gr2 list-state discipline), the
    * backtrace as a second recursive walk, and the rank-cut prune. */
  def unigramTrain(spark: SparkSession, dir: String): DataFrame =
    graft.operators.UnigramTrainer.train(
      graft.Tables.documents(spark, dir), "doc_id", "text")
      .orderBy("piece")

  /** Paragraph-level global dedup (CCNet §3.1 shape): distinct paragraphs
    * keep their first occurrence by (doc, position), every later occurrence
    * is cut, docs rebuilt from survivors. Paragraphs here are 16-token
    * windows (this corpus has no layout newlines; a real deployment passes
    * `split(c, "\n{2,}")` — the operator takes the splitter). The md5 gates
    * the full rebuilt text of every doc. */
  def paragraphDedup(spark: SparkSession, dir: String): DataFrame =
    Dedup.paragraphDedup(Tables.documents(spark, dir), "doc_id", "text",
      c => Dedup.tokenWindowParagraphs(c, 16))
      .select(col("id").as("doc_id"), col("n_paras"), col("n_kept"),
        md5(col("kept_text")).as("kept_md5"))
      .orderBy("doc_id")

  /** Span-level dedup signal: per doc, how many positional 8-token windows
    * are shared verbatim with at least one other document. */
  def dupSpans(spark: SparkSession, dir: String): DataFrame =
    Dedup.dupSpans(Tables.documents(spark, dir), "doc_id", "text", n = 8)
      .select(col("id").as("doc_id"), col("dup_spans"),
        col("distinct_dup_spans"), col("first_pos"))
      .orderBy("doc_id")

  /** Span-level dedup transform (ExactSubstr removal): every doc rewritten
    * with non-owned duplicated 8-token passages cut out; the artifact hash
    * gates the full rebuilt text, counts gate the removal volume. */
  def removeDupSpans(spark: SparkSession, dir: String): DataFrame =
    Dedup.removeDupSpans(Tables.documents(spark, dir), "doc_id", "text", n = 8)
      .select(col("id").as("doc_id"), md5(col("kept_text")).as("kept_md5"),
        col("n_tokens"), col("n_removed"))
      .orderBy("doc_id")

  /** Incoming-vs-corpus LSH matching (the incremental-crawl dedup pass):
    * every 10th doc plays the "new batch", the rest are the banded corpus
    * index; each incoming doc reports its best near-dup match. The band
    * index is built and cut once; the returned probe is the per-batch
    * match (banding the incoming docs + the index equi-join). */
  def lshMatch(spark: SparkSession, dir: String): () => DataFrame = {
    val docs = Tables.documents(spark, dir)
    val index = graft.StageCut(
      Dedup.bandIndex(docs.filter(col("doc_id") % 10 =!= 0), "doc_id", "text"),
      "lshMatch.index")
    () =>
      Dedup.lshMatchAgainst(docs.filter(col("doc_id") % 10 === 0), index,
        "doc_id", "text")
        .select(col("id").as("doc_id"), col("corpus_id"),
          round(col("est_jaccard"), 4).as("est_jaccard"))
        .orderBy("doc_id")
  }

  /** Quality-keeper dedup: within each transitive near-dup cluster (t17's
    * components) keep the HIGHEST-quality document (quality-desc, id-asc
    * tiebreak) instead of the min id — the curation policy real corpus
    * builds use (drop the worse copy, not the newer one). Emits one row per
    * clustered doc with its keeper; singletons are implicitly kept. */
  def keepBest(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val docs = Tables.documents(spark, dir)
    val labels = Dedup.connectedComponents(
      Dedup.simhashNearDups(docs, "doc_id", "text", maxHamming = 3))
    val quality = docs.select(col("doc_id").cast("long").as("id"),
      text.lang_quality_fast(text.normalize(col("text")))
        .getField("quality").as("q"))
    val w = Window.partitionBy("component")
      .orderBy(col("q").desc, col("id").asc)
      .rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    labels.join(quality, "id")
      .withColumn("keep_id", first("id").over(w))
      .select(col("id").as("doc_id"), col("component"), col("keep_id"),
        (col("id") === col("keep_id")).as("kept"))
      .orderBy("doc_id")
  }

  /** Transitive-closure dedup clusters: connected components (min-label
    * propagation to fixpoint) over the simhash near-dup edge set — chains
    * a→b→c collapse into one cluster, which t6's pair view and t9's one-step
    * keep-list don't. The oracle recomputes true reachability with a
    * recursive CTE, so an unconverged Spark side would hash-mismatch. */
  def components(spark: SparkSession, dir: String): DataFrame =
    Dedup.connectedComponents(
      Dedup.simhashNearDups(Tables.documents(spark, dir), "doc_id", "text",
        maxHamming = 3))
      .orderBy("id")

  /** Pair-free LSH dedup: (id, keep_id) via min-label propagation over band
    * buckets — the scalable keep-list output (no O(cluster²) pair space). */
  def lshKeepList(spark: SparkSession, dir: String): DataFrame =
    Dedup.minhashLshKeepList(Tables.documents(spark, dir), "doc_id", "text",
      shingleSize = 5, numHashes = 16, bands = 4)
      .orderBy("id")

  /** BPE-ish token budgeting over the corpus: per-doc subword estimate plus
    * the whitespace count it refines. */
  def bpeTokens(spark: SparkSession, dir: String): DataFrame =
    Tables.documents(spark, dir).select(
      col("doc_id"),
      text.bpe_token_count(col("text")).cast("long").as("n_bpe"),
      text.token_count(col("text")).cast("long").as("n_ws"))
      .orderBy("doc_id")

  /** REAL greedy BPE (t8's regex estimate upgraded to the actual
    * merge-table algorithm) over the FULL corpus text, tokenized against
    * [[graft.functions.BpeTokenizer.FixtureMerges]]. The DuckDB oracle
    * replays the whole greedy merge loop per word via a recursive CTE
    * (lowest-rank-present pair each step, all occurrences merged), and the
    * md5 over the '|'-joined token stream value-checks every merge
    * decision of every word — not just the counts. */
  def bpeEncode(spark: SparkSession, dir: String): DataFrame = {
    // The oracle's recursive replay is bounded (4000 words/doc, 40 merge
    // steps/word). A fixture outgrowing those bounds must fail HERE, loudly,
    // not as a mystery hash mismatch against a silently-truncating oracle.
    val docs = Tables.documents(spark, dir)
    val bounds = docs.select(
      max(size(split(trim(text.fold(col("text"))), "\\s+"))),
      max(array_max(transform(split(trim(text.fold(col("text"))), "\\s+"), w => length(w)))))
      .head()
    val (maxWords, maxWordLen) = (bounds.getInt(0), bounds.getInt(1))
    require(maxWords <= 4000,
      s"t25 oracle replays at most 4000 words/doc; corpus has a $maxWords-word doc")
    // a word of length L needs at most L-1 merges; the oracle caps at 40
    require(maxWordLen <= 41,
      s"t25 oracle replays at most 40 merge steps/word; corpus has a $maxWordLen-char word")
    docs
      .select(col("doc_id"),
        graft.functions.BpeTokenizer.bpe_encode(text.fold(col("text"))).as("tokens"))
      .select(col("doc_id"), size(col("tokens")).cast("long").as("n_tokens"),
        md5(concat_ws("|", col("tokens"))).as("tok_md5"))
      .orderBy("doc_id")
  }

  /** [[graft.operators.Corpus.tokenizerFertility]] per `lang` over the
    * t25 greedy-BPE kernel: per-language tokens-per-word, chars-per-token
    * and continuation share — the data-mixture cost audit. Same replay
    * bounds guard as t25 (the oracle unrolls every merge). */
  def fertilityQ(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(spark, dir)
    val bounds = docs.select(
      max(size(split(trim(text.fold(col("text"))), "\\s+"))),
      max(array_max(transform(split(trim(text.fold(col("text"))), "\\s+"),
        w => length(w)))))
      .head()
    require(bounds.getInt(0) <= 4000 && bounds.getInt(1) <= 41,
      s"t70 oracle replays at most 4000 words/doc and 40 merges/word; " +
        s"corpus has ${bounds.getInt(0)} words / ${bounds.getInt(1)} chars")
    graft.operators.Corpus.tokenizerFertility(docs, "lang", "text")
      .orderBy("grp")
  }

  def tokenStats(spark: SparkSession, dir: String): DataFrame =
    Tables.documents(spark, dir).select(
      col("doc_id"),
      text.token_count(col("text")).cast("long").as("n_tokens"),
      text.fingerprint(col("text")).as("fingerprint"))
      .orderBy("doc_id")

  def langQuality(spark: SparkSession, dir: String): DataFrame = {
    // single-pass expression form; the Column twins lang_id/quality_score
    // share this oracle (equivalence also spec-asserted in TextHashSpec)
    val p = text.lang_quality_fast(text.normalize(col("text")))
    Tables.documents(spark, dir).select(
      col("doc_id"),
      p.getField("lang_guess").as("lang_guess"),
      p.getField("quality").as("quality"))
      .orderBy("doc_id")
  }

  /** Exact dedup on a normalized 60-char prefix key (the full texts are
    * unique in this corpus; prefix dedup mirrors near-boilerplate removal).
    * `ids` is emitted as a comma-joined string: the driver's pandas-based
    * comparator cannot hash array cells, and the join keeps the value-level
    * check exact. */
  /** [[graft.operators.Dedup.softDedup]] over the t3 fingerprint domain
    * (60-char-prefix normalized fingerprints, where this corpus has real
    * duplicate clusters — 22 pairs + 1 triple at sf0.01): every doc keeps
    * its duplication-corrected sampling weight and the derandomized
    * accept bit; singletons are all kept, cluster keeps average one. */
  def softDedupQ(spark: SparkSession, dir: String): DataFrame =
    Dedup.softDedup(
      Tables.documents(spark, dir)
        .withColumn("key_text", substring(col("text"), 1, 60)),
      "doc_id", "key_text")
      .orderBy("id")

  def exactDups(spark: SparkSession, dir: String): DataFrame =
    Dedup.exactGroups(
      Tables.documents(spark, dir).withColumn("key_text", substring(col("text"), 1, 60)),
      "doc_id", "key_text")
      .select(col("fp"), col("canonical_id"),
        array_join(col("ids"), ",").as("ids"), col("dup_count"))
      .orderBy("fp")

  /** Edit-distance near-dup pairs over the 40-char normalized field
    * (title-dedup shape): prefix-8 blocking with a 256-member stop-block
    * cap (no block at this sf reaches it — the cap is exercised by
    * DedupSpec's planted mega-block), the |Δlen| ≤ 18 Levenshtein lower
    * bound as the join gate, exact Levenshtein ≤ 18 on collisions — the
    * corpus yields both exact (dist 0) and genuinely fuzzy (16–18)
    * pairs, so the distance arithmetic is value-checked, not just the
    * blocking. */
  def fuzzyPairsQ(spark: SparkSession, dir: String): DataFrame =
    Dedup.fuzzyPairs(Tables.documents(spark, dir), "doc_id", "text")
      .orderBy("id_a", "id_b")

  /** The incremental-crawl arm of t48 (the t24 pattern for edit
    * distance): doc_id < 400 is the CORPUS whose blocking index is
    * persisted; the incoming batch (doc_id ≥ 400) normalizes only itself
    * and matches against the index. */
  def fuzzyMatchQ(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(spark, dir)
    val index = Dedup.fuzzyIndex(docs.filter(col("doc_id") < 400),
      "doc_id", "text")
    Dedup.fuzzyMatchAgainst(docs.filter(col("doc_id") >= 400),
        "doc_id", "text", index)
      .orderBy("corpus_id", "inc_id")
  }

  def minhashLsh(spark: SparkSession, dir: String): DataFrame =
    Dedup.minhashLshPairs(Tables.documents(spark, dir), "doc_id", "text",
      shingleSize = 5, numHashes = 16, bands = 4, minEst = 0.25)
      .select(col("id_a"), col("id_b"), round(col("est_jaccard"), 4).as("est_jaccard"))
      .orderBy("id_a", "id_b")

  /** [[Dedup.corpusOverlap]] over the per-source slices: the 20×20 source
    * overlap matrix, both arms (exact shingle-set Jaccard in ppm, MinHash
    * lane agreement) — all-integer output, so the gate needs no float
    * rounding at all. */
  def sourceOverlap(spark: SparkSession, dir: String): DataFrame =
    Dedup.corpusOverlap(Tables.documents(spark, dir), "source", "text",
      shingleSize = 5, numHashes = 16)
      .select(col("source_a"), col("source_b"), col("n_a"), col("n_b"),
        col("n_common"), col("jaccard_ppm"), col("sig_agree"))
      .orderBy("source_a", "source_b")

  def simhash(spark: SparkSession, dir: String): DataFrame =
    Dedup.simhashes(Tables.documents(spark, dir), "doc_id", "text")
      .select(col("id").as("doc_id"), col("simhash"))
      .orderBy("doc_id")

  def simhashNearDups(spark: SparkSession, dir: String): DataFrame =
    Dedup.simhashNearDups(Tables.documents(spark, dir), "doc_id", "text", maxHamming = 3)
      .select(col("id_a"), col("id_b"), col("hamming").cast("long").as("hamming"))
      .orderBy("id_a", "id_b")

  def ngramJaccard(spark: SparkSession, dir: String): DataFrame =
    Dedup.ngramJaccardPairs(Tables.documents(spark, dir), "doc_id", "text",
      shingleSize = 5, threshold = 0.2, maxId = Some(150L))
      .orderBy("id_a", "id_b")

  /** [[graft.operators.Dedup.containmentPairs]] over documents plus a
    * PLANTED quote corpus: every 10th doc with ≥ 40 tokens contributes a
    * 36-token mid-document slice (tokens 5..40, id = doc_id + 100000) —
    * a subset-duplicate whose Jaccard against its source is far below
    * any dedup threshold but whose containment is ~1.0. The expected
    * rows are the quote→source hits at ≥ 0.8 containment PLUS the
    * corpus's natural subset pairs (the synthetic vocabulary makes some
    * short docs genuinely contained in long ones — pairs the symmetric
    * t4/t7 rows never emit). */
  def containmentQ(spark: SparkSession, dir: String): DataFrame = {
    import graft.functions.text
    val docs = Tables.documents(spark, dir)
    val quotes = docs
      .select((col("doc_id") + 100000L).as("doc_id"),
        array_join(slice(text.tokens(col("text")), 5, 36), " ").as("text"),
        size(text.tokens(col("text"))).as("__n"))
      .filter(col("doc_id") % 10 === 0 && col("__n") >= 40)
      .drop("__n")
    val corpus = docs.select(col("doc_id"), col("text")).unionAll(quotes)
    Dedup.containmentPairs(corpus, "doc_id", "text",
        shingleWords = 3, sampleM = 8, dfCap = 50, thresholdPpm = 800000L)
      .orderBy("small_id", "big_id")
  }

  /** Winnowing fingerprints (MOSS local fingerprinting): every selected
    * (position, 31-bit hash) per doc at k=5 chars, window w=16. */
  def winnow(spark: SparkSession, dir: String): DataFrame =
    graft.operators.Winnow.fingerprints(
      Tables.documents(spark, dir), "doc_id", "text", k = 5, w = 16)
      .orderBy("doc_id", "pos")

  /** Passage-sharing candidates over the winnow fingerprints: pairs with
    * ≥2 shared rare fingerprints (doc-freq cap 20). */
  def winnowMatch(spark: SparkSession, dir: String): DataFrame =
    graft.operators.Winnow.matchPairs(
      Tables.documents(spark, dir), "doc_id", "text",
      k = 5, w = 16, minShared = 2, maxDocFreq = 20)
      .orderBy("doc_a", "doc_b")

  /** Learned BPE merge table (30 merges) — the full training loop is
    * value-checked: the oracle unrolls every iteration (pair stats →
    * argmax → doubled-space merge rewrite) and must reproduce each step's
    * winning pair AND its weighted frequency. `left`/`right` are SQL
    * reserved words, so the registry aliases them. */
  def bpeTrain(spark: SparkSession, dir: String): DataFrame =
    graft.operators.BpeTrainer.train(Tables.documents(spark, dir), "text", 30)
      .select(col("step"), col("left").as("lft"), col("right").as("rgt"),
        col("freq"))
      .orderBy("step")

  // ----------------------------------------------------------------- oracles

  /** Normalization CTE shared by the oracles (= text.normalize). */
  private val norm =
    "SELECT doc_id, trim(regexp_replace(lower(text), '\\s+', ' ', 'g')) AS norm FROM documents"

  private val toks =
    s"WITH n AS ($norm), tk AS (SELECT doc_id, list_filter(string_split(norm, ' '), t -> len(t) > 0) AS tk FROM n)"

  /** Winnowing replay shared by t39/t40 — O(n·k) list comprehension where
    * the engine's kernel is O(n), but value-identical: same codepoints
    * (unicode() per char == Java codePointAt stream), same polynomial hash
    * mod 2^31−1 (constants read off WinnowExpressions so the two can't
    * drift), same rightmost-minimum tie rule (max j at the min), same
    * short-doc one-window arm, and DISTINCT == the kernel's
    * consecutive-selection dedupe (a position's selecting windows are
    * contiguous). */
  private[queries] def winnowSqlFrom(normSel: String): String = {
    val B = graft.functions.WinnowExpressions.HashBase
    val M = graft.functions.WinnowExpressions.HashMod
    val K = 5; val W = 16
    val b4 = B * B * B * B; val b3 = B * B * B; val b2 = B * B
    s"""n AS ($normSel),
       |wc AS (SELECT doc_id, len(norm) AS n,
       |    list_transform(range(1, len(norm)+1), i -> unicode(norm[i:i])::BIGINT) AS cs
       |  FROM n),
       |wh AS (SELECT doc_id, (n - ${K - 1})::BIGINT AS nh,
       |    list_transform(range(n - ${K - 1}), i ->
       |      (cs[i+1]*$b4 + cs[i+2]*$b3 + cs[i+3]*$b2 + cs[i+4]*$B + cs[i+5]) % $M) AS hs
       |  FROM wc WHERE n >= $K),
       |wwin AS (SELECT doc_id, hs, nh,
       |    unnest(range(CASE WHEN nh >= $W THEN nh - ${W - 1} ELSE 1 END)) AS t
       |  FROM wh),
       |wsel AS (SELECT doc_id,
       |    (t + list_max(list_transform(range($W), j ->
       |       CASE WHEN t+j+1 <= nh AND hs[t+j+1] = list_min(hs[t+1:t+$W])
       |            THEN j END)))::BIGINT AS pos,
       |    list_min(hs[t+1:t+$W])::BIGINT AS fp
       |  FROM wwin)""".stripMargin
  }

  private val winnowSql: String = "WITH " + winnowSqlFrom(norm)

  /** Full unrolled replay of the BPE training loop (30 iterations): per
    * step, pair stats over the word-frequency table (all adjacent index
    * pairs, weighted), argmax by (freq desc, l, r), and the doubled-space
    * merge rewrite — replace('␣l␣␣r␣' → '␣lr␣'), the same built-in
    * sequential-leftmost replace as the engine (see BpeTrainer's
    * determinism contract; fold-left-equivalence proven in
    * BpeTrainerSpec). MATERIALIZED CTEs keep the replay linear in
    * iterations instead of re-inlining the replace chain per step. */
  private val bpeTrainSql: String = {
    val iters = 30
    val pre =
      s"""WITH n AS ($norm),
         |btk AS (SELECT list_filter(string_split(norm, ' '), t -> len(t) > 0) AS tk FROM n),
         |wf AS (SELECT w, count(*)::BIGINT AS cnt
         |  FROM (SELECT unnest(tk) AS w FROM btk) GROUP BY w),
         |w0 AS MATERIALIZED (SELECT '  ' ||
         |    array_to_string(list_transform(range(len(w)), i -> w[i+1:i+1]), '  ')
         |    || '  ' AS sym, cnt FROM wf)""".stripMargin
    val steps = (1 to iters).map { i =>
      val p = i - 1
      s"""p$i AS (SELECT l, r, sum(cnt)::BIGINT AS f FROM (
         |  SELECT cnt, ss[j+1] AS l, ss[j+2] AS r FROM (
         |    SELECT cnt, string_split(trim(sym, ' '), '  ') AS ss FROM w$p) t,
         |    unnest(range(len(ss)-1)) AS u(j)) GROUP BY l, r),
         |m$i AS MATERIALIZED (SELECT l, r, f FROM p$i
         |  ORDER BY f DESC, l ASC, r ASC LIMIT 1),
         |w$i AS MATERIALIZED (SELECT replace(sym,
         |    ' ' || (SELECT l FROM m$i) || '  ' || (SELECT r FROM m$i) || ' ',
         |    ' ' || (SELECT l FROM m$i) || (SELECT r FROM m$i) || ' ') AS sym,
         |    cnt FROM w$p)""".stripMargin
    }
    val fin = (1 to iters).map(i =>
      s"SELECT $i::BIGINT AS step, l AS lft, r AS rgt, f AS freq FROM m$i")
      .mkString(" UNION ALL ")
    s"$pre,\n${steps.mkString(",\n")}\nSELECT * FROM ($fin) ORDER BY step"
  }

  /** Positional 8-token span stream shared by the t26/t29 oracles — must
    * stay the single definition, mirroring [[Dedup]]'s shared spanStream. */
  private val spanSql =
    """sp0 AS (SELECT doc_id, unnest(range(greatest(len(tk) - 7, 0))) AS pos, tk FROM tk),
      |sp AS (SELECT doc_id, pos,
      |         md5(array_to_string(list_slice(tk, pos + 1, pos + 8), ' ')) AS h
      |       FROM sp0)""".stripMargin

  private def stopSql(langWords: Seq[String]): String =
    langWords.map(w => s"'$w'").mkString("(", ",", ")")

  private val de = stopSql(text.langStopwords.toMap.apply("de"))
  private val en = stopSql(text.langStopwords.toMap.apply("en"))
  private val es = stopSql(text.langStopwords.toMap.apply("es"))
  private val fr = stopSql(text.langStopwords.toMap.apply("fr"))

  /** WordPiece segmentation of the corpus vocabulary (+ planted words):
    * greedy longest-prefix with ## continuations against the fixture
    * vocab; planted z/x words hit the all-or-nothing [UNK] rule, planted
    * compounds exercise continuation chains and char fallback. n_occ
    * carries each word's corpus frequency (planted = 0) so the row also
    * gates the count join. */
  def wordpieceQ(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val counts = Tables.documents(spark, dir)
      .select(explode(text.tokens(col("text"))).as("word"))
      .groupBy("word").agg(count(lit(1)).as("n_occ"))
    val planted = Seq("zebra", "xenon", "tablescan", "windowframe")
      .toDF("word").withColumn("n_occ", lit(0L))
    val pieces = graft.functions.WordPieceTokenizer.wordpiece_encode(col("word"))
    counts.unionByName(planted)
      .groupBy("word").agg(sum("n_occ").as("n_occ"))
      .withColumn("pieces", pieces)
      .select(col("word"), col("n_occ"),
        array_join(col("pieces"), " ").as("wp"),
        size(col("pieces")).cast("long").as("n_pieces"))
      .withColumn("is_unk", col("wp") === graft.functions.WordPieceTokenizer.Unk)
      .orderBy("word")
  }

  def oracles: Map[String, String] = Map(
    // greedy longest-prefix replay: a per-(word,pos) STEP table (longest
    // matching piece via one window) + a recursive walk following it;
    // all-or-nothing [UNK] via bool_or(dead); vocab VALUES generated from
    // the SAME Scala fixture so the two sides cannot drift
    "t60_wordpiece" -> {
      val vocabVals = graft.functions.WordPieceTokenizer.FixtureVocab
        .map(p => s"('$p')").mkString(", ")
      s"""WITH RECURSIVE n AS ($norm),
         |ws AS (SELECT word, count(*)::BIGINT AS n_occ FROM (
         |    SELECT unnest(list_filter(string_split(norm, ' '), t -> len(t) > 0)) AS word FROM n)
         |  GROUP BY word),
         |words AS (SELECT word, sum(n_occ)::BIGINT AS n_occ FROM (
         |    SELECT word, n_occ FROM ws
         |    UNION ALL SELECT w, 0 FROM (VALUES ('zebra'), ('xenon'),
         |      ('tablescan'), ('windowframe')) p(w))
         |  GROUP BY word),
         |vocab AS (SELECT piece,
         |    CASE WHEN piece LIKE '##%' THEN substr(piece, 3) ELSE piece END AS core,
         |    (piece LIKE '##%') AS iscont
         |  FROM (VALUES $vocabVals) v(piece)),
         |posg AS (SELECT word, unnest(range(len(word))) AS pos FROM words),
         |cand AS (SELECT p.word, p.pos, v.piece, len(v.core) AS clen
         |  FROM posg p JOIN vocab v
         |    ON v.iscont = (p.pos > 0)
         |   AND p.pos + len(v.core) <= len(p.word)
         |   AND substr(p.word, p.pos + 1, len(v.core)) = v.core),
         |step AS (SELECT word, pos, piece, pos + clen AS nextpos FROM (
         |    SELECT *, row_number() OVER (PARTITION BY word, pos ORDER BY clen DESC) AS rn
         |    FROM cand) WHERE rn = 1),
         |walk(word, t, pos, piece, dead) AS (
         |  SELECT word, 0::BIGINT, 0::BIGINT, NULL::VARCHAR, false FROM words
         |  UNION ALL
         |  SELECT w.word, w.t + 1,
         |    coalesce(s.nextpos, len(w.word))::BIGINT, s.piece, (s.piece IS NULL)
         |  FROM walk w LEFT JOIN step s ON s.word = w.word AND s.pos = w.pos
         |  WHERE NOT w.dead AND w.pos < len(w.word)),
         |seg AS (SELECT word, bool_or(dead) AS is_unk,
         |    coalesce(array_to_string(list(piece ORDER BY t)
         |      FILTER (WHERE piece IS NOT NULL), ' '), '') AS wp0,
         |    (count(*) FILTER (WHERE piece IS NOT NULL))::BIGINT AS np0
         |  FROM walk WHERE t > 0 GROUP BY word)
         |SELECT w.word, w.n_occ,
         |  CASE WHEN s.is_unk THEN '[UNK]' ELSE s.wp0 END AS wp,
         |  (CASE WHEN s.is_unk THEN 1 ELSE s.np0 END)::BIGINT AS n_pieces,
         |  s.is_unk
         |FROM words w JOIN seg s USING (word) ORDER BY w.word""".stripMargin
    },
    // fuzzy-pair replay: identical normalize/slice/blocking (prefix-8
    // block, stop-blocks > 256 members dropped, |Δlen| <= 18 gate),
    // DuckDB's levenshtein == Spark's (plain Levenshtein, unit costs)
    "t48_fuzzy_pairs" ->
      """WITH n AS (SELECT doc_id,
        |    trim(regexp_replace(lower(text), '\s+', ' ', 'g'))[1:40] AS t
        |  FROM documents),
        |b AS (SELECT doc_id, t, t[1:8] AS blk, len(t) AS tl FROM n),
        |k AS (SELECT blk FROM b GROUP BY blk HAVING count(*) <= 256)
        |SELECT a.doc_id AS id_a, c.doc_id AS id_b,
        |  levenshtein(a.t, c.t)::BIGINT AS dist
        |FROM b a JOIN k USING (blk) JOIN b c
        |  ON a.blk = c.blk AND abs(a.tl - c.tl) <= 18
        | AND a.doc_id < c.doc_id
        |WHERE levenshtein(a.t, c.t) <= 18
        |ORDER BY id_a, id_b""".stripMargin,
    // incremental arm: corpus side < 400, incoming side >= 400, same
    // blocking + distance; the stop-block cap counts CORPUS membership
    // only (the index side), matching fuzzyMatchAgainst
    "t49_fuzzy_match" ->
      """WITH n AS (SELECT doc_id,
        |    trim(regexp_replace(lower(text), '\s+', ' ', 'g'))[1:40] AS t
        |  FROM documents),
        |b AS (SELECT doc_id, t, t[1:8] AS blk, len(t) AS tl FROM n),
        |k AS (SELECT blk FROM b WHERE doc_id < 400
        |      GROUP BY blk HAVING count(*) <= 256)
        |SELECT a.doc_id AS corpus_id, c.doc_id AS inc_id,
        |  levenshtein(a.t, c.t)::BIGINT AS dist
        |FROM b a JOIN k USING (blk) JOIN b c
        |  ON a.blk = c.blk AND abs(a.tl - c.tl) <= 18
        | AND a.doc_id < 400 AND c.doc_id >= 400
        |WHERE levenshtein(a.t, c.t) <= 18
        |ORDER BY corpus_id, inc_id""".stripMargin,
    "t1_token_stats" ->
      s"""WITH n AS ($norm)
         |SELECT doc_id,
         |  CASE WHEN len(norm) = 0 THEN 0
         |       ELSE len(list_filter(string_split(norm, ' '), t -> len(t) > 0)) END AS n_tokens,
         |  md5(norm) AS fingerprint
         |FROM n ORDER BY doc_id""".stripMargin,
    "t2_lang_quality" ->
      s"""$toks,
         |s AS (SELECT doc_id,
         |  len(list_filter(tk, t -> t IN $de)) AS s_de,
         |  len(list_filter(tk, t -> t IN $en)) AS s_en,
         |  len(list_filter(tk, t -> t IN $es)) AS s_es,
         |  len(list_filter(tk, t -> t IN $fr)) AS s_fr,
         |  len(tk)::DOUBLE AS n,
         |  len(list_distinct(tk))::DOUBLE AS nd
         |  FROM tk)
         |SELECT doc_id,
         |  CASE WHEN greatest(s_de,s_en,s_es,s_fr) = 0 THEN 'und'
         |       WHEN s_de = greatest(s_de,s_en,s_es,s_fr) THEN 'de'
         |       WHEN s_en = greatest(s_de,s_en,s_es,s_fr) THEN 'en'
         |       WHEN s_es = greatest(s_de,s_en,s_es,s_fr) THEN 'es'
         |       ELSE 'fr' END AS lang_guess,
         |  0.4 * least(1.0, n / 50.0)
         |      + 0.3 * (CASE WHEN n > 0 THEN nd / n ELSE 0 END)
         |      + 0.3 * greatest(0.0, 1.0 - abs((CASE WHEN n > 0 THEN s_en / n ELSE 0 END) - 0.45) / 0.45)
         |    AS quality
         |FROM s ORDER BY doc_id""".stripMargin,
    "t3_exact_dups" ->
      """WITH f AS (SELECT doc_id,
        |    md5(trim(regexp_replace(lower(substr(text, 1, 60)), '\s+', ' ', 'g'))) AS fp
        |  FROM documents)
        |SELECT fp, min(doc_id) AS canonical_id,
        |       array_to_string(list_sort(list(doc_id)), ',') AS ids,
        |       count(*) AS dup_count
        |FROM f GROUP BY fp HAVING count(*) > 1 ORDER BY fp""".stripMargin,
    // t3's fingerprint domain -> per-doc dup counts -> the stated
    // weight/accept arithmetic (pure integer; md5-derandomized accept)
    "t65_soft_dedup" ->
      """WITH f AS (SELECT doc_id AS id,
        |    md5(trim(regexp_replace(lower(substr(text, 1, 60)), '\s+', ' ', 'g'))) AS fp
        |  FROM documents),
        |c AS (SELECT fp, count(*) AS dup_count FROM f GROUP BY fp),
        |j AS (SELECT f.id, c.dup_count FROM f JOIN c USING (fp))
        |SELECT id, dup_count::BIGINT AS dup_count,
        |  (1000000 // dup_count)::BIGINT AS weight_ppm,
        |  (('0x' || substr(md5('sdd:' || id), 1, 6))::BIGINT % 1000000)
        |    * dup_count < 1000000 AS kept
        |FROM j ORDER BY id""".stripMargin,
    // both arms replayed: per-doc minhash (t4's fragment) -> per-group
    // elementwise lane min == union-set signature; exact arm from DISTINCT
    // (group, shingle-md5) rows; all-integer output, no rounding
    "t52_source_overlap" ->
      """WITH n AS (SELECT source AS grp, trim(regexp_replace(lower(text), '\s+', ' ', 'g')) AS norm FROM documents),
        |f AS (SELECT grp, norm FROM n WHERE len(norm) >= 5),
        |sh AS (SELECT grp, norm, list_distinct(list_transform(range(1, len(norm) - 3), i -> substr(norm, i, 5))) AS shl FROM f),
        |hh AS (SELECT grp,
        |    list_transform(shl, x -> ('0x' || substr(md5(x), 1, 8))::BIGINT) AS h1s,
        |    list_transform(shl, x -> ('0x' || substr(md5(x), 9, 8))::BIGINT) AS h2s
        |  FROM sh WHERE len(shl) > 0),
        |g AS (SELECT grp,
        |    list_transform(range(16), k ->
        |      coalesce(list_min(list_transform(range(len(h1s)), i ->
        |        (h1s[i+1] + k * h2s[i+1]) & 4294967295)), 9223372036854775807)) AS sig
        |  FROM hh),
        |gp AS (SELECT grp, pos, min(sig[pos+1]) AS v FROM g, unnest(range(16)) AS u(pos) GROUP BY grp, pos),
        |gs AS (SELECT grp, list(v ORDER BY pos) AS sig FROM gp GROUP BY grp),
        |ds AS (SELECT DISTINCT grp, md5(x.s2) AS h FROM sh, unnest(shl) AS x(s2)),
        |sz AS (SELECT grp, count(*) AS n FROM ds GROUP BY grp),
        |itr AS (SELECT x.grp AS source_a, y.grp AS source_b, count(*) AS n_common
        |        FROM ds x JOIN ds y ON x.h = y.h AND x.grp < y.grp GROUP BY 1, 2),
        |est AS (SELECT a.grp AS source_a, b.grp AS source_b,
        |         len(list_filter(range(16), i -> a.sig[i+1] = b.sig[i+1]))::BIGINT AS sig_agree
        |        FROM gs a, gs b WHERE a.grp < b.grp)
        |SELECT e.source_a AS source_a, e.source_b AS source_b, sa.n AS n_a, sb.n AS n_b,
        |  coalesce(i.n_common, 0) AS n_common,
        |  (coalesce(i.n_common, 0) * 1000000) // (sa.n + sb.n - coalesce(i.n_common, 0)) AS jaccard_ppm,
        |  e.sig_agree AS sig_agree
        |FROM est e
        |JOIN sz sa ON sa.grp = e.source_a
        |JOIN sz sb ON sb.grp = e.source_b
        |LEFT JOIN itr i ON i.source_a = e.source_a AND i.source_b = e.source_b
        |ORDER BY source_a, source_b""".stripMargin,
    "t63_dedup_recall" ->
      ("""WITH n0 AS (SELECT doc_id, trim(regexp_replace(lower(text), '\s+', ' ', 'g')) AS norm FROM documents),
         |base AS (SELECT doc_id AS base_id, list_filter(string_split(norm, ' '), t -> len(t) > 0) AS tk
         |  FROM n0 WHERE doc_id % 4 = 0),
         |mut AS (SELECT b.base_id + k.k AS doc_id, b.base_id,
         |    array_to_string(list_filter(b.tk, (t, p) -> k.k = 0 OR (p + k.k * 3) % 9 <> 0), ' ') AS norm
         |  FROM base b, (SELECT unnest(range(0, 4)) AS k) k
         |  WHERE b.base_id + k.k <= (SELECT max(doc_id) FROM documents)),
         |mok AS (SELECT doc_id, base_id, norm FROM mut WHERE len(norm) >= 5),
         |sh AS (SELECT doc_id, base_id,
         |    list_distinct(list_transform(range(1, len(norm) - 3), i -> substr(norm, i, 5))) AS sh
         |  FROM mok),
         |hh AS (SELECT doc_id, base_id,
         |    list_transform(sh, x -> ('0x' || substr(md5(x), 1, 8))::BIGINT) AS h1s,
         |    list_transform(sh, x -> ('0x' || substr(md5(x), 9, 8))::BIGINT) AS h2s
         |  FROM sh WHERE len(sh) > 0),
         |g AS (SELECT doc_id, base_id,
         |    list_transform(range(16), kk ->
         |      coalesce(list_min(list_transform(range(len(h1s)), i ->
         |        (h1s[i+1] + kk * h2s[i+1]) & 4294967295)), 9223372036854775807)) AS sig
         |  FROM hh),
         |b2 AS (SELECT doc_id, base_id, sig,
         |    list_transform(range(4), bb ->
         |      md5(bb || ',' || array_to_string(list_slice(sig, bb*4 + 1, bb*4 + 4), ','))) AS keys
         |  FROM g),
         |cand AS (SELECT a.doc_id AS id_a, c.doc_id AS id_b,
         |    (a.base_id = c.base_id) AS is_true,
         |    len(list_filter(range(16), i -> a.sig[i+1] = c.sig[i+1])) AS lanes
         |  FROM b2 a, b2 c
         |  WHERE a.doc_id < c.doc_id AND len(list_intersect(a.keys, c.keys)) > 0),
         |truth AS (SELECT sum((cnt * (cnt - 1)) // 2)::BIGINT AS n_truth
         |  FROM (SELECT base_id, count(*) AS cnt FROM mok GROUP BY base_id)),
         |th AS (SELECT unnest([6, 10]) AS th_lanes),
         |m AS (SELECT th.th_lanes,
         |    count(*) FILTER (WHERE lanes >= th.th_lanes)::BIGINT AS n_found,
         |    count(*) FILTER (WHERE lanes >= th.th_lanes AND is_true)::BIGINT AS n_tp
         |  FROM cand, th GROUP BY th.th_lanes)
         |SELECT m.th_lanes::BIGINT AS th_lanes, t.n_truth, m.n_found, m.n_tp,
         |  (CASE WHEN m.n_found = 0 THEN 0 ELSE (m.n_tp * 1000000) // m.n_found END)::BIGINT AS precision_ppm,
         |  ((m.n_tp * 1000000) // t.n_truth)::BIGINT AS recall_ppm
         |FROM m, truth t ORDER BY m.th_lanes""").stripMargin,
    "t4_minhash_lsh" ->
      s"""WITH n AS ($norm),
         |sh AS (SELECT doc_id,
         |    list_distinct(list_transform(range(1, len(norm) - 3), i -> substr(norm, i, 5))) AS sh
         |  FROM n WHERE len(norm) >= 5),
         |hh AS (SELECT doc_id,
         |    list_transform(sh, x -> ('0x' || substr(md5(x), 1, 8))::BIGINT) AS h1s,
         |    list_transform(sh, x -> ('0x' || substr(md5(x), 9, 8))::BIGINT) AS h2s
         |  FROM sh WHERE len(sh) > 0),
         |g AS (SELECT doc_id,
         |    list_transform(range(16), k ->
         |      coalesce(list_min(list_transform(range(len(h1s)), i ->
         |        (h1s[i+1] + k * h2s[i+1]) & 4294967295)), 9223372036854775807)) AS sig
         |  FROM hh),
         |b AS (SELECT doc_id, sig,
         |    list_transform(range(4), bb ->
         |      md5(bb || ',' || array_to_string(list_slice(sig, bb*4 + 1, bb*4 + 4), ','))) AS keys
         |  FROM g)
         |SELECT a.doc_id AS id_a, c.doc_id AS id_b,
         |  round(len(list_filter(range(16), i -> a.sig[i+1] = c.sig[i+1])) / 16.0, 4) AS est_jaccard
         |FROM b a, b c
         |WHERE a.doc_id < c.doc_id AND len(list_intersect(a.keys, c.keys)) > 0
         |  AND len(list_filter(range(16), i -> a.sig[i+1] = c.sig[i+1])) / 16.0 >= 0.25
         |ORDER BY id_a, id_b""".stripMargin,
    "t24_lsh_match" ->
      s"""WITH n AS ($norm),
         |sh AS (SELECT doc_id,
         |    list_distinct(list_transform(range(1, len(norm) - 3), i -> substr(norm, i, 5))) AS sh
         |  FROM n WHERE len(norm) >= 5),
         |hh AS (SELECT doc_id,
         |    list_transform(sh, x -> ('0x' || substr(md5(x), 1, 8))::BIGINT) AS h1s,
         |    list_transform(sh, x -> ('0x' || substr(md5(x), 9, 8))::BIGINT) AS h2s
         |  FROM sh WHERE len(sh) > 0),
         |g AS (SELECT doc_id,
         |    list_transform(range(16), k ->
         |      coalesce(list_min(list_transform(range(len(h1s)), i ->
         |        (h1s[i+1] + k * h2s[i+1]) & 4294967295)), 9223372036854775807)) AS sig
         |  FROM hh),
         |b AS (SELECT doc_id, sig,
         |    list_transform(range(4), bb ->
         |      md5(bb || ',' || array_to_string(list_slice(sig, bb*4 + 1, bb*4 + 4), ','))) AS keys
         |  FROM g),
         |m AS (SELECT a.doc_id AS doc_id, c.doc_id AS corpus_id,
         |    len(list_filter(range(16), i -> a.sig[i+1] = c.sig[i+1])) / 16.0 AS est
         |  FROM b a, b c
         |  WHERE a.doc_id % 10 = 0 AND c.doc_id % 10 <> 0
         |    AND len(list_intersect(a.keys, c.keys)) > 0),
         |r AS (SELECT doc_id, corpus_id, est,
         |    row_number() OVER (PARTITION BY doc_id ORDER BY est DESC, corpus_id ASC) AS rn
         |  FROM m WHERE est >= 0.25)
         |SELECT doc_id, corpus_id, round(est, 4) AS est_jaccard
         |FROM r WHERE rn = 1 ORDER BY doc_id""".stripMargin,
    "t26_dup_spans" ->
      s"""$toks,
         |$spanSql,
         |sh AS (SELECT h FROM sp GROUP BY h HAVING count(DISTINCT doc_id) >= 2)
         |SELECT doc_id, count(*) AS dup_spans, count(DISTINCT sp.h) AS distinct_dup_spans,
         |  min(pos) AS first_pos
         |FROM sp JOIN sh USING (h) GROUP BY doc_id ORDER BY doc_id""".stripMargin,
    // replay of the removal transform: same span stream as t26, ownership
    // = min doc_id per shared hash, covered = union of [pos, pos+8) in
    // non-owners, kept = tokens at uncovered positions in order
    "t29_remove_dup_spans" ->
      s"""$toks,
         |$spanSql,
         |own AS (SELECT h, min(doc_id) AS owner FROM sp GROUP BY h
         |        HAVING count(DISTINCT doc_id) >= 2),
         |cov AS (SELECT sp.doc_id,
         |          list_distinct(flatten(list(range(pos, pos + 8)))) AS covered
         |        FROM sp JOIN own USING (h) WHERE sp.doc_id <> own.owner
         |        GROUP BY sp.doc_id),
         |o AS (SELECT tk.doc_id,
         |        list_transform(
         |          list_filter(range(len(tk)),
         |            p -> covered IS NULL OR NOT list_contains(covered, p)),
         |          p -> tk[p + 1]) AS kept,
         |        len(tk)::BIGINT AS n_tokens
         |      FROM tk LEFT JOIN cov USING (doc_id))
         |SELECT doc_id,
         |  md5(coalesce(array_to_string(kept, ' '), '')) AS kept_md5, n_tokens,
         |  (n_tokens - len(kept))::BIGINT AS n_removed
         |FROM o ORDER BY doc_id""".stripMargin,
    // replay of the paragraph-dedup transform: paragraphs = 16-token
    // windows, global first occurrence by (doc_id, idx) wins (the oracle's
    // row_number replays Spark's min(struct(id, idx)) ownership), docs
    // rebuilt from survivors in position order
    "t33_paragraph_dedup" ->
      s"""$toks,
         |pw AS (SELECT doc_id, unnest(range((len(tk) + 15) // 16)) AS idx, tk FROM tk),
         |p AS (SELECT doc_id, idx,
         |        array_to_string(list_slice(tk, idx*16 + 1, idx*16 + 16), ' ') AS para
         |      FROM pw),
         |k AS (SELECT doc_id, idx, para,
         |        row_number() OVER (PARTITION BY para ORDER BY doc_id, idx) AS rn
         |      FROM p),
         |kk AS (SELECT doc_id, count(*) AS n_kept,
         |         array_to_string(list(para ORDER BY idx), ' ') AS kept
         |       FROM k WHERE rn = 1 GROUP BY doc_id),
         |pc AS (SELECT doc_id, count(*) AS n_paras FROM p GROUP BY doc_id)
         |SELECT tk.doc_id, coalesce(n_paras, 0)::BIGINT AS n_paras,
         |  coalesce(n_kept, 0)::BIGINT AS n_kept,
         |  md5(coalesce(kept, '')) AS kept_md5
         |FROM tk LEFT JOIN pc USING (doc_id) LEFT JOIN kk USING (doc_id)
         |ORDER BY doc_id""".stripMargin,
    "t5_simhash" ->
      s"""$toks,
         |h AS (SELECT doc_id, list_transform(tk, t -> ('0x' || substr(md5(t), 1, 12))::BIGINT) AS hs FROM tk)
         |SELECT doc_id,
         |  list_sum(list_transform(range(48), b ->
         |    CASE WHEN list_sum(list_transform(hs, x ->
         |           CASE WHEN (x >> (47 - b)) & 1 = 1 THEN 1 ELSE -1 END)) >= 0
         |         THEN (1::BIGINT << (47 - b)) ELSE 0 END))::BIGINT AS simhash
         |FROM h ORDER BY doc_id""".stripMargin,
    "t6_simhash_neardups" ->
      s"""$toks,
         |h AS (SELECT doc_id, list_transform(tk, t -> ('0x' || substr(md5(t), 1, 12))::BIGINT) AS hs FROM tk),
         |sh AS (SELECT doc_id,
         |  list_sum(list_transform(range(48), b ->
         |    CASE WHEN list_sum(list_transform(hs, x ->
         |           CASE WHEN (x >> (47 - b)) & 1 = 1 THEN 1 ELSE -1 END)) >= 0
         |         THEN (1::BIGINT << (47 - b)) ELSE 0 END))::BIGINT AS s
         |  FROM h),
         |blk AS (SELECT doc_id, s,
         |  list_transform(range(4), i -> i || ':' || ((s >> (i*12)) & 4095)) AS blocks FROM sh)
         |SELECT a.doc_id AS id_a, c.doc_id AS id_b, bit_count(xor(a.s, c.s))::BIGINT AS hamming
         |FROM blk a, blk c
         |WHERE a.doc_id < c.doc_id
         |  AND len(list_intersect(a.blocks, c.blocks)) > 0
         |  AND bit_count(xor(a.s, c.s)) <= 3
         |ORDER BY id_a, id_b""".stripMargin,
    // full containment replay: planted 36-token quote corpus, word-3-gram
    // 60-bit md5 hashes, df-capped rare set, bottom-8 sample per doc,
    // sample x index candidate join with the majority cut, exact verify
    // over the full shingle sets, integer ppm threshold
    "t74_containment" ->
      """WITH nn AS (SELECT doc_id,
        |    trim(regexp_replace(lower(text), '\s+', ' ', 'g')) AS norm
        |  FROM documents),
        |tkk AS (SELECT doc_id,
        |    list_filter(string_split(norm, ' '), t -> len(t) > 0) AS tk
        |  FROM nn),
        |corpus AS (
        |  SELECT doc_id AS id, tk FROM tkk
        |  UNION ALL
        |  SELECT doc_id + 100000 AS id, tk[5:40] AS tk FROM tkk
        |  WHERE doc_id % 10 = 0 AND len(tk) >= 40),
        |sh AS (SELECT id, unnest(list_distinct(list_transform(range(1, len(tk) - 1),
        |    i -> array_to_string(tk[i:i+2], ' ')))) AS g
        |  FROM corpus WHERE len(tk) >= 3),
        |hh AS (SELECT id,
        |    ('0x' || substr(md5('cnt:' || g), 1, 15))::BIGINT AS h
        |  FROM sh),
        |sz AS (SELECT id, count(*)::BIGINT AS n_sh FROM hh GROUP BY id),
        |dfc AS (SELECT h, count(*)::BIGINT AS df FROM hh GROUP BY h),
        |rare AS (SELECT hh.id, hh.h FROM hh JOIN dfc USING (h)
        |  WHERE dfc.df <= 50),
        |samp AS (SELECT id, h FROM (
        |    SELECT id, h, row_number() OVER (PARTITION BY id ORDER BY h) AS rk
        |    FROM rare) WHERE rk <= 8),
        |ssz AS (SELECT id, count(*)::BIGINT AS m_sz FROM samp GROUP BY id),
        |cand AS (SELECT s.id AS small_id, r.id AS big_id, count(*)::BIGINT AS hits
        |  FROM samp s JOIN rare r ON s.h = r.h AND s.id <> r.id
        |  GROUP BY 1, 2),
        |cand2 AS (SELECT c.small_id, c.big_id
        |  FROM cand c JOIN ssz ON ssz.id = c.small_id
        |  WHERE c.hits * 2 >= ssz.m_sz),
        |ver AS (SELECT c.small_id, c.big_id, count(*)::BIGINT AS n_shared
        |  FROM cand2 c
        |  JOIN hh a ON a.id = c.small_id
        |  JOIN hh b ON b.id = c.big_id AND b.h = a.h
        |  GROUP BY 1, 2)
        |SELECT v.small_id, v.big_id, sz.n_sh AS n_small, v.n_shared,
        |  ((v.n_shared * 1000000) // sz.n_sh)::BIGINT AS containment_ppm
        |FROM ver v JOIN sz ON sz.id = v.small_id
        |WHERE (v.n_shared * 1000000) // sz.n_sh >= 800000
        |ORDER BY small_id, big_id""".stripMargin,
    "t7_ngram_jaccard" ->
      s"""WITH n AS ($norm),
         |sh AS (SELECT doc_id,
         |    list_distinct(list_transform(range(1, len(norm) - 3), i -> substr(norm, i, 5))) AS sh
         |  FROM n WHERE doc_id < 150),
         |p AS (SELECT a.doc_id AS id_a, c.doc_id AS id_b,
         |    len(list_intersect(a.sh, c.sh)) / len(list_distinct(a.sh || c.sh))::DOUBLE AS j
         |  FROM sh a, sh c WHERE a.doc_id < c.doc_id)
         |SELECT id_a, id_b, round(j, 6) AS jaccard FROM p
         |WHERE j >= 0.2 ORDER BY id_a, id_b""".stripMargin,
    "t9_lsh_keeplist" ->
      s"""WITH n AS ($norm),
         |sh AS (SELECT doc_id,
         |    list_distinct(list_transform(range(1, len(norm) - 3), i -> substr(norm, i, 5))) AS sh
         |  FROM n WHERE len(norm) >= 5),
         |hh AS (SELECT doc_id,
         |    list_transform(sh, x -> ('0x' || substr(md5(x), 1, 8))::BIGINT) AS h1s,
         |    list_transform(sh, x -> ('0x' || substr(md5(x), 9, 8))::BIGINT) AS h2s
         |  FROM sh WHERE len(sh) > 0),
         |g AS (SELECT doc_id,
         |    list_transform(range(16), k ->
         |      coalesce(list_min(list_transform(range(len(h1s)), i ->
         |        (h1s[i+1] + k * h2s[i+1]) & 4294967295)), 9223372036854775807)) AS sig
         |  FROM hh),
         |b AS (SELECT doc_id,
         |    list_transform(range(4), bb ->
         |      md5(bb || ',' || array_to_string(list_slice(sig, bb*4 + 1, bb*4 + 4), ','))) AS keys
         |  FROM g),
         |bk AS (SELECT doc_id, unnest(keys) AS k FROM b),
         |bm AS (SELECT k, min(doc_id) AS m FROM bk GROUP BY k)
         |SELECT bk.doc_id AS id, min(bm.m) AS keep_id
         |FROM bk JOIN bm USING (k) GROUP BY 1 ORDER BY 1""".stripMargin,
    "t25_bpe_encode" -> {
      // CASE/OR chains generated from the SAME merges literal the Spark
      // expression uses — one source of truth for the rule table. The
      // separator-aware replace (' a  b ' -> ' ab ' on a double-space
      // joined, space-padded symbol string) merges every non-overlapping
      // occurrence exactly like the Scala scan (a != b guaranteed by
      // FixtureMerges), and the CASE order IS the rank order, so each
      // recursion step merges the lowest-rank pair present — the greedy
      // BPE loop, replayed.
      val merges = graft.functions.BpeTokenizer.FixtureMerges
      val caseExpr = merges.map { case (a, b) =>
        s"WHEN position(' $a  $b ' IN toks) > 0 THEN replace(toks, ' $a  $b ', ' $a$b ')"
      }.mkString("CASE ", " ", " ELSE toks END")
      val anyExpr = merges.map { case (a, b) =>
        s"position(' $a  $b ' IN toks) > 0"
      }.mkString("(", " OR ", ")")
      s"""WITH RECURSIVE d AS (
         |  SELECT doc_id,
         |    list_filter(string_split_regex(lower(text), '\\s+'), x -> len(x) > 0) AS words
         |  FROM documents),
         |w AS (SELECT doc_id, wi, words[wi] AS word
         |      FROM d, generate_series(1, 4000) s(wi) WHERE wi <= len(words)),
         |init AS (SELECT doc_id, wi,
         |    ' ' || array_to_string(string_split(word, ''), '  ') || ' ' AS toks
         |  FROM w),
         |rec AS (
         |  SELECT doc_id, wi, toks, 0 AS step FROM init
         |  UNION ALL
         |  SELECT doc_id, wi, $caseExpr AS toks, step + 1 FROM rec
         |  WHERE step < 40 AND $anyExpr),
         |fin AS (SELECT doc_id, wi, string_split(trim(toks), '  ') AS tl
         |        FROM rec WHERE NOT $anyExpr),
         |agg AS (SELECT doc_id, sum(len(tl))::BIGINT AS n_tokens,
         |          string_agg(array_to_string(tl, '|'), '|' ORDER BY wi) AS tok_str
         |        FROM fin GROUP BY doc_id)
         |SELECT doc_id, n_tokens, md5(tok_str) AS tok_md5
         |FROM agg ORDER BY doc_id""".stripMargin
    },
    "t70_fertility" -> {
      // the t25 greedy-merge replay aggregated per lang: token counts
      // per word from the same CASE-chain recursion, words/chars from
      // the token list, exact integer ppm ratios
      val merges = graft.functions.BpeTokenizer.FixtureMerges
      val caseExpr = merges.map { case (a, b) =>
        s"WHEN position(' $a  $b ' IN toks) > 0 THEN replace(toks, ' $a  $b ', ' $a$b ')"
      }.mkString("CASE ", " ", " ELSE toks END")
      val anyExpr = merges.map { case (a, b) =>
        s"position(' $a  $b ' IN toks) > 0"
      }.mkString("(", " OR ", ")")
      s"""WITH RECURSIVE d AS (
         |  SELECT doc_id, lang,
         |    list_filter(string_split_regex(lower(text), '\\s+'), x -> len(x) > 0) AS words
         |  FROM documents),
         |w AS (SELECT doc_id, wi, words[wi] AS word
         |      FROM d, generate_series(1, 4000) s(wi) WHERE wi <= len(words)),
         |init AS (SELECT doc_id, wi,
         |    ' ' || array_to_string(string_split(word, ''), '  ') || ' ' AS toks
         |  FROM w),
         |rec AS (
         |  SELECT doc_id, wi, toks, 0 AS step FROM init
         |  UNION ALL
         |  SELECT doc_id, wi, $caseExpr AS toks, step + 1 FROM rec
         |  WHERE step < 40 AND $anyExpr),
         |fin AS (SELECT doc_id, wi, len(string_split(trim(toks), '  ')) AS nt
         |        FROM rec WHERE NOT $anyExpr),
         |perdoc AS (SELECT doc_id, sum(nt)::BIGINT AS t FROM fin GROUP BY doc_id),
         |wc AS (SELECT doc_id, lang, len(words)::BIGINT AS w,
         |         coalesce(list_sum(list_transform(words, x -> len(x))), 0)::BIGINT AS c
         |       FROM d),
         |per AS (SELECT wc.lang AS grp, count(*)::BIGINT AS n_docs,
         |          sum(wc.w)::BIGINT AS n_words, sum(wc.c)::BIGINT AS n_chars,
         |          sum(coalesce(pd.t, 0))::BIGINT AS n_tokens
         |        FROM wc LEFT JOIN perdoc pd USING (doc_id) GROUP BY 1)
         |SELECT grp, n_docs, n_words, n_chars, n_tokens,
         |  CASE WHEN n_words > 0 THEN (n_tokens * 1000000) // n_words ELSE 0 END AS fertility_ppm,
         |  CASE WHEN n_tokens > 0 THEN (n_chars * 1000000) // n_tokens ELSE 0 END AS chars_per_token_ppm,
         |  CASE WHEN n_tokens > 0 THEN ((n_tokens - n_words) * 1000000) // n_tokens ELSE 0 END AS continuation_ppm
         |FROM per ORDER BY grp""".stripMargin
    },
    "t8_bpe_tokens" ->
      s"""WITH n AS ($norm)
         |SELECT doc_id,
         |  len(regexp_extract_all(text, '[A-Za-z]{1,4}|[0-9]{1,3}|[^A-Za-z0-9\\s]')) AS n_bpe,
         |  len(list_filter(string_split(norm, ' '), t -> len(t) > 0)) AS n_ws
         |FROM documents JOIN n USING (doc_id) ORDER BY doc_id""".stripMargin,
    // True reachability via recursive CTE over the t6 edge set: the UNION
    // (distinct) bounds the fixpoint; min(reachable id) = component label.
    "t17_components" ->
      s"""WITH RECURSIVE n AS ($norm),
         |tk AS (SELECT doc_id, list_filter(string_split(norm, ' '), t -> len(t) > 0) AS tk FROM n),
         |h AS (SELECT doc_id, list_transform(tk, t -> ('0x' || substr(md5(t), 1, 12))::BIGINT) AS hs FROM tk),
         |sh AS (SELECT doc_id,
         |  list_sum(list_transform(range(48), b ->
         |    CASE WHEN list_sum(list_transform(hs, x ->
         |           CASE WHEN (x >> (47 - b)) & 1 = 1 THEN 1 ELSE -1 END)) >= 0
         |         THEN (1::BIGINT << (47 - b)) ELSE 0 END))::BIGINT AS s
         |  FROM h),
         |blk AS (SELECT doc_id, s,
         |  list_transform(range(4), i -> i || ':' || ((s >> (i*12)) & 4095)) AS blocks FROM sh),
         |edges AS (SELECT a.doc_id AS id_a, c.doc_id AS id_b
         |  FROM blk a, blk c
         |  WHERE a.doc_id < c.doc_id
         |    AND len(list_intersect(a.blocks, c.blocks)) > 0
         |    AND bit_count(xor(a.s, c.s)) <= 3),
         |und AS (SELECT id_a AS s, id_b AS d FROM edges
         |        UNION SELECT id_b, id_a FROM edges),
         |reach(id, r) AS (
         |  SELECT s, s FROM und
         |  UNION
         |  SELECT u.s, reach.r FROM und u JOIN reach ON reach.id = u.d)
         |SELECT id, min(r) AS component FROM reach GROUP BY id ORDER BY id""".stripMargin,
    // t17's reachability CTE composed with t2's quality formula: keeper =
    // highest quality (id-asc tiebreak) per true component.
    "t23_keep_best" ->
      s"""WITH RECURSIVE n AS ($norm),
         |tk AS (SELECT doc_id, list_filter(string_split(norm, ' '), t -> len(t) > 0) AS tk FROM n),
         |h AS (SELECT doc_id, list_transform(tk, t -> ('0x' || substr(md5(t), 1, 12))::BIGINT) AS hs FROM tk),
         |sh AS (SELECT doc_id,
         |  list_sum(list_transform(range(48), b ->
         |    CASE WHEN list_sum(list_transform(hs, x ->
         |           CASE WHEN (x >> (47 - b)) & 1 = 1 THEN 1 ELSE -1 END)) >= 0
         |         THEN (1::BIGINT << (47 - b)) ELSE 0 END))::BIGINT AS s
         |  FROM h),
         |blk AS (SELECT doc_id, s,
         |  list_transform(range(4), i -> i || ':' || ((s >> (i*12)) & 4095)) AS blocks FROM sh),
         |edges AS (SELECT a.doc_id AS id_a, c.doc_id AS id_b
         |  FROM blk a, blk c
         |  WHERE a.doc_id < c.doc_id
         |    AND len(list_intersect(a.blocks, c.blocks)) > 0
         |    AND bit_count(xor(a.s, c.s)) <= 3),
         |und AS (SELECT id_a AS s, id_b AS d FROM edges
         |        UNION SELECT id_b, id_a FROM edges),
         |reach(id, r) AS (
         |  SELECT s, s FROM und
         |  UNION
         |  SELECT u.s, reach.r FROM und u JOIN reach ON reach.id = u.d),
         |comp AS (SELECT id, min(r) AS component FROM reach GROUP BY id),
         |sq AS (SELECT doc_id,
         |  len(list_filter(tk, t -> t IN $en)) AS s_en,
         |  len(tk)::DOUBLE AS nn,
         |  len(list_distinct(tk))::DOUBLE AS nd
         |  FROM tk),
         |q AS (SELECT doc_id,
         |  0.4 * least(1.0, nn / 50.0)
         |      + 0.3 * (CASE WHEN nn > 0 THEN nd / nn ELSE 0 END)
         |      + 0.3 * greatest(0.0, 1.0 - abs((CASE WHEN nn > 0 THEN s_en / nn ELSE 0 END) - 0.45) / 0.45)
         |    AS q
         |  FROM sq),
         |k AS (SELECT comp.id, comp.component, q.q FROM comp JOIN q ON q.doc_id = comp.id)
         |SELECT id AS doc_id, component,
         |  first_value(id) OVER (PARTITION BY component ORDER BY q DESC, id ASC
         |    ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING) AS keep_id,
         |  id = first_value(id) OVER (PARTITION BY component ORDER BY q DESC, id ASC
         |    ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING) AS kept
         |FROM k ORDER BY doc_id""".stripMargin,
    "t39_winnow" ->
      s"""$winnowSql
         |SELECT DISTINCT doc_id, pos, fp FROM wsel ORDER BY doc_id, pos""".stripMargin,
    "t41_bpe_train" -> bpeTrainSql,
    "t62_unigram_train" ->
      ("""WITH RECURSIVE
         |nrm AS (SELECT doc_id, trim(regexp_replace(lower(text), '\s+', ' ', 'g')) AS norm FROM documents),
         |alltok AS (SELECT unnest(list_filter(string_split(norm, ' '), t -> len(t) > 0)) AS word FROM nrm),
         |w AS MATERIALIZED (SELECT word, count(*)::BIGINT AS freq FROM alltok WHERE len(word) <= 12 GROUP BY word),
         |sub AS (SELECT substr(w.word, j.j + 1, l.l) AS piece, sum(w.freq)::BIGINT AS seed_count
         |  FROM w, (SELECT unnest(range(0, 12)) AS j) j, (SELECT unnest(range(1, 7)) AS l) l
         |  WHERE j.j + l.l <= len(w.word) GROUP BY 1),
         |sel AS MATERIALIZED (
         |  SELECT piece, seed_count FROM sub WHERE len(piece) = 1
         |  UNION ALL
         |  SELECT piece, seed_count FROM (
         |    SELECT piece, seed_count, row_number() OVER (ORDER BY seed_count DESC, piece) AS rk
         |    FROM sub WHERE len(piece) > 1) WHERE rk <= 150),
         |tot AS (SELECT sum(seed_count)::BIGINT AS t FROM sel),
         |lp AS MATERIALIZED (SELECT piece, seed_count,
         |  floor(1000000000.0::DOUBLE * ln(seed_count::DOUBLE / (SELECT t FROM tot)::DOUBLE))::BIGINT AS lnp
         |  FROM sel),
         |grid AS (SELECT w.word, j.j, l.l, substr(w.word, j.j + 1, l.l) AS pc
         |  FROM w, (SELECT unnest(range(0, 12)) AS j) j, (SELECT unnest(range(1, 7)) AS l) l),
         |lut AS MATERIALIZED (SELECT g.word,
         |    list(CASE WHEN g.j + g.l <= len(g.word) THEN p.lnp END ORDER BY g.j, g.l) AS lut
         |  FROM grid g LEFT JOIN lp p ON g.pc = p.piece GROUP BY g.word),
         |rec AS (
         |  SELECT w.word, w.freq, len(w.word) AS n, l.lut, 0 AS i,
         |         [0::BIGINT] AS best, [0] AS bp
         |  FROM w JOIN lut l USING (word)
         |  UNION ALL
         |  SELECT word, freq, n, lut, i + 1,
         |         list_append(best, bv), list_append(bp, bj)
         |  FROM (
         |    SELECT word, freq, n, lut, i, best, bp,
         |      list_max(list_filter(list_transform(range(greatest(i - 5, 0), i + 1),
         |        j -> best[j + 1] + lut[j * 6 + (i + 1 - j)]), x -> x IS NOT NULL)) AS bv,
         |      list_min(list_filter(range(greatest(i - 5, 0), i + 1),
         |        j -> best[j + 1] + lut[j * 6 + (i + 1 - j)] =
         |          list_max(list_filter(list_transform(range(greatest(i - 5, 0), i + 1),
         |            k -> best[k + 1] + lut[k * 6 + (i + 1 - k)]), x -> x IS NOT NULL)))) AS bj
         |    FROM rec WHERE i < n) t),
         |fin AS MATERIALIZED (SELECT word, freq, n, bp FROM rec WHERE i = n),
         |bt AS (
         |  SELECT word, freq, bp, n AS pos FROM fin
         |  UNION ALL
         |  SELECT word, freq, bp, bp[pos + 1] FROM bt WHERE pos > 0),
         |used AS MATERIALIZED (
         |  SELECT substr(word, bp[pos + 1] + 1, pos - bp[pos + 1]) AS piece,
         |         sum(freq)::BIGINT AS used_count
         |  FROM bt WHERE pos > 0 GROUP BY 1),
         |ranked AS (SELECT p.piece, row_number() OVER (ORDER BY u.used_count DESC, p.piece) AS rk
         |  FROM lp p JOIN used u ON p.piece = u.piece
         |  WHERE len(p.piece) > 1 AND u.used_count > 0)
         |SELECT p.piece, p.seed_count, p.lnp AS lnp_fp,
         |  coalesce(u.used_count, 0)::BIGINT AS used_count,
         |  (len(p.piece) = 1 OR coalesce(r.rk, 99999) <= 64) AS kept
         |FROM lp p LEFT JOIN used u ON p.piece = u.piece
         |LEFT JOIN ranked r ON p.piece = r.piece
         |ORDER BY p.piece""").stripMargin,
    "t40_winnow_match" ->
      s"""$winnowSql,
         |f AS (SELECT DISTINCT doc_id, fp FROM wsel),
         |rare AS (SELECT fp FROM f GROUP BY fp HAVING count(*) BETWEEN 2 AND 20),
         |j AS (SELECT a.doc_id AS doc_a, b.doc_id AS doc_b
         |      FROM f a JOIN f b USING (fp) JOIN rare USING (fp)
         |      WHERE a.doc_id < b.doc_id)
         |SELECT doc_a, doc_b, count(*)::BIGINT AS n_shared FROM j
         |GROUP BY doc_a, doc_b HAVING count(*) >= 2
         |ORDER BY doc_a, doc_b""".stripMargin
  )
}
