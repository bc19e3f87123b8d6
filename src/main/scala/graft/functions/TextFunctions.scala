package graft.functions

import scala.collection.immutable.ArraySeq

import com.ibm.icu.lang.UCharacter
import com.ibm.icu.util.ULocale
import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** Text-analysis operators for large-scale training-data pipelines:
  * tokenization, fingerprinting, shingles, MinHash signatures, SimHash,
  * language-ID and quality scoring.
  *
  * Everything here is a composition of built-in codegen'd functions
  * (`split`/`transform`/`aggregate`/`md5`/...) — no UDFs — so the operators
  * stay inside whole-stage codegen and push through Catalyst untouched.
  * Hashes are md5-prefix based (not xxhash) so every operator is exactly
  * reproducible in the DuckDB oracle and in any other engine.
  */
object text {

  /** The one case fold, document side: ICU root-locale lower-casing.
    * Spark's own `lower` folds a non-ASCII string in the JVM's default
    * locale (under `tr`, "INDEX café" → "ındex café" while "INDEX build" →
    * "index build"); the UNICODE collation's `lower` folds with ICU's root
    * locale whatever the default. The cast returns the plain UTF8_BINARY
    * string type, so equality, `contains` and regexes downstream are
    * byte-wise as before. Null stays null. */
  def fold(c: Column): Column = lower(collate(c, "UNICODE")).cast("string")

  /** The one case fold, driver and executor side: the same ICU root
    * lower-casing as the Column [[fold]]. Not `Locale.ROOT`: JDK 17's
    * Unicode tables lag ICU's (67 code points such as U+A7C0 and U+10570
    * fold only in ICU) and its final-sigma rule misreads a preceding
    * non-BMP letter ("𝔘𝔫𝔦Σ" ends in σ, ICU's in ς), so the two sides
    * would disagree. Null stays null. */
  def fold(s: String): String =
    if (s == null) null else UCharacter.toLowerCase(ULocale.ROOT, s)

  /** The Scala mirror of [[tokens]]: fold, split on `sep` (default `\s+`,
    * the whitespace [[tokens]] splits on), drop empties. Null text has no
    * words (the Column [[tokens]] of null is a null array). */
  def words(s: String, sep: String = "\\s+"): Seq[String] =
    if (s == null) Seq.empty
    else ArraySeq.unsafeWrapArray(fold(s).split(sep).filter(_.nonEmpty))

  /** fold + collapse whitespace + trim (the canonical form used by
    * fingerprinting and dedup; mirrors `fast_ops.py:257-287` normalize). */
  def normalize(c: Column): Column =
    trim(regexp_replace(fold(c), "\\s+", " "))

  /** Whitespace tokens of the normalized text; empty text -> empty array. */
  def tokens(c: Column): Column =
    filter(split(normalize(c), " "), t => length(t) > 0)

  /** Whitespace token count (`fast_ops.py:257-263`). */
  def token_count(c: Column): Column = size(tokens(c))

  /** Distinct normalized tokens — the set granularity of the RAGAS-shape
    * claim/evidence checks. */
  def distinctTokens(c: Column): Column = array_distinct(tokens(c))

  /** BPE-ish subword token estimate: greedy regex chunking — letter runs in
    * <=4-char pieces, digit runs in <=3, one token per other non-space char —
    * approximates a BPE vocabulary's granularity closely enough for
    * training-data budgeting, entirely in codegen'd regex (no model). Greedy
    * quantifiers make the count engine-independent. */
  val bpeTokenPattern = "[A-Za-z]{1,4}|[0-9]{1,3}|[^A-Za-z0-9\\s]"
  def bpe_token_count(c: Column): Column =
    size(regexp_extract_all(c, lit(bpeTokenPattern), lit(0)))

  /** Content fingerprint: md5 of the normalized text (exact-dedup key). */
  def fingerprint(c: Column): Column = md5(normalize(c))

  /** Clipped overlap count Σ_g min(count_a(g), count_b(g)) between two
    * array columns, computed IN-ROW (both sides live in the same row, so
    * the statistic costs no shuffle). This is the BLEU modified-precision
    * numerator, the ROUGE-N overlap, and the TextTiling block-cohesion
    * numerator — one primitive, three operators. Backed by the codegen'd
    * O(|a|+|b|) static kernel in [[graft.functions.GenEvalExpressions]] —
    * the HOF-fold formulation re-evaluated its input subtrees per step
    * (interpreted, no CSE) and dominated the x64 probe. */
  def clipped_overlap(a: Column, b: Column): Column =
    graft.functions.GenEvalExpressions.clipped_overlap_kernel(a, b)

  /** Distinct character n-grams of the normalized text.
    *
    * r18: the bind-once HOF composition (round 12) became the compiled
    * [[NgramExpressions.CharNgrams]] kernel — the HOF still evaluated
    * INTERPRETED per gram position (boxed Substring + a sequence index
    * array per row; t34's trigram pass measured ~30 s of task time at
    * sf0.1). Value-identical including the null case: the old
    * `when(...).otherwise(array())` yielded an EMPTY array on null text,
    * reproduced here by coalescing to "". R18KernelSpec gates equality. */
  def char_shingles(c: Column, n: Int): Column =
    NgramExpressions.char_ngrams(coalesce(normalize(c), lit("")), n,
      distinct = true)

  /** All character n-grams in window order (duplicates kept) — the
    * per-position gram stream langIdTrained counts; same kernel as
    * [[char_shingles]] without the distinct pass. */
  def char_ngrams_all(normalized: Column, n: Int): Column =
    NgramExpressions.char_ngrams(coalesce(normalized, lit("")), n,
      distinct = false)

  /** Distinct word n-grams (space-joined) over the token array.
    *
    * r18: the bind-once HOF composition became the compiled
    * [[NgramExpressions.WordShingles]] kernel (same rationale and
    * equality gate as [[char_shingles]]; `UTF8String.concatWs` performs
    * the identical null-skipping space join `concat_ws` did). Null text
    * still yields an empty array (tokens(null) coalesced to []). */
  def word_shingles(c: Column, n: Int): Column =
    NgramExpressions.word_shingles_k(
      coalesce(tokens(c), array().cast("array<string>")), n, distinct = true)

  /** All of [[word_shingles]]'s rungs in ONE kernel: array of
    * (rung, gs) structs, value-identical per rung to `word_shingles(c, n)`,
    * but the regex tokenize runs ONCE for the whole rung ladder instead of
    * once per rung (t64's train scan paid 4× tokenization — the round-12
    * verdict's named x1 constant; the dominant cost of a shingle pass is
    * the normalize+split, not the window slide). r18: the rung sweep is
    * the compiled [[NgramExpressions.WordShinglesMulti]] kernel — one
    * token-array extraction feeds every rung's window loop.
    *
    * `distinct = false` skips the per-row `array_distinct` (a hash pass
    * over every gram string): right when the consumer dedupes globally
    * anyway (t64's train scan semi-joins then `.distinct()`s — per-row
    * dedup there is pure overhead), wrong when per-doc distinct counts
    * are the statistic (the eval side keeps the default). */
  def word_shingles_multi(c: Column, ns: Seq[Int],
                          distinct: Boolean = true): Column =
    NgramExpressions.word_shingles_multi_k(
      coalesce(tokens(c), array().cast("array<string>")), ns, distinct)

  /** 32-bit seeded shingle hash, Broder-style: one md5 per shingle; lane
    * `seed` combines the digest's two 4-byte halves as
    * `(h1 + seed·h2) mod 2^32`. Reproducible in any engine with md5, and
    * 16× less hashing than seed-prefixed digests at k=16. r18: compiled
    * kernel — the conv/substring Column form digested the shingle twice
    * and hex-string-parsed both halves (R18KernelSpec gates equality). */
  def shingle_hash(seed: Column, shingle: Column): Column =
    org.apache.spark.sql.graftbridge.ColumnBridge.column(
      TextHashExpressions.ShingleHash(
        org.apache.spark.sql.graftbridge.ColumnBridge.expression(seed.cast("long")),
        org.apache.spark.sql.graftbridge.ColumnBridge.expression(shingle)))

  /** Unsigned value of md5-hex digits [start, start+len) of `s`'s digest:
    * the only way an md5 digest becomes an integer in src/main
    * (ToolingGuardSpec). Equal to the SQL spelling
    * `conv(substring(md5(s), start, len), 16, 10)::long` that the oracles
    * use (Md5PrefixLongPropSpec gates it, len ≤ 15); a binary `s` hashes
    * its raw bytes, as `md5` does. Null stays null. */
  def md5_prefix_long(s: Column, startHex: Int, lenHex: Int): Column =
    org.apache.spark.sql.graftbridge.ColumnBridge.column(
      TextHashExpressions.Md5PrefixLong(
        org.apache.spark.sql.graftbridge.ColumnBridge.expression(s),
        startHex, lenHex))

  /** MinHash signature: k independent permutations approximated by k
    * combinatorial hash lanes; element i = min over shingles of hash_i (the
    * standard MinHash estimator of Jaccard similarity). Null-safe: empty
    * shingle set -> all-max sentinel so it never collides with real
    * signatures.
    *
    * Cost note (round 12): the digest halves (h1, h2) are computed ONCE
    * per shingle and bound through the one-element-struct idiom before the
    * k-lane fold reads them — the previous form referenced the shingle
    * array inside the per-lane lambda (rebuilding it k times) and called
    * md5 twice per (lane, shingle): 2k digests per shingle instead of 1.
    * Output is value-identical ((h1 + s·h2) & 2³²−1 per lane, unchanged
    * algebra). */
  def minhash_signature(shingles: Column, k: Int): Column =
    element_at(transform(array(struct(
      transform(shingles, x =>
        element_at(transform(array(struct(md5(x).as("m"))), q => struct(
          conv(substring(q.getField("m"), 1, 8), 16, 10).cast("long").as("h1"),
          conv(substring(q.getField("m"), 9, 8), 16, 10).cast("long").as("h2"))),
          1))
        .as("hs"))), p => {
      val hs = p.getField("hs")
      transform(sequence(lit(0), lit(k - 1)), s =>
        coalesce(array_min(transform(hs, h =>
          (h.getField("h1") + s.cast("long") * h.getField("h2"))
            .bitwiseAND(lit(4294967295L)))),
          lit(Long.MaxValue)))
    }), 1)

  /** LSH band keys: the signature split into `bands` contiguous slices,
    * each slice hashed; docs sharing any band key become candidate pairs. */
  def lsh_band_keys(sig: Column, bands: Int, rowsPerBand: Int): Column =
    transform(sequence(lit(0), lit(bands - 1)), b =>
      lsh_band_key(sig, b, rowsPerBand))

  /** The key of band `band` (0-based int): md5 of the band index and the
    * band's `rowsPerBand` signature lanes, comma-joined. */
  def lsh_band_key(sig: Column, band: Column, rowsPerBand: Int): Column =
    md5(concat_ws(",", concat(array(band.cast("string")),
      slice(sig, band * lit(rowsPerBand) + 1, lit(rowsPerBand)).cast("array<string>"))))

  /** 48-bit SimHash over the (frequency-weighted) token stream. Token hash =
    * first 12 hex chars of md5 (48 bits fits exactly in long/double on every
    * engine). Bit b (MSB-first) is 1 iff the signed bit-vote sum >= 0. */
  def simhash48(c: Column): Column = {
    val hashes = transform(tokens(c), t =>
      conv(substring(md5(t), 1, 12), 16, 10).cast("long"))
    // Dynamic right-shift via exact double division (48-bit values < 2^53,
    // so floor(h / 2^k) is exact): shiftright() only takes literal bit counts.
    val bits = transform(sequence(lit(0), lit(47)), b =>
      when(aggregate(hashes, lit(0L), (acc, h) =>
        acc + when(floor(h / pow(lit(2.0), lit(47) - b)).cast("long") % 2 === 1, 1L)
          .otherwise(-1L)) >= 0, 1L)
        .otherwise(0L))
    aggregate(bits, lit(0L), (acc, x) => acc * 2 + x)
  }

  /** Single-pass expression forms (preferred at scale — the Column
    * compositions above re-evaluate subtrees per lambda via
    * CollapseProject; see TextHashExpressions). Input must already be
    * normalized. */
  def minhash_signature_fast(norm: Column, k: Int, shingleSize: Int): Column =
    org.apache.spark.sql.graftbridge.ColumnBridge.column(
      TextHashExpressions.MinHashSignature(
        org.apache.spark.sql.graftbridge.ColumnBridge.expression(norm), k, shingleSize))

  def simhash48_fast(norm: Column): Column =
    org.apache.spark.sql.graftbridge.ColumnBridge.column(
      TextHashExpressions.SimHash48(
        org.apache.spark.sql.graftbridge.ColumnBridge.expression(norm)))

  /** One-pass lang-ID + quality struct (lang_guess, quality) — the scale
    * form of [[lang_id]]+[[quality_score]] (each struct-field reference
    * re-evaluates the single pass once, vs ~20 tokenize re-evaluations for
    * the Column compositions). */
  def lang_quality_fast(norm: Column): Column =
    org.apache.spark.sql.graftbridge.ColumnBridge.column(
      TextHashExpressions.LangQualityProfile(
        org.apache.spark.sql.graftbridge.ColumnBridge.expression(norm)))

  /** Hamming distance between two simhash values (64-bit safe). */
  def simhash_hamming(a: Column, b: Column): Column = {
    bit_count(a.bitwiseXOR(b))
  }

  // ------------------------------------------------------------ language ID

  /** Per-language stopword sets for the n-gram/stopword heuristic. Order is
    * the deterministic tiebreak (alphabetical). */
  val langStopwords: Seq[(String, Seq[String])] = Seq(
    "de" -> Seq("der", "die", "und", "das", "ist", "nicht", "ein", "zu"),
    "en" -> Seq("the", "and", "of", "to", "in", "is", "it", "that"),
    "es" -> Seq("el", "la", "los", "de", "que", "es", "un", "una"),
    "fr" -> Seq("le", "les", "et", "est", "que", "des", "un", "une"))

  /** Stopword hit count for one language. */
  def lang_score(c: Column, lang: String): Column = {
    val set = langStopwords.toMap.apply(lang)
    size(filter(tokens(c), t => t.isin(set.map(lit(_)): _*)))
  }

  /** Heuristic language ID: argmax stopword hits, ties to the alphabetically
    * first language, no hits -> 'und'. Deterministic and SQL-reproducible. */
  def lang_id(c: Column): Column = {
    val scores = langStopwords.map { case (l, _) => l -> lang_score(c, l) }
    val best = scores.map(_._2).reduce((a, b) => greatest(a, b))
    scores.foldRight(lit("und"): Column) { case ((l, s), els) =>
      when(s === best && best > 0, lit(l)).otherwise(els)
    }
  }

  // ---------------------------------------------------- full-text (Q12 FTS)

  /** English FTS stopword list (the classic public Lucene/Postgres subset)
    * — the terms `plainto_tsquery('english', ...)` drops. */
  val ftsStopwords: Seq[String] = Seq(
    "a", "an", "and", "are", "as", "at", "be", "but", "by", "for", "if",
    "in", "into", "is", "it", "no", "not", "of", "on", "or", "such",
    "that", "the", "their", "then", "there", "these", "they", "this",
    "to", "was", "will", "with")

  /** Light deterministic stemmer standing in for the Snowball 'english'
    * config: plural collapse (sses→ss, ies→i, s-drop with a length guard)
    * then gerund/past suffix strip. Deliberately small — the identical rule
    * set is expressible in the DuckDB oracle (whose fts/stem extension is
    * unavailable offline); the documented deviation from full Porter is no
    * measure computation and no consonant undoubling. */
  def light_stem(t: Column): Column = {
    val s = when(t.rlike("sses$"), regexp_replace(t, "es$", ""))
      .when(t.rlike("ies$"), regexp_replace(t, "ies$", "i"))
      .when(t.rlike("ss$"), t)
      .when(t.rlike("s$") && length(t) > 3, regexp_replace(t, "s$", ""))
      .otherwise(t)
    when(s.rlike("ing$") && length(s) > 5, regexp_replace(s, "ing$", ""))
      .when(s.rlike("ed$") && length(s) > 4, regexp_replace(s, "ed$", ""))
      .otherwise(s)
  }

  /** Driver-side mirror of [[light_stem]] for query-term processing. */
  def lightStemString(t: String): String = {
    val s =
      if (t.endsWith("sses")) t.dropRight(2)
      else if (t.endsWith("ies")) t.dropRight(3) + "i"
      else if (t.endsWith("ss")) t
      else if (t.endsWith("s") && t.length > 3) t.dropRight(1)
      else t
    if (s.endsWith("ing") && s.length > 5) s.dropRight(3)
    else if (s.endsWith("ed") && s.length > 4) s.dropRight(2)
    else s
  }

  // -------------------------------------------------------- quality scoring

  /** Heuristic document quality in [0,1]:
    * 0.4 * length component (saturates at 50 tokens)
    * + 0.3 * lexical diversity (distinct/total tokens)
    * + 0.3 * stopword-ratio fit (ideal ~0.45, linear falloff).
    * Returned UNROUNDED: both engines evaluate the identical IEEE op
    * sequence, so raw doubles hash identically, while engine round()
    * semantics differ (DuckDB rounds the shortest decimal repr, Spark the
    * exact binary value — they disagree on values like 0.42474999999999996). */
  def quality_score(c: Column): Column = {
    val toks = tokens(c)
    val n = size(toks).cast("double")
    val enStops = langStopwords.toMap.apply("en")
    val stopHits = size(filter(toks, t => t.isin(enStops.map(lit(_)): _*))).cast("double")
    val lenComp = least(lit(1.0), n / 50.0)
    val diversity = when(n > 0, size(array_distinct(toks)).cast("double") / n).otherwise(0.0)
    val stopRatio = when(n > 0, stopHits / n).otherwise(0.0)
    val stopFit = greatest(lit(0.0), lit(1.0) - abs(stopRatio - 0.45) / 0.45)
    lit(0.4) * lenComp + lit(0.3) * diversity + lit(0.3) * stopFit
  }
}
