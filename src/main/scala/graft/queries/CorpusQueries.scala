package graft.queries

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.Tables
import graft.functions.text
import graft.operators.{Corpus, Dedup}

/** Corpus-curation coverage: the training-data pipeline stages between raw
  * ingest and tokenized shards — boilerplate detection, repetition quality
  * gates, train/eval decontamination, PII scrubbing, stratified sampling,
  * sequence packing, vocabulary heavy hitters. Every query has a full DuckDB
  * oracle; all emitted measures are exact integers (or md5 digests) so the
  * cross-engine hash gate is airtight — no floating point anywhere.
  */
object CorpusQueries {

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "t10_boilerplate" -> ((s, d) => boilerplate(s, d)),
    "t11_repetition" -> ((s, d) => repetition(s, d)),
    "t12_decontaminate" -> ((s, d) => decontaminate(s, d)),
    "t13_pii_scrub" -> ((s, d) => piiScrub(s, d)),
    "t14_sample_stratified" -> ((s, d) => sampleStratified(s, d)),
    "t15_seq_pack" -> ((s, d) => seqPack(s, d)),
    "t16_heavy_hitters" -> ((s, d) => heavyHitters(s, d)),
    "t18_url_caps" -> ((s, d) => urlCaps(s, d)),
    "t19_bloom_decontaminate" -> ((s, d) => bloomDecontaminate(s, d)),
    "t31_decontaminate_auto" -> ((s, d) => decontaminateAuto(s, d)),
    "t20_profile" -> ((s, d) => profile(s, d)),
    "t21_shuffle_shards" -> ((s, d) => shuffleShards(s, d)),
    "t22_cms_heavy" -> ((s, d) => cmsHeavy(s, d)),
    "t27_temperature_mix" -> ((s, d) => temperatureMix(s, d)),
    "t28_curation_e2e" -> ((s, d) => curationE2e(s, d)),
    "t30_lm_xent" -> ((s, d) => lmXent(s, d)),
    "t51_kn_lm" -> ((s, d) => knXent(s, d)),
    "t53_fim_transform" -> ((s, d) => fimTransformQ(s, d)),
    "t54_span_corrupt" -> ((s, d) => spanCorruptQ(s, d)),
    "t32_dsir_sample" -> ((s, d) => dsirSample(s, d)),
    "t34_langid_trained" -> ((s, d) => langIdTrained(s, d)),
    "t35_ccnet_buckets" -> ((s, d) => ccnetBuckets(s, d)),
    "t36_leakage_split" -> ((s, d) => leakageSplit(s, d)),
    "t37_mojibake" -> ((s, d) => mojibake(s, d)),
    "t38_oov_rate" -> ((s, d) => oovRateQ(s, d)),
    "t42_curation_v2" -> ((s, d) => curationV2(s, d)),
    "t43_quota_sample" -> ((s, d) => quotaSample(s, d)),
    "t44_ffd_pack" -> ((s, d) => ffdPack(s, d)),
    "t45_distinct_profile" -> ((s, d) => distinctProfileQ(s, d)),
    "t46_context_windows" -> ((s, d) => contextWindowsQ(s, d)),
    "t47_pretrain_e2e" -> ((s, d) => pretrainE2e(s, d)),
    "t55_gopher_quality" -> ((s, d) => gopherQualityQ(s, d)),
    "t56_c4_line_filters" -> ((s, d) => c4LineFiltersQ(s, d)),
    "t57_nb_classifier" -> ((s, d) => nbClassifierQ(s, d)),
    "t58_sft_render" -> ((s, d) => sftRenderQ(s, d)),
    "t59_dpo_pairs" -> ((s, d) => dpoPairsQ(s, d)),
    "t61_contamination_report" -> ((s, d) => contaminationReportQ(s, d)),
    "t64_memorization" -> ((s, d) => memorizationQ(s, d)),
    "t66_canary_exposure" -> ((s, d) => canaryExposureQ(s, d)),
    "t67_readability" -> ((s, d) => readabilityQ(s, d)),
    "t68_zipf_slope" -> ((s, d) => zipfSlopeQ(s, d)),
    "t69_heaps_growth" -> ((s, d) => heapsGrowthQ(s, d)),
    "t71_weighted_sample" -> ((s, d) => weightedSampleQ(s, d)),
    "t72_k_anonymity" -> ((s, d) => kAnonymityQ(s, d)),
    "t73_linear_classifier" -> ((s, d) => linearClassifierQ(s, d))
  )

  /** [[graft.operators.Corpus.kAnonymityAudit]] with QI = (source, lang,
    * 256-char length bucket) and a synthesized md5 author id (50 values,
    * the named rule — a UGC corpus's author column) as the sensitive
    * attribute, k = 5 / l = 3: 194 equivalence classes at sf0.01 with a
    * real size spread (singletons through 11), 164 suppressed — both
    * actions, both property combinations populated. */
  def kAnonymityQ(spark: SparkSession, dir: String): DataFrame = {
    val qi = Tables.documents(spark, dir).select(
      col("source"), col("lang"), expr("n_chars div 256").as("len_bucket"),
      (text.md5_prefix_long(concat(lit("au:"), col("doc_id")), 1, 6) % 50).as("author"))
    Corpus.kAnonymityAudit(qi, Seq("source", "lang", "len_bucket"),
        "author", k = 5, l = 3)
      .orderBy("source", "lang", "len_bucket")
  }

  /** [[graft.operators.Corpus.weightedSample]] of k = 50 docs weighted by
    * n_chars: the picked slice skews long (mean weight ≈ 336 vs corpus
    * ≈ 298 at sf0.01 — the weight bias is visible, not vacuous), every
    * key and the whole ranking replay in the oracle. */
  def weightedSampleQ(spark: SparkSession, dir: String): DataFrame =
    graft.operators.Corpus.weightedSample(
      Tables.documents(spark, dir), "doc_id", "n_chars", k = 50)
      .orderBy("rank_pos")

  /** [[graft.operators.Corpus.readability]] with PLANTED sentence counts
    * (the t18 integer-rule convention — the corpus has no punctuation):
    * a boundary follows token i iff (i + doc_id) % m == 0 with m = 7 +
    * doc_id % 5, so S = ⌊(W+d)/m⌋ − ⌊d/m⌋ + [tail], closed-form in both
    * engines. FRE spans 57.9–111.3 at sf0.01, populating very_easy/easy/
    * standard — real verdict texture, not one bucket. */
  def readabilityQ(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(spark, dir)
      .select(col("doc_id"), text.tokens(col("text")).as("tk"))
      .withColumn("m", lit(7L) + col("doc_id") % 5)
      .withColumn("w", size(col("tk")).cast("long"))
      .withColumn("sent", when(col("w") === 0, 0L).otherwise(
        expr("(w + doc_id) div m - doc_id div m") +
          when(expr("(w + doc_id) % m") =!= 0, 1L).otherwise(0L)))
    graft.operators.Corpus.readability(docs, "doc_id", "tk", "sent")
      .orderBy("doc_id")
  }

  /** [[graft.operators.Corpus.zipfSlope]] over the corpus: the word-soup
    * head is deliberately FLAT (α ≈ −0.18, 30 near-uniform types + a rare
    * tail) — exactly the broken-Zipf shape the diagnostic exists to
    * expose on synthetic corpora; every (rank, freq) row plus the fold's
    * floored fixed-point fit replays in the oracle. */
  def zipfSlopeQ(spark: SparkSession, dir: String): DataFrame =
    graft.operators.Corpus.zipfSlope(Tables.documents(spark, dir), "text")
      .orderBy("rank")

  /** [[graft.operators.Corpus.heapsGrowth]] at orders 1/2/3 over 8
    * doubling prefixes: the three Heaps regimes separate cleanly at
    * sf0.01 — unigrams saturate at the 31-type vocabulary (β → 0),
    * bigrams decay 0.82 → 0.006, trigrams stay near-linear (0.99 →
    * 0.67). A template-spam corpus would collapse the trigram curve —
    * the signal under audit. */
  def heapsGrowthQ(spark: SparkSession, dir: String): DataFrame =
    graft.operators.Corpus.heapsGrowth(Tables.documents(spark, dir),
      "doc_id", "text")
      .orderBy("n", "level")

  /** [[graft.operators.Corpus.canaryExposure]] with PLANTED canaries
    * (pure integer rule, both engines): canary k = the 4-token sequence
    * `cnr{k}a cnr{k}b cnr{k}c cnr{k}d`; for k < 7 it is appended to the
    * k+1 docs with doc_id % 64 == k and doc_id div 64 < k+1 (insertion
    * ladder 1..7); candidates are ALL 64 canaries, so k ≥ 7 are
    * never-inserted decoys. Expected physics, spec-gated: xent strictly
    * decreases with insertion count (the memorization gradient exposure
    * measures), every planted canary outranks every decoy, and identical
    * decoys tie-break on candidate id. */
  def canaryExposureQ(spark: SparkSession, dir: String): DataFrame = {
    def ctext(k: Column): Column = {
      val ks = k.cast("string")
      concat_ws(" ",
        concat(lit("cnr"), ks, lit("a")), concat(lit("cnr"), ks, lit("b")),
        concat(lit("cnr"), ks, lit("c")), concat(lit("cnr"), ks, lit("d")))
    }
    val k = col("doc_id") % 64
    val train = Tables.documents(spark, dir).withColumn("text",
      when(k < 7 && expr("doc_id div 64") < k + 1,
        concat(col("text"), lit(" "), ctext(k))).otherwise(col("text")))
    val cands = spark.range(64)
      .select(col("id").as("cand_id"), ctext(col("id")).as("ctext"))
    Corpus.canaryExposure(train, cands, "text", "cand_id", "ctext")
      .withColumn("n_inserted",
        when(col("cand_id") < 7, col("cand_id") + 1).otherwise(0L))
      .select(col("cand_id"), col("n_inserted"), col("n_bigrams"),
        col("xent"), col("rank"))
      .orderBy("cand_id")
  }

  /** [[graft.operators.Corpus.memorizationReport]] over the t61 split with
    * PLANTED contamination (t18 convention — both engines construct the
    * eval texts from the same pure integer rule): eval doc e
    * (doc_id % 50 == 0) takes, by (doc_id div 50) % 4 —
    * 0: its own text (the natural-overlap arm); 1: the first 40 tokens of
    * train doc e+1 plus 8 unique filler tokens (a copied passage — matches
    * through rung 32 when the donor is long enough, honestly less when
    * not); 2: the first 10 donor tokens (matches rungs 4/8, never 16);
    * 3: the first 5 donor tokens (matches rung 4 only). max_matched_rung
    * spans {0, 4, 8, 16, 32} at sf0.01 (oracle-prototyped), so every rung
    * branch and the max logic discriminate. */
  def memorizationQ(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(spark, dir)
    // synthesis only reads eval docs (%50==0) and their donors (%50==1):
    // tokenizing the WHOLE corpus here cost more than the operator's own
    // train scan, and the eval_ frame re-computes on every reference
    // inside the operator (4x) — filter before tokenize
    val tk = docs.filter(col("doc_id") % 50 === 0)
      .select(col("doc_id"), text.tokens(col("text")).as("tk"))
    val donors = docs.filter(col("doc_id") % 50 === 1)
      .select((col("doc_id") - 1).as("doc_id"),
        text.tokens(col("text")).as("dtk"))
    val uniq = transform(sequence(lit(0L), lit(7L)), j =>
      concat(lit("u"), col("doc_id").cast("string"), lit("x"),
        j.cast("string")))
    val ev = tk.filter(col("doc_id") % 50 === 0)
      .join(donors, Seq("doc_id"))
      .withColumn("pcase", expr("(doc_id div 50) % 4"))
      .withColumn("etk",
        when(col("pcase") === 0, col("tk"))
          .when(col("pcase") === 1, concat(slice(col("dtk"), 1, 40), uniq))
          .when(col("pcase") === 2, concat(slice(col("dtk"), 1, 10), uniq))
          .otherwise(concat(slice(col("dtk"), 1, 5), uniq)))
      .select(col("doc_id"), concat_ws(" ", col("etk")).as("text"))
    Corpus.memorizationReport(
        docs.filter(col("doc_id") % 50 =!= 0), ev, "doc_id", "text")
      .withColumnRenamed("eval_id", "doc_id")
      .orderBy("doc_id", "rung")
  }

  /** Per-eval-doc contamination accounting over the t12 split (eval =
    * doc_id % 50): distinct 4-gram coverage against the train corpus in
    * exact basis points, verdicts at 500/5000 bp. */
  def contaminationReportQ(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(spark, dir)
    Corpus.contaminationReport(
        docs.filter(col("doc_id") % 50 =!= 0),
        docs.filter(col("doc_id") % 50 === 0),
        "doc_id", "text")
      .withColumnRenamed("eval_id", "doc_id")
      .orderBy("doc_id")
  }

  /** DPO pair assembly over synthesized A/B outcomes: prompt = first six
    * tokens, responses = the remainder halved, winner md5-derandomized;
    * planted empty (%47), identical (%41), and truncated (%43) B
    * responses plus natural 6-token prompt collisions populate all five
    * verdict paths at sf0.01 (kept 444 / dup 22 / identical 12 / ratio 11
    * / short 11). */
  def dpoPairsQ(spark: SparkSession, dir: String): DataFrame = {
    val synth = Tables.documents(spark, dir)
      .select(col("doc_id"), text.tokens(col("text")).as("tk"))
      .withColumn("n", size(col("tk")).cast("long"))
      .withColumn("rem", col("n") - 6)
      .filter(col("rem") >= 2)
      .withColumn("ha", expr("rem div 2"))
      .withColumn("p", array_join(slice(col("tk"), lit(1), lit(6)), " "))
      .withColumn("ra", array_join(
        slice(col("tk"), lit(7), col("ha").cast("int")), " "))
      .withColumn("rb0", array_join(
        slice(col("tk"), (col("ha") + 7).cast("int"),
          (col("rem") - col("ha")).cast("int")), " "))
      .withColumn("rb", when(col("doc_id") % 47 === 0, lit(""))
        .when(col("doc_id") % 41 === 0, col("ra"))
        .when(col("doc_id") % 43 === 0,
          array_join(slice(split(col("rb0"), " "), 1, 2), " "))
        .otherwise(col("rb0")))
      .withColumn("win_a",
        text.md5_prefix_long(concat(lit("dpo:"), col("doc_id")), 1, 6) % 2 === 0)
    Corpus.dpoPairs(synth, "doc_id", "p", "ra", "rb", "win_a")
      .withColumnRenamed("id", "doc_id")
      .orderBy("doc_id")
  }

  /** SFT chat-template rendering over synthesized two-turn conversations:
    * each doc's token stream splits into quarters (u1|a1|u2|a2, q = n div
    * 4), renders as ChatML with a fixed system turn, and emits one
    * loss-mask row per assistant turn. The md5 gates every rendered byte;
    * the mask bounds are pure integer arithmetic over the quarter sizes. */
  def sftRenderQ(spark: SparkSession, dir: String): DataFrame = {
    val synth = Tables.documents(spark, dir)
      .select(col("doc_id"), text.tokens(col("text")).as("tk"))
      .withColumn("n", size(col("tk")).cast("long"))
      .filter(col("n") >= 4)
      .withColumn("q", expr("n div 4"))
      .select(col("doc_id"),
        array_join(slice(col("tk"), lit(1), col("q").cast("int")), " ")
          .as("u1"),
        array_join(slice(col("tk"), (col("q") + 1).cast("int"),
          col("q").cast("int")), " ").as("a1"),
        array_join(slice(col("tk"), (col("q") * 2 + 1).cast("int"),
          col("q").cast("int")), " ").as("u2"),
        array_join(slice(col("tk"), (col("q") * 3 + 1).cast("int"),
          (col("n") - col("q") * 3).cast("int")), " ").as("a2"))
    Corpus.sftRender(synth, "doc_id", Seq(("u1", "a1"), ("u2", "a2")))
      .withColumnRenamed("id", "doc_id")
      .orderBy("doc_id", "turn")
  }

  /** Multinomial NB classifier over lang labels, trained on the doc_id%10
    * seed slice (the t34 split), scoring the other 450 docs. The corpus's
    * lang signal is deliberately weak (max token lift ~1.2), so corpus
    * accuracy is a fixture property — the CLASSIFIER's quality is pinned
    * by CorpusSpec's planted-vocabulary fixture; this row pins the full
    * train+score+argmax replay. */
  def nbClassifierQ(spark: SparkSession, dir: String): DataFrame =
    Corpus.nbClassifier(Tables.documents(spark, dir), "doc_id", "text",
        "lang", seedMod = 10)
      .select(col("id").as("doc_id"), col("label").as("lang"), col("pred"),
        col("n_tokens"), col("score_fp"), col("correct"))
      .orderBy("doc_id")

  /** Trained linear (fastText-class) classifier over lang labels — the
    * t57 fixture convention: trained on the doc_id%10 seed slice,
    * scoring the other docs, hashed unigram+bigram features in 256
    * buckets. The corpus lang signal is weak on purpose (accuracy is a
    * fixture property); the CLASSIFIER's quality is pinned by
    * CorpusSpec's planted-vocabulary fixture, and this row pins the
    * full hash→pool→train→dot→argmax replay in exact integers. */
  def linearClassifierQ(spark: SparkSession, dir: String): DataFrame =
    Corpus.linearClassifier(Tables.documents(spark, dir), "doc_id", "text",
        "lang", seedMod = 10, buckets = 256)
      .select(col("id").as("doc_id"), col("label").as("lang"), col("pred"),
        col("n_grams"), col("score"), col("margin"), col("correct"))
      .orderBy("doc_id")

  /** Planted C4-structure synthesis (t18/t37 convention): lines of
    * 6+doc_id%3 words; per line (doc_id*19+j)%13 picks no-punct /
    * '!' / trailing "javascript." / 3-word-short / normal '.'; docs at
    * %31 / %37 additionally get a "lorem ipsum" / curly-brace line. Both
    * engines derive the same ctext. */
  private def c4Synth(docs: DataFrame): DataFrame = {
    val d = col("doc_id")
    val emptyArr = array().cast("array<string>")
    docs.select(d, text.tokens(col("text")).as("tk"))
      .withColumn("ll", lit(6L) + d % 3)
      .withColumn("n_w", size(col("tk")).cast("long"))
      .withColumn("nl", when(col("n_w") === 0, lit(0L))
        .otherwise(expr("(n_w + ll - 1) div ll")))
      .withColumn("plines", when(col("nl") === 0, emptyArr)
        .otherwise(transform(sequence(lit(0L), col("nl") - 1), j => {
          val m = (d * 19 + j) % 13
          val seg = array_join(slice(col("tk"),
            (j * col("ll") + 1).cast("int"), col("ll").cast("int")), " ")
          val short3 = array_join(slice(col("tk"),
            (j * col("ll") + 1).cast("int"), lit(3)), " ")
          when(m === 0, seg)
            .when(m === 1, concat(seg, lit("!")))
            .when(m === 2, concat(seg, lit(" javascript.")))
            .when(m === 3, concat(short3, lit(".")))
            .otherwise(concat(seg, lit(".")))
        })))
      .withColumn("plines", concat(col("plines"),
        when(d % 31 === 0,
          array(lit("as seen on tv lorem ipsum dolor sit amet.")))
          .otherwise(emptyArr),
        when(d % 37 === 0, array(lit("var cfg = { mode: 1 };")))
          .otherwise(emptyArr)))
      .select(d, array_join(col("plines"), "\n").as("ctext"))
  }

  /** C4 line filters over the planted corpus: all four page verdicts
    * populate at sf0.01 (kept 393 / too_few_sentences 77 / lorem 17 /
    * brace 13); the cleaned text is md5-gated for kept pages. */
  def c4LineFiltersQ(spark: SparkSession, dir: String): DataFrame =
    Corpus.c4LineFilters(c4Synth(Tables.documents(spark, dir)),
        "doc_id", "ctext")
      .select(col("id").as("doc_id"), col("n_lines"), col("n_no_punct"),
        col("n_short"), col("n_js"), col("n_kept"), col("reason"),
        col("keep"), when(col("keep"), md5(col("cleaned"))).as("cleaned_md5"))
      .orderBy("doc_id")

  /** Planted Gopher-structure synthesis (the t18/t37 planted-input
    * convention): the generator's word soup carries no lines, bullets,
    * symbols, numerals, or English stopwords, so every rule of the Gopher
    * gate would vacuously pass. Each doc is rewritten by pure integer
    * functions of (doc_id, word position) — seven per-doc profiles (p =
    * doc_id%7: untouched/symbol-heavy/numeral-heavy/long-word/standard)
    * so each rule fails somewhere — then grouped into '\n'-delimited lines
    * of 5+doc_id%4 words with '•' prefixes and '...' suffixes on
    * arithmetically chosen lines. Both engines derive the SAME ctext; the
    * measure half then runs on raw text only, exactly as it would on a
    * real crawl. */
  private def gopherSynth(docs: DataFrame): DataFrame = {
    val d = col("doc_id")
    val longWord = "pneumonoultramicroscopicsilicovolcanoconiosis"
    val w = transform(text.tokens(col("text")), (t, i) => {
      val m = (d * 31 + i) % 23
      when(d % 7 === 0, t)
        .when(d % 7 === 1,
          when(m % 9 === 0, "#").when(m === 1, "the")
            .when(m === 2, "and").otherwise(t))
        .when(d % 7 === 2,
          when(m % 4 === 0, "42").when(m === 1, "the")
            .when(m === 2, "and").otherwise(t))
        .when(d % 7 === 3,
          when(m % 3 === 0, longWord).when(m === 1, "the")
            .when(m === 2, "and").otherwise(t))
        .otherwise(
          when(m === 0, "the").when(m === 1, "and").when(m === 2, "of")
            .when(m === 3, "to").when(m === 4, "42").when(m === 5, "#")
            .otherwise(t))
    })
    docs.select(d, w.as("w"))
      .withColumn("ll", lit(5L) + d % 4)
      .withColumn("n_w", size(col("w")).cast("long"))
      .withColumn("nl", when(col("n_w") === 0, lit(0L))
        .otherwise(expr("(n_w + ll - 1) div ll")))
      .withColumn("ctext", when(col("nl") === 0, lit(""))
        .otherwise(array_join(
          transform(sequence(lit(0L), col("nl") - 1), j =>
            concat(
              when((d * 17 + j) % 11 === 0, lit("•")).otherwise(lit("")),
              array_join(slice(col("w"),
                (j * col("ll") + 1).cast("int"), col("ll").cast("int")), " "),
              when(((d * 17 + j) % 11).isin(1L, 2L), lit("..."))
                .otherwise(lit("")))),
          "\n")))
      .select(col("doc_id"), col("ctext"))
  }

  /** Full Gopher quality gate over the planted-structure corpus: all eight
    * verdict paths (7 rules + clean) populate at sf0.01. minWords=20 (the
    * paper's 50 floor would drown the later rules on 10–99-word docs). */
  def gopherQualityQ(spark: SparkSession, dir: String): DataFrame =
    Corpus.gopherQuality(gopherSynth(Tables.documents(spark, dir)),
        "doc_id", "ctext", minWords = 20L)
      .withColumnRenamed("id", "doc_id")
      .orderBy("doc_id")

  /** The PRETRAINING DATA BUILD composed end-to-end (the t28/t42 role for
    * the block pipeline): exact-dedup keep-list (min-id per prefix-60
    * fingerprint) → OOV vocabulary-coverage gate TRAINED ON THE SURVIVORS
    * (vocab must not see dropped dups — the order of these stages is a
    * real pipeline decision this row pins) → fixed-length context windows
    * over what's left. Stage cut where a stage feeds two consumers (the
    * t28 rule). Each stage is individually oracle-gated (t3/t38/t46);
    * this gates the seams: which docs reach the tokenizer, and that every
    * downstream block shifts if the gate's survivor set is wrong. */
  def pretrainE2e(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(spark, dir)
    val keep = graft.operators.Dedup.exactKeep(
      docs.withColumn("key_text", substring(col("text"), 1, 60)),
      "doc_id", "key_text")
      .select(col("keep_id").as("doc_id"))
    val kept = graft.StageCut(docs.join(keep, "doc_id"), "pretrainE2e.kept")
    val oov = Corpus.oovRate(kept, "doc_id", "text", vocabK = 16)
    val good = kept.join(
      oov.filter(col("oov_bp") <= OovMax).select(col("id").as("doc_id")),
      "doc_id")
    Corpus.contextWindows(good.withColumn("shard", expr("doc_id div 25")),
      "doc_id", "shard", "text", blockTokens = 64L)
      .orderBy("shard", "block_id")
  }

  /** GPT-style fixed-length context-window construction: 25-doc shards
    * (`doc_id div 25` — shard COUNT grows with the corpus while shard
    * SIZE stays constant, the scale-correct policy), whitespace tokens +
    * `</s>` per doc, 64-token blocks. The md5 gate pins every block's
    * exact token stream, so a one-token offset error anywhere in the
    * shard flips every downstream block. */
  def contextWindowsQ(spark: SparkSession, dir: String): DataFrame =
    Corpus.contextWindows(
      Tables.documents(spark, dir).withColumn("shard", expr("doc_id div 25")),
      "doc_id", "shard", "text", blockTokens = 64L)
      .orderBy("shard", "block_id")

  /** First-fit-decreasing packing per source shard, 1024-token budget —
    * t15's sequential-packing sibling with the utilization guarantee; the
    * oracle replays every placement via a recursive CTE carrying bin-load
    * list state. */
  def ffdPack(spark: SparkSession, dir: String): DataFrame =
    Corpus.packFfd(Tables.documents(spark, dir), "doc_id", "source",
      text.bpe_token_count(col("text")), budget = 1024L)
      .select(col("id").as("doc_id"), col("shard"), col("len"), col("bin"))
      .orderBy("doc_id")

  /** Exact-quota stratified sample: 30 docs per language, derandomized on
    * md5("r8q:"+doc_id), salted two-phase selection (design rule 18). */
  def quotaSample(spark: SparkSession, dir: String): DataFrame =
    Corpus.quotaSample(Tables.documents(spark, dir), "doc_id", "lang",
      k = 30, seed = "r8q")
      .select(col("doc_id"), col("lang"), col("rank").cast("long").as("rank"))
      .orderBy("lang", "rank")

  /** Leakage-safe train/val/test split at the dedup-group boundary: the
    * group key is the exact-dup fingerprint (md5 of normalized text), so
    * literal duplicates land in the SAME split by construction — the
    * doc-level random split would put twins on both sides of the
    * train/eval fence. 80/10/10 in basis points, derandomized on
    * `seed:group`. */
  def leakageSplit(spark: SparkSession, dir: String): DataFrame =
    Corpus.leakageSafeSplit(
      Tables.documents(spark, dir)
        .select(col("doc_id"),
          graft.functions.text.fingerprint(col("text")).as("grp")),
      "grp", Seq("train" -> 8000, "val" -> 1000, "test" -> 1000), seed = "r8")
      .select(col("doc_id"), col("grp"), col("split"))
      .orderBy("doc_id")

  /** The full curation pipeline as ONE composed dataflow — exact dedup keep
    * → Gopher repetition gate → temperature-mixed language rebalance →
    * per-source sequence packing — proving the operator family composes and
    * stays oracle-able end to end (each stage is individually gated by
    * t3/t11/t27/t15; this gates the composition seams: which rows flow
    * between stages and the packing offsets over the survivors). */
  def curationE2e(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(spark, dir)
    val keepIds = Dedup.exactKeep(docs, "doc_id", "text")
      .select(col("keep_id").as("doc_id"))
    // Stage cuts: each survivor set is referenced by at least two downstream
    // consumers (the metrics join reuses the dedup output; the mix's count
    // fold AND the pack both read the quality output), so without the cut
    // the dedup+metrics chain executes up to 4x. A real 100 TB curation run
    // writes stage outputs between passes for exactly this reason — the
    // checkpoint is the in-process analog.
    val deduped = graft.StageCut(docs.join(keepIds, "doc_id"), "curationE2e.deduped")
    val qualityIds = Corpus.repetitionMetrics(deduped, "doc_id", "text")
      .filter(col("keep")).select(col("id").as("doc_id"))
    val quality = graft.StageCut(deduped.join(qualityIds, "doc_id"),
      "curationE2e.quality")
    val mixed = Corpus.temperatureMix(quality, "doc_id", "lang", targetTotal = 150)
      .filter(col("kept"))
    Corpus.packSequences(mixed, "doc_id", "source",
      text.bpe_token_count(col("text")), budget = 1024L)
      .withColumnRenamed("id", "doc_id")
      .orderBy("doc_id")
  }

  /** Temperature-weighted language mixing toward a 250-doc budget: rare
    * languages keep a higher fraction than the en majority (α=0.5). */
  def temperatureMix(spark: SparkSession, dir: String): DataFrame =
    Corpus.temperatureMix(Tables.documents(spark, dir), "doc_id", "lang",
      targetTotal = 250)
      // the operator keeps unlabeled rows (rate 0, kept=false) so callers
      // can audit them; this REGISTRY view drops them to match the oracle's
      // inner JOIN ... USING (lang), which has no null-lang stratum — the
      // fixture has no null langs, but the gate must not depend on that
      .filter(col("lang").isNotNull)
      .groupBy("lang")
      .agg(max("rate_bp").as("rate_bp"), count(lit(1)).as("n_total"),
        sum(col("kept").cast("long")).cast("long").as("n_kept"))
      .orderBy("lang")

  /** CCNet-shape LM quality scoring: per-doc bigram cross-entropy (nats)
    * against the corpus-trained add-one bigram model. */
  def lmXent(spark: SparkSession, dir: String): DataFrame =
    Corpus.lmCrossEntropy(Tables.documents(spark, dir), "doc_id", "text")
      .select(col("id").as("doc_id"), col("n_bigrams"),
        round(col("xent"), 4).as("xent"))
      .orderBy("doc_id")

  /** Interpolated Kneser–Ney bigram LM scoring — the production n-gram
    * smoothing (what KenLM-backed CCNet perplexity filters run), t30's
    * add-one pedagogy upgraded: absolute discount D=0.75 with the
    * continuation-count backoff. Trained on this corpus, scored on every
    * doc; each probability is a pure function of five exact integer
    * counts in a stated parenthesization, so the oracle replays the model
    * verbatim (the unseen-bigram pure-continuation path is spec-gated in
    * CorpusSpec — train==score means every scored bigram is seen here). */
  /** [[graft.operators.Corpus.fimTransform]] over the corpus: per-doc FIM
    * verdict, the three segment lengths (conservation by construction),
    * and the md5 of the rewritten text — the hash gate means both engines
    * must agree on every cut point and every emitted byte. */
  def fimTransformQ(spark: SparkSession, dir: String): DataFrame =
    graft.operators.Corpus.fimTransform(
      Tables.documents(spark, dir), "doc_id", "text")
      .select(col("doc_id"), col("is_fim"), col("n_prefix"), col("n_middle"),
        col("n_suffix"), md5(col("fim_text")).as("fim_md5"))
      .orderBy("doc_id")

  /** [[graft.operators.Corpus.spanCorrupt]] over the corpus: mask/span
    * counts plus md5 gates over BOTH emitted sequences — the input with
    * sentinel-collapsed spans and the T5-format target. Tokenless docs
    * carry no denoising example and are excluded (posexplode semantics). */
  def spanCorruptQ(spark: SparkSession, dir: String): DataFrame =
    graft.operators.Corpus.spanCorrupt(
      Tables.documents(spark, dir), "doc_id", "text")
      .select(col("id").as("doc_id"), col("n_tokens"), col("n_masked"),
        col("n_spans"), md5(col("input_text")).as("input_md5"),
        md5(col("target_text")).as("target_md5"))
      .orderBy("doc_id")

  def knXent(spark: SparkSession, dir: String): DataFrame =
    Corpus.kneserNeyXent(Tables.documents(spark, dir), "doc_id", "text")
      .select(col("id").as("doc_id"), col("n_bigrams"),
        round(col("xent"), 4).as("xent"))
      .orderBy("doc_id")

  /** DSIR importance resampling: every raw doc weighted by its hashed
    * {uni,bi}gram LM ratio against the target slice (doc_id % 23 = 0 — the
    * t19 eval-slice convention), then Gumbel top-100 selection with the
    * md5-derandomized keys. */
  def dsirSample(spark: SparkSession, dir: String): DataFrame =
    Corpus.dsirResample(Tables.documents(spark, dir), "doc_id", "text",
        col("doc_id") % 23 === 0, buckets = 4096, k = 100, seed = "r7")
      .select(col("id").as("doc_id"), col("n_grams"),
        round(col("logw"), 4).as("logw"), round(col("skey"), 4).as("skey"),
        col("selected"), col("rank").cast("long").as("rank"))
      .orderBy("doc_id")

  /** Cavnar–Trenkle trained language ID: every 10th doc is the labeled
    * seed slice, the rest are classified by rank-order trigram profile
    * distance. This corpus draws all languages from ONE vocabulary, so the
    * PREDICTIONS are noise by construction — the oracle gates the trained
    * pipeline's arithmetic (counts, rank tiebreaks, out-of-place distance,
    * argmin), not model quality; LangIdSpec proves quality on a planted
    * multilingual fixture. */
  def langIdTrained(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(spark, dir)
    Corpus.langIdTrained(docs, "doc_id", "text", "lang",
      col("doc_id") % 10 === 0)
      .join(docs.select(col("doc_id").cast("long").as("id"), col("lang")), "id")
      .select(col("id").as("doc_id"), col("lang"),
        col("pred").as("pred_lang"), col("dist"),
        (col("lang") === col("pred")).as("correct"))
      .orderBy("doc_id")
  }

  /** CCNet head/middle/tail perplexity buckets: per-language tercile cut
    * values from the doc_id % 10 sample slice (rank-selection, no
    * interpolation), every doc assigned by comparing its t30 cross-entropy
    * to its language's cuts. */
  def ccnetBuckets(spark: SparkSession, dir: String): DataFrame =
    Corpus.ccnetBuckets(Tables.documents(spark, dir), "doc_id", "text",
        "lang", col("doc_id") % 10 === 0)
      .select(col("id").as("doc_id"), col("lang"), col("n_bigrams"),
        round(col("xent"), 4).as("xent"), col("bucket"))
      .orderBy("doc_id")

  /** CMS-prefiltered exact heavy tokens (the unbounded-vocabulary path):
    * the sketch prefilter never drops a true heavy token and the exact
    * verify removes overestimates, so the oracle is plain exact SQL. */
  def cmsHeavy(spark: SparkSession, dir: String): DataFrame =
    Corpus.cmsHeavyTokens(Tables.documents(spark, dir), "text", threshold = 300L)
      .orderBy("token")

  /** Bloom-prefiltered decontamination (the no-broadcast-assumption scale
    * path): result must be IDENTICAL to an exact semi-join — Bloom admits
    * no false negatives and the confirm join removes false positives — so
    * the oracle is plain exact SQL. Eval split doc_id % 37 == 0, 5-grams
    * (distinct from t12's broadcast 4-gram variant). */
  def bloomDecontaminate(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(spark, dir)
    Corpus.bloomDecontaminate(
      docs.filter(col("doc_id") % 37 =!= 0),
      docs.filter(col("doc_id") % 37 === 0),
      "doc_id", "text", n = 5, expectedEvalNgrams = 1L << 20)
      .withColumnRenamed("id", "doc_id")
      .orderBy("doc_id")
  }

  /** Per-language corpus profile: counts + exact token-count percentiles. */
  def profile(spark: SparkSession, dir: String): DataFrame =
    Corpus.profile(Tables.documents(spark, dir), "lang", "text")
      .withColumnRenamed("stratum", "lang")
      .orderBy("lang")

  /** Per-language distinct-cardinality profile (vocabulary size), exact
    * arm — the HLL twin is spec-pinned in CorpusProfileSpec. */
  def distinctProfileQ(spark: SparkSession, dir: String): DataFrame =
    Corpus.distinctProfile(Tables.documents(spark, dir), "lang", "text")
      .withColumnRenamed("stratum", "lang")
      .orderBy("lang")

  /** Deterministic global shuffle into 8 training shards. */
  def shuffleShards(spark: SparkSession, dir: String): DataFrame =
    Corpus.shuffleShards(Tables.documents(spark, dir), "doc_id",
      numShards = 8, seed = "r4")
      .select(col("doc_id"), col("shuffle_key"), col("shard"),
        col("seq").cast("long").as("seq"))
      .orderBy("doc_id")

  /** URL normalization + per-domain caps over synthetic messy URLs derived
    * from (source, doc_id, lang) — mixed-case scheme/host, default ports,
    * www. prefix, utm_ tracking params, fragments; the construction is
    * shared verbatim with the oracle (the t13 pattern), so what is tested
    * is the normalization + capping semantics. */
  def urlCaps(spark: SparkSession, dir: String): DataFrame = {
    val url = concat(
      when(col("doc_id") % 2 === 0, lit("HTTPS://WWW.")).otherwise(lit("http://")),
      col("source"), lit("-"), (col("doc_id") % 7).cast("string"),
      when(col("doc_id") % 2 === 0, lit(".COM:443")).otherwise(lit(".com:80")),
      lit("/"), col("lang"), lit("/page"), col("doc_id").cast("string"),
      lit("?utm_source=feed&id="), (col("doc_id") % 13).cast("string"), lit("#sec"))
    Corpus.domainCap(
      Corpus.urlNormalize(
        Tables.documents(spark, dir).select(col("doc_id"), url.as("url")), "url"),
      "doc_id", cap = 5)
      .select(col("doc_id"), col("norm_url"), col("domain"),
        col("rank").cast("long").as("rank"), col("kept"))
      .orderBy("doc_id")
  }

  /** Word 4-grams shared by >= 3 documents: the boilerplate span detector. */
  def boilerplate(spark: SparkSession, dir: String): DataFrame =
    Corpus.boilerplateNgrams(Tables.documents(spark, dir), "doc_id", "text",
      n = 4, minDocs = 3)
      .orderBy("ngram")

  /** Gopher-style per-doc repetition metrics + integer-exact keep gate. */
  def repetition(spark: SparkSession, dir: String): DataFrame =
    Corpus.repetitionMetrics(Tables.documents(spark, dir), "doc_id", "text")
      .withColumnRenamed("id", "doc_id")
      .orderBy("doc_id")

  /** Train/eval 4-gram contamination: eval split = doc_id % 50 == 0. */
  def decontaminate(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(spark, dir)
    Corpus.decontaminate(
      docs.filter(col("doc_id") % 50 =!= 0),
      docs.filter(col("doc_id") % 50 === 0),
      "doc_id", "text", n = 4)
      .withColumnRenamed("id", "doc_id")
      .orderBy("doc_id")
  }

  /** The size-adaptive front door ([[Corpus.decontaminateAuto]]) on its own
    * eval split (doc_id % 41): the sf eval side measures far below the 1M
    * n-gram threshold, so this registers the exact-arm dispatch; the Bloom
    * arm and the boundary itself are pinned by CorpusDispatchSpec. The
    * oracle is the plain exact SQL — both arms compute it identically. */
  def decontaminateAuto(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(spark, dir)
    Corpus.decontaminateAuto(
      docs.filter(col("doc_id") % 41 =!= 0),
      docs.filter(col("doc_id") % 41 === 0),
      "doc_id", "text", n = 4)
      .withColumnRenamed("id", "doc_id")
      .orderBy("doc_id")
  }

  /** PII redaction audit over synthetic contact lines derived from events
    * (the raw tables carry no natural PII; the construction is shared
    * verbatim with the oracle, so the scrub semantics are what is tested). */
  def piiScrub(spark: SparkSession, dir: String): DataFrame = {
    val e = Tables.events(spark, dir).filter(col("event_id") % 5 === 0)
    val contact = concat(
      when(col("event_type").isin("signup", "purchase"),
        concat(lit("user"), col("user_id").cast("string"), lit("@ex.com ")))
        .otherwise(lit("")),
      lit("ip 10."), (col("user_id") % 256).cast("string"),
      lit("."), (col("event_id") % 256).cast("string"),
      lit("."), (col("user_id") % 100).cast("string"),
      // phone format rotates through all four recognizer arms
      lit(" tel "),
      element_at(
        array(lit("555-"), lit("(212) 555-"), lit("+1 212-555-"), lit("212.555.")),
        ((col("event_id") % 20) / 5).cast("int") + 1),
      lpad((col("event_id") % 10000).cast("string"), 4, "0"),
      lit(" "), col("event_type"))
    Corpus.piiScrub(e.select(col("event_id"), contact.as("contact")), "contact")
      .select(col("event_id"), col("n_emails"), col("n_ips"), col("n_phones"),
        md5(col("scrubbed")).as("scrub_md5"))
      .orderBy("event_id")
  }

  /** Deterministic md5-bucket sampling, downweighting the majority language
    * (en 30%, de/es/fr 60%, rest kept); per-stratum audit counts. */
  def sampleStratified(spark: SparkSession, dir: String): DataFrame =
    Corpus.hashSample(Tables.documents(spark, dir), "doc_id", "lang",
      Map("en" -> 30, "de" -> 60, "es" -> 60, "fr" -> 60), defaultRate = 100)
      .groupBy("lang", "source")
      .agg(count(lit(1)).as("n_total"),
        sum(col("kept").cast("long")).cast("long").as("n_kept"))
      .orderBy("lang", "source")

  /** Shard-wise (per-source) sequence packing into 1024-token bins over the
    * BPE-ish token counts. */
  def seqPack(spark: SparkSession, dir: String): DataFrame =
    Corpus.packSequences(Tables.documents(spark, dir), "doc_id", "source",
      text.bpe_token_count(col("text")), budget = 1024L)
      .withColumnRenamed("id", "doc_id")
      .withColumnRenamed("shard", "shard")
      .orderBy("doc_id")

  /** Top-10 tokens per language (count desc, token asc tiebreak). */
  def heavyHitters(spark: SparkSession, dir: String): DataFrame =
    Corpus.heavyHitters(Tables.documents(spark, dir), "lang", "text", k = 10)
      .withColumnRenamed("stratum", "lang")
      .select(col("lang"), col("token"), col("cnt"), col("rank").cast("long").as("rank"))
      .orderBy("lang", "rank")

  /** Planted encoding damage, synthesized per the t18 convention (name the
    * rule, apply it identically in both engines): every 5th doc gets this
    * CP1252-mojibake prefix — [[graft.operators.TextRepair.corrupt]] of a
    * fragment whose every char is in the repair table, so the spec's
    * round-trip law (repair ∘ corrupt = id) covers exactly this plant. */
  private val MojiClean = "It’s élite — «naïve» café… "
  private val MojiBad = graft.operators.TextRepair.corrupt(MojiClean)

  def mojibake(spark: SparkSession, dir: String): DataFrame =
    graft.operators.TextRepair.fixMojibake(
      Tables.documents(spark, dir).withColumn("ctext",
        when(pmod(col("doc_id"), lit(5)) === 0, concat(lit(MojiBad), col("text")))
          .otherwise(col("text"))),
      "ctext")
      .select(col("doc_id"), col("n_fixed"), (col("n_fixed") > 0).as("is_fixed"),
        md5(col("repaired")).as("repaired_md5"))
      .orderBy("doc_id")

  def oovRateQ(spark: SparkSession, dir: String): DataFrame =
    Corpus.oovRate(Tables.documents(spark, dir), "doc_id", "text", vocabK = 16)
      .withColumnRenamed("id", "doc_id")
      .orderBy("doc_id")

  private val OovMax = 5000L

  /** The round-8 gates composed as ONE dataflow (t28's role for the new
    * operators): planted CP1252 corruption → mojibake repair → OOV
    * vocabulary-coverage gate on the REPAIRED text → winnow passage-dup
    * keep-list over the gate's survivors → per-doc verdict with reason.
    * Stage cuts where a stage output feeds two consumers (same rule as
    * t28). Each stage is individually oracle-gated (t37/t38/t39/t40); this
    * gates the seams — which rows flow between stages and the verdict
    * precedence (oov before passage_dup; kept docs report repaired/clean). */
  def curationV2(spark: SparkSession, dir: String): DataFrame = {
    // (r18 probe: Tables.scaled in front of the repair measured FLAT-to-
    // worse in an interleaved A/B — the 633 ms serial repair cut is only
    // ~20% of the row and the round-robin sort+shuffle eats the gain)
    val docs = Tables.documents(spark, dir).withColumn("ctext",
      when(pmod(col("doc_id"), lit(5)) === 0, concat(lit(MojiBad), col("text")))
        .otherwise(col("text")))
    val rep = graft.StageCut(graft.operators.TextRepair.fixMojibake(docs, "ctext")
      .select(col("doc_id"), col("repaired"), col("n_fixed")), "curationV2.rep")
    val oov = graft.StageCut(Corpus.oovRate(rep, "doc_id", "repaired", vocabK = 16)
      .select(col("id").as("doc_id"), col("oov_bp")), "curationV2.oov")
    val surv = rep.join(
      oov.where(col("oov_bp") <= OovMax).select("doc_id"), "doc_id")
    val dup = graft.operators.Winnow.matchPairs(surv, "doc_id", "repaired",
        minShared = 2, maxDocFreq = 20)
      .select(col("doc_b").as("doc_id")).distinct()
      .withColumn("__dup", lit(true))
    rep.join(oov, "doc_id").join(dup, Seq("doc_id"), "left")
      .select(col("doc_id"), col("n_fixed"), col("oov_bp"),
        when(col("oov_bp") > OovMax, "drop")
          .when(col("__dup"), "drop").otherwise("keep").as("verdict"),
        when(col("oov_bp") > OovMax, "oov")
          .when(col("__dup"), "passage_dup")
          .when(col("n_fixed") > 0, "repaired").otherwise("clean").as("reason"))
      .orderBy("doc_id")
  }

  // ----------------------------------------------------------------- oracles

  private val norm =
    "SELECT doc_id, lang, source, trim(regexp_replace(lower(text), '\\s+', ' ', 'g')) AS norm FROM documents"

  private val toks =
    s"WITH n AS ($norm), tk AS (SELECT doc_id, lang, source, list_filter(string_split(norm, ' '), t -> len(t) > 0) AS tk FROM n)"

  /** Distinct word n-grams of the token list (mirror of text.word_shingles). */
  private def shingleSql(n: Int): String =
    s"list_distinct(list_transform(range(len(tk) - ${n - 1}), i -> array_to_string(list_slice(tk, i + 1, i + $n), ' ')))"

  def oracles: Map[String, String] = Map(
    // full replay of Cavnar-Trenkle train + score: per-label top-100
    // trigram rank profiles from the seed slice (count desc, gram asc
    // tiebreak), per-doc top-50 profiles, out-of-place distance with the
    // profileK=100 absent-gram penalty, argmin with label-asc tiebreak
    "t34_langid_trained" ->
      s"""WITH n AS ($norm),
         |g AS (SELECT doc_id, lang,
         |        unnest(list_transform(range(1, len(norm) - 1), i -> substr(norm, i, 3))) AS gram
         |      FROM n WHERE len(norm) >= 3),
         |sp AS (SELECT lang, gram, count(*) AS c FROM g WHERE doc_id % 10 = 0
         |       GROUP BY lang, gram),
         |prof AS (SELECT lang, gram, lrank FROM (
         |           SELECT lang, gram,
         |             row_number() OVER (PARTITION BY lang ORDER BY c DESC, gram) AS lrank
         |           FROM sp) WHERE lrank <= 100),
         |labels AS (SELECT DISTINCT lang AS pred FROM prof),
         |dg AS (SELECT doc_id, gram, count(*) AS c FROM g WHERE doc_id % 10 <> 0
         |       GROUP BY doc_id, gram),
         |dp AS (SELECT doc_id, gram, drank FROM (
         |         SELECT doc_id, gram,
         |           row_number() OVER (PARTITION BY doc_id ORDER BY c DESC, gram) AS drank
         |         FROM dg) WHERE drank <= 50),
         |sc AS (SELECT dp.doc_id, labels.pred,
         |         sum(CASE WHEN prof.lrank IS NULL THEN 100
         |                  ELSE abs(dp.drank - prof.lrank) END)::BIGINT AS dist
         |       FROM dp CROSS JOIN labels
         |       LEFT JOIN prof ON prof.lang = labels.pred AND prof.gram = dp.gram
         |       GROUP BY dp.doc_id, labels.pred),
         |best AS (SELECT doc_id, pred, dist,
         |           row_number() OVER (PARTITION BY doc_id ORDER BY dist, pred) AS rn
         |         FROM sc)
         |SELECT b.doc_id, d.lang, b.pred AS pred_lang, b.dist,
         |  (d.lang = b.pred) AS correct
         |FROM best b JOIN documents d USING (doc_id)
         |WHERE rn = 1 ORDER BY doc_id""".stripMargin,
    "t10_boilerplate" ->
      s"""$toks,
         |sh AS (SELECT doc_id, ${shingleSql(4)} AS sh FROM tk),
         |e AS (SELECT unnest(sh) AS ngram FROM sh)
         |SELECT ngram, count(*)::BIGINT AS n_docs FROM e
         |GROUP BY ngram HAVING count(*) >= 3 ORDER BY ngram""".stripMargin,
    "t11_repetition" ->
      s"""$toks,
         |m AS (SELECT doc_id,
         |  len(tk)::BIGINT AS n, len(list_distinct(tk))::BIGINT AS nd,
         |  greatest(len(tk) - 4, 0)::BIGINT AS n5,
         |  len(${shingleSql(5)})::BIGINT AS nd5,
         |  coalesce(list_max(list_transform(list_distinct(tk),
         |    t -> len(list_filter(tk, x -> x = t)))), 0)::BIGINT AS tt,
         |  coalesce(list_sum(list_transform(tk, t -> len(t))), 0)::BIGINT AS sc
         |  FROM tk)
         |SELECT doc_id, n AS n_tokens, nd AS n_distinct, n5 AS n_ngrams,
         |  nd5 AS n_distinct_ngrams, tt AS top_token_count, sc AS sum_token_chars,
         |  (tt * 20 <= n * 3 AND nd * 2 >= n) AS keep
         |FROM m ORDER BY doc_id""".stripMargin,
    "t12_decontaminate" ->
      s"""$toks,
         |sh AS (SELECT doc_id, ${shingleSql(4)} AS sh FROM tk),
         |e AS (SELECT doc_id, unnest(sh) AS g FROM sh),
         |ev AS (SELECT DISTINCT g FROM e WHERE doc_id % 50 = 0)
         |SELECT e.doc_id AS doc_id, count(*)::BIGINT AS n_shared
         |FROM e JOIN ev USING (g) WHERE e.doc_id % 50 <> 0
         |GROUP BY 1 ORDER BY 1""".stripMargin,
    "t31_decontaminate_auto" ->
      s"""$toks,
         |sh AS (SELECT doc_id, ${shingleSql(4)} AS sh FROM tk),
         |e AS (SELECT doc_id, unnest(sh) AS g FROM sh),
         |ev AS (SELECT DISTINCT g FROM e WHERE doc_id % 41 = 0)
         |SELECT e.doc_id AS doc_id, count(*)::BIGINT AS n_shared
         |FROM e JOIN ev USING (g) WHERE e.doc_id % 41 <> 0
         |GROUP BY 1 ORDER BY 1""".stripMargin,
    "t13_pii_scrub" ->
      s"""WITH c AS (SELECT event_id,
         |  (CASE WHEN event_type IN ('signup', 'purchase')
         |        THEN 'user' || user_id || '@ex.com ' ELSE '' END)
         |  || 'ip 10.' || (user_id % 256) || '.' || (event_id % 256) || '.' || (user_id % 100)
         |  || ' tel ' || ['555-', '(212) 555-', '+1 212-555-', '212.555.'][((event_id % 20) // 5 + 1)::INT]
         |  || lpad((event_id % 10000)::VARCHAR, 4, '0')
         |  || ' ' || event_type AS contact
         |  FROM events WHERE event_id % 5 = 0)
         |SELECT event_id,
         |  len(regexp_extract_all(contact, '${Corpus.emailRe}'))::BIGINT AS n_emails,
         |  len(regexp_extract_all(contact, '${Corpus.ipv4Re}'))::BIGINT AS n_ips,
         |  len(regexp_extract_all(contact, '${Corpus.phoneRe}'))::BIGINT AS n_phones,
         |  md5(regexp_replace(regexp_replace(regexp_replace(contact,
         |    '${Corpus.emailRe}', '<EMAIL>', 'g'),
         |    '${Corpus.ipv4Re}', '<IP>', 'g'),
         |    '${Corpus.phoneRe}', '<PHONE>', 'g')) AS scrub_md5
         |FROM c ORDER BY event_id""".stripMargin,
    "t14_sample_stratified" ->
      """WITH b AS (SELECT lang, source,
        |    ('0x' || substr(md5(doc_id::VARCHAR), 1, 6))::BIGINT % 100 AS bucket
        |  FROM documents),
        |k AS (SELECT lang, source, bucket,
        |    CASE WHEN lang = 'en' THEN 30
        |         WHEN lang IN ('de', 'es', 'fr') THEN 60 ELSE 100 END AS rate
        |  FROM b)
        |SELECT lang, source, count(*)::BIGINT AS n_total,
        |  sum(CASE WHEN bucket < rate THEN 1 ELSE 0 END)::BIGINT AS n_kept
        |FROM k GROUP BY lang, source ORDER BY lang, source""".stripMargin,
    "t15_seq_pack" ->
      s"""WITH b AS (SELECT doc_id, source,
         |    len(regexp_extract_all(text, '${text.bpeTokenPattern}'))::BIGINT AS n_tok
         |  FROM documents),
         |c AS (SELECT doc_id, source, n_tok,
         |    (sum(n_tok) OVER (PARTITION BY source ORDER BY doc_id
         |       ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW))::BIGINT AS cum
         |  FROM b)
         |SELECT doc_id, source AS shard, n_tok,
         |  (cum - n_tok) AS tok_start,
         |  ((cum - n_tok) // 1024)::BIGINT AS bin_first,
         |  CASE WHEN n_tok > 0 THEN ((cum - 1) // 1024)::BIGINT
         |       ELSE ((cum - n_tok) // 1024)::BIGINT END AS bin_last
         |FROM c ORDER BY doc_id""".stripMargin,
    // t46 replay: same normalize→tokens→append-EOS, per-shard window
    // cumsum offsets (doc-id order), 1-based unnest index → 0-based global
    // position, block = pos // 64, md5 over the pos-ordered token join
    "t46_context_windows" ->
      """WITH n AS (SELECT doc_id,
        |    trim(regexp_replace(lower(text), '\s+', ' ', 'g')) AS norm
        |  FROM documents),
        |tk AS (SELECT doc_id, list_append(
        |    list_filter(string_split(norm, ' '), t -> len(t) > 0), '</s>') AS tk
        |  FROM n),
        |d AS (SELECT doc_id, doc_id // 25 AS shard, tk, len(tk)::BIGINT AS n FROM tk),
        |o AS (SELECT doc_id, shard, tk,
        |        (sum(n) OVER (PARTITION BY shard ORDER BY doc_id
        |           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW))::BIGINT - n
        |          AS tok_start
        |      FROM d),
        |s AS (SELECT shard, doc_id, u.t AS token, tok_start + u.i - 1 AS pos
        |      FROM o, unnest(list_transform(tk,
        |        (x, i) -> struct_pack(t := x, i := i))) w(u))
        |SELECT shard, pos // 64 AS block_id, count(*)::BIGINT AS n_tokens,
        |  min(doc_id) AS first_doc, max(doc_id) AS last_doc,
        |  md5(string_agg(token, ' ' ORDER BY pos)) AS tok_md5
        |FROM s GROUP BY shard, block_id ORDER BY shard, block_id""".stripMargin,
    // t47 replay: min-id keep per prefix-60 fingerprint → survivor-trained
    // vocab + OOV cut → the t46 block fragment over the gated set
    "t47_pretrain_e2e" ->
      """WITH fp AS (SELECT doc_id,
        |    md5(trim(regexp_replace(lower(text[1:60]), '\s+', ' ', 'g'))) AS f
        |  FROM documents),
        |keep AS (SELECT min(doc_id) AS doc_id FROM fp GROUP BY f),
        |kd AS (SELECT d.doc_id, d.text FROM documents d JOIN keep USING (doc_id)),
        |tk AS (SELECT doc_id, list_filter(string_split(
        |    trim(regexp_replace(lower(text), '\s+', ' ', 'g')), ' '),
        |    t -> len(t) > 0) AS tk FROM kd),
        |e AS (SELECT doc_id, unnest(tk) AS token FROM tk),
        |vc AS (SELECT token FROM (SELECT token, count(*) AS cnt FROM e
        |    GROUP BY token ORDER BY cnt DESC, token ASC LIMIT 16)),
        |pd AS (SELECT e.doc_id, count(*)::BIGINT AS n_tokens,
        |    sum(CASE WHEN v.token IS NULL THEN 1 ELSE 0 END)::BIGINT AS n_oov
        |  FROM e LEFT JOIN vc v ON e.token = v.token GROUP BY e.doc_id),
        |good AS (SELECT tk.doc_id, tk.tk FROM tk LEFT JOIN pd USING (doc_id)
        |  WHERE CASE WHEN coalesce(pd.n_tokens, 0) > 0
        |             THEN (10000 * pd.n_oov) // pd.n_tokens ELSE 0 END <= 5000),
        |g AS (SELECT doc_id, doc_id // 25 AS shard,
        |        list_append(tk, '</s>') AS tk2, (len(tk) + 1)::BIGINT AS nn
        |      FROM good),
        |o AS (SELECT doc_id, shard, tk2,
        |        (sum(nn) OVER (PARTITION BY shard ORDER BY doc_id
        |           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW))::BIGINT - nn
        |          AS tok_start
        |      FROM g),
        |s AS (SELECT shard, doc_id, u.t AS token, tok_start + u.i - 1 AS pos
        |      FROM o, unnest(list_transform(tk2,
        |        (x, i) -> struct_pack(t := x, i := i))) w(u))
        |SELECT shard, pos // 64 AS block_id, count(*)::BIGINT AS n_tokens,
        |  min(doc_id) AS first_doc, max(doc_id) AS last_doc,
        |  md5(string_agg(token, ' ' ORDER BY pos)) AS tok_md5
        |FROM s GROUP BY shard, block_id ORDER BY shard, block_id""".stripMargin,
    "t18_url_caps" ->
      """WITH u AS (SELECT doc_id,
        |    (CASE WHEN doc_id % 2 = 0
        |          THEN 'HTTPS://WWW.' || source || '-' || (doc_id % 7) || '.COM:443'
        |          ELSE 'http://' || source || '-' || (doc_id % 7) || '.com:80' END)
        |    || '/' || lang || '/page' || doc_id
        |    || '?utm_source=feed&id=' || (doc_id % 13) || '#sec' AS url
        |  FROM documents),
        |p0 AS (SELECT doc_id,
        |    lower(regexp_extract(url, '^([A-Za-z][A-Za-z0-9+.-]*)://', 1)) AS scheme,
        |    lower(regexp_extract(url, '^[A-Za-z][A-Za-z0-9+.-]*://([^/?#]*)', 1)) AS hostraw,
        |    regexp_replace(url, '^[A-Za-z][A-Za-z0-9+.-]*://[^/?#]*', '') AS rest
        |  FROM u),
        |p AS (SELECT doc_id, scheme,
        |    regexp_replace(
        |      CASE WHEN scheme = 'http'  THEN regexp_replace(hostraw, ':80$', '')
        |           WHEN scheme = 'https' THEN regexp_replace(hostraw, ':443$', '')
        |           ELSE hostraw END, '^www\.', '') AS host,
        |    rest
        |  FROM p0),
        |q AS (SELECT doc_id, scheme, host,
        |    regexp_extract(rest, '^([^?#]*)', 1) AS path,
        |    regexp_replace(regexp_replace(
        |      regexp_extract(rest, '\?([^#]*)', 1), '(^|&)utm_[^&]*', '', 'g'),
        |      '^&', '') AS cq
        |  FROM p),
        |r AS (SELECT doc_id,
        |    scheme || '://' || host || path
        |      || CASE WHEN cq <> '' THEN '?' || cq ELSE '' END AS norm_url,
        |    regexp_extract(host, '([^.]+\.[^.]+)$', 1) AS domain
        |  FROM q),
        |k AS (SELECT doc_id, norm_url, domain,
        |    (row_number() OVER (PARTITION BY domain ORDER BY doc_id))::BIGINT AS rank
        |  FROM r)
        |SELECT doc_id, norm_url, domain, rank, rank <= 5 AS kept
        |FROM k ORDER BY doc_id""".stripMargin,
    "t19_bloom_decontaminate" ->
      s"""$toks,
         |sh AS (SELECT doc_id, ${shingleSql(5)} AS sh FROM tk),
         |e AS (SELECT doc_id, unnest(sh) AS g FROM sh),
         |ev AS (SELECT DISTINCT g FROM e WHERE doc_id % 37 = 0)
         |SELECT e.doc_id AS doc_id, count(*)::BIGINT AS n_shared
         |FROM e JOIN ev USING (g) WHERE e.doc_id % 37 <> 0
         |GROUP BY 1 ORDER BY 1""".stripMargin,
    // replay of the add-one bigram LM: integer counts -> exact-division
    // probabilities, ln within-ulp across engines, per-doc sum folded in
    // POSITION order (list ORDER BY pos = the Spark sorted-struct fold),
    // 4-dp rounding absorbs the ulp
    // Secret Sharer replay: planted-canary train counts (t30 add-one
    // tables over the appended corpus), candidate bigrams scored with
    // coalesce(c,0) left joins (unseen = add-one floor), position-
    // ordered ln fold, rank on the raw xent (planted xents differ at
    // O(1/V) -- far beyond ln ulp; identical decoys tie on cand_id)
    "t66_canary_exposure" ->
      """WITH tr AS (SELECT doc_id,
         |    CASE WHEN doc_id % 64 < 7 AND (doc_id // 64) < (doc_id % 64) + 1
         |         THEN text || ' cnr' || (doc_id % 64) || 'a cnr' || (doc_id % 64) ||
         |              'b cnr' || (doc_id % 64) || 'c cnr' || (doc_id % 64) || 'd'
         |         ELSE text END AS text
         |  FROM documents),
         |nm AS (SELECT doc_id, trim(regexp_replace(lower(text), '\s+', ' ', 'g')) AS norm FROM tr),
         |tk AS (SELECT doc_id, list_filter(string_split(norm, ' '), t -> len(t) > 0) AS tk FROM nm),
         |u AS (SELECT unnest(tk) AS w FROM tk),
         |uc AS (SELECT w, count(*) AS c1 FROM u GROUP BY w),
         |vs AS (SELECT count(*) AS v FROM uc),
         |bg AS (SELECT doc_id, unnest(range(greatest(len(tk) - 1, 0))) AS pos, tk FROM tk),
         |b2 AS (SELECT doc_id, pos, tk[pos + 1] AS w1, tk[pos + 2] AS w2 FROM bg),
         |bc AS (SELECT w1, w2, count(*) AS c12 FROM b2 GROUP BY w1, w2),
         |cands AS (SELECT k AS cand_id,
         |    ['cnr' || k || 'a', 'cnr' || k || 'b', 'cnr' || k || 'c', 'cnr' || k || 'd'] AS ctk
         |  FROM range(64) t(k)),
         |cb AS (SELECT cand_id, unnest(range(3)) AS pos, ctk FROM cands),
         |c2 AS (SELECT cand_id, pos, ctk[pos + 1] AS w1, ctk[pos + 2] AS w2 FROM cb),
         |sc AS (SELECT c2.cand_id, c2.pos,
         |    ln((coalesce(bc.c12, 0) + 1.0) / (coalesce(uc.c1, 0) + vs.v)) AS lnp
         |  FROM c2 LEFT JOIN bc USING (w1, w2) LEFT JOIN uc ON uc.w = c2.w1, vs),
         |agg AS (SELECT cand_id, count(*) AS n_bigrams,
         |    list_sum(list(lnp ORDER BY pos)) AS s FROM sc GROUP BY cand_id),
         |rk AS (SELECT cand_id, n_bigrams, -s / n_bigrams AS xr FROM agg)
         |SELECT cand_id::BIGINT AS cand_id,
         |  (CASE WHEN cand_id < 7 THEN cand_id + 1 ELSE 0 END)::BIGINT AS n_inserted,
         |  n_bigrams::BIGINT AS n_bigrams, round(xr, 4) AS xent,
         |  (row_number() OVER (ORDER BY xr, cand_id))::BIGINT AS rank
         |FROM rk ORDER BY cand_id""".stripMargin,
    "t30_lm_xent" ->
      s"""$toks,
         |u AS (SELECT unnest(tk) AS w FROM tk),
         |uc AS (SELECT w, count(*) AS c1 FROM u GROUP BY w),
         |vs AS (SELECT count(*) AS v FROM uc),
         |bg AS (SELECT doc_id, unnest(range(greatest(len(tk) - 1, 0))) AS pos, tk FROM tk),
         |b2 AS (SELECT doc_id, pos, tk[pos + 1] AS w1, tk[pos + 2] AS w2 FROM bg),
         |bc AS (SELECT w1, w2, count(*) AS c12 FROM b2 GROUP BY w1, w2),
         |sc AS (SELECT b2.doc_id, b2.pos, ln((bc.c12 + 1.0) / (uc.c1 + vs.v)) AS lnp
         |       FROM b2 JOIN bc USING (w1, w2) JOIN uc ON uc.w = b2.w1, vs),
         |agg AS (SELECT doc_id, count(*) AS n_bigrams,
         |          list_sum(list(lnp ORDER BY pos)) AS s
         |        FROM sc GROUP BY doc_id)
         |SELECT tk.doc_id, coalesce(agg.n_bigrams, 0)::BIGINT AS n_bigrams,
         |  round(-agg.s / agg.n_bigrams, 4) AS xent
         |FROM tk LEFT JOIN agg USING (doc_id) ORDER BY tk.doc_id""".stripMargin,
    // Kneser–Ney replay: the same exact-integer count tables as t30 plus
    // the continuation counts; the probability's parenthesization matches
    // the engine token for token (greatest(c12-D,0)/c1 + ((D*n1fw)/c1) *
    // (n1bw/bt)), ln within-ulp, per-doc fold in position order, 4 dp
    // per-(doc, position) md5 mask replayed with list lambdas; span ids via
    // prefix-counted run starts; both emitted sequences md5-gated
    "t54_span_corrupt" ->
      s"""$toks,
         |m AS (SELECT doc_id, tk, list_transform(range(len(tk)), p ->
         |    ('0x' || substr(md5('sc:' || doc_id || ':' || p), 1, 8))::BIGINT % 10000 < 1500) AS mask
         |  FROM tk WHERE len(tk) > 0),
         |sp AS (SELECT doc_id, tk, mask,
         |    list_transform(range(len(tk)), p -> mask[p+1] AND (p = 0 OR NOT mask[p])) AS starts
         |  FROM m),
         |sid AS (SELECT doc_id, tk, mask, starts,
         |    list_transform(range(len(tk)), p ->
         |      len(list_filter(range(p+1), i -> starts[i+1])) - 1) AS sid,
         |    len(list_filter(starts, x -> x)) AS nsp
         |  FROM sp)
         |SELECT doc_id,
         |  len(tk)::BIGINT AS n_tokens,
         |  len(list_filter(mask, x -> x))::BIGINT AS n_masked,
         |  nsp::BIGINT AS n_spans,
         |  md5(array_to_string(list_transform(
         |    list_filter(range(len(tk)), p -> NOT mask[p+1] OR starts[p+1]),
         |    p -> CASE WHEN mask[p+1] THEN '<extra_id_' || sid[p+1] || '>' ELSE tk[p+1] END), ' ')) AS input_md5,
         |  -- coalesce: DuckDB flatten([]) yields NULL, not [] -- a
         |  -- zero-span doc's target must still be the lone terminator
         |  md5(coalesce(array_to_string(flatten(list_transform(
         |      list_filter(range(len(tk)), p -> mask[p+1]),
         |      p -> CASE WHEN starts[p+1] THEN ['<extra_id_' || sid[p+1] || '>', tk[p+1]]
         |           ELSE [tk[p+1]] END)), ' '), '')
         |    || CASE WHEN nsp > 0 THEN ' <extra_id_' || nsp || '>' ELSE '<extra_id_0>' END) AS target_md5
         |FROM sid ORDER BY doc_id""".stripMargin,
    // md5-derandomized coin + cut points replayed verbatim; the fim_md5
    // hash gate pins every emitted byte of the PSM rewrite
    "t53_fim_transform" ->
      """WITH h AS (SELECT doc_id, text, len(text) AS l,
        |    ('0x' || substr(md5('fim:' || doc_id), 1, 8))::BIGINT % 10000 < 9000 AS is_fim,
        |    1 + ('0x' || substr(md5('fimc1:' || doc_id), 1, 8))::BIGINT % (len(text) + 1) AS c1,
        |    1 + ('0x' || substr(md5('fimc2:' || doc_id), 1, 8))::BIGINT % (len(text) + 1) AS c2
        |  FROM documents),
        |c AS (SELECT doc_id, text, l, is_fim,
        |        least(c1, c2) AS lo, greatest(c1, c2) AS hi FROM h)
        |SELECT doc_id, is_fim,
        |  (CASE WHEN is_fim THEN lo - 1 ELSE l END)::BIGINT AS n_prefix,
        |  (CASE WHEN is_fim THEN hi - lo ELSE 0 END)::BIGINT AS n_middle,
        |  (CASE WHEN is_fim THEN l - hi + 1 ELSE 0 END)::BIGINT AS n_suffix,
        |  md5(CASE WHEN is_fim THEN '<PRE>' || substr(text, 1, (lo - 1)::INT)
        |        || '<SUF>' || substr(text, hi::INT, (l - hi + 1)::INT)
        |        || '<MID>' || substr(text, lo::INT, (hi - lo)::INT)
        |      ELSE text END) AS fim_md5
        |FROM c ORDER BY doc_id""".stripMargin,
    "t51_kn_lm" ->
      s"""$toks,
         |bg AS (SELECT doc_id, unnest(range(greatest(len(tk) - 1, 0))) AS pos, tk FROM tk),
         |b2 AS (SELECT doc_id, pos, tk[pos + 1] AS w1, tk[pos + 2] AS w2 FROM bg),
         |bc AS (SELECT w1, w2, count(*) AS c12 FROM b2 GROUP BY w1, w2),
         |fw AS (SELECT w1, sum(c12) AS c1, count(*) AS n1fw FROM bc GROUP BY w1),
         |bw AS (SELECT w2, count(*) AS n1bw FROM bc GROUP BY w2),
         |bt AS (SELECT count(*) AS bt FROM bc),
         |sc AS (SELECT b2.doc_id, b2.pos,
         |    ln(greatest(c12 - 0.75::DOUBLE, 0.0::DOUBLE) / c1
         |       + ((0.75::DOUBLE * n1fw) / c1) * (n1bw / bt)) AS lnp
         |  FROM b2 JOIN bc USING (w1, w2) JOIN fw USING (w1)
         |  JOIN bw USING (w2), bt),
         |agg AS (SELECT doc_id, count(*) AS n_bigrams,
         |          list_sum(list(lnp ORDER BY pos)) AS s
         |        FROM sc GROUP BY doc_id)
         |SELECT tk.doc_id, coalesce(agg.n_bigrams, 0)::BIGINT AS n_bigrams,
         |  round(-agg.s / agg.n_bigrams, 4) AS xent
         |FROM tk LEFT JOIN agg USING (doc_id) ORDER BY tk.doc_id""".stripMargin,
    "t36_leakage_split" ->
      """WITH n AS (SELECT doc_id,
        |    md5(trim(regexp_replace(lower(text), '\s+', ' ', 'g'))) AS grp
        |  FROM documents),
        |b AS (SELECT doc_id, grp,
        |    ('0x' || substr(md5('r8:' || grp), 1, 6))::BIGINT % 10000 AS bp
        |  FROM n)
        |SELECT doc_id, grp,
        |  CASE WHEN bp < 8000 THEN 'train'
        |       WHEN bp < 9000 THEN 'val' ELSE 'test' END AS split
        |FROM b ORDER BY doc_id""".stripMargin,
    // t30's xent replay + the bucket step: per-language cuts are RANK
    // SELECTION over the doc_id%10 sample (xent at ceil(n/3), ceil(2n/3)
    // ordered by raw xent then doc_id — no interpolation arithmetic),
    // assignment compares raw xent to the cut values; ln ulp jitter only
    // moves distinct-but-ulp-equal docs (the t32 accepted risk)
    "t35_ccnet_buckets" ->
      s"""$toks,
         |u AS (SELECT unnest(tk) AS w FROM tk),
         |uc AS (SELECT w, count(*) AS c1 FROM u GROUP BY w),
         |vs AS (SELECT count(*) AS v FROM uc),
         |bg AS (SELECT doc_id, unnest(range(greatest(len(tk) - 1, 0))) AS pos, tk FROM tk),
         |b2 AS (SELECT doc_id, pos, tk[pos + 1] AS w1, tk[pos + 2] AS w2 FROM bg),
         |bc AS (SELECT w1, w2, count(*) AS c12 FROM b2 GROUP BY w1, w2),
         |sc AS (SELECT b2.doc_id, b2.pos, ln((bc.c12 + 1.0) / (uc.c1 + vs.v)) AS lnp
         |       FROM b2 JOIN bc USING (w1, w2) JOIN uc ON uc.w = b2.w1, vs),
         |agg AS (SELECT doc_id, count(*) AS n_bigrams,
         |          list_sum(list(lnp ORDER BY pos)) AS s
         |        FROM sc GROUP BY doc_id),
         |x AS (SELECT tk.doc_id, d0.lang, coalesce(agg.n_bigrams, 0)::BIGINT AS n_bigrams,
         |        -agg.s / agg.n_bigrams AS xe
         |      FROM tk LEFT JOIN agg USING (doc_id) JOIN documents d0 USING (doc_id)),
         |samp AS (SELECT lang, xe, doc_id,
         |           row_number() OVER (PARTITION BY lang ORDER BY xe, doc_id) AS rk,
         |           count(*) OVER (PARTITION BY lang) AS n
         |         FROM x WHERE doc_id % 10 = 0 AND xe IS NOT NULL),
         |cuts AS (SELECT lang, min(CASE WHEN rk = (n + 2) // 3 THEN xe END) AS c1,
         |                min(CASE WHEN rk = (2 * n + 2) // 3 THEN xe END) AS c2
         |         FROM samp GROUP BY lang)
         |SELECT x.doc_id, x.lang, x.n_bigrams, round(x.xe, 4) AS xent,
         |  CASE WHEN x.xe IS NULL OR c1 IS NULL THEN 'unscored'
         |       WHEN x.xe <= c1 THEN 'head'
         |       WHEN x.xe <= c2 THEN 'middle' ELSE 'tail' END AS bucket
         |FROM x LEFT JOIN cuts USING (lang) ORDER BY x.doc_id""".stripMargin,
    // replays dsirResample gram-for-gram: same md5 bucket hash as t21's
    // shard key, add-one bucket models as exact-integer divisions, ln
    // within-ulp, per-doc sum in POSITION order (unigrams 0..n-1 then
    // bigrams n..2n-2), Gumbel key from the same md5-uniform, selection as
    // top-k threshold compare with (skey DESC, doc_id) total order
    "t32_dsir_sample" ->
      s"""$toks,
         |g0 AS (SELECT doc_id, (doc_id % 23 = 0) AS is_target, tk FROM tk),
         |u1 AS (SELECT doc_id, is_target, unnest(range(len(tk))) AS pos, tk FROM g0),
         |u2 AS (SELECT doc_id, is_target, pos, tk[pos + 1] AS g FROM u1),
         |b1 AS (SELECT doc_id, is_target, unnest(range(greatest(len(tk) - 1, 0))) AS i,
         |         tk, len(tk) AS nn FROM g0),
         |b2 AS (SELECT doc_id, is_target, nn + i AS pos, tk[i + 1] || ' ' || tk[i + 2] AS g FROM b1),
         |gr AS (SELECT doc_id, is_target, pos,
         |    ('0x' || substr(md5(g), 1, 6))::BIGINT % 4096 AS b
         |  FROM (SELECT * FROM u2 UNION ALL SELECT * FROM b2)),
         |ct AS (SELECT b, count(*) AS ct FROM gr WHERE is_target GROUP BY b),
         |cr AS (SELECT b, count(*) AS cr FROM gr WHERE NOT is_target GROUP BY b),
         |tot AS (SELECT sum(CASE WHEN is_target THEN 1 ELSE 0 END)::BIGINT AS tt,
         |               sum(CASE WHEN is_target THEN 0 ELSE 1 END)::BIGINT AS tr FROM gr),
         |sc AS (SELECT gr.doc_id, gr.pos,
         |    ln((coalesce(ct.ct, 0) + 1.0) / (tot.tt + 4096.0))
         |      - ln((coalesce(cr.cr, 0) + 1.0) / (tot.tr + 4096.0)) AS lnr
         |  FROM gr LEFT JOIN ct USING (b) LEFT JOIN cr USING (b), tot
         |  WHERE NOT gr.is_target),
         |ag AS (SELECT doc_id, count(*)::BIGINT AS n_grams,
         |    list_sum(list(lnr ORDER BY pos)) AS s
         |  FROM sc GROUP BY doc_id),
         |w AS (SELECT g0.doc_id, coalesce(ag.n_grams, 0)::BIGINT AS n_grams,
         |    coalesce(ag.s, 0.0) AS logw,
         |    coalesce(ag.s, 0.0) + -ln(-ln(
         |      (('0x' || substr(md5('r7:' || g0.doc_id), 1, 6))::BIGINT + 1.0)
         |        / 16777217.0)) AS skey
         |  FROM g0 LEFT JOIN ag USING (doc_id) WHERE NOT g0.is_target),
         |tp AS (SELECT doc_id, skey FROM w ORDER BY skey DESC, doc_id LIMIT 100),
         |th AS (SELECT min(skey) AS th FROM tp),
         |r AS (SELECT doc_id,
         |    (row_number() OVER (ORDER BY skey DESC, doc_id))::BIGINT AS rank FROM tp)
         |SELECT w.doc_id, w.n_grams, round(w.logw, 4) AS logw,
         |  round(w.skey, 4) AS skey, w.skey >= th.th AS selected, r.rank
         |FROM w CROSS JOIN th LEFT JOIN r ON w.doc_id = r.doc_id
         |ORDER BY w.doc_id""".stripMargin,
    "t45_distinct_profile" ->
      s"""$toks,
         |e AS (SELECT lang, unnest(tk) AS token FROM tk),
         |v AS (SELECT lang, count(DISTINCT token)::BIGINT AS vocab,
         |        count(*)::BIGINT AS n_tokens FROM e GROUP BY lang),
         |d AS (SELECT lang, count(*)::BIGINT AS n_docs FROM documents GROUP BY lang)
         |SELECT d.lang, d.n_docs, coalesce(v.vocab, 0)::BIGINT AS vocab,
         |  coalesce(v.n_tokens, 0)::BIGINT AS n_tokens
         |FROM d LEFT JOIN v USING (lang) ORDER BY lang""".stripMargin,
    "t20_profile" ->
      s"""$toks,
         |m AS (SELECT lang, len(tk)::BIGINT AS n_tok FROM tk)
         |SELECT lang, count(*)::BIGINT AS n_docs, sum(n_tok)::BIGINT AS sum_tokens,
         |  min(n_tok)::BIGINT AS min_tokens, max(n_tok)::BIGINT AS max_tokens,
         |  quantile_cont(n_tok, 0.5) AS p50, quantile_cont(n_tok, 0.9) AS p90,
         |  quantile_cont(n_tok, 0.99) AS p99
         |FROM m GROUP BY lang ORDER BY lang""".stripMargin,
    "t21_shuffle_shards" ->
      """WITH k AS (SELECT doc_id, md5('r4:' || doc_id) AS shuffle_key FROM documents),
        |s AS (SELECT doc_id, shuffle_key,
        |    ('0x' || substr(shuffle_key, 1, 6))::BIGINT % 8 AS shard FROM k)
        |SELECT doc_id, shuffle_key, shard,
        |  (row_number() OVER (PARTITION BY shard ORDER BY shuffle_key, doc_id))::BIGINT AS seq
        |FROM s ORDER BY doc_id""".stripMargin,
    "t22_cms_heavy" ->
      s"""$toks,
         |e AS (SELECT unnest(tk) AS token FROM tk)
         |SELECT token, count(*)::BIGINT AS cnt FROM e
         |GROUP BY token HAVING count(*) >= 300 ORDER BY token""".stripMargin,
    "t16_heavy_hitters" ->
      s"""$toks,
         |e AS (SELECT lang, unnest(tk) AS token FROM tk),
         |c AS (SELECT lang, token, count(*)::BIGINT AS cnt FROM e GROUP BY 1, 2),
         |r AS (SELECT lang, token, cnt,
         |    row_number() OVER (PARTITION BY lang ORDER BY cnt DESC, token ASC) AS rank
         |  FROM c)
         |SELECT lang, token, cnt, rank::BIGINT AS rank FROM r
         |WHERE rank <= 10 ORDER BY lang, rank""".stripMargin,
    // replays the driver-side rate fold exactly: sqrt is IEEE
    // correctly-rounded (why α is fixed at 0.5), the Σ√n fold runs in
    // stratum order on both sides, and the keep decision is integer
    // arithmetic on the md5 bucket.
    "t27_temperature_mix" ->
      """WITH c AS (SELECT lang, count(*)::BIGINT AS n FROM documents GROUP BY lang),
        |s AS (SELECT list_sum(list(sqrt(n::DOUBLE) ORDER BY lang)) AS ss FROM c),
        |r AS (SELECT lang,
        |    floor(least(1.0, 250.0 * (sqrt(n::DOUBLE) / s.ss) / n::DOUBLE)
        |          * 10000.0)::BIGINT AS rate_bp
        |  FROM c, s),
        |b AS (SELECT doc_id, lang,
        |    ('0x' || substr(md5(doc_id::VARCHAR), 1, 6))::BIGINT % 10000 AS bucket
        |  FROM documents)
        |SELECT b.lang, r.rate_bp, count(*)::BIGINT AS n_total,
        |  sum(CASE WHEN bucket < rate_bp THEN 1 ELSE 0 END)::BIGINT AS n_kept
        |FROM b JOIN r USING (lang) GROUP BY b.lang, r.rate_bp ORDER BY lang""".stripMargin,
    // the composed pipeline: each stage's rule is the same as its
    // standalone oracle (t3 dedup keep, t11 keep predicate, t27 rates,
    // t15 pack window) — chained over the survivors of the previous stage.
    "t28_curation_e2e" ->
      s"""WITH n AS ($norm),
         |d AS (SELECT doc_id FROM (
         |    SELECT doc_id, row_number() OVER (PARTITION BY md5(norm) ORDER BY doc_id) rn
         |    FROM n) WHERE rn = 1),
         |tk AS (SELECT n.doc_id, list_filter(string_split(norm, ' '), t -> len(t) > 0) AS tk
         |       FROM n JOIN d USING (doc_id)),
         |q AS (SELECT doc_id FROM (
         |    SELECT doc_id, len(tk)::BIGINT AS nt, len(list_distinct(tk))::BIGINT AS nd,
         |      coalesce(list_max(list_transform(list_distinct(tk),
         |        t -> len(list_filter(tk, x -> x = t)))), 0)::BIGINT AS tt
         |    FROM tk) WHERE tt * 20 <= nt * 3 AND nd * 2 >= nt),
         |s AS (SELECT documents.doc_id, lang, source, text
         |      FROM documents JOIN q ON documents.doc_id = q.doc_id),
         |c AS (SELECT lang, count(*)::BIGINT AS n FROM s GROUP BY lang),
         |ssum AS (SELECT list_sum(list(sqrt(n::DOUBLE) ORDER BY lang)) AS ss FROM c),
         |r AS (SELECT lang,
         |    floor(least(1.0, 150.0 * (sqrt(n::DOUBLE) / ssum.ss) / n::DOUBLE)
         |          * 10000.0)::BIGINT AS rate_bp
         |  FROM c, ssum),
         |m AS (SELECT s.* FROM s JOIN r USING (lang)
         |      WHERE ('0x' || substr(md5(doc_id::VARCHAR), 1, 6))::BIGINT % 10000
         |            < rate_bp),
         |p AS (SELECT doc_id, source,
         |    len(regexp_extract_all(text, '${text.bpeTokenPattern}'))::BIGINT AS n_tok
         |  FROM m),
         |w AS (SELECT doc_id, source AS shard, n_tok,
         |    (sum(n_tok) OVER (PARTITION BY source ORDER BY doc_id
         |       ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW))::BIGINT AS cum
         |  FROM p)
         |SELECT doc_id, shard, n_tok, (cum - n_tok) AS tok_start,
         |  ((cum - n_tok) // 1024)::BIGINT AS bin_first,
         |  CASE WHEN n_tok > 0 THEN ((cum - 1) // 1024)::BIGINT
         |       ELSE ((cum - n_tok) // 1024)::BIGINT END AS bin_last
         |FROM w ORDER BY doc_id""".stripMargin,
    // replays the repair fold mechanically (identical pair table, identical
    // order — both generated from TextRepair.pairs); the SEMANTIC law
    // (repair ∘ corrupt = id) is TextRepairSpec's job
    "t37_mojibake" ->
      s"""WITH c AS (SELECT doc_id,
         |    CASE WHEN doc_id % 5 = 0
         |         THEN '${MojiBad.replace("'", "''")}' || text ELSE text END AS ctext
         |  FROM documents),
         |f AS (SELECT doc_id,
         |    ${graft.operators.TextRepair.countSql("ctext")} AS n_fixed,
         |    ${graft.operators.TextRepair.repairSql("ctext")} AS rep
         |  FROM c)
         |SELECT doc_id, n_fixed, (n_fixed > 0) AS is_fixed,
         |  md5(rep) AS repaired_md5
         |FROM f ORDER BY doc_id""".stripMargin,
    // set-algebra replay: eval-side distinct shingles vs the train-side
    // distinct shingle universe, integer-division basis points
    "t61_contamination_report" ->
      s"""$toks,
         |sh AS (SELECT doc_id, ${shingleSql(4)} AS sh FROM tk),
         |ev AS (SELECT doc_id, unnest(sh) AS g FROM sh WHERE doc_id % 50 = 0),
         |tr AS (SELECT DISTINCT unnest(sh) AS g FROM sh WHERE doc_id % 50 <> 0),
         |pd AS (SELECT ev.doc_id, count(*)::BIGINT AS n_shingles,
         |         sum(CASE WHEN tr.g IS NULL THEN 0 ELSE 1 END)::BIGINT AS n_shared
         |       FROM ev LEFT JOIN tr USING (g) GROUP BY ev.doc_id),
         |base AS (SELECT doc_id FROM documents WHERE doc_id % 50 = 0)
         |SELECT b.doc_id,
         |  coalesce(pd.n_shingles, 0)::BIGINT AS n_shingles,
         |  coalesce(pd.n_shared, 0)::BIGINT AS n_shared,
         |  CASE WHEN coalesce(pd.n_shingles, 0) > 0
         |       THEN (10000 * pd.n_shared) // pd.n_shingles ELSE 0 END::BIGINT
         |    AS contamination_bp,
         |  CASE WHEN coalesce(pd.n_shingles, 0) > 0
         |        AND (10000 * pd.n_shared) // pd.n_shingles >= 5000 THEN 'contaminated'
         |       WHEN coalesce(pd.n_shingles, 0) > 0
         |        AND (10000 * pd.n_shared) // pd.n_shingles >= 500 THEN 'suspect'
         |       ELSE 'clean' END AS verdict
         |FROM base b LEFT JOIN pd USING (doc_id) ORDER BY b.doc_id""".stripMargin,
    // planted-eval replay (rule stated at memorizationQ) + per-rung
    // distinct-gram membership against the train universe + the windowed
    // max-matched-rung — the whole ladder recomputed from first principles
    "t64_memorization" ->
      s"""$toks,
         |uniq AS (SELECT doc_id, list_transform(range(0, 8), j -> 'u' || doc_id || 'x' || j) AS uq
         |         FROM tk WHERE doc_id % 50 = 0),
         |ev AS (SELECT e.doc_id,
         |    CASE ((e.doc_id // 50) % 4)
         |      WHEN 0 THEN e.tk
         |      WHEN 1 THEN list_concat(list_slice(d.tk, 1, 40), u.uq)
         |      WHEN 2 THEN list_concat(list_slice(d.tk, 1, 10), u.uq)
         |      ELSE        list_concat(list_slice(d.tk, 1, 5), u.uq)
         |    END AS etk
         |  FROM tk e JOIN tk d ON d.doc_id = e.doc_id + 1 JOIN uniq u ON u.doc_id = e.doc_id
         |  WHERE e.doc_id % 50 = 0),
         |rungs AS (SELECT unnest([4, 8, 16, 32]) AS rung),
         |eg AS (SELECT doc_id, rung, unnest(list_distinct(list_transform(range(len(etk) - (rung - 1)),
         |         i -> array_to_string(list_slice(etk, i + 1, i + rung), ' ')))) AS g
         |       FROM ev, rungs),
         |tg AS (SELECT DISTINCT rung, array_to_string(list_slice(tk, i + 1, i + rung), ' ') AS g
         |       FROM tk, rungs, unnest(range(len(tk) - (rung - 1))) t(i)
         |       WHERE doc_id % 50 <> 0),
         |pr AS (SELECT e.doc_id, e.rung, count(*)::BIGINT AS n_grams,
         |         sum(CASE WHEN t.g IS NULL THEN 0 ELSE 1 END)::BIGINT AS n_matched
         |       FROM eg e LEFT JOIN tg t USING (rung, g) GROUP BY 1, 2),
         |grid AS (SELECT e.doc_id, r.rung FROM ev e, rungs r),
         |fil AS (SELECT g.doc_id, g.rung, coalesce(p.n_grams, 0)::BIGINT AS n_grams,
         |          coalesce(p.n_matched, 0)::BIGINT AS n_matched
         |        FROM grid g LEFT JOIN pr p USING (doc_id, rung))
         |SELECT doc_id, rung::BIGINT AS rung, n_grams, n_matched,
         |  coalesce(max(CASE WHEN n_matched > 0 THEN rung END) OVER (PARTITION BY doc_id), 0)::BIGINT AS max_matched_rung
         |FROM fil ORDER BY doc_id, rung""".stripMargin,
    // full replay: synthesis (lockstep with dpoPairsQ), QC gates in stated
    // precedence, prompt-fingerprint dedup window, winner-ordered pair md5
    "t59_dpo_pairs" ->
      s"""$toks,
         |pp AS (SELECT doc_id, tk, len(tk)::BIGINT AS n, (len(tk) - 6)::BIGINT AS rem FROM tk
         |       WHERE len(tk) - 6 >= 2),
         |q AS (SELECT doc_id, n, rem, rem // 2 AS ha,
         |  coalesce(array_to_string(list_slice(tk, 1, 6), ' '), '') AS p,
         |  coalesce(array_to_string(list_slice(tk, 7, 6 + rem // 2), ' '), '') AS ra,
         |  coalesce(array_to_string(list_slice(tk, 7 + rem // 2, n), ' '), '') AS rb0
         |  FROM pp),
         |r AS (SELECT doc_id, p, ra,
         |  CASE WHEN doc_id % 47 = 0 THEN ''
         |       WHEN doc_id % 41 = 0 THEN ra
         |       WHEN doc_id % 43 = 0 THEN coalesce(array_to_string(list_slice(string_split(rb0, ' '), 1, 2), ' '), '')
         |       ELSE rb0 END AS rb,
         |  ('0x' || substr(md5('dpo:' || doc_id), 1, 6))::BIGINT % 2 = 0 AS win_a
         |  FROM q),
         |m AS (SELECT doc_id, p, ra, rb, win_a,
         |  len(list_filter(string_split(p, ' '), t -> len(t) > 0))::BIGINT AS n_prompt,
         |  len(list_filter(string_split(ra, ' '), t -> len(t) > 0))::BIGINT AS n_a,
         |  len(list_filter(string_split(rb, ' '), t -> len(t) > 0))::BIGINT AS n_b,
         |  md5(trim(regexp_replace(lower(p), '\\s+', ' ', 'g'))) AS fp
         |  FROM r),
         |w AS (SELECT *, row_number() OVER (PARTITION BY fp ORDER BY doc_id) AS rn FROM m),
         |v AS (SELECT doc_id, n_prompt, n_a, n_b, p, ra, rb, win_a,
         |  CASE WHEN n_a < 2 OR n_b < 2 THEN 'too_short'
         |       WHEN ra = rb THEN 'identical'
         |       WHEN greatest(n_a, n_b) > least(n_a, n_b) * 2 THEN 'length_ratio'
         |       WHEN rn > 1 THEN 'dup_prompt'
         |       ELSE 'kept' END AS reason
         |  FROM w)
         |SELECT doc_id, n_prompt, n_a, n_b, reason, (reason = 'kept') AS keep,
         |  CASE WHEN reason = 'kept' THEN md5(p || chr(1)
         |    || (CASE WHEN win_a THEN ra ELSE rb END) || chr(1)
         |    || (CASE WHEN win_a THEN rb ELSE ra END)) END AS pair_md5
         |FROM v ORDER BY doc_id""".stripMargin,
    // full replay: quarter split + ChatML assembly byte-for-byte (md5) +
    // mask bounds as pure integer arithmetic over quarter sizes — sys=7
    // tokens, each turn k+2, mask = assistant content + closing <|im_end|>
    "t58_sft_render" ->
      s"""$toks,
         |p AS (SELECT doc_id, tk, len(tk)::BIGINT AS n, (len(tk) // 4)::BIGINT AS q
         |      FROM tk WHERE len(tk) >= 4),
         |seg AS (SELECT doc_id, n, q,
         |  coalesce(array_to_string(list_slice(tk, 1, q), ' '), '') AS u1,
         |  coalesce(array_to_string(list_slice(tk, q + 1, 2 * q), ' '), '') AS a1,
         |  coalesce(array_to_string(list_slice(tk, 2 * q + 1, 3 * q), ' '), '') AS u2,
         |  coalesce(array_to_string(list_slice(tk, 3 * q + 1, n), ' '), '') AS a2
         |  FROM p),
         |r AS (SELECT doc_id, q AS q1, q AS a1len, q AS q2, (n - 3 * q) AS a2len,
         |  md5('<|im_start|>system' || chr(10) || 'you are a helpful assistant'
         |    || chr(10) || '<|im_end|>'
         |    || chr(10) || '<|im_start|>user' || chr(10) || u1 || chr(10) || '<|im_end|>'
         |    || chr(10) || '<|im_start|>assistant' || chr(10) || a1 || chr(10) || '<|im_end|>'
         |    || chr(10) || '<|im_start|>user' || chr(10) || u2 || chr(10) || '<|im_end|>'
         |    || chr(10) || '<|im_start|>assistant' || chr(10) || a2 || chr(10) || '<|im_end|>')
         |    AS sft_md5
         |  FROM seg)
         |SELECT doc_id, t.turn::BIGINT AS turn,
         |  CASE WHEN t.turn = 1 THEN 10 + q1
         |       ELSE 14 + q1 + a1len + q2 END::BIGINT AS mask_start,
         |  CASE WHEN t.turn = 1 THEN 10 + q1 + a1len
         |       ELSE 14 + q1 + a1len + q2 + a2len END::BIGINT AS mask_end,
         |  (15 + q1 + a1len + q2 + a2len)::BIGINT AS n_tokens, sft_md5
         |FROM r CROSS JOIN (VALUES (1), (2)) t(turn)
         |ORDER BY doc_id, turn""".stripMargin,
    // full NB replay: integer count tables from the seed slice, per-(doc,
    // class) ln-sum folded in WORD order (the t30 fold over doc-term
    // counts), prior ratio in the stated cast order, argmax with cls-asc
    // tiebreak, score emitted as floor(·1e6) — an exact integer
    "t57_nb_classifier" ->
      s"""$toks,
         |sd AS (SELECT doc_id, lang, tk FROM tk WHERE doc_id % 10 = 0),
         |rest AS (SELECT doc_id, lang, tk FROM tk WHERE doc_id % 10 <> 0),
         |cnt AS (SELECT lang AS cls, w, count(*) AS c
         |        FROM (SELECT lang, unnest(tk) AS w FROM sd) GROUP BY 1, 2),
         |tot AS (SELECT cls, sum(c) AS tot FROM cnt GROUP BY 1),
         |vs AS (SELECT count(DISTINCT w) AS v FROM cnt),
         |pr AS (SELECT lang AS cls, count(*) AS n_c FROM sd GROUP BY 1),
         |nd AS (SELECT count(*) AS n_docs FROM sd),
         |dt AS (SELECT doc_id, w, count(*) AS n
         |       FROM (SELECT doc_id, unnest(tk) AS w FROM rest) GROUP BY 1, 2),
         |sc AS (SELECT dt.doc_id, pr.cls, dt.w, dt.n,
         |         coalesce(cnt.c, 0) AS c, tot.tot, vs.v, pr.n_c, nd.n_docs
         |       FROM dt CROSS JOIN pr JOIN tot ON tot.cls = pr.cls
         |       CROSS JOIN vs CROSS JOIN nd
         |       LEFT JOIN cnt ON cnt.cls = pr.cls AND cnt.w = dt.w),
         |agg AS (SELECT doc_id, cls, sum(n)::BIGINT AS n_tokens,
         |          ln(any_value(n_c)::DOUBLE / any_value(n_docs)::DOUBLE)
         |            + list_sum(list(n * ln((c + 1.0) / (tot + v)) ORDER BY w))
         |            AS score
         |        FROM sc GROUP BY 1, 2),
         |best AS (SELECT *, row_number() OVER (PARTITION BY doc_id
         |           ORDER BY score DESC, cls) AS rn FROM agg)
         |SELECT b.doc_id, r.lang, b.cls AS pred, b.n_tokens,
         |  floor(b.score * 1000000.0)::BIGINT AS score_fp,
         |  (r.lang = b.cls) AS correct
         |FROM best b JOIN rest r USING (doc_id) WHERE rn = 1
         |ORDER BY b.doc_id""".stripMargin,
    // full replay of the fastText-class linear classifier: hashed
    // unigram+bigram bag -> ppm mean pooling -> closed-form per-class
    // centroids on the seed slice -> integer dot product -> argmax.
    // Every value is an exact integer; sums cast ::BIGINT before the
    // truncating div so DuckDB's HUGEINT sum never reaches the output.
    "t73_linear_classifier" ->
      s"""$toks,
         |g AS (SELECT doc_id, lang, list_concat(tk,
         |    CASE WHEN len(tk) >= 2
         |         THEN list_transform(range(len(tk) - 1),
         |                i -> tk[i + 1] || ' ' || tk[i + 2])
         |         ELSE [] END) AS gr FROM tk),
         |ng AS (SELECT doc_id, lang, len(gr)::BIGINT AS n_grams, gr
         |       FROM g WHERE len(gr) > 0),
         |db AS (SELECT doc_id, lang, n_grams,
         |         ('0x' || substr(md5(w), 1, 15))::BIGINT % 256 AS b,
         |         count(*)::BIGINT AS c
         |       FROM (SELECT doc_id, lang, n_grams, unnest(gr) AS w FROM ng)
         |       GROUP BY 1, 2, 3, 4),
         |wt AS (SELECT doc_id, lang, n_grams, b,
         |         (c * 1000000) // n_grams AS w FROM db),
         |sd AS (SELECT * FROM wt WHERE doc_id % 10 = 0),
         |rest AS (SELECT * FROM wt WHERE doc_id % 10 <> 0),
         |nc AS (SELECT lang AS cls, count(DISTINCT doc_id)::BIGINT AS n_c
         |       FROM sd GROUP BY 1),
         |cen AS (SELECT sd.lang AS cls, sd.b,
         |          (sum(sd.w)::BIGINT // any_value(nc.n_c)) AS cb
         |        FROM sd JOIN nc ON nc.cls = sd.lang GROUP BY 1, 2),
         |sc AS (SELECT r.doc_id, cl.cls,
         |         sum(r.w * coalesce(cen.cb, 0))::BIGINT AS score
         |       FROM rest r CROSS JOIN (SELECT cls FROM nc) cl
         |       LEFT JOIN cen ON cen.cls = cl.cls AND cen.b = r.b
         |       GROUP BY 1, 2),
         |best AS (SELECT *,
         |    row_number() OVER (PARTITION BY doc_id
         |      ORDER BY score DESC, cls) AS rn,
         |    lead(score) OVER (PARTITION BY doc_id
         |      ORDER BY score DESC, cls) AS s2
         |  FROM sc)
         |SELECT b.doc_id, r.lang, b.cls AS pred, r.n_grams, b.score,
         |  (b.score - b.s2)::BIGINT AS margin, (r.lang = b.cls) AS correct
         |FROM best b
         |JOIN (SELECT DISTINCT doc_id, lang, n_grams FROM rest) r
         |  USING (doc_id)
         |WHERE rn = 1 ORDER BY b.doc_id""".stripMargin,
    // full replay: planted C4 line structure (lockstep with c4Synth), then
    // the measure half reads raw ctext only — per-line rule tallies with
    // stated precedence, page verdict, md5 of the surviving lines.
    "t56_c4_line_filters" ->
      s"""$toks,
         |ln AS (SELECT doc_id, tk, (6 + doc_id % 3)::BIGINT AS ll,
         |  CASE WHEN len(tk) = 0 THEN 0
         |       ELSE (len(tk) + (6 + doc_id % 3) - 1) // (6 + doc_id % 3)
         |  END::BIGINT AS nl FROM tk),
         |base AS (SELECT doc_id,
         |  list_transform(range(nl), j ->
         |    CASE WHEN (doc_id * 19 + j) % 13 = 0
         |         THEN array_to_string(list_slice(tk, j * ll + 1, j * ll + ll), ' ')
         |         WHEN (doc_id * 19 + j) % 13 = 1
         |         THEN array_to_string(list_slice(tk, j * ll + 1, j * ll + ll), ' ') || '!'
         |         WHEN (doc_id * 19 + j) % 13 = 2
         |         THEN array_to_string(list_slice(tk, j * ll + 1, j * ll + ll), ' ') || ' javascript.'
         |         WHEN (doc_id * 19 + j) % 13 = 3
         |         THEN array_to_string(list_slice(tk, j * ll + 1, j * ll + 3), ' ') || '.'
         |         ELSE array_to_string(list_slice(tk, j * ll + 1, j * ll + ll), ' ') || '.'
         |    END) AS plines
         |  FROM ln),
         |ext AS (SELECT doc_id,
         |  list_concat(plines, list_concat(
         |    CASE WHEN doc_id % 31 = 0
         |         THEN ['as seen on tv lorem ipsum dolor sit amet.'] ELSE [] END,
         |    CASE WHEN doc_id % 37 = 0
         |         THEN ['var cfg = { mode: 1 };'] ELSE [] END)) AS plines
         |  FROM base),
         |ct AS (SELECT doc_id, array_to_string(plines, chr(10)) AS ctext FROM ext),
         |ls AS (SELECT doc_id, ctext, string_split(ctext, chr(10)) AS lines FROM ct),
         |m AS (SELECT doc_id, ctext, lines,
         |  len(lines)::BIGINT AS n_lines,
         |  len(list_filter(lines, l -> NOT (l LIKE '%.' OR l LIKE '%!' OR l LIKE '%?' OR l LIKE '%"')))::BIGINT AS n_no_punct,
         |  len(list_filter(lines, l ->
         |    (l LIKE '%.' OR l LIKE '%!' OR l LIKE '%?' OR l LIKE '%"')
         |    AND len(list_filter(string_split(l, ' '), t -> len(t) > 0)) < 5))::BIGINT AS n_short,
         |  len(list_filter(lines, l ->
         |    (l LIKE '%.' OR l LIKE '%!' OR l LIKE '%?' OR l LIKE '%"')
         |    AND len(list_filter(string_split(l, ' '), t -> len(t) > 0)) >= 5
         |    AND contains(l, 'javascript')))::BIGINT AS n_js,
         |  list_filter(lines, l ->
         |    (l LIKE '%.' OR l LIKE '%!' OR l LIKE '%?' OR l LIKE '%"')
         |    AND len(list_filter(string_split(l, ' '), t -> len(t) > 0)) >= 5
         |    AND NOT contains(l, 'javascript')) AS kept
         |  FROM ls),
         |v AS (SELECT doc_id, n_lines, n_no_punct, n_short, n_js,
         |  len(kept)::BIGINT AS n_kept,
         |  CASE WHEN contains(ctext, 'lorem ipsum') THEN 'lorem_ipsum'
         |       WHEN contains(ctext, '{') THEN 'brace'
         |       WHEN len(kept) < 3 THEN 'too_few_sentences'
         |       ELSE 'kept' END AS reason,
         |  array_to_string(kept, chr(10)) AS cleaned
         |  FROM m)
         |SELECT doc_id, n_lines, n_no_punct, n_short, n_js, n_kept, reason,
         |  (reason = 'kept') AS keep,
         |  CASE WHEN reason = 'kept' THEN md5(cleaned) END AS cleaned_md5
         |FROM v ORDER BY doc_id""".stripMargin,
    // full replay: planted-structure synthesis (pure integer functions of
    // doc_id × position — MUST stay in lockstep with gopherSynth) builds the
    // same ctext, then the measure half reads raw text only. Every ratio
    // rule is an integer cross-multiplication; reason = first failing rule.
    "t55_gopher_quality" ->
      s"""$toks,
         |sub AS (SELECT doc_id,
         |  list_transform(range(len(tk)), i ->
         |    CASE
         |      WHEN doc_id % 7 = 0 THEN tk[i + 1]
         |      WHEN doc_id % 7 = 1 THEN
         |        CASE WHEN (doc_id * 31 + i) % 23 % 9 = 0 THEN '#'
         |             WHEN (doc_id * 31 + i) % 23 = 1 THEN 'the'
         |             WHEN (doc_id * 31 + i) % 23 = 2 THEN 'and'
         |             ELSE tk[i + 1] END
         |      WHEN doc_id % 7 = 2 THEN
         |        CASE WHEN (doc_id * 31 + i) % 23 % 4 = 0 THEN '42'
         |             WHEN (doc_id * 31 + i) % 23 = 1 THEN 'the'
         |             WHEN (doc_id * 31 + i) % 23 = 2 THEN 'and'
         |             ELSE tk[i + 1] END
         |      WHEN doc_id % 7 = 3 THEN
         |        CASE WHEN (doc_id * 31 + i) % 23 % 3 = 0
         |             THEN 'pneumonoultramicroscopicsilicovolcanoconiosis'
         |             WHEN (doc_id * 31 + i) % 23 = 1 THEN 'the'
         |             WHEN (doc_id * 31 + i) % 23 = 2 THEN 'and'
         |             ELSE tk[i + 1] END
         |      ELSE
         |        CASE (doc_id * 31 + i) % 23
         |          WHEN 0 THEN 'the' WHEN 1 THEN 'and' WHEN 2 THEN 'of'
         |          WHEN 3 THEN 'to' WHEN 4 THEN '42' WHEN 5 THEN '#'
         |          ELSE tk[i + 1] END
         |    END) AS w
         |  FROM tk),
         |ln AS (SELECT doc_id, w, (5 + doc_id % 4)::BIGINT AS ll,
         |  CASE WHEN len(w) = 0 THEN 0
         |       ELSE (len(w) + (5 + doc_id % 4) - 1) // (5 + doc_id % 4)
         |  END::BIGINT AS nl FROM sub),
         |ct AS (SELECT doc_id, CASE WHEN nl = 0 THEN '' ELSE array_to_string(
         |    list_transform(range(nl), j ->
         |      (CASE WHEN (doc_id * 17 + j) % 11 = 0 THEN chr(8226) ELSE '' END)
         |      || array_to_string(list_slice(w, j * ll + 1, j * ll + ll), ' ')
         |      || (CASE WHEN (doc_id * 17 + j) % 11 IN (1, 2) THEN '...' ELSE '' END)),
         |    chr(10)) END AS ctext
         |  FROM ln),
         |ls AS (SELECT doc_id, ctext, string_split(ctext, chr(10)) AS lines,
         |  list_filter(string_split(trim(regexp_replace(lower(ctext), '\\s+', ' ', 'g')), ' '),
         |    t -> len(t) > 0) AS wd
         |  FROM ct),
         |m AS (SELECT doc_id,
         |  len(wd)::BIGINT AS n_words,
         |  coalesce(list_sum(list_transform(wd, t -> len(t))), 0)::BIGINT AS sum_word_chars,
         |  ((len(ctext) - len(replace(ctext, '#', '')))
         |    + len(regexp_extract_all(ctext, '\\.\\.\\.')))::BIGINT AS n_symbols,
         |  len(list_filter(wd, t -> regexp_matches(t, '[a-z]')))::BIGINT AS n_alpha_words,
         |  len(list_filter(['the','be','to','of','and','that','have','with'],
         |      s -> list_contains(wd, s)))::BIGINT AS n_stopwords,
         |  len(lines)::BIGINT AS n_lines,
         |  len(list_filter(lines, l -> l LIKE chr(8226) || '%'))::BIGINT AS n_bullet_lines,
         |  len(list_filter(lines, l -> l LIKE '%...'))::BIGINT AS n_ellipsis_lines
         |  FROM ls),
         |v AS (SELECT *,
         |  CASE WHEN n_words < 20 OR n_words > 100000 THEN 'word_count'
         |       WHEN sum_word_chars < 3 * n_words OR sum_word_chars > 10 * n_words THEN 'mean_word_len'
         |       WHEN 10 * n_symbols > n_words THEN 'symbol_ratio'
         |       WHEN 10 * n_bullet_lines > n_lines THEN 'bullet_lines'
         |       WHEN 10 * n_ellipsis_lines > 3 * n_lines THEN 'ellipsis_lines'
         |       WHEN 5 * n_alpha_words < 4 * n_words THEN 'alpha_words'
         |       WHEN n_stopwords < 2 THEN 'stopwords'
         |       ELSE 'clean' END AS reason
         |  FROM m)
         |SELECT doc_id, n_words, sum_word_chars, n_symbols, n_alpha_words,
         |  n_stopwords, n_lines, n_bullet_lines, n_ellipsis_lines, reason,
         |  (reason = 'clean') AS keep
         |FROM v ORDER BY doc_id""".stripMargin,
    "t43_quota_sample" ->
      """WITH s AS (SELECT doc_id, lang,
        |    ('0x' || substr(md5('r8q:' || doc_id), 1, 12))::BIGINT AS skey
        |  FROM documents),
        |r AS (SELECT doc_id, lang,
        |    row_number() OVER (PARTITION BY lang ORDER BY skey ASC, doc_id ASC)
        |      AS rank
        |  FROM s)
        |SELECT doc_id, lang, rank::BIGINT AS rank FROM r
        |WHERE rank <= 30 ORDER BY lang, rank""".stripMargin,
    "t44_ffd_pack" ->
      s"""WITH RECURSIVE it AS (SELECT source AS shard, doc_id,
         |    len(regexp_extract_all(text, '${text.bpeTokenPattern}'))::BIGINT AS len
         |  FROM documents),
         |ord AS (SELECT shard, doc_id, len,
         |    row_number() OVER (PARTITION BY shard ORDER BY len DESC, doc_id) AS rn
         |  FROM it),
         |cnt AS (SELECT shard, count(*)::BIGINT AS n FROM ord GROUP BY shard),
         |rec(shard, i, loads, assigns) AS (
         |  SELECT shard, 0::BIGINT, []::BIGINT[], []::BIGINT[] FROM cnt
         |  UNION ALL
         |  SELECT r.shard, r.i + 1,
         |    CASE WHEN o.len <= 1024 AND coalesce(list_position(
         |           list_transform(r.loads, l -> l + o.len <= 1024), true), 0) > 0
         |      THEN list_transform(range(1, len(r.loads) + 1), j ->
         |        CASE WHEN j = list_position(
         |               list_transform(r.loads, l -> l + o.len <= 1024), true)
         |          THEN r.loads[j] + o.len ELSE r.loads[j] END)
         |      ELSE list_append(r.loads, o.len) END,
         |    list_append(r.assigns,
         |      CASE WHEN o.len <= 1024 AND coalesce(list_position(
         |             list_transform(r.loads, l -> l + o.len <= 1024), true), 0) > 0
         |        THEN list_position(
         |               list_transform(r.loads, l -> l + o.len <= 1024), true) - 1
         |        ELSE len(r.loads) END)
         |  FROM rec r JOIN ord o ON o.shard = r.shard AND o.rn = r.i + 1)
         |SELECT o.doc_id, o.shard, o.len, f.assigns[o.rn]::BIGINT AS bin
         |FROM ord o JOIN (SELECT r.shard, r.assigns FROM rec r JOIN cnt c
         |                 ON r.shard = c.shard AND r.i = c.n) f
         |  ON o.shard = f.shard
         |ORDER BY o.doc_id""".stripMargin,
    "t42_curation_v2" -> {
      val bad = MojiBad.replace("'", "''")
      val winnowPart = TextQueries.winnowSqlFrom(
        "SELECT r.doc_id, trim(regexp_replace(lower(rtext), '\\s+', ' ', 'g')) " +
          "AS norm FROM rep r JOIN surv USING (doc_id)")
      s"""WITH c AS (SELECT doc_id,
         |    CASE WHEN doc_id % 5 = 0 THEN '$bad' || text ELSE text END AS ctext
         |  FROM documents),
         |rep AS (SELECT doc_id,
         |    ${graft.operators.TextRepair.repairSql("ctext")} AS rtext,
         |    ${graft.operators.TextRepair.countSql("ctext")} AS n_fixed FROM c),
         |rn AS (SELECT doc_id,
         |    trim(regexp_replace(lower(rtext), '\\s+', ' ', 'g')) AS rnorm FROM rep),
         |rtk AS (SELECT doc_id,
         |    list_filter(string_split(rnorm, ' '), t -> len(t) > 0) AS tk FROM rn),
         |e AS (SELECT doc_id, unnest(tk) AS token FROM rtk),
         |vc AS (SELECT token FROM (SELECT token, count(*) AS cnt FROM e
         |    GROUP BY token ORDER BY cnt DESC, token ASC LIMIT 16)),
         |pd AS (SELECT e.doc_id, count(*)::BIGINT AS n_tokens,
         |    sum(CASE WHEN v.token IS NULL THEN 1 ELSE 0 END)::BIGINT AS n_oov
         |  FROM e LEFT JOIN vc v ON e.token = v.token GROUP BY e.doc_id),
         |ov AS (SELECT r.doc_id,
         |    CASE WHEN coalesce(pd.n_tokens, 0) > 0
         |         THEN ((10000 * pd.n_oov) // pd.n_tokens)::BIGINT
         |         ELSE 0 END AS oov_bp
         |  FROM rep r LEFT JOIN pd ON r.doc_id = pd.doc_id),
         |surv AS (SELECT doc_id FROM ov WHERE oov_bp <= $OovMax),
         |$winnowPart,
         |wff AS (SELECT DISTINCT doc_id, fp FROM wsel),
         |wrare AS (SELECT fp FROM wff GROUP BY fp HAVING count(*) BETWEEN 2 AND 20),
         |wpr AS (SELECT a.doc_id AS da, b.doc_id AS db
         |        FROM wff a JOIN wff b USING (fp) JOIN wrare USING (fp)
         |        WHERE a.doc_id < b.doc_id),
         |dup AS (SELECT DISTINCT db AS doc_id FROM
         |        (SELECT da, db FROM wpr GROUP BY da, db HAVING count(*) >= 2))
         |SELECT r.doc_id, r.n_fixed, ov.oov_bp,
         |  CASE WHEN ov.oov_bp > $OovMax THEN 'drop'
         |       WHEN d.doc_id IS NOT NULL THEN 'drop' ELSE 'keep' END AS verdict,
         |  CASE WHEN ov.oov_bp > $OovMax THEN 'oov'
         |       WHEN d.doc_id IS NOT NULL THEN 'passage_dup'
         |       WHEN r.n_fixed > 0 THEN 'repaired' ELSE 'clean' END AS reason
         |FROM rep r JOIN ov ON r.doc_id = ov.doc_id
         |LEFT JOIN dup d ON r.doc_id = d.doc_id
         |ORDER BY r.doc_id""".stripMargin
    },
    "t38_oov_rate" ->
      s"""$toks,
         |e AS (SELECT doc_id, unnest(tk) AS token FROM tk),
         |vc AS (SELECT token FROM (SELECT token, count(*) AS cnt FROM e
         |    GROUP BY token ORDER BY cnt DESC, token ASC LIMIT 16)),
         |pd AS (SELECT e.doc_id, count(*)::BIGINT AS n_tokens,
         |    sum(CASE WHEN v.token IS NULL THEN 1 ELSE 0 END)::BIGINT AS n_oov
         |  FROM e LEFT JOIN vc v ON e.token = v.token GROUP BY e.doc_id)
         |SELECT d.doc_id,
         |  coalesce(pd.n_tokens, 0)::BIGINT AS n_tokens,
         |  coalesce(pd.n_oov, 0)::BIGINT AS n_oov,
         |  CASE WHEN coalesce(pd.n_tokens, 0) > 0
         |       THEN ((10000 * pd.n_oov) // pd.n_tokens)::BIGINT
         |       ELSE 0 END AS oov_bp
         |FROM documents d LEFT JOIN pd ON d.doc_id = pd.doc_id
         |ORDER BY d.doc_id""".stripMargin,

    // vowel-run syllables (silent-e rule), planted closed-form sentence
    // counts, FK metrics as integer cross-multiplications clamped at 0
    "t67_readability" ->
      ("""WITH nm AS (SELECT doc_id, trim(regexp_replace(lower(text), '\s+', ' ', 'g')) AS t FROM documents),
         |tk AS (SELECT doc_id, list_filter(string_split(t, ' '), x -> len(x) > 0) AS tk FROM nm),
         |syl AS (
         |  SELECT doc_id, len(tk)::BIGINT AS w,
         |    coalesce(list_sum(list_transform(tk, wd ->
         |      greatest(
         |        len(regexp_replace(wd, '[aeiouy]+', 'V', 'g')) - len(replace(regexp_replace(wd, '[aeiouy]+', 'V', 'g'), 'V', ''))
         |        - CASE WHEN wd LIKE '%e' AND wd NOT LIKE '%le'
         |                AND len(regexp_replace(wd, '[aeiouy]+', 'V', 'g')) - len(replace(regexp_replace(wd, '[aeiouy]+', 'V', 'g'), 'V', '')) >= 2
         |               THEN 1 ELSE 0 END,
         |        1))), 0)::BIGINT AS y
         |  FROM tk),
         |sent AS (
         |  SELECT doc_id, w, y,
         |    CASE WHEN w = 0 THEN 0
         |         ELSE (w + doc_id) // (7 + doc_id % 5) - doc_id // (7 + doc_id % 5)
         |              + CASE WHEN (w + doc_id) % (7 + doc_id % 5) <> 0 THEN 1 ELSE 0 END END AS s
         |  FROM syl),
         |fk AS (
         |  SELECT doc_id, w AS words, s AS sentences,
         |    CASE WHEN w > 0 THEN y ELSE 0 END AS syllables,
         |    CASE WHEN w > 0 AND s > 0
         |         THEN (greatest(39 * w * w + 1180 * y * s - 1559 * s * w, 0) * 100) // (s * w)
         |         ELSE 0 END AS fkgl_e4,
         |    CASE WHEN w > 0 AND s > 0
         |         THEN greatest(206835 * s * w - 1015 * w * w - 84600 * y * s, 0) // (s * w)
         |         ELSE 0 END AS fre_milli,
         |    (w > 0 AND s > 0) AS ok
         |  FROM sent)
         |SELECT doc_id, words, sentences, syllables, fkgl_e4, fre_milli,
         |  CASE WHEN NOT ok THEN 'empty'
         |       WHEN fre_milli >= 90000 THEN 'very_easy'
         |       WHEN fre_milli >= 70000 THEN 'easy'
         |       WHEN fre_milli >= 50000 THEN 'standard'
         |       ELSE 'difficult' END AS verdict
         |FROM fk ORDER BY doc_id""").stripMargin,

    // top-64 type counts, rank-ordered ln-ln OLS via explicit left folds
    // (0.0-seeded list_reduce == Spark aggregate), floored fixed point
    "t68_zipf_slope" ->
      ("""WITH nm AS (SELECT doc_id, trim(regexp_replace(lower(text), '\s+', ' ', 'g')) AS t FROM documents),
         |tok AS (SELECT unnest(list_filter(string_split(t, ' '), x -> len(x) > 0)) AS w FROM nm),
         |cnt AS (SELECT w, count(*)::BIGINT AS freq FROM tok GROUP BY w),
         |top AS (SELECT w, freq, row_number() OVER (ORDER BY freq DESC, w) AS r
         |        FROM cnt ORDER BY freq DESC, w LIMIT 64),
         |lst AS (SELECT count(*)::BIGINT AS n,
         |          list(ln(r::DOUBLE) ORDER BY r) AS xs,
         |          list(ln(freq::DOUBLE) ORDER BY r) AS ys
         |        FROM top),
         |sums AS (SELECT n,
         |    list_reduce([0.0::DOUBLE] || xs, (a, b) -> a + b) AS sx,
         |    list_reduce([0.0::DOUBLE] || ys, (a, b) -> a + b) AS sy,
         |    list_reduce([0.0::DOUBLE] || list_transform(range(len(xs)), i -> xs[i+1] * ys[i+1]), (a, b) -> a + b) AS sxy,
         |    list_reduce([0.0::DOUBLE] || list_transform(xs, x -> x * x), (a, b) -> a + b) AS sxx
         |  FROM lst),
         |fit AS (SELECT
         |    floor(((n * sxy - sx * sy) / (n * sxx - sx * sx)) * 1000000)::BIGINT AS slope_fpm,
         |    floor(((sy - ((n * sxy - sx * sy) / (n * sxx - sx * sx)) * sx) / n) * 1000000)::BIGINT AS intercept_fpm
         |  FROM sums)
         |SELECT t.r AS rank, t.w AS word, t.freq, f.slope_fpm, f.intercept_fpm
         |FROM top t, fit f ORDER BY t.r""").stripMargin,

    // doubling doc prefixes by rank, type first-level via min, per-level
    // cumulative volumes, local Heaps exponent as floored ln-ratio
    "t69_heaps_growth" ->
      ("""WITH nm AS (SELECT doc_id, trim(regexp_replace(lower(text), '\s+', ' ', 'g')) AS t FROM documents),
         |tk AS (SELECT doc_id, list_filter(string_split(t, ' '), x -> len(x) > 0) AS tk FROM nm),
         |rk AS (SELECT doc_id, tk, row_number() OVER (ORDER BY doc_id) AS r FROM tk),
         |nn AS (SELECT count(*)::BIGINT AS n FROM rk),
         |lv AS (SELECT unnest(range(1, 9))::BIGINT AS level),
         |thr AS (SELECT level, CASE WHEN level = 8 THEN n
         |                          ELSE (n + (1 << (8 - level)) - 1) // (1 << (8 - level)) END AS cap
         |        FROM lv, nn),
         |dlev AS (SELECT r, tk, (SELECT min(level) FROM thr WHERE cap >= rk.r) AS ml FROM rk),
         |ns AS (SELECT unnest([1, 2, 3]) AS n),
         |g AS (SELECT dlev.ml, ns.n,
         |        unnest(list_transform(range(greatest(len(tk) - ns.n + 1, 0)),
         |          i -> array_to_string(tk[(i + 1):(i + ns.n)], ' '))) AS gm
         |      FROM dlev, ns),
         |inst AS (SELECT n, ml, count(*)::BIGINT AS gi FROM g GROUP BY 1, 2),
         |typ AS (SELECT n, gm, min(ml) AS fl FROM g GROUP BY 1, 2),
         |tcnt AS (SELECT n, fl AS ml, count(*)::BIGINT AS tc FROM typ GROUP BY 1, 2),
         |cum AS (
         |  SELECT l.level, s.n,
         |    (SELECT t2.cap FROM thr t2 WHERE t2.level = l.level) AS n_docs,
         |    coalesce((SELECT sum(gi) FROM inst WHERE inst.n = s.n AND inst.ml <= l.level), 0)::BIGINT AS grams,
         |    coalesce((SELECT sum(tc) FROM tcnt WHERE tcnt.n = s.n AND tcnt.ml <= l.level), 0)::BIGINT AS types
         |  FROM lv l, ns s),
         |bet AS (
         |  SELECT c.*, p.grams AS pg, p.types AS pt
         |  FROM cum c LEFT JOIN cum p ON p.n = c.n AND p.level = c.level - 1)
         |SELECT n::BIGINT AS n, level, n_docs, grams, types,
         |  CASE WHEN pt IS NULL OR pt = 0 OR pg = 0 OR grams = pg OR types = pt THEN 0
         |       ELSE floor((ln(types::DOUBLE / pt) / ln(grams::DOUBLE / pg)) * 1000000)::BIGINT END AS beta_fpm
         |FROM bet ORDER BY n, level""").stripMargin,

    // A-ES replay: same md5 draw, same ln((h+1)/1000001)/w key, same
    // (key desc, id) top-k; key_fpb is the floor of the identical double
    "t71_weighted_sample" ->
      ("""WITH h AS (SELECT doc_id, n_chars::BIGINT AS w,
         |             ('0x' || substr(md5('wrs:' || doc_id), 1, 6))::BIGINT % 1000000 AS hv
         |           FROM documents),
         |k AS (SELECT doc_id, w, ln((hv + 1) / 1000001.0) / w AS key FROM h),
         |top AS (SELECT doc_id, w, key,
         |          row_number() OVER (ORDER BY key DESC, doc_id) AS rank_pos
         |        FROM k ORDER BY key DESC, doc_id LIMIT 50)
         |SELECT rank_pos, doc_id, w AS weight,
         |  floor(key * 1000000000)::BIGINT AS key_fpb
         |FROM top ORDER BY rank_pos""").stripMargin,

    // equivalence classes on the QI tuple, distinct-sensitive count,
    // exact worst-case risk, k/l properties, keep/suppress action
    "t72_k_anonymity" ->
      ("""WITH qi AS (
         |  SELECT source, lang, n_chars // 256 AS len_bucket,
         |    ('0x' || substr(md5('au:' || doc_id), 1, 6))::BIGINT % 50 AS author
         |  FROM documents),
         |c AS (SELECT source, lang, len_bucket, count(*)::BIGINT AS class_size,
         |        count(DISTINCT author)::BIGINT AS l_distinct
         |      FROM qi GROUP BY 1, 2, 3)
         |SELECT source, lang, len_bucket, class_size, l_distinct,
         |  1000000 // class_size AS reident_risk_ppm,
         |  class_size >= 5 AS k_anonymous, l_distinct >= 3 AS l_diverse,
         |  CASE WHEN class_size >= 5 AND l_distinct >= 3 THEN 'keep'
         |       ELSE 'suppress' END AS action
         |FROM c ORDER BY 1, 2, 3""").stripMargin
  )
}
