package graft.operators

import org.apache.spark.sql.{DataFrame, Column}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.functions.text

/** Corpus-level training-data pipeline operators beyond dedup ([[Dedup]]):
  * boilerplate detection, Gopher-style repetition quality gates, train/eval
  * decontamination, deterministic stratified sampling, shard-wise sequence
  * packing, and per-stratum heavy hitters.
  *
  * These are the ops a 100 TB pretraining-data build runs between raw ingest
  * and tokenized shards (the reference stops at RAG indexing; a training
  * pipeline additionally curates). Scale design mirrors Dedup's rules: every
  * operator is an equi-key groupBy / window / broadcast-join — no cross
  * joins, no driver-side loops, and per-row work is bounded by document
  * length, never corpus size.
  */
object Corpus {

  /** Word n-grams appearing in >= minDocs distinct documents — the
    * corpus-level boilerplate detector (header/footer/license spans in a web
    * crawl). Per-doc DISTINCT shingles feed one hash-groupBy, so the shuffle
    * carries (ngram, 1) rows with map-side combine; at 100 TB the same plan
    * holds (optionally pre-filtered by a count-min sketch to drop the
    * singleton long tail before the exchange). */
  def boilerplateNgrams(df: DataFrame, idCol: String, textCol: String,
                        n: Int, minDocs: Long): DataFrame =
    graft.Tables.scaled(
      df.select(col(idCol).cast("long").as("id"), col(textCol).as("t")))
      .select(explode(text.word_shingles(col("t"), n)).as("ngram"))
      .groupBy("ngram").agg(count(lit(1)).as("n_docs"))
      .filter(col("n_docs") >= minDocs)

  /** Per-document repetition metrics (Gopher-style quality rules over the
    * token stream). All outputs are exact integer counts — cross-engine
    * hash-stable — and the keep decision uses cross-multiplied rational
    * comparisons so no floating point is involved:
    * keep = top-token fraction <= 0.15 AND distinct-token ratio >= 0.5.
    * Per-row cost is O(distinct_tokens * tokens), bounded by doc length —
    * embarrassingly parallel, no shuffle at all. */
  def repetitionMetrics(df: DataFrame, idCol: String, textCol: String,
                        ngram: Int = 5): DataFrame = {
    val toks = text.tokens(col("t"))
    val withToks = graft.Tables.scaled(
      df.select(col(idCol).cast("long").as("id"), col(textCol).as("t")))
      .select(col("id"), toks.as("tk"),
        text.word_shingles(col("t"), ngram).as("sh"))
    // One compiled pass per row (r17 optimization round): the previous
    // `top` fold was an interpreted HOF doing a full filter scan per
    // DISTINCT token — O(n·distinct) boxed comparisons per document; the
    // token_stats kernel computes n/nd/top/chars in one O(n) hash pass
    // with identical UTF8String equality and long arithmetic.
    val st = graft.functions.GenEvalExpressions.token_stats(col("tk"))
    val n = st.getField("n")
    val nd = st.getField("nd")
    val top = coalesce(st.getField("top"), lit(0L))
    withToks.select(
      col("id"),
      n.as("n_tokens"),
      nd.as("n_distinct"),
      greatest(n - (ngram - 1), lit(0L)).as("n_ngrams"),
      size(col("sh")).cast("long").as("n_distinct_ngrams"),
      top.as("top_token_count"),
      st.getField("chars").as("sum_token_chars"),
      (top * 20 <= n * 3 && nd * 2 >= n).as("keep"))
  }

  /** Train/eval contamination check: train documents sharing any word
    * n-gram with the eval split, with the shared-distinct-ngram count
    * (the GPT-3-style n-gram decontamination pass). The eval side of a
    * training build is tiny relative to the corpus, so its exploded ngram
    * set is broadcast — the train side streams through map-side without a
    * shuffle for the join; only the per-doc count aggregates. */
  def decontaminate(train: DataFrame, eval_ : DataFrame,
                    idCol: String, textCol: String, n: Int): DataFrame =
    exactArm(ngramStream(train, idCol, textCol, n),
      ngramStream(eval_, idCol, textCol, n).select("g").distinct())

  /** The (id, g) word-n-gram stream every decontamination path derives
    * from — one definition so the arms and the dispatch count can never
    * tokenize differently. */
  private def ngramStream(df: DataFrame, idCol: String, textCol: String,
                          n: Int): DataFrame = graft.Tables.scaled(
    df.select(col(idCol).cast("long").as("id"), col(textCol).as("t")))
    .select(col("id"), explode(text.word_shingles(col("t"), n)).as("g"))

  private def exactArm(trainNgrams: DataFrame, evalNgrams: DataFrame): DataFrame =
    trainNgrams
      .join(broadcast(evalNgrams), "g")
      .groupBy("id").agg(count(lit(1)).as("n_shared"))

  /** [[decontaminate]] with a Bloom-filter prefilter — the 100 TB shape.
    * The broadcast semi-join in `decontaminate` assumes the eval n-gram set
    * broadcasts; when it doesn't (big eval suites × big n), this variant
    * builds a distributed Bloom sketch over the eval n-grams (Spark's
    * internal `BloomFilterAggregate`, the runtime-filter machinery), ships
    * only the sketch bytes (MBs for ~4M n-grams at 1% fpp — the driver holds
    * a sketch, never rows), and probes it inside whole-stage codegen so
    * ~`1-fpp` of the train n-gram stream is dropped map-side BEFORE any
    * join. The surviving candidates flow into an exact equi-join (strategy
    * left to AQE — the candidate side is now tiny), which removes Bloom
    * false positives, so the result is IDENTICAL to the exact
    * [[decontaminate]]: no false negatives by Bloom's contract, no false
    * positives past the confirm join. */
  def bloomDecontaminate(train: DataFrame, eval_ : DataFrame,
                         idCol: String, textCol: String, n: Int,
                         expectedEvalNgrams: Long = 1L << 22,
                         fpp: Double = 0.01): DataFrame =
    // read twice (sketch build now, confirm join later): the stage cut
    // materializes the explode+distinct once WITHOUT a forever-cache — the
    // blocks are released by the ContextCleaner when the frame goes out of
    // scope, where an explicit .cache() would pin executor storage for the
    // rest of the session
    bloomArm(ngramStream(train, idCol, textCol, n),
      graft.StageCut(ngramStream(eval_, idCol, textCol, n).select("g").distinct(),
        "bloomDecontaminate.evalNgrams"),
      expectedEvalNgrams, fpp)

  /** `evalNgrams` must already be materialized (a stage cut) — it is
    * read twice: sketch build, then confirm join. */
  private def bloomArm(trainNgrams: DataFrame, evalNgrams: DataFrame,
                       expectedEvalNgrams: Long, fpp: Double): DataFrame = {
    val numBits = math.max(64L,
      math.ceil(-expectedEvalNgrams.toDouble * math.log(fpp)
        / (math.log(2) * math.log(2))).toLong)
    val bfBytes = evalNgrams
      .agg(org.apache.spark.sql.graftbridge.BloomBridge
        .bloomAgg(xxhash64(col("g")), expectedEvalNgrams, numBits).as("bf"))
      .head().getAs[Array[Byte]]("bf")
    val confirm = trainNgrams.join(evalNgrams, "g")
      .groupBy("id").agg(count(lit(1)).as("n_shared"))
    // zero eval n-grams → the aggregate yields a null sketch; the exact
    // semantics are "nothing is contaminated", which the (empty) confirm
    // join already computes — only the prefilter needs the sketch
    if (bfBytes == null) confirm
    else trainNgrams
      .filter(org.apache.spark.sql.graftbridge.BloomBridge
        .mightContain(xxhash64(col("g")), bfBytes))
      .join(evalNgrams, "g")
      .groupBy("id").agg(count(lit(1)).as("n_shared"))
  }

  /** Decontamination FRONT DOOR: measures the eval side and dispatches to
    * the plan that fits — the same size-adaptive pattern as
    * [[Dedup.connectedComponents]]. Both arms compute IDENTICAL results
    * ([[bloomDecontaminate]]'s confirm join removes every Bloom false
    * positive), so the choice is purely physical:
    *
    *  - eval distinct n-grams <= `broadcastNgramThreshold` → exact
    *    broadcast semi-join ([[decontaminate]]): one corpus pass, zero
    *    train-side shuffle before the per-doc count.
    *  - above it → Bloom sketch + confirm ([[bloomDecontaminate]]): the
    *    eval set no longer belongs in a broadcast (at ~20 B per n-gram the
    *    default 1M threshold is a ~20 MB ship — the edge of sane; 100×
    *    that would eat executor memory k times over), so ship a fixed-MB
    *    sketch instead and let the prefilter drop ~(1−fpp) of the train
    *    stream map-side before the exact equi-join confirms.
    *
    * The dispatch price is one count over the eval side's distinct n-grams
    * — eval-suite-sized (the tiny side by construction: this is the side
    * we considered broadcasting), mirroring `connectedComponents`' edge
    * count — and the pass is not wasted: the counted set is
    * lazily stage-cut and feeds the chosen arm directly (the count
    * materializes it), so the eval side is tokenized and deduped exactly
    * once, and the measured count seeds the Bloom sizing instead of a
    * guess. Threshold overridable per deployment (bigger executors →
    * raise it). */
  def decontaminateAuto(train: DataFrame, eval_ : DataFrame,
                        idCol: String, textCol: String, n: Int,
                        broadcastNgramThreshold: Long = 1L << 20,
                        fpp: Double = 0.01): DataFrame = {
    val evalNgrams = graft.StageCut(ngramStream(eval_, idCol, textCol, n)
      .select("g").distinct(), "decontaminateAuto.evalNgrams", eager = false)
    val evalDistinct = evalNgrams.count()
    val trainNgrams = ngramStream(train, idCol, textCol, n)
    if (evalDistinct <= broadcastNgramThreshold)
      exactArm(trainNgrams, evalNgrams)
    else
      bloomArm(trainNgrams, evalNgrams,
        expectedEvalNgrams = math.max(evalDistinct, 64L), fpp = fpp)
  }

  /** [[heavyHitters]]'s unbounded-vocabulary twin: exact heavy tokens via a
    * count-min-sketch prefilter. The exact groupBy's shuffle carries the
    * whole vocabulary; when that is unbounded (web-crawl n-grams, URLs),
    * pass 1 builds a CMS (Spark's `count_min_sketch` aggregate over
    * xxhash64 keys — fixed KBs of state per partial, any vocab size) and
    * pass 2 drops every token occurrence whose ESTIMATE is already below
    * the threshold map-side, so only plausibly-heavy occurrences reach the
    * exchange. CMS never underestimates (fixed seed → deterministic), so
    * the candidate set is a superset of the true heavy set and the exact
    * count + final threshold make the result IDENTICAL to the exact
    * computation — the oracle is plain exact SQL. */
  def cmsHeavyTokens(df: DataFrame, textCol: String, threshold: Long,
                     eps: Double = 1e-4, confidence: Double = 0.99,
                     seed: Int = 1): DataFrame = {
    val toks = graft.Tables.scaled(df.select(col(textCol).as("t")))
      .select(explode(text.tokens(col("t"))).as("token"))
      .withColumn("h", xxhash64(col("token")))
    val sketchBytes = toks
      .agg(expr(s"count_min_sketch(h, CAST($eps AS DOUBLE), " +
        s"CAST($confidence AS DOUBLE), $seed)"))
      .head().getAs[Array[Byte]](0)
    toks
      .filter(graft.functions.SketchExpressions
        .cms_estimate(col("h"), sketchBytes) >= threshold)
      .groupBy("token").agg(count(lit(1)).as("cnt"))
      .filter(col("cnt") >= threshold)
  }

  /** Global deterministic corpus shuffle into training shards: every row
    * gets a pure-hash shuffle key, a shard assignment, and a within-shard
    * sequence number — the standard "shuffle once, then stream shards in
    * order" pretraining layout, reproducible on any engine / any re-run (no
    * RNG state). Scale: the shard assignment is stateless map-only; the
    * within-shard ordering is one window per shard, so shards sort in
    * parallel and `numShards` scales with the corpus (a few million rows
    * per shard keeps each sort in-memory). */
  def shuffleShards(df: DataFrame, idCol: String, numShards: Int,
                    seed: String): DataFrame = {
    val key = concat(lit(seed), lit(":"), col(idCol).cast("string"))
    df.withColumn("shuffle_key", md5(key))
      .withColumn("shard", text.md5_prefix_long(key, 1, 6) % numShards)
      .withColumn("seq", row_number().over(
        Window.partitionBy("shard").orderBy(col("shuffle_key"), col(idCol))))
  }

  /** Leakage-safe train/val/test split: the split is decided per GROUP —
    * URL domain, dedup cluster label (t9/t17/t23 output), or any
    * contamination boundary — never per document, so near-duplicates and
    * same-source pages cannot straddle train and eval (the classic
    * benchmark-leakage pitfall: doc-level random splits put one copy of a
    * duplicated page in train and its twin in test, and the model is
    * graded on memorization). Assignment is the [[shuffleShards]]
    * derandomized rule on the GROUP key: bucket = first 6 md5 hex chars of
    * `seed:group` mod 10000 basis points, split by cumulative ranges over
    * `weights` (basis points, must sum to 10000) — deterministic,
    * engine-replayable, re-run stable, and independent of corpus size or
    * group enumeration order. Output: input + `split` label.
    *
    * 100 TB shape: stateless map-only — the group key is already on the
    * row (join a cluster-label table first if it is not), the md5 and
    * range compare are per-row codegen. No shuffle, no group
    * materialization. */
  def leakageSafeSplit(df: DataFrame, groupCol: String,
                       weights: Seq[(String, Int)],
                       seed: String): DataFrame = {
    require(weights.nonEmpty && weights.map(_._2).sum == 10000,
      s"weights must be basis points summing to 10000 (got $weights)")
    require(weights.forall(_._2 > 0), s"zero-weight split: $weights")
    val bucket = text.md5_prefix_long(
      concat(lit(seed), lit(":"), col(groupCol).cast("string")), 1, 6) % 10000
    val cuts = weights.scanLeft(0) { case (acc, (_, w)) => acc + w }.tail
    val label = weights.map(_._1).zip(cuts).foldRight(lit(weights.last._1)) {
      case ((name, hi), rest) => when(bucket < hi, name).otherwise(rest)
    }
    df.withColumn("split", label)
  }

  /** Per-stratum corpus profile: doc counts, token-count sum/min/max and
    * exact interpolated percentiles (p50/p90/p99) of tokens-per-doc — the
    * summary a curation run reports per language/source. Exact `percentile`
    * is a holistic agg whose state is a value-frequency map, bounded by the
    * distinct token-count range, not the corpus; when even that is too wide,
    * swap `percentile` for `approx_percentile` (t-digest) with everything
    * else unchanged. */
  def profile(df: DataFrame, strataCol: String, textCol: String): DataFrame =
    graft.Tables.scaled(
      df.select(col(strataCol).as("stratum"), col(textCol).as("t")))
      .select(col("stratum"), text.token_count(col("t")).cast("long").as("n_tok"))
      .groupBy("stratum")
      .agg(count(lit(1)).as("n_docs"),
        sum("n_tok").cast("long").as("sum_tokens"),
        min("n_tok").cast("long").as("min_tokens"),
        max("n_tok").cast("long").as("max_tokens"),
        expr("percentile(n_tok, 0.5)").as("p50"),
        expr("percentile(n_tok, 0.9)").as("p90"),
        expr("percentile(n_tok, 0.99)").as("p99"))

  /** Per-stratum distinct-cardinality profile — vocabulary size (distinct
    * tokens), total token volume, and doc counts per language/source: the
    * type/token statistics a corpus card reports and the input to
    * vocabulary-growth (Heaps' law) monitoring across crawl snapshots.
    *
    * EXACT arm of the rule-21 twin (HLL sibling:
    * [[distinctProfileApprox]]). Distinct counting is holistic, but this
    * arm never buffers values: it runs as TWO algebraic aggregations —
    * a map-side-combined (stratum, token) count (the shuffle carries one
    * row per distinct (stratum, token), the vocabulary, not the token
    * stream) and a |vocab|-sized rollup. That is the exact-distinct shape
    * that survives 100 TB when the vocabulary itself fits an exchange
    * (it grows sub-linearly — the t16 x64 evidence); when even the
    * vocabulary is too wide, swap in the HLL arm unchanged. */
  def distinctProfile(df: DataFrame, strataCol: String,
                      textCol: String): DataFrame = {
    val vocab = tokenStream(df, strataCol, textCol)
      .groupBy("stratum", "token").agg(count(lit(1)).as("cnt"))
      .groupBy("stratum")
      .agg(count(lit(1)).as("vocab"), sum("cnt").cast("long").as("n_tokens"))
    profileShape(df, strataCol, vocab)
  }

  /** SCALE arm: HyperLogLog++ distinct counts (`approx_count_distinct`,
    * relative standard deviation `rsd`) — ONE corpus pass, mergeable
    * bounded sketch state per stratum, no (stratum, token) exchange at
    * all. Same output shape as [[distinctProfile]]; CorpusProfileSpec pins
    * the arms within the sketch bound (and HLL++'s sparse mode makes them
    * EQUAL below ~rsd⁻² distinct values), so a 100 TB deployment swaps
    * arms as a measured trade, not a semantic change (design rule 21). */
  def distinctProfileApprox(df: DataFrame, strataCol: String,
                            textCol: String, rsd: Double = 0.01): DataFrame = {
    val vocab = tokenStream(df, strataCol, textCol)
      .groupBy("stratum")
      .agg(approx_count_distinct(col("token"), rsd).as("vocab"),
        count(lit(1)).as("n_tokens"))
    profileShape(df, strataCol, vocab)
  }

  private def tokenStream(df: DataFrame, strataCol: String,
                          textCol: String): DataFrame =
    graft.Tables.scaled(
      df.select(col(strataCol).as("stratum"), col(textCol).as("t")))
      .select(col("stratum"), explode(text.tokens(col("t"))).as("token"))

  /** Doc counts from the un-exploded frame + left join of the (token-less
    * strata keep honest zeros, not dropped rows) |strata|-sized vocab
    * rollup — both sides broadcast-sized by construction. */
  private def profileShape(df: DataFrame, strataCol: String,
                           vocab: DataFrame): DataFrame =
    df.groupBy(col(strataCol).as("stratum")).agg(count(lit(1)).as("n_docs"))
      .join(vocab, Seq("stratum"), "left")
      .select(col("stratum"), col("n_docs"),
        coalesce(col("vocab"), lit(0L)).as("vocab"),
        coalesce(col("n_tokens"), lit(0L)).as("n_tokens"))

  /** Deterministic stratified downsampling: a document's sample bucket is a
    * pure hash of its id (md5 → 0..99), so the decision is reproducible on
    * any engine and any re-run — no RNG state, no seed plumbing. Rates are
    * per-stratum (e.g. downweight the majority language). Returns the input
    * plus (bucket, kept); aggregate for audit counts. Scale: stateless
    * map-only — the sample decision never shuffles. */
  def hashSample(df: DataFrame, idCol: String, strataCol: String,
                 rates: Map[String, Int], defaultRate: Int): DataFrame = {
    val bucket = text.md5_prefix_long(col(idCol).cast("string"), 1, 6) % 100
    val rate = rates.foldRight(lit(defaultRate): Column) { case ((k, r), els) =>
      when(col(strataCol) === k, lit(r)).otherwise(els)
    }
    df.withColumn("bucket", bucket).withColumn("kept", bucket < rate)
  }

  /** Temperature-weighted source mixing (the pretraining data-mixture
    * reweighting of T5/LLaMA: sample stratum i with p_i ∝ n_i^α, α<1
    * upweighting rare strata). α is fixed at 0.5 because IEEE sqrt is
    * CORRECTLY ROUNDED — pow(x, 0.5) is not — so the per-stratum keep
    * rates are bit-identical in any engine. Deterministic keep decision =
    * md5 bucket (basis points) < floor(1e4 · min(1, target·p_i/n_i)), same
    * keyed-hash scheme as [[hashSample]].
    *
    * 100 TB shape: one count aggregation (map-side combined), the
    * |strata|-row count table folds driver-side in stratum order (the fold
    * order is part of the contract so the oracle replays it), and the keep
    * decision is a narrow map with the rates as plan literals — no join,
    * no second shuffle. */
  def temperatureMix(df: DataFrame, idCol: String, strataCol: String,
                     targetTotal: Long): DataFrame = {
    // cast-to-string + null filter: a non-string stratum column still mixes
    // (keyed by its string form), and null-stratum rows never reach the
    // rate map — they fall to the coalesce(0) below and are dropped, the
    // safe default for unlabeled rows in a curation pass.
    val counts = df.groupBy(col(strataCol).cast("string").as("__s")).count()
      .collect().flatMap(r => Option(r.getString(0)).map(_ -> r.getLong(1)))
      .sortBy(_._1)
    val sumSqrt = counts.foldLeft(0.0) { case (acc, (_, n)) => acc + math.sqrt(n.toDouble) }
    val rateBp: Map[String, Long] = counts.map { case (s, n) =>
      val p = math.sqrt(n.toDouble) / sumSqrt
      s -> math.floor(math.min(1.0, targetTotal.toDouble * p / n.toDouble) * 10000.0).toLong
    }.toMap
    val bucket = text.md5_prefix_long(col(idCol).cast("string"), 1, 6) % 10000
    df.withColumn("rate_bp",
        coalesce(element_at(typedLit(rateBp), col(strataCol).cast("string")), lit(0L)))
      .withColumn("bucket", bucket)
      .withColumn("kept", bucket < col("rate_bp"))
  }

  /** Shard-wise sequence packing (concat-and-chunk): within each shard,
    * documents are concatenated in id order and cut into fixed token-budget
    * bins — the standard pretraining sequence construction. Emits each
    * document's token offset and the first/last bin it lands in. The running
    * sum windows PER SHARD, so shards pack in parallel (the 100 TB shape:
    * one task per shard, no global ordering barrier — a global pack would
    * serialize on a single partition). */
  def packSequences(df: DataFrame, idCol: String, shardCol: String,
                    tokenCountCol: Column, budget: Long): DataFrame = {
    val w = Window.partitionBy(col(shardCol)).orderBy(col(idCol))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val cum = sum(tokenCountCol).over(w)
    df.select(col(idCol).cast("long").as("id"), col(shardCol).as("shard"),
      tokenCountCol.cast("long").as("n_tok"), cum.cast("long").as("cum"))
      .select(col("id"), col("shard"), col("n_tok"),
        (col("cum") - col("n_tok")).as("tok_start"),
        // Integer `div`, not double '/': keeps the pipeline integer-exact
        // past 2^53 cumulative tokens (offsets are non-negative, so
        // truncating and flooring division agree with DuckDB's `//`).
        expr(s"(cum - n_tok) div ${budget}L").as("bin_first"),
        when(col("n_tok") > 0, expr(s"(cum - 1) div ${budget}L"))
          .otherwise(expr(s"(cum - n_tok) div ${budget}L")).as("bin_last"))
  }

  /** GPT-style pretraining CONTEXT-WINDOW construction (the final stage of
    * an LLM data pipeline, and the one [[packSequences]] deliberately is
    * not): documents are tokenized, terminated with an `eos` sentinel,
    * concatenated per shard in doc-id order, and SLICED into fixed
    * `blockTokens`-token blocks — documents split across block boundaries
    * (GPT-2/3 data prep), where t15/t44 pack WHOLE docs into budgets.
    * Emits one row per (shard, block): token count (== blockTokens except
    * each shard's tail block), covering doc span, and the md5 of the
    * block's space-joined token stream — the content hash a downstream
    * writer can use for block-level dedup/verification.
    *
    * 100 TB shape: the only per-shard-ordered state is the window
    * cumulative sum over DOC rows (one row per doc, the t15 discipline —
    * shards are bounded by the sharding policy, e.g. id div S keeps shard
    * size constant as the corpus grows, and blocks never cross shards
    * because training shards are independent files); the token stream then
    * explodes map-only into ONE (shard, block) aggregation whose per-group
    * state is bounded by `blockTokens` itself. No corpus-sized sort, no
    * join. Determinism: doc-id order + integer `div` offsets (exact past
    * 2^53), array_sort on (pos, token) structs before the hash fold. */
  def contextWindows(df: DataFrame, idCol: String, shardCol: String,
                     textCol: String, blockTokens: Long,
                     eos: String = "</s>"): DataFrame = {
    require(blockTokens >= 1, s"contextWindows needs blockTokens>=1 (got $blockTokens)")
    val w = Window.partitionBy(col(shardCol)).orderBy(col(idCol))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val toks = graft.Tables.scaled(df)
      .withColumn("__tk",
        concat(graft.functions.text.tokens(col(textCol)), array(lit(eos))))
      .withColumn("__n", size(col("__tk")).cast("long"))
    val stream = toks
      .withColumn("__start", sum(col("__n")).over(w) - col("__n"))
      .select(col(shardCol).cast("long").as("shard"),
        col(idCol).cast("long").as("doc"), col("__start"),
        posexplode(col("__tk")).as(Seq("__i", "token")))
      .withColumn("pos", col("__start") + col("__i"))
      .withColumn("block_id", expr(s"pos div ${blockTokens}L"))
    stream.groupBy("shard", "block_id")
      .agg(count(lit(1)).cast("long").as("n_tokens"),
        min("doc").as("first_doc"), max("doc").as("last_doc"),
        md5(concat_ws(" ",
          transform(array_sort(collect_list(struct(col("pos"), col("token")))),
            x => x.getField("token")))).as("tok_md5"))
  }

  /** Exact per-stratum heavy hitters: top-k tokens by frequency (count desc,
    * token asc tiebreak). Explode → hash-groupBy with map-side combine →
    * SALTED two-phase top-k. The naive single window
    * `partitionBy(stratum)` is a 100 TB trap when |strata| is small (5
    * languages): it funnels the ENTIRE vocabulary — billions of distinct
    * web tokens — through |strata| sort tasks. Instead phase 1 ranks
    * within (stratum, hash-salt) across `salts` parallel partitions and
    * keeps k per salt (any global top-k token is top-k within its own
    * salt, so no candidate is lost); phase 2 ranks the |strata|·salts·k
    * survivors — a few thousand rows at any corpus size. Results are
    * bit-identical to the single-window form. A count-min sketch +
    * candidate verify ([[cmsHeavyTokens]]) replaces the exact count only
    * when the vocabulary itself must not be materialized. */
  def heavyHitters(df: DataFrame, strataCol: String, textCol: String,
                   k: Int, salts: Int = 32): DataFrame =
    saltedTopK(heavyHittersDelta(df, strataCol, textCol), k, salts)

  /** The per-batch delta for [[heavyHittersFromCounts]]: partial
    * (stratum, token, cnt) counts — ONE map-side-combined aggregation over
    * the batch, appended to an accumulated parts table by an ingest stream
    * (the [[graft.operators.FullText.indexDelta]] incremental-maintenance
    * shape). The batch [[heavyHitters]] is literally this delta fed to the
    * ranking tail, so the two arms cannot drift.
    *
    * SINK CONTRACT (exactly-once): foreachBatch may REPLAY a micro-batch
    * after a failure, and a plain `append` of this delta would then
    * double-count the batch's tokens. Stamp each part with the sink's
    * `batchId` and write `mode("overwrite")` partitioned by that stamp
    * with `partitionOverwriteMode=dynamic`, so a replayed batch replaces
    * its own partition instead of appending a second copy —
    * StreamingHeavyHittersSpec gates exactly this pattern, replay
    * included. */
  def heavyHittersDelta(df: DataFrame, strataCol: String,
                        textCol: String): DataFrame =
    graft.Tables.scaled(
      df.select(col(strataCol).as("stratum"), col(textCol).as("t")))
      .select(col("stratum"), explode(text.tokens(col("t"))).as("token"))
      .groupBy("stratum", "token").agg(count(lit(1)).as("cnt"))

  /** Top-k over an ACCUMULATED counts table whose (stratum, token) keys
    * repeat across appended parts: re-sum (map-side combined — each part
    * is already one row per key), then the identical salted ranking tail.
    * Rebuild-equivalence (streamed parts == batch rerun over everything
    * ingested) is gated by StreamingHeavyHittersSpec. */
  def heavyHittersFromCounts(counts: DataFrame, k: Int,
                             salts: Int = 32): DataFrame =
    saltedTopK(counts.groupBy("stratum", "token")
      .agg(sum("cnt").cast("long").as("cnt")), k, salts)

  /** The design-rule-18 salted two-phase top-k tail shared by both arms. */
  private def saltedTopK(counts: DataFrame, k: Int, salts: Int): DataFrame = {
    require(salts >= 1, s"heavyHitters needs salts>=1 (got $salts)")
    val localTop = counts
      .withColumn("__salt", pmod(hash(col("token")), lit(salts)))
      .withColumn("__lr",
        row_number().over(Window.partitionBy("stratum", "__salt")
          .orderBy(col("cnt").desc, col("token").asc)))
      .filter(col("__lr") <= k)
      .drop("__salt", "__lr")
    localTop.withColumn("rank",
      row_number().over(Window.partitionBy("stratum")
        .orderBy(col("cnt").desc, col("token").asc)))
      .filter(col("rank") <= k)
  }

  /** Vocabulary-coverage gate — the OOV-rate filter tokenizer-owning
    * pipelines run before committing a corpus slice to training: score each
    * doc by the fraction of its tokens OUTSIDE the corpus's own top-`vocabK`
    * vocabulary (high OOV ⇒ encoding damage, foreign scripts, or boilerplate
    * the tokenizer will shatter into bytes). Deterministic vocabulary: the
    * top-`vocabK` tokens by (count desc, token asc) — the full tiebreak
    * makes the boundary exact, so the oracle replays it.
    *
    * 100 TB shape: token counts are ONE map-side-combined groupBy; the
    * vocabulary is a k-bounded TakeOrderedAndProject (per-partition heaps,
    * driver merges 32·k rows — never a global sort) broadcast into the
    * token stream; the per-doc roll-up is one aggregation; the final left
    * join restores token-less docs (n_tokens=0, oov_bp=0) instead of
    * silently dropping them. Output: id, n_tokens, n_oov, oov_bp (basis
    * points, integer div — exact). */
  def oovRate(df: DataFrame, idCol: String, textCol: String,
              vocabK: Int): DataFrame = {
    require(vocabK >= 1, s"oovRate needs vocabK>=1 (got $vocabK)")
    val toks = graft.Tables.scaled(
      df.select(col(idCol).as("id"), col(textCol).as("t")))
      .select(col("id"), explode(text.tokens(col("t"))).as("token"))
    val vocab = toks.groupBy("token").agg(count(lit(1)).as("cnt"))
      .orderBy(col("cnt").desc, col("token").asc).limit(vocabK)
      .select(col("token").as("vtoken"))
    val perDoc = toks
      .join(broadcast(vocab), toks("token") === col("vtoken"), "left")
      .groupBy(col("id"))
      .agg(count(lit(1)).as("n_tokens"),
        sum(when(col("vtoken").isNull, 1L).otherwise(0L)).as("n_oov"))
    df.select(col(idCol).as("id"))
      .join(perDoc, Seq("id"), "left")
      .select(col("id"),
        coalesce(col("n_tokens"), lit(0L)).as("n_tokens"),
        coalesce(col("n_oov"), lit(0L)).as("n_oov"))
      .withColumn("oov_bp",
        when(col("n_tokens") > 0,
          org.apache.spark.sql.graftbridge.ColumnBridge.column(
            org.apache.spark.sql.catalyst.expressions.IntegralDivide(
              org.apache.spark.sql.graftbridge.ColumnBridge.expression(
                lit(10000L) * col("n_oov")),
              org.apache.spark.sql.graftbridge.ColumnBridge.expression(
                col("n_tokens")))))
          .otherwise(lit(0L)))
  }

  /** First-fit-decreasing sequence packing per shard — the utilization
    * upgrade over [[packSequences]]' cumulative-offset form (which wastes
    * every bin tail a long doc straddles): items sort (len desc, id asc)
    * and each takes the FIRST bin with room (the classic 11/9·OPT
    * guarantee), via the [[graft.functions.PackExpressions.FfdPack]]
    * kernel. Inherently sequential per shard, so each shard's items
    * collect into one task (the bounded-per-shard contract [[Features]]'
    * EWMA fold states — a shard IS a unit a packing job sizes to fit).
    * Output: one row per item — id, shard, `len`, `bin` (0-based). */
  def packFfd(df: DataFrame, idCol: String, shardCol: String,
              lenExpr: Column, budget: Long): DataFrame = {
    require(budget >= 1, s"packFfd needs budget>=1 (got $budget)")
    val items = df.select(col(shardCol).as("shard"), col(idCol).as("id"),
      lenExpr.cast("long").as("len"))
    val sorted = items.groupBy("shard")
      .agg(sort_array(collect_list(struct(
        (-col("len")).as("negl"), col("id"), col("len")))).as("evs"))
    sorted.select(col("shard"), posexplode(arrays_zip(
        col("evs"),
        graft.functions.PackExpressions.ffd_pack(
          transform(col("evs"), e => e.getField("len")), budget).as("bins"))))
      .select(col("shard"), col("col.evs.id").as("id"),
        col("col.evs.len").as("len"), col("col.bins").as("bin"))
  }

  /** Exact-QUOTA stratified sampling — the fixed-size companion of
    * [[hashSample]]'s fixed-RATE sampling: exactly min(k, |stratum|) rows
    * per stratum (balanced eval sets, per-language probes), selection
    * derandomized on md5(seed:id) so the same corpus and seed pick the
    * same rows on any cluster. The smallest-k-by-key selection is the
    * design-rule-18 salted two-phase window (phase 1 ranks within
    * (stratum, hash(id) % salts) — any global top-k row is top-k within
    * its own salt — phase 2 ranks the |strata|·salts·k survivors), so a
    * handful of strata never funnels the corpus through a few sort tasks.
    * Output: the kept rows + `rank` (1..k within stratum). */
  def quotaSample(df: DataFrame, idCol: String, strataCol: String,
                  k: Int, seed: String, salts: Int = 32): DataFrame = {
    require(k >= 1, s"quotaSample needs k>=1 (got $k)")
    require(salts >= 1, s"quotaSample needs salts>=1 (got $salts)")
    val skey = text.md5_prefix_long(
      concat(lit(seed), lit(":"), col(idCol).cast("string")), 1, 12)
    val keyed = df.withColumn("__skey", skey)
    val local = keyed
      .withColumn("__salt", pmod(hash(col(idCol)), lit(salts)))
      .withColumn("__lr", row_number().over(
        Window.partitionBy(col(strataCol), col("__salt"))
          .orderBy(col("__skey").asc, col(idCol).asc)))
      .filter(col("__lr") <= k).drop("__salt", "__lr")
    local.withColumn("rank", row_number().over(
        Window.partitionBy(col(strataCol))
          .orderBy(col("__skey").asc, col(idCol).asc)))
      .filter(col("rank") <= k)
      .drop("__skey")
  }

  // ------------------------------------------------------------------ URLs

  /** URL normalization for web-corpus curation (the CCNet/RefinedWeb intake
    * shape): lowercase scheme and host, strip default ports (:80/:443) and a
    * leading `www.`, drop the fragment, and remove `utm_*` tracking params
    * while preserving the rest of the query string. Adds `norm_url` plus the
    * registrable `domain` (last two host labels — public-suffix nuances like
    * co.uk are a lookup table in production; documented simplification).
    * RE2-compatible regexes only (no lookbehind), so the identical rule set
    * runs in any engine. Stateless map-only at any scale. */
  def urlNormalize(df: DataFrame, urlCol: String): DataFrame = {
    val u = col(urlCol)
    val scheme = text.fold(regexp_extract(u, "^([A-Za-z][A-Za-z0-9+.-]*)://", 1))
    val hostRaw = text.fold(regexp_extract(u, "^[A-Za-z][A-Za-z0-9+.-]*://([^/?#]*)", 1))
    // Only the scheme's OWN default port is a no-op to strip: http://h:443 is
    // a real non-default port and must stay distinct from http://h.
    val dePorted = when(scheme === "http", regexp_replace(hostRaw, ":80$", ""))
      .when(scheme === "https", regexp_replace(hostRaw, ":443$", ""))
      .otherwise(hostRaw)
    val host = regexp_replace(dePorted, "^www\\.", "")
    val rest = regexp_replace(u, "^[A-Za-z][A-Za-z0-9+.-]*://[^/?#]*", "")
    val path = regexp_extract(rest, "^([^?#]*)", 1)
    val query = regexp_extract(rest, "\\?([^#]*)", 1)
    val cleanedQ = regexp_replace(regexp_replace(query, "(^|&)utm_[^&]*", ""), "^&", "")
    df.withColumn("norm_url",
        concat(scheme, lit("://"), host, path,
          when(cleanedQ =!= "", concat(lit("?"), cleanedQ)).otherwise(lit(""))))
      // Registrable domain never includes a port — strip any remaining
      // (non-default, hence preserved-in-norm_url) port before extraction.
      .withColumn("domain",
        regexp_extract(regexp_replace(host, ":[0-9]+$", ""), "([^.]+\\.[^.]+)$", 1))
  }

  /** Per-domain document caps over a [[urlNormalize]]d frame: keep at most
    * `cap` documents per registrable domain, id-order rank (deterministic —
    * crawl pipelines cap mega-domains so one forum doesn't dominate the
    * corpus). One window partitioned by domain; a mega-domain lands on one
    * reducer only for its rank pass — when a single domain is genuinely
    * unbounded, pre-filter with a per-domain count and hash-sample down
    * before the exact window. */
  def domainCap(df: DataFrame, idCol: String, cap: Int): DataFrame =
    df.withColumn("rank",
        row_number().over(Window.partitionBy("domain").orderBy(col(idCol))))
      .withColumn("kept", col("rank") <= cap)

  /** PII redaction: mask emails, IPv4 addresses and phone-shaped digit runs,
    * returning the scrubbed text plus per-pattern match counts (the audit
    * trail a compliance pass needs). Pure regex column expressions — the
    * patterns are RE2-compatible so the identical rule set runs on any
    * engine. Stateless map-only at any scale.
    *
    * Stated simplifications (the urlNormalize convention — name the rule,
    * not just the regex): emails are the practical ASCII form (no quoted
    * local parts / IDN domains); IPs are dotted-quad IPv4 with no octet
    * range check (no IPv6); phones are NANP-shaped — optional `+1` /
    * `(areacode)` / `area-` prefix over a `exchange-number` core with
    * `-`/`.`/space separators — not E.164 international, no extensions
    * ("x123"), no unseparated 10-digit runs (deliberate: in corpus text
    * those are overwhelmingly ids, not phones). A production pass swaps in
    * a full recognizer; the plan shape (map-only regex mask + counts) is
    * unchanged. */
  val emailRe = "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}"
  val ipv4Re = "\\b[0-9]{1,3}\\.[0-9]{1,3}\\.[0-9]{1,3}\\.[0-9]{1,3}\\b"
  // Alternation instead of one anchored pattern: `\b` cannot sit before
  // `+` or `(` (both non-word chars), so each arm carries its own anchor.
  // Arm order = most-specific first; leftmost-first matching then takes
  // the full number, never a suffix.
  val phoneRe: String =
    "(\\([0-9]{3}\\) ?[0-9]{3}[-. ][0-9]{4}\\b" +          // (212) 555-0147
      "|\\+1[-. ][0-9]{3}[-. ][0-9]{3}[-. ][0-9]{4}\\b" +  // +1 212-555-0147
      "|\\b[0-9]{3}[-. ][0-9]{3}[-. ][0-9]{4}\\b" +        // 212.555.0147
      "|\\b[0-9]{3}[-. ][0-9]{4}\\b)"                      // 555-0147

  def piiScrub(df: DataFrame, textCol: String): DataFrame = {
    val t = col(textCol)
    // IPs are masked before phones so a phone pass never sees dotted quads;
    // emails first so their domains are not half-eaten by the IP rule.
    val scrubbed = regexp_replace(
      regexp_replace(
        regexp_replace(t, emailRe, "<EMAIL>"),
        ipv4Re, "<IP>"),
      phoneRe, "<PHONE>")
    df.withColumn("n_emails", size(regexp_extract_all(t, lit(emailRe), lit(0))).cast("long"))
      .withColumn("n_ips", size(regexp_extract_all(t, lit(ipv4Re), lit(0))).cast("long"))
      .withColumn("n_phones", size(regexp_extract_all(t, lit(phoneRe), lit(0))).cast("long"))
      .withColumn("scrubbed", scrubbed)
  }

  /** k-anonymity / l-diversity audit over quasi-identifier columns
    * (Sweeney 2002, IJUFKS 10(5); Machanavajjhala et al. 2007, TKDD 1(1))
    * — the STRUCTURED privacy gate beside [[piiScrub]]'s free-text masks:
    * scrubbing emails out of the text does nothing when the metadata
    * columns (source, language, length bucket, geo, device …) jointly
    * re-identify the author; a release pipeline audits the quasi-
    * identifier EQUIVALENCE CLASSES and suppresses the small ones.
    *
    * Semantics: one row per equivalence class (the distinct QI tuple,
    * NULL a class value like any other) with `class_size`, `l_distinct`
    * (distinct sensitive values — NULLs don't count as a value, so an
    * all-NULL-sensitive class reads 0 and suppresses), exact
    * `reident_risk_ppm` = ⌊10⁶/size⌋ (the prosecutor-model worst-case
    * re-identification probability), the two named properties, and the
    * standard `action`: keep iff k-anonymous AND l-diverse (suppression,
    * the baseline mechanism — generalization ladders are a policy layer
    * above this audit).
    *
    * 100 TB shape: the size count is ONE map-side-combined groupBy on
    * the QI key; l_distinct is the standard two-phase distinct whose
    * exchange is bounded by distinct (QI, sensitive) COMBOS, never rows
    * (the t45 distinct-profile law); output is classes-sized. No
    * windows, no joins, no driver state. */
  def kAnonymityAudit(df: DataFrame, qiCols: Seq[String],
                      sensitiveCol: String, k: Int, l: Int): DataFrame = {
    require(qiCols.nonEmpty, "kAnonymityAudit needs at least one " +
      "quasi-identifier column")
    require(k >= 2, s"kAnonymityAudit needs k >= 2 (got $k; k=1 is " +
      "vacuously true of every class)")
    require(l >= 2, s"kAnonymityAudit needs l >= 2 (got $l; l=1 is " +
      "vacuously true of any class with a sensitive value)")
    df.groupBy(qiCols.map(col): _*)
      .agg(count(lit(1)).as("class_size"),
        countDistinct(col(sensitiveCol)).as("l_distinct"))
      .select(qiCols.map(col) ++ Seq(
        col("class_size"), col("l_distinct"),
        expr("1000000 div class_size").as("reident_risk_ppm"),
        (col("class_size") >= k).as("k_anonymous"),
        (col("l_distinct") >= l).as("l_diverse"),
        when(col("class_size") >= k && col("l_distinct") >= l,
          lit("keep")).otherwise(lit("suppress")).as("action")): _*)
  }

  /** Corpus-trained bigram-LM cross-entropy scoring — the CCNet quality
    * filter shape (Wenzek et al. 2020, arXiv:1911.00359: score every doc by
    * LM perplexity, keep the low-perplexity head). The LM here is trained on
    * the corpus ITSELF (CCNet trains on a clean reference corpus; swap the
    * count tables to change that): add-one-smoothed bigram probabilities
    *   p(w2 | w1) = (c(w1,w2) + 1) / (c(w1) + |V|)
    * and the score is the per-doc mean negative log-probability over its
    * bigrams in nats (cross-entropy; perplexity = e^xent, monotone — the
    * filter cuts on either). Docs with < 2 tokens score null (no bigrams).
    *
    * 100 TB shape: two count aggregations (unigram, bigram — map-side
    * combined, vocab-bounded outputs), one |V| scalar broadcast, then the
    * scoring pass joins the positional bigram stream to the two count
    * tables on their word keys (hash equi-joins; the count sides are
    * vocab-sized and AQE-broadcastable per shard). The per-doc sum folds a
    * sorted doc-bounded list in POSITION order — like [[Clustering.fit]]'s
    * mean, the value-ordered fold is what lets any engine replay the sum
    * bit-for-bit (ln itself is within-ulp across libms, absorbed by the
    * caller's 4-dp rounding; t30's oracle mirrors with
    * `list_sum(list(lnp ORDER BY pos))`). */
  def lmCrossEntropy(df: DataFrame, idCol: String, textCol: String): DataFrame = {
    // ONE tokenize pass (the n14 lineage discipline): toks has THREE
    // consumers (unigram counts, the bigram stream, the doc-roster join)
    // and the bigram stream itself fans out to counts + scoring — without
    // the stage cut the tokenizer re-runs 4x per call
    val toks = graft.StageCut(graft.Tables.scaled(
      df.select(col(idCol).cast("long").as("id"),
        graft.functions.text.tokens(col(textCol)).as("tk"))), "lmCrossEntropy.toks")
    // r17 optimization round, two more rule-14 cuts below the toks one:
    // `uni` (vocab-bounded) feeds the vocab count AND the scoring join;
    // `bg` (1x corpus tokens) feeds the bigram counts AND the scoring
    // stream - each reference re-ran the interpreted bigram-struct explode.
    val uni = graft.StageCut(toks.select(explode(col("tk")).as("w"))
      .groupBy("w").agg(count(lit(1)).as("c1")), "lmCrossEntropy.uni")
    val vocab = uni.agg(count(lit(1)).as("v"))
    val bg = graft.StageCut(toks.filter(size(col("tk")) >= 2)
      .select(col("id"), explode(transform(
        sequence(lit(0), size(col("tk")) - 2),
        i => struct(i.cast("long").as("pos"),
          element_at(col("tk"), i + 1).as("w1"),
          element_at(col("tk"), i + 2).as("w2")))).as("b"))
      .select(col("id"), col("b.pos").as("pos"), col("b.w1").as("w1"), col("b.w2").as("w2")),
      "lmCrossEntropy.bg")
    val bc = bg.groupBy("w1", "w2").agg(count(lit(1)).as("c12"))
    val scored = bg.join(bc, Seq("w1", "w2"))
      .join(uni.withColumnRenamed("w", "w1"), "w1")
      .crossJoin(broadcast(vocab))
      .withColumn("lnp", log((col("c12") + lit(1.0)) / (col("c1") + col("v"))))
    val agg = scored.groupBy("id").agg(
      count(lit(1)).as("n_bigrams"),
      graft.functions.GenEvalExpressions.ordered_sum(
        collect_list(struct(col("pos").as("k"), col("lnp").as("p"))))
        .as("s"))
    toks.join(agg, Seq("id"), "left")
      .select(col("id"),
        coalesce(col("n_bigrams"), lit(0L)).as("n_bigrams"),
        (-col("s") / col("n_bigrams")).as("xent"))
  }

  /** Interpolated Kneser–Ney smoothed bigram LM scoring (Kneser & Ney
    * 1995; Chen & Goodman 1999 §2.7 — THE production n-gram smoothing,
    * what the CCNet/KenLM perplexity filters actually run, upgrading
    * [[lmCrossEntropy]]'s pedagogical add-one):
    *
    *   P(w2|w1) = max(c(w1w2) − D, 0)/c(w1·)
    *            + (D · N1+(w1·)/c(w1·)) · (N1+(·w2)/B)
    *
    * where c(w1·) = Σ_x c(w1 x), N1+(w1·) = |{x : c(w1 x) > 0}|,
    * N1+(·w2) = |{x : c(x w2) > 0}| (the CONTINUATION count — "how many
    * contexts does w2 complete", the insight that makes "Francisco"
    * cheap despite high frequency), B = distinct bigram types, D the
    * absolute discount. Per-doc output is cross-entropy in nats over the
    * doc's bigrams, the [[lmCrossEntropy]] shape.
    *
    * Determinism: every count is an exact integer; each bigram's
    * probability is a PURE FUNCTION of five counts (no cross-row float
    * accumulation), evaluated in a fixed parenthesization the oracle
    * states verbatim; the per-doc ln-sum folds in position order (the
    * t30 replay trick) and rounds at 4 dp.
    *
    * 100 TB shape: all four model tables are token-type-bounded (uni/bi
    * vocabulary), built by map-side-combined groupBys; scoring is three
    * equi-joins on word keys + one broadcast scalar. Nothing corpus-sized
    * except the linear bigram pass. */
  def kneserNeyXent(df: DataFrame, idCol: String, textCol: String,
                    discount: Double = 0.75): DataFrame = {
    require(discount > 0 && discount < 1,
      s"kneserNeyXent needs discount in (0,1) (got $discount)")
    // ONE tokenize pass (the n14 lineage discipline): the bigram stream
    // fans out to the count tables AND the scoring join, and the doc
    // roster reads toks again — without the stage cut the tokenizer
    // re-runs 3x per call (the r14 t51 bench regression's fixed cost)
    val toks = graft.StageCut(graft.Tables.scaled(
      df.select(col(idCol).cast("long").as("id"),
        graft.functions.text.tokens(col(textCol)).as("tk"))), "kneserNeyXent.toks")
    // rule-14 cut (r17): the bigram stream feeds the type counts AND the
    // scoring join - two interpreted struct-explode passes without it
    val bg = graft.StageCut(toks.filter(size(col("tk")) >= 2)
      .select(col("id"), explode(transform(
        sequence(lit(0), size(col("tk")) - 2),
        i => struct(i.cast("long").as("pos"),
          element_at(col("tk"), i + 1).as("w1"),
          element_at(col("tk"), i + 2).as("w2")))).as("b"))
      .select(col("id"), col("b.pos").as("pos"),
        col("b.w1").as("w1"), col("b.w2").as("w2")), "kneserNeyXent.bg")
    // rule-14 cut (r17): the TYPE table (bigram-type-bounded) feeds the
    // forward/backward/total tables AND the scoring join - four rollup
    // re-evaluations without it
    val bc = graft.StageCut(bg.groupBy("w1", "w2").agg(count(lit(1)).as("c12")),
      "kneserNeyXent.bc")
    // forward table: context total + distinct-continuation count, both off
    // the TYPE table (bounded), not the token stream
    val fw = bc.groupBy("w1")
      .agg(sum("c12").as("c1"), count(lit(1)).as("n1fw"))
    val bw = bc.groupBy("w2").agg(count(lit(1)).as("n1bw"))
    val btypes = bc.agg(count(lit(1)).as("bt"))
    val d = lit(discount)
    val scored = bg.join(bc, Seq("w1", "w2"))
      .join(fw, "w1").join(bw, "w2")
      .crossJoin(broadcast(btypes))
      .withColumn("lnp", log(
        greatest(col("c12") - d, lit(0.0)) / col("c1") +
          (d * col("n1fw") / col("c1")) * (col("n1bw") / col("bt"))))
    val agg = scored.groupBy("id").agg(
      count(lit(1)).as("n_bigrams"),
      graft.functions.GenEvalExpressions.ordered_sum(
        collect_list(struct(col("pos").as("k"), col("lnp").as("p"))))
        .as("s"))
    toks.join(agg, Seq("id"), "left")
      .select(col("id"),
        coalesce(col("n_bigrams"), lit(0L)).as("n_bigrams"),
        (-col("s") / col("n_bigrams")).as("xent"))
  }

  /** DSIR — Data Selection via Importance Resampling (Xie et al. 2023,
    * arXiv:2302.03169): pick the training subset of a raw corpus that looks
    * most like a small TARGET corpus. Each doc is featurized as hashed
    * word-{uni,bi}gram counts over `buckets` buckets (the paper's hashed
    * n-gram generative model), two add-one bag-of-buckets models are fit —
    * p from the target slice, q from the raw slice — and every RAW doc gets
    * the importance log-weight
    *   log w(x) = Σ_grams [ ln p(h(g)) − ln q(h(g)) ]
    * Selection is sampling-without-replacement with probability ∝ w via the
    * Gumbel top-k trick, derandomized exactly like [[shuffleShards]]: the
    * per-doc uniform comes from an md5 of `seed:id`, so any engine replays
    * the same sample (no RNG state, re-run stable).
    *
    * 100 TB shape: the gram stream is map-only (explode per doc); both
    * model tables are BOUNDED BY `buckets` rows (4096 default) regardless
    * of corpus size, so the scoring joins are broadcast equi-joins on the
    * bucket key and the totals are one broadcast row. The per-doc fold is
    * doc-bounded and position-ordered (the [[lmCrossEntropy]] replay
    * trick). The doc-level weighted table is stage-cut (the t28
    * convention; a real run writes stage outputs between passes)
    * because THREE consumers read it (threshold, ranks, output): without
    * the cut the gram-scoring joins execute three times. Selection is
    * top-k (TakeOrderedAndProject — per-partition heads, never a global
    * sort) to find the k-th key as a threshold, a broadcast of that one
    * row, and a map-side `>=`; the only window runs over the k selected
    * rows. Nothing here is corpus-sized except the linear passes.
    *
    * Returns one row per RAW doc: `id`, `n_grams`, `logw` (importance
    * log-weight, 0.0 for gram-less docs — a neutral weight, the Gumbel key
    * alone decides), `skey` (Gumbel-perturbed key), `selected`, and `rank`
    * (1..k by key desc, null for unselected). */
  def dsirResample(df: DataFrame, idCol: String, textCol: String,
                   isTarget: Column, buckets: Int = 4096, k: Int = 100,
                   seed: String = "dsir"): DataFrame = {
    require(k >= 1, s"dsirResample needs k>=1 (got $k)")
    // Stage cut: the weighted table is read by three consumers below.
    val weighted = graft.StageCut(
      dsirWeighted(df, idCol, textCol, isTarget, buckets, seed), "dsirResample.weighted")
    val top = weighted.select(col("id"), col("skey"))
      .orderBy(col("skey").desc, col("id")).limit(k)
    val thresh = broadcast(top.agg(min(col("skey")).as("th")))
    val ranked = broadcast(top.withColumn("rank", row_number().over(
      Window.orderBy(col("skey").desc, col("id")))).drop("skey"))
    weighted.crossJoin(thresh)
      .withColumn("selected", col("skey") >= col("th"))
      .drop("th")
      .join(ranked, Seq("id"), "left")
  }

  /** [[dsirResample]]'s scoring stage, pre-cut: one row per raw doc with
    * `n_grams`, `logw`, `skey`. Split out so PlanGuardSpec can pin the
    * broadcast shape of the model joins (the checkpoint in the public
    * operator hides this stage's lineage from the final plan). */
  private[graft] def dsirWeighted(df: DataFrame, idCol: String,
      textCol: String, isTarget: Column, buckets: Int,
      seed: String): DataFrame = {
    require(buckets >= 2, s"dsirResample needs buckets>=2 (got $buckets)")
    val toks = graft.Tables.scaled(df.select(col(idCol).cast("long").as("id"),
      graft.functions.text.tokens(col(textCol)).as("tk"),
      isTarget.as("is_target")))
    // One gram stream, stable within-doc order for the replayable fold:
    // unigram i at pos i, bigram i at pos n+i. slice(tk,1,n-1) is empty for
    // n<2, so no sequence(0,-1) descending-step hazard.
    val n = size(col("tk"))
    val uniArr = transform(col("tk"),
      (w, i) => struct(i.cast("long").as("pos"), w.as("g")))
    val bgArr = transform(slice(col("tk"), lit(1), greatest(n - 1, lit(0))),
      (w, i) => struct((n + i).cast("long").as("pos"),
        concat(w, lit(" "), element_at(col("tk"), i + 2)).as("g")))
    // rule-14 cut (r17): the hashed gram stream feeds the two model
    // count tables, the totals AND the scoring pass — four tokenize+md5
    // evaluations without it; materialized rows are compact
    // (id, bool, pos, bucket)
    val grams = graft.StageCut(toks
      .select(col("id"), col("is_target"), explode(concat(uniArr, bgArr)).as("e"))
      .select(col("id"), col("is_target"), col("e.pos").as("pos"),
        (text.md5_prefix_long(col("e.g"), 1, 6) % buckets).as("b")), "dsirWeighted.grams")
    val ct = grams.filter(col("is_target")).groupBy("b").agg(count(lit(1)).as("ct"))
    val cr = grams.filter(!col("is_target")).groupBy("b").agg(count(lit(1)).as("cr"))
    val tot = grams.agg(
      sum(when(col("is_target"), 1L).otherwise(0L)).as("tt"),
      sum(when(col("is_target"), 0L).otherwise(1L)).as("tr"))
    val m = lit(buckets.toDouble)
    val scored = grams.filter(!col("is_target"))
      .join(broadcast(ct), Seq("b"), "left")
      .join(broadcast(cr), Seq("b"), "left")
      .crossJoin(broadcast(tot))
      .withColumn("lnr",
        log((coalesce(col("ct"), lit(0L)) + lit(1.0)) / (col("tt") + m))
          - log((coalesce(col("cr"), lit(0L)) + lit(1.0)) / (col("tr") + m)))
    val agg = scored.groupBy("id").agg(
      count(lit(1)).as("n_grams"),
      graft.functions.GenEvalExpressions.ordered_sum(
        collect_list(struct(col("pos").as("k"), col("lnr").as("p"))))
        .as("s"))
    // u in (0,1]: 24 md5 hex bits + 1 over 2^24+1 — same digest-driven
    // derandomization as shuffleShards; -ln(-ln u) is the Gumbel quantile.
    val u = (text.md5_prefix_long(concat(lit(seed), lit(":"),
      col("id").cast("string")), 1, 6).cast("double") + lit(1.0)) /
      lit(16777217.0)
    toks.filter(!col("is_target"))
      .join(agg, Seq("id"), "left")
      .select(col("id"),
        coalesce(col("n_grams"), lit(0L)).as("n_grams"),
        coalesce(col("s"), lit(0.0)).as("logw"))
      .withColumn("skey", col("logw") + -log(-log(u)))
  }

  /** Trained character-n-gram language ID — Cavnar & Trenkle 1994
    * ("N-Gram-Based Text Categorization"), the rank-order profile method
    * fastText-era pipelines still fall back to; upgrades
    * [[graft.functions.text.lang_quality_fast]]'s fixed stopword heuristic
    * (t2) to a model TRAINED on a labeled seed slice of the corpus itself.
    *
    * Training: per label, count every character n-gram occurrence in the
    * seed docs and keep the top `profileK` by (count desc, gram asc) with
    * rank 1..profileK. Scoring: each unlabeled doc builds its own top-`docM`
    * rank profile the same way, and its distance to a label is the
    * out-of-place measure — Σ over the doc's profile grams of
    * |docRank − labelRank|, with a gram absent from the label profile
    * costing the maximum `profileK`. Prediction = argmin distance (label
    * asc on ties). All-integer arithmetic with deterministic tiebreaks, so
    * a SQL oracle replays training AND scoring exactly (t34).
    *
    * 100 TB shape: the gram stream is map-only; both profile builds
    * aggregate FIRST (map-side-combined groupBy on (label|id, gram) —
    * the count table per label is charset^n-bounded, per doc
    * doc-length-bounded) so the rank windows run over compressed
    * partitions, never raw occurrence streams. The label-profile table is
    * ≤ |labels|·profileK rows and broadcasts into the scoring join; the
    * |labels| cross join is a broadcast of a handful of rows; per-doc cost
    * is docM·|labels| — corpus-size-independent. Emits one row per
    * unlabeled doc WITH at least one n-gram: `id`, `pred`, `dist` — none
    * when the seed slice yields no label profile. Requires
    * docM <= profileK. */
  def langIdTrained(df: DataFrame, idCol: String, textCol: String,
                    labelCol: String, isSeed: Column, n: Int = 3,
                    profileK: Int = 100, docM: Int = 50): DataFrame = {
    require(n >= 1 && profileK >= 1 && docM >= 1,
      s"langIdTrained needs n,profileK,docM >= 1 (got $n, $profileK, $docM)")
    // the matched-only scoring below equals the out-of-place argmin only
    // when every doc rank is <= profileK (see the dist identity there)
    require(docM <= profileK,
      s"langIdTrained needs docM <= profileK (got docM=$docM, profileK=$profileK)")
    val base = graft.Tables.scaled(df.select(
      col(idCol).cast("long").as("id"), col(labelCol).as("label"),
      isSeed.as("is_seed"), text.normalize(col(textCol)).as("norm")))
      .filter(length(col("norm")) >= n)
    // r18: compiled per-position gram kernel — the interpreted
    // transform+substr sweep was ~30 s of task time at sf0.1 (OptProbe)
    val grams = base.select(col("id"), col("label"), col("is_seed"),
      explode(text.char_ngrams_all(col("norm"), n)).as("gram"))
    // salted two-phase top-profileK (the heavyHitters pattern): a plain
    // partitionBy(label) window funnels the whole per-label gram table
    // through |labels| sort tasks — char-n-gram space is charset^n-bounded
    // so this is survivable, but the salted form keeps the fat sort
    // parallel and is bit-identical (any top-K gram is top-K in its salt)
    val profile = grams.filter(col("is_seed"))
      .groupBy("label", "gram").agg(count(lit(1)).as("c"))
      .withColumn("__salt", pmod(hash(col("gram")), lit(32)))
      .withColumn("__lr", row_number().over(
        Window.partitionBy("label", "__salt").orderBy(col("c").desc, col("gram"))))
      .filter(col("__lr") <= profileK)
      .withColumn("lrank", row_number().over(
        Window.partitionBy("label").orderBy(col("c").desc, col("gram"))))
      .filter(col("lrank") <= profileK)
      .select("label", "gram", "lrank")
    val labels = profile.select(col("label").as("pred")).distinct()
    // r18: the per-doc top-docM profile is computed IN-ROW by the
    // top_grams kernel — the dataflow form shuffled and window-sorted the
    // full eval-slice gram stream (~100M rows at sf0.1, ~35 s task time)
    // to keep 50 rows per doc; a doc's grams live in its own row, so the
    // count + bounded heap need no exchange (R18KernelSpec gates equality
    // against the groupBy+window formulation).
    val docProf = base.filter(!col("is_seed"))
      .select(col("id"),
        explode(graft.functions.NgramExpressions.top_grams(col("norm"), n,
          docM)).as("tg"))
      .select(col("id"), col("tg.gram").as("gram"), col("tg.drank").as("drank"))
    // r18: score on MATCHED (gram ∈ profile) rows only instead of
    // crossJoin-ing every label onto every doc gram (guide §3.3 — the
    // cross join multiplied the 2.7M-row doc-profile stream by |labels|).
    // dist(id, pred) = Σ_g [g ∈ prof ? |drank−lrank| : K]
    //               = K·n_id − Σ_matched (K − |drank−lrank|),
    // and every matched gram reduces dist by ≥ 1 (|drank−lrank| ≤ K−1,
    // as 1 ≤ drank ≤ docM ≤ K and 1 ≤ lrank ≤ K — the require above),
    // so a pred with ANY match strictly beats every zero-match pred —
    // the argmin over matched preds is the argmin over all preds, with
    // the min label as the all-unmatched fallback (dist = K·n_id, every
    // pred tied, pred-asc tiebreak). Value-identical to the crossJoin
    // formulation; the t34 oracle replays the full cross form.
    val K = profileK.toLong
    val nid = docProf.groupBy("id").agg(count(lit(1)).as("__nid"))
    val best = docProf
      .join(broadcast(profile), Seq("gram"))
      .select(col("id"), col("label").as("pred"),
        (lit(K) - abs(col("drank") - col("lrank")).cast("long")).as("__red"))
      .groupBy("id", "pred").agg(sum(col("__red")).as("__r"))
      .groupBy("id")
      .agg(min(struct((-col("__r")).as("nr"), col("pred"))).as("b"))
      .select(col("id"), col("b.pred").as("pred"), col("b.nr").as("nr"))
    // No labels at all: the fallback row is empty too, so no doc gets a
    // null prediction (the cross form yields zero rows there).
    nid
      .join(best, Seq("id"), "left")
      .crossJoin(broadcast(labels.agg(min(col("pred")).as("__minl"))
        .filter(col("__minl").isNotNull)))
      .select(col("id"),
        coalesce(col("pred"), col("__minl")).as("pred"),
        coalesce(lit(K) * col("__nid") + col("nr"),
          lit(K) * col("__nid")).as("dist"))
  }

  /** CCNet perplexity buckets — the pipeline's FINAL partitioning step
    * (Wenzek et al. 2020, arXiv:1911.00359 §3.3: split each language into
    * head/middle/tail terciles by LM perplexity; downstream training mixes
    * buckets, it doesn't re-rank). Completes the CCNet trilogy here:
    * paragraph dedup (t33) → LM scoring (t30 / [[lmCrossEntropy]]) →
    * THIS. Every doc is scored by [[lmCrossEntropy]]; per-language tercile
    * cut VALUES are taken from the `isSample` slice only (CCNet computes
    * its percentile cut points on a sample, not the full corpus): order the
    * scored sample by (xent, id), cut1 = the xent at rank ceil(n/3), cut2 =
    * at ceil(2n/3) — element SELECTION, no interpolation arithmetic to
    * diverge between engines. Bucket: head if xent ≤ cut1, middle if
    * ≤ cut2, else tail; docs with no bigrams — or in a language absent
    * from the sample — are `unscored`, never silently dropped.
    *
    * 100 TB shape: the scoring pass is t30's (vocab-bounded count joins);
    * the only window runs over the SAMPLE slice (caller bounds it — the
    * CCNet contract), cuts are a ≤|langs| row broadcast, and assignment is
    * a narrow map. The full corpus is never rank-ordered — that global
    * sort is exactly what the sampled cut points exist to avoid. Ordering
    * ties (identical xent) land in the same bucket by the ≤ compares, so
    * cross-engine ln ulp jitter only matters for distinct-but-ulp-equal
    * docs — the t32 risk profile, accepted there. */
  def ccnetBuckets(df: DataFrame, idCol: String, textCol: String,
                   langCol: String, isSample: Column): DataFrame = {
    val scored = lmCrossEntropy(df, idCol, textCol)
    val base = graft.Tables.scaled(df.select(
      col(idCol).cast("long").as("id"), col(langCol).as("lang"),
      isSample.as("is_sample")))
    val sx = base.join(scored, "id")
    val samp = sx.filter(col("is_sample") && col("xent").isNotNull)
    val ranked = samp
      .withColumn("rk", row_number().over(
        Window.partitionBy("lang").orderBy(col("xent"), col("id"))))
      .withColumn("n", count(lit(1)).over(Window.partitionBy("lang")))
    val cuts = ranked.groupBy("lang")
      .agg(min(when(col("rk") === expr("(n + 2) div 3"), col("xent"))).as("c1"),
        min(when(col("rk") === expr("(2 * n + 2) div 3"), col("xent"))).as("c2"))
    sx.join(broadcast(cuts), Seq("lang"), "left")
      .select(col("id"), col("lang"), col("n_bigrams"), col("xent"),
        when(col("xent").isNull || col("c1").isNull, "unscored")
          .when(col("xent") <= col("c1"), "head")
          .when(col("xent") <= col("c2"), "middle")
          .otherwise("tail").as("bucket"))
  }

  /** Fill-in-the-middle (FIM) TRANSFORMATION — the code-model pretraining
    * staple (Bavarian et al. 2022, arXiv:2207.14255; applied char-level as
    * in SantaCoder, arXiv:2301.03988 §4): a `rateBp`/10000 fraction of
    * documents is rewritten from `text` to the PSM form
    * `<PRE>prefix<SUF>suffix<MID>middle`, teaching an autoregressive model
    * to infill. Derandomized the t21/t36/t43 way — the FIM coin and both
    * cut points are md5 functions of the DOCUMENT ID, so the transform is
    * a pure per-row map any engine replays: coin = md5("fim:"+id) mod 10⁴
    * < rateBp; cuts = 1 + md5("fimc{1,2}:"+id) mod (len+1), low/high
    * ordered; prefix = [1, lo), middle = [lo, hi), suffix = [hi, end].
    * Length conservation (n_prefix + n_middle + n_suffix == len) holds by
    * construction and is spec-gated.
    *
    * 100 TB shape: stateless map-only — no shuffle, no state; the sentinel
    * strings are the trainer's token vocabulary concern, not the engine's.
    * Untransformed docs pass through verbatim with `is_fim = false`. */
  def fimTransform(df: DataFrame, idCol: String, textCol: String,
                   rateBp: Int = 9000,
                   preTok: String = "<PRE>", sufTok: String = "<SUF>",
                   midTok: String = "<MID>"): DataFrame = {
    require(rateBp >= 0 && rateBp <= 10000, s"rateBp in [0,10000] (got $rateBp)")
    def h(prefix: String): Column =
      text.md5_prefix_long(concat(lit(prefix), col(idCol).cast("string")), 1, 8)
    val len = length(col(textCol))
    val c1 = lit(1) + (h("fimc1:") % (len + 1)).cast("int")
    val c2 = lit(1) + (h("fimc2:") % (len + 1)).cast("int")
    df.withColumn("is_fim", h("fim:") % 10000 < rateBp)
      .withColumn("__lo", least(c1, c2))
      .withColumn("__hi", greatest(c1, c2))
      .withColumn("n_prefix",
        when(col("is_fim"), col("__lo") - 1).otherwise(len).cast("long"))
      .withColumn("n_middle",
        when(col("is_fim"), col("__hi") - col("__lo")).otherwise(0).cast("long"))
      .withColumn("n_suffix",
        when(col("is_fim"), len - col("__hi") + 1).otherwise(0).cast("long"))
      .withColumn("fim_text",
        when(col("is_fim"), concat(
          lit(preTok), substring(col(textCol), lit(1), col("__lo") - 1),
          lit(sufTok), substring(col(textCol), col("__hi"), len - col("__hi") + 1),
          lit(midTok), substring(col(textCol), col("__lo"), col("__hi") - col("__lo"))))
          .otherwise(col(textCol)))
      .drop("__lo", "__hi")
  }

  /** T5/UL2 SPAN-CORRUPTION example construction (Raffel et al. 2020,
    * arXiv:1910.10683 §3.1.4) — the denoising sibling of [[contextWindows]]
    * (GPT causal blocks) and [[fimTransform]] (code infill): each token is
    * independently masked with probability `noiseBp`/10⁴ (md5-derandomized
    * per (doc, position) — the t21/t36/t43 discipline, so both engines
    * replay the exact mask), maximal masked RUNS collapse to `<extra_id_k>`
    * sentinels in the input, and the target emits each sentinel followed by
    * its masked tokens plus a terminal sentinel — the exact T5 example
    * format.
    *
    * 100 TB shape: posexplode → ONE doc-keyed window (lag + running sum —
    * the e16 gaps-and-islands machinery — span ids in O(1) state per row)
    * → one doc-keyed ordered-fold aggregation assembling input/target.
    * Per-doc cost is linear in tokens; the exchange is the token stream
    * keyed by doc — the e7/e14 spillable class, skew bounded by document
    * length. */
  def spanCorrupt(df: DataFrame, idCol: String, textCol: String,
                  noiseBp: Int = 1500): DataFrame = {
    require(noiseBp >= 0 && noiseBp <= 10000, s"noiseBp in [0,10000] (got $noiseBp)")
    import org.apache.spark.sql.expressions.Window
    val toks = df.select(col(idCol).cast("long").as("id"),
        posexplode(graft.functions.text.tokens(col(textCol))).as(Seq("pos", "tok")))
      .withColumn("masked",
        text.md5_prefix_long(concat(lit("sc:"), col("id"), lit(":"), col("pos")),
          1, 8) % 10000 < noiseBp)
    val w = Window.partitionBy("id").orderBy("pos")
    val spans = toks
      .withColumn("__start",
        (col("masked") && !coalesce(lag(col("masked"), 1).over(w), lit(false)))
          .cast("long"))
      .withColumn("span_id",
        when(col("masked"), sum(col("__start")).over(w) - 1))
    spans.groupBy("id").agg(
      count(lit(1)).as("n_tokens"),
      sum(col("masked").cast("long")).as("n_masked"),
      sum(col("__start")).as("n_spans"),
      // input: unmasked tokens verbatim; each span contributes its
      // sentinel ONCE (at the run start)
      concat_ws(" ", transform(filter(
        array_sort(collect_list(struct(col("pos"), col("tok"), col("masked"),
          col("__start"), col("span_id")))),
        s => !s.getField("masked") || s.getField("__start") === 1),
        s => when(s.getField("masked"),
          concat(lit("<extra_id_"), s.getField("span_id"), lit(">")))
          .otherwise(s.getField("tok")))).as("input_text"),
      // target: per span, sentinel + its tokens; terminal sentinel closes
      concat(concat_ws(" ", flatten(transform(filter(
        array_sort(collect_list(struct(col("pos"), col("tok"), col("masked"),
          col("__start"), col("span_id")))),
        s => s.getField("masked")),
        s => when(s.getField("__start") === 1,
          array(concat(lit("<extra_id_"), s.getField("span_id"), lit(">")),
            s.getField("tok")))
          .otherwise(array(s.getField("tok")))))),
        when(sum(col("__start")) > 0,
          concat(lit(" <extra_id_"), sum(col("__start")), lit(">")))
          .otherwise(concat(lit("<extra_id_"), lit(0), lit(">"))))
        .as("target_text"))
  }

  /** The eight "required words" of the Gopher stopword rule (Rae et al.
    * 2021, appendix A1.1): a document must contain at least two. */
  val gopherStopwords: Seq[String] =
    Seq("the", "be", "to", "of", "and", "that", "have", "with")

  /** Full Gopher document-quality rule set (Rae et al. 2021, Table A1 —
    * the FILTER half; the repetition half is [[repetitionMetrics]]/t11):
    * word-count bounds, mean word length in [3,10] chars, symbol-to-word
    * ratio ('#' characters + '...' runs) <= 10%, <= 10% of lines starting
    * with a bullet, <= 30% of lines ending in an ellipsis, >= 80% of words
    * containing an alphabetic character, and >= 2 of the eight required
    * stopwords present. The verdict reports the FIRST failing rule in that
    * stated precedence (the DataTrove/Dolma convention of attributing each
    * drop to one named rule), so drop accounting sums to the doc count.
    *
    * Every ratio test is an integer cross-multiplication (never a rounded
    * ratio — engine round() of arbitrary doubles is cross-engine-unsafe),
    * so the gate replays exactly in any engine. Map-only over the raw text:
    * no shuffle, no join, per-row cost linear in document length — the plan
    * is identical at 100 TB. Lines are '\n'-delimited in the RAW text
    * (bullet/ellipsis structure lives there); words are the normalized
    * whitespace tokens. */
  def gopherQuality(df: DataFrame, idCol: String, textCol: String,
                    minWords: Long = 50L, maxWords: Long = 100000L): DataFrame = {
    val base = graft.Tables.scaled(
      df.select(col(idCol).cast("long").as("id"), col(textCol).as("t")))
      .select(col("id"), col("t"),
        split(col("t"), "\n").as("lines"), text.tokens(col("t")).as("wd"))
    val nWords = size(col("wd")).cast("long")
    val sumChars = coalesce(
      aggregate(col("wd"), lit(0L), (a, t) => a + length(t)), lit(0L))
    val nSym = (length(col("t")) -
      length(translate(col("t"), "#", ""))).cast("long") +
      regexp_count(col("t"), lit("\\.\\.\\.")).cast("long")
    val nAlpha = size(filter(col("wd"), t => t.rlike("[a-z]"))).cast("long")
    val nStop = size(filter(
      array(gopherStopwords.map(lit(_)): _*),
      s => array_contains(col("wd"), s))).cast("long")
    val nLines = size(col("lines")).cast("long")
    val nBullet = size(filter(col("lines"),
      l => l.startsWith("•"))).cast("long")
    val nEll = size(filter(col("lines"), l => l.endsWith("..."))).cast("long")
    val m = base.select(col("id"),
      nWords.as("n_words"), sumChars.as("sum_word_chars"),
      nSym.as("n_symbols"), nAlpha.as("n_alpha_words"),
      nStop.as("n_stopwords"), nLines.as("n_lines"),
      nBullet.as("n_bullet_lines"), nEll.as("n_ellipsis_lines"))
    m.withColumn("reason",
        when(col("n_words") < minWords || col("n_words") > maxWords,
          "word_count")
          .when(col("sum_word_chars") < col("n_words") * 3 ||
            col("sum_word_chars") > col("n_words") * 10, "mean_word_len")
          .when(col("n_symbols") * 10 > col("n_words"), "symbol_ratio")
          .when(col("n_bullet_lines") * 10 > col("n_lines"), "bullet_lines")
          .when(col("n_ellipsis_lines") * 10 > col("n_lines") * 3,
            "ellipsis_lines")
          .when(col("n_alpha_words") * 5 < col("n_words") * 4, "alpha_words")
          .when(col("n_stopwords") < 2, "stopwords")
          .otherwise("clean"))
      .withColumn("keep", col("reason") === "clean")
  }

  /** C4 line-level cleaning rules (Raffel et al. 2020 §2.2): a line
    * survives iff it ends in terminal punctuation (. ! ? "), carries at
    * least five words, and does not mention "javascript"; the PAGE is then
    * dropped wholesale if it contains "lorem ipsum" or a curly brace, or
    * if fewer than `minSentences` lines survive. Emits the per-rule drop
    * tallies (no silent filtering — every dropped line is attributed to
    * exactly one rule in the stated precedence: punctuation, then length,
    * then javascript), the page verdict with its own reason precedence
    * (lorem_ipsum → brace → too_few_sentences → kept), and the cleaned
    * text (surviving lines re-joined) for kept pages.
    *
    * Map-only over raw '\n'-structured text: no shuffle, no join, per-row
    * cost linear in document length — identical plan at 100 TB. All
    * tallies are exact integers; the cleaned text is hash-gated at the
    * query layer. */
  def c4LineFilters(df: DataFrame, idCol: String, textCol: String,
                    minSentences: Long = 3L): DataFrame = {
    val punct = (l: Column) => l.endsWith(".") || l.endsWith("!") ||
      l.endsWith("?") || l.endsWith("\"")
    val nw = (l: Column) => size(filter(split(l, " "), t => length(t) > 0))
    val js = (l: Column) => l.contains("javascript")
    val keepLine = (l: Column) => punct(l) && nw(l) >= 5 && !js(l)
    val base = graft.Tables.scaled(
      df.select(col(idCol).cast("long").as("id"), col(textCol).as("t")))
      .select(col("id"), col("t"), split(col("t"), "\n").as("lines"))
    base.select(col("id"),
        size(col("lines")).cast("long").as("n_lines"),
        size(filter(col("lines"), l => !punct(l))).cast("long")
          .as("n_no_punct"),
        size(filter(col("lines"), l => punct(l) && nw(l) < 5)).cast("long")
          .as("n_short"),
        size(filter(col("lines"), l => punct(l) && nw(l) >= 5 && js(l)))
          .cast("long").as("n_js"),
        size(filter(col("lines"), keepLine)).cast("long").as("n_kept"),
        when(col("t").contains("lorem ipsum"), "lorem_ipsum")
          .when(col("t").contains("{"), "brace")
          .when(size(filter(col("lines"), keepLine)) < minSentences,
            "too_few_sentences")
          .otherwise("kept").as("reason"),
        array_join(filter(col("lines"), keepLine), "\n").as("cleaned"))
      .withColumn("keep", col("reason") === "kept")
  }

  /** SFT chat-template rendering with assistant-span loss masks — the
    * objective-prep stage for instruction tuning, completing the family
    * ([[contextWindows]] causal blocks, [[fimTransform]] infill,
    * [[spanCorrupt]] denoising): each (user, assistant) turn pair renders
    * into the ChatML wire format
    *
    *   `<|im_start|>role\ncontent\n<|im_end|>`
    *
    * with a fixed system turn first, and each ASSISTANT turn emits one
    * mask row [mask_start, mask_end] — the whitespace-token positions of
    * its content plus the closing `<|im_end|>` (the standard convention:
    * the model learns to emit the stop tag; prompts and user turns stay
    * loss-free). Turn contents are canonicalized to single-space joins of
    * their own tokens before rendering, so every mask boundary is pure
    * integer arithmetic over per-turn token counts: sys = 7 tokens, each
    * turn = k+2 (open tag, k words, close tag). n_tokens = 15 + Σk for
    * the two-turn shape.
    *
    * Map-only: no shuffle at any scale; per-row cost linear in turn
    * lengths. The rendered string is md5-gated; a one-token mask drift
    * anywhere flips the row. */
  def sftRender(df: DataFrame, idCol: String,
                turns: Seq[(String, String)],
                systemPrompt: String = "you are a helpful assistant")
      : DataFrame = {
    require(turns.nonEmpty, "at least one (user, assistant) turn pair")
    val sysToks = graft.functions.text.tokens(lit(systemPrompt))
    def turnText(c: String) =
      array_join(graft.functions.text.tokens(col(c)), " ")
    def seg(role: String, c: String) =
      concat(lit(s"<|im_start|>$role\n"), turnText(c), lit("\n<|im_end|>"))
    val rendered = concat(
      Seq(concat(lit("<|im_start|>system\n"), lit(systemPrompt),
        lit("\n<|im_end|>"))) ++
        turns.flatMap { case (u, a) => Seq(seg("user", u), seg("assistant", a)) }
          .map(s => concat(lit("\n"), s)): _*)
    // token-count columns per turn; mask arithmetic folds over them
    val withCounts = df.select(
      (col(idCol).cast("long").as("id") +: (size(sysToks) + 2).as("n_sys") +:
        turns.zipWithIndex.flatMap { case ((u, a), i) =>
          Seq(size(graft.functions.text.tokens(col(u))).cast("long")
            .as(s"q$i"),
            size(graft.functions.text.tokens(col(a))).cast("long")
              .as(s"a$i"))
        }) :+ md5(rendered).as("sft_md5"): _*)
    val total = turns.indices.foldLeft(col("n_sys").cast("long")) {
      case (acc, i) => acc + col(s"q$i") + col(s"a$i") + lit(4L)
    }
    // offset of turn pair i = n_sys + Σ_{j<i} (q_j + a_j + 4)
    def offset(i: Int) = (0 until i).foldLeft(col("n_sys").cast("long")) {
      case (acc, j) => acc + col(s"q$j") + col(s"a$j") + lit(4L)
    }
    val maskRows = array(turns.indices.map { i =>
      val asstMarker = offset(i) + col(s"q$i") + lit(2L)
      struct(lit(i + 1).cast("long").as("turn"),
        (asstMarker + 1).as("mask_start"),
        (asstMarker + 1 + col(s"a$i")).as("mask_end"))
    }: _*)
    withCounts
      .withColumn("n_tokens", total)
      .select(col("id"), col("n_tokens"), col("sft_md5"),
        explode(maskRows).as("m"))
      .select(col("id"), col("m.turn").as("turn"),
        col("m.mask_start").as("mask_start"),
        col("m.mask_end").as("mask_end"),
        col("n_tokens"), col("sft_md5"))
  }

  /** Per-EVAL-document contamination report — the direction [[decontaminate]]
    * (t12, which flags TRAIN docs) does not give: for each eval/benchmark
    * document, what fraction of its distinct word n-grams appears anywhere
    * in the training corpus (the GPT-3 appendix-C "dirtiness" accounting;
    * what an eval-integrity report publishes per benchmark item). Basis
    * points via exact integer division; verdict thresholds stated as
    * parameters with contaminated > suspect precedence. Shingle-less docs
    * (shorter than the n-gram) report honest zeros, never drop (t38's
    * convention).
    *
    * Plan: the eval side is benchmark-sized — its distinct shingle set
    * broadcasts; the train stream semi-joins against it map-side, so the
    * only shuffled rows are MATCHED shingles (deduplicated by one
    * map-side-combined distinct), then one broadcast join back onto the
    * per-eval-doc shingle table. The train corpus is never exchanged. */
  def contaminationReport(train: DataFrame, eval_ : DataFrame,
                          idCol: String, textCol: String, ngram: Int = 4,
                          suspectBp: Long = 500L,
                          contaminatedBp: Long = 5000L): DataFrame = {
    require(suspectBp <= contaminatedBp,
      "suspect threshold must not exceed contaminated")
    val evalSh = eval_.select(col(idCol).cast("long").as("eval_id"),
        explode(graft.functions.text.word_shingles(col(textCol), ngram))
          .as("g"))
    val trainHits = graft.Tables.scaled(
        train.select(explode(
          graft.functions.text.word_shingles(col(textCol), ngram)).as("g")))
      .join(broadcast(evalSh.select("g").distinct()), Seq("g"), "left_semi")
      .distinct()
    val perDoc = evalSh
      .join(broadcast(trainHits.withColumn("hit", lit(1L))), Seq("g"), "left")
      .groupBy("eval_id").agg(
        count(lit(1)).as("n_shingles"),
        sum(coalesce(col("hit"), lit(0L))).as("n_shared"))
    eval_.select(col(idCol).cast("long").as("eval_id"))
      .join(perDoc, Seq("eval_id"), "left")
      .select(col("eval_id"),
        coalesce(col("n_shingles"), lit(0L)).as("n_shingles"),
        coalesce(col("n_shared"), lit(0L)).as("n_shared"))
      .withColumn("contamination_bp",
        when(col("n_shingles") > 0,
          expr("(10000 * n_shared) div n_shingles")).otherwise(0L))
      .withColumn("verdict",
        when(col("contamination_bp") >= contaminatedBp, "contaminated")
          .when(col("contamination_bp") >= suspectBp, "suspect")
          .otherwise("clean"))
  }

  /** Ladder-length MEMORIZATION report — the Carlini-style "is this model
    * output (or eval document) a verbatim copy of training data, and how
    * long a copy" probe, the length dimension [[contaminationReport]]'s
    * single-n dirtiness ratio does not give (GPT-3's appendix C uses one
    * 13-gram rule; memorization audits need the RUN LENGTH: a 4-gram
    * match is idiom, a 32-gram match is a copied passage). For each eval
    * doc and each rung length in `rungs` (default 4/8/16/32): how many
    * distinct rung-length word n-grams it has, how many appear ANYWHERE
    * in the training corpus, and the per-doc maximum rung with at least
    * one match — a binary-search-style lower bound on the longest
    * verbatim run, exact at the probed lengths.
    *
    * Plan (round-13 rework of the [[contaminationReport]] shape): only the
    * SHORTEST rung's gram stream sweeps the train corpus. Any train
    * rung-n gram equal to an eval rung-n gram necessarily starts at a
    * position whose leading min-rung gram is an eval min-rung gram (the
    * eval gram set contains every window of every eval doc), so the
    * min-rung stream semi-joined against the broadcast eval min-gram set
    * yields CANDIDATE (doc, position)s — contamination-rate-sized by
    * assumption — and the longer rungs' grams are built in-row only at
    * those positions (candidate position lists broadcast back onto the
    * candidate docs; non-candidate docs never tokenize twice). Candidates
    * are then EXACTLY verified by the semi-join against the full eval
    * (rung, gram) set, so the prefix filter affects cost, never results.
    * The old plan built + probe-hashed |rungs|× the token stream in gram
    * strings up to 32 tokens long — 4× the string material of the min
    * rung for a stream that is almost entirely unmatched. Docs shorter
    * than a rung report honest zeros for it (t38's convention), never
    * drop. */
  def memorizationReport(train: DataFrame, eval_ : DataFrame,
                         idCol: String, textCol: String,
                         rungs: Seq[Int] = Seq(4, 8, 16, 32)): DataFrame = {
    require(rungs.nonEmpty && rungs.forall(_ >= 1) &&
      rungs.distinct.length == rungs.length,
      s"memorizationReport needs distinct rungs >= 1 (got $rungs)")
    val m = rungs.min
    // the eval side is benchmark-sized: one tokenize for the whole ladder
    // (the multi-rung kernel), per-doc distinct grams (the statistic)
    val evalG = eval_
      .select(col(idCol).cast("long").as("eval_id"),
        explode(graft.functions.text.word_shingles_multi(
          col(textCol), rungs)).as("rg"))
      .select(col("eval_id"), col("rg.rung").as("rung"),
        explode(col("rg.gs")).as("g"))
    // Stage 1: the ONLY corpus-wide gram stream — the min rung, with
    // positions (transform over sequence(0, L-m) is positional, so the
    // gs index IS the token position); semi-join the broadcast eval
    // min-gram set → candidate (doc, pos, gram)s
    val mGrams = graft.Tables.scaled(
        train.select(col(idCol).cast("long").as("tid"),
          graft.functions.text.word_shingles_multi(
              col(textCol), Seq(m), distinct = false)
            .getItem(0).getField("gs").as("gs")))
      .select(col("tid"), posexplode(col("gs")))
      .toDF("tid", "pos", "g")
    val cand = mGrams.join(
      broadcast(evalG.filter(col("rung") === m.toLong)
        .select("g").distinct()),
      Seq("g"), "left_semi")
    // Stage 2: EVERY rung's grams (the min rung included) rebuild in-row
    // at candidate positions only — candidate position lists broadcast
    // back onto the candidate docs (the inner join prunes everything
    // else BEFORE the re-tokenize). Rebuilding the min rung here instead
    // of reusing `cand` keeps the corpus-wide scan under exactly ONE
    // subtree (the candPos broadcast): a second reference to `cand` has
    // no exchange boundary to reuse, so the whole stage-1 scan would run
    // twice (measured — it cost more than stage 2 saves). Inside the
    // per-position lambdas only plain attributes are read (t, ps —
    // already materialized), so the HOF interpreter pathology does not
    // apply.
    val candPos = cand.groupBy("tid")
      .agg(sort_array(collect_set(col("pos"))).as("ps"))
    val joined = train
      .select(col(idCol).cast("long").as("tid"), col(textCol))
      .join(broadcast(candPos), Seq("tid"))
      .select(col("tid"), col("ps"),
        graft.functions.text.tokens(col(textCol)).as("t"))
    val candidates = graft.Tables.scaled(joined)
      .select(explode(array(rungs.sorted.map { n =>
        struct(lit(n.toLong).as("rung"),
          transform(
            filter(col("ps"), p => p <= size(col("t")) - n),
            p => concat_ws(" ", (0 until n).map(j =>
              element_at(col("t"), (p + lit(j + 1)).cast("int"))): _*))
            .as("gs"))
      }: _*)).as("rg"))
      .select(col("rg.rung").as("rung"), explode(col("rg.gs")).as("g"))
    // exact verification IS the per-rung join: the prefix filter is a
    // necessary condition, never sufficient, and a candidate counts only
    // where it equals a full eval (rung, gram) row — joining evalG
    // directly against the distinct candidate set verifies and counts in
    // one step (a separate semi-join "trainHits" stage would recompute
    // evalG a third time for no extra pruning)
    val perRung = evalG
      .join(broadcast(candidates.distinct().withColumn("hit", lit(1L))),
        Seq("rung", "g"), "left")
      .groupBy("eval_id", "rung")
      .agg(count(lit(1)).as("n_grams"),
        sum(coalesce(col("hit"), lit(0L))).as("n_matched"))
    val grid = eval_.select(col(idCol).cast("long").as("eval_id"),
      explode(array(rungs.map(n => lit(n.toLong)): _*)).as("rung"))
    val w = org.apache.spark.sql.expressions.Window.partitionBy("eval_id")
    grid.join(perRung, Seq("eval_id", "rung"), "left")
      .select(col("eval_id"), col("rung"),
        coalesce(col("n_grams"), lit(0L)).as("n_grams"),
        coalesce(col("n_matched"), lit(0L)).as("n_matched"))
      .withColumn("max_matched_rung",
        coalesce(max(when(col("n_matched") > 0, col("rung"))).over(w), lit(0L)))
  }

  /** Secret Sharer CANARY-EXPOSURE report (Carlini et al. 2019,
    * "The Secret Sharer: Evaluating and Testing Unintended Memorization in
    * Neural Networks" §4 — THE standard unintended-memorization audit:
    * plant canary sequences into the training corpus at varying insertion
    * counts, then rank each canary's model score among a candidate set of
    * same-format never-inserted decoys; exposure = log₂|R| − log₂ rank).
    * [[memorizationReport]] answers "is this eval text copied from
    * train?"; this answers the complementary audit question "did the
    * model memorize a PLANTED secret, and how does memorization grow with
    * repetition?" — the probe run before shipping any model trained on
    * data that may contain credentials/PII.
    *
    * The "model" is the corpus-trained add-one bigram LM
    * ([[lmCrossEntropy]]'s tables — swap-in point for a real LM's
    * scores), trained on `train` ONLY: candidates are scored against the
    * model, never added to it (scoring text must not train on itself —
    * the methodology line the Secret Sharer paper draws). Emits per
    * candidate: bigram count, cross-entropy (4-dp display; ranking uses
    * the raw value), and `rank` by (xent asc, id asc) — rank IS the
    * exposure statistic (exposure = log₂(|R|/rank) is a monotone
    * driver-side transform; emitting the exact integer rank keeps the
    * row float-free where it matters). Unseen bigrams score ln(1/(c1+V))
    * with c1 = 0 — the add-one floor — so decoys rank behind any
    * actually-memorized canary, and ties among identical decoys resolve
    * on candidate id.
    *
    * 100 TB shape: the LM tables are the t30 shape (map-side-combined,
    * vocabulary-bounded outputs); the candidate set is REQUEST-sized
    * (an audit ships dozens of canaries, not data), so scoring is a tiny
    * stream joined against vocab-bounded tables + one scalar broadcast;
    * the only corpus-sized work is the linear count pass. */
  def canaryExposure(train: DataFrame, candidates: DataFrame,
                     textCol: String, candIdCol: String,
                     candTextCol: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val toks = graft.Tables.scaled(
      train.select(graft.functions.text.tokens(col(textCol)).as("tk")))
    val uni = toks.select(explode(col("tk")).as("w"))
      .groupBy("w").agg(count(lit(1)).as("c1"))
    val vocab = uni.agg(count(lit(1)).as("v"))
    val bc = toks.filter(size(col("tk")) >= 2)
      .select(explode(transform(
        sequence(lit(0), size(col("tk")) - 2),
        i => struct(element_at(col("tk"), i + 1).as("w1"),
          element_at(col("tk"), i + 2).as("w2")))).as("b"))
      .select(col("b.w1").as("w1"), col("b.w2").as("w2"))
      .groupBy("w1", "w2").agg(count(lit(1)).as("c12"))
    val cb = candidates
      .select(col(candIdCol).cast("long").as("cand_id"),
        graft.functions.text.tokens(col(candTextCol)).as("tk"))
    val cbg = cb.filter(size(col("tk")) >= 2)
      .select(col("cand_id"), explode(transform(
        sequence(lit(0), size(col("tk")) - 2),
        i => struct(i.cast("long").as("pos"),
          element_at(col("tk"), i + 1).as("w1"),
          element_at(col("tk"), i + 2).as("w2")))).as("b"))
      .select(col("cand_id"), col("b.pos").as("pos"),
        col("b.w1").as("w1"), col("b.w2").as("w2"))
    val scored = cbg
      .join(bc, Seq("w1", "w2"), "left")
      .join(uni.withColumnRenamed("w", "w1"), Seq("w1"), "left")
      .crossJoin(broadcast(vocab))
      .withColumn("lnp", log(
        (coalesce(col("c12"), lit(0L)) + lit(1.0)) /
          (coalesce(col("c1"), lit(0L)) + col("v"))))
    val agg = scored.groupBy("cand_id").agg(
      count(lit(1)).as("n_bigrams"),
      graft.functions.GenEvalExpressions.ordered_sum(
        collect_list(struct(col("pos").as("k"), col("lnp").as("p"))))
        .as("s"))
      .withColumn("xent_raw", -col("s") / col("n_bigrams"))
    cb.select(col("cand_id")).join(agg, Seq("cand_id"), "left")
      .withColumn("rank", row_number().over(
        Window.orderBy(col("xent_raw").asc_nulls_last, col("cand_id"))))
      .select(col("cand_id"), coalesce(col("n_bigrams"), lit(0L)).as("n_bigrams"),
        round(col("xent_raw"), 4).as("xent"), col("rank").cast("long").as("rank"))
  }

  /** DPO preference-pair assembly with quality gates — the
    * (prompt, chosen, rejected) construction every preference-tuning run
    * (DPO, Rafailov et al. 2023; RLHF reward-model data prep) performs
    * between raw A/B outcomes and the trainer, with the standard QC
    * drops, each attributed to ONE reason in stated precedence:
    *
    *   too_short (either response under `minRespTokens`) → identical
    *   (chosen == rejected teaches nothing) → length_ratio (token counts
    *   differing beyond `maxRatio`× teach length, not preference;
    *   integer cross-multiplied) → dup_prompt (same normalized prompt as
    *   a lower-id row — prompt-level exact dedup, first writer kept;
    *   judged on ALL rows so the keep-list is stable under upstream gate
    *   changes) → kept.
    *
    * Shape: one map pass + ONE window on the prompt fingerprint (hash-
    * partitioned equi-key, the t3 dedup class); no other exchange. The
    * kept pair is md5-gated over prompt ⊕ chosen ⊕ rejected. */
  def dpoPairs(df: DataFrame, idCol: String, promptCol: String,
               respACol: String, respBCol: String, winACol: String,
               minRespTokens: Long = 2L, maxRatio: Long = 2L): DataFrame = {
    val nA = size(graft.functions.text.tokens(col("ra"))).cast("long")
    val nB = size(graft.functions.text.tokens(col("rb"))).cast("long")
    val base = graft.Tables.scaled(df.select(
        col(idCol).cast("long").as("id"), col(promptCol).as("p"),
        col(respACol).as("ra"), col(respBCol).as("rb"),
        col(winACol).as("win_a")))
      .withColumn("n_prompt",
        size(graft.functions.text.tokens(col("p"))).cast("long"))
      .withColumn("n_a", nA).withColumn("n_b", nB)
      .withColumn("fp", md5(graft.functions.text.normalize(col("p"))))
    val w = Window.partitionBy("fp").orderBy("id")
    base.withColumn("rn", row_number().over(w))
      .withColumn("reason",
        when(col("n_a") < minRespTokens || col("n_b") < minRespTokens,
          "too_short")
          .when(col("ra") === col("rb"), "identical")
          .when(greatest(col("n_a"), col("n_b")) >
            least(col("n_a"), col("n_b")) * maxRatio, "length_ratio")
          .when(col("rn") > 1, "dup_prompt")
          .otherwise("kept"))
      .withColumn("keep", col("reason") === "kept")
      .select(col("id"), col("n_prompt"), col("n_a"), col("n_b"),
        col("reason"), col("keep"),
        when(col("keep"), md5(concat(col("p"), lit("\u0001"),
          when(col("win_a"), col("ra")).otherwise(col("rb")), lit("\u0001"),
          when(col("win_a"), col("rb")).otherwise(col("ra")))))
          .as("pair_md5"))
  }

  /** Multinomial Naive Bayes text classifier, trained in-engine on a
    * labeled seed slice (id % seedMod == 0) and scoring every other
    * document — the supervised-classifier seat of a pretraining pipeline
    * (the GPT-3/LLaMA "wiki-vs-crawl" quality filter, CCNet's fastText
    * language ID; [[langIdTrained]] is the rank-profile alternative, this
    * is the probabilistic one). Add-one smoothing over the seed
    * vocabulary:
    *
    *   score(d,c) = ln(n_c/n_docs)
    *              + Σ_w n_dw · ln((cnt(w,c)+1)/(tot_c+V))
    *
    * with the sum folded in WORD order (the t30 position-fold discipline
    * lifted to doc-term counts: fewer float ops, same bit-reproducible
    * stated order), prediction = argmax with label-asc tie-break. Every
    * ln argument is a pure function of exact integer counts and the
    * emitted score is floor(score·1e6) — floor of bit-identical doubles
    * is an exact integer in any engine (round() is not).
    *
    * 100 TB shape: all model tables are (vocab × classes)-bounded
    * map-side-combined groupBys, broadcast into scoring; the only
    * corpus-sized exchange is the doc-term count build (token stream
    * keyed by (doc, word) with map-side combine). The per-doc fold state
    * is the doc's distinct-term list × |classes| — document-bounded,
    * never corpus-bounded. Token-less documents are not classifiable and
    * are omitted (the caller's gate decides their fate, not a fabricated
    * uniform prior). */
  def nbClassifier(df: DataFrame, idCol: String, textCol: String,
                   labelCol: String, seedMod: Int = 10): DataFrame = {
    require(seedMod >= 2, s"seedMod >= 2 (got $seedMod)")
    val base = graft.Tables.scaled(df.select(col(idCol).cast("long").as("id"),
      col(labelCol).as("label"),
      graft.functions.text.tokens(col(textCol)).as("tk")))
    val seed = base.filter(col("id") % seedMod === 0)
    val rest = base.filter(col("id") % seedMod =!= 0)
    // Stage cut (rule 14, r17 optimization round): the class×word count
    // table feeds the class totals, the vocabulary size, AND the scoring
    // join — three evaluations of the seed-slice tokenize + explode
    // without it. (classes × vocab)-bounded — model-sized, the t73 wt
    // convention.
    val cnt = graft.StageCut(seed.select(col("label").as("cls"), explode(col("tk")).as("w"))
      .groupBy("cls", "w").agg(count(lit(1)).as("c")), "nbClassifier.cnt")
    val tot = cnt.groupBy("cls").agg(sum("c").as("tot"))
    val vocab = cnt.select("w").distinct().agg(count(lit(1)).as("v"))
    val prior = seed.groupBy(col("label").as("cls"))
      .agg(count(lit(1)).as("n_c"))
    val nDocs = seed.agg(count(lit(1)).as("n_docs"))
    val classes = prior.join(tot, "cls").crossJoin(vocab).crossJoin(nDocs)
    val dt = rest.select(col("id"), explode(col("tk")).as("w"))
      .groupBy("id", "w").agg(count(lit(1)).as("n"))
    val scored = dt.crossJoin(broadcast(classes))
      .join(cnt, Seq("cls", "w"), "left")
      .withColumn("lnp", log((coalesce(col("c"), lit(0L)) + lit(1.0)) /
        (col("tot") + col("v"))))
    val perClass = scored.groupBy("id", "cls").agg(
      first(col("n_c")).as("n_c"), first(col("n_docs")).as("n_docs"),
      sum(col("n")).as("n_tokens"),
      graft.functions.GenEvalExpressions.ordered_sum(
        collect_list(struct(col("w").as("k"),
          (col("n") * col("lnp")).as("p"))))
        .as("s"))
      .withColumn("score",
        log(col("n_c").cast("double") / col("n_docs").cast("double")) +
          col("s"))
    val w = Window.partitionBy("id")
      .orderBy(col("score").desc, col("cls").asc)
    perClass.withColumn("rn", row_number().over(w)).filter(col("rn") === 1)
      .join(rest.select(col("id"), col("label")), "id")
      .select(col("id"), col("label"), col("cls").as("pred"),
        col("n_tokens"),
        floor(col("score") * lit(1000000.0)).cast("long").as("score_fp"),
        (col("label") === col("cls")).as("correct"))
  }

  /** Trained LINEAR (fastText-class) text classifier — the hashed
    * bag-of-n-grams + mean-pooling + linear-layer architecture of Joulin
    * et al. 2016 ("Bag of Tricks for Efficient Text Classification"),
    * the classifier CCNet/RefinedWeb/LLaMA-style pipelines actually gate
    * quality and domain on (reference analog: the quality-gate role of
    * `core/services/ingestion`'s scoring stage; [[nbClassifier]] is the
    * probabilistic seat, this is the embedding-space one, and it
    * completes the t30/t35 CCNet shape). Trained in-engine on the
    * labeled seed slice (id % seedMod == 0), scoring every other doc.
    *
    * Architecture, exactly: features are word UNIGRAMS plus adjacent
    * word BIGRAMS (fastText's wordNgrams=2), hashed into `buckets`
    * dimensions by the md5 hashing trick (fastText's hash bucket,
    * replayable in any engine); a document's vector is its mean-pooled
    * bag — here the exact ppm fixed point w_db = (cnt_db·10⁶) div L_d
    * over its L_d grams; the linear layer is trained CLOSED-FORM as
    * per-class mean centroids c_cb = (Σ_{d∈c} w_db) div n_c (the
    * least-squares-optimal prototype scorer for this pooling — one
    * groupBy, no SGD schedule to replay), and the class score is the
    * dot product Σ_b w_db·c_cb. Every quantity is an exact integer:
    * w ≤ 10⁶, c ≤ 10⁶, per-doc distinct buckets ≤ `buckets`, so
    * |score| ≤ buckets·10¹² — int64-safe through buckets ~10⁴.
    * Prediction = argmax with label-asc tie-break; margin = top1 − top2
    * (NULL when only one class trained). Token-less documents are not
    * classifiable and are omitted (the nbClassifier convention).
    *
    * 100 TB shape: the only corpus-sized exchanges are the (doc, bucket)
    * count groupBy (map-side combined; gram explode is map-only before
    * it) and the final per-doc argmax window (hash-partitioned on the
    * doc id). The model is (classes × buckets)-bounded — broadcast into
    * scoring, never shuffled with the corpus; the seed centroid build is
    * one map-side-combined groupBy over the seed slice. */
  def linearClassifier(df: DataFrame, idCol: String, textCol: String,
                       labelCol: String, seedMod: Int = 10,
                       buckets: Int = 256): DataFrame = {
    require(seedMod >= 2, s"seedMod >= 2 (got $seedMod)")
    require(buckets >= 2 && buckets <= 10000,
      s"buckets in [2, 1e4] keeps the dot product int64-safe and the " +
        s"model broadcastable (got $buckets)")
    // grams = unigrams ++ adjacent bigrams, with the tokenize BOUND ONCE
    // through the one-element-struct idiom (the ARCHITECTURE HOF rule:
    // projection collapse inlines tokens(text) into an interpreted
    // lambda, re-running the regex split per gram position — jstack'd
    // at 10.9 s/sf0.1 before the bind, 1.1 s after)
    def grams(txt: String) = element_at(transform(array(struct(
        graft.functions.text.tokens(col(txt)).as("t"))), p => {
      val toks = p.getField("t")
      concat(toks,
        when(size(toks) >= 2,
          transform(sequence(lit(1), size(toks) - 1),
            i => concat_ws(" ", element_at(toks, i.cast("int")),
              element_at(toks, (i + lit(1)).cast("int")))))
          .otherwise(array().cast("array<string>")))
    }), 1)
    // repartition BEFORE the gram compute (scaled() fans the single-row-
    // group scan out; the exchange boundary also stops projection
    // collapse from dragging the tokenize back into one task)
    val base = graft.Tables.scaled(df.select(
        col(idCol).cast("long").as("id"), col(labelCol).as("label"),
        col(textCol).as("__txt")))
      .select(col("id"), col("label"), grams("__txt").as("gr"))
      .withColumn("n_grams", size(col("gr")).cast("long"))
      .filter(col("n_grams") > 0)
    // one gram-explode/hash/count pass, four consumers (class sizes,
    // centroids, scoring, the output's doc roster) — stage-cut so the
    // corpus-sized tokenize+md5 work runs once, not once per branch
    val wt = graft.StageCut(base.select(col("id"), col("label"), col("n_grams"),
        explode(col("gr")).as("g"))
      .withColumn("b",
        text.md5_prefix_long(col("g"), 1, 15) % buckets)
      .groupBy("id", "label", "n_grams", "b")
      .agg(count(lit(1)).as("c"))
      .withColumn("w", expr("(c * 1000000) div n_grams")), "linearClassifier.wt")
    val seed = wt.filter(col("id") % seedMod === 0)
    val rest = wt.filter(col("id") % seedMod =!= 0)
    val nc = seed.groupBy(col("label").as("cls"))
      .agg(countDistinct(col("id")).as("n_c"))
    val cen = seed.groupBy(col("label").as("cls"), col("b"))
      .agg(sum(col("w")).as("sw"))
      .join(nc, "cls")
      .select(col("cls"), col("b"), expr("sw div n_c").as("cb"))
    // Raise loudly when the seed slice trained ZERO classes (the
    // nbClassifier/mcnemar convention, r16 advice): a bad seedMod or id
    // domain must read as "no model", never as "no docs". The guard row
    // exists only when the trained-class count is 0, so the broadcast
    // build itself raises before any scoring runs; on healthy input the
    // union branch contributes zero rows and one tiny count agg.
    val classes = nc.select("cls").union(
      nc.agg(count(lit(1)).as("__n_cls")).filter(col("__n_cls") === 0)
        .select(raise_error(lit(s"linearClassifier: seed slice (id % " +
          s"$seedMod == 0) trained zero classes — empty MODEL, not an " +
          "empty corpus; check seedMod against the id domain"))
          .cast(nc.schema.head.dataType).as("cls")))
    val scored = rest.crossJoin(broadcast(classes))
      .join(broadcast(cen), Seq("cls", "b"), "left")
      .groupBy("id", "cls")
      .agg(sum(col("w") * coalesce(col("cb"), lit(0L))).as("score"))
    val w = Window.partitionBy("id")
      .orderBy(col("score").desc, col("cls").asc)
    scored
      .withColumn("rn", row_number().over(w))
      .withColumn("s2", lead(col("score"), 1).over(w))
      .filter(col("rn") === 1)
      .join(rest.select(col("id"), col("label"), col("n_grams")).distinct(),
        "id")
      .select(col("id"), col("label"), col("cls").as("pred"),
        col("n_grams"), col("score"),
        (col("score") - col("s2")).as("margin"),
        (col("label") === col("cls")).as("correct"))
  }

  /** Flesch–Kincaid readability report (Kincaid et al. 1975; Flesch 1948)
    * — the oldest quality-scoring feature in the text-curation toolbox,
    * still a standard column in corpus quality cards beside t55's Gopher
    * rules: grade level 0.39·(W/S) + 11.8·(Y/W) − 15.59 and reading ease
    * 206.835 − 1.015·(W/S) − 84.6·(Y/W), both emitted as EXACT integer
    * cross-multiplications over the common denominator S·W — fkgl_e4 =
    * ⌊FKGL·10⁴⌋, fre_milli = ⌊FRE·10³⌋, clamped at 0 (negative grades
    * mean "pre-kindergarten"; the raw W/S/Y integers are all emitted so
    * nothing is lost to the clamp).
    *
    * Syllables use the classic vowel-run heuristic: maximal [aeiouy]+
    * runs per word, minus one for a silent terminal 'e' (ends in 'e', not
    * 'le', ≥ 2 runs), floor 1 — deterministic string arithmetic both
    * engines replay. The caller supplies the words array and the
    * SENTENCE count (real splits in production; the registry fixture
    * derives them from a pure integer rule, the t18 convention).
    *
    * Word-less or sentence-less docs report zeros with verdict 'empty' —
    * never dropped, never a division by zero.
    *
    * 100 TB shape: stateless map-only — per-row work bounded by doc
    * length; the collapsed-run array is materialized ONCE per row and the
    * per-word fold only reads lambda variables (the bind-once rule). */
  def readability(docs: DataFrame, idCol: String, wordsCol: String,
                  sentencesCol: String): DataFrame = {
    Guards.requireIntegral(docs, sentencesCol, "readability")
    val coll = transform(col(wordsCol),
      wd => regexp_replace(wd, "[aeiouy]+", "V"))
    val runs = transform(coll, r => (length(r) -
      length(regexp_replace(r, "V", ""))).cast("long"))
    val sylArr = zip_with(col(wordsCol), runs, (wd, rn) =>
      greatest(rn - when(wd.endsWith("e") && !wd.endsWith("le") &&
        rn >= 2, 1L).otherwise(0L), lit(1L)))
    docs
      .withColumn("words", size(col(wordsCol)).cast("long"))
      .withColumn("sentences", col(sentencesCol).cast("long"))
      .withColumn("syllables",
        when(col("words") > 0,
          aggregate(sylArr, lit(0L), (acc, s) => acc + s))
          .otherwise(0L))
      .withColumn("ok", col("words") > 0 && col("sentences") > 0)
      .withColumn("fkgl_e4", when(col("ok"), expr(
        "(greatest(39 * words * words + 1180 * syllables * sentences" +
          " - 1559 * sentences * words, 0) * 100) div (sentences * words)"))
        .otherwise(0L))
      .withColumn("fre_milli", when(col("ok"), expr(
        "greatest(206835 * sentences * words - 1015 * words * words" +
          " - 84600 * syllables * sentences, 0) div (sentences * words)"))
        .otherwise(0L))
      .withColumn("verdict",
        when(!col("ok"), "empty")
          .when(col("fre_milli") >= 90000L, "very_easy")
          .when(col("fre_milli") >= 70000L, "easy")
          .when(col("fre_milli") >= 50000L, "standard")
          .otherwise("difficult"))
      .select(col(idCol), col("words"), col("sentences"), col("syllables"),
        col("fkgl_e4"), col("fre_milli"), col("verdict"))
  }

  /** Zipf rank–frequency fit (Zipf 1949; Piantadosi 2014 review) — the
    * corpus-health diagnostic read before trusting token statistics: the
    * top-N type frequencies should fall on a ln f ≈ α·ln r + c line with
    * α ≈ −1 for natural text; a synthetic or template-heavy corpus shows
    * a flat head (this word-soup corpus: α ≈ −0.18) and a filtered
    * corpus a broken tail. Emits the top-N (rank, word, freq) rows with
    * the OLS fit in ln–ln space as constant columns: slope_fpm =
    * ⌊α·10⁶⌋, intercept_fpm = ⌊c·10⁶⌋.
    *
    * Determinism: ranks are exact ((freq desc, word asc) total order);
    * the four OLS sums fold the ≤ topN (x, y) = (ln r, ln f) points in
    * RANK order via one sort_array fold each (the t30 discipline — ln of
    * an integer is the one cross-engine-safe float primitive), and the
    * closed form (n·Σxy − ΣxΣy)/(n·Σxx − (Σx)²) is one IEEE division of
    * bit-identical doubles, floored at the end.
    *
    * 100 TB shape: one map-side-combined type-count groupBy (vocabulary-
    * bounded exchange, the t38 class), a k-bounded top-N selection, and a
    * topN-row fold — the fit never sees more than topN rows. Fewer than
    * 2 distinct types raises (the fit is undefined). */
  def zipfSlope(docs: DataFrame, textCol: String, topN: Int = 64): DataFrame = {
    require(topN >= 2, s"zipfSlope needs topN >= 2 (got $topN)")
    val cnt = graft.Tables.scaled(
        docs.select(explode(text.tokens(col(textCol))).as("w")))
      .groupBy("w").agg(count(lit(1)).as("freq"))
      .orderBy(col("freq").desc, col("w").asc).limit(topN)
    val ranked = cnt.withColumn("rank", row_number().over(
      Window.orderBy(col("freq").desc, col("w").asc)))
    val fit = ranked.agg(
        count(lit(1)).cast("long").as("n"),
        sort_array(collect_list(struct(col("rank").as("r"),
          log(col("rank").cast("double")).as("x"),
          log(col("freq").cast("double")).as("y")))).as("pts"))
      .withColumn("sx", aggregate(col("pts"), lit(0.0),
        (a, p) => a + p.getField("x")))
      .withColumn("sy", aggregate(col("pts"), lit(0.0),
        (a, p) => a + p.getField("y")))
      .withColumn("sxy", aggregate(col("pts"), lit(0.0),
        (a, p) => a + p.getField("x") * p.getField("y")))
      .withColumn("sxx", aggregate(col("pts"), lit(0.0),
        (a, p) => a + p.getField("x") * p.getField("x")))
      .withColumn("slope", when(col("n") < 2, expr(
        "raise_error('zipfSlope needs >= 2 distinct types')").cast("double"))
        .otherwise((col("n") * col("sxy") - col("sx") * col("sy")) /
          (col("n") * col("sxx") - col("sx") * col("sx"))))
      .select(
        floor(col("slope") * lit(1000000.0)).cast("long").as("slope_fpm"),
        floor(((col("sy") - col("slope") * col("sx")) / col("n")) *
          lit(1000000.0)).cast("long").as("intercept_fpm"))
    ranked.select(col("rank").cast("long"), col("w").as("word"), col("freq"))
      .crossJoin(broadcast(fit))
  }

  /** Heaps-law vocabulary-growth curve (Heaps 1978; Egghe 2007) — the
    * other corpus-health diagnostic: distinct types V against gram volume
    * G over exponentially spaced corpus prefixes, with the local exponent
    * β = ln(V_i/V_{i−1})/ln(G_i/G_{i−1}) per doubling (natural text:
    * V ∝ G^β, β ≈ 0.4–0.6 for unigrams). Run over an n-gram ladder the
    * three regimes separate: a closed vocabulary saturates (β → 0), long
    * grams stay near-linear (β ≈ 1) — a corpus whose TRIGRAM curve
    * saturates is template spam, the signal this diagnostic exists for.
    *
    * Prefixes: docs ranked by id, level i covers the first
    * ⌈N/2^(levels−i)⌉ docs (level `levels` = all). A type's first level =
    * the level of the first doc containing it (min over its occurrences),
    * so per-level cumulative counts need no per-prefix rescans.
    *
    * Output per (n, level): `n_docs`, `grams` (instances), `types`
    * (distinct), `beta_fpm` (0 at level 1 and wherever the ratio is
    * degenerate). The one float is ln of a ratio of exact integers,
    * floored fixed-point (t30 primitive).
    *
    * 100 TB shape: the doc-rank row_number is a range-partitioned sort of
    * the DOC table (ids only — the diagnostic's one global exchange);
    * grams flow through ONE tokenize into two map-side-combined groupBys
    * — (n, gram) min-level (vocabulary-bounded, the t45 class) and
    * (n, level) instance counts (levels-bounded); everything after runs
    * on |ns|·levels rows. */
  def heapsGrowth(docs: DataFrame, idCol: String, textCol: String,
                  ns: Seq[Int] = Seq(1, 2, 3), levels: Int = 8): DataFrame = {
    require(ns.nonEmpty && levels >= 1,
      s"heapsGrowth needs grams orders and >= 1 level (got $ns / $levels)")
    val spark = docs.sparkSession
    import spark.implicits._
    val n = docs.agg(count(lit(1)).cast("long").as("__n"))
    // rank IDS ONLY through the global window (8-byte rows), then
    // equi-join the rank back — the text never crosses the sort
    val rankOfId = docs.select(col(idCol).as("__id"))
      .withColumn("__rank",
        row_number().over(Window.orderBy(col("__id"))).cast("long"))
    val ranked = docs.select(col(idCol).as("__id"), col(textCol).as("__t"))
      .join(rankOfId, "__id")
      .crossJoin(broadcast(n))
    // smallest level whose prefix cap covers this doc's rank
    val withLevel = ranked.withColumn("__ml", expr(
      s"aggregate(sequence(1, $levels), CAST($levels + 1 AS BIGINT), " +
        s"(acc, i) -> IF(acc <= $levels, acc, " +
        s"IF(__rank <= IF(i = $levels, __n, " +
        s"(__n + shiftleft(1L, $levels - i) - 1) div " +
        s"shiftleft(1L, $levels - i)), CAST(i AS BIGINT), acc)))"))
    val grams = graft.Tables.scaled(
        withLevel.select(col("__ml"),
          explode(text.word_shingles_multi(col("__t"), ns,
            distinct = false)).as("rg")))
      .select(col("__ml"), col("rg.rung").as("n"),
        explode(col("rg.gs")).as("g"))
    // One corpus pass instead of two (r17 optimization round): the gram
    // stream previously fed the instance count AND the type count as two
    // separate aggregations, re-running the tokenize + 3-rung shingle
    // explode per consumer (measured: 14 parquet scans in the r17 `before`
    // plan). Both statistics derive from one map-side-combined rollup to
    // (rung, gram, level) — types-sized, so the stage cut materializes the
    // survivor set, never the n-x-corpus gram stream (the t26 caution).
    // gi = Σ_g cnt ≡ count(*) per (n, level); tc unchanged.
    val gml = graft.StageCut(grams.groupBy("n", "g", "__ml").agg(count(lit(1)).as("cnt")),
      "heapsGrowth.gml")
    val inst = gml.groupBy("n", "__ml").agg(sum(col("cnt")).as("gi"))
    val typ = gml.groupBy("n", "g").agg(min(col("__ml")).as("__ml"))
      .groupBy("n", "__ml").agg(count(lit(1)).as("tc"))
    val grid = ns.map(_.toLong).toDF("n")
      .crossJoin((1 to levels).map(_.toLong).toDF("level"))
      .crossJoin(broadcast(n))
      .withColumn("n_docs", expr(
        s"IF(level = $levels, __n, (__n + shiftleft(1L, $levels - level)" +
          s" - 1) div shiftleft(1L, $levels - level))"))
    val w = Window.partitionBy("n").orderBy("level")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val cum = grid
      .join(inst.withColumnRenamed("__ml", "level"), Seq("n", "level"), "left")
      .join(typ.withColumnRenamed("__ml", "level"), Seq("n", "level"), "left")
      .withColumn("grams", sum(coalesce(col("gi"), lit(0L))).over(w))
      .withColumn("types", sum(coalesce(col("tc"), lit(0L))).over(w))
    val lagW = Window.partitionBy("n").orderBy("level")
    cum
      .withColumn("pg", lag(col("grams"), 1).over(lagW))
      .withColumn("pt", lag(col("types"), 1).over(lagW))
      .withColumn("beta_fpm",
        when(col("pt").isNull || col("pt") === 0 || col("pg") === 0 ||
          col("grams") === col("pg") || col("types") === col("pt"), 0L)
          .otherwise(floor(
            (log(col("types").cast("double") / col("pt")) /
              log(col("grams").cast("double") / col("pg"))) *
              lit(1000000.0)).cast("long")))
      .select(col("n"), col("level"), col("n_docs"), col("grams"),
        col("types"), col("beta_fpm"))
  }

  /** Tokenizer-fit (fertility) report per group — the compatibility
    * audit run before committing a corpus to a tokenizer (Rust et al.
    * 2021 "How Good is Your Tokenizer?"; the BLOOM/XGLM per-language
    * fertility tables): high fertility on a language means its texts pay
    * more sequence length per word — a data-mixture and cost input, not
    * just a curiosity. Per group, all exact integers over the REAL
    * greedy-merge tokenizer ([[graft.functions.BpeTokenizer]], the t25
    * kernel — not the t8 regex estimate):
    *  - `n_docs`, `n_words` (whitespace), `n_chars` (word chars, spaces
    *    excluded), `n_tokens` (BPE);
    *  - `fertility_ppm` = tokens·10⁶ div words (tokens per word);
    *  - `chars_per_token_ppm` = chars·10⁶ div tokens (compression);
    *  - `continuation_ppm` = (tokens − words)·10⁶ div tokens — the share
    *    of non-word-initial subword pieces (every word is ≥ 1 token, so
    *    tokens − words counts exactly the continuations).
    * Word-less groups report honest zeros (t38 convention).
    *
    * 100 TB shape: the merges table rides the plan as a literal into the
    * codegen'd encode kernel (map-only, per-row cost bounded by doc
    * length), then ONE map-side-combined per-group aggregation of four
    * longs — nothing corpus-sized is exchanged. */
  def tokenizerFertility(docs: DataFrame, groupCol: String, textCol: String,
      merges: Seq[(String, String)] =
        graft.functions.BpeTokenizer.FixtureMerges): DataFrame = {
    val words = text.tokens(col(textCol))
    val per = graft.Tables.scaled(docs.select(col(groupCol).as("grp"),
        size(words).cast("long").as("w"),
        aggregate(words, lit(0L), (a, x) => a + length(x)).as("c"),
        size(graft.functions.BpeTokenizer.bpe_encode(
          text.fold(col(textCol)), merges)).cast("long").as("t")))
      .groupBy("grp").agg(
        count(lit(1)).as("n_docs"),
        sum(col("w")).as("n_words"),
        sum(col("c")).as("n_chars"),
        sum(col("t")).as("n_tokens"))
    per.select(col("grp"), col("n_docs"), col("n_words"), col("n_chars"),
      col("n_tokens"),
      when(col("n_words") > 0, expr("(n_tokens * 1000000) div n_words"))
        .otherwise(0L).as("fertility_ppm"),
      when(col("n_tokens") > 0, expr("(n_chars * 1000000) div n_tokens"))
        .otherwise(0L).as("chars_per_token_ppm"),
      when(col("n_tokens") > 0,
        expr("((n_tokens - n_words) * 1000000) div n_tokens"))
        .otherwise(0L).as("continuation_ppm"))
  }

  /** Weighted sampling WITHOUT replacement, the A-ES one-pass scheme
    * (Efraimidis & Spirakis 2006): each row draws key = u^(1/w); the k
    * largest keys are exactly a weight-proportional sample without
    * replacement — the scheme behind every "sample 1M docs, quality-
    * weighted" curation step that t14/t43's uniform/quota samplers can't
    * express. Ranked equivalently by ln(u)/w (monotone; u ∈ (0,1) so
    * both are negative and order-preserving), which keeps the draw in
    * the t30 float discipline: u = (h+1)/1000001 with h = md5 % 10⁶ (the
    * standard derandomization), key = ln(u)/w — one division, one ln,
    * one division, bit-identical in any engine, ties broken by id.
    *
    * Output: the k selected rows as (`rank_pos`, id, `weight`,
    * `key_fpb` = ⌊key·10⁹⌋ — fixed-point for the gate; ranking runs on
    * the double). Non-positive weights raise through the key column
    * itself (it is the sort key — Catalyst cannot prune the guard).
    *
    * 100 TB shape: stateless map to (key, id, w), then ONE
    * TakeOrderedAndProject — per-partition k-bounded heaps merged on the
    * driver (design rule 18), no global sort, no shuffle of the corpus;
    * the final rank window runs on k rows. */
  def weightedSample(df: DataFrame, idCol: String, weightCol: String,
                     k: Int, seed: String = "wrs"): DataFrame = {
    require(k >= 1, s"weightedSample needs k >= 1 (got $k)")
    // the emitted weight column is cast('long'); fractional weights would
    // RANK correctly (the key uses the raw double) but REPORT truncated —
    // require integral so the output is never silently lossy
    Guards.requireIntegral(df, weightCol, "weightedSample")
    val h = text.md5_prefix_long(concat(lit(seed + ":"), col(idCol)), 1, 6) % 1000000L
    val key = when(col(weightCol) <= 0, expr(
      "raise_error('weightedSample: weights must be positive')")
      .cast("double"))
      .otherwise(log((h + 1).cast("double") / lit(1000001.0)) /
        col(weightCol).cast("double"))
    df.select(col(idCol).as("__id"),
        col(weightCol).cast("long").as("weight"), key.as("__key"))
      .orderBy(col("__key").desc, col("__id").asc)
      .limit(k)
      .withColumn("rank_pos", row_number().over(
        Window.orderBy(col("__key").desc, col("__id").asc)).cast("long"))
      .select(col("rank_pos"), col("__id").as(idCol), col("weight"),
        floor(col("__key") * lit(1000000000.0)).cast("long").as("key_fpb"))
  }
}
