package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import graft.functions.text

/** Deduplication suite for training-data pipelines: exact, MinHash+LSH,
  * SimHash, n-gram Jaccard, embedding-cosine (the latter in
  * [[graft.queries.VectorQueries]]).
  *
  * Scale design: every method is shuffle-bounded —
  *  - exact: one hash-groupBy on a 16-byte key (map-side combine).
  *  - MinHash LSH: candidate generation is an equi-join on band keys, so the
  *    shuffle carries (doc, band-key) rows, never the O(n^2) pair space;
  *    the Jaccard estimate then prunes candidates without touching raw text.
  *  - SimHash: 48-bit fingerprint + byte-prefix blocking keeps near-dup
  *    detection an equi-join as well.
  * Brute-force n-gram Jaccard is kept as the small-scope oracle path.
  */
object Dedup {

  /** Exact duplicate groups by normalized-content fingerprint. Returns one
    * row per duplicated fingerprint: canonical (min) id, sorted ids, count.
    * The id list is a holistic agg, so it runs through the two-stage salted
    * path — a mega-duplicate cluster (one fingerprint covering millions of
    * rows) lands on `salts` reducers in stage 1 instead of one; the final
    * sort_array makes the output independent of the salting. */
  def exactGroups(df: DataFrame, idCol: String, textCol: String): DataFrame =
    Skew.saltedCollectList(
      df.select(col(idCol).cast("long").as("id"), text.fingerprint(col(textCol)).as("fp")),
      Seq("fp"), "id")
      .select(col("fp"), array_min(col("values")).as("canonical_id"),
        sort_array(col("values")).as("ids"),
        size(col("values")).cast("long").as("dup_count"))
      .filter(col("dup_count") > 1)

  /** Exact-dedup keep-list: the min id per fingerprint (what a pipeline
    * would keep; everything else is dropped). */
  def exactKeep(df: DataFrame, idCol: String, textCol: String): DataFrame =
    df.select(col(idCol).cast("long").as("id"), text.fingerprint(col(textCol)).as("fp"))
      .groupBy("fp").agg(min("id").as("keep_id"))

  /** SOFT dedup — duplication-aware sampling instead of hard dropping
    * (the SlimPajama-DC / "soft deduplication" reweighting family): hard
    * dedup ([[exactKeep]]) throws away the DUPLICATION SIGNAL itself —
    * a passage repeated 10 000× is usually boilerplate, but sometimes it
    * is a license text or a catechism a model should weight highly once.
    * Soft dedup keeps every doc and emits its duplication-corrected
    * sampling weight w = 10⁶/dup_count ppm, plus an md5-DERANDOMIZED
    * accept decision (kept iff u·dup_count < 10⁶, u uniform ppm — the
    * t21/t36/t43 discipline): each cluster keeps ONE doc in expectation
    * while the realized keep set stays a pure function of the corpus
    * (reproducible anywhere) and singletons are always kept (u < 10⁶ by
    * construction). A trainer can consume either column: `weight_ppm`
    * for loss-weighting / sampling-rate schedules, `kept` for a
    * materialized subset.
    *
    * 100 TB shape: ONE map-side-combined fingerprint count groupBy (the
    * t3 exchange — counts only, never id lists), one equi-join back on
    * the fingerprint; the decision is a per-row pure function. */
  def softDedup(df: DataFrame, idCol: String, textCol: String,
                seed: String = "sdd"): DataFrame = {
    val fp = df.select(col(idCol).cast("long").as("id"),
      text.fingerprint(col(textCol)).as("fp"))
    val counts = fp.groupBy("fp").agg(count(lit(1)).as("dup_count"))
    val u = text.md5_prefix_long(concat(lit(seed + ":"), col("id")), 1, 6) % 1000000L
    fp.join(counts, Seq("fp"))
      .withColumn("weight_ppm", expr("1000000 div dup_count"))
      .withColumn("__u", u)
      .withColumn("kept", col("__u") * col("dup_count") < 1000000L)
      .select(col("id"), col("dup_count"), col("weight_ppm"), col("kept"))
  }

  /** MinHash signature table: (id, norm, sig array<long>).
    * normalize (cheap regex) runs before the exchange; the md5-heavy
    * signature is a single-pass Catalyst expression AFTER it, so the work
    * parallelizes and never re-evaluates per seed (see
    * TextHashExpressions). */
  def minhashSignatures(df: DataFrame, idCol: String, textCol: String,
                        shingleSize: Int, numHashes: Int): DataFrame =
    graft.Tables.scaled(df.select(col(idCol).cast("long").as("id"),
      text.normalize(col(textCol)).as("norm")))
      .withColumn("sig", text.minhash_signature_fast(col("norm"), numHashes, shingleSize))

  /** LSH candidate pairs + MinHash-estimated Jaccard.
    * Candidates = docs sharing >= 1 band key (equi-join, not cross join);
    * est_jaccard = fraction of agreeing signature positions. */
  /** (id, sig, band_key) rows: one per document per band.
    * Docs with no shingles (text shorter than the shingle) cannot be
    * near-dups; drop them so the all-sentinel signatures don't cross-match.
    * The extra scaled() is an exchange barrier: band_keys reads `sig` as a
    * materialized attribute instead of re-evaluating the signature per band
    * (CollapseProject would otherwise inline it 4x).
    * Explode CONSTANT band indices, not the derived key array: exploding a
    * derived array makes Catalyst push its implicit `size(arr) > 0` filter
    * down to the scan, inlining (and serially re-evaluating) the whole
    * signature expression there — observed live as a 200s one-task stage. */
  private def bandKeys(df: DataFrame, idCol: String, textCol: String,
                       shingleSize: Int, numHashes: Int, bands: Int): DataFrame =
    bandKeysFromSigs(filteredSigs(df, idCol, textCol, shingleSize, numHashes),
      numHashes, bands)

  /** (id, sig) rows for docs long enough to shingle (see [[bandKeys]]). */
  private def filteredSigs(df: DataFrame, idCol: String, textCol: String,
                           shingleSize: Int, numHashes: Int): DataFrame =
    graft.Tables.scaled(
      minhashSignatures(df, idCol, textCol, shingleSize, numHashes)
        .filter(length(col("norm")) >= shingleSize)
        .select("id", "sig"))

  private def bandKeysFromSigs(sigs: DataFrame, numHashes: Int,
                               bands: Int): DataFrame = {
    val rows = numHashes / bands
    sigs
      .select(col("*"), explode(sequence(lit(0), lit(bands - 1))).as("band_idx"))
      .withColumn("band_key", text.lsh_band_key(col("sig"), col("band_idx"), rows))
  }

  /** The banded corpus as a reusable INDEX table: (id, sig, band_key) —
    * write it partitioned/bucketed by band_key once, then match any new
    * batch against it with [[lshMatchAgainst]] without re-hashing the
    * corpus. */
  def bandIndex(df: DataFrame, idCol: String, textCol: String,
                shingleSize: Int = 5, numHashes: Int = 16,
                bands: Int = 4): DataFrame =
    bandKeys(df, idCol, textCol, shingleSize, numHashes, bands)

  /** Incoming-vs-corpus near-dup matching — the "new crawl against the
    * historical index" pass an incremental training-data build runs on
    * every batch. Incoming docs band with the same parameters and equi-join
    * the corpus index on band_key (never all-pairs); the per-doc best match
    * (highest estimate, smallest corpus id tiebreak) survives. Streaming
    * shape: this is a batch function applied per micro-batch via
    * `foreachBatch` (design rule 8 — the stream-static join needs no
    * cross-batch state because the index side is static within a batch);
    * StreamingCorpusDedupSpec drives exactly that. */
  def lshMatchAgainst(incoming: DataFrame, index: DataFrame,
                      idCol: String, textCol: String,
                      shingleSize: Int = 5, numHashes: Int = 16,
                      bands: Int = 4, minEst: Double = 0.25): DataFrame = {
    val q = bandKeys(incoming, idCol, textCol, shingleSize, numHashes, bands).as("q")
    val hits = q.join(index.as("x"), col("q.band_key") === col("x.band_key"))
      .select(col("q.id").as("id"), col("x.id").as("corpus_id"),
        (size(filter(zip_with(col("q.sig"), col("x.sig"), (a, b) => a === b),
          v => v)).cast("double") / numHashes).as("est_jaccard"))
      .filter(col("est_jaccard") >= minEst)
      .distinct()
    hits.withColumn("rn", row_number().over(
        org.apache.spark.sql.expressions.Window.partitionBy("id")
          .orderBy(col("est_jaccard").desc, col("corpus_id").asc)))
      .filter(col("rn") === 1).drop("rn")
  }

  def minhashLshPairs(df: DataFrame, idCol: String, textCol: String,
                      shingleSize: Int = 5, numHashes: Int = 16,
                      bands: Int = 4, minEst: Double = 0.0): DataFrame = {
    // IDENTICAL-SIGNATURE PRE-REDUCTION (round-11 lowmem finding): the
    // banded self-join's distinct() was t4's only 4 GiB-heap spill source
    // (7.6 GB at x64 — the raw join emission itself spills nothing),
    // because exact-duplicate groups of g docs cross the distinct as
    // g²/2·bands rows and band-keyed partitioning defeats map-side partial
    // dedup (a pair's m band repeats live in m different partitions). So:
    // collapse identical signatures FIRST (one groupBy), run the banded
    // join + distinct over one REPRESENTATIVE per distinct signature, and
    // expand group members back afterwards as pure streaming equi-joins —
    // no aggregation state ever sees the quadratic pair volume. Exact:
    // same-sig docs share every band (est 1.0 by definition); a cross pair
    // (x, y) shares a band iff its reps do, with the identical estimate.
    // The OUTPUT stays pair-quadratic on duplicate groups — that is the
    // operator's contract ([[minhashLshKeepList]] is the linear-output
    // form) — but the quadratic part is now generate-and-stream, never
    // sort/hash state.
    // Stage cut (rule 14, r17 optimization round): the signature table
    // feeds the rep rollup AND four member-expansion references (two sides
    // of `within`, two of `cross`) — five evaluations of the tokenize +
    // numHashes md5 lanes without it. Compact (id + 16 longs + one md5 per
    // doc, far smaller than the text) — the signature table IS what a
    // scale run writes between the fingerprint and match passes.
    val members = graft.StageCut(filteredSigs(df, idCol, textCol, shingleSize, numHashes)
      .withColumn("sig_key", md5(concat_ws(",", col("sig").cast("array<string>")))),
      "minhashLsh.members")
    val reps = members.groupBy("sig_key")
      .agg(min(struct(col("id"), col("sig"))).as("r"))
      .select(col("sig_key"), col("r.id").as("id"), col("r.sig").as("sig"))
    val banded = bandKeysFromSigs(graft.Tables.scaled(reps), numHashes, bands)
    val a = banded.as("a"); val b = banded.as("b")
    // est_jaccard is computed (and minEst-pruned) straight off the join, so
    // the dedup shuffle behind distinct() carries 3 scalar columns — not two
    // 16-long signature arrays — and chance band collisions below the
    // threshold never reach it. A rep pair matching in m bands appears m
    // (<= bands) times with the same deterministic estimate; distinct() is
    // the per-pair dedup.
    val repPairs = a.join(b,
        col("a.band_key") === col("b.band_key") && col("a.id") < col("b.id"))
      .select(col("a.sig_key").as("ka"), col("b.sig_key").as("kb"),
        (size(filter(zip_with(col("a.sig"), col("b.sig"), (x, y) => x === y),
          x => x)).cast("double") / numHashes).as("est_jaccard"))
      .filter(col("est_jaccard") >= minEst)
      .distinct()
    val mx = members.select(col("sig_key"), col("id"))
    val within = mx.as("x").join(mx.as("y"),
        col("x.sig_key") === col("y.sig_key") && col("x.id") < col("y.id"))
      .select(col("x.id").as("id_a"), col("y.id").as("id_b"),
        lit(1.0).as("est_jaccard"))
      .filter(lit(1.0) >= minEst)
    val cross = repPairs
      .join(mx.select(col("sig_key").as("ka"), col("id").as("__ia")), "ka")
      .join(mx.select(col("sig_key").as("kb"), col("id").as("__ib")), "kb")
      .select(least(col("__ia"), col("__ib")).as("id_a"),
        greatest(col("__ia"), col("__ib")).as("id_b"), col("est_jaccard"))
    within.unionByName(cross)
  }

  /** LSH dedup keep-list WITHOUT pair materialization: every doc's group
    * label = min id over all band buckets it belongs to (one min-label
    * propagation step — the standard LSH dedup output; iterate for full
    * transitive closure). The whole computation is equi-key groupBys, so a
    * mega-duplicate-cluster costs O(cluster) rows, never O(cluster²) pairs —
    * this is the 100 TB-shaped output; [[minhashLshPairs]] is the
    * pair-level analysis view. Keep = rows where id == keep_id. */
  def minhashLshKeepList(df: DataFrame, idCol: String, textCol: String,
                         shingleSize: Int = 5, numHashes: Int = 16,
                         bands: Int = 4): DataFrame = {
    val banded = bandKeys(df, idCol, textCol, shingleSize, numHashes, bands)
      .select("id", "band_key")
    val bucketMin = banded.groupBy("band_key").agg(min("id").as("bucket_min"))
    banded.join(bucketMin, "band_key")
      .groupBy("id").agg(min("bucket_min").as("keep_id"))
  }

  /** Exact n-gram Jaccard for given candidate pairs (or brute force when
    * `pairs` is a cross join) — the oracle path for LSH. */
  def ngramJaccardPairs(df: DataFrame, idCol: String, textCol: String,
                        shingleSize: Int, threshold: Double,
                        maxId: Option[Long] = None): DataFrame = {
    val base = maxId.map(m => df.filter(col(idCol) < m)).getOrElse(df)
    val sh = graft.Tables.scaled(base.select(col(idCol).cast("long").as("id"),
      text.char_shingles(col(textCol), shingleSize).as("sh")))
    val a = sh.as("a"); val b = sh.as("b")
    a.join(b, col("a.id") < col("b.id"))
      .withColumn("jaccard",
        size(array_intersect(col("a.sh"), col("b.sh"))).cast("double") /
          size(array_union(col("a.sh"), col("b.sh"))))
      .filter(col("jaccard") >= threshold)
      .select(col("a.id").as("id_a"), col("b.id").as("id_b"),
        round(col("jaccard"), 6).as("jaccard"))
  }

  /** ASYMMETRIC containment near-dup pairs — the quote/subset detector
    * the symmetric family (MinHash t4/t9, SimHash t5, Jaccard t7)
    * structurally misses: a 40-token quote inside a 4000-token document
    * has containment |A∩B|/|A| = 1.0 but Jaccard ≈ 0.01, far under any
    * dedup threshold, and MinHash banding keys on the UNION's minima so
    * the pair never collides. Detecting "this doc is mostly contained in
    * that one" is the decontamination / quote-dedup / license-text
    * primitive (the LSH-Ensemble problem — Zhu et al., VLDB 2016 — here
    * solved with the direct sample+index shape instead of
    * per-size-partition MinHash, because the exact verify is affordable
    * on candidates).
    *
    * Candidate generation, linear end to end:
    *  1. distinct word-`shingleWords`-gram shingles per doc, hashed to
    *     60 bits (md5 prefix — the q9 spelling, oracle-replayable);
    *  2. shingles with document frequency > `dfCap` are dropped from
    *     BOTH the sample and the index — a shingle shared by half the
    *     corpus is boilerplate, not a containment signal, and its index
    *     posting list would be a quadratic hot key (the t40
    *     stop-fingerprint / fuzzyPairs maxBlock discipline). The cap is
    *     a stated recall trade: a doc whose every shingle is hot
    *     generates no candidates (route such docs through exactGroups);
    *  3. each doc's SAMPLE = its `sampleM` smallest rare shingle hashes
    *     (bottom-m — deterministic, and uniform over the doc's rare
    *     shingles by the hash's uniformity, the KMV law);
    *  4. candidates = sample ⋈ rare-shingle inverted index on h
    *     (small ≠ big), kept when hits ≥ half the doc's OWN sample size
    *     — a doc ≥ `thresholdPpm`-contained in another matches most of
    *     its sample by Markov's bound, so the majority cut keeps recall
    *     while bounding candidates by sampleM · dfCap per doc;
    *  5. exact verify on candidates only: n_shared over the FULL
    *     distinct-shingle sets (hot shingles included — the cap prunes
    *     candidates, never the statistic), containment as exact ppm.
    *
    * 100 TB shape: the corpus-sized exchanges are the distinct
    * (id, shingle-hash) rollup, the df count, and the sample/index
    * equi-join whose per-key fan-out is capped by dfCap; the verify join
    * touches candidate pairs only. Never all-pairs.
    *
    * Output: (small_id, big_id, n_small, n_shared, containment_ppm ≥
    * `thresholdPpm`), both directions possible (containment is
    * asymmetric; exact dups emit both). */
  def containmentPairs(df: DataFrame, idCol: String, textCol: String,
                       shingleWords: Int = 3, sampleM: Int = 8,
                       dfCap: Int = 50,
                       thresholdPpm: Long = 800000L): DataFrame = {
    require(shingleWords >= 1 && shingleWords <= 8,
      s"containmentPairs needs shingleWords in [1, 8] (got $shingleWords)")
    require(sampleM >= 2 && sampleM <= 256,
      s"containmentPairs needs sampleM in [2, 256] (got $sampleM)")
    require(dfCap >= 2,
      s"containmentPairs needs dfCap >= 2 (got $dfCap)")
    require(thresholdPpm >= 1 && thresholdPpm <= 1000000,
      s"containmentPairs needs thresholdPpm in [1, 1e6] (got $thresholdPpm)")
    import org.apache.spark.sql.expressions.Window
    // Stage cuts (rule 14, r17 optimization round): the tokenize + shingle +
    // md5 stream feeds FIVE consumers (sz, dfc, rare, and both verify-join
    // sides), and `rare`/`samp` each feed two more — without the cuts the
    // corpus-wide shingle scan executed up to 9x per run (measured: 36
    // parquet scans in the r17 `before` plan; the t74 row was the bench's
    // slowest at 4.1 s). `hh` is 16 bytes/shingle — the same order as the
    // input text, i.e. the "write stage outputs between curation passes"
    // size a 100 TB run checkpoints anyway; `rare` and `samp` are strictly
    // smaller (df-capped / bottom-m).
    val hh = graft.StageCut(graft.Tables.scaled(
      df.select(col(idCol).cast("long").as("id"),
        explode(text.word_shingles(col(textCol), shingleWords)).as("g")))
      .select(col("id"),
        text.md5_prefix_long(
          concat(lit("cnt:"), col("g")), 1, 15).as("h")), "containment.hh")
    val sz = hh.groupBy("id").agg(count(lit(1)).as("n_small"))
    val dfc = hh.groupBy("h").agg(count(lit(1)).as("df"))
    val rare = graft.StageCut(hh.join(dfc.filter(col("df") <= dfCap), Seq("h"))
      .select("id", "h"), "containment.rare")
    val samp = graft.StageCut(rare
      .withColumn("rk", row_number().over(Window.partitionBy("id").orderBy("h")))
      .filter(col("rk") <= sampleM).select("id", "h"), "containment.samp")
    val sampSz = samp.groupBy("id").agg(count(lit(1)).as("m_sz"))
    val cand = samp.select(col("id").as("small_id"), col("h"))
      .join(rare.select(col("id").as("big_id"), col("h")), Seq("h"))
      .filter(col("small_id") =!= col("big_id"))
      .groupBy("small_id", "big_id").agg(count(lit(1)).as("hits"))
      .join(sampSz.select(col("id").as("small_id"), col("m_sz")), Seq("small_id"))
      .filter(col("hits") * 2 >= col("m_sz"))
      .select("small_id", "big_id")
    cand
      .join(hh.select(col("id").as("small_id"), col("h")), Seq("small_id"))
      .join(hh.select(col("id").as("big_id"), col("h")), Seq("big_id", "h"))
      .groupBy("small_id", "big_id").agg(count(lit(1)).as("n_shared"))
      .join(sz.select(col("id").as("small_id"), col("n_small")), Seq("small_id"))
      .withColumn("containment_ppm",
        expr("(n_shared * 1000000) div n_small"))
      .filter(col("containment_ppm") >= thresholdPpm)
      .select("small_id", "big_id", "n_small", "n_shared", "containment_ppm")
  }

  /** Embedding near-dup pairs, LSH-bucketed (the scale path; brute-force
    * cosine over all pairs is the oracle view). Blocking: the sign pattern
    * of the vector's components, split into `blocks` contiguous slices —
    * near-identical embeddings flip few signs, so they share at least one
    * unchanged block (same pigeonhole as SimHash blocking). Candidate
    * generation is an equi-join on (block_idx, sign-slice); exact cosine
    * runs only within blocks. */
  /** Fuzzy near-duplicate pairs by BOUNDED EDIT DISTANCE — the
    * entity-resolution / title-dedup arm the token-set family (MinHash,
    * SimHash) can't express: "colour" vs "color" is one edit but a
    * different token. Candidates share an exact normalized-prefix
    * blocking key — the standard Fellegi–Sunter-style candidate
    * generator; an edit INSIDE the first `prefixLen` chars escapes the
    * block, the stated recall trade every production blocker makes (run
    * with a second, suffix-keyed pass when that matters) — gated by the
    * Levenshtein length lower bound (|len(a)−len(b)| ≤ maxDist, so no
    * length-based recall loss), then exact Levenshtein ≤ `maxDist` over
    * the `fieldLen`-char normalized field, computed ONLY on block
    * collisions.
    *
    * 100 TB shape: one equi-join on the block key, never all-pairs; the
    * O(fieldLen²) distance runs on collision rows only and fieldLen is a
    * constant. Block SKEW is bounded by `maxBlock`: a viral prefix (a
    * boilerplate header shared by half the corpus) would otherwise cost
    * O(block²) pairs on one shuffle key — blocks with more than
    * `maxBlock` members are dropped entirely (the t40 stop-fingerprint
    * discipline; a block that common is boilerplate, not a near-dup
    * signal — route it through exactGroups/minhash instead). The cap is
    * NOT silent: [[fuzzyStopBlocks]] is the auditable view of exactly
    * which blocks were dropped and how many members each had. */
  def fuzzyPairs(df: DataFrame, idCol: String, textCol: String,
                 fieldLen: Int = 40, prefixLen: Int = 8,
                 maxDist: Int = 18, maxBlock: Int = 256): DataFrame = {
    require(maxDist >= 0, s"fuzzyPairs needs maxDist>=0 (got $maxDist)")
    require(maxBlock >= 2, s"fuzzyPairs needs maxBlock>=2 (got $maxBlock)")
    val keyed = fuzzyIndex(df, idCol, textCol, fieldLen, prefixLen)
    val kept = keyed.groupBy("blk").agg(count(lit(1)).as("__bn"))
      .where(col("__bn") <= maxBlock).select("blk")
    val pruned = keyed.join(kept, Seq("blk"))
    val a = pruned.as("a"); val b = pruned.as("b")
    a.join(b, col("a.blk") === col("b.blk") && col("a.id") < col("b.id") &&
        abs(col("a.tl") - col("b.tl")) <= maxDist)
      .withColumn("dist", levenshtein(col("a.t"), col("b.t")))
      .filter(col("dist") <= maxDist)
      .select(col("a.id").as("id_a"), col("b.id").as("id_b"),
        col("dist").cast("long").as("dist"))
  }

  /** The blocks [[fuzzyPairs]]'s `maxBlock` cap DROPS, with their member
    * counts — the no-silent-caps audit view. Empty ⇔ the cap changed
    * nothing. At scale, persist this next to the pair output so a recall
    * review can see what boilerplate was excluded. */
  def fuzzyStopBlocks(df: DataFrame, idCol: String, textCol: String,
                      fieldLen: Int = 40, prefixLen: Int = 8,
                      maxBlock: Int = 256): DataFrame =
    fuzzyIndex(df, idCol, textCol, fieldLen, prefixLen)
      .groupBy("blk").agg(count(lit(1)).as("n_docs"))
      .where(col("n_docs") > maxBlock)

  /** The fuzzy-matching BLOCKING INDEX — (id, normalized field `t`,
    * prefix block `blk`, field length `tl`), ~fieldLen bytes per doc:
    * what an incremental crawl persists so incoming batches never
    * re-normalize the corpus (the t24/t40 incremental-index shape for
    * edit distance). Appending a batch's own index rows keeps it
    * current. `tl` feeds the |Δlen| ≤ maxDist Levenshtein lower-bound
    * gate at match time. */
  def fuzzyIndex(df: DataFrame, idCol: String, textCol: String,
                 fieldLen: Int = 40, prefixLen: Int = 8): DataFrame = {
    require(fieldLen >= prefixLen && prefixLen >= 1,
      s"fuzzyIndex needs fieldLen >= prefixLen >= 1 (got $fieldLen/$prefixLen)")
    graft.Tables.scaled(
      df.select(col(idCol).cast("long").as("id"),
        substring(text.normalize(col(textCol)), 1, fieldLen).as("t")))
      .withColumn("blk", substring(col("t"), 1, prefixLen))
      .withColumn("tl", length(col("t")))
  }

  /** Incoming-vs-corpus fuzzy matching: normalize ONLY the incoming
    * batch, equi-join the persisted [[fuzzyIndex]] on the prefix block
    * (gated by the |Δlen| ≤ maxDist lower bound), score exact
    * Levenshtein on collisions. Same blocking recall trade and
    * `maxBlock` stop-block cap as [[fuzzyPairs]] — the cap is computed
    * on the INDEX side (the corpus is what makes a block viral; an
    * incoming batch is request-sized), same as Winnow.matchAgainst.
    * Never all-pairs, and the corpus side is read, not recomputed.
    * Output: (corpus_id, inc_id, dist), dist ≤ maxDist. */
  def fuzzyMatchAgainst(incoming: DataFrame, idCol: String, textCol: String,
                        index: DataFrame, fieldLen: Int = 40,
                        prefixLen: Int = 8, maxDist: Int = 18,
                        maxBlock: Int = 256): DataFrame = {
    require(maxDist >= 0, s"fuzzyMatchAgainst needs maxDist>=0 (got $maxDist)")
    require(maxBlock >= 1, s"fuzzyMatchAgainst needs maxBlock>=1 (got $maxBlock)")
    val kept = index.groupBy("blk").agg(count(lit(1)).as("__bn"))
      .where(col("__bn") <= maxBlock).select("blk")
    val inc = fuzzyIndex(incoming, idCol, textCol, fieldLen, prefixLen).as("b")
    index.join(kept, Seq("blk")).as("a")
      .join(inc, col("a.blk") === col("b.blk") &&
        abs(col("a.tl") - col("b.tl")) <= maxDist)
      .withColumn("dist", levenshtein(col("a.t"), col("b.t")))
      .filter(col("dist") <= maxDist)
      .select(col("a.id").as("corpus_id"), col("b.id").as("inc_id"),
        col("dist").cast("long").as("dist"))
  }

  def embeddingLshPairs(df: DataFrame, idCol: String, vecCol: String,
                        dim: Int, blocks: Int = 4,
                        minCosine: Double = 0.98): DataFrame = {
    val slice_len = dim / blocks
    val base = graft.Tables.scaled(
      df.select(col(idCol).cast("long").as("id"), col(vecCol).as("v")))
    // The banded exchange carries (id, block_key) ONLY — the sign key is
    // computed from the vector in the pre-shuffle projection, then the
    // vector column is dropped, so the ×blocks explode never multiplies the
    // float payload (the same slim-shuffle shape as minhashLshPairs).
    val signs = base
      .select(col("id"), col("v"),
        explode(sequence(lit(0), lit(blocks - 1))).as("block_idx"))
      .select(col("id"),
        concat(col("block_idx").cast("string"), lit(":"),
          concat_ws("", transform(
            slice(col("v"), col("block_idx") * lit(slice_len) + 1, lit(slice_len)),
            x => when(x > 0f, "1").otherwise("0")))).as("block_key"))
    val a = signs.as("a"); val b = signs.as("b")
    // Unique candidate pairs are two longs wide; vectors re-join by id
    // afterwards, so each is fetched once per id, not once per collision.
    val cand = a
      .join(b, col("a.block_key") === col("b.block_key") && col("a.id") < col("b.id"))
      .select(col("a.id").as("id_a"), col("b.id").as("id_b"))
      .distinct()
    cand
      .join(base.select(col("id").as("id_a"), col("v").as("va")), "id_a")
      .join(base.select(col("id").as("id_b"), col("v").as("vb")), "id_b")
      .select(col("id_a"), col("id_b"),
        graft.functions.vec.cosine_sim(col("va"), col("vb")).as("cosine"))
      .filter(col("cosine") >= minCosine)
  }

  /** Connected components over a candidate-pair edge list — the transitive
    * closure the one-step keep-lists ([[minhashLshKeepList]], t9) approximate:
    * near-dup chains a→b→c collapse into ONE cluster labeled by its min id.
    *
    * Two regimes, dispatched on the (cached) edge count — the same
    * size-adaptive pattern as Spark's own broadcast-join threshold:
    *
    *  - edge set fits one task (≤ `smallEdgeThreshold`, default 1M pairs →
    *    ≤2M nodes ≈ 70 MB of flat parent arrays in the primitive
    *    open-addressing map): single-task union-find with path compression
    *    via `mapPartitions` on ONE executor — O(E α(E)), no iterative
    *    rounds, no driver-side rows. A dedup graph is usually orders of
    *    magnitude smaller than its corpus (only near-dup nodes appear), so
    *    even 100 TB corpora often land here.
    *  - larger: iterative min-label propagation (each round every node takes
    *    the min label among itself and its neighbors) plus a hash-to-min
    *    pointer jump through the round's NEW tentative map (`m(m(v))` —
    *    jumping through the stale pre-round labels saves nothing, the
    *    propagation join already incorporated them), converging in
    *    O(log diameter) rounds (Kiveris et al., "Connected Components in
    *    MapReduce").
    *
    * Scale design (iterative path): each round is one equi-join (labels by
    * node id) + one hash-groupBy min — never materializing pair-pairs — and
    * the label frontier is stage-cut every round so the iterative
    * lineage stays O(1) (on a cluster, `stageCut.mode=reliable` makes that
    * fault-tolerant; the convergence count is a cheap job on the
    * checkpointed frame). Driver holds only loop state, never rows. */
  def connectedComponents(edges: DataFrame, idA: String = "id_a",
                          idB: String = "id_b", maxIter: Int = 20,
                          smallEdgeThreshold: Long = 1L << 20): DataFrame = {
    // No edge dedup pass: both consumers are idempotent to duplicate edges
    // (and the LSH pair producers already emit distinct pairs), so a
    // distinct() here would only add a full edge shuffle per call.
    val pairs = edges
      .select(col(idA).cast("long").as("src"), col(idB).cast("long").as("dst"))
      .cache()
    val nEdges = pairs.count() // materializes the cache; needed for dispatch
    val out =
      if (nEdges <= smallEdgeThreshold) componentsSingleTask(pairs)
      else componentsIterative(pairs, maxIter)
    out
  }

  /** Open-addressing primitive long→long map (linear probing, power-of-2
    * capacity, ≤50% load): the union-find parent table for 2M nodes costs
    * ~70 MB of flat arrays where a boxed java.util.HashMap would burn
    * 300+ MB of Node/Long objects in ONE task — the difference between the
    * single-task dispatch being safe and it OOMing at its own threshold. */
  private final class LongLongMap(initialCapacity: Int = 1 << 16) {
    private var cap = Integer.highestOneBit(math.max(16, initialCapacity))
    if (cap < initialCapacity) cap <<= 1
    private var ks = new Array[Long](cap)
    private var vs = new Array[Long](cap)
    private var occ = new Array[Boolean](cap)
    private var n = 0
    private def slot(k: Long): Int = {
      var h = (k ^ (k >>> 32)).toInt * 0x9e3779b9
      h ^= h >>> 16
      var i = h & (cap - 1)
      while (occ(i) && ks(i) != k) i = (i + 1) & (cap - 1)
      i
    }
    def getOrDefault(k: Long, d: Long): Long = {
      val i = slot(k); if (occ(i)) vs(i) else d
    }
    def put(k: Long, v: Long): Unit = {
      val i = slot(k)
      if (!occ(i)) {
        occ(i) = true; ks(i) = k; n += 1
        vs(i) = v
        if (n * 2 > cap) grow()
      } else vs(i) = v
    }
    def putIfAbsent(k: Long, v: Long): Unit = {
      val i = slot(k)
      if (!occ(i)) { occ(i) = true; ks(i) = k; vs(i) = v; n += 1
        if (n * 2 > cap) grow() }
    }
    private def grow(): Unit = {
      val (oks, ovs, oocc) = (ks, vs, occ)
      cap <<= 1
      ks = new Array[Long](cap); vs = new Array[Long](cap)
      occ = new Array[Boolean](cap)
      n = 0
      var i = 0
      while (i < oks.length) {
        if (oocc(i)) put(oks(i), ovs(i))
        i += 1
      }
    }
    /** Safe to interleave with value-overwriting put()s (path compression):
      * only NEW-key insertion grows the arrays, and the final pass never
      * inserts. */
    def keysIterator: Iterator[Long] =
      (0 until cap).iterator.filter(occ).map(ks)
  }

  /** Single-task union-find (path compression + union-by-min): the whole
    * edge list streams through one `mapPartitions` task on an executor.
    * Emits (id, component=min id of the component), identical semantics to
    * the iterative path. */
  private def componentsSingleTask(pairs: DataFrame): DataFrame = {
    val spark = pairs.sparkSession
    import spark.implicits._
    val out = pairs.select("src", "dst").as[(Long, Long)]
      .coalesce(1)
      .mapPartitions { it =>
        val parent = new LongLongMap()
        def find(x0: Long): Long = {
          var x = x0
          var p = parent.getOrDefault(x, x)
          while (p != x) { // path halving
            val gp = parent.getOrDefault(p, p)
            parent.put(x, gp); x = gp; p = parent.getOrDefault(x, x)
          }
          x
        }
        it.foreach { case (a, b) =>
          parent.putIfAbsent(a, a); parent.putIfAbsent(b, b)
          val ra = find(a); val rb = find(b)
          // union by min: the smaller root stays the root, so the final
          // label of every component is its min node id
          if (ra < rb) parent.put(rb, ra)
          else if (rb < ra) parent.put(ra, rb)
        }
        parent.keysIterator.map(id => (id, find(id)))
      }
      .toDF("id", "component")
    // materialize BEFORE dropping the pair cache, or the checkpoint job
    // would re-run the (possibly expensive) upstream edge pipeline
    val materialized = graft.StageCut(out, "componentsSingleTask.out")
    pairs.unpersist()
    materialized
  }

  private def componentsIterative(pairs: DataFrame, maxIter: Int): DataFrame = {
    // Both directions from ONE explode over the cached pair set.
    val und = pairs
      .select(explode(array(
        struct(col("src"), col("dst")),
        struct(col("dst").as("src"), col("src").as("dst"))))
        .as("e"))
      .select("e.src", "e.dst")
    var labels = und.select(col("src").as("id")).distinct()
      .select(col("id"), col("id").as("component"))
    var iter = 0
    var converged = false
    while (!converged && iter < maxIter) {
      val nbrMin = und
        .join(labels.select(col("id").as("dst"), col("component").as("dst_comp")), "dst")
        .groupBy("src").agg(min("dst_comp").as("nbr_comp"))
        .select(col("src").as("id"), col("nbr_comp"))
      // Carry the previous label through the propagation join so the
      // convergence check is a filter over the checkpointed frame — no
      // extra comparison join per round.
      val stepped = labels.join(nbrMin, Seq("id"), "left")
        .select(col("id"), col("component").as("__old"),
          least(col("component"), coalesce(col("nbr_comp"), col("component")))
            .as("step"))
      // Hash-to-min pointer jump through the round's NEW tentative map:
      // path-halving on the current pointers (the parent side re-runs the
      // stepped DAG — cheap — instead of materializing it twice).
      val next = graft.StageCut(stepped
        .join(stepped.select(col("id").as("step"), col("step").as("parent")),
          Seq("step"), "left")
        .select(col("id"), col("__old"),
          least(col("step"), coalesce(col("parent"), col("step"))).as("component")),
        "componentsIterative.next")
      val changed = next.filter(col("component") =!= col("__old")).count()
      labels = next.select("id", "component")
      converged = changed == 0
      iter += 1
    }
    pairs.unpersist()
    System.err.println(s"[graft] connectedComponents converged=$converged rounds=$iter")
    // Partially-propagated labels are silently WRONG (two nodes of one true
    // component still carrying different labels) — callers must never see
    // them, so a non-converged exit is an error, not a warning.
    if (!converged) throw new IllegalStateException(
      s"connectedComponents did not converge within maxIter=$maxIter rounds; " +
        "raise maxIter (rounds grow ~log2 of the longest chain)")
    labels
  }

  /** SimHash fingerprints (48-bit) for every doc (single-pass expression
    * after the exchange — see TextHashExpressions). */
  def simhashes(df: DataFrame, idCol: String, textCol: String): DataFrame =
    graft.Tables.scaled(df.select(col(idCol).cast("long").as("id"),
      text.normalize(col(textCol)).as("norm")))
      .select(col("id"), text.simhash48_fast(col("norm")).as("simhash"))

  /** SimHash near-dup pairs under a Hamming threshold. Blocking: docs must
    * share one of the 4 12-bit prefixes (pigeonhole: any pair within
    * Hamming distance 3 shares at least one unchanged 12-bit block), so
    * candidate generation stays an equi-join. */
  def simhashNearDups(df: DataFrame, idCol: String, textCol: String,
                      maxHamming: Int = 3): DataFrame = {
    // Same constant-index explode trick as minhashLshPairs (see above).
    val blocked = simhashes(df, idCol, textCol)
      .select(col("id"), col("simhash"),
        explode(sequence(lit(0), lit(3))).as("block_idx"))
      .withColumn("blk",
        concat(col("block_idx").cast("string"), lit(":"),
          (floor(col("simhash") / pow(lit(2.0), col("block_idx") * lit(12))).cast("long")
            % 4096).cast("string")))
    val a = blocked.as("a"); val b = blocked.as("b")
    // Hamming is computed and thresholded straight off the block join (an
    // xor+popcount per collision row), so chance block collisions never
    // reach the pair-dedup shuffle behind distinct().
    a.join(b, col("a.blk") === col("b.blk") && col("a.id") < col("b.id"))
      .select(col("a.id").as("id_a"), col("b.id").as("id_b"),
        text.simhash_hamming(col("a.simhash"), col("b.simhash")).as("hamming"))
      .filter(col("hamming") <= maxHamming)
      .distinct()
  }

  /** Duplicate-passage detection: POSITIONAL token n-grams (every window
    * start, not the distinct shingle set [[text.word_shingles]] uses) hashed
    * with md5; a span hashed identically in >= `minDocs` distinct documents
    * is a duplicated passage. Per surviving doc emits how many window
    * positions are covered by shared spans, how many distinct shared spans,
    * and the earliest hit position — the signal span-level dedup (Lee et al.
    * 2022 "Deduplicating Training Data...", arXiv:2107.06499) cuts on.
    *
    * 100 TB shape: the explode emits len-n+1 rows per doc (stride=1 is the
    * exact setting; real corpus passes raise `stride` to trade recall for an
    * n× smaller span stream), then two hash-partitioned aggregations on the
    * 32-hex span key with map-side combine. Never all-pairs: co-occurrence
    * is discovered by groupBy on the span hash, same skeleton as
    * [[exactGroups]]. The span stream is deliberately recomputed for the
    * join-back pass rather than checkpointed — it is ~n×corpus size, so two
    * md5 passes beat materializing it (same trade as t19's two n-gram
    * passes); a collect_list single-pass variant would OOM on a virally
    * duplicated span. */
  def dupSpans(docs: DataFrame, idCol: String, textCol: String,
               n: Int = 8, minDocs: Int = 2, stride: Int = 1): DataFrame = {
    require(n >= 1 && stride >= 1 && minDocs >= 2,
      s"dupSpans needs n>=1, stride>=1, minDocs>=2 (got $n, $stride, $minDocs)")
    val sp = spanStream(tokStream(docs, idCol, textCol), n, stride)
    val shared = sp.groupBy("h").agg(countDistinct("id").as("ndocs"))
      .filter(col("ndocs") >= minDocs).select("h")
    sp.join(shared, "h")
      .groupBy("id")
      .agg(count(lit(1)).as("dup_spans"),
        countDistinct("h").as("distinct_dup_spans"),
        min("pos").as("first_pos"))
  }

  /** The (id, tk) token stream every span consumer derives from — ONE
    * definition, so [[removeDupSpans]]' rebuild side can never use a
    * different tokenization than the span hashes it removes by. */
  private def tokStream(docs: DataFrame, idCol: String, textCol: String): DataFrame =
    graft.Tables.scaled(
      docs.select(col(idCol).cast("long").as("id"), text.tokens(col(textCol)).as("tk")))

  /** The positional-span stream (id, pos, h) shared by [[dupSpans]] and
    * [[removeDupSpans]]: one row per stride-aligned n-token window, hashed
    * with md5 over the space-joined tokens. The signal (t26) and the
    * removal transform (t29) must agree on this stream HASH-FOR-HASH —
    * keep the definition in one place, fed from [[tokStream]]. */
  private def spanStream(toks: DataFrame, n: Int, stride: Int): DataFrame =
    toks.filter(size(col("tk")) >= n)
      .select(col("id"), explode(transform(
        filter(sequence(lit(0), size(col("tk")) - n), p => p % stride === 0),
        i => struct(i.cast("long").as("pos"),
          md5(concat_ws(" ", slice(col("tk"), i + 1, lit(n)))).as("h")))).as("s"))
      .select(col("id"), col("s.pos").as("pos"), col("s.h").as("h"))

  /** Span-level dedup TRANSFORM — the removal half of Lee et al. 2022
    * (arXiv:2107.06499 §3, "ExactSubstr"): where [[dupSpans]] reports the
    * signal, this rewrites each document with its duplicated passages cut
    * out. A positional n-token span duplicated across >= `minDocs` docs is
    * kept only in its CANONICAL OWNER (the min doc id containing the span
    * hash — the same min-id-keeper rule as [[lshKeepList]] and
    * [[Clustering.semDedup]]); every other doc drops all token positions any
    * such span covers. Output per doc: the rebuilt token text (normalized —
    * tokens joined by single spaces), token counts before/removed.
    *
    * 100 TB shape: the span stream and ownership pass are [[dupSpans]]'s
    * skeleton (groupBy on the span hash — never all-pairs; recomputed, not
    * checkpointed). The removal itself joins each doc to its aggregated
    * covered-position set (doc-bounded, only docs WITH removals carry one),
    * `array_sort`s it once (O(c log c) in covered-position count), and
    * rebuilds with [[graft.functions.ArrayExpressions.RemoveAtSortedPositions]]
    * — a codegen'd two-pointer merge over the ascending token indices and
    * the sorted covered set, O(|tokens| + |covered|) per doc. Linear in
    * document length even for a fully-duplicated 100k-token crawl doc
    * (the old array-membership HOF was O(|tokens| × |covered|) — quadratic
    * in doc length at full coverage); embarrassingly parallel, no shuffle
    * beyond the covered aggregation. */
  def removeDupSpans(docs: DataFrame, idCol: String, textCol: String,
                     n: Int = 8, minDocs: Int = 2): DataFrame = {
    require(n >= 1 && minDocs >= 2, s"removeDupSpans needs n>=1, minDocs>=2 (got $n, $minDocs)")
    val toks = tokStream(docs, idCol, textCol)
    val sp = spanStream(toks, n, stride = 1)
    val owned = sp.groupBy("h")
      .agg(countDistinct("id").as("ndocs"), min("id").as("owner"))
      .filter(col("ndocs") >= minDocs)
      .select("h", "owner")
    val covered = sp.join(owned, "h")
      .filter(col("id") =!= col("owner"))
      .groupBy("id")
      .agg(array_sort(array_distinct(flatten(collect_list(
        sequence(col("pos"), col("pos") + (n - 1)))))).as("covered"))
    toks.join(covered, Seq("id"), "left")
      .withColumn("covered",
        coalesce(col("covered"), typedLit(Array.empty[Long])))
      .withColumn("kept_tk",
        graft.functions.ArrayExpressions.removeAtSortedPositions(col("tk"), col("covered")))
      .select(col("id"),
        concat_ws(" ", col("kept_tk")).as("kept_text"),
        size(col("tk")).cast("long").as("n_tokens"),
        (size(col("tk")) - size(col("kept_tk"))).cast("long").as("n_removed"))
  }

  /** Paragraph-level global dedup (the CCNet pass — Wenzek et al. 2020,
    * arXiv:1911.00359 §3.1: dedup the corpus at PARAGRAPH granularity,
    * keeping each distinct paragraph's first occurrence; reference corpus
    * hygiene lives at document granularity only, `fast_ops.py` fingerprint —
    * this is the between-the-two granularity every large crawl cleanup
    * runs). `paras` maps the text column to its array of paragraphs (a real
    * deployment passes `split(c, "\n{2,}")`; corpora without layout pass a
    * token-window splitter such as [[tokenWindowParagraphs]]). Empty
    * paragraphs are dropped before hashing — a blank line must not claim
    * global ownership of blankness. The first occurrence of each distinct
    * paragraph — ordered by (doc id, position) — is kept; every later
    * occurrence, including repeats WITHIN a document, is removed. Output
    * one row per input doc: `id`, `n_paras` (its non-empty paragraphs),
    * `n_kept`, and `kept_text` (surviving paragraphs in original order,
    * `sep`-joined; empty string when everything was removed).
    *
    * 100 TB shape: ownership is `groupBy(paragraph md5).agg(min(struct(id,
    * idx)))` — partial-aggregation (map-side combine), so a boilerplate
    * paragraph duplicated across 100M pages is combined per-partition and
    * never concentrates one reducer (the window-function formulation
    * `row_number over (partition by hash)` would ship every occurrence of
    * the hottest paragraph to one task — exactly the skewed key this pass
    * exists to remove). The join-back is an equi-join on the hash; the
    * rebuild groupBy is doc-bounded. Never all-pairs; shuffle volume is the
    * paragraph stream, linear in corpus size. */
  def paragraphDedup(docs: DataFrame, idCol: String, textCol: String,
                     paras: Column => Column, sep: String = " "): DataFrame = {
    // Stage cuts (rule 14, r17 optimization round), batch arm only (the
    // incremental arm composes per micro-batch and keeps the helpers
    // pure): `base` feeds the explode AND the survivor assembly, `pe`
    // feeds the ownership rollup AND the keep-filter join — without the
    // cuts the paragraph split ran 3x and the explode+md5 2x per run.
    // Both are 1x-corpus stage outputs (the split corpus / the hashed
    // paragraph stream), the between-passes materialization a scale run
    // writes anyway.
    val base = graft.StageCut(paraBase(docs, idCol, textCol, paras),
      "paragraphDedup.base")
    val pe = graft.StageCut(paraExplode(base), "paragraphDedup.pe")
    assembleSurvivors(base, pe.join(paraOwnership(pe), "h")
      .filter(col("id") === col("oid") && col("idx") === col("oidx")), sep)
  }

  // shared plumbing of the batch and incremental paragraph-dedup arms
  private def paraBase(docs: DataFrame, idCol: String, textCol: String,
                       paras: Column => Column): DataFrame =
    graft.Tables.scaled(
      docs.select(col(idCol).cast("long").as("id"),
        filter(paras(col(textCol)), p => length(p) > 0).as("ps")))

  private def paraExplode(base: DataFrame): DataFrame = base
    .select(col("id"), posexplode(col("ps")).as(Seq("idx", "p")))
    .withColumn("h", md5(col("p")))

  /** First-occurrence ownership of each distinct paragraph hash:
    * `(h, oid, oidx)` via map-side-combined min-struct (see
    * [[paragraphDedup]]'s 100 TB note). */
  private def paraOwnership(pe: DataFrame): DataFrame = pe.groupBy("h")
    .agg(min(struct(col("id"), col("idx"))).as("o"))
    .select(col("h"), col("o.id").as("oid"), col("o.idx").as("oidx"))

  private def assembleSurvivors(base: DataFrame, keptPe: DataFrame,
                                sep: String): DataFrame = {
    val kept = keptPe.groupBy("id")
      .agg(count(lit(1)).as("n_kept"),
        concat_ws(sep, transform(
          sort_array(collect_list(struct(col("idx"), col("p")))),
          s => s.getField("p"))).as("kept_text"))
    base.select(col("id"), size(col("ps")).cast("long").as("n_paras"))
      .join(kept, Seq("id"), "left")
      .select(col("id"), col("n_paras"),
        coalesce(col("n_kept"), lit(0L)).as("n_kept"),
        coalesce(col("kept_text"), lit("")).as("kept_text"))
  }

  /** The accumulated paragraph-ownership index of a corpus — `(h, oid,
    * oidx)`, one row per DISTINCT paragraph — the state an incremental
    * crawl carries between batches (the t24 band-index shape at paragraph
    * granularity). Bootstrap it once over the historical corpus; extend it
    * per shard with [[paragraphIndexDelta]]. */
  def paragraphIndex(docs: DataFrame, idCol: String, textCol: String,
                     paras: Column => Column): DataFrame =
    paraOwnership(paraExplode(paraBase(docs, idCol, textCol, paras)))

  /** Incremental-crawl paragraph dedup: clean one incoming shard against
    * the accumulated ownership [[paragraphIndex]]. A paragraph already
    * owned by the index is removed from every shard doc (left_anti
    * equi-join on the hash — never all-pairs, index side is
    * hash-partitioned state); among index-novel paragraphs the shard's own
    * first occurrence wins, the same (id, idx) rule as the batch pass.
    * Output schema == [[paragraphDedup]].
    *
    * Streaming shape: design rule 8 — a batch function applied per
    * micro-batch via `foreachBatch`, with the index as the cross-batch
    * state table (append [[paragraphIndexDelta]]'s rows after each batch).
    * Processing shards in id order with an index accumulated this way is
    * VALUE-IDENTICAL to one batch [[paragraphDedup]] over the concatenated
    * corpus (rebuild-equivalence gated by StreamingParagraphDedupSpec):
    * min-struct ownership ⇔ first-arrival ownership when ids ascend. */
  def paragraphDedupAgainst(shard: DataFrame, index: DataFrame,
                            idCol: String, textCol: String,
                            paras: Column => Column,
                            sep: String = " "): DataFrame = {
    val base = paraBase(shard, idCol, textCol, paras)
    val novel = paraExplode(base).join(index.select("h"), Seq("h"), "left_anti")
    assembleSurvivors(base, novel.join(paraOwnership(novel), "h")
      .filter(col("id") === col("oid") && col("idx") === col("oidx")), sep)
  }

  /** The ownership rows a shard ADDS to the accumulated index: first
    * occurrences of paragraphs the index has never seen. Append to the
    * state table after processing the shard. */
  def paragraphIndexDelta(shard: DataFrame, index: DataFrame,
                          idCol: String, textCol: String,
                          paras: Column => Column): DataFrame =
    paragraphIndex(shard, idCol, textCol, paras)
      .join(index.select("h"), Seq("h"), "left_anti")

  /** One incremental-crawl micro-batch step, computing BOTH the deduped
    * shard and the index delta from a single novel-ownership pass —
    * `(deduped, delta)` with `deduped == paragraphDedupAgainst(shard,
    * index)` and `delta == paragraphIndexDelta(shard, index)` (the
    * anti-join by `h` commutes with the per-`h` min-struct ownership, so
    * ownership-of-novel ≡ ownership-anti-index; gated by
    * StreamingParagraphDedupSpec). The shared ownership frame is stage-cut
    * before fan-out, so the novel-paragraph scan runs ONCE per micro-batch
    * instead of once per consumer (the delta is batch-novelty-sized, so
    * this is cheap to pin; the [[paragraphIndex]] state table stays
    * disk/lineage-resident, never executor memory). */
  def paragraphShardStep(shard: DataFrame, index: DataFrame,
                         idCol: String, textCol: String,
                         paras: Column => Column, sep: String = " ")
      : (DataFrame, DataFrame) = {
    val base = paraBase(shard, idCol, textCol, paras)
    val exploded = paraExplode(base)
    val novel = exploded.join(index.select("h"), Seq("h"), "left_anti")
    val own = graft.StageCut(paraOwnership(novel), "paragraphShardStep.own")
    val deduped = assembleSurvivors(base, exploded.join(own, "h")
      .filter(col("id") === col("oid") && col("idx") === col("oidx")), sep)
    (deduped, own)
  }

  /** Token-window paragraph splitter for corpora without layout structure:
    * non-overlapping `w`-token windows of the normalized token stream
    * (space-joined), the registry fixture's stand-in for `split(c, "\n{2,}")`.
    * ceil(n/w) windows; empty text -> empty array. */
  def tokenWindowParagraphs(c: Column, w: Int): Column = {
    require(w >= 1, s"tokenWindowParagraphs needs w>=1 (got $w)")
    val tk = text.tokens(c)
    when(size(tk) > 0,
      transform(sequence(lit(0), floor((size(tk) + (w - 1)) / lit(w)).cast("int") - 1),
        i => concat_ws(" ", slice(tk, i * w + 1, lit(w)))))
      .otherwise(array().cast("array<string>"))
  }

  /** Corpus-pair OVERLAP MATRIX — dataset-level near-dup accounting (the
    * "how much of corpus B is already inside corpus A" measurement that
    * decides mixing weights and dedup ordering before a training run;
    * MinHash at corpus granularity, the datasketch use case the reference's
    * per-document `fast_ops.py` fingerprints stop short of). Per group, the
    * MinHash signature OF THE GROUP'S SHINGLE UNION: min over a group's
    * docs of per-doc lane minima ≡ the lane minimum over the union set, so
    * the group signature is one elementwise-min aggregation of the per-doc
    * signatures the dedup ladder already computes — map-side combined,
    * 16 longs per group out. Estimated Jaccard = agreeing-lane fraction.
    *
    * Twin arms (design rule 21): the EXACT arm distincts (group,
    * shingle-hash) rows and counts pairwise intersections via one
    * equi-join on the hash — its shuffle carries the corpus's distinct
    * shingle vocabulary, the test-scale gate; the sketch arm ships
    * 16 longs per group REGARDLESS of corpus size, the 100 TB path. Pair
    * enumeration is |groups|² rows (sources are dozens, not data — the
    * non-equi `grp < grp` join is over a broadcast-sized relation by
    * construction, rule 17).
    *
    * Output (all integers — cross-engine hash-stable without rounding):
    * `n_a`/`n_b` distinct shingles, `n_common` intersection,
    * `jaccard_ppm` = ⌊10⁶·|∩|/|∪|⌋ in integer arithmetic, `sig_agree` =
    * agreeing signature lanes (0..numHashes; est. Jaccard =
    * sig_agree/numHashes). */
  def corpusOverlap(df: DataFrame, groupCol: String, textCol: String,
                    shingleSize: Int = 5, numHashes: Int = 16): DataFrame = {
    val base = graft.Tables.scaled(df.select(col(groupCol).as("grp"),
        text.normalize(col(textCol)).as("norm")))
      .filter(length(col("norm")) >= shingleSize)
    val sigs = base.withColumn("sig",
      text.minhash_signature_fast(col("norm"), numHashes, shingleSize))
    // Stage cuts (rule 14, r17 optimization round): `gsig` is |groups|
    // rows but each evaluation re-runs the 16-lane minhash over the whole
    // corpus — and the pair join reads it twice; `shingles` (distinct
    // group-shingle hashes, the overlap index a scale run materializes)
    // feeds the sizes rollup AND both sides of the intersection self-join.
    val gsig = graft.StageCut(
      sigs.select(col("grp"), posexplode(col("sig")).as(Seq("pos", "v")))
      .groupBy("grp", "pos").agg(min("v").as("v"))
      .groupBy("grp").agg(
        transform(array_sort(collect_list(struct(col("pos"), col("v")))),
          s => s.getField("v")).as("sig")), "corpusOverlap.gsig")
    val shingles = graft.StageCut(base.select(col("grp"), explode(expr(
        s"transform(sequence(1, length(norm) - ${shingleSize - 1}), " +
          s"i -> substring(norm, i, $shingleSize))")).as("sh"))
      .select(col("grp"), md5(col("sh")).as("h")).distinct(), "corpusOverlap.shingles")
    val sizes = shingles.groupBy("grp").agg(count(lit(1)).as("n"))
    val inter = shingles.as("x").join(shingles.as("y"),
        col("x.h") === col("y.h") && col("x.grp") < col("y.grp"))
      .groupBy(col("x.grp").as("source_a"), col("y.grp").as("source_b"))
      .agg(count(lit(1)).as("n_common"))
    val est = gsig.as("a").join(gsig.as("b"), col("a.grp") < col("b.grp"))
      .select(col("a.grp").as("source_a"), col("b.grp").as("source_b"),
        size(filter(zip_with(col("a.sig"), col("b.sig"), (x, y) => x === y),
          v => v)).cast("long").as("sig_agree"))
    est
      .join(sizes.select(col("grp").as("source_a"), col("n").as("n_a")), "source_a")
      .join(sizes.select(col("grp").as("source_b"), col("n").as("n_b")), "source_b")
      .join(inter, Seq("source_a", "source_b"), "left")
      .withColumn("n_common", coalesce(col("n_common"), lit(0L)))
      .withColumn("jaccard_ppm",
        expr("n_common * 1000000 div (n_a + n_b - n_common)"))
  }
}
