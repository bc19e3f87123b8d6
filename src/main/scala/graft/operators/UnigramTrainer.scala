package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Unigram-LM tokenizer training (Kudo 2018, ACL — the SentencePiece
  * unigram model; reference consumers tokenize with exactly this family of
  * vocabularies). Completes the in-engine tokenizer-training ladder:
  * t41 trains BPE (merge rules), t60 segments WordPiece (greedy
  * longest-prefix), and this trains the unigram inventory both of those
  * can't express — pieces scored by a probability model with segmentation
  * chosen by GLOBAL likelihood (Viterbi), not greedy local rules.
  *
  * One full hard-EM round of Kudo's loop, each stage exact:
  *  1. SEED: every substring of length ≤ `maxPieceLen` of the corpus word
  *     table, frequency-weighted by positional multiplicity; the candidate
  *     inventory is all single characters (coverage guarantee — every word
  *     stays segmentable) plus the top `multiSeed` multi-character pieces
  *     by (seed_count, piece) — a stated deterministic tiebreak.
  *  2. MODEL: p(piece) = seed_count / Σ seed_count over the inventory;
  *     scores live as FIXED-POINT log-probs ⌊1e9·ln p⌋ — `ln` of identical
  *     exact rationals is the one float crossing engines (the t30-proven
  *     primitive), and from there Viterbi sums INTEGERS, so the argmax is
  *     bit-reproducible under any partitioning or replaying engine.
  *  3. E-STEP: per-word Viterbi DP — best[i] = max_j best[j] + lnp(w[j..i])
  *     over the ≤ `maxPieceLen` trailing splits, ties to the SMALLEST j
  *     (longest final piece, stated); backtrace yields the segmentation.
  *  4. M-STEP + PRUNE: piece usage counts from the segmentations; keep all
  *     single characters plus the top `keepMulti` used multi-char pieces —
  *     the prune decision the next EM round would start from.
  *
  * Determinism traps this design dodges: real Kudo EM uses lattice
  * MARGINALS (forward–backward in float space — non-replayable sums);
  * hard-EM's Viterbi counts are the standard deterministic variant and
  * keep every corpus-sized aggregate an integer sum.
  *
  * 100 TB shape: the ONLY corpus-sized stage is the word-frequency
  * groupBy (map-side combined — the t41 front door). Substring seeding,
  * the DP, and usage counting all run over the BOUNDED word table; the
  * selected inventory (≤ alphabet + `multiSeed` pieces) is request-sized
  * by construction, so pulling it driver-side for the log-prob model and
  * the in-row DP's literal map is a rule-17 decision, not a collect of
  * data-sized state. Words longer than `maxWordLen` are excluded
  * (stated, not silent — natural-language tokens at 12+ chars are
  * vanishingly rare; raise the bound for agglutinative corpora). */
object UnigramTrainer {

  def train(df: DataFrame, idCol: String, textCol: String,
            maxPieceLen: Int = 6, maxWordLen: Int = 12,
            multiSeed: Int = 150, keepMulti: Int = 64): DataFrame = {
    require(maxPieceLen >= 2 && maxWordLen >= maxPieceLen,
      s"bad unigram params ($maxPieceLen, $maxWordLen)")
    val spark = df.sparkSession
    import spark.implicits._

    // 1. corpus word table — the one corpus-sized exchange (rule 7: fan the
    // scan out first; tokenize+explode is per-row work). Stage cut:
    // three downstream jobs (seed collect, usage count, final join) would
    // otherwise each re-run the corpus tokenize; the table itself is
    // vocabulary-bounded, so materializing it is free.
    val words = graft.StageCut(graft.Tables.scaled(df)
      .select(explode(graft.functions.text.tokens(col(textCol))).as("word"))
      .where(length(col("word")) <= maxWordLen)
      .groupBy("word").agg(count(lit(1)).as("freq")), "unigramTrain.words")

    // 2. positional-multiplicity substring seeding over the bounded table
    val subs = words
      .select(col("freq"), explode(flatten(
        transform(sequence(lit(0), length(col("word")) - 1), j =>
          transform(sequence(lit(1),
              least(lit(maxPieceLen), length(col("word")) - j)), l =>
            col("word").substr(j + 1, l))))).as("piece"))
      .groupBy("piece").agg(sum(col("freq")).as("seed_count"))

    val singles = subs.where(length(col("piece")) === 1)
    val multi = subs.where(length(col("piece")) > 1)
      .orderBy(col("seed_count").desc, col("piece")).limit(multiSeed)
    // request-sized by construction: ≤ |alphabet| + multiSeed rows
    val selected = singles.union(multi)
      .select(col("piece"), col("seed_count"))
      .as[(String, Long)].collect().sortBy(_._1)
    require(selected.nonEmpty, "unigram train: empty corpus")
    val total = selected.map(_._2).sum
    val lnpFp: Array[(String, Long)] = selected.map { case (p, c) =>
      p -> math.floor(1e9 * math.log(c.toDouble / total.toDouble)).toLong
    }
    val lnpMap = map_from_arrays(
      typedLit(lnpFp.map(_._1).toSeq), typedLit(lnpFp.map(_._2).toSeq))

    // 3. in-row Viterbi over the bounded word table
    val dp = aggregate(
      sequence(lit(1), length(col("word"))),
      struct(array(lit(0L)).as("best"), array(lit(0)).as("bp")),
      (acc, i) => {
        val cand = filter(
          transform(sequence(greatest(i - maxPieceLen, lit(0)), i - 1), j =>
            struct(j.as("j"),
              (element_at(acc.getField("best"), j + 1) +
                element_at(lnpMap, col("word").substr(j + 1, i - j)))
                .as("score"))),
          x => x.getField("score").isNotNull)
        val bv = array_max(transform(cand, _.getField("score")))
        val bj = array_min(transform(
          filter(cand, x => x.getField("score") === bv), _.getField("j")))
        struct(concat(acc.getField("best"), array(bv)).as("best"),
          concat(acc.getField("bp"), array(bj)).as("bp"))
      })
    // 4. in-row backtrace: ≤ len steps; no-op once pos reaches 0
    val segmented = words.withColumn("__bp", dp.getField("bp"))
      .withColumn("__pieces", aggregate(
        sequence(lit(1), length(col("word"))),
        struct(length(col("word")).as("pos"),
          array().cast("array<string>").as("pcs")),
        (acc, _) => {
          val pos = acc.getField("pos")
          val j = element_at(col("__bp"), pos + 1)
          when(pos > 0,
            struct(j.as("pos"),
              concat(acc.getField("pcs"),
                array(col("word").substr(j + 1, pos - j))).as("pcs")))
            .otherwise(acc)
        },
        acc => acc.getField("pcs")))
    val used = segmented
      .select(col("freq"), explode(col("__pieces")).as("piece"))
      .groupBy("piece").agg(sum(col("freq")).as("used_count"))

    // 5. final inventory: model + usage + prune verdict
    val model = lnpFp.zip(selected).map { case ((p, lnp), (_, c)) => (p, c, lnp) }
      .toSeq.toDF("piece", "seed_count", "lnp_fp")
    val joined = model.join(used, Seq("piece"), "left")
      .withColumn("used_count", coalesce(col("used_count"), lit(0L)))
    val rk = row_number().over(
      Window.orderBy(col("used_count").desc, col("piece")))
    val ranked = joined.where(length(col("piece")) > 1 && col("used_count") > 0)
      .withColumn("__rk", rk).select(col("piece").as("__rp"), col("__rk"))
    joined.join(ranked, col("piece") === col("__rp"), "left")
      .select(col("piece"), col("seed_count"), col("lnp_fp"), col("used_count"),
        (length(col("piece")) === 1 ||
          coalesce(col("__rk"), lit(Int.MaxValue)) <= keepMulti).as("kept"))
  }
}
