package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import graft.functions.text

/** Retrieval-quality evaluation at corpus scale — the metric layer the
  * reference publishes its only numbers in (`evaluations/custom_eval/`,
  * `evaluations/hotpot_ragas_eval.py` — accuracy over golden Q&A): given a
  * ranked result table and a relevance ground-truth table, compute the
  * standard ranking metrics per query, in-engine, so an index/quantizer
  * change can be A/B'd over millions of queries without exporting to a
  * Python harness.
  *
  * Metrics (binary relevance, the TREC definitions):
  *  - `recall_at_k`  = hits / min(n_rel, k) — against the achievable max
  *    at this cutoff;
  *  - `mrr`          = 1 / rank of the first relevant hit (0 if none);
  *  - `ndcg_at_k`    = DCG / IDCG with DCG = Σ rel_i / log2(i + 1) over
  *    the ranked list and IDCG the same sum over the ideal prefix
  *    min(n_rel, k).
  *
  * Determinism: every metric is a per-query fold over ≤ k rows; the DCG
  * fold runs in RANK order (the t30 position-ordered-fold discipline) and
  * IDCG folds a literal `sequence`, so both engines sum in the same
  * order; log2 ulp is absorbed by the caller's rounding.
  *
  * 100 TB shape: one equi-join of the ranked table (|queries|·k rows)
  * against the relevance table on (query, id), then two map-side-combined
  * per-query aggregations — nothing corpus-sized; the expensive part of
  * an eval (producing `ranked`) is the retrieval operator under test. */
object Evals {

  /** `ranked`: (`query_id`, `rank` 1-based, `id`); `relevant`:
    * (`query_id`, `id`) ground truth. Output per query: `n_rel`, `hits`,
    * `recall_at_k`, `mrr`, `ndcg_at_k`. Queries with NO relevant docs are
    * omitted (their metrics are undefined). Queries WITH relevant docs but
    * no ranked rows within the cutoff are NOT omitted: they score zero on
    * every metric — the per-query frame is anchored on the ground-truth
    * side, so a retrieval regression that returns nothing for a query
    * drags the aggregate down instead of silently vanishing from it. */
  def rankingMetrics(ranked: DataFrame, relevant: DataFrame, k: Int): DataFrame = {
    require(k >= 1, s"rankingMetrics needs k>=1 (got $k)")
    val rel = relevant.select(col("query_id"), col("id"), lit(1L).as("__rel"))
    val joined = ranked.filter(col("rank") <= k)
      .join(rel, Seq("query_id", "id"), "left")
      .withColumn("__rel", coalesce(col("__rel"), lit(0L)))
    val perQuery = joined.groupBy("query_id").agg(
      sum("__rel").as("hits"),
      min(when(col("__rel") === 1, col("rank"))).as("__first_rel"),
      aggregate(
        sort_array(collect_list(struct(col("rank").as("r"), col("__rel").as("v")))),
        lit(0.0),
        (acc, x) => acc +
          x.getField("v").cast("double") / log2(x.getField("r") + lit(1.0)))
        .as("__dcg"))
    val nRel = rel.groupBy("query_id").agg(count(lit(1)).as("n_rel"))
    // anchor on nRel (left join), not perQuery: a query the retriever
    // returned nothing for must score 0, not disappear from the eval
    nRel.join(perQuery, Seq("query_id"), "left")
      .withColumn("hits", coalesce(col("hits"), lit(0L)))
      .withColumn("__dcg", coalesce(col("__dcg"), lit(0.0)))
      .withColumn("__ideal", least(col("n_rel"), lit(k.toLong)))
      .withColumn("__idcg",
        aggregate(sequence(lit(1L), col("__ideal")), lit(0.0),
          (acc, i) => acc + lit(1.0) / log2(i + lit(1.0))))
      .select(col("query_id"), col("n_rel"), col("hits"),
        (col("hits").cast("double") / col("__ideal")).as("recall_at_k"),
        coalesce(lit(1.0) / col("__first_rel"), lit(0.0)).as("mrr"),
        (col("__dcg") / col("__idcg")).as("ndcg_at_k"))
  }

  // Clipped n-gram matches Σ_g min(count_cand(g), count_ref(g)) for
  // n = 1..4 — the modified-precision numerator of Papineni et al. 2002
  // §2.1 and simultaneously the ROUGE-N overlap (the statistic is
  // symmetric in which side it's clipped against). Computed by the
  // codegen'd one-pass kernel [[graft.functions.GenEvalExpressions]].

  /** Generation-quality metrics over (candidate, reference) token pairs —
    * the distillation / summarization / translation QC gate a training-data
    * pipeline runs over model outputs at corpus scale (the reference's
    * eval layer is LLM-judge accuracy, `evaluations/custom_eval/
    * evaluate.py`; these are the classical deterministic complements).
    *
    * Per pair:
    *  - BLEU-4 in LOG space (Papineni et al. 2002), smoothing-1
    *    (`(m_n+1)/(c_n+1)` for every order): `log_bleu_ppm` =
    *    ⌊1e6·(min(0, 1−r/c) + ¼·Σ_{n=1..4} ln p_n)⌋. Log space keeps the
    *    cross-engine surface to `ln` alone (the t30-proven primitive) —
    *    no `exp`, and the brevity-penalty term is exact IEEE division.
    *    The four-term sum folds in ascending-n order with explicit
    *    parenthesization.
    *  - ROUGE-1/2 (Lin 2004) precision/recall/F1 as EXACT integer ppm:
    *    with m clipped matches, c candidate grams, r reference grams,
    *    P=m/c, R=m/r, F1=2m/(c+r) — all emitted via integer `div`, no
    *    float in the pipeline at all.
    *
    * 100 TB shape: candidate and reference live in the SAME row, so every
    * count is an in-row array fold — the operator is map-only with ZERO
    * shuffles; a corpus-level roll-up afterwards is one map-side-combined
    * aggregation. Nothing here beats that plan. */
  def genMetrics(pairs: DataFrame, idCol: String,
                 candCol: String, refCol: String): DataFrame = {
    val withCounts = (1 to 4).foldLeft(
      pairs.withColumn("c_len", size(col(candCol)).cast("long"))
           .withColumn("r_len", size(col(refCol)).cast("long"))
           .withColumn("__bm", graft.functions.GenEvalExpressions
             .bleu_clipped(col(candCol), col(refCol)))) {
      case (df, n) =>
        df.withColumn(s"m$n", element_at(col("__bm"), n))
          .withColumn(s"c$n",
            greatest(size(col(candCol)).cast("long") - lit(n - 1L), lit(0L)))
    }
    def lnP(n: Int): Column =
      log((col(s"m$n") + lit(1.0)) / (col(s"c$n") + lit(1.0)))
    val logBleu =
      least(lit(0.0), lit(1.0) - col("r_len").cast("double") / col("c_len").cast("double")) +
        lit(0.25) * (((lnP(1) + lnP(2)) + lnP(3)) + lnP(4))
    withCounts
      // degenerate sides (an empty model output is a REALISTIC row, not a
      // data bug): BLEU of an empty candidate is -inf in log space — emit
      // NULL (undefined), never a NaN/-Infinity that poisons a roll-up;
      // each ROUGE ratio zero-guards its own denominator like rouge2 always
      // did (0 matches over 0 grams reads as 0, the honest QC verdict)
      .withColumn("log_bleu_ppm",
        when(col("c_len") === 0, lit(null).cast("long"))
          .otherwise(floor(lit(1000000.0) * logBleu).cast("long")))
      .withColumn("rouge1_f_ppm",
        when(col("c_len") + col("r_len") === 0, lit(0L))
          .otherwise(expr("(2 * m1 * 1000000) div (c_len + r_len)")))
      .withColumn("rouge2_f_ppm",
        when(col("c_len") >= 2 && col("r_len") >= 2,
          expr("(2 * m2 * 1000000) div ((c_len - 1) + (r_len - 1))"))
          .otherwise(lit(0L)))
      .withColumn("rouge1_p_ppm",
        when(col("c_len") === 0, lit(0L))
          .otherwise(expr("(m1 * 1000000) div c_len")))
      .withColumn("rouge1_r_ppm",
        when(col("r_len") === 0, lit(0L))
          .otherwise(expr("(m1 * 1000000) div r_len")))
      .select(col(idCol), col("r_len"), col("c_len"),
        col("m1"), col("m2"), col("m3"), col("m4"),
        col("log_bleu_ppm"), col("rouge1_f_ppm"), col("rouge2_f_ppm"),
        col("rouge1_p_ppm"), col("rouge1_r_ppm"))
  }

  /** ROUGE-L over (candidate, reference) token pairs — the LCS-based
    * member of the ROUGE family (Lin 2004 §3), sensitive to ORDER where
    * ROUGE-N's bag-of-grams is not: a candidate with every reference word
    * in scrambled order scores full ROUGE-1 but low ROUGE-L. With
    * L = |LCS|, c, r the token counts: P = L/c, R = L/r, and the F1 form
    * 2PR/(P+R) = 2L/(c+r) — so every emitted metric is EXACT integer ppm
    * (one integer div each), no float anywhere. The LCS itself is the
    * codegen'd O(c·r) two-row DP kernel
    * [[graft.functions.GenEvalExpressions.lcsLength]].
    *
    * 100 TB shape: candidate and reference live in the same row — map-only,
    * zero shuffles, like [[genMetrics]]. Degenerate sides follow its
    * convention: a zero denominator emits 0, never an error. */
  def rougeL(pairs: DataFrame, idCol: String,
             candCol: String, refCol: String): DataFrame =
    pairs
      .withColumn("c_len", size(col(candCol)).cast("long"))
      .withColumn("r_len", size(col(refCol)).cast("long"))
      .withColumn("lcs", graft.functions.GenEvalExpressions
        .lcs_length(col(candCol), col(refCol)))
      .withColumn("rouge_l_f_ppm",
        when(col("c_len") + col("r_len") === 0, lit(0L))
          .otherwise(expr("(2 * lcs * 1000000) div (c_len + r_len)")))
      .withColumn("rouge_l_p_ppm",
        when(col("c_len") === 0, lit(0L))
          .otherwise(expr("(lcs * 1000000) div c_len")))
      .withColumn("rouge_l_r_ppm",
        when(col("r_len") === 0, lit(0L))
          .otherwise(expr("(lcs * 1000000) div r_len")))
      .select(col(idCol), col("r_len"), col("c_len"), col("lcs"),
        col("rouge_l_f_ppm"), col("rouge_l_p_ppm"), col("rouge_l_r_ppm"))

  /** chrF over (candidate, reference) STRING pairs — the character-n-gram
    * F-score (Popović 2015), the WMT-standard metric that survives
    * tokenizer and morphology differences BLEU is blind to (a stem match
    * scores partial credit instead of zero). Statistics are clipped char
    * n-gram matches for n = 1..6 over the space-stripped texts (the
    * sacrebleu whitespace convention), computed by the one-pass kernel
    * [[graft.functions.GenEvalExpressions.chrfStats]].
    *
    * Deterministic quantization (stated deviation from sacrebleu's float
    * averaging): per-order precision/recall are EXACT integer ppm
    * (m·10⁶ div denom, 0 when the order has no grams), the order average
    * divides the ppm SUM by the fixed 6, and F_β=2 =
    * (5·P·R) div (4·P + R) in ppm — every stage an integer division of
    * exact integers, so any engine replays it bit-for-bit. Products peak
    * at 5·10¹² — far inside a long. Map-only, zero shuffles. */
  def chrF(pairs: DataFrame, idCol: String,
           candCol: String, refCol: String): DataFrame = {
    val withStats = pairs.withColumn("__st", graft.functions
      .GenEvalExpressions.chrf_stats(col(candCol), col(refCol)))
      .withColumn("c_chars", element_at(col("__st"), 1))
      .withColumn("r_chars", element_at(col("__st"), 2))
    def ordPpm(n: Int, lenCol: String): Column = {
      val denom = col(lenCol) - lit(n - 1L)
      when(denom > 0,
        expr(s"(element_at(__st, ${2 + n}) * 1000000) div " +
          s"($lenCol - ${n - 1L})")).otherwise(lit(0L))
    }
    val psum = (1 to 6).map(ordPpm(_, "c_chars")).reduce(_ + _)
    val rsum = (1 to 6).map(ordPpm(_, "r_chars")).reduce(_ + _)
    withStats
      .withColumn("__psum", psum).withColumn("__rsum", rsum)
      .withColumn("chrp_ppm", expr("__psum div 6"))
      .withColumn("chrr_ppm", expr("__rsum div 6"))
      .withColumn("chrf_ppm",
        when(lit(4L) * col("chrp_ppm") + col("chrr_ppm") === 0, lit(0L))
          .otherwise(expr(
            "(5 * chrp_ppm * chrr_ppm) div (4 * chrp_ppm + chrr_ppm)")))
      .select(col(idCol), col("c_chars"), col("r_chars"),
        col("chrp_ppm"), col("chrr_ppm"), col("chrf_ppm"))
  }

  /** Quantized Poisson(1) CDF thresholds in ppm — floor(10⁶·P(X ≤ n)) for
    * n = 0..7 (≥ 8 is the tail bucket). These LITERALS are the sampling
    * definition (stated quantization, not an approximation of one): a
    * uniform ppm draw u maps to the weight whose threshold it falls under,
    * identically in any engine. */
  val poissonPpmThresholds: Seq[Long] =
    Seq(367879L, 735758L, 919698L, 981011L, 996340L, 999405L, 999916L, 999989L)

  /** Poisson-bootstrap confidence interval for a corpus mean (Chamandy et
    * al. 2012, Google's "Estimating uncertainty for massive data streams")
    * — the ONE-PASS bootstrap: classic resampling shuffles the corpus B
    * times; the Poisson bootstrap gives every (row, replicate) an
    * independent Poisson(1) weight, so all B replicates ride a single
    * map-side-combined pass and the method is exactly as distributed as a
    * groupBy. The per-(row, replicate) draw is md5-derandomized through
    * [[poissonPpmThresholds]] (the t21/t36 discipline), so the whole
    * interval is a pure function of the corpus — reproducible anywhere.
    *
    * Per replicate: n_eff = Σw, and the replicate mean of `valueCol` as
    * EXACT integer fp — (Σw·x · 10⁶) div Σw (decimal(38,0) so the product
    * survives 10¹² rows). The CI is the nearest-rank 2.5%/97.5% selection
    * over the B replicate means (ceil(q·B) ranks, the t20 percentile
    * convention; (mean, replicate) total order breaks ties) — a rule-17
    * decision over B rows, broadcast back onto every row.
    *
    * 100 TB shape: ONE explode (B× the value stream — 16 bytes/row, the
    * stated trade for one-pass-ness) into a B-cell map-side-combined
    * groupBy; everything after runs on B rows. */
  def poissonBootstrap(df: DataFrame, idCol: String, valueCol: String,
                       b: Int = 40, seed: String = "boot"): DataFrame = {
    require(b >= 4 && b <= 1024, s"poissonBootstrap needs 4<=b<=1024 (got $b)")
    // The replicate mean is exact integer fp, so the input must already be
    // integral — a fractional metric silently cast('long') would truncate
    // to 0/1 and the CI would be computed over garbage. Callers fixed-point
    // first (floor(value*10^d), the cuped convention).
    df.schema(valueCol).dataType match {
      case org.apache.spark.sql.types.LongType
         | org.apache.spark.sql.types.IntegerType
         | org.apache.spark.sql.types.ShortType
         | org.apache.spark.sql.types.ByteType => ()
      case other => throw new IllegalArgumentException(
        s"poissonBootstrap valueCol '$valueCol' is ${other.simpleString}: " +
          "pass an integral column (fixed-point fractional metrics first, " +
          "e.g. floor(value*1e6) ppm — the cuped convention)")
    }
    val u = text.md5_prefix_long(concat(lit(seed + ":"), col(idCol),
      lit(":"), col("replicate")), 1, 6) % 1000000L
    val w = poissonPpmThresholds.zipWithIndex
      .foldRight(lit(poissonPpmThresholds.length.toLong)) {
        case ((t, i), acc) => when(u < t, i.toLong).otherwise(acc)
      }
    // pin the replicate stream's parallelism (r18): same rationale as
    // pairedPermTest's flip repartition — the b-way explode inherits the
    // (often AQE-coalesced or single-file) upstream partitioning, and the
    // per-replicate md5 draw then runs nearly single-task.
    val perRep = df
      .repartition(df.sparkSession.sessionState.conf.numShufflePartitions,
        col(idCol))
      .select(col(idCol), col(valueCol).cast("long").as("__x"),
        explode(sequence(lit(1L), lit(b.toLong))).as("replicate"))
      .withColumn("__w", w)
      .groupBy("replicate")
      .agg(sum("__w").as("n_eff"),
        sum(expr("__w * __x").cast("decimal(38,0)")).as("__wx"))
      .withColumn("mean_fp",
        when(col("n_eff") > 0,
          expr("(__wx * 1000000) div n_eff")).otherwise(lit(0L)))
      .select("replicate", "n_eff", "mean_fp")
    val rkLo = math.max(1, math.ceil(0.025 * b).toInt)
    val rkHi = math.ceil(0.975 * b).toInt
    val w0 = org.apache.spark.sql.expressions.Window
      .orderBy(col("mean_fp"), col("replicate"))
    val ranked = perRep.withColumn("__rk", row_number().over(w0))
    val lo = ranked.filter(col("__rk") === rkLo)
      .select(col("mean_fp").as("ci_lo_fp"))
    val hi = ranked.filter(col("__rk") === rkHi)
      .select(col("mean_fp").as("ci_hi_fp"))
    perRep.crossJoin(broadcast(lo)).crossJoin(broadcast(hi))
  }

  /** Exact-rational coefficients for truncated RBO at depth `k` with
    * persistence p = pNum/pDen: returns (C_1..C_k, D) such that
    * RBO·10⁶ = (Σ_d C_d·|A_{1..d} ∩ B_{1..d}|) / D EXACTLY —
    * C_d = 10⁶·(pDen−pNum)·pNum^{d−1}·D/(pDen^d·d) with
    * D = pDen^k·lcm(1..k), so every term is an integer (d | lcm) and the
    * whole score is one integer division. Shared by [[rbo]] and the
    * registry oracle (interpolated into the SQL from THIS function, the
    * t60 convention — the two sides cannot drift). */
  def rboCoefficients(k: Int, pNum: Long, pDen: Long): (Seq[BigInt], BigInt) = {
    require(k >= 1 && pNum >= 1 && pNum < pDen,
      s"rbo needs k>=1 and 1<=pNum<pDen (got k=$k, p=$pNum/$pDen)")
    val lcm = (1 to k).foldLeft(BigInt(1))((a, d) => a * d / a.gcd(d))
    val dd = BigInt(pDen).pow(k) * lcm
    val cs = (1 to k).map { d =>
      BigInt(1000000) * (pDen - pNum) * BigInt(pNum).pow(d - 1) *
        (dd / (BigInt(pDen).pow(d) * d))
    }
    (cs, dd)
  }

  /** Rank-Biased Overlap (Webber, Moffat & Zobel 2010, truncated at depth
    * `k`) between two per-query rankings — the LABEL-FREE system-comparison
    * metric v24's relevance-anchored family can't give: when two retrieval
    * configurations (exact vs quantized, old index vs new) are compared
    * over millions of queries with no ground truth, RBO says how much the
    * RANKINGS moved, top-weighted by the persistence p (a rank-1 swap
    * costs far more than a rank-10 swap — the property plain overlap@k
    * lacks).
    *
    * RBO@k = Σ_{d=1..k} (1−p)·p^{d−1}·|A_{1..d} ∩ B_{1..d}|/d, emitted as
    * EXACT integer ppm via [[rboCoefficients]] — the depth-d overlaps are
    * the only inputs, each term is one integer multiply, and the score is
    * one integral division of a decimal(38,0) sum (Σ C_d·ov_d peaks near
    * 10⁶·D ≈ 2.5·10¹⁹ at the default p=0.9, k=10 — past a long, inside
    * decimal). No float exists anywhere in the metric.
    *
    * Inputs: one row per query with BOTH rankings as id arrays of length
    * ≥ k (the caller's serving operators produce these — at scale via
    * their bounded-heap top-k paths; this metric itself is MAP-ONLY on
    * |queries| rows, zero shuffles). */
  def rbo(pairs: DataFrame, idCol: String, aCol: String, bCol: String,
          k: Int = 10, pNum: Long = 9, pDen: Long = 10): DataFrame = {
    val (cs, dd) = rboCoefficients(k, pNum, pDen)
    val withOv = (1 to k).foldLeft(pairs) { (df, d) =>
      df.withColumn(s"__ov$d",
        size(array_intersect(slice(col(aCol), 1, d), slice(col(bCol), 1, d)))
          .cast("long"))
    }
    val num = (1 to k).map(d =>
      lit(new java.math.BigDecimal(cs(d - 1).bigInteger)) * col(s"__ov$d"))
      .reduce(_ + _)
    // precondition enforced IN each output column (the passAtK style, so
    // Catalyst can't dead-code it): truncated RBO over lists shorter than
    // k would silently repeat the last overlap — fail loudly. The guard
    // wraps BOTH rbo_ppm and overlap_at_k: a downstream projection keeping
    // only one of them must not let column pruning drop the check.
    def guarded(out: Column): Column =
      when(size(col(aCol)) < k || size(col(bCol)) < k,
        raise_error(concat(lit(s"rbo needs both rankings to have >= $k "),
          lit("entries; got "), size(col(aCol)), lit(" and "),
          size(col(bCol)))).cast("long"))
        .otherwise(out)
    withOv
      .withColumn("__num", num.cast("decimal(38,0)"))
      .withColumn("rbo_ppm",
        guarded(expr(s"__num div cast('$dd' as decimal(38,0))")))
      .withColumn("overlap_at_k", guarded(col(s"__ov$k")))
      .select(col(idCol), col("overlap_at_k"), col("rbo_ppm"))
  }

  /** Classifier-confidence CALIBRATION over (score, label) pairs — the
    * readout consulted before trusting a quality/toxicity/LLM-judge score
    * as a keep-drop gate (t57's NB, t2's quality, tr4's judge strengths
    * all emit scores; this is whether those scores MEAN their number):
    * reliability diagram (per-bin confidence vs accuracy), expected
    * calibration error (Guo et al. 2017), Brier score, and the isotonic
    * (PAV) recalibration curve (Zadrozny & Elkan 2002) every serving
    * stack applies before thresholding.
    *
    * Inputs: `scoreCol` an integer ppm confidence in [0, 1e6), `labelCol`
    * a 0/1 long. One row out per NON-EMPTY equal-width score bin:
    * `n`, `pos`, `conf_ppm` (mean confidence, exact integer div),
    * `acc_ppm` (empirical accuracy), `iso_ppm` (isotonic fit), plus the
    * corpus-constant `ece_ppm` and `brier_ppm`.
    *
    * Determinism: everything corpus-sized is EXACT integer arithmetic
    * (sums accumulate as decimal(38,0) so no silent long overflow at
    * 10¹² rows). The isotonic fit uses the MINIMAX closed form
    * ŷᵢ = max_{j≤i} min_{k≥i} mean(pos, n over j..k) instead of the PAV
    * stack: each candidate mean is ONE IEEE division of exact integers
    * and min/max of identical double sets is bit-identical in any engine,
    * where a stack-PAV's merge-order comparisons of near-equal rationals
    * could resolve differently under a replaying engine's rounding. The
    * two forms provably fit the same function (Robertson, Wright & Dykstra
    * 1988 §1.2); minimax is O(bins³) on a request-sized table — free.
    *
    * 100 TB shape: ONE map-side-combined groupBy into ≤ `bins` cells;
    * every downstream step is a rule-17 driver decision on that
    * request-sized table. Nothing here beats that plan. */
  def calibration(scored: DataFrame, scoreCol: String, labelCol: String,
                  bins: Int = 10): DataFrame = {
    require(bins >= 2 && bins <= 1024, s"calibration needs 2<=bins<=1024 (got $bins)")
    val spark = scored.sparkSession
    val agg = scored
      .select(
        expr(s"least($bins - 1, ($scoreCol * $bins) div 1000000)").as("bin"),
        col(scoreCol).cast("long").as("s"),
        col(labelCol).cast("long").as("y"))
      .groupBy("bin")
      .agg(count(lit(1)).as("n"), sum(col("y")).as("pos"),
        sum(col("s").cast("decimal(38,0)")).as("confsum"),
        sum(((col("s") - col("y") * lit(1000000L)) *
             (col("s") - col("y") * lit(1000000L))).cast("decimal(38,0)"))
          .as("bsum"))
      .orderBy("bin")
    val rows = agg.collect()
    val bin = rows.map(_.getLong(0)); val n = rows.map(_.getLong(1))
    val pos = rows.map(_.getLong(2))
    val confsum = rows.map(r => BigInt(r.getDecimal(3).toBigInteger))
    val bsum = rows.map(r => BigInt(r.getDecimal(4).toBigInteger))
    val m = rows.length
    val nTot = BigInt(n.sum)
    val accPpm = (0 until m).map(i => BigInt(pos(i)) * 1000000 / n(i))
    val confPpm = (0 until m).map(i => confsum(i) / n(i))
    val ecePpm = ((0 until m).map(i => BigInt(n(i)) * (accPpm(i) - confPpm(i)).abs)
      .foldLeft(BigInt(0))(_ + _) / nTot).toLong
    val brierPpm = (bsum.foldLeft(BigInt(0))(_ + _) / (nTot * 1000000)).toLong
    // prefix sums for the minimax block means (exact integers; the ONLY
    // float is the final block-mean division, mirrored in the oracle)
    val cp = pos.scanLeft(0L)(_ + _); val cn = n.scanLeft(0L)(_ + _)
    def mean(j: Int, k: Int): Double = // block j..k inclusive, 0-based
      (cp(k + 1) - cp(j)).toDouble / (cn(k + 1) - cn(j)).toDouble
    val isoPpm = (0 until m).map { i =>
      val v = (0 to i).map(j => (i until m).map(k => mean(j, k)).min).max
      math.floor(1000000.0 * v).toLong
    }
    val out = (0 until m).map(i => (bin(i), n(i), pos(i), confPpm(i).toLong,
      accPpm(i).toLong, isoPpm(i), ecePpm, brierPpm))
    import spark.implicits._
    out.toDF("bin", "n", "pos", "conf_ppm", "acc_ppm", "iso_ppm",
      "ece_ppm", "brier_ppm")
  }

  /** pass@k — the code/math-eval metric (Chen et al. 2021, Codex §2.1):
    * given `n` samples per task of which `c` passed, the UNBIASED
    * estimator pass@k = 1 − C(n−c,k)/C(n,k) (the naive (c/n)ᵏ-style
    * plug-ins are biased; this is the paper's numerically-stable form).
    * Computed as EXACT integer ppm: the binomial ratio collapses to
    * Π_{i<k}(n−c−i) / Π_{i<k}(n−i) (the k! cancels, and floor division
    * is invariant under the common factor), so each metric is one integer
    * product pair + one integer div — no floats anywhere, and the n−c<k
    * case (every k-subset contains a pass) is the explicit 1.0 branch.
    *
    * Bounds: products peak at n!/(n−k)! — n ≤ 20 AND k ≤ 11 keep num·10⁶
    * inside a long (6.7e18 at n=20, k=11; k=12 would reach 6.0e19 and
    * silently wrap in non-ANSI Spark); both enforced, not assumed. Per-row
    * map-only; aggregate pass@k over tasks is the caller's one-line mean. */
  def passAtK(df: DataFrame, idCol: String, nCol: String, cCol: String,
              ks: Seq[Int] = Seq(1, 5, 10)): DataFrame = {
    require(ks.nonEmpty && ks.forall(k => k >= 1 && k <= 11),
      s"passAtK needs 1<=k<=11 (prod(n,k)*1e6 overflows a long past k=11 " +
        s"at the permitted n=20); got ks=$ks")
    val n = col(nCol).cast("long"); val c = col(cCol).cast("long")
    def prod(top: Column, k: Int): Column =
      aggregate(sequence(lit(0L), lit(k - 1L)), lit(1L),
        (acc, i) => acc * (top - i))
    def idiv(a: Column, b: Column): Column =
      org.apache.spark.sql.graftbridge.ColumnBridge.column(
        org.apache.spark.sql.catalyst.expressions.IntegralDivide(
          org.apache.spark.sql.graftbridge.ColumnBridge.expression(a),
          org.apache.spark.sql.graftbridge.ColumnBridge.expression(b)))
    ks.foldLeft(df) { (d, k) =>
      d.withColumn(s"pass${k}_ppm",
        // the domain guard lives INSIDE the output column so Catalyst
        // can't dead-code it away: bad (n, c) fails the job, not silently
        when(n > 20 || n < 1 || c < 0 || c > n,
          raise_error(concat(lit("passAtK needs 1<=n<=20, 0<=c<=n; got n="),
            n, lit(" c="), c)).cast("long"))
          .when(n - c < k, lit(1000000L))
          .otherwise(lit(1000000L) -
            idiv(prod(n - c, k) * lit(1000000L), prod(n, k))))
    }.select(col(idCol) +: col(nCol) +: col(cCol) +:
      ks.map(k => col(s"pass${k}_ppm")): _*)
  }

  /** Fleiss' κ — chance-corrected inter-rater agreement over `n` raters
    * per item (Fleiss 1971): the QC readout consulted before TRUSTING an
    * LLM-judge ensemble or annotator pool whose labels feed tr4/tr5's
    * preference fits — high strength estimates mean nothing if the judges
    * don't agree above chance.
    *
    *   P̄  = Σ_i Σ_c n_ic(n_ic−1) / (N·n·(n−1))   (observed agreement)
    *   P̄e = Σ_c m_c² / (N·n)²                     (chance agreement)
    *   κ  = (P̄ − P̄e) / (1 − P̄e)
    *
    * Every quantity is a RATIONAL of exact integer sums, so the emitted
    * ppm values are pure integer floor-divisions (BigInt driver-side —
    * Σ m_c²·D₁ reaches ~N³, past a long at ~10⁶ items; the oracle's
    * HUGEINT is the same widening). Output: one row per category
    * (`category`, `n_labels`, `marginal_ppm`) with the corpus-constant
    * `p_bar_ppm`, `p_e_ppm`, `kappa_ppm` replicated.
    *
    * 100 TB shape: TWO map-side-combined groupBys ((item, cat) counts →
    * per-item reduction + category marginals); the κ arithmetic is a
    * rule-17 driver decision over ≤|categories| rows. Requires the same
    * rater count on every item (fails loudly otherwise — a ragged panel
    * silently biases P̄). κ can be negative (worse-than-chance); this side
    * emits true mathematical FLOOR, so a replaying engine whose integer
    * division truncates toward zero only matches on κ ≥ 0 — the ev4
    * synthesis keeps the oracle in that regime and the spec covers the
    * negative branch engine-side. */
  def fleissKappa(labels: DataFrame, itemCol: String, catCol: String): DataFrame = {
    val spark = labels.sparkSession
    import spark.implicits._
    val ic = labels
      .groupBy(col(itemCol).as("__it"), col(catCol).cast("long").as("category"))
      .agg(count(lit(1)).as("c"))
    val perItem = ic.groupBy("__it")
      .agg(sum(col("c")).as("n"), sum(expr("c * (c - 1)")).as("s"))
    val head = perItem
      .agg(countDistinct(col("n")).as("dn"), count(lit(1)).as("items"),
        sum(col("s")).as("ssum"), min(col("n")).as("n"))
      .as[(Long, Long, Long, Long)].collect().head
    val (dn, items, ssum, n) = head
    require(dn == 1 && n >= 2,
      s"fleissKappa needs a constant rater count >= 2 per item (saw $dn distinct counts, n=$n)")
    val marg = ic.groupBy("category").agg(sum(col("c")).as("m"))
      .orderBy("category").as[(Long, Long)].collect()
    val bigN = BigInt(items); val bn = BigInt(n)
    val d1 = bigN * bn * (bn - 1)
    val d2 = (bigN * bn) * (bigN * bn)
    val m2 = marg.map(m => BigInt(m._2) * m._2).sum
    val s = BigInt(ssum)
    def floorDiv(a: BigInt, b: BigInt): Long = {
      val q = a / b
      (if (a % b != 0 && (a < 0) != (b < 0)) q - 1 else q).toLong
    }
    val pBarPpm = floorDiv(s * 1000000, d1)
    val pEPpm = floorDiv(m2 * 1000000, d2)
    // unanimous single-category panels give P̄e = 1 (m2 == d2) and the
    // kappa denominator vanishes — fail with the statistics, not a bare
    // BigInt ArithmeticException
    require(d2 != m2,
      "fleissKappa: kappa undefined - chance agreement is 1 (every rater " +
        "used a single category); the panel carries no agreement signal")
    val kappaPpm = floorDiv((s * d2 - m2 * d1) * 1000000, d1 * (d2 - m2))
    marg.toSeq.map { case (cat, m) =>
      (cat, m, floorDiv(BigInt(m) * 1000000, bigN * bn), pBarPpm, pEPpm, kappaPpm)
    }.toDF("category", "n_labels", "marginal_ppm",
      "p_bar_ppm", "p_e_ppm", "kappa_ppm")
  }

  /** Krippendorff's α for nominal data (Krippendorff 1970/2004 §11) —
    * the inter-rater agreement seat [[fleissKappa]] loudly REFUSES:
    * ragged panels. Real LLM-judge ensembles are ragged by construction
    * (judges time out, get routed, or abstain), and Fleiss' κ is only
    * defined at a constant rater count; α handles any mix of panel
    * sizes by pairing values within items — items with a single rating
    * are unpairable and excluded (reported as `n_dropped`, the standard
    * treatment).
    *
    * Exactness: with n_u ratings and q_u = Σ_c n_uc² per item,
    * α = 1 − (N−1)·Σ_u[(n_u²−q_u)/(n_u−1)] / (N² − Σ_c n_c²) over the
    * pairable items (the coincidence-matrix identity). The per-item
    * fractions sum EXACTLY over a common denominator Π(n_g−1) taken
    * over the DISTINCT panel sizes g (driver BigInt, the fleissKappa
    * convention; the oracle replays the same fold in HUGEINT), with a
    * loud guard at Π ≤ 10¹⁵ — the exact-rational replay bound (panels
    * with more distinct sizes: bucket raters; the statistic is about
    * agreement, not panel-size diversity). All outputs are floored ppm
    * of exact rationals; a single-category panel (D_e = 0) raises with
    * the statistics, never divides by zero. α < 0 (worse than chance)
    * emits as a negative ppm — floorDiv floors identically in both
    * engines.
    *
    * 100 TB shape: two map-side-combined groupBys ((item, cat) counts →
    * per-item reduction), a distinct-panel-size rollup collected under
    * rule 17 (≤ distinct sizes rows), one category-marginal aggregation
    * — the ev4 plan with one extra bounded rollup. */
  def krippendorffAlpha(labels: DataFrame, itemCol: String,
                        catCol: String): DataFrame = {
    val spark = labels.sparkSession
    import spark.implicits._
    // three consumers: per-item, marginals, sizes
    val ic = graft.StageCut(labels
      .groupBy(col(itemCol).as("__it"), col(catCol).cast("long").as("category"))
      .agg(count(lit(1)).as("c")), "krippendorffAlpha.ic")
    val perItem = ic.groupBy("__it")
      .agg(sum(col("c")).as("n"), sum(expr("c * c")).as("q"))
    val pairable = graft.StageCut(perItem.filter(col("n") >= 2),
      "krippendorffAlpha.pairable")
    val nDropped = perItem.filter(col("n") < 2).count()
    val groups = pairable.groupBy("n")
      .agg(count(lit(1)).as("cnt"), sum(col("q")).as("sq"))
      .orderBy("n").as[(Long, Long, Long)].collect()
    require(groups.nonEmpty,
      "krippendorffAlpha: no item has >= 2 ratings - nothing is pairable")
    val marg = ic.join(pairable.select("__it"), "__it")
      .groupBy("category").agg(sum(col("c")).as("m"))
      .orderBy("category").as[(Long, Long)].collect()
    val den = groups.map(g => BigInt(g._1 - 1)).product
    require(den <= BigInt("1000000000000000"),
      s"krippendorffAlpha: the product of distinct (panel size - 1) " +
        s"values is $den > 1e15 - past the exact-rational replay bound; " +
        "bucket rater counts")
    val num = groups.map { case (n, cnt, sq) =>
      (BigInt(cnt) * n * n - sq) * (den / (n - 1))
    }.sum
    val bigN = groups.map(g => BigInt(g._1) * g._2).sum
    val m2 = marg.map(m => BigInt(m._2) * m._2).sum
    val eNum = bigN * bigN - m2
    require(eNum > 0,
      "krippendorffAlpha: alpha undefined - expected disagreement is 0 " +
        "(every pairable rating is one category); the panel carries no " +
        "agreement signal")
    def floorDiv(a: BigInt, b: BigInt): Long = {
      val q = a / b
      (if (a % b != 0 && (a < 0) != (b < 0)) q - 1 else q).toLong
    }
    val alphaPpm = floorDiv((den * eNum - (bigN - 1) * num) * 1000000,
      den * eNum)
    val doPpm = floorDiv(num * 1000000, den * bigN)
    val dePpm = floorDiv(eNum * 1000000, bigN * (bigN - 1))
    marg.toSeq.map { case (cat, m) =>
      (cat, m, floorDiv(BigInt(m) * 1000000, bigN), bigN.toLong, nDropped,
        doPpm, dePpm, alphaPpm)
    }.toDF("category", "n_labels", "marginal_ppm", "n_pairable",
      "n_dropped", "d_o_ppm", "d_e_ppm", "alpha_ppm")
  }

  /** Answer↔context ATTRIBUTION / faithfulness report — the deterministic
    * token-evidence layer under the LLM-judged RAGAS faithfulness score
    * the reference evaluates with (`evaluations/hotpot_ragas_eval.py`:
    * judge-scored faithfulness over (question, answer, contexts)); this is
    * the label-free QC every RAG pipeline runs BEFORE paying for a judge:
    * does the answer's text have evidence in the retrieved context at all?
    * Per (answer tokens, context tokens) pair:
    *  - `supported_toks` — multiplicity-clipped bag overlap (the ROUGE-1
    *    numerator kernel): answer tokens with evidence in the context;
    *  - `support_ppm`    — supported·10⁶ div |answer| (token support);
    *  - `lcs` / `quote_ppm` — LCS(answer, context) and its ppm share:
    *    ORDER-SENSITIVE span support; a bag overlap cannot tell a
    *    quotation from a shuffle of context words (spec-demonstrated: a
    *    REVERSED context slice keeps support_ppm = 10⁶ while quote_ppm
    *    collapses), so the pair (support, quote) separates grounded
    *    paraphrase from verbatim citation from word-salad reuse;
    *  - `unsupported`    — |answer| − supported (the hallucinated-token
    *    count a reviewer triages by);
    *  - `verdict` at stated ppm thresholds on support_ppm:
    *    supported / partial / hallucinated, with empty answers called out
    *    as their own verdict instead of scoring 0.
    * All metrics are exact integers (the LCS rides the codegen'd two-row
    * DP kernel; every ppm is one integer division). MAP-ONLY — both sides
    * of each pair live in the same row, zero shuffles at any corpus size. */
  def attribution(pairs: DataFrame, idCol: String,
                  ansCol: String, ctxCol: String,
                  supportedPpm: Long = 800000L,
                  partialPpm: Long = 400000L): DataFrame = {
    require(supportedPpm >= partialPpm && partialPpm > 0,
      s"attribution needs supportedPpm >= partialPpm > 0 " +
        s"(got $supportedPpm / $partialPpm)")
    pairs
      .withColumn("ans_len", size(col(ansCol)).cast("long"))
      .withColumn("ctx_len", size(col(ctxCol)).cast("long"))
      .withColumn("supported_toks",
        graft.functions.text.clipped_overlap(col(ansCol), col(ctxCol)))
      .withColumn("lcs", graft.functions.GenEvalExpressions
        .lcs_length(col(ansCol), col(ctxCol)))
      .withColumn("support_ppm",
        when(col("ans_len") > 0,
          expr("(supported_toks * 1000000) div ans_len")).otherwise(0L))
      .withColumn("quote_ppm",
        when(col("ans_len") > 0,
          expr("(lcs * 1000000) div ans_len")).otherwise(0L))
      .withColumn("unsupported", col("ans_len") - col("supported_toks"))
      .withColumn("verdict",
        when(col("ans_len") === 0, "empty")
          .when(col("support_ppm") >= supportedPpm, "supported")
          .when(col("support_ppm") >= partialPpm, "partial")
          .otherwise("hallucinated"))
      .select(col(idCol), col("ans_len"), col("ctx_len"),
        col("supported_toks"), col("lcs"), col("support_ppm"),
        col("quote_ppm"), col("unsupported"), col("verdict"))
  }

  /** RAGAS-shape retrieval-eval report — the deterministic, rank-aware
    * layer under the LLM-judged pipeline the reference evaluates with
    * (`evaluations/hotpot_ragas_eval.py:109-151`: ragas
    * `context_precision` + `faithfulness` over (question, answer,
    * contexts) built from each retrieval run). [[attribution]] scores one
    * (answer, context) pair; this is the per-QUERY readout over the
    * retrieved top-k list itself:
    *
    *  - `context_precision_ppm` — RAGAS context_precision@k exactly as
    *    defined (rank-weighted precision at each relevant position):
    *    CP = Σ_{i≤k} rel_i · (hits_i / i) / Σ_{i≤k} rel_i, computed as
    *    EXACT integers by scaling each 1/i with L = lcm(1..k): every
    *    hits_i·(L div i) term is integral, one final integer division
    *    emits ppm. A retriever that finds the same contexts but ranks
    *    them later scores strictly lower — the rank sensitivity
    *    recall@k cannot see.
    *  - `faithfulness_ppm` — the token-evidence faithfulness proxy:
    *    share of the answer's DISTINCT normalized tokens (the "claims"
    *    of the token granularity) that appear anywhere in the union of
    *    the retrieved contexts' tokens; supported·10⁶ div claims. The
    *    label-free stand-in for the judge's claim-verification loop.
    *  - honesty columns: `n_contexts`, `rel_in_k`, `n_claims`,
    *    `n_supported` — a 0-ppm row says WHY (no relevant contexts
    *    retrieved vs an empty answer).
    *
    * Inputs: `contexts` (query_id, rank 1-based, id, content), `relevant`
    * (query_id, id), `answers` (query_id, answer). k ≤ 20 keeps every
    * scaled term int64 (num ≤ k·lcm(1..20)·10⁶ < 2⁶³).
    *
    * 100 TB shape: everything downstream of retrieval is bounded by
    * |queries|·k rows — the cumulative-hits window partitions on the
    * query id, the claim/context token explode is per-list, and the
    * support check is one hash semi-join on (query_id, token). The
    * relevance join broadcasts when the judgment set does. Zero
    * corpus-sized exchanges. */
  def ragasReport(contexts: DataFrame, relevant: DataFrame,
                  answers: DataFrame, k: Int): DataFrame = {
    require(k >= 1 && k <= 20,
      s"ragasReport needs 1<=k<=20 for exact int64 arithmetic (got $k)")
    def gcd(a: Long, b: Long): Long = if (b == 0) a else gcd(b, a % b)
    val lcm = (1L to k.toLong).foldLeft(1L)((a, b) => a / gcd(a, b) * b)
    val rel = relevant.select(col("query_id"), col("id"), lit(1L).as("__rel"))
    val topk = contexts.filter(col("rank") <= k)
    val relv = topk.join(rel, Seq("query_id", "id"), "left")
      .withColumn("relv", coalesce(col("__rel"), lit(0L)))
    val wcum = org.apache.spark.sql.expressions.Window
      .partitionBy("query_id").orderBy("rank")
    val perQ = relv
      .withColumn("cum_hits", sum(col("relv")).over(wcum))
      .groupBy("query_id").agg(
        count(lit(1)).as("n_contexts"),
        sum(col("relv")).as("rel_in_k"),
        sum(expr(s"relv * cum_hits * ($lcm div rank)")).as("__num"))
      .withColumn("context_precision_ppm",
        when(col("rel_in_k") > 0,
          expr(s"(__num * 1000000) div ($lcm * rel_in_k)")).otherwise(0L))
    val claims = answers.select(col("query_id"),
      explode(graft.functions.text.distinctTokens(col("answer"))).as("tok"))
    val ctxTok = topk.select(col("query_id"),
        explode(graft.functions.text.distinctTokens(col("content"))).as("tok"))
      .distinct()
    val sup = claims.join(ctxTok, Seq("query_id", "tok"), "left_semi")
      .groupBy("query_id").agg(count(lit(1)).as("n_supported"))
    val nClaims = answers.select(col("query_id"),
      size(graft.functions.text.distinctTokens(col("answer")))
        .cast("long").as("n_claims"))
    perQ.join(nClaims, Seq("query_id"), "left")
      .join(sup, Seq("query_id"), "left")
      .withColumn("n_claims", coalesce(col("n_claims"), lit(0L)))
      .withColumn("n_supported", coalesce(col("n_supported"), lit(0L)))
      .withColumn("faithfulness_ppm",
        when(col("n_claims") > 0,
          expr("(n_supported * 1000000) div n_claims")).otherwise(0L))
      .select(col("query_id"), col("n_contexts"), col("rel_in_k"),
        col("context_precision_ppm"), col("n_claims"), col("n_supported"),
        col("faithfulness_ppm"))
  }

  /** Entity/relation EXTRACTION scoring — the deterministic metric layer
    * under the reference's SciER knowledge-graph evaluation
    * (`evaluations/Science graphs (SciER)/README.md`: model-extracted
    * entities and relations judged against gold annotations; the metric
    * conventions are the public SemEval/SciER strict-vs-relaxed matching
    * family, Segura-Bedmar et al. 2013). Four match modes, one report row
    * each, P/R/F1 as EXACT integer ppm (F1 = 2·TP·10⁶ div (|gold|+|pred|)
    * — the harmonic mean collapses to one integer division over set
    * sizes):
    *  - `entity_strict`   — (doc, span, type) must all match;
    *  - `entity_boundary` — (doc, span) matches, type forgiven (the
    *    relaxed mode that separates boundary errors from typing errors);
    *  - `relation_strict` — (doc, head span, tail span, type);
    *  - `relation_unlabeled` — spans only (the RE analog of boundary).
    * Set semantics throughout (mentions deduplicate before counting — a
    * prediction repeated ten times is one prediction, the SemEval rule).
    * Spans are token-index intervals [s, e]; invalid spans (s < 0 or
    * e < s) raise loudly through the count column (the aucReport
    * convention), never score.
    *
    * Inputs: entity frames (doc_id, s, e, etype), relation frames
    * (doc_id, hs, he, ts, te, rtype).
    *
    * 100 TB shape: per mode, two map-side-combined DISTINCTs over the
    * mention tables plus one hash semi-join on the composite key — the
    * mention tables are extraction OUTPUTS (orders of magnitude under
    * the text), every exchange is mention-sized, and the final report is
    * four one-row aggregates crossed together. Nothing corpus-sized
    * shuffles. */
  def erExtractionReport(goldEnt: DataFrame, predEnt: DataFrame,
                         goldRel: DataFrame, predRel: DataFrame): DataFrame = {
    def guardSpan(df: DataFrame, s: String, e: String): DataFrame =
      df.withColumn(s,
        when(col(s) >= 0 && col(s) <= col(e), col(s)).otherwise(raise_error(
          concat(lit(s"erExtractionReport: invalid span [$s, $e] = ["),
            col(s), lit(", "), col(e), lit("]"))).cast("long")))
    def score(mode: String, g: DataFrame, p: DataFrame,
              keys: Seq[String]): DataFrame = {
      val gd = g.select(keys.map(col): _*).distinct()
      val pd = p.select(keys.map(col): _*).distinct()
      val tp = pd.join(gd, keys, "left_semi")
      gd.agg(count(lit(1)).as("n_gold"))
        .crossJoin(pd.agg(count(lit(1)).as("n_pred")))
        .crossJoin(tp.agg(count(lit(1)).as("tp")))
        .select(lit(mode).as("match_mode"), col("n_gold"), col("n_pred"),
          col("tp"),
          when(col("n_pred") > 0, expr("(tp * 1000000) div n_pred"))
            .otherwise(0L).as("precision_ppm"),
          when(col("n_gold") > 0, expr("(tp * 1000000) div n_gold"))
            .otherwise(0L).as("recall_ppm"),
          when(col("n_gold") + col("n_pred") > 0,
            expr("(2 * tp * 1000000) div (n_gold + n_pred)"))
            .otherwise(0L).as("f1_ppm"))
    }
    val ge = guardSpan(goldEnt, "s", "e")
    val pe = guardSpan(predEnt, "s", "e")
    val gr = guardSpan(guardSpan(goldRel, "hs", "he"), "ts", "te")
    val pr = guardSpan(guardSpan(predRel, "hs", "he"), "ts", "te")
    score("entity_strict", ge, pe, Seq("doc_id", "s", "e", "etype"))
      .unionByName(score("entity_boundary", ge, pe, Seq("doc_id", "s", "e")))
      .unionByName(score("relation_strict", gr, pr,
        Seq("doc_id", "hs", "he", "ts", "te", "rtype")))
      .unionByName(score("relation_unlabeled", gr, pr,
        Seq("doc_id", "hs", "he", "ts", "te")))
  }

  /** Rank-correlation report between two rankings of the SAME item set —
    * Kendall/Spearman agreement per query, the classic complement of
    * [[rbo]]: RBO compares possibly-disjoint top-k lists top-weighted;
    * rank correlation asks "given the items the exact ranker chose, does
    * the cheap ranker ORDER them the same way?" (Kendall 1938; Spearman
    * 1904). The standard A/B readout for a quantizer/index swap.
    *
    * Input: one row per (id, item) with BOTH 1-based ranks — each a
    * permutation of 1..n within the id (row_number ranks, no ties; a tie
    * upstream must be broken by the caller's deterministic tiebreak).
    * Output per id, all exact integers:
    *  - `concordant` / `discordant` — pair counts (C + D = n(n−1)/2);
    *  - `sum_d2` = Σ(ra−rb)², `footrule` = Σ|ra−rb| (Spearman's two
    *    displacement statistics);
    *  - `tau01_ppm` = C·10⁶ div (C+D) — the concordant-pair share,
    *    = (τ+1)/2 · 10⁶ exactly (kept in [0, 10⁶] so no engine-specific
    *    negative-division semantics can bite);
    *  - `rho01_ppm` = 10⁶ − 3·Σd²·10⁶ div (n(n²−1)) = (ρ+1)/2 · 10⁶.
    * Classic values recover as τ = 2·tau01 − 1, ρ = 2·rho01 − 1.
    * Ids with n < 2 raise (both metrics undefined); the guard gates BOTH
    * ppm columns so column pruning cannot skip it (the rbo lesson).
    *
    * 100 TB shape: the pair join is a self-equi-join on the id — |ids|·k²
    * rows for top-k lists (k = 10 → 45 pairs/query), never corpus-sized;
    * the displacement statistics are one map-side-combined per-id
    * aggregation. The expensive part is producing the rankings under
    * test, not comparing them. */
  def rankCorr(ranks: DataFrame, idCol: String, itemCol: String,
               rankACol: String, rankBCol: String): DataFrame = {
    Guards.requireIntegral(ranks, rankACol, "rankCorr")
    Guards.requireIntegral(ranks, rankBCol, "rankCorr")
    val r = ranks.select(col(idCol).as("__id"),
      col(itemCol).as("__it"),
      col(rankACol).cast("long").as("__ra"),
      col(rankBCol).cast("long").as("__rb"))
    val x = r.select(col("__id"), col("__it").as("__ix"),
      col("__ra").as("__rax"), col("__rb").as("__rbx"))
    val y = r.select(col("__id"), col("__it").as("__iy"),
      col("__ra").as("__ray"), col("__rb").as("__rby"))
    val pairs = x.join(y, Seq("__id")).filter(col("__ix") < col("__iy"))
      .groupBy("__id").agg(
        sum(when((col("__rax") - col("__ray")) *
          (col("__rbx") - col("__rby")) > 0, 1L).otherwise(0L))
          .as("concordant"),
        sum(when((col("__rax") - col("__ray")) *
          (col("__rbx") - col("__rby")) < 0, 1L).otherwise(0L))
          .as("discordant"))
    val disp = r.groupBy("__id").agg(
      count(lit(1)).as("n"),
      sum((col("__ra") - col("__rb")) * (col("__ra") - col("__rb")))
        .as("sum_d2"),
      sum(abs(col("__ra") - col("__rb"))).as("footrule"))
    def guarded(out: Column): Column =
      when(col("n") < 2, expr(
        "raise_error('rankCorr needs >= 2 ranked items per id')"
      ).cast("long")).otherwise(out)
    // LEFT join: an id with a single item produces no pair rows at all;
    // it must reach the n<2 guard and raise, not silently vanish.
    disp.join(pairs, Seq("__id"), "left")
      .withColumn("concordant", coalesce(col("concordant"), lit(0L)))
      .withColumn("discordant", coalesce(col("discordant"), lit(0L)))
      .select(col("__id").as(idCol), col("n"),
        col("concordant"), col("discordant"),
        col("sum_d2"), col("footrule"),
        guarded(expr("(concordant * 1000000) div (concordant + discordant)"))
          .as("tau01_ppm"),
        guarded(lit(1000000L) -
          expr("(3 * sum_d2 * 1000000) div (n * (n * n - 1))"))
          .as("rho01_ppm"))
  }

  /** Exact ROC-AUC per group via the Mann–Whitney U rank-sum identity
    * (Hanley & McNeil 1983: AUC = U/(n₊·n₋)) with the midrank tie
    * convention — the binary-classifier QC readout for quality/toxicity/
    * langid scorer swaps, computed in-engine over integer scores.
    *
    * Tie handling stays integral by doubling: 2U = Σ_s n₊(s)·(2·N₋(<s) +
    * n₋(s)) — each tied (pos, neg) pair contributes exactly 1 to 2U, each
    * won pair 2, so `u2` is an exact integer and `auc_ppm` = u2·10⁶ div
    * (2·n₊·n₋). Groups with a single class emit NULL auc (undefined, the
    * honest value — a monitor alarming on it can test for NULL; raising
    * would make a legitimately all-negative slice a crash).
    *
    * 100 TB shape: one map-side-combined groupBy on (group, score) —
    * bounded by |groups|·|score values|, never row count — then a window
    * cumulative over the per-group score axis (each partition is one
    * group's distinct scores) and one per-group reduce. No per-row window
    * over the corpus, no sort of the raw rows. */
  def aucReport(scored: DataFrame, groupCol: String, labelCol: String,
                scoreCol: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    Guards.requireIntegral(scored, labelCol, "aucReport",
      acceptBoolean = true)
    Guards.requireIntegral(scored, scoreCol, "aucReport")
    val g = scored.select(col(groupCol).as("grp"),
        // a label outside {0,1} would silently corrupt BOTH class counts
        // (sum(pos) and sum(1-pos)) — fail loudly instead
        when(col(labelCol).cast("long").isin(0L, 1L),
          col(labelCol).cast("long"))
          .otherwise(expr(
            "raise_error('aucReport: labels must be 0/1')").cast("long"))
          .as("__pos"),
        col(scoreCol).cast("long").as("__s"))
      .groupBy("grp", "__s")
      .agg(sum(col("__pos")).as("np"),
        sum(lit(1L) - col("__pos")).as("nn"))
    val w = Window.partitionBy("grp").orderBy(col("__s").asc)
      .rowsBetween(Window.unboundedPreceding, -1)
    g.withColumn("cumnn", coalesce(sum(col("nn")).over(w), lit(0L)))
      .groupBy("grp").agg(
        sum(col("np")).as("n_pos"),
        sum(col("nn")).as("n_neg"),
        sum(col("np") * (lit(2L) * col("cumnn") + col("nn"))).as("u2"))
      .select(col("grp"), col("n_pos"), col("n_neg"), col("u2"),
        when(col("n_pos") > 0 && col("n_neg") > 0,
          expr("(u2 * 1000000) div (2 * n_pos * n_neg)"))
          .otherwise(lit(null).cast("long")).as("auc_ppm"))
  }

  /** Paired permutation significance test (Fisher 1935; the paired
    * randomization test sacrebleu/mteval run between two MT systems —
    * Koehn 2004 popularized the bootstrap sibling): given per-item
    * scores from systems A and B on the SAME items, is the mean
    * difference real or exchange noise? Under H₀ the per-item deltas are
    * sign-symmetric, so each of `b` replicates flips every delta's sign
    * by an md5-derandomized fair coin and re-sums; the p-value is the
    * add-one-smoothed share of replicates at least as extreme as the
    * observed sum: p = (1 + #{r : |S_r| ≥ |S_obs|})/(b + 1) — the
    * standard conservative estimator, never exactly 0.
    *
    * Everything is exact integers: deltas are integer scores, replicate
    * sums are integer, the extremity comparison is integer, `p_ppm` =
    * (1+extreme)·10⁶ div (b+1). Output is ONE row: `n_items`, `obs_sum`,
    * `b`, `n_extreme`, `p_ppm`.
    *
    * 100 TB shape: the ev8 Poisson-bootstrap plan — a stateless map to
    * deltas, a b-way explode of sign-flipped copies into a b-cell
    * map-side-combined groupBy, then scalar comparisons on b rows.
    * Nothing corpus-sized is exchanged; the coin is a pure function of
    * (replicate, item) so no permutation table exists anywhere. */
  def pairedPermTest(scored: DataFrame, idCol: String,
                     aCol: String, bCol: String,
                     b: Int = 200, seed: String = "perm"): DataFrame = {
    require(b >= 1, s"pairedPermTest needs b >= 1 (got $b)")
    Guards.requireIntegral(scored, aCol, "pairedPermTest")
    Guards.requireIntegral(scored, bCol, "pairedPermTest")
    val deltas = scored.select(col(idCol).as("__id"),
      (col(aCol).cast("long") - col(bCol).cast("long")).as("__d"))
    val obs = deltas.agg(sum(col("__d")).as("obs_sum"),
      count(lit(1)).as("n_items"))
    // pin the flip stream's parallelism (r18, guide §2.5/§8): the b-way
    // explode multiplies rows but not partitions, and AQE sizes the
    // upstream read on PRE-explosion bytes — measured single-task md5
    // streams (e24's pathology). Repartitioning the compact 1× deltas by
    // the deterministic item key costs 1/b-th of the stream it spreads;
    // count from the session's shuffle parallelism, never a constant.
    val flips = deltas
      .repartition(
        deltas.sparkSession.sessionState.conf.numShufflePartitions,
        col("__id"))
      .select(col("__id"), col("__d"),
        explode(sequence(lit(1), lit(b))).as("rep"))
      .withColumn("sd", when(
        text.md5_prefix_long(concat(lit(seed + ":"), col("rep"), lit(":"),
          col("__id")), 1, 6) % 2 === 0,
        col("__d")).otherwise(-col("__d")))
      .groupBy("rep").agg(sum(col("sd")).as("s"))
    flips.crossJoin(broadcast(obs))
      .agg(first(col("n_items")).as("n_items"),
        first(col("obs_sum")).as("obs_sum"),
        count(lit(1)).as("b"),
        sum(when(abs(col("s")) >= abs(col("obs_sum")), 1L).otherwise(0L))
          .as("n_extreme"))
      .select(col("n_items"), col("obs_sum"), col("b"), col("n_extreme"),
        expr("((1 + n_extreme) * 1000000) div (b + 1)").as("p_ppm"))
  }

  /** McNemar's test on paired binary outcomes (McNemar 1947; the
    * Edwards continuity-corrected χ² form) — the system-comparison
    * seat for ACCURACY-style evals that [[pairedPermTest]]'s continuous
    * deltas overserve: two classifiers/scorers judged right/wrong on
    * the SAME items; only the DISCORDANT pairs carry information
    * (items both get right or both get wrong say nothing about which
    * is better), and χ² = (|n10−n01|−1)²/(n10+n01) against the df=1
    * critical value is the standard exact-enough decision at any
    * realistic discordance count.
    *
    * Exactness: outcomes are {0,1} integers (runtime-raised otherwise,
    * the aucReport convention), the statistic is one integer expression
    * in micro units, and zero discordance reads honest NULL with its
    * own verdict (the test is undefined — the systems never disagreed).
    * `verdict` ∈ {a_better, b_better, no_significant_difference,
    * no_discordance} — direction from the discordant majority, claimed
    * only past the critical value. `idCol` is the PAIRING KEY and its
    * uniqueness is asserted loudly: a duplicated item id counts one
    * item's disagreement twice, silently inflating the discordance the
    * whole test rests on (dedupe or aggregate per item upstream).
    *
    * 100 TB shape: ONE map-side-combined aggregate over the pair
    * stream (the distinct-id integrity check rides the same aggregate
    * as a count(distinct) expand); nothing else exists. */
  def mcnemar(outcomes: DataFrame, idCol: String, aCol: String,
              bCol: String): DataFrame = {
    Guards.requireIntegral(outcomes, aCol, "mcnemar")
    Guards.requireIntegral(outcomes, bCol, "mcnemar")
    def bit(c: String): Column =
      when(col(c).cast("long").isin(0L, 1L), col(c).cast("long"))
        .otherwise(raise_error(concat(
          lit(s"mcnemar: $c must be 0/1, got "), col(c).cast("string")))
          .cast("long"))
    val agg = outcomes.agg(
      count(lit(1)).as("__n_rows"),
      countDistinct(col(idCol)).as("__n_ids"),
      // countDistinct ignores NULLs — count them separately so a null
      // pairing key is named as such, not misreported as a duplicate
      sum(when(col(idCol).isNull, 1L).otherwise(0L)).as("__n_null_ids"),
      sum(bit(aCol) * bit(bCol)).as("both_right"),
      sum((lit(1L) - bit(aCol)) * (lit(1L) - bit(bCol))).as("both_wrong"),
      sum(bit(aCol) * (lit(1L) - bit(bCol))).as("a_only"),
      sum((lit(1L) - bit(aCol)) * bit(bCol)).as("b_only"))
      .withColumn("n",
        when(col("__n_null_ids") > 0, raise_error(concat(
          lit(s"mcnemar: NULL '$idCol' pairing key on "),
          col("__n_null_ids").cast("string"),
          lit(" rows - every item needs a non-null id; " +
            "fix the join/extraction upstream"))).cast("long"))
          .when(col("__n_rows") === col("__n_ids"), col("__n_rows"))
          .otherwise(raise_error(concat(
            lit(s"mcnemar: duplicate '$idCol' values ("),
            col("__n_rows").cast("string"), lit(" rows, "),
            col("__n_ids").cast("string"),
            lit(" distinct ids) - each item must be paired exactly " +
              "once; dedupe or aggregate per item upstream")))
            .cast("long")))
    agg.select(col("n"), col("both_right"), col("both_wrong"),
        col("a_only"), col("b_only"),
        when(col("a_only") + col("b_only") > 0, expr(
          "((abs(a_only - b_only) - 1) * (abs(a_only - b_only) - 1)" +
            " * 1000000) div (a_only + b_only)")).as("chi2_micro"),
        lit(3841000L).as("crit_micro"))
      .withColumn("verdict",
        when(col("chi2_micro").isNull, "no_discordance")
          .when(col("chi2_micro") <= lit(3841000L),
            "no_significant_difference")
          .when(col("a_only") > col("b_only"), "a_better")
          .otherwise("b_better"))
  }

  /** Benjamini–Hochberg FDR step-up (Benjamini–Hochberg 1995, JRSS B
    * 57(1) — THE multiple-testing correction for metric batteries: an
    * experiment readout or eval sweep tests dozens of metrics at once,
    * and at α=0.05 a 25-metric battery fires ~1.2 false alarms per run
    * uncorrected; BH controls the expected FALSE-DISCOVERY fraction
    * among the rejections instead of the family-wise never-one-error
    * Bonferroni pays too much power for).
    *
    * Semantics: rank tests by p ascending (tiebreak: test id — a total
    * order), m = battery size; reject every rank ≤ r* where r* is the
    * LARGEST r with p_(r)·m ≤ r·α (the step-up: a rank may be rejected
    * even when its own threshold fails, because a later rank passed).
    * All arithmetic is exact integer ppm — `crit_ppm` = floor(r·α/m) is
    * the displayed per-rank threshold; the decision compares the
    * un-floored products. The p-range guard rides the rank's sort key
    * (the t71 discipline) so column pruning cannot skip it.
    *
    * 100 TB shape: the exchange carries m (test, p) pairs — BATTERY-
    * sized, never corpus-sized (the corpus work lives in producing each
    * p-value upstream, e.g. [[pairedPermTest]] per metric). The step-up
    * scan is the rule-22 spelling: `ok`'s running max over DESCENDING
    * rank — O(1) per row, no self-join, no unbounded-FOLLOWING frame.
    * Both windows are deliberately single-partition: BH is a GLOBAL
    * order statistic over the battery, and m is small by construction. */
  def fdrBh(tests: DataFrame, testCol: String, pCol: String,
            alphaPpm: Long = 50000L): DataFrame = {
    require(alphaPpm >= 1 && alphaPpm <= 1000000,
      s"fdrBh needs alphaPpm in [1, 1e6] (got $alphaPpm)")
    Guards.requireIntegral(tests, pCol, "fdrBh")
    import org.apache.spark.sql.expressions.Window
    val guardedP = when(col(pCol).cast("long").between(0L, 1000000L),
      col(pCol).cast("long")).otherwise(raise_error(concat(
      lit(s"fdrBh: $pCol out of [0, 1e6] ppm: "), col(pCol).cast("string"))))
    val m = tests.agg(count(lit(1)).as("m"))
    val ranked = tests
      .select(col(testCol), guardedP.as("p_ppm"))
      .withColumn("rank", row_number().over(
        Window.orderBy(col("p_ppm"), col(testCol))))
      .crossJoin(broadcast(m))
    ranked
      .withColumn("__ok",
        when(col("p_ppm") * col("m") <= col("rank") * lit(alphaPpm), 1L)
          .otherwise(0L))
      .withColumn("rejected",
        max(col("__ok")).over(Window.orderBy(col("rank").desc)
          .rowsBetween(Window.unboundedPreceding, Window.currentRow)) === 1L)
      .select(col(testCol), col("p_ppm"), col("rank"), col("m"),
        expr(s"(rank * ${alphaPpm}L) div m").as("crit_ppm"), col("rejected"))
  }

  /** Distinct-n generation-diversity report (Li et al. 2016, "A
    * Diversity-Promoting Objective Function for Neural Conversation
    * Models" §5 — distinct-1/distinct-2, THE standard mode-collapse
    * readout for generated/synthetic corpora; every synthetic-data
    * pipeline gates on it before the data is allowed near a trainer):
    * per group (model, source, prompt bucket …) and per n-gram order,
    *  - `total_grams` / `distinct_grams` — raw volumes;
    *  - `distinct_ppm` = distinct·10⁶ div total (the distinct-n metric,
    *    exact integer);
    *  - `top_share_ppm` = (most frequent gram's count)·10⁶ div total —
    *    the single-mode concentration a ratio of distincts can hide (a
    *    corpus can have many distinct grams AND emit one of them half
    *    the time).
    * Groups with no order-n grams (every doc shorter than n) report
    * honest zeros, never drop (t38's convention). All metrics are exact
    * integer ppm — no float anywhere.
    *
    * 100 TB shape: the only corpus-sized exchange is the (group, n, gram)
    * count groupBy — map-side combined, gram-keyed, the t16 class; the
    * second aggregation reduces the gram-type table (vocabulary-bounded)
    * into |groups|·|ns| rows. The gram stream is built by the multi-rung
    * kernel: ONE tokenize per doc for the whole order ladder, per-row
    * dedup skipped (counts are the statistic — dedup would change them). */
  def genDiversity(df: DataFrame, groupCol: String, textCol: String,
                   ns: Seq[Int] = Seq(1, 2, 3)): DataFrame = {
    require(ns.nonEmpty && ns.forall(_ >= 1) && ns.distinct.length == ns.length,
      s"genDiversity needs distinct n-gram orders >= 1 (got $ns)")
    val grams = graft.Tables.scaled(
        df.select(col(groupCol).as("grp"),
          explode(graft.functions.text.word_shingles_multi(
            col(textCol), ns, distinct = false)).as("rg")))
      .select(col("grp"), col("rg.rung").as("n"), explode(col("rg.gs")).as("g"))
    val perGram = grams.groupBy("grp", "n", "g").agg(count(lit(1)).as("c"))
    val perOrder = perGram.groupBy("grp", "n").agg(
      sum(col("c")).as("total_grams"),
      count(lit(1)).as("distinct_grams"),
      max(col("c")).as("top_count"))
    val spark = df.sparkSession
    import spark.implicits._
    val grid = df.select(col(groupCol).as("grp")).distinct()
      .crossJoin(broadcast(ns.map(_.toLong).toDF("n")))
    grid.join(perOrder, Seq("grp", "n"), "left")
      .select(col("grp"), col("n"),
        coalesce(col("total_grams"), lit(0L)).as("total_grams"),
        coalesce(col("distinct_grams"), lit(0L)).as("distinct_grams"),
        when(coalesce(col("total_grams"), lit(0L)) > 0,
          expr("(distinct_grams * 1000000) div total_grams"))
          .otherwise(0L).as("distinct_ppm"),
        when(coalesce(col("total_grams"), lit(0L)) > 0,
          expr("(top_count * 1000000) div total_grams"))
          .otherwise(0L).as("top_share_ppm"))
  }

  /** Mann–Whitney U rank-sum test (Mann & Whitney 1947; Wilcoxon 1945)
    * with midrank ties and the tie-corrected normal approximation — the
    * ORDINAL drift/uplift seat between [[graft.operators.Features.ksReport]]
    * (any-shape difference on a continuous score) and
    * [[graft.operators.Features.chi2Report]] (categorical): "does sample
    * A stochastically dominate sample B?", the robust location readout
    * for skewed metrics (latencies, token counts, quality scores) where
    * a mean-based test is hostage to the tail.
    *
    * Exactness by doubling (the ev12 aucReport identity): 2U_A =
    * Σ_v n_A(v)·(2·N_B(<v) + n_B(v)) — every won pair contributes 2,
    * every tied pair 1, so `u2` is an exact integer and E[2U] = n_A·n_B
    * exactly. The tie-corrected variance Var(U) =
    * n_A·n_B·(n³−n−T) / (12·n·(n−1)) with T = Σ_ties (t³−t) keeps its
    * numerator in decimal(38,0) INTERNALLY (int128-class, never emitted
    * — the r14 canonicalization wall); the stated float line is
    * z = ((u2−mu2)/2) / sqrt(var_num/var_den) — two exact-int→double
    * casts, one divide, one correctly-rounded sqrt, one divide,
    * ⌊z·10³⌋ — identical IEEE ops in a stated order, the t68 OLS
    * discipline. A window with every value tied (variance 0) reads
    * honest NULL z and verdict 'degenerate'; direction is claimed only
    * past |z| ≥ 1.96 (α = 0.05 two-sided). Window totals past 3·10⁹
    * raise loudly — the bound under which 2U and E[2U] = n_A·n_B stay
    * exact longs (n_A·n_B ≤ 2.25·10¹⁸); the tie-cube sum has no such
    * bound (a fully-tied window cubes n), so it accumulates in
    * decimal(38,0) and emits through [[Guards.loudInt64]] — in the
    * pathological near-fully-tied case the emit raises instead of
    * wrapping (the ev15 window discipline, split per term).
    *
    * Beside the verdict rides Cliff's δ (Cliff 1993, exact integer ppm
    * from the same 2U/mu2 integers): at production sample sizes nearly
    * everything is "significant" — δ = P(A>B) − P(A<B) says whether the
    * shift is big enough for anyone to care.
    *
    * 100 TB shape: ONE map-side-combined groupBy on (group, value) —
    * bounded by |groups|·|distinct values|, never row count — then the
    * ev12 per-group cumulative window over each group's distinct-value
    * axis and one per-group reduce. No per-row ranking of the corpus. */
  def mannWhitney(scored: DataFrame, groupCol: String, sampleCol: String,
                  valueCol: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    Guards.requireIntegral(scored, sampleCol, "mannWhitney",
      acceptBoolean = true)
    Guards.requireIntegral(scored, valueCol, "mannWhitney")
    val g = scored.select(col(groupCol).as("grp"),
        when(col(sampleCol).cast("long").isin(0L, 1L),
          col(sampleCol).cast("long"))
          .otherwise(expr(
            "raise_error('mannWhitney: sample marker must be 0/1 (1 = A)')")
            .cast("long")).as("__a"),
        col(valueCol).cast("long").as("__v"))
      .groupBy("grp", "__v")
      .agg(sum(col("__a")).as("na"), sum(lit(1L) - col("__a")).as("nb"))
    val w = Window.partitionBy("grp").orderBy(col("__v").asc)
      .rowsBetween(Window.unboundedPreceding, -1)
    g.withColumn("cumnb", coalesce(sum(col("nb")).over(w), lit(0L)))
      .groupBy("grp").agg(
        sum(col("na")).as("n_a"),
        sum(col("nb")).as("n_b"),
        sum(col("na") * (lit(2L) * col("cumnb") + col("nb"))).as("u2"),
        sum((col("na") + col("nb")).cast("decimal(38,0)")
          * (col("na") + col("nb")) * (col("na") + col("nb"))
          - (col("na") + col("nb"))).as("__tie_cubes"))
      .withColumn("n",
        when((col("n_a") + col("n_b")).between(2L, 3000000000L),
          col("n_a") + col("n_b"))
          .otherwise(expr("raise_error(concat('mannWhitney: window total ',"
            + "cast(n_a + n_b as string), ' outside [2, 3e9] - empty/"
            + "degenerate windows have no test and larger ones push 2U "
            + "past an exact long; time-slice the window'))")
            .cast("long")))
      .withColumn("mu2", col("n_a") * col("n_b"))
      .withColumn("tie_cubes",
        Guards.loudInt64(col("__tie_cubes"), "mannWhitney", "tie_cubes"))
      // var_num is int128-class: build it in decimal, use it in the float
      // line, NEVER emit it (the r14 wall)
      .withColumn("__var_num",
        (col("n_a") * col("n_b")).cast("decimal(38,0)") *
          (col("n").cast("decimal(38,0)") * col("n") * col("n")
            - col("n") - col("__tie_cubes")))
      .withColumn("__var_den",
        lit(12L) * col("n") * (col("n") - lit(1L)))
      .withColumn("z_milli",
        when(col("__var_num") > 0, floor(
          ((col("u2") - col("mu2")).cast("double") / lit(2.0)) /
            sqrt(col("__var_num").cast("double") /
              col("__var_den").cast("double")) * lit(1000.0)).cast("long")))
      // Cliff's delta (Cliff 1993) rides the same integers for free:
      // δ = (#(a>b) − #(a<b))/(n_A·n_B) = (2U − n_A·n_B)/(n_A·n_B) —
      // the EFFECT SIZE beside the z verdict (at 10⁶ samples a 0.01-δ
      // shift is "significant"; δ says whether anyone should care).
      // Exact integer ppm, truncation toward zero engine-agreed; NULL
      // for single-class groups (no pairs to compare).
      .withColumn("cliffs_delta_ppm",
        when(col("mu2") > 0,
          // (u2−mu2)·10⁶ reaches ~2.25·10²⁴ at the 3·10⁹ window bound —
          // the multiply rides decimal, the bounded quotient is a long
          expr("((cast(u2 as decimal(38,0)) - mu2) * 1000000) div mu2")))
      .withColumn("verdict",
        when(col("z_milli").isNull, "degenerate")
          .when(abs(col("z_milli")) < 1960L, "no_significant_shift")
          .when(col("z_milli") >= 1960L, "a_high")
          .otherwise("b_high"))
      .select(col("grp").as(groupCol), col("n_a"), col("n_b"), col("u2"),
        col("mu2"), col("tie_cubes"), col("cliffs_delta_ppm"),
        col("z_milli"), col("verdict"))
  }
}
