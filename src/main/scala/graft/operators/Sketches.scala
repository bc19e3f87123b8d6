package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.functions.text

/** Mergeable cardinality sketches — the distinct-count side of the sketch
  * toolbox beside the count-min family (`SketchExpressions`, t22): at
  * 100 TB "how many distinct URLs / users / n-grams" is a planning input
  * (salt factors, dictionary sizing, dedup budgets) that an exact
  * countDistinct answers only by shuffling the full key universe.
  */
object Sketches {

  /** HyperLogLog cardinality report (Flajolet et al. 2007) with the
    * linear-counting small-range correction (§4; Whang et al. 1990),
    * m = 256 registers — relative error ≈ 1.04/√m ≈ 6.5%. Every step is
    * replayable integer/string arithmetic:
    *  - hash = md5("hll:" ‖ name ‖ ":" ‖ key): register = first 2 hex
    *    digits (8 bits), w = next 13 hex digits (52 bits);
    *  - ρ = 53 − bitlength(w) (w = 0 → 53): leading-zero rank via the
    *    `bin` string — no float log anywhere;
    *  - register state Mⱼ = max ρ — ONE map-side-combined groupBy over
    *    (name, register): ≤ 256 cells per tracked column, the mergeable
    *    sketch property (partition maxes combine losslessly);
    *  - raw estimate αₘ·m²/Σ2^(−Mⱼ) computed EXACTLY: T = Σ2^(53−Mⱼ)
    *    (≤ 2^61, a long), α as the exact rational 0.7213·m/(m + 1.079) =
    *    1846528/2570790 for m = 256, so raw_est = ⌊(1846528·m²·2^53) div
    *    (2570790·T)⌋ in decimal(38,0) — bit-exact in any engine;
    *  - linear counting when raw_est ≤ 5m/2 and empty registers exist:
    *    ⌊m·ln(m/V)⌋ — ln of a ratio of exact integers, the t30 float
    *    primitive.
    * Output per tracked column: `v_zero`, `t_sum`, `raw_est`, `est`,
    * `exact`, `err_ppm` — the exact arm doubles as the rule-21 twin (its
    * shuffle carries the distinct key universe; the sketch arm ships 256
    * longs per column regardless of corpus size). Spark's native
    * `approx_count_distinct` (HLL++) is the production shortcut; this
    * operator pins the ALGORITHM so the oracle can replay every register.
    *
    * Input: (`nameCol`, `keyCol` string) — stack the tracked columns.
    * Empty name groups read est = exact = 0, err 0. */
  def hllCardinality(keyed: DataFrame, nameCol: String,
                     keyCol: String): DataFrame = {
    // the key is md5'd through string concat: implicit number->string
    // formatting (1 vs 1.0) is engine-specific, so the cast must be the
    // caller's explicit, stated choice
    Guards.requireString(keyed, keyCol, "hllCardinality")
    val m = 256
    val alphaNum = 1846528L // 0.7213 * m * 10^4... exact: 7213 * m
    val alphaDen = 2570790L // 10^4 * m + 10790
    // numerator constant alphaNum * m^2 * 2^53 (exact BigInt, < 10^28)
    val bigNum = BigInt(alphaNum) * m * m * (BigInt(1) << 53)
    val h = concat(lit("hll:"), col(nameCol), lit(":"), col(keyCol))
    val hashed = keyed.select(col(nameCol).as("col_name"),
        text.md5_prefix_long(h, 1, 2).as("reg"),
        text.md5_prefix_long(h, 3, 13).as("w"))
      .withColumn("rho",
        when(col("w") === 0, 53L).otherwise(lit(53L) - length(bin(col("w")))))
    // Stage cut (rule 14, r17 optimization round): registers are
    // m·|names|-bounded — THE sketch law — and feed both the register grid
    // and the estimate fold. The name list derives from the registers, not
    // from a third full scan of `keyed` (every name with >= 1 input row
    // owns >= 1 register, so the sets are identical): the input stream is
    // now scanned exactly twice — once hashed into registers, once for the
    // exact twin — instead of three times.
    val regMax = graft.StageCut(hashed.groupBy("col_name", "reg")
      .agg(max(col("rho")).as("mj")), "hllCardinality.regMax")
    val spark = keyed.sparkSession
    import spark.implicits._
    val grid = regMax.select("col_name").distinct()
      .crossJoin(broadcast((0 until m).map(_.toLong).toDF("reg")))
    val agg = grid.join(regMax, Seq("col_name", "reg"), "left")
      .withColumn("mj", coalesce(col("mj"), lit(0L)))
      .groupBy("col_name").agg(
        sum(expr("shiftleft(1L, cast(53 - mj as int))")).as("t_sum"),
        sum(when(col("mj") === 0, 1L).otherwise(0L)).as("v_zero"))
    val est = agg
      .withColumn("raw_est", expr(
        s"CAST('$bigNum' AS DECIMAL(38,0)) div " +
          s"(CAST($alphaDen AS DECIMAL(38,0)) * t_sum)").cast("long"))
      .withColumn("est",
        when(col("raw_est") <= lit(5L * m / 2) && col("v_zero") > 0,
          floor(lit(m.toDouble) *
            log(lit(m.toDouble) / col("v_zero").cast("double")))
            .cast("long"))
          .otherwise(col("raw_est")))
    val exact = keyed.groupBy(col(nameCol).as("col_name"))
      .agg(countDistinct(col(keyCol)).as("exact"))
    est.join(exact, Seq("col_name"))
      .select(col("col_name"), col("v_zero"), col("t_sum"),
        col("raw_est"), col("est"), col("exact"),
        when(col("exact") > 0,
          // decimal(38,0) like raw_est: a long multiply wraps silently
          // once |est - exact| exceeds ~9.2e12 (reachable at the stated
          // 100 TB distinct-n-gram scale, and by raw_est on near-full
          // registers) — an exact-arithmetic contract cannot overflow
          expr("(cast(abs(est - exact) as decimal(38,0)) * 1000000) " +
            "div exact").cast("long"))
          .otherwise(0L).as("err_ppm"))
  }

  /** KMV (k-minimum-values / bottom-k) distinct sketch with cross-corpus
    * OVERLAP estimation (Bar-Yossef et al. 2002; Beyer et al. 2007's
    * unbiased (k−1)·M/h₍ₖ₎ estimator) — the "compare two crawls without
    * joining them" primitive: at 100 TB, |A ∩ B| between two corpus
    * snapshots (yesterday's crawl vs today's, source X vs source Y)
    * costs an exact engine a join of two full key universes; the KMV
    * answer ships k longs per corpus and merges sketch-side.
    *
    * Every step is replayable integer arithmetic:
    *  - h = first 15 hex digits of md5("kmv:" ‖ key) — a 60-bit integer
    *    in M = 2^60; the salt must NOT vary by corpus (the same key has
    *    to collide across corpora for intersection to exist);
    *  - per-corpus sketch = the k smallest DISTINCT h. Computed in two
    *    rank levels so no window partition is corpus-sized: rank ≤ k
    *    within (corpus, h mod 64) — 64 bounded partitions — then rank
    *    ≤ k within corpus over the ≤ 64·k survivors. Identical to the
    *    single-level bottom-k (every global top-k element survives its
    *    salt bucket's cut; spec-gated);
    *  - distinct estimate: sketch exhaustive (|S| < k) → |S| exactly;
    *    else ⌊(k−1)·2^60 / h₍ₖ₎⌋ — the numerator exceeds int64 at
    *    k = 256, so the division runs in decimal(38,0) (the q6 idiom);
    *  - per corpus pair (a < b): merged sketch = k smallest of
    *    S_a ∪ S_b (the mergeable property — a union's KMV is the
    *    bottom-k of the sketch union, no data revisit), K = |merged|,
    *    ρ = |{v ∈ merged : v ∈ S_a ∧ v ∈ S_b}|; union_est from K/h₍ₖ₎
    *    as above, inter_est = ⌊ρ·union_est / K⌋, Jaccard ≈ ρ/K as
    *    exact ppm. Relative error ~1/√k ≈ 6% at k = 256;
    *  - exact twins ride beside every estimate (`n_*_exact`,
    *    `union_exact`, `inter_exact`, `jaccard_exact_ppm`,
    *    `err_union_ppm`): the exact arm is the rule-21 twin whose
    *    inter-corpus key join is precisely the 100 TB cost the sketch
    *    exists to avoid.
    *
    * 100 TB shape: one map-side-combined distinct over (corpus, h);
    * bottom-k windows over salt-bounded partitions (output ≤ 64·k rows
    * per corpus); everything downstream of the sketch is O(pairs · k).
    * The streaming arm ([[graft.streaming.StreamingKmv]]) carries the
    * SAME bottom-k set as keyed state — bounded by k, rebuild-equivalent.
    *
    * Input: (`corpusCol`, `keyCol` string) stacked rows, duplicates fine.
    * Output: one row per corpus pair (a < b, lexicographic). */
  def kmvOverlap(keyed: DataFrame, corpusCol: String, keyCol: String,
                 k: Int = 256): DataFrame = {
    require(k >= 16 && k <= 4096, s"kmvOverlap needs k in [16, 4096] (got $k)")
    Guards.requireString(keyed, keyCol, "kmvOverlap")
    val spark = keyed.sparkSession
    // (k-1) * 2^60 — exceeds int64 for k > 8, so decimal(38,0) div
    val bigNum = BigInt(k - 1) * (BigInt(1) << 60)
    // `div` (floor division), NOT divide+cast (which ROUNDS half-up)
    val estOf = (cntName: String, kthName: String) =>
      when(col(cntName) < k, col(cntName)).otherwise(
        expr(s"CAST('$bigNum' AS DECIMAL(38,0)) div $kthName").cast("long"))
    import org.apache.spark.sql.expressions.Window
    val src = keyed.select(col(corpusCol).as("corpus"), col(keyCol).as("key"))
    val dh = src
      .select(col("corpus"),
        text.md5_prefix_long(concat(lit("kmv:"), col("key")), 1, 15).as("h"))
      .groupBy("corpus", "h").agg(count(lit(1)).as("__c")).drop("__c")
    val lvl1 = Window.partitionBy(col("corpus"), pmod(col("h"), lit(64L)))
      .orderBy("h")
    val lvl2 = Window.partitionBy("corpus").orderBy("h")
    // Stage cut (rule 14, r17 optimization round): the sketch feeds THREE
    // consumers (per-corpus stats, the corpora list, the pair-merge), each
    // of which would otherwise re-run the full key scan + md5 + distinct +
    // two bottom-k windows (measured: 22 parquet scans / 78 Exchanges in
    // the r17 `before` plan). The sketch is ≤ k rows per corpus — exactly
    // the bounded state the KMV law exists to give you, so materializing
    // it is free at any corpus size.
    val sk = graft.StageCut(dh
      .withColumn("r1", row_number().over(lvl1)).filter(col("r1") <= k)
      .withColumn("rk", row_number().over(lvl2)).filter(col("rk") <= k)
      .select("corpus", "h"), "kmvOverlap.sk")
    val per = sk.groupBy("corpus")
      .agg(count(lit(1)).as("sk_n"), max("h").as("kth"))
      .withColumn("est", estOf("sk_n", "kth"))
    val corpora = sk.select("corpus").distinct()
    val pairs = corpora.select(col("corpus").as("ca"))
      .join(broadcast(corpora.select(col("corpus").as("cb"))),
        col("ca") < col("cb"))
    // merged union sketch per pair: membership flags survive the re-rank
    val uv = pairs.join(sk, sk("corpus") === col("ca") || sk("corpus") === col("cb"))
      .groupBy("ca", "cb", "h")
      .agg(max(when(col("corpus") === col("ca"), 1L).otherwise(0L)).as("in_a"),
        max(when(col("corpus") === col("cb"), 1L).otherwise(0L)).as("in_b"))
    val mu = uv
      .withColumn("rk",
        row_number().over(Window.partitionBy("ca", "cb").orderBy("h")))
      .filter(col("rk") <= k)
    val uagg = mu.groupBy("ca", "cb")
      .agg(count(lit(1)).as("kk"), max("h").as("kth_u"),
        sum(when(col("in_a") === 1 && col("in_b") === 1, 1L).otherwise(0L))
          .as("rho"))
      .withColumn("union_est", estOf("kk", "kth_u"))
    // exact twins: the inter-corpus distinct-key join the sketch avoids.
    // Stage cut: `dk` feeds the per-corpus exact counts AND both sides of
    // the intersection self-join — three evaluations of the distinct
    // rollup without it. Distinct (corpus, key) is the survivor-sized
    // output a real run materializes before a self-join anyway.
    val dk = graft.StageCut(src.groupBy("corpus", "key").agg(count(lit(1)).as("__c"))
      .drop("__c"), "kmvOverlap.dk")
    val exact = dk.groupBy("corpus").agg(count(lit(1)).as("n_exact"))
    val exInter = pairs
      .join(dk.select(col("corpus").as("__ca"), col("key")),
        col("__ca") === col("ca"))
      .join(dk.select(col("corpus").as("__cb"), col("key")),
        Seq("key"))
      .filter(col("__cb") === col("cb"))
      .groupBy("ca", "cb").agg(count(lit(1)).as("inter_exact"))
    uagg
      .join(per.select(col("corpus").as("ca"), col("est").as("n_a_est")), Seq("ca"))
      .join(per.select(col("corpus").as("cb"), col("est").as("n_b_est")), Seq("cb"))
      .join(exact.select(col("corpus").as("ca"), col("n_exact").as("n_a_exact")), Seq("ca"))
      .join(exact.select(col("corpus").as("cb"), col("n_exact").as("n_b_exact")), Seq("cb"))
      .join(exInter, Seq("ca", "cb"), "left")
      .withColumn("inter_exact", coalesce(col("inter_exact"), lit(0L)))
      .withColumn("union_exact",
        col("n_a_exact") + col("n_b_exact") - col("inter_exact"))
      .select(col("ca").as("corpus_a"), col("cb").as("corpus_b"),
        lit(k.toLong).as("k"),
        col("n_a_est"), col("n_a_exact"), col("n_b_est"), col("n_b_exact"),
        col("union_est"), col("union_exact"),
        // rho·union_est can pass int64 at extreme estimates — exact
        // decimal like every other wide product in this file
        expr("(cast(rho as decimal(38,0)) * union_est) div kk").cast("long")
          .as("inter_est"),
        col("inter_exact"),
        expr("(rho * 1000000) div kk").as("jaccard_est_ppm"),
        expr("(cast(inter_exact as decimal(38,0)) * 1000000) " +
          "div (n_a_exact + n_b_exact - inter_exact)").cast("long")
          .as("jaccard_exact_ppm"),
        expr("(cast(abs(union_est - union_exact) as decimal(38,0)) * 1000000) " +
          "div union_exact").cast("long").as("err_union_ppm"))
  }

  /** MERGEABLE quantile sketch — HDR-histogram bucketing (Tene,
    * HdrHistogram; the log-linear bucket family t-digest/DDSketch also
    * belong to, chosen here because its buckets are pure INTEGER BIT
    * ARITHMETIC and therefore replayable in any engine): the 100 TB
    * percentile path beside t20's exact nearest-rank percentiles, whose
    * shuffle carries the full value universe. At scale "p99 latency per
    * service" is a sketch job: per-partition bucket counts merge by
    * addition (the mergeable property — same law as HLL register maxes),
    * and the only corpus-sized exchange is a map-side-combined
    * (key, bucket) count rollup bounded by the bucket universe, never by
    * the data.
    *
    * Bucketing, exactly: for v ≥ 0 and precision p (`precisionBits`),
    * e = max(0, bitlen(v) − p) with bitlen via the `bin` string (the
    * q6 spelling — no float log near a boundary), m = v >> e. Values
    * below 2^p are EXACT (e = 0); above, m holds the top p bits of v —
    * bucket width 2^e, relative error < 2^(1−p) (p = 7 → < 1.6%).
    * Bucket order (e asc, m asc) IS value order: within e, m ascends;
    * across e, ranges are disjoint and ascending (max lo at e is
    * (2^p−1)·2^e < 2^(p+e) = min lo at e+1).
    *
    * Quantile read-out: nearest-rank r = ⌈q·n/100⌉ as the exact integer
    * (q·n + 99) div 100; the answer bucket is the first (in value
    * order) with cumulative ≥ r — selected relationally as
    * cum ≥ r ∧ cum − c < r, no rank window. Emitted estimate is the
    * bucket's LOWER BOUND m·2^e (a guaranteed ≤-the-true-value floor)
    * with `max_err` = 2^e − 1 riding beside it — the honest-bound
    * convention. Negative values raise loudly (HDR buckets are for
    * magnitudes; shift the domain upstream).
    *
    * 100 TB shape: one map-side-combined (key, e, m) count groupBy; the
    * per-key bucket table is bounded by (64−p)·2^(p−1)+2^p cells
    * (~3.8k at p = 7), so the cumulative window and the quantile
    * selection run on sketch-sized rows. The streaming arm
    * ([[graft.streaming.StreamingHdrQuantiles]]) carries the SAME
    * bucket map as keyed state — bounded, rebuild-equivalent. */
  def hdrQuantiles(df: DataFrame, keyCol: String, valueCol: String,
                   precisionBits: Int = 7,
                   quantilesPct: Seq[Int] = Seq(50, 90, 99)): DataFrame = {
    require(precisionBits >= 2 && precisionBits <= 20,
      s"hdrQuantiles needs precisionBits in [2, 20] (got $precisionBits)")
    require(quantilesPct.nonEmpty &&
      quantilesPct.forall(q => q >= 1 && q <= 100),
      s"hdrQuantiles needs quantiles in [1, 100] (got $quantilesPct)")
    Guards.requireIntegral(df, valueCol, "hdrQuantiles")
    val spark = df.sparkSession
    import spark.implicits._
    val qdf = quantilesPct.map(_.toLong).toDF("q_pct")
    val p = precisionBits
    val checked = when(col(valueCol).cast("long") < 0, raise_error(concat(
        lit(s"hdrQuantiles: negative $valueCol "),
        col(valueCol).cast("string"),
        lit(" - HDR buckets cover magnitudes; shift the domain upstream")))
        .cast("long"))
      .otherwise(col(valueCol).cast("long"))
    val c = df.select(col(keyCol).as("__k"), checked.as("v"))
      .withColumn("e",
        greatest(lit(0L), length(bin(col("v"))).cast("long") - p))
      .withColumn("m", expr("shiftright(v, cast(e as int))"))
      .groupBy("__k", "e", "m").agg(count(lit(1)).as("c"))
    val wAll = org.apache.spark.sql.expressions.Window.partitionBy("__k")
    val wCum = org.apache.spark.sql.expressions.Window.partitionBy("__k")
      .orderBy("e", "m")
      .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding,
        org.apache.spark.sql.expressions.Window.currentRow)
    c.withColumn("n", sum(col("c")).over(wAll))
      .withColumn("cum", sum(col("c")).over(wCum))
      .crossJoin(broadcast(qdf))
      .withColumn("r", expr("(q_pct * n + 99) div 100"))
      .filter(col("cum") >= col("r") && col("cum") - col("c") < col("r"))
      .select(col("__k").as(keyCol), col("q_pct"), col("n"),
        expr("shiftleft(m, cast(e as int))").as("est"),
        expr("shiftleft(1L, cast(e as int)) - 1").as("max_err"))
  }
}
