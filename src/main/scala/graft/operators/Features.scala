package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import graft.functions.text

/** Numeric feature hygiene for training pipelines — the winsorize/clip
  * pass that tames heavy-tailed metrics (prices, durations, counts) before
  * they become model features: per-group percentile fences and the clip
  * transform, with outlier tallies for the audit trail.
  *
  * Twin-arm design (the t12/t19 and t16/t22 pattern):
  * - [[winsorizeStats]] EXACT arm: `percentile` is a holistic aggregate —
  *   it buffers each group's values, so it is for BOUNDED groups (a
  *   metrics table, a per-type summary — fine at any corpus size when
  *   group cardinality times values-per-group fits a task). This is the
  *   arm the DuckDB oracle replays (same rank-interpolation definition:
  *   both engines interpolate at rank (n−1)·p).
  * - [[winsorizeStatsApprox]] SCALE arm: `approx_percentile` (Greenwald-
  *   Khanna sketch, bounded state per group) — same output shape, mergeable
  *   partial state, the arm a 100 TB fact table uses. FeatureSpec pins the
  *   two arms within the sketch's accuracy bound so swapping them is a
  *   measured trade, not a leap.
  *
  * The counting pass re-broadcasts the |groups|-row fence table and counts
  * out-of-fence values in one map-side-combined aggregation — two scans
  * total, both stated.
  */
object Features {

  private def statsOf(df: DataFrame, groupCol: String, valueCol: String,
                      pLo: Double, pHi: Double, fence: (Column, Double) => Column): DataFrame =
    df.groupBy(col(groupCol))
      .agg(fence(col(valueCol), pLo).as("p_lo"), fence(col(valueCol), pHi).as("p_hi"))

  /** Exact per-group fences + clip tallies: `groupCol`, `p_lo`, `p_hi`,
    * `n_below`, `n_above`, `n_total`. */
  def winsorizeStats(df: DataFrame, groupCol: String, valueCol: String,
                     pLo: Double = 0.01, pHi: Double = 0.99): DataFrame = {
    require(pLo >= 0 && pHi <= 1 && pLo < pHi, s"need 0<=pLo<pHi<=1 (got $pLo, $pHi)")
    val fences = statsOf(df, groupCol, valueCol, pLo, pHi,
      (c, p) => call_function("percentile", c, lit(p)))
    counts(df, fences, groupCol, valueCol)
  }

  /** Sketch-based fences, same shape — the unbounded-group arm.
    * `accuracy` is approx_percentile's inverse-error knob. */
  def winsorizeStatsApprox(df: DataFrame, groupCol: String, valueCol: String,
                           pLo: Double = 0.01, pHi: Double = 0.99,
                           accuracy: Int = 10000): DataFrame = {
    require(pLo >= 0 && pHi <= 1 && pLo < pHi, s"need 0<=pLo<pHi<=1 (got $pLo, $pHi)")
    val fences = statsOf(df, groupCol, valueCol, pLo, pHi,
      (c, p) => approx_percentile(c, lit(p), lit(accuracy)))
    counts(df, fences, groupCol, valueCol)
  }

  private def counts(df: DataFrame, fences: DataFrame, groupCol: String,
                     valueCol: String): DataFrame =
    df.join(broadcast(fences), Seq(groupCol))
      .groupBy(col(groupCol))
      .agg(first(col("p_lo")).as("p_lo"), first(col("p_hi")).as("p_hi"),
        sum(when(col(valueCol) < col("p_lo"), 1L).otherwise(0L)).as("n_below"),
        sum(when(col(valueCol) > col("p_hi"), 1L).otherwise(0L)).as("n_above"),
        count(lit(1)).as("n_total"))

  /** Point-in-time user-history features — the leak-free window discipline
    * behind training-set feature generation: every feature at event e is
    * computed over STRICTLY PRIOR events of the same key (frames end at
    * `1 PRECEDING`), so a model trained on these rows never peeks at the
    * label row's own outcome — the classic label-leakage bug this operator
    * exists to make structurally impossible. Total order (ts, id) makes
    * same-timestamp rows deterministic.
    *
    * Adds: `n_prior` (events before this one), `us_since_prev` (µs gap to
    * the previous event, null for the first — an honest gap, not 0),
    * `prev_mean3` (mean value of the up-to-3 prior events, null when no
    * history). One window shuffle on the key; frames are ROWS-bounded so
    * state per row is O(1). */
  def historyFeatures(df: DataFrame, keyCol: String, tsCol: String,
                      idCol: String, valueCol: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val order = Window.partitionBy(col(keyCol))
      .orderBy(unix_micros(col(tsCol)).asc, col(idCol).asc)
    val prior = order.rowsBetween(Window.unboundedPreceding, -1)
    val last3 = order.rowsBetween(-3, -1)
    df.withColumn("n_prior", count(lit(1)).over(prior))
      .withColumn("us_since_prev",
        unix_micros(col(tsCol)) - lag(unix_micros(col(tsCol)), 1).over(order))
      .withColumn("prev_mean3", avg(col(valueCol)).over(last3))
  }

  /** Per-key fixed-point EWMA — the sequential-fold feature (smoothed
    * baseline / drift signal) that is NOT window-expressible: s_t depends
    * on every prior value, so it runs as an ordered fold per key. Two
    * deliberate choices:
    * - FIXED-POINT: values scale to integers (×`scale`), the update is
    *   s ← (num·s) div den + (den−num)·x div den — exact integer
    *   arithmetic, so the fold replays bit-for-bit in any engine (the
    *   [[graft.operators.LinkGraph]] reproducibility rule; a double EWMA
    *   drifts with summation associativity).
    * - FOLD SHAPE: events collect per key into a (ts, id)-sorted array and
    *   fold via the `aggregate` HOF. The per-key history must fit a task
    *   (same bounded-group contract as the exact [[winsorizeStats]] arm);
    *   the unbounded-stream form is the Structured Streaming state-machine
    *   pattern ([[graft.streaming.StreamingFunnel]]'s shape), carrying s
    *   as one long of keyed state.
    * Output per key: `n`, `ewma_fp` (scaled integer), with α = 1 −
    * num/den (num=7, den=8 ⇒ α=1/8), seeded at the first value. */
  def ewmaFixedPoint(df: DataFrame, keyCol: String, tsCol: String,
                     idCol: String, valueCol: String,
                     scale: Long = 1000000L, num: Long = 7L,
                     den: Long = 8L): DataFrame = {
    require(den >= 1 && num >= 0 && num < den,
      s"ewma needs 0<=num<den (got $num/$den)")
    require(scale >= 1, s"ewma needs scale>=1 (got $scale)")
    val xs = df.groupBy(col(keyCol))
      .agg(sort_array(collect_list(struct(
        unix_micros(col(tsCol)).as("us"), col(idCol).as("id"),
        // floor, not cast: DuckDB's double→BIGINT cast ROUNDS where
        // Spark's truncates — floor is the one op both agree on
        floor(col(valueCol) * scale).cast("long").as("x")))).as("evs"))
    xs.select(col(keyCol), size(col("evs")).cast("long").as("n"),
      aggregate(
        expr("slice(evs, 2, size(evs) - 1)"),
        element_at(col("evs"), 1).getField("x"),
        (acc, e) => org.apache.spark.sql.graftbridge.ColumnBridge.column(
          org.apache.spark.sql.catalyst.expressions.IntegralDivide(
            org.apache.spark.sql.graftbridge.ColumnBridge.expression(
              lit(num) * acc),
            org.apache.spark.sql.graftbridge.ColumnBridge.expression(lit(den))))
          + org.apache.spark.sql.graftbridge.ColumnBridge.column(
            org.apache.spark.sql.catalyst.expressions.IntegralDivide(
              org.apache.spark.sql.graftbridge.ColumnBridge.expression(
                lit(den - num) * e.getField("x")),
              org.apache.spark.sql.graftbridge.ColumnBridge.expression(lit(den)))))
        .as("ewma_fp"))
  }

  /** The clip transform itself: adds `<valueCol>_w` clamped into the
    * group's fences (values in per-group map-only once fences broadcast). */
  def winsorize(df: DataFrame, groupCol: String, valueCol: String,
                pLo: Double = 0.01, pHi: Double = 0.99): DataFrame = {
    val fences = statsOf(df, groupCol, valueCol, pLo, pHi,
      (c, p) => call_function("percentile", c, lit(p)))
    df.join(broadcast(fences), Seq(groupCol))
      .withColumn(s"${valueCol}_w",
        least(greatest(col(valueCol), col("p_lo")), col("p_hi")))
      .drop("p_lo", "p_hi")
  }

  /** Rolling z-score ANOMALY flags — the streaming-metrics outlier gate
    * every feature/monitoring pipeline runs (fraud spikes, sensor
    * glitches, data-drift tripwires): each event scored against the
    * trailing `window` events of ITS OWN key, using only PRECEDING rows
    * (the e12 leak-free discipline — the current value never inflates its
    * own baseline, which would mask exactly the spikes being hunted).
    *
    * Determinism: values are fixed-point scaled to integers
    * (`floor(value·scale)`), so the rolling count/sum/sum-of-squares are
    * EXACT integer window aggregates — summation order cannot move them —
    * and z is a per-row pure function of three integers in a stated
    * parenthesization (mean = s/n; var = ss/n − mean², clamped ≥ 0;
    * z = (x − mean)/√var). The scale factor cancels in z, so fixed-point
    * costs no fidelity in the score. Window ordering is (ts, idCol) — a
    * total order, because a ts tie under a ROWS frame would otherwise
    * make the trailing sums engine-dependent. Rows with fewer than
    * `minPrev` trailing events emit nothing (no baseline); a zero-
    * variance baseline emits a null z (flat history says nothing about
    * spikes), never a fabricated flag.
    *
    * 100 TB shape: one keyed window exchange of (key, ts, long) rows;
    * after the spillable per-key sort everything is an O(1)-state running
    * pass — the e7/e14 skew class (ARCHITECTURE "Skew notes"). */
  def rollingAnomaly(df: DataFrame, keyCol: String, tsCol: String,
                     idCol: String, valueCol: String, window: Int = 24,
                     minPrev: Int = 8, zThresh: Double = 3.0,
                     scale: Long = 100L): DataFrame = {
    require(window >= 2 && minPrev >= 2 && minPrev <= window,
      s"rollingAnomaly needs 2 <= minPrev <= window (got $minPrev/$window)")
    import org.apache.spark.sql.expressions.Window
    val fr = Window.partitionBy(col(keyCol))
      .orderBy(col(tsCol).asc, col(idCol).asc)
      .rowsBetween(-window, -1)
    df.withColumn("__iv", floor(col(valueCol) * lit(scale)).cast("long"))
      .withColumn("n_prev", count(lit(1)).over(fr))
      .withColumn("__s", sum(col("__iv")).over(fr))
      .withColumn("__ss", sum(col("__iv") * col("__iv")).over(fr))
      .filter(col("n_prev") >= minPrev)
      .withColumn("__mean", col("__s").cast("double") / col("n_prev"))
      .withColumn("__var", greatest(
        col("__ss").cast("double") / col("n_prev") -
          col("__mean") * col("__mean"), lit(0.0)))
      .withColumn("z", when(col("__var") > 0,
        (col("__iv") - col("__mean")) / sqrt(col("__var"))))
      .withColumn("is_anomaly", coalesce(abs(col("z")) > zThresh, lit(false)))
      .drop("__iv", "__s", "__ss", "__mean", "__var")
  }

  /** Leakage-safe (out-of-fold) TARGET ENCODING of a categorical column —
    * the CatBoost/"mean encoding done right" featurization every tabular
    * trainer runs on high-cardinality categoricals: per (category, fold),
    * the smoothed target rate computed from the OTHER folds only,
    *
    *   enc(c, f) = (pos_out + a · prior) / (n_out + a)
    *
    * with `pos_out`/`n_out` the category's positive/total counts
    * excluding fold f, `prior` the global positive rate, and `a` the
    * additive-smoothing pseudo-count. A category seen ONLY inside fold f
    * has n_out = 0 and encodes to exactly the prior — the no-self-leak
    * property (a naive mean encoding would leak the row's own label and
    * overfit precisely the rare categories that matter). Deterministic:
    * every encoding is a pure function of exact integer counts and one
    * global ratio, in this stated parenthesization.
    *
    * 100 TB shape: one map-side-combined (category, fold) count pass, a
    * category-level rollup of the (already tiny) count table, one
    * broadcast scalar — output is |categories|×|folds| rows, never
    * data-sized; the training-time application is a broadcast join of
    * this table back onto the rows. */
  def targetEncode(df: DataFrame, catCol: String, labelCol: String,
                   foldCol: String, smoothing: Double = 20.0): DataFrame = {
    require(smoothing > 0, s"targetEncode needs smoothing>0 (got $smoothing)")
    val perFold = df.groupBy(col(catCol).as("category"), col(foldCol).as("fold"))
      .agg(sum(col(labelCol).cast("long")).as("pos_f"),
        count(lit(1)).as("n_f"))
    val perCat = perFold.groupBy("category")
      .agg(sum("pos_f").as("pos_t"), sum("n_f").as("n_t"))
    val global = df.agg(
      (sum(col(labelCol).cast("long")).cast("double") / count(lit(1)))
        .as("prior"))
    perFold.join(perCat, "category")
      .crossJoin(broadcast(global))
      .withColumn("n_out", col("n_t") - col("n_f"))
      .withColumn("pos_out", col("pos_t") - col("pos_f"))
      .withColumn("encoding",
        (col("pos_out") + lit(smoothing) * col("prior")) /
          (col("n_out") + lit(smoothing)))
      .select(col("category"), col("fold"), col("n_out"), col("pos_out"),
        col("encoding"))
  }

  /** Population Stability Index between a REFERENCE and a CURRENT score
    * window — the standard production drift monitor (banking scorecard
    * lineage; the first alarm any deployed quality/toxicity/relevance
    * scorer wires up): PSI = Σ_bins (p_i − q_i)·ln(p_i/q_i) with p the
    * reference share and q the current share. Conventional reading:
    * < 0.1 stable, 0.1–0.25 drifting, > 0.25 shifted.
    *
    * Inputs are integer ppm scores in [0, `maxPpm`); `bins` equal-width
    * bins. Determinism discipline: bin shares are EXACT integer ppm
    * (count·10⁶ div total), clamped at ≥ 1 ppm so an empty bin
    * contributes a finite penalty instead of ±∞ (the Laplace-style floor,
    * stated); the ONLY float is `ln` of a ratio of exact integers (the
    * t30-proven primitive) and the per-bin contribution is
    * floor((p_ppm − q_ppm)·ln(p_ppm/q_ppm)) — an integer (ppm·nat
    * fixed-point) whose SUM is order-independent, so the corpus-constant
    * `psi_total_fp` replays bit-for-bit in any engine.
    *
    * 100 TB shape: one map-side-combined groupBy per window into ≤ `bins`
    * cells, a bins-sized full outer join, and one one-row total broadcast
    * (the scalar-broadcast pattern) — nothing corpus-sized is ever
    * exchanged or collected. */
  def psiReport(ref: DataFrame, cur: DataFrame, scoreCol: String,
                bins: Int = 10, maxPpm: Long = 1000000L): DataFrame = {
    require(bins >= 2 && bins <= 1024, s"psiReport needs 2<=bins<=1024 (got $bins)")
    require(maxPpm >= bins, s"psiReport needs maxPpm>=bins (got $maxPpm)")
    // clamp BOTH ends: an out-of-domain score (negative, or >= maxPpm)
    // lands in the edge bin instead of fabricating a phantom bin id that
    // would silently skew every share
    def binned(df: DataFrame, name: String): DataFrame = df
      .select(expr(s"greatest(0, least($bins - 1, " +
        s"($scoreCol * $bins) div $maxPpm))").as("bin"))
      .groupBy("bin").agg(count(lit(1)).as(name))
    val joined = binned(ref, "n_ref")
      .join(binned(cur, "n_cur"), Seq("bin"), "full_outer")
      .select(col("bin"),
        coalesce(col("n_ref"), lit(0L)).as("n_ref"),
        coalesce(col("n_cur"), lit(0L)).as("n_cur"))
    val tot = joined.agg(sum("n_ref").as("__tr"), sum("n_cur").as("__tc"))
    // an EMPTY window must fail loudly, not read out: (n*1e6) div 0 is
    // NULL and greatest(NULL, 1) would clamp every share to 1 ppm — a
    // drift monitor quietly reporting a nonsense PSI on a dead pipeline.
    // The guard lives IN the share columns (the rbo convention) so
    // column pruning cannot drop it.
    def share(n: String, t: String, win: String): Column =
      when(coalesce(col(t), lit(0L)) <= 0L,
        raise_error(lit(s"psiReport: $win score window is empty - " +
          "PSI is undefined; fix the upstream feed instead of reading " +
          "a clamped share")).cast("long"))
        .otherwise(greatest(expr(s"($n * 1000000) div $t"), lit(1L)))
    val perBin = joined.crossJoin(broadcast(tot))
      .withColumn("ref_ppm", share("n_ref", "__tr", "reference"))
      .withColumn("cur_ppm", share("n_cur", "__tc", "current"))
      .withColumn("psi_contrib_fp",
        floor((col("ref_ppm") - col("cur_ppm")).cast("double") *
          log(col("ref_ppm").cast("double") / col("cur_ppm").cast("double")))
          .cast("long"))
      .select("bin", "n_ref", "n_cur", "ref_ppm", "cur_ppm", "psi_contrib_fp")
    val total = perBin.agg(sum("psi_contrib_fp").as("psi_total_fp"))
    perBin.crossJoin(broadcast(total))
  }

  /** Two-sample Kolmogorov–Smirnov drift test between a REFERENCE and a
    * CURRENT score window — the BINLESS companion to [[psiReport]]:
    * PSI reads drift through `bins` chosen cells (coarse shifts within a
    * bin are invisible and the floor clamp adds bias on sparse bins); KS
    * is the distribution-free supremum statistic
    * D = sup_x |F_ref(x) − F_cur(x)| with an exact finite-sample form —
    * the classic two-sample test (Kolmogorov 1933, Smirnov 1939) every
    * monitoring stack runs when it cannot justify a binning.
    *
    * Exactness discipline: scores are integers, so the ECDFs step only at
    * distinct score values; with c1(x) = #ref ≤ x, c2(x) = #cur ≤ x,
    * D = max_x |c1(x)·n2 − c2(x)·n1| / (n1·n2) — the numerator is EXACT
    * integer arithmetic carried in decimal(38,0) (c·n at 10¹⁰-row windows
    * passes a long only barely; the e20/q6 convention), the max and its
    * arg (lowest score achieving it, the change-location diagnostic) are
    * integer comparisons, and `d_ppm` = ⌊d_num·10⁶ / (n1·n2)⌋ by integer
    * division. The ONLY floats are the stated verdict line: crit_ppm =
    * ⌊c(α)·√((n1+n2)/(n1·n2))·10⁶⌋ with c(0.05) = 1.3581 (the classic
    * large-sample critical coefficient) — √ of a ratio of exact integers
    * (IEEE sqrt is correctly rounded; the t30 primitive) times a shared
    * literal, floored — so `shifted` = d_ppm > crit_ppm replays
    * bit-for-bit in any engine.
    *
    * 100 TB shape: ONE map-side-combined groupBy per window into
    * score-cardinality-bounded cells (the ev12 state law: bounded by
    * distinct scores, never rows), one cells-sized full-outer join + one
    * running-sum window over those cells, a one-row max. An empty window
    * raises loudly through the output columns (the psiReport guard). */
  def ksReport(ref: DataFrame, cur: DataFrame, scoreCol: String): DataFrame = {
    Guards.requireIntegral(ref, scoreCol, "ksReport")
    Guards.requireIntegral(cur, scoreCol, "ksReport")
    import org.apache.spark.sql.expressions.Window
    def cells(df: DataFrame, name: String): DataFrame = df
      .select(col(scoreCol).cast("long").as("s"))
      .groupBy("s").agg(count(lit(1)).as(name))
    val joined = cells(ref, "a").join(cells(cur, "b"), Seq("s"), "full_outer")
      .select(col("s"), coalesce(col("a"), lit(0L)).as("a"),
        coalesce(col("b"), lit(0L)).as("b"))
    val tot = joined.agg(sum("a").as("__n1"), sum("b").as("__n2"))
    val w = Window.orderBy("s")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    def guarded(t: String, win: String): Column =
      when(coalesce(col(t), lit(0L)) <= 0L,
        raise_error(lit(s"ksReport: $win score window is empty - the " +
          "ECDF is undefined; fix the upstream feed")).cast("long"))
        .otherwise(col(t))
    val cum = joined.crossJoin(broadcast(tot))
      .withColumn("n1", guarded("__n1", "reference"))
      .withColumn("n2", guarded("__n2", "current"))
      .withColumn("c1", sum(col("a")).over(w))
      .withColumn("c2", sum(col("b")).over(w))
      .withColumn("d_num",
        abs(col("c1").cast("decimal(38,0)") * col("n2") -
          col("c2").cast("decimal(38,0)") * col("n1")))
    // max D with the LOWEST achieving score (lexicographic struct max on
    // (d_num, -s) — a deterministic argmax without a second pass)
    val top = cum.agg(
      max(struct(col("d_num"), (-col("s")).as("neg_s"))).as("m"),
      first(col("n1")).as("n_ref"), first(col("n2")).as("n_cur"))
    top.select(
        col("n_ref"), col("n_cur"),
        col("m.d_num").cast("decimal(38,0)").as("__dn"),
        (-col("m.neg_s")).as("ks_at"))
      .withColumn("d_ppm", expr(
        "cast((__dn * 1000000) div (cast(n_ref as decimal(38,0)) * n_cur) " +
          "as long)"))
      .withColumn("crit_ppm", floor(lit(1.3581) *
        sqrt((col("n_ref") + col("n_cur")).cast("double") /
          (col("n_ref").cast("double") * col("n_cur").cast("double"))) *
        lit(1000000.0)).cast("long"))
      .withColumn("shifted", col("d_ppm") > col("crit_ppm"))
      .select("n_ref", "n_cur", "ks_at", "d_ppm", "crit_ppm", "shifted")
  }

  /** Per-key sample autocorrelation function at lags 1..maxLag
    * (Box–Jenkins 1970 §2.1 — the periodicity/persistence diagnostic in
    * front of this family's monitors: a strong lag-7 ACF says "weekly
    * rhythm, deseasonalize with e23 before e18/e21 read the residuals";
    * a slowly-decaying ACF says the series is trending and a level
    * monitor will false-alarm).
    *
    * Input contract: a per-key REGULARLY-INDEXED series — `tCol` is a
    * dense integer index (ranks, grid ticks: exactly what e7/e14's
    * resamplers emit), because lag-k pairing is positional; gaps simply
    * produce fewer pairs and `n_pairs` reports it honestly.
    *
    * Exactness: with μ = S/n rational, both the lag covariance and the
    * variance are scaled by n²: num_k = Σ(n·x_t − S)(n·x_{t+k} − S),
    * den = Σ(n·x_t − S)² — EXACT integers in decimal(38,0), order-free
    * sums. |num| ≤ den (Cauchy–Schwarz), so the emitted
    * `acf01_ppm` = ⌊(num+den)·10⁶ / (2·den)⌋ — the ev11 (ρ+1)/2 ∈ [0,1]
    * mapping — keeps every division non-negative where raw-ρ floor
    * division would split on engine negative-division semantics.
    * A constant series (den = 0) reads honest NULL, never a number.
    *
    * 100 TB shape: one map-side-combined (key) stats groupBy, a
    * keys-bounded broadcast back, one (key, t+lag) equi-self-join whose
    * left side carries the maxLag explode (n·maxLag 24-byte rows), and
    * two map-side-combined (key[, lag]) aggregations. Key cardinality
    * bounds nothing here — no windows, no per-key serialization: the
    * join and the sums distribute by (key, t). */
  def acfReport(series: DataFrame, keyCol: String, tCol: String,
                valCol: String, maxLag: Int): DataFrame = {
    require(maxLag >= 1, s"acfReport needs maxLag >= 1 (got $maxLag)")
    Guards.requireIntegral(series, tCol, "acfReport")
    Guards.requireIntegral(series, valCol, "acfReport")
    val r = series.select(col(keyCol).as("k"), col(tCol).cast("long").as("t"),
      col(valCol).cast("long").as("x"))
    val stats = r.groupBy("k").agg(sum(col("x")).cast("decimal(38,0)")
      .as("s"), count(lit(1)).as("n"))
    // Stage cut (rule 14, r17 optimization round): the deviation table
    // feeds the denominator rollup AND both sides of the lag self-join —
    // three evaluations of the upstream series (for e25 that includes a
    // per-key rank window) without it. Series-sized (k, t, d) rows.
    val dev = graft.StageCut(r.join(broadcast(stats), "k")
      .select(col("k"), col("t"),
        (col("n").cast("decimal(38,0)") * col("x") - col("s")).as("d")), "acfReport.dev")
    val den = dev.groupBy("k")
      .agg(sum(col("d") * col("d")).as("den"), count(lit(1)).as("n"))
    val pairs = dev
      .select(col("k"), col("t"), col("d"),
        explode(sequence(lit(1), lit(maxLag))).as("lag"))
      .withColumn("t2", col("t") + col("lag"))
      .join(dev.select(col("k"), col("t").as("t2"), col("d").as("d2")),
        Seq("k", "t2"))
      .groupBy("k", "lag")
      .agg(sum(col("d") * col("d2")).as("num"), count(lit(1)).as("n_pairs"))
    pairs.join(broadcast(den), "k")
      .select(col("k").as(keyCol), col("lag"), col("n"), col("n_pairs"),
        when(col("den") > 0,
          expr("((num + den) * 1000000) div (2 * den)")).as("acf01_ppm"))
  }

  /** Seasonal-strength diagnostic over a [[seasonalDecompose]] output
    * (Wang–Smyth–Hyndman 2006; the FPP3 §4.3 / tsfeatures `feat_stl`
    * definition): F_s = max(0, 1 − Var(R)/Var(S+R)) per key — the
    * one-number answer to "does deseasonalizing this series matter?"
    * that decides whether e18/e21's monitors read raw values or e23's
    * residual column. F_s near 0: the seasonal component explains
    * nothing, skip the decomposition; near 1: monitors on raw values
    * will false-alarm weekly.
    *
    * Exactness: the decomposition's components are exact integer milli
    * values; both variances are n²-scaled integer sums (the e25
    * discipline — var_num(X) = n·Σx² − (Σx)², decimal(38,0), the n²
    * factors cancel in the ratio), rows with NULL trend (the honest MA
    * edges) are excluded from BOTH, and
    * `strength_ppm` = max(0, ⌊(var_sr − var_r)·10⁶ / var_sr⌋) — one
    * floored integer division, clamped at the F_s floor. A key whose
    * deseasonalized series is constant (var_sr = 0) reads honest NULL.
    * `seasonal` = strength ≥ 640000 (the tsfeatures-lineage 0.64
    * convention for "strongly seasonal"). The raw numerators are NOT
    * emitted (they reach ~10²¹ — int128-class values the cross-engine
    * canonicalizers disagree on, the r14 driver-gate lesson); the
    * unclamped diagnostic is `var_ratio_ppm` = ⌊var_r·10⁶/var_sr⌋, a
    * bounded exact integer that still resolves how anti-seasonal a
    * clamped-to-0 series is.
    *
    * 100 TB shape: ONE map-side-combined per-key moment aggregate over
    * the decomposition's (keys × days)-bounded output — nothing
    * corpus-sized exists at this layer (the corpus work is e23's). */
  def seasonalStrength(decomp: DataFrame, keyCol: String): DataFrame = {
    val d = decomp
      .filter(col("trend_milli").isNotNull)
      .select(col(keyCol).as("k"), col("resid_milli").as("r"),
        (col("seasonal_milli") + col("resid_milli")).as("sr"))
    d.groupBy("k")
      .agg(count(lit(1)).as("n"),
        sum(col("r").cast("decimal(38,0)")).as("s_r"),
        sum(col("r").cast("decimal(38,0)") * col("r")).as("s_rr"),
        sum(col("sr").cast("decimal(38,0)")).as("s_sr"),
        sum(col("sr").cast("decimal(38,0)") * col("sr")).as("s_srsr"))
      .select(col("k").as(keyCol), col("n"),
        (expr("cast(n as decimal(38,0))") * col("s_rr")
          - col("s_r") * col("s_r")).as("var_r_num"),
        (expr("cast(n as decimal(38,0))") * col("s_srsr")
          - col("s_sr") * col("s_sr")).as("var_sr_num"))
      // the n²-scaled numerators reach ~10²¹ at gate scale — int128-class
      // values that canonicalize differently across engines (the r14
      // driver-gate lesson), so they stay INTERNAL; the emitted diagnostic
      // is the bounded exact ratio ⌊var_r·10⁶/var_sr⌋ (the residual share
      // of the deseasonalized variance — 10⁶−strength before the clamp,
      // and it keeps resolving HOW anti-seasonal a series is after
      // strength clamps at 0). Loud on the astronomically-skewed case
      // instead of Spark's silent null-on-overflow.
      .withColumn("var_ratio_ppm",
        when(col("var_sr_num") > 0, coalesce(
          expr("(var_r_num * 1000000) div var_sr_num"),
          raise_error(concat(
            lit("seasonalStrength: var_ratio_ppm exceeds int64 for key "),
            col(keyCol).cast("string"))).cast("long"))))
      .withColumn("strength_ppm",
        when(col("var_sr_num") > 0, greatest(lit(0L),
          expr("((var_sr_num - var_r_num) * 1000000) div var_sr_num"))))
      .withColumn("seasonal",
        when(col("strength_ppm").isNotNull,
          col("strength_ppm") >= 640000L))
      .drop("var_r_num", "var_sr_num")
  }

  /** Mann–Kendall monotonic-trend test per key over the daily grid
    * (Mann 1945; Kendall 1975 — THE nonparametric trend detector, what
    * hydrology/air-quality/SRE monitoring runs on daily rollups): "is
    * this series drifting?" is the question e21's CUSUM (level SHIFT at
    * a point) and e28's forecast residuals (one-step surprise) don't
    * answer — a slow monotone leak trips neither until late, while MK
    * reads it from sign structure alone (no distribution assumed, no
    * magnitude — immune to the heavy tails that wreck OLS slopes).
    *
    * Exactness: S = Σ_{i<j} sgn(x_j − x_i) is an exact integer over the
    * zero-filled daily grid; the tie term T = Σ_g t_g(t_g−1)(2t_g+5)
    * and the variance numerator n(n−1)(2n+5) − T are exact longs (the
    * grid is span-bounded: n ≤ 366·years, cubes stay tiny); the stated
    * float line is the textbook continuity correction —
    * z = (S∓1)/√((num)/18) for S ≷ 0, exactly 0 at S = 0 — two casts,
    * one divide, one correctly-rounded sqrt, one divide, ⌊z·10³⌋.
    * A constant series (variance 0) reads honest NULL z and verdict
    * 'degenerate'; direction claims only past |z| ≥ 1.96.
    *
    * 100 TB shape: the corpus-sized work is [[dailyGrid]]'s one
    * map-side-combined rollup; the pair stream is the (keys × days²)
    * self-equi-join on the key (the e25 lag-join class — 366 days is
    * ~67k pairs/key, bounded by the SPAN, never the corpus), folded by
    * one map-side-combined aggregate; ties are one (key, value)
    * groupBy over the grid. No windows, no iteration, no driver state. */
  def mannKendall(df: DataFrame, keyCol: String, tsCol: String,
                  valueCol: String): DataFrame = {
    // (keys × days)-bounded; three consumers
    val g = graft.StageCut(dailyGrid(df, keyCol, tsCol, valueCol, "mannKendall"),
      "mannKendall.g")
    val pairs = g.select(col("__k"), col("di"), col("x"))
      .join(g.select(col("__k"), col("di").as("dj"), col("x").as("xj")),
        Seq("__k"))
      .filter(col("di") < col("dj"))
      .groupBy("__k")
      .agg(sum(signum(col("xj") - col("x")).cast("long")).as("s_stat"))
    val ties = g.groupBy(col("__k"), col("x"))
      .agg(count(lit(1)).as("t"))
      .groupBy("__k")
      .agg(sum(col("t") * (col("t") - 1L) * (lit(2L) * col("t") + 5L))
        .as("tie_term"),
        sum(col("t")).as("n_days"))
    val zRaw = (col("s_stat").cast("double") -
      signum(col("s_stat").cast("double"))) /
      sqrt(col("__var18").cast("double") / lit(18.0))
    // ties is the anchor: a one-day global span has NO di<dj pairs, so
    // pairs is empty — a left join (s_stat coalesced to 0) keeps every
    // key and lets var18 = 0 deliver the promised 'degenerate' verdict
    // instead of silently dropping the corpus
    ties.join(pairs, Seq("__k"), "left")
      .withColumn("s_stat", coalesce(col("s_stat"), lit(0L)))
      .withColumn("__var18",
        col("n_days") * (col("n_days") - 1L) *
          (lit(2L) * col("n_days") + 5L) - col("tie_term"))
      .withColumn("z_milli",
        when(col("__var18") > 0,
          floor(zRaw * lit(1000.0)).cast("long")))
      .withColumn("verdict",
        when(col("z_milli").isNull, "degenerate")
          .when(abs(col("z_milli")) < 1960L, "no_trend")
          .when(col("z_milli") >= 1960L, "trending_up")
          .otherwise("trending_down"))
      .select(col("__k").as(keyCol), col("n_days"), col("s_stat"),
        col("tie_term"), col("z_milli"), col("verdict"))
  }

  /** Benford first-digit expected shares, ⌊log10(1+1/d)·10⁶⌋ for
    * d = 1..9 (they sum to 999,995 — the five missing ppm are the nine
    * floors; published constants, a bounded literal). */
  private val BenfordPpm: Seq[Long] = Seq(301029L, 176091L, 124938L,
    96910L, 79181L, 66946L, 57991L, 51152L, 45757L)

  /** Benford first-digit conformance audit (Newcomb 1881 / Benford 1938;
    * Nigrini 1996 is the fraud-audit canon) — the metric-integrity
    * check for columns that SHOULD span magnitudes (transaction values,
    * byte sizes, durations): organically-generated multiplicative data
    * follows log10(1+1/d); fabricated, clipped, or unit-mangled feeds
    * show flat or spiked first digits, and this audit is routinely the
    * first thing that catches a synthetic-data generator or a broken
    * upstream scaler.
    *
    * Semantics: positive integral values only — zeros/negatives have no
    * first digit and are COUNTED (`n_skipped`), never silently dropped;
    * the first digit comes from the decimal string (exact in any
    * engine; a float log10 would put a non-correctly-rounded op on a
    * boundary decision). Per digit 1..9 (honest zero rows for absent
    * digits): observed count and ppm, the expected ppm literal, and the
    * exact micro χ² contribution ⌊(o·10⁶ − n·e)²/(n·e)⌋; the verdict
    * compares Σ against the published df=8 α=0.05 critical value.
    * Empty or over-bound windows raise loudly (the ev15 window
    * discipline: n ≤ 10¹⁰ keeps every intermediate exact).
    *
    * 100 TB shape: ONE map-side-combined groupBy into ≤10 cells; the
    * ≤10-row counts frame is stage-cut for its two consumers
    * (totals + per-digit join). */
  def benfordReport(values: DataFrame, valCol: String): DataFrame = {
    Guards.requireIntegral(values, valCol, "benfordReport")
    val spark = values.sparkSession
    import spark.implicits._
    val counts = graft.StageCut(values.select(col(valCol).cast("long").as("x"))
      .select(when(col("x") >= 1L,
        substring(col("x").cast("string"), 1, 1).cast("int"))
        .otherwise(0).as("digit"))
      .groupBy("digit").agg(count(lit(1)).as("o")), "benfordReport.counts")
    val tot = counts.agg(
      sum(when(col("digit") > 0, col("o")).otherwise(0L)).as("__n"),
      sum(when(col("digit") === 0, col("o")).otherwise(0L)).as("n_skipped"))
    val digits = BenfordPpm.zipWithIndex
      .map { case (e, i) => (i + 1, e) }.toDF("digit", "expected_ppm")
    // two consumers: the χ² total and the output rows
    val per = graft.StageCut(digits
      .join(counts.filter(col("digit") > 0), Seq("digit"), "left")
      .select(col("digit"), coalesce(col("o"), lit(0L)).as("observed"),
        col("expected_ppm"))
      .crossJoin(broadcast(tot))
      .withColumn("n",
        when(col("__n").between(1L, 10000000000L), col("__n"))
          .otherwise(raise_error(concat(lit("benfordReport: positive-value "
            + "count "), col("__n").cast("string"),
            lit(" outside [1, 1e10] - no distribution to audit, or past "
              + "the exact-arithmetic headroom; sample the window")))
            .cast("long")))
      .withColumn("observed_ppm", expr("(observed * 1000000) div n"))
      .withColumn("contrib_micro", expr(
        "cast(((cast(observed as decimal(38,0)) * 1000000 - " +
          "cast(n as decimal(38,0)) * expected_ppm) * " +
          "(cast(observed as decimal(38,0)) * 1000000 - " +
          "cast(n as decimal(38,0)) * expected_ppm)) " +
          "div (cast(n as decimal(38,0)) * expected_ppm) as long)")),
      "benfordReport.per")
    val chi = per.agg(sum(col("contrib_micro")).as("chi2_micro"))
    per.crossJoin(broadcast(chi))
      .select(col("digit"), col("observed"), col("observed_ppm"),
        col("expected_ppm"), col("contrib_micro"), col("n"),
        col("n_skipped"), col("chi2_micro"),
        lit(15507000L).as("crit_micro"),
        (col("chi2_micro") <= 15507000L).as("conformant"))
  }

  /** Pearson χ² critical values at α = 0.05, df 1..30 (the standard
    * table, e.g. NIST/SEMATECH e-Handbook §1.3.6.7.4), in micro units —
    * a bounded plan literal (rule 16 applies to MODEL-sized constants;
    * a 30-entry published table is PQ-class bounded-by-construction). */
  private val Chi2Crit05Micro: Seq[Long] = Seq(
    3841000L, 5991000L, 7815000L, 9488000L, 11070000L, 12592000L,
    14067000L, 15507000L, 16919000L, 18307000L, 19675000L, 21026000L,
    22362000L, 23685000L, 24996000L, 26296000L, 27587000L, 28869000L,
    30144000L, 31410000L, 32671000L, 33924000L, 35172000L, 36415000L,
    37652000L, 38885000L, 40113000L, 41337000L, 42557000L, 43773000L)

  /** Pearson χ² drift test between a REFERENCE and a CURRENT window of a
    * CATEGORICAL feature (Pearson 1900) — the seat [[ksReport]] cannot
    * fill: KS needs an ordered score, a χ² goodness-of-fit reads drift
    * on event types, sources, languages, device classes. Expected counts
    * are the reference shares scaled to the current window.
    *
    * Exactness discipline: with integer counts (o = current, Rc =
    * reference per cell; Rt, Ct = window totals), the classic algebraic
    * form χ² = Σ o²·Rt/(Rc·Ct) − Ct keeps every intermediate a product
    * of THREE counts (vs the (o·Rt − Rc·Ct)² form whose square doubles
    * the magnitude) — each term is floored to micro units per cell and
    * summed order-free in decimal(38,0); the statistic is an ≤|cells|
    * micro underestimate, identically in both engines. Categories UNSEEN
    * in the reference make the statistic infinite under the textbook
    * form; they are the strongest drift evidence there is, so they are
    * reported (`new_cats`, `new_mass`), EXCLUDED from the sum with the
    * exact −2Σo+Σe correction (= −Ct + 2·new_mass), and force
    * `drifted` = true. The verdict compares against the published
    * α=0.05 critical value for df = (reference categories − 1) — a
    * 30-entry literal table, df out of range raises loudly, as do empty
    * windows and window totals past 10¹⁰ rows (the decimal(38,0)
    * headroom bound: o²·Rt·10⁶ ≤ 10²⁰·10¹⁰·10⁶ = 10³⁶ — drift windows
    * are time-sliced samples, not whole corpora; the q6 err_ppm lesson
    * applied BEFORE the overflow ships).
    *
    * 100 TB shape: ONE map-side-combined groupBy per window into
    * category-bounded cells, one cells-sized outer join, a one-row
    * aggregate — the ev12/ev14 state law (bounded by distinct
    * categories, never rows). */
  def chi2Report(ref: DataFrame, cur: DataFrame, catCol: String): DataFrame = {
    def cells(df: DataFrame, name: String): DataFrame = df
      .select(col(catCol).cast("string").as("cat"))
      .groupBy("cat").agg(count(lit(1)).as(name))
    // cells-bounded, three downstream consumers (tot's agg, the terms
    // fold, and tot again via the final crossJoin): checkpoint so each
    // window's corpus-sized groupBy runs ONCE (the benfordReport
    // two-consumer discipline; without it the scan re-executes ~3x)
    val joined = graft.StageCut(cells(ref, "a").join(cells(cur, "b"), Seq("cat"),
      "full_outer")
      .select(col("cat"), coalesce(col("a"), lit(0L)).as("a"),
        coalesce(col("b"), lit(0L)).as("b")), "chi2Report.joined")
    val tot = joined.agg(sum("a").as("__rt"), sum("b").as("__ct"),
      sum(when(col("a") > 0, 1L).otherwise(0L)).as("__kref"),
      sum(when(col("a") === 0L, 1L).otherwise(0L)).as("__knew"),
      sum(when(col("a") === 0L, col("b")).otherwise(0L)).as("__nmass"))
    def winGuard(t: String, win: String): Column =
      when(coalesce(col(t), lit(0L)).between(1L, 10000000000L), col(t))
        .otherwise(raise_error(concat(lit(s"chi2Report: $win window " +
          s"count "), coalesce(col(t), lit(0L)).cast("string"),
          lit(" outside [1, 1e10] - empty windows have no distribution " +
            "and larger ones exceed the exact-arithmetic headroom; " +
            "time-slice the window"))).cast("long"))
    // per-cell floor division lands in a LONG (Spark's IntegralDivide):
    // the window bound alone leaves a=1 pathological cells able to
    // overflow it (q ≤ Ct·Rt·10⁶ = 10²⁶), so the quotient is range-
    // checked EXACTLY in decimal before dividing — a loud raise, never a
    // silent wrap (the q6 err_ppm lesson)
    val terms = joined.filter(col("a") > 0).crossJoin(broadcast(tot))
      .agg(sum(expr(
        """CASE WHEN __ct <= 0 OR __rt <= 0
          |THEN raise_error('chi2Report: empty window - no distribution to
          | test; fix the upstream feed')
          |WHEN cast(b as decimal(38,0)) * b * __rt * 1000000 >
          |  cast(a as decimal(38,0)) * __ct * 9000000000000000000
          |THEN raise_error(concat('chi2Report: cell term past long range',
          |  ' (ref count ', a, ' vs current ', b, ') - the reference',
          |  ' window barely covers a category the current window is',
          |  ' concentrated in; widen or resample the reference'))
          |ELSE (cast(b as decimal(38,0)) * b * __rt * 1000000)
          |  div (cast(a as decimal(38,0)) * __ct) END""".stripMargin))
        .as("__sum"))
    terms.crossJoin(broadcast(tot))
      .select(
        winGuard("__rt", "reference").as("n_ref"),
        winGuard("__ct", "current").as("n_cur"),
        col("__kref").as("cats_ref"), col("__knew").as("new_cats"),
        col("__nmass").as("new_mass"),
        when((col("__kref") - 1).between(1L, Chi2Crit05Micro.size.toLong),
          col("__kref") - 1)
          .otherwise(raise_error(concat(
            lit("chi2Report: df "), (col("__kref") - 1).cast("string"),
            lit(s" outside [1, ${Chi2Crit05Micro.size}] - a one-category " +
              "reference has no test, and the critical table stops at " +
              "30 (bucket the long tail)"))).cast("long")).as("df"),
        {
          val dec = col("__sum").cast("decimal(38,0)")
            .minus(col("__ct").cast("decimal(38,0)") * 1000000L)
            .plus(col("__nmass").cast("decimal(38,0)") * 2000000L)
          when(abs(dec) < lit(9000000000000000000L).cast("decimal(38,0)"),
            dec.cast("long"))
            .otherwise(raise_error(lit("chi2Report: statistic past long " +
              "range - the windows are not remotely the same " +
              "distribution; no exact figure is needed to act on that"))
              .cast("long")).as("chi2_micro")
        })
      .withColumn("crit_micro",
        element_at(array(Chi2Crit05Micro.map(lit): _*),
          col("df").cast("int")))
      .withColumn("drifted",
        col("chi2_micro") > col("crit_micro") || col("new_cats") > 0L)
      .select("n_ref", "n_cur", "cats_ref", "new_cats", "new_mass", "df",
        "chi2_micro", "crit_micro", "drifted")
  }

  /** Shared md5 50/50 arm assignment — a pure function of the user id
    * (the t21/t36 derandomization), recomputed inline wherever needed so
    * NO user→arm table ever materializes (see [[abUplift]]'s plan note). */
  private def md5Arm(seed: String, u: Column): Column =
    when(text.md5_prefix_long(concat(lit(seed + ":"), u), 1, 6) % 2 === 0, "A")
      .otherwise("B")

  /** CUPED variance-reduced A/B readout (Deng et al., WSDM 2013) — the
    * pre-experiment-covariate adjustment every mature experimentation
    * platform applies before reading [[abUplift]]'s delta: per user,
    * X = pre-period value sum (the covariate), Y = experiment-period value
    * sum; the POOLED θ = cov(X,Y)/var(X) shifts each arm's mean to
    * Ȳ − θ·(X̄_arm − X̄), removing the X-explained variance — the same
    * experiment reads significant with θ·corr²·var fewer samples.
    *
    * Determinism discipline: values enter as floor(value·100) fixed-point
    * (floor of bit-identical doubles is engine-safe; round is not), every
    * sum/product accumulates EXACT (decimal(38,0) — Σx² at 10¹² users
    * passes a long), and the only floats are the stated final divisions
    * and the θ/adjustment arithmetic in one stated parenthesization, then
    * floor(·10⁶). `var_reduction_bp` = floor(10⁴·θ·cov/var(Y)) — the
    * realized variance-reduction fraction (= corr²(X,Y)).
    *
    * 100 TB shape: ONE map-side-combined per-user groupBy (the only
    * corpus-sized exchange), one five-moment one-row aggregate, one
    * two-row per-arm aggregate, scalar broadcasts — nothing collected. */
  def cuped(df: DataFrame, userCol: String, tsCol: String, valueCol: String,
            cutoffTs: String, seed: String = "ab"): DataFrame = {
    val cutoff = lit(cutoffTs).cast("timestamp")
    val perUser = df.groupBy(col(userCol).cast("long").as("u"))
      .agg(
        coalesce(sum(when(col(tsCol) < cutoff,
          floor(col(valueCol) * 100).cast("long"))), lit(0L)).as("x_fp"),
        coalesce(sum(when(col(tsCol) >= cutoff,
          floor(col(valueCol) * 100).cast("long"))), lit(0L)).as("y_fp"))
      .withColumn("arm", md5Arm(seed, col("u")))
    val d = "cast(x_fp as decimal(19,0))"
    val dy = "cast(y_fp as decimal(19,0))"
    val g = perUser.agg(
      count(lit(1)).as("n"),
      sum(col("x_fp").cast("decimal(38,0)")).as("sx"),
      sum(col("y_fp").cast("decimal(38,0)")).as("sy"),
      sum(expr(s"$d * $d")).as("sxx"),
      sum(expr(s"$d * $dy")).as("sxy"),
      sum(expr(s"$dy * $dy")).as("syy"))
      .withColumn("theta",
        when(expr("n * sxx - sx * sx") === 0, lit(0.0))
          .otherwise(expr("cast(n * sxy - sx * sy as double) / " +
            "cast(n * sxx - sx * sx as double)")))
      .withColumn("mean_x_all", expr("cast(sx as double) / cast(n as double)"))
      .withColumn("rho2",
        when(expr("n * syy - sy * sy") === 0, lit(0.0))
          .otherwise(expr("theta * cast(n * sxy - sx * sy as double) / " +
            "cast(n * syy - sy * sy as double)")))
      .select("theta", "mean_x_all", "rho2")
    val byArm = perUser.groupBy("arm").agg(
      count(lit(1)).as("n_users"),
      sum("x_fp").as("sx_fp"), sum("y_fp").as("sy_fp"))
    byArm.crossJoin(broadcast(g))
      .withColumn("mean_y_fp", floor(lit(1000000.0) *
        (col("sy_fp").cast("double") / col("n_users").cast("double")))
        .cast("long"))
      .withColumn("mean_adj_fp", floor(lit(1000000.0) *
        (col("sy_fp").cast("double") / col("n_users").cast("double") -
          col("theta") * (col("sx_fp").cast("double") /
            col("n_users").cast("double") - col("mean_x_all"))))
        .cast("long"))
      .withColumn("theta_fp",
        floor(lit(1000000.0) * col("theta")).cast("long"))
      .withColumn("var_reduction_bp",
        floor(lit(10000.0) * col("rho2")).cast("long"))
      .select("arm", "n_users", "sx_fp", "sy_fp", "mean_y_fp",
        "mean_adj_fp", "theta_fp", "var_reduction_bp")
  }

  /** TOST equivalence / non-inferiority readout (Schuirmann 1987, the
    * two-one-sided-tests procedure; Wellek 2010 is the book) — the
    * DEPLOYMENT decision e19/e20 cannot give: an uplift test failing to
    * reject "no difference" is NOT evidence of equivalence (absence of
    * evidence), while every model/infra swap actually ships on "B is no
    * worse than A by more than δ". TOST inverts the burden: H₀ is
    * |μ_B − μ_A| ≥ δ, rejected only when BOTH one-sided statistics
    * clear the bar — z₁ = (Δ+δ)/se > zα AND z₂ = (δ−Δ)/se > zα
    * (α = 0.05 one-sided, zα = 1.645; the large-sample normal form,
    * stated — per-arm n in the thousands is the regime this report is
    * for, and it keeps the verdict line engine-replayable where a
    * t-quantile would not be).
    *
    * Exactness: per-arm moments n, Σx, Σx² accumulate exact
    * (decimal(38,0) — Σx² at 10¹² rows passes a long, the e20
    * discipline) in ONE conditional aggregate (the mcnemar single-pass
    * shape); arm means emit as exact integer milli ((Σx·1000) div n);
    * the ONLY floats are the stated verdict line — Welch
    * se² = s²_A/n_A + s²_B/n_B with each s² = (n·Σx²−(Σx)²) cast to
    * double over n·(n−1), one add, one correctly-rounded sqrt, two
    * divisions, ⌊·10³⌋ (the t68 chain). Degenerate windows (an arm
    * with < 2 samples, or zero pooled variance) read honest NULL z
    * with verdict 'degenerate'; `equivalent` is claimed ONLY when
    * min(z₁, z₂) ≥ 1645 milli.
    *
    * 100 TB shape: ONE map-side-combined aggregate over the sample
    * stream into a |groups|-row frame; nothing else exists (the
    * mcnemar law). */
  def tostEquivalence(scored: DataFrame, groupCol: String,
                      sampleCol: String, valueCol: String,
                      marginMilli: Long): DataFrame = {
    require(marginMilli >= 1,
      s"tostEquivalence needs a positive equivalence margin " +
        s"(got $marginMilli milli) - with no margin there is no " +
        "equivalence hypothesis to test")
    Guards.requireIntegral(scored, sampleCol, "tostEquivalence",
      acceptBoolean = true)
    Guards.requireIntegral(scored, valueCol, "tostEquivalence")
    val a = when(col(sampleCol).cast("long").isin(0L, 1L),
      col(sampleCol).cast("long"))
      .otherwise(expr(
        "raise_error('tostEquivalence: sample marker must be 0/1 (1 = A)')")
        .cast("long"))
    val g = scored.select(col(groupCol).as("grp"), a.as("__a"),
        col(valueCol).cast("long").as("__v"))
      .groupBy("grp").agg(
        sum(col("__a")).as("n_a"),
        sum(lit(1L) - col("__a")).as("n_b"),
        sum(when(col("__a") === 1L, col("__v").cast("decimal(38,0)"))
          .otherwise(lit(0L))).as("__sa"),
        sum(when(col("__a") === 0L, col("__v").cast("decimal(38,0)"))
          .otherwise(lit(0L))).as("__sb"),
        sum(when(col("__a") === 1L,
          col("__v").cast("decimal(38,0)") * col("__v"))
          .otherwise(lit(0L))).as("__saa"),
        sum(when(col("__a") === 0L,
          col("__v").cast("decimal(38,0)") * col("__v"))
          .otherwise(lit(0L))).as("__sbb"))
    val se = sqrt(
      expr("cast(n_a * __saa - __sa * __sa as double)") /
        (col("n_a").cast("double") * (col("n_a") - 1).cast("double") *
          col("n_a").cast("double")) +
      expr("cast(n_b * __sbb - __sb * __sb as double)") /
        (col("n_b").cast("double") * (col("n_b") - 1).cast("double") *
          col("n_b").cast("double")))
    val delta = expr("cast(__sb as double) / cast(n_b as double)") -
      expr("cast(__sa as double) / cast(n_a as double)")
    g.withColumn("__ok",
        col("n_a") >= 2 && col("n_b") >= 2 &&
          (expr("n_a * __saa - __sa * __sa") > 0 ||
            expr("n_b * __sbb - __sb * __sb") > 0))
      .withColumn("mean_a_milli", expr("(__sa * 1000) div n_a"))
      .withColumn("mean_b_milli", expr("(__sb * 1000) div n_b"))
      .withColumn("z_lower_milli", when(col("__ok"),
        floor((delta + lit(marginMilli.toDouble / 1000.0)) / se
          * lit(1000.0)).cast("long")))
      .withColumn("z_upper_milli", when(col("__ok"),
        floor((lit(marginMilli.toDouble / 1000.0) - delta) / se
          * lit(1000.0)).cast("long")))
      .withColumn("verdict",
        when(!col("__ok"), "degenerate")
          .when(least(col("z_lower_milli"), col("z_upper_milli")) >= 1645L,
            "equivalent")
          .otherwise("not_equivalent"))
      .select(col("grp").as(groupCol), col("n_a"), col("n_b"),
        col("mean_a_milli"), col("mean_b_milli"),
        lit(marginMilli).as("margin_milli"),
        col("z_lower_milli"), col("z_upper_milli"), col("verdict"))
  }

  /** A/B experiment readout over an event stream: md5-derandomized 50/50
    * user assignment (the t21/t36 bucketing discipline — assignment is a
    * pure function of the user id, reproducible by any engine), per-event-
    * type user-conversion rates per arm in exact basis points, the uplift
    * delta, and a sample-ratio-mismatch guard (|n_A − n_B| beyond
    * `srmTolBp` of the total flags the experiment as unsound — the FIRST
    * check any experimentation platform runs, integer cross-multiplied).
    *
    * Plan: the arm is a PURE FUNCTION of the user id, so it is recomputed
    * inline on every side that needs it — no user→arm table is ever
    * joined, broadcast, or collected (at the 100 TB event-stream shape the
    * user universe is NOT broadcast-sized, so a materialized assignment
    * table would be the plan's one scale hazard). The whole readout is one
    * distinct on users and one distinct on (user, event_type), both
    * map-side combined; no exchange carries more than the distinct
    * (user, metric) stream. */
  def abUplift(df: DataFrame, userCol: String, typeCol: String,
               seed: String = "ab", srmTolBp: Long = 500L): DataFrame = {
    val users = df.select(col(userCol).cast("long").as("u")).distinct()
      .withColumn("arm", md5Arm(seed, col("u")))
    val sizes = users.groupBy().agg(
      sum(when(col("arm") === "A", 1L).otherwise(0L)).as("n_users_a"),
      sum(when(col("arm") === "B", 1L).otherwise(0L)).as("n_users_b"))
    val convs = df.select(col(userCol).cast("long").as("u"),
        col(typeCol).as("metric")).distinct()
      .withColumn("arm", md5Arm(seed, col("u")))
      .groupBy("metric").agg(
        sum(when(col("arm") === "A", 1L).otherwise(0L)).as("n_conv_a"),
        sum(when(col("arm") === "B", 1L).otherwise(0L)).as("n_conv_b"))
    convs.crossJoin(broadcast(sizes))
      .withColumn("conv_bp_a", expr("(10000 * n_conv_a) div n_users_a"))
      .withColumn("conv_bp_b", expr("(10000 * n_conv_b) div n_users_b"))
      .withColumn("uplift_bp", col("conv_bp_b") - col("conv_bp_a"))
      .withColumn("srm_flag",
        abs(col("n_users_a") - col("n_users_b")) * 10000 >
          (col("n_users_a") + col("n_users_b")) * srmTolBp)
  }

  /** Classical seasonal decomposition per key over a daily series —
    * X = trend + seasonal + residual (the textbook moving-average method;
    * Persons 1919 lineage, the pre-STL decomposition every monitoring
    * stack starts from): the DESEASONALIZER in front of this family's
    * drift monitors ([[ksReport]]/[[psiReport]] compare distributions,
    * e21's CUSUM watches a mean, e18's z-scores assume a stable baseline
    * — all of them false-alarm on a weekly rhythm unless it is removed
    * first; the residual column here is the honest input to them).
    *
    * Method, all exact integers: values enter as floor(value·100)
    * (the cuped fixed-point discipline) summed per (key, day) — a missing
    * day is an explicit x=0 grid row, not a silently skipped window slot;
    * trend = centered `period`-day moving average, kept in milli units as
    * (Σwindow · 1000) div period and defined ONLY where the full window
    * exists (edges stay NULL — honest, the e12 convention); seasonal =
    * per-phase (epoch-day mod period) integer mean of the detrended
    * series, re-centered to sum≈zero by subtracting the phase-mean (div
    * truncation stated — all three engines truncate toward zero alike);
    * residual = detrended − seasonal. No floats anywhere.
    *
    * 100 TB shape: ONE map-side-combined (key, day) rollup is the only
    * corpus-sized exchange; the grid is keys × span (bounded), the
    * windows run per key over day counts (span-bounded state), the phase
    * table is keys × period cells. `period` must be odd (the centered MA;
    * even periods need the 2×m-MA — out of scope, stated). */
  /** Shared zero-filled per-key daily grid (the e23 rollup): ONE
    * map-side-combined (key, day) groupBy is the only corpus-sized
    * exchange; span bounds are two driver scalars (rule 17); missing
    * days are explicit x=0 rows, never silently skipped slots. */
  private def dailyGrid(df: DataFrame, keyCol: String, tsCol: String,
                        valueCol: String, op: String): DataFrame = {
    val daily = df.select(col(keyCol).as("__k"),
        to_date(col(tsCol)).as("d"),
        floor(col(valueCol) * 100).cast("long").as("xc"))
      .groupBy("__k", "d").agg(sum("xc").as("x"))
    val b = daily.agg(min("d").cast("string"), max("d").cast("string")).head()
    require(!b.isNullAt(0), s"$op: empty input")
    val (lo, hi) = (b.getString(0), b.getString(1))
    val grid = daily.select("__k").distinct()
      .withColumn("d", explode(expr(
        s"sequence(to_date('$lo'), to_date('$hi'), interval 1 day)")))
    grid.join(daily, Seq("__k", "d"), "left")
      .select(col("__k"), col("d"),
        datediff(col("d"), lit("1970-01-01")).cast("long").as("di"),
        coalesce(col("x"), lit(0L)).as("x"))
  }

  def seasonalDecompose(df: DataFrame, keyCol: String, tsCol: String,
                        valueCol: String, period: Int = 7): DataFrame = {
    require(period >= 3 && period % 2 == 1,
      s"seasonalDecompose needs an odd period >= 3 (got $period)")
    import org.apache.spark.sql.expressions.Window
    val half = (period - 1) / 2
    val s = dailyGrid(df, keyCol, tsCol, valueCol, "seasonalDecompose")
    val w = Window.partitionBy("__k").orderBy("di")
      .rowsBetween(-half, half)
    val tr = s
      .withColumn("__cnt", count(lit(1)).over(w))
      .withColumn("__s", sum("x").over(w))
      .withColumn("trend_milli",
        when(col("__cnt") === period, expr(s"(__s * 1000) div $period")))
    val dt = tr
      .withColumn("phase", expr(s"di % $period"))
      .withColumn("detr", col("x") * 1000 - col("trend_milli"))
    val sr = dt.filter(col("detr").isNotNull)
      .groupBy("__k", "phase")
      .agg(expr("sum(detr) div count(detr)").as("s_raw"))
    val sa = sr.join(sr.groupBy("__k")
        .agg(expr(s"sum(s_raw) div $period").as("__m")), "__k")
      .select(col("__k"), col("phase"),
        (col("s_raw") - col("__m")).as("seasonal_milli"))
    dt.join(sa, Seq("__k", "phase"))
      .select(col("__k").as(keyCol), col("d").cast("string").as("day"),
        col("x").as("x_centi"), col("trend_milli"), col("seasonal_milli"),
        (col("detr") - col("seasonal_milli")).as("resid_milli"))
  }

  /** Additive Holt–Winters triple exponential smoothing per key over the
    * daily grid (Winters 1960; FPP3 §8.3) — the FORECASTING seat beside
    * [[seasonalDecompose]]'s retrospective split: e23 explains a series
    * you already have; this emits the one-step-ahead expectation and its
    * residual as the stream arrives, which is the baseline every
    * volume/latency monitor actually wants (alarm on resid, not on the
    * raw value, and the weekly rhythm stops paging — feed `resid_milli`
    * to [[cusumReport]]/e18 exactly like e23's residual column).
    *
    * Semantics and exactness live in
    * [[graft.functions.ForecastExpressions]]: ppm smoothing weights,
    * milli fixed-point states, truncating division, the stated
    * first-season init, honest NULLs on the seed rows, loud 10¹²
    * bounds. The smoothing defaults (α=.3, β=.05, γ=.2 in ppm) are the
    * conventional monitoring-range constants, overridable per call.
    *
    * 100 TB shape: the corpus-sized work IS [[dailyGrid]]'s one
    * map-side-combined rollup; the recursion then runs as one compiled
    * JVM pass per key over the (keys × span)-bounded grid via
    * collect_list — per-key state is the series itself (the e23 law),
    * never corpus rows. No window, no interpreted fold, no driver loop. */
  def holtWinters(df: DataFrame, keyCol: String, tsCol: String,
                  valueCol: String, period: Int = 7,
                  alphaPpm: Long = 300000L, betaPpm: Long = 50000L,
                  gammaPpm: Long = 200000L): DataFrame = {
    val g = dailyGrid(df, keyCol, tsCol, valueCol, "holtWinters")
      .groupBy("__k")
      .agg(collect_list(struct(col("di"), col("x"))).as("__grid"))
      .select(col("__k"), posexplode(
        graft.functions.ForecastExpressions.holt_winters(
          col("__grid"), alphaPpm, betaPpm, gammaPpm, period)))
    g.select(col("__k").as(keyCol),
      expr("cast(date_add(date'1970-01-01', cast(col.di as int)) as string)")
        .as("day"),
      col("col.x_centi").as("x_centi"),
      col("col.fc_milli").as("fc_milli"),
      col("col.resid_milli").as("resid_milli"),
      col("col.level_milli").as("level_milli"),
      col("col.trend_milli").as("trend_milli"))
  }

  /** Two-sided CUSUM change detection (Page 1954) per key over an
    * ordered integer reading stream — the SEQUENTIAL drift monitor
    * beside [[psiReport]]'s two-window snapshot: PSI compares
    * distributions you already chose to compare; CUSUM watches the
    * stream and tells you WHEN the mean shifted (the classic SPC
    * recursion S⁺_t = max(0, S⁺_{t−1} + (x_t − upperTarget)), alarm at
    * S⁺ > h; mirrored with lowerTarget for downward shifts).
    *
    * The recursion is NOT window-expressible as written — but it has the
    * exact prefix identity S⁺_t = P_t − min(0, min_{j<t} P_j) with
    * P_t = Σ(x_i − upperTarget), so the whole trajectory computes as ONE
    * per-key running sum + ONE running min — O(1) state per row, no
    * sequential fold, no collected history (the e13 fold discipline made
    * distributable). All integer: readings, prefixes, thresholds.
    *
    * Output per key: `n`, `max_sp`/`max_sn` (peak upper/lower CUSUM),
    * `n_alarm_up`/`n_alarm_down` (rows above `h`), `first_up`/
    * `first_down` (order key of the first alarm, NULL if never — the
    * change-point estimate a responder acts on).
    *
    * 100 TB shape: one exchange on the key, two running window frames
    * over it, one map-side-combined per-key reduce. A single giant key
    * serializes its own partition (the stated window-keyed skew note —
    * shard the key upstream if one stream dominates; the e22 registry row
    * measures the sharded shape). The ONLINE arm is
    * [[graft.streaming.StreamingCusum]] — the same identity as O(1)
    * keyed state, rebuild-equivalent per micro-batch. */
  def cusumReport(readings: DataFrame, keyCol: String, orderCol: String,
                  valueCol: String, upperTarget: Long, lowerTarget: Long,
                  h: Long): DataFrame = {
    require(h > 0 && upperTarget >= lowerTarget,
      s"cusumReport needs h > 0 and upperTarget >= lowerTarget " +
        s"(got $h / $upperTarget / $lowerTarget)")
    Guards.requireIntegral(readings, valueCol, "cusumReport")
    import org.apache.spark.sql.expressions.Window
    val cum = Window.partitionBy("__k").orderBy(col("__o").asc)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val before = Window.partitionBy("__k").orderBy(col("__o").asc)
      .rowsBetween(Window.unboundedPreceding, -1)
    readings.select(col(keyCol).as("__k"), col(orderCol).as("__o"),
        col(valueCol).cast("long").as("__x"))
      .withColumn("pu", sum(col("__x") - upperTarget).over(cum))
      .withColumn("pd", sum(lit(lowerTarget) - col("__x")).over(cum))
      .withColumn("sp", greatest(col("pu") -
        least(coalesce(min(col("pu")).over(before), lit(0L)), lit(0L)),
        lit(0L)))
      .withColumn("sn", greatest(col("pd") -
        least(coalesce(min(col("pd")).over(before), lit(0L)), lit(0L)),
        lit(0L)))
      .groupBy(col("__k").as(keyCol)).agg(
        count(lit(1)).as("n"),
        max(col("sp")).as("max_sp"),
        max(col("sn")).as("max_sn"),
        sum(when(col("sp") > h, 1L).otherwise(0L)).as("n_alarm_up"),
        sum(when(col("sn") > h, 1L).otherwise(0L)).as("n_alarm_down"),
        min(when(col("sp") > h, col("__o"))).as("first_up"),
        min(when(col("sn") > h, col("__o"))).as("first_down"))
  }
}
