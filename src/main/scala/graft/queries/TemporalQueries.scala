package graft.queries

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.Tables
import graft.functions.text
import graft.operators.{AsOfJoin, Chunker, Features, Intervals, Sessionize}

/** Temporal + chunking coverage: as-of join (SURVEY Q13), neighbor padding
  * (Q8), tumbling-window aggregation (the batch twin of the streaming path),
  * and the chunk exploder (C1). Oracles use DuckDB's native ASOF JOIN and
  * window functions.
  */
object TemporalQueries {

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "e1_asof_join" -> ((s, d) => asofJoin(s, d)),
    "e2_padding_neighbors" -> ((s, d) => paddingNeighbors(s, d)),
    "e3_window_agg" -> ((s, d) => windowAgg(s, d)),
    "c1_chunks_fixed" -> ((s, d) => chunksFixed(s, d)),
    "c2_chunks_recursive" -> ((s, d) => chunksRecursive(s, d)),
    "c3_contextual_chunks" -> ((s, d) => contextualChunks(s, d)),
    "e4_asof_nearest" -> ((s, d) => asofNearest(s, d)),
    "e5_interval_join" -> ((s, d) => intervalJoin(s, d)),
    "e6_sessionize" -> ((s, d) => sessionize(s, d)),
    "e7_resample_locf" -> ((s, d) => resampleLocf(s, d)),
    "e9_funnel" -> ((s, d) => funnelQ(s, d)),
    "e10_retention" -> ((s, d) => retentionQ(s, d)),
    "e11_winsorize" -> ((s, d) => winsorizeQ(s, d)),
    "e12_history_features" -> ((s, d) => historyFeaturesQ(s, d)),
    "e13_ewma" -> ((s, d) => ewmaQ(s, d)),
    "e8_ohlc" -> ((s, d) => ohlc(s, d)),
    "e14_resample_interp" -> ((s, d) => resampleInterpQ(s, d)),
    "c4_cdc_chunks" -> ((s, d) => cdcChunksQ(s, d)),
    "e15_tick_coverage" -> ((s, d) => tickCoverageQ(s, d)),
    "e16_interval_union" -> ((s, d) => intervalUnionQ(s, d)),
    "e17_target_encode" -> ((s, d) => targetEncodeQ(s, d)),
    "e18_rolling_anomaly" -> ((s, d) => rollingAnomalyQ(s, d)),
    "e19_ab_uplift" -> ((s, d) => abUpliftQ(s, d)),
    "e20_cuped" -> ((s, d) => cupedQ(s, d)),
    "e21_cusum" -> ((s, d) => cusumQ(s, d)),
    "e22_cusum_sharded" -> ((s, d) => cusumShardedQ(s, d)),
    "e23_seasonal" -> ((s, d) => seasonalQ(s, d)),
    "e24_fdr_bh" -> ((s, d) => fdrQ(s, d)),
    "e25_acf" -> ((s, d) => acfQ(s, d)),
    "e26_benford" -> ((s, d) => benfordQ(s, d)),
    "e27_seasonal_strength" -> ((s, d) => seasonalStrengthQ(s, d)),
    "e28_holt_winters" -> ((s, d) => holtWintersQ(s, d)),
    "e29_tost" -> ((s, d) => tostQ(s, d)),
    "e30_mann_kendall" -> ((s, d) => mannKendallQ(s, d)),
    "c5_texttile" -> ((s, d) => textTileQ(s, d))
  )

  /** [[graft.operators.Features.seasonalStrength]] over ONE e23
    * decomposition of ten keys: the five raw event streams (no weekly
    * rhythm in the generator — strength reads near 0, the "skip the
    * deseasonalizer" verdict) unioned with five `_w`-suffixed PLANTED
    * arms (+500 per event on epoch-day-phase-0 — the named rule; the
    * weekly spike dominates the daily rollup and strength reads near
    * 10⁶: strongly seasonal). Both verdicts from one dataflow, the
    * whole decomposition replayed underneath. */
  def seasonalStrengthQ(spark: SparkSession, dir: String): DataFrame = {
    val ev = Tables.events(spark, dir)
    val planted = ev.select(
      concat(col("event_type"), lit("_w")).as("event_type"), col("ts"),
      (col("value") + when(
        pmod(datediff(col("ts").cast("date"),
          to_date(lit("1970-01-01"))), lit(7)) === 0, 500.0)
        .otherwise(0.0)).as("value"))
    val src = ev.select("event_type", "ts", "value").unionByName(planted)
    graft.operators.Features.seasonalStrength(
      graft.operators.Features.seasonalDecompose(src, "event_type", "ts",
        "value", period = 7), "event_type")
      .orderBy("event_type")
  }

  /** [[graft.operators.Features.holtWinters]] over the same raw+planted
    * union as e27 (five raw event-type streams + their '_w' twins with
    * the +500 epoch-day-phase-0 weekly spike): the '_w' arms' seasonal
    * vector ABSORBS the spike — after the burn-in the spike-day
    * residuals on event_type_w sit in the same band as the raw arm's,
    * which is precisely the monitor-baseline property the operator
    * exists for (a raw-value monitor would page weekly). The whole
    * level/trend/seasonal recursion replays in the oracle's recursive
    * CTE — one wrong truncation in any of ~3600 steps flips the row. */
  def holtWintersQ(spark: SparkSession, dir: String): DataFrame = {
    val ev = Tables.events(spark, dir)
    val planted = ev.select(
      concat(col("event_type"), lit("_w")).as("event_type"), col("ts"),
      (col("value") + when(
        pmod(datediff(col("ts").cast("date"),
          to_date(lit("1970-01-01"))), lit(7)) === 0, 500.0)
        .otherwise(0.0)).as("value"))
    val src = ev.select("event_type", "ts", "value").unionByName(planted)
    graft.operators.Features.holtWinters(src, "event_type", "ts", "value",
        period = 7)
      .orderBy("event_type", "day")
  }

  /** [[graft.operators.Features.tostEquivalence]] on two planted swaps
    * of the events value stream (md5 arm split on event_id, margin
    * δ = 300 centi ≈ 6% of the mean — a realistic "no worse than"
    * bar): `swap_ok` compares the identical distribution (Δ ≈ 0,
    * se ≈ 100 centi at sf0.01 → both one-sided z ≈ +3: EQUIVALENT —
    * the verdict a failed-to-reject uplift test cannot license) and
    * `swap_regressed` gives arm B +500 centi (past the margin: z_upper
    * ≈ −2, NOT equivalent) — both branches discriminate, the ev18
    * two-arm texture. Exact centi fixed-point; means exact milli. */
  def tostQ(spark: SparkSession, dir: String): DataFrame = {
    val ev = Tables.events(spark, dir)
    val a = (text.md5_prefix_long(concat(lit("to:"), col("event_id")), 1, 6) % 2).as("is_a")
    val base = ev.select(a, floor(col("value") * 100).cast("long").as("v"))
    val ok = base.select(lit("swap_ok").as("pair"), col("is_a"), col("v"))
    val reg = base.select(lit("swap_regressed").as("pair"), col("is_a"),
      (col("v") + when(col("is_a") === 0L, 500L).otherwise(0L)).as("v"))
    graft.operators.Features.tostEquivalence(ok.unionByName(reg),
        "pair", "is_a", "v", marginMilli = 300000L)
      .orderBy("pair")
  }

  /** [[graft.operators.Features.mannKendall]] over the raw five
    * event-type daily streams plus planted '_up' / '_dn' drift twins
    * whose per-event value is REPLACED by ±(epoch_day − 19700) — the
    * named rule. The first cut ADDED a per-day drift to the raw value
    * and read no_trend everywhere: a drift ∝ absolute epoch day
    * multiplies the daily EVENT-COUNT noise by ~19,731 (sum(d) =
    * c(d)·(mean + d·δ)), so the series order followed c(d), not the
    * plant — a real lesson in planting trends under count-varying
    * rollups. The replace form's sums c(d)·(d−19700)·100 are
    * count-jittered but trend-dominated: S ≈ +300 of 435 pairs,
    * z ≈ ±5.4, verdicts pin trending_up / trending_down while the raw
    * arms read the generator's honest no_trend. */
  def mannKendallQ(spark: SparkSession, dir: String): DataFrame = {
    val ev = Tables.events(spark, dir)
    val dd = datediff(col("ts").cast("date"), to_date(lit("1970-01-01")))
      .cast("double") - 19700.0
    def arm(suffix: String, v: Column) = ev.select(
      concat(col("event_type"), lit(suffix)).as("event_type"),
      col("ts"), v.as("value"))
    val src = ev.select("event_type", "ts", "value")
      .unionByName(arm("_up", dd))
      .unionByName(arm("_dn", -dd))
    graft.operators.Features.mannKendall(src, "event_type", "ts", "value")
      .orderBy("event_type")
  }

  /** [[graft.operators.Features.benfordReport]] on two value feeds:
    * the real centi-value stream (exponential-ish magnitudes — closer
    * to Benford than anything uniform, but a 10⁴-sample χ² still
    * resolves its deviation: non-conformant with a moderate statistic)
    * and a planted UNIFORM 4-digit feed (every first digit ≈ 1/9 — the
    * flat-digit fabrication signature, χ² two orders larger). The
    * spec pins the conformant branch on an exact Benford multinomial;
    * here the discriminating TEXTURE between organic and fabricated is
    * the demonstration. */
  def benfordQ(spark: SparkSession, dir: String): DataFrame = {
    val ev = Tables.events(spark, dir)
    val organic = ev.select(floor(col("value") * 100).cast("long").as("x"))
    val uniform = ev.select(
      (text.md5_prefix_long(concat(lit("bf:"), col("event_id")), 1, 6) % 9000 + 1000).as("x"))
    graft.operators.Features.benfordReport(organic, "x")
      .select(lit("value_centi").as("feature"), col("*"))
      .unionByName(graft.operators.Features.benfordReport(uniform, "x")
        .select(lit("uniform_4digit").as("feature"), col("*")))
      .orderBy("feature", "digit")
  }

  /** [[graft.operators.Features.acfReport]] at lags 1..6 per event_type
    * over the rank-indexed value series with a PLANTED ±7500-centi
    * period-6 square wave riding the real readings (noise σ ≈ 4910
    * centi, so the wave carries ~70% of the variance — the t18
    * named-rule convention): the ACF pattern is the square-wave
    * signature scaled by the variance share — strongly positive at lag
    * 6 (acf01 ≈ 0.85·10⁶), strongly negative at lag 3 (≈ 0.15·10⁶),
    * ±ρ/3 texture at the other lags — every lag discriminating, both
    * signs populated. */
  def acfQ(spark: SparkSession, dir: String): DataFrame = {
    val r = Tables.events(spark, dir)
      .withColumn("t", row_number().over(
        Window.partitionBy("event_type").orderBy("event_id")).cast("long"))
      .select(col("event_type"), col("t"),
        (floor(col("value") * 100).cast("long") +
          when(pmod(col("t"), lit(6)) < 3, 7500L).otherwise(-7500L)).as("x"))
    graft.operators.Features.acfReport(r, "event_type", "t", "x", maxLag = 6)
      .orderBy("event_type", "lag")
  }

  /** [[graft.operators.Evals.fdrBh]] over a 25-metric battery
    * (event_type × user-shard), each metric's p-value from the ev13
    * sign-flip permutation kernel run PER GROUP in one dataflow:
    * per-(metric, user) integer deltas with planted per-metric shifts
    * (md5(metric) % 4 routes ~¼ of metrics to a strong −300 shift that
    * pins p at the 1/201 floor, ~¼ to a weak −120 shift that lands
    * borderline, half to null) — so the step-up boundary is genuinely
    * exercised: strong metrics reject, nulls survive, and the weak tier
    * splits on the rank-dependent threshold. The battery-sized BH
    * windows ride 25 rows; the corpus-sized work is the one 200-way
    * flip explode into a (metric, rep) map-side-combined groupBy (the
    * ev8/ev13 cell law — 5,000 cells at any corpus size). */
  def fdrQ(spark: SparkSession, dir: String): DataFrame = {
    def h(parts: Column*): Column =
      text.md5_prefix_long(concat(parts: _*), 1, 6)
    val items = Tables.events(spark, dir)
      .select(concat(col("event_type"), lit("_m"),
          pmod(col("user_id"), lit(5))).as("metric"),
        col("user_id").as("item"))
      .distinct()
    // |metric × item|-bounded (7,500 rows at sf0.1) with two consumers
    // (the observed-stat rollup and the flip stream): checkpointed so the
    // corpus scan + distinct run once (rule 14)
    val deltas = graft.StageCut(items.withColumn("shift",
        when(h(lit("ms:"), col("metric")) % 4 === 0, 300L)
          .when(h(lit("ms:"), col("metric")) % 4 === 1, 120L)
          .otherwise(0L))
      .select(col("metric"), col("item"),
        (h(lit("fa:"), col("metric"), lit(":"), col("item")) % 1000
          - h(lit("fb:"), col("metric"), lit(":"), col("item")) % 1000
          - col("shift")).as("dd")), "fdrQ.deltas")
    val obs = deltas.groupBy("metric")
      .agg(sum(col("dd")).as("obs_sum"), count(lit(1)).as("n_items"))
    // 25 rows, two consumers (the BH ranking and the stats join-back):
    // stage cut so the corpus-sized flip dataflow runs once (rule 14)
    // The 200-way flip explode multiplies ROWS but not partitions, and AQE
    // sizes the upstream shuffle read on PRE-explosion bytes — measured:
    // the whole 1.5M-md5 flip stream ran on ONE task (probe, r18; the md5
    // chain is ~0.7 µs/row, so the single-core stream carried ~1 s of the
    // query). The key must DIFFER from the upstream grouping or Catalyst
    // collapses this into the distinct's ENSURE_REQUIREMENTS exchange,
    // which AQE coalesces right back to 1 partition; `item` alone keeps it
    // a REPARTITION_BY_NUM exchange AQE must preserve. Partition count
    // from the session's shuffle parallelism, never a constant (scale-
    // adaptive); the key is deterministic (guide §2.5).
    val pvals = graft.StageCut(deltas
      .repartition(deltas.sparkSession.sessionState.conf.numShufflePartitions,
        col("item"))
      .select(col("metric"), col("item"), col("dd"),
        explode(sequence(lit(1), lit(200))).as("rep"))
      .withColumn("sd", when(
        h(lit("fp:"), col("rep"), lit(":"), col("metric"), lit(":"),
          col("item")) % 2 === 0, col("dd")).otherwise(-col("dd")))
      .groupBy("metric", "rep").agg(sum(col("sd")).as("s"))
      .join(broadcast(obs), "metric")
      .groupBy("metric")
      .agg(first(col("n_items")).as("n_items"),
        first(col("obs_sum")).as("obs_sum"),
        count(lit(1)).as("b"),
        sum(when(abs(col("s")) >= abs(col("obs_sum")), 1L).otherwise(0L))
          .as("n_extreme"))
      .select(col("metric"), col("n_items"), col("obs_sum"),
        expr("((1 + n_extreme) * 1000000) div (b + 1)").as("p_ppm")), "fdrQ.pvals")
    graft.operators.Evals.fdrBh(pvals.select("metric", "p_ppm"),
        "metric", "p_ppm", alphaPpm = 50000L)
      .join(broadcast(pvals.select("metric", "n_items", "obs_sum")), "metric")
      .select(col("metric"), col("n_items"), col("obs_sum"), col("p_ppm"),
        col("rank"), col("m"), col("crit_ppm"), col("rejected"))
      .orderBy("rank")
  }

  /** [[graft.operators.Features.cusumReport]] per event_type in event_id
    * order, readings = floor(value·100) with PLANTED level shifts in the
    * stream's second half (event_id ≥ 5000): 'error' +2500 (the upward
    * monitor fires — 843 alarms from event 5824 at sf0.01), 'view' −2500
    * (the downward monitor fires), the other three stay quiet under
    * targets 6000/4000 and h = 200000 — both alarm branches and the
    * quiet path all populated, change points localized within ~800
    * events of the planted shift. */
  def cusumQ(spark: SparkSession, dir: String): DataFrame = {
    val r = Tables.events(spark, dir).select(col("event_type"),
        col("event_id"),
        (floor(col("value") * 100).cast("long") +
          when(col("event_type") === "error" && col("event_id") >= 5000,
            2500L)
            .when(col("event_type") === "view" && col("event_id") >= 5000,
              -2500L)
            .otherwise(0L)).as("reading"))
    graft.operators.Features.cusumReport(r, "event_type", "event_id",
        "reading", upperTarget = 6000L, lowerTarget = 4000L, h = 200000L)
      .orderBy("event_type")
  }

  /** e21's PRODUCTION-KEY-SHAPE receipt (r13 verdict ask #3): the same
    * two-sided CUSUM monitor keyed by metric × user-shard
    * (event_type ‖ ':' ‖ user_id % 64 — 320 independent streams at
    * sf0.01, ~31 events each) instead of the five-key fixture. e21's x64
    * ratio 15.0 is the window-keyed skew law (five keys serialize onto
    * five partitions); THIS row is the stated production shape — hundreds
    * of keys spread the two running frames across every partition, and
    * its own x64 ratio is the measured receipt that the adjudication was
    * right. h = 20000 discriminates on the short streams: 114 up-only /
    * 61 down-only / 26 both / 119 quiet keys — all verdict paths
    * populated. */
  def cusumShardedQ(spark: SparkSession, dir: String): DataFrame = {
    val r = Tables.events(spark, dir).select(
        concat(col("event_type"), lit(":"),
          (col("user_id") % 64).cast("string")).as("ckey"),
        col("event_id"),
        (floor(col("value") * 100).cast("long") +
          when(col("event_type") === "error" && col("event_id") >= 5000,
            2500L)
            .when(col("event_type") === "view" && col("event_id") >= 5000,
              -2500L)
            .otherwise(0L)).as("reading"))
    graft.operators.Features.cusumReport(r, "ckey", "event_id",
        "reading", upperTarget = 6000L, lowerTarget = 4000L, h = 20000L)
      .orderBy("ckey")
  }

  /** [[graft.operators.Features.seasonalDecompose]] of the daily value
    * series per event_type at period 7 — the weekly deseasonalizer in
    * front of this family's monitors (a weekly rhythm false-alarms e18's
    * z-scores and e21's CUSUM unless removed first). 30 days × 5 types at
    * sf0.01: 150 rows, 6 NULL-trend edge rows per type (the honest
    * no-full-window contract), 7 distinct seasonal indices per type. The
    * corpus carries only weak weekly structure, so the row pins the
    * decomposition ARITHMETIC (the t34 convention — quality of the
    * seasonal fit is the planted-fixture spec's job). */
  def seasonalQ(spark: SparkSession, dir: String): DataFrame =
    graft.operators.Features.seasonalDecompose(Tables.events(spark, dir),
        "event_type", "ts", "value", period = 7)
      .orderBy("event_type", "day")

  /** [[graft.operators.Features.cuped]] over the event stream with the
    * month split at Jan 16 (pre-period covariate = each user's first-half
    * value sum, experiment metric = second-half sum; e19's md5 arms).
    * Per-user X and Y correlate through activity rate, so θ and the
    * realized variance-reduction fraction are genuinely nonzero and the
    * adjusted means actually move — the whole five-moment + θ +
    * adjustment float chain is value-gated in one stated op order. */
  def cupedQ(spark: SparkSession, dir: String): DataFrame =
    graft.operators.Features.cuped(Tables.events(spark, dir),
      "user_id", "ts", "value", "2024-01-16 00:00:00")
      .orderBy("arm")

  /** [[graft.operators.Chunker.textTileGaps]] over the corpus — the
    * TextTiling cohesion profile at w=8/k=2/radius=3/threshold 0.25: one
    * row per inter-block gap with its Dice cohesion, depth score, and
    * boundary verdict. This corpus is topic-less word soup, so the
    * VERDICTS are noise by design — the oracle gates the pipeline's
    * arithmetic (overlap counts, exact integer Dice, windowed peaks,
    * threshold), the t34 convention; segmentation QUALITY on a planted
    * two-topic fixture is ChunkerSpec's job. sf0.01 yields both verdicts
    * (899 true / 2210 false), so the cut discriminates. */
  def textTileQ(spark: SparkSession, dir: String): DataFrame =
    graft.operators.Chunker.textTileGaps(
      graft.Tables.scaled(graft.Tables.documents(spark, dir)),
      "doc_id", "text")
      .orderBy("doc_id", "gap")

  /** Hourly tick-coverage data-quality report over the purchase stream —
    * the gate that decides whether e7/e14's fills are resampling or
    * fabrication. No grid explode: bounds arithmetic + one distinct-tick
    * aggregation + one lag window, safe on corrupted spans. */
  def tickCoverageQ(spark: SparkSession, dir: String): DataFrame =
    AsOfJoin.tickCoverage(
      Tables.events(spark, dir).filter(col("event_type") === "purchase"),
      "user_id", "ts", stepSec = 3600L)
      .orderBy("user_id")

  /** Content-defined chunking over the corpus (k=5, divisor 64 → ~64-char
    * expected chunks, maxLen 192 backstop): the dedup-friendly chunk
    * layout whose boundaries survive edits that shift every c1
    * fixed-width chunk. One narrow kernel map + posexplode; the md5 gate
    * pins every chunk's exact byte span. */
  def cdcChunksQ(spark: SparkSession, dir: String): DataFrame =
    Tables.documents(spark, dir)
      .select(col("doc_id"),
        posexplode(graft.functions.CdcExpressions.cdc_chunks(
          col("text"), k = 5, divisor = 64L, maxLen = 192))
          .as(Seq("chunk_idx", "chunk")))
      .select(col("doc_id"), col("chunk_idx").cast("long").as("chunk_idx"),
        length(col("chunk")).cast("long").as("n_chars"),
        md5(col("chunk")).as("chunk_md5"))
      .orderBy("doc_id", "chunk_idx")

  /** Hourly linear-interpolation resample of the purchase stream (e7's
    * FILL(LINEAR) sibling): exact-hit ticks take their event value,
    * bracketed ticks take the line between neighbors — the double
    * arithmetic shares its op order with the oracle so raw values hash
    * identically — and leading ticks before the first event stay null. */
  def resampleInterpQ(spark: SparkSession, dir: String): DataFrame = {
    val ev = Tables.events(spark, dir)
      .filter(col("event_type") === "purchase")
      .groupBy("user_id", "ts").agg(max("value").as("value"))
    AsOfJoin.resampleInterp(ev, "user_id", "ts", "value", stepSec = 3600L)
      .select(col("user_id"), unix_micros(col("ts")).as("tick_us"),
        unix_micros(col("prev_ts")).as("prev_us"),
        unix_micros(col("next_ts")).as("next_us"),
        col("value"))
      .orderBy("user_id", "tick_us")
  }

  /** Hourly OHLC bars per user over the purchase stream (same pre-agg
    * determinism contract as e7; open/close ride min_by/max_by on the
    * unique-per-(user,ts) stream). */
  def ohlc(spark: SparkSession, dir: String): DataFrame = {
    val ev = Tables.events(spark, dir)
      .filter(col("event_type") === "purchase")
      .groupBy("user_id", "ts").agg(max("value").as("value"))
    AsOfJoin.ohlcBars(ev, "user_id", "ts", "value", stepSec = 3600L)
      .select(col("user_id"), unix_micros(col("bar_ts")).as("bar_us"),
        round(col("open"), 2).as("open"), round(col("high"), 2).as("high"),
        round(col("low"), 2).as("low"), round(col("close"), 2).as("close"),
        col("n"))
      .orderBy("user_id", "bar_us")
  }

  /** Regular-grid resample + forward fill: each user's purchase stream
    * sampled onto an hourly tick grid, every tick carrying the latest
    * purchase at-or-before it (null before the first — honest gaps).
    * Duplicate (user, ts) events pre-aggregate with max(), the backward
    * join's determinism contract. */
  def resampleLocf(spark: SparkSession, dir: String): DataFrame = {
    val ev = Tables.events(spark, dir)
      .filter(col("event_type") === "purchase")
      .groupBy("user_id", "ts").agg(max("value").as("value"))
    AsOfJoin.resampleLocf(ev, "user_id", "ts", Seq("value"), stepSec = 3600L)
      .select(col("user_id"), unix_micros(col("ts")).as("tick_us"),
        unix_micros(col("asof_ts")).as("asof_us"),
        round(col("asof_value"), 2).as("value"))
      .orderBy("user_id", "tick_us")
  }

  /** Gap-based sessionization via Spark's NATIVE session_window, gated
    * against a first-principles gaps-and-islands oracle (new session when
    * the gap to the previous same-user event is STRICTLY > 30 min —
    * boundary-touching windows merge; window end = last event + gap).
    * Timestamps emitted as integer µs. */
  def sessionize(spark: SparkSession, dir: String): DataFrame =
    Sessionize.rollup(Tables.events(spark, dir), "user_id", "ts", "30 minutes",
      Seq("n_events" -> count(lit(1)),
        "total" -> round(sum("value"), 2)))
      .select(col("user_id"),
        unix_micros(col("session_start")).as("session_start"),
        unix_micros(col("session_end")).as("session_end"),
        col("n_events"), col("total"))
      .orderBy("user_id", "session_start")

  /** Range join via bucketed equi-join ([[Intervals]]): purchases landing
    * inside the 30-minute window after any same-user error. Timestamps in
    * integer µs; 15-minute buckets bound the interval explode at 3×. */
  def intervalJoin(spark: SparkSession, dir: String): DataFrame = {
    val ev = Tables.events(spark, dir).withColumn("tus", unix_micros(col("ts")))
    val errors = ev.filter(col("event_type") === "error")
      .select(col("user_id"), col("event_id").as("err_id"),
        col("tus").as("start"), (col("tus") + lit(1800000000L)).as("end"))
    val purchases = ev.filter(col("event_type") === "purchase")
      .select(col("user_id"), col("event_id"), col("tus").as("t"))
    Intervals.bucketedIntervalJoin(purchases, errors, Seq("user_id"),
      "t", "start", "end", bucketWidth = 900000000L)
      .select(col("event_id"), col("err_id"), col("user_id"),
        (col("t") - col("start")).as("lag_us"))
      .orderBy("event_id", "err_id")
  }

  /** Per-user interval UNION ("total active time"): every event opens a
    * 30-minute activity span; overlapping-or-touching spans merge into
    * maximal islands ([[Intervals.intervalUnion]] gaps-and-islands).
    * Registered shape is the island rows themselves — start/end/merge
    * count all value-checked, not just totals. Integer-µs timestamps
    * keep the comparisons exact across engines. */
  def intervalUnionQ(spark: SparkSession, dir: String): DataFrame = {
    val spans = Tables.events(spark, dir)
      .select(col("user_id"), unix_micros(col("ts")).as("start_us"),
        (unix_micros(col("ts")) + lit(1800000000L)).as("end_us"))
    Intervals.intervalUnion(spans, Seq("user_id"), "start_us", "end_us")
      .select(col("user_id"), col("span_id"), col("start_us"),
        col("end_us"), col("n_merged"))
      .orderBy("user_id", "span_id")
  }

  /** Out-of-fold target encoding over lineitem: category = supplier
    * bucket (100 cats), fold = order-key mod 5, label = quantity > 25.
    * Every encoding is exact integer counts + one global ratio in a
    * stated parenthesization; FeatureSpec pins the no-self-leak prior
    * fallback. */
  def targetEncodeQ(spark: SparkSession, dir: String): DataFrame =
    Features.targetEncode(
      Tables.lineitem(spark, dir)
        .select((col("l_suppkey") % 100).as("cat"),
          (col("l_orderkey") % 5).as("fold"),
          (col("l_quantity") > 25).cast("int").as("y")),
      "cat", "y", "fold", smoothing = 20.0)
      .select(col("category"), col("fold"), col("n_out"), col("pos_out"),
        round(col("encoding"), 6).as("encoding"))
      .orderBy("category", "fold")

  /** Rolling z-score anomaly flags over per-user purchase values:
    * trailing-24 leak-free baseline, fixed-point integer sums, minPrev 8
    * — the fixture yields hundreds of scored rows and dozens of genuine
    * |z|>3 spikes, so the flag logic is value-checked, not vacuous. */
  def rollingAnomalyQ(spark: SparkSession, dir: String): DataFrame =
    Features.rollingAnomaly(
      Tables.events(spark, dir).filter(col("event_type") === "purchase"),
      "user_id", "ts", "event_id", "value")
      .select(col("event_id"), col("user_id"), col("n_prev"),
        round(col("z"), 4).as("z"), col("is_anomaly"))
      .orderBy("event_id")

  /** Q13 `at_time(t, padding)` form: nearest error within ±1 h of each
    * purchase per user (ties -> earlier), timestamps kept in integer µs so
    * distances compare exactly across engines. */
  def asofNearest(spark: SparkSession, dir: String): DataFrame = {
    val ev = Tables.events(spark, dir)
      .withColumn("ts", unix_micros(col("ts")))
    val purchases = ev.filter(col("event_type") === "purchase")
      .select("event_id", "user_id", "ts", "value")
    val errors = ev.filter(col("event_type") === "error")
      .groupBy("user_id", "ts").agg(max("value").as("err_value"))
    AsOfJoin.nearest(purchases, errors, "user_id", "ts", Seq("err_value"),
      toleranceSec = 3600L * 1000000L)
      .select(col("event_id"), col("user_id"), round(col("value"), 2).as("value"),
        col("near_ts"), round(col("near_err_value"), 2).as("near_err_value"),
        col("near_dist"))
      .orderBy("event_id")
  }

  /** C2: fixed chunks with the deterministic situating context prepended. */
  def contextualChunks(spark: SparkSession, dir: String): DataFrame =
    Chunker.contextualChunks(
      Tables.documents(spark, dir).filter(col("doc_id") < 50),
      "doc_id", "text", n = 120, overlap = 20, contextChars = 40)
      .select(col("doc_id"), col("chunk_number").cast("long").as("chunk_number"),
        col("chunk"))
      .orderBy("doc_id", "chunk_number")

  /** Q13: for each purchase, the latest error at-or-before it per user.
    * Right side pre-deduped to one row per (user, ts) for determinism. */
  def asofJoin(spark: SparkSession, dir: String): DataFrame = {
    val ev = Tables.events(spark, dir)
    val purchases = ev.filter(col("event_type") === "purchase")
      .select("event_id", "user_id", "ts", "value")
    val errors = ev.filter(col("event_type") === "error")
      .groupBy("user_id", "ts").agg(max("value").as("err_value"))
    AsOfJoin.backward(purchases, errors, "user_id", "ts", Seq("err_value"))
      .filter(col("asof_ts").isNotNull)
      .select(col("event_id"), col("user_id"),
        round(col("value"), 2).as("value"),
        col("asof_ts"), round(col("asof_err_value"), 2).as("asof_err_value"))
      .orderBy("event_id")
  }

  /** Q8 neighbor expansion: previous/next same-user event around each
    * purchase (lag/lead over one per-user sort — the chunk-padding shape). */
  def paddingNeighbors(spark: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy("user_id").orderBy(col("ts"), col("event_id"))
    Tables.events(spark, dir)
      .withColumn("prev_type", lag("event_type", 1).over(w))
      .withColumn("prev_value", lag("value", 1).over(w))
      .withColumn("next_type", lead("event_type", 1).over(w))
      .filter(col("event_type") === "purchase")
      .select(col("event_id"), col("user_id"), col("prev_type"),
        round(col("prev_value"), 2).as("prev_value"), col("next_type"))
      .orderBy("event_id")
  }

  /** Tumbling 1-hour window aggregate by event type (batch semantics of the
    * streaming aggregation; same plan shape as `groupBy(window(...))`). */
  def windowAgg(spark: SparkSession, dir: String): DataFrame =
    Tables.events(spark, dir)
      .groupBy(window(col("ts"), "1 hour").as("w"), col("event_type"))
      .agg(count(lit(1)).as("n"), round(sum("value"), 2).as("total"))
      .select(col("w.start").as("window_start"), col("event_type"), col("n"), col("total"))
      .orderBy("window_start", "event_type")

  /** C1 fixed sliding chunks (declarative exploder, no UDF). */
  def chunksFixed(spark: SparkSession, dir: String): DataFrame =
    Chunker.fixedChunks(
      Tables.documents(spark, dir).filter(col("doc_id") < 50),
      "doc_id", "text", n = 120, overlap = 20)
      .select(col("doc_id"), col("chunk_number").cast("long").as("chunk_number"),
        col("chunk"))
      .orderBy("doc_id", "chunk_number")

  /** C1 recursive splitter (reference-faithful; rows-only gate + goldens in
    * ChunkerSpec since the recursion isn't reasonably SQL-expressible). */
  def chunksRecursive(spark: SparkSession, dir: String): DataFrame =
    Chunker.recursiveChunks(
      Tables.documents(spark, dir), "doc_id", "text",
      chunkSize = 200, overlap = 20)
      .select(col("doc_id"), col("chunk_number").cast("long").as("chunk_number"),
        md5(col("chunk")).as("chunk_md5"), length(col("chunk")).cast("long").as("chunk_len"))
      .orderBy("doc_id", "chunk_number")

  /** Strict-order view→click→purchase funnel, 72 h journey window. */
  def funnelQ(spark: SparkSession, dir: String): DataFrame =
    graft.operators.Funnel.funnel(Tables.events(spark, dir),
      "user_id", "event_type", "ts",
      Seq("view", "click", "purchase"), windowSec = 72 * 3600)
      .orderBy("step_idx")

  /** Weekly retention cohorts over first-event anchors. */
  def retentionQ(spark: SparkSession, dir: String): DataFrame =
    graft.operators.Funnel.retention(Tables.events(spark, dir),
      "user_id", "ts", periodSec = 7 * 86400)
      .orderBy("cohort", "week_offset")

  /** Exact per-type winsorize fences (p01/p99) + outlier tallies over the
    * event values — both engines interpolate at rank (n−1)·p; fences
    * rounded at 6dp for the hash gate, tallies exact integers. */
  def winsorizeQ(spark: SparkSession, dir: String): DataFrame =
    graft.operators.Features.winsorizeStats(
      Tables.events(spark, dir), "event_type", "value")
      .select(col("event_type"), round(col("p_lo"), 6).as("p_lo"),
        round(col("p_hi"), 6).as("p_hi"),
        col("n_below"), col("n_above"), col("n_total"))
      .orderBy("event_type")

  /** Leak-free per-user history features on the event stream: prior-only
    * frames, (ts, event_id) total order, integer-µs gaps, 4dp mean. */
  def historyFeaturesQ(spark: SparkSession, dir: String): DataFrame =
    graft.operators.Features.historyFeatures(Tables.events(spark, dir),
      "user_id", "ts", "event_id", "value")
      .select(col("event_id"), col("user_id"), col("n_prior"),
        col("us_since_prev"), round(col("prev_mean3"), 4).as("prev_mean3"))
      .orderBy("event_id")

  /** Per-user fixed-point EWMA (α=1/8, ×1e6 scale) over the full ordered
    * event history — the oracle replays the identical integer fold via
    * list_reduce, value-checking every step's truncation. */
  def ewmaQ(spark: SparkSession, dir: String): DataFrame =
    graft.operators.Features.ewmaFixedPoint(Tables.events(spark, dir),
      "user_id", "ts", "event_id", "value")
      .select(col("user_id"), col("n"), col("ewma_fp"))
      .orderBy("user_id")

  /** A/B readout over the events stream: md5 50/50 user assignment, one
    * conversion row per event type, exact-bp rates + uplift, SRM guard at
    * 500 bp tolerance. */
  def abUpliftQ(spark: SparkSession, dir: String): DataFrame =
    graft.operators.Features.abUplift(Tables.events(spark, dir),
        "user_id", "event_type")
      .orderBy("metric")

  def oracles: Map[String, String] = Map(
    "c5_texttile" ->
      ("""WITH n AS (SELECT doc_id, trim(regexp_replace(lower(text), '\s+', ' ', 'g')) AS norm FROM documents),
         |tk0 AS (SELECT doc_id, list_filter(string_split(norm, ' '), t -> len(t) > 0) AS tk FROM n),
         |base AS (SELECT doc_id, tk, ((len(tk) + 7) // 8)::BIGINT AS nb FROM tk0 WHERE len(tk) >= 9),
         |gaps AS (SELECT doc_id, g,
         |    list_slice(tk, greatest(g - 2, 0) * 8 + 1, g * 8) AS lft,
         |    list_slice(tk, g * 8 + 1, least(nb, g + 2) * 8) AS rgt
         |  FROM base, (SELECT unnest(range(1, 64)) AS g) r WHERE g <= nb - 1),
         |lt AS (SELECT doc_id, g, tok, count(*) AS c FROM (SELECT doc_id, g, unnest(lft) AS tok FROM gaps) GROUP BY 1, 2, 3),
         |rt AS (SELECT doc_id, g, tok, count(*) AS c FROM (SELECT doc_id, g, unnest(rgt) AS tok FROM gaps) GROUP BY 1, 2, 3),
         |ov AS (SELECT lt.doc_id, lt.g, sum(least(lt.c, coalesce(rt.c, 0))) AS m
         |  FROM lt LEFT JOIN rt ON lt.doc_id = rt.doc_id AND lt.g = rt.g AND lt.tok = rt.tok GROUP BY 1, 2),
         |sims AS (SELECT gp.doc_id, gp.g, ((2 * coalesce(ov.m, 0) * 1000000) // (len(gp.lft) + len(gp.rgt)))::BIGINT AS sim
         |  FROM gaps gp LEFT JOIN ov ON gp.doc_id = ov.doc_id AND gp.g = ov.g),
         |d AS (SELECT doc_id, g, sim,
         |  coalesce(max(sim) OVER (PARTITION BY doc_id ORDER BY g ROWS BETWEEN 3 PRECEDING AND 1 PRECEDING), sim) AS ml,
         |  coalesce(max(sim) OVER (PARTITION BY doc_id ORDER BY g ROWS BETWEEN 1 FOLLOWING AND 3 FOLLOWING), sim) AS mr
         |  FROM sims)
         |SELECT doc_id, g AS gap, sim AS sim_ppm,
         |  (greatest(ml - sim, 0) + greatest(mr - sim, 0))::BIGINT AS depth_ppm,
         |  (greatest(ml - sim, 0) + greatest(mr - sim, 0)) >= 250000 AS is_boundary
         |FROM d ORDER BY doc_id, gap""").stripMargin,
    "e19_ab_uplift" ->
      """WITH u AS (SELECT DISTINCT user_id AS u FROM events),
        |ua AS (SELECT u, CASE WHEN ('0x' || substr(md5('ab:' || u), 1, 6))::BIGINT % 2 = 0
        |                      THEN 'A' ELSE 'B' END AS arm FROM u),
        |sz AS (SELECT sum(CASE WHEN arm = 'A' THEN 1 ELSE 0 END)::BIGINT AS n_users_a,
        |         sum(CASE WHEN arm = 'B' THEN 1 ELSE 0 END)::BIGINT AS n_users_b FROM ua),
        |c AS (SELECT DISTINCT user_id AS u, event_type AS metric FROM events),
        |cv AS (SELECT c.metric,
        |         sum(CASE WHEN ua.arm = 'A' THEN 1 ELSE 0 END)::BIGINT AS n_conv_a,
        |         sum(CASE WHEN ua.arm = 'B' THEN 1 ELSE 0 END)::BIGINT AS n_conv_b
        |       FROM c JOIN ua USING (u) GROUP BY c.metric)
        |SELECT cv.metric, cv.n_conv_a, cv.n_conv_b, sz.n_users_a, sz.n_users_b,
        |  ((10000 * cv.n_conv_a) // sz.n_users_a)::BIGINT AS conv_bp_a,
        |  ((10000 * cv.n_conv_b) // sz.n_users_b)::BIGINT AS conv_bp_b,
        |  (((10000 * cv.n_conv_b) // sz.n_users_b)
        |    - ((10000 * cv.n_conv_a) // sz.n_users_a))::BIGINT AS uplift_bp,
        |  (abs(sz.n_users_a - sz.n_users_b) * 10000
        |    > (sz.n_users_a + sz.n_users_b) * 500) AS srm_flag
        |FROM cv, sz ORDER BY cv.metric""".stripMargin,
    // the prefix identity replay: S+ = P - min(0, min prefix-before),
    // two running frames per key, alarms/first via conditional aggs
    "e21_cusum" ->
      ("""WITH r AS (
         |  SELECT event_type, event_id,
         |    floor(value * 100)::BIGINT
         |      + CASE WHEN event_type = 'error' AND event_id >= 5000 THEN 2500
         |             WHEN event_type = 'view' AND event_id >= 5000 THEN -2500
         |             ELSE 0 END AS x
         |  FROM events),
         |p AS (SELECT event_type, event_id,
         |        sum(x - 6000) OVER (PARTITION BY event_type ORDER BY event_id
         |          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)::BIGINT AS pu,
         |        sum(4000 - x) OVER (PARTITION BY event_type ORDER BY event_id
         |          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)::BIGINT AS pd
         |      FROM r),
         |s AS (SELECT event_type, event_id,
         |        greatest(pu - least(coalesce(min(pu) OVER (PARTITION BY event_type ORDER BY event_id
         |          ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0), 0), 0)::BIGINT AS sp,
         |        greatest(pd - least(coalesce(min(pd) OVER (PARTITION BY event_type ORDER BY event_id
         |          ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0), 0), 0)::BIGINT AS sn
         |      FROM p)
         |SELECT event_type, count(*)::BIGINT AS n,
         |  max(sp)::BIGINT AS max_sp, max(sn)::BIGINT AS max_sn,
         |  sum(CASE WHEN sp > 200000 THEN 1 ELSE 0 END)::BIGINT AS n_alarm_up,
         |  sum(CASE WHEN sn > 200000 THEN 1 ELSE 0 END)::BIGINT AS n_alarm_down,
         |  min(CASE WHEN sp > 200000 THEN event_id END)::BIGINT AS first_up,
         |  min(CASE WHEN sn > 200000 THEN event_id END)::BIGINT AS first_down
         |FROM s GROUP BY event_type ORDER BY event_type""").stripMargin,
    // the sharded variant: identical prefix-identity replay, key =
    // event_type x user-shard, h = 20000
    "e22_cusum_sharded" ->
      ("""WITH r AS (
         |  SELECT event_type || ':' || (user_id % 64)::VARCHAR AS ckey,
         |    event_id,
         |    floor(value * 100)::BIGINT
         |      + CASE WHEN event_type = 'error' AND event_id >= 5000 THEN 2500
         |             WHEN event_type = 'view' AND event_id >= 5000 THEN -2500
         |             ELSE 0 END AS x
         |  FROM events),
         |p AS (SELECT ckey, event_id,
         |        sum(x - 6000) OVER (PARTITION BY ckey ORDER BY event_id
         |          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)::BIGINT AS pu,
         |        sum(4000 - x) OVER (PARTITION BY ckey ORDER BY event_id
         |          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)::BIGINT AS pd
         |      FROM r),
         |s AS (SELECT ckey, event_id,
         |        greatest(pu - least(coalesce(min(pu) OVER (PARTITION BY ckey ORDER BY event_id
         |          ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0), 0), 0)::BIGINT AS sp,
         |        greatest(pd - least(coalesce(min(pd) OVER (PARTITION BY ckey ORDER BY event_id
         |          ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0), 0), 0)::BIGINT AS sn
         |      FROM p)
         |SELECT ckey, count(*)::BIGINT AS n,
         |  max(sp)::BIGINT AS max_sp, max(sn)::BIGINT AS max_sn,
         |  sum(CASE WHEN sp > 20000 THEN 1 ELSE 0 END)::BIGINT AS n_alarm_up,
         |  sum(CASE WHEN sn > 20000 THEN 1 ELSE 0 END)::BIGINT AS n_alarm_down,
         |  min(CASE WHEN sp > 20000 THEN event_id END)::BIGINT AS first_up,
         |  min(CASE WHEN sn > 20000 THEN event_id END)::BIGINT AS first_down
         |FROM s GROUP BY ckey ORDER BY ckey""").stripMargin,
    // classical decomposition replay: (key, day) fixed-point rollup onto
    // an explicit day grid (missing day = x 0), centered 7-MA in milli
    // via integer div, phase = epoch-day mod 7, per-phase detrended means
    // re-centered, residual = detr - seasonal; NULL edges preserved
    "e23_seasonal" ->
      ("""WITH daily AS (
         |  SELECT event_type, ts::DATE AS d,
         |    sum(floor(value * 100)::BIGINT)::BIGINT AS x
         |  FROM events GROUP BY 1, 2),
         |b AS (SELECT min(d) AS lo, max(d) AS hi FROM daily),
         |grid AS (
         |  SELECT k.event_type, (b.lo + g.i * INTERVAL 1 DAY)::DATE AS d
         |  FROM (SELECT DISTINCT event_type FROM events) k, b, range(366) g(i)
         |  WHERE (b.lo + g.i * INTERVAL 1 DAY)::DATE <= b.hi),
         |s AS (SELECT grid.event_type, grid.d,
         |        (grid.d - DATE '1970-01-01')::BIGINT AS di,
         |        coalesce(daily.x, 0)::BIGINT AS x
         |      FROM grid LEFT JOIN daily
         |        ON grid.event_type = daily.event_type AND grid.d = daily.d),
         |tr AS (SELECT event_type, d, di, x,
         |        (CASE WHEN count(*) OVER w = 7
         |             THEN (sum(x) OVER w * 1000) // 7 END)::BIGINT AS trend_milli
         |      FROM s
         |      WINDOW w AS (PARTITION BY event_type ORDER BY di
         |        ROWS BETWEEN 3 PRECEDING AND 3 FOLLOWING)),
         |dt AS (SELECT *, di % 7 AS phase, x * 1000 - trend_milli AS detr FROM tr),
         |sr AS (SELECT event_type, phase,
         |        (sum(detr) // count(detr))::BIGINT AS s_raw
         |      FROM dt WHERE detr IS NOT NULL GROUP BY 1, 2),
         |ctr AS (SELECT event_type, (sum(s_raw) // 7)::BIGINT AS mean_s
         |        FROM sr GROUP BY 1),
         |sa AS (SELECT sr.event_type, sr.phase, (s_raw - mean_s)::BIGINT AS seasonal_milli
         |       FROM sr JOIN ctr USING (event_type))
         |SELECT dt.event_type, dt.d::VARCHAR AS day, dt.x AS x_centi,
         |  dt.trend_milli, sa.seasonal_milli,
         |  (dt.detr - sa.seasonal_milli)::BIGINT AS resid_milli
         |FROM dt JOIN sa ON dt.event_type = sa.event_type AND dt.phase = sa.phase
         |ORDER BY dt.event_type, dt.d""").stripMargin,
    // the full e23 chain over the raw+planted union, then per-key
    // n²-scaled variances of resid and seasonal+resid over non-null-
    // trend rows, one floored clamped division, the 0.64 verdict
    "e27_seasonal_strength" ->
      ("""WITH src AS (
         |  SELECT event_type, ts, value FROM events
         |  UNION ALL
         |  SELECT event_type || '_w', ts,
         |    value + CASE WHEN (ts::DATE - DATE '1970-01-01') % 7 = 0
         |                 THEN 500.0 ELSE 0.0 END
         |  FROM events),
         |daily AS (
         |  SELECT event_type, ts::DATE AS d,
         |    sum(floor(value * 100)::BIGINT)::BIGINT AS x
         |  FROM src GROUP BY 1, 2),
         |b AS (SELECT min(d) AS lo, max(d) AS hi FROM daily),
         |grid AS (
         |  SELECT k.event_type, (b.lo + g.i * INTERVAL 1 DAY)::DATE AS d
         |  FROM (SELECT DISTINCT event_type FROM src) k, b, range(366) g(i)
         |  WHERE (b.lo + g.i * INTERVAL 1 DAY)::DATE <= b.hi),
         |s AS (SELECT grid.event_type, grid.d,
         |        (grid.d - DATE '1970-01-01')::BIGINT AS di,
         |        coalesce(daily.x, 0)::BIGINT AS x
         |      FROM grid LEFT JOIN daily
         |        ON grid.event_type = daily.event_type AND grid.d = daily.d),
         |tr AS (SELECT event_type, d, di, x,
         |        (CASE WHEN count(*) OVER w = 7
         |             THEN (sum(x) OVER w * 1000) // 7 END)::BIGINT AS trend_milli
         |      FROM s
         |      WINDOW w AS (PARTITION BY event_type ORDER BY di
         |        ROWS BETWEEN 3 PRECEDING AND 3 FOLLOWING)),
         |dt AS (SELECT *, di % 7 AS phase, x * 1000 - trend_milli AS detr FROM tr),
         |sr AS (SELECT event_type, phase,
         |        (sum(detr) // count(detr))::BIGINT AS s_raw
         |      FROM dt WHERE detr IS NOT NULL GROUP BY 1, 2),
         |ctr AS (SELECT event_type, (sum(s_raw) // 7)::BIGINT AS mean_s
         |        FROM sr GROUP BY 1),
         |sa AS (SELECT sr.event_type, sr.phase, (s_raw - mean_s)::BIGINT AS seasonal_milli
         |       FROM sr JOIN ctr USING (event_type)),
         |comp AS (SELECT dt.event_type,
         |    (dt.detr - sa.seasonal_milli)::BIGINT AS r,
         |    dt.detr::BIGINT AS srv
         |  FROM dt JOIN sa ON dt.event_type = sa.event_type AND dt.phase = sa.phase
         |  WHERE dt.trend_milli IS NOT NULL),
         |v AS (SELECT event_type, count(*)::BIGINT AS n,
         |    (count(*)::HUGEINT * sum(r::HUGEINT * r) - sum(r)::HUGEINT * sum(r)::HUGEINT)
         |      AS var_r_num,
         |    (count(*)::HUGEINT * sum(srv::HUGEINT * srv) - sum(srv)::HUGEINT * sum(srv)::HUGEINT)
         |      AS var_sr_num
         |  FROM comp GROUP BY event_type)
         |SELECT event_type, n,
         |  (CASE WHEN var_sr_num > 0 THEN
         |     (var_r_num * 1000000) // var_sr_num
         |   END)::BIGINT AS var_ratio_ppm,
         |  (CASE WHEN var_sr_num > 0 THEN
         |     greatest(0, ((var_sr_num - var_r_num) * 1000000) // var_sr_num)
         |   END)::BIGINT AS strength_ppm,
         |  CASE WHEN var_sr_num > 0 THEN
         |    (CASE WHEN var_sr_num > 0 THEN
         |       greatest(0, ((var_sr_num - var_r_num) * 1000000) // var_sr_num)
         |     END) >= 640000
         |  END AS seasonal
         |FROM v ORDER BY event_type""").stripMargin,

    // the full smoothing recursion replayed as a recursive CTE: state =
    // (l, b, s0..s6) per key, one row per day step, lateral aliases
    // carry sp/fc/nl through each SELECT; every division `//` truncates
    // toward zero exactly like the kernel's long `/`; seed season rows
    // re-emitted as the honest-NULL edge
    "e28_holt_winters" ->
      ("""WITH RECURSIVE src AS (
         |  SELECT event_type, ts, value FROM events
         |  UNION ALL
         |  SELECT event_type || '_w', ts,
         |    value + CASE WHEN (ts::DATE - DATE '1970-01-01') % 7 = 0
         |                 THEN 500.0 ELSE 0.0 END
         |  FROM events),
         |daily AS (
         |  SELECT event_type, ts::DATE AS d,
         |    sum(floor(value * 100)::BIGINT)::BIGINT AS x
         |  FROM src GROUP BY 1, 2),
         |bnd AS (SELECT min(d) AS lo, max(d) AS hi FROM daily),
         |grid AS (
         |  SELECT k.event_type, (bnd.lo + g.i * INTERVAL 1 DAY)::DATE AS d,
         |         g.i::BIGINT AS t
         |  FROM (SELECT DISTINCT event_type FROM src) k, bnd, range(400) g(i)
         |  WHERE (bnd.lo + g.i * INTERVAL 1 DAY)::DATE <= bnd.hi
         |    AND (CASE WHEN bnd.hi - bnd.lo >= 400
         |         THEN error('e28 oracle grid capped at 400 days; span='
         |           || (bnd.hi - bnd.lo)) ELSE true END)),
         |s AS (SELECT grid.event_type, grid.d, grid.t,
         |        coalesce(daily.x, 0)::BIGINT * 1000 AS xm
         |      FROM grid LEFT JOIN daily
         |        ON grid.event_type = daily.event_type AND grid.d = daily.d),
         |seed AS (SELECT event_type,
         |          ((sum(xm) FILTER (WHERE t < 7))::BIGINT // 7) AS l0
         |        FROM s GROUP BY event_type),
         |init AS (SELECT sd.event_type, sd.l0,
         |    (max(CASE WHEN t = 0 THEN xm END) - sd.l0)::BIGINT AS s0,
         |    (max(CASE WHEN t = 1 THEN xm END) - sd.l0)::BIGINT AS s1,
         |    (max(CASE WHEN t = 2 THEN xm END) - sd.l0)::BIGINT AS s2,
         |    (max(CASE WHEN t = 3 THEN xm END) - sd.l0)::BIGINT AS s3,
         |    (max(CASE WHEN t = 4 THEN xm END) - sd.l0)::BIGINT AS s4,
         |    (max(CASE WHEN t = 5 THEN xm END) - sd.l0)::BIGINT AS s5,
         |    (max(CASE WHEN t = 6 THEN xm END) - sd.l0)::BIGINT AS s6
         |  FROM s JOIN seed sd USING (event_type) WHERE t < 7
         |  GROUP BY sd.event_type, sd.l0),
         |rec AS (
         |  SELECT event_type, 6::BIGINT AS t,
         |    NULL::BIGINT AS xm, NULL::BIGINT AS fc, NULL::BIGINT AS resid,
         |    l0 AS l, 0::BIGINT AS b, s0, s1, s2, s3, s4, s5, s6
         |  FROM init
         |  UNION ALL
         |  SELECT r.event_type, q.t, q.xm,
         |    -- lateral aliases MUST NOT collide with rec's own column
         |    -- names (an unqualified 'fc' resolves to r.fc - the
         |    -- PREVIOUS row's value, NULL at t=7 - not the alias)
         |    r.l + r.b + (CASE q.t % 7
         |      WHEN 0 THEN r.s0 WHEN 1 THEN r.s1 WHEN 2 THEN r.s2
         |      WHEN 3 THEN r.s3 WHEN 4 THEN r.s4 WHEN 5 THEN r.s5
         |      ELSE r.s6 END) AS fc_,
         |    q.xm - fc_ AS resid_,
         |    -- mix products widen to HUGEINT (300000 * xm overflows
         |    -- BIGINT past |xm| ~ 3e13; the Spark kernel's BigInt path
         |    -- supports the stated 1e15 bound) then narrow ::BIGINT
         |    -- AFTER the // 1000000, which is back in int64 range
         |    ((300000::HUGEINT * (q.xm - (fc_ - r.l - r.b))
         |      + 700000::HUGEINT * (r.l + r.b)) // 1000000)::BIGINT AS nl_,
         |    ((50000::HUGEINT * (nl_ - r.l)
         |      + 950000::HUGEINT * r.b) // 1000000)::BIGINT AS nb_,
         |    CASE WHEN q.t % 7 = 0 THEN ((200000::HUGEINT * (q.xm - r.l - r.b)
         |      + 800000::HUGEINT * r.s0) // 1000000)::BIGINT ELSE r.s0 END,
         |    CASE WHEN q.t % 7 = 1 THEN ((200000::HUGEINT * (q.xm - r.l - r.b)
         |      + 800000::HUGEINT * r.s1) // 1000000)::BIGINT ELSE r.s1 END,
         |    CASE WHEN q.t % 7 = 2 THEN ((200000::HUGEINT * (q.xm - r.l - r.b)
         |      + 800000::HUGEINT * r.s2) // 1000000)::BIGINT ELSE r.s2 END,
         |    CASE WHEN q.t % 7 = 3 THEN ((200000::HUGEINT * (q.xm - r.l - r.b)
         |      + 800000::HUGEINT * r.s3) // 1000000)::BIGINT ELSE r.s3 END,
         |    CASE WHEN q.t % 7 = 4 THEN ((200000::HUGEINT * (q.xm - r.l - r.b)
         |      + 800000::HUGEINT * r.s4) // 1000000)::BIGINT ELSE r.s4 END,
         |    CASE WHEN q.t % 7 = 5 THEN ((200000::HUGEINT * (q.xm - r.l - r.b)
         |      + 800000::HUGEINT * r.s5) // 1000000)::BIGINT ELSE r.s5 END,
         |    CASE WHEN q.t % 7 = 6 THEN ((200000::HUGEINT * (q.xm - r.l - r.b)
         |      + 800000::HUGEINT * r.s6) // 1000000)::BIGINT ELSE r.s6 END
         |  FROM rec r JOIN s q
         |    ON q.event_type = r.event_type AND q.t = r.t + 1)
         |SELECT s.event_type, s.d::VARCHAR AS day, (s.xm // 1000) AS x_centi,
         |  NULL::BIGINT AS fc_milli, NULL::BIGINT AS resid_milli,
         |  NULL::BIGINT AS level_milli, NULL::BIGINT AS trend_milli
         |FROM s WHERE s.t < 7
         |UNION ALL
         |SELECT r.event_type, s.d::VARCHAR, (r.xm // 1000),
         |  r.fc, r.resid, r.l, r.b
         |FROM rec r JOIN s
         |  ON s.event_type = r.event_type AND s.t = r.t
         |WHERE r.t >= 7
         |ORDER BY event_type, day""").stripMargin,

    // daily grid -> (key, di<dj) pair join -> exact sign sum + tie term
    // -> the textbook continuity-corrected z, floored at milli
    "e30_mann_kendall" ->
      ("""WITH src AS (
         |  SELECT event_type, ts, value FROM events
         |  UNION ALL
         |  SELECT event_type || '_up', ts,
         |    ((ts::DATE - DATE '1970-01-01') - 19700)::DOUBLE FROM events
         |  UNION ALL
         |  SELECT event_type || '_dn', ts,
         |    -(((ts::DATE - DATE '1970-01-01') - 19700)::DOUBLE) FROM events),
         |daily AS (
         |  SELECT event_type, ts::DATE AS d,
         |    sum(floor(value * 100)::BIGINT)::BIGINT AS x
         |  FROM src GROUP BY 1, 2),
         |b AS (SELECT min(d) AS lo, max(d) AS hi FROM daily),
         |grid AS (
         |  SELECT k.event_type, (b.lo + g.i * INTERVAL 1 DAY)::DATE AS d
         |  FROM (SELECT DISTINCT event_type FROM src) k, b, range(400) g(i)
         |  WHERE (b.lo + g.i * INTERVAL 1 DAY)::DATE <= b.hi
         |    AND (CASE WHEN b.hi - b.lo >= 400
         |         THEN error('e30 oracle grid capped at 400 days; span='
         |           || (b.hi - b.lo)) ELSE true END)),
         |s AS (SELECT grid.event_type,
         |        (grid.d - DATE '1970-01-01')::BIGINT AS di,
         |        coalesce(daily.x, 0)::BIGINT AS x
         |      FROM grid LEFT JOIN daily
         |        ON grid.event_type = daily.event_type AND grid.d = daily.d),
         |pr AS (SELECT a.event_type,
         |        sum(sign(b.x - a.x))::BIGINT AS s_stat
         |      FROM s a JOIN s b
         |        ON a.event_type = b.event_type AND a.di < b.di
         |      GROUP BY a.event_type),
         |ti AS (SELECT event_type,
         |        sum(t * (t - 1) * (2 * t + 5))::BIGINT AS tie_term,
         |        sum(t)::BIGINT AS n_days
         |      FROM (SELECT event_type, x, count(*)::BIGINT AS t
         |            FROM s GROUP BY 1, 2) GROUP BY event_type),
         |f AS (SELECT t.event_type, t.n_days,
         |        coalesce(p.s_stat, 0)::BIGINT AS s_stat, t.tie_term,
         |        (t.n_days * (t.n_days - 1) * (2 * t.n_days + 5)
         |         - t.tie_term)::BIGINT AS var18
         |      FROM ti t LEFT JOIN pr p USING (event_type))
         |SELECT event_type, n_days, s_stat, tie_term,
         |  (CASE WHEN var18 > 0 THEN
         |     floor((s_stat::DOUBLE - sign(s_stat::DOUBLE))
         |           / sqrt(var18::DOUBLE / 18.0) * 1000.0) END)::BIGINT
         |    AS z_milli,
         |  CASE WHEN var18 <= 0 THEN 'degenerate'
         |       WHEN abs((CASE WHEN var18 > 0 THEN
         |           floor((s_stat::DOUBLE - sign(s_stat::DOUBLE))
         |                 / sqrt(var18::DOUBLE / 18.0) * 1000.0) END)::BIGINT)
         |            < 1960 THEN 'no_trend'
         |       WHEN (CASE WHEN var18 > 0 THEN
         |           floor((s_stat::DOUBLE - sign(s_stat::DOUBLE))
         |                 / sqrt(var18::DOUBLE / 18.0) * 1000.0) END)::BIGINT
         |            >= 1960 THEN 'trending_up'
         |       ELSE 'trending_down' END AS verdict
         |FROM f ORDER BY event_type""").stripMargin,

    // one conditional-moment pass -> exact milli means -> the stated
    // Welch float line (two decimal->double casts per variance, one add,
    // sqrt, two divisions, floor(z*1000)); lateral aliases carry
    // se2/delta/ok; both one-sided statistics must clear 1.645
    "e29_tost" ->
      ("""WITH s AS (
         |  SELECT 'swap_ok' AS pair,
         |    ('0x' || substr(md5('to:' || event_id), 1, 6))::BIGINT % 2 AS a,
         |    floor(value * 100)::BIGINT AS v
         |  FROM events
         |  UNION ALL
         |  SELECT 'swap_regressed',
         |    ('0x' || substr(md5('to:' || event_id), 1, 6))::BIGINT % 2,
         |    floor(value * 100)::BIGINT +
         |      (CASE WHEN ('0x' || substr(md5('to:' || event_id), 1, 6))::BIGINT % 2 = 0
         |            THEN 500 ELSE 0 END)
         |  FROM events),
         |g AS (SELECT pair, sum(a)::BIGINT AS n_a, sum(1 - a)::BIGINT AS n_b,
         |        sum(CASE WHEN a = 1 THEN v::HUGEINT ELSE 0 END) AS sa,
         |        sum(CASE WHEN a = 0 THEN v::HUGEINT ELSE 0 END) AS sb,
         |        sum(CASE WHEN a = 1 THEN v::HUGEINT * v ELSE 0 END) AS saa,
         |        sum(CASE WHEN a = 0 THEN v::HUGEINT * v ELSE 0 END) AS sbb
         |      FROM s GROUP BY pair),
         |f AS (SELECT *,
         |    (cast(n_a * saa - sa * sa AS DOUBLE) /
         |       (n_a::DOUBLE * (n_a - 1) * n_a)
         |     + cast(n_b * sbb - sb * sb AS DOUBLE) /
         |       (n_b::DOUBLE * (n_b - 1) * n_b)) AS se2,
         |    (cast(sb AS DOUBLE) / cast(n_b AS DOUBLE)
         |     - cast(sa AS DOUBLE) / cast(n_a AS DOUBLE)) AS delta,
         |    (n_a >= 2 AND n_b >= 2 AND
         |     (n_a * saa - sa * sa > 0 OR n_b * sbb - sb * sb > 0)) AS ok
         |  FROM g)
         |SELECT pair, n_a, n_b,
         |  ((sa * 1000) // n_a)::BIGINT AS mean_a_milli,
         |  ((sb * 1000) // n_b)::BIGINT AS mean_b_milli,
         |  300000::BIGINT AS margin_milli,
         |  (CASE WHEN ok THEN
         |     floor((delta + 300.0) / sqrt(se2) * 1000.0) END)::BIGINT
         |    AS z_lower_milli,
         |  (CASE WHEN ok THEN
         |     floor((300.0 - delta) / sqrt(se2) * 1000.0) END)::BIGINT
         |    AS z_upper_milli,
         |  CASE WHEN NOT ok THEN 'degenerate'
         |       WHEN least(
         |         (CASE WHEN ok THEN
         |            floor((delta + 300.0) / sqrt(se2) * 1000.0) END)::BIGINT,
         |         (CASE WHEN ok THEN
         |            floor((300.0 - delta) / sqrt(se2) * 1000.0) END)::BIGINT)
         |         >= 1645 THEN 'equivalent'
         |       ELSE 'not_equivalent' END AS verdict
         |FROM f ORDER BY pair""").stripMargin,

    // first digit from the decimal string (never a float log10), honest
    // zero digit rows, exact micro contributions, the df=8 verdict
    "e26_benford" ->
      ("""WITH v AS (
         |  SELECT 'value_centi' AS feature, floor(value * 100)::BIGINT AS x FROM events
         |  UNION ALL
         |  SELECT 'uniform_4digit',
         |    ('0x' || substr(md5('bf:' || event_id), 1, 6))::BIGINT % 9000 + 1000
         |  FROM events),
         |cnt AS (SELECT feature,
         |    CASE WHEN x >= 1 THEN substr(x::VARCHAR, 1, 1)::INT ELSE 0 END AS digit,
         |    count(*)::BIGINT AS o
         |  FROM v GROUP BY 1, 2),
         |tot AS (SELECT feature,
         |    sum(CASE WHEN digit > 0 THEN o ELSE 0 END)::BIGINT AS n,
         |    sum(CASE WHEN digit = 0 THEN o ELSE 0 END)::BIGINT AS n_skipped
         |  FROM cnt GROUP BY feature),
         |dg AS (SELECT unnest(range(1, 10))::INT AS digit,
         |    unnest([301029, 176091, 124938, 96910, 79181, 66946, 57991,
         |            51152, 45757])::BIGINT AS expected_ppm),
         |per AS (SELECT t.feature, dg.digit, coalesce(c.o, 0)::BIGINT AS observed,
         |    dg.expected_ppm, t.n, t.n_skipped,
         |    ((coalesce(c.o, 0)::HUGEINT * 1000000 - t.n::HUGEINT * dg.expected_ppm)
         |     * (coalesce(c.o, 0)::HUGEINT * 1000000 - t.n::HUGEINT * dg.expected_ppm)
         |     // (t.n::HUGEINT * dg.expected_ppm))::BIGINT AS contrib_micro
         |  FROM tot t CROSS JOIN dg
         |  LEFT JOIN cnt c ON c.feature = t.feature AND c.digit = dg.digit),
         |chi AS (SELECT feature, sum(contrib_micro)::BIGINT AS chi2_micro
         |        FROM per GROUP BY feature)
         |SELECT per.feature, per.digit, per.observed,
         |  (per.observed * 1000000) // per.n AS observed_ppm,
         |  per.expected_ppm, per.contrib_micro, per.n, per.n_skipped,
         |  chi.chi2_micro, 15507000::BIGINT AS crit_micro,
         |  chi.chi2_micro <= 15507000 AS conformant
         |FROM per JOIN chi USING (feature)
         |ORDER BY per.feature, per.digit""").stripMargin,
    // rank the series per key, plant the period-6 square wave, replay
    // the n²-scaled exact covariance/variance sums in HUGEINT and the
    // non-negative (rho+1)/2 ppm mapping
    "e25_acf" ->
      ("""WITH r AS (
         |  SELECT event_type AS k,
         |    row_number() OVER (PARTITION BY event_type ORDER BY event_id) AS t,
         |    value FROM events),
         |s AS (SELECT k, t,
         |        (floor(value * 100)::BIGINT +
         |         CASE WHEN t % 6 < 3 THEN 7500 ELSE -7500 END) AS x
         |      FROM r),
         |st AS (SELECT k, sum(x)::HUGEINT AS sm, count(*)::BIGINT AS n FROM s GROUP BY k),
         |dev AS (SELECT s.k, s.t, (st.n::HUGEINT * s.x - st.sm) AS d
         |        FROM s JOIN st USING (k)),
         |den AS (SELECT k, sum(d * d)::HUGEINT AS den, count(*)::BIGINT AS n
         |        FROM dev GROUP BY k),
         |lags AS (SELECT unnest(range(1, 7)) AS lag),
         |pr AS (SELECT a.k, l.lag, sum(a.d * b.d)::HUGEINT AS num,
         |         count(*)::BIGINT AS n_pairs
         |       FROM dev a JOIN lags l ON true
         |       JOIN dev b ON a.k = b.k AND b.t = a.t + l.lag
         |       GROUP BY a.k, l.lag)
         |SELECT pr.k AS event_type, pr.lag::BIGINT AS lag, den.n, pr.n_pairs,
         |  (CASE WHEN den.den > 0
         |        THEN ((pr.num + den.den) * 1000000) // (2 * den.den) END)::BIGINT
         |    AS acf01_ppm
         |FROM pr JOIN den USING (k) ORDER BY event_type, lag""").stripMargin,
    // per-metric ev13 sign-flip p-values (same md5 coins), then the BH
    // step-up replayed: rank by (p, metric), ok = un-floored product
    // compare, rejected = ok's running max over DESCENDING rank
    "e24_fdr_bh" ->
      ("""WITH items AS (
         |  SELECT DISTINCT event_type || '_m' || (user_id % 5) AS metric,
         |         user_id AS item
         |  FROM events),
         |d AS (SELECT metric, item,
         |    (('0x' || substr(md5('fa:' || metric || ':' || item), 1, 6))::BIGINT % 1000)
         |    - (('0x' || substr(md5('fb:' || metric || ':' || item), 1, 6))::BIGINT % 1000)
         |    - (CASE (('0x' || substr(md5('ms:' || metric), 1, 6))::BIGINT % 4)
         |         WHEN 0 THEN 300 WHEN 1 THEN 120 ELSE 0 END) AS dd
         |  FROM items),
         |obs AS (SELECT metric, sum(dd)::BIGINT AS obs_sum,
         |          count(*)::BIGINT AS n_items FROM d GROUP BY metric),
         |fl AS (SELECT d.metric, r.rep,
         |         sum(CASE WHEN ('0x' || substr(md5('fp:' || r.rep || ':' || d.metric || ':' || d.item), 1, 6))::BIGINT % 2 = 0
         |                  THEN d.dd ELSE -d.dd END)::BIGINT AS s
         |       FROM (SELECT unnest(range(1, 201)) AS rep) r, d
         |       GROUP BY d.metric, r.rep),
         |pv AS (SELECT f.metric, o.n_items, o.obs_sum,
         |         ((1 + sum(CASE WHEN abs(f.s) >= abs(o.obs_sum) THEN 1 ELSE 0 END))
         |          * 1000000) // (count(*) + 1) AS p_ppm
         |       FROM fl f JOIN obs o USING (metric)
         |       GROUP BY f.metric, o.n_items, o.obs_sum),
         |mm AS (SELECT count(*)::BIGINT AS m FROM pv),
         |rk AS (SELECT *, row_number() OVER (ORDER BY p_ppm, metric) AS rank FROM pv)
         |SELECT metric, n_items, obs_sum, p_ppm::BIGINT AS p_ppm,
         |  rank::BIGINT AS rank,
         |  (SELECT m FROM mm) AS m,
         |  (rank * 50000) // (SELECT m FROM mm) AS crit_ppm,
         |  (max(CASE WHEN p_ppm * (SELECT m FROM mm) <= rank * 50000
         |            THEN 1 ELSE 0 END)
         |     OVER (ORDER BY rank DESC
         |           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) = 1)
         |    AS rejected
         |FROM rk ORDER BY rank""").stripMargin,

    // per-user fixed-point pre/post sums -> exact HUGEINT moments -> the
    // stated float chain (theta, pooled mean, adjustment, rho2), floored
    "e20_cuped" ->
      """WITH pu AS (
        |  SELECT user_id AS u,
        |    coalesce(sum(CASE WHEN ts < TIMESTAMP '2024-01-16 00:00:00'
        |      THEN floor(value * 100)::BIGINT END), 0) AS x_fp,
        |    coalesce(sum(CASE WHEN ts >= TIMESTAMP '2024-01-16 00:00:00'
        |      THEN floor(value * 100)::BIGINT END), 0) AS y_fp
        |  FROM events GROUP BY 1),
        |pa AS (SELECT u, x_fp, y_fp,
        |    CASE WHEN ('0x' || substr(md5('ab:' || u), 1, 6))::BIGINT % 2 = 0
        |         THEN 'A' ELSE 'B' END AS arm FROM pu),
        |g AS (SELECT count(*)::HUGEINT AS n, sum(x_fp)::HUGEINT AS sx,
        |    sum(y_fp)::HUGEINT AS sy,
        |    sum(x_fp::HUGEINT * x_fp)::HUGEINT AS sxx,
        |    sum(x_fp::HUGEINT * y_fp)::HUGEINT AS sxy,
        |    sum(y_fp::HUGEINT * y_fp)::HUGEINT AS syy FROM pa),
        |th AS (SELECT
        |    CASE WHEN n * sxx - sx * sx = 0 THEN 0.0::DOUBLE
        |         ELSE (n * sxy - sx * sy)::DOUBLE / (n * sxx - sx * sx)::DOUBLE END AS theta,
        |    sx::DOUBLE / n::DOUBLE AS mean_x_all,
        |    CASE WHEN n * syy - sy * sy = 0 THEN 0.0::DOUBLE
        |         ELSE (CASE WHEN n * sxx - sx * sx = 0 THEN 0.0::DOUBLE
        |               ELSE (n * sxy - sx * sy)::DOUBLE / (n * sxx - sx * sx)::DOUBLE END)
        |              * (n * sxy - sx * sy)::DOUBLE / (n * syy - sy * sy)::DOUBLE END AS rho2
        |  FROM g),
        |ba AS (SELECT arm, count(*)::BIGINT AS n_users, sum(x_fp)::BIGINT AS sx_fp,
        |         sum(y_fp)::BIGINT AS sy_fp FROM pa GROUP BY arm)
        |SELECT b.arm, b.n_users, b.sx_fp, b.sy_fp,
        |  floor(1000000.0::DOUBLE * (b.sy_fp::DOUBLE / b.n_users::DOUBLE))::BIGINT AS mean_y_fp,
        |  floor(1000000.0::DOUBLE * (b.sy_fp::DOUBLE / b.n_users::DOUBLE
        |    - t.theta * (b.sx_fp::DOUBLE / b.n_users::DOUBLE - t.mean_x_all)))::BIGINT AS mean_adj_fp,
        |  floor(1000000.0::DOUBLE * t.theta)::BIGINT AS theta_fp,
        |  floor(10000.0::DOUBLE * t.rho2)::BIGINT AS var_reduction_bp
        |FROM ba b, th t ORDER BY b.arm""".stripMargin,
    "e13_ewma" ->
      """WITH s AS (SELECT user_id,
        |    list_transform(
        |      list_sort(list([epoch_us(ts), event_id,
        |                      floor(value * 1000000)::BIGINT])),
        |      e -> e[3]) AS xs
        |  FROM events GROUP BY user_id)
        |SELECT user_id, len(xs)::BIGINT AS n,
        |  list_reduce(xs, (acc, x) -> (7 * acc) // 8 + x // 8) AS ewma_fp
        |FROM s ORDER BY user_id""".stripMargin,
    "e12_history_features" ->
      """SELECT event_id, user_id,
        |  count(*) OVER (PARTITION BY user_id ORDER BY epoch_us(ts), event_id
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS n_prior,
        |  epoch_us(ts) - lag(epoch_us(ts), 1) OVER (PARTITION BY user_id
        |    ORDER BY epoch_us(ts), event_id) AS us_since_prev,
        |  round(avg(value) OVER (PARTITION BY user_id
        |    ORDER BY epoch_us(ts), event_id
        |    ROWS BETWEEN 3 PRECEDING AND 1 PRECEDING), 4) AS prev_mean3
        |FROM events ORDER BY event_id""".stripMargin,
    "e11_winsorize" ->
      """WITH f AS (SELECT event_type,
        |    quantile_cont(value, 0.01) AS p_lo,
        |    quantile_cont(value, 0.99) AS p_hi
        |  FROM events GROUP BY event_type)
        |SELECT e.event_type, round(f.p_lo, 6) AS p_lo, round(f.p_hi, 6) AS p_hi,
        |  sum(CASE WHEN e.value < f.p_lo THEN 1 ELSE 0 END)::BIGINT AS n_below,
        |  sum(CASE WHEN e.value > f.p_hi THEN 1 ELSE 0 END)::BIGINT AS n_above,
        |  count(*)::BIGINT AS n_total
        |FROM events e JOIN f USING (event_type)
        |GROUP BY e.event_type, f.p_lo, f.p_hi
        |ORDER BY e.event_type""".stripMargin,
    "e9_funnel" ->
      """WITH u1 AS (SELECT user_id, min(epoch_us(ts)) AS t1 FROM events
        |            WHERE event_type = 'view' GROUP BY user_id),
        |u2 AS (SELECT e.user_id, u1.t1, min(epoch_us(ts)) AS tk
        |       FROM events e JOIN u1 ON e.user_id = u1.user_id
        |       WHERE event_type = 'click' AND epoch_us(ts) > u1.t1
        |         AND epoch_us(ts) - u1.t1 <= 259200000000
        |       GROUP BY e.user_id, u1.t1),
        |u3 AS (SELECT e.user_id, u2.t1, min(epoch_us(ts)) AS tk
        |       FROM events e JOIN u2 ON e.user_id = u2.user_id
        |       WHERE event_type = 'purchase' AND epoch_us(ts) > u2.tk
        |         AND epoch_us(ts) - u2.t1 <= 259200000000
        |       GROUP BY e.user_id, u2.t1)
        |SELECT * FROM (
        |  SELECT 1::BIGINT AS step_idx, 'view' AS step,
        |    count(*)::BIGINT AS n_users, 0::BIGINT AS avg_us_from_start FROM u1
        |  UNION ALL
        |  SELECT 2::BIGINT, 'click', count(*)::BIGINT,
        |    coalesce(sum(tk - t1) // count(*), 0)::BIGINT FROM u2
        |  UNION ALL
        |  SELECT 3::BIGINT, 'purchase', count(*)::BIGINT,
        |    coalesce(sum(tk - t1) // count(*), 0)::BIGINT FROM u3)
        |ORDER BY step_idx""".stripMargin,
    "e10_retention" ->
      """WITH ev AS (SELECT user_id, epoch_us(ts) // 604800000000 AS p FROM events),
        |ch AS (SELECT user_id, min(p) AS c0 FROM ev GROUP BY user_id),
        |d AS (SELECT DISTINCT ev.user_id, ch.c0 AS cohort,
        |        ev.p - ch.c0 AS week_offset
        |      FROM ev JOIN ch ON ev.user_id = ch.user_id)
        |SELECT cohort, week_offset, count(*)::BIGINT AS n_users FROM d
        |GROUP BY cohort, week_offset ORDER BY cohort, week_offset""".stripMargin,
    // The recursive splitter's DuckDB twin, valid because this corpus
    // contains no "\n\n"/"\n"/". " separators (asserted: 0 rows match),
    // so the separator cascade reduces to greedy space-boundary packing:
    // each chunk ends at the greatest space/end offset within chunkSize
    // (200) of its start, then chunks after the first are prefixed with
    // the previous BASE chunk's last `overlap` (20) chars. One recursive
    // step per chunk.
    "c2_chunks_recursive" ->
      """WITH RECURSIVE
        |d AS (SELECT doc_id, text, len(text) AS n FROM documents WHERE len(text) > 0),
        |b AS (SELECT doc_id, text, n,
        |        list_sort(list_filter(range(1, n + 1),
        |          i -> substr(text, i, 1) = ' ' OR i = n)) AS ends
        |      FROM d),
        |chunks AS (
        |  SELECT doc_id, text, n, ends, 0 AS k, 0 AS prev_start, 0 AS start_off,
        |         CASE WHEN n <= 200 THEN n
        |              ELSE coalesce(list_max(list_filter(ends, e -> e <= 200)), n) END AS end_off
        |  FROM b
        |  UNION ALL
        |  SELECT doc_id, text, n, ends, k + 1, start_off, end_off,
        |         CASE WHEN n - end_off <= 200 THEN n
        |              ELSE coalesce(list_max(list_filter(ends,
        |                     e -> e > end_off AND e - end_off <= 200)), n) END
        |  FROM chunks WHERE end_off < n),
        |rendered AS (
        |  SELECT doc_id, k AS chunk_number,
        |    CASE WHEN k = 0 THEN substr(text, 1, end_off)
        |         ELSE substr(text, greatest(prev_start, start_off - 20) + 1,
        |                     end_off - greatest(prev_start, start_off - 20)) END AS chunk
        |  FROM chunks)
        |SELECT doc_id, chunk_number::BIGINT AS chunk_number, md5(chunk) AS chunk_md5,
        |       len(chunk)::BIGINT AS chunk_len
        |FROM rendered ORDER BY doc_id, chunk_number""".stripMargin,
    "e1_asof_join" ->
      """WITH p AS (SELECT event_id, user_id, ts, value FROM events WHERE event_type = 'purchase'),
        |     e AS (SELECT user_id, ts, max(value) AS err_value FROM events
        |           WHERE event_type = 'error' GROUP BY user_id, ts)
        |SELECT p.event_id, p.user_id, round(p.value, 2) AS value,
        |       e.ts AS asof_ts, round(e.err_value, 2) AS asof_err_value
        |FROM p ASOF JOIN e ON p.user_id = e.user_id AND p.ts >= e.ts
        |ORDER BY p.event_id""".stripMargin,
    "e2_padding_neighbors" ->
      """SELECT event_id, user_id, prev_type, round(prev_value, 2) AS prev_value, next_type
        |FROM (
        |  SELECT event_id, user_id, event_type,
        |    lag(event_type) OVER w AS prev_type,
        |    lag(value) OVER w AS prev_value,
        |    lead(event_type) OVER w AS next_type
        |  FROM events
        |  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id))
        |WHERE event_type = 'purchase' ORDER BY event_id""".stripMargin,
    "e3_window_agg" ->
      """SELECT date_trunc('hour', ts) AS window_start, event_type,
        |       count(*) AS n, round(sum(value), 2) AS total
        |FROM events GROUP BY 1, 2 ORDER BY window_start, event_type""".stripMargin,
    // grid replay: per-user hourly ticks floor(min)..floor(max) in integer
    // µs arithmetic, fill = DuckDB's native ASOF LEFT JOIN (null before
    // the first event); µs integers on both sides dodge timestamp
    // formatting entirely (the e6 convention)
    "e7_resample_locf" ->
      """WITH p AS (SELECT user_id, ts, max(value) AS value FROM events
        |           WHERE event_type = 'purchase' GROUP BY user_id, ts),
        |b AS (SELECT user_id, min(epoch_us(ts) // 3600000000) AS t0,
        |             max(epoch_us(ts) // 3600000000) AS t1
        |      FROM p GROUP BY user_id),
        |g AS (SELECT user_id,
        |        make_timestamp(unnest(range(t0, t1 + 1)) * 3600000000) AS ts
        |      FROM b),
        |j AS (SELECT g.user_id, g.ts AS gts, p.ts AS ats, p.value
        |      FROM g ASOF LEFT JOIN p ON g.user_id = p.user_id AND g.ts >= p.ts)
        |SELECT user_id, epoch_us(gts) AS tick_us, epoch_us(ats) AS asof_us,
        |  round(value, 2) AS value
        |FROM j ORDER BY user_id, tick_us""".stripMargin,
    // coverage replay: distinct hourly ticks, bounds arithmetic, lag gaps
    // rolling-anomaly replay: exact fixed-point integer window sums
    // (order-immune), z a per-row pure function in the engine's stated
    // parenthesization, (ts, event_id) total window order
    "e18_rolling_anomaly" ->
      """WITH b AS (SELECT event_id, user_id, epoch_us(ts) AS tus,
        |    floor(value * 100)::BIGINT AS iv
        |  FROM events WHERE event_type = 'purchase'),
        |w AS (SELECT event_id, user_id, iv,
        |    count(*) OVER fr AS n, sum(iv) OVER fr AS s,
        |    sum(iv*iv) OVER fr AS ss
        |  FROM b WINDOW fr AS (PARTITION BY user_id ORDER BY tus, event_id
        |                       ROWS BETWEEN 24 PRECEDING AND 1 PRECEDING)),
        |f AS (SELECT event_id, user_id, n, iv, s, ss,
        |    s / n AS mean FROM w WHERE n >= 8),
        |g AS (SELECT event_id, user_id, n,
        |    CASE WHEN greatest(ss / n - mean * mean, 0.0) > 0
        |         THEN (iv - mean) / sqrt(greatest(ss / n - mean * mean, 0.0))
        |    END AS z
        |  FROM f)
        |SELECT event_id, user_id, n::BIGINT AS n_prev, round(z, 4) AS z,
        |  coalesce(abs(z) > 3.0, false) AS is_anomaly
        |FROM g ORDER BY event_id""".stripMargin,
    // out-of-fold target-encoding replay: exact integer count tables,
    // identical parenthesization ((pos_out) + (a·prior)) / (n_out + a)
    "e17_target_encode" ->
      """WITH b AS (SELECT l_suppkey % 100 AS category, l_orderkey % 5 AS fold,
        |    CASE WHEN l_quantity > 25 THEN 1 ELSE 0 END AS y FROM lineitem),
        |pf AS (SELECT category, fold, sum(y)::BIGINT AS pos_f,
        |         count(*)::BIGINT AS n_f
        |       FROM b GROUP BY category, fold),
        |pc AS (SELECT category, sum(pos_f) AS pos_t, sum(n_f) AS n_t
        |       FROM pf GROUP BY category),
        |g AS (SELECT sum(y)::DOUBLE / count(*) AS prior FROM b)
        |SELECT category, fold, (n_t - n_f)::BIGINT AS n_out,
        |  (pos_t - pos_f)::BIGINT AS pos_out,
        |  round((pos_t - pos_f + 20.0::DOUBLE * prior)
        |        / (n_t - n_f + 20.0::DOUBLE), 6) AS encoding
        |FROM pf JOIN pc USING (category), g
        |ORDER BY category, fold""".stripMargin,
    // gaps-and-islands replay: the same running-max / open-flag / running
    // count windows (ROWS frames; tie rows are value-identical so tie
    // order cannot move results), exact integer µs throughout
    "e16_interval_union" ->
      """WITH i AS (SELECT user_id, epoch_us(ts) AS s,
        |         epoch_us(ts) + 1800000000 AS e FROM events),
        |l AS (SELECT user_id, s, e,
        |    max(e) OVER (PARTITION BY user_id ORDER BY s, e
        |                 ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS pm
        |  FROM i),
        |fl AS (SELECT user_id, s, e,
        |    CASE WHEN pm IS NULL OR s > pm THEN 1 ELSE 0 END AS op FROM l),
        |isl AS (SELECT user_id, s, e,
        |    sum(op) OVER (PARTITION BY user_id ORDER BY s, e
        |                  ROWS UNBOUNDED PRECEDING) AS span_id
        |  FROM fl)
        |SELECT user_id, span_id::BIGINT AS span_id, min(s)::BIGINT AS start_us,
        |  max(e)::BIGINT AS end_us, count(*)::BIGINT AS n_merged
        |FROM isl GROUP BY user_id, span_id
        |ORDER BY user_id, span_id""".stripMargin,
    "e15_tick_coverage" ->
      """WITH t AS (SELECT DISTINCT user_id, epoch_us(ts) // 3600000000 AS tick
        |           FROM events WHERE event_type = 'purchase'),
        |g AS (SELECT user_id, tick,
        |        tick - lag(tick) OVER (PARTITION BY user_id ORDER BY tick) - 1 AS gap
        |      FROM t)
        |SELECT user_id, (max(tick) - min(tick) + 1)::BIGINT AS n_expected,
        |  count(*)::BIGINT AS n_present,
        |  ((10000 * count(*)) // (max(tick) - min(tick) + 1))::BIGINT AS coverage_bp,
        |  coalesce(max(gap), 0)::BIGINT AS max_gap
        |FROM g GROUP BY user_id ORDER BY user_id""".stripMargin,
    // linear-interp replay: the same grid, bracketing via TWO ASOF joins
    // (backward >=, forward strict <), and the interpolation in the
    // IDENTICAL double op order — (Δt::DOUBLE / span::DOUBLE) scaled onto
    // (v1−v0) then added to v0 — so raw values hash equal bit-for-bit
    "e14_resample_interp" ->
      """WITH p AS (SELECT user_id, ts, max(value) AS value FROM events
        |           WHERE event_type = 'purchase' GROUP BY user_id, ts),
        |b AS (SELECT user_id, min(epoch_us(ts) // 3600000000) AS t0,
        |             max(epoch_us(ts) // 3600000000) AS t1
        |      FROM p GROUP BY user_id),
        |g AS (SELECT user_id,
        |        make_timestamp(unnest(range(t0, t1 + 1)) * 3600000000) AS ts
        |      FROM b),
        |bk AS (SELECT g.user_id, g.ts AS gts, p.ts AS pts, p.value AS pv
        |       FROM g ASOF LEFT JOIN p ON g.user_id = p.user_id AND g.ts >= p.ts),
        |fw AS (SELECT g.user_id, g.ts AS gts, p.ts AS nts, p.value AS nv
        |       FROM g ASOF LEFT JOIN p ON g.user_id = p.user_id AND g.ts < p.ts),
        |j AS (SELECT bk.user_id, bk.gts, pts, pv, nts, nv
        |      FROM bk JOIN fw ON bk.user_id = fw.user_id AND bk.gts = fw.gts)
        |SELECT user_id, epoch_us(gts) AS tick_us, epoch_us(pts) AS prev_us,
        |  epoch_us(nts) AS next_us,
        |  CASE WHEN pts = gts THEN pv
        |       WHEN pts IS NOT NULL AND nts IS NOT NULL THEN
        |         pv + (nv - pv) * ((epoch_us(gts) - epoch_us(pts))::DOUBLE
        |                           / (epoch_us(nts) - epoch_us(pts))::DOUBLE)
        |  END AS value
        |FROM j ORDER BY user_id, tick_us""".stripMargin,
    // bar replay: bucket = epoch-µs // step, open/close via arg_min/arg_max
    // on the pre-aggregated (unique-ts) stream — the e7 determinism
    // contract makes them well-defined
    "e8_ohlc" ->
      """WITH p AS (SELECT user_id, ts, max(value) AS value FROM events
        |           WHERE event_type = 'purchase' GROUP BY user_id, ts),
        |b AS (SELECT user_id, epoch_us(ts) // 3600000000 AS tick, ts, value FROM p)
        |SELECT user_id, tick * 3600000000 AS bar_us,
        |  round(arg_min(value, ts), 2) AS open, round(max(value), 2) AS high,
        |  round(min(value), 2) AS low, round(arg_max(value, ts), 2) AS close,
        |  count(*)::BIGINT AS n
        |FROM b GROUP BY user_id, tick ORDER BY user_id, bar_us""".stripMargin,
    // CDC replay: per-char codepoints, the k=5 winnow-constant polynomial
    // hash unrolled (term-wise coefficients stay inside BIGINT for any
    // codepoint — the reason the kernel caps k at 5), content cuts where
    // h % 64 = 0, closed-form maxLen=192 fill per boundary-free run, then
    // chunk spans via lead() and codepoint slicing
    "c4_cdc_chunks" ->
      """WITH c AS (SELECT doc_id, text, len(text)::BIGINT AS n,
        |    list_transform(range(1, len(text)+1), i -> unicode(text[i:i])::BIGINT) AS cs
        |  FROM documents),
        |h AS (SELECT doc_id, text, n,
        |    CASE WHEN n >= 5 THEN list_filter(
        |      list_transform(range(n - 4), i ->
        |        CASE WHEN (cs[i+1]*294499921 + cs[i+2]*2248091 + cs[i+3]*17161
        |                   + cs[i+4]*131 + cs[i+5]) % 2147483647 % 64 = 0
        |             AND i + 5 < n THEN i + 5 END),
        |      x -> x IS NOT NULL)
        |    ELSE []::BIGINT[] END AS cuts
        |  FROM c),
        |b AS (SELECT doc_id, text, n,
        |    list_prepend(0::BIGINT, list_append(cuts, n)) AS bs
        |  FROM h),
        |pairs AS (SELECT doc_id, text, n, bs[i+1] AS p, bs[i+2] AS q
        |          FROM b, unnest(range(len(bs)-1)) u(i)),
        |st AS (SELECT doc_id, text, n, p + 192*t AS s
        |       FROM pairs, unnest(range((q - p - 1) // 192 + 1)) v(t)),
        |ord AS (SELECT doc_id, text, s,
        |         row_number() OVER (PARTITION BY doc_id ORDER BY s) - 1 AS chunk_idx,
        |         lead(s, 1, n) OVER (PARTITION BY doc_id ORDER BY s) AS e
        |       FROM st)
        |SELECT doc_id, chunk_idx::BIGINT AS chunk_idx, (e - s)::BIGINT AS n_chars,
        |  md5(text[(s+1)::INT:e::INT]) AS chunk_md5
        |FROM ord ORDER BY doc_id, chunk_idx""".stripMargin,
    "c1_chunks_fixed" ->
      """SELECT doc_id, (s - 1) // 100 AS chunk_number, substr(text, s::INT, 120) AS chunk
        |FROM documents, generate_series(1, 100000, 100) AS t(s)
        |WHERE doc_id < 50 AND s <= greatest(len(text) - 20, 1)
        |  AND len(substr(text, s::INT, 120)) > 0
        |ORDER BY doc_id, chunk_number""".stripMargin,
    "c3_contextual_chunks" ->
      """SELECT doc_id, (s - 1) // 100 AS chunk_number,
        |  substr(text, 1, 40) || '; ' || substr(text, s::INT, 120) AS chunk
        |FROM documents, generate_series(1, 100000, 100) AS t(s)
        |WHERE doc_id < 50 AND s <= greatest(len(text) - 20, 1)
        |  AND len(substr(text, s::INT, 120)) > 0
        |ORDER BY doc_id, chunk_number""".stripMargin,
    "e6_sessionize" ->
      """WITH e AS (SELECT user_id, epoch_us(ts) AS t, value FROM events),
        |o AS (SELECT user_id, t, value,
        |    CASE WHEN lag(t) OVER (PARTITION BY user_id ORDER BY t) IS NULL
        |         OR t - lag(t) OVER (PARTITION BY user_id ORDER BY t) > 1800000000
        |         THEN 1 ELSE 0 END AS ns
        |  FROM e),
        |s AS (SELECT user_id, t, value,
        |    sum(ns) OVER (PARTITION BY user_id ORDER BY t ROWS UNBOUNDED PRECEDING) AS sid
        |  FROM o)
        |SELECT user_id, min(t) AS session_start, max(t) + 1800000000 AS session_end,
        |  count(*)::BIGINT AS n_events, round(sum(value), 2) AS total
        |FROM s GROUP BY user_id, sid ORDER BY user_id, session_start""".stripMargin,
    "e5_interval_join" ->
      """WITH e AS (SELECT user_id, event_id AS err_id, epoch_us(ts) AS s,
        |            epoch_us(ts) + 1800000000 AS e FROM events WHERE event_type = 'error'),
        |     p AS (SELECT user_id, event_id, epoch_us(ts) AS t
        |           FROM events WHERE event_type = 'purchase')
        |SELECT p.event_id, e.err_id, p.user_id, (p.t - e.s) AS lag_us
        |FROM p JOIN e ON p.user_id = e.user_id AND p.t BETWEEN e.s AND e.e
        |ORDER BY p.event_id, e.err_id""".stripMargin,
    "e4_asof_nearest" ->
      """WITH p AS (SELECT event_id, user_id, epoch_us(ts) AS ts, value
        |           FROM events WHERE event_type = 'purchase'),
        |     e AS (SELECT user_id, epoch_us(ts) AS ts, max(value) AS err_value
        |           FROM events WHERE event_type = 'error' GROUP BY user_id, ts),
        |     j AS (SELECT p.event_id, p.user_id, p.value, e.ts AS near_ts,
        |             e.err_value, abs(e.ts - p.ts) AS near_dist,
        |             row_number() OVER (PARTITION BY p.event_id
        |                                ORDER BY abs(e.ts - p.ts), e.ts) AS rn
        |           FROM p JOIN e ON p.user_id = e.user_id
        |           WHERE abs(e.ts - p.ts) <= 3600000000)
        |SELECT event_id, user_id, round(value, 2) AS value, near_ts,
        |  round(err_value, 2) AS near_err_value, near_dist
        |FROM j WHERE rn = 1 ORDER BY event_id""".stripMargin
  )
}
