package graft

import org.apache.spark.sql.SparkSession
import com.fasterxml.jackson.databind.{DeserializationFeature, ObjectMapper}
import scala.jdk.CollectionConverters._
import scala.util.Try

/** Benchmark main (driver contract): runs the headline queries on
  * SPARK_GRAFT_SF_DIR and prints a slim summary line, then the full JSON
  * line {"metric":"total","value":N,"unit":"sec",...,"queries":{...},...}
  * last. `Bench <query>...` times only the named registry queries (any
  * registry name, not only headliners) with the same method.
  *
  * Headliners cover every heavy operator family on its SCALE path: scan+agg
  * (q1), multi-join (q2), filter DSL (f5), listing sort+page (l1), KNN
  * single+batch (v1/v2), sign-block LSH near-dup (v10 — the scale path;
  * the O(n^2) v3 baseline stays correctness-only), MaxSim (v5), IVF ANN
  * (v7), FDE two-phase (v9) + FDE-over-IVF (v11), PQ ADC scan (v12),
  * SQ8 ADC scan (v14 — prepared, like v12), paragraph-level global dedup
  * (t33), minhash LSH (t4),
  * simhash (t5/t6), regex tokenization (t8), as-of joins (e1/e4), window
  * agg (e3), bucketed interval join (e5), chunk explode (c1), doc search
  * (s1), upsert (u1), plus the corpus-curation family: repetition gates
  * (t11), decontamination broadcast semi-join (t12) and its Bloom-sketch
  * no-broadcast twin (t19), heavy hitters (t16), connected-components
  * transitive dedup (t17), URL normalize + domain caps (t18), deterministic
  * shard shuffle (t21), incoming-vs-corpus band-index matching (t24,
  * prepared: the index build is offline at scale), duplicate-passage spans
  * (t26) and their removal transform (t29), bigram-LM cross-entropy quality
  * scoring (t30), SemDeDup clustering+dedup (k2 —
  * the Lloyd fit is timed on purpose:
  * clustering IS the curation job, unlike v7's query-only probe), BM25
  * keyword scoring (n2, prepared: the inverted index is an offline build,
  * the probe is the term-pruned postings join) and hybrid RRF fusion (n3,
  * unprepared — it times the composed serving flow end to end).
  *
  * v7/v11 time the QUERY only: their coarse-quantizer build (an offline
  * index job at scale) runs once in the prepare phase via the
  * [[graft.queries.VectorQueries]] prepared factories.
  */
object Bench {
  private val headline = Seq(
    "q1_agg", "q2_join3", "f5_decimal_exists_ne", "l1_listing_page",
    "v1_knn_topk", "v2_knn_batch", "v10_emb_lsh_neardups", "v5_maxsim_float",
    "v7_ivf_knn", "v9_fde_twophase", "v11_fde_ivf", "v12_pq_adc",
    "t4_minhash_lsh", "t5_simhash", "t6_simhash_neardups", "t8_bpe_tokens",
    "t25_bpe_encode",
    "e1_asof_join", "e3_window_agg", "e4_asof_nearest", "e5_interval_join",
    "e6_sessionize", "e7_resample_locf", "e8_ohlc", "m4_transcript",
    "m5_image_dhash", "m7_multimodal_curation",
    "c1_chunks_fixed", "s1_search_docs", "u1_upsert",
    "t11_repetition", "t12_decontaminate", "t16_heavy_hitters",
    "t17_components", "t18_url_caps", "t19_bloom_decontaminate",
    "t21_shuffle_shards", "t24_lsh_match", "t26_dup_spans",
    "t29_remove_dup_spans", "t30_lm_xent", "t31_decontaminate_auto",
    "t32_dsir_sample", "t33_paragraph_dedup", "t34_langid_trained", "v14_sq_adc",
    "k2_semdedup", "n2_bm25", "n3_hybrid_rrf", "t28_curation_e2e",
    "gr1_pagerank", "t37_mojibake", "t38_oov_rate",
    "t39_winnow", "t40_winnow_match", "t41_bpe_train",
    "v17_ivfpq_residual", "tr1_hard_negatives", "e9_funnel",
    "t42_curation_v2", "n7_rm3_expand", "gr2_pagerank_dense",
    "e11_winsorize", "z2_hilbert_layout", "q3_rollup",
    "e12_history_features", "e13_ewma", "t43_quota_sample", "u5_scd2",
    "t44_ffd_pack", "t45_distinct_profile", "n8_more_like_this",
    "v18_jl_project", "n9_proximity", "m8_scene_cuts",
    "s5_dispatcher_rerank", "v19_ivf_recall", "p7_index_layout",
    "l15_total_count", "p6_clean_control", "m9_scene_cuts_dense",
    "t46_context_windows", "e14_resample_interp",
    "s6_dispatcher_colpali_rerank", "c4_cdc_chunks", "v20_matryoshka",
    "v21_binary_rescore", "tr3_triplets", "u6_changelog_apply",
    "k4_cluster_sample", "t47_pretrain_e2e", "k5_incremental_assign",
    "m10_caption_frames", "t48_fuzzy_pairs", "v22_mv_pq_maxsim",
    "t49_fuzzy_match", "n10_spell_suggest", "t50_snapshot_diff",
    "e15_tick_coverage", "s7_image_retrieve", "t51_kn_lm",
    "e16_interval_union", "n12_trgm_fuzzy", "p8_incremental_reembed", "e17_target_encode", "v24_ranking_metrics",
    "e18_rolling_anomaly", "k6_cluster_quality", "m11_image_keeplist",
    "s8_e2e_quality", "s9_e2e_quality_rerank", "t52_source_overlap",
    "t53_fim_transform", "t54_span_corrupt", "t55_gopher_quality",
    "t56_c4_line_filters", "t57_nb_classifier", "h1_html_blocks",
    "h2_html_main", "t58_sft_render", "n13_bm25f", "u7_time_travel", "tr4_bt_strengths", "t59_dpo_pairs", "t60_wordpiece", "t61_contamination_report", "q4_skew_report",
    "e19_ab_uplift", "ev1_bleu_rouge", "ev2_calibration", "c5_texttile",
    "ev3_pass_at_k", "gr3_hits", "t62_unigram_train", "p9_md_tables",
    "tr5_pl_strengths", "ev4_fleiss_kappa", "t63_dedup_recall",
    "s10_office_colpali", "ev5_rouge_l", "ev6_chrf", "t64_memorization",
    "ev7_psi", "e20_cuped", "v26_rbo", "ev8_bootstrap",
    "s11_colpali_e2e_quality", "t65_soft_dedup",
    "ev9_gen_diversity", "ev10_attribution", "t66_canary_exposure",
    "ev11_rank_corr", "ev12_auc",
    "t67_readability", "t68_zipf_slope", "t69_heaps_growth", "q6_hll",
    "tr6_elo", "t70_fertility", "t71_weighted_sample", "gr4_lpa",
    "ev13_paired_perm", "e21_cusum", "n14_ql_dirichlet",
    "k8_dbscan_blocked", "e22_cusum_sharded", "s13_colpali_fallback",
    "l18_requeue_ladder", "ev14_ks_test", "e23_seasonal", "gr5_kcore",
    "gr6_triangles", "gr7_link_predict", "e24_fdr_bh", "ev15_chi2_drift",
    "t72_k_anonymity", "n15_tfidf_vsm", "e25_acf", "u8_compaction_plan",
    "ev16_krippendorff", "m12_loudness", "gr8_assortativity",
    "ev17_mcnemar", "e26_benford", "gr9_seed_distance", "k9_elbow",
    "gr10_reciprocity", "e27_seasonal_strength", "m13_image_entropy",
    "ev18_mann_whitney", "e28_holt_winters", "u9_gc_plan", "gr11_ppr",
    "e29_tost", "m14_video_neardup", "e30_mann_kendall",
    "t73_linear_classifier", "m15_audio_neardup", "q7_hdr_quantiles",
    "ev19_ragas", "ev20_er_f1", "q9_kmv_overlap", "t74_containment")
  // k7_dbscan is deliberately NOT a headliner (the v3 convention): its
  // registry arm scores exact all-pairs cosine — the oracle-replayable
  // TEST-scale candidate generator — which is quadratic by design; the
  // measured scale path is k8_dbscan_blocked (multi-probe IVF candidates,
  // headlined above).
  // v23_ann_recall is deliberately NOT a headliner: it is a QUALITY gate
  // (eight recall measurements, each paying an index-build arm the bench
  // already times individually via v12/v13/v15/v17/v22) — benching it
  // would triple-count training cost without measuring anything new.

  /** Index-backed queries: build once, time the probe. */
  private val preparedFactories: Map[String,
      (SparkSession, String) => () => org.apache.spark.sql.DataFrame] = Map(
    "v7_ivf_knn" -> ((s, d) => graft.queries.VectorQueries.ivfKnnPrepared(s, d)),
    "v11_fde_ivf" -> ((s, d) => graft.queries.VectorQueries.fdeIvfPrepared(s, d)),
    "v12_pq_adc" -> ((s, d) => graft.queries.VectorQueries.pqAdcPrepared(s, d)),
    "v14_sq_adc" -> ((s, d) => graft.queries.VectorQueries.sqAdcPrepared(s, d)),
    "t24_lsh_match" -> ((s, d) => graft.queries.TextQueries.lshMatchPrepared(s, d)),
    "n2_bm25" -> ((s, d) => graft.queries.SearchQueries.bm25Prepared(s, d)))

  /** The per-query median map of a previous bench artifact: the whole text
    * as one JSON document (a pretty-printed file), else the last JSON line
    * whose object carries a `queries` object (slim + full JSON lines). */
  private[graft] def parsePrev(text: String): Option[Map[String, Double]] = {
    val mapper = new ObjectMapper()
      .enable(DeserializationFeature.FAIL_ON_TRAILING_TOKENS)
    def queries(json: String): Option[Map[String, Double]] =
      Try(mapper.readTree(json)).toOption
        .flatMap(n => Option(n).flatMap(n => Option(n.get("queries"))))
        .filter(_.isObject)
        .map(_.properties.asScala.map(e => e.getKey -> e.getValue.asDouble).toMap)
    queries(text).orElse(text.linesIterator.flatMap(queries).toSeq.lastOption)
  }

  private def loadavg1(): Double =
    try scala.io.Source.fromFile("/proc/loadavg").mkString.split(" ")(0).toDouble
    catch { case _: Throwable => 0.0 }

  private def loadavg(): String =
    try scala.io.Source.fromFile("/proc/loadavg").mkString.trim
    catch { case _: Throwable => "unavailable" }

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    // Pre-flight idle gate: measuring on a loaded box produces contaminated
    // medians no post-hoc marker can repair (round-5 artifact: worst_spread
    // 4.07 under loadavg 4.6). Wait — bounded — for the 1-minute loadavg to
    // drop below threshold before touching Spark, so the whole
    // prepare/warmup/measure sequence starts from a quiet box.
    val idleLoad = sys.env.getOrElse("SPARK_GRAFT_IDLE_LOAD", "1.5").toDouble
    val idleWaitS = sys.env.getOrElse("SPARK_GRAFT_IDLE_WAIT_S", "300").toInt
    // Strict mode: refuse to publish from a busy box instead of stamping.
    val refuseContaminated =
      sys.env.getOrElse("SPARK_GRAFT_REFUSE_CONTAMINATED", "false").toBoolean
    // the one loadavg sample NOT polluted by the bench's own threads:
    // taken before Spark exists (post-gate). loadavg_before/after are
    // sampled mid-run and include self-load — only this field can say
    // whether the box was idle when measurement began.
    var loadAtStart = loadavg()
    val idleDeadline = System.nanoTime() + idleWaitS * 1000000000L
    while (loadavg1() > idleLoad && System.nanoTime() < idleDeadline) {
      System.err.println(f"[bench] idle gate: loadavg ${loadavg1()}%.2f > " +
        f"$idleLoad%.1f, waiting (bounded ${idleWaitS}s)")
      Thread.sleep(15000)
    }
    // Gate expiry is a CONTAMINATION FACT, not a warning: r7's artifact
    // started at loadavg 3.30 (gate 1.5), ended 7.81, and published 1.5-7x
    // inflated medians with no marker. The expiry is recorded here and
    // stamped into the JSON (or, in strict mode, aborts before Spark spins
    // up) so a loaded-box artifact can never again read as a regression.
    val gateExpired = loadavg1() > idleLoad
    loadAtStart = loadavg()
    if (gateExpired) {
      if (refuseContaminated) {
        System.err.println(f"[bench] idle gate TIMED OUT at loadavg " +
          f"${loadavg1()}%.2f — REFUSING to publish (strict mode)")
        println(f"""{"metric":"total","value":-1.0,"unit":"sec","refused":true,"reason":"idle_gate_expired","loadavg":${Harness.jsonStr(loadavg())}}""")
        sys.exit(3)
      }
      System.err.println(f"[bench] idle gate TIMED OUT at loadavg " +
        f"${loadavg1()}%.2f — measuring anyway; artifact will be stamped " +
        "contaminated:true with per-query loadavg samples")
    }
    val spark = Harness.session(32)
    // JIT/codegen warmup on the bench dir itself so headline timings measure
    // steady-state query time, not first-run Janino/JIT compilation — plan
    // compile cost only partially transfers across input dirs (observed:
    // 17s cold / 6s cross-dir-warmed / 2s same-dir-warmed for t4).
    val warm = sfDir
    // Optional args = registry query names to measure (local iteration
    // helper; the no-arg invocation measures the headline list).
    // Headliners keep their headline order, the rest follow by name.
    val sel: Seq[String] =
      if (args.isEmpty) headline
      else Harness.select(args.toSeq,
        headline ++ (SparkEntry.queries.keySet -- headline).toSeq.sorted,
        "registry queries")
    // Prepare phase: index builds (offline jobs at scale) run here, once.
    val prepared: Map[String, () => org.apache.spark.sql.DataFrame] =
      preparedFactories.filter(kv => sel.contains(kv._1)).map { case (n, f) =>
        val t0 = System.nanoTime()
        val closure = f(spark, warm)
        System.err.println(f"[bench] prepare $n ${(System.nanoTime() - t0) / 1e9}%.1fs")
        n -> closure
      }
    def time(name: String): Double = Harness.timeNoop(
      prepared.get(name).map(_.apply())
        .getOrElse(SparkEntry.queries(name)(spark, sfDir)))
    // Failed runs read -1 and print their failure, so a -1 in the
    // committed artifact is traceable.
    def measureOnce(name: String): Double =
      try time(name)
      catch { case e: Throwable =>
        System.err.println(s"[bench] $name FAILED: $e"); -1.0 }
    sel.foreach { n =>
      val t0 = System.nanoTime()
      try time(n)
      catch { case e: Throwable => System.err.println(s"[bench] warmup $n FAILED: $e") }
      System.err.println(f"[bench] warmup $n ${(System.nanoTime() - t0) / 1e9}%.1fs")
    }
    // Anchor block (r15 verdict asks #2/#5): three queries untouched since
    // the early rounds, measured FIRST (right after warmup — the boot's
    // cleanest state) and LAST (after the full measurement loop), so one
    // committed artifact carries (a) the boot-quality number the final-
    // artifact rule gates on (boot_anchor = q1's first median; the rule:
    // within ~1.15x of the round's best observed anchor or re-run on a
    // fresh boot) and (b) the intra-run drift (anchor_drift = median
    // last/first) that previously needed git archaeology across boots.
    // m9 is the ALLOCATION-RATE anchor (r16 lesson, committed receipt in
    // BENCH_r16_supplementary_degraded.json): the box's late-session
    // degradation mode hits allocation-heavy rows ~3× (PNG decode, float
    // vectors) while scan anchors stay flat — q1 alone cannot veto a
    // degraded boot, m9 can (0.75 s band vs 2.4 s degraded).
    val anchorNames =
      Seq("q1_agg", "q2_join3", "e3_window_agg", "m9_scene_cuts_dense")
        .filter(sel.contains)
    def median3(name: String): Double = {
      val s = (1 to 3).map(_ => measureOnce(name)).filter(_ >= 0).sorted
      if (s.isEmpty) -1.0 else s(s.size / 2)
    }
    val anchorFirst = anchorNames.map(n => n -> median3(n)).toMap
    anchorFirst.foreach { case (n, v) =>
      System.err.println(f"[bench] anchor-first $n $v%.3fs") }
    // Steady-state latency: MEDIAN OF THE 3 FASTEST successful runs. Three
    // base samples; if median/min spread exceeds 2x (the round-4/5
    // contention signature) the query is REMEASURED — up to 4 extra runs —
    // so transient box load is displaced out of the fastest-3 set instead of
    // shipping as a fake regression. Failed runs (-1) are excluded from all
    // stats (one AnalysisException must not read as a 100x speedup or a
    // negative min); a query reports -1 only when EVERY sample failed.
    val loadBefore = loadavg()
    var extraRuns = 0
    // 1-minute loadavg sampled at the START of each query's measurement —
    // the per-query contamination evidence VERDICT r7 asked for: a reader
    // can see exactly which queries ran under load, not just box-level
    // before/after.
    val queryLoad = scala.collection.mutable.LinkedHashMap[String, Double]()
    val results = sel.map { name =>
      queryLoad(name) = loadavg1()
      val samples = scala.collection.mutable.ArrayBuffer[Double]()
      (1 to 3).foreach(_ => samples += measureOnce(name))
      def ok = samples.filter(_ >= 0).sorted
      def best3 = ok.take(3)
      def spread = { val b = best3; if (b.isEmpty || b.head <= 0) 1.0 else b(b.size / 2) / b.head }
      var extra = 0
      // remeasure while contended OR while failures left fewer than 3 good
      // samples (2 fails + 1 success must not ship a single-sample median
      // indistinguishable from a clean 3-run measurement); all-failed stops
      // immediately — rerunning a permanently broken query is waste.
      // Trigger at 1.5x (r16 verdict #4: the r16 artifact shipped
      // worst_spread 1.89 with extra_runs 0 — the old 2.0x threshold sat
      // above every observed spread, so the machinery never fired).
      while (ok.nonEmpty && (ok.size < 3 || spread > 1.5) && extra < 4) {
        System.err.println(f"[bench] REMEASURE $name spread $spread%.1fx " +
          f"good ${ok.size}/${samples.size} (loadavg ${loadavg()})")
        samples += measureOnce(name); extra += 1; extraRuns += 1
      }
      val b = best3
      val median = if (b.isEmpty) -1.0 else b(b.size / 2)
      val mn = if (b.isEmpty) -1.0 else b.head
      if (spread > 1.5)
        System.err.println(f"[bench] CONTENTION? $name median $median%.2fs is " +
          f"$spread%.1fx its min $mn%.2fs after $extra remeasures — box under load")
      System.err.println(f"[bench] $name median $median%.2fs min $mn%.2fs " +
        f"runs ${samples.size}")
      (name, median, mn, samples.size, samples.count(_ < 0))
    }
    val anchorLast = anchorNames.map(n => n -> median3(n)).toMap
    anchorLast.foreach { case (n, v) =>
      System.err.println(f"[bench] anchor-last $n $v%.3fs") }
    val loadAfter = loadavg()
    // Contamination verdict for the artifact as a whole: ONLY the pre-Spark
    // idle-gate expiry can say the BOX was busy — once the bench is running,
    // its own 32 threads drive the 1-minute loadavg to ~5-11 on a perfectly
    // idle machine (measured), so mid-run loadavg must never be compared
    // against the idle threshold. query_loadavg ships as evidence for
    // RELATIVE spikes (a query whose loadavg jumps far above its neighbors'
    // ran alongside an intruder), not as an absolute gate.
    val contaminated = gateExpired
    val qLoadJson = Harness.jsonObj(queryLoad.map { case (k, v) => k -> f"$v%.2f" })
    val qs = Harness.jsonObj(results.map { case (k, med, _, _, _) => k -> f"$med%.3f" })
    val mins = Harness.jsonObj(results.map { case (k, _, mn, _, _) => k -> f"$mn%.3f" })
    // actual per-query run counts (3 base + remeasures) — the JSON must not
    // claim a fixed 3 when a contended query used up to 7
    val runs = Harness.jsonObj(results.map { case (k, _, _, n, _) => k -> n.toString })
    val sampleFails = Harness.jsonObj(results.collect {
      case (k, _, _, _, f) if f > 0 => k -> f.toString })
    val okResults = results.filter(_._3 > 0)
    val total = okResults.map(_._2).sum
    val totalMin = okResults.map(_._3).sum
    val failed = results.count(_._3 <= 0)
    // name the worst-spread row (r16 verdict #4): a 1.89x spread median is
    // soft evidence — the artifact must say WHICH query carried it so the
    // reader can check it against the volatile-band list
    val (worstSpreadQuery, worstSpread) =
      okResults.map { case (k, med, mn, _, _) => (k, med / mn) }
        .foldLeft(("", 1.0))((a, b) => if (b._2 > a._2) b else a)
    if (worstSpread > 1.5)
      System.err.println(f"[bench] CONTENTION? worst per-query median/min spread " +
        f"$worstSpread%.1fx ($worstSpreadQuery) survived remeasuring — treat " +
        "totals as upper bounds")
    def medianOf(xs: Seq[Double]): Double =
      if (xs.isEmpty) -1.0 else { val s = xs.sorted; s(s.size / 2) }
    val anchorsJson = Harness.jsonObj(anchorNames.map { n =>
      n -> f"""{"first":${anchorFirst(n)}%.3f,"last":${anchorLast(n)}%.3f}"""
    })
    val bootAnchor = anchorFirst.getOrElse("q1_agg", -1.0)
    val anchorDrift = medianOf(anchorNames.flatMap(n =>
      for (f <- anchorFirst.get(n); l <- anchorLast.get(n)
           if f > 0 && l > 0) yield l / f))
    // Round-over-round comparison computed INSIDE the artifact (r15
    // verdict ask #2): point SPARK_GRAFT_PREV_BENCH at the previous
    // round's committed idle JSON and the ratios — raw and anchor-
    // adjusted — are machine-read from THIS one artifact, no cross-boot
    // narration or git digs. anchor_ratio is the median cur/prev over
    // the anchor queries (boot-state proxy); the adjusted median ratio
    // divides it out.
    val curMed = results.map { case (k, med, _, _, _) => k -> med }.toMap
    val prevCmp: String = sys.env.get("SPARK_GRAFT_PREV_BENCH").flatMap { p =>
      try {
        val src = scala.io.Source.fromFile(p)
        val text = try src.mkString finally src.close()
        val q = parsePrev(text).getOrElse(
          throw new IllegalArgumentException("no JSON object with a queries map"))
        val ratios = curMed.toSeq.collect {
          case (k, cur) if cur > 0 && q.getOrElse(k, 0.0) > 0 => (k, cur / q(k))
        }
        if (ratios.isEmpty) None
        else {
          val mr = medianOf(ratios.map(_._2))
          val ar = medianOf(
            ratios.filter(r => anchorNames.contains(r._1)).map(_._2))
          val adj = if (ar > 0) mr / ar else -1.0
          Some(f""""prev_bench":${Harness.jsonStr(p)},"common_queries":${ratios.size},"anchor_ratio":$ar%.3f,"median_ratio_vs_prev":$mr%.3f,"median_ratio_vs_prev_adjusted":$adj%.3f,""")
        }
      } catch { case e: Throwable =>
        System.err.println(s"[bench] prev-bench parse failed: $e"); None }
    }.getOrElse("")
    // Consumers parse the LAST stdout line, so the full line (with the
    // per-query map) goes last. A SLIM self-contained summary line goes
    // first: a capture that truncates the long full line still holds one
    // complete JSON object with the headline number and the boot-quality
    // evidence.
    val prevAdj = prevCmp.split(",").find(_.startsWith("\"median_ratio_vs_prev_adjusted\""))
      .map(s => "," + s).getOrElse("")
    val slim = f"""{"metric":"total","value":$total%.3f,"unit":"sec","sf":${Harness.jsonStr(sfDir)},"boot_anchor":$bootAnchor%.3f,"anchor_drift":$anchorDrift%.3f,"anchors":$anchorsJson,"worst_spread":$worstSpread%.2f,"worst_spread_query":${Harness.jsonStr(worstSpreadQuery)},"extra_runs":$extraRuns,"failed_queries":$failed,"contaminated":$contaminated$prevAdj}"""
    println(slim)
    // Belt-and-braces for the driver's stdout capture (parsed:null in
    // BENCH_r10..r17): the full machine line is ALSO written to a file, so
    // a consumer that loses stdout (truncation, logger prefixes) can read
    // the identical JSON from disk. Path overridable for local iteration.
    val summaryPath =
      sys.env.getOrElse("SPARK_GRAFT_BENCH_SUMMARY", "bench_summary.json")
    // timing_basis makes the artifact self-describing across methodology
    // changes: "noop_sink_v2" = every query timed to a noop-format sink
    // (count() let Catalyst prune projection-final operators and
    // under-measured them — r5 artifacts are on that older basis).
    val full = f"""{"metric":"total","value":$total%.3f,"unit":"sec","timing_basis":"noop_sink_v2","anchors":$anchorsJson,"boot_anchor":$bootAnchor%.3f,"anchor_drift":$anchorDrift%.3f,$prevCmp"queries":$qs,"sf":${Harness.jsonStr(sfDir)},"base_runs":3,"stat":"median_fastest3","queries_min":$mins,"query_runs":$runs,"sample_failures":$sampleFails,"total_min":$totalMin%.3f,"worst_spread":$worstSpread%.2f,"worst_spread_query":${Harness.jsonStr(worstSpreadQuery)},"extra_runs":$extraRuns,"failed_queries":$failed,"contaminated":$contaminated,"idle_gate_expired":$gateExpired,"query_loadavg":$qLoadJson,"loadavg_at_start":${Harness.jsonStr(loadAtStart)},"loadavg_before":${Harness.jsonStr(loadBefore)},"loadavg_after":${Harness.jsonStr(loadAfter)}}"""
    println(full)
    try {
      val w = new java.io.PrintWriter(new java.io.File(summaryPath))
      try { w.println(slim); w.println(full) } finally w.close()
      System.err.println(s"[bench] summary written to $summaryPath")
    } catch { case e: Throwable =>
      System.err.println(s"[bench] summary file write failed: $e") }
    spark.stop()
  }
}
