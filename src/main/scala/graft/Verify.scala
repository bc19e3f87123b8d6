package graft
import java.nio.file.{Files, Paths}
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. */
object Verify {
  /** Driver-compat schema guard: the driver's oracle comparison
    * canonicalizes results with pandas, which cannot sort/hash
    * array-typed cells (round 8's v18 red row: `sort_values` dies with
    * "unhashable type: numpy.ndarray"). Registered outputs must
    * therefore be scalar-only at the top level — a kernel that naturally
    * emits an array registers its unnested (id, pos, value) shape
    * instead (what v18 now does). Maps/structs hit the same wall, so
    * they are banned alongside.
    *
    * Wide decimals are the round-14 extension of the same wall: the
    * driver canonicalizes int128-class values (decimal(38,0) on the
    * Spark side, HUGEINT on DuckDB's) differently from their exact
    * decimal string, so a query emitting one passes rows+schema and
    * fails the hash with a correct answer (r14's e24/e27/gr8). Exact
    * wide-decimal arithmetic stays INSIDE operators; outputs cross this
    * wall as int64 ([[graft.operators.Guards.loudInt64]]), a bounded
    * ratio, or an explicit string. scripts/check.py enforces the mirror
    * ban on every oracle's DuckDB output types. */
  def assertDriverSafe(name: String,
                       schema: org.apache.spark.sql.types.StructType): Unit =
    schema.fields.foreach { f =>
      f.dataType match {
        case _: org.apache.spark.sql.types.ArrayType
           | _: org.apache.spark.sql.types.MapType
           | _: org.apache.spark.sql.types.StructType =>
          throw new IllegalStateException(
            s"registered query $name column '${f.name}' is " +
              s"${f.dataType.simpleString}: the driver's pandas " +
              "canonicalizer cannot sort non-scalar cells - register an " +
              "unnested scalar shape (e.g. posexplode to (id, pos, value))")
        case d: org.apache.spark.sql.types.DecimalType if d.precision > 18 =>
          throw new IllegalStateException(
            s"registered query $name column '${f.name}' is " +
              s"${f.dataType.simpleString}: int128-class values " +
              "canonicalize differently across the driver's engines " +
              "(r14's e24/e27/gr8 hash-reds) - keep wide-decimal " +
              "arithmetic internal and emit int64 (Guards.loudInt64), " +
              "a bounded ratio, or an explicit string")
        case _ => ()
      }
    }

  /** The scale-sensitive heavy tail for the sf0.1 oracle gate (round-11
    * verdict #3): the registry rows where a 10× data step could surface
    * long overflow, float-summation drift, or tie instability under more
    * duplicates — the composed pipelines, iterative/trained arms, and
    * sort/window-heavy operators. Run as
    * `runMain graft.Verify /root/testdata/sf0.1 <out> @heavy`, then
    * `scripts/check.py <out> /root/testdata/sf0.1` →
    * CORRECTNESS_sf01_r{N}.json. (v19/v23's fixture-tagged VALUES oracles
    * are sf0.01-pinned by design and stay out.) */
  val heavyGate: Seq[String] = Seq(
    "t4_minhash_lsh", "t17_components", "t29_remove_dup_spans",
    "t33_paragraph_dedup", "e7_resample_locf", "e14_resample_interp",
    "t51_kn_lm", "gr2_pagerank_dense", "v17_ivfpq_residual",
    "t28_curation_e2e", "t42_curation_v2", "t47_pretrain_e2e",
    "t41_bpe_train", "v22_mv_pq_maxsim", "k2_semdedup", "n2_bm25",
    "t30_lm_xent", "t16_heavy_hitters", "e8_ohlc", "u6_changelog_apply",
    "m9_scene_cuts_dense", "t32_dsir_sample",
    // round-11 additions with scale-sensitive shapes: the overlap matrix's
    // vocabulary join and the span-corruption window folds
    "t52_source_overlap", "t54_span_corrupt",
    // second-session round-11 additions with float or md5-chain shapes:
    // NB's per-class ln folds, the BT fit, BM25F's fielded scores, and
    // the HTML main-text md5 chain
    "t57_nb_classifier", "tr4_bt_strengths", "n13_bm25f", "h2_html_main",
    // third-session round-11 additions with float/iterative shapes: ev1's
    // ln-space BLEU, t62's ln model + Viterbi ties, tr5's listwise MM,
    // gr3's fixed-point double-normalization, c5's windowed-peak ties
    "ev1_bleu_rouge", "t62_unigram_train", "tr5_pl_strengths", "gr3_hits",
    "c5_texttile",
    // round-12 additions (round-11 verdict #2): the remaining high-x64-ratio
    // rows — h1's block extraction (x64 14.3), p9's table round-trip (5.6),
    // v25's Gram/power fit (5.2), t63's planted-recall pipeline (4.0),
    // t55's Gopher rule set (3.7), t61's contamination semi-join (3.1)
    "h1_html_blocks", "p9_md_tables", "v25_abtt_projection",
    "t63_dedup_recall", "t55_gopher_quality", "t61_contamination_report",
    // round-12 additions with scale-sensitive shapes: t64's train-corpus
    // rung semi-join (x64 3.6), ev6's char-gram folds (4.1), ev5's
    // recursive-DP oracle replay (3.7)
    "t64_memorization", "ev6_chrf", "ev5_rouge_l",
    // round-13 additions (round-12 verdict #5): the remaining high-x64
    // rows — n8's df-weighted term overlap (x64 5.6), t34's trained
    // rank-order profiles, the r12 newcomers with x64 ratios ≥ 1.9 (t65
    // soft-dedup weights, ev8 bootstrap cells, e20's per-user CUPED
    // moments; e14 was already in the r11 block above), and the two new
    // r13 rows (l17's chunk-count ladder, s12's fallback+live rankings)
    "n8_more_like_this", "t34_langid_trained",
    "t65_soft_dedup", "ev8_bootstrap", "e20_cuped",
    "l17_status_polling", "s12_embed_fallback",
    // round-13 session additions with x64 ratios ≥ ~1.8 or scale-
    // sensitive replay shapes: q6's full-universe exact twin (x64 9.0),
    // ev9's gram ladder (3.4), t69's prefix growth (3.4), ev13's 200-way
    // flip cells (2.6), t70's merge replay (2.4), ev10's LCS DP (2.3),
    // t67's syllable folds (2.1), t68/t66 (2.0), ev12's bucket cumsum
    // (1.8), plus tr6's 4370-step sequential oracle chain (the replay
    // depth, not the ratio, is what sf0.1 stresses)
    "q6_hll", "ev9_gen_diversity", "t69_heaps_growth", "ev13_paired_perm",
    "t70_fertility", "ev10_attribution", "t67_readability",
    "t68_zipf_slope", "t66_canary_exposure", "ev12_auc", "tr6_elo",
    // second-half r13 session additions: e21's five-key window
    // serialization law (x64 15.0), k7's component/border chain over the
    // 10x pair graph (the quadratic arm is sf-bounded and its oracle
    // joins run ~1 s at sf0.1)
    "e21_cusum", "k7_dbscan", "n14_ql_dirichlet",
    // round-14 additions: k8's blocked scale arm (Lloyd + probe window +
    // co-membership replay — the fit shuffle and component chain are what
    // sf0.1 stresses)
    "k8_dbscan_blocked",
    // e22: the sharded-CUSUM skew receipt (320-key window frames at sf0.1);
    // s13/l18: the r14 wire-fallback + requeue rows (l17/s12 parity)
    "e22_cusum_sharded", "s13_colpali_fallback", "l18_requeue_ladder",
    // ev14: distinct-score ECDF cells at 10x scores; e23: the day-grid
    // decomposition over the 10x event stream
    "ev14_ks_test", "e23_seasonal",
    // gr5: the peel DEPTH grows with the corpus (10 rounds at sf0.1)
    "gr5_kcore",
    // round-14 second-session additions whose inputs scale with the
    // corpus: the two graph rows (triangle/wedge volume grows linearly,
    // the link-prediction cut exercises a genuinely contested top-1000
    // at 10x candidates), n15's float-chain norms over 10x tokens, e25's
    // decimal covariance sums over 10x series, ev16's ragged-panel
    // rationals over 10x items, e24's 10x-item permutation battery,
    // ev15's 10x windows, t72's 10x equivalence classes, u8's 10x file
    // listing through the recursive-CTE FFD replay. (m12 stays out: its
    // fixture pins doc_id < 200 at any sf — the m10 fixed-budget
    // convention.)
    "gr6_triangles", "gr7_link_predict", "n15_tfidf_vsm", "e25_acf",
    "ev16_krippendorff", "e24_fdr_bh", "ev15_chi2_drift",
    "t72_k_anonymity", "u8_compaction_plan",
    // and the batch-2 additions: gr8's 10x moment sums, ev17's 10x
    // contingency, e26's 10x digit windows
    "gr8_assortativity", "ev17_mcnemar", "e26_benford",
    // gr9: BFS depth grows with the corpus (~7 rounds at sf0.1)
    "gr9_seed_distance",
    // k9: four full Lloyd fits + oracle replays at 10x vectors
    "k9_elbow",
    // gr10: 10x edge self-join; e27: the full e23 chain at 10x events
    "gr10_reciprocity", "e27_seasonal_strength",
    // ev18: (pair, value) cell table and tie spectrum grow with the 10x
    // event stream; the z float line rides 10x-magnitude exact integers
    "ev18_mann_whitney",
    // e28: the daily rollup is corpus-sized and the 10x stream widens the
    // recursion's value magnitudes through every truncating division
    "e28_holt_winters",
    // gr11: the seeded fixed point over the corpus-growing ancestry graph
    "gr11_ppr",
    // e29: one conditional-moment pass over the 10x sample stream; the
    // Welch float line rides 10x-magnitude exact moments
    "e29_tost",
    // u9: the synthesized lake logs scale with the corpus (x64 3.5)
    "u9_gc_plan",
    // e30: the daily rollup is corpus-sized; the 10x stream widens the
    // sign-pair magnitudes and the tie spectrum
    "e30_mann_kendall",
    // q7: the bucket rollup rides the full 10x lineitem scan and the 10x
    // value stream populates more log-linear cells per key
    "q7_hdr_quantiles",
    // m15: the m14 law — fixed clip budget, but the sf0.1 leg re-proves
    // the analytic-envelope oracle against 10x-regenerated doc rows
    "m15_audio_neardup",
    // t73: the hashed-gram count build and centroid sums ride the 10x
    // token stream (x64 ratio 10.1); more docs also means real bucket
    // saturation in the 256-dim model
    "t73_linear_classifier",
    // ev19: the chunk/embed scan under the fixed 10-query fixture is
    // corpus-sized (x64 2.4); the sf0.1 leg re-proves the retrieval
    // replay + CP/faithfulness folds over 10x chunk tables
    "ev19_ragas",
    // ev20: the planting grid is tokenize-the-corpus-sized (x64 3.6) and
    // the 10x mention tables widen every confusion cell the oracle
    // replays set-distinct
    "ev20_er_f1",
    // q9: the shingle scan + distinct-hash rollup are corpus-sized
    // (x64 5.7); the 10x gram universe moves every sketch kth and both
    // exact twins
    "q9_kmv_overlap",
    // t74: shingle scan, df rollup, and the sample x index candidate
    // join all ride the corpus (x64 16.1); the 10x doc set multiplies
    // the planted quote corpus and the natural subset pairs
    "t74_containment")

  def main(args: Array[String]): Unit = {
    val Array(sfDir, outDir, rest @ _*) = args
    // Optional extra args = query-name prefixes to run (local iteration
    // helper; the driver's 2-arg invocation runs everything). The single
    // selector `@heavy` expands to the curated scale-gate list above.
    val prefixes =
      if (rest == Seq("@heavy")) heavyGate else rest
    val wanted: String => Boolean =
      if (prefixes.isEmpty) _ => true else n => prefixes.exists(n.startsWith)
    val spark = Harness.session(4)
    new java.io.File(outDir).mkdirs()
    SparkEntry.queries.filter(kv => wanted(kv._1)).foreach { case (name, fn) =>
      try {
        val df = fn(spark, sfDir)
        assertDriverSafe(name, df.schema)
        df.coalesce(1).write.mode("overwrite").parquet(s"$outDir/$name")
      }
      catch { case e: Throwable =>
        System.err.println(s"[verify] $name failed: ${e.getMessage}")
      }
    }
    // escaped: an unescaped tab or CR in an oracle's SQL would make the
    // consumer's json.load fail and silently zero the correctness check
    val json = SparkEntry.oracleSql.map { case (k, v) =>
      s"${Harness.jsonStr(k)}: ${Harness.jsonStr(v)}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    spark.stop()
  }
}
