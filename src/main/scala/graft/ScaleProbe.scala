package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Dev tool: measure how the headline queries scale with data volume.
  *
  * Replicates the sf0.1 tables N× into /tmp/graft_scale/x{N} with key
  * offsets (so key cardinalities grow with the data) and per-replica text
  * perturbation (so the duplicate structure of the corpus stays like the
  * original instead of every doc gaining N exact copies), then times each
  * query at 1×/4×/16×. A scale-linear operator should show ~N× time at N×
  * data on a fixed 32-core box; anything super-linear is a red flag for the
  * 100 TB deployment.
  *
  * `recall` mode quantifies the IVF approximation as data grows: recall@10
  * of the v7 bench configuration (lists=16, nprobe=8) vs exact KNN over 20
  * seeded queries per scale — approximate search stays approximate, but
  * the approximation is MEASURED, not assumed (floor asserted in
  * IvfIndexSpec; table in ARCHITECTURE.md).
  *
  * Usage: runMain graft.ScaleProbe [gen|run|recall|all|x64|longdoc]
  * (`x64` generates-on-demand and times the heavy tail one octave further;
  * it is not part of `all` because gen64 writes ~64x sf0.1 to /tmp. An
  * optional second arg to `x64` — comma-separated query names, validated
  * against the heavy list — probes only those queries, so re-measuring one
  * changed operator doesn't cost the full tail. `longdoc` times
  * removeDupSpans against doubling DOC LENGTH at full span coverage — the
  * linearity probe for the two-pointer rebuild.)
  */
object ScaleProbe {
  private val base = "/root/testdata/sf0.1"
  private val root = "/tmp/graft_scale"
  private val factors = Seq(4, 16)

  /** Replica-methodology version, written into the _GENOK marker: bump it
    * whenever gen()'s data shape changes (v2 = jittered embeddings), so a
    * stale /tmp from an earlier round is regenerated instead of silently
    * probed under the new methodology's claims. */
  private val GenVersion = "v2-jitter"
  private def genCurrent(dir: String): Boolean =
    scala.util.Try(java.nio.file.Files.readString(
      java.nio.file.Paths.get(s"$dir/_GENOK")).trim == GenVersion).getOrElse(false)

  private val probeQueries = Seq(
    "q1_agg", "q2_join3", "f5_decimal_exists_ne", "l1_listing_page",
    "v1_knn_topk", "v2_knn_batch", "v5_maxsim_float", "v10_emb_lsh_neardups",
    "t4_minhash_lsh", "t5_simhash", "t6_simhash_neardups", "t9_lsh_keeplist",
    "e1_asof_join", "e3_window_agg", "e4_asof_nearest",
    "c1_chunks_fixed", "s1_search_docs", "u1_upsert",
    "n1_filename_search", "l9_folder_summary", "l10_usage_fold",
    "t12_decontaminate", "t16_heavy_hitters", "t17_components", "t18_url_caps",
    "e5_interval_join", "e6_sessionize", "e7_resample_locf",
    "t19_bloom_decontaminate",
    "t21_shuffle_shards", "t22_cms_heavy", "t23_keep_best",
    "t26_dup_spans", "t29_remove_dup_spans", "t30_lm_xent",
    "t33_paragraph_dedup", "t34_langid_trained",
    "k1_kmeans_assign", "k2_semdedup",
    "n2_bm25", "n3_hybrid_rrf", "t27_temperature_mix", "z1_zorder_layout")
  // v12_pq_adc / v14_sq_adc are deliberately NOT probed: the registry
  // queries rebuild their codebook/bounds + encode the corpus per run
  // (index-time work), which would mismeasure scaling the same way
  // round-1's v7 did — Bench times the prepared ADC-scan closures instead.

  def main(args: Array[String]): Unit = {
    val mode = args.headOption.getOrElse("all")
    require(Set("gen", "run", "recall", "all", "x64", "longdoc", "lowmem")(mode),
      s"unknown ScaleProbe mode '$mode' (gen|run|recall|all|x64|longdoc|lowmem)")
    // lowmem models ONE small executor (8 cores at whatever -Xmx the
    // SPARK_DRIVER_MEM env set — the probe is meant to run at 4g); the
    // scaling modes use the full box
    val spark = Harness.session(if (mode == "lowmem") 8 else 32)
    if (mode == "gen" || mode == "all") factors.foreach(f => gen(spark, f))
    if (mode == "recall" || mode == "all") {
      // regenerate any stale-methodology dir before measuring against it
      factors.foreach(f => if (!genCurrent(s"$root/x$f")) gen(spark, f))
      recallProbe(spark)
    }
    // one more octave for the heavy tail only: is any super-linear ratio a
    // trend or an artifact? (x64 ≈ 38M lineitem rows / 320k docs on 32 cores)
    if (mode == "x64") {
      // versioned completion marker, not bare existence: a killed prior gen
      // leaves a partial table mix, and a PREVIOUS round's marker means the
      // data predates the current replica methodology — both must regen
      if (!genCurrent(s"$root/x64")) gen(spark, 64)
      val heavyAll = Seq("q2_join3", "t4_minhash_lsh", "t12_decontaminate",
        "t19_bloom_decontaminate", "t31_decontaminate_auto", "t17_components",
        "t26_dup_spans", "t29_remove_dup_spans", "t30_lm_xent",
        "t32_dsir_sample", "t33_paragraph_dedup", "t34_langid_trained",
        "k2_semdedup", "n2_bm25", "t28_curation_e2e",
        "e7_resample_locf", "e8_ohlc", "t16_heavy_hitters",
        "gr1_pagerank", "t37_mojibake", "t38_oov_rate",
        "t39_winnow", "t40_winnow_match", "t41_bpe_train",
        "t42_curation_v2", "e9_funnel", "tr1_hard_negatives",
        "gr2_pagerank_dense", "n7_rm3_expand", "z2_hilbert_layout",
        "e12_history_features", "e13_ewma", "t43_quota_sample",
        "t44_ffd_pack", "t45_distinct_profile", "n8_more_like_this",
        "v18_jl_project", "n9_proximity", "m8_scene_cuts",
        "s5_dispatcher_rerank", "p7_index_layout", "l15_total_count",
        "p6_clean_control", "m9_scene_cuts_dense", "t46_context_windows",
        "e14_resample_interp", "s6_dispatcher_colpali_rerank",
        "c4_cdc_chunks", "tr3_triplets", "u6_changelog_apply",
        "t47_pretrain_e2e", "t48_fuzzy_pairs", "t49_fuzzy_match",
        "t50_snapshot_diff", "n10_spell_suggest", "m10_caption_frames",
        "s7_image_retrieve", "v23_ann_recall", "t51_kn_lm",
        "e16_interval_union", "n12_trgm_fuzzy", "p8_incremental_reembed", "e17_target_encode", "v24_ranking_metrics",
        "e18_rolling_anomaly", "k6_cluster_quality", "m11_image_keeplist",
        "s8_e2e_quality", "s9_e2e_quality_rerank", "t52_source_overlap",
        "t53_fim_transform", "t54_span_corrupt", "t55_gopher_quality",
        "t56_c4_line_filters", "t57_nb_classifier", "h1_html_blocks",
        "h2_html_main", "t58_sft_render", "n13_bm25f", "u7_time_travel", "tr4_bt_strengths", "t59_dpo_pairs", "t60_wordpiece", "t61_contamination_report", "q4_skew_report",
        "e19_ab_uplift", "v25_abtt_projection", "ev1_bleu_rouge",
        "ev2_calibration", "c5_texttile", "ev3_pass_at_k", "gr3_hits",
        "t62_unigram_train", "p9_md_tables", "tr5_pl_strengths",
        "ev4_fleiss_kappa", "t63_dedup_recall", "s10_office_colpali",
        "ev5_rouge_l", "ev6_chrf", "t64_memorization", "ev7_psi",
        "e20_cuped", "v26_rbo", "ev8_bootstrap", "s11_colpali_e2e_quality",
        "t65_soft_dedup", "ev9_gen_diversity", "ev10_attribution",
        "t66_canary_exposure", "ev11_rank_corr", "ev12_auc",
        "t67_readability", "t68_zipf_slope", "t69_heaps_growth", "q6_hll",
        "tr6_elo", "t70_fertility", "t71_weighted_sample", "gr4_lpa",
        "ev13_paired_perm", "e21_cusum", "n14_ql_dirichlet",
        "k8_dbscan_blocked", "e22_cusum_sharded", "ev14_ks_test",
        "e23_seasonal", "gr5_kcore", "gr6_triangles", "gr7_link_predict",
        "e24_fdr_bh", "ev15_chi2_drift", "t72_k_anonymity", "n15_tfidf_vsm",
        "e25_acf", "u8_compaction_plan", "ev16_krippendorff",
        "m12_loudness", "gr8_assortativity", "ev17_mcnemar", "e26_benford",
        "gr9_seed_distance", "k9_elbow",
        "gr10_reciprocity", "e27_seasonal_strength", "m13_image_entropy",
        "ev18_mann_whitney", "e28_holt_winters", "u9_gc_plan", "gr11_ppr",
        "e29_tost", "m14_video_neardup", "e30_mann_kendall",
        "t73_linear_classifier", "m15_audio_neardup", "q7_hdr_quantiles",
        "ev19_ragas", "ev20_er_f1", "q9_kmv_overlap", "t74_containment")
      // optional second arg: probe only the named queries (comma-separated) —
      // re-measuring one changed operator shouldn't cost the full heavy tail
      Harness.select(csv(args), heavyAll, "x64 queries").foreach { name =>
        val fn = SparkEntry.queries(name)
        val t1x = timeQuery(fn, spark, base)
        val t64 = timeQuery(kScaled(name).getOrElse(fn), spark, s"$root/x64")
        val note = if (kScaled(name).isDefined) " [k scaled 8->512]" else ""
        println(f"[scale] $name%-22s x1=$t1x%6.2fs x64=$t64%7.2fs " +
          f"ratio=${t64 / t1x}%.1f (data 64x)$note")
      }
    }
    // CONSTRAINED-MEMORY probe (round-10 verdict ask #5): run the
    // memory-heavy tail on the x64 replica under a deliberately small heap
    // (SPARK_DRIVER_MEM=4g) and report completed-with-spill vs OOM — the
    // "would it survive a bad day at 100×" evidence wall-clock probes
    // don't give. Sorts/aggregations must degrade to external spill, not
    // to executor death. Each query runs ONCE (completion evidence, not a
    // timing methodology); per-query spill bytes come from task metrics.
    if (mode == "lowmem") {
      require(genCurrent(s"$root/x64"),
        "lowmem probes the x64 replica - run `ScaleProbe x64` at full heap " +
          "first to generate it")
      val heapMb = Runtime.getRuntime.maxMemory() / (1024 * 1024)
      val memSpill = new java.util.concurrent.atomic.AtomicLong
      val diskSpill = new java.util.concurrent.atomic.AtomicLong
      val peakTaskMem = new java.util.concurrent.atomic.AtomicLong
      spark.sparkContext.addSparkListener(
        new org.apache.spark.scheduler.SparkListener {
          override def onTaskEnd(
              e: org.apache.spark.scheduler.SparkListenerTaskEnd): Unit = {
            val m = e.taskMetrics
            if (m != null) {
              memSpill.addAndGet(m.memoryBytesSpilled)
              diskSpill.addAndGet(m.diskBytesSpilled)
              peakTaskMem.accumulateAndGet(m.peakExecutionMemory, Math.max(_, _))
            }
          }
        })
      val lowmemAll = Seq(
        "q2_join3", "t4_minhash_lsh", "t17_components", "t33_paragraph_dedup",
        "n2_bm25", "e7_resample_locf", "e8_ohlc", "e14_resample_interp",
        "u6_changelog_apply", "m9_scene_cuts_dense", "t41_bpe_train",
        "gr2_pagerank_dense", "t16_heavy_hitters", "t44_ffd_pack",
        "k2_semdedup",
        // round 12: the two train-corpus gram-explode ops — their broadcast
        // semi-joins must degrade to spill, never to executor death
        "t61_contamination_report", "t64_memorization",
        // round 13: the session's memory-heavy shapes — ev9/t69's gram-
        // type exchanges and q6's exact countDistinct twin (the rule-21
        // arm that carries the full key universe)
        "ev9_gen_diversity", "t69_heaps_growth", "q6_hll",
        // round 14: k8's fit value-shuffle + co-membership cosine join —
        // the session's heaviest new exchange shape (k scaled to 512 on
        // the x64 data like the probe leg — the k2 contract; fixed-k at
        // 64x data would time the misconfiguration, not the operator)
        "k8_dbscan_blocked",
        // round-14 second session: e25's five-key window sort (1.28M rows
        // per partition at x64 — the keyed-sort spill candidate) + its
        // lag-explode join; gr6's wedge self-join over the 64x graph
        "e25_acf", "gr6_triangles")
      val cpus = spark.conf.get("spark.sql.shuffle.partitions")
      Harness.select(csv(args), lowmemAll, "lowmem queries").foreach { name =>
        memSpill.set(0); diskSpill.set(0); peakTaskMem.set(0)
        val fn = kScaled(name).getOrElse(SparkEntry.queries(name))
        val t0 = System.nanoTime()
        val outcome =
          try {
            Harness.timeNoop(fn(spark, s"$root/x64"))
            "completed"
          } catch {
            case e: Throwable =>
              val root = { var c: Throwable = e
                while (c.getCause != null) c = c.getCause; c }
              s"FAILED(${root.getClass.getSimpleName})"
          }
        val secs = (System.nanoTime() - t0) / 1e9
        Thread.sleep(500) // let the async listener bus drain task metrics
        println(f"[lowmem] $name%-22s $outcome%-10s t=$secs%7.1fs " +
          f"spill_mem=${memSpill.get / 1048576}%6dMB " +
          f"spill_disk=${diskSpill.get / 1048576}%6dMB " +
          f"peak_task=${peakTaskMem.get / 1048576}%5dMB heap=${heapMb}MB " +
          f"cores=$cpus")
      }
    }
    // doc-LENGTH scaling for the span-removal transform: the r6 verdict's
    // adversary is one unchunked fully-duplicated crawl doc, where the old
    // array_contains rebuild was O(len²). Fixed doc count, doubling token
    // length, full coverage (every doc a copy of the min-id owner) — a
    // linear rebuild shows time ratio ≈ length ratio (2.0 per octave);
    // the quadratic one doubled the ratio each octave.
    if (mode == "longdoc") {
      import spark.implicits._
      Seq(12500, 25000, 50000, 100000).foldLeft(Option.empty[Double]) { (prev, len) =>
        val tok = (0 until len).map(i => s"w${i % 97}").mkString(" ")
        val docs = (0 until 32).map(i => (i.toLong, if (i == 0) tok else s"pre$i $tok"))
          .toDF("doc_id", "text").repartition(32)
        def once(): Double =
          Harness.timeNoop(operators.Dedup.removeDupSpans(docs, "doc_id", "text"))
        once()
        val t = (1 to 2).map(_ => once()).min
        val vs = prev.map(p => f" vs_prev_octave=${t / p}%.2fx").getOrElse("")
        println(f"[longdoc] len=$len%6d tokens x32 docs (full coverage): $t%6.2fs$vs")
        Some(t)
      }
    }
    if (mode == "run" || mode == "all") {
      factors.foreach(f => if (!genCurrent(s"$root/x$f")) gen(spark, f))
      val dirs = ("x1" -> base) +: factors.map(f => s"x$f" -> s"$root/x$f")
      val rows = probeQueries.map { name =>
        val fn = SparkEntry.queries(name)
        val times = dirs.map { case (_, dir) => timeQuery(fn, spark, dir) }
        println(f"[scale] $name%-22s " +
          dirs.zip(times).map { case ((lbl, _), t) => f"$lbl=$t%6.2fs" }.mkString(" "))
        name -> times
      }
      println("| query | " + dirs.map(_._1).mkString(" | ") + " | x16/x1 |")
      println("|---|" + dirs.map(_ => "---|").mkString + "---|")
      rows.foreach { case (n, ts) =>
        println(f"| $n | " + ts.map(t => f"$t%.2f").mkString(" | ") +
          f" | ${ts.last / ts.head}%.1f |")
      }
    }
    spark.stop()
  }

  /** The optional comma-separated query list after the mode. */
  private def csv(args: Array[String]): Seq[String] =
    args.lift(1).toSeq.flatMap(_.split(',')).filter(_.nonEmpty)

  /** k2's scale contract is k ∝ n: the x64 and lowmem legs run at
    * k=8·64=512 (constant expected cluster size), not the bench k —
    * fixed-k at 64x data would time the O(Σ|cluster|²) misconfiguration
    * instead of the operator (and 512-centroid plans are exactly what the
    * broadcast-codebook assign exists for). k8 shares the contract: its
    * blocking only prunes at constant cell size. */
  private def kScaled(name: String): Option[(SparkSession, String) => DataFrame] =
    name match {
      case "k2_semdedup" =>
        Some((s, d) => graft.queries.ClusterQueries.semDedupAt(s, d, k = 512))
      case "k8_dbscan_blocked" =>
        Some((s, d) => graft.queries.ClusterQueries.dbscanBlockedAt(s, d, k = 512))
      case _ => None
    }

  /** ONE timing methodology for every probe mode (run and x64 must stay
    * comparable): warm twice (plan compile + first-touch shuffle/page-cache
    * at the larger factors), then best of 2 measured, each through
    * [[Harness.timeNoop]]. */
  private def timeQuery(fn: (SparkSession, String) => DataFrame,
                        spark: SparkSession, dir: String): Double = {
    def once(): Double = Harness.timeNoop(fn(spark, dir))
    once(); once()
    (1 to 2).map(_ => once()).min
  }

  /** IVF recall@10 vs exact, per scale, over 20 seeded query vectors
    * (vec_id 0..19 — fixed, so the number is reproducible run to run).
    *
    * Two configurations per grown corpus:
    *  - `v7cfg` (lists=16, nprobe=8 at every scale) — the original drift
    *    column: how does the BENCH configuration degrade as data grows
    *    around it;
    *  - `kpropn` (lists=16·f, nprobe=8·f) — the k ∝ n OPERATING POINT, the
    *    same scale contract k2's x64 leg runs at (k=512): constant expected
    *    list occupancy (~125 vectors) and constant probed fraction (half),
    *    which is how the index would actually be deployed on a 64× corpus.
    * The x64 leg rides a dedicated embeddings-only replica dir
    * ([[genEmbeddingsOnly]]): recall needs no 38M-row lineitem, so it
    * skips the full x64 table gen. */
  private def recallProbe(spark: SparkSession): Unit = {
    import graft.operators.{IvfIndex, KnnSearch}
    // x64: use the full probe dir when present (x64 timing run already paid
    // for it), else generate just the embeddings replica
    val x64dir =
      if (genCurrent(s"$root/x64")) s"$root/x64"
      else {
        if (!genCurrent(s"$root/x64emb")) genEmbeddingsOnly(spark, 64)
        s"$root/x64emb"
      }
    val dirs = (("x1", base, 1) +: factors.map(f => (s"x$f", s"$root/x$f", f))
      .filter { case (_, d, _) => new java.io.File(d).exists() }) :+
      (("x64", x64dir, 64))
    dirs.foreach { case (lbl, dir, factor) =>
      val emb = Tables.embeddings(spark, dir).cache()
      val corpusN = emb.count()
      val queries = emb.filter(col("vec_id") < 20)
        .select("vec_id", "embedding").collect()
        .map(r => r.getLong(0) -> r.getSeq[Float](1).toArray)
      // exact top-10 once per (dir, query), shared across configurations
      val exactSets = queries.map { case (qid, q) =>
        qid -> KnnSearch.topK(emb, "embedding", "vec_id", q, 10,
          where = col("vec_id") =!= qid)
          .select("vec_id").collect().map(_.getLong(0)).toSet
      }.toMap
      val configs = Seq(("v7cfg", 16, 8)) ++
        (if (factor > 1) Seq(("kpropn", 16 * factor, 8 * factor)) else Nil)
      configs.foreach { case (tag, lists, nprobe) =>
        val (indexed, model) = IvfIndex.build(emb, "embedding", lists = lists)
        indexed.cache().count()
        val recalls = queries.map { case (qid, q) =>
          val approx = IvfIndex.query(indexed, model, "embedding", "vec_id", q,
            k = 10, nprobe = nprobe, where = col("vec_id") =!= qid)
            .select("vec_id").collect().map(_.getLong(0)).toSet
          exactSets(qid).intersect(approx).size / 10.0
        }
        println(f"[scale] ivf_recall@10 $lbl%-4s $tag%-6s lists=$lists%-5d " +
          f"nprobe=$nprobe%-4d mean=${recalls.sum / recalls.length}%.3f " +
          f"min=${recalls.min}%.2f n=${recalls.length} corpus=$corpusN")
        indexed.unpersist()
      }
      emb.unpersist()
    }
  }

  /** N× replica with offset keys; replica 0 is the original data. */
  private def gen(spark: SparkSession, n: Int): Unit = {
    val out = s"$root/x$n"
    def reps(df: DataFrame)(f: (DataFrame, Int) => DataFrame): DataFrame =
      (0 until n).map(i => f(df, i)).reduce(_ unionByName _)

    val maxOrder = Tables.orders(spark, base).agg(max("o_orderkey")).head().getLong(0) + 1
    val maxDoc = Tables.documents(spark, base).agg(max("doc_id")).head().getLong(0) + 1
    val maxEvent = Tables.events(spark, base).agg(max("event_id")).head().getLong(0) + 1
    val maxUser = Tables.events(spark, base).agg(max("user_id")).head().getLong(0) + 1

    def write(name: String, df: DataFrame): Unit =
      df.repartition(32).write.mode("overwrite").parquet(s"$out/$name.parquet")

    // dims unchanged; facts replicated with shifted keys
    Seq("region", "nation", "customer", "supplier", "part").foreach { t =>
      write(t, Tables.table(spark, base, t)) }
    write("orders", reps(Tables.orders(spark, base)) { (df, i) =>
      df.withColumn("o_orderkey", col("o_orderkey") + lit(i * maxOrder)) })
    write("lineitem", reps(Tables.lineitem(spark, base)) { (df, i) =>
      df.withColumn("l_orderkey", col("l_orderkey") + lit(i * maxOrder)) })
    // replicate events from the RAW table read (not Tables.events'
    // normalized view) so the replica keeps the generator's own ts layout —
    // long-nanos through r7, timestamp[us] since r8 — and Tables.events'
    // schema dispatch applies identically to base and replica
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    write("events", reps(Tables.table(spark, base, "events")) { (df, i) =>
      df.withColumn("event_id", col("event_id") + lit(i * maxEvent))
        .withColumn("user_id", col("user_id") + lit(i * maxUser)) })
    // per-replica letter rotation makes replica texts genuinely DISTINCT
    // documents (a suffix tweak would leave them near-dups, which inflates
    // the near-dup pair space quadratically in N instead of scaling the
    // corpus) while preserving length and word-shape statistics
    val alpha = "etaoinshrd"
    write("documents", reps(Tables.documents(spark, base)) { (df, i) =>
      val rot = alpha.drop(i % alpha.length) + alpha.take(i % alpha.length)
      df.withColumn("doc_id", col("doc_id") + lit(i * maxDoc))
        .withColumn("text",
          if (i == 0) col("text") else translate(col("text"), alpha, rot)) })
    // replica vectors get seeded per-element jitter (±0.025, ~20% of the
    // fixture's component stddev): verbatim replicas made the x4/x16 recall
    // numbers optimistic — every replica of a true neighbor is an equally
    // good neighbor in the same IVF list — so large-x recall measured copy
    // structure, not organic corpus growth. hash() is deterministic, so the
    // probe stays reproducible run to run.
    write("embeddings", replicaEmbeddings(spark, n))
    // versioned completion marker: written LAST, so an interrupted gen is
    // re-run instead of silently probed against a partial table mix, and a
    // methodology bump invalidates data from earlier rounds
    java.nio.file.Files.writeString(java.nio.file.Paths.get(s"$out/_GENOK"), GenVersion)
    println(s"[scale] wrote $out")
  }

  /** The N× embeddings replica (shared by [[gen]] and [[genEmbeddingsOnly]]):
    * replica 0 is the original; later replicas get seeded per-element jitter
    * (±0.025, ~20% of the fixture's component stddev) — verbatim copies made
    * large-x recall measure copy structure instead of corpus growth. */
  private def replicaEmbeddings(spark: SparkSession, n: Int): DataFrame = {
    val maxVec = Tables.embeddings(spark, base).agg(max("vec_id")).head().getLong(0) + 1
    (0 until n).map { i =>
      val shifted = Tables.embeddings(spark, base)
        .withColumn("vec_id", col("vec_id") + lit(i * maxVec))
        .withColumn("label", col("label") + lit(i * 1000))
      if (i == 0) shifted
      else shifted.withColumn("embedding",
        transform(col("embedding"), (x, j) =>
          (x + (pmod(hash(col("vec_id"), lit(i), j), lit(1000)).cast("double")
            / 1000.0 - 0.5) * 0.05).cast("float")))
    }.reduce(_ unionByName _)
  }

  /** Embeddings-only N× replica into `$root/x${n}emb` — the recall probe's
    * x64 corpus without the ~38M-row full table gen (recall reads nothing
    * but the vector table). Same versioned completion marker as [[gen]]. */
  private def genEmbeddingsOnly(spark: SparkSession, n: Int): Unit = {
    val out = s"$root/x${n}emb"
    replicaEmbeddings(spark, n).repartition(32)
      .write.mode("overwrite").parquet(s"$out/embeddings.parquet")
    java.nio.file.Files.writeString(
      java.nio.file.Paths.get(s"$out/_GENOK"), GenVersion)
    println(s"[scale] wrote $out (embeddings only)")
  }
}
