package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.FormattedMode
import org.scalatest.funsuite.AnyFunSuite

/** Physical-plan regression guards for the headline queries: the 100 TB
  * properties (broadcast only the fixed-size side, top-k without global
  * sort, no accidental nested-loop joins, hit-only shuffles) are asserted
  * against the EXECUTED plan at sf0.001 — an optimizer or refactor change
  * that silently degrades a plan fails here, not in a bench regression
  * three rounds later. Complements IndexStoreSpec's no-Exchange bucketed
  * join and IntervalsSpec's equi-join guard. */
class PlanGuardSpec extends AnyFunSuite {

  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  private val dir = "/root/testdata/sf0.001"

  private def executedPlan(name: String): String = {
    // baseQueries: the operator's own plan, without the in-band control
    // tag's one-row broadcast crossJoin (SparkEntry.controlTagged) that
    // would trip the join-free/map-only assertions with boilerplate
    val df = SparkEntry.baseQueries(name)(spark, dir)
    df.collect() // AQE finalizes the plan only on execution
    df.queryExecution.executedPlan.toString
  }

  test("control tag rides a one-row BROADCAST crossJoin (never a shuffle) " +
    "and every controlTagged name exists in the registry") {
    assert((SparkEntry.controlTagged -- SparkEntry.baseQueries.keySet).isEmpty,
      "controlTagged names must be registered queries")
    val df = SparkEntry.queries("gr8_assortativity")(spark, dir)
    df.collect()
    val p = df.queryExecution.executedPlan.toString
    assert(p.contains("BroadcastNestedLoopJoin"),
      s"tag crossJoin must broadcast its one-row side:\n$p")
    assert(df.columns.last == "fixture", "tag column appended last")
  }

  test("q2_join3: the 25-row nation dim is broadcast; no nested-loop joins") {
    val p = executedPlan("q2_join3")
    assert(p.contains("BroadcastHashJoin"), s"nation not broadcast:\n$p")
    assert(!p.contains("CartesianProduct"), s"cartesian crept in:\n$p")
  }

  test("v1_knn_topk: top-k plans as TakeOrderedAndProject, not a global sort") {
    val p = executedPlan("v1_knn_topk")
    assert(p.contains("TakeOrderedAndProject"), s"global sort instead of heap:\n$p")
  }

  test("z1_zorder_layout: one narrow map, no joins of any kind") {
    val p = executedPlan("z1_zorder_layout")
    assert(!p.contains("Join"), s"zkey computation must be join-free:\n$p")
  }

  test("t26_dup_spans: span co-occurrence is equi-join shaped, never all-pairs") {
    val p = executedPlan("t26_dup_spans")
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"),
      s"span join degraded to nested loop:\n$p")
  }

  test("n2_bm25: one scoring scan into a top-k heap; no exchange, join or window") {
    // the (N, avgdl, df) stats row is collected when the query is built and
    // bound as literals, so the plan that runs is a single map-only scan
    // whose only cut is the bounded heap; a corpus-sized shuffle, a join
    // back to a stats side or a df window would show here
    val p = executedPlan("n2_bm25")
    assert(p.contains("TakeOrderedAndProject"), s"global sort instead of heap:\n$p")
    assert(!p.contains("Exchange"), s"scoring pass shuffles:\n$p")
    assert(!p.contains("Join"), s"scoring pass joins:\n$p")
    assert(!p.contains("Window"), s"scoring pass windows:\n$p")
  }

  test("n3_hybrid_rrf: arms pre-limit with top-k heaps, filters reach the scans, fusion never all-pairs") {
    // the arms execute while the query is built (each collects its top-k
    // ids; the fusion runs on the driver), so their executed plans are
    // captured as they run rather than read off the returned frame
    val (df, built) = QueryProfile(spark)(SparkEntry.queries("n3_hybrid_rrf")(spark, dir))
    // AQE's toString repeats the tree under "== Initial Plan =="; keep the
    // FINAL section only
    val all = built.plans.map(_.plan.toString.split("== Initial Plan ==").head)
    // each arm bounds itself to a request-sized slice with a heap top-k
    def arm(table: String) = all.filter(p =>
      p.contains(s"$table.parquet") && p.contains("TakeOrderedAndProject"))
    val (dense, keyword) = (arm("embeddings"), arm("documents"))
    assert(dense.size == 1 && keyword.size == 1,
      s"an arm lost its top-k heap:\n${all.mkString("\n----\n")}")
    // the dense arm's scan must keep its pushed predicates (scope lands
    // before scoring); a lost pushdown shows an unfiltered scan here
    assert(dense.head.contains("PushedFilters: [IsNotNull"),
      s"arm filter no longer pushed to the parquet scan:\n${dense.head}")
    all.foreach { p =>
      assert(!p.contains("Window"), s"an arm ranks in a window:\n$p")
      assert(!p.contains("CartesianProduct"), s"fusion went all-pairs:\n$p")
    }
    // the fused answer is a local frame: reading it runs no job
    val (rows, read) = QueryProfile(spark)(df.collect())
    assert(rows.nonEmpty)
    assert(read.jobs.size == 0, s"reading the fused frame ran ${read.jobs.size} jobs")
  }

  test("PlanDump: two dumps of p7 and of a lambda-carrying plan are byte-identical") {
    def raw(q: String) =
      SparkEntry.queries(q)(spark, dir).queryExecution.explainString(FormattedMode)
    // planned twice in one session, the raw text differs in expression
    // ids, a UDF lambda's identity hash and p7's temp directory
    for (q <- Seq("p7_index_layout", "c2_chunks_recursive")) {
      val (a, b) = (raw(q), raw(q))
      assert(a != b, s"$q: raw dumps already agree, the masks go untested")
      assert(PlanDump.normalize(a) == PlanDump.normalize(b),
        s"$q: normalized dumps differ:\n${PlanDump.normalize(a)}\n----\n${PlanDump.normalize(b)}")
      assert(PlanDump.plan(spark, dir, q) == PlanDump.normalize(a))
    }
    val lambda = PlanDump.plan(spark, dir, "c2_chunks_recursive")
    assert(lambda.contains("$Lambda$n") && !lambda.contains("/0x"),
      s"lambda class and identity hash not masked:\n$lambda")
    assert(PlanDump.plan(spark, dir, "p7_index_layout").contains("graft_p7_index_layoutn"))
    // Catalyst names Column lambda variables from one JVM-global counter,
    // so v6 planned again after v5 (both carry lambdas) reads later numbers
    def counters(p: String) = "lambda x_\\d+".r.findAllIn(p).toSet
    val first = raw("v6_maxsim_binary")
    assert(raw("v5_maxsim_float").contains("lambda x_"))
    val second = raw("v6_maxsim_binary")
    assert(counters(first).nonEmpty && counters(first) != counters(second),
      s"the lambda counter did not move between the dumps:\n$first\n----\n$second")
    assert(PlanDump.normalize(first) == PlanDump.normalize(second),
      s"normalized lambda dumps differ:\n${PlanDump.normalize(first)}\n----\n${PlanDump.normalize(second)}")
    assert(PlanDump.normalize(first).contains("lambda x_N"))
  }

  test("PlanDump masks the source line of an RDD's call site") {
    assert(PlanDump.normalize(
      "MapPartitionsRDD[12] at localCheckpoint at StageCut.scala:54") ==
      "MapPartitionsRDD[n] at localCheckpoint at StageCut.scala:n")
  }

  test("t28_curation_e2e: stage cuts present — the dedup chain is checkpointed, not re-derived") {
    val p = executedPlan("t28_curation_e2e")
    // the composed pipeline localCheckpoints survivor-sized stage outputs;
    // losing the cut silently re-executes the whole upstream chain once per
    // downstream consumer (a 4x re-derivation measured in round 5)
    assert(p.contains("Scan ExistingRDD"),
      s"stage cut missing — upstream curation chain re-executes per consumer:\n$p")
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"),
      s"curation pipeline grew an all-pairs join:\n$p")
  }

  test("t29_remove_dup_spans: ownership/coverage/rebuild joins stay equi-shaped") {
    val p = executedPlan("t29_remove_dup_spans")
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"),
      s"span-removal join degraded to nested loop:\n$p")
  }

  test("t30_lm_xent: count-table joins equi-shaped; only the one-row |V| side nests") {
    val df = SparkEntry.queries("t30_lm_xent")(spark, dir)
    df.collect()
    val p = df.queryExecution.executedPlan.toString.split("== Initial Plan ==").head
    assert(!p.contains("CartesianProduct"), s"LM scoring went all-pairs:\n$p")
    assert("BroadcastNestedLoopJoin".r.findAllMatchIn(p).size <= 1,
      s"unexpected nested-loop beyond the one-row vocab crossJoin:\n$p")
  }

  test("k2_semdedup: the dedup self-join keys on cluster_id (equi-join)") {
    val p = executedPlan("k2_semdedup")
    // a lost equi-key degrades to BroadcastNestedLoopJoin at this sf (small
    // side under the broadcast threshold), CartesianProduct above it —
    // forbid both
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"),
      s"semdedup went all-pairs:\n$p")
  }

  test("n4_snippets: the normalize/regexp decoration runs ABOVE the hit join, never corpus-side") {
    // boundary matching rewrites the haystack with a regexp — request-sized
    // when applied to the 10 joined hit rows, a corpus-sized regexp pass if
    // it ever slid below the join. Plan toString prints parents before
    // children, so the decoration's offset must precede the join's.
    val p = executedPlan("n4_snippets")
    val re = p.indexOf("regexp_replace")
    val bj = p.indexOf("BroadcastHashJoin")
    assert(re >= 0, s"boundary normalize missing from the plan:\n$p")
    assert(bj >= 0, s"hit slice no longer joined broadcast:\n$p")
    assert(re < bj, s"snippet regexp slid below the hit join (corpus-sided):\n$p")
  }

  test("t31_decontaminate_auto: the sf eval side dispatches to the exact broadcast arm") {
    // the dispatch itself is pinned both-sided by CorpusDispatchSpec; this
    // guards the REGISTERED query's executed shape: exact arm (no bloom
    // prefilter) with the eval n-gram set broadcast
    val p = executedPlan("t31_decontaminate_auto")
    assert(!p.toLowerCase.contains("might_contain"),
      s"small eval side took the bloom arm:\n$p")
    assert(p.contains("BroadcastHashJoin"), s"eval n-grams not broadcast:\n$p")
  }

  test("t32_dsir_sample: model tables broadcast, selection is top-k not global sort") {
    // the 100 TB contract, pinned stage by stage because the public
    // operator stage-cuts the weighted table (localCheckpoint — without it
    // the guard caught the scoring joins executing 3x for the three
    // selection consumers, exactly the regression class this suite exists
    // for). Stage 1 (scoring): both bucket-count model tables (≤4096 rows
    // by construction) broadcast-hash into the gram stream; the only
    // nested loop is the ONE-ROW totals crossJoin. Stage 2 (selection):
    // the k-th-key threshold comes from TakeOrderedAndProject
    // (per-partition heaps, never a corpus global sort), the only nested
    // loop is the ONE-ROW threshold crossJoin, and the rank attach is a
    // broadcast hash equi-join; the final ORDER BY doc_id is the oracle's
    // presentation sort over already-selected rows.
    val wdf = graft.operators.Corpus.dsirWeighted(
      graft.Tables.documents(spark, dir), "doc_id", "text",
      org.apache.spark.sql.functions.col("doc_id") % 23 === 0,
      buckets = 4096, seed = "r7")
    wdf.collect()
    val wp = wdf.queryExecution.executedPlan.toString.split("== Initial Plan ==").head
    assert(wp.contains("BroadcastHashJoin"), s"model tables not broadcast:\n$wp")
    assert(!wp.contains("CartesianProduct"), s"scoring went all-pairs:\n$wp")
    assert("BroadcastNestedLoopJoin".r.findAllMatchIn(wp).size <= 1,
      s"nested loop beyond the one-row totals crossJoin:\n$wp")

    val df = SparkEntry.queries("t32_dsir_sample")(spark, dir)
    df.collect()
    val p = df.queryExecution.executedPlan.toString.split("== Initial Plan ==").head
    assert(p.contains("TakeOrderedAndProject"),
      s"selection lost the top-k heap shape:\n$p")
    assert(p.contains("BroadcastHashJoin"), s"rank attach not broadcast:\n$p")
    assert(!p.contains("CartesianProduct"), s"selection went all-pairs:\n$p")
    assert("BroadcastNestedLoopJoin".r.findAllMatchIn(p).size <= 1,
      s"nested loop beyond the one-row threshold crossJoin:\n$p")
    assert("Scan ExistingRDD".r.findAllMatchIn(p).nonEmpty || p.contains("LocalTableScan")
      || !p.contains("FileScan"),
      s"selection re-derived the scoring stage instead of reading the cut:\n$p")
  }

  test("t33_paragraph_dedup: ownership is partial-aggregated (skew-safe), joins equi-shaped") {
    val p = executedPlan("t33_paragraph_dedup")
    // ownership MUST be groupBy(hash).min(struct) — partial aggregation
    // combines a boilerplate paragraph's 100M occurrences map-side; the
    // row_number-window formulation would ship them all to one task. A
    // `partial_min` in the executed plan is the map-side combine itself.
    assert(p.contains("partial_min"),
      s"paragraph ownership lost its map-side combine (skewed-key hazard):\n$p")
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"),
      s"paragraph dedup went all-pairs:\n$p")
  }

  test("e7_resample_locf: grid explode bounded per key; fill is ONE shuffle, no range join") {
    val p = executedPlan("e7_resample_locf")
    // the tick grid must come from a per-key bounds aggregate + explode,
    // and the LOCF fill from the union-window backward as-of — a range/
    // theta join here would be the O(grid x events) shape this operator
    // exists to avoid
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"),
      s"resample fill went non-equi:\n$p")
    assert(p.contains("Generate explode"), s"grid explode missing:\n$p")
    assert(p.contains("partial_min") || p.contains("partial_max"),
      s"per-key bounds lost their map-side combine:\n$p")
  }

  test("e8_ohlc: one map-side-combined aggregation, join-free") {
    val p = executedPlan("e8_ohlc")
    assert(!p.contains("Join"), s"OHLC rollup must not join:\n$p")
    assert(p.contains("partial_min") || p.contains("partial_min_by"),
      s"OHLC lost its map-side combine (hot keys concentrate):\n$p")
  }

  test("m4_transcript: seat plumbing is one narrow mapPartitions, shuffle-free scoring path") {
    val p = executedPlan("m4_transcript")
    assert(!p.contains("Join"), s"transcript explode must not join:\n$p")
    // one MapPartitions (or the serialized mapPartitions pair) and the
    // final presentation sort only — no mid-plan aggregation or shuffle
    // between bytes and utterance rows
    assert(p.contains("MapPartitions"), s"transcriber seat not mapPartitions:\n$p")
    assert(!p.contains("HashAggregate"),
      s"transcript path grew an aggregation it doesn't need:\n$p")
  }

  test("m5_image_dhash: candidates from the block equi-join, never all-pairs") {
    val p = executedPlan("m5_image_dhash")
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"),
      s"image near-dup went all-pairs:\n$p")
    // the self-join must key on (block_idx, blk) — a SortMergeJoin or
    // broadcast HASH join on those keys is fine; pixel decode never joins
    assert(p.contains("block_idx"), s"pigeonhole block key missing from plan:\n$p")
  }

  test("m7_multimodal_curation: all three modality arms stay equi-shaped") {
    val p = executedPlan("m7_multimodal_curation")
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"),
      s"a modality arm went all-pairs:\n$p")
  }

  test("m6_audio_activity: map-only window stream — no join, no aggregation") {
    val p = executedPlan("m6_audio_activity")
    assert(!p.contains("Join"), s"audio windows must not join:\n$p")
    assert(!p.contains("HashAggregate"),
      s"audio path grew an aggregation it doesn't need:\n$p")
  }

  test("t34_langid_trained: profile table broadcast; only the |labels| side nests") {
    val df = SparkEntry.queries("t34_langid_trained")(spark, dir)
    df.collect()
    val p = df.queryExecution.executedPlan.toString.split("== Initial Plan ==").head
    // the ≤ |labels|·profileK profile table must broadcast-hash into the
    // doc-profile stream; the only nested loop is the handful-of-rows
    // labels crossJoin — a corpus-sized side in either seat is the
    // regression this pins against
    assert(p.contains("BroadcastHashJoin"), s"profile table not broadcast:\n$p")
    assert(!p.contains("CartesianProduct"), s"scoring went all-pairs:\n$p")
    assert("BroadcastNestedLoopJoin".r.findAllMatchIn(p).size <= 1,
      s"nested loop beyond the labels crossJoin:\n$p")
  }

  test("v14_sq_adc: encode+ADC is a join-free narrow map into a top-k heap") {
    val p = executedPlan("v14_sq_adc")
    // the SQ8 model rides the plan as two d-length literals — scoring must
    // never join, and ranking must stay TakeOrderedAndProject (the train
    // pass is a separate Summarizer job, not part of this plan)
    assert(!p.contains("Join"), s"SQ8 scoring grew a join:\n$p")
    assert(p.contains("TakeOrderedAndProject"), s"global sort instead of heap:\n$p")
  }

  test("t40_winnow_match: candidate pairs from the fp equi-join, never all-pairs") {
    val p = executedPlan("t40_winnow_match")
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"),
      s"winnow match degraded to nested loop:\n$p")
  }

  test("e9_funnel: step chain is user-keyed equi-joins, never nested-loop") {
    val p = executedPlan("e9_funnel")
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"),
      s"funnel step join degraded:\n$p")
  }

  test("t42_curation_v2: composed gates stay equi-shaped end to end") {
    val p = executedPlan("t42_curation_v2")
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"),
      s"curation v2 grew an all-pairs seam:\n$p")
  }

  test("gr1 pagerank step: contribution pass equi-shaped; only the one-row dangling total nests") {
    // gr1's registered frame is post-checkpoint (the iterative operator
    // materializes per pass), so pin the iteration body itself: build one
    // un-checkpointed step over a small graph and execute it.
    import spark.implicits._
    val e = Seq("a" -> "b", "a" -> "c", "b" -> "c", "c" -> "a", "c" -> "d")
      .toDF("src", "dst")
    val ranks = Seq(("a", 2L, 250L), ("b", 1L, 250L), ("c", 2L, 250L),
      ("d", 0L, 250L)).toDF("node", "outdeg", "rank")
    val df = graft.operators.LinkGraph.step(ranks, e, 4L, 37L, 85)
    df.collect()
    val p = df.queryExecution.executedPlan.toString.split("== Initial Plan ==").head
    assert(!p.contains("CartesianProduct"), s"pagerank step went all-pairs:\n$p")
    assert("BroadcastNestedLoopJoin".r.findAllMatchIn(p).size <= 1,
      s"nested loop beyond the one-row dangling crossJoin:\n$p")
  }

  test("t45_distinct_profile: two algebraic aggregations, joins stay |strata|-sized") {
    val p = executedPlan("t45_distinct_profile")
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"),
      s"profile join degraded:\n$p")
    // exact-distinct as two-level groupBy: partial aggregation must appear
    // (map-side combine on the (stratum, token) exchange)
    assert(p.contains("HashAggregate"), s"lost the aggregate shape:\n$p")
  }

  test("n8_more_like_this: final pass keeps the n2 shape (one scan into a top-k heap)") {
    val p = executedPlan("n8_more_like_this")
    assert(p.contains("TakeOrderedAndProject"), s"global sort instead of heap:\n$p")
    assert(!p.contains("Exchange"), s"final pass shuffles:\n$p")
    assert(!p.contains("Window"), s"final pass windows:\n$p")
    assert(!p.contains("CartesianProduct"), s"all-pairs seam:\n$p")
  }

  test("v18_jl_project: a join-free narrow kernel map") {
    val p = executedPlan("v18_jl_project")
    assert(!p.contains("Join"), s"projection must be join-free:\n$p")
    assert(p.contains("jl_project"), s"kernel expression folded away:\n$p")
  }

  test("n9_proximity: hit-filtered explode into one windowed doc exchange, top-k heap") {
    val p = executedPlan("n9_proximity")
    assert(!p.contains("Join"), s"proximity needs no join at all:\n$p")
    assert(p.contains("Window"), s"running maxes lost the window shape:\n$p")
    assert(p.contains("TakeOrderedAndProject"), s"global sort instead of heap:\n$p")
  }

  test("m8_scene_cuts: map-only decode into one windowed timeline, join-free") {
    val p = executedPlan("m8_scene_cuts")
    assert(!p.contains("Join"), s"scene cuts need no join:\n$p")
    assert(p.contains("Window"), s"lag lost the window shape:\n$p")
  }

  test("m9_scene_cuts_dense: the growing arm keeps m8's join-free windowed shape") {
    val p = executedPlan("m9_scene_cuts_dense")
    assert(!p.contains("Join"), s"dense scene cuts need no join:\n$p")
    assert(p.contains("Window"), s"lag lost the window shape:\n$p")
    assert(p.contains("HashAggregate"), s"rollup lost partial aggregation:\n$p")
  }

  test("e14_resample_interp: both bracketing directions ride ONE window sort, no join") {
    val p = executedPlan("e14_resample_interp")
    assert(!p.contains("Join"), s"interp must not join backward+forward passes:\n$p")
    assert(p.contains("Window"), s"bracketing lost the window shape:\n$p")
  }

  test("t47_pretrain_e2e: stage cut present, gates stay equi-shaped into the block window") {
    val p = executedPlan("t47_pretrain_e2e")
    assert(p.contains("Scan ExistingRDD"),
      s"stage cut missing — dedup keep-list re-executes per consumer:\n$p")
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"),
      s"pretrain pipeline grew an all-pairs join:\n$p")
    assert(p.contains("Window"), s"block offsets lost the window shape:\n$p")
  }

  test("t50_snapshot_diff: fingerprint tables meet in an equi full-outer join, never nested-loop") {
    val p = executedPlan("t50_snapshot_diff")
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"),
      s"snapshot diff degraded to a nested loop:\n$p")
    assert(p.contains("FullOuter"), s"diff lost its full-outer shape:\n$p")
  }

  test("t48_fuzzy_pairs: candidates from the block equi-join, never all-pairs") {
    val p = executedPlan("t48_fuzzy_pairs")
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"),
      s"fuzzy matching degraded to all-pairs:\n$p")
  }

  test("m10_caption_frames: the pair join is the union+window as-of, join-free") {
    val p = executedPlan("m10_caption_frames")
    assert(!p.contains("Join"), s"as-of must not plan a join:\n$p")
    assert(p.contains("Window"), s"as-of lost its window shape:\n$p")
  }

  test("t46_context_windows: doc-level window + map-only explode into one agg, join-free") {
    val p = executedPlan("t46_context_windows")
    assert(!p.contains("Join"), s"block construction needs no join:\n$p")
    assert(p.contains("Window"), s"per-shard offsets lost the window shape:\n$p")
    assert(p.contains("Generate"), s"token explode vanished:\n$p")
  }

  test("s5_dispatcher_rerank: composed serving plan keeps heap top-k, no nested loops") {
    val p = executedPlan("s5_dispatcher_rerank")
    assert(p.contains("TakeOrderedAndProject"),
      s"oversample/rerank truncation lost the heap shape:\n$p")
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"),
      s"dispatcher composition degraded to a nested loop:\n$p")
  }

  test("c4_cdc_chunks: a join-free narrow kernel map + explode") {
    val p = executedPlan("c4_cdc_chunks")
    assert(!p.contains("Join"), s"CDC chunking needs no join:\n$p")
    assert(p.contains("cdc_chunks"), s"kernel expression folded away:\n$p")
  }

  test("s6_dispatcher_colpali_rerank: multivector scoring stays in the scan projection, no nested loops") {
    val p = executedPlan("s6_dispatcher_colpali_rerank")
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"),
      s"colpali+rerank composition degraded to a nested loop:\n$p")
    assert(p.contains("max_sim_float"), s"MaxSim folded away:\n$p")
  }

  test("p7_index_layout: the post-write scan is partition-pruned on the scope column") {
    val p = executedPlan("p7_index_layout")
    assert(p.contains("PartitionFilters: [") && p.contains("lang"),
      s"read of the partitioned layout lost its partition filter:\n$p")
  }

  test("t4_minhash_lsh: equi-joins only, and the dedup aggregate sits on rep pairs") {
    // the round-11 identical-signature pre-reduction: every join stays an
    // equi-join (band_key / sig_key), and the HashAggregate that dedups
    // band multiplicity must run BEFORE the member-expansion joins — an
    // aggregate over the expanded (quadratic) pair stream is exactly the
    // 12 GB lowmem spill this plan shape removed
    val p = executedPlan("t4_minhash_lsh")
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"),
      s"LSH pairing degraded to all-pairs:\n$p")
    val lines = p.linesIterator.toVector
    val aggIdx = lines.indexWhere(l =>
      l.contains("HashAggregate") && l.contains("ka") && l.contains("kb"))
    assert(aggIdx >= 0, s"rep-pair distinct vanished from the plan:\n$p")
    // below (deeper in the tree = further down the string) the distinct
    // there must be no join producing id_a/id_b expansion ABOVE it other
    // than the two member-expansion joins, which carry no aggregate
    val aboveAgg = lines.take(aggIdx).mkString("\n")
    assert(!aboveAgg.contains("HashAggregate(keys=[id_a"),
      s"a distinct over the expanded pair stream crept back in:\n$p")
  }

  test("t55/t56/t58: map-only gates — no join, no keyed exchange anywhere") {
    Seq("t55_gopher_quality", "t56_c4_line_filters", "t58_sft_render")
      .foreach { q =>
        val p = executedPlan(q)
        assert(!p.contains("Join"), s"$q planned a join:\n$p")
        // the only exchanges allowed are the scaled() round-robin fan-out
        // and the presentation sort's range partitioning
        assert(!p.contains("hashpartitioning"),
          s"$q grew a keyed shuffle:\n$p")
      }
  }

  test("h1_html_blocks: regex chain is join-free with no keyed exchange") {
    val p = executedPlan("h1_html_blocks")
    assert(!p.contains("Join"), s"h1 planned a join:\n$p")
    assert(!p.contains("hashpartitioning"), s"h1 grew a keyed shuffle:\n$p")
  }

  test("t59_dpo_pairs: one fingerprint window, join-free") {
    val p = executedPlan("t59_dpo_pairs")
    assert(!p.contains("Join"), s"t59 planned a join:\n$p")
    assert(p.contains("Window"), s"t59 lost the dedup window:\n$p")
  }

  test("n13_bm25f: hit-bounded field join, heap top-k, no nested loops") {
    val p = executedPlan("n13_bm25f")
    assert(p.contains("TakeOrderedAndProject"),
      s"top-k lost the heap shape:\n$p")
    assert(!p.contains("CartesianProduct"),
      s"field combination degraded to cartesian:\n$p")
  }

  test("ev1/ev3/c5/p9: in-row metric kernels are map-only — no join, no keyed exchange") {
    Seq("ev1_bleu_rouge", "ev3_pass_at_k", "c5_texttile", "p9_md_tables")
      .foreach { q =>
        val p = executedPlan(q)
        assert(!p.contains("Join"), s"$q planned a join:\n$p")
        assert(!p.contains("hashpartitioning"),
          s"$q grew a keyed shuffle:\n$p")
      }
  }

  // ev2_calibration has no external plan to guard: the corpus-sized groupBy
  // executes INSIDE Evals.calibration (rule-17 driver fit) and the returned
  // frame is the request-sized local result — its shape is pinned by
  // EvalsSpec's value fixtures instead.

  test("gr3_hits: contribution joins stay equi-shaped; totals broadcast as one row") {
    val p = executedPlan("gr3_hits")
    assert(!p.contains("CartesianProduct"), s"gr3 degraded to cartesian:\n$p")
  }

  test("t62_unigram_train: corpus-sized stage is the one word groupBy; DP is join-free") {
    val p = executedPlan("t62_unigram_train")
    assert(!p.contains("CartesianProduct"), s"t62 degraded to cartesian:\n$p")
    assert(p.contains("HashAggregate"), s"t62 lost the aggregation shape:\n$p")
  }

  test("k8_dbscan_blocked: blocking stays equi-shaped — the co-membership " +
    "join keys on the probed list id, never all-pairs") {
    val p = executedPlan("k8_dbscan_blocked")
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"),
      s"blocked dbscan degraded to an all-pairs shape:\n$p")
  }

  test("ev14_ks_test: distinct-score cells are partial-aggregated; no joins " +
    "beyond the cells-sized outer join") {
    val p = executedPlan("ev14_ks_test")
    assert(p.contains("partial_count") || p.contains("Partial"),
      s"cell counts must map-side combine:\n$p")
    assert(!p.contains("CartesianProduct"),
      s"KS must never cross rows:\n$p")
  }

  test("e23_seasonal: the daily rollup is the only corpus exchange and is " +
    "partial-aggregated; grid/seasonal joins stay bounded") {
    val p = executedPlan("e23_seasonal")
    assert(p.contains("partial_sum") || p.contains("Partial"),
      s"daily rollup must map-side combine:\n$p")
    assert(!p.contains("CartesianProduct"),
      s"grid construction must not cross-join the corpus:\n$p")
  }

  test("gr6_triangles: orientation, wedge build, and closure probe all " +
    "stay equi-shaped — the whole point of degree ordering") {
    val p = executedPlan("gr6_triangles")
    assert(!p.contains("CartesianProduct") &&
      !p.contains("BroadcastNestedLoopJoin"),
      s"triangle counting degraded to an all-pairs shape:\n$p")
    assert(p.contains("partial_count") || p.contains("Partial"),
      s"the corner-credit count must map-side combine:\n$p")
  }

  test("gr7_link_predict: the wedge aggregation map-side combines and the " +
    "cut is a top-k heap, never a global sort") {
    val p = executedPlan("gr7_link_predict")
    assert(!p.contains("CartesianProduct") &&
      !p.contains("BroadcastNestedLoopJoin"),
      s"link prediction degraded to an all-pairs shape:\n$p")
    assert(p.contains("TakeOrderedAndProject"),
      s"the topK cut must be a bounded heap:\n$p")
  }

  test("n15_tfidf_vsm: the tf table is stage-cut (r17 — df derives from it, " +
    "no second tokenize pass), the cut is a top-k heap, and the lnc_norm_sq " +
    "kernel executes inside the cut stage") {
    // the lnc_norm_sq kernel runs INSIDE the checkpointed tf stage, so the
    // registered query's executed plan starts from the cut and the kernel
    // is invisible there (r17 advisor finding: 'Scan ExistingRDD' alone
    // does not gate the kernel) — each cut reports the plan it executed as
    // a `localCheckpoint` plan, and the tf seam's is the one that explodes
    // the tokens.
    val (p, profile) = QueryProfile(spark)(executedPlan("n15_tfidf_vsm"))
    assert(p.contains("Scan ExistingRDD"),
      s"stage cut missing - the tf table re-executes per consumer:\n$p")
    assert(p.contains("TakeOrderedAndProject"),
      s"the k cut must be a bounded heap:\n$p")
    assert(!p.contains("CartesianProduct"),
      s"scoring must never cross rows:\n$p")
    val cuts = profile.plans.filter(_.funcName == "localCheckpoint").map(_.plan.toString)
    val tfPlan = cuts.filter(_.contains("Generate explode"))
    assert(tfPlan.size == 1, s"the tf seam is not one cut:\n${cuts.mkString("\n----\n")}")
    assert(tfPlan.head.contains("lnc_norm_sq"),
      s"the norm kernel must execute inside the tf stage (not a HOF " +
        s"rewrite):\n${tfPlan.head}")
  }

  test("e25_acf: the lag pairing is an equi-join on (key, t+lag); stats " +
    "and moments partial-aggregate") {
    val p = executedPlan("e25_acf")
    assert(!p.contains("CartesianProduct") &&
      !p.contains("BroadcastNestedLoopJoin"),
      s"lag pairing degraded to a range/all-pairs shape:\n$p")
    assert(p.contains("partial_sum") || p.contains("Partial"),
      s"the covariance sums must map-side combine:\n$p")
  }

  test("e24_fdr_bh: the corpus-sized flip dataflow runs ONCE behind the " +
    "stage cut; the battery windows never touch corpus-sized rows") {
    // the 25-row p-value table is localCheckpoint()ed (rule 14 — it has
    // two consumers), so the registered query's executed plan must START
    // from the cut, not re-derive the 200-way explode per consumer
    val p = executedPlan("e24_fdr_bh")
    assert(p.contains("Scan ExistingRDD"),
      s"stage cut missing - the flip dataflow re-executes per consumer:\n$p")
    assert(!p.contains("CartesianProduct"),
      s"the battery join must never cross rows:\n$p")
  }
}
