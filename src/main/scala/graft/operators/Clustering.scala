package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.functions.vec

/** Deterministic Lloyd k-means + SemDeDup-style semantic dedup.
  *
  * Why a second k-means next to [[IvfIndex]] (which wraps MLlib): MLlib's
  * trainer is seeded but its init (k-means||) and treeAggregate fold order
  * are opaque to any other engine, so an IVF assignment can only be
  * rows-gated (v7) and exactness-bridged (v8). This variant trades
  * convergence speed for exact replayability — seeded init = the k lowest-id
  * vectors, a fixed number of Lloyd steps, distance ties broken by centroid
  * index — so the full clustering is value-checkable in a SQL oracle
  * (k1/k2/k3), and any engine can reproduce the partition for handoff.
  *
  * The dedup half is the SemDeDup recipe (Abbas et al. 2023,
  * arXiv:2303.09540): cluster the embedding space first, then look for
  * near-duplicates only WITHIN a cluster — pairwise work drops from O(n²)
  * to O(Σ|cluster|²), and k is chosen to scale with the corpus so clusters
  * stay bounded (the paper runs k=50k on LAION). Complements the LSH
  * near-dup pass ([[Dedup]] v10): LSH catches high-cosine pairs cheaply,
  * SemDeDup sweeps whole semantic neighborhoods at a lower threshold.
  *
  * Why k (not LSH) is the scale lever for the within-cluster pass: at
  * moderate thresholds (τ≈0.4) per-dimension sign agreement of a
  * qualifying pair is only ~1−acos(τ)/π ≈ 0.63, so sign-block bucketing
  * either loses nearly all recall (0.63^16 ≈ 6e-4 per 16-dim block) or,
  * with blocks narrow enough to keep recall, stops pruning (4-dim blocks
  * = 16 keys → collision volume ≈ C²). Sign-LSH is the right tool only in
  * v10's high-cosine regime; here the paper's own answer — clusters of
  * constant size via k ∝ n — is the one that holds at 100 TB.
  *
  * 100 TB shape: assignment is a narrow map — no join, no shuffle — whose
  * centroids ship as a BROADCAST codebook read by a native codegen'd
  * expression ([[graft.functions.VectorExpressions.NearestCentroid]]), so
  * plan size, Janino method size, and task-binary size are O(1) in k and the
  * per-row cost is a single O(k·dim) compiled argmin scan. That matters
  * because the SemDeDup scale lever is k ∝ n (the paper runs k=50k): a
  * literal-per-centroid plan stops compiling at k in the low hundreds and an
  * `array_sort` ranking pays O(k log k) per row for an argmin. Each Lloyd
  * step's mean pass shuffles the member VALUES (n x dim rows, grouped per
  * (cluster, dim)) — that volume is the price of the value-ordered fold
  * that makes the fit replayable in any engine (see [[fit]]); a deployment
  * that wants the map-side-combined k x dim-partials shuffle instead of
  * replayability clusters with [[IvfIndex.build]] (MLlib, seeded but
  * fold-order-opaque) and feeds the assignment to [[semDedup]], which only
  * needs SOME deterministic partition. Driver traffic is the k x dim mean
  * table either way (sketch-sized, like [[PqIndex]]'s codebook). The dedup
  * join is an equi-join on cluster_id — never all-pairs.
  */
object Clustering {

  case class Model(centroids: Array[Array[Double]]) {
    require(centroids.nonEmpty, "k-means model needs at least one centroid")

    // The model OWNS its codebook broadcast: one block per model lifetime,
    // lazily created on first assign and reused by every later call (a
    // serving path assigning per request must not accumulate one broadcast
    // per call — the repo's serving leak-guard stance), destroyable when
    // the lifecycle is known ([[fit]] destroys each iteration's). Cleanup
    // for models that are simply dropped still falls to GC+ContextCleaner,
    // as for any unreferenced broadcast.
    @transient private var bc:
      org.apache.spark.broadcast.Broadcast[Array[Array[Double]]] = _

    private[graft] def codebook(df: DataFrame):
        org.apache.spark.broadcast.Broadcast[Array[Array[Double]]] = synchronized {
      if (bc == null) bc = df.sparkSession.sparkContext.broadcast(centroids)
      bc
    }

    /** Release the codebook broadcast (blocking). Safe to call more than
      * once; a later assign re-broadcasts lazily.
      *
      * LIFECYCLE CONTRACT: destroy only after every ACTION on frames
      * previously returned by [[assign]] has completed — a lazily-built
      * plan holding the destroyed broadcast fails at execution with an
      * opaque "Attempted to use Broadcast after it was destroyed", not a
      * graft error ([[fit]]'s per-iteration destroy is safe: each
      * iteration's frames are fully consumed before the next). A frame
      * built after destroy is fine (assign re-broadcasts). */
    def destroy(): Unit = synchronized {
      if (bc != null) { bc.destroy(); bc = null }
    }
  }

  /** `cluster_id` (long) + squared-distance `dist` for every row: argmin over
    * the broadcast codebook (distance fold left-to-right in doubles = the
    * oracle's `list_sum(list_transform(...))`; ties go to the lowest centroid
    * index, same as the oracle's `ORDER BY d, cid`). The codebook broadcast
    * is owned by `model` — reused across calls, released by
    * [[Model.destroy]]. */
  def assign(df: DataFrame, vecCol: String, model: Model): DataFrame = {
    val bc = model.codebook(df)
    df.withColumn("__sc", vec.nearest_centroid(col(vecCol), bc))
      .withColumn("cluster_id", col("__sc.i"))
      .withColumn("dist", col("__sc.d"))
      .drop("__sc")
  }

  /** Lloyd fit: seeds = the k lowest-id vectors, then `iters` (assign →
    * recompute-means) steps. A cluster that loses all members keeps its
    * previous centroid (the oracle mirrors this with a LEFT JOIN back to the
    * seed set). Each step scans the corpus once; the mean shuffle carries
    * the member values themselves (no map-side reduction — see the ordered
    * fold below and the trade-off note in the object scaladoc).
    *
    * The per-(cluster, dim) mean is a DETERMINISTIC fold: member values are
    * collected, sorted by id, and summed left-to-right, then divided by the
    * count (÷ is correctly rounded) — a distributed `avg` of doubles folds in
    * partition order, and an ulp difference in a centroid can flip a near-tie
    * argmin, breaking the bit-level replayability the k1/k2/k3 oracles gate
    * (their mirror: `list_sum(list(v ORDER BY vec_id)) / count(*)`). The
    * per-group list is cluster-sized — bounded, because the operating
    * contract is k ∝ n (constant cluster size), the same bound the semDedup
    * within-cluster join relies on. */
  def fit(df: DataFrame, vecCol: String, idCol: String, k: Int, iters: Int): Model = {
    var cen: Array[Array[Double]] = df.orderBy(col(idCol)).limit(k).select(vecCol)
      .collect().map(_.getSeq[Float](0).map(_.toDouble).toArray)
    for (_ <- 0 until iters) {
      val step = Model(cen)
      val sums = assign(df, vecCol, step)
        .select(col("cluster_id"), col(idCol).as("__mid"), posexplode(col(vecCol)))
        .groupBy("cluster_id", "pos")
        .agg(
          graft.functions.GenEvalExpressions.ordered_sum(
            collect_list(struct(col("__mid").as("k"),
              col("col").cast("double").as("v")))).as("s"),
          count(lit(1)).as("c"))
        .collect()
      step.destroy() // the action is done; this iteration's codebook block is dead
      val next = cen.map(_.clone)
      sums.foreach(r => next(r.getLong(0).toInt)(r.getInt(1)) = r.getDouble(2) / r.getLong(3))
      cen = next
    }
    Model(cen)
  }

  /** Elbow (model-selection) report over a k ladder — the "which k?"
    * decision in FRONT of this family's consumers (k2's SemDeDup quota,
    * k4's cluster sampling, v7's IVF lists all take k as given; someone
    * has to pick it): fit the replayable seeded Lloyd at each candidate
    * k, read the inertia curve, and mark the knee by the MAXIMUM SECOND
    * DIFFERENCE of inertia over the (geometric) ladder — the simplest
    * published curvature heuristic (Thorndike 1953 lineage), chosen here
    * over kneedle/ratio rules because it is pure integer SUBTRACTION:
    * no division ever touches the decision, so the argmax is exact and
    * total-ordered (tiebreak: smaller k — prefer the cheaper model).
    *
    * Exactness: inertia = Σ floor(dist²·10⁶) per point — the squared
    * assign distance is a deterministic double (the k1-gated property),
    * the floor makes each term an integer, and the sum is order-free.
    * `drop_fp` = inertia_{prev} − inertia_k (NULL at the first k);
    * `curvature_fp` = drop_k − drop_next (NULL at the ends); `chosen`
    * marks the curvature argmax. Inertia can RISE under fixed iters +
    * seeded init (more seeds ≠ better fit after 2 steps); negative
    * drops simply rank low — no clamping, the arithmetic stays honest.
    *
    * 100 TB shape: |ks| independent Lloyd fits run as CONCURRENT driver
    * jobs, at most 3 in flight (guide §2.6: enough to back-fill each
    * action's straggler tail, not so many that job chains fight for
    * executors) + one floor-sum scan per k; the ladder decision runs on
    * |ks| driver rows (rule 17). */
  def elbowReport(df: DataFrame, vecCol: String, idCol: String,
                  ks: Seq[Int], iters: Int): DataFrame = {
    require(ks.size >= 3, s"elbowReport needs >= 3 candidate ks for a " +
      s"second difference (got $ks)")
    require(ks == ks.sorted && ks.distinct == ks && ks.head >= 1,
      s"elbowReport needs a sorted, distinct, positive k ladder (got $ks)")
    val spark = df.sparkSession
    import spark.implicits._
    // The |ks| ladders are INDEPENDENT fits — run them as concurrent driver
    // jobs (r17 optimization round; guide §2.6 "overlap independent jobs"):
    // each ladder is a chain of small sequential Lloyd actions whose
    // stragglers leave most cores idle, and FIFO scheduling back-fills the
    // idle capacity with the next ladder's tasks. Same fits, same actions,
    // same per-k results — only the wall-clock overlap changes (measured:
    // 32 sequential driver jobs before).
    val inertia = {
      import scala.concurrent.{Await, ExecutionContext, Future}
      import scala.concurrent.duration.Duration
      // Cap concurrency at 4 (guide §2.6; r17 advisor finding): an
      // adversarially long ladder must not spawn one driver thread + job
      // chain per k. 4, not the guide's 2-3, because k9's standard ladder
      // IS 4 rungs — a cap of 3 serialized its 4th ladder and measurably
      // regressed the row (0.84 -> 1.49 s in the r18 run-2 bench).
      // shutdownNow on exit so a failed fit does not leave sibling
      // ladders running while the exception propagates.
      val pool = java.util.concurrent.Executors
        .newFixedThreadPool(math.min(ks.size, 4))
      implicit val ec: ExecutionContext =
        ExecutionContext.fromExecutorService(pool)
      try Await.result(Future.sequence(ks.map { k => Future {
        val model = fit(df, vecCol, idCol, k, iters)
        val s = assign(df, vecCol, model)
          .agg(sum(floor(col("dist") * 1000000.0).cast("long")))
          .head().getLong(0)
        model.destroy()
        k -> s
      }}), Duration.Inf)
      finally pool.shutdownNow()
    }
    val drops = inertia.indices.map { i =>
      if (i == 0) None else Some(inertia(i - 1)._2 - inertia(i)._2)
    }
    val curv = inertia.indices.map { i =>
      if (i == 0 || i == inertia.size - 1) None
      else Some(drops(i).get - drops(i + 1).get)
    }
    val best = curv.zipWithIndex.collect { case (Some(c), i) => (c, i) }
      .minBy { case (c, i) => (-c, ks(i)) }._2
    inertia.indices.map { i =>
      (ks(i).toLong, inertia(i)._2, drops(i), curv(i), i == best)
    }.toDF("k", "inertia_fp", "drop_fp", "curvature_fp", "chosen")
  }

  /** SemDeDup keep/drop decision: a row is a semantic duplicate iff some
    * LOWER-id row in the same cluster has cosine >= `threshold` to it
    * (deterministic min-id keeper, same policy as [[Dedup.lshKeepList]];
    * non-transitive by design — the paper's "max similarity to the rest of
    * the cluster" test). Output = the input plus a boolean `is_dup`. */
  def semDedup(assigned: DataFrame, vecCol: String, idCol: String,
               threshold: Double): DataFrame = {
    val a = assigned.select(col(idCol).as("__ida"), col("cluster_id").as("__cida"),
      col(vecCol).as("__va"))
    val b = assigned.select(col(idCol).as("__idb"), col("cluster_id").as("__cidb"),
      col(vecCol).as("__vb"))
    val dominated = a.join(b, col("__cida") === col("__cidb") && col("__idb") < col("__ida"))
      .filter(vec.cosine_sim(col("__va"), col("__vb")) >= threshold)
      .select(col("__ida").as(idCol)).distinct()
    assigned.join(dominated.withColumn("__dup", lit(true)), Seq(idCol), "left")
      .withColumn("is_dup", coalesce(col("__dup"), lit(false)))
      .drop("__dup")
  }

  /** Multi-probe IVF candidate-pair blocking — the measured scale feeder
    * for [[dbscan]]'s `candidates` arm. Sign-block LSH (v10) is the wrong
    * blocker at moderate thresholds (see the object scaladoc: qualifying
    * pairs agree on only ~63% of coordinate signs, so sign buckets either
    * lose recall or stop pruning); the answer that holds at 100 TB is the
    * SemDeDup/IVF one — k ∝ n Voronoi cells — widened with FAISS-style
    * multi-probe so near-boundary neighbor pairs still meet: each point
    * joins its `probes` nearest inverted lists, candidates = distinct
    * within-list pairs. Candidate volume is O(n · cellSize · probes²) —
    * linear in n at constant cell size — and every step (the Lloyd fit,
    * the (d, i)-ordered probe ranking, the co-membership join) is exactly
    * replayable in the oracle. Recall is a measured property of
    * (k, probes) on the corpus, not an assumption — the k8 registry row
    * carries it.
    *
    * Emits the pairs scoring cosine STRICTLY above `simThreshold` — the
    * same comparison [[dbscan]] applies, so feeding these as candidates
    * re-verifies only survivor-sized work. Scoring INSIDE the
    * co-membership join is the load-bearing plan choice (the k2/semDedup
    * shape): vectors ride the membership rows (n·probes rows, one vector
    * each — the only vector exchange), the within-list pair stream exists
    * only IN FLIGHT through the codegen'd cosine filter, and `distinct`
    * (multi-probe pairs co-occur in up to `probes` shared lists) runs on
    * the surviving neighbor pairs, never the raw candidate volume. The
    * first cut of this function distinct'ed the RAW pairs and let dbscan
    * re-join vectors onto all of them — two candidate-volume-sized
    * exchanges that measured 172 s at x64 where this shape is linear.
    *
    * 100 TB shape: probing is the same broadcast-codebook narrow map as
    * [[assign]]; the cid join shuffles n·probes vector rows into
    * constant-size cells; candidate cosine work is O(n·cellSize·probes²)
    * compute, exchanged only after the threshold filter. Nothing
    * quadratic, nothing corpus-wide. */
  def ivfCandidates(vectors: DataFrame, idCol: String, vecCol: String,
                    k: Int, iters: Int, probes: Int,
                    simThreshold: Double): DataFrame = {
    require(probes >= 1 && probes <= k,
      s"ivfCandidates needs 1 <= probes <= k (got $probes / $k)")
    Guards.requireIntegral(vectors, idCol, "ivfCandidates")
    val model = fit(vectors, vecCol, idCol, k, iters)
    val bc = model.codebook(vectors)
    // rule-14 cut (r17): the probe-membership table feeds both sides of
    // the candidate self-join — two multi-probe assignment passes over the
    // corpus without it (the materialized rows are the probes-x-corpus
    // inverted-list layout an IVF index stores anyway)
    val memb = graft.StageCut(graft.Tables.scaled(
        vectors.select(col(idCol).cast("long").as("id"), col(vecCol).as("v")))
      .select(col("id"), col("v"),
        explode(vec.probe_centroids(col("v"), bc, probes)).as("cid")),
      "ivfCandidates.memb")
    memb.as("a")
      .join(memb.as("b"),
        col("a.cid") === col("b.cid") && col("a.id") < col("b.id"))
      .filter(vec.cosine_sim(col("a.v"), col("b.v")) > simThreshold)
      .select(col("a.id").as("id_a"), col("b.id").as("id_b"))
      .distinct()
  }

  /** Deterministic DBSCAN (Ester et al. 1996) over a cosine-similarity
    * neighborhood — the DENSITY seat of the clustering family: k-means
    * (k1) forces every vector into a cell and SemDeDup (k2) prunes
    * within cells, but neither answers "which vectors sit in NO dense
    * region" — the outlier/noise call a curation pipeline uses to route
    * low-density embeddings to review instead of a cluster.
    *
    * Definitions (the classic ones, similarity-flipped): neighbors =
    * cosine > `simThreshold`; core ⟺ |N(v)| + 1 ≥ `minPts` (the point
    * counts itself, the original paper's convention); clusters =
    * connected components of the core-core graph (min-id labels, the
    * t17 machinery — isolated cores form singleton clusters); border =
    * non-core with ≥ 1 core neighbor, assigned the MINIMUM cluster id
    * among its core neighbors (the deterministic tiebreak for the
    * classic "first-discoverer" ambiguity); everything else is noise
    * (cluster −1). Every decision is a comparison of exactly-replayed
    * values, so the whole labeling is engine-independent.
    *
    * 100 TB shape: the quadratic candidate join here is the TEST-SCALE
    * arm (one side `Tables.scaled`); at scale, feed the same pipeline
    * from LSH-bucketed candidate pairs (v10) — DBSCAN's own semantics
    * only ever read the pair list. Degrees are one map-side-combined
    * groupBy; components run through [[Dedup.connectedComponents]]
    * (single-task union-find under 1M edges, else O(log d) min-label
    * rounds); border assignment is one more equi-join + min groupBy. */
  def dbscan(vectors: DataFrame, idCol: String, vecCol: String,
             simThreshold: Double, minPts: Int,
             candidates: Option[DataFrame] = None): DataFrame = {
    require(minPts >= 1, s"dbscan needs minPts >= 1 (got $minPts)")
    // ids flow through cast('long') into the union-find / min-label
    // components — a string id would cast to NULL silently
    Guards.requireIntegral(vectors, idCol, "dbscan")
    val e = vectors.select(col(idCol).cast("long").as("__id"),
      col(vecCol).as("__v"))
    // candidate generation: exact all-pairs by default (the oracle-
    // replayable TEST-scale arm), or a caller-supplied blocked pair list
    // (id_a, id_b) — e.g. v10's LSH buckets — which this scores with the
    // SAME exact cosine filter, so a candidate set that covers the true
    // neighbor pairs yields the identical clustering (spec-pinned)
    val rawPairs = candidates match {
      // orientation-normalize + dedupe instead of filter(ia < ib): LSH
      // multi-band blockers emit the same pair from several bands and in
      // either order — a raw `ia < ib` filter would silently DROP
      // (bigger, smaller) pairs and count band-duplicates multiply in
      // the degree groupBy, changing the clustering. distinct() is cheap
      // here (the list is blocked-pair-sized, not corpus-sized).
      case Some(c) => c.select(
          least(col(c.columns(0)).cast("long"),
            col(c.columns(1)).cast("long")).as("ia"),
          greatest(col(c.columns(0)).cast("long"),
            col(c.columns(1)).cast("long")).as("ib"))
        .filter(col("ia") < col("ib")) // self-pairs only
        .distinct()
        .join(e.select(col("__id").as("ia"), col("__v").as("va")), "ia")
        .join(e.select(col("__id").as("ib"), col("__v").as("vb")), "ib")
      case None => graft.Tables.scaled(e)
        .select(col("__id").as("ia"), col("__v").as("va"))
        .join(e.select(col("__id").as("ib"), col("__v").as("vb")),
          col("ia") < col("ib"))
    }
    // eager cut: the pair list is tiny but its quadratic join is not —
    // three downstream consumers (degrees, core edges, border) must
    // not each recompute it (out is lazy, so a persist/unpersist pair
    // inside this function would silently do exactly that)
    val pairs = graft.StageCut(rawPairs
      .filter(vec.cosine_sim(col("va"), col("vb")) > simThreshold)
      .select("ia", "ib"), "dbscan.pairs")
    val und = pairs.union(pairs.select(col("ib").as("ia"),
      col("ia").as("ib")))
    val deg = e.select(col("__id"))
      .join(und.groupBy(col("ia").as("__id"))
        .agg(count(lit(1)).as("n_neighbors")), Seq("__id"), "left")
      .withColumn("n_neighbors", coalesce(col("n_neighbors"), lit(0L)))
      .withColumn("is_core", col("n_neighbors") + 1 >= minPts)
    val coreIds = deg.filter(col("is_core")).select(col("__id"))
    val coreEdges = pairs
      .join(coreIds.withColumnRenamed("__id", "ia"), "ia", "left_semi")
      .join(coreIds.withColumnRenamed("__id", "ib"), "ib", "left_semi")
    val cc = Dedup.connectedComponents(coreEdges, "ia", "ib")
    // every core gets a cluster: its component, or itself if isolated
    val coreComp = coreIds
      .join(cc.withColumnRenamed("id", "__id"), Seq("__id"), "left")
      .select(col("__id"),
        coalesce(col("component"), col("__id")).as("cluster"))
    val borderMin = und
      .join(coreComp.withColumnRenamed("__id", "ib"), "ib")
      .groupBy(col("ia").as("__id"))
      .agg(min(col("cluster")).as("bcluster"))
    val out = deg
      .join(coreComp.withColumnRenamed("cluster", "ccluster"),
        Seq("__id"), "left")
      .join(borderMin, Seq("__id"), "left")
      .select(col("__id").as(idCol), col("n_neighbors"),
        when(col("is_core"), "core")
          .when(col("bcluster").isNotNull, "border")
          .otherwise("noise").as("role"),
        when(col("is_core"), col("ccluster"))
          .when(col("bcluster").isNotNull, col("bcluster"))
          .otherwise(lit(-1L)).as("cluster"))
    out
  }
}
