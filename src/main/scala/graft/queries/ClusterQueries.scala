package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.Tables
import graft.operators.Clustering

/** Embedding-space clustering + semantic dedup (SemDeDup) coverage.
  * The whole Lloyd iteration is value-checked: the oracle replays seeded
  * init → assign → mean → assign → mean → assign in SQL CTEs and must
  * reproduce every assignment, distance, and dedup decision. */
object ClusterQueries {

  private val K = 8
  private val Iters = 2
  private val SemThreshold = 0.4

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "k1_kmeans_assign" -> ((s, d) => kmeansAssign(s, d)),
    "k2_semdedup" -> ((s, d) => semDedup(s, d)),
    "k3_cluster_profile" -> ((s, d) => clusterProfile(s, d)),
    "k4_cluster_sample" -> ((s, d) => clusterSample(s, d)),
    "k5_incremental_assign" -> ((s, d) => incrementalAssign(s, d)),
    "k6_cluster_quality" -> ((s, d) => clusterQuality(s, d)),
    "k7_dbscan" -> ((s, d) => dbscanQ(s, d)),
    "k8_dbscan_blocked" -> ((s, d) => dbscanBlockedAt(s, d, K)),
    "k9_elbow" -> ((s, d) => elbowQ(s, d))
  )

  /** [[graft.operators.Clustering.elbowReport]] over the 2/4/8/16
    * ladder (iters = 2, the registry Lloyd convention): at sf0.01 the
    * inertia curve reads 491.8/481.6/467.2/447.8 (·10⁶ fp) with GROWING
    * drops — the md5-synthesized embeddings have no real cluster
    * structure, so the curve is the convex no-elbow null and the rule
    * honestly picks the least-negative curvature (k=4); a genuinely
    * clustered corpus bends the curve the other way (the spec plants
    * one and the rule finds the true k). Every one of the four fits
    * replays in full in the oracle (the k1 chain, once per k). */
  def elbowQ(spark: SparkSession, dir: String): DataFrame =
    Clustering.elbowReport(Tables.embeddings(spark, dir), "embedding",
        "vec_id", ks = Seq(2, 4, 8, 16), iters = Iters)
      .orderBy("k")

  /** [[graft.operators.Clustering.dbscan]] at cosine > 0.35, minPts 4:
    * 47 cores in 19 clusters, 85 borders, 368 noise at sf0.01 — all four
    * role/cluster decision paths populated. The oracle replays pairs,
    * degrees, the core rule, min-id reachability (t17 pattern), and the
    * min-cluster border tiebreak. */
  def dbscanQ(spark: SparkSession, dir: String): DataFrame =
    graft.operators.Clustering.dbscan(Tables.embeddings(spark, dir),
      "vec_id", "embedding", simThreshold = 0.35, minPts = 4)
      .orderBy("vec_id")

  /** k7's SCALE ARM, measured (r13 verdict ask #1): the same DBSCAN
    * semantics fed from [[graft.operators.Clustering.ivfCandidates]] —
    * multi-probe IVF blocking (k = K, probes = 2) instead of the
    * quadratic all-pairs join. At sf0.01 the blocking covers 209 of the
    * 271 true threshold pairs (77% pair recall at 46% of the quadratic
    * candidate volume — a floor, not the operating point: blocking can
    * only look quadratic-ish at 500 points / 8 cells; the contract is
    * k ∝ n at constant cell size, the k2 convention, which the x64 leg
    * probes at k = 512) and yields 23 cores in 15 clusters + 54 borders —
    * every role path populated, and blocked cores are a SUBSET of k7's
    * exact cores (degree monotonicity, spec-pinned). The oracle replays
    * the whole chain: Lloyd fit → (d, cid)-ordered top-2 probe window →
    * co-membership pairs → cosine gate → degrees/core/components/border. */
  def dbscanBlockedAt(spark: SparkSession, dir: String, k: Int): DataFrame = {
    val e = Tables.embeddings(spark, dir)
    val cand = Clustering.ivfCandidates(e, "vec_id", "embedding",
      k, Iters, probes = 2, simThreshold = 0.35)
    Clustering.dbscan(e, "vec_id", "embedding", simThreshold = 0.35,
      minPts = 4, candidates = Some(cand)).orderBy("vec_id")
  }

  /** Davies–Bouldin cluster-quality evaluation over the fitted Lloyd
    * clustering — the metric a curation pipeline reads before trusting
    * k2's SemDeDup or k4's cluster sampling (a bad k shows up as DB
    * ratios ≫ 1 long before the dedup quality silently degrades). Per
    * cluster: size, mean Euclidean distance to centroid (`scatter`), and
    * the Davies–Bouldin ratio `max_{j≠i} (s_i + s_j) / d(c_i, c_j)`.
    *
    * Determinism: per-row distances are pure functions k1 already gates
    * bit-for-bit; scatter sums them FIXED-POINT (floor(√d·10⁶) as longs —
    * the e18 trick, summation-order-immune); the k×k centroid-distance
    * table is a driver-side request-sized computation (rule 17) whose
    * index-ascending fold matches the oracle's list fold; the DB
    * reduction is a max, not a sum. */
  def clusterQuality(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val e = Tables.embeddings(spark, dir)
    val model = Clustering.fit(e, "embedding", "vec_id", K, Iters)
    val s = Clustering.assign(e, "embedding", model)
      .groupBy("cluster_id")
      .agg(count(lit(1)).as("size"),
        sum(floor(sqrt(col("dist")) * lit(1e6)).cast("long")).as("__ssum"))
      .withColumn("scatter",
        (col("__ssum").cast("double") / lit(1e6)) / col("size"))
    val cents = model.centroids
    val pairs = for {
      i <- cents.indices; j <- cents.indices if i != j
    } yield {
      var sqd = 0.0; var d = 0
      while (d < cents(i).length) {
        val x = cents(i)(d) - cents(j)(d); sqd += x * x; d += 1
      }
      (i.toLong, j.toLong, math.sqrt(sqd))
    }
    val dij = broadcast(pairs.toDF("ci", "cj", "dij"))
    val db = dij
      .join(s.select(col("cluster_id").as("ci"), col("scatter").as("si")), "ci")
      .join(s.select(col("cluster_id").as("cj"), col("scatter").as("sj")), "cj")
      .groupBy("ci")
      .agg(max((col("si") + col("sj")) / col("dij")).as("db_ratio"))
    s.join(db, s("cluster_id") === db("ci"))
      .select(col("cluster_id"), col("size"),
        round(col("scatter"), 6).as("scatter"),
        round(col("db_ratio"), 6).as("db_ratio"))
      .orderBy("cluster_id")
  }

  /** Incremental index maintenance, oracle-gated (the S12 story beyond
    * the bucketed write): the codebook is FROZEN on the old generation
    * (vec_id < 400), the incoming generation assigns against it with the
    * same broadcast-argmin narrow map — no refit, the nightly-index
    * operational mode — and the output is the per-cluster drift profile
    * (counts + mean squared distance per generation) an operator watches
    * to decide when retraining is due: incoming mass crowding few lists
    * or scoring systematically farther means the codebook has aged. */
  def incrementalAssign(spark: SparkSession, dir: String): DataFrame = {
    val e = Tables.embeddings(spark, dir)
    val old = e.filter(col("vec_id") < 400)
    val model = Clustering.fit(old, "embedding", "vec_id", K, Iters)
    val aOld = Clustering.assign(old, "embedding", model)
      .withColumn("gen", lit("old"))
    val aNew = Clustering.assign(e.filter(col("vec_id") >= 400),
      "embedding", model).withColumn("gen", lit("new"))
    aOld.unionByName(aNew).groupBy("cluster_id", "gen")
      .agg(count(lit(1)).as("n"), round(avg("dist"), 6).as("avg_dist"))
      .orderBy("cluster_id", "gen")
  }

  /** Diversity-aware subset selection — the curation move SemDeDup's
    * paper pairs with its dedup: sample a FIXED QUOTA per embedding
    * cluster (md5-derandomized, t43's salted smallest-k machinery with
    * the cluster id as the stratum), so the kept slice spans the
    * embedding space instead of following the corpus's density skew.
    * Composition of the replayable Lloyd fit and exact-quota sampling —
    * the oracle replays BOTH (full k-means iteration ∘ md5 rank cut). */
  def clusterSample(spark: SparkSession, dir: String): DataFrame =
    graft.operators.Corpus.quotaSample(
      fitted(spark, dir), "vec_id", "cluster_id", k = 5, seed = "k4")
      .select(col("cluster_id"), col("rank").cast("long").as("rank"),
        col("vec_id"))
      .orderBy("cluster_id", "rank")

  private def fitted(spark: SparkSession, dir: String, k: Int = K): DataFrame = {
    val e = Tables.embeddings(spark, dir)
    val model = Clustering.fit(e, "embedding", "vec_id", k, Iters)
    // Materialize the assignment once: k2's self-join and the final project
    // would otherwise re-run the O(k·dim) argmin scan per reference. Same
    // pattern as Dedup's eval-ngram checkpoint.
    graft.StageCut(Clustering.assign(e, "embedding", model), "clusterQueries.fitted")
  }

  /** Final Lloyd assignment: (vec_id, cluster_id, squared distance). */
  def kmeansAssign(spark: SparkSession, dir: String): DataFrame =
    fitted(spark, dir)
      .select(col("vec_id"), col("cluster_id"), round(col("dist"), 6).as("dist"))
      .orderBy("vec_id")

  /** SemDeDup decisions over the fitted clustering: is_dup = some lower-id
    * same-cluster vector has cosine >= 0.4 (min-id keeper). */
  def semDedup(spark: SparkSession, dir: String): DataFrame =
    semDedupAt(spark, dir, K)

  /** ScaleProbe hook: the fit→assign→semDedup flow at an EXPLICIT k. The
    * operator's scale contract is k ∝ n (constant cluster size bounds the
    * within-cluster pairwise join), so a data-factor probe must scale k with
    * the corpus — probing 64x data at the bench k measures the O(Σ|c|²)
    * misconfiguration, not the operator. */
  def semDedupAt(spark: SparkSession, dir: String, k: Int): DataFrame =
    Clustering.semDedup(fitted(spark, dir, k), "embedding", "vec_id", SemThreshold)
      .select(col("vec_id"), col("cluster_id"), col("is_dup"))
      .orderBy("vec_id")

  /** Cluster-level profile: size + mean squared distance (inertia/size). */
  def clusterProfile(spark: SparkSession, dir: String): DataFrame =
    fitted(spark, dir)
      .groupBy("cluster_id")
      .agg(count(lit(1)).as("size"), round(avg("dist"), 6).as("avg_dist"))
      .orderBy("cluster_id")

  /** Shared oracle prefix: exact SQL replay of the seeded Lloyd iteration.
    * init = k lowest-id vectors; per step: distance to every centroid
    * (left-to-right list_sum fold = Spark's aggregate fold), argmin with
    * (distance, cid) tie-break, per-dimension mean as a DETERMINISTIC
    * vec_id-ordered fold divided by the count (mirrors [[Clustering.fit]]'s
    * sorted collect_list fold — a plain avg would fold in partition order on
    * either engine and could differ by an ulp), and a LEFT JOIN back to the
    * seeds so an empty cluster keeps its previous centroid — the same rule
    * [[Clustering.fit]] applies. */
  private val lloyd =
    """WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
      |init AS (SELECT row_number() OVER (ORDER BY vec_id) - 1 AS cid, v AS cv
      |         FROM e ORDER BY vec_id LIMIT 8),
      |d0 AS (SELECT e.vec_id, init.cid,
      |         list_sum(list_transform(range(64), j ->
      |           (e.v[j+1]-init.cv[j+1])*(e.v[j+1]-init.cv[j+1]))) AS d
      |       FROM e, init),
      |a0 AS (SELECT vec_id, cid FROM (
      |         SELECT vec_id, cid, row_number() OVER (PARTITION BY vec_id ORDER BY d, cid) rn
      |         FROM d0) WHERE rn = 1),
      |m1 AS (SELECT a0.cid, j,
      |         list_sum(list(e.v[j+1] ORDER BY e.vec_id)) / count(*) AS m
      |       FROM a0 JOIN e USING (vec_id), range(64) t(j) GROUP BY a0.cid, j),
      |c1 AS (SELECT init.cid, coalesce(mm.cv, init.cv) AS cv FROM init
      |       LEFT JOIN (SELECT cid, list(m ORDER BY j) AS cv FROM m1 GROUP BY cid) mm
      |       USING (cid)),
      |d1 AS (SELECT e.vec_id, c1.cid,
      |         list_sum(list_transform(range(64), j ->
      |           (e.v[j+1]-c1.cv[j+1])*(e.v[j+1]-c1.cv[j+1]))) AS d
      |       FROM e, c1),
      |a1 AS (SELECT vec_id, cid FROM (
      |         SELECT vec_id, cid, row_number() OVER (PARTITION BY vec_id ORDER BY d, cid) rn
      |         FROM d1) WHERE rn = 1),
      |m2 AS (SELECT a1.cid, j,
      |         list_sum(list(e.v[j+1] ORDER BY e.vec_id)) / count(*) AS m
      |       FROM a1 JOIN e USING (vec_id), range(64) t(j) GROUP BY a1.cid, j),
      |c2 AS (SELECT init.cid, coalesce(mm.cv, init.cv) AS cv FROM init
      |       LEFT JOIN (SELECT cid, list(m ORDER BY j) AS cv FROM m2 GROUP BY cid) mm
      |       USING (cid)),
      |d2 AS (SELECT e.vec_id, c2.cid,
      |         list_sum(list_transform(range(64), j ->
      |           (e.v[j+1]-c2.cv[j+1])*(e.v[j+1]-c2.cv[j+1]))) AS d
      |       FROM e, c2),
      |a2 AS (SELECT vec_id, cid, d FROM (
      |         SELECT vec_id, cid, d, row_number() OVER (PARTITION BY vec_id ORDER BY d, cid) rn
      |         FROM d2) WHERE rn = 1)""".stripMargin

  /** Parametric Lloyd chain for the k9 ladder: the `lloyd` CTE text with
    * LIMIT k and suffixed CTE names, sharing one `e` corpus CTE. */
  private def lloydChain(k: Int, s: String): String =
    s"""init$s AS (SELECT row_number() OVER (ORDER BY vec_id) - 1 AS cid, v AS cv
       |         FROM e ORDER BY vec_id LIMIT $k),
       |d0$s AS (SELECT e.vec_id, init$s.cid,
       |         list_sum(list_transform(range(64), j ->
       |           (e.v[j+1]-init$s.cv[j+1])*(e.v[j+1]-init$s.cv[j+1]))) AS d
       |       FROM e, init$s),
       |a0$s AS (SELECT vec_id, cid FROM (
       |         SELECT vec_id, cid, row_number() OVER (PARTITION BY vec_id ORDER BY d, cid) rn
       |         FROM d0$s) WHERE rn = 1),
       |m1$s AS (SELECT a0$s.cid, j,
       |         list_sum(list(e.v[j+1] ORDER BY e.vec_id)) / count(*) AS m
       |       FROM a0$s JOIN e USING (vec_id), range(64) t(j) GROUP BY a0$s.cid, j),
       |c1$s AS (SELECT init$s.cid, coalesce(mm.cv, init$s.cv) AS cv FROM init$s
       |       LEFT JOIN (SELECT cid, list(m ORDER BY j) AS cv FROM m1$s GROUP BY cid) mm
       |       USING (cid)),
       |d1$s AS (SELECT e.vec_id, c1$s.cid,
       |         list_sum(list_transform(range(64), j ->
       |           (e.v[j+1]-c1$s.cv[j+1])*(e.v[j+1]-c1$s.cv[j+1]))) AS d
       |       FROM e, c1$s),
       |a1$s AS (SELECT vec_id, cid FROM (
       |         SELECT vec_id, cid, row_number() OVER (PARTITION BY vec_id ORDER BY d, cid) rn
       |         FROM d1$s) WHERE rn = 1),
       |m2$s AS (SELECT a1$s.cid, j,
       |         list_sum(list(e.v[j+1] ORDER BY e.vec_id)) / count(*) AS m
       |       FROM a1$s JOIN e USING (vec_id), range(64) t(j) GROUP BY a1$s.cid, j),
       |c2$s AS (SELECT init$s.cid, coalesce(mm.cv, init$s.cv) AS cv FROM init$s
       |       LEFT JOIN (SELECT cid, list(m ORDER BY j) AS cv FROM m2$s GROUP BY cid) mm
       |       USING (cid)),
       |d2$s AS (SELECT e.vec_id, c2$s.cid,
       |         list_sum(list_transform(range(64), j ->
       |           (e.v[j+1]-c2$s.cv[j+1])*(e.v[j+1]-c2$s.cv[j+1]))) AS d
       |       FROM e, c2$s),
       |a2$s AS (SELECT vec_id, cid, d FROM (
       |         SELECT vec_id, cid, d, row_number() OVER (PARTITION BY vec_id ORDER BY d, cid) rn
       |         FROM d2$s) WHERE rn = 1),
       |in$s AS (SELECT $k::BIGINT AS k, sum(floor(d * 1000000))::BIGINT AS inertia_fp
       |       FROM a2$s)""".stripMargin

  /** The Lloyd replay refit to the OLD slice only (k5's frozen codebook):
    * same CTE chain, corpus CTE filtered. */
  private val lloydOld =
    lloyd.replace("FROM embeddings),", "FROM embeddings WHERE vec_id < 400),")

  def oracles: Map[String, String] = Map(
    // pairs by the v3 cosine recipe; core = deg+1 >= minPts; clusters =
    // min reachable core id (t17 reachability); border = min core-
    // neighbor cluster; noise -1
    "k7_dbscan" ->
      ("""WITH RECURSIVE p AS MATERIALIZED (
         |  SELECT a.vec_id AS ia, b.vec_id AS ib
         |  FROM embeddings a, embeddings b
         |  WHERE a.vec_id < b.vec_id
         |    AND list_cosine_similarity(a.embedding::DOUBLE[], b.embedding::DOUBLE[]) > 0.35),
         |und AS MATERIALIZED (SELECT ia AS a, ib AS b FROM p UNION ALL SELECT ib, ia FROM p),
         |deg AS MATERIALIZED (
         |  SELECT e.vec_id, coalesce(d.c, 0)::BIGINT AS nn
         |  FROM embeddings e LEFT JOIN (SELECT a, count(*) AS c FROM und GROUP BY a) d
         |    ON e.vec_id = d.a),
         |core AS MATERIALIZED (SELECT vec_id FROM deg WHERE nn + 1 >= 4),
         |ce AS MATERIALIZED (SELECT a, b FROM und
         |  WHERE a IN (SELECT vec_id FROM core) AND b IN (SELECT vec_id FROM core)),
         |reach AS (
         |  SELECT vec_id AS node, vec_id AS r FROM core
         |  UNION
         |  SELECT rr.node, ce.b FROM reach rr JOIN ce ON ce.a = rr.r),
         |comp AS MATERIALIZED (SELECT node, min(r) AS cluster FROM reach GROUP BY node),
         |border AS MATERIALIZED (
         |  SELECT u.a AS vec_id, min(c.cluster) AS bcluster
         |  FROM und u JOIN comp c ON u.b = c.node
         |  WHERE u.a NOT IN (SELECT vec_id FROM core)
         |  GROUP BY u.a)
         |SELECT d.vec_id, d.nn AS n_neighbors,
         |  CASE WHEN cm.cluster IS NOT NULL THEN 'core'
         |       WHEN bo.bcluster IS NOT NULL THEN 'border'
         |       ELSE 'noise' END AS role,
         |  coalesce(cm.cluster, bo.bcluster, -1)::BIGINT AS cluster
         |FROM deg d
         |LEFT JOIN comp cm ON cm.node = d.vec_id
         |LEFT JOIN border bo ON bo.vec_id = d.vec_id
         |ORDER BY d.vec_id""").stripMargin,
    // the blocked scale arm: Lloyd replay -> top-2 probe window ((d, cid)
    // order = ProbeCentroids' strict-< insertion) -> distinct co-membership
    // pairs -> the SAME cosine/degree/core/reach/border chain as k7,
    // restricted to blocked pairs. Concatenated (not interpolated into a
    // stripMargin template) — the lloyd prefix is reused verbatim.
    "k8_dbscan_blocked" ->
      ("WITH RECURSIVE " + lloyd.stripPrefix("WITH ") + ",\n" +
        """a2p AS MATERIALIZED (SELECT vec_id, cid FROM (
          |    SELECT vec_id, cid, row_number() OVER (PARTITION BY vec_id ORDER BY d, cid) rn
          |    FROM d2) WHERE rn <= 2),
          |cand AS MATERIALIZED (SELECT DISTINCT a.vec_id AS ia, b.vec_id AS ib
          |  FROM a2p a JOIN a2p b ON a.cid = b.cid AND a.vec_id < b.vec_id),
          |bp AS MATERIALIZED (
          |  SELECT c.ia, c.ib FROM cand c
          |  JOIN e ea ON ea.vec_id = c.ia JOIN e eb ON eb.vec_id = c.ib
          |  WHERE list_cosine_similarity(ea.v, eb.v) > 0.35),
          |und AS MATERIALIZED (SELECT ia AS a, ib AS b FROM bp UNION ALL SELECT ib, ia FROM bp),
          |deg AS MATERIALIZED (
          |  SELECT e.vec_id, coalesce(d.c, 0)::BIGINT AS nn
          |  FROM e LEFT JOIN (SELECT a, count(*) AS c FROM und GROUP BY a) d
          |    ON e.vec_id = d.a),
          |core AS MATERIALIZED (SELECT vec_id FROM deg WHERE nn + 1 >= 4),
          |ce AS MATERIALIZED (SELECT a, b FROM und
          |  WHERE a IN (SELECT vec_id FROM core) AND b IN (SELECT vec_id FROM core)),
          |reach AS (
          |  SELECT vec_id AS node, vec_id AS r FROM core
          |  UNION
          |  SELECT rr.node, ce.b FROM reach rr JOIN ce ON ce.a = rr.r),
          |comp AS MATERIALIZED (SELECT node, min(r) AS cluster FROM reach GROUP BY node),
          |border AS MATERIALIZED (
          |  SELECT u.a AS vec_id, min(c.cluster) AS bcluster
          |  FROM und u JOIN comp c ON u.b = c.node
          |  WHERE u.a NOT IN (SELECT vec_id FROM core)
          |  GROUP BY u.a)
          |SELECT d.vec_id, d.nn AS n_neighbors,
          |  CASE WHEN cm.cluster IS NOT NULL THEN 'core'
          |       WHEN bo.bcluster IS NOT NULL THEN 'border'
          |       ELSE 'noise' END AS role,
          |  coalesce(cm.cluster, bo.bcluster, -1)::BIGINT AS cluster
          |FROM deg d
          |LEFT JOIN comp cm ON cm.node = d.vec_id
          |LEFT JOIN border bo ON bo.vec_id = d.vec_id
          |ORDER BY d.vec_id""".stripMargin),
    // frozen-codebook incremental assign: old-slice Lloyd replay; the
    // incoming slice scores against the FINAL centroids (c2) with the
    // same argmin/tiebreak; drift profile = per (cluster, generation)
    // count + mean squared distance
    // Davies–Bouldin replay: scatter from FIXED-POINT sums of the a2
    // distances (order-immune), centroid pairwise distances from c2 in
    // the same index-ascending fold as the driver loop, DB = a max
    "k6_cluster_quality" ->
      s"""$lloyd,
         |sc AS (SELECT cid, count(*) AS size,
         |         sum(floor(sqrt(d) * 1e6)::BIGINT) AS ssum
         |       FROM a2 GROUP BY cid),
         |s AS (SELECT cid, size, (ssum::DOUBLE / 1e6) / size AS scatter FROM sc),
         |cd AS (SELECT a.cid AS ci, b.cid AS cj,
         |         sqrt(list_sum(list_transform(range(64), j ->
         |           (a.cv[j+1]-b.cv[j+1])*(a.cv[j+1]-b.cv[j+1])))) AS dij
         |       FROM c2 a JOIN c2 b ON a.cid <> b.cid),
         |r AS (SELECT ci, max((si.scatter + sj.scatter) / dij) AS db_ratio
         |      FROM cd JOIN s si ON si.cid = cd.ci
         |      JOIN s sj ON sj.cid = cd.cj
         |      GROUP BY ci)
         |SELECT s.cid AS cluster_id, size, round(scatter, 6) AS scatter,
         |  round(db_ratio, 6) AS db_ratio
         |FROM s JOIN r ON r.ci = s.cid
         |ORDER BY cluster_id""".stripMargin,
    "k5_incremental_assign" ->
      s"""$lloydOld,
         |inc AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings
         |        WHERE vec_id >= 400),
         |di AS (SELECT inc.vec_id, c2.cid,
         |         list_sum(list_transform(range(64), j ->
         |           (inc.v[j+1]-c2.cv[j+1])*(inc.v[j+1]-c2.cv[j+1]))) AS d
         |       FROM inc, c2),
         |ai AS (SELECT vec_id, cid, d FROM (
         |         SELECT vec_id, cid, d,
         |           row_number() OVER (PARTITION BY vec_id ORDER BY d, cid) rn
         |         FROM di) WHERE rn = 1),
         |u AS (SELECT cid, 'old' AS gen, d FROM a2
         |      UNION ALL SELECT cid, 'new', d FROM ai)
         |SELECT cid AS cluster_id, gen, count(*)::BIGINT AS n,
         |  round(avg(d), 6) AS avg_dist
         |FROM u GROUP BY cid, gen ORDER BY cluster_id, gen""".stripMargin,
    // full Lloyd replay ∘ the t43 md5-rank cut at quota 5 per cluster
    "k4_cluster_sample" ->
      s"""$lloyd,
         |sk AS (SELECT vec_id, cid,
         |        ('0x' || substr(md5('k4:' || vec_id), 1, 12))::BIGINT AS skey
         |       FROM a2),
         |r AS (SELECT cid AS cluster_id, vec_id,
         |        row_number() OVER (PARTITION BY cid ORDER BY skey, vec_id) AS rank
         |      FROM sk)
         |SELECT cluster_id, rank::BIGINT AS rank, vec_id FROM r
         |WHERE rank <= 5 ORDER BY cluster_id, rank""".stripMargin,
    "k1_kmeans_assign" ->
      s"""$lloyd
         |SELECT vec_id, cid AS cluster_id, round(d, 6) AS dist
         |FROM a2 ORDER BY vec_id""".stripMargin,
    "k2_semdedup" ->
      s"""$lloyd,
         |dup AS (SELECT DISTINCT a.vec_id FROM a2 a
         |        JOIN a2 b ON a.cid = b.cid AND b.vec_id < a.vec_id
         |        JOIN e ea ON ea.vec_id = a.vec_id
         |        JOIN e eb ON eb.vec_id = b.vec_id
         |        WHERE list_cosine_similarity(ea.v, eb.v) >= 0.4)
         |SELECT a2.vec_id, a2.cid AS cluster_id,
         |  (dup.vec_id IS NOT NULL) AS is_dup
         |FROM a2 LEFT JOIN dup USING (vec_id) ORDER BY vec_id""".stripMargin,
    "k3_cluster_profile" ->
      s"""$lloyd
         |SELECT cid AS cluster_id, count(*) AS size, round(avg(d), 6) AS avg_dist
         |FROM a2 GROUP BY cid ORDER BY cid""".stripMargin,
    // four full Lloyd replays (one per ladder k), floored inertia sums,
    // lag/lead drops + second difference, argmax by (curvature, k)
    "k9_elbow" ->
      s"""WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
         |${Seq(2, 4, 8, 16).map(k => lloydChain(k, s"k$k")).mkString(",\n")},
         |curve AS (SELECT * FROM ink2 UNION ALL SELECT * FROM ink4
         |          UNION ALL SELECT * FROM ink8 UNION ALL SELECT * FROM ink16),
         |dd AS (SELECT k, inertia_fp,
         |         lag(inertia_fp) OVER w - inertia_fp AS drop_fp
         |       FROM curve WINDOW w AS (ORDER BY k)),
         |cv AS (SELECT k, inertia_fp, drop_fp,
         |         drop_fp - lead(drop_fp) OVER (ORDER BY k) AS curvature_fp
         |       FROM dd)
         |SELECT k, inertia_fp, drop_fp, curvature_fp,
         |  (row_number() OVER (ORDER BY curvature_fp DESC NULLS LAST, k) = 1)
         |    AS chosen
         |FROM cv ORDER BY k""".stripMargin
  )
}
