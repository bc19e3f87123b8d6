package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.catalyst.expressions.IntegralDivide
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graftbridge.ColumnBridge
import org.apache.spark.storage.StorageLevel

/** Link-graph ranking for crawl/corpus curation — the "which domains are
  * worth keeping at what rate" signal that web-scale training-data
  * pipelines (CommonCrawl-derived sets like C4/RefinedWeb/FineWeb) compute
  * over the host graph before any per-document gate runs. The reference
  * curates per-document (`core/models/documents.py` metadata plumbing);
  * this operator supplies the corpus-level companion signal at the host
  * granularity.
  *
  * PageRank, power iteration, with two deliberate engine-level choices:
  *
  * 1. FIXED-POINT INTEGER ARITHMETIC. Ranks live in units of 1/`scale`
  *    (default 1e-12) as BIGINTs. Double-precision power iteration is not
  *    reproducible across partitionings — float addition is non-associative,
  *    so the same corpus on a different cluster layout yields last-ulp
  *    drift that compounds per iteration. Integer sums are exact and
  *    associative: the same graph gives the SAME bits on any partitioning,
  *    any engine — the property that makes a curation decision auditable
  *    and lets a DuckDB oracle replay the whole iteration (same pattern as
  *    the integer-µs tick grids in [[AsOfJoin]]). Precision cost: each
  *    integer division truncates ≤1 unit (1e-12), ≤ iterations·(1+1/N)
  *    total — nine orders below the ranking signal.
  *
  * 2. DANGLING-MASS REDISTRIBUTION. Hosts with no outlinks (a leaf URL, a
  *    host seen only as a link target) would leak their rank mass each
  *    iteration; the standard fix redistributes their total mass uniformly.
  *    The dangling total is a ONE-ROW aggregate broadcast back into the
  *    update (the repo's crossJoin-a-broadcast-scalar pattern), never a
  *    driver collect of per-node state.
  *
  * Iteration shape at 100 TB: per iteration exactly ONE shuffle join
  * (ranks ⋈ edges on src — both sides hash-partitioned on the join key, and
  * AQE handles hot-host skew) + ONE map-side-combined groupBy(dst) over the
  * contribution stream + a broadcast of the one-row dangling aggregate. The
  * rank state is stage-cut each iteration: the update references
  * the previous ranks three times (contributions, dangling mass, node
  * frame), so an unmaterialized lineage would recompute the chain 3^iters
  * times; truncation also keeps the plan O(1) per iteration instead of
  * growing by three joins every pass. On a real cluster run with
  * `spark.graft.stageCut.mode=reliable` (or `disk`) for executor-loss
  * tolerance — the default `local` cut stores blocks on executors (the
  * [[graft.StageCut]] trade).
  *
  * Driver-side state: the node count N (one long) — same bounded contract
  * as Clustering's k centroids. Everything else stays distributed.
  */
object LinkGraph {

  private def idiv(a: Column, b: Column): Column =
    ColumnBridge.column(IntegralDivide(
      ColumnBridge.expression(a), ColumnBridge.expression(b)))

  /** PageRank over `edges` (srcCol, dstCol) — every edge contributes (a
    * multigraph counts parallel edges multiply; `.distinct()` upstream for
    * simple-graph semantics, as the registry query does). Returns one row
    * per node: `node`, `outdeg`, `rank` (BIGINT, units of 1/`scale`;
    * Σ ranks ≈ scale). Deterministic bit-for-bit for a given graph,
    * independent of partitioning.
    *
    * `dampingPct` is the damping factor in percent (85 = the classic 0.85)
    * — integer so the damped update `d·x` stays exact: `(dampingPct·x) div
    * 100`. `scale` bounds intermediate magnitude: dampingPct·scale must fit
    * a long (default 85·1e12 ≪ 2^63). Eager: materializes per iteration
    * (see scaladoc). */
  def pageRank(edges: DataFrame, srcCol: String, dstCol: String,
               iterations: Int, dampingPct: Int = 85,
               scale: Long = 1000000000000L,
               driverEdgeCap: Int = 100000): DataFrame = {
    require(iterations >= 1, s"pageRank needs iterations>=1 (got $iterations)")
    require(dampingPct >= 0 && dampingPct <= 100,
      s"pageRank needs dampingPct in [0,100] (got $dampingPct)")
    require(scale >= 1000 && scale <= Long.MaxValue / 100,
      s"pageRank needs scale in [1e3, Long.Max/100] (got $scale)")
    // the [[hits]] execution split (round 12, same rationale and probe):
    // a request-sized graph's whole fixed-point iteration replays
    // DRIVER-SIDE after one weighted-edge probe job — exact integer
    // arithmetic makes the replay bit-identical to the distributed loop
    // and the unrolled-CTE oracle; past the cap, the distributed loop.
    val e0 = widenedEdges(edges, srcCol, dstCol)
    val probe = e0.groupBy("src", "dst").agg(count(lit(1)).as("__w"))
      .limit(driverEdgeCap + 1).collect()
    if (probe.length <= driverEdgeCap)
      pageRankDriver(edges.sparkSession, e0.schema.fields(0).dataType,
        probe.map(r => (r.get(0), r.get(1), r.getLong(2))),
        iterations, dampingPct, scale)
    else pageRankDistributed(e0, iterations, dampingPct, scale)
  }

  /** Normalized (src, dst) edge frame with BOTH columns cast to their
    * widened common type. Without this, an int src beside a long dst
    * would hand the driver path a schema taken from src alone while the
    * probe rows carry mixed-width values (runtime encode failure), even
    * though the distributed path's union widens fine — the two arms must
    * see one node type. */
  private def widenedEdges(edges: DataFrame, srcCol: String,
                           dstCol: String): DataFrame = {
    val srcT = edges.select(col(srcCol)).schema.head.dataType
    val dstT = edges.select(col(dstCol)).schema.head.dataType
    if (srcT == dstT)
      edges.select(col(srcCol).as("src"), col(dstCol).as("dst"))
    else {
      val common = org.apache.spark.sql.catalyst.analysis.TypeCoercion
        .findTightestCommonType(srcT, dstT)
        .getOrElse(throw new IllegalArgumentException(
          s"graph edge columns have incompatible types: $srcCol is " +
            s"${srcT.simpleString}, $dstCol is ${dstT.simpleString}"))
      edges.select(col(srcCol).cast(common).as("src"),
        col(dstCol).cast(common).as("dst"))
    }
  }

  /** Rule-17 replay of the damped fixed-point iteration over a collected
    * weighted edge list — value-identical to [[pageRankDistributed]] by
    * exactness: every operation is a Long floor-division or sum over
    * non-negative operands (dampingPct·scale fits by the `require`), in
    * the same order-free integer algebra the distributed `step` runs. */
  private def pageRankDriver(spark: org.apache.spark.sql.SparkSession,
                             nodeType: org.apache.spark.sql.types.DataType,
                             es: Array[(Any, Any, Long)], iterations: Int,
                             dampingPct: Int, scale: Long): DataFrame = {
    val nodes: Array[Any] = (es.map(_._1) ++ es.map(_._2)).distinct
    val n = nodes.length.toLong
    require(n > 0, "pageRank: empty graph")
    val outdeg: Map[Any, Long] =
      es.groupBy(_._1).map { case (u, g) => u -> g.map(_._3).sum }
        .withDefaultValue(0L)
    val base = ((100L - dampingPct) * scale / 100L) / n
    var rank: Map[Any, Long] = nodes.map(v => v -> scale / n).toMap
    for (_ <- 1 to iterations) {
      // each raw edge contributes floor(rank/outdeg); weight w carries the
      // multiplicity, matching the distributed join-against-raw-edges sum
      val contribs: Map[Any, Long] = es
        .filter { case (u, _, _) => outdeg(u) > 0 }
        .groupBy(_._2).map { case (v, g) =>
          v -> g.map { case (u, _, w) => w * (rank(u) / outdeg(u)) }.sum }
      val dang = nodes.iterator
        .filter(v => outdeg(v) == 0).map(rank).sum
      rank = nodes.map { v =>
        v -> (base + (dampingPct.toLong *
          (contribs.getOrElse(v, 0L) + dang / n)) / 100L)
      }.toMap
    }
    val schema = org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("node", nodeType, nullable = true),
      org.apache.spark.sql.types.StructField("outdeg",
        org.apache.spark.sql.types.LongType, nullable = false),
      org.apache.spark.sql.types.StructField("rank",
        org.apache.spark.sql.types.LongType, nullable = false)))
    val rows: java.util.List[org.apache.spark.sql.Row] =
      java.util.Arrays.asList(nodes.map(v =>
        org.apache.spark.sql.Row(v, outdeg(v), rank(v))): _*)
    spark.createDataFrame(rows, schema)
  }

  private def pageRankDistributed(e0: DataFrame, iterations: Int,
                                  dampingPct: Int, scale: Long): DataFrame = {
    val e = e0.persist(StorageLevel.MEMORY_AND_DISK)
    val nodes = e.select(col("src").as("node"))
      .union(e.select(col("dst").as("node"))).distinct()
    val deg = nodes
      .join(e.groupBy("src").agg(count(lit(1)).as("__d")),
        nodes("node") === col("src"), "left")
      .select(col("node"), coalesce(col("__d"), lit(0L)).as("outdeg"))
    val n = deg.count()
    require(n > 0, "pageRank: empty graph")
    // (1-d)/N and the uniform start, precomputed exactly in longs.
    val base = ((100L - dampingPct) * scale / 100L) / n
    var ranks = graft.StageCut(deg.withColumn("rank", lit(scale / n)), "pageRank.ranks")
    for (_ <- 1 to iterations)
      ranks = graft.StageCut(step(ranks, e, n, base, dampingPct), "pageRank.ranks")
    e.unpersist()
    ranks
  }

  /** One power-iteration update (un-materialized — [[pageRank]] owns the
    * per-iteration checkpoint). Package-visible so PlanGuardSpec can pin
    * the iteration's physical shape: the contribution pass is the ONE
    * equi-shuffle (ranks ⋈ edges on src, map-side-combined groupBy dst);
    * the dangling total is the only row that nests (one-row broadcast
    * crossJoin, the repo's scalar-broadcast pattern). */
  private[graft] def step(ranks: DataFrame, e: DataFrame, n: Long,
                          base: Long, dampingPct: Int): DataFrame = {
    val contribs = ranks.where(col("outdeg") > 0)
      .join(e, ranks("node") === e("src"))
      .groupBy(col("dst"))
      .agg(sum(idiv(col("rank"), col("outdeg"))).as("__c"))
    val dangling = ranks.agg(coalesce(sum(
      when(col("outdeg") === 0, col("rank"))), lit(0L)).as("__dang"))
    ranks.select(col("node"), col("outdeg"))
      .join(contribs, col("node") === col("dst"), "left")
      .crossJoin(broadcast(dangling))
      .select(col("node"), col("outdeg"),
        (lit(base) + idiv(lit(dampingPct.toLong) *
          (coalesce(col("__c"), lit(0L)) + idiv(col("__dang"), lit(n))),
          lit(100L))).as("rank"))
  }

  /** HITS hubs & authorities (Kleinberg 1999, JACM 46(5)) — PageRank's
    * complement for crawl curation: PageRank scores global endorsement,
    * HITS separates DIRECTORY hosts (hubs — link to many good sources)
    * from SOURCE hosts (authorities — linked by many good directories).
    * A crawl scheduler seeds from hubs and a corpus keeps authorities, so
    * the two columns answer different curation questions than gr1's one.
    *
    * Same determinism contract as [[pageRank]]: fixed-point BIGINT ranks
    * in 1/`scale` units, bit-reproducible under any partitioning, the
    * whole iteration replayable by an engine-independent oracle. One
    * deliberate deviation, stated: Kleinberg normalizes by the L2 norm,
    * which drags an irrational sqrt through every iteration — this uses
    * the L1 norm (ranks sum to ~`scale` each step), which preserves the
    * RANKING (normalization only rescales) and keeps every step exact
    * integer arithmetic: a'(v) = Σ_{u→v} h(u) then ·scale div total. The
    * multiply runs in decimal(38,0): raw sums reach scale·maxdeg, so
    * raw·scale overflows a long by construction, silently in non-ANSI
    * Spark — the decimal hop is correctness, not caution.
    *
    * Execution splits on graph size (stated threshold, probed — not
    * assumed): a HOST-granularity graph is usually request-sized (the web
    * has ~10⁸ hosts; a curated corpus's host universe is far smaller), and
    * a Spark fixed-point loop costs ~0.2 s of pure job scheduling per
    * iteration regardless of data — ~6 s of overhead for a graph that fits
    * in a few KB. So: ONE job aggregates edges to a weighted (src, dst, w)
    * table probed with `limit(cap+1)`; when it fits under
    * `driverEdgeCap` (100k distinct edges) the whole iteration replays
    * DRIVER-SIDE in BigInt under rule 17 (the tr4/tr5 fit pattern) —
    * exact integer arithmetic is associative, so the driver replay is
    * bit-identical to the distributed loop and to the oracle. Past the
    * cap, the distributed path: per iteration TWO edge-sized equi-shuffles
    * (h ⋈ edges on src, groupBy dst; a ⋈ edges on dst, groupBy src — both
    * map-side-combined), two one-row total broadcasts, and node-sized
    * re-joins against the node frame (|V| ≪ |E| rows); state
    * stage-cut (same lineage argument as pageRank's). */
  def hits(edges: DataFrame, srcCol: String, dstCol: String,
           iterations: Int, scale: Long = 1000000000000L,
           driverEdgeCap: Int = 100000): DataFrame = {
    require(iterations >= 1, s"hits needs iterations>=1 (got $iterations)")
    require(scale >= 1000, s"hits needs scale>=1e3 (got $scale)")
    val e0 = widenedEdges(edges, srcCol, dstCol)
    val probe = e0.groupBy("src", "dst").agg(count(lit(1)).as("__w"))
      .limit(driverEdgeCap + 1).collect()
    if (probe.length <= driverEdgeCap)
      hitsDriver(edges.sparkSession, e0.schema.fields(0).dataType,
        probe.map(r => (r.get(0), r.get(1), r.getLong(2))), iterations, scale)
    else hitsDistributed(e0, iterations, scale)
  }

  /** Rule-17 replay of the L1-normalized fixed-point iteration over a
    * collected weighted edge list — value-identical to [[hitsDistributed]]
    * by exactness (all sums are BigInt; all divisions are floor over
    * non-negative operands, as IntegralDivide is). Multiplicity is carried
    * by the edge weight, matching the distributed join-against-raw-edges
    * semantics. */
  private def hitsDriver(spark: org.apache.spark.sql.SparkSession,
                         nodeType: org.apache.spark.sql.types.DataType,
                         es: Array[(Any, Any, Long)], iterations: Int,
                         scale: Long): DataFrame = {
    val nodes: Array[Any] = (es.map(_._1) ++ es.map(_._2)).distinct
    val n = nodes.length
    require(n > 0, "hits: empty graph")
    val bScale = BigInt(scale)
    var hub: Map[Any, BigInt] = nodes.map(v => v -> BigInt(scale / n)).toMap
    var auth: Map[Any, BigInt] = hub
    def normalize(raw: Map[Any, BigInt]): Map[Any, BigInt] = {
      val t = raw.values.foldLeft(BigInt(0))(_ + _)
      nodes.map { v =>
        v -> (if (t == 0) BigInt(0)
              else raw.getOrElse(v, BigInt(0)) * bScale / t)
      }.toMap
    }
    for (_ <- 1 to iterations) {
      auth = normalize(es.groupBy(_._2).map { case (v, g) =>
        v -> g.foldLeft(BigInt(0)) { case (acc, (u, _, w)) =>
          acc + hub(u) * w }
      })
      hub = normalize(es.groupBy(_._1).map { case (u, g) =>
        u -> g.foldLeft(BigInt(0)) { case (acc, (_, v, w)) =>
          acc + auth(v) * w }
      })
    }
    val schema = org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("node", nodeType, nullable = true),
      org.apache.spark.sql.types.StructField("auth",
        org.apache.spark.sql.types.LongType, nullable = false),
      org.apache.spark.sql.types.StructField("hub",
        org.apache.spark.sql.types.LongType, nullable = false)))
    val rows: java.util.List[org.apache.spark.sql.Row] =
      java.util.Arrays.asList(nodes.map(v =>
        org.apache.spark.sql.Row(v, auth(v).toLong, hub(v).toLong)): _*)
    spark.createDataFrame(rows, schema)
  }

  private def hitsDistributed(e0: DataFrame, iterations: Int,
                              scale: Long): DataFrame = {
    val e = e0.persist(StorageLevel.MEMORY_AND_DISK)
    val nodes = e.select(col("src").as("node"))
      .union(e.select(col("dst").as("node"))).distinct()
      .persist(StorageLevel.MEMORY_AND_DISK)
    val n = nodes.count()
    require(n > 0, "hits: empty graph")
    def normalize(raw: DataFrame, keyCol: String, outCol: String): DataFrame = {
      // raw: (keyCol, __s); total is a one-row broadcast, never a collect
      val tot = raw.agg(sum(col("__s")).as("__t"))
      nodes.join(raw, col("node") === col(keyCol), "left")
        .crossJoin(broadcast(tot))
        .select(col("node"),
          coalesce(idiv(col("__s").cast("decimal(38,0)") * lit(scale),
            col("__t")), lit(0L)).cast("long").as(outCol))
    }
    var state = graft.StageCut(nodes.select(col("node"), lit(scale / n).as("hub"),
      lit(scale / n).as("auth")), "hits.state")
    for (_ <- 1 to iterations) {
      val prev = state
      val auth = normalize(
        prev.join(e, prev("node") === e("src"))
          .groupBy(col("dst")).agg(sum(col("hub")).as("__s")),
        "dst", "auth")
      val hub = normalize(
        auth.join(e, auth("node") === e("dst"))
          .groupBy(col("src")).agg(sum(col("auth")).as("__s")),
        "src", "hub")
      state = graft.StageCut(auth.join(hub.withColumnRenamed("node", "__hn"),
          col("node") === col("__hn"))
        .select(col("node"), col("hub"), col("auth")), "hits.state")
    }
    e.unpersist(); nodes.unpersist()
    state.select(col("node"), col("auth"), col("hub"))
  }

  /** Synchronous label propagation (Raghavan et al. 2007, "Near linear
    * time algorithm to detect community structures") over the UNDIRECTED
    * view of `edges` — the community-detection seat beside the ranking
    * fixed points (gr1–gr3): domain clusters for crawl curation, mirror
    * farms, topic hubs. Labels start as the node's own id; each of the
    * `iterations` SYNCHRONOUS rounds relabels every node to the MODE of
    * its neighbors' previous labels, ties to the SMALLEST label (binary
    * string order — identical in Spark, DuckDB, and the JVM for the
    * ASCII node ids this runs on). Synchronous + deterministic tiebreak
    * makes the whole evolution a pure function of the edge set — the
    * known LPA oscillation on bipartite structures is accepted and
    * pinned by the fixed iteration count (the async coin-flip variant
    * trades determinism for convergence; wrong trade for an oracle-gated
    * engine). A multigraph counts parallel edges multiply (`.distinct()`
    * upstream for simple-graph semantics, as the registry query does).
    *
    * Output per node: `label` (community id after the last round) and
    * `csize` (that community's node count). Isolated nodes cannot occur
    * (every node comes off an edge).
    *
    * Execution split (the pageRank/hits probe, same rationale): under
    * `driverEdgeCap` weighted edges the whole evolution replays
    * driver-side in a hash map — bit-identical to the distributed loop
    * by integer/string exactness; past the cap, the distributed loop
    * runs per round ONE labels equi-join + one (node, label) count
    * groupBy + one per-node argmin of struct(−count, label) — all
    * map-side-combinable, nothing holistic, a stage cut per round
    * (the gr1 discipline). */
  def labelPropagation(edges: DataFrame, srcCol: String, dstCol: String,
                       iterations: Int = 5,
                       driverEdgeCap: Int = 100000): DataFrame = {
    require(iterations >= 1, s"labelPropagation needs iterations >= 1")
    // labels ARE node ids and flow through string tiebreaks in three
    // arms (driver map, struct argmin, oracle) — pin the type so the
    // driver path's string replay matches the distributed schema
    Seq(srcCol, dstCol).foreach { c =>
      require(edges.schema(c).dataType ==
        org.apache.spark.sql.types.StringType,
        s"labelPropagation needs STRING node columns (got " +
          s"${edges.schema(c).dataType} for $c)")
    }
    val e0 = widenedEdges(edges, srcCol, dstCol)
    val und = e0.select(col("src").as("a"), col("dst").as("b"))
      .union(e0.select(col("dst").as("a"), col("src").as("b")))
    val probe = und.groupBy("a", "b").agg(count(lit(1)).as("__w"))
      .limit(driverEdgeCap + 1).collect()
    if (probe.length <= driverEdgeCap) {
      val spark = edges.sparkSession
      import spark.implicits._
      val adj = probe.map(r => (r.get(0).toString, r.get(1).toString,
        r.getLong(2)))
      val nodes = (adj.map(_._1) ++ adj.map(_._2)).distinct.sorted
      var lab = nodes.map(v => v -> v).toMap
      val byNode = adj.groupBy(_._1)
      for (_ <- 1 to iterations) {
        val prev = lab
        lab = nodes.map { v =>
          val cnt = scala.collection.mutable.Map.empty[String, Long]
            .withDefaultValue(0L)
          byNode.getOrElse(v, Array.empty[(String, String, Long)])
            .foreach { case (_, b, w) => cnt(prev(b)) += w }
          val best = cnt.toSeq.minBy { case (l, c) => (-c, l) }._1
          v -> best
        }.toMap
      }
      val sizes = lab.values.groupBy(identity).map { case (l, vs) =>
        l -> vs.size.toLong
      }
      nodes.toSeq.map(v => (v, lab(v), sizes(lab(v))))
        .toDF("node", "label", "csize")
    } else {
      val e = und.persist(StorageLevel.MEMORY_AND_DISK)
      var labels = graft.StageCut(e.select(col("a").as("node")).distinct()
        .withColumn("label", col("node")), "labelPropagation.labels")
      for (_ <- 1 to iterations) {
        val prev = labels
        val counts = e.join(prev.withColumnRenamed("node", "b"), "b")
          .groupBy(col("a"), col("label")).agg(count(lit(1)).as("c"))
        labels = graft.StageCut(counts.groupBy(col("a").as("node"))
          .agg(min(struct((-col("c")).as("nc"), col("label").as("l")))
            .as("m"))
          .select(col("node"), col("m.l").as("label")), "labelPropagation.labels")
      }
      e.unpersist()
      val sizes = labels.groupBy("label").agg(count(lit(1)).as("csize"))
      labels.join(sizes, "label").select("node", "label", "csize")
    }
  }

  /** Triangle counting + local clustering coefficient by degree-ordered
    * orientation (Schank–Wagner 2005 forward/compact; the MapReduce
    * formulation is Suri–Vassilvitskii 2011, "Counting triangles and the
    * curse of the last reducer") — the cohesion MICRO-structure seat
    * beside gr5's k-core macro-structure: a host whose neighbors link to
    * each other (high clustering) is an organic community; link farms
    * show star patterns (many edges, no triangles).
    *
    * Semantics: undirected simple graph (self-loops dropped, parallel
    * edges collapsed). Every edge {a,b} is oriented from the smaller to
    * the larger endpoint under the total order (degree, node) — a DAG, so
    * each triangle {u,v,w} is found EXACTLY once: at its unique lowest
    * corner u, as the wedge (v,w) closed by the oriented edge v→w.
    * Output per node: `degree` (simple undirected), `tri_count` (number
    * of triangles containing the node — each found triangle credits all
    * three corners), and `lcc_ppm` = floor(2·tri·10⁶ / (d·(d−1))), the
    * local clustering coefficient in exact integer parts-per-million
    * (NULL when d < 2, where the coefficient is undefined). No floats,
    * no tiebreaks — bit-identical on any partitioning.
    *
    * 100 TB shape: the orientation IS the hub mitigation — a hub's edges
    * point INTO it, so its out-degree (wedge fan-out) stays bounded by
    * the arboricity ordering: Σ C(outdeg,2) ≤ O(m^1.5) on any graph and
    * O(m·a) on arboricity-a graphs, vs the unoriented Σ C(deg,2) which
    * the last-reducer paper shows dying on the first celebrity node. The
    * plan is: one map-side-combined degree groupBy, two equi-joins
    * (wedge build on the shared low corner, closure probe on (v,w)), one
    * 3-way corner explode into a map-side-combined count — no caps, no
    * driver state, no iteration. */
  def triangles(edges: DataFrame, srcCol: String, dstCol: String): DataFrame = {
    val simple = widenedEdges(edges, srcCol, dstCol)
      .filter(col("src") =!= col("dst")).distinct()
    val und = graft.StageCut(simple
      .union(simple.select(col("dst").as("src"), col("src").as("dst")))
      .distinct(), "triangles.und") // consumed by deg, wedges, and output
    val deg = und.groupBy(col("src").as("node")).agg(count(lit(1)).as("deg"))
    // (degree, node) total order: orient each undirected edge low -> high.
    // consumed by the wedge self-join AND the probe
    val ord = graft.StageCut(und
      .join(deg.select(col("node").as("src"), col("deg").as("dsrc")), "src")
      .join(deg.select(col("node").as("dst"), col("deg").as("ddst")), "dst")
      .filter(col("dsrc") < col("ddst") ||
        (col("dsrc") === col("ddst") && col("src") < col("dst")))
      .select(col("src"), col("dst"), col("ddst")), "triangles.ord")
    // Wedges through the low corner: (v, w) with v before w in the order.
    val wedges = ord.select(col("src"), col("dst").as("v"), col("ddst").as("dv"))
      .join(ord.select(col("src"), col("dst").as("w"), col("ddst").as("dw")),
        "src")
      .filter(col("dv") < col("dw") ||
        (col("dv") === col("dw") && col("v") < col("w")))
      .select(col("src").as("u"), col("v"), col("w"))
    val tris = wedges.join(
      ord.select(col("src").as("v"), col("dst").as("w")), Seq("v", "w"))
    val perNode = tris.select(col("u").as("node"))
      .union(tris.select(col("v").as("node")))
      .union(tris.select(col("w").as("node")))
      .groupBy("node").agg(count(lit(1)).as("tri_count"))
    deg.join(perNode, Seq("node"), "left")
      .select(col("node"), col("deg").as("degree"),
        coalesce(col("tri_count"), lit(0L)).as("tri_count"),
        when(col("deg") >= 2,
          idiv(coalesce(col("tri_count"), lit(0L)) * lit(2000000L),
            col("deg") * (col("deg") - 1))).as("lcc_ppm"))
  }

  /** Neighborhood-overlap link prediction (Liben-Nowell–Kleinberg 2003)
    * over non-adjacent node pairs: common-neighbor count, Jaccard overlap
    * in exact ppm, and the Resource-Allocation index (Zhou–Lü–Zhang 2009,
    * EPJ B 71: RA = Σ_{u ∈ CN} 1/deg(u)) — chosen over Adamic–Adar
    * precisely because 1/d is EXACT in scaled-integer arithmetic where
    * 1/ln d would put a non-correctly-rounded transcendental on the
    * decision path (the rule-13 parity discipline; RA also outperforms AA
    * in the original study). Scores are order-free integer sums, so the
    * result is bit-identical on any partitioning and replays in SQL.
    *
    * Semantics: undirected simple graph; candidates are unordered pairs
    * (v, w), v < w, at distance exactly 2 (≥1 common neighbor, no edge);
    * `ra_scaled` = Σ floor(scale/deg(u)) over common neighbors u;
    * `jaccard_ppm` = floor(cn·10⁶ / (deg v + deg w − cn)). Top
    * `topK` pairs by (ra_scaled, cn, v, w) — a total order.
    *
    * 100 TB shape: wedge fan-out is quadratic in the CENTER degree and —
    * unlike [[triangles]] — cannot be oriented away (every common
    * neighbor must witness its pair), so ultra-hubs are excluded as
    * centers by `maxCenterDegree`: the standard practice (a
    * celebrity node's 10⁸ followers are not evidence any two of them
    * should link — hub-mediated CN is the noise the RA denominator
    * down-weights anyway, and the cap removes only centers whose RA
    * contribution is ≤ scale/maxCenterDegree per pair). The cap is LOUD:
    * [[linkPredictDroppedHubs]] is the audit of what was dropped, and the
    * registry row runs with every fixture node under the cap. Plan: one
    * degree groupBy, one cap semi-join, one equi-self-join on the center,
    * one map-side-combined (v,w) aggregation, one anti-join against the
    * edge set, one k-bounded TakeOrdered — no driver state. */
  def linkPredict(edges: DataFrame, srcCol: String, dstCol: String,
                  topK: Int, maxCenterDegree: Int = 4096,
                  scale: Long = 1000000L): DataFrame = {
    require(topK >= 1, s"linkPredict needs topK >= 1 (got $topK)")
    require(maxCenterDegree >= 2,
      s"linkPredict needs maxCenterDegree >= 2 (got $maxCenterDegree)")
    require(scale >= 1L, s"linkPredict needs scale >= 1 (got $scale)")
    val simple = widenedEdges(edges, srcCol, dstCol)
      .filter(col("src") =!= col("dst")).distinct()
    val und = graft.StageCut(simple
      .union(simple.select(col("dst").as("src"), col("src").as("dst")))
      .distinct(), "linkPredict.und") // consumed by deg, wedges, anti-join
    val deg = und.groupBy(col("src").as("node")).agg(count(lit(1)).as("deg"))
    val centers = deg.filter(col("deg") <= maxCenterDegree)
    // adjacency rows (center u, neighbor x) with the center's RA term.
    val adj = und
      .join(centers.select(col("node").as("src"),
        idiv(lit(scale), col("deg")).as("ra_term")), Seq("src"), "inner")
    val pairs = adj.select(col("src"), col("dst").as("v"), col("ra_term"))
      .join(adj.select(col("src"), col("dst").as("w")), "src")
      .filter(col("v") < col("w"))
      .groupBy(col("v"), col("w"))
      .agg(count(lit(1)).as("cn"),
        sum(col("ra_term").cast("decimal(38,0)")).as("ra"))
    val nonAdj = pairs.join(
      und.select(col("src").as("v"), col("dst").as("w")),
      Seq("v", "w"), "left_anti")
    nonAdj
      .join(deg.select(col("node").as("v"), col("deg").as("dv")), "v")
      .join(deg.select(col("node").as("w"), col("deg").as("dw")), "w")
      .select(col("v"), col("w"), col("cn"),
        idiv(col("cn") * lit(1000000L), col("dv") + col("dw") - col("cn"))
          .as("jaccard_ppm"),
        col("ra").cast("long").as("ra_scaled"))
      .orderBy(col("ra_scaled").desc, col("cn").desc, col("v"), col("w"))
      .limit(topK)
  }

  /** Directed-edge reciprocity (Newman–Forrest–Balthrop 2002; Garlaschelli
    * –Loffredo 2004) — the fraction of directed edges whose reverse edge
    * also exists: the crawl-graph diagnostic separating mutual-citation
    * structure (blogrolls, link exchanges, social follows-back) from
    * one-way endorsement flow; link-exchange spam reads as anomalously
    * HIGH reciprocity against the web's ~single-digit baseline.
    *
    * Semantics: self-loops dropped, parallel edges collapsed;
    * `n_reciprocal` counts DIRECTED edges with a reverse partner (a
    * mutual pair contributes 2); `recip_ppm` = ⌊n_reciprocal·10⁶ /
    * n_edges⌋ — exact integers throughout. Empty graphs raise loudly.
    *
    * 100 TB shape: ONE left-semi self-equi-join on the swapped key pair
    * + a one-row count aggregate — no windows, no iteration. */
  def reciprocity(edges: DataFrame, srcCol: String,
                  dstCol: String): DataFrame = {
    val simple = graft.StageCut(widenedEdges(edges, srcCol, dstCol)
      .filter(col("src") =!= col("dst")).distinct(), "reciprocity.simple")
    val recip = simple.join(
      simple.select(col("dst").as("src"), col("src").as("dst")),
      Seq("src", "dst"), "left_semi")
    simple.agg(count(lit(1)).as("n_edges"))
      .crossJoin(broadcast(recip.agg(count(lit(1)).as("n_reciprocal"))))
      .select(
        when(col("n_edges") > 0, col("n_edges"))
          .otherwise(raise_error(lit("reciprocity: empty graph - no " +
            "edges to measure")).cast("long")).as("n_edges"),
        col("n_reciprocal"),
        expr("(n_reciprocal * 1000000) div n_edges").as("recip_ppm"))
  }

  /** Multi-source BFS seed distance (the crawl-frontier depth prior:
    * Common-Crawl-style curation scores a page by its hop distance from
    * a trusted seed list — near-seed pages are link-endorsed, deep
    * tendrils are where spam lives; the same operator labels "steps
    * from the whitelist" for any directed reachability question).
    *
    * Semantics: DIRECTED hops along (src → dst) from the seed set (an
    * undirected question passes the pre-unioned reversed edges); seed
    * rows absent from the graph's node set contribute nothing; output
    * per graph node: `dist` (0 for seeds, NULL for unreachable) and
    * `reached`. Distances are a unique fixed point (min hop count), so
    * the oracle may over-unroll rounds safely — the kcore property.
    *
    * 100 TB shape: per round ONE frontier semi-join against the edge
    * set + one anti-join against the settled set, both equi-key; the
    * settled/frontier frames are stage-cut per round (the
    * kcore discipline); rounds = eccentricity of the seed set (log-like
    * on web graphs — shortcut edges halve tree depth); driver holds
    * per-round counts only (rule 17). `maxRounds` is a loud runaway
    * guard. */
  def seedDistance(edges: DataFrame, srcCol: String, dstCol: String,
                   seeds: DataFrame, seedCol: String,
                   maxRounds: Int = 64): DataFrame = {
    require(maxRounds >= 1, s"seedDistance needs maxRounds >= 1 (got $maxRounds)")
    val e = graft.StageCut(widenedEdges(edges, srcCol, dstCol)
      .filter(col("src") =!= col("dst")).distinct(), "seedDistance.e")
    val nodes = graft.StageCut(e.select(col("src").as("node"))
      .union(e.select(col("dst").as("node"))).distinct(), "seedDistance.nodes")
    val nodeType = nodes.schema.head.dataType
    var settled = graft.StageCut(nodes
      .join(seeds.select(col(seedCol).cast(nodeType).as("node")).distinct(),
        Seq("node"), "left_semi")
      .withColumn("dist", lit(0L)), "seedDistance.settled")
    var frontier = settled.select("node")
    var round = 1
    while (!frontier.isEmpty) {
      require(round <= maxRounds,
        s"seedDistance did not settle within $maxRounds rounds - the " +
          "seed eccentricity exceeds the guard; raise maxRounds deliberately")
      val next = graft.StageCut(e
        .join(frontier.withColumnRenamed("node", "src"), Seq("src"), "left_semi")
        .select(col("dst").as("node")).distinct()
        .join(settled.select("node"), Seq("node"), "left_anti"), "seedDistance.next")
      settled = graft.StageCut(settled
        .unionByName(next.withColumn("dist", lit(round.toLong))), "seedDistance.settled")
      frontier = next
      round += 1
    }
    nodes.join(settled, Seq("node"), "left")
      .select(col("node"), col("dist"), col("dist").isNotNull.as("reached"))
  }

  /** Personalized PageRank (Page et al. 1999 §6; Jeh & Widom 2003's
    * "Scaling Personalized Web Search" is the canonical treatment) —
    * [[pageRank]] with the teleport mass concentrated on a SEED set
    * instead of spread uniformly: rank localizes around the seeds, which
    * turns the global-endorsement score into a RELATEDNESS score. The
    * crawl-curation reads: "expand the corpus from these trusted hosts"
    * (seeded frontier prioritization, gr9's hop count weighted by link
    * mass) and "which documents are topically near this cluster" —
    * the graph-side sibling of the embedding neighborhoods the v-family
    * ranks.
    *
    * Exact fixed-point integer semantics, the gr1 contract: rank units
    * of 1/`scale`, damped update `(d·x) div 100`, dangling mass
    * teleports BACK TO THE SEEDS (the standard personalized choice —
    * uniform redistribution would leak relatedness mass to the whole
    * graph): rank'(v) = [v∈S]·((100−d)·scale div 100) div |S|
    * + (d·(Σ_{u→v} rank(u) div outdeg(u) + [v∈S]·(dang div |S|))) div
    * 100, seeded rank₀ = [v∈S]·(scale div |S|). Seeds absent from the
    * edge set still teleport (they join the node universe as dangling
    * nodes); the seed frame is request-sized BY DEFINITION (a
    * personalization vector is a query, not a corpus) and is collected
    * under a loud `seedCap` probe — rule 17's bounded-driver-state
    * contract, the seedDistance seat.
    *
    * 100 TB shape = [[pageRank]]'s: the same driver-replay split under
    * `driverEdgeCap` (exact integer algebra makes the replay
    * bit-identical), and past it the same per-iteration ONE equi-shuffle
    * (ranks ⋈ edges on src, map-side-combined groupBy dst) + one-row
    * dangling broadcast, with the seed flag riding the node frame as a
    * broadcast semi-join — no new exchange. */
  def personalizedPageRank(edges: DataFrame, srcCol: String, dstCol: String,
                           seeds: DataFrame, seedCol: String,
                           iterations: Int, dampingPct: Int = 85,
                           scale: Long = 1000000000000L,
                           driverEdgeCap: Int = 100000,
                           seedCap: Int = 100000): DataFrame = {
    require(iterations >= 1,
      s"personalizedPageRank needs iterations>=1 (got $iterations)")
    require(dampingPct >= 0 && dampingPct <= 100,
      s"personalizedPageRank needs dampingPct in [0,100] (got $dampingPct)")
    require(scale >= 1000 && scale <= Long.MaxValue / 100,
      s"personalizedPageRank needs scale in [1e3, Long.Max/100] " +
        s"(got $scale)")
    val e0 = widenedEdges(edges, srcCol, dstCol)
    val nodeType = e0.schema.head.dataType
    val seedRows = seeds.select(col(seedCol).cast(nodeType).as("s"))
      .distinct().limit(seedCap + 1).collect()
    require(seedRows.nonEmpty,
      "personalizedPageRank: empty seed set - the personalization vector " +
        "IS the query")
    require(seedRows.length <= seedCap,
      s"personalizedPageRank: > $seedCap seeds - a personalization " +
        "vector is request-sized by definition; a corpus-sized 'seed set' " +
        "is plain pageRank")
    val seedSet: Set[Any] = seedRows.map(_.get(0)).toSet
    val probe = e0.groupBy("src", "dst").agg(count(lit(1)).as("__w"))
      .limit(driverEdgeCap + 1).collect()
    if (probe.length <= driverEdgeCap)
      pprDriver(edges.sparkSession, nodeType,
        probe.map(r => (r.get(0), r.get(1), r.getLong(2))), seedSet,
        iterations, dampingPct, scale)
    else pprDistributed(e0, seedSet, iterations, dampingPct, scale)
  }

  /** Rule-17 replay of the personalized fixed point — value-identical to
    * [[pprDistributed]] by the same exact-integer-algebra argument as
    * [[pageRankDriver]]. */
  private def pprDriver(spark: org.apache.spark.sql.SparkSession,
                        nodeType: org.apache.spark.sql.types.DataType,
                        es: Array[(Any, Any, Long)], seedSet: Set[Any],
                        iterations: Int, dampingPct: Int,
                        scale: Long): DataFrame = {
    val nodes: Array[Any] =
      (es.map(_._1) ++ es.map(_._2) ++ seedSet.toSeq).distinct
    val nS = seedSet.size.toLong
    val outdeg: Map[Any, Long] =
      es.groupBy(_._1).map { case (u, g) => u -> g.map(_._3).sum }
        .withDefaultValue(0L)
    val baseSeed = ((100L - dampingPct) * scale / 100L) / nS
    var rank: Map[Any, Long] = nodes.map(v =>
      v -> (if (seedSet(v)) scale / nS else 0L)).toMap
    for (_ <- 1 to iterations) {
      val contribs: Map[Any, Long] = es
        .filter { case (u, _, _) => outdeg(u) > 0 }
        .groupBy(_._2).map { case (v, g) =>
          v -> g.map { case (u, _, w) => w * (rank(u) / outdeg(u)) }.sum }
      val dang = nodes.iterator
        .filter(v => outdeg(v) == 0).map(rank).sum
      rank = nodes.map { v =>
        val seedPart = if (seedSet(v)) baseSeed else 0L
        val tele = if (seedSet(v)) dang / nS else 0L
        v -> (seedPart + (dampingPct.toLong *
          (contribs.getOrElse(v, 0L) + tele)) / 100L)
      }.toMap
    }
    val schema = org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("node", nodeType, nullable = true),
      org.apache.spark.sql.types.StructField("outdeg",
        org.apache.spark.sql.types.LongType, nullable = false),
      org.apache.spark.sql.types.StructField("in_seed",
        org.apache.spark.sql.types.BooleanType, nullable = false),
      org.apache.spark.sql.types.StructField("rank",
        org.apache.spark.sql.types.LongType, nullable = false)))
    val rows: java.util.List[org.apache.spark.sql.Row] =
      java.util.Arrays.asList(nodes.map(v =>
        org.apache.spark.sql.Row(v, outdeg(v), seedSet(v), rank(v))): _*)
    spark.createDataFrame(rows, schema)
  }

  private def pprDistributed(e0: DataFrame, seedSet: Set[Any],
                             iterations: Int, dampingPct: Int,
                             scale: Long): DataFrame = {
    val spark = e0.sparkSession
    val e = e0.persist(StorageLevel.MEMORY_AND_DISK)
    val nodeType = e0.schema.head.dataType
    val seedDf = {
      val schema = org.apache.spark.sql.types.StructType(Seq(
        org.apache.spark.sql.types.StructField("node", nodeType)))
      spark.createDataFrame(java.util.Arrays.asList(
        seedSet.toSeq.map(org.apache.spark.sql.Row(_)): _*), schema)
    }
    val nodes = e.select(col("src").as("node"))
      .union(e.select(col("dst").as("node"))).union(seedDf.select("node"))
      .distinct()
    val deg = nodes
      .join(e.groupBy("src").agg(count(lit(1)).as("__d")),
        nodes("node") === col("src"), "left")
      .join(broadcast(seedDf.withColumn("__s", lit(true))), Seq("node"),
        "left")
      .select(col("node"), coalesce(col("__d"), lit(0L)).as("outdeg"),
        coalesce(col("__s"), lit(false)).as("in_seed"))
    val nS = seedSet.size.toLong
    val baseSeed = ((100L - dampingPct) * scale / 100L) / nS
    var ranks = graft.StageCut(deg.withColumn("rank",
      when(col("in_seed"), lit(scale / nS)).otherwise(lit(0L))), "ppr.ranks")
    for (_ <- 1 to iterations) {
      val contribs = ranks.where(col("outdeg") > 0)
        .join(e, ranks("node") === e("src"))
        .groupBy(col("dst"))
        .agg(sum(idiv(col("rank"), col("outdeg"))).as("__c"))
      val dangling = ranks.agg(coalesce(sum(
        when(col("outdeg") === 0, col("rank"))), lit(0L)).as("__dang"))
      ranks = graft.StageCut(ranks.select(col("node"), col("outdeg"), col("in_seed"))
        .join(contribs, col("node") === col("dst"), "left")
        .crossJoin(broadcast(dangling))
        .select(col("node"), col("outdeg"), col("in_seed"),
          (when(col("in_seed"), lit(baseSeed)).otherwise(lit(0L)) +
            idiv(lit(dampingPct.toLong) *
              (coalesce(col("__c"), lit(0L)) +
                when(col("in_seed"), idiv(col("__dang"), lit(nS)))
                  .otherwise(lit(0L))),
              lit(100L))).as("rank")), "ppr.ranks")
    }
    e.unpersist()
    ranks
  }

  /** Degree assortativity (Newman 2002, PRL 89.208701 — the Pearson
    * correlation of endpoint degrees over edges): the one-number
    * mixing diagnostic that separates social-graph topology (r > 0,
    * hubs link hubs) from web/infrastructure topology (r < 0, hubs link
    * leaves) — for a crawl graph it reads whether link mass flows
    * hub-to-hub (directory rings, link farms) or hub-to-leaf (organic
    * content), the structural prior gr1's rank and gr6's clustering
    * don't capture.
    *
    * Semantics: undirected simple graph; each edge contributes BOTH
    * orientations to the sum (the standard symmetric treatment), so
    * with M = 2m directed rows, x = deg(src), y = deg(dst):
    * r = (M·Σxy − Σx·Σy) / √(M·Σx²−(Σx)²)·√(M·Σy²−(Σy)²) — and by
    * symmetry the two variance factors are equal. Every sum is an EXACT
    * decimal(38,0) integer; the only floats are the stated final line
    * (cast the three exact integers to double, two correctly-rounded
    * sqrts, one division, ⌊·10⁶⌋ — the t68 OLS discipline: identical
    * IEEE ops in a stated order replay bit-for-bit). A degree-regular
    * graph (variance 0) reads honest NULL. Output one row: node/edge
    * counts, the exact moment sums, `assort_fpm`. The moment sums are
    * emitted as int64 behind [[Guards.loudInt64]] — internal arithmetic
    * stays decimal(38,0), but int128-class OUTPUT columns canonicalize
    * differently across engines (the r14 driver-gate lesson), so out of
    * int64 range the operator raises instead of emitting a wide column.
    *
    * 100 TB shape: one map-side-combined degree groupBy, one edges-
    * sized equi-join of degrees onto both endpoints, ONE one-row
    * moment aggregate — no windows, no iteration, no driver state. */
  def assortativity(edges: DataFrame, srcCol: String,
                    dstCol: String): DataFrame = {
    val simple = widenedEdges(edges, srcCol, dstCol)
      .filter(col("src") =!= col("dst")).distinct()
    val und = graft.StageCut(simple
      .union(simple.select(col("dst").as("src"), col("src").as("dst")))
      .distinct(), "assortativity.und") // consumed by deg and the moment join
    val deg = und.groupBy(col("src").as("node")).agg(count(lit(1)).as("deg"))
    val xy = und
      .join(deg.select(col("node").as("src"), col("deg").as("x")), "src")
      .join(deg.select(col("node").as("dst"), col("deg").as("y")), "dst")
    val mom = xy.agg(
      count(lit(1)).as("m2"),
      sum(col("x").cast("decimal(38,0)")).as("sx"),
      sum((col("x").cast("decimal(38,0)") * col("x"))).as("sxx"),
      sum((col("x").cast("decimal(38,0)") * col("y"))).as("sxy"))
    mom.select(
      expr("m2 div 2").as("n_edges"),
      (expr("cast(m2 as decimal(38,0))") * col("sxy") - col("sx") * col("sx"))
        .as("cov_num"),
      (expr("cast(m2 as decimal(38,0))") * col("sxx") - col("sx") * col("sx"))
        .as("var_num"))
      .crossJoin(broadcast(deg.agg(count(lit(1)).as("n_nodes"))))
      // the moment numerators are exact decimal(38,0) INTERNALLY, but the
      // emitted columns are int64 behind a loud overflow guard: the r14
      // driver gate proved int128-class output columns canonicalize
      // differently across engines (the e24/e27/gr8 hash-red class), so
      // the output contract is BIGINT-or-raise — at 10¹⁰ edges the guard
      // fires instead of silently nulling (the q6 err_ppm lesson, loud)
      .select(col("n_nodes"), col("n_edges"),
        Guards.loudInt64(col("cov_num"), "assortativity", "cov_num")
          .as("cov_num"),
        Guards.loudInt64(col("var_num"), "assortativity", "var_num")
          .as("var_num"),
        when(col("var_num") > 0, floor(
          col("cov_num").cast("double") /
            (sqrt(col("var_num").cast("double")) *
             sqrt(col("var_num").cast("double"))) * lit(1000000.0))
          .cast("long")).as("assort_fpm"))
  }

  /** The [[linkPredict]] cap audit (the no-silent-caps discipline, the
    * t48 `fuzzyStopBlocks` convention): nodes excluded as wedge centers
    * by `maxCenterDegree`, with their degrees — empty means every common
    * neighbor was enumerated and the scores are exact. */
  def linkPredictDroppedHubs(edges: DataFrame, srcCol: String,
                             dstCol: String,
                             maxCenterDegree: Int): DataFrame = {
    val simple = widenedEdges(edges, srcCol, dstCol)
      .filter(col("src") =!= col("dst")).distinct()
    val und = simple
      .union(simple.select(col("dst").as("src"), col("src").as("dst")))
      .distinct()
    und.groupBy(col("src").as("node")).agg(count(lit(1)).as("deg"))
      .filter(col("deg") > maxCenterDegree)
  }

  /** k-core decomposition by synchronous peeling (Seidman 1983; the
    * Batagelj–Zaveršnik peel lifted to rounds) — the graph-curation seat
    * the rank family (gr1/gr2 PageRank, gr3 HITS, gr4 LPA) doesn't fill:
    * cores answer "which hosts sit in a SELF-SUSTAINING dense region"
    * (every member keeps ≥ k neighbors inside the set) where rank answers
    * "who receives mass". The onion layer (peel round) is the standard
    * robustness coordinate: spam farms and scraped-link tendrils peel in
    * the first rounds, genuinely embedded hosts survive deep.
    *
    * Semantics: undirected simple graph (self-loops dropped, parallel
    * edges collapsed, both directions); each round SIMULTANEOUSLY removes
    * every node with current degree < k; the fixed point is the k-core —
    * UNIQUE and removal-order-independent (the classic invariant), which
    * is what lets the oracle over-unroll rounds safely (extra rounds are
    * no-ops at the fixed point). Output per original node: `peel_round`
    * (the onion layer, 1-based; NULL for core members), `in_core`, and
    * `core_deg` (degree within the core; NULL for peeled nodes) — every
    * value integer-exact, no tiebreaks anywhere.
    *
    * 100 TB shape: per round ONE map-side-combined degree groupBy + two
    * semi-joins of the shrinking edge set against the survivor nodes.
    * The node-sized degree table `deg` is the only aggregation per round
    * (r18; guide §2.4/§1.2) — the convergence test, peeled slice and
    * survivor set are filters over it — and both per-round cuts (`deg`,
    * the edge frontier `cur`) are LAZY, which saves only each cut's own
    * materializing job: under AQE building a cut runs its upstream stages.
    * Measured, a peeling round runs 4 jobs: building `deg` (the groupBy's
    * map stage, which computes the last round's `cur`), the convergence
    * count (2, materializing `deg`) and building `cur` (its semi-joins'
    * upstream stage); the last round stops after its count. Lineage stays O(1)
    * per round (the connectedComponents discipline); rounds grow with the
    * graph's degeneracy ordering depth (log-like on tree-ish tendrils),
    * and the work per round SHRINKS with the surviving graph. Driver
    * holds counts only (rule 17). `maxRounds` is a loud runaway guard. */
  def kcore(edges: DataFrame, srcCol: String, dstCol: String, k: Int,
            maxRounds: Int = 64): DataFrame = {
    require(k >= 1, s"kcore needs k >= 1 (got $k)")
    require(maxRounds >= 1, s"kcore needs maxRounds >= 1 (got $maxRounds)")
    val simple = widenedEdges(edges, srcCol, dstCol)
      .filter(col("src") =!= col("dst")).distinct()
    val und = graft.StageCut(simple
      .union(simple.select(col("dst").as("src"), col("src").as("dst")))
      .distinct(), "kcore.und")
    var nodes = graft.StageCut(und.select(col("src").as("node")).distinct(),
      "kcore.nodes")
    var cur = und
    var peeled = Vector.empty[DataFrame]
    var round = 1
    var done = false
    while (!done) {
      require(round <= maxRounds,
        s"kcore did not converge within $maxRounds rounds - the graph's " +
          "peel depth exceeds the guard; raise maxRounds deliberately")
      // deg is checkpointed LAZILY and the convergence count materializes
      // it (the t41 pattern — the count computes deg's full RDD,
      // checkpointing it, then counts the filtered rows on top; RDD-level
      // checkpoints are opaque to column pruning, so the materialized rows
      // are complete). Building the cut runs the groupBy's map stage, which
      // executes the previous round's lazy edge cut. drop / nodes are
      // filters over the checkpoint — no second degree aggregation.
      // degree via union+groupBy instead of nodes⋈counts (one exchange,
      // no join): every survivor appears in the union with weight 0, so
      // zero-degree nodes emerge with __d = 0 — value-identical to the
      // left join + coalesce, and cur's src ⊆ nodes by the semi-joins.
      val deg = graft.StageCut(cur.select(col("src").as("node"), lit(1L).as("__w"))
        .union(nodes.select(col("node"), lit(0L).as("__w")))
        .groupBy("node").agg(sum(col("__w")).as("__d")), "kcore.deg", eager = false)
      val drop = deg.filter(col("__d") < k)
        .select(col("node"), lit(round.toLong).as("peel_round"))
      if (drop.count() == 0L) done = true
      else {
        peeled :+= drop
        nodes = deg.filter(col("__d") >= k).select("node")
        cur = graft.StageCut(cur
          .join(nodes.withColumnRenamed("node", "src"), Seq("src"), "left_semi")
          .join(nodes.withColumnRenamed("node", "dst"), Seq("dst"), "left_semi"),
          "kcore.cur", eager = false)
        round += 1
      }
    }
    val coreDeg = cur.groupBy(col("src").as("node"))
      .agg(count(lit(1)).as("core_deg"))
    val allPeeled = peeled
      .foldLeft(und.select(col("src").as("node"), lit(0L).as("peel_round"))
        .limit(0))(_ unionByName _)
    und.select(col("src").as("node")).distinct()
      .join(allPeeled, Seq("node"), "left")
      .join(coreDeg, Seq("node"), "left")
      .select(col("node"), col("peel_round"),
        col("peel_round").isNull.as("in_core"), col("core_deg"))
  }
}
