package graft.queries

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graftbridge.ColumnBridge
import graft.Tables
import graft.operators.LinkGraph

/** Link-graph ranking coverage. The host graph is synthesized
  * deterministically from `documents` (same convention as t18's URL
  * synthesis: name the rule, apply it identically in both engines), and the
  * WHOLE power iteration is value-checked — the oracle unrolls all five
  * fixed-point iterations as SQL CTEs and must reproduce every node's rank
  * bit-for-bit, which is exactly the reproducibility property the
  * fixed-point design buys (see [[graft.operators.LinkGraph]]). */
object GraphQueries {

  private val Iters = 5
  private val DampPct = 85
  private val Scale = 1000000000000L

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "gr1_pagerank" -> ((s, d) => pagerank(s, d)),
    "gr2_pagerank_dense" -> ((s, d) => pagerankDense(s, d)),
    "gr3_hits" -> ((s, d) => hitsQ(s, d)),
    "gr4_lpa" -> ((s, d) => lpaQ(s, d)),
    "gr5_kcore" -> ((s, d) => kcoreQ(s, d)),
    "gr6_triangles" -> ((s, d) => trianglesQ(s, d)),
    "gr7_link_predict" -> ((s, d) => linkPredictQ(s, d)),
    "gr8_assortativity" -> ((s, d) => assortativityQ(s, d)),
    "gr9_seed_distance" -> ((s, d) => seedDistanceQ(s, d)),
    "gr10_reciprocity" -> ((s, d) => reciprocityQ(s, d)),
    "gr11_ppr" -> ((s, d) => pprQ(s, d))
  )

  /** [[graft.operators.LinkGraph.personalizedPageRank]] from seeds
    * {1, 2000000001} over gr9's downward ancestry graph (+ the detached
    * 8-ring): rank LOCALIZES — node 1's subtree holds essentially all
    * the mass while the ring (unreachable from any seed) reads exactly
    * 0 at every member, the property that separates this from gr1's
    * global score; seed 2000000001 is absent from the edge set entirely
    * and exercises the isolated-seed path (it joins the node universe
    * as a dangling node and keeps re-teleporting its own mass). Five
    * iterations, d = 0.85, the gr1 fixed-point units; the oracle
    * unrolls every iteration. */
  def pprQ(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val docs = Tables.documents(spark, dir)
    val down = docs.filter(col("doc_id") >= 2)
      .select(expr("doc_id div 2").as("src"), col("doc_id").as("dst"))
      .union(docs.filter(col("doc_id") >= 4)
        .select(expr("doc_id div 4").as("src"), col("doc_id").as("dst")))
    val ring = docs.select(
      (lit(1000000000L) + pmod(col("doc_id"), lit(8))).as("src"),
      (lit(1000000000L) + pmod(col("doc_id") + 1, lit(8))).as("dst"))
    val seeds = Seq(1L, 2000000001L).toDF("seed")
    LinkGraph.personalizedPageRank(
        down.union(ring).filter(col("src") =!= col("dst")).distinct(),
        "src", "dst", seeds, "seed", Iters, DampPct, Scale)
      .orderBy(col("rank").desc, col("node"))
  }

  /** [[graft.operators.LinkGraph.reciprocity]] over the ancestry graph
    * with a PLANTED link-exchange slice (every doc_id % 5 == 0 child
    * links BACK to its parent — the named rule): the mutual pairs read
    * 18.1% reciprocity at sf0.01 (198 of 1093 directed edges) against
    * the tree's natural 0 — the anomaly signature the diagnostic exists
    * to flag. */
  def reciprocityQ(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(spark, dir)
    val back = docs.filter(col("doc_id") >= 2 && col("doc_id") % 5 === 0)
      .select(expr("doc_id div 2").as("src"), col("doc_id").as("dst"))
    LinkGraph.reciprocity(triangleEdges(spark, dir).union(back),
      "src", "dst")
  }

  /** [[graft.operators.LinkGraph.seedDistance]] from seeds {0, 1} over
    * the DOWNWARD ancestry graph (parent→child + grandparent→child —
    * the shortcut edges halve the tree depth, so dist(i) ≈
    * ⌈log₂(i)/2⌉: a real 0..5-hop spread at sf0.01) plus a PLANTED
    * detached 8-ring that stays NULL/unreached; seed 0 is absent from
    * the graph's node set and contributes nothing (the stated
    * contract), so the whole frontier grows from node 1. */
  def seedDistanceQ(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(spark, dir)
    val down = docs.filter(col("doc_id") >= 2)
      .select(expr("doc_id div 2").as("src"), col("doc_id").as("dst"))
      .union(docs.filter(col("doc_id") >= 4)
        .select(expr("doc_id div 4").as("src"), col("doc_id").as("dst")))
    val ring = docs.select(
      (lit(1000000000L) + pmod(col("doc_id"), lit(8))).as("src"),
      (lit(1000000000L) + pmod(col("doc_id") + 1, lit(8))).as("dst"))
    val seeds = spark.range(2).select(col("id").as("seed"))
    LinkGraph.seedDistance(down.union(ring), "src", "dst", seeds, "seed")
      .orderBy("node")
  }

  /** [[graft.operators.LinkGraph.assortativity]] over the ancestry
    * graph — hubs (high-degree inner nodes) link leaves, the
    * infrastructure signature: r lands negative (−0.052 at sf0.01),
    * the direction a crawl curator reads as "content flows hub→leaf,
    * not a directory ring". */
  def assortativityQ(spark: SparkSession, dir: String): DataFrame =
    LinkGraph.assortativity(triangleEdges(spark, dir), "src", "dst")

  /** Ancestry edges with PLANTED triangles (gr5's tree alone is
    * triangle-free): parent links (i, i div 2) for i ≥ 2 plus grandparent
    * links (i, i div 4) for i ≥ 4 close one triangle {i, i÷2, i÷4} per
    * doc — triangles grow linearly with the corpus, degrees vary 1..8,
    * and the clustering coefficient takes a real spread of values. */
  private def triangleEdges(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(spark, dir)
    docs.filter(col("doc_id") >= 2)
      .select(col("doc_id").as("src"), expr("doc_id div 2").as("dst"))
      .union(docs.filter(col("doc_id") >= 4)
        .select(col("doc_id").as("src"), expr("doc_id div 4").as("dst")))
  }

  /** [[graft.operators.LinkGraph.triangles]] over the planted ancestry
    * graph — per-node triangle counts and exact-ppm local clustering. */
  def trianglesQ(spark: SparkSession, dir: String): DataFrame =
    LinkGraph.triangles(triangleEdges(spark, dir), "src", "dst")
      .orderBy("node")

  /** [[graft.operators.LinkGraph.linkPredict]] over the same graph:
    * top-1000 distance-2 pairs by Resource-Allocation score (sibling
    * pairs share {parent, grandparent} and surface first). Every fixture
    * degree is ≤ 8, far under the hub cap, so the scores are exact over
    * the full wedge set (the audit frame is spec-asserted empty). */
  def linkPredictQ(spark: SparkSession, dir: String): DataFrame =
    LinkGraph.linkPredict(triangleEdges(spark, dir), "src", "dst",
      topK = 1000)

  /** [[graft.operators.LinkGraph.kcore]] at k = 2 over a PLANTED
    * tree + ring graph (the t18 convention — the gr1 host graph is
    * degree-uniform, so its cores are vacuous: everything or nothing):
    * tree edges (doc_id, doc_id div 2) peel one onion layer per round
    * (each round removes the current leaves — layers halve: 250/125/…/8
    * at sf0.01, 6 rounds; 10 rounds at sf0.1 — the peel DEPTH grows with
    * the corpus, which is what the heavy gate stresses), and the ring
    * over nodes 0..7 is the unique surviving 2-core (every member keeps
    * ≥ 2 in-set neighbors). The oracle unrolls 16 synchronized peel
    * rounds — over-unrolling is SAFE because the k-core is a unique
    * removal-order-independent fixed point (extra rounds are no-ops),
    * the property that distinguishes this from the gr1/gr3/gr4 class
    * where iteration count is part of the semantics. */
  def kcoreQ(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(spark, dir)
    val tree = docs.filter(col("doc_id") >= 1)
      .select(col("doc_id").as("src"), expr("doc_id div 2").as("dst"))
    val ring = docs.filter(col("doc_id") < 8)
      .select(col("doc_id").as("src"),
        ((col("doc_id") + 1) % 8).as("dst"))
    LinkGraph.kcore(tree.union(ring), "src", "dst", k = 2)
      .orderBy("node")
  }

  /** [[graft.operators.LinkGraph.labelPropagation]] over the same host
    * graph, 5 synchronous rounds: communities with real size spread (the
    * fixed 20×7 target universe draws hosts into shared sinks). The
    * oracle unrolls every round — neighbor-mode with the smallest-label
    * tiebreak — so one wrong vote anywhere relabels nodes. */
  def lpaQ(spark: SparkSession, dir: String): DataFrame =
    LinkGraph.labelPropagation(edges(spark, dir), "src", "dst", Iters)
      .orderBy("node")

  /** Synthesized host-link edges: each doc's host links to two derived
    * hosts; self-loops dropped; simple graph (DISTINCT). */
  private def edges(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(spark, dir)
    def host(src: Column, k: Column): Column =
      concat(src, lit("-"), k.cast("string"), lit(".com"))
    val src = host(col("source"), pmod(col("doc_id"), lit(7)))
    def dst(j: Int): Column = host(
      concat(lit("src"),
        (lit(1) + pmod(col("doc_id") + lit(3 * j), lit(20))).cast("string")),
      pmod(col("doc_id") * lit(j + 1), lit(7)))
    docs.select(src.as("src"), dst(1).as("dst"))
      .union(docs.select(src.as("src"), dst(2).as("dst")))
      .where(col("src") =!= col("dst"))
      .distinct()
  }

  /** Host PageRank, 5 iterations, d=0.85, fixed-point 1e-12 units. */
  def pagerank(spark: SparkSession, dir: String): DataFrame =
    LinkGraph.pageRank(edges(spark, dir), "src", "dst", Iters, DampPct, Scale)
      .orderBy(col("rank").desc, col("node"))

  /** GROWING-graph edges: node universe ∝ corpus rows (one host per 5
    * docs; the two derived targets range past the source universe, so
    * dangling nodes grow too). gr1's host universe is FIXED by its
    * synthesis rule — this is the arm whose x64 probe shows the iteration
    * itself scaling with graph size, not just the edge-derivation scan. */
  private def denseEdges(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(spark, dir)
    def h(c: Column): Column = concat(lit("h"),
      ColumnBridge.column(
        org.apache.spark.sql.catalyst.expressions.IntegralDivide(
          ColumnBridge.expression(c), ColumnBridge.expression(lit(5L))))
        .cast("string"))
    docs.select(h(col("doc_id")).as("src"),
        h(col("doc_id") * 7 + 3).as("dst"))
      .union(docs.select(h(col("doc_id")).as("src"),
        h(col("doc_id") * 11 + 7).as("dst")))
      .where(col("src") =!= col("dst"))
      .distinct()
  }

  /** PageRank over the growing graph — same iteration count/constants. */
  def pagerankDense(spark: SparkSession, dir: String): DataFrame =
    LinkGraph.pageRank(denseEdges(spark, dir), "src", "dst", Iters, DampPct, Scale)
      .orderBy(col("rank").desc, col("node"))

  /** HITS over the same host graph, 5 L1-normalized iterations — the
    * hub/authority split gr1's single endorsement score can't express
    * (see [[graft.operators.LinkGraph.hits]]). The oracle unrolls all
    * five double-steps (auth pass, L1 renorm, hub pass, L1 renorm) in
    * HUGEINT — both engines floor-divide the identical exact integers. */
  def hitsQ(spark: SparkSession, dir: String): DataFrame =
    LinkGraph.hits(edges(spark, dir), "src", "dst", Iters, Scale)
      .orderBy(col("auth").desc, col("hub").desc, col("node"))

  private val edgeSql: String =
    """e AS (
      |  SELECT DISTINCT src, dst FROM (
      |    SELECT (source || '-' || (doc_id % 7) || '.com') AS src,
      |           ('src' || (1 + ((doc_id + 3) % 20)) || '-' ||
      |            ((doc_id * 2) % 7) || '.com') AS dst
      |    FROM documents
      |    UNION ALL
      |    SELECT (source || '-' || (doc_id % 7) || '.com') AS src,
      |           ('src' || (1 + ((doc_id + 6) % 20)) || '-' ||
      |            ((doc_id * 3) % 7) || '.com') AS dst
      |    FROM documents) u
      |  WHERE src <> dst)""".stripMargin

  /** One unrolled power-iteration step: r{i} from r{i-1}. Same fixed-point
    * ops as the engine: truncating integer division at the share, the
    * dangling split, and the damped update. */
  private def stepSql(i: Int): String = {
    val p = s"r${i - 1}"
    s"""r$i AS (
       |  SELECT d.node, d.outdeg,
       |    ((SELECT ((${100 - DampPct} * $Scale) // 100) // n FROM nn)
       |     + ($DampPct * (coalesce(c.s, 0)
       |        + (SELECT coalesce(sum(CASE WHEN outdeg = 0 THEN rank END), 0)
       |           FROM $p) // (SELECT n FROM nn))) // 100)::BIGINT AS rank
       |  FROM $p d
       |  LEFT JOIN (SELECT e.dst, sum(r.rank // r.outdeg)::BIGINT AS s
       |             FROM e JOIN $p r ON e.src = r.node WHERE r.outdeg > 0
       |             GROUP BY e.dst) c
       |  ON d.node = c.dst)""".stripMargin
  }

  private val denseEdgeSql: String =
    """e AS (
      |  SELECT DISTINCT src, dst FROM (
      |    SELECT ('h' || (doc_id // 5)) AS src,
      |           ('h' || ((doc_id * 7 + 3) // 5)) AS dst FROM documents
      |    UNION ALL
      |    SELECT ('h' || (doc_id // 5)) AS src,
      |           ('h' || ((doc_id * 11 + 7) // 5)) AS dst FROM documents) u
      |  WHERE src <> dst)""".stripMargin

  /** The full five-iteration replay over a given edge CTE. */
  private def pagerankOracle(edgeCte: String): String =
    s"""WITH $edgeCte,
       |nodes AS (SELECT src AS node FROM e UNION SELECT dst FROM e),
       |deg AS (SELECT n.node, coalesce(d.c, 0)::BIGINT AS outdeg
       |  FROM nodes n
       |  LEFT JOIN (SELECT src, count(*)::BIGINT AS c FROM e GROUP BY src) d
       |  ON n.node = d.src),
       |nn AS (SELECT count(*)::BIGINT AS n FROM deg),
       |r0 AS (SELECT node, outdeg,
       |  (SELECT $Scale // n FROM nn)::BIGINT AS rank FROM deg),
       |${(1 to Iters).map(stepSql).mkString(",\n")}
       |SELECT node, outdeg, rank FROM r$Iters ORDER BY rank DESC, node""".stripMargin

  /** One unrolled HITS double-step: a{i}/h{i} from h{i-1}. The raw sums
    * run in BIGINT (bounded by scale·maxdeg), the ·scale renormalization
    * multiply in HUGEINT — the same widening the engine side gets from
    * decimal(38,0). */
  private def hitsStepSql(i: Int): String =
    s"""a${i}raw AS MATERIALIZED (SELECT e.dst AS node, sum(h.hub)::BIGINT AS s
       |  FROM e JOIN h${i - 1} h ON e.src = h.node GROUP BY e.dst),
       |at$i AS MATERIALIZED (SELECT sum(s)::BIGINT AS t FROM a${i}raw),
       |a$i AS MATERIALIZED (SELECT n.node,
       |  coalesce(((r.s::HUGEINT * $Scale) // (SELECT t FROM at$i))::BIGINT, 0) AS auth
       |  FROM nodes n LEFT JOIN a${i}raw r ON n.node = r.node),
       |h${i}raw AS MATERIALIZED (SELECT e.src AS node, sum(a.auth)::BIGINT AS s
       |  FROM e JOIN a$i a ON e.dst = a.node GROUP BY e.src),
       |ht$i AS MATERIALIZED (SELECT sum(s)::BIGINT AS t FROM h${i}raw),
       |h$i AS MATERIALIZED (SELECT n.node,
       |  coalesce(((r.s::HUGEINT * $Scale) // (SELECT t FROM ht$i))::BIGINT, 0) AS hub
       |  FROM nodes n LEFT JOIN h${i}raw r ON n.node = r.node)""".stripMargin

  private def hitsOracle(edgeCte: String): String =
    s"""WITH ${edgeCte.replace("e AS (", "e AS MATERIALIZED (")},
       |nodes AS MATERIALIZED (SELECT src AS node FROM e UNION SELECT dst FROM e),
       |nn AS (SELECT count(*)::BIGINT AS n FROM nodes),
       |h0 AS MATERIALIZED (SELECT node, (SELECT $Scale // n FROM nn)::BIGINT AS hub FROM nodes),
       |${(1 to Iters).map(hitsStepSql).mkString(",\n")}
       |SELECT a.node, a.auth, h.hub FROM a$Iters a JOIN h$Iters h ON a.node = h.node
       |ORDER BY a.auth DESC, h.hub DESC, a.node""".stripMargin

  /** One unrolled synchronous LPA round: counts of neighbor labels from
    * the previous round, mode with smallest-label tiebreak. */
  private def lpaStepSql(i: Int): String =
    s"""c$i AS MATERIALIZED (SELECT u.a, p.label, count(*)::BIGINT AS c
       |  FROM und u JOIN l${i - 1} p ON p.node = u.b GROUP BY u.a, p.label),
       |l$i AS MATERIALIZED (SELECT a AS node, label FROM (
       |  SELECT a, label,
       |    row_number() OVER (PARTITION BY a ORDER BY c DESC, label ASC) AS rn
       |  FROM c$i) WHERE rn = 1)""".stripMargin

  private def lpaOracle(edgeCte: String): String =
    s"""WITH ${edgeCte.replace("e AS (", "e AS MATERIALIZED (")},
       |und AS MATERIALIZED (SELECT src AS a, dst AS b FROM e
       |  UNION ALL SELECT dst, src FROM e),
       |l0 AS MATERIALIZED (SELECT DISTINCT a AS node, a AS label FROM und),
       |${(1 to Iters).map(lpaStepSql).mkString(",\n")},
       |sz AS (SELECT label, count(*)::BIGINT AS csize FROM l$Iters GROUP BY label)
       |SELECT l.node, l.label, s.csize FROM l$Iters l JOIN sz s USING (label)
       |ORDER BY l.node""".stripMargin

  /** 16 unrolled synchronous peel rounds (covers the sf0.1 depth of 10
    * with margin; extra rounds are no-ops at the unique fixed point). */
  private val kcoreOracle: String =
    """WITH simple AS MATERIALIZED (
      |  SELECT DISTINCT src, dst FROM (
      |    SELECT doc_id AS src, doc_id // 2 AS dst FROM documents WHERE doc_id >= 1
      |    UNION ALL
      |    SELECT doc_id, (doc_id + 1) % 8 FROM documents WHERE doc_id < 8) t
      |  WHERE src <> dst),
      |u0 AS MATERIALIZED (SELECT DISTINCT a, b FROM (
      |  SELECT src AS a, dst AS b FROM simple UNION ALL SELECT dst, src FROM simple)),
      |n0 AS MATERIALIZED (SELECT DISTINCT a AS node FROM u0),
      |d1 AS MATERIALIZED (SELECT n.node, coalesce(c.c, 0)::BIGINT AS d
      |  FROM n0 n LEFT JOIN (SELECT a, count(*)::BIGINT AS c FROM u0 GROUP BY a) c
      |  ON n.node = c.a),
      |p1 AS MATERIALIZED (SELECT node, 1::BIGINT AS peel_round FROM d1 WHERE d < 2),
      |n1 AS MATERIALIZED (SELECT node FROM d1 WHERE d >= 2),
      |u1 AS MATERIALIZED (SELECT u.a, u.b FROM u0 u
      |  JOIN n1 x ON u.a = x.node JOIN n1 y ON u.b = y.node),
      |d2 AS MATERIALIZED (SELECT n.node, coalesce(c.c, 0)::BIGINT AS d
      |  FROM n1 n LEFT JOIN (SELECT a, count(*)::BIGINT AS c FROM u1 GROUP BY a) c
      |  ON n.node = c.a),
      |p2 AS MATERIALIZED (SELECT node, 2::BIGINT AS peel_round FROM d2 WHERE d < 2),
      |n2 AS MATERIALIZED (SELECT node FROM d2 WHERE d >= 2),
      |u2 AS MATERIALIZED (SELECT u.a, u.b FROM u1 u
      |  JOIN n2 x ON u.a = x.node JOIN n2 y ON u.b = y.node),
      |d3 AS MATERIALIZED (SELECT n.node, coalesce(c.c, 0)::BIGINT AS d
      |  FROM n2 n LEFT JOIN (SELECT a, count(*)::BIGINT AS c FROM u2 GROUP BY a) c
      |  ON n.node = c.a),
      |p3 AS MATERIALIZED (SELECT node, 3::BIGINT AS peel_round FROM d3 WHERE d < 2),
      |n3 AS MATERIALIZED (SELECT node FROM d3 WHERE d >= 2),
      |u3 AS MATERIALIZED (SELECT u.a, u.b FROM u2 u
      |  JOIN n3 x ON u.a = x.node JOIN n3 y ON u.b = y.node),
      |d4 AS MATERIALIZED (SELECT n.node, coalesce(c.c, 0)::BIGINT AS d
      |  FROM n3 n LEFT JOIN (SELECT a, count(*)::BIGINT AS c FROM u3 GROUP BY a) c
      |  ON n.node = c.a),
      |p4 AS MATERIALIZED (SELECT node, 4::BIGINT AS peel_round FROM d4 WHERE d < 2),
      |n4 AS MATERIALIZED (SELECT node FROM d4 WHERE d >= 2),
      |u4 AS MATERIALIZED (SELECT u.a, u.b FROM u3 u
      |  JOIN n4 x ON u.a = x.node JOIN n4 y ON u.b = y.node),
      |d5 AS MATERIALIZED (SELECT n.node, coalesce(c.c, 0)::BIGINT AS d
      |  FROM n4 n LEFT JOIN (SELECT a, count(*)::BIGINT AS c FROM u4 GROUP BY a) c
      |  ON n.node = c.a),
      |p5 AS MATERIALIZED (SELECT node, 5::BIGINT AS peel_round FROM d5 WHERE d < 2),
      |n5 AS MATERIALIZED (SELECT node FROM d5 WHERE d >= 2),
      |u5 AS MATERIALIZED (SELECT u.a, u.b FROM u4 u
      |  JOIN n5 x ON u.a = x.node JOIN n5 y ON u.b = y.node),
      |d6 AS MATERIALIZED (SELECT n.node, coalesce(c.c, 0)::BIGINT AS d
      |  FROM n5 n LEFT JOIN (SELECT a, count(*)::BIGINT AS c FROM u5 GROUP BY a) c
      |  ON n.node = c.a),
      |p6 AS MATERIALIZED (SELECT node, 6::BIGINT AS peel_round FROM d6 WHERE d < 2),
      |n6 AS MATERIALIZED (SELECT node FROM d6 WHERE d >= 2),
      |u6 AS MATERIALIZED (SELECT u.a, u.b FROM u5 u
      |  JOIN n6 x ON u.a = x.node JOIN n6 y ON u.b = y.node),
      |d7 AS MATERIALIZED (SELECT n.node, coalesce(c.c, 0)::BIGINT AS d
      |  FROM n6 n LEFT JOIN (SELECT a, count(*)::BIGINT AS c FROM u6 GROUP BY a) c
      |  ON n.node = c.a),
      |p7 AS MATERIALIZED (SELECT node, 7::BIGINT AS peel_round FROM d7 WHERE d < 2),
      |n7 AS MATERIALIZED (SELECT node FROM d7 WHERE d >= 2),
      |u7 AS MATERIALIZED (SELECT u.a, u.b FROM u6 u
      |  JOIN n7 x ON u.a = x.node JOIN n7 y ON u.b = y.node),
      |d8 AS MATERIALIZED (SELECT n.node, coalesce(c.c, 0)::BIGINT AS d
      |  FROM n7 n LEFT JOIN (SELECT a, count(*)::BIGINT AS c FROM u7 GROUP BY a) c
      |  ON n.node = c.a),
      |p8 AS MATERIALIZED (SELECT node, 8::BIGINT AS peel_round FROM d8 WHERE d < 2),
      |n8 AS MATERIALIZED (SELECT node FROM d8 WHERE d >= 2),
      |u8 AS MATERIALIZED (SELECT u.a, u.b FROM u7 u
      |  JOIN n8 x ON u.a = x.node JOIN n8 y ON u.b = y.node),
      |d9 AS MATERIALIZED (SELECT n.node, coalesce(c.c, 0)::BIGINT AS d
      |  FROM n8 n LEFT JOIN (SELECT a, count(*)::BIGINT AS c FROM u8 GROUP BY a) c
      |  ON n.node = c.a),
      |p9 AS MATERIALIZED (SELECT node, 9::BIGINT AS peel_round FROM d9 WHERE d < 2),
      |n9 AS MATERIALIZED (SELECT node FROM d9 WHERE d >= 2),
      |u9 AS MATERIALIZED (SELECT u.a, u.b FROM u8 u
      |  JOIN n9 x ON u.a = x.node JOIN n9 y ON u.b = y.node),
      |d10 AS MATERIALIZED (SELECT n.node, coalesce(c.c, 0)::BIGINT AS d
      |  FROM n9 n LEFT JOIN (SELECT a, count(*)::BIGINT AS c FROM u9 GROUP BY a) c
      |  ON n.node = c.a),
      |p10 AS MATERIALIZED (SELECT node, 10::BIGINT AS peel_round FROM d10 WHERE d < 2),
      |n10 AS MATERIALIZED (SELECT node FROM d10 WHERE d >= 2),
      |u10 AS MATERIALIZED (SELECT u.a, u.b FROM u9 u
      |  JOIN n10 x ON u.a = x.node JOIN n10 y ON u.b = y.node),
      |d11 AS MATERIALIZED (SELECT n.node, coalesce(c.c, 0)::BIGINT AS d
      |  FROM n10 n LEFT JOIN (SELECT a, count(*)::BIGINT AS c FROM u10 GROUP BY a) c
      |  ON n.node = c.a),
      |p11 AS MATERIALIZED (SELECT node, 11::BIGINT AS peel_round FROM d11 WHERE d < 2),
      |n11 AS MATERIALIZED (SELECT node FROM d11 WHERE d >= 2),
      |u11 AS MATERIALIZED (SELECT u.a, u.b FROM u10 u
      |  JOIN n11 x ON u.a = x.node JOIN n11 y ON u.b = y.node),
      |d12 AS MATERIALIZED (SELECT n.node, coalesce(c.c, 0)::BIGINT AS d
      |  FROM n11 n LEFT JOIN (SELECT a, count(*)::BIGINT AS c FROM u11 GROUP BY a) c
      |  ON n.node = c.a),
      |p12 AS MATERIALIZED (SELECT node, 12::BIGINT AS peel_round FROM d12 WHERE d < 2),
      |n12 AS MATERIALIZED (SELECT node FROM d12 WHERE d >= 2),
      |u12 AS MATERIALIZED (SELECT u.a, u.b FROM u11 u
      |  JOIN n12 x ON u.a = x.node JOIN n12 y ON u.b = y.node),
      |d13 AS MATERIALIZED (SELECT n.node, coalesce(c.c, 0)::BIGINT AS d
      |  FROM n12 n LEFT JOIN (SELECT a, count(*)::BIGINT AS c FROM u12 GROUP BY a) c
      |  ON n.node = c.a),
      |p13 AS MATERIALIZED (SELECT node, 13::BIGINT AS peel_round FROM d13 WHERE d < 2),
      |n13 AS MATERIALIZED (SELECT node FROM d13 WHERE d >= 2),
      |u13 AS MATERIALIZED (SELECT u.a, u.b FROM u12 u
      |  JOIN n13 x ON u.a = x.node JOIN n13 y ON u.b = y.node),
      |d14 AS MATERIALIZED (SELECT n.node, coalesce(c.c, 0)::BIGINT AS d
      |  FROM n13 n LEFT JOIN (SELECT a, count(*)::BIGINT AS c FROM u13 GROUP BY a) c
      |  ON n.node = c.a),
      |p14 AS MATERIALIZED (SELECT node, 14::BIGINT AS peel_round FROM d14 WHERE d < 2),
      |n14 AS MATERIALIZED (SELECT node FROM d14 WHERE d >= 2),
      |u14 AS MATERIALIZED (SELECT u.a, u.b FROM u13 u
      |  JOIN n14 x ON u.a = x.node JOIN n14 y ON u.b = y.node),
      |d15 AS MATERIALIZED (SELECT n.node, coalesce(c.c, 0)::BIGINT AS d
      |  FROM n14 n LEFT JOIN (SELECT a, count(*)::BIGINT AS c FROM u14 GROUP BY a) c
      |  ON n.node = c.a),
      |p15 AS MATERIALIZED (SELECT node, 15::BIGINT AS peel_round FROM d15 WHERE d < 2),
      |n15 AS MATERIALIZED (SELECT node FROM d15 WHERE d >= 2),
      |u15 AS MATERIALIZED (SELECT u.a, u.b FROM u14 u
      |  JOIN n15 x ON u.a = x.node JOIN n15 y ON u.b = y.node),
      |d16 AS MATERIALIZED (SELECT n.node, coalesce(c.c, 0)::BIGINT AS d
      |  FROM n15 n LEFT JOIN (SELECT a, count(*)::BIGINT AS c FROM u15 GROUP BY a) c
      |  ON n.node = c.a),
      |p16 AS MATERIALIZED (SELECT node, 16::BIGINT AS peel_round FROM d16 WHERE d < 2),
      |n16 AS MATERIALIZED (SELECT node FROM d16 WHERE d >= 2),
      |u16 AS MATERIALIZED (SELECT u.a, u.b FROM u15 u
      |  JOIN n16 x ON u.a = x.node JOIN n16 y ON u.b = y.node),
      |peel AS MATERIALIZED (SELECT node, peel_round FROM p1
      |UNION ALL SELECT node, peel_round FROM p2
      |UNION ALL SELECT node, peel_round FROM p3
      |UNION ALL SELECT node, peel_round FROM p4
      |UNION ALL SELECT node, peel_round FROM p5
      |UNION ALL SELECT node, peel_round FROM p6
      |UNION ALL SELECT node, peel_round FROM p7
      |UNION ALL SELECT node, peel_round FROM p8
      |UNION ALL SELECT node, peel_round FROM p9
      |UNION ALL SELECT node, peel_round FROM p10
      |UNION ALL SELECT node, peel_round FROM p11
      |UNION ALL SELECT node, peel_round FROM p12
      |UNION ALL SELECT node, peel_round FROM p13
      |UNION ALL SELECT node, peel_round FROM p14
      |UNION ALL SELECT node, peel_round FROM p15
      |UNION ALL SELECT node, peel_round FROM p16),
      |cd AS MATERIALIZED (SELECT a AS node, count(*)::BIGINT AS core_deg
      |  FROM u16 GROUP BY a)
      |SELECT n0.node, peel.peel_round,
      |  (peel.peel_round IS NULL) AS in_core, cd.core_deg
      |FROM n0 LEFT JOIN peel USING (node) LEFT JOIN cd USING (node)
      |ORDER BY n0.node""".stripMargin

  /** Shared CTE prefix for the gr6/gr7 oracles: the planted ancestry
    * edges, simple-graph normalization, both-direction expansion, and
    * exact degrees. */
  private val triangleBaseSql: String =
    """raw AS (
      |  SELECT doc_id AS src, doc_id // 2 AS dst FROM documents WHERE doc_id >= 2
      |  UNION ALL
      |  SELECT doc_id, doc_id // 4 FROM documents WHERE doc_id >= 4),
      |simple AS MATERIALIZED (SELECT DISTINCT src, dst FROM raw WHERE src <> dst),
      |und AS MATERIALIZED (SELECT DISTINCT a, b FROM (
      |  SELECT src AS a, dst AS b FROM simple UNION ALL SELECT dst, src FROM simple)),
      |deg AS MATERIALIZED (SELECT a AS node, count(*)::BIGINT AS deg FROM und GROUP BY a)""".stripMargin

  /** Degree-ordered orientation, wedge build, closure probe, 3-corner
    * credit — the same exact-integer steps as the engine. */
  private val trianglesOracle: String =
    s"""WITH $triangleBaseSql,
       |ord_e AS MATERIALIZED (
       |  SELECT u.a AS src, u.b AS dst, dd.deg AS ddst
       |  FROM und u JOIN deg ds ON u.a = ds.node JOIN deg dd ON u.b = dd.node
       |  WHERE (ds.deg < dd.deg) OR (ds.deg = dd.deg AND u.a < u.b)),
       |tris AS MATERIALIZED (
       |  SELECT w.u, w.v, w.w FROM (
       |    SELECT o1.src AS u, o1.dst AS v, o2.dst AS w
       |    FROM ord_e o1 JOIN ord_e o2 ON o1.src = o2.src
       |    WHERE (o1.ddst < o2.ddst) OR (o1.ddst = o2.ddst AND o1.dst < o2.dst)) w
       |  JOIN ord_e e ON w.v = e.src AND w.w = e.dst),
       |tc AS (SELECT node, count(*)::BIGINT AS tri_count FROM (
       |  SELECT u AS node FROM tris UNION ALL SELECT v FROM tris
       |  UNION ALL SELECT w FROM tris) GROUP BY node)
       |SELECT d.node, d.deg AS degree,
       |  coalesce(tc.tri_count, 0)::BIGINT AS tri_count,
       |  (CASE WHEN d.deg >= 2 THEN
       |     (coalesce(tc.tri_count, 0) * 2000000) // (d.deg * (d.deg - 1))
       |   END)::BIGINT AS lcc_ppm
       |FROM deg d LEFT JOIN tc USING (node) ORDER BY d.node""".stripMargin

  /** Wedge aggregation + adjacency anti-join + exact-ppm/scaled scores,
    * cut by the same (ra, cn, v, w) total order. */
  private val linkPredictOracle: String =
    s"""WITH $triangleBaseSql,
       |adj AS MATERIALIZED (
       |  SELECT u.a AS src, u.b AS dst, (1000000 // c.deg)::BIGINT AS ra_term
       |  FROM und u JOIN deg c ON u.a = c.node WHERE c.deg <= 4096),
       |pairs AS MATERIALIZED (
       |  SELECT a1.dst AS v, a2.dst AS w, count(*)::BIGINT AS cn,
       |         sum(a1.ra_term::HUGEINT) AS ra
       |  FROM adj a1 JOIN adj a2 ON a1.src = a2.src
       |  WHERE a1.dst < a2.dst GROUP BY a1.dst, a2.dst),
       |nonadj AS (SELECT p.* FROM pairs p
       |  LEFT JOIN und e ON p.v = e.a AND p.w = e.b WHERE e.a IS NULL)
       |SELECT n.v, n.w, n.cn,
       |  (n.cn * 1000000) // (dv.deg + dw.deg - n.cn) AS jaccard_ppm,
       |  n.ra::BIGINT AS ra_scaled
       |FROM nonadj n JOIN deg dv ON n.v = dv.node JOIN deg dw ON n.w = dw.node
       |ORDER BY ra_scaled DESC, cn DESC, v, w LIMIT 1000""".stripMargin

  /** Exact HUGEINT moment sums over both edge orientations, then the
    * stated double line: two correctly-rounded sqrts, one division,
    * ⌊·10⁶⌋. The numerators are emitted ::BIGINT — the int64 output
    * contract (r14: uncast HUGEINT columns hash-diverge in the driver's
    * canonicalizer); DuckDB's cast raises loudly on overflow, matching
    * the Spark side's [[graft.operators.Guards.loudInt64]]. */
  private val assortativityOracle: String =
    s"""WITH $triangleBaseSql,
       |xy AS (SELECT dx.deg AS x, dy.deg AS y
       |  FROM und u JOIN deg dx ON u.a = dx.node JOIN deg dy ON u.b = dy.node),
       |mom AS (SELECT count(*)::HUGEINT AS m2, sum(x)::HUGEINT AS sx,
       |    sum(x::HUGEINT * x)::HUGEINT AS sxx,
       |    sum(x::HUGEINT * y)::HUGEINT AS sxy FROM xy),
       |nn AS (SELECT count(*)::BIGINT AS n_nodes FROM deg)
       |SELECT nn.n_nodes, (mom.m2 // 2)::BIGINT AS n_edges,
       |  (mom.m2 * mom.sxy - mom.sx * mom.sx)::BIGINT AS cov_num,
       |  (mom.m2 * mom.sxx - mom.sx * mom.sx)::BIGINT AS var_num,
       |  (CASE WHEN (mom.m2 * mom.sxx - mom.sx * mom.sx) > 0 THEN
       |     floor((mom.m2 * mom.sxy - mom.sx * mom.sx)::DOUBLE /
       |       (sqrt((mom.m2 * mom.sxx - mom.sx * mom.sx)::DOUBLE) *
       |        sqrt((mom.m2 * mom.sxx - mom.sx * mom.sx)::DOUBLE)) * 1000000)
       |   END)::BIGINT AS assort_fpm
       |FROM mom, nn""".stripMargin

  /** One unrolled BFS round: the frontier's unseen out-neighbors join
    * the settled set at distance i. */
  private def bfsStepSql(i: Int): String =
    s"""n$i AS MATERIALIZED (SELECT DISTINCT e.dst AS node
       |  FROM e JOIN f${i - 1} f ON e.src = f.node
       |  WHERE e.dst NOT IN (SELECT node FROM r${i - 1})),
       |r$i AS MATERIALIZED (SELECT node, d FROM r${i - 1}
       |  UNION ALL SELECT node, $i::BIGINT FROM n$i),
       |f$i AS MATERIALIZED (SELECT node FROM n$i)""".stripMargin

  /** 16 unrolled rounds (sf0.1 needs ~7; min-hop distances are a unique
    * fixed point, so over-unrolling is safe — the kcore property). */
  private val seedDistanceOracle: String =
    s"""WITH e AS MATERIALIZED (SELECT DISTINCT src, dst FROM (
       |  SELECT doc_id // 2 AS src, doc_id AS dst FROM documents WHERE doc_id >= 2
       |  UNION ALL
       |  SELECT doc_id // 4, doc_id FROM documents WHERE doc_id >= 4
       |  UNION ALL
       |  SELECT 1000000000 + (doc_id % 8), 1000000000 + ((doc_id + 1) % 8)
       |  FROM documents) t
       |  WHERE src <> dst),
       |nodes AS MATERIALIZED (SELECT src AS node FROM e UNION SELECT dst FROM e),
       |r0 AS MATERIALIZED (SELECT node, 0::BIGINT AS d FROM nodes WHERE node IN (0, 1)),
       |f0 AS MATERIALIZED (SELECT node FROM r0),
       |${(1 to 16).map(bfsStepSql).mkString(",\n")}
       |SELECT n.node, r.d AS dist, r.d IS NOT NULL AS reached
       |FROM nodes n LEFT JOIN r16 r USING (node) ORDER BY n.node""".stripMargin

  private val reciprocityOracle: String =
    """WITH raw AS (
      |  SELECT doc_id AS src, doc_id // 2 AS dst FROM documents WHERE doc_id >= 2
      |  UNION ALL
      |  SELECT doc_id, doc_id // 4 FROM documents WHERE doc_id >= 4
      |  UNION ALL
      |  SELECT doc_id // 2, doc_id FROM documents
      |  WHERE doc_id >= 2 AND doc_id % 5 = 0),
      |simple AS MATERIALIZED (SELECT DISTINCT src, dst FROM raw WHERE src <> dst),
      |r AS (SELECT count(*)::BIGINT AS n_reciprocal FROM simple a
      |      WHERE EXISTS (SELECT 1 FROM simple b
      |                    WHERE b.src = a.dst AND b.dst = a.src)),
      |n AS (SELECT count(*)::BIGINT AS n_edges FROM simple)
      |SELECT n.n_edges, r.n_reciprocal,
      |  (r.n_reciprocal * 1000000) // n.n_edges AS recip_ppm
      |FROM n, r""".stripMargin

  /** One unrolled personalized step: contributions exactly as gr1's
    * stepSql; the teleport term ((100−d)·scale and the dangling total)
    * lands ONLY on seed rows, divided by |S| = 2. */
  private def pprStepSql(i: Int): String = {
    val p = s"pr${i - 1}"
    s"""pr$i AS (
       |  SELECT d.node, d.outdeg, d.in_seed,
       |    ((CASE WHEN d.in_seed
       |        THEN (((${100 - DampPct} * $Scale) // 100) // 2) ELSE 0 END)
       |     + ($DampPct * (coalesce(c.s, 0)
       |        + CASE WHEN d.in_seed THEN
       |            (SELECT coalesce(sum(CASE WHEN outdeg = 0 THEN rank END), 0)
       |             FROM $p) // 2 ELSE 0 END)) // 100)::BIGINT AS rank
       |  FROM $p d
       |  LEFT JOIN (SELECT e.dst, sum(r.rank // r.outdeg)::BIGINT AS s
       |             FROM e JOIN $p r ON e.src = r.node WHERE r.outdeg > 0
       |             GROUP BY e.dst) c
       |  ON d.node = c.dst)""".stripMargin
  }

  private val pprOracle: String =
    s"""WITH e AS MATERIALIZED (SELECT DISTINCT src, dst FROM (
       |  SELECT doc_id // 2 AS src, doc_id AS dst FROM documents WHERE doc_id >= 2
       |  UNION ALL
       |  SELECT doc_id // 4, doc_id FROM documents WHERE doc_id >= 4
       |  UNION ALL
       |  SELECT 1000000000 + (doc_id % 8), 1000000000 + ((doc_id + 1) % 8)
       |  FROM documents) t
       |  WHERE src <> dst),
       |seeds AS (SELECT unnest([1, 2000000001]) AS node),
       |nodes AS (SELECT src AS node FROM e UNION SELECT dst FROM e
       |  UNION SELECT node FROM seeds),
       |deg AS (SELECT n.node, coalesce(d.c, 0)::BIGINT AS outdeg,
       |    n.node IN (SELECT node FROM seeds) AS in_seed
       |  FROM nodes n
       |  LEFT JOIN (SELECT src, count(*)::BIGINT AS c FROM e GROUP BY src) d
       |  ON n.node = d.src),
       |pr0 AS (SELECT node, outdeg, in_seed,
       |  (CASE WHEN in_seed THEN $Scale // 2 ELSE 0 END)::BIGINT AS rank
       |  FROM deg),
       |${(1 to Iters).map(pprStepSql).mkString(",\n")}
       |SELECT node, outdeg, in_seed, rank FROM pr$Iters
       |ORDER BY rank DESC, node""".stripMargin

  def oracles: Map[String, String] = Map(
    "gr11_ppr" -> pprOracle,
    "gr5_kcore" -> kcoreOracle,
    "gr9_seed_distance" -> seedDistanceOracle,
    "gr10_reciprocity" -> reciprocityOracle,
    "gr6_triangles" -> trianglesOracle,
    "gr7_link_predict" -> linkPredictOracle,
    "gr8_assortativity" -> assortativityOracle,
    "gr1_pagerank" -> pagerankOracle(edgeSql),
    "gr2_pagerank_dense" -> pagerankOracle(denseEdgeSql),
    "gr3_hits" -> hitsOracle(edgeSql),
    "gr4_lpa" -> lpaOracle(edgeSql)
  )
}
