package graft.operators

import graft.{GraftQuery, Tables}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Iterative graph analytics over the order graph (SURVEY.md §2.11 stretch
  * set) — the second fixpoint-style operator family next to
  * q_dedup_components' connected components.
  *
  * The graph: customers and suppliers are nodes (key spaces disambiguated by
  * even/odd encoding — 2·custkey vs 2·suppkey+1), with an undirected edge
  * wherever a customer's order contains a supplier's line item. PageRank
  * runs in FIXED-POINT INTEGER arithmetic: ranks are scaled to 1e9, each
  * edge ships pr div degree (integer division), the damping step is
  * 0.15·1e9 + (85·inflow) div 100 — every operation is exact BIGINT math,
  * so the result is bit-identical on any engine, any partitioning, any
  * accumulation order. That determinism is the operational requirement for
  * reproducible rankings at 100 TB (a float PageRank's low bits depend on
  * reduction order); the rounding the fixed point introduces per iteration
  * is ~1e-9 relative — far below any ranking-relevant difference.
  *
  * Scale shape: the edge list is the ingested graph — a write-once parquet
  * edge table, served from a compressed columnar cache of its read-back
  * ([[orderGraph]]). Each iteration is one broadcast of the
  * node-sized (pr, deg) relation, a map-side edge join, and ONE dst-keyed
  * exchange of slim (dst, contrib) rows with map-side partial sums. At node
  * counts beyond broadcast range the per-iteration join becomes a src-keyed
  * shuffle join — the edge relation still moves at most once per iteration.
  */
object Graph {
  import Tables.table

  /** (edges, degrees), built once per (session, sf-dir): the graph ingest
    * (a fact-fact join + distinct + symmetrization) is the offline artifact
    * every graph query starts from. Oracle twins re-derive it inline, so the
    * gate pins the ingest math too.
    *
    * `edges (src, dst, sd)` carries the SOURCE degree (sd): per-iteration
    * contributions then need only the node-sized (node, pr) broadcast — no
    * degree re-join inside the loop. `sd` is a src-partitioned window count,
    * so the orders⋈lineitem join and its distinct run once, in the one job
    * that writes `edges`; `deg (node, d)` is then counted from the stored
    * edge table, never from the join. Both are [[Tables.parquetArtifact]]s:
    * parquet under [[graft.Scratch]], served from a MEMORY_AND_DISK
    * columnar cache — every superstep of the iterative queries reads
    * cached column batches instead of decoding parquet again. */
  private val graphMemo =
    graft.Tables.registerSessionScoped(new java.util.concurrent.ConcurrentHashMap[(Long, String), (DataFrame, DataFrame)]())

  private[graft] def orderGraph(s: SparkSession, dir: String): (DataFrame, DataFrame) =
    graphMemo.computeIfAbsent((Tables.sessionId(s), dir), _ => {
      val base = table(s, dir, "orders")
        .join(table(s, dir, "lineitem"), col("o_orderkey") === col("l_orderkey"))
        .select((col("o_custkey") * 2).as("c"), (col("l_suppkey") * 2 + 1).as("s"))
        .distinct()
      val sym = base.select(col("c").as("src"), col("s").as("dst"))
        .unionAll(base.select(col("s").as("src"), col("c").as("dst")))
      val edges = Tables.parquetArtifact(s,
        sym.select(col("src"), col("dst"), count(lit(1))
          .over(org.apache.spark.sql.expressions.Window.partitionBy("src")).as("sd")),
        "graft_graph_edges")
      val deg = Tables.parquetArtifact(s,
        edges.groupBy("src").agg(count(lit(1)).as("d")).withColumnRenamed("src", "node"),
        "graft_graph_deg")
      (edges, deg)
    })

  /** Oriented top-8 co-purchase affinity graph, materialized once per
    * (session, sf-dir). The bipartite order graph has no triangles by
    * construction, so the triangle query mines the supplier PROJECTION:
    * suppliers are adjacent when one keeps the other among its 8 strongest
    * co-purchase partners (co-order count, ties by partner id). The top-k
    * cap is the scale device — the projection of a 100 TB order corpus is
    * near-complete (already complete at sf0.01), but the kNN graph is
    * degree-bounded at ingest, so every downstream stage is O(k·nodes)
    * regardless of corpus size. Edges are stored degree-ORIENTED (src = the
    * endpoint with the smaller (degree, id) rank): out-degrees are then
    * O(sqrt(edges))-bounded, which is what keeps the wedge self-join from
    * exploding on hub nodes — the standard triangle-count discipline.
    */
  private val affinityMemo =
    graft.Tables.registerSessionScoped(new java.util.concurrent.ConcurrentHashMap[(Long, String), DataFrame]())

  private[graft] def affinityGraph(s: SparkSession, dir: String): DataFrame =
    affinityMemo.computeIfAbsent((Tables.sessionId(s), dir), _ => {
      // distinct (order, supplier) first: collapses duplicate lineitems
      // BEFORE the self-join, so the pair stage sees per-order supplier
      // sets (bounded by order size), never raw lineitem multiplicity
      val base = table(s, dir, "lineitem")
        .select(col("l_orderkey").as("ok"), col("l_suppkey").as("sk"))
        .distinct()
      val pairs = base
        .join(base.select(col("ok"), col("sk").as("sk2")), "ok")
        .filter(col("sk") =!= col("sk2"))
        .groupBy(col("sk").as("u"), col("sk2").as("v"))
        .agg(count(lit(1)).as("w"))
      val wTop = org.apache.spark.sql.expressions.Window
        .partitionBy("u").orderBy(col("w").desc, col("v"))
      val e = pairs
        .withColumn("rn", row_number().over(wTop))
        .filter(col("rn") <= 8)
        .select(least(col("u"), col("v")).as("u"), greatest(col("u"), col("v")).as("v"))
        .distinct()
      val deg = e.select(col("u").as("node")).unionAll(e.select(col("v").as("node")))
        .groupBy("node").agg(count(lit(1)).as("d"))
      // total order for orientation: (degree, id) packed into one BIGINT
      // (id domain < 1e6 on the fixtures; widen the multiplier with the key
      // domain in production)
      val rk = deg.select(col("node"), (col("d") * 1000000L + col("node")).as("r"))
      e.join(broadcast(rk.select(col("node").as("u"), col("r").as("ru"))), "u")
        .join(broadcast(rk.select(col("node").as("v"), col("r").as("rv"))), "v")
        .select(
          when(col("ru") < col("rv"), col("u")).otherwise(col("v")).as("src"),
          when(col("ru") < col("rv"), col("v")).otherwise(col("u")).as("dst"),
          when(col("ru") < col("rv"), col("rv")).otherwise(col("ru")).as("rdst"))
        .localCheckpoint(true)
    })

  /** One synchronous min-label propagation round: every node adopts the
    * minimum label among itself and its neighbors. Per round the edge
    * artifact NEVER shuffles (labels are the node-sized broadcast side) and
    * exactly one exchange moves slim (node, lbl) rows into the min-agg —
    * pinned in GraphSpec. */
  private[graft] def lpRound(edges: DataFrame, l: DataFrame): DataFrame =
    edges
      .join(broadcast(l.withColumnRenamed("node", "jn")), col("src") === col("jn"))
      .select(col("dst").as("node"), col("lbl"))
      .unionAll(l.select(col("node"), col("lbl")))
      .groupBy("node").agg(min(col("lbl")).as("lbl"))


  /** Oriented-wedge triangle enumeration over the kNN affinity artifact,
    * reduced to per-node participation counts — THE one copy of the
    * orientation/tie-breaking logic (q_graph_triangles and
    * q_graph_clustercoef previously carried it verbatim each; a one-sided
    * fix would have made their triangle counts disagree — r13 review).
    * Both joins broadcast here (edge list is O(8·nodes)) and become
    * src-keyed shuffle joins beyond broadcast range. */
  private def trianglesPerNode(oe: org.apache.spark.sql.DataFrame)
      : org.apache.spark.sql.DataFrame = {
    val wedges = oe.as("x")
      .join(broadcast(oe.as("y")),
        col("x.src") === col("y.src") && col("x.rdst") < col("y.rdst"))
      .select(col("x.src").as("a"), col("x.dst").as("b"), col("y.dst").as("c"))
    val tri = wedges
      .join(broadcast(oe.as("z")),
        col("b") === col("z.src") && col("c") === col("z.dst"))
      .select(col("a"), col("b"), col("c"))
    tri.select(col("a").as("node"))
      .unionAll(tri.select(col("b").as("node")))
      .unionAll(tri.select(col("c").as("node")))
      .groupBy("node").agg(count(lit(1)).as("t"))
  }

  val all: Seq[GraftQuery] = Seq(
    GraftQuery(
      "q_graph_pagerank",
      "Deterministic fixed-point PageRank (3 unrolled iterations, damping 0.85, " +
        "ranks scaled to 1e9, ALL integer arithmetic) over the undirected " +
        "customer–supplier order graph; top-20 suppliers by rank. Integer " +
        "division per edge + associative BIGINT sums make the result " +
        "bit-identical across engines and partitionings.",
      (s, dir) => {
        val (edges, deg) = orderGraph(s, dir)
        def step(p: DataFrame): DataFrame =
          edges
            .join(broadcast(p.withColumnRenamed("node", "jn")), col("src") === col("jn"))
            .select(col("dst"), expr("pr div sd").as("contrib"))
            .groupBy("dst").agg(sum(col("contrib")).as("inflow"))
            .select(col("dst").as("node"),
              (lit(150000000L) + expr("(85 * inflow) div 100")).as("pr"))
        // iteration 1 constant-folded: pr0 is UNIFORM (1e9 per node) and
        // every edge src is in deg by construction, so the first
        // join-with-broadcast is algebraically a map over the edge artifact
        // (contrib = 1e9 div sd) — one fewer broadcast build + join barrier;
        // iterations 2/3 are the general step. Same BIGINT math, same hash.
        val p1 = edges
          .select(col("dst"), expr("1000000000 div sd").as("contrib"))
          .groupBy("dst").agg(sum(col("contrib")).as("inflow"))
          .select(col("dst").as("node"),
            (lit(150000000L) + expr("(85 * inflow) div 100")).as("pr"))
        val p3 = step(step(p1))
        p3.filter(pmod(col("node"), lit(2L)) === 1)
          .select(expr("(node - 1) div 2").as("supp_key"), col("pr"))
          .orderBy(col("pr").desc, col("supp_key"))
          .limit(20)
      },
      Some(
        """WITH base AS (
          |  SELECT DISTINCT o_custkey * 2 AS c, l_suppkey * 2 + 1 AS s
          |  FROM orders JOIN lineitem ON o_orderkey = l_orderkey),
          |edges AS (SELECT c AS src, s AS dst FROM base UNION ALL SELECT s, c FROM base),
          |deg AS (SELECT src AS node, count(*) AS d FROM edges GROUP BY src),
          |pr0 AS (SELECT node, CAST(1000000000 AS BIGINT) AS pr FROM deg),
          |it1 AS (SELECT e.dst AS node,
          |    CAST(150000000 + (85 * CAST(sum(p.pr // d.d) AS BIGINT)) // 100 AS BIGINT) AS pr
          |  FROM edges e JOIN pr0 p ON e.src = p.node JOIN deg d ON e.src = d.node
          |  GROUP BY e.dst),
          |it2 AS (SELECT e.dst AS node,
          |    CAST(150000000 + (85 * CAST(sum(p.pr // d.d) AS BIGINT)) // 100 AS BIGINT) AS pr
          |  FROM edges e JOIN it1 p ON e.src = p.node JOIN deg d ON e.src = d.node
          |  GROUP BY e.dst),
          |it3 AS (SELECT e.dst AS node,
          |    CAST(150000000 + (85 * CAST(sum(p.pr // d.d) AS BIGINT)) // 100 AS BIGINT) AS pr
          |  FROM edges e JOIN it2 p ON e.src = p.node JOIN deg d ON e.src = d.node
          |  GROUP BY e.dst)
          |SELECT (node - 1) // 2 AS supp_key, pr FROM it3 WHERE node % 2 = 1
          |ORDER BY pr DESC, supp_key LIMIT 20""".stripMargin)),

    GraftQuery(
      "q_graph_label_prop",
      "Synchronous min-label propagation (3 unrolled rounds) over the " +
        "customer–supplier order graph: every node starts labeled with its own " +
        "id and adopts min(self, neighbors) each round — after round r a " +
        "node's label is the minimum id within r hops. The result pins EACH " +
        "round's full label state through three exact integer fingerprints " +
        "(distinct labels, label mass = sum, max label): a single wrong label " +
        "anywhere in any round breaks the hash. All-BIGINT like pagerank, so " +
        "bit-identical on any engine and partitioning. Scale shape: labels are " +
        "the node-sized broadcast side, the edge artifact never moves, one " +
        "slim (node, lbl) exchange per round into the min hash-agg; each round " +
        "is localCheckpoint'd (Pregel discipline, like q_dedup_components) so " +
        "the per-round stats never replay earlier rounds.",
      (s, dir) => {
        val (edges, deg) = orderGraph(s, dir)
        val l0 = deg.select(col("node"), col("node").as("lbl"))
        val l1 = lpRound(edges, l0).localCheckpoint(true)
        val l2 = lpRound(edges, l1).localCheckpoint(true)
        val l3 = lpRound(edges, l2).localCheckpoint(true)
        def stats(i: Int, l: DataFrame): DataFrame =
          l.agg(
            countDistinct(col("lbl")).as("n_labels"),
            sum(col("lbl")).as("label_mass"),
            max(col("lbl")).as("max_lbl"))
            .select(lit(i).as("rnd"), col("n_labels"), col("label_mass"), col("max_lbl"))
        stats(1, l1).unionAll(stats(2, l2)).unionAll(stats(3, l3)).orderBy("rnd")
      },
      Some(
        """WITH base AS (
          |  SELECT DISTINCT o_custkey * 2 AS c, l_suppkey * 2 + 1 AS s
          |  FROM orders JOIN lineitem ON o_orderkey = l_orderkey),
          |edges AS (SELECT c AS src, s AS dst FROM base UNION ALL SELECT s, c FROM base),
          |l0 AS (SELECT DISTINCT src AS node, src AS lbl FROM edges),
          |r1 AS (SELECT x.node, min(x.lbl) AS lbl FROM (
          |    SELECT e.dst AS node, p.lbl FROM edges e JOIN l0 p ON e.src = p.node
          |    UNION ALL SELECT node, lbl FROM l0) x GROUP BY x.node),
          |r2 AS (SELECT x.node, min(x.lbl) AS lbl FROM (
          |    SELECT e.dst AS node, p.lbl FROM edges e JOIN r1 p ON e.src = p.node
          |    UNION ALL SELECT node, lbl FROM r1) x GROUP BY x.node),
          |r3 AS (SELECT x.node, min(x.lbl) AS lbl FROM (
          |    SELECT e.dst AS node, p.lbl FROM edges e JOIN r2 p ON e.src = p.node
          |    UNION ALL SELECT node, lbl FROM r2) x GROUP BY x.node)
          |SELECT 1 AS rnd, count(DISTINCT lbl) AS n_labels,
          |  CAST(sum(lbl) AS BIGINT) AS label_mass, max(lbl) AS max_lbl FROM r1
          |UNION ALL
          |SELECT 2, count(DISTINCT lbl), CAST(sum(lbl) AS BIGINT), max(lbl) FROM r2
          |UNION ALL
          |SELECT 3, count(DISTINCT lbl), CAST(sum(lbl) AS BIGINT), max(lbl) FROM r3
          |ORDER BY rnd""".stripMargin)),

    GraftQuery(
      "q_graph_triangles",
      "Triangle count over the top-8 co-purchase affinity graph (suppliers " +
        "adjacent when one ranks the other among its 8 strongest co-order " +
        "partners): per-supplier triangle participation, top-20. Degree " +
        "orientation (each edge stored low-rank → high-rank by (deg, id)) " +
        "bounds out-degrees, so the wedge self-join is O(Σ outdeg²) — the " +
        "node-iterator discipline that survives hub skew at scale. All " +
        "counts are exact BIGINTs; the top-k graph ingest is deterministic " +
        "(ties broken by partner id), so the triangle set is engine- and " +
        "partitioning-exact. Scale shape: the oriented edge artifact is " +
        "write-once (kNN-capped at ingest); the wedge join and the closing " +
        "edge join are broadcasts here (edge list is O(8·nodes)) and become " +
        "src-keyed shuffle joins beyond broadcast range.",
      (s, dir) => {
        val oe = affinityGraph(s, dir)
        trianglesPerNode(oe)
          .select(col("node").as("supp_key"), col("t").as("tri_cnt"))
          .orderBy(col("tri_cnt").desc, col("supp_key"))
          .limit(20)
      },
      Some(
        """WITH dpairs AS MATERIALIZED (
          |  SELECT a.l_suppkey AS u, b.l_suppkey AS v, count(DISTINCT a.l_orderkey) AS w
          |  FROM lineitem a JOIN lineitem b
          |    ON a.l_orderkey = b.l_orderkey AND a.l_suppkey <> b.l_suppkey
          |  GROUP BY 1, 2),
          |knn AS (
          |  SELECT u, v FROM (
          |    SELECT u, v, row_number() OVER (PARTITION BY u ORDER BY w DESC, v) AS rn
          |    FROM dpairs) WHERE rn <= 8),
          |e AS MATERIALIZED (
          |  SELECT DISTINCT least(u, v) AS u, greatest(u, v) AS v FROM knn),
          |deg AS (SELECT node, count(*) AS d FROM (
          |  SELECT u AS node FROM e UNION ALL SELECT v FROM e) GROUP BY 1),
          |rk AS (SELECT node, d * 1000000 + node AS r FROM deg),
          |oe AS MATERIALIZED (
          |  SELECT CASE WHEN ru.r < rv.r THEN e.u ELSE e.v END AS src,
          |         CASE WHEN ru.r < rv.r THEN e.v ELSE e.u END AS dst,
          |         CASE WHEN ru.r < rv.r THEN rv.r ELSE ru.r END AS rdst
          |  FROM e JOIN rk ru ON e.u = ru.node JOIN rk rv ON e.v = rv.node),
          |tri AS (
          |  SELECT x.src AS a, x.dst AS b, y.dst AS c
          |  FROM oe x JOIN oe y ON x.src = y.src AND x.rdst < y.rdst
          |  JOIN oe z ON z.src = x.dst AND z.dst = y.dst)
          |SELECT node AS supp_key, count(*) AS tri_cnt FROM (
          |  SELECT a AS node FROM tri UNION ALL SELECT b FROM tri UNION ALL SELECT c FROM tri)
          |GROUP BY 1 ORDER BY tri_cnt DESC, supp_key LIMIT 20""".stripMargin)),

    GraftQuery(
      "q_graph_degree_hist",
      "Degree distribution of the order graph in width-10 buckets: node " +
        "count, exact degree mass, and min/max degree per bucket — the " +
        "first diagnostic run on any ingested graph (skew detection BEFORE " +
        "choosing join strategies). All-BIGINT; reads the write-once degree " +
        "relation, so the query itself is one tiny hash agg.",
      (s, dir) => {
        val (_, deg) = orderGraph(s, dir)
        deg.groupBy(expr("d div 10").as("bucket"))
          .agg(
            count(lit(1)).as("n_nodes"),
            sum(col("d")).as("deg_mass"),
            min(col("d")).as("min_d"),
            max(col("d")).as("max_d"))
          .orderBy("bucket")
      },
      Some(
        """WITH base AS (
          |  SELECT DISTINCT o_custkey * 2 AS c, l_suppkey * 2 + 1 AS s
          |  FROM orders JOIN lineitem ON o_orderkey = l_orderkey),
          |edges AS (SELECT c AS src, s AS dst FROM base UNION ALL SELECT s, c FROM base),
          |deg AS (SELECT src AS node, count(*) AS d FROM edges GROUP BY src)
          |SELECT d // 10 AS bucket, count(*) AS n_nodes,
          |  CAST(sum(d) AS BIGINT) AS deg_mass, min(d) AS min_d, max(d) AS max_d
          |FROM deg GROUP BY 1 ORDER BY 1""".stripMargin)),

    GraftQuery(
      "q_graph_bfs",
      "Breadth-first shortest-path hops from a deterministic seed (the " +
        "minimum node id) over the order graph, 4 supersteps: the " +
        "frontier-expansion fixpoint — per round, join the frontier to the " +
        "edge artifact, anti-join the visited set, localCheckpoint both " +
        "(the per-round materialization discipline that keeps iterative " +
        "lineage linear, not exponential). Distance histogram as the " +
        "gate. The oracle is DuckDB's native WITH RECURSIVE — a genuinely " +
        "different execution model (semi-naive recursive CTE) computing " +
        "the same fixpoint, so the gate proves the superstep rewrite. " +
        "Scale shape: each round moves the edge relation at most once; " +
        "the frontier/visited relations are node-sized (broadcast-ranged " +
        "here; at larger node counts the join flips to a src-keyed " +
        "shuffle and the anti-join to a co-partitioned merge — same " +
        "dataflow, Catalyst picks per AQE stats).",
      (s, dir) => {
        val (edges, _) = orderGraph(s, dir)
        val seed = edges.agg(min(col("src"))).head.getLong(0)
        var visited = s.range(1)
          .select(lit(seed).as("node"), lit(0).as("d"))
          .localCheckpoint(true)
        var frontier = visited
        for (i <- 1 to 4) {
          val next = edges
            .join(broadcast(frontier), col("src") === col("node"))
            .select(col("dst").as("node")).distinct()
            .join(visited, Seq("node"), "left_anti")
            .select(col("node"), lit(i).as("d"))
            .localCheckpoint(true)
          visited = visited.unionByName(next).localCheckpoint(true)
          frontier = next
        }
        visited.groupBy("d").agg(count(lit(1)).as("n_nodes")).orderBy("d")
      },
      Some(
        """WITH RECURSIVE base AS (
          |  SELECT DISTINCT o_custkey*2 AS c, l_suppkey*2+1 AS s
          |  FROM orders JOIN lineitem ON o_orderkey = l_orderkey),
          |edges AS (SELECT c AS src, s AS dst FROM base UNION ALL SELECT s, c FROM base),
          |bfs(node, d) AS (
          |  SELECT (SELECT min(src) FROM edges), 0
          |  UNION
          |  SELECT e.dst, b.d + 1 FROM bfs b JOIN edges e ON e.src = b.node WHERE b.d < 4)
          |SELECT CAST(min_d AS INT) AS d, count(*) AS n_nodes
          |FROM (SELECT node, min(d) AS min_d FROM bfs GROUP BY node)
          |GROUP BY 1 ORDER BY 1""".stripMargin)),

    GraftQuery(
      "q_graph_jaccard",
      "Neighborhood Jaccard similarity of the affinity graph's edges — the " +
        "link-scoring primitive (recommendation strength, near-duplicate " +
        "supplier detection) over the same write-once top-8 co-purchase " +
        "artifact as q_graph_triangles. For every stored edge (u,v): " +
        "common = |N(u) ∩ N(v)| via the wedge join on the symmetrized " +
        "adjacency (degree-bounded by the kNN cap, so Σdeg² stays " +
        "O(k²·nodes) — no hub blowup), restricted to edge pairs by one " +
        "join back to the oriented edge list; degrees from the adjacency " +
        "relation; jaccard = common/(du+dv−common), a single IEEE " +
        "division of exact BIGINTs. Top-20 by (jaccard, u, v) — fully " +
        "tie-broken. Adjacency/degree sides broadcast here (O(k·nodes)) " +
        "and become src-keyed shuffle joins beyond broadcast range.",
      (s, dir) => {
        val oe = affinityGraph(s, dir).select(col("src"), col("dst"))
        val adj = oe.unionAll(oe.select(col("dst").as("src"), col("src").as("dst")))
        val deg = adj.groupBy(col("src").as("node")).agg(count(lit(1)).as("d"))
        val common = oe.as("e")
          .join(broadcast(adj.as("a")), col("e.src") === col("a.src"))
          .join(broadcast(adj.as("b")),
            col("e.dst") === col("b.src") && col("a.dst") === col("b.dst"))
          .groupBy(col("e.src").as("u"), col("e.dst").as("v"))
          .agg(count(lit(1)).as("common"))
        common
          .join(broadcast(deg.select(col("node").as("u"), col("d").as("du"))), "u")
          .join(broadcast(deg.select(col("node").as("v"), col("d").as("dv"))), "v")
          .select(col("u"), col("v"), col("common"), col("du"), col("dv"),
            round(col("common").cast("double") /
              (col("du") + col("dv") - col("common")).cast("double"), 6).as("jaccard"))
          .orderBy(col("jaccard").desc, col("u"), col("v"))
          .limit(20)
      },
      Some(
        """WITH dpairs AS MATERIALIZED (
          |  SELECT a.l_suppkey AS u, b.l_suppkey AS v, count(DISTINCT a.l_orderkey) AS w
          |  FROM lineitem a JOIN lineitem b
          |    ON a.l_orderkey = b.l_orderkey AND a.l_suppkey <> b.l_suppkey
          |  GROUP BY 1, 2),
          |knn AS (
          |  SELECT u, v FROM (
          |    SELECT u, v, row_number() OVER (PARTITION BY u ORDER BY w DESC, v) AS rn
          |    FROM dpairs) WHERE rn <= 8),
          |e AS MATERIALIZED (
          |  SELECT DISTINCT least(u, v) AS u, greatest(u, v) AS v FROM knn),
          |deg0 AS (SELECT node, count(*) AS d FROM (
          |  SELECT u AS node FROM e UNION ALL SELECT v FROM e) GROUP BY 1),
          |rk AS (SELECT node, d * 1000000 + node AS r FROM deg0),
          |oe AS MATERIALIZED (
          |  SELECT CASE WHEN ru.r < rv.r THEN e.u ELSE e.v END AS src,
          |         CASE WHEN ru.r < rv.r THEN e.v ELSE e.u END AS dst
          |  FROM e JOIN rk ru ON e.u = ru.node JOIN rk rv ON e.v = rv.node),
          |adj AS (SELECT src, dst FROM oe UNION ALL SELECT dst, src FROM oe),
          |deg AS (SELECT src AS node, count(*) AS d FROM adj GROUP BY 1),
          |cm AS (
          |  SELECT e.src AS u, e.dst AS v, count(*) AS common
          |  FROM oe e JOIN adj a ON e.src = a.src
          |            JOIN adj b ON e.dst = b.src AND a.dst = b.dst
          |  GROUP BY 1, 2)
          |SELECT u, v, common, du.d AS du, dv.d AS dv,
          |  round(common / (du.d + dv.d - common), 6) AS jaccard
          |FROM cm JOIN deg du ON cm.u = du.node JOIN deg dv ON cm.v = dv.node
          |ORDER BY jaccard DESC, u, v LIMIT 20""".stripMargin)),

    GraftQuery(
      "q_graph_kcore",
      "3-core peeling, 3 unrolled rounds — the iterative NODE-REMOVAL " +
        "pattern (propagation keeps all nodes and updates state; peeling " +
        "shrinks the graph each round): every round drops nodes with " +
        "residual degree < 3, restricts the edge artifact to surviving " +
        "endpoints, and recomputes degrees — each round's (alive count, " +
        "exact degree mass, max residual degree) fingerprint is pinned, " +
        "so one wrongly-peeled node anywhere breaks the gate. The k-core " +
        "is the standard dense-substructure filter (spam/bot rings, " +
        "community cores) and converges in O(peel depth) rounds. Scale " +
        "shape: the alive set is the node-sized broadcast side of two " +
        "semi joins per round; the edge artifact is filtered, never " +
        "shuffled — degrees come back from one src-keyed agg of slim " +
        "surviving edges. All-BIGINT.",
      (s, dir) => {
        val (edges, _) = orderGraph(s, dir)
        val e0 = edges.select(col("src"), col("dst"))
        def peel(d: DataFrame, e: DataFrame): (DataFrame, DataFrame) = {
          val alive = d.filter(col("d") >= 3).select(col("node"))
          val e2 = e
            .join(broadcast(alive.withColumnRenamed("node", "src")), Seq("src"), "left_semi")
            .join(broadcast(alive.withColumnRenamed("node", "dst")), Seq("dst"), "left_semi")
          val d2 = e2.groupBy(col("src").as("node")).agg(count(lit(1)).as("d"))
            .localCheckpoint(true)
          (d2, e2)
        }
        val d0 = e0.groupBy(col("src").as("node")).agg(count(lit(1)).as("d"))
        val (d1, e1) = peel(d0, e0)
        val (d2, e2) = peel(d1, e1)
        val (d3, _) = peel(d2, e2)
        def stats(i: Int, d: DataFrame): DataFrame =
          d.agg(count(lit(1)).as("n_alive"), sum(col("d")).as("deg_mass"),
            max(col("d")).as("max_d"))
            .select(lit(i).as("rnd"), col("n_alive"), col("deg_mass"), col("max_d"))
        stats(1, d1).unionAll(stats(2, d2)).unionAll(stats(3, d3)).orderBy("rnd")
      },
      Some(
        """WITH base AS (
          |  SELECT DISTINCT o_custkey * 2 AS c, l_suppkey * 2 + 1 AS s
          |  FROM orders JOIN lineitem ON o_orderkey = l_orderkey),
          |edges AS (SELECT c AS src, s AS dst FROM base UNION ALL SELECT s, c FROM base),
          |d0 AS (SELECT src AS node, count(*) AS d FROM edges GROUP BY src),
          |a1 AS (SELECT node FROM d0 WHERE d >= 3),
          |e1 AS (SELECT src, dst FROM edges
          |  WHERE src IN (SELECT node FROM a1) AND dst IN (SELECT node FROM a1)),
          |d1 AS (SELECT src AS node, count(*) AS d FROM e1 GROUP BY src),
          |a2 AS (SELECT node FROM d1 WHERE d >= 3),
          |e2 AS (SELECT src, dst FROM e1
          |  WHERE src IN (SELECT node FROM a2) AND dst IN (SELECT node FROM a2)),
          |d2 AS (SELECT src AS node, count(*) AS d FROM e2 GROUP BY src),
          |a3 AS (SELECT node FROM d2 WHERE d >= 3),
          |e3 AS (SELECT src, dst FROM e2
          |  WHERE src IN (SELECT node FROM a3) AND dst IN (SELECT node FROM a3)),
          |d3 AS (SELECT src AS node, count(*) AS d FROM e3 GROUP BY src)
          |SELECT 1 AS rnd, count(*) AS n_alive, CAST(sum(d) AS BIGINT) AS deg_mass,
          |  max(d) AS max_d FROM d1
          |UNION ALL SELECT 2, count(*), CAST(sum(d) AS BIGINT), max(d) FROM d2
          |UNION ALL SELECT 3, count(*), CAST(sum(d) AS BIGINT), max(d) FROM d3
          |ORDER BY rnd""".stripMargin)),

    GraftQuery(
      "q_graph_assortativity",
      "Degree assortativity of the order graph — does high-degree connect " +
        "to high-degree? (Positive: social-style core; negative: hub-and-" +
        "spoke, which is what a customer–supplier bipartite graph should " +
        "show.) Pearson correlation of (src degree, dst degree) over every " +
        "directed edge, from five exact BIGINT sufficient statistics with " +
        "the closed form in doubles on the same expression tree both " +
        "engines (the q_agg_regression discipline). Degrees join in from " +
        "the write-once degree relation as node-sized broadcasts; one " +
        "aggregation over slim (d_src, d_dst) pairs. BIGINT bound: " +
        "Σ d_src·d_dst ≤ edges·maxdeg² — shard to DECIMAL past ~1e18.",
      (s, dir) => {
        val (edges, deg) = orderGraph(s, dir)
        val e2 = edges.select(col("src"), col("dst"), col("sd").as("dx"))
          .join(broadcast(deg.select(col("node").as("dst"), col("d").as("dy"))), "dst")
        // the shared guarded device (class 22): a REGULAR graph — every
        // degree equal — has zero degree variance, where the hand-rolled
        // num/den tree this replaces gave Spark 0/0 NaN vs oracle NULL
        val r = graft.Exact.pearson(col("n"), col("sx"), col("sy"),
          col("sxy"), col("sxx"), col("syy"))
        e2.agg(
            count(lit(1)).as("n"),
            sum(col("dx")).as("sx"), sum(col("dy")).as("sy"),
            sum(col("dx") * col("dy")).as("sxy"),
            sum(col("dx") * col("dx")).as("sxx"),
            sum(col("dy") * col("dy")).as("syy"))
          .select(col("n"), round(r, 6).as("assortativity"))
      },
      Some(
        s"""WITH base AS (
          |  SELECT DISTINCT o_custkey * 2 AS c, l_suppkey * 2 + 1 AS s
          |  FROM orders JOIN lineitem ON o_orderkey = l_orderkey),
          |edges AS (SELECT c AS src, s AS dst FROM base UNION ALL SELECT s, c FROM base),
          |deg AS (SELECT src AS node, count(*) AS d FROM edges GROUP BY src),
          |p AS (SELECT dx.d AS x, dy.d AS y FROM edges e
          |  JOIN deg dx ON e.src = dx.node JOIN deg dy ON e.dst = dy.node),
          |a AS (SELECT count(*) AS n,
          |    CAST(sum(x) AS BIGINT) AS sx, CAST(sum(y) AS BIGINT) AS sy,
          |    CAST(sum(x * y) AS BIGINT) AS sxy,
          |    CAST(sum(x * x) AS BIGINT) AS sxx, CAST(sum(y * y) AS BIGINT) AS syy
          |  FROM p)
          |SELECT n, round(${graft.Exact.pearsonSql("n", "sx", "sy", "sxy", "sxx", "syy")}, 6)
          |  AS assortativity
          |FROM a""".stripMargin)),

    GraftQuery(
      "q_graph_modularity",
      "Newman modularity of the 3-round min-label communities — the " +
        "quality score that closes the community-detection loop (label_prop " +
        "produces the partition, this grades it): Q = Σ_c [e_c/m − " +
        "(d_c/2m)²] computed as the EXACT BIGINT numerator Σ_c (2m·w_c − " +
        "d_c²) over denominator 4m² (w_c = directed within-community edge " +
        "count = 2e_c, d_c = community degree mass) — one IEEE division at " +
        "the end, so the score is bit-identical under any partitioning and " +
        "accumulation order (the floating Q-sum form is not). Scale shape: " +
        "labels are the node-sized relation; w_c needs the edge artifact " +
        "joined to labels on BOTH endpoints — src-side via the per-" +
        "iteration broadcast discipline, dst-side likewise — then two tiny " +
        "label-keyed aggs. BIGINT bounds: d_c² and 2m·w_c stay under 2^63 " +
        "to ~3e9 edges; shard the numerator sum into HUGEINT/decimal " +
        "beyond that.",
      (s, dir) => {
        val (edges, deg) = orderGraph(s, dir)
        val l0 = deg.select(col("node"), col("node").as("lbl"))
        val l3 = lpRound(edges, lpRound(edges, lpRound(edges, l0)))
          .localCheckpoint(true)
        // d_c (community degree mass) IS the src-labeled directed edge
        // count, so one double-labeled join yields dc and wc together —
        // no separate degree join — and 2m = Σ dc, so no driver-side
        // edge count either; the 1-row total broadcasts back over the
        // tiny community relation for the scaled numerator
        val comm = edges
          .join(broadcast(l3.select(col("node").as("src"), col("lbl").as("lsrc"))), "src")
          .join(broadcast(l3.select(col("node").as("dst"), col("lbl").as("ldst"))), "dst")
          .groupBy(col("lsrc").as("lbl"))
          .agg(count(lit(1)).as("dc"),
            sum(when(col("lsrc") === col("ldst"), 1L).otherwise(0L)).as("wc"))
          .localCheckpoint(true) // community-sized; both consumers read it once
        val tot = comm.agg(sum(col("dc")).as("m2"))
        comm.crossJoin(broadcast(tot))
          .agg(
            count(lit(1)).as("n_comm"),
            max(col("m2")).as("m2x"),
            sum(col("m2") * col("wc") - col("dc") * col("dc")).as("q_num"))
          .select(col("n_comm"), (col("m2x") / lit(2L)).cast("long").as("m"), col("q_num"),
            round(col("q_num").cast("double") /
              (col("m2x").cast("double") * col("m2x").cast("double")), 6).as("q"))
      },
      Some(
        """WITH base AS (
          |  SELECT DISTINCT o_custkey * 2 AS c, l_suppkey * 2 + 1 AS s
          |  FROM orders JOIN lineitem ON o_orderkey = l_orderkey),
          |edges AS (SELECT c AS src, s AS dst FROM base UNION ALL SELECT s, c FROM base),
          |deg AS (SELECT src AS node, count(*) AS d FROM edges GROUP BY src),
          |l0 AS (SELECT node, node AS lbl FROM deg),
          |r1 AS (SELECT x.node, min(x.lbl) AS lbl FROM (
          |    SELECT e.dst AS node, p.lbl FROM edges e JOIN l0 p ON e.src = p.node
          |    UNION ALL SELECT node, lbl FROM l0) x GROUP BY x.node),
          |r2 AS (SELECT x.node, min(x.lbl) AS lbl FROM (
          |    SELECT e.dst AS node, p.lbl FROM edges e JOIN r1 p ON e.src = p.node
          |    UNION ALL SELECT node, lbl FROM r1) x GROUP BY x.node),
          |r3 AS MATERIALIZED (SELECT x.node, min(x.lbl) AS lbl FROM (
          |    SELECT e.dst AS node, p.lbl FROM edges e JOIN r2 p ON e.src = p.node
          |    UNION ALL SELECT node, lbl FROM r2) x GROUP BY x.node),
          |m2 AS (SELECT count(*) AS m2 FROM edges),
          |dc AS (SELECT r3.lbl, CAST(sum(deg.d) AS BIGINT) AS dc
          |  FROM deg JOIN r3 ON deg.node = r3.node GROUP BY r3.lbl),
          |wc AS (SELECT a.lbl, count(*) AS wc
          |  FROM edges e JOIN r3 a ON e.src = a.node JOIN r3 b ON e.dst = b.node
          |  WHERE a.lbl = b.lbl GROUP BY a.lbl),
          |j AS (SELECT dc.lbl, dc.dc, coalesce(wc.wc, 0) AS wc
          |  FROM dc LEFT JOIN wc ON dc.lbl = wc.lbl)
          |SELECT count(*) AS n_comm, CAST(max(m2.m2) / 2 AS BIGINT) AS m,
          |  CAST(sum(m2.m2 * j.wc - j.dc * j.dc) AS BIGINT) AS q_num,
          |  round(CAST(sum(m2.m2 * j.wc - j.dc * j.dc) AS DOUBLE)
          |    / (CAST(max(m2.m2) AS DOUBLE) * max(m2.m2)), 6) AS q
          |FROM j, m2""".stripMargin)),

    GraftQuery(
      "q_graph_2hop",
      "Friend-of-friend recommendation census over the affinity graph: " +
        "for each supplier, how many DISTINCT suppliers sit exactly two " +
        "hops away (reachable through a common partner, not directly " +
        "adjacent) — the candidate-generation count behind link " +
        "prediction, on the same write-once top-8 co-purchase artifact " +
        "as triangles/jaccard. The wedge join composes the symmetrized " +
        "adjacency with itself (degree-bounded by the kNN ingest cap, " +
        "so the fan-out is O(k²·nodes) — no hub blowup by construction), " +
        "dedups to candidate pairs, and one LEFT ANTI join against the " +
        "adjacency removes direct edges. All-BIGINT, top-10 fully " +
        "tie-broken. The adjacency broadcasts here (O(k·nodes)); beyond " +
        "broadcast range both joins become src-keyed shuffles that move " +
        "only slim id pairs.",
      (s, dir) => {
        val oe = affinityGraph(s, dir).select(col("src"), col("dst"))
        val adj = oe.unionAll(oe.select(col("dst").as("src"), col("src").as("dst")))
        val two = adj.as("a")
          .join(broadcast(adj.as("b")), col("a.dst") === col("b.src"))
          .filter(col("a.src") =!= col("b.dst"))
          .select(col("a.src").as("u"), col("b.dst").as("v"))
          .distinct()
        two
          .join(adj.select(col("src").as("u"), col("dst").as("v")),
            Seq("u", "v"), "left_anti")
          .groupBy(col("u").as("node"))
          .agg(count(lit(1)).as("n_fof"))
          .orderBy(col("n_fof").desc, col("node"))
          .limit(10)
      },
      Some(
        """WITH dpairs AS MATERIALIZED (
          |  SELECT a.l_suppkey AS u, b.l_suppkey AS v, count(DISTINCT a.l_orderkey) AS w
          |  FROM lineitem a JOIN lineitem b
          |    ON a.l_orderkey = b.l_orderkey AND a.l_suppkey <> b.l_suppkey
          |  GROUP BY 1, 2),
          |knn AS (
          |  SELECT u, v FROM (
          |    SELECT u, v, row_number() OVER (PARTITION BY u ORDER BY w DESC, v) AS rn
          |    FROM dpairs) WHERE rn <= 8),
          |e AS MATERIALIZED (
          |  SELECT DISTINCT least(u, v) AS u, greatest(u, v) AS v FROM knn),
          |adj AS MATERIALIZED (
          |  SELECT u AS src, v AS dst FROM e UNION ALL SELECT v, u FROM e),
          |two AS (
          |  SELECT DISTINCT a.src AS u, b.dst AS v
          |  FROM adj a JOIN adj b ON a.dst = b.src WHERE a.src <> b.dst),
          |rec AS (
          |  SELECT u, v FROM two WHERE NOT EXISTS (
          |    SELECT 1 FROM adj WHERE adj.src = two.u AND adj.dst = two.v))
          |SELECT u AS node, count(*) AS n_fof FROM rec
          |GROUP BY 1 ORDER BY n_fof DESC, node LIMIT 10""".stripMargin)),

    GraftQuery(
      "q_graph_closeness",
      "Harmonic closeness centrality of the 4 smallest-id nodes over the " +
        "order graph, radius-4 ball: MULTI-SOURCE BFS (the frontier " +
        "carries a seed column, so all four searches share every " +
        "superstep's single edge pass — 4 rounds total, not 4×4), then " +
        "harmonic = Σ_d n_d/d over the per-distance reach counts — a " +
        "closed IEEE tree of four exact BIGINTs, the disconnected-safe " +
        "centrality (standard closeness degenerates off-component). " +
        "Per-round discipline is q_graph_bfs's: frontier⋈edges, " +
        "anti-join visited, localCheckpoint both. The oracle is DuckDB's " +
        "native WITH RECURSIVE over (seed, node) — a genuinely different " +
        "execution model computing the same fixpoint. Seed pick is a " +
        "4-row driver fetch of the id order statistic (the BFS seed " +
        "discipline, widened), not a data collect.",
      (s, dir) => {
        val (edges, _) = orderGraph(s, dir)
        val seeds = edges.select(col("src")).distinct()
          .orderBy("src").limit(4).collect().map(_.getLong(0))
        var visited = s.createDataFrame(seeds.toSeq.map(Tuple1(_)))
          .toDF("seed")
          .select(col("seed"), col("seed").as("node"), lit(0).as("d"))
          .localCheckpoint(true)
        var frontier = visited
        for (i <- 1 to 4) {
          val next = edges
            .join(broadcast(frontier), col("src") === col("node"))
            .select(col("seed"), col("dst").as("node")).distinct()
            .join(visited, Seq("seed", "node"), "left_anti")
            .select(col("seed"), col("node"), lit(i).as("d"))
            .localCheckpoint(true)
          visited = visited.unionByName(next).localCheckpoint(true)
          frontier = next
        }
        def nAt(k: Int) =
          sum(when(col("d") === k, 1L).otherwise(0L))
        def D(c: org.apache.spark.sql.Column) = c.cast("double")
        visited.groupBy("seed")
          .agg(nAt(1).as("n1"), nAt(2).as("n2"), nAt(3).as("n3"), nAt(4).as("n4"))
          .select(col("seed"), col("n1"), col("n2"), col("n3"), col("n4"),
            round(D(col("n1")) + D(col("n2")) / lit(2d) +
              D(col("n3")) / lit(3d) + D(col("n4")) / lit(4d), 6)
              .as("harmonic"))
          .orderBy("seed")
      },
      Some(
        """WITH RECURSIVE base AS (
          |  SELECT DISTINCT o_custkey*2 AS c, l_suppkey*2+1 AS s
          |  FROM orders JOIN lineitem ON o_orderkey = l_orderkey),
          |edges AS (SELECT c AS src, s AS dst FROM base UNION ALL SELECT s, c FROM base),
          |seeds AS (SELECT DISTINCT src FROM edges ORDER BY src LIMIT 4),
          |bfs(seed, node, d) AS (
          |  SELECT src, src, 0 FROM seeds
          |  UNION
          |  SELECT b.seed, e.dst, b.d + 1
          |  FROM bfs b JOIN edges e ON e.src = b.node WHERE b.d < 4),
          |m AS (SELECT seed, node, min(d) AS d FROM bfs GROUP BY 1, 2),
          |a AS (SELECT seed,
          |    CAST(sum(CASE WHEN d = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n1,
          |    CAST(sum(CASE WHEN d = 2 THEN 1 ELSE 0 END) AS BIGINT) AS n2,
          |    CAST(sum(CASE WHEN d = 3 THEN 1 ELSE 0 END) AS BIGINT) AS n3,
          |    CAST(sum(CASE WHEN d = 4 THEN 1 ELSE 0 END) AS BIGINT) AS n4
          |  FROM m GROUP BY 1)
          |SELECT seed, n1, n2, n3, n4,
          |  round(CAST(n1 AS DOUBLE) + CAST(n2 AS DOUBLE)/2.0
          |    + CAST(n3 AS DOUBLE)/3.0 + CAST(n4 AS DOUBLE)/4.0, 6) AS harmonic
          |FROM a ORDER BY seed""".stripMargin)),

    GraftQuery(
      "q_graph_walk",
      "Deterministic 4-step random walks from the 8 smallest-id nodes of " +
        "the affinity graph — the node2vec/DeepWalk sampling primitive, " +
        "made engine-reproducible by the md5-index discipline: at step t " +
        "from node u the walker takes neighbor rank " +
        "1 + (md5₅₂(seed|t|u) mod deg(u)) over the (dst-ordered) ranked " +
        "adjacency — no RNG, so the same corpus yields the same walks on " +
        "any engine, any partitioning, any retry (a task retry that " +
        "resampled walks would silently corrupt a downstream embedding " +
        "training set). Each step is one equi-join of the 8-row frontier " +
        "against the ranked-adjacency artifact (degree-bounded by the " +
        "kNN ingest cap); the path string accumulates in the frontier " +
        "relation. The oracle unrolls the same 4 steps as recursive-free " +
        "CTE joins.",
      (s, dir) => {
        val oe = affinityGraph(s, dir).select(col("src"), col("dst"))
        val adj = oe.unionAll(oe.select(col("dst").as("src"), col("src").as("dst")))
        val wS = org.apache.spark.sql.expressions.Window
          .partitionBy("src").orderBy("dst")
        val ranked = adj
          .withColumn("rn", row_number().over(wS).cast("long"))
          .withColumn("d", count(lit(1)).over(
            org.apache.spark.sql.expressions.Window.partitionBy("src")))
          .localCheckpoint(true)
        val seeds = ranked.select(col("src")).distinct()
          .orderBy("src").limit(8).collect().map(_.getLong(0))
        var walk = s.createDataFrame(seeds.toSeq.map(Tuple1(_))).toDF("seed")
          .select(col("seed"), col("seed").as("cur"),
            col("seed").cast("string").as("path"))
        for (t <- 1 to 4) {
          val h = conv(substring(md5(concat_ws("|",
            col("seed"), lit(t.toLong), col("cur"))), 1, 13), 16, 10)
            .cast("long")
          walk = walk
            .join(broadcast(ranked), col("cur") === col("src") &&
              col("rn") === pmod(h, col("d")) + 1)
            .select(col("seed"), col("dst").as("cur"),
              concat(col("path"), lit("->"), col("dst").cast("string")).as("path"))
        }
        walk.select(col("seed"), col("cur").as("end_node"), col("path"))
          .orderBy("seed")
      },
      Some(
        """WITH dpairs AS MATERIALIZED (
          |  SELECT a.l_suppkey AS u, b.l_suppkey AS v, count(DISTINCT a.l_orderkey) AS w
          |  FROM lineitem a JOIN lineitem b
          |    ON a.l_orderkey = b.l_orderkey AND a.l_suppkey <> b.l_suppkey
          |  GROUP BY 1, 2),
          |knn AS (
          |  SELECT u, v FROM (
          |    SELECT u, v, row_number() OVER (PARTITION BY u ORDER BY w DESC, v) AS rn
          |    FROM dpairs) WHERE rn <= 8),
          |e AS MATERIALIZED (
          |  SELECT DISTINCT least(u, v) AS u, greatest(u, v) AS v FROM knn),
          |adj AS MATERIALIZED (
          |  SELECT u AS src, v AS dst FROM e UNION ALL SELECT v, u FROM e),
          |rk AS MATERIALIZED (SELECT src, dst,
          |    CAST(row_number() OVER (PARTITION BY src ORDER BY dst) AS BIGINT) AS rn,
          |    CAST(count(*) OVER (PARTITION BY src) AS BIGINT) AS d
          |  FROM adj),
          |w0 AS (SELECT src AS seed, src AS cur, CAST(src AS VARCHAR) AS path
          |  FROM (SELECT DISTINCT src FROM adj ORDER BY src LIMIT 8)),
          |w1 AS (SELECT w.seed, r.dst AS cur,
          |    w.path || '->' || CAST(r.dst AS VARCHAR) AS path
          |  FROM w0 w JOIN rk r ON w.cur = r.src
          |    AND r.rn = 1 + CAST(CAST('0x' || substr(md5(CAST(w.seed AS VARCHAR)
          |      || '|1|' || CAST(w.cur AS VARCHAR)), 1, 13) AS UBIGINT)
          |      % CAST(r.d AS UBIGINT) AS BIGINT)),
          |w2 AS (SELECT w.seed, r.dst AS cur,
          |    w.path || '->' || CAST(r.dst AS VARCHAR) AS path
          |  FROM w1 w JOIN rk r ON w.cur = r.src
          |    AND r.rn = 1 + CAST(CAST('0x' || substr(md5(CAST(w.seed AS VARCHAR)
          |      || '|2|' || CAST(w.cur AS VARCHAR)), 1, 13) AS UBIGINT)
          |      % CAST(r.d AS UBIGINT) AS BIGINT)),
          |w3 AS (SELECT w.seed, r.dst AS cur,
          |    w.path || '->' || CAST(r.dst AS VARCHAR) AS path
          |  FROM w2 w JOIN rk r ON w.cur = r.src
          |    AND r.rn = 1 + CAST(CAST('0x' || substr(md5(CAST(w.seed AS VARCHAR)
          |      || '|3|' || CAST(w.cur AS VARCHAR)), 1, 13) AS UBIGINT)
          |      % CAST(r.d AS UBIGINT) AS BIGINT)),
          |w4 AS (SELECT w.seed, r.dst AS cur,
          |    w.path || '->' || CAST(r.dst AS VARCHAR) AS path
          |  FROM w3 w JOIN rk r ON w.cur = r.src
          |    AND r.rn = 1 + CAST(CAST('0x' || substr(md5(CAST(w.seed AS VARCHAR)
          |      || '|4|' || CAST(w.cur AS VARCHAR)), 1, 13) AS UBIGINT)
          |      % CAST(r.d AS UBIGINT) AS BIGINT))
          |SELECT seed, cur AS end_node, path FROM w4 ORDER BY seed""".stripMargin)),

    GraftQuery(
      "q_graph_clustercoef",
      "Local clustering coefficient over the affinity graph — " +
        "cc(v) = 2·t(v)/(d(v)·(d(v)−1)), how close each supplier's " +
        "neighborhood is to a clique (the community-tightness reading " +
        "q_graph_triangles' raw counts don't normalize). Triangle " +
        "participation reuses the oriented wedge join (degree-bounded by " +
        "the kNN ingest cap — the node-iterator discipline); degrees " +
        "come from the symmetrized adjacency; cc is ONE IEEE division of " +
        "exact BIGINTs. Top-10 by (cc, −node), d ≥ 2 only (cc undefined " +
        "below), fully tie-broken.",
      (s, dir) => {
        val oe = affinityGraph(s, dir)
        val triPer = trianglesPerNode(oe)
        val base = oe.select(col("src"), col("dst"))
        val deg = base.select(col("src").as("node"))
          .unionAll(base.select(col("dst").as("node")))
          .groupBy("node").agg(count(lit(1)).as("d"))
        deg.filter(col("d") >= 2)
          .join(triPer, Seq("node"), "left")
          .select(col("node"), col("d"), coalesce(col("t"), lit(0L)).as("t"))
          .withColumn("cc", round(col("t").cast("double") * 2 /
            (col("d").cast("double") * (col("d").cast("double") - 1)), 6))
          .orderBy(col("cc").desc, col("node"))
          .limit(10)
          .select(col("node").as("supp_key"), col("d"), col("t"), col("cc"))
      },
      Some(
        """WITH dpairs AS MATERIALIZED (
          |  SELECT a.l_suppkey AS u, b.l_suppkey AS v, count(DISTINCT a.l_orderkey) AS w
          |  FROM lineitem a JOIN lineitem b
          |    ON a.l_orderkey = b.l_orderkey AND a.l_suppkey <> b.l_suppkey
          |  GROUP BY 1, 2),
          |knn AS (
          |  SELECT u, v FROM (
          |    SELECT u, v, row_number() OVER (PARTITION BY u ORDER BY w DESC, v) AS rn
          |    FROM dpairs) WHERE rn <= 8),
          |e AS MATERIALIZED (
          |  SELECT DISTINCT least(u, v) AS u, greatest(u, v) AS v FROM knn),
          |deg0 AS (SELECT node, count(*) AS d FROM (
          |  SELECT u AS node FROM e UNION ALL SELECT v FROM e) GROUP BY 1),
          |rk AS (SELECT node, d * 1000000 + node AS r FROM deg0),
          |oe AS MATERIALIZED (
          |  SELECT CASE WHEN ru.r < rv.r THEN e.u ELSE e.v END AS src,
          |         CASE WHEN ru.r < rv.r THEN e.v ELSE e.u END AS dst,
          |         CASE WHEN ru.r < rv.r THEN rv.r ELSE ru.r END AS rdst
          |  FROM e JOIN rk ru ON e.u = ru.node JOIN rk rv ON e.v = rv.node),
          |tri AS (
          |  SELECT x.src AS a, x.dst AS b, y.dst AS c
          |  FROM oe x JOIN oe y ON x.src = y.src AND x.rdst < y.rdst
          |  JOIN oe z ON z.src = x.dst AND z.dst = y.dst),
          |tp AS (SELECT node, count(*) AS t FROM (
          |  SELECT a AS node FROM tri UNION ALL SELECT b FROM tri
          |  UNION ALL SELECT c FROM tri) GROUP BY 1)
          |SELECT d0.node AS supp_key, CAST(d0.d AS BIGINT) AS d,
          |  CAST(coalesce(tp.t, 0) AS BIGINT) AS t,
          |  round(CAST(coalesce(tp.t, 0) AS DOUBLE) * 2
          |    / (CAST(d0.d AS DOUBLE) * (CAST(d0.d AS DOUBLE) - 1)), 6) AS cc
          |FROM deg0 d0 LEFT JOIN tp ON d0.node = tp.node
          |WHERE d0.d >= 2
          |ORDER BY cc DESC, supp_key LIMIT 10""".stripMargin)),

    GraftQuery(
      "q_graph_hits",
      "HITS hubs-and-authorities over the BIPARTITE customer→supplier " +
        "order graph, two supersteps in fixed-point integer arithmetic — " +
        "the q_graph_pagerank determinism discipline on the hub/auth " +
        "mutual recursion (auth(s) = Σ hub(c) over buyers, hub(c) = " +
        "Σ auth(s) over sellers, max-normalized each half-step through " +
        "floor(v/max·2^20 + 0.5) of exact BIGINTs — bit-identical on any " +
        "engine or partitioning). Each half-step is one broadcast of the " +
        "node-sized score relation + one keyed sum over the distinct " +
        "edge artifact; the edge relation moves at most once per " +
        "half-step. Top-10 authorities, fully tie-broken.",
      (s, dir) => {
        val sc = lit(1048576L)
        // the bipartite relation is the customer→supplier half of the
        // write-once orderGraph artifact (even src = 2·custkey, odd dst =
        // 2·suppkey+1) — reuse it instead of re-running the fact-fact
        // distinct join per query
        val be = orderGraph(s, dir)._1
          .filter(pmod(col("src"), lit(2L)) === 0)
          .select(expr("src div 2").as("c"), expr("(dst - 1) div 2").as("sk"))
        // max-normalize via a 1-row agg broadcast back over the relation —
        // NOT a Window.partitionBy(lit(1)), which funnels the node-sized
        // score relation through a single partition four times per query
        // (r13 review). The half-step MATERIALIZES first (the iterative-
        // superstep discipline of the components fixpoint/BFS): feeding
        // the same lazy tree to both the max agg and the join would
        // recompute the whole prior chain in each branch — column pruning
        // de-canonicalizes the two subtrees, so ReuseExchange cannot save
        // it, and the four chained half-steps go 2^4 (measured: 30 jobs /
        // 76 stages / 1.4 s vs 11 jobs / 0.35 s materialized). Eagerness
        // is declared to the bench (Bench.isEager), which re-runs the
        // full pipeline every timed pass.
        // r17 staged-fold fusion: the half-step materialization job
        // computes its own normalization max (graft.Staged scaladoc), so a
        // half-step costs ONE job instead of materialize + broadcast-max —
        // 4 of the query's 12 jobs removed (the head-to-head against the
        // crossJoin(broadcast(max)) shape is in OPTIMIZATION_r17.md). The
        // max is the same LONG the broadcast carried, so
        // floor(v/max·2^20 + 0.5) is bit-identical.
        def norm(df: org.apache.spark.sql.DataFrame, key: String, v: String) = {
          val (staged, mx) = graft.Staged.eagerFold(df, v, math.max)
          val mxCol = lit(mx.map(java.lang.Long.valueOf).orNull).cast("long")
          staged.select(col(key),
            floor(col(v).cast("double") / mxCol.cast("double") *
              sc.cast("double") + lit(0.5d)).cast("long").as("score"))
        }
        // auth⁰ ≡ 2^20 ⇒ hub¹_raw(c) = deg(c)·2^20
        val hub1 = norm(be.groupBy("c").agg((count(lit(1)) * sc).as("hr")),
          "c", "hr")
        val auth1 = norm(be.join(broadcast(hub1), "c")
          .groupBy("sk").agg(sum(col("score")).as("ar")), "sk", "ar")
        val hub2 = norm(be.join(broadcast(auth1), "sk")
          .groupBy("c").agg(sum(col("score")).as("hr")), "c", "hr")
        val auth2 = norm(be.join(broadcast(hub2), "c")
          .groupBy("sk").agg(sum(col("score")).as("ar")), "sk", "ar")
        auth2
          .select(col("sk").as("supp_key"), col("score").as("auth_fp"),
            round(col("score").cast("double") / sc.cast("double"), 6)
              .as("authority"))
          .orderBy(col("auth_fp").desc, col("supp_key"))
          .limit(10)
      },
      Some(
        """WITH be AS MATERIALIZED (
          |  SELECT DISTINCT o_custkey AS c, l_suppkey AS sk
          |  FROM orders JOIN lineitem ON o_orderkey = l_orderkey),
          |h1r AS (SELECT c, count(*) * 1048576 AS hr FROM be GROUP BY 1),
          |h1 AS (SELECT c, CAST(floor(CAST(hr AS DOUBLE)
          |    / CAST(max(hr) OVER () AS DOUBLE) * 1048576.0 + 0.5) AS BIGINT)
          |    AS score FROM h1r),
          |a1r AS (SELECT be.sk, CAST(sum(h1.score) AS BIGINT) AS ar
          |  FROM be JOIN h1 ON be.c = h1.c GROUP BY 1),
          |a1 AS (SELECT sk, CAST(floor(CAST(ar AS DOUBLE)
          |    / CAST(max(ar) OVER () AS DOUBLE) * 1048576.0 + 0.5) AS BIGINT)
          |    AS score FROM a1r),
          |h2r AS (SELECT be.c, CAST(sum(a1.score) AS BIGINT) AS hr
          |  FROM be JOIN a1 ON be.sk = a1.sk GROUP BY 1),
          |h2 AS (SELECT c, CAST(floor(CAST(hr AS DOUBLE)
          |    / CAST(max(hr) OVER () AS DOUBLE) * 1048576.0 + 0.5) AS BIGINT)
          |    AS score FROM h2r),
          |a2r AS (SELECT be.sk, CAST(sum(h2.score) AS BIGINT) AS ar
          |  FROM be JOIN h2 ON be.c = h2.c GROUP BY 1),
          |a2 AS (SELECT sk, CAST(floor(CAST(ar AS DOUBLE)
          |    / CAST(max(ar) OVER () AS DOUBLE) * 1048576.0 + 0.5) AS BIGINT)
          |    AS score FROM a2r)
          |SELECT sk AS supp_key, score AS auth_fp,
          |  round(CAST(score AS DOUBLE) / 1048576.0, 6) AS authority
          |FROM a2 ORDER BY auth_fp DESC, supp_key LIMIT 10""".stripMargin)),

    GraftQuery(
      "q_graph_ppr",
      "Personalized PageRank from the smallest-id node (restart 0.15 to " +
        "THE SEED only — the recommendation/trust propagation variant " +
        "whose teleport vector is a delta, not uniform), 3 unrolled " +
        "supersteps in q_graph_pagerank's all-integer fixed point: mass " +
        "starts at the seed, each step ships pr div degree along edges " +
        "and the seed alone receives the 0.15 restart — so the ranking " +
        "localizes around the seed's neighborhood and is bit-identical " +
        "at any partitioning. The teleport row is UNIONed into the " +
        "inflow relation (a step can leave the seed with zero inflow and " +
        "losing the restart row would zero the fixpoint). Top-10 nodes " +
        "with their entity decode; nodes never visited stay implicit " +
        "zeros — the propagation relation holds the REACHED set, not " +
        "the graph.",
      (s, dir) => {
        val (edges, _) = orderGraph(s, dir)
        val seed = edges.agg(min(col("src"))).head.getLong(0)
        def step(p: DataFrame): DataFrame =
          edges
            .join(broadcast(p.withColumnRenamed("node", "jn")),
              col("src") === col("jn"))
            .select(col("dst"), expr("pr div sd").as("contrib"))
            .groupBy("dst").agg(sum(col("contrib")).as("inflow"))
            .select(col("dst").as("node"), col("inflow"))
            .unionByName(s.range(1)
              .select(lit(seed).as("node"), lit(0L).as("inflow")))
            .groupBy("node").agg(sum(col("inflow")).as("inflow"))
            .select(col("node"),
              (when(col("node") === seed, lit(150000000L)).otherwise(lit(0L)) +
                expr("(85 * inflow) div 100")).as("pr"))
        val p0 = s.range(1)
          .select(lit(seed).as("node"), lit(1000000000L).as("pr"))
        val p3 = step(step(step(p0)))
        p3.select(col("node"),
            when(pmod(col("node"), lit(2L)) === 1, lit("S")).otherwise(lit("C"))
              .as("kind"),
            when(pmod(col("node"), lit(2L)) === 1,
              expr("(node - 1) div 2")).otherwise(expr("node div 2"))
              .as("entity_key"),
            col("pr"))
          .orderBy(col("pr").desc, col("node"))
          .limit(10)
      },
      Some(
        """WITH base AS (
          |  SELECT DISTINCT o_custkey * 2 AS c, l_suppkey * 2 + 1 AS s
          |  FROM orders JOIN lineitem ON o_orderkey = l_orderkey),
          |edges AS (SELECT c AS src, s AS dst FROM base UNION ALL SELECT s, c FROM base),
          |deg AS (SELECT src AS node, count(*) AS d FROM edges GROUP BY src),
          |sd AS (SELECT min(src) AS seed FROM edges),
          |p0 AS (SELECT seed AS node, CAST(1000000000 AS BIGINT) AS pr FROM sd),
          |f1 AS (SELECT e.dst AS node, CAST(sum(p.pr // d.d) AS BIGINT) AS inflow
          |  FROM edges e JOIN p0 p ON e.src = p.node JOIN deg d ON e.src = d.node
          |  GROUP BY 1
          |  UNION ALL SELECT seed, 0 FROM sd),
          |p1 AS (SELECT node,
          |    CAST(CASE WHEN node = (SELECT seed FROM sd) THEN 150000000 ELSE 0 END
          |      + (85 * CAST(sum(inflow) AS BIGINT)) // 100 AS BIGINT) AS pr
          |  FROM f1 GROUP BY node),
          |f2 AS (SELECT e.dst AS node, CAST(sum(p.pr // d.d) AS BIGINT) AS inflow
          |  FROM edges e JOIN p1 p ON e.src = p.node JOIN deg d ON e.src = d.node
          |  GROUP BY 1
          |  UNION ALL SELECT seed, 0 FROM sd),
          |p2 AS (SELECT node,
          |    CAST(CASE WHEN node = (SELECT seed FROM sd) THEN 150000000 ELSE 0 END
          |      + (85 * CAST(sum(inflow) AS BIGINT)) // 100 AS BIGINT) AS pr
          |  FROM f2 GROUP BY node),
          |f3 AS (SELECT e.dst AS node, CAST(sum(p.pr // d.d) AS BIGINT) AS inflow
          |  FROM edges e JOIN p2 p ON e.src = p.node JOIN deg d ON e.src = d.node
          |  GROUP BY 1
          |  UNION ALL SELECT seed, 0 FROM sd),
          |p3 AS (SELECT node,
          |    CAST(CASE WHEN node = (SELECT seed FROM sd) THEN 150000000 ELSE 0 END
          |      + (85 * CAST(sum(inflow) AS BIGINT)) // 100 AS BIGINT) AS pr
          |  FROM f3 GROUP BY node)
          |SELECT node,
          |  CASE WHEN node % 2 = 1 THEN 'S' ELSE 'C' END AS kind,
          |  CASE WHEN node % 2 = 1 THEN (node - 1) // 2 ELSE node // 2 END
          |    AS entity_key,
          |  pr
          |FROM p3 ORDER BY pr DESC, node LIMIT 10""".stripMargin))
  )
}
