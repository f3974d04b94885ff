package graft
package queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.Tables.t
import graft.core.Materialize.MaterializeOps
import graft.operators.Graph

/**
 * Graph queries (`graph_*`) over the lineitem co-purchase graph; the
 * oracles replay each fixpoint round by round as chained CTEs.
 */
private[queries] object GraphQueries {

  /** Shared weighted co-purchase edge build for the SSSP pair: the
    * posting-list idiom (one groupBy + in-group pair explosion)
    * instead of the blocked self-join — same (src, dst, cnt) table
    * (each shared order contributes one a≠b ordered pair either way),
    * one exchange fewer and ~10% faster at sf0.1 (guide §2.4). */
  private def ssspEdges(s: SparkSession, dir: String): DataFrame = {
    val li = t(s, dir, "lineitem").filter(col("l_orderkey") % 10 === 0)
      .select("l_orderkey", "l_partkey").distinct()
    // pre-filter the 2..1000 band on a COUNTED size, then collect only
    // surviving groups (guide §5): the previous collect-then-filter
    // buffered each order's full part list before dropping oversize
    // groups — a pathological million-item group would hold ~8 MB in
    // one aggregation buffer. The count aggregate ships (key, partial
    // count) rows only, and the semi-join + collect reuse one
    // hash-partitioning by l_orderkey. Same (src, dst, cnt) multiset
    // (law-tested: only which groups SURVIVE ever mattered).
    val sized = li.groupBy("l_orderkey").agg(count(lit(1)).as("n_items"))
      .filter(col("n_items").between(2, 1000))
      .select("l_orderkey")
    li.join(sized, Seq("l_orderkey"), "left_semi")
      .groupBy("l_orderkey")
      .agg(collect_list(col("l_partkey")).as("items"))
      .select(explode(col("items")).as("src"), col("items"))
      .select(col("src"), explode(col("items")).as("dst"))
      .filter(col("src") =!= col("dst"))
      .groupBy("src", "dst").agg(count(lit(1)).as("cnt"))
      .select(col("src"), col("dst"), round(lit(1.0) / col("cnt"), 6).as("w"))
  }

  /** One pagerank iteration `out` from `in` (d=0.85), as a chained CTE. */
  private def prIter(out: String, in: String): String =
    s"$out AS (SELECT dst AS node, (1 - 0.85) / cnt + 0.85 * sum(rank / outdeg) AS rank " +
      s"FROM e JOIN $in ON e.src = $in.node JOIN deg ON e.src = deg.src, n " +
      "GROUP BY dst, cnt), "

  /** One personalized-pagerank round: damped contribs + restart mass on seeds only. */
  private def pprIter(out: String, in: String): String =
    s"$out AS (SELECT coalesce(c.node, sd.node) AS node, " +
      "0.85 * coalesce(c.contrib, 0) + " +
      "CASE WHEN sd.node IS NOT NULL THEN 0.15 / ns.n_seeds ELSE 0 END AS rank " +
      s"FROM (SELECT e.dst AS node, sum(rank / outdeg) AS contrib " +
      s"FROM e JOIN $in ON e.src = $in.node JOIN deg ON e.src = deg.src " +
      "GROUP BY e.dst) c FULL OUTER JOIN sd ON c.node = sd.node, ns), "

  /** One Bellman–Ford relaxation round as a chained CTE: keep ∪ relax, min per node.
    * MATERIALIZED because the round reads `in` twice: an inlined chain
    * of k rounds plans about 2^k copies of the seed. */
  private def ssspIter(out: String, in: String): String =
    s"$out AS MATERIALIZED (SELECT node, min(dist) AS dist FROM (" +
      s"SELECT node, dist FROM $in UNION ALL " +
      s"SELECT ew.dst AS node, $in.dist + ew.w AS dist " +
      s"FROM ew JOIN $in ON ew.src = $in.node) GROUP BY node), "

  /** One label-propagation round as a chained CTE: neighbor-label mode, min-label ties. */
  private def lpRound(out: String, in: String): String =
    s"$out AS (SELECT node2 AS node, label FROM (" +
      "SELECT dst AS node2, label, row_number() OVER (PARTITION BY dst " +
      "ORDER BY cnt DESC, label) AS rn FROM (" +
      s"SELECT e.dst, i.label, count(*) AS cnt FROM e JOIN $in i ON e.src = i.node " +
      "GROUP BY e.dst, i.label)) WHERE rn = 1), "

  /**
   * Shared co-purchase edge CTE for the graph oracles; replays
   * Graph.coOccurrenceEdges' maxGroup cap (groups of 2..1000 distinct
   * parts) so an order with a pathological line count would drop from
   * BOTH engine and oracle instead of silently diverging.
   */
  private val graphEdgeCte: String =
    "WITH li AS (SELECT l_orderkey, l_partkey FROM lineitem WHERE l_orderkey % 10 = 0), " +
      "g AS (SELECT l_orderkey FROM li GROUP BY l_orderkey " +
      "HAVING count(DISTINCT l_partkey) BETWEEN 2 AND 1000), " +
      "e AS (SELECT DISTINCT a.l_partkey AS src, b.l_partkey AS dst " +
      "FROM li a JOIN li b ON a.l_orderkey = b.l_orderkey AND a.l_partkey != b.l_partkey " +
      "JOIN g ON a.l_orderkey = g.l_orderkey), "

  val all: Seq[Query] = Seq(
    /**
     * PageRank (3 fixed iterations, d=0.85) over the part co-purchase
     * graph: parts sharing an order (1-in-10 sample of orders) are
     * linked. The oracle replays the same 3 iterations as chained CTEs.
     */
    Query("graph_pagerank", (s, dir) => {
      val li = t(s, dir, "lineitem").filter(col("l_orderkey") % 10 === 0)
      Graph.pagerank(Graph.coOccurrenceEdges(li, "l_orderkey", "l_partkey"), iters = 3)
    },
      oracle = (graphEdgeCte +
        "n AS (SELECT count(DISTINCT src) AS cnt FROM e), " +
        "deg AS (SELECT src, count(*) AS outdeg FROM e GROUP BY src), " +
        "r0 AS (SELECT src AS node, 1.0 / cnt AS rank FROM deg, n), " +
        prIter("r1", "r0") + prIter("r2", "r1") + prIter("r3", "r2").stripSuffix(", ") +
        " SELECT node, round(rank, 8) AS rank FROM r3")),

    /**
     * Weighted SSSP over the co-purchase graph: edge weight
     * round6(1/shared-order-count) — frequently co-bought parts are
     * "close" — relaxed 4 Bellman–Ford rounds from the smallest part
     * id. Distances exact for ≤4-hop paths (the bounded-rounds
     * contract the BFS query also uses).
     */
    Query("graph_sssp", (s, dir) => {
      val source = ssspEdges(s, dir).agg(min("src").as("node"))
      Graph.weightedShortestPaths(ssspEdges(s, dir), source, rounds = 4)
    },
      // 4 Bellman–Ford rounds over round6(1/co-purchase-count) weights
      // from the smallest part id, replayed as chained keep∪relax CTEs
      oracle = ("WITH li AS (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem " +
        "WHERE l_orderkey % 10 = 0), " +
        "g AS (SELECT l_orderkey FROM li GROUP BY l_orderkey " +
        "HAVING count(*) BETWEEN 2 AND 1000), " +
        "li2 AS (SELECT li.l_orderkey, li.l_partkey FROM li " +
        "JOIN g ON li.l_orderkey = g.l_orderkey), " +
        "ew AS (SELECT a.l_partkey AS src, b.l_partkey AS dst, " +
        "round(1.0::DOUBLE / count(*), 6) AS w " +
        "FROM li2 a JOIN li2 b ON a.l_orderkey = b.l_orderkey " +
        "AND a.l_partkey != b.l_partkey GROUP BY 1, 2), " +
        "s AS (SELECT min(src) AS node FROM ew), " +
        "d0 AS (SELECT node, 0.0::DOUBLE AS dist FROM s), " +
        ssspIter("d1", "d0") + ssspIter("d2", "d1") +
        ssspIter("d3", "d2") + ssspIter("d4", "d3").stripSuffix(", ") +
        " SELECT node, round(dist, 6) AS dist FROM d4")),

    /**
     * The fixpoint variant (Graph.weightedShortestPathsConverged):
     * relaxation runs until the distance table stops changing
     * (checksum-gated exact check), so every reachable node carries its
     * true shortest distance. Oracle chains 12 relaxation rounds — a
     * fixpoint for the co-purchase graph's small diameter, asserted
     * green at both fixture scales.
     */
    Query("graph_sssp_converged", (s, dir) => {
      val source = ssspEdges(s, dir).agg(min("src").as("node"))
      Graph.weightedShortestPathsConverged(ssspEdges(s, dir), source)
    },
      // fixpoint replay: 12 chained rounds — stable for the fixture
      // graph's diameter (rounds past convergence are no-ops). The edge
      // CTE is MATERIALIZED: un-materialized, every round re-scans the
      // parquet and 12 rounds exhaust the file-handle limit
      oracle = ("WITH li AS MATERIALIZED (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem " +
        "WHERE l_orderkey % 10 = 0), " +
        "g AS (SELECT l_orderkey FROM li GROUP BY l_orderkey " +
        "HAVING count(*) BETWEEN 2 AND 1000), " +
        "li2 AS (SELECT li.l_orderkey, li.l_partkey FROM li " +
        "JOIN g ON li.l_orderkey = g.l_orderkey), " +
        "ew AS MATERIALIZED (SELECT a.l_partkey AS src, b.l_partkey AS dst, " +
        "round(1.0::DOUBLE / count(*), 6) AS w " +
        "FROM li2 a JOIN li2 b ON a.l_orderkey = b.l_orderkey " +
        "AND a.l_partkey != b.l_partkey GROUP BY 1, 2), " +
        "s AS (SELECT min(src) AS node FROM ew), " +
        "d0 AS (SELECT node, 0.0::DOUBLE AS dist FROM s), " +
        (1 to 12).map(r => ssspIter(s"d$r", s"d${r - 1}")).mkString.stripSuffix(", ") +
        " SELECT node, round(dist, 6) AS dist FROM d12")),

    /**
     * Random walk with restart from the 5 smallest part ids in the
     * co-purchase graph (Graph.personalizedPagerank): "parts related
     * to these seeds" — restart mass pinned to the seed set, 3 rounds.
     */
    Query("graph_ppr", (s, dir) => {
      val li = t(s, dir, "lineitem").filter(col("l_orderkey") % 10 === 0)
      val edges = Graph.coOccurrenceEdges(li, "l_orderkey", "l_partkey")
      val seeds = edges.select(col("src").as("node")).distinct().orderBy("node").limit(5)
      Graph.personalizedPagerank(edges, seeds, iters = 3)
    },
      // random walk with restart: teleport mass pinned to the 5
      // smallest part ids; 3 damped rounds replayed as chained CTEs
      oracle = (graphEdgeCte +
        "deg AS (SELECT src, count(*) AS outdeg FROM e GROUP BY src), " +
        "sd AS (SELECT DISTINCT src AS node FROM e ORDER BY src LIMIT 5), " +
        "ns AS (SELECT count(*) AS n_seeds FROM sd), " +
        "p0 AS (SELECT node, 1.0 / ns.n_seeds AS rank FROM sd, ns), " +
        pprIter("p1", "p0") + pprIter("p2", "p1") + pprIter("p3", "p2").stripSuffix(", ") +
        " SELECT node, round(rank, 8) AS rank FROM p3")),

    /**
     * Triangle count over the part co-purchase graph (same 1-in-10
     * sample as graph_pagerank) via degree-oriented wedge join — each
     * triangle generated exactly once at its smallest-(deg,id) vertex.
     * The oracle counts the same triangles by brute 3-way join.
     */
    Query("graph_triangles", (s, dir) => {
      val li = t(s, dir, "lineitem").filter(col("l_orderkey") % 10 === 0)
      Graph.triangleCount(Graph.coOccurrenceEdges(li, "l_orderkey", "l_partkey"))
    },
      // brute 3-way join with a<b<c counts the same triangles the
      // degree-oriented wedge join finds exactly once each
      oracle = (graphEdgeCte.stripSuffix(", ") +
        " SELECT count(*) AS n_triangles FROM e ab " +
        "JOIN e bc ON ab.dst = bc.src JOIN e ac ON ac.src = ab.src AND ac.dst = bc.dst " +
        "WHERE ab.src < ab.dst AND bc.src < bc.dst")),

    /** Bounded BFS: hop distances (≤3) from the min-key node of the co-purchase graph. */
    Query("graph_bfs", (s, dir) => {
      val li = t(s, dir, "lineitem").filter(col("l_orderkey") % 10 === 0)
      val edges = Graph.coOccurrenceEdges(li, "l_orderkey", "l_partkey")
      Graph.bfsDistances(edges, edges.agg(min(col("src")).as("node")), maxDepth = 3)
    },
      // bounded BFS: 3 chained frontier rounds, min-distance per node
      oracle = (graphEdgeCte.stripSuffix(", ") + ", " +
        "s AS (SELECT min(src) AS node FROM e), " +
        "d0 AS (SELECT node, 0 AS dist FROM s), " +
        "d1 AS (SELECT node, min(dist) AS dist FROM (SELECT node, dist FROM d0 " +
        "UNION ALL SELECT e.dst, d0.dist + 1 FROM e JOIN d0 ON e.src = d0.node) GROUP BY node), " +
        "d2 AS (SELECT node, min(dist) AS dist FROM (SELECT node, dist FROM d1 " +
        "UNION ALL SELECT e.dst, d1.dist + 1 FROM e JOIN d1 ON e.src = d1.node) GROUP BY node), " +
        "d3 AS (SELECT node, min(dist) AS dist FROM (SELECT node, dist FROM d2 " +
        "UNION ALL SELECT e.dst, d2.dist + 1 FROM e JOIN d2 ON e.src = d2.node) GROUP BY node) " +
        "SELECT node, CAST(dist AS BIGINT) AS dist FROM d3")),

    /**
     * Degree distribution of the co-purchase graph — the first
     * governance look at any graph (hub detection, skew sizing for the
     * wedge/LPA joins): degree per node off one edge aggregation, then
     * the |distinct degrees|-row histogram.
     */
    Query("graph_degrees", (s, dir) => {
      val li = t(s, dir, "lineitem").filter(col("l_orderkey") % 10 === 0)
      Graph.coOccurrenceEdges(li, "l_orderkey", "l_partkey")
        .groupBy(col("src")).agg(count(lit(1)).as("degree"))
        .groupBy(col("degree")).agg(count(lit(1)).as("n_nodes"))
    },
      // the same 3 pagerank iterations as chained CTEs (no recursion
      // needed for a fixed iteration count)
      oracle = (graphEdgeCte.stripSuffix(", ") +
        " SELECT degree, count(*) AS n_nodes FROM (" +
        "SELECT src, count(*) AS degree FROM e GROUP BY src) GROUP BY degree")),

    /**
     * 8-core of the co-purchase graph ([[Graph.kCore]]) — genuinely
     * iterative peeling (11 rounds to the fixpoint at sf0.01). The
     * oracle unrolls 18 peel rounds: once the fixpoint is reached the
     * spare rounds are no-ops, so any convergence depth ≤ 18 replays
     * exactly.
     */
    Query("graph_kcore", (s, dir) => {
      val li = t(s, dir, "lineitem").filter(col("l_orderkey") % 10 === 0)
      Graph.kCore(Graph.coOccurrenceEdges(li, "l_orderkey", "l_partkey"), k = 8)
    },
      // 18 unrolled peel rounds; MATERIALIZED is load-bearing — each
      // round references the previous edge set twice, so inlining the
      // 18-deep chain would duplicate the base scan 2^18 times
      oracle = (graphEdgeCte + "p0 AS MATERIALIZED (SELECT src, dst FROM e), " +
        (1 to 18).map { r =>
          s"k$r AS MATERIALIZED (SELECT src FROM p${r - 1} " +
            "GROUP BY src HAVING count(*) >= 8), " +
            s"p$r AS MATERIALIZED (SELECT c.src, c.dst FROM p${r - 1} c " +
            s"JOIN k$r a ON c.src = a.src JOIN k$r b ON c.dst = b.src)"
        }.mkString(", ") +
        " SELECT src AS node, count(*) AS deg FROM p18 GROUP BY src")),

    /**
     * 5-truss of the co-purchase graph ([[Graph.kTruss]]): every
     * surviving edge closes ≥3 triangles within the truss — the edge-
     * level cohesion cut (4 peel rounds to fixpoint at sf0.01; the
     * oracle unrolls 8, fixpoint idempotence absorbing the spares).
     * Output is canonical edges with in-truss support.
     */
    Query("graph_ktruss", (s, dir) => {
      val li = t(s, dir, "lineitem").filter(col("l_orderkey") % 10 === 0)
      Graph.kTruss(Graph.coOccurrenceEdges(li, "l_orderkey", "l_partkey"), k = 5)
    },
      // 8 unrolled support-peel rounds (fixpoint at 4 at sf0.01);
      // support via the plain common-neighbor join — the oracle replays
      // semantics, the engine's degree-oriented enumeration is the
      // scale path
      oracle = (graphEdgeCte + "c0 AS MATERIALIZED (SELECT src, dst FROM e WHERE src < dst), " +
        (1 to 8).map { r =>
          s"sym${r - 1} AS MATERIALIZED (SELECT src, dst FROM c${r - 1} " +
            s"UNION ALL SELECT dst, src FROM c${r - 1}), " +
            s"s$r AS MATERIALIZED (SELECT c.src, c.dst, count(*) AS sup " +
            s"FROM c${r - 1} c JOIN sym${r - 1} a ON a.src = c.src " +
            s"JOIN sym${r - 1} b ON b.src = c.dst AND b.dst = a.dst " +
            "GROUP BY 1, 2), " +
            s"c$r AS MATERIALIZED (SELECT c.src, c.dst FROM c${r - 1} c " +
            s"JOIN s$r s ON s.src = c.src AND s.dst = c.dst AND s.sup >= 3)"
        }.mkString(", ") +
        " SELECT c.src, c.dst, s.sup AS support FROM c8 c " +
        "JOIN s8 s ON s.src = c.src AND s.dst = c.dst")),

    /**
     * Newman modularity of the 3-round LPA communities
     * ([[Graph.modularity]]) — the community family's quality metric.
     * Oracle replays the LPA rounds (the graph_communities chain) and
     * the Q aggregate; intra/degree sums are exact integers, the final
     * community-sized sum rounds to 6dp.
     */
    Query("graph_modularity", (s, dir) => {
      val li = t(s, dir, "lineitem").filter(col("l_orderkey") % 10 === 0)
      val edges = Graph.coOccurrenceEdges(li, "l_orderkey", "l_partkey")
        .materializeRound // feeds LPA AND the modularity aggregates
      Graph.modularity(edges, Graph.labelPropagation(edges))
    },
      // the same LPA chain + Newman Q: intra/degree sums are exact
      // integers, the community-sized term sum rounds to 6dp
      oracle = (graphEdgeCte +
        "l0 AS (SELECT DISTINCT src AS node, src AS label FROM e), " +
        lpRound("l1", "l0") + lpRound("l2", "l1") + lpRound("l3", "l2") +
        "m AS (SELECT count(*) AS m2 FROM e), " +
        "intra AS (SELECT a.label, count(*) AS intra FROM e " +
        "JOIN l3 a ON e.src = a.node JOIN l3 b ON e.dst = b.node " +
        "WHERE a.label = b.label GROUP BY 1), " +
        "degc AS (SELECT l3.label, sum(d.deg) AS degc FROM " +
        "(SELECT src AS node, count(*) AS deg FROM e GROUP BY 1) d " +
        "JOIN l3 ON d.node = l3.node GROUP BY 1) " +
        "SELECT count(*) AS n_communities, " +
        "round(sum(coalesce(intra.intra, 0) * 1.0 / m.m2 " +
        "- (degc.degc * 1.0 / m.m2) * (degc.degc * 1.0 / m.m2)), 6) AS modularity " +
        "FROM degc LEFT JOIN intra ON degc.label = intra.label CROSS JOIN m")),

    /**
     * Full coreness decomposition of the co-purchase graph
     * ([[Graph.coreness]], h-index fixpoint — 46 rounds at sf0.01).
     * Oracle unrolls 56 h-index rounds; once the fixpoint is reached
     * the spare rounds are no-ops. Cross-checks `graph_kcore`: nodes
     * with coreness ≥ 8 are exactly the 8-core.
     */
    Query("graph_coreness", (s, dir) => {
      val li = t(s, dir, "lineitem").filter(col("l_orderkey") % 10 === 0)
      Graph.coreness(Graph.coOccurrenceEdges(li, "l_orderkey", "l_partkey"))
    },
      // 56 unrolled h-index rounds (fixpoint at 46 at sf0.01; spares
      // are no-ops); MATERIALIZED for the same anti-inlining reason
      oracle = (graphEdgeCte + "e2 AS MATERIALIZED (SELECT src, dst FROM e), " +
        "cv0 AS MATERIALIZED (SELECT src AS node, count(*) AS c " +
        "FROM e2 GROUP BY src), " +
        (1 to 56).map { r =>
          s"cv$r AS MATERIALIZED (SELECT src AS node, max(least(rn, cd)) AS c " +
            "FROM (SELECT e2.src, v.c AS cd, row_number() OVER " +
            "(PARTITION BY e2.src ORDER BY v.c DESC) AS rn " +
            s"FROM e2 JOIN cv${r - 1} v ON e2.dst = v.node) GROUP BY src)"
        }.mkString(", ") +
        " SELECT node, c AS coreness FROM cv56")),

    /**
     * Harmonic centrality from the 16 smallest part ids, depth 3
     * ([[Graph.harmonicCentrality]] — one multi-source BFS). Oracle
     * replays the three relax+min rounds per source key.
     */
    Query("graph_harmonic", (s, dir) => {
      val li = t(s, dir, "lineitem").filter(col("l_orderkey") % 10 === 0)
      val edges = Graph.coOccurrenceEdges(li, "l_orderkey", "l_partkey")
      val sources = edges.select(col("src").as("node")).distinct()
        .orderBy("node").limit(16)
      Graph.harmonicCentrality(edges, sources, maxDepth = 3)
    },
      oracle = (graphEdgeCte +
        "s AS (SELECT DISTINCT src AS node FROM e ORDER BY node LIMIT 16), " +
        "h0 AS MATERIALIZED (SELECT node AS s, node, 0 AS dist FROM s), " +
        (1 to 3).map { r =>
          s"h$r AS MATERIALIZED (SELECT s, node, min(dist) AS dist FROM (" +
            s"SELECT s, node, dist FROM h${r - 1} UNION ALL " +
            s"SELECT h.s, e.dst, h.dist + 1 FROM e JOIN h${r - 1} h " +
            "ON e.src = h.node) GROUP BY s, node)"
        }.mkString(", ") +
        " SELECT node, round(sum(1.0::DOUBLE / dist), 6) AS harmonic " +
        "FROM h3 WHERE dist > 0 GROUP BY node")),

    /**
     * Degree assortativity of the co-purchase graph
     * ([[Graph.assortativity]]): one corr aggregate over degree-joined
     * edges.
     */
    Query("graph_assortativity", (s, dir) => {
      val li = t(s, dir, "lineitem").filter(col("l_orderkey") % 10 === 0)
      Graph.assortativity(Graph.coOccurrenceEdges(li, "l_orderkey", "l_partkey"))
    },
      oracle = (graphEdgeCte +
        "deg AS (SELECT src AS node, count(*) AS deg FROM e GROUP BY src) " +
        "SELECT round(corr(a.deg, b.deg), 6) AS assortativity, " +
        "count(*) AS n_edges FROM e " +
        "JOIN deg a ON e.src = a.node JOIN deg b ON e.dst = b.node")),

    /**
     * Transitivity of the co-purchase graph
     * ([[Graph.clusteringCoefficient]]): 3·triangles / wedges.
     */
    Query("graph_clustering", (s, dir) => {
      val li = t(s, dir, "lineitem").filter(col("l_orderkey") % 10 === 0)
      Graph.clusteringCoefficient(
        Graph.coOccurrenceEdges(li, "l_orderkey", "l_partkey"))
    },
      oracle = (graphEdgeCte +
        "tri AS (SELECT count(*) AS n_triangles FROM e ab " +
        "JOIN e bc ON ab.dst = bc.src " +
        "JOIN e ac ON ac.src = ab.src AND ac.dst = bc.dst " +
        "WHERE ab.src < ab.dst AND bc.src < bc.dst), " +
        "wg AS (SELECT CAST(sum(deg * (deg - 1) / 2) AS BIGINT) AS n_wedges " +
        "FROM (SELECT count(*) AS deg FROM e GROUP BY src)) " +
        "SELECT tri.n_triangles, wg.n_wedges, " +
        "round(tri.n_triangles * 3.0 / wg.n_wedges, 6) AS global_cc " +
        "FROM tri, wg")),

    /**
     * Label-propagation communities (3 fixed rounds, min-label ties)
     * over the co-purchase graph; output is the community-size census.
     * The oracle replays each round as chained CTEs.
     */
    Query("graph_communities", (s, dir) => {
      val li = t(s, dir, "lineitem").filter(col("l_orderkey") % 10 === 0)
      Graph.labelPropagation(Graph.coOccurrenceEdges(li, "l_orderkey", "l_partkey"), iters = 3)
        .groupBy(col("label").as("community"))
        .agg(count(lit(1)).as("n_members"))
    },
      // replays the 3 label-propagation rounds (neighbor-label mode,
      // smallest label on ties) as chained CTEs
      oracle = (graphEdgeCte +
        "l0 AS (SELECT DISTINCT src AS node, src AS label FROM e), " +
        lpRound("l1", "l0") + lpRound("l2", "l1") + lpRound("l3", "l2").stripSuffix(", ") +
        " SELECT label AS community, count(*) AS n_members FROM l3 GROUP BY label")),
  )
}
