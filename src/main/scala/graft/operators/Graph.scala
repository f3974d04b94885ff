package graft.operators

import org.apache.spark.sql.{Column, DataFrame, Row}
import org.apache.spark.sql.functions._

import graft.core.{Fixpoint, LocalGraph}
import graft.core.Fixpoint.Until
import graft.core.Materialize.MaterializeOps

/**
 * Graph operators over edge-list DataFrames. The reference engine has
 * no graph surface at all (SURVEY §2.4); its nearest relative is the
 * iterative min-label loop in [[Dedup.dupClusters]]. PageRank is the
 * canonical "iterate joins over a partitioned edge list" workload —
 * the shape that matters at 100 TB is that the EDGE table (the big
 * side) is exchanged ONCE and every iteration reuses that exchange,
 * while only the rank vector (one double per node) moves per round.
 */
object Graph {

  /**
   * Co-occurrence edges: items sharing a group (parts co-purchased in
   * one order, tokens sharing a doc, ...) — symmetric, distinct,
   * self-loops removed. Built with the posting-list idiom (one
   * groupBy shuffle, pairs exploded from in-group arrays), not a
   * self-join: groups are small (order line counts), so the pair
   * explosion is bounded at |group|² with one shuffle instead of two
   * sorted ones. `maxGroup` caps an adversarial group's quadratic
   * contribution, like [[Dedup.pairsFromBuckets]] — and like there
   * the cap is a declared tradeoff, not silent: audit dropped groups
   * with [[Dedup.oversizedBucketCensus]] over the same
   * (group, item) table.
   */
  def coOccurrenceEdges(df: DataFrame, groupCol: String, itemCol: String,
      maxGroup: Int = 1000): DataFrame =
    df.groupBy(col(groupCol))
      .agg(collect_set(col(itemCol)).as("items"))
      .filter(size(col("items")).between(2, maxGroup))
      .select(explode(col("items")).as("src"), col("items"))
      .select(col("src"), explode(col("items")).as("dst"))
      .filter(col("src") =!= col("dst"))
      .distinct()

  /**
   * Label-propagation community detection over a symmetric edge list,
   * fixed iteration count (deterministic: every node starts labeled
   * with its own id; each round takes the MODE of its neighbors'
   * labels, ties broken by the smallest label — so the computation is
   * replayable round-by-round in any engine). Per round: one
   * edge-sized join against the label table + a (node, label) count
   * aggregate + an argmax — the same two-shuffle shape as pagerank.
   *
   * Scale: the edge list is hash-partitioned on the join key ONCE and
   * materialized (localCheckpoint preserves the partitioning), so no
   * round re-exchanges the edge side — only label-sized rows move.
   * Label rounds stay lazy at small `iters` (one job, no sync
   * barriers) but are materialized every `materializeEvery` rounds so
   * deep runs don't nest the plan linearly in the round count. A graph
   * whose edge rows fit [[Fixpoint.broadcastMaxRows]] runs the rounds
   * on the driver instead ([[LocalGraph.labelPropagation]]).
   */
  def labelPropagation(edges0: DataFrame, iters: Int = 3,
      materializeEvery: Int = 5): DataFrame = {
    // one edge exchange total: pre-partition on src, then checkpoint —
    // every round's join reads the co-located edges (same reasoning as
    // pagerank's edgesDeg repartition, pinned in PlanAuditSpec).
    // NOT broadcast-gated like the BFS/SSSP frontiers: LPA's rounds
    // chain LAZILY (no per-round materialization at small `iters`),
    // so gating would nest one broadcast per round — measured 15%
    // slower at sf0.1 (1.56 → 1.91 s same-JVM A/B; each mid-plan
    // broadcast is a driver barrier). The frontier loops only gate
    // frames already materialized by their own round jobs.
    // The edge-row count rides the checkpoint job, for the local finish.
    val edgeStep = Fixpoint.materialize("labelPropagation", edges0.repartition(col("src")),
      Seq(Fixpoint.rowCount))
    val edges = edgeStep.state
    val seed = edges.select(col("src").as("node")).distinct()
      .withColumn("label", col("node"))
    // one shuffle per round: mode(deterministic = true) is the
    // neighbor-label mode with the lowest label on frequency ties —
    // exactly the (count desc, label asc) argmax, but as a single
    // aggregate (map-side partial label→count maps combine before
    // the exchange) instead of a count shuffle + an argmax shuffle
    def round(labels: DataFrame): DataFrame =
      edges.join(labels, edges("src") === labels("node"))
        .groupBy(col("dst").as("node2"))
        .agg(mode(col("label"), deterministic = true).as("label"))
        .select(col("node2").as("node"), col("label"))
    Fixpoint.finishLocally(edgeStep.metrics("n"), Fixpoint.broadcastMaxRows(edges),
        edges.select("src", "dst")) { case Seq(Array(src, dst)) =>
      val (ids, labels) = LocalGraph.labelPropagation(src, dst, iters)
      Some(kernelRows(if (iters == 0) seed else round(seed), ids, labels))
    }.getOrElse((1 to iters).foldLeft(seed) { (labels, i) =>
      val next = round(labels)
      if (i % materializeEvery == 0 && i < iters) next.materializeRound else next
    })
  }

  /**
   * Newman MODULARITY of a community assignment over a symmetric
   * edge list: Q = Σ_c (intra_c/2m − (deg_c/2m)²) — the standard
   * quality score for [[labelPropagation]]'s output (the eval metric
   * the community family was missing, as nDCG is to retrieval).
   * Three aggregates + two label joins, everything keyed by node or
   * community — the community-sized final sum is the only
   * non-edge-sized stage. 2m = the symmetric edge count, so intra
   * edges count once per direction, matching the textbook form.
   */
  def modularity(edges: DataFrame, labels: DataFrame): DataFrame = {
    val m2 = edges.agg(count(lit(1)).as("m2"))
    val la = labels.select(col("node").as("src"), col("label").as("la"))
    val lb = labels.select(col("node").as("dst"), col("label").as("lb"))
    val intra = edges.join(la, "src").join(lb, "dst")
      .filter(col("la") === col("lb"))
      .groupBy(col("la").as("label")).agg(count(lit(1)).as("intra"))
    val degC = edges.groupBy(col("src").as("node")).agg(count(lit(1)).as("deg"))
      .join(labels, "node")
      .groupBy("label").agg(sum(col("deg")).as("degc"))
    degC.join(intra, Seq("label"), "left")
      .crossJoin(broadcast(m2))
      // (x)*(x), not pow(x, 2): both engines then use one IEEE
      // multiply instead of possibly-divergent libm pow paths
      .select((coalesce(col("intra"), lit(0L)) / col("m2")
        - (col("degc") / col("m2")) * (col("degc") / col("m2"))).as("term"))
      .agg(count(lit(1)).as("n_communities"),
        round(sum(col("term")), 6).as("modularity"))
  }

  /** Fusion-depth sentinel: resolve from the execution regime
    * ([[Fixpoint.AutoFuse]]). */
  val AutoFuse: Int = Fixpoint.AutoFuse

  /**
   * Bounded BFS: exact shortest-hop distances (≤ `maxDepth`) from the
   * `source` node set over a symmetric edge list — the reachability /
   * ego-network primitive. Frontier iteration in the dupClusters
   * mold: per round one edge-sized join against the (node-sized)
   * distance table + a min-aggregate; the edge list is partitioned
   * once and every round consumes it in place. Rounds are
   * materialized every `fuse` steps so deep walks don't re-run their
   * whole history through the lineage — and so the loop pays ONE job
   * dispatch per `fuse` rounds instead of per round. On a single JVM
   * dispatch is cheap; across a process boundary it is the measured
   * tax on round-dominated fixpoints (BASELINE.md round-12: graph_bfs
   * 1.48× multi-process, pure per-round dispatch), and fusing divides
   * it. The fused job is the same relax-join/min-agg composed k deep
   * (shuffle count per ROUND is unchanged; only driver round-trips
   * drop), so results are identical to the unfused loop (law-tested).
   */
  def bfsDistances(edges0: DataFrame, source: DataFrame,
      maxDepth: Int = 3, fuse: Int = AutoFuse): DataFrame =
    relax("bfsDistances", edges0, source.select(col("node"), lit(0L).as("dist")),
      Nil, weighted = false, maxDepth, fuse, Until.Rounds)

  /**
   * The relaxation loop shared by [[bfsDistances]],
   * [[harmonicCentrality]] and the two SSSP variants: state is
   * (carry…, node, dist) — `carry` keys independent walks (harmonic's
   * source column) — and each round joins the frontier onto the edge
   * side, steps `dist` along the edge (`+ w` when `weighted`, else
   * `+ 1`), and keeps the per-key minimum. The edge side is
   * hash-partitioned on src and materialized ONCE, so rounds move only
   * state-sized rows; the seed is distinct (it is source-sized, and a
   * repeated source row must not survive a loop that runs no round)
   * and materialized with its count BEFORE the first gate (gating a
   * lazy source frame would run its whole upstream build inside a
   * BroadcastExchange — a driver barrier under
   * spark.sql.broadcastTimeout). The state's row count rides each
   * block's own materialization job, so the first round of a block
   * picks its join from MEASURED size: a frontier under the gate
   * broadcasts and the pre-partitioned edge side never moves.
   *
   * Without carried keys, a graph whose edge rows and seed both fit
   * [[Fixpoint.broadcastMaxRows]] (counted on the two materializations
   * above) finishes on the driver instead: [[LocalGraph.relax]] runs
   * the same synchronous rounds, and the checksum loop fails there
   * exactly when its blocks would.
   */
  private def relax(op: String, edges0: DataFrame, seed0: DataFrame, carry: Seq[String],
      weighted: Boolean, rounds: Int, fuse: Int, until: Until): DataFrame = {
    val fz = Fixpoint.resolveFuse(edges0, fuse)
    val edgeStep = Fixpoint.materialize(op, edges0.repartition(col("src")), Seq(Fixpoint.rowCount))
    val edges = edgeStep.state
    val metrics =
      if (until == Until.Checksum) Fixpoint.checksum(carry :+ "node" :+ "dist": _*)
      else Seq(Fixpoint.rowCount)
    val keys = carry.map(col)
    val step = if (weighted) col("dist") + col("w") else col("dist") + 1L
    def round(d: DataFrame, measured: Option[Long]): DataFrame = {
      // name-based join: the fused plan joins `edges` against a
      // subplan that already CONTAINS `edges`; USING-resolution
      // stays unambiguous under Spark's relation deduplication
      val frontier0 = d.select(keys ++ Seq(col("node").as("src"), col("dist")): _*)
      val frontier = measured.fold(frontier0)(Fixpoint.gate(frontier0, _))
      val next = edges.join(frontier, Seq("src"))
        .select(keys ++ Seq(col("dst").as("node"), step.as("dist")): _*)
      d.unionByName(next).groupBy(keys :+ col("node"): _*).agg(min("dist").as("dist"))
    }
    val seed = Fixpoint.materialize(op, seed0.distinct(), metrics)
    val local = if (carry.nonEmpty) None else Fixpoint.finishLocally(
        math.max(edgeStep.metrics("n"), seed.metrics("n")), Fixpoint.broadcastMaxRows(edges),
        edges.select(Seq(col("src"), col("dst")) ++ (if (weighted) Seq(col("w")) else Nil): _*),
        seed.state.select("node")) { case Seq(e, Array(nodes)) =>
      val w = if (weighted) e(2).map(java.lang.Double.longBitsToDouble) else null
      LocalGraph.relax(e(0), e(1), w, nodes, rounds).map { fix =>
        Fixpoint.requireConverged(op, until != Until.Checksum ||
          Fixpoint.checksumConverges(fix.rounds, rounds, fz), rounds)
        (if (rounds == 0) seed.state else round(seed.state, None)).schema ->
          fix.ids.indices.map { i =>
            Row(fix.ids(i), if (weighted) fix.values(i) else fix.values(i).toLong)
          }
      }
    }
    local.getOrElse(Fixpoint.run(op, seed, rounds, fz, metrics, until)(round).state)
  }

  /**
   * Harmonic centrality from a SAMPLED source set, bounded depth:
   * H(v) = Σ_{s : 0 < d(s,v) ≤ maxDepth} 1/d(s,v). The standard
   * centrality estimator when exact all-pairs BFS is unpayable —
   * sources are a deterministic sample, depth bounds the frontier,
   * and the estimate sharpens as either grows. All sources run in ONE
   * multi-source BFS: state is (source, node, dist) (≤ |sources| ×
   * reach rows), the edge side exchanges once, and each round is one
   * join + min-aggregate over state-sized rows — |sources|× cheaper
   * than looping [[bfsDistances]] per source.
   */
  def harmonicCentrality(edges0: DataFrame, sources: DataFrame,
      maxDepth: Int = 3, fuse: Int = AutoFuse): DataFrame =
    relax("harmonicCentrality", edges0,
      sources.select(col("node").as("s"), col("node"), lit(0L).as("dist")),
      Seq("s"), weighted = false, maxDepth, fuse, Until.Rounds)
      .filter(col("dist") > 0)
      .groupBy("node")
      .agg(round(sum(lit(1.0) / col("dist")), 6).as("harmonic"))

  /**
   * Global clustering coefficient: 3·triangles / wedges, where a
   * wedge is an ordered open pair at a center (Σ deg·(deg−1)/2) —
   * the transitivity of the graph. Reuses [[triangleCount]]'s
   * degree-oriented join; the wedge count is one aggregate over the
   * degree table. Output: (n_triangles, n_wedges, global_cc).
   */
  def clusteringCoefficient(edges: DataFrame): DataFrame = {
    val wedges = edges.groupBy(col("src")).agg(count(lit(1)).as("deg"))
      .agg(sum(col("deg") * (col("deg") - 1) / lit(2)).cast("long")
        .as("n_wedges"))
    triangleCount(edges).crossJoin(wedges)
      .select(col("n_triangles"), col("n_wedges"),
        round(col("n_triangles") * lit(3) / col("n_wedges"), 6).as("global_cc"))
  }

  /**
   * Degree assortativity: the Pearson correlation of (deg(u), deg(v))
   * over the edges of a symmetric edge list — positive when hubs link
   * hubs (social graphs), negative when hubs link leaves (web/dedup
   * co-occurrence). Two broadcast-sized degree joins + ONE streaming
   * corr aggregate; nothing corpus-sized materializes.
   */
  def assortativity(edges: DataFrame): DataFrame = {
    val deg = edges.groupBy(col("src").as("node")).agg(count(lit(1)).as("deg"))
    edges
      .join(deg.select(col("node").as("src"), col("deg").as("ds")), "src")
      .join(deg.select(col("node").as("dst"), col("deg").as("dd")), "dst")
      .agg(round(corr(col("ds"), col("dd")), 6).as("assortativity"),
        count(lit(1)).as("n_edges"))
  }

  /**
   * Triangle count over a symmetric edge list (columns src, dst).
   * The scalable formulation: orient every undirected edge from its
   * lower-(degree, id) endpoint to the higher one — each triangle
   * then has exactly ONE wedge at its smallest vertex, so the wedge
   * join (oriented ⋈ oriented on the wedge apex) generates each
   * candidate once, and a semi-join against the oriented closing
   * edge confirms it. Degree orientation bounds any vertex's wedge
   * fan-out by O(√|E|) on skewed graphs — the hub that would create
   * deg² wedges points all its edges OUTWARD from its neighbors, so
   * it is never an apex. Total: two aggregations + two shuffle joins
   * over edge-sized rows.
   */
  def triangleCount(edges: DataFrame): DataFrame =
    orientedTriangles(edges).agg(count(lit(1)).as("n_triangles"))

  /**
   * THE shared triangle kernel: every triangle of a symmetric edge
   * list enumerated exactly once as (u, w1, w2), u the
   * smallest-(deg, id) apex and (w1, w2) its wedge ordered by the
   * same key. Undirected edge (a,b) is kept once, oriented by the
   * (deg, id) total order; the endpoint's degree rides along so
   * wedge pairs can be ordered by the SAME key (a plain id order
   * would point some closing edges the other way and miss their
   * triangles). Degree orientation bounds any apex's wedge fan-out
   * by O(√|E|) on skewed graphs — a hub points all its edges
   * OUTWARD from its neighbors, so it is never an apex.
   * Consumed by [[triangleCount]], [[kTruss]] (per peel round), and
   * [[clusteringCoefficient]] — one kernel, no drift.
   */
  def orientedTriangles(edges: DataFrame, bcastDeg: Boolean = false): DataFrame = {
    // bcastDeg: callers that KNOW the measured edge count (kTruss's
    // per-round observe) set it so the node-sized degree table
    // broadcasts instead of shuffling the edge side twice; the
    // default stays shuffle-safe for unknown sizes.
    val deg0 = edges.groupBy(col("src").as("node")).agg(count(lit(1)).as("deg"))
    val deg = if (bcastDeg) broadcast(deg0) else deg0
    val oriented = edges
      .join(deg.select(col("node").as("src"), col("deg").as("sdeg")), "src")
      .join(deg.select(col("node").as("dst"), col("deg").as("ddeg")), "dst")
      .filter(struct(col("sdeg"), col("src")) < struct(col("ddeg"), col("dst")))
      .select(col("src").as("u"), col("dst").as("v"), col("ddeg").as("vdeg"))
      // materialized once: three consumers (both wedge sides + the
      // closing-edge probe) would otherwise each recompute the edge
      // build + degree joins through the lineage
      .materializeRound
    oriented.select(col("u"), col("v").as("w1"), col("vdeg").as("d1"))
      .join(oriented.select(col("u"), col("v").as("w2"), col("vdeg").as("d2")), "u")
      .filter(struct(col("d1"), col("w1")) < struct(col("d2"), col("w2")))
      .join(oriented.select(col("u").as("w1"), col("v").as("w2")),
        Seq("w1", "w2"), "left_semi") // closing edge confirms the triangle
      .select(col("u"), col("w1"), col("w2"))
  }

  /**
   * k-TRUSS (Cohen 2008): the maximal subgraph in which every edge
   * closes at least k−2 triangles WITHIN the subgraph — the edge
   * analog of [[kCore]] and the stricter cohesion cut (every k-truss
   * sits inside the (k−1)-core). Peel: compute per-edge support over
   * the surviving subgraph, drop deficient edges, repeat to fixpoint.
   * Output: surviving canonical (src < dst) edges with their in-truss
   * support.
   *
   * Scale shape: support comes from [[orientedTriangles]]'s
   * degree-oriented enumeration — each triangle generated ONCE at its
   * smallest-(deg,id) apex (hub fan-out bounded ~O(√|E|)), then
   * exploded into its 3 canonical edges and count-aggregated
   * (map-side combining) — never a per-edge common-neighbor join.
   * Edge sets are nested across rounds, so an unchanged edge count is
   * the fixpoint proof, and it rides each round's own materialization
   * via `observe` (the [[kCore]] discipline). Loud failure on
   * iteration-cap exit.
   *
   * Input contract: `edges0` must be a SYMMETRIC edge list (both
   * (u,v) and (v,u) present), like every other operator in this
   * family — the seed degrees are aggregated over the src column
   * only, and the canonical edges inner-join them on both endpoints,
   * so a one-directional list would drop every edge whose dst never
   * appears as src. All graft callers build edges through
   * [[coOccurrenceEdges]], which emits both directions.
   */
  def kTruss(edges0: DataFrame, k: Int, maxIters: Int = 30): DataFrame = {
    require(k >= 3, s"k-truss is defined for k >= 3, got $k")
    val bcastMax = Fixpoint.broadcastMaxRows(edges0)
    // FROZEN orientation: the (initial degree, id) total order is
    // attached to the canonical edges ONCE and carried through every
    // peel round — triangle single-enumeration only needs SOME fixed
    // total order on vertices (each triangle has exactly one apex
    // under it), and the initial-degree order keeps the hub-fanout
    // bound the [[orientedTriangles]] kernel gets from live degrees.
    // Re-deriving the order from peeled degrees each round (the
    // kernel's behavior) costs a degree aggregate + two node joins +
    // a materialization PER ROUND and changes no output: support
    // counts and survivors are enumeration-order-independent. At
    // sf0.1's 3-round fixpoint the same-JVM A/B is a wash (the seed
    // rank join offsets 3 rounds of savings); the win is structural —
    // one edge-sized exchange and one checkpoint fewer per round,
    // which compounds on deep peels and at scale. Seed materialization
    // carries the edge count, so each round's semi-join picks its
    // strategy from the MEASURED surviving count (kCore discipline).
    // seed rank joins are unhinted (input size unknown here; the
    // planner/AQE picks) — they run ONCE, not per round
    val sym0 = edges0.select(col("src"), col("dst"))
    val deg0 = sym0.groupBy(col("src").as("node")).agg(count(lit(1)).as("deg"))
    val seed = Fixpoint.materialize("kTruss", sym0
      .filter(col("src") < col("dst")).distinct()
      .join(deg0.select(col("node").as("src"), col("deg").as("dsrc")), "src")
      .join(deg0.select(col("node").as("dst"), col("deg").as("ddst")), "dst")
      .select(col("src"), col("dst"), col("dsrc"), col("ddst")), Seq(Fixpoint.rowCount))
    def support(canon: DataFrame): DataFrame = {
      // orientation is a FILTER over the carried ranks — no per-round
      // degree work; the wedge key (rank struct) rides each oriented
      // edge so wedge pairs order by the same total order
      val oriented = canon.select(explode(array(
          struct(col("src"), col("dst"), col("dsrc"), col("ddst")),
          struct(col("dst").as("src"), col("src").as("dst"),
            col("ddst").as("dsrc"), col("dsrc").as("ddst")))).as("e"))
        .select(col("e.src").as("u"), col("e.dst").as("v"),
          col("e.dsrc").as("du"), col("e.ddst").as("dv"))
        .filter(struct(col("du"), col("u")) < struct(col("dv"), col("v")))
        .select(col("u"), col("v"), col("dv"))
      val tris = oriented.select(col("u"), col("v").as("w1"), col("dv").as("d1"))
        .join(oriented.select(col("u"), col("v").as("w2"), col("dv").as("d2")), "u")
        .filter(struct(col("d1"), col("w1")) < struct(col("d2"), col("w2")))
        .join(oriented.select(col("u").as("w1"), col("v").as("w2")),
          Seq("w1", "w2"), "left_semi")
        .select(col("u"), col("w1"), col("w2"))
      tris.select(explode(array(
          struct(least(col("u"), col("w1")).as("src"),
            greatest(col("u"), col("w1")).as("dst")),
          struct(least(col("u"), col("w2")).as("src"),
            greatest(col("u"), col("w2")).as("dst")),
          struct(least(col("w1"), col("w2")).as("src"),
            greatest(col("w1"), col("w2")).as("dst")))).as("e"))
        .select(col("e.src").as("src"), col("e.dst").as("dst"))
        .groupBy("src", "dst").agg(count(lit(1)).as("support"))
    }
    val r = Fixpoint.run("kTruss", seed, maxIters, 1, Seq(Fixpoint.rowCount), Until.Stable) {
      (canon, measured) =>
        val strong = support(canon).filter(col("support") >= k - 2)
        val small = measured.exists(_ <= bcastMax)
        canon.join(if (small) broadcast(strong) else strong, Seq("src", "dst"), "left_semi")
    }
    // at fixpoint the support computed over the previous edge set is
    // over the final edge set itself (the peel removed nothing), so it
    // IS the in-truss support (carried rank columns are internal — the
    // output contract stays (src, dst, support))
    r.state.select(col("src"), col("dst")).join(support(r.prev), Seq("src", "dst"))
  }

  /**
   * k-core membership (Matula–Beck peeling): the maximal subgraph in
   * which every node keeps degree ≥ k, found by repeatedly dropping
   * under-degree nodes and re-inducing the edge set until no node
   * falls. Output: (node, deg) — surviving nodes with their IN-CORE
   * degree. The community/spam-cluster coreness signal on the
   * co-occurrence graphs the dedup family builds.
   *
   * Scale: each round is one degree aggregate + two semi-joins over
   * an edge set that only SHRINKS; the edge sets are nested
   * (edgesₜ ⊆ edgesₜ₋₁ — a falling node takes its edges with it), so
   * an unchanged edge COUNT is the fixpoint proof, and that count
   * rides the round's own materialization via `Dataset.observe` —
   * ONE job per peel round (the [[coreness]] discipline; previously
   * a separate keep-count job doubled the driver cadence).
   * Fails loudly if `maxIters` is exhausted before the fixpoint
   * (the [[Dedup.dupClustersBigGraph]] discipline): silent partial
   * peels would report a too-large core.
   *
   * Contract: `edges0` must be SYMMETRIC (both directions present, as
   * [[coOccurrenceEdges]] emits) — the maintained degree counts edge
   * rows by src, which equals the undirected degree only then (same
   * contract as [[kTruss]]).
   */
  def kCore(edges0: DataFrame, k: Int, maxIters: Int = 50): DataFrame = {
    // DECREMENT form of the peel (Matula–Beck with maintained
    // degrees): the loop state is the node-sized (node, deg) table
    // where deg is the node's degree in the subgraph induced by the
    // still-alive nodes — an invariant each round preserves by
    // dropping under-k nodes and subtracting, per surviving node, its
    // edges into the newly-dropped set. Round-by-round it drops
    // exactly the node sets the recompute-the-degrees form dropped
    // (the maintained degree IS the induced-subgraph degree), so the
    // fixpoint, the surviving nodes, and their in-core degrees are
    // identical (law-tested). The shape is the point: the edge table
    // is hash-partitioned on dst ONCE and every round probes it with
    // a SHUFFLE_HASH join against the node-sized newly-dropped set —
    // no edge row ever moves again, no per-round sort, and no
    // broadcast barrier (the previous form built one keep-set
    // broadcast per round: measured 54 jobs / 1.6 s of inter-job
    // driver gaps on the ~13-round sf0.1 peel; this form runs
    // Fixpoint.FuseRounds peel rounds per job with per-sub-round
    // observes — the [[coreness]] discipline — and reads 14 jobs /
    // 0.5 s gaps).
    // Above any broadcast threshold nothing changes: the plan never
    // depended on a broadcast in the first place (the billion-edge
    // regime runs the identical shape).
    // A graph whose edge rows, counted on their materialization, fit
    // Fixpoint.broadcastMaxRows finishes on the driver instead
    // (LocalGraph.kCore: the same peel rounds, the same round cap).
    val edgeStep = Fixpoint.materialize("kCore",
      edges0.select(col("src"), col("dst")).repartition(col("dst")), Seq(Fixpoint.rowCount))
    val edges = edgeStep.state
    val degrees = edges.groupBy(col("src").as("node")).agg(count(lit(1)).as("deg"))
    // each sub-round's surviving-node count rides the block job as a
    // mid-plan observe; counts are monotone non-increasing and an
    // unchanged count proves nothing dropped ⇒ degrees unchanged ⇒
    // fixpoint — detection at round granularity, dispatch at block
    // granularity (see coreness). Sub-round state is referenced twice
    // (drop filter + degree update), but both references sit on reused
    // exchanges, so the duplicated segment re-reads node-sized shuffle
    // output instead of recomputing the chain.
    def peel(d: DataFrame): DataFrame = {
      val newly = d.filter(col("deg") < k).select(col("node").as("dst"))
      val dec = edges.join(newly.hint("shuffle_hash"), Seq("dst"))
        .groupBy(col("src").as("node")).agg(count(lit(1)).as("dec"))
      d.filter(col("deg") >= k)
        .join(dec.hint("shuffle_hash"), Seq("node"), "left")
        .select(col("node"), (col("deg") - coalesce(col("dec"), lit(0L))).as("deg"))
    }
    Fixpoint.finishLocally(edgeStep.metrics("n"), Fixpoint.broadcastMaxRows(edges), edges) {
      case Seq(Array(src, dst)) =>
        val fix = LocalGraph.kCore(src, dst, k, maxIters)
        Fixpoint.requireConverged("kCore", fix.rounds <= maxIters, maxIters)
        Some(kernelRows(peel(degrees), fix.ids, fix.values))
    }.getOrElse {
      val seed = Fixpoint.materialize("kCore", degrees, Seq(Fixpoint.rowCount))
      Fixpoint.run("kCore", seed, maxIters, Fixpoint.FuseRounds, Seq(Fixpoint.rowCount),
        Until.Stable, eachRound = true)((d, _) => peel(d)).state
    }.select(col("node"), col("deg"))
  }

  /**
   * Per-node CORENESS (the k of the deepest k-core containing each
   * node) by distributed h-index iteration (Montresor, De Pellegrini,
   * Miorandi, "Distributed k-core decomposition", 2011): start every
   * node at its degree; each round a node's value becomes the H-INDEX
   * of its neighbors' values (the largest h with ≥ h neighbors valued
   * ≥ h); the fixpoint is exactly the coreness. Generalizes
   * [[kCore]] from one membership question to the whole decomposition.
   *
   * Convergence: values are integers, per-node monotone
   * NON-INCREASING (the paper's invariant), so an unchanged SUM
   * proves the fixpoint — and the sum rides each round's own
   * materialization job via `Dataset.observe` (ONE job per round,
   * the [[weightedShortestPathsConverged]] discipline). Per round:
   * the statically-partitioned edge side joins node-sized values,
   * then one per-node sort window computes the h-index — edge-sized
   * rows move once per round, like label propagation's mode rounds.
   * Fails loudly on iteration-cap exit.
   */
  def coreness(edges0: DataFrame, maxIters: Int = 100,
      frontier: Boolean = false, adaptive: Boolean = true): DataFrame = {
    val edges = edges0.select(col("src"), col("dst"))
      .repartition(col("dst")).materializeRound
    // histogram h-index aggregate, not a sort window: the edge-sized
    // join output feeds a hash aggregate whose partials are (value,
    // count) histograms — no per-group sort stage, and the shuffle
    // between partial and final carries one bounded histogram per
    // (partition, node) instead of one row per edge. At billion-edge
    // scale that is the round's data-volume ceiling; locally it drops
    // the sort + second-pass stages (9.0 → 7.1 s at sf0.1; the
    // measured-size broadcast below takes the round to 5.5 s).
    val hIndexAgg = org.apache.spark.sql.functions.udaf(
      graft.functions.Aggregators.HIndex)
    def hIndexRound(vals: DataFrame, edgeSide: DataFrame,
        bcastVals: Boolean = false): DataFrame = {
      val v = vals.select(col("node").as("dst"), col("c").as("cd"))
      // non-broadcast applications: SHUFFLE_HASH, not sort-merge —
      // the edge side is already hash-partitioned on dst, so SHJ
      // builds a per-partition map of the node-sized value side and
      // never sorts (or moves) an edge row; the build side has ONE
      // unique row per node, so per-partition build memory is
      // nodes/partitions and skew-free (guide §3.1)
      edgeSide
        .join(if (bcastVals) broadcast(v) else v.hint("shuffle_hash"), "dst")
        .groupBy(col("src").as("node"))
        .agg(hIndexAgg(col("cd")).as("c"))
    }
    val deg = edges.groupBy(col("src").as("node")).agg(count(lit(1)).as("c"))

    // MODE SELECTION rides the seed materialization the loop needs
    // anyway (one extra observe column, zero extra jobs): the default
    // full-recompute mode wins when the fixpoint lands in few rounds
    // (low-diameter graphs — dense co-occurrence, expanders: measured
    // 5.5 s vs frontier's 14.5 s at sf0.1), but POWER-LAW graphs carry
    // long pendant chains whose h-index fixpoint needs ~chain-length
    // rounds, and paying a full edge recompute each round collapses
    // (measured 481 s default vs 97 s frontier on the 1.1M-edge Zipf
    // probe fixture, hub degree 53k). Chain mass is measurable up
    // front: the degree-≤2 node fraction is ~0 on every low-diameter
    // fixture and ≥70% on the Zipf fixture, so ≥30% chooses frontier.
    val seed = Fixpoint.materialize("coreness", deg, Seq(Fixpoint.rowCount,
      "s" -> coalesce(sum(col("c")), lit(0L)),
      "low" -> coalesce(sum((col("c") <= 2).cast("long")), lit(0L))))
    val n0 = seed.metrics("n")
    val useFrontier = frontier || (adaptive && seed.metrics("low") * 10L >= n0 * 3L)

    // the observe carries the EXACT node count up front, so the join
    // strategy is chosen from measured size, not an estimate: a value
    // table under the threshold pins the edge side in place — zero
    // edge-row movement per round; above it (the billion-node regime)
    // every application falls back to the shuffled hash join (the
    // threshold is [[Fixpoint.broadcastMaxRows]]). Value tables only
    // ever SHRINK from n0 (h-index output groups ≤ nodes), so one
    // threshold covers every round in BOTH modes — frontier rounds
    // broadcast their (≤ node-sized) dirty sets and recomputed deltas
    // under the same gate.
    val bcast = n0 <= Fixpoint.broadcastMaxRows(edges)
    def gated(d: DataFrame): DataFrame = if (bcast) broadcast(d) else d

    // MID-RUN ESCAPE HATCH: the seed-time predictor above is a
    // one-shot static threshold, and graphs in the untested middle
    // band (long pendant chains at 20-29% degree-≤2 mass — below the
    // frontier trigger, still ~chain-length rounds to converge) would
    // pay a full edge recompute per round for hundreds of rounds. So
    // the default mode runs under a ROUND BUDGET; if it hasn't
    // converged by then, the loop switches to frontier mode FROM THE
    // CURRENT VALUES — sound because the h-index fixpoint is
    // mode-independent and every intermediate state is still an
    // upper bound of it (values are monotone non-increasing from the
    // degree seed), so continuing the contraction in either mode
    // reaches the same fixpoint (law-tested). This bounds the
    // predictor's worst case at budget × full-recompute-round + the
    // frontier cost the graph would have paid anyway.
    val escapeBudget = edges.sparkSession.conf
      .get("spark.graft.coreness.escapeRounds", "16").toInt
    val budget = if (adaptive) math.min(maxIters, escapeBudget) else maxIters

    // FRONTIER mode (Montresor's optimization): a node's h-index
    // reads only its neighbors' values, so after the first round only
    // nodes with a CHANGED neighbor can move — per-round data volume
    // scales with the frontier's edge neighborhood, not the graph.
    // Costs ~5 stages/round vs the default's 3, so it LOSES where
    // stage overhead dominates (measured 14.5 s vs the default's 5.5 s
    // on the 242k-edge fixture whose frontier halves each round; the
    // default additionally rides the histogram aggregate and the
    // measured-size broadcast above) and wins where
    // per-row volume dominates — the billion-edge regime this mode
    // exists for. Both edge partitionings materialize once; the
    // moved-count rides each round's job via observe. Law-tested
    // equal to the default mode.
    def frontierRound(vals: DataFrame, changed: DataFrame, edgesBySrc: DataFrame): DataFrame = {
      // no distinct on dirty: it is only ever a semi-join right side.
      // Every node-sized side (changed, dirty, the recomputed delta,
      // and the value join inside hIndexRound) rides the measured-size
      // broadcast gate computed at seed time — under the threshold a
      // frontier round's only exchange is the h-index aggregate; above
      // it everything falls back to shuffled joins as before.
      val dirty = edges
        .join(gated(changed.withColumnRenamed("node", "dst")), Seq("dst"), "left_semi")
        .select(col("src"))
      val recomputed = hIndexRound(
        vals, edgesBySrc.join(gated(dirty), Seq("src"), "left_semi"), bcast)
        .withColumnRenamed("c", "c_new")
      vals.withColumnRenamed("c", "c_old")
        .join(gated(recomputed), Seq("node"), "left_outer")
        .select(col("node"), coalesce(col("c_new"), col("c_old")).as("c"),
          (col("c_new").isNotNull && col("c_new") =!= col("c_old"))
            .cast("long").as("moved"))
    }

    // DEFAULT: full recompute, Fixpoint.FuseRounds h-index applications
    // composed lazily per materialization — values are per-node
    // monotone non-increasing, so a sub-round's observe-carried
    // (count, sum) matches its predecessor's iff it changed nothing.
    // EVERY sub-round's (count, sum) rides the block job as its own
    // mid-plan observe (CollectMetrics passes rows through — zero
    // extra jobs), so convergence is detected at ROUND granularity
    // even though dispatch is block-granular: the first matching
    // sub-round proves the fixpoint, every later sub-round in the
    // block is a provable no-op, and a deep block never needs a
    // follow-up block just to confirm. Only the FIRST application of a
    // block rides the broadcast gate (its value side is the block's
    // materialized input): broadcasting the mid-block LAZY aggregates
    // made each a serialized driver barrier — the r15 shape paid ~5
    // jobs per 2-round block (measured: 57 jobs, 1.9 s of inter-job
    // driver gaps on the 18-round sf0.1 fixpoint) and an escalating
    // 2/4/8 schedule collapsed to 7.9 s vs 3.8 because its nested
    // broadcast exchanges serialize. Mid-block applications instead
    // SHUFFLE the node-sized value aggregate to the dst-pre-partitioned
    // edge side (localCheckpoint preserves the edge partitioning, so
    // no edge row ever moves — the LPA/pagerank pin), which keeps the
    // whole block one multi-stage job; that is also the only shape
    // that is safe at any scale (no driver barrier, no
    // broadcastTimeout on a mid-plan aggregate). 57 jobs → 36 at
    // fuse=4 on the sf0.1 fixture.
    def distributed(): DataFrame = {
      val (escVals, escDirty, roundsUsed) =
        if (useFrontier) (seed.state, seed.state.select("node"), 0)
        else {
          val r = Fixpoint.run("coreness", seed, budget, Fixpoint.FuseRounds,
              Seq(Fixpoint.rowCount, "s" -> coalesce(sum(col("c")), lit(0L))), Until.Stable,
              eachRound = true, loud = !adaptive) { (d, measured) =>
            hIndexRound(d, edges, bcastVals = bcast && measured.isDefined)
          }
          if (r.converged) return r.state
          // budget exhausted: escape to frontier mode from the CURRENT
          // state, seeding the dirty set with the nodes that changed
          // over the LAST default block instead of marking the whole
          // graph dirty. Sound and exact: values are monotone
          // non-increasing, so a node unchanged across the block
          // end-to-end was unchanged in every sub-round (no transient
          // dips to rebound from), and every node was recomputed from
          // its neighbors at the block's final sub-round — only
          // block-changers can invalidate a neighbor. The first frontier
          // round then touches the changed neighborhood, not the graph.
          // The delta seed is only valid when at least one block
          // actually RAN: with escapeRounds=0 the loop never executes,
          // prev == state == the degree seed, and an empty dirty set
          // would read as instant convergence — emitting raw degrees as
          // coreness. All nodes are dirty in that case.
          val dirty =
            if (r.rounds == 0) r.state.select("node")
            else r.state.select(col("node"), col("c"))
              .join(gated(r.prev.select(col("node"), col("c").as("c_prev"))), "node")
              .filter(col("c") =!= col("c_prev"))
              .select("node")
          (r.state, dirty, r.rounds)
        }

      val edgesBySrc = edges.repartition(col("src")).materializeRound
      Fixpoint.run("coreness", Fixpoint.Step(escVals, Map.empty), maxIters - roundsUsed, 1,
          Seq("m" -> coalesce(sum(col("moved")), lit(0L))), Until.Zero("m")) { (d, _) =>
        // the seed's dirty set is given; later rounds read it off the
        // previous round's moved flag
        if (d eq escVals) frontierRound(escVals, escDirty, edgesBySrc)
        else frontierRound(d.select("node", "c"), d.filter(col("moved") === 1L).select("node"),
          edgesBySrc)
      }.state
    }

    // LOCAL FINISH: the seed's `s` = Σdeg is the edge-row count, so a
    // graph that fits Fixpoint.broadcastMaxRows skips both loops. The
    // kernel's rounds are the Jacobi rounds of both modes (same values,
    // same round cap); the schema is that of the mode that would have
    // produced the state — default rounds, or frontier rounds from the
    // seed, or from default values after an escape.
    Fixpoint.finishLocally(seed.metrics("s"), Fixpoint.broadcastMaxRows(edges), edges) {
      case Seq(Array(src, dst)) => LocalGraph.coreness(src, dst, maxIters).map { fix =>
        Fixpoint.requireConverged("coreness", fix.rounds <= maxIters, maxIters)
        val default = hIndexRound(seed.state, edges)
        val base = if (budget == 0) seed.state else default
        val state =
          if (useFrontier) frontierRound(seed.state, seed.state.select("node"), edges)
          else if (fix.rounds <= budget) default
          else frontierRound(base, base.select("node"), edges)
        kernelRows(state.select("node", "c"), fix.ids, fix.values)
      }
    }.getOrElse(distributed()).select(col("node"), col("c").as("coreness"))
  }

  /**
   * PageRank with a fixed iteration count over a symmetric edge list
   * (columns src, dst): rank_{t+1}(v) = (1-d)/N + d·Σ_{u→v}
   * rank_t(u)/outdeg(u). Symmetric edges mean no dangling nodes, so
   * no redistribution term.
   *
   * The call runs one job: it materialises (src, dst) with its row
   * count observed on that job. A graph whose edge rows fit
   * [[Fixpoint.broadcastMaxRows]] then finishes on the driver
   * ([[LocalGraph.pagerank]]: the same rounds over the same edge-row
   * multiset, one more job for the gather). Above the budget, the k
   * iterations form ONE lazy plan over the materialised edges: the
   * edge exchange subtree is identical in every iteration, so Spark's
   * ReuseExchange materializes it once — the probe shows 3 iterations
   * cost ~1 edge shuffle plus 3 rank-sized ones.
   *
   * Ranks are rounded to 8 decimals at the end only; intermediate
   * arithmetic is raw doubles (same in the DuckDB oracle).
   */
  def pagerank(edges: DataFrame, iters: Int = 3, damping: Double = 0.85): DataFrame =
    rounded(pagerankRanks(edges, iters, damping))

  /** [[pagerank]] before its final rounding. */
  private[graft] def pagerankRanks(edges0: DataFrame, iters: Int, damping: Double): DataFrame = {
    val edgeStep = Fixpoint.materialize("pagerank", edges0.select(col("src"), col("dst")),
      Seq(Fixpoint.rowCount))
    val edges = edgeStep.state
    // outdeg is edge-sized but aggregates to node-sized; it is reused
    // every iteration, so pre-join it onto the edges once: the
    // per-iteration join then carries (src, dst, outdeg) rows and the
    // identical subtree is exchange-reused across iterations (ONE
    // edge shuffle total — asserted in PlanAuditSpec).
    val deg = edges.groupBy(col("src")).agg(count(lit(1)).as("outdeg"))
    val edgesDeg = edges.join(deg, "src").repartition(col("src"))
    // N as a broadcast one-row aggregate, not a driver-side count():
    // the whole k-iteration computation stays ONE lazy plan — no
    // materialization barrier, and the node-count subtree is
    // exchange-reused too. Symmetric edges ⇒ src covers every node.
    val n = edges.agg(countDistinct(col("src")).as("n_nodes"))
    val seed = deg.crossJoin(n)
      .select(col("src").as("node"), (lit(1.0) / col("n_nodes")).as("rank"))
    def round(ranks: DataFrame): DataFrame =
      edgesDeg.join(ranks, edgesDeg("src") === ranks("node"))
        .groupBy(col("dst").as("node2"))
        .agg(sum(col("rank") / col("outdeg")).as("contrib"))
        .crossJoin(n)
        .select(col("node2").as("node"),
          (lit(1.0 - damping) / col("n_nodes") + lit(damping) * col("contrib")).as("rank"))
    Fixpoint.finishLocally(edgeStep.metrics("n"), Fixpoint.broadcastMaxRows(edges), edges) {
      case Seq(Array(src, dst)) =>
        val (ids, ranks) = LocalGraph.pagerank(src, dst, None, iters, damping)
        Some(kernelRows(if (iters == 0) seed else round(seed), ids, ranks))
    }.getOrElse((1 to iters).foldLeft(seed)((ranks, _) => round(ranks)))
  }

  private def rounded(ranks: DataFrame): DataFrame =
    ranks.select(col("node"), round(col("rank"), 8).as("rank"))

  /** A local kernel's per-node values as rows of `state`'s schema: the
    * distributed state the loop would have produced, planned, never run. */
  private def kernelRows(state: DataFrame, ids: Array[Long], values: Array[_]) =
    state.schema -> ids.indices.map(i => Row(ids(i), values(i)))

  /**
   * Weighted single-source shortest paths, Bellman–Ford shape: each
   * round relaxes every edge once (one join + one min-aggregate over
   * slim (node, dist) rows) and `rounds` bounds the hop count —
   * distances are exact for paths of ≤ `rounds` edges, the right
   * contract for the small diameters of co-occurrence graphs (same
   * bounded-rounds discipline as [[bfsDistances]], generalized to
   * weights). min() is order-independent, so the result is
   * deterministic at any partitioning; weights should arrive
   * pre-rounded so cross-engine replays sum identical doubles.
   */
  def weightedShortestPaths(wEdges: DataFrame, source: DataFrame,
      rounds: Int = 4, fuse: Int = AutoFuse): DataFrame =
    relax("weightedShortestPaths", wEdges, source.select(col("node"), lit(0.0).as("dist")),
      Nil, weighted = true, rounds, fuse, Until.Rounds)
      .select(col("node"), round(col("dist"), 6).as("dist"))

  /**
   * [[weightedShortestPaths]] run to FIXPOINT instead of a fixed hop
   * budget — for graphs whose shortest paths are longer than any
   * round count you'd want to hardcode. Convergence is gated by the
   * same two-tier check as the CC loop: a one-aggregate checksum
   * (count + bit_xor of the hashed rows) per round, with the exact
   * two-sided EXCEPT only on checksum match — one tiny job per round,
   * no wrong early stop possible (the checksum rides the relax job
   * itself, so it costs no job of its own). `maxRounds` bounds runaway
   * graphs with negative-cost cycles (true Bellman–Ford termination):
   * the call fails loudly there rather than return distances that are
   * not a fixpoint. Distances are exact at fixpoint for non-negative
   * weights.
   *
   * `fuse` relax rounds run per materialized job (see
   * [[bfsDistances]] — per-round driver dispatch is the measured
   * multi-process tax on fixpoint loops), with the checksum observed
   * on the fused job. Convergence is detected at fused-block
   * granularity: k rounds changing nothing is a strictly stronger
   * witness than one round changing nothing, so the fixpoint (and
   * the result) is identical — the loop just may run up to k−1
   * no-op relaxations inside its final job. That overshoot is REAL
   * data work (each no-op round still joins and re-aggregates), so
   * the default stays at 2 — dispatch halves, overshoot is at most
   * one wasted round; fuse=4 measured 1.5× the per-round wall time
   * at sf0.1 local[32] because short fixpoints rounded up to whole
   * blocks. Raise it only where dispatch dominates the round (deep
   * fixpoints across a process boundary).
   */
  def weightedShortestPathsConverged(wEdges: DataFrame, source: DataFrame,
      maxRounds: Int = 64, fuse: Int = AutoFuse): DataFrame =
    relax("weightedShortestPathsConverged", wEdges,
      source.select(col("node"), lit(0.0).as("dist")),
      Nil, weighted = true, maxRounds, fuse, Until.Checksum)
      .select(col("node"), round(col("dist"), 6).as("dist"))

  /**
   * Personalized PageRank (random walk with restart): the teleport
   * mass lands on a SEED set instead of uniformly — the standard
   * "related items from these examples" primitive behind
   * recommendation and seed-expansion retrieval. Same one-edge-
   * shuffle discipline as [[pagerank]] (outdeg pre-joined, N/|S| as
   * broadcast one-row aggregates); the per-round full-outer join
   * keeps contribution-less seeds alive (their restart mass never
   * disappears) and the seed set is bounded, so its side broadcasts.
   * Like [[pagerank]], the call materialises its edges, and also its
   * distinct seeds, each with its row count, and finishes on the driver
   * when both fit [[Fixpoint.broadcastMaxRows]].
   */
  def personalizedPagerank(edges: DataFrame, seeds: DataFrame,
      iters: Int = 3, damping: Double = 0.85): DataFrame =
    rounded(personalizedPagerankRanks(edges, seeds, iters, damping))

  /** [[personalizedPagerank]] before its final rounding. */
  private[graft] def personalizedPagerankRanks(edges0: DataFrame, seeds: DataFrame,
      iters: Int, damping: Double): DataFrame = {
    val edgeStep = Fixpoint.materialize("personalizedPagerank",
      edges0.select(col("src"), col("dst")), Seq(Fixpoint.rowCount))
    val edges = edgeStep.state
    val deg = edges.groupBy(col("src")).agg(count(lit(1)).as("outdeg"))
    val edgesDeg = edges.join(deg, "src").repartition(col("src"))
    val seedStep = Fixpoint.materialize("personalizedPagerank",
      seeds.select(col("node").as("_seed")).distinct(), Seq(Fixpoint.rowCount))
    val seedSet = seedStep.state
    val ns = seedSet.agg(count(lit(1)).as("n_seeds"))
    val seed = seedSet.crossJoin(ns)
      .select(col("_seed").as("node"), (lit(1.0) / col("n_seeds")).as("rank"))
    def round(ranks: DataFrame): DataFrame = {
      val contrib = edgesDeg.join(ranks, edgesDeg("src") === ranks("node"))
        .groupBy(col("dst").as("node2"))
        .agg(sum(col("rank") / col("outdeg")).as("contrib"))
      contrib.join(seedSet, col("node2") === col("_seed"), "full_outer")
        .crossJoin(ns)
        .select(coalesce(col("node2"), col("_seed")).as("node"),
          (lit(damping) * coalesce(col("contrib"), lit(0.0)) +
            when(col("_seed").isNotNull, lit(1.0 - damping) / col("n_seeds"))
              .otherwise(lit(0.0))).as("rank"))
    }
    Fixpoint.finishLocally(math.max(edgeStep.metrics("n"), seedStep.metrics("n")),
        Fixpoint.broadcastMaxRows(edges), edges, seedSet) {
      case Seq(Array(src, dst), Array(nodes)) =>
        val (ids, ranks) = LocalGraph.pagerank(src, dst, Some(nodes), iters, damping)
        Some(kernelRows(if (iters == 0) seed else round(seed), ids, ranks))
    }.getOrElse((1 to iters).foldLeft(seed)((ranks, _) => round(ranks)))
  }
}
