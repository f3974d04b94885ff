package graft.core

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.plans.logical.LocalRelation
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.SparkTestSession
import graft.operators.{Dedup, Graph}

/**
 * Laws of the local finish ([[Fixpoint.finishLocally]]): each graph
 * fixpoint that can finish on the driver returns, under the default
 * budget (local), exactly the rows AND the schema (nullability
 * included) of its distributed loop, run both fully shuffled (budget 0)
 * and with the node-sized broadcasts of the default budget (budget =
 * node count; every fixture has more edge rows than nodes). An empty
 * graph's 0 rows fit either budget, so it runs its loop at budget −1.
 * A loop that fails at its round cap fails on both paths.
 */
class LocalFinishSpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark
  import spark.implicits._

  private def sym(pairs: (Long, Long)*): DataFrame =
    (pairs ++ pairs.map(_.swap)).toDF("src", "dst")

  private def withBudget[A](budget: Option[Long])(body: => A): A =
    budget.fold(body)(SparkTestSession.distributedLoops(spark, _)(body))

  /** Whether `df` came from the local finish (its rows are a LocalRelation). */
  private def isLocal(df: DataFrame): Boolean =
    df.queryExecution.analyzed.exists(_.isInstanceOf[LocalRelation])

  private def rows(df: DataFrame): Seq[String] = df.collect().map(_.toString).sorted.toSeq

  /** `op` on `edges` is local under the default budget and equal, in rows
    * and schema, to its distributed loop at budget 0 and at the node count. */
  private def law(name: String, edges: DataFrame)(op: => DataFrame): Unit =
    lawWith(name, edges, op)((budget, local, dist) =>
      assert(rows(local) === rows(dist), s"$name: rows differ at budget $budget"))

  /** [[law]] for ranks: the same nodes and schema, and every rank within
    * 1e-12 (a rank is a sum whose order is the partitioning's). */
  private def rankLaw(name: String, edges: DataFrame)(op: => DataFrame): Unit =
    lawWith(name, edges, op) { (budget, local, dist) =>
      def ranks(df: DataFrame) = df.collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
      val (l, d) = (ranks(local), ranks(dist))
      assert(l.keySet === d.keySet, s"$name: nodes differ at budget $budget")
      for ((v, r) <- l)
        assert(math.abs(r - d(v)) <= 1e-12, s"$name: node $v ranks $r vs ${d(v)} at budget $budget")
    }

  private def lawWith(name: String, edges: DataFrame, op: => DataFrame)(
      same: (Long, DataFrame, DataFrame) => Unit): Unit = {
    val n = edges.select("src").union(edges.select("dst")).distinct().count()
    val local = op
    assert(isLocal(local), s"$name: the default budget did not finish locally")
    for (budget <- if (n == 0) Seq(-1L) else Seq(0L, n)) {
      val dist = withBudget(Some(budget))(op)
      assert(!isLocal(dist), s"$name: budget $budget did not run the loop")
      assert(local.schema === dist.schema, s"$name: schema differs at budget $budget")
      same(budget, local, dist)
    }
  }

  /** `op` fails at its round cap on both paths. */
  private def failsLoudly(name: String)(op: => DataFrame): Unit =
    for (budget <- Seq(None, Some(0L))) {
      val e = intercept[IllegalArgumentException](withBudget(budget)(op.collect()))
      assert(e.getMessage.contains("no fixpoint after"), s"$name at $budget: ${e.getMessage}")
    }

  // K4 with the pendant chain 3-4-5
  private lazy val k4chain = sym((0L, 1L), (0L, 2L), (0L, 3L), (1L, 2L), (1L, 3L),
    (2L, 3L), (3L, 4L), (4L, 5L))
  // the same graph with a duplicated edge and self-loops, which the
  // joins count as rows
  private lazy val k4multi = k4chain.union(sym((0L, 1L), (5L, 5L), (2L, 2L)))
  // K20 plus a 7-node chain: 7/27 low-degree nodes, so the adaptive
  // default mode runs; its chain outlasts a 2-round escape budget
  private lazy val mix = sym((for { i <- 0L until 20L; j <- (i + 1) until 20L } yield (i, j)) ++
    (19L to 26L).sliding(2).map(s => (s(0), s(1))).toSeq: _*)
  // a sparse pseudo-random graph: 60 nodes, mostly low degree (frontier mode)
  private lazy val sparse = sym((0L until 90L).map { i =>
    ((i * 2654435761L) % 60, (i * 40503L + 7) % 60)
  }.filter(p => p._1 != p._2): _*)
  private lazy val empty = Seq.empty[(Long, Long)].toDF("src", "dst")
  // directed rows: node 0 has no in-row and 4 no out-row, so the rank
  // and label node sets shrink round by round
  private lazy val dag = Seq((0L, 1L), (0L, 2L), (1L, 2L), (2L, 3L), (3L, 4L), (1L, 3L))
    .toDF("src", "dst")

  // a chain with shortcuts: later rounds improve earlier distances, so
  // a round that read distances written in the same round would reach
  // nodes over more edges than the round count allows
  private lazy val braided = {
    val raw = Seq((0L, 1L, 0.2), (1L, 2L, 0.2), (2L, 3L, 0.2), (3L, 4L, 0.2), (4L, 5L, 0.2),
      (0L, 2L, 0.9), (1L, 4L, 1.1), (0L, 5L, 2.0), (2L, 5L, 0.5))
    (raw ++ raw.map(t => (t._2, t._1, t._3))).toDF("src", "dst", "w")
  }

  private def weighted(edges: DataFrame): DataFrame =
    edges.withColumn("w", (pmod(col("src") * 31 + col("dst") * 7, lit(9)) + 1) / 4.0)

  test("coreness: local ≡ distributed in every mode, with duplicate rows and self-loops") {
    for ((gName, g) <- Seq("k4chain" -> k4chain, "k4multi" -> k4multi, "mix" -> mix,
        "sparse" -> sparse, "empty" -> empty)) {
      law(s"coreness adaptive on $gName", g)(Graph.coreness(g))
      law(s"coreness default on $gName", g)(Graph.coreness(g, adaptive = false))
      law(s"coreness frontier on $gName", g)(Graph.coreness(g, frontier = true))
    }
    // the escape (default values, then frontier rounds) and its
    // zero-budget form (frontier rounds from the degrees)
    for (budget <- Seq("2", "0")) {
      spark.conf.set("spark.graft.coreness.escapeRounds", budget)
      try law(s"coreness escapeRounds=$budget", mix)(Graph.coreness(mix))
      finally spark.conf.unset("spark.graft.coreness.escapeRounds")
    }
    failsLoudly("coreness maxIters=2")(Graph.coreness(mix, maxIters = 2, adaptive = false))
    failsLoudly("coreness frontier maxIters=2")(Graph.coreness(mix, maxIters = 2, frontier = true))
  }

  test("kCore: local ≡ distributed, including k above the maximum degree and k = 0") {
    for ((gName, g) <- Seq("k4chain" -> k4chain, "k4multi" -> k4multi, "mix" -> mix,
        "sparse" -> sparse, "empty" -> empty); k <- Seq(0, 2, 3, 50))
      law(s"kCore k=$k on $gName", g)(Graph.kCore(g, k))
    // a self-loop row counts toward its node's degree, as in the join
    assert(Graph.kCore(k4multi, 3).collect().map(r => r.getLong(0) -> r.getLong(1)).toMap ===
      Map(0L -> 4L, 1L -> 4L, 2L -> 5L, 3L -> 3L))
    failsLoudly("kCore maxIters=1")(Graph.kCore(k4chain, k = 3, maxIters = 1))
  }

  test("bfsDistances and weightedShortestPaths: local ≡ distributed at every depth") {
    val src = Seq(0L).toDF("node")
    val cases = Seq(
      "k4multi" -> (k4multi, src),
      "sparse" -> (sparse, Seq(3L, 17L).toDF("node")),
      "absent source" -> (k4chain, Seq(99L).toDF("node")),
      "empty source" -> (k4chain, Seq.empty[Long].toDF("node")),
      "empty edges" -> (empty, src),
      "repeated source" -> (k4chain, Seq(0L, 0L, 4L).toDF("node")))
    for ((name, (g, s)) <- cases; depth <- Seq(0, 1, 3)) {
      law(s"bfs depth $depth, $name", g)(Graph.bfsDistances(g, s, maxDepth = depth))
      val w = weighted(g)
      law(s"sssp rounds $depth, $name", g)(Graph.weightedShortestPaths(w, s, rounds = depth))
    }
    law("bfs fuse 2", sparse)(Graph.bfsDistances(sparse, src, maxDepth = 5, fuse = 2))
    for (depth <- 2 to 5)
      law(s"sssp rounds $depth, braided", braided)(
        Graph.weightedShortestPaths(braided, src, rounds = depth))
  }

  test("relax with zero rounds returns each repeated source once, on both paths") {
    val twice = Seq(0L, 0L).toDF("node")
    for (budget <- Seq(None, Some(0L))) withBudget(budget) {
      assert(Graph.bfsDistances(k4chain, twice, maxDepth = 0).collect().length === 1)
      assert(Graph.weightedShortestPaths(weighted(k4chain), twice, rounds = 0)
        .collect().length === 1)
    }
  }

  test("weightedShortestPathsConverged: local ≡ distributed; a negative cycle fails on both paths") {
    val src = Seq(0L).toDF("node")
    for ((name, g) <- Seq("k4multi" -> weighted(k4multi), "sparse" -> weighted(sparse),
        "empty" -> weighted(empty), "braided" -> braided); fuse <- Seq(1, 3))
      law(s"converged sssp fuse $fuse on $name", g)(
        Graph.weightedShortestPathsConverged(g, src, fuse = fuse))
    for ((name, s) <- Seq("absent" -> Seq(99L), "empty" -> Nil))
      law(s"converged sssp, $name source", k4chain)(
        Graph.weightedShortestPathsConverged(weighted(k4chain), s.toDF("node")))
    // the path 0-1-2-3-4-5 needs 5 changing rounds: 6 rounds converge
    // unfused; fused by 4, the second block starts at round 4, before
    // the last change, so 8 rounds are not enough there
    val chain = (0L until 5L).flatMap(i => Seq((i, i + 1, 1.0), (i + 1, i, 1.0)))
      .toDF("src", "dst", "w")
    law("converged sssp at its cap", chain)(
      Graph.weightedShortestPathsConverged(chain, src, maxRounds = 6, fuse = 1))
    failsLoudly("converged sssp, cap 5")(
      Graph.weightedShortestPathsConverged(chain, src, maxRounds = 5, fuse = 1))
    failsLoudly("converged sssp, fused past its cap")(
      Graph.weightedShortestPathsConverged(chain, src, maxRounds = 8, fuse = 4))
    val cycle = Seq((0L, 1L, 1.0), (1L, 2L, 1.0), (2L, 0L, -3.0)).toDF("src", "dst", "w")
    failsLoudly("negative cycle")(Graph.weightedShortestPathsConverged(cycle, src))
  }

  test("dupClusters: the driver union-find ≡ the star-forest loop, and integral ids widen") {
    val pairs = Seq((1L, 2L), (2L, 3L), (3L, 4L), (10L, 11L), (20L, 21L), (21L, 22L))
      .toDF("a_id", "b_id")
    val local = Dedup.dupClusters(pairs)
    assert(isLocal(local))
    assert(rows(local) === rows(Dedup.dupClusters(pairs, smallGraphEdges = 0)))
    val ints = pairs.select(col("a_id").cast("int"), col("b_id").cast("int"))
    assert(rows(Dedup.dupClusters(ints)) === rows(local))
  }

  test("pagerank and personalizedPagerank: local ≡ distributed within 1e-12 per node") {
    for ((gName, g) <- Seq("k4multi" -> k4multi, "sparse" -> sparse, "dag" -> dag,
        "empty" -> empty); iters <- Seq(0, 3))
      rankLaw(s"pagerank iters=$iters on $gName", g)(Graph.pagerankRanks(g, iters, 0.85))
    rankLaw("pagerank iters=1 on dag", dag)(Graph.pagerankRanks(dag, 1, 0.85))
    val seeds = Seq(
      "one seed" -> Seq(0L),
      "repeated seeds" -> Seq(4L, 0L, 4L),
      "a seed without edges" -> Seq(0L, 99L),
      "no seed" -> Nil)
    for ((gName, g) <- Seq("k4multi" -> k4multi, "dag" -> dag); (sName, s) <- seeds;
         iters <- Seq(0, 3))
      rankLaw(s"ppr iters=$iters, $sName, on $gName", g)(
        Graph.personalizedPagerankRanks(g, s.toDF("node"), iters, 0.85))
    rankLaw("ppr on empty edges", empty)(
      Graph.personalizedPagerankRanks(empty, Seq(3L).toDF("node"), 2, 0.85))
    // the seed with no edges keeps its restart mass; no seed, no rows
    assert(Graph.personalizedPagerank(k4chain, Seq(0L, 99L).toDF("node")).collect()
      .exists(r => r.getLong(0) == 99L && r.getDouble(1) == 0.075))
    assert(Graph.personalizedPagerank(k4chain, Seq.empty[Long].toDF("node")).isEmpty)
  }

  test("labelPropagation: local ≡ distributed, frequency ties going to the smallest label") {
    for ((gName, g) <- Seq("k4multi" -> k4multi, "sparse" -> sparse, "dag" -> dag,
        "empty" -> empty); iters <- Seq(0, 3))
      law(s"labelPropagation iters=$iters on $gName", g)(Graph.labelPropagation(g, iters))
    // node 5 hears labels 1 and 2 once each, and 1 and 2 hear 5
    val fork = sym((5L, 1L), (5L, 2L))
    law("labelPropagation tie", fork)(Graph.labelPropagation(fork, 1))
    assert(Graph.labelPropagation(fork, 1).collect().map(r => r.getLong(0) -> r.getLong(1))
      .toMap === Map(5L -> 1L, 1L -> 5L, 2L -> 5L))
  }
}
