package graft.core

import java.util.concurrent.atomic.AtomicInteger

import scala.jdk.CollectionConverters._

import org.apache.spark.graft.ListenerBridge
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.SparkTestSession
import graft.operators.{Dedup, Graph}

/**
 * The job shape of the loops that run on [[Fixpoint]]: per call, the
 * number of Spark jobs (with AQE off, so the count is a property of
 * the plan, not of runtime stage statistics) on small fixtures. The
 * pinned counts were measured on the hand-written loops the driver
 * replaced; a driver change that adds a materialisation, a broadcast
 * or a convergence probe shows up here. Also pins the driver's
 * missing-metric rule and audits that the ported loops stay ported.
 */
class FixpointSpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark
  import spark.implicits._

  private def sym(pairs: (Long, Long)*) =
    (pairs ++ pairs.map(_.swap)).toDF("src", "dst")

  /** `body`'s result and the number of jobs it started, AQE off. */
  private def jobsOf[A](body: => A): (A, Int) = {
    val sc = spark.sparkContext
    val aqe = spark.conf.get("spark.sql.adaptive.enabled")
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    val jobs = new AtomicInteger(0)
    val listener = new SparkListener {
      override def onJobStart(js: SparkListenerJobStart): Unit = { jobs.incrementAndGet(); () }
    }
    ListenerBridge.drain(sc)
    sc.addSparkListener(listener)
    try { val a = body; ListenerBridge.drain(sc); (a, jobs.get()) }
    finally {
      sc.removeSparkListener(listener)
      spark.conf.set("spark.sql.adaptive.enabled", aqe)
    }
  }

  // chain 0-1-2-3-4-5 with spurs 1-6 and 2-7: depth-3 BFS from 0
  // reaches {0..3, 6, 7}
  private lazy val tree = sym((0L, 1L), (1L, 2L), (2L, 3L), (3L, 4L), (4L, 5L),
    (1L, 6L), (2L, 7L))
  private val treeDist = Map(0L -> 0L, 1L -> 1L, 2L -> 2L, 3L -> 3L, 6L -> 2L, 7L -> 3L)
  // K4 with the pendant chain 3-4-5 (the kCore law fixture)
  private lazy val k4chain = sym((0L, 1L), (0L, 2L), (0L, 3L), (1L, 2L), (1L, 3L),
    (2L, 3L), (3L, 4L), (4L, 5L))
  private val k4chainCore = Map(0L -> 3L, 1L -> 3L, 2L -> 3L, 3L -> 3L, 4L -> 1L, 5L -> 1L)

  /** `body` under a `spark.graft.broadcastNodes` budget of `rows`. */
  private def withBudget[A](rows: Long)(body: => A): A =
    SparkTestSession.distributedLoops(spark, rows)(body)

  /** The distributed loops, at the fixture's node count ([[SparkTestSession.distributedLoops]]). */
  private def distributed[A](nodes: Long)(body: => A): A = withBudget(nodes)(body)

  private def longMap(df: org.apache.spark.sql.DataFrame) =
    df.collect().map(r => (r.getLong(0), r.getLong(1))).toMap

  test("bfsDistances job count: fuse = 1 and fuse = 3") {
    val source = Seq(0L).toDF("node")
    val (d1, j1) = distributed(8)(
      jobsOf(longMap(Graph.bfsDistances(tree, source, maxDepth = 3, fuse = 1))))
    val (d3, j3) = distributed(8)(
      jobsOf(longMap(Graph.bfsDistances(tree, source, maxDepth = 3, fuse = 3))))
    assert(d1 === treeDist && d3 === treeDist)
    assert((j1, j3) === ((9, 8)))
  }

  test("kCore and kTruss job counts") {
    val (core, jc) = distributed(6)(jobsOf(longMap(Graph.kCore(k4chain, k = 3))))
    assert(core === Map(0L -> 3L, 1L -> 3L, 2L -> 3L, 3L -> 3L))
    val k4tri = sym((0L, 1L), (0L, 2L), (0L, 3L), (1L, 2L), (1L, 3L),
      (2L, 3L), (3L, 4L), (3L, 5L), (4L, 5L))
    val (truss, jt) = jobsOf(Graph.kTruss(k4tri, k = 4).collect().length)
    assert(truss === 6)
    assert((jc, jt) === ((4, 15)))
  }

  test("coreness job count in the default and the frontier mode") {
    val (cd, jd) = distributed(6)(jobsOf(longMap(Graph.coreness(k4chain, adaptive = false))))
    val (cf, jf) = distributed(6)(jobsOf(longMap(Graph.coreness(k4chain, frontier = true))))
    assert(cd === k4chainCore && cf === k4chainCore)
    assert((jd, jf) === ((5, 14)))
  }

  test("dupClusters(smallGraphEdges = 0) job count on the star-forest path") {
    val pairs = Seq((1L, 2L), (2L, 3L), (3L, 4L), (10L, 11L), (20L, 21L), (21L, 22L))
      .toDF("a_id", "b_id")
    val (cc, j) = jobsOf(longMap(Dedup.dupClusters(pairs, smallGraphEdges = 0L)))
    assert(cc === Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 4L -> 1L, 10L -> 10L, 11L -> 10L,
      20L -> 20L, 21L -> 20L, 22L -> 20L))
    assert(j === 17)
  }

  test("local finish job counts: the materializations the loops run, plus one collect") {
    val source = Seq(0L).toDF("node")
    val wTree = tree.withColumn("w", lit(0.5))
    val (b, jb) = jobsOf(longMap(Graph.bfsDistances(tree, source, maxDepth = 3)))
    val (s, js) = jobsOf(Graph.weightedShortestPathsConverged(wTree, source).collect().length)
    val (core, jk) = jobsOf(longMap(Graph.kCore(k4chain, k = 3)))
    val (c, jc) = jobsOf(longMap(Graph.coreness(k4chain)))
    assert(b === treeDist && s === 8 && core.keySet === Set(0L, 1L, 2L, 3L) && c === k4chainCore)
    assert((jb, js, jk, jc) === ((3, 3, 2, 3)))
  }

  test("cut-over: one edge row above the budget runs the distributed loop, at its pinned count") {
    val source = Seq(0L).toDF("node")
    // tree: 14 edge rows; k4chain: 16
    def bfs = jobsOf(longMap(Graph.bfsDistances(tree, source, maxDepth = 3, fuse = 1)))
    val (local, jl) = withBudget(14)(bfs)
    val (dist, jd) = withBudget(13)(bfs)
    assert(local === treeDist && dist === treeDist)
    assert((jl, jd) === ((3, 9)))
    val (_, jk) = withBudget(15)(jobsOf(longMap(Graph.kCore(k4chain, k = 3))))
    val (_, jc) = withBudget(15)(jobsOf(longMap(Graph.coreness(k4chain, adaptive = false))))
    assert((jk, jc) === ((4, 5)))
  }

  test("pagerank, personalized pagerank and label propagation: local and cut-over job counts") {
    val seeds = Seq(0L, 4L).toDF("node")
    def pr = jobsOf(Graph.pagerank(k4chain).collect().length)
    val (p, jp) = pr
    val (q, jq) = jobsOf(Graph.personalizedPagerank(k4chain, seeds).collect().length)
    val (l, jl) = jobsOf(longMap(Graph.labelPropagation(k4chain)).size)
    assert((p, q, l) === ((6, 6, 6)))
    assert((jp, jq, jl) === ((2, 3, 2)))
    // k4chain has 16 edge rows: the edge materialisation, then the lazy plan
    val (pd, jd) = withBudget(15)(pr)
    assert(pd === 6 && jd === 5)
  }

  test("missing-metric rule: 0 only on an empty block; a present metric runs no check") {
    val empty = spark.range(0).toDF()
    val nonEmpty = spark.range(10).toDF()
    assert(Fixpoint.read("op", 2, Map.empty, Seq("n", "s"), empty) === Map("n" -> 0L, "s" -> 0L))
    val e = intercept[IllegalStateException] {
      Fixpoint.read("kCore", 7, Map("n" -> 3L), Seq("n", "s"), nonEmpty)
    }
    assert(e.getMessage.contains("kCore") && e.getMessage.contains("round 7") &&
      e.getMessage.contains("'s'"))
    val (m, jobs) = jobsOf(Fixpoint.read("op", 1, Map("n" -> 5L, "x" -> -1L), Seq("n", "x"), nonEmpty))
    assert(m === Map("n" -> 5L, "x" -> -1L))
    assert(jobs === 0, "a present metric must not run the emptiness check")
  }

  test("source audit: the ported loops hold no hand-written loop, and the deleted keys stay deleted") {
    def read(path: String) =
      new String(java.nio.file.Files.readAllBytes(java.nio.file.Paths.get(path)), "UTF-8")
    val graph = read("src/main/scala/graft/operators/Graph.scala")
    val dedup = read("src/main/scala/graft/operators/Dedup.scala")
    val start = dedup.indexOf("def dupClustersBigGraph(")
    assert(start >= 0)
    val bigGraph = dedup.substring(start, dedup.indexOf("\n  }\n", start))
    for ((name, src) <- Seq("Graph.scala" -> graph, "dupClustersBigGraph" -> bigGraph);
         banned <- Seq("while (", "Observation()"))
      assert(!src.contains(banned), s"$name contains `$banned`: iterate through Fixpoint.run")
    val deleted = Seq("spark.graft.coreness.hofHindex", "spark.graft.kcore.fuseRounds",
      "spark.graft.coreness.fuseRounds", "spark.graft.coreness.broadcastNodes",
      "spark.graft.cc.broadcastNodes")
    val mains = {
      val it = java.nio.file.Files.walk(java.nio.file.Paths.get("src/main"))
      try it.iterator().asScala.filter(_.toString.endsWith(".scala")).toList finally it.close()
    }
    assert(mains.nonEmpty)
    for (p <- mains; key <- deleted)
      assert(!read(p.toString).contains(key), s"$p reads the deleted key $key")
  }

  test("source audit: the graph kernels reach the driver only through the one bounded collect") {
    def read(path: String) =
      new String(java.nio.file.Files.readAllBytes(java.nio.file.Paths.get(path)), "UTF-8")
    val driverCalls = Seq(".collect(", ".collectAsList(", "toLocalIterator", ".take(", ".head(")
    for (file <- Seq("operators/Graph.scala", "core/LocalGraph.scala"); call <- driverCalls)
      assert(!read(s"src/main/scala/graft/$file").contains(call),
        s"$file calls $call: gather through Fixpoint.finishLocally")
    val fixpoint = read("src/main/scala/graft/core/Fixpoint.scala")
    assert(fixpoint.split(java.util.regex.Pattern.quote(".collect(")).length === 2,
      "Fixpoint holds exactly one collect, the local finish's gather")
    assert(!read("src/main/scala/graft/operators/Dedup.scala").contains("driverUnionFind"))
  }
}
