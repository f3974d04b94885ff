package graft.operators

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.SparkTestSession

/** Retrieval (BM25/TF-IDF), Sketches (heavy hitters), Graph (pagerank),
  * random projection, and z-order layout on constructed inputs. */
class RetrievalGraphSpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark
  import spark.implicits._

  private lazy val docs = Seq(
    (0L, "spark spark spark shuffle"),          // tf(spark)=3, dl=4
    (1L, "spark shuffle shuffle join"),         // tf(spark)=1
    (2L, "window sort agg filter"),             // no query terms
    (3L, "spark join")                          // short doc
  ).toDF("doc_id", "text")

  test("bm25TopK ranks by term frequency and scores term-free docs zero") {
    val out = Retrieval.bm25TopK(docs, Seq("spark"), k = 10)
      .collect().map(r => r.getLong(0) -> r.getDouble(2)).toMap
    assert(out(0L) > out(1L), "3 occurrences must outscore 1 at equal-ish dl")
    assert(out(2L) === 0.0)
    // hand-replay of the formula for doc 3: N=4, df=3, avgdl=3.5
    val idf = BigDecimal(math.log((4 - 3 + 0.5) / (3 + 0.5) + 1.0))
      .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    val tf = 1.0; val dl = 2.0
    val expected = idf * (tf * 2.2) / (tf + 1.2 * (0.25 + 0.75 * dl / 3.5))
    assert(math.abs(out(3L) - BigDecimal(expected).setScale(4,
      BigDecimal.RoundingMode.HALF_UP).toDouble) < 1e-9)
  }

  test("bm25TopK honors k and the length normalization favors short docs at equal tf") {
    val out = Retrieval.bm25TopK(docs, Seq("spark"), k = 2).collect()
    assert(out.length === 2)
    // doc 3 (dl=2) vs doc 1 (dl=4), both tf=1: shorter wins
    val all = Retrieval.bm25TopK(docs, Seq("spark"), k = 10)
      .collect().map(r => r.getLong(0) -> r.getDouble(2)).toMap
    assert(all(3L) > all(1L))
  }

  test("tfIdf emits zero weight for absent terms and higher weight for rare terms") {
    val w = Retrieval.tfIdf(docs, Seq("spark", "window"))
      .collect().map(r => r.getLong(0) -> (r.getDouble(1), r.getDouble(2))).toMap
    assert(w(2L)._1 === 0.0)        // no "spark" in doc 2
    assert(w(2L)._2 > 0.0)          // "window" present
    assert(w(0L)._2 === 0.0)
  }

  test("heavyHitters is EXACTLY the full groupBy answer on a skewed stream") {
    val items = (Seq.fill(50)("a") ++ Seq.fill(30)("b") ++ Seq.fill(12)("c") ++
      (1 to 8).map(i => s"rare$i")).toDF("k").repartition(7)
    val phi = 0.2 // threshold ceil(0.2*100) = 20 -> {a, b}
    val got = Sketches.heavyHitters(items, "k", phi)
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    val exact = items.groupBy("k").count().filter(col("count") >= 20)
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(got === exact)
    assert(got === Map("a" -> 50L, "b" -> 30L))
  }

  test("heavyHitters candidate pass is ONE job (count rides the MG scan)") {
    // narrow input (no shuffle) so the only jobs counted are
    // heavyHitters' own scans, not an AQE stage materialization
    val items = spark.range(100).select(
      when(col("id") < 60, "a").otherwise(concat(lit("r"), col("id"))).as("k"))
    items.count() // materialize any lazy setup outside the window
    val jobs = new java.util.concurrent.atomic.AtomicInteger(0)
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(js: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
        jobs.incrementAndGet()
    }
    spark.sparkContext.addSparkListener(listener)
    try {
      // the eager half of heavyHitters (candidates + total N) must be
      // a single job — the separate df.count() scan is gone
      Sketches.heavyHitters(items, "k", phi = 0.2)
      Thread.sleep(1000) // listener bus is async; let events drain
      assert(jobs.get() === 1, s"candidate pass ran ${jobs.get()} jobs, expected 1")
    } finally spark.sparkContext.removeSparkListener(listener)
  }

  test("weightedShortestPathsConverged: checksum rides the relax job (no per-round checksum aggregate)") {
    val e = Seq((0L, 1L, 1.0), (1L, 2L, 1.0), (2L, 3L, 1.0)).toDF("src", "dst", "w")
    val wEdges = e.union(e.select(col("dst").as("src"), col("src").as("dst"), col("w")))
    val source = Seq(0L).toDF("node")
    wEdges.count() // materialize lazy setup outside the window
    val aqe = spark.conf.get("spark.sql.adaptive.enabled")
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    val jobs = new java.util.concurrent.atomic.AtomicInteger(0)
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(js: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
        jobs.incrementAndGet()
    }
    spark.sparkContext.addSparkListener(listener)
    try {
      // fuse = 1 isolates what this test pins — the checksum riding
      // the relax job itself — from round fusion (whose own law and
      // job-count effects the fusion-law test covers)
      val out = SparkTestSession.distributedLoops(spark, 4)(
        Graph.weightedShortestPathsConverged(wEdges, source, fuse = 1)
          .collect().map(r => (r.getLong(0), r.getDouble(1))).toMap)
      assert(out === Map(0L -> 0.0, 1L -> 1.0, 2L -> 2.0, 3L -> 3.0))
      Thread.sleep(1000) // listener bus is async; let events drain
      // budget: 1 edge pre-partition + 1 initial materialize +
      // 4 rounds × (1 relax job + ≤1 broadcast-exchange job) + 2 exact
      // EXCEPT probes on the final checksum match + 1 result collect
      // = 13. The old shape (separate checksum aggregate per round)
      // adds ≥4 more jobs and must fail this bound.
      assert(jobs.get() <= 13, s"SSSP loop ran ${jobs.get()} jobs, budget 13")
    } finally {
      spark.sparkContext.removeSparkListener(listener)
      spark.conf.set("spark.sql.adaptive.enabled", aqe)
    }
  }

  test("heavyHitters with adversarial partitioning still recalls every hitter") {
    // the hitter is diluted evenly so no partition sees it dominant
    val items = (1 to 400).map(i => if (i % 4 == 0) "hot" else s"cold$i")
      .toDF("k").repartition(16)
    val got = Sketches.heavyHitters(items, "k", phi = 0.25)
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(got === Map("hot" -> 100L))
  }

  test("cmsEstimates: overestimate-only, exact on collision-free domains") {
    val items = (Seq.fill(40)("x") ++ Seq.fill(25)("y") ++ (1 to 30).map(i => s"t$i"))
      .toDF("k").repartition(5)
    val rows = Sketches.cmsEstimates(items, "k", depth = 4, width = 8192, topK = 5)
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2)))
    assert(rows.length === 5)
    rows.foreach { case (k, exact, est) =>
      assert(est >= exact, s"CMS under-counted $k: est=$est < exact=$exact")
    }
    // 32 distinct keys in 8192 buckets: the top keys' min-row is
    // collision-free, so the estimate is exact
    val top = rows.find(_._1 == "x").get
    assert(top._2 === 40L && top._3 === 40L)
  }

  test("countMinSketch is mergeable: sketch(a ++ b) = cell-wise sum of sketches") {
    val a = (Seq.fill(10)("p") ++ Seq.fill(5)("q")).toDF("k")
    val b = (Seq.fill(7)("p") ++ Seq.fill(3)("r")).toDF("k")
    def cells(df: org.apache.spark.sql.DataFrame) =
      Sketches.countMinSketch(df, "k", depth = 2, width = 64)
        .collect().map(r => (r.getInt(0), r.getLong(1)) -> r.getLong(2)).toMap
    val merged = (cells(a).toSeq ++ cells(b).toSeq)
      .groupBy(_._1).map { case (cell, vs) => cell -> vs.map(_._2).sum }
    assert(merged === cells(a.unionAll(b)))
  }

  test("coOccurrenceEdges builds symmetric distinct pairs within groups") {
    val df = Seq((1L, 10L), (1L, 11L), (1L, 12L), (1L, 10L), (2L, 99L))
      .toDF("grp", "item")
    val edges = Graph.coOccurrenceEdges(df, "grp", "item")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val expect = Set((10L, 11L), (11L, 10L), (10L, 12L), (12L, 10L), (11L, 12L), (12L, 11L))
    assert(edges === expect) // singleton group 2 contributes nothing
  }

  test("kCore peels hairs off a clique; a clique is its own core; under-k graphs empty") {
    def sym(pairs: (Long, Long)*) =
      (pairs ++ pairs.map(_.swap)).toDF("src", "dst")
    // K4 (nodes 0-3) with a pendant chain 3-4-5: the 3-core is K4
    // alone — peeling must cascade (5 falls, then 4 becomes degree-1)
    val k4chain = sym((0L, 1L), (0L, 2L), (0L, 3L), (1L, 2L), (1L, 3L),
      (2L, 3L), (3L, 4L), (4L, 5L))
    val core3 = Graph.kCore(k4chain, k = 3)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toMap
    assert(core3 === Map(0L -> 3L, 1L -> 3L, 2L -> 3L, 3L -> 3L))
    // the clique is already its own 3-core: first round is the fixpoint
    val k4 = sym((0L, 1L), (0L, 2L), (0L, 3L), (1L, 2L), (1L, 3L), (2L, 3L))
    assert(Graph.kCore(k4, k = 3).count() === 4L)
    // demanding more than the graph has empties the core, converged
    assert(Graph.kCore(k4, k = 4).count() === 0L)
    // the h-index fixpoint agrees with the peel: clique nodes have
    // coreness 3; the pendant chain degrades to 1 (node 4 touches the
    // clique but its other neighbor peels away first)
    val cn = Graph.coreness(k4chain).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toMap
    assert(cn === Map(0L -> 3L, 1L -> 3L, 2L -> 3L, 3L -> 3L,
      4L -> 1L, 5L -> 1L))
    // frontier mode (the billion-edge regime's loop) is law-equal
    val cnf = Graph.coreness(k4chain, frontier = true).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toMap
    assert(cnf === cn)
    // MID-RUN ESCAPE law: a graph UNDER the 30% degree-≤2 seed
    // threshold (K20 clique + 7-node chain: 7/27 ≈ 26% → default
    // mode) whose chain needs more h-rounds than a tiny escape budget
    // switches to frontier FROM THE CURRENT VALUES mid-run — the
    // fixpoint must be bit-identical to the pure default mode's
    val clique = for { i <- 0L until 20L; j <- (i + 1) until 20L } yield (i, j)
    val chain = (19L to 26L).sliding(2).map(s => (s(0), s(1))).toSeq
    val mix = sym((clique ++ chain): _*)
    // on the distributed loops (the escape is theirs), at the 27-node count
    def loops[A](body: => A): A = SparkTestSession.distributedLoops(spark, 27)(body)
    val pureDefault = loops(Graph.coreness(mix, adaptive = false).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toMap)
    assert(pureDefault(0L) === 19L && pureDefault(26L) === 1L)
    val spark2 = mix.sparkSession
    spark2.conf.set("spark.graft.coreness.escapeRounds", "2")
    try {
      val escaped = loops(Graph.coreness(mix).collect()
        .map(r => (r.getLong(0), r.getLong(1))).toMap)
      assert(escaped === pureDefault)
    } finally spark2.conf.unset("spark.graft.coreness.escapeRounds")
    // escapeRounds=0 law (regression): with a zero budget the default
    // loop never runs, so the escape MUST seed the frontier all-dirty
    // — a block-delta seed off an unrun block read as instant
    // convergence and emitted raw degrees as coreness
    spark2.conf.set("spark.graft.coreness.escapeRounds", "0")
    try {
      val zeroBudget = loops(Graph.coreness(mix).collect()
        .map(r => (r.getLong(0), r.getLong(1))).toMap)
      assert(zeroBudget === pureDefault)
    } finally spark2.conf.unset("spark.graft.coreness.escapeRounds")
    // k-truss on K4 + a lone triangle hanging off node 3 (3-4-5
    // closed): K4 edges each close 2 triangles (support 2), the
    // triangle's edges close 1 — the 4-truss is exactly K4 (the
    // pendant triangle peels), the 3-truss keeps both, and k=5
    // empties the graph (peel must CASCADE: dropping the triangle
    // zeroes nothing in K4, but no K4 edge reaches support 3)
    val k4tri = sym((0L, 1L), (0L, 2L), (0L, 3L), (1L, 2L), (1L, 3L),
      (2L, 3L), (3L, 4L), (3L, 5L), (4L, 5L))
    val t4 = Graph.kTruss(k4tri, k = 4).collect()
      .map(r => ((r.getLong(0), r.getLong(1)), r.getLong(2))).toMap
    assert(t4 === Map((0L, 1L) -> 2L, (0L, 2L) -> 2L, (0L, 3L) -> 2L,
      (1L, 2L) -> 2L, (1L, 3L) -> 2L, (2L, 3L) -> 2L))
    assert(Graph.kTruss(k4tri, k = 3).count() === 9L)
    assert(Graph.kTruss(k4tri, k = 5).count() === 0L)
  }

  test("modularity: two disjoint triangles score 0.5 split, 0 merged") {
    def sym(pairs: (Long, Long)*) =
      (pairs ++ pairs.map(_.swap)).toDF("src", "dst")
    val twoTris = sym((0L, 1L), (1L, 2L), (0L, 2L), (10L, 11L), (11L, 12L), (10L, 12L))
    val split = Seq(0L -> 0L, 1L -> 0L, 2L -> 0L, 10L -> 1L, 11L -> 1L, 12L -> 1L)
      .toDF("node", "label")
    val r = Graph.modularity(twoTris, split).head()
    assert(r.getLong(0) === 2L)
    assert(math.abs(r.getDouble(1) - 0.5) < 1e-9)   // 2 × (6/12 − (6/12)²)
    val merged = split.select(col("node"), lit(0L).as("label"))
    val r2 = Graph.modularity(twoTris, merged).head()
    assert(r2.getLong(0) === 1L && r2.getDouble(1) === 0.0)
  }

  test("ndcgAtK: perfect ranking scores 1; a top-2 swap scores the hand value; unjudged gains 0") {
    val rels = Seq(("q", 1L, 3.0), ("q", 2L, 2.0), ("q", 3L, 1.0))
      .toDF("query", "doc_id", "rel")
    val perfect = Seq(("q", 1, 1L), ("q", 2, 2L), ("q", 3, 3L))
      .toDF("query", "rank", "doc_id")
    assert(Retrieval.ndcgAtK(perfect, rels, 3).head().getDouble(1) === 1.0)
    val swapped = Seq(("q", 1, 2L), ("q", 2, 1L), ("q", 3, 99L))
      .toDF("query", "rank", "doc_id") // doc 99 unjudged → gain 0
    def l2(x: Double) = math.log(x) / math.log(2)
    val expect = BigDecimal((2.0 / l2(2) + 3.0 / l2(3)) /
        (3.0 / l2(2) + 2.0 / l2(3) + 1.0 / l2(4)))
      .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    assert(Retrieval.ndcgAtK(swapped, rels, 3).head().getDouble(1) === expect)
  }

  test("ndcgAtK: unjudged query and all-zero-relevance query both score a defined 0") {
    val rels = Seq(("q1", 1L, 3.0), ("q2", 1L, 0.0), ("q2", 2L, 0.0))
      .toDF("query", "doc_id", "rel")
    // q1 judged normally, q2 judged but all-zero (idcg = 0), q3 has
    // NO judged rows at all — q2 and q3 must come back as ndcg = 0,
    // not vanish (old inner join) or null (0/0)
    val results = Seq(("q1", 1, 1L), ("q2", 1, 1L), ("q3", 1, 7L))
      .toDF("query", "rank", "doc_id")
    val out = Retrieval.ndcgAtK(results, rels, 3).collect()
      .map(r => r.getString(0) -> r.getDouble(1)).toMap
    assert(out === Map("q1" -> 1.0, "q2" -> 0.0, "q3" -> 0.0))
  }

  test("clusteringCoefficient: clique transitivity 1, star 0, paw hand value") {
    def sym(pairs: (Long, Long)*) =
      (pairs ++ pairs.map(_.swap)).toDF("src", "dst")
    def cc(df: org.apache.spark.sql.DataFrame) =
      Graph.clusteringCoefficient(df).head().getDouble(2)
    val k4 = sym((0L, 1L), (0L, 2L), (0L, 3L), (1L, 2L), (1L, 3L), (2L, 3L))
    assert(cc(k4) === 1.0)
    val star = sym((0L, 1L), (0L, 2L), (0L, 3L), (0L, 4L))
    assert(cc(star) === 0.0)
    // paw: triangle 0-1-2 + pendant 2-3 → 1 triangle; wedges:
    // deg(0)=2, deg(1)=2, deg(2)=3, deg(3)=1 → 1+1+3+0 = 5 → 3/5
    val paw = sym((0L, 1L), (1L, 2L), (0L, 2L), (2L, 3L))
    assert(cc(paw) === 0.6)
  }

  test("harmonicCentrality: hand-computed on a path; multi-source sums per-source inverses") {
    def sym(pairs: (Long, Long)*) =
      (pairs ++ pairs.map(_.swap)).toDF("src", "dst")
    val path = sym((0L, 1L), (1L, 2L), (2L, 3L))
    val h1 = Graph.harmonicCentrality(path, Seq(0L).toDF("node"), maxDepth = 3)
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    assert(h1 === Map(1L -> 1.0, 2L -> 0.5, 3L -> 0.333333))
    val h2 = Graph.harmonicCentrality(path, Seq(0L, 3L).toDF("node"), maxDepth = 3)
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    // node 1 sees source 0 at d=1 and source 3 at d=2 → 1.5; the
    // sources themselves score each other (self at d=0 excluded)
    assert(h2(1L) === 1.5)
    assert(h2(2L) === 1.5)
    assert(h2(0L) === 0.333333)
    assert(h2(3L) === 0.333333)
  }

  test("triangleCount: cliques, cycles, stars, and skewed hubs") {
    def sym(pairs: (Long, Long)*) =
      (pairs ++ pairs.map(_.swap)).toDF("src", "dst")
    def count(df: org.apache.spark.sql.DataFrame) =
      Graph.triangleCount(df).head().getLong(0)
    // K4 has C(4,3)=4 triangles
    assert(count(sym((0L,1L),(0L,2L),(0L,3L),(1L,2L),(1L,3L),(2L,3L))) === 4L)
    // 4-cycle has none
    assert(count(sym((0L,1L),(1L,2L),(2L,3L),(3L,0L))) === 0L)
    // star has none (hub orientation must not blow up or miscount)
    assert(count(sym((0L,1L),(0L,2L),(0L,3L),(0L,4L),(0L,5L))) === 0L)
    // two triangles sharing edge (0,1)
    assert(count(sym((0L,1L),(0L,2L),(1L,2L),(0L,3L),(1L,3L))) === 2L)
    // hub in many triangles: fan of k spokes with consecutive spokes
    // linked -> k-1 triangles through the hub
    val k = 20
    val fan = (1 to k).map(i => (0L, i.toLong)) ++
      (1 until k).map(i => (i.toLong, (i + 1).toLong))
    assert(count(sym(fan: _*)) === (k - 1).toLong)
  }

  test("bfsDistances: exact hop counts on a chain, horizon and unreachable excluded") {
    // chain 0-1-2-3-4-5 plus an isolated edge 100-101
    val chain = (0L until 5L).map(i => (i, i + 1)) ++ Seq((100L, 101L))
    val edges = (chain ++ chain.map(_.swap)).toDF("src", "dst")
    val src = Seq(0L).toDF("node")
    val got = Graph.bfsDistances(edges, src, maxDepth = 3)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got === Map(0L -> 0L, 1L -> 1L, 2L -> 2L, 3L -> 3L),
      s"nodes beyond depth 3 and the disconnected component must be absent: $got")
  }

  test("round fusion law: fused frontier loops equal the per-round loops (bfs, harmonic, sssp, converged sssp)") {
    // a braided graph where rounds genuinely interact: chain with
    // shortcuts, so later relaxations improve earlier distances
    val raw = Seq(
      (0L, 1L, 0.2), (1L, 2L, 0.2), (2L, 3L, 0.2), (3L, 4L, 0.2),
      (4L, 5L, 0.2), (0L, 2L, 0.9), (1L, 4L, 1.1), (0L, 5L, 2.0),
      (2L, 5L, 0.5))
    val wEdges = (raw ++ raw.map(t => (t._2, t._1, t._3))).toDF("src", "dst", "w")
    val edges = wEdges.select("src", "dst")
    val src = Seq(0L).toDF("node")
    // on the distributed loops (fusion is theirs), at the 6-node count
    def sort(df: => org.apache.spark.sql.DataFrame) = SparkTestSession.distributedLoops(spark, 6)(
      df.collect().map(_.toString).sorted.toSeq)
    assert(sort(Graph.bfsDistances(edges, src, maxDepth = 5, fuse = 3))
      === sort(Graph.bfsDistances(edges, src, maxDepth = 5, fuse = 1)))
    val srcs = Seq(0L, 3L).toDF("node")
    assert(sort(Graph.harmonicCentrality(edges, srcs, maxDepth = 4, fuse = 3))
      === sort(Graph.harmonicCentrality(edges, srcs, maxDepth = 4, fuse = 1)))
    assert(sort(Graph.weightedShortestPaths(wEdges, src, rounds = 5, fuse = 2))
      === sort(Graph.weightedShortestPaths(wEdges, src, rounds = 5, fuse = 1)))
    // the fixpoint variant: fused blocks reach the same fixpoint as
    // per-round convergence (k no-op rounds ⊃ one no-op round)
    assert(sort(Graph.weightedShortestPathsConverged(wEdges, src, fuse = 4))
      === sort(Graph.weightedShortestPathsConverged(wEdges, src, fuse = 1)))
  }

  test("labelPropagation collapses disjoint triangles to their min-id communities") {
    val tri = Seq((0L,1L),(1L,2L),(0L,2L),(10L,11L),(11L,12L),(10L,12L))
    val edges = (tri ++ tri.map(_.swap)).toDF("src", "dst")
    val out = Graph.labelPropagation(edges, iters = 3)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(Seq(0L, 1L, 2L).forall(out(_) === 0L))
    assert(Seq(10L, 11L, 12L).forall(out(_) === 10L))
  }

  test("pagerank matches a driver-side power iteration on a star graph") {
    val edges = Seq((0L, 1L), (1L, 0L), (0L, 2L), (2L, 0L)).toDF("src", "dst")
    val got = Graph.pagerank(edges, iters = 3)
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    // reference power iteration
    val n = 3; val d = 0.85
    val deg = Map(0L -> 2.0, 1L -> 1.0, 2L -> 1.0)
    val adj = Map(0L -> Seq(1L, 2L), 1L -> Seq(0L), 2L -> Seq(0L))
    var r = Map(0L -> 1.0 / n, 1L -> 1.0 / n, 2L -> 1.0 / n)
    for (_ <- 1 to 3) {
      r = (0L to 2L).map { v =>
        // toSeq: a Set would collapse equal contributions before the sum
        val in = adj.filter(_._2.contains(v)).keys.toSeq
        v -> ((1 - d) / n + d * in.map(u => r(u) / deg(u)).sum)
      }.toMap
    }
    (0L to 2L).foreach { v => assert(math.abs(got(v) - r(v)) < 1e-7, s"node $v") }
    assert(math.abs(got.values.sum - 1.0) < 1e-6, "ranks stay a distribution")
  }

  test("personalizedPagerank matches a driver power iteration; restart mass stays on seeds") {
    // path 0-1-2-3 (symmetric); seed = {0}
    val edges = Seq((0L, 1L), (1L, 0L), (1L, 2L), (2L, 1L), (2L, 3L), (3L, 2L))
      .toDF("src", "dst")
    val seeds = Seq(Tuple1(0L)).toDF("node")
    val got = Graph.personalizedPagerank(edges, seeds, iters = 3)
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    val d = 0.85
    val deg = Map(0L -> 1.0, 1L -> 2.0, 2L -> 2.0, 3L -> 1.0)
    val adj = Map(0L -> Seq(1L), 1L -> Seq(0L, 2L), 2L -> Seq(1L, 3L), 3L -> Seq(2L))
    var r = Map(0L -> 1.0)
    for (_ <- 1 to 3) {
      r = (0L to 3L).map { v =>
        val contrib = adj.filter(_._2.contains(v)).keys.toSeq
          .map(u => r.getOrElse(u, 0.0) / deg(u)).sum
        v -> (d * contrib + (if (v == 0L) (1 - d) else 0.0))
      }.toMap.filter(_._2 > 0.0)
    }
    r.foreach { case (v, rv) =>
      assert(math.abs(got.getOrElse(v, 0.0) - rv) < 1e-7, s"node $v: ${got.get(v)} vs $rv")
    }
    // total mass never exceeds 1 (walk mass + restart mass only)
    assert(got.values.sum <= 1.0 + 1e-9)
  }

  test("weightedShortestPaths: cheap 2-hop beats expensive direct edge; rounds bound hops") {
    // 0→1→2 costs 0.2+0.2 = 0.4 < direct 0→2 at 1.0 ;
    // 0→3→4→5→6 is a 4-hop chain
    val wEdges = Seq(
      (0L, 1L, 0.2), (1L, 2L, 0.2), (0L, 2L, 1.0),
      (0L, 3L, 0.1), (3L, 4L, 0.1), (4L, 5L, 0.1), (5L, 6L, 0.1)
    ).toDF("src", "dst", "w")
    val source = Seq(Tuple1(0L)).toDF("node")
    val d4 = Graph.weightedShortestPaths(wEdges, source, rounds = 4)
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    assert(d4(0L) === 0.0)
    assert(math.abs(d4(2L) - 0.4) < 1e-9, s"relaxation missed the cheaper 2-hop: ${d4(2L)}")
    assert(math.abs(d4(6L) - 0.4) < 1e-9)
    // 2 rounds cannot reach node 6 (4 hops away)
    val d2 = Graph.weightedShortestPaths(wEdges, source, rounds = 2)
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    assert(!d2.contains(6L), "bounded rounds leaked past the hop limit")
    assert(math.abs(d2(2L) - 0.4) < 1e-9)
  }

  test("weightedShortestPaths equals driver Bellman-Ford on random graphs") {
    val rnd = new scala.util.Random(7)
    for (_ <- 1 to 4) {
      val n = 8 + rnd.nextInt(8)
      val edges = (0 until n * 2).map { _ =>
        (rnd.nextInt(n).toLong, rnd.nextInt(n).toLong,
          (rnd.nextInt(20) + 1) / 10.0)
      }.filter(e => e._1 != e._2).distinct
      if (edges.nonEmpty) {
        val rounds = 4
        val got = Graph.weightedShortestPaths(
          edges.toDF("src", "dst", "w"), Seq(Tuple1(0L)).toDF("node"), rounds)
          .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
        // driver Bellman-Ford, identical bounded-rounds contract
        var dist = Map(0L -> 0.0)
        for (_ <- 1 to rounds) {
          val relax = edges.flatMap { case (s, d, w) =>
            dist.get(s).map(ds => d -> (ds + w))
          }
          dist = (dist.toSeq ++ relax).groupBy(_._1)
            .view.mapValues(_.map(_._2).min).toMap
        }
        assert(got.keySet === dist.keySet)
        dist.foreach { case (v, dv) =>
          assert(math.abs(got(v) - dv) < 1e-6, s"node $v: ${got(v)} vs $dv")
        }
      }
    }
  }

  test("weightedShortestPathsConverged reaches fixpoint past any fixed round budget") {
    // a 30-node chain needs 29 relaxations — far past the default 4
    val chain = (0L until 29L).map(i => (i, i + 1, 0.1)).toDF("src", "dst", "w")
    val got = Graph.weightedShortestPathsConverged(chain, Seq(Tuple1(0L)).toDF("node"))
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    assert(got.size === 30)
    (0 to 29).foreach { i =>
      assert(math.abs(got(i.toLong) - 0.1 * i) < 1e-6, s"node $i: ${got(i.toLong)}")
    }
  }

  test("hub fixture law: 50k-degree star+ring has exact triangles, coreness, " +
      "truss, and components under extreme skew") {
    // The degree-skew law test the power-law probe records at scale
    // (BASELINE.md): a hub of degree 50,000 (node 0) whose leaves
    // 1..50000 also form a ring. Every quantity is known in closed
    // form, so the skew path is checked EXACTLY:
    //  - triangles: one per ring edge (hub + two consecutive leaves)
    //    = 50,000. orientedTriangles orients every spoke INTO the hub
    //    (max degree), so the hub's own wedge fan-out is zero — the
    //    apex work rides the ring nodes, never the hub.
    //  - coreness: leaves have degree 3 (two ring + spoke), the graph
    //    is its own 3-core and the 4-core is empty ⇒ coreness ≡ 3.
    //  - kTruss(3): every edge is in ≥1 triangle ⇒ nothing peels.
    //  - CC: one component.
    val n = 50000L
    val spokes = spark.range(1, n + 1).select(lit(0L).as("src"), col("id").as("dst"))
    val ring = spark.range(1, n + 1).select(col("id").as("src"),
      (col("id") % n + 1).as("dst"))
    val half = spokes.union(ring)
    val sym = half.union(half.select(col("dst").as("src"), col("src").as("dst")))
      .distinct()
    val hubDeg = sym.groupBy("src").agg(count(lit(1)).as("d"))
      .agg(max("d")).head().getLong(0)
    assert(hubDeg === n, "fixture lost its hub")
    assert(Graph.triangleCount(sym).head().getLong(0) === n)
    val core = Graph.coreness(sym)
    assert(core.filter(col("coreness") =!= 3L).count() === 0L)
    assert(core.count() === n + 1)
    // kTruss emits one row per UNDIRECTED edge: n spokes + n ring edges
    assert(Graph.kTruss(sym, k = 3).count() === 2 * n)
    val cc = Dedup.dupClusters(
      sym.select(col("src").as("a_id"), col("dst").as("b_id")), smallGraphEdges = 0)
    assert(cc.select(countDistinct("cluster_id")).head().getLong(0) === 1L)
    assert(cc.count() === n + 1)
  }

  test("kmeansAssign recovers well-separated planted clusters") {
    // 3 orthogonal directions ± small deterministic noise, 30 vectors each
    val vecs = (0 until 90).map { i =>
      val axis = i % 3
      val v = Array.tabulate(12)(d =>
        (if (d / 4 == axis) 10.0 else 0.0) + ((i * 7 + d) % 5) * 0.1)
      (i.toLong, v.toSeq)
    }
    val df = vecs.toDF("vec_id", "embedding")
    val out = Similarity.kmeansAssign(df, k = 3, iters = 3)
      .collect().map(r => r.getLong(0) -> r.getLong(2)).toMap
    // every planted group lands in ONE cluster (id%3 seeding scatters
    // groups across seeds, Lloyd's pulls them together)
    (0 until 3).foreach { axis =>
      val labels = (0 until 90).filter(_ % 3 == axis).map(i => out(i.toLong)).distinct
      assert(labels.size === 1, s"axis $axis split across clusters $labels")
    }
    assert((0 until 3).map(a => out(a.toLong)).distinct.size === 3, "clusters collapsed")
  }

  test("randomProjection is linear and matches driver-side plane dot products") {
    val v = Array.tabulate(64)(i => (i % 7).toFloat - 3f)
    val embs = Seq((1L, v.toSeq), (2L, v.map(_ * 2).toSeq)).toDF("vec_id", "embedding")
    val out = Similarity.randomProjection(embs, k = 4, dims = 64)
      .collect().map(r => r.getLong(0) -> (1 to 4).map(r.getDouble)).toMap
    // linearity: proj(2v) = 2 proj(v)
    (0 until 4).foreach(j => assert(math.abs(out(2L)(j) - 2 * out(1L)(j)) < 1e-9))
    // plane replay
    val md = java.security.MessageDigest.getInstance("MD5")
    val expect = (0 until 4).map { j =>
      (0 until 64).map { i =>
        val w = if ((md.digest(s"proj:$j:$i".getBytes("UTF-8"))(7) & 1) == 1) 1.0 else -1.0
        w * v(i)
      }.sum
    }
    (0 until 4).foreach(j => assert(math.abs(out(1L)(j) - expect(j)) < 1e-9))
  }

  test("shingle_strings (fused one-pass) equals the composed slice/concat_ws formulation") {
    val texts = Seq(
      "a b c d e", "single", "", "two  spaces stay empty", " leading",
      "trailing ", "x y", "exactly three toks")
    val df = texts.zipWithIndex.map { case (t, i) => (i.toLong, t) }.toDF("doc_id", "text")
    for (n <- Seq(2, 3, 5)) {
      val fused = df.select(col("doc_id"),
        graft.functions.TextFunctions.shingle_strings(lower(col("text")), n).as("s"))
        .collect().map(r => r.getLong(0) -> r.getSeq[String](1)).toMap
      val composed = df.select(col("doc_id"),
        Dedup.shingleStringsAll(col("text"), n).as("s"))
        .collect().map(r => r.getLong(0) -> r.getSeq[String](1)).toMap
      assert(fused === composed, s"n=$n")
    }
  }

  test("zvalue interleaves bits (x even positions, y odd)") {
    val out = Seq((3L, 1L), (0xffffL, 0L), (0L, 0xffffL))
      .toDF("x", "y")
      .select(graft.sources.FileIO.zvalue(col("x"), col("y")).as("z"))
      .collect().map(_.getLong(0))
    assert(out(0) === 7L)            // x=0b11 -> 0b101; y=0b1 -> 0b10
    assert(out(1) === 0x55555555L)
    assert(out(2) === 0xAAAAAAAAL)
  }

  test("zorderRoundTrip preserves content and answers box queries exactly") {
    val src = (1 to 1000).map(i => (i.toLong % 97, i.toLong % 89, i.toDouble)).toDF("x", "y", "q")
    val dir = java.nio.file.Files.createTempDirectory("graft-zorder").toString
    val back = graft.sources.FileIO.zorderRoundTrip(src, dir, "x", "y")
    assert(back.count() === 1000)
    val boxed = back.filter(col("x").between(10, 30) && col("y").between(5, 25)).count()
    val expect = src.filter(col("x").between(10, 30) && col("y").between(5, 25)).count()
    assert(boxed === expect)
  }
}
