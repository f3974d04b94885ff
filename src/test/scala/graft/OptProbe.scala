package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

/**
 * Optimization-round tooling: time one declared query (or an inline
 * variant) under session-conf variations, min-of-N, with a noop-style
 * count action — the guide §1 isolation loop without touching Bench.
 *
 * Usage: OptProbe <sfDir> <reps> <query1,query2,...> [conf1=v1,conf2=v2]
 */
object OptProbe {
  def main(args: Array[String]): Unit = {
    val sfDir = args(0)
    val reps = args(1).toInt
    val names = args(2).split(",").map(_.trim).filter(_.nonEmpty)
    val confs = if (args.length > 3)
      args(3).split(",").map(_.split("=", 2)).collect { case Array(k, v) => (k, v) }.toSeq
    else Seq.empty
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", Bench.shmLocalDir)
      .config("spark.sql.warehouse.dir",
        java.nio.file.Files.createTempDirectory("graft-optprobe-wh").toString)
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    confs.foreach { case (k, v) => spark.conf.set(k, v); println(s"[optprobe] conf $k=$v") }
    Tables.t(spark, sfDir, "lineitem").count() // warm-up

    // special mode: dump the physical plan of one fused kCore block
    // (state materialized first, as in the real loop) to count the
    // per-sub-round exchanges.
    if (names.sameElements(Array("kcore_plan"))) {
      import graft.core.Materialize.MaterializeOps
      val li = Tables.t(spark, sfDir, "lineitem").filter(col("l_orderkey") % 10 === 0)
      val edges = graft.operators.Graph.coOccurrenceEdges(li, "l_orderkey", "l_partkey")
        .select(col("src"), col("dst")).repartition(col("dst")).materializeRound
      val k = 8
      var d = edges.groupBy(col("src").as("node")).agg(count(lit(1)).as("deg"))
        .materializeRound
      (1 to 4).foreach { _ =>
        val newly = d.filter(col("deg") < k).select(col("node").as("dst"))
        val dec = edges.join(newly.hint("shuffle_hash"), Seq("dst"))
          .groupBy(col("src").as("node")).agg(count(lit(1)).as("dec"))
        d = d.filter(col("deg") >= k)
          .join(dec.hint("shuffle_hash"), Seq("node"), "left")
          .select(col("node"),
            (col("deg") - coalesce(col("dec"), lit(0L))).as("deg"))
      }
      println(d.queryExecution.explainString(
        org.apache.spark.sql.execution.FormattedMode))
      spark.stop(); return
    }

    // special mode: per-JOB breakdown of one iterative-operator run
    // (guide §1: measure the driver cadence before touching the round
    // structure). <op>_jobs for op in coreness/kcore/ktruss.
    if (names.length == 1 && names(0).endsWith("_jobs")) {
      import graft.operators.Graph
      val li = Tables.t(spark, sfDir, "lineitem").filter(col("l_orderkey") % 10 === 0)
      val edges = Graph.coOccurrenceEdges(li, "l_orderkey", "l_partkey")
      def run(): Long = names(0).stripSuffix("_jobs") match {
        case "coreness" => Graph.coreness(edges).count()
        case "kcore" => Graph.kCore(edges, k = 8).count()
        case "ktruss" => Graph.kTruss(edges, k = 5).count()
        case other => sys.error(s"unknown op: $other")
      }
      run() // warm the path once
      val jobs = new java.util.concurrent.ConcurrentLinkedQueue[(Int, Long, Long)]()
      val starts = new java.util.concurrent.ConcurrentHashMap[Int, Long]()
      val listener = new org.apache.spark.scheduler.SparkListener {
        override def onJobStart(js: org.apache.spark.scheduler.SparkListenerJobStart): Unit = {
          starts.put(js.jobId, js.time); ()
        }
        override def onJobEnd(je: org.apache.spark.scheduler.SparkListenerJobEnd): Unit = {
          val s = starts.getOrDefault(je.jobId, je.time)
          jobs.add((je.jobId, s, je.time - s)); ()
        }
      }
      spark.sparkContext.addSparkListener(listener)
      val t0 = System.nanoTime()
      run()
      val wall = (System.nanoTime() - t0) / 1e9
      Thread.sleep(500) // let the listener bus drain the final JobEnd
      spark.sparkContext.removeSparkListener(listener)
      import scala.jdk.CollectionConverters._
      val js = jobs.asScala.toSeq.sortBy(_._1)
      val gaps = js.sliding(2).collect {
        case Seq((_, s1, d1), (_, s2, _)) => s2 - (s1 + d1)
      }.toSeq
      println(f"[optprobe] ${names(0)} wall=$wall%.3f jobs=${js.size} " +
        f"jobTime=${js.map(_._3).sum / 1e3}%.3f gapTime=${gaps.sum / 1e3}%.3f")
      js.foreach { case (id, _, d) => println(f"[optprobe] job $id%3d ${d / 1e3}%.3f s") }
      spark.stop(); return
    }

    // special mode: co-occurrence edge build + kcore/ktruss phases
    if (names.sameElements(Array("graph_phases"))) {
      import graft.operators.Graph
      def time(tag: String)(f: => Any): Unit = {
        val ts = (1 to reps).map { _ =>
          val t0 = System.nanoTime(); val r = f; ((System.nanoTime() - t0) / 1e9, r)
        }
        println(f"[optprobe] $tag min=${ts.map(_._1).min}%.3f " +
          f"all=${ts.map(t => f"${t._1}%.3f").mkString(",")} last=${ts.last._2}")
      }
      val li = Tables.t(spark, sfDir, "lineitem").filter(col("l_orderkey") % 10 === 0)
      time("edges_build")(
        Graph.coOccurrenceEdges(li, "l_orderkey", "l_partkey").count())
      val edges = Graph.coOccurrenceEdges(li, "l_orderkey", "l_partkey").localCheckpoint()
      time("kcore")(Graph.kCore(edges, k = 8).count())
      time("ktruss")(Graph.kTruss(edges, k = 5).count())
      time("triangles")(Graph.triangleCount(edges).count())
      time("bfs")(Graph.bfsDistances(edges,
        edges.agg(min(col("src")).as("node")), maxDepth = 3).count())
      time("communities")(Graph.labelPropagation(edges, iters = 3).count())
      spark.stop(); return
    }

    // special mode: tokenCosinePairs old-vs-new in one JVM
    if (names.sameElements(Array("tc_ab"))) {
      import graft.operators.Dedup
      import graft.functions.TextFunctions.shingle_strings
      def time(tag: String)(f: => Any): Unit = {
        val ts = (1 to reps).map { _ =>
          val t0 = System.nanoTime(); val r = f; ((System.nanoTime() - t0) / 1e9, r)
        }
        println(f"[optprobe] $tag min=${ts.map(_._1).min}%.3f " +
          f"all=${ts.map(t => f"${t._1}%.3f").mkString(",")} last=${ts.last._2}")
      }
      val part = Tables.t(spark, sfDir, "part").select(col("p_partkey"), col("p_name"))
      val typo = part.filter(col("p_partkey") % 100 === 0)
        .select((col("p_partkey") + 1000000L).as("p_partkey"),
          concat(substring(col("p_name"), lit(1), length(col("p_name")) - 1), lit("x"))
            .as("p_name"))
      val items = part.unionAll(typo).localCheckpoint()
      def oldTc(threshold: Double): Long = {
        val feats = shingle_strings(lower(col("p_name")), 2)
        val toks = items.select(col("p_partkey").as("id"),
          explode(array_distinct(feats)).as("tok"))
        val sz = toks.groupBy("id").agg(count(lit(1)).as("n"))
        val dfreq = toks.groupBy("tok").agg(count(lit(1)).as("df"))
        val ordered = toks.join(dfreq, "tok")
          .withColumn("r", row_number().over(
            org.apache.spark.sql.expressions.Window.partitionBy("id")
              .orderBy(col("df").asc, col("tok").asc)))
          .join(sz, "id")
        val prefix = ordered.filter(
          col("r") <= col("n") - ceil(lit(threshold * threshold) * col("n")) + 1)
        val cand = Dedup.pairsFromBuckets(prefix, Seq("tok"), maxBucket = 10000)
        val inter = cand
          .join(toks.select(col("id").as("a_id"), col("tok")), "a_id")
          .join(toks.select(col("id").as("b_id"), col("tok")), Seq("b_id", "tok"))
          .groupBy("a_id", "b_id").agg(count(lit(1)).as("inter"))
        inter
          .join(sz.select(col("id").as("a_id"), col("n").as("na")), "a_id")
          .join(sz.select(col("id").as("b_id"), col("n").as("nb")), "b_id")
          .select(col("a_id"), col("b_id"),
            round(col("inter") / sqrt(col("na") * col("nb")), 4).as("cos"))
          .filter(col("cos") >= threshold)
          .count()
      }
      def newTc(threshold: Double): Long =
        Dedup.tokenCosinePairs(items, "p_name", "p_partkey",
          threshold = threshold, shingle = 2).count()
      time("tc_old")(oldTc(0.7)); time("tc_new")(newTc(0.7))
      time("tc_old2")(oldTc(0.7)); time("tc_new2")(newTc(0.7))
      spark.stop(); return
    }

    // special mode: ngramJaccardPairs old-vs-new in one JVM
    if (names.sameElements(Array("jp_ab"))) {
      import graft.operators.Dedup
      import graft.functions.TextFunctions.shingle_hashes
      def time(tag: String)(f: => Any): Unit = {
        val ts = (1 to reps).map { _ =>
          val t0 = System.nanoTime(); val r = f; ((System.nanoTime() - t0) / 1e9, r)
        }
        println(f"[optprobe] $tag min=${ts.map(_._1).min}%.3f " +
          f"all=${ts.map(t => f"${t._1}%.3f").mkString(",")} last=${ts.last._2}")
      }
      val docs = Tables.t(spark, sfDir, "documents")
      def oldJp(threshold: Double): Long = {
        val n = 5
        val sh = docs.select(col("doc_id").as("id"),
          explode(shingle_hashes(col("text"), n)).as("sh"))
        val sizes = docs.select(col("doc_id").as("id"),
          size(shingle_hashes(col("text"), n)).cast("long").as("n_sh"))
        val inter = sh.groupBy("sh").agg(collect_list(col("id")).as("ids"))
          .filter(size(col("ids")) >= 2)
          .select(explode(col("ids")).as("a_id"), col("ids"))
          .select(col("a_id"), explode(col("ids")).as("b_id"))
          .filter(col("a_id") < col("b_id"))
          .groupBy("a_id", "b_id")
          .agg(count("*").as("n_inter"))
        inter
          .join(sizes.withColumnRenamed("id", "a_id").withColumnRenamed("n_sh", "na"), "a_id")
          .join(sizes.withColumnRenamed("id", "b_id").withColumnRenamed("n_sh", "nb"), "b_id")
          .withColumn("jaccard", col("n_inter") / (col("na") + col("nb") - col("n_inter")))
          .filter(col("jaccard") >= threshold)
          .select(col("a_id"), col("b_id"), round(col("jaccard"), 4).as("jaccard"))
          .count()
      }
      def newJp(threshold: Double): Long =
        Dedup.ngramJaccardPairs(docs, n = 5, threshold = threshold).count()
      time("jp_old")(oldJp(0.7)); time("jp_new")(newJp(0.7))
      time("jp_old2")(oldJp(0.7)); time("jp_new2")(newJp(0.7))
      time("jp_old_t0")(oldJp(0.0)); time("jp_new_t0")(newJp(0.0))
      spark.stop(); return
    }

    // special mode: LPA old-vs-new in one JVM
    if (names.sameElements(Array("lpa_ab"))) {
      import graft.operators.Graph
      import graft.core.Materialize.MaterializeOps
      def time(tag: String)(f: => Any): Unit = {
        val ts = (1 to reps).map { _ =>
          val t0 = System.nanoTime(); val r = f; ((System.nanoTime() - t0) / 1e9, r)
        }
        println(f"[optprobe] $tag min=${ts.map(_._1).min}%.3f " +
          f"all=${ts.map(t => f"${t._1}%.3f").mkString(",")} last=${ts.last._2}")
      }
      val li = Tables.t(spark, sfDir, "lineitem").filter(col("l_orderkey") % 10 === 0)
      val edges0 = Graph.coOccurrenceEdges(li, "l_orderkey", "l_partkey").localCheckpoint()
      def oldLpa(iters: Int): org.apache.spark.sql.DataFrame = {
        val edges = edges0.repartition(col("src")).materializeRound
        var labels = edges.select(col("src").as("node")).distinct()
          .withColumn("label", col("node"))
        for (i <- 1 to iters) {
          labels = edges.join(labels, edges("src") === labels("node"))
            .groupBy(col("dst").as("node2"))
            .agg(mode(col("label"), deterministic = true).as("label"))
            .select(col("node2").as("node"), col("label"))
        }
        labels
      }
      time("lpa_old")(oldLpa(3).groupBy("label").agg(count(lit(1))).count())
      time("lpa_new")(Graph.labelPropagation(edges0, iters = 3)
        .groupBy("label").agg(count(lit(1))).count())
      time("lpa_old2")(oldLpa(3).groupBy("label").agg(count(lit(1))).count())
      time("lpa_new2")(Graph.labelPropagation(edges0, iters = 3)
        .groupBy("label").agg(count(lit(1))).count())
      spark.stop(); return
    }

    // special mode: sssp phases
    if (names.sameElements(Array("sssp_phases"))) {
      import graft.operators.Graph
      def time(tag: String)(f: => Any): Unit = {
        val ts = (1 to reps).map { _ =>
          val t0 = System.nanoTime(); val r = f; ((System.nanoTime() - t0) / 1e9, r)
        }
        println(f"[optprobe] $tag min=${ts.map(_._1).min}%.3f " +
          f"all=${ts.map(t => f"${t._1}%.3f").mkString(",")} last=${ts.last._2}")
      }
      val li = Tables.t(spark, sfDir, "lineitem").filter(col("l_orderkey") % 10 === 0)
        .select("l_orderkey", "l_partkey").distinct()
      val g = li.groupBy("l_orderkey").agg(count(lit(1)).as("n"))
        .filter(col("n").between(2, 1000)).select("l_orderkey")
      val li2 = li.join(g, "l_orderkey")
      def wEdgesSelfJoin = li2.as("a").join(li2.as("b"),
          col("a.l_orderkey") === col("b.l_orderkey") &&
            col("a.l_partkey") =!= col("b.l_partkey"))
        .groupBy(col("a.l_partkey").as("src"), col("b.l_partkey").as("dst"))
        .agg(count(lit(1)).as("cnt"))
        .select(col("src"), col("dst"), round(lit(1.0) / col("cnt"), 6).as("w"))
      def wEdgesPosting = li2.groupBy("l_orderkey")
        .agg(collect_list(col("l_partkey")).as("items"))
        .select(explode(col("items")).as("src"), col("items"))
        .select(col("src"), explode(col("items")).as("dst"))
        .filter(col("src") =!= col("dst"))
        .groupBy("src", "dst").agg(count(lit(1)).as("cnt"))
        .select(col("src"), col("dst"), round(lit(1.0) / col("cnt"), 6).as("w"))
      time("wedges_selfjoin")(wEdgesSelfJoin.count())
      time("wedges_posting")(wEdgesPosting.count())
      val we = wEdgesSelfJoin.localCheckpoint()
      val source = we.agg(min("src").as("node"))
      time("sssp_rounds4")(Graph.weightedShortestPaths(we, source, rounds = 4).count())
      time("sssp_converged")(Graph.weightedShortestPathsConverged(we, source).count())
      spark.stop(); return
    }

    // special mode: coreness round-count search / mode timing
    if (names.sameElements(Array("coreness_modes"))) {
      import graft.operators.Graph
      val li = Tables.t(spark, sfDir, "lineitem").filter(col("l_orderkey") % 10 === 0)
      val edges = Graph.coOccurrenceEdges(li, "l_orderkey", "l_partkey").localCheckpoint()
      println(s"[optprobe] edges=${edges.count()}")
      def time(tag: String)(f: => Unit): Unit = {
        val ts = (1 to reps).map { _ =>
          val t0 = System.nanoTime(); f; (System.nanoTime() - t0) / 1e9
        }
        println(f"[optprobe] $tag min=${ts.min}%.3f all=${ts.map(t => f"$t%.3f").mkString(",")}")
      }
      // round-count search, pure default mode
      var lo = 2; var hi = 128
      while (lo < hi) {
        val mid = (lo + hi) / 2
        val ok = try {
          Graph.coreness(edges, maxIters = mid, adaptive = false).count(); true
        } catch { case _: IllegalArgumentException => false }
        if (ok) hi = mid else lo = mid + 1
        println(s"[optprobe] maxIters=$mid ok=$ok")
      }
      println(s"[optprobe] default-mode fixpoint rounds = $lo")
      time("coreness_default")(Graph.coreness(edges, adaptive = false).count())
      time("coreness_frontier")(Graph.coreness(edges, frontier = true).count())
      time("coreness_adaptive")(Graph.coreness(edges).count())
      spark.stop(); return
    }
    names.foreach { name =>
      val fn = SparkEntry.queries.getOrElse(name, sys.error(s"unknown query: $name"))
      val times = (1 to reps).map { _ =>
        val t0 = System.nanoTime()
        val n = fn(spark, sfDir).count()
        val sec = (System.nanoTime() - t0) / 1e9
        System.gc()
        (sec, n)
      }
      val best = times.map(_._1).min
      println(f"[optprobe] $name min=$best%.3f s rows=${times.head._2} all=${times.map(t => f"${t._1}%.3f").mkString(",")}")
    }
    spark.stop()
  }
}
