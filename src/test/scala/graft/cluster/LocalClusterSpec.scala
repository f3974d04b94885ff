package graft.cluster

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions.col
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

import graft.SparkTestSession
import graft.core.ClusterHarness

/**
 * The engine run MULTI-PROCESS: `local-cluster[2,2,2048]` forks two
 * executor JVMs, so every custom serializable crosses a real process
 * boundary — codegen expressions carrying driver-built reference
 * objects (BpeSegmentExpr merge tables), Aggregator buffers
 * (MomentAgg, HIndex, BottomKDistinct), `Env[R]` envelope encoders,
 * DSv2 KeysSource partitions, and the TopKPerKey custom SparkPlan.
 * The reference's whole correctness matrix runs real 1–3-shard
 * clusters (tests/mr_test_module/pytests/common.py:155-195) because
 * cross-process (de)serialization is where engines break; this suite
 * is the Spark-native analog, and pins cluster ≡ local row equality
 * for a covering query set.
 *
 * Robustness: if the cluster cannot boot (missing SPARK_HOME /
 * SPARK_SCALA_VERSION, executor launch failure, registration timeout)
 * the tests CANCEL with the boot error instead of aborting the whole
 * `sbt test` run, and float-valued cells compare with a relative
 * tolerance so aggregation-order nondeterminism across JVM counts
 * cannot straddle a rounding boundary.
 */
class LocalClusterSpec extends AnyFunSuite with BeforeAndAfterAll {
  import LocalClusterSpec._

  private var clusterRows: Map[String, Vector[Seq[Any]]] = Map.empty
  private var executorPids: Set[String] = Set.empty
  private var bootFailure: Option[String] = None

  // --- tolerant canonicalization -----------------------------------
  // Rows sort on a coarse key (floats at 3dp) so near-equal values
  // order identically in both runs; equality is then per-cell with a
  // relative tolerance for floating types.

  private def cellKey(v: Any): String = v match {
    case null                 => "\u0000null"
    case d: java.lang.Double  => f"${d.doubleValue}%.3f"
    case f: java.lang.Float   => f"${f.floatValue}%.3f"
    case r: Row               => r.toSeq.map(cellKey).mkString("[", ",", "]")
    case s: scala.collection.Seq[_] => s.map(cellKey).mkString("[", ",", "]")
    case other                => String.valueOf(other)
  }

  private def close(x: Double, y: Double): Boolean =
    (x.isNaN && y.isNaN) ||
      math.abs(x - y) <= 1e-9 + 1e-6 * math.max(math.abs(x), math.abs(y))

  private def cellEq(a: Any, b: Any): Boolean = (a, b) match {
    case (null, null) => true
    case (x: java.lang.Double, y: java.lang.Double) => close(x, y)
    case (x: java.lang.Float, y: java.lang.Float)   => close(x.toDouble, y.toDouble)
    case (x: Row, y: Row) => cellEq(x.toSeq, y.toSeq)
    case (x: scala.collection.Seq[_], y: scala.collection.Seq[_]) =>
      x.size == y.size && x.lazyZip(y).forall(cellEq)
    case _ => String.valueOf(a) == String.valueOf(b)
  }

  private def canon(df: DataFrame): Vector[Seq[Any]] = {
    val cols = df.columns.sorted.toSeq
    df.select(cols.head, cols.tail: _*).collect().toVector
      .map(_.toSeq).sortBy(_.map(cellKey).mkString("|"))
  }

  private def rowEq(x: Seq[Any], y: Seq[Any]): Boolean =
    x.size == y.size && x.lazyZip(y).forall(cellEq)

  private def rowsEq(a: Vector[Seq[Any]], b: Vector[Seq[Any]]): Boolean =
    a.size == b.size && {
      // positional compare first (rows sorted on the 3dp coarse key) …
      a.lazyZip(b).forall(rowEq) || {
        // … but two within-tolerance floats straddling a 3dp rounding
        // boundary can sort rows into different positions across runs
        // when earlier sort columns tie — fall back to a tolerance-aware
        // multiset match. A MAXIMAL bipartite matching (Kuhn's
        // augmenting paths), not greedy-with-removal: a row that
        // tolerance-matches two pool rows must not strand a later row
        // by consuming the only one it needed. Coverage results are
        // bounded at a few thousand rows, so O(V·E) is fine here.
        val adj = a.map(x => b.indices.filter(j => rowEq(x, b(j))))
        val matchOfB = Array.fill(b.size)(-1)
        def augment(i: Int, visited: Array[Boolean]): Boolean =
          adj(i).exists { j =>
            !visited(j) && {
              visited(j) = true
              (matchOfB(j) < 0 || augment(matchOfB(j), visited)) && {
                matchOfB(j) = i; true
              }
            }
          }
        a.indices.forall(i => augment(i, Array.fill(b.size)(false)))
      }
    }

  override def beforeAll(): Unit = {
    // Prerequisite check: forked standalone executors resolve their
    // launch command through SPARK_HOME and the launcher's classpath
    // builder needs SPARK_SCALA_VERSION outside spark-submit. build.sbt
    // exports both via Test/envVars; if a bespoke runner didn't, cancel
    // loudly rather than abort the whole suite run.
    val missing = Seq("SPARK_HOME", "SPARK_SCALA_VERSION").filterNot(sys.env.contains)
    if (missing.nonEmpty) {
      bootFailure = Some(s"cluster prerequisites missing from env: ${missing.mkString(", ")} " +
        "(build.sbt Test/envVars sets them; see tools/run_main.sh for bespoke runners)")
      return
    }
    SparkTestSession.release()
    val s = ClusterHarness.configure(SparkSession.builder()
        .master(ClusterHarness.DefaultMaster)
        .appName("graft-local-cluster")
        .config("spark.sql.shuffle.partitions", "4")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.ui.enabled", "false")
        .config("spark.sql.warehouse.dir",
          java.nio.file.Files.createTempDirectory("graft-lc-wh").toString))
      .getOrCreate()
    try {
      // wait for both executors; fail FAST (no hung jobs) if they never come up
      val deadline = System.nanoTime() + 120L * 1000 * 1000 * 1000
      while (s.sparkContext.statusTracker.getExecutorInfos.length < 3 &&
        System.nanoTime() < deadline) Thread.sleep(200)
      val n = s.sparkContext.statusTracker.getExecutorInfos.length
      if (n < 3) {
        bootFailure = Some(s"only $n executor infos after 120s — executor JVMs " +
          "failed to launch (check SPARK_HOME / SPARK_SCALA_VERSION and worker logs)")
        return
      }
      executorPids = s.sparkContext.range(0, 64, 1, 8)
        .map(_ => java.lang.management.ManagementFactory.getRuntimeMXBean.getName)
        .collect().toSet
      // the graph queries on their distributed loops (the remote
      // executors are what they cover), at the co-purchase graph's
      // node count
      val nodes = graft.operators.Graph.coOccurrenceEdges(
        graft.Tables.t(s, SparkTestSession.sfDir, "lineitem").filter(col("l_orderkey") % 10 === 0),
        "l_orderkey", "l_partkey").select("src").distinct().count()
      clusterRows = Cover.map { name =>
        def run = canon(graft.SparkEntry.queries(name)(s, SparkTestSession.sfDir))
        name -> (if (DistributedGraphs(name)) SparkTestSession.distributedLoops(s, nodes)(run)
          else run)
      }.toMap
    } catch {
      case e: Exception =>
        bootFailure = Some(s"cluster boot/run failed: ${e.getClass.getSimpleName}: ${e.getMessage}")
    } finally {
      s.stop()
      SparkSession.clearActiveSession()
      SparkSession.clearDefaultSession()
    }
  }

  test("tasks really ran in forked executor JVMs, not the driver") {
    assume(bootFailure.isEmpty, bootFailure.getOrElse(""))
    val driverJvm = java.lang.management.ManagementFactory.getRuntimeMXBean.getName
    assert(executorPids.size === 2, s"expected 2 executor JVMs, saw $executorPids")
    assert(!executorPids.contains(driverJvm),
      s"tasks ran in the driver JVM $driverJvm — that's local[N], not a cluster")
  }

  for (name <- Cover)
    test(s"$name: local-cluster[2,2,2048] rows == local[4] rows") {
      assume(bootFailure.isEmpty, bootFailure.getOrElse(""))
      val rows = clusterRows(name)
      assert(rows.nonEmpty, s"$name returned no rows on the cluster")
      val local = canon(graft.SparkEntry.queries(name)(
        SparkTestSession.spark, SparkTestSession.sfDir))
      assert(rowsEq(rows, local),
        s"$name: cluster rows != local rows\ncluster: ${rows.take(5)}\nlocal: ${local.take(5)}")
    }
}

object LocalClusterSpec {

  /** Query → the custom serializable it forces across the wire. */
  private[graft] val Cover = Seq(
    "text_bpe_table",    // BpeSegmentExpr driver-built merge-table object
    "emb_pca",           // MomentAgg O(d²) moment buffer
    "graph_coreness",    // HIndex histogram buffer + iterative observe loop
    "stream_kmv",        // BottomKDistinct bottom-k buffer
    "lmr_error_channel", // Env[R] envelope encoders
    "q_keys_source",     // DSv2 KeysSource partitions + prefix/column pushdown
    "q_keys_groupcount", // KeysSource GROUP BY slot aggregate pushdown
    "q_topk_custom",     // TopKPerKey custom SparkPlan (strategy-injected)
    "lmr_reshuffle_etl", // CRC16-slot repartition + hashtag routing
    "graph_kcore",       // localCheckpoint blocks held on remote executors
    "text_lm_score",     // TokenScoreMeanExpr HashMap[UTF8String,Double] reference
    "ann_ivfpq")         // TopCentroidsExpr + PqCodesExpr matrix/codebook references

  /** Cover entries whose graph fixpoint must run its distributed loop. */
  private[graft] val DistributedGraphs = Set("graph_coreness", "graph_kcore")
}
