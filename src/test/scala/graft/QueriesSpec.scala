package graft

import org.scalatest.funsuite.AnyFunSuite

import graft.queries.{Queries, Query}

/**
 * Smoke: every SparkEntry query runs at sf0.001 and the known-nonempty
 * ones return rows (the DuckDB value-level gate is tools/
 * check_correctness.py over graft.Verify output; this suite guards
 * against regressions that break a plan entirely).
 */
class QueriesSpec extends AnyFunSuite {
  import QueriesSpec.mayBeEmpty

  lazy val spark = SparkTestSession.spark

  SparkEntry.queries.foreach { case (name, fn) =>
    test(s"query $name executes" + (if (mayBeEmpty(name)) "" else " and returns rows")) {
      val n = fn(spark, SparkTestSession.sfDir).count()
      if (!mayBeEmpty(name)) assert(n > 0, s"$name returned 0 rows")
    }
  }

  test("entry() smoke-checks rows > 0") {
    assert(SparkEntry.entry(spark).count() > 0)
  }

  test("registry: 282 unique names, spelled names exist, oracle keys == query keys") {
    val names = Queries.all.map(_.name)
    assert(names.size === 282)
    assert(names.distinct.size === 282)
    // a stale control name would silently switch off Bench's host-factor
    // normalisation (hostFactor's flatMap skips it)
    val spelled = Bench.ControlQueries ++ mayBeEmpty ++
      cluster.LocalClusterSpec.Cover ++ cluster.LocalClusterSpec.DistributedGraphs
    val unknown = spelled.filterNot(names.toSet)
    assert(unknown.isEmpty, s"names not in the registry: $unknown")
    assert(SparkEntry.queries.keySet === SparkEntry.oracleSql.keySet)
  }

  test("registry: a duplicate query name throws") {
    val q = Query("dup", (s, _) => s.emptyDataFrame, "SELECT 1")
    assert(Queries.unique(Seq(q)) === Seq(q))
    val e = intercept[IllegalArgumentException](
      Queries.unique(Seq(q, q.copy(oracle = "SELECT 2"))))
    assert(e.getMessage.contains("dup"))
  }

  test("SPARK_GRAFT_ONLY selector: unset picks every query, an unknown name throws") {
    assert(Queries.selected(None) === Queries.all.map(_.name).toSet)
    assert(Queries.selected(Some("lmr_count,q1_pricing")) === Set("lmr_count", "q1_pricing"))
    val e = intercept[IllegalArgumentException](Queries.selected(Some("lmr_count,lmr_cuont")))
    assert(e.getMessage.contains("'lmr_cuont'") && !e.getMessage.contains("'lmr_count'"))
    intercept[IllegalArgumentException](Queries.selected(Some("")))
  }
}

object QueriesSpec {
  // empty-at-sf0.001 results are legitimate for these
  private[graft] val mayBeEmpty =
    Set("dedup_exact", "dedup_embedding", "q_anti_join", "text_decontaminate",
      "dedup_incremental", "dedup_spans")
}
