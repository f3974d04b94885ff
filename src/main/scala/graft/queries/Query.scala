package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}

/**
 * One driver-contract query: its name, its Spark body over a fixture
 * directory, and the DuckDB SQL whose output `tools/check_correctness.py`
 * compares with the body's.
 *
 * Oracle-compatibility rules used throughout (the checker hashes values
 * after sorting columns by name):
 *  - every computed integer column is cast to BIGINT on both sides
 *    (DuckDB len()/count() are BIGINT; Spark size()/rank() are INT);
 *  - every computed double is round()ed identically on both sides;
 *  - raw `ts` values are never emitted (parquet is ns, Spark
 *    truncates to µs) — only date_trunc'd derivatives.
 */
private[graft] final case class Query(
    name: String, body: (SparkSession, String) => DataFrame, oracle: String)

/** The registry: every query, declared once in its family object. */
private[graft] object Queries {

  val all: Seq[Query] = unique(
    LmrQueries.all ++ TpchQueries.all ++ RelationalQueries.all ++ WarehouseQueries.all ++
      StreamQueries.all ++ DedupQueries.all ++ TextQueries.all ++ CorpusQueries.all ++
      VectorQueries.all ++ GraphQueries.all ++ MultimodalQueries.all)

  /** `qs` itself; throws when two queries share a name. */
  def unique(qs: Seq[Query]): Seq[Query] = {
    val dups = qs.groupBy(_.name).collect { case (n, g) if g.size > 1 => n }
    require(dups.isEmpty, s"duplicate query names: ${dups.toSeq.sorted.mkString(", ")}")
    qs
  }

  /**
   * The names a comma-separated `SPARK_GRAFT_ONLY` value picks, or every
   * name when it is unset. A name no query has throws, so a typo cannot
   * turn a run into a silent no-op.
   */
  def selected(only: Option[String]): Set[String] = {
    val names = all.map(_.name).toSet
    only.fold(names) { spec =>
      val picked = spec.split(",").toSet
      val unknown = picked -- names
      require(unknown.isEmpty,
        s"SPARK_GRAFT_ONLY names no query: ${unknown.toSeq.sorted.map("'" + _ + "'").mkString(", ")}")
      picked
    }
  }
}
