package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.queries.Queries

/**
 * Driver contract (SURVEY.md §7): one entry per implemented operator
 * from SURVEY §2, each with a DuckDB oracle. Every query is declared
 * once, as a [[graft.queries.Query]] in its family object under
 * `graft.queries`; the maps below are views of that registry.
 *
 * Naming convention: `lmr_*` = reference pipeline-parity queries
 * (SURVEY §2.1-2.3), `q_*` = relational gap-table operators (SURVEY
 * §2.4), `dedup_*`/`ann_*`/`text_*`/`multimodal_*`/`stream_*` =
 * north-star LLM-pipeline operators.
 */
object SparkEntry {

  /** Flagship query on sf=0.001; driver smoke-checks rows>0. */
  def entry(spark: SparkSession): DataFrame =
    queries("q1_pricing")(spark, "/root/testdata/sf0.001")

  def queries: Map[String, (SparkSession, String) => DataFrame] =
    Queries.all.map(q => q.name -> q.body).toMap

  def oracleSql: Map[String, String] =
    Queries.all.map(q => q.name -> q.oracle).toMap
}
