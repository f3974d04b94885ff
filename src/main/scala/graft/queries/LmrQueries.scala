package graft
package queries

import org.apache.spark.sql.functions._

import graft.Tables.t
import graft.pipeline.{ExecutionBuilder, MRRecord, Remote}

/**
 * Pipeline-parity queries (SURVEY §2.1-2.3): the reference test
 * module's operations (`lmr_*`) on the typed ExecutionBuilder facade
 * (reader → map/filter/accumulate/reshuffle/collect), plus the
 * InternalCommand and INFO primitives.
 */
private[queries] object LmrQueries {

  val all: Seq[Query] = Seq(
    /** `lmrtest.countkeys` analog: partial count per shard, collect, final sum. */
    Query("lmr_count", (s, dir) => {
      import s.implicits._
      val keys = t(s, dir, "lineitem").select($"l_orderkey").as[Long]
      ExecutionBuilder.reader(keys)
        .accumulate(0L)((acc, _) => acc + 1L)  // per-partition partial (shard-local)
        .collect()                             // gather to initiator
        .accumulate(0L)((acc, n) => acc + n)   // final global sum
        .toDF.withColumnRenamed("value", "cnt")
    },
      oracle = "SELECT count(*) AS cnt FROM lineitem"),

    /** `readallstringkeys` analog: filter by type, map to a key string. */
    Query("lmr_filter_map", (s, dir) => {
      import s.implicits._
      val orders = t(s, dir, "orders")
        .select($"o_orderkey", $"o_orderstatus").as[(Long, String)]
      ExecutionBuilder.reader(orders)
        .filter(_._2 == "O")
        .map(r => "order:" + r._1)
        .toDF.withColumnRenamed("value", "key")
    },
      oracle = "SELECT concat('order:', o_orderkey) AS key FROM orders WHERE o_orderstatus = 'O'"),

    /** `replacekeysvalues` analog: read→filter→map→reshuffle→map→collect ETL. */
    Query("lmr_reshuffle_etl", (s, dir) => {
      import s.implicits._
      val orders = t(s, dir, "orders")
        .select($"o_orderkey", $"o_orderstatus", $"o_orderpriority")
        .as[(Long, String, String)]
      implicit val byKey: MRRecord[(String, String)] = MRRecord(_._1)
      ExecutionBuilder.reader(orders)
        .filter(_._2 == "O")
        .map(r => ("order:" + r._1, r._3.toUpperCase))
        .reshuffle()                            // co-locate by CRC16 slot of key
        .map(kv => (kv._1, kv._2 + "!"))        // per-slot write-back stage
        .collect()
        .toDataset.toDF("key", "value")
    },
      oracle =
        ("SELECT concat('order:', o_orderkey) AS key, concat(upper(o_orderpriority), '!') AS value " +
          "FROM orders WHERE o_orderstatus = 'O'")),

    /** `lmrtest.dbsize` analog: per-shard size via RunOnAllShards, summed. */
    Query("lmr_dbsize", (s, dir) => {
      import s.implicits._
      val cust = t(s, dir, "customer").select($"c_custkey").as[Long]
      val perShard = Remote.runOnAllShards(cust)(it => it.size.toLong)
        .getOrElse(Seq.empty)
      s.createDataset(Seq(perShard.sum)).toDF("dbsize")
    },
      oracle = "SELECT count(*) AS dbsize FROM customer"),

    /**
     * InternalCommand primitive (reference src/mr.c:1160-1220; test
     * module tests/mr_test_module/src/lib.rs:930-954): N named commands
     * broadcast to all shards, one deterministic reply per shard per
     * command, gathered as the full shard×command matrix — the oracle
     * checks every shard answered every command with the right value.
     * One command captures a value read from the data dir (the region
     * count) so the dispatch is coupled to real table state, as the
     * reference's internal commands report per-shard server state.
     */
    Query("q_internal_command", (s, dir) => {
      import s.implicits._
      val nRegions = t(s, dir, "region").count()
      val commands: Seq[Int => String] = Seq(
        shard => s"shard-$shard:pong",
        shard => ((shard * 31 + 7) % 16384).toString,
        shard => ((shard + 1) * nRegions).toString)
      val replies = Remote.internalCommand(s, numShards = 8)(commands)
        .getOrElse(Seq.empty)
      val rows = replies.zipWithIndex.flatMap { case (perShard, shard) =>
        perShard.zipWithIndex.map { case (reply, cmd) =>
          (shard.toLong, cmd.toLong, reply)
        }
      }
      s.createDataset(rows).toDF("shard", "cmd", "reply")
    },
      // replays the shard×command reply matrix: 8 shards × 3 commands,
      // command 2 scaled by the region count read from the same tables
      oracle = ("SELECT s.shard, c.cmd, CASE c.cmd " +
        "WHEN 0 THEN 'shard-'||s.shard||':pong' " +
        "WHEN 1 THEN CAST((s.shard*31+7)%16384 AS VARCHAR) " +
        "ELSE CAST((s.shard+1)*n.nr AS VARCHAR) END AS reply " +
        "FROM generate_series(0,7) s(shard), generate_series(0,2) c(cmd), " +
        "(SELECT count(*) AS nr FROM region) n")),

    /**
     * Error-channel semantics (pytests/test_errors.py): every record
     * errors in the map step; the execution still completes with
     * [0 results, N errors].
     */
    Query("lmr_error_channel", (s, dir) => {
      import s.implicits._
      val orders = t(s, dir, "orders").select($"o_orderkey").as[Long]
      val res = ExecutionBuilder.reader(orders)
        .map[Long](k => throw new IllegalStateException("injected error for key " + k))
        .collect()
        .run()
      s.createDataset(Seq((res.results.size.toLong, res.errors.size.toLong)))
        .toDF("n_results", "n_errors")
    },
      oracle = "SELECT CAST(0 AS BIGINT) AS n_results, count(*) AS n_errors FROM orders"),

    /**
     * Operability facade ([[Graft.info]] — the reference's INFOCLUSTER,
     * src/cluster.c:1668-1756), restricted to its deterministic rows:
     * the slot-space size, the full registered-function census, and the
     * injected planner strategy. Catalog/stream rows depend on what a
     * shared session has run and are exercised by the spec instead.
     */
    Query("q_info", (s, dir) => {
      Graft.attach(s)
      Graft.info(s).filter(
        (col("section") === "engine" && col("key") === "slots") ||
          col("section") === "function" || col("section") === "strategy")
    },
      // the function census IS the engine's spec surface — the oracle
      // replays it from the same registration list the session wires
      oracle = {
        val fnRows = GraftExtensions.functions.map(_._1).sorted
          .map(n => s"('function', '$n', 'registered')").mkString(", ")
        "SELECT section, key, value FROM (VALUES " +
          "('engine', 'slots', '16384'), " + fnRows + ", " +
          "('strategy', 'topk_per_key', 'injected')) t(section, key, value)"
      }),
  )
}
