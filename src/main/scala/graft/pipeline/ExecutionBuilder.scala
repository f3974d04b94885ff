package graft.pipeline

import scala.reflect.runtime.universe.TypeTag

import org.apache.spark.sql.{Dataset, DataFrame, Encoder, SparkSession}
import org.apache.spark.sql.catalyst.encoders.ExpressionEncoder
import org.apache.spark.sql.functions.col

import graft.core.Slots

/**
 * Per-record envelope: exactly one of `value` / `error` is set. This
 * is the engine's error channel — the reference converts a record
 * that fails inside a step into an ErrorRecord accumulated alongside
 * results, and the execution **continues** (reference:
 * src/mr.c:954-957; src/record.c:15-66; tests expect
 * `[0 results, N errors]` for N failing inputs,
 * tests/mr_test_module/pytests/test_errors.py:5-28).
 *
 * Spark's default is the opposite (a throwing task fails the job), so
 * the envelope is first-class: every step is evaluated under a
 * try/catch that demotes the record to the error channel, and errors
 * flow through reshuffle/collect untouched.
 */
case class Env[R](error: Option[String], value: Option[R])

/** Terminal result of an execution: both channels, always (reference: src/mr.c:1036-1057). */
case class ExecutionResult[R](results: Seq[R], errors: Seq[String])

/**
 * Typeclass giving a record its partitioning key, mirroring
 * `MRRecordType.hashTag` (reference: src/mr.h:244-252). `reshuffle`
 * co-locates records whose keys land in the same Redis slot
 * (CRC16(hashtag) mod 16384, see [[graft.core.Slots]]).
 */
trait MRRecord[R] extends Serializable { def hashTag(r: R): String }

object MRRecord {
  def apply[R](f: R => String): MRRecord[R] = new MRRecord[R] { def hashTag(r: R): String = f(r) }
}

/**
 * Typed pipeline builder faithful to the reference's
 * `ExecutionBuilder` (reference: src/mr.h:116-142,
 * rust_api/libmr/execution_builder.rs:33-133): a linear chain of
 * reader → map / filter / accumulate / reshuffle / collect, built
 * lazily and executed by `run()`.
 *
 * Execution substrate is a Spark `Dataset[Env[R]]` — the lazy lineage
 * IS the serialized plan (the reference serializes its step array and
 * broadcasts it to every shard, src/mr.c:1259-1304; Spark ships
 * closures with tasks, which is the same contract). A LibMR "shard"
 * maps to a Spark partition:
 *
 *  - `map`/`filter` — narrow, pipelined per partition (the reference's
 *    pull-chain, src/mr.c:926-948; Spark whole-stage does better).
 *  - `accumulate` — per-partition fold. Before `collect` this is the
 *    per-shard partial aggregate; after `collect` (1 partition) it is
 *    the global aggregate — exactly the manual partial/final split
 *    LibMR pipelines use (tests/mr_test_module/src/lib.rs:254-275).
 *  - `reshuffle` — hash repartition by the record's Redis slot
 *    (src/mr.c:736-785).
 *  - `collect` — gather to one partition (src/mr.c:812-862);
 *    implemented as `coalesce(1)` (narrow — no shuffle).
 *
 * NOTE on scale: this facade is record-at-a-time (typed lambdas), the
 * parity surface for reference users. Relational/analytic workloads
 * should use the DataFrame surface (graft.operators, as the query
 * bodies in graft.queries do), which stays inside Catalyst codegen.
 */
final class ExecutionBuilder[R] private (
    val spark: SparkSession,
    private val env: Dataset[Env[R]]) extends Serializable {

  import ExecutionBuilder.envEncoder

  /** 1→1 transform; a throw demotes the record to the error channel (src/mr.c:891-909). */
  def map[O: TypeTag](f: R => O): ExecutionBuilder[O] = {
    val g = (e: Env[R]) => e.value match {
      case Some(v) =>
        try Env[O](None, Some(f(v)))
        catch { case ex: Exception => Env[O](Some(ExecutionBuilder.errMsg(ex)), None) }
      case None => Env[O](e.error, None)
    }
    new ExecutionBuilder[O](spark, env.map(g)(envEncoder[O]))
  }

  /** Explicit error-channel variant: `Left(msg)` sends the record to the error channel. */
  def mapE[O: TypeTag](f: R => Either[String, O]): ExecutionBuilder[O] = {
    val g = (e: Env[R]) => e.value match {
      case Some(v) =>
        try f(v) match {
          case Right(o)  => Env[O](None, Some(o))
          case Left(msg) => Env[O](Some(msg), None)
        } catch { case ex: Exception => Env[O](Some(ExecutionBuilder.errMsg(ex)), None) }
      case None => Env[O](e.error, None)
    }
    new ExecutionBuilder[O](spark, env.map(g)(envEncoder[O]))
  }

  /**
   * 1→0..n transform (UDTF shape, SURVEY §2.4 gap table). The
   * reference has no flatMap step — LibMR users emulate it with a
   * map-to-list plus a consuming reader — but the Spark facade gets
   * it for free and the error-channel contract is identical: a throw
   * demotes the input record to one error.
   */
  def flatMap[O: TypeTag](f: R => IterableOnce[O]): ExecutionBuilder[O] = {
    val g = (e: Env[R]) => e.value match {
      case Some(v) =>
        try f(v).iterator.map(o => Env[O](None, Some(o)))
        catch { case ex: Exception => Iterator.single(Env[O](Some(ExecutionBuilder.errMsg(ex)), None)) }
      case None => Iterator.single(Env[O](e.error, None))
    }
    new ExecutionBuilder[O](spark, env.flatMap(g)(envEncoder[O]))
  }

  /** Predicate; keep/drop; a throw demotes the record to the error channel (src/mr.c:864-889). */
  def filter(p: R => Boolean)(implicit tt: TypeTag[R]): ExecutionBuilder[R] = {
    val g = (e: Env[R]) => e.value match {
      case Some(v) =>
        try { if (p(v)) Iterator.single(e) else Iterator.empty }
        catch { case ex: Exception => Iterator.single(Env[R](Some(ExecutionBuilder.errMsg(ex)), None)) }
      case None => Iterator.single(e)
    }
    new ExecutionBuilder[R](spark, env.flatMap(g)(envEncoder[R]))
  }

  /**
   * Stateful fold over all records reaching this point in this
   * partition (src/mr.c:787-810). Emits one record per non-empty
   * partition. Place before `collect` for a per-shard partial, after
   * `collect` for the global aggregate.
   */
  def accumulate[A: TypeTag](zero: A)(f: (A, R) => A): ExecutionBuilder[A] = {
    val g = (it: Iterator[Env[R]]) => {
      var acc = zero
      var seen = false
      val errs = scala.collection.mutable.ArrayBuffer.empty[Env[A]]
      it.foreach { e =>
        e.value match {
          case Some(v) =>
            // `seen` only on success: an accumulate where EVERY record
            // errors must yield [0 results, N errors] like the
            // reference (pytests/test_errors.py), not a zero-valued
            // partial
            try { acc = f(acc, v); seen = true }
            catch { case ex: Exception => errs += Env[A](Some(ExecutionBuilder.errMsg(ex)), None) }
          case None => errs += Env[A](e.error, None)
        }
      }
      val out = if (seen) Iterator.single(Env[A](None, Some(acc))) else Iterator.empty
      out ++ errs.iterator
    }
    new ExecutionBuilder[A](spark, env.mapPartitions(g)(envEncoder[A]))
  }

  /**
   * Hash repartition by Redis slot of each record's hashTag
   * (src/mr.c:736-785 + src/cluster.c:1820-1843). Error records have
   * no key and travel with slot 0 — they are never partition-sensitive
   * (the reference forwards errors to the initiator unkeyed).
   */
  def reshuffle(parts: Int = 0)(implicit mr: MRRecord[R], tt: TypeTag[R]): ExecutionBuilder[R] = {
    val n = if (parts > 0) parts else env.sparkSession.sessionState.conf.numShufflePartitions
    implicit val keyedEnc: Encoder[(Int, Env[R])] = ExpressionEncoder[(Int, Env[R])]()
    val keyed = env.map(e => (e.value.map(v => Slots.slot(mr.hashTag(v))).getOrElse(0), e))
    val shuffled = keyed.repartition(n, col("_1")).map(_._2)(envEncoder[R])
    new ExecutionBuilder[R](spark, shuffled)
  }

  /** Gather every record into a single partition (src/mr.c:812-862). Narrow — no shuffle. */
  def collect(): ExecutionBuilder[R] =
    new ExecutionBuilder[R](spark, env.coalesce(1))

  /**
   * Launch and await. Returns BOTH channels (results, errors) — a
   * fully-erroring input still completes with `[0, N]`
   * (pytests/test_errors.py:5-28 semantics).
   *
   * `maxIdleMs > 0` mirrors the reference's execution max-idle timer
   * (default 5000 ms, src/mr.c:26-28,1306-1331): on expiry the job is
   * cancelled and the result carries the reference's error string with
   * zero results, rather than throwing.
   */
  def run(maxIdleMs: Long = 0L): ExecutionResult[R] = {
    val arr =
      if (maxIdleMs <= 0) Some(env.collect())
      else Remote.inJobGroup(spark.sparkContext, "graft-exec", maxIdleMs)(env.collect())
    arr.fold(ExecutionResult[R](Seq.empty, Seq("execution max idle reached"))) { a =>
      ExecutionResult(a.iterator.flatMap(_.value).toSeq, a.iterator.flatMap(_.error).toSeq)
    }
  }

  /** Results channel as a typed Dataset (for composing with the relational surface). */
  def toDataset(implicit tt: TypeTag[R]): Dataset[R] =
    env.flatMap(_.value.iterator)(ExecutionBuilder.enc[R])

  /** Results channel as a DataFrame. */
  def toDF(implicit tt: TypeTag[R]): DataFrame = toDataset.toDF()

  /** Error channel as a Dataset of messages. */
  def errorsDataset: Dataset[String] = {
    implicit val e: Encoder[String] = ExpressionEncoder[String]()
    env.flatMap(_.error.iterator)
  }

  /** The raw envelope dataset (tests / advanced composition). */
  def envelope: Dataset[Env[R]] = env
}

object ExecutionBuilder {

  private[pipeline] def enc[T: TypeTag]: Encoder[T] = ExpressionEncoder[T]()
  private[pipeline] def envEncoder[T: TypeTag]: Encoder[Env[T]] = ExpressionEncoder[Env[T]]()

  private[pipeline] def errMsg(ex: Exception): String = {
    val m = ex.getMessage
    if (m == null || m.isEmpty) ex.getClass.getSimpleName else m
  }

  /** Reader from an existing Dataset (e.g. `spark.read.parquet(...)` → typed). */
  def reader[R: TypeTag](ds: Dataset[R]): ExecutionBuilder[R] =
    new ExecutionBuilder[R](ds.sparkSession,
      ds.map(v => Env[R](None, Some(v)))(envEncoder[R]))

  /**
   * Generic pull-based reader, mirroring `ExecutionReader`
   * (src/mr.h:80, rust_api/libmr/reader.rs:39-54): one iterator per
   * partition, each partition reads its own slice — like each shard's
   * reader instance scanning local keys.
   *
   * Reader errors are per-record, like every other step (an erroring
   * reader yields N errors and the execution completes,
   * pytests/test_errors.py:5-36): an exception thrown by the
   * iterator's `next` becomes one ErrorRecord and the pull continues;
   * an exception from `hasNext` becomes one ErrorRecord and ends that
   * partition's read (the reader's cursor itself is broken).
   */
  def reader[R: TypeTag: scala.reflect.ClassTag](spark: SparkSession, r: Reader[R]): ExecutionBuilder[R] = {
    val rdd = spark.sparkContext
      .parallelize(0 until r.numPartitions, r.numPartitions)
      .flatMap { p =>
        val underlying = r.read(p)
        new Iterator[Env[R]] {
          private var broken = false
          private var pendingError: Option[String] = None
          override def hasNext: Boolean = pendingError.isDefined || (!broken && {
            try underlying.hasNext
            catch { case e: Exception =>
              broken = true; pendingError = Some(errMsg(e)); true
            }
          })
          override def next(): Env[R] = pendingError match {
            case Some(msg) => pendingError = None; Env[R](Some(msg), None)
            case None =>
              try Env[R](None, Some(underlying.next()))
              catch { case e: Exception => Env[R](Some(errMsg(e)), None) }
          }
        }
      }
    new ExecutionBuilder[R](spark, spark.createDataset(rdd)(envEncoder[R]))
  }

  /** Reader over a local Seq (test fixture analog of the 1000-key suites). */
  def seqReader[R: TypeTag: scala.reflect.ClassTag](spark: SparkSession, xs: Seq[R], parts: Int = 4): ExecutionBuilder[R] =
    reader(spark.createDataset(spark.sparkContext.parallelize(xs, parts))(enc[R]))
}

/** Pull-based partition-local source (reference: src/mr.h:80). */
trait Reader[R] extends Serializable {
  def numPartitions: Int
  def read(partition: Int): Iterator[R]
}
