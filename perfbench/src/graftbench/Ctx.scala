package graftbench

import scala.collection.mutable
import scala.util.control.NonFatal

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** One invocation of a program call, as the benchmark saw it from outside. */
final case class CallRec(name: String, phase: String, start: Long, end: Long,
    rows: Long, tput: Boolean, var ok: Boolean, stats: SparkStats,
    extra: mutable.Map[String, Double] = mutable.Map.empty) {
  def seconds: Double = (end - start) / 1e9
  def driverGapS: Double = stats.driverGapNs(start, end) / 1e9
}

/**
 * An output check: `test` returns None when the output is right and a
 * reason when it is not; `corrupt` makes a wrong output the check must
 * reject (the benchmark's own self-test).
 */
final case class Check[A](name: String, test: A => Option[String], corrupt: A => A)

/**
 * What a workload sees of the benchmark: timed calls into the program,
 * output checks, request latencies and the span recorder. Tracing
 * (the Spark listener and span tags) is on only in traced runs, so
 * untraced timings carry no tracing cost.
 */
final class Ctx(val spark: SparkSession, val meter: Option[SparkMeter],
    val tracer: Tracer, val selfTest: Boolean, val warehouse: java.io.File) {
  val traced: Boolean = meter.isDefined
  val calls = mutable.ArrayBuffer.empty[CallRec]
  val checks = mutable.ArrayBuffer.empty[(String, String, Option[String])]   // (call, check, failure)
  val selfTests = mutable.ArrayBuffer.empty[(String, Boolean)]               // (check, corruption detected)
  val requests = mutable.ArrayBuffer.empty[Double]                           // timed request latencies, s
  var phase = "setup"

  private def sc = spark.sparkContext

  /**
   * Run `body` inside a span. In traced runs the span's id tags every
   * Spark job submitted meanwhile, and the span's Spark counters are
   * collected once the listener bus has caught up.
   */
  def region[A](name: String)(body: => A): (Span, SparkStats, Either[Throwable, A]) = {
    val id = tracer.open(name)
    val prev = sc.getLocalProperty(SparkMeter.Key)
    if (traced) sc.setLocalProperty(SparkMeter.Key, id.toString)
    val out = try Right(body) catch { case NonFatal(e) => Left(e) }
      finally if (traced) sc.setLocalProperty(SparkMeter.Key, prev)
    val span = tracer.close(id)
    val stats = meter.map { m => SparkMeter.drain(sc); m.take(id) }.getOrElse(SparkStats.Empty)
    tracer.jobs(id, stats.jobIntervals)
    (span, stats, out)
  }

  /** Time one call into the program; an exception marks it failed and yields None. */
  def call[A](name: String, rows: Long, tput: Boolean = true)(body: => A): (CallRec, Option[A]) = {
    val (span, stats, out) = region(name)(body)
    out.left.foreach(e => System.err.println(s"[perfbench] $name failed: $e"))
    val rec = CallRec(name, phase, span.start, span.end, rows, tput, out.isRight, stats)
    calls += rec
    (rec, out.toOption)
  }

  /** Run the checks on a call's output; any failure fails the call. */
  def verify[A](rec: CallRec, out: Option[A], cs: Check[A]*): Unit = out.foreach { o =>
    cs.foreach { c =>
      val res = try c.test(o) catch { case NonFatal(e) => Some(s"check threw $e") }
      checks += ((rec.name, c.name, res))
      res.foreach { why =>
        rec.ok = false
        System.err.println(s"[perfbench] check ${c.name} failed on ${rec.name}: $why")
      }
      if (selfTest && res.isEmpty) {
        val detected = try c.test(c.corrupt(o)).isDefined catch { case NonFatal(_) => true }
        selfTests += ((c.name, detected))
      }
    }
  }

  /**
   * One closed-loop request. Its latency, a sample of `request_p50_ms`
   * in timed passes, is the time of the program calls it made: the
   * benchmark's own checks in between are not the program's latency.
   */
  def request[A](body: => A): A = {
    val first = calls.size
    try body finally if (phase == "pass") requests += calls.iterator.drop(first).map(_.seconds).sum
  }

  /** Regular files under the warehouse, with their sizes. */
  def warehouseFiles(): Map[String, Long] = {
    val root = warehouse.toPath
    if (!java.nio.file.Files.exists(root)) Map.empty
    else {
      val st = java.nio.file.Files.walk(root)
      try {
        import scala.jdk.CollectionConverters._
        st.iterator().asScala.filter(java.nio.file.Files.isRegularFile(_))
          .map(p => p.toString -> java.nio.file.Files.size(p)).toMap
      } finally st.close()
    }
  }
}

object Ctx {

  /**
   * Consume every output column without collecting the rows: row count,
   * the sum of a 64-bit hash over all columns (mod a prime, so it cannot
   * overflow), and the sums of the named long columns.
   */
  def digest(df: DataFrame, sums: String*): Seq[Long] = {
    val h = pmod(xxhash64(df.columns.map(c => col(s"`$c`")).toSeq: _*), lit(1000000007L))
    val aggs = Seq(count(lit(1)), sum(h)) ++ sums.map(c => sum(col(c).cast("long")))
    val r = df.agg(aggs.head, aggs.tail: _*).head()
    (0 until r.length).map(i => if (r.isNullAt(i)) 0L else r.getLong(i))
  }
}
