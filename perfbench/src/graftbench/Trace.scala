package graftbench

import java.util.concurrent.{ConcurrentHashMap, ConcurrentLinkedQueue}
import java.util.concurrent.atomic.LongAdder

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.SparkContext
import org.apache.spark.scheduler._

/** Driver wall clock in ns since the epoch, on the same axis as Spark's event times (ms). */
object Clock {
  private val base = System.currentTimeMillis() * 1000000L - System.nanoTime()
  def now(): Long = base + System.nanoTime()

  /** Length of [start, end] not covered by any of the intervals. */
  def uncovered(start: Long, end: Long, intervals: Seq[(Long, Long)]): Long = {
    var covered = 0L
    var reach = start
    intervals.map { case (s, e) => (math.max(s, start), math.min(e, end)) }
      .filter { case (s, e) => e > s }.sortBy(_._1).foreach { case (s, e) =>
        if (e > reach) { covered += e - math.max(s, reach); reach = e }
      }
    math.max(0L, end - start - covered)
  }
}

/** One traced interval; `parent` is -1 for the run's root. */
final case class Span(id: Int, name: String, parent: Int, start: Long, end: Long) {
  def seconds: Double = (end - start) / 1e9
}

/** Spark runtime counters of one traced span. */
final case class SparkStats(jobs: Int, tasks: Long, cpuNs: Long,
    shuffleReadBytes: Long, shuffleWriteBytes: Long, jobIntervals: Seq[(Long, Long)]) {

  /** Time inside [start, end] (ns) during which no job of this span ran. */
  def driverGapNs(start: Long, end: Long): Long = Clock.uncovered(start, end, jobIntervals)
}

object SparkStats {
  val Empty: SparkStats = SparkStats(0, 0L, 0L, 0L, 0L, Nil)
}

/**
 * Counts Spark jobs, tasks, task CPU and shuffle bytes per span. The
 * benchmark tags the driver thread with the open span's id (a Spark
 * local property, which threads started by the call inherit), so every
 * job a call submits — including those `Remote` runs on its own thread —
 * is charged to that call.
 */
final class SparkMeter extends SparkListener {
  private final class Acc {
    val tasks = new LongAdder; val cpu = new LongAdder
    val read = new LongAdder; val write = new LongAdder
    val jobs = new ConcurrentLinkedQueue[(Long, Long)]
  }
  private val bySpan = new ConcurrentHashMap[Int, Acc]
  private val jobSpan = new ConcurrentHashMap[Int, (Int, Long)]
  private val stageSpan = new ConcurrentHashMap[Int, Int]

  private def acc(span: Int): Acc = bySpan.computeIfAbsent(span, _ => new Acc)

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    val span = Option(e.properties).flatMap(p => Option(p.getProperty(SparkMeter.Key)))
      .map(_.toInt).getOrElse(-1)
    jobSpan.put(e.jobId, (span, e.time))
    e.stageIds.foreach(s => stageSpan.putIfAbsent(s, span))
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit =
    Option(jobSpan.remove(e.jobId)).foreach { case (span, t0) =>
      acc(span).jobs.add((t0 * 1000000L, e.time * 1000000L))
    }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    val a = acc(stageSpan.getOrDefault(e.stageId, -1))
    a.tasks.increment()
    Option(e.taskMetrics).foreach { m =>
      a.cpu.add(m.executorCpuTime)
      a.read.add(m.shuffleReadMetrics.totalBytesRead)
      a.write.add(m.shuffleWriteMetrics.bytesWritten)
    }
  }

  /** Counters charged to `span` so far; call after [[SparkMeter.drain]]. */
  def take(span: Int): SparkStats = Option(bySpan.remove(span)).map { a =>
    val jobs = a.jobs.asScala.toSeq
    SparkStats(jobs.size, a.tasks.sum, a.cpu.sum, a.read.sum, a.write.sum, jobs)
  }.getOrElse(SparkStats.Empty)
}

object SparkMeter {
  val Key = "graftbench.span"
  def drain(sc: SparkContext): Unit = org.apache.spark.graft.ListenerBridge.drain(sc)
}

/**
 * In-memory span recorder. A span is opened around each layer boundary
 * the benchmark crosses (setup, warm-up, pass, and every call into the
 * program); Spark jobs become child spans of the call that ran them.
 * Nothing is written until the run ends.
 */
final class Tracer(val runId: String) {
  private val spans = mutable.ArrayBuffer.empty[Span]
  private var stack: List[(Int, String, Long)] = Nil
  private var nextId = 0

  def open(name: String): Int = {
    val id = nextId; nextId += 1
    stack = (id, name, Clock.now()) :: stack
    id
  }

  def close(id: Int): Span = {
    val (sid, name, start) = stack.head
    require(sid == id, s"span $id closed out of order")
    stack = stack.tail
    val s = Span(id, name, stack.headOption.map(_._1).getOrElse(-1), start, Clock.now())
    spans += s
    s
  }

  /** Record Spark jobs as children of `parent`. */
  def jobs(parent: Int, intervals: Seq[(Long, Long)]): Unit =
    intervals.foreach { case (s, e) =>
      spans += Span(nextId, "spark.job", parent, s, e); nextId += 1
    }

  def all: Seq[Span] = spans.toSeq.sortBy(_.id)

  /**
   * Self time per layer: each span's duration minus the part of it its
   * children cover, summed by layer (the span name without its last
   * dotted component; `spark.job` is the `spark` layer).
   */
  def selfTimeByLayer: Seq[(String, Double)] = {
    val kids = all.groupBy(_.parent)
    all.groupBy(s => Tracer.layerOf(s.name)).view.mapValues(_.map { s =>
      Clock.uncovered(s.start, s.end, kids.getOrElse(s.id, Nil).map(k => (k.start, k.end))) / 1e9
    }.sum).toSeq.sortBy(-_._2)
  }
}

object Tracer {
  def layerOf(name: String): String = {
    val i = name.lastIndexOf('.')
    if (i < 0) "bench" else name.substring(0, i)
  }
}
