package graftbench

import java.io.{File, PrintWriter}

import scala.collection.immutable.ListMap
import scala.collection.mutable

import com.fasterxml.jackson.databind.ObjectMapper
import com.fasterxml.jackson.module.scala.DefaultScalaModule
import org.apache.spark.sql.SparkSession

/**
 * One workload in one JVM: set-up (timed as `setup_s`, warm-up pass
 * included), then deterministic timed passes for about `--seconds`.
 * Prints one `@@record` JSON line (env, metrics, checks) for `run.py`.
 *
 *   graftbench.Main --workload W --seed N --seconds S --trace 0|1
 *                   --work DIR [--tiny] [--self-test]
 */
object Main {

  /** The calls whose Spark counters are per-layer metrics, by layer. */
  val Calls: Seq[String] = Seq(
    "operators.graph.coreness", "operators.graph.kcore", "operators.graph.bfs",
    "operators.graph.sssp", "operators.graph.pagerank",
    "operators.dedup.exact", "operators.dedup.minhash", "operators.text.quality",
    "operators.curation.decontaminate", "operators.retrieval.bm25",
    "pipeline.etl", "pipeline.errors", "pipeline.run_on_key", "relational.topk",
    "operators.dedup.indexed_pairs", "operators.dedup.append", "operators.dedup.purge")

  private val SetupReps = 3
  /** local[4], with one shuffle partition per core. */
  private val Cores = 4

  def main(args: Array[String]): Unit = {
    val opt = args.grouped(2).collect { case Array(k, v) if k.startsWith("--") => k.drop(2) -> v }.toMap
    val flags = args.filter(a => a == "--tiny" || a == "--self-test").toSet
    val workload = opt("workload")
    val seed = opt("seed").toLong
    val seconds = opt("seconds").toDouble
    val traced = opt("trace") == "1"
    val work = new File(opt("work")).getAbsoluteFile
    val tiny = flags("--tiny")
    require(Workload.Names.contains(workload), s"unknown workload $workload")

    val t0 = System.nanoTime()
    val master = s"local[$Cores]"
    val spark = SparkSession.builder()
      .master(master)
      .appName(s"perfbench-$workload")
      .config("spark.sql.shuffle.partitions", Cores.toString)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", new File(work, "local").getPath)
      .config("spark.sql.warehouse.dir", new File(work, "warehouse").getPath)
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    graft.Graft.attach(spark)
    val sessionS = (System.nanoTime() - t0) / 1e9

    val meter = if (traced) Some(new SparkMeter) else None
    meter.foreach(spark.sparkContext.addSparkListener)
    val tracer = new Tracer(s"$workload-s$seed-t${opt("trace")}")
    val ctx = new Ctx(spark, meter, tracer, flags("--self-test"), new File(work, "warehouse"))
    val w = Workload(workload, ctx, seed, tiny)

    val root = tracer.open("bench.run")
    // set-up is repeated and its median reported: one sample would carry the host's noise
    val prepS = (1 to SetupReps).map { _ =>
      w.dropInputs()
      val (span, _, out) = ctx.region("bench.setup")(w.prepare())
      out.left.foreach(e => throw e)
      span.seconds
    }
    ctx.region("bench.reference")(w.reference())._3.left.foreach(e => throw e)
    // warm-up: one untimed pass of every call, on the workload's tiny inputs. The
    // JVM's cold cost (class loading, JIT, codegen) is paid here; at full size the
    // job-bound workloads would spend most of the run on it.
    ctx.phase = "warmup"
    val (warm, _, wOut) = ctx.region("bench.warmup") {
      val tw = Workload(workload, ctx, seed, tiny = true)
      tw.prepare(); tw.reference(); tw.beforePass(); tw.pass(); tw.dropInputs()
    }
    wOut.left.foreach(e => throw e)

    ctx.phase = "pass"
    val passStats = mutable.ArrayBuffer.empty[(Span, SparkStats)]
    val before = mutable.ArrayBuffer.empty[Double]
    val tLoop = System.nanoTime()
    def elapsed = (System.nanoTime() - tLoop) / 1e9
    // passes are identical, so stop when the next one would end well past the target
    while (passStats.isEmpty || elapsed + 0.5 * median(passStats.map(_._1.seconds).toSeq) < seconds) {
      val (bSpan, _, bOut) = ctx.region("bench.setup")(w.beforePass())
      bOut.left.foreach(e => throw e)
      before += bSpan.seconds
      val (span, st, out) = ctx.region("bench.pass")(w.pass())
      out.left.foreach(e => throw e)
      passStats += ((span, st))
    }
    tracer.close(root)
    // the first pass's preparation (the first full-size index build) is set-up too
    val setupS = sessionS + median(prepS) + warm.seconds + before.head

    val timed = ctx.calls.filter(_.phase == "pass").toSeq
    val tput = timed.filter(_.tput)
    val e2e = Seq(
      ("setup_s", setupS, "s"),
      // each call's time is its median invocation, so one slow outlier does not set the rate
      ("rows_per_s", tput.map(_.rows).sum / math.max(1e-9, tput.groupBy(_.name).values
        .map(rs => median(rs.map(_.seconds)) * rs.size).sum), "1/s"),
      ("request_p50_ms", median(ctx.requests.toSeq) * 1000, "ms"),
      ("peak_rss_mb", peakRssMb(), "MB"))
    val layers = if (traced) perLayer(workload, timed, passStats.toSeq, w) else Nil

    val all = ctx.calls.toSeq
    val failed = all.count(!_.ok)
    val env = Seq[(String, Any)](
      "workload" -> workload, "seed" -> seed, "trace" -> traced, "tiny" -> tiny,
      "run_seconds" -> seconds, "master" -> master, "cores" -> Cores,
      "shuffle_partitions" -> Cores, "spark" -> spark.version,
      "scala" -> scala.util.Properties.versionNumberString,
      "jvm" -> s"${System.getProperty("java.vm.name")} ${System.getProperty("java.runtime.version")}",
      "max_heap_mb" -> Runtime.getRuntime.maxMemory / (1 << 20),
      "gc" -> java.lang.management.ManagementFactory.getGarbageCollectorMXBeans.toArray
        .map(_.asInstanceOf[java.lang.management.GarbageCollectorMXBean].getName).mkString(","),
      "inputs" -> ListMap(w.sizes: _*),
      // facts about the generated inputs that vary with the seed
      "observed" -> ListMap(w.observed: _*))
    val record = Seq[(String, Any)](
      "env" -> ListMap(env: _*),
      "correct" -> (failed == 0 && ctx.selfTests.forall(_._2)),
      "attempted" -> all.size,
      "failed" -> failed,
      "passes" -> passStats.size,
      "metrics" -> ListMap(e2e.map { case (n, v, u) => n -> ListMap("value" -> v, "unit" -> u) }: _*),
      "per_layer" -> ListMap(layers.map { case (n, v, u) => n -> ListMap("value" -> v, "unit" -> u) }: _*),
      "checks" -> ctx.checks.groupBy(_._2).toSeq.sortBy(_._1).map { case (name, rs) =>
        ListMap("check" -> name, "runs" -> rs.size, "failures" -> rs.count(_._3.isDefined),
          "first_failure" -> rs.flatMap(_._3).headOption.orNull)
      },
      "self_test" -> ctx.selfTests.groupBy(_._1).toSeq.sortBy(_._1).map { case (name, rs) =>
        ListMap("check" -> name, "corruption_detected" -> rs.forall(_._2))
      },
      "layer_self_s" -> ListMap(tracer.selfTimeByLayer: _*))
    if (traced) writeSpans(new File(work, "spans.jsonl"), tracer)
    spark.stop()
    println("@@record " + Record.write(ListMap(record: _*)))
  }

  private def median(xs: Seq[Double]): Double =
    if (xs.isEmpty) 0.0 else {
      val s = xs.sorted; val n = s.size
      if (n % 2 == 1) s(n / 2) else (s(n / 2 - 1) + s(n / 2)) / 2
    }

  private def quantile(xs: Seq[Double], q: Double): Double =
    if (xs.isEmpty) 0.0 else { val s = xs.sorted; s(math.min(s.size - 1, (q * s.size).toInt)) }

  /** Peak resident set of this JVM (VmHWM), in MB. */
  private def peakRssMb(): Double = {
    val src = scala.io.Source.fromFile("/proc/self/status")
    try src.getLines().find(_.startsWith("VmHWM:"))
      .map(_.split("\\s+")(1).toDouble / 1024).getOrElse(0.0)
    finally src.close()
  }

  /**
   * Per-layer metrics of a traced run. Every listed call reports every
   * counter (zero on workloads that never make the call), as the median
   * over its timed invocations.
   */
  private def perLayer(workload: String, timed: Seq[CallRec], passes: Seq[(Span, SparkStats)],
      w: Workload): Seq[(String, Double, String)] = {
    val byName = timed.groupBy(_.name)
    val perCall = Calls.flatMap { c =>
      val rs = byName.getOrElse(c, Nil)
      def m(f: CallRec => Double) = median(rs.map(f))
      Seq(
        (s"$c.s", m(_.seconds), "s"),
        (s"$c.jobs", m(_.stats.jobs.toDouble), "count"),
        (s"$c.tasks", m(_.stats.tasks.toDouble), "count"),
        (s"$c.task_cpu_s", m(_.stats.cpuNs / 1e9), "s"),
        (s"$c.driver_gap_s", m(_.driverGapS), "s"),
        (s"$c.shuffle_read_mb", m(_.stats.shuffleReadBytes / 1e6), "MB"),
        (s"$c.shuffle_write_mb", m(_.stats.shuffleWriteBytes / 1e6), "MB"))
    }
    val cpu = timed.map(_.stats.cpuNs).sum + passes.map(_._2.cpuNs).sum
    val wall = passes.map(_._1.seconds).sum
    val util = Workload.Names.map { n =>
      (s"$n.cpu_util", if (n == workload) cpu / 1e9 / (wall * Cores) else 0.0, "ratio")
    }
    val lookups = byName.getOrElse("pipeline.run_on_key", Nil)
    def extra(call: String, key: String) = median(byName.getOrElse(call, Nil).map(_.extra.getOrElse(key, 0.0)))
    perCall ++ util ++ Seq(
      ("pipeline.run_on_key.p90_s", quantile(lookups.map(_.seconds), 0.9), "s"),
      ("pipeline.run_on_key.jobs_per_lookup",
        if (lookups.isEmpty) 0.0 else lookups.map(_.stats.jobs).sum.toDouble / lookups.size, "count"),
      ("sources.append.files_written", extra("operators.dedup.append", "files_written"), "count"),
      ("sources.append.bytes_written_mb", extra("operators.dedup.append", "bytes_written_mb"), "MB"),
      ("sources.purge.bytes_rewritten_mb", extra("operators.dedup.purge", "bytes_written_mb"), "MB"),
      ("operators.dedup.indexed_pairs.hit_ratio", w match {
        case i: IndexIngest => i.hitRatio
        case _ => 0.0
      }, "ratio"))
  }

  private def writeSpans(f: File, tracer: Tracer): Unit = {
    val out = new PrintWriter(f, "UTF-8")
    try tracer.all.foreach { s =>
      out.println(Record.write(ListMap("run" -> tracer.runId, "id" -> s.id, "name" -> s.name,
        "parent" -> s.parent, "start_ns" -> s.start, "end_ns" -> s.end)))
    } finally out.close()
  }
}

/** JSON for the record and span lines; ListMaps keep their keys in order. */
object Record {
  private val mapper = new ObjectMapper().registerModule(DefaultScalaModule)
  def write(v: Any): String = mapper.writeValueAsString(v)
}
