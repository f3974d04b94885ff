package graft

import org.apache.spark.sql.SparkSession

/**
 * Benchmark main (driver contract): runs every SparkEntry query on
 * SPARK_GRAFT_SF_DIR, prints ONE JSON line
 * {"metric","value","unit","queries","sf"}.
 *
 * Queries run in sorted name order after a session warm-up action so
 * per-query timings are comparable across rounds (the first Spark
 * action otherwise absorbs ~5 s of codegen/session init).
 */
object Bench {
  /** RAM-backed Spark scratch dir when /dev/shm exists (else default /tmp). */
  def shmLocalDir: String = {
    val shm = new java.io.File("/dev/shm")
    if (shm.isDirectory && shm.canWrite) {
      val d = new java.io.File(shm, "graft-spark"); d.mkdirs(); d.getAbsolutePath
    } else System.getProperty("java.io.tmpdir")
  }

  /** Result-row threshold above which a query is judged OUTPUT-BOUND:
    * its wall time is throughput work (rows emitted), not latency
    * work, so the gate scores it in rows/s. */
  val OutputBoundRows = 100000L

  /** Pinned HOST-EPOCH controls: queries whose plans have been stable
    * since round 1, so their ratio to the committed record estimates
    * the host's speed delta, not the engine's. Two successive rounds
    * read a uniform 1.1–1.2× median on plan-unchanged queries (the
    * virtualized host drifts between epochs) and every adjudication
    * was manual; the control median makes it mechanical. */
  val ControlQueries: Seq[String] = Seq("lmr_count", "q_scalar_funcs", "text_quality")

  /** The host-epoch factor: median current/baseline ratio over the
    * controls, clamped to [1, 2] — it only ever RELAXES the gate (a
    * faster host must not hide a regression), and never beyond the
    * gate's own 2× wall so a real regression still trips at 4× on the
    * slowest plausible epoch. 1.0 when no control has a baseline. */
  private[graft] def hostFactor(results: Map[String, Double],
      prior: Map[String, Double]): Double = {
    val ratios = ControlQueries.flatMap(c =>
      for { cur <- results.get(c); p <- prior.get(c) if p > 0 } yield cur / p)
      .sorted
    if (ratios.isEmpty) 1.0
    else math.max(1.0, math.min(2.0, ratios(ratios.size / 2)))
  }

  /**
   * The soft regression gate, pure so it is unit-testable: compare
   * this run's per-query minima against the last committed record.
   *
   *  - LATENCY queries gate on wall time: >2× a baseline that clears
   *    the 0.5 s noise floor (sub-second timings on this virtualized
   *    host swing multi-x run to run).
   *  - OUTPUT-BOUND queries (≥ [[OutputBoundRows]] result rows on
   *    both sides) gate on ROWS/S instead: current throughput below
   *    half the baseline's. Wall alone misjudged this family every
   *    round (er_cosine's 3M-row dump read as a "regression" whenever
   *    the host dipped, though its rows/s held) — row counts ride the
   *    committed record precisely so the gate can use the right unit.
   *
   * Both rules normalize by `hf`, the host-epoch factor from the
   * pinned controls ([[hostFactor]]): a 1.2× epoch relaxes the wall
   * gate to 2.4× and the throughput gate to 0.5/1.2 — so host drift
   * stops reading as regression without any manual adjudication,
   * while a genuinely regressed query still trips (hf caps at 2).
   *
   * Returns (name, (currentSec, baselineSec, note)) per regression.
   */
  private[graft] def gateEntries(
      results: Seq[(String, Double)],
      rowCounts: Map[String, Long],
      prior: Map[String, Double],
      priorRows: Map[String, Long],
      hf: Double = 1.0): Seq[(String, (Double, Double, String))] =
    results.flatMap { case (name, sec) =>
      prior.get(name).filter(_ >= 0.5).flatMap { p =>
        val outputBound = rowCounts.get(name).exists(_ >= OutputBoundRows) &&
          priorRows.get(name).exists(_ >= OutputBoundRows)
        if (outputBound) {
          val curTp = rowCounts(name) / math.max(sec, 1e-9)
          val oldTp = priorRows(name) / p
          if (curTp < 0.5 / hf * oldTp)
            Some(name -> (sec, p, f"rows/s ${curTp}%.0f vs baseline ${oldTp}%.0f"))
          else None
        } else if (sec > 2.0 * hf * p) Some(name -> (sec, p, "wall"))
        else None
      }
    }

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    // SPARK_GRAFT_ONLY=name1,name2 restricts the run (local iteration aid)
    val onlyEnv = sys.env.get("SPARK_GRAFT_ONLY")
    val only = graft.queries.Queries.selected(onlyEnv)
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    // SPARK_GRAFT_MASTER=local-cluster[w,c,mem] times the sweep with
    // forked executor JVMs (the Verify.scala multi-process discipline):
    // every closure / codegen reference object / Aggregator buffer pays
    // real serialization on the task path, so a regression in wire cost
    // shows up as time, not just as a correctness risk. Compare against
    // a local[w*c] run at EQUAL core count — vs local[32] the delta
    // would mostly measure parallelism, not process boundaries.
    val master = sys.env.getOrElse("SPARK_GRAFT_MASTER", s"local[$cpus]")
    val builder = SparkSession.builder()
      .master(master)
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      // shuffle/spill on shm: benchmark numbers should measure the
      // engine, not the virtualized disk's I/O variance (±10x)
      .config("spark.local.dir", Bench.shmLocalDir)
      // per-process warehouse (the Verify.scala discipline): a bench
      // run must not race a concurrent suite/verify JVM's catalog
      .config("spark.sql.warehouse.dir",
        java.nio.file.Files.createTempDirectory("graft-bench-wh").toString)
    val spark = (if (master.startsWith("local-cluster"))
      graft.core.ClusterHarness.configure(builder) else builder).getOrCreate()
    spark.sparkContext.setLogLevel("WARN")

    Tables.t(spark, sfDir, "lineitem").count() // session/codegen warm-up

    // min-of-3 default: the virtualized host shows multi-x run-to-run
    // noise (straggler stages with near-idle CPU); the min is the
    // engine's number, and one extra rep rejects much more of it
    val reps = sys.env.getOrElse("SPARK_GRAFT_BENCH_REPS", "3").toInt
    val selected = SparkEntry.queries.toSeq.sortBy(_._1)
      .filter { case (n, _) => only(n) }
    // min of `reps` WHOLE-SUITE passes (not back-to-back per-query reps):
    // the host's noise bursts last minutes, so consecutive reps of one
    // query can all land inside a burst and its min stays inflated.
    // Interleaving at the pass level puts a query's reps minutes apart —
    // a burst can only contaminate one pass, and the per-query min
    // across passes rejects it.
    val failed = scala.collection.mutable.LinkedHashSet.empty[String]
    // result-row counts ride the timing action for free: wall-time
    // alone misjudges the OUTPUT-BOUND family (a 3M-row pair dump is
    // throughput work, not latency work), so the record carries rows
    // and a reader can judge rows/s where that is the right quantity
    val rowCounts = scala.collection.mutable.Map.empty[String, Long]
    val passes: Seq[Map[String, Double]] = (1 to reps).map { _ =>
      val pass = selected.map { case (name, fn) =>
        // label the jobs (guide §1.5) so the UI/event log attributes
        // stages to queries; thread-local, zero timing effect
        spark.sparkContext.setJobDescription(s"bench: $name")
        val t0 = System.nanoTime()
        try { rowCounts(name) = fn(spark, sfDir).count() } catch {
          case e: Throwable =>
            failed += name
            System.err.println(s"[bench] $name FAILED: ${e.getMessage}")
        }
        spark.sparkContext.setJobDescription(null)
        name -> (System.nanoTime() - t0) / 1e9
      }.toMap
      // drop prior pass's shuffle files before re-timing (ContextCleaner)
      System.gc()
      pass
    }
    val results = selected.map { case (name, _) =>
      name -> passes.map(_(name)).min
    }
    // BASELINE GATE (soft-fail): compare per-query against the last
    // COMMITTED record (`git show HEAD:BENCH_full.json` — the working
    // file is overwritten by every local iteration run, so gating on
    // it compared against uncommitted intermediates; falls back to
    // the file when git is unavailable). A regression only lands in
    // the gate block when the baseline clears a 0.5 s noise floor
    // — sub-second timings on this virtualized host swing multi-x run
    // to run — and the compared value is the MIN over passes, so a
    // one-pass spike can never trip it: every pass must have been
    // slow for the min to be.
    def numBlock(txt: String, key: String): Map[String, Double] =
      txt.split("\"" + key + "\":\\{", 2) match {
        case Array(_, rest) =>
          "\"([A-Za-z0-9_]+)\":([0-9.Ee+-]+)".r
            .findAllMatchIn(rest.split("\\}", 2)(0))
            .map(m => m.group(1) -> m.group(2).toDouble).toMap
        case _ => Map.empty
      }
    val priorTxt: Option[String] = {
      val committed = try {
        val p = new ProcessBuilder("git", "show", "HEAD:BENCH_full.json")
          .redirectErrorStream(false).start()
        val out = new String(p.getInputStream.readAllBytes(), "UTF-8")
        if (p.waitFor() == 0 && out.contains("\"queries\"")) Some(out) else None
      } catch { case _: Exception => None }
      committed.orElse(try Some(new String(java.nio.file.Files.readAllBytes(
        java.nio.file.Paths.get("BENCH_full.json")), "UTF-8"))
      catch { case _: Exception => None })
    }
    val prior: Map[String, Double] = priorTxt.map(numBlock(_, "queries")).getOrElse(Map.empty)
    val priorRows: Map[String, Long] =
      priorTxt.map(numBlock(_, "rows")).getOrElse(Map.empty)
        .map { case (k, v) => k -> v.toLong }
    val hf = hostFactor(results.toMap, prior)
    if (hf != 1.0)
      System.err.println(f"[bench] host-epoch factor $hf%.3f from controls " +
        ControlQueries.mkString(","))
    val gate = gateEntries(results, rowCounts.toMap, prior, priorRows, hf)
    gate.foreach { case (n, (cur, old, note)) =>
      System.err.println(f"[bench] GATE: $n regressed ${cur / old}%.2fx " +
        f"($old%.3f -> $cur%.3f s; $note)")
    }
    val gateJson = gate.map { case (n, (cur, old, note)) =>
      "\"" + n + "\":{\"sec\":" + (math.rint(cur * 1000) / 1000) +
        ",\"baseline\":" + (math.rint(old * 1000) / 1000) +
        ",\"note\":\"" + note + "\"}"
    }.mkString("{", ",", "}")
    val qs = results.map { case (k, v) => "\"" + k + "\":" + v }
      .mkString("{", ",", "}")
    val total = results.map(_._2).sum
    // a failed query's timing would otherwise read as a (fast) success
    val failedJson = failed.map("\"" + _ + "\"").mkString("[", ",", "]")
    val rowsJson = results.flatMap { case (k, _) =>
      rowCounts.get(k).map(n => "\"" + k + "\":" + n)
    }.mkString("{", ",", "}")
    // the pinned control markers ride the record so the NEXT round's
    // adjudication (and the gate itself, via hostFactor) is mechanical
    val controlsJson = ControlQueries.flatMap(c =>
      results.toMap.get(c).map(v => "\"" + c + "\":" + v))
      .mkString("{", ",", "}")
    val fullLine =
      s"""{"metric":"total","value":$total,"unit":"sec","queries":$qs,"rows":$rowsJson,"failed":$failedJson,"gate":$gateJson,"host_factor":${math.rint(hf * 1000) / 1000},"controls":$controlsJson,"sf":"$sfDir"}"""
    // the full per-query record (≈5 KB at 120 queries) exceeds the
    // driver's 2000-char stdout tail, so its json-parse of the last
    // line always failed. Persist the full record to a file (committed
    // per round → per-query history lives in git), print it for human
    // eyes, and END with a compact line that fits the capture window:
    // total + the slowest queries at 3 decimals.
    // only a FULL run may overwrite the committed record: a restricted
    // (SPARK_GRAFT_ONLY) iteration run clobbering BENCH_full.json kept
    // leaving partial records for `git checkout` to undo
    if (onlyEnv.isEmpty)
      try java.nio.file.Files.write(java.nio.file.Paths.get("BENCH_full.json"),
        (fullLine + "\n").getBytes("UTF-8"))
      catch { case e: Exception => System.err.println(s"[bench] full-record write failed: $e") }
    println(fullLine)
    val slowest = results.sortBy(-_._2).take(40)
      .map { case (k, v) => "\"" + k + "\":" + (math.rint(v * 1000) / 1000) }
      .mkString("{", ",", "}")
    // output-bound queries (≥100k result rows) get their row counts in
    // the compact line too, so the per-round capture can judge rows/s
    val bigRows = results.flatMap { case (k, _) =>
      rowCounts.get(k).filter(_ >= 100000L).map(n => "\"" + k + "\":" + n)
    }.mkString("{", ",", "}")
    println(s"""{"metric":"total","value":${math.rint(total * 1000) / 1000},"unit":"sec","n_queries":${results.size},"queries":$slowest,"rows":$bigRows,"failed":$failedJson,"gate":$gateJson,"host_factor":${math.rint(hf * 1000) / 1000},"sf":"$sfDir"}""")
    spark.stop()
  }
}
