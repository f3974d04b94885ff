package graft.core

import org.apache.spark.sql.{Column, DataFrame, Observation}
import org.apache.spark.sql.functions._

import graft.core.Materialize.MaterializeOps

/**
 * The one driver for the iterative graph operators (BFS / harmonic /
 * SSSP relaxation, kCore and kTruss peels, coreness in both modes, and
 * the star-forest connected components). An operator supplies only its
 * round body; the driver owns how rounds compose into Spark jobs:
 *
 *  - the seed and every block are materialised through
 *    [[Materialize.iter]] with their metrics observed on the SAME job
 *    (`Dataset.observe` — a convergence test never costs its own job);
 *  - up to `fuse` rounds compose lazily per materialisation, so the
 *    loop pays one driver round-trip per block instead of per round;
 *  - the first round of a block is told the row count measured on the
 *    previous block, so it can pick a broadcast from measured size
 *    ([[gate]]); later rounds read lazy mid-block aggregates, which
 *    stay shuffled (broadcasting one would make it a driver barrier
 *    inside the fused job);
 *  - convergence is tested at ROUND granularity ([[Until]]) and a loop
 *    that runs out of rounds without converging fails loudly;
 *  - a metric the plan never reported is read by one rule ([[read]]).
 */
private[graft] object Fixpoint {

  /** Rounds composed per materialisation by the loops that fuse by
    * default (kCore, coreness's full-recompute mode). Deeper blocks
    * amortise dispatch further (sf0.1 same-JVM: coreness fuse
    * 1/2/4/6/8 = 4.70/4.26/3.85/3.71/3.66 s) but every block may run
    * up to depth−1 real no-op rounds past the fixpoint at scale. */
  val FuseRounds = 4

  /** Sentinel: resolve the fusion depth from the EXECUTION REGIME.
    * Fusing k relax rounds into one job divides the per-round driver
    * dispatch by k — the measured multi-process tax on fixpoint loops
    * (BASELINE.md r12: graph_bfs 1.48× MP, pure dispatch; r13 fused:
    * 0.94×) — but pays up to k−1 rounds of REAL no-op work past
    * convergence. On a single-JVM `local[*]` master dispatch is
    * in-process (~free), so fusing only buys the overshoot: the r13
    * committed record priced the constant fuse=2 default at 1.2–1.3×
    * on bfs/harmonic/sssp_converged locally. The default is therefore
    * regime-resolved, not constant: 1 under local[*], 2 across any
    * process boundary (local-cluster/standalone/YARN/k8s). Explicit
    * values override. */
  val AutoFuse: Int = -1

  def resolveFuse(df: DataFrame, fuse: Int): Int =
    if (fuse != AutoFuse) fuse
    else {
      val m = df.sparkSession.sparkContext.master
      if (m.startsWith("local") && !m.startsWith("local-cluster")) 1 else 2
    }

  /** Measured-size broadcast threshold for node-sized sides of the
    * iterative loops (frontiers, distance tables, keep sets, min-label
    * tables), one knob `spark.graft.broadcastNodes`. A hashed broadcast
    * relation costs ~3-4× the raw 16 B/row (UnsafeRow + map), so the
    * 2M-row default is 100-200 MB of driver/executor memory; raise it
    * on big-memory clusters. */
  def broadcastMaxRows(df: DataFrame): Long =
    df.sparkSession.conf.get("spark.graft.broadcastNodes", (2L * 1024 * 1024).toString).toLong

  /** Broadcast `side` when its measured row count clears the threshold.
    * Only MATERIALIZED frames ride this (a broadcast is itself a driver
    * barrier, so broadcasting a lazy mid-block aggregate serializes the
    * fused job); the loops pass the count observed on the job that
    * materialised `side`'s input. */
  def gate(side: DataFrame, measuredRows: Long): DataFrame =
    if (measuredRows <= broadcastMaxRows(side)) broadcast(side) else side

  /** A named aggregate observed on a round's job. */
  type Metric = (String, Column)

  /** Observed values by metric name. */
  type Metrics = Map[String, Long]

  /** The row count `n`, the metric the broadcast gate reads. */
  def rowCount: Metric = "n" -> count(lit(1))

  /** `n` plus `x`, a bit_xor of the rows' xxhash64 over `cols`: equal
    * (n, x) is a cheap necessary condition for equal row sets (bit_xor,
    * not sum: the hashes span 64 bits and a sum overflows under ANSI). */
  def checksum(cols: String*): Seq[Metric] =
    Seq(rowCount, "x" -> coalesce(bit_xor(xxhash64(cols.map(col): _*)), lit(0L)))

  /** When a loop has converged. */
  sealed trait Until
  object Until {
    /** No convergence test: run exactly `maxRounds` rounds (bounded-depth relaxations). */
    case object Rounds extends Until
    /** Two consecutive rounds observe equal metrics. Sound for states
      * that change monotonically (nested edge sets, non-increasing
      * values), where equal (count, sum) proves nothing moved. */
    case object Stable extends Until
    /** A round observes `metric` (a moved-row count) as 0. */
    final case class Zero(metric: String) extends Until
    /** The block's checksum ([[checksum]]) matches the previous one's,
      * confirmed by one exact one-sided `except`: both states are
      * distinct row sets and the matched count proves equal
      * cardinality, so `next ⊆ prev` ⟹ equality. The `except` runs
      * only on a checksum match, so a collision costs a job, never a
      * wrong stop. */
    case object Checksum extends Until
  }

  /** A materialised state and the metrics observed on its job. */
  final case class Step(state: DataFrame, metrics: Metrics)

  /** The last two materialised states (`prev` is `state` on a loop that
    * ran no round) and the number of rounds run. */
  final case class Result(state: DataFrame, prev: DataFrame, rounds: Int, converged: Boolean)

  /**
   * Observed metrics by name, under the one missing-metric rule: a
   * metric the plan never reported reads as 0 only if the materialised
   * `block` is empty. That happens when AQE's empty-relation
   * propagation folds an observed subtree whose input turned out empty
   * into a LocalRelation, so its CollectMetrics never runs; every
   * metric here (counts and coalesced sums) is 0 over no rows. The
   * emptiness check is one job and runs only when a metric is missing;
   * a missing metric on a non-empty block is a bug, and throws.
   */
  def read(op: String, round: Int, observed: Map[String, Any], names: Seq[String],
      block: DataFrame): Metrics = {
    lazy val empty = block.isEmpty
    names.map { n =>
      n -> (observed.get(n) match {
        case Some(v) => v.asInstanceOf[Long]
        case None if empty => 0L
        case None => throw new IllegalStateException(
          s"$op: observed metric '$n' missing at round $round on a non-empty block")
      })
    }.toMap
  }

  /** Materialise `df` (a seed) with `metrics` observed on the same job. */
  def materialize(op: String, df: DataFrame, metrics: Seq[Metric]): Step = {
    val o = Observation()
    val mat = observe(df, o, metrics).materializeRound
    Step(mat, read(op, 0, o.get, metrics.map(_._1), mat))
  }

  private def observe(df: DataFrame, o: Observation, metrics: Seq[Metric]): DataFrame = {
    val cs = metrics.map { case (n, c) => c.as(n) }
    df.observe(o, cs.head, cs.tail: _*)
  }

  /**
   * Run `round` from `seed` until `until` holds or `maxRounds` rounds
   * ran. Rounds compose `fuse` deep per materialisation; `metrics` are
   * observed on every round when `eachRound` (convergence detected at
   * round granularity inside a block, at no extra job), else on the
   * block's last round only. `round` gets the state and, on the first
   * round of a block, the row count `n` observed on the previous
   * block's job (None for lazy mid-block states, or when the loop
   * observes no count). Unless `until` is [[Until.Rounds]], running
   * out of rounds throws when `loud`; a quiet run reports it in
   * [[Result.converged]].
   */
  def run(op: String, seed: Step, maxRounds: Int, fuse: Int, metrics: Seq[Metric],
      until: Until, eachRound: Boolean = false, loud: Boolean = true)(
      round: (DataFrame, Option[Long]) => DataFrame): Result = {
    val names = metrics.map(_._1)
    var state = seed.state
    var prev = seed.state
    var last = seed.metrics.filter { case (n, _) => names.contains(n) }
    var converged = false
    var i = 0
    while (!converged && i < maxRounds) {
      val k = math.max(1, math.min(fuse, maxRounds - i))
      var d = state
      val obs = (1 to k).flatMap { j =>
        d = round(d, if (j == 1) last.get("n") else None)
        if (eachRound || j == k) {
          val o = Observation()
          d = observe(d, o, metrics)
          Some((i + j, o))
        } else None
      }
      val mat = d.materializeRound
      val ms = obs.map { case (r, o) => read(op, r, o.get, names, mat) }
      converged = until match {
        case Until.Rounds => false
        case Until.Stable => (last +: ms).sliding(2).exists(p => p.head == p.last)
        case Until.Zero(m) => ms.exists(_(m) == 0L)
        case Until.Checksum => ms.last == last && mat.except(state).limit(1).count() == 0
      }
      prev = state
      state = mat
      last = ms.last
      i += k
    }
    require(converged || until == Until.Rounds || !loud,
      s"$op: no fixpoint after $maxRounds rounds; raise its round cap")
    Result(state, prev, i, converged)
  }
}
