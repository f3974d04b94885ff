package graft.core

/**
 * Exact in-memory kernels for the graph fixpoints that finish on the
 * driver ([[Fixpoint.finishLocally]]): a graph whose edge rows fit the
 * driver-memory budget costs one collect and a few milliseconds here
 * instead of one Spark job per round. Each kernel computes exactly what
 * its distributed loop computes, over the same edge-ROW multiset
 * (duplicate rows and self-loops count, as they do in the joins), and
 * reports the round in which that loop detects its fixpoint, so a loop
 * that would fail at its round cap fails here too.
 *
 * Input is column arrays as gathered: node ids are longs, one entry
 * per edge row. Nodes are renumbered densely in id order ([[Index]]),
 * so every per-node structure is a primitive array.
 */
private[graft] object LocalGraph {

  /** The distinct ids of `cols`, sorted: dense index i stands for `ids(i)`. */
  final class Index(cols: Array[Long]*) {
    val ids: Array[Long] = {
      val all = Array.concat(cols: _*)
      java.util.Arrays.sort(all)
      var n = 0
      var i = 0
      while (i < all.length) {
        if (n == 0 || all(i) != all(n - 1)) { all(n) = all(i); n += 1 }
        i += 1
      }
      java.util.Arrays.copyOf(all, n)
    }
    def size: Int = ids.length
    /** Dense index of `id`, negative when absent. */
    def apply(id: Long): Int = java.util.Arrays.binarySearch(ids, id)
    def of(xs: Array[Long]): Array[Int] = xs.map(apply)
  }

  /** Rows grouped by their `from` node: node v's rows are
    * `row(off(v)) until row(off(v + 1))`, as indexes into the inputs. */
  final class Csr(n: Int, from: Array[Int]) {
    val off: Array[Int] = {
      val o = new Array[Int](n + 1)
      from.foreach(v => if (v >= 0) o(v + 1) += 1)
      var i = 0
      while (i < n) { o(i + 1) += o(i); i += 1 }
      o
    }
    val row: Array[Int] = {
      val next = java.util.Arrays.copyOf(off, n)
      val r = new Array[Int](off(n))
      var i = 0
      while (i < from.length) {
        val v = from(i)
        if (v >= 0) { r(next(v)) = i; next(v) += 1 }
        i += 1
      }
      r
    }
  }

  /** Per-node values and the round in which the distributed loop sees
    * no change (its fixpoint test fires there); `cap + 1` when that
    * round lies beyond the `cap` rounds the kernel was allowed. */
  final case class Fix[V](ids: Array[Long], values: V, rounds: Int)

  /**
   * Coreness: round-synchronous h-index rounds (Montresor et al.) from
   * the row-degree seed, where each round recomputes only the sources
   * of rows into a node that changed in the previous round — the
   * worklist of the distributed frontier mode. The h-index operator is
   * monotone and the degree seed is above its fixpoint, so these are
   * the Jacobi iterates of both distributed modes, round for round;
   * the values and the fixpoint round are theirs. None when a row's
   * dst is not a src (no value to read there: the distributed default
   * mode then drops the row and the frontier mode keeps the node, so
   * no single answer exists to reproduce).
   */
  def coreness(src: Array[Long], dst: Array[Long], cap: Int): Option[Fix[Array[Long]]] = {
    val ix = new Index(src)
    val s = ix.of(src)
    val d = ix.of(dst)
    if (d.exists(_ < 0)) return None
    val n = ix.size
    val out = new Csr(n, s)
    val in = new Csr(n, d)
    val c = Array.tabulate(n)(v => (out.off(v + 1) - out.off(v)).toLong)
    val hist = new Array[Int](if (n == 0) 1 else c.max.toInt + 1)
    // the capped histogram h-index: values above the node's own (which
    // bounds its next value) count in its top bucket
    def hIndex(v: Int): Long = {
      val top = c(v).toInt
      var i = out.off(v)
      while (i < out.off(v + 1)) {
        val x = c(d(out.row(i)))
        hist(if (x >= top) top else if (x < 0) 0 else x.toInt) += 1
        i += 1
      }
      var h = top
      var cum = hist(top)
      while (h > 0 && cum < h) { h -= 1; cum += hist(h) }
      java.util.Arrays.fill(hist, 0, top + 1, 0)
      h.toLong
    }
    val mark = new Array[Int](n)
    var dirty = Array.range(0, n)
    var round = 1
    var moved = true
    while (moved && round <= cap) {
      val next = dirty.map(hIndex)
      val changed = dirty.indices.filter(i => next(i) != c(dirty(i)))
      changed.foreach(i => c(dirty(i)) = next(i))
      moved = changed.nonEmpty
      if (moved) {
        // sources of rows into a changed node: their h-index may move
        val b = Array.newBuilder[Int]
        for (j <- changed; i <- in.off(dirty(j)) until in.off(dirty(j) + 1)) {
          val u = s(in.row(i))
          if (mark(u) != round) { mark(u) = round; b += u }
        }
        dirty = b.result()
        round += 1
      }
    }
    Some(Fix(ix.ids, c, round))
  }

  /**
   * kCore: the level-synchronous peel. Round r drops every live node
   * whose maintained row-degree is below k and decrements, per live
   * node, its rows into the dropped set — the distributed peel's
   * rounds exactly, so the survivors and their in-core degrees are its
   * output and the first round that drops nothing is its fixpoint
   * round. Rows into a dst that is not a src never decrement (that
   * node is never dropped), as in the join.
   */
  def kCore(src: Array[Long], dst: Array[Long], k: Int, cap: Int): Fix[Array[Long]] = {
    val ix = new Index(src)
    val s = ix.of(src)
    val n = ix.size
    val in = new Csr(n, ix.of(dst))
    val deg = new Array[Long](n)
    s.foreach(v => deg(v) += 1)
    val alive = Array.fill(n)(true)
    var layer = (0 until n).filter(v => deg(v) < k).toArray
    var round = 1
    while (layer.nonEmpty && round <= cap) {
      layer.foreach(alive(_) = false)
      val b = Array.newBuilder[Int]
      for (u <- layer; i <- in.off(u) until in.off(u + 1)) {
        val v = s(in.row(i))
        if (alive(v)) {
          deg(v) -= 1
          if (deg(v) == k - 1) b += v
        }
      }
      layer = b.result()
      round += 1
    }
    val keep = (0 until n).filter(alive).toArray
    Fix(keep.map(ix.ids), keep.map(deg), round)
  }

  /**
   * Bellman–Ford relaxation, synchronous: round r reads only the
   * distances of round r − 1, so after `maxRounds` rounds a distance is
   * the shortest over paths of at most that many edges, the bounded
   * loops' contract. Only the out-rows of nodes that changed in the
   * previous round are relaxed (an unchanged node offers the
   * candidates it already offered). IEEE addition is monotone, so the
   * doubles are the distributed rounds' exact values. `w` null means
   * unit weights, exact in a double. `rounds` counts the rounds that
   * changed a distance (at most `maxRounds`). None on a non-finite
   * weight, whose NaN or infinite sums order differently under SQL's
   * min than under `<`.
   */
  def relax(src: Array[Long], dst: Array[Long], w: Array[Double], seeds: Array[Long],
      maxRounds: Int): Option[Fix[Array[Double]]] = {
    if (w != null && !w.forall(java.lang.Double.isFinite)) return None
    val ix = new Index(src, dst, seeds)
    val s = ix.of(src)
    val d = ix.of(dst)
    val n = ix.size
    val out = new Csr(n, s)
    val cur = Array.fill(n)(Double.PositiveInfinity)
    val reached = new Array[Boolean](n)
    val next = new Array[Double](n)
    val mark = new Array[Int](n)
    var changed = ix.of(seeds)
    changed.foreach { v => cur(v) = 0.0; reached(v) = true }
    var rounds = 0
    while (rounds < maxRounds && changed.nonEmpty) {
      val stamp = rounds + 1
      val b = Array.newBuilder[Int]
      for (u <- changed; i <- out.off(u) until out.off(u + 1)) {
        val row = out.row(i)
        val v = d(row)
        val cand = cur(u) + (if (w == null) 1.0 else w(row))
        if (mark(v) == stamp) { if (cand < next(v)) next(v) = cand }
        else if (!reached(v) || cand < cur(v)) { mark(v) = stamp; next(v) = cand; b += v }
      }
      changed = b.result()
      changed.foreach { v => cur(v) = next(v); reached(v) = true }
      if (changed.nonEmpty) rounds += 1
    }
    val keep = (0 until n).filter(reached).toArray
    Some(Fix(keep.map(ix.ids), keep.map(cur), rounds))
  }

  /** Connected components of a symmetric edge list: every node with
    * the minimum id of its component (path-halving union-find whose
    * union keeps the smaller root, so a root is its component's
    * minimum, the distributed loops' labelling). */
  def components(u: Array[Long], v: Array[Long]): (Array[Long], Array[Long]) = {
    val ix = new Index(u, v)
    val parent = Array.range(0, ix.size)
    def find(x0: Int): Int = {
      var x = x0
      while (parent(x) != x) { parent(x) = parent(parent(x)); x = parent(x) }
      x
    }
    var i = 0
    while (i < u.length) {
      val (ru, rv) = (find(ix(u(i))), find(ix(v(i))))
      if (ru < rv) parent(rv) = ru else if (rv < ru) parent(ru) = rv
      i += 1
    }
    (ix.ids, Array.tabulate(ix.size)(x => ix.ids(find(x))))
  }
}
