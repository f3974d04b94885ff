package graftbench

import java.util.SplittableRandom

import scala.collection.mutable

/**
 * Seeded input generators. Every workload's input is a pure function of
 * (seed, sizes): the same seed gives byte-identical frames, and the
 * generator also returns what the checks need to know about its plants
 * (duplicate pairs, contaminated ids, failing records).
 */
object Gen {

  /** An independent stream per generator, so resizing one input never shifts another. */
  def rng(seed: Long, stream: Long): SplittableRandom =
    new SplittableRandom(seed * 0x9E3779B97F4A7C15L + stream * 0xBF58476D1CE4E5B9L)

  /** Inverse-CDF sampler over weights (i + offset)^-alpha, i in [0, n). */
  final class PowerLaw(n: Int, alpha: Double, offset: Double = 1.0) {
    private val cdf: Array[Double] = {
      val a = new Array[Double](n)
      var acc = 0.0
      var i = 0
      while (i < n) { acc += math.pow(i + offset, -alpha); a(i) = acc; i += 1 }
      a
    }
    def sample(r: SplittableRandom): Int = {
      val u = r.nextDouble() * cdf(n - 1)
      val i = java.util.Arrays.binarySearch(cdf, u)
      if (i >= 0) i else math.min(-i - 1, n - 1)
    }
  }

  // ---------------------------------------------------------------------------
  // graph_fixpoint
  // ---------------------------------------------------------------------------

  /** Symmetric weighted edge list (both directions present) plus the BFS/SSSP source. */
  final case class GraphData(src: Array[Long], dst: Array[Long], w: Array[Double], source: Long) {
    def edges: Int = src.length
  }

  /**
   * Chung–Lu power-law graph: each raw edge draws both endpoints with
   * probability ∝ rank^-alpha, so degrees follow a power law with a few
   * hubs; self loops and repeated pairs are dropped, then every edge is
   * emitted in both directions. Node ids are a seeded permutation, so
   * hubs are not the smallest ids. Weights are small integers (as
   * doubles), so every path sum is exact.
   */
  def graph(seed: Long, nodes: Int, rawEdges: Int, alpha: Double, maxW: Int): GraphData = {
    val r = rng(seed, 1)
    val pl = new PowerLaw(nodes, alpha, 8.0)
    val perm = Array.tabulate(nodes)(_.toLong)
    for (i <- nodes - 1 to 1 by -1) {
      val j = r.nextInt(i + 1); val t = perm(i); perm(i) = perm(j); perm(j) = t
    }
    val seen = new mutable.LongMap[Unit]()
    val a = mutable.ArrayBuilder.make[Long]
    val b = mutable.ArrayBuilder.make[Long]
    val w = mutable.ArrayBuilder.make[Double]
    var drawn = 0
    while (drawn < rawEdges) {
      drawn += 1
      val u = perm(pl.sample(r)); val v = perm(pl.sample(r))
      if (u != v) {
        val lo = math.min(u, v); val hi = math.max(u, v)
        val key = (lo << 32) | hi
        if (!seen.contains(key)) {
          seen.update(key, ())
          val wt = 1.0 + r.nextInt(maxW)
          a += lo; b += hi; w += wt
          a += hi; b += lo; w += wt
        }
      }
    }
    val src = a.result(); val dst = b.result()
    val deg = new mutable.LongMap[Int]()
    src.foreach(s => deg.update(s, deg.getOrElse(s, 0) + 1))
    val source = deg.maxBy { case (n, d) => (d, -n) }._1
    GraphData(src, dst, w.result(), source)
  }

  // ---------------------------------------------------------------------------
  // corpus_curation and index_ingest
  // ---------------------------------------------------------------------------

  /** The tokens TextAnalysis counts as stopwords lead the vocabulary. */
  private val Stop = Array("the", "a", "an", "of", "and", "or", "in", "on", "to", "is")

  /** Zipf vocabulary: stopwords first, then synthetic words by rank. */
  final class Vocab(size: Int) {
    private val words = Array.tabulate(size)(i => if (i < Stop.length) Stop(i) else s"w$i")
    private val zipf = new PowerLaw(size, 1.1, 1.0)
    def word(r: SplittableRandom): String = words(zipf.sample(r))
    def wordAt(i: Int): String = words(i)
  }

  def docText(r: SplittableRandom, v: Vocab, minTok: Int, maxTok: Int): Array[String] =
    Array.fill(minTok + r.nextInt(maxTok - minTok + 1))(v.word(r))

  /**
   * A near duplicate: one of the last two tokens replaced by another
   * word, so at most two of the doc's 5-shingles change and the shingle
   * Jaccard stays above 0.9 for every doc of 50+ tokens — far above the
   * 0.7 verification threshold, so LSH recall is certain in practice.
   */
  def nearCopy(r: SplittableRandom, v: Vocab, toks: Array[String]): Array[String] = {
    val out = toks.clone()
    val pos = out.length - 1 - r.nextInt(2)
    var nw = v.word(r)
    while (nw == out(pos)) nw = v.word(r)
    out(pos) = nw
    out
  }

  final case class Corpus(
      ids: Array[Long], sources: Array[String], texts: Array[String],
      exactCopies: Set[Long],                 // ids whose text repeats an earlier doc exactly
      dupPairs: Set[(Long, Long)],            // (original, copy) for exact and near copies
      contaminated: Set[Long],                // docs carrying an eval passage
      evalIds: Array[Long], evalTexts: Array[String],
      queryTerms: Seq[String]) {
    def size: Int = ids.length
  }

  val Sources: Array[String] = Array("web", "books", "code", "news")

  /**
   * Zipf corpus of `docs` documents (50–150 tokens, 4 sources). 2% of
   * the docs are exact copies and 2% near copies of distinct earlier
   * originals; 1% of the originals that are never copied carry a
   * 13-token passage from a held-out eval set whose vocabulary is
   * disjoint from the corpus, so contamination is exactly the planted
   * set. BM25 query terms are three mid-frequency words.
   */
  def corpus(seed: Long, docs: Int): Corpus = {
    val r = rng(seed, 2)
    val v = new Vocab(5000)
    val nCopies = docs / 50
    val nOrig = docs - 2 * nCopies
    val toks = Array.fill(nOrig)(docText(r, v, 50, 150))
    // originals: a seeded sample of distinct base docs, half copied exactly, half nearly
    val order = shuffled(r, nOrig)
    val exactOf = order.take(nCopies)
    val nearOf = order.slice(nCopies, 2 * nCopies)
    val evalN = 200
    val evalToks = Array.fill(evalN)(Array.fill(40)(s"e${r.nextInt(20000)}"))
    val contam = order.slice(2 * nCopies, 2 * nCopies + math.max(1, docs / 100))
    contam.foreach { d =>
      val ev = evalToks(r.nextInt(evalN))
      val at = r.nextInt(ev.length - 13)
      val pos = r.nextInt(toks(d).length - 13)
      System.arraycopy(ev, at, toks(d), pos, 13)
    }
    val all = toks ++ exactOf.map(toks(_)) ++ nearOf.map(i => nearCopy(r, v, toks(i)))
    val ids = Array.tabulate(all.length)(_.toLong)
    val exactIds = (nOrig until nOrig + nCopies).map(_.toLong)
    val nearIds = (nOrig + nCopies until nOrig + 2 * nCopies).map(_.toLong)
    val pairs = exactOf.map(_.toLong).zip(exactIds) ++ nearOf.map(_.toLong).zip(nearIds)
    Corpus(ids, ids.map(i => Sources((i % Sources.length).toInt)), all.map(_.mkString(" ")),
      exactIds.toSet, pairs.toSet, contam.map(_.toLong).toSet,
      Array.tabulate(evalN)(i => 1000000L + i), evalToks.map(_.mkString(" ")),
      Seq(v.wordAt(40), v.wordAt(120), v.wordAt(300)))
  }

  def shuffled(r: SplittableRandom, n: Int): Array[Int] = {
    val a = Array.tabulate(n)(identity)
    for (i <- n - 1 to 1 by -1) {
      val j = r.nextInt(i + 1); val t = a(i); a(i) = a(j); a(j) = t
    }
    a
  }

  /** One ingest batch: docs plus what its probe must and must not find. */
  final case class Batch(ids: Array[Long], texts: Array[String],
      planted: Set[(Long, Long)],   // (batch doc, live indexed doc) pairs the probe must find
      ghosts: Set[Long],            // batch docs that copy a DELETED doc: must find nothing
      deleteAfter: Array[Long])     // ids to tombstone after this batch (every deleteEvery-th)

  final case class Ingest(baseIds: Array[Long], baseTexts: Array[String],
      batches: IndexedSeq[Batch],
      probeGhosts: (Array[Long], Array[String]),            // post-purge probe: copies of unghosted deleted docs
      probeLive: (Array[Long], Array[String], Set[(Long, Long)])) // post-purge probe: copies of live docs

  /**
   * Base corpus of `base` docs (indexed at setup), then `batches`
   * batches of `batchSize` docs. A quarter of every batch are near
   * copies of docs that are already indexed — base docs or fresh docs
   * of an earlier batch, so the read path must see appended rows. After
   * every `deleteEvery`-th batch 2% of the base is deleted; later batches
   * carry near copies of deleted docs ("ghosts") that must never match.
   */
  def ingest(seed: Long, base: Int, batches: Int, batchSize: Int, deleteEvery: Int): Ingest = {
    val r = rng(seed, 3)
    val v = new Vocab(5000)
    val baseToks = Array.fill(base)(docText(r, v, 50, 150))
    val text = mutable.LongMap.empty[Array[String]]
    baseToks.indices.foreach(i => text.update(i.toLong, baseToks(i)))
    val live = mutable.ArrayBuffer.tabulate(base)(_.toLong)   // valid copy targets
    val liveSet = mutable.Set.from(live)
    val unghosted = mutable.LinkedHashSet.empty[Long]   // deleted docs no batch has copied yet
    var next = base.toLong
    val out = (0 until batches).map { b =>
      val ids = mutable.ArrayBuffer.empty[Long]
      val texts = mutable.ArrayBuffer.empty[String]
      val planted = mutable.Set.empty[(Long, Long)]
      val ghosts = mutable.Set.empty[Long]
      val fresh = mutable.ArrayBuffer.empty[Long]
      // a ghost is accepted and appended, so each deleted doc is copied at most once
      val nGhost = math.min(unghosted.size, batchSize / 20)
      val nDup = batchSize / 4
      val usedTargets = mutable.Set.empty[Long]
      for (i <- 0 until batchSize) {
        val id = next; next += 1
        val toks =
          if (i < nDup) {
            var t = live(r.nextInt(live.size))
            while (usedTargets.contains(t) || !liveSet.contains(t)) t = live(r.nextInt(live.size))
            usedTargets += t
            planted += (id -> t)
            nearCopy(r, v, text(t))
          } else if (i < nDup + nGhost) {
            val d = unghosted.head
            unghosted -= d
            ghosts += id
            nearCopy(r, v, text(d))
          } else { fresh += id; docText(r, v, 50, 150) }
        text.update(id, toks)
        ids += id; texts += toks.mkString(" ")
      }
      // fresh docs are accepted by a correct probe, so later batches may target them
      fresh.foreach { f => live += f; liveSet += f }
      val del =
        if ((b + 1) % deleteEvery == 0) {
          val pool = (0L until base.toLong).filter(liveSet.contains).toArray
          val pick = shuffled(r, pool.length).take(math.max(1, base / 50)).map(pool(_))
          pick.foreach { d => unghosted += d; liveSet -= d }
          pick
        } else Array.empty[Long]
      Batch(ids.toArray, texts.toArray, planted.toSet, ghosts.toSet, del)
    }
    val dv = unghosted.toIndexedSeq
    val gIds = dv.indices.map(i => 10000000L + i).toArray
    val gTexts = dv.map(d => nearCopy(r, v, text(d)).mkString(" ")).toArray
    val liveSample = shuffled(r, live.size).take(math.min(50, live.size)).map(live(_))
      .filter(liveSet.contains)
    val lIds = liveSample.indices.map(i => 20000000L + i).toArray
    val lTexts = liveSample.map(t => nearCopy(r, v, text(t)).mkString(" "))
    Ingest(baseIds = Array.tabulate(base)(_.toLong), baseTexts = baseToks.map(_.mkString(" ")),
      batches = out, probeGhosts = (gIds, gTexts),
      probeLive = (lIds, lTexts, lIds.zip(liveSample).toSet))
  }

  // ---------------------------------------------------------------------------
  // mr_keyspace
  // ---------------------------------------------------------------------------

  /**
   * Orders-like key/value records: `cust` uniform over records/20
   * customers (about 20 records per lookup key), `status` uniform in
   * 0..3 (the ETL keeps status != 0), and exactly 1% of the records
   * carry a negative amount, which the error-channel pipeline rejects.
   */
  def orders(seed: Long, records: Int): Array[Order] = {
    val r = rng(seed, 4)
    val custs = math.max(1, records / 20)
    val bad = shuffled(r, records).take(records / 100).toSet
    Array.tabulate(records) { i =>
      val amt = 1L + r.nextInt(100000)
      Order(s"order:$i", i.toLong, r.nextInt(custs).toLong,
        if (bad.contains(i)) -amt else amt, r.nextInt(4))
    }
  }

  /** Seeded lookup keys for one run, drawn from the customer range. */
  def lookupKeys(seed: Long, records: Int, n: Int): Array[Long] = {
    val r = rng(seed, 5)
    val custs = math.max(1, records / 20)
    Array.fill(n)(r.nextInt(custs).toLong)
  }
}

/** One keyspace record; `key` is the LibMR hash tag. */
final case class Order(key: String, id: Long, cust: Long, amount: Long, status: Int)

/** ETL output record. */
final case class Billed(key: String, cust: Long, cents: Long)
