package graftbench

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, Dataset, Row, SparkSession}
import org.apache.spark.sql.functions._

import graft.operators.{Curation, Dedup, Graph, Retrieval, TextAnalysis}
import graft.pipeline.{ExecutionBuilder, MRRecord, Remote}
import graft.relational.Relational

/**
 * One workload: `prepare` generates the seeded inputs and hands them to
 * the program as frames (untimed set-up), `pass` runs one deterministic
 * pass of timed calls and checks every output.
 */
abstract class Workload(val ctx: Ctx) {
  def spark: SparkSession = ctx.spark
  /** The configured input sizes: the same for every seed. */
  def sizes: Seq[(String, Any)]
  /** Facts about the generated inputs that depend on the seed. */
  def observed: Seq[(String, Any)] = Nil
  def prepare(): Unit
  /** What the checks compare against, derived from the generated inputs; untimed. */
  def reference(): Unit = ()
  def pass(): Unit
  /** Untimed work before every pass, warm-up included (a fresh index for index_ingest). */
  def beforePass(): Unit = ()

  private val inputs = mutable.ArrayBuffer.empty[Dataset[_]]

  /** Cache and materialize an input; [[dropInputs]] releases it. */
  protected def keep[T](ds: Dataset[T]): Dataset[T] = {
    ds.cache().count()
    inputs += ds
    ds
  }

  /** Hand local rows to the program as a cached 4-partition frame. */
  protected def frame(rows: Seq[Row], schema: String): DataFrame =
    keep(spark.createDataFrame(spark.sparkContext.parallelize(rows, 4),
      org.apache.spark.sql.types.StructType.fromDDL(schema)))

  /** Release the cached inputs of the last `prepare`. */
  def dropInputs(): Unit = { inputs.foreach(_.unpersist()); inputs.clear() }

  protected def longs(df: DataFrame, a: String, b: String): Array[(Long, Long)] =
    df.select(col(a).cast("long"), col(b).cast("long")).collect()
      .map(r => (r.getLong(0), r.getLong(1)))

  /** The first digest of each call, so later passes can be held to it. */
  private val firstDigest = mutable.Map.empty[String, Long]
  protected def repeatable(call: String): Check[Seq[Long]] =
    Check(s"$call.repeatable", d => {
      val h = firstDigest.getOrElseUpdate(call, d(1))
      if (h == d(1)) None else Some(s"all-column digest ${d(1)} differs from the first pass's $h")
    }, d => d.updated(1, d(1) + 1))

  protected def fail(cond: Boolean, why: => String): Option[String] = if (cond) None else Some(why)
}

object Workload {
  val Names: Seq[String] = Seq("graph_fixpoint", "corpus_curation", "mr_keyspace", "index_ingest")

  /**
   * Input sizes: the benchmark's, or `tiny` ones for the warm-up pass and
   * the smoke test. The tiny ingest loop is two batches with a delete after
   * the first, so it still makes every call of the full loop.
   */
  def apply(name: String, ctx: Ctx, seed: Long, tiny: Boolean): Workload = name match {
    case "graph_fixpoint" =>
      if (tiny) new GraphFixpoint(ctx, seed, 600, 1200) else new GraphFixpoint(ctx, seed, 5000, 10000)
    case "corpus_curation" =>
      if (tiny) new CorpusCuration(ctx, seed, 600) else new CorpusCuration(ctx, seed, 12000)
    case "mr_keyspace" =>
      if (tiny) new MrKeyspace(ctx, seed, 4000, 4) else new MrKeyspace(ctx, seed, 50000, 40)
    case "index_ingest" =>
      if (tiny) new IndexIngest(ctx, seed, 400, 2, 100, deleteEvery = 1)
      else new IndexIngest(ctx, seed, 3000, 6, 500, deleteEvery = 5)
    case other => throw new IllegalArgumentException(s"unknown workload: $other")
  }
}

// -----------------------------------------------------------------------------

/** Power-law graph through the five fixpoint-style graph operators. */
final class GraphFixpoint(ctx: Ctx, seed: Long, nodes: Int, rawEdges: Int) extends Workload(ctx) {
  private var g: Gen.GraphData = _
  private var edges: DataFrame = _
  private var wEdges: DataFrame = _
  private var source: DataFrame = _
  private var coreRef: Map[Long, Int] = _
  private var adj: Map[Long, Array[(Long, Double)]] = _

  def sizes: Seq[(String, Any)] = Seq("nodes" -> nodes, "raw_edges" -> rawEdges,
    "alpha" -> GraphFixpoint.Alpha)

  // Graph.coreness runs its frontier mode when at least 30% of the nodes
  // have degree <= 2, as on the power-law graphs it is tuned for.
  override def observed: Seq[(String, Any)] = Option(g).toSeq.flatMap { g =>
    val deg = g.src.groupBy(identity).values.map(_.length)
    Seq("edges" -> g.edges, "low_degree_share" -> deg.count(_ <= 2).toDouble / deg.size)
  }

  def prepare(): Unit = {
    g = Gen.graph(seed, nodes, rawEdges, GraphFixpoint.Alpha, maxW = 3)
    wEdges = frame(g.src.indices.map(i => Row(g.src(i), g.dst(i), g.w(i))),
      "src BIGINT, dst BIGINT, w DOUBLE")
    edges = keep(wEdges.select("src", "dst"))
    source = frame(Seq(Row(g.source)), "node BIGINT")
  }

  override def reference(): Unit = {
    adj = g.src.indices.groupBy(g.src(_)).view
      .mapValues(ix => ix.map(i => (g.dst(i), g.w(i))).toArray).toMap
    coreRef = GraphFixpoint.coreness(adj.view.mapValues(_.map(_._1)).toMap)
  }

  def pass(): Unit = ctx.request {
    val n = g.edges.toLong
    val (cRec, core) = ctx.call("operators.graph.coreness", n)(
      longs(Graph.coreness(edges), "node", "coreness").toMap)
    ctx.verify(cRec, core, Check[Map[Long, Long]]("coreness.exact", c =>
      fail(c.size == coreRef.size && coreRef.forall { case (v, k) => c.get(v).contains(k.toLong) },
        s"${coreRef.count { case (v, k) => !c.get(v).contains(k.toLong) }} nodes differ from the peeling reference"),
      c => c.updated(c.head._1, c.head._2 + 1)))

    val k = 3
    val want = core.getOrElse(coreRef.view.mapValues(_.toLong).toMap)
      .collect { case (v, c) if c >= k => v }.toSet
    val (kRec, kc) = ctx.call("operators.graph.kcore", n)(longs(Graph.kCore(edges, k), "node", "deg"))
    ctx.verify(kRec, kc,
      Check[Array[(Long, Long)]]("kcore.node_set", out =>
        fail(out.map(_._1).toSet == want && out.length == want.size,
          s"${out.length} core nodes, coreness >= $k says ${want.size}"), _.drop(1)),
      Check[Array[(Long, Long)]]("kcore.min_degree", out =>
        fail(out.forall(_._2 >= k), s"a ${k}-core node has degree < $k"),
        out => out.updated(0, (out(0)._1, 0L))))

    val (bRec, bfs) = ctx.call("operators.graph.bfs", n)(
      longs(Graph.bfsDistances(edges, source, maxDepth = 3), "node", "dist").toMap)
    ctx.verify(bRec, bfs, Check[Map[Long, Long]]("bfs.edge_gap", d =>
      fail(d.get(g.source).contains(0L) && d.values.forall(x => x >= 0 && x <= 3) &&
        adj.forall { case (u, ns) => d.get(u).forall(du => ns.forall { case (v, _) =>
          d.get(v).exists(dv => math.abs(du - dv) <= 1) || (du == 3 && !d.contains(v)) }) },
        "some edge joins distances that differ by more than 1, or a frontier neighbour is missing"),
      d => d.find(_._2 == 1L).map { case (v, _) => d.updated(v, 3L) }.getOrElse(d.updated(g.source, 2L))))

    val (sRec, sssp) = ctx.call("operators.graph.sssp", n) {
      Graph.weightedShortestPathsConverged(wEdges, source).collect()
        .map(r => (r.getLong(0), r.getDouble(1))).toMap
    }
    ctx.verify(sRec, sssp, Check[Map[Long, Double]]("sssp.bellman", d =>
      fail(d.get(g.source).contains(0.0) &&
        adj.forall { case (u, ns) => d.get(u).forall(du => ns.forall { case (v, w) =>
          d.get(v).exists(_ <= du + w + 1e-9) }) } &&
        d.forall { case (v, dv) => v == g.source ||
          adj.getOrElse(v, Array.empty).exists { case (u, w) => d.get(u).exists(du => math.abs(du + w - dv) < 1e-9) } },
        "distances are not the shortest-path fixpoint"),
      d => d.find(_._2 > 1.0).map { case (v, x) => d.updated(v, x - 1.0) }.getOrElse(d.updated(g.source, 1.0))))

    val (pRec, pr) = ctx.call("operators.graph.pagerank", n) {
      Graph.pagerank(edges, iters = 3).collect().map(r => (r.getLong(0), r.getDouble(1)))
    }
    ctx.verify(pRec, pr, Check[Array[(Long, Double)]]("pagerank.mass", ranks =>
      fail(ranks.length == coreRef.size && ranks.map(_._1).toSet == coreRef.keySet &&
        ranks.forall(_._2 > 0) && math.abs(ranks.map(_._2).sum - 1.0) < 1e-3,
        f"${ranks.length} ranks summing to ${ranks.map(_._2).sum}%.6f over ${coreRef.size} nodes"),
      _.drop(1)))
  }
}

object GraphFixpoint {

  /**
   * Chung–Lu exponent. At two raw edges per node, 0.8 leaves about half
   * the nodes with degree <= 2 (long pendant chains), as on large power-law
   * graphs; a flatter exponent sends Graph.coreness down its full-recompute
   * mode instead of the frontier mode.
   */
  val Alpha = 0.8

  /** Exact coreness by the Batagelj–Zaversnik peeling order. */
  def coreness(adj: Map[Long, Array[Long]]): Map[Long, Int] = {
    val deg = mutable.LongMap.from(adj.view.mapValues(_.length))
    val maxDeg = if (deg.isEmpty) 0 else deg.values.max
    val bins = Array.fill(maxDeg + 1)(mutable.LinkedHashSet.empty[Long])
    deg.foreach { case (v, d) => bins(d) += v }
    val core = mutable.LongMap.empty[Int]
    var d = 0
    while (d <= maxDeg) {
      if (bins(d).isEmpty) d += 1
      else {
        val v = bins(d).head
        bins(d) -= v
        core(v) = d
        adj(v).foreach { u =>
          if (!core.contains(u)) {
            val du = deg(u)
            if (du > d) { bins(du) -= u; deg(u) = du - 1; bins(du - 1) += u }
          }
        }
      }
    }
    core.toMap
  }
}

// -----------------------------------------------------------------------------

/** Zipf corpus through dedup, quality, decontamination and retrieval. */
final class CorpusCuration(ctx: Ctx, seed: Long, docs: Int) extends Workload(ctx) {
  private var c: Gen.Corpus = _
  private var docsDf: DataFrame = _
  private var evalDf: DataFrame = _
  private var bm25Ref: Map[Long, Double] = _
  private var lens: Map[Long, Long] = _

  def sizes: Seq[(String, Any)] = Seq("docs" -> docs)

  def prepare(): Unit = {
    c = Gen.corpus(seed, docs)
    docsDf = frame(c.ids.indices.map(i => Row(c.ids(i), c.sources(i), c.texts(i))),
      "doc_id BIGINT, source STRING, text STRING")
    evalDf = frame(c.evalIds.indices.map(i => Row(c.evalIds(i), c.evalTexts(i))),
      "doc_id BIGINT, text STRING")
  }

  override def reference(): Unit = {
    bm25Ref = CorpusCuration.bm25(c.ids, c.texts, c.queryTerms)
    lens = c.ids.zip(c.texts.map(t => t.count(_ == ' ') + 1L)).toMap
  }

  def pass(): Unit = ctx.request {
    val n = c.size.toLong
    val (eRec, ex) = ctx.call("operators.dedup.exact", n)(Ctx.digest(Dedup.dropExactDups(docsDf), "doc_id"))
    val keptSum = c.ids.sum - c.exactCopies.sum
    ctx.verify(eRec, ex, Check[Seq[Long]]("exact.kept", d =>
      fail(d(0) == n - c.exactCopies.size && d(2) == keptSum,
        s"kept ${d(0)} docs (id sum ${d(2)}), expected ${n - c.exactCopies.size} ($keptSum)"),
      d => d.updated(0, d(0) - 1)), repeatable("exact"))

    val (mRec, mh) = ctx.call("operators.dedup.minhash", n) {
      Dedup.minhashNearDupPairs(docsDf).collect()
        .map(r => ((r.getLong(0), r.getLong(1)), r.getDouble(2)))
    }
    ctx.verify(mRec, mh, Check[Array[((Long, Long), Double)]]("minhash.planted", ps =>
      fail(ps.map(_._1).toSet == c.dupPairs && ps.length == c.dupPairs.size && ps.forall(_._2 >= 0.7),
        s"${ps.length} pairs found, ${c.dupPairs.count(p => !ps.exists(_._1 == p))} of " +
          s"${c.dupPairs.size} planted missing"),
      _.drop(1)))

    val (qRec, q) = ctx.call("operators.text.quality", n)(
      Ctx.digest(TextAnalysis.qualityScore(docsDf), "doc_id", "n_tokens"))
    val tokens = lens.values.sum
    ctx.verify(qRec, q, Check[Seq[Long]]("quality.tokens", d =>
      fail(d(0) == n && d(2) == c.ids.sum && d(3) == tokens,
        s"${d(0)} rows with ${d(3)} tokens, expected $n with $tokens"),
      d => d.updated(3, d(3) + 1)), repeatable("quality"))

    val (dRec, dc) = ctx.call("operators.curation.decontaminate", n)(
      Ctx.digest(Curation.decontaminate(docsDf, evalDf), "doc_id"))
    val cleanSum = c.ids.sum - c.contaminated.sum
    ctx.verify(dRec, dc, Check[Seq[Long]]("decontaminate.planted", d =>
      fail(d(0) == n - c.contaminated.size && d(2) == cleanSum,
        s"kept ${d(0)} docs (id sum ${d(2)}), expected ${n - c.contaminated.size} ($cleanSum)"),
      d => d.updated(2, d(2) + 1)), repeatable("decontaminate"))

    val k = 50
    val (bRec, bm) = ctx.call("operators.retrieval.bm25", n) {
      Retrieval.bm25TopK(docsDf, c.queryTerms, k = k).collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
    }
    ctx.verify(bRec, bm, Check[Array[(Long, Long, Double)]]("bm25.topk", top => {
      val ids = top.map(_._1).toSet
      val rest = bm25Ref.iterator.filterNot(p => ids.contains(p._1)).map(_._2).maxOption.getOrElse(0.0)
      fail(top.length == k && top.forall { case (id, len, s) =>
          lens.get(id).contains(len) && math.abs(bm25Ref(id) - s) < 1e-3 } &&
        top.sliding(2).forall(p => p.length < 2 || p(0)._3 >= p(1)._3) && top.last._3 >= rest - 1e-3,
        "top-k ids, lengths or scores disagree with the reference scorer")
    }, top => top.updated(0, top(0).copy(_3 = top(0)._3 + 1.0))))
  }
}

object CorpusCuration {

  /** BM25 (k1 = 1.2, b = 0.75, idf+1 variant) of every doc, as Retrieval.bm25TopK defines it. */
  def bm25(ids: Array[Long], texts: Array[String], terms: Seq[String]): Map[Long, Double] = {
    val toks = texts.map(_.toLowerCase.split(" "))
    val n = toks.length
    val avgdl = BigDecimal(toks.map(_.length.toLong).sum.toDouble / n)
      .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    val idf = terms.map { t =>
      val df = toks.count(_.contains(t))
      BigDecimal(math.log((n - df + 0.5) / (df + 0.5) + 1.0))
        .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    }
    ids.indices.map { i =>
      val dl = toks(i).length.toDouble
      ids(i) -> terms.indices.map { j =>
        val tf = toks(i).count(_ == terms(j)).toDouble
        idf(j) * (tf * 2.2) / (tf + 1.2 * (0.25 + 0.75 * dl / avgdl))
      }.sum
    }.toMap
  }
}

// -----------------------------------------------------------------------------

/** Typed LibMR surface over an orders-like keyspace, plus closed-loop point lookups. */
final class MrKeyspace(ctx: Ctx, seed: Long, records: Int, lookupsPerPass: Int) extends Workload(ctx) {
  private var orders: Array[Order] = _
  private var ds: Dataset[Order] = _
  private var keys: Array[Long] = _
  private var nextKey = 0
  private var byCust: Map[Long, Array[Long]] = _
  private var kept = 0L
  private var centsSum = 0L
  private var planted: Set[String] = _
  private var goodSum = 0L
  private var topRef: Map[Long, Set[Long]] = _

  def sizes: Seq[(String, Any)] = Seq("records" -> records,
    "lookups_per_pass" -> lookupsPerPass)

  def prepare(): Unit = {
    val session = spark
    import session.implicits._
    orders = Gen.orders(seed, records)
    ds = keep(spark.createDataset(spark.sparkContext.parallelize(orders.toSeq, 4)))
    keys = Gen.lookupKeys(seed, records, 4096)
  }

  override def reference(): Unit = {
    byCust = orders.groupBy(_.cust).view.mapValues(_.map(_.id).sorted).toMap
    kept = orders.count(_.status != 0).toLong
    centsSum = orders.filter(_.status != 0).map(o => o.amount * 2 + 1).sum
    planted = orders.filter(_.amount < 0).map(o => s"negative amount: ${o.id}").toSet
    goodSum = orders.filter(_.amount >= 0).map(_.amount).sum
    topRef = orders.groupBy(_.cust).view
      .mapValues(_.sortBy(o => (-o.amount, o.id)).take(3).map(_.id).toSet).toMap
  }

  /** The bulk calls run this many times per pass: each is short, so one run alone would be noise. */
  private val BulkRounds = 3

  def pass(): Unit = {
    for (_ <- 1 to BulkRounds) bulk()
    lookups()
  }

  private def bulk(): Unit = {
    val n = records.toLong
    implicit val tag: MRRecord[Billed] = MRRecord(_.key)
    val (eRec, etl) = ctx.call("pipeline.etl", n) {
      ExecutionBuilder.reader(ds)
        .filter(_.status != 0)
        .map(o => Billed(o.key, o.cust, o.amount * 2))
        .reshuffle()
        .map(b => b.copy(cents = b.cents + 1))
        .collect()
        .run()
    }
    ctx.verify(eRec, etl, Check[graft.pipeline.ExecutionResult[Billed]]("etl.filtered", r =>
      fail(r.results.size == kept && r.errors.isEmpty && r.results.map(_.cents).sum == centsSum,
        s"${r.results.size} records (cents ${r.results.map(_.cents).sum}), expected $kept ($centsSum)"),
      r => r.copy(results = r.results.drop(1))))

    val (aRec, acc) = ctx.call("pipeline.accumulate", n) {
      ExecutionBuilder.reader(ds)
        .accumulate(0L)((a, _) => a + 1)
        .collect()
        .accumulate(0L)(_ + _)
        .run()
    }
    ctx.verify(aRec, acc, Check[graft.pipeline.ExecutionResult[Long]]("accumulate.count", r =>
      fail(r.results == Seq(n) && r.errors.isEmpty, s"two-level count ${r.results}, expected $n"),
      r => r.copy(results = r.results.map(_ + 1))))

    val (xRec, errs) = ctx.call("pipeline.errors", n) {
      ExecutionBuilder.reader(ds)
        .mapE(o => if (o.amount < 0) Left(s"negative amount: ${o.id}") else Right(o.amount))
        .accumulate(0L)(_ + _)
        .collect()
        .accumulate(0L)(_ + _)
        .run()
    }
    ctx.verify(xRec, errs, Check[graft.pipeline.ExecutionResult[Long]]("errors.planted", r =>
      fail(r.errors.size == planted.size && r.errors.toSet == planted && r.results == Seq(goodSum),
        s"${r.errors.size} errors and results ${r.results}, expected ${planted.size} and $goodSum"),
      r => r.copy(errors = r.errors.drop(1))))

    val (sRec, shards) = ctx.call("pipeline.run_on_all_shards", n)(
      Remote.runOnAllShards(ds)(it => it.size.toLong))
    ctx.verify(sRec, shards, Check[Either[String, Seq[Long]]]("all_shards.size", r =>
      fail(r.exists(_.sum == n), s"per-shard sizes $r do not sum to $n"),
      r => r.map(s => s :+ 1L)))

    val (tRec, top) = ctx.call("relational.topk", n) {
      Relational.topKPerKey(ds.toDF(), Seq(col("cust")), Seq(col("amount").desc, col("id")), 3)
        .collect().map(r => (r.getAs[Long]("cust"), r.getAs[Long]("id"), r.getAs[String]("key")))
    }
    ctx.verify(tRec, top, Check[Array[(Long, Long, String)]]("topk.per_key", rows =>
      fail(rows.length == topRef.values.map(_.size).sum &&
        rows.groupBy(_._1).view.mapValues(_.map(_._2).toSet).toMap == topRef &&
        rows.forall { case (_, id, key) => key == s"order:$id" },
        s"${rows.length} rows disagree with the local top-3 per customer"),
      _.drop(1)))

  }

  private def lookups(): Unit =
    for (_ <- 0 until lookupsPerPass) {
      val key = keys(nextKey % keys.length); nextKey += 1
      val (lRec, hit) = ctx.request(ctx.call("pipeline.run_on_key", 0, tput = false) {
        Remote.runOnKey(ds, (o: Order) => o.cust == key)(_.toVector)
      })
      val want = byCust.getOrElse(key, Array.empty[Long])
      ctx.verify(lRec, hit, Check[Either[String, Vector[Order]]]("run_on_key.matches", r =>
        fail(r.exists(rs => rs.map(_.id).sorted.sameElements(want) && rs.forall(_.cust == key)),
          s"lookup of $key returned $r, expected ids ${want.mkString(",")}"),
        r => r.map(_.drop(1))))
    }
}

// -----------------------------------------------------------------------------

/** MinHash index maintenance: probe, append, delete and purge over seeded batches. */
final class IndexIngest(ctx: Ctx, seed: Long, base: Int, batches: Int, batchSize: Int,
    deleteEvery: Int) extends Workload(ctx) {
  private var ing: Gen.Ingest = _
  private var baseDf: DataFrame = _
  private var batchDfs: IndexedSeq[DataFrame] = _
  private var table = ""
  private var found = 0L
  private var planted = 0L
  private val Buckets = 8

  def sizes: Seq[(String, Any)] = Seq("base_docs" -> base, "batches" -> batches,
    "batch_docs" -> batchSize, "delete_every" -> deleteEvery, "index_buckets" -> Buckets)

  def prepare(): Unit = {
    ing = Gen.ingest(seed, base, batches, batchSize, deleteEvery)
    baseDf = frame(ing.baseIds.indices.map(i => Row(ing.baseIds(i), ing.baseTexts(i))),
      "doc_id BIGINT, text STRING")
    // every batch, and the after-purge probe as part `batches`, in one cached frame
    val (gIds, gTexts) = ing.probeGhosts
    val (lIds, lTexts, _) = ing.probeLive
    val parts = ing.batches.map(b => (b.ids, b.texts)) :+ ((gIds ++ lIds, gTexts ++ lTexts))
    val incoming = frame(parts.zipWithIndex.flatMap { case ((ids, texts), p) =>
      ids.indices.map(i => Row(ids(i), texts(i), p)) }, "doc_id BIGINT, text STRING, part INT")
    batchDfs = parts.indices.map(p => incoming.filter(col("part") === p).drop("part"))
  }

  /** Each pass starts from a freshly built index, so pass k of every run does the same work. */
  override def beforePass(): Unit = {
    table = IndexIngest.freshTable()
    Dedup.writeMinhashIndex(baseDf, table, buckets = Buckets)
  }

  private def probe(df: DataFrame): Array[(Long, Long, Double)] =
    Dedup.indexedNearDupPairs(df, table).collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))

  /** Files the call added to the warehouse (traced runs only: the walk is not free). */
  private def filesAdded(rec: CallRec, before: Map[String, Long]): Unit = if (ctx.traced) {
    val added = ctx.warehouseFiles().filter { case (p, s) => !before.get(p).contains(s) }
    rec.extra("files_written") = added.size.toDouble
    rec.extra("bytes_written_mb") = added.values.sum / 1e6
  }

  def pass(): Unit = {
    val deleted = mutable.Set.empty[Long]
    ing.batches.zip(batchDfs).foreach { case (b, df) =>
      ctx.request {
        val (pRec, pairs) = ctx.call("operators.dedup.indexed_pairs", b.ids.length.toLong)(probe(df))
        val dead = deleted.toSet
        val allPlanted = Check[Array[(Long, Long, Double)]]("indexed_pairs.planted", ps => {
          val got = ps.map(p => (p._1, p._2)).toSet
          fail(b.planted.subsetOf(got) && got.subsetOf(b.planted) && ps.forall(_._3 >= 0.7),
            s"${b.planted.count(p => !got.contains(p))} of ${b.planted.size} planted pairs missing, " +
              s"${(got -- b.planted).size} unexpected")
        }, _.drop(1))
        // only batches that follow a delete can see a deleted doc come back
        val gone = Check[Array[(Long, Long, Double)]]("indexed_pairs.deleted_stay_gone", ps =>
          fail(ps.forall(p => !dead.contains(p._2) && !b.ghosts.contains(p._1)),
            "a deleted doc came back as a match"),
          ps => ps :+ ((b.ghosts.headOption.getOrElse(b.ids(0)), dead.headOption.getOrElse(-1L), 1.0)))
        ctx.verify(pRec, pairs, (if (dead.isEmpty) Seq(allPlanted) else Seq(allPlanted, gone)): _*)
        if (ctx.phase == "pass") {
          planted += b.planted.size
          found += pairs.map(ps => ps.count(p => b.planted.contains((p._1, p._2)))).getOrElse(0)
        }
        val dups = pairs.getOrElse(Array.empty).map(_._1).distinct
        val before = if (ctx.traced) ctx.warehouseFiles() else Map.empty[String, Long]
        val (aRec, _) = ctx.call("operators.dedup.append", 0L)(
          Dedup.appendToMinhashIndex(df.filter(!col("doc_id").isin(dups.toSeq: _*)), table))
        filesAdded(aRec, before)
        if (b.deleteAfter.nonEmpty) {
          val ids = spark.createDataFrame(b.deleteAfter.toSeq.map(Row(_)).asJava,
            org.apache.spark.sql.types.StructType.fromDDL("doc_id BIGINT"))
          ctx.call("operators.dedup.delete", 0L)(Dedup.deleteFromMinhashIndex(ids, table))
          deleted ++= b.deleteAfter
        }
      }
    }
    val before = if (ctx.traced) ctx.warehouseFiles() else Map.empty[String, Long]
    val (gRec, purged) = ctx.call("operators.dedup.purge", 0L, tput = false)(
      Dedup.purgeMinhashIndex(spark, table))
    filesAdded(gRec, before)
    // after the purge: copies of deleted docs match nothing, copies of live docs still match
    val ghostIds = ing.probeGhosts._1.toSet
    val livePairs = ing.probeLive._3
    val after = purged.map(_ => probe(batchDfs.last))
    ctx.verify(gRec, after, Check[Array[(Long, Long, Double)]]("purge.deleted_stay_gone", ps =>
      fail(!ps.exists(p => ghostIds.contains(p._1)) &&
        ps.filterNot(p => ghostIds.contains(p._1)).map(p => (p._1, p._2)).toSet == livePairs,
        s"${ps.count(p => ghostIds.contains(p._1))} matches for deleted docs, " +
          s"${ps.count(p => !ghostIds.contains(p._1))} of ${livePairs.size} live copies matched"),
      ps => ps :+ ((ghostIds.headOption.getOrElse(-1L), 0L, 1.0))))
  }

  def hitRatio: Double = if (planted == 0) 0.0 else found.toDouble / planted
}

object IndexIngest {
  private var built = 0
  def freshTable(): String = { built += 1; s"perfbench_mh_$built" }
}
