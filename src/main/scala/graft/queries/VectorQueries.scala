package graft
package queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.Tables.t
import graft.operators.{Curation, Retrieval, Similarity}
import graft.queries.OracleSql._

/**
 * Embedding and vector-search queries: PCA, k-means and quantisation
 * (`emb_*`), ANN search and the persisted IVF-PQ index (`ann_*`), and
 * retrieval metrics (`retrieval_*`).
 */
private[queries] object VectorQueries {

  /**
   * Shared eval fixture for the ranking metrics: a deterministic
   * tf/length retriever over three term queries — graded tf
   * relevance, exact-rational scores (no rounding-boundary hazard),
   * heap-cut top-10 with ranks windowed over the ≤10 survivors.
   * Returns (results(query, rank, doc_id), rels(query, doc_id, rel)).
   */
  private def tfLenRetrieval(s: SparkSession, dir: String): (DataFrame, DataFrame) = {
    import org.apache.spark.sql.expressions.Window
    val toks = t(s, dir, "documents")
      .select(col("doc_id"), split(lower(col("text")), " ").as("w"))
    val scored = Seq("hash", "merge", "join").map { term =>
      toks.select(lit(term).as("query"), col("doc_id"),
        size(filter(col("w"), x => x === term)).cast("double").as("rel"),
        (size(filter(col("w"), x => x === term)).cast("double")
          / size(col("w"))).as("score"))
    }.reduce(_ unionByName _).filter(col("rel") > 0)
    val cut = graft.relational.Relational.topKPerKey(scored,
      Seq(col("query")), Seq(col("score").desc, col("doc_id").asc), 10)
    val w = Window.partitionBy("query").orderBy(col("score").desc, col("doc_id"))
    val results = cut.withColumn("rank", row_number().over(w))
      .select("query", "rank", "doc_id")
    (results, scored.select("query", "doc_id", "rel"))
  }

  /** One k-means round as chained CTEs: mean centroids `c` from `in`, reassignment `out`. */
  private def kmRound(c: String, out: String, in: String): String =
    s"$c AS (SELECT cl, list(cv ORDER BY i) AS centroid FROM (" +
      s"SELECT cl, i, avg(v[i]) AS cv FROM $in, generate_series(1, 64) t(i) " +
      "GROUP BY cl, i) GROUP BY cl), " +
      s"$out AS (SELECT vec_id, v, cl FROM (" +
      s"SELECT x.vec_id, x.v, c.cl, row_number() OVER (PARTITION BY x.vec_id " +
      s"ORDER BY list_cosine_similarity(x.v, c.centroid) DESC, c.cl) AS rn " +
      s"FROM $in x, $c c) WHERE rn = 1), "

  /**
   * Greedy MMR replay: the cosine top-20 pool for query vector 0,
   * then 5 chained pick-CTEs (λ=0.7, μ=0.3), each selecting the
   * argmax of 0.7·rel − 0.3·max-sim-to-selected with similarities
   * rounded to 6 decimals before the arithmetic — the identical
   * discipline as the engine's driver-side greedy loop.
   */
  private lazy val mmrSql: String = {
    val steps = (2 to 5).map { t =>
      val prev = s"sel${t - 1}"
      val pen = s"(SELECT max(round(list_cosine_similarity(r.v, s.v), 6)) FROM $prev s)"
      s"p$t AS (SELECT $t AS rank, r.id, r.v, r.rel, " +
        s"round(0.7 * r.rel - 0.3 * $pen, 6) AS sc " +
        s"FROM c20 r WHERE r.id NOT IN (SELECT id FROM $prev) " +
        s"ORDER BY 0.7 * r.rel - 0.3 * $pen DESC, r.id LIMIT 1), " +
        s"sel$t AS (SELECT id, v FROM $prev UNION ALL SELECT id, v FROM p$t), "
    }.mkString.dropRight(2)
    "WITH cand AS (SELECT c.vec_id AS id, c.embedding::DOUBLE[] AS v, " +
      "list_cosine_similarity(q.embedding::DOUBLE[], c.embedding::DOUBLE[]) AS cos, " +
      "row_number() OVER (ORDER BY " +
      "list_cosine_similarity(q.embedding::DOUBLE[], c.embedding::DOUBLE[]) DESC, " +
      "c.vec_id) AS rnk FROM embeddings q JOIN embeddings c ON c.vec_id != q.vec_id " +
      "WHERE q.vec_id = 0), " +
      "c20 AS (SELECT id, v, round(cos, 6) AS rel FROM cand WHERE rnk <= 20), " +
      "p1 AS (SELECT 1 AS rank, id, v, rel, round(0.7 * rel, 6) AS sc FROM c20 " +
      "ORDER BY 0.7 * rel DESC, id LIMIT 1), " +
      "sel1 AS (SELECT id, v FROM p1), " + steps + " " +
      "SELECT CAST(rank AS BIGINT) AS rank, id AS vec_id, sc AS mmr FROM " +
      "(SELECT rank, id, sc FROM p1 UNION ALL SELECT rank, id, sc FROM p2 " +
      "UNION ALL SELECT rank, id, sc FROM p3 UNION ALL SELECT rank, id, sc FROM p4 " +
      "UNION ALL SELECT rank, id, sc FROM p5)"
  }

  /**
   * [[Similarity.pcaProject]] oracle: covariance from the parquet,
   * then the SAME 20 power-iteration steps per component, fully
   * unrolled (20 × 64-row matvecs are trivial; recursive CTEs can't
   * aggregate their own reference), Hotelling deflation between
   * components, projection minus the mean offset.
   */
  private val pcaSql: String = pcaSqlBody(whiten = false)

  private val pcaWhitenSql: String = pcaSqlBody(whiten = true)

  private val pcaDeleteSql: String = pcaSqlBody(whiten = false,
    where = " WHERE vec_id <= (SELECT max(vec_id) // 2 FROM embeddings)")

  private def pcaSqlBody(whiten: Boolean, where: String = ""): String = {
    // every CTE MATERIALIZED: DuckDB inlines plain CTEs, and the
    // 20-deep v→m→cov→…→v chain would duplicate the upstream parquet
    // scan exponentially (observed as an fd-exhaustion error)
    def steps(pre: String, covName: String, start: Int): String = {
      val v0 = s"${pre}v0 AS MATERIALIZED (SELECT i, " +
        s"CASE WHEN i = $start THEN 1.0 ELSE 0.0 END " +
        "AS x FROM generate_series(1, 64) t(i))"
      val its = (1 to 20).map { st =>
        s"${pre}m$st AS MATERIALIZED (SELECT c.i, sum(c.cij * v.x) AS x " +
          s"FROM $covName c " +
          s"JOIN ${pre}v${st - 1} v ON c.j = v.i GROUP BY c.i), " +
          s"${pre}v$st AS MATERIALIZED (SELECT i, " +
          s"x / sqrt((SELECT sum(x * x) FROM ${pre}m$st)) " +
          s"AS x FROM ${pre}m$st)"
      }.mkString(", ")
      s"$v0, $its"
    }
    "WITH v AS MATERIALIZED (SELECT vec_id, embedding::DOUBLE[] AS v " +
      s"FROM embeddings$where), " +
      "nn AS MATERIALIZED (SELECT count(*)::DOUBLE AS n FROM v), " +
      "mean AS MATERIALIZED (SELECT i, sum(v[i]) / (SELECT n FROM nn) AS m " +
      "FROM v, generate_series(1, 64) t(i) GROUP BY i), " +
      "sxx AS MATERIALIZED (SELECT a.i AS i, b.j AS j, " +
      "sum(x.v[a.i] * x.v[b.j]) AS s " +
      "FROM v x, generate_series(1, 64) a(i), generate_series(1, 64) b(j) " +
      "GROUP BY 1, 2), " +
      "cov AS MATERIALIZED (SELECT s.i, s.j, " +
      "s.s / (SELECT n FROM nn) - ma.m * mb.m AS cij " +
      "FROM sxx s JOIN mean ma ON ma.i = s.i JOIN mean mb ON mb.i = s.j), " +
      steps("a", "cov", 1) + ", " +
      "lam1 AS MATERIALIZED (SELECT sum(v.x * m.x) AS l FROM av20 v JOIN " +
      "(SELECT c.i, sum(c.cij * w.x) AS x FROM cov c JOIN av20 w ON c.j = w.i " +
      "GROUP BY c.i) m ON v.i = m.i), " +
      "cov2 AS MATERIALIZED (SELECT c.i, c.j, " +
      "c.cij - (SELECT l FROM lam1) * a.x * b.x AS cij " +
      "FROM cov c JOIN av20 a ON a.i = c.i JOIN av20 b ON b.i = c.j), " +
      steps("b", "cov2", 2) + ", " +
      "lam2 AS MATERIALIZED (SELECT sum(v.x * m.x) AS l FROM bv20 v JOIN " +
      "(SELECT c.i, sum(c.cij * w.x) AS x FROM cov2 c JOIN bv20 w ON c.j = w.i " +
      "GROUP BY c.i) m ON v.i = m.i), " +
      "w1 AS MATERIALIZED (SELECT list(x ORDER BY i) AS w FROM av20), " +
      "w2 AS MATERIALIZED (SELECT list(x ORDER BY i) AS w FROM bv20), " +
      "o1 AS MATERIALIZED (SELECT sum(m.m * v.x) AS o " +
      "FROM mean m JOIN av20 v ON m.i = v.i), " +
      "o2 AS MATERIALIZED (SELECT sum(m.m * v.x) AS o " +
      "FROM mean m JOIN bv20 v ON m.i = v.i) " +
      "SELECT vec_id, " +
      // + 0.0 after round: normalize -0.0 → +0.0 (matches the engine)
      (if (whiten)
        "round((list_dot_product(x.v, (SELECT w FROM w1)) - (SELECT o FROM o1)) " +
          "/ sqrt((SELECT l FROM lam1)), 4) + 0.0 AS p0, " +
          "round((list_dot_product(x.v, (SELECT w FROM w2)) - (SELECT o FROM o2)) " +
          "/ sqrt((SELECT l FROM lam2)), 4) + 0.0 AS p1 "
      else
        "round(list_dot_product(x.v, (SELECT w FROM w1)) - (SELECT o FROM o1), 4) + 0.0 AS p0, " +
          "round(list_dot_product(x.v, (SELECT w FROM w2)) - (SELECT o FROM o2), 4) + 0.0 AS p1 ") +
      "FROM v x"
  }

  /**
   * IVF-PQ oracle, parameterized by the quantizer's TRAINING SET
   * (`trainFilter` restricts the vectors that derive the coarse
   * centroids and PQ codebooks; assignment/encoding/search always
   * cover the full corpus). Empty filter ⇒ train on everything —
   * the ann_ivfpq / ann_index_persisted case; a vec_id cut ⇒ the
   * frozen-quantizer append case (ann_index_append).
   */
  private def ivfPqSql(trainFilter: String, candJoin: String = "",
      refineRounds: Int = 0): String =
    "WITH v AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings), " +
      s"tv AS (SELECT * FROM v $trainFilter), " +
      (if (refineRounds == 0)
        "d AS (SELECT vec_id % 32 AS _b, i, avg(v[i]) AS cv FROM tv, " +
          "generate_series(1, 64) t(i) GROUP BY 1, 2), " +
          "cent AS (SELECT _b, list(cv ORDER BY i) AS centroid FROM d GROUP BY _b), "
      else
        // Lloyd-refined coarse quantizer (requantizeAnnIndex): the
        // emb_kmeans round CTEs seeded at vec_id % 32, final
        // centroids = means of the last reassignment
        "ra0 AS (SELECT vec_id, v, vec_id % 32 AS cl FROM tv), " +
          (1 to refineRounds).map(r =>
            kmRound(s"rc$r", s"ra$r", s"ra${r - 1}")).mkString +
          "cent AS (SELECT cl AS _b, list(cv ORDER BY i) AS centroid FROM (" +
          s"SELECT cl, i, avg(v[i]) AS cv FROM ra$refineRounds, " +
          "generate_series(1, 64) t(i) GROUP BY cl, i) GROUP BY cl), ") +
      "assign AS (SELECT vec_id, _b FROM (" +
      "SELECT x.vec_id, ct._b, row_number() OVER (PARTITION BY x.vec_id " +
      "ORDER BY list_cosine_similarity(x.v, ct.centroid) DESC, ct._b) AS rn " +
      "FROM v x, cent ct) WHERE rn = 1), " +
      "probes AS (SELECT vec_id AS query_id, v AS qv, _b FROM (" +
      "SELECT x.vec_id, x.v, ct._b, row_number() OVER (PARTITION BY x.vec_id " +
      "ORDER BY list_cosine_similarity(x.v, ct.centroid) DESC, ct._b) AS rn " +
      "FROM v x, cent ct WHERE x.vec_id < 10) WHERE rn <= 8), " +
      "pcent AS (SELECT vec_id % 16 AS b, i, avg(v[i]) AS c FROM tv, " +
      "generate_series(1, 64) t(i) GROUP BY 1, 2), " +
      "pd AS (SELECT x.vec_id, (t.i - 1) // 8 AS j, ce.b, " +
      "sum((x.v[t.i] - ce.c) * (x.v[t.i] - ce.c)) AS d2 " +
      "FROM v x, generate_series(1, 64) t(i) JOIN pcent ce ON ce.i = t.i " +
      "GROUP BY 1, 2, ce.b), " +
      "pbest AS (SELECT vec_id, j, b, row_number() OVER " +
      "(PARTITION BY vec_id, j ORDER BY d2, b) AS rn FROM pd), " +
      "code AS (SELECT vec_id, j, b FROM pbest WHERE rn = 1), " +
      "qd AS (SELECT p.query_id, a.vec_id AS neighbor_id, " +
      "sum((p.qv[t.i] - ce.c) * (p.qv[t.i] - ce.c)) AS raw " +
      "FROM probes p JOIN assign a ON p._b = a._b AND a.vec_id != p.query_id " +
      candJoin +
      "JOIN code co ON co.vec_id = a.vec_id " +
      "JOIN pcent ce ON ce.b = co.b, generate_series(1, 64) t(i) " +
      "WHERE (t.i - 1) // 8 = co.j AND ce.i = t.i GROUP BY 1, 2) " +
      "SELECT query_id, CAST(rank AS BIGINT) AS rank, neighbor_id, adist FROM (" +
      "SELECT query_id, neighbor_id, round(raw, 6) AS adist, " +
      "row_number() OVER (PARTITION BY query_id " +
      "ORDER BY round(raw, 6), neighbor_id) AS rank FROM qd) WHERE rank <= 5"

  val all: Seq[Query] = Seq(
    /**
     * Ranking-quality evaluation ([[Retrieval.ndcgAtK]]): a
     * deterministic tf/length retriever is scored by nDCG@10 against
     * graded tf relevance for three term queries. The arithmetic is
     * exact-rational doubles (tf/len), so the system ordering needs no
     * rounding guard; the ideal cut uses the per-key heap.
     */
    Query("retrieval_ndcg", (s, dir) => {
      val (results, rels) = tfLenRetrieval(s, dir)
      Retrieval.ndcgAtK(results, rels, k = 10)
    },
      oracle =
        ("WITH tok AS (SELECT doc_id, string_split(lower(text), ' ') AS w FROM documents), q AS (SELECT 'hash' AS query, doc_id, CAST(len(list_filter(w, x -> x = 'hash')) AS DOUBLE) AS rel, CAST(len(list_filter(w, x -> x = 'hash')) AS DOUBLE) / len(w) AS score FROM tok UNION ALL SELECT 'merge' AS query, doc_id, CAST(len(list_filter(w, x -> x = 'merge')) AS DOUBLE) AS rel, CAST(len(list_filter(w, x -> x = 'merge')) AS DOUBLE) / len(w) AS score FROM tok UNION ALL SELECT 'join' AS query, doc_id, CAST(len(list_filter(w, x -> x = 'join')) AS DOUBLE) AS rel, CAST(len(list_filter(w, x -> x = 'join')) AS DOUBLE) / len(w) AS score FROM tok), pos AS (SELECT * FROM q WHERE rel > 0), rk AS (SELECT query, doc_id, rel, row_number() OVER (PARTITION BY query ORDER BY score DESC, doc_id) AS rank FROM pos), dcg AS (SELECT query, sum(rel / log2(rank + 1)) AS dcg FROM rk WHERE rank <= 10 GROUP BY query), irk AS (SELECT query, rel, row_number() OVER (PARTITION BY query ORDER BY rel DESC, doc_id) AS irank FROM pos), idcg AS (SELECT query, sum(rel / log2(irank + 1)) AS idcg FROM irk WHERE irank <= 10 GROUP BY query), uq AS (SELECT DISTINCT query FROM pos) SELECT u.query, CASE WHEN coalesce(i.idcg, 0.0) = 0.0 THEN 0.0 ELSE round(coalesce(d.dcg, 0.0) / i.idcg, 6) END AS ndcg FROM uq u LEFT JOIN dcg d ON u.query = d.query LEFT JOIN idcg i ON u.query = i.query")),

    /**
     * MRR + recall@10 for the same tf/length retriever and term queries
     * as `retrieval_ndcg` ([[Retrieval.rankingMetrics]]).
     */
    Query("retrieval_metrics", (s, dir) => {
      val (results, rels) = tfLenRetrieval(s, dir)
      Retrieval.rankingMetrics(results, rels, k = 10)
    },
      // replays the two-pass BM25 arithmetic term-by-term in the same
      // order (idf and avgdl rounded to 6 decimals before scoring on
      // both sides, so the unrounded ranking doubles are bit-identical)
      oracle =
        ("WITH tok AS (SELECT doc_id, string_split(lower(text), ' ') AS w FROM documents), q AS (SELECT 'hash' AS query, doc_id, CAST(len(list_filter(w, x -> x = 'hash')) AS DOUBLE) AS rel, CAST(len(list_filter(w, x -> x = 'hash')) AS DOUBLE) / len(w) AS score FROM tok UNION ALL SELECT 'merge' AS query, doc_id, CAST(len(list_filter(w, x -> x = 'merge')) AS DOUBLE) AS rel, CAST(len(list_filter(w, x -> x = 'merge')) AS DOUBLE) / len(w) AS score FROM tok UNION ALL SELECT 'join' AS query, doc_id, CAST(len(list_filter(w, x -> x = 'join')) AS DOUBLE) AS rel, CAST(len(list_filter(w, x -> x = 'join')) AS DOUBLE) / len(w) AS score FROM tok), pos AS (SELECT * FROM q WHERE rel > 0), rk AS (SELECT query, doc_id, row_number() OVER (PARTITION BY query ORDER BY score DESC, doc_id) AS rank FROM pos), hits AS (SELECT rk.query, rk.rank FROM rk JOIN pos p ON rk.query = p.query AND rk.doc_id = p.doc_id WHERE rk.rank <= 10), pq AS (SELECT query, round(1.0 / min(rank), 6) AS rr, count(*) AS n_hit FROM hits GROUP BY query), tot AS (SELECT query, count(*) AS n_rel FROM pos GROUP BY query) SELECT t.query, coalesce(pq.rr, 0.0) AS rr, round(coalesce(pq.n_hit, 0) * 1.0 / t.n_rel, 6) AS recall FROM tot t LEFT JOIN pq ON t.query = pq.query")),

    /**
     * Hybrid search: BM25 lexical top-50 fused with the vector top-50
     * for query vector 0 by reciprocal rank (c=60). Ranks are assigned
     * within the already-bounded 50-row lists (the windows below rank
     * 50 rows, not the corpus), then fused by [[Retrieval.rrfFuse]].
     */
    Query("retrieval_rrf", (s, dir) => {
      import org.apache.spark.sql.expressions.Window
      val lex = Retrieval.bm25TopK(t(s, dir, "documents"), Seq("hash", "merge", "join"), k = 50)
        .select(col("doc_id").as("id"),
          row_number().over(Window.orderBy(col("bm25").desc, col("doc_id"))).cast("long").as("rank"))
      val embs = t(s, dir, "embeddings")
      val sem = Similarity.bruteForceTopK(embs, embs.filter(col("vec_id") === 0), k = 50)
        .select(col("neighbor_id").as("id"), col("rank").cast("long").as("rank"))
      Retrieval.rrfFuse(lex, sem, kOut = 20)
    },
      // hybrid fusion: the bm25 top-50 (replayed term-by-term) and the
      // exact cosine top-50 for query vector 0, fused by 1/(60+rank)
      oracle =
        ("WITH tok AS (SELECT doc_id, string_split(lower(text), ' ') AS w FROM documents), " +
          "st AS (SELECT count(*) AS n_docs, round(avg(len(w)), 6) AS avgdl, " +
          "sum(CASE WHEN list_contains(w, 'hash') THEN 1 ELSE 0 END) AS df0, " +
          "sum(CASE WHEN list_contains(w, 'merge') THEN 1 ELSE 0 END) AS df1, " +
          "sum(CASE WHEN list_contains(w, 'join') THEN 1 ELSE 0 END) AS df2 FROM tok), " +
          "idf AS (SELECT avgdl, " +
          "round(ln((n_docs - df0 + 0.5) / (df0 + 0.5) + 1), 6) AS i0, " +
          "round(ln((n_docs - df1 + 0.5) / (df1 + 0.5) + 1), 6) AS i1, " +
          "round(ln((n_docs - df2 + 0.5) / (df2 + 0.5) + 1), 6) AS i2 FROM st), " +
          "sc AS (SELECT doc_id, " +
          bm25Term("i0", "hash") + " + " + bm25Term("i1", "merge") + " + " +
          bm25Term("i2", "join") + " AS s FROM tok, idf), " +
          "lex50 AS (SELECT doc_id, round(s, 4) AS bm25 FROM sc " +
          "ORDER BY s DESC, doc_id LIMIT 50), " +
          "lexr AS (SELECT doc_id AS id, CAST(row_number() OVER " +
          "(ORDER BY bm25 DESC, doc_id) AS BIGINT) AS rank FROM lex50), " +
          "semr AS (SELECT neighbor_id AS id, rank FROM (" +
          "SELECT c.vec_id AS neighbor_id, CAST(row_number() OVER " +
          "(ORDER BY list_cosine_similarity(q.embedding::DOUBLE[], c.embedding::DOUBLE[]) DESC, " +
          "c.vec_id) AS BIGINT) AS rank " +
          "FROM embeddings q JOIN embeddings c ON q.vec_id != c.vec_id " +
          "WHERE q.vec_id = 0) WHERE rank <= 50), " +
          "f AS (SELECT coalesce(l.id, s2.id) AS id, " +
          "coalesce(1.0 / (60 + l.rank), 0) + coalesce(1.0 / (60 + s2.rank), 0) AS rrf " +
          "FROM lexr l FULL JOIN semr s2 ON l.id = s2.id) " +
          "SELECT id, round(rrf, 6) AS rrf FROM f ORDER BY rrf DESC, id LIMIT 20")),

    /**
     * Distributed PCA ([[Similarity.pcaProject]]): one-pass covariance
     * aggregate, driver-side d×d power-iteration eigensolve (20 fixed
     * steps, Hotelling deflation), scan-stage projection. The oracle
     * unrolls the same 20 steps per component in SQL.
     */
    Query("emb_pca", (s, dir) =>
      Similarity.pcaProject(t(s, dir, "embeddings"), k = 2, iters = 20),
      oracle = pcaSql),

    /**
     * Whitened PCA: each component scaled to unit variance by its
     * Rayleigh-quotient λ — the OPQ-style preprocessing that stops the
     * dominant direction from hogging every PQ codebook bit. Oracle
     * replays the λs off the unrolled power iterates.
     */
    Query("emb_pca_whiten", (s, dir) =>
      Similarity.pcaProject(t(s, dir, "embeddings"), k = 2, iters = 20,
        whiten = true),
      oracle = pcaWhitenSql),

    /**
     * PCA model DELETE (downdate): the upper half of the corpus is
     * retracted; the model re-fits from (full − removed) moment
     * subtraction ([[Similarity.subtractMomentState]]) — survivors are
     * never rescanned for the fit — and projects the survivors. Oracle
     * runs the full pipeline over the surviving rows only.
     */
    Query("emb_pca_delete", (s, dir) => {
      val embs = t(s, dir, "embeddings")
      val cut = embs.agg(max("vec_id")).head.getLong(0) / 2
      val state = Similarity.subtractMomentState(
        Similarity.momentState(embs),
        Similarity.momentState(embs.filter(col("vec_id") > cut)))
      Similarity.pcaProjectFromState(embs.filter(col("vec_id") <= cut), state,
        k = 2, iters = 20)
    },
      oracle = pcaDeleteSql),

    /**
     * PCA model MAINTENANCE: the corpus arrives as two ingest batches;
     * each contributes one O(d²) [[Similarity.momentState]] row, the
     * model re-fits from the MERGED states (the already-ingested batch
     * is never rescanned), and the projection of the full corpus equals
     * the full-corpus fit — same oracle as emb_pca. The mergeable-
     * summary law, applied to covariance.
     */
    Query("emb_pca_incr", (s, dir) => {
      val embs = t(s, dir, "embeddings")
      val cut = embs.agg(max("vec_id")).head.getLong(0) / 2
      val states = Similarity.momentState(embs.filter(col("vec_id") <= cut))
        .unionByName(Similarity.momentState(embs.filter(col("vec_id") > cut)))
      Similarity.pcaProjectFromState(embs,
        Similarity.mergeMomentStates(states), k = 2, iters = 20)
    },
      oracle = pcaSql),

    /**
     * Johnson-Lindenstrauss random projection 64→16 dims with
     * md5-derived ±1 planes; emits the first 4 components and the
     * projected norm (all 16 components feed the norm).
     */
    Query("emb_project", (s, dir) => {
      val k = 16
      val proj = Similarity.randomProjection(t(s, dir, "embeddings"), k = k, dims = 64)
      val norm = sqrt((0 until k).map(j => col(s"p_$j") * col(s"p_$j")).reduce(_ + _))
      proj.select(col("vec_id"),
        round(col("p_0"), 4).as("p0"), round(col("p_1"), 4).as("p1"),
        round(col("p_2"), 4).as("p2"), round(col("p_3"), 4).as("p3"),
        round(norm, 4).as("pnorm"))
    },
      oracle = ("WITH v AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings), " +
        "pl AS (SELECT j, list(CASE WHEN " +
        "('0x'||substr(md5('proj:'||j||':'||(i-1)), 1, 16))::UBIGINT & 1 = 1 " +
        "THEN 1.0 ELSE -1.0 END ORDER BY i) AS plane " +
        "FROM generate_series(0, 15) jj(j), generate_series(1, 64) ii(i) GROUP BY j), " +
        "p AS (SELECT vec_id, j, list_dot_product(x.v, pl.plane) AS pv FROM v x, pl), " +
        "w AS (SELECT vec_id, list(pv ORDER BY j) AS pj FROM p GROUP BY vec_id) " +
        "SELECT vec_id, round(pj[1], 4) AS p0, round(pj[2], 4) AS p1, " +
        "round(pj[3], 4) AS p2, round(pj[4], 4) AS p3, " +
        "round(sqrt(list_dot_product(pj, pj)), 4) AS pnorm FROM w")),

    /**
     * Recall@5 of nearest-neighbor search in the 16-dim JL-projected
     * space against the exact 64-dim ranking, per query vector — the
     * quality measurement that justifies running ANN on projected
     * vectors at scale (4× less data through every shuffle). Both
     * rankings and the set intersection are deterministic, so DuckDB
     * replays the whole measurement.
     */
    Query("emb_recall", (s, dir) => {
      val embs = t(s, dir, "embeddings")
      val queries = embs.filter(col("vec_id") < 20)
      val full = Similarity.bruteForceTopK(embs, queries, k = 5)
        .select(col("query_id"), col("neighbor_id"))
      val projAll = Similarity.randomProjection(embs, k = 16, dims = 64)
        .select(col("vec_id"), array((0 until 16).map(j => col(s"p_$j")): _*).as("embedding"))
      val proj = Similarity.bruteForceTopK(projAll, projAll.filter(col("vec_id") < 20), k = 5)
        .select(col("query_id"), col("neighbor_id"))
      full.join(proj, Seq("query_id", "neighbor_id"))
        .groupBy("query_id")
        .agg((count(lit(1)) / 5.0).as("recall5"))
    },
      // replays the full recall measurement: md5-plane projection, exact
      // 64-dim top-5, projected 16-dim top-5, per-query intersection
      oracle = ("WITH v AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings), " +
        "pl AS (SELECT j, list(CASE WHEN " +
        "('0x'||substr(md5('proj:'||j||':'||(i-1)), 1, 16))::UBIGINT & 1 = 1 " +
        "THEN 1.0 ELSE -1.0 END ORDER BY i) AS plane " +
        "FROM generate_series(0, 15) jj(j), generate_series(1, 64) ii(i) GROUP BY j), " +
        "p AS (SELECT vec_id, j, list_dot_product(x.v, pl.plane) AS pv FROM v x, pl), " +
        "pj AS (SELECT vec_id, list(pv ORDER BY j) AS v FROM p GROUP BY vec_id), " +
        "fullr AS (SELECT query_id, neighbor_id FROM (" +
        "SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id, " +
        "row_number() OVER (PARTITION BY q.vec_id " +
        "ORDER BY list_cosine_similarity(q.v, c.v) DESC, c.vec_id) AS rank " +
        "FROM v q JOIN v c ON q.vec_id != c.vec_id WHERE q.vec_id < 20) WHERE rank <= 5), " +
        "projr AS (SELECT query_id, neighbor_id FROM (" +
        "SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id, " +
        "row_number() OVER (PARTITION BY q.vec_id " +
        "ORDER BY list_cosine_similarity(q.v, c.v) DESC, c.vec_id) AS rank " +
        "FROM pj q JOIN pj c ON q.vec_id != c.vec_id WHERE q.vec_id < 20) WHERE rank <= 5) " +
        "SELECT query_id, count(*) / 5.0 AS recall5 " +
        "FROM fullr JOIN projr USING (query_id, neighbor_id) GROUP BY query_id")),

    /**
     * Lloyd's k-means (k=8, 3 fixed iterations, cosine metric,
     * id-modulo seeds): per-cluster census of the final assignment.
     * The oracle replays every round as chained CTEs.
     */
    Query("emb_kmeans", (s, dir) =>
      Similarity.kmeansCensus(t(s, dir, "embeddings"), k = 8, iters = 3),
      // replays all 3 Lloyd's rounds (mean centroids -> argmax-cosine
      // reassignment, lowest cluster on ties) as chained CTEs, then the
      // final-census round
      oracle = ("WITH va AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings), " +
        "a0 AS (SELECT vec_id, v, vec_id % 8 AS cl FROM va), " +
        kmRound("c1", "a1", "a0") + kmRound("c2", "a2", "a1") +
        kmRound("c3", "a3", "a2") +
        "cf AS (SELECT cl AS fcl, list(cv ORDER BY i) AS centroid FROM (" +
        "SELECT cl, i, avg(v[i]) AS cv FROM a3, generate_series(1, 64) t(i) " +
        "GROUP BY cl, i) GROUP BY cl) " +
        "SELECT a3.cl, count(*) AS n_members, " +
        "round(avg(list_cosine_similarity(a3.v, cf.centroid)), 4) AS mean_cos " +
        "FROM a3 JOIN cf ON a3.cl = cf.fcl GROUP BY a3.cl")),

    /**
     * Cluster-balanced diversity sampling — the "cluster, then take a
     * uniform quota per cluster" step of modern curation recipes
     * (SemDeDup/DCLM shape): deterministic k-means assignment, then an
     * EXACT 10-vector quota per cluster in md5 order via the heap
     * top-k (no per-cluster window task). Oracle replays the k-means
     * rounds and the row_number cut.
     */
    Query("emb_cluster_sample", (s, dir) =>
      graft.relational.Relational.topKPerKey(
        Similarity.kmeansAssign(t(s, dir, "embeddings"), k = 8, iters = 3)
          .withColumn("_key", md5(concat(lit("cbal:"), col("id").cast("string")))),
        Seq(col("cl")), Seq(col("_key").asc, col("id").asc), 10)
        .select(col("cl"), col("id").as("vec_id")),
      // cluster-balanced quota: the replayed k-means assignment cut to
      // 10 vectors per cluster in md5('cbal:'||id) order
      oracle = ("WITH va AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings), " +
        "a0 AS (SELECT vec_id, v, vec_id % 8 AS cl FROM va), " +
        kmRound("c1", "a1", "a0") + kmRound("c2", "a2", "a1") +
        kmRound("c3", "a3", "a2").stripSuffix(", ") +
        " SELECT cl, vec_id FROM (SELECT cl, vec_id, " +
        "row_number() OVER (PARTITION BY cl " +
        "ORDER BY md5('cbal:'||vec_id), vec_id) AS rn FROM a3) WHERE rn <= 10")),

    /** Per-cluster simplified silhouette over the deterministic k-means assignment. */
    Query("emb_silhouette", (s, dir) =>
      Similarity.silhouette(t(s, dir, "embeddings"), k = 8, iters = 3),
      // simplified silhouette over the replayed 3-round k-means: per
      // vector a = dist to own centroid, b = min dist to another
      oracle = ("WITH va AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings), " +
        "a0 AS (SELECT vec_id, v, vec_id % 8 AS cl FROM va), " +
        kmRound("c1", "a1", "a0") + kmRound("c2", "a2", "a1") +
        kmRound("c3", "a3", "a2") +
        "cf AS (SELECT cl AS fcl, list(cv ORDER BY i) AS centroid FROM (" +
        "SELECT cl, i, avg(v[i]) AS cv FROM a3, generate_series(1, 64) t(i) " +
        "GROUP BY cl, i) GROUP BY cl), " +
        "d AS (SELECT a3.vec_id, a3.cl, cf.fcl, " +
        "1.0 - list_cosine_similarity(a3.v, cf.centroid) AS dist FROM a3, cf), " +
        "ab AS (SELECT vec_id, cl, max(CASE WHEN cl = fcl THEN dist END) AS a, " +
        "min(CASE WHEN cl <> fcl THEN dist END) AS b FROM d GROUP BY vec_id, cl), " +
        "sil AS (SELECT cl, CASE WHEN greatest(a, b) = 0 THEN 0.0 " +
        "ELSE (b - a) / greatest(a, b) END AS s FROM ab) " +
        "SELECT cl, count(*) AS n_members, round(avg(s), 4) AS mean_sil " +
        "FROM sil GROUP BY cl")),

    /**
     * Product quantization (8 subspaces × 16 codewords over 64 dims):
     * per-vector PQ codes + reconstruction error. The oracle replays
     * the id-seeded codebooks and the per-subspace argmin in SQL.
     */
    Query("emb_pq", (s, dir) =>
      Similarity.productQuantize(t(s, dir, "embeddings"), m = 8, k = 16),
      // replays PQ: id-seeded codebooks (vec_id%16 partition means per
      // dim), per-(vec, subspace) argmin over the 16 codewords (L2,
      // lowest index on ties), error = sqrt of the summed minima
      oracle = ("WITH v AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings), " +
        "cent AS (SELECT vec_id % 16 AS b, i, avg(v[i]) AS c FROM v, " +
        "generate_series(1, 64) t(i) GROUP BY 1, 2), " +
        "d AS (SELECT x.vec_id, (t.i - 1) // 8 AS j, ce.b, " +
        "sum((x.v[t.i] - ce.c) * (x.v[t.i] - ce.c)) AS d2 " +
        "FROM v x, generate_series(1, 64) t(i) JOIN cent ce ON ce.i = t.i " +
        "GROUP BY 1, 2, ce.b), " +
        "best AS (SELECT vec_id, j, b, d2, row_number() OVER " +
        "(PARTITION BY vec_id, j ORDER BY d2, b) AS rn FROM d), " +
        "sel AS (SELECT vec_id, j, b, d2 FROM best WHERE rn = 1) " +
        "SELECT vec_id, " +
        (0 until 8).map(j =>
          s"CAST(max(CASE WHEN j = $j THEN b END) AS BIGINT) AS code_$j, ").mkString +
        "round(sqrt(sum(d2)), 4) AS err FROM sel GROUP BY vec_id")),

    /**
     * PQ asymmetric-distance ANN: top-5 neighbors for the first 10
     * vectors scored from codes + codebooks only. Distances round to 6
     * decimals before ranking so the SQL replay orders identically.
     */
    Query("ann_pq", (s, dir) => {
      val embs = t(s, dir, "embeddings")
      Similarity.pqTopK(embs, embs.filter(col("vec_id") < 10), topk = 5)
    },
      // ADC search over the same codebooks/codes: a query scores a
      // corpus vector by codebook lookups only; ranking on the
      // 6-decimal-rounded distance (neighbor tie-break) matches the
      // engine ordering exactly
      oracle = ("WITH v AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings), " +
        "cent AS (SELECT vec_id % 16 AS b, i, avg(v[i]) AS c FROM v, " +
        "generate_series(1, 64) t(i) GROUP BY 1, 2), " +
        "d AS (SELECT x.vec_id, (t.i - 1) // 8 AS j, ce.b, " +
        "sum((x.v[t.i] - ce.c) * (x.v[t.i] - ce.c)) AS d2 " +
        "FROM v x, generate_series(1, 64) t(i) JOIN cent ce ON ce.i = t.i " +
        "GROUP BY 1, 2, ce.b), " +
        "best AS (SELECT vec_id, j, b, row_number() OVER " +
        "(PARTITION BY vec_id, j ORDER BY d2, b) AS rn FROM d), " +
        "code AS (SELECT vec_id, j, b FROM best WHERE rn = 1), " +
        "qd AS (SELECT q.vec_id AS query_id, co.vec_id AS neighbor_id, " +
        "sum((q.v[t.i] - ce.c) * (q.v[t.i] - ce.c)) AS raw " +
        "FROM v q, code co JOIN cent ce ON ce.b = co.b, generate_series(1, 64) t(i) " +
        "WHERE q.vec_id < 10 AND co.vec_id != q.vec_id " +
        "AND (t.i - 1) // 8 = co.j AND ce.i = t.i GROUP BY 1, 2) " +
        "SELECT query_id, CAST(rank AS BIGINT) AS rank, neighbor_id, adist FROM (" +
        "SELECT query_id, neighbor_id, round(raw, 6) AS adist, " +
        "row_number() OVER (PARTITION BY query_id " +
        "ORDER BY round(raw, 6), neighbor_id) AS rank FROM qd) WHERE rank <= 5")),

    /**
     * PQ quality measurement: recall@5 of the ADC code-only ranking
     * against the exact cosine top-5 — the emb_recall pattern applied
     * to product quantization (what m/k cost in recall is the decision
     * a billion-vector deployment actually makes). Queries with zero
     * overlap keep a 0.0 row (left join from the query set).
     */
    Query("ann_recall_pq", (s, dir) => {
      val embs = t(s, dir, "embeddings")
      val queries = embs.filter(col("vec_id") < 10)
      val exact = Similarity.bruteForceTopK(embs, queries, k = 5)
        .select(col("query_id"), col("neighbor_id"))
      val pq = Similarity.pqTopK(embs, queries, topk = 5)
        .select(col("query_id"), col("neighbor_id"))
      val overlap = exact.join(pq, Seq("query_id", "neighbor_id"))
        .groupBy("query_id").agg(count(lit(1)).as("hits"))
      queries.select(col("vec_id").as("query_id"))
        .join(overlap, Seq("query_id"), "left_outer")
        .select(col("query_id"),
          (coalesce(col("hits"), lit(0L)) / 5.0).as("recall5"))
    },
      // ann_pq's code/ADC replay joined against the exact cosine top-5
      oracle = ("WITH v AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings), " +
        "cent AS (SELECT vec_id % 16 AS b, i, avg(v[i]) AS c FROM v, " +
        "generate_series(1, 64) t(i) GROUP BY 1, 2), " +
        "d AS (SELECT x.vec_id, (t.i - 1) // 8 AS j, ce.b, " +
        "sum((x.v[t.i] - ce.c) * (x.v[t.i] - ce.c)) AS d2 " +
        "FROM v x, generate_series(1, 64) t(i) JOIN cent ce ON ce.i = t.i " +
        "GROUP BY 1, 2, ce.b), " +
        "best AS (SELECT vec_id, j, b, row_number() OVER " +
        "(PARTITION BY vec_id, j ORDER BY d2, b) AS rn FROM d), " +
        "code AS (SELECT vec_id, j, b FROM best WHERE rn = 1), " +
        "qd AS (SELECT q.vec_id AS query_id, co.vec_id AS neighbor_id, " +
        "sum((q.v[t.i] - ce.c) * (q.v[t.i] - ce.c)) AS raw " +
        "FROM v q, code co JOIN cent ce ON ce.b = co.b, generate_series(1, 64) t(i) " +
        "WHERE q.vec_id < 10 AND co.vec_id != q.vec_id " +
        "AND (t.i - 1) // 8 = co.j AND ce.i = t.i GROUP BY 1, 2), " +
        "pqtop AS (SELECT query_id, neighbor_id FROM (" +
        "SELECT query_id, neighbor_id, row_number() OVER (PARTITION BY query_id " +
        "ORDER BY round(raw, 6), neighbor_id) AS rank FROM qd) WHERE rank <= 5), " +
        "ex AS (SELECT query_id, neighbor_id FROM (" +
        "SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id, " +
        "row_number() OVER (PARTITION BY q.vec_id " +
        "ORDER BY list_cosine_similarity(q.v, c.v) DESC, c.vec_id) AS rank " +
        "FROM v q JOIN v c ON q.vec_id != c.vec_id WHERE q.vec_id < 10) " +
        "WHERE rank <= 5), " +
        "ov AS (SELECT ex.query_id, count(*) AS hits FROM ex " +
        "JOIN pqtop ON ex.query_id = pqtop.query_id " +
        "AND ex.neighbor_id = pqtop.neighbor_id GROUP BY 1) " +
        "SELECT q.vec_id AS query_id, coalesce(hits, 0) / 5.0 AS recall5 " +
        "FROM embeddings q LEFT JOIN ov ON q.vec_id = ov.query_id " +
        "WHERE q.vec_id < 10")),

    /**
     * IVF-PQ composition: coarse 32-list routing (nprobe=8) + ADC
     * scoring over PQ codes inside the probed lists — FAISS's standard
     * billion-scale index shape. Oracle replays both stages in SQL.
     */
    Query("ann_ivfpq", (s, dir) => {
      val embs = t(s, dir, "embeddings")
      Similarity.ivfPqTopK(embs, embs.filter(col("vec_id") < 10), topk = 5)
    },
      // IVF routing (ann_ivf's assign/probes) composed with PQ codes +
      // ADC scoring (ann_pq's codebooks) — each corpus vector lives in
      // exactly one list so each (query, neighbor) scores once
      oracle = ivfPqSql("")),

    /**
     * IVF-PQ search against the PERSISTED index (Similarity
     * .writeAnnIndex): centroids/codebooks/codes live as tables, the
     * query reads only its probed lists' buckets, the float corpus is
     * never rescanned. Built from the same id-seeded quantizer ⇒
     * results bit-identical to ann_ivfpq (same oracle).
     */
    Query("ann_index_persisted", (s, dir) => {
      val embs = t(s, dir, "embeddings")
      if (!s.catalog.tableExists("graft_ann_idx_codes"))
        Similarity.writeAnnIndex(embs, "graft_ann_idx")
      Similarity.annIndexTopK(embs.filter(col("vec_id") < 10), "graft_ann_idx")
    },
      // the persisted index is built from the same id-seeded quantizer,
      // so its answers are bit-identical to the in-memory ivfpq path
      oracle = ivfPqSql("")),

    /**
     * Metadata-FILTERED search against the persisted index — the
     * vector-DB pattern: the label rides the codes table (writeAnnIndex
     * metaCols), so the predicate applies inside the bucket-pruned
     * index scan. Top-k is computed over passing candidates only (a
     * post-filtered top-k can come up short; this can't), and the float
     * corpus is never read.
     */
    Query("ann_index_filtered", (s, dir) => {
      val embs = t(s, dir, "embeddings")
      if (!s.catalog.tableExists("graft_ann_idxf_codes"))
        Similarity.writeAnnIndex(embs, "graft_ann_idxf", metaCols = Seq("label"))
      Similarity.annIndexTopK(embs.filter(col("vec_id") < 10), "graft_ann_idxf",
        candidateFilter = Some(col("label") === 3))
    },
      // filtered search: the label predicate restricts CANDIDATES (top-k
      // over passing rows), replayed as a join on the labeled corpus
      oracle = ivfPqSql("",
        "JOIN embeddings em ON em.vec_id = a.vec_id AND em.label = 3 ")),

    /**
     * Vector-index MAINTENANCE: index built from the first 90% (which
     * also trains the frozen quantizer), last 10% appended under it
     * (Similarity.appendToAnnIndex — encode + route only, batch-sized),
     * then searched. Oracle replays the same frozen-quantizer
     * semantics: centroids/codebooks from the 90%, search over all.
     */
    Query("ann_index_append", (s, dir) => {
      val embs = t(s, dir, "embeddings")
      val cut = (embs.agg(max("vec_id")).head.getLong(0) + 1L) * 9L / 10L
      if (!s.catalog.tableExists("graft_ann_idxa_codes")) {
        Similarity.writeAnnIndex(embs.filter(col("vec_id") < cut), "graft_ann_idxa")
        Similarity.appendToAnnIndex(embs.filter(col("vec_id") >= cut), "graft_ann_idxa")
      }
      Similarity.annIndexTopK(embs.filter(col("vec_id") < 10), "graft_ann_idxa")
    },
      // frozen-quantizer maintenance: centroids/codebooks train on the
      // first 90% only; the appended 10% is encoded under them
      oracle = ivfPqSql(
        "WHERE vec_id < (SELECT (max(vec_id) + 1) * 9 // 10 FROM embeddings)")),

    /**
     * Quantizer DRIFT SIGNAL (Similarity.annAssignmentResidual): the
     * index trains on the first 90%, and the one-row census measures
     * the mean cosine assignment residual of the FULL corpus against
     * the stored centroids — the observable that rises when
     * frozen-quantizer growth drifts away from the trained lists.
     * Oracle replays the id-seeded centroids and the (cos desc, _b)
     * assignment in SQL.
     */
    Query("ann_drift_residual", (s, dir) => {
      val embs = t(s, dir, "embeddings")
      val cut = (embs.agg(max("vec_id")).head.getLong(0) + 1L) * 9L / 10L
      if (!s.catalog.tableExists("graft_ann_idxq_codes"))
        Similarity.writeAnnIndex(embs.filter(col("vec_id") < cut), "graft_ann_idxq")
      Similarity.annAssignmentResidual(embs, "graft_ann_idxq")
    },
      // drift census: centroids from the 90% train set, mean cosine
      // assignment residual of the FULL corpus against them
      oracle = ("WITH v AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings), " +
        "tv AS (SELECT * FROM v WHERE vec_id < " +
        "(SELECT (max(vec_id) + 1) * 9 // 10 FROM embeddings)), " +
        "d AS (SELECT vec_id % 32 AS _b, i, avg(v[i]) AS cv FROM tv, " +
        "generate_series(1, 64) t(i) GROUP BY 1, 2), " +
        "cent AS (SELECT _b, list(cv ORDER BY i) AS centroid FROM d GROUP BY _b), " +
        "assign AS (SELECT vec_id, cos FROM (" +
        "SELECT x.vec_id, list_cosine_similarity(x.v, ct.centroid) AS cos, " +
        "row_number() OVER (PARTITION BY x.vec_id " +
        "ORDER BY list_cosine_similarity(x.v, ct.centroid) DESC, ct._b) AS rn " +
        "FROM v x, cent ct) WHERE rn = 1) " +
        "SELECT count(*) AS n_vectors, round(avg(1.0 - cos), 4) AS mean_residual " +
        "FROM assign")),

    /**
     * RE-QUANTIZATION maintenance (Similarity.requantizeAnnIndex): the
     * index trains on the first 90%, grows by the last 10% under the
     * frozen quantizer, then RETRAINS over the full corpus — after
     * which it must be indistinguishable from an index freshly built
     * on everything (the training step is deterministic), so the
     * oracle is exactly the full-train IVF-PQ replay.
     */
    Query("ann_index_requantize", (s, dir) => {
      val embs = t(s, dir, "embeddings")
      val cut = (embs.agg(max("vec_id")).head.getLong(0) + 1L) * 9L / 10L
      if (!s.catalog.tableExists("graft_ann_idxr_codes")) {
        Similarity.writeAnnIndex(embs.filter(col("vec_id") < cut), "graft_ann_idxr")
        Similarity.appendToAnnIndex(embs.filter(col("vec_id") >= cut), "graft_ann_idxr")
        Similarity.requantizeAnnIndex(embs, "graft_ann_idxr")
      }
      Similarity.annIndexTopK(embs.filter(col("vec_id") < 10), "graft_ann_idxr")
    },
      // requantized index ≡ an index freshly trained on the full corpus
      // with 3 Lloyd rounds (deterministic) — the refined IVF-PQ replay
      oracle = ivfPqSql("", refineRounds = 3)),

    /**
     * PQ reconstruction error of the stored index (Similarity
     * .pqReconstructionResidual): mean asymmetric-ADC distance between
     * each corpus vector and its OWN code under the stored codebooks —
     * the code-resolution drift signal that decides whether the
     * auto-remediation loop escalates m. Oracle replays the k=16
     * per-dimension-mean codebooks, the per-sub-block nearest-codeword
     * assignment, and the summed squared distance at the chosen codes.
     */
    Query("ann_pq_error", (s, dir) => {
      val embs = t(s, dir, "embeddings")
      if (!s.catalog.tableExists("graft_ann_idxe_codes"))
        Similarity.writeAnnIndex(embs, "graft_ann_idxe")
      Similarity.pqReconstructionResidual(embs, "graft_ann_idxe")
        .select(col("n_vectors"), round(col("mean_pq_error"), 4).as("mean_pq_error"))
    },
      // mean summed squared distance at each vector's chosen PQ codes
      // (k=16 per-dim-mean codebooks, subdim 8) — the ADC self-distance
      oracle = ("WITH v AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings), " +
        "pcent AS (SELECT vec_id % 16 AS b, i, avg(v[i]) AS c FROM v, " +
        "generate_series(1, 64) t(i) GROUP BY 1, 2), " +
        "pd AS (SELECT x.vec_id, (t.i - 1) // 8 AS j, ce.b, " +
        "sum((x.v[t.i] - ce.c) * (x.v[t.i] - ce.c)) AS d2 " +
        "FROM v x, generate_series(1, 64) t(i) JOIN pcent ce ON ce.i = t.i " +
        "GROUP BY 1, 2, ce.b), " +
        "pbest AS (SELECT vec_id, j, b, d2, row_number() OVER " +
        "(PARTITION BY vec_id, j ORDER BY d2, b) AS rn FROM pd) " +
        "SELECT CAST(count(*) AS BIGINT) AS n_vectors, " +
        "round(avg(e), 4) AS mean_pq_error FROM (" +
        "SELECT vec_id, sum(d2) AS e FROM pbest WHERE rn = 1 GROUP BY 1)")),

    /**
     * TWO successive requantizes over the same corpus — the index
     * crosses two EPOCH generations (flat → g1 → g2, the second flip
     * sweeping the flat layout), and the query path must resolve the
     * current generation's centroids/codebooks/codes as one snapshot.
     * Retraining is deterministic, so both rebuilds land the same
     * quantizer and the oracle stays the refined IVF-PQ replay — what
     * this query adds to the gate is the epoch RESOLUTION machinery
     * (generation naming, pointer flip, old-generation sweep) under the
     * driver's rows+schema+hash bar.
     */
    Query("ann_index_epoch", (s, dir) => {
      val embs = t(s, dir, "embeddings")
      if (!s.catalog.tableExists("graft_ann_idxg_epoch")) {
        Similarity.writeAnnIndex(embs, "graft_ann_idxg")
        Similarity.requantizeAnnIndex(embs, "graft_ann_idxg")
        Similarity.requantizeAnnIndex(embs, "graft_ann_idxg")
      }
      Similarity.annIndexTopK(embs.filter(col("vec_id") < 10), "graft_ann_idxg")
    },
      // two deterministic retrains land the same refined quantizer —
      // same replay as ann_index_requantize; the Spark side crosses two
      // epoch generations on the way
      oracle = ivfPqSql("", refineRounds = 3)),

    Query("ann_bruteforce", (s, dir) => {
      val embs = t(s, dir, "embeddings")
      Similarity.bruteForceTopK(embs, embs.filter(col("vec_id") < 10), k = 5)
        .withColumn("rank", col("rank").cast("long"))
    },
      oracle = ("SELECT query_id, rank, neighbor_id, cos FROM (" +
        "SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id, " +
        "round(list_cosine_similarity(q.embedding::DOUBLE[], c.embedding::DOUBLE[]), 4) AS cos, " +
        "CAST(row_number() OVER (PARTITION BY q.vec_id " +
        "ORDER BY list_cosine_similarity(q.embedding::DOUBLE[], c.embedding::DOUBLE[]) DESC, " +
        "c.vec_id) AS BIGINT) AS rank " +
        "FROM embeddings q JOIN embeddings c ON q.vec_id != c.vec_id " +
        "WHERE q.vec_id < 10) WHERE rank <= 5")),

    /**
     * FILTERED vector search (the vector-DB "metadata predicate" shape):
     * top-5 cosine neighbors restricted to one label's corpus slice.
     * Pre-filtering beats post-filtering structurally — the predicate
     * prunes the corpus BEFORE any distance work and top-k never
     * under-fills; on a column-partitioned layout the filter becomes
     * partition pruning at the scan.
     */
    Query("ann_filtered", (s, dir) => {
      val embs = t(s, dir, "embeddings")
      Similarity.bruteForceTopK(embs.filter(col("label") === 3),
        embs.filter(col("vec_id") < 10), k = 5)
        .withColumn("rank", col("rank").cast("long"))
    },
      oracle = ("SELECT query_id, rank, neighbor_id, cos FROM (" +
        "SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id, " +
        "round(list_cosine_similarity(q.embedding::DOUBLE[], c.embedding::DOUBLE[]), 4) AS cos, " +
        "CAST(row_number() OVER (PARTITION BY q.vec_id " +
        "ORDER BY list_cosine_similarity(q.embedding::DOUBLE[], c.embedding::DOUBLE[]) DESC, " +
        "c.vec_id) AS BIGINT) AS rank " +
        "FROM embeddings q JOIN embeddings c ON q.vec_id != c.vec_id " +
        "WHERE q.vec_id < 10 AND c.label = 3) WHERE rank <= 5")),

    /** MMR diversified top-5 for query vector 0 over its cosine top-20 pool. */
    Query("ann_mmr", (s, dir) => {
      val embs = t(s, dir, "embeddings")
      Similarity.mmrTopK(embs, embs.filter(col("vec_id") === 0), k = 5, pool = 20)
    },
      oracle = mmrSql),

    /** One k-means step over labeled embeddings: centroid + nearest-centroid confusion. */
    Query("ann_centroid", (s, dir) =>
      Similarity.centroidAssign(t(s, dir, "embeddings")),
      oracle = ("WITH d AS (SELECT label AS clabel, i, avg(embedding[i]) AS c FROM embeddings, " +
        "UNNEST(generate_series(1, 64)) t(i) GROUP BY 1, 2), " +
        "cent AS (SELECT clabel, list(c ORDER BY i) AS centroid FROM d GROUP BY 1), " +
        "scored AS (SELECT e.vec_id, e.label, c.clabel, " +
        "list_cosine_similarity(e.embedding::DOUBLE[], c.centroid) AS cos " +
        "FROM embeddings e, cent c), " +
        "best AS (SELECT vec_id, label, clabel, row_number() OVER " +
        "(PARTITION BY vec_id ORDER BY cos DESC, clabel) AS rn FROM scored) " +
        "SELECT label AS label_true, clabel AS label_pred, count(*) AS n " +
        "FROM best WHERE rn = 1 GROUP BY 1, 2")),

    /**
     * IVF ANN: coarse-centroid posting lists, nprobe-bounded search.
     * Fully deterministic (id-modulo seeding + one averaging step), so
     * the DuckDB oracle replays the identical index build and probe.
     */
    Query("ann_ivf", (s, dir) => {
      val embs = t(s, dir, "embeddings")
      Similarity.ivfTopK(embs, embs.filter(col("vec_id") < 10), k = 5, nlist = 32, nprobe = 8)
    },
      // replays the deterministic IVF build: id%32 seed buckets → mean
      // centroids → nearest-centroid posting lists → 8-probe search
      oracle = ("WITH v AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings), " +
        "d AS (SELECT vec_id % 32 AS _b, i, avg(v[i]) AS cv FROM v, " +
        "generate_series(1, 64) t(i) GROUP BY 1, 2), " +
        "cent AS (SELECT _b, list(cv ORDER BY i) AS centroid FROM d GROUP BY _b), " +
        "assign AS (SELECT vec_id, v, _b FROM (" +
        "SELECT x.vec_id, x.v, ct._b, row_number() OVER (PARTITION BY x.vec_id " +
        "ORDER BY list_cosine_similarity(x.v, ct.centroid) DESC, ct._b) AS rn " +
        "FROM v x, cent ct) WHERE rn = 1), " +
        "probes AS (SELECT vec_id AS query_id, v AS qv, _b FROM (" +
        "SELECT x.vec_id, x.v, ct._b, row_number() OVER (PARTITION BY x.vec_id " +
        "ORDER BY list_cosine_similarity(x.v, ct.centroid) DESC, ct._b) AS rn " +
        "FROM v x, cent ct WHERE x.vec_id < 10) WHERE rn <= 8), " +
        "cand AS (SELECT p.query_id, a.vec_id AS neighbor_id, " +
        "list_cosine_similarity(p.qv, a.v) AS cos FROM probes p " +
        "JOIN assign a ON p._b = a._b AND a.vec_id != p.query_id) " +
        "SELECT query_id, CAST(rank AS BIGINT) AS rank, neighbor_id, round(cos, 4) AS cos " +
        "FROM (SELECT *, row_number() OVER (PARTITION BY query_id " +
        "ORDER BY cos DESC, neighbor_id) AS rank FROM cand) WHERE rank <= 5")),

    /** md5-plane LSH (verification-grade): DuckDB recomputes identical buckets. */
    Query("ann_lsh", (s, dir) => {
      val embs = t(s, dir, "embeddings")
      Similarity.lshTopK(embs, embs.filter(col("vec_id") < 10), k = 5, md5Compat = true)
        .withColumn("rank", col("rank").cast("long"))
    },
      // replays the md5-plane LSH: ±1 weights from md5('lsh:t:b:i'),
      // 4 tables × 8-bit buckets, candidates ranked by exact cosine
      oracle = ("WITH v AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings), " +
        "proj AS (SELECT t, b, list(CASE WHEN " +
        "('0x'||substr(md5('lsh:'||t||':'||b||':'||(i-1)), 1, 16))::UBIGINT & 1 = 1 " +
        "THEN 1.0 ELSE -1.0 END ORDER BY i) AS plane " +
        "FROM generate_series(0, 3) tt(t), generate_series(0, 7) bb(b), " +
        "generate_series(1, 64) ii(i) GROUP BY t, b), " +
        "sk AS (SELECT vec_id, t, CAST(sum(CASE WHEN d >= 0 THEN (1::BIGINT << b) " +
        "ELSE 0 END) AS BIGINT) AS bucket FROM (" +
        "SELECT x.vec_id, p.t, p.b, list_dot_product(x.v, p.plane) AS d " +
        "FROM v x, proj p) GROUP BY vec_id, t), " +
        "cand AS (SELECT DISTINCT q.vec_id AS query_id, c.vec_id AS neighbor_id " +
        "FROM sk q JOIN sk c ON q.t = c.t AND q.bucket = c.bucket " +
        "WHERE q.vec_id < 10 AND c.vec_id != q.vec_id), " +
        "scored AS (SELECT cand.query_id, cand.neighbor_id, " +
        "list_cosine_similarity(qv.v, cv.v) AS cos FROM cand " +
        "JOIN v qv ON qv.vec_id = cand.query_id " +
        "JOIN v cv ON cv.vec_id = cand.neighbor_id) " +
        "SELECT query_id, CAST(rank AS BIGINT) AS rank, neighbor_id, round(cos, 4) AS cos " +
        "FROM (SELECT *, row_number() OVER (PARTITION BY query_id " +
        "ORDER BY cos DESC, neighbor_id) AS rank FROM scored) WHERE rank <= 5")),

    /**
     * Multi-probe LSH at HALF the tables of `ann_lsh` (2 vs 4): the
     * Hamming-1 probe fan-out recovers the recall the missing tables
     * would have bought, with the corpus-side index (the 100 TB side)
     * half the size. Oracle replays the md5 hyperplanes, the bit flips,
     * and the candidate union in SQL.
     */
    Query("ann_multiprobe", (s, dir) => {
      val embs = t(s, dir, "embeddings")
      Similarity.lshMultiProbeTopK(embs, embs.filter(col("vec_id") < 10), k = 5,
          bits = 8, tables = 2, md5Compat = true)
        .withColumn("rank", col("rank").cast("long"))
    },
      // ann_lsh's md5-hyperplane replay at 2 tables, with the query
      // side expanded to its exact bucket ∪ all Hamming-1 flips
      oracle = ("WITH v AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings), " +
        "proj AS (SELECT t, b, list(CASE WHEN " +
        "('0x'||substr(md5('lsh:'||t||':'||b||':'||(i-1)), 1, 16))::UBIGINT & 1 = 1 " +
        "THEN 1.0 ELSE -1.0 END ORDER BY i) AS plane " +
        "FROM generate_series(0, 1) tt(t), generate_series(0, 7) bb(b), " +
        "generate_series(1, 64) ii(i) GROUP BY t, b), " +
        "sk AS (SELECT vec_id, t, CAST(sum(CASE WHEN d >= 0 THEN (1::BIGINT << b) " +
        "ELSE 0 END) AS BIGINT) AS bucket FROM (" +
        "SELECT x.vec_id, p.t, p.b, list_dot_product(x.v, p.plane) AS d " +
        "FROM v x, proj p) GROUP BY vec_id, t), " +
        "qprobe AS (SELECT vec_id, t, bucket FROM sk WHERE vec_id < 10 " +
        "UNION SELECT vec_id, t, xor(bucket, (1::BIGINT << i)) AS bucket " +
        "FROM sk, generate_series(0, 7) gi(i) WHERE vec_id < 10), " +
        "cand AS (SELECT DISTINCT q.vec_id AS query_id, c.vec_id AS neighbor_id " +
        "FROM qprobe q JOIN sk c ON q.t = c.t AND q.bucket = c.bucket " +
        "WHERE c.vec_id != q.vec_id), " +
        "scored AS (SELECT cand.query_id, cand.neighbor_id, " +
        "list_cosine_similarity(qv.v, cv.v) AS cos FROM cand " +
        "JOIN v qv ON qv.vec_id = cand.query_id " +
        "JOIN v cv ON cv.vec_id = cand.neighbor_id) " +
        "SELECT query_id, CAST(rank AS BIGINT) AS rank, neighbor_id, round(cos, 4) AS cos " +
        "FROM (SELECT *, row_number() OVER (PARTITION BY query_id " +
        "ORDER BY cos DESC, neighbor_id) AS rank FROM scored) WHERE rank <= 5")),

    /**
     * Vector-ingest quality gate: the embedding-table counterpart of
     * [[Checks]]' row constraints — dimensionality consistency, norm
     * bounds, non-finite detection, and DEAD-DIMENSION census (per-dim
     * variance < 1e-9, from the same O(d²) [[Similarity.momentState]]
     * the PCA family maintains — no extra corpus pass shape). One row
     * out; every stat oracled.
     */
    Query("emb_quality", (s, dir) => {
      val embs = t(s, dir, "embeddings")
      val v = col("embedding").cast("array<double>")
      val perVec = embs.select(size(v).as("dims"),
        sqrt(aggregate(v, lit(0.0), (acc, x) => acc + x * x)).as("norm"),
        exists(v, x => isnan(x) || x === Double.PositiveInfinity ||
          x === Double.NegativeInfinity).as("bad"))
      val base = perVec.agg(count(lit(1)).as("n_vecs"),
        countDistinct(col("dims")).as("n_dim_variants"),
        round(min(col("norm")), 4).as("min_norm"),
        round(max(col("norm")), 4).as("max_norm"),
        sum(col("bad").cast("long")).as("n_nonfinite"))
      // the dead-dim variance census only makes sense at ONE dimension;
      // a dim-inconsistent corpus (n_dim_variants > 1) restricts the
      // moment fit to the dominant dim — MomentAgg itself now refuses
      // ragged input loudly rather than corrupting Σxxᵀ offsets
      val domDim = embs.groupBy(size(v).as("dims")).count()
        .orderBy(col("count").desc, col("dims")).head().getInt(0)
      val st = Similarity.momentState(embs.filter(size(v) === domDim)).head()
      val sx = st.getSeq[Double](1).toArray
      val sxx = st.getSeq[Double](2).toArray
      val n = st.getLong(0).toDouble
      val d = sx.length
      val dead = (0 until d).count(i =>
        sxx(i * d + i) / n - (sx(i) / n) * (sx(i) / n) < 1e-9).toLong
      base.withColumn("n_dead_dims", lit(dead))
    },
      // md5 ±1 planes ("proj:j:i") replayed per output dim; the norm is
      // list_dot_product(pj, pj) so the accumulation order matches the
      // engine's left-fold exactly
      oracle = ("WITH v AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings), " +
        "pv AS (SELECT len(v) AS dims, sqrt(list_dot_product(v, v)) AS nrm, " +
        "(SELECT bool_or(isnan(x) OR NOT isfinite(x)) FROM UNNEST(v) t(x)) AS bad " +
        "FROM v), " +
        "base AS (SELECT count(*) AS n_vecs, " +
        "count(DISTINCT dims) AS n_dim_variants, " +
        "round(min(nrm), 4) AS min_norm, round(max(nrm), 4) AS max_norm, " +
        "CAST(sum(CASE WHEN bad THEN 1 ELSE 0 END) AS BIGINT) AS n_nonfinite FROM pv), " +
        "dv AS (SELECT i, sum(v[i] * v[i]) / count(*) " +
        "- (sum(v[i]) / count(*)) * (sum(v[i]) / count(*)) AS var " +
        "FROM v, generate_series(1, 64) t(i) GROUP BY i), " +
        "dead AS (SELECT count(*) AS n_dead_dims FROM dv WHERE var < 1e-9) " +
        "SELECT b.n_vecs, b.n_dim_variants, b.min_norm, b.max_norm, " +
        "b.n_nonfinite, d.n_dead_dims FROM base b, dead d")),

    /** Symmetric int8 embedding quantization: norm/scale/checksums per vector. */
    Query("emb_quantize", (s, dir) =>
      Curation.quantizeEmbeddings(t(s, dir, "embeddings")),
      oracle = ("WITH v AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings), " +
        "s AS (SELECT vec_id, v, list_max([abs(x) for x in v]) / 127.0 AS scale FROM v), " +
        "q AS (SELECT vec_id, v, scale, " +
        "[CAST(floor(x / scale + 0.5) AS BIGINT) for x in v] AS q FROM s) " +
        "SELECT vec_id, " +
        "round(sqrt(list_reduce(list_prepend(0.0, [x * x for x in v]), (a, b) -> a + b)), 4) " +
        "AS l2_norm, round(scale, 6) AS scale, " +
        "CAST(list_sum(q) AS BIGINT) AS sum_q, " +
        "CAST(list_sum([abs(x) for x in q]) AS BIGINT) AS sum_abs_q FROM q")),

    /**
     * Vector-index DELETE maintenance: tombstoned vectors (vec_id % 7
     * == 3) drop out of the persisted IVF-PQ index's answers under the
     * frozen quantizer (trained on the full corpus — deletes never
     * retrain). Oracle: the IVF-PQ replay with the deleted ids excluded
     * from candidates only.
     */
    Query("ann_index_delete", (s, dir) => {
      val embs = t(s, dir, "embeddings")
      if (!s.catalog.tableExists("graft_ann_idxd_codes"))
        Similarity.writeAnnIndex(embs, "graft_ann_idxd")
      if (!s.catalog.tableExists("graft_ann_idxd_tombstones"))
        Similarity.deleteFromAnnIndex(embs.filter(col("vec_id") % 7 === 3),
          "graft_ann_idxd")
      Similarity.annIndexTopK(embs.filter(col("vec_id") < 10), "graft_ann_idxd")
    },
      // frozen quantizer (trained on ALL vectors) + candidate exclusion
      oracle = ivfPqSql("", "AND a.vec_id % 7 != 3 ")),
  )
}
