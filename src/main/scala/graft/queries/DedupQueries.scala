package graft
package queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.Tables.t
import graft.operators.{BloomJoin, Dedup, Similarity, TextAnalysis}
import graft.queries.OracleSql._

/**
 * Deduplication (`dedup_*`: exact, shingle, MinHash, SimHash,
 * embedding, span and paragraph dedup, the persisted indexes and their
 * maintenance) and entity resolution (`er_*`, `pipeline_linkage`).
 */
private[queries] object DedupQueries {

  /** Shared comparison frame for the Fellegi–Sunter queries. */
  private def fsCustomer(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "customer").select(
      col("c_custkey"),
      concat(col("c_nationkey").cast("string"), lit("|"), col("c_mktsegment")).as("blk"),
      floor(col("c_acctbal") / 1000).as("bal_band"),
      expr("right(c_name, 1)").as("name_tail"),
      (round(col("c_acctbal") * 100).cast("long") % 10).as("cent_band"))

  /**
   * Fellegi–Sunter field weights, precomputed to round6'd literals so
   * BOTH engines sum identical constants (ln() implementations may
   * differ in the last ulp): (agreeWeight, disagreeWeight).
   */
  private def fsWeights(m: Double, u: Double): (Double, Double) = {
    def r6(x: Double) = BigDecimal(x).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    (r6(math.log(m / u)), r6(math.log((1 - m) / (1 - u))))
  }

  private lazy val fsFields: Seq[(String, Double, Double)] = Seq(
    ("bal_band", fsWeights(0.9, 0.05)),
    ("name_tail", fsWeights(0.85, 0.2)),
    ("cent_band", fsWeights(0.8, 0.1))).map { case (f, (wa, wd)) => (f, wa, wd) }

  /** The Fellegi–Sunter posterior expression under the params row of CTE `in`. */
  private def emPost(in: String): String = {
    def num =
      s"($in.lambda * (CASE WHEN a0 = 1 THEN $in.m0 ELSE 1 - $in.m0 END) " +
        s"* (CASE WHEN a1 = 1 THEN $in.m1 ELSE 1 - $in.m1 END) " +
        s"* (CASE WHEN a2 = 1 THEN $in.m2 ELSE 1 - $in.m2 END))"
    def alt =
      s"((1 - $in.lambda) * (CASE WHEN a0 = 1 THEN $in.u0 ELSE 1 - $in.u0 END) " +
        s"* (CASE WHEN a1 = 1 THEN $in.u1 ELSE 1 - $in.u1 END) " +
        s"* (CASE WHEN a2 = 1 THEN $in.u2 ELSE 1 - $in.u2 END))"
    s"($num / ($num + $alt))"
  }

  /** One EM round as a chained CTE: E-step posterior, M-step ordered sums, round6. */
  private def emIter(out: String, in: String): String = {
    def ls(expr: String) = s"list_sum(list($expr ORDER BY a0, a1, a2))"
    s"$out AS (SELECT " +
      s"round(${ls("n * p")} / ${ls("n::DOUBLE")}, 6) AS lambda, " +
      (0 to 2).map { i =>
        s"round(${ls(s"n * p * a$i")} / ${ls("n * p")}, 6) AS m$i, " +
          s"round(${ls(s"n * (1 - p) * a$i")} / ${ls("n * (1 - p)")}, 6) AS u$i"
      }.mkString(", ") +
      s" FROM (SELECT combos.*, ${emPost(in)} AS p FROM combos, $in)), "
  }

  /** Exhaustive exact n-gram-jaccard pair SQL — oracle for both the inverted-index and MinHash paths. */
  private val ngramJaccardSql: String =
    "WITH tok AS (SELECT doc_id, string_split(text, ' ') AS w FROM documents), " +
      "sh AS (SELECT DISTINCT doc_id, array_to_string(w[i:i+4], ' ') AS shingle " +
      "FROM tok, UNNEST(generate_series(1, greatest(len(w) - 4, 0))) AS t(i)), " +
      "sizes AS (SELECT doc_id, count(*) AS n FROM sh GROUP BY doc_id), " +
      "pairs AS (SELECT a.doc_id AS a_id, b.doc_id AS b_id, count(*) AS inter " +
      "FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.doc_id < b.doc_id GROUP BY 1, 2) " +
      "SELECT a_id, b_id, round(inter * 1.0 / (sa.n + sb.n - inter), 4) AS jaccard " +
      "FROM pairs JOIN sizes sa ON a_id = sa.doc_id JOIN sizes sb ON b_id = sb.doc_id " +
      "WHERE inter * 1.0 / (sa.n + sb.n - inter) >= 0.7"

  /** Exhaustive batch×corpus jaccard pairs at the 10%-cut — oracle for both the broadcast and the persistent-index incremental paths. */
  private def incrementalDedupSqlWith(corpusFilter: String): String =
    "WITH cut AS (SELECT (max(doc_id) + 1) * 9 // 10 AS c FROM documents), " +
      "tok AS (SELECT doc_id, string_split(text, ' ') AS w FROM documents), " +
      "sh AS (SELECT DISTINCT doc_id, array_to_string(w[i:i+4], ' ') AS shingle " +
      "FROM tok, UNNEST(generate_series(1, greatest(len(w) - 4, 0))) AS t(i)), " +
      "sizes AS (SELECT doc_id, count(*) AS n FROM sh GROUP BY doc_id), " +
      "pr AS (SELECT a.doc_id AS new_id, b.doc_id AS corpus_id, count(*) AS inter " +
      "FROM sh a JOIN sh b ON a.shingle = b.shingle, cut " +
      s"WHERE a.doc_id >= cut.c AND b.doc_id < cut.c ${corpusFilter}GROUP BY 1, 2) " +
      "SELECT new_id, corpus_id, " +
      "round(inter * 1.0 / (sa.n + sb.n - inter), 4) AS jaccard " +
      "FROM pr JOIN sizes sa ON new_id = sa.doc_id " +
      "JOIN sizes sb ON corpus_id = sb.doc_id " +
      "WHERE inter * 1.0 / (sa.n + sb.n - inter) >= 0.7"

  private val incrementalDedupSql: String = incrementalDedupSqlWith("")

  /** Paragraph-rewrite replay; `where` restricts the emitted docs (not the dedup scope). */
  private def paragraphSql(where: String): String =
    "WITH sp AS (SELECT doc_id, CAST(doc_id AS BIGINT) AS ord, " +
      "string_split(text, ' ') AS ws FROM documents), " +
      "w AS (SELECT doc_id, ord, unnest(ws) AS word, " +
      "generate_subscripts(ws, 1) AS i FROM sp), " +
      "p AS (SELECT doc_id, ord, CAST(floor((i - 1) / 15) AS BIGINT) AS pidx, " +
      "string_agg(word, ' ' ORDER BY i) AS ptext FROM w GROUP BY doc_id, ord, floor((i - 1) / 15)), " +
      "k AS (SELECT doc_id, pidx, ptext, " +
      "row_number() OVER (PARTITION BY ptext ORDER BY ord, pidx) AS rn FROM p), " +
      "r AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS n_kept, " +
      "string_agg(ptext, ' ' ORDER BY pidx) AS text_kept FROM k WHERE rn = 1 GROUP BY doc_id), " +
      "tot AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS n_paras FROM p GROUP BY doc_id) " +
      "SELECT t.doc_id, t.n_paras, CAST(coalesce(r.n_kept, 0) AS BIGINT) AS n_kept, " +
      "coalesce(r.text_kept, '') AS text_kept FROM tot t LEFT JOIN r ON t.doc_id = r.doc_id" +
      where

  /** Span-rewrite replay; `finalWhere` restricts the OUTPUT docs only. */
  private def spanRewriteSql(finalWhere: String): String =
    "WITH tok AS (SELECT doc_id, string_split(text, ' ') AS w FROM documents), " +
      "pos AS (SELECT doc_id, i - 1 AS p, array_to_string(w[i:i+19], ' ') AS sh " +
      "FROM tok, UNNEST(generate_series(1, len(w) - 19)) t(i) WHERE len(w) >= 20), " +
      "dup AS (SELECT doc_id, p FROM (SELECT doc_id, p, " +
      "row_number() OVER (PARTITION BY sh ORDER BY doc_id, p) AS rn FROM pos) " +
      "WHERE rn > 1), " +
      "cov AS (SELECT DISTINCT doc_id, tp FROM dup, " +
      "UNNEST(generate_series(p, p + 19)) c(tp)), " +
      "tkn AS (SELECT doc_id, i - 1 AS tp, w[i] AS tokn FROM tok, " +
      "UNNEST(generate_series(1, len(w))) t(i)), " +
      "kept AS (SELECT tkn.doc_id, tkn.tp, tkn.tokn FROM tkn " +
      "LEFT JOIN cov ON tkn.doc_id = cov.doc_id AND tkn.tp = cov.tp " +
      "WHERE cov.tp IS NULL), " +
      "agg AS (SELECT doc_id, count(*) AS n_after, " +
      "string_agg(tokn, ' ' ORDER BY tp) AS txt FROM kept GROUP BY doc_id) " +
      "SELECT tok.doc_id, CAST(len(tok.w) AS BIGINT) AS n_before, " +
      "CAST(coalesce(agg.n_after, 0) AS BIGINT) AS n_after, " +
      "md5(coalesce(agg.txt, '')) AS rewritten_md5 " +
      "FROM tok LEFT JOIN agg USING (doc_id)" + finalWhere

  /** Recursive-CTE closure over the near-dup pair graph — oracle for both the iterative CC operator and the SQL-surface recursion. */
  private lazy val clustersSql: String =
    "WITH RECURSIVE tok AS (SELECT doc_id, string_split(text, ' ') AS w FROM documents), " +
      "sh AS (SELECT DISTINCT doc_id, array_to_string(w[i:i+4], ' ') AS shingle " +
      "FROM tok, UNNEST(generate_series(1, greatest(len(w) - 4, 0))) AS t(i)), " +
      "sizes AS (SELECT doc_id, count(*) AS n FROM sh GROUP BY doc_id), " +
      "pr AS (SELECT a.doc_id AS a_id, b.doc_id AS b_id, count(*) AS inter " +
      "FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.doc_id < b.doc_id GROUP BY 1, 2), " +
      "pairs AS (SELECT a_id, b_id FROM pr JOIN sizes sa ON a_id = sa.doc_id " +
      "JOIN sizes sb ON b_id = sb.doc_id " +
      "WHERE inter * 1.0 / (sa.n + sb.n - inter) >= 0.7), " +
      "edges AS (SELECT a_id AS u, b_id AS v FROM pairs UNION SELECT b_id, a_id FROM pairs), " +
      "reach(u, v) AS (SELECT u, v FROM edges UNION " +
      "SELECT r.u, e.v FROM reach r JOIN edges e ON r.v = e.u) " +
      "SELECT u AS doc_id, least(u, min(v)) AS cluster_id FROM reach GROUP BY u"

  val all: Seq[Query] = Seq(
    /**
     * The bloom seen-before gate on the 90/10 ingest split: summary of
     * the batch with the bloom's structural guarantees as assertion
     * columns — `no_false_negatives` (an exact duplicate is NEVER waved
     * through) must be true by construction, and `gate_effective` holds
     * unless false positives exceed 10× the configured fpp. Exact
     * counts are the oracle-replayable part; the bloom-dependent pass
     * count stays internal (it varies with the sketch).
     */
    Query("dedup_bloom_gate", (s, dir) => {
      val docs = t(s, dir, "documents")
      val cut = (docs.agg(max("doc_id")).head.getLong(0) + 1L) * 9L / 10L
      val corpus = docs.filter(col("doc_id") < cut)
      val batch = docs.filter(col("doc_id") >= cut)
      val gated = BloomJoin.seenGate(batch, corpus, expectedItems = 10000L)
      val corpusTexts = corpus.select(col("text").as("t2")).distinct()
      gated.join(corpusTexts, gated("text") === col("t2"), "left_outer")
        .select(col("maybe_seen"), col("t2").isNotNull.as("is_dup"))
        .agg(count(lit(1)).as("n_batch"),
          count(when(col("is_dup"), 1)).as("n_true_dups"),
          (count(when(!col("maybe_seen") && col("is_dup"), 1)) === 0)
            .as("no_false_negatives"),
          (count(when(col("maybe_seen") && !col("is_dup"), 1)) <=
            greatest(count(lit(1)) * 0.1, lit(5.0))).as("gate_effective"))
    },
      // bloom-gate summary: exact counts replay; the structural
      // guarantees are assertion columns (the q_approx_distinct pattern)
      oracle = ("WITH cut AS (SELECT (max(doc_id) + 1) * 9 // 10 AS c FROM documents), " +
        "b AS (SELECT text FROM documents, cut WHERE doc_id >= c), " +
        "ct AS (SELECT DISTINCT text FROM documents, cut WHERE doc_id < c) " +
        "SELECT count(*) AS n_batch, " +
        "count(*) FILTER (b.text IN (SELECT text FROM ct)) AS n_true_dups, " +
        "TRUE AS no_false_negatives, TRUE AS gate_effective FROM b")),

    /**
     * Incremental corpus dedup: the last 10% of docs arrive as a "new
     * batch"; find their near-dups in the standing corpus without
     * re-pairing the corpus (Dedup.incrementalNearDupPairs — batch
     * shingles broadcast; the corpus is one scan).
     */
    Query("dedup_incremental", (s, dir) => {
      val docs = t(s, dir, "documents")
      // "new batch" = the top 10% of doc ids (a metadata-only max scan)
      val cut = (docs.agg(max("doc_id")).head.getLong(0) + 1L) * 9L / 10L
      Dedup.incrementalNearDupPairs(
        docs.filter(col("doc_id") >= cut), docs.filter(col("doc_id") < cut))
    },
      oracle = incrementalDedupSql),

    /**
     * Persistent-index continuous-ingest dedup: the corpus (doc_id <
     * cut) is indexed ONCE (MinHash bands + shingle sets, bucketed),
     * then the new batch is checked against the index with zero corpus
     * rescan. LSH recall at k=128/bands=32 makes the output equal the
     * exhaustive batch×corpus jaccard pairs — the same oracle as
     * dedup_incremental.
     */
    Query("dedup_index_incremental", (s, dir) => {
      val docs = t(s, dir, "documents")
      val cut = (docs.agg(max("doc_id")).head.getLong(0) + 1L) * 9L / 10L
      // the index is persistent by design: build it once per session and
      // let subsequent calls (bench reps, repeated batches) measure the
      // per-batch path only — exactly the production cost model
      if (!s.catalog.tableExists("graft_dedup_idx_bands"))
        Dedup.writeMinhashIndex(docs.filter(col("doc_id") < cut), "graft_dedup_idx")
      Dedup.indexedNearDupPairs(docs.filter(col("doc_id") >= cut), "graft_dedup_idx")
    },
      // the persistent-index path verifies candidates with the same
      // exact jaccard, and LSH recall at k=128/bands=32 is ≈1 at the
      // 0.7 threshold — so the exhaustive batch×corpus SQL is its
      // oracle too (exactly as dedup_minhash reuses ngramJaccardSql)
      oracle = incrementalDedupSql),

    /**
     * Index MAINTENANCE under continuous ingest: the corpus arrives in
     * two installments — the first 80% is indexed at build time, the
     * next 10% lands later and is APPENDED (Dedup.appendToMinhashIndex:
     * batch-sized bucketed inserts, no rebuild, no corpus rescan) —
     * and the final 10% probes the maintained index. Correct iff the
     * probe sees appended docs exactly like built ones: the result
     * equals the exhaustive batch×corpus pairs at the 90% cut, the
     * same oracle as dedup_incremental.
     */
    Query("dedup_index_append", (s, dir) => {
      val docs = t(s, dir, "documents")
      val mx = docs.agg(max("doc_id")).head.getLong(0) + 1L
      val cut80 = mx * 8L / 10L
      val cut90 = mx * 9L / 10L
      if (!s.catalog.tableExists("graft_dedup_idxa_bands")) {
        Dedup.writeMinhashIndex(docs.filter(col("doc_id") < cut80), "graft_dedup_idxa")
        Dedup.appendToMinhashIndex(
          docs.filter(col("doc_id") >= cut80 && col("doc_id") < cut90),
          "graft_dedup_idxa")
      }
      Dedup.indexedNearDupPairs(docs.filter(col("doc_id") >= cut90), "graft_dedup_idxa")
    },
      // index built on 80% + appended 10% ≡ index built on 90%: the
      // maintained index must answer exactly like a fresh build
      oracle = incrementalDedupSql),

    /**
     * The persisted, incrementally-maintained form of the bloom
     * seen-gate: filters built from the first 80%, the next 10% merged
     * in by appendToSeenFilters (one batch pass — blooms are mergeable
     * summaries), final 10% gated from the stored bank. Summary columns
     * as in dedup_bloom_gate; `no_false_negatives` now also proves the
     * append path (a dup of an APPENDED doc must be flagged too).
     */
    Query("dedup_bloom_persist", (s, dir) => {
      val docs = t(s, dir, "documents")
      val mx = docs.agg(max("doc_id")).head.getLong(0) + 1L
      val cut80 = mx * 8L / 10L
      val cut90 = mx * 9L / 10L
      if (!s.catalog.tableExists("graft_seen_filters")) {
        BloomJoin.writeSeenFilters(docs.filter(col("doc_id") < cut80),
          "graft_seen_filters", expectedItemsPerShard = 10000L)
        BloomJoin.appendToSeenFilters(
          docs.filter(col("doc_id") >= cut80 && col("doc_id") < cut90),
          "graft_seen_filters")
      }
      val gated = BloomJoin.seenGateFromTable(
        docs.filter(col("doc_id") >= cut90), "graft_seen_filters")
      val corpusTexts = docs.filter(col("doc_id") < cut90)
        .select(col("text").as("t2")).distinct()
      gated.join(corpusTexts, gated("text") === col("t2"), "left_outer")
        .select(col("maybe_seen"), col("t2").isNotNull.as("is_dup"))
        .agg(count(lit(1)).as("n_batch"),
          count(when(col("is_dup"), 1)).as("n_true_dups"),
          (count(when(!col("maybe_seen") && col("is_dup"), 1)) === 0)
            .as("no_false_negatives"),
          (count(when(col("maybe_seen") && !col("is_dup"), 1)) <=
            greatest(count(lit(1)) * 0.1, lit(5.0))).as("gate_effective"))
    },
      // persisted+appended filter bank: same summary as dedup_bloom_gate
      oracle = ("WITH cut AS (SELECT (max(doc_id) + 1) * 9 // 10 AS c FROM documents), " +
        "b AS (SELECT text FROM documents, cut WHERE doc_id >= c), " +
        "ct AS (SELECT DISTINCT text FROM documents, cut WHERE doc_id < c) " +
        "SELECT count(*) AS n_batch, " +
        "count(*) FILTER (b.text IN (SELECT text FROM ct)) AS n_true_dups, " +
        "TRUE AS no_false_negatives, TRUE AS gate_effective FROM b")),

    Query("dedup_exact", (s, dir) =>
      Dedup.exactDupGroups(t(s, dir, "documents")),
      oracle = ("SELECT md5(text) AS text_hash, count(*) AS n_copies, min(doc_id) AS keep_id " +
        "FROM documents GROUP BY md5(text) HAVING count(*) > 1")),

    Query("dedup_ngram_jaccard", (s, dir) =>
      Dedup.ngramJaccardPairs(t(s, dir, "documents"), n = 5, threshold = 0.7),
      oracle = ngramJaccardSql),

    /** Asymmetric containment pairs: quotations/partial copies jaccard misses. */
    Query("dedup_containment", (s, dir) =>
      Dedup.ngramContainmentPairs(t(s, dir, "documents"), n = 5, threshold = 0.8),
      oracle = ("WITH tok AS (SELECT doc_id, string_split(text, ' ') AS w FROM documents), " +
        "sh AS (SELECT DISTINCT doc_id, array_to_string(w[i:i+4], ' ') AS shingle " +
        "FROM tok, UNNEST(generate_series(1, greatest(len(w) - 4, 0))) AS t(i)), " +
        "sizes AS (SELECT doc_id, count(*) AS n FROM sh GROUP BY doc_id), " +
        "pairs AS (SELECT a.doc_id AS a_id, b.doc_id AS b_id, count(*) AS inter " +
        "FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.doc_id < b.doc_id GROUP BY 1, 2) " +
        "SELECT a_id, b_id, round(inter * 1.0 / sa.n, 4) AS c_ab, " +
        "round(inter * 1.0 / sb.n, 4) AS c_ba " +
        "FROM pairs JOIN sizes sa ON a_id = sa.doc_id JOIN sizes sb ON b_id = sb.doc_id " +
        "WHERE greatest(inter * 1.0 / sa.n, inter * 1.0 / sb.n) >= 0.8")),

    /** Near-dup clusters: connected components over the exact-jaccard pair graph. */
    Query("dedup_clusters", (s, dir) =>
      Dedup.dupClusters(Dedup.ngramJaccardPairs(t(s, dir, "documents"), n = 5, threshold = 0.7)),
      oracle = clustersSql),

    /**
     * Same cluster closure forced down the DISTRIBUTED path
     * (smallGraphEdges = 0 disables the driver union-find fast lane):
     * the alternating large-star/small-star loop that holds when the
     * pair graph itself no longer fits one task. Oracled against the
     * identical recursive-CTE transitive closure as `dedup_clusters`,
     * so the two paths are pinned equal cross-engine, not just in the
     * unit suite.
     */
    Query("dedup_clusters_big", (s, dir) =>
      Dedup.dupClusters(Dedup.ngramJaccardPairs(t(s, dir, "documents"), n = 5, threshold = 0.7),
        smallGraphEdges = 0L),
      oracle = clustersSql),

    /**
     * The cluster closure as a MAINTAINED structure
     * (Dedup.writeClusterIndex / clusterAssignIncremental): the
     * standing 90% of the corpus persists its assignment; the arriving
     * 10%'s pairs ingest incrementally — new docs adopt or found
     * clusters, bridging docs MERGE standing clusters through the
     * path-compressed relabel table. The oracle is the identical
     * global recursive-CTE closure (`dedup_clusters`'s), so maintained
     * ≡ global is pinned cross-engine over every doc.
     */
    Query("dedup_clusters_incr", (s, dir) => {
      val docs = t(s, dir, "documents")
      val cut = (docs.agg(max("doc_id")).head.getLong(0) + 1L) * 9L / 10L
      if (!s.catalog.tableExists("graft_cluster_idx")) {
        Dedup.writeClusterIndex(
          Dedup.ngramJaccardPairs(docs.filter(col("doc_id") < cut), n = 5, threshold = 0.7),
          "graft_cluster_idx")
        val batchPairs = Dedup.ngramJaccardPairs(docs, n = 5, threshold = 0.7)
          .filter(col("a_id") >= cut || col("b_id") >= cut)
        Dedup.clusterAssignIncremental(batchPairs, "graft_cluster_idx")
      }
      Dedup.clusterAssignments(s, "graft_cluster_idx")
    },
      oracle = clustersSql),

    /** The dedup decision end-to-end: corpus minus non-representative near-dups. */
    Query("dedup_corpus", (s, dir) =>
      Dedup.dropNearDups(t(s, dir, "documents"), n = 5, threshold = 0.7)
        .select(col("doc_id"), md5(col("text")).as("text_md5")),
      oracle =
        ("WITH RECURSIVE tok AS (SELECT doc_id, string_split(text, ' ') AS w FROM documents), " +
          "sh AS (SELECT DISTINCT doc_id, array_to_string(w[i:i+4], ' ') AS shingle " +
          "FROM tok, UNNEST(generate_series(1, greatest(len(w) - 4, 0))) AS t(i)), " +
          "sizes AS (SELECT doc_id, count(*) AS n FROM sh GROUP BY doc_id), " +
          "pr AS (SELECT a.doc_id AS a_id, b.doc_id AS b_id, count(*) AS inter " +
          "FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.doc_id < b.doc_id GROUP BY 1, 2), " +
          "pairs AS (SELECT a_id, b_id FROM pr JOIN sizes sa ON a_id = sa.doc_id " +
          "JOIN sizes sb ON b_id = sb.doc_id " +
          "WHERE inter * 1.0 / (sa.n + sb.n - inter) >= 0.7), " +
          "edges AS (SELECT a_id AS u, b_id AS v FROM pairs UNION SELECT b_id, a_id FROM pairs), " +
          "reach(u, v) AS (SELECT u, v FROM edges UNION " +
          "SELECT r.u, e.v FROM reach r JOIN edges e ON r.v = e.u), " +
          "dropped AS (SELECT u AS doc_id FROM reach GROUP BY u HAVING least(u, min(v)) < u) " +
          "SELECT d.doc_id, md5(d.text) AS text_md5 FROM documents d " +
          "WHERE d.doc_id NOT IN (SELECT doc_id FROM dropped)")),

    /**
     * k=128/b=32 banding: a jaccard-0.7 pair misses the candidate set
     * with probability (1-0.7⁴)³² ≈ 1.5e-4, so the exact-jaccard
     * verification step makes the output equal the exhaustive
     * ngram-jaccard pairs — which is the oracle.
     */
    Query("dedup_minhash", (s, dir) =>
      Dedup.minhashNearDupPairs(t(s, dir, "documents"), k = 128, bands = 32, threshold = 0.7),
      // MinHash LSH + exact-jaccard verification ≡ the exhaustive pairs (see dedup_minhash note)
      oracle = ngramJaccardSql),

    /**
     * `dedup_minhash` expressed ENTIRELY in SQL through the registered
     * function surface (minhash_doc / shingle_hashes / bucket_pairs —
     * [[GraftExtensions]]): the SQL-only user's path to the flagship
     * dedup, refine-not-drop generator included, with no Scala API in
     * the loop. Same k=128/b=32 parameters ⇒ same exhaustive-jaccard
     * oracle as dedup_minhash.
     */
    Query("dedup_minhash_sql", (s, dir) => {
      Graft.attach(s)
      t(s, dir, "documents").createOrReplaceTempView("documents_mhsql")
      s.sql(
        "WITH sigs AS (SELECT doc_id AS id, minhash_doc(text, 5, 128) AS sig " +
          "FROM documents_mhsql), " +
          "bands AS (SELECT id, xxhash64(sig) AS rk, band_idx, " +
          "xxhash64(slice(sig, band_idx * 4 + 1, 4)) AS band_hash " +
          "FROM sigs LATERAL VIEW explode(sequence(0, 31)) t AS band_idx), " +
          "buckets AS (SELECT band_idx, band_hash, " +
          "collect_list(named_struct('id', id, 'rk', rk)) AS xs " +
          "FROM bands GROUP BY band_idx, band_hash), " +
          "cand AS (SELECT DISTINCT a_id, b_id FROM buckets " +
          "LATERAL VIEW bucket_pairs(xs, 10000) p AS a_id, b_id), " +
          "sets AS (SELECT doc_id AS id, shingle_hashes(text, 5) AS sh_set " +
          "FROM documents_mhsql) " +
          "SELECT c.a_id, c.b_id, " +
          "round(size(array_intersect(a.sh_set, b.sh_set)) / " +
          "(size(a.sh_set) + size(b.sh_set) " +
          "- size(array_intersect(a.sh_set, b.sh_set))), 4) AS jaccard " +
          "FROM cand c JOIN sets a ON a.id = c.a_id JOIN sets b ON b.id = c.b_id " +
          "WHERE size(array_intersect(a.sh_set, b.sh_set)) / " +
          "(size(a.sh_set) + size(b.sh_set) " +
          "- size(array_intersect(a.sh_set, b.sh_set))) >= 0.7")
    },
      oracle = ngramJaccardSql),

    /** md5-compatible sketch (verification-grade) — DuckDB recomputes identical simhashes. */
    Query("dedup_simhash", (s, dir) =>
      Dedup.simhashNearDupPairs(t(s, dir, "documents"), maxHamming = 3, md5Compat = true),
      oracle =
        ("WITH tok AS (SELECT doc_id, string_split(lower(text), ' ') AS w FROM documents), " +
          "sh AS (SELECT doc_id, array_to_string(w[i:i+4], ' ') AS s " +
          "FROM tok, UNNEST(generate_series(1, greatest(len(w) - 4, 0))) AS t(i)), " +
          "h AS (SELECT doc_id, " + md5u("s") + " AS u FROM sh), " +
          "bits AS (SELECT doc_id, i, sum(CASE WHEN (u >> i) & 1 = 1 THEN 1 ELSE -1 END) AS c " +
          "FROM h, generate_series(0, 63) g(i) GROUP BY doc_id, i), " +
          "sk AS (SELECT doc_id, sum(CASE WHEN c > 0 THEN (1::UBIGINT << i) " +
          "ELSE 0::UBIGINT END)::UBIGINT AS u FROM bits GROUP BY doc_id) " +
          "SELECT a.doc_id AS a_id, b.doc_id AS b_id, " +
          "CAST(bit_count(xor(a.u, b.u)) AS BIGINT) AS hamming " +
          "FROM sk a JOIN sk b ON a.doc_id < b.doc_id " +
          "WHERE bit_count(xor(a.u, b.u)) <= 3")),

    /**
     * 16 LSH tables × 8 bits: a cos-0.95 pair (bit-agreement 0.899)
     * misses all tables with probability (1-0.899⁸)¹⁶ ≈ 1.3e-4, so the
     * exact-cosine verification makes the output equal the exhaustive
     * threshold pairs — which is the oracle.
     *
     * The synthetic embeddings are near-orthogonal (max pairwise cosine
     * ≈ 0.6 at every sf), so the fixture alone has no pairs ≥ 0.95; the
     * query plants deterministic near-dups (ids +100000, even dims
     * ×1.1 / odd ×0.9 → cos ≈ 0.995 to the source vector) so the
     * operator and its exhaustive-pair oracle are non-trivially
     * exercised.
     */
    Query("dedup_embedding", (s, dir) => {
      val base = t(s, dir, "embeddings")
        .select(col("vec_id"), col("embedding").cast("array<double>").as("embedding"))
      val planted = base.filter(col("vec_id") < 50)
        .select((col("vec_id") + 100000).as("vec_id"),
          transform(col("embedding"),
            (x, i) => x * when(i % 2 === 0, 1.1).otherwise(0.9)).as("embedding"))
      Dedup.embeddingNearDupPairs(base.unionAll(planted), threshold = 0.95,
        bits = 8, tables = 16)
    },
      oracle = ("WITH base AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings), " +
        "planted AS (SELECT vec_id + 100000 AS vec_id, " +
        "[CASE WHEN (i - 1) % 2 = 0 THEN v[i] * 1.1 ELSE v[i] * 0.9 END " +
        "for i in generate_series(1, len(v))] AS v FROM base WHERE vec_id < 50), " +
        "c AS (SELECT * FROM base UNION ALL SELECT * FROM planted) " +
        "SELECT a_id, b_id, round(raw, 4) AS cos FROM (" +
        "SELECT a.vec_id AS a_id, b.vec_id AS b_id, " +
        "list_cosine_similarity(a.v, b.v) AS raw " +
        "FROM c a JOIN c b ON a.vec_id < b.vec_id) WHERE raw >= 0.95")),

    /**
     * SemDeDup-style semantic dedup: one deterministic k-means step
     * clusters the corpus (+ planted scaled near-dups, as in
     * dedup_embedding); near-dup pairs are within-cluster cos ≥ 0.95.
     */
    Query("dedup_semantic", (s, dir) => {
      val base = t(s, dir, "embeddings")
        .select(col("vec_id"), col("embedding").cast("array<double>").as("embedding"))
      val planted = base.filter(col("vec_id") < 50)
        .select((col("vec_id") + 100000).as("vec_id"),
          transform(col("embedding"),
            (x, i) => x * when(i % 2 === 0, 1.1).otherwise(0.9)).as("embedding"))
      Similarity.semanticDedup(base.unionAll(planted), nlist = 32, threshold = 0.95)
    },
      // replays the deterministic k-means step (id%32 seeds → mean
      // centroids → argmax-cos assignment) then pairs within clusters
      oracle = ("WITH base AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings), " +
        "planted AS (SELECT vec_id + 100000 AS vec_id, " +
        "[CASE WHEN (i - 1) % 2 = 0 THEN v[i] * 1.1 ELSE v[i] * 0.9 END " +
        "for i in generate_series(1, len(v))] AS v FROM base WHERE vec_id < 50), " +
        "c AS (SELECT * FROM base UNION ALL SELECT * FROM planted), " +
        "d AS (SELECT vec_id % 32 AS _b, i, avg(v[i]) AS cv FROM c, " +
        "generate_series(1, 64) t(i) GROUP BY 1, 2), " +
        "cent AS (SELECT _b, list(cv ORDER BY i) AS centroid FROM d GROUP BY _b), " +
        "assign AS (SELECT vec_id, v, _b FROM (" +
        "SELECT x.vec_id, x.v, ct._b, row_number() OVER (PARTITION BY x.vec_id " +
        "ORDER BY list_cosine_similarity(x.v, ct.centroid) DESC, ct._b) AS rn " +
        "FROM c x, cent ct) WHERE rn = 1) " +
        "SELECT a.vec_id AS a_id, b.vec_id AS b_id, " +
        "round(list_cosine_similarity(a.v, b.v), 4) AS cos " +
        "FROM assign a JOIN assign b ON a._b = b._b AND a.vec_id < b.vec_id " +
        "WHERE list_cosine_similarity(a.v, b.v) >= 0.95")),

    /** Span-level exact-substring dedup report: docs sharing a verbatim 20-token window. */
    Query("dedup_spans", (s, dir) =>
      Dedup.sharedSpanReport(t(s, dir, "documents"), span = 20),
      oracle = ("WITH tok AS (SELECT doc_id, string_split(text, ' ') AS w FROM documents), " +
        "sh AS (SELECT DISTINCT doc_id, array_to_string(w[i:i+19], ' ') AS s " +
        "FROM tok, UNNEST(generate_series(1, greatest(len(w) - 19, 0))) AS t(i)), " +
        "hot AS (SELECT s FROM sh GROUP BY s HAVING count(*) >= 2) " +
        "SELECT doc_id, count(*) AS n_shared_spans FROM sh JOIN hot USING (s) " +
        "GROUP BY doc_id")),

    /**
     * The span-level REWRITE (Dedup.spanRewrite): every token covered
     * by a 20-token window whose content occurs earlier in (doc_id,
     * position) order is removed and the doc reassembled. The oracle
     * replays the full pipeline — positioned windows, keep-first by
     * row_number, interval coverage, ordered reassembly — on shingle
     * STRINGS (the engine hashes them; the fixture is collision-free).
     */
    Query("dedup_span_rewrite", (s, dir) =>
      Dedup.spanRewrite(t(s, dir, "documents"), span = 20),
      // full span-rewrite replay: positioned 20-token windows,
      // keep-first by (doc_id, pos) row_number, interval coverage of
      // duplicate starts, ordered reassembly of surviving tokens
      oracle = spanRewriteSql("")),

    /**
     * Unit-index DELETE, oracled — the paragraph twin of
     * `dedup_span_rewrite_del`: owners with doc_id%7==1 tombstone out
     * and the batch rewrite revives their units (one owner per unit
     * hash; masked owner ⇒ unowned unit). Residue 1 hits two of the
     * five corpus owners the batch actually duplicates, so both the
     * revive and still-masked paths execute.
     */
    Query("dedup_paragraphs_del", (s, dir) => {
      val docs = t(s, dir, "documents")
      val cut = (docs.agg(max("doc_id")).head.getLong(0) + 1L) * 9L / 10L
      if (!s.catalog.tableExists("graft_unit_idxd")) {
        Dedup.writeUnitIndex(docs.filter(col("doc_id") < cut), "graft_unit_idxd")
        Dedup.deleteFromUnitIndex(
          docs.filter(col("doc_id") < cut && col("doc_id") % 7 === 1).select("doc_id"),
          "graft_unit_idxd")
      }
      Dedup.paragraphDedupIncremental(docs.filter(col("doc_id") >= cut), "graft_unit_idxd")
    },
      // unit DELETE-mask replay: a batch unit is kept iff its hash has
      // no SURVIVING corpus-first owner and it is the batch's own first
      oracle = ("WITH cut AS (SELECT (max(doc_id) + 1) * 9 // 10 AS c FROM documents), " +
        "sp AS (SELECT doc_id, string_split(text, ' ') AS ws FROM documents), " +
        "w AS (SELECT doc_id, unnest(ws) AS word, " +
        "generate_subscripts(ws, 1) AS i FROM sp), " +
        "p AS (SELECT doc_id, CAST(floor((i - 1) / 15) AS BIGINT) AS pidx, " +
        "string_agg(word, ' ' ORDER BY i) AS ptext " +
        "FROM w GROUP BY doc_id, floor((i - 1) / 15)), " +
        "fc AS (SELECT ptext, odoc FROM (SELECT p.ptext, p.doc_id AS odoc, " +
        "row_number() OVER (PARTITION BY p.ptext ORDER BY p.doc_id, p.pidx) AS rn " +
        "FROM p, cut WHERE p.doc_id < cut.c) WHERE rn = 1), " +
        "vo AS (SELECT ptext FROM fc WHERE odoc % 7 != 1), " +
        "bp AS (SELECT p.doc_id, p.pidx, p.ptext FROM p, cut WHERE p.doc_id >= cut.c), " +
        "bf AS (SELECT ptext, bdoc, bpidx FROM (SELECT ptext, doc_id AS bdoc, " +
        "pidx AS bpidx, row_number() OVER (PARTITION BY ptext " +
        "ORDER BY doc_id, pidx) AS rn FROM bp) WHERE rn = 1), " +
        "kept AS (SELECT bp.doc_id, bp.pidx, bp.ptext FROM bp " +
        "LEFT JOIN vo ON bp.ptext = vo.ptext JOIN bf ON bp.ptext = bf.ptext " +
        "WHERE vo.ptext IS NULL AND bp.doc_id = bf.bdoc AND bp.pidx = bf.bpidx), " +
        "r AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS n_kept, " +
        "string_agg(ptext, ' ' ORDER BY pidx) AS text_kept FROM kept GROUP BY doc_id), " +
        "tot AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS n_paras FROM bp GROUP BY doc_id) " +
        "SELECT tot.doc_id, tot.n_paras, CAST(coalesce(r.n_kept, 0) AS BIGINT) AS n_kept, " +
        "coalesce(r.text_kept, '') AS text_kept FROM tot LEFT JOIN r " +
        "ON tot.doc_id = r.doc_id")),

    /**
     * Span-index DELETE, oracled: corpus docs with doc_id%7==1 are
     * tombstoned out of the built index, and the arriving batch
     * rewrites against the masked index — windows whose FIRST corpus
     * occurrence belonged to a deleted doc legitimately REVIVE (the
     * index stores one owner per hash; masking the owner masks the
     * hash — deliberately NOT rebuild-without, which would re-own).
     * The oracle replays exactly that: corpus-first ownership,
     * deletion mask, batch-first fallback, coverage, reassembly.
     */
    Query("dedup_span_rewrite_del", (s, dir) => {
      val docs = t(s, dir, "documents")
      val cut = (docs.agg(max("doc_id")).head.getLong(0) + 1L) * 9L / 10L
      if (!s.catalog.tableExists("graft_span_idxd")) {
        Dedup.writeSpanIndex(docs.filter(col("doc_id") < cut), "graft_span_idxd")
        Dedup.deleteFromSpanIndex(
          docs.filter(col("doc_id") < cut && col("doc_id") % 7 === 1).select("doc_id"),
          "graft_span_idxd")
      }
      Dedup.spanRewriteIncremental(docs.filter(col("doc_id") >= cut), "graft_span_idxd")
    },
      // DELETE-mask replay: batch window dup iff its hash's corpus-first
      // owner survives the takedown, else iff an earlier batch
      // occurrence exists (the one-owner-per-hash revive semantic)
      oracle = ("WITH cut AS (SELECT (max(doc_id) + 1) * 9 // 10 AS c FROM documents), " +
        "tok AS (SELECT doc_id, string_split(text, ' ') AS w FROM documents), " +
        "pos AS (SELECT doc_id, i - 1 AS p, array_to_string(w[i:i+19], ' ') AS sh " +
        "FROM tok, UNNEST(generate_series(1, len(w) - 19)) t(i) WHERE len(w) >= 20), " +
        "fc AS (SELECT sh, odoc FROM (SELECT pos.sh, pos.doc_id AS odoc, " +
        "row_number() OVER (PARTITION BY pos.sh ORDER BY pos.doc_id, pos.p) AS rn " +
        "FROM pos, cut WHERE pos.doc_id < cut.c) WHERE rn = 1), " +
        "vo AS (SELECT sh FROM fc WHERE odoc % 7 != 1), " +
        "bpos AS (SELECT pos.doc_id, pos.p, pos.sh FROM pos, cut " +
        "WHERE pos.doc_id >= cut.c), " +
        "bf AS (SELECT sh, bdoc, bp FROM (SELECT sh, doc_id AS bdoc, p AS bp, " +
        "row_number() OVER (PARTITION BY sh ORDER BY doc_id, p) AS rn FROM bpos) " +
        "WHERE rn = 1), " +
        "dup AS (SELECT b.doc_id, b.p FROM bpos b " +
        "LEFT JOIN vo ON b.sh = vo.sh JOIN bf ON b.sh = bf.sh " +
        "WHERE vo.sh IS NOT NULL OR NOT (b.doc_id = bf.bdoc AND b.p = bf.bp)), " +
        "cov AS (SELECT DISTINCT doc_id, tp FROM dup, " +
        "UNNEST(generate_series(p, p + 19)) c(tp)), " +
        "tkn AS (SELECT tok.doc_id, i - 1 AS tp, w[i] AS tokn FROM tok, cut, " +
        "UNNEST(generate_series(1, len(w))) t(i) WHERE tok.doc_id >= cut.c), " +
        "kept AS (SELECT tkn.doc_id, tkn.tp, tkn.tokn FROM tkn " +
        "LEFT JOIN cov ON tkn.doc_id = cov.doc_id AND tkn.tp = cov.tp " +
        "WHERE cov.tp IS NULL), " +
        "agg AS (SELECT doc_id, count(*) AS n_after, " +
        "string_agg(tokn, ' ' ORDER BY tp) AS txt FROM kept GROUP BY doc_id) " +
        "SELECT tok.doc_id, CAST(len(tok.w) AS BIGINT) AS n_before, " +
        "CAST(coalesce(agg.n_after, 0) AS BIGINT) AS n_after, " +
        "md5(coalesce(agg.txt, '')) AS rewritten_md5 " +
        "FROM tok CROSS JOIN cut LEFT JOIN agg ON tok.doc_id = agg.doc_id " +
        "WHERE tok.doc_id >= cut.c")),

    /**
     * The MAINTAINED span rewrite: standing 90% of the corpus persists
     * as a bucketed span index; the arriving 10% batch rewrites against
     * it at batch-sized cost (Dedup.spanRewriteIncremental). Oracle is
     * the identical global replay restricted to the batch docs.
     */
    Query("dedup_span_rewrite_incr", (s, dir) => {
      val docs = t(s, dir, "documents")
      val cut = (docs.agg(max("doc_id")).head.getLong(0) + 1L) * 9L / 10L
      if (!s.catalog.tableExists("graft_span_idx"))
        Dedup.writeSpanIndex(docs.filter(col("doc_id") < cut), "graft_span_idx")
      Dedup.spanRewriteIncremental(docs.filter(col("doc_id") >= cut), "graft_span_idx")
    },
      // the maintained path: identical global replay (corpus ∪ batch),
      // output restricted to the batch docs
      oracle = spanRewriteSql(
        " WHERE tok.doc_id >= (SELECT (max(doc_id) + 1) * 9 // 10 FROM documents)")),

    /**
     * Shared-winnowing-fingerprint contamination candidates: doc pairs
     * selecting ≥ 2 common fingerprints — candidate generation runs on
     * the winnowed sample, w+1× lighter than the full shingle join.
     */
    Query("dedup_winnow", (s, dir) =>
      TextAnalysis.winnowSharedPairs(t(s, dir, "documents"), minShared = 2L),
      oracle = (winnowCte + "SELECT a.doc_id AS a_id, b.doc_id AS b_id, " +
        "count(*) AS shared FROM fp a JOIN fp b " +
        "ON a.fp = b.fp AND a.doc_id < b.doc_id " +
        "GROUP BY 1, 2 HAVING count(*) >= 2")),

    /**
     * Fuzzy entity resolution on part names: deterministic typo twins
     * are planted (every 100th part, last character → 'x') on top of
     * the fixture's naturally dense near-name space ("small ring" /
     * "small rod" is a distance-2 pair) — the operator's blocking +
     * Levenshtein verification must recover the full pair set, planted
     * and natural alike, exactly as the exhaustive oracle does.
     */
    Query("er_editdist", (s, dir) => {
      val part = t(s, dir, "part").select(col("p_partkey"), col("p_name"))
      val typo = part.filter(col("p_partkey") % 100 === 0)
        .select((col("p_partkey") + 1000000L).as("p_partkey"),
          concat(substring(col("p_name"), lit(1), length(col("p_name")) - 1), lit("x"))
            .as("p_name"))
      // finer blocking than the first-token default: the fixture's
      // adjective vocabulary is tiny, so first-token blocks hold
      // thousands of names at sf0.1 (quadratic pair work). First token
      // + first char of the last token keeps the planted typos (they
      // mutate the LAST char) and bounds block sizes.
      Dedup.editDistancePairs(part.unionAll(typo), "p_name", "p_partkey", maxDist = 2,
        blockKey = s => concat(substring_index(s, " ", 1),
          substring(substring_index(s, " ", -1), 1, 1)))
    },
      // fuzzy-ER pairs: planted typo twins recovered through first-token
      // + length-band blocking and exact Levenshtein verification
      oracle = ("WITH base AS (SELECT p_partkey AS id, p_name AS s FROM part " +
        "UNION ALL SELECT p_partkey + 1000000, " +
        "substr(p_name, 1, length(p_name) - 1) || 'x' FROM part WHERE p_partkey % 100 = 0), " +
        "b AS (SELECT id, s, string_split(s, ' ')[1] || " +
        "substr(string_split(s, ' ')[-1], 1, 1) AS blk FROM base) " +
        "SELECT a.id AS a_id, bb.id AS b_id, " +
        "CAST(levenshtein(a.s, bb.s) AS BIGINT) AS dist " +
        "FROM b a JOIN b bb ON a.blk = bb.blk AND a.id < bb.id " +
        "AND abs(length(a.s) - length(bb.s)) <= 2 " +
        "WHERE levenshtein(a.s, bb.s) <= 2")),

    /**
     * Fellegi–Sunter linkage over customers blocked by
     * (nation, segment): three comparison fields (acctbal thousand
     * band, last name digit, tens-of-cents digit) score each in-block
     * pair with the precomputed log-likelihood weights; output is the
     * (score, verdict) census — deterministic counts, no float-sum
     * ordering hazard.
     */
    Query("er_fellegi_sunter", (s, dir) =>
      Dedup.fellegiSunterScores(fsCustomer(s, dir), "blk", "c_custkey", fsFields,
          tLower = 0.0, tUpper = 3.0)
        .groupBy("score", "verdict")
        .agg(count(lit(1)).as("n_pairs")),
      // Fellegi–Sunter replay with the same precomputed round6'd weight
      // literals the engine sums (ln() differs across engines in the
      // last ulp; literal constants don't)
      oracle = {
        val (_, w1a, w1d) = fsFields(0)
        val (_, w2a, w2d) = fsFields(1)
        val (_, w3a, w3d) = fsFields(2)
        "WITH c AS (SELECT c_custkey, c_nationkey || '|' || c_mktsegment AS blk, " +
          "floor(c_acctbal / 1000) AS bal_band, right(c_name, 1) AS name_tail, " +
          "CAST(round(c_acctbal * 100) AS BIGINT) % 10 AS cent_band FROM customer), " +
          // CAST: the literal-weight sum rounds to DECIMAL(9,6) in DuckDB
          "p AS (SELECT CAST(round(" +
          s"(CASE WHEN a.bal_band = b.bal_band THEN $w1a ELSE $w1d END) + " +
          s"(CASE WHEN a.name_tail = b.name_tail THEN $w2a ELSE $w2d END) + " +
          s"(CASE WHEN a.cent_band = b.cent_band THEN $w3a ELSE $w3d END), 6) " +
          "AS DOUBLE) AS score " +
          "FROM c a JOIN c b ON a.blk = b.blk AND a.c_custkey < b.c_custkey) " +
          "SELECT score, CASE WHEN score >= 3.0 THEN 'match' " +
          "WHEN score > 0.0 THEN 'possible' ELSE 'non_match' END AS verdict, " +
          "count(*) AS n_pairs FROM p GROUP BY 1, 2"
      }),

    /**
     * Unsupervised Fellegi–Sunter calibration
     * (Dedup.fellegiSunterEM): λ and per-field (m, u) learned by EM
     * over the 2^3-combo agreement count table — the Splink/fastLink
     * step that turns raw pairs into principled weights without
     * labels. Oracle replays all 5 EM rounds as chained CTEs with
     * ordered list_sums and the identical round6 discipline.
     */
    Query("er_em_params", (s, dir) =>
      Dedup.fellegiSunterEM(fsCustomer(s, dir), "blk", "c_custkey",
        Seq("bal_band", "name_tail", "cent_band"), iters = 5),
      // full EM replay: agreement-combo counts, 5 chained E/M rounds
      // with ordered list_sums and round6 per step, final posteriors
      oracle = ("WITH c AS (SELECT c_custkey, c_nationkey || '|' || c_mktsegment AS blk, " +
        "floor(c_acctbal / 1000) AS bal_band, right(c_name, 1) AS name_tail, " +
        "CAST(round(c_acctbal * 100) AS BIGINT) % 10 AS cent_band FROM customer), " +
        "combos AS (SELECT " +
        "CASE WHEN a.bal_band = b.bal_band THEN 1 ELSE 0 END AS a0, " +
        "CASE WHEN a.name_tail = b.name_tail THEN 1 ELSE 0 END AS a1, " +
        "CASE WHEN a.cent_band = b.cent_band THEN 1 ELSE 0 END AS a2, " +
        "count(*) AS n FROM c a JOIN c b ON a.blk = b.blk " +
        "AND a.c_custkey < b.c_custkey GROUP BY 1, 2, 3), " +
        "e0 AS (SELECT 0.1::DOUBLE AS lambda, 0.8::DOUBLE AS m0, 0.2::DOUBLE AS u0, " +
        "0.8::DOUBLE AS m1, 0.2::DOUBLE AS u1, 0.8::DOUBLE AS m2, 0.2::DOUBLE AS u2), " +
        emIter("e1", "e0") + emIter("e2", "e1") + emIter("e3", "e2") +
        emIter("e4", "e3") + emIter("e5", "e4").stripSuffix(", ") +
        " SELECT CAST(a0 AS BIGINT) AS ag_0, CAST(a1 AS BIGINT) AS ag_1, " +
        "CAST(a2 AS BIGINT) AS ag_2, CAST(n AS BIGINT) AS n_pairs, " +
        "round(" + emPost("e5") + ", 6) AS p_match, e5.lambda, " +
        "e5.m0 AS m_0, e5.u0 AS u_0, e5.m1 AS m_1, e5.u1 AS u_1, " +
        "e5.m2 AS m_2, e5.u2 AS u_2 FROM combos, e5")),

    /**
     * The composed ER pipeline in one query: blocked pairs → EM
     * calibration (er_em_params' exact trajectory) → classification by
     * LEARNED posterior (> 0.4 — no hand weights anywhere) → connected
     * components over the matched pairs → cluster census. Every stage
     * is the oracled operator used elsewhere, chained; the oracle
     * replays EM, the per-pair posterior, and the recursive closure.
     */
    Query("pipeline_linkage", (s, dir) => {
      val cust = fsCustomer(s, dir)
      val fields = Seq("bal_band", "name_tail", "cent_band")
      val agreeCols = fields.zipWithIndex.map { case (f, i) =>
        (col(s"a.$f") === col(s"b.$f")).cast("long").as(s"ag_$i") }
      // ONE blocked self-join feeds both EM calibration and
      // classification: EM only consumes the agreement-combo COUNTS, so
      // calibrating via emFromCombos over the materialized pair table
      // replays fellegiSunterEM's exact trajectory (same combo counts,
      // same init, same round6 discipline) at half the pair-generation
      // cost — previously the blocked join + agreement evaluation ran
      // once inside fellegiSunterEM and AGAIN for the classified pairs.
      val pairs = cust.as("a").join(cust.as("b"),
          col("a.blk") === col("b.blk") && col("a.c_custkey") < col("b.c_custkey"))
        .select(Seq(col("a.c_custkey").as("a_id"), col("b.c_custkey").as("b_id")) ++
          agreeCols: _*)
        .localCheckpoint()
      val em = Dedup.emFromCombos(
        pairs.groupBy("ag_0", "ag_1", "ag_2").agg(count(lit(1)).as("n_pairs")),
        k = fields.size, iters = 5)
        .select(col("ag_0"), col("ag_1"), col("ag_2"), col("p_match"))
      val matched = pairs.join(broadcast(em), Seq("ag_0", "ag_1", "ag_2"))
        .filter(col("p_match") > 0.4)
        .select(col("a_id"), col("b_id"))
      Dedup.dupClusters(matched)
        .groupBy("cluster_id").agg(count(lit(1)).as("n_members"))
    },
      // full ER-pipeline replay: EM trajectory → per-pair learned
      // posterior → matched edges → recursive closure → cluster census
      oracle =
        ("WITH RECURSIVE c AS (SELECT c_custkey, c_nationkey || '|' || c_mktsegment AS blk, " +
          "floor(c_acctbal / 1000) AS bal_band, right(c_name, 1) AS name_tail, " +
          "CAST(round(c_acctbal * 100) AS BIGINT) % 10 AS cent_band FROM customer), " +
          "combos AS (SELECT " +
          "CASE WHEN a.bal_band = b.bal_band THEN 1 ELSE 0 END AS a0, " +
          "CASE WHEN a.name_tail = b.name_tail THEN 1 ELSE 0 END AS a1, " +
          "CASE WHEN a.cent_band = b.cent_band THEN 1 ELSE 0 END AS a2, " +
          "count(*) AS n FROM c a JOIN c b ON a.blk = b.blk " +
          "AND a.c_custkey < b.c_custkey GROUP BY 1, 2, 3), " +
          "e0 AS (SELECT 0.1::DOUBLE AS lambda, 0.8::DOUBLE AS m0, 0.2::DOUBLE AS u0, " +
          "0.8::DOUBLE AS m1, 0.2::DOUBLE AS u1, 0.8::DOUBLE AS m2, 0.2::DOUBLE AS u2), " +
          emIter("e1", "e0") + emIter("e2", "e1") + emIter("e3", "e2") +
          emIter("e4", "e3") + emIter("e5", "e4") +
          "pr AS (SELECT a.c_custkey AS a_id, b.c_custkey AS b_id, " +
          "CASE WHEN a.bal_band = b.bal_band THEN 1 ELSE 0 END AS a0, " +
          "CASE WHEN a.name_tail = b.name_tail THEN 1 ELSE 0 END AS a1, " +
          "CASE WHEN a.cent_band = b.cent_band THEN 1 ELSE 0 END AS a2 " +
          "FROM c a JOIN c b ON a.blk = b.blk AND a.c_custkey < b.c_custkey), " +
          // round6 the posterior BEFORE the threshold, matching the Spark
          // side's round6'd p_match — both engines compare the same
          // discretized value even for posteriors within an ulp of 0.4
          "matched AS (SELECT a_id, b_id FROM pr, e5 WHERE round(" + emPost("e5") + ", 6) > 0.4), " +
          "edges AS (SELECT a_id AS u, b_id AS v FROM matched " +
          "UNION SELECT b_id, a_id FROM matched), " +
          "reach(u, v) AS (SELECT u, v FROM edges UNION " +
          "SELECT r.u, e.v FROM reach r JOIN edges e ON r.v = e.u), " +
          "asg AS (SELECT u AS doc_id, least(u, min(v)) AS cluster_id " +
          "FROM reach GROUP BY u) " +
          "SELECT cluster_id, count(*) AS n_members FROM asg GROUP BY cluster_id")),

    /**
     * Word-bigram set cosine ER (τ=0.7) on the same typo-planted part
     * names as er_editdist: candidates from AllPairs prefix filtering
     * (exact recall), verified with the Ochiai coefficient; planted
     * typo pairs land at 3/4 shared bigrams = 0.75. The oracle is the
     * UNBLOCKED all-pairs join — equality proves the prefix filter
     * loses nothing.
     *
     * Bench note (the suite's one >2s query): the COST is the output,
     * not the plan — TPC-H part names draw from a ~90-word adjective
     * vocabulary, so at sf0.1 τ=0.7 legitimately admits ~3.1M similar
     * pairs (~1M result rows/s writing them). The fixture keeps τ=0.7 /
     * shingle=2 because the planted typos sit at 0.75 — raising τ above
     * 0.75 or the shingle order would shrink the output but lose the
     * planted recall the oracle checks. A production run on low-entropy
     * keys would raise τ or block harder; the operator is unchanged.
     */
    Query("er_cosine", (s, dir) => {
      val part = t(s, dir, "part").select(col("p_partkey"), col("p_name"))
      val typo = part.filter(col("p_partkey") % 100 === 0)
        .select((col("p_partkey") + 1000000L).as("p_partkey"),
          concat(substring(col("p_name"), lit(1), length(col("p_name")) - 1), lit("x"))
            .as("p_name"))
      Dedup.tokenCosinePairs(part.unionAll(typo), "p_name", "p_partkey",
        threshold = 0.7, shingle = 2)
    },
      // UNBLOCKED all-pairs set cosine: equality with the engine's
      // prefix-filtered run proves AllPairs blocking is lossless
      oracle = ("WITH base AS (SELECT p_partkey AS id, p_name AS s FROM part " +
        "UNION ALL SELECT p_partkey + 1000000, " +
        "substr(p_name, 1, length(p_name) - 1) || 'x' FROM part WHERE p_partkey % 100 = 0), " +
        "w AS (SELECT id, string_split(lower(s), ' ') AS w FROM base), " +
        "tok AS (SELECT DISTINCT id, array_to_string(w[i:i+1], ' ') AS tok " +
        "FROM w, UNNEST(generate_series(1, greatest(len(w) - 1, 0))) AS g(i)), " +
        "sz AS (SELECT id, count(*) AS n FROM tok GROUP BY id), " +
        "i AS (SELECT a.id AS a_id, b.id AS b_id, count(*) AS inter " +
        "FROM tok a JOIN tok b ON a.tok = b.tok AND a.id < b.id GROUP BY 1, 2) " +
        "SELECT a_id, b_id, round(inter / sqrt(sa.n * sb.n), 4) AS cos " +
        "FROM i JOIN sz sa ON a_id = sa.id JOIN sz sb ON b_id = sb.id " +
        "WHERE round(inter / sqrt(sa.n * sb.n), 4) >= 0.7")),

    /** Quality-aware near-dup resolution: keep the best-quality member of each cluster. */
    Query("dedup_keep_best", (s, dir) => {
      val docs = t(s, dir, "documents")
      Dedup.keepBestPerCluster(docs, TextAnalysis.qualityCol(col("text")))
    },
      // near-dup clusters resolved to their best-quality representative
      oracle = ("SELECT cluster_id, doc_id AS kept_doc_id, quality AS kept_quality, " +
        "nm AS n_members, nm - 1 AS n_dropped FROM (" +
        "SELECT cl.cluster_id, cl.doc_id, q.quality, " +
        "row_number() OVER (PARTITION BY cl.cluster_id " +
        "ORDER BY q.quality DESC, cl.doc_id) AS rn, " +
        "count(*) OVER (PARTITION BY cl.cluster_id) AS nm " +
        "FROM (" + clustersSql + ") cl JOIN (" + qualitySql + ") q " +
        "ON cl.doc_id = q.doc_id) WHERE rn = 1")),

    /** C4/CCNet paragraph-level rewrite: dedup 15-token units corpus-wide, reassemble docs. */
    Query("dedup_paragraphs", (s, dir) =>
      Dedup.paragraphDedup(t(s, dir, "documents"), width = 15),
      // full replay of the paragraph rewrite: 15-token units, global
      // keep-first in (doc order, position), per-doc reassembly
      oracle = paragraphSql("")),

    /**
     * Incremental paragraph rewrite against the persistent unit index
     * ([[graft.operators.Dedup.writeUnitIndex]]): the first 90% of the
     * corpus is indexed once; the arriving 10% is rewritten per-batch
     * (bucket-pruned index probe, batch-sized cost). Oracle: the
     * GLOBAL rewrite restricted to the batch — maintained ≡ rebuilt.
     */
    Query("dedup_paragraphs_incr", (s, dir) => {
      val docs = t(s, dir, "documents")
      val cut = (docs.agg(max("doc_id")).head.getLong(0) + 1L) * 9L / 10L
      if (!s.catalog.tableExists("graft_unit_idx"))
        Dedup.writeUnitIndex(docs.filter(col("doc_id") < cut), "graft_unit_idx")
      Dedup.paragraphDedupIncremental(docs.filter(col("doc_id") >= cut), "graft_unit_idx")
    },
      // the incremental rewrite must equal the GLOBAL rewrite
      // restricted to the batch (corpus order keys all precede it)
      oracle = paragraphSql(
        " WHERE t.doc_id >= (SELECT (max(doc_id) + 1) * 9 // 10 FROM documents)")),

    /**
     * Sorted-neighborhood ER over the same corrupted-parts fixture as
     * `er_editdist` — equality blocking misses a typo that lands in a
     * different block; sort order keeps it adjacent.
     */
    Query("er_sorted_neighborhood", (s, dir) => {
      val part = t(s, dir, "part")
      val base = part.select(col("p_partkey").as("id"), col("p_name").as("s"))
        .unionByName(part.filter(col("p_partkey") % 100 === 0)
          .select((col("p_partkey") + 1000000).as("id"),
            concat(expr("substring(p_name, 1, length(p_name) - 1)"), lit("x")).as("s")))
      Dedup.sortedNeighborhoodPairs(base, "s", "id", w = 10, maxDist = 2)
    },
      // SNM window w=10 over (s, id) order; same corrupted base as er_editdist
      oracle = ("WITH base AS (SELECT p_partkey AS id, p_name AS s FROM part " +
        "UNION ALL SELECT p_partkey + 1000000, " +
        "substr(p_name, 1, length(p_name) - 1) || 'x' FROM part WHERE p_partkey % 100 = 0), " +
        "r AS (SELECT id, s, row_number() OVER (ORDER BY s, id) AS rn FROM base) " +
        "SELECT a.id AS a_id, b.id AS b_id, CAST(levenshtein(a.s, b.s) AS BIGINT) AS dist " +
        "FROM r a JOIN r b ON b.rn > a.rn AND b.rn - a.rn < 10 " +
        "WHERE levenshtein(a.s, b.s) <= 2")),

    /**
     * Index DELETE maintenance: docs with doc_id % 7 == 5 are
     * tombstoned out of the built index (O(markers) append — no
     * rebuild, no corpus rescan) and must vanish from the next batch's
     * candidates. Oracle: the exhaustive batch×corpus pairs minus the
     * deleted corpus docs.
     */
    Query("dedup_index_delete", (s, dir) => {
      val docs = t(s, dir, "documents")
      val cut = (docs.agg(max("doc_id")).head.getLong(0) + 1L) * 9L / 10L
      if (!s.catalog.tableExists("graft_dedup_idxd_bands"))
        Dedup.writeMinhashIndex(docs.filter(col("doc_id") < cut), "graft_dedup_idxd")
      if (!s.catalog.tableExists("graft_dedup_idxd_tombstones"))
        Dedup.deleteFromMinhashIndex(
          docs.filter(col("doc_id") < cut && col("doc_id") % 7 === 5),
          "graft_dedup_idxd")
      Dedup.indexedNearDupPairs(docs.filter(col("doc_id") >= cut), "graft_dedup_idxd")
    },
      // delete maintenance: corpus side minus the tombstoned ids
      oracle = incrementalDedupSqlWith("AND b.doc_id % 7 <> 5 ")),
  )
}
