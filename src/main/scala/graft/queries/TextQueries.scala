package graft
package queries

import org.apache.spark.sql.functions._

import graft.Tables.t
import graft.functions.TextFunctions._
import graft.operators.{Curation, Dedup, Retrieval, TextAnalysis}
import graft.queries.OracleSql._

/**
 * Text analysis queries (`text_*`): quality and language id, tokens,
 * fingerprints, BPE, language models, classifiers, decontamination and
 * BM25.
 */
private[queries] object TextQueries {

  /** The s0..sN segment-and-count CTE chain shared by the BPE oracles. */
  private def bpeChainSql(n: Int): String = {
    val sb = new StringBuilder
    // MATERIALIZED is load-bearing: every s_r is referenced twice
    // (by m_{r+1} and s_{r+1}); DuckDB inlines plain CTEs, so an
    // n-round chain would expand to 2^n scans of `documents` ("too
    // many open files" at n=16, exponential CPU before that)
    sb ++= "WITH s0 AS MATERIALIZED (SELECT doc_id, ' ' || array_to_string(" +
      "string_split(lower(text), ' '), '  ') || ' ' AS s FROM documents)"
    for (r <- 1 to n) {
      sb ++= s", m$r AS MATERIALIZED (SELECT array_to_string(u[i:i+1], ' ') AS pair, " +
        "count(*) AS cnt FROM (SELECT string_split(trim(s), '  ') AS u " +
        s"FROM s${r - 1}), UNNEST(generate_series(1, greatest(len(u) - 1, 0))) t(i) " +
        "GROUP BY pair HAVING count(*) >= 2 ORDER BY cnt DESC, pair LIMIT 1)"
      sb ++= s", s$r AS MATERIALIZED (SELECT doc_id, replace(s, " +
        "' ' || split_part(pair, ' ', 1) || '  ' || split_part(pair, ' ', 2) || ' ', " +
        "' ' || split_part(pair, ' ', 1) || chr(1) || split_part(pair, ' ', 2) || ' ') AS s " +
        s"FROM s${r - 1}, m$r)"
    }
    sb.toString
  }

  /**
   * Generated oracle for TRUE iterative BPE: round r counts adjacent
   * unit pairs over the corpus as left by rounds 1..r-1 (the
   * double-space encoding of text_bpe_apply: each unit wrapped in its
   * own spaces, merges replace '␠x␠␠y␠' with '␠x<chr1>y␠' left-to-
   * right non-overlapping), takes the top pair (count desc, pair
   * asc), applies it, and recurses — n chained CTE pairs, since the
   * per-round aggregate can't live inside one recursive CTE. Output:
   * the merge table with selection counts.
   */
  private def bpeIterativeSql(n: Int): String = {
    val sb = new StringBuilder
    sb ++= bpeChainSql(n)
    sb ++= " SELECT * FROM (" + (1 to n).map { r =>
      s"SELECT CAST($r AS BIGINT) AS rank, " +
        "replace(split_part(pair, ' ', 1), chr(1), ' ') AS x, " +
        "replace(split_part(pair, ' ', 2), chr(1), ' ') AS y, cnt " +
        s"FROM m$r"
    }.mkString(" UNION ALL ") + ")"
    sb.toString
  }

  /** Gopher census oracle: the qualitySql signal arithmetic + the rule gates. */
  private lazy val gopherCensusSql: String =
    "WITH m AS (SELECT source, " +
      "len(string_split(lower(text), ' ')) AS n, " +
      "round((length(text) - (len(string_split(lower(text), ' ')) - 1)) * 1.0 / " +
      "len(string_split(lower(text), ' ')), 4) AS awl, " +
      "round(len(list_filter(string_split(lower(text), ' '), x -> x IN " + stopwordsSql + ")) " +
      "* 1.0 / len(string_split(lower(text), ' ')), 4) AS sr, " +
      "round(1.0 - len(list_distinct(string_split(lower(text), ' '))) * 1.0 / " +
      "len(string_split(lower(text), ' ')), 4) AS dup FROM documents), " +
      "f AS (SELECT source, (n < 25 OR n > 100000) AS f_len, " +
      "(awl < 3.0 OR awl > 5.0) AS f_awl, sr < 0.02 AS f_stop, " +
      "dup > 0.6 AS f_dup FROM m) " +
      "SELECT source, count(*) AS n_docs, " +
      "count(*) FILTER (f_len) AS n_fail_len, " +
      "count(*) FILTER (f_awl) AS n_fail_wordlen, " +
      "count(*) FILTER (f_stop) AS n_fail_stopword, " +
      "count(*) FILTER (f_dup) AS n_fail_dup, " +
      "count(*) FILTER (NOT f_len AND NOT f_awl AND NOT f_stop AND NOT f_dup) AS n_kept " +
      "FROM f GROUP BY source"

  /** Hashed-linear-classifier replay (md5 bucket → stub weight → sigmoid of the mean). */
  private lazy val classifySql: String =
    "WITH tok AS (SELECT doc_id, string_split(lower(text), ' ') AS w FROM documents), " +
      "s AS (SELECT doc_id, len(w) AS n, list_reduce(list_prepend(0.0, list_transform(w, " +
      "x -> ((((('0x'||substr(md5(x),13,4))::UBIGINT % 1024)::BIGINT * 2654435761 + 7) " +
      "% 2000001) / 1000000.0 - 1.0))), (a, b) -> a + b) AS wsum FROM tok) " +
      "SELECT doc_id, round(1.0 / (1.0 + exp(-(wsum / n))), 4) AS clf_score, " +
      "wsum >= 0 AS clf_label FROM s"

  val all: Seq[Query] = Seq(
    /**
     * Tokenizer model-swap: the 8 iteratively-learned merges persist
     * as a parquet table and segmentation applies FROM the table
     * (TextAnalysis.bpeApplyFromTable) — retraining the tokenizer is a
     * data overwrite, not a code change. Oracle replays train (the
     * shared s0..s8 chain) AND apply (s8 IS the learned segmentation).
     */
    Query("text_bpe_table", (s, dir) => {
      val docs = t(s, dir, "documents")
      if (!s.catalog.tableExists("graft_bpe_merges")) {
        import s.implicits._
        // writeSmallTable, not a bare saveAsTable: it clears an
        // orphaned warehouse dir a previous JVM left behind
        graft.sources.Bucketing.writeSmallTable(
          TextAnalysis.bpeTrainIterative(docs, nMerges = 8).zipWithIndex
            .map { case ((x, y, c), i) => (i + 1L, x, y, c) }
            .toDF("rank", "x", "y", "cnt"),
          "graft_bpe_merges")
      }
      TextAnalysis.bpeApplyFromTable(docs, s.table("graft_bpe_merges"))
    },
      // learned-merge apply: s8 of the shared chain IS the segmentation
      oracle = (bpeChainSql(8) +
        " SELECT d.doc_id, CAST(len(string_split(lower(d.text), ' ')) AS BIGINT) AS n_tokens, " +
        "CAST(len(string_split(trim(s8.s), '  ')) AS BIGINT) AS n_units, " +
        "replace(array_to_string(string_split(trim(s8.s), '  '), '|'), chr(1), ' ') AS seg " +
        "FROM documents d JOIN s8 ON d.doc_id = s8.doc_id")),

    /**
     * DSIR-style importance weights toward the doc_id%50 exemplar
     * "target domain". maxVocab=20 deliberately binds on the fixture's
     * 31-type vocabulary so the capped-LM OOV path is exercised
     * cross-engine, not just in unit tests.
     */
    Query("text_importance", (s, dir) => {
      val docs = t(s, dir, "documents")
      TextAnalysis.importanceWeights(docs, docs.filter(col("doc_id") % 50 === 0),
        maxVocab = 20)
    },
      // corpus LM capped as in text_lm_score; add-1 smoothing over the
      // FULL vocabulary count (cap-independent constant)
      oracle = importanceSql),

    /** BM25 lexical retrieval: top-50 docs for a 3-term query (Retrieval). */
    Query("text_bm25", (s, dir) =>
      Retrieval.bm25TopK(t(s, dir, "documents"), Seq("hash", "merge", "join"), k = 50),
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
          "sc AS (SELECT doc_id, CAST(len(w) AS BIGINT) AS n_tokens, " +
          bm25Term("i0", "hash") + " + " + bm25Term("i1", "merge") + " + " +
          bm25Term("i2", "join") + " AS s FROM tok, idf) " +
          "SELECT doc_id, n_tokens, round(s, 4) AS bm25 FROM sc " +
          "ORDER BY s DESC, doc_id LIMIT 50")),

    /**
     * One BPE-training step: the top-20 adjacent token pairs by corpus
     * frequency (the merge-candidate ranking a tokenizer trainer
     * computes each round). One explode + count shuffle; ties broken by
     * pair string so the ranking is deterministic cross-engine.
     */
    Query("text_bpe_pairs", (s, dir) =>
      t(s, dir, "documents")
        // fused one-pass bigram strings: the composed slice/concat_ws
        // form re-inlines split() per window (O(tokens²) per doc,
        // measured 4× on this query at sf0.1)
        .select(explode(shingle_strings(lower(col("text")), 2)).as("pair"))
        .groupBy("pair").agg(count(lit(1)).as("cnt"))
        .orderBy(col("cnt").desc, col("pair"))
        .limit(20),
      oracle = ("WITH tok AS (SELECT string_split(lower(text), ' ') AS w FROM documents), " +
        "pr AS (SELECT array_to_string(w[i:i+1], ' ') AS pair FROM tok, " +
        "UNNEST(generate_series(1, greatest(len(w) - 1, 0))) t(i)) " +
        "SELECT pair, count(*) AS cnt FROM pr GROUP BY pair " +
        "ORDER BY cnt DESC, pair LIMIT 20")),

    /**
     * Train→apply BPE: learn the top-20 adjacent-pair merge table from
     * the corpus (one counting round), then segment every document with
     * it — greedy rank-order application in the scan stage
     * (functions.BpeSegmentExpr). The DuckDB oracle replays the greedy
     * merges as a recursive chain of string replaces over a
     * double-space-separated encoding.
     */
    Query("text_bpe_apply", (s, dir) => {
      val docs = t(s, dir, "documents")
      TextAnalysis.bpeApply(docs, TextAnalysis.bpeTrain(docs, nMerges = 20))
    },
      // replays greedy BPE application: each token is wrapped in its own
      // spaces ('␠a␠␠b␠'), each rank's merge is one left-to-right
      // non-overlapping replace of '␠x␠␠y␠' with '␠x<U+0001>y␠' — the
      // single-space unit joiner keeps merged units atomic to later
      // merges, exactly the engine's unit-array semantics
      oracle = ("WITH RECURSIVE tok AS (SELECT doc_id, string_split(lower(text), ' ') AS w " +
        "FROM documents), " +
        "pr AS (SELECT array_to_string(w[i:i+1], ' ') AS pair FROM tok, " +
        "UNNEST(generate_series(1, greatest(len(w) - 1, 0))) t(i)), " +
        "m0 AS (SELECT pair, count(*) AS cnt FROM pr GROUP BY pair " +
        "ORDER BY cnt DESC, pair LIMIT 20), " +
        "m AS (SELECT row_number() OVER (ORDER BY cnt DESC, pair) AS rk, " +
        "split_part(pair, ' ', 1) AS x, split_part(pair, ' ', 2) AS y FROM m0), " +
        "app AS (" +
        "SELECT doc_id, ' ' || array_to_string(w, '  ') || ' ' AS s, 0 AS step FROM tok " +
        "UNION ALL " +
        "SELECT a.doc_id, replace(a.s, ' ' || m.x || '  ' || m.y || ' ', " +
        "' ' || m.x || chr(1) || m.y || ' '), a.step + 1 " +
        "FROM app a JOIN m ON m.rk = a.step + 1), " +
        "fin AS (SELECT doc_id, string_split(trim(s), '  ') AS units FROM app " +
        "WHERE step = (SELECT max(rk) FROM m)) " +
        "SELECT f.doc_id, CAST(len(t.w) AS BIGINT) AS n_tokens, " +
        "CAST(len(f.units) AS BIGINT) AS n_units, " +
        "replace(array_to_string(f.units, '|'), chr(1), ' ') AS seg " +
        "FROM fin f JOIN tok t ON f.doc_id = t.doc_id")),

    /**
     * TRUE iterative BPE (TextAnalysis.bpeTrainIterative): merge r is
     * selected after re-counting over the corpus as segmented by
     * merges 1..r-1. Output = the learned merge table (rank, x, y,
     * count-at-selection), U+0001 joiners rendered as spaces. The
     * DuckDB oracle replays every round: a generated chain of
     * (count → top-1 → replace) CTEs over the same double-space
     * encoding as text_bpe_apply.
     */
    Query("text_bpe_iterative", (s, dir) => {
      import s.implicits._
      TextAnalysis.bpeTrainIterative(t(s, dir, "documents"), nMerges = 8)
        .zipWithIndex.map { case ((x, y, c), i) =>
          ((i + 1).toLong, x.replace('\u0001', ' '), y.replace('\u0001', ' '), c)
        }.toDF("rank", "x", "y", "cnt")
    },
      oracle = bpeIterativeSql(8)),

    /**
     * BATCHED iterative BPE (TextAnalysis.bpeTrainBatched): many merges
     * per corpus scan under the disjoint-prefix + strict-cutoff rules
     * that make the batch EXACTLY the sequential algorithm — so the
     * oracle is the same sequential round-by-round SQL replay as
     * text_bpe_iterative, just deeper. The driver's hash compare on
     * this query is the batched≡sequential law run at the oracle bar
     * on the real corpus.
     */
    Query("text_bpe_batched", (s, dir) => {
      import s.implicits._
      TextAnalysis.bpeTrainBatched(t(s, dir, "documents"), nMerges = 16)
        .zipWithIndex.map { case ((x, y, c), i) =>
          ((i + 1).toLong, x.replace('\u0001', ' '), y.replace('\u0001', ' '), c)
        }.toDF("rank", "x", "y", "cnt")
    },
      // the batched trainer's oracle IS the sequential replay, deeper:
      // a hash match here proves batched ≡ sequential on the real corpus
      oracle = bpeIterativeSql(16)),

    /** Vocabulary coverage curve: types needed to cover 50/90/99 % of token mass. */
    Query("text_vocab_coverage", (s, dir) =>
      TextAnalysis.vocabCoverage(t(s, dir, "documents")),
      // coverage thresholds are exact integer comparisons (cum*100 >= p*total)
      oracle = ("WITH f AS (SELECT tok, count(*) AS cnt FROM " +
        "(SELECT unnest(string_split(lower(text), ' ')) AS tok FROM documents) GROUP BY 1), " +
        "c AS (SELECT tok, cnt, CAST(sum(cnt) OVER w AS BIGINT) AS cum_tokens, " +
        "row_number() OVER w AS rank, CAST(sum(cnt) OVER () AS BIGINT) AS total FROM f " +
        "WINDOW w AS (ORDER BY cnt DESC, tok ROWS UNBOUNDED PRECEDING)), " +
        "p AS (SELECT pct, rank, cum_tokens, total FROM (VALUES (50), (90), (99)) t(pct), c " +
        "WHERE cum_tokens * 100 >= pct * total) " +
        "SELECT pct::BIGINT AS pct, min(rank) AS k_types, " +
        "CAST(min_by(cum_tokens, rank) AS BIGINT) AS covered_tokens, " +
        "round(min_by(cum_tokens, rank) * 1.0 / min(total), 6) AS coverage " +
        "FROM p GROUP BY 1")),

    Query("text_quality", (s, dir) =>
      TextAnalysis.qualityScore(t(s, dir, "documents"))
        .withColumn("n_tokens", col("n_tokens").cast("long")),
      oracle = qualitySql),

    /**
     * Median/MAD quality-drift census per source
     * (TextAnalysis.qualityMadCensus): discrete lower-median order
     * statistics on the bounded (source, quality) count table, so the
     * oracle replays rank selection — not interpolated percentiles,
     * whose last-ulp arithmetic differs across engines.
     */
    Query("text_quality_mad", (s, dir) =>
      TextAnalysis.qualityMadCensus(t(s, dir, "documents")),
      // lower-median + MAD per source as explicit rank selection on the
      // (source, quality) count table — bit-reproducible across engines
      oracle = ("WITH ql AS (" + qualitySql + "), " +
        "qq AS (SELECT d.source, ql.quality AS q FROM documents d " +
        "JOIN ql ON d.doc_id = ql.doc_id), " +
        "c AS (SELECT source, q, count(*) AS c FROM qq GROUP BY 1, 2), " +
        "cc AS (SELECT source, q, c, sum(c) OVER (PARTITION BY source ORDER BY q " +
        "ROWS UNBOUNDED PRECEDING) AS cum, sum(c) OVER (PARTITION BY source) AS n FROM c), " +
        "med AS (SELECT source, min(q) AS med FROM cc " +
        "WHERE cum >= ceil(n / 2.0) GROUP BY source), " +
        "d AS (SELECT c.source, med.med, abs(c.q - med.med) AS dev, sum(c.c) AS c " +
        "FROM c JOIN med USING (source) GROUP BY 1, 2, 3), " +
        "dc AS (SELECT source, med, dev, c, sum(c) OVER (PARTITION BY source ORDER BY dev " +
        "ROWS UNBOUNDED PRECEDING) AS cum, sum(c) OVER (PARTITION BY source) AS n FROM d), " +
        "mad AS (SELECT source, min(dev) AS mad FROM dc " +
        "WHERE cum >= ceil(n / 2.0) GROUP BY source) " +
        "SELECT d.source, CAST(sum(d.c) AS BIGINT) AS n_docs, " +
        "CAST(coalesce(sum(d.c) FILTER (d.dev > 3.0 * mad.mad), 0) AS BIGINT) AS n_outliers, " +
        "round(min(d.med), 6) AS median_q, round(min(mad.mad), 6) AS mad_q " +
        "FROM d JOIN mad USING (source) GROUP BY 1")),

    Query("text_langid", (s, dir) =>
      TextAnalysis.langId(t(s, dir, "documents")),
      oracle = langidSql),

    /**
     * Classifier QA: the confusion matrix of predicted vs labeled
     * language — the acceptance gate run before any classifier's
     * verdicts drive corpus filtering. One scan (the prediction is a
     * per-row column, [[TextAnalysis.predLangCol]]) + one bounded
     * aggregation: langs² cells regardless of corpus size.
     */
    Query("text_langid_confusion", (s, dir) =>
      t(s, dir, "documents")
        .withColumn("pred_lang", TextAnalysis.predLangCol(col("text")))
        .groupBy("lang", "pred_lang")
        .agg(count(lit(1)).as("n_docs")),
      // classifier QA: label×prediction cells off the shared langid CTE
      oracle = ("WITH pl AS (" + langidSql + ") " +
        "SELECT d.lang, pl.pred_lang, count(*) AS n_docs " +
        "FROM documents d JOIN pl USING (doc_id) GROUP BY 1, 2")),

    Query("text_tokens", (s, dir) =>
      TextAnalysis.tokenCounts(t(s, dir, "documents"))
        .withColumn("ws_tokens", col("ws_tokens").cast("long"))
        .withColumn("re_tokens", col("re_tokens").cast("long"))
        .withColumn("n_chars", col("n_chars").cast("long")),
      oracle = ("SELECT doc_id, len(string_split(text, ' ')) AS ws_tokens, " +
        "len(regexp_extract_all(lower(text), '[a-z]+|[0-9]+|[^a-z0-9 ]')) AS re_tokens, " +
        "length(text) AS n_chars FROM documents")),

    Query("text_fingerprint", (s, dir) =>
      TextAnalysis.fingerprints(t(s, dir, "documents")),
      oracle =
        ("WITH tok AS (SELECT doc_id, string_split(lower(text), ' ') AS w FROM documents), " +
          "fp AS (SELECT doc_id, list_reduce(list_prepend(0::BIGINT, " +
          "[((" + wrapSigned(md5u("t")) + " % 2147483647) + 2147483647) % 2147483647 for t in w]), " +
          "(a, b) -> (a * 131 + b) % 2147483647) AS fingerprint FROM tok), " +
          "h AS (SELECT doc_id, " + md5u("t") + " AS u FROM " +
          "(SELECT doc_id, unnest(w) AS t FROM tok)), " +
          "bits AS (SELECT doc_id, i, sum(CASE WHEN (u >> i) & 1 = 1 THEN 1 ELSE -1 END) AS c " +
          "FROM h, generate_series(0, 63) g(i) GROUP BY doc_id, i), " +
          "sk AS (SELECT doc_id, sum(CASE WHEN c > 0 THEN (1::UBIGINT << i) " +
          "ELSE 0::UBIGINT END)::UBIGINT AS u FROM bits GROUP BY doc_id) " +
          "SELECT f.doc_id, f.fingerprint, " + wrapSigned("s.u") + " AS simhash " +
          "FROM fp f JOIN sk s ON f.doc_id = s.doc_id")),

    /**
     * Winnowing census (MOSS fingerprint selection, k=4-gram, w=5
     * window): per-doc selected-fingerprint count + minimum — the
     * ~2/(w+1)-density sample behind substring-contamination detection.
     */
    Query("text_winnow", (s, dir) =>
      TextAnalysis.winnowCensus(t(s, dir, "documents")),
      oracle = (winnowCte + "SELECT doc_id, count(*) AS n_fps, min(fp) AS min_fp " +
        "FROM fp GROUP BY doc_id")),

    /** Zipf slope/intercept over the top-100 token ranks (power-law governance check). */
    Query("text_zipf", (s, dir) =>
      TextAnalysis.zipfFit(t(s, dir, "documents")),
      // same closed-form least squares over round6'd (ln rank, ln freq)
      // terms; round4 on the fitted coefficients
      oracle =
        ("WITH tok AS (SELECT unnest(string_split(lower(text), ' ')) AS tok FROM documents), " +
          "f AS (SELECT tok, count(*) AS c FROM tok GROUP BY tok), " +
          "r AS (SELECT row_number() OVER (ORDER BY c DESC, tok) AS rank, c FROM f " +
          "ORDER BY c DESC, tok LIMIT 100), " +
          "p AS (SELECT round(ln(rank), 6) AS x, round(ln(c), 6) AS y FROM r), " +
          "s AS (SELECT count(*) AS n, sum(x) AS sx, sum(y) AS sy, " +
          "sum(round(x * y, 6)) AS sxy, sum(round(x * x, 6)) AS sxx FROM p) " +
          "SELECT CAST(n AS BIGINT) AS n_ranks, " +
          "round((n * sxy - sx * sy) / (n * sxx - sx * sx), 4) AS slope, " +
          "round((sy - ((n * sxy - sx * sy) / (n * sxx - sx * sx)) * sx) / n, 4) AS intercept " +
          "FROM s")),

    /** Fully-distributed bigram LM (α=0.5): the no-driver-state scale path above the unigram proxy. */
    Query("text_bigram_lm", (s, dir) =>
      TextAnalysis.bigramLmScore(t(s, dir, "documents")),
      // add-α bigram LM, replayed with the identical count tables and
      // smoothing arithmetic (docs with < 2 tokens have no bigrams and
      // drop from both engines)
      oracle =
        ("WITH tok AS (SELECT doc_id, string_split(lower(text), ' ') AS w FROM documents), " +
          "bg AS (SELECT doc_id, w[i] AS w1, w[i+1] AS w2 FROM tok, " +
          "UNNEST(generate_series(1, len(w) - 1)) AS t(i)), " +
          "c12 AS (SELECT w1, w2, count(*) AS c12 FROM bg GROUP BY 1, 2), " +
          "c1 AS (SELECT w1 AS cw, sum(c12) AS c1 FROM c12 GROUP BY 1), " +
          "vs AS (SELECT count(*) * 1.0 AS v FROM c1), " +
          "sc AS (SELECT bg.doc_id, -ln((c12.c12 + 0.5) / (c1.c1 + 0.5 * vs.v)) AS nll " +
          "FROM bg JOIN c12 ON bg.w1 = c12.w1 AND bg.w2 = c12.w2 " +
          "JOIN c1 ON bg.w1 = c1.cw, vs) " +
          "SELECT doc_id, count(*) AS n_bigrams, round(avg(nll), 4) AS bigram_nll " +
          "FROM sc GROUP BY doc_id")),

    /**
     * Reliability diagram of the hashed classifier against the quality
     * gate ([[TextAnalysis.calibrationCensus]]): clf_score deciles vs
     * the empirical rate of quality ≥ 0.5 — both sides deterministic,
     * so every bucket stat is value-oracled.
     */
    Query("text_calibration", (s, dir) => {
      val docs = t(s, dir, "documents")
      val scored = TextAnalysis.classifierScore(docs)
        .join(docs.select(col("doc_id"),
          (TextAnalysis.qualityCol(col("text")) >= 0.5).as("target")), "doc_id")
      TextAnalysis.calibrationCensus(scored, "clf_score", "target")
    },
      // hashed linear classifier: bucket = low 10 bits of md5lo64
      // (= last 4 hex chars of the first 8 md5 bytes mod 1024); the
      // label compares the exact ordered fold, not the rounded sigmoid
      oracle = ("WITH tok AS (SELECT doc_id, string_split(lower(text), ' ') AS w " +
        "FROM documents), " +
        "sc AS (SELECT doc_id, len(w) AS n, list_reduce(list_prepend(0.0, " +
        "list_transform(w, x -> ((((('0x'||substr(md5(x),13,4))::UBIGINT % 1024)" +
        "::BIGINT * 2654435761 + 7) % 2000001) / 1000000.0 - 1.0))), " +
        "(a, b) -> a + b) AS wsum FROM tok), " +
        "clf AS (SELECT doc_id, round(1.0 / (1.0 + exp(-(wsum / n))), 4) " +
        "AS clf_score FROM sc), " +
        "m AS (SELECT doc_id, len(string_split(lower(text), ' ')) AS n_tokens, " +
        "round(len(list_filter(string_split(lower(text), ' '), x -> x IN " +
        stopwordsSql + ")) * 1.0 / len(string_split(lower(text), ' ')), 4) " +
        "AS stopword_ratio, " +
        "round(len(list_distinct(string_split(lower(text), ' '))) * 1.0 / " +
        "len(string_split(lower(text), ' ')), 4) AS distinct_ratio " +
        "FROM documents), " +
        "q AS (SELECT doc_id, round(least(n_tokens / 64.0, 1.0) * 0.4 " +
        "+ least(stopword_ratio * 5.0, 1.0) * 0.2 + distinct_ratio * 0.4, 6) " +
        "AS quality FROM m), " +
        "j AS (SELECT clf.clf_score, (q.quality >= 0.5) AS target " +
        "FROM clf JOIN q USING (doc_id)) " +
        "SELECT CAST(least(floor(clf_score * 10), 9) AS BIGINT) AS decile, " +
        "count(*) AS n, round(avg(clf_score), 6) AS mean_score, " +
        "round(avg(CASE WHEN target THEN 1.0 ELSE 0.0 END), 6) AS pos_rate " +
        "FROM j GROUP BY 1")),

    /**
     * ROC-AUC of the hashed classifier against the quality target
     * ([[TextAnalysis.aucRoc]] — tie-aware midranks over distinct
     * scores). Same scored join as `text_calibration`.
     */
    Query("text_auc", (s, dir) => {
      val docs = t(s, dir, "documents")
      val scored = TextAnalysis.classifierScore(docs)
        .join(docs.select(col("doc_id"),
          (TextAnalysis.qualityCol(col("text")) >= 0.5).as("target")), "doc_id")
      TextAnalysis.aucRoc(scored, "clf_score", "target")
    },
      oracle = ("WITH tok AS (SELECT doc_id, string_split(lower(text), ' ') AS w " +
        "FROM documents), " +
        "sc AS (SELECT doc_id, len(w) AS n, list_reduce(list_prepend(0.0, " +
        "list_transform(w, x -> ((((('0x'||substr(md5(x),13,4))::UBIGINT % 1024)" +
        "::BIGINT * 2654435761 + 7) % 2000001) / 1000000.0 - 1.0))), " +
        "(a, b) -> a + b) AS wsum FROM tok), " +
        "clf AS (SELECT doc_id, round(1.0 / (1.0 + exp(-(wsum / n))), 4) " +
        "AS clf_score FROM sc), " +
        "m AS (SELECT doc_id, len(string_split(lower(text), ' ')) AS n_tokens, " +
        "round(len(list_filter(string_split(lower(text), ' '), x -> x IN " +
        stopwordsSql + ")) * 1.0 / len(string_split(lower(text), ' ')), 4) " +
        "AS stopword_ratio, " +
        "round(len(list_distinct(string_split(lower(text), ' '))) * 1.0 / " +
        "len(string_split(lower(text), ' ')), 4) AS distinct_ratio " +
        "FROM documents), " +
        "q AS (SELECT doc_id, round(least(n_tokens / 64.0, 1.0) * 0.4 " +
        "+ least(stopword_ratio * 5.0, 1.0) * 0.2 + distinct_ratio * 0.4, 6) " +
        "AS quality FROM m), " +
        "j AS (SELECT clf.clf_score AS s, " +
        "CASE WHEN q.quality >= 0.5 THEN 1 ELSE 0 END AS t " +
        "FROM clf JOIN q USING (doc_id)), " +
        "g AS (SELECT s, count(*) AS n, sum(t) AS np FROM j GROUP BY s), " +
        "r AS (SELECT np, n, (2 * coalesce(sum(n) OVER (ORDER BY s " +
        "ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) + n + 1) / 2.0 " +
        "AS midrank FROM g) " +
        "SELECT round((sum(np * midrank) - sum(np) * (sum(np) + 1) / 2.0) " +
        "/ (sum(np) * sum(n - np)), 6) AS auc, " +
        "CAST(sum(np) AS BIGINT) AS n_pos, " +
        "CAST(sum(n - np) AS BIGINT) AS n_neg FROM r")),

    /**
     * Confusion matrix + precision/recall/F1/accuracy/Cohen's κ of the
     * hashed classifier's label against the quality target
     * ([[TextAnalysis.classifierEval]]) — completes the eval trio with
     * `text_calibration` and `text_auc`.
     */
    Query("text_classify_eval", (s, dir) => {
      val docs = t(s, dir, "documents")
      val scored = TextAnalysis.classifierScore(docs)
        .join(docs.select(col("doc_id"),
          (TextAnalysis.qualityCol(col("text")) >= 0.5).as("target")), "doc_id")
      TextAnalysis.classifierEval(scored, "clf_label", "target")
    },
      oracle = ("WITH tok AS (SELECT doc_id, string_split(lower(text), ' ') AS w " +
        "FROM documents), " +
        "sc AS (SELECT doc_id, list_reduce(list_prepend(0.0, " +
        "list_transform(w, x -> ((((('0x'||substr(md5(x),13,4))::UBIGINT % 1024)" +
        "::BIGINT * 2654435761 + 7) % 2000001) / 1000000.0 - 1.0))), " +
        "(a, b) -> a + b) AS wsum FROM tok), " +
        "clf AS (SELECT doc_id, wsum >= 0 AS pred FROM sc), " +
        "m AS (SELECT doc_id, len(string_split(lower(text), ' ')) AS n_tokens, " +
        "round(len(list_filter(string_split(lower(text), ' '), x -> x IN " +
        stopwordsSql + ")) * 1.0 / len(string_split(lower(text), ' ')), 4) " +
        "AS stopword_ratio, " +
        "round(len(list_distinct(string_split(lower(text), ' '))) * 1.0 / " +
        "len(string_split(lower(text), ' ')), 4) AS distinct_ratio " +
        "FROM documents), " +
        "q AS (SELECT doc_id, round(least(n_tokens / 64.0, 1.0) * 0.4 " +
        "+ least(stopword_ratio * 5.0, 1.0) * 0.2 + distinct_ratio * 0.4, 6) " +
        ">= 0.5 AS target FROM m), " +
        // CAST: DuckDB integer sum() is HUGEINT (→ float64 in parquet);
        // Spark writes int64 — cast so the driver's typed hash matches
        "c AS (SELECT CAST(sum(CASE WHEN pred AND target THEN 1 ELSE 0 END) AS BIGINT) AS tp, " +
        "CAST(sum(CASE WHEN pred AND NOT target THEN 1 ELSE 0 END) AS BIGINT) AS fp, " +
        "CAST(sum(CASE WHEN NOT pred AND target THEN 1 ELSE 0 END) AS BIGINT) AS fn, " +
        "CAST(sum(CASE WHEN NOT pred AND NOT target THEN 1 ELSE 0 END) AS BIGINT) AS tn " +
        "FROM clf JOIN q USING (doc_id)) " +
        "SELECT tp, fp, fn, tn, " +
        "round(tp * 1.0 / (tp + fp), 6) AS precision, " +
        "round(tp * 1.0 / (tp + fn), 6) AS recall, " +
        "round(tp * 2.0 / (tp * 2 + fp + fn), 6) AS f1, " +
        "round((tp + tn) * 1.0 / (tp + fp + fn + tn), 6) AS accuracy, " +
        "round(((tp + tn) * 1.0 / (tp + fp + fn + tn) " +
        "- ((tp + fp) * (tp + fn) + (fn + tn) * (fp + tn)) * 1.0 " +
        "/ ((tp + fp + fn + tn) * (tp + fp + fn + tn))) " +
        "/ (1.0 - ((tp + fp) * (tp + fn) + (fn + tn) * (fp + tn)) * 1.0 " +
        "/ ((tp + fp + fn + tn) * (tp + fp + fn + tn))), 6) AS kappa FROM c")),

    /** Hashed linear classifier scoring (hashing trick over md5 buckets, deterministic stub weights). */
    Query("text_classify", (s, dir) =>
      TextAnalysis.classifierScore(t(s, dir, "documents")),
      oracle = classifySql),

    /**
     * TRAINED classifier (multinomial Naive Bayes,
     * [[TextAnalysis.naiveBayesModel]]): fit source-prediction on the
     * %5≠0 training split, score the held-out %5=0 split, emit each
     * doc's argmax label with its (pre-argmax-rounded) score and a
     * correctness flag. The model is a dense bounded-vocab × label
     * table; the oracle replays fit AND scoring end-to-end in SQL.
     */
    Query("text_nb_classify", (s, dir) => {
      import s.implicits._
      val docs = t(s, dir, "documents")
      // gridless-label probe: a training label whose every token falls
      // below minCount has a prior but zero in-vocab mass; the fit must
      // still emit its dense-grid rows (tn=0 smoothing) so it competes
      // in every argmax — both engines inject it so the path executes
      val trainProbe = Seq(("rare_src", "jjjuniqjjj kkkuniqkkk"))
        .toDF("label", "text")
      val model = TextAnalysis.naiveBayesModel(
        docs.filter(col("doc_id") % 5 =!= 0)
          .select(col("source").as("label"), col("text"))
          .unionByName(trainProbe),
        "label", "text", minCount = 2)
      // the fixture's held-out slice has no all-OOV doc, so both engines
      // append a deterministic probe whose tokens can't clear minCount:
      // under the pre-fallback semantics it vanished from the output,
      // now it must surface with the prior-only argmax (oracle-checked)
      val probe = Seq((-1L, "oov_probe", "zqzqzqzq xvxvxvxv"))
        .toDF("doc_id", "source", "text")
      val test = docs.filter(col("doc_id") % 5 === 0)
        .select(col("doc_id"), col("source"), col("text"))
        .unionByName(probe)
      TextAnalysis.naiveBayesClassify(test, model)
        .join(test.select("doc_id", "source"), Seq("doc_id"))
        .select(col("doc_id"), col("source"), col("pred"), col("score"),
          (col("pred") === col("source")).cast("long").as("correct"))
    },
      // trained multinomial NB, fit AND scoring replayed end-to-end:
      // smoothing arithmetic is exact-integer until the final ln, and
      // scores round to 6dp BEFORE the argmax on both engines; empty
      // tokens (irregular whitespace) are dropped at tokenization on
      // both sides, and scoring runs from the doc x label universe so
      // an all-OOV held-out doc gets a prior-only argmax, not dropped
      oracle = ("WITH train AS (SELECT source AS label, lower(text) AS t " +
        "FROM documents WHERE doc_id % 5 <> 0 " +
        "UNION ALL SELECT 'rare_src', 'jjjuniqjjj kkkuniqkkk'), " +
        "tokt AS (SELECT label, token FROM (SELECT label, " +
        "unnest(string_split(t, ' ')) AS token FROM train) WHERE token <> ''), " +
        "vocab AS (SELECT token FROM (SELECT token, count(*) AS c FROM tokt " +
        "GROUP BY 1) WHERE c >= 2), " +
        "counts AS (SELECT label, token, count(*) AS n FROM tokt " +
        "JOIN vocab USING (token) GROUP BY 1, 2), " +
        "labels AS (SELECT label, count(*) AS docs FROM train GROUP BY 1), " +
        // dense grid covers EVERY trained label: a label with no
        // in-vocab tokens gets tn=0 (uniform smoothed 1/V per token)
        "tot AS (SELECT labels.label, coalesce(ct.tn, 0) AS tn FROM labels " +
        "LEFT JOIN (SELECT label, sum(n) AS tn FROM counts GROUP BY 1) ct " +
        "USING (label)), " +
        "v AS (SELECT count(*) AS vs FROM vocab), " +
        "model AS (SELECT tot.label, vocab.token, " +
        "ln((coalesce(c.n, 0) + 1.0) / (tot.tn + v.vs)) AS lp " +
        "FROM tot CROSS JOIN vocab CROSS JOIN v " +
        "LEFT JOIN counts c ON c.label = tot.label AND c.token = vocab.token), " +
        "prior AS (SELECT label, ln(docs * 1.0 / (SELECT sum(docs) FROM labels)) " +
        "AS lprior FROM labels), " +
        "testraw AS (SELECT doc_id, source, lower(text) AS t " +
        "FROM documents WHERE doc_id % 5 = 0 " +
        "UNION ALL SELECT -1, 'oov_probe', 'zqzqzqzq xvxvxvxv'), " +
        "testdocs AS (SELECT doc_id, source FROM testraw), " +
        "test AS (SELECT doc_id, token FROM (SELECT doc_id, " +
        "unnest(string_split(t, ' ')) AS token FROM testraw) " +
        "WHERE token <> ''), " +
        "sc AS (SELECT t.doc_id, m.label, sum(m.lp) AS s " +
        "FROM test t JOIN model m USING (token) GROUP BY 1, 2), " +
        "scored AS (SELECT d.doc_id, d.source, p.label, " +
        "round(coalesce(sc.s, 0) + p.lprior, 6) AS score " +
        "FROM testdocs d CROSS JOIN prior p " +
        "LEFT JOIN sc ON sc.doc_id = d.doc_id AND sc.label = p.label), " +
        "r AS (SELECT *, row_number() OVER (PARTITION BY doc_id " +
        "ORDER BY score DESC, label) AS rn FROM scored) " +
        "SELECT doc_id, source, label AS pred, score, " +
        "CAST(label = source AS BIGINT) AS correct FROM r WHERE rn = 1")),

    /**
     * The classifier scored from a (bucket, weight) MODEL TABLE
     * (TextAnalysis.classifierScoreFromTable): the weights parquet is
     * written once (here, from the stub generator — in production, by a
     * training job), and the scoring path only ever sees the table.
     * Proves the model-swap claim in code: same oracle as text_classify.
     */
    Query("text_classify_table", (s, dir) => {
      if (!s.catalog.tableExists("graft_clf_weights"))
        graft.sources.Bucketing.writeSmallTable(
          TextAnalysis.classifierWeights(s), "graft_clf_weights")
      TextAnalysis.classifierScoreFromTable(
        t(s, dir, "documents"), s.table("graft_clf_weights"))
    },
      // same oracle: the table-driven path must score identically to
      // the inline-stub path (the model-swap contract, proven in code)
      oracle = classifySql),

    /** Language ID from a (priority, lang, token) marker table — same swap contract. */
    Query("text_langid_table", (s, dir) => {
      if (!s.catalog.tableExists("graft_lang_markers"))
        graft.sources.Bucketing.writeSmallTable(
          TextAnalysis.langMarkerTable(s), "graft_lang_markers")
      TextAnalysis.langIdFromTable(t(s, dir, "documents"), s.table("graft_lang_markers"))
    },
      oracle = langidSql),

    /** Per-doc token entropy: the gibberish/boilerplate band signal. */
    Query("text_entropy", (s, dir) =>
      TextAnalysis.tokenEntropy(t(s, dir, "documents")),
      // per-doc token entropy; the type fold runs over SORTED distinct
      // types so both engines sum identical doubles in identical order
      oracle =
        ("WITH tok AS (SELECT doc_id, string_split(lower(text), ' ') AS w FROM documents), " +
          "e AS (SELECT doc_id, CAST(len(w) AS BIGINT) AS n_tokens, " +
          "CAST(len(list_distinct(w)) AS BIGINT) AS n_types, " +
          "-list_reduce(list_prepend(0.0, list_transform(list_sort(list_distinct(w)), " +
          "t -> (len(list_filter(w, x -> x = t)) * 1.0 / len(w)) * " +
          "ln(len(list_filter(w, x -> x = t)) * 1.0 / len(w)))), " +
          "(a, b) -> a + b) AS h FROM tok) " +
          "SELECT doc_id, n_tokens, n_types, round(h, 4) AS entropy FROM e")),

    /**
     * Related documents: top-3 neighbors per doc by exact n-gram
     * jaccard — the per-doc k-NN view of the shared posting-list
     * candidate generator (no threshold cut; rank cut on the heap
     * operator instead).
     */
    Query("text_jaccard_knn", (s, dir) => {
      val pairs = Dedup.ngramJaccardPairs(t(s, dir, "documents"), n = 5, threshold = 0.0)
      val sym = pairs.select(col("a_id").as("doc_id"), col("b_id").as("nbr_id"), col("jaccard"))
        .unionAll(pairs.select(col("b_id").as("doc_id"), col("a_id").as("nbr_id"), col("jaccard")))
      graft.relational.Relational.topKPerKey(sym,
        Seq(col("doc_id")), Seq(col("jaccard").desc, col("nbr_id").asc), 3)
    },
      // per-doc top-3 jaccard neighbors (rank cut, no threshold)
      oracle = ("WITH tok AS (SELECT doc_id, string_split(text, ' ') AS w FROM documents), " +
        "sh AS (SELECT DISTINCT doc_id, array_to_string(w[i:i+4], ' ') AS shingle " +
        "FROM tok, UNNEST(generate_series(1, greatest(len(w) - 4, 0))) AS t(i)), " +
        "sizes AS (SELECT doc_id, count(*) AS n FROM sh GROUP BY doc_id), " +
        "pr AS (SELECT a.doc_id AS a_id, b.doc_id AS b_id, count(*) AS inter " +
        "FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.doc_id < b.doc_id GROUP BY 1, 2), " +
        "j AS (SELECT a_id, b_id, round(inter * 1.0 / (sa.n + sb.n - inter), 4) AS jaccard " +
        "FROM pr JOIN sizes sa ON a_id = sa.doc_id JOIN sizes sb ON b_id = sb.doc_id), " +
        "sym AS (SELECT a_id AS doc_id, b_id AS nbr_id, jaccard FROM j " +
        "UNION ALL SELECT b_id, a_id, jaccard FROM j), " +
        "r AS (SELECT doc_id, nbr_id, jaccard, row_number() OVER " +
        "(PARTITION BY doc_id ORDER BY jaccard DESC, nbr_id) AS rn FROM sym) " +
        "SELECT doc_id, nbr_id, jaccard FROM r WHERE rn <= 3")),

    /** Per-doc duplication fraction: share of a doc's shingles seen in other docs. */
    Query("text_dup_fraction", (s, dir) =>
      Curation.dupFraction(t(s, dir, "documents")),
      // per-doc duplication fraction over distinct 5-gram shingles
      // (engine joins 8-byte shingle hashes; collision-free at fixture
      // scale, same assumption as the jaccard oracles)
      oracle = ("WITH tok AS (SELECT doc_id, string_split(text, ' ') AS w FROM documents), " +
        "sh AS (SELECT DISTINCT doc_id, array_to_string(w[i:i+4], ' ') AS shingle " +
        "FROM tok, UNNEST(generate_series(1, greatest(len(w) - 4, 0))) AS t(i)), " +
        "dfreq AS (SELECT shingle, count(*) AS df FROM sh GROUP BY 1), " +
        "j AS (SELECT sh.doc_id, dfreq.df FROM sh JOIN dfreq ON sh.shingle = dfreq.shingle) " +
        "SELECT doc_id, count(*) AS n_shingles, " +
        "CAST(sum(CASE WHEN df >= 2 THEN 1 ELSE 0 END) AS BIGINT) AS n_dup, " +
        "round(sum(CASE WHEN df >= 2 THEN 1 ELSE 0 END) * 1.0 / count(*), 4) AS dup_frac " +
        "FROM j GROUP BY doc_id")),

    /** Per-doc top-3 tf-idf keywords over the full vocabulary (Retrieval.keywordsTopK). */
    Query("text_keywords", (s, dir) =>
      Retrieval.keywordsTopK(t(s, dir, "documents"), k = 3),
      // full-vocabulary tf-idf keywords: tf and df CTEs, idf = ln((N+1)/(df+1))
      oracle =
        ("WITH tok AS (SELECT doc_id, unnest(string_split(lower(text), ' ')) AS term FROM documents), " +
          "tf AS (SELECT doc_id, term, count(*) AS tf FROM tok GROUP BY 1, 2), " +
          "dft AS (SELECT term, count(*) AS df FROM tf GROUP BY 1), " +
          "n AS (SELECT count(*) AS n_docs FROM documents), " +
          "sc AS (SELECT tf.doc_id, tf.term, tf.tf, " +
          "round(tf.tf * ln((n.n_docs + 1.0) / (dft.df + 1.0)), 6) AS tfidf " +
          "FROM tf JOIN dft USING (term) CROSS JOIN n), " +
          "r AS (SELECT *, row_number() OVER (PARTITION BY doc_id " +
          "ORDER BY tfidf DESC, term) AS rn FROM sc) " +
          "SELECT doc_id, term, tf, tfidf FROM r WHERE rn <= 3")),

    /** Corpus-trained unigram LM scoring: mean token NLL per doc (perplexity proxy). */
    // maxVocab=20 binds on the fixture's 31-type vocabulary — the
    // smoothed-OOV scoring path is verified against the DuckDB replay
    Query("text_lm_score", (s, dir) =>
      TextAnalysis.unigramLmScore(t(s, dir, "documents"), maxVocab = 20),
      // replays the capped LM: min-count floor + top-K vocabulary
      // (cnt DESC, tok ASC tie-break), dropped mass spread evenly over
      // dropped types as the OOV probability
      oracle = ("WITH tok AS (SELECT doc_id, unnest(string_split(lower(text), ' ')) AS tok " +
        "FROM documents), " +
        "freq AS (SELECT tok, count(*) AS cnt FROM tok GROUP BY tok), " +
        "tot AS (SELECT sum(cnt) AS total, count(*) AS vocab_all FROM freq), " +
        "kept AS (SELECT tok, cnt FROM freq WHERE cnt >= 2 " +
        "QUALIFY row_number() OVER (ORDER BY cnt DESC, tok) <= 20), " +
        "ks AS (SELECT sum(cnt) AS kept_total, count(*) AS kept_types FROM kept), " +
        "ov AS (SELECT total, " +
        "(total - kept_total) / (vocab_all - kept_types) / total AS p_oov " +
        "FROM tot, ks) " +
        "SELECT doc_id, count(*) AS n_tokens, " +
        "round(avg(CASE WHEN cnt IS NOT NULL THEN -ln(cnt / total) " +
        "ELSE -ln(p_oov) END), 4) AS nll " +
        "FROM tok LEFT JOIN kept USING (tok), ov GROUP BY doc_id")),

    /** Gopher rule census: per-source pass/fail counts for each quality gate. */
    Query("text_gopher_census", (s, dir) =>
      TextAnalysis.gopherCensus(t(s, dir, "documents")),
      oracle = gopherCensusSql),

    /**
     * HELD-OUT LM scoring: the LM trains on the md5-gate train split
     * (buckets 0-7) and scores the test split (bucket 9) — docs the LM
     * has never seen, so tokens absent from the training vocabulary
     * take the smoothed-OOV branch. This pins the held-out/OOV
     * arithmetic cross-engine, not just in unit tests.
     */
    Query("text_lm_heldout", (s, dir) => {
      val docs = t(s, dir, "documents")
      val bucket = md5lo64(concat(lit("split:"), col("doc_id").cast("string")))
        .bitwiseAND(lit(16383L)) % 10
      TextAnalysis.unigramLmScoreOn(
        docs.filter(bucket <= 7), docs.filter(bucket === 9), maxVocab = 20)
    },
      // the LM CTEs restricted to the train split; held-out tokens fall
      // to the OOV branch exactly as the engine's getOrElse does
      oracle = ("WITH tr AS (SELECT * FROM documents WHERE " +
        "(('0x'||substr(md5('split:'||doc_id), 13, 4))::UINTEGER % 16384) % 10 <= 7), " +
        "te AS (SELECT * FROM documents WHERE " +
        "(('0x'||substr(md5('split:'||doc_id), 13, 4))::UINTEGER % 16384) % 10 = 9), " +
        "tok AS (SELECT doc_id, unnest(string_split(lower(text), ' ')) AS tok FROM tr), " +
        "freq AS (SELECT tok, count(*) AS cnt FROM tok GROUP BY tok), " +
        "tot AS (SELECT sum(cnt) AS total, count(*) AS vocab_all FROM freq), " +
        "kept AS (SELECT tok, cnt FROM freq WHERE cnt >= 2 " +
        "QUALIFY row_number() OVER (ORDER BY cnt DESC, tok) <= 20), " +
        "ks AS (SELECT sum(cnt) AS kept_total, count(*) AS kept_types FROM kept), " +
        "ov AS (SELECT total, " +
        "(total - kept_total) / (vocab_all - kept_types) / total AS p_oov " +
        "FROM tot, ks), " +
        "ttok AS (SELECT doc_id, unnest(string_split(lower(text), ' ')) AS tok FROM te) " +
        "SELECT doc_id, count(*) AS n_tokens, " +
        "round(avg(CASE WHEN cnt IS NOT NULL THEN -ln(cnt / total) " +
        "ELSE -ln(p_oov) END), 4) AS nll " +
        "FROM ttok LEFT JOIN kept USING (tok), ov GROUP BY doc_id")),

    /** CCNet head/middle/tail perplexity buckets per language (LM capped as in text_lm_score). */
    Query("text_ppl_buckets", (s, dir) =>
      TextAnalysis.pplBuckets(t(s, dir, "documents"), maxVocab = 20),
      // replays the text_lm_score LM, then the tercile thresholds as
      // running counts over the per-(lang, nll) table
      oracle = ("WITH tok AS (SELECT doc_id, unnest(string_split(lower(text), ' ')) AS tok " +
        "FROM documents), " +
        "freq AS (SELECT tok, count(*) AS cnt FROM tok GROUP BY tok), " +
        "tot AS (SELECT sum(cnt) AS total, count(*) AS vocab_all FROM freq), " +
        "kept AS (SELECT tok, cnt FROM freq WHERE cnt >= 2 " +
        "QUALIFY row_number() OVER (ORDER BY cnt DESC, tok) <= 20), " +
        "ks AS (SELECT sum(cnt) AS kept_total, count(*) AS kept_types FROM kept), " +
        "ov AS (SELECT total, " +
        "(total - kept_total) / (vocab_all - kept_types) / total AS p_oov " +
        "FROM tot, ks), " +
        "scored AS (SELECT doc_id, " +
        "round(avg(CASE WHEN cnt IS NOT NULL THEN -ln(cnt / total) " +
        "ELSE -ln(p_oov) END), 4) AS nll " +
        "FROM tok LEFT JOIN kept USING (tok), ov GROUP BY doc_id), " +
        "sl AS (SELECT s.doc_id, d.lang, s.nll FROM scored s " +
        "JOIN documents d USING (doc_id)), " +
        "counts AS (SELECT lang, nll, count(*) AS c FROM sl GROUP BY 1, 2), " +
        "cum AS (SELECT lang, nll, c, " +
        "sum(c) OVER (PARTITION BY lang ORDER BY nll) AS cum FROM counts), " +
        "tot2 AS (SELECT lang, sum(c) AS n FROM counts GROUP BY 1), " +
        "thr AS (SELECT cum.lang, " +
        "min(CASE WHEN cum >= ceil(n / 3.0) THEN nll END) AS t1, " +
        "min(CASE WHEN cum >= ceil(n * 2.0 / 3.0) THEN nll END) AS t2 " +
        "FROM cum JOIN tot2 USING (lang) GROUP BY 1) " +
        "SELECT sl.lang, CASE WHEN nll <= t1 THEN 'head' " +
        "WHEN nll <= t2 THEN 'middle' ELSE 'tail' END AS bucket, " +
        "count(*) AS n_docs, round(avg(nll), 4) AS avg_nll " +
        "FROM sl JOIN thr ON sl.lang = thr.lang GROUP BY 1, 2")),

    /**
     * FUZZY decontamination: eval documents (every 50th id) flagged
     * against the training corpus by NEAR-duplicate jaccard (τ=0.5),
     * not exact n-gram hits — the paraphrase-contamination catch that
     * the exact-overlap report misses. Reuses the broadcast-batch
     * incremental-pairs machinery ([[Dedup.incrementalNearDupPairs]]):
     * the eval set broadcasts, the corpus never self-joins.
     */
    Query("text_decontaminate_fuzzy", (s, dir) => {
      val docs = t(s, dir, "documents")
      Dedup.incrementalNearDupPairs(
        docs.filter(col("doc_id") % 50 === 0),
        docs.filter(col("doc_id") % 50 =!= 0), n = 5, threshold = 0.5)
        .select(col("new_id").as("eval_id"), col("corpus_id").as("doc_id"),
          col("jaccard"))
    },
      oracle = ("WITH tok AS (SELECT doc_id, string_split(text, ' ') AS w FROM documents), " +
        "sh AS (SELECT DISTINCT doc_id, array_to_string(w[i:i+4], ' ') AS shingle " +
        "FROM tok, UNNEST(generate_series(1, greatest(len(w) - 4, 0))) AS t(i)), " +
        "sizes AS (SELECT doc_id, count(*) AS n FROM sh GROUP BY doc_id), " +
        "pairs AS (SELECT a.doc_id AS eval_id, b.doc_id AS did, count(*) AS inter " +
        "FROM sh a JOIN sh b ON a.shingle = b.shingle " +
        "AND a.doc_id % 50 = 0 AND b.doc_id % 50 != 0 GROUP BY 1, 2) " +
        "SELECT eval_id, did AS doc_id, " +
        "round(inter * 1.0 / (sa.n + sb.n - inter), 4) AS jaccard " +
        "FROM pairs JOIN sizes sa ON eval_id = sa.doc_id " +
        "JOIN sizes sb ON did = sb.doc_id " +
        "WHERE inter * 1.0 / (sa.n + sb.n - inter) >= 0.5")),

    /**
     * Benchmark decontamination: the eval set is every 50th document
     * (standing in for a benchmark suite); report training docs sharing
     * any 5-gram with it. At 100 TB the eval n-gram set broadcasts and
     * the corpus never shuffles (Curation.contaminationReport).
     */
    Query("text_decontaminate", (s, dir) => {
      val docs = t(s, dir, "documents")
      Curation.contaminationReport(
        docs.filter(col("doc_id") % 50 =!= 0),
        docs.filter(col("doc_id") % 50 === 0))
    },
      oracle = ("WITH tok AS (SELECT doc_id, string_split(text, ' ') AS w FROM documents), " +
        "sh AS (SELECT DISTINCT doc_id, array_to_string(w[i:i+4], ' ') AS shingle " +
        "FROM tok, UNNEST(generate_series(1, greatest(len(w) - 4, 0))) AS t(i)), " +
        "ev AS (SELECT DISTINCT shingle FROM sh WHERE doc_id % 50 = 0), " +
        "tr AS (SELECT * FROM sh WHERE doc_id % 50 != 0) " +
        "SELECT tr.doc_id, count(*) AS n_shared FROM tr " +
        "JOIN ev ON tr.shingle = ev.shingle GROUP BY tr.doc_id")),

    /** Overlapping token-window chunking (size 32, overlap 8). */
    Query("text_chunks", (s, dir) =>
      Curation.chunk(t(s, dir, "documents"), size = 32, overlap = 8)
        .select(col("doc_id"), col("chunk_id"), md5(col("chunk_text")).as("chunk_md5"),
          col("n_tokens")),
      oracle = ("WITH tok AS (SELECT doc_id, string_split(text, ' ') AS w FROM documents), " +
        "n AS (SELECT doc_id, w, " +
        "greatest(CAST(ceil((len(w) - 8) / 24.0) AS BIGINT), 1) AS nc FROM tok) " +
        "SELECT doc_id, i AS chunk_id, " +
        "md5(array_to_string(w[(i*24+1):(i*24+32)], ' ')) AS chunk_md5, " +
        "len(w[(i*24+1):(i*24+32)]) AS n_tokens " +
        "FROM n, UNNEST(generate_series(0, nc - 1)) t(i)")),

    /** Gopher-style repetition filters: dup-token / top-2-gram / top-3-gram fractions. */
    Query("text_repetition", (s, dir) =>
      Curation.repetitionSignals(t(s, dir, "documents")),
      oracle =
        ("WITH tok AS (SELECT doc_id, string_split(lower(text), ' ') AS w FROM documents), " +
          "g AS (SELECT doc_id, w, " +
          "[array_to_string(w[i:i+1], ' ') for i in generate_series(1, greatest(len(w)-1, 0))] AS g2, " +
          "[array_to_string(w[i:i+2], ' ') for i in generate_series(1, greatest(len(w)-2, 0))] AS g3 " +
          "FROM tok) " +
          "SELECT doc_id, len(w) AS n_tokens, " +
          "round((len(w) - len(list_distinct(w))) * 1.0 / len(w), 4) AS dup_token_frac, " +
          "CASE WHEN len(g2) > 0 THEN round(list_max([len(list_filter(g2, x -> x = d)) " +
          "for d in list_distinct(g2)]) * 1.0 / len(g2), 4) ELSE 0.0 END AS top2_frac, " +
          "CASE WHEN len(g3) > 0 THEN round(list_max([len(list_filter(g3, x -> x = d)) " +
          "for d in list_distinct(g3)]) * 1.0 / len(g3), 4) ELSE 0.0 END AS top3_frac " +
          "FROM g")),

    /**
     * PII redaction over a synthetic contact block appended to each doc
     * (the fixture corpus has no PII of its own): per-kind counts + the
     * scrubbed payload's md5.
     */
    Query("text_redact", (s, dir) => {
      val withPii = t(s, dir, "documents").withColumn("pii_text",
        concat(col("text"), lit(" contact user"), col("doc_id"),
          lit("@mail.example.com from 10."), col("doc_id") % 200,
          lit(".0.1 call 555-"), lit(1000) + col("doc_id") % 9000))
      Curation.redactionReport(withPii, textCol = "pii_text")
    },
      oracle = ("WITH p AS (SELECT doc_id, concat(text, ' contact user', doc_id, " +
        "'@mail.example.com from 10.', doc_id % 200, '.0.1 call 555-', " +
        "1000 + doc_id % 9000) AS s FROM documents) " +
        "SELECT doc_id, " +
        "CAST(len(regexp_extract_all(s, '[a-z0-9._]+@[a-z0-9.]+[a-z]')) AS BIGINT) AS n_emails, " +
        "CAST(len(regexp_extract_all(s, '[0-9]+\\.[0-9]+\\.[0-9]+\\.[0-9]+')) AS BIGINT) AS n_ips, " +
        "CAST(len(regexp_extract_all(s, '[0-9]{3}-[0-9]{4}')) AS BIGINT) AS n_phones, " +
        "md5(regexp_replace(regexp_replace(regexp_replace(s, " +
        "'[a-z0-9._]+@[a-z0-9.]+[a-z]', '<EMAIL>', 'g'), " +
        "'[0-9]+\\.[0-9]+\\.[0-9]+\\.[0-9]+', '<IP>', 'g'), " +
        "'[0-9]{3}-[0-9]{4}', '<PHONE>', 'g')) AS redacted_md5 FROM p")),
  )
}
