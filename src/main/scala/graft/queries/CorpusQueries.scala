package graft
package queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.Tables.t
import graft.core.Materialize.MaterializeOps
import graft.functions.TextFunctions._
import graft.operators.{Curation, Dedup, TextAnalysis}
import graft.queries.OracleSql._

/**
 * Corpus curation (`corpus_*`) and the end-to-end curation pipelines
 * (`pipeline_*`): sampling, mixing, splitting, packing, snapshot
 * deltas and datasheets.
 */
private[queries] object CorpusQueries {

  /** The hash-carved recrawl snapshots shared by corpus_diff / corpus_incr_stats. */
  private def snapshots(s: SparkSession, dir: String): (DataFrame, DataFrame) = {
    val bk = md5lo64(concat(lit("snap:"), col("doc_id").cast("string")))
      .bitwiseAND(lit(16383L))
    val base = t(s, dir, "documents")
      .select(col("doc_id"), col("source"), col("text"), bk.as("__bk"))
    val prev = base.filter(col("__bk") % 20 =!= 0)
      .select(col("doc_id"), col("source"), col("text"))
    val next = base.filter(col("__bk") % 23 =!= 1)
      .select(col("doc_id"), col("source"),
        when(col("__bk") % 17 === 2, concat(col("text"), lit(" [updated]")))
          .otherwise(col("text")).as("text"))
    (prev, next)
  }

  /** Recursive-closure derived table: doc_ids dropped as non-representative near-dups. */
  private lazy val droppedSql: String =
    "(WITH RECURSIVE tok AS (SELECT doc_id, string_split(text, ' ') AS w FROM documents), " +
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
      "SELECT u AS doc_id FROM reach GROUP BY u HAVING least(u, min(v)) < u)"

  val all: Seq[Query] = Seq(
    /**
     * The composed INGEST DECISION — what a crawler actually runs per
     * batch, as one statement: each arriving doc gets ONE verdict with
     * fixed priority — exact duplicate of the corpus > near-duplicate
     * (jaccard ≥ 0.7 against the standing corpus) > low quality
     * (composite score < 0.5) > accepted. Exact/near flags are
     * batch-sized broadcasts onto the batch scan; quality is a
     * scan-stage column; the corpus contributes one distinct-text pass
     * and the shingle probe — nothing corpus-sized ever shuffles twice.
     */
    Query("pipeline_ingest", (s, dir) => {
      val docs = t(s, dir, "documents")
      val cut = (docs.agg(max("doc_id")).head.getLong(0) + 1L) * 9L / 10L
      Curation.ingestDecision(
        docs.filter(col("doc_id") >= cut), docs.filter(col("doc_id") < cut))
    },
      // the composed ingest decision: exact > near > quality > accepted,
      // each branch the same replay as its standalone oracle
      oracle = ("WITH cut AS (SELECT (max(doc_id) + 1) * 9 // 10 AS c FROM documents), " +
        "b AS (SELECT doc_id, text FROM documents, cut WHERE doc_id >= c), " +
        "ct AS (SELECT DISTINCT text FROM documents, cut WHERE doc_id < c), " +
        "tok AS (SELECT doc_id, string_split(text, ' ') AS w FROM documents), " +
        "sh AS (SELECT DISTINCT doc_id, array_to_string(w[i:i+4], ' ') AS shingle " +
        "FROM tok, UNNEST(generate_series(1, greatest(len(w) - 4, 0))) t(i)), " +
        "sizes AS (SELECT doc_id, count(*) AS n FROM sh GROUP BY doc_id), " +
        "pr AS (SELECT a.doc_id AS new_id, b2.doc_id AS corpus_id, count(*) AS inter " +
        "FROM sh a JOIN sh b2 ON a.shingle = b2.shingle, cut " +
        "WHERE a.doc_id >= cut.c AND b2.doc_id < cut.c GROUP BY 1, 2), " +
        "near AS (SELECT DISTINCT new_id FROM pr " +
        "JOIN sizes sa ON new_id = sa.doc_id JOIN sizes sb ON corpus_id = sb.doc_id " +
        "WHERE inter * 1.0 / (sa.n + sb.n - inter) >= 0.7), " +
        "q AS (SELECT doc_id, " +
        "round(least(len(string_split(lower(text), ' ')) / 64.0, 1.0) * 0.4 " +
        "+ least(round(len(list_filter(string_split(lower(text), ' '), x -> x IN " +
        stopwordsSql + ")) * 1.0 / len(string_split(lower(text), ' ')), 4) * 5.0, 1.0) * 0.2 " +
        "+ round(len(list_distinct(string_split(lower(text), ' '))) * 1.0 / " +
        "len(string_split(lower(text), ' ')), 4) * 0.4, 6) AS quality FROM b) " +
        "SELECT b.doc_id, CASE WHEN b.text IN (SELECT text FROM ct) THEN 'dup_exact' " +
        "WHEN b.doc_id IN (SELECT new_id FROM near) THEN 'near_dup' " +
        "WHEN q.quality < 0.5 THEN 'low_quality' ELSE 'accepted' END AS verdict, " +
        "q.quality FROM b JOIN q USING (doc_id)")),

    /**
     * The composed LLM training-data pipeline in one query: quality
     * gate + language gate + near-dup removal, rolled up per source —
     * every stage is the oracled operator used elsewhere, chained.
     */
    Query("pipeline_filter", (s, dir) => {
      val docs = t(s, dir, "documents")
      // quality and language are narrow per-row expressions — attach them as
      // columns on the deduped scan instead of joining them back by doc_id
      // (saves two shuffled joins over the full corpus).
      Dedup.dropNearDups(docs, n = 5, threshold = 0.7)
        .withColumn("quality", TextAnalysis.qualityCol(col("text")))
        .withColumn("pred_lang", TextAnalysis.predLangCol(col("text")))
        .filter(col("quality") >= 0.5 && col("pred_lang") === "en")
        .groupBy("source")
        .agg(count("*").as("n_docs"), round(avg("quality"), 4).as("avg_quality"))
    },
      // the composed training-data pipeline: quality + language gates,
      // near-dup removal, per-source rollup
      oracle = ("SELECT d.source, count(*) AS n_docs, round(avg(q.quality), 4) AS avg_quality " +
        "FROM documents d " +
        "JOIN (" + qualitySql + ") q ON d.doc_id = q.doc_id " +
        "JOIN (" + langidSql + ") l ON d.doc_id = l.doc_id " +
        "WHERE q.quality >= 0.5 AND l.pred_lang = 'en' " +
        "AND d.doc_id NOT IN (SELECT doc_id FROM " + droppedSql + " dr) " +
        "GROUP BY d.source")),

    /** Publishing layout: per-shard manifest (counts, sums, xor id checksum) off the md5 shard gate. */
    Query("corpus_shard_manifest", (s, dir) =>
      Curation.shardManifest(t(s, dir, "documents"), nShards = 16),
      // the shard gate is the corpus_split md5-bucket idiom; the xor
      // checksum wraps the unsigned md5 prefix back to signed two's
      // complement so both engines land on the same BIGINT
      oracle =
        ("SELECT CAST((('0x'||substr(md5('shard:'||doc_id), 13, 4))::UINTEGER % 16384) % 16 AS BIGINT) AS shard, " +
          "count(*) AS n_docs, " +
          "CAST(sum(len(string_split(lower(text), ' '))) AS BIGINT) AS n_tokens, " +
          "CAST(sum(length(text)) AS BIGINT) AS n_chars, " +
          wrapSigned("bit_xor(('0x'||substr(md5(doc_id::VARCHAR), 1, 16))::UBIGINT)") +
          " AS id_checksum FROM documents GROUP BY 1")),

    /**
     * Deterministic train/val/test split (8/1/1) by content-independent
     * id hash — the reproducible-split step every training pipeline
     * runs. Same md5 discipline as the samplers: split = low bits of
     * md5("split:"+id) mod 10, so membership never changes as the
     * corpus grows and any engine reproduces it.
     */
    Query("corpus_split", (s, dir) => {
      val bucket = md5lo64(concat(lit("split:"), col("doc_id").cast("string")))
        .bitwiseAND(lit(16383L)) % 10
      t(s, dir, "documents")
        .withColumn("split",
          when(bucket <= 7, "train").when(bucket === 8, "val").otherwise("test"))
        .groupBy("source", "split")
        .agg(count(lit(1)).as("n_docs"),
          sum(size(split(lower(col("text")), " ")).cast("long")).as("n_tokens"))
    },
      // deterministic 8/1/1 split: low 14 bits of md5("split:"+id) mod 10
      oracle = ("SELECT source, CASE " +
        "WHEN (('0x'||substr(md5('split:'||doc_id), 13, 4))::UINTEGER % 16384) % 10 <= 7 THEN 'train' " +
        "WHEN (('0x'||substr(md5('split:'||doc_id), 13, 4))::UINTEGER % 16384) % 10 = 8 THEN 'val' " +
        "ELSE 'test' END AS split, count(*) AS n_docs, " +
        "CAST(sum(len(string_split(lower(text), ' '))) AS BIGINT) AS n_tokens " +
        "FROM documents GROUP BY 1, 2")),

    /**
     * Exact stratified split (Curation.stratifiedSplit): every source's
     * 80/10/10 allocation is within one row of exact (vs the
     * hash-bucket split's binomial noise). The shuffle key is
     * md5('ssplit:'||doc_id) — deterministic, unordered, identically
     * computable by the oracle's row_number replay.
     */
    Query("corpus_split_stratified", (s, dir) =>
      Curation.stratifiedSplit(t(s, dir, "documents"), col("source"),
          md5(concat(lit("ssplit:"), col("doc_id").cast("string"))),
          Seq("train" -> 0.8, "val" -> 0.1, "test" -> 0.1))
        .groupBy("source", "split")
        .agg(count(lit(1)).as("n_docs")),
      oracle = ("WITH r AS (SELECT source, " +
        "row_number() OVER (PARTITION BY source ORDER BY md5('ssplit:'||doc_id)) AS rn, " +
        "count(*) OVER (PARTITION BY source) AS n FROM documents) " +
        "SELECT source, CASE WHEN rn <= floor(0.8 * n) THEN 'train' " +
        "WHEN rn <= floor(0.9 * n) THEN 'val' ELSE 'test' END AS split, " +
        "count(*) AS n_docs FROM r GROUP BY 1, 2")),

    /**
     * Recrawl snapshot delta: two snapshots carved deterministically out
     * of `documents` by the md5("snap:"+id) bucket (prev drops bucket%20=0,
     * next drops bucket%23=1 and rewrites text for bucket%17=2), then
     * [[graft.operators.Curation.snapshotDiff]] classifies every id as
     * added/removed/changed/unchanged off (id, content-hash) projections —
     * the join never moves document text. Output: per-source status counts.
     */
    Query("corpus_diff", (s, dir) => {
      val (prev, next) = snapshots(s, dir)
      Curation.snapshotDiff(prev.select("doc_id", "text"),
          next.select("doc_id", "text"), "doc_id", Seq("text"))
        .join(t(s, dir, "documents").select(col("doc_id"), col("source")), "doc_id")
        .groupBy("source", "status")
        .agg(count(lit(1)).as("n_docs"))
    },
      // recrawl delta: full-outer join of the two hash-carved snapshots on
      // (id, md5(text)) projections, statuses counted per source
      oracle = ("WITH b AS (SELECT doc_id, source, text, " +
        "(('0x'||substr(md5('snap:'||doc_id), 13, 4))::UINTEGER % 16384) AS bk FROM documents), " +
        "prev AS (SELECT doc_id, md5(text) AS h FROM b WHERE bk % 20 != 0), " +
        "nxt AS (SELECT doc_id, md5(CASE WHEN bk % 17 = 2 THEN text || ' [updated]' " +
        "ELSE text END) AS h FROM b WHERE bk % 23 != 1), " +
        "d AS (SELECT coalesce(p.doc_id, n.doc_id) AS doc_id, " +
        "CASE WHEN p.doc_id IS NULL THEN 'added' WHEN n.doc_id IS NULL THEN 'removed' " +
        "WHEN p.h != n.h THEN 'changed' ELSE 'unchanged' END AS status " +
        "FROM prev p FULL OUTER JOIN nxt n ON p.doc_id = n.doc_id) " +
        "SELECT b.source, d.status, count(*) AS n_docs " +
        "FROM d JOIN b USING (doc_id) GROUP BY 1, 2")),

    /**
     * Materialized-view maintenance: per-source stats of the `next`
     * snapshot produced by merging the `prev` view with delta-only
     * aggregates ([[graft.operators.Curation.incrementalStats]]); the
     * oracle aggregates `next` directly — equality proves the
     * incremental algebra end-to-end.
     */
    Query("corpus_incr_stats", (s, dir) => {
      val (prev, next) = snapshots(s, dir)
      Curation.incrementalStats(prev, next)
    },
      // incremental-maintenance proof: the oracle aggregates the next
      // snapshot DIRECTLY; the engine merges the prev view with delta aggs
      oracle = ("WITH b AS (SELECT doc_id, source, text, " +
        "(('0x'||substr(md5('snap:'||doc_id), 13, 4))::UINTEGER % 16384) AS bk FROM documents), " +
        "nxt AS (SELECT doc_id, source, CASE WHEN bk % 17 = 2 THEN text || ' [updated]' " +
        "ELSE text END AS text FROM b WHERE bk % 23 != 1) " +
        "SELECT source, count(*) AS n_docs, " +
        "CAST(sum(len(string_split(lower(text), ' '))) AS BIGINT) AS n_tokens " +
        "FROM nxt GROUP BY 1")),

    /**
     * CDC APPLY (MERGE INTO semantics): the recrawl delta between the
     * two hash-carved snapshots — deletes (ids leaving), upserts (ids
     * arriving or rewritten) — applied to the prev snapshot via
     * [[graft.operators.Curation.applyDelta]]. The oracle constructs
     * the next snapshot DIRECTLY: equality proves the merge reproduces
     * the target table from base + delta, the warehouse upsert
     * contract. The anti-join's right side is the delta's id set
     * (broadcasts at any corpus size); document text never shuffles.
     */
    Query("corpus_apply_delta", (s, dir) => {
      val (prev, next) = snapshots(s, dir)
      val bk = md5lo64(concat(lit("snap:"), col("doc_id").cast("string")))
        .bitwiseAND(lit(16383L))
      val dels = prev.withColumn("__bk", bk).filter(col("__bk") % 23 === 1)
        .select(col("doc_id"), col("source"), col("text"), lit("D").as("op"))
      val upserts = next.withColumn("__bk", bk)
        .filter(col("__bk") % 20 === 0 || col("__bk") % 17 === 2)
        .select(col("doc_id"), col("source"), col("text"), lit("U").as("op"))
      Curation.applyDelta(prev, dels.unionByName(upserts))
        .select(col("doc_id"), col("source"), md5(col("text")).as("text_md5"))
    },
      // CDC apply: the oracle builds the next snapshot directly; the
      // engine reproduces it by merging prev with the delete/upsert delta
      oracle = ("WITH b AS (SELECT doc_id, source, text, " +
        "(('0x'||substr(md5('snap:'||doc_id), 13, 4))::UINTEGER % 16384) AS bk FROM documents), " +
        "nxt AS (SELECT doc_id, source, CASE WHEN bk % 17 = 2 THEN text || ' [updated]' " +
        "ELSE text END AS text FROM b WHERE bk % 23 != 1) " +
        "SELECT doc_id, source, md5(text) AS text_md5 FROM nxt")),

    /**
     * Weighted sample: 20 docs per source, probability ∝ token count,
     * via deterministic A-ES ([[graft.operators.Curation.weightedSample]]);
     * the round6'd ranking key is part of the output so the oracle pins
     * the key arithmetic, not just membership.
     */
    Query("corpus_weighted_sample", (s, dir) =>
      Curation.weightedSample(t(s, dir, "documents"), k = 20,
          weight = size(split(lower(col("text")), " ")))
        .select(col("source"), col("doc_id"), col("ws_key")),
      // A-ES weighted sample: u from the low-63 md5 bits, key=round6(ln(u)/w),
      // top-20 per source by (key DESC, doc_id) — selection and key replay
      oracle = ("WITH w AS (SELECT source, doc_id, " +
        "greatest(len(string_split(lower(text), ' '))::DOUBLE, 1.0) AS wt, " +
        "((" + md5u("'ws:'||doc_id") + " & 9223372036854775807::UBIGINT)::DOUBLE + 1.0) " +
        "/ 9.223372036854776e18 AS u FROM documents), " +
        "r AS (SELECT source, doc_id, round(ln(u)/wt, 6) AS ws_key, " +
        "row_number() OVER (PARTITION BY source " +
        "ORDER BY round(ln(u)/wt, 6) DESC, doc_id) AS rn FROM w) " +
        "SELECT source, doc_id, ws_key FROM r WHERE rn <= 20")),

    /** DSIR resampling over the oracled importance weights (rate 0.5, hash gate). */
    Query("corpus_resample", (s, dir) => {
      val docs = t(s, dir, "documents")
      Curation.importanceResample(docs, docs.filter(col("doc_id") % 50 === 0),
        rate = 0.5, maxVocab = 20)
    },
      // DSIR resampling: accept if md5-gate < floor(round6(p)·16384),
      // p = min(1, 0.5·e^w / round6(mean e^w)) over the replayed weights
      oracle = ("WITH imp AS (" + importanceSql + "), " +
        "m AS (SELECT round(avg(exp(importance)), 6) AS mex FROM imp), " +
        "g AS (SELECT i.doc_id, i.importance FROM imp i, m " +
        "WHERE (('0x'||substr(md5('rs:'||i.doc_id), 1, 16))::UBIGINT & 16383)::BIGINT " +
        "< floor(round(least(1.0, 0.5 * exp(i.importance) / m.mex), 6) * 16384)) " +
        "SELECT d.source, count(*) AS n_kept, " +
        "round(avg(g.importance), 4) AS avg_importance " +
        "FROM g JOIN documents d USING (doc_id) GROUP BY d.source")),

    /** First 100 positions of the deterministic round-robin source interleave. */
    Query("corpus_interleave", (s, dir) =>
      Curation.interleaveBySource(t(s, dir, "documents"))
        .orderBy("pos").limit(100),
      // deterministic round-robin interleave: pos = (rank-1)*|sources|+sidx
      oracle = ("WITH s AS (SELECT source, row_number() OVER (ORDER BY source) - 1 AS sidx " +
        "FROM (SELECT DISTINCT source FROM documents)), " +
        "n AS (SELECT count(*) AS nsrc FROM s), " +
        "r AS (SELECT doc_id, source, row_number() OVER " +
        "(PARTITION BY source ORDER BY doc_id) AS rr FROM documents) " +
        "SELECT (rr - 1) * nsrc + sidx AS pos, doc_id, source " +
        "FROM r JOIN s USING(source), n ORDER BY pos LIMIT 100")),

    /** Per-source KL divergence against the corpus unigram distribution. */
    Query("corpus_source_kl", (s, dir) =>
      Curation.sourceDivergence(t(s, dir, "documents")),
      // per-source unigram KL drift vs the corpus distribution
      oracle =
        ("WITH tok AS (SELECT source, unnest(string_split(lower(text), ' ')) AS t FROM documents), " +
          "st AS (SELECT source, t, count(*) AS c_st FROM tok GROUP BY 1, 2), " +
          "stot AS (SELECT source, CAST(sum(c_st) AS BIGINT) AS n_tokens, " +
          "count(*) AS n_types FROM st GROUP BY 1), " +
          "ct AS (SELECT t, count(*) AS c_t FROM tok GROUP BY 1), " +
          "tot AS (SELECT CAST(sum(c_t) AS DOUBLE) AS tot FROM ct) " +
          "SELECT st.source, stot.n_tokens, stot.n_types, " +
          "round(sum((c_st * 1.0 / stot.n_tokens) * " +
          "ln((c_st * 1.0 / stot.n_tokens) / (c_t / tot.tot))), 4) AS kl " +
          "FROM st JOIN stot USING(source) JOIN ct USING(t), tot GROUP BY 1, 2, 3")),

    /** Source×source shared-shingle matrix (cross-source contamination governance). */
    Query("corpus_overlap_matrix", (s, dir) =>
      Curation.sourceOverlapMatrix(t(s, dir, "documents")),
      // source×source distinct-shared-shingle counts
      oracle = ("WITH tok AS (SELECT source, string_split(text, ' ') AS w FROM documents), " +
        "sh AS (SELECT DISTINCT source, array_to_string(w[i:i+4], ' ') AS shingle " +
        "FROM tok, UNNEST(generate_series(1, greatest(len(w) - 4, 0))) AS t(i)) " +
        "SELECT a.source AS source_a, b.source AS source_b, count(*) AS n_shared " +
        "FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.source < b.source " +
        "GROUP BY 1, 2")),

    /**
     * Per-source quality gate as a rank cut ("keep the 25 best docs of
     * every source"): the discrete form of top-p% filtering — exact
     * cross-engine (no interpolated-percentile float hazard) and it
     * runs on the custom two-phase heap operator: map-side per-source
     * heaps, then one exchange of ≤ k·sources rows — never a global or
     * per-partition sort of the corpus.
     */
    Query("corpus_quality_topk", (s, dir) => {
      val docs = t(s, dir, "documents")
        .withColumn("quality", TextAnalysis.qualityCol(col("text")))
      graft.relational.Relational.topKPerKey(
        docs,
        keys = Seq(col("source")),
        order = Seq(col("quality").desc, col("doc_id").asc),
        k = 25)
        .select(col("source"), col("doc_id"), col("quality"))
    },
      // per-source rank cut (the discrete top-p% quality gate)
      oracle =
        ("WITH src AS (SELECT d.source, qq.doc_id, qq.quality FROM (" + qualitySql + ") qq " +
          "JOIN documents d ON qq.doc_id = d.doc_id), " +
          "r AS (SELECT source, doc_id, quality, row_number() OVER " +
          "(PARTITION BY source ORDER BY quality DESC, doc_id) AS rn FROM src) " +
          "SELECT source, doc_id, quality FROM r WHERE rn <= 25")),

    /**
     * Per-domain contribution cap (the RefinedWeb/C4 "no domain may
     * contribute more than N docs" rule): keep a deterministic random
     * N per source — priority is an md5 gate, so the kept set is stable
     * under re-runs and the cut is unbiased within each domain. Runs on
     * the two-phase heap operator: map-side per-source heaps, one
     * exchange of ≤ k·sources rows — never a per-domain sort of the
     * corpus (at 100 TB a domain can be billions of rows; the heap
     * carries k).
     */
    Query("corpus_domain_cap", (s, dir) => {
      val docs = t(s, dir, "documents")
        .withColumn("pri", md5lo64(concat(lit("cap:"), col("doc_id").cast("string")))
          .bitwiseAND(lit(16383L)))
      graft.relational.Relational.topKPerKey(
        docs,
        keys = Seq(col("source")),
        order = Seq(col("pri").asc, col("doc_id").asc),
        k = 15)
        .select(col("source"), col("doc_id"))
    },
      // per-domain cap: deterministic-random keep-N per source
      oracle = ("WITH k AS (SELECT source, doc_id, " +
        "(('0x'||substr(md5('cap:'||doc_id), 1, 16))::UBIGINT & 16383) AS pri FROM documents), " +
        "r AS (SELECT source, doc_id, row_number() OVER " +
        "(PARTITION BY source ORDER BY pri, doc_id) AS rn FROM k) " +
        "SELECT source, doc_id FROM r WHERE rn <= 15")),

    /**
     * Per-domain TOKEN-budget cap — the cap real corpus specs state
     * ("≤ N tokens per domain", not doc counts): greedy fill in
     * deterministic-random priority order, soft-capped (the crossing
     * doc admits). Runs on [[graft.operators.Curation.domainTokenCap]]:
     * a distributed global prefix sum over the (source, pri, id) total
     * order + broadcast per-source base offsets — a billion-doc domain
     * spans partitions instead of collapsing into one task's window.
     */
    Query("corpus_domain_token_cap", (s, dir) =>
      Curation.domainTokenCap(t(s, dir, "documents"), budgetTokens = 500L)
        .groupBy("source")
        .agg(count(lit(1)).as("n_docs"), sum(col("ntok")).as("n_tokens")),
      // token-budget cap: exclusive prefix sum in priority order, soft
      // cap (the crossing doc admits)
      oracle = ("WITH k AS (SELECT source, doc_id, " +
        "(('0x'||substr(md5('cap:'||doc_id), 1, 16))::UBIGINT & 16383) AS pri, " +
        "len(string_split(lower(text), ' ')) AS ntok FROM documents), " +
        "r AS (SELECT source, ntok, coalesce(sum(ntok) OVER " +
        "(PARTITION BY source ORDER BY pri, doc_id " +
        "ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS tok_before FROM k) " +
        "SELECT source, count(*) AS n_docs, CAST(sum(ntok) AS BIGINT) AS n_tokens " +
        "FROM r WHERE tok_before < 500 GROUP BY source")),

    /**
     * Deterministic EPOCH SHUFFLE: the training-order materializer.
     * Every (epoch, doc) pair hashes to a shard and a within-shard
     * position — different order every epoch, bit-reproducible from the
     * seed string alone, and shard files are built with one exchange on
     * (epoch, shard) + a per-shard sort (shard count is chosen so a
     * shard fits an executor — the WebDataset/Megatron shard-building
     * shape; there is never a global sort of the corpus).
     */
    Query("corpus_epoch_shuffle", (s, dir) =>
      Curation.epochShuffle(t(s, dir, "documents"), epochs = 2, shards = 8),
      // epoch shuffle: (epoch, doc) → shard + in-shard position, md5-driven
      oracle = ("WITH e AS (SELECT 0 AS epoch UNION ALL SELECT 1), " +
        "a AS (SELECT d.doc_id, e.epoch, " +
        "(('0x'||substr(md5('ep'||e.epoch||':'||d.doc_id), 1, 16))::UBIGINT & 16383) AS h " +
        "FROM documents d CROSS JOIN e) " +
        "SELECT CAST(epoch AS BIGINT) AS epoch, CAST(h % 8 AS BIGINT) AS shard, " +
        "CAST(row_number() OVER (PARTITION BY epoch, h % 8 ORDER BY h, doc_id) AS BIGINT) AS pos, " +
        "doc_id FROM a")),

    /**
     * CURRICULUM ordering: within each training shard, higher-quality
     * docs come first (descending quality band, hash-shuffled within a
     * band so a band is not source-ordered) — the quality-curriculum
     * schedule. Same scale shape as the epoch shuffle: one exchange on
     * the shard, per-shard sorts, quality computed as a scan column.
     */
    Query("corpus_curriculum", (s, dir) => {
      val docs = t(s, dir, "documents")
        .select(col("doc_id"),
          floor(TextAnalysis.qualityCol(col("text")) * 4).cast("long").as("band"),
          md5lo64(concat(lit("cur:"), col("doc_id").cast("string")))
            .bitwiseAND(lit(16383L)).as("h"))
        .withColumn("shard", pmod(col("h"), lit(8L)))
      val w = Window.partitionBy("shard")
        .orderBy(col("band").desc, col("h"), col("doc_id"))
      docs.withColumn("pos", row_number().over(w).cast("long"))
        .select(col("shard"), col("pos"), col("band"), col("doc_id"))
    },
      // curriculum: per-shard positions by (quality band desc, hash)
      oracle = ("WITH q AS (" + qualitySql + "), " +
        "k AS (SELECT doc_id, CAST(floor(q.quality * 4) AS BIGINT) AS band, " +
        "(('0x'||substr(md5('cur:'||doc_id), 1, 16))::UBIGINT & 16383) AS h FROM q) " +
        "SELECT CAST(h % 8 AS BIGINT) AS shard, " +
        "CAST(row_number() OVER (PARTITION BY h % 8 " +
        "ORDER BY band DESC, h, doc_id) AS BIGINT) AS pos, band, doc_id FROM k")),

    /**
     * The composed TRAIN-PREP pipeline — quality gate → per-domain cap
     * → deterministic shard assignment → per-shard manifest, the
     * end-to-end "corpus in, training shards out" chain. Every stage
     * keeps its scale shape when composed: the quality gate is a scan
     * column (no join), the cap runs on the two-phase heap (k·sources
     * rows out), the shard hash is one exchange, and the manifest is a
     * bounded aggregate — so the whole pipeline is two narrow-output
     * shuffles end to end regardless of corpus size. The oracle replays
     * the entire chain.
     */
    Query("pipeline_train_prep", (s, dir) => {
      // token counts project in the scan stage so the heap carries
      // (source, doc_id, pri, ntok) — text never leaves the scan (at
      // real cap sizes a heap of full documents is the memory bill)
      val docs = t(s, dir, "documents")
        .filter(TextAnalysis.qualityCol(col("text")) >= 0.5)
        .select(col("source"), col("doc_id"),
          md5lo64(concat(lit("cap:"), col("doc_id").cast("string")))
            .bitwiseAND(lit(16383L)).as("pri"),
          size(split(lower(col("text")), " ")).cast("long").as("ntok"))
      val capped = graft.relational.Relational.topKPerKey(docs,
        Seq(col("source")), Seq(col("pri").asc, col("doc_id").asc), k = 15)
      capped
        .withColumn("shard", pmod(md5lo64(concat(lit("ep0:"), col("doc_id").cast("string")))
          .bitwiseAND(lit(16383L)), lit(8L)))
        .groupBy("shard")
        .agg(count(lit(1)).as("n_docs"), sum(col("ntok")).as("n_tokens"))
    },
      // the full train-prep chain replayed: quality CTE → per-source
      // rank cap → md5 shard hash → per-shard manifest
      oracle = ("WITH q AS (" + qualitySql + "), " +
        "g AS (SELECT d.doc_id, d.source, d.text, " +
        "(('0x'||substr(md5('cap:'||d.doc_id), 1, 16))::UBIGINT & 16383) AS pri " +
        "FROM documents d JOIN q ON d.doc_id = q.doc_id WHERE q.quality >= 0.5), " +
        "c AS (SELECT *, row_number() OVER (PARTITION BY source ORDER BY pri, doc_id) AS rn FROM g), " +
        "sh AS (SELECT doc_id, text, " +
        "(('0x'||substr(md5('ep0:'||doc_id), 1, 16))::UBIGINT & 16383) % 8 AS shard " +
        "FROM c WHERE rn <= 15) " +
        "SELECT CAST(shard AS BIGINT) AS shard, count(*) AS n_docs, " +
        "CAST(sum(len(string_split(lower(text), ' '))) AS BIGINT) AS n_tokens " +
        "FROM sh GROUP BY 1")),

    /**
     * The composed CCNet curation pipeline in ONE statement: predict
     * language (marker heuristic, a scan column), perplexity-score
     * against the corpus LM, tercile-bucket per PREDICTED language,
     * keep head+middle — reporting per-language doc counts, kept
     * counts, and the kept set's mean NLL. The decision path an actual
     * CCNet run takes, end-to-end: every stage is the narrow/broadcast
     * shape of its standalone operator.
     */
    Query("pipeline_ccnet", (s, dir) => {
      val docs = t(s, dir, "documents")
        .withColumn("pred_lang", TextAnalysis.predLangCol(col("text")))
      TextAnalysis.pplBucketed(docs, langCol = "pred_lang", maxVocab = 20)
        .withColumn("keep", col("bucket").isin("head", "middle"))
        .groupBy("pred_lang")
        .agg(count(lit(1)).as("n_docs"),
          count(when(col("keep"), 1)).as("n_kept"),
          round(avg(when(col("keep"), col("nll"))), 4).as("kept_avg_nll"))
    },
      // the composed CCNet decision: langid CTE + the capped-LM scoring
      // + per-predicted-language terciles + keep head+middle
      oracle = ("WITH lang AS (" + langidSql + "), " +
        "tok AS (SELECT doc_id, unnest(string_split(lower(text), ' ')) AS tok " +
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
        "sl AS (SELECT s.doc_id, l.pred_lang, s.nll FROM scored s " +
        "JOIN lang l USING (doc_id)), " +
        "counts AS (SELECT pred_lang, nll, count(*) AS c FROM sl GROUP BY 1, 2), " +
        "cum AS (SELECT pred_lang, nll, c, " +
        "sum(c) OVER (PARTITION BY pred_lang ORDER BY nll) AS cum FROM counts), " +
        "tot2 AS (SELECT pred_lang, sum(c) AS n FROM counts GROUP BY 1), " +
        "thr AS (SELECT cum.pred_lang, " +
        "min(CASE WHEN cum >= ceil(n / 3.0) THEN nll END) AS t1, " +
        "min(CASE WHEN cum >= ceil(n * 2.0 / 3.0) THEN nll END) AS t2 " +
        "FROM cum JOIN tot2 USING (pred_lang) GROUP BY 1), " +
        "b AS (SELECT sl.pred_lang, sl.nll, " +
        "CASE WHEN nll <= t1 THEN 'head' WHEN nll <= t2 THEN 'middle' " +
        "ELSE 'tail' END AS bucket " +
        "FROM sl JOIN thr ON sl.pred_lang = thr.pred_lang) " +
        "SELECT pred_lang, count(*) AS n_docs, " +
        "count(*) FILTER (bucket IN ('head', 'middle')) AS n_kept, " +
        "round(avg(nll) FILTER (bucket IN ('head', 'middle')), 4) AS kept_avg_nll " +
        "FROM b GROUP BY 1")),

    /**
     * The decontamination DECISION end-to-end: drop training docs hit
     * by EITHER the exact n-gram overlap report (n_shared ≥ 3) or the
     * fuzzy near-dup screen (jaccard ≥ 0.5 to any eval doc), then roll
     * up retention per source — the gate a training pipeline runs
     * before packing, composed from the two oracled detectors.
     */
    Query("pipeline_decontaminate", (s, dir) => {
      val docs = t(s, dir, "documents")
      val train = docs.filter(col("doc_id") % 50 =!= 0)
      val evalDocs = docs.filter(col("doc_id") % 50 === 0)
      val exactHits = Curation.contaminationReport(train, evalDocs)
        .filter(col("n_shared") >= 3).select("doc_id")
      val fuzzyHits = Dedup.incrementalNearDupPairs(evalDocs, train,
        n = 5, threshold = 0.5).select(col("corpus_id").as("doc_id"))
      val dropped = exactHits.unionByName(fuzzyHits).distinct()
      train.join(dropped, Seq("doc_id"), "left_anti")
        .groupBy("source").agg(count(lit(1)).as("n_kept"))
        .join(train.groupBy("source").agg(count(lit(1)).as("n_total")), "source")
        .select(col("source"), col("n_kept"), col("n_total"),
          round(col("n_kept") * lit(1.0) / col("n_total"), 4).as("retention"))
    },
      oracle = ("WITH tok AS (SELECT doc_id, string_split(text, ' ') AS w FROM documents), " +
        "sh AS (SELECT DISTINCT doc_id, array_to_string(w[i:i+4], ' ') AS shingle " +
        "FROM tok, UNNEST(generate_series(1, greatest(len(w) - 4, 0))) AS t(i)), " +
        "ev AS (SELECT DISTINCT shingle FROM sh WHERE doc_id % 50 = 0), " +
        "tr AS (SELECT * FROM sh WHERE doc_id % 50 != 0), " +
        "exact_hits AS (SELECT tr.doc_id FROM tr JOIN ev USING (shingle) " +
        "GROUP BY tr.doc_id HAVING count(*) >= 3), " +
        "sizes AS (SELECT doc_id, count(*) AS n FROM sh GROUP BY doc_id), " +
        "pairs AS (SELECT a.doc_id AS eval_id, b.doc_id AS did, count(*) AS inter " +
        "FROM sh a JOIN sh b ON a.shingle = b.shingle " +
        "AND a.doc_id % 50 = 0 AND b.doc_id % 50 != 0 GROUP BY 1, 2), " +
        "fuzzy_hits AS (SELECT did AS doc_id FROM pairs " +
        "JOIN sizes sa ON eval_id = sa.doc_id JOIN sizes sb ON did = sb.doc_id " +
        "WHERE inter * 1.0 / (sa.n + sb.n - inter) >= 0.5), " +
        "dropped AS (SELECT doc_id FROM exact_hits " +
        "UNION SELECT doc_id FROM fuzzy_hits), " +
        "base AS (SELECT doc_id, source FROM documents WHERE doc_id % 50 != 0), " +
        "kept AS (SELECT b.source FROM base b LEFT JOIN dropped d " +
        "ON b.doc_id = d.doc_id WHERE d.doc_id IS NULL), " +
        "tot AS (SELECT source, count(*) AS n_total FROM base GROUP BY source), " +
        "k AS (SELECT source, count(*) AS n_kept FROM kept GROUP BY source) " +
        "SELECT t.source, k.n_kept, t.n_total, " +
        "round(k.n_kept * 1.0 / t.n_total, 4) AS retention " +
        "FROM tot t JOIN k ON t.source = k.source")),

    /**
     * Deterministic per-source uniform 5-sample (bottom-k of the
     * md5("bk:") hash order — the distributed reservoir-sample
     * replacement on the TopKPerKey heap plan).
     */
    Query("corpus_bottomk", (s, dir) =>
      Curation.bottomKSample(t(s, dir, "documents"), k = 5)
        .select(col("source"), col("doc_id")),
      // bottom-5 of the signed md5 hash order per source, doc_id tiebreak
      oracle = ("WITH h AS (SELECT source, doc_id, " +
        wrapSigned(md5u("'bk:'||doc_id")) + " AS bk FROM documents), " +
        "r AS (SELECT source, doc_id, " +
        "row_number() OVER (PARTITION BY source ORDER BY bk, doc_id) AS rn FROM h) " +
        "SELECT source, doc_id FROM r WHERE rn <= 5")),

    /**
     * Deterministic stratified sampling: cap en at 20%, fr at 50%, keep
     * 80% of the rest — the training-mix rebalance. Output is the
     * per-language kept/total census.
     */
    Query("corpus_sample", (s, dir) => {
      val docs = t(s, dir, "documents")
      val kept = Curation.stratifiedSample(docs,
        Map("en" -> 0.2, "fr" -> 0.5), defaultRate = 0.8)
      docs.groupBy("lang").agg(count("*").as("n_total"))
        .join(kept.groupBy("lang").agg(count("*").as("n_kept")), Seq("lang"), "left")
        .select(col("lang"), col("n_total"),
          coalesce(col("n_kept"), lit(0L)).as("n_kept"))
    },
      oracle = ("WITH k AS (SELECT lang, " +
        "CASE WHEN lang = 'en' THEN 3276 WHEN lang = 'fr' THEN 8192 ELSE 13107 END AS thr, " +
        "(('0x'||substr(md5('strat:'||doc_id), 1, 16))::UBIGINT & 16383) AS h " +
        "FROM documents) " +
        "SELECT lang, count(*) AS n_total, " +
        "CAST(sum(CASE WHEN h < thr THEN 1 ELSE 0 END) AS BIGINT) AS n_kept " +
        "FROM k GROUP BY lang")),

    /** Quota-pack docs into 256-token training sequences per source. */
    Query("corpus_pack", (s, dir) =>
      Curation.packSequences(t(s, dir, "documents"), budget = 256),
      oracle =
        ("WITH d AS (SELECT source, doc_id, len(string_split(text, ' ')) AS n FROM documents), " +
          "c AS (SELECT source, doc_id, n, sum(n) OVER (PARTITION BY source ORDER BY doc_id " +
          "ROWS UNBOUNDED PRECEDING) AS cum FROM d) " +
          "SELECT source, CAST(floor((cum - n) / 256.0) AS BIGINT) AS seq_id, " +
          "count(*) AS n_docs, CAST(sum(n) AS BIGINT) AS n_tokens " +
          "FROM c GROUP BY source, seq_id")),

    /** Budget-constrained sqrt-smoothed training mix: 10k-token budget across sources. */
    Query("corpus_mix", (s, dir) =>
      Curation.budgetMix(t(s, dir, "documents"), budgetTokens = 10000L),
      // replays the sqrt-smoothed allocation: list_sum over
      // source-sorted weights reproduces the engine's fold order, so
      // the 16384-bucket thresholds are bit-identical
      oracle = ("WITH tok AS (SELECT source, doc_id, " +
        "CAST(len(string_split(text, ' ')) AS BIGINT) AS ntok FROM documents), " +
        "tot AS (SELECT source, sum(ntok) AS toks FROM tok GROUP BY source), " +
        "sw AS (SELECT list_sum(list(sqrt(toks) ORDER BY source)) AS sumw FROM tot), " +
        "thr AS (SELECT source, " +
        "CAST(floor(round(least(1.0, (10000 * sqrt(toks) / sumw) / toks), 6) * 16384) AS BIGINT) " +
        "AS thr FROM tot, sw), " +
        "k AS (SELECT t.source, t.ntok, thr.thr, " +
        "(('0x'||substr(md5('mix:'||t.doc_id), 1, 16))::UBIGINT & 16383) AS h " +
        "FROM tok t JOIN thr ON t.source = thr.source) " +
        "SELECT source, CAST(min(thr) AS BIGINT) AS thr, count(*) AS n_kept, " +
        "CAST(sum(ntok) AS BIGINT) AS tokens_kept FROM k WHERE h < thr GROUP BY source")),

    /**
     * Temperature-τ mixture (τ=0.3, flatter than sqrt): the standard
     * multilingual/multi-source rebalancing lever (alloc ∝ t^τ). Same
     * round6-before-floor discretization discipline as corpus_mix.
     */
    Query("corpus_mix_temp", (s, dir) =>
      Curation.budgetMix(t(s, dir, "documents"), budgetTokens = 10000L,
        temperature = 0.3),
      // τ=0.3 temperature mix: pow(toks, 0.3) weights; ulp differences
      // between engines' pow are absorbed by the round6-before-floor
      oracle = ("WITH tok AS (SELECT source, doc_id, " +
        "CAST(len(string_split(text, ' ')) AS BIGINT) AS ntok FROM documents), " +
        "tot AS (SELECT source, sum(ntok) AS toks FROM tok GROUP BY source), " +
        "sw AS (SELECT list_sum(list(pow(toks, 0.3) ORDER BY source)) AS sumw FROM tot), " +
        "thr AS (SELECT source, " +
        "CAST(floor(round(least(1.0, (10000 * pow(toks, 0.3) / sumw) / toks), 6) * 16384) AS BIGINT) " +
        "AS thr FROM tot, sw), " +
        "k AS (SELECT t.source, t.ntok, thr.thr, " +
        "(('0x'||substr(md5('mix:'||t.doc_id), 1, 16))::UBIGINT & 16383) AS h " +
        "FROM tok t JOIN thr ON t.source = thr.source) " +
        "SELECT source, CAST(min(thr) AS BIGINT) AS thr, count(*) AS n_kept, " +
        "CAST(sum(ntok) AS BIGINT) AS tokens_kept FROM k WHERE h < thr GROUP BY source")),

    /**
     * Fractional-repetition rebalance toward uniform per-source token
     * budgets (Curation.upsampleMix): at 26k budget over 20 sources the
     * fixture's small sources repeat (rate > 1) while the large ones
     * thin (rate < 1), exercising both regimes of the md5 remainder
     * gate. Aggregated over the EXPLODED copies, so the oracle replays
     * the per-doc repeat count arithmetic exactly.
     */
    Query("corpus_upsample", (s, dir) =>
      Curation.upsampleMix(t(s, dir, "documents"), budgetTokens = 26000L)
        .groupBy("source")
        .agg(count(lit(1)).as("n_rows_out"),
          sum("ntok").as("tokens_out"),
          countDistinct(col("id")).as("n_docs")),
      // fractional-repetition rebalance: uniform 26000/20-token target
      // per source; n = ⌊rate⌋ + md5-gate on the round6'd remainder
      oracle = ("WITH tok AS (SELECT source, doc_id, " +
        "CAST(len(string_split(text, ' ')) AS BIGINT) AS ntok, " +
        "(('0x'||substr(md5('ups:'||doc_id), 1, 16))::UBIGINT & 16383) AS h FROM documents), " +
        "tot AS (SELECT source, sum(ntok) AS toks FROM tok GROUP BY source), " +
        "r AS (SELECT source, round((26000.0 / (SELECT count(*) FROM tot)) / toks, 6) " +
        "AS rate FROM tot), " +
        "c AS (SELECT tok.source, tok.doc_id, tok.ntok, " +
        "CAST(floor(rate) AS BIGINT) + (CASE WHEN tok.h < " +
        "floor(round(rate - floor(rate), 6) * 16384) THEN 1 ELSE 0 END) AS n " +
        "FROM tok JOIN r ON tok.source = r.source) " +
        "SELECT source, CAST(sum(n) AS BIGINT) AS n_rows_out, " +
        "CAST(sum(n * ntok) AS BIGINT) AS tokens_out, " +
        "CAST(count(*) FILTER (n > 0) AS BIGINT) AS n_docs " +
        "FROM c GROUP BY source HAVING sum(n) > 0")),

    /**
     * Corpus datasheet ("datasheets for datasets"): the one-row-per-
     * source release card — volume, exact-dup rate, mean quality,
     * language share, PII exposure — composed entirely from scan-stage
     * columns plus one keyed aggregate (the only extra exchange is the
     * single exact text-hash distinct, the semantic the card
     * requires). The fixture's PII count is honestly zero: the corpus
     * is clean, and the column proves the detector ran.
     */
    Query("corpus_datasheet", (s, dir) => {
      val toks = size(split(lower(col("text")), " "))
      val piiHits = regexp_count(col("text"), lit("[a-z0-9._]+@[a-z0-9.]+[a-z]")) +
        regexp_count(col("text"), lit("[0-9]+\\.[0-9]+\\.[0-9]+\\.[0-9]+")) +
        regexp_count(col("text"), lit("[0-9]{3}-[0-9]{4}"))
      t(s, dir, "documents")
        .withColumn("_q", TextAnalysis.qualityCol(col("text")))
        .withColumn("_lang", TextAnalysis.predLangCol(col("text")))
        .groupBy("source")
        .agg(count(lit(1)).as("n_docs"),
          sum(toks).cast("long").as("n_tokens"),
          countDistinct(md5(col("text"))).as("n_distinct_texts"),
          round(lit(1.0) - countDistinct(md5(col("text"))) / count(lit(1)), 4).as("dup_rate"),
          round(avg(col("_q")), 4).as("mean_quality"),
          round(sum(when(col("_lang") === "en", 1).otherwise(0)) / count(lit(1)), 4)
            .as("en_share"),
          sum(when(piiHits > 0, 1L).otherwise(0L)).as("pii_docs"))
    },
      // quality + langid CTEs reused verbatim; PII regexes = the redact
      // rules; the avg is over the same round-6 per-doc quality
      oracle = ("WITH q AS (" + qualitySql + "), pl AS (" + langidSql + "), " +
        "base AS (SELECT d.doc_id, d.source, d.text, q.quality, pl.pred_lang " +
        "FROM documents d JOIN q USING (doc_id) JOIN pl USING (doc_id)) " +
        "SELECT source, count(*) AS n_docs, " +
        "CAST(sum(len(string_split(lower(text), ' '))) AS BIGINT) AS n_tokens, " +
        "CAST(count(DISTINCT md5(text)) AS BIGINT) AS n_distinct_texts, " +
        "round(1.0 - count(DISTINCT md5(text)) * 1.0 / count(*), 4) AS dup_rate, " +
        "round(avg(quality), 4) AS mean_quality, " +
        "round(sum(CASE WHEN pred_lang = 'en' THEN 1 ELSE 0 END) * 1.0 / count(*), 4) AS en_share, " +
        "CAST(sum(CASE WHEN len(regexp_extract_all(text, '[a-z0-9._]+@[a-z0-9.]+[a-z]')) " +
        "+ len(regexp_extract_all(text, '[0-9]+\\.[0-9]+\\.[0-9]+\\.[0-9]+')) " +
        "+ len(regexp_extract_all(text, '[0-9]{3}-[0-9]{4}')) > 0 THEN 1 ELSE 0 END) AS BIGINT) " +
        "AS pii_docs FROM base GROUP BY source")),

    /**
     * Split-leakage audit — the ML-hygiene check behind "dedup before
     * you split": near-dup PAIRS that straddle a train/test boundary
     * leak test content into training. Splitting by the document's own
     * id leaks (counted); splitting every doc by its near-dup CLUSTER
     * representative cannot (a pair's endpoints share a cluster by
     * construction — its leak count is the mechanism's proof). One
     * row: (n_pairs, leaked_doc_split, leaked_cluster_split).
     */
    Query("corpus_split_leakage", (s, dir) => {
      def splitOf(k: org.apache.spark.sql.Column): org.apache.spark.sql.Column = {
        val bucket = md5lo64(concat(lit("split:"), k.cast("string")))
          .bitwiseAND(lit(16383L)) % 10
        when(bucket <= 7, "train").when(bucket === 8, "val").otherwise("test")
      }
      val docs = t(s, dir, "documents")
      // the pair set feeds BOTH the cluster build and the leakage joins
      // — materialize once or the shingle/jaccard generation runs twice
      val pairs = Dedup.ngramJaccardPairs(docs, n = 5, threshold = 0.7)
        .materializeRound
      val clusters = Dedup.dupClusters(pairs)
      pairs
        .join(clusters.select(col("doc_id").as("a_id"), col("cluster_id").as("c_a")), "a_id")
        .join(clusters.select(col("doc_id").as("b_id"), col("cluster_id").as("c_b")), "b_id")
        .agg(count(lit(1)).as("n_pairs"),
          sum(when(splitOf(col("a_id")) =!= splitOf(col("b_id")), 1L).otherwise(0L))
            .as("leaked_doc_split"),
          sum(when(splitOf(col("c_a")) =!= splitOf(col("c_b")), 1L).otherwise(0L))
            .as("leaked_cluster_split"))
    },
      // near-dup pairs + recursive-CTE clusters + the md5 split replay:
      // doc-id splits leak pairs across the boundary, cluster splits
      // provably cannot
      oracle = {
        def splitSql(e: String): String =
          s"(CASE WHEN (('0x'||substr(md5('split:'||$e), 13, 4))::UINTEGER % 16384) % 10 <= 7 " +
            s"THEN 'train' WHEN (('0x'||substr(md5('split:'||$e), 13, 4))::UINTEGER % 16384) % 10 = 8 " +
            "THEN 'val' ELSE 'test' END)"
        "WITH RECURSIVE tok AS (SELECT doc_id, string_split(text, ' ') AS w FROM documents), " +
          "sh AS (SELECT DISTINCT doc_id, array_to_string(w[i:i+4], ' ') AS shingle " +
          "FROM tok, UNNEST(generate_series(1, greatest(len(w) - 4, 0))) AS t(i)), " +
          "sizes AS (SELECT doc_id, count(*) AS n FROM sh GROUP BY doc_id), " +
          "pr AS (SELECT a.doc_id AS a_id, b.doc_id AS b_id, count(*) AS inter " +
          "FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.doc_id < b.doc_id GROUP BY 1, 2), " +
          "pairs AS (SELECT a_id, b_id FROM pr JOIN sizes sa ON a_id = sa.doc_id " +
          "JOIN sizes sb ON b_id = sb.doc_id WHERE inter * 1.0 / (sa.n + sb.n - inter) >= 0.7), " +
          "edges AS (SELECT a_id AS u, b_id AS v FROM pairs UNION SELECT b_id, a_id FROM pairs), " +
          "reach(u, v) AS (SELECT u, v FROM edges UNION " +
          "SELECT r.u, e.v FROM reach r JOIN edges e ON r.v = e.u), " +
          "cl AS (SELECT u AS doc_id, least(u, min(v)) AS cluster_id FROM reach GROUP BY u) " +
          s"SELECT CAST(count(*) AS BIGINT) AS n_pairs, " +
          s"CAST(sum(CASE WHEN ${splitSql("p.a_id")} <> ${splitSql("p.b_id")} THEN 1 ELSE 0 END) AS BIGINT) AS leaked_doc_split, " +
          s"CAST(sum(CASE WHEN ${splitSql("ca.cluster_id")} <> ${splitSql("cb.cluster_id")} THEN 1 ELSE 0 END) AS BIGINT) AS leaked_cluster_split " +
          "FROM pairs p JOIN cl ca ON p.a_id = ca.doc_id JOIN cl cb ON p.b_id = cb.doc_id"
      }),
  )
}
