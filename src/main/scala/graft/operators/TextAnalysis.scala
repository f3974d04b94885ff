package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import graft.functions.TextFunctions._

/**
 * Text-analysis operators for training-data pipelines (north-star,
 * SURVEY §2.4): token counting, quality scoring, language ID,
 * fingerprinting. All are single-pass narrow transforms built from
 * codegen'd built-ins (+ the custom sketch expressions) — they
 * pipeline inside one stage and scale linearly.
 *
 * Every heuristic is deterministic and oracle-expressible where the
 * function surface allows (see the oracles in
 * `graft.queries.TextQueries`); the hash-based fingerprints are
 * deterministic but engine-specific (rows-only verification).
 */
object TextAnalysis {

  def tokens(text: Column): Column = split(lower(text), " ")

  /** Whitespace token count + a BPE-ish regex token count (letters / digits / other-symbol runs). */
  def tokenCounts(docs: DataFrame, textCol: String = "text", idCol: String = "doc_id"): DataFrame =
    docs.select(
      col(idCol),
      size(split(col(textCol), " ")).as("ws_tokens"),
      size(regexp_extract_all(lower(col(textCol)), lit("[a-z]+|[0-9]+|[^a-z0-9 ]"), lit(0)))
        .as("re_tokens"),
      length(col(textCol)).as("n_chars"))

  private val stopwords = Seq("the", "a", "an", "of", "and", "or", "in", "on", "to", "is")

  /**
   * Quality metrics: token count, average token length, stopword
   * ratio, distinct-token ratio, plus a composite [0,1] score
   * (length-normalized, stopword-balanced, repetition-penalized) —
   * the standard cheap pre-filters applied before expensive dedup in
   * a training-data pipeline.
   */
  def qualityScore(docs: DataFrame, textCol: String = "text", idCol: String = "doc_id"): DataFrame = {
    val toks = tokens(col(textCol))
    val nTok = size(toks)
    val nStop = size(filter(toks, t => t.isin(stopwords: _*)))
    val nDistinct = size(array_distinct(toks))
    docs.select(
      col(idCol),
      nTok.as("n_tokens"),
      round((length(col(textCol)) - (nTok - lit(1))) / nTok, 4).as("avg_token_len"),
      round(nStop / nTok, 4).as("stopword_ratio"),
      round(nDistinct / nTok, 4).as("distinct_ratio"))
      // round(…, 6) is an identity here (4-decimal inputs × {0.4,0.2}
      // weights terminate by the 5th decimal) — rounding any tighter
      // hits exact .5 boundaries where Spark (decimal HALF_UP) and
      // DuckDB (binary rounding) legitimately disagree.
      .withColumn("quality",
        round(least(col("n_tokens") / lit(64.0), lit(1.0)) * lit(0.4)
          + least(col("stopword_ratio") * lit(5.0), lit(1.0)) * lit(0.2)
          + col("distinct_ratio") * lit(0.4), 6))
  }

  /**
   * The composite quality score as ONE composable column — identical
   * arithmetic to [[qualityScore]] (same intermediate rounding), so a
   * streaming pipeline can gate on quality inside the scan without a
   * per-doc join against a second aggregate.
   */
  def qualityCol(text: Column): Column = {
    val toks = tokens(text)
    val nTok = size(toks)
    val stopR = round(size(filter(toks, t => t.isin(stopwords: _*))) / nTok, 4)
    val distR = round(size(array_distinct(toks)) / nTok, 4)
    round(least(nTok / lit(64.0), lit(1.0)) * lit(0.4)
      + least(stopR * lit(5.0), lit(1.0)) * lit(0.2)
      + distR * lit(0.4), 6)
  }

  /**
   * Robust per-source quality-outlier census: median + MAD (median
   * absolute deviation) per source, flagging docs whose quality
   * deviates more than `nSigmas`·MAD from their source's median —
   * the robust alternative to mean/stddev gating (one spam flood
   * shifts a mean; it barely moves a median). The "which sources are
   * drifting" audit a curation pipeline runs before retuning fixed
   * thresholds.
   *
   * Scale design: quality is round6-quantized, so the per-(source,
   * quality) COUNT TABLE is bounded at |sources|·10⁶ rows regardless
   * of corpus size — both medians are exact ORDER STATISTICS on that
   * table (lower median: smallest value whose cumulative count
   * reaches ⌈n/2⌉), computed with a window over the bounded table,
   * never a sort of the corpus. Discrete order statistics, not
   * interpolated percentiles, on purpose: interpolation arithmetic
   * differs across engines in the last ulp; rank selection of an
   * existing value is bit-reproducible everywhere.
   */
  def qualityMadCensus(docs: DataFrame, nSigmas: Double = 3.0,
      textCol: String = "text", sourceCol: String = "source"): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val counts = docs
      .select(col(sourceCol).as("source"), qualityCol(col(textCol)).as("q"))
      .groupBy("source", "q").agg(count(lit(1)).as("c"))
    val wTot = Window.partitionBy("source")
    def lowerMedian(t: DataFrame, valCol: String, outCol: String): DataFrame =
      t.withColumn("cum", sum("c").over(
          Window.partitionBy("source").orderBy(valCol)
            .rowsBetween(Window.unboundedPreceding, Window.currentRow)))
        .withColumn("n", sum("c").over(wTot))
        .filter(col("cum") >= ceil(col("n") / lit(2.0)))
        .groupBy(col("source").as("_src")).agg(min(valCol).as(outCol))
    val med = lowerMedian(counts, "q", "med")
    val dev = counts.join(med, col("source") === col("_src")).drop("_src")
      .withColumn("dev", abs(col("q") - col("med")))
      .groupBy("source", "med", "dev").agg(sum("c").as("c"))
    val mad = lowerMedian(dev, "dev", "mad")
    dev.join(mad, col("source") === col("_src")).drop("_src")
      .groupBy("source")
      .agg(sum("c").as("n_docs"),
        sum(when(col("dev") > lit(nSigmas) * col("mad"), col("c"))
          .otherwise(0L)).as("n_outliers"),
        round(min(col("med")), 6).as("median_q"),
        round(min(col("mad")), 6).as("mad_q"))
  }

  /**
   * Gopher-style quality-rule census (Rae et al. '21, table A1 — the
   * subset expressible on this corpus): every rule evaluates as a
   * scan-stage column off ONE pass (the [[qualityScore]] signal
   * arithmetic, identical rounding), then a per-source aggregate
   * reports how many docs fail each gate and how many survive all of
   * them. Shuffle = the |sources|-row census only; at 100 TB this is
   * the shape a filtering decision audit has to take — no per-doc
   * frame ever leaves the scan.
   */
  def gopherCensus(docs: DataFrame, textCol: String = "text",
      sourceCol: String = "source",
      minTokens: Int = 25, maxTokens: Int = 100000,
      minAvgLen: Double = 3.0, maxAvgLen: Double = 5.0,
      minStopRatio: Double = 0.02, maxDupFrac: Double = 0.6): DataFrame = {
    val toks = tokens(col(textCol))
    val nTok = size(toks)
    val awl = round((length(col(textCol)) - (nTok - lit(1))) / nTok, 4)
    val stopR = round(size(filter(toks, t => t.isin(stopwords: _*))) / nTok, 4)
    val dupF = round(lit(1.0) - size(array_distinct(toks)) / nTok, 4)
    val failLen = nTok < minTokens || nTok > maxTokens
    val failAwl = awl < minAvgLen || awl > maxAvgLen
    val failStop = stopR < minStopRatio
    val failDup = dupF > maxDupFrac
    docs.select(col(sourceCol), failLen.as("f_len"), failAwl.as("f_awl"),
        failStop.as("f_stop"), failDup.as("f_dup"))
      .groupBy(col(sourceCol))
      .agg(count(lit(1)).as("n_docs"),
        count(when(col("f_len"), 1)).as("n_fail_len"),
        count(when(col("f_awl"), 1)).as("n_fail_wordlen"),
        count(when(col("f_stop"), 1)).as("n_fail_stopword"),
        count(when(col("f_dup"), 1)).as("n_fail_dup"),
        count(when(!col("f_len") && !col("f_awl") && !col("f_stop") && !col("f_dup"), 1))
          .as("n_kept"))
  }

  /**
   * Language-marker table for the heuristic classifier: per language,
   * a small set of high-frequency function words. Deterministic
   * argmax with fixed priority order (en > fr > es > de > zh) on
   * ties.
   */
  private val langMarkers: Seq[(String, Seq[String])] = Seq(
    "en" -> Seq("the", "and", "of", "is", "to", "a"),
    "fr" -> Seq("le", "la", "et", "les", "des", "un"),
    "es" -> Seq("el", "la", "de", "los", "que", "un"),
    "de" -> Seq("der", "die", "und", "das", "ein", "ist"),
    "zh" -> Seq("de", "shi", "le", "bu", "wo", "zai"))

  /**
   * N-gram/stopword-heuristic language ID: score = count of
   * language-marker tokens; predict the max-scoring language,
   * "und" (undetermined) when every score is 0.
   */
  def langId(docs: DataFrame, textCol: String = "text", idCol: String = "doc_id"): DataFrame = {
    val toks = tokens(col(textCol))
    val scored = docs.select(
      (col(idCol) +: langMarkers.map { case (lang, markers) =>
        size(filter(toks, t => t.isin(markers: _*))).as(s"s_$lang")
      }): _*)
    val best = langMarkers.map(m => col(s"s_${m._1}"))
    val maxScore = greatest(best: _*)
    // fixed priority: first language reaching the max wins
    val pred = langMarkers.foldRight(lit("und")) { case ((lang, _), elseCol) =>
      when(col(s"s_$lang") === maxScore && maxScore > 0, lit(lang)).otherwise(elseCol)
    }
    scored.withColumn("pred_lang", pred)
      .select(col(idCol), col("pred_lang"))
  }

  /** [[langId]]'s prediction as one composable column (same tie-break priority). */
  def predLangCol(text: Column): Column = {
    val toks = tokens(text)
    val scores = langMarkers.map { case (lang, markers) =>
      lang -> size(filter(toks, t => t.isin(markers: _*)))
    }.toMap
    val maxScore = greatest(langMarkers.map(m => scores(m._1)): _*)
    langMarkers.foldRight(lit("und")) { case ((lang, _), elseCol) =>
      when(scores(lang) === maxScore && maxScore > 0, lit(lang)).otherwise(elseCol)
    }
  }

  /**
   * Unigram language-model scoring (the CCNet-style perplexity proxy
   * without an external model): train the LM on the corpus itself —
   * one token-frequency aggregation — then score each doc by its mean
   * negative log-likelihood. Low nll ≈ ordinary text; high nll ≈
   * rare-token noise. Scale: the vocabulary table (bounded, ≪ corpus)
   * broadcasts; the corpus is scanned twice (freq pass + score pass),
   * both embarrassingly parallel.
   */
  def unigramLmScore(docs: DataFrame, textCol: String = "text",
      idCol: String = "doc_id", minCount: Long = 2,
      maxVocab: Int = 1000000): DataFrame =
    unigramLmScoreOn(docs, docs, textCol, idCol, minCount, maxVocab)

  /**
   * [[unigramLmScore]] with separate train/score frames: the LM is
   * estimated on `train`, and `score` may contain held-out documents —
   * tokens the corpus has never seen fall back to the smoothed OOV
   * probability instead of throwing.
   */
  def unigramLmScoreOn(train: DataFrame, score: DataFrame,
      textCol: String = "text", idCol: String = "doc_id",
      minCount: Long = 2, maxVocab: Int = 1000000,
      carry: Seq[String] = Nil): DataFrame = {
    // one distributed pass builds the LM; only a BOUNDED vocabulary
    // reaches the driver: tokens below `minCount` (the hapax tail —
    // most of a raw web corpus's types: base64 blobs, URLs, numeric
    // noise) never leave the cluster, and a top-`maxVocab` cap
    // (frequency-desc, token-asc tie-break — a TakeOrdered, not a
    // full collect) hard-bounds driver memory however pathological
    // the corpus. Dropped mass is spread evenly over the dropped
    // types as a smoothed OOV probability, which also covers held-out
    // tokens the corpus has never seen. Scoring is then a SECOND
    // narrow pass: per-doc mean NLL from the doc's own token array —
    // nothing per-token ever shuffles. (The join formulation —
    // explode every token with its doc_id, broadcast-join, re-group —
    // moves the entire token stream through a shuffle twice; measured
    // 41 s vs 9 s at 1M docs × 100 tokens.)
    val spark = train.sparkSession
    // ONE corpus tokenize+aggregate pass: the frequency table feeds
    // two driver actions (the total/vocab stats and the top-K vocab
    // collect), and without a materialization each action re-scans
    // and re-tokenizes the whole corpus — the checkpointed table is
    // vocabulary-sized (types, not tokens), far below the corpus
    val freq = train.select(explode(tokens(col(textCol))).as("tok"))
      .groupBy("tok").agg(count("*").as("cnt"))
      .localCheckpoint()
    val statsRow = freq.agg(sum("cnt"), count(lit(1))).collect()(0)
    val totalL = statsRow.getLong(0)
    val total = totalL.toDouble
    val vocabAll = statsRow.getLong(1)
    val kept = freq.filter(col("cnt") >= minCount)
      .orderBy(col("cnt").desc, col("tok").asc).limit(maxVocab)
      .collect().map(r => r.getString(0) -> r.getLong(1))
    val oovTokens = totalL - kept.map(_._2).sum
    val oovTypes = vocabAll - kept.length
    val pOov =
      if (oovTypes == 0) 1.0 / total // cap never bound; branch unused
      else oovTokens.toDouble / oovTypes.toDouble / total
    // per-type NLL computed ONCE driver-side; the table rides the plan
    // as a codegen reference object (token_score_mean — scan-stage
    // byte-compare lookups, no UDF, no per-row Seq[String] conversion)
    val nllByTok = kept.map { case (w, c) => w -> -math.log(c / total) }.toMap
    score.select(col(idCol) +: carry.map(col) :+
      size(tokens(col(textCol))).cast("long").as("n_tokens") :+
      round(token_score_mean(
        tokens(col(textCol)), nllByTok, -math.log(pOov)), 4).as("nll"): _*)
  }

  /**
   * CCNet-style perplexity bucketing: per language, documents split
   * into head/middle/tail by the corpus's own unigram-LM NLL
   * terciles (CCNet, LREC'20 — the standard quality partition before
   * sampling mostly from the head). The tercile thresholds are exact
   * order statistics computed WITHOUT any per-language sort of the
   * corpus: doc scores collapse to a per-(lang, nll) count table
   * first — bounded by the 4-decimal score space, ≪ corpus — and the
   * running counts + thresholds live on that small table; docs then
   * map to buckets by comparing against the two broadcast thresholds
   * in one narrow pass. Ties share a bucket (threshold semantics,
   * exactly replayable), so bucket sizes are near-, not exactly-,
   * n/3 — as in CCNet itself.
   */
  def pplBuckets(docs: DataFrame, textCol: String = "text",
      idCol: String = "doc_id", langCol: String = "lang",
      minCount: Long = 2, maxVocab: Int = 1000000): DataFrame =
    pplBucketed(docs, textCol, idCol, langCol, minCount, maxVocab)
      .groupBy(col(langCol), col("bucket"))
      .agg(count(lit(1)).as("n_docs"), round(avg("nll"), 4).as("avg_nll"))

  /** Per-doc form of [[pplBuckets]]: (id, lang, n_tokens, nll, bucket) rows. */
  def pplBucketed(docs: DataFrame, textCol: String = "text",
      idCol: String = "doc_id", langCol: String = "lang",
      minCount: Long = 2, maxVocab: Int = 1000000): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    // materialize the per-doc scores ONCE: both the threshold build
    // (lang × nll counts) and the final bucket join read them, and
    // without this each pass re-tokenizes and re-scores the corpus —
    // including any carried computed lang column (pipeline_ccnet's
    // pred_lang evaluates the marker scan per reference). The
    // checkpointed frame is one NARROW row per doc (id, lang,
    // n_tokens, nll ≈ tens of bytes), not the corpus text.
    val scored = unigramLmScoreOn(docs, docs, textCol, idCol, minCount,
      maxVocab, carry = Seq(langCol))
      .localCheckpoint()
    val counts = scored.groupBy(col(langCol), col("nll"))
      .agg(count(lit(1)).as("c"))
    val w = Window.partitionBy(col(langCol)).orderBy(col("nll"))
    val tot = counts.groupBy(col(langCol).as("lc")).agg(sum("c").as("n"))
    val cum = counts.withColumn("cum", sum("c").over(w))
      .join(broadcast(tot), col(langCol) === col("lc"))
    val thr = cum.groupBy(col(langCol).as("tl"))
      .agg(min(when(col("cum") >= ceil(col("n") / 3.0), col("nll"))).as("t1"),
        min(when(col("cum") >= ceil(col("n") * 2.0 / 3.0), col("nll"))).as("t2"))
    scored.join(broadcast(thr), col(langCol) === col("tl"))
      .withColumn("bucket",
        when(col("nll") <= col("t1"), "head")
          .when(col("nll") <= col("t2"), "middle")
          .otherwise("tail"))
      .drop("tl", "t1", "t2")
  }

  /**
   * DSIR-style importance weighting: per-doc mean log-likelihood
   * ratio between a TARGET-domain unigram LM (trained on a small
   * exemplar set, add-1 smoothed over the corpus vocabulary) and the
   * corpus LM. High log-ratio ≈ "looks like the target domain" —
   * the data-selection score for steering a training mix toward a
   * quality domain. Scale: both LM tables are vocabulary-sized and
   * broadcast; the corpus is scanned for frequencies once and scored
   * once.
   */
  def importanceWeights(docs: DataFrame, target: DataFrame,
      textCol: String = "text", idCol: String = "doc_id",
      minCount: Long = 2, maxVocab: Int = 1000000): DataFrame = {
    // the corpus LM is capped exactly as in unigramLmScore (min-count
    // floor + top-K, smoothed OOV for the dropped/unseen tail); the
    // TARGET LM is trained on a small exemplar set by contract, but
    // is still top-K-capped as a hard bound. Add-1 smoothing uses the
    // FULL distributed vocabulary count so the smoothing constant is
    // cap-independent. Scoring is one shuffle-free pass per doc.
    val spark = docs.sparkSession
    // one corpus pass for the two frequency actions — see
    // [[unigramLmScoreOn]]; the table is vocabulary-sized
    val cFreqDf = docs.select(explode(tokens(col(textCol))).as("tok"))
      .groupBy("tok").agg(count("*").as("cnt"))
      .localCheckpoint()
    val statsRow = cFreqDf.agg(sum("cnt"), count(lit(1))).collect()(0)
    val cTotalL = statsRow.getLong(0)
    val cTotal = cTotalL.toDouble
    val vocabAll = statsRow.getLong(1)
    val kept = cFreqDf.filter(col("cnt") >= minCount)
      .orderBy(col("cnt").desc, col("tok").asc).limit(maxVocab)
      .collect().map(r => r.getString(0) -> r.getLong(1))
    val oovTokens = cTotalL - kept.map(_._2).sum
    val oovTypes = vocabAll - kept.length
    val pOov =
      if (oovTypes == 0) 1.0 / cTotal
      else oovTokens.toDouble / oovTypes.toDouble / cTotal
    val tFreq = target.select(explode(tokens(col(textCol))).as("tok"))
      .groupBy("tok").agg(count("*").as("cnt"))
      .orderBy(col("cnt").desc, col("tok").asc).limit(maxVocab)
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    val tDenom = tFreq.values.sum.toDouble + vocabAll
    // per-type log-ratio computed ONCE driver-side over the union of
    // both LM vocabularies; misses (token in neither) take the default
    // smoothed-OOV ratio. Same arithmetic as the per-occurrence form —
    // log((t+1)/tDenom) − log c with identical double ops — so scores
    // are bit-identical; the table rides the plan as a codegen
    // reference object (token_score_mean), no UDF, no broadcasts.
    val keptM = kept.toMap
    val ratioByTok = (keptM.keySet ++ tFreq.keySet).iterator.map { w =>
      val c = keptM.getOrElse(w, -1L)
      val lc = if (c >= 0) math.log(c / cTotal) else math.log(pOov)
      w -> (math.log((tFreq.getOrElse(w, 0L) + 1) / tDenom) - lc)
    }.toMap
    val dfltRatio = math.log(1 / tDenom) - math.log(pOov)
    docs.select(col(idCol),
      size(tokens(col(textCol))).cast("long").as("n_tokens"),
      round(token_score_mean(tokens(col(textCol)), ratioByTok, dfltRatio), 4)
        .as("importance"))
  }

  /**
   * Bigram language-model scoring with add-α smoothing — the
   * next-fidelity step above [[unigramLmScore]]'s CCNet-style proxy.
   * Unlike the unigram path (bounded vocab broadcast to the driver),
   * the bigram table is kept FULLY DISTRIBUTED as data: doc bigrams
   * join the corpus bigram/context-count tables on their keys and
   * re-group per doc. No driver-side state exists at any corpus
   * size — the scale path when even a capped vocabulary is too big
   * (bigram types grow ~quadratically in vocabulary).
   * P(w2|w1) = (c(w1,w2) + α) / (c(w1→·) + α·V) — the textbook MLE
   * with c(w1→·) the CONTEXT count (Σ_w c(w1,w)) and V the context
   * vocabulary — scored as per-doc mean negative log-likelihood over
   * its bigrams (docs with < 2 tokens have no bigrams and drop, as in
   * the oracle).
   */
  def bigramLmScore(docs: DataFrame, alpha: Double = 0.5,
      textCol: String = "text", idCol: String = "doc_id"): DataFrame = {
    // the token array is materialized as a column BEFORE the bigram
    // lambda indexes it: a lambda body runs interpreted and
    // re-evaluates non-attribute subexpressions per element, so
    // element_at(split(text), i) would re-run the regex split twice
    // per bigram — O(tokens²) scan work per doc
    val toked = docs.select(col(idCol), tokens(col(textCol)).as("__w"))
    val w = col("__w")
    val n = size(w)
    val idxs = when(n >= 2, sequence(lit(1), n - 1))
      .otherwise(array().cast("array<int>"))
    val bgs = transform(idxs, i =>
      struct(element_at(w, i).as("w1"), element_at(w, i + 1).as("w2")))
    val bg = toked.select(col(idCol), explode(bgs).as("bg"))
      .select(col(idCol), col("bg.w1").as("w1"), col("bg.w2").as("w2"))
    // ONE corpus-sized aggregation builds everything: the bigram
    // table c12, the context counts c1(w1) = Σ_w c12(w1, w) (the
    // textbook MLE denominator — derived from the TYPES-sized c12,
    // no second corpus scan), and the next-word vocabulary V =
    // distinct w2. The model is keyed by an 8-byte bigram hash, so
    // the corpus-sized doc-bigram frame joins it ONCE on a long key
    // with a (doc_id, hash) payload. Collision-free at any realistic
    // vocabulary (same xxhash64 assumption as Dedup.shinglesHashed);
    // the DuckDB oracle replays the string semantics.
    // materialized once: c1, V, and the model join all read c12, and
    // without the checkpoint each consumer re-runs the corpus-sized
    // bigram explode + aggregation through the lineage (AQE does not
    // reliably reuse the exchange across the three consumers). The
    // table is types-sized — the checkpoint is cheap at any corpus.
    // The aggregation shuffles only (hash, w1): V is the CONTEXT
    // vocabulary (row count of c1), so w2 never needs to ride.
    val c12 = bg.groupBy(xxhash64(col("w1"), col("w2")).as("bk"), col("w1"))
      .agg(count(lit(1)).as("c12"))
      .localCheckpoint()
    val c1 = c12.groupBy(col("w1").as("cw")).agg(sum("c12").as("c1"))
    val vocab = c1.agg(count(lit(1)).cast("double").as("v"))
    val model = c12.join(c1, col("w1") === col("cw"))
      .select(col("bk"), col("c12"), col("c1"))
    bg.select(col(idCol), xxhash64(col("w1"), col("w2")).as("bk"))
      .join(model, "bk")
      .crossJoin(broadcast(vocab))
      .select(col(idCol),
        (-log((col("c12") + lit(alpha)) / (col("c1") + lit(alpha) * col("v")))).as("nll"))
      .groupBy(idCol)
      .agg(count(lit(1)).as("n_bigrams"), round(avg("nll"), 4).as("bigram_nll"))
  }

  /**
   * Per-document token entropy (the gibberish/boilerplate signal:
   * natural prose sits in a mid band, keyword stuffing and repeated
   * boilerplate score low, random noise scores high):
   * H = −Σ_types (c/n)·ln(c/n) over the doc's own token histogram.
   * Entirely in-scan (array lambdas over the token array — O(L²) per
   * doc on short L, no shuffle); the type fold runs over the SORTED
   * distinct types so both engines sum the identical doubles in the
   * identical order.
   */
  def tokenEntropy(docs: DataFrame, textCol: String = "text",
      idCol: String = "doc_id"): DataFrame = {
    // tokens/types/n staged as columns: the type lambda references
    // them, and interpreted lambda bodies re-evaluate non-attribute
    // subexpressions per element — inlined, every type iteration
    // would re-split the text (O(types·tokens) regex work per doc)
    val staged = docs.select(col(idCol), tokens(col(textCol)).as("__toks"))
      .withColumn("__types", sort_array(array_distinct(col("__toks"))))
      .withColumn("__n", size(col("__toks")).cast("double"))
    val ent = -aggregate(
      transform(col("__types"), t => {
        val p = size(filter(col("__toks"), x => x === t)).cast("double") / col("__n")
        p * log(p)
      }),
      lit(0.0), (acc, x) => acc + x)
    staged.select(col(idCol),
      col("__n").cast("long").as("n_tokens"),
      size(col("__types")).cast("long").as("n_types"),
      round(ent, 4).as("entropy"))
  }

  /**
   * Vocabulary coverage curve (the tokenizer-design statistic): for
   * each target percentage p, the smallest number of top-frequency
   * token TYPES whose occurrences cover ≥ p % of all corpus tokens.
   * Frequency ranking and running totals ride
   * [[graft.relational.Relational.cumulativeSums]] — a distributed
   * range-partitioned cumulative sum over the (vocab-sized, ≪ corpus)
   * frequency table, never a single-task global window. The p-
   * threshold test is exact integer arithmetic (cum·100 ≥ p·total),
   * so both engines agree at every boundary.
   */
  def vocabCoverage(docs: DataFrame, pcts: Seq[Int] = Seq(50, 90, 99),
      textCol: String = "text"): DataFrame = {
    val freq = docs.select(explode(tokens(col(textCol))).as("tok"))
      .groupBy("tok").agg(count(lit(1)).as("cnt"))
    val cum = graft.relational.Relational.cumulativeSums(
      freq, Seq(col("cnt").desc, col("tok").asc),
      Seq((col("cnt"), "cum_tokens"), (lit(1L), "rank")))
    val total = freq.agg(sum("cnt").as("total"))
    cum.crossJoin(broadcast(total))
      .select(explode(array(pcts.map(p => lit(p.toLong)): _*)).as("pct"),
        col("rank"), col("cum_tokens"), col("total"))
      .filter(col("cum_tokens") * 100 >= col("pct") * col("total"))
      .groupBy("pct")
      .agg(
        min("rank").as("k_types"),
        min_by(col("cum_tokens"), col("rank")).as("covered_tokens"),
        round(min_by(col("cum_tokens"), col("rank")) / first(col("total")), 6).as("coverage"))
  }

  /**
   * Hashed-linear-classifier scoring (the fastText-style quality-
   * classifier shape used to filter web corpora): each token maps to
   * one of `buckets` feature buckets via the cross-engine md5lo64
   * hash (hashing trick — no vocabulary exists anywhere), the model
   * is a dense weight vector indexed by bucket, and the doc score is
   * sigmoid(mean bucket weight). Single narrow pass: the fold runs
   * inside the scan, nothing shuffles, no model state leaves the
   * plan. The WEIGHTS here are a deterministic stub (derived from the
   * bucket index — the sandbox trains no real model); swapping in
   * learned weights is a literal-array substitution with identical
   * plumbing. `buckets` must be a power of two (bucket = low bits of
   * the hash, replayable in any SQL engine).
   */
  def classifierScore(docs: DataFrame, buckets: Int = 1024,
      textCol: String = "text", idCol: String = "doc_id"): DataFrame = {
    require(buckets > 0 && (buckets & (buckets - 1)) == 0, "buckets must be a power of two")
    val w = tokens(col(textCol))
    def weight(tok: Column): Column = {
      val bucket = md5lo64(tok).bitwiseAND(lit((buckets - 1).toLong))
      ((bucket * lit(2654435761L) + lit(7L)) % lit(2000001L)) / lit(1000000.0) - lit(1.0)
    }
    val wsum = aggregate(transform(w, weight _), lit(0.0), (a, x) => a + x)
    docs.select(
      col(idCol),
      round(lit(1.0) / (lit(1.0) + exp(-(wsum / size(w)))), 4).as("clf_score"),
      // sigmoid(z) >= 0.5 ⟺ z >= 0 ⟺ wsum >= 0: the label compares the
      // exact ordered fold, never the engine-specific exp()
      (wsum >= 0).as("clf_label"))
  }

  /**
   * Calibration census (reliability diagram) for a [0,1] score
   * against a binary target: decile buckets of the score, per-bucket
   * count / mean score / empirical positive rate — the check a
   * pipeline runs before trusting a filter threshold, since a
   * calibrated score's pos_rate tracks its mean_score bucket by
   * bucket. ONE map-side-combining aggregate over the scored scan.
   */
  def calibrationCensus(scored: DataFrame, scoreCol: String,
      targetCol: String): DataFrame =
    scored
      .groupBy(least(floor(col(scoreCol) * 10), lit(9.0)).cast("long")
        .as("decile"))
      .agg(count(lit(1)).as("n"),
        round(avg(col(scoreCol)), 6).as("mean_score"),
        round(avg(col(targetCol).cast("double")), 6).as("pos_rate"))

  /**
   * Tie-aware ROC-AUC (Mann–Whitney with midranks) for a score
   * against a binary target: AUC = (Σ_pos midrank − P(P+1)/2) / (P·N).
   * The aggregation collapses the corpus to one row per DISTINCT
   * score (bounded by the score's rounding — a 4-decimal score has
   * ≤ 10⁴ distinct values), the midrank window ranks only those
   * rows, and the midrank arithmetic is exact halves, so the value
   * oracles without float hazard. Output: one row (auc, n_pos, n_neg).
   */
  def aucRoc(scored: DataFrame, scoreCol: String,
      targetCol: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val g = scored.groupBy(col(scoreCol).as("s"))
      .agg(count(lit(1)).as("n"), sum(col(targetCol).cast("long")).as("np"))
    // cumulative count of strictly-smaller scores; the window frame
    // holds distinct-score rows only (bounded, see above)
    val w = Window.orderBy(col("s")).rowsBetween(Window.unboundedPreceding, -1)
    g.withColumn("cum", coalesce(sum(col("n")).over(w), lit(0L)))
      .withColumn("midrank", (col("cum") * 2 + col("n") + 1) / lit(2.0))
      .agg(sum(col("np")).as("p"), sum(col("n") - col("np")).as("nn"),
        sum(col("np") * col("midrank")).as("rsum"))
      .select(round((col("rsum") - col("p") * (col("p") + 1) / lit(2.0))
          / (col("p") * col("nn")), 6).as("auc"),
        col("p").as("n_pos"), col("nn").as("n_neg"))
  }

  /**
   * Binary-classifier evaluation against a boolean target: confusion
   * counts, precision/recall/F1 (of the positive class), accuracy,
   * and Cohen's κ (chance-corrected agreement). ONE map-side-
   * combining aggregate over the scan; every stat is a closed form of
   * the four confusion cells, so the whole row value-oracles. Output:
   * one row (tp, fp, fn, tn, precision, recall, f1, accuracy, kappa).
   */
  def classifierEval(scored: DataFrame, predCol: String,
      targetCol: String): DataFrame = {
    val p = col(predCol)
    val t = col(targetCol)
    def cell(c: Column) = sum(c.cast("long"))
    scored.agg(
      cell(p && t).as("tp"), cell(p && !t).as("fp"),
      cell(!p && t).as("fn"), cell(!p && !t).as("tn"))
      .select(col("tp"), col("fp"), col("fn"), col("tn"),
        round(col("tp") / (col("tp") + col("fp")), 6).as("precision"),
        round(col("tp") / (col("tp") + col("fn")), 6).as("recall"),
        round(col("tp") * 2 / (col("tp") * 2 + col("fp") + col("fn")), 6)
          .as("f1"),
        round((col("tp") + col("tn"))
          / (col("tp") + col("fp") + col("fn") + col("tn")), 6).as("accuracy"),
        // κ = (po − pe) / (1 − pe) with pe from the marginals
        round({
          val n = col("tp") + col("fp") + col("fn") + col("tn")
          val po = (col("tp") + col("tn")) / n
          val pe = ((col("tp") + col("fp")) * (col("tp") + col("fn"))
            + (col("fn") + col("tn")) * (col("fp") + col("tn"))) / (n * n)
          (po - pe) / (lit(1.0) - pe)
        }, 6).as("kappa"))
  }

  /**
   * The stub classifier weights materialized as a (bucket, weight)
   * MODEL TABLE — the artifact a real training run would produce.
   * [[classifierScoreFromTable]] scores from such a table, so
   * swapping in learned weights is literally "point at a different
   * parquet file": the operator's code path is identical either way.
   */
  def classifierWeights(spark: org.apache.spark.sql.SparkSession,
      buckets: Int = 1024): DataFrame = {
    require(buckets > 0 && (buckets & (buckets - 1)) == 0, "buckets must be a power of two")
    spark.range(buckets).toDF("bucket")
      .select(col("bucket"),
        (((col("bucket") * lit(2654435761L) + lit(7L)) % lit(2000001L)) /
          lit(1000000.0) - lit(1.0)).as("weight"))
  }

  /**
   * [[classifierScore]] with the model loaded from a (bucket, weight)
   * table instead of the inline stub — the table-driven half of the
   * model-swap contract. The dense weight vector is driver-bounded by
   * the hashing trick itself (2^b buckets ≈ 8·2^b bytes — a fastText
   * quality classifier is a few MB), collected once and folded into
   * the plan as an array literal; scoring stays a single narrow
   * scan-stage pass with the exact same fold order as the stub path,
   * so the two produce bit-identical scores for equal weights.
   */
  def classifierScoreFromTable(docs: DataFrame, weights: DataFrame,
      textCol: String = "text", idCol: String = "doc_id"): DataFrame = {
    val wrows = weights.select(col("bucket").cast("long"), col("weight").cast("double"))
      .collect().map(r => (r.getLong(0), r.getDouble(1))).sortBy(_._1)
    val buckets = wrows.length
    require(buckets > 0 && (buckets & (buckets - 1)) == 0, "buckets must be a power of two")
    require(wrows.map(_._1).sameElements(0L until buckets.toLong),
      "weights table must cover buckets 0..n-1 exactly")
    val warr = wrows.map(_._2).toSeq
    val w = tokens(col(textCol))
    def weight(tok: Column): Column = {
      val bucket = md5lo64(tok).bitwiseAND(lit((buckets - 1).toLong))
      element_at(typedLit(warr), bucket.cast("int") + 1)
    }
    val wsum = aggregate(transform(w, weight _), lit(0.0), (a, x) => a + x)
    docs.select(
      col(idCol),
      round(lit(1.0) / (lit(1.0) + exp(-(wsum / size(w)))), 4).as("clf_score"),
      (wsum >= 0).as("clf_label"))
  }

  /**
   * The language-marker lists materialized as a (priority, lang,
   * token) MODEL TABLE; [[langIdFromTable]] predicts from such a
   * table — same swap contract as [[classifierWeights]]: replace the
   * markers with learned ones (e.g. top function words per language
   * from a labeled corpus) and nothing else changes.
   */
  def langMarkerTable(spark: org.apache.spark.sql.SparkSession): DataFrame = {
    import spark.implicits._
    langMarkers.zipWithIndex.flatMap { case ((lang, ms), p) =>
      ms.map(tok => (p.toLong, lang, tok))
    }.toDF("priority", "lang", "token")
  }

  /** [[langId]] with markers loaded from a (priority, lang, token) table. */
  def langIdFromTable(docs: DataFrame, markers: DataFrame,
      textCol: String = "text", idCol: String = "doc_id"): DataFrame = {
    val m = markers.select(col("priority").cast("long"), col("lang"), col("token"))
      .collect().map(r => (r.getLong(0), r.getString(1), r.getString(2)))
    // one entry per LANGUAGE (a learned table may list the same lang
    // under several priority rows — merge its marker set, rank the
    // language at its best priority) so s_<lang> columns stay unique
    val byLang: Seq[(String, Seq[String])] = m.groupBy(_._2).toSeq
      .map { case (lang, rows) =>
        (rows.map(_._1).min, lang, rows.map(_._3).distinct.toSeq)
      }
      .sortBy(x => (x._1, x._2))
      .map { case (_, lang, toks) => (lang, toks) }
    val toks = tokens(col(textCol))
    val scored = docs.select(
      (col(idCol) +: byLang.map { case (lang, ms) =>
        size(filter(toks, t => t.isin(ms: _*))).as(s"s_$lang")
      }): _*)
    val scoreCols = byLang.map(x => col(s"s_${x._1}"))
    val maxScore = if (scoreCols.size == 1) scoreCols.head else greatest(scoreCols: _*)
    val pred = byLang.foldRight(lit("und")) { case ((lang, _), elseCol) =>
      when(col(s"s_$lang") === maxScore && maxScore > 0, lit(lang)).otherwise(elseCol)
    }
    scored.withColumn("pred_lang", pred)
      .select(col(idCol), col("pred_lang"))
  }

  /**
   * Train a word-level BPE merge table: ONE pair-counting round over
   * the corpus, top-`nMerges` adjacent-token pairs by (count desc,
   * pair asc). The count is a single shuffle of fused one-pass bigram
   * strings; the merge list is a TakeOrdered — bounded driver memory.
   * (Full iterative BPE re-counts after every merge — `nMerges` corpus
   * passes; the one-round table is the standard large-corpus
   * approximation and keeps train→apply a two-job pipeline.)
   */
  def bpeTrain(docs: DataFrame, nMerges: Int = 20,
      textCol: String = "text"): Seq[(String, String)] =
    docs.select(explode(shingle_strings(lower(col(textCol)), 2)).as("pair"))
      .groupBy("pair").agg(count(lit(1)).as("cnt"))
      .orderBy(col("cnt").desc, col("pair"))
      .limit(nMerges)
      .collect().map { r =>
        val p = r.getString(0).split(" ", 2)
        (p(0), p(1))
      }.toSeq

  /**
   * TRUE iterative BPE training (opt-in): re-count adjacent-unit
   * pairs after every merge, so merge r is chosen over the corpus as
   * segmented by merges 1..r-1 — the textbook algorithm, `nMerges`
   * bounded corpus passes instead of [[bpeTrain]]'s single round.
   * Each round is one explode + count + TakeOrdered(1); the corpus
   * state is never materialized (the segmentation re-derives in the
   * scan via the codegen'd [[graft.functions.BpeSegmentExpr]], whose
   * merge table — the only state — is r rows on the driver). Merged
   * units join with U+0001, so later rounds can merge already-merged
   * units; tie-break (count desc, pair asc) matches [[bpeTrain]].
   * Returns (x, y, count-at-selection) per rank; stops early if the
   * corpus runs out of repeated pairs.
   */
  def bpeTrainIterative(docs: DataFrame, nMerges: Int = 8,
      textCol: String = "text"): Seq[(String, String, Long)] = {
    var merges = Vector.empty[(String, String)]
    var out = Vector.empty[(String, String, Long)]
    val lowered = docs.select(lower(col(textCol)).as("t"))
    var r = 0
    var exhausted = false
    while (r < nMerges && !exhausted) {
      val seg =
        if (merges.isEmpty) col("t")
        else concat_ws(" ", bpe_segment(col("t"), merges))
      val top = lowered.select(explode(shingle_strings(seg, 2)).as("pair"))
        .groupBy("pair").agg(count(lit(1)).as("cnt"))
        .orderBy(col("cnt").desc, col("pair"))
        .limit(1).collect()
      if (top.isEmpty || top(0).getLong(1) < 2) exhausted = true
      else {
        val p = top(0).getString(0).split(" ", 2)
        merges :+= ((p(0), p(1)))
        out :+= ((p(0), p(1), top(0).getLong(1)))
      }
      r += 1
    }
    out
  }

  /**
   * [[bpeTrainIterative]] at SCALE: many merges per corpus scan,
   * EXACTLY equal to the sequential algorithm. Per round, one
   * explode+count job returns the top-`window` pairs; a batch is
   * accepted off the ranked list under two rules that make
   * batched ≡ sequential a theorem, not an approximation:
   *
   *  1. *Disjoint prefix*: walk the ranking, accept a pair only while
   *     its symbols are disjoint from every accepted pair's; stop at
   *     the first conflict. Applying merge (a,b) only mutates counts
   *     of pairs touching `a` or `b` (it can never make two other
   *     units newly adjacent), so accepted pairs' counts are
   *     invariant under each other.
   *  2. *Tie-group hygiene*: a merge-minted pair, e.g. (c, a␁b) with
   *     count ≤ its pre-image (c,a), can TIE an accepted count and
   *     win the name tie-break — but only via a pre-image AT that
   *     count touching an applied symbol. So a tied pair is accepted
   *     only when its whole tie group is visible (count strictly
   *     above the window floor), no tied competitor touches an
   *     accepted pair's symbols, and it is itself disjoint from every
   *     tied competitor. Pre-images below a group mint strictly below
   *     it and ranked pre-images above the stop are impossible
   *     (they'd have been accepted, and accepted pairs are mutually
   *     disjoint) — so every accepted pair is the sequential argmax
   *     at its turn, tie-break included. (Round 12: this generalizes
   *     the original strict-cutoff rule, which dropped ALL tied pairs
   *     at a conflicting count; on tie-plateau corpora the clean
   *     prefix of each group now lands in one scan.)
   *
   * The per-scan batch is adaptive (corpora with many independent
   * frequent pairs take large batches — tied or not; a corpus where
   * one symbol chains through everything degrades to 1/scan = the
   * sequential cadence). Law-pinned:
   * `bpeTrainBatched(n) === bpeTrainIterative(n)` on fixtures AND the
   * sf corpus (reference's iterative trainer contract, re-expressed
   * with a provable batch rule — see OperatorsSpec "batched BPE").
   *
   * Scan cost is INDEPENDENT of the accumulated table size: the
   * segmented corpus is kept materialized and each scan applies only
   * the newest batch (merges apply in rank order, so applying batch
   * t+1 to the state under merges 1..t equals applying 1..t+k to raw
   * text — composition is exact). Without this, every scan re-segments
   * the raw corpus with the FULL table and a 1k-merge train goes
   * superlinear (measured: ~7 s/scan at 128 merges on the 20M-token
   * probe corpus, growing with the table). Each round's checkpoint
   * replaces the previous one; the old blocks are freed immediately
   * ([[org.apache.spark.sql.graft.CheckpointBridge]]), so the loop
   * holds ~2 corpus snapshots of storage at any time.
   */
  def bpeTrainBatched(docs: DataFrame, nMerges: Int = 256,
      textCol: String = "text", window: Int = 512,
      scanCounter: java.util.concurrent.atomic.AtomicInteger = null,
      interferenceTier: Boolean = false): Seq[(String, String, Long)] = {
    import graft.core.Materialize.MaterializeOps
    var out = Vector.empty[(String, String, Long)]
    // segmented-corpus state under the merges accepted so far
    var cur = docs.select(lower(col(textCol)).as("t"))
    var curCkpt: DataFrame = null
    var exhausted = false
    while (out.size < nMerges && !exhausted) {
      if (scanCounter != null) { scanCounter.incrementAndGet(); () }
      val top = cur.select(explode(shingle_strings(col("t"), 2)).as("pair"))
        .groupBy("pair").agg(count(lit(1)).as("cnt"))
        .orderBy(col("cnt").desc, col("pair"))
        .limit(window).collect()
        .map { r => val p = r.getString(0).split(" ", 2); (p(0), p(1), r.getLong(1)) }
      val eligible = top.takeWhile(_._3 >= 2) // BPE stops below 2 occurrences
      if (eligible.isEmpty) exhausted = true
      else {
        // TIE-TOLERANT exact acceptance walk (rank order, stop at the
        // first failure — no gaps, so sequential picks accepted pairs
        // in exactly this order). The load-bearing fact throughout:
        // applying merge (a,b) mutates ONLY pairs of the forms (·,a)
        // and (b,·) — each application destroys occurrences of those
        // and mints (u,a␁b)/(a␁b,v) FROM them (mint count ≤ the
        // destroyed pre-image's count; counts of existing pairs never
        // increase, and merged-away adjacencies never re-form). The
        // affectedness test is therefore DIRECTIONAL: (a,c) is exactly
        // invariant under (a,b) — an `a` followed by `c` is never
        // consumed — even though they share a symbol. (Round 13: this
        // replaces the coarse shares-any-symbol test, which was the
        // recorded head-symbol-overlap bound on Zipf-shaped corpora
        // where every top pair contains the head word.)
        //
        // TIER 1 — invariant candidates. A pair at count c is accepted
        // iff:
        //  (1) it is unaffected by every accepted pair (count exactly
        //      c at its turn);
        //  (2) c is strictly above the window floor when the window
        //      filled (tie group fully visible; nothing unseen below
        //      the window — nor minted from it — can reach c) and
        //      strictly above the mint ceiling (see tier 2);
        //  (3) its tie group is CLEAN: no tied competitor is a
        //      pre-image of an applied merge's mint (a minted pair can
        //      tie at c — with an arbitrary name, so it could win the
        //      (count desc, pair asc) tie-break — only via a pre-image
        //      AT count c, i.e. in the group, in mint position);
        //  (4) applying IT destroys/mints from no tied competitor
        //      (same argument at its own count).
        // Pre-images above the current count are impossible: ranked
        // pairs before the stop are all accepted, and a pre-image of
        // an accepted pair's mint that was itself accepted EARLIER was
        // applied first — its occurrences are already merged away, so
        // it mints nothing (application order = rank order); one
        // accepted LATER is tier-2 by construction (it is affected)
        // and its mints are covered by the mint ceiling. Hence every
        // accepted pair is the sequential argmax at its turn —
        // batched ≡ sequential stays a theorem, tie-break included.
        //
        // TIER 2 — the INTERFERENCE BOUND (round-13, VERDICT ask,
        // tightened to be live). An accepted interferer always ranks
        // at or above the candidate, so bounding its destruction by
        // the interferer's own COUNT can never leave a positive lead
        // — the usable bound is TRIGRAM EVIDENCE: (a,b) destroys an
        // occurrence of (x,y) only at an "x a b" site (when y = a) or
        // an "a b y" site (when x = b), and the initial state's
        // trigram counts upper-bound those sites at every later step
        // (counts never increase under merges, and adjacencies of
        // original symbols never re-form). So when the walk stalls on
        // an affected candidate, ONE lazy extra pass collects the
        // top-window trigram counts (floor-bounded like the bigram
        // window), and the candidate's true count c' ∈ [c − D, c]
        // with D = Σ matching trigram bounds. If c − D still strictly
        // dominates EVERY possible competitor — the next ranked
        // count, the window floor (unseen pairs), and the mint
        // ceiling (mints with an already-applied pre-image are dead,
        // with a later-tier-2-accepted pre-image are bounded by that
        // pair's own D since its minted occurrences ARE its destroyed
        // ones, and with a non-accepted pre-image are tie-rule
        // territory) — and c − D ≥ 2 keeps sequential from stopping,
        // the candidate is the guaranteed argmax at its turn even
        // though its exact count is unknown here. Its TRUE count
        // (what sequential records, and what the oracle replays) is
        // recovered after the walk by one extra corpus pass that
        // re-counts each tier-2 pair under its batch prefix.
        // Strict-dominance means ties never reach tier 2, so the
        // name tie-break needs no argument. MEASURED VERDICT (round
        // 13, 200k-doc Zipf corpus, 256 merges): the directional
        // tier-1 refinement alone lifts cadence 2.1 -> 2.4
        // merges/scan, but enabling this tier DROPS it to 1.3 — its
        // trigram + recovery passes fire nearly every scan while the
        // acceptances they enable average under one merge each, so
        // the bound is exactness-preserving but not cadence-positive
        // on the target corpus shape. Hence `interferenceTier`
        // defaults OFF; the laws pin it stays ≡ sequential when on.
        val windowFloor = if (top.length == window) top.last._3 else -1L
        val effFloor = if (top.length == window) windowFloor else 1L
        val byCount = eligible.groupBy(_._3)
        var firsts = Set.empty[String]  // accepted (a,b): pairs (·,a) are affected
        var seconds = Set.empty[String] // accepted (a,b): pairs (b,·) are affected
        def affected(u: String, v: String): Boolean =
          firsts.contains(v) || seconds.contains(u)
        var acceptedSet = Set.empty[(String, String)]
        var accepted = Vector.empty[(String, String, Long)]
        var exactIdx = Vector.empty[Int] // batch positions needing true-count recovery
        var mintCeil = 0L
        // trigram evidence, collected lazily on the first tier-2 probe
        var triMap: Map[String, Long] = null
        var triFloor = 0L
        def ensureTrigrams(): Unit = if (triMap == null) {
          if (scanCounter != null) { scanCounter.incrementAndGet(); () }
          val t3 = cur.select(explode(shingle_strings(col("t"), 3)).as("tri"))
            .groupBy("tri").agg(count(lit(1)).as("cnt"))
            .orderBy(col("cnt").desc, col("tri"))
            .limit(window).collect()
            .map(r => (r.getString(0), r.getLong(1)))
          triMap = t3.toMap
          triFloor = if (t3.length == window) t3.last._2 else 0L
        }
        var stopped = false
        var i = 0
        while (i < eligible.length && !stopped) {
          val (x, y, c) = eligible(i)
          val tied = byCount(c)
          // accepted group members are exempt from the clean check:
          // their own hazard sets are not a minted-tie hazard against
          // themselves, and (4) already proved them clean against the
          // rest of the group — EXCEPT the head, whose entanglements
          // surface here as a non-accepted competitor in mint
          // position, correctly contaminating its group
          val tier1 = i == 0 || (
            !affected(x, y) &&
            c > windowFloor && c > mintCeil &&
            (tied.length == 1 || tied.forall { t =>
              acceptedSet.contains((t._1, t._2)) ||
                (t._1 == x && t._2 == y) ||
                (!affected(t._1, t._2) &&        // (3), directional
                  t._2 != x && t._1 != y)        // (4), directional
            }))
          var tier2D = 0L
          val tier2 = !tier1 && i > 0 && interferenceTier && {
            val cNext = if (i + 1 < eligible.length) eligible(i + 1)._3 else effFloor
            val bound = math.max(math.max(cNext, effFloor), mintCeil)
            // free pre-check: only pay the trigram pass when the
            // candidate would win even at zero destruction (rules out
            // ties — cNext = c — and spent leads without any I/O)
            c >= 2L && c > bound && {
              ensureTrigrams()
              val d = accepted.iterator.map { case (a, b, ca) =>
                (if (y == a) math.min(triMap.getOrElse(s"$x $a $b", triFloor), ca)
                 else 0L) +
                (if (x == b) math.min(triMap.getOrElse(s"$a $b $y", triFloor), ca)
                 else 0L)
              }.sum
              val cLow = c - d
              val ok = cLow >= 2L && cLow > bound
              if (ok) { mintCeil = math.max(mintCeil, d); tier2D = d }
              ok
            }
          }
          if (!tier1 && !tier2) stopped = true
          else {
            if (tier2 && tier2D > 0) exactIdx :+= accepted.size
            accepted :+= ((x, y, c)); acceptedSet += ((x, y))
            firsts += x; seconds += y; i += 1
          }
        }
        var batch = accepted.take(nMerges - out.size)
        // true-count recovery for tier-2 acceptances: ONE extra corpus
        // pass (counted as a scan — it is one) re-counts each such
        // pair over the state its turn sees (cur + its batch prefix),
        // so the recorded count-at-selection is exactly sequential's
        val recover = exactIdx.filter(_ < batch.size)
        if (recover.nonEmpty) {
          if (scanCounter != null) { scanCounter.incrementAndGet(); () }
          val aggs = recover.map { t =>
            val (x, y, _) = batch(t)
            val seg = if (t == 0) col("t")
              else concat_ws(" ",
                bpe_segment(col("t"), batch.take(t).map(b => (b._1, b._2))))
            sum(size(filter(shingle_strings(seg, 2),
              s => s === lit(x + " " + y)))).cast("long").as(s"c$t")
          }
          val row = cur.select(aggs: _*).collect()(0)
          recover.zipWithIndex.foreach { case (t, j) =>
            batch = batch.updated(t, (batch(t)._1, batch(t)._2, row.getLong(j)))
          }
        }
        out ++= batch
        // advance the segmented state by THIS batch only
        val next = cur.select(concat_ws(" ",
          bpe_segment(col("t"), batch.map(b => (b._1, b._2)))).as("t")).materializeRound
        if (curCkpt != null)
          org.apache.spark.sql.graft.CheckpointBridge.freeLocalCheckpoint(curCkpt)
        cur = next
        curCkpt = next
        if (scanCounter != null)
          System.err.println(s"==   bpe scan ${scanCounter.get()}: " +
            s"+${batch.size} merges (total ${out.size}, floor $windowFloor)")
      }
    }
    if (curCkpt != null)
      org.apache.spark.sql.graft.CheckpointBridge.freeLocalCheckpoint(curCkpt)
    out
  }

  /**
   * Apply a learned BPE merge table ([[bpeTrain]]) to segment each
   * document: merges apply in rank order, left-to-right,
   * non-overlapping ([[graft.functions.BpeSegmentExpr]] — scan-stage,
   * no shuffle, the merge table rides the plan). Output per doc:
   * token count, unit count (n_tokens − units merged away), and the
   * segmentation with units '|'-separated and merged units
   * space-joined.
   */
  /**
   * Apply a LEARNED merge table read from a DataFrame — the
   * model-swap discipline (classifierScoreFromTable /
   * langIdFromTable) applied to the tokenizer: the merge list is a
   * data artifact, so retraining is a table overwrite, not a code
   * change. The table is merge-count-bounded (collect is O(vocab
   * additions), not corpus); rows apply in `rank` order.
   */
  def bpeApplyFromTable(docs: DataFrame, merges: DataFrame,
      textCol: String = "text", idCol: String = "doc_id"): DataFrame = {
    val learned = merges.orderBy("rank").select("x", "y").collect()
      .map(r => (r.getString(0), r.getString(1))).toSeq
    bpeApply(docs, learned, textCol, idCol)
  }

  def bpeApply(docs: DataFrame, merges: Seq[(String, String)],
      textCol: String = "text", idCol: String = "doc_id"): DataFrame = {
    val units = bpe_segment(lower(col(textCol)), merges)
    docs.select(
      col(idCol),
      size(tokens(col(textCol))).cast("long").as("n_tokens"),
      size(units).cast("long").as("n_units"),
      translate(concat_ws("|", units), "\u0001", " ").as("seg"))
  }

  /**
   * Deterministic document fingerprints: order-sensitive polynomial
   * hash + simhash sketch, both over md5lo64 token hashes so any SQL
   * engine can recompute them exactly (the DuckDB oracle folds the
   * identical recurrence with `list_reduce`). The FNV single-pass
   * variants (`rolling_hash`, `simhash64`) remain the throughput path.
   */
  def fingerprints(docs: DataFrame, textCol: String = "text", idCol: String = "doc_id"): DataFrame = {
    val toks = tokens(col(textCol))
    docs.select(
      col(idCol),
      poly_fingerprint(toks).as("fingerprint"),
      simhash_md5(toks).as("simhash"))
  }

  /**
   * Zipf rank-frequency fit over the `topK` most frequent tokens:
   * least-squares slope/intercept of ln(freq) against ln(rank) — the
   * corpus-governance check that token frequencies follow the
   * expected power law (slope ≈ −1 for natural text; a flat or
   * broken slope flags templated/synthetic contamination). One
   * distributed frequency aggregation; only topK rows (a TakeOrdered,
   * not a sort) reach the driver for the closed-form fit. Terms are
   * round6'd before summation in rank order so any engine replays the
   * fold bit-comparably.
   */
  def zipfFit(docs: DataFrame, topK: Int = 100,
      textCol: String = "text"): DataFrame = {
    val spark = docs.sparkSession
    val top = docs.select(explode(tokens(col(textCol))).as("tok"))
      .groupBy("tok").agg(count(lit(1)).as("cnt"))
      .orderBy(col("cnt").desc, col("tok").asc).limit(topK)
      .collect().map(_.getLong(1))
    def r6(x: Double): Double =
      BigDecimal(x).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    val xy = top.zipWithIndex.map { case (c, i) =>
      (r6(math.log(i + 1.0)), r6(math.log(c.toDouble)))
    }
    val n = xy.length.toDouble
    val sx = xy.map(_._1).sum
    val sy = xy.map(_._2).sum
    val sxy = xy.map { case (x, y) => r6(x * y) }.sum
    val sxx = xy.map { case (x, _) => r6(x * x) }.sum
    val slope = (n * sxy - sx * sy) / (n * sxx - sx * sx)
    val intercept = (sy - slope * sx) / n
    def r4(x: Double): Double =
      BigDecimal(x).setScale(4, BigDecimal.RoundingMode.HALF_UP).toDouble
    import spark.implicits._
    Seq((xy.length.toLong, r4(slope), r4(intercept)))
      .toDF("n_ranks", "slope", "intercept")
  }

  /**
   * Winnowing fingerprints (Schleimer/Wilkerson/Aiken, SIGMOD'03 —
   * the MOSS algorithm): hash every word `k`-gram, slide a window of
   * `w` consecutive hashes, keep each window's minimum. The selected
   * set is a ~2/(w+1)-density sample of the k-grams with the winnowing
   * guarantee: any shared run of ≥ w+k-1 tokens between two documents
   * shares at least one selected fingerprint — the basis for
   * exact-substring contamination detection without comparing full
   * shingle sets.
   *
   * Everything per-doc is codegen'd higher-order functions over the
   * token array (k-gram md5 hashes → sliding-window minima →
   * distinct), so fingerprint selection rides the scan stage with no
   * shuffle; only the (doc_id, fp) sample — w+1 times smaller than
   * the shingle set — ever moves. Hashes are md5lo64 with the sign
   * bit cleared so min-ordering is identical in any engine comparing
   * signed 64-bit values.
   *
   * Output: one row per (doc_id, fp), distinct.
   */
  def winnowFingerprints(docs: DataFrame, k: Int = 4, w: Int = 5,
      textCol: String = "text", idCol: String = "doc_id"): DataFrame =
    // one codegen'd pass per doc ([[graft.functions.WinnowMd5DocExpr]]);
    // the HOF composition (transform/slice/array_min over the token
    // array) runs its lambdas interpreted, re-evaluating per element —
    // measured ~20× slower at 200k docs
    docs.select(col(idCol).as("doc_id"),
      explode(winnow_md5_doc(lower(col(textCol)), k, w)).as("fp"))

  /**
   * Per-document winnowing census: k-gram count, selected-fingerprint
   * count, and the smallest fingerprint — the compaction-rate /
   * sanity view of [[winnowFingerprints]] (n_fps ≈ 2·n_grams/(w+1)
   * on random text).
   */
  def winnowCensus(docs: DataFrame, k: Int = 4, w: Int = 5,
      textCol: String = "text", idCol: String = "doc_id"): DataFrame =
    winnowFingerprints(docs, k, w, textCol, idCol)
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_fps"), min("fp").as("min_fp"))

  /**
   * Contamination candidates from shared winnowing fingerprints: doc
   * pairs selecting ≥ `minShared` common fingerprints, with the
   * shared count. Candidate generation is the posting-list form
   * ([[Dedup.pairsFromBuckets]]' shape) on the winnowed sample —
   * the pair shuffle carries the ~2/(w+1) sample, not the shingle
   * set, so the candidate stage is w+1 times lighter than
   * [[Dedup.ngramJaccardPairs]] on the same corpus.
   *
   * CAP SEMANTICS (explicit, not silent): a fingerprint selected by
   * more than `maxBucket` docs is a corpus-wide boilerplate window —
   * standard winnowing practice drops it as a stop-fingerprint, which
   * UNDERCOUNTS `shared` for pairs relying on it (pairs sharing ≥
   * `minShared` rarer fingerprints still surface). Make the drop
   * observable with [[Dedup.oversizedBucketCensus]] over the same
   * (fp, doc_id) table when auditing a corpus.
   */
  def winnowSharedPairs(docs: DataFrame, k: Int = 4, w: Int = 5,
      minShared: Long = 3, maxBucket: Int = 10000,
      textCol: String = "text", idCol: String = "doc_id"): DataFrame = {
    val fps = winnowFingerprints(docs, k, w, textCol, idCol)
    fps.groupBy("fp").agg(collect_list(col("doc_id")).as("ids"))
      .filter(size(col("ids")).between(2, maxBucket))
      .select(explode(col("ids")).as("a_id"), col("ids"))
      .select(col("a_id"), explode(col("ids")).as("b_id"))
      .filter(col("a_id") < col("b_id"))
      .groupBy("a_id", "b_id")
      .agg(count(lit(1)).as("shared"))
      .filter(col("shared") >= minShared)
  }

  /**
   * Multinomial Naive Bayes FIT — the trainable counterpart of the
   * fixed-weight [[classifierScoreFromTable]]: the model IS a table,
   * learned from labeled docs with one pass of count aggregates (the
   * reference's accumulate step generalized to a keyed fold;
   * src/mr.c:787-810). Output: one DENSE row per (label, token) over
   * the bounded vocab — log P(token|label) with add-one smoothing —
   * plus a per-label `(label, '', log_prior)` row (empty token; real
   * tokens are never empty after split).
   *
   * Scale shape: vocab is BOUNDED (global train count ≥ `minCount` —
   * the LM family's discipline), so the dense vocab × labels grid is
   * model-sized, never corpus-sized; the only corpus-wide exchanges
   * are the two count aggregates (map-side combining). Smoothing
   * arithmetic stays in exact-integer territory until the final log.
   */
  def naiveBayesModel(train: DataFrame, labelCol: String = "label",
      textCol: String = "text", minCount: Long = 2): DataFrame =
    naiveBayesModelFromCounts(nbCountState(train, labelCol, textCol), minCount)

  /**
   * The MERGEABLE sufficient statistics behind [[naiveBayesModel]]:
   * per-(label, token) instance counts plus per-label doc counts on
   * empty-token rows — NB's whole training state is counts, so two
   * corpora's states merge by summing (label, token) groups. This is
   * the streaming-maintenance contract: each micro-batch writes its
   * own state partition and the model refits from the merged ledger
   * ([[graft.streaming.DocumentStreams.streamingNbMaintenance]] —
   * the [[Similarity.momentState]] discipline for text).
   *
   * Compatibility note: ledgers written BEFORE the empty-token filter
   * below may contain legacy token='' rows minted from irregular
   * whitespace; [[naiveBayesModelFromCounts]] cannot distinguish those
   * from doc-count sentinel rows, so refitting from an old ledger
   * keeps the corrupted priors. Regenerate such ledgers by replaying
   * the source (the per-`batch=<id>` overwrite sink makes this cheap).
   */
  def nbCountState(train: DataFrame, labelCol: String = "label",
      textCol: String = "text"): DataFrame = {
    // empty tokens (consecutive/leading/trailing spaces) are dropped at
    // tokenization: '' is the doc-count sentinel and must stay outside
    // the token domain or irregular whitespace corrupts the priors
    val toks = train.select(col(labelCol).as("label"),
      explode(split(lower(col(textCol)), " ")).as("token"))
      .filter(col("token") =!= "")
    toks.groupBy("label", "token").agg(count(lit(1)).as("n"))
      .unionByName(train.groupBy(col(labelCol).as("label"))
        .agg(count(lit(1)).as("n")).select(col("label"), lit("").as("token"), col("n")))
  }

  /** Fit the dense smoothed model from (merged) [[nbCountState]] rows. */
  def naiveBayesModelFromCounts(state: DataFrame, minCount: Long = 2): DataFrame = {
    val merged = state.groupBy("label", "token").agg(sum(col("n")).as("n"))
      .localCheckpoint() // token counts, doc counts, and vocab all read it
    val tokCounts = merged.filter(col("token") =!= "")
    val vocab = tokCounts.groupBy("token").agg(sum(col("n")).as("c"))
      .filter(col("c") >= minCount).select("token")
    val counts = tokCounts.join(broadcast(vocab), Seq("token"))
    // the label universe comes from the doc-count sentinel rows, NOT
    // from counts: a label whose every token falls below minCount
    // still gets dense-grid rows (tn=0 ⇒ uniform smoothed 1/V per
    // token), so it competes in every doc's argmax exactly like the
    // oracle's CROSS-JOIN-prior universe — without it, the label
    // would be silently excluded for in-vocab docs yet still win
    // all-OOV docs via the prior fallback (internally inconsistent)
    val labelUniverse = merged.filter(col("token") === "").select("label")
    val labelTotals = labelUniverse
      .join(counts.groupBy("label").agg(sum(col("n")).as("tn")), Seq("label"), "left")
      .select(col("label"), coalesce(col("tn"), lit(0L)).as("tn"))
    val vocabSize = vocab.agg(count(lit(1)).as("vs"))
    // dense grid: a (label, token) pair with no training hits still
    // scores the smoothed 1/(tn+V) — absent rows would silently skip
    // the penalty and inflate rare-token labels
    val dense = labelTotals.select("label", "tn")
      .crossJoin(broadcast(vocab))
      .join(counts, Seq("label", "token"), "left")
      .crossJoin(broadcast(vocabSize))
      .select(col("label"), col("token"),
        log((coalesce(col("n"), lit(0L)) + lit(1.0)) / (col("tn") + col("vs")))
          .as("log_prob"))
    val docCounts = merged.filter(col("token") === "")
      .select(col("label"), col("n").as("docs"))
    val priors = docCounts
      .crossJoin(broadcast(docCounts.agg(sum(col("docs")).as("all_docs"))))
      .select(col("label"), lit("").as("token"),
        log(col("docs") / col("all_docs")).as("log_prob"))
    dense.unionByName(priors)
  }

  /**
   * Score docs against a [[naiveBayesModel]] table and keep each
   * doc's argmax label. The model broadcasts (bounded vocab × labels);
   * the corpus-sized work is one exploded-token join + one
   * (doc, label) sum — OOV tokens contribute nothing (the dense grid
   * already charges unseen-but-in-vocab tokens), but every input doc
   * survives: scoring left-joins from the doc × label universe, so an
   * all-OOV doc falls back to the prior-only argmax instead of being
   * dropped. Scores round to 6dp BEFORE the argmax so an engine-replay
   * picks the same winner; ties break to the smallest label.
   */
  def naiveBayesClassify(docs: DataFrame, model: DataFrame,
      textCol: String = "text", idCol: String = "doc_id"): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    // materialize the model ONCE: the scoring plan reads it three
    // times (token grid + two prior broadcasts), and without this the
    // dense-grid build (vocab aggregate, count joins, cross joins)
    // recompiles and re-executes per reference — the table is bounded
    // (vocab × labels, broadcastable by contract), so the checkpoint
    // is small and the plan collapses to three scans of one RDD
    val mat = model.localCheckpoint()
    val m = mat.filter(col("token") =!= "")
    val priors = mat.filter(col("token") === "")
      .select(col("label"), col("log_prob").as("log_prior"))
    val toks = docs.select(col(idCol),
      explode(split(lower(col(textCol)), " ")).as("token"))
      .filter(col("token") =!= "")
    val tokenScores = toks.join(broadcast(m), Seq("token"))
      .groupBy(col(idCol), col("label"))
      .agg(sum(col("log_prob")).as("s"))
    // score from the doc universe, not the token join: a doc whose
    // tokens are all OOV still gets a prior-only argmax instead of
    // silently vanishing. The model grid is dense (every in-vocab
    // token scores every label), so per doc tokenScores holds either
    // ALL labels or none — the prior-only fallback is needed exactly
    // for the anti-joined (all-OOV) docs, and unioning those in costs
    // one |docs|-sized anti-join instead of re-shuffling the full
    // |docs| x |labels| universe through a left join
    val scoredHit = tokenScores.join(broadcast(priors), Seq("label"))
      .select(col(idCol), col("label"),
        round(col("s") + col("log_prior"), 6).as("score"))
    // docs with ≥1 in-vocab token are EXACTLY tokenScores' doc ids
    // (the grid is dense, so any in-vocab hit scores every label) —
    // derive the anti-join side from the aggregate already computed
    // instead of re-scanning + re-exploding the corpus against a
    // second broadcast of the vocab (one full corpus pass saved; the
    // shared tokenScores exchange is reused at runtime)
    val vocabDocs = tokenScores.select(col(idCol)).distinct()
    val scoredOov = docs.select(col(idCol))
      .join(vocabDocs, Seq(idCol), "left_anti")
      .crossJoin(broadcast(priors))
      .select(col(idCol), col("label"),
        round(col("log_prior"), 6).as("score"))
    val scored = scoredHit.unionByName(scoredOov)
    val w = Window.partitionBy(idCol).orderBy(col("score").desc, col("label"))
    scored.withColumn("rn", row_number().over(w))
      .filter(col("rn") === 1)
      .select(col(idCol), col("label").as("pred"), col("score"))
  }
}
