package graft.operators

import org.apache.spark.sql.{Column, DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{ByteType, IntegerType, LongType, ShortType, StructField, StructType}

import graft.core.{Fixpoint, LocalGraph}
import graft.core.Materialize.MaterializeOps
import graft.functions.TextFunctions._
import graft.functions.VectorFunctions._

/**
 * Large-scale document deduplication — the north-star LLM-pipeline
 * operators (SURVEY §2.4 "North-star additions"). The reference
 * engine has none of these; each is designed for the 100 TB case:
 * no O(n²) pair scan — candidates come from an inverted index
 * (shingles), LSH bands (MinHash), chunk buckets (SimHash), or
 * projection buckets (embeddings), so the expensive verification
 * join only touches plausible pairs. All shuffles are keyed by
 * content hashes, which are uniformly distributed → no skew.
 */
object Dedup {

  /** Lower-cased whitespace tokens of a text column. */
  def tokens(text: Column): Column = split(lower(text), " ")

  /**
   * Driver-collect gate for the incremental probe paths: collect the
   * single-column frame ONLY if it holds ≤ `limit` rows (checked via
   * `limit(n+1)` — never a full materialization), else None and the
   * caller must stay distributed (plain scan / semi-join). A backfill
   * batch with millions of distinct hashes must not land 100s of MB
   * on the driver just to be discarded over the threshold.
   */
  private def boundedCollect[T](df: DataFrame, limit: Int)(get: Row => T): Option[Seq[T]] = {
    val rows = df.limit(limit + 1).collect()
    if (rows.length > limit) None else Some(rows.toSeq.map(get))
  }

  /**
   * `col IN <set>` as a single catalyst InSet node. `isInCollection`
   * builds an In with one Literal CHILD per value — at a 10k-hash
   * batch that's a 10k-node expression tree and seconds of
   * driver-side analysis; InSet carries the values as one hash set
   * (O(1) planning, hash-probe eval) and still qualifies for bucket
   * pruning and data-source filter pushdown.
   */
  private[operators] def inSet(c: Column, values: Seq[Any]): Column = {
    import org.apache.spark.sql.graft.ColumnBridge
    // InSet compares INTERNAL values: strings must enter as UTF8String
    val internal = values.map {
      case s: String => org.apache.spark.unsafe.types.UTF8String.fromString(s)
      case v => v
    }
    ColumnBridge.column(org.apache.spark.sql.catalyst.expressions.InSet(
      ColumnBridge.eagerExpression(c), internal.toSet[Any]))
  }

  /**
   * Exact dedup via content hash: one hash-shuffle, map-side partial
   * aggregation. Output: one row per duplicated content hash.
   */
  def exactDupGroups(docs: DataFrame, textCol: String = "text", idCol: String = "doc_id"): DataFrame =
    docs
      .select(md5(col(textCol)).as("text_hash"), col(idCol))
      .groupBy("text_hash")
      .agg(count("*").as("n_copies"), min(col(idCol)).as("keep_id"))
      .filter(col("n_copies") > 1)

  /** Keep one representative (min id) per exact content hash. */
  def dropExactDups(docs: DataFrame, textCol: String = "text", idCol: String = "doc_id"): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy(md5(col(textCol))).orderBy(col(idCol))
    docs.withColumn("_rn", row_number().over(w)).filter(col("_rn") === 1).drop("_rn")
  }

  /** Distinct word n-gram shingles per doc: (id, shingle). */
  def shingles(docs: DataFrame, n: Int, textCol: String = "text", idCol: String = "doc_id"): DataFrame = {
    // token array staged as a column before the lambda slices it:
    // interpreted lambda bodies re-evaluate non-attribute
    // subexpressions per element, so the inlined split would re-run
    // per shingle position — O(tokens²) regex work per doc
    val staged = docs.select(col(idCol).as("id"), tokens(col(textCol)).as("__w"))
    val w = col("__w")
    // one shingle per start position i in [1, len-n+1] (1-based
    // slice); the `when` guard matters — sequence(1, 0) is a
    // DESCENDING [1, 0] in Spark, not empty
    val sh = when(size(w) >= n,
      transform(sequence(lit(1), size(w) - (n - 1)),
        i => concat_ws(" ", slice(w, i, lit(n)))))
      .otherwise(array().cast("array<string>"))
    staged.select(col("id"), explode(array_distinct(sh)).as("shingle"))
  }

  /**
   * Distinct hashed shingles per doc: (id, sh: long). Tokenize +
   * shingle + hash happen in ONE pass over the text bytes inside the
   * scan stage ([[graft.functions.ShingleHashesExpr]]) — at 100 TB
   * the shuffle moves 8-byte keys, never shingle text, and the scan
   * stays O(bytes) per document.
   */
  def shinglesHashed(docs: DataFrame, n: Int, textCol: String = "text",
      idCol: String = "doc_id"): DataFrame =
    docs.select(col(idCol).as("id"), explode(shingle_hashes(col(textCol), n)).as("sh"))

  /**
   * Exact n-gram Jaccard near-dup pairs via shingle inverted index:
   * docs sharing ≥1 shingle are candidates; jaccard = |∩|/|∪| over
   * distinct shingle sets. The shingle join is the scale lever: with
   * n≥5 shingles are near-unique, so posting lists stay short and the
   * candidate set is ~linear in the number of true near-dups. All
   * join/group keys are 8-byte shingle hashes (see [[shinglesHashed]]).
   *
   * `maxPosting` caps the posting lists (guide §2.5 skew): a
   * stop-shingle shared by millions of docs would otherwise buffer
   * one collect_list of millions of structs and explode m²/2 pairs
   * from a single group — the [[pairsFromBuckets]] guard, applied
   * here. Dropping an over-cap shingle removes its contribution to
   * |∩| (the CCNet/Gopher stop-gram convention for web-scale dedup);
   * with n≥5 the cap never binds on natural text — the fixture-scale
   * maximum list is orders of magnitude below the default, so
   * results are identical to the uncapped form (law-tested).
   */
  def ngramJaccardPairs(docs: DataFrame, n: Int = 5, threshold: Double = 0.7,
      textCol: String = "text", idCol: String = "doc_id",
      maxPosting: Int = 10000): DataFrame = {
    // ONE scan, ONE shingle evaluation: the set size rides each
    // exploded (id, sh) row as scan-stage metadata, so no second
    // corpus pass computes sizes and no join reattaches them — the
    // sizes travel the posting lists (8 extra bytes/row on
    // near-singleton lists) and fall out of the pair aggregate's key
    // (guide §2.3: shuffle small metadata instead of re-joining).
    val sh = docs
      .select(col(idCol).as("id"), shingle_hashes(col(textCol), n).as("arr"))
      .select(col("id"), size(col("arr")).cast("long").as("n_sh"),
        explode(col("arr")).as("sh"))
    // posting lists instead of a self-join: ONE shuffle of the
    // (id, n_sh, sh) rows builds per-shingle lists; pairs explode
    // from lists with ≥2 docs. With n≥5 shingles are near-unique, so
    // lists are near-singleton and the pair explosion is ~linear in
    // true near-dups — where a sort-merge self-join would sort both
    // 19M-row sides at the 200k-doc probe scale.
    sh.groupBy("sh")
      .agg(collect_list(struct(col("id"), col("n_sh"))).as("ids"))
      .filter(size(col("ids")).between(2, maxPosting))
      .select(explode(col("ids")).as("a"), col("ids"))
      .select(col("a"), explode(col("ids")).as("b"))
      .filter(col("a.id") < col("b.id"))
      // n_sh is a function of the id, so widening the grouping key
      // with (na, nb) changes no group boundaries
      .groupBy(col("a.id").as("a_id"), col("b.id").as("b_id"),
        col("a.n_sh").as("na"), col("b.n_sh").as("nb"))
      .agg(count("*").as("n_inter"))
      .withColumn("jaccard", col("n_inter") / (col("na") + col("nb") - col("n_inter")))
      .filter(col("jaccard") >= threshold)
      .select(col("a_id"), col("b_id"), round(col("jaccard"), 4).as("jaccard"))
  }

  /**
   * N-gram CONTAINMENT pairs — the asymmetric near-superset relation
   * symmetric jaccard misses: containment(A in B) = |A∩B| / |A| stays
   * ≈1 when a small doc is quoted/embedded inside a much larger one
   * even though their jaccard is tiny (Broder's resemblance vs
   * containment). The quotation / partial-copy / boilerplate-wrapper
   * detector. Same ONE-shuffle posting-list machinery as
   * [[ngramJaccardPairs]]; a pair surfaces when EITHER direction
   * clears the threshold, with both directional scores reported.
   * `maxPosting` caps the posting lists — the same §2.5 skew guard
   * and stop-gram semantics documented at [[ngramJaccardPairs]].
   */
  def ngramContainmentPairs(docs: DataFrame, n: Int = 5,
      threshold: Double = 0.8, textCol: String = "text",
      idCol: String = "doc_id", maxPosting: Int = 10000): DataFrame = {
    // same one-scan metadata-carrying shape as [[ngramJaccardPairs]]
    val sh = docs
      .select(col(idCol).as("id"), shingle_hashes(col(textCol), n).as("arr"))
      .select(col("id"), size(col("arr")).cast("long").as("n_sh"),
        explode(col("arr")).as("sh"))
    sh.groupBy("sh")
      .agg(collect_list(struct(col("id"), col("n_sh"))).as("ids"))
      .filter(size(col("ids")).between(2, maxPosting))
      .select(explode(col("ids")).as("a"), col("ids"))
      .select(col("a"), explode(col("ids")).as("b"))
      .filter(col("a.id") < col("b.id"))
      .groupBy(col("a.id").as("a_id"), col("b.id").as("b_id"),
        col("a.n_sh").as("na"), col("b.n_sh").as("nb"))
      .agg(count("*").as("n_inter"))
      .withColumn("c_ab", col("n_inter") / col("na"))
      .withColumn("c_ba", col("n_inter") / col("nb"))
      .filter(greatest(col("c_ab"), col("c_ba")) >= threshold)
      .select(col("a_id"), col("b_id"),
        round(col("c_ab"), 4).as("c_ab"), round(col("c_ba"), 4).as("c_ba"))
  }

  /**
   * Candidate pairs from equal-bucket membership — the shared
   * sub-quadratic candidate generator: ONE groupBy shuffle builds
   * per-bucket posting lists, pairs explode from lists with ≥2
   * members, `maxBucket` caps adversarial buckets (a bucket of size m
   * yields m²/2 pairs; the cap bounds any single bucket's
   * contribution at the 100 TB design point). A self-join formulation
   * shuffles and sorts the bucket table twice; this shuffles it once.
   */
  def pairsFromBuckets(buckets: DataFrame, bucketCols: Seq[String],
      idCol: String = "id", maxBucket: Int = 10000): DataFrame =
    buckets.groupBy(bucketCols.map(col): _*)
      .agg(collect_list(col(idCol)).as("ids"))
      .filter(size(col("ids")).between(2, maxBucket))
      .select(explode(col("ids")).as("a_id"), col("ids"))
      .select(col("a_id"), explode(col("ids")).as("b_id"))
      .filter(col("a_id") < col("b_id"))
      .dropDuplicates("a_id", "b_id")

  /**
   * Census of the buckets [[pairsFromBuckets]]' cap would truncate —
   * the "no silent caps" observability hook: one row per bucket over
   * `maxBucket` with its member count, so a pipeline can report (or
   * alert on) exactly how much candidate mass the cap touches.
   */
  def oversizedBucketCensus(buckets: DataFrame, bucketCols: Seq[String],
      idCol: String = "id", maxBucket: Int = 10000): DataFrame =
    buckets.groupBy(bucketCols.map(col): _*)
      .agg(count(col(idCol)).as("n_members"))
      .filter(col("n_members") > maxBucket)

  /**
   * [[pairsFromBuckets]] with REFINE-NOT-DROP oversized buckets — the
   * viral-boilerplate fix: a bucket over `maxBucket` (20k
   * near-identical docs sharing a band hash) is never discarded.
   * Instead its members re-group on `refineCol` — a FINER content key
   * (full-signature hash for MinHash bands, exact-vector hash for
   * embedding LSH) — and emit a connectivity-complete candidate set:
   *
   *  1. members sharing the refine key (byte-identical content under
   *     the sketch) link by a STAR to the group's min id — O(m) pairs
   *     for the duplicated mass instead of O(m²);
   *  2. one representative per refine-key group cross-links the
   *     groups: all-pairs when the rep set fits `maxBucket`, else a
   *     star over the reps (center = min rep).
   *
   * Every member is thus linked into its bucket's candidate graph —
   * nothing is dropped. For oversized buckets the emitted pair set is
   * the closure-sufficient SUBSET, not the literal quadratic set:
   * downstream verification + connected components recover the same
   * clusters whenever the bucket is a true near-dup class (star edges
   * verify — the members are near-identical), while an adversarial
   * bucket of unrelated colliders emits O(m) candidates whose false
   * edges verification kills anyway. Small buckets are bit-identical
   * to [[pairsFromBuckets]]. Reference analog: the shuffle batching
   * cap is a wake-up threshold, never a data drop (src/mr.c:671).
   */
  def pairsFromBucketsRefined(buckets: DataFrame, bucketCols: Seq[String],
      refineCol: String, idCol: String = "id",
      maxBucket: Int = 10000): DataFrame = {
    val bcols = bucketCols.map(col)
    // ONE aggregate + ONE streaming Generate
    // ([[graft.functions.BucketPairsExpr]]): the 4-branch union form
    // (kept below as the law-test foil) re-runs the bucket aggregation
    // once per branch — Spark reuses the exchange but not the final
    // collect_list above it (measured ~30% of dedup_minhash at sf0.1)
    buckets.groupBy(bcols: _*)
      .agg(collect_list(struct(col(idCol).cast("long").as("id"),
        col(refineCol).cast("long").as("rk"))).as("xs"))
      .select(graft.functions.BucketPairsExpr.bucket_pairs(col("xs"), maxBucket))
      .dropDuplicates("a_id", "b_id")
  }

  /**
   * The join/union formulation of [[pairsFromBucketsRefined]] — the
   * law-test foil pinning the Generator's pair-set semantics (specs
   * assert set equality on small, oversized, and mixed-rk buckets).
   */
  private[operators] def pairsFromBucketsRefinedJoins(buckets: DataFrame,
      bucketCols: Seq[String], refineCol: String, idCol: String = "id",
      maxBucket: Int = 10000): DataFrame = {
    val bcols = bucketCols.map(col)
    val lists = buckets.groupBy(bcols: _*)
      .agg(collect_list(struct(col(idCol).as("id"), col(refineCol).as("rk"))).as("xs"))
    val small = lists.filter(size(col("xs")).between(2, maxBucket))
      .select(explode(col("xs")).as("a"), col("xs"))
      .select(col("a.id").as("a_id"), explode(col("xs")).as("b"))
      .select(col("a_id"), col("b.id").as("b_id"))
      .filter(col("a_id") < col("b_id"))
    val bigMembers = lists.filter(size(col("xs")) > maxBucket)
      .select(bcols :+ explode(col("xs")).as("x"): _*)
      .select(bcols ++ Seq(col("x.id").as("id"), col("x.rk").as("rk")): _*)
    val groups = bigMembers.groupBy(bcols :+ col("rk"): _*)
      .agg(collect_list(col("id")).as("ids"), min(col("id")).as("rep"))
    // star within each equal-refine-key group (rep = min id, so
    // a_id < b_id holds by construction)
    val stars = groups.filter(size(col("ids")) >= 2)
      .select(col("rep").as("a_id"), explode(col("ids")).as("b_id"))
      .filter(col("a_id") =!= col("b_id"))
    // cross-group links: all-pairs over the reps when they fit the
    // cap, else a star over the reps
    val repLists = groups.groupBy(bcols: _*)
      .agg(collect_list(col("rep")).as("reps"))
      .filter(size(col("reps")) >= 2)
    val repPairs = repLists.filter(size(col("reps")) <= maxBucket)
      .select(explode(col("reps")).as("a_id"), col("reps"))
      .select(col("a_id"), explode(col("reps")).as("b_id"))
      .filter(col("a_id") < col("b_id"))
    val repStars = repLists.filter(size(col("reps")) > maxBucket)
      .select(array_min(col("reps")).as("a_id"), explode(col("reps")).as("b_id"))
      .filter(col("a_id") =!= col("b_id"))
    small.unionByName(stars).unionByName(repPairs).unionByName(repStars)
      .dropDuplicates("a_id", "b_id")
  }

  /**
   * MinHash + LSH banding near-dup pairs (the scalable path at
   * 100 TB): k-long signature per doc (one pass), split into `bands`
   * bands; docs sharing any band hash are candidates; candidates are
   * verified with exact token-set Jaccard. Probability a pair with
   * jaccard s becomes a candidate: 1-(1-s^(k/bands))^bands.
   */
  def minhashNearDupPairs(docs: DataFrame, k: Int = 64, bands: Int = 16,
      threshold: Double = 0.7, shingleN: Int = 5,
      textCol: String = "text", idCol: String = "doc_id",
      maxBucket: Int = 10000): DataFrame = {
    // signatures AND shingle sets are scan-stage expressions — no
    // shuffle until the band self-join
    val shingleSets = docs.select(col(idCol).as("id"),
      shingle_hashes(col(textCol), shingleN).as("sh_set"))
    val sigs = docs.select(col(idCol).as("id"),
      minhash_doc(col(textCol), shingleN, k).as("sig"))
    // slim band table (id, band_idx, band_hash, rk) — the self-join
    // never carries shingle arrays, so the band shuffle is 32
    // bytes/row; rk (full-signature hash) is the refine key that lets
    // an oversized band bucket collapse its identical-signature mass
    // into stars instead of dropping it (pairsFromBucketsRefined)
    val bandz = sigs.select(col("id"), xxhash64(col("sig")).as("rk"),
        bandHashes(col("sig"), k, bands))
      .withColumnRenamed("pos", "band_idx").withColumnRenamed("col", "band_hash")
    val cand = pairsFromBucketsRefined(bandz, Seq("band_idx", "band_hash"), "rk",
      maxBucket = maxBucket)
    // verify only the (few) candidates: join the shingle sets back
    cand
      .join(shingleSets.select(col("id").as("a_id"), col("sh_set").as("a_sh")), "a_id")
      .join(shingleSets.select(col("id").as("b_id"), col("sh_set").as("b_sh")), "b_id")
      .withColumn("n_inter", size(array_intersect(col("a_sh"), col("b_sh"))))
      .withColumn("jaccard",
        col("n_inter") / (size(col("a_sh")) + size(col("b_sh")) - col("n_inter")))
      .filter(col("jaccard") >= threshold)
      .select(col("a_id"), col("b_id"), round(col("jaccard"), 4).as("jaccard"))
  }

  /**
   * Incremental near-dup detection: pairs between a (small) batch of
   * NEW documents and the existing corpus — the continuous-ingest
   * dedup decision ("is this incoming doc a near-dup of anything we
   * already have?") without re-pairing the corpus against itself.
   *
   * Scale: the new batch's hashed shingles broadcast (a batch is
   * MBs/GBs against a 100 TB corpus), so the corpus side is one scan
   * whose shingles are probed in the scan stage — only rows hitting
   * the batch reach the pair aggregation. Candidates are verified
   * with exact jaccard, like [[ngramJaccardPairs]].
   */
  def incrementalNearDupPairs(newDocs: DataFrame, corpus: DataFrame,
      n: Int = 5, threshold: Double = 0.7,
      textCol: String = "text", idCol: String = "doc_id"): DataFrame = {
    val shNew = shinglesHashed(newDocs, n, textCol, idCol)
      .withColumnRenamed("id", "new_id")
    val shCorp = shinglesHashed(corpus, n, textCol, idCol)
      .withColumnRenamed("id", "corpus_id")
    val inter = shCorp.join(broadcast(shNew), "sh")
      .groupBy("new_id", "corpus_id")
      .agg(count("*").as("n_inter"))
    val sizeOf = (df: DataFrame, as: String) => df.select(col(idCol).as(as),
      size(shingle_hashes(col(textCol), n)).cast("long").as(s"n_$as"))
    // candidates are batch-sized: broadcast them onto the corpus
    // sizes scan so the corpus side never shuffles here either
    val withNew = inter.join(broadcast(sizeOf(newDocs, "new_id")), "new_id")
    sizeOf(corpus, "corpus_id").join(broadcast(withNew), "corpus_id")
      .withColumn("jaccard",
        col("n_inter") / (col("n_new_id") + col("n_corpus_id") - col("n_inter")))
      .filter(col("jaccard") >= threshold)
      .select(col("new_id"), col("corpus_id"), round(col("jaccard"), 4).as("jaccard"))
  }

  /**
   * Persist a MinHash band-signature index for continuous-ingest
   * dedup: the corpus is scanned ONCE at index-build time, and every
   * subsequent batch is checked against the (compact) index with
   * bucket-pruned reads — the raw corpus text is never rescanned.
   *
   * Two bucketed+sorted tables (graft.sources.Bucketing):
   *  - `{table}_bands`  (id, band_idx, band_hash), bucketed by
   *    band_hash — the candidate-generation side; a batch's band
   *    hashes form an In-filter on the bucket column, so Spark prunes
   *    to the buckets the batch actually touches.
   *  - `{table}_shingles` (id, sh_set), bucketed by id — the
   *    verification side, read only for candidate ids.
   *
   * Banding parameters must match at query time
   * ([[indexedNearDupPairs]]); defaults mirror [[minhashNearDupPairs]]
   * at verification-grade k=128/bands=32.
   */
  def writeMinhashIndex(docs: DataFrame, table: String, k: Int = 128,
      bands: Int = 32, shingleN: Int = 5, buckets: Int = 64,
      textCol: String = "text", idCol: String = "doc_id"): Unit = {
    def writeTo(nameOf: String => String): Unit = {
      graft.sources.Bucketing.writeBucketed(
        bandRows(docs, k, bands, shingleN, textCol, idCol),
        nameOf("bands"), "band_hash", buckets)
      graft.sources.Bucketing.writeBucketed(
        shingleRows(docs, shingleN, textCol, idCol),
        nameOf("shingles"), "id", buckets)
    }
    val spark = docs.sparkSession
    // REBUILD of an existing index commits through one atomic epoch
    // flip (Bucketing.rebuildEpoch): both next-generation tables are
    // written first, the `{table}_epoch` pointer flips LAST — a query
    // racing the rebuild resolves the epoch once and reads one
    // generation's band+shingle pair throughout (all-old or all-new;
    // mixed banding across the pair would silently skew candidates).
    // A FRESH build keeps the flat epoch-0 names: no indirection until
    // a rebuild actually happens.
    if (graft.sources.Bucketing.currentEpoch(spark, table) > 0 ||
        spark.catalog.tableExists(s"${table}_bands"))
      graft.sources.Bucketing.rebuildEpoch(spark, table,
        Seq("bands", "shingles"))(writeTo)
    else writeTo(m => s"${table}_$m")
  }

  /** Member-name resolver for the MinHash index's table pair at the
    * CURRENT epoch — resolved once per operation so the band and
    * shingle reads of that operation see one generation. */
  private def mhMembers(spark: org.apache.spark.sql.SparkSession,
      table: String): String => String = {
    val g = graft.sources.Bucketing.currentEpoch(spark, table)
    m => if (g == 0) s"${table}_$m" else s"${table}_${m}_g$g"
  }

  /** The LSH bands of a k-long MinHash signature as a (pos, col)
    * generator: band b is the xxhash64 of signature slots
    * b·k/bands + 1 .. (b + 1)·k/bands. */
  private def bandHashes(sig: Column, k: Int, bands: Int): Column = {
    require(k % bands == 0, "bands must divide k")
    val rowsPerBand = k / bands
    posexplode(transform(sequence(lit(0), lit(bands - 1)),
      b => xxhash64(slice(sig, b * rowsPerBand + 1, lit(rowsPerBand)))))
  }

  /** (id, band_idx, band_hash) rows for the index's candidate side. */
  private def bandRows(docs: DataFrame, k: Int, bands: Int, shingleN: Int,
      textCol: String, idCol: String): DataFrame =
    docs
      .select(col(idCol).as("id"), minhash_doc(col(textCol), shingleN, k).as("sig"))
      .select(col("id"), bandHashes(col("sig"), k, bands))
      .withColumnRenamed("pos", "band_idx").withColumnRenamed("col", "band_hash")

  /** (id, sh_set) rows for the index's verification side. */
  private def shingleRows(docs: DataFrame, shingleN: Int,
      textCol: String, idCol: String): DataFrame =
    docs.select(col(idCol).as("id"),
      shingle_hashes(col(textCol), shingleN).as("sh_set"))

  /**
   * Index maintenance for continuous ingest: append an ACCEPTED
   * batch's band and shingle rows into a [[writeMinhashIndex]] index,
   * so the next batch's [[indexedNearDupPairs]] sees this batch as
   * part of the corpus — without ever rebuilding the index or
   * rescanning the standing corpus. Banding parameters must match
   * the build-time ones.
   *
   * Cost model (the 100 TB contract): the append computes signatures
   * for the BATCH only and lands ≤ `buckets` new files per table —
   * corpus size never appears in the job. The reference's analog is
   * its mutable keyspace (tests/mr_test_module/src/lib.rs:744-764,
   * the write-back ETL): accepted records become part of what future
   * queries see, incrementally.
   */
  def appendToMinhashIndex(batch: DataFrame, table: String, k: Int = 128,
      bands: Int = 32, shingleN: Int = 5,
      textCol: String = "text", idCol: String = "doc_id"): Unit = {
    // re-appending a tombstoned id revokes its delete (the takedown
    // ended); content changes still require purge-before-append —
    // see Bucketing.clearTombstones
    graft.sources.Bucketing.clearTombstones(batch.select(col(idCol)), table)
    val at = mhMembers(batch.sparkSession, table)
    graft.sources.Bucketing.appendBucketed(
      bandRows(batch, k, bands, shingleN, textCol, idCol),
      at("bands"), "band_hash")
    graft.sources.Bucketing.appendBucketed(
      shingleRows(batch, shingleN, textCol, idCol),
      at("shingles"), "id")
  }

  /**
   * Delete documents from a [[writeMinhashIndex]] index by TOMBSTONE —
   * the third maintenance op (build / append / delete) a mutable
   * corpus needs (takedowns, opt-outs, PII removals): an O(batch)
   * marker append to `{table}_tombstones`; [[indexedNearDupPairs]]
   * excludes marked ids immediately, and [[purgeMinhashIndex]]
   * physically drops their rows out of band — the LSM
   * delete-marker/compaction split, because an in-place delete
   * inside a bucketed table would rewrite corpus-sized files on the
   * ingest path.
   */
  def deleteFromMinhashIndex(ids: DataFrame, table: String,
      idCol: String = "doc_id"): Unit =
    graft.sources.Bucketing.appendTombstones(ids.select(col(idCol)), table)

  /**
   * Physically remove tombstoned rows from both index tables and
   * clear the markers — out of band, crash-safe, idempotent
   * ([[graft.sources.Bucketing.purgeTombstoned]]).
   */
  def purgeMinhashIndex(spark: org.apache.spark.sql.SparkSession, table: String): Unit = {
    val at = mhMembers(spark, table)
    graft.sources.Bucketing.purgeTombstoned(spark, table,
      Seq(at("bands"), at("shingles")))
  }

  /**
   * Near-dup pairs between a (small) new batch and a corpus indexed
   * by [[writeMinhashIndex]] — the per-batch half of continuous-ingest
   * dedup with NO corpus rescan: candidate generation reads only the
   * index buckets matching the batch's band hashes (bucket pruning +
   * parquet stats), and exact-jaccard verification reads only the
   * candidate ids' shingle sets. Per-batch cost tracks the batch and
   * its candidate fan-out, not the corpus size.
   *
   * Driver materialization is GATED ([[boundedCollect]]): the batch's
   * distinct band hashes and the candidate corpus ids are collected
   * only when small enough to prune reads (≤1024 / ≤4096); a backfill
   * over the threshold stays fully distributed (plain index scan +
   * left-semi join) — nothing unbounded ever lands on the driver.
   */
  def indexedNearDupPairs(newDocs: DataFrame, table: String, k: Int = 128,
      bands: Int = 32, shingleN: Int = 5, threshold: Double = 0.7,
      textCol: String = "text", idCol: String = "doc_id"): DataFrame = {
    require(k % bands == 0, "bands must divide k")
    val spark = newDocs.sparkSession
    // batch-side frames are batch-sized: materialize them once
    // (localCheckpoint) — they are each consumed by several jobs
    // below, and recomputing them would rescan the batch input. The
    // same helpers build the index, so probes band exactly as it does.
    val newSh = shingleRows(newDocs, shingleN, textCol, idCol)
      .withColumnRenamed("id", "new_id").withColumnRenamed("sh_set", "new_sh")
      .localCheckpoint()
    val newBands = bandRows(newDocs, k, bands, shingleN, textCol, idCol)
      .withColumnRenamed("id", "new_id")
      .localCheckpoint()
    val batchHashes = boundedCollect(
      newBands.select("band_hash").distinct(), 1024)(_.getLong(0))
    // two read regimes: a SMALL batch's hash set prunes buckets and
    // row groups (point-lookup IO); a large batch touches every
    // bucket anyway and the per-value pruning machinery costs more
    // than it saves (measured 2.4 s vs a 0.15 s columnar scan at 16k
    // hashes over a 144k-row index) — there the plain scan + the
    // broadcast band join below does the filtering
    // tombstoned docs disappear at the candidate stage — no later
    // join can resurrect an id that never proposes itself
    val at = mhMembers(spark, table)
    val idx0 = graft.sources.Bucketing.minusTombstones(
      spark.table(at("bands")), table)
    val idx = batchHashes match {
      case Some(hs) => idx0.filter(inSet(col("band_hash"), hs))
      case None     => idx0
    }
    // broadcast GATE: broadcasting a frame collects it to the driver
    // first — the same unbounded-driver-state hazard as a collect. A
    // micro-batch broadcasts (no shuffle of the index side); a
    // backfill batch must join by shuffle — and the explicit hint is
    // load-bearing, not advisory: a localCheckpointed frame INHERITS
    // its origin plan's size estimate, so a generated/pruned batch
    // can look broadcastable to Catalyst while its checkpointed rows
    // (shingle sets) are 100x the estimate (measured 126 MB collected
    // for an estimated ~1 MB at a 100k-doc backfill). Sort-merge, not
    // shuffle_hash: the shingle rows are ~1 KB arrays, and a
    // backfill-sized build side overflows the per-task hash relation
    // (observed on the span path at a 500k-doc batch) — merge spills.
    val smallBatch = newSh.limit(16385).count() <= 16384
    def bcast(df: DataFrame): DataFrame =
      if (smallBatch) broadcast(df) else df.hint("merge")
    // materialize the (small) candidate list so the pruned index read
    // runs ONCE — the candIds collect and the verification join both
    // consume it
    val cand = idx.join(bcast(newBands), Seq("band_idx", "band_hash"))
      .select(col("new_id"), col("id").as("corpus_id"))
      .dropDuplicates("new_id", "corpus_id")
      .localCheckpoint()
    // small candidate sets prune the shingle read via InSet (row-group
    // point lookups); a hot backfill's candidate set stays distributed
    // as a left-semi join (the clusterAssignIncremental discipline)
    val candIds = boundedCollect(
      cand.select("corpus_id").distinct(), 4096)(_.getLong(0))
    val idxSh0 = spark.table(at("shingles"))
    val idxSh = candIds match {
      case Some(ids) => idxSh0.filter(inSet(col("id"), ids))
      case None => idxSh0.join(
        cand.select(col("corpus_id").as("id")).distinct(), Seq("id"), "left_semi")
    }
    cand
      .join(idxSh.select(col("id").as("corpus_id"), col("sh_set").as("corp_sh")),
        "corpus_id")
      .join(bcast(newSh), "new_id")
      .withColumn("n_inter", size(array_intersect(col("new_sh"), col("corp_sh"))))
      .withColumn("jaccard",
        col("n_inter") / (size(col("new_sh")) + size(col("corp_sh")) - col("n_inter")))
      .filter(col("jaccard") >= threshold)
      .select(col("new_id"), col("corpus_id"), round(col("jaccard"), 4).as("jaccard"))
  }

  /**
   * Paragraph-level exact dedup with document REASSEMBLY — the
   * C4/CCNet rewrite step ([[sharedSpanReport]] only *flags* docs;
   * real corpus pipelines REMOVE the duplicated unit and keep the
   * rest of the document). Units here are fixed `width`-token
   * windows; a newline-delimited corpus would pass its own unit
   * split — the dedup/reassembly machinery is unit-agnostic. A unit
   * is kept iff it is the FIRST occurrence of its content corpus-wide
   * under the total order (orderOf(doc), position); every later copy
   * is dropped and each document's survivors are stitched back in
   * position order.
   *
   * Scale shape: the only wide exchanges are keyed by the unit's
   * md5 (uniform, no skew). First-occurrence is a map-side-combining
   * `min(struct(ord, pos))` aggregate — NOT a window over the hash
   * partition, which would put every copy of a viral boilerplate
   * paragraph through one task; the winners table is one narrow row
   * per distinct paragraph and the join back is AQE-skew-splittable.
   * Reassembly is one groupBy(doc) of (pos, text) structs — rows =
   * surviving units, grouped by the document they came from.
   * Output: (idCol, n_paras, n_kept, text_kept); a fully-duplicated
   * document survives as an empty string (count your losses before
   * deleting rows).
   */
  /** (idCol, _ord, _pidx, _ptext, _h) — one row per width-token unit instance. */
  private def unitRows(docs: DataFrame, width: Int, textCol: String,
      idCol: String, orderOf: Column => Column): DataFrame =
    docs
      // NOT tokens(): a rewrite must emit the document's own bytes, so
      // no case folding — units match on exact content. The token
      // array is staged as a column BEFORE the lambda slices it
      // (interpreted lambdas re-evaluate non-attribute subexpressions
      // per element — an inlined split would re-tokenize per chunk)
      .select(col(idCol), orderOf(col(idCol)).as("_ord"), split(col(textCol), " ").as("_w"))
      .select(col(idCol), col("_ord"),
        when(size(col("_w")) > 0,
          transform(sequence(lit(0), ceil(size(col("_w")) / lit(width.toDouble)).cast("int") - 1),
            i => concat_ws(" ", slice(col("_w"), i * width + 1, lit(width)))))
          .otherwise(array().cast("array<string>")).as("_paras"))
      .select(col(idCol), col("_ord"), posexplode(col("_paras")).as(Seq("_pidx", "_ptext")))
      .withColumn("_h", md5(col("_ptext")))

  /** Rebuild (idCol, n_paras, n_kept, text_kept) from all units + surviving units. */
  private def reassemble(paras: DataFrame, kept: DataFrame, idCol: String): DataFrame = {
    val rebuilt = kept.groupBy(col(idCol))
      .agg(count(lit(1)).as("n_kept"),
        concat_ws(" ", transform(array_sort(collect_list(struct(col("_pidx"), col("_ptext")))),
          s => s("_ptext"))).as("text_kept"))
    paras.groupBy(col(idCol)).agg(count(lit(1)).as("n_paras"))
      .join(rebuilt, Seq(idCol), "left")
      .select(col(idCol), col("n_paras"),
        coalesce(col("n_kept"), lit(0L)).as("n_kept"),
        coalesce(col("text_kept"), lit("")).as("text_kept"))
  }

  def paragraphDedup(docs: DataFrame, width: Int = 15,
      textCol: String = "text", idCol: String = "doc_id",
      orderOf: Column => Column = _.cast("long")): DataFrame = {
    val paras = unitRows(docs, width, textCol, idCol, orderOf)
    // the winner's identity AND text ride inside the min struct —
    // (ord, pidx) leads the comparison, so the aggregate returns the
    // first occurrence's own row and no join back to the units is
    // needed: one exchange keyed by _h (map-side partial min absorbs
    // every viral copy), instead of agg + corpus-sized join
    val kept = paras.groupBy("_h")
      .agg(min(struct(col("_ord"), col("_pidx"),
        col(idCol).as("_id"), col("_ptext"))).as("_first"))
      .select(col("_first._id").as(idCol),
        col("_first._pidx").as("_pidx"), col("_first._ptext").as("_ptext"))
    reassemble(paras, kept, idCol)
  }

  /**
   * Persist the paragraph-unit FIRST-OCCURRENCE index — the
   * continuous-ingest form of [[paragraphDedup]] (CCNet's line-hash
   * dedup as a maintained structure rather than a corpus-wide batch
   * job): one row per distinct unit (h, ord, pidx = the owner's
   * position), BUCKETED by the unit hash so a batch's probe reads
   * only its hashes' buckets. Same width/orderOf contract at build,
   * probe, and append time.
   */
  def writeUnitIndex(docs: DataFrame, table: String, width: Int = 15,
      buckets: Int = 64, textCol: String = "text", idCol: String = "doc_id",
      orderOf: Column => Column = _.cast("long")): Unit =
    graft.sources.Bucketing.writeBucketed(
      unitRows(docs, width, textCol, idCol, orderOf)
        .groupBy(col("_h").as("h"))
        // owner id rides the min-struct so takedowns can target rows
        .agg(min(struct(col("_ord"), col("_pidx"), col(idCol))).as("_first"))
        .select(col("h"), col("_first._ord").as("ord"), col("_first._pidx").as("pidx"),
          col(s"_first.$idCol").as("id")),
      table, "h", buckets)

  /**
   * Rewrite an arriving batch against the persistent unit index —
   * per-batch cost tracks the batch, never the standing corpus. Keep
   * rule per unit instance:
   *  - index hit owned by ANOTHER position → drop (someone earlier
   *    has it);
   *  - index hit owned by THIS position → keep (an at-least-once
   *    replay of the same batch must reproduce itself, not erase
   *    itself);
   *  - no index hit → keep iff it is the batch's own first
   *    occurrence ((ord, pidx) min within the batch).
   * Equals [[paragraphDedup]] over (corpus ∪ batch) restricted to
   * the batch when every corpus order key precedes the batch's
   * (law-tested). The driver collect of the batch's distinct unit
   * hashes is GATED ([[boundedCollect]]): a backfill over the
   * threshold never materializes them — it scans, as in
   * [[indexedNearDupPairs]]. The index read
   * re-aggregates min per hash, so duplicate marker rows from
   * replayed appends never double-match.
   */
  def paragraphDedupIncremental(batch: DataFrame, table: String, width: Int = 15,
      textCol: String = "text", idCol: String = "doc_id",
      orderOf: Column => Column = _.cast("long")): DataFrame = {
    val spark = batch.sparkSession
    val paras = unitRows(batch, width, textCol, idCol, orderOf).localCheckpoint()
    val hashes = boundedCollect(
      paras.select("_h").distinct(), 4096)(_.getString(0))
    // tombstoned owners vanish before ownership resolves (takedown)
    val idx0 = graft.sources.Bucketing.minusTombstones(spark.table(table), table)
    val idxPruned = hashes match {
      case Some(hs) => idx0.filter(inSet(col("h"), hs))
      case None     => idx0
    }
    // backfill regime (hashes over threshold): every derived side is
    // batch- or corpus-sized, but a localCheckpointed origin's size
    // estimate makes them LOOK broadcastable to Catalyst — pin the
    // joins to sort-merge (a 500k-doc probe batch OOMed the driver on
    // the unpinned broadcast plan, and overflowed the per-task hash
    // relation under shuffle_hash: merge is the spillable giant-giant
    // strategy)
    def big(df: DataFrame): DataFrame =
      if (hashes.isDefined) df else df.hint("merge")
    val owners = idxPruned.groupBy("h")
      .agg(min(struct(col("ord"), col("pidx"))).as("_owner"))
    val batchFirst = paras.groupBy("_h")
      .agg(min(struct(col("_ord"), col("_pidx"))).as("_bfirst"))
    val self = struct(col("_ord"), col("_pidx"))
    val kept = paras
      .join(big(owners.withColumnRenamed("h", "_h")), Seq("_h"), "left")
      .join(big(batchFirst), Seq("_h"))
      .filter((col("_owner").isNull && self === col("_bfirst")) ||
        (col("_owner").isNotNull && self === col("_owner")))
      .select(col(idCol), col("_pidx"), col("_ptext"))
    reassemble(paras, kept, idCol)
  }

  /**
   * Append an ACCEPTED batch's novel first occurrences to the unit
   * index (bucketed, batch-sized): exactly the units the batch KEPT
   * that the index did not already own. Idempotent under replay —
   * a replayed unit is owned by its own position, so it is kept but
   * filtered here by the anti-join; and even a racing double-append
   * is harmless because readers re-aggregate min per hash.
   */
  def appendToUnitIndex(batch: DataFrame, table: String, width: Int = 15,
      textCol: String = "text", idCol: String = "doc_id",
      orderOf: Column => Column = _.cast("long")): Unit = {
    val spark = batch.sparkSession
    // re-appending a tombstoned id revokes its takedown
    graft.sources.Bucketing.clearTombstones(batch.select(col(idCol)), table)
    val paras = unitRows(batch, width, textCol, idCol, orderOf)
    val novelFirst = paras.groupBy(col("_h").as("h"))
      .agg(min(struct(col("_ord"), col("_pidx"), col(idCol))).as("_first"))
      .join(graft.sources.Bucketing.minusTombstones(spark.table(table), table)
        .select("h"), Seq("h"), "left_anti")
      .select(col("h"), col("_first._ord").as("ord"), col("_first._pidx").as("pidx"),
        col(s"_first.$idCol").as("id"))
    graft.sources.Bucketing.appendBucketed(novelFirst, table, "h")
  }

  /**
   * Takedown for the unit (paragraph) index — tombstone markers,
   * same contract as [[deleteFromSpanIndex]]: ownership resolves
   * without the deleted docs immediately, their content revives on
   * next occurrence, purge drops rows out of band, re-append
   * revokes.
   */
  def deleteFromUnitIndex(ids: DataFrame, table: String,
      idCol: String = "doc_id"): Unit =
    graft.sources.Bucketing.appendTombstones(ids.select(col(idCol)), table)

  /** Physically drop tombstoned unit-index rows and clear markers. */
  def purgeUnitIndex(spark: org.apache.spark.sql.SparkSession, table: String): Unit =
    graft.sources.Bucketing.purgeTombstoned(spark, table, Seq(table))

  /**
   * Sorted-neighborhood ER blocking (the classic SNM): order records
   * by a blocking key, compare each record only against its `w`-1
   * successors in that order — candidate count is `w`·n regardless of
   * key distribution, the complement to equality blocking
   * ([[editDistancePairs]]) when near-matches disagree on every
   * equality block but sort adjacently (typo in the last word,
   * shared prefix). The global sequence number comes from
   * [[graft.relational.Relational.cumulativeSums]] — range-partitioned
   * prefix counts, NOT a bare global window (which would serialize
   * the corpus through one task). Neighbor pairing is a self-join on
   * ⌊rn/w⌋ blocks: a pair at distance < w straddles at most two
   * adjacent blocks, so the left side fans out to (block, block+1)
   * and every qualifying pair is matched exactly once. Emits pairs in
   * sequence order with levenshtein ≤ maxDist.
   */
  def sortedNeighborhoodPairs(items: DataFrame, strCol: String, idCol: String,
      w: Int = 10, maxDist: Int = 2): DataFrame = {
    import graft.relational.Relational
    val seq0 = Relational.cumulativeSums(
      items.select(col(idCol).as("id"), col(strCol).as("s")),
      Seq(col("s"), col("id")), Seq((lit(1), "rn")))
    val a = seq0.select(col("id").as("a_id"), col("s").as("a_s"), col("rn").as("a_rn"),
      explode(array((col("rn") / w).cast("long"), (col("rn") / w).cast("long") + 1)).as("_blk"))
    val b = seq0.select(col("id").as("b_id"), col("s").as("b_s"), col("rn").as("b_rn"),
      (col("rn") / w).cast("long").as("_blk"))
    a.join(b, Seq("_blk"))
      .filter(col("b_rn") > col("a_rn") && col("b_rn") - col("a_rn") < w)
      // BOUNDED levenshtein (threshold arg): the DP early-exits once a
      // row of the band exceeds maxDist — measured ~4x on this
      // workload vs the unbounded form, and computed ONCE per pair
      .withColumn("dist", levenshtein(col("a_s"), col("b_s"), maxDist).cast("long"))
      .filter(col("dist") >= 0L && col("dist") <= maxDist)
      .select(col("a_id"), col("b_id"), col("dist"))
  }

  /**
   * Span-level duplication report: documents containing a ≥`span`
   * -token window that appears verbatim in at least one other
   * document — the distributed form of exact-substring training-data
   * dedup (suffix-array dedup's practical approximation: a shared
   * substring of length ≥ 2·span-1 tokens is guaranteed to contain a
   * shared aligned span window; shorter overlaps are detected when
   * aligned). One shuffle of (span-hash, id) pairs; posting lists
   * with ≥2 distinct docs mark their members. Output: (doc_id,
   * n_shared_spans) — drop or trim flagged docs downstream.
   */
  /**
   * Exact substring-span REWRITE (the Lee et al. '22 "Deduplicating
   * Training Data" shape, approximated at span granularity):
   * [[sharedSpanReport]] only counts shared spans; this removes them.
   * Every token covered by a `span`-token window whose content
   * appears EARLIER in the corpus (global (doc_id, position) order —
   * including earlier in the same document, so self-repetition
   * dedups too) is dropped, and the document reassembled from the
   * survivors. Keep-first is a map-side-combining min(struct(id,
   * pos)) per shingle hash — the same aggregate discipline as
   * [[paragraphDedup]], never a per-hash window, so a corpus-viral
   * boilerplate span is a big partial-agg count, not a single-task
   * serialization.
   *
   * Scale: positioned hashes come from the one-pass
   * `shingle_hash_seq` expression (element i = hash of the window at
   * token i); the only corpus-sized shuffle carries (id, pos, hash)
   * — 20 bytes/token, never text. Duplicate START positions are
   * bounded by actual duplication; they come back to each doc as one
   * sorted array, and the rewrite is a scan-stage filter over the
   * token array. Output: (doc_id, n_before, n_after, rewritten_md5).
   */
  def spanRewrite(docs: DataFrame, span: Int = 20,
      textCol: String = "text", idCol: String = "doc_id"): DataFrame = {
    val positioned = docs.select(col(idCol).as("id"),
      posexplode(shingle_hash_seq(col(textCol), span)))
      .withColumnRenamed("pos", "p").withColumnRenamed("col", "sh")
    // keep only hashes that occur ≥2 times: the owner table shrinks
    // from |windows| to |actually-shared windows|, so the join back
    // against the positioned rows is a broadcast of the (small) hot
    // set instead of a sort-merge of two corpus-sized sides — the
    // corpus-sized shuffle happens ONCE, in this aggregate
    val owner = positioned.groupBy("sh")
      .agg(min(struct(col("id"), col("p"))).as("own"), count(lit(1)).as("cnt"))
      .filter(col("cnt") >= 2)
      .drop("cnt")
    val dupStarts = positioned.join(owner, "sh")
      .filter(!(col("id") === col("own.id") && col("p") === col("own.p")))
      .groupBy("id").agg(sort_array(collect_list(col("p"))).as("starts"))
    val toks = split(col(textCol), " ")
    docs.join(dupStarts, docs(idCol) === dupStarts("id"), "left_outer")
      .withColumn("covered", array_distinct(flatten(transform(
        coalesce(col("starts"), array().cast("array<int>")),
        s => sequence(s, s + lit(span - 1))))))
      .withColumn("kept", filter(toks, (x, i) => !array_contains(col("covered"), i)))
      .select(col(idCol),
        size(toks).cast("long").as("n_before"),
        size(col("kept")).cast("long").as("n_after"),
        md5(concat_ws(" ", col("kept"))).as("rewritten_md5"))
  }

  /** Positioned window rows for the span index: (id, _ord, p, sh). */
  private def spanRows(docs: DataFrame, span: Int, textCol: String,
      idCol: String, orderOf: Column => Column): DataFrame =
    docs.select(col(idCol).as("id"), orderOf(col(idCol)).as("_ord"),
        posexplode(shingle_hash_seq(col(textCol), span)))
      .withColumnRenamed("pos", "p").withColumnRenamed("col", "sh")

  /**
   * Persist the span index: one (h, ord, p) row per DISTINCT window
   * hash with its first owner in (ord, p) order — the maintained
   * form of [[spanRewrite]]'s keep-first aggregate, bucketed by hash
   * for pruned point probes (the [[writeUnitIndex]] pattern at span
   * granularity).
   */
  def writeSpanIndex(docs: DataFrame, table: String, span: Int = 20,
      buckets: Int = 64, textCol: String = "text", idCol: String = "doc_id",
      orderOf: Column => Column = _.cast("long")): Unit =
    graft.sources.Bucketing.writeBucketed(
      spanRows(docs, span, textCol, idCol, orderOf)
        .groupBy(col("sh").as("h"))
        // owner id rides the min-struct so takedowns can target rows
        .agg(min(struct(col("_ord"), col("p"), col("id"))).as("_first"))
        .select(col("h"), col("_first._ord").as("ord"), col("_first.p").as("p"),
          col("_first.id").as("id")),
      table, "h", buckets)

  /**
   * Span rewrite of an arriving batch against the persistent span
   * index — per-batch cost tracks the batch, never the standing
   * corpus. Keep rule per window instance (the
   * [[paragraphDedupIncremental]] discipline):
   *  - index hit owned by ANOTHER (ord, p) → duplicate start;
   *  - index hit owned by THIS position → not a dup (at-least-once
   *    replay of an appended batch reproduces itself);
   *  - no index hit → dup iff an earlier batch occurrence exists.
   * Tokens covered by duplicate starts drop; docs reassemble.
   * Equals [[spanRewrite]] over (corpus ∪ batch) restricted to the
   * batch when every corpus order key precedes the batch's
   * (law-tested). Index reads re-aggregate min per hash, so replayed
   * append markers never double-match; small batches prune the index
   * read to their own hash set.
   */
  def spanRewriteIncremental(batch: DataFrame, table: String, span: Int = 20,
      textCol: String = "text", idCol: String = "doc_id",
      orderOf: Column => Column = _.cast("long")): DataFrame = {
    val spark = batch.sparkSession
    val pos = spanRows(batch, span, textCol, idCol, orderOf).localCheckpoint()
    val hashes = boundedCollect(
      pos.select("sh").distinct(), 4096)(_.getLong(0))
    // tombstoned owners vanish before ownership resolves: their
    // windows have no owner, so later content legitimately revives
    val idx0 = graft.sources.Bucketing.minusTombstones(spark.table(table), table)
    val idx = hashes match {
      case Some(hs) => idx0.filter(inSet(col("h"), hs))
      case None     => idx0
    }
    // backfill regime: same sort-merge pin as
    // paragraphDedupIncremental — a big batch's window-hash and
    // dup-start sides are tens of millions of rows (with per-doc
    // arrays on dupStarts) that Catalyst size-estimates as
    // broadcastable off the checkpointed origin
    def big(df: DataFrame): DataFrame =
      if (hashes.isDefined) df else df.hint("merge")
    val owners = idx.groupBy(col("h").as("sh"))
      .agg(min(struct(col("ord"), col("p"))).as("_owner"))
    val bfirst = pos.groupBy(col("sh"))
      .agg(min(struct(col("_ord"), col("p"))).as("_bfirst"))
    val self = struct(col("_ord"), col("p"))
    val dupStarts = pos
      .join(big(owners), Seq("sh"), "left")
      .join(big(bfirst), Seq("sh"))
      .filter((col("_owner").isNotNull && self =!= col("_owner")) ||
        (col("_owner").isNull && self =!= col("_bfirst")))
      .groupBy("id").agg(sort_array(collect_list(col("p"))).as("starts"))
    val toks = split(col(textCol), " ")
    batch.join(big(dupStarts), batch(idCol) === dupStarts("id"), "left_outer")
      .withColumn("covered", array_distinct(flatten(transform(
        coalesce(col("starts"), array().cast("array<int>")),
        s => sequence(s, s + lit(span - 1))))))
      .withColumn("kept", filter(toks, (x, i) => !array_contains(col("covered"), i)))
      .select(col(idCol),
        size(toks).cast("long").as("n_before"),
        size(col("kept")).cast("long").as("n_after"),
        md5(concat_ws(" ", col("kept"))).as("rewritten_md5"))
  }

  /**
   * Append an accepted batch's NOVEL first-occurrence windows to the
   * span index — batch-sized insert, idempotent under redelivery
   * (novelty is an anti-join against the standing hashes; readers
   * re-aggregate min per hash).
   */
  def appendToSpanIndex(batch: DataFrame, table: String, span: Int = 20,
      textCol: String = "text", idCol: String = "doc_id",
      orderOf: Column => Column = _.cast("long")): Unit = {
    val spark = batch.sparkSession
    // re-appending a tombstoned id revokes its takedown (same
    // revocation contract as appendToMinhashIndex)
    graft.sources.Bucketing.clearTombstones(batch.select(col(idCol)), table)
    val novel = spanRows(batch, span, textCol, idCol, orderOf)
      .groupBy(col("sh").as("h"))
      .agg(min(struct(col("_ord"), col("p"), col("id"))).as("_first"))
      .join(graft.sources.Bucketing.minusTombstones(spark.table(table), table)
        .select("h"), Seq("h"), "left_anti")
      .select(col("h"), col("_first._ord").as("ord"), col("_first.p").as("p"),
        col("_first.id").as("id"))
    graft.sources.Bucketing.appendBucketed(novel, table, "h")
  }

  /**
   * Takedown for the span index: tombstone the given doc ids —
   * O(markers) append; [[spanRewriteIncremental]] resolves ownership
   * without them immediately, so content previously owned by a
   * deleted doc legitimately REVIVES (the next occurrence becomes
   * the first). [[purgeSpanIndex]] drops the rows physically out of
   * band; re-appending an id revokes its takedown.
   */
  def deleteFromSpanIndex(ids: DataFrame, table: String,
      idCol: String = "doc_id"): Unit =
    graft.sources.Bucketing.appendTombstones(ids.select(col(idCol)), table)

  /** Physically drop tombstoned span-index rows and clear markers. */
  def purgeSpanIndex(spark: org.apache.spark.sql.SparkSession, table: String): Unit =
    graft.sources.Bucketing.purgeTombstoned(spark, table, Seq(table))

  def sharedSpanReport(docs: DataFrame, span: Int = 20,
      textCol: String = "text", idCol: String = "doc_id"): DataFrame = {
    val sh = shinglesHashed(docs, span, textCol, idCol)
    // count-then-semi-join, NOT posting lists: span keys are
    // near-unique (≈ windows per doc × corpus), so ANY list-building
    // aggregate at this key cardinality is already sort-based
    // (ObjectHashAggregate's key-count fallback) and pays object
    // serialization on top — a capped-list aggregate measured ~9×
    // slower than this shape at 200k docs × 81 windows. The count
    // aggregate is codegen'd partial+final, the hot-span set is the
    // (tiny) set of actually-shared spans, and no row ever grows with
    // a span's popularity — a viral boilerplate span is just a big
    // count and AQE's skew split handles its join fan-out.
    val hot = sh.groupBy("sh").agg(count("*").as("n_docs"))
      .filter(col("n_docs") >= 2).select("sh")
    sh.join(hot, Seq("sh"), "left_semi")
      .groupBy(col("id").as(idCol))
      .agg(count("*").as("n_shared_spans"))
  }

  /**
   * All word-n-gram shingle strings (non-distinct — simhash weights
   * repeats). Test-oracle helper only: the lambda re-tokenizes per
   * shingle position (interpreted HOFs re-evaluate non-attribute
   * subexpressions per element — O(tokens²) per doc). Production
   * paths use the one-pass codegen [[graft.functions]] expressions;
   * this composed form stays deliberately independent of them so
   * specs can cross-check the two.
   */
  def shingleStringsAll(text: Column, n: Int): Column = {
    val w = tokens(text)
    when(size(w) >= n,
      transform(sequence(lit(1), size(w) - (n - 1)),
        i => concat_ws(" ", slice(w, i, lit(n)))))
      .otherwise(array().cast("array<string>"))
  }

  /**
   * SimHash near-dup pairs: 64-bit sketch over n-gram shingle
   * features (scan-stage, [[graft.functions.SimHashDocExpr]]);
   * candidates share one of 4 16-bit chunks (any pair within hamming
   * ≤ 3 agrees on ≥1 chunk — pigeonhole); verify hamming ≤
   * maxHamming. Shingle-feature sketches stay diverse even on
   * low-entropy corpora, so chunk buckets are near-singleton; the
   * `maxBucket` cap is a safety valve that keeps an adversarial
   * corpus from turning a bucket quadratic at the 100 TB design
   * point.
   *
   * `md5Compat = true` switches the feature hash to md5lo64 over
   * shingle strings ([[graft.functions.Md5Ops]]) so a DuckDB oracle
   * recomputes the identical sketches — the verification-grade
   * configuration. Docs with zero shingles (< n tokens) are excluded
   * there: their all-zero sketches would otherwise pair every pair of
   * short docs with hamming 0 on no content evidence.
   */
  def simhashNearDupPairs(docs: DataFrame, maxHamming: Int = 3, maxBucket: Int = 500,
      shingleN: Int = 5, textCol: String = "text", idCol: String = "doc_id",
      md5Compat: Boolean = false): DataFrame = {
    val sk =
      if (md5Compat)
        // single-pass fused expr ≡ simhash_md5(shingle strings); docs
        // with < n tokens are excluded (zero-window sketches would
        // pair all short docs at hamming 0 on no evidence)
        docs.filter(size(tokens(col(textCol))) >= shingleN)
          .select(col(idCol).as("id"),
            simhash_md5_doc(lower(col(textCol)), shingleN).as("sk"))
      else docs.select(col(idCol).as("id"),
        simhash_doc(col(textCol), shingleN).as("sk"))
    simhashPairsFromSketches(sk, maxHamming, maxBucket)
  }

  /**
   * Candidate generation + verification over precomputed (id, sk)
   * 64-bit sketches. Buckets over `maxBucket` are NOT dropped: their
   * members re-bucket on the four 12-bit sub-pieces of the 48 bits
   * OUTSIDE the shared chunk — a pair within hamming ≤ 3 that agrees
   * on the chunk has ≤ 3 errors among those 48 bits, so at least one
   * of 4 sub-pieces is error-free (pigeonhole again) and the pair
   * meets in a sub-bucket ~4096× finer. Recall is exact for
   * maxHamming ≤ 3; the residual cap on sub-buckets only drops
   * content that is pathological at BOTH granularities.
   */
  def simhashPairsFromSketches(sk: DataFrame, maxHamming: Int = 3,
      maxBucket: Int = 500): DataFrame = {
    require(maxHamming <= 3, "4x16-bit chunking guarantees recall only for maxHamming <= 3")
    // posting lists carry (id, sk) structs so hamming verification
    // needs no join-back; the size filter replaces the old
    // window-count bucket cap (one shuffle fewer)
    val chunks = sk.select(struct(col("id"), col("sk")).as("x"),
      posexplode(array((0 until 4).map(c =>
        shiftright(col("sk"), c * 16).bitwiseAND(lit(0xffffL))): _*)))
      .withColumnRenamed("pos", "chunk_idx").withColumnRenamed("col", "chunk")
    val lists = chunks.groupBy("chunk_idx", "chunk")
      .agg(collect_list(col("x")).as("xs"))
    def pairsOf(listsDf: DataFrame): DataFrame = listsDf
      .select(explode(col("xs")).as("a"), col("xs"))
      .select(col("a"), explode(col("xs")).as("b"))
      .filter(col("a.id") < col("b.id"))
      .select(col("a.id").as("a_id"), col("b.id").as("b_id"),
        col("a.sk").as("ska"), col("b.sk").as("skb"))
    val smallPairs = pairsOf(lists.filter(size(col("xs")).between(2, maxBucket)))
    // oversized buckets: delete the shared chunk's 16 bits, split the
    // 48-bit remainder into 4 sub-pieces, re-bucket
    val skc = col("x.sk")
    val remainder = when(col("chunk_idx") === 0, shiftrightunsigned(skc, 16))
      .when(col("chunk_idx") === 1,
        shiftleft(shiftrightunsigned(skc, 32), 16)
          .bitwiseOR(skc.bitwiseAND(lit(0xffffL))))
      .when(col("chunk_idx") === 2,
        shiftleft(shiftrightunsigned(skc, 48), 32)
          .bitwiseOR(skc.bitwiseAND(lit(0xffffffffL))))
      .otherwise(skc.bitwiseAND(lit(0x0000ffffffffffffL)))
    val bigPairs = pairsOf(
      lists.filter(size(col("xs")) > maxBucket)
        .select(col("chunk_idx"), col("chunk"), explode(col("xs")).as("x"))
        .withColumn("rem", remainder)
        .select(col("chunk_idx"), col("chunk"), col("x"),
          posexplode(array((0 until 4).map(p =>
            shiftrightunsigned(col("rem"), p * 12).bitwiseAND(lit(0xfffL))): _*)))
        .withColumnRenamed("pos", "sub_idx").withColumnRenamed("col", "sub")
        .groupBy("chunk_idx", "chunk", "sub_idx", "sub")
        .agg(collect_list(col("x")).as("xs"))
        .filter(size(col("xs")).between(2, maxBucket)))
    smallPairs.unionByName(bigPairs)
      .dropDuplicates("a_id", "b_id")
      .withColumn("hamming", bit_count(col("ska").bitwiseXOR(col("skb"))).cast("long"))
      .filter(col("hamming") <= maxHamming)
      .select(col("a_id"), col("b_id"), col("hamming"))
  }

  /**
   * Connected components over near-dup pairs → cluster ids: the step
   * that turns pairwise matches into dedup decisions (keep one doc
   * per cluster). Min-label propagation to fixpoint — each iteration
   * is one self-join+aggregate (GraphX-style CC), so total cost is
   * O(graph diameter) shuffles over |edges| rows. Near-dup graphs
   * have tiny components (diameter ~2-3), so this converges in a
   * handful of rounds at any corpus size. `cluster_id` = min doc id
   * reachable — deterministic regardless of execution order.
   *
   * Input: pair DataFrame with columns (a_id, b_id). Output:
   * (doc_id, cluster_id) for every doc appearing in a pair.
   *
   * Adaptive small-graph path: near-dup pair graphs are orders of
   * magnitude smaller than the corpus (they only contain actual
   * near-dups), so when the materialized edge list is under
   * `smallGraphEdges` rows a single-pass driver union-find replaces
   * the round-based join loop — same result, one job instead of a
   * handful. Graphs that don't fit go to the alternating
   * large-star/small-star loop (`dupClustersBigGraph`), whose round
   * count is O(log² n) in the WORST case — independent of component
   * diameter, unlike min-label propagation — so a pathological
   * chain-shaped component can never stall the job (set
   * `smallGraphEdges = 0` to force it; the spec asserts all three
   * paths agree).
   *
   * Failure mode: the star-forest loop THROWS if its fixpoint is not
   * reached within `maxIters` rounds — a loud failure, never a silent
   * partial closure. 30 covers any realistic graph (worst case is
   * ~2·log₂(n)² rounds only on adversarial shapes); raise `maxIters`
   * for such inputs rather than forking the operator.
   */
  def dupClusters(pairs: DataFrame, maxIters: Int = 30,
      smallGraphEdges: Long = 2000000L): DataFrame = {
    // materialize the (small) edge list once — every iteration joins
    // against it, and recomputing the upstream pair pipeline per
    // round would dominate the whole operator. Symmetrize via explode
    // (one scan of the upstream pair pipeline, not two; no self-union)
    // The edge count rides the same job, and a graph of at most
    // `smallGraphEdges` rows runs union-find on the driver
    // (LocalGraph.components) after one collect.
    val step = Fixpoint.materialize("dupClusters", pairs.select(explode(array(
        struct(col("a_id").as("u"), col("b_id").as("v")),
        struct(col("b_id").as("u"), col("a_id").as("v")))).as("p"))
      .select(col("p.u").as("u"), col("p.v").as("v"))
      .distinct(), Seq(Fixpoint.rowCount))
    val edges = step.state
    // integral ids widen to long, as the clusters' long columns always did
    val ids = if (Seq(ByteType, ShortType, IntegerType).contains(edges.schema("u").dataType))
      edges.select(col("u").cast(LongType), col("v").cast(LongType)) else edges
    (if (smallGraphEdges <= 0) None
    else Fixpoint.finishLocally(step.metrics("n"), smallGraphEdges, ids) {
      case Seq(Array(u, v)) =>
        val (id, root) = LocalGraph.components(u, v)
        Some(StructType(Seq(StructField("doc_id", LongType, nullable = false),
          StructField("cluster_id", LongType, nullable = false))) ->
          id.indices.map(i => Row(id(i), root(i))))
    }).getOrElse(dupClustersBigGraph(edges, maxIters))
  }

  /**
   * Min-label propagation to fixpoint — each round is one
   * self-join+aggregate, total cost O(component diameter) rounds.
   * Fine for near-dup graphs (diameter ~2-3) but degenerate on
   * chain-shaped components; kept as the law-test foil for the
   * large-star/small-star path and for callers that KNOW their
   * diameter is tiny. Input: symmetric (u, v) edge list.
   */
  private[operators] def minLabelClusters(edges: DataFrame, maxIters: Int): DataFrame = {
    var labels = edges.select(col("u").as("id")).distinct()
      .withColumn("label", col("id"))
      .materializeRound
    var converged = false
    var i = 0
    while (!converged && i < maxIters) {
      val neighborMin = edges
        .join(labels, edges("v") === labels("id"))
        .groupBy(col("u").as("id2")).agg(min("label").as("nbr_label"))
      // checkpoint BEFORE the convergence probe so the round's work
      // runs once (the probe and the next round both read the result)
      val updated = labels.join(neighborMin, labels("id") === neighborMin("id2"), "left")
        .select(col("id"), least(col("label"),
          coalesce(col("nbr_label"), col("label"))).as("label"))
        .materializeRound
      val changed = updated.as("n").join(labels.as("o"), col("n.id") === col("o.id"))
        .filter(col("n.label") =!= col("o.label")).limit(1).count()
      labels = updated
      converged = changed == 0
      i += 1
    }
    labels.select(col("id").as("doc_id"), col("label").as("cluster_id"))
  }

  /**
   * One large-star round: every node u connects its STRICTLY LARGER
   * neighbors to m = min(N(u) ∪ {u}). Shrinks tall trees toward
   * their minimum without ever pointing a smaller node at a larger
   * one (monotone — labels only decrease).
   *
   * Both star rounds gate their node-sized min-label table on
   * measured size: the loop's checksum observe carries the exact edge
   * count E of the round's input, and the broadcast sides are bounded
   * by it — largeStar's min-label table has one row per NODE (≤ 2·E),
   * smallStar's one row per distinct oriented edge head of its input
   * (≤ E rows: largeStar emits at most one row per unordered input
   * pair). Each call site gates its own bound against
   * [[graft.core.Fixpoint.broadcastMaxRows]], so the built relation
   * never exceeds ~3-4× 16 B × threshold; above it (the billion-edge
   * regime) the shuffled join stands.
   */
  private def largeStar(e: DataFrame, measuredEdges: Long = Long.MaxValue): DataFrame = {
    // explode, not self-union: one scan of the round's (materialized)
    // edge frame instead of two, and no alias-swapped Union for
    // Spark's constraint rewrite to trip over at the next checkpoint
    val sym = e.select(explode(array(
        struct(col("u"), col("v")),
        struct(col("v").as("u"), col("u").as("v")))).as("p"))
      .select(col("p.u").as("u"), col("p.v").as("v"))
    val m0 = sym.groupBy("u").agg(min("v").as("mn"))
      .select(col("u"), least(col("mn"), col("u")).as("m"))
    // m0 has one row per node; nodes ≤ 2·edges, so gate on 2·E
    val m = if (measuredEdges <= Fixpoint.broadcastMaxRows(e) / 2) broadcast(m0) else m0
    sym.join(m, "u")
      .filter(col("v") > col("u"))
      .select(col("v").as("u"), col("m").as("v"))
      .filter(col("u") =!= col("v"))
      .distinct()
  }

  /**
   * One small-star round: orient each edge (hi → lo); every node u
   * re-points its smaller neighbors — and itself — at
   * m = min(N<(u) ∪ {u}), flattening two-level trees into stars.
   */
  private def smallStar(e: DataFrame, measuredEdges: Long = Long.MaxValue): DataFrame = {
    val or = e.select(greatest(col("u"), col("v")).as("u"),
        least(col("u"), col("v")).as("v"))
      .filter(col("u") =!= col("v")).distinct()
    val m0 = or.groupBy("u").agg(min("v").as("m"))
    // m0 ≤ |e| rows, and |largeStar(cur)| ≤ |cur| = measuredEdges —
    // so the loop's pre-largeStar count is a sound bound here too
    val m = if (measuredEdges <= Fixpoint.broadcastMaxRows(e)) broadcast(m0) else m0
    or.join(m, "u")
      .select(explode(array(
        struct(col("v").as("a"), col("m").as("b")),
        struct(col("u").as("a"), col("m").as("b")))).as("p"))
      .select(col("p.a").as("u"), col("p.b").as("v"))
      .filter(col("u") =!= col("v"))
      .distinct()
  }

  /**
   * Distributed connected components by alternating large-star /
   * small-star rounds (Kiveris et al., "Connected Components in
   * MapReduce and Beyond", SoCC'14 — public algorithm, also the
   * engine inside GraphFrames' production CC). Converges to a forest
   * of stars whose centers are each component's MINIMUM id in
   * O(log² n) rounds regardless of component diameter — min-label
   * propagation needs O(diameter) rounds, which on a chain-shaped
   * component (pathological but real: chained boilerplate edits)
   * means thousands of shuffles where this needs ~2·log₂(n).
   * Each round is two keyed aggregates + joins over the CURRENT edge
   * set, and large-star strictly shrinks high-degree tangles, so
   * per-round data volume is non-increasing after the first round.
   * Convergence is detected in two tiers: a one-aggregate checksum
   * (count + bit_xor'd xxhash64 of the edge rows) gates each round for
   * pennies, and only when the checksum matches does the exact
   * one-sided EXCEPT run to confirm — so the loop pays one tiny
   * aggregate per round instead of set-difference shuffles, and
   * a checksum collision can never cause a wrong early stop (it only
   * triggers the exact check). Rounds are materialized through
   * [[graft.core.Materialize.iter]] so lineage stays flat — set
   * `spark.graft.reliableCheckpoints=true` (+ a durable checkpoint
   * dir) for executor-loss-tolerant rounds at cluster scale.
   *
   * Input: symmetric (u, v) edge list. Output: (doc_id, cluster_id),
   * cluster_id = min id reachable — identical contract to the
   * union-find and min-label paths.
   */
  private[operators] def dupClustersBigGraph(edges: DataFrame, maxIters: Int = 30): DataFrame = {
    // the checksum (count + bit_xor'd xxhash64 of the edge rows)
    // RIDES the round's materialization job: one job per round, and
    // the exact except runs only on a checksum match — once, at the
    // fixpoint. Exiting on the round cap would emit labels from a
    // non-converged forest (wrong cluster ids with no signal);
    // O(log² n) rounds suffice for any graph, so the driver fails
    // loudly instead.
    val metrics = Fixpoint.checksum("u", "v")
    val seed = Fixpoint.materialize("dupClustersBigGraph",
      edges.filter(col("u") =!= col("v")).distinct(), metrics)
    val cur = Fixpoint.run("dupClustersBigGraph", seed, maxIters, 1, metrics,
        Fixpoint.Until.Checksum) { (e, measured) =>
      val n = measured.getOrElse(Long.MaxValue)
      smallStar(largeStar(e, n), n)
    }.state
    // at fixpoint edges are (child → root) stars; roots appear only
    // on the right side, so union them back in as their own label
    cur.select(col("u").as("doc_id"), col("v").as("cluster_id"))
      .union(cur.select(col("v").as("doc_id"), col("v").as("cluster_id")))
      .groupBy("doc_id").agg(min("cluster_id").as("cluster_id"))
  }

  /**
   * Persist the cluster assignment of a pair graph — the maintained
   * form of [[dupClusters]]: (doc_id, cluster_id) bucketed by doc_id
   * for pruned endpoint lookups, plus an empty relabel side table.
   */
  def writeClusterIndex(pairs: DataFrame, table: String, buckets: Int = 64): Unit =
    graft.sources.Bucketing.writeBucketed(dupClusters(pairs), table, "doc_id", buckets)

  private def readRelabel(spark: org.apache.spark.sql.SparkSession,
      table: String): DataFrame = {
    val t = s"${table}_relabel"
    if (spark.catalog.tableExists(t)) spark.table(t)
    else spark.createDataFrame(new java.util.ArrayList[Row](),
      org.apache.spark.sql.types.StructType(Seq(
        org.apache.spark.sql.types.StructField("old_rep",
          org.apache.spark.sql.types.LongType),
        org.apache.spark.sql.types.StructField("new_rep",
          org.apache.spark.sql.types.LongType))))
  }

  /**
   * Ingest a batch's near-dup pairs into a [[writeClusterIndex]]
   * table — the cluster closure as a MAINTAINED structure, the step
   * the incremental pair generators ([[indexedNearDupPairs]],
   * [[incrementalNearDupPairs]]) previously left to a global
   * recompute. Per batch:
   *  1. the pairs' known endpoints resolve to their CURRENT roots
   *     (bucket-pruned cluster lookup + the small relabel table);
   *  2. a driver union-find over the BATCH-SIZED root/new-id edge
   *     set finds new assignments and cluster MERGES (a batch doc
   *     bridging two standing clusters);
   *  3. new docs append to the cluster table (O(batch)); merges land
   *     in the relabel table, which is rewritten path-COMPRESSED
   *     every batch (stale targets resolved before writing), so
   *     reads always resolve in ≤1 hop.
   * Readers get assignments via [[clusterAssignments]] (one
   * broadcast-sized relabel join). Equals [[dupClusters]] over the
   * union of all pairs ever seen — min-id roots are preserved under
   * merge because an old root is the min of its members and the
   * union-find keeps the min of the merged roots (law-tested,
   * including the merge case). Idempotent under replay: known
   * endpoints re-resolve to the same roots, producing no new rows
   * and no new merges. Relabel growth is bounded by total merges;
   * [[compactClusterIndex]] folds it back into the bucketed table
   * out of band.
   *
   * Failure mode: a batch over `maxDriverPairs` routes through
   * [[dupClustersBigGraph]], which THROWS (rather than silently
   * returning a partial closure) if its star-contraction fixpoint is
   * not reached within `maxIters` rounds — worst case ~2·log₂(n)²
   * for adversarial graphs. Cluster-scale callers with such inputs
   * raise `maxIters` here instead of forking.
   */
  def clusterAssignIncremental(newPairs: DataFrame, table: String,
      maxDriverPairs: Long = 2000000L, maxIters: Int = 30): Unit = {
    val spark = newPairs.sparkSession
    import spark.implicits._
    if (!spark.catalog.tableExists(table))
      graft.sources.Bucketing.writeBucketed(
        Seq.empty[(Long, Long)].toDF("doc_id", "cluster_id"), table, "doc_id", 64)
    // batch-size gate (same threshold discipline as dupClusters'
    // smallGraphEdges): a normal micro-batch collects to the driver
    // union-find below, but a giant batch — a backfill replay — must
    // NOT silently land driver-side; it routes through the fully
    // distributed root-graph path (law-tested equal, incl. merges)
    val pairsD = newPairs.select(col("a_id"), col("b_id")).distinct()
      .materializeRound
    val nPairs = pairsD.count()
    if (nPairs == 0) return
    if (nPairs > maxDriverPairs)
      return clusterAssignIncrementalBig(pairsD, table, maxIters)
    val pairRows = pairsD.collect().map(r => (r.getLong(0), r.getLong(1)))
    val ids = pairRows.flatMap(p => Seq(p._1, p._2)).distinct.toSeq
    val clusters0 = spark.table(table)
    val clusters =
      if (ids.size <= 4096) clusters0.filter(inSet(col("doc_id"), ids))
      else clusters0.join(ids.toDF("doc_id"), Seq("doc_id"), "left_semi")
    val relabel = readRelabel(spark, table).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    val known = clusters.collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    def rootOf(id: Long): Long = {
      val c = known.getOrElse(id, id)
      relabel.getOrElse(c, c)
    }
    // driver union-find with min-root union over batch-sized edges
    val parent = scala.collection.mutable.Map[Long, Long]()
    def find(x: Long): Long = {
      val p = parent.getOrElseUpdate(x, x)
      if (p == x) x else { val r = find(p); parent(x) = r; r }
    }
    def union(a: Long, b: Long): Unit = {
      val (ra, rb) = (find(a), find(b))
      if (ra != rb) { if (ra < rb) parent(rb) = ra else parent(ra) = rb }
    }
    pairRows.foreach { case (a, b) => union(rootOf(a), rootOf(b)) }
    // new docs -> resolved roots; appended in one small write
    val newRows = ids.filterNot(known.contains)
      .map(id => (id, find(rootOf(id)))).sorted
    if (newRows.nonEmpty)
      graft.sources.Bucketing.appendBucketed(
        newRows.toDF("doc_id", "cluster_id"), table, "doc_id")
    // merged old roots -> their new root
    val touchedRoots = (known.values.map(c => relabel.getOrElse(c, c)) ++
      ids.map(rootOf)).toSeq.distinct
    val merges = touchedRoots.map(r => r -> find(r)).filter { case (o, n) => o != n }.toMap
    if (merges.nonEmpty) {
      // rewrite the (small) relabel table path-compressed: old
      // entries re-resolve through the new merges, new merges append
      val updated = (relabel.view.mapValues(v => merges.getOrElse(v, v)).toMap ++ merges)
        .toSeq.sorted
      graft.sources.Bucketing.writeSmallTable(
        updated.toDF("old_rep", "new_rep"), s"${table}_relabel")
    }
  }

  /**
   * The DISTRIBUTED ingest path for batches whose pair count exceeds
   * the driver threshold (a backfill replay): identical contract to
   * the union-find path, with every batch-sized driver structure
   * replaced by a join —
   *  1. endpoints resolve to current roots via the bucketed cluster
   *     table + broadcast relabel (the driver path's `rootOf`);
   *  2. the ROOT-level edge set goes through [[dupClustersBigGraph]]
   *     (O(log² n) rounds, no driver state) — labels are min ids over
   *     {old roots ∪ new doc ids}, exactly the min-root union;
   *  3. new docs append with their component label; old roots whose
   *     label moved become relabel entries, path-compressed against
   *     the existing relabel rows (current roots are never relabel
   *     KEYS, so the new merges can't collide with old entries).
   * Law-tested equal to the driver path, including the merge case.
   */
  private def clusterAssignIncrementalBig(pairsD: DataFrame, table: String,
      maxIters: Int = 30): Unit = {
    val spark = pairsD.sparkSession
    val relabel0 = readRelabel(spark, table)
    val ids = pairsD.select(col("a_id").as("doc_id"))
      .union(pairsD.select(col("b_id").as("doc_id")))
      .distinct()
    val resolved = ids
      .join(spark.table(table), Seq("doc_id"), "left_outer")
      .join(broadcast(relabel0), col("cluster_id") === col("old_rep"), "left_outer")
      .select(col("doc_id"),
        coalesce(col("new_rep"), col("cluster_id"), col("doc_id")).as("root"),
        col("cluster_id").isNotNull.as("known"))
      .materializeRound
    val rr = pairsD
      .join(resolved.select(col("doc_id").as("a_id"), col("root").as("ra")), "a_id")
      .join(resolved.select(col("doc_id").as("b_id"), col("root").as("rb")), "b_id")
      .select(col("ra").as("u"), col("rb").as("v"))
      .filter(col("u") =!= col("v"))
    val labels = dupClustersBigGraph(
        rr.union(rr.select(col("v").as("u"), col("u").as("v"))).distinct(), maxIters)
      .select(col("doc_id").as("node"), col("cluster_id").as("lbl"))
      .materializeRound
    val newRows = resolved.filter(!col("known"))
      .join(labels, col("root") === col("node"), "left_outer")
      .select(col("doc_id"), coalesce(col("lbl"), col("root")).as("cluster_id"))
    graft.sources.Bucketing.appendBucketed(newRows, table, "doc_id")
    val merges = resolved.filter(col("known")).select(col("root")).distinct()
      .join(labels, col("root") === col("node"))
      .filter(col("lbl") =!= col("root"))
      .select(col("root").as("m_old"), col("lbl").as("m_new"))
      .materializeRound
    if (merges.limit(1).count() > 0) {
      val updated = relabel0
        .join(broadcast(merges), relabel0("new_rep") === merges("m_old"), "left_outer")
        .select(relabel0("old_rep"),
          coalesce(col("m_new"), relabel0("new_rep")).as("new_rep"))
        .unionByName(merges.select(col("m_old").as("old_rep"), col("m_new").as("new_rep")))
        .orderBy("old_rep")
        .materializeRound // writeSmallTable DROPs the relabel table read above
      graft.sources.Bucketing.writeSmallTable(updated, s"${table}_relabel")
    }
  }

  /** Current assignments: the bucketed table resolved through the relabel map. */
  def clusterAssignments(spark: org.apache.spark.sql.SparkSession,
      table: String): DataFrame = {
    val relabel = readRelabel(spark, table)
    spark.table(table).as("c")
      .join(broadcast(relabel).as("r"), col("c.cluster_id") === col("r.old_rep"),
        "left_outer")
      .select(col("c.doc_id"),
        coalesce(col("r.new_rep"), col("c.cluster_id")).as("cluster_id"))
  }

  /**
   * Fold the relabel map into the bucketed cluster table (out-of-band
   * compaction, crash-safe via the tagged rewrite swap) and clear it.
   */
  def compactClusterIndex(spark: org.apache.spark.sql.SparkSession,
      table: String): Unit = {
    if (!spark.catalog.tableExists(s"${table}_relabel")) return
    val relabel = spark.table(s"${table}_relabel").localCheckpoint()
    graft.sources.Bucketing.rewriteBucketed(spark, table,
      df => df.join(broadcast(relabel), df("cluster_id") === relabel("old_rep"),
          "left_outer")
        .select(df("doc_id"),
          coalesce(relabel("new_rep"), df("cluster_id")).as("cluster_id")))
    graft.sources.Bucketing.dropLogical(spark, s"${table}_relabel")
  }

  /**
   * Auto-compaction trigger for the maintained cluster table — the
   * [[graft.sources.Bucketing.maybeCompactBucketed]] policy with the
   * relabel fold riding the same rewrite: when the file trigger
   * fires and a relabel map exists, ONE [[compactClusterIndex]]
   * rewrite both restores the one-file-per-bucket layout and folds
   * the accumulated merges back into the table (clearing the
   * broadcast-side map queries pay on every read). Return semantics
   * differ by branch: the inline relabel fold returns true on the
   * call that runs it, but the no-relabel branch delegates to
   * [[graft.sources.Bucketing.maybeCompactBucketedAsync]] — the call
   * that trips the threshold ENQUEUES and returns false; true comes
   * from the later call that FINALIZES the flip. Callers counting
   * compactions see async completions deferred by one trigger cycle.
   */
  def maybeCompactClusterIndex(spark: org.apache.spark.sql.SparkSession,
      table: String, maxFilesPerBucket: Int = 8): Boolean = {
    if (maxFilesPerBucket <= 0) return false
    if (!spark.catalog.tableExists(table)) return false
    // a pending background job (merge OR fold) finalizes regardless of
    // the current file count — the trigger condition belonged to the
    // call that enqueued it
    if (graft.sources.Bucketing.pendingMaintenance(table))
      return graft.sources.Bucketing
        .maybeCompactBucketedAsync(spark, table, maxFilesPerBucket)
    val buckets = graft.sources.Bucketing.bucketSpecOf(spark, table) match {
      case Some(spec) => spec.numBuckets
      case None => return false
    }
    // trigger metric: CATALOG-ONLY for manifest tables (each segment
    // holds ≤ 1 file per bucket, so segments bound files-per-bucket —
    // the async policy's own metric; zero FS listings per micro-batch
    // at deployment scale); the FS file count only for legacy layouts
    val over =
      if (graft.sources.Bucketing.isManifestTable(spark, table))
        graft.sources.Bucketing.segmentCount(spark, table) > maxFilesPerBucket
      else graft.sources.Bucketing.dataFileCount(spark, table) >
        buckets.toLong * maxFilesPerBucket
    if (over) {
      // the relabel FOLD goes out of band too (r14 — the manifest
      // layer's delta-exact finalize made it safe, removing the LAST
      // inline corpus-sized job on the ingest thread): the relabel
      // rows are PINNED at enqueue, the background job folds them
      // through every pinned segment, the finalize folds the append
      // delta through the SAME pinned rows inline (delta-sized), and
      // only then are exactly those pinned (old_rep, new_rep) pairs
      // cleared from the map — entries updated or added during the
      // background run survive. Correctness of the composite read
      // mapping is law-tested: applying a pinned fold twice is a
      // no-op, and a row folded to `b` while a concurrent merge moved
      // `b → c` still resolves through the surviving (b → c) entry.
      if (spark.catalog.tableExists(s"${table}_relabel")) {
        val pinned = spark.table(s"${table}_relabel").localCheckpoint()
        graft.sources.Bucketing.rewriteBucketedAsync(spark, table,
          df => df.join(broadcast(pinned), df("cluster_id") === pinned("old_rep"),
              "left_outer")
            .select(df("doc_id"),
              coalesce(pinned("new_rep"), df("cluster_id")).as("cluster_id")),
          onFinalize = s => clearFoldedRelabel(s, table, pinned))
      } else graft.sources.Bucketing
        .maybeCompactBucketedAsync(spark, table, maxFilesPerBucket)
    } else false
  }

  /** Remove exactly the folded (old_rep, new_rep) pairs from the
    * relabel map — entries path-compressed or added while the fold ran
    * survive, which is what keeps concurrent merges correct. Runs at
    * the finalize commit point; idempotent (a crash between flip and
    * clear leaves rows that re-apply as no-ops at read). */
  private def clearFoldedRelabel(spark: org.apache.spark.sql.SparkSession,
      table: String, pinned: DataFrame): Unit = {
    val t = s"${table}_relabel"
    if (!spark.catalog.tableExists(t)) return
    val keep = spark.table(t)
      .join(pinned.withColumnRenamed("old_rep", "p_old")
          .withColumnRenamed("new_rep", "p_new"),
        col("old_rep") === col("p_old") && col("new_rep") === col("p_new"),
        "left_anti")
      .localCheckpoint() // materialize BEFORE the versioned overwrite
    if (keep.isEmpty) graft.sources.Bucketing.dropLogical(spark, t)
    else graft.sources.Bucketing.writeSmallTable(keep, t)
  }

  /**
   * End-to-end near-dup removal: pair graph → connected components →
   * keep the min-id representative per cluster, anti-join the rest
   * out. The full dedup decision as one operator — candidates via
   * the shingle inverted index, exact-jaccard verification, cluster
   * closure, then a single anti-join against the (tiny) drop list.
   */
  def dropNearDups(docs: DataFrame, n: Int = 5, threshold: Double = 0.7,
      textCol: String = "text", idCol: String = "doc_id"): DataFrame = {
    val dropped = dupClusters(ngramJaccardPairs(docs, n, threshold, textCol, idCol))
      .filter(col("doc_id") =!= col("cluster_id"))   // non-representatives
      .select(col("doc_id").as("_drop_id"))
    docs.join(dropped, docs(idCol) === col("_drop_id"), "left_anti")
  }

  /**
   * Character-level fuzzy matching (entity resolution): pairs of
   * records whose string field is within `maxDist` edits — the
   * complement to the token-set dedups (jaccard/minhash see word
   * swaps; edit distance sees typos). Candidate generation is the
   * standard ER blocking: equal first token AND |length delta| ≤
   * maxDist (an edit-distance-≤-d pair can't differ by more than d
   * characters of length), then exact Levenshtein verification on
   * the blocked pairs only. Scale: the join key is the block; pair
   * work is Σ|block|², bounded by the blocking-key selectivity —
   * never the corpus cross product. When the default first-token
   * blocks are too coarse (low-entropy leading words), pass a finer
   * `blockKey` — blocking recall is a declared tradeoff of ER, and
   * the oracle replays whatever key is chosen.
   */
  /**
   * Fellegi–Sunter probabilistic record linkage (JASA 1969 — the
   * canonical ER scoring model): candidate pairs from equality
   * blocking, then each comparison field contributes log(m/u) on
   * agreement and log((1-m)/(1-u)) on disagreement (m = P(agree |
   * match), u = P(agree | non-match)); the summed log-likelihood
   * ratio classifies pairs as match / possible / non_match against
   * the two thresholds. Field weights arrive PRECOMPUTED (round6'd
   * doubles) so an oracle replays the sum with literal constants —
   * engines' ln() may differ in the last ulp.
   *
   * Scale: the standard ER shape — pair work is O(Σ|block|²) bounded
   * by the blocking key's granularity, the probe side spreads
   * round-robin so a skewed block parallelizes, and each pair carries
   * only the compared fields, not whole records.
   *
   * `fields`: (name, agreeWeight, disagreeWeight) with the field's
   * comparable value column resolvable as `a.<name>` / `b.<name>`
   * from `records`.
   */
  def fellegiSunterScores(records: DataFrame, blockCol: String, idCol: String,
      fields: Seq[(String, Double, Double)],
      tLower: Double, tUpper: Double): DataFrame = {
    val cols = Seq(col(idCol).as("id"), col(blockCol).as("blk")) ++
      fields.map { case (f, _, _) => col(f) }
    val base = records.select(cols: _*)
    val probe = base.repartition(records.sparkSession.sparkContext.defaultParallelism)
    val score = fields.map { case (f, wa, wd) =>
      when(col(s"a.$f") === col(s"b.$f"), lit(wa)).otherwise(lit(wd))
    }.reduce(_ + _)
    probe.as("a").join(base.as("b"),
        col("a.blk") === col("b.blk") && col("a.id") < col("b.id"))
      .select(col("a.id").as("a_id"), col("b.id").as("b_id"),
        round(score, 6).as("score"))
      .withColumn("verdict",
        when(col("score") >= tUpper, "match")
          .when(col("score") > tLower, "possible")
          .otherwise("non_match"))
  }

  /**
   * UNSUPERVISED Fellegi–Sunter parameter estimation by EM (the
   * Splink/fastLink calibration step): learns the match prior λ and
   * per-field (m, u) probabilities from the blocked pairs' agreement
   * patterns alone — no labels. The scale insight that makes this
   * exact AND distributed: with k binary comparison fields there are
   * only 2^k agreement combos, so ONE corpus-sized aggregate reduces
   * any number of pairs to a ≤2^k-row count table and EM runs on
   * that — per-iteration cost is O(2^k), independent of data size.
   * Every M-step rounds to 6 decimals and every sum walks combos in
   * sorted order, so a SQL replay (ordered list_sum, same literal
   * init) reproduces the trajectory bit-for-bit.
   *
   * Output: one row per combo — agreement bits, pair count, the
   * posterior match probability under the FINAL parameters, and the
   * learned (λ, m_i, u_i) as constant columns.
   */
  def fellegiSunterEM(records: DataFrame, blockCol: String, idCol: String,
      fields: Seq[String], iters: Int = 5,
      initLambda: Double = 0.1, initM: Double = 0.8, initU: Double = 0.2): DataFrame = {
    val spark = records.sparkSession
    val k = fields.size
    val cols = Seq(col(idCol).as("id"), col(blockCol).as("blk")) ++ fields.map(col)
    val base = records.select(cols: _*)
    val agreeCols = fields.zipWithIndex.map { case (f, i) =>
      (col(s"a.$f") === col(s"b.$f")).cast("long").as(s"ag_$i") }
    emFromCombos(base.as("a").join(base.as("b"),
        col("a.blk") === col("b.blk") && col("a.id") < col("b.id"))
      .select(agreeCols: _*)
      .groupBy(fields.indices.map(i => col(s"ag_$i")): _*)
      .agg(count(lit(1)).as("n_pairs")),
      k, iters, initLambda, initM, initU)
  }

  /**
   * The EM core over an agreement-combo COUNT TABLE (ag_0..ag_{k-1},
   * n_pairs) — the mergeable-summary form: combo counts are plain
   * sums, so any number of batches/partitions/streams merge by
   * addition and calibration replays from the merged table
   * ([[fellegiSunterEM]] is this over one blocking join; the
   * streaming calibration accumulates a replay-safe ledger and calls
   * this per batch).
   */
  def emFromCombos(combos: DataFrame, k: Int, iters: Int = 5,
      initLambda: Double = 0.1, initM: Double = 0.8, initU: Double = 0.2): DataFrame = {
    val spark = combos.sparkSession
    // ag_i cast like n_pairs: the contract only promises "agreement
    // columns", so an IntegerType ag_i (e.g. from a streaming caller's
    // own cast) must not ClassCastException the getLong below
    val comboRows = combos
      .select(((0 until k).map(i => col(s"ag_$i").cast("long")) :+
        col("n_pairs").cast("long")): _*)
      .collect()
    def r6(x: Double) = BigDecimal(x).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    // sorted combo order — the SQL replay's ORDER BY a_0, ..., a_{k-1}
    val rows = comboRows.map { r =>
      ((0 until k).map(r.getLong).toVector, r.getLong(k))
    }.sortBy(_._1.mkString)
    require(rows.nonEmpty,
      "emFromCombos: empty combo table — nothing to calibrate on")
    var lam = initLambda
    var m = Vector.fill(k)(initM)
    var u = Vector.fill(k)(initU)
    def posterior(a: Vector[Long]): Double = {
      var num = lam
      var alt = 1.0 - lam
      var i = 0
      while (i < k) {
        num *= (if (a(i) == 1L) m(i) else 1.0 - m(i))
        alt *= (if (a(i) == 1L) u(i) else 1.0 - u(i))
        i += 1
      }
      num / (num + alt)
    }
    for (_ <- 1 to iters) {
      val withP = rows.map { case (a, n) => (a, n.toDouble, posterior(a)) }
      val tot = withP.map(_._2).sum
      val totP = withP.map(t => t._2 * t._3).sum
      val totQ = withP.map(t => t._2 * (1.0 - t._3)).sum
      val newM = (0 until k).map(i =>
        r6(withP.map(t => t._2 * t._3 * t._1(i)).sum / totP)).toVector
      val newU = (0 until k).map(i =>
        r6(withP.map(t => t._2 * (1.0 - t._3) * t._1(i)).sum / totQ)).toVector
      lam = r6(totP / tot)
      m = newM
      u = newU
    }
    val out = rows.map { case (a, n) =>
      // Seq[Any], not Seq(...): Scala's weak conformance would widen
      // the Long count to Double inside a mixed Long/Double Seq
      Row.fromSeq(a ++ Seq[Any](n, r6(posterior(a)), lam) ++
        (0 until k).flatMap(i => Seq(m(i), u(i))))
    }
    val schema = org.apache.spark.sql.types.StructType(
      (0 until k).map(i => org.apache.spark.sql.types.StructField(
        s"ag_$i", org.apache.spark.sql.types.LongType)) ++
      Seq(org.apache.spark.sql.types.StructField("n_pairs",
          org.apache.spark.sql.types.LongType),
        org.apache.spark.sql.types.StructField("p_match",
          org.apache.spark.sql.types.DoubleType),
        org.apache.spark.sql.types.StructField("lambda",
          org.apache.spark.sql.types.DoubleType)) ++
      (0 until k).flatMap(i => Seq(
        org.apache.spark.sql.types.StructField(s"m_$i",
          org.apache.spark.sql.types.DoubleType),
        org.apache.spark.sql.types.StructField(s"u_$i",
          org.apache.spark.sql.types.DoubleType))))
    spark.createDataFrame(
      new java.util.ArrayList[Row](scala.jdk.CollectionConverters
        .SeqHasAsJava(out.toSeq).asJava), schema)
  }

  def editDistancePairs(items: DataFrame, strCol: String, idCol: String,
      maxDist: Int = 2,
      blockKey: Column => Column = s => substring_index(s, " ", 1)): DataFrame = {
    val base = items.select(col(idCol).as("id"), col(strCol).as("s"))
      .withColumn("blk", blockKey(col("s")))
    // The verification work is O(Σ|block|²) per PROBE row, not per
    // input byte: a small single-file input arrives as one partition
    // and would run the whole quadratic pass in one task. Spread the
    // probe side round-robin so pair work parallelizes; the build
    // side stays as-is for the planner's broadcast decision.
    val probe = base.repartition(items.sparkSession.sparkContext.defaultParallelism)
    probe.as("a").join(base.as("b"),
        col("a.blk") === col("b.blk") && col("a.id") < col("b.id") &&
          abs(length(col("a.s")) - length(col("b.s"))) <= maxDist)
      .select(col("a.id").as("a_id"), col("b.id").as("b_id"),
        // plain DP: on short strings it measured 25% faster than the
        // banded threshold variant (whose early-exit bookkeeping
        // dominates below ~20 chars)
        levenshtein(col("a.s"), col("b.s")).cast("long").as("dist"))
      .filter(col("dist") <= maxDist)
  }

  /**
   * Token-set cosine entity resolution with AllPairs/PPJoin prefix
   * filtering (Bayardo'07 / Xiao'08): pairs whose binary token
   * vectors have cosine (Ochiai) ≥ `threshold`, candidates generated
   * ONLY from each record's prefix — its |d| − ⌈τ²·|d|⌉ + 1 tokens
   * that come first in the global (df asc, token asc) canonical
   * order. Completeness: a pair with |∩| < τ²·|a| can't reach cosine
   * τ (|∩| ≥ τ√(|a||b|) ≥ τ√(|a|·|∩|) ⇒ |∩| ≥ τ²|a|), so every
   * match shares a prefix token and survives blocking — exact
   * recall, while the candidate join touches only rare-token posting
   * lists instead of the corpus cross product. The token-level
   * complement to [[editDistancePairs]] (word swaps/reorders vs
   * typos).
   */
  def tokenCosinePairs(items: DataFrame, strCol: String, idCol: String,
      threshold: Double = 0.8, maxBucket: Int = 10000,
      shingle: Int = 1): DataFrame = {
    // the feature space is a tunable: word unigrams for short
    // low-entropy strings can leave every posting list corpus-sized
    // (candidate work Σ df² explodes); word `shingle`-grams sharpen
    // the vocabulary so prefix tokens are genuinely rare — the
    // standard AllPairs practice on name-matching workloads
    val feats =
      if (shingle == 1) split(lower(col(strCol)), " ")
      else graft.functions.TextFunctions.shingle_strings(lower(col(strCol)), shingle)
    val toks = items.select(col(idCol).as("id"),
      explode(array_distinct(feats)).as("tok"))
    val sz = toks.groupBy("id").agg(count(lit(1)).as("n"))
    val dfreq = toks.groupBy("tok").agg(count(lit(1)).as("df"))
    val ordered = toks.join(dfreq, "tok")
      .withColumn("r", row_number().over(
        org.apache.spark.sql.expressions.Window.partitionBy("id")
          .orderBy(col("df").asc, col("tok").asc)))
      .join(sz, "id")
    val prefix = ordered.filter(
      col("r") <= col("n") - ceil(lit(threshold * threshold) * col("n")) + 1)
    // candidate pairs CARRY both members' set sizes (n rides the
    // prefix rows already, is a function of the id, and survives the
    // pair dedup unchanged), so the final cosine needs no join back
    // to a size table — behind a multi-million-pair candidate set
    // those were two more joins of pair-sized rows, and at corpus
    // scale the size table itself is corpus-sized (guide §2.3).
    val cand = prefix.select(col("id"), col("n"), col("tok"))
      .groupBy("tok")
      .agg(collect_list(struct(col("id"), col("n"))).as("xs"))
      .filter(size(col("xs")).between(2, maxBucket))
      .select(explode(col("xs")).as("a"), col("xs"))
      .select(col("a"), explode(col("xs")).as("b"))
      .filter(col("a.id") < col("b.id"))
      .select(col("a.id").as("a_id"), col("b.id").as("b_id"),
        col("a.n").as("na"), col("b.n").as("nb"))
      .dropDuplicates("a_id", "b_id")
    // verification: pair×token explode-join-regroup. The tempting
    // alternative — join each pair to both members' collected feature
    // ARRAYS and size(array_intersect) — measured 1.8× SLOWER at
    // sf0.1: every pair row then carries two string arrays through
    // the shuffle, far heavier than the exploded (pair, token) rows.
    cand
      .join(toks.select(col("id").as("a_id"), col("tok")), "a_id")
      .join(toks.select(col("id").as("b_id"), col("tok")), Seq("b_id", "tok"))
      .groupBy("a_id", "b_id", "na", "nb").agg(count(lit(1)).as("inter"))
      .select(col("a_id"), col("b_id"),
        round(col("inter") / sqrt(col("na") * col("nb")), 4).as("cos"))
      .filter(col("cos") >= threshold)
  }

  /**
   * Quality-aware representative selection: for each near-dup cluster,
   * keep the member that maximizes `quality` (min doc id on ties)
   * instead of [[dropNearDups]]'s min-id convention — the real
   * curation decision ("of these N near-identical pages, keep the
   * best-written one"). One aggregation over the clustered docs: the
   * argmax rides a struct-max (quality, -id), so no per-cluster sort
   * or window is ever materialized. Scale: cluster count ≪ corpus;
   * the agg shuffles only clustered docs, not the corpus.
   */
  def keepBestPerCluster(docs: DataFrame, quality: Column, n: Int = 5,
      threshold: Double = 0.7, textCol: String = "text",
      idCol: String = "doc_id"): DataFrame = {
    val clusters = dupClusters(ngramJaccardPairs(docs, n, threshold, textCol, idCol))
    clusters
      .join(docs.select(col(idCol).as("doc_id"), quality.as("q")), "doc_id")
      .groupBy("cluster_id")
      .agg(
        max(struct(col("q"), (-col("doc_id")).as("neg_id"))).as("best"),
        count(lit(1)).as("n_members"))
      .select(
        col("cluster_id"),
        (-col("best.neg_id")).cast("long").as("kept_doc_id"),
        col("best.q").as("kept_quality"),
        col("n_members"),
        (col("n_members") - 1).as("n_dropped"))
  }

  /**
   * Embedding near-dup pairs: random-projection LSH buckets (multiple
   * independent sketches to boost recall), verify cosine ≥ threshold.
   */
  def embeddingNearDupPairs(embs: DataFrame, threshold: Double = 0.95,
      bits: Int = 12, tables: Int = 4,
      vecCol: String = "embedding", idCol: String = "vec_id",
      maxBucket: Int = 10000): DataFrame = {
    // slim posting lists (ids only — never shuffle vectors through the
    // bucket stage), then two keyed joins reattach vectors to the
    // (few) candidate pairs for exact-cosine verification
    // rk (exact-vector hash) refines oversized buckets: duplicated
    // embeddings (re-crawled docs → identical vectors) collapse into
    // stars instead of dropping (pairsFromBucketsRefined)
    val buckets = embs.select(col(idCol).as("id"),
      xxhash64(col(vecCol)).as("rk"),
      posexplode(array((0 until tables).map(t =>
        rand_proj_bits(col(vecCol), bits, seed = 1000 + t)): _*)))
      .withColumnRenamed("pos", "tbl").withColumnRenamed("col", "bucket")
    val vecs = embs.select(col(idCol).as("id"), col(vecCol).as("v"))
    pairsFromBucketsRefined(buckets, Seq("tbl", "bucket"), "rk",
      maxBucket = maxBucket)
      .join(vecs.select(col("id").as("a_id"), col("v").as("va")), "a_id")
      .join(vecs.select(col("id").as("b_id"), col("v").as("vb")), "b_id")
      .withColumn("cos", cosine_sim(col("va"), col("vb")))
      .filter(col("cos") >= threshold)
      .select(col("a_id"), col("b_id"), round(col("cos"), 4).as("cos"))
  }
}
