package graft

import org.scalatest.funsuite.AnyFunSuite

/**
 * Plan-shape regression tests: the properties that matter at 100 TB
 * (pushdown reaches parquet, small sides broadcast, column pruning
 * trims scans, top-k lowers to TakeOrderedAndProject, the as-of join
 * stays at two exchanges) asserted on the physical plans of the
 * driver-facing queries. A correctness-preserving change that breaks
 * one of these is a scale regression, not a refactor.
 */
class PlanAuditSpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark

  private def plan(name: String): String =
    SparkEntry.queries(name)(spark, SparkTestSession.sfDir)
      .queryExecution.executedPlan.toString

  /** `body` on the graph queries' distributed loops: a budget of the
    * co-occurrence graph's node count (PageRank ranks every node once). */
  private def distributedGraph[A](body: => A): A =
    SparkTestSession.distributedLoops(spark, graphNodes)(body)
  private lazy val graphNodes =
    SparkEntry.queries("graph_pagerank")(spark, SparkTestSession.sfDir).count()

  test("q1_pricing: aggregate with pruned scan (no orderkey read)") {
    val p = plan("q1_pricing")
    assert(p.contains("HashAggregate"))
    assert(p.contains("ReadSchema"))
    assert(!p.contains("l_orderkey"), "scan reads columns the query never uses")
  }

  test("q3_topk_revenue: dimension filter pushed, small side broadcast, top-k lowered") {
    val p = plan("q3_topk_revenue")
    assert(p.contains("EqualTo(c_mktsegment,BUILDING)"), "filter not pushed to parquet")
    assert(p.contains("BroadcastHashJoin"))
    assert(p.contains("TakeOrderedAndProject"), "orderBy+limit did not lower to top-k")
  }

  test("q5_nation_revenue: every dimension join broadcasts") {
    val p = plan("q5_nation_revenue")
    assert("BroadcastHashJoin".r.findAllIn(p).size === 3)
    assert(!p.contains("SortMergeJoin"))
  }

  test("q_semi_join: LEFT SEMI with the quantity filter pushed down") {
    val p = plan("q_semi_join")
    assert(p.contains("LeftSemi"))
    assert(p.contains("GreaterThanOrEqual(l_quantity,49.0)"), "filter not pushed")
  }

  test("q_asof_join: merge-based as-of stays at two hash exchanges (no range join)") {
    val p = plan("q_asof_join")
    assert("Exchange hashpartitioning".r.findAllIn(p).size <= 2, p)
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"),
      "as-of degenerated into a product join")
  }

  test("ann_bruteforce: query side broadcasts; corpus is scanned, not shuffled pre-score") {
    val p = plan("ann_bruteforce")
    assert(p.contains("BroadcastExchange"))
  }

  test("dedup_minhash: band join is the only wide stage family (bounded exchanges)") {
    val p = plan("dedup_minhash")
    // exactly two wide stages: the band posting-list aggregate and the
    // pair dropDuplicates — the refine-not-drop semantics ride a
    // single streaming Generate (BucketPairsExpr), not a union of
    // re-aggregating branches
    assert("Exchange hashpartitioning".r.findAllIn(p).size <= 2, p)
    assert(p.contains("bucketpairsexpr") || p.contains("BucketPairs") ||
      p.contains("Generate"), s"pair generator missing from plan:\n$p")
  }

  test("q_partitioned_sink: re-read filter is satisfied by partition-directory pruning") {
    // run the query once so the partitioned scratch dir exists, then
    // audit the re-read's plan: the returnflag predicate must land in
    // PartitionFilters (directory pruning), not a data-level Filter
    SparkEntry.queries("q_partitioned_sink")(spark, SparkTestSession.sfDir).count()
    val tmp = System.getProperty("java.io.tmpdir")
    val path = s"$tmp/graft_rt_parquet_${math.abs(SparkTestSession.sfDir.hashCode)}"
    val re = spark.read.parquet(path)
      .filter(org.apache.spark.sql.functions.col("l_returnflag") === "R")
    val scan = re.queryExecution.executedPlan.collectLeaves().head.toString
    assert(scan.contains("PartitionFilters: [") &&
      scan.replaceAll("(?s).*PartitionFilters: \\[([^\\]]*)].*", "$1")
        .contains("l_returnflag"),
      s"returnflag filter not in PartitionFilters:\n$scan")
  }

  test("lmr filter pipeline: typed-facade queries still prune the parquet scan") {
    val p = plan("lmr_filter_map")
    assert(p.contains("ReadSchema: struct<o_orderkey:bigint,o_orderstatus:string>"),
      "typed pipeline read more than the two referenced columns")
  }

  test("corpus_quality_topk: rank cut runs on the two-phase heap, never a sort or window") {
    val p = plan("corpus_quality_topk")
    assert(p.contains("TopKPerKey"), "per-source rank cut not lowered to the heap operator")
    assert(!p.contains("Sort") && !p.contains("Window"),
      s"quality gate materialized a sort/window over the corpus:\n$p")
  }

  test("text_bigram_lm: LM tables stay distributed — vocab-size side broadcasts, no driver state") {
    val p = plan("text_bigram_lm")
    assert(p.contains("BroadcastNestedLoopJoin") || p.contains("BroadcastExchange"),
      "the 1-row vocab-size frame should broadcast")
  }

  test("er_editdist: blocked equi-join only — no cartesian or nested-loop pair generation") {
    val p = plan("er_editdist")
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"),
      s"fuzzy-ER fell back to an unblocked pair product:\n${p.take(3000)}")
  }

  test("text_jaccard_knn: rank cut lowered to the heap, not a window over all pairs") {
    val p = plan("text_jaccard_knn")
    assert(p.contains("TopKPerKey"), "per-doc kNN cut not on the heap operator")
    assert(!p.contains("Window"), s"pair ranking materialized a window:\n${p.take(3000)}")
  }

  test("pipeline_filter: quality/lang gates are scan columns, not per-doc joins") {
    // The composed pipeline must add exactly zero joins over its dedup
    // core (dedup_corpus runs the same dropNearDups): quality and
    // language are narrow expressions attached to the surviving scan.
    def joins(p: String): Int = "(?m)Join".r.findAllIn(p).length
    assert(joins(plan("pipeline_filter")) == joins(plan("dedup_corpus")),
      "pipeline_filter re-joined per-doc signal columns instead of computing them inline")
  }

  test("text_decontaminate: eval n-gram set broadcasts; corpus side never sort-merges") {
    val p = plan("text_decontaminate")
    assert(p.contains("BroadcastHashJoin"), "eval shingle set not broadcast")
    assert(!p.contains("SortMergeJoin"),
      "corpus shingles sort-merged against the (tiny) eval set")
  }

  test("narrow curation transforms stay shuffle-free (chunk/repetition/redact/quantize)") {
    for (q <- Seq("text_chunks", "text_repetition", "text_redact", "emb_quantize")) {
      val p = plan(q)
      assert(!p.contains("Exchange"), s"$q introduced a shuffle:\n$p")
    }
  }

  test("q_bloom_join: bloom probe filters the fact scan; dim filter pushed down") {
    val p = plan("q_bloom_join")
    assert(p.contains("might_contain"), "fact side not bloom-pre-filtered")
    assert(p.contains("EqualTo(c_mktsegment,BUILDING)"), "dim filter not pushed to parquet")
  }

  test("q_bucketed_join: sort-merge join with no exchange on either bucketed input") {
    val p = plan("q_bucketed_join")
    assert(p.contains("SortMergeJoin"))
    // the only hash exchange allowed is the final groupBy aggregation
    assert("Exchange hashpartitioning".r.findAllIn(p).size <= 1,
      s"bucketed join still shuffles its inputs:\n$p")
    assert(p.contains("SelectedBucketsCount"), "scan did not use bucketed layout")
  }

  test("dedup_incremental: the new batch broadcasts; the corpus is never sort-merged") {
    val p = plan("dedup_incremental")
    assert(p.contains("BroadcastHashJoin"), "new-batch shingles not broadcast")
  }

  test("pipeline_ingest: verdict flags broadcast onto the batch scan; quality never joins") {
    val p = plan("pipeline_ingest")
    // exact + near flags and the incremental-dedup internals broadcast;
    // nothing falls back to a corpus-sized sort-merge join
    assert(p.contains("BroadcastHashJoin"), s"verdict flags not broadcast:\n$p")
    assert(!p.contains("SortMergeJoin"), s"corpus-sized join leaked in:\n$p")
  }

  test("ann_index_persisted: the codes scan prunes to the probed lists' buckets; probes broadcast") {
    val p = plan("ann_index_persisted")
    assert(p.contains("SelectedBucketsCount"),
      s"codes read is not bucket-pruned:\n$p")
    // the probed-lists InSet must reach the codes read, and the
    // query-side probe table must broadcast onto it
    assert(p.toLowerCase.contains("inset"),
      s"probed-list filter not applied at the scan:\n$p")
    assert(p.contains("BroadcastHashJoin"), "probes not broadcast onto the codes scan")
  }

  test("q_sorted_sink: the date-range predicate is pushed to the re-read scan") {
    val p = plan("q_sorted_sink")
    assert(p.contains("PushedFilters") &&
      p.replaceAll("(?s).*PushedFilters: \\[([^\\]]*)].*", "$1").contains("o_orderdate"),
      s"date predicate not pushed to the sorted-parquet scan:\n$p")
  }

  test("text_importance: the scoring pass is shuffle-free (LMs ride a broadcast map)") {
    val p = plan("text_importance")
    assert(!p.contains("Exchange"), s"per-token data crossed a shuffle:\n$p")
  }

  test("corpus_pack: one window shuffle, and it carries counts, not text") {
    val p = plan("corpus_pack")
    assert("Exchange hashpartitioning".r.findAllIn(p).size <= 2, p)
    assert(!p.contains("text#") || !p.contains("Exchange.*text"),
      "document text column crosses the pack shuffle")
  }

  test("text_bm25: scoring pass is join-free and lowers to TakeOrderedAndProject") {
    val p = plan("text_bm25")
    assert(p.contains("TakeOrderedAndProject"), "top-k did not lower to per-partition heaps")
    assert(!p.contains("Join"), "corpus-sized join in the scoring pass — idf must be literal")
    assert(!p.contains("Exchange hashpartitioning"), s"scoring pass shuffled:\n$p")
  }

  test("graph_pagerank: iterations reuse the edge exchanges (no per-iteration recompute)") {
    // exchange reuse is an AQE runtime decision: execute THIS plan
    // (collect, not count — count wraps a new plan) and audit the
    // final adaptive plan
    distributedGraph {
      val df = SparkEntry.queries("graph_pagerank")(spark, SparkTestSession.sfDir)
      df.collect()
      val p = df.queryExecution.executedPlan.toString
      assert(p.contains("isFinalPlan=true"))
      assert("ReusedExchange".r.findAllIn(p).size >= 4,
        s"edge/degree exchanges not reused across pagerank iterations:\n${p.take(4000)}")
    }
  }

  test("text_bpe_apply: segmentation is a shuffle-free scan (merge table rides the plan)") {
    val p = plan("text_bpe_apply")
    assert(!p.contains("Join"), s"apply stage joined against the merge table:\n$p")
    assert(!p.contains("Exchange"), s"segmentation crossed a shuffle:\n$p")
  }

  test("emb_pq: encoding is a shuffle-free scan (codebooks broadcast, not joined)") {
    val p = plan("emb_pq")
    assert(!p.contains("Join"), s"encoding joined against the codebook:\n$p")
    assert(!p.contains("Exchange"), s"encoding crossed a shuffle:\n$p")
  }

  test("graph_communities: edges partitioned once — no per-round edge exchange") {
    distributedGraph {
      val df = SparkEntry.queries("graph_communities")(spark, SparkTestSession.sfDir)
      df.collect()
      val p = df.queryExecution.executedPlan.toString
      assert(p.contains("isFinalPlan=true"))
      // the edge list (keyed by src) is hash-partitioned at checkpoint
      // time; every label round must consume it in place — label-sized
      // rows may shuffle each round, edge-sized rows may not
      assert(!p.contains("Exchange hashpartitioning(src"),
        s"edge side re-exchanged inside the label-propagation rounds:\n${p.take(4000)}")
      // one aggregate exchange per round (deterministic-mode fuses the
      // count and argmax shuffles) + init + census
      assert("Exchange hashpartitioning".r.findAllIn(p).size <= 10,
        s"unbounded exchange growth across LPA rounds:\n${p.take(4000)}")
    }
  }

  test("q_zorder_sink: both box predicates are pushed to the z-clustered scan") {
    val p = plan("q_zorder_sink")
    val pushed = p.replaceAll("(?s).*PushedFilters: \\[([^\\]]*)].*", "$1")
    assert(pushed.contains("l_partkey") && pushed.contains("l_suppkey"),
      s"2-D box predicate not pushed to the z-ordered parquet scan:\n$p")
  }

  test("q_profile: KMV sketch partially aggregates map-side off one pruned scan") {
    val p = plan("q_profile")
    // partial bottom-k before the exchange: the shuffle carries at
    // most cols×partitions×k longs at ANY column cardinality
    assert(p.contains("partial_bottomkdistinct"),
      s"KMV buffer not map-side combined — shuffle scales with cardinality:\n${p.take(3000)}")
    assert("Exchange hashpartitioning".r.findAllIn(p).size === 1,
      "profile should be one melt + one aggregation exchange")
    assert(!p.contains("Expand"), "profile must not fall back to count-distinct expand")
  }

  test("q_event_cohorts: no count-distinct Expand; cohort-size side broadcasts") {
    val p = plan("q_event_cohorts")
    // the activity frame is pre-distinct per (user, day): active-user
    // counts must stay plain count(*), never an Expand-based distinct
    assert(!p.contains("Expand"),
      s"cohort counts fell back to count-distinct expand:\n${p.take(3000)}")
    assert(p.contains("BroadcastHashJoin"), "cohort-size table did not broadcast")
  }

  test("q7_volume_shipping: shipdate pushed to parquet; nation-filtered supplier broadcasts") {
    val p = plan("q7_volume_shipping")
    assert(p.contains("GreaterThanOrEqual(l_shipdate"), "shipdate range not pushed to scan")
    assert(p.contains("BroadcastHashJoin"), "prefiltered supplier side did not broadcast")
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"))
  }

  test("q10_returned_items: returnflag pushed to parquet; top-20 lowers to heap") {
    val p = plan("q10_returned_items")
    assert(p.contains("EqualTo(l_returnflag,R)"), "returnflag not pushed to scan")
    assert(p.contains("TakeOrderedAndProject"), "top-20 did not lower, global sort")
  }

  test("q6_forecast_revenue: all three predicates reach the parquet scan") {
    val p = plan("q6_forecast_revenue")
    // PushedFilters truncates in toString; assert via the scan's
    // DataFilters prefix + the full Filter node expressions
    assert(p.contains("PushedFilters: [IsNotNull(l_shipdate)"), "no filters pushed to scan")
    assert(p.contains(">= 0.05)") && p.contains("<= 0.07)"), "discount band missing")
    assert(p.contains("< 24.0)"), "quantity bound missing")
    assert(!p.contains("Exchange hashpartitioning"),
      "a global aggregate needs no hash exchange, only the 1-row gather")
  }

  test("q18_large_orders: HAVING partial-aggregates map-side; top-100 lowers to heap") {
    val p = plan("q18_large_orders")
    assert(p.contains("partial_sum"), "quantity sum not map-side combined")
    assert(p.contains("TakeOrderedAndProject"), "top-100 did not lower, global sort")
  }

  test("q19_brand_promo: per-side prefilters pushed; part side broadcasts") {
    val p = plan("q19_brand_promo")
    assert(p.contains("BroadcastHashJoin"), "part side did not broadcast")
    // the explicit subsuming prefilters reach both parquet scans
    assert(p.contains("Or(And(EqualTo(p_brand,Brand#1)") ||
      p.contains("In(p_brand, [Brand#1,Brand#2,Brand#3])") ||
      p.contains("EqualTo(p_brand,Brand#1)"), "part prefilter not pushed to scan")
    assert(p.contains("GreaterThanOrEqual(l_quantity,1.0)") &&
      p.contains("LessThanOrEqual(l_quantity,30.0)"),
      "lineitem quantity prefilter not pushed to scan")
  }

  test("q22_idle_customers: scalar average broadcasts; anti-join sees a date-filtered orders scan") {
    val p = plan("q22_idle_customers")
    assert(p.contains("LeftAnti"), "NOT EXISTS did not lower to an anti join")
    assert(p.contains("GreaterThanOrEqual(o_orderdate,"), "date cutoff not pushed to orders scan")
    assert(p.contains("BroadcastExchange"), "1-row average did not broadcast")
  }

  test("q13_order_distribution: priority filter pushed; both aggregations partial map-side") {
    val p = plan("q13_order_distribution")
    assert(p.contains("Not(EqualTo(o_orderpriority,5-LOW))"), "priority filter not pushed")
    assert(p.contains("partial_count"), "per-customer count not map-side combined")
    assert("Exchange hashpartitioning".r.findAllIn(p).size <= 2,
      "more than the custkey + histogram exchanges")
  }

  test("corpus_shard_manifest: one scan, map-side partials, one shard exchange") {
    val p = plan("corpus_shard_manifest")
    assert(p.contains("partial_bit_xor"), "checksum not map-side combined")
    assert("Exchange hashpartitioning".r.findAllIn(p).size == 1, "extra exchange")
    assert("FileScan parquet".r.findAllIn(p).size == 1, "corpus scanned more than once")
  }

  test("q21_waiting_supplier: semi/anti self-joins share the orderkey exchange family; supplier broadcasts") {
    val p = plan("q21_waiting_supplier")
    assert(p.contains("LeftSemi") && p.contains("LeftAnti"),
      "EXISTS/NOT EXISTS did not lower to semi/anti joins")
    assert(p.contains("BroadcastHashJoin"), "supplier join did not broadcast")
    assert(p.contains("EqualTo(o_orderstatus,F)"), "status filter not pushed to orders scan")
    // three lineitem sides + orders: the orderkey exchanges stay bounded
    assert("Exchange hashpartitioning".r.findAllIn(p).size <= 5, p.take(2000))
  }

  test("text_lm_heldout: scoring is one join-free scan (the LM broadcasts as a map)") {
    val p = plan("text_lm_heldout")
    assert(!p.contains("Join"), s"LM scoring pass grew a join:\n${p.take(1500)}")
    assert(!p.contains("Exchange hashpartitioning"),
      "per-doc scoring should not shuffle")
  }

  test("text_ppl_buckets / pipeline_ccnet: threshold tables broadcast, never sort-merge") {
    for (n <- Seq("text_ppl_buckets", "pipeline_ccnet")) {
      val p = plan(n)
      assert(p.contains("BroadcastHashJoin"), s"$n: thresholds not broadcast")
      assert(!p.contains("SortMergeJoin"),
        s"$n: a bounded threshold table shuffled:\n${p.take(1500)}")
    }
  }

  test("q_kmv_ops: sketches meet in a broadcast pair stage, never a shuffle join") {
    val p = plan("q_kmv_ops")
    assert(p.contains("partial_bottomkdistinct"),
      "per-source KMV not map-side combined")
    // sources×k sketch rows are broadcast for the pairwise algebra;
    // only posting lists and sketch buffers ever hash-exchange
    assert(p.contains("BroadcastNestedLoopJoin") || p.contains("BroadcastHashJoin"))
    assert(!p.contains("SortMergeJoin"),
      s"pair stage shuffled a sketch-sized table:\n${p.take(3000)}")
  }

  test("corpus_domain_cap: the per-domain cut runs on the heap, never a per-domain sort") {
    val p = plan("corpus_domain_cap")
    assert(p.contains("TopKPerKey"), "domain cap not lowered to the heap operator")
    assert(!p.contains("Sort") && !p.contains("Window"),
      s"domain cap materialized a sort/window over the corpus:\n$p")
  }

  test("corpus_epoch_shuffle: one exchange on (epoch, shard); the 2-row epoch frame broadcasts") {
    val p = plan("corpus_epoch_shuffle")
    assert("Exchange hashpartitioning".r.findAllIn(p).size === 1,
      s"epoch shuffle should exchange exactly once:\n$p")
    assert(p.contains("BroadcastNestedLoopJoin"),
      "the epochs frame should ride a broadcast nested loop, not a shuffle")
  }

  test("q_scd2: both windows share ONE user_id exchange (same key, same order)") {
    val p = plan("q_scd2")
    assert("Exchange hashpartitioning".r.findAllIn(p).size === 1,
      s"the lag and lead windows should reuse a single exchange:\n$p")
    assert(!p.contains("SortMergeJoin") && !p.contains("CartesianProduct"))
  }

  test("pipeline_train_prep: composed chain keeps the heap cut and two narrow-output exchanges") {
    val p = plan("pipeline_train_prep")
    assert(p.contains("TopKPerKey"), "the domain cap lost its heap lowering in composition")
    assert(!p.contains("Window"), "composition materialized a window over the corpus")
    assert("Exchange hashpartitioning".r.findAllIn(p).size <= 2,
      s"train-prep chain should be two exchanges (cap, shard manifest):\n$p")
  }

  test("text_keywords: full-vocab rank cut runs on the heap; no product joins") {
    val p = plan("text_keywords")
    assert(p.contains("TopKPerKey"), "per-doc keyword cut not lowered to the heap operator")
    assert(!p.contains("Window"), "keyword extraction materialized a window over all terms")
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"),
      "corpus-size stats should ride the plan as a literal, not a join")
  }

  test("corpus_apply_delta: the delta id set broadcasts; the corpus is never sort-merged") {
    val p = plan("corpus_apply_delta")
    assert(p.contains("BroadcastHashJoin"), "anti-join's delta side should broadcast")
    assert(!p.contains("SortMergeJoin"),
      s"the upsert shuffled the corpus against a delta-sized side:\n${p.take(2000)}")
  }

  test("q_zonemap_prune: the stats table prunes files BEFORE the scan; predicate still pushed") {
    import org.apache.spark.sql.functions._
    val li = Tables.t(spark, SparkTestSession.sfDir, "lineitem")
    val path = java.nio.file.Files.createTempDirectory("graft_zonemap_audit").toString
    graft.sources.FileIO.sortedRoundTrip(li, path, "l_shipdate", partitions = 16)
    val stats = graft.sources.ZoneMap.build(spark, path, Seq("l_shipdate"))
    val nTotal = stats.count()
    val nCand = graft.sources.ZoneMap.candidateFiles(stats, "l_shipdate",
      to_timestamp(lit("1995-01-01")), to_timestamp(lit("1995-03-31"))).count()
    assert(nCand < nTotal,
      s"metadata pruning did nothing: $nCand of $nTotal files survive a one-quarter range")
    val pruned = graft.sources.ZoneMap.prunedRead(spark, stats, li.schema, "l_shipdate",
      to_timestamp(lit("1995-01-01")), to_timestamp(lit("1995-03-31")))
    val p = pruned.queryExecution.executedPlan.toString
    assert(p.contains("PushedFilters: [IsNotNull(l_shipdate), GreaterThanOrEqual(l_shipdate"),
      "range predicate must still reach the parquet reader for row-group skipping")
  }

  test("dedup_paragraphs: keep-first is an aggregate, never a window over the hash") {
    val p = plan("dedup_paragraphs")
    assert(!p.contains("Window"),
      "first-occurrence must be min(struct) partial agg — a per-hash window serializes viral paragraphs")
    assert(p.contains("partial_min") || p.contains("ObjectHashAggregate") || p.contains("HashAggregate"),
      s"expected a map-side-combining aggregate:\n${p.take(1500)}")
  }

  test("er_sorted_neighborhood: global sequence is range-partitioned, not single-task") {
    val p = plan("er_sorted_neighborhood")
    assert(!p.contains("Exchange SinglePartition"),
      s"SNM sequence collapsed to one task:\n${p.take(1500)}")
    // the range exchange itself is behind cumulativeSums'
    // localCheckpoint; what the visible plan must show is the
    // PER-PARTITION window (partitioned by _pid), never a bare global
    // window over the whole sort order
    assert(p.contains("windowspecdefinition(_pid"),
      s"sequence window must be partitioned by _pid:\n${p.take(1500)}")
  }

  test("q_constraints: row checks fold into single-scan aggregates; fk parent broadcasts") {
    val p = plan("q_constraints")
    assert(p.contains("BroadcastHashJoin"), "customer key set should broadcast into the anti-join")
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"))
    // the FOUR row constraints share ONE aggregate pass (visible as a
    // single HashAggregate with four sum(CASE...) functions): scans
    // scale with verdict JOBS (row / unique / fk, each over the
    // corrupted union's 2 branches, + parent lookups), never with the
    // number of row constraints
    assert("sum\\(CASE WHEN".r.findAllIn(p).size >= 4,
      "row constraints did not fold into one aggregate")
    val scans = "Scan parquet".r.findAllIn(p).size
    assert(scans <= 8, s"constraint suite re-scans its inputs ($scans parquet scans):\n${p.take(1500)}")
  }

  test("dedup_span_rewrite: keep-first is an aggregate; the hot-owner set broadcasts at runtime") {
    val df = SparkEntry.queries("dedup_span_rewrite")(spark, SparkTestSession.sfDir)
    df.collect() // let AQE finalize with the real hot-set size
    val p = df.queryExecution.executedPlan.toString
    assert(!p.contains("Window"),
      "first-occurrence must be min(struct) partial agg — a per-hash window serializes viral spans")
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"))
    // the ≥2-occurrence filter shrinks the owner table to the
    // actually-shared set, which AQE then broadcasts — the positioned
    // rows must never meet a corpus-sized side in a sort-merge join
    assert(p.contains("BroadcastHashJoin"),
      s"hot owner set did not broadcast into the positioned join:\n${p.take(2000)}")
  }

  test("corpus_split_stratified: ranks are per-partition windows, never one global sort task") {
    val p = plan("corpus_split_stratified")
    // cumulativeSums' per-partition window (partitioned by _pid) must
    // carry the ranking; the only global window allowed is the bounded
    // one-row-per-stratum offset table
    assert(p.contains("windowspecdefinition(_pid"),
      s"stratified rank must ride the _pid-partitioned window:\n${p.take(1500)}")
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"))
  }

  test("graph_ppr / graph_sssp: frontier-sized state, no product joins") {
    val p1 = distributedGraph(plan("graph_ppr"))
    assert(!p1.contains("CartesianProduct"), "PPR degenerated into a product join")
    // the two one-row count frames (N, |S|) may ride BroadcastNestedLoopJoin
    // (that IS the broadcast of a 1-row side); anything bigger may not
    // graph_sssp's final plan is behind per-round localCheckpoints —
    // audit ONE un-checkpointed relaxation round directly
    import org.apache.spark.sql.functions._
    val s = spark; import s.implicits._
    val wEdges = Seq((0L, 1L, 0.5), (1L, 2L, 0.5)).toDF("src", "dst", "w")
    val dist = Seq((0L, 0.0)).toDF("node", "dist")
    val round1 = dist.unionByName(
        wEdges.join(dist, wEdges("src") === dist("node"))
          .select(col("dst").as("node"), (col("dist") + col("w")).as("dist")))
      .groupBy("node").agg(min("dist").as("dist"))
    val p2 = round1.queryExecution.executedPlan.toString
    assert(!p2.contains("CartesianProduct"),
      "SSSP relaxation degenerated into a product join")
    assert(p2.contains("partial_min"),
      s"relaxation min must be a map-side-combining aggregate:\n${p2.take(1200)}")
  }

  test("graph_kcore / graph_coreness / graph_harmonic: no product joins in any round") {
    for (q <- Seq("graph_kcore", "graph_coreness", "graph_harmonic")) {
      val p = plan(q)
      assert(!p.contains("CartesianProduct"), s"$q degenerated into a product join")
    }
    // loop rounds hide behind per-round checkpoints — audit one
    // un-checkpointed h-index round directly: the per-node sort must
    // be a bounded window partition, never a global Sort, and the
    // h-aggregate must combine map-side
    import org.apache.spark.sql.functions._
    val s = spark; import s.implicits._
    val edges = Seq((0L, 1L), (1L, 0L), (1L, 2L), (2L, 1L)).toDF("src", "dst")
    val vals = Seq((0L, 1L), (1L, 2L), (2L, 1L)).toDF("node", "c")
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("src").orderBy(col("cd").desc)
    val round1 = edges
      .join(vals.select(col("node").as("dst"), col("c").as("cd")), "dst")
      .select(col("src"), col("cd"))
      .withColumn("rn", row_number().over(w).cast("long"))
      .groupBy(col("src").as("node"))
      .agg(max(least(col("rn"), col("cd"))).as("c"))
    val p2 = round1.queryExecution.executedPlan.toString
    assert(!p2.contains("CartesianProduct"))
    assert(p2.contains("partial_max"),
      s"h-index max must be a map-side-combining aggregate:\n${p2.take(1200)}")
  }

  test("er_em_params: the corpus-sized work is ONE combo-count aggregate") {
    val df = SparkEntry.queries("er_em_params")(spark, SparkTestSession.sfDir)
    // EM itself runs on the ≤2^k-row driver table; the PLAN the engine
    // executes for the output is a LocalTableScan — all pair-scale work
    // happened in the single combos aggregate collected beforehand
    val p = df.queryExecution.executedPlan.toString
    assert(p.contains("LocalTableScan"),
      s"EM output should be the bounded parameter table:\n${p.take(800)}")
  }

  test("emb_pca: projection is one shuffle-free scan; the fit is one aggregate, not a join") {
    // the RETURNED frame (fit already folded into component literals):
    // scan + project only — no exchange, no join, no aggregate
    val p = plan("emb_pca")
    assert(!p.contains("Exchange"), "PCA projection must not shuffle")
    assert(!p.contains("Join"), "PCA projection must not join")
    assert(!p.contains("HashAggregate"), "fit must not leak into the projection plan")
  }

  test("dedup_clusters_big / ann_multiprobe: no product joins anywhere in the loop stages") {
    val p1 = plan("ann_multiprobe")
    assert(p1.contains("BroadcastHashJoin"), "multiprobe query fan-out should broadcast")
    assert(!p1.contains("CartesianProduct") && !p1.contains("BroadcastNestedLoopJoin"))
    val p2 = plan("er_fellegi_sunter")
    assert(!p2.contains("CartesianProduct") && !p2.contains("BroadcastNestedLoopJoin"),
      "blocked pair generation degenerated into a product join")
  }

  test("partsupp tier: fact joins broadcast; only the tiny generator crosses nest-loop") {
    // the derived-partsupp construction legitimately crosses part with
    // a 4-row quarters frame and a 1-row supplier count (and q11 with
    // a 1-row total) — those appear as BroadcastNestedLoopJoin over
    // IdentityBroadcastMode literals. Everything else must hash-join,
    // and nothing may fall to a CartesianProduct.
    for (q <- Seq("q2_min_cost_supplier", "q9_product_profit",
        "q11_important_stock", "q16_parts_supplier_cnt",
        "q20_stocked_promo_suppliers")) {
      val p = plan(q)
      assert(!p.contains("CartesianProduct"), s"$q: cartesian product")
      assert(p.contains("BroadcastHashJoin"), s"$q: no broadcast hash join")
      assert(!p.contains("SortMergeJoin"),
        s"$q: a dimension-sized side fell to sort-merge")
      // every nested-loop must be an INTENTIONAL Cross (the 4-row /
      // 1-row generator literals; duplicated where the subtree feeds
      // two consumers — q2's offers, q11's scoped) — a real pair of
      // tables falling to nested-loop would surface as Inner/Semi
      val bnl = p.linesIterator.filter(_.contains("BroadcastNestedLoopJoin")).toSeq
      assert(bnl.forall(_.contains("Cross")),
        s"$q: a non-cross join fell to nested-loop")
      assert(bnl.size <= 5, s"$q: more nested-loop crosses than the generators explain")
    }
    // Q2's full-tie-break LIMIT lowers to top-k; Q20 keeps the
    // supplier probe a LeftSemi (never materializes the IN list rows)
    assert(plan("q2_min_cost_supplier").contains("TakeOrderedAndProject"))
    assert(plan("q20_stocked_promo_suppliers").contains("LeftSemi"))
  }
}
