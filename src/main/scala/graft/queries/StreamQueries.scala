package graft
package queries

import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.Tables.t
import graft.operators.AsOfJoin
import graft.streaming.EventStreams
import graft.queries.OracleSql._

/**
 * Event-table queries: the streaming operators (`stream_*`) and the
 * batch event analyses (windows, sessions, SCD2, dimension lookups,
 * cohorts, attribution, pattern matching).
 */
private[queries] object StreamQueries {

  val all: Seq[Query] = Seq(
    Query("q_events_window", (s, dir) =>
      EventStreams.windowedCounts(t(s, dir, "events")),
      oracle = ("SELECT date_trunc('hour', ts) AS win_start, event_type, count(*) AS n, " +
        "round(sum(value), 2) AS sum_value FROM events GROUP BY win_start, event_type")),

    Query("q_sessionize", (s, dir) =>
      EventStreams.sessionCounts(t(s, dir, "events")),
      oracle = ("WITH d AS (SELECT user_id, ts, CASE WHEN lag(ts) OVER w IS NULL " +
        "OR epoch_ms(ts) - epoch_ms(lag(ts) OVER w) > 1800000 THEN 1 ELSE 0 END AS new_session " +
        "FROM events WINDOW w AS (PARTITION BY user_id ORDER BY ts)) " +
        "SELECT user_id, CAST(sum(new_session) AS BIGINT) AS n_sessions, " +
        "count(*) AS n_events FROM d GROUP BY user_id")),

    /**
     * Slowly-changing-dimension TYPE 2 build from an event log: each
     * user's event_type transitions become versioned validity intervals
     * ([valid_from, valid_to), open interval = current) — the warehouse
     * history-table pattern, derived with two per-user windows (change
     * detection by lag, interval close by lead). One hash exchange on
     * user_id; per-user sort only (users are bounded, the log is not —
     * the window never sees more than one user's rows). Timestamps are
     * compared and emitted at ms precision on both engines (the fixture
     * is ns parquet; Spark floors ns→µs→ms, DuckDB ns→ms — identical
     * floors).
     */
    Query("q_scd2", (s, dir) => {
      val ev = t(s, dir, "events")
        .select(col("user_id"), col("event_id"), col("event_type"),
          unix_millis(col("ts")).as("ms"))
      val w = Window.partitionBy("user_id").orderBy(col("ms"), col("event_id"))
      val changes = ev
        .withColumn("prev_type", lag(col("event_type"), 1).over(w))
        .filter(col("prev_type").isNull || col("prev_type") =!= col("event_type"))
      val w2 = Window.partitionBy("user_id").orderBy(col("ms"), col("event_id"))
      changes
        .withColumn("version", row_number().over(w2).cast("long"))
        .withColumn("valid_to_ms", lead(col("ms"), 1).over(w2))
        .select(col("user_id"), col("version"), col("event_type").as("state"),
          col("ms").as("valid_from_ms"), col("valid_to_ms"),
          col("valid_to_ms").isNull.as("is_current"))
    },
      // SCD2: change rows by lag, intervals closed by lead — ms-floored
      // timestamps on both engines (ns→ms floors agree)
      oracle =
        ("WITH e AS (SELECT user_id, event_id, event_type, epoch_ms(ts) AS ms FROM events), " +
          "d AS (SELECT user_id, event_id, event_type, ms, lag(event_type) OVER w AS prev_type " +
          "FROM e WINDOW w AS (PARTITION BY user_id ORDER BY ms, event_id)), " +
          "c AS (SELECT * FROM d WHERE prev_type IS NULL OR prev_type <> event_type) " +
          "SELECT user_id, CAST(row_number() OVER w2 AS BIGINT) AS version, " +
          "event_type AS state, ms AS valid_from_ms, lead(ms) OVER w2 AS valid_to_ms, " +
          "lead(ms) OVER w2 IS NULL AS is_current " +
          "FROM c WINDOW w2 AS (PARTITION BY user_id ORDER BY ms, event_id)")),

    /**
     * POINT-IN-TIME dimension lookup — the consuming side of SCD2: each
     * purchase joins the dimension version valid AT its event time.
     * Because a key's versions partition time, the interval join
     * collapses to a backward as-of against the version starts — the
     * custom [[graft.operators.AsOfJoin]], one hash exchange on the
     * key, |facts|+|versions| rows total, never an interval-explosion
     * range join. The oracle proves the interval semantics directly
     * (BETWEEN valid_from AND valid_to with the open current interval).
     */
    Query("q_dim_lookup", (s, dir) => {
      // dimension = the user's BROWSING state (non-purchase transitions);
      // facts = purchases looked up against it — "purchases by current
      // context". Purchases before a user's first tracked state → 'none'.
      val ev = t(s, dir, "events")
        .select(col("user_id"), col("event_id"), col("event_type"),
          unix_millis(col("ts")).as("ms"), col("value"))
      val track = ev.filter(col("event_type") =!= "purchase")
      val w = Window.partitionBy("user_id").orderBy(col("ms"), col("event_id"))
      val dim = track
        .withColumn("prev_type", lag(col("event_type"), 1).over(w))
        .filter(col("prev_type").isNull || col("prev_type") =!= col("event_type"))
        .select(col("user_id").as("d_user"), col("ms").as("valid_from_ms"),
          col("event_type").as("state"))
      val purchases = ev.filter(col("event_type") === "purchase")
        .select(col("user_id"), col("ms"), col("value"))
      AsOfJoin.asofBackward(purchases, dim, "user_id", "d_user", "ms", "valid_from_ms")
        .groupBy(coalesce(col("state"), lit("none")).as("state"))
        .agg(count(lit(1)).as("n_purchases"), round(sum("value"), 2).as("sum_value"))
    },
      // point-in-time lookup replayed as the explicit interval join
      // (>= valid_from, < valid_to, open current interval)
      oracle =
        ("WITH e AS (SELECT user_id, event_id, event_type, epoch_ms(ts) AS ms, value FROM events), " +
          "d0 AS (SELECT user_id, event_id, event_type, ms, lag(event_type) OVER w AS prev_type " +
          "FROM (SELECT * FROM e WHERE event_type <> 'purchase') " +
          "WINDOW w AS (PARTITION BY user_id ORDER BY ms, event_id)), " +
          "c AS (SELECT * FROM d0 WHERE prev_type IS NULL OR prev_type <> event_type), " +
          "dim AS (SELECT user_id, event_type AS state, ms AS valid_from_ms, " +
          "lead(ms) OVER w2 AS valid_to_ms " +
          "FROM c WINDOW w2 AS (PARTITION BY user_id ORDER BY ms, event_id)), " +
          "p AS (SELECT user_id, ms, value FROM e WHERE event_type = 'purchase') " +
          "SELECT coalesce(dim.state, 'none') AS state, count(*) AS n_purchases, " +
          "round(sum(p.value), 2) AS sum_value " +
          "FROM p LEFT JOIN dim ON p.user_id = dim.user_id " +
          "AND p.ms >= dim.valid_from_ms " +
          "AND (dim.valid_to_ms IS NULL OR p.ms < dim.valid_to_ms) " +
          "GROUP BY 1")),

    /**
     * Last-touch attribution: each purchase credits the user's latest
     * preceding view/click/signup (or 'none'), via the custom
     * [[graft.operators.AsOfJoin]] — one hash exchange on user_id plus a
     * per-key window sort, |P|+|T| rows total, never a range explosion.
     * The oracle replays it with DuckDB's native ASOF LEFT JOIN.
     */
    Query("q_attribution", (s, dir) => {
      val ev = t(s, dir, "events")
      val purchases = ev.filter(col("event_type") === "purchase")
        .select(col("user_id"), col("ts"), col("value"))
      val touches = ev.filter(col("event_type").isin("view", "click", "signup"))
        .select(col("user_id").as("t_user"), col("ts").as("t_ts"),
          col("event_type").as("touch_type"))
      AsOfJoin.asofBackward(purchases, touches, "user_id", "t_user", "ts", "t_ts")
        .groupBy(coalesce(col("touch_type"), lit("none")).as("touch_type"))
        .agg(count(lit(1)).as("n_purchases"),
          round(sum("value"), 2).as("attributed_value"))
    },
      // last-touch attribution replayed with DuckDB's native ASOF LEFT JOIN
      // (inclusive t.ts <= p.ts matches asofBackward's equal-ts ordering)
      oracle =
        ("WITH p AS (SELECT user_id, ts, value FROM events WHERE event_type = 'purchase'), " +
          "tch AS (SELECT user_id, ts, event_type AS touch_type FROM events " +
          "WHERE event_type IN ('view', 'click', 'signup')) " +
          "SELECT coalesce(t.touch_type, 'none') AS touch_type, count(*) AS n_purchases, " +
          "round(sum(p.value), 2) AS attributed_value " +
          "FROM p ASOF LEFT JOIN tch t ON p.user_id = t.user_id AND t.ts <= p.ts " +
          "GROUP BY 1")),

    /**
     * Cohort retention matrix: users grouped by first-seen day, activity
     * counted per (cohort, day-offset). The activity frame is distinct
     * on (user, day) BEFORE the cohort join, so each group's active-user
     * count is a plain count(*) — no count-distinct Expand; both the
     * first-seen agg and the join shuffle on user_id (one exchange
     * reused), and the per-cohort size table (≤ days rows) broadcasts.
     */
    Query("q_event_cohorts", (s, dir) => {
      val ev = t(s, dir, "events")
      val firstSeen = ev.groupBy("user_id")
        .agg(date_trunc("day", min("ts")).as("cohort_day"))
      val active = ev.select(col("user_id"),
        date_trunc("day", col("ts")).as("day")).distinct()
      val sizes = firstSeen.groupBy("cohort_day").agg(count(lit(1)).as("cohort_users"))
      active.join(firstSeen, "user_id")
        .groupBy(col("cohort_day"),
          datediff(col("day"), col("cohort_day")).cast("long").as("day_offset"))
        .agg(count(lit(1)).as("active_users"))
        .join(broadcast(sizes), "cohort_day")
        .select(col("cohort_day"), col("day_offset"), col("active_users"),
          round(col("active_users") / col("cohort_users"), 4).as("retention"))
    },
      // cohort retention: first-seen day x day-offset active-user matrix;
      // activity is pre-distinct per (user, day) so counts are plain count(*)
      oracle = ("WITH fs AS (SELECT user_id, date_trunc('day', min(ts)) AS cohort_day " +
        "FROM events GROUP BY 1), " +
        "act AS (SELECT DISTINCT user_id, date_trunc('day', ts) AS day FROM events), " +
        "sz AS (SELECT cohort_day, count(*) AS cohort_users FROM fs GROUP BY 1), " +
        "m AS (SELECT f.cohort_day, date_diff('day', f.cohort_day, a.day) AS day_offset, " +
        "count(*) AS active_users FROM act a JOIN fs f USING (user_id) GROUP BY 1, 2) " +
        "SELECT m.cohort_day, m.day_offset, m.active_users, " +
        "round(m.active_users / sz.cohort_users, 4) AS retention " +
        "FROM m JOIN sz USING (cohort_day)")),

    /** Stream-stream-joinable click→purchase attribution (batch twin; streaming in StreamingSpec). */
    Query("stream_click_purchase", (s, dir) =>
      EventStreams.clickToPurchaseStats(t(s, dir, "events")),
      oracle = ("SELECT c.user_id, count(*) AS n_conversions, " +
        "round(avg((epoch_ms(p.ts) - epoch_ms(c.ts)) / 1000.0), 4) AS avg_delay_s " +
        "FROM (SELECT user_id, ts FROM events WHERE event_type = 'click') c " +
        "JOIN (SELECT user_id, ts FROM events WHERE event_type = 'purchase') p " +
        "ON c.user_id = p.user_id " +
        "AND epoch_us(p.ts) - epoch_us(c.ts) BETWEEN 1 AND 1800000000 " +
        "GROUP BY c.user_id")),

    /**
     * The Spark 4 `transformWithState` StatefulProcessor run as a BATCH
     * query (the new arbitrary-state API executes on batch frames too —
     * one pass, state discarded): per-user event stats ≡ groupBy agg.
     * The streaming run of the same processor converges to these rows
     * (StreamingSpec).
     */
    Query("stream_user_stats", (s, dir) =>
      graft.streaming.Stateful.runningUserStats(t(s, dir, "events")).toDF(),
      oracle = ("SELECT user_id, count(*) AS n_events, " +
        "floor(sum(value) * 100 + 0.5) / 100 AS total_value, " +
        "max(value) AS max_value FROM events GROUP BY user_id")),

    /**
     * Batch twin of the stream-stream LEFT OUTER join
     * ([[EventStreams.clickToPurchaseOuter]]): per user, attribution
     * rows and the unconverted-click count (null purchase side).
     */
    Query("stream_unconverted", (s, dir) => {
      val ev = t(s, dir, "events")
      EventStreams.clickToPurchaseOuter(
        ev.filter(col("event_type") === "click"),
        ev.filter(col("event_type") === "purchase"))
        .groupBy("user_id")
        .agg(count(lit(1)).as("n_rows"),
          count(when(col("p_ts").isNull, 1)).as("n_unconverted"))
    },
      oracle = ("SELECT user_id, count(*) AS n_rows, " +
        "count(*) FILTER (p_ts IS NULL) AS n_unconverted FROM (" +
        "SELECT c.user_id, p.ts AS p_ts " +
        "FROM (SELECT user_id, ts FROM events WHERE event_type = 'click') c " +
        "LEFT JOIN (SELECT user_id, ts FROM events WHERE event_type = 'purchase') p " +
        "ON c.user_id = p.user_id " +
        "AND epoch_us(p.ts) - epoch_us(c.ts) BETWEEN 1 AND 1800000000" +
        ") GROUP BY user_id")),

    /** Streaming volume-anomaly batch twin: |z| >= 2 windows per event type. */
    Query("stream_zscore", (s, dir) =>
      EventStreams.zscoreReport(EventStreams.windowedCounts(t(s, dir, "events"))
        .select(col("win_start"), col("event_type"), col("n"))),
      // windowed volume anomalies: |z| >= 2 on the 4-decimal rounding
      oracle = ("WITH wc AS (SELECT date_trunc('hour', ts) AS win_start, event_type, " +
        "count(*) AS n FROM events GROUP BY 1, 2), " +
        "st AS (SELECT event_type, avg(n) AS mean_n, stddev_samp(n) AS sd_n, " +
        "count(*) AS n_windows FROM wc GROUP BY 1), " +
        "z AS (SELECT wc.win_start, wc.event_type, wc.n, " +
        "round((wc.n - st.mean_n) / st.sd_n, 4) AS z FROM wc JOIN st USING(event_type) " +
        "WHERE st.n_windows >= 2 AND st.sd_n > 0) " +
        "SELECT win_start, event_type, n, z FROM z WHERE abs(z) >= 2.0")),

    /** Streaming leaderboard batch twin: per-hour top-3 users on the custom heap operator. */
    Query("stream_topk", (s, dir) =>
      EventStreams.topUsersPerWindow(EventStreams.windowUserCounts(t(s, dir, "events"))),
      // per-hour top-3 users by activity (streaming leaderboard twin)
      oracle = ("WITH c AS (SELECT date_trunc('hour', ts) AS win_start, user_id, count(*) AS n " +
        "FROM events GROUP BY 1, 2), " +
        "r AS (SELECT win_start, user_id, n, row_number() OVER " +
        "(PARTITION BY win_start ORDER BY n DESC, user_id) AS rn FROM c) " +
        "SELECT win_start, user_id, n FROM r WHERE rn <= 3")),

    /**
     * Batch twin of the streaming CMS: count-min estimates vs exact
     * counts for the 10 busiest users. StreamingSpec proves the
     * micro-batch-merged sketch (cells summed across batches) equals
     * this single-shot sketch cell-for-cell — the mergeable-summary
     * pattern for approximate frequency over an unbounded stream.
     */
    Query("stream_cms", (s, dir) =>
      graft.operators.Sketches.cmsEstimates(
          Tables.events(s, dir).select(col("user_id")), "user_id", topK = 10)
        .select(col("k").cast("long").as("user_id"), col("exact"), col("est")),
      // the streaming CMS's batch twin — same cell replay as q_cms_topk
      // on the events stream's user ids
      oracle = ("WITH tok AS (SELECT user_id::VARCHAR AS k FROM events), " +
        "ex AS (SELECT k, count(*) AS exact FROM tok GROUP BY k " +
        "ORDER BY exact DESC, k LIMIT 10), " +
        "sk AS (SELECT j, CAST((" + md5u("j::VARCHAR||':'||k") +
        " & 8191::UBIGINT) AS BIGINT) AS b, count(*) AS c " +
        "FROM tok, generate_series(0, 3) g(j) GROUP BY 1, 2) " +
        "SELECT CAST(e.k AS BIGINT) AS user_id, e.exact, min(sk.c) AS est " +
        "FROM ex e CROSS JOIN generate_series(0, 3) g(j) " +
        "JOIN sk ON sk.j = g.j AND sk.b = CAST((" +
        md5u("g.j::VARCHAR||':'||e.k") + " & 8191::UBIGINT) AS BIGINT) " +
        "GROUP BY e.k, e.exact")),

    /**
     * Batch twin of the streaming KMV distinct counter: per event type,
     * distinct users exactly and by the mergeable bottom-256 sketch —
     * [[graft.operators.Sketches.kmvDistinctByKey]]; StreamingSpec
     * proves sketches merged across real micro-batches equal this.
     */
    Query("stream_kmv", (s, dir) =>
      graft.operators.Sketches.kmvDistinctByKey(
        Tables.events(s, dir).select(col("event_type"), col("user_id")),
        "event_type", "user_id"),
      // per-event-type KMV distinct-user estimates replayed exactly from
      // the same md5 bottom-256 hash sets (batch twin of the streaming
      // mergeable sketch)
      oracle = ("WITH v AS (SELECT DISTINCT event_type, user_id::VARCHAR AS v FROM events), " +
        "hs AS (SELECT DISTINCT event_type, CAST((" + md5u("'kmv:'||v") +
        " & 9223372036854775807::UBIGINT) AS BIGINT) AS h FROM v), " +
        "bk AS (SELECT event_type, h, row_number() OVER " +
        "(PARTITION BY event_type ORDER BY h) AS rn FROM hs), " +
        "e AS (SELECT event_type, count(*) AS m_used, max(h) AS kth " +
        "FROM bk WHERE rn <= 256 GROUP BY event_type), " +
        "ex AS (SELECT event_type, count(*) AS n_exact FROM v GROUP BY event_type) " +
        "SELECT ex.event_type, ex.n_exact, e.m_used, " +
        "round(CASE WHEN e.m_used < 256 THEN e.m_used::DOUBLE " +
        "ELSE 255.0 * 9223372036854775808.0 / e.kth END, 2) AS distinct_est " +
        "FROM ex JOIN e USING (event_type)")),

    Query("stream_sessions", (s, dir) =>
      EventStreams.streamingSessions(t(s, dir, "events"))
        .select(col("user_id"), date_trunc("second", col("session_start")).as("session_start"),
          col("n_events")),
      oracle = ("WITH d AS (SELECT user_id, ts, CASE WHEN lag(ts) OVER w IS NULL " +
        "OR epoch_ms(ts) - epoch_ms(lag(ts) OVER w) > 1800000 THEN 1 ELSE 0 END AS new_session " +
        "FROM events WINDOW w AS (PARTITION BY user_id ORDER BY ts)), " +
        "s AS (SELECT user_id, ts, sum(new_session) OVER " +
        "(PARTITION BY user_id ORDER BY ts ROWS UNBOUNDED PRECEDING) AS session_id FROM d) " +
        "SELECT user_id, date_trunc('second', min(ts)) AS session_start, count(*) AS n_events " +
        "FROM s GROUP BY user_id, session_id")),

    /** Streaming-dedup batch twin: duplicated input, exact-once output (drop by event id). */
    Query("stream_dedup", (s, dir) => {
      val ev = t(s, dir, "events")
      ev.unionAll(ev)
        .dropDuplicates("event_id")
        .groupBy("event_type")
        .agg(count("*").as("n"))
    },
      oracle = "SELECT event_type, count(*) AS n FROM events GROUP BY event_type"),

    /**
     * Stream-static enrichment census (batch twin — the streaming run
     * over the same plan, with the dimension broadcast, is proven
     * equivalent in StreamingSpec).
     */
    Query("stream_enrich", (s, dir) =>
      EventStreams.enrichedSegmentCensus(
        Tables.events(s, dir), t(s, dir, "customer")),
      oracle = ("SELECT c.c_mktsegment AS segment, count(*) AS n_events, " +
        "round(sum(e.value), 2) AS sum_value FROM events e " +
        "JOIN customer c ON e.user_id = c.c_custkey GROUP BY segment")),

    /**
     * Three-step view→click→purchase funnel census (batch twin of the
     * chained stream-stream join — StreamingSpec proves the streaming
     * run emits the identical triples).
     */
    Query("stream_funnel", (s, dir) =>
      EventStreams.funnelStats(Tables.events(s, dir), windowMinutes = 360),
      oracle = ("SELECT v.user_id, count(*) AS n_funnels, " +
        "round(avg((epoch_ms(p.ts) - epoch_ms(v.ts)) / 1000.0), 4) AS avg_total_s " +
        "FROM (SELECT user_id, ts FROM events WHERE event_type = 'view') v " +
        "JOIN (SELECT user_id, ts FROM events WHERE event_type = 'click') c " +
        "ON v.user_id = c.user_id " +
        "AND epoch_us(c.ts) - epoch_us(v.ts) BETWEEN 1 AND 21600000000 " +
        "JOIN (SELECT user_id, ts FROM events WHERE event_type = 'purchase') p " +
        "ON c.user_id = p.user_id " +
        "AND epoch_us(p.ts) - epoch_us(c.ts) BETWEEN 1 AND 21600000000 " +
        "GROUP BY v.user_id")),

    /**
     * Event-sequence pattern matching (the MATCH_RECOGNIZE shape): per
     * user, the chronological event-type initial string and the count
     * of non-overlapping view→click→purchase subsequence matches, with
     * arbitrary other events between the steps. Sorting happens inside
     * each user's collected array (sort_array on (ts, event_id)
     * structs) — no global sort, one shuffle.
     */
    Query("q_event_pattern", (s, dir) => {
      val ev = Tables.events(s, dir)
      val seq0 = ev.groupBy("user_id")
        .agg(concat_ws("", transform(
          sort_array(collect_list(struct(col("ts"), col("event_id"),
            substring(col("event_type"), 1, 1).as("c")))),
          x => x.getField("c"))).as("seq"))
      seq0.select(col("user_id"),
          length(col("seq")).cast("long").as("n_events"),
          size(regexp_extract_all(col("seq"), lit("v[^vcp]*c[^vcp]*p"), lit(0)))
            .cast("long").as("n_matches"))
        .filter(col("n_matches") > 0)
    },
      // epoch_us ordering matches Spark's microsecond timestamps; the
      // regex forbids crossing another funnel letter between steps, so
      // both engines' leftmost matching finds identical match sets
      oracle = ("WITH s AS (SELECT user_id, " +
        "string_agg(substr(event_type, 1, 1), '' ORDER BY epoch_us(ts), event_id) AS seq, " +
        "count(*) AS n_events FROM events GROUP BY user_id) " +
        "SELECT user_id, CAST(n_events AS BIGINT) AS n_events, " +
        "CAST(len(regexp_extract_all(seq, 'v[^vcp]*c[^vcp]*p')) AS BIGINT) AS n_matches " +
        "FROM s WHERE len(regexp_extract_all(seq, 'v[^vcp]*c[^vcp]*p')) > 0")),

    /**
     * Batch twin of the streaming curation census
     * (streaming.DocumentStreams.curatedCensus — the plan is shared
     * verbatim with the readStream path; StreamingSpec proves the
     * streaming run produces these exact rows).
     */
    Query("stream_curate", (s, dir) =>
      graft.streaming.DocumentStreams.curatedCensus(t(s, dir, "documents")),
      oracle = ("SELECT d.source, count(*) AS n_docs, " +
        "CAST(sum(len(string_split(d.text, ' '))) AS BIGINT) AS sum_tokens " +
        "FROM documents d " +
        "JOIN (" + qualitySql + ") q ON d.doc_id = q.doc_id " +
        "JOIN (" + langidSql + ") l ON d.doc_id = l.doc_id " +
        "WHERE q.quality >= 0.5 AND l.pred_lang = 'en' GROUP BY d.source")),
  )
}
