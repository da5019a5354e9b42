package graft
package registry

import org.apache.spark.sql.functions._

import graft.analytics.{Analytics, AsofJoin}
import graft.analytics.Analytics.dsum

/** Event-stream analytics over `events` (SURVEY §2.5, §3.3): rollups,
  * sessions, funnels, attribution, as-of joins and exact quantiles. */
object AnalyticsEventQueries extends QueryFamily("analytics") {

  val specs: Seq[QuerySpec] = Seq(
    spec("q8_daily_event_rollup", ((s, d) =>
      Tables.events(s, d)
        .groupBy(date_format(col("ts"), "yyyy-MM-dd").as("event_day"), col("event_type"))
        .agg(count(lit(1)).as("n"), dsum(col("value")).as("total_value"))),
      """SELECT strftime(ts, '%Y-%m-%d') AS event_day, event_type, count(*) AS n,
        | CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS total_value
        |FROM events GROUP BY 1, 2""".stripMargin),
    spec("q9_value_quantiles", ((s, d) =>
      Analytics.rankQuantiles(Tables.events(s, d), "value", Seq(0.5, 0.95, 0.99))),
      """WITH ranked AS (SELECT value AS v, row_number() OVER (ORDER BY value) AS rn FROM events),
        | n AS (SELECT count(*) AS c FROM events)
        |SELECT CAST(0.5 AS DOUBLE) AS quantile, v AS value FROM ranked, n WHERE rn = greatest(1, CAST(ceil(0.5 * c) AS BIGINT))
        |UNION ALL SELECT CAST(0.95 AS DOUBLE), v FROM ranked, n WHERE rn = greatest(1, CAST(ceil(0.95 * c) AS BIGINT))
        |UNION ALL SELECT CAST(0.99 AS DOUBLE), v FROM ranked, n WHERE rn = greatest(1, CAST(ceil(0.99 * c) AS BIGINT))""".stripMargin),
    spec("q47_sessionize", ((s, d) =>
      graft.analytics.StreamingAnalytics.sessionize(
        Tables.events(s, d), "ts", "user_id", "value", gap = "3 days")),
      """WITH marked AS (SELECT user_id, ts, value,
        |  CASE WHEN lag(ts) OVER w IS NULL
        |         OR ts - lag(ts) OVER w >= INTERVAL 3 DAY THEN 1 ELSE 0 END AS new_s
        |  FROM events WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)),
        |sess AS (SELECT *, sum(new_s) OVER (PARTITION BY user_id ORDER BY ts
        |  ROWS UNBOUNDED PRECEDING) AS sid FROM marked)
        |SELECT user_id,
        | strftime(min(ts), '%Y-%m-%d %H:%M:%S') AS session_start,
        | strftime(max(ts) + INTERVAL 3 DAY, '%Y-%m-%d %H:%M:%S') AS session_end,
        | count(*) AS n_events,
        | CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS total_value
        |FROM sess GROUP BY user_id, sid""".stripMargin),
    // q119: ordered-sequence funnel (view → click → purchase) — ONE
    // user-keyed aggregation folds each user's time-sorted events
    // through a (step, time) state; no k-way self-join, one fact scan
    spec("q119_event_funnel", ((s, d) =>
      Analytics.eventFunnel(Tables.events(s, d), "user_id", "event_type",
        "ts", Seq("view", "click", "purchase"))),
      // q119: the oracle runs the classic min-after-previous-min chain —
      // the fold's greedy earliest-advance provably equals it
      """WITH ev AS (SELECT user_id, event_type, epoch_us(ts) AS tn FROM events),
        |s1 AS (SELECT user_id, min(tn) AS t FROM ev
        |  WHERE event_type = 'view' GROUP BY 1),
        |s2 AS (SELECT e.user_id, min(e.tn) AS t FROM ev e
        |  JOIN s1 USING (user_id)
        |  WHERE e.event_type = 'click' AND e.tn > s1.t GROUP BY 1),
        |s3 AS (SELECT e.user_id, min(e.tn) AS t FROM ev e
        |  JOIN s2 USING (user_id)
        |  WHERE e.event_type = 'purchase' AND e.tn > s2.t GROUP BY 1)
        |SELECT CAST(1 AS INTEGER) AS step, 'view' AS step_name,
        |  (SELECT count(*) FROM s1) AS users
        |UNION ALL SELECT 2, 'click', (SELECT count(*) FROM s2)
        |UNION ALL SELECT 3, 'purchase', (SELECT count(*) FROM s3)
        |ORDER BY step""".stripMargin),
    // q120: daily retention cohorts — integral microsecond day
    // arithmetic (exact at any epoch magnitude, where double division
    // can mis-bucket), (user, day) dedup before any rollup
    spec("q120_retention_cohorts", ((s, d) =>
      Analytics.retentionCohorts(Tables.events(s, d), "user_id", "ts")),
      // q120: integral FLOOR day division on epoch micros in BOTH
      // engines — never a double, and never bare truncation (`//`/`div`
      // truncate toward zero, mis-bucketing pre-1970 negative micros):
      // subtract the positive remainder first
      """WITH ud AS (SELECT DISTINCT user_id,
        |    (epoch_us(ts) - ((epoch_us(ts) % 86400000000 + 86400000000)
        |      % 86400000000)) // 86400000000 AS d FROM events),
        |f AS (SELECT user_id, min(d) AS c FROM ud GROUP BY 1)
        |SELECT c AS cohort_day, d - c AS day_offset, count(*) AS users
        |FROM ud JOIN f USING (user_id)
        |GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin),
    // q121: as-of join — each purchase matched to the most recent view
    // at-or-before it per user, via the union + carry-forward window
    // (one key shuffle, NARROW rows — never the quadratic range join)
    spec("q121_asof_join", ((s, d) => {
      val ev = Tables.events(s, d)
      AsofJoin.asofJoin(ev.filter(col("event_type") === "purchase"),
        ev.filter(col("event_type") === "view"),
        "user_id", "ts", "ts", "event_id", "event_id")
        .orderBy("user_id", "event_id")
    }),
      // q121: the oracle states the as-of contract directly — greatest
      // (ts, id) at-or-before, per purchase, left-outer — as an argmax
      // over the (bounded-at-oracle-scale) range join the engine avoids
      """WITH v AS (SELECT user_id, event_id, epoch_us(ts) AS t FROM events
        |  WHERE event_type = 'view'),
        |p AS (SELECT user_id, event_id, epoch_us(ts) AS t FROM events
        |  WHERE event_type = 'purchase'),
        |m AS (SELECT p.user_id, p.event_id, v.event_id AS matched_event_id,
        |    p.t - v.t AS lag_us,
        |    row_number() OVER (PARTITION BY p.user_id, p.event_id
        |      ORDER BY v.t DESC, v.event_id DESC) AS rn
        |  FROM p LEFT JOIN v ON p.user_id = v.user_id AND v.t <= p.t)
        |SELECT user_id, event_id, matched_event_id, lag_us FROM m
        |WHERE rn = 1 ORDER BY user_id, event_id""".stripMargin),
    // q129: burst-collapse debounce — first event of each (user, type)
    // burst (gap ≥ 1 day opens a new burst); ts never emitted raw
    // (ns-vs-µs), the kept gap rides out as gap_us
    spec("q129_event_debounce", ((s, d) =>
      graft.analytics.StreamingAnalytics.debounce(Tables.events(s, d),
        Seq("user_id", "event_type"), "ts", "event_id", 86400000000L)
        .select(col("user_id"), col("event_type"), col("event_id"),
          col("gap_us"))),
      // q129: same lag window, same (ts, id) total order, same 1-day gap
      """WITH e AS (SELECT user_id, event_type, event_id, epoch_us(ts) AS t
        |  FROM events),
        |g AS (SELECT user_id, event_type, event_id,
        |  t - lag(t) OVER (PARTITION BY user_id, event_type
        |    ORDER BY t, event_id) AS gap FROM e)
        |SELECT user_id, event_type, event_id, CAST(gap AS BIGINT) AS gap_us
        |FROM g WHERE gap IS NULL OR gap >= 86400000000""".stripMargin),
    // q137: user-journey transition matrix — first-order Markov counts
    // of consecutive event-type pairs per user; lag window on the
    // narrow type column, vocabulary-sized output
    spec("q137_event_transitions", ((s, d) =>
      Analytics.eventTransitions(Tables.events(s, d), "user_id",
        "event_type", "ts", "event_id")),
      // q137: same lag window, same (ts, id) total order, first events
      // carry no transition
      """WITH e AS (SELECT user_id, event_type, event_id, epoch_us(ts) AS t
        |  FROM events),
        |g AS (SELECT user_id, event_type AS to_type,
        |  lag(event_type) OVER (PARTITION BY user_id ORDER BY t, event_id)
        |    AS from_type FROM e)
        |SELECT from_type, to_type, count(*) AS n_transitions
        |FROM g WHERE from_type IS NOT NULL
        |GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin),
    // q138: daily OHLC of the event value stream — open/close via
    // min_by/max_by over the (ts, id) struct, ONE hash aggregation, no
    // window, exact-decimal volume
    spec("q138_value_ohlc", ((s, d) =>
      Analytics.ohlc(Tables.events(s, d), "ts", "event_id", "value",
        bucketMicros = 86400000000L)),
      // q138: open/close re-derived as rank-1 rows over the same (ts, id)
      // total order (unique event ids make ties impossible); the bucket
      // floors epoch micros with the positive-remainder pattern
      """WITH e AS (SELECT epoch_us(ts) AS t, event_id, value FROM events
        |  WHERE value IS NOT NULL),
        |b AS (SELECT (t - ((t % 86400000000 + 86400000000) % 86400000000))
        |    // 86400000000 AS bucket, t, event_id, value FROM e),
        |o AS (SELECT bucket, value AS open,
        |  row_number() OVER (PARTITION BY bucket ORDER BY t, event_id) AS rn
        | FROM b),
        |c AS (SELECT bucket, value AS close,
        |  row_number() OVER (PARTITION BY bucket ORDER BY t DESC, event_id DESC) AS rn
        | FROM b),
        |a AS (SELECT bucket, max(value) AS high, min(value) AS low,
        |  count(*) AS n_events,
        |  CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS volume
        | FROM b GROUP BY 1)
        |SELECT CAST(a.bucket AS BIGINT) AS bucket, o.open, a.high, a.low,
        |  c.close, CAST(a.n_events AS BIGINT) AS n_events, a.volume
        |FROM a JOIN o ON a.bucket = o.bucket AND o.rn = 1
        |JOIN c ON a.bucket = c.bucket AND c.rn = 1
        |ORDER BY 1""".stripMargin,
      planNote = Some(
        "Order statistics inside a group WITHOUT a window: open/close are min_by/max_by over the (ts, id) struct, so the whole candlestick table is ONE partial-aggregating hash agg over a narrow projection — the same no-window discipline as latest-per-key (W1), applied to first/last semantics. Bucket arithmetic is integer floor division of epoch micros (positive-remainder pattern, exact at any epoch sign).")),
    // q140: heartbeat-loss report — per-user silences of ≥ 7 days (the
    // monitoring complement of the q129 debounce)
    spec("q140_event_gaps", ((s, d) =>
      Analytics.eventGaps(Tables.events(s, d), "user_id", "ts",
        "event_id", 604800000000L)),
      // q140: same lag window, gaps only — the silences, not the events
      """WITH e AS (SELECT user_id, event_id, epoch_us(ts) AS t FROM events),
        |g AS (SELECT user_id, t,
        |  lag(t) OVER (PARTITION BY user_id ORDER BY t, event_id) AS prev
        | FROM e)
        |SELECT user_id, prev AS gap_start_us, t AS gap_end_us,
        |  t - prev AS gap_us
        |FROM g WHERE prev IS NOT NULL AND t - prev >= 604800000000""".stripMargin),
    // q153: gap-based sessionization (30-min gap) — one user-keyed
    // shuffle, lag flag + running session number share one window sort
    spec("q153_sessionization", ((s, d) =>
      Analytics.sessionize(Tables.events(s, d), "user_id", "ts",
        gapUs = 1800000000L)),
      // q153: the same lag-flag + running-sum sessionization; window sums
      // cast to BIGINT (DuckDB integer sums widen to HUGEINT)
      """WITH e AS (SELECT user_id AS u, epoch_us(ts) AS t FROM events),
        |m AS (SELECT u, t, CASE WHEN lag(t) OVER
        |      (PARTITION BY u ORDER BY t) IS NULL
        |    OR t - lag(t) OVER (PARTITION BY u ORDER BY t) > 1800000000
        |    THEN 1 ELSE 0 END AS nw FROM e),
        |s AS (SELECT u, t, CAST(sum(nw) OVER (PARTITION BY u ORDER BY t
        |    ROWS UNBOUNDED PRECEDING) AS BIGINT) AS seq FROM m)
        |SELECT u AS user_id, seq AS session_seq,
        |  min(t) AS session_start_us, max(t) AS session_end_us,
        |  CAST(count(*) AS BIGINT) AS n_events,
        |  max(t) - min(t) AS duration_us
        |FROM s GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin),
    // q154: longest consecutive-day streak per user (gaps-and-islands);
    // the fact collapses to distinct (user, day) before any window
    spec("q154_activity_streaks", ((s, d) =>
      Analytics.activityStreaks(Tables.events(s, d), "user_id", "ts")),
      // q154: gaps-and-islands via day - row_number; best streak by
      // (len desc, start asc) — the engine's negated-start struct max
      """WITH d AS (SELECT DISTINCT user_id AS u,
        |    (epoch_us(ts) - ((epoch_us(ts) % 86400000000 + 86400000000)
        |      % 86400000000)) // 86400000000 AS day FROM events),
        |i AS (SELECT u, day, day - row_number() OVER
        |    (PARTITION BY u ORDER BY day) AS isl FROM d),
        |s AS (SELECT u, min(day) AS strt,
        |    CAST(count(*) AS BIGINT) AS len FROM i GROUP BY u, isl),
        |r AS (SELECT u, len, strt, row_number() OVER
        |    (PARTITION BY u ORDER BY len DESC, strt) AS rn FROM s)
        |SELECT u AS user_id, len AS streak_days, strt AS streak_start_day
        |FROM r WHERE rn = 1 ORDER BY user_id""".stripMargin),
    // q155: sweep-line peak concurrency over the 30-min sessions —
    // the global prefix sum runs bucketed (driver-side base offsets),
    // never as a single-partition ordered window
    spec("q155_peak_concurrency", ((s, d) =>
      Analytics.peakConcurrency(
        Analytics.sessionize(Tables.events(s, d), "user_id", "ts",
          gapUs = 1800000000L),
        "session_start_us", "session_end_us")),
      // q155: the oracle affords the single ordered cumulative sum the
      // engine decomposes into bucketed prefix sums; end+1 closes the
      // inclusive interval, per-instant delta collapse kills tie order
      """WITH e AS (SELECT user_id AS u, epoch_us(ts) AS t FROM events),
        |m AS (SELECT u, t, CASE WHEN lag(t) OVER
        |      (PARTITION BY u ORDER BY t) IS NULL
        |    OR t - lag(t) OVER (PARTITION BY u ORDER BY t) > 1800000000
        |    THEN 1 ELSE 0 END AS nw FROM e),
        |s AS (SELECT u, t, CAST(sum(nw) OVER (PARTITION BY u ORDER BY t
        |    ROWS UNBOUNDED PRECEDING) AS BIGINT) AS seq FROM m),
        |sess AS (SELECT u, seq, min(t) AS st, max(t) AS en
        |  FROM s GROUP BY 1, 2),
        |del AS (SELECT st AS t, 1 AS d FROM sess
        |  UNION ALL SELECT en + 1, -1 FROM sess),
        |g AS (SELECT t, CAST(sum(d) AS BIGINT) AS d FROM del GROUP BY 1),
        |c AS (SELECT t, CAST(sum(d) OVER (ORDER BY t
        |    ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cum FROM g)
        |SELECT cum AS peak_concurrency, min(t) AS at_ts_us
        |FROM c WHERE cum = (SELECT max(cum) FROM c)
        |GROUP BY 1""".stripMargin),
    // q156: SCD Type-2 intervalization of the event stream — per-user
    // change collapse + versioned validity ranges, one window sort
    spec("q156_scd2_intervals", ((s, d) =>
      Analytics.scd2Intervals(Tables.events(s, d), "user_id", "ts",
        "value", "event_id")),
      // q156: change collapse via IS DISTINCT FROM lag (the engine's
      // null-safe <=>); the first row per key is always a version (a bare
      // lag compare would swallow a leading NULL value)
      """WITH e AS (SELECT user_id AS u, epoch_us(ts) AS t,
        |    event_id AS id, value AS v FROM events),
        |c AS (SELECT u, t, id, v, (row_number() OVER
        |      (PARTITION BY u ORDER BY t, id) = 1
        |    OR v IS DISTINCT FROM lag(v) OVER
        |      (PARTITION BY u ORDER BY t, id)) AS chg FROM e),
        |f AS (SELECT u, t, id, v FROM c WHERE chg),
        |w AS (SELECT u, v AS value, t AS valid_from_us,
        |    lead(t) OVER (PARTITION BY u ORDER BY t, id) AS valid_to_us,
        |    CAST(row_number() OVER (PARTITION BY u ORDER BY t, id)
        |      AS BIGINT) AS version FROM f)
        |SELECT u AS user_id, value, valid_from_us, valid_to_us, version
        |FROM w ORDER BY user_id, version""".stripMargin),
    // q160: DAU/WAU — rolling exact distinct via the constant-factor
    // cover-day explode, never a day×user join
    spec("q160_rolling_active_users", ((s, d) =>
      Analytics.rollingActiveUsers(Tables.events(s, d), "user_id", "ts",
        windowDays = 7)),
      // q160: the cover-day explode via generate_series; distinct kills
      // multi-activity inside a window before counting
      """WITH ud AS (SELECT DISTINCT user_id AS u,
        |    (epoch_us(ts) - ((epoch_us(ts) % 86400000000 + 86400000000)
        |      % 86400000000)) // 86400000000 AS d FROM events),
        |rg AS (SELECT min(d) AS lo, max(d) AS hi FROM ud),
        |dau AS (SELECT d, CAST(count(*) AS BIGINT) AS dau
        |  FROM ud GROUP BY 1),
        |cov AS (SELECT DISTINCT u, d + off AS cd FROM ud
        |  CROSS JOIN (SELECT unnest(generate_series(0, 6)) AS off)),
        |wau AS (SELECT cd, CAST(count(*) AS BIGINT) AS wau
        |  FROM cov GROUP BY 1)
        |SELECT d AS day, dau, wau
        |FROM dau JOIN wau ON d = cd CROSS JOIN rg
        |WHERE d >= lo AND d <= hi ORDER BY 1""".stripMargin),
    // q177: SCD2 point-in-time bridge — purchases attributed to the
    // status version whose validity interval contains them; the
    // BETWEEN join executes as the as-of carry-forward, never a range
    // join
    spec("q177_scd2_pointintime", ((s, d) =>
      Analytics.scd2PointInTime(Tables.events(s, d), "user_id", "ts",
        "event_type", "event_id", factType = "purchase")),
      // q177: the oracle states the BETWEEN contract directly — q156's
      // SCD2 CTE over status events, purchases left-joined into the
      // interval containing them (the engine executes the same match as
      // an as-of carry-forward, never this range join)
      """WITH e AS (SELECT user_id AS u, epoch_us(ts) AS t,
        |    event_id AS id, event_type AS v FROM events
        |  WHERE event_type <> 'purchase'),
        |c AS (SELECT u, t, id, v, (row_number() OVER
        |      (PARTITION BY u ORDER BY t, id) = 1
        |    OR v IS DISTINCT FROM lag(v) OVER
        |      (PARTITION BY u ORDER BY t, id)) AS chg FROM e),
        |f AS (SELECT u, t, id, v FROM c WHERE chg),
        |w AS (SELECT u, v AS status, t AS valid_from_us,
        |    lead(t) OVER (PARTITION BY u ORDER BY t, id) AS valid_to_us,
        |    CAST(row_number() OVER (PARTITION BY u ORDER BY t, id)
        |      AS BIGINT) AS version FROM f),
        |p AS (SELECT user_id AS u, event_id AS id, epoch_us(ts) AS t
        |  FROM events WHERE event_type = 'purchase')
        |SELECT p.u AS user_id, p.id AS event_id,
        |  COALESCE(w.status, 'none') AS status,
        |  w.version AS status_version
        |FROM p LEFT JOIN w ON p.u = w.u AND p.t >= w.valid_from_us
        |  AND (w.valid_to_us IS NULL OR p.t < w.valid_to_us)
        |ORDER BY user_id, event_id""".stripMargin,
      planNote = Some(
        "SCD2 point-in-time attribution: the BETWEEN containment executes as the as-of UNION + carry-forward window (one key shuffle of narrow rows, linear in history) — never the quadratic range join; the dimension materializes once (ExistingRDD) for both the as-of probe and the status re-attach.")),
    // q183: schema-on-read JSON props rollup — codegen'd path
    // extraction fused into the scan, types-bounded hash agg
    spec("q183_props_rollup", ((s, d) =>
      Analytics.propsRollup(Tables.events(s, d), "event_type", "props",
        field = "k")),
      // q183: the same JSON path over DuckDB's json extension; floor of
      // a TRY_CAST double mirrors the engine's explicit-floor contract
      // (null on malformed, FLOOR on non-integral — never a cast's
      // engine-specific truncate/round). The OUTER cast is TRY too: a
      // payload past BIGINT range or NaN must degrade to NULL, never
      // abort the whole oracle query (parity is guaranteed for
      // integral-range numerics; out-of-range behavior is engine-
      // specific and out of contract). The EXTRACTION is guarded as
      // well: DuckDB's json_extract_string RAISES on malformed JSON
      // where Spark's get_json_object yields NULL — a json_valid gate
      // makes the oracle degrade to NULL (and count the row) exactly
      // like the engine's documented malformed-props contract
      """WITH x AS (SELECT event_type,
        |  TRY_CAST(floor(TRY_CAST(CASE WHEN json_valid(props)
        |      THEN json_extract_string(props, '$.k') END AS DOUBLE))
        |    AS BIGINT) AS k FROM events)
        |SELECT event_type,
        |  CAST(count(*) AS BIGINT) AS n_events,
        |  CAST(count(k) AS BIGINT) AS n_with_field,
        |  CAST(sum(k) AS BIGINT) AS sum_field,
        |  min(k) AS min_field,
        |  max(k) AS max_field
        |FROM x GROUP BY 1 ORDER BY 1""".stripMargin),
    // q186: session-scoped funnel — q119's fold inside q153's gap
    // sessions, counting SESSIONS per step; one user-keyed shuffle
    // feeds both the session tag and the fold
    spec("q186_session_funnel", ((s, d) =>
      Analytics.sessionFunnel(Tables.events(s, d), "user_id",
        "event_type", "ts", "event_id",
        steps = Seq("view", "click", "purchase"), gapUs = 1800000000L)),
      // q186: q153's session tag feeding q119's chained-min funnel, per
      // (user, session) — the greedy fold and the chained mins are the
      // same selection
      """WITH ev AS (SELECT user_id AS u, event_id AS id, event_type AS ty,
        |    epoch_us(ts) AS t FROM events),
        |g AS (SELECT u, id, ty, t, CASE WHEN lag(t) OVER w IS NULL
        |      OR t - lag(t) OVER w > 1800000000 THEN 1 ELSE 0 END AS nw
        |  FROM ev WINDOW w AS (PARTITION BY u ORDER BY t, id)),
        |s AS (SELECT u, id, ty, t, sum(nw) OVER (PARTITION BY u
        |    ORDER BY t, id ROWS UNBOUNDED PRECEDING) AS sid FROM g),
        |s1 AS (SELECT u, sid, min(t) AS t FROM s WHERE ty = 'view'
        |  GROUP BY 1, 2),
        |s2 AS (SELECT s.u, s.sid, min(s.t) AS t FROM s
        |  JOIN s1 ON s.u = s1.u AND s.sid = s1.sid
        |  WHERE s.ty = 'click' AND s.t > s1.t GROUP BY 1, 2),
        |s3 AS (SELECT s.u, s.sid, min(s.t) AS t FROM s
        |  JOIN s2 ON s.u = s2.u AND s.sid = s2.sid
        |  WHERE s.ty = 'purchase' AND s.t > s2.t GROUP BY 1, 2)
        |SELECT CAST(1 AS INTEGER) AS step, 'view' AS step_name,
        |  (SELECT count(*) FROM s1) AS sessions
        |UNION ALL SELECT 2, 'click', (SELECT count(*) FROM s2)
        |UNION ALL SELECT 3, 'purchase', (SELECT count(*) FROM s3)
        |ORDER BY step""".stripMargin),
    // q187: funnel time-to-convert — per fully-converted user, anchor
    // to completing event; q119's fold carrying the first-advance time
    spec("q187_funnel_latency", ((s, d) =>
      Analytics.funnelLatency(Tables.events(s, d), "user_id",
        "event_type", "ts", steps = Seq("view", "click", "purchase"))),
      // q187: the chained-min anchors state duration directly — earliest
      // view, earliest strictly-after click, earliest strictly-after
      // purchase; duration = purchase_t − view_t for completers
      """WITH ev AS (SELECT user_id, event_type, epoch_us(ts) AS tn
        |  FROM events),
        |s1 AS (SELECT user_id, min(tn) AS t FROM ev
        |  WHERE event_type = 'view' GROUP BY 1),
        |s2 AS (SELECT e.user_id, min(e.tn) AS t FROM ev e
        |  JOIN s1 USING (user_id)
        |  WHERE e.event_type = 'click' AND e.tn > s1.t GROUP BY 1),
        |s3 AS (SELECT e.user_id, min(e.tn) AS t FROM ev e
        |  JOIN s2 USING (user_id)
        |  WHERE e.event_type = 'purchase' AND e.tn > s2.t GROUP BY 1)
        |SELECT s3.user_id, s3.t - s1.t AS duration_us
        |FROM s3 JOIN s1 USING (user_id)
        |ORDER BY user_id""".stripMargin),
    // q188: MATCH_RECOGNIZE-style sequence cohorts — each user's full
    // ordered journey string matched against named regexes, all
    // patterns priced as conditional sums over ONE user-keyed pass
    spec("q188_sequence_match", ((s, d) =>
      Analytics.sequenceMatch(Tables.events(s, d), "user_id",
        "event_type", "ts", "event_id", Seq(
          "error_storm" -> "error error error",
          "recovered" -> "error.*purchase",
          "view_to_purchase" -> "view.*purchase"))),
      // q188: the same (t, id)-ordered journey string via string_agg,
      // the same unanchored regexes (basic classes only — identical in
      // Java and RE2)
      """WITH s AS (SELECT user_id,
        |    string_agg(event_type, ' ' ORDER BY epoch_us(ts), event_id)
        |      AS seq
        |  FROM events GROUP BY 1)
        |SELECT 'error_storm' AS pattern, CAST(count(*) FILTER (
        |  WHERE regexp_matches(seq, 'error error error')) AS BIGINT)
        |  AS n_users FROM s
        |UNION ALL SELECT 'recovered', CAST(count(*) FILTER (
        |  WHERE regexp_matches(seq, 'error.*purchase')) AS BIGINT) FROM s
        |UNION ALL SELECT 'view_to_purchase', CAST(count(*) FILTER (
        |  WHERE regexp_matches(seq, 'view.*purchase')) AS BIGINT) FROM s
        |ORDER BY pattern""".stripMargin),
    // q191: last-touch attribution — preceding-touch lookup as an
    // ignore-nulls window over ONE user-keyed shuffle, never a self-join
    spec("q191_attribution_last", ((s, d) =>
      Analytics.attributionLastTouch(Tables.events(s, d), "user_id",
        "event_type", "ts", "event_id", "value")),
      // q191: the preceding-touch lookup as the same ignore-nulls
      // last_value over a [-inf, -1] frame; 'direct' for touchless
      // conversions on both engines
      """WITH e AS (SELECT user_id, event_type, epoch_us(ts) AS t,
        |    event_id, value FROM events),
        |a AS (SELECT event_type, value,
        |    last_value(CASE WHEN event_type <> 'purchase'
        |        THEN event_type END IGNORE NULLS)
        |      OVER (PARTITION BY user_id ORDER BY t, event_id
        |        ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS touch
        |  FROM e)
        |SELECT coalesce(touch, 'direct') AS touch_type,
        |  CAST(count(*) AS BIGINT) AS n_conversions,
        |  CAST(sum(CAST(value AS DECIMAL(18,6))) AS DOUBLE)
        |    AS attributed_value
        |FROM a WHERE event_type = 'purchase' GROUP BY 1 ORDER BY 1""".stripMargin,
      planNote = Some(
        "Last-touch attribution: the preceding-touch lookup is last(..., ignoreNulls) over a [-inf, -1] row frame inside ONE user-keyed window exchange — never a self-join of conversions against touches — and the credit rollup is a type-vocabulary-bounded hash agg with map-side partials. Value sums stay exact decimal to the final render.")),
    // q192: linear multi-touch attribution — running conditional count
    // tags conversion segments; per-touch credit in exact floored micros
    spec("q192_attribution_linear", ((s, d) =>
      Analytics.attributionLinear(Tables.events(s, d), "user_id",
        "event_type", "ts", "event_id", "value")),
      // q192: identical segment tagging (conversions strictly before the
      // row), identical exact floored-micros per-touch credit — the
      // nonneg-remainder floor division on both engines
      """WITH e AS (SELECT user_id AS u, event_type AS ty, epoch_us(ts) AS t,
        |    event_id AS id, value AS v FROM events),
        |s AS (SELECT u, ty, v, id,
        |    coalesce(sum(CASE WHEN ty = 'purchase' THEN 1 ELSE 0 END)
        |      OVER (PARTITION BY u ORDER BY t, id
        |        ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS seg
        |  FROM e),
        |tc AS (SELECT u, seg, ty, count(*) AS c FROM s
        |  WHERE ty <> 'purchase' GROUP BY 1, 2, 3),
        |tn AS (SELECT u, seg, sum(c) AS n FROM tc GROUP BY 1, 2),
        |p AS (SELECT u, seg, CAST(floor(v * 1000000) AS BIGINT) AS vmic
        |  FROM s WHERE ty = 'purchase')
        |SELECT tc.ty AS touch_type,
        |  CAST(sum(tc.c) AS BIGINT) AS n_touches,
        |  CAST(sum(tc.c * ((p.vmic - ((p.vmic % tn.n + tn.n) % tn.n))
        |    // tn.n)) AS BIGINT) AS attributed_value_micros
        |FROM p JOIN tn USING (u, seg) JOIN tc USING (u, seg)
        |GROUP BY 1 ORDER BY 1""".stripMargin,
      planNote = Some(
        "Linear multi-touch: a running conditional count under the same user window tags conversion segments (no join to find boundaries), the tagged base materializes ONCE (ExistingRDD — touch rollup and conversion slice both read it), touches collapse to (user, segment, type) counts BEFORE meeting the segment's single conversion row, and per-touch credit is exact floored micros — the rollup is partition-order-independent by construction.")),
    // q197: top-k session journey paths — session tag + path build on
    // ONE user-keyed shuffle, TakeOrdered top-k
    spec("q197_session_paths", ((s, d) =>
      Analytics.sessionPaths(Tables.events(s, d), "user_id", "event_type",
        "ts", "event_id", gapUs = 1800000000L, k = 20)),
      // q197: q153's session tag with the (t, id) total order, path via
      // ordered string_agg, same (count desc, path) top-k
      """WITH e AS (SELECT user_id AS u, event_type AS ty, epoch_us(ts) AS t,
        |    event_id AS id FROM events),
        |m AS (SELECT u, ty, t, id, CASE WHEN lag(t) OVER w IS NULL
        |    OR t - lag(t) OVER w > 1800000000 THEN 1 ELSE 0 END AS nw
        |  FROM e WINDOW w AS (PARTITION BY u ORDER BY t, id)),
        |s AS (SELECT u, ty, t, id, sum(nw) OVER (PARTITION BY u
        |    ORDER BY t, id ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
        |    AS sid FROM m),
        |p AS (SELECT u, sid, string_agg(ty, '>' ORDER BY t, id) AS path
        |  FROM s GROUP BY 1, 2)
        |SELECT path, CAST(count(*) AS BIGINT) AS n_sessions
        |FROM p GROUP BY 1 ORDER BY 2 DESC, 1 LIMIT 20""".stripMargin,
      planNote = Some(
        "Clickstream paths: session tag (lag + running sum) and the per-session path build share ONE user-keyed exchange (hashpartitioning(u) satisfies the (u, session) clustering), path counting is a hash agg whose map-side partials collapse hot paths early, and the top-k is TakeOrderedAndProject — no global sort at any corpus size.")),
    // q198: MAD-based robust outlier census — per-type exact medians
    // via the range-repartition global rank, never per-type windows
    // over the raw fact
    spec("q198_mad_outliers", ((s, d) =>
      Analytics.madOutliers(Tables.events(s, d), "event_type", "value",
        "event_id")),
      // q198: identical lower-median rank picks on the (value, id) and
      // (deviation, id) total orders; every output is a data value
      """WITH e AS (SELECT event_type AS ty, value AS v, event_id AS id
        |    FROM events),
        |r AS (SELECT ty, v, id,
        |    row_number() OVER (PARTITION BY ty ORDER BY v, id) AS rk,
        |    count(*) OVER (PARTITION BY ty) AS n FROM e),
        |med AS (SELECT ty, v AS med, n FROM r WHERE rk = (n + 1) // 2),
        |d AS (SELECT e.ty, abs(e.v - med.med) AS dv, e.id, med.med, med.n
        |  FROM e JOIN med USING (ty)),
        |r2 AS (SELECT ty, dv, id, med, n,
        |    row_number() OVER (PARTITION BY ty ORDER BY dv, id) AS rk FROM d),
        |mad AS (SELECT ty, dv AS mad FROM r2 WHERE rk = (n + 1) // 2)
        |SELECT d.ty AS event_type, CAST(max(d.n) AS BIGINT) AS n_events,
        |  max(d.med) AS median_value, max(mad.mad) AS mad,
        |  CAST(sum(CASE WHEN d.dv > 3.0 * mad.mad THEN 1 ELSE 0 END)
        |    AS BIGINT) AS n_outliers
        |FROM d JOIN mad USING (ty) GROUP BY 1 ORDER BY 1""".stripMargin,
      planNote = Some(
        "Robust outliers with NO per-group window over the fact: per-type exact ranks come from the range-repartition decomposition (windowspecdefinition(__pid) only), per-type offsets are k-row broadcasts, and the two medians (value, then deviation) are rank picks over checkpointed relations — 5 hot event types never become 5 single-threaded sort partitions.")),
    // q200: daily status panel with LOCF — per-user day spine carrying
    // the latest event type forward (the feature-store materialization)
    spec("q200_status_locf", ((s, d) =>
      Analytics.dailyStatusLocf(Tables.events(s, d), "user_id",
        "event_type", "ts", "event_id")),
      // q200: per-user generate_series spine, latest-of-day by the same
      // (t, id) order, ignore-nulls carry-forward
      """WITH e AS (SELECT user_id AS u, epoch_us(ts) AS t, event_id AS id,
        |    event_type AS ty,
        |    (epoch_us(ts) - ((epoch_us(ts) % 86400000000 + 86400000000)
        |      % 86400000000)) // 86400000000 AS d FROM events),
        |daily AS (SELECT u, d AS day_num, ty FROM (SELECT u, d, ty,
        |    row_number() OVER (PARTITION BY u, d ORDER BY t DESC, id DESC)
        |      AS rk FROM e) WHERE rk = 1),
        |span AS (SELECT u, min(day_num) AS lo, max(day_num) AS hi
        |  FROM daily GROUP BY 1),
        |spine AS (SELECT u, unnest(generate_series(lo, hi)) AS day_num
        |  FROM span)
        |SELECT spine.u AS user_id, spine.day_num,
        |  last_value(daily.ty IGNORE NULLS) OVER (PARTITION BY spine.u
        |    ORDER BY spine.day_num
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS status
        |FROM spine LEFT JOIN daily ON spine.u = daily.u
        |  AND spine.day_num = daily.day_num
        |ORDER BY 1, 2""".stripMargin),
    // q204: per-user time-weighted average value — interval weighting
    // via one lead window, exact integer products, one final division
    spec("q204_twap", ((s, d) =>
      Analytics.timeWeightedAverage(Tables.events(s, d), "user_id",
        "value", "ts", "event_id")),
      // q204: identical lead-interval weighting; the TWAP is the floored
      // HUGEINT division (the numerator passes 2^53 — a double ratio
      // diverges by an ulp across engines, measured), nonneg-remainder
      // pattern for negative-value safety
      """WITH e AS (SELECT user_id AS u,
        |    CAST(floor(value * 1000000) AS BIGINT) AS vmic,
        |    epoch_us(ts) AS t, event_id AS id FROM events),
        |d AS (SELECT u, vmic,
        |    lead(t) OVER (PARTITION BY u ORDER BY t, id) - t AS dur FROM e),
        |s AS (SELECT u, sum(dur) AS sp,
        |    sum(CAST(vmic AS HUGEINT) * dur) AS num
        |  FROM d WHERE dur IS NOT NULL GROUP BY 1 HAVING sum(dur) > 0)
        |SELECT u AS user_id, CAST(sp AS BIGINT) AS span_us,
        |  CAST((num - ((num % sp + sp) % sp)) // sp AS BIGINT)
        |    AS twap_micros
        |FROM s ORDER BY 1""".stripMargin,
      planNote = Some(
        "Time-weighted averaging in ONE user-keyed exchange: the lead window prices each value's holding interval, products accumulate in DECIMAL(38,0), and the statistic is a floored integer division end to end — the numerator passes 2^53, where a double ratio measurably diverges across engines by an ulp, so no double exists anywhere in the plan's arithmetic. No joins; the rollup partial-aggregates map-side.")),
    // q206: per-type inter-arrival median — one (user,type) lag window,
    // exact median via the shared global-rank pass
    spec("q206_interarrival_median", ((s, d) =>
      Analytics.interArrivalMedian(Tables.events(s, d), "user_id",
        "event_type", "ts", "event_id")),
      // q206: same (user,type) lag gaps, same lower-median rank pick
      """WITH e AS (SELECT user_id AS u, event_type AS ty, epoch_us(ts) AS t,
        |    event_id AS id FROM events),
        |g AS (SELECT ty, t - lag(t) OVER (PARTITION BY u, ty ORDER BY t, id)
        |    AS gap, id FROM e),
        |f AS (SELECT ty, gap, id FROM g WHERE gap IS NOT NULL),
        |r AS (SELECT ty, gap,
        |    row_number() OVER (PARTITION BY ty ORDER BY gap, id) AS rk,
        |    count(*) OVER (PARTITION BY ty) AS n FROM f)
        |SELECT ty AS event_type, CAST(n AS BIGINT) AS n_gaps,
        |  gap AS median_gap_us
        |FROM r WHERE rk = (n + 1) // 2 ORDER BY 1""".stripMargin,
      planNote = Some(
        "Per-type cadence medians without per-type windows: gaps come from one (user, type)-keyed lag window over narrow columns; the exact lower median rides the shared group-local-rank stage — range-repartition ranks under a partition-id window, per-type (offset, count) as a k-row broadcast, the pick a filter. A hot type never funnels into a single sort task.")),
    // q207: Tukey IQR fence census — exact quartile picks, fences in
    // the cross-multiplied integer form
    spec("q207_iqr_fences", ((s, d) =>
      Analytics.iqrOutliers(Tables.events(s, d), "event_type", "value",
        "event_id")),
      // q207: quartile PICKS at ceil(n/4)/ceil(3n/4); fences decided by
      // the identical cross-multiplied IEEE expression on both engines
      """WITH e AS (SELECT event_type AS ty, value AS v, event_id AS id
        |    FROM events),
        |r AS (SELECT ty, v,
        |    row_number() OVER (PARTITION BY ty ORDER BY v, id) AS rk,
        |    count(*) OVER (PARTITION BY ty) AS n FROM e),
        |p AS (SELECT ty, max(n) AS n,
        |    max(CASE WHEN rk = (n + 3) // 4 THEN v END) AS q1,
        |    max(CASE WHEN rk = (3 * n + 3) // 4 THEN v END) AS q3
        |  FROM r GROUP BY 1)
        |SELECT e.ty AS event_type, CAST(max(p.n) AS BIGINT) AS n_events,
        |  max(p.q1) AS q1, max(p.q3) AS q3,
        |  CAST(sum(CASE WHEN e.v * 2 < p.q1 * 5 - p.q3 * 3 THEN 1 ELSE 0 END)
        |    AS BIGINT) AS n_low,
        |  CAST(sum(CASE WHEN e.v * 2 > p.q3 * 5 - p.q1 * 3 THEN 1 ELSE 0 END)
        |    AS BIGINT) AS n_high
        |FROM e JOIN p USING (ty) GROUP BY 1 ORDER BY 1""".stripMargin),
    // q210: within-session type co-occurrence — session tag shares the
    // one user shuffle, pairs explode off DISTINCT per-session type sets
    spec("q210_session_cooccurrence", ((s, d) =>
      Analytics.sessionCooccurrence(Tables.events(s, d), "user_id",
        "event_type", "ts", "event_id", gapUs = 1800000000L)),
      // q210: q153's session tag, DISTINCT per-session types, a < b pairs
      """WITH e AS (SELECT user_id AS u, event_type AS ty, epoch_us(ts) AS t,
        |    event_id AS id FROM events),
        |m AS (SELECT u, ty, t, id, CASE WHEN lag(t) OVER
        |      (PARTITION BY u ORDER BY t, id) IS NULL
        |    OR t - lag(t) OVER (PARTITION BY u ORDER BY t, id) > 1800000000
        |    THEN 1 ELSE 0 END AS nw FROM e),
        |s AS (SELECT u, ty, sum(nw) OVER (PARTITION BY u ORDER BY t, id
        |    ROWS UNBOUNDED PRECEDING) AS sid FROM m),
        |d AS (SELECT DISTINCT u, sid, ty FROM s)
        |SELECT a.ty AS type_a, b.ty AS type_b,
        |  CAST(count(*) AS BIGINT) AS n_sessions
        |FROM d a JOIN d b ON a.u = b.u AND a.sid = b.sid AND a.ty < b.ty
        |GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin),
    // q212: winsorized mean per type — exact percentile picks off the
    // global rank, clip + floored-micros mean
    spec("q212_winsorized_mean", ((s, d) =>
      Analytics.winsorizedMean(Tables.events(s, d), "event_type", "value",
        "event_id")),
      // q212: percentile picks at ceil(n*p/100); clip then floored micros,
      // mean as the nonnegative-remainder floor division (sum may be
      // negative, where // truncates)
      """WITH e AS (SELECT event_type AS ty, value AS v, event_id AS id
        |    FROM events),
        |r AS (SELECT ty, v,
        |    row_number() OVER (PARTITION BY ty ORDER BY v, id) AS rk,
        |    count(*) OVER (PARTITION BY ty) AS n FROM e),
        |p AS (SELECT ty, max(n) AS n,
        |    max(CASE WHEN rk = (n * 5 + 99) // 100 THEN v END) AS plo,
        |    max(CASE WHEN rk = (n * 95 + 99) // 100 THEN v END) AS phi
        |  FROM r GROUP BY 1),
        |s AS (SELECT e.ty, max(p.n) AS n, max(p.plo) AS plo,
        |    max(p.phi) AS phi,
        |    CAST(sum(CAST(floor(least(greatest(e.v, p.plo), p.phi) * 1000000)
        |      AS BIGINT)) AS HUGEINT) AS sm
        |  FROM e JOIN p USING (ty) GROUP BY 1)
        |SELECT ty AS event_type, CAST(n AS BIGINT) AS n_events,
        |  plo AS p_lo, phi AS p_hi,
        |  CAST((sm - ((sm % n + n) % n)) // n AS BIGINT)
        |    AS winsorized_mean_micros
        |FROM s ORDER BY 1""".stripMargin),
    // q214: first-touch vs last-touch attribution side by side — two
    // ignore-nulls lookups over ONE user window
    spec("q214_attribution_compare", ((s, d) =>
      Analytics.attributionCompare(Tables.events(s, d), "user_id",
        "event_type", "ts", "event_id", "value")),
      // q214: first_value/last_value IGNORE NULLS over the same [-inf,-1]
      // frame; the two rollups meet in a vocabulary-sized outer join
      """WITH e AS (SELECT user_id AS u, event_type AS ty, epoch_us(ts) AS t,
        |    event_id AS id,
        |    CAST(floor(value * 1000000) AS BIGINT) AS vmic FROM events),
        |a AS (SELECT ty, vmic,
        |    first_value(CASE WHEN ty <> 'purchase' THEN ty END IGNORE NULLS)
        |      OVER (PARTITION BY u ORDER BY t, id
        |        ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS ft,
        |    last_value(CASE WHEN ty <> 'purchase' THEN ty END IGNORE NULLS)
        |      OVER (PARTITION BY u ORDER BY t, id
        |        ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS lt
        |  FROM e),
        |f AS (SELECT coalesce(ft, 'direct') AS touch_type, count(*) AS nf,
        |    sum(vmic) AS vf FROM a WHERE ty = 'purchase' GROUP BY 1),
        |l AS (SELECT coalesce(lt, 'direct') AS touch_type, count(*) AS nl,
        |    sum(vmic) AS vl FROM a WHERE ty = 'purchase' GROUP BY 1)
        |SELECT coalesce(f.touch_type, l.touch_type) AS touch_type,
        |  CAST(coalesce(nf, 0) AS BIGINT) AS n_first,
        |  CAST(coalesce(vf, 0) AS BIGINT) AS value_first_micros,
        |  CAST(coalesce(nl, 0) AS BIGINT) AS n_last,
        |  CAST(coalesce(vl, 0) AS BIGINT) AS value_last_micros
        |FROM f FULL OUTER JOIN l ON f.touch_type = l.touch_type
        |ORDER BY 1""".stripMargin),
    // q217: daily p50/p90/p99 panel — exact rank picks per (type, day)
    // off one global-rank pass, panel-bounded broadcast offsets
    spec("q217_daily_quantiles", ((s, d) =>
      Analytics.dailyValueQuantiles(Tables.events(s, d), "event_type",
        "ts", "value", "event_id")),
      // q217: exact rank picks at ceil(n*p/100) per (type, day)
      """WITH e AS (SELECT event_type AS ty,
        |    (epoch_us(ts) - ((epoch_us(ts) % 86400000000 + 86400000000)
        |      % 86400000000)) // 86400000000 AS day,
        |    value AS v, event_id AS id FROM events),
        |r AS (SELECT ty, day, v,
        |    row_number() OVER (PARTITION BY ty, day ORDER BY v, id) AS rk,
        |    count(*) OVER (PARTITION BY ty, day) AS n FROM e)
        |SELECT ty AS event_type, CAST(day AS BIGINT) AS day_num,
        |  CAST(max(n) AS BIGINT) AS n_events,
        |  max(CASE WHEN rk = (n * 50 + 99) // 100 THEN v END) AS p50,
        |  max(CASE WHEN rk = (n * 90 + 99) // 100 THEN v END) AS p90,
        |  max(CASE WHEN rk = (n * 99 + 99) // 100 THEN v END) AS p99
        |FROM r GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,
      planNote = Some(
        "The SLO dashboard computed exactly: p50/p90/p99 PICKS per (type, day) off ONE global-rank pass, with the (type × day) offset table broadcast (panel-bounded — 150 cells at sf0.1, invariant under the 10× decade run). The alternative per-cell window would serialize each hot cell into one task; here every partition ranks in parallel and the picks are a vocabulary-bounded hash agg.")),
    // q218: session pair lift — support/confidence/lift in exact ppm
    // over the distinct (session, type) relation
    spec("q218_session_pair_lift", ((s, d) =>
      Analytics.sessionPairLift(Tables.events(s, d), "user_id",
        "event_type", "ts", "event_id", gapUs = 1800000000L)),
      // q218: q210's distinct (session, type) relation; all ratios in
      // HUGEINT cross-multiplied floored ppm (nonnegative, // floors)
      """WITH e AS (SELECT user_id AS u, event_type AS ty, epoch_us(ts) AS t,
        |    event_id AS id FROM events),
        |m AS (SELECT u, ty, t, id, CASE WHEN lag(t) OVER
        |      (PARTITION BY u ORDER BY t, id) IS NULL
        |    OR t - lag(t) OVER (PARTITION BY u ORDER BY t, id) > 1800000000
        |    THEN 1 ELSE 0 END AS nw FROM e),
        |s AS (SELECT u, ty, sum(nw) OVER (PARTITION BY u ORDER BY t, id
        |    ROWS UNBOUNDED PRECEDING) AS sid FROM m),
        |d AS (SELECT DISTINCT u, sid, ty FROM s),
        |p AS (SELECT a.ty AS type_a, b.ty AS type_b, count(*) AS nab
        |  FROM d a JOIN d b ON a.u = b.u AND a.sid = b.sid AND a.ty < b.ty
        |  GROUP BY 1, 2),
        |pt AS (SELECT ty, count(*) AS nt FROM d GROUP BY 1),
        |ns AS (SELECT count(*) AS ns FROM
        |  (SELECT DISTINCT u, sid FROM d))
        |SELECT type_a, type_b, CAST(nab AS BIGINT) AS n_sessions,
        |  CAST((CAST(nab AS HUGEINT) * 1000000) // ns AS BIGINT)
        |    AS support_ppm,
        |  CAST((CAST(nab AS HUGEINT) * 1000000) // pa.nt AS BIGINT)
        |    AS conf_a_to_b_ppm,
        |  CAST((CAST(nab AS HUGEINT) * 1000000) // pb.nt AS BIGINT)
        |    AS conf_b_to_a_ppm,
        |  CAST((CAST(nab AS HUGEINT) * ns * 1000000)
        |    // (CAST(pa.nt AS HUGEINT) * pb.nt) AS BIGINT) AS lift_ppm
        |FROM p JOIN pt pa ON p.type_a = pa.ty
        |  JOIN pt pb ON p.type_b = pb.ty, ns
        |ORDER BY 1, 2""".stripMargin,
      planNote = Some(
        "Association statistics over sessions: the shared gap-session tag pays the one user-keyed exchange, the DISTINCT (session, type) relation materializes once (ExistingRDD leaf), and pairs/type-counts/total all derive from it — pair volume is sessions × C(|types|, 2), never events². Lift is DECIMAL(38,0) cross-multiplied floored ppm.")),
    // q219: daily growth accounting — new/retained/resurrected/churned
    // users off ONE user window over the distinct (user, day) panel
    spec("q219_growth_accounting", ((s, d) =>
      Analytics.growthAccounting(Tables.events(s, d), "user_id", "ts")),
      // q219: lag/lead over the distinct (user, day) panel; churn booked
      // to day+1 and clipped to observed days
      """WITH d AS (SELECT DISTINCT user_id AS u,
        |    (epoch_us(ts) - ((epoch_us(ts) % 86400000000 + 86400000000)
        |      % 86400000000)) // 86400000000 AS day FROM events),
        |p AS (SELECT u, day,
        |    lag(day) OVER (PARTITION BY u ORDER BY day) AS prev,
        |    lead(day) OVER (PARTITION BY u ORDER BY day) AS nxt FROM d),
        |cls AS (SELECT day,
        |    sum(CASE WHEN prev IS NULL THEN 1 ELSE 0 END) AS n_new,
        |    sum(CASE WHEN prev = day - 1 THEN 1 ELSE 0 END) AS n_retained,
        |    sum(CASE WHEN prev IS NOT NULL AND prev < day - 1
        |      THEN 1 ELSE 0 END) AS n_resurrected
        |  FROM p GROUP BY 1),
        |ch AS (SELECT day + 1 AS day, count(*) AS n_churned FROM p
        |  WHERE nxt IS NULL OR nxt > day + 1 GROUP BY 1),
        |dd AS (SELECT DISTINCT day FROM d)
        |SELECT CAST(coalesce(cls.day, ch.day) AS BIGINT) AS day_num,
        |  CAST(coalesce(n_new, 0) AS BIGINT) AS n_new,
        |  CAST(coalesce(n_retained, 0) AS BIGINT) AS n_retained,
        |  CAST(coalesce(n_resurrected, 0) AS BIGINT) AS n_resurrected,
        |  CAST(coalesce(n_churned, 0) AS BIGINT) AS n_churned
        |FROM cls FULL OUTER JOIN ch ON cls.day = ch.day
        |JOIN dd ON coalesce(cls.day, ch.day) = dd.day
        |ORDER BY 1""".stripMargin,
      planNote = Some(
        "The DAU waterfall from ONE windowed pass: lag and lead share the user-keyed window over the distinct (user, day) panel (checkpointed — class rollup, churn arm, and day spine all read the leaf), churn books to day+1 clipped to observed days, and every rollup partial-aggregates into a calendar-bounded report.")),
    // q220: hour-of-day profile — integer epoch-hour arithmetic, exact
    // floored-micros mean per hour
    spec("q220_hourly_profile", ((s, d) =>
      Analytics.hourlyProfile(Tables.events(s, d), "ts", "value")),
      // q220: integer epoch-hour arithmetic (ts nonnegative); mean as
      // the nonneg-remainder floor division (value sums can be negative)
      """WITH e AS (SELECT (epoch_us(ts) // 3600000000) % 24 AS hour,
        |    CAST(floor(value * 1000000) AS BIGINT) AS vmic FROM events),
        |a AS (SELECT hour, count(*) AS n,
        |    CAST(sum(vmic) AS HUGEINT) AS sm FROM e GROUP BY 1)
        |SELECT CAST(hour AS BIGINT) AS hour, CAST(n AS BIGINT) AS n_events,
        |  CAST((sm - ((sm % n + n) % n)) // n AS BIGINT)
        |    AS mean_value_micros
        |FROM a ORDER BY 1""".stripMargin),
    // q228: daily-volume correlation matrix — signed r² ppm between
    // type pairs' daily-count series, zero-fill handled algebraically
    spec("q228_type_daily_corr", ((s, d) =>
      Analytics.typeDailyCorrelation(Tables.events(s, d), "event_type",
        "ts")),
      // q228: population-form moments in HUGEINT; signed r² via the
      // two-quotient floor sequence (Cauchy-Schwarz bounds each <= 1e6)
      """WITH e AS (SELECT event_type AS ty,
        |    (epoch_us(ts) - ((epoch_us(ts) % 86400000000 + 86400000000)
        |      % 86400000000)) // 86400000000 AS day FROM events),
        |d AS (SELECT ty, day, count(*) AS n FROM e GROUP BY 1, 2),
        |sp AS (SELECT max(day) - min(day) + 1 AS nd FROM d),
        |s AS (SELECT ty, sum(n) AS sx,
        |    sum(CAST(n AS HUGEINT) * n) AS sxx FROM d GROUP BY 1),
        |xy AS (SELECT a.ty AS ta, b.ty AS tb,
        |    sum(CAST(a.n AS HUGEINT) * b.n) AS sxy
        |  FROM d a JOIN d b ON a.day = b.day AND a.ty < b.ty GROUP BY 1, 2),
        |f AS (SELECT sa.ty AS ta, sb.ty AS tb, nd,
        |    CAST(nd AS HUGEINT) * coalesce(sxy, 0)
        |      - CAST(sa.sx AS HUGEINT) * sb.sx AS num,
        |    CAST(nd AS HUGEINT) * sa.sxx
        |      - CAST(sa.sx AS HUGEINT) * sa.sx AS dena,
        |    CAST(nd AS HUGEINT) * sb.sxx
        |      - CAST(sb.sx AS HUGEINT) * sb.sx AS denb
        |  FROM s sa JOIN s sb ON sa.ty < sb.ty
        |  LEFT JOIN xy ON xy.ta = sa.ty AND xy.tb = sb.ty
        |  CROSS JOIN sp)
        |SELECT ta AS type_a, tb AS type_b, CAST(nd AS BIGINT) AS n_days,
        |  CASE WHEN dena = 0 OR denb = 0 THEN NULL
        |    ELSE CAST((CASE WHEN num > 0 THEN 1 WHEN num < 0 THEN -1
        |        ELSE 0 END)
        |      * ((((abs(num) * 1000000) // dena)
        |        * ((abs(num) * 1000000) // denb)) // 1000000)
        |      AS BIGINT) END AS r2_signed_ppm
        |FROM f ORDER BY 1, 2""".stripMargin,
      planNote = Some(
        "A correlation matrix that touches the fact ONCE: events collapse to the (type, day) panel (checkpointed — span, per-type moments, and the Σxy self-join all read the ExistingRDD leaf), zero-count days enter through the population algebra instead of a densified spine, and the vocabulary-bounded pair frame assembles by EXPLICIT broadcasts — a stats misestimate can never turn types² into a shuffled cartesian. The statistic is signed r² in floored integer ppm: every division an integer floor both engines take identically, no sqrt anywhere.")),
    // q230: PSI value drift per type — first vs second half of the
    // calendar, Laplace-smoothed equal-width bins, fixed-point ln
    spec("q230_psi_drift", ((s, d) =>
      Analytics.psiDrift(Tables.events(s, d), "event_type", "ts",
        "value")),
      // q230: identical midpoint/width/Laplace arithmetic; terms are
      // >= 0 by L-monotonicity so the final // needs no remainder idiom
      """WITH e AS (SELECT event_type AS ty,
        |    (epoch_us(ts) - ((epoch_us(ts) % 86400000000 + 86400000000)
        |      % 86400000000)) // 86400000000 AS day,
        |    CAST(floor(value * 1000000) AS BIGINT) AS vm FROM events),
        |b AS (SELECT ty, min(vm) AS lo, max(vm) AS hi,
        |    min(day) AS dlo, max(day) AS dhi FROM e GROUP BY 1),
        |m AS (SELECT min(dlo) + (max(dhi) - min(dlo) + 2) // 2 AS mid
        |  FROM b),
        |c AS (SELECT e.ty, CASE WHEN e.day < mid THEN 0 ELSE 1 END AS half,
        |    (e.vm - lo) // greatest((hi - lo + 10) // 10, 1) AS bin,
        |    count(*) AS c
        |  FROM e JOIN b USING (ty) CROSS JOIN m GROUP BY 1, 2, 3),
        |f AS (SELECT ty, i AS bin, h AS half FROM b,
        |    unnest(generate_series(0, 9)) AS t(i),
        |    unnest([0, 1]) AS u(h)),
        |d AS (SELECT f.ty, f.bin, f.half, coalesce(c.c, 0) + 1 AS c1
        |  FROM f LEFT JOIN c ON c.ty = f.ty AND c.bin = f.bin
        |    AND c.half = f.half),
        |cell AS (SELECT ty, bin,
        |    sum(CASE WHEN half = 0 THEN c1 ELSE 0 END) AS p,
        |    sum(CASE WHEN half = 1 THEN c1 ELSE 0 END) AS q
        |  FROM d GROUP BY 1, 2),
        |tot AS (SELECT ty, sum(p) AS np, sum(q) AS nq FROM cell
        |  GROUP BY 1),
        |term AS (SELECT cell.ty, np, nq,
        |    (CAST(p AS HUGEINT) * nq - CAST(q AS HUGEINT) * np) *
        |    CAST(CAST(floor(ln(CAST(p AS HUGEINT) * nq) * 1000000)
        |        AS BIGINT)
        |      - CAST(floor(ln(CAST(q AS HUGEINT) * np) * 1000000)
        |        AS BIGINT) AS HUGEINT) AS term
        |  FROM cell JOIN tot USING (ty))
        |SELECT ty AS event_type, CAST(max(np) - 10 AS BIGINT) AS n_first,
        |  CAST(max(nq) - 10 AS BIGINT) AS n_second,
        |  CAST(sum(term) // (CAST(max(np) AS HUGEINT) * max(nq))
        |    AS BIGINT) AS psi_micro_nats
        |FROM term GROUP BY 1 ORDER BY 1""".stripMargin,
      planNote = Some(
        "Drift scoring that touches the fact twice and nothing more: scan one collapses to the types-bounded bounds relation (checkpointed — the calendar midpoint derives from IT, not a third scan), scan two bins against those BROADCAST bounds into a types×2×bins hash agg with map-side partials. The dense smoothing frame explodes off the bounds relation, never the fact; the PSI fold is fixed-point-ln integer arithmetic whose terms are provably nonnegative under floored L — a floor artifact can never report negative drift.")),
    // q236: session bounce rate by entry type — shared gap-session tag,
    // struct-min entry pick, vocabulary-bounded census
    spec("q236_bounce_rate", ((s, d) =>
      Analytics.sessionBounceRate(Tables.events(s, d), "user_id",
        "event_type", "ts", "event_id", gapUs = 1800000000L)),
      // q236: q197's session tag; entry = first (t, id) of the session
      """WITH e AS (SELECT user_id AS u, event_type AS ty, epoch_us(ts)
        |    AS t, event_id AS id FROM events),
        |m AS (SELECT u, ty, t, id, CASE WHEN lag(t) OVER w IS NULL
        |    OR t - lag(t) OVER w > 1800000000 THEN 1 ELSE 0 END AS nw
        |  FROM e WINDOW w AS (PARTITION BY u ORDER BY t, id)),
        |s AS (SELECT u, ty, t, id, sum(nw) OVER (PARTITION BY u
        |    ORDER BY t, id ROWS BETWEEN UNBOUNDED PRECEDING AND
        |    CURRENT ROW) AS sid FROM m),
        |p AS (SELECT u, sid,
        |    count(*) OVER (PARTITION BY u, sid) AS n,
        |    first_value(ty) OVER (PARTITION BY u, sid ORDER BY t, id)
        |      AS entry,
        |    row_number() OVER (PARTITION BY u, sid ORDER BY t, id) AS rn
        |  FROM s)
        |SELECT entry AS entry_type, CAST(count(*) AS BIGINT)
        |    AS n_sessions,
        |  CAST(sum(CASE WHEN n = 1 THEN 1 ELSE 0 END) AS BIGINT)
        |    AS n_bounces,
        |  CAST((sum(CASE WHEN n = 1 THEN 1 ELSE 0 END) * 1000000)
        |    // count(*) AS BIGINT) AS bounce_ppm
        |FROM p WHERE rn = 1 GROUP BY 1 ORDER BY 1""".stripMargin),
    // q240: stream-freshness census — last ts + staleness vs the corpus
    // frontier, frontier derived from the one types-bounded rollup
    spec("q240_type_freshness", ((s, d) =>
      Analytics.typeFreshness(Tables.events(s, d), "event_type", "ts")),
      // q240: frontier from the same rollup; staleness floored seconds
      """WITH p AS (SELECT event_type, count(*) AS n,
        |    max(epoch_us(ts)) AS last FROM events GROUP BY 1),
        |m AS (SELECT max(last) AS mx FROM p)
        |SELECT event_type, CAST(n AS BIGINT) AS n_events,
        |  CAST(last AS BIGINT) AS last_epoch_us,
        |  CAST((mx - last) // 1000000 AS BIGINT) AS staleness_sec
        |FROM p, m ORDER BY 1""".stripMargin),
    // q241: abandonment census — view not followed by purchase within
    // 1 day; forward min-over-following window, never a range join
    spec("q241_abandonment", ((s, d) =>
      Analytics.abandonmentCensus(Tables.events(s, d), "user_id",
        "event_type", "ts", "event_id", fromType = "view",
        toType = "purchase", windowUs = 86400000000L)),
      // q241: strictly-(t, id)-after next-purchase via the same forward
      // frame; 1-day budget
      """WITH e AS (SELECT user_id AS u, event_type AS ty,
        |    epoch_us(ts) AS t, event_id AS id FROM events
        |  WHERE event_type IN ('view', 'purchase')),
        |n AS (SELECT u, ty, t,
        |    min(CASE WHEN ty = 'purchase' THEN t END) OVER
        |      (PARTITION BY u ORDER BY t, id
        |       ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING) AS nb
        |  FROM e),
        |a AS (SELECT u,
        |    count(*) AS nf,
        |    sum(CASE WHEN nb IS NULL OR nb > t + 86400000000
        |      THEN 1 ELSE 0 END) AS na
        |  FROM n WHERE ty = 'view' GROUP BY 1)
        |SELECT CAST(sum(nf) AS BIGINT) AS n_from_events,
        |  CAST(sum(na) AS BIGINT) AS n_abandoned,
        |  CAST((sum(na) * 1000000) // sum(nf) AS BIGINT) AS abandon_ppm,
        |  CAST(sum(CASE WHEN na > 0 THEN 1 ELSE 0 END) AS BIGINT)
        |    AS n_users_abandoning
        |FROM a""".stripMargin),
    // q245: audience-overlap Jaccard between event types — q232's
    // template on the distinct (type, user) relation
    spec("q245_audience_overlap", ((s, d) =>
      Analytics.audienceOverlap(Tables.events(s, d), "event_type",
        "user_id")),
      // q245: distinct audiences; zero-overlap pairs kept at 0
      """WITH tu AS (SELECT DISTINCT event_type AS ty, user_id AS u
        |  FROM events),
        |sz AS (SELECT ty, count(*) AS n FROM tu GROUP BY 1),
        |i AS (SELECT a.ty AS ta, b.ty AS tb, count(*) AS i
        |  FROM tu a JOIN tu b ON a.u = b.u AND a.ty < b.ty GROUP BY 1, 2)
        |SELECT x.ty AS type_a, y.ty AS type_b,
        |  CAST(x.n AS BIGINT) AS n_users_a,
        |  CAST(y.n AS BIGINT) AS n_users_b,
        |  CAST(coalesce(i, 0) AS BIGINT) AS n_both,
        |  CAST((coalesce(i, 0) * 1000000)
        |    // (x.n + y.n - coalesce(i, 0)) AS BIGINT) AS jaccard_ppm
        |FROM sz x JOIN sz y ON x.ty < y.ty
        |LEFT JOIN i ON i.ta = x.ty AND i.tb = y.ty
        |ORDER BY 1, 2""".stripMargin),
  )
}
