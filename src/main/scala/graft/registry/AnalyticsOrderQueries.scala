package graft
package registry

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import graft.analytics.Analytics
import graft.analytics.Analytics.dsum
import graft.text.TextAnalysis
import Shared._

/** Analytics over orders and customers without line items, plus the
  * corpus-level rollups of `documents` (SURVEY §2.5, §3.3). */
object AnalyticsOrderQueries extends QueryFamily("analytics") {

  val specs: Seq[QuerySpec] = Seq(
    spec("q2_daily_order_summary", ((s, d) =>
      Analytics.dailyOrderSummary(Tables.orders(s, d))),
      """SELECT strftime(o_orderdate, '%Y-%m-%d') AS order_day, o_orderstatus,
        | count(*) AS order_count,
        | CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS total_amount,
        | CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) / count(*) AS avg_amount,
        | min(o_totalprice) AS min_amount, max(o_totalprice) AS max_amount
        |FROM orders GROUP BY 1, 2""".stripMargin),
    spec("q5_validation_summary", ((s, d) => {
      def cnt(df: DataFrame) = df.agg(count(lit(1)).cast("double").as("v"))
      val checks = Seq(
        Analytics.validationRow("orders_count", cnt(srcOrders(s, d)), cnt(tgtOrders(s, d))),
        Analytics.validationRow("orders_revenue",
          srcOrders(s, d).agg(dsum(col("o_totalprice")).as("v")),
          tgtOrders(s, d).agg(dsum(col("o_totalprice")).as("v"))),
        Analytics.validationRow("customer_count", cnt(Tables.customer(s, d)), cnt(Tables.customer(s, d))),
        Analytics.validationRow("lineitem_count", cnt(Tables.lineitem(s, d)), cnt(Tables.lineitem(s, d))),
        Analytics.validationRow("events_count", cnt(Tables.events(s, d)), cnt(Tables.events(s, d))))
      Analytics.validationSummary(checks)
    }),
      s"""WITH src AS ($srcSql), tgt AS ($tgtSql),
         |checks(check_name, expected, actual) AS (
         | SELECT 'orders_count', CAST((SELECT count(*) FROM src) AS DOUBLE), CAST((SELECT count(*) FROM tgt) AS DOUBLE)
         | UNION ALL SELECT 'orders_revenue', (SELECT CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) FROM src), (SELECT CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) FROM tgt)
         | UNION ALL SELECT 'customer_count', CAST((SELECT count(*) FROM customer) AS DOUBLE), CAST((SELECT count(*) FROM customer) AS DOUBLE)
         | UNION ALL SELECT 'lineitem_count', CAST((SELECT count(*) FROM lineitem) AS DOUBLE), CAST((SELECT count(*) FROM lineitem) AS DOUBLE)
         | UNION ALL SELECT 'events_count', CAST((SELECT count(*) FROM events) AS DOUBLE), CAST((SELECT count(*) FROM events) AS DOUBLE))
         |SELECT check_name, expected, actual,
         | CASE WHEN abs(expected - actual) <= 0.01 THEN 'PASS' ELSE 'FAIL' END AS status
         |FROM checks""".stripMargin),
    spec("q6_top_orders", ((s, d) =>
      Tables.orders(s, d).select(col("o_orderkey"), col("o_totalprice"))
        .orderBy(col("o_totalprice").desc, col("o_orderkey")).limit(10)),
      "SELECT o_orderkey, o_totalprice FROM orders ORDER BY o_totalprice DESC, o_orderkey LIMIT 10",
      planNote = Some(
        "Column pruning to ReadSchema struct<o_orderkey,o_totalprice>; TakeOrderedAndProject instead of a global sort — top-k never materializes a full ordering.")),
    // q102: exact quality-score quantiles over the corpus (integer-ppm
    // scores through the q9 distributed exact-rank machinery) — the
    // calibration table a curation run reads before picking minQuality
    spec("q102_quality_quantiles", ((s, d) =>
      Analytics.rankQuantiles(
        Tables.documents(s, d).filter(col("text").isNotNull)
          .select(round(TextAnalysis.qualityScore(col("text"),
            TextAnalysis.LangProfiles("en")) * 1000000)
            .cast("long").as("q_ppm")),
        "q_ppm", Seq(0.25, 0.5, 0.75, 0.95))),
      // q102: the q33/q64 integer quality-ppm ladder, fed through q9's
      // exact-rank quantile pick (ceil-rank, 1-based, doc_id-free — the
      // value column is the ppm itself so ranks are well-defined)
      s"""WITH t AS (SELECT doc_id, text, $tokensSql AS toks FROM documents
         |  WHERE text IS NOT NULL),
         |m AS (SELECT doc_id,
         |  CAST(len(toks) AS BIGINT) AS n_tokens,
         |  greatest(CAST(len(toks) AS BIGINT), 1) AS toks_n,
         |  CAST(len(list_filter(toks, x -> x IN ($enStop))) AS BIGINT) AS sw,
         |  CAST(len(regexp_extract_all(text, '[.,!?;:]')) AS DOUBLE)
         |    / greatest(length(text), 1) AS punct_ratio
         | FROM t),
         |q AS (SELECT least(n_tokens, 100) * 4000
         |   + (CASE WHEN punct_ratio < CAST(0.2 AS DOUBLE) THEN 300000 ELSE 90000 END)
         |   + ((least((sw * 5000000) // toks_n, 1000000) * 3) // 10) AS qppm
         | FROM m),
         |ranked AS (SELECT CAST(qppm AS DOUBLE) AS v,
         |   row_number() OVER (ORDER BY qppm) AS rn FROM q),
         |n AS (SELECT count(*) AS c FROM q)
         |SELECT CAST(0.25 AS DOUBLE) AS quantile, v AS value FROM ranked, n WHERE rn = greatest(1, CAST(ceil(0.25 * c) AS BIGINT))
         |UNION ALL SELECT CAST(0.5 AS DOUBLE), v FROM ranked, n WHERE rn = greatest(1, CAST(ceil(0.5 * c) AS BIGINT))
         |UNION ALL SELECT CAST(0.75 AS DOUBLE), v FROM ranked, n WHERE rn = greatest(1, CAST(ceil(0.75 * c) AS BIGINT))
         |UNION ALL SELECT CAST(0.95 AS DOUBLE), v FROM ranked, n WHERE rn = greatest(1, CAST(ceil(0.95 * c) AS BIGINT))""".stripMargin),
    // q103: customer order-count distribution (TPC-H Q13 shape) — the
    // fact collapses to per-customer counts BEFORE the outer join;
    // zero-order customers survive via LEFT + coalesce
    spec("q103_customer_distribution", ((s, d) =>
      Analytics.customerOrderDistribution(Tables.customer(s, d),
        Tables.orders(s, d), "1-URGENT")),
      // q103: Q13 shape — per-customer order counts, LEFT join keeps the
      // zero-order customers, second rollup is the distribution
      """WITH pc AS (SELECT o_custkey, count(*) AS n FROM orders
        |  WHERE o_orderpriority <> '1-URGENT' GROUP BY 1)
        |SELECT coalesce(n, 0) AS c_count, count(*) AS custdist
        |FROM customer LEFT JOIN pc ON c_custkey = o_custkey
        |GROUP BY 1 ORDER BY custdist DESC, c_count DESC""".stripMargin),
    // q106: idle high-balance customers by segment (TPC-H Q22 shape) —
    // 1-row scalar broadcast, cross-multiplied mean compare (no float
    // average), LEFT ANTI on projected keys
    spec("q106_sales_opportunity", ((s, d) =>
      Analytics.salesOpportunity(Tables.customer(s, d), Tables.orders(s, d),
        "1996-01-01", "1997-01-01")),
      // q106: Q22 shape — cross-multiplied mean-balance compare (bal·n >
      // Σbal, exact decimal), NOT EXISTS over the order window
      """WITH ps AS (SELECT sum(CAST(c_acctbal AS DECIMAL(18,2))) AS bsum,
        |    count(*) AS bn FROM customer WHERE c_acctbal > 0.0),
        |sel AS (SELECT c_custkey, c_mktsegment, c_acctbal FROM customer, ps
        |  WHERE CAST(c_acctbal AS DECIMAL(18,2)) * bn > bsum),
        |idle AS (SELECT * FROM sel WHERE NOT EXISTS (SELECT 1 FROM orders
        |  WHERE o_custkey = c_custkey
        |    AND o_orderdate >= TIMESTAMP '1996-01-01'
        |    AND o_orderdate < TIMESTAMP '1997-01-01'))
        |SELECT c_mktsegment, count(*) AS numcust,
        |  CAST(sum(CAST(c_acctbal AS DECIMAL(18,2))) AS DOUBLE) AS totacctbal
        |FROM idle GROUP BY 1 ORDER BY 1""".stripMargin,
      planNote = Some(
        "The Q22 shape with both correlated subqueries flattened scale-safely: the mean-positive-balance scalar is a 1-ROW aggregate broadcast back via nested-loop (never a per-row recompute), the comparison is CROSS-MULTIPLIED (bal·n > Σbal in exact decimal — no float average exists in the plan), and NOT EXISTS is a LEFT ANTI join carrying only projected 8-byte keys.")),
    // q122: per-customer running revenue — the ordered windowed
    // aggregate: partitioned cumulative decimal sum, no global sort
    spec("q122_running_revenue", ((s, d) =>
      Analytics.runningRevenue(Tables.orders(s, d))),
      // q122: same window, same decimal frame, same (date, key) tiebreak
      """SELECT o_custkey, o_orderkey,
        |  strftime(o_orderdate, '%Y-%m-%d') AS order_date,
        |  CAST(sum(CAST(o_totalprice AS DECIMAL(18,2)))
        |    OVER (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
        |      ROWS UNBOUNDED PRECEDING) AS DOUBLE) AS running_total
        |FROM orders ORDER BY o_custkey, o_orderkey""".stripMargin),
    // q125: datasheet marginals via ROLLUP — (source, lang) cells,
    // per-source subtotals, grand total, one shared aggregation pass
    spec("q125_corpus_rollup", ((s, d) =>
      Analytics.corpusRollup(Tables.documents(s, d))),
      // q125: DuckDB ROLLUP with GROUPING() matching Spark's grouping_id
      // bit order; NULLS FIRST pinned (DuckDB defaults NULLS LAST)
      """SELECT source, lang, count(*) AS n_docs,
        |  CAST(sum(n_chars) AS BIGINT) AS total_chars,
        |  CAST(GROUPING(source, lang) AS INTEGER) AS gid
        |FROM documents GROUP BY ROLLUP (source, lang)
        |ORDER BY gid, source NULLS FIRST, lang NULLS FIRST""".stripMargin),
    // q126: per-source language PIVOT with a fixed value list (static
    // schema, no distinct pre-pass) — empty cells 0
    spec("q126_lang_pivot", ((s, d) =>
      Analytics.langPivot(Tables.documents(s, d),
        Seq("de", "en", "es", "fr", "zh"))),
      // q126: the pivot as conditional counts — static column set
      """SELECT source,
        |  CAST(sum(CASE WHEN lang = 'de' THEN 1 ELSE 0 END) AS BIGINT) AS de,
        |  CAST(sum(CASE WHEN lang = 'en' THEN 1 ELSE 0 END) AS BIGINT) AS en,
        |  CAST(sum(CASE WHEN lang = 'es' THEN 1 ELSE 0 END) AS BIGINT) AS es,
        |  CAST(sum(CASE WHEN lang = 'fr' THEN 1 ELSE 0 END) AS BIGINT) AS fr,
        |  CAST(sum(CASE WHEN lang = 'zh' THEN 1 ELSE 0 END) AS BIGINT) AS zh
        |FROM documents GROUP BY source ORDER BY source""".stripMargin),
    // q139: Spearman rank correlation (integer midranks, no sqrt)
    // between the quality score and document length — do the two
    // signals agree? Exact ppm at any corpus size
    spec("q139_rank_correlation", ((s, d) => {
      val docs = Tables.documents(s, d).filter(col("text").isNotNull)
        .select(
          graft.text.TextAnalysis.qualityScoreE6(col("text"),
            graft.text.TextAnalysis.LangProfiles("en")).as("q"),
          graft.text.TextAnalysis.tokenCount(col("text")).cast("long")
            .as("nt"))
      Analytics.spearman(docs, "q", "nt")
    }),
      // q139: q33's quality + token count, doubled midranks from
      // per-value prefix sums, the Σd² fold in HUGEINT — same integer
      // formula, nonneg // is floor
      s"""WITH t AS (SELECT text, $tokensSql AS toks
         |  FROM documents WHERE text IS NOT NULL),
         |m AS (SELECT
         |  CAST(len(toks) AS BIGINT) AS n_tokens,
         |  greatest(CAST(len(toks) AS BIGINT), 1) AS toks_n,
         |  CAST(len(list_filter(toks, x -> x IN ($enStop))) AS BIGINT) AS sw,
         |  CAST(len(regexp_extract_all(text, '[.,!?;:]')) AS DOUBLE)
         |    / greatest(length(text), 1) AS punct_ratio
         | FROM t),
         |s AS (SELECT
         |  least(n_tokens, 100) * 4000
         |   + (CASE WHEN punct_ratio < CAST(0.2 AS DOUBLE) THEN 300000 ELSE 90000 END)
         |   + ((least((sw * 5000000) // toks_n, 1000000) * 3) // 10) AS x,
         |  n_tokens AS y FROM m),
         |vx AS (SELECT x AS v, count(*) AS c FROM s GROUP BY 1),
         |rx AS (SELECT v, 2 * coalesce(sum(c) OVER (ORDER BY v
         |    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) + c + 1 AS r2
         |  FROM vx),
         |vy AS (SELECT y AS v, count(*) AS c FROM s GROUP BY 1),
         |ry AS (SELECT v, 2 * coalesce(sum(c) OVER (ORDER BY v
         |    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) + c + 1 AS r2
         |  FROM vy),
         |d AS (SELECT CAST(rx.r2 - ry.r2 AS HUGEINT) AS d
         |  FROM s JOIN rx ON s.x = rx.v JOIN ry ON s.y = ry.v),
         |a AS (SELECT count(*) AS n, sum(d * d) AS sd2 FROM d)
         |SELECT CAST(n AS BIGINT) AS n,
         |  CAST(CASE WHEN n > 1 THEN 1000000 -
         |    (3 * sd2 * 1000000) // (2 * CAST(n AS HUGEINT) * (CAST(n AS HUGEINT) * n - 1))
         |    ELSE NULL END AS BIGINT) AS rho_ppm
         |FROM a""".stripMargin,
      planNote = Some(
        "Spearman with NO row-level global window and NO sqrt: per-VALUE counts roll up map-side (score domains are bounded, so the value table is tiny), the prefix window runs over that value table, doubled midranks broadcast back as two joins, and Σd² accumulates in DECIMAL(38,0) into a 1-row result. The ρ is exact integer ppm — a correlation between two corpus-wide signals for the cost of one narrow pass.")),
    // q141: ANALYZE-style column profile of the orders table — counts,
    // nulls, exact distincts, native-ordered extrema rendered portably
    // (timestamps as epoch micros; the double column is skipped — its
    // shortest-form rendering is engine-specific)
    spec("q141_column_profile", ((s, d) =>
      Analytics.columnProfile(Tables.orders(s, d),
        Seq("o_orderkey", "o_custkey", "o_orderstatus", "o_orderdate",
          "o_orderpriority"))),
      // q141: one UNION ALL branch per profiled column; extrema on the
      // native type, rendered as strings (timestamps via epoch_us)
      {
      def branch(c: String, isTs: Boolean): String = {
        val mn = if (isTs) s"CAST(epoch_us(min($c)) AS VARCHAR)"
          else s"CAST(min($c) AS VARCHAR)"
        val mx = if (isTs) s"CAST(epoch_us(max($c)) AS VARCHAR)"
          else s"CAST(max($c) AS VARCHAR)"
        s"""SELECT '$c' AS "column", count(*) AS n_rows,
           | count(*) - count($c) AS n_nulls,
           | count(DISTINCT $c) AS n_distinct,
           | $mn AS min_value, $mx AS max_value FROM orders""".stripMargin
      }
      Seq(branch("o_orderkey", false), branch("o_custkey", false),
        branch("o_orderstatus", false), branch("o_orderdate", true),
        branch("o_orderpriority", false)).mkString("\nUNION ALL\n")
    }),
    // q142: Benford first-digit audit of order totals — the
    // fabricated-data screen; 9-row output, shared ppm constant table
    spec("q142_benford_audit", ((s, d) =>
      Analytics.benfordProfile(Tables.orders(s, d), "o_totalprice")),
      // q142: digit of the integer part (floor BEFORE the bigint cast —
      // DuckDB's bare double→int cast rounds where Spark truncates), the
      // same literal expected-ppm table, nonneg // floor
      """WITH v AS (SELECT CAST(floor(o_totalprice) AS BIGINT) AS iv
        |  FROM orders WHERE o_totalprice IS NOT NULL AND o_totalprice >= 1),
        |c AS (SELECT CAST(substr(CAST(iv AS VARCHAR), 1, 1) AS INTEGER)
        |    AS digit, count(*) AS n FROM v GROUP BY 1),
        |t AS (SELECT coalesce(sum(n), 0) AS total FROM c),
        |d AS (SELECT * FROM (VALUES (1, 301029), (2, 176091), (3, 124938),
        |  (4, 96910), (5, 79181), (6, 66946), (7, 57991), (8, 51152),
        |  (9, 45757)) AS x(digit, expected_ppm))
        |SELECT d.digit, CAST(coalesce(c.n, 0) AS BIGINT) AS n,
        |  CAST(CASE WHEN t.total > 0
        |    THEN (coalesce(c.n, 0) * 1000000) // t.total ELSE 0 END AS BIGINT)
        |    AS observed_ppm,
        |  CAST(d.expected_ppm AS BIGINT) AS expected_ppm,
        |  CAST(abs(CAST(CASE WHEN t.total > 0
        |    THEN (coalesce(c.n, 0) * 1000000) // t.total ELSE 0 END AS BIGINT)
        |    - d.expected_ppm) AS BIGINT) AS delta_ppm
        |FROM d LEFT JOIN c USING (digit) CROSS JOIN t ORDER BY 1""".stripMargin),
    // q143: 7-day trailing moving average of daily revenue — RANGE
    // frame over the day index (calendar gaps shorten the divisor);
    // the window runs over the day series, never fact rows
    spec("q143_moving_revenue", ((s, d) =>
      Analytics.movingDailyRevenue(Tables.orders(s, d), windowDays = 7)),
      // q143: same day floor, same RANGE frame, decimal frame sum cast
      // once, one division by the frame's actual day count
      """WITH d AS (SELECT (epoch_us(o_orderdate)
        |    - ((epoch_us(o_orderdate) % 86400000000 + 86400000000)
        |      % 86400000000)) // 86400000000 AS day,
        |  count(*) AS n, sum(CAST(o_totalprice AS DECIMAL(18,2))) AS rev
        | FROM orders GROUP BY 1)
        |SELECT CAST(day AS BIGINT) AS day,
        |  strftime(make_timestamp(day * 86400000000), '%Y-%m-%d') AS order_day,
        |  CAST(n AS BIGINT) AS n_orders,
        |  CAST(rev AS DOUBLE) AS revenue,
        |  CAST(sum(rev) OVER w AS DOUBLE) / count(*) OVER w AS ma7
        |FROM d
        |WINDOW w AS (ORDER BY day RANGE BETWEEN 6 PRECEDING AND CURRENT ROW)
        |ORDER BY day""".stripMargin),
    // q145: 2σ anomaly days on the revenue series — trailing-window
    // stats EXCLUDE the current day, the σ-test cross-multiplies to
    // exact integers in cents (no sqrt to flip on a boundary ulp)
    spec("q145_revenue_anomalies", ((s, d) =>
      Analytics.revenueAnomalies(Tables.orders(s, d), windowDays = 30,
        sigmas = 2, minPriorDays = 5)),
      // q145: same cents rollup, same excluded-current-day frame, the
      // identical cross-multiplied integer σ-test in HUGEINT
      """WITH d AS (SELECT (epoch_us(o_orderdate)
        |    - ((epoch_us(o_orderdate) % 86400000000 + 86400000000)
        |      % 86400000000)) // 86400000000 AS day,
        |  CAST(sum(CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT))
        |    AS BIGINT) AS x
        | FROM orders GROUP BY 1),
        |a AS (SELECT day, x,
        |  count(*) OVER w AS n, sum(x) OVER w AS s,
        |  sum(CAST(x AS HUGEINT) * x) OVER w AS s2
        | FROM d
        | WINDOW w AS (ORDER BY day RANGE BETWEEN 30 PRECEDING AND 1 PRECEDING))
        |SELECT CAST(day AS BIGINT) AS day,
        |  strftime(make_timestamp(day * 86400000000), '%Y-%m-%d') AS order_day,
        |  x AS revenue_cents, CAST(n AS BIGINT) AS prior_days,
        |  CASE WHEN n < 5 THEN 'insufficient_history'
        |    WHEN (CAST(n AS HUGEINT) * x - s) * (CAST(n AS HUGEINT) * x - s)
        |      > 4 * (CAST(n AS HUGEINT) * s2 - CAST(s AS HUGEINT) * s)
        |    THEN 'anomaly' ELSE 'normal' END AS verdict
        |FROM a ORDER BY day""".stripMargin),
    // q157: RFM segmentation — customer-sized rollup, then three exact
    // global ntiles via range-repartition + driver prefix offsets
    spec("q157_rfm_segments", ((s, d) =>
      Analytics.rfmSegments(Tables.orders(s, d), "o_custkey",
        "o_orderdate", "o_totalprice", k = 5)),
      // q157: native ntile(5) over the identical (metric, custkey) total
      // orders — pins the engine's rank-derived NTILE formula exactly
      """WITH pc AS (SELECT o_custkey AS c,
        |    max((epoch_us(o_orderdate) - ((epoch_us(o_orderdate)
        |      % 86400000000 + 86400000000) % 86400000000))
        |      // 86400000000) AS last_order_day,
        |    CAST(count(*) AS BIGINT) AS frequency,
        |    CAST(sum(CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100
        |      AS BIGINT)) AS BIGINT) AS monetary_cents
        |  FROM orders GROUP BY 1),
        |sc AS (SELECT c, last_order_day, frequency, monetary_cents,
        |    ntile(5) OVER (ORDER BY last_order_day, c) AS r,
        |    ntile(5) OVER (ORDER BY frequency, c) AS f,
        |    ntile(5) OVER (ORDER BY monetary_cents, c) AS m FROM pc)
        |SELECT c AS o_custkey, last_order_day, frequency, monetary_cents,
        |  CAST(r AS INTEGER) AS r_score, CAST(f AS INTEGER) AS f_score,
        |  CAST(m AS INTEGER) AS m_score,
        |  CAST(r * 100 + f * 10 + m AS INTEGER) AS rfm
        |FROM sc ORDER BY 1""".stripMargin),
    // q161: month-over-month growth in signed floor-div ppm over the
    // bounded month series
    spec("q161_monthly_growth", ((s, d) =>
      Analytics.monthlyGrowth(Tables.orders(s, d))),
      // q161: signed ppm via the subtract-nonnegative-remainder floor
      // idiom — exact whatever //'s negative semantics are
      """WITH m AS (SELECT strftime(o_orderdate, '%Y-%m') AS month,
        |    CAST(sum(CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100
        |      AS BIGINT)) AS BIGINT) AS revenue_cents
        |  FROM orders GROUP BY 1),
        |g AS (SELECT month, revenue_cents,
        |    lag(revenue_cents) OVER (ORDER BY month) AS prev_cents FROM m)
        |SELECT month, revenue_cents, prev_cents,
        |  CAST(((CAST(revenue_cents - prev_cents AS HUGEINT) * 1000000)
        |    - ((CAST(revenue_cents - prev_cents AS HUGEINT) * 1000000)
        |        % prev_cents + prev_cents) % prev_cents)
        |    // prev_cents AS BIGINT) AS growth_ppm
        |FROM g ORDER BY month""".stripMargin),
    // q162: per-segment modal priority — counts first, argmax as a
    // plain max over an order-reversing proxy struct, no window
    spec("q162_modal_priority", ((s, d) =>
      Analytics.modalPriority(Tables.orders(s, d), Tables.customer(s, d))),
      // q162: per-segment mode with the (count desc, priority asc) tie
      // rule stated as a window rank
      """WITH c AS (SELECT c_mktsegment, o_orderpriority, count(*) AS n
        |  FROM orders JOIN customer ON o_custkey = c_custkey
        |  GROUP BY 1, 2),
        |r AS (SELECT c_mktsegment, o_orderpriority, n, row_number()
        |    OVER (PARTITION BY c_mktsegment
        |      ORDER BY n DESC, o_orderpriority) AS rn FROM c)
        |SELECT c_mktsegment, o_orderpriority AS top_priority,
        |  CAST(n AS BIGINT) AS n_orders
        |FROM r WHERE rn = 1 ORDER BY c_mktsegment""".stripMargin),
    // q163: segment×priority chi-square — exact integers to the last
    // two IEEE ops, decimal-summed total
    spec("q163_chi_square", ((s, d) =>
      Analytics.chiSquareIndependence(Tables.orders(s, d),
        Tables.customer(s, d))),
      // q163: HUGEINT-exact d and denominator, one double square +
      // divide per cell (IEEE-identical to the engine), decimal total
      """WITH obs AS (SELECT c_mktsegment AS segment,
        |    o_orderpriority AS priority,
        |    CAST(count(*) AS BIGINT) AS observed
        |  FROM orders JOIN customer ON o_custkey = c_custkey
        |  GROUP BY 1, 2),
        |rt AS (SELECT segment, CAST(sum(observed) AS BIGINT) AS rtv
        |  FROM obs GROUP BY 1),
        |ct AS (SELECT priority, CAST(sum(observed) AS BIGINT) AS ctv
        |  FROM obs GROUP BY 1),
        |tt AS (SELECT CAST(sum(observed) AS BIGINT) AS nn FROM obs),
        |cells AS (SELECT segment, priority, observed,
        |    CAST((CAST(rtv AS HUGEINT) * ctv * 1000000) // nn
        |      AS BIGINT) AS expected_ppm,
        |    CAST(CAST(observed AS HUGEINT) * nn
        |      - CAST(rtv AS HUGEINT) * ctv AS DOUBLE) AS dd,
        |    CAST(CAST(nn AS HUGEINT) * rtv * ctv AS DOUBLE) AS den
        |  FROM obs JOIN rt USING (segment) JOIN ct USING (priority)
        |  CROSS JOIN tt),
        |c2 AS (SELECT segment, priority, observed, expected_ppm,
        |    dd * dd / den AS chi_term FROM cells)
        |SELECT segment, priority, observed, expected_ppm, chi_term
        |FROM c2
        |UNION ALL
        |SELECT 'TOTAL', 'TOTAL', NULL, NULL,
        |  CAST(sum(CAST(chi_term AS DECIMAL(18,6))) AS DOUBLE) FROM c2
        |ORDER BY segment, priority""".stripMargin),
    // q172: CUSUM sustained-shift detector on the daily revenue series
    // — two prefix windows over the calendar-bounded day rollup via the
    // max-reset-free identity, exact integer statistic (cents)
    spec("q172_cusum_shift", ((s, d) =>
      Analytics.cusumShift(Tables.orders(s, d), thresholdCents = 100000000L)),
      // q172: the same pre-scaled integer deviations (n·x − T per prefix
      // step) and the same max-reset-free prefix-min/max identity, in
      // HUGEINT; floor-div back to cents only at the end
      """WITH d AS (SELECT (epoch_us(o_orderdate)
        |    - ((epoch_us(o_orderdate) % 86400000000 + 86400000000)
        |      % 86400000000)) // 86400000000 AS day,
        |  CAST(sum(CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT))
        |    AS BIGINT) AS x
        | FROM orders GROUP BY 1),
        |t AS (SELECT CAST(count(*) AS HUGEINT) AS n,
        |  CAST(sum(x) AS HUGEINT) AS tt FROM d),
        |p AS (SELECT day, x, n,
        |  sum(CAST(x AS HUGEINT) * n) OVER w
        |    - tt * CAST(count(*) OVER w AS HUGEINT) AS pp
        | FROM d, t
        | WINDOW w AS (ORDER BY day ROWS UNBOUNDED PRECEDING)),
        |c AS (SELECT day, x,
        |  CAST((pp - min(pp) OVER w) // n AS BIGINT) AS cusum_pos_cents,
        |  CAST((max(pp) OVER w - pp) // n AS BIGINT) AS cusum_neg_cents
        | FROM p
        | WINDOW w AS (ORDER BY day ROWS UNBOUNDED PRECEDING))
        |SELECT strftime(make_timestamp(day * 86400000000), '%Y-%m-%d')
        |    AS order_day,
        |  CAST(CAST(x AS DECIMAL(38,2)) / 100 AS DOUBLE) AS revenue,
        |  cusum_pos_cents, cusum_neg_cents,
        |  CASE WHEN cusum_pos_cents > 100000000
        |      AND cusum_pos_cents >= cusum_neg_cents THEN 'shift_up'
        |    WHEN cusum_neg_cents > 100000000 THEN 'shift_down'
        |    ELSE 'ok' END AS verdict
        |FROM c ORDER BY order_day""".stripMargin,
      planNote = Some(
        "CUSUM change-point: the fact collapses to the calendar-bounded day series via a partial-aggregated hash agg BEFORE any window; the two prefix windows (the max-reset-free identity) run single-partition by design over that bounded series — never over fact rows.")),
    // q173: inter-purchase-time table per market segment — per-customer
    // lag window, then every quantile off the bounded (segment, gap)
    // histogram, never a per-row rank
    spec("q173_repeat_intervals", ((s, d) =>
      Analytics.repeatIntervals(Tables.orders(s, d), Tables.customer(s, d))),
      // q173: same per-customer (day, key) lag, same bounded (segment,
      // gap) histogram with running-count quantile picks; mean is the
      // single IEEE division of exact integers
      """WITH o AS (SELECT o_custkey AS c, o_orderkey AS k,
        |    (epoch_us(o_orderdate) - ((epoch_us(o_orderdate) % 86400000000
        |      + 86400000000) % 86400000000)) // 86400000000 AS day
        |  FROM orders),
        |g AS (SELECT c, day - lag(day) OVER
        |    (PARTITION BY c ORDER BY day, k) AS gap FROM o),
        |j AS (SELECT c_mktsegment AS segment, gap FROM g
        |  JOIN customer ON c = c_custkey WHERE gap IS NOT NULL),
        |h AS (SELECT segment, gap, count(*) AS cnt FROM j GROUP BY 1, 2),
        |s AS (SELECT segment, gap, cnt,
        |    sum(cnt) OVER (PARTITION BY segment ORDER BY gap
        |      ROWS UNBOUNDED PRECEDING) AS cum,
        |    sum(cnt) OVER (PARTITION BY segment) AS n,
        |    sum(CAST(gap AS HUGEINT) * cnt) OVER (PARTITION BY segment) AS sm
        |  FROM h)
        |SELECT segment, CAST(max(n) AS BIGINT) AS n_intervals,
        |  CAST(max(sm) AS DOUBLE) / max(n) AS mean_days,
        |  min(CASE WHEN cum * 2 >= n THEN gap END) AS median_days,
        |  min(CASE WHEN cum * 10 >= n * 9 THEN gap END) AS p90_days
        |FROM s GROUP BY segment ORDER BY segment""".stripMargin),
    // q175: equi-depth order-value deciles — exact engine NTILE
    // reproduced from the range-repartition global rank, k-row rollup
    spec("q175_value_deciles", ((s, d) =>
      Analytics.valueDeciles(Tables.orders(s, d), k = 10)),
      // q175: native ntile(10) over the identical (price, key) total
      // order — pins the engine's rank-derived NTILE decomposition
      """WITH r AS (SELECT o_orderkey,
        |    CAST(o_totalprice AS DECIMAL(18,2)) AS price,
        |    ntile(10) OVER (ORDER BY CAST(o_totalprice AS DECIMAL(18,2)),
        |      o_orderkey) AS decile
        |  FROM orders)
        |SELECT CAST(decile AS INTEGER) AS decile,
        |  CAST(count(*) AS BIGINT) AS n_orders,
        |  CAST(min(price) AS DOUBLE) AS min_price,
        |  CAST(max(price) AS DOUBLE) AS max_price,
        |  CAST(sum(price) AS DOUBLE) AS total_price
        |FROM r GROUP BY 1 ORDER BY 1""".stripMargin,
      planNote = Some(
        "Exact global NTILE without a global sort: range repartition lays out the total (price, key) order, per-partition row numbers run under windowspecdefinition(__pid), and driver prefix offsets (one row per partition) broadcast back — the k-row rollup then reads the checkpointed ranked relation.")),
    // q178: cohort revenue matrix — one customer-keyed window, hash agg
    // straight to the months×months grid, integral month arithmetic
    spec("q178_cohort_revenue", ((s, d) =>
      Analytics.cohortRevenue(Tables.orders(s, d))),
      // q178: same integral month index, same per-customer min window,
      // exact-cents revenue through the decimal render
      """WITH o AS (SELECT o_custkey AS c,
        |    CAST(strftime(o_orderdate, '%Y') AS BIGINT) * 12
        |      + CAST(strftime(o_orderdate, '%m') AS BIGINT) - 1 AS mi,
        |    strftime(o_orderdate, '%Y-%m') AS ms,
        |    CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT) AS cents
        |  FROM orders),
        |w AS (SELECT c, mi, ms, cents,
        |    min(mi) OVER (PARTITION BY c) AS cmi,
        |    min(ms) OVER (PARTITION BY c) AS cms FROM o)
        |SELECT cms AS cohort_month, mi - cmi AS months_since,
        |  CAST(count(DISTINCT c) AS BIGINT) AS n_customers,
        |  CAST(count(*) AS BIGINT) AS n_orders,
        |  CAST(CAST(sum(cents) AS DECIMAL(38,2)) / 100 AS DOUBLE) AS revenue
        |FROM w GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin),
    // q179: new-vs-returning monthly split — acquisition vs retention
    // over the same customer-first-month window
    spec("q179_new_vs_returning", ((s, d) =>
      Analytics.newVsReturning(Tables.orders(s, d))),
      // q179: "new" = the order's month equals the customer's first
      // month, so the two distinct counts are disjoint by construction
      """WITH o AS (SELECT o_custkey AS c,
        |    strftime(o_orderdate, '%Y-%m') AS m,
        |    CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT) AS cents
        |  FROM orders),
        |w AS (SELECT c, m, cents,
        |    (m = min(m) OVER (PARTITION BY c)) AS isnew FROM o)
        |SELECT m AS month,
        |  CAST(count(DISTINCT CASE WHEN isnew THEN c END) AS BIGINT)
        |    AS new_customers,
        |  CAST(count(DISTINCT CASE WHEN NOT isnew THEN c END) AS BIGINT)
        |    AS returning_customers,
        |  CAST(CAST(sum(CASE WHEN isnew THEN cents ELSE 0 END)
        |    AS DECIMAL(38,2)) / 100 AS DOUBLE) AS new_revenue,
        |  CAST(CAST(sum(CASE WHEN NOT isnew THEN cents ELSE 0 END)
        |    AS DECIMAL(38,2)) / 100 AS DOUBLE) AS returning_revenue
        |FROM w GROUP BY 1 ORDER BY 1""".stripMargin),
    // q193: gap-filled daily order series — calendar spine from the
    // 1-row bounds agg, fact collapsed to day partials first
    spec("q193_daily_spine", ((s, d) =>
      Analytics.dailyOrderSpine(Tables.orders(s, d))),
      // q193: generate_series spine between the same 1-row bounds;
      // zero-fill via the same coalesce
      """WITH d AS (SELECT CAST(o_orderdate AS DATE) AS dd, count(*) AS n,
        |    sum(CAST(o_totalprice AS DECIMAL(18,2))) AS rev
        |  FROM orders GROUP BY 1),
        |b AS (SELECT min(dd) AS lo, max(dd) AS hi FROM d),
        |s AS (SELECT CAST(unnest(generate_series(lo, hi, INTERVAL 1 DAY))
        |    AS DATE) AS dd FROM b)
        |SELECT strftime(s.dd, '%Y-%m-%d') AS day,
        |  CAST(coalesce(d.n, 0) AS BIGINT) AS n_orders,
        |  CAST(coalesce(d.rev, 0) AS DOUBLE) AS revenue
        |FROM s LEFT JOIN d USING (dd) ORDER BY 1""".stripMargin,
      planNote = Some(
        "Gap-filled series: the fact collapses to the calendar-bounded day rollup once (checkpoint, read by the 1-row bounds agg AND the join), the spine explodes from sequence() over those bounds, and the zero-fill join moves calendar-sized frames only. At 100 TB the plan's cost is the one fact scan inside the day rollup; densification itself is free.")),
    // q208: weekday seasonality profile — epoch-day arithmetic (no
    // engine dayofweek convention), ppm shares vs the broadcast total
    spec("q208_weekday_profile", ((s, d) =>
      Analytics.weekdayProfile(Tables.orders(s, d))),
      // q208: epoch-day weekday (0 = Sunday) — no engine dayofweek enters;
      // cents are nonnegative so // is the floor division
      """WITH o AS (SELECT
        |    ((CAST(o_orderdate AS DATE) - DATE '1970-01-01') + 4) % 7 AS wd,
        |    CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT) AS cents
        |  FROM orders),
        |d AS (SELECT wd, count(*) AS n, sum(cents) AS c FROM o GROUP BY 1),
        |t AS (SELECT sum(c) AS tot FROM d)
        |SELECT CAST(wd AS BIGINT) AS weekday, CAST(n AS BIGINT) AS n_orders,
        |  CAST(CAST(c AS DECIMAL(38,2)) / 100 AS DOUBLE) AS revenue,
        |  CAST((CAST(c AS HUGEINT) * 1000000) // tot AS BIGINT)
        |    AS revenue_share_ppm
        |FROM d, t ORDER BY 1""".stripMargin),
    // q213: month-over-month revenue bridge — new/retained/churned
    // cents off the (customer, month) rollup self-join
    spec("q213_revenue_bridge", ((s, d) =>
      Analytics.revenueBridge(Tables.orders(s, d))),
      // q213: same (customer, month) cents rollup and month+1 shift;
      // observed-months clip keeps the phantom churn month out
      """WITH r AS (SELECT o_custkey AS c,
        |    year(o_orderdate) * 12 + month(o_orderdate) - 1 AS m,
        |    sum(CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT))
        |      AS cents
        |  FROM orders GROUP BY 1, 2),
        |p AS (SELECT c, m + 1 AS m, cents AS pcents FROM r),
        |j AS (SELECT coalesce(r.c, p.c) AS c, coalesce(r.m, p.m) AS m,
        |    r.cents, p.pcents
        |  FROM r FULL OUTER JOIN p ON r.c = p.c AND r.m = p.m),
        |mm AS (SELECT DISTINCT m FROM r)
        |SELECT CAST(j.m AS BIGINT) AS month_num,
        |  CAST(coalesce(sum(CASE WHEN pcents IS NULL THEN cents END), 0)
        |    AS BIGINT) AS new_cents,
        |  CAST(coalesce(sum(CASE WHEN pcents IS NOT NULL THEN cents END), 0)
        |    AS BIGINT) AS retained_cents,
        |  CAST(coalesce(sum(CASE WHEN cents IS NULL THEN pcents END), 0)
        |    AS BIGINT) AS churned_cents
        |FROM j JOIN mm ON j.m = mm.m GROUP BY 1 ORDER BY 1""".stripMargin),
    // q216: longest consecutive-month streak histogram — q154's
    // gaps-and-islands at month grain over orders
    spec("q216_month_streaks", ((s, d) =>
      Analytics.monthStreakHistogram(Tables.orders(s, d))),
      // q216: gaps-and-islands at month grain (month - row_number is
      // constant within a run), best streak per customer, histogram
      """WITH d AS (SELECT DISTINCT o_custkey AS c,
        |    year(o_orderdate) * 12 + month(o_orderdate) - 1 AS m FROM orders),
        |i AS (SELECT c, m, m - row_number() OVER
        |    (PARTITION BY c ORDER BY m) AS isl FROM d),
        |s AS (SELECT c, count(*) AS len FROM i GROUP BY c, isl),
        |b AS (SELECT c, max(len) AS streak FROM s GROUP BY 1)
        |SELECT CAST(streak AS BIGINT) AS streak_months,
        |  CAST(count(*) AS BIGINT) AS n_customers
        |FROM b GROUP BY 1 ORDER BY 1""".stripMargin),
    // q224: customer recency histogram — days since last order vs the
    // corpus max, 30-day buckets, integral epoch days
    spec("q224_recency_histogram", ((s, d) =>
      Analytics.recencyHistogram(Tables.orders(s, d))),
      // q224: integral epoch days; nonnegative recency so // floors
      """WITH c AS (SELECT o_custkey,
        |    max(CAST(o_orderdate AS DATE) - DATE '1970-01-01') AS last
        |  FROM orders GROUP BY 1),
        |m AS (SELECT max(last) AS mx FROM c)
        |SELECT CAST((mx - last) // 30 AS BIGINT) AS recency_bucket,
        |  CAST(((mx - last) // 30) * 30 AS BIGINT) AS lo_day,
        |  CAST(count(*) AS BIGINT) AS n_customers
        |FROM c, m GROUP BY 1, 2 ORDER BY 1""".stripMargin),
    // q225: repurchase-gap survival CDF — share of between-active-day
    // gaps closing within each horizon, off one (gap, count) rollup
    spec("q225_repurchase_survival", ((s, d) =>
      Analytics.repurchaseSurvival(Tables.orders(s, d))),
      // q225: distinct active days per customer; DuckDB // floors
      """WITH d AS (SELECT DISTINCT o_custkey AS c,
        |    CAST(o_orderdate AS DATE) - DATE '1970-01-01' AS d FROM orders),
        |g AS (SELECT d - lag(d) OVER (PARTITION BY c ORDER BY d) AS gap
        |  FROM d),
        |gc AS (SELECT gap, count(*) AS n FROM g WHERE gap IS NOT NULL
        |  GROUP BY 1),
        |t AS (SELECT sum(n) AS tot FROM gc),
        |h AS (SELECT unnest([7, 14, 30, 60, 90, 180]) AS horizon_days)
        |SELECT CAST(horizon_days AS BIGINT) AS horizon_days,
        |  CAST(tot AS BIGINT) AS n_gaps,
        |  CAST(coalesce(sum(CASE WHEN gap <= horizon_days THEN n END), 0)
        |    AS BIGINT) AS n_gaps_le,
        |  CAST((coalesce(sum(CASE WHEN gap <= horizon_days THEN n END), 0)
        |    * 1000000) // tot AS BIGINT) AS cum_ppm
        |FROM h, gc, t GROUP BY 1, tot ORDER BY 1""".stripMargin),
    // q234: seasonal-naive forecast backtest — lag-7 alignment on the
    // checkpointed day panel, WMAPE in exact floored ppm
    spec("q234_seasonal_backtest", ((s, d) =>
      Analytics.seasonalNaiveBacktest(Tables.orders(s, d))),
      // q234: exact-cents day panel self-aligned at lag 7; WMAPE =
      // ratio-of-sums floored ppm; errs nonneg so // floors
      """WITH p AS (SELECT CAST(o_orderdate AS DATE) - DATE '1970-01-01'
        |      AS d,
        |    CAST(sum(CAST(o_totalprice AS DECIMAL(18,2)) * 100)
        |      AS BIGINT) AS a
        |  FROM orders GROUP BY 1),
        |j AS (SELECT act.d, act.a, abs(act.a - f.a) AS err
        |  FROM p act JOIN p f ON act.d = f.d + 7)
        |SELECT strftime(make_timestamp(d * 86400000000), '%Y-%m')
        |    AS month,
        |  CAST(count(*) AS BIGINT) AS n_days,
        |  CAST(sum(err) // count(*) AS BIGINT) AS mae_cents,
        |  CASE WHEN sum(a) = 0 THEN NULL
        |    ELSE CAST((sum(err) * 1000000) // sum(a) AS BIGINT) END
        |    AS wmape_ppm
        |FROM j GROUP BY 1 ORDER BY 1""".stripMargin),
    // q237: lag-k autocorrelation of daily revenue — q228's signed-r²
    // algebra against the series' own shift, zeros via edge-trimmed
    // conditional moments
    spec("q237_revenue_acf", ((s, d) =>
      Analytics.revenueAutocorrelation(Tables.orders(s, d),
        lags = Seq(1, 7, 30))),
      // q237: q228's signed-r² floor sequence; edge-trimmed HUGEINT
      // moments, shifted equi-join for sxy
      """WITH p AS (SELECT CAST(o_orderdate AS DATE) - DATE '1970-01-01'
        |      AS d,
        |    CAST(sum(CAST(o_totalprice AS DECIMAL(18,2)) * 100)
        |      AS BIGINT) AS x
        |  FROM orders GROUP BY 1),
        |b AS (SELECT min(d) AS lo, max(d) AS hi FROM p),
        |l AS (SELECT unnest([1, 7, 30]) AS lag),
        |m AS (SELECT lag, max(hi - lo + 1 - lag) AS n,
        |    sum(CASE WHEN d >= lo + lag THEN x ELSE 0 END) AS xs,
        |    sum(CASE WHEN d >= lo + lag THEN CAST(x AS HUGEINT) * x
        |      ELSE 0 END) AS xss,
        |    sum(CASE WHEN d <= hi - lag THEN x ELSE 0 END) AS ys,
        |    sum(CASE WHEN d <= hi - lag THEN CAST(x AS HUGEINT) * x
        |      ELSE 0 END) AS yss
        |  FROM p CROSS JOIN b CROSS JOIN l GROUP BY 1),
        |s AS (SELECT l.lag, sum(CAST(a.x AS HUGEINT) * y.x) AS sxy
        |  FROM p a CROSS JOIN l JOIN p y ON a.d = y.d + l.lag
        |  GROUP BY 1),
        |f AS (SELECT m.lag, n,
        |    CAST(n AS HUGEINT) * coalesce(sxy, 0)
        |      - CAST(xs AS HUGEINT) * ys AS num,
        |    CAST(n AS HUGEINT) * xss - CAST(xs AS HUGEINT) * xs AS dena,
        |    CAST(n AS HUGEINT) * yss - CAST(ys AS HUGEINT) * ys AS denb
        |  FROM m LEFT JOIN s ON s.lag = m.lag WHERE n >= 1)
        |SELECT CAST(lag AS BIGINT) AS lag, CAST(n AS BIGINT) AS n_days,
        |  CASE WHEN dena = 0 OR denb = 0 THEN NULL
        |    ELSE CAST((CASE WHEN num > 0 THEN 1 WHEN num < 0 THEN -1
        |        ELSE 0 END)
        |      * ((((abs(num) * 1000000) // dena)
        |        * ((abs(num) * 1000000) // denb)) // 1000000)
        |      AS BIGINT) END AS r2_signed_ppm
        |FROM f ORDER BY 1""".stripMargin),
    // q238: per-customer spend-trend census — OLS slope SIGN from 5
    // exact accumulators in one hash agg, no window, no division
    spec("q238_trend_census", ((s, d) =>
      Analytics.customerTrendCensus(Tables.orders(s, d),
        Tables.customer(s, d))),
      // q238: slope-sign classes from the same 5 HUGEINT accumulators
      """WITH p AS (SELECT o_custkey AS c, count(*) AS n,
        |    sum(CAST(CAST(o_orderdate AS DATE) - DATE '1970-01-01'
        |      AS HUGEINT)) AS st,
        |    sum(CAST(CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100
        |      AS BIGINT) AS HUGEINT)) AS sy,
        |    sum(CAST(CAST(o_orderdate AS DATE) - DATE '1970-01-01'
        |        AS HUGEINT)
        |      * CAST(CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100
        |        AS BIGINT) AS HUGEINT)) AS sty,
        |    sum(CAST(CAST(o_orderdate AS DATE) - DATE '1970-01-01'
        |        AS HUGEINT)
        |      * (CAST(o_orderdate AS DATE) - DATE '1970-01-01')) AS stt
        |  FROM orders GROUP BY 1),
        |t AS (SELECT c,
        |    CASE WHEN n = 1 THEN 'single'
        |      WHEN n * stt - st * st = 0 OR n * sty - st * sy = 0
        |        THEN 'flat'
        |      WHEN n * sty - st * sy > 0 THEN 'improving'
        |      ELSE 'declining' END AS trend
        |  FROM p)
        |SELECT c_mktsegment AS segment, trend,
        |  CAST(count(*) AS BIGINT) AS n_customers
        |FROM t JOIN customer ON c = c_custkey
        |GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin),
  )
}
