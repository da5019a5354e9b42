package graft
package registry

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType

import graft.analytics.Analytics
import graft.analytics.Analytics.{dsum, davg}

/** Analytics over TPC-H line items (SURVEY §2.5 aggregations, §3.3
  * analytics): pricing, revenue, supplier and part rollups that read
  * `lineitem`, alone or joined to its dimensions. */
object AnalyticsLineitemQueries extends QueryFamily("analytics") {

  private[graft] def q1(s: SparkSession, dir: String): DataFrame =
    Tables.lineitem(s, dir)
      .groupBy(col("l_returnflag"), col("l_linestatus"))
      .agg(
        dsum(col("l_quantity")).as("sum_qty"),
        dsum(col("l_extendedprice")).as("sum_base_price"),
        sum((col("l_extendedprice") * (lit(1.0) - col("l_discount")))
          .cast(DecimalType(18, 6))).cast("double").as("sum_disc_price"),
        sum((col("l_extendedprice") * (lit(1.0) - col("l_discount")) * (lit(1.0) + col("l_tax")))
          .cast(DecimalType(18, 6))).cast("double").as("sum_charge"),
        davg(col("l_quantity")).as("avg_qty"),
        davg(col("l_extendedprice")).as("avg_price"),
        davg(col("l_discount"), 4).as("avg_disc"),
        count(lit(1)).as("count_order"))

  val specs: Seq[QuerySpec] = Seq(
    spec("q1_pricing_summary", ((s, d) => q1(s, d)),
      """SELECT l_returnflag, l_linestatus,
        | CAST(sum(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty,
        | CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_base_price,
        | CAST(sum(CAST(l_extendedprice * (1.0 - l_discount) AS DECIMAL(18,6))) AS DOUBLE) AS sum_disc_price,
        | CAST(sum(CAST(l_extendedprice * (1.0 - l_discount) * (1.0 + l_tax) AS DECIMAL(18,6))) AS DOUBLE) AS sum_charge,
        | CAST(sum(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) / count(*) AS avg_qty,
        | CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) / count(*) AS avg_price,
        | CAST(sum(CAST(l_discount AS DECIMAL(18,4))) AS DOUBLE) / count(*) AS avg_disc,
        | count(*) AS count_order
        |FROM lineitem GROUP BY l_returnflag, l_linestatus""".stripMargin,
      planNote = Some(
        "Vectorized parquet scan (Batched: true) reading ONLY the 6 needed columns; map-side partial_sum/partial_count before one hash-partition exchange. Decimal accumulators keep double sums exact and order-independent.")),
    spec("q3_product_inventory", ((s, d) =>
      Analytics.productInventoryStatus(Tables.part(s, d), Tables.lineitem(s, d))),
      """SELECT p_partkey, p_name, p_retailprice,
        | count(l_quantity) AS item_count,
        | coalesce(CAST(sum(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE), 0.0) AS total_quantity
        |FROM part LEFT JOIN lineitem ON p_partkey = l_partkey
        |GROUP BY 1, 2, 3""".stripMargin,
      planNote = Some(
        "Dim side (part) broadcast — the lineitem fact flows through without a shuffle; aggregation after the broadcast join is again partial→final.")),
    spec("q4_ref_integrity", ((s, d) =>
      Analytics.referentialIntegrity(Tables.orders(s, d), Tables.customer(s, d),
        Tables.lineitem(s, d))),
      """SELECT o_orderkey,
        | CASE WHEN c_custkey IS NULL THEN 'orphan' ELSE 'ok' END AS customer_link,
        | coalesce(item_count, 0) AS item_count
        |FROM orders
        |LEFT JOIN customer ON o_custkey = c_custkey
        |LEFT JOIN (SELECT l_orderkey, count(*) AS item_count FROM lineitem GROUP BY 1) li
        |  ON o_orderkey = li.l_orderkey""".stripMargin),
    // q91: revenue by nation (TPC-H Q5 shape) — the star-join rollup:
    // date-pruned orders, broadcast nation dim, decimal-exact revenue
    spec("q91_revenue_by_nation", ((s, d) =>
      Analytics.revenueByNation(Tables.customer(s, d), Tables.orders(s, d),
        Tables.lineitem(s, d), Tables.nation(s, d),
        "1996-01-01", "1997-01-01")),
      // q91: the same star join declaratively; revenue = decimal(18,6)
      // sum cast back (q1's parity rule)
      """SELECT n_name,
        | CAST(sum(CAST(l_extendedprice * (1.0 - l_discount) AS DECIMAL(18,6))) AS DOUBLE) AS revenue,
        | count(*) AS line_count
        |FROM lineitem
        |JOIN orders ON l_orderkey = o_orderkey
        |JOIN customer ON o_custkey = c_custkey
        |JOIN nation ON c_nationkey = n_nationkey
        |WHERE o_orderdate >= TIMESTAMP '1996-01-01' AND o_orderdate < TIMESTAMP '1997-01-01'
        |GROUP BY n_name ORDER BY revenue DESC, n_name""".stripMargin,
      planNote = Some(
        "The Q5-shaped star join: the date window prunes ORDERS at its scan (PushedFilters carries the timestamp bounds), the 25-row nation dim is an explicit broadcast, customer joins declaratively, and revenue accumulates as exact decimal(18,6) — identical totals at any partition count, which is what lets a float-heavy join rollup hash-match an oracle at all.")),
    // q92: top suppliers by shipped revenue (TPC-H Q15 shape) — the
    // fact pre-aggregates BEFORE the dim join; top-k rides
    // TakeOrderedAndProject
    spec("q92_top_suppliers", ((s, d) =>
      Analytics.topSuppliersByRevenue(Tables.supplier(s, d),
        Tables.lineitem(s, d), "1996-01-01", "1996-04-01", k = 10)),
      // q92: pre-aggregated supplier revenue + dim join + top-10
      """WITH rev AS (SELECT l_suppkey,
        |   CAST(sum(CAST(l_extendedprice * (1.0 - l_discount) AS DECIMAL(18,6))) AS DOUBLE) AS total_revenue
        | FROM lineitem
        | WHERE l_shipdate >= TIMESTAMP '1996-01-01' AND l_shipdate < TIMESTAMP '1996-04-01'
        | GROUP BY 1)
        |SELECT s_suppkey, s_name, total_revenue
        |FROM rev JOIN supplier ON l_suppkey = s_suppkey
        |ORDER BY total_revenue DESC, s_suppkey LIMIT 10""".stripMargin,
      planNote = Some(
        "The Q15 shape with the aggregate pushed BELOW the join: lineitem pre-aggregates per supplier (map-side partials behind the shipdate-pruned scan), so the supplier dim join sees a suppliers-sized input instead of the fact table, and the top-10 is TakeOrderedAndProject — no global sort, no fact-sized join.")),
    // q96: shipping priority (TPC-H Q3 shape) — both fact scans
    // date-pruned, segment slice as a semi-join, decimal revenue,
    // TakeOrderedAndProject top-k
    spec("q96_shipping_priority", ((s, d) =>
      Analytics.shippingPriority(Tables.customer(s, d), Tables.orders(s, d),
        Tables.lineitem(s, d), "BUILDING", "1996-06-01", k = 10)),
      // q96: Q3 shape — same pruned scans, segment IN-subquery for the
      // semi-join, decimal revenue, l_orderkey tiebreak into the limit
      """WITH o AS (SELECT o_orderkey, o_custkey, o_orderdate, o_orderpriority
        |  FROM orders WHERE o_orderdate < TIMESTAMP '1996-06-01'),
        |l AS (SELECT l_orderkey, l_extendedprice, l_discount
        |  FROM lineitem WHERE l_shipdate > TIMESTAMP '1996-06-01')
        |SELECT l_orderkey, strftime(o_orderdate, '%Y-%m-%d') AS order_date,
        |  o_orderpriority,
        |  CAST(sum(CAST(l_extendedprice * (1.0 - l_discount) AS DECIMAL(18,6))) AS DOUBLE) AS revenue
        |FROM l JOIN o ON l_orderkey = o_orderkey
        |WHERE o_custkey IN (SELECT c_custkey FROM customer WHERE c_mktsegment = 'BUILDING')
        |GROUP BY 1, 2, 3 ORDER BY revenue DESC, l_orderkey LIMIT 10""".stripMargin),
    // q97: returned-item customers (TPC-H Q10 shape) — flag+date-pruned
    // fact, per-customer pre-agg BEFORE the dim joins, broadcast nation
    spec("q97_returned_customers", ((s, d) =>
      Analytics.returnedItemCustomers(Tables.customer(s, d),
        Tables.orders(s, d), Tables.lineitem(s, d), Tables.nation(s, d),
        "1996-01-01", "1996-04-01", k = 20)),
      // q97: Q10 shape — flag+date-pruned fact, per-customer rollup, then
      // the customer/nation attributes
      """WITH o AS (SELECT o_orderkey, o_custkey FROM orders
        |  WHERE o_orderdate >= TIMESTAMP '1996-01-01' AND o_orderdate < TIMESTAMP '1996-04-01'),
        |rev AS (SELECT o_custkey,
        |   CAST(sum(CAST(l_extendedprice * (1.0 - l_discount) AS DECIMAL(18,6))) AS DOUBLE) AS revenue
        | FROM lineitem JOIN o ON l_orderkey = o_orderkey
        | WHERE l_returnflag = 'R' GROUP BY 1)
        |SELECT c_custkey, c_name, revenue, c_acctbal, n_name
        |FROM rev JOIN customer ON o_custkey = c_custkey
        |JOIN nation ON c_nationkey = n_nationkey
        |ORDER BY revenue DESC, c_custkey LIMIT 20""".stripMargin),
    // q101: priority counts of orders with a returned line (TPC-H Q4
    // shape) — EXISTS as a key-only LEFT SEMI join
    spec("q101_priority_returns", ((s, d) =>
      Analytics.priorityReturnCounts(Tables.orders(s, d),
        Tables.lineitem(s, d), "1996-01-01", "1996-07-01")),
      // q101: Q4 shape — EXISTS semi-join + priority rollup
      """SELECT o_orderpriority, count(*) AS n_orders
        |FROM orders
        |WHERE o_orderdate >= TIMESTAMP '1996-01-01' AND o_orderdate < TIMESTAMP '1996-07-01'
        |  AND EXISTS (SELECT 1 FROM lineitem
        |              WHERE l_orderkey = o_orderkey AND l_returnflag = 'R')
        |GROUP BY 1""".stripMargin),
    // q104: promo revenue share for one ship-month (TPC-H Q14 shape) —
    // broadcast part flag, two exact decimal sums, one final division
    spec("q104_promo_revenue", ((s, d) =>
      Analytics.promoRevenue(Tables.part(s, d), Tables.lineitem(s, d),
        "PROMO", "1996-03-01", "1996-04-01")),
      // q104: Q14 shape — month-pruned fact, promo flag from part, two
      // exact decimal sums, one final division
      """WITH l AS (SELECT l_partkey,
        |    CAST(l_extendedprice * (1.0 - l_discount) AS DECIMAL(18,6)) AS rev
        |  FROM lineitem WHERE l_shipdate >= TIMESTAMP '1996-03-01'
        |    AND l_shipdate < TIMESTAMP '1996-04-01'),
        |j AS (SELECT rev, (p_type = 'PROMO') AS promo
        |  FROM l JOIN part ON l_partkey = p_partkey),
        |s AS (SELECT sum(CASE WHEN promo THEN rev ELSE CAST(0 AS DECIMAL(18,6)) END) AS pr,
        |  sum(rev) AS tr FROM j)
        |SELECT CAST(pr AS DOUBLE) AS promo_revenue,
        |  CAST(tr AS DOUBLE) AS total_revenue,
        |  CAST(pr AS DOUBLE) * 100.0 / CAST(tr AS DOUBLE) AS promo_pct
        |FROM s""".stripMargin,
      planNote = Some(
        "The Q14 shape: the ship-month filter prunes the lineitem scan (PushedFilters carries both timestamp bounds), part projects to (key, is-promo flag) and BROADCASTS — the fact never shuffles — and the share is two exact decimal sums with ONE final IEEE division. At 100 TB this plan is a single scan-bound pass: no exchange touches fact rows.")),
    // q105: large-volume customers (TPC-H Q18 shape) — the HAVING
    // rollup runs on the fact FIRST; joins are qualifying-orders-sized
    spec("q105_large_volume_customers", ((s, d) =>
      Analytics.largeVolumeCustomers(Tables.customer(s, d),
        Tables.orders(s, d), Tables.lineitem(s, d), 250.0, k = 20)),
      // q105: Q18 shape — HAVING rollup on the fact first, then the
      // order/customer attributes, quantity tiebreak into the limit
      """WITH q AS (SELECT l_orderkey, sum(CAST(l_quantity AS DECIMAL(18,2))) AS tq
        |  FROM lineitem GROUP BY 1
        |  HAVING sum(CAST(l_quantity AS DECIMAL(18,2))) > 250)
        |SELECT c_custkey, c_name, o_orderkey,
        |  strftime(o_orderdate, '%Y-%m-%d') AS order_date, o_totalprice,
        |  CAST(tq AS DOUBLE) AS total_quantity
        |FROM q JOIN orders ON l_orderkey = o_orderkey
        |JOIN customer ON o_custkey = c_custkey
        |ORDER BY total_quantity DESC, o_orderkey LIMIT 20""".stripMargin),
    // q107: small-quantity-order revenue for one brand (TPC-H Q17
    // shape) — the correlated scalar subquery as a per-part rollup +
    // cross-multiplied exact-decimal threshold
    spec("q107_small_quantity_revenue", ((s, d) =>
      Analytics.smallQuantityRevenue(Tables.part(s, d),
        Tables.lineitem(s, d), "Brand#4")),
      // q107: Q17 shape — per-part rollup replaces the correlated scalar
      // subquery; the threshold cross-multiplies (5·qty·n < Σqty) so no
      // float average exists in either engine
      """WITH l AS (SELECT l_partkey, l_quantity, l_extendedprice FROM lineitem
        |  WHERE l_partkey IN (SELECT p_partkey FROM part WHERE p_brand = 'Brand#4')),
        |st AS (SELECT l_partkey AS pk, sum(CAST(l_quantity AS DECIMAL(18,2))) AS qsum,
        |    count(*) AS n FROM l GROUP BY 1)
        |SELECT CAST(coalesce(sum(CAST(l_extendedprice AS DECIMAL(18,2))),
        |    CAST(0 AS DECIMAL(18,2))) AS DOUBLE) / 7.0 AS avg_weekly_revenue
        |FROM l JOIN st ON l_partkey = pk
        |WHERE CAST(l_quantity AS DECIMAL(18,2)) * 5 * n < qsum""".stripMargin),
    // q111: bilateral shipping volume by year (TPC-H Q7 shape) — both
    // nation slices broadcast onto the dims; ship-date window prunes
    // the fact scan; the pair filter runs BEFORE the aggregate
    spec("q111_volume_shipping", ((s, d) =>
      Analytics.volumeShipping(Tables.supplier(s, d), Tables.lineitem(s, d),
        Tables.orders(s, d), Tables.customer(s, d), Tables.nation(s, d),
        "NATION_1", "NATION_2", "1995-01-01", "1998-01-01")),
      // q111: Q7 shape — both nation legs from one 2-row slice, the
      // bilateral pair disjunction, ship-year extraction, decimal revenue
      """WITH n AS (SELECT n_nationkey, n_name FROM nation
        |  WHERE n_name IN ('NATION_1', 'NATION_2'))
        |SELECT ns.n_name AS supp_nation, nc.n_name AS cust_nation,
        |  CAST(year(l_shipdate) AS INTEGER) AS l_year,
        |  CAST(sum(CAST(l_extendedprice * (1.0 - l_discount) AS DECIMAL(18,6))) AS DOUBLE) AS revenue
        |FROM lineitem
        |JOIN orders ON l_orderkey = o_orderkey
        |JOIN supplier ON l_suppkey = s_suppkey
        |JOIN customer ON o_custkey = c_custkey
        |JOIN n ns ON s_nationkey = ns.n_nationkey
        |JOIN n nc ON c_nationkey = nc.n_nationkey
        |WHERE l_shipdate >= TIMESTAMP '1995-01-01'
        |  AND l_shipdate < TIMESTAMP '1998-01-01'
        |  AND ((ns.n_name = 'NATION_1' AND nc.n_name = 'NATION_2')
        |    OR (ns.n_name = 'NATION_2' AND nc.n_name = 'NATION_1'))
        |GROUP BY 1, 2, 3 ORDER BY 1, 2, 3""".stripMargin),
    // q112: national market share within a region (TPC-H Q8 shape) —
    // conditional decimal sum inside ONE hash agg (no self-join), one
    // IEEE division per year
    spec("q112_market_share", ((s, d) =>
      Analytics.marketShare(Tables.part(s, d), Tables.supplier(s, d),
        Tables.lineitem(s, d), Tables.orders(s, d), Tables.customer(s, d),
        Tables.nation(s, d), Tables.region(s, d),
        "NATION_5", "AFRICA", "PROMO", "1995-01-01", "1998-01-01")),
      // q112: Q8 shape — the share as a conditional decimal sum over the
      // same rows as the total (one aggregate), ONE IEEE division
      """WITH rn AS (SELECT n_nationkey FROM nation
        |  JOIN region ON n_regionkey = r_regionkey WHERE r_name = 'AFRICA'),
        |l AS (SELECT year(o_orderdate) AS o_year,
        |    l_extendedprice * (1.0 - l_discount) AS vol,
        |    sn.n_name AS supp_nation
        |  FROM lineitem
        |  JOIN part ON l_partkey = p_partkey
        |  JOIN orders ON l_orderkey = o_orderkey
        |  JOIN customer ON o_custkey = c_custkey
        |  JOIN supplier ON l_suppkey = s_suppkey
        |  JOIN nation sn ON s_nationkey = sn.n_nationkey
        |  WHERE p_type = 'PROMO'
        |    AND c_nationkey IN (SELECT n_nationkey FROM rn)
        |    AND o_orderdate >= TIMESTAMP '1995-01-01'
        |    AND o_orderdate < TIMESTAMP '1998-01-01')
        |SELECT CAST(o_year AS INTEGER) AS o_year,
        |  CAST(sum(CASE WHEN supp_nation = 'NATION_5'
        |      THEN CAST(vol AS DECIMAL(18,6))
        |      ELSE CAST(0.0 AS DECIMAL(18,6)) END) AS DOUBLE)
        |  / CAST(sum(CAST(vol AS DECIMAL(18,6))) AS DOUBLE) AS mkt_share
        |FROM l GROUP BY 1 ORDER BY 1""".stripMargin),
    // q113: product-line revenue by supplier nation and year (TPC-H Q9
    // shape minus the partsupp leg this schema doesn't carry)
    spec("q113_product_revenue", ((s, d) =>
      Analytics.productRevenueByNation(Tables.part(s, d),
        Tables.supplier(s, d), Tables.lineitem(s, d), Tables.orders(s, d),
        Tables.nation(s, d), "ring")),
      // q113: Q9 shape (no partsupp leg in this schema) — name-contains
      // part slice, supplier nation, order year, decimal revenue
      """SELECT n_name AS nation, CAST(year(o_orderdate) AS INTEGER) AS o_year,
        |  CAST(sum(CAST(l_extendedprice * (1.0 - l_discount) AS DECIMAL(18,6))) AS DOUBLE) AS sum_profit
        |FROM lineitem
        |JOIN part ON l_partkey = p_partkey
        |JOIN supplier ON l_suppkey = s_suppkey
        |JOIN nation ON s_nationkey = n_nationkey
        |JOIN orders ON l_orderkey = o_orderkey
        |WHERE contains(p_name, 'ring')
        |GROUP BY 1, 2 ORDER BY nation, o_year DESC""".stripMargin),
    // q114: disjunctive bracket revenue (TPC-H Q19 shape) — Catalyst
    // extracts the common bounds of the OR'd brackets into both scans
    spec("q114_bracket_revenue", ((s, d) =>
      Analytics.bracketRevenue(Tables.part(s, d), Tables.lineitem(s, d),
        Seq(("Brand#4", 1, 15, 1.0, 20.0), ("Brand#2", 10, 30, 5.0, 30.0),
          ("Brand#19", 20, 50, 10.0, 40.0)))),
      // q114: Q19 shape — the OR'd (brand, size, quantity) brackets,
      // coalesced to 0 when nothing qualifies
      """SELECT COALESCE(CAST(sum(CAST(l_extendedprice * (1.0 - l_discount) AS DECIMAL(18,6))) AS DOUBLE), 0.0) AS revenue
        |FROM lineitem JOIN part ON l_partkey = p_partkey
        |WHERE (p_brand = 'Brand#4' AND p_size BETWEEN 1 AND 15
        |    AND l_quantity BETWEEN 1 AND 20)
        |  OR (p_brand = 'Brand#2' AND p_size BETWEEN 10 AND 30
        |    AND l_quantity BETWEEN 5 AND 30)
        |  OR (p_brand = 'Brand#19' AND p_size BETWEEN 20 AND 50
        |    AND l_quantity BETWEEN 10 AND 40)""".stripMargin),
    // q144: market-basket frequent pairs — "bought together" parts in
    // ≥2 orders, top-50; pair explode quadratic only in basket size
    spec("q144_frequent_pairs", ((s, d) =>
      Analytics.frequentItemPairs(Tables.lineitem(s, d), minSupport = 2L,
        k = 50)),
      // q144: same per-order distinct, same canonical a < b pairs, same
      // (support desc, pair) top-k cut
      """WITH i AS (SELECT DISTINCT l_orderkey AS o, l_partkey AS p
        |  FROM lineitem),
        |c AS (SELECT a.p AS part_a, b.p AS part_b, count(*) AS n_orders
        |  FROM i a JOIN i b ON a.o = b.o AND a.p < b.p GROUP BY 1, 2)
        |SELECT part_a, part_b, n_orders FROM c WHERE n_orders >= 2
        |ORDER BY n_orders DESC, part_a, part_b LIMIT 50""".stripMargin),
    // q147: TPC-H Q6 — the single-scan promotion forecast; every
    // predicate pushes to the parquet scan, one 1-row hash agg
    spec("q147_forecast_revenue", ((s, d) =>
      Analytics.forecastRevenue(Tables.lineitem(s, d),
        "1996-01-01", "1997-01-01", 0.05, 24.0)),
      // q147: Q6 verbatim — discount band compared in DECIMAL(18,2)
      // (hundredths domain), revenue the exact-decimal dsum idiom
      """SELECT CAST(coalesce(sum(CAST(l_extendedprice * l_discount
        |    AS DECIMAL(18,6))), 0) AS DOUBLE) AS revenue
        |FROM lineitem
        |WHERE l_shipdate >= '1996-01-01' AND l_shipdate < '1997-01-01'
        |  AND CAST(l_discount AS DECIMAL(18,2)) BETWEEN 0.04 AND 0.06
        |  AND l_quantity < 24""".stripMargin),
    // q148: TPC-H Q19 shape — OR-of-ANDs revenue; brand+size part
    // slices broadcast, the disjunction's conjunctive quantity
    // envelope pushes to the fact scan
    spec("q148_disjunctive_revenue", ((s, d) =>
      Analytics.disjunctiveRevenue(Tables.part(s, d), Tables.lineitem(s, d),
        Seq(("Brand#1", 1, 10, 1.0, 20.0),
          ("Brand#2", 11, 25, 10.0, 30.0),
          ("Brand#3", 26, 50, 20.0, 40.0)))),
      // q148: the OR-of-ANDs stated directly — part slice union, then
      // the per-branch disjunction over the join
      """WITH p AS (SELECT p_partkey, p_brand, p_size FROM part
        |  WHERE (p_brand = 'Brand#1' AND p_size BETWEEN 1 AND 10)
        |     OR (p_brand = 'Brand#2' AND p_size BETWEEN 11 AND 25)
        |     OR (p_brand = 'Brand#3' AND p_size BETWEEN 26 AND 50))
        |SELECT CAST(coalesce(sum(CAST(l_extendedprice * (1.0 - l_discount)
        |    AS DECIMAL(18,6))), 0) AS DOUBLE) AS revenue
        |FROM lineitem JOIN p ON l_partkey = p_partkey
        |WHERE (p_brand = 'Brand#1' AND p_size BETWEEN 1 AND 10
        |    AND l_quantity BETWEEN 1 AND 20)
        |   OR (p_brand = 'Brand#2' AND p_size BETWEEN 11 AND 25
        |    AND l_quantity BETWEEN 10 AND 30)
        |   OR (p_brand = 'Brand#3' AND p_size BETWEEN 26 AND 50
        |    AND l_quantity BETWEEN 20 AND 40)""".stripMargin),
    // q149: TPC-H Q21 shape — sole-late-supplier counts via ONE
    // per-order rollup instead of correlated EXISTS/NOT-EXISTS joins
    spec("q149_waiting_suppliers", ((s, d) =>
      Analytics.waitingSuppliers(Tables.supplier(s, d), Tables.lineitem(s, d),
        Tables.orders(s, d), Tables.nation(s, d), "NATION_11", 60, 20)),
      // q149: Q21's exists/not-exists stated as the same per-order
      // rollup (ns/nl counts) the engine plans — late = SLA breach
      """WITH f AS (SELECT o_orderkey, o_orderdate FROM orders
        |  WHERE o_orderstatus = 'F'),
        |ps AS (SELECT l_orderkey, l_suppkey,
        |    max(CASE WHEN l_shipdate > o_orderdate + INTERVAL 60 DAY
        |      THEN 1 ELSE 0 END) AS late
        |  FROM lineitem JOIN f ON l_orderkey = o_orderkey GROUP BY 1, 2),
        |po AS (SELECT l_orderkey, count(*) AS ns, sum(late) AS nl
        |  FROM ps GROUP BY 1),
        |sn AS (SELECT s_suppkey, s_name FROM supplier
        |  JOIN nation ON s_nationkey = n_nationkey
        |  WHERE n_name = 'NATION_11')
        |SELECT s_name, CAST(count(*) AS BIGINT) AS numwait
        |FROM ps JOIN po USING (l_orderkey) JOIN sn ON l_suppkey = s_suppkey
        |WHERE late = 1 AND ns > 1 AND nl = 1
        |GROUP BY 1 ORDER BY numwait DESC, s_name LIMIT 20""".stripMargin),
    // q150: association rules over basket pairs — confidence/lift in
    // exact integer ppm (decimal floor-div, overflow-proof past 2^63)
    spec("q150_association_rules", ((s, d) =>
      Analytics.associationRules(Tables.lineitem(s, d), 3L, 50)),
      // q150: confidence/lift in integer ppm — HUGEINT products, //
      // floor division (all operands positive; matches the engine's
      // subtract-nonnegative-remainder decimal floor-div)
      """WITH b AS (SELECT DISTINCT l_orderkey AS o, l_partkey AS p
        |  FROM lineitem),
        |t AS (SELECT count(DISTINCT o) AS nb FROM b),
        |i AS (SELECT p, count(*) AS ni FROM b GROUP BY 1),
        |pr AS (SELECT a.p AS pa, c.p AS pb, count(*) AS n_both
        |  FROM b a JOIN b c ON a.o = c.o AND a.p < c.p
        |  GROUP BY 1, 2 HAVING count(*) >= 3),
        |d AS (SELECT pa AS antecedent, pb AS consequent, n_both FROM pr
        |  UNION ALL SELECT pb, pa, n_both FROM pr)
        |SELECT antecedent, consequent, n_both,
        |  CAST((CAST(n_both AS HUGEINT) * 1000000) // ia.ni
        |    AS BIGINT) AS confidence_ppm,
        |  CAST((CAST(n_both AS HUGEINT) * nb * 1000000)
        |    // (CAST(ia.ni AS HUGEINT) * ic.ni) AS BIGINT) AS lift_ppm
        |FROM d JOIN i ia ON antecedent = ia.p
        |JOIN i ic ON consequent = ic.p CROSS JOIN t
        |ORDER BY confidence_ppm DESC, antecedent, consequent
        |LIMIT 50""".stripMargin),
    // q151: GROUP BY ROLLUP — 3 grouping sets in ONE Expand+agg pass
    spec("q151_revenue_rollup", ((s, d) =>
      Analytics.revenueRollup(Tables.lineitem(s, d))),
      // q151: GROUP BY ROLLUP with GROUPING() levels; rollup NULLs
      // rendered 'ALL' (keys non-null by construction)
      """WITH l AS (SELECT CAST(year(l_shipdate) AS VARCHAR) AS y,
        |    l_returnflag AS f,
        |    CAST(l_extendedprice * (1.0 - l_discount) AS DECIMAL(18,6)) AS r
        |  FROM lineitem)
        |SELECT coalesce(y, 'ALL') AS ship_year,
        |  coalesce(f, 'ALL') AS return_flag,
        |  CAST(GROUPING(y) + GROUPING(f) AS BIGINT) AS level,
        |  CAST(count(*) AS BIGINT) AS n_items,
        |  CAST(sum(r) AS DOUBLE) AS revenue
        |FROM l GROUP BY ROLLUP(y, f)
        |ORDER BY level, ship_year, return_flag""".stripMargin),
    // q152: per-brand Pareto frontier — dominance from the bounded
    // (brand, price)-domain prefix-max window, never an O(N²) self-join
    spec("q152_brand_skyline", ((s, d) =>
      Analytics.brandSkyline(Tables.part(s, d))),
      // q152: dominance stated directly as NOT EXISTS (the oracle can
      // afford the quadratic form); prices compare in integer cents
      """WITH p AS (SELECT p_partkey, p_brand, p_name, p_retailprice,
        |    p_size,
        |    CAST(CAST(p_retailprice AS DECIMAL(18,2)) * 100 AS BIGINT) AS pc
        |  FROM part)
        |SELECT p_partkey, p_brand, p_name, p_retailprice, p_size
        |FROM p r
        |WHERE NOT EXISTS (SELECT 1 FROM p s WHERE s.p_brand = r.p_brand
        |  AND ((s.pc < r.pc AND s.p_size >= r.p_size)
        |    OR (s.pc = r.pc AND s.p_size > r.p_size)))
        |ORDER BY p_brand, p_retailprice, p_partkey""".stripMargin),
    // q158: triangle census of the co-purchase graph — degree-ordered
    // edge orientation bounds wedge work (hub-proof), support floor
    // bounds the edge set
    spec("q158_triangle_count", ((s, d) =>
      Analytics.coPurchaseTriangles(Tables.lineitem(s, d), minSupport = 2L)),
      // q158: triangles in plain a<b<c form (orientation-invariant count
      // — the engine's degree-ordered census totals the same set)
      """WITH b AS (SELECT DISTINCT l_orderkey AS o, l_partkey AS p
        |  FROM lineitem),
        |e AS (SELECT a.p AS x, c.p AS y FROM b a
        |  JOIN b c ON a.o = c.o AND a.p < c.p
        |  GROUP BY 1, 2 HAVING count(*) >= 2),
        |v AS (SELECT CAST(count(DISTINCT q) AS BIGINT) AS n_nodes
        |  FROM (SELECT x AS q FROM e UNION ALL SELECT y FROM e)),
        |ec AS (SELECT CAST(count(*) AS BIGINT) AS n_edges FROM e),
        |t AS (SELECT CAST(count(*) AS BIGINT) AS n_triangles
        |  FROM e e1 JOIN e e2 ON e2.x = e1.y
        |  JOIN e e3 ON e3.x = e1.x AND e3.y = e2.y)
        |SELECT n_nodes, n_edges, n_triangles FROM v, ec, t""".stripMargin,
      planNote = Some(
        "Degree-ordered triangle census: edges and the oriented relation are checkpointed tables (the plan reads ExistingRDD, never re-scanning the fact); wedge generation is an equi-self-join on the shared source vertex with per-vertex work bounded by the oriented out-degree (hub-proof), and closure is one LeftSemi probe against the edge set — no cartesian anywhere.")),
    // q159: Pareto/ABC revenue classes — rank + running share over the
    // part rollup via range-repartition + driver prefix offsets
    spec("q159_pareto_classes", ((s, d) =>
      Analytics.paretoClasses(Tables.lineitem(s, d))),
      // q159: rank + running share stated as the single ordered window
      // the engine decomposes; class cut in HUGEINT cross-multiplication
      """WITH pp AS (SELECT l_partkey,
        |    CAST(sum(CAST(l_extendedprice * (1.0 - l_discount)
        |      AS DECIMAL(18,6))) * 1000000 AS BIGINT) AS revenue_fp
        |  FROM lineitem GROUP BY 1),
        |t AS (SELECT CAST(sum(revenue_fp) AS BIGINT) AS tot FROM pp),
        |r AS (SELECT l_partkey, revenue_fp,
        |    CAST(row_number() OVER (ORDER BY revenue_fp DESC, l_partkey)
        |      AS BIGINT) AS revenue_rank,
        |    CAST(sum(revenue_fp) OVER (ORDER BY revenue_fp DESC,
        |      l_partkey ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cum_fp
        |  FROM pp)
        |SELECT l_partkey, revenue_fp, revenue_rank, cum_fp,
        |  CASE WHEN CAST(cum_fp AS HUGEINT) * 100 <=
        |      CAST(tot AS HUGEINT) * 80 THEN 'A'
        |    WHEN CAST(cum_fp AS HUGEINT) * 100 <=
        |      CAST(tot AS HUGEINT) * 95 THEN 'B'
        |    ELSE 'C' END AS abc_class
        |FROM r, t ORDER BY revenue_rank""".stripMargin),
    // q164: join-key skew profile on the supplier key — the salting
    // pre-flight report
    spec("q164_key_skew", ((s, d) =>
      Analytics.keySkewProfile(Tables.lineitem(s, d), "l_suppkey", k = 20)),
      // q164: per-key counts + two broadcast marginals, HUGEINT ppm
      """WITH c AS (SELECT l_suppkey, CAST(count(*) AS BIGINT) AS cnt
        |  FROM lineitem GROUP BY 1),
        |t AS (SELECT CAST(sum(cnt) AS BIGINT) AS rows_,
        |    CAST(count(*) AS BIGINT) AS keys_ FROM c)
        |SELECT l_suppkey, cnt,
        |  CAST((CAST(cnt AS HUGEINT) * 1000000) // rows_
        |    AS BIGINT) AS share_ppm,
        |  CAST((CAST(cnt AS HUGEINT) * keys_ * 1000000) // rows_
        |    AS BIGINT) AS skew_vs_mean_ppm
        |FROM c CROSS JOIN t
        |ORDER BY cnt DESC, l_suppkey LIMIT 20""".stripMargin),
    // q166: min-cost regional supplier (TPC-H Q2 shape) — one fact
    // pass to per-(part,supp) min cost, argmin as a struct min, dims
    // broadcast; the correlated min subquery never re-scans the fact
    spec("q166_min_cost_supplier", ((s, d) =>
      Analytics.minCostSupplier(Tables.part(s, d), Tables.supplier(s, d),
        Tables.nation(s, d), Tables.region(s, d), Tables.lineitem(s, d),
        regionName = "EUROPE", size = 15, partType = "STANDARD")),
      // q166: the oracle states Q2's correlated min directly — per-part
      // row_number over (cost, suppkey) replays the argmin struct; min
      // of doubles is exact in both engines
      """WITH scope AS (
        |  SELECT s_suppkey, s_name, s_acctbal, n_name
        |  FROM supplier JOIN nation ON s_nationkey = n_nationkey
        |  JOIN region ON n_regionkey = r_regionkey
        |  WHERE r_name = 'EUROPE'),
        |parts AS (SELECT p_partkey, p_name, p_brand FROM part
        |  WHERE p_size = 15 AND p_type = 'STANDARD'),
        |costs AS (
        |  SELECT l_partkey, l_suppkey, min(l_extendedprice) AS min_cost
        |  FROM lineitem GROUP BY 1, 2),
        |best AS (
        |  SELECT p_partkey, p_name, p_brand, min_cost, l_suppkey,
        |    row_number() OVER (PARTITION BY p_partkey
        |      ORDER BY min_cost, l_suppkey) AS rn
        |  FROM costs JOIN parts ON l_partkey = p_partkey
        |  WHERE l_suppkey IN (SELECT s_suppkey FROM scope))
        |SELECT s_acctbal, s_name, n_name, p_partkey, p_name, p_brand,
        |  min_cost
        |FROM best JOIN scope ON l_suppkey = s_suppkey
        |WHERE rn = 1
        |ORDER BY s_acctbal DESC, n_name, s_name, p_partkey""".stripMargin),
    // q167: supplier count per product class (TPC-H Q16 shape) —
    // distinct (part,supp) pairs first, deficit suppliers anti-joined
    // broadcast, class exclusions pushed to the dim scan
    spec("q167_supplier_class_count", ((s, d) =>
      Analytics.supplierClassCount(Tables.part(s, d), Tables.supplier(s, d),
        Tables.lineitem(s, d), excludeBrand = "Brand#13",
        excludeTypePrefix = "PROMO", sizes = Seq(1, 5, 10, 15, 20, 25, 30, 35))),
      // q167: distinct pairs then count distinct — integer counts, no
      // float anywhere; NOT IN is safe (s_suppkey is non-null)
      """SELECT p_brand, p_type, p_size,
        |  CAST(count(DISTINCT l_suppkey) AS BIGINT) AS supplier_cnt
        |FROM (SELECT DISTINCT l_partkey, l_suppkey FROM lineitem) li
        |JOIN part ON l_partkey = p_partkey
        |WHERE p_brand <> 'Brand#13' AND p_type NOT LIKE 'PROMO%'
        |  AND p_size IN (1,5,10,15,20,25,30,35)
        |  AND l_suppkey NOT IN
        |    (SELECT s_suppkey FROM supplier WHERE s_acctbal < 0)
        |GROUP BY 1,2,3
        |ORDER BY supplier_cnt DESC, p_brand, p_type, p_size""".stripMargin),
    // q168: dominant suppliers (TPC-H Q20 shape) — date-pruned fact
    // collapses to (part,supp) decimal qty once; per-part totals via a
    // window over the AGGREGATED relation; share test cross-multiplied
    spec("q168_dominant_suppliers", ((s, d) =>
      Analytics.dominantSuppliers(Tables.part(s, d), Tables.supplier(s, d),
        Tables.nation(s, d), Tables.lineitem(s, d), namePrefix = "red",
        fromDate = "1996-01-01", toDate = "1997-01-01",
        thresholdPpm = 500000L)),
      // q168: decimal quantity sums and a cross-multiplied share test —
      // exact on both engines; output columns are keys and strings only
      """WITH pq AS (
        |  SELECT l_partkey, l_suppkey,
        |    sum(CAST(l_quantity AS DECIMAL(38,2))) AS qty
        |  FROM lineitem
        |  WHERE l_shipdate >= '1996-01-01' AND l_shipdate < '1997-01-01'
        |    AND l_partkey IN
        |      (SELECT p_partkey FROM part WHERE p_name LIKE 'red%')
        |  GROUP BY 1,2),
        |wt AS (SELECT *, sum(qty) OVER (PARTITION BY l_partkey) AS tot
        |  FROM pq),
        |dom AS (SELECT DISTINCT l_suppkey FROM wt
        |  WHERE qty * 1000000 > tot * 500000)
        |SELECT s_suppkey, s_name, n_name
        |FROM supplier JOIN nation ON s_nationkey = n_nationkey
        |WHERE s_suppkey IN (SELECT l_suppkey FROM dom)
        |ORDER BY s_suppkey""".stripMargin),
    // q174: degree histogram of the co-purchase graph — shares q144/
    // q158's coPurchaseEdges pair self-join, output bounded by max
    // degree
    spec("q174_copurchase_degrees", ((s, d) =>
      Analytics.coPurchaseDegrees(Tables.lineitem(s, d), minSupport = 2L)),
      // q174: q144/q158's edge set (distinct baskets, canonical a < b
      // pairs, support >= 2), rolled to the per-part degree histogram
      """WITH b AS (SELECT DISTINCT l_orderkey AS o, l_partkey AS p
        |  FROM lineitem),
        |e AS (SELECT a.p AS x, c.p AS y FROM b a
        |  JOIN b c ON a.o = c.o AND a.p < c.p
        |  GROUP BY 1, 2 HAVING count(*) >= 2),
        |d AS (SELECT part, count(*) AS degree FROM
        |  (SELECT x AS part FROM e UNION ALL SELECT y FROM e) GROUP BY 1)
        |SELECT CAST(degree AS BIGINT) AS degree,
        |  CAST(count(*) AS BIGINT) AS n_parts
        |FROM d GROUP BY 1 ORDER BY 1""".stripMargin),
    // q176: supplier revenue concentration (HHI) per nation — fact
    // collapses to one row per supplier first, integer-ppm shares
    spec("q176_supplier_hhi", ((s, d) =>
      Analytics.supplierHhi(Tables.supplier(s, d), Tables.nation(s, d),
        Tables.lineitem(s, d))),
      // q176: same per-supplier exact-micros rollup, same floored ppm
      // shares against the nation total, HHI in HUGEINT cross-products
      """WITH ps AS (SELECT l_suppkey,
        |    sum(CAST(l_extendedprice * (1.0 - l_discount)
        |      AS DECIMAL(18,6))) AS rev
        |  FROM lineitem GROUP BY 1),
        |r AS (SELECT l_suppkey, rev,
        |  CAST(rev * 1000000 AS HUGEINT) AS rev_us FROM ps),
        |j AS (SELECT n_name, rev, rev_us,
        |    sum(rev_us) OVER (PARTITION BY n_name) AS tot
        |  FROM r JOIN supplier ON l_suppkey = s_suppkey
        |  JOIN nation ON s_nationkey = n_nationkey),
        |sh AS (SELECT n_name, rev,
        |  CAST((rev_us * 1000000) // tot AS BIGINT) AS share_ppm FROM j)
        |SELECT n_name, CAST(count(*) AS BIGINT) AS n_suppliers,
        |  CAST(sum(rev) AS DOUBLE) AS total_revenue,
        |  max(share_ppm) AS top_share_ppm,
        |  CAST(sum(CAST(share_ppm AS HUGEINT) * share_ppm) // 1000000
        |    AS BIGINT) AS hhi_ppm
        |FROM sh GROUP BY 1 ORDER BY 1""".stripMargin),
    // q181: important parts by value share (TPC-H Q11 shape) — ONE fact
    // collapse, 1-row total broadcast back, cross-multiplied HAVING
    spec("q181_important_parts", ((s, d) =>
      Analytics.importantParts(Tables.lineitem(s, d), Tables.supplier(s, d),
        Tables.nation(s, d), nationName = "NATION_3",
        meanMultiple = 3)),
      // q181: the scalar-total HAVING stated as the cross-multiplied
      // predicate over the same single per-part rollup, shares in
      // floored HUGEINT ppm
      """WITH sc AS (SELECT s_suppkey FROM supplier
        |  JOIN nation ON s_nationkey = n_nationkey
        |  WHERE n_name = 'NATION_3'),
        |p AS (SELECT l_partkey,
        |    sum(CAST(l_extendedprice * (1.0 - l_discount)
        |      AS DECIMAL(18,6))) AS v
        |  FROM lineitem WHERE l_suppkey IN (SELECT s_suppkey FROM sc)
        |  GROUP BY 1),
        |t AS (SELECT sum(v) AS tv, CAST(count(*) AS HUGEINT) AS n FROM p),
        |u AS (SELECT l_partkey, v,
        |    CAST(v * 1000000 AS HUGEINT) AS vus,
        |    CAST(tv * 1000000 AS HUGEINT) AS tus, n FROM p, t)
        |SELECT l_partkey, CAST(v AS DOUBLE) AS value,
        |  CAST((vus * 1000000) // tus AS BIGINT) AS share_ppm
        |FROM u WHERE vus * n > tus * 3
        |ORDER BY share_ppm DESC, l_partkey""".stripMargin,
      planNote = Some(
        "TPC-H Q11 shape: the fact collapses ONCE to per-part decimal value (nation scope via broadcast LeftSemi), the scalar HAVING total is a 1-row aggregate of that checkpointed rollup broadcast back, and the mean-multiple cut cross-multiplies decimals — no second fact pass, no division in the predicate.")),
    // q182: high-vs-low priority lines per return flag (TPC-H Q12
    // shape) — date window pushed to the scan, one fact⋈orders shuffle
    spec("q182_priority_by_flag", ((s, d) =>
      Analytics.priorityByFlag(Tables.orders(s, d), Tables.lineitem(s, d),
        fromDate = "1996-01-01", toDate = "1998-01-01")),
      // q182: the same CASE-sum pivot over the date-windowed join
      """SELECT l_returnflag,
        |  CAST(sum(CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH')
        |    THEN 1 ELSE 0 END) AS BIGINT) AS high_priority,
        |  CAST(sum(CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH')
        |    THEN 0 ELSE 1 END) AS BIGINT) AS low_priority
        |FROM lineitem JOIN orders ON l_orderkey = o_orderkey
        |WHERE l_shipdate >= TIMESTAMP '1996-01-01'
        |  AND l_shipdate < TIMESTAMP '1998-01-01'
        |GROUP BY 1 ORDER BY 1""".stripMargin),
    // q189: order-to-ship latency trend — monthly fulfilment-SLA
    // quantiles off the bounded (month, gap-days) histogram
    spec("q189_ship_latency", ((s, d) =>
      Analytics.shipLatency(Tables.orders(s, d), Tables.lineitem(s, d))),
      // q189: q173's histogram-quantile SQL keyed by order month over
      // the ship-minus-order day gap
      """WITH g AS (SELECT strftime(o_orderdate, '%Y-%m') AS month,
        |    (epoch_us(l_shipdate) - ((epoch_us(l_shipdate) % 86400000000
        |      + 86400000000) % 86400000000)) // 86400000000
        |    - (epoch_us(o_orderdate) - ((epoch_us(o_orderdate) % 86400000000
        |      + 86400000000) % 86400000000)) // 86400000000 AS gap
        |  FROM lineitem JOIN orders ON l_orderkey = o_orderkey),
        |h AS (SELECT month, gap, count(*) AS cnt FROM g GROUP BY 1, 2),
        |s AS (SELECT month, gap, cnt,
        |    sum(cnt) OVER (PARTITION BY month ORDER BY gap
        |      ROWS UNBOUNDED PRECEDING) AS cum,
        |    sum(cnt) OVER (PARTITION BY month) AS n,
        |    sum(CAST(gap AS HUGEINT) * cnt) OVER (PARTITION BY month) AS sm
        |  FROM h)
        |SELECT month, CAST(max(n) AS BIGINT) AS n_lines,
        |  CAST(max(sm) AS DOUBLE) / max(n) AS mean_days,
        |  min(CASE WHEN cum * 2 >= n THEN gap END) AS median_days,
        |  min(CASE WHEN cum * 10 >= n * 9 THEN gap END) AS p90_days
        |FROM s GROUP BY month ORDER BY month""".stripMargin),
    // q190: monthly returned-revenue rate — one scan, exact-micros
    // conditional sums, floored integer-ppm rate
    spec("q190_return_rate", ((s, d) =>
      Analytics.returnRate(Tables.lineitem(s, d))),
      // q190: same exact-micros conditional sums, HUGEINT floored ppm
      """WITH m AS (SELECT strftime(l_shipdate, '%Y-%m') AS month,
        |    sum(CAST(l_extendedprice * (1.0 - l_discount)
        |      AS DECIMAL(18,6))) AS tot,
        |    sum(CASE WHEN l_returnflag = 'R'
        |      THEN CAST(l_extendedprice * (1.0 - l_discount)
        |        AS DECIMAL(18,6))
        |      ELSE CAST(0 AS DECIMAL(18,6)) END) AS ret
        |  FROM lineitem GROUP BY 1)
        |SELECT month, CAST(tot AS DOUBLE) AS total_revenue,
        |  CAST(ret AS DOUBLE) AS returned_revenue,
        |  CASE WHEN tot = 0 THEN NULL ELSE
        |    CAST((CAST(ret * 1000000 AS HUGEINT) * 1000000)
        |      // CAST(tot * 1000000 AS HUGEINT) AS BIGINT) END
        |    AS return_rate_ppm
        |FROM m ORDER BY month""".stripMargin),
    // q194: brand-month VWAP — broadcast dim join, exact decimal sums,
    // one final IEEE division
    spec("q194_brand_vwap", ((s, d) =>
      Analytics.brandVwap(Tables.part(s, d), Tables.lineitem(s, d))),
      // q194: exact decimal sums, ONE final IEEE division (davg parity)
      """SELECT p_brand, strftime(l_shipdate, '%Y-%m') AS month,
        |  CAST(count(*) AS BIGINT) AS n_lines,
        |  CAST(sum(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE)
        |    AS total_qty,
        |  CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) /
        |    CAST(sum(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS vwap
        |FROM lineitem JOIN part ON l_partkey = p_partkey
        |GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin),
    // q199: top-3 parts per brand by exact revenue — the windowed
    // top-k-per-group shape over the AGGREGATED relation, never facts
    spec("q199_brand_top_parts", ((s, d) =>
      Analytics.brandTopParts(Tables.part(s, d), Tables.lineitem(s, d),
        k = 3)),
      // q199: same rank-on-aggregated-revenue with the part-key tiebreak
      """WITH r AS (SELECT l_partkey,
        |    sum(CAST(l_extendedprice AS DECIMAL(18,2))) AS rev
        |  FROM lineitem GROUP BY 1),
        |j AS (SELECT p_brand, l_partkey, rev,
        |    row_number() OVER (PARTITION BY p_brand
        |      ORDER BY rev DESC, l_partkey) AS rk
        |  FROM r JOIN part ON l_partkey = p_partkey)
        |SELECT p_brand, CAST(rk AS BIGINT) AS rk, l_partkey,
        |  CAST(rev AS DOUBLE) AS revenue
        |FROM j WHERE rk <= 3 ORDER BY 1, 2""".stripMargin,
      planNote = Some(
        "Top-k per group the cheap way round: the fact collapses to per-part revenue FIRST (partial-aggregated hash agg), the brand dim broadcasts onto that parts-sized rollup, and the rank window — with its PARTIAL WindowGroupLimit pruning map-side — never sees a fact row.")),
    // q202: quantity-weighted median price per return flag — exact
    // weighted quantile off the distributed prefix sum
    spec("q202_weighted_median", ((s, d) =>
      Analytics.weightedMedian(Tables.lineitem(s, d), "l_returnflag",
        "l_extendedprice", "l_quantity")),
      // q202: RANGE-frame cumulative (every tied value carries the
      // value-inclusive total) — provably the same lower-weighted-median
      // pick as the engine's row-frame prefix sum
      """WITH e AS (SELECT l_returnflag AS g, l_extendedprice AS v,
        |    CAST(l_quantity AS BIGINT) AS w FROM lineitem),
        |c AS (SELECT g, v, w,
        |    sum(w) OVER (PARTITION BY g ORDER BY v) AS cum,
        |    sum(w) OVER (PARTITION BY g) AS tot FROM e)
        |SELECT g AS l_returnflag, CAST(max(tot) AS BIGINT) AS total_weight,
        |  min(v) FILTER (WHERE cum * 2 >= tot) AS weighted_median
        |FROM c GROUP BY 1 ORDER BY 1""".stripMargin,
      planNote = Some(
        "Exact weighted quantiles: cumulative weights come from the range-repartition prefix-sum decomposition (per-partition windows + driver base offsets, never a single-partition ORDER BY), group start offsets and totals broadcast as k rows, and the pick (smallest value whose inclusive cumulative crosses half) is provably independent of order among equal values — no unique row id needed.")),
    // q203: per-vertex local clustering coefficient — triangles from
    // the shared degree-ordered wedge closure, exploded to vertices
    spec("q203_clustering_coeff", ((s, d) =>
      Analytics.coPurchaseClustering(Tables.lineitem(s, d),
        minSupport = 2L)),
      // q203: the q158 edge/triangle CTEs per vertex — each enumerated
      // triangle unnests to its 3 corners; cc in HUGEINT floor division
      // (nonnegative numerator, so plain // is floor)
      """WITH b AS (SELECT DISTINCT l_orderkey AS o, l_partkey AS p
        |  FROM lineitem),
        |e AS (SELECT a.p AS x, c.p AS y FROM b a
        |  JOIN b c ON a.o = c.o AND a.p < c.p
        |  GROUP BY 1, 2 HAVING count(*) >= 2),
        |deg AS (SELECT v, count(*) AS degree FROM
        |  (SELECT x AS v FROM e UNION ALL SELECT y FROM e) GROUP BY 1),
        |tv AS (SELECT unnest([e1.x, e1.y, e2.y]) AS v
        |  FROM e e1 JOIN e e2 ON e2.x = e1.y
        |  JOIN e e3 ON e3.x = e1.x AND e3.y = e2.y),
        |tc AS (SELECT v, count(*) AS t FROM tv GROUP BY 1)
        |SELECT deg.v AS l_partkey, CAST(degree AS BIGINT) AS degree,
        |  CAST(coalesce(t, 0) AS BIGINT) AS n_triangles,
        |  CAST((CAST(coalesce(t, 0) AS HUGEINT) * 2000000)
        |    // (CAST(degree AS HUGEINT) * (degree - 1)) AS BIGINT)
        |    AS clustering_ppm
        |FROM deg LEFT JOIN tc ON deg.v = tc.v
        |WHERE degree >= 2 ORDER BY 1""".stripMargin,
      planNote = Some(
        "Local clustering coefficient at triangle cost: the shared degree-ordered wedge closure enumerates each triangle once (checkpointed edge relations — the plan reads ExistingRDD), triangles explode to their 3 corners (3t rows, never degree² per vertex), and the coefficient is exact integer cross-multiplication over the degree table.")),
    // q205: header-vs-lines billing audit — exact-decimal recompute per
    // order, status-bounded reconciliation census
    spec("q205_order_price_audit", ((s, d) =>
      Analytics.orderPriceAudit(Tables.orders(s, d), Tables.lineitem(s, d))),
      // q205: the same exact-decimal recompute (2dp factors -> exact 6dp
      // product, no IEEE multiply); NULL diff (no lines) feeds neither
      // matched nor mismatched on either engine
      """WITH c AS (SELECT l_orderkey AS ok,
        |    sum(CAST(l_extendedprice AS DECIMAL(18,2))
        |      * (CAST(1 AS DECIMAL(4,2)) - CAST(l_discount AS DECIMAL(4,2)))
        |      * (CAST(1 AS DECIMAL(4,2)) + CAST(l_tax AS DECIMAL(4,2)))) AS comp
        |  FROM lineitem GROUP BY 1),
        |j AS (SELECT o.o_orderstatus AS st, c.comp,
        |    CAST((c.comp - CAST(o.o_totalprice AS DECIMAL(18,2))) * 1000000
        |      AS BIGINT) AS dm
        |  FROM orders o LEFT JOIN c ON o.o_orderkey = c.ok)
        |SELECT st AS o_orderstatus, CAST(count(*) AS BIGINT) AS n_orders,
        |  CAST(sum(CASE WHEN dm = 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_matched,
        |  CAST(sum(CASE WHEN dm <> 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_mismatched,
        |  CAST(sum(CASE WHEN comp IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_no_lines,
        |  CAST(coalesce(max(abs(dm)), 0) AS BIGINT) AS max_abs_diff_micros
        |FROM j GROUP BY 1 ORDER BY 1""".stripMargin,
      planNote = Some(
        "Cross-table billing audit with the fact collapsed FIRST: the per-order decimal recompute partial-aggregates map-side (2dp factors make the 6dp product exact — no IEEE multiply anywhere), then ONE order-key equi-join against the header (both sides order-sized — no broadcast pretense) and a status-vocabulary-bounded census.")),
    // q209: equi-width price histogram in exact cents — 1-row bounds
    // agg broadcast, bucket-bounded hash agg
    spec("q209_price_histogram", ((s, d) =>
      Analytics.priceHistogram(Tables.lineitem(s, d), buckets = 16)),
      // q209: same integer width/bucket arithmetic (16 buckets)
      """WITH c AS (SELECT CAST(CAST(l_extendedprice AS DECIMAL(18,2)) * 100
        |    AS BIGINT) AS c FROM lineitem),
        |b AS (SELECT min(c) AS lo, max(c) AS hi FROM c),
        |w AS (SELECT lo, greatest((hi - lo + 16) // 16, 1) AS w FROM b),
        |x AS (SELECT (c.c - w.lo) // w.w AS bucket, w.lo, w.w FROM c, w)
        |SELECT CAST(bucket AS BIGINT) AS bucket,
        |  CAST(min(lo + bucket * w) AS BIGINT) AS lo_cents,
        |  CAST(min(lo + (bucket + 1) * w - 1) AS BIGINT) AS hi_cents,
        |  CAST(count(*) AS BIGINT) AS n_lines
        |FROM x GROUP BY 1 ORDER BY 1""".stripMargin),
    // q222: basket-size distribution — two count rollups, no window
    spec("q222_basket_size_dist", ((s, d) =>
      Analytics.basketSizeHistogram(Tables.lineitem(s, d))),
      // q222: two count rollups
      """WITH b AS (SELECT l_orderkey, count(*) AS basket_size
        |  FROM lineitem GROUP BY 1)
        |SELECT CAST(basket_size AS BIGINT) AS basket_size,
        |  CAST(count(*) AS BIGINT) AS n_orders
        |FROM b GROUP BY 1 ORDER BY 1""".stripMargin),
    // q235: brand-pair co-purchase lift — q218's association stats at
    // basket/brand grain, distinct (order, brand) checkpointed once
    spec("q235_brand_pair_lift", ((s, d) =>
      Analytics.brandPairLift(Tables.part(s, d), Tables.lineitem(s, d))),
      // q235: distinct (order, brand) baskets; lift cross-multiplied
      """WITH ob AS (SELECT DISTINCT l_orderkey AS o, p_brand AS b
        |  FROM lineitem JOIN part ON l_partkey = p_partkey),
        |n AS (SELECT count(DISTINCT o) AS n FROM ob),
        |m AS (SELECT b, count(*) AS m FROM ob GROUP BY 1),
        |pr AS (SELECT a.b AS ba, x.b AS bb, count(*) AS nb
        |  FROM ob a JOIN ob x ON a.o = x.o AND a.b < x.b GROUP BY 1, 2)
        |SELECT ba AS brand_a, bb AS brand_b,
        |  CAST(nb AS BIGINT) AS n_both,
        |  CAST((nb * 1000000) // n AS BIGINT) AS support_ppm,
        |  CAST((CAST(nb AS HUGEINT) * n * 1000000)
        |    // (CAST(ma.m AS HUGEINT) * mb.m) AS BIGINT) AS lift_ppm
        |FROM pr JOIN m ma ON ma.b = pr.ba JOIN m mb ON mb.b = pr.bb
        |CROSS JOIN n ORDER BY 1, 2""".stripMargin),
    // q244: supplier fulfilment-SLA census — order-date attach, then
    // the fact collapses per supplier FIRST; nation dim broadcast
    spec("q244_late_delivery", ((s, d) =>
      Analytics.lateDeliveryCensus(Tables.lineitem(s, d),
        Tables.orders(s, d), Tables.supplier(s, d), Tables.nation(s, d))),
      // q244: integral ship-delay days vs a 60-day budget; the synthetic
      // data carries NEGATIVE delays, so the mean uses the
      // nonneg-remainder floor idiom (bare // truncates negatives)
      """WITH l AS (SELECT l_suppkey AS s,
        |    CAST(l_shipdate AS DATE) - CAST(o_orderdate AS DATE)
        |      AS delay
        |  FROM lineitem JOIN orders ON l_orderkey = o_orderkey),
        |p AS (SELECT s, count(*) AS n,
        |    sum(CASE WHEN delay > 60 THEN 1 ELSE 0 END) AS nl,
        |    sum(delay) AS d
        |  FROM l GROUP BY 1),
        |j AS (SELECT n_name AS nation, n, nl, d
        |  FROM p JOIN supplier ON s = s_suppkey
        |  JOIN nation ON s_nationkey = n_nationkey),
        |a AS (SELECT nation, sum(n) AS n, sum(nl) AS nl,
        |    sum(d) * 1000 AS dm FROM j GROUP BY 1)
        |SELECT nation, CAST(n AS BIGINT) AS n_lines,
        |  CAST(nl AS BIGINT) AS n_late,
        |  CAST((nl * 1000000) // n AS BIGINT) AS late_ppm,
        |  CAST((dm - ((dm % n + n) % n)) // n AS BIGINT)
        |    AS mean_delay_millidays
        |FROM a ORDER BY 1""".stripMargin),
  )
}
