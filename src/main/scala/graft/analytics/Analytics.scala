package graft.analytics

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType

import graft.functions.Exact._
import graft.util.GlobalRank.{withGlobalRank, withGlobalRankAndPrefix, withGroupLocalRank}

/** Warehouse-side analytics: the reference's materialized views and
  * validation suite re-expressed as DataFrame queries
  * (reference: `docker/postgres/init.sql:195-239,323-539`;
  * `tests/integration/fixtures/expected_results.sql:224-241`).
  *
  * Scale design notes:
  *   - Every aggregation here is a partial-aggregating hash agg (map-side
  *     combine before the shuffle) — the groupBy shapes carry only the
  *     group columns + accumulators across the wire.
  *   - The MV join (part ⟕ lineitem) joins a small dim to a huge fact:
  *     the dim side is broadcast, so the fact never shuffles.
  *   - Double sums are accumulated as exact decimals (order-independent)
  *     so results are reproducible across partitionings and engines —
  *     floating sums would vary with partition count at 100 TB.
  */
object Analytics {

  /** Sum a double column exactly: per-row cast to decimal (deterministic),
    * decimal accumulation (associative/exact), back to double. */
  def dsum(c: Column, scale: Int = 2): Column =
    sum(c.cast(DecimalType(18, scale))).cast("double")

  /** Deterministic average: exact decimal sum, one IEEE division. */
  def davg(c: Column, scale: Int = 2): Column =
    dsum(c, scale) / count(lit(1))

  /** Revenue by nation over a date window — the classic star-join
    * rollup (TPC-H Q5 shape) a warehouse user runs daily: lineitem ⋈
    * orders (date-pruned) ⋈ customer ⋈ nation. Plan discipline: the
    * date filter prunes ORDERS before any join; `nation` (25 rows) is
    * explicitly broadcast; customer joins declaratively (broadcast
    * while small, shuffle-on-key at warehouse scale); revenue sums in
    * exact decimal (6dp — the discount product has 6 significant
    * decimals) so the total is partition-count-independent. */
  def revenueByNation(customer: DataFrame, orders: DataFrame,
      lineitem: DataFrame, nation: DataFrame,
      fromDate: String, toDate: String): DataFrame = {
    val o = orders
      .filter(col("o_orderdate") >= lit(fromDate) &&
        col("o_orderdate") < lit(toDate))
      .select("o_orderkey", "o_custkey")
    lineitem.select(col("l_orderkey"), col("l_extendedprice"), col("l_discount"))
      .join(o, col("l_orderkey") === col("o_orderkey"))
      .join(customer.select("c_custkey", "c_nationkey"),
        col("o_custkey") === col("c_custkey"))
      .join(broadcast(nation.select("n_nationkey", "n_name")),
        col("c_nationkey") === col("n_nationkey"))
      .groupBy("n_name")
      .agg(dsum(col("l_extendedprice") * (lit(1.0) - col("l_discount")), 6)
        .as("revenue"),
        count(lit(1)).as("line_count"))
      .orderBy(col("revenue").desc, col("n_name"))
  }

  /** Top suppliers by shipped revenue in a date window (TPC-H Q15
    * shape): one pre-aggregated rollup on the fact table, then a
    * broadcast-joined supplier dim and TakeOrderedAndProject top-k —
    * the aggregate runs BEFORE the join, so the join input is
    * suppliers-sized, not lineitem-sized. */
  def topSuppliersByRevenue(supplier: DataFrame, lineitem: DataFrame,
      fromDate: String, toDate: String, k: Int): DataFrame = {
    val rev = lineitem
      .filter(col("l_shipdate") >= lit(fromDate) &&
        col("l_shipdate") < lit(toDate))
      .groupBy("l_suppkey")
      .agg(dsum(col("l_extendedprice") * (lit(1.0) - col("l_discount")), 6)
        .as("total_revenue"))
    rev.join(supplier.select("s_suppkey", "s_name"),
        col("l_suppkey") === col("s_suppkey"))
      .select(col("s_suppkey"), col("s_name"), col("total_revenue"))
      .orderBy(col("total_revenue").desc, col("s_suppkey"))
      .limit(k)
  }

  /** Unshipped-order shipping priority (TPC-H Q3 shape): top-k orders
    * by open revenue for one market segment — the order-book triage a
    * warehouse user runs each morning. Plan discipline: BOTH date
    * filters prune their fact scans before any join (orders by
    * order date, lineitem by ship date — `PushedFilters` on each
    * scan); the segment-filtered customer slice projects to the join
    * key only and joins declaratively (broadcast while small, key
    * shuffle at scale); revenue aggregates in exact decimal; the
    * top-k rides TakeOrderedAndProject (never a global sort). */
  def shippingPriority(customer: DataFrame, orders: DataFrame,
      lineitem: DataFrame, segment: String, date: String,
      k: Int = 10): DataFrame = {
    val c = customer.filter(col("c_mktsegment") === lit(segment))
      .select("c_custkey")
    val o = orders.filter(col("o_orderdate") < lit(date))
      .select("o_orderkey", "o_custkey", "o_orderdate", "o_orderpriority")
    val l = lineitem.filter(col("l_shipdate") > lit(date))
      .select("l_orderkey", "l_extendedprice", "l_discount")
    l.join(o, col("l_orderkey") === col("o_orderkey"))
      .join(c, col("o_custkey") === col("c_custkey"), "left_semi")
      .groupBy(col("l_orderkey"),
        // calendar-day string, not raw timestamp — engine-portable (q2's
        // parity rule) and what the triage report shows anyway
        date_format(col("o_orderdate"), "yyyy-MM-dd").as("order_date"),
        col("o_orderpriority"))
      .agg(dsum(col("l_extendedprice") * (lit(1.0) - col("l_discount")), 6)
        .as("revenue"))
      .orderBy(col("revenue").desc, col("l_orderkey"))
      .limit(k)
  }

  /** Returned-item revenue by customer (TPC-H Q10 shape): which
    * customers returned the most revenue in a quarter — the
    * support-triage rollup. The fact side is date- AND flag-pruned
    * before the join chain; customer attributes attach AFTER the
    * per-customer aggregate (the join input is customers-sized, not
    * lineitem-sized); nation (25 rows) broadcasts. */
  def returnedItemCustomers(customer: DataFrame, orders: DataFrame,
      lineitem: DataFrame, nation: DataFrame,
      fromDate: String, toDate: String, k: Int = 20): DataFrame = {
    val o = orders
      .filter(col("o_orderdate") >= lit(fromDate) &&
        col("o_orderdate") < lit(toDate))
      .select("o_orderkey", "o_custkey")
    val rev = lineitem.filter(col("l_returnflag") === lit("R"))
      .select("l_orderkey", "l_extendedprice", "l_discount")
      .join(o, col("l_orderkey") === col("o_orderkey"))
      .groupBy(col("o_custkey"))
      .agg(dsum(col("l_extendedprice") * (lit(1.0) - col("l_discount")), 6)
        .as("revenue"))
    rev
      .join(customer.select("c_custkey", "c_name", "c_acctbal", "c_nationkey"),
        col("o_custkey") === col("c_custkey"))
      .join(broadcast(nation.select("n_nationkey", "n_name")),
        col("c_nationkey") === col("n_nationkey"))
      .select(col("c_custkey"), col("c_name"), col("revenue"),
        col("c_acctbal"), col("n_name"))
      .orderBy(col("revenue").desc, col("c_custkey"))
      .limit(k)
  }

  /** Order-priority rollup of orders with at least one returned line
    * (TPC-H Q4 shape, EXISTS re-expressed as a LEFT SEMI join): the
    * date filter prunes the orders scan; the lineitem side projects to
    * the flag-filtered join key only — the semi-join shuffles 8-byte
    * keys, never payloads, and short-circuits per key (no fan-out on
    * multi-line orders, no distinct needed). */
  def priorityReturnCounts(orders: DataFrame, lineitem: DataFrame,
      fromDate: String, toDate: String): DataFrame = {
    val o = orders.filter(col("o_orderdate") >= lit(fromDate) &&
      col("o_orderdate") < lit(toDate))
    val returned = lineitem.filter(col("l_returnflag") === lit("R"))
      .select("l_orderkey")
    o.join(returned, col("o_orderkey") === col("l_orderkey"), "left_semi")
      .groupBy("o_orderpriority")
      .agg(count(lit(1)).as("n_orders"))
  }

  /** Customer order-count distribution (TPC-H Q13 shape): how many
    * customers placed exactly N orders — including the N=0 customers a
    * plain join would drop. `excludePriority` stands in for Q13's
    * comment-pattern exclusion (the synthetic schema carries no
    * comment column). Plan discipline: the fact collapses to one row
    * per customer BEFORE the outer join (per-custkey hash agg with
    * map-side partials), so the join is customers × customers-sized;
    * the second rollup groups on a small-cardinality long. The LEFT
    * join from customer keeps zero-order customers with a null count
    * that coalesces to 0 — the distribution's head. */
  def customerOrderDistribution(customer: DataFrame, orders: DataFrame,
      excludePriority: String): DataFrame = {
    val perCust = orders
      .filter(col("o_orderpriority") =!= lit(excludePriority))
      .groupBy("o_custkey")
      .agg(count(lit(1)).as("__n"))
    customer.select("c_custkey")
      .join(perCust, col("c_custkey") === col("o_custkey"), "left")
      .select(coalesce(col("__n"), lit(0L)).as("c_count"))
      .groupBy("c_count")
      .agg(count(lit(1)).as("custdist"))
      .orderBy(col("custdist").desc, col("c_count").desc)
  }

  /** Promotion revenue share for one ship-month (TPC-H Q14 shape):
    * what fraction of the month's discounted revenue came from promo
    * parts. The date filter prunes the lineitem scan; `part` projects
    * to (key, is-promo flag) and broadcasts — the fact never
    * shuffles; the ratio is computed from two exact decimal sums with
    * ONE final IEEE division (engine-reproducible, q2's parity rule).
    * Output: one row `(promo_revenue, total_revenue, promo_pct)`. */
  def promoRevenue(part: DataFrame, lineitem: DataFrame, promoType: String,
      fromDate: String, toDate: String): DataFrame = {
    val l = lineitem
      .filter(col("l_shipdate") >= lit(fromDate) &&
        col("l_shipdate") < lit(toDate))
      .select("l_partkey", "l_extendedprice", "l_discount")
    val p = broadcast(part.select(col("p_partkey"),
      (col("p_type") === lit(promoType)).as("__promo")))
    val rev = (col("l_extendedprice") * (lit(1.0) - col("l_discount")))
      .cast(DecimalType(18, 6))
    l.join(p, col("l_partkey") === col("p_partkey"))
      .agg(
        sum(when(col("__promo"), rev).otherwise(lit(0).cast(DecimalType(18, 6))))
          .as("__pr"),
        sum(rev).as("__tr"))
      .select(col("__pr").cast("double").as("promo_revenue"),
        col("__tr").cast("double").as("total_revenue"),
        (col("__pr").cast("double") * lit(100.0) / col("__tr").cast("double"))
          .as("promo_pct"))
  }

  /** Large-volume customers (TPC-H Q18 shape): orders whose total line
    * quantity exceeds `minQuantity`, with their customer and order
    * attributes. Plan discipline: the HAVING rollup runs on the fact
    * FIRST (per-orderkey hash agg, map-side partials) and the
    * threshold prunes it to a handful of keys, so the order/customer
    * joins are qualifying-orders-sized; quantity sums in exact
    * decimal; top-k rides TakeOrderedAndProject. */
  def largeVolumeCustomers(customer: DataFrame, orders: DataFrame,
      lineitem: DataFrame, minQuantity: Double, k: Int = 20): DataFrame = {
    val qty = lineitem.groupBy("l_orderkey")
      .agg(sum(col("l_quantity").cast(DecimalType(18, 2))).as("__q"))
      .filter(col("__q") > lit(minQuantity))
    qty.join(orders.select("o_orderkey", "o_custkey", "o_orderdate",
        "o_totalprice"), col("l_orderkey") === col("o_orderkey"))
      .join(customer.select("c_custkey", "c_name"),
        col("o_custkey") === col("c_custkey"))
      .select(col("c_custkey"), col("c_name"), col("o_orderkey"),
        date_format(col("o_orderdate"), "yyyy-MM-dd").as("order_date"),
        col("o_totalprice"),
        col("__q").cast("double").as("total_quantity"))
      .orderBy(col("total_quantity").desc, col("o_orderkey"))
      .limit(k)
  }

  /** Small-quantity-order revenue for one brand (TPC-H Q17 shape): the
    * weekly revenue lost if tiny orders (below 20% of the part's mean
    * order quantity) were no longer filled. The correlated scalar
    * subquery becomes a per-part rollup joined back to the fact.
    * Cross-engine exactness: `l_quantity < 0.2 * avg(...)` is
    * cross-multiplied to `5 · l_quantity · n < Σ quantity` — all
    * exact decimal arithmetic, no float average to diverge between
    * engines. Plan discipline: the brand slice of `part` broadcasts
    * into BOTH the rollup and the final join, so only that slice of
    * the fact is ever aggregated; output is one row. */
  def smallQuantityRevenue(part: DataFrame, lineitem: DataFrame,
      brand: String): DataFrame = {
    val p = broadcast(part.filter(col("p_brand") === lit(brand))
      .select("p_partkey"))
    val l = lineitem.select("l_partkey", "l_quantity", "l_extendedprice")
      .join(p, col("l_partkey") === col("p_partkey"), "left_semi")
    val stats = l.groupBy(col("l_partkey").as("__pk"))
      .agg(sum(col("l_quantity").cast(DecimalType(18, 2))).as("__qsum"),
        count(lit(1)).as("__n"))
    l.join(stats, col("l_partkey") === col("__pk"))
      .filter(col("l_quantity").cast(DecimalType(18, 2)) * lit(5) * col("__n")
        < col("__qsum"))
      .agg(coalesce(sum(col("l_extendedprice").cast(DecimalType(18, 2))),
        lit(0).cast(DecimalType(18, 2))).as("__r"))
      // exact decimal sum, ONE IEEE division (the dsum parity rule) —
      // decimal/int division scales differently across engines
      .select((col("__r").cast("double") / lit(7.0))
        .as("avg_weekly_revenue"))
  }

  /** Idle high-balance customers by segment (TPC-H Q22 shape): count
    * and total balance of customers whose balance beats the mean
    * positive balance but who placed no orders in the window — the
    * "sales opportunity" rollup. The scalar subquery is a 1-row
    * aggregate broadcast via cross join; `NOT EXISTS` is a LEFT ANTI
    * join on projected 8-byte keys. Cross-engine exactness: the
    * mean-balance comparison cross-multiplies (`bal · n > Σ bal`) in
    * exact decimal — no float average. */
  def salesOpportunity(customer: DataFrame, orders: DataFrame,
      fromDate: String, toDate: String): DataFrame = {
    val posStats = customer.filter(col("c_acctbal") > lit(0.0))
      .agg(sum(col("c_acctbal").cast(DecimalType(18, 2))).as("__bsum"),
        count(lit(1)).as("__bn"))
    val active = orders
      .filter(col("o_orderdate") >= lit(fromDate) &&
        col("o_orderdate") < lit(toDate))
      .select("o_custkey")
    customer.select("c_custkey", "c_mktsegment", "c_acctbal")
      .crossJoin(broadcast(posStats))
      .filter(col("c_acctbal").cast(DecimalType(18, 2)) * col("__bn")
        > col("__bsum"))
      .join(active, col("c_custkey") === col("o_custkey"), "left_anti")
      .groupBy("c_mktsegment")
      .agg(count(lit(1)).as("numcust"),
        dsum(col("c_acctbal")).as("totacctbal"))
      .orderBy("c_mktsegment")
  }

  /** Bilateral shipping volume between two nations by ship year
    * (TPC-H Q7 shape): the cross-border trade rollup. Plan
    * discipline: BOTH nation slices are tiny named-key lists joined
    * broadcast onto the dims; supplier and customer project to
    * (key, nation) pairs before touching the fact; the date window
    * prunes the lineitem scan (`PushedFilters`); the
    * (supp_nation, cust_nation) pair filter applies right after the
    * two nation attachments, BEFORE the aggregate, so only qualifying
    * rows reach the hash agg; revenue sums in exact decimal. The ship
    * year comes from `l_shipdate` as the spec demands — extracted
    * post-join, it costs nothing (codegen'd projection). */
  def volumeShipping(supplier: DataFrame, lineitem: DataFrame,
      orders: DataFrame, customer: DataFrame, nation: DataFrame,
      nationA: String, nationB: String,
      fromDate: String, toDate: String): DataFrame = {
    val n = nation.filter(col("n_name").isin(nationA, nationB))
      .select("n_nationkey", "n_name")
    val s = supplier.select("s_suppkey", "s_nationkey")
      .join(broadcast(n.withColumnRenamed("n_name", "supp_nation")),
        col("s_nationkey") === col("n_nationkey"))
      .select("s_suppkey", "supp_nation")
    val c = customer.select("c_custkey", "c_nationkey")
      .join(broadcast(n.withColumnRenamed("n_name", "cust_nation")),
        col("c_nationkey") === col("n_nationkey"))
      .select("c_custkey", "cust_nation")
    lineitem
      .filter(col("l_shipdate") >= lit(fromDate) &&
        col("l_shipdate") < lit(toDate))
      .select("l_orderkey", "l_suppkey", "l_shipdate",
        "l_extendedprice", "l_discount")
      .join(orders.select("o_orderkey", "o_custkey"),
        col("l_orderkey") === col("o_orderkey"))
      .join(s, col("l_suppkey") === col("s_suppkey"))
      .join(c, col("o_custkey") === col("c_custkey"))
      .filter((col("supp_nation") === lit(nationA) &&
          col("cust_nation") === lit(nationB)) ||
        (col("supp_nation") === lit(nationB) &&
          col("cust_nation") === lit(nationA)))
      .groupBy(col("supp_nation"), col("cust_nation"),
        year(col("l_shipdate")).as("l_year"))
      .agg(dsum(col("l_extendedprice") * (lit(1.0) - col("l_discount")), 6)
        .as("revenue"))
      .orderBy("supp_nation", "cust_nation", "l_year")
  }

  /** National market share within a region for one part type by order
    * year (TPC-H Q8 shape): Σ revenue from nation N / Σ revenue, over
    * region-R customers buying type-T parts. Plan discipline: the
    * type-filtered part slice and the region-filtered nation list
    * broadcast (both dim-sized); the order-date window prunes the
    * orders scan; the share is computed as two exact-decimal sums per
    * year — the nation share via a conditional decimal sum inside the
    * SAME hash agg (one pass, no self-join) — and ONE IEEE division at
    * the end (the dsum parity rule). */
  def marketShare(part: DataFrame, supplier: DataFrame,
      lineitem: DataFrame, orders: DataFrame, customer: DataFrame,
      nation: DataFrame, region: DataFrame, targetNation: String,
      regionName: String, pType: String,
      fromDate: String, toDate: String): DataFrame = {
    val p = broadcast(part.filter(col("p_type") === lit(pType))
      .select("p_partkey"))
    val regNations = broadcast(
      nation.join(broadcast(region.filter(col("r_name") === lit(regionName))
          .select("r_regionkey")),
        col("n_regionkey") === col("r_regionkey"))
      .select("n_nationkey"))
    val c = customer.select("c_custkey", "c_nationkey")
      .join(regNations, col("c_nationkey") === col("n_nationkey"), "left_semi")
      .select("c_custkey")
    val s = supplier.select("s_suppkey", "s_nationkey")
      .join(broadcast(nation.select(col("n_nationkey").as("__snk"),
        col("n_name").as("supp_nation"))),
        col("s_nationkey") === col("__snk"))
      .select("s_suppkey", "supp_nation")
    val o = orders
      .filter(col("o_orderdate") >= lit(fromDate) &&
        col("o_orderdate") < lit(toDate))
      .select("o_orderkey", "o_custkey", "o_orderdate")
    val vol = col("l_extendedprice") * (lit(1.0) - col("l_discount"))
    lineitem.select("l_orderkey", "l_partkey", "l_suppkey",
        "l_extendedprice", "l_discount")
      .join(p, col("l_partkey") === col("p_partkey"), "left_semi")
      .join(o, col("l_orderkey") === col("o_orderkey"))
      .join(c, col("o_custkey") === col("c_custkey"), "left_semi")
      .join(s, col("l_suppkey") === col("s_suppkey"))
      .groupBy(year(col("o_orderdate")).as("o_year"))
      .agg(
        sum(when(col("supp_nation") === lit(targetNation), vol)
          .otherwise(lit(0.0)).cast(DecimalType(18, 6))).as("__nrev"),
        sum(vol.cast(DecimalType(18, 6))).as("__trev"))
      .select(col("o_year"),
        (col("__nrev").cast("double") / col("__trev").cast("double"))
          .as("mkt_share"))
      .orderBy("o_year")
  }

  /** Product-line revenue by supplier nation and order year (TPC-H Q9
    * shape, minus the `partsupp` supply-cost leg this schema doesn't
    * carry): for parts whose name contains a word, where did the
    * revenue land, by nation and year. Plan discipline: the
    * name-filtered part slice broadcasts (`contains` can't push to
    * parquet, but the slice is dim-sized and the semi-join keeps the
    * fact projection key-only); supplier attaches nation pre-join;
    * the per-(nation, year) rollup aggregates in exact decimal. */
  def productRevenueByNation(part: DataFrame, supplier: DataFrame,
      lineitem: DataFrame, orders: DataFrame, nation: DataFrame,
      nameWord: String): DataFrame = {
    val p = broadcast(part.filter(col("p_name").contains(nameWord))
      .select("p_partkey"))
    val s = supplier.select("s_suppkey", "s_nationkey")
      .join(broadcast(nation.select("n_nationkey", "n_name")),
        col("s_nationkey") === col("n_nationkey"))
      .select(col("s_suppkey"), col("n_name").as("nation"))
    lineitem.select("l_orderkey", "l_partkey", "l_suppkey",
        "l_extendedprice", "l_discount")
      .join(p, col("l_partkey") === col("p_partkey"), "left_semi")
      .join(s, col("l_suppkey") === col("s_suppkey"))
      .join(orders.select("o_orderkey", "o_orderdate"),
        col("l_orderkey") === col("o_orderkey"))
      .groupBy(col("nation"), year(col("o_orderdate")).as("o_year"))
      .agg(dsum(col("l_extendedprice") * (lit(1.0) - col("l_discount")), 6)
        .as("sum_profit"))
      .orderBy(col("nation"), col("o_year").desc)
  }

  /** Bracketed discounted revenue under a disjunction of brand/size/
    * quantity envelopes (TPC-H Q19 shape, on the columns this schema
    * carries): Σ revenue over three OR'd (brand, size-range,
    * quantity-range) brackets. Plan discipline: Catalyst extracts the
    * common-to-all-branches bounds and pushes them to BOTH scans — the
    * part scan gets `p_size >= 1` and the lineitem scan the overall
    * quantity envelope (`l_quantity` between the min low and max high
    * across brackets) as `PushedFilters`, so each side prunes before
    * the join; the residual per-bracket disjunction evaluates
    * post-join inside codegen. The part side broadcasts (dim-sized). */
  def bracketRevenue(part: DataFrame, lineitem: DataFrame,
      brackets: Seq[(String, Int, Int, Double, Double)]): DataFrame = {
    require(brackets.nonEmpty, "at least one bracket")
    val joined = lineitem
      .select("l_partkey", "l_quantity", "l_extendedprice", "l_discount")
      .join(broadcast(part.select("p_partkey", "p_brand", "p_size")),
        col("l_partkey") === col("p_partkey"))
    val cond = brackets.map { case (brand, szLo, szHi, qLo, qHi) =>
      col("p_brand") === lit(brand) &&
        col("p_size").between(szLo, szHi) &&
        col("l_quantity").between(qLo, qHi)
    }.reduce(_ || _)
    joined.filter(cond)
      .agg(coalesce(
        dsum(col("l_extendedprice") * (lit(1.0) - col("l_discount")), 6),
        lit(0.0)).as("revenue"))
  }

  /** Ordered-sequence funnel conversion: how many users performed
    * `steps` IN ORDER (each step strictly after the previous one),
    * reported as users-reached per step. ONE user-keyed aggregation
    * does the whole funnel: per user the step-relevant events are
    * collected, time-sorted, and folded left-to-right with a
    * (step, time) state that advances exactly when the NEXT step's
    * event appears strictly later — all inside codegen'd higher-order
    * functions, so the plan is one shuffle by user and zero self-joins
    * (the k-way self-join formulation scans the fact k times and
    * re-shuffles per step; this scans once). Greedy earliest-advance
    * is optimal here, so the fold equals the classic
    * min-after-previous-min SQL semantics the oracle replays. Per-user
    * event lists are session-sized — bounded in practice; a pathological
    * user bounds at that user's event count, not the corpus. */
  def eventFunnel(events: DataFrame, userCol: String, typeCol: String,
      tsCol: String, steps: Seq[String]): DataFrame = {
    require(steps.nonEmpty && steps.distinct.size == steps.size,
      s"steps must be non-empty and distinct, got $steps")
    val stepsArr = array(steps.map(lit): _*)
    val perUser = funnelUserArrays(events, userCol, typeCol, tsCol,
        steps, stepsArr)
      .select(funnelFold(col("__es")).getField("step").as("__final"))
    funnelReport(perUser, stepsArr, steps.size, "users")
  }

  /** Per-user sorted (t, idx) step-event arrays — the shared front half
    * of [[eventFunnel]] and [[funnelLatency]] (one user-keyed
    * aggregation; [[sessionFunnel]] builds the session-keyed analog
    * from its tagged frame). */
  private def funnelUserArrays(events: DataFrame, userCol: String,
      typeCol: String, tsCol: String, steps: Seq[String],
      stepsArr: Column): DataFrame =
    events.filter(col(typeCol).isin(steps: _*))
      .select(col(userCol).as("__u"),
        struct(tsMicros(events, tsCol).as("t"),
          array_position(stepsArr, col(typeCol)).as("idx")).as("__e"))
      .groupBy("__u")
      .agg(sort_array(collect_list(col("__e"))).as("__es"))

  /** The greedy earliest-advance funnel fold over a sorted (t, idx)
    * event array — shared by [[eventFunnel]] (per user),
    * [[sessionFunnel]] (per session), and [[funnelLatency]], so a
    * boundary/tie-rule change lands in all or none: the furthest step
    * whose events appear in step order with strictly increasing
    * timestamps, plus the times of the first and latest advance.
    * Equivalent to the oracles' chained-min formulation. Returns a
    * struct `(step, t, t0)`. */
  private def funnelFold(es: Column): Column =
    aggregate(es,
      struct(lit(0L).as("step"), lit(Long.MinValue).as("t"),
        lit(Long.MinValue).as("t0")),
      (acc, e) => when(
        e.getField("idx") === acc.getField("step") + 1 &&
          e.getField("t") > acc.getField("t"),
        struct((acc.getField("step") + 1).as("step"),
          e.getField("t").as("t"),
          when(acc.getField("step") === 0, e.getField("t"))
            .otherwise(acc.getField("t0")).as("t0"))).otherwise(acc))

  /** Funnel time-to-convert: for every user who completes the WHOLE
    * funnel, the time from their first-step anchor to the completing
    * event — the latency distribution behind "median time to purchase"
    * dashboards (derive quantiles downstream; the per-user rows are the
    * deterministic ground truth). Same greedy fold as [[eventFunnel]]
    * (the anchor is the EARLIEST first-step event, each later step the
    * earliest strictly-after advance), so duration equals the oracle's
    * chained-min `t_lastStep − t_firstStep`.
    *
    * Scale shape: identical to [[eventFunnel]] — one user-keyed
    * aggregation, no per-step self-joins; converted users project to
    * (user, duration) rows. */
  def funnelLatency(events: DataFrame, userCol: String, typeCol: String,
      tsCol: String, steps: Seq[String]): DataFrame = {
    require(steps.size >= 2 && steps.distinct.size == steps.size,
      s"need >= 2 distinct steps, got $steps")
    val stepsArr = array(steps.map(lit): _*)
    funnelUserArrays(events, userCol, typeCol, tsCol, steps, stepsArr)
      .select(col("__u"), funnelFold(col("__es")).as("__f"))
      .filter(col("__f").getField("step") === steps.size)
      .select(col("__u").as(userCol),
        (col("__f").getField("t") - col("__f").getField("t0"))
          .as("duration_us"))
      .orderBy(userCol)
  }

  /** Explode each group's furthest step (`__final`) into one row per
    * completed step, right-joined to the step list so unreached steps
    * report 0 under `countName`. */
  private def funnelReport(perGroup: DataFrame, stepsArr: Column,
      nSteps: Int, countName: String): DataFrame = {
    val spark = perGroup.sparkSession
    val reached = perGroup.filter(col("__final") >= 1)
      .select(explode(sequence(lit(1L), col("__final"))).as("step"))
      .groupBy("step").agg(count(lit(1)).as("__n"))
    spark.range(1, nSteps + 1).select(col("id").as("step"))
      .join(reached, Seq("step"), "left")
      .select(col("step").cast("int").as("step"),
        element_at(stepsArr, col("step").cast("int")).as("step_name"),
        coalesce(col("__n"), lit(0L)).as(countName))
      .orderBy("step")
  }

  /** Session-scoped conversion funnel — [[eventFunnel]]'s ordered fold
    * run INSIDE each gap session ([[sessionize]]'s boundary rule,
    * sessions over ALL the user's events): a view yesterday does not
    * license today's click. Counts SESSIONS reaching each step, so a
    * user converting on two separate visits counts twice — the
    * per-visit metric product analytics actually wants, where
    * [[eventFunnel]] is the per-lifetime one.
    *
    * Scale shape: the session tag (lag + running sum) and the
    * per-(user, session) fold share ONE user-keyed shuffle — the
    * session windows sort exactly the order the aggregation consumes;
    * everything downstream is steps-bounded. Same greedy
    * earliest-advance fold as [[eventFunnel]], so the oracle's
    * chained-min formulation is equivalent. */
  /** Gap-session tag shared by every session-scoped journey operator
    * ([[sessionFunnel]], [[sessionPaths]], [[sessionCooccurrence]],
    * [[sessionPairLift]]): `(__u, __ty, __t, __id)` plus `__sid` — the
    * running count of over-gap boundaries under ONE user-keyed
    * (ts, id) window sort. The boundary rule (a gap STRICTLY greater
    * than `gapUs` opens a session) lives here ONCE — forked copies
    * would let the operators' session definitions silently diverge.
    * ([[sessionize]] keeps its own tag: it orders by ts alone and
    * documents why that stays deterministic for its rollup.) */
  private def gapSessionTag(events: DataFrame, userCol: String,
      typeCol: String, tsCol: String, idCol: String,
      gapUs: Long): DataFrame = {
    require(gapUs > 0, s"gapUs must be positive, got $gapUs")
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("__u").orderBy(col("__t"), col("__id"))
    val cum = w.rowsBetween(
      org.apache.spark.sql.expressions.Window.unboundedPreceding, 0)
    events.select(col(userCol).as("__u"), col(typeCol).as("__ty"),
        tsMicros(events, tsCol).as("__t"), col(idCol).as("__id"))
      .withColumn("__new",
        when(lag(col("__t"), 1).over(w).isNull ||
          col("__t") - lag(col("__t"), 1).over(w) > gapUs, 1L)
          .otherwise(0L))
      .withColumn("__sid", sum(col("__new")).over(cum))
      .drop("__new")
  }

  def sessionFunnel(events: DataFrame, userCol: String, typeCol: String,
      tsCol: String, idCol: String, steps: Seq[String],
      gapUs: Long): DataFrame = {
    require(steps.nonEmpty && steps.distinct.size == steps.size,
      s"steps must be non-empty and distinct, got $steps")
    val stepsArr = array(steps.map(lit): _*)
    val tagged = gapSessionTag(events, userCol, typeCol, tsCol, idCol, gapUs)
    val perSession = tagged.filter(col("__ty").isin(steps: _*))
      .select(col("__u"), col("__sid").as("__s"),
        struct(col("__t").as("t"),
          array_position(stepsArr, col("__ty")).as("idx")).as("__e"))
      .groupBy("__u", "__s")
      .agg(sort_array(collect_list(col("__e"))).as("__es"))
      .select(funnelFold(col("__es")).getField("step").as("__final"))
    funnelReport(perSession, stepsArr, steps.size, "sessions")
  }

  /** Batch recomputation of
    * [[StreamingAnalytics.sessionFunnelStream]]'s CAPPED semantics —
    * one row per gap session `(user, max_step, truncated, n_steps)`
    * mirroring the stream's AMORTIZED cut exactly: a session whose
    * step-event count stays ≤ 2·`maxStamps` never triggers the
    * sort-truncate, so its fold is EXACT and `truncated` is false;
    * past 2·`maxStamps` the cut fires and the close-time fold runs
    * over the (t, step-index)-least `maxStamps` stamps only, with
    * `truncated` marking `max_step` as a LOWER bound on the uncapped
    * result. Feeding this to
    * [[StreamingAnalytics.sessionFunnelRollup]] yields the same
    * bound-vs-exact split report the stream emits — and because every
    * piece (gap islands, (t, idx) sort, prefix cut, chained greedy
    * advance) is relational, a SQL oracle can recompute it exactly:
    * the q251 correctness row is the proof that `n_truncated > 0`
    * reports a bound, not a silently wrong exact count. Sessions with
    * NO step events still emit (max_step 0) — the stream closes those
    * sessions too, and the rollup's truncation column would otherwise
    * undercount total sessions.
    *
    * Scale shape: identical to [[sessionFunnel]] — one shuffle to the
    * (user, session) grain, per-session arrays bounded by the
    * session's own step-event count (the sort_array fold), and the
    * cap applies BEFORE the fold so the fold work is `maxStamps`-
    * bounded. (Batch keeps the full sorted array per session — it has
    * the whole corpus; the cap exists to mirror the stream's state
    * bound, not to protect batch memory.) */
  def sessionFunnelCapped(events: DataFrame, userCol: String,
      typeCol: String, tsCol: String, idCol: String, steps: Seq[String],
      gapUs: Long, maxStamps: Int): DataFrame = {
    require(steps.nonEmpty && steps.distinct.size == steps.size,
      s"steps must be non-empty and distinct, got $steps")
    require(maxStamps >= 1, s"maxStamps must be >= 1, got $maxStamps")
    val stepsArr = array(steps.map(lit): _*)
    val tagged = gapSessionTag(events, userCol, typeCol, tsCol, idCol, gapUs)
    tagged
      .select(col("__u"), col("__sid"),
        // non-step events still chain the session (the gap tag above
        // saw them); they contribute no stamp — collect_list drops
        // the null
        when(array_position(stepsArr, col("__ty")) > 0,
          struct(col("__t").as("t"),
            array_position(stepsArr, col("__ty")).as("idx"))).as("__e"))
      .groupBy("__u", "__sid")
      .agg(sort_array(collect_list(col("__e"))).as("__es"))
      .select(col("__u").as("user"),
        when(size(col("__es")) > 2 * maxStamps,
          funnelFold(slice(col("__es"), 1, maxStamps)))
          .otherwise(funnelFold(col("__es")))
          .getField("step").as("max_step"),
        (size(col("__es")) > 2 * maxStamps).as("truncated"),
        size(col("__es")).cast("long").as("n_steps"))
  }

  /** Event-sequence pattern matching — the COUNT shape of SQL
    * MATCH_RECOGNIZE (which Spark does not ship): each user's complete
    * (ts, id)-ordered event-type sequence renders as one
    * space-delimited string, and each named regex pattern counts the
    * users whose journey matches — "viewed then eventually purchased",
    * "error storm", any order-sensitive cohort a transition matrix
    * (which only sees adjacent pairs) cannot express. Patterns match
    * UNANCHORED; type names must not be substrings of one another —
    * and that contract is ENFORCED, not just documented: a vocabulary
    * with `view` and `view_item` silently corrupts every pattern count
    * (the regex `view.*purchase` matches the `view_item` prefix), so
    * by default the builder validates the bounded type vocabulary with
    * one map-side-partial distinct agg and fails loud on substring
    * collisions or whitespace-bearing types (whitespace breaks the
    * space-delimited journey encoding the same way). Pass
    * `validateVocabulary = false` when the vocabulary is known-clean
    * and the extra narrow-column pass matters.
    *
    * Scale shape: ONE user-keyed aggregation builds every journey
    * string (sequence length = the user's event count, the same bound
    * [[eventFunnel]]'s sorted array carries); all patterns evaluate as
    * conditional sums over that single pass — adding a pattern adds a
    * projection, never a scan; output is |patterns| rows. The
    * validation collect is vocabulary-bounded (distinct event TYPES,
    * not events). */
  def sequenceMatch(events: DataFrame, userCol: String, typeCol: String,
      tsCol: String, idCol: String,
      patterns: Seq[(String, String)],
      validateVocabulary: Boolean = true): DataFrame = {
    require(patterns.nonEmpty &&
      patterns.map(_._1).distinct.size == patterns.size,
      s"patterns must be non-empty with distinct names, got $patterns")
    // names are spliced into a stack() SQL expression — identifier
    // characters only, or a quote/backtick would break (or alter) it
    patterns.map(_._1).foreach(n =>
      require(n.matches("[A-Za-z0-9_]+"),
        s"pattern name must match [A-Za-z0-9_]+, got '$n'"))
    if (validateVocabulary) {
      val types = events.select(col(typeCol).cast("string").as("t"))
        .na.drop().distinct().collect().map(_.getString(0))
      val spaced = types.filter(_.exists(_.isWhitespace))
      require(spaced.isEmpty, "sequenceMatch: event types must not " +
        s"contain whitespace (breaks the journey encoding): " +
        spaced.map(t => s"'$t'").mkString(", "))
      val collisions = for {
        a <- types; b <- types if a != b && b.contains(a)
      } yield s"'$a' is a substring of '$b'"
      require(collisions.isEmpty, "sequenceMatch: event-type vocabulary " +
        "violates the no-substring contract (pattern counts would be " +
        s"silently corrupted): ${collisions.sorted.mkString("; ")}")
    }
    val seqs = events.select(col(userCol).as("__u"),
        struct(tsMicros(events, tsCol).as("t"), col(idCol).as("id"),
          col(typeCol).as("ty")).as("__e"))
      .groupBy("__u")
      .agg(array_join(transform(sort_array(collect_list(col("__e"))),
        e => e.getField("ty")), " ").as("__seq"))
    // count(non-null) not sum(1/0): a global sum over ZERO rows is
    // NULL where the oracle's FILTER count is 0
    val aggs = patterns.map { case (name, p) =>
      count(when(col("__seq").rlike(p), lit(1))).as(name)
    }
    val counts = seqs.agg(aggs.head, aggs.tail: _*)
    counts.select(expr(
      s"stack(${patterns.size}, " +
        patterns.map { case (name, _) => s"'$name', `$name`" }
          .mkString(", ") + ") as (pattern, n_users)"))
      .orderBy("pattern")
  }

  /** User-journey transition matrix: counts of consecutive event-type
    * pairs per user — the first-order Markov statistics behind flow
    * diagrams, anomalous-path detection, and next-step prediction
    * features. Consecutive means adjacent in each user's (ts, id)
    * total order; a user's first event has no predecessor and feeds no
    * transition. Output: `(from_type, to_type, n_transitions)`.
    *
    * Scale shape: one shuffle on the user key, per-user in-partition
    * sort, a lag of the NARROW type column, then a hash-agg on the
    * (from, to) pair — type-vocabulary-sized output, map-side partials
    * collapse the hot transitions. Same per-key window cost as
    * [[retentionCohorts]]'s dedup; no self-joins. */
  def eventTransitions(events: DataFrame, userCol: String, typeCol: String,
      tsCol: String, idCol: String): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(userCol).orderBy(col("__t"), col("__id"))
    events.select(col(userCol), col(typeCol).as("to_type"),
        tsMicros(events, tsCol).as("__t"), col(idCol).as("__id"))
      .withColumn("from_type", lag(col("to_type"), 1).over(w))
      .filter(col("from_type").isNotNull)
      .groupBy("from_type", "to_type")
      .agg(count(lit(1)).as("n_transitions"))
      .orderBy("from_type", "to_type")
  }

  /** Time-bucketed OHLC ("candlestick") aggregation of a value stream:
    * per bucket — open (value at the bucket's earliest (ts, id)), high,
    * low, close (latest (ts, id)), event count, and exact-decimal
    * volume. The order-statistics-inside-group shape: open/close are
    * `min_by`/`max_by` over the (ts, id) struct — ONE hash aggregation,
    * no window, no sort (the same no-window discipline as
    * latest-per-key W1). Bucketing floors epoch micros by
    * `bucketMicros` with the positive-remainder pattern (exact at any
    * epoch sign). */
  def ohlc(events: DataFrame, tsCol: String, idCol: String,
      valueCol: String, bucketMicros: Long): DataFrame = {
    require(bucketMicros > 0, s"bucketMicros must be > 0, got $bucketMicros")
    // same hazard (and same loud guard) as AsofJoin: a non-integral id
    // would silently cast to null and make open/close nondeterministic
    // on timestamp ties
    val idType = events.schema(idCol).dataType
    require(Seq(org.apache.spark.sql.types.ByteType,
        org.apache.spark.sql.types.ShortType,
        org.apache.spark.sql.types.IntegerType,
        org.apache.spark.sql.types.LongType).contains(idType),
      s"id column '$idCol' must be an integral type (it is the (ts, id) " +
        s"open/close tie-break key, carried as a long); got $idType. Map " +
        "string ids to a surrogate long before bucketing.")
    val t = tsMicros(events, tsCol)
    val key = struct(t.as("t"), col(idCol).cast("long").as("i"))
    events.filter(col(valueCol).isNotNull)
      .groupBy(fdiv(t, bucketMicros).as("bucket"))
      .agg(
        min_by(col(valueCol), key).as("open"),
        max(col(valueCol)).as("high"),
        min(col(valueCol)).as("low"),
        max_by(col(valueCol), key).as("close"),
        count(lit(1)).as("n_events"),
        sum(col(valueCol).cast(DecimalType(18, 2))).cast("double")
          .as("volume"))
      .orderBy("bucket")
  }

  /** Spearman rank correlation between two INTEGER score columns, in
    * exact fixed-point ppm — "do these two quality signals agree?"
    * without a single float until the final (integer) answer. Midranks
    * are kept integral by working in DOUBLED units: for a value v with
    * `prefix` smaller rows and `cnt` ties, `2·midrank = 2·prefix +
    * cnt + 1`; then `ρ_ppm = 10⁶ − ⌊3·Σd²·10⁶ / (2n(n²−1))⌋` over the
    * doubled-rank differences d (the classic 6Σd²/4 folded in). This
    * is the Σd²-with-midranks formulation (exact when ties are absent,
    * the standard practical estimator when present); n ≤ 1 yields a
    * null ρ (no ordering to correlate).
    *
    * Scale shape: ranks come from per-VALUE counts + a prefix window
    * over the value table — score domains are bounded (ppm scores,
    * token counts), so that table is tiny and the deliberate global
    * window is over values, never rows (the [[sourceTokenGini]]
    * posture); rank maps broadcast back; Σd² accumulates in
    * DECIMAL(38,0) (|d| ≤ 2n, so the SUM n·4n² passes 2^63 around 10⁶
    * rows — the decimal is load-bearing, not defensive). One pass, two
    * broadcast joins, one 1-row rollup. */
  def spearman(df: DataFrame, xCol: String, yCol: String): DataFrame = {
    val s = df.filter(col(xCol).isNotNull && col(yCol).isNotNull)
      .select(col(xCol).cast("long").as("__x"),
        col(yCol).cast("long").as("__y"))
    def rank2(c: String): DataFrame = {
      val w = org.apache.spark.sql.expressions.Window.orderBy(col("__v"))
        .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding, -1)
      s.groupBy(col(c).as("__v")).agg(count(lit(1)).as("__c"))
        .withColumn("__r2",
          lit(2L) * coalesce(sum("__c").over(w), lit(0L)) + col("__c") + 1L)
        .select(col("__v"), col("__r2"))
    }
    val withRanks = s
      .join(broadcast(rank2("__x")).withColumnRenamed("__r2", "__rx"),
        col("__x") === col("__v")).drop("__v")
      .join(broadcast(rank2("__y")).withColumnRenamed("__r2", "__ry"),
        col("__y") === col("__v")).drop("__v")
      .select((col("__rx") - col("__ry")).as("__d"))
    withRanks.agg(count(lit(1)).as("n"),
        sum(dec(col("__d")) * dec(col("__d"))).as("__sd2"))
      .select(col("n"), {
        val num = dec(lit(3L)) * col("__sd2") * dec(lit(1000000L))
        val den = dec(lit(2L)) * dec(col("n")) *
          (dec(col("n")) * dec(col("n")) - dec(lit(1L)))
        when(col("n") > 1L,
          lit(1000000L) - fdiv(num, den))
          .as("rho_ppm")
      })
  }

  /** Heartbeat-loss / outage report: per key, every interval with no
    * events for at least `minGapMicros` — `(key, gap_start_us,
    * gap_end_us, gap_us)`, one row per silent stretch (the reference
    * monitors exactly this signal for CDC lag, `docs/CDC_LAG.md:11-33`,
    * via heartbeat timestamps; this is the queryable batch form over
    * any key). The monitoring
    * complement of [[graft.analytics.StreamingAnalytics.debounce]]
    * (which keeps the events; this reports the silences): CDC-lag
    * audits, sensor dropout, churn-risk inactivity windows. Same
    * single-lag-window scale shape. */
  def eventGaps(events: DataFrame, keyCol: String, tsCol: String,
      idCol: String, minGapMicros: Long): DataFrame = {
    require(minGapMicros > 0, s"minGapMicros must be > 0, got $minGapMicros")
    val t = tsMicros(events, tsCol)
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(keyCol).orderBy(col("__t"), col("__id"))
    events.select(col(keyCol), t.as("__t"), col(idCol).as("__id"))
      .withColumn("__prev", lag(col("__t"), 1).over(w))
      .filter(col("__prev").isNotNull &&
        col("__t") - col("__prev") >= minGapMicros)
      .select(col(keyCol), col("__prev").as("gap_start_us"),
        col("__t").as("gap_end_us"),
        (col("__t") - col("__prev")).as("gap_us"))
  }

  /** Column-level data profile — the ANALYZE-style statistics pass a
    * validation pipeline runs before trusting a table (the generic form
    * of the reference's per-table validation views,
    * `docker/postgres/init.sql:323-488`, which hand-code row counts and
    * expected extrema per table): per column, row
    * count, null count, exact distinct count, and min/max rendered as
    * strings (one schema regardless of column types; timestamps render
    * in UTC micros via the [[tsMicros]] convention — never raw, the
    * cross-engine ts rule). Null-only columns report null min/max.
    *
    * Scale shape: one aggregation pass computes ALL columns' counts
    * and extrema (map-side partials, no expand); exact distincts are
    * one `count(distinct)` aggregation PER column — deliberately
    * separate jobs rather than one multi-distinct aggregate, because
    * Catalyst plans k distincts in one agg as a k-way Expand (k× the
    * scan rows shuffled). k column-profile jobs over one cached narrow
    * projection is the at-scale shape; callers profile the columns
    * they care about, not necessarily all. */
  def columnProfile(df: DataFrame, cols: Seq[String]): DataFrame = {
    require(cols.nonEmpty, "cols must be non-empty")
    val spark = df.sparkSession
    import org.apache.spark.sql.types.{TimestampType, TimestampNTZType}
    // extrema run on the NATIVE type (numeric/ts ordering), then render:
    // a string-side min would order "100" < "99". Doubles render with
    // engine-specific shortest-form rules — profile them via an integer
    // rendering (cents/micros) upstream if cross-engine parity matters
    def renderAfter(c: String, agg: Column): Column =
      df.schema(c).dataType match {
        case TimestampType | TimestampNTZType =>
          unix_micros(agg.cast(TimestampType)).cast("string")
        case _ => agg.cast("string")
      }
    val base = df.select(cols.map(col): _*)
      .localCheckpoint() // k distinct jobs re-read this, not the source
    val rows = try {
      val aggs = base.agg(count(lit(1)).as("__n"),
        cols.flatMap(c => Seq(
          count(col(c)).as(s"__nn_$c"),
          renderAfter(c, min(col(c))).as(s"__min_$c"),
          renderAfter(c, max(col(c))).as(s"__max_$c"))): _*).head()
      val n = aggs.getLong(0)
      cols.zipWithIndex.map { case (c, i) =>
        val nd = base.select(countDistinct(col(c))).head().getLong(0)
        val nn = aggs.getLong(1 + i * 3)
        (c, n, n - nn, nd,
          Option(aggs.getString(2 + i * 3)).orNull,
          Option(aggs.getString(3 + i * 3)).orNull)
      }
    } finally graft.util.Materialized.release(base)
    spark.createDataFrame(rows).toDF("column", "n_rows", "n_nulls",
      "n_distinct", "min_value", "max_value")
  }

  /** Benford's-law expected first-digit frequencies, ppm
    * (`⌊log₁₀(1+1/d)·10⁶⌋` — a shared literal table, so both engines
    * compare against the identical constants). */
  val BenfordPpm: Map[Int, Long] = Map(
    1 -> 301029L, 2 -> 176091L, 3 -> 124938L, 4 -> 96910L, 5 -> 79181L,
    6 -> 66946L, 7 -> 57991L, 8 -> 51152L, 9 -> 45757L)

  /** Benford first-digit audit of a positive value column — the
    * classic fabricated-data / corrupted-feed screen (extends the
    * reference's fixed-expectation validation checks,
    * `docker/postgres/init.sql:323-488`, with a distributional one):
    * naturally
    * occurring amounts follow log₁₀(1+1/d) first-digit frequencies,
    * and a synthetic or truncated feed shows up as large `delta_ppm`
    * rows. Values < 1 are excluded (their first significant digit
    * lives in engine-specific double rendering); the digit comes from
    * the INTEGER part rendered as decimal digits — exact in both
    * engines. All nine digits report even at zero count.
    *
    * Scale shape: one narrow projection + a 9-row hash-agg (map-side
    * partials do all the work); the digit table and total broadcast.
    * Output is always 9 rows. */
  def benfordProfile(df: DataFrame, valueCol: String): DataFrame = {
    val spark = df.sparkSession
    val counts = df.filter(col(valueCol).isNotNull && col(valueCol) >= 1)
      .select(substring(floor(col(valueCol)).cast("long").cast("string"),
        1, 1).cast("int").as("digit"))
      .groupBy("digit").agg(count(lit(1)).as("__n"))
    val total = broadcast(counts.agg(
      coalesce(sum("__n"), lit(0L)).as("__tot")))
    val digits = broadcast(spark.createDataFrame(
      (1 to 9).map(d => (d, BenfordPpm(d)))).toDF("digit", "expected_ppm"))
    digits.join(counts, Seq("digit"), "left")
      .na.fill(0L, Seq("__n"))
      .crossJoin(total)
      .select(col("digit"), col("__n").as("n"), {
        val num = col("__n") * lit(1000000L)
        when(col("__tot") > 0L,
          fdiv(num, col("__tot")))
          .otherwise(lit(0L)).as("observed_ppm")
      }, col("expected_ppm"))
      .withColumn("delta_ppm", abs(col("observed_ppm") - col("expected_ppm")))
      .orderBy("digit")
  }

  /** Epoch-microsecond long from a timestamp OR raw-long column — the
    * one conversion both event operators share. NTZ timestamps cast
    * through TimestampType in the (UTC) session zone; long columns
    * pass through as-is (caller-defined epoch micros). */
  private[analytics] def tsMicros(df: DataFrame, tsCol: String): Column =
    df.schema(tsCol).dataType match {
      case org.apache.spark.sql.types.LongType => col(tsCol)
      case _ => unix_micros(col(tsCol)
        .cast(org.apache.spark.sql.types.TimestampType))
    }

  /** Daily retention cohorts: users grouped by their first active day,
    * with distinct-user counts at each day offset — the engagement
    * triangle. Day arithmetic is INTEGRAL floor division of epoch
    * micros: `div` alone truncates toward zero (pre-1970 negative
    * micros would mis-bucket across the day boundary), so the positive
    * remainder is subtracted first — true floor, exact at any epoch
    * magnitude and sign, where a double division would quietly
    * mis-bucket timestamps approaching 2⁵³ µs. Scale shape: the
    * (user, day) projection dedups FIRST
    * (map-side partials over the user×day key — bounded by
    * users·active-days, not events), the cohort rollup is user-keyed,
    * and the final count groups on (cohort, offset) —
    * cohort-matrix-sized output. */
  def retentionCohorts(events: DataFrame, userCol: String,
      tsCol: String): DataFrame = {
    val userDays = events.select(col(userCol).as("__u"),
        tsMicros(events, tsCol).as("__tus"))
      .select(col("__u"),
        expr("(__tus - pmod(__tus, 86400000000)) div 86400000000")
          .as("__day"))
      .distinct()
      // users·active-days-sized; read twice (cohort rollup + join), so
      // cut the lineage once rather than re-scanning the event log
      .localCheckpoint()
    val first = userDays.groupBy("__u").agg(min("__day").as("__cohort"))
    userDays.join(first, "__u")
      .groupBy(col("__cohort").as("cohort_day"),
        (col("__day") - col("__cohort")).as("day_offset"))
      .agg(count(lit(1)).as("users"))
      .orderBy("cohort_day", "day_offset")
  }

  /** Per-customer running revenue — the ordered windowed aggregate
    * (cumulative lifetime value as of each order). Partitioned by
    * customer with NO global sort: each task sorts only its customers'
    * orders, the exact-decimal running sum accumulates inside the
    * window frame, and ties on order date break by order key so the
    * series is engine-deterministic. */
  def runningRevenue(orders: DataFrame): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("o_custkey")
      .orderBy(col("o_orderdate"), col("o_orderkey"))
      .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding,
        org.apache.spark.sql.expressions.Window.currentRow)
    orders.select(col("o_custkey"), col("o_orderkey"),
      date_format(col("o_orderdate"), "yyyy-MM-dd").as("order_date"),
      sum(col("o_totalprice").cast(DecimalType(18, 2))).over(w)
        .cast("double").as("running_total"))
      .orderBy("o_custkey", "o_orderkey")
  }

  /** Corpus datasheet marginals via ROLLUP — per-(source, lang)
    * counts plus per-source subtotals plus the grand total in ONE
    * aggregation pass (grouping sets share the scan and the partial
    * aggregation; three separate groupBys would scan three times).
    * `grouping_id` disambiguates rollup-nulls from data-nulls so the
    * output is unambiguous even on corpora where the dimension
    * columns can be null. */
  def corpusRollup(docs: DataFrame): DataFrame =
    docs.rollup(col("source"), col("lang"))
      .agg(count(lit(1)).as("n_docs"),
        sum(col("n_chars")).as("total_chars"),
        grouping_id().cast("int").as("gid"))
      .orderBy(col("gid"), col("source").asc_nulls_first,
        col("lang").asc_nulls_first)

  /** Per-source language distribution as a PIVOT — one row per
    * source, one count column per (fixed, caller-supplied) language.
    * The explicit value list is the scale discipline: pivot with an
    * inferred value set needs an extra distinct pass AND makes the
    * output schema data-dependent; fixed values keep it one hash agg
    * with a static schema. Empty cells are 0, not null. */
  def langPivot(docs: DataFrame, langs: Seq[String]): DataFrame = {
    require(langs.nonEmpty && langs.distinct.size == langs.size,
      s"langs must be non-empty and distinct, got $langs")
    val p = docs.groupBy("source").pivot("lang", langs)
      .agg(count(lit(1)))
    p.select(col("source") +:
        langs.map(l => coalesce(col(s"`$l`"), lit(0L)).as(l)): _*)
      .orderBy("source")
  }

  /** daily_order_summary MV (init.sql:195-206): GROUP BY day+status with
    * COUNT/SUM/AVG/MIN/MAX of total_amount. */
  def dailyOrderSummary(orders: DataFrame): DataFrame =
    orders.groupBy(date_format(col("o_orderdate"), "yyyy-MM-dd").as("order_day"),
        col("o_orderstatus"))
      .agg(
        count(lit(1)).as("order_count"),
        dsum(col("o_totalprice")).as("total_amount"),
        davg(col("o_totalprice")).as("avg_amount"),
        min(col("o_totalprice")).as("min_amount"),
        max(col("o_totalprice")).as("max_amount"))

  /** Trailing moving average over the daily revenue series — the
    * smoothing window every revenue dashboard draws (extends the
    * reference's `daily_order_summary` MV, `init.sql:195-209`, with
    * the time-series view). The frame is a RANGE over the integer DAY
    * index, not ROWS: calendar gaps shorten the window's divisor
    * instead of silently pulling in older rows. Exactness: daily
    * revenue is a decimal rollup; the frame sum stays decimal and
    * casts to double once; the average is that double over the frame's
    * actual day count — one IEEE division per row.
    *
    * Scale shape: the fact collapses to one row per DAY first
    * (map-side partials); the window then runs over the day series — a
    * calendar-bounded tiny table, so the deliberate global ordering is
    * the [[sourceTokenGini]] posture, never a window over fact rows. */
  def movingDailyRevenue(orders: DataFrame, windowDays: Int = 7): DataFrame = {
    require(windowDays >= 1, s"windowDays must be >= 1, got $windowDays")
    val w = org.apache.spark.sql.expressions.Window.orderBy("day")
      .rangeBetween(-(windowDays - 1).toLong, 0L)
    orders.withColumn("__t", tsMicros(orders, "o_orderdate"))
      .groupBy(expr("(__t - pmod(__t, 86400000000)) div 86400000000")
        .as("day"))
      .agg(count(lit(1)).as("n_orders"),
        sum(col("o_totalprice").cast(DecimalType(18, 2))).as("__rev"))
      .select(col("day"),
        date_format(timestamp_micros(col("day") * lit(86400000000L)),
          "yyyy-MM-dd").as("order_day"),
        col("n_orders"),
        col("__rev").cast("double").as("revenue"),
        (sum(col("__rev")).over(w).cast("double") /
          count(lit(1)).over(w)).as(s"ma${windowDays}"))
      .orderBy("day")
  }

  /** Frequent co-occurring item pairs (market-basket association
    * mining, the pair level of Apriori): unordered part pairs appearing
    * together in at least `minSupport` orders, with the co-occurrence
    * count — "bought together" analytics over the order fact. Items
    * dedupe within an order first (two lines of the same part are one
    * basket membership), pairs are canonical (a < b), and ties in the
    * top-k break by the pair.
    *
    * Scale shape: the pair explode is a per-ORDER self-join keyed on
    * the order id — quadratic only in BASKET SIZE (bounded small in any
    * real schema), linear in orders; the support floor collapses hot
    * pairs map-side; top-k rides TakeOrderedAndProject. Never a global
    * item×item matrix. */
  def frequentItemPairs(lineitem: DataFrame, minSupport: Long,
      k: Int): DataFrame = {
    require(k >= 1, s"k must be >= 1, got $k")
    coPurchaseEdges(lineitem, minSupport)
      .select(col("__x").as("part_a"), col("__y").as("part_b"),
        col("__n").as("n_orders"))
      .orderBy(col("n_orders").desc, col("part_a"), col("part_b"))
      .limit(k)
  }

  /** THE co-purchase edge relation — the one pair self-join every
    * basket-graph operator ([[frequentItemPairs]],
    * [[coPurchaseTriangles]], [[coPurchaseDegrees]]) consumes:
    * canonical (`__x < __y`) unordered part pairs co-occurring in
    * `__n >= minSupport` distinct orders. Items dedupe within an order
    * first (two lines of the same part are one basket membership).
    *
    * Scale shape: the explode is a per-ORDER self-join keyed on the
    * order id — quadratic only in BASKET SIZE (bounded small in any
    * real schema), linear in orders; the support floor collapses hot
    * pairs map-side (partial hash agg). The deduped basket relation is
    * localCheckpoint'ed because the self-join reads it twice. Never a
    * global item×item matrix. */
  private[analytics] def coPurchaseEdges(lineitem: DataFrame,
      minSupport: Long): DataFrame = {
    require(minSupport >= 1, s"minSupport must be >= 1, got $minSupport")
    val baskets = lineitem.select(col("l_orderkey").as("__o"),
        col("l_partkey").as("__p")).distinct()
      .localCheckpoint() // the pair self-join reads it twice
    baskets.alias("a").join(baskets.alias("b"), Seq("__o"))
      .filter(col("a.__p") < col("b.__p"))
      .groupBy(col("a.__p").as("__x"), col("b.__p").as("__y"))
      .agg(count(lit(1)).as("__n"))
      .filter(col("__n") >= minSupport)
  }

  /** Statistical anomaly flags over the daily revenue series — days
    * whose revenue deviates more than `sigmas` standard deviations
    * from the TRAILING window's mean (the window EXCLUDES the current
    * day, so a spike can't mask itself), with zero floats in the
    * decision: the σ-test cross-multiplies to integers in cents —
    * `(n·x − S)² > k²·(n·Σx² − S²)` with S, Σx² exact decimal window
    * sums — so the flag is bit-identical in any engine (a sqrt-based
    * z-score could flip on the boundary ulp). Days with fewer than
    * `minPriorDays` of history carry the 'insufficient_history' verdict
    * (the no-evidence-no-flag rule; a three-valued STRING verdict, not
    * a nullable boolean — null booleans render differently across
    * engines). Output keeps the evidence columns so the flag is
    * auditable.
    *
    * Scale shape: same as [[movingDailyRevenue]] — the fact collapses
    * to the calendar-bounded day series before the (deliberately
    * global) RANGE window; one pass, map-side partials. */
  def revenueAnomalies(orders: DataFrame, windowDays: Int = 30,
      sigmas: Int = 2, minPriorDays: Int = 5): DataFrame = {
    require(windowDays >= 2, s"windowDays must be >= 2, got $windowDays")
    require(sigmas >= 1, s"sigmas must be >= 1, got $sigmas")
    require(minPriorDays >= 2, s"minPriorDays must be >= 2, got $minPriorDays")
    // exclude the current day: frame [-windowDays, -1]
    val w = org.apache.spark.sql.expressions.Window.orderBy("day")
      .rangeBetween(-windowDays.toLong, -1L)
    orders.withColumn("__t", tsMicros(orders, "o_orderdate"))
      .groupBy(expr("(__t - pmod(__t, 86400000000)) div 86400000000")
        .as("day"))
      // integer cents: the series' native exact unit
      .agg(sum((col("o_totalprice").cast(DecimalType(18, 2)) * 100)
        .cast("long")).as("__x"))
      .withColumn("__n", count(lit(1)).over(w))
      .withColumn("__s", sum("__x").over(w))
      .withColumn("__s2", sum(dec(col("__x")) * dec(col("__x"))).over(w))
      .select(col("day"),
        date_format(timestamp_micros(col("day") * lit(86400000000L)),
          "yyyy-MM-dd").as("order_day"),
        col("__x").as("revenue_cents"),
        col("__n").as("prior_days"), {
          val lhs = {
            val d0 = dec(col("__n")) * dec(col("__x")) - dec(col("__s"))
            d0 * d0
          }
          val rhs = dec(lit(sigmas.toLong * sigmas)) *
            (dec(col("__n")) * col("__s2") - dec(col("__s")) * dec(col("__s")))
          when(col("__n") < minPriorDays, lit("insufficient_history"))
            .otherwise(when(lhs > rhs, lit("anomaly")).otherwise(lit("normal")))
            .as("verdict")
        })
      .orderBy("day")
  }

  /** product_inventory_status MV (init.sql:211-224): product ⟕ items,
    * grouped counts/sums. Dim side broadcast — fact table never shuffles. */
  def productInventoryStatus(part: DataFrame, lineitem: DataFrame): DataFrame =
    broadcast(part.select(col("p_partkey"), col("p_name"), col("p_retailprice")))
      .join(lineitem.select(col("l_partkey"), col("l_quantity")),
        col("p_partkey") === col("l_partkey"), "left")
      .groupBy(col("p_partkey"), col("p_name"), col("p_retailprice"))
      .agg(
        count(col("l_quantity")).as("item_count"),
        coalesce(dsum(col("l_quantity")), lit(0.0)).as("total_quantity"))

  /** Referential-integrity check (expected_results.sql:224-241): orders ⟕
    * customer ⟕ lineitem with orphan flag + item counts. Customer dim is
    * broadcast; lineitem side is pre-aggregated BEFORE the join so the
    * join input is |orders| not |lineitem|. */
  def referentialIntegrity(orders: DataFrame, customer: DataFrame,
      lineitem: DataFrame): DataFrame = {
    val itemCounts = lineitem.groupBy(col("l_orderkey"))
      .agg(count(lit(1)).as("item_count"))
    orders.select(col("o_orderkey"), col("o_custkey"))
      .join(broadcast(customer.select(col("c_custkey"), col("c_name"))),
        col("o_custkey") === col("c_custkey"), "left")
      .join(itemCounts, col("o_orderkey") === col("l_orderkey"), "left")
      .select(
        col("o_orderkey"),
        when(col("c_custkey").isNull, lit("orphan")).otherwise(lit("ok")).as("customer_link"),
        coalesce(col("item_count"), lit(0L)).as("item_count"))
  }

  /** One expected-vs-actual validation row (init.sql:323-488 shape):
    * `check_name, expected, actual, status`. Tolerance ±0.01 mirrors the
    * revenue checks at init.sql:423-430. */
  def validationRow(checkName: String, expected: DataFrame, actual: DataFrame,
      tolerance: Double = 0.01): DataFrame = {
    val e = expected.columns.head
    val a = actual.columns.head
    expected.select(col(e).cast("double").as("expected"))
      .crossJoin(actual.select(col(a).cast("double").as("actual")))
      .select(
        lit(checkName).as("check_name"),
        col("expected"), col("actual"),
        when(abs(col("expected") - col("actual")) <= lit(tolerance), "PASS")
          .otherwise("FAIL").as("status"))
  }

  /** validation_summary (init.sql:479-488): UNION ALL of category checks. */
  def validationSummary(checks: Seq[DataFrame]): DataFrame =
    checks.reduce(_ unionByName _)

  /** get_replication_completeness (init.sql:524-539): pass % of checks. */
  def completenessPercentage(validation: DataFrame): DataFrame =
    validation.agg(
      round(sum(when(col("status") === "PASS", 1).otherwise(0)).cast("double")
        / count(lit(1)) * 100.0, 2).as("completeness_pct"))

  /** Exact rank-based quantiles (measure-latency.sh:75-79 stats family,
    * made engine-reproducible: picks the element at ceil(q*n) rather than
    * interpolating, so no cross-engine float arithmetic).
    *
    * Distributed: a range-partitioned sort of the VALUES ONLY followed by
    * zipWithIndex (per-partition offsets, no global single-partition
    * window — `row_number() over (order by ...)` would funnel the whole
    * dataset through one task). Only the |qs| picked rows are collected. */
  def rankQuantiles(df: DataFrame, valueCol: String, qs: Seq[Double]): DataFrame = {
    val spark = df.sparkSession
    import spark.implicits._
    val values = df.select(col(valueCol).cast("double").as("v"))
      .filter(col("v").isNotNull) // NULLs have no rank
    val n = values.count()
    if (n == 0) return qs.map(q => (q, Option.empty[Double]))
      .toDF("quantile", "value") // empty input → NULL quantiles, not a crash
    val ranks = qs.map(q => math.max(1L, math.ceil(q * n).toLong)).toSet
    val picked = values.sort(col("v")).as[Double].rdd
      .zipWithIndex()
      .filter { case (_, i) => ranks.contains(i + 1) }
      .collect().map { case (v, i) => (i + 1) -> v }.toMap
    qs.map { q =>
      val r = math.max(1L, math.ceil(q * n).toLong)
      (q, picked(r))
    }.toDF("quantile", "value")
  }

  /** Promotion-window forecast revenue (TPC-H Q6): the single-scan
    * "what would we have earned without these discounts" aggregate —
    * date window, discount band, quantity cap, `Σ extprice·discount`.
    * The whole query is a filter + one 1-row hash agg, nothing shuffles
    * but 1-row partials. The discount band compares in exact
    * DECIMAL(18,2) (the column holds hundredths; a raw double `BETWEEN`
    * would hinge on binary-fraction ulps in both engines) — but Spark
    * will not unwrap a double→decimal cast for parquet pushdown, so a
    * plain RAW-double ENVELOPE `[d−0.011, d+0.011]` (strictly wider
    * than the exact band by half a hundredth, so no true row can sit
    * outside it at any double rounding) goes first: the envelope + date
    * range + quantity cap all reach `PushedFilters` and drive row-group
    * skipping; the decimal band then decides exact membership post-scan.
    * Revenue sums in exact decimal (6dp: price·discount) — the [[dsum]]
    * parity rule.
    *
    * DATA CONTRACT: `l_discount` must hold hundredth-aligned values
    * (the TPC-H domain — 0.00, 0.01, … 0.10). For such data the
    * envelope strictly contains the decimal band's rounding preimage.
    * A raw value that is NOT hundredth-aligned but rounds into the
    * band under DECIMAL(18,2) HALF_UP (e.g. `d + 0.0149`) would pass
    * the decimal test yet fall outside the ±0.011 envelope and be
    * pruned at the scan — widen the envelope to ±(0.015 − ulp) if the
    * column ever carries free-form discounts. */
  def forecastRevenue(lineitem: DataFrame, fromDate: String, toDate: String,
      discount: Double, maxQuantity: Double): DataFrame = {
    require(math.abs(discount * 100 - math.rint(discount * 100)) < 1e-9,
      s"discount must be a whole number of hundredths, got $discount")
    val d = (math.rint(discount * 100) / 100.0)
    lineitem
      .filter(col("l_shipdate") >= lit(fromDate) &&
        col("l_shipdate") < lit(toDate) &&
        col("l_discount").between(lit(d - 0.011), lit(d + 0.011)) &&
        col("l_discount").cast(DecimalType(18, 2))
          .between(lit(d - 0.01).cast(DecimalType(18, 2)),
            lit(d + 0.01).cast(DecimalType(18, 2))) &&
        col("l_quantity") < lit(maxQuantity))
      .agg(coalesce(dsum(col("l_extendedprice") * col("l_discount"), 6),
        lit(0.0)).as("revenue"))
  }

  /** Disjunctive-predicate discounted revenue (TPC-H Q19 shape): the
    * OR-of-ANDs join — revenue from lineitems matching ANY of several
    * (brand, size-range, quantity-range) branches. Plan discipline:
    * `part` pre-filters to the UNION of the branches' brand+size
    * slices and broadcasts (dim-sized); `lineitem` pre-filters to the
    * GLOBAL quantity envelope [min lo, max hi] — a conjunctive bound
    * derived from the disjunction that CAN push to the scan (the OR
    * itself cannot) — then the exact per-branch disjunction applies
    * after the join. Same result, but the fact scan reads only the
    * envelope. Revenue in exact decimal (6dp). */
  def disjunctiveRevenue(part: DataFrame, lineitem: DataFrame,
      branches: Seq[(String, Int, Int, Double, Double)]): DataFrame = {
    require(branches.nonEmpty, "branches must be non-empty")
    val p = broadcast(part
      .filter(branches.map { case (b, sLo, sHi, _, _) =>
        col("p_brand") === lit(b) && col("p_size").between(sLo, sHi)
      }.reduce(_ || _))
      .select("p_partkey", "p_brand", "p_size"))
    val qLo = branches.map(_._4).min
    val qHi = branches.map(_._5).max
    lineitem
      .filter(col("l_quantity").between(lit(qLo), lit(qHi)))
      .select("l_partkey", "l_quantity", "l_extendedprice", "l_discount")
      .join(p, col("l_partkey") === col("p_partkey"))
      .filter(branches.map { case (b, sLo, sHi, lo, hi) =>
        col("p_brand") === lit(b) && col("p_size").between(sLo, sHi) &&
          col("l_quantity").between(lit(lo), lit(hi))
      }.reduce(_ || _))
      .agg(coalesce(dsum(col("l_extendedprice") * (lit(1.0) - col("l_discount")),
        6), lit(0.0)).as("revenue"))
  }

  /** Suppliers who alone missed the shipping SLA on multi-supplier
    * finished orders (TPC-H Q21 shape), for one nation. The classic
    * double-correlated EXISTS / NOT-EXISTS ("some other supplier in
    * the order" / "no other LATE supplier in the order") rewritten as
    * ONE per-order rollup — the at-scale shape: instead of two more
    * fact-fact joins, each (order, supplier) collapses to a late flag,
    * each order to (supplier count, late-supplier count), and the
    * verdict `late ∧ ns > 1 ∧ nl = 1` is a filter. "Late" is
    * `l_shipdate > o_orderdate + slaDays` (this schema carries no
    * commit/receipt dates — the SLA stands in, same plan shape).
    * Plan discipline: orders pre-filters to status 'F' and projects
    * (key, date) before the one fact-fact shuffle join; the nation's
    * supplier list joins broadcast AFTER the rollup (counts first,
    * names last); top-k rides TakeOrderedAndProject. The per-(order,
    * supplier) rollup feeds BOTH the late-filter side and the per-order
    * counts — it is localCheckpoint'ed (the [[columnProfile]]
    * discipline) so the fact-fact join provably runs ONCE rather than
    * relying on ReuseExchange to dedupe two identical subtrees; the
    * caller's transient-storage sweep releases the blocks. */
  def waitingSuppliers(supplier: DataFrame, lineitem: DataFrame,
      orders: DataFrame, nation: DataFrame, nationName: String,
      slaDays: Int, k: Int = 20): DataFrame = {
    require(slaDays >= 0, s"slaDays must be >= 0, got $slaDays")
    require(k >= 1, s"k must be >= 1, got $k")
    val f = orders.filter(col("o_orderstatus") === lit("F"))
      .select("o_orderkey", "o_orderdate")
    val perSupp = lineitem
      .select("l_orderkey", "l_suppkey", "l_shipdate")
      .join(f, col("l_orderkey") === col("o_orderkey"))
      .groupBy("l_orderkey", "l_suppkey")
      .agg(max(when(col("l_shipdate") >
        col("o_orderdate") + expr(s"INTERVAL $slaDays DAYS"), 1L)
        .otherwise(0L)).as("__late"))
      .localCheckpoint() // consumed twice (late side + per-order counts)
    val perOrder = perSupp.groupBy(col("l_orderkey").as("__o"))
      .agg(count(lit(1)).as("__ns"), sum(col("__late")).as("__nl"))
    val s = broadcast(supplier.select("s_suppkey", "s_name", "s_nationkey")
      .join(broadcast(nation.filter(col("n_name") === lit(nationName))
        .select("n_nationkey")),
        col("s_nationkey") === col("n_nationkey"))
      .select("s_suppkey", "s_name"))
    perSupp.filter(col("__late") === 1L)
      .join(perOrder, col("l_orderkey") === col("__o"))
      .filter(col("__ns") > 1L && col("__nl") === 1L)
      .join(s, col("l_suppkey") === col("s_suppkey"))
      .groupBy("s_name")
      .agg(count(lit(1)).as("numwait"))
      .orderBy(col("numwait").desc, col("s_name"))
      .limit(k)
  }

  /** Association rules from market-basket pair counts (the rule level
    * of Apriori, on top of [[frequentItemPairs]]): for every frequent
    * unordered pair {a, b} and BOTH directions a→b, b→a — support
    * count, confidence `n_ab / n_a`, and lift `n_ab · N / (n_a · n_b)`
    * in exact integer ppm (floor division via the subtract-nonnegative-
    * remainder pattern on DECIMAL(38,0) — products pass 2^63 long
    * before any count does at warehouse scale).
    *
    * Scale shape: classic Apriori support pruning runs BEFORE pairing —
    * baskets semi-join to the items with `count >= minSupport`, which is
    * result-invariant (`n_ab <= min(n_a, n_b)`, so an infrequent item
    * cannot appear in a frequent pair) and is what bounds the pair
    * fan-out when a warehouse carries millions of one-off SKUs and a
    * few hot ones. Pair counts are then per-basket self-joins on the
    * pruned baskets (quadratic in PRUNED basket size only — a single
    * basket holding many frequent items is still the irreducible
    * hot-basket cost of pair counting); item counts and the 1-row
    * basket total broadcast onto the pair table; everything after the
    * pair agg is rule-table-sized. Top-k by confidence rides
    * TakeOrderedAndProject. */
  def associationRules(lineitem: DataFrame, minSupport: Long,
      k: Int): DataFrame = {
    require(minSupport >= 1, s"minSupport must be >= 1, got $minSupport")
    require(k >= 1, s"k must be >= 1, got $k")
    // the basket table fans out to FIVE consumers (total, item counts,
    // and the pair self-join's two sides via the pruned table) — left
    // lazy, Spark replans the whole distinct per consumer and the fact
    // scans 7×; materialized once ([[columnProfile]] discipline), the
    // source is read once and every consumer reads the (much smaller)
    // distinct (order, part) blocks. Same for the pruned table, which
    // the self-join consumes twice.
    val baskets = lineitem.select(col("l_orderkey").as("__o"),
      col("l_partkey").as("__p")).distinct()
      .localCheckpoint()
    val total = baskets.agg(countDistinct(col("__o")).as("__nb"))
    val items = baskets.groupBy(col("__p")).agg(count(lit(1)).as("__ni"))
    // Apriori pruning: only frequent items can form frequent pairs
    val pruned = baskets.join(
      items.filter(col("__ni") >= minSupport).select("__p"),
      Seq("__p"), "left_semi")
      .localCheckpoint()
    val pairs = pruned.alias("a").join(pruned.alias("b"), Seq("__o"))
      .filter(col("a.__p") < col("b.__p"))
      .groupBy(col("a.__p").as("__pa"), col("b.__p").as("__pb"))
      .agg(count(lit(1)).as("n_both"))
      .filter(col("n_both") >= minSupport)
    val directed = pairs.select(col("__pa").as("antecedent"),
        col("__pb").as("consequent"), col("n_both"))
      .unionByName(pairs.select(col("__pb").as("antecedent"),
        col("__pa").as("consequent"), col("n_both")))
    directed
      .join(broadcast(items.withColumnRenamed("__p", "antecedent")
        .withColumnRenamed("__ni", "__na")), Seq("antecedent"))
      .join(broadcast(items.withColumnRenamed("__p", "consequent")
        .withColumnRenamed("__ni", "__nc")), Seq("consequent"))
      .crossJoin(broadcast(total))
      .select(col("antecedent"), col("consequent"), col("n_both"),
        fdiv(dec(col("n_both")) * lit(1000000L), dec(col("__na")))
          .as("confidence_ppm"),
        fdiv(dec(col("n_both")) * dec(col("__nb")) * lit(1000000L),
          dec(col("__na")) * dec(col("__nc"))).as("lift_ppm"))
      .orderBy(col("confidence_ppm").desc, col("antecedent"),
        col("consequent"))
      .limit(k)
  }

  /** Hierarchical revenue rollup (GROUP BY ROLLUP): per (ship-year,
    * return-flag), per year, and grand total in ONE aggregation pass —
    * the report-cube shape warehouses run nightly. Spark's `rollup`
    * plans a single Expand + hash agg (3 grouping sets here — NOT one
    * job per level); the rollup's generated NULLs render as 'ALL'
    * (both group keys are non-null by construction, so 'ALL' is
    * unambiguous) and the explicit `level` column (count of rolled-up
    * keys) pins each row's grouping set. Revenue in exact decimal. */
  def revenueRollup(lineitem: DataFrame): DataFrame =
    lineitem
      .select(year(col("l_shipdate")).cast("string").as("__y"),
        col("l_returnflag").as("__f"),
        col("l_extendedprice"), col("l_discount"))
      .rollup("__y", "__f")
      .agg(count(lit(1)).as("n_items"),
        dsum(col("l_extendedprice") * (lit(1.0) - col("l_discount")), 6)
          .as("revenue"),
        (grouping(col("__y")) + grouping(col("__f"))).as("level"))
      .select(coalesce(col("__y"), lit("ALL")).as("ship_year"),
        coalesce(col("__f"), lit("ALL")).as("return_flag"),
        col("level").cast("long").as("level"),
        col("n_items"), col("revenue"))
      .orderBy("level", "ship_year", "return_flag")

  /** Per-brand 2-D skyline (Pareto frontier): the parts not dominated
    * within their brand on (price low, size high) — "cheapest for its
    * size class" catalog analytics. A part r is dominated iff some
    * same-brand s is strictly cheaper with size ≥ r's, or equal-priced
    * with size > r's; equal (price, size) rows are mutually
    * non-dominating and all kept.
    *
    * Scale shape: dominance collapses to the per-(brand, price)
    * max-size table FIRST (bounded domain: price books are small even
    * when catalogs are not — the [[rankCorrelation]] value-table
    * discipline), the prefix max runs as a window over that tiny
    * table partitioned by brand, and parts join back against it
    * broadcast. Never an O(N²) self-join; prices compare in exact
    * integer cents.
    *
    * CARDINALITY ASSUMPTION (unguarded by design): the explicit
    * broadcast is sound only while |brands| × |distinct price cents|
    * stays executor-memory-sized — true for catalog price books (a few
    * thousand price points per brand), NOT for a continuous-valued
    * price column. A caller with near-unique prices must drop to the
    * sort-merge form (remove the hint) — the join key (brand, cents)
    * still makes it an equi-join, just with a fact-sized shuffle. */
  def brandSkyline(part: DataFrame): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("__b").orderBy("__pc2")
      .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding,
        -1)
    val withCents = part.withColumn("__pc",
      (col("p_retailprice").cast(DecimalType(18, 2)) * 100).cast("long"))
    val perPrice = withCents
      .groupBy(col("p_brand").as("__b"), col("__pc").as("__ppc"))
      .agg(max(col("p_size")).as("__mx"))
      .withColumnRenamed("__ppc", "__pc2")
      .withColumn("__runmax", max(col("__mx")).over(w))
    withCents.join(broadcast(perPrice),
        col("p_brand") === col("__b") && col("__pc") === col("__pc2"))
      .filter(col("p_size") === col("__mx") &&
        (col("__runmax").isNull || col("__mx") > col("__runmax")))
      .select(col("p_partkey"), col("p_brand"), col("p_name"),
        col("p_retailprice"), col("p_size"))
      .orderBy("p_brand", "p_retailprice", "p_partkey")
  }

  /** Gap-based sessionization: consecutive events of a user belong to
    * one session while each gap is `<= gapUs` micros; a STRICTLY larger
    * gap opens a new session. Output is one row per session —
    * `(user, session_seq, session_start_us, session_end_us, n_events,
    * duration_us)` with `session_seq` 1-based per user in time order.
    *
    * Tie safety: events at the SAME instant always share a session
    * (their gap is 0) and every tied row receives the same cumulative
    * session number whichever way a window orders them, so the result
    * is deterministic without an id tiebreak. Scale shape: ONE shuffle
    * by user; the lag flag and the running session number share the
    * same (user, time) window sort, and the per-session rollup groups
    * on a superset of the window key — no further exchange. */
  def sessionize(events: DataFrame, userCol: String, tsCol: String,
      gapUs: Long): DataFrame = {
    require(gapUs > 0, s"gapUs must be positive, got $gapUs")
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("__u").orderBy("__t")
    val cum = w.rowsBetween(
      org.apache.spark.sql.expressions.Window.unboundedPreceding, 0)
    events.select(col(userCol).as("__u"), tsMicros(events, tsCol).as("__t"))
      .withColumn("__new",
        when(lag(col("__t"), 1).over(w).isNull ||
          col("__t") - lag(col("__t"), 1).over(w) > gapUs, 1L)
          .otherwise(0L))
      .withColumn("__s", sum(col("__new")).over(cum))
      .groupBy(col("__u"), col("__s"))
      .agg(min(col("__t")).as("session_start_us"),
        max(col("__t")).as("session_end_us"),
        count(lit(1)).as("n_events"))
      .select(col("__u").as(userCol), col("__s").as("session_seq"),
        col("session_start_us"), col("session_end_us"), col("n_events"),
        (col("session_end_us") - col("session_start_us")).as("duration_us"))
      .orderBy(userCol, "session_seq")
  }

  /** Longest consecutive-day activity streak per user (gaps-and-islands):
    * distinct active days, islands by the day-minus-row-number identity,
    * then each user's best island — longest, earliest start on ties.
    * Day arithmetic is INTEGRAL floor division of epoch micros (the
    * [[retentionCohorts]] idiom, pre-1970-safe).
    *
    * Scale shape: the event log collapses to distinct (user, day)
    * FIRST (hash agg with partials — the fact never reaches a window);
    * the island id and per-user best are one window + two hash aggs,
    * all partitioned by user. The negated-start struct max picks the
    * tie-broken best inside a plain `max` accumulator — no second
    * window, no sort. */
  def activityStreaks(events: DataFrame, userCol: String,
      tsCol: String): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("__u").orderBy("__day")
    events.select(col(userCol).as("__u"),
        tsMicros(events, tsCol).as("__tus"))
      .select(col("__u"),
        expr("(__tus - pmod(__tus, 86400000000)) div 86400000000")
          .as("__day"))
      .distinct()
      .withColumn("__isl", col("__day") - row_number().over(w))
      .groupBy(col("__u"), col("__isl"))
      .agg(count(lit(1)).as("__len"), min(col("__day")).as("__start"))
      .groupBy(col("__u"))
      .agg(max(struct(col("__len"), (-col("__start")).as("__negstart")))
        .as("__best"))
      .select(col("__u").as(userCol),
        col("__best.__len").as("streak_days"),
        (-col("__best.__negstart")).as("streak_start_day"))
      .orderBy(userCol)
  }

  /** Peak concurrency over a set of closed intervals `[start, end]`
    * (micros, end inclusive): the sweep-line maximum — how many
    * intervals overlap at the busiest instant, and the earliest such
    * instant. Classic ops question ("peak concurrent sessions") asked
    * at warehouse scale.
    *
    * Scale shape: the global ordered prefix sum — the textbook
    * single-partition window trap — decomposes exactly like
    * [[graft.text.TextAnalysis.systematicResample]]: ±1 deltas collapse
    * per distinct instant (tie-order vanishes BEFORE any ordering),
    * instants land in fixed-span time-range buckets (order-preserving),
    * per-bucket totals come back to the driver (`buckets` rows,
    * bounded), the driver prefix-sums them into per-bucket bases, and
    * each bucket runs its internal cumulative sum in parallel under
    * `partitionBy(bucket)`. The peak probe is a 1-row broadcast join.
    * Nothing ever sorts globally; the sweep table is deltas-sized
    * (2 rows per interval pre-collapse), never corpus-sized. */
  def peakConcurrency(intervals: DataFrame, startCol: String,
      endCol: String, buckets: Int = 256): DataFrame = {
    require(buckets > 0, s"buckets must be positive, got $buckets")
    val deltas = intervals
      .select(col(startCol).cast("long").as("__t"), lit(1L).as("__d"))
      .unionByName(intervals.select((col(endCol).cast("long") + 1)
        .as("__t"), lit(-1L).as("__d")))
      .groupBy("__t").agg(sum(col("__d")).as("__d"))
      .localCheckpoint() // read twice: bucket totals + the bucketed sweep
    val range = deltas.agg(min("__t"), max("__t")).collect()(0)
    if (range.isNullAt(0))
      return deltas.select(col("__d").as("peak_concurrency"),
        col("__t").as("at_ts_us")).limit(0)
    val (minT, maxT) = (range.getLong(0), range.getLong(1))
    val span = ((BigInt(maxT) - BigInt(minT) + buckets) / buckets)
      .max(BigInt(1)).toLong
    val bucketed = deltas.withColumn("__bkt",
      ((col("__t") - lit(minT)) / lit(span)).cast("int"))
    // the global sweep prefix-sum rides the shared bucketed-offset
    // machinery (deltas is checkpointed; the cheap bucket projection
    // recomputes for the util's two reads)
    val (swept, _) = graft.util.GlobalRank.bucketedPrefix(bucketed,
      "__bkt", Seq(col("__t")), "__d", "__cum")
    val cum = swept.select(col("__t"), col("__cum"))
      .localCheckpoint() // read twice: max probe + argmin join
    cum.crossJoin(broadcast(cum.agg(max(col("__cum")).as("__peak"))))
      .filter(col("__cum") === col("__peak"))
      .groupBy(col("__peak").as("peak_concurrency"))
      .agg(min(col("__t")).as("at_ts_us"))
  }

  /** SCD Type-2 intervalization of a change stream: per key, collapse
    * consecutive equal values and emit versioned validity intervals —
    * `(key, value, valid_from_us, valid_to_us, version)`, `valid_to_us`
    * NULL on the current version (half-open `[from, to)` semantics).
    * The CDC-warehouse bridge: an event log becomes the dimension
    * history a warehouse joins `BETWEEN valid_from AND valid_to`.
    *
    * Determinism: rows order by `(ts, idCol)` — the unique id breaks
    * timestamp ties, value comparison is null-safe (`<=>`). Scale
    * shape: one shuffle by key; the change filter, the lead, and the
    * version number all share one (key, ts, id) window sort. */
  def scd2Intervals(events: DataFrame, keyCol: String, tsCol: String,
      valueCol: String, idCol: String): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("__k").orderBy("__t", "__id")
    val base = events.select(col(keyCol).as("__k"),
      tsMicros(events, tsCol).as("__t"), col(idCol).as("__id"),
      col(valueCol).as("__v"))
    base
      // the first row per key is ALWAYS a version — a bare null-safe
      // lag compare would swallow a leading NULL value (null <=> null)
      .withColumn("__chg", row_number().over(w) === 1 ||
        !(col("__v") <=> lag(col("__v"), 1).over(w)))
      .filter(col("__chg"))
      .withColumn("valid_to_us", lead(col("__t"), 1).over(w))
      .withColumn("version", row_number().over(w))
      .select(col("__k").as(keyCol), col("__v").as(valueCol),
        col("__t").as("valid_from_us"), col("valid_to_us"),
        col("version").cast("long").as("version"))
      .orderBy(keyCol, "version")
  }

  /** Point-in-time attribution of a fact stream against the SCD2
    * dimension history built from the same event log — the
    * CDC-to-warehouse bridge (reference semantics:
    * handle-partial-updates.sql:6-54 keeps per-key status history;
    * this answers "which status version was current when the fact
    * happened"): the dimension is [[scd2Intervals]] over every
    * non-`factType` event (status = the event type), and each
    * `factType` fact matches the version whose validity interval
    * contains it — `valid_from_us <= t < valid_to_us`, open current
    * version — with left-outer semantics (`'none'` before the first
    * status change; null version).
    *
    * Scale shape: the interval join is NEVER executed as a range join
    * (`fact ⋈ dim ON t BETWEEN from AND to` explodes to every
    * (fact, interval) pair per key before pruning — quadratic in
    * history length). Because SCD2 intervals partition time per key,
    * "the interval containing t" IS "the greatest valid_from
    * at-or-before t", so attribution rides [[AsofJoin.asofJoin]]'s
    * union + carry-forward window — one key shuffle of narrow rows,
    * linear at any history length. The status value re-attaches by an
    * equi-join on (key, version); the dim is localCheckpoint'ed since
    * both the as-of probe and the re-attach read it. */
  def scd2PointInTime(events: DataFrame, keyCol: String, tsCol: String,
      typeCol: String, idCol: String, factType: String): DataFrame = {
    val dim = scd2Intervals(events.filter(col(typeCol) =!= factType),
        keyCol, tsCol, typeCol, idCol)
      .localCheckpoint() // as-of probe + value re-attach both read it
    val facts = events.filter(col(typeCol) === factType)
    val matched = AsofJoin.asofJoin(facts, dim, keyCol,
      tsCol, "valid_from_us", idCol, "version")
    val dimVal = dim.select(col(keyCol).as("__dk"),
      col("version").as("__dv"), col(typeCol).as("__status"))
    matched
      .join(dimVal, matched(keyCol) === col("__dk") &&
        col("matched_version") === col("__dv"), "left")
      .select(matched(keyCol), col(idCol),
        coalesce(col("__status"), lit("none")).as("status"),
        col("matched_version").as("status_version"))
      .orderBy(keyCol, idCol)
  }

  // Global rank / prefix-sum machinery: promoted to the shared
  // [[graft.util.GlobalRank]] util (it is the engine's signature scale
  // trick — one tested home, four variants). The imports at the top of
  // this file keep the call sites below textually unchanged.

  /** Pareto / ABC classification of parts by revenue: rank every part
    * by exact-cents revenue descending, accumulate the running share,
    * and classify — 'A' while the cumulative share (inclusive) is
    * within `aPct`%, 'B' within `bPct`%, else 'C'. The warehouse
    * 80/15/5 inventory report, decided entirely in integer
    * cross-multiplication (`cum·100 <= total·pct` — no percentage
    * division anywhere).
    *
    * Scale shape: the fact collapses to per-part cents FIRST; rank and
    * running sum over the part-sized table run via
    * [[withGlobalRankAndPrefix]] — range repartition + per-partition
    * windows + driver base offsets, never a single-partition ordered
    * window. Ties rank by part id, so the classification is a total
    * order and engine-independent. Revenue carries in exact integer
    * MICRO-dollars (the 6dp product is exact at 6dp — no rounding step
    * anywhere; the long cum saturates around 9·10¹² corpus dollars,
    * switch the fixed point to cents beyond that). */
  def paretoClasses(lineitem: DataFrame, aPct: Int = 80,
      bPct: Int = 95): DataFrame = {
    require(aPct >= 1 && aPct < bPct && bPct < 100,
      s"need 1 <= aPct < bPct < 100, got $aPct, $bPct")
    val perPart = lineitem.groupBy(col("l_partkey"))
      .agg((sum((col("l_extendedprice") * (lit(1.0) - col("l_discount")))
        .cast(DecimalType(18, 6))) * 1000000)
        .cast("long").as("revenue_fp"))
    val (ranked, _, total) = withGlobalRankAndPrefix(perPart,
      Seq(col("revenue_fp").desc, col("l_partkey")),
      "revenue_fp", "revenue_rank", "cum_fp")
    ranked.withColumn("abc_class",
        when(dec(col("cum_fp")) * 100 <= dec(lit(total)) * aPct, "A")
          .otherwise(
            when(dec(col("cum_fp")) * 100 <= dec(lit(total)) * bPct, "B")
              .otherwise("C")))
      .select(col("l_partkey"), col("revenue_fp"), col("revenue_rank"),
        col("cum_fp"), col("abc_class"))
      .orderBy("revenue_rank")
  }

  /** Daily + rolling-window active users (DAU/WAU): for every observed
    * day, the distinct users active that day and within the trailing
    * `windowDays` window. Exact — and rolling DISTINCT does not
    * decompose into partial aggregates, so the classic trick: each
    * (user, active-day) covers the `windowDays` days it contributes to
    * (a CONSTANT-factor explode, never a day×user join), then one
    * distinct + count per covered day. Days outside the observed range
    * are clipped so the report has no phantom tail.
    *
    * Scale shape: the event log collapses to distinct (user, day)
    * first; the explode multiplies that by `windowDays` (bounded,
    * chosen by the caller); both counts are hash aggs with partials. */
  def rollingActiveUsers(events: DataFrame, userCol: String,
      tsCol: String, windowDays: Int = 7): DataFrame = {
    require(windowDays >= 1, s"windowDays must be >= 1, got $windowDays")
    val userDays = events.select(col(userCol).as("__u"),
        tsMicros(events, tsCol).as("__tus"))
      .select(col("__u"),
        expr("(__tus - pmod(__tus, 86400000000)) div 86400000000")
          .as("__day"))
      .distinct()
      .localCheckpoint() // read 3×: range, DAU, cover explode
    val range = userDays.agg(min("__day").as("__lo"), max("__day").as("__hi"))
    val dau = userDays.groupBy(col("__day"))
      .agg(count(lit(1)).as("dau"))
    val wau = userDays
      .select(col("__u"), explode(sequence(col("__day"),
        col("__day") + (windowDays - 1))).as("__cday"))
      .distinct() // a user active twice inside one window counts once
      .groupBy(col("__cday"))
      .agg(count(lit(1)).as("wau"))
    dau.join(wau, col("__day") === col("__cday"))
      .crossJoin(broadcast(range))
      .filter(col("__day") >= col("__lo") && col("__day") <= col("__hi"))
      .select(col("__day").as("day"), col("dau"), col("wau"))
      .orderBy("day")
  }

  /** Month-over-month revenue growth: exact-cents revenue per calendar
    * month, previous month's figure, and the growth rate in signed
    * integer ppm (floor division — consistent with DuckDB's `//`
    * toward −∞, so a −0.5% month rounds identically in both engines).
    * Months with no predecessor IN THE SERIES report NULLs (no
    * zero-filling of absent months — absence is visible, not
    * interpolated).
    *
    * Scale shape: the fact collapses to the month series first (hash
    * agg with partials); the lag window runs over that bounded
    * calendar-domain table — the [[movingDailyRevenue]] value-series
    * discipline. */
  def monthlyGrowth(orders: DataFrame): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window.orderBy("month")
    val monthly = orders
      .groupBy(date_format(col("o_orderdate"), "yyyy-MM").as("month"))
      .agg(sum((col("o_totalprice").cast(DecimalType(18, 2)) * 100)
        .cast("long")).as("revenue_cents"))
    monthly
      .withColumn("prev_cents", lag(col("revenue_cents"), 1).over(w))
      .withColumn("growth_ppm", {
        val num = dec(col("revenue_cents") - col("prev_cents")) * 1000000
        val den = dec(col("prev_cents"))
        fdiv(num, den)
      })
      .orderBy("month")
  }

  /** Modal order priority per market segment — the per-group MODE with
    * a deterministic tie rule (highest count, then lexicographically
    * smallest priority). The fact collapses to (segment, priority)
    * counts FIRST (hash agg with partials — the mode never sees raw
    * orders), the customer dim joins broadcast, and the argmax runs as
    * a plain `max` over a (count, reversed-priority) ordering struct —
    * no window, no sort. The reversal trick: max of the
    * negated-comparison proxy = min priority; strings reverse via a
    * per-char 255-complement, order-isomorphic for ASCII codes. */
  def modalPriority(orders: DataFrame, customer: DataFrame): DataFrame = {
    val counts = orders
      .join(broadcast(customer.select(col("c_custkey"),
        col("c_mktsegment"))), col("o_custkey") === col("c_custkey"))
      .groupBy(col("c_mktsegment"), col("o_orderpriority"))
      .agg(count(lit(1)).as("__n"))
    // max over (count asc, priority desc-proxy): the dominant priority,
    // ties to the smallest string. The proxy must be order-REVERSING:
    // pad to fixed width (ASCII space < every printable) then negate
    // each code point
    val revProxy = transform(
      split(rpad(col("o_orderpriority"), 20, " "), ""),
      ch => lit(255) - ascii(ch))
    counts.groupBy(col("c_mktsegment"))
      .agg(max(struct(col("__n").as("n"), revProxy.as("rp"),
        col("o_orderpriority").as("p"))).as("__best"))
      .select(col("c_mktsegment"),
        col("__best.p").as("top_priority"), col("__best.n").as("n_orders"))
      .orderBy("c_mktsegment")
  }

  /** Chi-square test of independence between market segment and order
    * priority — the data-quality screen for "is this attribute actually
    * independent of that one". Emits the contingency table with
    * per-cell observed counts, expected counts in exact ppm, and the
    * cell's chi-square contribution, plus the 'TOTAL' row carrying the
    * statistic.
    *
    * Parity discipline: everything stays exact integers until the last
    * two IEEE operations — `d = obs·N − rowTot·colTot` and the
    * denominator are DECIMAL(38,0)-exact, each casts to double once
    * (IEEE nearest, engine-independent), and the cell term is one
    * multiply + one divide; the total then sums cell terms through the
    * [[dsum]] decimal idiom so accumulation order can't move the hash.
    * Scale shape: the contingency table is domain-sized (segments ×
    * priorities); marginals broadcast onto it; the fact is touched once
    * by the counting agg. */
  def chiSquareIndependence(orders: DataFrame,
      customer: DataFrame): DataFrame = {
    val obs = orders
      .join(broadcast(customer.select(col("c_custkey"),
        col("c_mktsegment"))), col("o_custkey") === col("c_custkey"))
      .groupBy(col("c_mktsegment").as("segment"),
        col("o_orderpriority").as("priority"))
      .agg(count(lit(1)).as("observed"))
      .localCheckpoint() // marginals + cells read it
    val rowT = obs.groupBy("segment").agg(sum("observed").as("__rt"))
    val colT = obs.groupBy("priority").agg(sum("observed").as("__ct"))
    val tot = obs.agg(sum("observed").as("__n"))
    val cells = obs
      .join(broadcast(rowT), "segment")
      .join(broadcast(colT), "priority")
      .crossJoin(broadcast(tot))
      .withColumn("expected_ppm",
        fdiv(dec(col("__rt")) * dec(col("__ct")) * 1000000, dec(col("__n"))))
      .withColumn("chi_term", {
        val d = (dec(col("observed")) * dec(col("__n")) -
          dec(col("__rt")) * dec(col("__ct"))).cast("double")
        val den = (dec(col("__n")) * dec(col("__rt")) * dec(col("__ct")))
          .cast("double")
        d * d / den
      })
      .localCheckpoint() // cells + the TOTAL rollup
    cells.select(col("segment"), col("priority"), col("observed"),
        col("expected_ppm"), col("chi_term"))
      .unionByName(cells.agg(dsum(col("chi_term"), 6).as("chi_term"))
        .select(lit("TOTAL").as("segment"), lit("TOTAL").as("priority"),
          lit(null).cast("long").as("observed"),
          lit(null).cast("long").as("expected_ppm"), col("chi_term")))
      .orderBy("segment", "priority")
  }

  /** Join-key skew profile: the top-`k` hottest values of a key column
    * with per-key row counts, corpus share in ppm, and the
    * skew-versus-mean ratio in ppm (`cnt·n_keys·10⁶ / n_rows` — how
    * many times the uniform share this key carries). The
    * pre-flight report behind every salting decision
    * ([[graft.util.Salting]]): a `skew_vs_mean_ppm` in the tens of
    * millions says the key needs salts before it needs a cluster.
    *
    * Scale shape: one hash agg with partials collapses the fact to
    * per-key counts; the two scalar marginals broadcast; top-k rides
    * TakeOrderedAndProject. Integer cross-multiplication throughout. */
  def keySkewProfile(df: DataFrame, keyCol: String, k: Int = 20): DataFrame = {
    require(k >= 1, s"k must be >= 1, got $k")
    val counts = df.groupBy(col(keyCol)).agg(count(lit(1)).as("cnt"))
      .localCheckpoint() // totals + top-k read it
    val totals = counts.agg(sum("cnt").as("__rows"),
      count(lit(1)).as("__keys"))
    counts.crossJoin(broadcast(totals))
      .select(col(keyCol), col("cnt"),
        fdiv(dec(col("cnt")) * 1000000, dec(col("__rows"))).as("share_ppm"),
        fdiv(dec(col("cnt")) * dec(col("__keys")) * 1000000,
          dec(col("__rows"))).as("skew_vs_mean_ppm"))
      .orderBy(col("cnt").desc, col(keyCol))
      .limit(k)
  }

  /** SQL-standard NTILE bucket from a 1-based rank over `n` rows:
    * the first `n % k` buckets carry `n/k + 1` rows, the rest `n/k` —
    * exactly the NTILE distribution, so scores hash-match an engine's
    * native `ntile(k)` under the same total order. */
  private def ntileFromRank(rank: Column, n: Long, k: Int): Column = {
    val base = n / k
    val rem = n % k
    val cut = (base + 1) * rem
    // exact floor division on positive longs (the [[associationRules]]
    // idiom) — a bare `/` would go through doubles
    when(rank <= cut, fdiv(rank - 1, base + 1) + 1)
      .otherwise(lit(rem) + fdiv(rank - lit(cut) - 1, math.max(base, 1L)) + 1)
      .cast("int")
  }

  /** RFM segmentation — the classic customer scoring: per customer
    * Recency (last order day), Frequency (order count), Monetary
    * (exact cents), each scored `ntile(k)` ascending (higher = more
    * recent / more often / more spend), plus the composite `rfm`
    * (`r·100 + f·10 + m` for k ≤ 9). Ties break on the customer key,
    * so every ntile runs over a TOTAL order and the scores are
    * engine-independent.
    *
    * Scale shape: the fact collapses to one row per customer FIRST
    * (hash agg with partials); the three global ntile ranks then run
    * over that customer-sized table via [[withGlobalRank]] — range
    * repartition + per-partition windows + driver prefix offsets —
    * never a single-partition ORDER-BY-everything window. */
  def rfmSegments(orders: DataFrame, custCol: String, dateCol: String,
      priceCol: String, k: Int = 5): DataFrame = {
    require(k >= 1 && k <= 9, s"k must be in [1, 9] for the composite, got $k")
    val perCust = orders.groupBy(col(custCol).as("__c"))
      .agg(max(expr(
        s"(unix_micros(cast($dateCol as timestamp)) - " +
          s"pmod(unix_micros(cast($dateCol as timestamp)), 86400000000)) " +
          "div 86400000000")).as("last_order_day"),
        count(lit(1)).as("frequency"),
        sum((col(priceCol).cast(DecimalType(18, 2)) * 100).cast("long"))
          .as("monetary_cents"))
    val (r1, n) = withGlobalRank(perCust,
      Seq(col("last_order_day"), col("__c")), "__rr")
    val (r2, _) = withGlobalRank(r1,
      Seq(col("frequency"), col("__c")), "__rf")
    val (r3, _) = withGlobalRank(r2,
      Seq(col("monetary_cents"), col("__c")), "__rm")
    r3.select(col("__c").as(custCol), col("last_order_day"),
        col("frequency"), col("monetary_cents"),
        ntileFromRank(col("__rr"), n, k).as("r_score"),
        ntileFromRank(col("__rf"), n, k).as("f_score"),
        ntileFromRank(col("__rm"), n, k).as("m_score"))
      .withColumn("rfm", (col("r_score") * 100 + col("f_score") * 10 +
        col("m_score")).cast("int"))
      .orderBy(custCol)
  }

  /** Triangle census of the co-purchase graph: nodes are parts, edges
    * are part pairs sharing at least `minSupport` orders, and the
    * count is of closed triangles — the clustering signal behind
    * "bought together" bundles. Output: one row
    * `(n_nodes, n_edges, n_triangles)`.
    *
    * Scale shape: the MapReduce triangle-counting discipline (Suri &
    * Vassilvitskii 2011): edges ORIENT from the lower-(degree, id)
    * endpoint to the higher, so every wedge is generated at its
    * lowest-degree vertex — per-vertex wedge work bounds by the
    * oriented out-degree (O(√m) on any graph, hub-proof where a
    * natural-direction self-join is quadratic in the hub degree). The
    * support floor bounds the edge set itself (the [[associationRules]]
    * Apriori argument). Wedges close against the oriented edge set by
    * one equi-join; the total is orientation-invariant, so the oracle
    * counts the same triangles off the plain `a<b<c` form. Edge and
    * degree tables are consumed repeatedly → materialized once. */
  def coPurchaseTriangles(lineitem: DataFrame,
      minSupport: Long): DataFrame = {
    val (edges, deg, oriented) = coPurchaseOriented(lineitem, minSupport)
    val wedges = orientedWedges(oriented)
    val triangles = wedges.join(oriented
        .select(col("__s").as("__ws"), col("__d").as("__wd")),
      Seq("__ws", "__wd"), "left_semi")
    triangles.agg(count(lit(1)).as("n_triangles"))
      .crossJoin(broadcast(deg.agg(count(lit(1)).as("n_nodes"))))
      .crossJoin(broadcast(edges.agg(count(lit(1)).as("n_edges"))))
      .select(col("n_nodes"), col("n_edges"), col("n_triangles"))
  }

  /** Degree-ordered orientation of the [[coPurchaseEdges]] graph —
    * (edges, degrees, oriented edges `__s → __d` with the destination's
    * `(degree, id)` ordering struct `__dord`). Both materialized
    * relations are localCheckpoint'ed: edges feed degrees + orientation
    * + the census count, oriented feeds the wedge self-join + closure
    * probe. Shared by [[coPurchaseTriangles]] and the
    * [[coPurchaseWedgeCount]] workload probe. */
  private def coPurchaseOriented(lineitem: DataFrame,
      minSupport: Long): (DataFrame, DataFrame, DataFrame) = {
    val edges = coPurchaseEdges(lineitem, minSupport)
      .select("__x", "__y")
      .localCheckpoint() // degrees + orientation + wedge closure
    val deg = edges.select(col("__x").as("__v"))
      .unionByName(edges.select(col("__y").as("__v")))
      .groupBy("__v").agg(count(lit(1)).as("__deg"))
    // orient by (degree, id): src is the smaller endpoint in that order
    def ord(d: Column, v: Column) = struct(d.as("d"), v.as("v"))
    val xOrd = ord(col("__dx"), col("__x"))
    val yOrd = ord(col("__dy"), col("__y"))
    val oriented = edges
      .join(deg.select(col("__v").as("__x"), col("__deg").as("__dx")), "__x")
      .join(deg.select(col("__v").as("__y"), col("__deg").as("__dy")), "__y")
      .select(
        when(xOrd < yOrd, col("__x")).otherwise(col("__y")).as("__s"),
        when(xOrd < yOrd, col("__y")).otherwise(col("__x")).as("__d"),
        when(xOrd < yOrd, yOrd).otherwise(xOrd).as("__dord"))
      .localCheckpoint() // wedge self-join + closure probe
    (edges, deg, oriented)
  }

  /** Wedges generated at the lowest-(degree, id) vertex of each edge —
    * the Suri–Vassilvitskii candidate set [[coPurchaseTriangles]]
    * closes against the edge relation. Keeps the apex `__s` (the
    * clustering family needs all three triangle corners); count/semi
    * consumers are unaffected by the extra column. */
  private def orientedWedges(oriented: DataFrame): DataFrame =
    oriented.alias("e1").join(oriented.alias("e2"), Seq("__s"))
      .filter(col("e1.__dord") < col("e2.__dord"))
      .select(col("__s"), col("e1.__d").as("__ws"), col("e2.__d").as("__wd"))

  /** The triangle census' WORKLOAD check: the exact number of oriented
    * wedges the closure join probes — the candidate volume the
    * "per-vertex wedge work bounds by the oriented out-degree (O(√m))"
    * claim bounds. Recorded beside [[coPurchaseTriangles]]' wall time
    * in ScaleBench so the organic table carries wall-vs-candidate-work
    * for the graph family like it does for retrieval (q90) and dedup
    * (q36/q48). */
  def coPurchaseWedgeCount(lineitem: DataFrame, minSupport: Long): Long = {
    val (_, _, oriented) = coPurchaseOriented(lineitem, minSupport)
    orientedWedges(oriented).count()
  }

  /** Per-vertex local clustering coefficient of the co-purchase graph:
    * for each part with degree ≥ 2, the fraction of its neighbor pairs
    * that are themselves connected — `2·t(v) / (deg(v)·(deg(v)−1))` in
    * floored integer ppm — the are-my-neighbors-a-community signal
    * that separates hub parts (low cc) from bundle parts (high cc).
    * Output: `(l_partkey, degree, n_triangles, clustering_ppm)`.
    *
    * Scale shape: triangles enumerate ONCE via the same degree-ordered
    * Suri–Vassilvitskii wedge closure as [[coPurchaseTriangles]]
    * (wedge work bounded by oriented out-degree, hub-proof), then
    * explode to their 3 vertices — 3·t rows, triangle-bounded; the cc
    * arithmetic is exact integer cross-multiplication. */
  def coPurchaseClustering(lineitem: DataFrame,
      minSupport: Long): DataFrame = {
    val (_, deg, oriented) = coPurchaseOriented(lineitem, minSupport)
    val wedges = orientedWedges(oriented)
    // the closing edge, if present, is oriented __ws → __wd (the wedge
    // orders its endpoints by the same (degree, id) key the
    // orientation uses) — the coPurchaseTriangles closure, kept inner
    // so each triangle row explodes to its 3 vertices exactly once
    val triVerts = wedges
      .join(oriented.select(col("__s").as("__ws"), col("__d").as("__wd")),
        Seq("__ws", "__wd"))
      .select(explode(array(col("__s"), col("__ws"), col("__wd"))).as("__v"))
      .groupBy("__v").agg(count(lit(1)).as("n_triangles"))
    deg.filter(col("__deg") >= 2)
      .join(triVerts, Seq("__v"), "left")
      .select(col("__v").as("l_partkey"), col("__deg").as("degree"),
        coalesce(col("n_triangles"), lit(0L)).as("n_triangles"))
      .withColumn("clustering_ppm",
        fdiv(dec(col("n_triangles")) * 2000000,
          dec(col("degree")) * dec(col("degree") - 1)))
      .orderBy("l_partkey")
  }

  /** Workload probe for the degree family: the EDGE count of the shared
    * co-purchase relation — [[coPurchaseDegrees]]' true input volume
    * (each edge feeds exactly two endpoint increments), recorded beside
    * its wall time in ScaleBench so the scale table shows wall tracking
    * edges, not parts². */
  def coPurchaseEdgeCount(lineitem: DataFrame, minSupport: Long): Long =
    coPurchaseEdges(lineitem, minSupport).count()

  /** Min-cost supplier per part within a region (TPC-H Q2 shape): for
    * every part of the given size and type, the cheapest regional
    * supplier — cost observed from the fact as the minimum
    * `l_extendedprice` any line ever paid that (part, supplier) pair
    * (exact double MIN, no division, engine-independent).
    *
    * Scale shape — Q2's correlated `= (SELECT min ...)` subquery never
    * becomes a second fact pass: the fact collapses ONCE to
    * per-(part, supplier) min cost (hash agg with partials), the
    * regional supplier scope (supplier ⋈ nation ⋈ region, dim-sized)
    * broadcast-semi-joins it, and the per-part argmin is a `min` over a
    * (cost, suppkey) ordering struct — no window, no join-back
    * self-join. Part and supplier attributes re-attach by broadcast.
    * Ties break to the smallest supplier key. */
  def minCostSupplier(part: DataFrame, supplier: DataFrame,
      nation: DataFrame, region: DataFrame, lineitem: DataFrame,
      regionName: String, size: Int, partType: String): DataFrame = {
    val scope = supplier
      .join(broadcast(nation), col("s_nationkey") === col("n_nationkey"))
      .join(broadcast(region.filter(col("r_name") === lit(regionName))),
        col("n_regionkey") === col("r_regionkey"))
      .select(col("s_suppkey"), col("s_name"), col("s_acctbal"),
        col("n_name"))
    val parts = part
      .filter(col("p_size") === lit(size) && col("p_type") === lit(partType))
      .select(col("p_partkey"), col("p_name"), col("p_brand"))
    val costs = lineitem
      .groupBy(col("l_partkey"), col("l_suppkey"))
      .agg(min(col("l_extendedprice")).as("__cost"))
      .join(broadcast(parts), col("l_partkey") === col("p_partkey"))
      .join(broadcast(scope.select(col("s_suppkey"))),
        col("l_suppkey") === col("s_suppkey"), "left_semi")
    costs
      .groupBy(col("p_partkey"), col("p_name"), col("p_brand"))
      .agg(min(struct(col("__cost").as("c"), col("l_suppkey").as("k")))
        .as("__best"))
      .select(col("p_partkey"), col("p_name"), col("p_brand"),
        col("__best.c").as("min_cost"), col("__best.k").as("s_suppkey"))
      .join(broadcast(scope), Seq("s_suppkey"))
      .select(col("s_acctbal"), col("s_name"), col("n_name"),
        col("p_partkey"), col("p_name"), col("p_brand"),
        col("min_cost"))
      .orderBy(col("s_acctbal").desc, col("n_name"), col("s_name"),
        col("p_partkey"))
  }

  /** Supplier count per product class (TPC-H Q16 shape): for every
    * (brand, type, size) outside an excluded brand/type-prefix/size
    * list, how many DISTINCT suppliers ship the part — suppliers in
    * deficit (negative account balance, the complaints-exclusion
    * analog) do not count.
    *
    * Scale shape: the fact first collapses to DISTINCT
    * (part, supplier) pairs (hash agg with partials — raw line volume
    * never reaches a join), the deficit suppliers anti-join broadcast,
    * part attributes attach broadcast with the class exclusions pushed
    * to the dim scan, and the final count-distinct is a hash agg over
    * the already-deduplicated pairs. */
  def supplierClassCount(part: DataFrame, supplier: DataFrame,
      lineitem: DataFrame, excludeBrand: String, excludeTypePrefix: String,
      sizes: Seq[Int]): DataFrame = {
    require(sizes.nonEmpty, "sizes must be non-empty")
    val classes = part
      .filter(col("p_brand") =!= lit(excludeBrand) &&
        !col("p_type").startsWith(excludeTypePrefix) &&
        col("p_size").isin(sizes.map(Integer.valueOf): _*))
      .select(col("p_partkey"), col("p_brand"), col("p_type"), col("p_size"))
    val deficit = supplier.filter(col("s_acctbal") < 0)
      .select(col("s_suppkey"))
    lineitem
      .select(col("l_partkey"), col("l_suppkey")).distinct()
      .join(broadcast(deficit),
        col("l_suppkey") === col("s_suppkey"), "left_anti")
      .join(broadcast(classes), col("l_partkey") === col("p_partkey"))
      .groupBy(col("p_brand"), col("p_type"), col("p_size"))
      .agg(countDistinct(col("l_suppkey")).as("supplier_cnt"))
      .orderBy(col("supplier_cnt").desc, col("p_brand"), col("p_type"),
        col("p_size"))
  }

  /** Dominant suppliers (TPC-H Q20 shape): suppliers who shipped more
    * than `thresholdPpm` parts-per-million of some matching part's
    * total quantity inside a date window — the Q20 "stocked more than
    * half of what moved" EXISTS, with the share test in exact integer
    * cross-multiplication over decimal quantities.
    *
    * Scale shape — the nested per-part aggregate never re-scans the
    * fact: one date-pruned pass collapses it to per-(part, supplier)
    * quantity sums (hash agg with partials, decimal-exact), per-part
    * totals come from a window over THAT already-aggregated relation
    * (one partkey shuffle of pair-sized rows), and the surviving
    * supplier keys semi-join the dim. The part-name scope broadcasts
    * onto the pair relation before the window, so totals only cover
    * in-scope parts. */
  def dominantSuppliers(part: DataFrame, supplier: DataFrame,
      nation: DataFrame, lineitem: DataFrame, namePrefix: String,
      fromDate: String, toDate: String, thresholdPpm: Long): DataFrame = {
    require(thresholdPpm >= 1 && thresholdPpm <= 1000000,
      s"thresholdPpm must be in [1, 1000000], got $thresholdPpm")
    def qtyDec(c: Column) = c.cast(DecimalType(38, 2))
    val scoped = part.filter(col("p_name").startsWith(namePrefix))
      .select(col("p_partkey"))
    val pairQty = lineitem
      .filter(col("l_shipdate") >= lit(fromDate) &&
        col("l_shipdate") < lit(toDate))
      .join(broadcast(scoped), col("l_partkey") === col("p_partkey"),
        "left_semi")
      .groupBy(col("l_partkey"), col("l_suppkey"))
      .agg(sum(qtyDec(col("l_quantity"))).as("__qty"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("l_partkey"))
    val withTotal = pairQty.withColumn("__tot", sum(col("__qty")).over(w))
    val dominant = withTotal
      .filter(col("__qty").cast(DecimalType(38, 2)) * lit(1000000) >
        col("__tot").cast(DecimalType(38, 2)) * lit(thresholdPpm))
      .select(col("l_suppkey")).distinct()
    supplier
      .join(dominant, col("s_suppkey") === col("l_suppkey"), "left_semi")
      .join(broadcast(nation), col("s_nationkey") === col("n_nationkey"))
      .select(col("s_suppkey"), col("s_name"), col("n_name"))
      .orderBy(col("s_suppkey"))
  }

  /** CUSUM change-point statistic over the daily revenue series — the
    * sustained-shift detector that complements [[revenueAnomalies]]'
    * single-day σ-test: a run of slightly-elevated days that never
    * trips a z-score accumulates here. Uses the max-reset-free
    * identity `cusum⁺_t = P_t − min_{j≤t} P_j` (and mirrored for
    * cusum⁻) where `P_t = Σ dev_j`, so the inherently recursive CUSUM
    * becomes two plain prefix windows. Zero floats in the statistic:
    * deviations are pre-scaled by the day count — `dev'_t = n·x_t − T`
    * (exact integers summing to zero) — so no mean division ever
    * happens; the output statistic divides back to cents by floor at
    * the very end. Verdict is a three-valued STRING ('shift_up' /
    * 'shift_down' / 'ok'), never a nullable boolean.
    *
    * Scale shape: the fact collapses to the calendar-bounded day
    * series first (hash agg with partials); the two prefix windows run
    * over that bounded series — the [[movingDailyRevenue]] global-
    * window discipline. Scaled sums ride DECIMAL(38,0): `n·prefix`
    * reaches day_count × total_cents, past 2^63 at warehouse scale. */
  def cusumShift(orders: DataFrame, thresholdCents: Long): DataFrame = {
    require(thresholdCents >= 1, s"thresholdCents must be >= 1, got $thresholdCents")
    val daily = orders.withColumn("__t", tsMicros(orders, "o_orderdate"))
      .groupBy(expr("(__t - pmod(__t, 86400000000)) div 86400000000")
        .as("day"))
      .agg(sum((col("o_totalprice").cast(DecimalType(18, 2)) * 100)
        .cast("long")).as("x"))
    val w = org.apache.spark.sql.expressions.Window.orderBy("day")
      .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding, 0)
    val tot = org.apache.spark.sql.expressions.Window
      .partitionBy(lit(1)) // whole (bounded) series: n and T
    daily
      .withColumn("__n", count(lit(1)).over(tot))
      .withColumn("__T", sum(col("x")).over(tot))
      .withColumn("__P", sum(dec(col("x")) * dec(col("__n"))).over(w) -
        dec(col("__T")) * dec(count(lit(1)).over(w)))
      .withColumn("cusum_pos_cents",
        fdiv(col("__P") - min(col("__P")).over(w), dec(col("__n"))))
      .withColumn("cusum_neg_cents",
        fdiv(max(col("__P")).over(w) - col("__P"), dec(col("__n"))))
      .select(
        date_format(timestamp_micros(col("day") * lit(86400000000L)),
          "yyyy-MM-dd").as("order_day"),
        (col("x").cast(DecimalType(38, 2)) / 100).cast("double")
          .as("revenue"),
        col("cusum_pos_cents"), col("cusum_neg_cents"),
        when(col("cusum_pos_cents") > thresholdCents &&
             col("cusum_pos_cents") >= col("cusum_neg_cents"), "shift_up")
          .when(col("cusum_neg_cents") > thresholdCents, "shift_down")
          .otherwise("ok").as("verdict"))
      .orderBy("order_day")
  }

  /** Repeat-purchase intervals per market segment: the gap in days
    * between a customer's consecutive orders, rolled up per segment as
    * count / mean / exact lower-median / exact p90 — the
    * inter-purchase-time table behind churn and replenishment models.
    * Mean is one IEEE division of exact integers; median and p90 come
    * from the bounded (segment, gap) HISTOGRAM, not a per-row rank —
    * the smallest gap whose running count reaches ⌈q·n⌉ (the [[q9
    * rankQuantiles]] pick, grouped).
    *
    * Scale shape: the per-customer lag window partitions on the
    * customer key (key-partitioned shuffle, no global sort); gaps then
    * collapse to the (segment, gap_days) histogram — bounded by
    * |segments| × calendar days regardless of order volume — and every
    * window after that runs on the histogram. Customer dim joins
    * broadcast. */
  def repeatIntervals(orders: DataFrame, customer: DataFrame): DataFrame = {
    val wc = org.apache.spark.sql.expressions.Window
      .partitionBy("o_custkey").orderBy("__day", "o_orderkey")
    val gaps = orders.withColumn("__t", tsMicros(orders, "o_orderdate"))
      .withColumn("__day", expr("(__t - pmod(__t, 86400000000)) div 86400000000"))
      .withColumn("gap", col("__day") - lag(col("__day"), 1).over(wc))
      .filter(col("gap").isNotNull)
      .join(broadcast(customer.select(col("c_custkey"), col("c_mktsegment"))),
        col("o_custkey") === col("c_custkey"))
    val hist = gaps.groupBy(col("c_mktsegment").as("segment"), col("gap"))
      .agg(count(lit(1)).as("cnt"))
    val ws = org.apache.spark.sql.expressions.Window
      .partitionBy("segment").orderBy("gap")
      .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding, 0)
    val wseg = org.apache.spark.sql.expressions.Window.partitionBy("segment")
    hist
      .withColumn("__cum", sum(col("cnt")).over(ws))
      .withColumn("__n", sum(col("cnt")).over(wseg))
      .withColumn("__sum", sum(dec(col("gap") * col("cnt"))).over(wseg))
      .groupBy(col("segment"))
      .agg(
        max(col("__n")).as("n_intervals"),
        (max(col("__sum")).cast("double") / max(col("__n")))
          .as("mean_days"),
        min(when(col("__cum") * 2 >= col("__n"), col("gap")))
          .as("median_days"),
        min(when(col("__cum") * 10 >= col("__n") * 9, col("gap")))
          .as("p90_days"))
      .orderBy("segment")
  }

  /** Degree distribution of the co-purchase graph: how many parts have
    * exactly `d` distinct "bought together" partners, over the edge
    * set of [[frequentItemPairs]] (pairs co-occurring in ≥ `minSupport`
    * orders) — the one-glance shape check (hub-dominated vs uniform)
    * that decides whether downstream graph ops need skew handling.
    *
    * Scale shape: pair generation is the per-order self-join (quadratic
    * in basket size only); edges collapse to per-part degree counts
    * (hash agg), degrees to the degree histogram — output is bounded by
    * the max degree. The fact is never re-scanned after the first
    * basket dedup. */
  def coPurchaseDegrees(lineitem: DataFrame, minSupport: Long): DataFrame = {
    val pairs = coPurchaseEdges(lineitem, minSupport)
      .localCheckpoint() // both endpoints of every edge feed the union
    pairs.select(col("__x").as("part")).union(pairs.select(col("__y")))
      .groupBy("part").agg(count(lit(1)).as("degree"))
      .groupBy("degree").agg(count(lit(1)).as("n_parts"))
      .orderBy("degree")
  }

  /** Equi-depth value deciles of the order book: NTILE(k) over the
    * total (price, key) order, with per-decile count, min/max price,
    * and exact-decimal revenue share — the value-segmentation table
    * ("what does our p90 order look like") and the empirical CDF in k
    * rows. Prices compare in exact cents; the revenue sum follows the
    * [[dsum]] parity rule.
    *
    * Scale shape: the global rank comes from [[withGlobalRank]] (range
    * repartition + per-partition windows + driver prefix offsets over
    * one row per partition) — never a single-partition ORDER BY
    * window; [[ntileFromRank]] reproduces engine NTILE exactly from
    * that rank, and the k-row rollup is a plain hash agg. */
  def valueDeciles(orders: DataFrame, k: Int = 10): DataFrame = {
    require(k >= 1, s"k must be >= 1, got $k")
    val priced = orders.select(col("o_orderkey"),
      col("o_totalprice").cast(DecimalType(18, 2)).as("__price"))
    val (ranked, n) = withGlobalRank(priced,
      Seq(col("__price"), col("o_orderkey")), "__rank")
    ranked
      .withColumn("decile", ntileFromRank(col("__rank"), n, k))
      .groupBy("decile")
      .agg(count(lit(1)).as("n_orders"),
        min(col("__price")).cast("double").as("min_price"),
        max(col("__price")).cast("double").as("max_price"),
        sum(col("__price")).cast("double").as("total_price"))
      .orderBy("decile")
  }

  /** Supplier revenue concentration per nation — Herfindahl–Hirschman
    * index in exact integer ppm: per-supplier revenue shares (floored
    * ppm of the nation total), HHI = Σ share² / 10⁶, plus the top
    * share — the market-structure audit ("is this nation's supply one
    * vendor in a trench coat"). All arithmetic is integer
    * cross-multiplication; revenue accumulates in exact DECIMAL(38,6)
    * micros so shares are partition-order-independent.
    *
    * Scale shape: the fact collapses to one row per supplier FIRST
    * (hash agg with partials — the [[rfmSegments]] discipline), dims
    * join broadcast, and the per-nation share window runs over the
    * supplier-sized rollup. Share squares ride DECIMAL(38,0) (ppm² ×
    * suppliers passes 2^63). */
  def supplierHhi(supplier: DataFrame, nation: DataFrame,
      lineitem: DataFrame): DataFrame = {
    val perSupp = lineitem
      .groupBy(col("l_suppkey"))
      .agg(sum((col("l_extendedprice").cast(DecimalType(18, 2)) *
        (lit(1).cast(DecimalType(18, 2)) -
          col("l_discount").cast(DecimalType(18, 2))))
        .cast(DecimalType(38, 6))).as("__rev"))
      .withColumn("__rev_us", dec(col("__rev") * 1000000))
    val wn = org.apache.spark.sql.expressions.Window.partitionBy("n_name")
    perSupp
      .join(broadcast(supplier.select(col("s_suppkey"), col("s_nationkey"))),
        col("l_suppkey") === col("s_suppkey"))
      .join(broadcast(nation.select(col("n_nationkey"), col("n_name"))),
        col("s_nationkey") === col("n_nationkey"))
      .withColumn("__share_ppm",
        fdiv(col("__rev_us") * 1000000, sum(col("__rev_us")).over(wn)))
      .groupBy(col("n_name"))
      .agg(count(lit(1)).as("n_suppliers"),
        sum(col("__rev")).cast("double").as("total_revenue"),
        max(col("__share_ppm")).as("top_share_ppm"),
        fdiv(sum(dec(col("__share_ppm")) * dec(col("__share_ppm"))),
          dec(lit(1000000))).as("hhi_ppm"))
      .orderBy("n_name")
  }

  /** Important parts by value share (TPC-H Q11 shape, re-expressed
    * over the fact since this schema carries no partsupp): per part,
    * the revenue attributable to the named nation's suppliers, keeping
    * parts whose share exceeds `meanMultiple` × the MEAN per-part
    * share — the concentrated-inventory audit, with a threshold that
    * stays meaningful at any catalog size (Q11's fixed `0.0001/SF`
    * fraction is this same scaling, hand-tuned). Completes the
    * 22-shape TPC-H sweep together with [[priorityByFlag]].
    *
    * Scale shape — Q11's scalar HAVING subquery never re-scans the
    * fact: the fact collapses ONCE to per-part exact-decimal value
    * (suppliers scoped by a broadcast dim semi-join), the (total,
    * count) is a 1-row aggregate of THAT rollup cross-joined back
    * broadcast, and the mean test cross-multiplies decimals
    * (`v·n > K·total` — no division in the predicate). Share renders
    * in floored integer ppm. */
  def importantParts(lineitem: DataFrame, supplier: DataFrame,
      nation: DataFrame, nationName: String,
      meanMultiple: Int): DataFrame = {
    require(meanMultiple >= 1, s"meanMultiple must be >= 1, got $meanMultiple")
    val scope = supplier
      .join(broadcast(nation.filter(col("n_name") === lit(nationName))),
        col("s_nationkey") === col("n_nationkey"))
      .select(col("s_suppkey"))
    val perPart = lineitem
      .join(broadcast(scope), col("l_suppkey") === col("s_suppkey"),
        "left_semi")
      .groupBy(col("l_partkey"))
      .agg(sum((col("l_extendedprice").cast(DecimalType(18, 2)) *
        (lit(1).cast(DecimalType(18, 2)) -
          col("l_discount").cast(DecimalType(18, 2))))
        .cast(DecimalType(38, 6))).as("__v"))
      .localCheckpoint() // the 1-row total + the share filter both read it
    val total = perPart.agg(sum(col("__v")).as("__t"),
      count(lit(1)).as("__n"))
    perPart.crossJoin(broadcast(total))
      .filter(dec(col("__v") * 1000000) * dec(col("__n")) >
        dec(col("__t") * 1000000) * meanMultiple)
      .select(col("l_partkey"),
        col("__v").cast("double").as("value"),
        fdiv(dec(col("__v") * 1000000) * 1000000,
          dec(col("__t") * 1000000)).as("share_ppm"))
      .orderBy(col("share_ppm").desc, col("l_partkey"))
  }

  /** High-vs-low priority line counts per return flag in a ship-date
    * window (TPC-H Q12 shape over this schema's columns — the flag
    * plays shipmode's role): did late/returned shipments skew toward
    * urgent orders. The CASE-sum pivot runs map-side. A NULL priority
    * counts as LOW (the `otherwise` arm — pinned explicitly, because
    * `when(!high, 1)` would send NULL to neither bucket while SQL's
    * `CASE ... ELSE` sends it to low: every row lands in exactly one
    * bucket on both engines).
    *
    * Scale shape: the date window and the two projected columns push
    * to the fact scan; the order dim projects to (key, priority)
    * before the join (the only shuffle — Q12's irreducible
    * fact ⋈ orders); the flag rollup is a 3-row hash agg with
    * partials. */
  def priorityByFlag(orders: DataFrame, lineitem: DataFrame,
      fromDate: String, toDate: String): DataFrame = {
    val high = col("o_orderpriority").isin("1-URGENT", "2-HIGH")
    lineitem
      .filter(col("l_shipdate") >= lit(fromDate).cast("timestamp") &&
        col("l_shipdate") < lit(toDate).cast("timestamp"))
      .select(col("l_orderkey"), col("l_returnflag"))
      .join(orders.select(col("o_orderkey"), col("o_orderpriority")),
        col("l_orderkey") === col("o_orderkey"))
      .groupBy(col("l_returnflag"))
      .agg(sum(when(high, 1L).otherwise(0L)).as("high_priority"),
        sum(when(high, 0L).otherwise(1L)).as("low_priority"))
      .orderBy("l_returnflag")
  }

  /** Monthly returned-revenue rate: per ship month, total revenue,
    * revenue on returned lines (`l_returnflag = 'R'`), and the return
    * rate in floored integer ppm — the quality-of-sales trend line.
    * Revenue accumulates in exact micros (the [[supplierHhi]] fixed
    * point) so the rate is partition-order-independent.
    *
    * Scale shape: ONE fact scan, both legs of the split as conditional
    * sums inside one hash agg with map-side partials, output bounded by
    * the calendar. */
  def returnRate(lineitem: DataFrame): DataFrame = {
    val rev = (col("l_extendedprice").cast(DecimalType(18, 2)) *
      (lit(1).cast(DecimalType(18, 2)) -
        col("l_discount").cast(DecimalType(18, 2))))
      .cast(DecimalType(38, 6))
    lineitem
      .groupBy(date_format(col("l_shipdate"), "yyyy-MM").as("month"))
      .agg(sum(rev).as("__tot"),
        sum(when(col("l_returnflag") === "R", rev)
          .otherwise(lit(0).cast(DecimalType(38, 6)))).as("__ret"))
      .select(col("month"),
        col("__tot").cast("double").as("total_revenue"),
        col("__ret").cast("double").as("returned_revenue"),
        // zero-total months (all-zero prices / fully discounted) pin to
        // NULL explicitly: Spark's pmod-based floor-div yields NULL on
        // /0 while SQL integer `//` raises — the degenerate case must
        // not diverge across engines
        when(col("__tot") === 0, lit(null).cast("long"))
          .otherwise(fdiv(dec(col("__ret") * 1000000) * 1000000,
            dec(col("__tot") * 1000000))).as("return_rate_ppm"))
      .orderBy("month")
  }

  /** Order-to-ship latency trend: per order month, the distribution of
    * days between order date and line ship date — count, exact mean,
    * exact lower-median and p90 — the fulfilment-SLA dashboard
    * ([[repeatIntervals]]' histogram-quantile discipline keyed by
    * month). Mean is one IEEE division of exact integers; the
    * quantiles come from the bounded (month, gap) histogram via
    * running-count picks, never a per-row rank.
    *
    * Scale shape: the only line-level work is the fact ⋈ orders
    * equi-join (Q12's irreducible shuffle; both sides project to two
    * columns first) and a hash agg collapsing straight to the
    * months × gap-days-bounded histogram; every window after runs on
    * the histogram. */
  def shipLatency(orders: DataFrame, lineitem: DataFrame): DataFrame = {
    val oday = dayNum(unix_micros(col("o_orderdate").cast("timestamp")))
    val sday = dayNum(unix_micros(col("l_shipdate").cast("timestamp")))
    val gaps = lineitem.select(col("l_orderkey"), sday.as("__sd"))
      .join(orders.select(col("o_orderkey"),
        oday.as("__od"),
        date_format(col("o_orderdate"), "yyyy-MM").as("__m")),
        col("l_orderkey") === col("o_orderkey"))
      .select(col("__m"), (col("__sd") - col("__od")).as("gap"))
    val hist = gaps.groupBy(col("__m").as("month"), col("gap"))
      .agg(count(lit(1)).as("cnt"))
    val ws = org.apache.spark.sql.expressions.Window
      .partitionBy("month").orderBy("gap")
      .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding, 0)
    val wm = org.apache.spark.sql.expressions.Window.partitionBy("month")
    hist
      .withColumn("__cum", sum(col("cnt")).over(ws))
      .withColumn("__n", sum(col("cnt")).over(wm))
      .withColumn("__sum", sum(dec(col("gap") * col("cnt"))).over(wm))
      .groupBy(col("month"))
      .agg(
        max(col("__n")).as("n_lines"),
        (max(col("__sum")).cast("double") / max(col("__n")))
          .as("mean_days"),
        min(when(col("__cum") * 2 >= col("__n"), col("gap")))
          .as("median_days"),
        min(when(col("__cum") * 10 >= col("__n") * 9, col("gap")))
          .as("p90_days"))
      .orderBy("month")
  }

  /** Semi-structured property rollup: extract one integer field from a
    * JSON `props` column (the schema-on-read payload every event
    * pipeline carries) and roll it up per event type — count, non-null
    * count, exact sum/min/max. Extraction is the codegen'd
    * `get_json_object` path expression (no UDF, no full `from_json`
    * schema materialization for one field); malformed or missing JSON
    * yields NULL and is counted, not crashed on. Non-integral numeric
    * values FLOOR (via an explicit double floor — a bare string→long
    * cast truncates in one engine and rounds in another, the latent
    * cross-engine divergence this pins shut).
    *
    * Scale shape: extraction is a per-row projection fused into the
    * scan, the rollup a types-bounded hash agg with map-side partials —
    * scan-bound at any volume. */
  def propsRollup(events: DataFrame, typeCol: String, propsCol: String,
      field: String): DataFrame = {
    val k = floor(get_json_object(col(propsCol), s"$$.$field")
      .cast("double")).cast("long")
    events
      .groupBy(col(typeCol))
      .agg(count(lit(1)).as("n_events"),
        count(k).as("n_with_field"),
        sum(k).as("sum_field"),
        min(k).as("min_field"),
        max(k).as("max_field"))
      .orderBy(typeCol)
  }

  /** Cohort revenue matrix — customers grouped by FIRST-order month,
    * activity tracked by months-since-cohort: the (cohort × age) grid
    * behind every retention/LTV curve ("do the 1996-03 customers still
    * buy 14 months in"). Month arithmetic is integral (`year·12 +
    * month − 1`), so age never touches date subtraction's day-length
    * traps; revenue follows the exact-cents [[cusumShift]] idiom.
    *
    * Scale shape: ONE customer-keyed window (min month per customer —
    * a single key shuffle of narrow rows) and then a hash agg collapsing
    * straight to the months × months bounded grid; map-side partials
    * absorb the fact. The cohort label rides the lexicographic
    * `yyyy-MM` string (its min IS the min month). */
  def cohortRevenue(orders: DataFrame): DataFrame = {
    val wc = org.apache.spark.sql.expressions.Window.partitionBy("o_custkey")
    orders
      .select(col("o_custkey"),
        (year(col("o_orderdate")) * 12 + month(col("o_orderdate")) - 1)
          .cast("long").as("__mi"),
        date_format(col("o_orderdate"), "yyyy-MM").as("__ms"),
        (col("o_totalprice").cast(DecimalType(18, 2)) * 100)
          .cast("long").as("__cents"))
      .withColumn("__cmi", min(col("__mi")).over(wc))
      .withColumn("__cms", min(col("__ms")).over(wc))
      .groupBy(col("__cms").as("cohort_month"),
        (col("__mi") - col("__cmi")).as("months_since"))
      .agg(countDistinct(col("o_custkey")).as("n_customers"),
        count(lit(1)).as("n_orders"),
        (sum(col("__cents")).cast(DecimalType(38, 2)) / 100)
          .cast("double").as("revenue"))
      .orderBy("cohort_month", "months_since")
  }

  /** New-vs-returning monthly split: per calendar month, how many
    * distinct customers placed their FIRST-ever order that month vs
    * returned, and how the month's revenue divides between them — the
    * acquisition-vs-retention lens on the same fact [[cohortRevenue]]
    * grids. A customer is "new" for every order inside their first
    * month (so the two distinct counts never overlap within a month).
    *
    * Scale shape: the same single customer-keyed window as
    * [[cohortRevenue]], then one hash agg to the calendar-bounded month
    * series; conditional sums stay exact cents until the final decimal
    * render. */
  def newVsReturning(orders: DataFrame): DataFrame = {
    val wc = org.apache.spark.sql.expressions.Window.partitionBy("o_custkey")
    def rev(c: Column) =
      (sum(c).cast(DecimalType(38, 2)) / 100).cast("double")
    orders
      .select(col("o_custkey"),
        date_format(col("o_orderdate"), "yyyy-MM").as("__m"),
        (col("o_totalprice").cast(DecimalType(18, 2)) * 100)
          .cast("long").as("__cents"))
      .withColumn("__new", col("__m") === min(col("__m")).over(wc))
      .groupBy(col("__m").as("month"))
      .agg(
        countDistinct(when(col("__new"), col("o_custkey")))
          .as("new_customers"),
        countDistinct(when(!col("__new"), col("o_custkey")))
          .as("returning_customers"),
        rev(when(col("__new"), col("__cents")).otherwise(0L))
          .as("new_revenue"),
        rev(when(!col("__new"), col("__cents")).otherwise(0L))
          .as("returning_revenue"))
      .orderBy("month")
  }

  /** Last-touch marketing attribution: each conversion event's value is
    * attributed to the user's most recent strictly-preceding
    * non-conversion event type (the "touch"); conversions with no
    * preceding touch attribute to `'direct'`. Output:
    * `(touch_type, n_conversions, attributed_value)` — the
    * which-channel-closes table. The preceding-touch lookup is
    * `last(..., ignoreNulls)` over a `[-∞, -1]` row frame, never a
    * self-join.
    *
    * Scale shape: ONE user-keyed shuffle for the window (the same
    * per-key cost every journey operator here carries), then a
    * type-vocabulary-bounded hash agg with map-side partials; value
    * sums stay exact decimal until the final render. */
  def attributionLastTouch(events: DataFrame, userCol: String,
      typeCol: String, tsCol: String, idCol: String, valueCol: String,
      convType: String = "purchase"): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("__u").orderBy(col("__t"), col("__id"))
      .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding, -1)
    events.select(col(userCol).as("__u"), col(typeCol).as("__ty"),
        tsMicros(events, tsCol).as("__t"), col(idCol).as("__id"),
        col(valueCol).as("__v"))
      .withColumn("__touch",
        last(when(col("__ty") =!= convType, col("__ty")),
          ignoreNulls = true).over(w))
      .filter(col("__ty") === convType)
      .groupBy(coalesce(col("__touch"), lit("direct")).as("touch_type"))
      .agg(count(lit(1)).as("n_conversions"),
        sum(col("__v").cast(DecimalType(18, 6))).cast("double")
          .as("attributed_value"))
      .orderBy("touch_type")
  }

  /** Linear multi-touch attribution: each conversion's value splits
    * EQUALLY across all touch events since the user's previous
    * conversion (exclusive) — the credit-the-whole-path counterpart of
    * [[attributionLastTouch]]. Per touch the credited amount is
    * `floor(value_micros / n_touches)` in exact integers (the
    * engine-independent split — an IEEE `value/n` would make the
    * rollup's sum order-dependent); conversions with no preceding
    * touch in their segment are dropped (they have no path to credit).
    * Output: `(touch_type, n_touches, attributed_value_micros)`.
    *
    * Scale shape: one user-keyed window tags each event with its
    * conversion-segment ordinal (a running conditional count — no
    * self-join to find segment boundaries); touches then collapse to
    * (user, segment, type) counts BEFORE joining the segment's single
    * conversion row, so the join carries segment-bounded cardinality,
    * never raw events × events. */
  def attributionLinear(events: DataFrame, userCol: String,
      typeCol: String, tsCol: String, idCol: String, valueCol: String,
      convType: String = "purchase"): DataFrame = {
    val wSeg = org.apache.spark.sql.expressions.Window
      .partitionBy("__u").orderBy(col("__t"), col("__id"))
      .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding, -1)
    val base = events.select(col(userCol).as("__u"), col(typeCol).as("__ty"),
        tsMicros(events, tsCol).as("__t"), col(idCol).as("__id"),
        col(valueCol).as("__v"))
      // segment = conversions strictly before this row: the touches
      // between conversion k and k+1 share segment k with conversion k+1
      .withColumn("__seg", coalesce(
        sum(when(col("__ty") === convType, 1L).otherwise(0L)).over(wSeg),
        lit(0L)))
      .localCheckpoint() // touch rollup + conversion slice both read it
    val touchCounts = base.filter(col("__ty") =!= convType)
      .groupBy("__u", "__seg", "__ty").agg(count(lit(1)).as("__c"))
    val segSizes = touchCounts.groupBy("__u", "__seg")
      .agg(sum(col("__c")).as("__n"))
    val convs = base.filter(col("__ty") === convType)
      .select(col("__u"), col("__seg"),
        floor(col("__v") * 1000000d).cast("long").as("__vmic"))
    convs.join(segSizes, Seq("__u", "__seg"))
      .join(touchCounts, Seq("__u", "__seg"))
      .select(col("__ty").as("touch_type"), col("__c"),
        (col("__c") * fdiv(col("__vmic"), col("__n"))).as("__amt"))
      .groupBy("touch_type")
      .agg(sum(col("__c")).as("n_touches"),
        sum(col("__amt")).as("attributed_value_micros"))
      .orderBy("touch_type")
  }

  /** Gap-filled daily order series (time-series densification): every
    * calendar day from the first to the last order date appears, with
    * zero counts/revenue on orderless days — the dense spine a
    * forecasting or anomaly model trains on (a sparse series silently
    * teaches "weekends don't exist"). Output:
    * `(day, n_orders, revenue)`.
    *
    * Scale shape: the fact collapses to per-day partials FIRST (hash
    * agg, calendar-bounded output); the spine generates from the 1-row
    * (min, max) agg via `sequence` and joins calendar-sized frames —
    * the fact is scanned once and never joined at row grain. */
  def dailyOrderSpine(orders: DataFrame): DataFrame = {
    val daily = orders
      .groupBy(to_date(col("o_orderdate")).as("__d"))
      .agg(count(lit(1)).as("__n"),
        sum(col("o_totalprice").cast(DecimalType(18, 2))).as("__rev"))
      .localCheckpoint() // calendar-bounded; bounds agg + join read it
    val spine = daily.agg(min(col("__d")).as("__lo"), max(col("__d")).as("__hi"))
      .select(explode(sequence(col("__lo"), col("__hi"),
        expr("interval 1 day"))).as("__d"))
    spine.join(daily, Seq("__d"), "left")
      .select(date_format(col("__d"), "yyyy-MM-dd").as("day"),
        coalesce(col("__n"), lit(0L)).as("n_orders"),
        coalesce(col("__rev"), lit(0).cast(DecimalType(18, 2)))
          .cast("double").as("revenue"))
      .orderBy("day")
  }

  /** Volume-weighted average price per (brand, ship month): VWAP =
    * Σ(extended price) / Σ(quantity) — the what-did-a-unit-actually-
    * sell-for trend, robust to mix shifts that corrupt a plain price
    * mean. Both sums accumulate exact decimal; the rate is ONE final
    * IEEE division (the [[dsum]]/davg parity discipline). Output:
    * `(p_brand, month, n_lines, total_qty, vwap)`.
    *
    * Scale shape: the fact projects to three columns, the part dim
    * projects to (key, brand) and BROADCASTS (dim-sized); the rollup
    * is a brands × calendar-bounded hash agg with map-side partials. */
  def brandVwap(part: DataFrame, lineitem: DataFrame): DataFrame = {
    lineitem.select(col("l_partkey"),
        date_format(col("l_shipdate"), "yyyy-MM").as("month"),
        col("l_quantity"), col("l_extendedprice"))
      .join(broadcast(part.select(col("p_partkey"), col("p_brand"))),
        col("l_partkey") === col("p_partkey"))
      .groupBy(col("p_brand"), col("month"))
      .agg(count(lit(1)).as("n_lines"),
        sum(col("l_quantity").cast(DecimalType(18, 2))).as("__q"),
        sum(col("l_extendedprice").cast(DecimalType(18, 2))).as("__p"))
      .select(col("p_brand"), col("month"), col("n_lines"),
        col("__q").cast("double").as("total_qty"),
        (col("__p").cast("double") / col("__q").cast("double")).as("vwap"))
      .orderBy("p_brand", "month")
  }

  /** Top-k session journey paths: gap-sessionize ([[sessionize]]'s
    * boundary rule), render each session's ordered event-type path as
    * one delimited string, and count sessions per distinct path — the
    * clickstream table behind "what do visits actually look like".
    * Output: `(path, n_sessions)`, ties broken by path.
    *
    * Scale shape: session tag (lag + running sum) and the per-session
    * path build share ONE user-keyed shuffle; paths collapse by hash
    * agg with map-side partials (hot paths combine early) and the
    * top-k is TakeOrdered — no global sort materializes. Path length
    * is bounded by session length, the same bound every journey
    * operator here carries. */
  def sessionPaths(events: DataFrame, userCol: String, typeCol: String,
      tsCol: String, idCol: String, gapUs: Long, k: Int = 20): DataFrame = {
    require(k >= 1, s"k must be >= 1, got $k")
    gapSessionTag(events, userCol, typeCol, tsCol, idCol, gapUs)
      .groupBy("__u", "__sid")
      .agg(array_join(transform(sort_array(collect_list(
        struct(col("__t"), col("__id"), col("__ty")))),
        e => e.getField("__ty")), ">").as("path"))
      .groupBy("path").agg(count(lit(1)).as("n_sessions"))
      .orderBy(col("n_sessions").desc, col("path")).limit(k)
  }

  /** Top-k parts per brand by exact revenue — the windowed
    * top-k-per-group shape (every "best N per category" report). Ranks
    * break ties on the part key, so the selection is total-order
    * deterministic. Output: `(p_brand, rk, l_partkey, revenue)`.
    *
    * Scale shape: the fact collapses to per-part revenue FIRST (hash
    * agg with partials — the window never sees fact rows), the brand
    * dim broadcasts onto the part-sized rollup, and the rank window
    * partitions by brand over that bounded relation; `row_number ≤ k`
    * prunes map-side via WindowGroupLimit. */
  def brandTopParts(part: DataFrame, lineitem: DataFrame,
      k: Int = 3): DataFrame = {
    require(k >= 1, s"k must be >= 1, got $k")
    val rev = lineitem.groupBy(col("l_partkey"))
      .agg(sum(col("l_extendedprice").cast(DecimalType(18, 2))).as("__rev"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("p_brand").orderBy(col("__rev").desc, col("l_partkey"))
    rev.join(broadcast(part.select(col("p_partkey"), col("p_brand"))),
        col("l_partkey") === col("p_partkey"))
      .withColumn("rk", row_number().over(w).cast("long"))
      .filter(col("rk") <= k)
      .select(col("p_brand"), col("rk"), col("l_partkey"),
        col("__rev").cast("double").as("revenue"))
      .orderBy("p_brand", "rk")
  }

  /** Per-user daily status series with last-observation-carried-forward
    * — the OTHER half of time-series densification next to
    * [[dailyOrderSpine]]'s zero fill: each user's day spine (first to
    * last active day) carries the latest event type as of that day, so
    * a state column becomes a dense daily panel (the feature-store
    * as-of materialization). Days are integral day numbers
    * (`⌊epoch_micros / 86.4e9⌋` — the [[retentionCohorts]] arithmetic,
    * exact at any epoch sign). Output: `(user_id, day_num, status)`.
    *
    * Scale shape: the fact collapses to one row per (user, day) by
    * struct-max (hash agg, no window) BEFORE any spine work; the spine
    * explodes per-user bounded spans from the per-user (min, max) agg;
    * the carry-forward is an ignore-nulls window over the user-keyed
    * day panel — panel-sized, never event-sized. */
  def dailyStatusLocf(events: DataFrame, userCol: String, typeCol: String,
      tsCol: String, idCol: String): DataFrame = {
    val daily = events.select(col(userCol).as("__u"),
        dayNum(tsMicros(events, tsCol)).as("day_num"),
        struct(tsMicros(events, tsCol).as("t"), col(idCol).as("id"),
          col(typeCol).as("ty")).as("__e"))
      .groupBy("__u", "day_num")
      .agg(max(col("__e")).getField("ty").as("__ty"))
      .localCheckpoint() // span agg + panel join read it
    val spine = daily.groupBy("__u")
      .agg(min(col("day_num")).as("__lo"), max(col("day_num")).as("__hi"))
      .select(col("__u"), explode(sequence(col("__lo"), col("__hi"))).as("day_num"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("__u").orderBy("day_num")
      .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding, 0)
    spine.join(daily, Seq("__u", "day_num"), "left")
      .withColumn("status", last(col("__ty"), ignoreNulls = true).over(w))
      .select(col("__u").as(userCol), col("day_num"), col("status"))
      .orderBy(userCol, "day_num")
  }

  /** Exact weighted median of `valueCol` under integer weights, per
    * group — "the price at which half the QUANTITY traded" (weighted
    * quantiles are what pricing/inventory dashboards actually need;
    * the unweighted median over-counts small lines). Lower weighted
    * median: the smallest value whose value-inclusive cumulative
    * weight reaches half the group total — a pick that is provably
    * independent of the order among equal values (the v-inclusive
    * cumulative decides), so no unique row id is required. Output:
    * `(group, total_weight, weighted_median)`.
    *
    * Weights fixed-point by an explicit FLOOR (never a bare long cast,
    * which truncates toward zero where SQL casts round — integral
    * weights are unaffected; fractional callers should fix-point
    * upstream). NULL weights fail loud inside the prefix machinery
    * itself ([[graft.util.GlobalRank.withGlobalRankAndPrefix]] guards
    * its partition sums — nulls are never acceptable there for ANY
    * caller); NEGATIVE weights break the monotone cumulative the pick
    * depends on, so by default one cheap agg over the
    * already-materialized ranked relation validates them and fails
    * loud — pass `validateWeights = false` on a known-clean hot path
    * (the [[sequenceMatch]] `validateVocabulary` API symmetry), where
    * negative weights then produce garbage medians silently.
    *
    * Scale shape: the global cumulative comes from
    * [[graft.util.GlobalRank.withGlobalRankAndPrefix]] over the
    * (group, value) order — range repartition, per-partition windows,
    * driver prefix offsets — never a single-partition window;
    * per-group cumulatives subtract the group's broadcast start offset
    * (its minimum exclusive prefix). The input is scanned ONCE (the
    * validation agg reads the rank pass's checkpoint, not the fact). */
  def weightedMedian(df: DataFrame, groupCol: String, valueCol: String,
      weightCol: String, validateWeights: Boolean = true): DataFrame = {
    val base = df.select(col(groupCol).as("__g"), col(valueCol).as("__v"),
      floor(col(weightCol)).cast("long").as("__w"))
    val (ranked, _, _) = withGlobalRankAndPrefix(base,
      Seq(col("__g"), col("__v")), "__w", "__r", "__cum")
    if (validateWeights) {
      val wCheck = ranked.agg(min(col("__w")).as("mn")).head()
      require(wCheck.isNullAt(0) || wCheck.getLong(0) >= 0,
        s"weightedMedian: weights must be nonnegative " +
          s"(min=${wCheck.getLong(0)})")
    }
    val offs = ranked.groupBy("__g")
      .agg(min(col("__cum") - col("__w")).as("__off"),
        sum(col("__w")).as("__tot"))
    ranked.join(broadcast(offs), "__g")
      .filter((col("__cum") - col("__off")) * 2 >= col("__tot"))
      .groupBy(col("__g").as(groupCol))
      .agg(max(col("__tot")).as("total_weight"),
        min(col("__v")).as("weighted_median"))
      .orderBy(groupCol)
  }

  /** Per-user time-weighted average value (TWAP): each event's value
    * holds from its timestamp until the user's NEXT event, and the
    * average weights by that holding duration — the correct mean for
    * irregularly-sampled state (a plain mean over-counts bursty
    * updates; a balance sampled 100× in one hour must not dominate a
    * month at one reading). Each user's last event has no successor
    * and contributes no interval; single-event users are excluded
    * (zero total span — no interval to average). Exactness: values
    * fix-point to floored micros, every (value_micros × duration)
    * product accumulates in DECIMAL(38,0), and the TWAP itself is the
    * FLOORED integer division `⌊Σ(v_micros·dur) / Σdur⌋` — the
    * numerator passes 2⁵³, where a double division diverges across
    * engines by an ulp (measured), so no double exists anywhere in
    * the statistic. Output: `(user_id, span_us, twap_micros)` with
    * twap_micros = the time-weighted mean in value-micros.
    *
    * Scale shape: one user-keyed window (the lead is a narrow frame
    * over the same shuffle every journey operator pays) and one hash
    * agg with map-side partials — linear at any history length. */
  def timeWeightedAverage(events: DataFrame, userCol: String,
      valueCol: String, tsCol: String, idCol: String): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("__u").orderBy(col("__t"), col("__id"))
    events.select(col(userCol).as("__u"),
        floor(col(valueCol) * 1000000d).cast("long").as("__vmic"),
        tsMicros(events, tsCol).as("__t"), col(idCol).as("__id"))
      .withColumn("__dur", lead(col("__t"), 1).over(w) - col("__t"))
      .filter(col("__dur").isNotNull)
      .groupBy(col("__u").as(userCol))
      .agg(sum(col("__dur")).as("span_us"),
        sum(dec(col("__vmic")) * dec(col("__dur"))).as("__num"))
      .filter(col("span_us") > 0)
      .select(col(userCol), col("span_us"),
        fdiv(col("__num"), dec(col("span_us"))).as("twap_micros"))
      .orderBy(userCol)
  }

  /** Robust per-group outlier census via median absolute deviation:
    * per event type — count, exact lower-median of the value, MAD
    * (lower-median of |value − median|), and how many events sit more
    * than `cutoff`×MAD from the median. The robust alternative to
    * z-scores (one fat-finger event corrupts a stddev cutoff; it moves
    * a median by at most one rank). Medians are ACTUAL data values
    * (rank picks), so every output number is engine-independent.
    *
    * Scale shape: per-group exact ranks come from [[withGlobalRank]]
    * over the (type, value, id) total order — range repartition,
    * per-partition windows, broadcast offsets — with per-type rank =
    * global rank − the type's broadcast min-rank offset; NEVER a
    * per-type window over the raw fact (5 types would mean 5 hot
    * single-threaded sort partitions). Two rank passes (value, then
    * deviation), each group-count-bounded at the pick. */
  def madOutliers(events: DataFrame, typeCol: String, valueCol: String,
      idCol: String, cutoff: Double = 3.0): DataFrame = {
    def medianByType(df: DataFrame, vCol: String): DataFrame =
      withGroupLocalRank(
        df.select(col("__ty"), col(vCol).as("__mv"), col("__id")),
        Seq("__ty"), Seq(col("__mv"), col("__id")), "__lr", "__n")
        // lower median: rank (n+1)/2 in integer division
        .filter(col("__lr") ===
          (col("__n") + 1 - pmod(col("__n") + 1, lit(2L))) / 2)
        .select(col("__ty"), col("__mv").as("__med"), col("__n"))
    val base = events.select(col(typeCol).as("__ty"),
        col(valueCol).as("__v"), col(idCol).as("__id"))
      .localCheckpoint() // two rank passes + the outlier count read it
    val med = medianByType(base, "__v")
    val dev = base.join(broadcast(med.drop("__n")), "__ty")
      .withColumn("__d", abs(col("__v") - col("__med")))
      .localCheckpoint() // MAD rank pass + outlier count
    val mad = medianByType(dev.select(col("__ty"), col("__d"), col("__id")), "__d")
      .select(col("__ty"), col("__med").as("__mad"))
    dev.join(broadcast(mad), "__ty")
      .groupBy(col("__ty").as("event_type"))
      .agg(count(lit(1)).as("n_events"),
        max(col("__med")).as("median_value"),
        max(col("__mad")).as("mad"),
        sum(when(col("__d") > lit(cutoff) * col("__mad"), 1L).otherwise(0L))
          .as("n_outliers"))
      .orderBy("event_type")
  }

  /** Cross-table billing audit: per order, the header total
    * (`o_totalprice`) against the amount recomputed from its lines —
    * `Σ extendedprice·(1−discount)·(1+tax)` in EXACT decimal (2dp
    * factors, so the 6dp product is exact; no IEEE multiply anywhere) —
    * rolled up per order status: how many orders reconcile to the
    * cent, how many drift, the worst absolute drift, and how many
    * headers have no lines at all. The warehouse's
    * invoices-vs-line-items trust check (same family as the
    * reconciliation engine, pointed at an intra-schema invariant).
    *
    * Scale shape: the fact collapses to one decimal sum per order
    * FIRST (hash agg with partials); the header join is then
    * order-key-equi on two order-sized relations (shuffle join on the
    * key — both sides big, no broadcast pretense); the census is a
    * status-vocabulary-bounded rollup. */
  def orderPriceAudit(orders: DataFrame, lineitem: DataFrame): DataFrame = {
    val d2 = DecimalType(18, 2)
    val comp = lineitem.groupBy(col("l_orderkey").as("__ok"))
      .agg(sum(col("l_extendedprice").cast(d2) *
        (lit(1).cast(DecimalType(4, 2)) - col("l_discount").cast(DecimalType(4, 2))) *
        (lit(1).cast(DecimalType(4, 2)) + col("l_tax").cast(DecimalType(4, 2))))
        .as("__comp"))
    orders.select(col("o_orderkey"), col("o_orderstatus"),
        col("o_totalprice").cast(d2).as("__tot"))
      .join(comp, col("o_orderkey") === col("__ok"), "left")
      .withColumn("__diff_mic",
        ((col("__comp") - col("__tot")) * 1000000).cast("long"))
      .groupBy(col("o_orderstatus"))
      .agg(count(lit(1)).as("n_orders"),
        sum(when(col("__diff_mic") === 0L, 1L).otherwise(0L)).as("n_matched"),
        sum(when(col("__diff_mic") =!= 0L, 1L).otherwise(0L))
          .as("n_mismatched"),
        sum(when(col("__comp").isNull, 1L).otherwise(0L)).as("n_no_lines"),
        coalesce(max(abs(col("__diff_mic"))), lit(0L))
          .as("max_abs_diff_micros"))
      .orderBy("o_orderstatus")
  }

  /** Per-type inter-arrival statistics: for each event type, the exact
    * lower median of the gaps between a user's CONSECUTIVE events of
    * that type — the empirical cadence behind retry tuning, heartbeat
    * thresholds, and anomalous-silence alerts (q140's threshold is
    * exactly what this calibrates). A user's first event of a type has
    * no predecessor and feeds no gap. Output:
    * `(event_type, n_gaps, median_gap_us)`.
    *
    * Scale shape: gaps come from one (user, type)-keyed lag window
    * (narrow columns); the per-type exact median rides
    * [[graft.util.GlobalRank.withGlobalRank]] over the
    * (type, gap, id) total order with broadcast per-type rank offsets
    * — NEVER a per-type window over the raw gap rows (the q198
    * discipline). */
  def interArrivalMedian(events: DataFrame, userCol: String,
      typeCol: String, tsCol: String, idCol: String): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("__u", "__ty").orderBy(col("__t"), col("__id"))
    val gaps = events.select(col(userCol).as("__u"), col(typeCol).as("__ty"),
        tsMicros(events, tsCol).as("__t"), col(idCol).as("__id"))
      .withColumn("__gap", col("__t") - lag(col("__t"), 1).over(w))
      .filter(col("__gap").isNotNull)
      .select(col("__ty"), col("__gap"), col("__id"))
    withGroupLocalRank(gaps, Seq("__ty"),
        Seq(col("__gap"), col("__id")), "__lr", "__n")
      // lower median: local rank (n+1)/2 in integer division
      .filter(col("__lr") ===
        (col("__n") + 1 - pmod(col("__n") + 1, lit(2L))) / 2)
      .select(col("__ty").as(typeCol), col("__n").as("n_gaps"),
        col("__gap").as("median_gap_us"))
      .orderBy(typeCol)
  }

  /** Tukey IQR fence census per event type: exact quartile PICKS
    * (q1 at rank ⌈n/4⌉, q3 at ⌈3n/4⌉ — actual data values, never
    * interpolated) and how many events fall below `q1 − 1.5·IQR` or
    * above `q3 + 1.5·IQR`. The box-plot sibling of [[madOutliers]];
    * fences decide by the cross-multiplied integer form
    * (`2v < 5·q1 − 3·q3`), so the comparison is the same IEEE
    * expression on both engines with no intermediate the optimizer
    * could re-associate. Output:
    * `(event_type, n_events, q1, q3, n_low, n_high)`.
    *
    * Scale shape: one [[graft.util.GlobalRank.withGlobalRank]] pass
    * over the (type, value, id) total order; quartile picks and fence
    * counts ride broadcast type-bounded offset/pick tables — never a
    * per-type window over raw facts. */
  def iqrOutliers(events: DataFrame, typeCol: String, valueCol: String,
      idCol: String): DataFrame = {
    val base = events.select(col(typeCol).as("__ty"),
      col(valueCol).as("__v"), col(idCol).as("__id"))
    val ranked2 = withGroupLocalRank(base, Seq("__ty"),
        Seq(col("__v"), col("__id")), "__lr", "__n")
      .localCheckpoint() // picks + fence count read it
    val picks = ranked2
      .withColumn("__q1r", ceilDiv(col("__n"), 4L))
      .withColumn("__q3r", ceilDiv(col("__n") * 3, 4L))
      .groupBy("__ty")
      .agg(max(col("__n")).as("n_events"),
        max(when(col("__lr") === col("__q1r"), col("__v"))).as("q1"),
        max(when(col("__lr") === col("__q3r"), col("__v"))).as("q3"))
    ranked2.join(broadcast(picks), "__ty")
      .groupBy(col("__ty").as(typeCol))
      .agg(max(col("n_events")).as("n_events"),
        max(col("q1")).as("q1"), max(col("q3")).as("q3"),
        sum(when(col("__v") * 2 < col("q1") * 5 - col("q3") * 3, 1L)
          .otherwise(0L)).as("n_low"),
        sum(when(col("__v") * 2 > col("q3") * 5 - col("q1") * 3, 1L)
          .otherwise(0L)).as("n_high"))
      .orderBy(typeCol)
  }

  /** Weekday order/revenue profile — calendar seasonality off pure
    * epoch-day arithmetic (`(days_since_1970 + 4) mod 7`, 0 = Sunday:
    * no engine `dayofweek` convention enters — Spark's is 1-based
    * Sunday, DuckDB's 0-based, and both disagree with ISO). Revenue
    * share in floored integer ppm against the broadcast 1-row total.
    * Output: `(weekday, n_orders, revenue, revenue_share_ppm)`.
    *
    * Scale shape: one scan, one 7-row hash agg with partials, a 1-row
    * total agg broadcast back — no window, no sort beyond 7 rows. */
  def weekdayProfile(orders: DataFrame): DataFrame = {
    val daily = orders.select(
        pmod(datediff(to_date(col("o_orderdate")), lit("1970-01-01")) + 4,
          lit(7)).cast("long").as("weekday"),
        (col("o_totalprice").cast(DecimalType(18, 2)) * 100)
          .cast("long").as("__cents"))
      .groupBy("weekday")
      .agg(count(lit(1)).as("n_orders"), sum(col("__cents")).as("__c"))
      .localCheckpoint() // 7 rows; total agg + share render read it
    daily.crossJoin(broadcast(daily.agg(sum(col("__c")).as("__tot"))))
      .select(col("weekday"), col("n_orders"),
        (col("__c").cast(DecimalType(38, 2)) / 100).cast("double")
          .as("revenue"),
        fdiv(dec(col("__c")) * 1000000, dec(col("__tot")))
          .as("revenue_share_ppm"))
      .orderBy("weekday")
  }

  /** Equi-width price histogram in exact cents: `buckets` fixed-width
    * bins spanning the observed [min, max] (bounds from the 1-row
    * global agg; width = ⌈span/buckets⌉ in integers, so the last bin
    * absorbs the remainder and every boundary is engine-exact).
    * Output: `(bucket, lo_cents, hi_cents, n_lines)` — the
    * distribution profile behind pricing dashboards and partition-size
    * planning. Only observed buckets appear.
    *
    * Scale shape: one fact scan to cents, a broadcast 1-row bounds
    * agg, then a bucket-count-bounded hash agg with map-side partials
    * — no window, no sort beyond `buckets` rows. */
  def priceHistogram(lineitem: DataFrame, buckets: Int = 16): DataFrame = {
    require(buckets >= 1, s"buckets must be >= 1, got $buckets")
    // floor division via the nonnegative-remainder idiom throughout —
    // a bare `/` is IEEE double division in Spark and must not decide
    // bucket boundaries
    val cents = lineitem.select(
      (col("l_extendedprice").cast(DecimalType(18, 2)) * 100)
        .cast("long").as("__c"))
    val bounds = cents.agg(min(col("__c")).as("__lo"), max(col("__c")).as("__hi"))
    cents.crossJoin(broadcast(bounds))
      // width = ⌈(hi − lo + 1) / buckets⌉, all-integer
      .withColumn("__w", greatest(fdiv(
        col("__hi") - col("__lo") + buckets, lit(buckets.toLong)), lit(1L)))
      .withColumn("bucket", fdiv(col("__c") - col("__lo"), col("__w")))
      .groupBy("bucket")
      .agg(count(lit(1)).as("n_lines"),
        min(col("__lo") + col("bucket") * col("__w")).as("lo_cents"),
        min(col("__lo") + (col("bucket") + 1) * col("__w") - 1)
          .as("hi_cents"))
      .select(col("bucket"), col("lo_cents"), col("hi_cents"), col("n_lines"))
      .orderBy("bucket")
  }

  /** Within-session event-type co-occurrence: unordered type pairs
    * counted by the number of gap sessions containing BOTH — the
    * which-actions-happen-together matrix behind feature bundling and
    * next-action candidates (the unordered complement of
    * [[eventTransitions]], which only sees adjacency). Output:
    * `(type_a, type_b, n_sessions)` with `type_a < type_b`.
    *
    * Scale shape: the session tag shares the one user-keyed shuffle
    * every journey operator pays; each session collapses to its
    * DISTINCT type set (vocabulary-bounded, ≤ |types| per session)
    * before the pair explode, so pair volume is sessions × C(|types|,2)
    * at worst — never events²; the rollup is vocabulary²-bounded. */
  def sessionCooccurrence(events: DataFrame, userCol: String,
      typeCol: String, tsCol: String, idCol: String,
      gapUs: Long): DataFrame = {
    gapSessionTag(events, userCol, typeCol, tsCol, idCol, gapUs)
      .groupBy("__u", "__sid")
      .agg(array_sort(collect_set(col("__ty"))).as("__tys"))
      .select(explode(col("__tys")).as("type_a"), col("__tys"))
      .select(col("type_a"), explode(col("__tys")).as("type_b"))
      .filter(col("type_a") < col("type_b"))
      .groupBy("type_a", "type_b")
      .agg(count(lit(1)).as("n_sessions"))
      .orderBy("type_a", "type_b")
  }

  /** Winsorized mean per event type: values clipped to the exact
    * [p`loPct`, p`hiPct`] rank PICKS (⌈n·p/100⌉, actual data values)
    * before averaging — the robust mean that survives fat-finger
    * outliers without discarding rows (trimming changes n; winsorizing
    * keeps it). The mean itself is exact: clipped values fix-point to
    * floored micros and the statistic is the floored integer division
    * `⌊Σ clipped_micros / n⌋` — no double average anywhere. Output:
    * `(event_type, n_events, p_lo, p_hi, winsorized_mean_micros)`.
    *
    * Scale shape: one [[graft.util.GlobalRank.withGlobalRank]] pass
    * over the (type, value, id) total order; the percentile picks ride
    * the broadcast type-bounded offset table and the clip+mean is one
    * vocabulary-bounded hash agg — never a per-type window over raw
    * facts. */
  def winsorizedMean(events: DataFrame, typeCol: String, valueCol: String,
      idCol: String, loPct: Int = 5, hiPct: Int = 95): DataFrame = {
    require(loPct >= 1 && loPct < hiPct && hiPct <= 100,
      s"need 1 <= loPct < hiPct <= 100, got $loPct, $hiPct")
    val base = events.select(col(typeCol).as("__ty"),
      col(valueCol).as("__v"), col(idCol).as("__id"))
    val ranked2 = withGroupLocalRank(base, Seq("__ty"),
        Seq(col("__v"), col("__id")), "__lr", "__n")
      .localCheckpoint() // picks + clip pass read it
    val picks = ranked2
      .groupBy("__ty")
      .agg(max(col("__n")).as("n_events"),
        max(when(col("__lr") === ceilDiv(col("__n") * loPct, 100L),
          col("__v"))).as("p_lo"),
        max(when(col("__lr") === ceilDiv(col("__n") * hiPct, 100L),
          col("__v"))).as("p_hi"))
    ranked2.join(broadcast(picks), "__ty")
      .withColumn("__clip",
        least(greatest(col("__v"), col("p_lo")), col("p_hi")))
      .withColumn("__mic", floor(col("__clip") * 1000000d).cast("long"))
      .groupBy(col("__ty").as(typeCol))
      .agg(max(col("n_events")).as("n_events"),
        max(col("p_lo")).as("p_lo"), max(col("p_hi")).as("p_hi"),
        fdiv(dec(sum(col("__mic"))), dec(max(col("n_events"))))
          .as("winsorized_mean_micros"))
      .orderBy(typeCol)
  }

  /** Month-over-month revenue bridge: each month's exact-cents revenue
    * decomposed into NEW (customer absent the previous month —
    * acquisition plus resurrection), RETAINED (present both months),
    * and CHURNED (the previous month's revenue of customers absent
    * now, booked against the month they vanished) — the
    * where-did-growth-come-from decomposition every revenue review
    * opens with. Months are integral `year·12 + month − 1` (exact
    * across year boundaries); only observed months report (no phantom
    * churn month after the series ends). Output:
    * `(month_num, new_cents, retained_cents, churned_cents)`.
    *
    * Scale shape: the fact collapses to one exact-cents row per
    * (customer, month) FIRST (hash agg with partials); the bridge is
    * one full-outer self-join of that rollup against its month+1 shift
    * (customer-month-keyed — rollup-sized, never fact-sized), and the
    * month report is a calendar-bounded hash agg. */
  def revenueBridge(orders: DataFrame): DataFrame = {
    val r = orders.select(col("o_custkey").as("__c"),
        (year(col("o_orderdate")) * 12 + month(col("o_orderdate")) - 1)
          .cast("long").as("__m"),
        (col("o_totalprice").cast(DecimalType(18, 2)) * 100)
          .cast("long").as("__cents"))
      .groupBy("__c", "__m").agg(sum(col("__cents")).as("__cents"))
      .localCheckpoint() // both bridge arms + the month spine read it
    val prev = r.select(col("__c"), (col("__m") + 1).as("__m"),
      col("__cents").as("__prev_cents"))
    val months = r.select(col("__m")).distinct()
    r.join(prev, Seq("__c", "__m"), "full")
      // clip to observed months: the shift would otherwise fabricate a
      // phantom all-churn month after the series ends
      .join(months, Seq("__m"), "left_semi")
      .groupBy(col("__m").as("month_num"))
      .agg(
        coalesce(sum(when(col("__prev_cents").isNull, col("__cents"))),
          lit(0L)).as("new_cents"),
        coalesce(sum(when(col("__prev_cents").isNotNull, col("__cents"))),
          lit(0L)).as("retained_cents"),
        coalesce(sum(when(col("__cents").isNull, col("__prev_cents"))),
          lit(0L)).as("churned_cents"))
      .orderBy("month_num")
  }

  /** First-touch vs last-touch attribution, side by side: every
    * conversion credited twice — to the EARLIEST and to the LATEST
    * strictly-preceding touch in the user's journey ('direct' when
    * none) — so the two models' disagreement per channel is one table
    * (first-touch rewards discovery channels, last-touch closers; the
    * gap IS the funnel-position signal). Values in exact floored
    * micros. Output: `(touch_type, n_first, value_first_micros,
    * n_last, value_last_micros)`.
    *
    * Scale shape: both lookups are ignore-nulls window functions over
    * the SAME `[-∞, -1]` frame of the one user-keyed shuffle — adding
    * the second model adds a projection, never a shuffle; the rollups
    * are vocabulary-bounded and meet in a vocabulary-sized outer
    * join. */
  def attributionCompare(events: DataFrame, userCol: String,
      typeCol: String, tsCol: String, idCol: String, valueCol: String,
      convType: String = "purchase"): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("__u").orderBy(col("__t"), col("__id"))
      .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding, -1)
    val touch = when(col("__ty") =!= convType, col("__ty"))
    val convs = events.select(col(userCol).as("__u"), col(typeCol).as("__ty"),
        tsMicros(events, tsCol).as("__t"), col(idCol).as("__id"),
        floor(col(valueCol) * 1000000d).cast("long").as("__vmic"))
      .withColumn("__first", first(touch, ignoreNulls = true).over(w))
      .withColumn("__last", last(touch, ignoreNulls = true).over(w))
      .filter(col("__ty") === convType)
      .localCheckpoint() // both model rollups read it
    def rollup(c: Column, nCol: String, vCol: String) = convs
      .groupBy(coalesce(c, lit("direct")).as("touch_type"))
      .agg(count(lit(1)).as(nCol), sum(col("__vmic")).as(vCol))
    rollup(col("__first"), "n_first", "value_first_micros")
      .join(rollup(col("__last"), "n_last", "value_last_micros"),
        Seq("touch_type"), "full")
      .select(col("touch_type"),
        coalesce(col("n_first"), lit(0L)).as("n_first"),
        coalesce(col("value_first_micros"), lit(0L)).as("value_first_micros"),
        coalesce(col("n_last"), lit(0L)).as("n_last"),
        coalesce(col("value_last_micros"), lit(0L)).as("value_last_micros"))
      .orderBy("touch_type")
  }

  /** Longest consecutive-active-month streak per customer, rolled to a
    * histogram `(streak_months, n_customers)` — the engagement-depth
    * distribution ("how many customers have ever stayed N months
    * straight"), [[activityStreaks]]' gaps-and-islands at month grain
    * over orders instead of day grain over events. Months are integral
    * `year·12 + month − 1` (exact across year boundaries).
    *
    * Scale shape: the fact collapses to DISTINCT (customer, month)
    * first (hash agg); islands come from one customer-keyed window
    * over that months-bounded panel (`month − row_number` is constant
    * within a run); the histogram is a bounded rollup — no fact-sized
    * window anywhere. */
  def monthStreakHistogram(orders: DataFrame): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("__c").orderBy("__m")
    orders.select(col("o_custkey").as("__c"),
        (year(col("o_orderdate")) * 12 + month(col("o_orderdate")) - 1)
          .cast("long").as("__m"))
      .distinct()
      .withColumn("__isl", col("__m") - row_number().over(w))
      .groupBy("__c", "__isl").agg(count(lit(1)).as("__len"))
      .groupBy("__c").agg(max(col("__len")).as("streak_months"))
      .groupBy("streak_months").agg(count(lit(1)).as("n_customers"))
      .orderBy("streak_months")
  }

  /** Daily value-quantile panel: per (event type, day), the event
    * count and exact p50/p90/p99 PICKS (rank ⌈n·p/100⌉ — actual data
    * values) — the latency/value dashboard panel every SLO review
    * reads, computed exactly where the usual t-digest approximates.
    *
    * Scale shape: one
    * [[graft.util.GlobalRank.withGlobalRank]] pass over the
    * (type, day, value, id) total order; per-(type, day) offsets are a
    * panel-bounded broadcast (types × observed days), and the picks
    * are one hash agg over the ranked relation — never a per-group
    * window over raw facts (a hot (type, day) cell would serialize). */
  def dailyValueQuantiles(events: DataFrame, typeCol: String,
      tsCol: String, valueCol: String, idCol: String): DataFrame = {
    val base = events.select(col(typeCol).as("__ty"),
      dayNum(tsMicros(events, tsCol)).as("__day"),
      col(valueCol).as("__v"), col(idCol).as("__id"))
    withGroupLocalRank(base, Seq("__ty", "__day"),
        Seq(col("__v"), col("__id")), "__lr", "__n")
      .groupBy(col("__ty").as(typeCol), col("__day").as("day_num"))
      .agg(max(col("__n")).as("n_events"),
        max(when(col("__lr") === ceilDiv(col("__n") * 50, 100L),
          col("__v"))).as("p50"),
        max(when(col("__lr") === ceilDiv(col("__n") * 90, 100L),
          col("__v"))).as("p90"),
        max(when(col("__lr") === ceilDiv(col("__n") * 99, 100L),
          col("__v"))).as("p99"))
      .orderBy(typeCol, "day_num")
  }

  /** Association statistics for within-session event-type pairs:
    * [[sessionCooccurrence]]'s counts extended with support,
    * confidence (both directions), and lift — all in floored integer
    * ppm with DECIMAL(38,0) cross-multiplication (the q150 discipline,
    * lifted from baskets to sessions). `lift > 1e6` means the pair
    * co-occurs more than independence predicts. Output:
    * `(type_a, type_b, n_sessions, support_ppm, conf_a_to_b_ppm,
    * conf_b_to_a_ppm, lift_ppm)`.
    *
    * Scale shape: everything derives from the DISTINCT
    * (user, session, type) relation — one user-keyed session tag, a
    * vocabulary-bounded pair rollup, per-type session counts as a
    * broadcast, and the 1-row session total — never events². */
  def sessionPairLift(events: DataFrame, userCol: String, typeCol: String,
      tsCol: String, idCol: String, gapUs: Long): DataFrame = {
    val st = gapSessionTag(events, userCol, typeCol, tsCol, idCol, gapUs)
      .select(col("__u"), col("__sid"), col("__ty")).distinct()
      .localCheckpoint() // pairs, per-type counts, total all read it
    val pairs = st.select(col("__u"), col("__sid"), col("__ty").as("type_a"))
      .join(st.select(col("__u"), col("__sid"), col("__ty").as("type_b")),
        Seq("__u", "__sid"))
      .filter(col("type_a") < col("type_b"))
      .groupBy("type_a", "type_b").agg(count(lit(1)).as("n_sessions"))
    val perType = st.groupBy(col("__ty")).agg(count(lit(1)).as("__nt"))
    val total = st.select(col("__u"), col("__sid")).distinct()
      .agg(count(lit(1)).as("__ns"))
    pairLiftFold(pairs, perType, total)
  }

  /** q218's final fold, shared by [[sessionPairLift]] and
    * [[StreamingAnalytics.sessionPairLiftRollup]] so the two cannot
    * drift: `pairs` is `(type_a, type_b, n_sessions)`, `perType` is
    * `(__ty, __nt)` sessions per type, `total` is the 1-row `__ns`
    * session count. Per-type counts and the total join as broadcasts;
    * every ppm is floored with DECIMAL(38,0) cross-multiplication. */
  private[analytics] def pairLiftFold(pairs: DataFrame, perType: DataFrame,
      total: DataFrame): DataFrame =
    pairs
      .join(broadcast(perType.select(col("__ty").as("type_a"),
        col("__nt").as("__na"))), Seq("type_a"))
      .join(broadcast(perType.select(col("__ty").as("type_b"),
        col("__nt").as("__nb"))), Seq("type_b"))
      .crossJoin(broadcast(total))
      .select(col("type_a"), col("type_b"), col("n_sessions"),
        fdiv(dec(col("n_sessions")) * 1000000, dec(col("__ns")))
          .as("support_ppm"),
        fdiv(dec(col("n_sessions")) * 1000000, dec(col("__na")))
          .as("conf_a_to_b_ppm"),
        fdiv(dec(col("n_sessions")) * 1000000, dec(col("__nb")))
          .as("conf_b_to_a_ppm"),
        fdiv(dec(col("n_sessions")) * dec(col("__ns")) * 1000000,
          dec(col("__na")) * dec(col("__nb"))).as("lift_ppm"))
      .orderBy("type_a", "type_b")

  /** Daily growth accounting of active users: each (user, active day)
    * classifies as NEW (first day ever), RETAINED (active the previous
    * day too), or RESURRECTED (active before, but not yesterday); a
    * user CHURNS on day d+1 when active on d but not d+1 — churn is
    * booked against observed days only (no phantom day trails the
    * series). The DAU waterfall (`new + retained + resurrected = DAU`;
    * `DAU_d = DAU_{d-1} + new + resurrected − churned` on consecutive
    * days) behind every growth review. Output:
    * `(day_num, n_new, n_retained, n_resurrected, n_churned)`.
    *
    * Scale shape: the event log collapses to DISTINCT (user, day)
    * FIRST; lag and lead share ONE user-keyed window over that panel;
    * the churn arm is a day-shifted projection of the same pass
    * semi-joined to observed days; the report is a calendar-bounded
    * hash agg. */
  def growthAccounting(events: DataFrame, userCol: String,
      tsCol: String): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("__u").orderBy("__day")
    val panel = events.select(col(userCol).as("__u"),
        dayNum(tsMicros(events, tsCol)).as("__day"))
      .distinct()
      .withColumn("__prev", lag(col("__day"), 1).over(w))
      .withColumn("__next", lead(col("__day"), 1).over(w))
      .localCheckpoint() // class rollup + churn arm + day spine read it
    val classes = panel.groupBy(col("__day"))
      .agg(
        sum(when(col("__prev").isNull, 1L).otherwise(0L)).as("n_new"),
        sum(when(col("__prev") === col("__day") - 1, 1L).otherwise(0L))
          .as("n_retained"),
        sum(when(col("__prev").isNotNull &&
          col("__prev") < col("__day") - 1, 1L).otherwise(0L))
          .as("n_resurrected"))
    val churn = panel
      .filter(col("__next").isNull || col("__next") > col("__day") + 1)
      .select((col("__day") + 1).as("__day"))
      .groupBy("__day").agg(count(lit(1)).as("n_churned"))
    val days = panel.select(col("__day")).distinct()
    classes.join(churn, Seq("__day"), "full")
      .join(days, Seq("__day"), "left_semi")
      .select(col("__day").as("day_num"),
        coalesce(col("n_new"), lit(0L)).as("n_new"),
        coalesce(col("n_retained"), lit(0L)).as("n_retained"),
        coalesce(col("n_resurrected"), lit(0L)).as("n_resurrected"),
        coalesce(col("n_churned"), lit(0L)).as("n_churned"))
      .orderBy("day_num")
  }

  /** Hour-of-day activity profile: event count and exact mean value
    * (floored integer micros) per UTC hour — the diurnal-load shape
    * behind capacity planning and anomaly baselines ("is 3 a.m.
    * traffic normal for 3 a.m."). Hour = `⌊epoch_µs/3600e6⌋ mod 24`,
    * pure integer arithmetic (no engine hour() timezone semantics).
    * Output: `(hour, n_events, mean_value_micros)`.
    *
    * Scale shape: one scan, one 24-row hash agg with map-side
    * partials; the mean is an exact integer division per row of the
    * bounded output. */
  def hourlyProfile(events: DataFrame, tsCol: String,
      valueCol: String): DataFrame = {
    val t = tsMicros(events, tsCol)
    events.select(
        pmod((t - pmod(t, lit(3600000000L))) / lit(3600000000L), lit(24L))
          .cast("long").as("hour"),
        floor(col(valueCol) * 1000000d).cast("long").as("__vmic"))
      .groupBy("hour")
      .agg(count(lit(1)).as("n_events"),
        fdiv(dec(sum(col("__vmic"))), dec(count(lit(1))))
          .as("mean_value_micros"))
      .orderBy("hour")
  }

  /** Basket-size distribution: how many orders carry exactly N line
    * items — the order-shape histogram behind join-fanout estimates,
    * co-purchase feasibility (pair work is Σ basket²), and packaging
    * analytics. Output: `(basket_size, n_orders)`.
    *
    * Scale shape: the fact collapses to one count per order (hash agg
    * with partials), then a basket-size-bounded second agg — two
    * shuffles of count columns, no window, no join. */
  def basketSizeHistogram(lineitem: DataFrame): DataFrame =
    lineitem.groupBy(col("l_orderkey"))
      .agg(count(lit(1)).as("basket_size"))
      .groupBy("basket_size").agg(count(lit(1)).as("n_orders"))
      .orderBy("basket_size")

  /** Customer recency distribution: days since each customer's LAST
    * order, measured against the corpus's latest order date and rolled
    * into 30-day buckets — the at-risk/lapsed funnel (the "R" of RFM
    * as a population histogram instead of a per-customer rank).
    * `lo_day` is each bucket's inclusive lower bound in days. Output:
    * `(recency_bucket, lo_day, n_customers)`.
    *
    * Scale shape: the fact collapses to one max-date row per customer
    * (hash agg with partials); the corpus max is a broadcast 1-row
    * agg; the histogram is buckets-bounded. All date arithmetic is
    * integral epoch days. */
  def recencyHistogram(orders: DataFrame, bucketDays: Int = 30): DataFrame = {
    require(bucketDays >= 1, s"bucketDays must be >= 1, got $bucketDays")
    val perCust = orders.select(col("o_custkey").as("__c"),
        datediff(to_date(col("o_orderdate")), lit("1970-01-01"))
          .cast("long").as("__d"))
      .groupBy("__c").agg(max(col("__d")).as("__last"))
      .localCheckpoint() // corpus max + histogram read it
    val maxD = perCust.agg(max(col("__last")).as("__max"))
    perCust.crossJoin(broadcast(maxD))
      .withColumn("recency_bucket",
        fdiv(col("__max") - col("__last"), bucketDays.toLong))
      .groupBy("recency_bucket")
      .agg(count(lit(1)).as("n_customers"))
      .select(col("recency_bucket"),
        (col("recency_bucket") * bucketDays).as("lo_day"),
        col("n_customers"))
      .orderBy("recency_bucket")
  }

  /** Repurchase-gap survival curve: the cumulative share of
    * between-active-day gaps that close within each horizon — "what
    * fraction of repeat purchases happen within 7/30/90 days" — the
    * re-engagement-window number behind churn-definition and
    * win-back-campaign timing decisions. Gaps are measured between a
    * customer's consecutive DISTINCT order days (same-day repeat
    * orders are one active day, so every gap is ≥ 1 day). Output one
    * row per horizon: `(horizon_days, n_gaps, n_gaps_le, cum_ppm)`
    * with `cum_ppm = ⌊n_gaps_le·10⁶/n_gaps⌋` (floored integer ppm,
    * engine-exact). No gaps at all (every customer ordered on a
    * single day) → empty output on both engines.
    *
    * Scale shape: one customer-keyed shuffle (the lag window over the
    * distinct (customer, day) panel), then gaps collapse to a
    * calendar-span-bounded (gap, count) rollup with map-side partials
    * — the horizon census and the 1-row total both read THAT rollup
    * (localCheckpoint, never a second fact pass), and the horizon
    * explode multiplies gap-DISTINCT rows, never order rows. */
  def repurchaseSurvival(orders: DataFrame,
      horizons: Seq[Int] = Seq(7, 14, 30, 60, 90, 180)): DataFrame = {
    require(horizons.nonEmpty && horizons.forall(_ >= 1),
      s"horizons must be >= 1, got $horizons")
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("__c").orderBy("__d")
    val gaps = orders.select(col("o_custkey").as("__c"),
        datediff(to_date(col("o_orderdate")), lit("1970-01-01"))
          .cast("long").as("__d"))
      .distinct()
      .withColumn("__gap", col("__d") - lag(col("__d"), 1).over(w))
      .filter(col("__gap").isNotNull)
      .groupBy("__gap").agg(count(lit(1)).as("__n"))
      .localCheckpoint() // span-bounded; total agg + horizon census read it
    val tot = gaps.agg(sum(col("__n")).as("__tot"))
    // distinct BEFORE the explode: a duplicated horizon would land its
    // gap rows twice in one horizon_days group and double n_gaps_le
    val hs = array(horizons.distinct.sorted.map(h => lit(h.toLong)): _*)
    gaps.crossJoin(broadcast(tot))
      .select(explode(hs).as("horizon_days"), col("__gap"), col("__n"),
        col("__tot"))
      .groupBy("horizon_days", "__tot")
      .agg(sum(when(col("__gap") <= col("horizon_days"), col("__n"))
        .otherwise(0L)).as("n_gaps_le"))
      .select(col("horizon_days"), col("__tot").as("n_gaps"),
        col("n_gaps_le"),
        fdiv(dec(col("n_gaps_le")) * 1000000, dec(col("__tot")))
          .as("cum_ppm"))
      .orderBy("horizon_days")
  }

  /** Population Stability Index per event type: the standard ML-ops
    * drift number between the value distribution of the FIRST half of
    * the observed calendar and the SECOND —
    * `PSI = Σ_bins (p_i − q_i)·ln(p_i/q_i)` — "did this feature's
    * distribution move between training time and now" (rule of thumb:
    * < 0.1 stable, > 0.25 drifted). Complements [[termDrift]] (q136),
    * which reports top-k token deltas, with a single distributional
    * distance; and [[revenueAnomalies]] (q145), which flags days, with
    * a regime-level comparison. Values bin equal-width per type over
    * the type's GLOBAL micro bounds ([[priceHistogram]]'s ceil-width
    * integer idiom — engine-exact boundaries); Laplace +1 smoothing on
    * every bin keeps empty bins finite on both engines. The statistic
    * is exact fixed-point:
    * `psi_micro = ⌊Σ (p·N_q − q·N_p)·(L(p·N_q) − L(q·N_p)) / (N_p·N_q)⌋`
    * with `L(n) = ⌊ln(n)·10⁶⌋` on INTEGER arguments (the q196/q72
    * discipline) — every term is ≥ 0 because L is monotone, so PSI
    * can never go negative on a floor artifact. Output:
    * `(event_type, n_first, n_second, psi_micro_nats)` (raw
    * pre-smoothing counts).
    *
    * Scale shape: two narrow fact scans — one collapses to the
    * types-bounded (type, value/day bounds) relation (checkpointed;
    * the global midpoint derives from IT, not a third scan), one bins
    * against those broadcast bounds into a (type × 2 × bins) hash agg
    * with map-side partials. Everything after the second scan is
    * types×bins-bounded; the dense smoothing frame explodes off the
    * bounds relation, never the fact. */
  def psiDrift(events: DataFrame, typeCol: String, tsCol: String,
      valueCol: String, bins: Int = 10): DataFrame = {
    require(bins >= 1, s"bins must be >= 1, got $bins")
    val t = tsMicros(events, tsCol)
    val vm = events.select(col(typeCol).as("__ty"),
      dayNum(t).as("__day"),
      floor(col(valueCol) * 1000000d).cast("long").as("__vm"))
    val bounds = vm.groupBy("__ty").agg(
        min(col("__vm")).as("__lo"), max(col("__vm")).as("__hi"),
        min(col("__day")).as("__tdlo"), max(col("__day")).as("__tdhi"))
      .localCheckpoint() // types-bounded; midpoint + bin join read it
    val mid = bounds.agg((min(col("__tdlo")) +
      fdiv(max(col("__tdhi")) - min(col("__tdlo")) + 2L, lit(2L)))
      .as("__mid"))
    val counts = vm.join(broadcast(bounds.drop("__tdlo", "__tdhi")), "__ty")
      .crossJoin(broadcast(mid))
      .withColumn("__half",
        when(col("__day") < col("__mid"), 0L).otherwise(1L))
      .withColumn("__w", ceilBinWidth(col("__lo"), col("__hi"), bins))
      .withColumn("__b", fdiv(col("__vm") - col("__lo"), col("__w")))
      .groupBy("__ty", "__half", "__b").agg(count(lit(1)).as("__c"))
    val frame = bounds.select(col("__ty"),
        explode(sequence(lit(0L), lit((bins - 1).toLong))).as("__b"))
      .select(col("__ty"), col("__b"),
        explode(array(lit(0L), lit(1L))).as("__half"))
    val cells = frame.join(counts, Seq("__ty", "__half", "__b"), "left")
      .withColumn("__c1", coalesce(col("__c"), lit(0L)) + 1L)
      .groupBy("__ty", "__b").agg(
        sum(when(col("__half") === 0L, col("__c1")).otherwise(0L)).as("__p"),
        sum(when(col("__half") === 1L, col("__c1")).otherwise(0L)).as("__q"))
      .localCheckpoint() // types×bins; totals + term fold read it
    psiFold(cells, Seq("__ty"), bins)
      .select(col("__ty").as("event_type"), col("n_p").as("n_first"),
        col("n_q").as("n_second"), col("psi_micro_nats"))
      .orderBy("event_type")
  }

  /** Brand-pair co-purchase lift — market-basket association rules at
    * BRAND grain over orders (the [[sessionPairLift]] statistics on
    * the commerce relation: q218 asks "which actions co-occur in a
    * session", this asks "which brands co-occur in a basket"). For
    * every unordered brand pair: baskets containing both, support,
    * and lift (`n_both·N / (n_a·n_b)`) in exact cross-multiplied
    * floored ppm — lift > 10⁶ means the pair attracts. Output:
    * `(brand_a, brand_b, n_both, support_ppm, lift_ppm)`.
    *
    * Scale shape: the brand dim broadcasts onto the fact, baskets
    * collapse to DISTINCT (order, brand) first (hash agg) and
    * checkpoint ONCE (pair join + marginals + total all read it);
    * pair volume is Σ basket-brand-count² — bounded by baskets ×
    * brands-per-basket², never lines²; the report is brands²-bounded. */
  def brandPairLift(part: DataFrame, lineitem: DataFrame): DataFrame = {
    val ob = lineitem.select(col("l_orderkey").as("__o"),
        col("l_partkey").as("__p"))
      .join(broadcast(part.select(col("p_partkey").as("__p"),
        col("p_brand").as("__b"))), "__p")
      .select(col("__o"), col("__b")).distinct()
      .localCheckpoint() // pair join + marginals + total read it
    val total = ob.select(col("__o")).distinct().agg(count(lit(1)).as("__n"))
    val marg = ob.groupBy("__b").agg(count(lit(1)).as("__m"))
    val pairs = ob.as("a").join(ob.as("b"),
        col("a.__o") === col("b.__o") && col("a.__b") < col("b.__b"))
      .groupBy(col("a.__b").as("brand_a"), col("b.__b").as("brand_b"))
      .agg(count(lit(1)).as("n_both"))
    pairs
      .join(broadcast(marg.select(col("__b").as("brand_a"),
        col("__m").as("__ma"))), "brand_a")
      .join(broadcast(marg.select(col("__b").as("brand_b"),
        col("__m").as("__mb"))), "brand_b")
      .crossJoin(broadcast(total))
      .select(col("brand_a"), col("brand_b"), col("n_both"),
        fdiv(dec(col("n_both")) * 1000000, dec(col("__n")))
          .as("support_ppm"),
        fdiv(dec(col("n_both")) * dec(col("__n")) * 1000000,
          dec(col("__ma")) * dec(col("__mb"))).as("lift_ppm"))
      .orderBy("brand_a", "brand_b")
  }

  /** Session bounce rate by entry type: the share of gap sessions that
    * end after their very first event, keyed by what that first event
    * was — the landing-quality number behind "which entry points lose
    * people immediately". Shares [[gapSessionTag]]'s boundary rule;
    * the entry event is the (ts, id)-least of the session (struct-min,
    * deterministic under ties). Output:
    * `(entry_type, n_sessions, n_bounces, bounce_ppm)`, floored ppm.
    *
    * Scale shape: the ONE user-keyed shuffle every journey operator
    * pays (the tag window), then sessions collapse by hash agg
    * (struct-min entry + count — no second window), and the census is
    * vocabulary-bounded. */
  def sessionBounceRate(events: DataFrame, userCol: String,
      typeCol: String, tsCol: String, idCol: String,
      gapUs: Long): DataFrame = {
    val tagged = gapSessionTag(events, userCol, typeCol, tsCol, idCol, gapUs)
    bounceFold(tagged.groupBy("__u", "__sid")
      .agg(count(lit(1)).as("__n"),
        min(struct(col("__t"), col("__id"), col("__ty"))).as("__first"))
      .select(col("__first.__ty").as("entry_type"), col("__n")), "__n")
  }

  /** q236's final fold, shared by [[sessionBounceRate]] and
    * [[StreamingAnalytics.sessionBounceRollup]] so the two cannot
    * drift: one row per session with its `entry_type` and its event
    * count in `nEventsCol`, to `(entry_type, n_sessions, n_bounces,
    * bounce_ppm)` — a session of one event is a bounce. */
  private[analytics] def bounceFold(sessions: DataFrame,
      nEventsCol: String): DataFrame =
    sessions.groupBy("entry_type")
      .agg(count(lit(1)).as("n_sessions"),
        sum(when(col(nEventsCol) === 1L, 1L).otherwise(0L)).as("n_bounces"))
      .select(col("entry_type"), col("n_sessions"), col("n_bounces"),
        fdiv(dec(col("n_bounces")) * 1000000, dec(col("n_sessions")))
          .as("bounce_ppm"))
      .orderBy("entry_type")

  /** Seasonal-naive forecast backtest: score the forecast
    * "revenue(d) ≈ revenue(d − 7)" (same weekday last week — the
    * baseline every real forecasting system must beat) over the
    * observed daily-revenue panel, reporting per month the evaluated
    * days, MAE in cents, and WMAPE in floored ppm
    * (`⌊Σ|a−f|·10⁶ / Σa⌋` — the ratio-of-sums form, integer-exact and
    * robust to near-zero days where a per-day MAPE explodes). Only
    * days whose d−7 is also an observed order day are scored (no
    * zero-fill — absent days are unknowns, not zeros). A month whose
    * actuals sum to 0 pins WMAPE NULL (the q190 rule). Output:
    * `(month, n_days, mae_cents, wmape_ppm)`.
    *
    * Scale shape: the fact collapses ONCE to the calendar-bounded
    * (day, cents) panel (hash agg, map-side partials; checkpointed —
    * both self-join sides read it); the lag-7 alignment is a
    * panel-sized equi-join, and the report is months-bounded. */
  def seasonalNaiveBacktest(orders: DataFrame, lagDays: Int = 7): DataFrame = {
    require(lagDays >= 1, s"lagDays must be >= 1, got $lagDays")
    val panel = orders.select(
        datediff(to_date(col("o_orderdate")), lit("1970-01-01"))
          .cast("long").as("__d"),
        (col("o_totalprice").cast(DecimalType(18, 2)) * 100)
          .cast("long").as("__cents"))
      .groupBy("__d").agg(sum(col("__cents")).as("__a"))
      .localCheckpoint() // calendar-bounded; both alignment sides read it
    val f = panel.select((col("__d") + lagDays).as("__d"),
      col("__a").as("__f"))
    panel.join(f, "__d")
      .select(
        date_format(timestamp_micros(col("__d") * lit(86400000000L)),
          "yyyy-MM").as("month"),
        col("__a"), abs(col("__a") - col("__f")).as("__err"))
      .groupBy("month")
      .agg(count(lit(1)).as("n_days"),
        fdiv(dec(sum(col("__err"))), dec(count(lit(1)))).as("mae_cents"),
        when(sum(col("__a")) === 0L, lit(null).cast("long"))
          .otherwise(fdiv(dec(sum(col("__err"))) * 1000000,
            dec(sum(col("__a"))))).as("wmape_ppm"))
      .orderBy("month")
  }

  /** The shared PSI fold: given a DENSE Laplace-smoothed cell relation
    * `(keys..., __b, __p, __q)` (every key × bin present, both counts
    * ≥ 1), computes the exact fixed-point PSI per key group (the
    * [[psiDrift]] arithmetic — see there for the formula and why
    * terms are provably ≥ 0). Output: `(keys..., n_p, n_q,
    * psi_micro_nats)` with `n_p`/`n_q` the PRE-smoothing totals.
    * Shared by the batch drift operator and the streaming monitor's
    * [[psiAgainstBaseline]] finisher — one tested home for the fold
    * (the global-rank consolidation rule). */
  private[graft] def psiFold(cells: DataFrame, keys: Seq[String],
      bins: Int): DataFrame = {
    def lnMicro(c: Column): Column =
      floor(log(c.cast("double")) * lit(1000000L)).cast("long")
    val keyCols = keys.map(col)
    val totals = cells.groupBy(keyCols: _*)
      .agg(sum(col("__p")).as("__np"), sum(col("__q")).as("__nq"))
    cells.join(broadcast(totals), keys)
      .withColumn("__term",
        (dec(col("__p")) * dec(col("__nq")) - dec(col("__q")) * dec(col("__np"))) *
          dec(lnMicro(dec(col("__p")) * dec(col("__nq"))) -
            lnMicro(dec(col("__q")) * dec(col("__np")))))
      .groupBy(keyCols: _*)
      .agg((max(col("__np")) - bins).cast("long").as("n_p"),
        (max(col("__nq")) - bins).cast("long").as("n_q"),
        fdiv(sum(col("__term")), max(dec(col("__np")) * dec(col("__nq"))))
          .as("psi_micro_nats"))
  }

  /** The shared equal-width bin geometry ([[priceHistogram]]'s ceil
    * idiom): `⌈(hi − lo + 1)/bins⌉` in integers, floored at 1 — ONE
    * home so [[psiDrift]]'s inline widths and [[psiBinSpec]]'s frozen
    * widths can never diverge. */
  private[analytics] def ceilBinWidth(lo: Column, hi: Column,
      bins: Int): Column = {
    greatest(fdiv(hi - lo + bins, lit(bins.toLong)), lit(1L))
  }

  /** The shared clamped bin assignment: `(vm − lo) div width` clamped
    * into `[0, bins)` — serving-time values outside the calibration
    * range land in the edge bins. ONE home so
    * [[graft.analytics.StreamingAnalytics.psiDriftStream]]'s streaming
    * counts stay bit-identical to [[psiBinCounts]]'s batch re-bin (the
    * congruence both docstrings advertise). */
  private[graft] def clampedBin(vm: Column, lo: Column, width: Column,
      bins: Int): Column = {
    least(greatest(fdiv(vm - lo, width), lit(0L)),
      lit((bins - 1).toLong))
  }

  /** Equal-width integer bin spec per type, frozen off a BASELINE
    * relation — the calibration snapshot a streaming drift monitor
    * carries (the [[quantileNormalizeQuality]]-threshold pattern:
    * train-time bounds travel to serving time as a tiny broadcast
    * table). Width uses the shared [[ceilBinWidth]]. Output:
    * `(event_type, lo_micro, width_micro)`. */
  def psiBinSpec(baseline: DataFrame, typeCol: String, valueCol: String,
      bins: Int = 10): DataFrame = {
    require(bins >= 1, s"bins must be >= 1, got $bins")
    baseline.select(col(typeCol).as("event_type"),
        floor(col(valueCol) * 1000000d).cast("long").as("__vm"))
      .groupBy("event_type")
      .agg(min(col("__vm")).as("lo_micro"),
        ceilBinWidth(min(col("__vm")), max(col("__vm")), bins)
          .as("width_micro"))
  }

  /** Bin counts against a frozen [[psiBinSpec]]: in-range values take
    * the shared [[clampedBin]]; types the baseline has NEVER SEEN
    * (no spec row) land in the sentinel overflow bin `bins` — a novel
    * serving-time type is the loudest drift there is and must never
    * be silently dropped by the spec join. Output:
    * `(event_type, __b, n)` with `__b ∈ [0, bins]`. */
  def psiBinCounts(df: DataFrame, typeCol: String, valueCol: String,
      spec: DataFrame, bins: Int = 10): DataFrame =
    df.select(col(typeCol).as("event_type"),
        floor(col(valueCol) * 1000000d).cast("long").as("__vm"))
      .join(broadcast(spec), Seq("event_type"), "left")
      .withColumn("__b", when(col("lo_micro").isNull, lit(bins.toLong))
        .otherwise(clampedBin(col("__vm"), col("lo_micro"),
          col("width_micro"), bins)))
      .groupBy("event_type", "__b").agg(count(lit(1)).as("n"))

  /** PSI of CURRENT bin counts against a frozen BASELINE — the
    * finisher behind the streaming drift monitor
    * ([[graft.analytics.StreamingAnalytics.psiDriftStream]] emits
    * windowed bin counts; this scores each window). `extraKeys`
    * (e.g. the window column) key the current side; the baseline
    * broadcasts onto every group. Dense frames + Laplace smoothing
    * happen here so sparse windows are well-defined; the frame spans
    * `[0, bins]` INCLUSIVE — bin `bins` is [[psiBinCounts]]'s
    * never-seen-type sentinel, so a type absent from the calibration
    * scores loudly instead of vanishing. Output:
    * `(event_type, extraKeys..., n_baseline, n_current,
    * psi_micro_nats)`. PSI is symmetric, so baseline/current
    * orientation affects only the column names. */
  def psiAgainstBaseline(current: DataFrame, baseline: DataFrame,
      bins: Int = 10, extraKeys: Seq[String] = Nil): DataFrame = {
    require(bins >= 1, s"bins must be >= 1, got $bins")
    val keys = "event_type" +: extraKeys
    // [0, bins-1] plus psiBinCounts' never-seen-type sentinel bin: a
    // novel serving-time type must score maximal drift, never vanish
    val cellsPerGroup = bins + 1
    // every (type, extraKeys) group present in CURRENT gets the full
    // dense bin frame; baseline-only types score nothing (no traffic)
    val groups = current.select(keys.map(col): _*).distinct()
    val frame = groups.select(col("*"),
      explode(sequence(lit(0L), lit(bins.toLong))).as("__b"))
    val cells = frame
      .join(current.withColumnRenamed("n", "__cq"),
        keys :+ "__b", "left")
      .join(broadcast(baseline.withColumnRenamed("n", "__cp")),
        Seq("event_type", "__b"), "left")
      .withColumn("__p", coalesce(col("__cp"), lit(0L)) + 1L)
      .withColumn("__q", coalesce(col("__cq"), lit(0L)) + 1L)
    psiFold(cells, keys, cellsPerGroup)
      .select((keys.map(col) :+ col("n_p").as("n_baseline") :+
        col("n_q").as("n_current") :+ col("psi_micro_nats")): _*)
      .orderBy(keys.map(col): _*)
  }

  /** Pairwise correlation of daily event-type volumes: for every type
    * pair, the signed square of the Pearson correlation between the
    * two types' daily-count series over the SHARED observed calendar
    * (zero-filled days included via the algebra, never materialized) —
    * the do-these-signals-move-together matrix behind metric-redundancy
    * and leading-indicator checks. The statistic is
    * `sign(cov)·r²` in floored integer ppm: with
    * `num = n·Σxy − Σx·Σy`, `denₐ = n·Σx² − (Σx)²` (population forms,
    * n = calendar span in days), it evaluates as
    * `sign(num) · ⌊⌊|num|·10⁶/denₐ⌋·⌊|num|·10⁶/den_b⌋ / 10⁶⌋` — every
    * step an integer floor division both engines perform identically
    * (r itself needs a sqrt, which is IEEE-rounding territory; r² is
    * not). By Cauchy–Schwarz `num² ≤ denₐ·den_b`, so the PRODUCT of
    * the two inner quotients is ≤ ~10¹² (each alone may exceed 10⁶
    * when one variance is small) — comfortably inside exact decimal
    * range. A constant series (zero variance) yields NULL for its
    * pairs. Output:
    * `(type_a, type_b, n_days, r2_signed_ppm)` with `type_a < type_b`.
    *
    * Scale shape: ONE fact scan collapses to the (type, day) daily
    * panel (map-side partials; localCheckpoint — three readers). The
    * cross-moment Σxy comes from the panel's self-join on day (days
    * where either count is zero contribute nothing to Σxy, so the
    * zero-filled algebra is exact without densifying), the per-type
    * moments and the 1-row span agg come from the same panel, and the
    * vocabulary²-bounded pair frame assembles by broadcast joins —
    * the fact is never touched twice and nothing scales beyond
    * (types × active days). Moments accumulate in DECIMAL(38,0):
    * |num|·10⁶ stays inside 38 digits up to ~10¹⁰ events/day over a
    * ~30-year calendar. */
  def typeDailyCorrelation(events: DataFrame, typeCol: String,
      tsCol: String): DataFrame = {
    val t = tsMicros(events, tsCol)
    val daily = events.select(col(typeCol).as("__ty"),
        dayNum(t).as("__day"))
      .groupBy("__ty", "__day").agg(count(lit(1)).as("__n"))
      .localCheckpoint() // (types × active days); span + moments + Σxy
    val span = daily.agg((max(col("__day")) - min(col("__day")) + 1L)
      .as("__nd"))
    val moments = daily.groupBy("__ty").agg(
      sum(col("__n")).as("__sx"),
      sum(dec(col("__n")) * dec(col("__n"))).as("__sxx"))
    val sxy = daily.as("a")
      .join(daily.as("b"),
        col("a.__day") === col("b.__day") && col("a.__ty") < col("b.__ty"))
      .groupBy(col("a.__ty").as("__ta"), col("b.__ty").as("__tb"))
      .agg(sum(dec(col("a.__n")) * dec(col("b.__n"))).as("__sxy"))
    val ma = moments.select(col("__ty").as("__ta"), col("__sx").as("__sxa"),
      col("__sxx").as("__sxxa"))
    val mb = moments.select(col("__ty").as("__tb"), col("__sx").as("__sxb"),
      col("__sxx").as("__sxxb"))
    // every frame relation is vocabulary-bounded: the non-equi pair
    // expansion and the Σxy attach both broadcast EXPLICITLY (a stats
    // misestimate must never turn types² into a shuffled cartesian)
    val frame = ma.join(broadcast(mb), col("__ta") < col("__tb"))
      .join(broadcast(sxy), Seq("__ta", "__tb"), "left")
      .crossJoin(broadcast(span))
      .select(col("__ta"), col("__tb"), col("__nd"),
        (dec(col("__nd")) * coalesce(col("__sxy"), dec(lit(0))) -
          dec(col("__sxa")) * dec(col("__sxb")))
          .as("__num"),
        (dec(col("__nd")) * col("__sxxa") - dec(col("__sxa")) *
          dec(col("__sxa"))).as("__dena"),
        (dec(col("__nd")) * col("__sxxb") - dec(col("__sxb")) *
          dec(col("__sxb"))).as("__denb"))
    frame.select(col("__ta").as("type_a"), col("__tb").as("type_b"),
        col("__nd").cast("long").as("n_days"),
        signedR2Ppm(col("__num"), col("__dena"), col("__denb"))
          .as("r2_signed_ppm"))
      .orderBy("type_a", "type_b")
  }

  /** The shared signed-r² render: given the population-form Pearson
    * numerator and the two variance denominators (all exact
    * DECIMAL(38,0)), evaluates `sign(num) · ⌊⌊|num|·10⁶/denₐ⌋ ·
    * ⌊|num|·10⁶/den_b⌋ / 10⁶⌋` — see [[typeDailyCorrelation]] for why
    * r² (no sqrt) and why the two-quotient floor sequence is
    * engine-exact. NULL when either variance is 0. One home for the
    * idiom ([[typeDailyCorrelation]] q228 and
    * [[revenueAutocorrelation]] q237 both render through it). */
  private def signedR2Ppm(num: Column, dena: Column,
      denb: Column): Column = {
    when(dena === 0 || denb === 0, lit(null).cast("long"))
      .otherwise((when(num > 0, 1L).when(num < 0, -1L).otherwise(0L) *
        fdivDec(fdivDec(abs(num) * 1000000, dena) *
          fdivDec(abs(num) * 1000000, denb),
          dec(lit(1000000))).cast("long"))
        .cast("long"))
  }

  /** Supplier fulfilment-SLA census: per supplier nation, the share of
    * line items shipped later than `budgetDays` after their order date
    * and the mean ship delay — the logistics scorecard behind supplier
    * reviews (q189 trends the same gap by MONTH; this slices it by WHO
    * ships it, the review's other axis). Delay is exact integral days;
    * the rate is floored ppm and the mean floored milli-days. Output:
    * `(nation, n_lines, n_late, late_ppm, mean_delay_millidays)`.
    *
    * Scale shape: the order-date attach is the one fact×fact equi-join
    * the gap requires (both sides order-keyed — no broadcast
    * pretense); the joined fact then collapses to per-supplier
    * (count, late count, delay sum) BEFORE the supplier join, which
    * therefore moves suppliers-sized relations (the supplier table is
    * NOT broadcastable at warehouse scale); the nation dim broadcasts;
    * the census is nations-bounded. */
  def lateDeliveryCensus(lineitem: DataFrame, orders: DataFrame,
      supplier: DataFrame, nation: DataFrame,
      budgetDays: Int = 60): DataFrame = {
    require(budgetDays >= 0, s"budgetDays must be >= 0, got $budgetDays")
    val perSupp = lineitem.select(col("l_orderkey").as("__o"),
        col("l_suppkey").as("__s"), to_date(col("l_shipdate")).as("__sd"))
      .join(orders.select(col("o_orderkey").as("__o"),
        to_date(col("o_orderdate")).as("__od")), "__o")
      .select(col("__s"),
        datediff(col("__sd"), col("__od")).cast("long").as("__delay"))
      .groupBy("__s")
      .agg(count(lit(1)).as("__n"),
        sum(when(col("__delay") > budgetDays, 1L).otherwise(0L))
          .as("__nl"),
        sum(col("__delay")).as("__d"))
    perSupp
      .join(supplier.select(col("s_suppkey").as("__s"),
        col("s_nationkey").as("__nk")), "__s")
      .join(broadcast(nation.select(col("n_nationkey").as("__nk"),
        col("n_name").as("nation"))), "__nk")
      .groupBy("nation")
      .agg(sum(col("__n")).as("n_lines"), sum(col("__nl")).as("n_late"),
        sum(col("__d")).as("__delay"))
      .select(col("nation"), col("n_lines"), col("n_late"),
        fdiv(dec(col("n_late")) * 1000000, dec(col("n_lines")))
          .as("late_ppm"),
        fdiv(dec(col("__delay")) * 1000, dec(col("n_lines")))
          .as("mean_delay_millidays"))
      .orderBy("nation")
  }

  /** Audience-overlap matrix: Jaccard similarity between the DISTINCT
    * user sets of every event-type pair — "do the people who do A also
    * do B" at membership grain (q228 correlates VOLUMES over time;
    * this compares WHO, the segmentation/retargeting view). Output:
    * `(type_a, type_b, n_users_a, n_users_b, n_both, jaccard_ppm)`
    * for ALL pairs (zero-overlap pairs report 0), exact floored ppm.
    *
    * Scale shape: the fact collapses once to the DISTINCT (type, user)
    * relation (hash agg, map-side partials; checkpointed — sizes and
    * both self-join sides read it); the user-keyed self-join fans out
    * at most types² per user; sizes and the pair frame are
    * vocabulary-bounded broadcasts ([[sessionCooccurrence]]'s
    * discipline at corpus-lifetime grain). */
  def audienceOverlap(events: DataFrame, typeCol: String,
      userCol: String): DataFrame = {
    val tu = events.select(col(typeCol).as("__ty"), col(userCol).as("__u"))
      .distinct()
      .localCheckpoint() // sizes + both self-join sides read it
    val sizes = tu.groupBy("__ty").agg(count(lit(1)).as("__n"))
    val inter = tu.as("a").join(tu.as("b"),
        col("a.__u") === col("b.__u") && col("a.__ty") < col("b.__ty"))
      .groupBy(col("a.__ty").as("__ta"), col("b.__ty").as("__tb"))
      .agg(count(lit(1)).as("__i"))
    sizes.select(col("__ty").as("__ta"), col("__n").as("__na"))
      .join(broadcast(sizes.select(col("__ty").as("__tb"),
        col("__n").as("__nb"))), col("__ta") < col("__tb"))
      .join(broadcast(inter), Seq("__ta", "__tb"), "left")
      .select(col("__ta").as("type_a"), col("__tb").as("type_b"),
        col("__na").as("n_users_a"), col("__nb").as("n_users_b"),
        coalesce(col("__i"), lit(0L)).as("n_both"),
        fdiv(dec(coalesce(col("__i"), lit(0L))) * 1000000,
          dec(col("__na") + col("__nb") - coalesce(col("__i"), lit(0L))))
          .as("jaccard_ppm"))
      .orderBy("type_a", "type_b")
  }

  /** Stream-freshness census: per event type, the last observed event
    * time and its staleness against the corpus frontier — the
    * "which feeds went quiet" monitor every ingestion dashboard leads
    * with (a type whose staleness grows while others stay at zero is
    * a dead producer, not a quiet day). Staleness is exact integer
    * seconds (floored micros division). Output:
    * `(event_type, n_events, last_epoch_us, staleness_sec)`.
    *
    * Scale shape: ONE fact scan collapses to the types-bounded
    * (type, count, max-ts) rollup (map-side partials, checkpointed);
    * the corpus frontier derives from THAT rollup as a broadcast
    * 1-row agg — never a second scan. */
  def typeFreshness(events: DataFrame, typeCol: String,
      tsCol: String): DataFrame = {
    val per = events.select(col(typeCol).as("event_type"),
        tsMicros(events, tsCol).as("__t"))
      .groupBy("event_type")
      .agg(count(lit(1)).as("n_events"), max(col("__t")).as("last_epoch_us"))
      .localCheckpoint() // frontier + render read it
    per.crossJoin(broadcast(per.agg(max(col("last_epoch_us")).as("__mx"))))
      .select(col("event_type"), col("n_events"), col("last_epoch_us"),
        fdiv(col("__mx") - col("last_epoch_us"), lit(1000000L))
          .as("staleness_sec"))
      .orderBy("event_type")
  }

  /** Abandonment census: of all `fromType` events, how many were NOT
    * followed by a `toType` event from the same user within `windowUs`
    * — the cart-abandonment number (funnels count who converts; this
    * counts the structured failure the funnel can't see, with its
    * time budget). "Followed" means strictly after in the (ts, id)
    * total order and within `(t, t + windowUs]`. Output one row:
    * `(n_from_events, n_abandoned, abandon_ppm, n_users_abandoning)`.
    *
    * Scale shape: the ONE user-keyed shuffle (a forward-looking
    * min-over-following window carries each event's next `toType`
    * time — the as-of carry trick reversed, one window, never a range
    * join); the census is a two-level rollup (per-user, then 1 row).
    * Only the two relevant types enter the window sort. */
  def abandonmentCensus(events: DataFrame, userCol: String,
      typeCol: String, tsCol: String, idCol: String, fromType: String,
      toType: String, windowUs: Long): DataFrame = {
    require(windowUs > 0, s"windowUs must be positive, got $windowUs")
    require(fromType != toType, "fromType and toType must differ")
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("__u").orderBy(col("__t"), col("__id"))
      .rowsBetween(org.apache.spark.sql.expressions.Window.currentRow,
        org.apache.spark.sql.expressions.Window.unboundedFollowing)
    val fromEvents = events
      .select(col(userCol).as("__u"), col(typeCol).as("__ty"),
        tsMicros(events, tsCol).as("__t"), col(idCol).as("__id"))
      .filter(col("__ty").isin(fromType, toType))
      // the frame includes the current row, but a fromType row is null
      // there, so "next toType" is strictly-(t, id)-after by the same
      // convention the funnels use
      .withColumn("__nb",
        min(when(col("__ty") === toType, col("__t"))).over(w))
      .filter(col("__ty") === fromType)
      .withColumn("__abd",
        when(col("__nb").isNull || col("__nb") > col("__t") + windowUs,
          1L).otherwise(0L))
    abandonFold(fromEvents, "__u", col("__abd"))
  }

  /** q241's final fold, shared by [[abandonmentCensus]] and
    * [[StreamingAnalytics.abandonmentRollup]] so the two cannot drift:
    * one row per `fromType` event, keyed by `userCol`, with `abandoned`
    * 1 for an abandoned event and 0 otherwise, to the one row
    * `(n_from_events, n_abandoned, abandon_ppm, n_users_abandoning)` —
    * a per-user hash agg, then the 1-row rollup. */
  private[analytics] def abandonFold(fromEvents: DataFrame, userCol: String,
      abandoned: Column): DataFrame =
    fromEvents.groupBy(userCol)
      .agg(count(lit(1)).as("__nf"), sum(abandoned).as("__na"))
      .agg(sum(col("__nf")).as("n_from_events"),
        sum(col("__na")).as("n_abandoned"),
        sum(when(col("__na") > 0, 1L).otherwise(0L))
          .as("n_users_abandoning"))
      .select(col("n_from_events"), col("n_abandoned"),
        fdiv(dec(col("n_abandoned")) * 1000000, dec(col("n_from_events")))
          .as("abandon_ppm"),
        col("n_users_abandoning"))

  /** Per-customer spend-trend census: each customer's order-value
    * trajectory classified by the SIGN of its OLS slope over time
    * (improving / declining / flat), rolled up per market segment —
    * the account-health mix behind expansion-vs-churn forecasts. The
    * sign needs only the slope NUMERATOR `n·Σty − Σt·Σy` (the
    * denominator is a positive variance), evaluated in exact
    * DECIMAL(38,0) cross-multiplication — no regression solve, no
    * division, no float anywhere. Classes: `improving` (num > 0),
    * `declining` (num < 0), `flat` (num = 0 OR all orders on one day —
    * zero time variance), `single` (one order — no trend exists).
    * Output: `(segment, trend, n_customers)`.
    *
    * Scale shape: the fact collapses to 5 accumulators per customer in
    * ONE hash agg with map-side partials (no window — a per-customer
    * ORDER BY would shuffle-sort the fact for nothing); the segment
    * attach is an equi-join of two customers-sized relations (left to
    * Catalyst/AQE — the customer table is NOT a broadcastable dim at
    * warehouse scale, unlike part/nation); the census is
    * segments×4-bounded. Σty ≤ days·cents·orders stays far inside
    * DECIMAL(38,0) at any realistic scale. */
  def customerTrendCensus(orders: DataFrame,
      customer: DataFrame): DataFrame = {
    val per = orders.select(col("o_custkey").as("__c"),
        dec(datediff(to_date(col("o_orderdate")), lit("1970-01-01"))
          .cast("long")).as("__t"),
        dec((col("o_totalprice").cast(DecimalType(18, 2)) * 100)
          .cast("long")).as("__y"))
      .groupBy("__c")
      .agg(count(lit(1)).as("__n"), sum(col("__t")).as("__st"),
        sum(col("__y")).as("__sy"),
        sum(col("__t") * col("__y")).as("__sty"),
        sum(col("__t") * col("__t")).as("__stt"))
    val num = dec(col("__n")) * col("__sty") - col("__st") * col("__sy")
    val dent = dec(col("__n")) * col("__stt") - col("__st") * col("__st")
    per
      .withColumn("trend",
        when(col("__n") === 1L, "single")
          .when(dent === 0 || num === 0, "flat")
          .when(num > 0, "improving")
          .otherwise("declining"))
      .join(customer.select(col("c_custkey").as("__c"),
        col("c_mktsegment").as("segment")), "__c")
      .groupBy("segment", "trend")
      .agg(count(lit(1)).as("n_customers"))
      .orderBy("segment", "trend")
  }

  /** Lag-k autocorrelation of the daily revenue series — "does today
    * predict next week": the signed r² (the q228 convention — exact,
    * no sqrt) between the series and itself shifted by each lag, with
    * UNOBSERVED days correctly treated as zero-revenue days through
    * the same algebra (moments use edge-trimmed conditional sums over
    * the observed panel; Σxy pairs only observed×observed days — zero
    * terms vanish). n at lag k is the calendar span minus k; lags at
    * or past the span are absent. A constant (or single-point) side
    * yields NULL. Output: `(lag, n_days, r2_signed_ppm)`.
    *
    * Scale shape: the fact collapses ONCE to the calendar-bounded
    * (day, cents) panel (checkpointed — moments, bounds, and the
    * shifted join all read it); per-lag moments are conditional sums
    * over panel × |lags| rows; the shifted alignment is a panel-sized
    * equi-join per lag; the report is lags-bounded. */
  def revenueAutocorrelation(orders: DataFrame,
      lags: Seq[Int] = Seq(1, 7)): DataFrame = {
    require(lags.nonEmpty && lags.forall(_ >= 1),
      s"lags must be >= 1, got $lags")
    val zero = dec(lit(0))
    val panel = orders.select(
        datediff(to_date(col("o_orderdate")), lit("1970-01-01"))
          .cast("long").as("__d"),
        (col("o_totalprice").cast(DecimalType(18, 2)) * 100)
          .cast("long").as("__x"))
      .groupBy("__d").agg(sum(col("__x")).as("__x"))
      .localCheckpoint() // calendar-bounded; moments + both join sides
    val bounds = panel.agg(min(col("__d")).as("__lo"),
      max(col("__d")).as("__hi"))
    // distinct BEFORE the explode: a duplicated lag would scale the
    // conditional moment sums and Σxy by its multiplicity while n does
    // not — a silently wrong r2_signed_ppm, not just a repeated row
    val lagsArr = array(lags.distinct.sorted.map(k => lit(k.toLong)): _*)
    val m = panel.crossJoin(broadcast(bounds))
      .select(col("__d"), col("__x"), col("__lo"), col("__hi"),
        explode(lagsArr).as("lag"))
      .groupBy("lag")
      .agg(max(col("__hi") - col("__lo") + 1 - col("lag")).as("__n"),
        sum(when(col("__d") >= col("__lo") + col("lag"), col("__x"))
          .otherwise(0L)).as("__xs"),
        sum(when(col("__d") >= col("__lo") + col("lag"),
          dec(col("__x")) * dec(col("__x"))).otherwise(zero)).as("__xss"),
        sum(when(col("__d") <= col("__hi") - col("lag"), col("__x"))
          .otherwise(0L)).as("__ys"),
        sum(when(col("__d") <= col("__hi") - col("lag"),
          dec(col("__x")) * dec(col("__x"))).otherwise(zero)).as("__yss"))
    val shifted = panel.select(col("__d").as("__ds"), col("__x").as("__y"))
    val sxy = panel
      .select(col("__d"), col("__x"), explode(lagsArr).as("lag"))
      .join(shifted, col("__d") === col("__ds") + col("lag"))
      .groupBy("lag").agg(sum(dec(col("__x")) * dec(col("__y")))
        .as("__sxy"))
    m.join(broadcast(sxy), Seq("lag"), "left")
      .filter(col("__n") >= 1)
      .select(col("lag"), col("__n").cast("long").as("n_days"),
        signedR2Ppm(
          dec(col("__n")) * coalesce(col("__sxy"), zero) -
            dec(col("__xs")) * dec(col("__ys")),
          dec(col("__n")) * col("__xss") - dec(col("__xs")) * dec(col("__xs")),
          dec(col("__n")) * col("__yss") - dec(col("__ys")) * dec(col("__ys")))
          .as("r2_signed_ppm"))
      .orderBy("lag")
  }
}
