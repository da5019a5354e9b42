package graft

import org.apache.spark.sql.functions._
import graft.util.Salting

/** Physical-plan audits: the properties that matter at 100 TB, asserted
  * so a regression (lost pushdown, lost broadcast, accidental cartesian)
  * fails CI rather than surfacing as a 100× slowdown on a cluster. */
class PlanSpec extends SparkSpec {
  import spark.implicits._

  private def plan(name: String): String =
    SparkEntry.queries(name)(spark, sf).queryExecution.executedPlan.toString()

  test("Plans.explain: two explains of one query in one session are byte-identical") {
    // each holds expression and exchange ids; q109 also lambda identities and
    // lambda variables, q65 the RDDs of the checkpoints its explain runs
    for (name <- Seq("q1_pricing_summary", "q109_gramian", "q65_dedup_keep_best")) {
      val first = Plans.explain(spark, name, sf)
      assert(Plans.explain(spark, name, sf) == first, name)
      assert(first.contains("#0") && first.contains("plan_id=0"), s"$name:\n$first")
      assert(!"""\$Lambda\$\d|\.scala:\d""".r.findFirstIn(first).isDefined, s"$name:\n$first")
    }
  }

  test("q6 top-orders: column pruning reaches the parquet scan") {
    val p = plan("q6_top_orders")
    assert(p.contains("ReadSchema: struct<o_orderkey:bigint,o_totalprice:double>"),
      s"scan should read exactly 2 columns:\n$p")
  }

  test("q3 product-inventory MV: dim side is broadcast, fact never shuffles") {
    val p = plan("q3_product_inventory")
    assert(p.contains("BroadcastHashJoin"), s"expected broadcast join:\n$p")
  }

  test("q4 referential integrity: customer dim broadcast; lineitem pre-aggregated") {
    val p = plan("q4_ref_integrity")
    assert(p.contains("BroadcastHashJoin"))
    assert(!p.contains("CartesianProduct"))
  }

  test("q1 pricing summary: vectorized scan + map-side partial aggregation") {
    val p = plan("q1_pricing_summary")
    // (AQE prints the pre-execution plan without WholeStageCodegen spans;
    // the load-bearing properties are the partial agg and batched scan)
    assert(p.contains("partial_sum"), "map-side partial aggregation expected")
    assert(p.contains("Batched: true"), "vectorized parquet scan expected")
  }

  test("q7 latest-per-key: hash aggregate, not a window sort") {
    val p = plan("q7_latest_event_per_user")
    assert(p.contains("HashAggregate") || p.contains("SortAggregate"))
    assert(!p.contains("Window"), "latest-per-key must not use a window")
  }

  test("q13 discrepancies: one join, no cartesian, no broadcast of the big sides") {
    val p = plan("q13_all_discrepancies")
    assert(!p.contains("CartesianProduct"))
    assert(p.contains("SortMergeJoin") || p.contains("ShuffledHashJoin") ||
      p.contains("BroadcastHashJoin")) // tiny sf may broadcast; any equi-join ok
  }

  test("predicate pushdown: point lookup reaches PushedFilters") {
    val df = graft.reconcile.Differ.getRowByKey(
      Tables.orders(spark, sf), Map("o_orderkey" -> 42L))
    val p = df.queryExecution.executedPlan.toString()
    assert(p.contains("PushedFilters: [IsNotNull(o_orderkey), EqualTo(o_orderkey,42)]"),
      s"expected pushdown:\n$p")
  }

  test("q39 exact pair join: equi-join on block keys, no nested-loop/cartesian") {
    val p = plan("q39_embedding_neardup")
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"),
      s"block theta-join must plan as an equi-join:\n$p")
    assert(p.contains("SortMergeJoin") || p.contains("ShuffledHashJoin") ||
      p.contains("BroadcastHashJoin"))
    assert(p.contains("cosine_similarity"),
      "pair verification should use the native codegen kernel")
  }

  test("q34/q35 banded candidate joins: equi-joins, never cartesian") {
    // (the sketch kernels sit behind localCheckpoint'd indexes, so they
    // are asserted on the expression plans below, not these)
    for (q <- Seq("q34_minhash_pairs", "q35_simhash_pairs")) {
      val p = plan(q)
      assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"),
        s"$q must not plan a product join:\n$p")
    }
  }

  test("sketch kernels are the native expressions (codegen'd, not HOF folds)") {
    val docs = Tables.documents(spark, sf)
    val sig = docs.select(graft.text.Dedup.minhashSignature($"text").as("sig"))
      .queryExecution.executedPlan.toString()
    assert(sig.contains("minhash_sig"), s"expected native minhash kernel:\n$sig")
    val sh = docs.select(graft.text.TextAnalysis.simhash62($"text").as("sh"))
      .queryExecution.executedPlan.toString()
    assert(sh.contains("simhash62"), s"expected native simhash kernel:\n$sh")
  }

  test("q45 IVF probe: single codegen'd pass + top-k, no full sort") {
    val p = plan("q45_ann_ivf_topk")
    assert(p.contains("TakeOrderedAndProject"), "top-k must not be a full sort")
    assert(p.contains("cosine_similarity"), "ranking should use the native kernel")
    assert(p.contains("*(1)") && !p.contains("*(2)"),
      s"probe+rank should fuse into ONE codegen stage (no second stage):\n$p")
  }

  test("q48 DF cut: pair join reads the checkpointed cut table, equi-join only") {
    val p = plan("q48_ngram_dfcut")
    // the cut itself (LeftSemi vs the rare-shingle set) runs at
    // localCheckpoint materialization, so the query plan shows the
    // checkpoint SCAN — proving the explode+cut executes once, not per
    // consumer — and the pair join must remain a hash equi-join
    assert(p.contains("Scan ExistingRDD") || p.contains("LogicalRDD"),
      s"expected the checkpointed cut table scan:\n$p")
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoop"),
      s"pair join must stay an equi-join:\n$p")
  }

  test("q51 repetition: two-level agg with map-side partials, no window") {
    val p = plan("q51_repetition")
    // specifically the FIRST-level (doc, gram) count must keep its
    // map-side partial — a bare contains("partial") would be satisfied
    // by the final max/sum aggregate and miss the regression that ships
    // exploded gram rows through the exchange
    assert(p.contains("partial_count"),
      s"map-side partial count of (doc, gram) expected:\n$p")
    assert(!p.contains("Window"), "per-doc max/sum must be aggregation, not a window")
  }

  test("q52 packing: window is PARTITIONED by bucket (parallel, not global)") {
    val p = plan("q52_seq_pack")
    assert(p.contains("Window"), s"expected a window:\n$p")
    // the Window node's partition spec must key on bucket — matching
    // the projected column NAME alone would be vacuous (it appears in
    // any plan of this query); a GLOBAL window would additionally show
    // a single-partition Exchange
    assert("""windowspecdefinition\(bucket#\d+""".r.findFirstIn(p).isDefined,
      s"window partition spec must be bucket:\n$p")
    assert(!p.contains("Exchange SinglePartition"),
      s"global single-partition window is the at-scale bottleneck:\n$p")
  }

  test("q55 mix sampling: a pure scan + filter — no shuffle, no join, no agg") {
    val p = plan("q55_corpus_mix")
    assert(p.contains("Filter"), s"expected the ppm-coin filter:\n$p")
    assert(!p.contains("Exchange") && !p.contains("Join") &&
      !p.contains("Aggregate"),
      s"domain mixing must stay embarrassingly parallel:\n$p")
  }

  test("q56 budget selection: no GLOBAL window — the boundary window is bucket-partitioned") {
    // synthetic corpus with total tokens far above the budget, so a
    // boundary bucket is GUARANTEED regardless of any sf dataset's size
    // (the sf-driven q56 plan would lose its Window node entirely the
    // day the corpus fits the budget — a data-size precondition, not a
    // plan property)
    val corpus = (1L to 50L)
      .map(i => (i, ("word " * 40) + ("the of and " * i.toInt)))
      .toDF("doc_id", "text")
    val p = graft.text.TextAnalysis
      .selectByBudget(corpus, "doc_id", "text", budget = 100L)
      .queryExecution.executedPlan.toString()
    // the scale property: the ordered window must be keyed on the
    // quality bucket (only 1/buckets of rows flow through it); a global
    // window prints windowspecdefinition with an EMPTY partition spec —
    // i.e. starting directly at the ordering column's quality#N DESC
    assert("""windowspecdefinition\(__bkt#\d+""".r.findFirstIn(p).isDefined,
      s"boundary window must be partitioned by the quality bucket:\n$p")
    assert("""windowspecdefinition\(quality#\d+ DESC""".r.findFirstIn(p).isEmpty,
      s"a window partitioned by nothing (global sort) must not appear:\n$p")
  }

  test("q54 contamination counts: map-side partial count behind the semi-join") {
    val p = plan("q54_contamination_hits")
    assert(p.contains("BroadcastHashJoin") && p.contains("LeftSemi"),
      s"eval side must broadcast into a semi-join:\n$p")
    assert(p.contains("partial_count"),
      s"hit counting must keep its map-side partial:\n$p")
  }

  test("q61 vocabulary: two-level agg (no count-distinct), top-k not global sort") {
    val p = plan("q61_vocab_df")
    // the word-count shape: partial_count partials at BOTH agg levels
    assert(p.contains("partial_count"),
      s"vocab aggregation must keep map-side partials:\n$p")
    assert(!p.toLowerCase.contains("distinct"),
      s"df must come from the (token, doc) pre-agg, never count(distinct):\n$p")
    assert(p.contains("TakeOrderedAndProject"),
      s"top-100 must be TakeOrderedAndProject, not Sort+Limit:\n$p")
  }

  test("q62 chunking: zero exchanges — nothing leaves the input partition") {
    val p = plan("q62_chunk_windows")
    assert(p.contains("Generate"), s"expected the stride-grid explode:\n$p")
    assert(!p.contains("Exchange") && !p.contains("Join") &&
      !p.contains("Window"),
      s"chunking must stay embarrassingly parallel:\n$p")
  }

  test("q63 distinctive terms: per-doc window with map-side top-k pushdown") {
    val p = plan("q63_distinctive_terms")
    // the join strategy is Catalyst's size-based call (broadcast at test
    // SF, shuffle-on-token once the vocab outgrows the threshold) — the
    // load-bearing plan properties are the ones below
    assert("""windowspecdefinition\(__id#\d+""".r.findFirstIn(p).isDefined,
      s"top-k window must be partitioned by document:\n$p")
    assert(p.contains("WindowGroupLimit") && p.contains("Partial"),
      s"row_number <= k must push a PARTIAL group limit below the " +
        s"document exchange (top-k runs map-side, the shuffle carries " +
        s"at most k rows per doc):\n$p")
    assert(!p.toLowerCase.contains("cartesian"), s"no cartesian:\n$p")
  }

  test("q64 datasheet: median window per source, strata rollup broadcasts") {
    val p = plan("q64_corpus_datasheet")
    assert("""windowspecdefinition\(__stratum#\d+""".r.findFirstIn(p).isDefined,
      s"median rank must be windowed per stratum, never globally:\n$p")
    assert(p.contains("BroadcastHashJoin"),
      s"the strata-sized rollup must broadcast into the rank filter:\n$p")
    // the rollup materializes ONCE (localCheckpoint) and both consumers
    // read the checkpoint — a second corpus-wide aggregation pass must
    // not appear in the final plan
    assert(p.contains("ExistingRDD"),
      s"the strata rollup must be read from its checkpoint:\n$p")
    assert(!p.contains("partial_sum"),
      s"no re-aggregation of the corpus projection in the final plan:\n$p")
  }

  test("q66 exact-k sample: map-side group limit, window per stratum") {
    val p = plan("q66_sample_exactk")
    assert("""windowspecdefinition\(source#\d+""".r.findFirstIn(p).isDefined,
      s"rank must be windowed per stratum:\n$p")
    assert(p.contains("WindowGroupLimit") && p.contains("Partial"),
      s"row_number <= k must push a PARTIAL group limit below the " +
        s"stratum exchange:\n$p")
    assert(!p.contains("Join"), s"sampling must not join:\n$p")
  }

  test("q67 typicality: map-side partials, checkpointed bigrams, no window") {
    val p = plan("q67_typicality")
    assert(p.contains("partial_count") && p.contains("partial_sum"),
      s"both rollups must keep map-side partials:\n$p")
    assert(p.contains("localCheckpoint") || p.contains("ExistingRDD"),
      s"the bigram explode must be materialized once, not re-run per consumer:\n$p")
    assert(!p.contains("Window"), s"no window in the score plan:\n$p")
  }

  test("salted count equals plain count under synthetic skew") {
    val skewed = spark.range(10000)
      .select(when($"id" % 100 === 0, lit("hot")).otherwise(lit("cold")).as("k"))
    val plain = skewed.groupBy("k").count().as[(String, Long)].collect().toMap
    val salted = Salting.saltedCount(skewed, Seq("k"), salts = 8)
      .as[(String, Long)].collect().toMap
    assert(salted == plain)
  }

  test("q79 BM25: one-pass profile, broadcast stats, top-k not global sort") {
    val p = plan("q79_bm25_topk")
    assert(p.contains("TakeOrderedAndProject"),
      s"top-k must be TakeOrderedAndProject, not a global sort:\n$p")
    assert(p.contains("partial_count"),
      s"the doc profile must keep map-side partials:\n$p")
    assert(p.contains("BroadcastNestedLoopJoin"),
      s"the 1-row corpus stats must broadcast back:\n$p")
    assert(!p.contains("SortMergeJoin"),
      s"no corpus-sized shuffle join anywhere:\n$p")
  }

  test("q80 sharding: per-bucket window, never a global ordered one") {
    val p = plan("q80_shard_assign")
    assert("""windowspecdefinition\(__bkt#\d+""".r.findFirstIn(p).isDefined,
      s"prefix sum must be partitioned by the coin-range bucket:\n$p")
    assert("""windowspecdefinition\(__coin#\d+L? ASC""".r.findFirstIn(p).isEmpty,
      s"a global (unpartitioned) window must not appear:\n$p")
    assert(p.contains("BroadcastHashJoin"),
      s"the buckets-row base-offset table must broadcast:\n$p")
  }

  test("q81 BPE pairs: two hash aggs with partials, no join, bounded top-k") {
    val p = plan("q81_bpe_pair_counts")
    assert(p.contains("partial_count") && p.contains("partial_sum"),
      s"word counting and pair rollup must keep map-side partials:\n$p")
    assert(!p.contains("Join"), s"pair statistics must not join:\n$p")
    assert(p.contains("TakeOrderedAndProject"),
      s"top-50 must be TakeOrderedAndProject:\n$p")
  }

  test("q83 Lloyd step: narrow assignment, one (cell,dim) agg with partials") {
    val p = plan("q83_kmeans_lloyd_step")
    assert(p.contains("partial_sum") && p.contains("partial_count"),
      s"the member mean must keep map-side partials:\n$p")
    assert(!p.contains("Join"),
      s"fixed-centroid assignment is a projection — no join:\n$p")
    // exactly one aggregation exchange (on (cell, dim)) plus the final
    // order-by — no extra corpus-wide shuffles
    assert(!p.toLowerCase.contains("cartesian"), s"no cartesian:\n$p")
  }

  test("q91 star join: date filter pushed to the orders scan, nation broadcast") {
    val p = plan("q91_revenue_by_nation")
    assert(p.contains("BroadcastHashJoin"),
      s"the 25-row nation dim must broadcast:\n$p")
    assert("""PushedFilters: \[[^\]]*GreaterThanOrEqual\(o_orderdate"""
        .r.findFirstIn(p).isDefined,
      s"the date window must push to the orders scan, not evaluate post-join:\n$p")
    assert(!p.toLowerCase.contains("cartesian"), s"no cartesian:\n$p")
  }

  test("q92 top suppliers: fact pre-aggregates BEFORE the dim join, top-k bounded") {
    val p = plan("q92_top_suppliers")
    assert(p.contains("TakeOrderedAndProject"),
      s"top-10 must be TakeOrderedAndProject:\n$p")
    // the lineitem rollup must appear BELOW the supplier join: the
    // aggregate's partial pass shows up before any join keyed on
    // s_suppkey — assert partial aggregation exists and the join sees
    // the aggregated side
    assert(p.contains("partial_sum"),
      s"supplier revenue must pre-aggregate map-side:\n$p")
    // plans print top-down (children after parents): the aggregate being
    // a CHILD of the join means its line appears after the join's
    assert(p.indexOf("HashAggregate") > p.indexOf("Join"),
      s"aggregate must be the join's input (below it in the tree):\n$p")
  }

  test("q77 PQ search: compressed-domain scan → top-k, no join, no shuffle") {
    val p = plan("q77_ann_pq_topk")
    assert(p.contains("TakeOrderedAndProject"),
      s"ADC top-k must be TakeOrderedAndProject, not a global sort:\n$p")
    assert(!p.contains("Join") && !p.contains("Exchange"),
      s"ADC search must touch only the codes scan — no join/shuffle:\n$p")
  }

  test("q75 resampler: bucket-partitioned prefix sum, broadcast threshold probe") {
    val w = (1L to 500L).map(i => (i, i % 7 + 1)).toDF("doc_id", "w")
    val p = graft.text.TextAnalysis
      .systematicResample(w, "doc_id", "w", k = 16, buckets = 8)
      .queryExecution.executedPlan.toString()
    // the cumulative sum must run per id-range bucket, never as one
    // global ordered window (empty partition spec = starts at __id ASC)
    assert("""windowspecdefinition\(__bkt#\d+""".r.findFirstIn(p).isDefined,
      s"prefix sum must be partitioned by the id-range bucket:\n$p")
    assert("""windowspecdefinition\(__id#\d+L? ASC""".r.findFirstIn(p).isEmpty,
      s"a global (unpartitioned) window must not appear:\n$p")
    // k thresholds probe by interval containment — broadcast nested
    // loop over the tiny side, never a cartesian of the corpus
    assert(p.contains("BroadcastNestedLoopJoin"),
      s"threshold probe must broadcast the k-row side:\n$p")
    assert(!p.contains("CartesianProduct"), s"no cartesian:\n$p")
  }

  test("q96 shipping priority: pruned fact scans, semi-join, top-k not global sort") {
    val p = plan("q96_shipping_priority")
    // both date filters must reach their parquet scans
    assert(p.contains("PushedFilters: [IsNotNull(o_orderdate), LessThan(o_orderdate"),
      s"orders scan must push the date filter:\n$p")
    assert(p.contains("PushedFilters: [IsNotNull(l_shipdate), GreaterThan(l_shipdate"),
      s"lineitem scan must push the ship-date filter:\n$p")
    assert(p.contains("LeftSemi"), s"segment slice must be a semi-join:\n$p")
    assert(p.contains("TakeOrderedAndProject"), s"top-k must not global-sort:\n$p")
  }

  test("q97/q101: pre-agg before dim join; returnflag pushed; no fan-out on the semi side") {
    val p97 = plan("q97_returned_customers")
    assert(p97.contains("PushedFilters: [IsNotNull(l_returnflag), EqualTo(l_returnflag,R)"),
      s"returnflag must reach the lineitem scan:\n$p97")
    assert(p97.contains("TakeOrderedAndProject"))
    val p101 = plan("q101_priority_returns")
    assert(p101.contains("LeftSemi"), s"EXISTS must plan as a semi-join:\n$p101")
    assert(p101.contains("partial_count"), "map-side partial count expected")
  }

  test("q98/q100 share q36's index shape: equi-joins only, no cartesian") {
    for (q <- Seq("q98_containment_pairs", "q100_ngram_novelty")) {
      val p = plan(q)
      assert(!p.contains("CartesianProduct"), s"$q: no cartesian:\n$p")
      assert(!p.contains("BroadcastNestedLoopJoin"), s"$q: equi-joins only:\n$p")
    }
  }

  test("q99 tf-idf cosine: prefix-filtered candidates, per-pair HOF dot, equi-joins only") {
    // (the top-m window lives BEHIND the docsArr checkpoint — its
    // WindowGroupLimit pushdown is q63's asserted plan, same code shape)
    val p = plan("q99_tfidf_cosine_pairs")
    // the dot product is a per-candidate codegen'd fold — there must be
    // NO pair-key sum aggregation anywhere in the plan
    assert(!p.contains("partial_sum"),
      s"pair-key dot aggregation crept back in:\n$p")
    assert(p.contains("ExistingRDD") || p.contains("LogicalRDD"),
      s"candidate/verify legs must read the checkpointed vectors:\n$p")
    assert(!p.contains("CartesianProduct"), s"no cartesian:\n$p")
    assert(!p.contains("BroadcastNestedLoopJoin"), s"equi-joins only:\n$p")
  }

  test("q103/q105: fact collapses to per-key counts BEFORE the join") {
    val p103 = plan("q103_customer_distribution")
    assert(p103.contains("partial_count"), "per-customer rollup must partial-agg")
    assert(!p103.contains("CartesianProduct"))
    val p105 = plan("q105_large_volume_customers")
    assert(p105.contains("partial_sum"), "HAVING rollup must partial-agg")
    assert(p105.contains("TakeOrderedAndProject"), s"top-k must not global-sort:\n$p105")
  }

  test("q104 promo revenue: month filter pushed, part flag broadcast, fact never shuffles") {
    val p = plan("q104_promo_revenue")
    assert(p.contains("PushedFilters: [IsNotNull(l_shipdate), GreaterThanOrEqual(l_shipdate"),
      s"lineitem scan must push the ship-month filter:\n$p")
    assert(p.contains("BroadcastHashJoin"), s"part flag must broadcast:\n$p")
    assert(!p.contains("SortMergeJoin") && !p.contains("ShuffledHashJoin"),
      s"the fact must not shuffle for the dim join:\n$p")
  }

  test("q106/q107: scalar stats broadcast; anti join on keys; no float average") {
    val p106 = plan("q106_sales_opportunity")
    assert(p106.contains("LeftAnti"), s"NOT EXISTS must plan as anti join:\n$p106")
    assert(p106.contains("BroadcastNestedLoopJoin") || p106.contains("BroadcastExchange"),
      s"the 1-row stats must broadcast:\n$p106")
    assert(!p106.toLowerCase.contains("avg("), "mean compare must be cross-multiplied")
    val p107 = plan("q107_small_quantity_revenue")
    assert(p107.contains("LeftSemi"), s"brand slice must semi-join:\n$p107")
    assert(!p107.toLowerCase.contains("avg("), "threshold must be cross-multiplied")
  }

  test("q108 bigram LM: checkpointed bigram stream, partial aggs, equi-joins only") {
    val p = plan("q108_bigram_lm")
    assert(p.contains("Scan ExistingRDD") || p.contains("LogicalRDD"),
      s"bigram stream must be checkpointed (read 3x):\n$p")
    assert(p.contains("partial_count"), "rollups must pre-aggregate map-side")
    assert(!p.contains("CartesianProduct"), s"vocab attaches via broadcast:\n$p")
  }

  test("q109 gramian: no payload shuffle before the partial gramian; one (i,j) agg") {
    val p = plan("q109_gramian")
    assert(p.contains("HashAggregate"), s"partials must hash-aggregate:\n$p")
    // the embedding payload reaches mapPartitions on scan partitions —
    // the only exchange is the d²-bounded partials shuffle ABOVE the
    // MapPartitions node (plans print root-first, so any Exchange
    // printed after "MapPartitions" would sit below it, i.e. shuffle
    // the payload)
    assert(p.contains("MapPartitions"),
      s"the partial gramian must run as mapPartitions on scan partitions:\n$p")
    assert(p.lastIndexOf("Exchange") < p.indexOf("MapPartitions"),
      s"no exchange may sit below the partial gramian:\n$p")
  }

  test("q111 volume shipping: ship-date pushed to the fact scan; nation legs broadcast") {
    val p = plan("q111_volume_shipping")
    assert(p.contains("PushedFilters: [IsNotNull(l_shipdate), GreaterThanOrEqual(l_shipdate"),
      s"lineitem scan must push the ship-date window:\n$p")
    assert(p.contains("BroadcastHashJoin"),
      s"the 2-row nation slices must broadcast onto the dims:\n$p")
    assert(!p.contains("CartesianProduct"))
  }

  test("q112 market share: one hash agg computes both sums (no self-join on the fact)") {
    val p = plan("q112_market_share")
    assert(p.contains("PushedFilters: [IsNotNull(o_orderdate), GreaterThanOrEqual(o_orderdate"),
      s"orders scan must push the date window:\n$p")
    assert(p.contains("LeftSemi"),
      s"part-type and region slices must be semi-joins:\n$p")
    // the nation-share numerator is a conditional sum inside the SAME
    // aggregate as the total — the fact is scanned once (ReadSchema
    // prints the column type once per lineitem scan)
    assert("l_extendedprice:double".r.findAllIn(p).length == 1,
      s"lineitem must be scanned once, not once per sum:\n$p")
  }

  test("q113 product revenue: name-filtered part is a broadcast semi-join") {
    val p = plan("q113_product_revenue")
    assert(p.contains("BroadcastHashJoin") && p.contains("LeftSemi"),
      s"part slice must broadcast semi-join the fact:\n$p")
    assert(p.contains("partial_sum"), "map-side partial aggregation expected")
  }

  test("q114 bracket revenue: per-side bracket disjunctions pushed whole to both scans") {
    val p = plan("q114_bracket_revenue")
    // Catalyst splits the cross-table disjunction into a quantity-only
    // OR for the lineitem scan and a brand/size OR for the part scan —
    // BOTH land in PushedFilters as whole disjunctions (the plan
    // string truncates long filter lists, so match their heads)
    assert(p.contains("Or(Or(And(GreaterThanOrEqual(l_quantity,1.0)"),
      s"the quantity bracket disjunction must reach the lineitem scan:\n$p")
    assert(p.contains("Or(Or(And(EqualTo(p_brand,Brand#4)"),
      s"the brand/size bracket disjunction must reach the part scan:\n$p")
    assert(p.contains("BroadcastHashJoin"), s"part side must broadcast:\n$p")
  }

  test("q115 heavy hitters: candidate recount is a broadcast semi-join, map-side partials") {
    val p = plan("q115_heavy_hitters")
    assert(p.contains("BroadcastHashJoin") && p.contains("LeftSemi"),
      s"the recount filter must be a broadcast semi-join (map-side):\n$p")
    assert(p.contains("partial_count"),
      s"the recount must partial-aggregate before the shuffle:\n$p")
  }

  test("q116 stratified sample: per-stratum top-k is a map-side WindowGroupLimit") {
    val p = plan("q116_stratified_sample")
    assert(p.contains("WindowGroupLimit") && p.contains("Partial"),
      s"rank<=k must prune map-side, before the shuffle:\n$p")
  }

  test("q117 collocations: top-k is TakeOrderedAndProject; marginals from the pair table") {
    val p = plan("q117_collocations")
    assert(p.contains("TakeOrderedAndProject"),
      s"top-50 must be TakeOrderedAndProject, not a global sort:\n$p")
    // marginals derive from the checkpointed pair-count table: the raw
    // bigram stream must be scanned into exactly one aggregation
    assert(p.contains("LogicalRDD") || p.contains("ExistingRDD") ||
      p.contains("Scan ExistingRDD"),
      s"pair table must be the checkpointed leaf:\n$p")
  }

  test("q118 xty moments: map-side partial sums collapse to d rows per partition") {
    val p = plan("q118_xty_moments")
    assert(p.contains("partial_sum"),
      s"per-dim products must partial-aggregate before the shuffle:\n$p")
    assert(!p.contains("CartesianProduct"))
  }

  test("q119 funnel: ONE fact scan (no per-step self-joins), fold inside the agg") {
    val p = plan("q119_event_funnel")
    assert("events\\.parquet".r.findAllIn(p).length == 1,
      s"the funnel must scan events exactly once:\n$p")
    assert(p.contains("partial_count"),
      s"step counts must partial-aggregate before the shuffle:\n$p")
  }

  test("q120 retention: both rollups read the checkpointed (user, day) table") {
    val p = plan("q120_retention_cohorts")
    // the dedup materializes once (users·active-days-sized); the final
    // plan must NOT re-scan the event log for either leg
    assert(!p.contains("events.parquet"),
      s"the event log must not be re-scanned past the dedup:\n$p")
    assert(p.contains("ExistingRDD") || p.contains("LogicalRDD"),
      s"both legs must read the checkpointed (user, day) leaf:\n$p")
    assert(p.contains("HashAggregate"), s"rollups must be hash aggs:\n$p")
    assert(!p.contains("CartesianProduct"))
  }

  test("q121 as-of join: union + carry-forward window, never a range join") {
    val p = plan("q121_asof_join")
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"),
      s"as-of must not plan as a range/theta join:\n$p")
    assert(p.contains("Window") && p.contains("Union"),
      s"expected the union + carry-forward window formulation:\n$p")
  }

  test("q122 running revenue: window partitions by customer (no value shuffle beyond the key)") {
    val p = plan("q122_running_revenue")
    assert(p.contains("hashpartitioning(o_custkey"),
      s"the running sum must shuffle on the customer key only:\n$p")
    assert(p.contains("Window"), s"expected a window operator:\n$p")
  }

  test("q125 rollup / q126 pivot: one scan, one shared aggregation pass each") {
    val p125 = plan("q125_corpus_rollup")
    assert(p125.contains("Expand"),
      s"rollup must plan as grouping-set Expand, not unioned groupBys:\n$p125")
    assert("documents\\.parquet".r.findAllIn(p125).length == 1,
      s"rollup marginals must share one scan:\n$p125")
    val p126 = plan("q126_lang_pivot")
    assert("documents\\.parquet".r.findAllIn(p126).length == 1,
      s"pivot must be one hash agg over one scan:\n$p126")
    assert(p126.contains("partial_"),
      s"pivot counts must partial-aggregate map-side:\n$p126")
  }

  test("q127 phrase search: postings filter before the chain join, no cartesian") {
    val p = plan("q127_phrase_search")
    assert(!p.contains("CartesianProduct"), s"chain join must be equi-keyed:\n$p")
    // the phrase-token filter must run below the checkpoint/join, so the
    // joined lists are per-term postings, not the whole token stream
    assert(p.contains("Scan ExistingRDD") || p.contains("LogicalRDD") ||
      p.contains("isin") || p.contains("IN ("),
      s"expected filtered-postings leaves:\n$p")
  }

  test("q131 char entropy / q130 quantile norm: fused kernel / one key shuffle") {
    // round 20: the explode-per-character + (doc,char) hash-agg shape
    // (whose map-side partials this test used to pin) was replaced by the
    // fused native kernel — pin the NEW contract: one scan, the
    // char_entropy expression inline, and ZERO exchanges/aggregates
    val p131 = plan("q131_char_entropy")
    assert(p131.contains("char_entropy"),
      s"q131 must run the fused native kernel:\n$p131")
    assert(!p131.contains("Exchange") && !p131.toLowerCase.contains("aggregate"),
      s"per-row kernel must need no shuffle and no aggregation:\n$p131")
    val p130 = plan("q130_quantile_norm")
    assert(p130.contains("hashpartitioning(source"),
      s"quantile norm must shuffle on source only:\n$p130")
    assert("documents\\.parquet".r.findAllIn(p130).length == 1,
      s"quality + rank + count must share one scan:\n$p130")
  }

  test("q132 pca projection: narrow plan — zero exchanges, zero joins") {
    val emb = Tables.embeddings(spark, sf)
    val proj = graft.vector.Gramian.projectFp(emb, "vec_id", "embedding",
      Seq.fill(emb.select(size($"embedding")).head().getInt(0))(1000000L))
    val p = proj.queryExecution.executedPlan.toString()
    assert(!p.contains("Exchange"), s"projection must not shuffle:\n$p")
    assert(!p.contains("Join"), s"projection must not join:\n$p")
  }

  test("q128 label propagation: vote is aggregate-only, no window sort") {
    val p = plan("q128_label_propagation")
    assert(p.contains("max_by") || p.contains("HashAggregate"),
      s"argmax must be max_by aggregation:\n$p")
  }

  test("q135 SNM: equi-keyed band join, no cartesian, no global-order window") {
    val p = plan("q135_snm_pairs")
    assert(!p.contains("CartesianProduct"), s"band join must be equi-keyed:\n$p")
    // ranks come from per-length buckets — the only window partitions
    // by the length key, never an empty (global) partition spec
    assert(!p.contains("windowspecdefinition(__r"),
      s"no window over the global rank:\n$p")
    assert(p.contains("hashpartitioning(__n") || p.contains("windowspecdefinition(__n"),
      s"rank window must partition by the length bucket:\n$p")
  }

  test("q138 OHLC: one hash aggregation, no window, no sort before the agg") {
    val p = plan("q138_value_ohlc")
    assert(!p.contains("Window"), s"open/close must be min_by/max_by, not a window:\n$p")
    assert(p.contains("partial_"), s"map-side partials expected:\n$p")
  }

  test("q136/q137: drift top-k is TakeOrderedAndProject; transitions agg after one lag") {
    val p136 = plan("q136_term_drift")
    assert(p136.contains("TakeOrderedAndProject"),
      s"top-k must ride the shuffle, not a global sort:\n$p136")
    val p137 = plan("q137_event_transitions")
    assert(p137.contains("partial_"),
      s"transition counts must partial-aggregate map-side:\n$p137")
  }

  test("q144/q145/q146: order-keyed pair join, day-series window, lists-sized fusion") {
    val p144 = plan("q144_frequent_pairs")
    assert(!p144.contains("CartesianProduct"),
      s"pair explode must be the order-keyed self-join:\n$p144")
    assert(p144.contains("TakeOrderedAndProject"),
      s"top-k must ride the shuffle:\n$p144")
    val p145 = plan("q145_revenue_anomalies")
    assert(p145.contains("partial_"),
      s"the day rollup must partial-aggregate map-side:\n$p145")
    val p146 = plan("q146_rrf_fusion")
    assert(!p146.contains("CartesianProduct") ||
      p146.contains("BroadcastNestedLoopJoin"),
      s"fusion must never cross-join rankings:\n$p146")
    assert(p146.contains("TakeOrderedAndProject"),
      s"fused top-k must ride the shuffle:\n$p146")
  }

  test("q147 forecast revenue: discount envelope + date + quantity reach PushedFilters") {
    val p = plan("q147_forecast_revenue")
    // the exact DECIMAL(18,2) band cannot push (double→decimal cast);
    // the raw-double envelope [d−0.011, d+0.011] in front of it MUST —
    // it is what drives row-group skipping at scale
    assert(p.contains("GreaterThanOrEqual(l_discount,0.039"),
      s"discount envelope lower bound must push to the scan:\n$p")
    assert(p.contains("LessThanOrEqual(l_discount,0.061"),
      s"discount envelope upper bound must push to the scan:\n$p")
    assert(p.contains("GreaterThanOrEqual(l_shipdate,"),
      s"date range must push:\n$p")
    assert(p.contains("LessThan(l_quantity,24.0)"),
      s"quantity cap must push:\n$p")
    assert(p.contains("partial_sum"), "map-side 1-row partials expected")
  }

  test("q148 disjunctive revenue: part slice broadcast, quantity envelope pushed") {
    val p = plan("q148_disjunctive_revenue")
    assert(p.contains("BroadcastHashJoin"),
      s"the brand+size part slice must broadcast:\n$p")
    assert(!p.contains("CartesianProduct"))
    // the OR itself cannot push; its conjunctive envelope [1, 40] must
    assert(p.contains("GreaterThanOrEqual(l_quantity,1.0)") &&
      p.contains("LessThanOrEqual(l_quantity,40.0)"),
      s"the disjunction's quantity envelope must reach the fact scan:\n$p")
  }

  test("q149 waiting suppliers: rollup materialized once, fact never re-scanned") {
    val p = plan("q149_waiting_suppliers")
    // perSupp is localCheckpoint'ed: the one fact-fact join ran at
    // build time; the final plan must read its blocks (ExistingRDD)
    // and never reach back to the lineitem/orders parquet
    assert(p.contains("ExistingRDD"),
      s"per-(order,supplier) rollup must be materialized:\n$p")
    assert(!p.contains("lineitem.parquet") && !p.contains("orders.parquet"),
      s"the fact-fact join must not run twice:\n$p")
    assert(p.contains("TakeOrderedAndProject"),
      s"top-k must ride the shuffle:\n$p")
    assert(p.contains("BroadcastHashJoin"),
      s"the nation's supplier list joins broadcast after the rollup:\n$p")
  }

  test("q150 association rules: baskets materialized once, top-k rides the shuffle") {
    val p = plan("q150_association_rules")
    // baskets + Apriori-pruned baskets are localCheckpoint'ed — the
    // fact scans once at build time; all five consumers read blocks
    assert(p.contains("ExistingRDD") && !p.contains("lineitem.parquet"),
      s"five consumers must read the materialized baskets, not re-scan:\n$p")
    assert(!p.contains("CartesianProduct"),
      s"only the 1-row basket total may cross-join (broadcast NLJ):\n$p")
    assert(p.contains("TakeOrderedAndProject"),
      s"rule top-k must ride the shuffle:\n$p")
  }

  test("q151 rollup: ONE scan, ONE Expand, map-side partials") {
    val p = plan("q151_revenue_rollup")
    assert("FileScan parquet".r.findAllIn(p).size == 1,
      s"rollup must be one pass over one scan, not a job per level:\n$p")
    assert("\\bExpand\\b".r.findAllIn(p).size == 1,
      s"3 grouping sets must plan as a single Expand:\n$p")
    assert(p.contains("partial_"), s"map-side partials expected:\n$p")
  }

  test("q152 skyline: bounded-domain broadcast, never a catalog self-join") {
    val p = plan("q152_brand_skyline")
    assert(!p.contains("CartesianProduct") &&
      !p.contains("BroadcastNestedLoopJoin"),
      s"dominance must come from the (brand, price) table, not O(N²):\n$p")
    assert(p.contains("BroadcastHashJoin"),
      s"the per-(brand, price) max-size table must broadcast:\n$p")
    assert(p.contains("windowspecdefinition(__b"),
      s"the prefix max must window over the tiny table by brand:\n$p")
  }

  test("q153/q156: one user-keyed exchange, all windows share its sort") {
    val p153 = plan("q153_sessionization")
    assert("Exchange hashpartitioning".r.findAllIn(p153).size == 1,
      s"sessionize must shuffle by user exactly once:\n$p153")
    assert(p153.contains("windowspecdefinition(__u"),
      s"windows must partition by user, never globally:\n$p153")
    assert(p153.contains("partial_min"),
      s"the session rollup must partial-aggregate map-side:\n$p153")
    val p156 = plan("q156_scd2_intervals")
    assert("Exchange hashpartitioning".r.findAllIn(p156).size == 1,
      s"scd2 must shuffle by key exactly once:\n$p156")
    assert(p156.contains("windowspecdefinition(__k"),
      s"windows must partition by key:\n$p156")
  }

  test("q154 streaks: fact collapses to distinct (user, day) before any window") {
    val p = plan("q154_activity_streaks")
    assert("windowspecdefinition".r.findAllIn(p).size >= 1 &&
      !("windowspecdefinition\\(__day".r.findFirstIn(p).isDefined),
      s"the only window partitions by user:\n$p")
    assert("hashpartitioning\\(__u#\\d+L, __day".r.findFirstIn(p).isDefined,
      s"distinct (user, day) must aggregate before the window:\n$p")
    assert(p.contains("windowspecdefinition(__u"),
      s"island window must partition by user:\n$p")
  }

  test("q155 peak concurrency: bucketed sweep materialized, probe is broadcast") {
    val p = plan("q155_peak_concurrency")
    // the prefix sum ran bucketed at build time — the final plan reads
    // the checkpointed (t, cum) table, never a corpus-sized sort
    assert(p.contains("ExistingRDD") && !p.contains("events.parquet"),
      s"the sweep table must be the materialized bucketed cumsum:\n$p")
    assert(p.contains("BroadcastHashJoin"),
      s"the 1-row peak probe must broadcast:\n$p")
    assert(!p.contains("windowspecdefinition"),
      s"no ordered window may survive into the final plan:\n$p")
  }

  test("q157 RFM: every rank window partitions by range-partition id") {
    val p = plan("q157_rfm_segments")
    assert(p.contains("windowspecdefinition(__pid"),
      s"rank windows must run under the partition-id window:\n$p")
    assert(!"windowspecdefinition\\((last_order_day|frequency|monetary_cents)"
      .r.findFirstIn(p).isDefined,
      s"no global ORDER-BY-everything window:\n$p")
    assert(p.contains("BroadcastHashJoin"),
      s"driver prefix offsets must broadcast:\n$p")
  }

  test("q158 triangles: equi-join wedges, no cartesian, fact never re-scanned") {
    val p = plan("q158_triangle_count")
    assert(!p.contains("CartesianProduct"),
      s"wedge generation must be the oriented equi-join:\n$p")
    assert(p.contains("SortMergeJoin") || p.contains("ShuffledHashJoin"),
      s"wedges join on the shared source vertex:\n$p")
    assert(p.contains("LeftSemi"),
      s"triangle closure is a semi-join against the edge set:\n$p")
    assert(p.contains("ExistingRDD") && !p.contains("lineitem.parquet"),
      s"edges/degrees materialize once; the fact is never re-scanned:\n$p")
  }

  test("q159/q160: rollups materialized once, no global window, no fact re-scan") {
    val p159 = plan("q159_pareto_classes")
    assert(p159.contains("windowspecdefinition(__pid"),
      s"rank+prefix must run under the partition-id window:\n$p159")
    assert(!"windowspecdefinition\\(revenue_fp".r.findFirstIn(p159).isDefined,
      s"no ORDER-BY-everything window:\n$p159")
    assert(p159.contains("ExistingRDD") && !p159.contains("lineitem.parquet"),
      s"the part rollup materializes once:\n$p159")
    val p160 = plan("q160_rolling_active_users")
    assert(p160.contains("ExistingRDD") && !p160.contains("events.parquet"),
      s"distinct (user, day) materializes once for all three readers:\n$p160")
    assert(p160.contains("explode(sequence"),
      s"WAU must be the constant-factor cover-day explode:\n$p160")
    assert(!p160.contains("windowspecdefinition"),
      s"no rolling window over fact rows:\n$p160")
  }

  test("q161/q162: facts collapse before series window / argmax; dims broadcast") {
    val p161 = plan("q161_monthly_growth")
    assert(p161.contains("partial_sum"),
      s"monthly rollup must partial-aggregate map-side:\n$p161")
    assert("FileScan parquet".r.findAllIn(p161).size == 1,
      s"one pass over orders:\n$p161")
    val p162 = plan("q162_modal_priority")
    assert(p162.contains("BroadcastHashJoin"),
      s"customer dim must broadcast:\n$p162")
    assert(p162.contains("partial_count"),
      s"(segment, priority) counts collapse before the argmax:\n$p162")
    assert(!p162.contains("windowspecdefinition"),
      s"the mode is a struct max, not a window rank:\n$p162")
  }

  test("q163/q164: contingency/counts tables materialized, marginals broadcast") {
    val p163 = plan("q163_chi_square")
    // the marginal broadcasts run at checkpoint-build time; the final
    // plan must be cells-table-sized (the fact is never re-scanned)
    assert(p163.contains("ExistingRDD") && !p163.contains("orders.parquet"),
      s"the contingency table materializes once:\n$p163")
    assert(!p163.contains("CartesianProduct"),
      s"cells + TOTAL is a union, not a join:\n$p163")
    val p164 = plan("q164_key_skew")
    assert(p164.contains("TakeOrderedAndProject"),
      s"hot-key top-k must ride the shuffle:\n$p164")
    assert(p164.contains("ExistingRDD") && !p164.contains("lineitem.parquet"),
      s"per-key counts materialize once for totals + top-k:\n$p164")
  }

  test("q166 min-cost supplier: one fact pass, argmin without a window, dims broadcast") {
    val p = plan("q166_min_cost_supplier")
    assert("FileScan parquet".r.findAllIn(p).count(_ => true) >= 1 &&
      "lineitem\\.parquet".r.findAllIn(p).size == 1,
      s"the correlated min must NOT re-scan the fact:\n$p")
    assert(!p.contains("Window"),
      s"per-part argmin must be the struct min, not a window:\n$p")
    assert(p.contains("BroadcastHashJoin"),
      s"part slice and regional scope must broadcast:\n$p")
    assert(p.contains("EqualTo(p_size,15)") &&
      p.contains("EqualTo(p_type,STANDARD)"),
      s"part predicates must reach the dim scan:\n$p")
    assert(p.contains("partial_min"),
      s"per-(part,supp) cost must partial-aggregate map-side:\n$p")
  }

  test("q167 supplier class count: pairs dedup before joins, exclusions pushed") {
    val p = plan("q167_supplier_class_count")
    assert("lineitem\\.parquet".r.findAllIn(p).size == 1,
      s"one fact pass:\n$p")
    assert(p.contains("BroadcastHashJoin"),
      s"part classes must broadcast onto the deduped pairs:\n$p")
    assert(p.contains("Not(EqualTo(p_brand,Brand#13))") &&
      p.contains("In(p_size,"),
      s"brand/size exclusions must reach the part scan:\n$p")
    assert(!p.contains("Window"), s"count distinct needs no window:\n$p")
  }

  test("q168 dominant suppliers: date pushed, window over the aggregated pairs only") {
    val p = plan("q168_dominant_suppliers")
    assert("lineitem\\.parquet".r.findAllIn(p).size == 1,
      s"the per-part total must come from the aggregated relation, " +
        s"never a second fact pass:\n$p")
    assert(p.contains("GreaterThanOrEqual(l_shipdate,") &&
      p.contains("LessThan(l_shipdate,"),
      s"the ship-date window must reach the fact scan:\n$p")
    assert(p.contains("partial_sum"),
      s"pair quantities must partial-aggregate map-side:\n$p")
    assert("Window".r.findAllIn(p).size >= 1,
      s"per-part totals ride one window over pair-sized rows:\n$p")
  }

  test("q165 NFC normalize: one vectorized scan, expression in the project") {
    val p = plan("q165_nfc_normalize")
    assert(p.contains("nfc_normalize("),
      s"the native expression must drive the projection (no UDF):\n$p")
    assert("FileScan parquet".r.findAllIn(p).size == 1 &&
      p.contains("Batched: true"),
      s"one vectorized pass over documents:\n$p")
  }

  test("q169 strip control: one vectorized scan, expression in the project") {
    val p = plan("q169_strip_control")
    assert(p.contains("strip_control("),
      s"the native expression must drive the projection (no UDF):\n$p")
    assert("FileScan parquet".r.findAllIn(p).size == 1 &&
      p.contains("Batched: true"),
      s"one vectorized pass over documents:\n$p")
  }

  test("q171 leakage-safe splits: one corpus scan, components from the CC checkpoint") {
    val p = plan("q171_leakage_safe_splits")
    assert("documents\\.parquet".r.findAllIn(p).size == 1,
      s"the corpus joins the component map once — CC ran at build time:\n$p")
    assert(p.contains("ExistingRDD"),
      s"component labels must come from the min-label fixpoint's checkpoint:\n$p")
    assert(!p.contains("CartesianProduct"), s"no all-pairs anywhere:\n$p")
    assert(p.contains("poly_hash62("),
      s"the split coin must be the codegen'd portable hash:\n$p")
  }

  test("q170 source overlap: pairs off the materialized shingle set, sizes broadcast") {
    val p = plan("q170_source_overlap")
    assert(p.contains("ExistingRDD") && !p.contains("documents.parquet"),
      s"both join sides must read the checkpointed (source,shingle) set:\n$p")
    assert(!p.contains("CartesianProduct"),
      s"pair generation must be the shingle-equality join:\n$p")
    assert(p.contains("BroadcastHashJoin"),
      s"the |sources|-sized size table must broadcast:\n$p")
    assert(p.contains("partial_count"),
      s"intersections must partial-aggregate map-side:\n$p")
  }

  test("q172 cusum: fact collapses to the day series before any window") {
    val p = plan("q172_cusum_shift")
    assert("FileScan parquet".r.findAllIn(p).size == 1,
      s"one pass over orders:\n$p")
    assert(p.contains("partial_sum"),
      s"the day rollup must partial-aggregate map-side:\n$p")
    // the prefix windows are DELIBERATELY single-partition: they run
    // over the calendar-bounded day series (the movingDailyRevenue
    // claim), never over fact rows — the rollup must sit between the
    // scan and the first windowspecdefinition
    assert(p.contains("windowspecdefinition") && p.contains("HashAggregate"),
      s"prefix windows must read the aggregated series:\n$p")
  }

  test("q173 repeat intervals: customer-keyed lag, histogram rollup, dim broadcast") {
    val p = plan("q173_repeat_intervals")
    assert(p.contains("windowspecdefinition(o_custkey"),
      s"the lag window must partition by customer, never globally:\n$p")
    assert(p.contains("BroadcastHashJoin"),
      s"the customer dim must broadcast:\n$p")
    assert(p.contains("partial_count"),
      s"(segment, gap) histogram must partial-aggregate map-side:\n$p")
    assert(p.contains("windowspecdefinition(segment"),
      s"quantile windows run over the bounded histogram, by segment:\n$p")
  }

  test("q174 co-purchase degrees: edge set materialized once, fact never re-scanned") {
    val p = plan("q174_copurchase_degrees")
    assert(p.contains("ExistingRDD") && !p.contains("lineitem.parquet"),
      s"both degree readers must consume the checkpointed edge set:\n$p")
    assert(!p.contains("CartesianProduct"),
      s"pair generation is the per-order equi-self-join:\n$p")
    assert(p.contains("partial_count"),
      s"degree and histogram rollups must partial-aggregate:\n$p")
  }

  test("q175 value deciles: rank windows partition by range-partition id") {
    val p = plan("q175_value_deciles")
    assert(p.contains("windowspecdefinition(__pid"),
      s"the global rank must run under the partition-id window:\n$p")
    assert(!"windowspecdefinition\\(__price".r.findFirstIn(p).isDefined,
      s"no single-partition ORDER-BY-price window:\n$p")
    assert(p.contains("BroadcastHashJoin"),
      s"driver prefix offsets must broadcast:\n$p")
    assert(p.contains("ExistingRDD") && !p.contains("orders.parquet"),
      s"the ranged relation materializes once for counts + rank:\n$p")
  }

  test("q176 supplier HHI: fact collapses per supplier first, dims broadcast") {
    val p = plan("q176_supplier_hhi")
    assert("BroadcastHashJoin".r.findAllIn(p).size >= 2,
      s"supplier and nation dims must broadcast:\n$p")
    assert(p.contains("partial_sum"),
      s"per-supplier revenue must partial-aggregate map-side:\n$p")
    assert(p.contains("windowspecdefinition(n_name"),
      s"the share window runs over the supplier rollup, by nation:\n$p")
    assert("lineitem\\.parquet".r.findAllIn(p).size == 1,
      s"one pass over the fact:\n$p")
  }

  test("q177 SCD2 point-in-time: as-of carry-forward, never a range join") {
    val p = plan("q177_scd2_pointintime")
    assert(!p.contains("CartesianProduct") &&
      !p.contains("BroadcastNestedLoopJoin"),
      s"the BETWEEN match must execute as the as-of union window:\n$p")
    assert(p.contains("windowspecdefinition(__k"),
      s"the carry-forward window partitions by the join key:\n$p")
    assert(p.contains("ExistingRDD"),
      s"the SCD2 dim materializes once (as-of probe + value re-attach):\n$p")
  }

  test("q178/q179 cohort analytics: one customer-keyed window, one fact scan") {
    for (name <- Seq("q178_cohort_revenue", "q179_new_vs_returning")) {
      val p = plan(name)
      assert(p.contains("windowspecdefinition(o_custkey"),
        s"$name: the first-month window must partition by customer:\n$p")
      assert("FileScan parquet".r.findAllIn(p).size == 1,
        s"$name: one pass over orders:\n$p")
      assert(!p.contains("CartesianProduct"), s"$name: no joins at all:\n$p")
    }
  }

  test("q180 zipf slope: distributed head cut, fit over the k-row head only") {
    val p = plan("q180_zipf_slope")
    assert(p.contains("TakeOrderedAndProject"),
      s"the top-k head must ride TakeOrderedAndProject, never a full sort:\n$p")
    assert("FileScan parquet".r.findAllIn(p).size == 1,
      s"one pass over documents:\n$p")
    assert(p.contains("partial_count"),
      s"token counts must partial-aggregate map-side:\n$p")
  }

  test("q181 important parts: one fact collapse, scalar total broadcast back") {
    val p = plan("q181_important_parts")
    assert(p.contains("ExistingRDD") && !p.contains("lineitem.parquet"),
      s"the HAVING total and the share filter must read the checkpointed rollup:\n$p")
    assert(!p.contains("CartesianProduct"),
      s"the 1-row total joins back broadcast, never a cartesian:\n$p")
    assert(p.contains("partial_sum"),
      s"the rollup total must partial-aggregate:\n$p")
  }

  test("q182 priority by flag: date window pushed to the fact scan") {
    val p = plan("q182_priority_by_flag")
    assert(p.contains("PushedFilters") && p.contains("l_shipdate"),
      s"the ship-date window must reach the parquet scan:\n$p")
    assert(p.contains("partial_sum"),
      s"the CASE-sum pivot must partial-aggregate map-side:\n$p")
    assert(!p.contains("CartesianProduct"), s"one equi-join only:\n$p")
  }

  test("q183 props rollup: JSON extraction fused into the scan, no UDF") {
    val p = plan("q183_props_rollup")
    assert(p.contains("get_json_object"),
      s"extraction must be the codegen'd path expression:\n$p")
    assert(!p.toLowerCase.contains("batchevalpython") &&
      !p.contains("ScalaUDF"), s"no UDF in the extraction path:\n$p")
    assert("FileScan parquet".r.findAllIn(p).size == 1 &&
      p.contains("partial_count"),
      s"one scan, types-bounded hash agg with partials:\n$p")
  }

  test("q184 hard negatives: queries broadcast, map-side top-k bounds the exchange") {
    val p = plan("q184_hard_negatives")
    assert(p.contains("BroadcastNestedLoopJoin"),
      s"the deliberate Q-by-N scan must broadcast the tiny query slice:\n$p")
    assert(p.contains("WindowGroupLimit"),
      s"per-query top-k must prune map-side before the rank exchange:\n$p")
    assert(!p.contains("CartesianProduct"),
      s"never an unbroadcast cartesian:\n$p")
  }

  test("q185 ANN recall: index checkpointed, queries broadcast, no driver loop") {
    val p = plan("q185_ann_recall")
    assert(p.contains("ExistingRDD"),
      s"the cell assignment must materialize once:\n$p")
    assert(p.contains("BroadcastHashJoin") ||
      p.contains("BroadcastNestedLoopJoin"),
      s"the query slice must broadcast into both arms:\n$p")
    assert(p.contains("WindowGroupLimit"),
      s"both top-k arms must prune map-side:\n$p")
    assert(!p.contains("CartesianProduct"),
      s"never an unbroadcast cartesian:\n$p")
  }

  test("q186 session funnel: one user-keyed exchange feeds tag + fold") {
    val p = plan("q186_session_funnel")
    assert("Exchange hashpartitioning\\(__u".r.findAllIn(p).size == 1,
      s"session tag and fold must share ONE user shuffle:\n$p")
    assert(p.contains("windowspecdefinition(__u"),
      s"the session windows partition by user, never globally:\n$p")
    assert(!p.contains("CartesianProduct"), s"no step self-joins:\n$p")
  }

  test("q187 funnel latency: one fact scan, fold inside the user agg") {
    val p = plan("q187_funnel_latency")
    assert("events\\.parquet".r.findAllIn(p).length == 1,
      s"the latency fold must scan events exactly once (no per-step " +
        s"self-joins):\n$p")
    assert("Exchange hashpartitioning\\(__u".r.findAllIn(p).size == 1,
      s"exactly one user-keyed exchange feeds the fold:\n$p")
    assert(!p.contains("CartesianProduct"))
  }

  test("q188 sequence match: all patterns priced over ONE user-keyed pass") {
    val p = plan("q188_sequence_match")
    // NOTE: the default vocabulary validation (sequenceMatch's
    // no-substring contract) runs an EAGER distinct-types scan at
    // DataFrame-construction time — a separate narrow-column job this
    // pin cannot see (it is not in the returned plan). The "one scan"
    // assertion below is about the JOURNEY pass; callers on a
    // known-clean vocabulary skip the extra scan with
    // validateVocabulary = false.
    assert("events\\.parquet".r.findAllIn(p).length == 1,
      s"adding a pattern must add a projection, never a scan:\n$p")
    assert("Exchange hashpartitioning\\(__u".r.findAllIn(p).size == 1,
      s"one user-keyed exchange builds every journey string:\n$p")
    assert(!p.contains("Window"),
      s"journeys come from a hash agg (collect_list), not a window:\n$p")
    assert(!p.contains("CartesianProduct"))
  }

  test("q190 return rate: one fact scan, partials before the month agg") {
    val p = plan("q190_return_rate")
    assert("lineitem\\.parquet".r.findAllIn(p).length == 1,
      s"both revenue legs are conditional sums over ONE scan:\n$p")
    assert(p.contains("partial_sum"),
      s"the month rollup must partial-aggregate map-side:\n$p")
    assert(!p.contains("Join"), s"no joins in a single-table rollup:\n$p")
  }

  test("q191 last-touch attribution: one scan, one user exchange, no self-join") {
    val p = plan("q191_attribution_last")
    assert("events\\.parquet".r.findAllIn(p).length == 1,
      s"the touch lookup is a window, never a self-join:\n$p")
    assert("Exchange hashpartitioning\\(__u".r.findAllIn(p).size == 1,
      s"exactly one user-keyed exchange:\n$p")
    assert(!p.contains("CartesianProduct"))
  }

  test("q192 linear attribution: segment-tagged base materializes once") {
    val p = plan("q192_attribution_linear")
    assert(!p.contains("events.parquet"),
      s"touch rollup + conversion slice read the checkpointed base:\n$p")
    assert(p.contains("ExistingRDD"),
      s"the tagged base must be a materialized leaf:\n$p")
    assert(p.contains("partial_count") || p.contains("partial_sum"),
      s"touch counts partial-aggregate before the shuffle:\n$p")
    assert(!p.contains("CartesianProduct"))
  }

  test("q193 daily spine: calendar-sized frames only past the day rollup") {
    val p = plan("q193_daily_spine")
    assert(!p.contains("orders.parquet"),
      s"bounds + join must read the checkpointed day rollup:\n$p")
    assert(p.contains("ExistingRDD"),
      s"the day rollup materializes once:\n$p")
    assert(!p.contains("CartesianProduct"))
  }

  test("q194 brand VWAP: part dim broadcast, one fact scan, partials") {
    val p = plan("q194_brand_vwap")
    assert(p.contains("BroadcastHashJoin"),
      s"the (key, brand) dim projection must broadcast:\n$p")
    assert("lineitem\\.parquet".r.findAllIn(p).length == 1)
    assert(p.contains("partial_sum"),
      s"the brand-month rollup must partial-aggregate map-side:\n$p")
    assert(!p.contains("CartesianProduct"))
  }

  test("q195 ngram diversity: word-count shape, one documents scan") {
    val p = plan("q195_ngram_diversity")
    assert("documents\\.parquet".r.findAllIn(p).length == 1,
      s"grams come from index arithmetic on ONE scan:\n$p")
    assert(p.contains("partial_count"),
      s"hot grams must collapse in map-side partials:\n$p")
    assert(!p.contains("Window"), s"no windows in a word-count:\n$p")
  }

  test("q196 source KL: totals derive from the rollup, no second scan") {
    val p = plan("q196_source_kl")
    assert(!p.contains("documents.parquet"),
      s"token/source/grand totals read the checkpointed rollup:\n$p")
    assert(p.contains("BroadcastHashJoin"),
      s"the sources-bounded totals must broadcast:\n$p")
    // the token-keyed join is deliberately DECLARATIVE: Catalyst
    // broadcasts this corpus' tiny vocabulary, but a forced hint would
    // OOM on a web-scale one — so the pin is absence-of-cartesian, not
    // presence-of-broadcast, for that leg
    assert(!p.contains("CartesianProduct"))
  }

  test("q197 session paths: tag + path build share one user exchange") {
    val p = plan("q197_session_paths")
    assert("events\\.parquet".r.findAllIn(p).length == 1)
    assert("Exchange hashpartitioning\\(__u".r.findAllIn(p).size == 1,
      s"the (user, session) agg must reuse the window's exchange:\n$p")
    assert(p.contains("TakeOrderedAndProject"),
      s"top-k paths must never global-sort:\n$p")
  }

  test("q198 MAD outliers: ranks under the partition-id window, never global") {
    val p = plan("q198_mad_outliers")
    assert(p.contains("windowspecdefinition(__pid"),
      s"per-type ranks come from the range-partition decomposition:\n$p")
    assert(!"windowspecdefinition\\(__ty".r.findFirstIn(p).isDefined,
      s"never a per-type window over the raw fact (hot types):\n$p")
    assert(p.contains("BroadcastHashJoin"),
      s"offsets/medians are k-sized broadcasts:\n$p")
    assert(!p.contains("events.parquet"),
      s"both rank passes read checkpointed leaves:\n$p")
  }

  test("q199 brand top parts: window over the aggregated relation, pruned map-side") {
    val p = plan("q199_brand_top_parts")
    assert("lineitem\\.parquet".r.findAllIn(p).length == 1)
    assert(p.contains("partial_sum"),
      s"the fact collapses to per-part revenue before any window:\n$p")
    assert(p.contains("BroadcastHashJoin"),
      s"the brand dim must broadcast onto the rollup:\n$p")
    assert(p.contains("WindowGroupLimit"),
      s"row_number <= k must prune map-side:\n$p")
  }

  test("q200 status LOCF: panel-sized work past the checkpointed day collapse") {
    val p = plan("q200_status_locf")
    assert(!p.contains("events.parquet"),
      s"span agg + panel join read the checkpointed (user, day) table:\n$p")
    assert(p.contains("ExistingRDD"))
    assert(p.contains("windowspecdefinition(__u"),
      s"the carry-forward window partitions by user, never globally:\n$p")
    assert(!p.contains("CartesianProduct"))
  }

  test("q201 lang confusion: one scan, one hash agg, no joins") {
    val p = plan("q201_lang_confusion")
    assert("documents\\.parquet".r.findAllIn(p).length == 1)
    assert(p.contains("partial_count"),
      s"the matrix rollup must partial-aggregate map-side:\n$p")
    assert(!p.contains("Join"), s"a confusion matrix needs no join:\n$p")
  }

  test("q202 weighted median: prefix sums under the partition-id window") {
    val p = plan("q202_weighted_median")
    assert(p.contains("windowspecdefinition(__pid"),
      s"the cumulative weight comes from the range-partition decomposition:\n$p")
    assert(!"windowspecdefinition\\(__g".r.findFirstIn(p).isDefined,
      s"never a per-group window over the raw fact:\n$p")
    assert(p.contains("BroadcastHashJoin"),
      s"group offsets/totals are k-sized broadcasts:\n$p")
    assert(!p.contains("lineitem.parquet"),
      s"the ranged relation materializes once for counts + prefix:\n$p")
  }

  test("q203 clustering coefficient: triangle-bounded work off checkpointed edges") {
    val p = plan("q203_clustering_coeff")
    assert(!p.contains("lineitem.parquet"),
      s"wedges + degrees read the checkpointed edge relations:\n$p")
    assert(p.contains("ExistingRDD"))
    assert(p.contains("Generate explode"),
      s"triangles explode to their 3 corners (3t rows, never deg²):\n$p")
    assert(!p.contains("CartesianProduct"))
  }

  test("q204 TWAP: one user window, one hash agg, no joins") {
    val p = plan("q204_twap")
    assert("events\\.parquet".r.findAllIn(p).length == 1)
    assert("Exchange hashpartitioning\\(__u".r.findAllIn(p).size == 1,
      s"the lead window is the only exchange:\n$p")
    assert(!p.contains("Join"), s"interval weighting needs no join:\n$p")
  }

  test("q189 ship latency: narrow join projections, histogram before windows") {
    val p = plan("q189_ship_latency")
    assert(p.contains("partial_count"),
      s"the (month, gap) histogram must partial-aggregate map-side:\n$p")
    assert(p.contains("windowspecdefinition(month"),
      s"quantile windows run over the bounded histogram, by month:\n$p")
    assert(!p.contains("CartesianProduct"),
      s"one equi-join between two projected sides:\n$p")
  }

  test("q205 order price audit: fact collapses per order BEFORE the header join") {
    val p = plan("q205_order_price_audit")
    assert("lineitem\\.parquet".r.findAllIn(p).length == 1,
      s"one fact scan feeds the per-order decimal sum:\n$p")
    assert("orders\\.parquet".r.findAllIn(p).length == 1)
    assert(p.contains("partial_sum"),
      s"the per-order recompute must partial-aggregate map-side:\n$p")
    assert(!p.contains("CartesianProduct"),
      s"the header join is order-key-equi:\n$p")
  }

  test("q206 inter-arrival median: ranks under the partition-id window, never per-type") {
    val p = plan("q206_interarrival_median")
    assert(p.contains("windowspecdefinition(__pid"),
      s"the median rank comes from the range-partition decomposition:\n$p")
    assert(!"windowspecdefinition\\(__ty".r.findFirstIn(p).isDefined,
      s"never a per-type window over the raw gaps (hot types):\n$p")
    assert(p.contains("BroadcastHashJoin"),
      s"per-type offsets are a k-sized broadcast:\n$p")
    assert(!p.contains("events.parquet"),
      s"the rank pass reads the checkpointed ranged relation:\n$p")
  }

  test("q207 IQR fences: rank decomposition, type-bounded broadcast picks") {
    val p = plan("q207_iqr_fences")
    // the global-rank pass (windowspecdefinition(__pid — pinned on
    // q198/q202) materializes ONCE here because picks and fence counts
    // both read it: the final plan's leaf carries the rank column
    assert("ExistingRDD\\[[^\\]]*__lr".r.findFirstIn(p).isDefined,
      s"quartile picks read the materialized global-rank relation:\n$p")
    assert(!p.contains("windowspecdefinition"),
      s"never a per-type window over the raw fact:\n$p")
    assert(p.contains("BroadcastHashJoin"),
      s"offsets and picks are k-sized broadcasts:\n$p")
    assert(!p.contains("events.parquet"),
      s"picks + fence count read the checkpointed ranked relation:\n$p")
  }

  test("q208 weekday profile: 7-row rollup materializes once, 1-row total broadcast") {
    val p = plan("q208_weekday_profile")
    assert(!p.contains("orders.parquet"),
      s"total agg + share render read the checkpointed 7-row rollup:\n$p")
    assert(p.contains("BroadcastNestedLoopJoin"),
      s"the grand total attaches as a broadcast 1-row cross join:\n$p")
    assert(p.contains("ExistingRDD"))
  }

  test("q209 price histogram: 2-column pruned scans, bucket-bounded agg") {
    val p = plan("q209_price_histogram")
    assert(p.contains("ReadSchema: struct<l_extendedprice:double>"),
      s"only the price column reaches either scan:\n$p")
    assert(p.contains("partial_count"),
      s"bucket counts partial-aggregate map-side:\n$p")
    assert(p.contains("BroadcastNestedLoopJoin"),
      s"the 1-row bounds agg attaches as a broadcast cross join:\n$p")
  }

  test("q210 session co-occurrence: one scan, session tag on the user window") {
    val p = plan("q210_session_cooccurrence")
    assert("events\\.parquet".r.findAllIn(p).length == 1,
      s"the tag, type sets, and pairs all derive from ONE scan:\n$p")
    assert(p.contains("windowspecdefinition(__u"),
      s"the session tag partitions by user, never globally:\n$p")
    assert(!p.contains("CartesianProduct"),
      s"pairs explode from per-session type SETS, not a self-join:\n$p")
  }

  test("q211 hapax ratio: word-count shape with map-side partials, no joins") {
    val p = plan("q211_hapax_ratio")
    assert("documents\\.parquet".r.findAllIn(p).length == 1)
    assert(p.contains("partial_count"),
      s"the (source, token) rollup must partial-aggregate:\n$p")
    assert(!p.contains("Join"), s"no joins in a two-level rollup:\n$p")
  }

  test("q212 winsorized mean: rank decomposition, clip off broadcast picks") {
    val p = plan("q212_winsorized_mean")
    // same shape as q207: the rank pass materializes once (picks +
    // clip both read it), so the leaf carries the rank column
    assert("ExistingRDD\\[[^\\]]*__lr".r.findFirstIn(p).isDefined,
      s"percentile picks read the materialized global-rank relation:\n$p")
    assert(!p.contains("windowspecdefinition"),
      s"never a per-type window over the raw fact:\n$p")
    assert(p.contains("BroadcastHashJoin"),
      s"offsets and picks are k-sized broadcasts:\n$p")
    assert(!p.contains("events.parquet"),
      s"picks + clip pass read the checkpointed ranked relation:\n$p")
  }

  test("q213 revenue bridge: both arms read the checkpointed rollup") {
    val p = plan("q213_revenue_bridge")
    assert(!p.contains("orders.parquet"),
      s"bridge arms + month spine read the (cust, month) rollup leaf:\n$p")
    assert(p.contains("ExistingRDD"))
    assert(!p.contains("CartesianProduct"),
      s"the bridge is a keyed full-outer self-join of the rollup:\n$p")
  }

  test("q214 attribution compare: both model rollups read one materialized pass") {
    val p = plan("q214_attribution_compare")
    assert(!p.contains("events.parquet"),
      s"first/last rollups read the checkpointed windowed pass:\n$p")
    assert(p.contains("ExistingRDD"))
    assert(p.contains("partial_count"),
      s"both rollups partial-aggregate before their shuffle:\n$p")
    assert(!p.contains("CartesianProduct"))
  }

  test("q215 n-gram head coverage: one word-count pass, TakeOrdered head") {
    val p = plan("q215_ngram_head_coverage")
    assert(!p.contains("documents.parquet"),
      s"totals + head both read the checkpointed gram-type table:\n$p")
    assert(p.contains("TakeOrderedAndProject"),
      s"the head is TakeOrdered, never a global sort:\n$p")
    assert(p.contains("ExistingRDD"))
  }

  test("q216 month streaks: distinct panel first, customer-keyed islands") {
    val p = plan("q216_month_streaks")
    assert("orders\\.parquet".r.findAllIn(p).length == 1,
      s"the fact collapses to distinct (customer, month) off ONE scan:\n$p")
    assert(p.contains("windowspecdefinition(__c"),
      s"islands come from a customer-keyed window, never global:\n$p")
    assert(!p.contains("CartesianProduct"))
  }

  test("q217 daily quantiles: rank decomposition, panel-bounded offsets") {
    val p = plan("q217_daily_quantiles")
    assert(p.contains("windowspecdefinition(__pid"),
      s"per-(type, day) ranks come from the range-partition decomposition:\n$p")
    assert(!"windowspecdefinition\\(__ty".r.findFirstIn(p).isDefined,
      s"never a per-cell window over the raw fact:\n$p")
    assert(p.contains("BroadcastHashJoin"),
      s"cell offsets are a panel-bounded broadcast:\n$p")
    assert(!p.contains("events.parquet"),
      s"the pick pass reads the checkpointed ranged relation:\n$p")
  }

  test("q218 session pair lift: everything derives from one materialized relation") {
    val p = plan("q218_session_pair_lift")
    assert(!p.contains("events.parquet"),
      s"pairs, type counts, and the total read the checkpointed " +
        s"(session, type) relation:\n$p")
    assert(p.contains("ExistingRDD"))
    assert(p.contains("BroadcastHashJoin"),
      s"per-type session counts attach as vocabulary-sized broadcasts:\n$p")
    assert(p.contains("BroadcastNestedLoopJoin"),
      s"the 1-row session total attaches as a broadcast cross join:\n$p")
  }

  test("q219 growth accounting: one windowed panel pass feeds all arms") {
    val p = plan("q219_growth_accounting")
    assert(!p.contains("events.parquet"),
      s"class rollup, churn arm, and day spine read the checkpointed panel:\n$p")
    assert(p.contains("ExistingRDD"))
    assert(p.contains("partial_sum") || p.contains("partial_count"),
      s"the day rollups partial-aggregate map-side:\n$p")
    assert(!p.contains("CartesianProduct"))
  }

  test("q220 hourly profile: single scan, 24-row agg, no window, no join") {
    val p = plan("q220_hourly_profile")
    assert("events\\.parquet".r.findAllIn(p).length == 1)
    assert(p.contains("partial_count"),
      s"the hour rollup must partial-aggregate map-side:\n$p")
    assert(!p.contains("Join") && !p.contains("Window"),
      s"one hash agg, nothing else:\n$p")
  }

  test("q221 duplication trend: hash-keyed first-id rollup, rank-band deciles") {
    val p = plan("q221_duplication_trend")
    assert(p.contains("windowspecdefinition(__pid"),
      s"decile bands come from the range-partition rank, never a " +
        s"global NTILE:\n$p")
    assert(!p.contains("documents.parquet"),
      s"first-id rollup and flag join read the checkpointed digest " +
        s"relation:\n$p")
    assert(!p.contains("CartesianProduct"))
  }

  test("q222 basket sizes: two count rollups, partials, nothing else") {
    val p = plan("q222_basket_size_dist")
    assert("lineitem\\.parquet".r.findAllIn(p).length == 1)
    assert(p.contains("partial_count"))
    assert(!p.contains("Join") && !p.contains("Window"),
      s"two hash aggs only:\n$p")
  }

  test("q223 token lengths: word-count shape, lengths never reshuffle tokens") {
    val p = plan("q223_token_length_dist")
    assert("documents\\.parquet".r.findAllIn(p).length == 1)
    assert(p.contains("partial_count"),
      s"the token rollup must partial-aggregate map-side:\n$p")
    assert(!p.contains("Join"), s"no joins in a two-level rollup:\n$p")
  }

  test("q224 recency histogram: customer rollup materializes once, 1-row max broadcast") {
    val p = plan("q224_recency_histogram")
    assert(!p.contains("orders.parquet"),
      s"corpus max + histogram read the checkpointed per-customer " +
        s"rollup:\n$p")
    assert(p.contains("BroadcastNestedLoopJoin"),
      s"the corpus max attaches as a broadcast 1-row cross join:\n$p")
    assert(p.contains("ExistingRDD"))
  }

  test("q225 repurchase survival: horizon census reads the checkpointed gap rollup") {
    val p = plan("q225_repurchase_survival")
    assert(!p.contains("orders.parquet"),
      s"total + horizon census read the checkpointed (gap, count) " +
        s"rollup, never the fact:\n$p")
    assert(p.contains("ExistingRDD"))
    assert(p.contains("BroadcastNestedLoopJoin"),
      s"the 1-row total attaches as a broadcast cross join:\n$p")
    assert(!p.contains("CartesianProduct"))
  }

  test("q226 readability: one scan, no explode, source-bounded agg only") {
    val p = plan("q226_readability")
    assert("documents\\.parquet".r.findAllIn(p).length == 1)
    assert(!p.contains("Generate"),
      s"token counts fold INSIDE the array — no explode:\n$p")
    assert(!p.contains("Join") && !p.contains("Window"),
      s"per-row arithmetic into one hash agg:\n$p")
    assert(p.contains("partial_count") || p.contains("partial_sum"),
      s"the source rollup must partial-aggregate map-side:\n$p")
  }

  test("q227 dup-ngram census: word-count shape, one scan, no join") {
    val p = plan("q227_dup_ngram_census")
    assert("documents\\.parquet".r.findAllIn(p).length == 1)
    assert(p.contains("Generate"), s"grams explode once:\n$p")
    assert(p.contains("partial_count"),
      s"the (doc, gram) rollup must partial-aggregate map-side:\n$p")
    assert(!p.contains("Join") && !p.contains("Window"),
      s"three-level rollup, nothing else:\n$p")
  }

  test("q228 daily correlation: panel materializes once, pair frame broadcast") {
    val p = plan("q228_type_daily_corr")
    assert(!p.contains("events.parquet"),
      s"span, moments, and Σxy all read the checkpointed daily panel:\n$p")
    assert(p.contains("ExistingRDD"))
    assert(!p.contains("CartesianProduct"),
      s"the non-equi pair expansion must broadcast, never a shuffled " +
        s"cartesian:\n$p")
    assert(p.contains("BroadcastNestedLoopJoin"),
      s"type-pair expansion + 1-row span attach by broadcast:\n$p")
  }

  test("q229 cross-source leakage: digest relation materializes once, equi self-join") {
    val p = plan("q229_cross_source_leakage")
    assert(!p.contains("documents.parquet"),
      s"both self-join sides read the checkpointed (source, digest) " +
        s"relation:\n$p")
    assert(p.contains("ExistingRDD"))
    assert(!p.contains("CartesianProduct"))
    assert(p.contains("SortMergeJoin") || p.contains("ShuffledHashJoin") ||
      p.contains("BroadcastHashJoin"),
      s"the digest join must be an equi-join:\n$p")
  }

  test("q230 PSI drift: everything after the checkpointed cells is broadcast") {
    val p = plan("q230_psi_drift")
    assert(!p.contains("events.parquet"),
      s"the PSI fold reads the checkpointed types×bins cell relation, " +
        s"never the fact:\n$p")
    assert(p.contains("ExistingRDD"))
    assert(p.contains("BroadcastHashJoin"),
      s"per-type totals attach by broadcast:\n$p")
    assert(!p.contains("CartesianProduct") && !p.contains("Window"))
  }

  test("q231 source dispersion: sampled slice materializes once, source equi-join") {
    val p = plan("q231_source_dispersion")
    assert(!p.contains("embeddings.parquet") &&
      !p.contains("documents.parquet"),
      s"both pair-join sides read the checkpointed sampled slice:\n$p")
    assert(p.contains("ExistingRDD"))
    assert(!p.contains("CartesianProduct"),
      s"pairs expand through the source-keyed equi-join only:\n$p")
  }

  test("q232 vocab overlap: one rollup materializes, sizes and inter broadcast") {
    val p = plan("q232_vocab_overlap")
    assert(!p.contains("documents.parquet"),
      s"sizes and both self-join sides read the checkpointed (source, " +
        s"token) relation:\n$p")
    assert(p.contains("ExistingRDD"))
    assert(!p.contains("CartesianProduct"),
      s"the sources² pair frame must broadcast:\n$p")
  }

  test("q233 language entropy: one scan, two rollups, nothing else") {
    val p = plan("q233_lang_entropy")
    assert("documents\\.parquet".r.findAllIn(p).length == 1)
    assert(p.contains("partial_count"),
      s"the (source, lang) rollup must partial-aggregate map-side:\n$p")
    assert(!p.contains("Join") && !p.contains("Window"),
      s"two-level rollup only:\n$p")
    assert(p.contains("ReadSchema: struct<lang:string,source:string>"),
      s"column pruning must reach the scan:\n$p")
  }

  test("q234 seasonal backtest: day panel materializes once, panel-sized align") {
    val p = plan("q234_seasonal_backtest")
    assert(!p.contains("orders.parquet"),
      s"both lag-alignment sides read the checkpointed day panel:\n$p")
    assert(p.contains("ExistingRDD"))
    assert(!p.contains("CartesianProduct"))
  }

  test("q235 brand pair lift: basket relation materializes once, marginals broadcast") {
    val p = plan("q235_brand_pair_lift")
    assert(!p.contains("lineitem.parquet") && !p.contains("part.parquet"),
      s"pair join, marginals, and total all read the checkpointed " +
        s"(order, brand) relation:\n$p")
    assert(p.contains("ExistingRDD"))
    assert(!p.contains("CartesianProduct"))
    assert(p.contains("BroadcastHashJoin"),
      s"the brand marginals attach by broadcast:\n$p")
  }

  test("q236 bounce rate: one user-keyed exchange, no second window") {
    val p = plan("q236_bounce_rate")
    assert("events\\.parquet".r.findAllIn(p).length == 1)
    assert("Window".r.findAllIn(p).length <= 2,
      s"the tag's lag + running-sum share ONE user window spec:\n$p")
    assert(!p.contains("Join"), s"tag + two rollups, no join:\n$p")
  }

  test("q237 revenue ACF: day panel materializes once, lags-bounded report") {
    val p = plan("q237_revenue_acf")
    assert(!p.contains("orders.parquet"),
      s"moments, bounds, and the shifted join all read the " +
        s"checkpointed day panel:\n$p")
    assert(p.contains("ExistingRDD"))
    assert(!p.contains("CartesianProduct"))
  }

  test("q238 trend census: one fact hash agg, no window, no cartesian") {
    val p = plan("q238_trend_census")
    assert(!p.contains("Window"),
      s"slope sign comes from 5 accumulators, never an ordered " +
        s"window:\n$p")
    assert(p.contains("partial_count") || p.contains("partial_sum"),
      s"the per-customer rollup must partial-aggregate map-side:\n$p")
    assert(!p.contains("CartesianProduct"))
  }

  test("q239 distinctive tokens: one rollup, WindowGroupLimit top-k") {
    val p = plan("q239_distinctive_tokens")
    assert(!p.contains("documents.parquet"),
      s"token totals, source totals, and candidates all read the " +
        s"checkpointed (source, token) rollup:\n$p")
    assert(p.contains("ExistingRDD"))
    assert(p.contains("WindowGroupLimit"),
      s"the per-source top-k must prune map-side:\n$p")
    assert(!p.contains("CartesianProduct"))
  }

  test("q240 type freshness: frontier derives from the rollup, not a second scan") {
    val p = plan("q240_type_freshness")
    assert(!p.contains("events.parquet"),
      s"frontier + render read the checkpointed types rollup:\n$p")
    assert(p.contains("ExistingRDD"))
    assert(p.contains("BroadcastNestedLoopJoin"),
      s"the 1-row frontier attaches as a broadcast cross join:\n$p")
  }

  test("q241 abandonment: type filter pushed to the scan, one user window") {
    val p = plan("q241_abandonment")
    assert("events\\.parquet".r.findAllIn(p).length == 1)
    assert(p.contains("In(event_type") || p.contains("event_type IN"),
      s"the two-type filter must push to the parquet scan:\n$p")
    assert(!p.contains("Join"), s"one window + rollups, no join:\n$p")
  }

  test("q242 dedup savings: one scan, two rollups with partials") {
    val p = plan("q242_dedup_savings")
    assert("documents\\.parquet".r.findAllIn(p).length == 1)
    assert(p.contains("partial_count"),
      s"the (source, digest) rollup must partial-aggregate map-side:\n$p")
    assert(!p.contains("Join") && !p.contains("Window"),
      s"two-level rollup only:\n$p")
  }

  test("q243 quality budget: cumulative fold reads the buckets-sized rollup only") {
    val p = plan("q243_quality_budget")
    assert(!p.contains("documents.parquet"),
      s"the cumulative window + total read the checkpointed decile " +
        s"rollup (the rank pass ran at checkpoint time):\n$p")
    assert(p.contains("ExistingRDD"))
    assert(p.contains("BroadcastNestedLoopJoin"),
      s"the 1-row total attaches as a broadcast cross join:\n$p")
    assert(!p.contains("CartesianProduct"))
  }

  test("q244 late delivery: fact collapses per supplier before any dim join") {
    val p = plan("q244_late_delivery")
    assert(p.contains("partial_count") || p.contains("partial_sum"),
      s"the per-supplier rollup must partial-aggregate map-side:\n$p")
    assert(p.contains("BroadcastHashJoin"),
      s"the nation dim attaches by broadcast:\n$p")
    assert(!p.contains("CartesianProduct"))
    assert(p.contains(
      "ReadSchema: struct<l_orderkey:bigint,l_suppkey:bigint,l_shipdate"),
      s"column pruning must reach the fact scan:\n$p")
  }

  test("q245 audience overlap: distinct relation materializes once, frame broadcast") {
    val p = plan("q245_audience_overlap")
    assert(!p.contains("events.parquet"),
      s"sizes and both self-join sides read the checkpointed " +
        s"(type, user) relation:\n$p")
    assert(p.contains("ExistingRDD"))
    assert(!p.contains("CartesianProduct"),
      s"the types² pair frame must broadcast:\n$p")
  }

  test("salted join equals plain join under synthetic skew") {
    val skewed = spark.range(5000)
      .select(($"id" % 3).as("k"), $"id".as("v"))
    val small = Seq((0L, "a"), (1L, "b"), (2L, "c"), (9L, "unmatched"))
      .toDF("k", "name")
    val plain = skewed.join(small, Seq("k")).agg(count(lit(1)), sum($"v"))
      .as[(Long, Long)].head()
    val salted = Salting.saltedJoin(skewed, small, Seq("k"), salts = 4)
      .agg(count(lit(1)), sum($"v")).as[(Long, Long)].head()
    assert(salted == plain)
  }
}
