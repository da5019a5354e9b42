package graft

import java.nio.file.{Files, Paths}

/** Writes PLANS.md: formatted physical plans for the flagship queries,
  * with the property each plan is expected to exhibit (the human-readable
  * companion to PlanSpec's assertions). Run:
  *   sbt "runMain graft.Plans [sfDir] [outFile]"
  */
object Plans {

  private val commentary: Seq[(String, String)] = Seq(
    "q1_pricing_summary" ->
      "Vectorized parquet scan (Batched: true) reading ONLY the 6 needed columns; map-side partial_sum/partial_count before one hash-partition exchange. Decimal accumulators keep double sums exact and order-independent.",
    "q3_product_inventory" ->
      "Dim side (part) broadcast — the lineitem fact flows through without a shuffle; aggregation after the broadcast join is again partial→final.",
    "q6_top_orders" ->
      "Column pruning to ReadSchema struct<o_orderkey,o_totalprice>; TakeOrderedAndProject instead of a global sort — top-k never materializes a full ordering.",
    "q7_latest_event_per_user" ->
      "Latest-per-key as HashAggregate(max_by) with map-side partial aggregation — no Window, no sort; the shuffle carries one pre-reduced row per (mapper, key).",
    "q13_all_discrepancies" ->
      "The whole reconciliation family is this ONE full-outer equi-join on the key; discrepancy typing is a projection on top. AQE may convert to broadcast at small SF.",
    "q34_minhash_pairs" ->
      "Signature index is a checkpointed table (plan shows the scan, not the signature expression); band self-join shuffles 8-byte bucket keys + ids only; exact-Jaccard verification touches only the candidate pairs.",
    "q39_embedding_neardup" ->
      "Exact all-pairs via the block theta-join: both sides explode to (block,block) keys, the join is a plain equi-join (no cartesian/nested-loop), every unordered pair lands in exactly one task, and the native cosine_similarity kernel keeps verification in whole-stage codegen. Shuffle volume = (blocks/2+1)x data; blocks scales with corpus.",
    "q45_ann_ivf_topk" ->
      "IVF probe is ONE codegen'd pass: cell assignment + probe filter + native cosine ranking fuse into a single stage, topped by TakeOrderedAndProject (no full sort, no shuffle beyond the top-k collect). At scale the index is written partitionBy(cell) so the probe prunes at file listing.",
    "q48_ngram_dfcut" ->
      "q36's shingle-hash self-join with the document-frequency skew guard engaged: the exploded table is localCheckpointed once, the DF aggregation + left-semi filter drop corpus-stopword shingles BEFORE the pair join, so a boilerplate shingle shared by F docs no longer contributes F^2 join rows. Shuffles carry 8-byte hashes.",
    "q51_repetition" ->
      "Two-level aggregation: explode to (doc, gram-hash) -> partial count per mapper -> one hash exchange -> per-doc max/sum. Gram VALUES never shuffle as strings (8-byte hashes), and map-side partial aggregation collapses repeated grams before the exchange — the repetition being measured is also what keeps the shuffle small.",
    "q53_decontaminate" ->
      "One pass over the corpus: the eval set's distinct shingle hashes broadcast into a LeftSemi inside the corpus scan, contaminated ids collapse via a (tiny) hash aggregate, and a left-anti join restores full rows. The corpus never shuffles its payloads — at 100 TB the eval side is MBs and the whole query is scan-bound.",
    "q55_corpus_mix" ->
      "Domain mixing is a single codegen'd filter on the scan: the portable-hash coin and the integer-ppm CASE ladder evaluate per row with no exchange, no join, no aggregate — the plan a stratified sampler must have to be free at any scale.",
    "q56_budget_select" ->
      "Token-budget selection WITHOUT a global ordered window: quality lands in fixed-range buckets, per-bucket totals return to the driver (bounded rows), whole buckets keep/drop as a shuffle-free filter, and only the boundary bucket — 1/buckets of the data — pays a windowspecdefinition(__bkt) ordered pass. The oracle's global-window SQL pins that this decomposition is exact.",
    "q58_duplicated_spans" ->
      "Exact-substring dedup without a suffix array: duplicated k-grams come from the per-doc-distinct shingle explode + one count aggregation on 8-byte hashes; positions semi-join that (small) duplicated set — broadcast at scale; and the island merge is a Window PARTITIONED BY DOCUMENT, so each doc's positions sort locally inside its hash partition — no global sort anywhere in the plan.",
    "q59_dedup_vs_history" ->
      "Incremental-ingest dedup with a Bloom gate: the new batch's shingles filter against might_contain_long INSIDE the scan (no join below the prefilter), the surviving candidate set broadcasts against ONE history pass for exact confirmation, and the final anti-join touches only confirmed-dirty ids. Neither corpus shuffles; the sketch replaces the unbroadcastable exact history set.",
    "q60_semdedup" ->
      "SemDeDup cluster-then-prune: centroid assignment is k native cosines per row fused into the scan (no shuffle); the pair join keys on cell only, so the O(N^2) pair space collapses to within-cell blocks (k ~ sqrt(N) keeps it near-linear); survivorship is one anti-join. The checkpointed assignment is scanned by both join sides instead of recomputing the quantizer.",
    "q61_vocab_df" ->
      "Corpus vocabulary is word-count-shaped on purpose: the (token, doc) pre-aggregation runs with map-side partials BEFORE the per-token rollup, so a stopword appearing in half the corpus shuffles one row per (token, doc) — never its raw occurrences — and no count(distinct) appears anywhere (it would re-shuffle raw pairs). The top-100 is TakeOrderedAndProject, not a global sort.",
    "q62_chunk_windows" ->
      "Context-window chunking is the plan a per-document transform must have: scan → filter → generate (one explode of the stride grid) → project, ZERO exchanges. The token array materializes once per row and every chunk slices it; no window function, no join, nothing leaves the input partition.",
    "q63_distinctive_terms" ->
      "Keyword extraction: the (token, doc) pre-agg materializes ONCE (localCheckpoint) and feeds both the df rollup and the scored join; the join stays declarative — Catalyst broadcasts the df table at test SF and shifts to a shuffle join on token when the vocabulary outgrows the threshold. The property that actually carries the 100-TB load: row_number()<=k plans a PARTIAL WindowGroupLimit below the document exchange, so per-doc top-k runs map-side and the shuffle moves at most k rows per (doc, input partition). The tf/df score is one IEEE division of two exact integers — that is what makes the oracle hash-match.",
    "q64_corpus_datasheet" ->
      "The per-stratum datasheet: one scored projection materializes once (localCheckpoint) and feeds a hash-agg rollup (map-side partials) plus the exact-median pick — a window PARTITIONED BY SOURCE, so strata rank in parallel and the strata-sized rollup broadcasts into the rank filter. Mean quality never sums doubles: it sums the integer ppm numerators and divides once, which is why the oracle hash-matches at every SF.",
    "q65_dedup_keep_best" ->
      "Quality-aware survivorship at candidate cost: quality scores attach to the PAIR LIST (candidate-sized — orders of magnitude under the corpus), the loser CASE picks per pair, and the corpus pays exactly one anti-join — the same bill as min-id dedupByPairs. The corpus is never re-scored, re-shuffled, or windowed; choosing the canonical copy costs nothing extra at 100 TB.",
    "q66_sample_exactk" ->
      "Exact-k stratified sampling without a global sort: the salted-coin rank windows per stratum, and row_number()<=k plans a PARTIAL WindowGroupLimit below the stratum exchange — every input partition forwards at most k rows per stratum, so the shuffle is k·strata-bounded no matter how big the corpus. The deterministic coin (portable polynomial hash, '#exactk' salt) keeps the sample reproducible and independent of the mix/split coins.",
    "q67_typicality" ->
      "Typicality is two aggregations and one join over a SINGLE materialized bigram projection (localCheckpoint — the explode runs once, not once per consumer): corpus frequencies roll up with map-side partials, the scored join keys on the 8-byte bigram hash (corpus-sized side — shuffle join, the broadcast mistake doesn't arise), and the per-doc rollup is again partial-aggregated. No window, no sort, no N² anything — the LM-score stand-in costs two shuffles of counts at any corpus size.",
    "q79_bm25_topk" ->
      "BM25 retrieval in three bounded moves: ONE token-stream pass builds the per-doc (dl, tf-per-term) profile as conditional aggregates (no join, hot tokens die map-side); corpus stats (N, T, df) are a 1-ROW rollup broadcast back via nested-loop; top-k is TakeOrderedAndProject. Per-term scores fix-point to integer micros BEFORE the per-doc sum — the ranking is bit-identical at any partitioning, and DECIMAL(38,0) products make the arithmetic overflow-proof at any corpus size.",
    "q80_shard_assign" ->
      "Token-balanced output sharding without a global sort: the deterministic coin lands each doc in a fixed coin-range bucket (uniform ⇒ balanced), per-bucket token totals return to the driver (bounded rows), and the cumulative window runs PER BUCKET in parallel — windowspecdefinition(__bkt), never an unpartitioned one. The broadcast base-offset join turns bucket-local prefix sums into exact global offsets; shard boundaries are all-integer, so the oracle's single global window hash-matches.",
    "q82_jaccard_prefix_filter" ->
      "The AllPairs prefix filter: the candidate self-join explodes only each set's rarest-first PREFIX (s − ⌈t·s⌉ + 1 shingles — at t=0.8 one fifth of the set), so the join fan-out shrinks with the threshold and ubiquitous shingles almost never reach it. Verification is candidate-sized array_intersect over per-doc hash arrays (two id-keyed joins). Same exact result as the full self-join — q82 shares q36's oracle text verbatim — from a plan whose heavy join is a fraction of the index.",
    "q83_kmeans_lloyd_step" ->
      "One distributed Lloyd step: centroid assignment fuses into the scan (k native cosines per row, no shuffle, no join), then a single (cell, dim) hash aggregation with map-side partials computes member means in exact fixed-point — integer sums commute, so the step is bit-identical across partitionings, which is precisely what lets an iterative clustering loop be oracle-checked at all. Driver traffic per iteration is k·d rows, independent of corpus size.",
    "q85_knn_graph" ->
      "kNN-graph construction with the quadratic tamed twice: the pair join keys on the IVF cell only (constant cell size ⇒ linear total pair work), and the per-source top-k is row_number()<=k with a PARTIAL WindowGroupLimit — each task forwards at most k neighbors per vector, so the exchange carries the GRAPH, not the pair space.",
    "q86_content_chunks" ->
      "Content-defined chunking is scan-shaped: tokens, rolling k-gram hashes, boundary positions (hash ≡ 0 mod m), and chunk spans are all one projection plus one explode — ZERO exchanges, nothing leaves the input partition. Boundaries depend only on local content, so identical passages produce identical (joinable) chunk hashes at any document offset — the property fixed-stride chunking cannot give.",
    "q90_bm25_batch" ->
      "Batch retrieval as the inverted-index JOIN: postings (one checkpointed (token, doc, tf) table, read by both the df rollup and the scoring join) meet the exploded query-term table on token, so cost is (matching postings) — never queries × corpus. Per-(query, doc, term) scores fix-point to integer micros before the per-pair sum, and the per-query top-k is row_number()<=k with its PARTIAL WindowGroupLimit below the query exchange.",
    "q91_revenue_by_nation" ->
      "The Q5-shaped star join: the date window prunes ORDERS at its scan (PushedFilters carries the timestamp bounds), the 25-row nation dim is an explicit broadcast, customer joins declaratively, and revenue accumulates as exact decimal(18,6) — identical totals at any partition count, which is what lets a float-heavy join rollup hash-match an oracle at all.",
    "q92_top_suppliers" ->
      "The Q15 shape with the aggregate pushed BELOW the join: lineitem pre-aggregates per supplier (map-side partials behind the shipdate-pruned scan), so the supplier dim join sees a suppliers-sized input instead of the fact table, and the top-10 is TakeOrderedAndProject — no global sort, no fact-sized join.",
    "q104_promo_revenue" ->
      "The Q14 shape: the ship-month filter prunes the lineitem scan (PushedFilters carries both timestamp bounds), part projects to (key, is-promo flag) and BROADCASTS — the fact never shuffles — and the share is two exact decimal sums with ONE final IEEE division. At 100 TB this plan is a single scan-bound pass: no exchange touches fact rows.",
    "q106_sales_opportunity" ->
      "The Q22 shape with both correlated subqueries flattened scale-safely: the mean-positive-balance scalar is a 1-ROW aggregate broadcast back via nested-loop (never a per-row recompute), the comparison is CROSS-MULTIPLIED (bal·n > Σbal in exact decimal — no float average exists in the plan), and NOT EXISTS is a LEFT ANTI join carrying only projected 8-byte keys.",
    "q108_bigram_lm" ->
      "The CCNet perplexity filter as relational algebra: ONE checkpointed positional-bigram stream (Scan ExistingRDD — built once, read by the pair rollup, the prefix rollup, and the scored join), all three keyed on token strings with map-side partials so hot bigrams collapse before any exchange; the vocab count is a two-phase countDistinct broadcast back as one row. Scores are fixed-point integer ln's of integer counts — the per-doc sum commutes, so the plan hash-matches its oracle at any partitioning.",
    "q109_gramian" ->
      "The gramian as MLlib's RowMatrix computes it, in DataFrame clothes: embeddings reach a typed mapPartitions ON THE SCAN PARTITIONS (no exchange below it — shuffling payload bytes to 'spread' d²-FLOP work is the classic mistake), each partition emits its flat-array upper-triangle partials (flush-bounded exact long arithmetic), and the only exchange carries ≤ partitions·d(d+1)/2 rows into one hash aggregation summing in DECIMAL(38,0). Corpus size changes the scan, never the shuffle.",
    "q127_phrase_search" ->
      "Phrase search as posting-list intersection: the token stream filters to the PHRASE's tokens before anything joins (the checkpointed per-term postings are tiny next to the corpus), then the K lists chain-join on (doc, pos − offset) — narrow unique keys, no fan-out, no corpus self-join, and never a per-query regex scan of text. Occurrence counting is one hash aggregate on the surviving start positions.",
    "q130_quantile_norm" ->
      "Cross-source quality calibration in ONE shuffle: the integer-ppm quality score computes on the scan, the source-partitioned rank() and count() share the same window exchange, and the percentile is exact integer floor division — no float ranks, no global sort, no second pass. The skew posture matches the domain cap: a source is a partition.",
    "q132_pca_project" ->
      "The PCA apply is a ZERO-exchange plan: scan → filter → project, with the fixed-point dot product fused as zip_with + aggregate over the embedding array inside whole-stage codegen. The direction vector rides as a literal; at 100 TB this is pure scan bandwidth — the plan shape every per-row scorer should have.",
    "q135_snm_pairs" ->
      "Sorted-neighborhood blocking without the global sort it textbook-requires: ranks derive from per-length bucket counts (a driver-tiny table — token counts are bounded) broadcast back as offsets, so the only window partitions BY LENGTH BUCKET; candidates meet on rank bands of width `window` (each row probes its own and the previous band — an equi-join, N·window pairs), and Jaccard verifies on per-doc shingle-hash arrays computed in the scan. The third blocking family's plan: never touches shingle document frequency at all.",
    "q158_triangle_count" ->
      "Degree-ordered triangle census: edges and the oriented relation are checkpointed tables (the plan reads ExistingRDD, never re-scanning the fact); wedge generation is an equi-self-join on the shared source vertex with per-vertex work bounded by the oriented out-degree (hub-proof), and closure is one LeftSemi probe against the edge set — no cartesian anywhere.",
    "q171_leakage_safe_splits" ->
      "Leakage-safe splits: connected components ran at build time (the plan reads the min-label fixpoint's checkpoint), the corpus joins the component map ONCE, and the split coin is the codegen'd portable hash over the cluster representative — a test doc's near-dup twin can never sit in train, at one corpus scan.",
    "q172_cusum_shift" ->
      "CUSUM change-point: the fact collapses to the calendar-bounded day series via a partial-aggregated hash agg BEFORE any window; the two prefix windows (the max-reset-free identity) run single-partition by design over that bounded series — never over fact rows.",
    "q175_value_deciles" ->
      "Exact global NTILE without a global sort: range repartition lays out the total (price, key) order, per-partition row numbers run under windowspecdefinition(__pid), and driver prefix offsets (one row per partition) broadcast back — the k-row rollup then reads the checkpointed ranked relation.",
    "q177_scd2_pointintime" ->
      "SCD2 point-in-time attribution: the BETWEEN containment executes as the as-of UNION + carry-forward window (one key shuffle of narrow rows, linear in history) — never the quadratic range join; the dimension materializes once (ExistingRDD) for both the as-of probe and the status re-attach.",
    "q181_important_parts" ->
      "TPC-H Q11 shape: the fact collapses ONCE to per-part decimal value (nation scope via broadcast LeftSemi), the scalar HAVING total is a 1-row aggregate of that checkpointed rollup broadcast back, and the mean-multiple cut cross-multiplies decimals — no second fact pass, no division in the predicate.",
    "q139_rank_correlation" ->
      "Spearman with NO row-level global window and NO sqrt: per-VALUE counts roll up map-side (score domains are bounded, so the value table is tiny), the prefix window runs over that value table, doubled midranks broadcast back as two joins, and Σd² accumulates in DECIMAL(38,0) into a 1-row result. The ρ is exact integer ppm — a correlation between two corpus-wide signals for the cost of one narrow pass.",
    "q138_value_ohlc" ->
      "Order statistics inside a group WITHOUT a window: open/close are min_by/max_by over the (ts, id) struct, so the whole candlestick table is ONE partial-aggregating hash agg over a narrow projection — the same no-window discipline as latest-per-key (W1), applied to first/last semantics. Bucket arithmetic is integer floor division of epoch micros (positive-remainder pattern, exact at any epoch sign).",
    "q191_attribution_last" ->
      "Last-touch attribution: the preceding-touch lookup is last(..., ignoreNulls) over a [-inf, -1] row frame inside ONE user-keyed window exchange — never a self-join of conversions against touches — and the credit rollup is a type-vocabulary-bounded hash agg with map-side partials. Value sums stay exact decimal to the final render.",
    "q192_attribution_linear" ->
      "Linear multi-touch: a running conditional count under the same user window tags conversion segments (no join to find boundaries), the tagged base materializes ONCE (ExistingRDD — touch rollup and conversion slice both read it), touches collapse to (user, segment, type) counts BEFORE meeting the segment's single conversion row, and per-touch credit is exact floored micros — the rollup is partition-order-independent by construction.",
    "q193_daily_spine" ->
      "Gap-filled series: the fact collapses to the calendar-bounded day rollup once (checkpoint, read by the 1-row bounds agg AND the join), the spine explodes from sequence() over those bounds, and the zero-fill join moves calendar-sized frames only. At 100 TB the plan's cost is the one fact scan inside the day rollup; densification itself is free.",
    "q196_source_kl" ->
      "Distribution divergence without a second corpus pass: the (source, token) rollup materializes once, token totals and source totals DERIVE from it (vocabulary-sized aggregates) and broadcast back, the grand total rides a 1-row nested-loop — and every log is the integer fixed point L(n)=floor(ln(n)*1e6) on counts, so the statistic hash-matches at any partitioning.",
    "q197_session_paths" ->
      "Clickstream paths: session tag (lag + running sum) and the per-session path build share ONE user-keyed exchange (hashpartitioning(u) satisfies the (u, session) clustering), path counting is a hash agg whose map-side partials collapse hot paths early, and the top-k is TakeOrderedAndProject — no global sort at any corpus size.",
    "q198_mad_outliers" ->
      "Robust outliers with NO per-group window over the fact: per-type exact ranks come from the range-repartition decomposition (windowspecdefinition(__pid) only), per-type offsets are k-row broadcasts, and the two medians (value, then deviation) are rank picks over checkpointed relations — 5 hot event types never become 5 single-threaded sort partitions.",
    "q199_brand_top_parts" ->
      "Top-k per group the cheap way round: the fact collapses to per-part revenue FIRST (partial-aggregated hash agg), the brand dim broadcasts onto that parts-sized rollup, and the rank window — with its PARTIAL WindowGroupLimit pruning map-side — never sees a fact row.",
    "q202_weighted_median" ->
      "Exact weighted quantiles: cumulative weights come from the range-repartition prefix-sum decomposition (per-partition windows + driver base offsets, never a single-partition ORDER BY), group start offsets and totals broadcast as k rows, and the pick (smallest value whose inclusive cumulative crosses half) is provably independent of order among equal values — no unique row id needed.",
    "q203_clustering_coeff" ->
      "Local clustering coefficient at triangle cost: the shared degree-ordered wedge closure enumerates each triangle once (checkpointed edge relations — the plan reads ExistingRDD), triangles explode to their 3 corners (3t rows, never degree² per vertex), and the coefficient is exact integer cross-multiplication over the degree table.",
    "q204_twap" ->
      "Time-weighted averaging in ONE user-keyed exchange: the lead window prices each value's holding interval, products accumulate in DECIMAL(38,0), and the statistic is a floored integer division end to end — the numerator passes 2^53, where a double ratio measurably diverges across engines by an ulp, so no double exists anywhere in the plan's arithmetic. No joins; the rollup partial-aggregates map-side.",
    "q205_order_price_audit" ->
      "Cross-table billing audit with the fact collapsed FIRST: the per-order decimal recompute partial-aggregates map-side (2dp factors make the 6dp product exact — no IEEE multiply anywhere), then ONE order-key equi-join against the header (both sides order-sized — no broadcast pretense) and a status-vocabulary-bounded census.",
    "q206_interarrival_median" ->
      "Per-type cadence medians without per-type windows: gaps come from one (user, type)-keyed lag window over narrow columns; the exact lower median rides the shared group-local-rank stage — range-repartition ranks under a partition-id window, per-type (offset, count) as a k-row broadcast, the pick a filter. A hot type never funnels into a single sort task.",
    "q217_daily_quantiles" ->
      "The SLO dashboard computed exactly: p50/p90/p99 PICKS per (type, day) off ONE global-rank pass, with the (type × day) offset table broadcast (panel-bounded — 150 cells at sf0.1, invariant under the 10× decade run). The alternative per-cell window would serialize each hot cell into one task; here every partition ranks in parallel and the picks are a vocabulary-bounded hash agg.",
    "q218_session_pair_lift" ->
      "Association statistics over sessions: the shared gap-session tag pays the one user-keyed exchange, the DISTINCT (session, type) relation materializes once (ExistingRDD leaf), and pairs/type-counts/total all derive from it — pair volume is sessions × C(|types|, 2), never events². Lift is DECIMAL(38,0) cross-multiplied floored ppm.",
    "q219_growth_accounting" ->
      "The DAU waterfall from ONE windowed pass: lag and lead share the user-keyed window over the distinct (user, day) panel (checkpointed — class rollup, churn arm, and day spine all read the leaf), churn books to day+1 clipped to observed days, and every rollup partial-aggregates into a calendar-bounded report.",
    "q226_readability" ->
      "Readability inputs with ZERO explode: token counts, token-char sums, and sentence-ender counts all fold inside the array via higher-order functions (one projection, no Generate in the plan), so the shuffle carries three longs per document into a source-bounded hash agg — the cheapest possible shape for a corpus-wide census at 100 TB.",
    "q230_psi_drift" ->
      "Drift scoring that touches the fact twice and nothing more: scan one collapses to the types-bounded bounds relation (checkpointed — the calendar midpoint derives from IT, not a third scan), scan two bins against those BROADCAST bounds into a types×2×bins hash agg with map-side partials. The dense smoothing frame explodes off the bounds relation, never the fact; the PSI fold is fixed-point-ln integer arithmetic whose terms are provably nonnegative under floored L — a floor artifact can never report negative drift.",
    "q228_type_daily_corr" ->
      "A correlation matrix that touches the fact ONCE: events collapse to the (type, day) panel (checkpointed — span, per-type moments, and the Σxy self-join all read the ExistingRDD leaf), zero-count days enter through the population algebra instead of a densified spine, and the vocabulary-bounded pair frame assembles by EXPLICIT broadcasts — a stats misestimate can never turn types² into a shuffled cartesian. The statistic is signed r² in floored integer ppm: every division an integer floor both engines take identically, no sqrt anywhere.")

  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.01")
    val out = args.lift(1).getOrElse("PLANS.md")
    val spark = util.Sessions.local("graft-plans")
    val sb = new StringBuilder
    sb.append("# PLANS — physical plans of the flagship queries\n\n")
    sb.append(s"Generated by `graft.Plans` against `$sfDir`. Each plan is the\n")
    sb.append("pre-execution AQE plan; PlanSpec asserts the load-bearing\n")
    sb.append("properties so they can't regress silently.\n")
    commentary.foreach { case (name, note) =>
      val df = SparkEntry.queries(name)(spark, sfDir)
      sb.append(s"\n## $name\n\n$note\n\n```\n")
      sb.append(df.queryExecution.explainString(
        org.apache.spark.sql.execution.FormattedMode).trim)
      sb.append("\n```\n")
    }
    Files.writeString(Paths.get(out), sb.toString)
    println(s"wrote $out (${commentary.size} plans)")
    spark.stop()
  }
}
