package graft

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType

import graft.analytics.{Analytics, AsofJoin}
import graft.analytics.Analytics.{dsum, davg}
import graft.cdc.{Transforms, Upsert}
import graft.compare.Comparer.CompareOptions
import graft.multimodal.Multimodal
import graft.reconcile.Differ
import graft.repair.Repairer
import graft.text.{Dedup, Retrieval, TextAnalysis}
import graft.util.Materialized
import graft.vector.{Pq, Similarity}

/** Driver contract — every operator from SURVEY.md §2 gets a `queries`
  * entry; SQL-expressible ones also get a DuckDB oracle in `oracleSql`.
  *
  * Reconciliation queries (q10–q17) run source-vs-target over two
  * deterministic derived views of `orders`:
  *   source = orders minus keys divisible by 7
  *   target = orders minus keys divisible by 5, with o_totalprice
  *            perturbed by +0.5 where key divisible by 11
  * so missing / extra / mismatch / match all occur with known membership.
  */
object SparkEntry {

  // ---- shared derived inputs -------------------------------------------

  private def srcOrders(s: SparkSession, dir: String): DataFrame =
    Tables.orders(s, dir)
      .filter(col("o_orderkey") % 7 =!= 0)
      .select(col("o_orderkey"), col("o_orderstatus"), col("o_totalprice"))

  private def tgtOrders(s: SparkSession, dir: String): DataFrame =
    Tables.orders(s, dir)
      .filter(col("o_orderkey") % 5 =!= 0)
      .select(col("o_orderkey"), col("o_orderstatus"),
        (col("o_totalprice") +
          when(col("o_orderkey") % 11 === 0, 0.5).otherwise(0.0)).as("o_totalprice"))

  private val srcSql =
    "SELECT o_orderkey, o_orderstatus, o_totalprice FROM orders WHERE o_orderkey % 7 <> 0"
  private val tgtSql =
    "SELECT o_orderkey, o_orderstatus, o_totalprice + (CASE WHEN o_orderkey % 11 = 0 THEN 0.5 ELSE 0.0 END) AS o_totalprice FROM orders WHERE o_orderkey % 5 <> 0"

  /** Tolerant double equality in SQL, mirroring Comparer.valuesEqual. */
  private def eqDoubleSql(a: String, b: String, tol: String = "0.0001") =
    s"(($a IS NULL AND $b IS NULL) OR ($a IS NOT NULL AND $b IS NOT NULL AND abs($a - $b) < $tol))"

  /** CDC envelope synthesized deterministically from `events` (stands in
    * for the Debezium-over-Kafka stream; same shape as ChangeEvent). */
  private def cdcEnvelope(s: SparkSession, dir: String): DataFrame =
    Tables.events(s, dir).select(
      when(col("event_id") % 50 === 0, lit("heartbeat.events"))
        .otherwise(concat(lit("scylla-cluster.app_data."), col("event_type"))).as("topic"),
      when(col("event_type") === "error", lit("DELETE")).otherwise(lit("UPSERT")).as("operation"),
      struct(col("user_id").as("user_id"), col("value").as("value_value"),
        col("props").as("props_value")).as("after"),
      col("ts"), col("event_id"))

  private val cdcEnvelopeSql =
    """SELECT CASE WHEN event_id % 50 = 0 THEN 'heartbeat.events' ELSE 'scylla-cluster.app_data.' || event_type END AS topic, CASE WHEN event_type = 'error' THEN 'DELETE' ELSE 'UPSERT' END AS operation, user_id, value, props, ts, event_id FROM events"""

  // ---- flagship --------------------------------------------------------

  /** Flagship: TPC-H-Q1-shaped pricing summary on sf0.001. */
  def entry(spark: SparkSession): DataFrame =
    q1(spark, "/root/testdata/sf0.001")

  private def q1(s: SparkSession, dir: String): DataFrame =
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

  // ---- registry --------------------------------------------------------

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    // §2.5 aggregations / §3.3 analytics
    "q1_pricing_summary" -> ((s, d) => q1(s, d)),
    "q2_daily_order_summary" -> ((s, d) =>
      Analytics.dailyOrderSummary(Tables.orders(s, d))),
    "q3_product_inventory" -> ((s, d) =>
      Analytics.productInventoryStatus(Tables.part(s, d), Tables.lineitem(s, d))),
    "q4_ref_integrity" -> ((s, d) =>
      Analytics.referentialIntegrity(Tables.orders(s, d), Tables.customer(s, d),
        Tables.lineitem(s, d))),
    "q5_validation_summary" -> ((s, d) => {
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
    "q6_top_orders" -> ((s, d) =>
      Tables.orders(s, d).select(col("o_orderkey"), col("o_totalprice"))
        .orderBy(col("o_totalprice").desc, col("o_orderkey")).limit(10)),
    "q7_latest_event_per_user" -> ((s, d) =>
      Upsert.latestPerKey(
        Tables.events(s, d).select(col("user_id"), col("event_id"), col("event_type"),
          col("value"), col("ts")),
        Seq("user_id"), struct(col("ts"), col("event_id")))
        .select(col("user_id"), col("event_id"), col("event_type"), col("value"))),
    "q8_daily_event_rollup" -> ((s, d) =>
      Tables.events(s, d)
        .groupBy(date_format(col("ts"), "yyyy-MM-dd").as("event_day"), col("event_type"))
        .agg(count(lit(1)).as("n"), dsum(col("value")).as("total_value"))),
    "q9_value_quantiles" -> ((s, d) =>
      Analytics.rankQuantiles(Tables.events(s, d), "value", Seq(0.5, 0.95, 0.99))),

    // §2.3 reconciliation joins / set ops
    "q10_missing_in_target" -> ((s, d) =>
      Differ.findMissingInTarget(srcOrders(s, d), tgtOrders(s, d), Seq("o_orderkey"))),
    "q11_extra_in_target" -> ((s, d) =>
      Differ.findExtraInTarget(srcOrders(s, d), tgtOrders(s, d), Seq("o_orderkey"))),
    "q12_mismatches" -> ((s, d) =>
      Differ.findMismatches(srcOrders(s, d), tgtOrders(s, d), Seq("o_orderkey"))),
    "q13_all_discrepancies" -> ((s, d) =>
      Differ.findAllDiscrepancies(srcOrders(s, d), tgtOrders(s, d), Seq("o_orderkey"))),
    "q14_discrepancy_summary" -> ((s, d) =>
      Differ.discrepancySummary(srcOrders(s, d), tgtOrders(s, d), Seq("o_orderkey"))),
    "q15_match_percentage" -> ((s, d) =>
      Differ.matchPercentage(srcOrders(s, d), tgtOrders(s, d), Seq("o_orderkey"))),
    "q16_duplicates" -> ((s, d) =>
      Differ.findDuplicates(Tables.lineitem(s, d), Seq("l_orderkey"))),
    "q17_mismatch_fields" -> ((s, d) => {
      def dec(df: DataFrame) = df.withColumn("o_totalprice",
        col("o_totalprice").cast(DecimalType(18, 2)))
      Differ.findMismatchesDetailed(dec(srcOrders(s, d)), dec(tgtOrders(s, d)),
        Seq("o_orderkey"))
    }),

    // §2.2 + §2.9 CDC transform chain & upsert semantics
    "q20_cdc_transform_chain" -> ((s, d) => {
      val routed = Transforms.routeTable(Transforms.dropHeartbeats(cdcEnvelope(s, d)))
      val unwrapped = Transforms.unwrap(routed, "after", "operation",
        keep = Seq("event_id", "__table"))
      Transforms.renameFields(Transforms.flatten(unwrapped),
        Map("value_value" -> "value", "props_value" -> "props", "__table" -> "table_name"))
        .select(col("event_id"), col("table_name"), col("user_id"), col("value"),
          col("__deleted"))
    }),
    "q21_cdc_latest_state" -> ((s, d) =>
      Upsert.collapseBatch(
        Tables.events(s, d).select(col("user_id"), col("event_id"), col("event_type"),
          col("value"),
          (col("event_type") === "error").cast("string").as("__deleted"), col("ts")),
        Seq("user_id"), struct(col("ts"), col("event_id")), "__deleted")
        .select(col("user_id"), col("event_id"), col("event_type"), col("value"))),
    "q22_cdc_partial_update" -> ((s, d) => {
      val ev = Tables.events(s, d).withColumn("value_p",
        when(col("event_type") === "view", lit(null).cast("double")).otherwise(col("value")))
      Upsert.lastNonNullPerKey(ev, Seq("user_id"),
        struct(col("ts"), col("event_id")), Seq("value_p"))
        .select(col("user_id"), col("value_p").as("last_value"))
    }),

    // §7.10 extended surface: text analysis / dedup
    "q30_dedup_exact_groups" -> ((s, d) =>
      Dedup.exactDuplicateGroups(Tables.documents(s, d), "doc_id", "text")),
    "q31_text_stats" -> ((s, d) =>
      TextAnalysis.stats(Tables.documents(s, d), "text", "doc_id")),
    "q32_lang_id" -> ((s, d) =>
      Tables.documents(s, d).select(col("doc_id"), col("lang"),
        TextAnalysis.languageId(col("text")).as("lang_pred"))),
    "q33_quality_score" -> ((s, d) =>
      Tables.documents(s, d).select(col("doc_id"),
        TextAnalysis.qualityScore(col("text"),
          TextAnalysis.LangProfiles("en")).as("quality"))),
    "q34_minhash_pairs" -> ((s, d) =>
      // sketch generates candidates, emitted jaccard is EXACT → the
      // oracle is the same all-pairs exact-Jaccard SQL as q36 at 0.4
      Dedup.minhashVerifiedPairs(Tables.documents(s, d), "doc_id", "text",
        k = 3, numHashes = 32, bands = 16, threshold = 0.4)),
    "q35_simhash_pairs" -> ((s, d) =>
      // maxHamming=3 is the EXACT regime (4-band pigeonhole guarantees
      // recall), and the portable polynomial simhash lets the oracle
      // recompute every sketch and pair in SQL
      Dedup.simhashPairs(Tables.documents(s, d), "doc_id", "text", maxHamming = 3)),
    // q36/q46/q48 are three queries against ONE shared shingle index
    // (build once, probe many — same pattern as the q40/q41 decode)
    "q36_ngram_jaccard_pairs" -> ((s, d) =>
      Dedup.ngramJaccardPairsFromIndex(shingleIdx(s, d), threshold = 0.3)),
    // q98: DIRECTED containment (excerpt detection) off the same index
    "q98_containment_pairs" -> ((s, d) =>
      Dedup.containmentPairsFromIndex(shingleIdx(s, d), threshold = 0.6)),
    // q100: per-doc n-gram novelty vs the id-ordered corpus — again the
    // shared k=3 index, read as the (shingle → first id) rollup
    "q100_ngram_novelty" -> ((s, d) =>
      Dedup.ngramNoveltyFromIndex(shingleIdx(s, d), "doc_id")),
    // q99: tf-idf cosine pairs over top-5-term sparse vectors —
    // integer-micro weights make the dot product an exact BIGINT sum
    "q99_tfidf_cosine_pairs" -> ((s, d) =>
      TextAnalysis.tfidfCosinePairs(Tables.documents(s, d),
        "doc_id", "text", topM = 5, threshold = 0.8)),
    // q108: corpus-self bigram-LM cross-entropy (the CCNet perplexity
    // filter, fixed-pointed) — the q72 integer-ln trick keeps the
    // per-doc sum exact in any association order
    "q108_bigram_lm" -> ((s, d) =>
      TextAnalysis.bigramLmScores(Tables.documents(s, d), "doc_id", "text")),
    // q115: exact heavy hitters — Misra-Gries candidates per partition,
    // then an exact recount of candidates ONLY: the counting shuffle
    // carries partitions·m rows, never the Zipf-tail vocabulary
    "q115_heavy_hitters" -> ((s, d) =>
      TextAnalysis.heavyHitters(Tables.documents(s, d), "text",
        supportPpm = 2000L)),
    // q116: deterministic stratified sample — k docs per source by md5
    // of the id (reproducible uniform sampling; map-side
    // WindowGroupLimit keeps the exchange strata·k-sized)
    "q116_stratified_sample" -> ((s, d) =>
      TextAnalysis.stratifiedSample(Tables.documents(s, d), "doc_id",
        "source", k = 5)),
    // q117: adjacent-bigram PMI collocations in the fixed-point-ln
    // frame — marginals derive from the pair-count table, never a
    // second corpus pass; top-k rides TakeOrderedAndProject
    "q117_collocations" -> ((s, d) =>
      TextAnalysis.collocations(Tables.documents(s, d), "text",
        minCount = 3L, topK = 50)),

    // §7.10 extended surface: similarity search
    "q37_ann_cosine_topk" -> ((s, d) => {
      val q = queryVector(s, d)
      Similarity.cosineTopK(Tables.embeddings(s, d), "vec_id", "embedding", q, 10)
    }),
    "q38_ann_lsh_topk" -> ((s, d) => {
      val q = queryVector(s, d)
      val idx = Similarity.lshIndex(Tables.embeddings(s, d), "vec_id", "embedding",
        nPlanes = 8, dim = q.length)
      Similarity.annTopK(idx, "vec_id", "embedding", q, 10, nPlanes = 8)
    }),
    "q39_embedding_neardup" -> ((s, d) =>
      // threshold 0.35 is the LOW-similarity regime → exact block join
      // (LSH can't band-and-recall there; see Similarity scaladoc)
      Similarity.exactNearDuplicatePairs(Tables.embeddings(s, d), "vec_id",
        "embedding", threshold = 0.35, blocks = 8)),

    // §7.10 extended surface: multimodal (REAL encode→decode round-trips
    // on all three branches: PNG for image, PCM-WAV for audio, GVID
    // containers of PNG frames for video).
    // q40 and q41 share one persisted decode (build once, derive many).
    "q40_multimodal_decode" -> ((s, d) =>
      decodedAssets(s, d)
        .select(col("asset_id"), col("media_type"), col("width"), col("height"),
          col("duration_ms"))),
    "q41_frame_samples" -> ((s, d) =>
      Multimodal.frameSamples(decodedAssets(s, d), n = 4)),
    // q49: REAL per-frame extraction — every PNG frame parsed out of
    // its GVID container, dims ImageIO-decoded from the frame's own
    // bytes; the oracle re-derives count/ts/dims from the generator
    // formulas, so a match certifies the full container walk
    "q49_frame_extract" -> ((s, d) =>
      // pre-filter to the video doc ids (media assignment is doc_id%3)
      // BEFORE synthesis — the filter can't push below syntheticAssets'
      // opaque mapPartitions, and encoding the image/audio two-thirds
      // only to discard them would be pure wasted executor CPU
      Multimodal.extractFrames(
        Multimodal.syntheticAssets(
          Tables.documents(s, d).filter(pmod(col("doc_id"), lit(3)) === 2)))
        .select(col("asset_id"), col("frame_idx"), col("ts_ms"),
          col("width"), col("height"))),

    "q43_token_counts" -> ((s, d) =>
      Tables.documents(s, d).select(col("doc_id"),
        TextAnalysis.bpeishTokenCount(col("text")).as("n_bpe_tokens"),
        TextAnalysis.tokenCount(col("text")).cast("long").as("n_ws_tokens"))),
    "q44_winnowing_fingerprints" -> ((s, d) =>
      Tables.documents(s, d).select(col("doc_id"),
        explode(TextAnalysis.winnowingFingerprints(col("text"), k = 4, w = 4))
          .as("fingerprint"))),
    "q45_ann_ivf_topk" -> ((s, d) => {
      val q = queryVector(s, d)
      // fixed-centroid quantizer (centroids = embeddings of vec_id < 8):
      // exactly reproducible in the DuckDB oracle, which re-derives cell
      // assignment, probe-cell choice, and in-cell ranking. The adaptive
      // k-means quantizer (Ivf.buildIndex) is covered by IvfSpec.
      val cents = ivfCentroids(s, d)
      val index = graft.vector.Ivf.fixedCentroidIndex(
        Tables.embeddings(s, d), "vec_id", "embedding", cents)
      val cells = graft.vector.Ivf.nearestCentroidCells(cents, q, nProbe = 3)
      graft.vector.Ivf.annTopKCells(index, "vec_id", "embedding", q, 10, cells)
    }),

    "q47_sessionize" -> ((s, d) =>
      graft.analytics.StreamingAnalytics.sessionize(
        Tables.events(s, d), "ts", "user_id", "value", gap = "3 days")),
    // q60: SemDeDup — cluster embeddings to the q45 fixed centroids,
    // prune within-cell pairs at cosine >= 0.4, keep min-id survivors.
    // The fixed quantizer makes assignment + pruning fully re-derivable
    // by the oracle (the k-means variant is covered by IvfSpec).
    "q60_semdedup" -> ((s, d) =>
      graft.vector.SemDedup.semDedup(Tables.embeddings(s, d), "vec_id",
        "embedding", ivfCentroids(s, d), threshold = 0.4)),
    // q69: SemDeDup with MULTI-PROBE assignment (top-2 centroids per
    // vector) — the boundary-miss mitigation: pairs straddling one
    // cell boundary still meet in a shared probe cell. Survivor cells
    // stay primary, so the output schema matches q60's
    "q69_semdedup_multiprobe" -> ((s, d) =>
      graft.vector.SemDedup.semDedup(Tables.embeddings(s, d), "vec_id",
        "embedding", ivfCentroids(s, d), threshold = 0.4, nProbe = 2)),
    "q46_dedup_near_corpus" -> ((s, d) => {
      val docs = Tables.documents(s, d)
      Dedup.dedupByPairs(docs, "doc_id",
        Dedup.ngramJaccardPairsFromIndex(shingleIdx(s, d), threshold = 0.8))
        .select(col("doc_id"), col("lang"), col("source"))
    }),
    // q65: near-dedup keeping the BEST-quality member of each pair
    // instead of the min id — the canonical-copy selection rule; ties
    // fall back to the smaller id so survivorship stays deterministic
    "q65_dedup_keep_best" -> ((s, d) => {
      val docs = Tables.documents(s, d)
      Dedup.dedupByPairsKeepBest(docs, "doc_id",
        Dedup.ngramJaccardPairsFromIndex(shingleIdx(s, d), threshold = 0.8),
        TextAnalysis.qualityScore(col("text"), TextAnalysis.LangProfiles("en")))
        .select(col("doc_id"), col("lang"), col("source"))
    }),
    // q36 with the document-frequency cut engaged (shingles in > 20 docs
    // become corpus stopwords): exercises the skew guard end-to-end —
    // the oracle recomputes the same cut, so DF semantics and the
    // rare-set Jaccard arithmetic are both pinned cross-engine
    "q48_ngram_dfcut" -> ((s, d) =>
      Dedup.ngramJaccardPairsFromIndex(shingleIdx(s, d),
        threshold = 0.4, maxShingleDf = 20L)),
    // q53: benchmark decontamination — the eval set is the deterministic
    // doc_id % 37 slice of the corpus, so both engines re-derive it; a
    // corpus doc is contaminated iff it shares >= 1 distinct 8-token
    // shingle with ANY eval doc (short docs fall back to the whole-token
    // string, so a short eval doc only flags identical short corpus
    // docs — the fallback shingle can never equal a true 8-gram)
    "q53_decontaminate" -> ((s, d) => {
      val docs = Tables.documents(s, d)
      Dedup.decontaminate(docs, docs.filter(col("doc_id") % 37 === 0),
        "doc_id", "text", k = 8)
        .select(col("doc_id"), col("lang"), col("source"))
    }),
    // q54: the audit side of decontamination — per-doc count of distinct
    // 8-token shingles shared with the eval slice (the evidence behind
    // q53's drop decisions, and the input to the n-of-k `minHits` knob)
    "q54_contamination_hits" -> ((s, d) => {
      val docs = Tables.documents(s, d)
      Dedup.contaminationCounts(docs, docs.filter(col("doc_id") % 37 === 0),
        "doc_id", "text", k = 8)
    }),
    // q55: domain mixing — deterministic stratified sampling on the
    // portable hash coin (integer ppm rates: exact arithmetic, no float
    // boundary). Rates over the synthetic src0..src19 strata; the
    // default-rate arm covers the unmapped sources.
    "q55_corpus_mix" -> ((s, d) =>
      TextAnalysis.sampleByMix(Tables.documents(s, d), "doc_id", "source",
        Map("src0" -> 1000000L, "src1" -> 750000L, "src2" -> 500000L,
          "src3" -> 250000L), defaultPpm = 100000L)
        .select(col("doc_id"), col("source"))),
    // q56: token-budget selection — best-quality docs whose cumulative
    // tokens fit 20k. The engine runs the bucketed distributed prefix
    // (one global window NEVER appears); the oracle is the plain global
    // window, pinning the distributed decomposition's exactness.
    "q56_budget_select" -> ((s, d) =>
      TextAnalysis.selectByBudget(
        Tables.documents(s, d).filter(col("text").isNotNull),
        "doc_id", "text", budget = 20000L)),
    // q68: Gopher rule battery — one boolean per rule + the
    // conjunction; every ratio threshold is an integer cross-multiplied
    // comparison, so flags are bit-identical across engines
    "q68_gopher_rules" -> ((s, d) =>
      TextAnalysis.gopherFlags(Tables.documents(s, d), "doc_id", "text")),
    // q67: corpus-typicality — mean corpus frequency of each doc's
    // positional bigrams (the relational LM-perplexity stand-in: rare
    // bigram sequences ≈ noisy/generated text). Exact-count division
    // keeps the score cross-engine reproducible
    "q67_typicality" -> ((s, d) =>
      TextAnalysis.typicalityScores(Tables.documents(s, d), "doc_id", "text")),
    // q72: DSIR importance weights — every raw doc scored against the
    // doc_id % 23 slice as the "target domain" sample (deterministic,
    // the q53/q59 slice pattern); 512 hashed-bigram buckets. Fixed-point
    // integer logs make the weights hash-comparable cross-engine
    "q72_dsir_weights" -> ((s, d) => {
      val docs = Tables.documents(s, d)
      TextAnalysis.importanceWeights(docs,
        docs.filter(col("doc_id") % 23 === 0), "doc_id", "text",
        buckets = 512)
    }),
    // q75: DSIR step 2 — systematic resampling by the q72 weights,
    // shifted to positive integers (min-shift is rank-preserving; the
    // paper's exp() only rescales, and staying in 64-bit integers is
    // what keeps the resample bitwise cross-engine). k=128 picks.
    "q75_dsir_resample" -> ((s, d) => {
      val docs = Tables.documents(s, d)
      val wts = TextAnalysis.importanceWeights(docs,
        docs.filter(col("doc_id") % 23 === 0), "doc_id", "text",
        buckets = 512)
      val mn = wts.agg(min("dsir_weight_fp").as("__mn"))
      val shifted = wts.crossJoin(broadcast(mn))
        .select(col("doc_id"),
          (col("dsir_weight_fp") - col("__mn") + lit(1L)).as("w"))
      TextAnalysis.systematicResample(shifted, "doc_id", "w", k = 128)
        .orderBy("doc_id")
    }),
    // q73: cross-source near-dup attribution matrix — which source
    // pairs share near-duplicate docs (within-source on the diagonal).
    // Rolls up q36's machinery (shared shingle index, J >= 0.4) — the
    // feed-overlap report a curator reads before dropping a source
    "q73_neardup_source_matrix" -> ((s, d) =>
      Dedup.nearDupSourceMatrix(
        Dedup.ngramJaccardPairsFromIndex(shingleIdx(s, d), threshold = 0.4),
        Tables.documents(s, d), "doc_id", "source")),
    // q74: duplicate-cluster size histogram — the datasheet's duplication
    // profile. Oracle-checkable despite the iterative CC underneath
    // because the histogram is label-invariant (see clusterSizeHistogram)
    "q74_neardup_cluster_sizes" -> ((s, d) =>
      Dedup.clusterSizeHistogram(
        Dedup.ngramJaccardPairsFromIndex(shingleIdx(s, d), threshold = 0.4))
        .orderBy("cluster_size")),
    // q123: one fixed-point PageRank step over the q74 near-dup graph —
    // which variant of a duplicate cluster is canonical (survivorship by
    // centrality); same integral-arithmetic family as CC/power-iteration
    "q123_pagerank_step" -> ((s, d) =>
      Dedup.pagerankStep(
        Dedup.ngramJaccardPairsFromIndex(shingleIdx(s, d), threshold = 0.4))),
    // q124: BPE ENCODING against a fixed merge list (the trainer is q81
    // + BpeSpec; this is the apply side) — per-doc subword totals, with
    // a chained merge (t,a → ta,b) exercising merged-symbol reuse
    "q124_bpe_encode" -> ((s, d) =>
      graft.text.Bpe.encode(Tables.documents(s, d), "doc_id", "text",
        Seq(("e", "r"), ("i", "n"), ("s", "t"), ("t", "a"),
          ("ta", "b"), ("er", "g")))
        .select(col("doc_id"),
          size(col("subwords")).cast("long").as("n_subwords"),
          size(array_distinct(col("subwords"))).cast("long").as("n_distinct"))
        .orderBy("doc_id")),

    // q77: product-quantization ANN (Jégou 2011) — encode the corpus
    // against data-derived codebooks (subspace slices of the first 8
    // vectors, so the oracle can rebuild them from the table alone),
    // then top-10 by asymmetric-distance (ADC) over the CODES only.
    // Bit-parity by construction: both engines fold the same Σ(δ²)
    // sequentially and sum the 4 subspace terms left-associated
    "q77_ann_pq_topk" -> ((s, d) => {
      val cb = pqCodebooks(s, d)
      Pq.adcTopK(
        Pq.encode(Tables.embeddings(s, d), "vec_id", "embedding", cb),
        "vec_id", cb, queryVector(s, d), 10)
    }),
    // q78: IVF-PQ — the FAISS composition: coarse-quantize into cells
    // (q45's fixed-centroid assignment), PQ-encode with the cell column
    // carried, prune to the query's 3 nearest cells, ADC only the
    // surviving codes. At 100 TB the codes table written
    // partitionBy(cell) makes this file-listing pruning over an index
    // 64× smaller than the raw vectors
    "q78_ann_ivfpq_topk" -> ((s, d) => {
      val cents = ivfCentroids(s, d)
      val cb = pqCodebooks(s, d)
      val q = queryVector(s, d)
      val index = graft.vector.Ivf.fixedCentroidIndex(
        Tables.embeddings(s, d), "vec_id", "embedding", cents)
      val codes = Pq.encode(index, "vec_id", "embedding", cb)
      val cells = graft.vector.Ivf.nearestCentroidCells(cents, q, nProbe = 3)
      Pq.adcTopK(codes.filter(col("cell").isin(cells: _*)), "vec_id",
        cb, q, 10)
    }),
    // q76: the dedup REDIRECT MAP — (doc_id, canonical_id) for every
    // document in a near-dup cluster, canonical = the cluster's min id.
    // The artifact a pipeline persists so downstream joins (metrics,
    // lineage, re-ingest) can rewrite ids; unlike q74 this checks CC's
    // actual LABELS (min-label fixpoint ≡ min reachable id in SQL)
    "q76_dedup_redirect_map" -> ((s, d) =>
      Dedup.connectedComponents(
        Dedup.ngramJaccardPairsFromIndex(shingleIdx(s, d), threshold = 0.4))
        .select(col("id").as("doc_id"), col("component").as("canonical_id"))
        .orderBy("doc_id")),
    // q66: exact-k stratified sample — exactly 20 docs per source by
    // the salted portable-hash coin (rate-based q55 gives a binomial
    // count; eval carving needs an exact one). Map-side top-k via
    // WindowGroupLimit, k·strata-bounded shuffle
    "q66_sample_exactk" -> ((s, d) =>
      TextAnalysis.sampleExactK(Tables.documents(s, d), "doc_id", "source",
        k = 20).select(col("doc_id"), col("source"))),
    // q57: deterministic train/val/test split assignment (80/10/10) on
    // the salted portable-hash coin — the partition every training
    // pipeline carves before anything else touches the corpus
    "q57_split_assign" -> ((s, d) =>
      TextAnalysis.assignSplits(Tables.documents(s, d), "doc_id")
        .select(col("doc_id"), col("split"))),
    // q171: leakage-safe splits — q57's split coin thrown on the
    // near-dup CLUSTER representative (q76's components), so a test
    // document's twin can never sit in train
    "q171_leakage_safe_splits" -> ((s, d) =>
      TextAnalysis.leakageSafeSplits(Tables.documents(s, d), "doc_id",
        Dedup.ngramJaccardPairsFromIndex(shingleIdx(s, d), threshold = 0.4))
        .select(col("doc_id"), col("group_id"), col("split"))
        .orderBy("doc_id")),
    // q58: exact-substring dedup (Lee et al. 2022): maximal token spans
    // whose every 8-gram occurs in >= 2 distinct documents — localizes
    // the boilerplate passage instead of dropping the whole document
    "q58_duplicated_spans" -> ((s, d) =>
      Dedup.duplicatedSpans(Tables.documents(s, d), "doc_id", "text",
        k = 8, minDf = 2)),
    // q70/q71: line-wise boilerplate dedup (RefinedWeb/CCNet). The raw
    // docs are single-line, so both queries synthesize the realistic
    // shape deterministically: each doc gains a per-source footer line
    // (shared by its whole stratum → df ≈ n/20) and a unique ref line.
    // q70 excises every cross-document line (the footer everywhere; at
    // sf0.1 also the 8 duplicate-text first lines) keeping survivors in
    // order; q71 is the audit rollup (distinct boilerplate lines + df)
    "q70_line_dedup" -> ((s, d) =>
      Dedup.removeDuplicatedLines(withFooterLines(Tables.documents(s, d)),
          "doc_id", "text")
        .select(col("doc_id"), col("text"))),
    "q71_boilerplate_lines" -> ((s, d) =>
      Dedup.duplicatedLines(withFooterLines(Tables.documents(s, d)),
          "doc_id", "text")
        .select(col("line"), col("df")).distinct()
        .orderBy(col("df").desc, col("line"))
        .limit(50)),
    // q59: Bloom-gated incremental dedup — the doc_id % 10 slice is the
    // arriving batch, the rest is the accumulated history; a new doc
    // drops when it shares any 8-gram with history. The bloom only
    // prunes (exact confirm follows), so the result is exact and the
    // oracle is a plain shingle anti-join
    "q59_dedup_vs_history" -> ((s, d) => {
      val docs = Tables.documents(s, d)
      val history = docs.filter(col("doc_id") % 10 =!= 0)
      // expectedItems stays at its 0 default → the bloom auto-sizes
      // from the history's HLL distinct-shingle estimate: an
      // undersized sketch saturates at larger SFs and the "small by
      // construction" candidate set balloons toward the full batch
      // shingle set
      Dedup.dedupAgainstHistory(
        docs.filter(col("doc_id") % 10 === 0), history,
        "doc_id", "text", k = 8)
        .select(col("doc_id"), col("lang"), col("source"))
    }),
    // q61: corpus vocabulary — df/tf per whitespace token, top 100 by
    // document frequency (the vocab-building / stopword-derivation /
    // DF-token-filter input). Two-level agg: (token, doc) pre-agg kills
    // hot-token skew before the per-token rollup
    "q61_vocab_df" -> ((s, d) =>
      TextAnalysis.vocabulary(Tables.documents(s, d), "doc_id", "text")
        .orderBy(col("df").desc, col("tf").desc, col("token"))
        .limit(100)),
    // q62: context-window chunking — 32-token windows at stride 24
    // (8-token overlap), the long-document split every training pipeline
    // runs before packing. Zero-shuffle plan: one explode per doc
    "q62_chunk_windows" -> ((s, d) =>
      TextAnalysis.chunkWindows(Tables.documents(s, d), "doc_id", "text",
        window = 32, stride = 24)),
    // q63: distinctive terms — per-doc top-3 keywords by tf/df (raw-idf
    // tf-idf: one IEEE division, bit-exact cross-engine; log-idf is a
    // library-parity hazard). Map-side top-k via WindowGroupLimit
    // pushdown (PlanSpec-pinned)
    "q63_distinctive_terms" -> ((s, d) =>
      TextAnalysis.distinctiveTerms(Tables.documents(s, d), "doc_id", "text",
        topK = 3)),
    // q64: per-source corpus datasheet — docs/tokens/mean-quality/exact
    // median length per stratum (mean sums integer quality ppm, one
    // division; median is rank (n+1) div 2 in (n_tokens, doc_id) order)
    "q64_corpus_datasheet" -> ((s, d) =>
      TextAnalysis.corpusDatasheet(Tables.documents(s, d), "doc_id", "text",
        "source")),
    // q50: PII scrub. The corpus contains no PII (verified: zero rows
    // with digits or '@'), so the query SYNTHESIZES a deterministic
    // email + IP + phone per row — identically on both engines — and
    // the oracle re-applies the same regex chain in SQL: every row is a
    // live cross-engine regex-parity check, not an identity pass
    "q50_pii_scrub" -> ((s, d) =>
      Tables.documents(s, d).select(col("doc_id"),
        TextAnalysis.piiScrub(concat(
          col("text"), lit(" contact user"), col("doc_id").cast("string"),
          lit("@mail.example.com or 10.0."),
          pmod(col("doc_id"), lit(256)).cast("string"),
          lit(".7 or 555-01"), col("doc_id").cast("string"), lit("99")))
          .as("scrubbed"))),
    // q51: repetition profile (boilerplate/degenerate-text signal)
    "q51_repetition" -> ((s, d) =>
      TextAnalysis.repetitionStats(Tables.documents(s, d), "doc_id", "text",
        k = 2)),
    // q52: concat-and-chunk sequence packing, 512-token budget, packed
    // per hash bucket (parallel windows, no global ordering)
    "q52_seq_pack" -> ((s, d) =>
      TextAnalysis.packSequences(Tables.documents(s, d), "doc_id", "text",
        budget = 512, buckets = 8)),

    // q79: BM25 top-k retrieval — the inverted-index probe ("docs about
    // X") a curation pipeline runs for retrieval audits and targeted
    // decontamination. Lucene-BM25 in exact fixed-point integers (the
    // q72 trick): per-term scores floor to micros BEFORE the per-doc
    // sum, so ranking is bit-identical cross-engine
    "q79_bm25_topk" -> ((s, d) =>
      Retrieval.bm25TopK(Tables.documents(s, d), "doc_id", "text",
        bm25Terms, 20)),

    // q80: deterministic training-order shuffle + token-balanced output
    // shards — every ~2000-token run of the coin order is one shard
    // (the webdataset/TFRecord shard-writing step). Bucketed distributed
    // prefix-sum; the oracle's single global window pins it
    "q80_shard_assign" -> ((s, d) =>
      TextAnalysis.assignShards(Tables.documents(s, d), "doc_id", "text",
        targetTokens = 2000L)),

    // q95: winnowing-fingerprint pairs — the MOSS pair stage over q44's
    // fingerprints: docs sharing >= 3 window-min hashes, with the
    // count. The winnowing guarantee (any shared >= w+k-1 token run
    // forces a shared fingerprint) makes this a detection bound
    "q95_winnow_pairs" -> ((s, d) =>
      Dedup.winnowingPairs(Tables.documents(s, d), "doc_id", "text",
        k = 4, w = 4, minShared = 3L)),

    // q94: REAL image pixel statistics — per-channel integer sums from
    // ImageIO-decoded PNG payloads; lossless PNG means the oracle's
    // closed-form pixel replay must match bit-for-bit
    "q94_image_pixel_stats" -> ((s, d) =>
      // pre-filter to the image doc ids (media assignment is doc_id%3)
      // BEFORE synthesis — the q49 pattern: imagePixelStats' media_type
      // filter can't push below syntheticAssets' opaque mapPartitions,
      // so without it two-thirds of the generation work (WAV + GVID
      // encodes) is paid only to be discarded
      Multimodal.imagePixelStats(
        Multimodal.syntheticAssets(
          Tables.documents(s, d).filter(pmod(col("doc_id"), lit(3)) === 0)))
        .orderBy("asset_id")),

    // q93: REAL audio feature extraction — exact integer PCM statistics
    // (n, peak |s|, Σ|s|, Σs²) decoded from the WAV payload bytes; the
    // oracle re-derives the generator's closed-form samples in SQL, so
    // a pass proves the decode reads the real bytes bit-for-bit
    "q93_audio_features" -> ((s, d) =>
      // pre-filter to the audio doc ids before synthesis (the q49/q94
      // pattern — skip the discarded PNG + GVID generation)
      Multimodal.audioFeatures(
        Multimodal.syntheticAssets(
          Tables.documents(s, d).filter(pmod(col("doc_id"), lit(3)) === 1)))
        .orderBy("asset_id")),

    // q91: revenue by nation (TPC-H Q5 shape) — the star-join rollup:
    // date-pruned orders, broadcast nation dim, decimal-exact revenue
    "q91_revenue_by_nation" -> ((s, d) =>
      Analytics.revenueByNation(Tables.customer(s, d), Tables.orders(s, d),
        Tables.lineitem(s, d), Tables.nation(s, d),
        "1996-01-01", "1997-01-01")),
    // q92: top suppliers by shipped revenue (TPC-H Q15 shape) — the
    // fact pre-aggregates BEFORE the dim join; top-k rides
    // TakeOrderedAndProject
    "q92_top_suppliers" -> ((s, d) =>
      Analytics.topSuppliersByRevenue(Tables.supplier(s, d),
        Tables.lineitem(s, d), "1996-01-01", "1996-04-01", k = 10)),
    // q96: shipping priority (TPC-H Q3 shape) — both fact scans
    // date-pruned, segment slice as a semi-join, decimal revenue,
    // TakeOrderedAndProject top-k
    "q96_shipping_priority" -> ((s, d) =>
      Analytics.shippingPriority(Tables.customer(s, d), Tables.orders(s, d),
        Tables.lineitem(s, d), "BUILDING", "1996-06-01", k = 10)),
    // q97: returned-item customers (TPC-H Q10 shape) — flag+date-pruned
    // fact, per-customer pre-agg BEFORE the dim joins, broadcast nation
    "q97_returned_customers" -> ((s, d) =>
      Analytics.returnedItemCustomers(Tables.customer(s, d),
        Tables.orders(s, d), Tables.lineitem(s, d), Tables.nation(s, d),
        "1996-01-01", "1996-04-01", k = 20)),
    // q101: priority counts of orders with a returned line (TPC-H Q4
    // shape) — EXISTS as a key-only LEFT SEMI join
    "q101_priority_returns" -> ((s, d) =>
      Analytics.priorityReturnCounts(Tables.orders(s, d),
        Tables.lineitem(s, d), "1996-01-01", "1996-07-01")),
    // q102: exact quality-score quantiles over the corpus (integer-ppm
    // scores through the q9 distributed exact-rank machinery) — the
    // calibration table a curation run reads before picking minQuality
    "q102_quality_quantiles" -> ((s, d) =>
      Analytics.rankQuantiles(
        Tables.documents(s, d).filter(col("text").isNotNull)
          .select(round(TextAnalysis.qualityScore(col("text"),
            TextAnalysis.LangProfiles("en")) * 1000000)
            .cast("long").as("q_ppm")),
        "q_ppm", Seq(0.25, 0.5, 0.75, 0.95))),
    // q103: customer order-count distribution (TPC-H Q13 shape) — the
    // fact collapses to per-customer counts BEFORE the outer join;
    // zero-order customers survive via LEFT + coalesce
    "q103_customer_distribution" -> ((s, d) =>
      Analytics.customerOrderDistribution(Tables.customer(s, d),
        Tables.orders(s, d), "1-URGENT")),
    // q104: promo revenue share for one ship-month (TPC-H Q14 shape) —
    // broadcast part flag, two exact decimal sums, one final division
    "q104_promo_revenue" -> ((s, d) =>
      Analytics.promoRevenue(Tables.part(s, d), Tables.lineitem(s, d),
        "PROMO", "1996-03-01", "1996-04-01")),
    // q105: large-volume customers (TPC-H Q18 shape) — the HAVING
    // rollup runs on the fact FIRST; joins are qualifying-orders-sized
    "q105_large_volume_customers" -> ((s, d) =>
      Analytics.largeVolumeCustomers(Tables.customer(s, d),
        Tables.orders(s, d), Tables.lineitem(s, d), 250.0, k = 20)),
    // q106: idle high-balance customers by segment (TPC-H Q22 shape) —
    // 1-row scalar broadcast, cross-multiplied mean compare (no float
    // average), LEFT ANTI on projected keys
    "q106_sales_opportunity" -> ((s, d) =>
      Analytics.salesOpportunity(Tables.customer(s, d), Tables.orders(s, d),
        "1996-01-01", "1997-01-01")),
    // q107: small-quantity-order revenue for one brand (TPC-H Q17
    // shape) — the correlated scalar subquery as a per-part rollup +
    // cross-multiplied exact-decimal threshold
    "q107_small_quantity_revenue" -> ((s, d) =>
      Analytics.smallQuantityRevenue(Tables.part(s, d),
        Tables.lineitem(s, d), "Brand#4")),
    // q111: bilateral shipping volume by year (TPC-H Q7 shape) — both
    // nation slices broadcast onto the dims; ship-date window prunes
    // the fact scan; the pair filter runs BEFORE the aggregate
    "q111_volume_shipping" -> ((s, d) =>
      Analytics.volumeShipping(Tables.supplier(s, d), Tables.lineitem(s, d),
        Tables.orders(s, d), Tables.customer(s, d), Tables.nation(s, d),
        "NATION_1", "NATION_2", "1995-01-01", "1998-01-01")),
    // q112: national market share within a region (TPC-H Q8 shape) —
    // conditional decimal sum inside ONE hash agg (no self-join), one
    // IEEE division per year
    "q112_market_share" -> ((s, d) =>
      Analytics.marketShare(Tables.part(s, d), Tables.supplier(s, d),
        Tables.lineitem(s, d), Tables.orders(s, d), Tables.customer(s, d),
        Tables.nation(s, d), Tables.region(s, d),
        "NATION_5", "AFRICA", "PROMO", "1995-01-01", "1998-01-01")),
    // q113: product-line revenue by supplier nation and year (TPC-H Q9
    // shape minus the partsupp leg this schema doesn't carry)
    "q113_product_revenue" -> ((s, d) =>
      Analytics.productRevenueByNation(Tables.part(s, d),
        Tables.supplier(s, d), Tables.lineitem(s, d), Tables.orders(s, d),
        Tables.nation(s, d), "ring")),
    // q114: disjunctive bracket revenue (TPC-H Q19 shape) — Catalyst
    // extracts the common bounds of the OR'd brackets into both scans
    "q114_bracket_revenue" -> ((s, d) =>
      Analytics.bracketRevenue(Tables.part(s, d), Tables.lineitem(s, d),
        Seq(("Brand#4", 1, 15, 1.0, 20.0), ("Brand#2", 10, 30, 5.0, 30.0),
          ("Brand#19", 20, 50, 10.0, 40.0)))),

    // q119: ordered-sequence funnel (view → click → purchase) — ONE
    // user-keyed aggregation folds each user's time-sorted events
    // through a (step, time) state; no k-way self-join, one fact scan
    "q119_event_funnel" -> ((s, d) =>
      Analytics.eventFunnel(Tables.events(s, d), "user_id", "event_type",
        "ts", Seq("view", "click", "purchase"))),
    // q120: daily retention cohorts — integral microsecond day
    // arithmetic (exact at any epoch magnitude, where double division
    // can mis-bucket), (user, day) dedup before any rollup
    "q120_retention_cohorts" -> ((s, d) =>
      Analytics.retentionCohorts(Tables.events(s, d), "user_id", "ts")),

    // q121: as-of join — each purchase matched to the most recent view
    // at-or-before it per user, via the union + carry-forward window
    // (one key shuffle, NARROW rows — never the quadratic range join)
    "q121_asof_join" -> ((s, d) => {
      val ev = Tables.events(s, d)
      AsofJoin.asofJoin(ev.filter(col("event_type") === "purchase"),
        ev.filter(col("event_type") === "view"),
        "user_id", "ts", "ts", "event_id", "event_id")
        .orderBy("user_id", "event_id")
    }),
    // q122: per-customer running revenue — the ordered windowed
    // aggregate: partitioned cumulative decimal sum, no global sort
    "q122_running_revenue" -> ((s, d) =>
      Analytics.runningRevenue(Tables.orders(s, d))),

    // q125: datasheet marginals via ROLLUP — (source, lang) cells,
    // per-source subtotals, grand total, one shared aggregation pass
    "q125_corpus_rollup" -> ((s, d) =>
      Analytics.corpusRollup(Tables.documents(s, d))),
    // q126: per-source language PIVOT with a fixed value list (static
    // schema, no distinct pre-pass) — empty cells 0
    "q126_lang_pivot" -> ((s, d) =>
      Analytics.langPivot(Tables.documents(s, d),
        Seq("de", "en", "es", "fr", "zh"))),

    // q127: exact phrase search over positional postings — "batch batch"
    // exercises both the repeated-term chain join and OVERLAPPING
    // occurrence counting ("batch batch batch" = two matches)
    "q127_phrase_search" -> ((s, d) =>
      Retrieval.phraseMatches(Tables.documents(s, d), "doc_id", "text",
        Seq("batch", "batch"))),
    // q128: one label-propagation step over the q85 kNN graph —
    // majority neighbor label, ties to the smallest, isolated nodes
    // keep their own (the label-denoising pass before training)
    "q128_label_propagation" -> ((s, d) => {
      val emb = Tables.embeddings(s, d)
      graft.vector.Kmeans.labelPropagationStep(
        graft.vector.Kmeans.knnGraph(emb, "vec_id", "embedding",
          ivfCentroids(s, d), k = 3),
        emb, "vec_id", "label")
    }),
    // q129: burst-collapse debounce — first event of each (user, type)
    // burst (gap ≥ 1 day opens a new burst); ts never emitted raw
    // (ns-vs-µs), the kept gap rides out as gap_us
    "q129_event_debounce" -> ((s, d) =>
      graft.analytics.StreamingAnalytics.debounce(Tables.events(s, d),
        Seq("user_id", "event_type"), "ts", "event_id", 86400000000L)
        .select(col("user_id"), col("event_type"), col("event_id"),
          col("gap_us"))),
    // q130: per-source quantile normalization of the quality score —
    // rank-ppm within source, ties share a percentile (rank(), not
    // row_number), all-integer arithmetic
    "q130_quantile_norm" -> ((s, d) =>
      graft.text.TextAnalysis.quantileNormalizeQuality(
        Tables.documents(s, d), "doc_id", "text", "source")),
    // q131: character-entropy screen — fixed-point micro-nats, ln only
    // ever on integer counts, one floor division per doc
    "q131_char_entropy" -> ((s, d) =>
      graft.text.TextAnalysis.charEntropy(Tables.documents(s, d),
        "doc_id", "text")),
    // q132: PCA projection apply — q110's deterministic power-iteration
    // direction scored over every embedding as one narrow zip_with/
    // aggregate expression (no shuffle); completes the gramian → power
    // iteration → projection pipeline end to end under the oracle
    "q132_pca_project" -> ((s, d) => {
      val emb = Tables.embeddings(s, d)
      val dim = emb.select(max(size(col("embedding")))).head().getInt(0)
      val v = graft.vector.Gramian.powerIterationStep(
          graft.vector.Gramian.gramianFp(emb, "embedding"),
          (1 to dim).map(j => 1000000L + j))
        .collect().map(r => r.getInt(0) -> r.getLong(1)).toMap
      graft.vector.Gramian.projectFp(emb, "vec_id", "embedding",
        (1 to dim).map(v))
    }),
    // q133: Gini concentration of token mass across sources — the
    // datasheet's one-number balance check; corpus collapses to one row
    // per source before any window
    "q133_source_gini" -> ((s, d) =>
      graft.text.TextAnalysis.sourceTokenGini(Tables.documents(s, d),
        "text", "source")),
    // q134: per-dimension moment stats (mean/variance inputs for
    // feature standardization) — d-row output at any corpus size; the
    // exact second moment rides as a decimal rendered to string so the
    // value stays comparable past 2^63
    "q134_dim_stats" -> ((s, d) =>
      graft.vector.Gramian.dimStatsFp(Tables.embeddings(s, d), "embedding")
        .withColumn("sumsq_fp", col("sumsq_fp").cast("string"))),
    // q135: sorted-neighborhood (length-blocked) near-dup pairs — the
    // third blocking family (after LSH bands and prefix filtering):
    // rank-banded candidates within 10 positions of the length order,
    // exact-Jaccard verified; N·window pair work, never N²
    "q135_snm_pairs" -> ((s, d) =>
      Dedup.sortedNeighborhoodPairs(Tables.documents(s, d), "doc_id",
        "text", window = 10, threshold = 0.3)),
    // q136: vocabulary drift between the even/odd snapshot halves —
    // exact integer ppm rates per side, top-20 by absolute delta (the
    // between-crawls data-drift monitor)
    "q136_term_drift" -> ((s, d) => {
      val docs = Tables.documents(s, d)
      graft.text.TextAnalysis.termDrift(
        docs.filter(col("doc_id") % 2 === 0),
        docs.filter(col("doc_id") % 2 === 1),
        "text", minCount = 1L, topK = 20)
    }),
    // q137: user-journey transition matrix — first-order Markov counts
    // of consecutive event-type pairs per user; lag window on the
    // narrow type column, vocabulary-sized output
    "q137_event_transitions" -> ((s, d) =>
      Analytics.eventTransitions(Tables.events(s, d), "user_id",
        "event_type", "ts", "event_id")),
    // q138: daily OHLC of the event value stream — open/close via
    // min_by/max_by over the (ts, id) struct, ONE hash aggregation, no
    // window, exact-decimal volume
    "q138_value_ohlc" -> ((s, d) =>
      Analytics.ohlc(Tables.events(s, d), "ts", "event_id", "value",
        bucketMicros = 86400000000L)),
    // q139: Spearman rank correlation (integer midranks, no sqrt)
    // between the quality score and document length — do the two
    // signals agree? Exact ppm at any corpus size
    "q139_rank_correlation" -> ((s, d) => {
      val docs = Tables.documents(s, d).filter(col("text").isNotNull)
        .select(
          graft.text.TextAnalysis.qualityScoreE6(col("text"),
            graft.text.TextAnalysis.LangProfiles("en")).as("q"),
          graft.text.TextAnalysis.tokenCount(col("text")).cast("long")
            .as("nt"))
      Analytics.spearman(docs, "q", "nt")
    }),
    // q140: heartbeat-loss report — per-user silences of ≥ 7 days (the
    // monitoring complement of the q129 debounce)
    "q140_event_gaps" -> ((s, d) =>
      Analytics.eventGaps(Tables.events(s, d), "user_id", "ts",
        "event_id", 604800000000L)),
    // q141: ANALYZE-style column profile of the orders table — counts,
    // nulls, exact distincts, native-ordered extrema rendered portably
    // (timestamps as epoch micros; the double column is skipped — its
    // shortest-form rendering is engine-specific)
    "q141_column_profile" -> ((s, d) =>
      Analytics.columnProfile(Tables.orders(s, d),
        Seq("o_orderkey", "o_custkey", "o_orderstatus", "o_orderdate",
          "o_orderpriority"))),
    // q142: Benford first-digit audit of order totals — the
    // fabricated-data screen; 9-row output, shared ppm constant table
    "q142_benford_audit" -> ((s, d) =>
      Analytics.benfordProfile(Tables.orders(s, d), "o_totalprice")),
    // q143: 7-day trailing moving average of daily revenue — RANGE
    // frame over the day index (calendar gaps shorten the divisor);
    // the window runs over the day series, never fact rows
    "q143_moving_revenue" -> ((s, d) =>
      Analytics.movingDailyRevenue(Tables.orders(s, d), windowDays = 7)),
    // q144: market-basket frequent pairs — "bought together" parts in
    // ≥2 orders, top-50; pair explode quadratic only in basket size
    "q144_frequent_pairs" -> ((s, d) =>
      Analytics.frequentItemPairs(Tables.lineitem(s, d), minSupport = 2L,
        k = 50)),
    // q145: 2σ anomaly days on the revenue series — trailing-window
    // stats EXCLUDE the current day, the σ-test cross-multiplies to
    // exact integers in cents (no sqrt to flip on a boundary ulp)
    "q145_revenue_anomalies" -> ((s, d) =>
      Analytics.revenueAnomalies(Tables.orders(s, d), windowDays = 30,
        sigmas = 2, minPriorDays = 5)),
    // q146: reciprocal-rank fusion of two BM25 query variants — ranks,
    // not scores, enter the sum (⌊1e6/(60+r)⌋ integer contributions),
    // so runs fuse without calibration; lists-sized work end to end
    "q146_rrf_fusion" -> ((s, d) => {
      val docs = Tables.documents(s, d)
      Retrieval.rrfFuse(Seq(
        Retrieval.bm25Scores(docs, "doc_id", "text",
          Seq("vector", "hash", "scan")),
        Retrieval.bm25Scores(docs, "doc_id", "text",
          Seq("merge", "window", "stream"))),
        "doc_id", k0 = 60, topN = 100, topK = 20)
    }),
    // q147: TPC-H Q6 — the single-scan promotion forecast; every
    // predicate pushes to the parquet scan, one 1-row hash agg
    "q147_forecast_revenue" -> ((s, d) =>
      Analytics.forecastRevenue(Tables.lineitem(s, d),
        "1996-01-01", "1997-01-01", 0.05, 24.0)),
    // q148: TPC-H Q19 shape — OR-of-ANDs revenue; brand+size part
    // slices broadcast, the disjunction's conjunctive quantity
    // envelope pushes to the fact scan
    "q148_disjunctive_revenue" -> ((s, d) =>
      Analytics.disjunctiveRevenue(Tables.part(s, d), Tables.lineitem(s, d),
        Seq(("Brand#1", 1, 10, 1.0, 20.0),
          ("Brand#2", 11, 25, 10.0, 30.0),
          ("Brand#3", 26, 50, 20.0, 40.0)))),
    // q149: TPC-H Q21 shape — sole-late-supplier counts via ONE
    // per-order rollup instead of correlated EXISTS/NOT-EXISTS joins
    "q149_waiting_suppliers" -> ((s, d) =>
      Analytics.waitingSuppliers(Tables.supplier(s, d), Tables.lineitem(s, d),
        Tables.orders(s, d), Tables.nation(s, d), "NATION_11", 60, 20)),
    // q150: association rules over basket pairs — confidence/lift in
    // exact integer ppm (decimal floor-div, overflow-proof past 2^63)
    "q150_association_rules" -> ((s, d) =>
      Analytics.associationRules(Tables.lineitem(s, d), 3L, 50)),
    // q151: GROUP BY ROLLUP — 3 grouping sets in ONE Expand+agg pass
    "q151_revenue_rollup" -> ((s, d) =>
      Analytics.revenueRollup(Tables.lineitem(s, d))),
    // q152: per-brand Pareto frontier — dominance from the bounded
    // (brand, price)-domain prefix-max window, never an O(N²) self-join
    "q152_brand_skyline" -> ((s, d) =>
      Analytics.brandSkyline(Tables.part(s, d))),
    // q153: gap-based sessionization (30-min gap) — one user-keyed
    // shuffle, lag flag + running session number share one window sort
    "q153_sessionization" -> ((s, d) =>
      Analytics.sessionize(Tables.events(s, d), "user_id", "ts",
        gapUs = 1800000000L)),
    // q154: longest consecutive-day streak per user (gaps-and-islands);
    // the fact collapses to distinct (user, day) before any window
    "q154_activity_streaks" -> ((s, d) =>
      Analytics.activityStreaks(Tables.events(s, d), "user_id", "ts")),
    // q155: sweep-line peak concurrency over the 30-min sessions —
    // the global prefix sum runs bucketed (driver-side base offsets),
    // never as a single-partition ordered window
    "q155_peak_concurrency" -> ((s, d) =>
      Analytics.peakConcurrency(
        Analytics.sessionize(Tables.events(s, d), "user_id", "ts",
          gapUs = 1800000000L),
        "session_start_us", "session_end_us")),
    // q156: SCD Type-2 intervalization of the event stream — per-user
    // change collapse + versioned validity ranges, one window sort
    "q156_scd2_intervals" -> ((s, d) =>
      Analytics.scd2Intervals(Tables.events(s, d), "user_id", "ts",
        "value", "event_id")),
    // q157: RFM segmentation — customer-sized rollup, then three exact
    // global ntiles via range-repartition + driver prefix offsets
    "q157_rfm_segments" -> ((s, d) =>
      Analytics.rfmSegments(Tables.orders(s, d), "o_custkey",
        "o_orderdate", "o_totalprice", k = 5)),
    // q158: triangle census of the co-purchase graph — degree-ordered
    // edge orientation bounds wedge work (hub-proof), support floor
    // bounds the edge set
    "q158_triangle_count" -> ((s, d) =>
      Analytics.coPurchaseTriangles(Tables.lineitem(s, d), minSupport = 2L)),
    // q159: Pareto/ABC revenue classes — rank + running share over the
    // part rollup via range-repartition + driver prefix offsets
    "q159_pareto_classes" -> ((s, d) =>
      Analytics.paretoClasses(Tables.lineitem(s, d))),
    // q160: DAU/WAU — rolling exact distinct via the constant-factor
    // cover-day explode, never a day×user join
    "q160_rolling_active_users" -> ((s, d) =>
      Analytics.rollingActiveUsers(Tables.events(s, d), "user_id", "ts",
        windowDays = 7)),
    // q161: month-over-month growth in signed floor-div ppm over the
    // bounded month series
    "q161_monthly_growth" -> ((s, d) =>
      Analytics.monthlyGrowth(Tables.orders(s, d))),
    // q162: per-segment modal priority — counts first, argmax as a
    // plain max over an order-reversing proxy struct, no window
    "q162_modal_priority" -> ((s, d) =>
      Analytics.modalPriority(Tables.orders(s, d), Tables.customer(s, d))),
    // q163: segment×priority chi-square — exact integers to the last
    // two IEEE ops, decimal-summed total
    "q163_chi_square" -> ((s, d) =>
      Analytics.chiSquareIndependence(Tables.orders(s, d),
        Tables.customer(s, d))),
    // q164: join-key skew profile on the supplier key — the salting
    // pre-flight report
    "q164_key_skew" -> ((s, d) =>
      Analytics.keySkewProfile(Tables.lineitem(s, d), "l_suppkey", k = 20)),
    // q165: Unicode NFC normalization — the codegen'd NfcNormalize
    // expression over every document, proven byte-exact per doc via
    // md5 against DuckDB's nfc_normalize
    "q165_nfc_normalize" -> ((s, d) => {
      val docs = Tables.documents(s, d)
      val nfc = graft.functions.UnicodeExpressions.nfcNormalize(col("text"))
      docs.select(col("doc_id"),
        length(nfc).cast("long").as("n_chars_nfc"),
        md5(nfc.cast("binary")).as("nfc_md5"))
        .orderBy("doc_id")
    }),
    // q166: min-cost regional supplier (TPC-H Q2 shape) — one fact
    // pass to per-(part,supp) min cost, argmin as a struct min, dims
    // broadcast; the correlated min subquery never re-scans the fact
    "q166_min_cost_supplier" -> ((s, d) =>
      Analytics.minCostSupplier(Tables.part(s, d), Tables.supplier(s, d),
        Tables.nation(s, d), Tables.region(s, d), Tables.lineitem(s, d),
        regionName = "EUROPE", size = 15, partType = "STANDARD")),
    // q167: supplier count per product class (TPC-H Q16 shape) —
    // distinct (part,supp) pairs first, deficit suppliers anti-joined
    // broadcast, class exclusions pushed to the dim scan
    "q167_supplier_class_count" -> ((s, d) =>
      Analytics.supplierClassCount(Tables.part(s, d), Tables.supplier(s, d),
        Tables.lineitem(s, d), excludeBrand = "Brand#13",
        excludeTypePrefix = "PROMO", sizes = Seq(1, 5, 10, 15, 20, 25, 30, 35))),
    // q168: dominant suppliers (TPC-H Q20 shape) — date-pruned fact
    // collapses to (part,supp) decimal qty once; per-part totals via a
    // window over the AGGREGATED relation; share test cross-multiplied
    "q168_dominant_suppliers" -> ((s, d) =>
      Analytics.dominantSuppliers(Tables.part(s, d), Tables.supplier(s, d),
        Tables.nation(s, d), Tables.lineitem(s, d), namePrefix = "red",
        fromDate = "1996-01-01", toDate = "1997-01-01",
        thresholdPpm = 500000L)),

    // q169: control/zero-width scrub — the byte-level codegen'd
    // StripControl expression, proven per doc via md5 against DuckDB's
    // RE2 replay of the same character class
    "q169_strip_control" -> ((s, d) => {
      val docs = Tables.documents(s, d)
      val clean = graft.functions.UnicodeExpressions.stripControl(col("text"))
      docs.select(col("doc_id"),
        length(clean).cast("long").as("n_chars_clean"),
        md5(clean.cast("binary")).as("clean_md5"))
        .orderBy("doc_id")
    }),
    // q170: cross-source shingle-overlap matrix — corpus collapses to
    // distinct (source, shingle) first; pair fan-out bounded by
    // sources² per shingle; exact integer-ppm Jaccard
    "q170_source_overlap" -> ((s, d) =>
      Dedup.sourceOverlapMatrix(Tables.documents(s, d),
        "source", "text", k = 3)),
    // q172: CUSUM sustained-shift detector on the daily revenue series
    // — two prefix windows over the calendar-bounded day rollup via the
    // max-reset-free identity, exact integer statistic (cents)
    "q172_cusum_shift" -> ((s, d) =>
      Analytics.cusumShift(Tables.orders(s, d), thresholdCents = 100000000L)),
    // q173: inter-purchase-time table per market segment — per-customer
    // lag window, then every quantile off the bounded (segment, gap)
    // histogram, never a per-row rank
    "q173_repeat_intervals" -> ((s, d) =>
      Analytics.repeatIntervals(Tables.orders(s, d), Tables.customer(s, d))),
    // q174: degree histogram of the co-purchase graph — shares q144/
    // q158's coPurchaseEdges pair self-join, output bounded by max
    // degree
    "q174_copurchase_degrees" -> ((s, d) =>
      Analytics.coPurchaseDegrees(Tables.lineitem(s, d), minSupport = 2L)),
    // q175: equi-depth order-value deciles — exact engine NTILE
    // reproduced from the range-repartition global rank, k-row rollup
    "q175_value_deciles" -> ((s, d) =>
      Analytics.valueDeciles(Tables.orders(s, d), k = 10)),
    // q176: supplier revenue concentration (HHI) per nation — fact
    // collapses to one row per supplier first, integer-ppm shares
    "q176_supplier_hhi" -> ((s, d) =>
      Analytics.supplierHhi(Tables.supplier(s, d), Tables.nation(s, d),
        Tables.lineitem(s, d))),
    // q177: SCD2 point-in-time bridge — purchases attributed to the
    // status version whose validity interval contains them; the
    // BETWEEN join executes as the as-of carry-forward, never a range
    // join
    "q177_scd2_pointintime" -> ((s, d) =>
      Analytics.scd2PointInTime(Tables.events(s, d), "user_id", "ts",
        "event_type", "event_id", factType = "purchase")),
    // q178: cohort revenue matrix — one customer-keyed window, hash agg
    // straight to the months×months grid, integral month arithmetic
    "q178_cohort_revenue" -> ((s, d) =>
      Analytics.cohortRevenue(Tables.orders(s, d))),
    // q179: new-vs-returning monthly split — acquisition vs retention
    // over the same customer-first-month window
    "q179_new_vs_returning" -> ((s, d) =>
      Analytics.newVsReturning(Tables.orders(s, d))),
    // q180: Zipf rank-frequency slope over the top-1000 vocabulary head
    // — integer-ln fixed point, TakeOrderedAndProject head, k-row fit
    "q180_zipf_slope" -> ((s, d) =>
      graft.text.TextAnalysis.zipfSlope(Tables.documents(s, d),
        "doc_id", "text", topK = 1000)),
    // q181: important parts by value share (TPC-H Q11 shape) — ONE fact
    // collapse, 1-row total broadcast back, cross-multiplied HAVING
    "q181_important_parts" -> ((s, d) =>
      Analytics.importantParts(Tables.lineitem(s, d), Tables.supplier(s, d),
        Tables.nation(s, d), nationName = "NATION_3",
        meanMultiple = 3)),
    // q182: high-vs-low priority lines per return flag (TPC-H Q12
    // shape) — date window pushed to the scan, one fact⋈orders shuffle
    "q182_priority_by_flag" -> ((s, d) =>
      Analytics.priorityByFlag(Tables.orders(s, d), Tables.lineitem(s, d),
        fromDate = "1996-01-01", toDate = "1998-01-01")),
    // q183: schema-on-read JSON props rollup — codegen'd path
    // extraction fused into the scan, types-bounded hash agg
    "q183_props_rollup" -> ((s, d) =>
      Analytics.propsRollup(Tables.events(s, d), "event_type", "props",
        field = "k")),
    // q184: hard-negative mining — per query, top-5 similar-but-not-
    // near-dup vectors; queries broadcast, corpus scanned once,
    // map-side WindowGroupLimit top-k
    "q184_hard_negatives" -> ((s, d) =>
      Similarity.hardNegatives(Tables.embeddings(s, d), "vec_id",
        "embedding", col("vec_id") % 199 === 0, k = 5,
        minCos = 0.0, maxCos = 0.95)),
    // q185: ANN recall@10 — the IVF probe path's top-10 measured
    // against exact brute force per query, both arms deterministic on
    // the rounded cosine; queries probe-assign distributed, no driver
    // loop
    "q185_ann_recall" -> ((s, d) =>
      graft.vector.Ivf.annRecall(Tables.embeddings(s, d), "vec_id",
        "embedding", col("vec_id") % 199 === 0, ivfCentroids(s, d),
        nProbe = 3, k = 10)),
    // q186: session-scoped funnel — q119's fold inside q153's gap
    // sessions, counting SESSIONS per step; one user-keyed shuffle
    // feeds both the session tag and the fold
    "q186_session_funnel" -> ((s, d) =>
      Analytics.sessionFunnel(Tables.events(s, d), "user_id",
        "event_type", "ts", "event_id",
        steps = Seq("view", "click", "purchase"), gapUs = 1800000000L)),
    // q187: funnel time-to-convert — per fully-converted user, anchor
    // to completing event; q119's fold carrying the first-advance time
    "q187_funnel_latency" -> ((s, d) =>
      Analytics.funnelLatency(Tables.events(s, d), "user_id",
        "event_type", "ts", steps = Seq("view", "click", "purchase"))),
    // q188: MATCH_RECOGNIZE-style sequence cohorts — each user's full
    // ordered journey string matched against named regexes, all
    // patterns priced as conditional sums over ONE user-keyed pass
    "q188_sequence_match" -> ((s, d) =>
      Analytics.sequenceMatch(Tables.events(s, d), "user_id",
        "event_type", "ts", "event_id", Seq(
          "error_storm" -> "error error error",
          "recovered" -> "error.*purchase",
          "view_to_purchase" -> "view.*purchase"))),
    // q189: order-to-ship latency trend — monthly fulfilment-SLA
    // quantiles off the bounded (month, gap-days) histogram
    "q189_ship_latency" -> ((s, d) =>
      Analytics.shipLatency(Tables.orders(s, d), Tables.lineitem(s, d))),
    // q190: monthly returned-revenue rate — one scan, exact-micros
    // conditional sums, floored integer-ppm rate
    "q190_return_rate" -> ((s, d) =>
      Analytics.returnRate(Tables.lineitem(s, d))),
    // q191: last-touch attribution — preceding-touch lookup as an
    // ignore-nulls window over ONE user-keyed shuffle, never a self-join
    "q191_attribution_last" -> ((s, d) =>
      Analytics.attributionLastTouch(Tables.events(s, d), "user_id",
        "event_type", "ts", "event_id", "value")),
    // q192: linear multi-touch attribution — running conditional count
    // tags conversion segments; per-touch credit in exact floored micros
    "q192_attribution_linear" -> ((s, d) =>
      Analytics.attributionLinear(Tables.events(s, d), "user_id",
        "event_type", "ts", "event_id", "value")),
    // q193: gap-filled daily order series — calendar spine from the
    // 1-row bounds agg, fact collapsed to day partials first
    "q193_daily_spine" -> ((s, d) =>
      Analytics.dailyOrderSpine(Tables.orders(s, d))),
    // q194: brand-month VWAP — broadcast dim join, exact decimal sums,
    // one final IEEE division
    "q194_brand_vwap" -> ((s, d) =>
      Analytics.brandVwap(Tables.part(s, d), Tables.lineitem(s, d))),
    // q195: per-source n-gram diversity (type-token ratio) — corpus
    // self-repetition signal; word-count shape on (source, gram) keys
    "q195_ngram_diversity" -> ((s, d) =>
      TextAnalysis.ngramDiversity(Tables.documents(s, d), "source", "text")),
    // q196: per-source unigram KL vs the pooled corpus — integer
    // fixed-point logs on counts (the zipfSlope discipline)
    "q196_source_kl" -> ((s, d) =>
      TextAnalysis.sourceKlDivergence(Tables.documents(s, d), "source",
        "text")),
    // q197: top-k session journey paths — session tag + path build on
    // ONE user-keyed shuffle, TakeOrdered top-k
    "q197_session_paths" -> ((s, d) =>
      Analytics.sessionPaths(Tables.events(s, d), "user_id", "event_type",
        "ts", "event_id", gapUs = 1800000000L, k = 20)),
    // q198: MAD-based robust outlier census — per-type exact medians
    // via the range-repartition global rank, never per-type windows
    // over the raw fact
    "q198_mad_outliers" -> ((s, d) =>
      Analytics.madOutliers(Tables.events(s, d), "event_type", "value",
        "event_id")),
    // q199: top-3 parts per brand by exact revenue — the windowed
    // top-k-per-group shape over the AGGREGATED relation, never facts
    "q199_brand_top_parts" -> ((s, d) =>
      Analytics.brandTopParts(Tables.part(s, d), Tables.lineitem(s, d),
        k = 3)),
    // q200: daily status panel with LOCF — per-user day spine carrying
    // the latest event type forward (the feature-store materialization)
    "q200_status_locf" -> ((s, d) =>
      Analytics.dailyStatusLocf(Tables.events(s, d), "user_id",
        "event_type", "ts", "event_id")),
    // q201: language-id confusion matrix — the q32 heuristic evaluated
    // against the labeled lang column, one hash agg
    "q201_lang_confusion" -> ((s, d) =>
      Tables.documents(s, d)
        .select(col("lang"),
          TextAnalysis.languageId(col("text")).as("lang_pred"))
        .groupBy("lang", "lang_pred").agg(count(lit(1)).as("n_docs"))
        .orderBy("lang", "lang_pred")),
    // q202: quantity-weighted median price per return flag — exact
    // weighted quantile off the distributed prefix sum
    "q202_weighted_median" -> ((s, d) =>
      Analytics.weightedMedian(Tables.lineitem(s, d), "l_returnflag",
        "l_extendedprice", "l_quantity")),
    // q203: per-vertex local clustering coefficient — triangles from
    // the shared degree-ordered wedge closure, exploded to vertices
    "q203_clustering_coeff" -> ((s, d) =>
      Analytics.coPurchaseClustering(Tables.lineitem(s, d),
        minSupport = 2L)),
    // q204: per-user time-weighted average value — interval weighting
    // via one lead window, exact integer products, one final division
    "q204_twap" -> ((s, d) =>
      Analytics.timeWeightedAverage(Tables.events(s, d), "user_id",
        "value", "ts", "event_id")),
    // q205: header-vs-lines billing audit — exact-decimal recompute per
    // order, status-bounded reconciliation census
    "q205_order_price_audit" -> ((s, d) =>
      Analytics.orderPriceAudit(Tables.orders(s, d), Tables.lineitem(s, d))),
    // q206: per-type inter-arrival median — one (user,type) lag window,
    // exact median via the shared global-rank pass
    "q206_interarrival_median" -> ((s, d) =>
      Analytics.interArrivalMedian(Tables.events(s, d), "user_id",
        "event_type", "ts", "event_id")),
    // q207: Tukey IQR fence census — exact quartile picks, fences in
    // the cross-multiplied integer form
    "q207_iqr_fences" -> ((s, d) =>
      Analytics.iqrOutliers(Tables.events(s, d), "event_type", "value",
        "event_id")),
    // q208: weekday seasonality profile — epoch-day arithmetic (no
    // engine dayofweek convention), ppm shares vs the broadcast total
    "q208_weekday_profile" -> ((s, d) =>
      Analytics.weekdayProfile(Tables.orders(s, d))),
    // q209: equi-width price histogram in exact cents — 1-row bounds
    // agg broadcast, bucket-bounded hash agg
    "q209_price_histogram" -> ((s, d) =>
      Analytics.priceHistogram(Tables.lineitem(s, d), buckets = 16)),
    // q210: within-session type co-occurrence — session tag shares the
    // one user shuffle, pairs explode off DISTINCT per-session type sets
    "q210_session_cooccurrence" -> ((s, d) =>
      Analytics.sessionCooccurrence(Tables.events(s, d), "user_id",
        "event_type", "ts", "event_id", gapUs = 1800000000L)),
    // q211: per-source hapax legomena ratio — word-count shape, exact
    // integer ppm
    "q211_hapax_ratio" -> ((s, d) =>
      TextAnalysis.hapaxRatio(Tables.documents(s, d), "source", "text")),
    // q212: winsorized mean per type — exact percentile picks off the
    // global rank, clip + floored-micros mean
    "q212_winsorized_mean" -> ((s, d) =>
      Analytics.winsorizedMean(Tables.events(s, d), "event_type", "value",
        "event_id")),
    // q213: month-over-month revenue bridge — new/retained/churned
    // cents off the (customer, month) rollup self-join
    "q213_revenue_bridge" -> ((s, d) =>
      Analytics.revenueBridge(Tables.orders(s, d))),
    // q214: first-touch vs last-touch attribution side by side — two
    // ignore-nulls lookups over ONE user window
    "q214_attribution_compare" -> ((s, d) =>
      Analytics.attributionCompare(Tables.events(s, d), "user_id",
        "event_type", "ts", "event_id", "value")),
    // q215: n-gram head coverage — the templatedness number: share of
    // occurrences the top-k types absorb, TakeOrdered head
    "q215_ngram_head_coverage" -> ((s, d) =>
      TextAnalysis.ngramHeadCoverage(Tables.documents(s, d), "text",
        n = 3, k = 1000)),
    // q216: longest consecutive-month streak histogram — q154's
    // gaps-and-islands at month grain over orders
    "q216_month_streaks" -> ((s, d) =>
      Analytics.monthStreakHistogram(Tables.orders(s, d))),
    // q217: daily p50/p90/p99 panel — exact rank picks per (type, day)
    // off one global-rank pass, panel-bounded broadcast offsets
    "q217_daily_quantiles" -> ((s, d) =>
      Analytics.dailyValueQuantiles(Tables.events(s, d), "event_type",
        "ts", "value", "event_id")),
    // q218: session pair lift — support/confidence/lift in exact ppm
    // over the distinct (session, type) relation
    "q218_session_pair_lift" -> ((s, d) =>
      Analytics.sessionPairLift(Tables.events(s, d), "user_id",
        "event_type", "ts", "event_id", gapUs = 1800000000L)),
    // q219: daily growth accounting — new/retained/resurrected/churned
    // users off ONE user window over the distinct (user, day) panel
    "q219_growth_accounting" -> ((s, d) =>
      Analytics.growthAccounting(Tables.events(s, d), "user_id", "ts")),
    // q220: hour-of-day profile — integer epoch-hour arithmetic, exact
    // floored-micros mean per hour
    "q220_hourly_profile" -> ((s, d) =>
      Analytics.hourlyProfile(Tables.events(s, d), "ts", "value")),
    // q221: duplication trend over crawl order — exact-dup rate per
    // id-order decile (global-rank bands, hash-keyed first-id rollup)
    "q221_duplication_trend" -> ((s, d) =>
      TextAnalysis.duplicationTrend(Tables.documents(s, d), "doc_id",
        "text", buckets = 10)),
    // q222: basket-size distribution — two count rollups, no window
    "q222_basket_size_dist" -> ((s, d) =>
      Analytics.basketSizeHistogram(Tables.lineitem(s, d))),
    // q223: token-length distribution — tokenizer calibration curve,
    // word-count shape
    "q223_token_length_dist" -> ((s, d) =>
      TextAnalysis.tokenLengthHistogram(Tables.documents(s, d), "text")),
    // q224: customer recency histogram — days since last order vs the
    // corpus max, 30-day buckets, integral epoch days
    "q224_recency_histogram" -> ((s, d) =>
      Analytics.recencyHistogram(Tables.orders(s, d))),
    // q225: repurchase-gap survival CDF — share of between-active-day
    // gaps closing within each horizon, off one (gap, count) rollup
    "q225_repurchase_survival" -> ((s, d) =>
      Analytics.repurchaseSurvival(Tables.orders(s, d))),
    // q226: readability census — words/sentence + chars/word in exact
    // floored micros, pure column arithmetic into a source hash agg
    "q226_readability" -> ((s, d) =>
      TextAnalysis.readabilityCensus(Tables.documents(s, d), "source",
        "text")),
    // q227: Gopher dup-n-gram census — within-doc duplicate-bigram
    // occurrence mass + repetitive-doc counts per source
    "q227_dup_ngram_census" -> ((s, d) =>
      TextAnalysis.dupNgramCensus(Tables.documents(s, d), "source",
        "doc_id", "text")),
    // q228: daily-volume correlation matrix — signed r² ppm between
    // type pairs' daily-count series, zero-fill handled algebraically
    "q228_type_daily_corr" -> ((s, d) =>
      Analytics.typeDailyCorrelation(Tables.events(s, d), "event_type",
        "ts")),
    // q229: cross-source duplicate-leakage matrix — shared distinct
    // opening passages (160-char prefix digest) per source pair off
    // ONE checkpointed (source, md5) relation
    "q229_cross_source_leakage" -> ((s, d) =>
      TextAnalysis.crossSourceLeakage(Tables.documents(s, d), "source",
        "text", prefixChars = 160)),
    // q230: PSI value drift per type — first vs second half of the
    // calendar, Laplace-smoothed equal-width bins, fixed-point ln
    "q230_psi_drift" -> ((s, d) =>
      Analytics.psiDrift(Tables.events(s, d), "event_type", "ts",
        "value")),
    // q231: sampled intra-source semantic dispersion — mean pairwise
    // rounded cosine per source over the deterministic id-sample
    "q231_source_dispersion" -> ((s, d) =>
      Similarity.sourceDispersion(Tables.embeddings(s, d), "vec_id",
        "embedding", Tables.documents(s, d), "doc_id", "source")),
    // q232: source vocabulary Jaccard — pairwise type-set overlap off
    // one (source, token) rollup, minCount prunes hapax noise
    "q232_vocab_overlap" -> ((s, d) =>
      TextAnalysis.sourceVocabularyOverlap(Tables.documents(s, d),
        "source", "text", minCount = 2L)),
    // q233: language-mix entropy per source — q131's fixed-point fold
    // at (source, lang) grain, the language-purity datasheet number
    "q233_lang_entropy" -> ((s, d) =>
      TextAnalysis.languageEntropy(Tables.documents(s, d), "source",
        "lang")),
    // q234: seasonal-naive forecast backtest — lag-7 alignment on the
    // checkpointed day panel, WMAPE in exact floored ppm
    "q234_seasonal_backtest" -> ((s, d) =>
      Analytics.seasonalNaiveBacktest(Tables.orders(s, d))),
    // q235: brand-pair co-purchase lift — q218's association stats at
    // basket/brand grain, distinct (order, brand) checkpointed once
    "q235_brand_pair_lift" -> ((s, d) =>
      Analytics.brandPairLift(Tables.part(s, d), Tables.lineitem(s, d))),
    // q236: session bounce rate by entry type — shared gap-session tag,
    // struct-min entry pick, vocabulary-bounded census
    "q236_bounce_rate" -> ((s, d) =>
      Analytics.sessionBounceRate(Tables.events(s, d), "user_id",
        "event_type", "ts", "event_id", gapUs = 1800000000L)),
    // q237: lag-k autocorrelation of daily revenue — q228's signed-r²
    // algebra against the series' own shift, zeros via edge-trimmed
    // conditional moments
    "q237_revenue_acf" -> ((s, d) =>
      Analytics.revenueAutocorrelation(Tables.orders(s, d),
        lags = Seq(1, 7, 30))),
    // q238: per-customer spend-trend census — OLS slope SIGN from 5
    // exact accumulators in one hash agg, no window, no division
    "q238_trend_census" -> ((s, d) =>
      Analytics.customerTrendCensus(Tables.orders(s, d),
        Tables.customer(s, d))),
    // q239: distinctive vocabulary per source — within-source vs corpus
    // rate lift, top-k over the aggregated relation, q196's one-rollup
    // totals rule
    "q239_distinctive_tokens" -> ((s, d) =>
      TextAnalysis.distinctiveTokens(Tables.documents(s, d), "source",
        "text", k = 10, minCount = 5L)),
    // q240: stream-freshness census — last ts + staleness vs the corpus
    // frontier, frontier derived from the one types-bounded rollup
    "q240_type_freshness" -> ((s, d) =>
      Analytics.typeFreshness(Tables.events(s, d), "event_type", "ts")),
    // q241: abandonment census — view not followed by purchase within
    // 1 day; forward min-over-following window, never a range join
    "q241_abandonment" -> ((s, d) =>
      Analytics.abandonmentCensus(Tables.events(s, d), "user_id",
        "event_type", "ts", "event_id", fromType = "view",
        toType = "purchase", windowUs = 86400000000L)),
    // q242: exact-dedup savings report — the keep-one-copy business
    // case per source, one (source, digest) rollup
    "q242_dedup_savings" -> ((s, d) =>
      TextAnalysis.dedupSavings(Tables.documents(s, d), "source",
        "text")),
    // q243: quality-threshold token-budget curve — q33's exact score,
    // global-rank deciles, cumulative retention in floored ppm
    "q243_quality_budget" -> ((s, d) =>
      TextAnalysis.qualityBudgetCurve(Tables.documents(s, d), "doc_id",
        "text", TextAnalysis.LangProfiles("en"))),
    // q244: supplier fulfilment-SLA census — order-date attach, then
    // the fact collapses per supplier FIRST; nation dim broadcast
    "q244_late_delivery" -> ((s, d) =>
      Analytics.lateDeliveryCensus(Tables.lineitem(s, d),
        Tables.orders(s, d), Tables.supplier(s, d), Tables.nation(s, d))),
    // q245: audience-overlap Jaccard between event types — q232's
    // template on the distinct (type, user) relation
    "q245_audience_overlap" -> ((s, d) =>
      Analytics.audienceOverlap(Tables.events(s, d), "event_type",
        "user_id")),

    // q90: BATCH BM25 — top-3 corpus docs for every query in a query
    // table (the doc_id % 97 slice queries the corpus it came from; each
    // query doc must rank itself first — a built-in relevance sanity).
    // The inverted-index JOIN formulation: cost = matching postings,
    // never queries × corpus
    "q90_bm25_batch" -> ((s, d) => {
      val docs = Tables.documents(s, d)
      Retrieval.bm25BatchTopK(docs, "doc_id", "text",
        docs.filter(col("doc_id") % 97 === 0), "doc_id", "text", k = 3)
    }),

    // q88: chunk-granular duplication report — q86's content-defined
    // chunks grouped by hash across documents: the passage-level dedup
    // unit between single lines (q70) and k-gram islands (q58)
    "q88_duplicated_chunks" -> ((s, d) =>
      TextAnalysis.duplicatedChunks(Tables.documents(s, d), "doc_id",
        "text", k = 3, avgChunkGrams = 8, minDocs = 2, minTokens = 2)),
    // q89: corpus snapshot diff — the reconciliation engine (J6's one
    // full-outer join) applied to corpus snapshots by fingerprint:
    // added / removed / changed docs between today's corpus and a
    // deterministically derived next snapshot (% 17 removed, % 13
    // edited — the srcOrders/tgtOrders pattern on documents)
    "q89_corpus_snapshot_diff" -> ((s, d) => {
      val a = Tables.documents(s, d).select(col("doc_id"),
        TextAnalysis.fingerprint(col("text")).as("fp"))
      val b = Tables.documents(s, d).filter(col("doc_id") % 17 =!= 0)
        .select(col("doc_id"), TextAnalysis.fingerprint(
          when(col("doc_id") % 13 === 0, concat(col("text"), lit(" updated")))
            .otherwise(col("text"))).as("fp"))
      Differ.findAllDiscrepancies(a, b, Seq("doc_id"))
    }),

    // q86: content-defined chunking — boundaries where the k-gram
    // rolling hash ≡ 0 (mod 8), so shared passages chunk identically
    // regardless of position (the dedup-friendly chunk unit fixed-stride
    // q62 can't give). Zero shuffle, one explode per doc
    "q86_content_chunks" -> ((s, d) =>
      TextAnalysis.contentChunks(Tables.documents(s, d), "doc_id", "text",
        k = 3, avgChunkGrams = 8)),
    // q87: edit-distance-verified near-dups — exact-Jaccard candidates
    // re-verified with levenshtein over normalized text (order-aware
    // confirmation; the DP runs only on the candidate-sized pair list)
    "q87_editdist_pairs" -> ((s, d) =>
      Dedup.editVerifiedPairsFromIndex(Tables.documents(s, d), "doc_id",
        "text", shingleIdx(s, d), jaccardThreshold = 0.4, maxEdit = 60)),

    // q85: cell-pruned kNN graph — every vector's top-3 neighbors among
    // its IVF cell-mates (the neighbor-graph behind graph dedup and
    // corpus cartography). Shuffles on cell only; per-source top-k is a
    // map-side WindowGroupLimit
    "q85_knn_graph" -> ((s, d) =>
      graft.vector.Kmeans.knnGraph(Tables.embeddings(s, d), "vec_id",
        "embedding", ivfCentroids(s, d), k = 3)),

    // q109: fixed-point corpus gramian (MLlib RowMatrix pattern) — the
    // PCA/whitening input. Per-partition flat-array partials; the
    // shuffle is ≤ partitions·d²/2 rows regardless of corpus size
    "q109_gramian" -> ((s, d) =>
      graft.vector.Gramian.gramianFp(Tables.embeddings(s, d), "embedding")),
    // q110: ONE fixed-point power-iteration step v ← G·v over the q109
    // gramian with the deterministic iterate v_fp(j) = 10⁶ + j (unit
    // micros plus a per-dim tilt so every lane differs) — the integer
    // arithmetic is closed-form replayable, so the PCA building block
    // is DuckDB-checked end to end, not just spec-tested
    "q110_power_iteration" -> ((s, d) => {
      val emb = Tables.embeddings(s, d)
      val dim = emb.select(max(size(col("embedding")))).head().getInt(0)
      graft.vector.Gramian.powerIterationStep(
        graft.vector.Gramian.gramianFp(emb, "embedding"),
        (1 to dim).map(j => 1000000L + j))
    }),
    // q118: the Xᵀy moment vector against the label column — with the
    // q109 gramian these are the ridge normal equations: a linear probe
    // fits in two corpus passes + a d×d driver solve (Gramian.ridgeSolve),
    // no iterative training at any corpus size
    "q118_xty_moments" -> ((s, d) =>
      graft.vector.Gramian.momentsFp(Tables.embeddings(s, d),
        "embedding", "label")),

    // q84: per-domain quality cap (RefinedWeb-style) — each source
    // contributes at most its 25 BEST docs by quality. Map-side
    // WindowGroupLimit; the quality-ranked counterpart of q66
    "q84_domain_cap" -> ((s, d) =>
      TextAnalysis.capPerStratum(Tables.documents(s, d), "doc_id", "text",
        "source", k = 25)),

    // q83: one full-data Lloyd k-means step from the fixed first-8
    // centroids — the distributed-clustering refinement Ivf.buildIndex's
    // sample fit seeds. Member means in exact fixed-point (floor to
    // micros, integer sums, one floor division) — bit-identical across
    // engines AND partitionings
    "q83_kmeans_lloyd_step" -> ((s, d) =>
      graft.vector.Kmeans.lloydStepFp(Tables.embeddings(s, d), "vec_id",
        "embedding", ivfCentroids(s, d))
        .orderBy("cell", "dim")),

    // q82: exact Jaccard pairs via PREFIX FILTERING (Bayardo 2007) —
    // same result as q36 from a fundamentally cheaper candidate join
    // (only rarest-first prefixes explode; verification is
    // candidate-sized array_intersect). Same oracle as q36: the output
    // is identical BY DESIGN — result-identity across plans is the test
    "q82_jaccard_prefix_filter" -> ((s, d) =>
      Dedup.ngramJaccardPairsPrefixFromIndex(shingleIdx(s, d),
        threshold = 0.3)),

    // q81: BPE pair statistics — the tokenizer-training primitive
    // (Sennrich 2016 get_stats): freq-weighted adjacent character-pair
    // counts over the word-frequency table, top-50. The iterative merge
    // loop (Bpe.trainMerges) reruns this each round; BpeSpec model-checks
    // the loop against an in-memory reference — this query pins the
    // distributed statistics it argmaxes over
    "q81_bpe_pair_counts" -> ((s, d) =>
      graft.text.Bpe.pairCounts(
        graft.text.Bpe.wordCounts(Tables.documents(s, d), "text")
          .withColumn("syms", graft.text.Bpe.initialSymbols(col("word"))))
        .orderBy(col("pair_count").desc, col("sym_a"), col("sym_b"))
        .limit(50)),

    // §2.8 repair plan as a query (deterministic SQL codegen output)
    "q42_repair_plan" -> ((s, d) => {
      val disc = Differ.findAllDiscrepancies(srcOrders(s, d), tgtOrders(s, d),
        Seq("o_orderkey"))
      Repairer.generateRepairActions(disc, "cdc_data", "orders",
        Seq("o_orderkey"), Seq("o_orderstatus", "o_totalprice"))
        .select(col("priority"), col("action_type"), col("target_key"))
    }),

    // ---- round-19 adversarial corners (q246+): arithmetic overflow,
    // degenerate corpora, confusable evasion, cap truncation, NULL
    // key/field semantics — each aimed at an input regime the 236
    // happy-path rows never reach ------------------------------------

    // q246: BM25 where the fixed-point numerator 22·tf·T·10⁶ exceeds
    // int64 (2.15·10¹⁹ for the alpha term) — the regime Retrieval's
    // DECIMAL(38,0) path exists for. A long-arithmetic engine would
    // wrap silently; the HUGEINT oracle proves the decimal path exact.
    "q246_bm25_overflow" -> ((s, d) =>
      Retrieval.bm25Scores(overflowBm25Corpus(s, d), "doc_id", "text",
        Seq("alpha", "beta"))),

    // q247: EVERY dedup family over an empty corpus and an all-NULL-text
    // corpus — zero pairs, no crash; the all-null corpus also PINS the
    // batch convention that NULL-text docs share one fingerprint group
    // (the streaming path deliberately differs — dedupExactStream gives
    // each null a passthrough key; both are documented choices)
    "q247_dedup_degenerate_empty" -> ((s, d) => {
      val docs = Tables.documents(s, d)
      val empty = docs.filter(col("doc_id") < 0).select("doc_id", "text")
      val nulls = docs.select(col("doc_id"),
        lit(null).cast("string").as("text"))
      dedupFamilyCounts("empty", empty)(s)
        .union(dedupFamilyCounts("all_null", nulls)(s))
    }),

    // q248: the same families over a ONE-document corpus: one group,
    // one survivor, zero pairs from every pair generator
    "q248_dedup_degenerate_single" -> ((s, d) => {
      val docs = Tables.documents(s, d)
      val one = docs
        .join(broadcast(docs.agg(min("doc_id").as("doc_id"))), Seq("doc_id"))
        .select("doc_id", "text")
      dedupFamilyCounts("single", one)(s)
    }),

    // q249: 40 byte-identical documents under distinct ids — every pair
    // generator must emit exactly C(40,2) = 780 pairs at similarity
    // EXACTLY 1 (the integer-set jaccard of identical shingle sets is
    // sz/sz), survivorship keeps exactly one; the embedding-cosine
    // family gets 40 clones of one vector through the block-pair
    // all-pairs kernel
    "q249_dedup_degenerate_identical" -> ((s, d) => {
      val docs = Tables.documents(s, d)
      val base = docs
        .filter(col("text").isNotNull &&
          size(TextAnalysis.tokens(col("text"))) >= 3)
      val baseText = base
        .join(broadcast(base.agg(min("doc_id").as("doc_id"))), Seq("doc_id"))
        .select(col("text").as("__bt"))
      // materialize the 40-row clone corpora ONCE: eight dedup families
      // consume `clones` (and the cosine family `vecClones`), and
      // without the cut each family re-runs the full documents scan +
      // TakeOrdered + broadcast-min join just to rebuild the same 40
      // rows — 8 redundant corpus scans per bench pass (guide §1.2:
      // don't recompute what you already have). The blocks are released
      // by the bench's between-run storage sweep like every other
      // internal checkpoint.
      val clones = docs.orderBy("doc_id").limit(40).select("doc_id")
        .crossJoin(broadcast(baseText))
        .select(col("doc_id"), col("__bt").as("text"))
        .localCheckpoint()
      val emb = Tables.embeddings(s, d)
      val baseVec = emb
        .join(broadcast(emb.agg(min("vec_id").as("vec_id"))), Seq("vec_id"))
        .select(col("embedding").as("__bv"))
      val vecClones = emb.orderBy("vec_id").limit(40).select("vec_id")
        .crossJoin(broadcast(baseVec))
        .select(col("vec_id"), col("__bv").as("embedding"))
        .localCheckpoint()
      val mh = Dedup.minhashVerifiedPairs(clones, "doc_id", "text",
        k = 3, numHashes = 32, bands = 16, threshold = 0.4)
      val jc = Dedup.ngramJaccardPairsPrefix(clones, "doc_id", "text",
        k = 3, threshold = 0.3)
      famCount("exact_groups",
          Dedup.exactDuplicateGroups(clones, "doc_id", "text"))(s)
        .union(famCount("exact_kept",
          Dedup.dedupExact(clones, "doc_id", "text"))(s))
        .union(famCount("minhash_pairs", mh)(s))
        .union(famAgg("minhash_jaccard_ppm",
          mh.agg(coalesce(sum(floor(col("jaccard") * 1000000)), lit(0))
            .cast("long").as("n")))(s))
        .union(famCount("simhash_pairs",
          Dedup.simhashPairs(clones, "doc_id", "text", maxHamming = 3))(s))
        .union(famCount("jaccard_pairs", jc)(s))
        .union(famAgg("jaccard_ppm",
          jc.agg(coalesce(sum(floor(col("jaccard") * 1000000)), lit(0))
            .cast("long").as("n")))(s))
        .union(famCount("cosine_pairs",
          Similarity.exactNearDuplicatePairs(vecClones, "vec_id",
            "embedding", threshold = 0.9))(s))
    }),

    // q250: decontamination vs the Cyrillic-homoglyph evasion — eval
    // docs re-typed with а/е/о/с/р (identical glyphs, different
    // codepoints) carry ZERO raw shingle hits; folding BOTH sides
    // through the confusable table restores every collision, so
    // hits_folded equals the doc's full distinct-shingle count
    "q250_decontaminate_confusable" -> ((s, d) => {
      val docs = Tables.documents(s, d)
      val eval_ = docs
        .filter(col("doc_id") % 101 === 0 && col("text").isNotNull)
        .select(col("doc_id"), col("text"))
      val attacked = eval_.select((col("doc_id") + 10000000L).as("doc_id"),
        translate(col("text"), "aeocp", "аеоср").as("text"))
      val raw = Dedup.contaminationCounts(attacked, eval_,
        "doc_id", "text", k = 8)
      val folded = Dedup.contaminationCounts(
        attacked.withColumn("text", TextAnalysis.confusableFold(col("text"))),
        eval_.withColumn("text", TextAnalysis.confusableFold(col("text"))),
        "doc_id", "text", k = 8)
      attacked.select(col("doc_id"))
        .join(raw.withColumnRenamed("hits", "hits_raw"), Seq("doc_id"), "left")
        .join(folded.withColumnRenamed("hits", "hits_folded"),
          Seq("doc_id"), "left")
        .select(col("doc_id"),
          coalesce(col("hits_raw"), lit(0L)).as("hits_raw"),
          coalesce(col("hits_folded"), lit(0L)).as("hits_folded"))
    }),

    // q251: the funnel cap's bound-vs-exact split as an ORACLE row —
    // 1-day gap sessions at maxStamps=4 guarantee n_truncated > 0 at
    // every tested SF (24/226/2170 sessions past the 2·maxStamps = 8
    // amortized-cut threshold at sf0.001/0.01/0.1), and the batch
    // recomputation (gap islands → exact fold at ≤ 8 step events,
    // (t, idx)-least-4 prefix fold past it) must hash-match DuckDB's
    // chained-min replay of the SAME cut rule, proving the truncated
    // column reports a bound rather than folding it into exact counts
    "q251_funnel_truncation_rollup" -> ((s, d) =>
      graft.analytics.StreamingAnalytics.sessionFunnelRollup(
        Analytics.sessionFunnelCapped(Tables.events(s, d), "user_id",
          "event_type", "ts", "event_id",
          Seq("view", "click", "purchase"), gapUs = 86400000000L,
          maxStamps = 4),
        Seq("view", "click", "purchase"))),

    // q252: tf-idf cosine where w = tf·10⁶ div df reaches 4·10⁹ and
    // both w² (1.6·10¹⁹) and the dot product (1.4·10¹⁹) exceed int64 —
    // the corner that forced the norm/dot arithmetic into
    // DECIMAL(38,0) (a long would wrap; DuckDB BIGINT would error)
    "q252_tfidf_overflow" -> ((s, d) =>
      TextAnalysis.tfidfCosinePairs(overflowTfidfCorpus(s, d),
        "doc_id", "text", topM = 5, threshold = 0.5)),

    // q253: rank quantiles over a single row (every quantile = that
    // row) and over an empty input (NULL values, not a crash) — the
    // degenerate ends of the A10 latency-quantile operator
    "q253_quantiles_degenerate" -> ((s, d) => {
      val ev = Tables.events(s, d)
      val one = ev
        .join(broadcast(ev.agg(min("event_id").as("event_id"))),
          Seq("event_id"))
      Analytics.rankQuantiles(one, "value", Seq(0.5, 0.95, 0.99))
        .union(Analytics.rankQuantiles(ev.filter(lit(false)), "value",
          Seq(0.5)))
    }),

    // q254: reconciliation under NULL keys on BOTH sides — the
    // reference's pre-flight quarantine (differ.py:565-571) counted
    // next to the full-outer's convention that a NULL key matches
    // nothing (each null-key row surfaces as missing/extra, never as a
    // spurious null-null match)
    "q254_differ_null_keys" -> ((s, d) => {
      val src = srcOrders(s, d).withColumn("o_orderkey",
        when(col("o_orderkey") % 13 === 0, lit(null))
          .otherwise(col("o_orderkey")))
      val tgt = tgtOrders(s, d).withColumn("o_orderkey",
        when(col("o_orderkey") % 17 === 0, lit(null))
          .otherwise(col("o_orderkey")))
      Differ.findAllDiscrepancies(src, tgt, Seq("o_orderkey"))
        .groupBy(col("discrepancy_type").as("metric"))
        .agg(count(lit(1)).as("n"))
        .union(Differ.nullKeyRows(src, Seq("o_orderkey"))
          .agg(count(lit(1)).as("n"))
          .select(lit("src_null_keys").as("metric"), col("n")))
        .union(Differ.nullKeyRows(tgt, Seq("o_orderkey"))
          .agg(count(lit(1)).as("n"))
          .select(lit("tgt_null_keys").as("metric"), col("n")))
    }),

    // q255: the comparison kernel's NULL field semantics (reference
    // test_comparer NULL cases): both-NULL compares EQUAL (no diff
    // row), exactly-one-NULL is a named per-field mismatch
    "q255_comparer_null_fields" -> ((s, d) => {
      val src = srcOrders(s, d).withColumn("o_orderstatus",
        when(col("o_orderkey") % 3 === 0, lit(null).cast("string"))
          .otherwise(col("o_orderstatus")))
      val tgt = tgtOrders(s, d).withColumn("o_orderstatus",
        when(col("o_orderkey") % 4 === 0, lit(null).cast("string"))
          .otherwise(col("o_orderstatus")))
      Differ.findMismatchesDetailed(src, tgt, Seq("o_orderkey"))
        .filter(col("field") === "o_orderstatus")
        .select(col("o_orderkey"), col("src_value"), col("tgt_value"))
    }),

    // q257: BM25's degenerate ends — query terms that appear in NO
    // document (every score_fp is 0 and filtered: the engine must not
    // emit zero-score rows or crash on df=0 idf arithmetic) and an
    // empty corpus (the 1-row stats rollup sees n=0)
    "q257_bm25_degenerate" -> ((s, d) => {
      val docs = Tables.documents(s, d)
      famCount("no_hit_terms",
          Retrieval.bm25Scores(docs, "doc_id", "text",
            Seq("zzqqxx", "qqzzyy")))(s)
        .union(famCount("empty_corpus",
          Retrieval.bm25Scores(docs.filter(col("doc_id") < 0),
            "doc_id", "text", Seq("alpha")))(s))
    }),

    // q258: the cap-off parity pin — sessionFunnelCapped with a cap no
    // session reaches must equal the UNCAPPED q186 report exactly
    // (sessions column identical, n_truncated identically 0): the
    // bound-vs-exact split degrades to the exact census when the cap
    // never fires
    "q258_funnel_cap_exact_parity" -> ((s, d) =>
      graft.analytics.StreamingAnalytics.sessionFunnelRollup(
        Analytics.sessionFunnelCapped(Tables.events(s, d), "user_id",
          "event_type", "ts", "event_id",
          Seq("view", "click", "purchase"), gapUs = 1800000000L,
          maxStamps = 1000000),
        Seq("view", "click", "purchase"))),

    // q256: every document truncated BELOW the shingle size k=3 — the
    // whole-text fallback shingle carries the entire pair pipeline, so
    // pairs are exactly the equal-truncation groups (jaccard 1);
    // aggregated to (count, id-checksum) because hot two-token openings
    // fan out large groups
    "q256_short_doc_jaccard" -> ((s, d) => {
      val docs = Tables.documents(s, d).filter(col("text").isNotNull)
        .select(col("doc_id"),
          concat_ws(" ", slice(TextAnalysis.tokens(col("text")), 1, 2))
            .as("text"))
      Dedup.ngramJaccardPairsPrefix(docs, "doc_id", "text",
          k = 3, threshold = 0.9)
        .agg(count(lit(1)).cast("long").as("n_pairs"),
          coalesce(sum(col("id_a") + col("id_b")), lit(0)).cast("long")
            .as("id_checksum"))
    }),
  )

  // ---- q246+ shared derived inputs -------------------------------------

  /** q246's synthetic overflow corpus: three documents of repeated
    * tokens sized so T = 1,400,150 and tf(alpha) = 700,000 push
    * 22·tf·T·10⁶ past int64. Derived from `documents` only for its
    * deterministic id anchor (min doc_id), so the oracle rebuilds the
    * identical corpus. */
  private def overflowBm25Corpus(s: SparkSession, d: String): DataFrame =
    // the giant texts are built from RUNTIME columns (token + count per
    // row), never from literal arguments: `repeat(lit("alpha "), 700000)`
    // is constant-foldable, and Catalyst folded the three ~MB documents
    // into plan literals — measured ~2.8 s of pure driver time per run
    // (plan copies + codegen sources carrying 8 MB of string literal)
    // against ~0.6 s of executor work. With (t, n) as columns the plan
    // stays bytes-small and each executor builds its own document once.
    Tables.documents(s, d).agg(min(col("doc_id")).as("m"))
      .select(explode(array(
        struct((col("m") + 0).as("doc_id"),
          lit("alpha ").as("t1"), lit(700000).as("n1"),
          lit("beta ").as("t2"), lit(100).as("n2")),
        struct((col("m") + 1).as("doc_id"),
          lit("alpha ").as("t1"), lit(400000).as("n1"),
          lit("gamma ").as("t2"), lit(50).as("n2")),
        struct((col("m") + 2).as("doc_id"),
          lit("beta ").as("t1"), lit(300000).as("n1"),
          lit("").as("t2"), lit(0).as("n2")))).as("r"))
      // spread the 3 rows BEFORE the texts materialize: the 1-row
      // aggregate source leaves every document in one partition, so the
      // 1.4M-token tokenize (the query's actual work) ran in a single
      // task (guide §2.5 input skew, parallelized at the row level);
      // the exchange here carries 3 tiny (token, count) rows, not MBs.
      // RANGE partitioning, not hash: murmur3(doc_id) mod 3 can
      // co-locate two of the MB-scale documents (the spread then
      // depends on the corpus's min doc_id); ranges over 3 distinct ids
      // give one document per task deterministically
      .repartitionByRange(3, col("r.doc_id"))
      .select(col("r.doc_id").as("doc_id"),
        concat(expr("repeat(r.t1, r.n1)"), expr("repeat(r.t2, r.n2)"))
          .as("text"))

  /** q252's overflow corpus: rare tokens repeated until the tf-idf
    * micro-weights square past int64 (w up to 4·10⁹). */
  private def overflowTfidfCorpus(s: SparkSession, d: String): DataFrame =
    Tables.documents(s, d).agg(min(col("doc_id")).as("m"))
      .select(explode(array(
        struct((col("m") + 0).as("doc_id"),
          concat(repeat(lit("zuz "), 8000),
            repeat(lit("quux "), 2000)).as("text")),
        struct((col("m") + 1).as("doc_id"),
          concat(repeat(lit("zuz "), 6000),
            repeat(lit("quux "), 4000)).as("text")),
        struct((col("m") + 2).as("doc_id"),
          repeat(lit("frob "), 1000).as("text")))).as("r"))
      .select(col("r.doc_id").as("doc_id"), col("r.text").as("text"))

  /** One `(family, n)` row: the row count of `df` labeled `name`. */
  private def famCount(name: String, df: DataFrame)(
      s: SparkSession): DataFrame =
    famAgg(name, df.agg(count(lit(1)).as("n")))(s)

  /** One `(family, n)` row from a 1-row aggregate with column `n`. */
  private def famAgg(name: String, agg: DataFrame)(
      s: SparkSession): DataFrame =
    agg.select(lit(name).as("family"), col("n").cast("long").as("n"))

  /** The q247/q248 battery: every text-dedup family over one corpus,
    * each result reduced to a labeled row count. */
  private def dedupFamilyCounts(tag: String, corpus: DataFrame)(
      s: SparkSession): DataFrame =
    famCount(s"$tag:exact_groups",
        Dedup.exactDuplicateGroups(corpus, "doc_id", "text"))(s)
      .union(famCount(s"$tag:exact_kept",
        Dedup.dedupExact(corpus, "doc_id", "text"))(s))
      .union(famCount(s"$tag:minhash_pairs",
        Dedup.minhashVerifiedPairs(corpus, "doc_id", "text",
          k = 3, numHashes = 32, bands = 16, threshold = 0.4))(s))
      .union(famCount(s"$tag:simhash_pairs",
        Dedup.simhashPairs(corpus, "doc_id", "text", maxHamming = 3))(s))
      .union(famCount(s"$tag:jaccard_pairs",
        Dedup.ngramJaccardPairsPrefix(corpus, "doc_id", "text",
          k = 3, threshold = 0.3))(s))

  /** Constant query vector for ANN queries: embedding of vec_id = 0
    * (a one-row driver-side lookup — a query parameter, not data flow). */
  private def queryVector(s: SparkSession, d: String): Seq[Double] =
    Tables.embeddings(s, d).filter(col("vec_id") === 0)
      .select(col("embedding").cast("array<double>"))
      .head().getSeq[Double](0).toSeq

  /** Decoded multimodal assets, built once per (session, dir) and
    * lineage-cut (`localCheckpoint`, like [[shingleIdx]]) — q41's frame
    * sampling derives from q40's decode instead of re-decoding (the
    * VERDICT-flagged double-decode). A checkpoint rather than a persist
    * so [[Materialized.sweep]] can see it is a live shared entry and
    * skip it. */
  private def decodedAssets(s: SparkSession, d: String): DataFrame =
    Materialized.shared(s, s"decoded:$d")(Multimodal.decodeAndFeaturize(
      Multimodal.syntheticAssets(Tables.documents(s, d))).localCheckpoint())

  /** Unpersist every block-manager RDD except the live shared entries
    * (the [[shingleIdx]] family, the [[decodedAssets]] decode) — the
    * per-query storage sweep. Query-shaped APIs materialize internal
    * localCheckpoints the caller cannot release through the result
    * alone until its action has run (the q90 postings table, DF-cut
    * shingle tables, the q108 bigram stream, ...); sweeping between
    * timings keeps a long-lived JVM's storage flat instead of
    * accumulating leaked blocks for the life of the session — the
    * measured mechanism behind the round-8 q90 regression. */
  def sweepTransientStorage(spark: SparkSession): Unit = Materialized.sweep(spark)

  /** The shared shingle index for the Jaccard family (q36/q46/q48):
    * built + checkpointed once per (session, dir) — in a persistent
    * pipeline this is a written table. A localCheckpoint has no
    * lineage, so it lives exactly as long as its shared entry. */
  private def shingleIdx(s: SparkSession, d: String): DataFrame =
    Materialized.shared(s, s"shingleIdx:$d")(
      Dedup.shingleIndex(Tables.documents(s, d), "doc_id", "text", k = 3))

  /** q70/q71's synthesized multi-line corpus: the raw text, a
    * per-source footer (cross-document boilerplate by construction),
    * and a per-doc ref line — both engines rebuild it from the same
    * columns, so line dedup is fully oracle-replayable. */
  private def withFooterLines(docs: DataFrame): DataFrame =
    docs.withColumn("text", concat_ws("\n", col("text"),
      concat(lit("all rights reserved - "), col("source")),
      concat(lit("ref "), col("doc_id"))))

  /** q45's fixed centroid set: embeddings of vec_id < 8 (a deterministic
    * choice both engines can re-derive; an 8-row driver-side lookup). */
  private def ivfCentroids(s: SparkSession, d: String): Seq[Seq[Double]] =
    Tables.embeddings(s, d).filter(col("vec_id") < 8).orderBy(col("vec_id"))
      .select(col("embedding").cast("array<double>"))
      .collect().map(_.getSeq[Double](0).toSeq).toSeq

  /** PQ codebooks for q77/q78: the [[ivfCentroids]] vectors cut into 4
    * subspace slices — data-derived, so the oracle rebuilds them from
    * the embeddings table alone. */
  private def pqCodebooks(s: SparkSession, d: String): graft.vector.Pq.Codebooks = {
    val rows = ivfCentroids(s, d)
    val d0 = rows.head.length / 4
    (0 until 4).map(m => rows.map(_.slice(m * d0, (m + 1) * d0)).toSeq)
  }

  // shared q77/q78 oracle fragments: sequential Σ(δ²) fold over a
  // subspace slice (list_zip + list_sum ≡ Spark's zip_with + aggregate,
  // bit-exact), per-subspace argmin code columns, and the
  // left-associated 4-term ADC sum
  private def pqL2Sql(a: String, b: String, lo: Int, hi: Int): String =
    s"list_sum(list_transform(list_zip($a[$lo:$hi], $b[$lo:$hi]), " +
      "p -> (p[1]-p[2])*(p[1]-p[2])))"
  private val pqSubs = Seq((1, 16), (17, 32), (33, 48), (49, 64))
  private def pqCodeColsSql: String =
    pqSubs.zipWithIndex.map { case ((lo, hi), m) =>
      s"(SELECT k FROM cent ORDER BY ${pqL2Sql("v.emb", "cemb", lo, hi)} ASC, k LIMIT 1) AS c$m"
    }.mkString(",\n ")
  private def pqAdistSql: String =
    pqSubs.zipWithIndex.map { case ((lo, hi), m) =>
      s"(SELECT ${pqL2Sql("qe", "cemb", lo, hi)} FROM cent, q WHERE k = codes.c$m)"
    }.mkString("\n + ")

  /** q79's query terms (mid-frequency corpus vocabulary). */
  private val bm25Terms = Seq("vector", "hash", "scan")

  /** The exact all-pairs Jaccard oracle at threshold 0.3 — shared by
    * q36 (full index self-join) and q82 (prefix-filtered plan): both
    * must hash-match this same declarative answer. */
  private val jaccardAllPairsSql03 =
    """WITH t AS (SELECT doc_id, regexp_split_to_array(trim(text), '\s+') AS toks FROM documents),
      |sh AS (SELECT doc_id, unnest(list_distinct(
      |   CASE WHEN len(toks) >= 3
      |     THEN list_transform(generate_series(0, len(toks)-3), i -> array_to_string(toks[i+1:i+3], ' '))
      |     ELSE [array_to_string(toks, ' ')] END)) AS shingle FROM t),
      |sizes AS (SELECT doc_id, count(*) AS sz FROM sh GROUP BY 1),
      |inter AS (SELECT x.doc_id AS id_a, y.doc_id AS id_b, count(*) AS inter
      |  FROM sh x JOIN sh y ON x.shingle = y.shingle AND x.doc_id < y.doc_id
      |  GROUP BY 1, 2)
      |SELECT id_a, id_b,
      |  CAST(inter AS DOUBLE) / (sa.sz + sb.sz - inter) AS jaccard
      |FROM inter
      |JOIN sizes sa ON inter.id_a = sa.doc_id
      |JOIN sizes sb ON inter.id_b = sb.doc_id
      |WHERE CAST(inter AS DOUBLE) / (sa.sz + sb.sz - inter) >= 0.3""".stripMargin

  /** Per-term BM25 oracle fragments: tf/df conditional-agg columns and
    * the fixed-point score term (all-integer; `//` on nonnegative
    * HUGEINTs is floor division, matching Spark's decimal floor-div).
    * Parameterized by term set so multi-ranking queries (q146 RRF) can
    * instantiate several scorings in one statement. */
  private def bm25TfColsSqlFor(terms: Seq[String]): String =
    terms.zipWithIndex.map { case (t, i) =>
      s"sum(CASE WHEN tok = '$t' THEN 1 ELSE 0 END) AS tf$i"
    }.mkString(",\n ")
  private def bm25DfColsSqlFor(terms: Seq[String]): String =
    terms.indices.map { i =>
      s"sum(CASE WHEN tf$i > 0 THEN 1 ELSE 0 END) AS df$i"
    }.mkString(",\n ")
  private def bm25ScoreSqlFor(terms: Seq[String]): String =
    terms.indices.map { i =>
      s"((CAST(floor(ln(2*n+2)*1000000) AS BIGINT) - CAST(floor(ln(2*df$i+1)*1000000) AS BIGINT))" +
        s" * ((CAST(22 AS HUGEINT)*tf$i*t*1000000) // (CAST(10 AS HUGEINT)*t*tf$i + 3*t + 9*dl*n))) // 1000000"
    }.mkString("\n + ")
  private def bm25TfColsSql: String = bm25TfColsSqlFor(bm25Terms)
  private def bm25DfColsSql: String = bm25DfColsSqlFor(bm25Terms)
  private def bm25ScoreSql: String = bm25ScoreSqlFor(bm25Terms)
  /** q146's second query-term set (fused with [[bm25Terms]] via RRF). */
  private val bm25TermsAlt = Seq("merge", "window", "stream")
  /** One BM25 scoring pipeline as CTE text with a name suffix. */
  private def bm25RankCtesFor(terms: Seq[String], sfx: String,
      topN: Int): String =
    s"""pd$sfx AS (SELECT doc_id, count(*) AS dl,
       |  ${bm25TfColsSqlFor(terms)}
       |  FROM b WHERE tok <> '' GROUP BY 1),
       |st$sfx AS (SELECT count(*) AS n, sum(dl) AS t,
       |  ${bm25DfColsSqlFor(terms)}
       |  FROM pd$sfx),
       |sc$sfx AS (SELECT doc_id, CAST(
       |  ${bm25ScoreSqlFor(terms)}
       |  AS BIGINT) AS score_fp FROM pd$sfx, st$sfx),
       |r$sfx AS (SELECT doc_id, r FROM (
       |  SELECT doc_id, row_number() OVER (ORDER BY score_fp DESC, doc_id) AS r
       |  FROM sc$sfx WHERE score_fp > 0) x WHERE r <= $topN)""".stripMargin

  def oracleSql: Map[String, String] = Map(
    // q86: same positional poly-hash grams as q44; boundary positions
    // by the same mod test; chunk spans between consecutive starts;
    // chunk_hash = the polynomial hash of the chunk string
    "q86_content_chunks" ->
      s"""WITH t AS (SELECT doc_id, regexp_split_to_array(trim(text), '\\s+') AS toks
         |  FROM documents WHERE text IS NOT NULL),
         |g AS (SELECT doc_id, toks, list_transform(
         |    CASE WHEN len(toks) >= 3
         |      THEN list_transform(generate_series(0, len(toks)-3), i -> array_to_string(toks[i+1:i+3], ' '))
         |      ELSE [array_to_string(toks, ' ')] END,
         |    tok -> $polyAsql + ($polyBsql << 31)) AS gh FROM t),
         |st AS (SELECT doc_id, toks, list_prepend(CAST(0 AS BIGINT),
         |    list_filter(generate_series(1, len(gh) - 1), i -> gh[i+1] % 8 = 0)) AS starts
         | FROM g),
         |c AS (SELECT doc_id, toks, starts, unnest(generate_series(1, len(starts))) AS ci FROM st),
         |s AS (SELECT doc_id, CAST(ci - 1 AS BIGINT) AS chunk_id,
         |   CAST(starts[ci] AS BIGINT) AS start,
         |   CAST(coalesce(starts[ci+1], len(toks)) - starts[ci] AS BIGINT) AS n_tokens,
         |   array_to_string(toks[starts[ci]+1 : coalesce(starts[ci+1], len(toks))], ' ') AS tok
         | FROM c)
         |SELECT doc_id, chunk_id, start, n_tokens,
         |  $polyAsql + ($polyBsql << 31) AS chunk_hash FROM s""".stripMargin,
    // q95: q44's fingerprint CTE, self-joined on the fingerprint with
    // the same >= 3 shared-count gate
    "q95_winnow_pairs" ->
      s"""WITH t AS (SELECT doc_id, regexp_split_to_array(trim(text), '\\s+') AS toks FROM documents),
         |g AS (SELECT doc_id, list_transform(
         |    CASE WHEN len(toks) >= 4
         |      THEN list_transform(generate_series(0, len(toks)-4), i -> array_to_string(toks[i+1:i+4], ' '))
         |      ELSE [array_to_string(toks, ' ')] END,
         |    tok -> $polyAsql + ($polyBsql << 31)) AS gh FROM t),
         |f AS (SELECT doc_id, unnest(CASE WHEN len(gh) >= 4
         |    THEN list_distinct(list_transform(generate_series(0, len(gh)-4), i -> list_min(gh[i+1:i+4])))
         |    ELSE [list_min(gh)] END) AS fp FROM g)
         |SELECT x.doc_id AS id_a, y.doc_id AS id_b,
         |  count(*) AS shared_fingerprints
         |FROM f x JOIN f y ON x.fp = y.fp AND x.doc_id < y.doc_id
         |GROUP BY 1, 2 HAVING count(*) >= 3""".stripMargin,

    // q94: the generator's pixel formula replayed per (x, y) — dims
    // 8 + id % 24 by 8 + id % 16, rgb = (id + 31x + 17y) & 0xffffff
    "q94_image_pixel_stats" ->
      """WITH a AS (SELECT doc_id, 8 + doc_id % 24 AS w, 8 + doc_id % 16 AS h
        |  FROM documents WHERE doc_id % 3 = 0),
        |px AS (SELECT doc_id, unnest(generate_series(0, w - 1)) AS x, h FROM a),
        |py AS (SELECT doc_id, x, unnest(generate_series(0, h - 1)) AS y FROM px),
        |v AS (SELECT doc_id, (doc_id + x * 31 + y * 17) & 16777215 AS rgb FROM py)
        |SELECT doc_id AS asset_id, count(*) AS n_pixels,
        |  CAST(sum((rgb >> 16) & 255) AS BIGINT) AS sum_r,
        |  CAST(sum((rgb >> 8) & 255) AS BIGINT) AS sum_g,
        |  CAST(sum(rgb & 255) AS BIGINT) AS sum_b
        |FROM v GROUP BY 1 ORDER BY 1""".stripMargin,

    // q93: the generator's PCM formula replayed per sample — duration
    // 50 + (id*37) % 2000 ms at 8 frames/ms, sample = ((id*31 + i*7) &
    // 0xffff) - 32768 — and the same integer statistics rolled up
    "q93_audio_features" ->
      """WITH a AS (SELECT doc_id, 50 + (doc_id * 37) % 2000 AS dur_ms
        |  FROM documents WHERE doc_id % 3 = 1),
        |s AS (SELECT doc_id, unnest(generate_series(0, dur_ms * 8 - 1)) AS i FROM a),
        |v AS (SELECT doc_id, ((doc_id * 31 + i * 7) & 65535) - 32768 AS smp FROM s)
        |SELECT doc_id AS asset_id, count(*) AS n_samples,
        |  CAST(max(abs(smp)) AS BIGINT) AS peak_abs,
        |  CAST(sum(abs(smp)) AS BIGINT) AS sum_abs,
        |  CAST(sum(smp * smp) AS BIGINT) AS sum_sq
        |FROM v GROUP BY 1 ORDER BY 1""".stripMargin,

    // q91: the same star join declaratively; revenue = decimal(18,6)
    // sum cast back (q1's parity rule)
    "q91_revenue_by_nation" ->
      """SELECT n_name,
        | CAST(sum(CAST(l_extendedprice * (1.0 - l_discount) AS DECIMAL(18,6))) AS DOUBLE) AS revenue,
        | count(*) AS line_count
        |FROM lineitem
        |JOIN orders ON l_orderkey = o_orderkey
        |JOIN customer ON o_custkey = c_custkey
        |JOIN nation ON c_nationkey = n_nationkey
        |WHERE o_orderdate >= TIMESTAMP '1996-01-01' AND o_orderdate < TIMESTAMP '1997-01-01'
        |GROUP BY n_name ORDER BY revenue DESC, n_name""".stripMargin,
    // q92: pre-aggregated supplier revenue + dim join + top-10
    "q92_top_suppliers" ->
      """WITH rev AS (SELECT l_suppkey,
        |   CAST(sum(CAST(l_extendedprice * (1.0 - l_discount) AS DECIMAL(18,6))) AS DOUBLE) AS total_revenue
        | FROM lineitem
        | WHERE l_shipdate >= TIMESTAMP '1996-01-01' AND l_shipdate < TIMESTAMP '1996-04-01'
        | GROUP BY 1)
        |SELECT s_suppkey, s_name, total_revenue
        |FROM rev JOIN supplier ON l_suppkey = s_suppkey
        |ORDER BY total_revenue DESC, s_suppkey LIMIT 10""".stripMargin,
    // q111: Q7 shape — both nation legs from one 2-row slice, the
    // bilateral pair disjunction, ship-year extraction, decimal revenue
    "q111_volume_shipping" ->
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
        |GROUP BY 1, 2, 3 ORDER BY 1, 2, 3""".stripMargin,
    // q112: Q8 shape — the share as a conditional decimal sum over the
    // same rows as the total (one aggregate), ONE IEEE division
    "q112_market_share" ->
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
        |FROM l GROUP BY 1 ORDER BY 1""".stripMargin,
    // q113: Q9 shape (no partsupp leg in this schema) — name-contains
    // part slice, supplier nation, order year, decimal revenue
    "q113_product_revenue" ->
      """SELECT n_name AS nation, CAST(year(o_orderdate) AS INTEGER) AS o_year,
        |  CAST(sum(CAST(l_extendedprice * (1.0 - l_discount) AS DECIMAL(18,6))) AS DOUBLE) AS sum_profit
        |FROM lineitem
        |JOIN part ON l_partkey = p_partkey
        |JOIN supplier ON l_suppkey = s_suppkey
        |JOIN nation ON s_nationkey = n_nationkey
        |JOIN orders ON l_orderkey = o_orderkey
        |WHERE contains(p_name, 'ring')
        |GROUP BY 1, 2 ORDER BY nation, o_year DESC""".stripMargin,
    // q114: Q19 shape — the OR'd (brand, size, quantity) brackets,
    // coalesced to 0 when nothing qualifies
    "q114_bracket_revenue" ->
      """SELECT COALESCE(CAST(sum(CAST(l_extendedprice * (1.0 - l_discount) AS DECIMAL(18,6))) AS DOUBLE), 0.0) AS revenue
        |FROM lineitem JOIN part ON l_partkey = p_partkey
        |WHERE (p_brand = 'Brand#4' AND p_size BETWEEN 1 AND 15
        |    AND l_quantity BETWEEN 1 AND 20)
        |  OR (p_brand = 'Brand#2' AND p_size BETWEEN 10 AND 30
        |    AND l_quantity BETWEEN 5 AND 30)
        |  OR (p_brand = 'Brand#19' AND p_size BETWEEN 20 AND 50
        |    AND l_quantity BETWEEN 10 AND 40)""".stripMargin,
    // q96: Q3 shape — same pruned scans, segment IN-subquery for the
    // semi-join, decimal revenue, l_orderkey tiebreak into the limit
    "q96_shipping_priority" ->
      """WITH o AS (SELECT o_orderkey, o_custkey, o_orderdate, o_orderpriority
        |  FROM orders WHERE o_orderdate < TIMESTAMP '1996-06-01'),
        |l AS (SELECT l_orderkey, l_extendedprice, l_discount
        |  FROM lineitem WHERE l_shipdate > TIMESTAMP '1996-06-01')
        |SELECT l_orderkey, strftime(o_orderdate, '%Y-%m-%d') AS order_date,
        |  o_orderpriority,
        |  CAST(sum(CAST(l_extendedprice * (1.0 - l_discount) AS DECIMAL(18,6))) AS DOUBLE) AS revenue
        |FROM l JOIN o ON l_orderkey = o_orderkey
        |WHERE o_custkey IN (SELECT c_custkey FROM customer WHERE c_mktsegment = 'BUILDING')
        |GROUP BY 1, 2, 3 ORDER BY revenue DESC, l_orderkey LIMIT 10""".stripMargin,
    // q97: Q10 shape — flag+date-pruned fact, per-customer rollup, then
    // the customer/nation attributes
    "q97_returned_customers" ->
      """WITH o AS (SELECT o_orderkey, o_custkey FROM orders
        |  WHERE o_orderdate >= TIMESTAMP '1996-01-01' AND o_orderdate < TIMESTAMP '1996-04-01'),
        |rev AS (SELECT o_custkey,
        |   CAST(sum(CAST(l_extendedprice * (1.0 - l_discount) AS DECIMAL(18,6))) AS DOUBLE) AS revenue
        | FROM lineitem JOIN o ON l_orderkey = o_orderkey
        | WHERE l_returnflag = 'R' GROUP BY 1)
        |SELECT c_custkey, c_name, revenue, c_acctbal, n_name
        |FROM rev JOIN customer ON o_custkey = c_custkey
        |JOIN nation ON c_nationkey = n_nationkey
        |ORDER BY revenue DESC, c_custkey LIMIT 20""".stripMargin,
    // q101: Q4 shape — EXISTS semi-join + priority rollup
    "q101_priority_returns" ->
      """SELECT o_orderpriority, count(*) AS n_orders
        |FROM orders
        |WHERE o_orderdate >= TIMESTAMP '1996-01-01' AND o_orderdate < TIMESTAMP '1996-07-01'
        |  AND EXISTS (SELECT 1 FROM lineitem
        |              WHERE l_orderkey = o_orderkey AND l_returnflag = 'R')
        |GROUP BY 1""".stripMargin,
    // q102: the q33/q64 integer quality-ppm ladder, fed through q9's
    // exact-rank quantile pick (ceil-rank, 1-based, doc_id-free — the
    // value column is the ppm itself so ranks are well-defined)
    "q102_quality_quantiles" ->
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
         |UNION ALL SELECT CAST(0.95 AS DOUBLE), v FROM ranked, n WHERE rn = greatest(1, CAST(ceil(0.95 * c) AS BIGINT))""".stripMargin,
    // q103: Q13 shape — per-customer order counts, LEFT join keeps the
    // zero-order customers, second rollup is the distribution
    "q103_customer_distribution" ->
      """WITH pc AS (SELECT o_custkey, count(*) AS n FROM orders
        |  WHERE o_orderpriority <> '1-URGENT' GROUP BY 1)
        |SELECT coalesce(n, 0) AS c_count, count(*) AS custdist
        |FROM customer LEFT JOIN pc ON c_custkey = o_custkey
        |GROUP BY 1 ORDER BY custdist DESC, c_count DESC""".stripMargin,
    // q104: Q14 shape — month-pruned fact, promo flag from part, two
    // exact decimal sums, one final division
    "q104_promo_revenue" ->
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
    // q105: Q18 shape — HAVING rollup on the fact first, then the
    // order/customer attributes, quantity tiebreak into the limit
    "q105_large_volume_customers" ->
      """WITH q AS (SELECT l_orderkey, sum(CAST(l_quantity AS DECIMAL(18,2))) AS tq
        |  FROM lineitem GROUP BY 1
        |  HAVING sum(CAST(l_quantity AS DECIMAL(18,2))) > 250)
        |SELECT c_custkey, c_name, o_orderkey,
        |  strftime(o_orderdate, '%Y-%m-%d') AS order_date, o_totalprice,
        |  CAST(tq AS DOUBLE) AS total_quantity
        |FROM q JOIN orders ON l_orderkey = o_orderkey
        |JOIN customer ON o_custkey = c_custkey
        |ORDER BY total_quantity DESC, o_orderkey LIMIT 20""".stripMargin,
    // q106: Q22 shape — cross-multiplied mean-balance compare (bal·n >
    // Σbal, exact decimal), NOT EXISTS over the order window
    "q106_sales_opportunity" ->
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
    // q107: Q17 shape — per-part rollup replaces the correlated scalar
    // subquery; the threshold cross-multiplies (5·qty·n < Σqty) so no
    // float average exists in either engine
    "q107_small_quantity_revenue" ->
      """WITH l AS (SELECT l_partkey, l_quantity, l_extendedprice FROM lineitem
        |  WHERE l_partkey IN (SELECT p_partkey FROM part WHERE p_brand = 'Brand#4')),
        |st AS (SELECT l_partkey AS pk, sum(CAST(l_quantity AS DECIMAL(18,2))) AS qsum,
        |    count(*) AS n FROM l GROUP BY 1)
        |SELECT CAST(coalesce(sum(CAST(l_extendedprice AS DECIMAL(18,2))),
        |    CAST(0 AS DECIMAL(18,2))) AS DOUBLE) / 7.0 AS avg_weekly_revenue
        |FROM l JOIN st ON l_partkey = pk
        |WHERE CAST(l_quantity AS DECIMAL(18,2)) * 5 * n < qsum""".stripMargin,

    // q90: postings, per-doc lengths, corpus totals, per-token df, and
    // the query-term table all as CTEs; same fixed-point score as q79
    // per (query, doc, term); per-query rank cut at 3
    "q90_bm25_batch" ->
      """WITH b AS (SELECT doc_id, unnest(regexp_split_to_array(trim(text), '\s+')) AS tok
        |  FROM documents WHERE text IS NOT NULL),
        |p AS (SELECT tok AS token, doc_id, count(*) AS tf FROM b WHERE tok <> '' GROUP BY 1, 2),
        |dlt AS (SELECT doc_id, sum(tf) AS dlv FROM p GROUP BY 1),
        |tot AS (SELECT count(*) AS n, sum(dlv) AS t FROM dlt),
        |dft AS (SELECT token, count(*) AS df FROM p GROUP BY 1),
        |qt AS (SELECT DISTINCT doc_id AS qid, tok AS token FROM (
        |   SELECT doc_id, unnest(regexp_split_to_array(trim(text), '\s+')) AS tok
        |   FROM documents WHERE doc_id % 97 = 0 AND text IS NOT NULL) WHERE tok <> ''),
        |s AS (SELECT qt.qid, p.doc_id,
        |  ((CAST(floor(ln(2*n+2)*1000000) AS BIGINT) - CAST(floor(ln(2*df+1)*1000000) AS BIGINT))
        |   * ((CAST(22 AS HUGEINT)*tf*t*1000000) // (CAST(10 AS HUGEINT)*t*tf + 3*t + 9*dlv*n))) // 1000000 AS sc
        | FROM p JOIN qt ON p.token = qt.token
        |   JOIN dft ON p.token = dft.token
        |   JOIN dlt ON p.doc_id = dlt.doc_id, tot),
        |g AS (SELECT qid, doc_id, CAST(sum(sc) AS BIGINT) AS score_fp
        | FROM s GROUP BY 1, 2 HAVING sum(sc) > 0),
        |r AS (SELECT qid, doc_id, score_fp,
        |  row_number() OVER (PARTITION BY qid ORDER BY score_fp DESC, doc_id) AS rn FROM g)
        |SELECT qid AS query_id, doc_id, score_fp FROM r WHERE rn <= 3""".stripMargin,

    // q88: the q86 chunk CTEs, then per-(hash, doc) pre-distinct and
    // the cross-doc rollup with the same minDocs/minTokens gates
    "q88_duplicated_chunks" ->
      s"""WITH t AS (SELECT doc_id, regexp_split_to_array(trim(text), '\\s+') AS toks
         |  FROM documents WHERE text IS NOT NULL),
         |g AS (SELECT doc_id, toks, list_transform(
         |    CASE WHEN len(toks) >= 3
         |      THEN list_transform(generate_series(0, len(toks)-3), i -> array_to_string(toks[i+1:i+3], ' '))
         |      ELSE [array_to_string(toks, ' ')] END,
         |    tok -> $polyAsql + ($polyBsql << 31)) AS gh FROM t),
         |st AS (SELECT doc_id, toks, list_prepend(CAST(0 AS BIGINT),
         |    list_filter(generate_series(1, len(gh) - 1), i -> gh[i+1] % 8 = 0)) AS starts
         | FROM g),
         |c AS (SELECT doc_id, toks, starts, unnest(generate_series(1, len(starts))) AS ci FROM st),
         |s AS (SELECT doc_id,
         |   CAST(coalesce(starts[ci+1], len(toks)) - starts[ci] AS BIGINT) AS n_tokens,
         |   array_to_string(toks[starts[ci]+1 : coalesce(starts[ci+1], len(toks))], ' ') AS tok
         | FROM c),
         |h AS (SELECT doc_id, $polyAsql + ($polyBsql << 31) AS chunk_hash
         | FROM s WHERE n_tokens >= 2),
         |p AS (SELECT chunk_hash, doc_id, count(*) AS c FROM h GROUP BY 1, 2)
         |SELECT chunk_hash, count(*) AS n_docs, CAST(sum(c) AS BIGINT) AS n_occurrences
         |FROM p GROUP BY 1 HAVING count(*) >= 2""".stripMargin,
    // q89: the q13 full-outer shape on fingerprints of the two derived
    // snapshots
    "q89_corpus_snapshot_diff" ->
      s"""WITH a AS (SELECT doc_id, $fingerprintSql AS fp FROM documents),
         |b AS (SELECT doc_id, sha256(regexp_replace(lower(trim(
         |    CASE WHEN doc_id % 13 = 0 THEN text || ' updated' ELSE text END)),
         |    '\\s+', ' ', 'g')) AS fp
         |  FROM documents WHERE doc_id % 17 <> 0)
         |SELECT coalesce(a.doc_id, b.doc_id) AS doc_id,
         |  a.fp AS src_fp, b.fp AS tgt_fp,
         |  CASE WHEN b.doc_id IS NULL THEN 'missing_in_target'
         |       WHEN a.doc_id IS NULL THEN 'extra_in_target'
         |       WHEN a.fp <> b.fp THEN 'mismatch' ELSE 'match' END AS discrepancy_type
         |FROM a FULL OUTER JOIN b ON a.doc_id = b.doc_id
         |WHERE NOT (a.doc_id IS NOT NULL AND b.doc_id IS NOT NULL AND a.fp = b.fp)""".stripMargin,

    // q87: the q36-shaped candidate CTE at 0.4, then DuckDB's own
    // levenshtein over identically normalized text
    "q87_editdist_pairs" ->
      """WITH t AS (SELECT doc_id, regexp_split_to_array(trim(text), '\s+') AS toks FROM documents),
        |sh AS (SELECT doc_id, unnest(list_distinct(
        |   CASE WHEN len(toks) >= 3
        |     THEN list_transform(generate_series(0, len(toks)-3), i -> array_to_string(toks[i+1:i+3], ' '))
        |     ELSE [array_to_string(toks, ' ')] END)) AS shingle FROM t),
        |sizes AS (SELECT doc_id, count(*) AS sz FROM sh GROUP BY 1),
        |inter AS (SELECT x.doc_id AS id_a, y.doc_id AS id_b, count(*) AS inter
        |  FROM sh x JOIN sh y ON x.shingle = y.shingle AND x.doc_id < y.doc_id
        |  GROUP BY 1, 2),
        |p AS (SELECT id_a, id_b FROM inter
        |  JOIN sizes sa ON inter.id_a = sa.doc_id
        |  JOIN sizes sb ON inter.id_b = sb.doc_id
        |  WHERE CAST(inter AS DOUBLE) / (sa.sz + sb.sz - inter) >= 0.4),
        |n AS (SELECT doc_id, lower(regexp_replace(trim(text), '\s+', ' ', 'g')) AS nt FROM documents)
        |SELECT p.id_a, p.id_b,
        |  CAST(levenshtein(na.nt, nb.nt) AS BIGINT) AS edit_distance
        |FROM p JOIN n na ON p.id_a = na.doc_id JOIN n nb ON p.id_b = nb.doc_id
        |WHERE levenshtein(na.nt, nb.nt) <= 60""".stripMargin,

    // q85: q45's cell assignment, all within-cell directed pairs, rank
    // by (cosine desc, nbr) per source vector, keep 3
    "q85_knn_graph" ->
      """WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS emb FROM embeddings),
        |cent AS (SELECT vec_id AS k, emb AS cemb FROM e WHERE vec_id < 8),
        |assign AS (SELECT v.vec_id, v.emb,
        |  (SELECT k FROM cent ORDER BY list_cosine_similarity(v.emb, cemb) DESC, k LIMIT 1) AS cell
        |  FROM e v),
        |p AS (SELECT a.vec_id AS src_id, b.vec_id AS nbr_id,
        |   round(list_cosine_similarity(a.emb, b.emb), 6) AS cosine
        | FROM assign a JOIN assign b ON a.cell = b.cell AND a.vec_id <> b.vec_id),
        |r AS (SELECT src_id, nbr_id, cosine,
        |  row_number() OVER (PARTITION BY src_id ORDER BY cosine DESC, nbr_id) AS rn
        | FROM p)
        |SELECT src_id, nbr_id, cosine FROM r WHERE rn <= 3""".stripMargin,

    // q84: q33's integer-ppm quality replayed, then a per-source
    // row_number cap in (quality desc, doc_id) order
    "q84_domain_cap" ->
      s"""WITH t AS (SELECT doc_id, source, text, $tokensSql AS toks
         |  FROM documents WHERE text IS NOT NULL),
         |m AS (SELECT doc_id, source,
         |  CAST(len(toks) AS BIGINT) AS n_tokens,
         |  greatest(CAST(len(toks) AS BIGINT), 1) AS toks_n,
         |  CAST(len(list_filter(toks, x -> x IN ($enStop))) AS BIGINT) AS sw,
         |  CAST(len(regexp_extract_all(text, '[.,!?;:]')) AS DOUBLE)
         |    / greatest(length(text), 1) AS punct_ratio
         | FROM t),
         |q AS (SELECT doc_id, source,
         | CAST(least(n_tokens, 100) * 4000
         |   + (CASE WHEN punct_ratio < CAST(0.2 AS DOUBLE) THEN 300000 ELSE 90000 END)
         |   + ((least((sw * 5000000) // toks_n, 1000000) * 3) // 10)
         |  AS DOUBLE) / CAST(1000000.0 AS DOUBLE) AS quality
         |FROM m),
         |r AS (SELECT doc_id, source, quality,
         |  row_number() OVER (PARTITION BY source ORDER BY quality DESC, doc_id) AS rn
         | FROM q)
         |SELECT doc_id, source, quality FROM r WHERE rn <= 25""".stripMargin,

    // q83: q45's cell assignment, then per-(cell, dim) fixed-point
    // means — floor(x·1e6) components, integer sums, floor division by
    // the member count (((sx % n) + n) % n is the nonneg mod = Spark's
    // pmod, so negative sums floor identically)
    "q83_kmeans_lloyd_step" ->
      """WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS emb FROM embeddings),
        |cent AS (SELECT vec_id AS k, emb AS cemb FROM e WHERE vec_id < 8),
        |assign AS (SELECT v.vec_id, v.emb,
        |  (SELECT k FROM cent ORDER BY list_cosine_similarity(v.emb, cemb) DESC, k LIMIT 1) AS cell
        |  FROM e v),
        |d AS (SELECT cell, unnest(list_transform(generate_series(1, len(emb)),
        |   i -> struct_pack(dim := i, x := CAST(floor(emb[i] * 1000000) AS BIGINT)))) AS p
        | FROM assign),
        |s AS (SELECT CAST(cell AS INT) AS cell, CAST(p.dim AS BIGINT) AS dim,
        |   sum(p.x) AS sx, count(*) AS n FROM d GROUP BY 1, 2)
        |SELECT cell, dim,
        |  CAST((sx - (((sx % n) + n) % n)) / n AS BIGINT) AS centroid_fp,
        |  CAST(CAST((sx - (((sx % n) + n) % n)) / n AS BIGINT) AS DOUBLE) / 1000000.0 AS centroid
        |FROM s ORDER BY cell, dim""".stripMargin,

    // q79: the oracle replays the one-pass profile (dl + per-term tf),
    // the 1-row stats rollup, and the same fixed-point score arithmetic
    "q79_bm25_topk" ->
      s"""WITH b AS (SELECT doc_id, unnest(regexp_split_to_array(trim(text), '\\s+')) AS tok
         |  FROM documents WHERE text IS NOT NULL),
         |pd AS (SELECT doc_id, count(*) AS dl,
         |  $bm25TfColsSql
         |  FROM b WHERE tok <> '' GROUP BY 1),
         |st AS (SELECT count(*) AS n, sum(dl) AS t,
         |  $bm25DfColsSql
         |  FROM pd),
         |sc AS (SELECT doc_id, CAST(
         |  $bm25ScoreSql
         |  AS BIGINT) AS score_fp FROM pd, st)
         |SELECT doc_id, score_fp, CAST(score_fp AS DOUBLE)/1000000.0 AS score
         |FROM sc WHERE score_fp > 0 ORDER BY score_fp DESC, doc_id LIMIT 20""".stripMargin,
    // q80: the oracle lays the corpus on one global (coin, id) window —
    // exclusive running token sum = each doc's start offset — and cuts
    // shards by integer division, pinning the bucketed decomposition
    "q80_shard_assign" ->
      s"""WITH t AS (SELECT doc_id,
         |   len(regexp_split_to_array(trim(text), '\\s+')) AS n_tokens,
         |   CAST(doc_id AS VARCHAR) || '#shard' AS tok
         | FROM documents WHERE text IS NOT NULL),
         |h AS (SELECT doc_id, n_tokens,
         |   ($polyAsql + ($polyBsql << 31)) % 1000000 AS coin FROM t),
         |c AS (SELECT doc_id, n_tokens,
         |   coalesce(sum(n_tokens) OVER (ORDER BY coin, doc_id
         |     ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS strt
         | FROM h)
         |SELECT doc_id, CAST(n_tokens AS BIGINT) AS n_tokens,
         |  CAST(strt // 2000 AS BIGINT) AS shard_id FROM c""".stripMargin,
    // q81: the oracle rebuilds the word-frequency table, chars via
    // string_split (empty-filtered, the polySql guard), and every
    // adjacent position i -> (syms[i], syms[i+1]) — overlap included
    "q81_bpe_pair_counts" ->
      """WITH w AS (SELECT tok AS word, count(*) AS freq FROM (
        |   SELECT unnest(regexp_split_to_array(trim(text), '\s+')) AS tok
        |   FROM documents WHERE text IS NOT NULL) WHERE tok <> '' GROUP BY 1),
        |s AS (SELECT freq, list_filter(string_split(word, ''), c -> c <> '') AS syms FROM w),
        |p AS (SELECT freq, unnest(list_transform(generate_series(1, len(syms) - 1),
        |   i -> struct_pack(sym_a := syms[i], sym_b := syms[i + 1]))) AS pr
        | FROM s WHERE len(syms) >= 2)
        |SELECT pr.sym_a AS sym_a, pr.sym_b AS sym_b,
        |  CAST(sum(freq) AS BIGINT) AS pair_count
        |FROM p GROUP BY 1, 2 ORDER BY pair_count DESC, sym_a, sym_b LIMIT 50""".stripMargin,
    "q1_pricing_summary" ->
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
    "q2_daily_order_summary" ->
      """SELECT strftime(o_orderdate, '%Y-%m-%d') AS order_day, o_orderstatus,
        | count(*) AS order_count,
        | CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS total_amount,
        | CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) / count(*) AS avg_amount,
        | min(o_totalprice) AS min_amount, max(o_totalprice) AS max_amount
        |FROM orders GROUP BY 1, 2""".stripMargin,
    "q3_product_inventory" ->
      """SELECT p_partkey, p_name, p_retailprice,
        | count(l_quantity) AS item_count,
        | coalesce(CAST(sum(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE), 0.0) AS total_quantity
        |FROM part LEFT JOIN lineitem ON p_partkey = l_partkey
        |GROUP BY 1, 2, 3""".stripMargin,
    "q4_ref_integrity" ->
      """SELECT o_orderkey,
        | CASE WHEN c_custkey IS NULL THEN 'orphan' ELSE 'ok' END AS customer_link,
        | coalesce(item_count, 0) AS item_count
        |FROM orders
        |LEFT JOIN customer ON o_custkey = c_custkey
        |LEFT JOIN (SELECT l_orderkey, count(*) AS item_count FROM lineitem GROUP BY 1) li
        |  ON o_orderkey = li.l_orderkey""".stripMargin,
    "q5_validation_summary" ->
      s"""WITH src AS ($srcSql), tgt AS ($tgtSql),
         |checks(check_name, expected, actual) AS (
         | SELECT 'orders_count', CAST((SELECT count(*) FROM src) AS DOUBLE), CAST((SELECT count(*) FROM tgt) AS DOUBLE)
         | UNION ALL SELECT 'orders_revenue', (SELECT CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) FROM src), (SELECT CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) FROM tgt)
         | UNION ALL SELECT 'customer_count', CAST((SELECT count(*) FROM customer) AS DOUBLE), CAST((SELECT count(*) FROM customer) AS DOUBLE)
         | UNION ALL SELECT 'lineitem_count', CAST((SELECT count(*) FROM lineitem) AS DOUBLE), CAST((SELECT count(*) FROM lineitem) AS DOUBLE)
         | UNION ALL SELECT 'events_count', CAST((SELECT count(*) FROM events) AS DOUBLE), CAST((SELECT count(*) FROM events) AS DOUBLE))
         |SELECT check_name, expected, actual,
         | CASE WHEN abs(expected - actual) <= 0.01 THEN 'PASS' ELSE 'FAIL' END AS status
         |FROM checks""".stripMargin,
    "q6_top_orders" ->
      "SELECT o_orderkey, o_totalprice FROM orders ORDER BY o_totalprice DESC, o_orderkey LIMIT 10",
    "q7_latest_event_per_user" ->
      """SELECT user_id, event_id, event_type, value FROM (
        | SELECT user_id, event_id, event_type, value,
        |  row_number() OVER (PARTITION BY user_id ORDER BY ts DESC, event_id DESC) AS rn
        | FROM events) WHERE rn = 1""".stripMargin,
    "q8_daily_event_rollup" ->
      """SELECT strftime(ts, '%Y-%m-%d') AS event_day, event_type, count(*) AS n,
        | CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS total_value
        |FROM events GROUP BY 1, 2""".stripMargin,
    "q9_value_quantiles" ->
      """WITH ranked AS (SELECT value AS v, row_number() OVER (ORDER BY value) AS rn FROM events),
        | n AS (SELECT count(*) AS c FROM events)
        |SELECT CAST(0.5 AS DOUBLE) AS quantile, v AS value FROM ranked, n WHERE rn = greatest(1, CAST(ceil(0.5 * c) AS BIGINT))
        |UNION ALL SELECT CAST(0.95 AS DOUBLE), v FROM ranked, n WHERE rn = greatest(1, CAST(ceil(0.95 * c) AS BIGINT))
        |UNION ALL SELECT CAST(0.99 AS DOUBLE), v FROM ranked, n WHERE rn = greatest(1, CAST(ceil(0.99 * c) AS BIGINT))""".stripMargin,
    "q10_missing_in_target" ->
      s"""WITH src AS ($srcSql), tgt AS ($tgtSql)
         |SELECT * FROM src WHERE o_orderkey NOT IN (SELECT o_orderkey FROM tgt)""".stripMargin,
    "q11_extra_in_target" ->
      s"""WITH src AS ($srcSql), tgt AS ($tgtSql)
         |SELECT * FROM tgt WHERE o_orderkey NOT IN (SELECT o_orderkey FROM src)""".stripMargin,
    "q12_mismatches" ->
      s"""WITH src AS ($srcSql), tgt AS ($tgtSql)
         |SELECT s.o_orderkey,
         | s.o_orderstatus AS src_o_orderstatus, s.o_totalprice AS src_o_totalprice,
         | t.o_orderstatus AS tgt_o_orderstatus, t.o_totalprice AS tgt_o_totalprice
         |FROM src s JOIN tgt t ON s.o_orderkey = t.o_orderkey
         |WHERE NOT ((s.o_orderstatus IS NOT DISTINCT FROM t.o_orderstatus)
         |  AND ${eqDoubleSql("s.o_totalprice", "t.o_totalprice")})""".stripMargin,
    "q13_all_discrepancies" ->
      s"""WITH src AS ($srcSql), tgt AS ($tgtSql)
         |SELECT coalesce(s.o_orderkey, t.o_orderkey) AS o_orderkey,
         | s.o_orderstatus AS src_o_orderstatus, s.o_totalprice AS src_o_totalprice,
         | t.o_orderstatus AS tgt_o_orderstatus, t.o_totalprice AS tgt_o_totalprice,
         | CASE WHEN t.o_orderkey IS NULL THEN 'missing_in_target'
         |      WHEN s.o_orderkey IS NULL THEN 'extra_in_target'
         |      WHEN NOT ((s.o_orderstatus IS NOT DISTINCT FROM t.o_orderstatus)
         |        AND ${eqDoubleSql("s.o_totalprice", "t.o_totalprice")}) THEN 'mismatch'
         |      ELSE 'match' END AS discrepancy_type
         |FROM src s FULL OUTER JOIN tgt t ON s.o_orderkey = t.o_orderkey
         |WHERE NOT (t.o_orderkey IS NOT NULL AND s.o_orderkey IS NOT NULL
         |  AND (s.o_orderstatus IS NOT DISTINCT FROM t.o_orderstatus)
         |  AND ${eqDoubleSql("s.o_totalprice", "t.o_totalprice")})""".stripMargin,
    "q14_discrepancy_summary" ->
      s"""WITH src AS ($srcSql), tgt AS ($tgtSql)
         |SELECT CASE WHEN t.o_orderkey IS NULL THEN 'missing_in_target'
         |      WHEN s.o_orderkey IS NULL THEN 'extra_in_target'
         |      WHEN NOT ((s.o_orderstatus IS NOT DISTINCT FROM t.o_orderstatus)
         |        AND ${eqDoubleSql("s.o_totalprice", "t.o_totalprice")}) THEN 'mismatch'
         |      ELSE 'match' END AS discrepancy_type, count(*) AS n
         |FROM src s FULL OUTER JOIN tgt t ON s.o_orderkey = t.o_orderkey
         |GROUP BY 1""".stripMargin,
    "q15_match_percentage" ->
      s"""WITH src AS ($srcSql), tgt AS ($tgtSql),
         |d AS (SELECT CASE WHEN t.o_orderkey IS NULL THEN 'missing_in_target'
         |      WHEN s.o_orderkey IS NULL THEN 'extra_in_target'
         |      WHEN NOT ((s.o_orderstatus IS NOT DISTINCT FROM t.o_orderstatus)
         |        AND ${eqDoubleSql("s.o_totalprice", "t.o_totalprice")}) THEN 'mismatch'
         |      ELSE 'match' END AS t
         |  FROM src s FULL OUTER JOIN tgt t ON s.o_orderkey = t.o_orderkey)
         |SELECT round(CAST(sum(CASE WHEN t = 'match' THEN 1 ELSE 0 END) AS DOUBLE)
         |  / sum(CASE WHEN t <> 'extra_in_target' THEN 1 ELSE 0 END) * 100.0, 2) AS match_pct
         |FROM d""".stripMargin,
    "q16_duplicates" ->
      "SELECT l_orderkey, count(*) AS n FROM lineitem GROUP BY 1 HAVING count(*) > 1",
    "q17_mismatch_fields" ->
      s"""WITH src AS ($srcSql), tgt AS ($tgtSql)
         |SELECT s.o_orderkey, 'o_totalprice' AS field,
         | CAST(CAST(s.o_totalprice AS DECIMAL(18,2)) AS VARCHAR) AS src_value,
         | CAST(CAST(t.o_totalprice AS DECIMAL(18,2)) AS VARCHAR) AS tgt_value
         |FROM src s JOIN tgt t ON s.o_orderkey = t.o_orderkey
         |WHERE CAST(s.o_totalprice AS DECIMAL(18,2)) <> CAST(t.o_totalprice AS DECIMAL(18,2))""".stripMargin,
    "q20_cdc_transform_chain" ->
      s"""WITH env AS ($cdcEnvelopeSql)
         |SELECT event_id,
         | regexp_extract(topic, 'scylla-cluster\\.app_data\\.(.*)', 1) AS table_name,
         | user_id, value,
         | CASE WHEN operation = 'DELETE' THEN 'true' ELSE 'false' END AS __deleted
         |FROM env WHERE NOT regexp_matches(topic, 'heartbeat\\..*')""".stripMargin,
    "q21_cdc_latest_state" ->
      """SELECT user_id, event_id, event_type, value FROM (
        | SELECT user_id, event_id, event_type, value,
        |  row_number() OVER (PARTITION BY user_id ORDER BY ts DESC, event_id DESC) AS rn
        | FROM events) WHERE rn = 1 AND event_type <> 'error'""".stripMargin,
    "q22_cdc_partial_update" ->
      """WITH ev AS (SELECT user_id, ts, event_id,
        |  CASE WHEN event_type = 'view' THEN NULL ELSE value END AS value_p FROM events),
        |latest AS (SELECT user_id, value_p AS last_value FROM (
        |  SELECT user_id, value_p,
        |   row_number() OVER (PARTITION BY user_id ORDER BY ts DESC, event_id DESC) AS rn
        |  FROM ev WHERE value_p IS NOT NULL) WHERE rn = 1)
        |SELECT u.user_id, latest.last_value
        |FROM (SELECT DISTINCT user_id FROM events) u
        |LEFT JOIN latest ON u.user_id = latest.user_id""".stripMargin,
    "q30_dedup_exact_groups" ->
      s"""SELECT $fingerprintSql AS fp, count(*) AS n, min(doc_id) AS keep_id
         |FROM documents GROUP BY 1""".stripMargin,
    "q31_text_stats" ->
      s"""WITH t AS (SELECT doc_id, text, $tokensSql AS toks FROM documents)
         |SELECT doc_id, len(toks) AS n_tokens, length(text) AS n_chars,
         | len(regexp_extract_all(text, '[.,!?;:]')) AS n_punct,
         | round(CAST(len(regexp_extract_all(text, '[.,!?;:]')) AS DOUBLE)
         |   / greatest(length(text), 1), 6) AS punct_ratio,
         | round(CAST(length(trim(text)) - (len(toks) - 1) AS DOUBLE)
         |   / greatest(len(toks), 1), 6) AS avg_token_len,
         | len(list_filter(toks, x -> x IN ($enStop))) AS en_stopwords,
         | $fingerprintSql AS fingerprint
         |FROM t""".stripMargin,
    "q32_lang_id" -> langIdOracleSql,
    "q33_quality_score" ->
      s"""WITH t AS (SELECT doc_id, text, $tokensSql AS toks FROM documents),
         |m AS (SELECT doc_id,
         |  CAST(len(toks) AS BIGINT) AS n_tokens,
         |  greatest(CAST(len(toks) AS BIGINT), 1) AS toks_n,
         |  CAST(len(list_filter(toks, x -> x IN ($enStop))) AS BIGINT) AS sw,
         |  CAST(len(regexp_extract_all(text, '[.,!?;:]')) AS DOUBLE)
         |    / greatest(length(text), 1) AS punct_ratio
         | FROM t)
         |SELECT doc_id,
         | CAST(least(n_tokens, 100) * 4000
         |   + (CASE WHEN punct_ratio < CAST(0.2 AS DOUBLE) THEN 300000 ELSE 90000 END)
         |   + ((least((sw * 5000000) // toks_n, 1000000) * 3) // 10)
         |  AS DOUBLE) / CAST(1000000.0 AS DOUBLE) AS quality
         |FROM m""".stripMargin,
    // q40: the image rows' width/height are read back out of REAL PNG
    // bytes by ImageIO, the audio rows' duration out of REAL WAV bytes
    // by javax.sound, and the video rows' dims/duration out of a REAL
    // GVID container (first-frame PNG decode + frame-count header) — the
    // oracle's formulas (the dims/duration the generator chose) passing
    // means all three encode→decode round-trips are faithful.
    "q40_multimodal_decode" ->
      """SELECT doc_id AS asset_id,
        | CASE CAST(doc_id % 3 AS INTEGER) WHEN 0 THEN 'image' WHEN 1 THEN 'audio' ELSE 'video' END AS media_type,
        | CAST(CASE CAST(doc_id % 3 AS INTEGER) WHEN 0 THEN 8 + doc_id % 24
        |           WHEN 1 THEN 0 ELSE 16 + doc_id % 16 END AS INTEGER) AS width,
        | CAST(CASE CAST(doc_id % 3 AS INTEGER) WHEN 0 THEN 8 + doc_id % 16
        |           WHEN 1 THEN 0 ELSE 9 + doc_id % 9 END AS INTEGER) AS height,
        | CAST(CASE CAST(doc_id % 3 AS INTEGER) WHEN 0 THEN 0
        |           WHEN 1 THEN 50 + (doc_id * 37) % 2000
        |           ELSE (2 + doc_id % 7) * 250 END AS BIGINT) AS duration_ms
        |FROM documents""".stripMargin,
    "q41_frame_samples" ->
      """SELECT doc_id AS asset_id,
        | CAST(((2 + doc_id % 7) * 250 * i) // 4 AS BIGINT) AS frame_ts_ms
        |FROM documents, generate_series(0, 3) AS g(i)
        |WHERE doc_id % 3 = 2""".stripMargin,
    "q49_frame_extract" ->
      """WITH v AS (SELECT doc_id,
        |  unnest(generate_series(0, CAST(2 + doc_id % 7 AS INTEGER) - 1)) AS i
        |  FROM documents WHERE doc_id % 3 = 2)
        |SELECT doc_id AS asset_id,
        | CAST(i AS INTEGER) AS frame_idx,
        | CAST(i * 250 AS BIGINT) AS ts_ms,
        | CAST(16 + doc_id % 16 AS INTEGER) AS width,
        | CAST(9 + doc_id % 9 AS INTEGER) AS height
        |FROM v""".stripMargin,
    // q35's oracle recomputes every 62-bit polynomial simhash sketch and
    // the all-pairs hamming join in SQL; the Spark side's 4-band
    // pigeonhole guarantees it finds exactly the same hamming<=3 pairs.
    "q35_simhash_pairs" ->
      s"""WITH t AS (SELECT doc_id, regexp_split_to_array(trim(text), '\\s+') AS toks FROM documents),
         |th AS (SELECT doc_id, unnest(list_transform(toks, tok ->
         |    $polyAsql + ($polyBsql << 31))) AS h FROM t),
         |votes AS (SELECT doc_id, i,
         |    sum(CASE WHEN (h >> i) & 1 = 1 THEN 1 ELSE -1 END) AS v
         |  FROM th, generate_series(0, 61) AS g(i) GROUP BY doc_id, i),
         |sh AS (SELECT doc_id,
         |    CAST(sum(CASE WHEN v > 0 THEN (CAST(1 AS BIGINT) << i) ELSE 0 END) AS BIGINT) AS sh
         |  FROM votes GROUP BY doc_id)
         |SELECT a.doc_id AS id_a, b.doc_id AS id_b,
         |  CAST(bit_count(xor(a.sh, b.sh)) AS INTEGER) AS hamming
         |FROM sh a JOIN sh b ON a.doc_id < b.doc_id
         |WHERE bit_count(xor(a.sh, b.sh)) <= 3""".stripMargin,
    // q44: winnowing re-derived in SQL — same k-gram strings as q36's
    // CTE, same polynomial hashes, same window-min + distinct selection.
    "q44_winnowing_fingerprints" ->
      s"""WITH t AS (SELECT doc_id, regexp_split_to_array(trim(text), '\\s+') AS toks FROM documents),
         |g AS (SELECT doc_id, list_transform(
         |    CASE WHEN len(toks) >= 4
         |      THEN list_transform(generate_series(0, len(toks)-4), i -> array_to_string(toks[i+1:i+4], ' '))
         |      ELSE [array_to_string(toks, ' ')] END,
         |    tok -> $polyAsql + ($polyBsql << 31)) AS gh FROM t)
         |SELECT doc_id, unnest(CASE WHEN len(gh) >= 4
         |    THEN list_distinct(list_transform(generate_series(0, len(gh)-4), i -> list_min(gh[i+1:i+4])))
         |    ELSE [list_min(gh)] END) AS fingerprint
         |FROM g""".stripMargin,
    // q34 emits exact Jaccard for minhash-LSH candidates; with banding
    // sized for full recall at J >= 0.4 on this corpus (min true pair
    // J = 0.8, P(miss) ~ 4e-8), the result set equals the exact
    // all-pairs query — same SQL shape as q36 at the 0.4 threshold.
    "q34_minhash_pairs" ->
      """WITH t AS (SELECT doc_id, regexp_split_to_array(trim(text), '\s+') AS toks FROM documents),
        |sh AS (SELECT doc_id, unnest(list_distinct(
        |   CASE WHEN len(toks) >= 3
        |     THEN list_transform(generate_series(0, len(toks)-3), i -> array_to_string(toks[i+1:i+3], ' '))
        |     ELSE [array_to_string(toks, ' ')] END)) AS shingle FROM t),
        |sizes AS (SELECT doc_id, count(*) AS sz FROM sh GROUP BY 1),
        |inter AS (SELECT x.doc_id AS id_a, y.doc_id AS id_b, count(*) AS inter
        |  FROM sh x JOIN sh y ON x.shingle = y.shingle AND x.doc_id < y.doc_id
        |  GROUP BY 1, 2)
        |SELECT id_a, id_b,
        |  CAST(inter AS DOUBLE) / (sa.sz + sb.sz - inter) AS jaccard
        |FROM inter
        |JOIN sizes sa ON inter.id_a = sa.doc_id
        |JOIN sizes sb ON inter.id_b = sb.doc_id
        |WHERE CAST(inter AS DOUBLE) / (sa.sz + sb.sz - inter) >= 0.4""".stripMargin,
    "q36_ngram_jaccard_pairs" -> jaccardAllPairsSql03,
    // q82: the prefix-filtered plan must reproduce the full self-join's
    // answer EXACTLY — same oracle text as q36
    "q82_jaccard_prefix_filter" -> jaccardAllPairsSql03,
    // q98: q36's shingle CTEs, but DIRECTED pairs normalized by the
    // contained side's size only — and (unlike q36) the DF cut is the
    // containment family's GUARDED DEFAULT (q48's <= 20), applied to
    // sizes and intersections alike on both engines
    "q98_containment_pairs" ->
      """WITH t AS (SELECT doc_id, regexp_split_to_array(trim(text), '\s+') AS toks FROM documents),
        |sh AS (SELECT doc_id, unnest(list_distinct(
        |   CASE WHEN len(toks) >= 3
        |     THEN list_transform(generate_series(0, len(toks)-3), i -> array_to_string(toks[i+1:i+3], ' '))
        |     ELSE [array_to_string(toks, ' ')] END)) AS shingle FROM t),
        |rare AS (SELECT shingle FROM sh GROUP BY 1 HAVING count(*) <= 20),
        |shc AS (SELECT doc_id, sh.shingle FROM sh JOIN rare ON sh.shingle = rare.shingle),
        |sizes AS (SELECT doc_id, count(*) AS sz FROM shc GROUP BY 1),
        |inter AS (SELECT x.doc_id AS id_a, y.doc_id AS id_b, count(*) AS inter
        |  FROM shc x JOIN shc y ON x.shingle = y.shingle AND x.doc_id <> y.doc_id
        |  GROUP BY 1, 2)
        |SELECT id_a, id_b, CAST(inter AS DOUBLE) / sa.sz AS containment
        |FROM inter JOIN sizes sa ON inter.id_a = sa.doc_id
        |WHERE CAST(inter AS DOUBLE) / sa.sz >= 0.6""".stripMargin,
    // q100: shingle → min(doc) first-occurrence rollup, then the
    // per-doc novel-count join-back; novelty is ONE double division
    "q100_ngram_novelty" ->
      """WITH t AS (SELECT doc_id, regexp_split_to_array(trim(text), '\s+') AS toks FROM documents),
        |sh AS (SELECT doc_id, unnest(list_distinct(
        |   CASE WHEN len(toks) >= 3
        |     THEN list_transform(generate_series(0, len(toks)-3), i -> array_to_string(toks[i+1:i+3], ' '))
        |     ELSE [array_to_string(toks, ' ')] END)) AS shingle FROM t),
        |f AS (SELECT shingle, min(doc_id) AS first_id FROM sh GROUP BY 1)
        |SELECT sh.doc_id, count(*) AS n_shingles,
        |  CAST(sum(CASE WHEN f.first_id = sh.doc_id THEN 1 ELSE 0 END) AS BIGINT) AS novel_shingles,
        |  CAST(sum(CASE WHEN f.first_id = sh.doc_id THEN 1 ELSE 0 END) AS DOUBLE) / count(*) AS novelty
        |FROM sh JOIN f ON sh.shingle = f.shingle
        |GROUP BY 1""".stripMargin,
    // q99: q63's (token, doc) pre-agg and df rollup; integer-micro
    // weights (floor division both engines), exact BIGINT dot, cosine
    // as sqrt·sqrt·divide on the exact sums
    "q99_tfidf_cosine_pairs" ->
      """WITH t AS (SELECT doc_id, unnest(regexp_split_to_array(trim(text), '\s+')) AS token
        |  FROM documents WHERE text IS NOT NULL),
        |p AS (SELECT token, doc_id, count(*) AS tf FROM t WHERE token <> '' GROUP BY 1, 2),
        |d AS (SELECT token, count(*) AS df FROM p GROUP BY 1),
        |s AS (SELECT p.doc_id, p.token, (p.tf * 1000000) // d.df AS w,
        |    row_number() OVER (PARTITION BY p.doc_id
        |      ORDER BY CAST(p.tf AS DOUBLE) / d.df DESC, p.token) AS rnk
        |  FROM p JOIN d USING (token)),
        |v AS (SELECT doc_id, token, w FROM s WHERE rnk <= 5),
        |n AS (SELECT doc_id, CAST(sum(w*w) AS BIGINT) AS n2 FROM v GROUP BY 1),
        |dot AS (SELECT a.doc_id AS id_a, b.doc_id AS id_b, CAST(sum(a.w*b.w) AS BIGINT) AS dp
        |  FROM v a JOIN v b ON a.token = b.token AND a.doc_id < b.doc_id GROUP BY 1, 2)
        |SELECT id_a, id_b,
        |  CAST(dp AS DOUBLE) / (sqrt(CAST(na.n2 AS DOUBLE)) * sqrt(CAST(nb.n2 AS DOUBLE))) AS cosine
        |FROM dot JOIN n na ON dot.id_a = na.doc_id JOIN n nb ON dot.id_b = nb.doc_id
        |WHERE CAST(dp AS DOUBLE) / (sqrt(CAST(na.n2 AS DOUBLE)) * sqrt(CAST(nb.n2 AS DOUBLE))) >= 0.8""".stripMargin,
    // q108: the oracle re-derives the positional bigram stream, the
    // pair/prefix rollups, the vocab count, and the same
    // integer-argument fixed-point ln as the q72 DSIR oracle
    "q108_bigram_lm" ->
      s"""WITH t AS (SELECT doc_id, $tokensSql AS toks
         |  FROM documents WHERE text IS NOT NULL),
         |px AS (SELECT doc_id, toks, unnest(generate_series(1, len(toks)-1)) AS i
         |  FROM t WHERE len(toks) >= 2),
         |b AS (SELECT doc_id, toks[i] AS w1, toks[i+1] AS w2 FROM px),
         |c12 AS (SELECT w1, w2, count(*) AS c12 FROM b GROUP BY 1, 2),
         |c1 AS (SELECT w1, count(*) AS c1 FROM b GROUP BY 1),
         |v AS (SELECT count(DISTINCT tok) AS vocab
         |  FROM (SELECT unnest(toks) AS tok FROM t)),
         |s AS (SELECT b.doc_id,
         |    CAST(floor(ln(CAST(c1.c1 + v.vocab AS DOUBLE)) * 1000000) AS BIGINT)
         |  - CAST(floor(ln(CAST(c12.c12 + 1 AS DOUBLE)) * 1000000) AS BIGINT) AS nl
         |  FROM b JOIN c12 USING (w1, w2) JOIN c1 USING (w1) CROSS JOIN v)
         |SELECT doc_id, count(*) AS n_bigrams, CAST(sum(nl) AS BIGINT) AS nll_fp,
         |  CAST(CAST(sum(nl) AS BIGINT) AS DOUBLE) / (1000000.0 * count(*)) AS cross_entropy
         |FROM s GROUP BY doc_id""".stripMargin,
    // q109: the oracle re-derives the micro-fixed-point components and
    // sums the upper-triangle products per (i,j) — generate_series is
    // INCLUSIVE, matching the 1-based dims the engine emits
    "q109_gramian" ->
      """WITH e AS (SELECT list_transform(embedding,
        |    x -> CAST(floor(CAST(x AS DOUBLE) * 1000000) AS BIGINT)) AS xf
        |  FROM embeddings WHERE embedding IS NOT NULL),
        |pi AS (SELECT xf, unnest(generate_series(1, len(xf))) AS i FROM e),
        |pj AS (SELECT xf, i, unnest(generate_series(i, len(xf))) AS j FROM pi),
        |p AS (SELECT CAST(i AS INTEGER) AS dim_i, CAST(j AS INTEGER) AS dim_j,
        |    xf[i] * xf[j] AS pr FROM pj)
        |SELECT dim_i, dim_j, CAST(sum(pr) AS BIGINT) AS gram_fp,
        |  CAST(CAST(sum(pr) AS BIGINT) AS DOUBLE) / 1e12 AS gram
        |FROM p GROUP BY 1, 2""".stripMargin,
    // q110: q109's gramian CTEs, the upper triangle mirrored across the
    // diagonal, dotted with v_fp(j) = 1000000 + j in HUGEINT, then the
    // engine's exact floor division (subtract the NONNEGATIVE remainder
    // first — `//` alone need not floor on negative sums)
    "q110_power_iteration" ->
      """WITH e AS (SELECT list_transform(embedding,
        |    x -> CAST(floor(CAST(x AS DOUBLE) * 1000000) AS BIGINT)) AS xf
        |  FROM embeddings WHERE embedding IS NOT NULL),
        |pi AS (SELECT xf, unnest(generate_series(1, len(xf))) AS i FROM e),
        |pj AS (SELECT xf, i, unnest(generate_series(i, len(xf))) AS j FROM pi),
        |g AS (SELECT CAST(i AS INTEGER) AS dim_i, CAST(j AS INTEGER) AS dim_j,
        |    CAST(sum(xf[i] * xf[j]) AS BIGINT) AS gram_fp FROM pj GROUP BY 1, 2),
        |m AS (SELECT dim_i AS dim, dim_j AS jj, gram_fp FROM g
        |  UNION ALL
        |  SELECT dim_j, dim_i, gram_fp FROM g WHERE dim_i <> dim_j),
        |sv AS (SELECT dim, sum(CAST(gram_fp AS HUGEINT) * (1000000 + jj)) AS sum_fp
        |  FROM m GROUP BY 1)
        |SELECT dim, CAST((sum_fp - ((sum_fp % 1000000000000 + 1000000000000) % 1000000000000))
        |  // 1000000000000 AS BIGINT) AS v_fp
        |FROM sv""".stripMargin,
    // q118: the Xᵀy moments — q109's micro components dotted against
    // the fixed-pointed label, summed per dim
    "q118_xty_moments" ->
      """WITH e AS (SELECT list_transform(embedding,
        |    x -> CAST(floor(CAST(x AS DOUBLE) * 1000000) AS BIGINT)) AS xf,
        |  CAST(floor(CAST(label AS DOUBLE) * 1000000) AS BIGINT) AS yf
        |  FROM embeddings WHERE embedding IS NOT NULL AND label IS NOT NULL),
        |p AS (SELECT xf, yf, unnest(generate_series(1, len(xf))) AS i FROM e)
        |SELECT CAST(i AS INTEGER) AS dim, CAST(sum(xf[i] * yf) AS BIGINT) AS xty_fp,
        |  CAST(CAST(sum(xf[i] * yf) AS BIGINT) AS DOUBLE) / 1e12 AS xty
        |FROM p GROUP BY 1 ORDER BY 1""".stripMargin,
    // q115: heavy hitters — the oracle counts EVERYTHING (it can afford
    // to at oracle scale); the engine's sketch+recount must agree
    // exactly, including the cross-multiplied ppm threshold and the
    // exact floor-divided freq_ppm
    "q115_heavy_hitters" ->
      s"""WITH tk AS (SELECT unnest($tokensSql) AS token
         |  FROM documents WHERE text IS NOT NULL),
         |tt AS (SELECT token FROM tk WHERE token <> ''),
         |n AS (SELECT count(*) AS total FROM tt)
         |SELECT token, count(*) AS cnt,
         |  CAST(count(*) * 1000000 // total AS BIGINT) AS freq_ppm
         |FROM tt CROSS JOIN n
         |GROUP BY token, total
         |HAVING count(*) * 1000000 >= 2000 * total
         |ORDER BY cnt DESC, token""".stripMargin,
    // q116: md5-ordered per-stratum row_number — both engines hash the
    // identical decimal string, so the sample is engine-exact
    "q116_stratified_sample" ->
      """SELECT source, doc_id, CAST(rk AS INTEGER) AS sample_rank FROM (
        |  SELECT source, doc_id,
        |    row_number() OVER (PARTITION BY source
        |      ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id) AS rk
        |  FROM documents) t
        |WHERE rk <= 5 ORDER BY source, sample_rank""".stripMargin,
    // q117: the oracle re-derives the bigram stream, pair counts,
    // pair-table marginals, and the same integer-argument fixed-point
    // ln as q108/q72
    "q117_collocations" ->
      s"""WITH t AS (SELECT $tokensSql AS toks
         |  FROM documents WHERE text IS NOT NULL),
         |t2 AS (SELECT toks FROM t WHERE len(toks) >= 2),
         |px AS (SELECT toks, unnest(generate_series(1, len(toks)-1)) AS i FROM t2),
         |b AS (SELECT toks[i] AS w1, toks[i+1] AS w2 FROM px),
         |c12 AS (SELECT w1, w2, count(*) AS pair_count FROM b GROUP BY 1, 2),
         |c1 AS (SELECT w1, CAST(sum(pair_count) AS BIGINT) AS c1 FROM c12 GROUP BY 1),
         |c2 AS (SELECT w2, CAST(sum(pair_count) AS BIGINT) AS c2 FROM c12 GROUP BY 1),
         |n AS (SELECT CAST(sum(pair_count) AS BIGINT) AS n FROM c12)
         |SELECT w1, w2, pair_count,
         |  CAST(floor(ln(CAST(pair_count * n.n AS DOUBLE)) * 1000000) AS BIGINT)
         |  - CAST(floor(ln(CAST(c1.c1 * c2.c2 AS DOUBLE)) * 1000000) AS BIGINT) AS pmi_fp
         |FROM c12 JOIN c1 USING (w1) JOIN c2 USING (w2) CROSS JOIN n
         |WHERE pair_count >= 3
         |ORDER BY pmi_fp DESC, w1, w2 LIMIT 50""".stripMargin,
    // q119: the oracle runs the classic min-after-previous-min chain —
    // the fold's greedy earliest-advance provably equals it
    "q119_event_funnel" ->
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
        |ORDER BY step""".stripMargin,
    // q120: integral FLOOR day division on epoch micros in BOTH
    // engines — never a double, and never bare truncation (`//`/`div`
    // truncate toward zero, mis-bucketing pre-1970 negative micros):
    // subtract the positive remainder first
    "q120_retention_cohorts" ->
      """WITH ud AS (SELECT DISTINCT user_id,
        |    (epoch_us(ts) - ((epoch_us(ts) % 86400000000 + 86400000000)
        |      % 86400000000)) // 86400000000 AS d FROM events),
        |f AS (SELECT user_id, min(d) AS c FROM ud GROUP BY 1)
        |SELECT c AS cohort_day, d - c AS day_offset, count(*) AS users
        |FROM ud JOIN f USING (user_id)
        |GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,
    // q125: DuckDB ROLLUP with GROUPING() matching Spark's grouping_id
    // bit order; NULLS FIRST pinned (DuckDB defaults NULLS LAST)
    "q125_corpus_rollup" ->
      """SELECT source, lang, count(*) AS n_docs,
        |  CAST(sum(n_chars) AS BIGINT) AS total_chars,
        |  CAST(GROUPING(source, lang) AS INTEGER) AS gid
        |FROM documents GROUP BY ROLLUP (source, lang)
        |ORDER BY gid, source NULLS FIRST, lang NULLS FIRST""".stripMargin,
    // q126: the pivot as conditional counts — static column set
    "q126_lang_pivot" ->
      """SELECT source,
        |  CAST(sum(CASE WHEN lang = 'de' THEN 1 ELSE 0 END) AS BIGINT) AS de,
        |  CAST(sum(CASE WHEN lang = 'en' THEN 1 ELSE 0 END) AS BIGINT) AS en,
        |  CAST(sum(CASE WHEN lang = 'es' THEN 1 ELSE 0 END) AS BIGINT) AS es,
        |  CAST(sum(CASE WHEN lang = 'fr' THEN 1 ELSE 0 END) AS BIGINT) AS fr,
        |  CAST(sum(CASE WHEN lang = 'zh' THEN 1 ELSE 0 END) AS BIGINT) AS zh
        |FROM documents GROUP BY source ORDER BY source""".stripMargin,
    // q127: phrase occurrences by brute list scan — every starting
    // position checked, so overlapping matches count exactly as the
    // engine's positional-postings chain join does
    "q127_phrase_search" ->
      s"""WITH t AS (SELECT doc_id, $tokensSql AS toks
         |  FROM documents WHERE text IS NOT NULL),
         |m AS (SELECT doc_id, len(list_filter(generate_series(1, len(toks)-1),
         |  i -> toks[i] = 'batch' AND toks[i+1] = 'batch')) AS n FROM t)
         |SELECT doc_id, CAST(n AS BIGINT) AS n_occurrences
         |FROM m WHERE n > 0""".stripMargin,
    // q128: q85's kNN CTEs + the majority vote — count per neighbor
    // label, argmax by (count desc, label asc), isolated nodes keep
    // their own label via the left join
    "q128_label_propagation" ->
      """WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS emb,
        |    CAST(label AS BIGINT) AS lab FROM embeddings),
        |cent AS (SELECT vec_id AS k, emb AS cemb FROM e WHERE vec_id < 8),
        |assign AS (SELECT v.vec_id, v.emb,
        |  (SELECT k FROM cent ORDER BY list_cosine_similarity(v.emb, cemb) DESC, k LIMIT 1) AS cell
        |  FROM e v),
        |p AS (SELECT a.vec_id AS src_id, b.vec_id AS nbr_id,
        |   round(list_cosine_similarity(a.emb, b.emb), 6) AS cosine
        | FROM assign a JOIN assign b ON a.cell = b.cell AND a.vec_id <> b.vec_id),
        |r AS (SELECT src_id, nbr_id,
        |  row_number() OVER (PARTITION BY src_id ORDER BY cosine DESC, nbr_id) AS rn
        | FROM p),
        |g AS (SELECT src_id, nbr_id FROM r WHERE rn <= 3),
        |votes AS (SELECT g.src_id, e2.lab, count(*) AS n
        |  FROM g JOIN e e2 ON g.nbr_id = e2.vec_id GROUP BY 1, 2),
        |best AS (SELECT src_id, lab,
        |  row_number() OVER (PARTITION BY src_id ORDER BY n DESC, lab) AS rn
        | FROM votes)
        |SELECT e.vec_id, e.lab AS label, coalesce(b.lab, e.lab) AS new_label
        |FROM e LEFT JOIN (SELECT src_id, lab FROM best WHERE rn = 1) b
        |  ON e.vec_id = b.src_id""".stripMargin,
    // q129: same lag window, same (ts, id) total order, same 1-day gap
    "q129_event_debounce" ->
      """WITH e AS (SELECT user_id, event_type, event_id, epoch_us(ts) AS t
        |  FROM events),
        |g AS (SELECT user_id, event_type, event_id,
        |  t - lag(t) OVER (PARTITION BY user_id, event_type
        |    ORDER BY t, event_id) AS gap FROM e)
        |SELECT user_id, event_type, event_id, CAST(gap AS BIGINT) AS gap_us
        |FROM g WHERE gap IS NULL OR gap >= 86400000000""".stripMargin,
    // q130: q33's integer-ppm quality replayed, then per-source rank()
    // percentile — ties share, nonnegative // is floor in both engines
    "q130_quantile_norm" ->
      s"""WITH t AS (SELECT doc_id, source, text, $tokensSql AS toks
         |  FROM documents WHERE text IS NOT NULL),
         |m AS (SELECT doc_id, source,
         |  CAST(len(toks) AS BIGINT) AS n_tokens,
         |  greatest(CAST(len(toks) AS BIGINT), 1) AS toks_n,
         |  CAST(len(list_filter(toks, x -> x IN ($enStop))) AS BIGINT) AS sw,
         |  CAST(len(regexp_extract_all(text, '[.,!?;:]')) AS DOUBLE)
         |    / greatest(length(text), 1) AS punct_ratio
         | FROM t),
         |q AS (SELECT doc_id, source,
         |  least(n_tokens, 100) * 4000
         |   + (CASE WHEN punct_ratio < CAST(0.2 AS DOUBLE) THEN 300000 ELSE 90000 END)
         |   + ((least((sw * 5000000) // toks_n, 1000000) * 3) // 10) AS quality_e6
         | FROM m),
         |r AS (SELECT doc_id, source, CAST(quality_e6 AS BIGINT) AS quality_e6,
         |  rank() OVER (PARTITION BY source ORDER BY quality_e6) AS rk,
         |  count(*) OVER (PARTITION BY source) AS n FROM q)
         |SELECT doc_id, source, quality_e6,
         |  CAST(CASE WHEN n = 1 THEN 1000000
         |       ELSE ((rk - 1) * 1000000) // greatest(n - 1, 1) END AS BIGINT)
         |    AS pct_ppm
         |FROM r""".stripMargin,
    // q131: per-(doc, char) counts, ln only on integer counts, the
    // cross term lnfp(N)·N − Σ c·lnfp(c) is ≥ 0 so // is floor
    "q131_char_entropy" ->
      """WITH c AS (SELECT doc_id,
        |    unnest(regexp_extract_all(text, '[\s\S]')) AS ch
        |  FROM documents WHERE text IS NOT NULL AND length(text) > 0),
        |cc AS (SELECT doc_id, ch, count(*) AS c FROM c GROUP BY 1, 2),
        |a AS (SELECT doc_id, sum(c) AS n,
        |  sum(c * CAST(floor(ln(CAST(c AS DOUBLE)) * 1000000) AS BIGINT)) AS wsum
        | FROM cc GROUP BY 1)
        |SELECT doc_id, CAST(n AS BIGINT) AS n_chars_counted,
        |  CAST((CAST(floor(ln(CAST(n AS DOUBLE)) * 1000000) AS BIGINT) * n
        |    - wsum) // n AS BIGINT) AS entropy_fp
        |FROM a""".stripMargin,
    // q132: q110's CTEs compute the direction, then each embedding dots
    // it in HUGEINT with the engine's nonneg-remainder floor division
    "q132_pca_project" ->
      """WITH e AS (SELECT vec_id, list_transform(embedding,
        |    x -> CAST(floor(CAST(x AS DOUBLE) * 1000000) AS BIGINT)) AS xf
        |  FROM embeddings WHERE embedding IS NOT NULL),
        |pi AS (SELECT xf, unnest(generate_series(1, len(xf))) AS i FROM e),
        |pj AS (SELECT xf, i, unnest(generate_series(i, len(xf))) AS j FROM pi),
        |g AS (SELECT CAST(i AS INTEGER) AS dim_i, CAST(j AS INTEGER) AS dim_j,
        |    CAST(sum(xf[i] * xf[j]) AS BIGINT) AS gram_fp FROM pj GROUP BY 1, 2),
        |m AS (SELECT dim_i AS dim, dim_j AS jj, gram_fp FROM g
        |  UNION ALL
        |  SELECT dim_j, dim_i, gram_fp FROM g WHERE dim_i <> dim_j),
        |sv AS (SELECT dim, sum(CAST(gram_fp AS HUGEINT) * (1000000 + jj)) AS sum_fp
        |  FROM m GROUP BY 1),
        |v AS (SELECT dim, CAST((sum_fp - ((sum_fp % 1000000000000 + 1000000000000)
        |    % 1000000000000)) // 1000000000000 AS BIGINT) AS v_fp FROM sv),
        |p AS (SELECT vec_id, xf, unnest(generate_series(1, len(xf))) AS i FROM e),
        |d AS (SELECT p.vec_id, sum(CAST(p.xf[i] AS HUGEINT) * v.v_fp) AS s
        |  FROM p JOIN v ON v.dim = p.i GROUP BY 1)
        |SELECT vec_id, CAST((s - ((s % 1000000 + 1000000) % 1000000))
        |  // 1000000 AS BIGINT) AS proj_fp FROM d""".stripMargin,
    // q133: one row per source, mass-ascending ranks, the exact integer
    // Gini fold in HUGEINT (numerator is ≥ 0 by the ascending sort)
    "q133_source_gini" ->
      s"""WITH s AS (SELECT source, CAST(sum(len($tokensSql)) AS BIGINT) AS x
         |  FROM documents WHERE text IS NOT NULL GROUP BY 1),
         |r AS (SELECT source, x, row_number() OVER (ORDER BY x, source) AS i
         |  FROM s),
         |a AS (SELECT count(*) AS n, sum(x) AS st,
         |  sum(CAST(i AS HUGEINT) * x) AS ix FROM r)
         |SELECT CAST(n AS BIGINT) AS n_sources, CAST(st AS BIGINT) AS total_tokens,
         |  CAST(((2 * ix - (n + 1) * st) * 1000000) // (n * st) AS BIGINT)
         |    AS gini_ppm
         |FROM a""".stripMargin,
    // q134: q109's micro components, per-dim count/sum/sum-of-squares —
    // the square in HUGEINT, rendered to VARCHAR to match the engine's
    // decimal-as-string (exact past 2^63 in both engines)
    "q134_dim_stats" ->
      """WITH e AS (SELECT list_transform(embedding,
        |    x -> CAST(floor(CAST(x AS DOUBLE) * 1000000) AS BIGINT)) AS xf
        |  FROM embeddings WHERE embedding IS NOT NULL),
        |p AS (SELECT xf, unnest(generate_series(1, len(xf))) AS i FROM e)
        |SELECT CAST(i AS INTEGER) AS dim, CAST(count(*) AS BIGINT) AS n,
        |  CAST(sum(xf[i]) AS BIGINT) AS sum_fp,
        |  CAST(sum(CAST(xf[i] AS HUGEINT) * xf[i]) AS VARCHAR) AS sumsq_fp
        |FROM p GROUP BY 1 ORDER BY 1""".stripMargin,
    // q135: the oracle ranks with ONE global window (fine at oracle
    // scale), joins on rank distance directly, and verifies with q36's
    // string-shingle Jaccard — the engine's bucketed-offset ranks and
    // hash-shingle arrays must reproduce it exactly
    "q135_snm_pairs" ->
      s"""WITH t AS (SELECT doc_id, $tokensSql AS toks
         |  FROM documents WHERE text IS NOT NULL),
         |r AS (SELECT doc_id, row_number() OVER (ORDER BY len(toks), doc_id) AS rk
         |  FROM t),
         |c AS (SELECT a.doc_id AS ia, b.doc_id AS ib FROM r a JOIN r b
         |  ON b.rk > a.rk AND b.rk - a.rk <= 10),
         |sh AS (SELECT doc_id, unnest(list_distinct(
         |   CASE WHEN len(toks) >= 3
         |     THEN list_transform(generate_series(0, len(toks)-3), i -> array_to_string(toks[i+1:i+3], ' '))
         |     ELSE [array_to_string(toks, ' ')] END)) AS shingle FROM t),
         |sz AS (SELECT doc_id, count(*) AS sz FROM sh GROUP BY 1),
         |i AS (SELECT ia, ib, count(*) AS inter FROM c
         |  JOIN sh x ON x.doc_id = c.ia
         |  JOIN sh y ON y.doc_id = c.ib AND y.shingle = x.shingle
         |  GROUP BY 1, 2)
         |SELECT least(ia, ib) AS id_a, greatest(ia, ib) AS id_b,
         |  CAST(inter AS DOUBLE) / (sa.sz + sb.sz - inter) AS jaccard
         |FROM i JOIN sz sa ON i.ia = sa.doc_id JOIN sz sb ON i.ib = sb.doc_id
         |WHERE CAST(inter AS DOUBLE) / (sa.sz + sb.sz - inter) >= 0.3""".stripMargin,
    // q136: two token-count CTEs over the snapshot halves, full-outer
    // joined; ppm rates are nonneg integer floor divisions; the top-20
    // cutoff tiebreaks on token in both engines
    "q136_term_drift" ->
      s"""WITH ta AS (SELECT unnest($tokensSql) AS token
         |  FROM documents WHERE text IS NOT NULL AND doc_id % 2 = 0),
         |tb AS (SELECT unnest($tokensSql) AS token
         |  FROM documents WHERE text IS NOT NULL AND doc_id % 2 = 1),
         |ca AS (SELECT token, count(*) AS c FROM ta WHERE token <> '' GROUP BY 1),
         |cb AS (SELECT token, count(*) AS c FROM tb WHERE token <> '' GROUP BY 1),
         |na AS (SELECT sum(c) AS n FROM ca), nb AS (SELECT sum(c) AS n FROM cb),
         |j AS (SELECT coalesce(ca.token, cb.token) AS token,
         |    coalesce(ca.c, 0) AS c_a, coalesce(cb.c, 0) AS c_b
         |  FROM ca FULL OUTER JOIN cb ON ca.token = cb.token),
         |p AS (SELECT token, c_a AS count_a, c_b AS count_b,
         |    (c_a * 1000000) // na.n AS ppm_a, (c_b * 1000000) // nb.n AS ppm_b
         |  FROM j CROSS JOIN na CROSS JOIN nb WHERE c_a + c_b >= 1)
         |SELECT CAST(token AS VARCHAR) AS token,
         |  CAST(count_a AS BIGINT) AS count_a, CAST(count_b AS BIGINT) AS count_b,
         |  CAST(ppm_a AS BIGINT) AS ppm_a, CAST(ppm_b AS BIGINT) AS ppm_b,
         |  CAST(abs(ppm_a - ppm_b) AS BIGINT) AS delta_ppm
         |FROM p ORDER BY delta_ppm DESC, token LIMIT 20""".stripMargin,
    // q137: same lag window, same (ts, id) total order, first events
    // carry no transition
    "q137_event_transitions" ->
      """WITH e AS (SELECT user_id, event_type, event_id, epoch_us(ts) AS t
        |  FROM events),
        |g AS (SELECT user_id, event_type AS to_type,
        |  lag(event_type) OVER (PARTITION BY user_id ORDER BY t, event_id)
        |    AS from_type FROM e)
        |SELECT from_type, to_type, count(*) AS n_transitions
        |FROM g WHERE from_type IS NOT NULL
        |GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,
    // q138: open/close re-derived as rank-1 rows over the same (ts, id)
    // total order (unique event ids make ties impossible); the bucket
    // floors epoch micros with the positive-remainder pattern
    "q138_value_ohlc" ->
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
    // q139: q33's quality + token count, doubled midranks from
    // per-value prefix sums, the Σd² fold in HUGEINT — same integer
    // formula, nonneg // is floor
    "q139_rank_correlation" ->
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
    // q140: same lag window, gaps only — the silences, not the events
    "q140_event_gaps" ->
      """WITH e AS (SELECT user_id, event_id, epoch_us(ts) AS t FROM events),
        |g AS (SELECT user_id, t,
        |  lag(t) OVER (PARTITION BY user_id ORDER BY t, event_id) AS prev
        | FROM e)
        |SELECT user_id, prev AS gap_start_us, t AS gap_end_us,
        |  t - prev AS gap_us
        |FROM g WHERE prev IS NOT NULL AND t - prev >= 604800000000""".stripMargin,
    // q141: one UNION ALL branch per profiled column; extrema on the
    // native type, rendered as strings (timestamps via epoch_us)
    "q141_column_profile" -> {
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
    },
    // q142: digit of the integer part (floor BEFORE the bigint cast —
    // DuckDB's bare double→int cast rounds where Spark truncates), the
    // same literal expected-ppm table, nonneg // floor
    "q142_benford_audit" ->
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
        |FROM d LEFT JOIN c USING (digit) CROSS JOIN t ORDER BY 1""".stripMargin,
    // q143: same day floor, same RANGE frame, decimal frame sum cast
    // once, one division by the frame's actual day count
    "q143_moving_revenue" ->
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
        |ORDER BY day""".stripMargin,
    // q144: same per-order distinct, same canonical a < b pairs, same
    // (support desc, pair) top-k cut
    "q144_frequent_pairs" ->
      """WITH i AS (SELECT DISTINCT l_orderkey AS o, l_partkey AS p
        |  FROM lineitem),
        |c AS (SELECT a.p AS part_a, b.p AS part_b, count(*) AS n_orders
        |  FROM i a JOIN i b ON a.o = b.o AND a.p < b.p GROUP BY 1, 2)
        |SELECT part_a, part_b, n_orders FROM c WHERE n_orders >= 2
        |ORDER BY n_orders DESC, part_a, part_b LIMIT 50""".stripMargin,
    // q145: same cents rollup, same excluded-current-day frame, the
    // identical cross-multiplied integer σ-test in HUGEINT
    "q145_revenue_anomalies" ->
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
        |FROM a ORDER BY day""".stripMargin,
    // q146: two full BM25 scoring pipelines instantiated from the
    // shared fragments, ranked, truncated to top-100, fused with the
    // identical integer contributions
    "q146_rrf_fusion" ->
      s"""WITH b AS (SELECT doc_id, unnest(regexp_split_to_array(trim(text), '\\s+')) AS tok
         |  FROM documents WHERE text IS NOT NULL),
         |${bm25RankCtesFor(bm25Terms, "1", 100)},
         |${bm25RankCtesFor(bm25TermsAlt, "2", 100)},
         |u AS (SELECT doc_id, 1000000 // (60 + r) AS c FROM r1
         |  UNION ALL SELECT doc_id, 1000000 // (60 + r) FROM r2)
         |SELECT doc_id, CAST(sum(c) AS BIGINT) AS rrf_fp,
         |  CAST(count(*) AS BIGINT) AS n_lists
         |FROM u GROUP BY 1 ORDER BY rrf_fp DESC, doc_id LIMIT 20""".stripMargin,
    // q147: Q6 verbatim — discount band compared in DECIMAL(18,2)
    // (hundredths domain), revenue the exact-decimal dsum idiom
    "q147_forecast_revenue" ->
      """SELECT CAST(coalesce(sum(CAST(l_extendedprice * l_discount
        |    AS DECIMAL(18,6))), 0) AS DOUBLE) AS revenue
        |FROM lineitem
        |WHERE l_shipdate >= '1996-01-01' AND l_shipdate < '1997-01-01'
        |  AND CAST(l_discount AS DECIMAL(18,2)) BETWEEN 0.04 AND 0.06
        |  AND l_quantity < 24""".stripMargin,
    // q148: the OR-of-ANDs stated directly — part slice union, then
    // the per-branch disjunction over the join
    "q148_disjunctive_revenue" ->
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
        |    AND l_quantity BETWEEN 20 AND 40)""".stripMargin,
    // q149: Q21's exists/not-exists stated as the same per-order
    // rollup (ns/nl counts) the engine plans — late = SLA breach
    "q149_waiting_suppliers" ->
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
        |GROUP BY 1 ORDER BY numwait DESC, s_name LIMIT 20""".stripMargin,
    // q150: confidence/lift in integer ppm — HUGEINT products, //
    // floor division (all operands positive; matches the engine's
    // subtract-nonnegative-remainder decimal floor-div)
    "q150_association_rules" ->
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
        |LIMIT 50""".stripMargin,
    // q151: GROUP BY ROLLUP with GROUPING() levels; rollup NULLs
    // rendered 'ALL' (keys non-null by construction)
    "q151_revenue_rollup" ->
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
        |ORDER BY level, ship_year, return_flag""".stripMargin,
    // q152: dominance stated directly as NOT EXISTS (the oracle can
    // afford the quadratic form); prices compare in integer cents
    "q152_brand_skyline" ->
      """WITH p AS (SELECT p_partkey, p_brand, p_name, p_retailprice,
        |    p_size,
        |    CAST(CAST(p_retailprice AS DECIMAL(18,2)) * 100 AS BIGINT) AS pc
        |  FROM part)
        |SELECT p_partkey, p_brand, p_name, p_retailprice, p_size
        |FROM p r
        |WHERE NOT EXISTS (SELECT 1 FROM p s WHERE s.p_brand = r.p_brand
        |  AND ((s.pc < r.pc AND s.p_size >= r.p_size)
        |    OR (s.pc = r.pc AND s.p_size > r.p_size)))
        |ORDER BY p_brand, p_retailprice, p_partkey""".stripMargin,
    // q153: the same lag-flag + running-sum sessionization; window sums
    // cast to BIGINT (DuckDB integer sums widen to HUGEINT)
    "q153_sessionization" ->
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
        |FROM s GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,
    // q154: gaps-and-islands via day - row_number; best streak by
    // (len desc, start asc) — the engine's negated-start struct max
    "q154_activity_streaks" ->
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
        |FROM r WHERE rn = 1 ORDER BY user_id""".stripMargin,
    // q155: the oracle affords the single ordered cumulative sum the
    // engine decomposes into bucketed prefix sums; end+1 closes the
    // inclusive interval, per-instant delta collapse kills tie order
    "q155_peak_concurrency" ->
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
        |GROUP BY 1""".stripMargin,
    // q156: change collapse via IS DISTINCT FROM lag (the engine's
    // null-safe <=>); the first row per key is always a version (a bare
    // lag compare would swallow a leading NULL value)
    "q156_scd2_intervals" ->
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
        |FROM w ORDER BY user_id, version""".stripMargin,
    // q157: native ntile(5) over the identical (metric, custkey) total
    // orders — pins the engine's rank-derived NTILE formula exactly
    "q157_rfm_segments" ->
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
        |FROM sc ORDER BY 1""".stripMargin,
    // q158: triangles in plain a<b<c form (orientation-invariant count
    // — the engine's degree-ordered census totals the same set)
    "q158_triangle_count" ->
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
    // q159: rank + running share stated as the single ordered window
    // the engine decomposes; class cut in HUGEINT cross-multiplication
    "q159_pareto_classes" ->
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
        |FROM r, t ORDER BY revenue_rank""".stripMargin,
    // q160: the cover-day explode via generate_series; distinct kills
    // multi-activity inside a window before counting
    "q160_rolling_active_users" ->
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
        |WHERE d >= lo AND d <= hi ORDER BY 1""".stripMargin,
    // q161: signed ppm via the subtract-nonnegative-remainder floor
    // idiom — exact whatever //'s negative semantics are
    "q161_monthly_growth" ->
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
        |FROM g ORDER BY month""".stripMargin,
    // q162: per-segment mode with the (count desc, priority asc) tie
    // rule stated as a window rank
    "q162_modal_priority" ->
      """WITH c AS (SELECT c_mktsegment, o_orderpriority, count(*) AS n
        |  FROM orders JOIN customer ON o_custkey = c_custkey
        |  GROUP BY 1, 2),
        |r AS (SELECT c_mktsegment, o_orderpriority, n, row_number()
        |    OVER (PARTITION BY c_mktsegment
        |      ORDER BY n DESC, o_orderpriority) AS rn FROM c)
        |SELECT c_mktsegment, o_orderpriority AS top_priority,
        |  CAST(n AS BIGINT) AS n_orders
        |FROM r WHERE rn = 1 ORDER BY c_mktsegment""".stripMargin,
    // q163: HUGEINT-exact d and denominator, one double square +
    // divide per cell (IEEE-identical to the engine), decimal total
    "q163_chi_square" ->
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
        |ORDER BY segment, priority""".stripMargin,
    // q164: per-key counts + two broadcast marginals, HUGEINT ppm
    "q164_key_skew" ->
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
        |ORDER BY cnt DESC, l_suppkey LIMIT 20""".stripMargin,
    // q165: DuckDB's native nfc_normalize replays the expression; md5
    // over the normalized UTF-8 bytes pins byte-exact equivalence
    "q165_nfc_normalize" ->
      """SELECT doc_id,
        |  CAST(length(nfc_normalize(text)) AS BIGINT) AS n_chars_nfc,
        |  md5(nfc_normalize(text)) AS nfc_md5
        |FROM documents ORDER BY doc_id""".stripMargin,
    // q166: the oracle states Q2's correlated min directly — per-part
    // row_number over (cost, suppkey) replays the argmin struct; min
    // of doubles is exact in both engines
    "q166_min_cost_supplier" ->
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
        |ORDER BY s_acctbal DESC, n_name, s_name, p_partkey""".stripMargin,
    // q167: distinct pairs then count distinct — integer counts, no
    // float anywhere; NOT IN is safe (s_suppkey is non-null)
    "q167_supplier_class_count" ->
      """SELECT p_brand, p_type, p_size,
        |  CAST(count(DISTINCT l_suppkey) AS BIGINT) AS supplier_cnt
        |FROM (SELECT DISTINCT l_partkey, l_suppkey FROM lineitem) li
        |JOIN part ON l_partkey = p_partkey
        |WHERE p_brand <> 'Brand#13' AND p_type NOT LIKE 'PROMO%'
        |  AND p_size IN (1,5,10,15,20,25,30,35)
        |  AND l_suppkey NOT IN
        |    (SELECT s_suppkey FROM supplier WHERE s_acctbal < 0)
        |GROUP BY 1,2,3
        |ORDER BY supplier_cnt DESC, p_brand, p_type, p_size""".stripMargin,
    // q168: decimal quantity sums and a cross-multiplied share test —
    // exact on both engines; output columns are keys and strings only
    "q168_dominant_suppliers" ->
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
        |ORDER BY s_suppkey""".stripMargin,
    // q169: RE2 replays the byte-level scrub as one character class;
    // md5 over the scrubbed UTF-8 bytes pins byte-exact equivalence
    "q169_strip_control" ->
      """SELECT doc_id,
        |  CAST(length(regexp_replace(text,
        |    '[\x00-\x08\x0b\x0c\x0e-\x1f\x7f\x{200B}-\x{200D}\x{FEFF}]',
        |    '', 'g')) AS BIGINT) AS n_chars_clean,
        |  md5(regexp_replace(text,
        |    '[\x00-\x08\x0b\x0c\x0e-\x1f\x7f\x{200B}-\x{200D}\x{FEFF}]',
        |    '', 'g')) AS clean_md5
        |FROM documents ORDER BY doc_id""".stripMargin,
    // q170: q98's textual shingle CTEs lifted to the source level —
    // distinct (source, shingle), pair intersections, HUGEINT ppm
    "q170_source_overlap" ->
      """WITH t AS (SELECT source, regexp_split_to_array(trim(text), '\s+') AS toks FROM documents),
        |sh AS (SELECT DISTINCT source, shingle FROM (
        |  SELECT source, unnest(CASE WHEN len(toks) >= 3
        |    THEN list_transform(generate_series(0, len(toks)-3), i -> array_to_string(toks[i+1:i+3], ' '))
        |    ELSE [array_to_string(toks, ' ')] END) AS shingle FROM t)),
        |sizes AS (SELECT source, CAST(count(*) AS BIGINT) AS sz
        |  FROM sh GROUP BY 1),
        |inter AS (SELECT x.source AS src_a, y.source AS src_b,
        |    CAST(count(*) AS BIGINT) AS inter
        |  FROM sh x JOIN sh y ON x.shingle = y.shingle
        |    AND x.source < y.source
        |  GROUP BY 1, 2)
        |SELECT src_a, src_b, inter, sa.sz AS sz_a, sb.sz AS sz_b,
        |  CAST((CAST(inter AS HUGEINT) * 1000000)
        |    // (sa.sz + sb.sz - inter) AS BIGINT) AS jaccard_ppm
        |FROM inter JOIN sizes sa ON src_a = sa.source
        |JOIN sizes sb ON src_b = sb.source
        |ORDER BY jaccard_ppm DESC, src_a, src_b""".stripMargin,
    // q121: the oracle states the as-of contract directly — greatest
    // (ts, id) at-or-before, per purchase, left-outer — as an argmax
    // over the (bounded-at-oracle-scale) range join the engine avoids
    "q121_asof_join" ->
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
        |WHERE rn = 1 ORDER BY user_id, event_id""".stripMargin,
    // q122: same window, same decimal frame, same (date, key) tiebreak
    "q122_running_revenue" ->
      """SELECT o_custkey, o_orderkey,
        |  strftime(o_orderdate, '%Y-%m-%d') AS order_date,
        |  CAST(sum(CAST(o_totalprice AS DECIMAL(18,2)))
        |    OVER (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
        |      ROWS UNBOUNDED PRECEDING) AS DOUBLE) AS running_total
        |FROM orders ORDER BY o_custkey, o_orderkey""".stripMargin,
    // q48: q36's machinery with the DF cut — shingles present in > 20
    // docs are dropped from BOTH candidate generation and the
    // size/intersection arithmetic on BOTH engines
    "q48_ngram_dfcut" ->
      """WITH t AS (SELECT doc_id, regexp_split_to_array(trim(text), '\s+') AS toks FROM documents),
        |sh AS (SELECT doc_id, unnest(list_distinct(
        |   CASE WHEN len(toks) >= 3
        |     THEN list_transform(generate_series(0, len(toks)-3), i -> array_to_string(toks[i+1:i+3], ' '))
        |     ELSE [array_to_string(toks, ' ')] END)) AS shingle FROM t),
        |rare AS (SELECT shingle FROM sh GROUP BY 1 HAVING count(*) <= 20),
        |shc AS (SELECT doc_id, sh.shingle FROM sh JOIN rare ON sh.shingle = rare.shingle),
        |sizes AS (SELECT doc_id, count(*) AS sz FROM shc GROUP BY 1),
        |inter AS (SELECT x.doc_id AS id_a, y.doc_id AS id_b, count(*) AS inter
        |  FROM shc x JOIN shc y ON x.shingle = y.shingle AND x.doc_id < y.doc_id
        |  GROUP BY 1, 2)
        |SELECT id_a, id_b,
        |  CAST(inter AS DOUBLE) / (sa.sz + sb.sz - inter) AS jaccard
        |FROM inter
        |JOIN sizes sa ON inter.id_a = sa.doc_id
        |JOIN sizes sb ON inter.id_b = sb.doc_id
        |WHERE CAST(inter AS DOUBLE) / (sa.sz + sb.sz - inter) >= 0.4""".stripMargin,
    // q53: the oracle re-derives the eval slice, the k=8 shingle sets
    // (with the same whole-doc fallback for <8-token texts), and the
    // contamination semi-join from shingle STRINGS — value-equivalent to
    // the engine's 64-bit shingle hashes (token strings carry no
    // whitespace, so space-joined token sequences are injective)
    "q53_decontaminate" ->
      """WITH t AS (SELECT doc_id, regexp_split_to_array(trim(text), '\s+') AS toks
        |  FROM documents WHERE text IS NOT NULL),
        |sh AS (SELECT doc_id, unnest(list_distinct(
        |   CASE WHEN len(toks) >= 8
        |     THEN list_transform(generate_series(0, len(toks)-8), i -> array_to_string(toks[i+1:i+8], ' '))
        |     ELSE [array_to_string(toks, ' ')] END)) AS shingle FROM t),
        |ev AS (SELECT DISTINCT shingle FROM sh WHERE doc_id % 37 = 0),
        |dirty AS (SELECT DISTINCT sh.doc_id FROM sh JOIN ev ON sh.shingle = ev.shingle)
        |SELECT doc_id, lang, source FROM documents
        |WHERE doc_id NOT IN (SELECT doc_id FROM dirty)""".stripMargin,
    // q54: same shingle/eval derivation as q53, but emitting the per-doc
    // distinct-shared-shingle counts (sh is per-doc distinct and ev is
    // globally distinct, so a plain join count = the distinct-hit count)
    "q54_contamination_hits" ->
      """WITH t AS (SELECT doc_id, regexp_split_to_array(trim(text), '\s+') AS toks
        |  FROM documents WHERE text IS NOT NULL),
        |sh AS (SELECT doc_id, unnest(list_distinct(
        |   CASE WHEN len(toks) >= 8
        |     THEN list_transform(generate_series(0, len(toks)-8), i -> array_to_string(toks[i+1:i+8], ' '))
        |     ELSE [array_to_string(toks, ' ')] END)) AS shingle FROM t),
        |ev AS (SELECT DISTINCT shingle FROM sh WHERE doc_id % 37 = 0)
        |SELECT sh.doc_id, CAST(count(*) AS BIGINT) AS hits
        |FROM sh JOIN ev ON sh.shingle = ev.shingle
        |GROUP BY sh.doc_id""".stripMargin,
    // q58: the oracle re-derives duplicated 8-grams as strings (engine
    // joins 64-bit hashes — the accepted 2⁻⁶⁴ collision pattern) and
    // replays the same gaps-and-islands merge in SQL windows
    // q70/q71: the oracle rebuilds the synthesized 3-line corpus from
    // the same columns, splits on chr(10), trims for the dup key
    // (distinct docs >= 2), and re-joins survivors in line order
    // (string_agg ORDER BY i ≡ the engine's in-array filter order).
    // A doc losing every line yields the empty string on both sides.
    "q70_line_dedup" ->
      s"""WITH d AS (SELECT doc_id, $footerLinesSql AS t FROM documents),
        |s AS (SELECT doc_id, string_split(t, chr(10)) AS lines FROM d),
        |e AS (SELECT doc_id, unnest(generate_series(1, len(lines))) AS i, lines FROM s),
        |el AS (SELECT doc_id, i, lines[i] AS ln FROM e),
        |k AS (SELECT DISTINCT doc_id, trim(ln) AS key FROM el WHERE trim(ln) <> ''),
        |dup AS (SELECT key FROM (SELECT key, count(*) AS c FROM k GROUP BY 1) WHERE c >= 2),
        |keep AS (SELECT doc_id, i, ln FROM el
        |  WHERE trim(ln) = '' OR trim(ln) NOT IN (SELECT key FROM dup)),
        |agg AS (SELECT doc_id, string_agg(ln, chr(10) ORDER BY i) AS text
        |  FROM keep GROUP BY doc_id)
        |SELECT d.doc_id, coalesce(a.text, '') AS text
        |FROM d LEFT JOIN agg a USING (doc_id)""".stripMargin,
    "q71_boilerplate_lines" ->
      s"""WITH d AS (SELECT doc_id, $footerLinesSql AS t FROM documents),
        |e AS (SELECT doc_id, unnest(string_split(t, chr(10))) AS ln FROM d),
        |k AS (SELECT DISTINCT doc_id, trim(ln) AS key FROM e WHERE trim(ln) <> ''),
        |dupk AS (SELECT key, count(*) AS df FROM k GROUP BY 1 HAVING count(*) >= 2),
        |occ AS (SELECT DISTINCT e.ln AS line, dk.df FROM e
        |  JOIN dupk dk ON trim(e.ln) = dk.key)
        |SELECT line, df FROM occ ORDER BY df DESC, line LIMIT 50""".stripMargin,
    "q58_duplicated_spans" ->
      """WITH t AS (SELECT doc_id, regexp_split_to_array(trim(text), '\s+') AS toks
        |  FROM documents WHERE text IS NOT NULL),
        |lt AS (SELECT * FROM t WHERE len(toks) >= 8),
        |g AS (SELECT doc_id, unnest(generate_series(0, len(toks)-8)) AS p, toks FROM lt),
        |gg AS (SELECT doc_id, p, array_to_string(toks[p+1:p+8], ' ') AS gram FROM g),
        |df AS (SELECT gram FROM (SELECT gram, count(*) AS dd
        |   FROM (SELECT DISTINCT doc_id, gram FROM gg) GROUP BY 1) WHERE dd >= 2),
        |hits AS (SELECT doc_id, p FROM gg WHERE gram IN (SELECT gram FROM df)),
        |isl AS (SELECT doc_id, p, CASE WHEN p > lag(p)
        |   OVER (PARTITION BY doc_id ORDER BY p) + 8 THEN 1 ELSE 0 END AS brk FROM hits),
        |grp AS (SELECT doc_id, p, sum(brk)
        |   OVER (PARTITION BY doc_id ORDER BY p) AS island FROM isl)
        |SELECT doc_id, CAST(min(p) AS BIGINT) AS span_start,
        |  CAST(max(p) + 8 AS BIGINT) AS span_end, count(*) AS n_grams
        |FROM grp GROUP BY doc_id, island""".stripMargin,
    // q59: same shingle derivation as q53 (incl. the short-doc fallback),
    // roles reversed: new slice (doc_id % 10 = 0) vs history (the rest).
    // The engine's bloom is prefilter-only, so exact SQL is the oracle.
    "q59_dedup_vs_history" ->
      """WITH t AS (SELECT doc_id, regexp_split_to_array(trim(text), '\s+') AS toks
        |  FROM documents WHERE text IS NOT NULL),
        |sh AS (SELECT doc_id, unnest(list_distinct(
        |   CASE WHEN len(toks) >= 8
        |     THEN list_transform(generate_series(0, len(toks)-8), i -> array_to_string(toks[i+1:i+8], ' '))
        |     ELSE [array_to_string(toks, ' ')] END)) AS shingle FROM t),
        |hist AS (SELECT DISTINCT shingle FROM sh WHERE doc_id % 10 <> 0),
        |dirty AS (SELECT DISTINCT sh.doc_id FROM sh
        |  JOIN hist ON sh.shingle = hist.shingle WHERE sh.doc_id % 10 = 0)
        |SELECT doc_id, lang, source FROM documents
        |WHERE doc_id % 10 = 0 AND doc_id NOT IN (SELECT doc_id FROM dirty)""".stripMargin,
    // q55: the oracle recomputes the portable-hash coin from the doc id
    // string and applies the identical integer-ppm CASE ladder
    "q55_corpus_mix" ->
      s"""WITH t AS (SELECT doc_id, source, CAST(doc_id AS VARCHAR) AS tok FROM documents),
         |h AS (SELECT doc_id, source,
         |   ($polyAsql + ($polyBsql << 31)) % 1000000 AS coin FROM t)
         |SELECT doc_id, source FROM h
         |WHERE coin < CASE source WHEN 'src0' THEN 1000000
         |  WHEN 'src1' THEN 750000 WHEN 'src2' THEN 500000
         |  WHEN 'src3' THEN 250000 ELSE 100000 END""".stripMargin,
    // q56: plain global-window prefix — the semantics anchor for the
    // engine's bucketed distributed decomposition (quality formula = q33)
    "q56_budget_select" ->
      s"""WITH t AS (SELECT doc_id, text, $tokensSql AS toks FROM documents
         |  WHERE text IS NOT NULL),
         |m AS (SELECT doc_id,
         |  CAST(len(toks) AS BIGINT) AS n_tokens,
         |  greatest(CAST(len(toks) AS BIGINT), 1) AS toks_n,
         |  CAST(len(list_filter(toks, x -> x IN ($enStop))) AS BIGINT) AS sw,
         |  CAST(len(regexp_extract_all(text, '[.,!?;:]')) AS DOUBLE)
         |    / greatest(length(text), 1) AS punct_ratio
         | FROM t),
         |q AS (SELECT doc_id, n_tokens,
         | CAST(least(n_tokens, 100) * 4000
         |   + (CASE WHEN punct_ratio < CAST(0.2 AS DOUBLE) THEN 300000 ELSE 90000 END)
         |   + ((least((sw * 5000000) // toks_n, 1000000) * 3) // 10)
         |  AS DOUBLE) / CAST(1000000.0 AS DOUBLE) AS quality
         |FROM m),
         |c AS (SELECT doc_id, quality, n_tokens,
         |  sum(n_tokens) OVER (ORDER BY quality DESC, doc_id
         |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum FROM q)
         |SELECT doc_id, quality, n_tokens FROM c WHERE cum <= 20000""".stripMargin,
    // q68: same integer cross-multiplied rule arithmetic; newline split
    // via chr(10) (Spark's split("\n") regex sees a literal newline)
    "q68_gopher_rules" ->
      s"""WITH t AS (SELECT doc_id, text, $tokensSql AS toks,
         |  string_split(text, chr(10)) AS lines FROM documents
         |  WHERE text IS NOT NULL),
         |m AS (SELECT doc_id,
         |  CAST(len(toks) AS BIGINT) AS n,
         |  CAST(length(regexp_replace(text, '\\s', '', 'g')) AS BIGINT) AS cns,
         |  CAST(len(regexp_extract_all(text, '[#…]')) AS BIGINT) AS sym,
         |  CAST(len(lines) AS BIGINT) AS nl,
         |  CAST(len(list_filter(lines, l -> regexp_matches(l, '^\\s*[-*•]'))) AS BIGINT) AS bul,
         |  CAST(len(list_filter(toks, x -> regexp_matches(x, '[A-Za-z]'))) AS BIGINT) AS alpha,
         |  CAST(len(list_filter(toks, x -> x IN ($enStop))) AS BIGINT) AS sw
         | FROM t),
         |f AS (SELECT doc_id,
         |  (n >= 50 AND n <= 100000) AS word_count_ok,
         |  (cns >= n * 3 AND cns <= n * 10) AS mean_len_ok,
         |  (sym * 10 <= n) AS symbol_ok,
         |  (bul * 10 <= nl * 9) AS bullet_ok,
         |  (alpha * 5 >= n * 4) AS alpha_ok,
         |  (sw >= 2) AS stopword_ok
         | FROM m)
         |SELECT doc_id, word_count_ok, mean_len_ok, symbol_ok, bullet_ok,
         |  alpha_ok, stopword_ok,
         |  (word_count_ok AND mean_len_ok AND symbol_ok AND bullet_ok
         |    AND alpha_ok AND stopword_ok) AS gopher_pass
         |FROM f""".stripMargin,
    // q67: string bigrams re-derive the engine's hash groups (the
    // accepted 2^-64 collision pattern); positional multiplicity is the
    // point — the join carries one row per occurrence
    "q67_typicality" ->
      """WITH t AS (SELECT doc_id, regexp_split_to_array(trim(text), '\s+') AS toks
        |  FROM documents WHERE text IS NOT NULL),
        |bg AS (SELECT doc_id, unnest(
        |   CASE WHEN len(toks) >= 2
        |     THEN list_transform(generate_series(0, len(toks)-2), i -> array_to_string(toks[i+1:i+2], ' '))
        |     ELSE [array_to_string(toks, ' ')] END) AS b FROM t),
        |cf AS (SELECT b, count(*) AS c FROM bg GROUP BY 1)
        |SELECT bg.doc_id, count(*) AS n_bigrams,
        |  CAST(sum(cf.c) AS BIGINT) AS cf_sum,
        |  CAST(CAST(sum(cf.c) AS BIGINT) AS DOUBLE) / count(*) AS typicality
        |FROM bg JOIN cf USING (b) GROUP BY 1""".stripMargin,
    // q72: the oracle recomputes the hashed-bigram buckets with the
    // portable polynomial hash, both smoothed count tables, and the
    // SAME fixed-point logs L(n) = floor(ln(n)*1e6) on integer
    // arguments — the sums are then exact 64-bit arithmetic on both
    // engines, and the display weight is one IEEE division
    "q72_dsir_weights" ->
      s"""WITH t AS (SELECT doc_id, regexp_split_to_array(trim(text), '\\s+') AS toks
         |  FROM documents WHERE text IS NOT NULL),
         |g AS (SELECT doc_id, list_transform(
         |   CASE WHEN len(toks) >= 2
         |     THEN list_transform(generate_series(0, len(toks)-2), i -> array_to_string(toks[i+1:i+2], ' '))
         |     ELSE [array_to_string(toks, ' ')] END,
         |   tok -> ($polyAsql + ($polyBsql << 31)) % 512) AS fs FROM t),
         |rf AS (SELECT doc_id, unnest(fs) AS f FROM g),
         |rc AS (SELECT f, count(*) AS cr FROM rf GROUP BY 1),
         |tc AS (SELECT f, count(*) AS ct FROM rf WHERE doc_id % 23 = 0 GROUP BY 1),
         |fl AS (SELECT rc.f,
         |   CAST(floor(ln(coalesce(tc.ct, 0) + 1) * 1000000) AS BIGINT)
         |   - CAST(floor(ln(rc.cr + 1) * 1000000) AS BIGINT) AS lr
         |  FROM rc LEFT JOIN tc USING (f)),
         |tot AS (SELECT
         |   CAST(floor(ln((SELECT sum(cr) FROM rc) + 512) * 1000000) AS BIGINT)
         |   - CAST(floor(ln((SELECT coalesce(sum(ct), 0) FROM tc) + 512) * 1000000) AS BIGINT) AS lnorm),
         |pd AS (SELECT doc_id, f, count(*) AS c FROM rf GROUP BY 1, 2),
         |agg AS (SELECT pd.doc_id, CAST(sum(pd.c) AS BIGINT) AS n_feats,
         |   CAST(sum(pd.c * fl.lr) AS BIGINT) AS s
         |  FROM pd JOIN fl ON pd.f = fl.f GROUP BY 1)
         |SELECT doc_id, n_feats,
         |  s + n_feats * (SELECT lnorm FROM tot) AS dsir_weight_fp,
         |  CAST(s + n_feats * (SELECT lnorm FROM tot) AS DOUBLE) / 1000000.0 AS dsir_weight
         |FROM agg""".stripMargin,
    // q75: q72's weight CTEs, min-shifted to positive integers, then the
    // systematic resampler as declarative SQL — global cumulative-weight
    // window lays the intervals, 128 interval-midpoint thresholds (exact
    // hugeint floor division) probe by containment. DuckDB's hugeint
    // sums make W·(2j+1) exact; Spark's side proves the same result
    // with BigInt driver thresholds + 64-bit laid intervals
    "q75_dsir_resample" ->
      s"""WITH t AS (SELECT doc_id, regexp_split_to_array(trim(text), '\\s+') AS toks
         |  FROM documents WHERE text IS NOT NULL),
         |g AS (SELECT doc_id, list_transform(
         |   CASE WHEN len(toks) >= 2
         |     THEN list_transform(generate_series(0, len(toks)-2), i -> array_to_string(toks[i+1:i+2], ' '))
         |     ELSE [array_to_string(toks, ' ')] END,
         |   tok -> ($polyAsql + ($polyBsql << 31)) % 512) AS fs FROM t),
         |rf AS (SELECT doc_id, unnest(fs) AS f FROM g),
         |rc AS (SELECT f, count(*) AS cr FROM rf GROUP BY 1),
         |tc AS (SELECT f, count(*) AS ct FROM rf WHERE doc_id % 23 = 0 GROUP BY 1),
         |fl AS (SELECT rc.f,
         |   CAST(floor(ln(coalesce(tc.ct, 0) + 1) * 1000000) AS BIGINT)
         |   - CAST(floor(ln(rc.cr + 1) * 1000000) AS BIGINT) AS lr
         |  FROM rc LEFT JOIN tc USING (f)),
         |tot AS (SELECT
         |   CAST(floor(ln((SELECT sum(cr) FROM rc) + 512) * 1000000) AS BIGINT)
         |   - CAST(floor(ln((SELECT coalesce(sum(ct), 0) FROM tc) + 512) * 1000000) AS BIGINT) AS lnorm),
         |pd AS (SELECT doc_id, f, count(*) AS c FROM rf GROUP BY 1, 2),
         |agg AS (SELECT pd.doc_id, CAST(sum(pd.c) AS BIGINT) AS n_feats,
         |   CAST(sum(pd.c * fl.lr) AS BIGINT) AS s
         |  FROM pd JOIN fl ON pd.f = fl.f GROUP BY 1),
         |wts AS (SELECT doc_id,
         |   s + n_feats * (SELECT lnorm FROM tot) AS fp FROM agg),
         |w AS (SELECT doc_id,
         |   fp - (SELECT min(fp) FROM wts) + 1 AS w FROM wts),
         |laid AS (SELECT doc_id, w,
         |   sum(w) OVER (ORDER BY doc_id) AS hi FROM w),
         |th AS (SELECT ((SELECT sum(w) FROM w) * (2*j + 1)) // (2*128) AS t
         |  FROM range(0, 128) AS r(j))
         |SELECT laid.doc_id, CAST(laid.w AS BIGINT) AS weight_fp,
         |  count(*) AS n_copies
         |FROM laid JOIN th ON th.t >= laid.hi - laid.w AND th.t < laid.hi
         |GROUP BY 1, 2 ORDER BY 1""".stripMargin,
    // q73: q36's exact-Jaccard CTE at J >= 0.4, then both pair ends
    // joined back to their source and rolled up unordered
    // (least/greatest) — the engine's matrix replayed relationally
    "q73_neardup_source_matrix" ->
      """WITH t AS (SELECT doc_id, regexp_split_to_array(trim(text), '\s+') AS toks FROM documents),
        |sh AS (SELECT doc_id, unnest(list_distinct(
        |   CASE WHEN len(toks) >= 3
        |     THEN list_transform(generate_series(0, len(toks)-3), i -> array_to_string(toks[i+1:i+3], ' '))
        |     ELSE [array_to_string(toks, ' ')] END)) AS shingle FROM t),
        |sizes AS (SELECT doc_id, count(*) AS sz FROM sh GROUP BY 1),
        |inter AS (SELECT x.doc_id AS id_a, y.doc_id AS id_b, count(*) AS inter
        |  FROM sh x JOIN sh y ON x.shingle = y.shingle AND x.doc_id < y.doc_id
        |  GROUP BY 1, 2),
        |p AS (SELECT id_a, id_b FROM inter
        |  JOIN sizes sa ON inter.id_a = sa.doc_id
        |  JOIN sizes sb ON inter.id_b = sb.doc_id
        |  WHERE CAST(inter AS DOUBLE) / (sa.sz + sb.sz - inter) >= 0.4),
        |m AS (SELECT least(da.source, db.source) AS source_a,
        |    greatest(da.source, db.source) AS source_b
        |  FROM p JOIN documents da ON p.id_a = da.doc_id
        |  JOIN documents db ON p.id_b = db.doc_id)
        |SELECT source_a, source_b, count(*) AS pair_count
        |FROM m GROUP BY 1, 2""".stripMargin,
    // q74: same pair CTE, then components by declarative transitive
    // closure (reach = everything connected by some path; min reachable
    // id = the component label; (a,a) enters reach via any 2-cycle, so
    // min includes the node itself). The iterative Spark CC and this
    // fixpoint SQL must agree because the histogram only sees the
    // partition, never the labels
    "q74_neardup_cluster_sizes" ->
      """WITH RECURSIVE t AS (SELECT doc_id, regexp_split_to_array(trim(text), '\s+') AS toks FROM documents),
        |sh AS (SELECT doc_id, unnest(list_distinct(
        |   CASE WHEN len(toks) >= 3
        |     THEN list_transform(generate_series(0, len(toks)-3), i -> array_to_string(toks[i+1:i+3], ' '))
        |     ELSE [array_to_string(toks, ' ')] END)) AS shingle FROM t),
        |sizes AS (SELECT doc_id, count(*) AS sz FROM sh GROUP BY 1),
        |inter AS (SELECT x.doc_id AS id_a, y.doc_id AS id_b, count(*) AS inter
        |  FROM sh x JOIN sh y ON x.shingle = y.shingle AND x.doc_id < y.doc_id
        |  GROUP BY 1, 2),
        |p AS (SELECT id_a, id_b FROM inter
        |  JOIN sizes sa ON inter.id_a = sa.doc_id
        |  JOIN sizes sb ON inter.id_b = sb.doc_id
        |  WHERE CAST(inter AS DOUBLE) / (sa.sz + sb.sz - inter) >= 0.4),
        |edges AS (SELECT id_a AS a, id_b AS b FROM p
        |  UNION SELECT id_b, id_a FROM p),
        |reach(a, b) AS (SELECT a, b FROM edges
        |  UNION SELECT r.a, e.b FROM reach r JOIN edges e ON r.b = e.a),
        |comp AS (SELECT a AS id, min(b) AS component FROM reach GROUP BY a),
        |csz AS (SELECT component, count(*) AS cluster_size FROM comp GROUP BY 1)
        |SELECT cluster_size, count(*) AS n_clusters
        |FROM csz GROUP BY 1 ORDER BY 1""".stripMargin,
    // q123: q74's pair CTE, then one integral PageRank step — floor
    // divisions replayed with // on positive BIGINTs
    "q123_pagerank_step" ->
      """WITH t AS (SELECT doc_id, regexp_split_to_array(trim(text), '\s+') AS toks FROM documents),
        |sh AS (SELECT doc_id, unnest(list_distinct(
        |   CASE WHEN len(toks) >= 3
        |     THEN list_transform(generate_series(0, len(toks)-3), i -> array_to_string(toks[i+1:i+3], ' '))
        |     ELSE [array_to_string(toks, ' ')] END)) AS shingle FROM t),
        |sizes AS (SELECT doc_id, count(*) AS sz FROM sh GROUP BY 1),
        |inter AS (SELECT x.doc_id AS id_a, y.doc_id AS id_b, count(*) AS inter
        |  FROM sh x JOIN sh y ON x.shingle = y.shingle AND x.doc_id < y.doc_id
        |  GROUP BY 1, 2),
        |p AS (SELECT id_a, id_b FROM inter
        |  JOIN sizes sa ON inter.id_a = sa.doc_id
        |  JOIN sizes sb ON inter.id_b = sb.doc_id
        |  WHERE CAST(inter AS DOUBLE) / (sa.sz + sb.sz - inter) >= 0.4),
        |m AS (SELECT id_a AS u, id_b AS v FROM p
        |  UNION ALL SELECT id_b, id_a FROM p),
        |deg AS (SELECT u, count(*) AS deg FROM m GROUP BY 1),
        |contrib AS (SELECT m.v, CAST(1000000 // deg.deg AS BIGINT) AS c
        |  FROM m JOIN deg ON m.u = deg.u),
        |s AS (SELECT v AS doc_id, CAST(sum(c) AS BIGINT) AS sc FROM contrib GROUP BY 1)
        |SELECT doc_id, 150000 + CAST((85 * sc) // 100 AS BIGINT) AS pr_fp
        |FROM s ORDER BY doc_id""".stripMargin,
    // q124: the merge fold as sequential non-overlapping replaces on a
    // one-guard-each, two-space-separated symbol string — per-symbol
    // private guards make DuckDB's input-scan replace EQUAL the
    // engine's left-to-right fold (shared-separator encodings are not
    // equal: adjacent matches overlap on the shared space)
    "q124_bpe_encode" ->
      """WITH t AS (SELECT doc_id, unnest(regexp_split_to_array(trim(text), '\s+')) AS word
        |  FROM documents WHERE text IS NOT NULL),
        |w AS (SELECT doc_id, word FROM t WHERE word <> ''),
        |enc AS (SELECT doc_id,
        |  replace(replace(replace(replace(replace(replace(
        |    ' ' || array_to_string(string_split(word, ''), '  ') || ' ',
        |    ' e  r ', ' er '), ' i  n ', ' in '), ' s  t ', ' st '),
        |    ' t  a ', ' ta '), ' ta  b ', ' tab '), ' er  g ', ' erg ') AS s
        |  FROM w),
        |syms AS (SELECT doc_id, unnest(string_split(trim(s, ' '), '  ')) AS sym FROM enc)
        |SELECT doc_id, count(*) AS n_subwords, count(DISTINCT sym) AS n_distinct
        |FROM syms GROUP BY 1 ORDER BY 1""".stripMargin,
    // q76: identical closure, but emitting the labels themselves — the
    // min reachable id IS the converged min-label fixpoint
    "q76_dedup_redirect_map" ->
      """WITH RECURSIVE t AS (SELECT doc_id, regexp_split_to_array(trim(text), '\s+') AS toks FROM documents),
        |sh AS (SELECT doc_id, unnest(list_distinct(
        |   CASE WHEN len(toks) >= 3
        |     THEN list_transform(generate_series(0, len(toks)-3), i -> array_to_string(toks[i+1:i+3], ' '))
        |     ELSE [array_to_string(toks, ' ')] END)) AS shingle FROM t),
        |sizes AS (SELECT doc_id, count(*) AS sz FROM sh GROUP BY 1),
        |inter AS (SELECT x.doc_id AS id_a, y.doc_id AS id_b, count(*) AS inter
        |  FROM sh x JOIN sh y ON x.shingle = y.shingle AND x.doc_id < y.doc_id
        |  GROUP BY 1, 2),
        |p AS (SELECT id_a, id_b FROM inter
        |  JOIN sizes sa ON inter.id_a = sa.doc_id
        |  JOIN sizes sb ON inter.id_b = sb.doc_id
        |  WHERE CAST(inter AS DOUBLE) / (sa.sz + sb.sz - inter) >= 0.4),
        |edges AS (SELECT id_a AS a, id_b AS b FROM p
        |  UNION SELECT id_b, id_a FROM p),
        |reach(a, b) AS (SELECT a, b FROM edges
        |  UNION SELECT r.a, e.b FROM reach r JOIN edges e ON r.b = e.a)
        |SELECT a AS doc_id, min(b) AS canonical_id
        |FROM reach GROUP BY a ORDER BY 1""".stripMargin,
    // q77: PQ encode + ADC replayed declaratively — codebooks are the
    // first-8 vectors' subspace slices, per-subspace argmin via
    // correlated min-distance subqueries (the q45 pattern), ADC as the
    // same left-associated 4-term sum of sequential Σ(δ²) folds
    // (list_zip + list_sum ≡ Spark's zip_with + aggregate, bit-exact)
    "q77_ann_pq_topk" ->
      s"""WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS emb FROM embeddings),
         |q AS (SELECT emb AS qe FROM e WHERE vec_id = 0),
         |cent AS (SELECT vec_id AS k, emb AS cemb FROM e WHERE vec_id < 8),
         |codes AS (SELECT v.vec_id, $pqCodeColsSql FROM e v)
         |SELECT vec_id, round($pqAdistSql, 6) AS adist
         |FROM codes ORDER BY adist, vec_id LIMIT 10""".stripMargin,
    // q78: q45's cell assignment + probe-cell choice gate q77's
    // encode/ADC — only vectors in the query's 3 nearest cells are
    // coded and scored
    "q78_ann_ivfpq_topk" ->
      s"""WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS emb FROM embeddings),
         |q AS (SELECT emb AS qe FROM e WHERE vec_id = 0),
         |cent AS (SELECT vec_id AS k, emb AS cemb FROM e WHERE vec_id < 8),
         |assign AS (SELECT v.vec_id, v.emb,
         |  (SELECT k FROM cent ORDER BY list_cosine_similarity(v.emb, cemb) DESC, k LIMIT 1) AS cell
         |  FROM e v),
         |qcells AS (SELECT k AS c FROM cent, q ORDER BY list_cosine_similarity(qe, cemb) DESC, k LIMIT 3),
         |codes AS (SELECT v.vec_id, $pqCodeColsSql
         |  FROM assign v WHERE v.cell IN (SELECT c FROM qcells))
         |SELECT vec_id, round($pqAdistSql, 6) AS adist
         |FROM codes ORDER BY adist, vec_id LIMIT 10""".stripMargin,
    // q66: same salted coin, same per-stratum rank with key tiebreak
    "q66_sample_exactk" ->
      s"""WITH t AS (SELECT doc_id, source, CAST(doc_id AS VARCHAR) || '#exactk' AS tok FROM documents),
         |h AS (SELECT doc_id, source,
         |   ($polyAsql + ($polyBsql << 31)) % 1000000 AS coin FROM t),
         |r AS (SELECT doc_id, source,
         |   row_number() OVER (PARTITION BY source ORDER BY coin, doc_id) AS rn FROM h)
         |SELECT doc_id, source FROM r WHERE rn <= 20""".stripMargin,
    // q57: the oracle recomputes the salted coin and the cumulative-ppm
    // CASE ladder (80/10/10)
    "q57_split_assign" ->
      s"""WITH t AS (SELECT doc_id, CAST(doc_id AS VARCHAR) || '#split' AS tok FROM documents),
         |h AS (SELECT doc_id,
         |   ($polyAsql + ($polyBsql << 31)) % 1000000 AS coin FROM t)
         |SELECT doc_id, CASE WHEN coin < 800000 THEN 'train'
         |  WHEN coin < 900000 THEN 'val' ELSE 'test' END AS split
         |FROM h""".stripMargin,
    // q61: word-count semantics — df over distinct (token, doc) pairs,
    // q171: q76's recursive-CTE canonical id feeds q57's split coin —
    // group members share one coin, so they share one split
    "q171_leakage_safe_splits" ->
      s"""WITH RECURSIVE tt AS (SELECT doc_id, $tokensSql AS toks FROM documents),
         |sh AS (SELECT doc_id, unnest(list_distinct(
         |   CASE WHEN len(toks) >= 3
         |     THEN list_transform(generate_series(0, len(toks)-3), i -> array_to_string(toks[i+1:i+3], ' '))
         |     ELSE [array_to_string(toks, ' ')] END)) AS shingle FROM tt),
         |sizes AS (SELECT doc_id, count(*) AS sz FROM sh GROUP BY 1),
         |inter AS (SELECT x.doc_id AS id_a, y.doc_id AS id_b, count(*) AS inter
         |  FROM sh x JOIN sh y ON x.shingle = y.shingle AND x.doc_id < y.doc_id
         |  GROUP BY 1, 2),
         |p AS (SELECT id_a, id_b FROM inter
         |  JOIN sizes sa ON inter.id_a = sa.doc_id
         |  JOIN sizes sb ON inter.id_b = sb.doc_id
         |  WHERE CAST(inter AS DOUBLE) / (sa.sz + sb.sz - inter) >= 0.4),
         |edges AS (SELECT id_a AS a, id_b AS b FROM p
         |  UNION SELECT id_b, id_a FROM p),
         |reach(a, b) AS (SELECT a, b FROM edges
         |  UNION SELECT r.a, e.b FROM reach r JOIN edges e ON r.b = e.a),
         |canon AS (SELECT a AS doc_id, min(b) AS grp FROM reach GROUP BY a),
         |g AS (SELECT d.doc_id, COALESCE(c.grp, d.doc_id) AS group_id
         |  FROM documents d LEFT JOIN canon c ON d.doc_id = c.doc_id),
         |t AS (SELECT doc_id, group_id,
         |  CAST(group_id AS VARCHAR) || '#split' AS tok FROM g),
         |h AS (SELECT doc_id, group_id,
         |  ($polyAsql + ($polyBsql << 31)) % 1000000 AS coin FROM t)
         |SELECT doc_id, group_id, CASE WHEN coin < 800000 THEN 'train'
         |  WHEN coin < 900000 THEN 'val' ELSE 'test' END AS split
         |FROM h ORDER BY doc_id""".stripMargin,
    // q172: the same pre-scaled integer deviations (n·x − T per prefix
    // step) and the same max-reset-free prefix-min/max identity, in
    // HUGEINT; floor-div back to cents only at the end
    "q172_cusum_shift" ->
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
    // q173: same per-customer (day, key) lag, same bounded (segment,
    // gap) histogram with running-count quantile picks; mean is the
    // single IEEE division of exact integers
    "q173_repeat_intervals" ->
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
        |FROM s GROUP BY segment ORDER BY segment""".stripMargin,
    // q174: q144/q158's edge set (distinct baskets, canonical a < b
    // pairs, support >= 2), rolled to the per-part degree histogram
    "q174_copurchase_degrees" ->
      """WITH b AS (SELECT DISTINCT l_orderkey AS o, l_partkey AS p
        |  FROM lineitem),
        |e AS (SELECT a.p AS x, c.p AS y FROM b a
        |  JOIN b c ON a.o = c.o AND a.p < c.p
        |  GROUP BY 1, 2 HAVING count(*) >= 2),
        |d AS (SELECT part, count(*) AS degree FROM
        |  (SELECT x AS part FROM e UNION ALL SELECT y FROM e) GROUP BY 1)
        |SELECT CAST(degree AS BIGINT) AS degree,
        |  CAST(count(*) AS BIGINT) AS n_parts
        |FROM d GROUP BY 1 ORDER BY 1""".stripMargin,
    // q175: native ntile(10) over the identical (price, key) total
    // order — pins the engine's rank-derived NTILE decomposition
    "q175_value_deciles" ->
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
    // q176: same per-supplier exact-micros rollup, same floored ppm
    // shares against the nation total, HHI in HUGEINT cross-products
    "q176_supplier_hhi" ->
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
        |FROM sh GROUP BY 1 ORDER BY 1""".stripMargin,
    // q177: the oracle states the BETWEEN contract directly — q156's
    // SCD2 CTE over status events, purchases left-joined into the
    // interval containing them (the engine executes the same match as
    // an as-of carry-forward, never this range join)
    "q177_scd2_pointintime" ->
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
    // q178: same integral month index, same per-customer min window,
    // exact-cents revenue through the decimal render
    "q178_cohort_revenue" ->
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
        |FROM w GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,
    // q179: "new" = the order's month equals the customer's first
    // month, so the two distinct counts are disjoint by construction
    "q179_new_vs_returning" ->
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
        |FROM w GROUP BY 1 ORDER BY 1""".stripMargin,
    // q180: same tokenizer, same (freq desc, token) head cut, same
    // integer-ln fixed point and HUGEINT cross-products; floor division
    // via the subtract-nonnegative-remainder idiom (slope is negative)
    "q180_zipf_slope" ->
      """WITH t AS (SELECT unnest(regexp_split_to_array(trim(text), '\s+')) AS tok
        |  FROM documents WHERE text IS NOT NULL),
        |f AS (SELECT tok, count(*) AS f FROM t WHERE tok <> ''
        |  GROUP BY 1 ORDER BY f DESC, tok LIMIT 1000),
        |r AS (SELECT f, row_number() OVER (ORDER BY f DESC, tok) AS r FROM f),
        |xy AS (SELECT CAST(floor(ln(r) * 1000000) AS BIGINT) AS x,
        |  CAST(floor(ln(f) * 1000000) AS BIGINT) AS y FROM r),
        |s AS (SELECT CAST(count(*) AS HUGEINT) AS n,
        |  CAST(sum(x) AS HUGEINT) AS sx, CAST(sum(y) AS HUGEINT) AS sy,
        |  sum(CAST(x AS HUGEINT) * y) AS sxy,
        |  sum(CAST(x AS HUGEINT) * x) AS sxx FROM xy)
        |SELECT CAST(n AS BIGINT) AS n_tokens,
        |  CASE WHEN n * sxx - sx * sx = 0 THEN NULL ELSE
        |    CAST(((n * sxy - sx * sy) * 1000000
        |      - (((n * sxy - sx * sy) * 1000000) % (n * sxx - sx * sx)
        |        + (n * sxx - sx * sx)) % (n * sxx - sx * sx))
        |      // (n * sxx - sx * sx) AS BIGINT) END AS slope_ppm
        |FROM s""".stripMargin,
    // q181: the scalar-total HAVING stated as the cross-multiplied
    // predicate over the same single per-part rollup, shares in
    // floored HUGEINT ppm
    "q181_important_parts" ->
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
    // q182: the same CASE-sum pivot over the date-windowed join
    "q182_priority_by_flag" ->
      """SELECT l_returnflag,
        |  CAST(sum(CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH')
        |    THEN 1 ELSE 0 END) AS BIGINT) AS high_priority,
        |  CAST(sum(CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH')
        |    THEN 0 ELSE 1 END) AS BIGINT) AS low_priority
        |FROM lineitem JOIN orders ON l_orderkey = o_orderkey
        |WHERE l_shipdate >= TIMESTAMP '1996-01-01'
        |  AND l_shipdate < TIMESTAMP '1998-01-01'
        |GROUP BY 1 ORDER BY 1""".stripMargin,
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
    "q183_props_rollup" ->
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
        |FROM x GROUP BY 1 ORDER BY 1""".stripMargin,
    // q184: the dense query×corpus scan stated directly; boundary
    // tests and rank on the ROUNDED cosine with the id tiebreak —
    // identical selection on both engines
    "q184_hard_negatives" ->
      """WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS emb
        |  FROM embeddings),
        |q AS (SELECT vec_id AS query_id, emb AS qe FROM e
        |  WHERE vec_id % 199 = 0),
        |c AS (SELECT q.query_id, e.vec_id AS neg_id,
        |    round(list_cosine_similarity(e.emb, q.qe), 6) AS cosine
        |  FROM e, q WHERE e.vec_id <> q.query_id),
        |f AS (SELECT query_id, neg_id, cosine,
        |    CAST(row_number() OVER (PARTITION BY query_id
        |      ORDER BY cosine DESC, neg_id) AS BIGINT) AS rank
        |  FROM c WHERE cosine >= 0.0 AND cosine <= 0.95)
        |SELECT query_id, neg_id, rank, cosine FROM f WHERE rank <= 5
        |ORDER BY query_id, rank""".stripMargin,
    // q185: q45's fixed-centroid quantizer replayed end-to-end for a
    // query SET (assignment, per-query probe cells via LATERAL top-3,
    // in-candidate top-10) against the brute top-10 — recall counted
    // on the identical rounded-cosine/id ordering
    "q185_ann_recall" ->
      """WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS emb
        |  FROM embeddings),
        |cent AS (SELECT vec_id AS c, emb AS cemb FROM e WHERE vec_id < 8),
        |assign AS (SELECT v.vec_id, v.emb,
        |  (SELECT c FROM cent ORDER BY list_cosine_similarity(v.emb, cemb)
        |     DESC, c LIMIT 1) AS cell FROM e v),
        |q AS (SELECT vec_id AS query_id, emb AS qe FROM e
        |  WHERE vec_id % 199 = 0),
        |probes AS (SELECT query_id, qe, pc.c AS cell FROM q,
        |  LATERAL (SELECT c FROM cent
        |    ORDER BY list_cosine_similarity(qe, cemb) DESC, c LIMIT 3) pc),
        |cand AS (SELECT DISTINCT p.query_id, p.qe, a.vec_id AS cand_id,
        |    a.emb FROM probes p JOIN assign a ON a.cell = p.cell
        |  WHERE a.vec_id <> p.query_id),
        |ivfk AS (SELECT query_id, cand_id FROM (
        |  SELECT query_id, cand_id, row_number() OVER (PARTITION BY query_id
        |      ORDER BY round(list_cosine_similarity(emb, qe), 6) DESC,
        |        cand_id) AS rnk
        |  FROM cand) WHERE rnk <= 10),
        |brutek AS (SELECT query_id, cand_id FROM (
        |  SELECT q.query_id, e.vec_id AS cand_id,
        |    row_number() OVER (PARTITION BY q.query_id
        |      ORDER BY round(list_cosine_similarity(e.emb, q.qe), 6) DESC,
        |        e.vec_id) AS rnk
        |  FROM e, q WHERE e.vec_id <> q.query_id) WHERE rnk <= 10),
        |h AS (SELECT i.query_id, count(*) AS n FROM ivfk i
        |  JOIN brutek b ON i.query_id = b.query_id AND i.cand_id = b.cand_id
        |  GROUP BY 1)
        |SELECT q.query_id, CAST(COALESCE(h.n, 0) AS BIGINT) AS n_hits,
        |  CAST(COALESCE(h.n, 0) * 1000000 // 10 AS BIGINT) AS recall_ppm
        |FROM q LEFT JOIN h ON q.query_id = h.query_id
        |ORDER BY 1""".stripMargin,
    // q186: q153's session tag feeding q119's chained-min funnel, per
    // (user, session) — the greedy fold and the chained mins are the
    // same selection
    "q186_session_funnel" ->
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
        |ORDER BY step""".stripMargin,
    // q187: the chained-min anchors state duration directly — earliest
    // view, earliest strictly-after click, earliest strictly-after
    // purchase; duration = purchase_t − view_t for completers
    "q187_funnel_latency" ->
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
        |ORDER BY user_id""".stripMargin,
    // q188: the same (t, id)-ordered journey string via string_agg,
    // the same unanchored regexes (basic classes only — identical in
    // Java and RE2)
    "q188_sequence_match" ->
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
        |ORDER BY pattern""".stripMargin,
    // q189: q173's histogram-quantile SQL keyed by order month over
    // the ship-minus-order day gap
    "q189_ship_latency" ->
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
        |FROM s GROUP BY month ORDER BY month""".stripMargin,
    // q190: same exact-micros conditional sums, HUGEINT floored ppm
    "q190_return_rate" ->
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
        |FROM m ORDER BY month""".stripMargin,
    // q191: the preceding-touch lookup as the same ignore-nulls
    // last_value over a [-inf, -1] frame; 'direct' for touchless
    // conversions on both engines
    "q191_attribution_last" ->
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
    // q192: identical segment tagging (conversions strictly before the
    // row), identical exact floored-micros per-touch credit — the
    // nonneg-remainder floor division on both engines
    "q192_attribution_linear" ->
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
    // q193: generate_series spine between the same 1-row bounds;
    // zero-fill via the same coalesce
    "q193_daily_spine" ->
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
    // q194: exact decimal sums, ONE final IEEE division (davg parity)
    "q194_brand_vwap" ->
      """SELECT p_brand, strftime(l_shipdate, '%Y-%m') AS month,
        |  CAST(count(*) AS BIGINT) AS n_lines,
        |  CAST(sum(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE)
        |    AS total_qty,
        |  CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) /
        |    CAST(sum(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS vwap
        |FROM lineitem JOIN part ON l_partkey = p_partkey
        |GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,
    // q195: same q43-family tokenizer, grams by index arithmetic;
    // plain // is floor here (both operands nonnegative)
    "q195_ngram_diversity" ->
      """WITH a AS (SELECT source, regexp_split_to_array(trim(text), '\s+') AS a
        |    FROM documents WHERE text IS NOT NULL),
        |g AS (SELECT source, a[i] || ' ' || a[i+1] || ' ' || a[i+2] AS g
        |  FROM a, unnest(generate_series(1, len(a) - 2)) AS t(i)
        |  WHERE len(a) >= 3),
        |c AS (SELECT source, g, count(*) AS c FROM g WHERE g <> ''
        |  GROUP BY 1, 2)
        |SELECT source, CAST(sum(c) AS BIGINT) AS total_ngrams,
        |  CAST(count(*) AS BIGINT) AS distinct_ngrams,
        |  CAST((count(*) * 1000000) // sum(c) AS BIGINT) AS ttr_ppm
        |FROM c GROUP BY 1 ORDER BY 1""".stripMargin,
    // q196: the L(n)=floor(ln(n)*1e6) integer fixed point on counts,
    // nonneg-remainder floor division (terms can be negative)
    "q196_source_kl" ->
      """WITH t AS (SELECT source,
        |    unnest(regexp_split_to_array(trim(text), '\s+')) AS tok
        |    FROM documents WHERE text IS NOT NULL),
        |st AS (SELECT source, tok, count(*) AS cs FROM t WHERE tok <> ''
        |  GROUP BY 1, 2),
        |ct AS (SELECT tok, sum(cs) AS c FROM st GROUP BY 1),
        |ns AS (SELECT source, sum(cs) AS ns FROM st GROUP BY 1),
        |g AS (SELECT sum(cs) AS n FROM st),
        |j AS (SELECT st.source, ns.ns,
        |    CAST(cs AS HUGEINT) * CAST(
        |      CAST(floor(ln(cs) * 1000000) AS BIGINT)
        |      - CAST(floor(ln(ns) * 1000000) AS BIGINT)
        |      - CAST(floor(ln(c) * 1000000) AS BIGINT)
        |      + CAST(floor(ln(n) * 1000000) AS BIGINT) AS HUGEINT) AS term
        |  FROM st JOIN ct USING (tok) JOIN ns USING (source) CROSS JOIN g)
        |SELECT source, CAST(max(ns) AS BIGINT) AS n_tokens,
        |  CAST((sum(term) - ((sum(term) % max(ns) + max(ns)) % max(ns)))
        |    // max(ns) AS BIGINT) AS kl_micro_nats
        |FROM j GROUP BY 1 ORDER BY 1""".stripMargin,
    // q197: q153's session tag with the (t, id) total order, path via
    // ordered string_agg, same (count desc, path) top-k
    "q197_session_paths" ->
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
    // q199: same rank-on-aggregated-revenue with the part-key tiebreak
    "q199_brand_top_parts" ->
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
    // q200: per-user generate_series spine, latest-of-day by the same
    // (t, id) order, ignore-nulls carry-forward
    "q200_status_locf" ->
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
        |ORDER BY 1, 2""".stripMargin,
    // q201: the shared q32 heuristic rolled to a confusion matrix
    "q201_lang_confusion" ->
      s"""WITH p AS ($langIdOracleSql)
         |SELECT lang, lang_pred, CAST(count(*) AS BIGINT) AS n_docs
         |FROM p GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,
    // q202: RANGE-frame cumulative (every tied value carries the
    // value-inclusive total) — provably the same lower-weighted-median
    // pick as the engine's row-frame prefix sum
    "q202_weighted_median" ->
      """WITH e AS (SELECT l_returnflag AS g, l_extendedprice AS v,
        |    CAST(l_quantity AS BIGINT) AS w FROM lineitem),
        |c AS (SELECT g, v, w,
        |    sum(w) OVER (PARTITION BY g ORDER BY v) AS cum,
        |    sum(w) OVER (PARTITION BY g) AS tot FROM e)
        |SELECT g AS l_returnflag, CAST(max(tot) AS BIGINT) AS total_weight,
        |  min(v) FILTER (WHERE cum * 2 >= tot) AS weighted_median
        |FROM c GROUP BY 1 ORDER BY 1""".stripMargin,
    // q203: the q158 edge/triangle CTEs per vertex — each enumerated
    // triangle unnests to its 3 corners; cc in HUGEINT floor division
    // (nonnegative numerator, so plain // is floor)
    "q203_clustering_coeff" ->
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
    // q204: identical lead-interval weighting; the TWAP is the floored
    // HUGEINT division (the numerator passes 2^53 — a double ratio
    // diverges by an ulp across engines, measured), nonneg-remainder
    // pattern for negative-value safety
    "q204_twap" ->
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
    // q205: the same exact-decimal recompute (2dp factors -> exact 6dp
    // product, no IEEE multiply); NULL diff (no lines) feeds neither
    // matched nor mismatched on either engine
    "q205_order_price_audit" ->
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
    // q206: same (user,type) lag gaps, same lower-median rank pick
    "q206_interarrival_median" ->
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
    // q207: quartile PICKS at ceil(n/4)/ceil(3n/4); fences decided by
    // the identical cross-multiplied IEEE expression on both engines
    "q207_iqr_fences" ->
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
        |FROM e JOIN p USING (ty) GROUP BY 1 ORDER BY 1""".stripMargin,
    // q208: epoch-day weekday (0 = Sunday) — no engine dayofweek enters;
    // cents are nonnegative so // is the floor division
    "q208_weekday_profile" ->
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
        |FROM d, t ORDER BY 1""".stripMargin,
    // q209: same integer width/bucket arithmetic (16 buckets)
    "q209_price_histogram" ->
      """WITH c AS (SELECT CAST(CAST(l_extendedprice AS DECIMAL(18,2)) * 100
        |    AS BIGINT) AS c FROM lineitem),
        |b AS (SELECT min(c) AS lo, max(c) AS hi FROM c),
        |w AS (SELECT lo, greatest((hi - lo + 16) // 16, 1) AS w FROM b),
        |x AS (SELECT (c.c - w.lo) // w.w AS bucket, w.lo, w.w FROM c, w)
        |SELECT CAST(bucket AS BIGINT) AS bucket,
        |  CAST(min(lo + bucket * w) AS BIGINT) AS lo_cents,
        |  CAST(min(lo + (bucket + 1) * w - 1) AS BIGINT) AS hi_cents,
        |  CAST(count(*) AS BIGINT) AS n_lines
        |FROM x GROUP BY 1 ORDER BY 1""".stripMargin,
    // q210: q153's session tag, DISTINCT per-session types, a < b pairs
    "q210_session_cooccurrence" ->
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
        |GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,
    // q211: same tokenizer as q61; nonnegative counts so // floors
    "q211_hapax_ratio" ->
      """WITH t AS (SELECT source,
        |    unnest(regexp_split_to_array(trim(text), '\s+')) AS tok
        |  FROM documents WHERE text IS NOT NULL),
        |p AS (SELECT source, tok, count(*) AS tf FROM t
        |  WHERE tok <> '' GROUP BY 1, 2),
        |a AS (SELECT source, count(*) AS nt,
        |    sum(CASE WHEN tf = 1 THEN 1 ELSE 0 END) AS nh FROM p GROUP BY 1)
        |SELECT source, CAST(nt AS BIGINT) AS n_token_types,
        |  CAST(nh AS BIGINT) AS n_hapax,
        |  CAST((nh * 1000000) // nt AS BIGINT) AS hapax_ppm
        |FROM a ORDER BY 1""".stripMargin,
    // q212: percentile picks at ceil(n*p/100); clip then floored micros,
    // mean as the nonnegative-remainder floor division (sum may be
    // negative, where // truncates)
    "q212_winsorized_mean" ->
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
        |FROM s ORDER BY 1""".stripMargin,
    // q213: same (customer, month) cents rollup and month+1 shift;
    // observed-months clip keeps the phantom churn month out
    "q213_revenue_bridge" ->
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
        |FROM j JOIN mm ON j.m = mm.m GROUP BY 1 ORDER BY 1""".stripMargin,
    // q214: first_value/last_value IGNORE NULLS over the same [-inf,-1]
    // frame; the two rollups meet in a vocabulary-sized outer join
    "q214_attribution_compare" ->
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
        |ORDER BY 1""".stripMargin,
    // q215: q195's gram builder; head = top-1000 types by (count desc,
    // gram); nonnegative counts so // floors
    "q215_ngram_head_coverage" ->
      """WITH a AS (SELECT regexp_split_to_array(trim(text), '\s+') AS a
        |    FROM documents WHERE text IS NOT NULL),
        |g AS (SELECT a[i] || ' ' || a[i+1] || ' ' || a[i+2] AS g
        |  FROM a, unnest(generate_series(1, len(a) - 2)) AS t(i)
        |  WHERE len(a) >= 3),
        |c AS (SELECT g, count(*) AS c FROM g WHERE g <> '' GROUP BY 1),
        |tot AS (SELECT count(*) AS nt, coalesce(sum(c), 0) AS occ FROM c),
        |h AS (SELECT coalesce(sum(c), 0) AS hd FROM
        |  (SELECT c FROM c ORDER BY c DESC, g LIMIT 1000))
        |SELECT CAST(1000 AS BIGINT) AS k, CAST(nt AS BIGINT) AS n_gram_types,
        |  CAST(occ AS BIGINT) AS total_occurrences,
        |  CAST(hd AS BIGINT) AS head_occurrences,
        |  CASE WHEN occ = 0 THEN NULL
        |    ELSE CAST((hd * 1000000) // occ AS BIGINT) END AS coverage_ppm
        |FROM tot, h""".stripMargin,
    // q216: gaps-and-islands at month grain (month - row_number is
    // constant within a run), best streak per customer, histogram
    "q216_month_streaks" ->
      """WITH d AS (SELECT DISTINCT o_custkey AS c,
        |    year(o_orderdate) * 12 + month(o_orderdate) - 1 AS m FROM orders),
        |i AS (SELECT c, m, m - row_number() OVER
        |    (PARTITION BY c ORDER BY m) AS isl FROM d),
        |s AS (SELECT c, count(*) AS len FROM i GROUP BY c, isl),
        |b AS (SELECT c, max(len) AS streak FROM s GROUP BY 1)
        |SELECT CAST(streak AS BIGINT) AS streak_months,
        |  CAST(count(*) AS BIGINT) AS n_customers
        |FROM b GROUP BY 1 ORDER BY 1""".stripMargin,
    // q217: exact rank picks at ceil(n*p/100) per (type, day)
    "q217_daily_quantiles" ->
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
    // q218: q210's distinct (session, type) relation; all ratios in
    // HUGEINT cross-multiplied floored ppm (nonnegative, // floors)
    "q218_session_pair_lift" ->
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
    // q219: lag/lead over the distinct (user, day) panel; churn booked
    // to day+1 and clipped to observed days
    "q219_growth_accounting" ->
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
    // q220: integer epoch-hour arithmetic (ts nonnegative); mean as
    // the nonneg-remainder floor division (value sums can be negative)
    "q220_hourly_profile" ->
      """WITH e AS (SELECT (epoch_us(ts) // 3600000000) % 24 AS hour,
        |    CAST(floor(value * 1000000) AS BIGINT) AS vmic FROM events),
        |a AS (SELECT hour, count(*) AS n,
        |    CAST(sum(vmic) AS HUGEINT) AS sm FROM e GROUP BY 1)
        |SELECT CAST(hour AS BIGINT) AS hour, CAST(n AS BIGINT) AS n_events,
        |  CAST((sm - ((sm % n + n) % n)) // n AS BIGINT)
        |    AS mean_value_micros
        |FROM a ORDER BY 1""".stripMargin,
    // q221: same md5 digest, same first-id rule, same all-integer
    // decile bands ((rank-1)*10 // n + 1); counts nonnegative so //
    // floors
    "q221_duplication_trend" ->
      """WITH h AS (SELECT doc_id AS id, md5(text) AS h FROM documents
        |  WHERE text IS NOT NULL),
        |f AS (SELECT h, min(id) AS first FROM h GROUP BY 1),
        |d AS (SELECT h.id, h.id > f.first AS dup,
        |    row_number() OVER (ORDER BY h.id) AS r,
        |    count(*) OVER () AS n
        |  FROM h JOIN f USING (h))
        |SELECT CAST(((r - 1) * 10) // n + 1 AS BIGINT) AS decile,
        |  CAST(count(*) AS BIGINT) AS n_docs,
        |  CAST(sum(CASE WHEN dup THEN 1 ELSE 0 END) AS BIGINT) AS n_dups,
        |  CAST((sum(CASE WHEN dup THEN 1 ELSE 0 END) * 1000000) // count(*)
        |    AS BIGINT) AS dup_ppm
        |FROM d GROUP BY 1 ORDER BY 1""".stripMargin,
    // q222: two count rollups
    "q222_basket_size_dist" ->
      """WITH b AS (SELECT l_orderkey, count(*) AS basket_size
        |  FROM lineitem GROUP BY 1)
        |SELECT CAST(basket_size AS BIGINT) AS basket_size,
        |  CAST(count(*) AS BIGINT) AS n_orders
        |FROM b GROUP BY 1 ORDER BY 1""".stripMargin,
    // q223: same tokenizer as q61; types then lengths
    "q223_token_length_dist" ->
      """WITH t AS (SELECT unnest(regexp_split_to_array(trim(text), '\s+'))
        |    AS tok FROM documents WHERE text IS NOT NULL),
        |p AS (SELECT tok, count(*) AS tf FROM t WHERE tok <> '' GROUP BY 1)
        |SELECT CAST(length(tok) AS BIGINT) AS token_len,
        |  CAST(count(*) AS BIGINT) AS n_types,
        |  CAST(sum(tf) AS BIGINT) AS n_occurrences
        |FROM p GROUP BY 1 ORDER BY 1""".stripMargin,
    // q224: integral epoch days; nonnegative recency so // floors
    "q224_recency_histogram" ->
      """WITH c AS (SELECT o_custkey,
        |    max(CAST(o_orderdate AS DATE) - DATE '1970-01-01') AS last
        |  FROM orders GROUP BY 1),
        |m AS (SELECT max(last) AS mx FROM c)
        |SELECT CAST((mx - last) // 30 AS BIGINT) AS recency_bucket,
        |  CAST(((mx - last) // 30) * 30 AS BIGINT) AS lo_day,
        |  CAST(count(*) AS BIGINT) AS n_customers
        |FROM c, m GROUP BY 1, 2 ORDER BY 1""".stripMargin,
    // q225: distinct active days per customer; DuckDB // floors
    "q225_repurchase_survival" ->
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
        |FROM h, gc, t GROUP BY 1, tot ORDER BY 1""".stripMargin,
    // q226: same tokenizer as q61/q195; sentence = '[.!?]+' run count
    // floored at 1; corpus-level floored-micro ratios
    "q226_readability" ->
      """WITH d AS (SELECT source,
        |    list_filter(regexp_split_to_array(trim(text), '\s+'),
        |      t -> t <> '') AS a,
        |    len(regexp_split_to_array(text, '[.!?]+')) - 1 AS e
        |  FROM documents WHERE text IS NOT NULL),
        |p AS (SELECT source, len(a) AS w,
        |    CAST(coalesce(list_sum(list_transform(a, t -> length(t))), 0)
        |      AS BIGINT) AS ch,
        |    greatest(e, 1) AS s
        |  FROM d WHERE len(a) > 0)
        |SELECT source, CAST(count(*) AS BIGINT) AS n_docs,
        |  CAST(sum(w) AS BIGINT) AS n_words,
        |  CAST(sum(s) AS BIGINT) AS n_sentences,
        |  CAST((sum(w) * 1000000) // sum(s) AS BIGINT)
        |    AS words_per_sentence_micro,
        |  CAST((sum(ch) * 1000000) // sum(w) AS BIGINT)
        |    AS chars_per_word_micro
        |FROM p GROUP BY 1 ORDER BY 1""".stripMargin,
    // q227: q195's gram stream carried per doc; dup mass = occurrences
    // of gram types with count >= 2 within the doc
    "q227_dup_ngram_census" ->
      """WITH a AS (SELECT source, doc_id,
        |    regexp_split_to_array(trim(text), '\s+') AS a
        |  FROM documents WHERE text IS NOT NULL),
        |g AS (SELECT source, doc_id, a[i] || ' ' || a[i+1] AS g
        |  FROM a, unnest(generate_series(1, len(a) - 1)) AS t(i)
        |  WHERE len(a) >= 2),
        |c AS (SELECT source, doc_id, g, count(*) AS c FROM g
        |  WHERE g <> '' GROUP BY 1, 2, 3),
        |p AS (SELECT source, doc_id, sum(c) AS tot,
        |    sum(CASE WHEN c >= 2 THEN c ELSE 0 END) AS dup,
        |    (sum(CASE WHEN c >= 2 THEN c ELSE 0 END) * 1000000)
        |      // sum(c) AS ppm
        |  FROM c GROUP BY 1, 2)
        |SELECT source, CAST(count(*) AS BIGINT) AS n_docs,
        |  CAST(sum(CASE WHEN ppm > 300000 THEN 1 ELSE 0 END) AS BIGINT)
        |    AS n_repetitive,
        |  CAST((sum(dup) * 1000000) // sum(tot) AS BIGINT) AS dup_mass_ppm
        |FROM p GROUP BY 1 ORDER BY 1""".stripMargin,
    // q228: population-form moments in HUGEINT; signed r² via the
    // two-quotient floor sequence (Cauchy-Schwarz bounds each <= 1e6)
    "q228_type_daily_corr" ->
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
    // q229: same md5 digest as q221 over the 160-char opening prefix;
    // distinct (source, hash) first so shared passages count once/pair
    "q229_cross_source_leakage" ->
      """WITH hs AS (SELECT DISTINCT source AS s,
        |    md5(substr(text, 1, 160)) AS h
        |  FROM documents WHERE text IS NOT NULL)
        |SELECT a.s AS source_a, b.s AS source_b,
        |  CAST(count(*) AS BIGINT) AS n_shared_texts
        |FROM hs a JOIN hs b ON a.h = b.h AND a.s < b.s
        |GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,
    // q230: identical midpoint/width/Laplace arithmetic; terms are
    // >= 0 by L-monotonicity so the final // needs no remainder idiom
    "q230_psi_drift" ->
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
    // q231: q37's rounded-6dp cosine convention; exact decimal sum,
    // one floored division to micros (nonneg-remainder idiom — means
    // can be negative)
    "q231_source_dispersion" ->
      """WITH s AS (SELECT d.source AS src, e.vec_id AS id,
        |    CAST(e.embedding AS DOUBLE[]) AS emb
        |  FROM embeddings e JOIN documents d ON e.vec_id = d.doc_id
        |  WHERE e.vec_id % 4 = 0),
        |p AS (SELECT a.src,
        |    CAST(round(list_cosine_similarity(a.emb, b.emb), 6)
        |      AS DECIMAL(18,6)) AS c
        |  FROM s a JOIN s b ON a.src = b.src AND a.id < b.id),
        |g AS (SELECT src, count(*) AS n,
        |    CAST(sum(c) * 1000000 AS HUGEINT) AS sm FROM p GROUP BY 1)
        |SELECT src AS source, CAST(n AS BIGINT) AS n_pairs,
        |  CAST((sm - ((sm % n + n) % n)) // n AS BIGINT) AS mean_cos_micro
        |FROM g ORDER BY 1""".stripMargin,
    // q232: same tokenizer; count >= 2 prunes hapax; all pairs kept
    // (zero overlap -> 0 ppm)
    "q232_vocab_overlap" ->
      """WITH t AS (SELECT source AS s,
        |    unnest(regexp_split_to_array(trim(text), '\s+')) AS t
        |  FROM documents WHERE text IS NOT NULL),
        |st AS (SELECT s, t FROM t WHERE t <> '' GROUP BY 1, 2
        |  HAVING count(*) >= 2),
        |sz AS (SELECT s, count(*) AS n FROM st GROUP BY 1),
        |i AS (SELECT a.s AS sa, b.s AS sb, count(*) AS i
        |  FROM st a JOIN st b ON a.t = b.t AND a.s < b.s GROUP BY 1, 2)
        |SELECT x.s AS source_a, y.s AS source_b,
        |  CAST(coalesce(i, 0) AS BIGINT) AS n_common,
        |  CAST((coalesce(i, 0) * 1000000)
        |    // (x.n + y.n - coalesce(i, 0)) AS BIGINT) AS jaccard_ppm
        |FROM sz x JOIN sz y ON x.s < y.s
        |LEFT JOIN i ON i.sa = x.s AND i.sb = y.s
        |ORDER BY 1, 2""".stripMargin,
    // q233: q131's integer-ln entropy fold at (source, lang) grain
    "q233_lang_entropy" ->
      """WITH c AS (SELECT source, lang, count(*) AS c FROM documents
        |  WHERE lang IS NOT NULL GROUP BY 1, 2),
        |s AS (SELECT source, sum(c) AS n, count(*) AS k,
        |    sum(c * CAST(floor(ln(c) * 1000000) AS BIGINT)) AS wsum
        |  FROM c GROUP BY 1)
        |SELECT source, CAST(n AS BIGINT) AS n_docs,
        |  CAST(k AS BIGINT) AS n_langs,
        |  CAST((CAST(floor(ln(n) * 1000000) AS BIGINT) * n - wsum) // n
        |    AS BIGINT) AS lang_entropy_micro_nats
        |FROM s ORDER BY 1""".stripMargin,
    // q234: exact-cents day panel self-aligned at lag 7; WMAPE =
    // ratio-of-sums floored ppm; errs nonneg so // floors
    "q234_seasonal_backtest" ->
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
        |FROM j GROUP BY 1 ORDER BY 1""".stripMargin,
    // q235: distinct (order, brand) baskets; lift cross-multiplied
    "q235_brand_pair_lift" ->
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
        |CROSS JOIN n ORDER BY 1, 2""".stripMargin,
    // q236: q197's session tag; entry = first (t, id) of the session
    "q236_bounce_rate" ->
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
        |FROM p WHERE rn = 1 GROUP BY 1 ORDER BY 1""".stripMargin,
    // q237: q228's signed-r² floor sequence; edge-trimmed HUGEINT
    // moments, shifted equi-join for sxy
    "q237_revenue_acf" ->
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
        |FROM f ORDER BY 1""".stripMargin,
    // q238: slope-sign classes from the same 5 HUGEINT accumulators
    "q238_trend_census" ->
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
        |GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,
    // q239: q196's one-rollup totals; lift cross-multiplied; ties
    // token-ascending
    "q239_distinctive_tokens" ->
      """WITH t AS (SELECT source,
        |    unnest(regexp_split_to_array(trim(text), '\s+')) AS t
        |  FROM documents WHERE text IS NOT NULL),
        |st AS (SELECT source, t, count(*) AS cs FROM t WHERE t <> ''
        |  GROUP BY 1, 2),
        |ct AS (SELECT t, sum(cs) AS c FROM st GROUP BY 1),
        |ns AS (SELECT source, sum(cs) AS ns FROM st GROUP BY 1),
        |g AS (SELECT sum(cs) AS n FROM st),
        |s AS (SELECT st.source, st.t, cs,
        |    (CAST(cs AS HUGEINT) * n * 1000000)
        |      // (CAST(ns AS HUGEINT) * c) AS lift
        |  FROM st JOIN ct USING (t) JOIN ns USING (source) CROSS JOIN g
        |  WHERE cs >= 5),
        |r AS (SELECT source, t, cs, lift, row_number() OVER
        |    (PARTITION BY source ORDER BY lift DESC, t) AS rank
        |  FROM s)
        |SELECT source, CAST(rank AS BIGINT) AS rank, t AS token,
        |  CAST(cs AS BIGINT) AS n_in_source,
        |  CAST(lift AS BIGINT) AS lift_ppm
        |FROM r WHERE rank <= 10 ORDER BY 1, 2""".stripMargin,
    // q240: frontier from the same rollup; staleness floored seconds
    "q240_type_freshness" ->
      """WITH p AS (SELECT event_type, count(*) AS n,
        |    max(epoch_us(ts)) AS last FROM events GROUP BY 1),
        |m AS (SELECT max(last) AS mx FROM p)
        |SELECT event_type, CAST(n AS BIGINT) AS n_events,
        |  CAST(last AS BIGINT) AS last_epoch_us,
        |  CAST((mx - last) // 1000000 AS BIGINT) AS staleness_sec
        |FROM p, m ORDER BY 1""".stripMargin,
    // q241: strictly-(t, id)-after next-purchase via the same forward
    // frame; 1-day budget
    "q241_abandonment" ->
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
        |FROM a""".stripMargin,
    // q242: same md5 digest; copies are byte-identical so max(len)
    // per cluster is exact
    "q242_dedup_savings" ->
      """WITH h AS (SELECT source, md5(text) AS h,
        |    CAST(length(text) AS BIGINT) AS len
        |  FROM documents WHERE text IS NOT NULL),
        |g AS (SELECT source, h, count(*) AS n, max(len) AS len
        |  FROM h GROUP BY 1, 2)
        |SELECT source, CAST(sum(n) AS BIGINT) AS n_docs,
        |  CAST(count(*) AS BIGINT) AS n_unique,
        |  CAST(sum(n * len) AS BIGINT) AS total_chars,
        |  CAST(sum(len) AS BIGINT) AS unique_chars,
        |  CAST(((sum(n * len) - sum(len)) * 1000000)
        |    // sum(n * len) AS BIGINT) AS savings_ppm
        |FROM g GROUP BY 1 ORDER BY 1""".stripMargin,
    // q243: q33's integer score replayed; same (rank-1)*10//n + 1
    // banding as q221; cumulative window over the 10-row decile table
    "q243_quality_budget" ->
      s"""WITH t AS (SELECT doc_id, text, $tokensSql AS toks
         |  FROM documents WHERE text IS NOT NULL),
         |m AS (SELECT doc_id, CAST(len(toks) AS BIGINT) AS tk,
         |    least(CAST(len(toks) AS BIGINT), 100) * 4000
         |    + (CASE WHEN CAST(len(regexp_extract_all(text, '[.,!?;:]'))
         |          AS DOUBLE) / greatest(length(text), 1)
         |        < CAST(0.2 AS DOUBLE) THEN 300000 ELSE 90000 END)
         |    + ((least((CAST(len(list_filter(toks, x -> x IN ($enStop)))
         |          AS BIGINT) * 5000000)
         |        // greatest(CAST(len(toks) AS BIGINT), 1), 1000000)
         |      * 3) // 10) AS q
         |  FROM t),
         |r AS (SELECT doc_id, tk, q,
         |    row_number() OVER (ORDER BY q, doc_id) AS rk,
         |    count(*) OVER () AS n FROM m),
         |d AS (SELECT ((rk - 1) * 10) // n + 1 AS decile, tk, q FROM r),
         |p AS (SELECT decile, count(*) AS n_docs, sum(tk) AS n_tokens,
         |    min(q) AS minq FROM d GROUP BY 1),
         |c AS (SELECT decile, n_docs, n_tokens, minq,
         |    sum(n_tokens) OVER (ORDER BY decile DESC
         |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum,
         |    sum(n_tokens) OVER () AS tot FROM p)
         |SELECT CAST(decile AS BIGINT) AS decile,
         |  CAST(n_docs AS BIGINT) AS n_docs,
         |  CAST(n_tokens AS BIGINT) AS n_tokens,
         |  CAST(minq AS BIGINT) AS min_quality_e6,
         |  CAST(cum AS BIGINT) AS cum_tokens_retained,
         |  CAST((cum * 1000000) // tot AS BIGINT) AS retained_ppm
         |FROM c ORDER BY 1""".stripMargin,
    // q244: integral ship-delay days vs a 60-day budget; the synthetic
    // data carries NEGATIVE delays, so the mean uses the
    // nonneg-remainder floor idiom (bare // truncates negatives)
    "q244_late_delivery" ->
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
        |FROM a ORDER BY 1""".stripMargin,
    // q245: distinct audiences; zero-overlap pairs kept at 0
    "q245_audience_overlap" ->
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
        |ORDER BY 1, 2""".stripMargin,
    // q198: identical lower-median rank picks on the (value, id) and
    // (deviation, id) total orders; every output is a data value
    "q198_mad_outliers" ->
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
    // tf over raw occurrences; same tokenizer as q43
    "q61_vocab_df" ->
      """WITH t AS (SELECT doc_id, unnest(regexp_split_to_array(trim(text), '\s+')) AS token
        |  FROM documents WHERE text IS NOT NULL),
        |p AS (SELECT token, doc_id, count(*) AS c FROM t WHERE token <> '' GROUP BY 1, 2)
        |SELECT token, count(*) AS df, CAST(sum(c) AS BIGINT) AS tf
        |FROM p GROUP BY token ORDER BY df DESC, tf DESC, token LIMIT 100""".stripMargin,
    // q62: the oracle replays the same start-grid (range excludes the
    // stop, so start < n_tokens) and the same inclusive 1-based slice
    "q62_chunk_windows" ->
      """WITH t AS (SELECT doc_id, regexp_split_to_array(trim(text), '\s+') AS toks
        |  FROM documents WHERE text IS NOT NULL),
        |s AS (SELECT doc_id, toks, unnest(range(0, len(toks), 24)) AS st FROM t)
        |SELECT doc_id, CAST(st // 24 AS BIGINT) AS chunk_id,
        |  CAST(st AS BIGINT) AS start,
        |  CAST(least(32, len(toks) - st) AS BIGINT) AS n_tokens,
        |  array_to_string(toks[st+1 : st + least(32, len(toks) - st)], ' ') AS chunk
        |FROM s""".stripMargin,
    // q63: same (token, doc) pre-agg, df rollup, tf/df score (one IEEE
    // division both engines), per-doc row_number with token tiebreak
    "q63_distinctive_terms" ->
      """WITH t AS (SELECT doc_id, unnest(regexp_split_to_array(trim(text), '\s+')) AS token
        |  FROM documents WHERE text IS NOT NULL),
        |p AS (SELECT token, doc_id, count(*) AS tf FROM t WHERE token <> '' GROUP BY 1, 2),
        |d AS (SELECT token, count(*) AS df FROM p GROUP BY 1),
        |s AS (SELECT p.doc_id, p.token, p.tf, d.df,
        |    CAST(p.tf AS DOUBLE) / d.df AS score,
        |    row_number() OVER (PARTITION BY p.doc_id
        |      ORDER BY CAST(p.tf AS DOUBLE) / d.df DESC, p.token) AS rnk
        |  FROM p JOIN d USING (token))
        |SELECT doc_id, token, tf, df, score, CAST(rnk AS BIGINT) AS rnk
        |FROM s WHERE rnk <= 3""".stripMargin,
    // q64: same integer quality-ppm ladder as q33/q56, summed exactly;
    // lower median replayed with the same (n_tokens, doc_id) row_number
    "q64_corpus_datasheet" ->
      s"""WITH t AS (SELECT doc_id, source, text, $tokensSql AS toks FROM documents
         |  WHERE text IS NOT NULL),
         |m AS (SELECT doc_id, source,
         |  CAST(len(toks) AS BIGINT) AS n_tokens,
         |  greatest(CAST(len(toks) AS BIGINT), 1) AS toks_n,
         |  CAST(len(list_filter(toks, x -> x IN ($enStop))) AS BIGINT) AS sw,
         |  CAST(len(regexp_extract_all(text, '[.,!?;:]')) AS DOUBLE)
         |    / greatest(length(text), 1) AS punct_ratio
         | FROM t),
         |q AS (SELECT doc_id, source, n_tokens,
         |  least(n_tokens, 100) * 4000
         |   + (CASE WHEN punct_ratio < CAST(0.2 AS DOUBLE) THEN 300000 ELSE 90000 END)
         |   + ((least((sw * 5000000) // toks_n, 1000000) * 3) // 10) AS qppm
         | FROM m),
         |a AS (SELECT source, count(*) AS n_docs, CAST(sum(n_tokens) AS BIGINT) AS tokens,
         |  CAST(sum(qppm) AS BIGINT) AS qsum FROM q GROUP BY 1),
         |r AS (SELECT source, n_tokens, doc_id,
         |  row_number() OVER (PARTITION BY source ORDER BY n_tokens, doc_id) AS rn FROM q),
         |med AS (SELECT r.source, r.n_tokens AS median_tokens
         |  FROM r JOIN a USING (source) WHERE r.rn = (a.n_docs + 1) // 2)
         |SELECT a.source, a.n_docs, a.tokens,
         |  CAST(a.qsum AS DOUBLE) / CAST(a.n_docs * 1000000 AS DOUBLE) AS mean_quality,
         |  med.median_tokens
         |FROM a JOIN med USING (source)""".stripMargin,
    // q50: same synthetic-PII augmentation, same ordered regex chain
    // (email → IP → phone) re-derived in SQL; 'g' = replace-all to
    // match Spark's regexp_replace semantics
    "q50_pii_scrub" ->
      """WITH aug AS (SELECT doc_id,
        |  text || ' contact user' || doc_id || '@mail.example.com or 10.0.'
        |       || (doc_id % 256) || '.7 or 555-01' || doc_id || '99' AS t
        |  FROM documents)
        |SELECT doc_id,
        | regexp_replace(
        |   regexp_replace(
        |     regexp_replace(t, '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}', '<EMAIL>', 'g'),
        |     '\b(\d{1,3}\.){3}\d{1,3}\b', '<IP>', 'g'),
        |   '\b\d(?:-?\d){8,}\b', '<PHONE>', 'g') AS scrubbed
        |FROM aug""".stripMargin,
    // q51: bigram counts from gram STRINGS (the engine counts 8-byte
    // gram hashes — value-equivalent, the grams never leave the engine).
    // NULL-text docs drop on BOTH sides: the engine's null-intolerant
    // hash kernel yields null → explode drops the row; the SQL filters
    // explicitly (its ELSE branch would otherwise emit a phantom gram)
    "q51_repetition" ->
      """WITH t AS (SELECT doc_id, regexp_split_to_array(trim(text), '\s+') AS toks
        |  FROM documents WHERE text IS NOT NULL),
        |g AS (SELECT doc_id, unnest(CASE WHEN len(toks) >= 2
        |    THEN list_transform(generate_series(0, len(toks)-2), i -> array_to_string(toks[i+1:i+2], ' '))
        |    ELSE [array_to_string(toks, ' ')] END) AS gram FROM t),
        |c AS (SELECT doc_id, gram, count(*) AS n FROM g GROUP BY 1, 2)
        |SELECT doc_id, CAST(max(n) AS BIGINT) AS top_gram_count,
        | CAST(sum(n) AS BIGINT) AS n_grams,
        | CAST(max(n) AS DOUBLE) / CAST(sum(n) AS DOUBLE) AS repetition_ratio
        |FROM c GROUP BY doc_id""".stripMargin,
    // q52: the same bucketed cumulative-sum packing re-derived with a
    // SQL window (PARTITION BY bucket = the engine's parallel shape)
    "q52_seq_pack" ->
      """WITH t AS (SELECT doc_id, doc_id % 8 AS bucket,
        |  len(regexp_split_to_array(trim(text), '\s+')) AS n_tokens FROM documents),
        |w AS (SELECT doc_id, bucket, n_tokens,
        |  sum(n_tokens) OVER (PARTITION BY bucket ORDER BY doc_id
        |    ROWS UNBOUNDED PRECEDING) - n_tokens AS s
        |  FROM t)
        |SELECT doc_id, CAST(bucket AS BIGINT) AS bucket,
        | CAST(s // 512 AS BIGINT) AS seq_id,
        | CAST(s % 512 AS BIGINT) AS start_offset,
        | CAST(n_tokens AS BIGINT) AS n_tokens
        |FROM w""".stripMargin,
    "q43_token_counts" ->
      """SELECT doc_id,
        | CAST(len(regexp_extract_all(text, '''(?:s|d|m|t|ll|ve|re)| ?\p{L}+| ?\p{N}+| ?[^\s\p{L}\p{N}]+')) AS BIGINT) AS n_bpe_tokens,
        | CAST(len(regexp_split_to_array(trim(text), '\s+')) AS BIGINT) AS n_ws_tokens
        |FROM documents""".stripMargin,
    "q47_sessionize" ->
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
        |FROM sess GROUP BY user_id, sid""".stripMargin,
    "q42_repair_plan" ->
      s"""WITH src AS ($srcSql), tgt AS ($tgtSql),
         |d AS (SELECT coalesce(s.o_orderkey, t.o_orderkey) AS k,
         |  CASE WHEN t.o_orderkey IS NULL THEN 'missing_in_target'
         |       WHEN s.o_orderkey IS NULL THEN 'extra_in_target'
         |       WHEN NOT ((s.o_orderstatus IS NOT DISTINCT FROM t.o_orderstatus)
         |         AND ${eqDoubleSql("s.o_totalprice", "t.o_totalprice")}) THEN 'mismatch'
         |       ELSE 'match' END AS dtype
         | FROM src s FULL OUTER JOIN tgt t ON s.o_orderkey = t.o_orderkey)
         |SELECT CASE dtype WHEN 'extra_in_target' THEN 0
         |                  WHEN 'missing_in_target' THEN 1 ELSE 2 END AS priority,
         | CASE dtype WHEN 'extra_in_target' THEN 'DELETE'
         |            WHEN 'missing_in_target' THEN 'INSERT' ELSE 'UPDATE' END AS action_type,
         | '"o_orderkey" = ' || CAST(k AS VARCHAR) AS target_key
         |FROM d WHERE dtype <> 'match'""".stripMargin,
    "q46_dedup_near_corpus" ->
      """WITH t AS (SELECT doc_id, regexp_split_to_array(trim(text), '\s+') AS toks FROM documents),
        |sh AS (SELECT doc_id, unnest(list_distinct(
        |   CASE WHEN len(toks) >= 3
        |     THEN list_transform(generate_series(0, len(toks)-3), i -> array_to_string(toks[i+1:i+3], ' '))
        |     ELSE [array_to_string(toks, ' ')] END)) AS shingle FROM t),
        |sizes AS (SELECT doc_id, count(*) AS sz FROM sh GROUP BY 1),
        |inter AS (SELECT x.doc_id AS id_a, y.doc_id AS id_b, count(*) AS inter
        |  FROM sh x JOIN sh y ON x.shingle = y.shingle AND x.doc_id < y.doc_id
        |  GROUP BY 1, 2),
        |drops AS (SELECT DISTINCT id_b FROM inter
        |  JOIN sizes sa ON inter.id_a = sa.doc_id
        |  JOIN sizes sb ON inter.id_b = sb.doc_id
        |  WHERE CAST(inter AS DOUBLE) / (sa.sz + sb.sz - inter) >= 0.8)
        |SELECT doc_id, lang, source FROM documents
        |WHERE doc_id NOT IN (SELECT id_b FROM drops)""".stripMargin,
    // q65: q46's pair derivation + the q33 integer quality ladder; the
    // loser CASE mirrors the engine's (lower quality, tie -> greater id)
    "q65_dedup_keep_best" ->
      s"""WITH t AS (SELECT doc_id, text, $tokensSql AS toks FROM documents),
         |sh AS (SELECT doc_id, unnest(list_distinct(
         |   CASE WHEN len(toks) >= 3
         |     THEN list_transform(generate_series(0, len(toks)-3), i -> array_to_string(toks[i+1:i+3], ' '))
         |     ELSE [array_to_string(toks, ' ')] END)) AS shingle FROM t),
         |sizes AS (SELECT doc_id, count(*) AS sz FROM sh GROUP BY 1),
         |inter AS (SELECT x.doc_id AS id_a, y.doc_id AS id_b, count(*) AS inter
         |  FROM sh x JOIN sh y ON x.shingle = y.shingle AND x.doc_id < y.doc_id
         |  GROUP BY 1, 2),
         |p AS (SELECT id_a, id_b FROM inter
         |  JOIN sizes sa ON inter.id_a = sa.doc_id
         |  JOIN sizes sb ON inter.id_b = sb.doc_id
         |  WHERE CAST(inter AS DOUBLE) / (sa.sz + sb.sz - inter) >= 0.8),
         |m AS (SELECT doc_id,
         |  CAST(len(toks) AS BIGINT) AS n_tokens,
         |  greatest(CAST(len(toks) AS BIGINT), 1) AS toks_n,
         |  CAST(len(list_filter(toks, x -> x IN ($enStop))) AS BIGINT) AS sw,
         |  CAST(len(regexp_extract_all(text, '[.,!?;:]')) AS DOUBLE)
         |    / greatest(length(text), 1) AS punct_ratio
         | FROM t),
         |qual AS (SELECT doc_id,
         |  least(n_tokens, 100) * 4000
         |   + (CASE WHEN punct_ratio < CAST(0.2 AS DOUBLE) THEN 300000 ELSE 90000 END)
         |   + ((least((sw * 5000000) // toks_n, 1000000) * 3) // 10) AS q
         | FROM m),
         |drops AS (SELECT DISTINCT CASE
         |    WHEN qa.q < qb.q THEN p.id_a
         |    WHEN qb.q < qa.q THEN p.id_b
         |    ELSE greatest(p.id_a, p.id_b) END AS d
         |  FROM p JOIN qual qa ON p.id_a = qa.doc_id
         |         JOIN qual qb ON p.id_b = qb.doc_id)
         |SELECT doc_id, lang, source FROM documents
         |WHERE doc_id NOT IN (SELECT d FROM drops)""".stripMargin,
    "q37_ann_cosine_topk" ->
      """WITH q AS (SELECT CAST(embedding AS DOUBLE[]) AS qe FROM embeddings WHERE vec_id = 0)
        |SELECT e.vec_id,
        | round(list_cosine_similarity(CAST(e.embedding AS DOUBLE[]), q.qe), 6) AS cosine
        |FROM embeddings e, q
        |ORDER BY cosine DESC, e.vec_id LIMIT 10""".stripMargin,
    // q38's oracle replicates the LSH index end-to-end: the 8 seed-derived
    // hyperplanes are embedded as literals, DuckDB recomputes every
    // signature, the query's multi-probe bucket set, and the in-bucket
    // exact top-10 — any drift in signature/probe/ranking logic mismatches.
    "q38_ann_lsh_topk" ->
      s"""WITH pl(p, plane) AS (VALUES $lshPlanesValues),
         |e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS emb FROM embeddings),
         |sig AS (SELECT vec_id, emb,
         |  (SELECT CAST(sum(CASE WHEN list_inner_product(emb, plane) >= 0
         |                        THEN (CAST(1 AS BIGINT) << p) ELSE 0 END) AS BIGINT)
         |   FROM pl) AS bucket
         |  FROM e),
         |q AS (SELECT bucket AS qsig, emb AS qemb FROM sig WHERE vec_id = 0),
         |probes AS (SELECT qsig AS b FROM q
         |  UNION ALL SELECT xor(qsig, CAST(1 AS BIGINT) << i)
         |             FROM q, generate_series(0, 7) AS g(i))
         |SELECT s.vec_id, round(list_cosine_similarity(s.emb, (SELECT qemb FROM q)), 6) AS cosine
         |FROM sig s WHERE s.bucket IN (SELECT b FROM probes)
         |ORDER BY cosine DESC, s.vec_id LIMIT 10""".stripMargin,
    // q45's oracle replicates the fixed-centroid IVF end-to-end: cell
    // assignment (argmax cosine vs the 8 centroid vectors, ties → lower
    // id), the query's nProbe=3 probe cells, and the in-cell exact
    // top-10 — any drift in quantizer/probe/ranking logic mismatches.
    "q45_ann_ivf_topk" ->
      """WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS emb FROM embeddings),
        |q AS (SELECT emb AS qe FROM e WHERE vec_id = 0),
        |cent AS (SELECT vec_id AS c, emb AS cemb FROM e WHERE vec_id < 8),
        |assign AS (SELECT v.vec_id, v.emb,
        |  (SELECT c FROM cent ORDER BY list_cosine_similarity(v.emb, cemb) DESC, c LIMIT 1) AS cell
        |  FROM e v),
        |qcells AS (SELECT c FROM cent, q ORDER BY list_cosine_similarity(qe, cemb) DESC, c LIMIT 3)
        |SELECT a.vec_id, round(list_cosine_similarity(a.emb, (SELECT qe FROM q)), 6) AS cosine
        |FROM assign a WHERE a.cell IN (SELECT c FROM qcells)
        |ORDER BY cosine DESC, a.vec_id LIMIT 10""".stripMargin,
    "q39_embedding_neardup" ->
      """WITH p AS (SELECT a.vec_id AS id_a, b.vec_id AS id_b,
        |  round(list_cosine_similarity(CAST(a.embedding AS DOUBLE[]),
        |                               CAST(b.embedding AS DOUBLE[])), 6) AS cosine
        | FROM embeddings a JOIN embeddings b ON a.vec_id < b.vec_id)
        |SELECT id_a, id_b, cosine FROM p
        |WHERE cosine >= CAST(0.35 AS DOUBLE)""".stripMargin,
    // q60: the oracle replays the q45 fixed-centroid assignment (argmax
    // cosine, ties to the lower centroid id), the within-cell pair
    // pruning at rounded cosine >= 0.4, and min-id survivorship
    "q60_semdedup" ->
      """WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS emb FROM embeddings),
        |cent AS (SELECT vec_id AS c, emb AS cemb FROM e WHERE vec_id < 8),
        |assign AS (SELECT v.vec_id, v.emb,
        |  (SELECT c FROM cent ORDER BY list_cosine_similarity(v.emb, cemb) DESC, c LIMIT 1) AS cell
        |  FROM e v),
        |drop AS (SELECT DISTINCT y.vec_id FROM assign x
        |  JOIN assign y ON x.cell = y.cell AND x.vec_id < y.vec_id
        |  WHERE round(list_cosine_similarity(x.emb, y.emb), 6) >= CAST(0.4 AS DOUBLE))
        |SELECT a.vec_id, CAST(a.cell AS INT) AS cell FROM assign a
        |WHERE a.vec_id NOT IN (SELECT vec_id FROM drop)""".stripMargin,
    // q69: top-2 multi-probe assignment via a per-vector rank window
    // (cosine desc, ties lower centroid id — the same order the
    // engine's in-row struct sort uses); pair discovery joins ALL probe
    // cells, survivors report their rank-1 (primary) cell
    "q69_semdedup_multiprobe" ->
      """WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS emb FROM embeddings),
        |cent AS (SELECT vec_id AS c, emb AS cemb FROM e WHERE vec_id < 8),
        |scored AS (SELECT v.vec_id, v.emb, cent.c,
        |  row_number() OVER (PARTITION BY v.vec_id
        |    ORDER BY list_cosine_similarity(v.emb, cent.cemb) DESC, cent.c) AS rn
        |  FROM e v CROSS JOIN cent),
        |assign AS (SELECT vec_id, emb, c AS cell, rn FROM scored WHERE rn <= 2),
        |drop AS (SELECT DISTINCT y.vec_id FROM assign x
        |  JOIN assign y ON x.cell = y.cell AND x.vec_id < y.vec_id
        |  WHERE round(list_cosine_similarity(x.emb, y.emb), 6) >= CAST(0.4 AS DOUBLE))
        |SELECT a.vec_id, CAST(a.cell AS INT) AS cell FROM assign a
        |WHERE a.rn = 1 AND a.vec_id NOT IN (SELECT vec_id FROM drop)""".stripMargin,

    // ---- round-19 adversarial corners ---------------------------------

    // q246: the q90 fixed-point BM25 replay over the synthetic overflow
    // corpus — every product in HUGEINT, so the oracle is exact exactly
    // where an int64 engine would wrap (22·tf·T·10⁶ = 2.15·10¹⁹)
    "q246_bm25_overflow" ->
      s"""WITH mm AS (SELECT min(doc_id) AS m FROM documents),
         |corpus AS (
         |  SELECT m + 0 AS doc_id, repeat('alpha ', 700000) || repeat('beta ', 100) AS text FROM mm
         |  UNION ALL SELECT m + 1, repeat('alpha ', 400000) || repeat('gamma ', 50) FROM mm
         |  UNION ALL SELECT m + 2, repeat('beta ', 300000) FROM mm),
         |b AS (SELECT doc_id, unnest(regexp_split_to_array(trim(text), '\\s+')) AS tok FROM corpus),
         |p AS (SELECT doc_id, count(*) AS dl,
         |    sum(CASE WHEN tok = 'alpha' THEN 1 ELSE 0 END) AS tf1,
         |    sum(CASE WHEN tok = 'beta' THEN 1 ELSE 0 END) AS tf2
         |  FROM b WHERE tok <> '' GROUP BY 1),
         |tot AS (SELECT count(*) AS n, sum(dl) AS t,
         |    sum(CASE WHEN tf1 > 0 THEN 1 ELSE 0 END) AS df1,
         |    sum(CASE WHEN tf2 > 0 THEN 1 ELSE 0 END) AS df2 FROM p),
         |sc AS (SELECT doc_id,
         |    (CAST(floor(ln(2*n+2)*1000000) AS BIGINT) - CAST(floor(ln(2*df1+1)*1000000) AS BIGINT))
         |      * ((CAST(22 AS HUGEINT)*tf1*t*1000000) // (CAST(10 AS HUGEINT)*t*tf1 + 3*t + 9*dl*n)) // 1000000
         |  + (CAST(floor(ln(2*n+2)*1000000) AS BIGINT) - CAST(floor(ln(2*df2+1)*1000000) AS BIGINT))
         |      * ((CAST(22 AS HUGEINT)*tf2*t*1000000) // (CAST(10 AS HUGEINT)*t*tf2 + 3*t + 9*dl*n)) // 1000000
         |    AS sfp
         |  FROM p, tot)
         |SELECT doc_id, CAST(sfp AS BIGINT) AS score_fp,
         |  CAST(sfp AS DOUBLE) / 1000000.0 AS score
         |FROM sc WHERE sfp > 0""".stripMargin,

    // q247: degenerate-corpus family battery — the empty corpus is
    // trivially all-zero; the all-NULL corpus pins the batch
    // convention (one NULL-fingerprint group, one survivor, no pairs)
    "q247_dedup_degenerate_empty" ->
      """WITH nd AS (SELECT CASE WHEN count(*) > 0 THEN 1 ELSE 0 END AS hasdocs FROM documents)
        |SELECT 'empty:exact_groups' AS family, CAST(0 AS BIGINT) AS n
        |UNION ALL SELECT 'empty:exact_kept', CAST(0 AS BIGINT)
        |UNION ALL SELECT 'empty:minhash_pairs', CAST(0 AS BIGINT)
        |UNION ALL SELECT 'empty:simhash_pairs', CAST(0 AS BIGINT)
        |UNION ALL SELECT 'empty:jaccard_pairs', CAST(0 AS BIGINT)
        |UNION ALL SELECT 'all_null:exact_groups', CAST(hasdocs AS BIGINT) FROM nd
        |UNION ALL SELECT 'all_null:exact_kept', CAST(hasdocs AS BIGINT) FROM nd
        |UNION ALL SELECT 'all_null:minhash_pairs', CAST(0 AS BIGINT)
        |UNION ALL SELECT 'all_null:simhash_pairs', CAST(0 AS BIGINT)
        |UNION ALL SELECT 'all_null:jaccard_pairs', CAST(0 AS BIGINT)""".stripMargin,

    // q248: one-document corpus — one group, one survivor, no pairs
    "q248_dedup_degenerate_single" ->
      """WITH nd AS (SELECT CASE WHEN count(*) > 0 THEN 1 ELSE 0 END AS h FROM documents)
        |SELECT 'single:exact_groups' AS family, CAST(h AS BIGINT) AS n FROM nd
        |UNION ALL SELECT 'single:exact_kept', CAST(h AS BIGINT) FROM nd
        |UNION ALL SELECT 'single:minhash_pairs', CAST(0 AS BIGINT)
        |UNION ALL SELECT 'single:simhash_pairs', CAST(0 AS BIGINT)
        |UNION ALL SELECT 'single:jaccard_pairs', CAST(0 AS BIGINT)""".stripMargin,

    // q249: 40 identical docs/vectors — C(40,2) = 780 pairs per family,
    // similarity exactly 1 (so the ppm sums are 780·10⁶), one survivor
    "q249_dedup_degenerate_identical" ->
      """WITH c AS (SELECT count(*) AS m FROM (SELECT doc_id FROM documents ORDER BY doc_id LIMIT 40))
        |SELECT 'exact_groups' AS family, CAST(CASE WHEN m > 0 THEN 1 ELSE 0 END AS BIGINT) AS n FROM c
        |UNION ALL SELECT 'exact_kept', CAST(CASE WHEN m > 0 THEN 1 ELSE 0 END AS BIGINT) FROM c
        |UNION ALL SELECT 'minhash_pairs', CAST(m*(m-1)//2 AS BIGINT) FROM c
        |UNION ALL SELECT 'minhash_jaccard_ppm', CAST(m*(m-1)//2 * 1000000 AS BIGINT) FROM c
        |UNION ALL SELECT 'simhash_pairs', CAST(m*(m-1)//2 AS BIGINT) FROM c
        |UNION ALL SELECT 'jaccard_pairs', CAST(m*(m-1)//2 AS BIGINT) FROM c
        |UNION ALL SELECT 'jaccard_ppm', CAST(m*(m-1)//2 * 1000000 AS BIGINT) FROM c
        |UNION ALL SELECT 'cosine_pairs', CAST(m*(m-1)//2 AS BIGINT) FROM c""".stripMargin,

    // q250: both contamination passes replayed on shingle STRINGS (hash
    // equality ⟺ string equality on these sets): raw 8-gram windows of
    // the attacked text vs the eval set, then the same with both sides
    // folded through the confusable translate
    "q250_decontaminate_confusable" ->
      s"""WITH ev AS (SELECT doc_id, text FROM documents WHERE doc_id % 101 = 0 AND text IS NOT NULL),
         |att AS (SELECT doc_id + 10000000 AS doc_id, translate(text, 'aeocp', 'аеоср') AS text FROM ev),
         |evg AS (SELECT DISTINCT unnest(CASE WHEN len(toks) >= 8
         |    THEN list_transform(generate_series(0, len(toks)-8), i -> array_to_string(toks[i+1:i+8], ' '))
         |    ELSE [array_to_string(toks, ' ')] END) AS gram
         |  FROM (SELECT regexp_split_to_array(trim(text), '\\s+') AS toks FROM ev)),
         |ag AS (SELECT doc_id, unnest(list_distinct(CASE WHEN len(toks) >= 8
         |    THEN list_transform(generate_series(0, len(toks)-8), i -> array_to_string(toks[i+1:i+8], ' '))
         |    ELSE [array_to_string(toks, ' ')] END)) AS gram
         |  FROM (SELECT doc_id, regexp_split_to_array(trim(text), '\\s+') AS toks FROM att)),
         |rawh AS (SELECT ag.doc_id, count(*) AS hits FROM ag JOIN evg USING (gram) GROUP BY 1),
         |evgf AS (SELECT DISTINCT unnest(CASE WHEN len(toks) >= 8
         |    THEN list_transform(generate_series(0, len(toks)-8), i -> array_to_string(toks[i+1:i+8], ' '))
         |    ELSE [array_to_string(toks, ' ')] END) AS gram
         |  FROM (SELECT regexp_split_to_array(trim(translate(text, '${TextAnalysis.ConfusableFrom}', '${TextAnalysis.ConfusableTo}')), '\\s+') AS toks FROM ev)),
         |agf AS (SELECT doc_id, unnest(list_distinct(CASE WHEN len(toks) >= 8
         |    THEN list_transform(generate_series(0, len(toks)-8), i -> array_to_string(toks[i+1:i+8], ' '))
         |    ELSE [array_to_string(toks, ' ')] END)) AS gram
         |  FROM (SELECT doc_id, regexp_split_to_array(trim(translate(text, '${TextAnalysis.ConfusableFrom}', '${TextAnalysis.ConfusableTo}')), '\\s+') AS toks FROM att)),
         |foldh AS (SELECT agf.doc_id, count(*) AS hits FROM agf JOIN evgf USING (gram) GROUP BY 1)
         |SELECT att.doc_id, CAST(coalesce(rawh.hits, 0) AS BIGINT) AS hits_raw,
         |  CAST(coalesce(foldh.hits, 0) AS BIGINT) AS hits_folded
         |FROM att LEFT JOIN rawh USING (doc_id) LEFT JOIN foldh USING (doc_id)""".stripMargin,

    // q251: the q186 island/chained-min machinery with the stream's
    // amortized cut rule — sessions at ≤ 8 step events fold EXACTLY
    // (the sort-truncate never fired), past 8 only the (t, idx)-least
    // 4 are kept and the session is flagged truncated
    "q251_funnel_truncation_rollup" ->
      """WITH ev AS (SELECT user_id AS u, event_id AS id, event_type AS ty,
        |    epoch_us(ts) AS t FROM events),
        |g AS (SELECT u, id, ty, t, CASE WHEN lag(t) OVER w IS NULL
        |      OR t - lag(t) OVER w > 86400000000 THEN 1 ELSE 0 END AS nw
        |  FROM ev WINDOW w AS (PARTITION BY u ORDER BY t, id)),
        |s AS (SELECT u, id, ty, t, sum(nw) OVER (PARTITION BY u
        |    ORDER BY t, id ROWS UNBOUNDED PRECEDING) AS sid FROM g),
        |st AS (SELECT u, sid, t,
        |    CASE ty WHEN 'view' THEN 1 WHEN 'click' THEN 2 ELSE 3 END AS idx
        |  FROM s WHERE ty IN ('view', 'click', 'purchase')),
        |r AS (SELECT u, sid, t, idx,
        |    row_number() OVER (PARTITION BY u, sid ORDER BY t, idx) AS rn,
        |    count(*) OVER (PARTITION BY u, sid) AS ns FROM st),
        |k AS (SELECT u, sid, t, idx FROM r WHERE ns <= 8 OR rn <= 4),
        |allsess AS (SELECT DISTINCT u, sid FROM s),
        |nss AS (SELECT u, sid, max(ns) AS ns FROM r GROUP BY 1, 2),
        |s1 AS (SELECT u, sid, min(t) AS t FROM k WHERE idx = 1 GROUP BY 1, 2),
        |s2 AS (SELECT k.u, k.sid, min(k.t) AS t FROM k
        |  JOIN s1 ON k.u = s1.u AND k.sid = s1.sid
        |  WHERE k.idx = 2 AND k.t > s1.t GROUP BY 1, 2),
        |s3 AS (SELECT k.u, k.sid, min(k.t) AS t FROM k
        |  JOIN s2 ON k.u = s2.u AND k.sid = s2.sid
        |  WHERE k.idx = 3 AND k.t > s2.t GROUP BY 1, 2),
        |ms AS (SELECT a.u, a.sid,
        |    CASE WHEN s3.t IS NOT NULL THEN 3 WHEN s2.t IS NOT NULL THEN 2
        |         WHEN s1.t IS NOT NULL THEN 1 ELSE 0 END AS max_step,
        |    coalesce(n.ns, 0) > 8 AS tr
        |  FROM allsess a
        |  LEFT JOIN nss n ON a.u = n.u AND a.sid = n.sid
        |  LEFT JOIN s1 ON a.u = s1.u AND a.sid = s1.sid
        |  LEFT JOIN s2 ON a.u = s2.u AND a.sid = s2.sid
        |  LEFT JOIN s3 ON a.u = s3.u AND a.sid = s3.sid)
        |SELECT CAST(v.step AS INTEGER) AS step,
        |  CASE v.step WHEN 1 THEN 'view' WHEN 2 THEN 'click' ELSE 'purchase' END AS step_name,
        |  CAST(sum(CASE WHEN ms.max_step >= v.step THEN 1 ELSE 0 END) AS BIGINT) AS sessions,
        |  CAST(sum(CASE WHEN ms.tr AND ms.max_step < v.step THEN 1 ELSE 0 END) AS BIGINT) AS n_truncated
        |FROM (VALUES (1), (2), (3)) v(step), ms
        |GROUP BY v.step ORDER BY v.step""".stripMargin,

    // q252: the q99 replay with HUGEINT norms/dots — exact exactly
    // where the engine's DECIMAL(38,0) path is exercised
    "q252_tfidf_overflow" ->
      """WITH mm AS (SELECT min(doc_id) AS m FROM documents),
        |corpus AS (
        |  SELECT m + 0 AS doc_id, repeat('zuz ', 8000) || repeat('quux ', 2000) AS text FROM mm
        |  UNION ALL SELECT m + 1, repeat('zuz ', 6000) || repeat('quux ', 4000) FROM mm
        |  UNION ALL SELECT m + 2, repeat('frob ', 1000) FROM mm),
        |t AS (SELECT doc_id, unnest(regexp_split_to_array(trim(text), '\s+')) AS token FROM corpus),
        |p AS (SELECT token, doc_id, count(*) AS tf FROM t WHERE token <> '' GROUP BY 1, 2),
        |d AS (SELECT token, count(*) AS df FROM p GROUP BY 1),
        |s AS (SELECT p.doc_id, p.token, (p.tf * 1000000) // d.df AS w,
        |    row_number() OVER (PARTITION BY p.doc_id
        |      ORDER BY CAST(p.tf AS DOUBLE) / d.df DESC, p.token) AS rnk
        |  FROM p JOIN d USING (token)),
        |v AS (SELECT doc_id, token, w FROM s WHERE rnk <= 5),
        |n AS (SELECT doc_id, sum(CAST(w AS HUGEINT) * w) AS n2 FROM v GROUP BY 1),
        |dot AS (SELECT a.doc_id AS id_a, b.doc_id AS id_b, sum(CAST(a.w AS HUGEINT) * b.w) AS dp
        |  FROM v a JOIN v b ON a.token = b.token AND a.doc_id < b.doc_id GROUP BY 1, 2)
        |SELECT id_a, id_b,
        |  CAST(dp AS DOUBLE) / (sqrt(CAST(na.n2 AS DOUBLE)) * sqrt(CAST(nb.n2 AS DOUBLE))) AS cosine
        |FROM dot JOIN n na ON dot.id_a = na.doc_id JOIN n nb ON dot.id_b = nb.doc_id
        |WHERE CAST(dp AS DOUBLE) / (sqrt(CAST(na.n2 AS DOUBLE)) * sqrt(CAST(nb.n2 AS DOUBLE))) >= 0.5""".stripMargin,

    // q253: single-row quantiles (rank 1 at every q) plus the empty
    // input's one (0.5, NULL) row
    "q253_quantiles_degenerate" ->
      """WITH one AS (SELECT value FROM events
        |  WHERE event_id = (SELECT min(event_id) FROM events))
        |SELECT CAST(0.5 AS DOUBLE) AS quantile, CAST(value AS DOUBLE) AS value FROM one
        |UNION ALL SELECT CAST(0.95 AS DOUBLE), CAST(value AS DOUBLE) FROM one
        |UNION ALL SELECT CAST(0.99 AS DOUBLE), CAST(value AS DOUBLE) FROM one
        |UNION ALL SELECT CAST(0.5 AS DOUBLE), CAST(NULL AS DOUBLE)""".stripMargin,

    // q254: full outer on the NULLed keys — a NULL key matches nothing,
    // so each such row counts as missing/extra; quarantine counts ride
    // alongside
    "q254_differ_null_keys" ->
      s"""WITH src AS (SELECT CASE WHEN o_orderkey % 13 = 0 THEN NULL ELSE o_orderkey END AS k,
         |    o_orderstatus AS st, o_totalprice AS tp
         |  FROM orders WHERE o_orderkey % 7 <> 0),
         |tgt AS (SELECT CASE WHEN o_orderkey % 17 = 0 THEN NULL ELSE o_orderkey END AS k,
         |    o_orderstatus AS st,
         |    o_totalprice + (CASE WHEN o_orderkey % 11 = 0 THEN 0.5 ELSE 0.0 END) AS tp
         |  FROM orders WHERE o_orderkey % 5 <> 0),
         |j AS (SELECT s.present AS sp, t.present AS tpr, s.st AS s_st,
         |    t.st AS t_st, s.tp AS s_tp, t.tp AS t_tp
         |  FROM (SELECT *, TRUE AS present FROM src) s
         |  FULL OUTER JOIN (SELECT *, TRUE AS present FROM tgt) t ON s.k = t.k),
         |typed AS (SELECT CASE
         |    WHEN tpr IS NULL THEN 'missing_in_target'
         |    WHEN sp IS NULL THEN 'extra_in_target'
         |    WHEN NOT ((s_st IS NOT DISTINCT FROM t_st)
         |      AND ${eqDoubleSql("s_tp", "t_tp")}) THEN 'mismatch'
         |    ELSE 'match' END AS metric
         |  FROM j)
         |SELECT metric, CAST(count(*) AS BIGINT) AS n FROM typed
         |WHERE metric <> 'match' GROUP BY 1
         |UNION ALL SELECT 'src_null_keys', CAST(count(*) AS BIGINT) FROM src WHERE k IS NULL
         |UNION ALL SELECT 'tgt_null_keys', CAST(count(*) AS BIGINT) FROM tgt WHERE k IS NULL""".stripMargin,

    // q255: per-field NULL semantics — only rows where o_orderstatus
    // differs under null-safe equality appear, with the NULL side NULL
    "q255_comparer_null_fields" ->
      """WITH src AS (SELECT o_orderkey,
        |    CASE WHEN o_orderkey % 3 = 0 THEN NULL ELSE o_orderstatus END AS st
        |  FROM orders WHERE o_orderkey % 7 <> 0),
        |tgt AS (SELECT o_orderkey,
        |    CASE WHEN o_orderkey % 4 = 0 THEN NULL ELSE o_orderstatus END AS st
        |  FROM orders WHERE o_orderkey % 5 <> 0)
        |SELECT s.o_orderkey, s.st AS src_value, t.st AS tgt_value
        |FROM src s JOIN tgt t USING (o_orderkey)
        |WHERE NOT (s.st IS NOT DISTINCT FROM t.st)""".stripMargin,

    // q257: both degenerate ends are provably empty — zero-score docs
    // are filtered, an empty corpus yields no postings
    "q257_bm25_degenerate" ->
      """SELECT 'no_hit_terms' AS family, CAST(0 AS BIGINT) AS n
        |UNION ALL SELECT 'empty_corpus', CAST(0 AS BIGINT)""".stripMargin,

    // q258: the q186 chained-min replay verbatim, with the truncation
    // column identically zero — the cap-off parity proof
    "q258_funnel_cap_exact_parity" ->
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
        |  (SELECT count(*) FROM s1) AS sessions, CAST(0 AS BIGINT) AS n_truncated
        |UNION ALL SELECT 2, 'click', (SELECT count(*) FROM s2), CAST(0 AS BIGINT)
        |UNION ALL SELECT 3, 'purchase', (SELECT count(*) FROM s3), CAST(0 AS BIGINT)
        |ORDER BY step""".stripMargin,

    // q256: pairs = equal-truncation groups (the whole-text fallback
    // shingle), reduced to the same (count, checksum) aggregate — each
    // member of a g-group appears in g−1 pairs
    "q256_short_doc_jaccard" ->
      """WITH t AS (SELECT doc_id,
        |    array_to_string((regexp_split_to_array(trim(text), '\s+'))[1:2], ' ') AS tt
        |  FROM documents WHERE text IS NOT NULL),
        |g AS (SELECT tt, count(*) AS g, sum(doc_id) AS sids FROM t GROUP BY 1)
        |SELECT CAST(coalesce(sum(g*(g-1)//2), 0) AS BIGINT) AS n_pairs,
        |  CAST(coalesce(sum((g-1)*sids), 0) AS BIGINT) AS id_checksum FROM g""".stripMargin,
  )

  /** The q70/q71 synthesized 3-line text as a DuckDB expression —
    * must rebuild [[withFooterLines]] byte-for-byte. */
  private val footerLinesSql: String =
    "text || chr(10) || 'all rights reserved - ' || source || " +
      "chr(10) || 'ref ' || CAST(doc_id AS VARCHAR)"

  /** DuckDB fragments computing graft.functions.TextHashes.poly over a
    * lambda variable `tok` (bases 257/263, mod 2³¹−1) — the cross-engine
    * hash behind the simhash and winnowing oracles. */
  private def polySql(base: Int): String =
    // list_filter guards the empty token: DuckDB string_split('','') is
    // [''] and unicode('') is -1, which would diverge from the Scala
    // fold's 0 — filtering empty chars yields reduce([0]) = 0 on both
    "list_reduce(list_prepend(CAST(0 AS BIGINT), " +
      "list_transform(list_filter(string_split(tok, ''), c -> c <> ''), " +
      "c -> CAST(unicode(c) AS BIGINT))), " +
      s"(acc, cp) -> (acc * $base + cp) % 2147483647)"
  private val polyAsql = polySql(257)
  private val polyBsql = polySql(263)

  /** The q38 LSH hyperplanes as DuckDB VALUES rows — seed-derived
    * constants, so the oracle can recompute identical signatures. */
  private lazy val lshPlanesValues: String =
    graft.vector.Similarity.hyperplanes(8, 64, 42L).zipWithIndex
      .map { case (plane, i) => s"($i, [${plane.mkString(", ")}])" }
      .mkString(", ")

  private val enStop =
    "'the','a','of','and','to','in','is','that','it','for'"
  private val tokensSql = "regexp_split_to_array(trim(text), '\\s+')"
  private val fingerprintSql =
    "sha256(regexp_replace(lower(trim(text)), '\\s+', ' ', 'g'))"

  /** The q32 language-id heuristic replayed in SQL — shared between the
    * per-doc oracle (q32) and the confusion-matrix rollup (q201). */
  private lazy val langIdOracleSql =
    s"""WITH t AS (SELECT doc_id, lang, text,
       |  regexp_split_to_array(trim(lower(text)), '\\s+') AS toks FROM documents),
       |s AS (SELECT doc_id, lang, text,
       |  len(list_filter(toks, x -> x IN ($enStop))) AS s_en,
       |  len(list_filter(toks, x -> x IN ('el','la','de','y','que','en','un','una','es','los'))) AS s_es,
       |  len(list_filter(toks, x -> x IN ('le','la','de','et','que','en','un','une','est','les'))) AS s_fr,
       |  len(list_filter(toks, x -> x IN ('der','die','das','und','zu','in','ein','eine','ist','von'))) AS s_de
       | FROM t)
       |SELECT doc_id, lang,
       | CASE WHEN len(regexp_extract_all(text, '[\\x{4e00}-\\x{9fff}]')) > 0 THEN 'zh'
       |      WHEN s_de >= s_en AND s_de >= s_es AND s_de >= s_fr THEN 'de'
       |      WHEN s_en >= s_es AND s_en >= s_fr THEN 'en'
       |      WHEN s_es >= s_fr THEN 'es'
       |      ELSE 'fr' END AS lang_pred
       |FROM s""".stripMargin
}
