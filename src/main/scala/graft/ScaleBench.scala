package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import scala.util.Try

import graft.text.Dedup
import graft.vector.Similarity

/** Scale-proof harness: times the five most expensive operators on a
  * synthetically scaled corpus and reports the wall-time ratio against
  * the same code path on the unscaled corpus — the "would this plan
  * survive 10× the data" datapoint (near-linear ratio expected; a
  * superlinear ratio names the operator whose plan breaks first).
  *
  *   sbt "runMain graft.ScaleBench [baseDir] [factor] [workDir]"
  *
  * The scaled corpus is NOT naive replication — that would be a
  * degenerate benchmark in both directions:
  *
  *  - documents: each replica interleaves a replica-salted token (a
  *    function of the replica id and the PRECEDING word, so it stays
  *    shift-invariant) after every second word. Cross-replica shingle
  *    overlap drops to zero — shingle document frequencies stay flat
  *    instead of multiplying by the factor, which would turn the
  *    shingle join into an artificial DF² blowup no real corpus has.
  *    Within a replica, k=3 shingles become deterministic functions of
  *    the original word bigrams, so each replica carries the original
  *    corpus's near-duplicate pair structure: total candidate volume
  *    scales linearly with the factor, like a real crawl would.
  *  - embeddings: each replica applies a per-replica deterministic
  *    sign-flip pattern across components — an orthogonal transform, so
  *    within-replica cosines are EXACTLY the original ones (pair
  *    structure preserved) while cross-replica cosines collapse to
  *    ~N(0, 1/sqrt(dim)) noise, far below the 0.35 near-dup threshold.
  *
  * Both the 1× and the scaled run go through this same generator (the
  * 1× run is "factor 1" — interleaved/flipped identically), so the
  * ratio compares identical text and vector distributions, isolating
  * pure data-volume scaling. */
object ScaleBench {

  /** Replicated + decorrelated documents. New ids are `id * 16 + rep`
    * (factor ≤ 16), keeping the `% 37` eval-slice semantics non-trivial. */
  def scaleDocuments(docs: DataFrame, factor: Int): DataFrame = {
    require(factor >= 1 && factor <= 16, s"factor in [1,16], got $factor")
    val toks = split(col("text"), "\\s+")
    val tagged = array_join(
      flatten(transform(toks, (w, i) =>
        when(i % 2 === 1,
          array(w, concat(lit("zq"), col("rep").cast("string"), lit("x"),
            pmod(xxhash64(w), lit(997)).cast("string"))))
          .otherwise(array(w)))),
      " ")
    docs
      .withColumn("rep", explode(sequence(lit(0), lit(factor - 1))))
      .withColumn("doc_id", col("doc_id") * 16 + col("rep"))
      .withColumn("text", tagged)
      .drop("rep")
  }

  /** Replicated embeddings under per-replica sign-flip isometries. */
  def scaleEmbeddings(emb: DataFrame, factor: Int): DataFrame = {
    require(factor >= 1 && factor <= 16, s"factor in [1,16], got $factor")
    val flipped = transform(col("embedding"), (x, j) =>
      (x * (lit(1.0f) - lit(2.0f) *
        pmod(xxhash64(col("rep") * 10007 + j), lit(2)).cast("float")))
        .cast("float"))
    emb
      .withColumn("rep", explode(sequence(lit(0), lit(factor - 1))))
      .withColumn("vec_id", col("vec_id") * 16 + col("rep"))
      .withColumn("embedding", flipped)
      .drop("rep")
  }

  /** Compounding-basket co-purchase fact for the graph family: replica
    * `r` of order `o` carries the union of `o`'s base basket and the
    * basket of the deterministically-shifted order `(o + r·9973) mod
    * maxKey` — previously-unrelated parts start co-occurring, hot parts
    * land in more orders, so degrees and wedge work COMPOUND with the
    * factor (the graph analog of OrganicCorpus' collision-grown
    * repetition) while the support floor keeps the edge set
    * result-bounded. Factor 1 is the base fact exactly (the shift is 0
    * and the distinct collapses the duplicate union arm). Factors above
    * 16 CAP at 16, loudly — like run()'s clamp around
    * [[scaleEmbeddings]] (which itself still throws past 16): the
    * graph family saturates there and an organic text run at factor 32
    * must not abort the whole factor's measurements; the stderr line
    * keeps the scaling curve honestly labeled. */
  def scaleBaskets(lineitem: DataFrame, factor: Int): DataFrame = {
    require(factor >= 1, s"factor must be >= 1, got $factor")
    val f = math.min(factor, 16)
    if (factor > 16) System.err.println(
      s"[scale] graph family caps the basket factor at 16 (requested $factor)")
    val baskets = lineitem.select(col("l_orderkey"), col("l_partkey"))
      .distinct().localCheckpoint() // both union arms read it
    val maxKey = baskets.agg(max(col("l_orderkey"))).head().getLong(0) + 1
    val reps = baskets.sparkSession.range(f)
      .select(col("id").as("rep"))
    val own = baskets.crossJoin(broadcast(reps))
      .select((col("l_orderkey") * 16 + col("rep")).as("l_orderkey"),
        col("l_partkey"))
    val merged = baskets.crossJoin(broadcast(reps))
      .select((pmod(col("l_orderkey") + col("rep") * lit(9973L),
        lit(maxKey)) * 16 + col("rep")).as("l_orderkey"), col("l_partkey"))
    own.unionByName(merged).distinct()
  }

  private def timed(body: => Long): (Double, Long) = {
    val t0 = System.nanoTime()
    val n = body
    ((System.nanoTime() - t0) / 1e9, n)
  }

  /** Drop every persisted/localCheckpoint'd block outside the live
    * shared entries ([[util.Materialized.sweep]]) and nudge the
    * ContextCleaner (System.gc() is what lets it reap now-unreferenced
    * checkpoint RDDs and broadcasts). Without this, the factor-1 phase's
    * checkpoint blocks stay pinned in storage memory through the
    * factor-10 phase and its big aggregations spill — the measured
    * effect was a 4× slowdown on the first post-switch heavy query.
    * Only called at points where no benched query still references a
    * checkpoint (after the shingle-index family, between factors). */
  private def releaseStorage(spark: SparkSession): Unit = {
    util.Materialized.sweep(spark)
    System.gc()
  }

  /** Runs the heavy-query family against a materialized scaled corpus;
    * returns (query → (seconds, result rows)). `evalSlice` selects the
    * FIXED eval set for the decontamination paths — replica mode pins
    * replica 0's `% 37` docs, organic mode the `% 37` docs of the
    * factor-1 id prefix (same document set at every factor either
    * way). */
  def run(spark: SparkSession, docsPath: String, embPath: String,
      funnelCfg: ops.CurateCli.Config,
      evalSlice: org.apache.spark.sql.Column,
      baseDir: String = "", factor: Int = 1): Seq[(String, Double, Long)] = {
    val docs = spark.read.parquet(docsPath)
    val emb = spark.read.parquet(embPath)
    val results = scala.collection.mutable.ListBuffer.empty[(String, Double, Long)]
    val only = onlyFilter()
    def wanted(name: String): Boolean = only.forall(_.contains(name))
    def bench(name: String)(body: => Long): Unit = {
      if (wanted(name)) {
        val (sec, n) = timed(body)
        results += ((name, sec, n))
        println(s"""{"scale_query":"$name","sec":${math.rint(sec * 1000) / 1000},"rows":$n}""")
      }
    }
    def record(name: String, n: Long): Unit = {
      results += ((name, 0.0, n))
      println(s"""{"scale_query":"$name","sec":0.0,"rows":$n}""")
    }
    // a census probe under the RocksDB state store (the CLI's at-scale
    // provider): the drain's wall, then `*_state_rows` / `*_state_bytes`
    // — the MAX keys-in-state / provider-reported bytes across every
    // micro-batch, from the shared listener (recentProgress rings out
    // at 100 entries) — and, for the capped probes, `*_truncated`
    def stateProbe(name: String, inDir: String)(mk: DataFrame => DataFrame)(
        truncatedOf: Option[DataFrame => Long] = None): Unit = if (wanted(name)) {
      val runDir = java.nio.file.Files.createTempDirectory("graft-streamrun")
      val listener = new graft.observe.CdcQueryListener()
      spark.streams.addListener(listener)
      try ops.StateStores.withProvider(spark, Some("rocksdb")) {
        bench(name)(drainToParquet(spark, inDir, runDir, name)(mk))
        listener.settle() // async bus — outside the timed window
        val (k, b) = listener.maxFor(name).getOrElse((0L, 0L))
        val stem = name.stripSuffix("_wall")
        record(s"${stem}_state_rows", k)
        record(s"${stem}_state_bytes", b)
        truncatedOf.foreach(f =>
          record(s"${stem}_truncated", f(spark.read.parquet(s"$runDir/out"))))
      } finally {
        spark.streams.removeListener(listener)
        // a failed probe must not leak checkpoint+out
        Try(util.Fs.deleteRecursive(runDir))
      }
    }

    // the shared shingle index, exactly as the q36/q46/q48 family uses
    // it. Built ONLY if some selected query needs it — shingleIndex ends
    // in an eager localCheckpoint, and paying the corpus's most
    // expensive materialization would perturb an unrelated isolated
    // measurement (the very thing SPARK_GRAFT_SCALE_ONLY exists for)
    if (Seq("shingle_index", "q36_ngram_jaccard_pairs",
        "q46_dedup_near_corpus", "q48_ngram_dfcut", "q82_prefix_highsim",
        "q36_full_highsim").exists(wanted)) {
      val idx = Dedup.shingleIndex(docs, "doc_id", "text", k = 3)
      bench("shingle_index")(idx.count())
      bench("q36_ngram_jaccard_pairs")(
        Dedup.ngramJaccardPairsFromIndex(idx, threshold = 0.3).count())
      bench("q46_dedup_near_corpus")(
        Dedup.dedupByPairs(docs, "doc_id",
          Dedup.ngramJaccardPairsFromIndex(idx, threshold = 0.8)).count())
      bench("q48_ngram_dfcut")(
        Dedup.ngramJaccardPairsFromIndex(idx, threshold = 0.4,
          maxShingleDf = 20L).count())
      // the prefix-filter vs full-self-join pair at the HIGH threshold
      // the prefix plan is designed for (t=0.8 explodes ~20% of each
      // set) — same exact result, measured side by side
      bench("q36_full_highsim")(
        Dedup.ngramJaccardPairsFromIndex(idx, threshold = 0.8).count())
      bench("q82_prefix_highsim")(
        Dedup.ngramJaccardPairsPrefixFromIndex(idx, threshold = 0.8).count())
      releaseStorage(spark) // idx is done; its checkpoint must not pin storage
    }
    // sorted-neighborhood blocking at the funnel's high threshold:
    // candidate work is N·window by construction — the linear-scaling
    // claim of the third blocking family, measured
    bench("q135_snm_highsim")(
      Dedup.sortedNeighborhoodPairs(docs, "doc_id", "text",
        window = 10, threshold = 0.8).count())
    releaseStorage(spark) // snm's internal profile checkpoint is done
    // auto-sized blocks (the at-scale path), not the bench-pinned 8
    bench("q39_embedding_neardup")(
      Similarity.exactNearDuplicatePairs(emb, "vec_id", "embedding",
        threshold = 0.35).count())
    // eval slice FIXED while the corpus grows — scaling it with the
    // factor would benchmark a scenario that never happens
    bench("q53_decontaminate")(
      Dedup.decontaminate(docs, docs.filter(evalSlice),
        "doc_id", "text", k = 8).count())
    bench("curate_funnel") {
      val r = ops.CurateCli.curate(docs, "doc_id", "text", funnelCfg)
      val n = r.funnel.last.docs
      r.unpersist()
      n
    }
    // the everything-enabled funnel: all seven extended stages on. The
    // token budget is effectively unbounded so every stage processes
    // its full share at BOTH factors (a fixed finite budget would make
    // the 10× run drop 10× more work after selection — a semantics
    // change, not a scale measurement); the eval slice is replica 0,
    // fixed like q53's
    bench("curate_funnel_full") {
      // lineDedupMinDf=2: the organic corpus's fixed boilerplate LINE
      // has document frequency ~N/7 (grows linearly with the corpus) —
      // the line-dedup stage's at-scale prey; with the per-stage
      // lineage cut its join-back is O(1) plan nodes, so the stage must
      // scale like the other rewrite stages
      // SPARK_GRAFT_SCALE_CHECKPOINT_DIR switches the funnel's stage
      // lineage cut from localCheckpoint (executor-local blocks) to a
      // RELIABLE checkpoint written under that directory — the
      // preemptible-cluster durability trade, priced by running the
      // same factor with and without it (SCALE.md records the pair)
      // quality_pct cuts a fixed 5% per source (proportional at both
      // factors); the entropy floor sits at 1 nat — far below organic
      // text — so both new stages pay their full compute cost while
      // volume, not gate selectivity, stays the scale variable
      val r = ops.CurateCli.curate(docs, "doc_id", "text",
        funnelCfg.copy(mixDefaultPpm = 900000L,
          minQualityPctPpm = 50000L, minCharEntropyFp = 1000000L,
          piiScrub = true,
          maxRepetitionRatio = 0.9, lineDedupMinDf = 2, exciseSpanK = 8,
          budgetTokens = 1000000000000L, packBudget = 512,
          packBuckets = 8,
          checkpointDir = sys.env.get("SPARK_GRAFT_SCALE_CHECKPOINT_DIR")
            .filter(_.nonEmpty)),
        evalDocs = Some(docs.filter(evalSlice)))
      val n = r.funnel.last.docs
      r.unpersist()
      n
    }
    // q58: duplicated spans — within-replica shared stretches keep their
    // shared 8-grams (the salt insertion is a function of the preceding
    // word, identical in both carriers), so span volume scales linearly
    bench("q58_duplicated_spans")(
      Dedup.duplicatedSpans(docs, "doc_id", "text", k = 8).count())
    // q59: history dedup — the bloom is sized for the scaled history's
    // shingle count (the caller-supplied capacity knob doing its job)
    bench("q59_dedup_vs_history")(
      Dedup.dedupAgainstHistory(
        docs.filter(col("doc_id") % 10 === 0),
        docs.filter(col("doc_id") % 10 =!= 0),
        "doc_id", "text", k = 8, expectedItems = 50000000L).count())
    // q34 family: LSH candidates + exact-Jaccard verify — the round-20
    // datapoint for the shared per-doc shingle-set table (one lazy
    // checkpoint feeding both verify legs vs the prior per-leg
    // re-tokenize)
    bench("q34_minhash_verified")(
      Dedup.minhashVerifiedPairs(docs, "doc_id", "text",
        threshold = 0.5).count())
    releaseStorage(spark) // the sig index + shingle-set checkpoints
    // q61: corpus vocabulary — pure word-count shape; the salted tokens
    // grow the vocab ~linearly with the factor, the hot originals keep
    // their flat DF, so this exercises the (token, doc) pre-agg at 10×
    bench("q61_vocab_df")(
      graft.text.TextAnalysis.vocabulary(docs, "doc_id", "text")
        .orderBy(col("df").desc, col("tf").desc, col("token"))
        .limit(100).count())
    bench("q81_bpe_pairs")(
      graft.text.Bpe.pairCounts(
        graft.text.Bpe.wordCounts(docs, "text")
          .withColumn("syms", graft.text.Bpe.initialSymbols(col("word"))))
        .count())
    bench("q90_bm25_batch")(
      graft.text.Retrieval.bm25BatchTopK(docs, "doc_id", "text",
        docs.filter(col("doc_id") % 97 === 0), "doc_id", "text", 3)
        .count())
    // q90's WORKLOAD check: the (query-term, doc) fan-out — the exact
    // row count of the scoring join (postings ⋈ distinct query terms),
    // i.e. the candidate volume the "cost = matching postings, never
    // queries × corpus" claim bounds. Recorded beside the wall time so
    // the organic table carries wall-vs-candidate-work for the
    // retrieval family like it does for the dedup family
    bench("q90_workload_postings") {
      val postings = graft.text.Retrieval.postingsIndex(
        docs, "doc_id", "text")
      val qTerms = docs.filter(col("doc_id") % 97 === 0)
        .filter(col("text").isNotNull)
        .select(col("doc_id").as("__qid"),
          explode(graft.text.TextAnalysis.tokens(col("text"))).as("token"))
        .filter(col("token") =!= "").distinct()
      postings.join(qTerms, "token").count()
    }
    // q63: keyword extraction — at 10× the vocab side outgrows the
    // broadcast threshold, so this is the shuffle-join-on-token regime
    // plus the map-side WindowGroupLimit top-k
    bench("q63_distinctive_terms")(
      graft.text.TextAnalysis.distinctiveTerms(docs, "doc_id", "text",
        topK = 3).count())
    // q99: prefix + positionally filtered cosine AllPairs — the organic
    // corpus's collision-grown hot terms are exactly what the
    // rarest-first prefixes must keep OUT of the candidate join
    bench("q99_tfidf_cosine")(
      graft.text.TextAnalysis.tfidfCosinePairs(docs, "doc_id", "text",
        topM = 5, threshold = 0.8).count())
    // q171: leakage-safe splits — near-dup pairs → connected components
    // → split coin on the representative. The paired WORKLOAD row is
    // the CC edge count (the pair volume the min-label loop iterates),
    // so the table carries wall-vs-candidate-work like q90's
    bench("q171_leakage_splits")(
      graft.text.TextAnalysis.leakageSafeSplits(docs, "doc_id",
        Dedup.ngramJaccardPairsFromIndex(
          Dedup.shingleIndex(docs, "doc_id", "text", k = 3),
          threshold = 0.4)).count())
    bench("q171_workload_edges")(
      Dedup.ngramJaccardPairsFromIndex(
        Dedup.shingleIndex(docs, "doc_id", "text", k = 3),
        threshold = 0.4).count())
    releaseStorage(spark) // q59's candidate checkpoint + funnel leftovers
    // graph family: the compounding-basket fact (scaleBaskets — merged
    // baskets make degrees and wedge work COMPOUND with the factor).
    // The census row's `rows` records n_triangles; the paired workload
    // row records the oriented wedge count the closure join probes —
    // wall must track wedges, not wedges², or the orientation broke
    if (baseDir.nonEmpty &&
        Seq("q158_triangle_census", "q158_workload_wedges",
          "q174_degree_census", "q174_workload_edges",
          "q203_clustering_census", "q235_lift_census",
          "q235_workload_pairs").exists(wanted)) {
      val fact = scaleBaskets(Tables.lineitem(spark, baseDir), factor)
        .localCheckpoint() // census + workload probes share it
      // the artifact — not just a stderr notice — must carry the basket
      // cap: rows = the factor the graph measurements actually ran at
      // (scaleBaskets clamps past 16), so a factor-32 run can never be
      // misread as factor-32 graph data
      println(s"""{"scale_query":"graph_basket_factor","sec":0.0,"rows":${
        math.min(factor, 16)}}""")
      bench("q158_triangle_census") {
        graft.analytics.Analytics.coPurchaseTriangles(fact, minSupport = 2L)
          .head().getLong(2)
      }
      bench("q158_workload_wedges")(
        graft.analytics.Analytics.coPurchaseWedgeCount(fact, minSupport = 2L))
      // q174's per-part degree rollup has its own skew profile (hot
      // parts): measured with its true input volume (edges) alongside
      bench("q174_degree_census")(
        graft.analytics.Analytics.coPurchaseDegrees(fact, minSupport = 2L)
          .count())
      bench("q174_workload_edges")(
        graft.analytics.Analytics.coPurchaseEdgeCount(fact, minSupport = 2L))
      // q203 consumes the same relations but pays the triangle explode
      // on top of the wedge closure — wall must track wedges/triangles
      bench("q203_clustering_census")(
        graft.analytics.Analytics.coPurchaseClustering(fact, minSupport = 2L)
          .count())
      // q235 brand-pair lift on the SAME compounding-basket fact: the
      // merged baskets grow brands-per-basket, so the distinct
      // (order, brand) self-join's pair volume (Σ c·(c−1)/2 — the
      // documented fan-out bound) COMPOUNDS with the factor like the
      // wedge family; wall must track the workload row, never baskets²
      bench("q235_lift_census")(
        graft.analytics.Analytics.brandPairLift(
          Tables.part(spark, baseDir), fact).count())
      bench("q235_workload_pairs") {
        val ob = fact.join(
            broadcast(Tables.part(spark, baseDir)
              .select(col("p_partkey").as("l_partkey"),
                col("p_brand").as("__b"))), "l_partkey")
          .select(col("l_orderkey"), col("__b")).distinct()
        ob.groupBy("l_orderkey").agg(count(lit(1)).as("__c"))
          .agg(sum((col("__c") * (col("__c") - 1)) / 2).cast("long")
            .as("__p")).head().getLong(0)
      }
      releaseStorage(spark)
    }
    // rank family (round 14): the range-repartition global-rank
    // machinery under q198 (two rank passes over events) and q202 (one
    // prefix-sum pass over the fact) — replicated rows with distinct
    // ids, workload = input rows, wall must track rows (the
    // decomposition's claim: never a single-partition sort).
    // Round 15 adds the attribution/panel family on the same replicated
    // events: q191/q192 carry the one-user-shuffle + segment-bounded
    // claims (workload = event rows — replicas keep each user's journey
    // shape but multiply its volume, so per-user windows see f× rows),
    // and q200's census row's OWN rows count IS the panel-cell workload
    // (the LOCF output is the panel).
    if (baseDir.nonEmpty &&
        Seq("q198_mad_census", "q202_wmedian_census",
          "q198_workload_rows", "q191_attribution_census",
          "q192_linear_census", "q200_locf_census",
          "q217_quantile_census", "q228_corr_census",
          "q230_psi_census", "q245_overlap_census",
          "q245_workload_pairs", "census_stream_wall",
          "census_stream_workload", "abandon_stream_wall",
          "paths_stream_wall", "funnel_stream_wall",
          "growth_stream_wall", "transitions_stream_wall",
          "census_crash_wall").exists(wanted)) {
      val f = math.min(factor, 16)
      val ev0 = Tables.events(spark, baseDir)
      val maxId = ev0.agg(max(col("event_id"))).head().getLong(0) + 1
      val ev = ev0.crossJoin(broadcast(spark.range(f).select(col("id").as("__r"))))
        .withColumn("event_id", col("event_id") + col("__r") * maxId)
        .drop("__r").localCheckpoint()
      bench("q198_workload_rows")(ev.count())
      bench("q198_mad_census")(
        graft.analytics.Analytics.madOutliers(ev, "event_type", "value",
          "event_id").count())
      bench("q191_attribution_census")(
        graft.analytics.Analytics.attributionLastTouch(ev, "user_id",
          "event_type", "ts", "event_id", "value").count())
      bench("q192_linear_census")(
        graft.analytics.Analytics.attributionLinear(ev, "user_id",
          "event_type", "ts", "event_id", "value").count())
      bench("q200_locf_census")(
        graft.analytics.Analytics.dailyStatusLocf(ev, "user_id",
          "event_type", "ts", "event_id").count())
      // q217 rides the same global-rank machinery as q198 but with a
      // panel-bounded (type × day) offset table instead of a
      // type-bounded one — the census rows column records the panel
      // cells (invariant across factors: same types, same days)
      bench("q217_quantile_census")(
        graft.analytics.Analytics.dailyValueQuantiles(ev, "event_type",
          "ts", "value", "event_id").count())
      // q228's claims: the fact collapses ONCE to the (type, day)
      // panel, and the panel — NOT the fact — pays the self-join; the
      // panel's cell count is invariant under replication (same types,
      // same days), so wall must track the scan, never pair work
      bench("q228_corr_census")(
        graft.analytics.Analytics.typeDailyCorrelation(ev, "event_type",
          "ts").count())
      // q230's claims: two narrow fact scans (bounds, then binning),
      // then everything is types×bins-bounded — wall tracks the scans
      bench("q230_psi_census")(
        graft.analytics.Analytics.psiDrift(ev, "event_type", "ts",
          "value").count())
      // q245 audience overlap: the event-id replication above keeps
      // the USER population fixed (the distinct (type, user) relation
      // — and with it the pair join — would be invariant across
      // factors), so this family replicates USERS instead: f× distinct
      // users, each with the base journey. The user-keyed self-join's
      // input (Σ_u types_u·(types_u−1)/2 — the documented types²-per-
      // user bound) then scales LINEARLY with the factor while the
      // report stays types²-bounded; wall must track the workload row.
      if (Seq("q245_overlap_census", "q245_workload_pairs").exists(wanted)) {
        val maxU = ev0.agg(max(col("user_id"))).head().getLong(0) + 1
        val evU = ev0
          .crossJoin(broadcast(spark.range(f).select(col("id").as("__r"))))
          .withColumn("user_id", col("user_id") + col("__r") * maxU)
          .withColumn("event_id", col("event_id") + col("__r") * maxId)
          .drop("__r").localCheckpoint()
        bench("q245_overlap_census")(
          graft.analytics.Analytics.audienceOverlap(evU, "event_type",
            "user_id").count())
        bench("q245_workload_pairs") {
          evU.select(col("event_type"), col("user_id")).distinct()
            .groupBy("user_id").agg(count(lit(1)).as("__c"))
            .agg(sum((col("__c") * (col("__c") - 1)) / 2).cast("long")
              .as("__p")).head().getLong(0)
        }
      }
      // the STREAMING census family at scale: the same replicated
      // events driven as a JSON file stream through
      // sessionCensusStream (AvailableNow, fresh checkpoint). Replicas
      // share each user's timestamps, so the SESSION STRUCTURE — and
      // the closed-session output — is invariant across factors while
      // every micro-batch's parse, user shuffle, and per-user state
      // fold see f× events: wall must track the event volume
      // (`census_stream_workload` rows), never the output, and the
      // per-user state stays bounded by OPEN sessions regardless of
      // how many events pass through. The corpus write and the output
      // count sit outside/inside the timed window exactly as the cdc
      // bench prices its loop.
      if (Seq("census_stream_wall", "census_stream_workload",
          "abandon_stream_wall", "paths_stream_wall",
          "funnel_stream_wall", "growth_stream_wall",
          "transitions_stream_wall", "census_crash_wall").exists(wanted)) {
        val streamBase =
          java.nio.file.Files.createTempDirectory("graft-censusstream")
        val inDir = s"$streamBase/in"
        // the corpus write is only for the *_wall probes — a
        // workload-only run (census_stream_workload is just ev.count())
        // must not pay the replicated JSON write it never reads (the
        // same isolation rule as the gated lineitem checkpoint)
        val needCorpus =
          Seq("census_stream_wall", "abandon_stream_wall",
            "paths_stream_wall", "funnel_stream_wall",
            "growth_stream_wall", "transitions_stream_wall",
            "census_crash_wall").exists(wanted)
        if (needCorpus) {
          // CHRONOLOGICAL arrival through the shared staging helper
          // (ops.JsonStage.stageFrame): range-partitioned by ts,
          // within-sorted, part mtimes stamped strictly increasing in
          // part order — a randomly-shuffled write would let batch 1
          // drag the watermark to the corpus frontier and every later
          // file would arrive "late", measuring drop behavior instead
          // of census scaling; and the file source orders same-batch
          // files by nondeterministic MODIFICATION time, so the range
          // order alone is not enough. With in-order files plus a
          // realistic lateness bound, the closed-session output is a
          // FUNCTION OF THE DATA, invariant across factors.
          ops.JsonStage.stageFrame(
            ev.select("user_id", "event_id", "ts", "event_type"),
            inDir, orderBy = "ts", parts = 8)
        }
        bench("census_stream_workload")(ev.count())
        bench("census_stream_wall") {
          val runDir =
            java.nio.file.Files.createTempDirectory("graft-censusrun")
          val n = drainToParquet(spark, inDir, runDir, "census_stream_wall")(src =>
            graft.analytics.StreamingAnalytics.sessionCensusStream(src,
              "user_id", "event_type", "ts", "event_id", 1800L * 1000000L,
              watermark = "60 seconds").toDF())
          Try(util.Fs.deleteRecursive(runDir))
          n
        }
        // the abandonment stream on the SAME corpus: replicas carry
        // distinct event ids, so from-event verdicts scale LINEARLY
        // with the factor (the complement of the census row's
        // invariant output) — wall must track events, and the
        // horizon-purged (watermark − window) state must hold at 10×
        // the per-batch stamp volume
        bench("abandon_stream_wall") {
          val runDir =
            java.nio.file.Files.createTempDirectory("graft-abandonrun")
          val n = drainToParquet(spark, inDir, runDir, "abandon_stream_wall")(src =>
            graft.analytics.StreamingAnalytics.abandonmentStream(src,
              "user_id", "event_type", "ts", "event_id", "view", "purchase",
              3600L * 1000000L, watermark = "60 seconds").toDF())
          Try(util.Fs.deleteRecursive(runDir))
          n
        }
        // the ROUND-16 CENSUS FAMILY at scale (round-17 decade rows):
        // paths/funnel (stamp-buffered, maxStamps-capped), growth and
        // transitions (durable per-user carries) — each driven through
        // the SAME chronological corpus as a state probe. `*_state_rows`
        // must track user cardinality — invariant across factors for
        // this corpus, whose replicas share each user's timeline. Walls
        // must track event volume; state must not.
        locally {
          val steps = Seq("view", "click", "purchase")
          val gapUs = 1800L * 1000000L
          stateProbe("paths_stream_wall", inDir)(src =>
            graft.analytics.StreamingAnalytics.sessionPathsStream(src,
              "user_id", "event_type", "ts", "event_id", gapUs,
              watermark = "60 seconds").toDF())()
          stateProbe("funnel_stream_wall", inDir)(src =>
            graft.analytics.StreamingAnalytics.sessionFunnelStream(src,
              "user_id", "event_type", "ts", steps, gapUs,
              watermark = "60 seconds").toDF())()
          stateProbe("growth_stream_wall", inDir)(src =>
            graft.analytics.StreamingAnalytics.growthAccountingStream(src,
              "user_id", "ts", watermark = "60 seconds").toDF())()
          stateProbe("transitions_stream_wall", inDir)(src =>
            graft.analytics.StreamingAnalytics.transitionsStream(src,
              "user_id", "event_type", "ts", "event_id",
              watermark = "60 seconds").toDF())()

          // MID-DRAIN CRASH AT VOLUME (round 19): the torn-WAL-commit
          // exactly-once proof, fixture-scale in SessionCensusCliSpec,
          // re-run here at the ScaleBench factor under RocksDB — where
          // the replayed batch restores real multi-MB snapshot+changelog
          // state, not a toy. `census_crash_wall` prices the crash run
          // (partial drain, tear, restart); `census_crash_match` is 1
          // iff the recovered closed-session count equals the clean
          // run's — the row the decade table carries as the
          // exactly-once-at-10× evidence.
          if (wanted("census_crash_wall"))
            ops.StateStores.withProvider(spark, Some("rocksdb")) {
              val scratch = java.nio.file.Files
                .createTempDirectory("graft-censuscrash")
              try {
                var cleanN = 0L
                var recoveredN = 0L
                bench("census_crash_wall") {
                  val (c, r) = crashRecoveryCounts(spark, inDir,
                    scratch.toString, gapUs, watermark = "60 seconds")
                  cleanN = c; recoveredN = r
                  r
                }
                val ok = if (cleanN == recoveredN && cleanN > 0L) 1L else 0L
                record("census_crash_match", ok)
                if (ok == 0L)
                  System.err.println("[scale] census_crash_match FAILED: " +
                    s"clean=$cleanN recovered=$recoveredN")
              } finally Try(util.Fs.deleteRecursive(scratch))
            }
        }
        Try(util.Fs.deleteRecursive(streamBase))
      }
      // gated: the localCheckpoint is EAGER, and an isolated stream-
      // probe run must not pay a lineitem materialization it never uses
      if (wanted("q202_wmedian_census")) {
        val li = Tables.lineitem(spark, baseDir)
          .select(col("l_returnflag"), col("l_extendedprice"), col("l_quantity"))
          .crossJoin(broadcast(spark.range(f).select(col("id").as("__r"))))
          .drop("__r").localCheckpoint()
        bench("q202_wmedian_census")(
          graft.analytics.Analytics.weightedMedian(li, "l_returnflag",
            "l_extendedprice", "l_quantity").count())
      }
      releaseStorage(spark)
    }

    // AT-VOLUME TRUNCATION PROBE (round 18): a planted never-gapping
    // bot key — sub-gap 1 s heartbeats, 10·maxStamps·factor events on
    // ONE user — driven through the stamp-buffered censuses under
    // RocksDB with a deliberately small cap (maxStamps=1000, the CLI's
    // --max-stamps). The cap is the only thing between this key and
    // the deserialize-whole executor OOM, so the decade row must show
    // *_state_bytes FLAT at the cap across factors (the normal-traffic
    // rows pin state at user cardinality; THIS row pins it under
    // adversarial volume) while the bot session still EMITS — with the
    // `>…` path marker / `truncated=true` funnel flag — once the
    // far-future sentinel ripens it (`n_events` counts every event
    // either way). The synthetic corpus is self-contained: factor
    // scales ONLY the bot's event count, so any state growth across
    // factors is a cap leak, not a data artifact.
    if (Seq("paths_botcap_wall", "funnel_botcap_wall").exists(wanted)) {
      val bf = math.min(factor, 16)
      val botStamps = 1000
      val nBot = 10L * botStamps * bf
      val botBase = java.nio.file.Files.createTempDirectory("graft-botcap")
      val botIn = s"$botBase/in"
      val epochB = 1700000000L * 1000000L
      val gapUs = 1800L * 1000000L
      val steps = Seq("view", "click", "purchase")
      val botEv = spark.range(nBot).select(
        lit(424242L).as("user_id"), col("id").as("event_id"),
        timestamp_micros(lit(epochB) + col("id") * 1000000L).as("ts"),
        element_at(array(steps.map(lit): _*),
          (col("id") % 3 + 1).cast("int")).as("event_type"))
      // a far-future event on ANOTHER key pushes the watermark past the
      // bot session's end+gap so the capped session ripens and emits
      val sentinel = spark.range(1).select(lit(1L).as("user_id"),
        lit(nBot + 1L).as("event_id"),
        timestamp_micros(lit(epochB + (nBot + 864000L) * 1000000L)).as("ts"),
        lit("view").as("event_type"))
      ops.JsonStage.stageFrame(botEv.unionByName(sentinel), botIn,
        orderBy = "ts", parts = 8)
      // the staged bot corpus (up to 160k JSON lines) must not leak in
      // /tmp when a probe throws mid-bench — same finally discipline as
      // each probe's inner runDir
      try {
        stateProbe("paths_botcap_wall", botIn)(src =>
          graft.analytics.StreamingAnalytics.sessionPathsStream(src,
            "user_id", "event_type", "ts", "event_id", gapUs,
            watermark = "60 seconds", maxStamps = botStamps).toDF())(Some(out =>
          out.filter(col("path").endsWith(">…")).count()))
        stateProbe("funnel_botcap_wall", botIn)(src =>
          graft.analytics.StreamingAnalytics.sessionFunnelStream(src,
            "user_id", "event_type", "ts", steps, gapUs,
            watermark = "60 seconds", maxStamps = botStamps).toDF())(Some(out =>
          out.filter(col("truncated")).count()))
      } finally Try(util.Fs.deleteRecursive(botBase))
    }
    results.toList
  }

  /** One AvailableNow drain of `mk` over the staged JSON event corpus
    * at `inDir` (2 files per trigger) into `runDir/out`, checkpointed
    * at `runDir/ck`; returns the output row count. */
  private def drainToParquet(spark: SparkSession, inDir: String,
      runDir: java.nio.file.Path, name: String)(
      mk: DataFrame => DataFrame): Long = {
    val src = spark.readStream.schema(ops.SessionCensusCli.inputSchema)
      .option("maxFilesPerTrigger", 2).json(inDir)
    mk(src).writeStream.format("parquet")
      .option("path", s"$runDir/out")
      .option("checkpointLocation", s"$runDir/ck")
      .queryName(name)
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start().awaitTermination()
    spark.read.parquet(s"$runDir/out").count()
  }

  /** Exactly-once under a MID-DRAIN crash, at whatever volume `inDir`
    * holds: a clean full drain of the session census is the reference;
    * the crash run stops the query after `stopAfterBatches` committed
    * micro-batches, tears the newest WAL commit AND its `.crc` sidecar
    * (a real kill -9 loses both — neither is fsynced), then restarts
    * from the same checkpoint to completion. Returns
    * `(clean, recovered)` closed-session counts — equal iff the torn
    * batch replayed exactly-once against state version N−1 and the
    * parquet sink's metadata log. The fixture-scale torn-commit matrix
    * (SessionCensusCliSpec) proves the mechanism; this runs it at the
    * ScaleBench factor under the caller's state-store provider, where
    * RocksDB's replay path (snapshot zip + changelog, not per-version
    * .delta files) carries real multi-MB state. `maxFilesPerTrigger=1`
    * maximizes the batch count so "mid-drain" leaves a real remainder
    * at any factor. */
  private[graft] def crashRecoveryCounts(spark: SparkSession,
      inDir: String, scratch: String, gapUs: Long,
      watermark: String, stopAfterBatches: Int = 2): (Long, Long) = {
    import scala.jdk.CollectionConverters._
    def drain(ck: String, out: String, stopAfter: Option[Int]): Unit = {
      val src = spark.readStream
        .schema(ops.SessionCensusCli.inputSchema)
        .option("maxFilesPerTrigger", 1).json(inDir)
      val q = graft.analytics.StreamingAnalytics
        .sessionCensusStream(src, "user_id", "event_type", "ts",
          "event_id", gapUs, watermark)
        .toDF().writeStream.format("parquet")
        .option("path", out).option("checkpointLocation", ck)
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .start()
      stopAfter match {
        case Some(n) =>
          // recentProgress grows one entry per committed micro-batch;
          // stop as soon as n have landed (deadline-bounded — a probe
          // must never hang the bench)
          val deadline = System.nanoTime() + 120L * 1000000000L
          while (q.isActive && q.recentProgress.length < n &&
            System.nanoTime() < deadline) Thread.sleep(25)
          if (q.isActive) q.stop()
          q.awaitTermination()
        case None => q.awaitTermination()
      }
    }
    drain(s"$scratch/ckClean", s"$scratch/outClean", None)
    val clean = spark.read.parquet(s"$scratch/outClean").count()
    drain(s"$scratch/ckCrash", s"$scratch/outCrash",
      Some(stopAfterBatches))
    val commits = java.nio.file.Paths.get(s"$scratch/ckCrash/commits")
    if (java.nio.file.Files.isDirectory(commits)) {
      val numbered = java.nio.file.Files.list(commits).iterator().asScala
        .toSeq.filter(_.getFileName.toString.forall(_.isDigit))
      if (numbered.nonEmpty) {
        val newest = numbered.maxBy(_.getFileName.toString.toLong)
        java.nio.file.Files.delete(newest)
        java.nio.file.Files.deleteIfExists(newest.resolveSibling(
          "." + newest.getFileName.toString + ".crc"))
      }
    }
    drain(s"$scratch/ckCrash", s"$scratch/outCrash", None)
    val recovered = spark.read.parquet(s"$scratch/outCrash").count()
    (clean, recovered)
  }

  /** One parser for SPARK_GRAFT_SCALE_ONLY (trimmed, empty segments
    * dropped) — run() and the q60 gate in main() must agree on it. */
  private def onlyFilter(): Option[Set[String]] =
    sys.env.get("SPARK_GRAFT_SCALE_ONLY")
      .map(_.split(",").map(_.trim).filter(_.nonEmpty).toSet)

  /** q60 at scale: centroid count grows with the corpus (the SemDeDup
    * paper's k ∝ N regime — constant expected cell size, so within-cell
    * pair work stays linear in N; a FIXED k under 10× data would be the
    * quadratic mis-configuration, not a plan property). */
  def runSemDedup(spark: SparkSession, embPath: String, k: Int): (Double, Long) = {
    val emb = spark.read.parquet(embPath)
    val cents = emb.orderBy(col("vec_id")).limit(k)
      .select(col("embedding").cast("array<double>"))
      .collect().map(_.getSeq[Double](0).toSeq).toSeq
    val t0 = System.nanoTime()
    val n = graft.vector.SemDedup.semDedup(emb, "vec_id", "embedding",
      cents, threshold = 0.4).count()
    ((System.nanoTime() - t0) / 1e9, n)
  }

  def main(args: Array[String]): Unit = {
    val baseDir = args.headOption.getOrElse("/root/testdata/sf0.1")
    val factor = args.lift(1).map { s =>
      val n = try s.toInt catch { case _: NumberFormatException => -1 }
      if (n < 1 || n > 16) {
        System.err.println(
          s"[config] factor must be an integer in [1,16], got '$s' " +
            "(usage: ScaleBench [baseDir] [factor] [workDir])")
        sys.exit(10)
      }
      n
    }.getOrElse(10)
    val workDir = args.lift(2).getOrElse("/tmp/graft_scale")
    // shuffle partitions must scale with the FACTOR, not the core
    // count: at factor 100 the candidate-pair distinct pushes
    // billions of rows through the exchange, and 32 partitions means
    // ~100 M-row spilling sort-fallback aggregates per task (measured:
    // heap exhaustion in UnsafeSorterSpillReader at 64 g). A cluster
    // sizes this as data/128 MB tasks; locally,
    // SPARK_GRAFT_SHUFFLE_PARTITIONS=512 is right for factor 100.
    // AQE coalesces back when oversized, so erring high is safe.
    val shuffleOverride = sys.env.get("SPARK_GRAFT_SHUFFLE_PARTITIONS")
      .flatMap(_.toIntOption).filter(_ > 0)
      .map("spark.sql.shuffle.partitions" -> _.toString)
    // the DEFAULT (10 MB) broadcast threshold preserves Spark's stock
    // autoBroadcastJoinThreshold — this config is a no-op unless the
    // env var raises it. At factor 100 the q82 verification join's
    // probe side is ~2 B candidate pairs while the build side
    // (per-doc shingle arrays) is a few hundred MB: setting
    // SPARK_GRAFT_BROADCAST_THRESHOLD=1073741824 (1 GiB — above the
    // build side, like SPARK_GRAFT_SHUFFLE_PARTITIONS=512 for the
    // same factor) turns a TB-scale pair shuffle (measured:
    // scratch-disk exhaustion) into a streaming broadcast-hash
    // verify — the decision a cluster's AQE makes with executor
    // memory to spare. NOTE: the heap cannot be set here (JVM
    // already launched) — size it at launch, e.g.
    // `sbt -J-Xmx8g "runMain graft.ScaleBench"`
    val spark = util.Sessions.local("graft-scale-bench",
      shuffleOverride.toSeq ++ Seq(
        "spark.sql.adaptive.coalescePartitions.enabled" ->
          sys.env.getOrElse("SPARK_GRAFT_AQE_COALESCE", "true"),
        "spark.sql.autoBroadcastJoinThreshold" ->
          sys.env.getOrElse("SPARK_GRAFT_BROADCAST_THRESHOLD", "10485760")): _*)

    // language/quality gates stay open: the salt tokens depress stopword
    // ratios identically at both factors, and the scale question is about
    // data volume through every stage, not gate selectivity
    val funnelCfg = ops.CurateCli.Config(minQuality = 0.0,
      languages = Set("en", "de", "fr", "es", "zh", "ja", "unknown"))

    // SPARK_GRAFT_SCALE_ORGANIC=1 swaps the decorrelated-replica
    // documents for the passage-bootstrap generator (OrganicCorpus):
    // fresh documents, collision-grown cross-doc repetition, planted
    // 5% near-dup rate — the non-replicated datapoint. Embeddings stay
    // replica-generated (the organic question is about the text family;
    // select it via SPARK_GRAFT_SCALE_ONLY).
    val organic = sys.env.get("SPARK_GRAFT_SCALE_ORGANIC").contains("1")
    val baseDocCount =
      if (organic) Tables.documents(spark, baseDir).count() else 0L
    val evalSlice =
      if (organic) col("doc_id") < baseDocCount && col("doc_id") % 37 === 0
      else col("doc_id") % 16 === 0 && (col("doc_id") / 16) % 37 === 0

    val out = scala.collection.mutable.ListBuffer.empty[String]
    // diagnostics: SPARK_GRAFT_SCALE_FACTORS=10 runs a single factor
    // malformed entries are dropped (same defensive parse as
    // SPARK_GRAFT_BENCH_RUNS); an all-malformed value falls back to the
    // default pair rather than crashing the bench
    val factors = sys.env.get("SPARK_GRAFT_SCALE_FACTORS")
      .map(_.split(",").toSeq.flatMap(_.trim.toIntOption))
      .filter(_.nonEmpty)
      .getOrElse(Seq(1, factor))
    if (factors.size > 1)
      // measured: the larger factor's wall-times inflate up to 6× when a
      // prior factor ran in the same JVM, even with storage released at
      // the boundary (GC/allocator state, not Spark state). SCALE.md's
      // protocol section has the details.
      System.err.println("[scale] NOTE: running multiple factors in one " +
        "JVM skews the later ones — for recorded numbers run each " +
        "factor separately (SPARK_GRAFT_SCALE_FACTORS=<f>) and take " +
        "minima across runs")
    for (f <- factors) {
      val dDir = s"$workDir/f$f/documents.parquet"
      val eDir = s"$workDir/f$f/embeddings.parquet"
      // diagnostics: SPARK_GRAFT_SCALE_REUSE=1 skips corpus regeneration
      // when a previous run's parquet is already at workDir AND was
      // generated from the same baseDir (a marker file records the
      // source — reuse across different base corpora would silently
      // measure the wrong data while claiming the new one)
      val marker = new java.io.File(s"$workDir/f$f/SOURCE")
      val markerWant = baseDir + (if (organic) " organic" else "")
      val reuse = sys.env.get("SPARK_GRAFT_SCALE_REUSE").contains("1") &&
        new java.io.File(s"$dDir/_SUCCESS").exists() &&
        new java.io.File(s"$eDir/_SUCCESS").exists() &&
        marker.exists() &&
        java.nio.file.Files.readString(marker.toPath).trim == markerWant
      if (!reuse) {
        val scaledDocs =
          if (organic) OrganicCorpus.generate(Tables.documents(spark, baseDir), f)
          else scaleDocuments(Tables.documents(spark, baseDir), f)
        scaledDocs.repartition(32).write.mode("overwrite").parquet(dDir)
        // replica embeddings top out at 16 (ids are `id*16+rep`); the
        // organic TEXT corpus has no such bound — an organic factor
        // beyond 16 caps the embedding side (the organic question is
        // the text family; vector queries at >16 would mix factors, so
        // select text queries via SPARK_GRAFT_SCALE_ONLY there)
        scaleEmbeddings(Tables.embeddings(spark, baseDir),
          if (organic) math.min(f, 16) else f)
          .repartition(32).write.mode("overwrite").parquet(eDir)
        java.nio.file.Files.writeString(marker.toPath, markerWant)
      }
      println(s"""{"scale_factor":$f,"mode":"${if (organic) "organic" else "replica"}","docs":${spark.read.parquet(dDir).count()}}""")
      val rs = run(spark, dDir, eDir, funnelCfg, evalSlice, baseDir, f)
      // k ∝ corpus size: 8 centroids per replica-worth of data keeps the
      // expected cell size constant across factors
      val sem =
        if (onlyFilter().forall(_.contains("q60_semdedup"))) {
          val (semSec, semRows) = runSemDedup(spark, eDir, k = 8 * f)
          println(s"""{"scale_query":"q60_semdedup","sec":${math.rint(semSec * 1000) / 1000},"rows":$semRows}""")
          Seq(("q60_semdedup", semSec, semRows))
        } else Seq.empty
      val rows = rs ++ sem
      if (rows.isEmpty)
        System.err.println("[scale] WARNING: SPARK_GRAFT_SCALE_ONLY=" +
          s"${sys.env.getOrElse("SPARK_GRAFT_SCALE_ONLY", "")} matched no " +
          "bench name — nothing was measured this factor")
      out += rows.map { case (q, s, n) => s""""$q":[$s,$n]""" }
        .mkString(s"""{"factor":$f${if (rows.isEmpty) "" else ","}""", ",", "}")
      releaseStorage(spark) // factor boundary: nothing crosses it
    }
    out.foreach(println)
    spark.stop()
  }
}
