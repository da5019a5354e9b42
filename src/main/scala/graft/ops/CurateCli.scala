package graft.ops

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._

import graft.text.{Dedup, Retrieval, StreamingNearDedup, TextAnalysis}
import graft.util.Materialized

/** Corpus curation — the standard LLM training-data preparation funnel
  * as ONE composable pipeline over a documents table:
  *
  *   1. exact dedup        (hash groups, deterministic min-id survivor)
  *   2. near dedup         (minhash-LSH candidates → exact-Jaccard
  *                          verify → connected-components survivorship,
  *                          so chained clusters keep ONE representative)
  *   3. language filter    (n-gram/stopword language ID)
  *   4. quality filter     (length/punctuation/stopword score)
  *   5. stats              (per-stage retention counts + token totals)
  *
  * Every stage is the already-verified operator from `graft.text` — the
  * funnel adds no new dataflow, just the composition and the retention
  * accounting a curation run needs for its datasheet. Each stage output
  * is materialized ONCE with its logical-plan lineage CUT at the stage
  * boundary (`localCheckpoint`, MEMORY_AND_DISK — spills, never OOMs;
  * or a reliable `checkpoint` under [[Config.checkpointDir]]), and its
  * block storage is released once the successor stage is materialized.
  * The cut — not just the cache — is load-bearing: rewrite stages that
  * join the corpus back against a derivative of itself (`line_dedup`,
  * `span_excise`, the decontamination join) reference their input tree
  * TWICE, so a bare `persist` (which caches rows but keeps the full
  * plan) doubles the logical plan at every such stage and Catalyst
  * re-walks the doubled tree for every later stage — geometric
  * driver-side analysis cost in the number of join-back stages.
  * Checkpointing instead replaces each stage's plan with a single
  * `LogicalRDD` leaf: every stage plans against a constant-size tree,
  * keeping a 100 TB run O(stages) in BOTH executor passes and
  * driver-side planning.
  */
object CurateCli {

  /** `maxShingleDf` = 0 runs near-dedup via MinHash-LSH candidates
    * (sketch path, the at-scale default); > 0 switches to exact n-gram
    * Jaccard with the document-frequency cut at that cap — the skew
    * guard for corpora where one boilerplate phrase floods the shingle
    * join ([[Dedup.ngramJaccardPairs]]). `snmWindow` > 0 overrides both
    * with sorted-neighborhood length blocking
    * ([[Dedup.sortedNeighborhoodPairs]] — candidates within that many
    * positions of the length order; N·window pair work, windowed
    * recall). `nearKeepBest` switches the
    * near-dedup survivor rule from min-id components to per-pair
    * best-quality ([[Dedup.dedupByPairsKeepBest]] scored by
    * [[TextAnalysis.qualityScore]]) — keep the canonical copy, not the
    * first-crawled one.
    *
    * The extended stages default OFF (the classic 4-stage funnel):
    *  - `minQualityPctPpm` > 0 runs the per-source PERCENTILE quality
    *    floor right after the absolute gate
    *    ([[TextAnalysis.quantileNormalizeQuality]] on `mixStratumCol`
    *    strata): each source's own bottom tail drops, so one threshold
    *    means the same thing across sources with different absolute
    *    quality registers;
    *  - `minCharEntropyFp` > 0 screens degenerate text by fixed-point
    *    character entropy ([[TextAnalysis.charEntropy]], micro-nats):
    *    key-mash, padding runs, and single-char blobs sit far below
    *    natural text's ~2.5–3.0 nats and drop before the heavier
    *    n-gram stages;
    *  - `containmentThreshold` > 0 runs containment (excerpt) dedup
    *    right after the quality gate: documents whose distinct shingles
    *    are ≥ that fraction contained in a larger surviving document
    *    drop ([[Dedup.containmentDropIds]] — quotes, partial re-crawls,
    *    page-within-page duplication that symmetric near-dedup misses;
    *    `containmentMaxDf` is the family's guarded hot-shingle cut);
    *  - `minNovelty` > 0 drops documents whose id-ordered n-gram
    *    novelty ([[Dedup.ngramNovelty]] — the fraction of their
    *    shingles first seen in THEM) falls below it: templated /
    *    re-crawled content whose grams are scattered across many
    *    predecessors, invisible to pair-wise dedup;
    *  - `piiScrub` rewrites `textCol` through the email→IP→phone
    *    redaction chain ([[TextAnalysis.piiScrub]]);
    *  - `maxRepetitionRatio` < 1.0 drops boilerplate/degenerate docs
    *    whose top `repetitionK`-gram covers more than that share of all
    *    their grams ([[TextAnalysis.repetitionStats]]);
    *  - `gopherRules` runs the Gopher rule battery
    *    ([[TextAnalysis.gopherPass]]) as a straight filter between the
    *    repetition and span-excision stages — pure column expressions
    *    applied on the corpus scan, zero shuffle;
    *  - `maxBigramXentMicro` > 0 runs the corpus-self bigram-LM
    *    perplexity gate ([[TextAnalysis.bigramLmScores]] — the CCNet
    *    filter with the surviving corpus as its own LM): docs whose
    *    add-1 bigram cross-entropy exceeds that many micro-nats per
    *    bigram are dropped. The comparison cross-multiplies
    *    (`nll_fp > max · n_bigrams` — exact integers, no float
    *    division); docs too short to carry a bigram present no
    *    evidence and are kept;
    *  - `lineDedupMinDf` >= 2 runs line-wise boilerplate removal
    *    ([[Dedup.removeDuplicatedLines]]): lines whose trimmed form
    *    appears in at least that many distinct surviving docs are cut
    *    from every doc (nav menus, cookie banners, footers). A rewrite
    *    stage like the scrub — docs constant, tokens drop; it runs
    *    BEFORE span excision so the k-gram pass works on line-clean
    *    text;
    *  - `exciseSpanK` > 0 runs duplicated-span excision at that k-gram
    *    width ([[Dedup.removeDuplicatedSpans]], `exciseSpanMinDf` the
    *    cross-document frequency floor): boilerplate PASSAGES shared by
    *    surviving docs are cut out while the docs themselves stay — the
    *    passage-level complement of the whole-doc dedup stages;
    *  - decontamination runs when the caller passes `evalDocs` to
    *    [[curate]] (`decontaminateK`/`decontaminateMinHits` are its
    *    shingle width and n-of-k evidence threshold);
    *  - `nfcNormalize` rewrites text to Unicode NFC before ANY other
    *    stage (a codegen'd [[graft.functions.NfcNormalize]] pass), so
    *    composed/decomposed spellings of the same document exact-dedup;
    *  - a non-empty `auditPhrases` runs the phrase-audit pass after
    *    shingle decontamination: survivors carrying ANY of the exact
    *    quote phrases (token-adjacent, [[Retrieval.phraseMatchesAny]])
    *    are dropped — the targeted complement of the statistical
    *    shingle-overlap stage, for the quotes a curator KNOWS must not
    *    leak (eval answers, canary strings);
    *  - a non-empty `mixRatesPpm` (or `mixDefaultPpm` < 1e6) runs the
    *    domain-mix stage: deterministic per-stratum downsampling on
    *    `mixStratumCol` ([[TextAnalysis.sampleByMix]]) — placed right
    *    after the quality gate so the volume cut benefits every
    *    downstream stage;
    *  - `budgetTokens` > 0 runs quality-ranked token-budget selection
    *    over the decontaminated survivors
    *    ([[TextAnalysis.selectByBudget]], `budgetBuckets` quality
    *    buckets);
    *  - `packBudget` > 0 additionally emits the concat-and-chunk
    *    sequence assignments over the surviving corpus
    *    ([[TextAnalysis.packSequences]], `packBuckets` parallel
    *    streams).
    *
    * `indexDir` (orthogonal to the stage toggles) redirects the
    * near-dedup candidate index (shingle or minhash, whichever the
    * config selects) from `localCheckpoint` to a WRITTEN parquet table
    * under that directory — the durable materialization a cluster run
    * wants: an executor loss re-reads instead of recomputing the
    * corpus-wide index, and the artifact outlives the run
    * ([[Dedup.shingleIndex]]/[[Dedup.minhashIndex]] `path` docs).
    *
    * `checkpointDir` selects how stage lineage is cut: `None` (default)
    * uses `localCheckpoint` — executor-local block storage, the right
    * call on a healthy cluster and in local mode; a directory switches
    * every stage to a RELIABLE `checkpoint` written under it, so a run
    * on a preemptible/spot cluster survives executor loss without
    * recomputing the whole funnel prefix (checkpoint files are reaped
    * by Spark's ContextCleaner when
    * `spark.cleaner.referenceTracking.cleanCheckpoints` is set, or by
    * deleting the directory after the run). */
  final case class Config(
      minQuality: Double = 0.5,
      minQualityPctPpm: Long = 0L,
      minCharEntropyFp: Long = 0L,
      languages: Set[String] = Set("en"),
      jaccardThreshold: Double = 0.8,
      shingleK: Int = 3,
      numHashes: Int = 32,
      bands: Int = 16,
      maxShingleDf: Long = 0L,
      snmWindow: Int = 0,
      nearKeepBest: Boolean = false,
      containmentThreshold: Double = 0.0,
      containmentMaxDf: Long = 20L,
      minNovelty: Double = 0.0,
      mixStratumCol: String = "source",
      mixRatesPpm: Map[String, Long] = Map.empty,
      mixDefaultPpm: Long = 1000000L,
      domainCapK: Int = 0,
      piiScrub: Boolean = false,
      maxRepetitionRatio: Double = 1.0,
      repetitionK: Int = 2,
      gopherRules: Boolean = false,
      maxBigramXentMicro: Long = 0L,
      lineDedupMinDf: Int = 0,
      exciseSpanK: Int = 0,
      exciseSpanMinDf: Int = 2,
      decontaminateK: Int = 8,
      decontaminateMinHits: Int = 1,
      auditPhrases: Seq[Seq[String]] = Nil,
      nfcNormalize: Boolean = false,
      budgetTokens: Long = 0L,
      budgetBuckets: Int = 100,
      packBudget: Int = 0,
      packBuckets: Int = 64,
      indexDir: Option[String] = None,
      checkpointDir: Option[String] = None)

  final case class StageCount(stage: String, docs: Long, tokens: Long)

  /** Curated corpus (checkpointed — call [[Curated.unpersist]] once the
    * caller has written/consumed it) plus the per-stage datasheet and,
    * when `Config.packBudget` > 0, the packed sequence assignments
    * (`doc_id, bucket, seq_id, start_offset, n_tokens` — a sidecar
    * table, not a replacement for the corpus rows). */
  final case class Curated(corpus: DataFrame, funnel: Seq[StageCount],
      packed: Option[DataFrame] = None) {
    def unpersist(): Unit =
      // stage outputs are lineage-cut via localCheckpoint, so their
      // storage lives behind a LogicalRDD, not the cache manager —
      // Materialized.release drops those blocks; unpersist stays as a
      // no-op safety net should a caller persist() on top
      (corpus +: packed.toSeq).foreach { df =>
        Materialized.release(df)
        df.unpersist(blocking = false)
      }
  }

  private def stageCount(stage: String, df: DataFrame, textCol: String): StageCount = {
    val r = df.agg(
      count(lit(1)).as("docs"),
      coalesce(sum(TextAnalysis.tokenCount(col(textCol)).cast("long")), lit(0L))
        .as("tokens")).head()
    StageCount(stage, r.getLong(0), r.getLong(1))
  }

  /** Run the funnel; returns the curated corpus plus per-stage counts.
    * `evalDocs` (same `textCol`) switches on the decontamination stage:
    * survivors share fewer than `cfg.decontaminateMinHits` distinct
    * `cfg.decontaminateK`-token shingles with it. */
  def curate(docs: DataFrame, idCol: String, textCol: String,
      cfg: Config = Config(), evalDocs: Option[DataFrame] = None): Curated = {
    // track live stage checkpoints so a mid-funnel failure releases
    // them — callers (the bench loop especially) retry, and orphaned
    // MEMORY_AND_DISK blocks would accumulate across attempts
    val live = scala.collection.mutable.ListBuffer.empty[DataFrame]
    cfg.checkpointDir.foreach(docs.sparkSession.sparkContext.setCheckpointDir)
    // materialize ONCE and cut lineage: the stage's plan becomes a
    // single LogicalRDD leaf, so a join-back stage referencing its
    // input twice adds O(1) plan nodes instead of doubling the tree
    // LAZY local checkpoint: the Dataset returned is already a
    // LogicalRDD leaf (the plan cut is unchanged), but materialization
    // happens at the stage's FIRST action — which in this funnel is
    // always the datasheet count that immediately follows. The count
    // aggregate computes every partition, so it materializes the
    // checkpoint AND produces the stage row in ONE job: one pass over
    // the stage output instead of two (eager-materialize, then re-scan
    // to count) — at 100 TB the count re-read is a full second pass per
    // stage. The reliable-checkpoint path stays eager: a lazy reliable
    // checkpoint recomputes its lineage once more when the checkpoint
    // file is written, which would ADD a pass instead of removing one.
    def checkpointed(df: DataFrame): DataFrame = {
      val c =
        if (cfg.checkpointDir.isDefined) df.checkpoint()
        else df.localCheckpoint(eager = false)
      live += c
      c
    }
    def release(df: DataFrame): Unit = {
      Materialized.release(df)
      live -= df
    }
    // label every stage's jobs (materialize + count) so the Spark UI /
    // a job listener can attribute funnel wall time stage by stage
    // (optimization guide §1.5); thread-local, restored at the end
    val sc = docs.sparkSession.sparkContext
    def labeled[T](stage: String)(body: => T): T = {
      // restore the CALLER's description, not null — a bench/notebook
      // label active when curate() was invoked must survive it
      val prev = sc.getLocalProperty("spark.job.description")
      sc.setJobDescription(s"curate:$stage")
      try body finally sc.setJobDescription(prev)
    }
    try {
      val input = labeled("input_count")(stageCount("input", docs, textCol))

      // optional Unicode NFC rewrite FIRST — canonically-equivalent
      // spellings (composed vs decomposed accents) become byte-equal
      // BEFORE any hashing, so exact dedup, shingles, and the phrase
      // audit see one document, not two. Native codegen expression
      // ([[graft.functions.NfcNormalize]]), docs count unchanged
      val (src, nfcStage) =
        if (cfg.nfcNormalize) labeled("nfc_normalize") {
          val n = checkpointed(docs.withColumn(textCol,
            graft.functions.UnicodeExpressions.nfcNormalize(col(textCol))))
          (n, Some(stageCount("nfc_normalize", n, textCol)))
        } else (docs, None)

      // Each stage: checkpoint (materializes + cuts lineage) → count
      // (a cheap scan of the checkpointed blocks) → build the next
      // stage FROM the checkpoint → release once the successor is
      // materialized. The language filter is counted straight off the
      // checkpointed near-dedup output (a narrow codegen'd scan), so it
      // needs no materialization of its own.
      val (exact, afterExact) = labeled("exact_dedup") {
        val e = checkpointed(Dedup.dedupExact(src, idCol, textCol))
        (e, stageCount("exact_dedup", e, textCol))
      }
      if (cfg.nfcNormalize) release(src)

      val pairs = labeled("near_dedup")(
        if (cfg.snmWindow > 0)
          // sorted-neighborhood blocking: candidates within snmWindow
          // positions of the length order — the third blocking family;
          // windowed recall is its documented trade
          Dedup.sortedNeighborhoodPairs(exact, idCol, textCol,
            window = cfg.snmWindow, threshold = cfg.jaccardThreshold,
            k = cfg.shingleK)
        else if (cfg.maxShingleDf > 0)
          Dedup.ngramJaccardPairs(exact, idCol, textCol, k = cfg.shingleK,
            threshold = cfg.jaccardThreshold, maxShingleDf = cfg.maxShingleDf,
            indexPath = cfg.indexDir.map(_ + "/shingle_index"))
        else
          Dedup.minhashVerifiedPairs(exact, idCol, textCol,
            k = cfg.shingleK, numHashes = cfg.numHashes, bands = cfg.bands,
            threshold = cfg.jaccardThreshold,
            indexPath = cfg.indexDir.map(_ + "/minhash_index")))
      val (near, afterNear) = labeled("near_dedup") {
        val n = checkpointed(
          if (cfg.nearKeepBest)
            Dedup.dedupByPairsKeepBest(exact, idCol, pairs,
              TextAnalysis.qualityScore(col(textCol),
                TextAnalysis.LangProfiles("en")))
          else Dedup.dedupByComponents(exact, idCol, pairs))
        (n, stageCount("near_dedup", n, textCol))
      }
      release(exact)

      // NOTE (round-20 negative result, kept on purpose): fusing the
      // language and quality datasheet rows into one aggregate over
      // `near` measured consistently SLOWER (FunnelDiag quality stage
      // 1.2 s split → 1.7-2.0 s fused): the fused projection evaluates
      // qualityScore/tokenCount on EVERY row, while the split shape's
      // filter ordering confines them to language survivors — and the
      // eager checkpoint the fusion forces gives back the
      // lazy-checkpoint+count job fusion. The split shape stands.
      val lang = near.filter(
        TextAnalysis.languageId(col(textCol)).isin(cfg.languages.toSeq: _*))
      val afterLang = labeled("language")(stageCount("language", lang, textCol))

      val (quality, afterQuality) = labeled("quality") {
        val q = checkpointed(lang.filter(
          TextAnalysis.qualityScore(col(textCol),
            TextAnalysis.LangProfiles("en")) >= cfg.minQuality))
        (q, stageCount("quality", q, textCol))
      }
      release(near)

      // ---- extended stages (each optional, same lineage-cut
      // discipline: checkpoint → count → release predecessor) -----------
      var cur = quality
      val sheet = scala.collection.mutable.ListBuffer(
        Seq(Some(input), nfcStage, Some(afterExact), Some(afterNear),
          Some(afterLang), Some(afterQuality)).flatten: _*)
      // `next` by name: stage expressions run eager driver-side work
      // (bucket-offset collects, internal index checkpoints) at
      // CONSTRUCTION time — evaluating inside `labeled` attributes those
      // jobs to their stage instead of "(none)"
      def advance(stage: String, next: => DataFrame): Unit = labeled(stage) {
        val p = checkpointed(next)
        sheet += stageCount(stage, p, textCol)
        release(cur)
        cur = p
      }

      if (cfg.minQualityPctPpm > 0)
        // per-source percentile floor ([[TextAnalysis
        // .quantileNormalizeQuality]]): absolute quality is not
        // comparable across sources, so this cuts each source's own
        // bottom tail instead of nuking whole low-register sources —
        // the cross-source calibration gate the absolute `minQuality`
        // cut cannot express. Strata follow `mixStratumCol` (the same
        // notion of "source" the mix stage balances)
        advance("quality_pct", cur.join(
          TextAnalysis.quantileNormalizeQuality(cur, idCol, textCol,
              cfg.mixStratumCol)
            .filter(col("pct_ppm") >= cfg.minQualityPctPpm)
            .select(col(idCol)),
          Seq(idCol), "left_semi"))

      if (cfg.minCharEntropyFp > 0)
        // degenerate-text screen ([[TextAnalysis.charEntropy]]):
        // key-mash, padding runs, and base64-ish blobs sit far below
        // natural text's character entropy; the fixed-point floor drops
        // them before the heavier n-gram stages tokenize them. A plain
        // per-row filter since the native [[graft.functions.CharEntropy]]
        // kernel: same survivors as the old score-table semi-join
        // (empty/null text carried no entropy row there and drops here
        // on the length gate), zero joins, rides the stage scan
        advance("char_entropy", cur.filter(
          col(textCol).isNotNull && length(col(textCol)) > 0 &&
            graft.functions.EntropyExpressions.charEntropy(col(textCol))
              .getField("entropy_fp") >= cfg.minCharEntropyFp))

      if (cfg.containmentThreshold > 0) {
        // excerpt dedup right after the whole-doc gates: quotes and
        // partial re-crawls of a surviving larger copy drop. The index
        // is built HERE (not inside dedupByContainment) so its blocks
        // release as soon as the stage materializes — the drop-id
        // rollup and the anti join both plan against `cur`'s LogicalRDD
        // leaf, so the join-back adds O(1) plan nodes like every other
        // stage
        val sh = Dedup.shingleIndex(cur, idCol, textCol, cfg.shingleK)
        advance("containment_dedup", cur.join(
          Dedup.containmentDropIds(sh, cfg.containmentThreshold,
            cfg.containmentMaxDf).select(col("id").as(idCol)),
          Seq(idCol), "left_anti"))
        Materialized.release(sh)
      }

      if (cfg.minNovelty > 0) {
        // id-ordered novelty floor: templated/re-crawled content whose
        // grams are scattered across many predecessors (no single pair
        // match) drops. Same explicit index + post-materialize release
        val sh = Dedup.shingleIndex(cur, idCol, textCol, cfg.shingleK)
        advance("min_novelty", cur.join(
          Dedup.ngramNoveltyFromIndex(sh, idCol)
            .filter(col("novelty") < cfg.minNovelty).select(col(idCol)),
          Seq(idCol), "left_anti"))
        Materialized.release(sh)
      }

      if (cfg.mixRatesPpm.nonEmpty || cfg.mixDefaultPpm < 1000000L)
        advance("mix", TextAnalysis.sampleByMix(cur, idCol,
          cfg.mixStratumCol, cfg.mixRatesPpm, cfg.mixDefaultPpm))

      if (cfg.domainCapK > 0)
        // RefinedWeb-style per-domain cap directly after the mix stage:
        // no stratum may contribute more than k docs, and the k kept
        // are its best by quality. Semi-join on surviving ids — the cap
        // ranking shuffles only (id, stratum, quality), never payloads
        advance("domain_cap", cur.join(
          TextAnalysis.capPerStratum(cur, idCol, textCol,
            cfg.mixStratumCol, cfg.domainCapK).select(col(idCol)),
          Seq(idCol), "left_semi"))

      if (cfg.piiScrub)
        advance("pii_scrub",
          cur.withColumn(textCol, TextAnalysis.piiScrub(col(textCol))))

      if (cfg.maxRepetitionRatio < 1.0) {
        // semi-join on surviving ids: repetition stats shuffle only
        // (id, gram-hash) counts, never document payloads
        val keep = TextAnalysis.repetitionStats(cur, idCol, textCol,
            k = cfg.repetitionK)
          .filter(col("repetition_ratio") <= cfg.maxRepetitionRatio)
          .select(col("doc_id").as(idCol))
        advance("repetition", cur.join(keep, Seq(idCol), "left_semi"))
      }

      if (cfg.gopherRules)
        // stateless rule battery — a plain filter, so it rides the
        // corpus scan; placed after the payload-touching stages so the
        // rules judge the text the corpus will actually ship
        advance("gopher", cur.filter(TextAnalysis.gopherPass(col(textCol))))

      if (cfg.maxBigramXentMicro > 0L) {
        // corpus-self perplexity gate: the LM is the SURVIVING corpus at
        // this point in the funnel (post-dedup, post-scrub — boilerplate
        // already removed cannot depress scores). The scores table
        // derives from `cur` and joins back against it, but `cur` is a
        // checkpointed LogicalRDD leaf, so the join-back adds O(1) plan
        // nodes — the same discipline as line_dedup/span_excise. Docs
        // with no bigram carry no evidence and pass.
        val tooSurprising = TextAnalysis.bigramLmScores(cur, idCol, textCol)
          .filter(col("nll_fp") > lit(cfg.maxBigramXentMicro) * col("n_bigrams"))
          .select(col(idCol))
        advance("perplexity", cur.join(tooSurprising, Seq(idCol), "left_anti"))
      }

      if (cfg.lineDedupMinDf >= 2)
        // line-level boilerplate removal between the whole-doc gates and
        // the k-gram span pass: a rewrite stage (docs constant, tokens
        // drop) — a doc that was ENTIRELY boilerplate survives as an
        // empty row, charged to a later quality/budget gate if one runs
        advance("line_dedup", Dedup.removeDuplicatedLines(cur, idCol,
          textCol, minDf = cfg.lineDedupMinDf))

      if (cfg.exciseSpanK > 0)
        // passage-level dedup AFTER the whole-doc stages: the remaining
        // corpus keeps every doc but loses the cross-document
        // boilerplate stretches (the datasheet row shows the token drop
        // with docs unchanged — the signature of an excision stage)
        advance("span_excise", Dedup.removeDuplicatedSpans(cur, idCol,
          textCol, k = cfg.exciseSpanK, minDf = cfg.exciseSpanMinDf))

      evalDocs.foreach { ev =>
        // the corpus side was rewritten by the scrub stage — shingle the
        // eval side through the SAME chain, or any eval window spanning
        // a redacted token silently stops matching its corpus copy and
        // eval text leaks through the very stage meant to drop it
        val evalAligned =
          if (cfg.piiScrub)
            ev.withColumn(textCol, TextAnalysis.piiScrub(col(textCol)))
          else ev
        advance("decontaminate",
          Dedup.decontaminate(cur, evalAligned, idCol, textCol,
            k = cfg.decontaminateK, minHits = cfg.decontaminateMinHits))
      }

      if (cfg.auditPhrases.nonEmpty) {
        // targeted decontamination: exact-quote audit. The shingle
        // stage above is statistical (n-of-k overlapping windows); this
        // one is a hard guarantee for a KNOWN quote list — one
        // positional-postings pass over the survivors, adjacency-chained
        // per phrase, matches dropped whole-doc
        val hits = Retrieval.phraseMatchesAny(cur, idCol, textCol,
          cfg.auditPhrases).select(idCol).distinct()
        advance("phrase_audit", cur.join(hits, Seq(idCol), "left_anti"))
        Materialized.release(hits) // the shared quote-postings checkpoint
      }

      if (cfg.budgetTokens > 0L) {
        // selectByBudget emits (id, quality, n_tokens); the funnel keeps
        // full document rows, so restore them with a semi-join on the
        // selected ids
        val picked = TextAnalysis.selectByBudget(cur, idCol, textCol,
          cfg.budgetTokens, buckets = cfg.budgetBuckets).select(idCol)
        advance("token_budget", cur.join(picked, Seq(idCol), "left_semi"))
      }

      // packing is a sidecar projection over the final corpus, not a
      // shrink stage — its datasheet row re-counts through the packed
      // rows (same tokenCount), pinning corpus ≡ packed consistency
      val packed = if (cfg.packBudget > 0) labeled("pack") {
        val p = checkpointed(TextAnalysis.packSequences(cur, idCol, textCol,
          budget = cfg.packBudget, buckets = cfg.packBuckets))
        val r = p.agg(count(lit(1)).as("docs"),
          coalesce(sum(col("n_tokens")), lit(0L)).as("tokens")).head()
        sheet += StageCount("pack", r.getLong(0), r.getLong(1))
        Some(p)
      } else None

      Curated(cur, sheet.toList, packed)
    } catch {
      case t: Throwable =>
        live.foreach(df => scala.util.Try(Materialized.release(df)))
        throw t
    }
  }

  /** INGEST-TIME curation: the streaming prefix of the batch funnel,
    * applied as documents arrive — exact dedup within the watermark
    * horizon, then the stateless language/quality gates. Near-dedup
    * survivorship needs corpus-global state and stays a batch (or
    * [[graft.text.StreamingNearDedup]] candidate-flagging) concern; this
    * keeps obvious re-crawls and junk out of the landing zone so the
    * batch passes run on a smaller corpus. */
  def curateStream(stream: DataFrame, textCol: String, tsCol: String,
      cfg: Config = Config(), watermark: String = "1 hour"): DataFrame =
    Dedup.dedupExactStream(stream, textCol, tsCol, watermark)
      .filter(TextAnalysis.languageId(col(textCol))
        .isin(cfg.languages.toSeq: _*))
      .filter(TextAnalysis.qualityScore(col(textCol),
        TextAnalysis.LangProfiles("en")) >= cfg.minQuality)

  /** INGEST-TIME near-duplicate candidate flagging — the streaming
    * complement of [[curateStream]]: the same gated stream, fed through
    * [[StreamingNearDedup.candidates]], emits a `(doc_id, dup_of, band,
    * est_jaccard)` row whenever an arrival is near-identical (banding +
    * signature agreement ≥ `cfg.jaccardThreshold`) to a document seen in
    * ANY earlier micro-batch. Run it as a second query over the same
    * source: [[curateStream]] writes the landing zone, this writes the
    * append-only candidate side-table; batch survivorship
    * ([[Dedup.dedupByPairs]]) then consumes the side-table without ever
    * re-scanning the corpus. `maxPerBucket`/`stateTtlMs` bound state
    * exactly as documented on [[StreamingNearDedup]]. */
  def curateStreamCandidates(stream: DataFrame, idCol: String,
      textCol: String, tsCol: String, cfg: Config = Config(),
      watermark: String = "1 hour", maxPerBucket: Int = 1000,
      stateTtlMs: Long = 0L): Dataset[StreamingNearDedup.DupCandidate] =
    StreamingNearDedup.candidates(
      curateStream(stream, textCol, tsCol, cfg, watermark),
      idCol, textCol, k = cfg.shingleK, numHashes = cfg.numHashes,
      bands = cfg.bands, threshold = cfg.jaccardThreshold,
      maxPerBucket = maxPerBucket, stateTtlMs = stateTtlMs)

  /** The run's report artifact — the engine's analog of the reference's
    * reconciliation report (`scripts/reconcile.py:465-480`): per-stage
    * retained docs/tokens plus the drop each stage charged (the stage
    * name IS the drop reason; `pii_scrub`, `line_dedup`, `span_excise`
    * and `pack` are rewrite / sidecar stages and never drop documents —
    * line dedup and excision show up as a token delta at constant
    * docs). */
  def datasheetJson(funnel: Seq[StageCount]): String = {
    val rows = funnel.zipWithIndex.map { case (s, i) =>
      val dropped =
        if (i == 0 || s.stage == "pack") 0L else funnel(i - 1).docs - s.docs
      s"""{"stage":"${s.stage}","docs":${s.docs},"tokens":${s.tokens},"dropped_docs":$dropped}"""
    }
    val fin = funnel.reverse.find(_.stage != "pack").getOrElse(funnel.head)
    rows.mkString("""{"funnel":[""", ",",
      s"""],"final_docs":${fin.docs},"final_tokens":${fin.tokens}}""")
  }

  /** CLI: curate <sfDir> <outDir> [minQuality] [full]
    * [--phrase-audit=<file>]. Writes the curated corpus as parquet, a
    * `funnel` stats table, and the run's `datasheet.json`; prints one
    * JSON line per stage plus the datasheet line. `full` switches on
    * ALL extended stages (quality percentile → char entropy →
    * containment dedup → novelty floor → mix → scrub → repetition →
    * gopher → perplexity → line dedup → span excision → decontaminate
    * vs the `% 37` eval slice → token-budget → pack).
    * `--phrase-audit=<file>` (one quote per line, whitespace-tokenized;
    * blank lines skipped) adds the exact-quote audit stage in either
    * mode. MATCHING CONTRACT: quote tokens compare case- and
    * punctuation-EXACTLY against the corpus' whitespace tokens — a
    * quote list cased or punctuated differently from the corpus
    * silently audits nothing, so normalize quote files to the corpus'
    * surface form (same case, same punctuation attachment) before
    * pointing the flag at them. Exit 0. */
  def main(args: Array[String]): Unit = {
    val auditPhrases: Seq[Seq[String]] = args
      .find(_.startsWith("--phrase-audit="))
      .map(_.stripPrefix("--phrase-audit="))
      .map { f =>
        scala.util.Using.resource(scala.io.Source.fromFile(f)) { src =>
          src.getLines()
            .map(_.trim.split("\\s+").toSeq.filter(_.nonEmpty))
            .filter(_.nonEmpty).toSeq
        }
      }.getOrElse(Nil)
    val pos = args.filterNot(_.startsWith("--"))
    val sfDir = pos.headOption.getOrElse("/root/testdata/sf0.001")
    val outDir = pos.lift(1).getOrElse("/tmp/curated")
    val minQ = pos.lift(2).map(_.toDouble).getOrElse(0.5)
    val full = pos.lift(3).contains("full")
    val spark = graft.util.Sessions.local("graft-curate")
    val docs = graft.Tables.documents(spark, sfDir)
    val cfg =
      if (full) Config(minQuality = minQ, mixDefaultPpm = 900000L,
        minQualityPctPpm = 50000L, minCharEntropyFp = 2600000L,
        containmentThreshold = 0.8, minNovelty = 0.05,
        piiScrub = true, maxRepetitionRatio = 0.9, gopherRules = true,
        maxBigramXentMicro = 3450000L, lineDedupMinDf = 2, exciseSpanK = 8,
        budgetTokens = 1000000000L, packBudget = 512, packBuckets = 8,
        auditPhrases = auditPhrases)
      else Config(minQuality = minQ, auditPhrases = auditPhrases)
    val evalDocs =
      if (full) Some(docs.filter(org.apache.spark.sql.functions
        .col("doc_id") % 37 === 0))
      else None
    val result = curate(docs, "doc_id", "text", cfg, evalDocs)
    result.corpus.write.mode("overwrite").parquet(s"$outDir/corpus")
    result.packed.foreach(
      _.write.mode("overwrite").parquet(s"$outDir/packed"))
    result.unpersist()
    val sparkSession = spark
    import sparkSession.implicits._
    result.funnel.toDF().write.mode("overwrite").parquet(s"$outDir/funnel")
    val sheet = datasheetJson(result.funnel)
    java.nio.file.Files.createDirectories(java.nio.file.Paths.get(outDir))
    java.nio.file.Files.writeString(
      java.nio.file.Paths.get(s"$outDir/datasheet.json"), sheet + "\n")
    result.funnel.foreach(s => println(
      s"""{"stage":"${s.stage}","docs":${s.docs},"tokens":${s.tokens}}"""))
    println(sheet)
    spark.stop()
  }
}
