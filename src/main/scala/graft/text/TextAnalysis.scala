package graft.text

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.functions.Exact._

/** Text-analysis operators for a training-data pipeline over the
  * `documents` table: tokenization, quality scoring, language ID,
  * fingerprinting. All pure `functions._` expression compositions —
  * whole-stage-codegen'd, no UDFs, scale linearly with no shuffle
  * (per-row narrow transforms).
  */
object TextAnalysis {

  /** Whitespace tokens (matches DuckDB `regexp_split_to_array(trim(x),'\s+')`). */
  def tokens(c: Column): Column = split(trim(c), "\\s+")

  def tokenCount(c: Column): Column = size(tokens(c))

  def charCount(c: Column): Column = length(c)

  /** Punctuation occurrences. */
  def punctCount(c: Column): Column =
    size(regexp_extract_all(c, lit("[.,!?;:]"), lit(0)))

  def punctRatio(c: Column): Column =
    punctCount(c).cast("double") / greatest(length(c), lit(1)).cast("double")

  /** Mean token length. */
  def avgTokenLength(c: Column): Column =
    (length(trim(c)) - (tokenCount(c) - lit(1))).cast("double") /
      greatest(tokenCount(c), lit(1)).cast("double")

  def stopwordCount(c: Column, stopwords: Seq[String]): Column = {
    val sw = array(stopwords.map(lit): _*)
    size(filter(tokens(c), t => array_contains(sw, t)))
  }

  def stopwordRatio(c: Column, stopwords: Seq[String]): Column =
    stopwordCount(c, stopwords).cast("double") /
      greatest(tokenCount(c), lit(1)).cast("double")

  /** Heuristic quality score in [0,1] (length, punctuation sanity,
    * stopword presence — the classic pre-training quality signals).
    *
    * Computed in exact integer parts-per-million, then one final double
    * division: `round(double, 4)` put sums exactly on 4dp half-way
    * cliffs (the 0.3/0.4 weights make that systematic) where engines
    * round differently — one doc in 5000 flipped its last digit against
    * the DuckDB oracle at sf0.1. Integer arithmetic is bit-identical
    * everywhere. */
  def qualityScore(c: Column, stopwords: Seq[String]): Column =
    qualityScoreE6(c, stopwords).cast("double") / lit(1000000.0)

  /** [[qualityScore]]'s exact integer parts-per-million — for rank /
    * threshold composition where the display division would reintroduce
    * float comparisons. */
  def qualityScoreE6(c: Column, stopwords: Seq[String]): Column = {
    // exact integer floor-division: (a - a%b)/b with a < 2^53
    val toks = greatest(tokenCount(c), lit(1)).cast("long")
    val sw = stopwordCount(c, stopwords).cast("long")
    val lenE6 = least(tokenCount(c).cast("long"), lit(100L)) * lit(4000L)
    val punctE6 = when(punctRatio(c) < 0.2, lit(300000L)).otherwise(lit(90000L))
    val swFracE6 = least(fdiv(sw * lit(5000000L), toks), lit(1000000L))
    val swE6 = fdiv(swFracE6 * lit(3L), lit(10L))
    lenE6 + punctE6 + swE6
  }

  /** Tiny per-language stopword profiles (public common function words). */
  val LangProfiles: Map[String, Seq[String]] = Map(
    "en" -> Seq("the", "a", "of", "and", "to", "in", "is", "that", "it", "for"),
    "es" -> Seq("el", "la", "de", "y", "que", "en", "un", "una", "es", "los"),
    "fr" -> Seq("le", "la", "de", "et", "que", "en", "un", "une", "est", "les"),
    "de" -> Seq("der", "die", "das", "und", "zu", "in", "ein", "eine", "ist", "von"))

  /** n-gram/stopword-heuristic language ID: count profile hits per
    * language, plus a CJK-character check for zh; argmax with
    * deterministic (alphabetical) tie-break. Returns a string column. */
  def languageId(c: Column,
      profiles: Map[String, Seq[String]] = LangProfiles): Column = {
    val toks = tokens(lower(c))
    // scores as array<struct<score,negLang>> so array_max picks
    // (highestScore, then alphabetically-first language)
    val scored = profiles.toSeq.sortBy(_._1).map { case (lang, words) =>
      val sw = array(words.map(lit): _*)
      struct(
        size(filter(toks, t => array_contains(sw, t))).as("score"),
        lit(lang).as("lang"))
    }
    val best = sortBy(array(scored: _*))
    val cjk = size(regexp_extract_all(c, lit("[\\x{4e00}-\\x{9fff}]"), lit(0)))
    when(cjk > 0, lit("zh")).otherwise(element_at(best, -1).getField("lang"))
  }

  /** array_sort by (score asc, lang desc) so the LAST element is
    * (max score, alphabetically-first lang among ties). */
  private def sortBy(arr: Column): Column =
    array_sort(arr, (l, r) =>
      when(l.getField("score") < r.getField("score"), -1)
        .when(l.getField("score") > r.getField("score"), 1)
        // equal scores: alphabetically-first lang should sort LAST
        .when(l.getField("lang") > r.getField("lang"), -1)
        .when(l.getField("lang") < r.getField("lang"), 1)
        .otherwise(0))

  /** Canonical document fingerprint: SHA-256 of lowercased,
    * whitespace-collapsed text (stable under reflow). */
  def fingerprint(c: Column): Column =
    sha2(regexp_replace(lower(trim(c)), "\\s+", " "), 256)

  /** Homoglyph (confusable) substitution pairs: visually identical
    * non-Latin letters → their Latin look-alikes. The classic
    * decontamination evasion is re-typing an eval answer with Cyrillic
    * а/е/о/р/с/у/х (identical glyphs, different codepoints) — byte-level
    * shingle matching then sees disjoint n-grams and the contaminated
    * doc sails through. Folding BOTH sides through this map before
    * shingling restores the collision. Deliberately a small curated
    * table of the unambiguous identical-glyph pairs (the Unicode
    * TR39 confusables table is thousands of entries deep and includes
    * merely-similar glyphs; these are the byte-for-glyph identical core
    * an attacker actually uses), expressed as a `translate` so both the
    * engine and any SQL oracle reproduce it codepoint-for-codepoint. */
  val ConfusableFrom: String =
    "аеорсухіѕј" + // а е о р с у х і ѕ ј
      "АВЕКМНОРСТХІЅЈ" + // А В Е К М Н О Р С Т Х І Ѕ Ј
      "οΟΑΒΕΖΗΙΚΜΝΡΤΥΧ" // ο Ο Α Β Ε Ζ Η Ι Κ Μ Ν Ρ Τ Υ Χ
  val ConfusableTo: String =
    "aeopcyxisj" + "ABEKMHOPCTXISJ" + "oOABEZHIKMNPTYX"

  /** Fold confusable homoglyphs to their Latin forms — see
    * [[ConfusableFrom]]. Composes with [[Dedup.decontaminate]] /
    * [[Dedup.contaminationCounts]] by folding the text column on both
    * sides; a plain `translate`, so it stays inside whole-stage codegen
    * and replays in any engine with the same two constant strings. */
  def confusableFold(c: Column): Column =
    translate(c, ConfusableFrom, ConfusableTo)

  /** 62-bit SimHash over whitespace tokens: per-token polynomial hash
    * ([[graft.functions.TextHashes]] — integer arithmetic any engine
    * reproduces, so sketch VALUES are oracle-checkable), bitwise
    * majority vote with multiplicity, sign bits packed into a long.
    * Native fused loop ([[graft.functions.SimHash62]]) — the nested-HOF
    * formulation evaluated interpreted and 60× slower per token. */
  def simhash62(c: Column): Column =
    graft.functions.TextHashExpressions.simhash62(tokens(c))

  /** Hamming distance between two packed simhashes. */
  def hamming64(a: Column, b: Column): Column = bit_count(a.bitwiseXOR(b))

  /** BPE-ish subword token count: the GPT-2-style pretokenizer regex
    * (contractions | letter runs | digit runs | punctuation runs, each
    * with optional leading space). Counts pretokens — the quantity BPE
    * vocabularies split further — which tracks LLM token counts far
    * better than whitespace words. */
  val BpeishPattern: String =
    "'(?:s|d|m|t|ll|ve|re)| ?\\p{L}+| ?\\p{N}+| ?[^\\s\\p{L}\\p{N}]+"

  def bpeishTokenCount(c: Column): Column =
    size(regexp_extract_all(c, lit(BpeishPattern), lit(0))).cast("long")

  /** Winnowing fingerprints (rolling-hash document fingerprinting, after
    * Schleimer/Wilkerson/Aiken's winnowing scheme): hash every k-gram,
    * keep the minimum hash of each sliding window of w consecutive
    * k-gram hashes. Guarantees any shared run of ≥ w+k-1 tokens yields a
    * shared fingerprint — the standard near-copy detector for corpora.
    * Pure expressions; distinct fingerprint set per document. */
  def winnowingFingerprints(c: Column, k: Int = 4, w: Int = 4): Column = {
    val grams = polyShingleHashes(c, k)
    // window minima over the k-gram hash sequence
    aggregate(array(grams), lit(null).cast("array<bigint>"), (_, g) =>
      when(size(g) >= w,
        array_distinct(transform(sequence(lit(0), size(g) - lit(w)),
          i => array_min(slice(g, i + 1, lit(w))))))
        .otherwise(array(array_min(g))))
  }

  /** Content-defined chunking (the FastCDC/Rabin idea on token
    * streams): a chunk boundary opens at every token position whose
    * k-gram rolling hash is ≡ 0 (mod `avgChunkGrams`) — boundaries
    * depend only on LOCAL content, so two documents sharing a long
    * passage produce the SAME chunks for it regardless of where the
    * passage sits. Fixed-stride chunking ([[chunkWindows]]) loses that
    * alignment after one insertion; content-defined chunks are the
    * dedup-friendly unit (join on `chunk_hash` to find shared passages
    * at chunk granularity).
    *
    * Output: `(idCol, chunk_id, start, n_tokens, chunk_hash)` — chunks
    * partition each document's tokens exactly; `chunk_hash` is the
    * cross-engine polynomial hash of the chunk string. Pure
    * expressions, one explode per doc, zero shuffle. */
  def contentChunks(df: DataFrame, idCol: String, textCol: String,
      k: Int = 3, avgChunkGrams: Int = 8): DataFrame = {
    require(k >= 1, s"k must be >= 1, got $k")
    require(avgChunkGrams >= 2,
      s"avgChunkGrams must be >= 2, got $avgChunkGrams")
    val m = avgChunkGrams.toLong
    val gh = col("__gh")
    // boundary token positions: i in [1, len(gh)-1] with gh[i] % m == 0
    // (guarded — Spark's sequence(1, 0) DESCENDS instead of emptying)
    val boundaries = when(size(gh) >= 2,
      filter(sequence(lit(1), size(gh) - 1),
        i => pmod(element_at(gh, i + 1), lit(m)) === 0L))
      .otherwise(array().cast("array<int>"))
    // posexplode_OUTER: `__starts` always holds element 0, so outer ≡
    // inner — but the outer generator takes NO generator-non-empty
    // pre-filter, and that filter is poison here: Catalyst pushes it
    // below the projections, substituting the WHOLE rolling-hash tree
    // into the Filter node (measured 3× the scan cost at sf0.1)
    val base = df.filter(col(textCol).isNotNull)
      .select(col(idCol), tokens(col(textCol)).as("__toks"),
        polyShingleHashes(col(textCol), k).as("__gh"))
      .withColumn("__starts", concat(array(lit(0)), boundaries))
      .select(col(idCol), col("__toks"), col("__starts"),
        posexplode_outer(col("__starts")).as(Seq("__ci", "__st")))
    val end = coalesce(
      try_element_at(col("__starts"), col("__ci") + 2), size(col("__toks")))
    base.select(col(idCol), col("__ci").cast("long").as("chunk_id"),
      col("__st").cast("long").as("start"),
      (end - col("__st")).cast("long").as("n_tokens"),
      graft.functions.TextHashExpressions.polyHash62(
        concat_ws(" ", slice(col("__toks"), col("__st") + 1, end - col("__st"))))
        .as("chunk_hash"))
  }

  /** Cross-document duplicated chunks over [[contentChunks]]: chunk
    * hashes appearing in ≥ `minDocs` DISTINCT documents, with how many
    * documents and total occurrences — the chunk-granular duplication
    * report (between line-dedup's single lines and span-dedup's k-gram
    * islands). Because boundaries are content-defined, a passage shared
    * at ANY offset still groups here. Rollup on 8-byte chunk hashes with
    * per-doc pre-distinct — hot chunks die map-side; chunks shorter than
    * `minTokens` are noise and excluded. */
  def duplicatedChunks(df: DataFrame, idCol: String, textCol: String,
      k: Int = 3, avgChunkGrams: Int = 8, minDocs: Int = 2,
      minTokens: Int = 2): DataFrame = {
    require(minDocs >= 2, s"minDocs must be >= 2, got $minDocs")
    contentChunks(df, idCol, textCol, k, avgChunkGrams)
      .filter(col("n_tokens") >= minTokens)
      .groupBy("chunk_hash", idCol)
      .agg(count(lit(1)).as("__c"))
      .groupBy("chunk_hash")
      .agg(count(lit(1)).as("n_docs"), sum("__c").as("n_occurrences"))
      .filter(col("n_docs") >= minDocs)
  }

  /** Positional (non-distinct) k-gram hashes with the cross-engine
    * polynomial hash — the sequence winnowing slides its window over.
    * Gram strings are space-joined token windows (the exact shape a SQL
    * oracle rebuilds); short docs (< k tokens) hash the whole token
    * string. Emitted VALUES are engine-reproducible, unlike
    * [[Dedup.shingleHashes]]'s xxhash64 (which stays the right choice
    * where hashes are join keys only). */
  def polyShingleHashes(c: Column, k: Int): Column = {
    val toks = tokens(c)
    // aggregate-as-let-binding: toks evaluated once (see shingleHashes)
    aggregate(array(toks), lit(null).cast("array<bigint>"), (_, t) =>
      when(size(t) >= k,
        transform(sequence(lit(0), size(t) - lit(k)),
          i => graft.functions.TextHashExpressions.polyHash62(
            concat_ws(" ", slice(t, i + 1, lit(k))))))
        .otherwise(array(graft.functions.TextHashExpressions.polyHash62(
          concat_ws(" ", t)))))
  }

  /** PII scrubbing for training corpora: replace emails, IPv4
    * addresses, and phone-number-shaped digit runs with typed
    * placeholders. Pure codegen'd `regexp_replace` chain — no UDF, no
    * shuffle, linear scan. Order matters and is part of the contract:
    * emails first (their local parts can contain digits), then IPs
    * (dotted digit runs a looser phone pattern would mangle), then
    * phones. Patterns are RE2-safe (no lookaround), so any engine
    * re-applies them identically — the oracle query re-derives the
    * same chain in SQL. */
  val EmailPattern: String = "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}"
  val Ipv4Pattern: String = "\\b(\\d{1,3}\\.){3}\\d{1,3}\\b"
  /** Phone-shaped = AT LEAST 9 digits separated by at most one dash
    * each. 8-digit runs (ISO dates 2024-01-01, year ranges 2020-2024)
    * are NOT redacted — the looser `\d[\d-]{6,}\d` form rewrote those
    * to <PHONE> and silently degraded clean text. 9+-digit IDs still
    * match by design: at that length a digit run is
    * indistinguishable from a dialable number, and for corpus PII the
    * safe default is to redact.
    *
    * KNOWN RECALL LIMITATION: 7–8 digit bare local numbers (HK/SG/JP
    * formats like 6123-4567) fall below the 9-digit floor and pass
    * unredacted — the deliberate trade against mass false-positives on
    * dates and year ranges, which share the 8-digit dashed shape
    * exactly. Corpora where such numbers matter should prepend a
    * region-shaped pattern (e.g. `\b\d{4}-\d{4}\b` with a date
    * exclusion) to the chain and mirror it in any oracle. */
  val PhonePattern: String = "\\b\\d(?:-?\\d){8,}\\b"

  def piiScrub(c: Column): Column =
    regexp_replace(
      regexp_replace(
        regexp_replace(c, EmailPattern, "<EMAIL>"),
        Ipv4Pattern, "<IP>"),
      PhonePattern, "<PHONE>")

  /** Per-document repetition profile — the boilerplate/degenerate-text
    * quality signal (a doc whose single most frequent k-gram covers a
    * large share of all its k-grams is template spam or decode-loop
    * output): (top_gram_count, n_grams, repetition_ratio = top/total).
    *
    * Distributed shape: explode k-gram hashes → per-(doc, gram) count
    * (map-side partial agg) → per-doc max/sum. Gram VALUES never leave
    * the engine (only counts do), so the 8-byte xxhash64 shingle kernel
    * is safe here — the oracle rebuilds the same counts from gram
    * STRINGS ([[Dedup.shingleHashes]] value-equivalence). */
  def repetitionStats(df: DataFrame, idCol: String, textCol: String,
      k: Int = 2): DataFrame =
    df.select(col(idCol).as("doc_id"),
        explode(Dedup.shingleHashes(col(textCol), k)).as("gram"))
      .groupBy("doc_id", "gram").agg(count(lit(1)).as("n"))
      .groupBy("doc_id").agg(
        max("n").as("top_gram_count"),
        sum("n").as("n_grams"),
        (max("n").cast("double") / sum("n").cast("double"))
          .as("repetition_ratio"))

  /** Concat-and-chunk sequence packing — the standard pretraining
    * batch-prep shape: documents are concatenated in a deterministic
    * order and cut into fixed `budget`-token sequences; each document
    * row reports which sequence its first token lands in and at what
    * offset (documents may straddle sequence boundaries — that is the
    * concat-and-chunk contract).
    *
    * Scale shape: packing runs per hash bucket (`doc_id % buckets`),
    * `buckets` independent streams packed in parallel — the window is
    * PARTITIONED, never one global ordering (a global ORDER BY window
    * is a single-task bottleneck at corpus scale). Within a bucket the
    * cumulative token sum is one sort + one pass. */
  def packSequences(df: DataFrame, idCol: String, textCol: String,
      budget: Int, buckets: Int = 64): DataFrame = {
    require(budget > 0 && buckets > 0)
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("bucket")).orderBy(col("doc_id"))
      .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding, 0)
    df.select(col(idCol).as("doc_id"),
        pmod(col(idCol), lit(buckets)).cast("long").as("bucket"),
        tokenCount(col(textCol)).cast("long").as("n_tokens"))
      .withColumn("start", sum("n_tokens").over(w) - col("n_tokens"))
      // `div` = exact integral division on longs (the `/` operator is
      // IEEE double division, which mis-rounds near 2^53 and diverges
      // from a SQL engine's `//`); starts are non-negative
      .select(col("doc_id"), col("bucket"),
        expr(s"start div $budget").as("seq_id"),
        (col("start") % lit(budget)).as("start_offset"),
        col("n_tokens"))
  }

  /** Deterministic stratified corpus sampling — domain mixing: keep
    * each row with a per-stratum probability expressed in PARTS PER
    * MILLION (integer, so the keep-predicate is exact integer
    * arithmetic on both engines — a double-valued rate would ride on
    * float rounding at the boundary). The coin is the portable
    * 62-bit polynomial hash of the KEY, not `rand()`: re-running the
    * pipeline reproduces the identical sample, and any engine can
    * re-derive membership (the training-data analog of the reference's
    * deterministic batch carving, scripts/reconcile.py:295-326).
    *
    * Scale shape: a codegen'd filter on a scan — no shuffle, no state,
    * trivially parallel. Changing the mix re-samples only the strata
    * whose rates changed (hash is rate-independent). */
  def sampleByMix(df: DataFrame, keyCol: String, stratumCol: String,
      ratesPpm: Map[String, Long], defaultPpm: Long): DataFrame = {
    require((defaultPpm +: ratesPpm.values.toSeq)
      .forall(p => p >= 0L && p <= 1000000L), "rates are ppm in [0, 1e6]")
    val rate = ratesPpm.foldLeft(lit(defaultPpm)) { case (acc, (k, v)) =>
      when(col(stratumCol) === k, lit(v)).otherwise(acc)
    }
    df.filter(pmod(
      graft.functions.TextHashExpressions.polyHash62(col(keyCol).cast("string")),
      lit(1000000L)) < rate)
  }

  /** Deterministic EXACT-k per-stratum sample: rank each stratum's rows
    * by the salted portable-hash coin (key tiebreak) and keep the first
    * `k` — "exactly 1000 docs per source", the eval-set carve every
    * pipeline needs where [[sampleByMix]]'s rate-based coin gives a
    * binomial count, not an exact one. Strata smaller than `k` pass
    * through whole. The salt keeps this coin independent of the mix
    * and split coins (see [[assignSplits]] for why coins must not be
    * shared between sampling stages).
    *
    * Scale shape: `row_number() <= k` plans a PARTIAL WindowGroupLimit
    * below the stratum exchange — each input partition forwards at most
    * k rows per stratum, so the shuffle is k·strata-bounded regardless
    * of corpus size (same machinery PlanSpec pins for q63). */
  def sampleExactK(df: DataFrame, keyCol: String, stratumCol: String,
      k: Int): DataFrame = {
    require(k >= 1, s"k must be >= 1, got $k")
    val coin = pmod(
      graft.functions.TextHashExpressions.polyHash62(
        concat(col(keyCol).cast("string"), lit("#exactk"))),
      lit(1000000L))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col(stratumCol)).orderBy(coin, col(keyCol))
    df.withColumn("__rn", row_number().over(w))
      .filter(col("__rn") <= k)
      .drop("__rn")
  }

  /** Deterministic train/val/test split assignment: each row gets a
    * `split` label by where its hash coin lands among the cumulative
    * ppm thresholds (which must sum to exactly 1e6 — the split is a
    * PARTITION, every row labeled exactly once). The coin is the
    * portable hash of the key SALTED with "#split" — deliberately a
    * different coin than [[sampleByMix]]'s, because a corpus that was
    * mix-sampled kept only low-coin rows, and re-using that coin would
    * funnel every survivor into the first split. Same scale shape as
    * the sampler: a codegen'd projection, no shuffle. */
  def assignSplits(df: DataFrame, keyCol: String,
      splits: Seq[(String, Long)] =
        Seq("train" -> 800000L, "val" -> 100000L, "test" -> 100000L)): DataFrame = {
    require(splits.nonEmpty && splits.forall(_._2 > 0L) &&
      splits.map(_._2).sum == 1000000L,
      "split ppm weights must be positive and sum to exactly 1e6")
    val coin = pmod(
      graft.functions.TextHashExpressions.polyHash62(
        concat(col(keyCol).cast("string"), lit("#split"))),
      lit(1000000L))
    val cums = splits.scanLeft(0L)(_ + _._2).tail
    val label = splits.init.zip(cums.init)
      .foldRight(lit(splits.last._1): Column) { case (((l, _), cum), acc) =>
        when(coin < cum, lit(l)).otherwise(acc)
      }
    df.withColumn("split", label)
  }

  /** Leakage-safe train/val/test splits: [[assignSplits]]' coin thrown
    * on the NEAR-DUP CLUSTER representative instead of the document id,
    * so two near-duplicate documents can never land in different
    * splits — the contamination mode where a test document's twin sits
    * in train and the eval silently measures memorization. `pairs` is
    * any near-dup pair list (`id_a`, `id_b`); documents in no pair are
    * their own group.
    *
    * Scale shape: [[Dedup.connectedComponents]]' min-label loop runs
    * over the PAIR LIST (pair-graph-sized, iterations ≈ cluster
    * diameter), one left join attaches components to the corpus, and
    * the split label itself stays a codegen'd projection — no extra
    * shuffle beyond the component join. */
  def leakageSafeSplits(df: DataFrame, idCol: String, pairs: DataFrame,
      splits: Seq[(String, Long)] =
        Seq("train" -> 800000L, "val" -> 100000L, "test" -> 100000L)): DataFrame = {
    val cc = Dedup.connectedComponents(pairs)
      .withColumnRenamed("id", idCol)
    val grouped = df.join(cc, Seq(idCol), "left")
      .withColumn("group_id", coalesce(col("component"), col(idCol)))
      .drop("component")
    assignSplits(grouped, "group_id", splits)
  }

  /** Per-stratum quality cap — the RefinedWeb-style per-domain cap: a
    * single domain (mirror farm, crawl loop) may not contribute more
    * than `k` documents, and the `k` kept are its BEST by
    * [[qualityScore]] (deterministic `(quality desc, id)` order) — the
    * quality-ranked counterpart of [[sampleExactK]]'s random carve.
    *
    * Scale shape: `row_number() <= k` over a per-stratum window plans a
    * PARTIAL WindowGroupLimit below the exchange — top-k runs map-side
    * and the shuffle carries at most k rows per stratum. */
  def capPerStratum(df: DataFrame, idCol: String, textCol: String,
      stratumCol: String, k: Int,
      stopwords: Seq[String] = LangProfiles("en")): DataFrame = {
    require(k > 0, s"k must be positive, got $k")
    val w = Window.partitionBy(col(stratumCol))
      .orderBy(col("quality").desc, col(idCol))
    df.filter(col(textCol).isNotNull)
      .select(col(idCol), col(stratumCol),
        qualityScore(col(textCol), stopwords).as("quality"))
      .withColumn("__rn", row_number().over(w))
      .filter(col("__rn") <= k)
      .drop("__rn")
  }

  /** Deterministic training-order shuffle + token-balanced output
    * sharding — the last step before a training run writes its corpus:
    * documents land in a pseudorandom but reproducible order (the
    * portable hash coin salted with "#shard" — independent of the
    * sampler and split coins), and consecutive runs of ~`targetTokens`
    * tokens form a shard, so every output file carries the same token
    * mass regardless of document-length skew. `shard_id =
    * start_offset div targetTokens` where `start_offset` is the exact
    * number of tokens before the document in coin order.
    *
    * Scale shape: the global prefix sum decomposes over fixed coin-range
    * buckets (the coin is uniform on [0, 1e6), so buckets are balanced
    * by construction): per-bucket token totals come back to the driver
    * (`buckets` rows, bounded), the driver prefix-sums them into bucket
    * base offsets, and each bucket computes its within-bucket cumulative
    * window IN PARALLEL — no global sort, no single-task window. Every
    * arithmetic step is 64-bit integer, so shard boundaries are
    * bit-identical cross-engine (the oracle's single global window pins
    * the decomposition). */
  def assignShards(df: DataFrame, idCol: String, textCol: String,
      targetTokens: Long, buckets: Int = 100): DataFrame = {
    require(targetTokens > 0, s"targetTokens must be positive, got $targetTokens")
    require(buckets > 0 && buckets <= 1000000,
      s"buckets must be in [1, 1e6], got $buckets")
    val spark = df.sparkSession
    import spark.implicits._
    val coin = pmod(
      graft.functions.TextHashExpressions.polyHash62(
        concat(col(idCol).cast("string"), lit("#shard"))),
      lit(1000000L))
    val scored = df.filter(col(textCol).isNotNull)
      .select(col(idCol).as("__id"),
        tokenCount(col(textCol)).cast("long").as("n_tokens"),
        coin.as("__coin"))
      .withColumn("__bkt",
        fdiv(col("__coin") * lit(buckets.toLong), lit(1000000L)).cast("int"))
      .localCheckpoint() // read twice: bucket totals + laid-out assignment
    // exclusive prefix (each doc's START offset) over the coin order —
    // the shared bucketed-offset machinery
    val (laid, _) = graft.util.GlobalRank.bucketedPrefix(scored, "__bkt",
      Seq(col("__coin"), col("__id")), "n_tokens", "__start",
      inclusive = false)
    laid.select(col("__id").as(idCol), col("n_tokens"),
      fdiv(col("__start"), lit(targetTokens)).as("shard_id"))
  }

  /** Quality-ranked corpus selection under a token budget: keep the
    * highest-quality documents whose cumulative token count (in
    * quality-descending, id-ascending order) stays within `budget` —
    * the standard "best N tokens" data-selection step.
    *
    * Scale shape: the obvious formulation is one GLOBAL ordered window
    * (single-task bottleneck). Instead: quality lands in fixed-range
    * buckets (`floor(quality * buckets)`, so equal scores can never
    * straddle a boundary), per-bucket token totals come back to the
    * driver (`buckets` rows — bounded small), the driver prefix-sums to
    * find the boundary bucket, whole buckets above it are kept with a
    * shuffle-free filter, and only the boundary bucket — 1/buckets of
    * the data — pays an ordered window. Output matches the global-window
    * SQL exactly (hash-checked cross-engine). */
  def selectByBudget(df: DataFrame, idCol: String, textCol: String,
      budget: Long, stopwords: Seq[String] = LangProfiles("en"),
      buckets: Int = 100): DataFrame = {
    require(budget >= 0 && buckets > 0)
    // null-text docs carry no tokens and are not selectable (they would
    // otherwise score a phantom null-skipping quality, land in a real
    // bucket, and charge nothing to the budget). The operator is
    // inherently eager (the driver reads per-bucket totals), so the
    // scored projection is localCheckpoint'd ONCE and the three
    // consumers — totals, kept, boundary — all read the materialized
    // partitions instead of re-running the quality HOFs per branch.
    val scored = df.filter(col(textCol).isNotNull)
      .select(col(idCol),
        qualityScore(col(textCol), stopwords).as("quality"),
        tokenCount(col(textCol)).cast("long").as("n_tokens"))
      .withColumn("__bkt",
        least(floor(col("quality") * buckets), lit(buckets - 1)).cast("int"))
      .localCheckpoint()
    // per-bucket totals: `buckets` rows, bounded — same class of
    // driver-side lookup as the quantile picks in Analytics
    val totals = scored.groupBy("__bkt")
      .agg(sum("n_tokens").as("t")).collect()
      .map(r => r.getInt(0) -> r.getLong(1)).toMap
    val order = totals.keys.toSeq.sorted(Ordering.Int.reverse)
    var remaining = budget
    val full = scala.collection.mutable.ListBuffer.empty[Int]
    var boundary: Option[(Int, Long)] = None
    for (b <- order if boundary.isEmpty) {
      val t = totals(b)
      if (t <= remaining) { full += b; remaining -= t }
      else boundary = Some((b, remaining))
    }
    val kept = scored.filter(col("__bkt").isin(full.toSeq: _*))
    val edge = boundary match {
      case None => kept.limit(0)
      case Some((b, r)) =>
        val w = org.apache.spark.sql.expressions.Window
          .partitionBy(col("__bkt"))
          .orderBy(col("quality").desc, col(idCol))
          .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding, 0)
        scored.filter(col("__bkt") === b)
          .withColumn("__cum", sum("n_tokens").over(w))
          .filter(col("__cum") <= r).drop("__cum")
    }
    kept.unionByName(edge).drop("__bkt")
  }

  /** Systematic (low-variance) resampling by integer weights — the
    * "use the weights" step after [[importanceWeights]]: draw `k`
    * evenly-spaced picks over the cumulative-weight line, so a document
    * with weight share w/W receives floor/ceil(k·w/W) copies — the
    * particle-filter systematic resampler (Kitagawa 1996), which beats
    * independent multinomial draws on variance and is fully
    * deterministic: lay the documents out on `[0, W)` in `idCol` order,
    * each owning an interval of its own width, and select the interval
    * containing each threshold `t_j = floor(W·(2j+1) / 2k)` (interval
    * midpoints of the k-fold partition of `[0, W)`). Output:
    * `(idCol, weight_fp, n_copies)` for documents with ≥ 1 copy;
    * `Σ n_copies = k` always. Weights must be non-negative integers
    * (fixed-point them upstream — e.g. shift [[importanceWeights]]'s
    * `dsir_weight_fp` by its minimum); zero-weight docs own empty
    * intervals and can never be selected, so they are pre-filtered.
    *
    * Scale shape: the global prefix sum never runs as one ordered
    * window. Ids land in fixed-span range buckets (order-preserving by
    * construction); per-bucket totals come back to the driver
    * (`buckets` rows, bounded — the [[selectByBudget]] pattern), the
    * driver prefix-sums those into per-bucket base offsets, and each
    * bucket computes its INTERNAL cumulative sum in parallel under
    * `partitionBy(bucket)`. The k thresholds (driver-computed with
    * BigInt — no 64-bit overflow on `W·(2j+1)`) broadcast to an
    * interval-containment join, so the corpus is never shuffled at all:
    * one window per bucket plus a map-side broadcast probe. All
    * arithmetic is 64-bit integer — bitwise cross-engine exact. */
  def systematicResample(df: DataFrame, idCol: String, weightCol: String,
      k: Int, buckets: Int = 256): DataFrame = {
    require(k > 0, s"k must be positive, got $k")
    require(buckets > 0, s"buckets must be positive, got $buckets")
    val spark = df.sparkSession
    import spark.implicits._
    val w = df.select(col(idCol).as("__id"),
        col(weightCol).cast("long").as("__w"))
      .filter(col("__w") > 0)
      .localCheckpoint() // read 3×: id range, bucket totals, final probe
    val range = w.agg(min("__id"), max("__id")).collect()(0)
    if (range.isNullAt(0))
      return w.select(col("__id").as(idCol), col("__w").as("weight_fp"),
        lit(0L).as("n_copies")).limit(0)
    val (minId, maxId) = (range.getLong(0), range.getLong(1))
    // fixed-span buckets over the id range: order-preserving, and the
    // span divide can't overflow where a direct (id-min)·buckets would
    val span = ((BigInt(maxId) - BigInt(minId) + buckets) / buckets)
      .max(BigInt(1)).toLong
    val bucketed = w.withColumn("__bkt",
      ((col("__id") - lit(minId)) / lit(span)).cast("int"))
    // inclusive prefix over the id order via the shared bucketed-offset
    // machinery (which owns the 64-bit overflow guard on the total)
    val (laid0, totalL) = graft.util.GlobalRank.bucketedPrefix(bucketed,
      "__bkt", Seq(col("__id")), "__w", "__hi")
    val laid = laid0.select(col("__id"), col("__w"), col("__hi"))
    val total = BigInt(totalL)
    val thresholds = (0 until k)
      .map(j => (total * (2 * j + 1) / (2 * k)).toLong).toDF("__t")
    laid.join(broadcast(thresholds),
        col("__t") >= col("__hi") - col("__w") && col("__t") < col("__hi"))
      .groupBy(col("__id").as(idCol), col("__w").as("weight_fp"))
      .agg(count(lit(1)).as("n_copies"))
  }

  /** Corpus vocabulary: one row per distinct whitespace token with its
    * document frequency (`df`, docs containing it) and total term
    * frequency (`tf`, occurrences corpus-wide) — the input to vocab
    * building, stopword derivation, and DF-based token filtering.
    *
    * Scale shape: word-count. The `(token, doc)` pre-aggregation runs
    * with map-side partials before the per-token rollup, so a hot token
    * (`the` in half the corpus) never funnels raw occurrence rows into
    * one reducer — the second aggregate sees at most one row per
    * (token, doc), and both shuffles carry counts, not text. No
    * `count(distinct)` anywhere (it would re-shuffle raw pairs). */
  def vocabulary(df: DataFrame, idCol: String, textCol: String): DataFrame =
    df.filter(col(textCol).isNotNull)
      .select(col(idCol).as("__id"),
        explode(tokens(col(textCol))).as("token"))
      .filter(col("token") =!= "")
      .groupBy("token", "__id").agg(count(lit(1)).as("__c"))
      .groupBy("token")
      .agg(count(lit(1)).as("df"), sum("__c").as("tf"))

  /** Per-document distinctive terms — keyword extraction by
    * rarity-normalized term frequency: each surviving `(doc, token)`
    * pair scores `tf / df` (its in-document count over its corpus-wide
    * document frequency), and the top `topK` terms per document are
    * kept. The classic tf-idf ranking with raw `1/df` as the inverse
    * document frequency — chosen over `log`-idf so the score is ONE
    * IEEE division of two exact integers and therefore bit-identical
    * across engines (`log` parity is library-dependent); within a
    * document the `1/df` and `log(N/df)` rankings agree wherever df
    * differs, and the token-ascending tiebreak pins the rest.
    *
    * Scale shape: the `(token, doc)` pre-aggregation (the [[vocabulary]]
    * first level, materialized ONCE and read twice); the corpus df
    * table rolls up from it and joins back on token — declaratively, so
    * Catalyst broadcasts it while it is small and shifts to a shuffle
    * join on the natural key once the vocabulary outgrows the
    * threshold. The top-k window partitions BY DOCUMENT, and
    * `row_number() <= k` plans a PARTIAL WindowGroupLimit below the
    * exchange: top-k runs map-side and the shuffle carries at most k
    * rows per (doc, input partition) — asserted in PlanSpec. */
  def distinctiveTerms(df: DataFrame, idCol: String, textCol: String,
      topK: Int = 3): DataFrame = {
    require(topK >= 1, s"topK must be >= 1, got $topK")
    val perDoc = df.filter(col(textCol).isNotNull)
      .select(col(idCol).as("__id"),
        explode(tokens(col(textCol))).as("token"))
      .filter(col("token") =!= "")
      .groupBy("token", "__id").agg(count(lit(1)).as("tf"))
      .localCheckpoint() // read twice: df rollup + the scored join
    val dfTab = perDoc.groupBy("token").agg(count(lit(1)).as("df"))
    val score = col("tf").cast("double") / col("df")
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("__id").orderBy(score.desc, col("token"))
    perDoc.join(dfTab, "token")
      .withColumn("rnk", row_number().over(w))
      .filter(col("rnk") <= topK)
      .select(col("__id").as(idCol), col("token"), col("tf"), col("df"),
        score.as("score"), col("rnk").cast("long").as("rnk"))
  }

  /** Near-duplicate pairs by TF-IDF cosine over TOP-`topM` TERM
    * vectors — the lexical-similarity complement of shingle Jaccard
    * (word-weight overlap instead of word-order overlap; robust to
    * token reordering that destroys every shingle). Each document's
    * sparse vector keeps only its `topM` most distinctive terms
    * ([[distinctiveTerms]] ranking), weighted `⌊tf·10⁶/df⌋` in exact
    * integer micros: the dot product is then an exact DECIMAL(38,0) sum
    * (order-independent — double summation order differs across
    * engines and partitionings), and the cosine is three IEEE ops
    * (two sqrt, one divide) on exact integers — bit-identical on any
    * engine at any parallelism. Output: (id_a, id_b, cosine), id_a <
    * id_b, cosine ≥ threshold.
    *
    * The truncation caps the per-doc fan-out at m entries per side,
    * but NOT the per-term posting length: one term landing in the
    * top-m of F documents still fans the token self-join out to F²
    * pairs (measured at sf0.1: 25k vector entries → 8.1 M candidate
    * pairs through the pair-key shuffle). So pair generation is
    * PREFIX-FILTERED, the cosine analog of the q82 Jaccard plan
    * (Bayardo 2007 adapted to weighted cosine): per document the
    * terms sort in the canonical rarest-first order (df asc, token
    * asc), and only the prefix whose RESIDUAL norm could still reach
    * the threshold is indexed — position i is indexed iff
    * `resid²(i)·10¹² ≥ tppm²·‖x‖²` (exact integer/decimal
    * arithmetic; `tppm = ⌊t·10⁶⌋ ≤ t` only lengthens the prefix,
    * never drops a true pair). By Cauchy-Schwarz a pair whose shared
    * terms all sit past that prefix has `dp ≤ resid·‖y‖ < t·‖x‖·‖y‖`
    * — so every qualifying pair collides on an indexed term, and hot
    * terms (low tf-idf weight → late in the rarest-first order, tiny
    * residual) almost never make a prefix: the F² blowup vanishes
    * while the result stays EXACT. Verification runs per candidate
    * pair on the compact per-doc term maps — an O(m) codegen'd
    * integer dot product, candidate-sized work, no pair-key
    * aggregation at all. */
  def tfidfCosinePairs(df: DataFrame, idCol: String, textCol: String,
      topM: Int = 5, threshold: Double = 0.8): DataFrame = {
    require(topM >= 1, s"topM must be >= 1, got $topM")
    require(threshold > 0.0 && threshold <= 1.0,
      s"threshold must be in (0,1], got $threshold")
    val tPpm = math.floor(threshold * 1000000).toLong
    // largest per-term weight for which a topM-term sum of squares (or
    // of cross products — |wa·wb| ≤ safeW² likewise) provably fits
    // int64: the long-vs-decimal branch point for the exact folds below
    val safeW = math.sqrt(Long.MaxValue.toDouble / topM).toLong - 1
    val perDoc = df.filter(col(textCol).isNotNull)
      .select(col(idCol).as("__id"),
        explode(tokens(col(textCol))).as("token"))
      .filter(col("token") =!= "")
      .groupBy("token", "__id").agg(count(lit(1)).as("tf"))
      .localCheckpoint() // read twice: df rollup + the scored join
    val dfTab = perDoc.groupBy("token").agg(count(lit(1)).as("df"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("__id")
      .orderBy((col("tf").cast("double") / col("df")).desc, col("token"))
    // per-doc sorted (df, token, w) arrays in the canonical
    // rarest-first order + exact integer norms; read three times
    // (prefix explode + both verification sides)
    val docsArr = perDoc.join(dfTab, "token")
      .withColumn("rnk", row_number().over(w))
      .filter(col("rnk") <= topM)
      .select(col("__id"), col("df"), col("token"),
        expr("tf * 1000000L DIV df").as("w"))
      .groupBy("__id")
      .agg(array_sort(collect_list(struct(col("df"), col("token"), col("w"))))
        .as("__arr"))
      // norms EXACT at any magnitude, in DECIMAL(38,0) only when they
      // must be: w = tf·10⁶ div df reaches 3·10⁹ (and w² wraps a long)
      // as soon as one document repeats a rare term >3000× — routine at
      // corpus scale — but the overwhelmingly common doc stays far
      // under it, so the fold branches on the doc's max weight: below
      // `safeW` (every topM-term square-sum provably fits int64) the
      // sum runs in long arithmetic and casts once; above it, the
      // decimal fold (measured ~20% on this whole query when applied
      // unconditionally — the branch confines that cost to the rare
      // overflow-regime rows q252 pins)
      .withColumn("__wmax",
        array_max(transform(col("__arr"), e => e.getField("w"))))
      .withColumn("__n2",
        when(col("__wmax") <= safeW,
          dec(aggregate(col("__arr"), lit(0L),
            (a, e) => a + e.getField("w") * e.getField("w"))))
          .otherwise(aggregate(col("__arr"), dec(lit(0L)),
            (a, e) => a + dec(e.getField("w")) * e.getField("w"))))
      .filter(col("__n2") > 0)
      .localCheckpoint()
    // residual-norm prefix: cumulative squares via a per-doc window
    // over the ≤ topM positions
    val wPos = org.apache.spark.sql.expressions.Window
      .partitionBy("__id").orderBy("pos")
      .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding, -1)
    val positions = docsArr
      .select(col("__id"), col("__n2"),
        posexplode(col("__arr")).as(Seq("pos", "e")))
      .withColumn("__rsq", col("__n2").cast("double") -
        coalesce(sum(col("e.w").cast("double") * col("e.w")).over(wPos),
          lit(0.0)))
      .select(col("__id"), col("e").getField("token").as("token"),
        col("__rsq"), col("__n2"))
    // prefix gate in double with a conservative 1e-9 relative margin
    // (same rationale as the positional filter below): the decimal
    // product __rsq·10¹² can exceed DECIMAL(38,0) for long documents
    // and a precision overflow would DROP the position — i.e. lose
    // true pairs. The margin only lengthens the prefix; verification
    // below is exact, so the result is unchanged.
    val prefixes = positions
      .filter(col("__rsq") * lit(1.0e12) >=
        lit(tPpm.toDouble * tPpm) * col("__n2").cast("double") *
          lit(1.0 - 1.0e-9))
    val full = positions.select(col("__id").as("__idf"),
      col("token"), col("__rsq").as("__rsqf"), col("__n2").as("__n2f"))
    // positional residual filter (L2AP-style): a collision at
    // positions (i, j) can be a qualifying pair's FIRST shared term
    // only if resid_x(i)·resid_y(j) ≥ t·‖x‖·‖y‖ — and every true
    // pair's first-shared-term collision satisfies it, so dropping
    // the rest is sound. Double arithmetic with a 1e-9 relative
    // margin: magnitudes can exceed DECIMAL(38,0) and the margin
    // dwarfs double rounding, so no true collision is lost
    // EXPLICIT parallelism for the candidate join: its inputs are tiny
    // (prefix positions — ~1 MB at sf0.1) so AQE coalesces the window
    // exchange to ONE partition, but the join then fans out ~500× (12.7M
    // candidate rows at sf0.1) and the single coalesced task serializes
    // candidate generation + the partial pair-distinct — measured 5.8 s
    // of a 8.4 s query in one task. Repartitioning the prefix side by
    // the join key at the session's configured shuffle parallelism
    // (pinned N, so AQE cannot re-coalesce it) spreads the fan-out; at
    // corpus scale the join needs a token exchange anyway, so this adds
    // nothing there.
    val shufflePartitions = graft.util.Parallelism.shuffleWidth(df)
    val cands = prefixes.repartition(shufflePartitions, col("token"))
      .join(full, "token")
      .filter(col("__id") =!= col("__idf"))
      .filter(col("__rsq") * col("__rsqf") *
          lit(1.0e12) >=
        lit(tPpm.toDouble * tPpm) * col("__n2").cast("double") *
          col("__n2f").cast("double") * lit(1.0 - 1.0e-9))
      .select(least(col("__id"), col("__idf")).as("id_a"),
        greatest(col("__id"), col("__idf")).as("id_b"))
      .distinct()
      // pinned width for VERIFICATION too: candidate pairs are 16
      // bytes/row, so AQE coalesces the distinct's exchange far below
      // session parallelism — but each pair then pays an O(topM) map
      // dot product, work the byte-based coalescing cannot see. The
      // (id_a, id_b)-keyed pin is planned as redundant with the
      // distinct's own exchange and collapsed, so key by id_a SALTED
      // with a bounded hash of id_b: the pin survives and a hub id_a's
      // verification spreads over pairSalt partitions instead of one
      // (a pinned exchange also opts out of AQE skew-splitting).
      // The salt spreads hub verification only while the verify legs
      // plan as broadcast joins: a sort-merge leg needs clustering on
      // id_a alone, so it adds an exchange on top of this one.
      .repartition(shufflePartitions, col("id_a"),
        pmod(xxhash64(col("id_b")), lit(graft.util.Salting.pairSalt)))
    val sideA = docsArr.select(col("__id").as("id_a"),
      col("__arr").as("__aa"), col("__wmax").as("__wma"),
      col("__n2").as("n2_a"))
    val sideB = docsArr.select(col("__id").as("id_b"),
      map_from_entries(transform(col("__arr"),
        e => struct(e.getField("token"), e.getField("w")))).as("__mb"),
      col("__wmax").as("__wmb"), col("__n2").as("n2_b"))
    cands.join(sideA, Seq("id_a")).join(sideB, Seq("id_b"))
      // same long-vs-decimal branch as the norms: both sides under
      // safeW ⇒ every cross product and the topM-sum fit int64
      .withColumn("dp",
        when(col("__wma") <= safeW && col("__wmb") <= safeW,
          dec(aggregate(col("__aa"), lit(0L),
            (a, e) => a + e.getField("w") *
              coalesce(element_at(col("__mb"), e.getField("token")),
                lit(0L)))))
          .otherwise(aggregate(col("__aa"), dec(lit(0L)),
            (a, e) => a + dec(e.getField("w")) *
              coalesce(element_at(col("__mb"), e.getField("token")),
                lit(0L)))))
      .withColumn("cosine", col("dp").cast("double") /
        (sqrt(col("n2_a").cast("double")) * sqrt(col("n2_b").cast("double"))))
      .filter(col("cosine") >= threshold)
      .select("id_a", "id_b", "cosine")
  }

  /** Gopher-style quality rules (Rae et al. 2021, "Scaling Language
    * Models: ... Gopher", §A1.1) — the standard per-document rule
    * battery real curation stacks run alongside a scalar quality score.
    * One boolean column per rule plus the conjunction:
    *
    *  - `word_count_ok`: 50 ≤ tokens ≤ 100 000
    *  - `mean_len_ok`: mean non-space chars per token in [3, 10]
    *  - `symbol_ok`: `#`/`…` symbols ≤ 0.1 per token
    *  - `bullet_ok`: ≤ 90% of lines start with a bullet
    *  - `alpha_ok`: ≥ 80% of tokens contain an alphabetic character
    *  - `stopword_ok`: ≥ 2 stopword occurrences
    *  - `gopher_pass`: all of the above
    *
    * Every ratio threshold is evaluated as an INTEGER cross-multiplied
    * comparison (`10·sym ≤ tokens`, `5·alpha ≥ 4·tokens`, ...) — no
    * division anywhere, so the flags are bit-identical across engines
    * by construction. Pure column expressions: codegen'd, zero shuffle. */
  def gopherFlags(df: DataFrame, idCol: String, textCol: String,
      stopwords: Seq[String] = LangProfiles("en")): DataFrame = {
    val rules = gopherRuleCols(col(textCol), stopwords)
    df.filter(col(textCol).isNotNull).select(
      col(idCol) +: rules.map { case (name, c) => c.as(name) }: _*)
      .withColumn("gopher_pass", rules.map(r => col(r._1)).reduce(_ && _))
  }

  /** The [[gopherFlags]] conjunction as ONE filter predicate — for
    * pipelines (the curation funnel's `gopher` stage) that only need
    * pass/fail: the codegen'd expression applies in place on the
    * corpus scan, no projection, no join, zero shuffle. NULL text
    * fails (a null document passes no rule battery). */
  def gopherPass(c: Column,
      stopwords: Seq[String] = LangProfiles("en")): Column =
    c.isNotNull && gopherRuleCols(c, stopwords).map(_._2).reduce(_ && _)

  private def gopherRuleCols(c: Column,
      stopwords: Seq[String]): Seq[(String, Column)] = {
    val toks = tokens(c)
    val n = size(toks).cast("long")
    val charsNoSpace = length(regexp_replace(c, "\\s", "")).cast("long")
    val symbols = size(regexp_extract_all(c, lit("[#…]"), lit(0))).cast("long")
    val lines = split(c, "\n")
    val nLines = size(lines).cast("long")
    val bullets = size(filter(lines, l => l.rlike("^\\s*[-*•]"))).cast("long")
    val alphaToks = size(filter(toks, t => t.rlike("[A-Za-z]"))).cast("long")
    val sw = stopwordCount(c, stopwords).cast("long")
    Seq(
      "word_count_ok" -> (n >= 50L && n <= 100000L),
      "mean_len_ok" -> (charsNoSpace >= n * 3L && charsNoSpace <= n * 10L),
      "symbol_ok" -> (symbols * 10L <= n),
      "bullet_ok" -> (bullets * 10L <= nLines * 9L),
      "alpha_ok" -> (alphaToks * 5L >= n * 4L),
      "stopword_ok" -> (sw >= 2L))
  }

  /** Corpus-typicality score — the relational stand-in for LM-based
    * quality scoring: each document scores the MEAN CORPUS FREQUENCY of
    * its token bigrams (positional, not distinct — a doc repeating a
    * common phrase stays typical, one full of never-seen-elsewhere
    * bigrams scores low ≈ high LM perplexity). Output:
    * `(idCol, n_bigrams, cf_sum, typicality)` with `typicality =
    * cf_sum / n_bigrams` — one IEEE division of exact counts, so the
    * score is cross-engine reproducible where a log-prob LM score
    * would not be. Docs with one token fall back to the whole-token
    * string ([[Dedup.shingleHashes]] k=2 semantics).
    *
    * Scale shape: the positional bigram projection materializes once
    * (localCheckpoint) and feeds the corpus-frequency rollup and the
    * scored join — both keyed on the 8-byte bigram hash (the bigram
    * table is corpus-sized: shuffle join, not broadcast); the per-doc
    * rollup aggregates with map-side partials. */
  def typicalityScores(df: DataFrame, idCol: String, textCol: String)
      : DataFrame = {
    val bi = df.filter(col(textCol).isNotNull)
      .select(col(idCol).as("__id"),
        explode(Dedup.shingleHashes(col(textCol), 2)).as("__bg"))
      .localCheckpoint() // read twice: corpus counts + the scored join
    val cf = bi.groupBy("__bg").agg(count(lit(1)).as("__cf"))
    bi.join(cf, "__bg")
      .groupBy(col("__id").as(idCol))
      .agg(count(lit(1)).as("n_bigrams"), sum("__cf").as("cf_sum"))
      .withColumn("typicality",
        col("cf_sum").cast("double") / col("n_bigrams").cast("double"))
  }

  /** Add-one-smoothed bigram language-model cross-entropy per document
    * — the CCNet-style (Wenzek et al. 2020) "perplexity filter" with
    * the corpus itself as the LM: docs of improbable token sequences
    * (boilerplate soup, scrambled scrapes) score high, fluent docs
    * low. For each positional bigram (w₁,w₂):
    *
    *   nll(w₁,w₂) = ln(c(w₁·) + V) − ln(c(w₁,w₂) + 1)
    *
    * (add-1 conditional P(w₂|w₁) = (c₁₂+1)/(c₁+V); V = corpus distinct
    * tokens, c(w₁·) = bigram-prefix occurrences). Output: `(idCol,
    * n_bigrams, nll_fp, cross_entropy)` for docs with ≥ 2 tokens,
    * where `nll_fp` sums `L(c₁+V) − L(c₁₂+1)` with the q72 fixed-point
    * trick — `L(n) = floor(ln(n)·10⁶)`, every ln on an INTEGER
    * argument — so the per-doc sum is exact 64-bit arithmetic in any
    * association order, and `cross_entropy = nll_fp / (10⁶ ·
    * n_bigrams)` (nats/bigram, one IEEE division).
    *
    * Scale shape: the positional bigram stream materializes once
    * (localCheckpoint) and feeds the pair rollup, the prefix rollup,
    * and the scored join — all keyed on token strings, hot pairs die
    * in map-side partials; the vocab count is a 1×1 two-phase
    * countDistinct broadcast back via cross join. Nothing
    * corpus-sized reaches the driver. */
  def bigramLmScores(df: DataFrame, idCol: String, textCol: String)
      : DataFrame = {
    val toks = df.filter(col(textCol).isNotNull)
      .select(col(idCol).as("__id"), tokens(col(textCol)).as("__toks"))
    val bi = toks.filter(size(col("__toks")) >= 2)
      .select(col("__id"), explode(transform(
        sequence(lit(1), size(col("__toks")) - 1),
        i => struct(element_at(col("__toks"), i).as("w1"),
          element_at(col("__toks"), i + 1).as("w2")))).as("__bg"))
      .select(col("__id"), col("__bg.w1").as("__w1"), col("__bg.w2").as("__w2"))
      .localCheckpoint() // read 3×: pair rollup, prefix rollup, scored join
    val c12 = bi.groupBy("__w1", "__w2").agg(count(lit(1)).as("__c12"))
    val c1 = bi.groupBy("__w1").agg(count(lit(1)).as("__c1"))
    val vocab = toks.select(explode(col("__toks")).as("__t"))
      .agg(countDistinct(col("__t")).as("__v"))
    bi.join(c12, Seq("__w1", "__w2")).join(c1, Seq("__w1"))
      .crossJoin(broadcast(vocab))
      .select(col("__id"),
        (lfp(col("__c1") + col("__v")) - lfp(col("__c12") + 1)).as("__nl"))
      .groupBy(col("__id").as(idCol))
      .agg(count(lit(1)).as("n_bigrams"), sum("__nl").as("nll_fp"))
      .withColumn("cross_entropy",
        col("nll_fp").cast("double") / (lit(1000000.0) * col("n_bigrams")))
  }

  /** Bigram-LM model SNAPSHOT — the broadcastable table that lets
    * [[bigramLmScoresAgainstModel]] score documents the corpus has
    * never seen (the stream-side half of the CCNet filter): one row
    * per observed bigram `(w1, w2, c12, c1, vocab)` with the prefix
    * count and vocab denormalized in. Built from a REFERENCE corpus —
    * in production the bounded clean corpus the filter calibrates
    * against (CCNet trains its LM on Wikipedia, not the crawl), which
    * is what keeps the snapshot broadcast-sized regardless of how much
    * raw data streams past it. Write it to parquet and hand the path
    * to the streaming CLI; scoring joins never touch this builder
    * again. */
  def bigramLmModel(df: DataFrame, textCol: String): DataFrame = {
    val toks = df.filter(col(textCol).isNotNull)
      .select(tokens(col(textCol)).as("__toks"))
    val bi = toks.filter(size(col("__toks")) >= 2)
      .select(explode(transform(
        sequence(lit(1), size(col("__toks")) - 1),
        i => struct(element_at(col("__toks"), i).as("w1"),
          element_at(col("__toks"), i + 1).as("w2")))).as("__bg"))
      .select(col("__bg.w1").as("w1"), col("__bg.w2").as("w2"))
      .localCheckpoint() // read twice: pair rollup + prefix rollup
    val c12 = bi.groupBy("w1", "w2").agg(count(lit(1)).as("c12"))
    val c1 = bi.groupBy("w1").agg(count(lit(1)).as("c1"))
    val vocab = toks.select(explode(col("__toks")).as("__t"))
      .agg(countDistinct(col("__t")).as("vocab"))
    c12.join(c1, Seq("w1")).crossJoin(broadcast(vocab))
  }

  /** Score documents against a PREBUILT [[bigramLmModel]] snapshot —
    * the ingest-time CCNet perplexity gate: arriving docs are scored
    * per micro-batch against the broadcast model instead of against
    * themselves (a micro-batch is not a corpus; self-scoring it would
    * rate everything typical of itself). Same fixed-point arithmetic
    * and output schema as [[bigramLmScores]] — `(idCol, n_bigrams,
    * nll_fp, cross_entropy)` — and add-1 smoothing covers the unseen
    * cases exactly: an unseen pair scores `L(c1+V) − L(1)` and an
    * unseen prefix `L(V) − L(1)` (c = 0 both times), so scoring the
    * model's OWN corpus reproduces [[bigramLmScores]] bit for bit
    * (spec-pinned). Scale shape: one projection of the batch into
    * positional bigrams, two broadcast left joins (pairs, prefixes),
    * one per-doc rollup — no corpus-sized shuffle, which is what makes
    * it safe inside a foreachBatch. */
  def bigramLmScoresAgainstModel(df: DataFrame, idCol: String,
      textCol: String, model: DataFrame): DataFrame = {
    val toks = df.filter(col(textCol).isNotNull)
      .select(col(idCol).as("__id"), tokens(col(textCol)).as("__toks"))
    val bi = toks.filter(size(col("__toks")) >= 2)
      .select(col("__id"), explode(transform(
        sequence(lit(1), size(col("__toks")) - 1),
        i => struct(element_at(col("__toks"), i).as("w1"),
          element_at(col("__toks"), i + 1).as("w2")))).as("__bg"))
      .select(col("__id"), col("__bg.w1").as("w1"), col("__bg.w2").as("w2"))
    val pairs = model.select(col("w1"), col("w2"), col("c12"))
    val prefixes = model.select(col("w1"), col("c1")).distinct()
    val vocab = model.select(max(col("vocab")).as("__v"))
    bi.join(broadcast(pairs), Seq("w1", "w2"), "left")
      .join(broadcast(prefixes), Seq("w1"), "left")
      .crossJoin(broadcast(vocab))
      .select(col("__id"),
        (lfp(coalesce(col("c1"), lit(0L)) + col("__v")) -
          lfp(coalesce(col("c12"), lit(0L)) + 1)).as("__nl"))
      .groupBy(col("__id").as(idCol))
      .agg(count(lit(1)).as("n_bigrams"), sum("__nl").as("nll_fp"))
      .withColumn("cross_entropy",
        col("nll_fp").cast("double") / (lit(1000000.0) * col("n_bigrams")))
  }

  /** DSIR importance weights (Xie et al. 2023, "Data Selection for
    * Language Models via Importance Resampling"): score every raw
    * document by how target-domain-like its hashed n-gram profile is,
    *
    *   w(doc) = Σ_f c_doc(f) · [ln p_target(f) − ln q_raw(f)]
    *
    * over hashed bigram features f (bucketed to `buckets` bins — DSIR's
    * memory bound), with add-1 smoothing: p(f) = (ct(f)+1)/(N+buckets).
    * Docs that look like the target sample score high; resampling the
    * raw corpus ∝ exp(w) yields the target-shaped training set.
    *
    * Cross-engine exactness: every ln runs on an INTEGER argument and is
    * immediately fixed-pointed — `L(n) = floor(ln(n)·10⁶)` as a long —
    * so the aggregation is exact 64-bit integer arithmetic in any
    * association order (float sums would drift; the only float ops are
    * the per-distinct-integer `ln` and the final display division).
    * Output: `(idCol, n_feats, dsir_weight_fp, dsir_weight)` with
    * `dsir_weight = dsir_weight_fp / 10⁶` (one IEEE division).
    *
    * Scale shape: the feature stream materializes once
    * (localCheckpoint) and feeds the two count rollups and the per-doc
    * pre-agg — all keyed on the bucket id, so hot features die in
    * map-side partials. The per-feature log-ratio table is at most
    * `buckets` rows (broadcast), the corpus-total table is 1×1
    * (broadcast); nothing corpus-sized is ever collected or
    * broadcast. The target side is a SAMPLE by design (DSIR's own
    * setup) — small relative to raw, but handled by the same rollup
    * shape either way. */
  def importanceWeights(raw: DataFrame, target: DataFrame, idCol: String,
      textCol: String, buckets: Int = 4096): DataFrame = {
    require(buckets > 0, s"buckets must be positive, got $buckets")
    val rawFeats = raw.filter(col(textCol).isNotNull)
      .select(col(idCol).as("__id"),
        explode(polyShingleHashes(col(textCol), 2)).as("__h"))
      .withColumn("__f", col("__h") % buckets).drop("__h")
      .localCheckpoint() // read twice: raw feature counts + per-doc agg
    val tgtCt = target.filter(col(textCol).isNotNull)
      .select(explode(polyShingleHashes(col(textCol), 2)).as("__h"))
      .select((col("__h") % buckets).as("__f"))
      .groupBy("__f").agg(count(lit(1)).as("__ct"))
    val rawCt = rawFeats.groupBy("__f").agg(count(lit(1)).as("__cr"))
    // per-feature fixed-point log-ratio ln((ct_t+1)/(ct_r+1)); absent
    // target features smooth to ct_t = 0. <= `buckets` rows → broadcast.
    val featLog = rawCt.join(tgtCt, Seq("__f"), "left")
      .select(col("__f"),
        (lfp(coalesce(col("__ct"), lit(0L)) + lit(1L)) -
          lfp(col("__cr") + lit(1L))).as("__lr"))
    // the normalizer ln((Nr+B)/(Nt+B)) applies once per doc feature —
    // two 1-row aggregates, broadcast via the 1x1 cross join
    val totals = rawCt.agg(sum("__cr").as("__nr"))
      .crossJoin(tgtCt.agg(coalesce(sum("__ct"), lit(0L)).as("__nt")))
      .select((lfp(col("__nr") + lit(buckets.toLong)) -
        lfp(col("__nt") + lit(buckets.toLong))).as("__lnorm"))
    rawFeats.groupBy("__id", "__f").agg(count(lit(1)).as("__c"))
      .join(broadcast(featLog), "__f")
      .groupBy("__id")
      .agg(sum("__c").as("n_feats"),
        sum(col("__c") * col("__lr")).as("__s"))
      .crossJoin(broadcast(totals))
      .select(col("__id").as(idCol), col("n_feats"),
        (col("__s") + col("n_feats") * col("__lnorm")).as("dsir_weight_fp"))
      .withColumn("dsir_weight",
        col("dsir_weight_fp").cast("double") / lit(1000000.0))
  }

  /** Per-stratum corpus datasheet — the per-source rollup a curation
    * run publishes alongside its corpus: document count, total tokens,
    * mean quality, and the exact (lower) median document length per
    * `stratumCol` value. Mean quality sums the EXACT integer ppm
    * numerators behind [[qualityScore]] and divides once (cross-engine
    * bit parity — summing doubles would drift with association order);
    * the median is rank `(n+1) div 2` under the deterministic
    * `(n_tokens, id)` order.
    *
    * Scale shape: the scored projection materializes once and feeds
    * both the rollup (hash agg, map-side partials) and the median pick
    * (a window partitioned BY SOURCE — parallel across strata; a
    * single colossal stratum pays one sorted partition, the documented
    * trade for an exact median — `approx_percentile` is the at-scale
    * relaxation when exactness stops mattering). The rollup side of
    * the median join is strata-sized — tiny — and broadcasts. */
  def corpusDatasheet(df: DataFrame, idCol: String, textCol: String,
      stratumCol: String, stopwords: Seq[String] = LangProfiles("en"))
      : DataFrame = {
    val m = df.filter(col(textCol).isNotNull)
      .select(col(stratumCol).as("__stratum"), col(idCol).as("__id"),
        tokenCount(col(textCol)).cast("long").as("n_tokens"),
        // the ppm numerator is integral by construction; round() only
        // undoes the /1e6's binary rounding (exact for ppm < 2^52)
        round(qualityScore(col(textCol), stopwords) * 1000000)
          .cast("long").as("__qppm"))
      .localCheckpoint() // read twice: rollup + median pick
    val agg = m.groupBy("__stratum").agg(
      count(lit(1)).as("n_docs"),
      sum("n_tokens").as("tokens"),
      sum("__qppm").as("__qsum"))
      // strata-sized (tiny) but consumed twice — by the median filter
      // and the final output join; materializing it saves a second full
      // aggregation pass over the corpus-sized checkpoint
      .localCheckpoint()
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("__stratum").orderBy(col("n_tokens"), col("__id"))
    val med = m.withColumn("__rn", row_number().over(w))
      .join(broadcast(agg.select(col("__stratum"), col("n_docs"))), "__stratum")
      .filter(col("__rn") === floor((col("n_docs") + 1) / 2))
      .select(col("__stratum"), col("n_tokens").as("median_tokens"))
    agg
      .withColumn("mean_quality",
        col("__qsum").cast("double") /
          (col("n_docs") * 1000000L).cast("double"))
      .drop("__qsum")
      .join(med, "__stratum")
      .withColumnRenamed("__stratum", stratumCol)
  }

  /** Fixed-length token windows with stride — context-window chunking:
    * doc `[t0..tn)` yields a chunk at every `start` in
    * `{0, stride, 2*stride, ...} ∩ [0, n)`, each covering
    * `[start, min(start + window, n))`. With `stride < window`
    * consecutive chunks overlap by `window - stride` tokens (the
    * standard sliding-context regime); the final chunk may be shorter
    * than `window`. Output: `(idCol, chunk_id, start, n_tokens, chunk)`
    * with `chunk_id = start / stride`.
    *
    * Scale shape: filter → project → one explode, all codegen'd, ZERO
    * shuffle — chunking is embarrassingly parallel per document, and
    * the plan keeps it that way (no window function, no join; the
    * token array materializes once per row and every chunk slices it).
    * Null-text docs carry no tokens and yield no chunks. */
  def chunkWindows(df: DataFrame, idCol: String, textCol: String,
      window: Int, stride: Int): DataFrame = {
    require(window >= 1, s"window must be >= 1, got $window")
    require(stride >= 1 && stride <= window,
      s"stride must be in [1, window], got $stride")
    val n = size(col("__toks"))
    val len = least(lit(window).cast("long"), n.cast("long") - col("start"))
    df.filter(col(textCol).isNotNull)
      .select(col(idCol), tokens(col(textCol)).as("__toks"))
      .withColumn("start",
        explode(sequence(lit(0L), n.cast("long") - 1L, lit(stride.toLong))))
      .select(col(idCol),
        (col("start") / stride).cast("long").as("chunk_id"),
        col("start"),
        len.as("n_tokens"),
        array_join(slice(col("__toks"), (col("start") + 1L).cast("int"),
          len.cast("int")), " ").as("chunk"))
  }

  /** Exact corpus heavy hitters — every token whose frequency is at
    * least `supportPpm` parts-per-million of the token stream, with its
    * EXACT count. Two passes, neither of which shuffles the vocabulary
    * tail (the thing a plain `groupBy(token)` cannot avoid — at 100 TB
    * the Zipf tail is billions of distinct near-singleton tokens and
    * dominates that shuffle):
    *
    *  1. per-partition Misra-Gries sketches with `m = ⌈10⁶/supportPpm⌉`
    *     counters (driver-bounded: each partition emits ≤ m candidate
    *     tokens). MG guarantees any token with partition-local count
    *     > nₚ/(m+1) survives its partition's sketch, and a token with
    *     global count ≥ N·s must have local count ≥ nₚ·s ≥ nₚ/(m+1) in
    *     at least one partition (pigeonhole) — so the candidate union
    *     is a SUPERSET of the true answer; no false negatives.
    *  2. exact recount of candidates only: a broadcast semi-join
    *     filters the token stream map-side, so the counting hash-agg
    *     shuffles candidate tokens only — partitions·m rows, not the
    *     vocabulary.
    *
    * The ppm threshold compares in exact integer cross-multiplication
    * (`cnt·10⁶ ≥ supportPpm·N`), so results are engine-exact. */
  def heavyHitters(df: DataFrame, textCol: String,
      supportPpm: Long): DataFrame = {
    require(supportPpm > 0 && supportPpm <= 1000000L,
      s"supportPpm in (0, 1e6], got $supportPpm")
    val spark = df.sparkSession
    import spark.implicits._
    val m = (1000000L / supportPpm).toInt + 1
    val toks = df.filter(col(textCol).isNotNull)
      .select(explode(tokens(col(textCol))).as("token"))
      .filter(col("token") =!= "")
    // pass 1: MG candidates + per-partition stream length (null-token
    // marker rows carry the lengths; their sum is the exact N)
    val sketch = toks.as[String].mapPartitions { it =>
      val counts = scala.collection.mutable.HashMap.empty[String, Long]
      var n = 0L
      it.foreach { t =>
        n += 1
        counts.get(t) match {
          case Some(c) => counts.update(t, c + 1)
          case None if counts.size < m => counts.update(t, 1L)
          case None =>
            val dead = counts.iterator.flatMap { case (k, c) =>
              if (c == 1L) Some(k) else { counts.update(k, c - 1); None }
            }.toList
            dead.foreach(counts.remove)
        }
      }
      counts.keysIterator.map(t => (t, -1L)) ++ Iterator(((null: String), n))
    }.toDF("token", "n")
      .localCheckpoint() // read twice: total + candidates
    val total = sketch.filter(col("token").isNull)
      .agg(sum("n").as("__total"))
    val candidates = sketch.filter(col("token").isNotNull)
      .select("token").distinct()
    // pass 2: exact recount, candidates only
    toks.join(broadcast(candidates), Seq("token"), "left_semi")
      .groupBy("token").agg(count(lit(1)).as("cnt"))
      .crossJoin(broadcast(total))
      .filter(col("cnt") * lit(1000000L) >= lit(supportPpm) * col("__total"))
      // exact floor division (q110's subtract-the-remainder pattern):
      // a bare double division could round across an integer boundary
      .select(col("token"), col("cnt"),
        fdiv(col("cnt") * lit(1000000L), col("__total")).as("freq_ppm"))
      .orderBy(col("cnt").desc, col("token"))
  }

  /** Deterministic stratified uniform sample — `k` documents per
    * stratum, chosen by md5 of the document id: reproducible across
    * runs, engines, and partitionings (the property `rand()` sampling
    * can't give an oracle), and uniform because the hash is
    * equidistributed over ids. The per-stratum top-k rides Spark's
    * WindowGroupLimit: each task keeps at most k rows per stratum
    * BEFORE the shuffle, so the exchange carries strata·k rows per
    * partition, never the corpus — the training-data subsampling
    * primitive ("give me 10k docs per domain") at any corpus size. */
  def stratifiedSample(df: DataFrame, idCol: String, strataCol: String,
      k: Int): DataFrame = {
    require(k > 0, s"k must be positive, got $k")
    val h = md5(col(idCol).cast("string").cast("binary"))
    val w = Window.partitionBy(col(strataCol)).orderBy(h, col(idCol))
    df.select(col(strataCol), col(idCol), h.as("__h"))
      .withColumn("sample_rank", row_number().over(w))
      .filter(col("sample_rank") <= k)
      .drop("__h")
      .orderBy(col(strataCol), col("sample_rank"))
  }

  /** Corpus collocations — adjacent-bigram PMI in the q72/q108
    * fixed-point-ln frame: `pmi_fp = L(c₁₂·N) − L(c₁·c₂)` with
    * `L(n) = ⌊ln(n)·10⁶⌋` on INTEGER arguments (both engines take ln
    * of the identical double, so scores are bit-exact), where c₁/c₂
    * are the bigram-position marginals and N the total bigram count.
    * The phrase-vocabulary induction step (which adjacent pairs behave
    * as units — the signal a tokenizer or phrase-table build reads).
    *
    * Scale shape: one pass builds the (w₁,w₂) count table; the
    * marginals derive from THAT table (vocab-sized input), never from
    * a second corpus pass; N is a 1-row broadcast; `minCount` prunes
    * the singleton tail before the marginal joins; top-k rides
    * TakeOrderedAndProject (never a global sort). */
  def collocations(df: DataFrame, textCol: String, minCount: Long,
      topK: Int): DataFrame = {
    require(minCount >= 1 && topK > 0, s"bad args: $minCount, $topK")
    val toksD = df.filter(col(textCol).isNotNull)
      .select(tokens(col(textCol)).as("__toks"))
      .filter(size(col("__toks")) >= 2)
    val bi = toksD.select(explode(transform(
        sequence(lit(1), size(col("__toks")) - 1),
        i => struct(element_at(col("__toks"), i).as("w1"),
          element_at(col("__toks"), i + 1).as("w2")))).as("__bg"))
      .select(col("__bg.w1").as("w1"), col("__bg.w2").as("w2"))
    val c12 = bi.groupBy("w1", "w2").agg(count(lit(1)).as("pair_count"))
      .localCheckpoint() // read 4×: marginals ×2, N, and the scored join
    val c1 = c12.groupBy("w1").agg(sum("pair_count").as("__c1"))
    val c2 = c12.groupBy("w2").agg(sum("pair_count").as("__c2"))
    val n = c12.agg(sum("pair_count").as("__n"))
    c12.filter(col("pair_count") >= minCount)
      .join(c1, Seq("w1")).join(c2, Seq("w2"))
      .crossJoin(broadcast(n))
      .select(col("w1"), col("w2"), col("pair_count"),
        (lfp(col("pair_count") * col("__n")) - lfp(col("__c1") * col("__c2")))
          .as("pmi_fp"))
      .orderBy(col("pmi_fp").desc, col("w1"), col("w2"))
      .limit(topK)
  }

  /** Per-source quantile normalization of the quality score: within
    * each source, a document's `pct_ppm` is its rank position scaled to
    * [0, 10⁶] — `(rank − 1) · 10⁶ / (n − 1)` (single-doc sources pin to
    * 10⁶). Raw quality is NOT comparable across sources (a mid-tier web
    * page outscores a top-tier forum post on absolute heuristics);
    * rank-normalizing per source first makes one global threshold mean
    * the same thing everywhere — the cross-source calibration step
    * before a corpus-wide quality cut. `rank()` (not row_number) keeps
    * ties at the same percentile, so equal-quality docs are never split
    * by an arbitrary id order; all arithmetic is exact integer.
    *
    * Scale shape: one shuffle on source, per-source in-partition sort
    * on the integer score — the same per-key window cost as
    * [[perDomainCap]]; no global sort, no float ranks. Skew note: a
    * source holding most of the corpus makes one hot partition — range
    * -repartition that source's rows first if a single source exceeds
    * executor memory (same guidance as the domain cap). */
  def quantileNormalizeQuality(df: DataFrame, idCol: String,
      textCol: String, sourceCol: String,
      stopwords: Seq[String] = LangProfiles("en")): DataFrame = {
    val scored = df.filter(col(textCol).isNotNull)
      .select(col(idCol), col(sourceCol),
        qualityScoreE6(col(textCol), stopwords).as("quality_e6"))
    val w = Window.partitionBy(sourceCol).orderBy(col("quality_e6"))
    val n = Window.partitionBy(sourceCol)
    scored
      .withColumn("__rk", rank().over(w).cast("long"))
      .withColumn("__n", count(lit(1)).over(n))
      .select(col(idCol), col(sourceCol), col("quality_e6"), {
        val num = (col("__rk") - 1L) * lit(1000000L)
        val den = greatest(col("__n") - 1L, lit(1L))
        when(col("__n") === 1L, lit(1000000L))
          .otherwise(fdiv(num, den))
          .as("pct_ppm")
      })
  }

  /** Per-source quality thresholds at a percentile cut — the
    * CALIBRATION snapshot for stream-side percentile gating: for each
    * source, the smallest `quality_e6` whose within-source percentile
    * is ≥ `pctPpm` (i.e. [[quantileNormalizeQuality]]'s gate value,
    * frozen as a table). A streaming ingest cannot rank an arriving
    * doc against the whole corpus, so it gates against this broadcast
    * snapshot instead — the same batch-calibrate → stream-apply split
    * as the bigram-LM perplexity gate. Source-count-sized output. */
  def qualityPctThresholds(df: DataFrame, idCol: String, textCol: String,
      sourceCol: String, pctPpm: Long,
      stopwords: Seq[String] = LangProfiles("en")): DataFrame = {
    require(pctPpm >= 0L && pctPpm <= 1000000L,
      s"pctPpm must be in [0, 1000000], got $pctPpm")
    quantileNormalizeQuality(df, idCol, textCol, sourceCol, stopwords)
      .filter(col("pct_ppm") >= pctPpm)
      .groupBy(sourceCol)
      .agg(min("quality_e6").as("min_quality_e6"))
  }

  /** Character-level Shannon entropy per document in fixed-point
    * micro-nats: `H = ln N − (Σ c·ln c)/N` over single-character
    * counts. The cheap degenerate-text screen (key-mash, base64 blobs,
    * single-char padding score LOW; natural text sits near its
    * language's ~3.0-nat character entropy) that runs before any
    * model-based quality pass. Exact integer contract: `ln` only ever
    * takes INTEGER counts (`L(n) = ⌊ln(n)·10⁶⌋`, the q72/q108 trick),
    * the weighted sum is a 64-bit integer exact in any association
    * order, and the division is one floor division by N — bit-identical
    * across engines and partitionings.
    *
    * Scale shape: explode to single chars, hash-agg on (doc, char) —
    * alphabet-bounded rows per doc after map-side partials — then a
    * per-doc rollup. Linear in corpus bytes, no joins. */
  def charEntropy(df: DataFrame, idCol: String, textCol: String): DataFrame =
    df.filter(col(textCol).isNotNull && length(col(textCol)) > 0)
      .select(col(idCol),
        graft.functions.EntropyExpressions.charEntropy(col(textCol)).as("__e"))
      .select(col(idCol), col("__e").getField("n_chars_counted")
        .as("n_chars_counted"),
        col("__e").getField("entropy_fp").as("entropy_fp"))

  /** The original explode→hash-agg SQL shape of [[charEntropy]], kept as
    * the equivalence reference the native kernel is pinned against
    * (TextSpec) — one row per corpus CHARACTER through two exchanges,
    * which is why the per-row fused expression replaced it in the query
    * path. */
  private[text] def charEntropySqlShape(df: DataFrame, idCol: String,
      textCol: String): DataFrame = {
    df.filter(col(textCol).isNotNull && length(col(textCol)) > 0)
      .select(col(idCol),
        explode(regexp_extract_all(col(textCol), lit("[\\s\\S]"), lit(0)))
          .as("__ch"))
      .groupBy(col(idCol), col("__ch"))
      .agg(count(lit(1)).as("__c"))
      .groupBy(idCol)
      .agg(sum("__c").as("__n"),
        sum(col("__c") * lfp(col("__c"))).as("__wsum"))
      .select(col(idCol), col("__n").as("n_chars_counted"), {
        val cross = lfp(col("__n")) * col("__n") - col("__wsum")
        fdiv(cross, col("__n")).as("entropy_fp")
      })
  }

  /** Gini concentration of token mass across sources — the one-number
    * diversity answer to "is this corpus actually balanced, or is it
    * 90% one crawl?" for the datasheet ([[corpusDatasheet]] reports
    * per-source rows; this is the roll-up). Exact integer formula on
    * mass-ascending source ranks i = 1..n:
    * `gini_ppm = ⌊(2·Σ i·xᵢ − (n+1)·S) · 10⁶ / (n·S)⌋`, S = Σ xᵢ —
    * 0 = perfectly uniform, → 10⁶·(n−1)/n as one source dominates.
    *
    * Scale shape: the corpus collapses to ONE row per source first
    * (map-side partials); the rank window and final fold run on that
    * source-count-sized table — a driver-safe handful of rows at any
    * corpus size, same posture as [[corpusMix]]. */
  def sourceTokenGini(df: DataFrame, textCol: String,
      sourceCol: String): DataFrame = {
    val bySource = df.filter(col(textCol).isNotNull)
      .groupBy(sourceCol)
      .agg(sum(tokenCount(col(textCol)).cast("long")).as("__x"))
    // source-count-sized table: the single-partition window is the
    // point (global rank over ≤ thousands of sources), not an accident
    val w = Window.orderBy(col("__x"), col(sourceCol))
    // DECIMAL(38,0) throughout the fold: total_tokens·10⁶ passes 2^63
    // at ~10¹³ corpus tokens (exactly the 100-TB regime)
    bySource.withColumn("__i", row_number().over(w).cast("long"))
      .agg(count(lit(1)).as("n_sources"),
        sum("__x").as("total_tokens"),
        sum(dec(col("__i")) * dec(col("__x"))).as("__ix"))
      .select(col("n_sources"), col("total_tokens"), {
        val num = (dec(lit(2L)) * col("__ix") -
          dec(col("n_sources") + 1L) * dec(col("total_tokens"))) *
          dec(lit(1000000L))
        val den = dec(col("n_sources")) * dec(col("total_tokens"))
        fdiv(num, den).as("gini_ppm")
      })
  }

  /** Vocabulary drift between two corpus snapshots: per-token counts
    * and exact integer ppm rates in each side, ranked by absolute ppm
    * delta — the data-drift monitor a pipeline runs between crawls
    * (new jargon and template changes surface at the top; a stable
    * distribution reports near-zero deltas). `minCount` (summed across
    * both sides) floors out the noise tail before ranking; rates are
    * `⌊c·10⁶/n⌋` floor divisions of integer counts — exact, bounded by
    * 10⁶ at ANY corpus size (no overflow regime, unlike a χ² numerator
    * which squares count differences past any fixed-width integer).
    *
    * Scale shape: each side collapses to its token-count table with
    * map-side partials (vocabulary-sized, Zipf-hot tokens die in the
    * partials), the two tables full-outer join on token, and top-k is
    * TakeOrderedAndProject — never a global sort. */
  def termDrift(a: DataFrame, b: DataFrame, textCol: String,
      minCount: Long = 1L, topK: Int = 100): DataFrame = {
    require(topK >= 1, s"topK must be >= 1, got $topK")
    def sideCounts(df: DataFrame, cnt: String): DataFrame =
      df.filter(col(textCol).isNotNull)
        .select(explode(tokens(col(textCol))).as("token"))
        .filter(col("token") =!= "")
        .groupBy("token").agg(count(lit(1)).as(cnt))
    def total(df: DataFrame, cnt: String, tot: String): DataFrame =
      broadcast(df.agg(sum(cnt).as(tot)))
    val ca = sideCounts(a, "__ca")
    val cb = sideCounts(b, "__cb")
    def ppm(c: Column, n: Column): Column = fdiv(c * lit(1000000L), n)
    ca.join(cb, Seq("token"), "full_outer")
      .na.fill(0L, Seq("__ca", "__cb"))
      .filter(col("__ca") + col("__cb") >= minCount)
      .crossJoin(total(ca, "__ca", "__na"))
      .crossJoin(total(cb, "__cb", "__nb"))
      .select(col("token"),
        col("__ca").as("count_a"), col("__cb").as("count_b"),
        ppm(col("__ca"), col("__na")).as("ppm_a"),
        ppm(col("__cb"), col("__nb")).as("ppm_b"))
      .withColumn("delta_ppm", abs(col("ppm_a") - col("ppm_b")))
      .orderBy(col("delta_ppm").desc, col("token"))
      .limit(topK)
  }

  /** Full per-document stats projection used by the stats query. */
  def stats(df: DataFrame, textCol: String, idCol: String): DataFrame = {
    val c = col(textCol)
    df.select(
      col(idCol),
      tokenCount(c).cast("long").as("n_tokens"),
      charCount(c).cast("long").as("n_chars"),
      punctCount(c).cast("long").as("n_punct"),
      round(punctRatio(c), 6).as("punct_ratio"),
      round(avgTokenLength(c), 6).as("avg_token_len"),
      stopwordCount(c, LangProfiles("en")).cast("long").as("en_stopwords"),
      fingerprint(c).as("fingerprint"))
  }

  /** Zipf rank–frequency slope of the corpus token distribution — the
    * one-number naturalness check on a corpus' vocabulary (natural
    * language sits near −1; template/boilerplate-heavy or synthetic
    * corpora drift off it; the classic pre-training datasheet stat).
    * Least-squares fit of `L(freq)` on `L(rank)` over the top-`topK`
    * head in the `L(n) = ⌊ln(n)·10⁶⌋` fixed-point frame (the
    * q108/q117/q131 integer-ln trick — ln only ever takes INTEGER
    * ranks/counts, so both engines agree bit-for-bit); the slope is one
    * floor division of DECIMAL(38,0) cross-products, negative-safe via
    * the subtract-nonnegative-remainder idiom. NULL when the head has
    * fewer than two tokens (no regression exists — the [[q9
    * rankQuantiles]] no-evidence rule).
    *
    * Scale shape: token counts are one explode + hash agg (map-side
    * partials over the Zipf tail), the head selection is
    * TakeOrderedAndProject (k·partitions shuffle rows), and the rank
    * window + fold run over the k-row head — the deliberately-bounded
    * single-partition window, like q142's 9-row digit table. */
  def zipfSlope(df: DataFrame, idCol: String, textCol: String,
      topK: Int = 1000): DataFrame = {
    require(topK >= 2, s"topK must be >= 2, got $topK")
    val head = df.filter(col(textCol).isNotNull)
      .select(explode(tokens(col(textCol))).as("__tok"))
      .filter(col("__tok") =!= "")
      .groupBy("__tok").agg(count(lit(1)).as("__f"))
      .orderBy(col("__f").desc, col("__tok")).limit(topK)
    val w = Window.orderBy(col("__f").desc, col("__tok"))
    head
      .withColumn("__r", row_number().over(w))
      .select(lfp(col("__r")).as("__x"), lfp(col("__f")).as("__y"))
      .agg(count(lit(1)).as("__n"),
        sum(dec(col("__x"))).as("__sx"), sum(dec(col("__y"))).as("__sy"),
        sum(dec(col("__x")) * dec(col("__y"))).as("__sxy"),
        sum(dec(col("__x")) * dec(col("__x"))).as("__sxx"))
      .select(col("__n").as("n_tokens"), {
        val den = dec(col("__n")) * col("__sxx") - col("__sx") * col("__sx")
        val num = (dec(col("__n")) * col("__sxy") -
          col("__sx") * col("__sy")) * 1000000
        when(den === 0, lit(null).cast("long"))
          .otherwise(fdiv(num, den)).as("slope_ppm")
      })
  }

  /** Per-source n-gram diversity (type-token ratio over token
    * n-grams): total n-gram occurrences, distinct n-grams, and
    * `ttr_ppm = ⌊distinct·10⁶ / total⌋` — the corpus-level
    * self-repetition signal (templated/boilerplate-heavy sources score
    * low even when no single document flags on per-doc repetition
    * q51). Documents shorter than `n` tokens contribute nothing.
    * Output: `(source, total_ngrams, distinct_ngrams, ttr_ppm)`.
    *
    * Scale shape: word-count on (source, gram) keys — hot grams
    * collapse in map-side partials BEFORE the shuffle; the per-source
    * rollup is source-vocabulary-bounded. Grams materialize from the
    * token array by index arithmetic on the scan (no self-join of
    * token positions). */
  def ngramDiversity(df: DataFrame, srcCol: String, textCol: String,
      n: Int = 3): DataFrame = {
    require(n >= 1, s"n must be >= 1, got $n")
    val grams = df.filter(col(textCol).isNotNull)
      .select(col(srcCol).as("source"), tokens(col(textCol)).as("__a"))
      // docs shorter than n tokens contribute nothing — and the filter
      // keeps the index sequence ascending (Spark's sequence(1, 0)
      // would DESCEND and feed slice an illegal 0 start)
      .filter(size(col("__a")) >= n)
      .select(col("source"), explode(transform(
        sequence(lit(1), size(col("__a")) - (n - 1)),
        i => array_join(slice(col("__a"), i, lit(n)), " "))).as("__g"))
      .filter(col("__g") =!= "")
    grams.groupBy("source", "__g").agg(count(lit(1)).as("__c"))
      .groupBy("source")
      .agg(sum(col("__c")).as("total_ngrams"),
        count(lit(1)).as("distinct_ngrams"))
      .select(col("source"), col("total_ngrams"), col("distinct_ngrams"),
        fdiv(dec(col("distinct_ngrams")) * 1000000, dec(col("total_ngrams")))
          .as("ttr_ppm"))
      .orderBy("source")
  }

  /** Per-source unigram KL divergence from the corpus distribution —
    * `KL(source ‖ corpus) = Σ_t p_s(t)·ln(p_s(t)/q(t))` — the
    * distribution-shift ranking behind domain-mix decisions ("which
    * source is least like the blend"). All logs are the integer
    * fixed-point `L(n) = ⌊ln(n)·10⁶⌋` on COUNTS (the [[zipfSlope]]
    * discipline — both engines agree on floored integer logs, never on
    * raw double ratios), so
    * `kl_micro_nats = ⌊Σ_t c_s(t)·(L(c_s)−L(N_s)−L(c)+L(N)) / N_s⌋`
    * is engine-independent end to end. Every source token exists in
    * the corpus by construction (q = the pooled distribution), so no
    * zero-ratio guard is needed. Output:
    * `(source, n_tokens, kl_micro_nats)`.
    *
    * Scale shape: one token-keyed rollup to (source, token) counts
    * (map-side partials), corpus token totals derive from THAT rollup
    * (vocabulary-sized, not a second fact scan); the token join stays
    * DECLARATIVE — Catalyst broadcasts a small vocabulary and shuffles
    * on the token key when a web-scale vocabulary outgrows the
    * threshold (forcing a broadcast there would OOM at 100 TB). The
    * 1-row grand total and the sources-bounded per-source totals are
    * explicit broadcasts. */
  def sourceKlDivergence(df: DataFrame, srcCol: String,
      textCol: String): DataFrame = {
    val st = df.filter(col(textCol).isNotNull)
      .select(col(srcCol).as("source"), explode(tokens(col(textCol))).as("__t"))
      .filter(col("__t") =!= "")
      .groupBy("source", "__t").agg(count(lit(1)).as("__cs"))
      .localCheckpoint() // token totals + source totals + the join read it
    val tokTotals = st.groupBy("__t").agg(sum(col("__cs")).as("__c"))
    val srcTotals = st.groupBy("source").agg(sum(col("__cs")).as("__ns"))
    val grand = st.agg(sum(col("__cs")).as("__n"))
    st.join(tokTotals, "__t")
      .join(broadcast(srcTotals), "source")
      .crossJoin(broadcast(grand))
      .select(col("source"), col("__ns"),
        (dec(col("__cs")) * dec(lfp(col("__cs")) - lfp(col("__ns")) -
          lfp(col("__c")) + lfp(col("__n")))).as("__term"))
      .groupBy("source")
      .agg(max(col("__ns")).as("n_tokens"),
        fdiv(sum(col("__term")), dec(max(col("__ns")))).as("kl_micro_nats"))
      .orderBy("source")
  }

  /** Per-source hapax legomena ratio: the share of a source's token
    * TYPES that occur exactly once within it, in floored integer ppm —
    * the classic lexical-richness/noise signal (natural prose sits in a
    * band; OCR garbage and ID-heavy logs spike it, templated boilerplate
    * collapses it), read per source so one bad feed shows up before it
    * pollutes the mix. Output:
    * `(source, n_token_types, n_hapax, hapax_ppm)`.
    *
    * Scale shape: word-count — the (source, token) rollup runs with
    * map-side partials (a hot token reaches the reducer as partial
    * counts, never raw rows), then a sources-bounded second agg; the
    * ratio is one exact integer division. No `count(distinct)`
    * anywhere. */
  def hapaxRatio(df: DataFrame, srcCol: String, textCol: String): DataFrame = {
    df.filter(col(textCol).isNotNull)
      .select(col(srcCol).as("source"), explode(tokens(col(textCol))).as("__t"))
      .filter(col("__t") =!= "")
      .groupBy("source", "__t").agg(count(lit(1)).as("__tf"))
      .groupBy("source")
      .agg(count(lit(1)).as("n_token_types"),
        sum(when(col("__tf") === 1L, 1L).otherwise(0L)).as("n_hapax"))
      .select(col("source"), col("n_token_types"), col("n_hapax"),
        fdiv(col("n_hapax") * 1000000L, col("n_token_types"))
          .as("hapax_ppm"))
      .orderBy("source")
  }

  /** N-gram head coverage: what share of all n-gram OCCURRENCES the
    * top-`k` most frequent n-gram TYPES account for (ties broken by
    * gram text) — the how-templated-is-this-corpus number: natural
    * prose concentrates far less mass in its head than boilerplate or
    * log spam, so a coverage jump between crawls is a contamination
    * alarm; it also prices how much a k-entry phrase cache/dedup table
    * would absorb. One row out:
    * `(k, n_gram_types, total_occurrences, head_occurrences,
    * coverage_ppm)`.
    *
    * Scale shape: grams materialize by index arithmetic on the scan
    * ([[ngramDiversity]]'s builder) and collapse in ONE word-count agg
    * with map-side partials; the head is TakeOrdered over the type
    * table (never a global sort materializes) and the coverage is two
    * 1-row aggregates — the corpus is scanned once. */
  def ngramHeadCoverage(df: DataFrame, textCol: String, n: Int = 3,
      k: Int = 1000): DataFrame = {
    require(n >= 1 && k >= 1, s"need n >= 1 and k >= 1, got $n, $k")
    val counts = df.filter(col(textCol).isNotNull)
      .select(tokens(col(textCol)).as("__a"))
      .filter(size(col("__a")) >= n)
      .select(explode(transform(
        sequence(lit(1), size(col("__a")) - (n - 1)),
        i => array_join(slice(col("__a"), i, lit(n)), " "))).as("__g"))
      .filter(col("__g") =!= "")
      .groupBy("__g").agg(count(lit(1)).as("__c"))
      .localCheckpoint() // totals + head both read the type table
    val totals = counts.agg(count(lit(1)).as("n_gram_types"),
      coalesce(sum(col("__c")), lit(0L)).as("total_occurrences"))
    val head = counts.orderBy(col("__c").desc, col("__g")).limit(k)
      .agg(coalesce(sum(col("__c")), lit(0L)).as("head_occurrences"))
    totals.crossJoin(head)
      .select(lit(k.toLong).as("k"), col("n_gram_types"),
        col("total_occurrences"), col("head_occurrences"),
        // NULL on an empty corpus (0/0 has no coverage), same pin as
        // q190's zero-total months
        when(col("total_occurrences") === 0L, lit(null).cast("long"))
          .otherwise(fdiv(dec(col("head_occurrences")) * 1000000,
            dec(col("total_occurrences")))).as("coverage_ppm"))
  }

  /** Duplication trend over crawl order: documents land in `buckets`
    * equal-count deciles of their id order (ids ≈ ingestion time), and
    * each decile reports how many of its documents are EXACT
    * duplicates of an earlier document (same md5, smaller id) — the
    * is-my-crawl-saturating curve (a rising tail says new crawl
    * batches mostly re-fetch; the datasheet number behind
    * stop-crawling decisions). Output:
    * `(decile, n_docs, n_dups, dup_ppm)`, floored integer ppm.
    *
    * Scale shape: duplicate flags come from a hash-keyed min-id rollup
    * joined back on the digest (hash-sized shuffle of 32-byte keys);
    * the decile assignment rides
    * [[graft.util.GlobalRank.withGlobalRank]] over the id order —
    * never a single-partition NTILE; the report is buckets-bounded. */
  def duplicationTrend(df: DataFrame, idCol: String, textCol: String,
      buckets: Int = 10): DataFrame = {
    require(buckets >= 1, s"buckets must be >= 1, got $buckets")
    val hashed = df.filter(col(textCol).isNotNull)
      .select(col(idCol).as("__id"), md5(col(textCol)).as("__h"))
      .localCheckpoint() // first-id rollup + the flag join read it
    val firsts = hashed.groupBy("__h").agg(min(col("__id")).as("__first"))
    val flagged = hashed.join(firsts, "__h")
      .select(col("__id"), (col("__id") > col("__first")).as("__dup"))
    val (ranked, n) = graft.util.GlobalRank.withGlobalRank(flagged,
      Seq(col("__id")), "__r")
    if (n == 0)
      return ranked.select(lit(0L).as("decile"), lit(0L).as("n_docs"),
        lit(0L).as("n_dups"), lit(0L).as("dup_ppm")).limit(0)
    ranked
      // decile = ((rank − 1) · buckets) div n + 1: equal-count bands,
      // all-integer, remainder docs spread over the leading bands
      .withColumn("decile",
        fdiv((col("__r") - 1) * buckets, lit(n)) + 1)
      .groupBy("decile")
      .agg(count(lit(1)).as("n_docs"),
        sum(when(col("__dup"), 1L).otherwise(0L)).as("n_dups"))
      .select(col("decile"), col("n_docs"), col("n_dups"),
        fdiv(col("n_dups") * 1000000L, col("n_docs")).as("dup_ppm"))
      .orderBy("decile")
  }

  /** Token-length distribution: occurrences and distinct token TYPES
    * per character length — the tokenizer-calibration curve (length
    * spikes expose unsplit URLs/IDs; the type-vs-occurrence gap at
    * each length says whether long tokens are a vocabulary problem or
    * a frequency problem). Output:
    * `(token_len, n_types, n_occurrences)`.
    *
    * Scale shape: word-count — the (token) rollup collapses raw
    * occurrences with map-side partials, then a length-bounded second
    * agg; lengths ship as ints, tokens never shuffle twice. */
  def tokenLengthHistogram(df: DataFrame, textCol: String): DataFrame =
    df.filter(col(textCol).isNotNull)
      .select(explode(tokens(col(textCol))).as("__t"))
      .filter(col("__t") =!= "")
      .groupBy("__t").agg(count(lit(1)).as("__tf"))
      .groupBy(length(col("__t")).cast("long").as("token_len"))
      .agg(count(lit(1)).as("n_types"), sum(col("__tf")).as("n_occurrences"))
      .orderBy("token_len")

  /** Cross-source duplicate-leakage matrix: for every source pair, how
    * many DISTINCT texts appear verbatim in both — the
    * which-crawl-copies-which report behind dedup-order and
    * source-provenance decisions (a high cell between a "curated" set
    * and a crawl means the curated set leaks into pretraining data
    * through the crawl, the classic eval-contamination vector). Texts
    * are keyed by md5 (the [[duplicationTrend]] digest) over either
    * the whole text (`prefixChars = 0`) or the opening `prefixChars`
    * characters — the prefix mode catches shared templates/headers
    * (syndicated openings, boilerplate intros) that whole-text
    * equality misses once bodies diverge. Sources dedup per digest
    * first, and each shared digest counts ONCE per pair regardless of
    * copy counts. Complements [[graft.text.Dedup.nearDupSourceMatrix]]
    * (q73), which attributes an EXISTING near-dup pair list to source
    * pairs — this operator needs no candidate generation, counts
    * digest CLUSTERS (not pairwise edges), and carries the prefix
    * mode. Output: `(source_a, source_b, n_shared_texts)` with
    * `source_a < source_b`; pairs with nothing shared are absent.
    *
    * Scale shape: the corpus collapses to the DISTINCT (source,
    * digest) relation (hash agg, map-side partials) which materializes
    * once (both self-join sides read the checkpoint); the digest-keyed
    * self-join fans out at most sources² per digest — vocabulary-
    * bounded, never copies² — and the matrix is sources²-bounded. */
  def crossSourceLeakage(df: DataFrame, srcCol: String,
      textCol: String, prefixChars: Int = 0): DataFrame = {
    require(prefixChars >= 0, s"prefixChars must be >= 0, got $prefixChars")
    val keyed = if (prefixChars == 0) col(textCol)
      else substring(col(textCol), 1, prefixChars)
    val hs = df.filter(col(textCol).isNotNull)
      .select(col(srcCol).as("__s"), md5(keyed).as("__h"))
      .distinct()
      .localCheckpoint() // both self-join sides read it
    hs.as("a").join(hs.as("b"),
        col("a.__h") === col("b.__h") && col("a.__s") < col("b.__s"))
      .groupBy(col("a.__s").as("source_a"), col("b.__s").as("source_b"))
      .agg(count(lit(1)).as("n_shared_texts"))
      .orderBy("source_a", "source_b")
  }

  /** Source vocabulary-overlap matrix: Jaccard similarity between the
    * token TYPE sets of every source pair — the register/topic
    * proximity map behind domain-mix design (two sources with 0.6
    * vocabulary Jaccard are near-substitutes; upweighting both buys
    * less diversity than the token counts suggest). Complements
    * [[sourceKlDivergence]] (q196), which measures distribution shift
    * against the pooled corpus with frequencies, by comparing PAIRS on
    * set membership alone; `minCount` prunes hapax noise before the
    * set algebra. Output: `(source_a, source_b, n_common,
    * jaccard_ppm)` for ALL pairs (zero-overlap pairs report 0), exact
    * floored ppm.
    *
    * Scale shape: the corpus collapses once to the (source, token,
    * count) rollup (map-side partials); the token-keyed self-join on
    * the pruned type sets fans out at most sources² per token; vocab
    * sizes and the pair frame are sources-bounded broadcasts. */
  def sourceVocabularyOverlap(df: DataFrame, srcCol: String,
      textCol: String, minCount: Long = 1L): DataFrame = {
    require(minCount >= 1, s"minCount must be >= 1, got $minCount")
    val st = df.filter(col(textCol).isNotNull)
      .select(col(srcCol).as("__s"), explode(tokens(col(textCol))).as("__t"))
      .filter(col("__t") =!= "")
      .groupBy("__s", "__t").agg(count(lit(1)).as("__c"))
      .filter(col("__c") >= minCount)
      .select(col("__s"), col("__t"))
      .localCheckpoint() // sizes + both self-join sides read it
    val sizes = st.groupBy("__s").agg(count(lit(1)).as("__n"))
    val inter = st.as("a").join(st.as("b"),
        col("a.__t") === col("b.__t") && col("a.__s") < col("b.__s"))
      .groupBy(col("a.__s").as("__sa"), col("b.__s").as("__sb"))
      .agg(count(lit(1)).as("__i"))
    sizes.select(col("__s").as("__sa"), col("__n").as("__na"))
      .join(broadcast(sizes.select(col("__s").as("__sb"),
        col("__n").as("__nb"))), col("__sa") < col("__sb"))
      .join(broadcast(inter), Seq("__sa", "__sb"), "left")
      .select(col("__sa").as("source_a"), col("__sb").as("source_b"),
        coalesce(col("__i"), lit(0L)).as("n_common"),
        fdiv(dec(coalesce(col("__i"), lit(0L))) * 1000000,
          dec(col("__na") + col("__nb") - coalesce(col("__i"), lit(0L))))
          .as("jaccard_ppm"))
      .orderBy("source_a", "source_b")
  }

  /** Exact-dedup savings report per source: documents vs distinct
    * texts, and the character mass a keep-one-copy exact dedup would
    * reclaim — the storage/compute business case every dedup proposal
    * leads with ("source X is 40% repeats; dedup before anything
    * else"). Texts key by md5 (the q221/q229 digest); duplicate
    * copies are byte-identical, so the reclaimed mass is exact.
    * Output: `(source, n_docs, n_unique, total_chars, unique_chars,
    * savings_ppm)`, floored ppm.
    *
    * Scale shape: ONE scan to the (source, digest) rollup (map-side
    * partials carry count + length); the report is sources-bounded. */
  def dedupSavings(df: DataFrame, srcCol: String,
      textCol: String): DataFrame = {
    df.filter(col(textCol).isNotNull)
      .select(col(srcCol).as("source"), md5(col(textCol)).as("__h"),
        length(col(textCol)).cast("long").as("__len"))
      .groupBy("source", "__h")
      .agg(count(lit(1)).as("__n"), max(col("__len")).as("__len"))
      .groupBy("source")
      .agg(sum(col("__n")).as("n_docs"), count(lit(1)).as("n_unique"),
        sum(col("__n") * col("__len")).as("total_chars"),
        sum(col("__len")).as("unique_chars"))
      .select(col("source"), col("n_docs"), col("n_unique"),
        col("total_chars"), col("unique_chars"),
        fdiv(dec(col("total_chars") - col("unique_chars")) * 1000000,
          dec(col("total_chars"))).as("savings_ppm"))
      .orderBy("source")
  }

  /** Quality-threshold token-budget curve: documents band into
    * equal-count quality deciles (decile 1 = worst), and each decile
    * reports how many TOKENS survive if the cut discards everything
    * below it — the curve a curation-policy owner actually reads when
    * choosing `minQuality` ("cutting the bottom 30% of documents
    * keeps 81% of tokens"). Quality is the exact integer
    * [[qualityScoreE6]] (q33's score), deciles ride
    * [[graft.util.GlobalRank.withGlobalRank]] over (score, id) —
    * never a single-partition NTILE — and retention is exact floored
    * ppm of corpus tokens. Output: `(decile, n_docs, n_tokens,
    * min_quality_e6, cum_tokens_retained, retained_ppm)`.
    *
    * Scale shape: one narrow projection (id, score, token count) into
    * the range-partitioned rank; the decile rollup is 10 rows — the
    * cumulative window over it is a DELIBERATE single-partition
    * window over a buckets-sized relation (the [[sourceTokenGini]]
    * posture), not an accident. */
  def qualityBudgetCurve(df: DataFrame, idCol: String, textCol: String,
      stopwords: Seq[String], buckets: Int = 10): DataFrame = {
    require(buckets >= 1, s"buckets must be >= 1, got $buckets")
    val scored = df.filter(col(textCol).isNotNull)
      .select(col(idCol).as("__id"),
        qualityScoreE6(col(textCol), stopwords).as("__q"),
        tokenCount(col(textCol)).cast("long").as("__tk"))
    val (ranked, n) = graft.util.GlobalRank.withGlobalRank(scored,
      Seq(col("__q"), col("__id")), "__r")
    if (n == 0)
      return ranked.select(lit(0L).as("decile"), lit(0L).as("n_docs"),
        lit(0L).as("n_tokens"), lit(0L).as("min_quality_e6"),
        lit(0L).as("cum_tokens_retained"), lit(0L).as("retained_ppm"))
        .limit(0)
    val perDecile = ranked
      .withColumn("decile",
        fdiv((col("__r") - 1) * buckets, lit(n)) + 1)
      .groupBy("decile")
      .agg(count(lit(1)).as("n_docs"), sum(col("__tk")).as("n_tokens"),
        min(col("__q")).as("min_quality_e6"))
      .localCheckpoint() // buckets rows; cumulative + total read it
    // buckets-sized relation: the single-partition window is the
    // point, not an accident (the sourceTokenGini posture)
    val wDesc = org.apache.spark.sql.expressions.Window
      .orderBy(col("decile").desc)
      .rowsBetween(org.apache.spark.sql.expressions.Window
        .unboundedPreceding, 0)
    perDecile
      .withColumn("cum_tokens_retained", sum(col("n_tokens")).over(wDesc))
      .crossJoin(broadcast(perDecile.agg(sum(col("n_tokens")).as("__tot"))))
      .select(col("decile"), col("n_docs"), col("n_tokens"),
        col("min_quality_e6"), col("cum_tokens_retained"),
        fdiv(dec(col("cum_tokens_retained")) * 1000000,
          dec(col("__tot"))).as("retained_ppm"))
      .orderBy("decile")
  }

  /** Distinctive vocabulary per source: the top-k tokens whose
    * WITHIN-source rate most exceeds their corpus rate (lift =
    * `(c_s/N_s)/(c/N)` in exact cross-multiplied floored ppm) — the
    * "what characterizes this feed" datasheet view ([[sourceKlDivergence]]
    * scores the shift in one number; this names the tokens driving
    * it). `minCount` floors the within-source count so one lucky rare
    * token can't top the list. Ties break token-ascending. Output:
    * `(source, rank, token, n_in_source, lift_ppm)`.
    *
    * Scale shape: ONE (source, token) rollup (map-side partials);
    * corpus token totals derive from THAT rollup (the q196 rule — no
    * second scan), source totals broadcast; the rank window runs over
    * the minCount-pruned AGGREGATED relation with map-side
    * WindowGroupLimit pruning, never over occurrences. */
  def distinctiveTokens(df: DataFrame, srcCol: String, textCol: String,
      k: Int = 10, minCount: Long = 5L): DataFrame = {
    require(k >= 1, s"k must be >= 1, got $k")
    require(minCount >= 1, s"minCount must be >= 1, got $minCount")
    val st = df.filter(col(textCol).isNotNull)
      .select(col(srcCol).as("source"), explode(tokens(col(textCol)))
        .as("__t"))
      .filter(col("__t") =!= "")
      .groupBy("source", "__t").agg(count(lit(1)).as("__cs"))
      .localCheckpoint() // token totals + source totals + candidates
    val tokTotals = st.groupBy("__t").agg(sum(col("__cs")).as("__c"))
    val srcTotals = st.groupBy("source").agg(sum(col("__cs")).as("__ns"))
    val grand = st.agg(sum(col("__cs")).as("__n"))
    val scored = st.filter(col("__cs") >= minCount)
      .join(tokTotals, "__t")
      .join(broadcast(srcTotals), "source")
      .crossJoin(broadcast(grand))
      .select(col("source"), col("__t"), col("__cs"),
        fdiv(dec(col("__cs")) * dec(col("__n")) * 1000000,
          dec(col("__ns")) * dec(col("__c"))).as("lift_ppm"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("source").orderBy(col("lift_ppm").desc, col("__t"))
    scored.withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select(col("source"), col("rank").cast("long").as("rank"),
        col("__t").as("token"), col("__cs").as("n_in_source"),
        col("lift_ppm"))
      .orderBy("source", "rank")
  }

  /** Language-mix entropy per source: Shannon entropy (micro-nats) of
    * the document-language distribution within each source — the
    * language-purity datasheet number (0 = monolingual source; high
    * entropy on a supposedly-English crawl means the lang-id gate is
    * leaking). Same fixed-point fold as [[charEntropy]] (q131):
    * `H = ⌊(N·L(N) − Σ c·L(c))/N⌋` with `L(n) = ⌊ln(n)·10⁶⌋` on
    * INTEGER counts — the floor is taken ONCE over the whole
    * difference (floor-of-difference, matching the q131 fold and the
    * DuckDB oracle — `L(N) − ⌊Σ c·L(c)/N⌋` differs by up to 1
    * micro-nat). Output:
    * `(source, n_docs, n_langs, lang_entropy_micro_nats)`.
    *
    * Scale shape: one scan collapses to the (source, lang) rollup
    * (map-side partials, vocabulary-bounded), then a sources-bounded
    * fold — nothing else. */
  def languageEntropy(df: DataFrame, srcCol: String,
      langCol: String): DataFrame = {
    df.filter(col(langCol).isNotNull)
      .groupBy(col(srcCol).as("source"), col(langCol).as("__l"))
      .agg(count(lit(1)).as("__c"))
      .groupBy("source")
      .agg(sum(col("__c")).as("n_docs"), count(lit(1)).as("n_langs"),
        sum(col("__c") * lfp(col("__c"))).as("__wsum"))
      .select(col("source"), col("n_docs"), col("n_langs"), {
        val cross = lfp(col("n_docs")) * col("n_docs") - col("__wsum")
        fdiv(cross, col("n_docs")).as("lang_entropy_micro_nats")
      })
      .orderBy("source")
  }

  /** Readability census per source: aggregate words-per-sentence and
    * chars-per-word — the two inputs every classic readability formula
    * (Flesch, ARI, Coleman–Liau) is built from, reported as exact
    * floored integer MICROS so both engines agree bit-for-bit. A
    * sentence is a run of `[.!?]` enders (split count), floored at 1
    * per document so ender-free fragments count as one sentence; words
    * are the corpus-standard whitespace tokens and chars are the sum
    * of token lengths (whitespace never counts). Ratios are
    * corpus-level (`Σwords/Σsentences`), not means of per-doc ratios —
    * the convention that keeps a one-word doc from dominating. Output:
    * `(source, n_docs, n_words, n_sentences, words_per_sentence_micro,
    * chars_per_word_micro)`.
    *
    * Scale shape: pure per-row column arithmetic (no explode — token
    * counts and char sums fold inside the array) into one
    * source-bounded hash agg with map-side partials; nothing shuffles
    * but the narrow per-doc count triple. */
  def readabilityCensus(df: DataFrame, srcCol: String,
      textCol: String): DataFrame = {
    val perDoc = df.filter(col(textCol).isNotNull)
      .select(col(srcCol).as("source"),
        filter(tokens(col(textCol)), t => t =!= "").as("__a"),
        (size(split(col(textCol), "[.!?]+")) - 1).cast("long").as("__e"))
      .select(col("source"),
        size(col("__a")).cast("long").as("__w"),
        aggregate(col("__a"), lit(0L), (acc, tk) => acc + length(tk))
          .as("__ch"),
        greatest(col("__e"), lit(1L)).as("__s"))
      .filter(col("__w") > 0)
    perDoc.groupBy("source")
      .agg(count(lit(1)).as("n_docs"), sum(col("__w")).as("n_words"),
        sum(col("__s")).as("n_sentences"), sum(col("__ch")).as("__chars"))
      .select(col("source"), col("n_docs"), col("n_words"),
        col("n_sentences"),
        fdiv(dec(col("n_words")) * 1000000, dec(col("n_sentences")))
          .as("words_per_sentence_micro"),
        fdiv(dec(col("__chars")) * 1000000, dec(col("n_words")))
          .as("chars_per_word_micro"))
      .orderBy("source")
  }

  /** Duplicate-n-gram census per source — the Gopher §A1.1 repetition
    * gate's aggregate view (Rae et al. 2021): for each document, the
    * share of n-gram OCCURRENCES that belong to n-gram types appearing
    * ≥ 2 times in that document (the within-doc self-repetition mass —
    * boilerplate loops, keyword stuffing, decode glitches); the census
    * reports per source how many documents exceed `flagPpm` and the
    * corpus-mass duplicate share. Distinct from [[repetitionStats]]
    * (q51), which reports only the TOP gram's share — a doc repeating
    * many different bigrams twice sails under a top-gram threshold but
    * not under this one. Output: `(source, n_docs, n_repetitive,
    * dup_mass_ppm)` in exact floored integer ppm.
    *
    * Scale shape: the word-count shape on (doc, gram) — grams build by
    * index arithmetic on the token array (no shingle materialization
    * beyond the explode), collapse with map-side partials, then fold
    * doc-wise and source-wise; every relation after the explode is
    * bounded by corpus tokens, and the census output by sources. */
  def dupNgramCensus(df: DataFrame, srcCol: String, idCol: String,
      textCol: String, n: Int = 2, flagPpm: Long = 300000L): DataFrame = {
    require(n >= 1, s"n must be >= 1, got $n")
    require(flagPpm >= 0 && flagPpm <= 1000000L,
      s"flagPpm must be in [0, 1000000], got $flagPpm")
    val grams = df.filter(col(textCol).isNotNull)
      .select(col(srcCol).as("source"), col(idCol).as("__id"),
        tokens(col(textCol)).as("__a"))
      // the ascending-sequence guard from [[ngramDiversity]]
      .filter(size(col("__a")) >= n)
      .select(col("source"), col("__id"), explode(transform(
        sequence(lit(1), size(col("__a")) - (n - 1)),
        i => array_join(slice(col("__a"), i, lit(n)), " "))).as("__g"))
      .filter(col("__g") =!= "")
    val perDoc = grams.groupBy("source", "__id", "__g")
      .agg(count(lit(1)).as("__c"))
      .groupBy("source", "__id")
      .agg(sum(col("__c")).as("__tot"),
        sum(when(col("__c") >= 2, col("__c")).otherwise(0L)).as("__dup"))
      .withColumn("__ppm",
        fdiv(dec(col("__dup")) * 1000000, dec(col("__tot"))))
    perDoc.groupBy("source")
      .agg(count(lit(1)).as("n_docs"),
        sum(when(col("__ppm") > flagPpm, 1L).otherwise(0L))
          .as("n_repetitive"),
        sum(col("__dup")).as("__d"), sum(col("__tot")).as("__t"))
      .select(col("source"), col("n_docs"), col("n_repetitive"),
        fdiv(dec(col("__d")) * 1000000, dec(col("__t"))).as("dup_mass_ppm"))
      .orderBy("source")
  }
}
