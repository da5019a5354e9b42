package graft
package registry

import org.apache.spark.sql.functions._

import graft.text.{Retrieval, TextAnalysis}
import Shared._

/** Corpus text analysis over `documents` (SURVEY §7.10 text analysis):
  * quality and language signals, sampling and splits, chunking, BM25
  * retrieval, BPE and Unicode scrubbing. */
object TextCorpusQueries extends QueryFamily("text") {

  /** q79's query terms (mid-frequency corpus vocabulary). */
  private val bm25Terms = Seq("vector", "hash", "scan")

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

  val specs: Seq[QuerySpec] = Seq(
    spec("q31_text_stats", ((s, d) =>
      TextAnalysis.stats(Tables.documents(s, d), "text", "doc_id")),
      s"""WITH t AS (SELECT doc_id, text, $tokensSql AS toks FROM documents)
         |SELECT doc_id, len(toks) AS n_tokens, length(text) AS n_chars,
         | len(regexp_extract_all(text, '[.,!?;:]')) AS n_punct,
         | round(CAST(len(regexp_extract_all(text, '[.,!?;:]')) AS DOUBLE)
         |   / greatest(length(text), 1), 6) AS punct_ratio,
         | round(CAST(length(trim(text)) - (len(toks) - 1) AS DOUBLE)
         |   / greatest(len(toks), 1), 6) AS avg_token_len,
         | len(list_filter(toks, x -> x IN ($enStop))) AS en_stopwords,
         | $fingerprintSql AS fingerprint
         |FROM t""".stripMargin),
    spec("q32_lang_id", ((s, d) =>
      Tables.documents(s, d).select(col("doc_id"), col("lang"),
        TextAnalysis.languageId(col("text")).as("lang_pred"))),
      langIdOracleSql),
    spec("q33_quality_score", ((s, d) =>
      Tables.documents(s, d).select(col("doc_id"),
        TextAnalysis.qualityScore(col("text"),
          TextAnalysis.LangProfiles("en")).as("quality"))),
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
         |FROM m""".stripMargin),
    // q99: tf-idf cosine pairs over top-5-term sparse vectors —
    // integer-micro weights make the dot product an exact BIGINT sum
    spec("q99_tfidf_cosine_pairs", ((s, d) =>
      TextAnalysis.tfidfCosinePairs(Tables.documents(s, d),
        "doc_id", "text", topM = 5, threshold = 0.8)),
      // q99: q63's (token, doc) pre-agg and df rollup; integer-micro
      // weights (floor division both engines), exact BIGINT dot, cosine
      // as sqrt·sqrt·divide on the exact sums
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
        |WHERE CAST(dp AS DOUBLE) / (sqrt(CAST(na.n2 AS DOUBLE)) * sqrt(CAST(nb.n2 AS DOUBLE))) >= 0.8""".stripMargin),
    // q108: corpus-self bigram-LM cross-entropy (the CCNet perplexity
    // filter, fixed-pointed) — the q72 integer-ln trick keeps the
    // per-doc sum exact in any association order
    spec("q108_bigram_lm", ((s, d) =>
      TextAnalysis.bigramLmScores(Tables.documents(s, d), "doc_id", "text")),
      // q108: the oracle re-derives the positional bigram stream, the
      // pair/prefix rollups, the vocab count, and the same
      // integer-argument fixed-point ln as the q72 DSIR oracle
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
      planNote = Some(
        "The CCNet perplexity filter as relational algebra: ONE checkpointed positional-bigram stream (Scan ExistingRDD — built once, read by the pair rollup, the prefix rollup, and the scored join), all three keyed on token strings with map-side partials so hot bigrams collapse before any exchange; the vocab count is a two-phase countDistinct broadcast back as one row. Scores are fixed-point integer ln's of integer counts — the per-doc sum commutes, so the plan hash-matches its oracle at any partitioning.")),
    // q115: exact heavy hitters — Misra-Gries candidates per partition,
    // then an exact recount of candidates ONLY: the counting shuffle
    // carries partitions·m rows, never the Zipf-tail vocabulary
    spec("q115_heavy_hitters", ((s, d) =>
      TextAnalysis.heavyHitters(Tables.documents(s, d), "text",
        supportPpm = 2000L)),
      // q115: heavy hitters — the oracle counts EVERYTHING (it can afford
      // to at oracle scale); the engine's sketch+recount must agree
      // exactly, including the cross-multiplied ppm threshold and the
      // exact floor-divided freq_ppm
      s"""WITH tk AS (SELECT unnest($tokensSql) AS token
         |  FROM documents WHERE text IS NOT NULL),
         |tt AS (SELECT token FROM tk WHERE token <> ''),
         |n AS (SELECT count(*) AS total FROM tt)
         |SELECT token, count(*) AS cnt,
         |  CAST(count(*) * 1000000 // total AS BIGINT) AS freq_ppm
         |FROM tt CROSS JOIN n
         |GROUP BY token, total
         |HAVING count(*) * 1000000 >= 2000 * total
         |ORDER BY cnt DESC, token""".stripMargin),
    // q116: deterministic stratified sample — k docs per source by md5
    // of the id (reproducible uniform sampling; map-side
    // WindowGroupLimit keeps the exchange strata·k-sized)
    spec("q116_stratified_sample", ((s, d) =>
      TextAnalysis.stratifiedSample(Tables.documents(s, d), "doc_id",
        "source", k = 5)),
      // q116: md5-ordered per-stratum row_number — both engines hash the
      // identical decimal string, so the sample is engine-exact
      """SELECT source, doc_id, CAST(rk AS INTEGER) AS sample_rank FROM (
        |  SELECT source, doc_id,
        |    row_number() OVER (PARTITION BY source
        |      ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id) AS rk
        |  FROM documents) t
        |WHERE rk <= 5 ORDER BY source, sample_rank""".stripMargin),
    // q117: adjacent-bigram PMI collocations in the fixed-point-ln
    // frame — marginals derive from the pair-count table, never a
    // second corpus pass; top-k rides TakeOrderedAndProject
    spec("q117_collocations", ((s, d) =>
      TextAnalysis.collocations(Tables.documents(s, d), "text",
        minCount = 3L, topK = 50)),
      // q117: the oracle re-derives the bigram stream, pair counts,
      // pair-table marginals, and the same integer-argument fixed-point
      // ln as q108/q72
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
         |ORDER BY pmi_fp DESC, w1, w2 LIMIT 50""".stripMargin),
    spec("q43_token_counts", ((s, d) =>
      Tables.documents(s, d).select(col("doc_id"),
        TextAnalysis.bpeishTokenCount(col("text")).as("n_bpe_tokens"),
        TextAnalysis.tokenCount(col("text")).cast("long").as("n_ws_tokens"))),
      """SELECT doc_id,
        | CAST(len(regexp_extract_all(text, '''(?:s|d|m|t|ll|ve|re)| ?\p{L}+| ?\p{N}+| ?[^\s\p{L}\p{N}]+')) AS BIGINT) AS n_bpe_tokens,
        | CAST(len(regexp_split_to_array(trim(text), '\s+')) AS BIGINT) AS n_ws_tokens
        |FROM documents""".stripMargin),
    spec("q44_winnowing_fingerprints", ((s, d) =>
      Tables.documents(s, d).select(col("doc_id"),
        explode(TextAnalysis.winnowingFingerprints(col("text"), k = 4, w = 4))
          .as("fingerprint"))),
      // q44: winnowing re-derived in SQL — same k-gram strings as q36's
      // CTE, same polynomial hashes, same window-min + distinct selection.
      s"""WITH t AS (SELECT doc_id, regexp_split_to_array(trim(text), '\\s+') AS toks FROM documents),
         |g AS (SELECT doc_id, list_transform(
         |    CASE WHEN len(toks) >= 4
         |      THEN list_transform(generate_series(0, len(toks)-4), i -> array_to_string(toks[i+1:i+4], ' '))
         |      ELSE [array_to_string(toks, ' ')] END,
         |    tok -> $polyAsql + ($polyBsql << 31)) AS gh FROM t)
         |SELECT doc_id, unnest(CASE WHEN len(gh) >= 4
         |    THEN list_distinct(list_transform(generate_series(0, len(gh)-4), i -> list_min(gh[i+1:i+4])))
         |    ELSE [list_min(gh)] END) AS fingerprint
         |FROM g""".stripMargin),
    // q55: domain mixing — deterministic stratified sampling on the
    // portable hash coin (integer ppm rates: exact arithmetic, no float
    // boundary). Rates over the synthetic src0..src19 strata; the
    // default-rate arm covers the unmapped sources.
    spec("q55_corpus_mix", ((s, d) =>
      TextAnalysis.sampleByMix(Tables.documents(s, d), "doc_id", "source",
        Map("src0" -> 1000000L, "src1" -> 750000L, "src2" -> 500000L,
          "src3" -> 250000L), defaultPpm = 100000L)
        .select(col("doc_id"), col("source"))),
      // q55: the oracle recomputes the portable-hash coin from the doc id
      // string and applies the identical integer-ppm CASE ladder
      s"""WITH t AS (SELECT doc_id, source, CAST(doc_id AS VARCHAR) AS tok FROM documents),
         |h AS (SELECT doc_id, source,
         |   ($polyAsql + ($polyBsql << 31)) % 1000000 AS coin FROM t)
         |SELECT doc_id, source FROM h
         |WHERE coin < CASE source WHEN 'src0' THEN 1000000
         |  WHEN 'src1' THEN 750000 WHEN 'src2' THEN 500000
         |  WHEN 'src3' THEN 250000 ELSE 100000 END""".stripMargin,
      planNote = Some(
        "Domain mixing is a single codegen'd filter on the scan: the portable-hash coin and the integer-ppm CASE ladder evaluate per row with no exchange, no join, no aggregate — the plan a stratified sampler must have to be free at any scale.")),
    // q56: token-budget selection — best-quality docs whose cumulative
    // tokens fit 20k. The engine runs the bucketed distributed prefix
    // (one global window NEVER appears); the oracle is the plain global
    // window, pinning the distributed decomposition's exactness.
    spec("q56_budget_select", ((s, d) =>
      TextAnalysis.selectByBudget(
        Tables.documents(s, d).filter(col("text").isNotNull),
        "doc_id", "text", budget = 20000L)),
      // q56: plain global-window prefix — the semantics anchor for the
      // engine's bucketed distributed decomposition (quality formula = q33)
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
      planNote = Some(
        "Token-budget selection WITHOUT a global ordered window: quality lands in fixed-range buckets, per-bucket totals return to the driver (bounded rows), whole buckets keep/drop as a shuffle-free filter, and only the boundary bucket — 1/buckets of the data — pays a windowspecdefinition(__bkt) ordered pass. The oracle's global-window SQL pins that this decomposition is exact.")),
    // q68: Gopher rule battery — one boolean per rule + the
    // conjunction; every ratio threshold is an integer cross-multiplied
    // comparison, so flags are bit-identical across engines
    spec("q68_gopher_rules", ((s, d) =>
      TextAnalysis.gopherFlags(Tables.documents(s, d), "doc_id", "text")),
      // q68: same integer cross-multiplied rule arithmetic; newline split
      // via chr(10) (Spark's split("\n") regex sees a literal newline)
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
         |FROM f""".stripMargin),
    // q67: corpus-typicality — mean corpus frequency of each doc's
    // positional bigrams (the relational LM-perplexity stand-in: rare
    // bigram sequences ≈ noisy/generated text). Exact-count division
    // keeps the score cross-engine reproducible
    spec("q67_typicality", ((s, d) =>
      TextAnalysis.typicalityScores(Tables.documents(s, d), "doc_id", "text")),
      // q67: string bigrams re-derive the engine's hash groups (the
      // accepted 2^-64 collision pattern); positional multiplicity is the
      // point — the join carries one row per occurrence
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
      planNote = Some(
        "Typicality is two aggregations and one join over a SINGLE materialized bigram projection (localCheckpoint — the explode runs once, not once per consumer): corpus frequencies roll up with map-side partials, the scored join keys on the 8-byte bigram hash (corpus-sized side — shuffle join, the broadcast mistake doesn't arise), and the per-doc rollup is again partial-aggregated. No window, no sort, no N² anything — the LM-score stand-in costs two shuffles of counts at any corpus size.")),
    // q72: DSIR importance weights — every raw doc scored against the
    // doc_id % 23 slice as the "target domain" sample (deterministic,
    // the q53/q59 slice pattern); 512 hashed-bigram buckets. Fixed-point
    // integer logs make the weights hash-comparable cross-engine
    spec("q72_dsir_weights", ((s, d) => {
      val docs = Tables.documents(s, d)
      TextAnalysis.importanceWeights(docs,
        docs.filter(col("doc_id") % 23 === 0), "doc_id", "text",
        buckets = 512)
    }),
      // q72: the oracle recomputes the hashed-bigram buckets with the
      // portable polynomial hash, both smoothed count tables, and the
      // SAME fixed-point logs L(n) = floor(ln(n)*1e6) on integer
      // arguments — the sums are then exact 64-bit arithmetic on both
      // engines, and the display weight is one IEEE division
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
         |FROM agg""".stripMargin),
    // q75: DSIR step 2 — systematic resampling by the q72 weights,
    // shifted to positive integers (min-shift is rank-preserving; the
    // paper's exp() only rescales, and staying in 64-bit integers is
    // what keeps the resample bitwise cross-engine). k=128 picks.
    spec("q75_dsir_resample", ((s, d) => {
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
      // q75: q72's weight CTEs, min-shifted to positive integers, then the
      // systematic resampler as declarative SQL — global cumulative-weight
      // window lays the intervals, 128 interval-midpoint thresholds (exact
      // hugeint floor division) probe by containment. DuckDB's hugeint
      // sums make W·(2j+1) exact; Spark's side proves the same result
      // with BigInt driver thresholds + 64-bit laid intervals
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
         |GROUP BY 1, 2 ORDER BY 1""".stripMargin),
    // q124: BPE ENCODING against a fixed merge list (the trainer is q81
    // + BpeSpec; this is the apply side) — per-doc subword totals, with
    // a chained merge (t,a → ta,b) exercising merged-symbol reuse
    spec("q124_bpe_encode", ((s, d) =>
      graft.text.Bpe.encode(Tables.documents(s, d), "doc_id", "text",
        Seq(("e", "r"), ("i", "n"), ("s", "t"), ("t", "a"),
          ("ta", "b"), ("er", "g")))
        .select(col("doc_id"),
          size(col("subwords")).cast("long").as("n_subwords"),
          size(array_distinct(col("subwords"))).cast("long").as("n_distinct"))
        .orderBy("doc_id")),
      // q124: the merge fold as sequential non-overlapping replaces on a
      // one-guard-each, two-space-separated symbol string — per-symbol
      // private guards make DuckDB's input-scan replace EQUAL the
      // engine's left-to-right fold (shared-separator encodings are not
      // equal: adjacent matches overlap on the shared space)
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
        |FROM syms GROUP BY 1 ORDER BY 1""".stripMargin),
    // q66: exact-k stratified sample — exactly 20 docs per source by
    // the salted portable-hash coin (rate-based q55 gives a binomial
    // count; eval carving needs an exact one). Map-side top-k via
    // WindowGroupLimit, k·strata-bounded shuffle
    spec("q66_sample_exactk", ((s, d) =>
      TextAnalysis.sampleExactK(Tables.documents(s, d), "doc_id", "source",
        k = 20).select(col("doc_id"), col("source"))),
      // q66: same salted coin, same per-stratum rank with key tiebreak
      s"""WITH t AS (SELECT doc_id, source, CAST(doc_id AS VARCHAR) || '#exactk' AS tok FROM documents),
         |h AS (SELECT doc_id, source,
         |   ($polyAsql + ($polyBsql << 31)) % 1000000 AS coin FROM t),
         |r AS (SELECT doc_id, source,
         |   row_number() OVER (PARTITION BY source ORDER BY coin, doc_id) AS rn FROM h)
         |SELECT doc_id, source FROM r WHERE rn <= 20""".stripMargin,
      planNote = Some(
        "Exact-k stratified sampling without a global sort: the salted-coin rank windows per stratum, and row_number()<=k plans a PARTIAL WindowGroupLimit below the stratum exchange — every input partition forwards at most k rows per stratum, so the shuffle is k·strata-bounded no matter how big the corpus. The deterministic coin (portable polynomial hash, '#exactk' salt) keeps the sample reproducible and independent of the mix/split coins.")),
    // q57: deterministic train/val/test split assignment (80/10/10) on
    // the salted portable-hash coin — the partition every training
    // pipeline carves before anything else touches the corpus
    spec("q57_split_assign", ((s, d) =>
      TextAnalysis.assignSplits(Tables.documents(s, d), "doc_id")
        .select(col("doc_id"), col("split"))),
      // q57: the oracle recomputes the salted coin and the cumulative-ppm
      // CASE ladder (80/10/10)
      s"""WITH t AS (SELECT doc_id, CAST(doc_id AS VARCHAR) || '#split' AS tok FROM documents),
         |h AS (SELECT doc_id,
         |   ($polyAsql + ($polyBsql << 31)) % 1000000 AS coin FROM t)
         |SELECT doc_id, CASE WHEN coin < 800000 THEN 'train'
         |  WHEN coin < 900000 THEN 'val' ELSE 'test' END AS split
         |FROM h""".stripMargin),
    // q61: corpus vocabulary — df/tf per whitespace token, top 100 by
    // document frequency (the vocab-building / stopword-derivation /
    // DF-token-filter input). Two-level agg: (token, doc) pre-agg kills
    // hot-token skew before the per-token rollup
    spec("q61_vocab_df", ((s, d) =>
      TextAnalysis.vocabulary(Tables.documents(s, d), "doc_id", "text")
        .orderBy(col("df").desc, col("tf").desc, col("token"))
        .limit(100)),
      // tf over raw occurrences; same tokenizer as q43
      """WITH t AS (SELECT doc_id, unnest(regexp_split_to_array(trim(text), '\s+')) AS token
        |  FROM documents WHERE text IS NOT NULL),
        |p AS (SELECT token, doc_id, count(*) AS c FROM t WHERE token <> '' GROUP BY 1, 2)
        |SELECT token, count(*) AS df, CAST(sum(c) AS BIGINT) AS tf
        |FROM p GROUP BY token ORDER BY df DESC, tf DESC, token LIMIT 100""".stripMargin,
      planNote = Some(
        "Corpus vocabulary is word-count-shaped on purpose: the (token, doc) pre-aggregation runs with map-side partials BEFORE the per-token rollup, so a stopword appearing in half the corpus shuffles one row per (token, doc) — never its raw occurrences — and no count(distinct) appears anywhere (it would re-shuffle raw pairs). The top-100 is TakeOrderedAndProject, not a global sort.")),
    // q62: context-window chunking — 32-token windows at stride 24
    // (8-token overlap), the long-document split every training pipeline
    // runs before packing. Zero-shuffle plan: one explode per doc
    spec("q62_chunk_windows", ((s, d) =>
      TextAnalysis.chunkWindows(Tables.documents(s, d), "doc_id", "text",
        window = 32, stride = 24)),
      // q62: the oracle replays the same start-grid (range excludes the
      // stop, so start < n_tokens) and the same inclusive 1-based slice
      """WITH t AS (SELECT doc_id, regexp_split_to_array(trim(text), '\s+') AS toks
        |  FROM documents WHERE text IS NOT NULL),
        |s AS (SELECT doc_id, toks, unnest(range(0, len(toks), 24)) AS st FROM t)
        |SELECT doc_id, CAST(st // 24 AS BIGINT) AS chunk_id,
        |  CAST(st AS BIGINT) AS start,
        |  CAST(least(32, len(toks) - st) AS BIGINT) AS n_tokens,
        |  array_to_string(toks[st+1 : st + least(32, len(toks) - st)], ' ') AS chunk
        |FROM s""".stripMargin,
      planNote = Some(
        "Context-window chunking is the plan a per-document transform must have: scan → filter → generate (one explode of the stride grid) → project, ZERO exchanges. The token array materializes once per row and every chunk slices it; no window function, no join, nothing leaves the input partition.")),
    // q63: distinctive terms — per-doc top-3 keywords by tf/df (raw-idf
    // tf-idf: one IEEE division, bit-exact cross-engine; log-idf is a
    // library-parity hazard). Map-side top-k via WindowGroupLimit
    // pushdown (PlanSpec-pinned)
    spec("q63_distinctive_terms", ((s, d) =>
      TextAnalysis.distinctiveTerms(Tables.documents(s, d), "doc_id", "text",
        topK = 3)),
      // q63: same (token, doc) pre-agg, df rollup, tf/df score (one IEEE
      // division both engines), per-doc row_number with token tiebreak
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
      planNote = Some(
        "Keyword extraction: the (token, doc) pre-agg materializes ONCE (localCheckpoint) and feeds both the df rollup and the scored join; the join stays declarative — Catalyst broadcasts the df table at test SF and shifts to a shuffle join on token when the vocabulary outgrows the threshold. The property that actually carries the 100-TB load: row_number()<=k plans a PARTIAL WindowGroupLimit below the document exchange, so per-doc top-k runs map-side and the shuffle moves at most k rows per (doc, input partition). The tf/df score is one IEEE division of two exact integers — that is what makes the oracle hash-match.")),
    // q64: per-source corpus datasheet — docs/tokens/mean-quality/exact
    // median length per stratum (mean sums integer quality ppm, one
    // division; median is rank (n+1) div 2 in (n_tokens, doc_id) order)
    spec("q64_corpus_datasheet", ((s, d) =>
      TextAnalysis.corpusDatasheet(Tables.documents(s, d), "doc_id", "text",
        "source")),
      // q64: same integer quality-ppm ladder as q33/q56, summed exactly;
      // lower median replayed with the same (n_tokens, doc_id) row_number
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
      planNote = Some(
        "The per-stratum datasheet: one scored projection materializes once (localCheckpoint) and feeds a hash-agg rollup (map-side partials) plus the exact-median pick — a window PARTITIONED BY SOURCE, so strata rank in parallel and the strata-sized rollup broadcasts into the rank filter. Mean quality never sums doubles: it sums the integer ppm numerators and divides once, which is why the oracle hash-matches at every SF.")),
    // q50: PII scrub. The corpus contains no PII (verified: zero rows
    // with digits or '@'), so the query SYNTHESIZES a deterministic
    // email + IP + phone per row — identically on both engines — and
    // the oracle re-applies the same regex chain in SQL: every row is a
    // live cross-engine regex-parity check, not an identity pass
    spec("q50_pii_scrub", ((s, d) =>
      Tables.documents(s, d).select(col("doc_id"),
        TextAnalysis.piiScrub(concat(
          col("text"), lit(" contact user"), col("doc_id").cast("string"),
          lit("@mail.example.com or 10.0."),
          pmod(col("doc_id"), lit(256)).cast("string"),
          lit(".7 or 555-01"), col("doc_id").cast("string"), lit("99")))
          .as("scrubbed"))),
      // q50: same synthetic-PII augmentation, same ordered regex chain
      // (email → IP → phone) re-derived in SQL; 'g' = replace-all to
      // match Spark's regexp_replace semantics
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
        |FROM aug""".stripMargin),
    // q51: repetition profile (boilerplate/degenerate-text signal)
    spec("q51_repetition", ((s, d) =>
      TextAnalysis.repetitionStats(Tables.documents(s, d), "doc_id", "text",
        k = 2)),
      // q51: bigram counts from gram STRINGS (the engine counts 8-byte
      // gram hashes — value-equivalent, the grams never leave the engine).
      // NULL-text docs drop on BOTH sides: the engine's null-intolerant
      // hash kernel yields null → explode drops the row; the SQL filters
      // explicitly (its ELSE branch would otherwise emit a phantom gram)
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
      planNote = Some(
        "Two-level aggregation: explode to (doc, gram-hash) -> partial count per mapper -> one hash exchange -> per-doc max/sum. Gram VALUES never shuffle as strings (8-byte hashes), and map-side partial aggregation collapses repeated grams before the exchange — the repetition being measured is also what keeps the shuffle small.")),
    // q52: concat-and-chunk sequence packing, 512-token budget, packed
    // per hash bucket (parallel windows, no global ordering)
    spec("q52_seq_pack", ((s, d) =>
      TextAnalysis.packSequences(Tables.documents(s, d), "doc_id", "text",
        budget = 512, buckets = 8)),
      // q52: the same bucketed cumulative-sum packing re-derived with a
      // SQL window (PARTITION BY bucket = the engine's parallel shape)
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
        |FROM w""".stripMargin),
    // q79: BM25 top-k retrieval — the inverted-index probe ("docs about
    // X") a curation pipeline runs for retrieval audits and targeted
    // decontamination. Lucene-BM25 in exact fixed-point integers (the
    // q72 trick): per-term scores floor to micros BEFORE the per-doc
    // sum, so ranking is bit-identical cross-engine
    spec("q79_bm25_topk", ((s, d) =>
      Retrieval.bm25TopK(Tables.documents(s, d), "doc_id", "text",
        bm25Terms, 20)),
      // q79: the oracle replays the one-pass profile (dl + per-term tf),
      // the 1-row stats rollup, and the same fixed-point score arithmetic
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
      planNote = Some(
        "BM25 retrieval in three bounded moves: ONE token-stream pass builds the per-doc (dl, tf-per-term) profile as conditional aggregates (no join, hot tokens die map-side); corpus stats (N, T, df) are a 1-ROW rollup broadcast back via nested-loop; top-k is TakeOrderedAndProject. Per-term scores fix-point to integer micros BEFORE the per-doc sum — the ranking is bit-identical at any partitioning, and DECIMAL(38,0) products make the arithmetic overflow-proof at any corpus size.")),
    // q80: deterministic training-order shuffle + token-balanced output
    // shards — every ~2000-token run of the coin order is one shard
    // (the webdataset/TFRecord shard-writing step). Bucketed distributed
    // prefix-sum; the oracle's single global window pins it
    spec("q80_shard_assign", ((s, d) =>
      TextAnalysis.assignShards(Tables.documents(s, d), "doc_id", "text",
        targetTokens = 2000L)),
      // q80: the oracle lays the corpus on one global (coin, id) window —
      // exclusive running token sum = each doc's start offset — and cuts
      // shards by integer division, pinning the bucketed decomposition
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
      planNote = Some(
        "Token-balanced output sharding without a global sort: the deterministic coin lands each doc in a fixed coin-range bucket (uniform ⇒ balanced), per-bucket token totals return to the driver (bounded rows), and the cumulative window runs PER BUCKET in parallel — windowspecdefinition(__bkt), never an unpartitioned one. The broadcast base-offset join turns bucket-local prefix sums into exact global offsets; shard boundaries are all-integer, so the oracle's single global window hash-matches.")),
    // q127: exact phrase search over positional postings — "batch batch"
    // exercises both the repeated-term chain join and OVERLAPPING
    // occurrence counting ("batch batch batch" = two matches)
    spec("q127_phrase_search", ((s, d) =>
      Retrieval.phraseMatches(Tables.documents(s, d), "doc_id", "text",
        Seq("batch", "batch"))),
      // q127: phrase occurrences by brute list scan — every starting
      // position checked, so overlapping matches count exactly as the
      // engine's positional-postings chain join does
      s"""WITH t AS (SELECT doc_id, $tokensSql AS toks
         |  FROM documents WHERE text IS NOT NULL),
         |m AS (SELECT doc_id, len(list_filter(generate_series(1, len(toks)-1),
         |  i -> toks[i] = 'batch' AND toks[i+1] = 'batch')) AS n FROM t)
         |SELECT doc_id, CAST(n AS BIGINT) AS n_occurrences
         |FROM m WHERE n > 0""".stripMargin,
      planNote = Some(
        "Phrase search as posting-list intersection: the token stream filters to the PHRASE's tokens before anything joins (the checkpointed per-term postings are tiny next to the corpus), then the K lists chain-join on (doc, pos − offset) — narrow unique keys, no fan-out, no corpus self-join, and never a per-query regex scan of text. Occurrence counting is one hash aggregate on the surviving start positions.")),
    // q130: per-source quantile normalization of the quality score —
    // rank-ppm within source, ties share a percentile (rank(), not
    // row_number), all-integer arithmetic
    spec("q130_quantile_norm", ((s, d) =>
      graft.text.TextAnalysis.quantileNormalizeQuality(
        Tables.documents(s, d), "doc_id", "text", "source")),
      // q130: q33's integer-ppm quality replayed, then per-source rank()
      // percentile — ties share, nonnegative // is floor in both engines
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
      planNote = Some(
        "Cross-source quality calibration in ONE shuffle: the integer-ppm quality score computes on the scan, the source-partitioned rank() and count() share the same window exchange, and the percentile is exact integer floor division — no float ranks, no global sort, no second pass. The skew posture matches the domain cap: a source is a partition.")),
    // q131: character-entropy screen — fixed-point micro-nats, ln only
    // ever on integer counts, one floor division per doc
    spec("q131_char_entropy", ((s, d) =>
      graft.text.TextAnalysis.charEntropy(Tables.documents(s, d),
        "doc_id", "text")),
      // q131: per-(doc, char) counts, ln only on integer counts, the
      // cross term lnfp(N)·N − Σ c·lnfp(c) is ≥ 0 so // is floor
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
        |FROM a""".stripMargin),
    // q133: Gini concentration of token mass across sources — the
    // datasheet's one-number balance check; corpus collapses to one row
    // per source before any window
    spec("q133_source_gini", ((s, d) =>
      graft.text.TextAnalysis.sourceTokenGini(Tables.documents(s, d),
        "text", "source")),
      // q133: one row per source, mass-ascending ranks, the exact integer
      // Gini fold in HUGEINT (numerator is ≥ 0 by the ascending sort)
      s"""WITH s AS (SELECT source, CAST(sum(len($tokensSql)) AS BIGINT) AS x
         |  FROM documents WHERE text IS NOT NULL GROUP BY 1),
         |r AS (SELECT source, x, row_number() OVER (ORDER BY x, source) AS i
         |  FROM s),
         |a AS (SELECT count(*) AS n, sum(x) AS st,
         |  sum(CAST(i AS HUGEINT) * x) AS ix FROM r)
         |SELECT CAST(n AS BIGINT) AS n_sources, CAST(st AS BIGINT) AS total_tokens,
         |  CAST(((2 * ix - (n + 1) * st) * 1000000) // (n * st) AS BIGINT)
         |    AS gini_ppm
         |FROM a""".stripMargin),
    // q136: vocabulary drift between the even/odd snapshot halves —
    // exact integer ppm rates per side, top-20 by absolute delta (the
    // between-crawls data-drift monitor)
    spec("q136_term_drift", ((s, d) => {
      val docs = Tables.documents(s, d)
      graft.text.TextAnalysis.termDrift(
        docs.filter(col("doc_id") % 2 === 0),
        docs.filter(col("doc_id") % 2 === 1),
        "text", minCount = 1L, topK = 20)
    }),
      // q136: two token-count CTEs over the snapshot halves, full-outer
      // joined; ppm rates are nonneg integer floor divisions; the top-20
      // cutoff tiebreaks on token in both engines
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
         |FROM p ORDER BY delta_ppm DESC, token LIMIT 20""".stripMargin),
    // q146: reciprocal-rank fusion of two BM25 query variants — ranks,
    // not scores, enter the sum (⌊1e6/(60+r)⌋ integer contributions),
    // so runs fuse without calibration; lists-sized work end to end
    spec("q146_rrf_fusion", ((s, d) => {
      val docs = Tables.documents(s, d)
      Retrieval.rrfFuse(Seq(
        Retrieval.bm25Scores(docs, "doc_id", "text",
          Seq("vector", "hash", "scan")),
        Retrieval.bm25Scores(docs, "doc_id", "text",
          Seq("merge", "window", "stream"))),
        "doc_id", k0 = 60, topN = 100, topK = 20)
    }),
      // q146: two full BM25 scoring pipelines instantiated from the
      // shared fragments, ranked, truncated to top-100, fused with the
      // identical integer contributions
      s"""WITH b AS (SELECT doc_id, unnest(regexp_split_to_array(trim(text), '\\s+')) AS tok
         |  FROM documents WHERE text IS NOT NULL),
         |${bm25RankCtesFor(bm25Terms, "1", 100)},
         |${bm25RankCtesFor(bm25TermsAlt, "2", 100)},
         |u AS (SELECT doc_id, 1000000 // (60 + r) AS c FROM r1
         |  UNION ALL SELECT doc_id, 1000000 // (60 + r) FROM r2)
         |SELECT doc_id, CAST(sum(c) AS BIGINT) AS rrf_fp,
         |  CAST(count(*) AS BIGINT) AS n_lists
         |FROM u GROUP BY 1 ORDER BY rrf_fp DESC, doc_id LIMIT 20""".stripMargin),
    // q165: Unicode NFC normalization — the codegen'd NfcNormalize
    // expression over every document, proven byte-exact per doc via
    // md5 against DuckDB's nfc_normalize
    spec("q165_nfc_normalize", ((s, d) => {
      val docs = Tables.documents(s, d)
      val nfc = graft.functions.UnicodeExpressions.nfcNormalize(col("text"))
      docs.select(col("doc_id"),
        length(nfc).cast("long").as("n_chars_nfc"),
        md5(nfc.cast("binary")).as("nfc_md5"))
        .orderBy("doc_id")
    }),
      // q165: DuckDB's native nfc_normalize replays the expression; md5
      // over the normalized UTF-8 bytes pins byte-exact equivalence
      """SELECT doc_id,
        |  CAST(length(nfc_normalize(text)) AS BIGINT) AS n_chars_nfc,
        |  md5(nfc_normalize(text)) AS nfc_md5
        |FROM documents ORDER BY doc_id""".stripMargin),
    // q169: control/zero-width scrub — the byte-level codegen'd
    // StripControl expression, proven per doc via md5 against DuckDB's
    // RE2 replay of the same character class
    spec("q169_strip_control", ((s, d) => {
      val docs = Tables.documents(s, d)
      val clean = graft.functions.UnicodeExpressions.stripControl(col("text"))
      docs.select(col("doc_id"),
        length(clean).cast("long").as("n_chars_clean"),
        md5(clean.cast("binary")).as("clean_md5"))
        .orderBy("doc_id")
    }),
      // q169: RE2 replays the byte-level scrub as one character class;
      // md5 over the scrubbed UTF-8 bytes pins byte-exact equivalence
      """SELECT doc_id,
        |  CAST(length(regexp_replace(text,
        |    '[\x00-\x08\x0b\x0c\x0e-\x1f\x7f\x{200B}-\x{200D}\x{FEFF}]',
        |    '', 'g')) AS BIGINT) AS n_chars_clean,
        |  md5(regexp_replace(text,
        |    '[\x00-\x08\x0b\x0c\x0e-\x1f\x7f\x{200B}-\x{200D}\x{FEFF}]',
        |    '', 'g')) AS clean_md5
        |FROM documents ORDER BY doc_id""".stripMargin),
    // q180: Zipf rank-frequency slope over the top-1000 vocabulary head
    // — integer-ln fixed point, TakeOrderedAndProject head, k-row fit
    spec("q180_zipf_slope", ((s, d) =>
      graft.text.TextAnalysis.zipfSlope(Tables.documents(s, d),
        "doc_id", "text", topK = 1000)),
      // q180: same tokenizer, same (freq desc, token) head cut, same
      // integer-ln fixed point and HUGEINT cross-products; floor division
      // via the subtract-nonnegative-remainder idiom (slope is negative)
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
        |FROM s""".stripMargin),
    // q195: per-source n-gram diversity (type-token ratio) — corpus
    // self-repetition signal; word-count shape on (source, gram) keys
    spec("q195_ngram_diversity", ((s, d) =>
      TextAnalysis.ngramDiversity(Tables.documents(s, d), "source", "text")),
      // q195: same q43-family tokenizer, grams by index arithmetic;
      // plain // is floor here (both operands nonnegative)
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
        |FROM c GROUP BY 1 ORDER BY 1""".stripMargin),
    // q196: per-source unigram KL vs the pooled corpus — integer
    // fixed-point logs on counts (the zipfSlope discipline)
    spec("q196_source_kl", ((s, d) =>
      TextAnalysis.sourceKlDivergence(Tables.documents(s, d), "source",
        "text")),
      // q196: the L(n)=floor(ln(n)*1e6) integer fixed point on counts,
      // nonneg-remainder floor division (terms can be negative)
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
      planNote = Some(
        "Distribution divergence without a second corpus pass: the (source, token) rollup materializes once, token totals and source totals DERIVE from it (vocabulary-sized aggregates) and broadcast back, the grand total rides a 1-row nested-loop — and every log is the integer fixed point L(n)=floor(ln(n)*1e6) on counts, so the statistic hash-matches at any partitioning.")),
    // q201: language-id confusion matrix — the q32 heuristic evaluated
    // against the labeled lang column, one hash agg
    spec("q201_lang_confusion", ((s, d) =>
      Tables.documents(s, d)
        .select(col("lang"),
          TextAnalysis.languageId(col("text")).as("lang_pred"))
        .groupBy("lang", "lang_pred").agg(count(lit(1)).as("n_docs"))
        .orderBy("lang", "lang_pred")),
      // q201: the shared q32 heuristic rolled to a confusion matrix
      s"""WITH p AS ($langIdOracleSql)
         |SELECT lang, lang_pred, CAST(count(*) AS BIGINT) AS n_docs
         |FROM p GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin),
    // q211: per-source hapax legomena ratio — word-count shape, exact
    // integer ppm
    spec("q211_hapax_ratio", ((s, d) =>
      TextAnalysis.hapaxRatio(Tables.documents(s, d), "source", "text")),
      // q211: same tokenizer as q61; nonnegative counts so // floors
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
        |FROM a ORDER BY 1""".stripMargin),
    // q215: n-gram head coverage — the templatedness number: share of
    // occurrences the top-k types absorb, TakeOrdered head
    spec("q215_ngram_head_coverage", ((s, d) =>
      TextAnalysis.ngramHeadCoverage(Tables.documents(s, d), "text",
        n = 3, k = 1000)),
      // q215: q195's gram builder; head = top-1000 types by (count desc,
      // gram); nonnegative counts so // floors
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
        |FROM tot, h""".stripMargin),
    // q221: duplication trend over crawl order — exact-dup rate per
    // id-order decile (global-rank bands, hash-keyed first-id rollup)
    spec("q221_duplication_trend", ((s, d) =>
      TextAnalysis.duplicationTrend(Tables.documents(s, d), "doc_id",
        "text", buckets = 10)),
      // q221: same md5 digest, same first-id rule, same all-integer
      // decile bands ((rank-1)*10 // n + 1); counts nonnegative so //
      // floors
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
        |FROM d GROUP BY 1 ORDER BY 1""".stripMargin),
    // q223: token-length distribution — tokenizer calibration curve,
    // word-count shape
    spec("q223_token_length_dist", ((s, d) =>
      TextAnalysis.tokenLengthHistogram(Tables.documents(s, d), "text")),
      // q223: same tokenizer as q61; types then lengths
      """WITH t AS (SELECT unnest(regexp_split_to_array(trim(text), '\s+'))
        |    AS tok FROM documents WHERE text IS NOT NULL),
        |p AS (SELECT tok, count(*) AS tf FROM t WHERE tok <> '' GROUP BY 1)
        |SELECT CAST(length(tok) AS BIGINT) AS token_len,
        |  CAST(count(*) AS BIGINT) AS n_types,
        |  CAST(sum(tf) AS BIGINT) AS n_occurrences
        |FROM p GROUP BY 1 ORDER BY 1""".stripMargin),
    // q226: readability census — words/sentence + chars/word in exact
    // floored micros, pure column arithmetic into a source hash agg
    spec("q226_readability", ((s, d) =>
      TextAnalysis.readabilityCensus(Tables.documents(s, d), "source",
        "text")),
      // q226: same tokenizer as q61/q195; sentence = '[.!?]+' run count
      // floored at 1; corpus-level floored-micro ratios
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
      planNote = Some(
        "Readability inputs with ZERO explode: token counts, token-char sums, and sentence-ender counts all fold inside the array via higher-order functions (one projection, no Generate in the plan), so the shuffle carries three longs per document into a source-bounded hash agg — the cheapest possible shape for a corpus-wide census at 100 TB.")),
    // q227: Gopher dup-n-gram census — within-doc duplicate-bigram
    // occurrence mass + repetitive-doc counts per source
    spec("q227_dup_ngram_census", ((s, d) =>
      TextAnalysis.dupNgramCensus(Tables.documents(s, d), "source",
        "doc_id", "text")),
      // q227: q195's gram stream carried per doc; dup mass = occurrences
      // of gram types with count >= 2 within the doc
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
        |FROM p GROUP BY 1 ORDER BY 1""".stripMargin),
    // q229: cross-source duplicate-leakage matrix — shared distinct
    // opening passages (160-char prefix digest) per source pair off
    // ONE checkpointed (source, md5) relation
    spec("q229_cross_source_leakage", ((s, d) =>
      TextAnalysis.crossSourceLeakage(Tables.documents(s, d), "source",
        "text", prefixChars = 160)),
      // q229: same md5 digest as q221 over the 160-char opening prefix;
      // distinct (source, hash) first so shared passages count once/pair
      """WITH hs AS (SELECT DISTINCT source AS s,
        |    md5(substr(text, 1, 160)) AS h
        |  FROM documents WHERE text IS NOT NULL)
        |SELECT a.s AS source_a, b.s AS source_b,
        |  CAST(count(*) AS BIGINT) AS n_shared_texts
        |FROM hs a JOIN hs b ON a.h = b.h AND a.s < b.s
        |GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin),
    // q232: source vocabulary Jaccard — pairwise type-set overlap off
    // one (source, token) rollup, minCount prunes hapax noise
    spec("q232_vocab_overlap", ((s, d) =>
      TextAnalysis.sourceVocabularyOverlap(Tables.documents(s, d),
        "source", "text", minCount = 2L)),
      // q232: same tokenizer; count >= 2 prunes hapax; all pairs kept
      // (zero overlap -> 0 ppm)
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
        |ORDER BY 1, 2""".stripMargin),
    // q233: language-mix entropy per source — q131's fixed-point fold
    // at (source, lang) grain, the language-purity datasheet number
    spec("q233_lang_entropy", ((s, d) =>
      TextAnalysis.languageEntropy(Tables.documents(s, d), "source",
        "lang")),
      // q233: q131's integer-ln entropy fold at (source, lang) grain
      """WITH c AS (SELECT source, lang, count(*) AS c FROM documents
        |  WHERE lang IS NOT NULL GROUP BY 1, 2),
        |s AS (SELECT source, sum(c) AS n, count(*) AS k,
        |    sum(c * CAST(floor(ln(c) * 1000000) AS BIGINT)) AS wsum
        |  FROM c GROUP BY 1)
        |SELECT source, CAST(n AS BIGINT) AS n_docs,
        |  CAST(k AS BIGINT) AS n_langs,
        |  CAST((CAST(floor(ln(n) * 1000000) AS BIGINT) * n - wsum) // n
        |    AS BIGINT) AS lang_entropy_micro_nats
        |FROM s ORDER BY 1""".stripMargin),
    // q239: distinctive vocabulary per source — within-source vs corpus
    // rate lift, top-k over the aggregated relation, q196's one-rollup
    // totals rule
    spec("q239_distinctive_tokens", ((s, d) =>
      TextAnalysis.distinctiveTokens(Tables.documents(s, d), "source",
        "text", k = 10, minCount = 5L)),
      // q239: q196's one-rollup totals; lift cross-multiplied; ties
      // token-ascending
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
        |FROM r WHERE rank <= 10 ORDER BY 1, 2""".stripMargin),
    // q242: exact-dedup savings report — the keep-one-copy business
    // case per source, one (source, digest) rollup
    spec("q242_dedup_savings", ((s, d) =>
      TextAnalysis.dedupSavings(Tables.documents(s, d), "source",
        "text")),
      // q242: same md5 digest; copies are byte-identical so max(len)
      // per cluster is exact
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
        |FROM g GROUP BY 1 ORDER BY 1""".stripMargin),
    // q243: quality-threshold token-budget curve — q33's exact score,
    // global-rank deciles, cumulative retention in floored ppm
    spec("q243_quality_budget", ((s, d) =>
      TextAnalysis.qualityBudgetCurve(Tables.documents(s, d), "doc_id",
        "text", TextAnalysis.LangProfiles("en"))),
      // q243: q33's integer score replayed; same (rank-1)*10//n + 1
      // banding as q221; cumulative window over the 10-row decile table
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
         |FROM c ORDER BY 1""".stripMargin),
    // q90: BATCH BM25 — top-3 corpus docs for every query in a query
    // table (the doc_id % 97 slice queries the corpus it came from; each
    // query doc must rank itself first — a built-in relevance sanity).
    // The inverted-index JOIN formulation: cost = matching postings,
    // never queries × corpus
    spec("q90_bm25_batch", ((s, d) => {
      val docs = Tables.documents(s, d)
      Retrieval.bm25BatchTopK(docs, "doc_id", "text",
        docs.filter(col("doc_id") % 97 === 0), "doc_id", "text", k = 3)
    }),
      // q90: postings, per-doc lengths, corpus totals, per-token df, and
      // the query-term table all as CTEs; same fixed-point score as q79
      // per (query, doc, term); per-query rank cut at 3
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
      planNote = Some(
        "Batch retrieval as the inverted-index JOIN: postings (one checkpointed (token, doc, tf) table, read by both the df rollup and the scoring join) meet the exploded query-term table on token, so cost is (matching postings) — never queries × corpus. Per-(query, doc, term) scores fix-point to integer micros before the per-pair sum, and the per-query top-k is row_number()<=k with its PARTIAL WindowGroupLimit below the query exchange.")),
    // q88: chunk-granular duplication report — q86's content-defined
    // chunks grouped by hash across documents: the passage-level dedup
    // unit between single lines (q70) and k-gram islands (q58)
    spec("q88_duplicated_chunks", ((s, d) =>
      TextAnalysis.duplicatedChunks(Tables.documents(s, d), "doc_id",
        "text", k = 3, avgChunkGrams = 8, minDocs = 2, minTokens = 2)),
      // q88: the q86 chunk CTEs, then per-(hash, doc) pre-distinct and
      // the cross-doc rollup with the same minDocs/minTokens gates
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
         |FROM p GROUP BY 1 HAVING count(*) >= 2""".stripMargin),
    // q86: content-defined chunking — boundaries where the k-gram
    // rolling hash ≡ 0 (mod 8), so shared passages chunk identically
    // regardless of position (the dedup-friendly chunk unit fixed-stride
    // q62 can't give). Zero shuffle, one explode per doc
    spec("q86_content_chunks", ((s, d) =>
      TextAnalysis.contentChunks(Tables.documents(s, d), "doc_id", "text",
        k = 3, avgChunkGrams = 8)),
      // q86: same positional poly-hash grams as q44; boundary positions
      // by the same mod test; chunk spans between consecutive starts;
      // chunk_hash = the polynomial hash of the chunk string
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
      planNote = Some(
        "Content-defined chunking is scan-shaped: tokens, rolling k-gram hashes, boundary positions (hash ≡ 0 mod m), and chunk spans are all one projection plus one explode — ZERO exchanges, nothing leaves the input partition. Boundaries depend only on local content, so identical passages produce identical (joinable) chunk hashes at any document offset — the property fixed-stride chunking cannot give.")),
    // q84: per-domain quality cap (RefinedWeb-style) — each source
    // contributes at most its 25 BEST docs by quality. Map-side
    // WindowGroupLimit; the quality-ranked counterpart of q66
    spec("q84_domain_cap", ((s, d) =>
      TextAnalysis.capPerStratum(Tables.documents(s, d), "doc_id", "text",
        "source", k = 25)),
      // q84: q33's integer-ppm quality replayed, then a per-source
      // row_number cap in (quality desc, doc_id) order
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
         |SELECT doc_id, source, quality FROM r WHERE rn <= 25""".stripMargin),
    // q81: BPE pair statistics — the tokenizer-training primitive
    // (Sennrich 2016 get_stats): freq-weighted adjacent character-pair
    // counts over the word-frequency table, top-50. The iterative merge
    // loop (Bpe.trainMerges) reruns this each round; BpeSpec model-checks
    // the loop against an in-memory reference — this query pins the
    // distributed statistics it argmaxes over
    spec("q81_bpe_pair_counts", ((s, d) =>
      graft.text.Bpe.pairCounts(
        graft.text.Bpe.wordCounts(Tables.documents(s, d), "text")
          .withColumn("syms", graft.text.Bpe.initialSymbols(col("word"))))
        .orderBy(col("pair_count").desc, col("sym_a"), col("sym_b"))
        .limit(50)),
      // q81: the oracle rebuilds the word-frequency table, chars via
      // string_split (empty-filtered, the polySql guard), and every
      // adjacent position i -> (syms[i], syms[i+1]) — overlap included
      """WITH w AS (SELECT tok AS word, count(*) AS freq FROM (
        |   SELECT unnest(regexp_split_to_array(trim(text), '\s+')) AS tok
        |   FROM documents WHERE text IS NOT NULL) WHERE tok <> '' GROUP BY 1),
        |s AS (SELECT freq, list_filter(string_split(word, ''), c -> c <> '') AS syms FROM w),
        |p AS (SELECT freq, unnest(list_transform(generate_series(1, len(syms) - 1),
        |   i -> struct_pack(sym_a := syms[i], sym_b := syms[i + 1]))) AS pr
        | FROM s WHERE len(syms) >= 2)
        |SELECT pr.sym_a AS sym_a, pr.sym_b AS sym_b,
        |  CAST(sum(freq) AS BIGINT) AS pair_count
        |FROM p GROUP BY 1, 2 ORDER BY pair_count DESC, sym_a, sym_b LIMIT 50""".stripMargin),
  )
}
