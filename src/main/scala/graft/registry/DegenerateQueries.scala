package graft
package registry

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.analytics.Analytics
import graft.reconcile.Differ
import graft.text.{Dedup, Retrieval, TextAnalysis}
import graft.vector.Similarity
import Shared._

/** The q246–q258 adversarial corners: arithmetic overflow, degenerate
  * corpora, confusable evasion, cap truncation and NULL key/field
  * semantics, each aimed at an input regime the other queries never
  * reach. */
object DegenerateQueries extends QueryFamily("degenerate") {

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

  val specs: Seq[QuerySpec] = Seq(
    // q246: BM25 where the fixed-point numerator 22·tf·T·10⁶ exceeds
    // int64 (2.15·10¹⁹ for the alpha term) — the regime Retrieval's
    // DECIMAL(38,0) path exists for. A long-arithmetic engine would
    // wrap silently; the HUGEINT oracle proves the decimal path exact.
    spec("q246_bm25_overflow", ((s, d) =>
      Retrieval.bm25Scores(overflowBm25Corpus(s, d), "doc_id", "text",
        Seq("alpha", "beta"))),
      // q246: the q90 fixed-point BM25 replay over the synthetic overflow
      // corpus — every product in HUGEINT, so the oracle is exact exactly
      // where an int64 engine would wrap (22·tf·T·10⁶ = 2.15·10¹⁹)
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
         |FROM sc WHERE sfp > 0""".stripMargin),
    // q247: EVERY dedup family over an empty corpus and an all-NULL-text
    // corpus — zero pairs, no crash; the all-null corpus also PINS the
    // batch convention that NULL-text docs share one fingerprint group
    // (the streaming path deliberately differs — dedupExactStream gives
    // each null a passthrough key; both are documented choices)
    spec("q247_dedup_degenerate_empty", ((s, d) => {
      val docs = Tables.documents(s, d)
      val empty = docs.filter(col("doc_id") < 0).select("doc_id", "text")
      val nulls = docs.select(col("doc_id"),
        lit(null).cast("string").as("text"))
      dedupFamilyCounts("empty", empty)(s)
        .union(dedupFamilyCounts("all_null", nulls)(s))
    }),
      // q247: degenerate-corpus family battery — the empty corpus is
      // trivially all-zero; the all-NULL corpus pins the batch
      // convention (one NULL-fingerprint group, one survivor, no pairs)
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
        |UNION ALL SELECT 'all_null:jaccard_pairs', CAST(0 AS BIGINT)""".stripMargin),
    // q248: the same families over a ONE-document corpus: one group,
    // one survivor, zero pairs from every pair generator
    spec("q248_dedup_degenerate_single", ((s, d) => {
      val docs = Tables.documents(s, d)
      val one = docs
        .join(broadcast(docs.agg(min("doc_id").as("doc_id"))), Seq("doc_id"))
        .select("doc_id", "text")
      dedupFamilyCounts("single", one)(s)
    }),
      // q248: one-document corpus — one group, one survivor, no pairs
      """WITH nd AS (SELECT CASE WHEN count(*) > 0 THEN 1 ELSE 0 END AS h FROM documents)
        |SELECT 'single:exact_groups' AS family, CAST(h AS BIGINT) AS n FROM nd
        |UNION ALL SELECT 'single:exact_kept', CAST(h AS BIGINT) FROM nd
        |UNION ALL SELECT 'single:minhash_pairs', CAST(0 AS BIGINT)
        |UNION ALL SELECT 'single:simhash_pairs', CAST(0 AS BIGINT)
        |UNION ALL SELECT 'single:jaccard_pairs', CAST(0 AS BIGINT)""".stripMargin),
    // q249: 40 byte-identical documents under distinct ids — every pair
    // generator must emit exactly C(40,2) = 780 pairs at similarity
    // EXACTLY 1 (the integer-set jaccard of identical shingle sets is
    // sz/sz), survivorship keeps exactly one; the embedding-cosine
    // family gets 40 clones of one vector through the block-pair
    // all-pairs kernel
    spec("q249_dedup_degenerate_identical", ((s, d) => {
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
      // q249: 40 identical docs/vectors — C(40,2) = 780 pairs per family,
      // similarity exactly 1 (so the ppm sums are 780·10⁶), one survivor
      """WITH c AS (SELECT count(*) AS m FROM (SELECT doc_id FROM documents ORDER BY doc_id LIMIT 40))
        |SELECT 'exact_groups' AS family, CAST(CASE WHEN m > 0 THEN 1 ELSE 0 END AS BIGINT) AS n FROM c
        |UNION ALL SELECT 'exact_kept', CAST(CASE WHEN m > 0 THEN 1 ELSE 0 END AS BIGINT) FROM c
        |UNION ALL SELECT 'minhash_pairs', CAST(m*(m-1)//2 AS BIGINT) FROM c
        |UNION ALL SELECT 'minhash_jaccard_ppm', CAST(m*(m-1)//2 * 1000000 AS BIGINT) FROM c
        |UNION ALL SELECT 'simhash_pairs', CAST(m*(m-1)//2 AS BIGINT) FROM c
        |UNION ALL SELECT 'jaccard_pairs', CAST(m*(m-1)//2 AS BIGINT) FROM c
        |UNION ALL SELECT 'jaccard_ppm', CAST(m*(m-1)//2 * 1000000 AS BIGINT) FROM c
        |UNION ALL SELECT 'cosine_pairs', CAST(m*(m-1)//2 AS BIGINT) FROM c""".stripMargin),
    // q250: decontamination vs the Cyrillic-homoglyph evasion — eval
    // docs re-typed with а/е/о/с/р (identical glyphs, different
    // codepoints) carry ZERO raw shingle hits; folding BOTH sides
    // through the confusable table restores every collision, so
    // hits_folded equals the doc's full distinct-shingle count
    spec("q250_decontaminate_confusable", ((s, d) => {
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
      // q250: both contamination passes replayed on shingle STRINGS (hash
      // equality ⟺ string equality on these sets): raw 8-gram windows of
      // the attacked text vs the eval set, then the same with both sides
      // folded through the confusable translate
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
         |FROM att LEFT JOIN rawh USING (doc_id) LEFT JOIN foldh USING (doc_id)""".stripMargin),
    // q251: the funnel cap's bound-vs-exact split as an ORACLE row —
    // 1-day gap sessions at maxStamps=4 guarantee n_truncated > 0 at
    // every tested SF (24/226/2170 sessions past the 2·maxStamps = 8
    // amortized-cut threshold at sf0.001/0.01/0.1), and the batch
    // recomputation (gap islands → exact fold at ≤ 8 step events,
    // (t, idx)-least-4 prefix fold past it) must hash-match DuckDB's
    // chained-min replay of the SAME cut rule, proving the truncated
    // column reports a bound rather than folding it into exact counts
    spec("q251_funnel_truncation_rollup", ((s, d) =>
      graft.analytics.StreamingAnalytics.sessionFunnelRollup(
        Analytics.sessionFunnelCapped(Tables.events(s, d), "user_id",
          "event_type", "ts", "event_id",
          Seq("view", "click", "purchase"), gapUs = 86400000000L,
          maxStamps = 4),
        Seq("view", "click", "purchase"))),
      // q251: the q186 island/chained-min machinery with the stream's
      // amortized cut rule — sessions at ≤ 8 step events fold EXACTLY
      // (the sort-truncate never fired), past 8 only the (t, idx)-least
      // 4 are kept and the session is flagged truncated
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
        |GROUP BY v.step ORDER BY v.step""".stripMargin),
    // q252: tf-idf cosine where w = tf·10⁶ div df reaches 4·10⁹ and
    // both w² (1.6·10¹⁹) and the dot product (1.4·10¹⁹) exceed int64 —
    // the corner that forced the norm/dot arithmetic into
    // DECIMAL(38,0) (a long would wrap; DuckDB BIGINT would error)
    spec("q252_tfidf_overflow", ((s, d) =>
      TextAnalysis.tfidfCosinePairs(overflowTfidfCorpus(s, d),
        "doc_id", "text", topM = 5, threshold = 0.5)),
      // q252: the q99 replay with HUGEINT norms/dots — exact exactly
      // where the engine's DECIMAL(38,0) path is exercised
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
        |WHERE CAST(dp AS DOUBLE) / (sqrt(CAST(na.n2 AS DOUBLE)) * sqrt(CAST(nb.n2 AS DOUBLE))) >= 0.5""".stripMargin),
    // q253: rank quantiles over a single row (every quantile = that
    // row) and over an empty input (NULL values, not a crash) — the
    // degenerate ends of the A10 latency-quantile operator
    spec("q253_quantiles_degenerate", ((s, d) => {
      val ev = Tables.events(s, d)
      val one = ev
        .join(broadcast(ev.agg(min("event_id").as("event_id"))),
          Seq("event_id"))
      Analytics.rankQuantiles(one, "value", Seq(0.5, 0.95, 0.99))
        .union(Analytics.rankQuantiles(ev.filter(lit(false)), "value",
          Seq(0.5)))
    }),
      // q253: single-row quantiles (rank 1 at every q) plus the empty
      // input's one (0.5, NULL) row
      """WITH one AS (SELECT value FROM events
        |  WHERE event_id = (SELECT min(event_id) FROM events))
        |SELECT CAST(0.5 AS DOUBLE) AS quantile, CAST(value AS DOUBLE) AS value FROM one
        |UNION ALL SELECT CAST(0.95 AS DOUBLE), CAST(value AS DOUBLE) FROM one
        |UNION ALL SELECT CAST(0.99 AS DOUBLE), CAST(value AS DOUBLE) FROM one
        |UNION ALL SELECT CAST(0.5 AS DOUBLE), CAST(NULL AS DOUBLE)""".stripMargin),
    // q254: reconciliation under NULL keys on BOTH sides — the
    // reference's pre-flight quarantine (differ.py:565-571) counted
    // next to the full-outer's convention that a NULL key matches
    // nothing (each null-key row surfaces as missing/extra, never as a
    // spurious null-null match)
    spec("q254_differ_null_keys", ((s, d) => {
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
      // q254: full outer on the NULLed keys — a NULL key matches nothing,
      // so each such row counts as missing/extra; quarantine counts ride
      // alongside
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
         |UNION ALL SELECT 'tgt_null_keys', CAST(count(*) AS BIGINT) FROM tgt WHERE k IS NULL""".stripMargin),
    // q255: the comparison kernel's NULL field semantics (reference
    // test_comparer NULL cases): both-NULL compares EQUAL (no diff
    // row), exactly-one-NULL is a named per-field mismatch
    spec("q255_comparer_null_fields", ((s, d) => {
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
      // q255: per-field NULL semantics — only rows where o_orderstatus
      // differs under null-safe equality appear, with the NULL side NULL
      """WITH src AS (SELECT o_orderkey,
        |    CASE WHEN o_orderkey % 3 = 0 THEN NULL ELSE o_orderstatus END AS st
        |  FROM orders WHERE o_orderkey % 7 <> 0),
        |tgt AS (SELECT o_orderkey,
        |    CASE WHEN o_orderkey % 4 = 0 THEN NULL ELSE o_orderstatus END AS st
        |  FROM orders WHERE o_orderkey % 5 <> 0)
        |SELECT s.o_orderkey, s.st AS src_value, t.st AS tgt_value
        |FROM src s JOIN tgt t USING (o_orderkey)
        |WHERE NOT (s.st IS NOT DISTINCT FROM t.st)""".stripMargin),
    // q257: BM25's degenerate ends — query terms that appear in NO
    // document (every score_fp is 0 and filtered: the engine must not
    // emit zero-score rows or crash on df=0 idf arithmetic) and an
    // empty corpus (the 1-row stats rollup sees n=0)
    spec("q257_bm25_degenerate", ((s, d) => {
      val docs = Tables.documents(s, d)
      famCount("no_hit_terms",
          Retrieval.bm25Scores(docs, "doc_id", "text",
            Seq("zzqqxx", "qqzzyy")))(s)
        .union(famCount("empty_corpus",
          Retrieval.bm25Scores(docs.filter(col("doc_id") < 0),
            "doc_id", "text", Seq("alpha")))(s))
    }),
      // q257: both degenerate ends are provably empty — zero-score docs
      // are filtered, an empty corpus yields no postings
      """SELECT 'no_hit_terms' AS family, CAST(0 AS BIGINT) AS n
        |UNION ALL SELECT 'empty_corpus', CAST(0 AS BIGINT)""".stripMargin),
    // q258: the cap-off parity pin — sessionFunnelCapped with a cap no
    // session reaches must equal the UNCAPPED q186 report exactly
    // (sessions column identical, n_truncated identically 0): the
    // bound-vs-exact split degrades to the exact census when the cap
    // never fires
    spec("q258_funnel_cap_exact_parity", ((s, d) =>
      graft.analytics.StreamingAnalytics.sessionFunnelRollup(
        Analytics.sessionFunnelCapped(Tables.events(s, d), "user_id",
          "event_type", "ts", "event_id",
          Seq("view", "click", "purchase"), gapUs = 1800000000L,
          maxStamps = 1000000),
        Seq("view", "click", "purchase"))),
      // q258: the q186 chained-min replay verbatim, with the truncation
      // column identically zero — the cap-off parity proof
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
        |ORDER BY step""".stripMargin),
    // q256: every document truncated BELOW the shingle size k=3 — the
    // whole-text fallback shingle carries the entire pair pipeline, so
    // pairs are exactly the equal-truncation groups (jaccard 1);
    // aggregated to (count, id-checksum) because hot two-token openings
    // fan out large groups
    spec("q256_short_doc_jaccard", ((s, d) => {
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
      // q256: pairs = equal-truncation groups (the whole-text fallback
      // shingle), reduced to the same (count, checksum) aggregate — each
      // member of a g-group appears in g−1 pairs
      """WITH t AS (SELECT doc_id,
        |    array_to_string((regexp_split_to_array(trim(text), '\s+'))[1:2], ' ') AS tt
        |  FROM documents WHERE text IS NOT NULL),
        |g AS (SELECT tt, count(*) AS g, sum(doc_id) AS sids FROM t GROUP BY 1)
        |SELECT CAST(coalesce(sum(g*(g-1)//2), 0) AS BIGINT) AS n_pairs,
        |  CAST(coalesce(sum((g-1)*sids), 0) AS BIGINT) AS id_checksum FROM g""".stripMargin),
  )
}
