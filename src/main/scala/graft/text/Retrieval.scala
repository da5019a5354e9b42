package graft.text

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import graft.functions.Exact._

/** Full-text retrieval over the `documents` table: BM25 scoring against
  * a fixed set of query terms, the inverted-index probe a curation
  * pipeline uses to find "docs about X" without re-scanning text.
  *
  * Reference analog: the warehouse's validation analytics answer
  * "which rows satisfy predicate X" declaratively
  * (`docker/postgres/init.sql:323-488`); this is the text-corpus
  * counterpart a training-data pipeline needs (retrieval audits,
  * targeted decontamination, topic probes).
  *
  * Cross-engine exactness: BM25 is a sum of per-term ratios — float
  * association poison. Here every per-term score is computed in exact
  * integer arithmetic and fixed-pointed BEFORE the per-doc sum:
  *
  *   idf_fp(t)  = L(2N+2) − L(2·df(t)+1)            (Lucene BM25+, ≥ 0)
  *   tf_fp(t,d) = ⌊ 22·tf·T·10⁶ / (10·T·tf + 3·T + 9·dl·N) ⌋
  *   score_fp   = Σ_t ⌊ idf_fp · tf_fp / 10⁶ ⌋
  *
  * where `L(n) = floor(ln(n)·10⁶)` runs on integer arguments only (the
  * q72 DSIR trick), and the tf term is k1=1.2, b=0.75 cross-multiplied
  * through by `10·T` (T = corpus tokens, N = docs, dl = doc length):
  *   tf·(k1+1) / (tf + k1·(1−b+b·dl/avgdl)),  avgdl = T/N.
  * Every quantity is a nonnegative integer, so truncating division is
  * floor division in any engine, and the per-doc sum is exact 64-bit
  * addition in any association order. Products run in DECIMAL(38,0) —
  * at a 100-TB corpus `22·tf·T·10⁶` overflows a long (T ~ 10¹³); the
  * decimal path is exact at any corpus size.
  *
  * Scale shape: ONE pass over the token stream builds the per-doc
  * (dl, tf per term) profile — conditional aggregates, no join, hot
  * tokens die in map-side partials. Corpus stats (N, T, df per term)
  * are a 1-row rollup OF that profile, broadcast back via a 1×1 cross
  * join. Top-k is TakeOrderedAndProject — never a global sort.
  */
object Retrieval {

  // tf/df columns are named by TERM INDEX, never by the term itself —
  // a term containing `.` or a backtick would make col("__tf_$term")
  // resolve as a nested-field/invalid reference and throw; the term
  // text appears only inside the when() predicate as a literal
  private def tfCol(i: Int) = s"__tf_$i"
  private def dfCol(i: Int) = s"__df_$i"

  /** Per-document BM25 profile: one token-stream pass → (id, dl,
    * tf per query term — `__tf_<i>` in `terms` order). Exposed for
    * composition (e.g. scoring the same profile against several term
    * sets). */
  def bm25Profile(docs: DataFrame, idCol: String, textCol: String,
      terms: Seq[String]): DataFrame = {
    require(terms.nonEmpty, "terms must be non-empty")
    require(terms.distinct == terms, s"duplicate query terms: $terms")
    val toks = docs.filter(col(textCol).isNotNull)
      .select(col(idCol).as("__id"),
        explode(TextAnalysis.tokens(col(textCol))).as("__tok"))
      .filter(col("__tok") =!= "")
    val aggs = count(lit(1)).as("__dl") +: terms.zipWithIndex.map {
      case (t, i) => sum(when(col("__tok") === t, 1L).otherwise(0L)).as(tfCol(i))
    }
    toks.groupBy("__id").agg(aggs.head, aggs.tail: _*)
  }

  /** BM25 scores for every document matching ≥1 query term:
    * `(idCol, score_fp, score)` with `score = score_fp / 10⁶` (one
    * IEEE division, display only). */
  def bm25Scores(docs: DataFrame, idCol: String, textCol: String,
      terms: Seq[String]): DataFrame = {
    val perDoc = bm25Profile(docs, idCol, textCol, terms)
    // corpus stats: N, T, df per term — ONE row, broadcast
    val statAggs = count(lit(1)).as("__n") +: sum("__dl").as("__t") +:
      terms.indices.map(i =>
        sum(when(col(tfCol(i)) > 0L, 1L).otherwise(0L)).as(dfCol(i)))
    val stats = perDoc.agg(statAggs.head, statAggs.tail: _*)
    val termScore: Int => Column = { i =>
      val tf = col(tfCol(i)); val df = col(dfCol(i))
      val n = col("__n"); val tt = col("__t"); val dl = col("__dl")
      val idfFp = lfp(lit(2L) * n + lit(2L)) - lfp(lit(2L) * df + lit(1L))
      val num = dec(lit(22L)) * dec(tf) * dec(tt) * dec(lit(1000000L))
      val den = dec(lit(10L)) * dec(tt) * dec(tf) + dec(lit(3L)) * dec(tt) +
        dec(lit(9L)) * dec(dl) * dec(n)
      // tf = 0 ⇒ num = 0 ⇒ term contributes 0 (den is always > 0)
      fdivDec(dec(idfFp) * fdivDec(num, den), dec(lit(1000000L))).cast("long")
    }
    perDoc.crossJoin(broadcast(stats))
      .select(col("__id").as(idCol),
        terms.indices.map(termScore).reduce(_ + _).as("score_fp"))
      .filter(col("score_fp") > 0L)
      .withColumn("score", col("score_fp").cast("double") / lit(1000000.0))
  }

  /** Top-k retrieval: highest BM25 score first, id tiebreak.
    * TakeOrderedAndProject — the limit rides the shuffle, never a
    * global sort. */
  def bm25TopK(docs: DataFrame, idCol: String, textCol: String,
      terms: Seq[String], k: Int): DataFrame = {
    require(k > 0, s"k must be positive, got $k")
    bm25Scores(docs, idCol, textCol, terms)
      .orderBy(col("score_fp").desc, col(idCol))
      .limit(k)
  }

  /** Batch BM25: top-`k` corpus documents for EVERY query in a query
    * table — the retrieval-audit shape (one query per eval document,
    * say) where per-query conditional aggregates ([[bm25Scores]]) stop
    * scaling. This is the inverted-index JOIN formulation: corpus
    * postings meet the exploded query-term table on `token`, so cost is
    * (matching postings), not (queries × corpus).
    *
    * Same fixed-point arithmetic as [[bm25Scores]] — integer micros per
    * (query, doc, term) BEFORE the per-(query, doc) sum — so rankings
    * hash-match cross-engine. Per-query top-k is `row_number() <= k`
    * with its map-side PARTIAL WindowGroupLimit.
    *
    * Scale shape: postings and query terms join on token (broadcast
    * while the query set is small, shuffle-on-token at scale); df
    * arrives from a vocabulary rollup of the postings (map-side
    * partials, no count-distinct); corpus totals broadcast as one row.
    * Nothing is quadratic in queries or corpus.
    *
    * Storage discipline: the SCORED postings table materializes via an
    * internal `localCheckpoint` whose blocks the API cannot release
    * itself: they must outlive the caller's terminal action. The
    * result plan carries the checkpoint as a `LogicalRDD` leaf, so
    * after consuming the result call [[graft.util.Materialized.release]]
    * on it (or [[graft.util.Materialized.sweep]] the session, as the
    * bench does between timings); a long-lived JVM that skips this
    * accumulates one scored-postings copy per invocation. (The raw
    * postings checkpoint that feeds the df/dl rollups is released
    * internally once the scored table is materialized.) */
  def bm25BatchTopK(docs: DataFrame, idCol: String, textCol: String,
      queries: DataFrame, queryIdCol: String, queryTextCol: String,
      k: Int): DataFrame = {
    require(k > 0, s"k must be positive, got $k")
    val postings = postingsIndex(docs, idCol, textCol) // (token, doc_id, tf)
      .localCheckpoint() // read thrice: df rollup, dl rollup, scoring
    val dl = postings.groupBy("doc_id").agg(sum("tf").as("__dl"))
    val tot = dl.agg(count(lit(1)).as("__n"), sum("__dl").as("__t"))
    val dfT = postings.groupBy("token").agg(count(lit(1)).as("__df"))
    val qTerms = queries.filter(col(queryTextCol).isNotNull)
      .select(col(queryIdCol).as("__qid"),
        explode(TextAnalysis.tokens(col(queryTextCol))).as("token"))
      .filter(col("token") =!= "").distinct()
    // per-(token, doc) scores are QUERY-INDEPENDENT — fix-point them on
    // the postings-sized table BEFORE the query join, and MATERIALIZE
    // them (eager localCheckpoint): left lazy, the join's codegen
    // defers this non-key projection into the per-match consume path,
    // re-evaluating the decimal(38) score arithmetic once per (query,
    // doc, term) FAN-OUT row instead of once per posting — measured
    // 2.2× end-to-end on the q90 shape (19.6 s → 8.9 s at sf0.1,
    // identical results). The fan-out then carries a pre-computed long.
    val scoredPostings = postings
      .join(dfT, "token")
      .join(dl, "doc_id")
      .crossJoin(broadcast(tot))
      .select(col("token"), col("doc_id"), {
        val idfFp = lfp(lit(2L) * col("__n") + lit(2L)) -
          lfp(lit(2L) * col("__df") + lit(1L))
        val num = dec(lit(22L)) * dec(col("tf")) * dec(col("__t")) * dec(lit(1000000L))
        val den = dec(lit(10L)) * dec(col("__t")) * dec(col("tf")) +
          dec(lit(3L)) * dec(col("__t")) +
          dec(lit(9L)) * dec(col("__dl")) * dec(col("__n"))
        fdivDec(dec(idfFp) * fdivDec(num, den), dec(lit(1000000L)))
          .cast("long").as("__s")
      })
      .localCheckpoint()
    // the raw postings blocks fed the rollups and the scored table —
    // nothing in the RESULT plan references them anymore, so release
    // now instead of making the caller hold two checkpoints
    graft.util.Materialized.release(postings)
    val scoredTerms = scoredPostings.join(qTerms, "token")
      .select(col("__qid"), col("doc_id"), col("__s"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("__qid").orderBy(col("score_fp").desc, col("doc_id"))
    scoredTerms.groupBy("__qid", "doc_id").agg(sum("__s").as("score_fp"))
      .filter(col("score_fp") > 0L)
      .withColumn("__rn", row_number().over(w))
      .filter(col("__rn") <= k).drop("__rn")
      .select(col("__qid").as("query_id"), col("doc_id"), col("score_fp"))
  }

  /** Inverted index: `(token, doc_id, tf)` posting rows, optionally
    * written to parquet partitioned by a token shard (64 dirs) so a
    * term probe prunes at file listing — the durable-index pattern of
    * [[Dedup.shingleIndex]]. Returns the (possibly re-read) postings. */
  def postingsIndex(docs: DataFrame, idCol: String, textCol: String,
      path: Option[String] = None): DataFrame = {
    val postings = docs.filter(col(textCol).isNotNull)
      .select(col(idCol).as("doc_id"),
        explode(TextAnalysis.tokens(col(textCol))).as("token"))
      .filter(col("token") =!= "")
      .groupBy("token", "doc_id").agg(count(lit(1)).as("tf"))
    path match {
      case Some(p) =>
        val spark = docs.sparkSession
        postings.withColumn("shard", pmod(hash(col("token")), lit(64)))
          .write.mode("overwrite").partitionBy("shard").parquet(p)
        spark.read.parquet(p).drop("shard")
      case None => postings
    }
  }

  /** Reciprocal-rank fusion (Cormack, Clarke & Buettcher 2009) of
    * top-N ranked lists: `rrf_fp(doc) = Σ_lists ⌊10⁶ / (k0 + rank)⌋`
    * — the standard way to combine retrieval runs (query variants,
    * BM25 + dense, multi-field) without score calibration, because
    * only RANKS enter the sum. Exact integer contract: each
    * contribution is one floor division of positive integers, the sum
    * is 64-bit exact in any order — rankings fuse bit-identically in
    * any engine. `n_lists` reports how many lists carried the doc.
    *
    * Scale shape: each input ranking is already top-N (bounded — the
    * practical RRF formulation fuses LISTS, not full scorings), so the
    * per-list rank window and the fusion hash-agg run on lists-sized
    * data regardless of corpus size; the final top-k is
    * TakeOrderedAndProject. Rankings order by (score_fp desc, id) —
    * the caller's lists must be deterministic for the fusion to be.
    *
    * Input contract: every ranking must carry `idCol` and an integer
    * `score_fp` column (the fixed-point score convention of
    * [[bm25TopK]] et al.). Rows with `score_fp <= 0` are EXCLUDED
    * before ranking — a zero/negative fixed-point score means "did not
    * match", and RRF fuses match lists, not full scorings. */
  def rrfFuse(rankings: Seq[DataFrame], idCol: String, k0: Int = 60,
      topN: Int = 100, topK: Int = 20): DataFrame = {
    require(rankings.nonEmpty, "rankings must be non-empty")
    require(k0 >= 1 && topN >= 1 && topK >= 1,
      s"k0/topN/topK must be positive, got $k0/$topN/$topK")
    rankings.zipWithIndex.foreach { case (r, i) =>
      require(r.columns.contains("score_fp") && r.columns.contains(idCol),
        s"ranking #$i must carry columns '$idCol' and 'score_fp' " +
          s"(fixed-point score; the bm25TopK convention); got " +
          r.columns.mkString("[", ", ", "]"))
    }
    val contribs = rankings.map { r =>
      val w = org.apache.spark.sql.expressions.Window
        .orderBy(col("score_fp").desc, col(idCol))
      r.filter(col("score_fp") > 0L)
        .orderBy(col("score_fp").desc, col(idCol)).limit(topN)
        .select(col(idCol), row_number().over(w).as("__r"))
        .select(col(idCol),
          expr(s"1000000L div (${k0}L + __r)").as("__c"))
    }.reduce(_ unionByName _)
    contribs.groupBy(idCol)
      .agg(sum("__c").as("rrf_fp"), count(lit(1)).as("n_lists"))
      .orderBy(col("rrf_fp").desc, col(idCol))
      .limit(topK)
  }

  /** Exact phrase search over positional postings: documents where the
    * query tokens appear CONSECUTIVELY, with the occurrence count
    * (overlapping occurrences count — each starting position is one
    * occurrence, so "batch batch batch" holds two "batch batch"-es).
    * The positional-index counterpart of [[bm25TopK]]'s bag-of-words
    * probe: targeted decontamination and quote-hunting need "this
    * exact phrase", not "these terms somewhere".
    *
    * Scale shape: the positional postings are filtered to the phrase's
    * tokens BEFORE any join — per-term posting lists, tiny next to the
    * corpus — then the K lists chain-join on `(doc, pos − offset)`,
    * exactly the posting-intersection a search engine runs. Each join
    * keys on (doc, pos): narrow rows, no fan-out (a (doc, pos) pair is
    * unique per list). Never a corpus self-join, never a regex scan
    * per query. The filtered postings materialize once
    * (`localCheckpoint`) instead of re-tokenizing the corpus K times;
    * same caller-release discipline as [[bm25BatchTopK]]'s postings. */
  def phraseMatches(docs: DataFrame, idCol: String, textCol: String,
      phrase: Seq[String]): DataFrame = {
    require(phrase.nonEmpty, "phrase must be non-empty")
    require(phrase.forall(_.nonEmpty), s"empty token in phrase: $phrase")
    val post = docs.filter(col(textCol).isNotNull)
      .select(col(idCol).as("__id"),
        posexplode(TextAnalysis.tokens(col(textCol))))
      .filter(col("col").isin(phrase.distinct: _*))
      .select(col("__id"), col("pos"), col("col").as("__tok"))
    // single-term phrases never re-read the postings — skip the
    // checkpoint entirely; multi-term chains read them K times
    val posted = if (phrase.size > 1) post.localCheckpoint() else post
    val first = posted.filter(col("__tok") === phrase.head)
      .select(col("__id"), col("pos"))
    val matched = phrase.zipWithIndex.drop(1).foldLeft(first) {
      case (acc, (t, i)) =>
        acc.join(posted.filter(col("__tok") === t)
            .select(col("__id"), (col("pos") - i).as("pos")),
          Seq("__id", "pos"))
    }
    matched.groupBy(col("__id").as(idCol))
      .agg(count(lit(1)).as("n_occurrences"))
  }

  /** Exact-phrase hits for a LIST of phrases in one corpus pass — the
    * targeted-decontamination shape ([[phraseMatches]] run per quote
    * would tokenize the corpus once per phrase). One positional-postings
    * scan filtered to the union of all phrase tokens, localCheckpoint'ed,
    * then each phrase's adjacency chain joins against those shared
    * (bounded: only audit-relevant tokens) postings. Returns one row per
    * (doc, phrase) with the occurrence count; `phrase_idx` indexes into
    * `phrases`.
    *
    * Scale shape: the corpus-sized stage is the single tokenize+filter
    * pass; everything after runs on postings for quote vocabulary only.
    * Docs whose ids land in multiple phrases appear once per phrase —
    * callers dropping matches anti-join on the distinct ids. */
  def phraseMatchesAny(docs: DataFrame, idCol: String, textCol: String,
      phrases: Seq[Seq[String]]): DataFrame = {
    require(phrases.nonEmpty, "phrases must be non-empty")
    phrases.foreach(p => require(p.nonEmpty && p.forall(_.nonEmpty),
      s"every phrase must be non-empty with non-empty tokens: $p"))
    val vocab = phrases.flatten.distinct
    val posted = docs.filter(col(textCol).isNotNull)
      .select(col(idCol).as("__id"),
        posexplode(TextAnalysis.tokens(col(textCol))))
      .filter(col("col").isin(vocab: _*))
      .select(col("__id"), col("pos"), col("col").as("__tok"))
      .localCheckpoint()
    phrases.zipWithIndex.map { case (phrase, pi) =>
      val first = posted.filter(col("__tok") === phrase.head)
        .select(col("__id"), col("pos"))
      val matched = phrase.zipWithIndex.drop(1).foldLeft(first) {
        case (acc, (t, i)) =>
          acc.join(posted.filter(col("__tok") === t)
              .select(col("__id"), (col("pos") - i).as("pos")),
            Seq("__id", "pos"))
      }
      matched.groupBy(col("__id"))
        .agg(count(lit(1)).as("n_occurrences"))
        .select(col("__id").as(idCol), lit(pi).as("phrase_idx"),
          col("n_occurrences"))
    }.reduce(_.unionByName(_))
  }

  /** Point probe of a written postings index: partition-prunes to the
    * term's shard directory. The shard is computed by evaluating the
    * SAME public expression the write path uses (`pmod(hash(token),
    * 64)` on a 1-row local relation — constant-folded, no job), so the
    * probe can never silently diverge from the written layout the way a
    * re-implementation against Spark's internal hash could. */
  def termLookup(spark: org.apache.spark.sql.SparkSession, path: String,
      term: String): DataFrame = {
    val shard = spark.range(1)
      .select(pmod(hash(lit(term)), lit(64)).as("shard"))
      .head().getInt(0)
    spark.read.parquet(path)
      .filter(col("shard") === shard && col("token") === term)
      .drop("shard")
  }
}
