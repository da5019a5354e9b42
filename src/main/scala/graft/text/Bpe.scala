package graft.text

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Byte-pair-encoding tokenizer training (Sennrich et al. 2016) as
  * distributed relational primitives — the vocabulary-learning step a
  * training-data pipeline runs before token counting and packing.
  *
  * Classic BPE trains on the WORD-FREQUENCY table, not the raw corpus:
  * pair statistics are `Σ_words freq(word) · adjacent-pair occurrences
  * in the word's current symbol sequence`, and each round merges the
  * most frequent pair everywhere it occurs. The word table is the
  * scale pivot — a 100-TB corpus has billions of documents but a
  * bounded distinct-word set (tens of millions), so every merge
  * iteration runs on the compact table while the corpus itself is
  * touched only twice (word counting, final encoding).
  *
  * Determinism: the argmax tie-breaks (pair_count desc, sym_a asc,
  * sym_b asc), and the merge fold is greedy left-to-right — the same
  * rule as the reference implementation — so trained merges are a pure
  * function of the corpus.
  */
object Bpe {

  /** Word-frequency table: `(word, freq)` over whitespace tokens. */
  def wordCounts(df: DataFrame, textCol: String): DataFrame =
    df.filter(col(textCol).isNotNull)
      .select(explode(TextAnalysis.tokens(col(textCol))).as("word"))
      .filter(col("word") =!= "")
      .groupBy("word").agg(count(lit(1)).as("freq"))

  /** Character-level starting symbols for a word — one symbol per
    * Unicode CODE POINT (`.` in Java regex is codepoint-aware), so a
    * supplementary-plane character (emoji, CJK-B) stays one symbol
    * instead of two unpaired surrogate halves, matching DuckDB's
    * per-character `string_split(word, '')` in the q81 oracle. */
  def initialSymbols(word: Column): Column =
    regexp_extract_all(word, lit("(?s)."), lit(0))

  /** Frequency-weighted adjacent-pair counts over the current symbol
    * sequences: `(sym_a, sym_b, pair_count)`. Every adjacent position
    * counts (overlapping included — `aaa` contributes (a,a) twice),
    * matching the reference `get_stats`. One narrow explode + hash agg;
    * hot pairs die in map-side partials. */
  def pairCounts(words: DataFrame, symsCol: String = "syms",
      freqCol: String = "freq"): DataFrame = {
    val syms = col(symsCol)
    words.filter(size(syms) >= 2)
      .select(col(freqCol).as("__freq"),
        explode(zip_with(
          slice(syms, lit(1), size(syms) - 1),
          slice(syms, lit(2), size(syms) - 1),
          (l, r) => struct(l.as("sym_a"), r.as("sym_b")))).as("__p"))
      .groupBy(col("__p.sym_a").as("sym_a"), col("__p.sym_b").as("sym_b"))
      .agg(sum("__freq").as("pair_count"))
  }

  /** One greedy left-to-right merge pass of `(a, b) → ab` over a symbol
    * array — the reference merge rule: after `a b` fuses, the new `ab`
    * symbol cannot immediately re-fuse with the following token as `b`
    * (`a a a` under (a,a) → `[aa, a]`... then `[aa, aa]` only for
    * `a a a a`). A codegen'd `aggregate` fold, no UDF. */
  def applyMerge(syms: Column, a: String, b: String): Column =
    aggregate(syms, array().cast("array<string>"),
      (acc, x) =>
        when(size(acc) > 0 &&
            element_at(acc, -1) === lit(a) && x === lit(b),
          concat(slice(acc, lit(1), size(acc) - 1), array(lit(a + b))))
        .otherwise(concat(acc, array(x))))

  /** Apply a trained merge list in order. Chains one fold per merge in
    * ONE projection — a Column, so it cannot cut lineage itself: keep
    * it to ≤ [[MergeBatchSize]] merges (the table-level consumers
    * [[subwordCounts]]/[[encode]] batch through [[applyMergesTable]]
    * automatically; use that for production-sized lists). */
  def applyMerges(syms: Column, merges: Seq[(String, String)]): Column =
    merges.foldLeft(syms) { case (c, (a, b)) => applyMerge(c, a, b) }

  /** Catalyst keeps the whole merge chain as one expression tree —
    * ~50 stacked aggregate-folds per projection is the comfortable
    * bound before analysis/codegen cost dominates; a 30k-merge
    * production list needs the tree CUT between batches, which only a
    * DataFrame boundary can do. */
  val MergeBatchSize = 50

  /** Apply a merge list to the `symsCol` array column of a word table,
    * folding at most `batchSize` merges per projection and cutting
    * lineage (localCheckpoint) between batches — the production-sized
    * path: a 30k-merge list becomes 600 bounded projections instead of
    * one 30k-deep Catalyst expression tree. Intermediate checkpoints
    * are released as soon as their successor materializes
    * ([[graft.util.Materialized.release]] — the [[trainMerges]]
    * discipline); the FINAL batch's checkpoint backs the returned
    * table, so release it the same way once consumed (or let the
    * ContextCleaner reap it).
    * Lists of ≤ `batchSize` merges stay a pure column fold — no
    * materialization, identical plan to [[applyMerges]]. */
  def applyMergesTable(words: DataFrame, symsCol: String,
      merges: Seq[(String, String)],
      batchSize: Int = MergeBatchSize): DataFrame = {
    require(batchSize > 0, s"batchSize must be positive, got $batchSize")
    val batches = merges.grouped(batchSize).toSeq
    if (batches.sizeIs <= 1)
      words.withColumn(symsCol, applyMerges(col(symsCol), merges))
    else batches.zipWithIndex.foldLeft(words) { case (cur, (batch, i)) =>
      val next = cur.withColumn(symsCol, applyMerges(col(symsCol), batch))
        .localCheckpoint()
      // release the PREVIOUS batch's checkpoint only — never the
      // caller-owned input table (i == 0)
      if (i > 0) graft.util.Materialized.release(cur)
      next
    }
  }

  /** Train `numMerges` BPE merges on the corpus. Each round: pair
    * statistics over the compact word table, a 1-ROW argmax to the
    * driver (bounded — the only driver traffic), one merge pass,
    * re-materialize. Returns the learned merges in order and the final
    * `(word, freq, syms)` table. Stops early when no pair remains. */
  def trainMerges(df: DataFrame, textCol: String, numMerges: Int)
      : (Seq[(String, String)], DataFrame) = {
    require(numMerges >= 0, s"numMerges must be >= 0, got $numMerges")
    var words = wordCounts(df, textCol)
      .withColumn("syms", initialSymbols(col("word")))
      .localCheckpoint()
    val merges = scala.collection.mutable.ListBuffer.empty[(String, String)]
    var exhausted = false
    for (_ <- 0 until numMerges if !exhausted) {
      val top = pairCounts(words)
        .orderBy(col("pair_count").desc, col("sym_a"), col("sym_b"))
        .limit(1).collect()
      if (top.isEmpty) exhausted = true
      else {
        val (a, b) = (top(0).getString(0), top(0).getString(1))
        merges += ((a, b))
        val prev = words
        words = words.withColumn("syms", applyMerge(col("syms"), a, b))
          .localCheckpoint()
        // localCheckpoint storage lives on the underlying RDD —
        // Dataset.unpersist would be a no-op, so release the RDD behind
        // the plan; without this, N merge rounds pin N word tables
        graft.util.Materialized.release(prev)
      }
    }
    (merges.toList, words)
  }

  /** Corpus subword vocabulary under a merge list: `(subword, count)`
    * with count = Σ freq over words containing it. Merges apply to the
    * DISTINCT-WORD table (the whole point — never per occurrence). */
  def subwordCounts(df: DataFrame, textCol: String,
      merges: Seq[(String, String)]): DataFrame =
    applyMergesTable(
      wordCounts(df, textCol).withColumn("syms", initialSymbols(col("word"))),
      "syms", merges)
      .select(col("freq"), explode(col("syms")).as("subword"))
      .groupBy("subword").agg(sum("freq").as("count"))

  /** Encode documents to subword sequences: `(idCol, subwords)`. The
    * merge application joins each token against the already-encoded
    * word table (broadcast while small, shuffle-on-word at scale) —
    * per-occurrence work is one join probe, not a merge fold. */
  def encode(df: DataFrame, idCol: String, textCol: String,
      merges: Seq[(String, String)]): DataFrame = {
    val encodedWords = applyMergesTable(
      wordCounts(df, textCol).withColumn("__enc", initialSymbols(col("word"))),
      "__enc", merges).select("word", "__enc")
    df.filter(col(textCol).isNotNull)
      .select(col(idCol),
        posexplode(TextAnalysis.tokens(col(textCol))).as(Seq("__pos", "word")))
      .filter(col("word") =!= "")
      .join(encodedWords, "word")
      .groupBy(idCol)
      .agg(flatten(array_sort(collect_list(struct(col("__pos"), col("__enc"))))
        .getField("__enc")).as("subwords"))
  }
}
