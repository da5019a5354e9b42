package graft.text

import graft.SparkSpec
import graft.util.Materialized

class BigramLmSpec extends SparkSpec {
  import spark.implicits._

  test("bigramLmScores: hand-computed add-1 bigram NLL on a tiny corpus") {
    // corpus: "a b a", "b a" → c12 = {(a,b):1, (b,a):2}, prefix c1 =
    // {a:1, b:2}; vocab V = 3 — the 1-token doc "x" carries no bigram
    // but its token still counts toward the corpus vocabulary
    val df = Seq((1L, "a b a"), (2L, "b a"), (3L, "x"), (4L, null))
      .toDF("doc_id", "text")
    val got = TextAnalysis.bigramLmScores(df, "doc_id", "text")
      .collect().map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2)))).toMap
    def lfp(n: Long): Long = math.floor(math.log(n.toDouble) * 1e6).toLong
    val nlAB = lfp(1 + 3) - lfp(1 + 1) // ln4 - ln2
    val nlBA = lfp(2 + 3) - lfp(2 + 1) // ln5 - ln3
    assert(got == Map(
      1L -> ((2L, nlAB + nlBA)),
      2L -> ((1L, nlBA))))
    // 1-token and null docs carry no bigram — excluded, not zero-scored
    assert(!got.contains(3L) && !got.contains(4L))
  }

  test("bigramLmScores: cross_entropy is nll_fp / (1e6 * n_bigrams)") {
    val df = Seq((1L, "a b c d")).toDF("doc_id", "text")
    val r = TextAnalysis.bigramLmScores(df, "doc_id", "text").head()
    assert(r.getDouble(3) == r.getLong(2).toDouble / (1e6 * r.getLong(1)))
  }

  test("bigramLmScoresAgainstModel: scoring the model's own corpus reproduces bigramLmScores") {
    val docs = (1L to 30L)
      .map(i => (i, s"tok${i % 5} tok${i % 3} tok${i % 7} tok${i % 4} tok${i % 6}"))
      .toDF("doc_id", "text")
    val model = TextAnalysis.bigramLmModel(docs, "text")
    val self = TextAnalysis.bigramLmScores(docs, "doc_id", "text")
      .collect().map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2)))).toMap
    val against = TextAnalysis
      .bigramLmScoresAgainstModel(docs, "doc_id", "text", model)
      .collect().map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2)))).toMap
    Materialized.release(model) // the builder's internal bigram checkpoint
    assert(against == self)
  }

  test("bigramLmScoresAgainstModel: unseen pairs and prefixes score via add-1 smoothing") {
    // reference: "a b a", "b a" → c12 = {(a,b):1, (b,a):2}, c1 =
    // {a:1, b:2}, V = 2
    val ref = Seq((1L, "a b a"), (2L, "b a")).toDF("doc_id", "text")
    val model = TextAnalysis.bigramLmModel(ref, "text")
    val got = TextAnalysis.bigramLmScoresAgainstModel(
      Seq((10L, "a b"), (11L, "b c"), (12L, "z q")).toDF("doc_id", "text"),
      "doc_id", "text", model)
      .collect().map(r => r.getLong(0) -> r.getLong(2)).toMap
    Materialized.release(model)
    def lfp(n: Long): Long = math.floor(math.log(n.toDouble) * 1e6).toLong
    assert(got == Map(
      10L -> (lfp(3) - lfp(2)), // seen pair:      L(c1+V) − L(c12+1)
      11L -> (lfp(4) - lfp(1)), // unseen pair:    c12 = 0
      12L -> (lfp(2) - lfp(1)))) // unseen prefix: c1 = 0 too
  }

  test("bigramLmScores: partitioning-invariant (fixed-point sums)") {
    val docs = (1L to 40L).map(i => (i, s"tok${i % 5} tok${i % 3} tok${i % 7} tok${i % 5}"))
    val one = TextAnalysis.bigramLmScores(docs.toDF("doc_id", "text").coalesce(1),
      "doc_id", "text").collect().map(r => r.getLong(0) -> r.getLong(2)).toMap
    val many = TextAnalysis.bigramLmScores(docs.toDF("doc_id", "text").repartition(7),
      "doc_id", "text").collect().map(r => r.getLong(0) -> r.getLong(2)).toMap
    assert(one == many)
  }
}
