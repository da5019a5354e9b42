package graft

import org.apache.spark.sql.functions._

import graft.text.Dedup

class OrganicCorpusSpec extends SparkSpec {
  import spark.implicits._

  // 40 base docs of real-ish prose, enough stream for chunk sampling
  private lazy val base = (0L until 40L).map { i =>
    (i, s"src${i % 4}",
      s"document number $i begins here and the quick brown fox jumps " +
      s"over the lazy dog near station $i while the weather stays warm " +
      s"and the market reports arrive before the evening train at $i")
  }.toDF("doc_id", "source", "text")

  test("deterministic; factor-1 ids are a prefix-identical subset of factor-3") {
    val f1a = OrganicCorpus.generate(base, 1).orderBy("doc_id").collect()
    val f1b = OrganicCorpus.generate(base, 1).orderBy("doc_id").collect()
    assert(f1a.sameElements(f1b), "generator must be deterministic")
    val f3 = OrganicCorpus.generate(base, 3)
    assert(f3.count() == 120)
    val prefix = f3.filter(col("doc_id") < 40).orderBy("doc_id").collect()
    assert(f1a.sameElements(prefix),
      "factor-1 corpus must equal factor-3's id prefix (fixed-eval-slice property)")
  }

  test("planted near-dups at 5%: doc 19 ≈ doc 18 above the 0.8 threshold") {
    val docs = OrganicCorpus.generate(base, 1)
    val pairs = Dedup.ngramJaccardPairs(docs, "doc_id", "text",
      k = 3, threshold = 0.8).collect()
    val planted = pairs.map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(planted.contains((18L, 19L)),
      s"planted near-dup pair (18,19) missing; got ${planted.mkString(",")}")
  }

  test("boilerplate window: every 7th doc shares the fixed footer") {
    val docs = OrganicCorpus.generate(base, 1)
    // the fixed window starts at stream position 0 = base doc 0's head
    val footerHead = "document number 0 begins here"
    val withFooter = docs.filter(col("text").contains(footerHead))
      .select("doc_id").as[Long].collect().toSet
    val expected = (0L until 40L).filter(_ % 7 == 0).toSet
    assert(expected.subsetOf(withFooter),
      s"docs $expected must carry the footer window; got $withFooter")
  }

  test("chunks are newline-joined lines; the footer is a duplicated LINE") {
    val docs = OrganicCorpus.generate(base, 1)
    // multi-chunk docs must be multi-line
    val multiline = docs.filter(size(split(col("text"), "\n")) >= 2).count()
    assert(multiline == docs.count(),
      "every doc has >= 2 chunks, so every doc must be multi-line")
    // the fixed boilerplate window is a LINE shared across the %7 docs,
    // so line dedup (not just span excision) can remove it
    val dupLines = Dedup.duplicatedLines(docs, "doc_id", "text", minDf = 2)
    val footerDocs = dupLines
      .filter(col("line").startsWith("document number 0 begins here"))
      .select("doc_id").as[Long].collect().toSet
    val expected = (0L until 40L).filter(_ % 7 == 0).toSet
    assert(expected.subsetOf(footerDocs),
      s"footer line must be flagged in docs $expected; got $footerDocs")
  }

  test("seedBoilerplate: line dedup produces a non-zero token delta") {
    val flat = (0L until 30L).map(i =>
      (i, s"src${i % 3}", s"plain single line document body number $i"))
      .toDF("doc_id", "source", "text")
    val seeded = OrganicCorpus.seedBoilerplate(flat)
    // seeded docs carry the trailing boilerplate line
    assert(seeded.filter(col("text")
      .contains(OrganicCorpus.BoilerplateLine)).count() == 5)
    val before = seeded.agg(sum(size(split(col("text"), "\\s+")))).head.getLong(0)
    val after = Dedup.removeDuplicatedLines(seeded, "doc_id", "text", minDf = 2)
      .agg(sum(size(split(col("text"), "\\s+")))).head.getLong(0)
    assert(after < before,
      s"line dedup must drop the seeded boilerplate tokens ($after vs $before)")
    // and the un-seeded corpus is untouched (no false positives)
    val flatAfter = Dedup.removeDuplicatedLines(flat, "doc_id", "text", minDf = 2)
      .agg(sum(size(split(col("text"), "\\s+")))).head.getLong(0)
    val flatBefore = flat.agg(sum(size(split(col("text"), "\\s+")))).head.getLong(0)
    assert(flatAfter == flatBefore)
  }
}
