package graft.text

import graft.SparkSpec
import graft.util.Materialized
import org.apache.spark.sql.functions._

/** The round-8 pair-similarity family: directed containment (excerpt
  * detection), sparsified tf-idf cosine, and n-gram novelty. */
class SimilarityPairsSpec extends SparkSpec {
  import spark.implicits._

  test("containmentPairs: an excerpt is flagged in its direction only") {
    val big = (1 to 60).map(i => s"tok$i").mkString(" ")
    val excerpt = (10 to 20).map(i => s"tok$i").mkString(" ")
    val docs = Seq(
      (1L, big),
      (2L, excerpt),                             // fully contained in 1
      (3L, "unrelated words entirely disjoint from everything else here")
    ).toDF("doc_id", "text")
    val pairs = Dedup.containmentPairs(docs, "doc_id", "text",
        k = 3, threshold = 0.9)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toList
    // C(2→1) = 1.0 (every shingle of the excerpt is in the big doc);
    // C(1→2) ≈ 9/58 — far below threshold, must NOT appear
    assert(pairs.map(p => (p._1, p._2)) == List((2L, 1L)))
    assert(pairs.head._3 == 1.0)
    // symmetric Jaccard misses this pair entirely at any useful threshold
    val j = Dedup.ngramJaccardPairs(docs, "doc_id", "text", k = 3,
      threshold = 0.5)
    assert(j.count() == 0)
  }

  test("containmentPairs: maxShingleDf cut drops ubiquitous shingles") {
    val boiler = "common footer text repeated in every single document"
    val docs = (1L to 10L).map(i => (i, s"unique$i payload$i body$i $boiler"))
      .toDF("doc_id", "text")
    // without the cut the shared footer makes everything contain
    // everything at low threshold; with the cut df>5 shingles vanish
    // and no pair survives. maxShingleDf = 0 is the explicit opt-OUT
    // (the containment default is the guarded q48 cut of 20)
    val cut = Dedup.containmentPairs(docs, "doc_id", "text", k = 3,
      threshold = 0.5, maxShingleDf = 5)
    assert(cut.count() == 0)
    val raw = Dedup.containmentPairs(docs, "doc_id", "text", k = 3,
      threshold = 0.5, maxShingleDf = 0)
    assert(raw.count() > 0)
  }

  test("dedupByContainment: excerpt drops, container survives, mutual pair keeps min id") {
    val big = (1 to 60).map(i => s"tok$i").mkString(" ")
    val excerpt = (10 to 25).map(i => s"tok$i").mkString(" ")
    val docs = Seq(
      (1L, big),
      (2L, excerpt),                     // excerpt of 1 → drops
      (5L, "alpha beta gamma delta epsilon zeta eta theta"),
      (9L, "alpha beta gamma delta epsilon zeta eta theta"), // mutual with 5
      (3L, "unrelated words entirely disjoint from everything else here")
    ).toDF("doc_id", "text")
    val out = Dedup.dedupByContainment(docs, "doc_id", "text",
      k = 3, threshold = 0.9, maxShingleDf = 0)
    val kept = out.select("doc_id").as[Long].collect().toSet
    Materialized.release(out) // the documented internal-index release path
    // mutual equal-size containment keeps exactly the smaller id
    assert(kept == Set(1L, 3L, 5L))
  }

  test("tfidfCosinePairs: equal-vector docs hit cosine 1.0; disjoint absent") {
    val docs = Seq(
      (1L, "alpha beta gamma delta epsilon"),
      (2L, "epsilon delta gamma beta alpha"),      // same bag, reordered
      (3L, "zeta eta theta iota kappa")            // disjoint vocabulary
    ).toDF("doc_id", "text")
    val pairs = TextAnalysis.tfidfCosinePairs(docs, "doc_id", "text",
        topM = 5, threshold = 0.5)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toList
    assert(pairs.map(p => (p._1, p._2)) == List((1L, 2L)))
    // sqrt(n2)*sqrt(n2) rounds a hair off n2 — deterministic IEEE on
    // every engine (that's why the oracle hash-matches), just not 1.0
    assert(math.abs(pairs.head._3 - 1.0) < 1e-12)
    // shingle Jaccard on the reordered pair is 0 — cosine catches what
    // word-order similarity cannot
    assert(Dedup.ngramJaccardPairs(docs, "doc_id", "text", k = 3,
      threshold = 0.3).count() == 0)
  }

  test("tfidfCosinePairs prefix + positional filtering equals brute force") {
    // Zipf-ish corpus: three ubiquitous tokens shared by every doc
    // (the fan-out the prefix filter must absorb), overlapping mid-df
    // tokens, and a unique token per doc
    val corpus = (1 to 60).map { i =>
      (i.toLong, s"the of and tok${i % 7} tok${(i * 3) % 11} uniq$i")
    }
    val docs = corpus.toDF("doc_id", "text")
    // brute force: replicate the exact weighting locally, all pairs
    def brute(threshold: Double): Map[(Long, Long), Double] = {
      val tf = corpus.map { case (id, t) =>
        id -> t.split("\\s+").toSeq.groupBy(identity).view
          .mapValues(_.size.toLong).toMap
      }.toMap
      val dfC = tf.values.flatMap(_.keys).groupBy(identity).view
        .mapValues(_.size.toLong).toMap
      val vecs = tf.map { case (id, m) =>
        id -> m.toSeq
          .sortBy { case (tok, c) => (-c.toDouble / dfC(tok), tok) }
          .take(5)
          .map { case (tok, c) => tok -> c * 1000000L / dfC(tok) }.toMap
      }
      (for {
        a <- vecs.keys; b <- vecs.keys; if a < b
        dp = vecs(a).map { case (t, w) => w * vecs(b).getOrElse(t, 0L) }.sum
        na = math.sqrt(vecs(a).values.map(w => w * w).sum.toDouble)
        nb = math.sqrt(vecs(b).values.map(w => w * w).sum.toDouble)
        cos = dp.toDouble / (na * nb)
        if cos >= threshold
      } yield (a, b) -> cos).toMap
    }
    for (t <- Seq(0.3, 0.6, 0.9)) {
      val got = TextAnalysis.tfidfCosinePairs(docs, "doc_id", "text",
          topM = 5, threshold = t)
        .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2))
        .toMap
      assert(got == brute(t), s"mismatch at threshold $t")
    }
  }

  test("sortedNeighborhoodPairs: equals brute force within the window; misses beyond it") {
    // near-dup pair (1, 2) is length-adjacent (found); (1, 8) is an
    // exact-text twin of 1 pushed far away in the length order by
    // planting many unique length-spacer docs between them — SNM's
    // documented windowed-recall trade must show as a MISS
    val base = "the cat sat on the mat and watched the bird"
    val spacers = (10L to 30L).map(i =>
      (i, (1 to (12 + i.toInt % 17)).map(j => s"sp${i}x$j").mkString(" ")))
    val docs = (Seq(
      (1L, base),
      (2L, base + " today"),                      // near-dup, adjacent length
      (8L, "zz " * 40 + base)) ++ spacers         // same tail, far length
    ).toDF("doc_id", "text")
    val got = Dedup.sortedNeighborhoodPairs(docs, "doc_id", "text",
        window = 3, threshold = 0.3)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(got.contains((1L, 2L)), s"adjacent near-dup must be found: $got")
    assert(!got.contains((1L, 8L)),
      s"pair beyond the window must be missed (the SNM trade): $got")
    // widening the window to cover the whole corpus = brute force
    val wide = Dedup.sortedNeighborhoodPairs(docs, "doc_id", "text",
        window = 30, threshold = 0.3)
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2))
      .toMap
    val brute = Dedup.ngramJaccardPairs(docs, "doc_id", "text", k = 3,
        threshold = 0.3)
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2))
      .toMap
    assert(wide == brute, "window >= corpus must equal the full pair set")
    // partitioning invariance (bucketed-offset ranks, band join)
    val re = Dedup.sortedNeighborhoodPairs(docs.repartition(7), "doc_id",
        "text", window = 3, threshold = 0.3)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(re == got)
  }

  test("termDrift: hand-computed ppm deltas, minCount floor, topK cut") {
    val a = Seq((1L, "x x x y z"), (2L, "x y w")).toDF("doc_id", "text")
    val b = Seq((3L, "y y y z q"), (4L, "y z")).toDF("doc_id", "text")
    // counts: a: x=4, y=2, z=1, w=1 (n=8); b: y=4, z=2, q=1 (n=7)
    val got = TextAnalysis.termDrift(a, b, "text", minCount = 2L, topK = 10)
      .collect().map(r => r.getString(0) ->
        (r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4), r.getLong(5)))
    def ppm(c: Long, n: Long) = c * 1000000L / n
    val want = Seq(
      "x" -> ((4L, 0L, ppm(4, 8), 0L, ppm(4, 8))),
      "y" -> ((2L, 4L, ppm(2, 8), ppm(4, 7), ppm(4, 7) - ppm(2, 8))),
      "z" -> ((1L, 2L, ppm(1, 8), ppm(2, 7), ppm(2, 7) - ppm(1, 8))))
    // q (1+0 < minCount 2) and w (1+0 < 2) floor out; order by delta desc
    assert(got.toSeq == want.sortBy { case (t, v) => (-v._5, t) })
    val top1 = TextAnalysis.termDrift(a, b, "text", minCount = 2L, topK = 1)
      .collect().map(_.getString(0)).toSeq
    assert(top1 == Seq(want.maxBy(_._2._5)._1))
  }

  test("ngramNovelty: first doc fully novel, exact copy fully stale") {
    val docs = Seq(
      (1L, "one two three four five six"),
      (2L, "one two three four five six"),          // exact copy of 1
      (3L, "seven eight nine ten eleven twelve")    // all fresh
    ).toDF("doc_id", "text")
    val r = Dedup.ngramNovelty(docs, "doc_id", "text", k = 3)
      .collect().map(x => x.getLong(0) ->
        (x.getLong(1), x.getLong(2), x.getDouble(3))).toMap
    assert(r(1L) == ((4L, 4L, 1.0)))
    assert(r(2L) == ((4L, 0L, 0.0)))
    assert(r(3L) == ((4L, 4L, 1.0)))
  }

  test("sourceOverlapMatrix: distinct per-source sets, exact ppm, empty pairs omitted") {
    val docs = Seq(
      ("A", "w1 w2 w3 w4"), // shingles {w1w2w3, w2w3w4}
      ("A", "w1 w2 w3"),    // duplicate shingle within A — counts once
      ("B", "w1 w2 w3 w5"), // shingles {w1w2w3, w2w3w5}
      ("C", "x1 x2 x3"))    // disjoint — no pair rows with C
      .toDF("source", "text")
    val got = Dedup.sourceOverlapMatrix(docs, "source", "text", k = 3)
      .collect().map(r => (r.getString(0), r.getString(1), r.getLong(2),
        r.getLong(3), r.getLong(4), r.getLong(5))).toList
    // A∩B = {w1w2w3} (1), |A| = |B| = 2, union = 3 → floor(1e6/3)
    assert(got == List(("A", "B", 1L, 2L, 2L, 333333L)))
  }
}
