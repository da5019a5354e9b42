package graft.text

import org.apache.spark.sql.functions._
import graft.SparkSpec
import graft.util.Materialized

/** BPE training model-checked against an independent in-memory
  * reference implementation (the Sennrich get_stats/merge loop). */
class BpeSpec extends SparkSpec {
  import spark.implicits._

  // ---- in-memory reference --------------------------------------------

  private def refMergeWord(syms: Vector[String], a: String, b: String): Vector[String] =
    syms.foldLeft(Vector.empty[String]) { (acc, x) =>
      if (acc.nonEmpty && acc.last == a && x == b) acc.init :+ (a + b)
      else acc :+ x
    }

  private def refPairCounts(words: Map[Vector[String], Long]): Map[(String, String), Long] =
    words.toSeq.flatMap { case (syms, freq) =>
      syms.zip(syms.drop(1)).map(p => p -> freq)
    }.groupBy(_._1).map { case (p, xs) => p -> xs.map(_._2).sum }

  private def refTrain(corpus: Seq[String], numMerges: Int)
      : (Seq[(String, String)], Map[Vector[String], Long]) = {
    val wc = corpus.flatMap(_.trim.split("\\s+")).filter(_.nonEmpty)
      .groupBy(identity).map { case (w, xs) => w -> xs.size.toLong }
    var words = wc.map { case (w, f) => w.split("").toVector.filter(_.nonEmpty) -> f }
    val merges = scala.collection.mutable.ListBuffer.empty[(String, String)]
    for (_ <- 0 until numMerges) {
      val pc = refPairCounts(words)
      if (pc.nonEmpty) {
        val (a, b) = pc.toSeq.minBy { case ((x, y), c) => (-c, x, y) }._1
        merges += ((a, b))
        words = words.map { case (s, f) => refMergeWord(s, a, b) -> f }
          .groupBy(_._1).map { case (s, xs) => s -> xs.map(_._2).sum }
      }
    }
    (merges.toList, words)
  }

  private val corpus = Seq(
    "low low low low low",
    "lower lower newest newest",
    "newest newest newest newest widest",
    "widest widest low lower")

  private lazy val docs =
    corpus.zipWithIndex.map { case (t, i) => (i.toLong, t) }.toDF("doc_id", "text")

  test("pairCounts: overlapping adjacent positions, freq-weighted") {
    val words = Seq(("aaa", 3L), ("ab", 2L)).toDF("word", "freq")
      .withColumn("syms", Bpe.initialSymbols(col("word")))
    val got = Bpe.pairCounts(words).collect()
      .map(r => (r.getString(0), r.getString(1)) -> r.getLong(2)).toMap
    // aaa: (a,a) twice per word x freq 3 = 6; ab: (a,b) x 2
    assert(got == Map(("a", "a") -> 6L, ("a", "b") -> 2L))
  }

  test("applyMerge is greedy left-to-right (no re-fuse through a fresh merge)") {
    val df = Seq(Seq("a", "a", "a"), Seq("a", "a", "a", "a"), Seq("b"))
      .toDF("syms")
    val got = df.select(Bpe.applyMerge(col("syms"), "a", "a")).as[Seq[String]]
      .collect().toSet
    assert(got == Set(Seq("aa", "a"), Seq("aa", "aa"), Seq("b")))
  }

  test("trainMerges matches the in-memory reference loop exactly") {
    val (refMerges, refWords) = refTrain(corpus, 8)
    val (gotMerges, gotWords) = Bpe.trainMerges(docs, "text", 8)
    assert(gotMerges == refMerges)
    val gotTable = gotWords.select("syms", "freq").as[(Seq[String], Long)]
      .collect().map { case (s, f) => s.toVector -> f }.toMap
    assert(gotTable == refWords)
  }

  test("subwordCounts: merged-vocabulary rollup matches the reference table") {
    val (merges, _) = refTrain(corpus, 6)
    val (_, refWords) = refTrain(corpus, 6)
    val want = refWords.toSeq.flatMap { case (syms, f) => syms.map(_ -> f) }
      .groupBy(_._1).map { case (s, xs) => s -> xs.map(_._2).sum }
    val got = Bpe.subwordCounts(docs, "text", merges).collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(got == want)
  }

  test("encode: subword concatenation round-trips the text, order preserved") {
    val (merges, _) = Bpe.trainMerges(docs, "text", 5)
    val got = Bpe.encode(docs, "doc_id", "text", merges)
      .as[(Long, Seq[String])].collect().toMap
    corpus.zipWithIndex.foreach { case (t, i) =>
      assert(got(i.toLong).mkString == t.replaceAll("\\s+", ""),
        s"doc $i round-trip")
    }
  }

  test("initialSymbols: one symbol per code point, surrogate pairs intact") {
    val df = Seq("a😀b").toDF("word") // a😀b
    val syms = df.select(Bpe.initialSymbols(col("word"))).as[Seq[String]].head()
    assert(syms == Seq("a", "😀", "b"),
      s"supplementary-plane char must stay one symbol: $syms")
  }

  test("applyMergesTable: batched fold ≡ single-projection fold, plan stays bounded") {
    val (merges, _) = refTrain(corpus, 8)
    val words = Bpe.wordCounts(docs, "text")
      .withColumn("syms", Bpe.initialSymbols(col("word")))
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.select(col("word"), col("syms")).collect()
        .map(r => r.getString(0) -> r.getSeq[String](1).toVector).toMap
    // batchSize 3 forces 3 batches with lineage cuts between them; the
    // result must be identical to the one-projection column fold
    val batched = Bpe.applyMergesTable(words, "syms", merges, batchSize = 3)
    assert(rows(batched) == rows(
      words.withColumn("syms", Bpe.applyMerges(col("syms"), merges))))
    // the cut is real: the batched plan bottoms out at a checkpoint
    // leaf, not the full 8-merge expression chain over wordCounts
    assert(batched.queryExecution.optimizedPlan.collect {
      case _: org.apache.spark.sql.execution.LogicalRDD => 1 }.nonEmpty,
      "batched apply must cut lineage via localCheckpoint")
    Materialized.release(batched)
    // ≤ one batch falls back to the pure column fold — no checkpoint
    val small = Bpe.applyMergesTable(words, "syms", merges, batchSize = 50)
    assert(small.queryExecution.optimizedPlan.collect {
      case _: org.apache.spark.sql.execution.LogicalRDD => 1 }.isEmpty,
      "small lists must stay an unmaterialized column fold")
  }

  test("encode applies chained merges in order (a merged symbol re-merges)") {
    val docs = Seq((1L, "tab stab merge")).toDF("doc_id", "text")
    val merges = Seq(("e", "r"), ("i", "n"), ("s", "t"), ("t", "a"),
      ("ta", "b"), ("er", "g"))
    val sub = Bpe.encode(docs, "doc_id", "text", merges)
      .head().getSeq[String](1)
    // tab:  t a b  → (t,a) → [ta, b] → (ta,b) → [tab]
    // stab: s t a b → (s,t) FIRST consumes the t → [st, a, b]; the
    //   later (t,a)/(ta,b) find no bare t — merge ORDER is semantics
    // merge: m e r g e → (e,r) → [m, er, g, e] → (er,g) → [m, erg, e]
    assert(sub == Seq("tab", "st", "a", "b", "m", "erg", "e"))
  }

  test("pagerankStep: hand-computed path graph, mass conserved") {
    // path 1–2–3: deg(1)=deg(3)=1, deg(2)=2
    val pairs = Seq((1L, 2L), (2L, 3L)).toDF("id_a", "id_b")
    val got = Dedup.pagerankStep(pairs)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    // pr(1) = 150000 + ⌊85·⌊10⁶/2⌋/100⌋ = 575000 (only neighbor 2)
    // pr(2) = 150000 + ⌊85·(10⁶+10⁶)/100⌋ = 1850000
    assert(got == Map(1L -> 575000L, 2L -> 1850000L, 3L -> 575000L))
    // teleport + damped mass conserve exactly here (no floor loss)
    assert(got.values.sum == 3000000L)
    // floor loss appears with deg 3: star 1–2, 1–3, 1–4
    val star = Seq((1L, 2L), (1L, 3L), (1L, 4L)).toDF("id_a", "id_b")
    val s = Dedup.pagerankStep(star)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    // leaves get ⌊85·⌊10⁶/3⌋/100⌋ = ⌊85·333333/100⌋ = 283333
    assert(s(2L) == 150000L + 283333L && s(2L) == s(3L) && s(3L) == s(4L))
    assert(s(1L) == 150000L + (85L * 3000000L) / 100L)
  }

  test("trainMerges stops early when no pairs remain") {
    val tiny = Seq((1L, "a b")).toDF("doc_id", "text")
    val (merges, words) = Bpe.trainMerges(tiny, "text", 10)
    assert(merges.isEmpty) // all words are single chars — no adjacent pairs
    assert(words.count() == 2)
  }
}
