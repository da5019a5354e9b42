package graft.vector

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import graft.functions.Exact._

/** Similarity search over an embedding column (`array<float>`).
  *
  * Two paths, matching the usual build-out of an ANN system:
  *   - brute-force cosine top-k — the exactness baseline. One narrow
  *     pass computing dot/norms inside codegen + a top-k (TakeOrdered,
  *     no full sort shuffle).
  *   - LSH-bucketed ANN (random-hyperplane signatures) — the scale path:
  *     vectors bucket by sign-bit signature; a query probes only its
  *     bucket (+ multi-probe neighbors), turning O(N) scans into
  *     O(N/2^bits). Hyperplanes are derived deterministically from a
  *     seed so index and query sides agree without sharing state.
  *
  * At 100 TB the bucketed table is written partitioned by signature —
  * a probe prunes to a handful of partitions at the file-listing level.
  */
object Similarity {

  /** Dot product of two array<double> columns — native codegen'd loop
    * ([[graft.functions.DotProduct]]; the HOF `aggregate(zip_with(...))`
    * form is interpreted per element, which dominates pair-join costs). */
  def dot(a: Column, b: Column): Column =
    graft.functions.VectorExpressions.dotProduct(a, b)

  def norm(a: Column): Column =
    sqrt(aggregate(transform(a, x => x * x), lit(0.0), (acc, x) => acc + x))

  /** Cosine similarity — native fused loop (dot and both norms in one
    * pass), same float semantics as dot/(norm·norm) with sequential
    * accumulation. */
  def cosine(a: Column, b: Column): Column =
    graft.functions.VectorExpressions.cosineSimilarity(a, b)

  private def asDouble(c: Column): Column = c.cast("array<double>")

  /** Exact brute-force cosine top-k against a constant query vector.
    * Deterministic ordering: (similarity desc, id asc). */
  def cosineTopK(df: DataFrame, idCol: String, embCol: String,
      query: Seq[Double], k: Int): DataFrame = {
    val q = typedLit(query)
    df.select(col(idCol),
        round(cosine(asDouble(col(embCol)), q), 6).as("cosine"))
      .orderBy(col("cosine").desc, col(idCol))
      .limit(k)
  }

  /** Sampled intra-source semantic dispersion: for each source, the
    * mean pairwise cosine among a deterministic id-sample of its
    * documents' embeddings — the corpus-diversity datasheet number
    * ("is this source 10k paraphrases of one page or genuinely
    * varied?") that SemDeDup-style pruning decisions read before
    * picking per-source thresholds. Cosines use the q37 rounded-6dp
    * cross-engine convention; the mean is an exact DECIMAL(18,6) sum
    * of the rounded values with ONE final floored integer division to
    * micros, so the statistic is engine- and partitioning-exact.
    * Sources with fewer than two sampled vectors are absent. Output:
    * `(source, n_pairs, mean_cos_micro)`.
    *
    * Scale shape: the sample (`vec_id % sampleMod == 0` — the
    * deterministic coin every sampler here uses) joins its source
    * label once and checkpoints; the source-keyed self-join is
    * quadratic ONLY in the per-source sample (sampleMod is the scale
    * knob: pair work ≈ (n/mod)²/|sources|·…, sized to hold the
    * per-source sample at ~10³ regardless of corpus size), and the
    * census output is sources-bounded. The cosine kernel is the
    * codegen'd native fused loop. */
  def sourceDispersion(emb: DataFrame, idCol: String, embCol: String,
      docs: DataFrame, docIdCol: String, srcCol: String,
      sampleMod: Long = 4L): DataFrame = {
    require(sampleMod >= 1, s"sampleMod must be >= 1, got $sampleMod")
    val sampled = emb.filter(pmod(col(idCol), lit(sampleMod)) === 0L)
      .join(docs.select(col(docIdCol).as("__did"),
        col(srcCol).as("__src")), col(idCol) === col("__did"))
      .select(col("__src"), col(idCol).as("__id"),
        asDouble(col(embCol)).as("__e"))
      .localCheckpoint() // both self-join sides read it
    sampled.as("a").join(sampled.as("b"),
        col("a.__src") === col("b.__src") && col("a.__id") < col("b.__id"))
      .select(col("a.__src").as("source"),
        round(cosine(col("a.__e"), col("b.__e")), 6)
          .cast(org.apache.spark.sql.types.DecimalType(18, 6)).as("__c"))
      .groupBy("source")
      .agg(count(lit(1)).as("n_pairs"),
        fdiv(dec(sum(col("__c")) * 1000000), dec(count(lit(1))))
          .as("mean_cos_micro"))
      .orderBy("source")
  }

  /** Hard-negative mining for contrastive training: for every query
    * vector, the k most-similar corpus vectors whose cosine stays
    * AT OR BELOW `maxCos` (the inclusive near-duplicate ceiling — an accidental twin
    * labeled negative is the classic contrastive-data bug) and at or
    * above `minCos` (too-easy negatives teach nothing), excluding the
    * query itself. Cosines render rounded to 6 dp (the q37
    * cross-engine convention) and the boundary tests + rank both run
    * on the ROUNDED value with an id tiebreak, so the selection is
    * engine-deterministic.
    *
    * Scale shape: the query slice broadcasts (the q90 batch
    * discipline — queries × corpus scans the corpus once and never
    * shuffles it); the deliberate BroadcastNestedLoopJoin IS the dense
    * Q×N scan, the native fused cosine kernel keeps it in codegen, and
    * the per-query top-k runs as a rank window whose map-side
    * WindowGroupLimit admits ~k rows per query per partition to the
    * exchange. For query slices too large to broadcast, swap in the
    * IVF probe path (q45/q78) — the result contract is unchanged. */
  def hardNegatives(emb: DataFrame, idCol: String, embCol: String,
      querySlice: Column, k: Int, minCos: Double = 0.0,
      maxCos: Double = 0.95): DataFrame = {
    require(k >= 1, s"k must be >= 1, got $k")
    require(minCos < maxCos, s"need minCos < maxCos, got $minCos >= $maxCos")
    val q = emb.filter(querySlice)
      .select(col(idCol).as("query_id"), asDouble(col(embCol)).as("__q"))
    val cand = emb.select(col(idCol).as("neg_id"),
      asDouble(col(embCol)).as("__e"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("query_id").orderBy(col("cosine").desc, col("neg_id"))
    cand.join(broadcast(q), col("neg_id") =!= col("query_id"))
      .withColumn("cosine", round(cosine(col("__e"), col("__q")), 6))
      .filter(col("cosine") >= minCos && col("cosine") <= maxCos)
      .withColumn("rank", row_number().over(w).cast("long"))
      .filter(col("rank") <= k)
      .select(col("query_id"), col("neg_id"), col("rank"), col("cosine"))
      .orderBy("query_id", "rank")
  }

  /** Deterministic pseudo-random hyperplanes: component j of plane p is
    * a hash of (seed, p, j) mapped into [-1, 1]. Same derivation on
    * index and query side — no state to ship. */
  def hyperplanes(nPlanes: Int, dim: Int, seed: Long = 42L): Seq[Seq[Double]] =
    (0 until nPlanes).map { p =>
      (0 until dim).map { j =>
        val h = scala.util.hashing.MurmurHash3.productHash((seed, p, j))
        (h.toDouble / Int.MaxValue.toDouble) // [-1, 1]
      }
    }

  /** Sign-bit LSH signature of an embedding under `planes`. */
  def lshSignature(emb: Column, planes: Seq[Seq[Double]]): Column =
    planes.zipWithIndex.map { case (plane, i) =>
      when(dot(asDouble(emb), typedLit(plane)) >= 0,
        shiftleft(lit(1L), i)).otherwise(lit(0L))
    }.reduce((a, b) => a.bitwiseOR(b))

  /** Build the bucketed index: id, embedding, signature bucket. Persist
    * partitioned-by-bucket for partition-pruned probes. */
  def lshIndex(df: DataFrame, idCol: String, embCol: String,
      nPlanes: Int = 8, dim: Int = 64, seed: Long = 42L): DataFrame = {
    val planes = hyperplanes(nPlanes, dim, seed)
    df.select(col(idCol), col(embCol),
      lshSignature(col(embCol), planes).as("bucket"))
  }

  /** Persist an LSH index partitioned by bucket: a probe against the
    * re-read index prunes to its probe buckets at the FILE-LISTING
    * level (PartitionFilters on the scan — asserted in
    * VectorIndexIOSpec), which is what makes a 100 TB index cheap to
    * query: nProbe directories opened, the rest never listed. */
  def writeLshIndex(index: DataFrame, path: String): Unit =
    index.write.partitionBy("bucket").mode("overwrite").parquet(path)

  def readLshIndex(spark: org.apache.spark.sql.SparkSession, path: String): DataFrame =
    spark.read.parquet(path)

  /** Multi-probe neighbor buckets: the query's bucket plus all buckets
    * at hamming distance 1 (flip each bit once). */
  def probeBuckets(sig: Long, nPlanes: Int): Seq[Long] =
    sig +: (0 until nPlanes).map(i => sig ^ (1L << i))

  /** ANN top-k: prune to probe buckets, then exact cosine within them.
    * Recall is tunable via nPlanes (fewer planes = bigger buckets) and
    * the multi-probe radius. */
  def annTopK(index: DataFrame, idCol: String, embCol: String,
      query: Seq[Double], k: Int, nPlanes: Int = 8, seed: Long = 42L): DataFrame = {
    val planes = hyperplanes(nPlanes, query.length, seed)
    val qSig = {
      // driver-side signature of the constant query vector
      planes.zipWithIndex.map { case (plane, i) =>
        val d = plane.zip(query).map { case (a, b) => a * b }.sum
        if (d >= 0) 1L << i else 0L
      }.reduce(_ | _)
    }
    val probes = probeBuckets(qSig, nPlanes)
    index.filter(col("bucket").isin(probes: _*))
      .select(col(idCol),
        round(cosine(asDouble(col(embCol)), typedLit(query)), 6).as("cosine"))
      .orderBy(col("cosine").desc, col(idCol))
      .limit(k)
  }

  /** EXACT all-pairs cosine ≥ threshold, block-partitioned (the "theta
    * join" MR pattern): each row hashes to one of `blocks` blocks; block
    * pair (i ≤ j) is one join-key group receiving block i on the left
    * and block j on the right, so every unordered pair is evaluated in
    * exactly one task and exactly once.
    *
    * WHY exact and not LSH here: sign-bit LSH separates pairs by
    * P(bit agree) = 1 − θ/π. At near-dup thresholds (cosine ≥ 0.9) that
    * is ≈ 0.86 per bit and banding works; at LOW thresholds (this
    * corpus's qualifying pairs sit at 0.35–0.6, agreement 0.61–0.70)
    * no (bands × rows) setting gives both recall and pruning — the old
    * 16-bucket variant silently returned 15% of the true pairs. A low
    * threshold genuinely asks for all-pairs similarity: O(N²) compute
    * is the honest cost, and this shape distributes it evenly with
    * shuffle volume = (blocks/2 + 1) · |data| and per-task memory
    * |data|/blocks × 2. `blocks ≤ 0` (the default) sizes the block
    * count from the corpus via [[sizeBlocks]] (one count + a one-row
    * dim probe); pass an explicit count to pin the plan instead.
    * For high thresholds use [[bandedNearDuplicatePairs]].
    * The cosine kernel is the codegen'd [[graft.functions.CosineSimilarity]]
    * — the pair loop stays in one whole-stage-codegen task loop. */
  def exactNearDuplicatePairs(df: DataFrame, idCol: String, embCol: String,
      threshold: Double, blocks: Int = 0): DataFrame = {
    val shufflePartitions = graft.util.Parallelism.shuffleWidth(df)
    val nBlocks = if (blocks > 0) blocks else {
      // probe a NON-NULL embedding for the dim — a null/empty first row
      // would undersize rowBytes and defeat the task-memory guard
      val dim = df.select(col(embCol))
        .filter(col(embCol).isNotNull && size(col(embCol)) > 0)
        .head(1) match {
          case Array(r) => r.getSeq[Any](0).length
          case _ => 0
        }
      // two lower bounds: the memory-driven count (task slices must fit
      // the budget) and a PARALLELISM floor — blocks(blocks+1)/2 block
      // pairs must at least cover the session's shuffle width, or the
      // O(N²) cosine work lands in a handful of tasks (a small corpus
      // sized blocks=2 → 3 block pairs → one task computing all 12.5M
      // cosines at sf0.1). The memory bound dominates at scale; the
      // floor only bites when the corpus is small relative to the
      // cluster.
      val parBlocks = math.ceil((math.sqrt(8.0 * shufflePartitions + 1) - 1) / 2).toInt
      math.max(sizeBlocks(df.count(), rowBytes = dim * 8L + 64L), parBlocks)
    }
    val base = df.select(col(idCol).as("id"), asDouble(col(embCol)).as("emb"),
      pmod(xxhash64(col(idCol)), lit(nBlocks)).cast("int").as("blk"))
    val a = base.select(col("id").as("id_a"), col("emb").as("emb_a"),
        col("blk").as("blk_a"))
      .withColumn("j", explode(sequence(col("blk_a"), lit(nBlocks - 1))))
      // pinned width on the probe side: the block keys are bytes-tiny,
      // so AQE coalesces (or a broadcast keeps the 1-partition scan
      // width) and the per-block-pair cosine loops serialize; the
      // repartition carries each row once per block pair it probes —
      // the volume the theta join ships anyway
      .repartition(shufflePartitions, col("blk_a"), col("j"))
    val b = base.select(col("id").as("id_b"), col("emb").as("emb_b"),
        col("blk").as("blk_b"))
      .withColumn("i", explode(sequence(lit(0), col("blk_b"))))
    a.join(b, col("blk_a") === col("i") && col("j") === col("blk_b"))
      // diagonal blocks see both orders of a pair; off-diagonal exactly one
      .filter(col("blk_a") =!= col("blk_b") || col("id_a") < col("id_b"))
      .withColumn("cosine", round(cosine(col("emb_a"), col("emb_b")), 6))
      .filter(col("cosine") >= threshold)
      .select(least(col("id_a"), col("id_b")).as("id_a"),
        greatest(col("id_a"), col("id_b")).as("id_b"), col("cosine"))
  }

  /** Block-count sizing for [[exactNearDuplicatePairs]], from the
    * formula in its scaladoc: each join task materializes two block
    * slices of ≈ N·rowBytes/blocks each, so
    * blocks = ⌈2·N·rowBytes / taskBudgetBytes⌉ keeps a task inside its
    * memory budget. Clamped to [2, maxBlocks]: at least 2 so the
    * diagonal always splits; capped because shuffle volume grows as
    * (blocks/2 + 1)·|data| — beyond the cap the right move is more
    * executor memory, not more replication. */
  def sizeBlocks(rowCount: Long, rowBytes: Long,
      taskBudgetBytes: Long = 256L * 1024 * 1024, maxBlocks: Int = 4096): Int = {
    require(rowBytes > 0 && taskBudgetBytes > 0)
    val needed = math.ceil(
      2.0 * math.max(rowCount, 0L) * rowBytes / taskBudgetBytes)
    math.max(2, math.min(maxBlocks.toDouble, needed)).toInt
  }

  /** Banded-LSH near-duplicate pairs for the HIGH-similarity regime:
    * `bands` bands of `rowsPerBand` sign bits each; two vectors are
    * candidates iff some band's bits all agree (the banding theorem —
    * same shape as [[graft.text.Dedup.simhashPairs]]); candidates are
    * verified by exact cosine. Bucket count per band is
    * min(2^rowsPerBand, N) and the band join carries (band, bits, id)
    * only — re-attaching embeddings after the distinct, so the shuffle
    * never moves vectors per candidate.
    *
    * Parameter guide: recall for a pair at cosine s is
    * 1 − (1 − p^r)^b with p = 1 − arccos(s)/π. Defaults (16 × 8) give
    * ≥ 0.999 at s ≥ 0.95 and prune aggressively below 0.7. NOT suitable
    * for low thresholds — see [[exactNearDuplicatePairs]]. */
  def bandedNearDuplicatePairs(df: DataFrame, idCol: String, embCol: String,
      threshold: Double, bands: Int = 16, rowsPerBand: Int = 8,
      dim: Int = 64, seed: Long = 42L): DataFrame = {
    val planes = hyperplanes(bands * rowsPerBand, dim, seed)
    val emb = df.select(col(idCol).as("id"), asDouble(col(embCol)).as("emb"))
      .localCheckpoint() // read 3×: banding + two embedding re-attachments
    val bandStructs = (0 until bands).map { bIdx =>
      val bandPlanes = planes.slice(bIdx * rowsPerBand, (bIdx + 1) * rowsPerBand)
      struct(lit(bIdx).as("band"), lshSignature(col("emb"), bandPlanes).as("bits"))
    }
    val bucketed = emb.select(col("id"), explode(array(bandStructs: _*)).as("bb"))
      .select(col("id"), col("bb.band").as("band"), col("bb.bits").as("bits"))
    val cand = bucketed.select(col("band"), col("bits"), col("id").as("id_a"))
      .join(bucketed.select(col("band"), col("bits"), col("id").as("id_b")),
        Seq("band", "bits"))
      .filter(col("id_a") < col("id_b"))
      .select("id_a", "id_b").distinct()
    cand
      .join(emb.select(col("id").as("id_a"), col("emb").as("emb_a")), Seq("id_a"))
      .join(emb.select(col("id").as("id_b"), col("emb").as("emb_b")), Seq("id_b"))
      .withColumn("cosine", round(cosine(col("emb_a"), col("emb_b")), 6))
      .filter(col("cosine") >= threshold)
      .select("id_a", "id_b", "cosine")
  }
}
