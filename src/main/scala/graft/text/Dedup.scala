package graft.text

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.functions.Exact._
import graft.util.{Materialized, Salting}

/** Deduplication operators over a documents table — the four standard
  * training-corpus techniques, each designed around ONE shuffle on a
  * bucket/hash key so the plan scales to 100 TB:
  *
  *   - exact:        hash text → groupBy(hash)           (1 shuffle)
  *   - MinHash LSH:  shingle → minhash sig → band →
  *                   groupBy(band bucket) → pair join    (shuffle on bucket)
  *   - SimHash:      64-bit sketch → 16-bit band buckets →
  *                   hamming verify within bucket
  *   - n-gram Jaccard: explode shingles → self-join on shingle →
  *                   pair-count / union verify
  *
  * The LSH paths never compare all N² pairs — candidates only form
  * within identical-bucket groups, which is what makes near-dedup
  * feasible at corpus scale. Bucket skew (a shingle/band shared by
  * thousands of docs) is handled by AQE skew-join splitting; degenerate
  * giant buckets can additionally be capped upstream by filtering
  * ubiquitous shingles (document-frequency cut), standard practice.
  */
object Dedup {

  // ---- exact -----------------------------------------------------------

  /** Exact duplicate groups: normalized-text hash → ids, sizes. */
  def exactDuplicateGroups(df: DataFrame, idCol: String, textCol: String): DataFrame =
    df.groupBy(TextAnalysis.fingerprint(col(textCol)).as("fp"))
      .agg(count(lit(1)).as("n"), min(col(idCol)).as("keep_id"))

  /** Keep one representative (min id) per exact-duplicate group.
    * Implemented as min-id-per-hash + semi-join, not dropDuplicates, so
    * the survivor choice is deterministic under any partitioning. */
  def dedupExact(df: DataFrame, idCol: String, textCol: String): DataFrame = {
    val keep = exactDuplicateGroups(df, idCol, textCol)
      .select(col("keep_id").as(idCol))
    df.join(keep, Seq(idCol), "left_semi")
  }

  // ---- shingling -------------------------------------------------------

  /** k-word shingles (distinct), as strings. */
  def shingles(c: Column, k: Int): Column = {
    val toks = TextAnalysis.tokens(c)
    array_distinct(
      when(size(toks) >= k,
        transform(sequence(lit(0), size(toks) - lit(k)),
          i => concat_ws(" ", slice(toks, i + 1, lit(k)))))
        .otherwise(array(concat_ws(" ", toks))))
  }

  /** 64-bit hashes of k-word shingles, built from per-token hashes with
    * NO intermediate shingle strings (the string-building path costs
    * ~15µs/shingle in interpreted HOF evaluation; hashing k longs is
    * ~10× cheaper and shuffles 8-byte keys). Value-equivalent to
    * hashing `shingles`: distinct token-hash tuples ↔ distinct shingle
    * strings (modulo 2⁻⁶⁴ collisions). Not deduplicated — callers that
    * need set semantics dedupe after exploding (distributed, not O(s²)
    * per row). Short docs (<k tokens) hash the whole token string.
    *
    * Native fused loop ([[graft.functions.ShingleHashes]]); bit-
    * identical to the previous HOF fold (TextSpec pins equivalence). */
  def shingleHashes(c: Column, k: Int, distinct: Boolean = false): Column =
    graft.functions.ShingleHashes.shingleHashes(TextAnalysis.tokens(c), k, distinct)

  /** STREAMING exact dedup — the ingest-time shape of [[dedupExact]]
    * for a continuously arriving corpus: the first document with a given
    * content fingerprint passes, every later re-occurrence is dropped.
    * `dropDuplicatesWithinWatermark` keeps one state row per distinct
    * fingerprint and lets the watermark EXPIRE state older than the
    * lateness bound, so state is bounded by (arrival rate × horizon),
    * not by corpus size — the property that makes streaming dedup
    * feasible at all on an unbounded stream. (Batch dedup of the full
    * corpus remains [[dedupExact]]; this guards the pipe.) */
  def dedupExactStream(stream: DataFrame, textCol: String, tsCol: String,
      watermark: String = "1 hour"): DataFrame =
    stream
      // NULL-text docs are not duplicates of anything: fingerprint(null)
      // is null and dropDuplicates groups nulls as EQUAL, which would
      // silently discard every null-text doc after the first — give each
      // one a unique passthrough key instead
      .withColumn("__fp", coalesce(TextAnalysis.fingerprint(col(textCol)),
        concat(lit("__graft_null_"), expr("uuid()"))))
      .withWatermark(tsCol, watermark)
      .dropDuplicatesWithinWatermark("__fp")
      .drop("__fp")

  // ---- MinHash + LSH ---------------------------------------------------

  /** MinHash signature: for seed s, min over shingles of
    * xxhash64(s, baseHash(shingle)).
    *
    * Expression-shape history: a naive `transform(seeds, s =>
    * array_min(transform(shingles, ...)))` recomputes the whole
    * tokenize→shingle→hash subtree once per seed (measured 30× slower);
    * the single-pass HOF fold fixed that but still evaluated 32
    * interpreted Catalyst nodes per shingle (~18% of the benchmark).
    * Now a native fused loop ([[graft.functions.MinHashSig]]) with
    * bit-identical output (it replicates `xxhash64(lit(s), h)`'s
    * XXH64 fold exactly). */
  def minhashSignature(c: Column, k: Int = 3, numHashes: Int = 32): Column =
    graft.functions.MinHashSig.minhashSig(shingleHashes(c, k), numHashes)

  /** LSH band buckets from a signature: `bands` buckets, each hashing
    * `rowsPerBand` consecutive signature entries (banding theorem:
    * P(candidate) = 1-(1-j^r)^b for Jaccard j). */
  def lshBuckets(sig: Column, bands: Int, rowsPerBand: Int): Column =
    array((0 until bands).map { b =>
      struct(lit(b).as("band"),
        xxhash64(lit(b), concat_ws(",", slice(sig, b * rowsPerBand + 1, rowsPerBand)))
          .as("bucket"))
    }: _*)

  /** Candidate near-duplicate pairs via MinHash LSH, verified by
    * signature agreement (estimated Jaccard). Output:
    * (id_a, id_b, est_jaccard) with id_a < id_b. */
  /** The signature index: (id, sig), materialized once because
    * candidate-pair generation reads it four times (two sides of the
    * band join, two signature re-attachments). `path = None` (default)
    * materializes via localCheckpoint — fast, but executor-local: lost
    * on executor failure and pinned in executor storage for the JVM's
    * life. Passing a `path` instead WRITES the index as parquet
    * partitioned by `shard = pmod(xxhash64(id), shards)` and returns
    * the re-read — the durable variant a cluster run wants (an executor
    * loss mid-funnel re-reads instead of recomputing, and the artifact
    * outlives the job for probe-side reuse; per-id probes prune to one
    * shard directory at file listing — [[minhashLookup]]). */
  def minhashIndex(df: DataFrame, idCol: String, textCol: String,
      k: Int = 3, numHashes: Int = 32, path: Option[String] = None,
      shards: Int = 64): DataFrame = {
    val idx = df.select(col(idCol).as("id"),
      minhashSignature(col(textCol), k, numHashes).as("sig"))
    path match {
      case Some(p) =>
        idx.withColumn("shard", pmod(xxhash64(col("id")), lit(shards.toLong)))
          .write.partitionBy("shard").mode("overwrite").parquet(p)
        df.sparkSession.read.parquet(p).select("id", "sig")
      case None => idx.localCheckpoint()
    }
  }

  /** Pruned per-id probe of a written [[minhashIndex]] (read WITH its
    * `shard` column, i.e. `spark.read.parquet(path)`): filters on the
    * shard partition key first, so only the probed ids' directories are
    * ever listed. */
  def minhashLookup(index: DataFrame, ids: Seq[Long], shards: Int = 64): DataFrame =
    index
      .filter(col("shard").isin(
        ids.map(i => xxhash64Long(i, shards)): _*) &&
        col("id").isin(ids: _*))
      .select("id", "sig")

  // driver-side xxhash64 of one long under Spark's default seed 42 —
  // must agree with the engine's xxhash64() so shard probes hit the
  // right directory (XXH64 is a published public algorithm; Spark's
  // impl hashes the 8 little-endian bytes of the long)
  private def xxhash64Long(v: Long, shards: Int): Long = {
    val h = org.apache.spark.sql.catalyst.expressions.XxHash64Function
      .hash(v, org.apache.spark.sql.types.LongType, 42L)
    java.lang.Math.floorMod(h, shards.toLong)
  }

  /** Banded candidate pairs from a signature index: ids sharing at least
    * one full band bucket, each unordered pair once. id-only join
    * (signatures would bloat the shuffle). */
  private def bandedCandidates(sigDf: DataFrame, bands: Int,
      rowsPerBand: Int): DataFrame = {
    // pinned widths, twice — the shared pair-family rationale (see
    // ngramJaccardPairsFromIndex): the bucket rows and the candidate
    // pairs are both bytes-tiny, so AQE coalesces their exchanges to a
    // handful of tasks, serializing (a) the per-bucket quadratic
    // fan-out of the band self-join and (b) the per-pair signature /
    // shingle verification that consumes the distinct output
    val parts = graft.util.Parallelism.shuffleWidth(sigDf)
    val buckets = sigDf
      .select(col("id"), explode(lshBuckets(col("sig"), bands, rowsPerBand)).as("bb"))
      .select(col("id"), col("bb.band").as("band"), col("bb.bucket").as("bucket"))
      .repartition(parts, col("band"), col("bucket"))
    buckets.select(col("band"), col("bucket"), col("id").as("id_a"))
      .join(buckets.select(col("band"), col("bucket"), col("id").as("id_b")),
        Seq("band", "bucket"))
      .filter(col("id_a") < col("id_b"))
      .select("id_a", "id_b").distinct()
      // the (id_a, id_b) pin would be collapsed into the distinct's own
      // coalescible exchange, so key by id_a SALTED with a bounded hash
      // of id_b: a hub document pairing with thousands of others spreads
      // over Salting.pairSalt partitions instead of concentrating its
      // verification in one (a pinned REPARTITION_BY_NUM also opts out
      // of AQE skew-splitting, so the salt is the only skew valve here)
      // The salt spreads hub verification only while the verify legs
      // plan as broadcast joins: a sort-merge leg needs clustering on
      // id_a alone, so it adds an exchange on top of this one.
      .repartition(parts, col("id_a"), pmod(xxhash64(col("id_b")), lit(Salting.pairSalt)))
  }

  def minhashCandidatePairs(df: DataFrame, idCol: String, textCol: String,
      k: Int = 3, numHashes: Int = 32, bands: Int = 16,
      threshold: Double = 0.5): DataFrame = {
    val sigDf = minhashIndex(df, idCol, textCol, k, numHashes)
    // dedup multi-band collisions, THEN re-attach the two signatures
    minhashVerify(bandedCandidates(sigDf, bands, numHashes / bands),
      sigDf, numHashes, threshold)
  }

  private def minhashVerify(pairs: DataFrame, sigDf: DataFrame,
      numHashes: Int, threshold: Double): DataFrame =
    pairs
      .join(sigDf.select(col("id").as("id_a"), col("sig").as("sig_a")), Seq("id_a"))
      .join(sigDf.select(col("id").as("id_b"), col("sig").as("sig_b")), Seq("id_b"))
      .withColumn("est_jaccard",
        aggregate(zip_with(col("sig_a"), col("sig_b"),
          (x, y) => when(x === y, 1).otherwise(0)),
          lit(0), (acc, v) => acc + v).cast("double") / lit(numHashes.toDouble))
      .filter(col("est_jaccard") >= threshold)
      .select("id_a", "id_b", "est_jaccard")

  /** MinHash LSH candidates verified by EXACT Jaccard (the production
    * dedup shape: the sketch only generates candidates; the emitted
    * similarity is exact, so results are engine-checkable and free of
    * estimation noise). Banding must be sized for recall at the
    * threshold: P(candidate | J) = 1 − (1 − J^r)^b — the (16 × 2)
    * default gives ≥ 1 − 8e-8 at J ≥ 0.8 while a (8 × 4) layout would
    * miss ~1.5% of J=0.8 pairs. The trade: fewer rows per band flattens
    * the S-curve, so corpora with high BACKGROUND similarity (unrelated
    * pairs at J ≳ 0.2) generate more false candidates for the verify
    * step — prefer more rows per band there and size b for the recall
    * target. Verification attaches each side's
    * distinct shingle-hash set only to the candidate pairs (tiny vs the
    * corpus), so the exact step costs O(candidates · shingles), not
    * O(N²). */
  def minhashVerifiedPairs(df: DataFrame, idCol: String, textCol: String,
      k: Int = 3, numHashes: Int = 32, bands: Int = 16,
      threshold: Double = 0.5, indexPath: Option[String] = None): DataFrame = {
    val sigDf = minhashIndex(df, idCol, textCol, k, numHashes, indexPath)
    val pairs = bandedCandidates(sigDf, bands, numHashes / bands)
    // ONE materialized per-doc shingle-set table feeding BOTH verify
    // legs: built inline, each leg's join re-derived it — a second full
    // tokenize pass over the corpus (and a third counting the signature
    // index). Same trade as the history-dedup single-tokenize:
    // corpus-scale spill-capable checkpoint storage instead of a
    // repeated tokenize scan; LAZY, so the first verify leg's
    // materialization doubles as the build. Storage follows the sig
    // index's lifecycle (transient; the bench sweep / ContextCleaner
    // reap it once the pair list is consumed).
    val sets = df.select(col(idCol).as("id"),
      shingleHashes(col(textCol), k, distinct = true).as("sh"))
      .localCheckpoint(eager = false)
    pairs
      .join(sets.select(col("id").as("id_a"), col("sh").as("sh_a")), Seq("id_a"))
      .join(sets.select(col("id").as("id_b"), col("sh").as("sh_b")), Seq("id_b"))
      .withColumn("inter", size(array_intersect(col("sh_a"), col("sh_b"))))
      .withColumn("jaccard", col("inter").cast("double") /
        (size(col("sh_a")) + size(col("sh_b")) - col("inter")))
      .filter(col("jaccard") >= threshold)
      .select("id_a", "id_b", "jaccard")
  }

  /** Corpus-level near-dedup: given candidate pairs (id_a < id_b), keep
    * the corpus minus every id that appears as the GREATER member of a
    * pair. Greedy min-id survivorship: for a transitive duplicate
    * cluster {a<b<c}, pairs (a,b),(a,c),(b,c) drop b and c, keeping a.
    * (Full connected-components — iterative min-propagation — is only
    * needed when LSH misses intra-cluster pairs; at that point run
    * GraphX/iterate; this covers the standard pipeline case in one
    * anti-join.) */
  def dedupByPairs(df: DataFrame, idCol: String, pairs: DataFrame): DataFrame = {
    val drop = pairs.select(col("id_b").as(idCol)).distinct()
    df.join(drop, Seq(idCol), "left_anti")
  }

  /** [[dedupByPairs]] with a QUALITY-AWARE survivor choice: for every
    * candidate pair the lower-`score` member drops (score tie → the
    * greater id, so survivorship is deterministic and min-id-compatible
    * on constant scores) — the "keep the best duplicate" rule real
    * curation runs want, where min-id keeps whichever copy happened to
    * crawl first. Same pair-local greedy semantics as [[dedupByPairs]]:
    * within a transitive cluster every pair charges its own loser, so
    * the cluster's best member always survives; a mid-quality member
    * survives only if LSH missed its pair with the best — the same
    * recall trade documented on [[dedupByPairs]].
    *
    * Scale shape: scores attach to the PAIR LIST (candidate-sized,
    * orders of magnitude under the corpus), two joins keyed on the id —
    * Catalyst broadcasts the small side; the corpus pays one anti-join,
    * exactly like [[dedupByPairs]]. */
  def dedupByPairsKeepBest(df: DataFrame, idCol: String, pairs: DataFrame,
      score: Column): DataFrame = {
    val scored = df.select(col(idCol), score.as("__score"))
    val loserPerPair = pairs.select(col("id_a"), col("id_b"))
      .join(scored.select(col(idCol).as("id_a"), col("__score").as("__sa")),
        Seq("id_a"))
      .join(scored.select(col(idCol).as("id_b"), col("__score").as("__sb")),
        Seq("id_b"))
      .select(
        // a NULL score is WORSE than any real score (a null-scored doc
        // must not outlive a scoreable one on the tie branch); two
        // nulls fall through to the deterministic id tie-break
        when(col("__sa").isNull && col("__sb").isNotNull, col("id_a"))
          .when(col("__sb").isNull && col("__sa").isNotNull, col("id_b"))
          .when(col("__sa") < col("__sb"), col("id_a"))
          .when(col("__sb") < col("__sa"), col("id_b"))
          .otherwise(greatest(col("id_a"), col("id_b"))).as(idCol))
      .distinct()
    df.join(loserPerPair, Seq(idCol), "left_anti")
  }

  /** End-to-end near-dedup via MinHash LSH: detect pairs, keep min-id
    * survivors. */
  /** (bands default 16×2, not 8×4: at the J=0.8 near-dup threshold the
    * wider banding misses ~8e-8 of true pairs vs ~1.5% — see
    * [[minhashVerifiedPairs]], including the false-candidate trade.) */
  def dedupNear(df: DataFrame, idCol: String, textCol: String,
      k: Int = 3, numHashes: Int = 32, bands: Int = 16,
      threshold: Double = 0.8): DataFrame =
    dedupByPairs(df, idCol,
      minhashCandidatePairs(df, idCol, textCol, k, numHashes, bands, threshold))

  /** Connected components over candidate-pair edges: iterative min-label
    * propagation to fixpoint. Needed when duplicate clusters are CHAINS —
    * a~b and b~c with no direct a~c pair — where greedy pair-wise
    * survivorship keeps two representatives of one cluster. Output:
    * (id, component) with component = the cluster's minimum id.
    *
    * Scale shape: each iteration is one join edges⋈labels + one min-agg;
    * iterations ≈ graph diameter (near-dup clusters are shallow, so
    * single digits); labels are localCheckpoint'd per round to keep
    * lineage flat. This is the standard large-graph CC-by-hashing loop. */
  def connectedComponents(pairs: DataFrame, maxIter: Int = 20): DataFrame = {
    // undirected edge list, both directions
    val edges = pairs.select(col("id_a").as("src"), col("id_b").as("dst"))
      .union(pairs.select(col("id_b").as("src"), col("id_a").as("dst")))
      .distinct().localCheckpoint()
    var labels = edges.select(col("src").as("id")).distinct()
      .withColumn("component", col("id")).localCheckpoint()
    var converged = false
    var iter = 0
    while (!converged && iter < maxIter) {
      val neighborMin = edges
        .join(labels.withColumnRenamed("id", "dst")
          .withColumnRenamed("component", "n_component"), Seq("dst"))
        .groupBy(col("src").as("id"))
        .agg(min(col("n_component")).as("n_component"))
      // change-detection rides along as a flag column computed inside the
      // SAME select, so the eager localCheckpoint is the iteration's one
      // heavy action; the convergence probe below only scans the
      // checkpointed partitions (it does NOT re-execute the join, which a
      // separate updated⋈labels comparison would)
      val updated = labels.join(neighborMin, Seq("id"), "left")
        .select(col("id"),
          least(col("component"), coalesce(col("n_component"), col("component")))
            .as("component"),
          (coalesce(col("n_component"), col("component")) < col("component"))
            .as("__changed"))
        .localCheckpoint()
      converged = updated.filter(col("__changed")).isEmpty
      labels = updated.drop("__changed")
      iter += 1
    }
    labels
  }

  /** Cluster-exact near-dedup: keep each component's minimum id (plus all
    * unpaired docs). Escalation of [[dedupByPairs]] for chained clusters. */
  def dedupByComponents(df: DataFrame, idCol: String, pairs: DataFrame): DataFrame = {
    val cc = connectedComponents(pairs)
    df.join(cc.withColumnRenamed("id", idCol), Seq(idCol), "left")
      .filter(col("component").isNull || col("component") === col(idCol))
      .drop("component")
  }

  /** Duplicate-cluster size histogram: `(cluster_size, n_clusters)` over
    * the connected components of a near-dup pair graph — the one-page
    * duplication profile a curation datasheet publishes (how much of the
    * corpus is pairwise twins vs. hundred-way boilerplate explosions).
    * The shape drives remediation: mass at size 2 is organic re-posting
    * that pair-dedup handles; a heavy tail means template boilerplate
    * that wants span excision ([[removeDuplicatedSpans]]) or a DF cut
    * ([[shingleIndex]]'s `maxShingleDf`) instead of whole-doc dropping.
    * Only documents that appear in ≥1 pair are counted (singletons are
    * not "clusters"), so every size is ≥ 2.
    *
    * The histogram is label-invariant — it depends on the component
    * PARTITION, not on which id labels each cluster — which is what
    * makes the iterative min-label CC oracle-checkable against a
    * declarative transitive-closure SQL. Scale shape: inherits
    * [[connectedComponents]] (candidate-sized edge list, diameter-bound
    * iterations); both rollups are hash-aggs whose output is at most
    * |distinct sizes| ≤ √(2·|pairs|) rows. */
  def clusterSizeHistogram(pairs: DataFrame): DataFrame =
    connectedComponents(pairs)
      .groupBy("component")
      .agg(count(lit(1)).as("cluster_size"))
      .groupBy("cluster_size")
      .agg(count(lit(1)).as("n_clusters"))

  /** One fixed-point PageRank step over an undirected pair graph —
    * centrality inside near-duplicate clusters (which variant of a
    * duplicated page is the "canonical" one a survivorship policy
    * should keep: the highest-PR node touches the most neighbors).
    * From the uniform iterate pr₀ = 10⁶ ppm:
    * `pr(v) = (100−d)·10⁴ + ⌊d·Σ_{u∼v} ⌊10⁶/deg(u)⌋ / 100⌋` — every
    * operation integral (floor divisions, order-independent integer
    * sums), so the step is bit-identical across engines and
    * partitionings, exactly like the [[connectedComponents]] /
    * power-iteration / Lloyd family it joins. Scale shape: the edge
    * list mirrors once (2·|pairs| narrow rows, checkpointed — the
    * caller's pair plan is usually expensive and must not run twice),
    * degree and contribution rollups are map-side-partial hash aggs
    * keyed by node id; nothing is quadratic. Only nodes appearing in
    * the edge list are ranked (isolated docs keep the teleport score
    * by definition — emitting them would need the corpus, not the
    * graph). */
  def pagerankStep(pairs: DataFrame, dampingPct: Long = 85L): DataFrame = {
    require(dampingPct >= 0L && dampingPct <= 100L,
      s"dampingPct in [0,100], got $dampingPct")
    val m = pairs.select(col("id_a").as("u"), col("id_b").as("v"))
      .unionAll(pairs.select(col("id_b").as("u"), col("id_a").as("v")))
      .localCheckpoint() // read twice: degree rollup + contribution join
    val deg = m.groupBy("u").agg(count(lit(1)).as("__deg"))
    m.join(deg, "u")
      .select(col("v"), expr("1000000L div __deg").as("__c"))
      .groupBy(col("v").as("doc_id"))
      .agg(sum("__c").as("__s"))
      .select(col("doc_id"),
        (lit((100L - dampingPct) * 10000L) +
          expr(s"($dampingPct * __s) div 100")).as("pr_fp"))
      .orderBy("doc_id")
  }

  // ---- SimHash ---------------------------------------------------------

  /** Near-duplicate pairs by SimHash: bucket on 4 bands of the 62-bit
    * sketch (16+16+16+14 bits), verify with bit_count. EXACT for
    * `maxHamming ≤ 3`: by pigeonhole, ≤ 3 differing bits cannot touch
    * all 4 bands, so every qualifying pair shares a full band — recall
    * is 100% by construction, which is what lets the driver oracle
    * assert the result against all-pairs SQL. Above 3 the banding is a
    * high-recall heuristic (a pair differing in ≥ 4 bits may straddle
    * all bands). */
  def simhashPairs(df: DataFrame, idCol: String, textCol: String,
      maxHamming: Int = 3): DataFrame = {
    val bandBits = Seq((0, 16), (16, 16), (32, 16), (48, 14))
    val withSh = df.select(col(idCol).as("id"),
      TextAnalysis.simhash62(col(textCol)).as("sh"))
      .localCheckpoint() // sketch index built once; banded join reads it 2×
    val banded = withSh.select(col("id"), col("sh"),
      explode(array(bandBits.zipWithIndex.map { case ((off, width), b) =>
        struct(lit(b).as("band"),
          shiftright(col("sh"), off).bitwiseAND(lit((1L << width) - 1)).as("bits"))
      }: _*)).as("bb"))
      .select(col("id"), col("sh"), col("bb.band").as("band"), col("bb.bits").as("bits"))
    val a = banded.select(col("band"), col("bits"), col("id").as("id_a"), col("sh").as("sh_a"))
    val b = banded.select(col("band"), col("bits"), col("id").as("id_b"), col("sh").as("sh_b"))
    a.join(b, Seq("band", "bits"))
      .filter(col("id_a") < col("id_b"))
      .dropDuplicates("id_a", "id_b")
      .withColumn("hamming", TextAnalysis.hamming64(col("sh_a"), col("sh_b")))
      .filter(col("hamming") <= maxHamming)
      .select("id_a", "id_b", "hamming")
  }

  // ---- n-gram Jaccard --------------------------------------------------

  /** True Jaccard similarity over k-word shingle sets, computed
    * distributively: explode → self-join on shingle → pair intersection
    * counts vs per-doc set sizes.
    *
    * PRECONDITION: `idCol` values are unique (they're document primary
    * keys everywhere this runs). Set semantics come from the kernel's
    * per-row dedup, so a duplicated id row would double-count its
    * shingles in the size/intersection arithmetic rather than being
    * absorbed — run [[dedupExact]]-style id dedup first if ids can
    * repeat.
    *
    * `maxShingleDf` (0 = off) is the document-frequency cut for the
    * degenerate-bucket hazard: a shingle present in F documents yields
    * F² join rows, so one boilerplate phrase shared by 10⁵ docs would
    * dominate the join. With the cut, shingles with DF > cap are
    * treated as corpus stopwords — dropped from BOTH candidate
    * generation and the size/intersection arithmetic, so emitted
    * Jaccard stays internally consistent (it's Jaccard over the
    * non-ubiquitous shingle sets, the standard formulation). */
  /** The exploded (id, shingle-hash) index — build ONCE, run every
    * Jaccard-family query against it ([[ngramJaccardPairsFromIndex]]).
    * 64-bit shingle hashes, not strings: same counts (collision odds
    * ~(N·s)²/2⁶⁴) and the exploded shuffle carries 8-byte keys instead
    * of arbitrary-length text. Set semantics come from the kernel's
    * per-row dedup (doc ids are unique, so (id, shingle) is globally
    * unique after a per-doc distinct) — NO corpus-wide distinct()
    * shuffle after the explode. Materialized because every query over
    * it reads it at least three times (sizes + both join sides):
    * `path = None` via localCheckpoint (fast; executor-local, lost on
    * executor failure); with a `path` the index WRITES as parquet
    * partitioned by `shard = pmod(shingle, shards)` and the re-read is
    * returned — durable across failures and jobs, and shingle-keyed
    * probes ([[shingleLookup]] — the decontamination/point-probe shape)
    * prune to their shard directories at file listing. */
  def shingleIndex(df: DataFrame, idCol: String, textCol: String,
      k: Int = 3, path: Option[String] = None, shards: Int = 64): DataFrame = {
    val idx = df.select(col(idCol).as("id"),
      explode(shingleHashes(col(textCol), k, distinct = true)).as("shingle"))
    path match {
      case Some(p) =>
        idx.withColumn("shard", pmod(col("shingle"), lit(shards.toLong)))
          .write.partitionBy("shard").mode("overwrite").parquet(p)
        df.sparkSession.read.parquet(p).select("id", "shingle")
      case None => idx.localCheckpoint()
    }
  }

  /** Pruned probe of a written [[shingleIndex]] (read WITH its `shard`
    * column): which documents contain any of `hashes`? Filters the
    * shard partition key first — only the probed shingles' directories
    * are listed, the 100-TB-index point-lookup shape. */
  def shingleLookup(index: DataFrame, hashes: Seq[Long], shards: Int = 64): DataFrame =
    index
      .filter(col("shard").isin(
        hashes.map(h => java.lang.Math.floorMod(h, shards.toLong)): _*) &&
        col("shingle").isin(hashes: _*))
      .select("id", "shingle")

  def ngramJaccardPairs(df: DataFrame, idCol: String, textCol: String,
      k: Int = 3, threshold: Double = 0.5, maxShingleDf: Long = 0L,
      indexPath: Option[String] = None): DataFrame =
    ngramJaccardPairsFromIndex(shingleIndex(df, idCol, textCol, k, indexPath),
      threshold, maxShingleDf)

  /** Jaccard pairs against a prebuilt [[shingleIndex]] — the probe side
    * of the build-once/query-many split (threshold and DF-cut are query
    * parameters; the index is threshold-independent). */
  def ngramJaccardPairsFromIndex(shAll: DataFrame, threshold: Double,
      maxShingleDf: Long = 0L): DataFrame = {
    val sh = if (maxShingleDf > 0) {
      val rare = shAll.groupBy("shingle")
        .agg(count(lit(1)).as("df"))
        .filter(col("df") <= maxShingleDf)
        .select("shingle")
      // the cut output also feeds three consumers — materialize it too
      shAll.join(rare, Seq("shingle"), "left_semi").localCheckpoint()
    } else shAll
    val sizes = sh.groupBy("id").agg(count(lit(1)).as("sz"))
    // pinned join-key width for the pair join: the index is a few MB of
    // 16-byte rows, so AQE coalesces its exchange to 1-4 partitions —
    // and the self-join's per-shingle quadratic fan-out plus the pair
    // rollup's partials then serialize into that handful of tasks
    // (measured on the q98 shape: 1 task carrying 2.2 s of a 3.4 s
    // query). Session shuffle parallelism is the scale-adaptive width;
    // bytes-based coalescing is the wrong signal under structural
    // fan-out.
    val shJ = sh.repartition(
      graft.util.Parallelism.shuffleWidth(sh), col("shingle"))
    val inter = shJ.alias("x").join(shJ.alias("y"), Seq("shingle"))
      .filter(col("x.id") < col("y.id"))
      .groupBy(col("x.id").as("id_a"), col("y.id").as("id_b"))
      .agg(count(lit(1)).as("inter"))
    inter
      .join(sizes.select(col("id").as("id_a"), col("sz").as("sz_a")), Seq("id_a"))
      .join(sizes.select(col("id").as("id_b"), col("sz").as("sz_b")), Seq("id_b"))
      .withColumn("jaccard",
        col("inter").cast("double") / (col("sz_a") + col("sz_b") - col("inter")))
      .filter(col("jaccard") >= threshold)
      .select("id_a", "id_b", "jaccard")
  }

  /** Cross-source shingle-overlap matrix: for every pair of sources,
    * the exact Jaccard similarity of their DISTINCT k-shingle sets, in
    * integer ppm — the corpus-composition diagnostic behind mixing
    * decisions ("are these two crawls the same content?") and the
    * source-level complement of the per-document near-dup family.
    * Pairs with an empty intersection are omitted.
    *
    * Scale shape: the corpus collapses to distinct (source, shingle)
    * rows FIRST (hash agg with partials — document volume never
    * reaches the join), so the self-join's per-shingle fan-out is
    * bounded by the number of SOURCES sharing the shingle, ≤
    * |sources|² pairs per shingle regardless of corpus size. The
    * |sources|-sized size table joins broadcast. Jaccard is exact
    * integer cross-multiplication — no floats. */
  def sourceOverlapMatrix(df: DataFrame, groupCol: String, textCol: String,
      k: Int = 3): DataFrame = {
    val sh = df.select(col(groupCol).as("src"),
        explode(shingleHashes(col(textCol), k, distinct = true)).as("shingle"))
      .distinct()
      .localCheckpoint() // sizes + both sides of the pair join
    val sizes = sh.groupBy("src").agg(count(lit(1)).as("sz"))
    // pinned join-key width — the ngramJaccardPairsFromIndex rationale:
    // the distinct (src, shingle) table is bytes-tiny, AQE coalesces its
    // exchange, and the per-shingle |sources|² fan-out serializes
    val shJ = sh.repartition(
      graft.util.Parallelism.shuffleWidth(sh), col("shingle"))
    shJ.alias("x").join(shJ.alias("y"), Seq("shingle"))
      .filter(col("x.src") < col("y.src"))
      .groupBy(col("x.src").as("src_a"), col("y.src").as("src_b"))
      .agg(count(lit(1)).as("inter"))
      .join(broadcast(sizes.select(col("src").as("src_a"),
        col("sz").as("sz_a"))), Seq("src_a"))
      .join(broadcast(sizes.select(col("src").as("src_b"),
        col("sz").as("sz_b"))), Seq("src_b"))
      .withColumn("jaccard_ppm", fdiv(dec(col("inter")) * lit(1000000),
        dec(col("sz_a")) + dec(col("sz_b")) - dec(col("inter"))))
      .select(col("src_a"), col("src_b"), col("inter"), col("sz_a"),
        col("sz_b"), col("jaccard_ppm"))
      .orderBy(col("jaccard_ppm").desc, col("src_a"), col("src_b"))
  }

  /** Directed containment pairs (Broder 1997's second resemblance
    * measure): C(A→B) = |A ∩ B| / |A| ≥ threshold flags document A as
    * an EXCERPT of B — the near-dup family's answer to quotes, partial
    * re-crawls, and page-within-page duplication that symmetric Jaccard
    * misses (a 50-token quote inside a 5000-token page has J ≈ 0.01
    * but C ≈ 1.0). Output is DIRECTED: one row per ordered pair
    * (id_a, id_b, containment) with id_a ≠ id_b — a mutual pair (true
    * near-dups) appears in both directions.
    *
    * Same scale shape as [[ngramJaccardPairsFromIndex]]: candidates
    * come only from the shingle-equality join (never all-pairs), the
    * `maxShingleDf` cut guards the hot-shingle blowup, and the
    * normalizer is the CONTAINED side's size only — one size join per
    * direction.
    *
    * Unlike the Jaccard family (cut opt-in, default 0), the DF cut
    * here DEFAULTS ON at the q48 cut (20): the containment use-case —
    * excerpts of popular boilerplate — is biased TOWARD hot shingles,
    * so the unguarded join's quadratic-in-DF fan-out is the expected
    * case, not the tail. The trade is the q48 one: a document whose
    * shingles are ALL corpus-hot (pure boilerplate) presents no rare
    * evidence and drops out of the pair list — pass `maxShingleDf = 0`
    * to disable when the corpus is known cold.
    *
    * NOTE (behavior change): earlier releases defaulted
    * `maxShingleDf = 0` (unguarded, exact containment). Callers that
    * relied on boilerplate-only documents appearing in pair lists must
    * now pass `maxShingleDf = 0` explicitly. */
  def containmentPairs(df: DataFrame, idCol: String, textCol: String,
      k: Int = 3, threshold: Double = 0.5, maxShingleDf: Long = 20L): DataFrame =
    containmentPairsFromIndex(shingleIndex(df, idCol, textCol, k),
      threshold, maxShingleDf)

  /** [[containmentPairs]] against a prebuilt [[shingleIndex]] — shares
    * the index with the Jaccard/prefix-filter queries (the index is
    * measure-independent). Same guarded default (`maxShingleDf = 20`). */
  def containmentPairsFromIndex(shAll: DataFrame, threshold: Double,
      maxShingleDf: Long = 20L): DataFrame = {
    val sh = if (maxShingleDf > 0) {
      val rare = shAll.groupBy("shingle")
        .agg(count(lit(1)).as("df"))
        .filter(col("df") <= maxShingleDf)
        .select("shingle")
      shAll.join(rare, Seq("shingle"), "left_semi").localCheckpoint()
    } else shAll
    val sizes = sh.groupBy("id").agg(count(lit(1)).as("sz"))
    // pinned join-key width — same rationale and measurement as
    // [[ngramJaccardPairsFromIndex]]: AQE coalesces the byte-tiny index
    // exchange and serializes the quadratic pair fan-out into 1 task
    val shJ = sh.repartition(
      graft.util.Parallelism.shuffleWidth(sh), col("shingle"))
    val inter = shJ.alias("x").join(shJ.alias("y"), Seq("shingle"))
      .filter(col("x.id") =!= col("y.id"))
      .groupBy(col("x.id").as("id_a"), col("y.id").as("id_b"))
      .agg(count(lit(1)).as("inter"))
    inter
      .join(sizes.select(col("id").as("id_a"), col("sz").as("sz_a")), Seq("id_a"))
      .withColumn("containment", col("inter").cast("double") / col("sz_a"))
      .filter(col("containment") >= threshold)
      .select("id_a", "id_b", "containment")
  }

  /** Ids to DROP under containment survivorship, against a prebuilt
    * [[shingleIndex]]: a document drops when some
    * [[containmentPairsFromIndex]] row flags it as an excerpt of a
    * STRICTLY LARGER container (more distinct shingles in the FULL
    * index — the true doc size, independent of the DF cut), with
    * smaller id breaking exact ties — so a mutual near-identical pair
    * keeps exactly its bigger (tie: first) copy. One-hop semantics:
    * containers are judged independently (in an A⊂B⊂C chain both
    * excerpts drop — standard excerpt removal, no fixed-point pass);
    * the pair list is containment-sized, so the rollup never touches
    * payloads. */
  def containmentDropIds(sh: DataFrame, threshold: Double,
      maxShingleDf: Long = 20L): DataFrame = {
    val pairs = containmentPairsFromIndex(sh, threshold, maxShingleDf)
    val sizes = sh.groupBy("id").agg(count(lit(1)).as("__csz"))
    pairs
      .join(sizes.select(col("id").as("id_a"), col("__csz").as("__sz_a")),
        Seq("id_a"))
      .join(sizes.select(col("id").as("id_b"), col("__csz").as("__sz_b")),
        Seq("id_b"))
      .filter(col("__sz_b") > col("__sz_a") ||
        (col("__sz_b") === col("__sz_a") && col("id_b") < col("id_a")))
      .select(col("id_a").as("id")).distinct()
  }

  /** Containment (excerpt) dedup: the corpus minus every document that
    * is an excerpt (containment ≥ `threshold`) of a larger surviving
    * copy — [[containmentDropIds]] applied as one anti join. Same
    * storage discipline as the other from-scratch pair APIs: the
    * internal [[shingleIndex]] checkpoint rides the result plan —
    * release via [[Materialized.release]] after the terminal action. */
  def dedupByContainment(df: DataFrame, idCol: String, textCol: String,
      k: Int = 3, threshold: Double = 0.8,
      maxShingleDf: Long = 20L): DataFrame = {
    val sh = shingleIndex(df, idCol, textCol, k)
    df.join(containmentDropIds(sh, threshold, maxShingleDf)
        .select(col("id").as(idCol)),
      Seq(idCol), "left_anti")
  }

  /** Per-document n-gram NOVELTY against the corpus ordered by id —
    * what fraction of a document's distinct k-gram shingles first
    * appear in THAT document (no earlier-id document contains them)?
    * The crawl-ordering quality signal: in an id-ordered ingest, a
    * late document with near-zero novelty is re-crawled/templated
    * content even when no single earlier document matches it closely
    * enough for pair-wise dedup (its grams are scattered across many
    * predecessors). Output: (id, n_shingles, novel_shingles, novelty)
    * with novelty = novel/n as ONE IEEE division of exact longs.
    *
    * Scale shape: word-count on 8-byte gram keys — one map-side-partial
    * `min(id)` rollup per shingle (hot shingles collapse in the
    * partials), one id-keyed count-agg join back; no joins carry text,
    * nothing is quadratic. */
  def ngramNovelty(df: DataFrame, idCol: String, textCol: String,
      k: Int = 3): DataFrame =
    ngramNoveltyFromIndex(shingleIndex(df, idCol, textCol, k), idCol)

  /** [[ngramNovelty]] against a prebuilt [[shingleIndex]] (shared with
    * the pair queries — the index is measure-independent). */
  def ngramNoveltyFromIndex(sh: DataFrame, idCol: String = "id"): DataFrame = {
    val first = sh.groupBy("shingle").agg(min(col("id")).as("__first"))
    sh.join(first, Seq("shingle"))
      .groupBy(col("id").as(idCol))
      .agg(count(lit(1)).as("n_shingles"),
        sum(when(col("__first") === col("id"), 1L).otherwise(0L))
          .as("novel_shingles"))
      .withColumn("novelty",
        col("novel_shingles").cast("double") / col("n_shingles"))
  }

  /** Exact Jaccard pairs by PREFIX FILTERING (Bayardo et al. 2007,
    * "Scaling Up All Pairs Similarity Search") — the same result set as
    * [[ngramJaccardPairsFromIndex]] from a fundamentally cheaper
    * candidate join. For Jaccard ≥ t, two shingle sets must share an
    * element among each set's first `s − ⌈t·s⌉ + 1` shingles in a
    * global canonical order (rarest-first: df asc, shingle asc) — so
    * the self-join explodes only PREFIXES, not full sets. Verification
    * then runs per candidate pair on compact per-doc hash arrays
    * (`array_intersect`, codegen) — candidate-sized work, one exchange
    * on the pair key.
    *
    * At 100 TB this is the all-pairs configuration that replaces the
    * full index self-join: the prefix join's fan-out shrinks with t
    * (t=0.9 explodes ~10% of each set) and skips the ubiquitous-shingle
    * blowup automatically — hot shingles are almost never in a
    * rarest-first prefix — making it the exact-result alternative to
    * the lossy DF-cut guard.
    *
    * The prefix length uses `⌈t'·s⌉` with `t' = floor(t·10⁶)/10⁶ ≤ t`
    * in exact integer arithmetic — a float `ceil(0.4·5)` can land on
    * 3 where exact lands on 2, silently SHORTENING the prefix and
    * dropping true pairs; rounding t DOWN only lengthens it (safe).
    *
    * The VERIFY join carries its own broadcast decision: at 100× the
    * candidate-pair stream joined against both sides' shingle arrays
    * is a TB-scale shuffle that exhausted scratch disk under Spark's
    * stock 10 MB threshold, while broadcasting the per-doc array table
    * (a few hundred MB) turns verification into a streaming
    * broadcast-hash probe with NO pair exchange at all (SCALE.md,
    * round-13 100× finding). The engine now auto-sizes that decision
    * instead of relying on session config: the per-doc table's bytes
    * are estimated from its (row count, total shingle count) — both
    * one cheap agg over the already-checkpointed table — and the
    * verify legs take an explicit `broadcast()` hint whenever BOTH
    * legs' combined residency (2× the estimate — each leg broadcasts
    * the same table) fits `verifyBroadcastMaxBytes`. The default is
    * 1 GiB of TOTAL broadcast residency (so ≤512 MiB per leg), and
    * the hint must be safe on a DEFAULT driver heap — the measured
    * 100× build side (a few hundred MB) fits, while a corpus past the
    * cap falls back to the shuffle plan instead of OOMing the driver.
    * Raise it (with driver memory to match) for bigger corpora; pass 0
    * to force the shuffle plan. */
  def ngramJaccardPairsPrefixFromIndex(shAll: DataFrame,
      threshold: Double,
      verifyBroadcastMaxBytes: Long = 1L << 30): DataFrame = {
    require(threshold > 0.0 && threshold <= 1.0,
      s"threshold must be in (0,1], got $threshold")
    val tPpm = math.floor(threshold * 1000000).toLong
    val dfs = shAll.groupBy("shingle").agg(count(lit(1)).as("__df"))
    // per-doc shingles in canonical rarest-first order, as ONE array —
    // read twice (prefix explode + pair verification)
    val docs = shAll.join(dfs, "shingle")
      .groupBy("id")
      .agg(array_sort(collect_list(struct(col("__df"), col("shingle"))))
        .getField("shingle").as("__syms"))
      .select(col("id"), col("__syms"), size(col("__syms")).as("__sz"))
      .localCheckpoint()
    // prefix length ℓ = s − ⌈t'·s⌉ + 1, exact integer ceil
    val ceilTs = ceilDiv(col("__sz").cast("long") * tPpm, 1000000L)
    val prefixes = docs
      .select(col("id"),
        explode(slice(col("__syms"), lit(1),
          greatest((col("__sz") - ceilTs + lit(1)).cast("int"), lit(1))))
          .as("shingle"))
      // EXPLICIT join-key repartition at the session's configured
      // shuffle parallelism (pinned N — AQE cannot re-coalesce it): the
      // prefix table is tiny in BYTES, so AQE coalesces its exchange to
      // 1-4 partitions, but the self-join fans out quadratically per
      // shingle and the coalesced task then serializes candidate
      // generation + the pair-distinct partials (measured: the fan-out
      // stage ran in 4 tasks of a 32-core session, 2.9 s of a 3.8 s
      // query). Bytes-proportional coalescing is the wrong signal for a
      // structurally-exploding join; session parallelism is the right
      // scale-adaptive width at any corpus size.
      .repartition(
        graft.util.Parallelism.shuffleWidth(shAll), col("shingle"))
    // the same pinned-width treatment for VERIFICATION: candidate pairs
    // are 16 bytes/row, so AQE coalesces the distinct's exchange to a
    // handful of partitions — but each pair then pays an O(|set|)
    // array_intersect, work the byte-based coalescing cannot see
    // (measured: verify ran in 5 tasks, 1.9 s of a 3.7 s query)
    val cands = prefixes.alias("x").join(prefixes.alias("y"), Seq("shingle"))
      .filter(col("x.id") < col("y.id"))
      .select(col("x.id").as("id_a"), col("y.id").as("id_b"))
      .distinct()
      // a pinned repartition with the distinct's own (id_a, id_b) keys
      // is planned as redundant and collapsed into the coalescible
      // distinct exchange — so key by id_a SALTED with a bounded hash of
      // id_b ([[Salting.pairSalt]]): the pin survives AND a hub id_a's
      // per-pair array_intersect work spreads instead of landing in one
      // partition (pinned exchanges opt out of AQE skew-splitting)
      // The salt spreads hub verification only while the verify legs
      // plan as broadcast joins: a sort-merge leg needs clustering on
      // id_a alone, so it adds an exchange on top of this one.
      .repartition(graft.util.Parallelism.shuffleWidth(shAll),
        col("id_a"), pmod(xxhash64(col("id_b")), lit(Salting.pairSalt)))
    // auto-sized verify-broadcast decision: ~8 bytes per shingle hash
    // plus per-row array/offset overhead — a deliberate overestimate
    // (UnsafeArrayData headers, row pointers), so the hint only fires
    // with real headroom. One narrow agg over the checkpointed table.
    // The cap is a TOTAL residency budget: both legs broadcast the same
    // table, so the decision charges 2× the estimate against it.
    val hintBroadcast = verifyBroadcastMaxBytes > 0 && {
      val st = docs.agg(count(lit(1)).as("n"),
        coalesce(sum(col("__sz").cast("long")), lit(0L)).as("tot")).head()
      2L * (st.getLong(0) * 64L + st.getLong(1) * 8L) <= verifyBroadcastMaxBytes
    }
    def verifySide(df: DataFrame): DataFrame =
      if (hintBroadcast) broadcast(df) else df
    cands
      .join(verifySide(docs.select(col("id").as("id_a"),
        col("__syms").as("__sa"), col("__sz").as("sz_a"))), Seq("id_a"))
      .join(verifySide(docs.select(col("id").as("id_b"),
        col("__syms").as("__sb"), col("__sz").as("sz_b"))), Seq("id_b"))
      .withColumn("inter", size(array_intersect(col("__sa"), col("__sb"))))
      .withColumn("jaccard",
        col("inter").cast("double") / (col("sz_a") + col("sz_b") - col("inter")))
      .filter(col("jaccard") >= threshold)
      .select("id_a", "id_b", "jaccard")
  }

  /** Sorted-neighborhood candidate pairs (Hernández & Stolfo 1995's
    * merge/purge) with LENGTH blocking: documents sort by (token
    * count, id) and every pair within `window` positions of that order
    * is a candidate, verified by exact shingle Jaccard. The third
    * blocking family next to hash bucketing (MinHash bands) and prefix
    * filtering: the sort key needs no similarity structure — any key
    * whose neighborhood correlates with similarity works, and token
    * length is the classic cheap one (near-dups rarely differ much in
    * length). Recall is explicitly windowed: a true pair more than
    * `window` positions apart is missed — the documented SNM trade;
    * the standard mitigation is multi-pass with different keys.
    *
    * Scale shape: the global order is NEVER a single-partition window —
    * ranks come from per-length bucket counts (token counts are
    * bounded, so the bucket table is driver-tiny), broadcast offsets,
    * and a per-bucket row_number; candidates join on rank BANDS of
    * width `window` (each row probes its own and the previous band),
    * so the join is equi-keyed and pair work is N·window, never N².
    * Verification is candidate-sized `array_intersect` on per-doc
    * distinct shingle-hash arrays computed on the scan. The profile
    * materializes once (`localCheckpoint`, read by the bucket count,
    * both band legs); [[Materialized.release]] the result when consumed. */
  def sortedNeighborhoodPairs(df: DataFrame, idCol: String, textCol: String,
      window: Int, threshold: Double, k: Int = 3): DataFrame = {
    require(window >= 1, s"window must be >= 1, got $window")
    require(threshold > 0.0 && threshold <= 1.0,
      s"threshold must be in (0,1], got $threshold")
    val prof = df.filter(col(textCol).isNotNull)
      .select(col(idCol).as("__id"),
        graft.text.TextAnalysis.tokenCount(col(textCol)).cast("long").as("__n"),
        shingleHashes(col(textCol), k, distinct = true).as("__sh"))
      .localCheckpoint()
    // global (length, id) rank via the shared bucketed-offset machinery
    // (token counts are a bounded driver table: one row per distinct
    // length; prof is checkpointed for the util's two reads)
    val wl = lit(window.toLong)
    val ranked = graft.util.GlobalRank.bucketedRank(prof, "__n",
        Seq(col("__id")), "__r")
      .withColumn("__band", expr(s"__r div ${window.toLong}"))
    val left = ranked.select(col("__id").as("__ia"), col("__r").as("__ra"),
      col("__sh").as("__sa"), col("__band"))
    val right = ranked.select(col("__id").as("__ib"), col("__r").as("__rb"),
      col("__sh").as("__sb"),
      explode(array(col("__band"), col("__band") - 1L)).as("__band"))
    left.join(right, Seq("__band"))
      .filter(col("__rb") > col("__ra") && col("__rb") - col("__ra") <= wl)
      .withColumn("__i", size(array_intersect(col("__sa"), col("__sb"))))
      .withColumn("jaccard", col("__i").cast("double") /
        (size(col("__sa")) + size(col("__sb")) - col("__i")))
      .filter(col("jaccard") >= threshold)
      .select(least(col("__ia"), col("__ib")).as("id_a"),
        greatest(col("__ia"), col("__ib")).as("id_b"), col("jaccard"))
  }

  /** Winnowing-fingerprint near-dup pairs — the pair stage of the MOSS
    * scheme over [[TextAnalysis.winnowingFingerprints]]: documents
    * sharing ≥ `minShared` fingerprints, with the shared count. The
    * winnowing guarantee makes this a DETECTION bound, not a heuristic:
    * any shared token run of ≥ w+k−1 tokens forces ≥1 shared
    * fingerprint, so plagiarized/templated passages cannot hide.
    *
    * Scale shape: identical to the shingle family — fingerprints are a
    * per-doc-distinct 8-byte hash explode (each doc keeps ~1/w of its
    * gram hashes, so the index is w× smaller than the shingle index),
    * the self-join keys on the hash, and the rollup counts pairs.
    * `minShared` ≥ 2 is the noise floor; `maxFingerprintDf` > 0 is the
    * DF-cut guard for when a boilerplate fingerprint saturates — same
    * semantics as [[ngramJaccardPairsFromIndex]]'s `maxShingleDf`: a
    * fingerprint appearing in more than that many docs is dropped
    * BEFORE the self-join, so one ubiquitous fingerprint shared by F
    * docs contributes 0 instead of F² join rows (lossy in the same
    * controlled way: pairs supported only by corpus-stopword
    * fingerprints vanish). */
  def winnowingPairs(df: DataFrame, idCol: String, textCol: String,
      k: Int = 4, w: Int = 4, minShared: Long = 2L,
      maxFingerprintDf: Long = 0L): DataFrame = {
    require(minShared >= 1, s"minShared must be >= 1, got $minShared")
    val fpsAll = df.filter(col(textCol).isNotNull)
      .select(col(idCol).as("__id"),
        explode(TextAnalysis.winnowingFingerprints(col(textCol), k, w))
          .as("__fp"))
    val fps = if (maxFingerprintDf > 0) {
      val all = fpsAll.localCheckpoint() // df rollup + both join sides
      val rare = all.groupBy("__fp").agg(count(lit(1)).as("__df"))
        .filter(col("__df") <= maxFingerprintDf).select("__fp")
      all.join(rare, Seq("__fp"), "left_semi")
    } else fpsAll
    fps.alias("x").join(fps.alias("y"), Seq("__fp"))
      .filter(col("x.__id") < col("y.__id"))
      .groupBy(col("x.__id").as("id_a"), col("y.__id").as("id_b"))
      .agg(count(lit(1)).as("shared_fingerprints"))
      .filter(col("shared_fingerprints") >= minShared)
  }

  /** Edit-distance-verified near-dup pairs: exact-Jaccard candidates
    * (≥ `jaccardThreshold`, the cheap set-overlap gate) re-verified
    * with LEVENSHTEIN distance over whitespace-normalized lowercased
    * text — the order-sensitive confirmation Jaccard can't give (bag
    * overlap is blind to token order; edit distance is not). Output:
    * `(id_a, id_b, edit_distance)`, ascending-id pairs.
    *
    * Scale shape: the quadratic-looking edit DP runs only on the
    * CANDIDATE-sized pair list (two projections join the normalized
    * texts in); candidates come from the shared shingle index. The
    * built-in `levenshtein` is codegen'd and engines agree on the
    * classic unit-cost DP, so distances are oracle-exact. */
  def editVerifiedPairs(df: DataFrame, idCol: String, textCol: String,
      jaccardThreshold: Double = 0.4, maxEdit: Int = 40, k: Int = 3): DataFrame =
    editVerifiedPairsFromIndex(df, idCol, textCol,
      shingleIndex(df, idCol, textCol, k), jaccardThreshold, maxEdit)

  /** [[editVerifiedPairs]] against a prebuilt [[shingleIndex]]. */
  def editVerifiedPairsFromIndex(df: DataFrame, idCol: String,
      textCol: String, index: DataFrame, jaccardThreshold: Double,
      maxEdit: Int): DataFrame = {
    require(maxEdit >= 0, s"maxEdit must be >= 0, got $maxEdit")
    val norm = df.select(col(idCol).as("__nid"),
      lower(regexp_replace(trim(col(textCol)), "\\s+", " ")).as("__norm"))
    ngramJaccardPairsFromIndex(index, jaccardThreshold)
      .select("id_a", "id_b")
      .join(norm.select(col("__nid").as("id_a"), col("__norm").as("__na")),
        Seq("id_a"))
      .join(norm.select(col("__nid").as("id_b"), col("__norm").as("__nb")),
        Seq("id_b"))
      .select(col("id_a"), col("id_b"),
        levenshtein(col("__na"), col("__nb")).cast("long").as("edit_distance"))
      .filter(col("edit_distance") <= maxEdit)
  }

  /** [[ngramJaccardPairsPrefixFromIndex]] over a fresh shingle index. */
  def ngramJaccardPairsPrefix(df: DataFrame, idCol: String, textCol: String,
      k: Int = 3, threshold: Double = 0.5): DataFrame =
    ngramJaccardPairsPrefixFromIndex(
      shingleIndex(df, idCol, textCol, k), threshold)

  // ---- benchmark decontamination ---------------------------------------

  /** Benchmark decontamination: drop every corpus document that shares
    * at least one k-token shingle with a held-out evaluation set — the
    * standard guard against train/test leakage in a training corpus
    * (GPT-3-style n-gram collision, typically k in [8,13]).
    *
    * Shape at 100 TB: the eval set is benchmarks — thousands of docs,
    * megabytes — so its distinct shingle-hash set broadcasts to every
    * executor and contamination detection is a broadcast semi-join on
    * 8-byte keys inside the corpus scan, ONE pass, no shuffle of the
    * corpus. Set `broadcastEval = false` if the eval side is too big to
    * broadcast (falls back to a shuffled semi-join on the hash key).
    * The corpus side never materializes its exploded shingles beyond
    * the join — contaminated ids collapse via the semi-join + count,
    * then an anti-join restores full rows (null-text docs carry no
    * shingles, so they pass through as clean on both engines).
    *
    * `minHits` is the n-of-k knob real pipelines need at corpus scale:
    * a single shared shingle is often boilerplate collision noise
    * ("click here to subscribe" appearing in an eval doc would flag
    * half the web), so "dirty" can be tightened to "shares >= minHits
    * DISTINCT eval shingles". The default 1 keeps the conservative
    * GPT-3-style any-collision semantics. */
  def decontaminate(df: DataFrame, evalDf: DataFrame, idCol: String,
      textCol: String, k: Int = 8, broadcastEval: Boolean = true,
      minHits: Int = 1): DataFrame =
    decontaminateAgainst(df, evalShingleSet(evalDf, textCol, k), idCol,
      textCol, k, broadcastEval, minHits)

  /** Per-document contamination evidence: `(idCol, hits)` where `hits`
    * is the number of DISTINCT k-token shingles the document shares with
    * the eval set (docs with zero hits are absent). The audit artifact a
    * decontamination run keeps alongside the cleaned corpus — and the
    * shared kernel behind [[decontaminate]]'s `minHits` threshold. Same
    * broadcast-semi-join shape: one corpus pass, no corpus shuffle
    * (the groupBy shuffles only the contaminated (id, shingle) pairs —
    * a vanishing fraction of the corpus by construction). */
  def contaminationCounts(df: DataFrame, evalDf: DataFrame, idCol: String,
      textCol: String, k: Int = 8, broadcastEval: Boolean = true): DataFrame =
    contaminationCountsAgainst(df,
      evalShingleSet(evalDf, textCol, k), idCol, textCol, k, broadcastEval)

  /** The eval set's distinct shingle hashes — the reusable half of
    * decontamination. Callers that decontaminate REPEATEDLY against one
    * eval set (a streaming gate firing per micro-batch, a multi-corpus
    * sweep) should build this once, `persist()` it, and pass it to the
    * `*Against` variants; recomputing the explode + distinct per call
    * is pure waste when the eval side never changes. */
  def evalShingleSet(evalDf: DataFrame, textCol: String, k: Int = 8): DataFrame =
    evalDf
      .select(explode(shingleHashes(col(textCol), k, distinct = true)).as("shingle"))
      .distinct()

  /** [[contaminationCounts]] against a pre-built [[evalShingleSet]]
    * (single-column `shingle` frame, already distinct). */
  def contaminationCountsAgainst(df: DataFrame, evalShingles: DataFrame,
      idCol: String, textCol: String, k: Int = 8,
      broadcastEval: Boolean = true): DataFrame = {
    val evalSide = if (broadcastEval) broadcast(evalShingles) else evalShingles
    df.select(col(idCol).as("__id"),
        explode(shingleHashes(col(textCol), k, distinct = true)).as("shingle"))
      .join(evalSide, Seq("shingle"), "left_semi")
      // corpus shingles are per-doc distinct and the eval side is
      // globally distinct, so the semi-join survivor count IS the
      // distinct-shared-shingle count — no count(distinct) needed
      .groupBy(col("__id").as(idCol))
      .agg(count(lit(1)).as("hits"))
  }

  // ---- incremental dedup against a history corpus (Bloom-gated) -------

  /** Bloom filter over the history corpus's distinct k-gram shingle
    * hashes — the persistable membership sketch behind
    * [[dedupAgainstHistory]]. Built with ONE aggregation pass over the
    * history scan (Spark's `stat.bloomFilter` tree-aggregates per-
    * partition filters). `expectedItems` ≈ the history's distinct
    * shingle count (the filter is ~1.2 bytes/item at 1% fpp, so a
    * billion-shingle history sketches into ~1.2 GB — broadcast-sized,
    * vs TBs for the exact set); the default 0 AUTO-SIZES it from an
    * HLL estimate (`approx_count_distinct`, ±~2% + 30% headroom — one
    * extra narrow pass over the history scan). A fixed guess is the
    * silent perf cliff this replaces: an undersized sketch saturates
    * and the prefilter degrades toward a no-op (correctness survives
    * via the exact confirm; the pruning — the whole point — dies). In
    * a persistent ingest pipeline this artifact is built once per
    * history snapshot and reused by every arriving batch, so the
    * sizing pass amortizes with the build itself. */
  def historyShingleBloom(historyDf: DataFrame, textCol: String, k: Int = 8,
      expectedItems: Long = 0L, fpp: Double = 0.01)
      : org.apache.spark.util.sketch.BloomFilter = {
    val sh = historyDf
      .select(explode(shingleHashes(col(textCol), k, distinct = true)).as("shingle"))
    val n =
      if (expectedItems > 0L) expectedItems
      else math.max(1000L,
        sh.agg(approx_count_distinct("shingle").as("n")).head().getLong(0)
          * 13L / 10L)
    sh.stat.bloomFilter("shingle", n, fpp)
  }

  /** Persist a [[historyShingleBloom]] sketch. Goes through the Hadoop
    * filesystem API, so `path` can be local, HDFS, or object storage —
    * on a real ingest pipeline the sketch is built once per history
    * snapshot, written next to the snapshot, and every arriving batch's
    * driver loads it (~1.2 GB per billion shingles at 1% fpp) instead
    * of re-scanning the history. Written atomically (temp file +
    * rename) so a concurrent loader never sees a torn sketch. */
  def saveBloom(spark: org.apache.spark.sql.SparkSession,
      bloom: org.apache.spark.util.sketch.BloomFilter, path: String): Unit = {
    val p = new org.apache.hadoop.fs.Path(path)
    val fs = p.getFileSystem(spark.sessionState.newHadoopConf())
    val tmp = new org.apache.hadoop.fs.Path(
      p.getParent, s".${p.getName}.tmp")
    val out = fs.create(tmp, true)
    try bloom.writeTo(out) finally out.close()
    if (fs.exists(p)) fs.delete(p, false)
    if (!fs.rename(tmp, p))
      throw new java.io.IOException(s"rename $tmp -> $p failed")
  }

  /** Load a sketch written by [[saveBloom]]; feed to
    * [[dedupAgainstHistoryBloom]]. */
  def loadBloom(spark: org.apache.spark.sql.SparkSession,
      path: String): org.apache.spark.util.sketch.BloomFilter = {
    val p = new org.apache.hadoop.fs.Path(path)
    val fs = p.getFileSystem(spark.sessionState.newHadoopConf())
    val in = fs.open(p)
    try org.apache.spark.util.sketch.BloomFilter.readFrom(in)
    finally in.close()
  }

  /** Incremental-ingest dedup: drop new-batch documents that share at
    * least `minHits` distinct k-gram shingles with a HISTORY corpus —
    * [[decontaminate]]'s semantics with the roles reversed (the
    * reference side is the accumulated corpus, far too large for an
    * exact broadcast set). The Bloom sketch makes that tractable:
    *
    *   1. prefilter — new-batch shingles test against the history
    *      bloom INSIDE the scan ([[graft.functions.BloomMightContainLong]],
    *      codegen'd): no join, no shuffle; survivors are true overlaps
    *      plus an fpp-fraction of false positives.
    *   2. exact confirm — the surviving shingle set (small by
    *      construction) broadcasts against ONE history scan to discard
    *      the false positives, so the emitted result is EXACT for any
    *      fpp: the sketch only buys the pruning, never decides a drop.
    *
    * Passes at scale: 1× history (confirm; the bloom build amortizes
    * across batches), 2× the new batch (prefilter + final anti-join) —
    * and no shuffle of either corpus. Set `broadcastConfirm = false`
    * if an adversarially-overlapping batch makes the candidate set
    * too big to broadcast (falls back to shuffled semi-joins on the
    * 8-byte hash key). */
  def dedupAgainstHistory(newDf: DataFrame, historyDf: DataFrame,
      idCol: String, textCol: String, k: Int = 8, minHits: Int = 1,
      expectedItems: Long = 0L, fpp: Double = 0.01,
      broadcastConfirm: Boolean = true): DataFrame = {
    // tokenize the history ONCE: built naively, the one-shot
    // build-and-use path pays THREE k-gram tokenize passes over the
    // history corpus (HLL sizing, bloom tree-aggregation, exact
    // confirm). Materializing the 8-byte shingle rows makes passes 2-3
    // cheap re-reads. The trade at 100 TB: ~corpus-sized checkpoint
    // storage (MEMORY_AND_DISK — spills, never OOMs), vs two extra
    // full-corpus tokenize scans; a persistent ingest pipeline should
    // still prebuild the sketch once per history snapshot and call
    // [[dedupAgainstHistoryBloom]], which keeps the 1× history pass.
    // LAZY checkpoint: the HLL sizing aggregate that immediately follows
    // touches every partition, so it materializes the checkpoint and
    // produces the estimate in ONE job instead of two
    val histSh = historyDf
      .select(explode(shingleHashes(col(textCol), k, distinct = true))
        .as("shingle"))
      .localCheckpoint(eager = false)
    val n =
      if (expectedItems > 0L) expectedItems
      else math.max(1000L,
        histSh.agg(approx_count_distinct("shingle").as("n")).head().getLong(0)
          * 13L / 10L)
    val bloom = histSh.stat.bloomFilter("shingle", n, fpp)
    val out = dedupAgainstHistoryShingles(newDf, histSh, bloom, idCol,
      textCol, k, minHits, broadcastConfirm)
    // safe to release NOW: the confirm/dirty derivation inside is
    // materialized eagerly, so the returned plan no longer reads histSh
    Materialized.release(histSh)
    out
  }

  /** [[dedupAgainstHistory]] against a pre-built (typically persisted)
    * [[historyShingleBloom]]. */
  def dedupAgainstHistoryBloom(newDf: DataFrame, historyDf: DataFrame,
      bloom: org.apache.spark.util.sketch.BloomFilter, idCol: String,
      textCol: String, k: Int = 8, minHits: Int = 1,
      broadcastConfirm: Boolean = true): DataFrame =
    dedupAgainstHistoryShingles(newDf,
      historyDf.select(
        explode(shingleHashes(col(textCol), k, distinct = true)).as("shingle")),
      bloom, idCol, textCol, k, minHits, broadcastConfirm)

  /** Shared tail of the history-dedup family: prefilter + exact confirm
    * against an already-derived history shingle-hash table (either the
    * one-pass scan of [[dedupAgainstHistoryBloom]] or the materialized
    * single-tokenize table of [[dedupAgainstHistory]]). */
  private def dedupAgainstHistoryShingles(newDf: DataFrame,
      histShingles: DataFrame,
      bloom: org.apache.spark.util.sketch.BloomFilter, idCol: String,
      textCol: String, k: Int, minHits: Int,
      broadcastConfirm: Boolean): DataFrame = {
    require(minHits >= 1, s"minHits must be >= 1, got $minHits")
    val maybeBroadcast: DataFrame => DataFrame =
      if (broadcastConfirm) broadcast else identity
    // 1. bloom prefilter: (id, shingle) pairs that MIGHT be in history.
    //    Materialized — read twice (confirm-set derivation + hit count)
    //    and small by construction (true overlaps + fpp of the rest).
    val cand = newDf
      .select(col(idCol).as("__id"),
        explode(shingleHashes(col(textCol), k, distinct = true)).as("shingle"))
      .filter(graft.functions.BloomExpressions.mightContainLong(col("shingle"), bloom))
      .localCheckpoint()
    // 2. exact confirm: one history-shingle pass against the broadcast
    //    candidate shingle set — false positives fall out here
    val confirmed = histShingles
      .join(maybeBroadcast(cand.select("shingle").distinct()),
        Seq("shingle"), "left_semi")
      .distinct()
    // per-doc distinct candidates ⋈ globally-distinct confirmed shingles
    // ⇒ plain count = distinct-hit count (same arithmetic as
    // [[contaminationCountsAgainst]])
    val dirty = cand
      .join(maybeBroadcast(confirmed), Seq("shingle"), "left_semi")
      .groupBy(col("__id").as(idCol))
      .agg(count(lit(1)).as("hits"))
      .filter(col("hits") >= minHits)
      .select(idCol)
      // eagerly materialize the (ids-only, tiny) dirty set so the
      // candidate blocks release NOW: repeated invocations in one JVM
      // (the bench runs q59 five times) would otherwise pin candidate
      // storage until the ContextCleaner happens to reap the
      // unreferenced RDDs
      .localCheckpoint()
    Materialized.release(cand)
    newDf.join(dirty, Seq(idCol), "left_anti")
  }

  // ---- duplicated-span detection (exact substring dedup) ---------------

  /** Maximal duplicated token spans per document — the exact-substring
    * dedup of "Deduplicating Training Data Makes Language Models
    * Better" (Lee et al., 2022) re-expressed relationally: a position
    * is DUPLICATED when the k-gram starting there occurs in at least
    * `minDf` distinct documents; overlapping/adjacent duplicated
    * k-gram windows merge into maximal spans. Output:
    * `(idCol, span_start, span_end, n_grams)` with token-index spans
    * `[span_start, span_end)` and `n_grams` = duplicated k-gram starts
    * inside the span. Unlike whole-doc near-dedup this localizes WHICH
    * passage is boilerplate, so a curator can excise the passage and
    * keep the document ([[removeDuplicatedSpans]]).
    *
    * Scale shape: duplicated-k-gram discovery is the per-doc-distinct
    * shingle explode + one count-per-hash aggregation (8-byte keys —
    * the [[shingleIndex]] shuffle, NOT a corpus-wide suffix sort: the
    * suffix-array formulation of Lee et al. is a single-machine
    * algorithm; hash-grouping is its shuffle-native equivalent).
    * Positions then semi-join that duplicated-hash set — at corpus
    * scale the hash set is the join's small side (boilerplate grams
    * are rare relative to all grams) and broadcasts. The island merge
    * is a window partitioned BY DOCUMENT, so no global sort: each
    * doc's positions sort locally within its hash partition.
    *
    * Docs with fewer than k tokens contain no k-gram and are excluded
    * from both sides (they can neither carry nor contribute a span).
    * Within-doc repetition alone does not mark a span (`minDf` counts
    * distinct documents); use [[graft.text.TextAnalysis.repetitionProfile]]
    * for intra-doc repetition. */
  def duplicatedSpans(df: DataFrame, idCol: String, textCol: String,
      k: Int = 8, minDf: Int = 2): DataFrame = {
    require(minDf >= 2, s"minDf must be >= 2 (cross-document), got $minDf")
    val toks = TextAnalysis.tokens(col(textCol))
    val longDocs = df.filter(col(textCol).isNotNull && size(toks) >= k)
    // duplicated k-grams: per-doc distinct hashes, docfreq >= minDf
    val dup = longDocs
      .select(col(idCol), explode(shingleHashes(col(textCol), k, distinct = true))
        .as("shingle"))
      .groupBy("shingle").agg(count(lit(1)).as("df"))
      .filter(col("df") >= minDf)
      .select("shingle")
    // positions of duplicated grams: posexplode keeps the start index
    val hits = longDocs
      .select(col(idCol).as("__id"),
        posexplode(shingleHashes(col(textCol), k)).as(Seq("pos", "shingle")))
      .join(dup, Seq("shingle"), "left_semi")
      .select(col("__id"), col("pos").cast("long").as("pos"))
    // gaps-and-islands: a new span starts when this window's start is
    // beyond the previous window's end (pos > prev + k ⇒ a gap of at
    // least one non-duplicated token; pos ≤ prev + k merges, so
    // back-to-back windows [p,p+k)[p+k,p+2k) fuse into one span)
    val w = Window.partitionBy("__id").orderBy("pos")
    hits
      .withColumn("brk",
        when(col("pos") > lag(col("pos"), 1).over(w) + k, 1).otherwise(0))
      .withColumn("island", sum(col("brk")).over(
        Window.partitionBy("__id").orderBy("pos")
          .rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .groupBy(col("__id").as(idCol), col("island"))
      .agg(min(col("pos")).as("span_start"),
        (max(col("pos")) + lit(k.toLong)).as("span_end"),
        count(lit(1)).as("n_grams"))
      .drop("island")
  }

  /** Excise duplicated spans: every token covered by a
    * [[duplicatedSpans]] span is dropped and the remainder re-joined
    * with single spaces (whitespace reflow is already canonical —
    * [[TextAnalysis.fingerprint]] normalizes it). Documents with no
    * spans (including short and null-text docs) pass through with text
    * unchanged. The span table joins back grouped per doc, so the
    * token filter is one array pass per document — no per-span
    * row multiplication. */
  def removeDuplicatedSpans(df: DataFrame, idCol: String, textCol: String,
      k: Int = 8, minDf: Int = 2): DataFrame = {
    val spans = duplicatedSpans(df, idCol, textCol, k, minDf)
      .groupBy(idCol)
      .agg(collect_list(struct(col("span_start"), col("span_end"))).as("__spans"))
    val toks = TextAnalysis.tokens(col(textCol))
    df.join(spans, Seq(idCol), "left")
      .withColumn(textCol,
        when(col("__spans").isNull, col(textCol))
          .otherwise(concat_ws(" ",
            filter(toks, (t, i) =>
              !exists(col("__spans"), s =>
                i.cast("long") >= s.getField("span_start") &&
                  i.cast("long") < s.getField("span_end"))))))
      .drop("__spans")
  }

  // ---- duplicated-line removal (boilerplate line dedup) ----------------

  /** Cross-document duplicated lines — the line-wise dedup of
    * RefinedWeb (Penedo et al. 2023) / CCNet (Wenzek et al. 2020):
    * a LINE is boilerplate when its space-trimmed form occurs in at
    * least `minDf` DISTINCT documents (nav menus, cookie banners,
    * footers — the web-scrape junk that whole-doc and span dedup both
    * miss because it is short and everywhere). Output: one row per
    * occurrence, `(idCol, line_idx, line, df)` with 0-based
    * `line_idx` — the audit table [[removeDuplicatedLines]] consumes.
    * Whitespace-only lines are never marked (structure, not content);
    * within-doc repetition alone is not evidence (df counts distinct
    * docs, same rule as [[duplicatedSpans]]).
    *
    * Scale shape: lines explode once; the df rollup runs on the
    * (doc, line-hash) pre-distinct — 8-byte keys, hot-line skew dies
    * in the pre-agg exactly as in [[graft.text.TextAnalysis.vocabulary]].
    * The duplicated-hash set is boilerplate-sized (small side of the
    * occurrence join) and broadcasts at scale. */
  def duplicatedLines(df: DataFrame, idCol: String, textCol: String,
      minDf: Int = 2): DataFrame = {
    require(minDf >= 2, s"minDf must be >= 2 (cross-document), got $minDf")
    val lines = df.filter(col(textCol).isNotNull)
      .select(col(idCol).as("__id"),
        posexplode(split(col(textCol), "\n")).as(Seq("line_idx", "line")))
      .filter(trim(col("line")) =!= "")
      .withColumn("key", xxhash64(trim(col("line"))))
    val dup = lines.select("__id", "key").distinct()
      .groupBy("key").agg(count(lit(1)).as("df"))
      .filter(col("df") >= minDf)
    lines.join(dup, Seq("key"))
      .select(col("__id").as(idCol), col("line_idx"), col("line"), col("df"))
  }

  /** Drop every [[duplicatedLines]] occurrence and re-join the
    * surviving lines with newlines (original order; whitespace-only
    * lines always survive). Documents with no duplicated lines —
    * including null-text docs — pass through unchanged; a document
    * consisting ENTIRELY of boilerplate lines collapses to the empty
    * string (the whole-doc-duplicate case line dedup subsumes). Same
    * join-back shape as [[removeDuplicatedSpans]]: dropped indexes
    * group per doc, the rebuild is one array pass per document. */
  def removeDuplicatedLines(df: DataFrame, idCol: String, textCol: String,
      minDf: Int = 2): DataFrame = {
    val drops = duplicatedLines(df, idCol, textCol, minDf)
      .groupBy(idCol)
      .agg(collect_list(col("line_idx")).as("__drop"))
    df.join(drops, Seq(idCol), "left")
      .withColumn(textCol,
        when(col("__drop").isNull, col(textCol))
          .otherwise(concat_ws("\n",
            filter(split(col(textCol), "\n"), (l, i) =>
              !exists(col("__drop"), d => d === i)))))
      .drop("__drop")
  }

  // ---- near-dup source attribution -------------------------------------

  /** Cross-source near-duplicate attribution matrix — the curation
    * report web-corpus datasheets publish (RefinedWeb's cross-dump
    * duplication analysis, Dolma's per-source dedup stats): for each
    * unordered pair of sources, how many near-duplicate DOCUMENT pairs
    * span them. The diagonal (`source_a = source_b`) is within-source
    * duplication (re-posts inside one crawl dump); off-diagonal mass
    * says two ingest feeds overlap and one of them can be dropped or
    * down-weighted before paying the full pipeline for it.
    *
    * Composable by design: `pairs` is ANY `(id_a, id_b, ...)` pair
    * list — exact n-gram Jaccard ([[ngramJaccardPairs]]), MinHash
    * banding ([[minhashNearDupPairs]]), SimHash ([[simhashPairs]]), or
    * embedding pairs — attribution is orthogonal to how candidates
    * were found.
    *
    * Scale shape: the pair list is candidate-sized (orders of
    * magnitude under the corpus); the `(id → source)` projection is
    * corpus-sized but two columns wide, so the two attribution joins
    * shuffle only skinny frames on the id key (AQE broadcasts the pair
    * side when it is small enough). The rollup output is at most
    * |sources|² rows — trivially collectable. */
  def nearDupSourceMatrix(pairs: DataFrame, docs: DataFrame,
      idCol: String, sourceCol: String): DataFrame = {
    val src = docs.select(col(idCol), col(sourceCol))
    pairs.select("id_a", "id_b")
      .join(src.select(col(idCol).as("id_a"), col(sourceCol).as("__sa")),
        Seq("id_a"))
      .join(src.select(col(idCol).as("id_b"), col(sourceCol).as("__sb")),
        Seq("id_b"))
      // unordered source pair: (a,b) and (b,a) are the same overlap
      .select(least(col("__sa"), col("__sb")).as("source_a"),
        greatest(col("__sa"), col("__sb")).as("source_b"))
      .groupBy("source_a", "source_b")
      .agg(count(lit(1)).as("pair_count"))
  }

  /** [[decontaminate]] against a pre-built [[evalShingleSet]]. */
  def decontaminateAgainst(df: DataFrame, evalShingles: DataFrame,
      idCol: String, textCol: String, k: Int = 8,
      broadcastEval: Boolean = true, minHits: Int = 1): DataFrame = {
    require(minHits >= 1, s"minHits must be >= 1, got $minHits")
    val dirty = contaminationCountsAgainst(df, evalShingles, idCol, textCol,
        k, broadcastEval)
      .filter(col("hits") >= minHits)
      .select(idCol)
    df.join(dirty, Seq(idCol), "left_anti")
  }
}
