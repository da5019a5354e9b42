package graft
package registry

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.vector.{Pq, Similarity}

/** Vector search and linear algebra over `embeddings` (SURVEY §7.10
  * similarity search): exact and approximate top-k, IVF / PQ indexes,
  * SemDeDup, k-means steps and Gramian statistics. */
object VectorQueries extends QueryFamily("vector") {

  /** Constant query vector for ANN queries: embedding of vec_id = 0
    * (a one-row driver-side lookup — a query parameter, not data flow). */
  private def queryVector(s: SparkSession, d: String): Seq[Double] =
    Tables.embeddings(s, d).filter(col("vec_id") === 0)
      .select(col("embedding").cast("array<double>"))
      .head().getSeq[Double](0).toSeq

  /** q45's fixed centroid set: embeddings of vec_id < 8 (a deterministic
    * choice both engines can re-derive; an 8-row driver-side lookup). */
  private def ivfCentroids(s: SparkSession, d: String): Seq[Seq[Double]] =
    Tables.embeddings(s, d).filter(col("vec_id") < 8).orderBy(col("vec_id"))
      .select(col("embedding").cast("array<double>"))
      .collect().map(_.getSeq[Double](0).toSeq).toSeq

  /** PQ codebooks for q77/q78: the [[ivfCentroids]] vectors cut into 4
    * subspace slices — data-derived, so the oracle rebuilds them from
    * the embeddings table alone. */
  private def pqCodebooks(s: SparkSession, d: String): graft.vector.Pq.Codebooks = {
    val rows = ivfCentroids(s, d)
    val d0 = rows.head.length / 4
    (0 until 4).map(m => rows.map(_.slice(m * d0, (m + 1) * d0)).toSeq)
  }

  // shared q77/q78 oracle fragments: sequential Σ(δ²) fold over a
  // subspace slice (list_zip + list_sum ≡ Spark's zip_with + aggregate,
  // bit-exact), per-subspace argmin code columns, and the
  // left-associated 4-term ADC sum
  private def pqL2Sql(a: String, b: String, lo: Int, hi: Int): String =
    s"list_sum(list_transform(list_zip($a[$lo:$hi], $b[$lo:$hi]), " +
      "p -> (p[1]-p[2])*(p[1]-p[2])))"

  private val pqSubs = Seq((1, 16), (17, 32), (33, 48), (49, 64))

  private def pqCodeColsSql: String =
    pqSubs.zipWithIndex.map { case ((lo, hi), m) =>
      s"(SELECT k FROM cent ORDER BY ${pqL2Sql("v.emb", "cemb", lo, hi)} ASC, k LIMIT 1) AS c$m"
    }.mkString(",\n ")

  private def pqAdistSql: String =
    pqSubs.zipWithIndex.map { case ((lo, hi), m) =>
      s"(SELECT ${pqL2Sql("qe", "cemb", lo, hi)} FROM cent, q WHERE k = codes.c$m)"
    }.mkString("\n + ")

  /** The q38 LSH hyperplanes as DuckDB VALUES rows — seed-derived
    * constants, so the oracle can recompute identical signatures. */
  private lazy val lshPlanesValues: String =
    graft.vector.Similarity.hyperplanes(8, 64, 42L).zipWithIndex
      .map { case (plane, i) => s"($i, [${plane.mkString(", ")}])" }
      .mkString(", ")

  val specs: Seq[QuerySpec] = Seq(
    spec("q37_ann_cosine_topk", ((s, d) => {
      val q = queryVector(s, d)
      Similarity.cosineTopK(Tables.embeddings(s, d), "vec_id", "embedding", q, 10)
    }),
      """WITH q AS (SELECT CAST(embedding AS DOUBLE[]) AS qe FROM embeddings WHERE vec_id = 0)
        |SELECT e.vec_id,
        | round(list_cosine_similarity(CAST(e.embedding AS DOUBLE[]), q.qe), 6) AS cosine
        |FROM embeddings e, q
        |ORDER BY cosine DESC, e.vec_id LIMIT 10""".stripMargin),
    spec("q38_ann_lsh_topk", ((s, d) => {
      val q = queryVector(s, d)
      val idx = Similarity.lshIndex(Tables.embeddings(s, d), "vec_id", "embedding",
        nPlanes = 8, dim = q.length)
      Similarity.annTopK(idx, "vec_id", "embedding", q, 10, nPlanes = 8)
    }),
      // q38's oracle replicates the LSH index end-to-end: the 8 seed-derived
      // hyperplanes are embedded as literals, DuckDB recomputes every
      // signature, the query's multi-probe bucket set, and the in-bucket
      // exact top-10 — any drift in signature/probe/ranking logic mismatches.
      s"""WITH pl(p, plane) AS (VALUES $lshPlanesValues),
         |e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS emb FROM embeddings),
         |sig AS (SELECT vec_id, emb,
         |  (SELECT CAST(sum(CASE WHEN list_inner_product(emb, plane) >= 0
         |                        THEN (CAST(1 AS BIGINT) << p) ELSE 0 END) AS BIGINT)
         |   FROM pl) AS bucket
         |  FROM e),
         |q AS (SELECT bucket AS qsig, emb AS qemb FROM sig WHERE vec_id = 0),
         |probes AS (SELECT qsig AS b FROM q
         |  UNION ALL SELECT xor(qsig, CAST(1 AS BIGINT) << i)
         |             FROM q, generate_series(0, 7) AS g(i))
         |SELECT s.vec_id, round(list_cosine_similarity(s.emb, (SELECT qemb FROM q)), 6) AS cosine
         |FROM sig s WHERE s.bucket IN (SELECT b FROM probes)
         |ORDER BY cosine DESC, s.vec_id LIMIT 10""".stripMargin),
    spec("q39_embedding_neardup", ((s, d) =>
      // threshold 0.35 is the LOW-similarity regime → exact block join
      // (LSH can't band-and-recall there; see Similarity scaladoc)
      Similarity.exactNearDuplicatePairs(Tables.embeddings(s, d), "vec_id",
        "embedding", threshold = 0.35, blocks = 8)),
      """WITH p AS (SELECT a.vec_id AS id_a, b.vec_id AS id_b,
        |  round(list_cosine_similarity(CAST(a.embedding AS DOUBLE[]),
        |                               CAST(b.embedding AS DOUBLE[])), 6) AS cosine
        | FROM embeddings a JOIN embeddings b ON a.vec_id < b.vec_id)
        |SELECT id_a, id_b, cosine FROM p
        |WHERE cosine >= CAST(0.35 AS DOUBLE)""".stripMargin,
      planNote = Some(
        "Exact all-pairs via the block theta-join: both sides explode to (block,block) keys, the join is a plain equi-join (no cartesian/nested-loop), every unordered pair lands in exactly one task, and the native cosine_similarity kernel keeps verification in whole-stage codegen. Shuffle volume = (blocks/2+1)x data; blocks scales with corpus.")),
    spec("q45_ann_ivf_topk", ((s, d) => {
      val q = queryVector(s, d)
      // fixed-centroid quantizer (centroids = embeddings of vec_id < 8):
      // exactly reproducible in the DuckDB oracle, which re-derives cell
      // assignment, probe-cell choice, and in-cell ranking. The adaptive
      // k-means quantizer (Ivf.buildIndex) is covered by IvfSpec.
      val cents = ivfCentroids(s, d)
      val index = graft.vector.Ivf.fixedCentroidIndex(
        Tables.embeddings(s, d), "vec_id", "embedding", cents)
      val cells = graft.vector.Ivf.nearestCentroidCells(cents, q, nProbe = 3)
      graft.vector.Ivf.annTopKCells(index, "vec_id", "embedding", q, 10, cells)
    }),
      // q45's oracle replicates the fixed-centroid IVF end-to-end: cell
      // assignment (argmax cosine vs the 8 centroid vectors, ties → lower
      // id), the query's nProbe=3 probe cells, and the in-cell exact
      // top-10 — any drift in quantizer/probe/ranking logic mismatches.
      """WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS emb FROM embeddings),
        |q AS (SELECT emb AS qe FROM e WHERE vec_id = 0),
        |cent AS (SELECT vec_id AS c, emb AS cemb FROM e WHERE vec_id < 8),
        |assign AS (SELECT v.vec_id, v.emb,
        |  (SELECT c FROM cent ORDER BY list_cosine_similarity(v.emb, cemb) DESC, c LIMIT 1) AS cell
        |  FROM e v),
        |qcells AS (SELECT c FROM cent, q ORDER BY list_cosine_similarity(qe, cemb) DESC, c LIMIT 3)
        |SELECT a.vec_id, round(list_cosine_similarity(a.emb, (SELECT qe FROM q)), 6) AS cosine
        |FROM assign a WHERE a.cell IN (SELECT c FROM qcells)
        |ORDER BY cosine DESC, a.vec_id LIMIT 10""".stripMargin,
      planNote = Some(
        "IVF probe is ONE codegen'd pass: cell assignment + probe filter + native cosine ranking fuse into a single stage, topped by TakeOrderedAndProject (no full sort, no shuffle beyond the top-k collect). At scale the index is written partitionBy(cell) so the probe prunes at file listing.")),
    // q60: SemDeDup — cluster embeddings to the q45 fixed centroids,
    // prune within-cell pairs at cosine >= 0.4, keep min-id survivors.
    // The fixed quantizer makes assignment + pruning fully re-derivable
    // by the oracle (the k-means variant is covered by IvfSpec).
    spec("q60_semdedup", ((s, d) =>
      graft.vector.SemDedup.semDedup(Tables.embeddings(s, d), "vec_id",
        "embedding", ivfCentroids(s, d), threshold = 0.4)),
      // q60: the oracle replays the q45 fixed-centroid assignment (argmax
      // cosine, ties to the lower centroid id), the within-cell pair
      // pruning at rounded cosine >= 0.4, and min-id survivorship
      """WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS emb FROM embeddings),
        |cent AS (SELECT vec_id AS c, emb AS cemb FROM e WHERE vec_id < 8),
        |assign AS (SELECT v.vec_id, v.emb,
        |  (SELECT c FROM cent ORDER BY list_cosine_similarity(v.emb, cemb) DESC, c LIMIT 1) AS cell
        |  FROM e v),
        |drop AS (SELECT DISTINCT y.vec_id FROM assign x
        |  JOIN assign y ON x.cell = y.cell AND x.vec_id < y.vec_id
        |  WHERE round(list_cosine_similarity(x.emb, y.emb), 6) >= CAST(0.4 AS DOUBLE))
        |SELECT a.vec_id, CAST(a.cell AS INT) AS cell FROM assign a
        |WHERE a.vec_id NOT IN (SELECT vec_id FROM drop)""".stripMargin,
      planNote = Some(
        "SemDeDup cluster-then-prune: centroid assignment is k native cosines per row fused into the scan (no shuffle); the pair join keys on cell only, so the O(N^2) pair space collapses to within-cell blocks (k ~ sqrt(N) keeps it near-linear); survivorship is one anti-join. The checkpointed assignment is scanned by both join sides instead of recomputing the quantizer.")),
    // q69: SemDeDup with MULTI-PROBE assignment (top-2 centroids per
    // vector) — the boundary-miss mitigation: pairs straddling one
    // cell boundary still meet in a shared probe cell. Survivor cells
    // stay primary, so the output schema matches q60's
    spec("q69_semdedup_multiprobe", ((s, d) =>
      graft.vector.SemDedup.semDedup(Tables.embeddings(s, d), "vec_id",
        "embedding", ivfCentroids(s, d), threshold = 0.4, nProbe = 2)),
      // q69: top-2 multi-probe assignment via a per-vector rank window
      // (cosine desc, ties lower centroid id — the same order the
      // engine's in-row struct sort uses); pair discovery joins ALL probe
      // cells, survivors report their rank-1 (primary) cell
      """WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS emb FROM embeddings),
        |cent AS (SELECT vec_id AS c, emb AS cemb FROM e WHERE vec_id < 8),
        |scored AS (SELECT v.vec_id, v.emb, cent.c,
        |  row_number() OVER (PARTITION BY v.vec_id
        |    ORDER BY list_cosine_similarity(v.emb, cent.cemb) DESC, cent.c) AS rn
        |  FROM e v CROSS JOIN cent),
        |assign AS (SELECT vec_id, emb, c AS cell, rn FROM scored WHERE rn <= 2),
        |drop AS (SELECT DISTINCT y.vec_id FROM assign x
        |  JOIN assign y ON x.cell = y.cell AND x.vec_id < y.vec_id
        |  WHERE round(list_cosine_similarity(x.emb, y.emb), 6) >= CAST(0.4 AS DOUBLE))
        |SELECT a.vec_id, CAST(a.cell AS INT) AS cell FROM assign a
        |WHERE a.rn = 1 AND a.vec_id NOT IN (SELECT vec_id FROM drop)""".stripMargin),
    // q77: product-quantization ANN (Jégou 2011) — encode the corpus
    // against data-derived codebooks (subspace slices of the first 8
    // vectors, so the oracle can rebuild them from the table alone),
    // then top-10 by asymmetric-distance (ADC) over the CODES only.
    // Bit-parity by construction: both engines fold the same Σ(δ²)
    // sequentially and sum the 4 subspace terms left-associated
    spec("q77_ann_pq_topk", ((s, d) => {
      val cb = pqCodebooks(s, d)
      Pq.adcTopK(
        Pq.encode(Tables.embeddings(s, d), "vec_id", "embedding", cb),
        "vec_id", cb, queryVector(s, d), 10)
    }),
      // q77: PQ encode + ADC replayed declaratively — codebooks are the
      // first-8 vectors' subspace slices, per-subspace argmin via
      // correlated min-distance subqueries (the q45 pattern), ADC as the
      // same left-associated 4-term sum of sequential Σ(δ²) folds
      // (list_zip + list_sum ≡ Spark's zip_with + aggregate, bit-exact)
      s"""WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS emb FROM embeddings),
         |q AS (SELECT emb AS qe FROM e WHERE vec_id = 0),
         |cent AS (SELECT vec_id AS k, emb AS cemb FROM e WHERE vec_id < 8),
         |codes AS (SELECT v.vec_id, $pqCodeColsSql FROM e v)
         |SELECT vec_id, round($pqAdistSql, 6) AS adist
         |FROM codes ORDER BY adist, vec_id LIMIT 10""".stripMargin),
    // q78: IVF-PQ — the FAISS composition: coarse-quantize into cells
    // (q45's fixed-centroid assignment), PQ-encode with the cell column
    // carried, prune to the query's 3 nearest cells, ADC only the
    // surviving codes. At 100 TB the codes table written
    // partitionBy(cell) makes this file-listing pruning over an index
    // 64× smaller than the raw vectors
    spec("q78_ann_ivfpq_topk", ((s, d) => {
      val cents = ivfCentroids(s, d)
      val cb = pqCodebooks(s, d)
      val q = queryVector(s, d)
      val index = graft.vector.Ivf.fixedCentroidIndex(
        Tables.embeddings(s, d), "vec_id", "embedding", cents)
      val codes = Pq.encode(index, "vec_id", "embedding", cb)
      val cells = graft.vector.Ivf.nearestCentroidCells(cents, q, nProbe = 3)
      Pq.adcTopK(codes.filter(col("cell").isin(cells: _*)), "vec_id",
        cb, q, 10)
    }),
      // q78: q45's cell assignment + probe-cell choice gate q77's
      // encode/ADC — only vectors in the query's 3 nearest cells are
      // coded and scored
      s"""WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS emb FROM embeddings),
         |q AS (SELECT emb AS qe FROM e WHERE vec_id = 0),
         |cent AS (SELECT vec_id AS k, emb AS cemb FROM e WHERE vec_id < 8),
         |assign AS (SELECT v.vec_id, v.emb,
         |  (SELECT k FROM cent ORDER BY list_cosine_similarity(v.emb, cemb) DESC, k LIMIT 1) AS cell
         |  FROM e v),
         |qcells AS (SELECT k AS c FROM cent, q ORDER BY list_cosine_similarity(qe, cemb) DESC, k LIMIT 3),
         |codes AS (SELECT v.vec_id, $pqCodeColsSql
         |  FROM assign v WHERE v.cell IN (SELECT c FROM qcells))
         |SELECT vec_id, round($pqAdistSql, 6) AS adist
         |FROM codes ORDER BY adist, vec_id LIMIT 10""".stripMargin),
    // q128: one label-propagation step over the q85 kNN graph —
    // majority neighbor label, ties to the smallest, isolated nodes
    // keep their own (the label-denoising pass before training)
    spec("q128_label_propagation", ((s, d) => {
      val emb = Tables.embeddings(s, d)
      graft.vector.Kmeans.labelPropagationStep(
        graft.vector.Kmeans.knnGraph(emb, "vec_id", "embedding",
          ivfCentroids(s, d), k = 3),
        emb, "vec_id", "label")
    }),
      // q128: q85's kNN CTEs + the majority vote — count per neighbor
      // label, argmax by (count desc, label asc), isolated nodes keep
      // their own label via the left join
      """WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS emb,
        |    CAST(label AS BIGINT) AS lab FROM embeddings),
        |cent AS (SELECT vec_id AS k, emb AS cemb FROM e WHERE vec_id < 8),
        |assign AS (SELECT v.vec_id, v.emb,
        |  (SELECT k FROM cent ORDER BY list_cosine_similarity(v.emb, cemb) DESC, k LIMIT 1) AS cell
        |  FROM e v),
        |p AS (SELECT a.vec_id AS src_id, b.vec_id AS nbr_id,
        |   round(list_cosine_similarity(a.emb, b.emb), 6) AS cosine
        | FROM assign a JOIN assign b ON a.cell = b.cell AND a.vec_id <> b.vec_id),
        |r AS (SELECT src_id, nbr_id,
        |  row_number() OVER (PARTITION BY src_id ORDER BY cosine DESC, nbr_id) AS rn
        | FROM p),
        |g AS (SELECT src_id, nbr_id FROM r WHERE rn <= 3),
        |votes AS (SELECT g.src_id, e2.lab, count(*) AS n
        |  FROM g JOIN e e2 ON g.nbr_id = e2.vec_id GROUP BY 1, 2),
        |best AS (SELECT src_id, lab,
        |  row_number() OVER (PARTITION BY src_id ORDER BY n DESC, lab) AS rn
        | FROM votes)
        |SELECT e.vec_id, e.lab AS label, coalesce(b.lab, e.lab) AS new_label
        |FROM e LEFT JOIN (SELECT src_id, lab FROM best WHERE rn = 1) b
        |  ON e.vec_id = b.src_id""".stripMargin),
    // q132: PCA projection apply — q110's deterministic power-iteration
    // direction scored over every embedding as one narrow zip_with/
    // aggregate expression (no shuffle); completes the gramian → power
    // iteration → projection pipeline end to end under the oracle
    spec("q132_pca_project", ((s, d) => {
      val emb = Tables.embeddings(s, d)
      val dim = emb.select(max(size(col("embedding")))).head().getInt(0)
      val v = graft.vector.Gramian.powerIterationStep(
          graft.vector.Gramian.gramianFp(emb, "embedding"),
          (1 to dim).map(j => 1000000L + j))
        .collect().map(r => r.getInt(0) -> r.getLong(1)).toMap
      graft.vector.Gramian.projectFp(emb, "vec_id", "embedding",
        (1 to dim).map(v))
    }),
      // q132: q110's CTEs compute the direction, then each embedding dots
      // it in HUGEINT with the engine's nonneg-remainder floor division
      """WITH e AS (SELECT vec_id, list_transform(embedding,
        |    x -> CAST(floor(CAST(x AS DOUBLE) * 1000000) AS BIGINT)) AS xf
        |  FROM embeddings WHERE embedding IS NOT NULL),
        |pi AS (SELECT xf, unnest(generate_series(1, len(xf))) AS i FROM e),
        |pj AS (SELECT xf, i, unnest(generate_series(i, len(xf))) AS j FROM pi),
        |g AS (SELECT CAST(i AS INTEGER) AS dim_i, CAST(j AS INTEGER) AS dim_j,
        |    CAST(sum(xf[i] * xf[j]) AS BIGINT) AS gram_fp FROM pj GROUP BY 1, 2),
        |m AS (SELECT dim_i AS dim, dim_j AS jj, gram_fp FROM g
        |  UNION ALL
        |  SELECT dim_j, dim_i, gram_fp FROM g WHERE dim_i <> dim_j),
        |sv AS (SELECT dim, sum(CAST(gram_fp AS HUGEINT) * (1000000 + jj)) AS sum_fp
        |  FROM m GROUP BY 1),
        |v AS (SELECT dim, CAST((sum_fp - ((sum_fp % 1000000000000 + 1000000000000)
        |    % 1000000000000)) // 1000000000000 AS BIGINT) AS v_fp FROM sv),
        |p AS (SELECT vec_id, xf, unnest(generate_series(1, len(xf))) AS i FROM e),
        |d AS (SELECT p.vec_id, sum(CAST(p.xf[i] AS HUGEINT) * v.v_fp) AS s
        |  FROM p JOIN v ON v.dim = p.i GROUP BY 1)
        |SELECT vec_id, CAST((s - ((s % 1000000 + 1000000) % 1000000))
        |  // 1000000 AS BIGINT) AS proj_fp FROM d""".stripMargin,
      planNote = Some(
        "The PCA apply is a ZERO-exchange plan: scan → filter → project, with the fixed-point dot product fused as zip_with + aggregate over the embedding array inside whole-stage codegen. The direction vector rides as a literal; at 100 TB this is pure scan bandwidth — the plan shape every per-row scorer should have.")),
    // q134: per-dimension moment stats (mean/variance inputs for
    // feature standardization) — d-row output at any corpus size; the
    // exact second moment rides as a decimal rendered to string so the
    // value stays comparable past 2^63
    spec("q134_dim_stats", ((s, d) =>
      graft.vector.Gramian.dimStatsFp(Tables.embeddings(s, d), "embedding")
        .withColumn("sumsq_fp", col("sumsq_fp").cast("string"))),
      // q134: q109's micro components, per-dim count/sum/sum-of-squares —
      // the square in HUGEINT, rendered to VARCHAR to match the engine's
      // decimal-as-string (exact past 2^63 in both engines)
      """WITH e AS (SELECT list_transform(embedding,
        |    x -> CAST(floor(CAST(x AS DOUBLE) * 1000000) AS BIGINT)) AS xf
        |  FROM embeddings WHERE embedding IS NOT NULL),
        |p AS (SELECT xf, unnest(generate_series(1, len(xf))) AS i FROM e)
        |SELECT CAST(i AS INTEGER) AS dim, CAST(count(*) AS BIGINT) AS n,
        |  CAST(sum(xf[i]) AS BIGINT) AS sum_fp,
        |  CAST(sum(CAST(xf[i] AS HUGEINT) * xf[i]) AS VARCHAR) AS sumsq_fp
        |FROM p GROUP BY 1 ORDER BY 1""".stripMargin),
    // q184: hard-negative mining — per query, top-5 similar-but-not-
    // near-dup vectors; queries broadcast, corpus scanned once,
    // map-side WindowGroupLimit top-k
    spec("q184_hard_negatives", ((s, d) =>
      Similarity.hardNegatives(Tables.embeddings(s, d), "vec_id",
        "embedding", col("vec_id") % 199 === 0, k = 5,
        minCos = 0.0, maxCos = 0.95)),
      // q184: the dense query×corpus scan stated directly; boundary
      // tests and rank on the ROUNDED cosine with the id tiebreak —
      // identical selection on both engines
      """WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS emb
        |  FROM embeddings),
        |q AS (SELECT vec_id AS query_id, emb AS qe FROM e
        |  WHERE vec_id % 199 = 0),
        |c AS (SELECT q.query_id, e.vec_id AS neg_id,
        |    round(list_cosine_similarity(e.emb, q.qe), 6) AS cosine
        |  FROM e, q WHERE e.vec_id <> q.query_id),
        |f AS (SELECT query_id, neg_id, cosine,
        |    CAST(row_number() OVER (PARTITION BY query_id
        |      ORDER BY cosine DESC, neg_id) AS BIGINT) AS rank
        |  FROM c WHERE cosine >= 0.0 AND cosine <= 0.95)
        |SELECT query_id, neg_id, rank, cosine FROM f WHERE rank <= 5
        |ORDER BY query_id, rank""".stripMargin),
    // q185: ANN recall@10 — the IVF probe path's top-10 measured
    // against exact brute force per query, both arms deterministic on
    // the rounded cosine; queries probe-assign distributed, no driver
    // loop
    spec("q185_ann_recall", ((s, d) =>
      graft.vector.Ivf.annRecall(Tables.embeddings(s, d), "vec_id",
        "embedding", col("vec_id") % 199 === 0, ivfCentroids(s, d),
        nProbe = 3, k = 10)),
      // q185: q45's fixed-centroid quantizer replayed end-to-end for a
      // query SET (assignment, per-query probe cells via LATERAL top-3,
      // in-candidate top-10) against the brute top-10 — recall counted
      // on the identical rounded-cosine/id ordering
      """WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS emb
        |  FROM embeddings),
        |cent AS (SELECT vec_id AS c, emb AS cemb FROM e WHERE vec_id < 8),
        |assign AS (SELECT v.vec_id, v.emb,
        |  (SELECT c FROM cent ORDER BY list_cosine_similarity(v.emb, cemb)
        |     DESC, c LIMIT 1) AS cell FROM e v),
        |q AS (SELECT vec_id AS query_id, emb AS qe FROM e
        |  WHERE vec_id % 199 = 0),
        |probes AS (SELECT query_id, qe, pc.c AS cell FROM q,
        |  LATERAL (SELECT c FROM cent
        |    ORDER BY list_cosine_similarity(qe, cemb) DESC, c LIMIT 3) pc),
        |cand AS (SELECT DISTINCT p.query_id, p.qe, a.vec_id AS cand_id,
        |    a.emb FROM probes p JOIN assign a ON a.cell = p.cell
        |  WHERE a.vec_id <> p.query_id),
        |ivfk AS (SELECT query_id, cand_id FROM (
        |  SELECT query_id, cand_id, row_number() OVER (PARTITION BY query_id
        |      ORDER BY round(list_cosine_similarity(emb, qe), 6) DESC,
        |        cand_id) AS rnk
        |  FROM cand) WHERE rnk <= 10),
        |brutek AS (SELECT query_id, cand_id FROM (
        |  SELECT q.query_id, e.vec_id AS cand_id,
        |    row_number() OVER (PARTITION BY q.query_id
        |      ORDER BY round(list_cosine_similarity(e.emb, q.qe), 6) DESC,
        |        e.vec_id) AS rnk
        |  FROM e, q WHERE e.vec_id <> q.query_id) WHERE rnk <= 10),
        |h AS (SELECT i.query_id, count(*) AS n FROM ivfk i
        |  JOIN brutek b ON i.query_id = b.query_id AND i.cand_id = b.cand_id
        |  GROUP BY 1)
        |SELECT q.query_id, CAST(COALESCE(h.n, 0) AS BIGINT) AS n_hits,
        |  CAST(COALESCE(h.n, 0) * 1000000 // 10 AS BIGINT) AS recall_ppm
        |FROM q LEFT JOIN h ON q.query_id = h.query_id
        |ORDER BY 1""".stripMargin),
    // q231: sampled intra-source semantic dispersion — mean pairwise
    // rounded cosine per source over the deterministic id-sample
    spec("q231_source_dispersion", ((s, d) =>
      Similarity.sourceDispersion(Tables.embeddings(s, d), "vec_id",
        "embedding", Tables.documents(s, d), "doc_id", "source")),
      // q231: q37's rounded-6dp cosine convention; exact decimal sum,
      // one floored division to micros (nonneg-remainder idiom — means
      // can be negative)
      """WITH s AS (SELECT d.source AS src, e.vec_id AS id,
        |    CAST(e.embedding AS DOUBLE[]) AS emb
        |  FROM embeddings e JOIN documents d ON e.vec_id = d.doc_id
        |  WHERE e.vec_id % 4 = 0),
        |p AS (SELECT a.src,
        |    CAST(round(list_cosine_similarity(a.emb, b.emb), 6)
        |      AS DECIMAL(18,6)) AS c
        |  FROM s a JOIN s b ON a.src = b.src AND a.id < b.id),
        |g AS (SELECT src, count(*) AS n,
        |    CAST(sum(c) * 1000000 AS HUGEINT) AS sm FROM p GROUP BY 1)
        |SELECT src AS source, CAST(n AS BIGINT) AS n_pairs,
        |  CAST((sm - ((sm % n + n) % n)) // n AS BIGINT) AS mean_cos_micro
        |FROM g ORDER BY 1""".stripMargin),
    // q85: cell-pruned kNN graph — every vector's top-3 neighbors among
    // its IVF cell-mates (the neighbor-graph behind graph dedup and
    // corpus cartography). Shuffles on cell only; per-source top-k is a
    // map-side WindowGroupLimit
    spec("q85_knn_graph", ((s, d) =>
      graft.vector.Kmeans.knnGraph(Tables.embeddings(s, d), "vec_id",
        "embedding", ivfCentroids(s, d), k = 3)),
      // q85: q45's cell assignment, all within-cell directed pairs, rank
      // by (cosine desc, nbr) per source vector, keep 3
      """WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS emb FROM embeddings),
        |cent AS (SELECT vec_id AS k, emb AS cemb FROM e WHERE vec_id < 8),
        |assign AS (SELECT v.vec_id, v.emb,
        |  (SELECT k FROM cent ORDER BY list_cosine_similarity(v.emb, cemb) DESC, k LIMIT 1) AS cell
        |  FROM e v),
        |p AS (SELECT a.vec_id AS src_id, b.vec_id AS nbr_id,
        |   round(list_cosine_similarity(a.emb, b.emb), 6) AS cosine
        | FROM assign a JOIN assign b ON a.cell = b.cell AND a.vec_id <> b.vec_id),
        |r AS (SELECT src_id, nbr_id, cosine,
        |  row_number() OVER (PARTITION BY src_id ORDER BY cosine DESC, nbr_id) AS rn
        | FROM p)
        |SELECT src_id, nbr_id, cosine FROM r WHERE rn <= 3""".stripMargin,
      planNote = Some(
        "kNN-graph construction with the quadratic tamed twice: the pair join keys on the IVF cell only (constant cell size ⇒ linear total pair work), and the per-source top-k is row_number()<=k with a PARTIAL WindowGroupLimit — each task forwards at most k neighbors per vector, so the exchange carries the GRAPH, not the pair space.")),
    // q109: fixed-point corpus gramian (MLlib RowMatrix pattern) — the
    // PCA/whitening input. Per-partition flat-array partials; the
    // shuffle is ≤ partitions·d²/2 rows regardless of corpus size
    spec("q109_gramian", ((s, d) =>
      graft.vector.Gramian.gramianFp(Tables.embeddings(s, d), "embedding")),
      // q109: the oracle re-derives the micro-fixed-point components and
      // sums the upper-triangle products per (i,j) — generate_series is
      // INCLUSIVE, matching the 1-based dims the engine emits
      """WITH e AS (SELECT list_transform(embedding,
        |    x -> CAST(floor(CAST(x AS DOUBLE) * 1000000) AS BIGINT)) AS xf
        |  FROM embeddings WHERE embedding IS NOT NULL),
        |pi AS (SELECT xf, unnest(generate_series(1, len(xf))) AS i FROM e),
        |pj AS (SELECT xf, i, unnest(generate_series(i, len(xf))) AS j FROM pi),
        |p AS (SELECT CAST(i AS INTEGER) AS dim_i, CAST(j AS INTEGER) AS dim_j,
        |    xf[i] * xf[j] AS pr FROM pj)
        |SELECT dim_i, dim_j, CAST(sum(pr) AS BIGINT) AS gram_fp,
        |  CAST(CAST(sum(pr) AS BIGINT) AS DOUBLE) / 1e12 AS gram
        |FROM p GROUP BY 1, 2""".stripMargin,
      planNote = Some(
        "The gramian as MLlib's RowMatrix computes it, in DataFrame clothes: embeddings reach a typed mapPartitions ON THE SCAN PARTITIONS (no exchange below it — shuffling payload bytes to 'spread' d²-FLOP work is the classic mistake), each partition emits its flat-array upper-triangle partials (flush-bounded exact long arithmetic), and the only exchange carries ≤ partitions·d(d+1)/2 rows into one hash aggregation summing in DECIMAL(38,0). Corpus size changes the scan, never the shuffle.")),
    // q110: ONE fixed-point power-iteration step v ← G·v over the q109
    // gramian with the deterministic iterate v_fp(j) = 10⁶ + j (unit
    // micros plus a per-dim tilt so every lane differs) — the integer
    // arithmetic is closed-form replayable, so the PCA building block
    // is DuckDB-checked end to end, not just spec-tested
    spec("q110_power_iteration", ((s, d) => {
      val emb = Tables.embeddings(s, d)
      val dim = emb.select(max(size(col("embedding")))).head().getInt(0)
      graft.vector.Gramian.powerIterationStep(
        graft.vector.Gramian.gramianFp(emb, "embedding"),
        (1 to dim).map(j => 1000000L + j))
    }),
      // q110: q109's gramian CTEs, the upper triangle mirrored across the
      // diagonal, dotted with v_fp(j) = 1000000 + j in HUGEINT, then the
      // engine's exact floor division (subtract the NONNEGATIVE remainder
      // first — `//` alone need not floor on negative sums)
      """WITH e AS (SELECT list_transform(embedding,
        |    x -> CAST(floor(CAST(x AS DOUBLE) * 1000000) AS BIGINT)) AS xf
        |  FROM embeddings WHERE embedding IS NOT NULL),
        |pi AS (SELECT xf, unnest(generate_series(1, len(xf))) AS i FROM e),
        |pj AS (SELECT xf, i, unnest(generate_series(i, len(xf))) AS j FROM pi),
        |g AS (SELECT CAST(i AS INTEGER) AS dim_i, CAST(j AS INTEGER) AS dim_j,
        |    CAST(sum(xf[i] * xf[j]) AS BIGINT) AS gram_fp FROM pj GROUP BY 1, 2),
        |m AS (SELECT dim_i AS dim, dim_j AS jj, gram_fp FROM g
        |  UNION ALL
        |  SELECT dim_j, dim_i, gram_fp FROM g WHERE dim_i <> dim_j),
        |sv AS (SELECT dim, sum(CAST(gram_fp AS HUGEINT) * (1000000 + jj)) AS sum_fp
        |  FROM m GROUP BY 1)
        |SELECT dim, CAST((sum_fp - ((sum_fp % 1000000000000 + 1000000000000) % 1000000000000))
        |  // 1000000000000 AS BIGINT) AS v_fp
        |FROM sv""".stripMargin),
    // q118: the Xᵀy moment vector against the label column — with the
    // q109 gramian these are the ridge normal equations: a linear probe
    // fits in two corpus passes + a d×d driver solve (Gramian.ridgeSolve),
    // no iterative training at any corpus size
    spec("q118_xty_moments", ((s, d) =>
      graft.vector.Gramian.momentsFp(Tables.embeddings(s, d),
        "embedding", "label")),
      // q118: the Xᵀy moments — q109's micro components dotted against
      // the fixed-pointed label, summed per dim
      """WITH e AS (SELECT list_transform(embedding,
        |    x -> CAST(floor(CAST(x AS DOUBLE) * 1000000) AS BIGINT)) AS xf,
        |  CAST(floor(CAST(label AS DOUBLE) * 1000000) AS BIGINT) AS yf
        |  FROM embeddings WHERE embedding IS NOT NULL AND label IS NOT NULL),
        |p AS (SELECT xf, yf, unnest(generate_series(1, len(xf))) AS i FROM e)
        |SELECT CAST(i AS INTEGER) AS dim, CAST(sum(xf[i] * yf) AS BIGINT) AS xty_fp,
        |  CAST(CAST(sum(xf[i] * yf) AS BIGINT) AS DOUBLE) / 1e12 AS xty
        |FROM p GROUP BY 1 ORDER BY 1""".stripMargin),
    // q83: one full-data Lloyd k-means step from the fixed first-8
    // centroids — the distributed-clustering refinement Ivf.buildIndex's
    // sample fit seeds. Member means in exact fixed-point (floor to
    // micros, integer sums, one floor division) — bit-identical across
    // engines AND partitionings
    spec("q83_kmeans_lloyd_step", ((s, d) =>
      graft.vector.Kmeans.lloydStepFp(Tables.embeddings(s, d), "vec_id",
        "embedding", ivfCentroids(s, d))
        .orderBy("cell", "dim")),
      // q83: q45's cell assignment, then per-(cell, dim) fixed-point
      // means — floor(x·1e6) components, integer sums, floor division by
      // the member count (((sx % n) + n) % n is the nonneg mod = Spark's
      // pmod, so negative sums floor identically)
      """WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS emb FROM embeddings),
        |cent AS (SELECT vec_id AS k, emb AS cemb FROM e WHERE vec_id < 8),
        |assign AS (SELECT v.vec_id, v.emb,
        |  (SELECT k FROM cent ORDER BY list_cosine_similarity(v.emb, cemb) DESC, k LIMIT 1) AS cell
        |  FROM e v),
        |d AS (SELECT cell, unnest(list_transform(generate_series(1, len(emb)),
        |   i -> struct_pack(dim := i, x := CAST(floor(emb[i] * 1000000) AS BIGINT)))) AS p
        | FROM assign),
        |s AS (SELECT CAST(cell AS INT) AS cell, CAST(p.dim AS BIGINT) AS dim,
        |   sum(p.x) AS sx, count(*) AS n FROM d GROUP BY 1, 2)
        |SELECT cell, dim,
        |  CAST((sx - (((sx % n) + n) % n)) / n AS BIGINT) AS centroid_fp,
        |  CAST(CAST((sx - (((sx % n) + n) % n)) / n AS BIGINT) AS DOUBLE) / 1000000.0 AS centroid
        |FROM s ORDER BY cell, dim""".stripMargin,
      planNote = Some(
        "One distributed Lloyd step: centroid assignment fuses into the scan (k native cosines per row, no shuffle, no join), then a single (cell, dim) hash aggregation with map-side partials computes member means in exact fixed-point — integer sums commute, so the step is bit-identical across partitionings, which is precisely what lets an iterative clustering loop be oracle-checked at all. Driver traffic per iteration is k·d rows, independent of corpus size.")),
  )
}
