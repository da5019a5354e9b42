package graft.vector

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.functions.Exact.{dec, fdiv}

/** Distributed Lloyd k-means over an embedding column — the full-data
  * clustering [[Ivf.buildIndex]]'s sample-bounded fit deliberately
  * avoids. Use the sampled fit to seed, and this to refine on the whole
  * corpus when cluster quality matters (SemDeDup cells, IVF coarse
  * quantizers, corpus cartography).
  *
  * One Lloyd step = assign every vector to its nearest centroid
  * ([[Ivf.fixedCentroidIndex]] — one codegen pass, cosine, ties to the
  * lower index) + recompute each centroid as the member mean. The mean
  * runs in exact fixed-point: components floor to micros
  * (`floor(x·10⁶)`, one IEEE multiply both engines), per-(cell, dim)
  * integer sums (association-free), and one floor division by the cell
  * count — so a step is bit-identical across engines and partitionings.
  *
  * Scale shape: assignment is a narrow projection (k cosines per row,
  * no shuffle). The mean is a posexplode → hash-agg on (cell, dim) —
  * k·d output rows; hot cells die in map-side partials. Driver traffic
  * per iteration is the k·d centroid table — bounded, independent of
  * corpus size. This is the canonical distributed k-means; anything
  * "cleverer" (per-partition vector sums) is the same aggregation
  * Catalyst already plans, minus codegen.
  */
object Kmeans {

  /** One Lloyd step from fixed centroids: `(cell, dim, centroid_fp,
    * centroid)` — dim is 1-based, `centroid = centroid_fp / 10⁶`.
    * Cells with no members vanish from the output (the caller keeps
    * the previous centroid — standard empty-cluster handling). */
  def lloydStepFp(df: DataFrame, idCol: String, embCol: String,
      centroids: Seq[Seq[Double]]): DataFrame =
    Ivf.fixedCentroidIndex(df, idCol, embCol, centroids)
      .select(col("cell"),
        posexplode(col(embCol).cast("array<double>")).as(Seq("__pos", "__x")))
      .select(col("cell"), (col("__pos") + 1).cast("long").as("dim"),
        floor(col("__x") * lit(1000000L)).cast("long").as("__xfp"))
      .groupBy("cell", "dim")
      .agg(dec(sum("__xfp")).as("__sx"),
        dec(count(lit(1))).as("__n"))
      // floor division in DECIMAL(38,0): long `/` would cast to double,
      // exact only while |__sx| < 2^53 (~9e9 members per cell at unit
      // components) — decimal keeps the mean exact at ANY cell size,
      // same pattern as Retrieval's BM25 fixed-point scoring
      .select(col("cell"), col("dim"),
        fdiv(col("__sx"), col("__n")).as("centroid_fp"))
      .withColumn("centroid", col("centroid_fp").cast("double") / lit(1000000.0))

  /** Cell-pruned kNN graph: every vector's top-`k` nearest neighbors
    * (cosine) among its cell-mates — the neighbor-graph construction
    * behind graph-based dedup, SemDeDup variants, and corpus
    * cartography. With `nProbe >= 2`, each vector meets candidates in
    * its top-nProbe cells (boundary-miss mitigation; neighbor pairs
    * deduplicate before ranking).
    *
    * Scale shape: the self-join keys on `cell` only (balanced by the
    * quantizer; within-cell pair work is k²-free because `row_number()
    * <= k` plans a PARTIAL WindowGroupLimit — per-source top-k runs
    * map-side and the shuffle carries at most k rows per vector). The
    * exact all-pairs alternative is quadratic; this is linear in
    * `cells × cellSize²` with constant cell size ∝ √N. */
  def knnGraph(df: DataFrame, idCol: String, embCol: String,
      centroids: Seq[Seq[Double]], k: Int, nProbe: Int = 1): DataFrame = {
    require(k > 0, s"k must be positive, got $k")
    val idx = (if (nProbe == 1)
        Ivf.fixedCentroidIndex(df, idCol, embCol, centroids)
      else
        Ivf.fixedCentroidMultiIndex(df, idCol, embCol, centroids, nProbe)
          .drop("probe"))
      .select(col(idCol).as("__id"),
        col(embCol).cast("array<double>").as("__emb"), col("cell"))
      // both sides of the cell self-join read this — materialize once,
      // or the k-cosine assignment (and the nProbe sort+explode) runs
      // twice over the full corpus
      .localCheckpoint()
    val pairs = idx.alias("a").join(idx.alias("b"), Seq("cell"))
      .filter(col("a.__id") =!= col("b.__id"))
      .select(col("a.__id").as("src_id"), col("b.__id").as("nbr_id"),
        round(Similarity.cosine(col("a.__emb"), col("b.__emb")), 6)
          .as("cosine"))
    val deduped = if (nProbe == 1) pairs
      else pairs.groupBy("src_id", "nbr_id").agg(max("cosine").as("cosine"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("src_id").orderBy(col("cosine").desc, col("nbr_id"))
    deduped.withColumn("__rn", row_number().over(w))
      .filter(col("__rn") <= k).drop("__rn")
  }

  /** One synchronous label-propagation step over a neighbor graph
    * ([[knnGraph]] rows `(src_id, nbr_id, cosine)`): every node takes
    * the MAJORITY label among its neighbors — the label-denoising /
    * semi-supervised-expansion pass a labeled-subset pipeline runs
    * before training (Zhu & Ghahramani 2002's iterative step,
    * unweighted vote). Deterministic contract: ties break to the
    * SMALLEST label; a node with no graph edges keeps its own label.
    * Returns `(idCol, labelCol, new_label)` for every labeled node, so
    * `new_label != label` is the denoising diff.
    *
    * Scale shape: one join of the edge list against the label table on
    * `nbr_id` (both id-keyed; broadcast when labels are a small seed
    * set), a hash-agg on (src, label) — at most k·labels rows per node
    * before map-side partials — and a per-src `max_by` argmax struct
    * (no window, no sort). Nothing touches embeddings; the graph is
    * built once and reused across iterations. */
  def labelPropagationStep(graph: DataFrame, labels: DataFrame,
      idCol: String, labelCol: String): DataFrame = {
    val lab = labels.select(col(idCol).as("__lid"),
      col(labelCol).cast("long").as("__lab"))
    val votes = graph.select(col("src_id"), col("nbr_id"))
      .join(lab, col("nbr_id") === col("__lid"))
      .groupBy(col("src_id"), col("__lab"))
      .agg(count(lit(1)).as("__n"))
      // argmax by (count desc, label asc) without a window: max_by over
      // the struct (count, -label) — both components integral, exact
      .groupBy("src_id")
      .agg(max_by(col("__lab"),
        struct(col("__n"), (-col("__lab")).as("__neg"))).as("__voted"))
    lab.join(votes, col("__lid") === col("src_id"), "left")
      .select(col("__lid").as(idCol), col("__lab").as(labelCol),
        coalesce(col("__voted"), col("__lab")).as("new_label"))
  }

  /** Run `iterations` full-data Lloyd steps from `init`. Returns the
    * refined centroids (empty cells keep their previous centroid). */
  def lloyd(df: DataFrame, idCol: String, embCol: String,
      init: Seq[Seq[Double]], iterations: Int): Seq[Seq[Double]] = {
    require(iterations >= 0, s"iterations must be >= 0, got $iterations")
    var cents = init.toVector
    for (_ <- 0 until iterations) {
      val step = lloydStepFp(df, idCol, embCol, cents)
        .select("cell", "dim", "centroid").collect()
        .groupBy(_.getInt(0))
        .map { case (c, rows) =>
          c -> rows.sortBy(_.getLong(1)).map(_.getDouble(2)).toVector
        }
      cents = cents.zipWithIndex.map { case (prev, i) =>
        step.getOrElse(i, prev)
      }
    }
    cents
  }
}
