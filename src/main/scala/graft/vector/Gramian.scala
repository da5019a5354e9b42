package graft.vector

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.functions.Exact.{dec, fdiv}

/** Distributed Gram matrix of an embedding column — Gᵢⱼ = Σ_vecs xᵢ·xⱼ,
  * the input to PCA / whitening / covariance-shrinkage steps an
  * embedding-curation pipeline runs before SemDeDup-style clustering
  * (the reference's analytics views have no dense-algebra analog; this
  * is corpus infrastructure the 100-TB pipeline needs).
  *
  * Shape follows Spark MLlib's `RowMatrix.computeGramianMatrix` (public
  * Spark source): each partition accumulates its own upper-triangle
  * partial gramian in a flat primitive array — d(d+1)/2 longs, ZERO
  * per-row allocation — and emits one partial row per (i,j) per flush;
  * a hash aggregation then sums partials per (i,j). The shuffle carries
  * ≤ partitions·d²/2 rows (independent of corpus size); the d²/2
  * multiply-adds per vector are the gramian's inherent FLOP count.
  *
  * Cross-engine exactness: components fix-point to micros BEFORE any
  * product (`floor(x·10⁶)` — one IEEE multiply, identical in any
  * engine), so every accumulation is integer arithmetic, exact in any
  * association order / partitioning. Per-partition partials flush every
  * `flushEvery` rows so the long accumulator cannot overflow — and the
  * bound is ENFORCED, not assumed: every component is checked against
  * `|xfp| ≤ √(2⁶³/flushEvery)` (≈ 3·10⁶, i.e. |x| ≤ ~3, for the
  * default), so an out-of-range embedding fails loudly instead of
  * silently wrapping the accumulator. The cross-partition sum runs in
  * DECIMAL(38,0) — exact at any corpus size. The dimension `d` is
  * fixed once driver-side (the `dim` param, else a limit-1 probe) and
  * validated in every partition, so a corpus ragged only across
  * partition boundaries cannot merge mismatched triangles.
  */
object Gramian {

  /** Fixed-point upper-triangle gramian: `(dim_i, dim_j, gram_fp,
    * gram)` for 1 ≤ i ≤ j ≤ d, with `gram_fp = Σ ⌊xᵢ·10⁶⌋·⌊xⱼ·10⁶⌋`
    * (exact) and `gram = gram_fp / 10¹²` (one IEEE division).
    * `gram_fp` is surfaced as a long — exact while |Σ| < 2⁶³, i.e.
    * ~10⁶ billion unit-norm vectors; the internal decimal sum is exact
    * beyond that (re-cast the output column if you get there). */
  def gramianFp(df: DataFrame, embCol: String,
      flushEvery: Int = 1000000, dim: Int = 0): DataFrame = {
    require(flushEvery > 0, s"flushEvery must be positive, got $flushEvery")
    val spark = df.sparkSession
    import spark.implicits._
    val nn = df.filter(col(embCol).isNotNull)
    // dimension is fixed ONCE driver-side (param, or a limit-1 probe of
    // the first row) and validated in EVERY partition — per-partition
    // inference would silently merge mismatched triangles when a ragged
    // corpus happens to be ragged only ACROSS partitions
    val d = if (dim > 0) dim
      else nn.select(size(col(embCol))).limit(1).collect()
        .headOption.map(_.getInt(0)).getOrElse(0)
    // overflow bound, enforced instead of assumed: each accumulator cell
    // gains ≤ one |xfp|² product per row and flushes every `flushEvery`
    // rows, so |component| ≤ maxAbsFp keeps flushEvery·maxAbsFp² < 2⁶³
    // — a larger component fails loudly rather than wrapping the long
    val maxAbsFp = math.sqrt(Long.MaxValue.toDouble / flushEvery).toLong - 1
    val xf = nn
      .select(transform(col(embCol),
        x => floor(x.cast("double") * lit(1000000L)).cast("long")).as("__xf"))
      .as[Array[Long]]
    val partials = xf.mapPartitions { it =>
      val acc = new Array[Long](d * (d + 1) / 2)
      var rows = 0
      val out = scala.collection.mutable.ArrayBuffer.empty[(Int, Int, Long)]
      def flush(): Unit = {
        if (rows > 0) {
          var idx = 0
          var i = 0
          while (i < d) {
            var j = i
            while (j < d) {
              out += ((i + 1, j + 1, acc(idx))) // 1-based dims
              acc(idx) = 0L
              idx += 1; j += 1
            }
            i += 1
          }
        }
        rows = 0
      }
      it.foreach { v =>
        require(v.length == d, s"ragged embedding: ${v.length} != $d")
        var c = 0
        while (c < d) {
          val x = v(c)
          if (x > maxAbsFp || x < -maxAbsFp) throw new IllegalArgumentException(
            s"embedding component fp value $x exceeds |fp| <= $maxAbsFp " +
              s"(the overflow bound for flushEvery=$flushEvery); lower " +
              "flushEvery or rescale the embeddings")
          c += 1
        }
        var idx = 0
        var i = 0
        while (i < d) {
          val xi = v(i)
          var j = i
          while (j < d) {
            acc(idx) += xi * v(j)
            idx += 1; j += 1
          }
          i += 1
        }
        rows += 1
        if (rows == flushEvery) flush()
      }
      flush()
      out.iterator
    }
    partials.toDF("dim_i", "dim_j", "__p")
      .groupBy("dim_i", "dim_j")
      .agg(sum(dec(col("__p"))).cast("long").as("gram_fp"))
      .withColumn("gram", col("gram_fp").cast("double") / lit(1.0e12))
  }

  /** One fixed-point power-iteration step `v ← G·v` on a gramian in
    * [[gramianFp]]'s output layout — the building block of distributed
    * top-eigenvector extraction (PCA direction, spectral outlier
    * scoring) when `d` is too large to collect G driver-side. `vFp`
    * is the current iterate in micros (length d, 1-based dims map to
    * indices 0..d-1). The product runs entirely as integer arithmetic
    * on the d² gramian rows (the stored upper triangle mirrors across
    * the diagonal), aggregated per output dim — exact in any
    * association order. Output: `(dim, v_fp)` with `v_fp =
    * Σⱼ ⌊gram_fp(i,j)·vFp(j) / 10¹²⌋`-style scaling collapsed to one
    * floor division AFTER the exact sum: `⌊Σⱼ gram_fp(i,j)·vFp(j) /
    * 10¹²⌋` — callers renormalize between steps. */
  def powerIterationStep(gram: DataFrame, vFp: Seq[Long]): DataFrame = {
    val spark = gram.sparkSession
    val d = vFp.length
    require(d > 0, "vFp must be non-empty")
    val vDf = broadcast(spark.createDataFrame(
      vFp.zipWithIndex.map { case (v, i) => (i + 1, v) })
      .toDF("__dim", "__v"))
    // mirror the stored upper triangle: (i,j) contributes to row i with
    // v(j) and — off the diagonal — to row j with v(i)
    val mirrored = gram.select(col("dim_i").as("dim"), col("dim_j").as("__jj"),
        col("gram_fp"))
      .unionAll(gram.filter(col("dim_i") =!= col("dim_j"))
        .select(col("dim_j").as("dim"), col("dim_i").as("__jj"),
          col("gram_fp")))
    val num = mirrored.join(vDf, col("__jj") === col("__dim"))
      .groupBy("dim")
      .agg(sum(dec(col("gram_fp")) * col("__v")).as("__s"))
    val den = dec(lit("1000000000000"))
    num.select(col("dim"),
        fdiv(col("__s"), den).as("v_fp"))
      .orderBy("dim")
  }

  /** The moment vector Xᵀy in [[gramianFp]]'s fixed-point frame —
    * `xty_fp(i) = Σ_rows ⌊xᵢ·10⁶⌋·⌊y·10⁶⌋` — the other half of the
    * ridge normal equations `(XᵀX + λI)·w = Xᵀy`: with [[gramianFp]]
    * one corpus pass each, a linear probe / quality-regression fit
    * over embeddings needs NO iterative training at any corpus size
    * (collect the d² + d exact sums, solve d×d driver-side via
    * [[ridgeSolve]]). Unlike the gramian's d²-per-row accumulation,
    * the per-row work here is linear in d, so plain
    * posexplode + hash-agg is the right shape: map-side partials
    * collapse to ≤ d rows per partition before the shuffle, and every
    * product is integer arithmetic — exact in any association order,
    * DECIMAL(38,0) across partitions. */
  def momentsFp(df: DataFrame, embCol: String, yCol: String): DataFrame = {
    val nn = df.filter(col(embCol).isNotNull && col(yCol).isNotNull)
    nn.select(
        posexplode(transform(col(embCol),
          x => floor(x.cast("double") * lit(1000000L)).cast("long"))),
        floor(col(yCol).cast("double") * lit(1000000L)).cast("long")
          .as("__yf"))
      .select((col("pos") + 1).cast("int").as("dim"),
        // widen BEFORE multiplying: a long×long product wraps silently
        // at |xfp·yfp| >= 2^63 (a label of ~9e6 with unit-scale
        // embeddings); DECIMAL(38,0)×long never does
        (dec(col("col")) * col("__yf")).as("__p"))
      .groupBy("dim")
      .agg(sum(col("__p")).cast("long").as("xty_fp"))
      .withColumn("xty", col("xty_fp").cast("double") / lit(1.0e12))
      .orderBy("dim")
  }

  /** Per-dimension first and second moments in the micro fixed-point
    * frame: `(dim, n, sum_fp = Σ⌊xᵢ·10⁶⌋, sumsq_fp = Σ⌊xᵢ·10⁶⌋²)` —
    * the mean/variance inputs for feature standardization (z-scoring
    * embeddings before clustering or outlier cuts) and the diagonal
    * slice of [[gramianFp]] without the d² work. All integer: per-row
    * squares widen to DECIMAL(38,0) before summing (a long² wraps past
    * |xf| ≈ 3·10⁹), so results are exact in any association order.
    *
    * Scale shape: posexplode → hash-agg on dim — map-side partials
    * collapse every partition to ≤ d rows before the one exchange;
    * driver traffic is the d-row stats table at any corpus size. */
  def dimStatsFp(df: DataFrame, embCol: String): DataFrame = {
    val nn = df.filter(col(embCol).isNotNull)
    nn.select(posexplode(transform(col(embCol),
        x => floor(x.cast("double") * lit(1000000L)).cast("long"))))
      .select((col("pos") + 1).cast("int").as("dim"), col("col").as("__xf"))
      .groupBy("dim")
      .agg(count(lit(1)).as("n"),
        sum("__xf").as("sum_fp"),
        dec(sum(dec(col("__xf")) * col("__xf"))).as("sumsq_fp"))
      .orderBy("dim")
  }

  /** Full fixed-point power iteration: run [[powerIterationStep]]
    * `iterations` times from the deterministic tilted-unit start
    * `v₀(j) = 10⁶ + j`, integer-renormalizing between steps so the
    * iterate stays in the micro frame (divide by ⌊max|v|/10⁶⌋ — floor
    * division on integers, deterministic at any partitioning). Returns
    * the final direction as `(dim → v_fp)` — feed it to [[projectFp]]
    * to score the corpus along the dominant eigenvector. Driver
    * traffic per iteration is the d-row vector; the distributed work
    * is one gramian-sized aggregation per step. */
  def powerIteration(gram: DataFrame, d: Int, iterations: Int): Seq[Long] = {
    require(d > 0, s"d must be positive, got $d")
    require(iterations >= 1, s"iterations must be >= 1, got $iterations")
    var v: Seq[Long] = (1 to d).map(j => 1000000L + j)
    for (_ <- 1 to iterations) {
      val stepped = powerIterationStep(gram, v)
        .collect().map(r => r.getInt(0) -> r.getLong(1)).toMap
      val raw = (1 to d).map(j => stepped.getOrElse(j, 0L))
      val scale = math.max(raw.map(math.abs).max / 1000000L, 1L)
      v = raw.map(x => Math.floorDiv(x, scale))
    }
    v
  }

  /** Project every embedding onto a fixed direction in the micro
    * fixed-point frame: `proj_fp = ⌊Σᵢ ⌊xᵢ·10⁶⌋·vFp(i) / 10⁶⌋` — the
    * APPLY half of the PCA pipeline ([[gramianFp]] →
    * [[powerIterationStep]] extracts the direction; this scores the
    * corpus along it, the 1-D map behind spectral outlier cuts and
    * curriculum ordering). Exact integer contract: per-component
    * products widen to DECIMAL(38,0) (no 2^63 wrap at any |vFp|), the
    * per-row sum is association-free, and the single floor division
    * subtracts the nonnegative remainder — identical in any engine.
    *
    * Scale shape: a NARROW per-row expression — `zip_with` product +
    * `aggregate` fold, whole-stage-codegen'd, zero shuffle, zero joins;
    * the direction rides along as a literal array (d ≤ thousands). */
  def projectFp(df: DataFrame, idCol: String, embCol: String,
      vFp: Seq[Long]): DataFrame = {
    require(vFp.nonEmpty, "vFp must be non-empty")
    val vArr = array(vFp.map(v => dec(lit(v))): _*)
    val xf = transform(col(embCol),
      x => dec(floor(x.cast("double") * lit(1000000L)).cast("long")))
    val dot = aggregate(
      zip_with(xf, vArr, (a, b) => a * b),
      dec(lit(0)),
      (acc, y) => acc + y)
    val m = dec(lit(1000000L))
    df.filter(col(embCol).isNotNull && size(col(embCol)) === vFp.length)
      .select(col(idCol),
        fdiv(dot, m).as("proj_fp"))
  }

  /** Driver-side closed-form ridge solve over collected [[gramianFp]] /
    * [[momentsFp]] rows: `w = (G + λI)⁻¹·Xᵀy` by Gaussian elimination
    * with partial pivoting on the d×d system — O(d³) driver work, the
    * right trade for embedding-sized d (the distributed passes did the
    * O(N·d²); this touches no executor). `gram` rows are the stored
    * upper triangle `(dim_i, dim_j, gram)`; `moments` rows `(dim,
    * xty)`; both 1-based. λ ≥ 0 regularizes (λ > 0 also guarantees the
    * system is nonsingular for any data). */
  def ridgeSolve(gram: Seq[(Int, Int, Double)], moments: Seq[(Int, Double)],
      lambda: Double): Array[Double] = {
    require(lambda >= 0.0, s"lambda must be >= 0, got $lambda")
    require(moments.nonEmpty, "empty moment vector")
    val d = moments.map(_._1).max
    val a = Array.ofDim[Double](d, d + 1)
    gram.foreach { case (i, j, g) =>
      require(i >= 1 && i <= d && j >= i && j <= d, s"bad gram cell ($i,$j)")
      a(i - 1)(j - 1) = g
      a(j - 1)(i - 1) = g
    }
    (0 until d).foreach(i => a(i)(i) += lambda)
    moments.foreach { case (i, y) => a(i - 1)(d) = y }
    var col0 = 0
    while (col0 < d) {
      var piv = col0
      var r = col0 + 1
      while (r < d) {
        if (math.abs(a(r)(col0)) > math.abs(a(piv)(col0))) piv = r
        r += 1
      }
      require(math.abs(a(piv)(col0)) > 1e-12,
        s"singular normal equations at column ${col0 + 1}; raise lambda")
      if (piv != col0) { val t = a(piv); a(piv) = a(col0); a(col0) = t }
      r = col0 + 1
      while (r < d) {
        val f = a(r)(col0) / a(col0)(col0)
        var k = col0
        while (k <= d) { a(r)(k) -= f * a(col0)(k); k += 1 }
        r += 1
      }
      col0 += 1
    }
    val w = new Array[Double](d)
    var i = d - 1
    while (i >= 0) {
      var s = a(i)(d)
      var k = i + 1
      while (k < d) { s -= a(i)(k) * w(k); k += 1 }
      w(i) = s / a(i)(i)
      i -= 1
    }
    w
  }
}
