package perfbench

/** Pure summary helpers: medians, the reportable tail percentile, and the
  * mapping from generated files to the micro-batches that committed them. */
object Stats {

  /** Linear-interpolated quantile (the same rule as numpy's default and
    * Python's `statistics.quantiles(method="inclusive")`). */
  def quantile(xs: Seq[Double], q: Double): Double = {
    require(xs.nonEmpty, "quantile of an empty sample")
    val s = xs.sorted
    val pos = q * (s.size - 1)
    val lo = math.floor(pos).toInt
    val hi = math.min(lo + 1, s.size - 1)
    s(lo) + (s(hi) - s(lo)) * (pos - lo)
  }

  def median(xs: Seq[Double]): Double = quantile(xs, 0.5)

  /** Candidate percentiles, highest first, each with the share of the
    * sample beyond it in tenths of a percent (integers, so the ten-sample
    * test is exact). */
  private val Percentiles: Seq[(Double, Int)] =
    Seq(99.9 -> 1, 99.0 -> 10, 90.0 -> 100, 50.0 -> 500)

  /** The highest candidate percentile that still has at least ten samples
    * beyond it; the median when the sample is smaller than that. */
  def tailPercentile(n: Int): Double =
    Percentiles.collectFirst { case (p, beyond) if n.toLong * beyond >= 10000 => p }
      .getOrElse(50.0)

  /** (percentile, value) for [[tailPercentile]] of the sample. */
  def tail(xs: Seq[Double]): (Double, Double) = {
    val p = tailPercentile(xs.size)
    (p, quantile(xs, p / 100.0))
  }

  /** File name → id of the micro-batch that read it, from a file stream
    * source's metadata log (the checkpoint's `sources/<n>/` files: a
    * version line, then one JSON entry per file; a compacted log file
    * repeats the entries of earlier batches). The cumulative
    * `numInputRows` of the progress events cannot give this mapping for a
    * `foreachBatch` sink: every action the sink runs on the batch re-reads
    * the source and adds to the count. */
  def parseSourceLog(lines: Iterator[String]): Map[String, Long] = {
    val Entry = """.*"path":"([^"]*)".*"batchId":(\d+).*""".r
    lines.collect { case Entry(path, b) =>
      path.substring(path.lastIndexOf('/') + 1) -> b.toLong
    }.toMap
  }

  /** Commit time of each file: the commit of the batch that read it; None
    * for a file no committed batch has read. */
  def fileCommitTimes(files: Seq[String], batchOf: Map[String, Long],
      commitMs: Map[Long, Long]): Seq[Option[Long]] =
    files.map(f => batchOf.get(f).flatMap(commitMs.get))
}
