package graft.ops

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Parquet → JSON-lines staging utility — the bridge between the
  * warehouse tables and the streaming launchers' file-source inputs
  * ([[SessionCensusCli]], [[CurateStreamCli]], [[CdcReplicateCli]]),
  * for demos, backfills and replay drills:
  *
  *   runMain graft.ops.JsonStage \
  *     --input <parquet path> --output <dir of JSON lines> \
  *     [--select c1,c2,...]   project before serializing \
  *     [--order-by <col>]     range-partition + sort so files are
  *                            chronological (the column need not be in
  *                            --select) \
  *     [--parts 8]            output file count
  *
  * Two details matter for a faithful replay and are easy to get wrong
  * by hand:
  *
  *  1. CHRONOLOGICAL arrival: with `--order-by`, rows are
  *     range-partitioned and sorted on the column, so part-00000 holds
  *     the earliest ranges. A randomly-split corpus would let the
  *     first micro-batch drag the watermark to the frontier and every
  *     later file would arrive "late" — a replay that measures drop
  *     policy, not the operator.
  *  2. MTIME ordering: Spark's file source breaks same-batch ties by
  *     MODIFICATION time — i.e. write-task completion order,
  *     nondeterministic and unrelated to the range order. The staged
  *     parts get strictly-increasing mtimes stamped in part order,
  *     2 s apart (sub-second steps vanish on coarse-granularity
  *     filesystems) and ending at stage time, so the stream really
  *     arrives in `--order-by` order. A follow-on corpus staged later
  *     stamps strictly after this one PROVIDED the runs start more
  *     than 2·parts seconds apart (a Spark session launch already
  *     takes longer); never run two stagings concurrently into one
  *     watched input — their part stamps would interleave.
  */
object JsonStage {

  /** Staging body over an already-loaded frame (ScaleBench stages its
    * replicated corpora through this too): serialize `selCols` (all
    * columns when empty) as one JSON line per row, range-order by
    * `orderBy` when given (resolved against `df`, so it need not be
    * serialized), write `parts` text files, stamp part mtimes
    * strictly increasing in part order. Returns the part count.
    * `output` must be a LOCAL filesystem path that honors
    * `setLastModified` — anything else fails loudly rather than stage
    * a nondeterministically-ordered corpus. */
  def stageFrame(df: DataFrame, output: String, orderBy: String = "",
      selCols: Seq[String] = Nil, parts: Int = 8): Int = {
    require(parts >= 1, s"parts must be >= 1, got $parts")
    val cols = if (selCols.nonEmpty) selCols else df.columns.toSeq
    val json = to_json(struct(cols.map(col): _*)).as("value")
    val staged =
      if (orderBy.nonEmpty)
        df.select(json, col(orderBy).as("__ord"))
          .repartitionByRange(parts, col("__ord"))
          .sortWithinPartitions("__ord")
          .select("value")
      else df.select(json).repartition(parts)
    staged.write.mode("overwrite").text(output)
    val partFiles = Option(new java.io.File(output).listFiles())
      .getOrElse(Array.empty[java.io.File])
      .filter(_.getName.startsWith("part-")).sortBy(_.getName)
    // the stamping below is the tool's whole reason to exist — failing
    // it silently (non-local output path where java.io.File sees
    // nothing, or a filesystem refusing setLastModified) would hand the
    // caller a corpus with nondeterministic arrival order and a
    // truthful-looking staged_files count. Fail loudly instead.
    require(partFiles.nonEmpty,
      s"JsonStage: wrote '$output' but found no part- files via the " +
        "local filesystem — the output path must be LOCAL (the mtime " +
        "stamping that guarantees chronological arrival cannot reach " +
        "other filesystems)")
    // part mtimes spaced 2 s apart (coarse-granularity filesystems —
    // ext3, FAT, some container mounts — round sub-second mtimes away,
    // and identical stamps would reintroduce the nondeterministic
    // arrival order this stamping exists to fix), ENDING at stage
    // time: a follow-on staging run stamps strictly after this one as
    // long as the runs start more than 2·parts seconds apart (see the
    // scaladoc)
    val base = System.currentTimeMillis() - 2000L * partFiles.length
    partFiles.zipWithIndex.foreach { case (f, idx) =>
      if (!f.setLastModified(base + (idx + 1) * 2000L))
        throw new java.io.IOException(
          s"JsonStage: setLastModified failed on ${f.getPath} — this " +
            "filesystem does not honor mtime stamping, so the staged " +
            "corpus would arrive in nondeterministic order; stage onto " +
            "a filesystem that supports it")
    }
    partFiles.length
  }

  /** Path-based entry: read parquet, project `select` if given (the
    * `orderBy` column resolves against the FULL input schema, so
    * ordering by a column you don't serialize works). */
  def stage(spark: SparkSession, input: String, output: String,
      orderBy: String = "", select: Seq[String] = Nil,
      parts: Int = 8): Int =
    stageFrame(spark.read.parquet(input), output, orderBy, select, parts)

  def main(args: Array[String]): Unit = {
    var input = ""; var output = ""; var orderBy = ""
    var select = Seq.empty[String]; var parts = 8
    var i = 0
    // the CLI contract every launcher shares: config errors print a
    // [config] line and exit 10, never a raw stack trace
    try {
      while (i < args.length) {
        args(i) match {
          case "--input" => input = args(i + 1); i += 2
          case "--output" => output = args(i + 1); i += 2
          case "--order-by" => orderBy = args(i + 1); i += 2
          case "--select" =>
            select = args(i + 1).split(",").map(_.trim).filter(_.nonEmpty).toSeq
            i += 2
          case "--parts" => parts = args(i + 1).toInt; i += 2
          case other =>
            System.err.println(s"[config] unknown flag '$other'"); sys.exit(10)
        }
      }
    } catch {
      case _: ArrayIndexOutOfBoundsException =>
        System.err.println("[config] flag missing its value"); sys.exit(10)
      case e: NumberFormatException =>
        System.err.println(s"[config] bad numeric value: ${e.getMessage}")
        sys.exit(10)
    }
    if (input.isEmpty || output.isEmpty || parts < 1) {
      System.err.println("[config] --input and --output required, --parts >= 1")
      sys.exit(10)
    }
    val spark = graft.util.Sessions.local("graft-json-stage")
    val n = stage(spark, input, output, orderBy, select, parts)
    println(s"""{"staged_files": $n, "output": "$output"}""")
    spark.stop()
  }
}
