package graft.ops

import java.nio.file.{Files, Paths}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import scala.jdk.CollectionConverters._

/** DLQ replay (reference: `scripts/replay-dlq.sh` — re-publish dead
  * letters to the original topic in batches, dry-run by default).
  *
  * Engine shape: read the DLQ table, filter (error class / time window /
  * retry budget), and re-append the original payloads to the stream
  * input path, bumping `retry_count`. Replayed rows are rewritten to the
  * DLQ with incremented retry counts only if they fail again (the
  * pipeline's normal parse path re-quarantines them).
  */
object DlqReplay {

  final case class ReplayResult(selected: Long, replayed: Long, dryRun: Boolean)

  /** Replay-attempt ledger: a re-quarantined payload arrives as a fresh
    * dead letter with retry_count 0 (the pipeline's batch body writes
    * every parse failure that way), so attempts are tracked in a side
    * table keyed by payload hash. `--max-retries` then bounds REPLAY
    * CYCLES, not just stored rows. */
  private def attemptsPath(dlqPath: String) = s"${dlqPath}__replay_attempts"

  private def attempts(spark: SparkSession, dlqPath: String): DataFrame =
    graft.util.AtomicSnapshot.read(spark, attemptsPath(dlqPath)) match {
      case Some(df) => // defensive: one row per hash regardless of writer
        df.groupBy("payload_hash").agg(max("attempts").as("attempts"))
      case None => spark.emptyDataFrame
        .select(lit("").as("payload_hash"), lit(0L).as("attempts"))
        .limit(0)
    }

  def selectReplayable(dlq: DataFrame, maxRetries: Int = 3,
      errorClass: Option[String] = None,
      attemptLedger: Option[DataFrame] = None): DataFrame = {
    val base = dlq.filter(col("retry_count") < maxRetries)
      .filter(col("original_payload").isNotNull)
    val filtered = errorClass.fold(base)(ec => base.filter(col("error_class") === ec))
    attemptLedger match {
      case Some(ledger) =>
        filtered.withColumn("payload_hash", sha2(col("original_payload"), 256))
          .join(ledger, Seq("payload_hash"), "left")
          .filter(coalesce(col("attempts"), lit(0L)) < maxRetries)
          .drop("payload_hash", "attempts")
      case None => filtered
    }
  }

  /** True when `path` holds a file a parquet read would list: one with no
    * `_` or `.` prefix on any path component below `path`. */
  private def hasDataFiles(path: String): Boolean = {
    val root = Paths.get(path)
    Files.exists(root) && {
      val walk = Files.walk(root)
      try walk.iterator().asScala.exists { p =>
        Files.isRegularFile(p) && root.relativize(p).iterator().asScala
          .forall(c => !c.toString.startsWith("_") && !c.toString.startsWith("."))
      } finally walk.close()
    }
  }

  /** Replay to a stream input directory (file-source analog of topic
    * re-publish). Dry-run counts only. */
  def replay(spark: SparkSession, dlqPath: String, inputDir: String,
      maxRetries: Int = 3, errorClass: Option[String] = None,
      batchLimit: Int = 10000, dryRun: Boolean = true): ReplayResult = {
    // a `_dlq` whose batches had no dead letters holds no data files, and
    // an inferred parquet read of it fails
    if (!hasDataFiles(dlqPath))
      return ReplayResult(0, 0, dryRun)
    val dlq = spark.read.parquet(dlqPath)
    val ledger = attempts(spark, dlqPath)
    // one replay per distinct payload per cycle: a payload re-quarantined
    // N times is still one poison message
    val replayable = selectReplayable(dlq, maxRetries, errorClass, Some(ledger))
      .dropDuplicates("original_payload")
      .limit(batchLimit)
      .localCheckpoint() // consumed 3x: count, payload write, ledger update
    val n = replayable.count()
    if (dryRun || n == 0) return ReplayResult(n, 0, dryRun)
    // The file-stream source lists inputDir NON-recursively, so replayed
    // payloads must land as flat files there — write to a staging dir,
    // then move the part files in under unique names.
    val stamp = System.currentTimeMillis()
    val staging = Files.createTempDirectory("dlq-replay")
    replayable.select(col("original_payload"))
      .coalesce(1)
      .write.mode("overwrite").text(staging.toString)
    val parts = Files.list(staging).iterator()
    var i = 0
    while (parts.hasNext) {
      val p = parts.next()
      if (p.getFileName.toString.startsWith("part-")) {
        Files.move(p, Paths.get(s"$inputDir/replay_${stamp}_$i.txt"))
        i += 1
      }
    }
    // bump the attempt ledger for everything just replayed (staging-swap
    // write). Union + sum-per-hash keeps the ledger one row per payload
    // even if dup rows ever sneak in.
    val bumped = ledger.select(col("payload_hash"), col("attempts"))
      .union(replayable.select(sha2(col("original_payload"), 256).as("payload_hash"),
        lit(1L).as("attempts")))
      .groupBy("payload_hash").agg(sum("attempts").as("attempts"))
    graft.util.AtomicSnapshot.write(bumped, attemptsPath(dlqPath))
    ReplayResult(n, n, dryRun = false)
  }

  def main(args: Array[String]): Unit = {
    var dlqPath = ""; var inputDir = ""; var execute = false
    var errorClass: Option[String] = None; var maxRetries = 3
    var i = 0
    while (i < args.length) {
      args(i) match {
        case "--dlq" => dlqPath = args(i + 1); i += 2
        case "--input" => inputDir = args(i + 1); i += 2
        case "--error-class" => errorClass = Some(args(i + 1)); i += 2
        case "--max-retries" => maxRetries = args(i + 1).toInt; i += 2
        case "--execute" => execute = true; i += 1
        case other => System.err.println(s"[config] unknown flag '$other'"); sys.exit(10)
      }
    }
    if (dlqPath.isEmpty || inputDir.isEmpty) {
      System.err.println("[config] --dlq and --input required"); sys.exit(10)
    }
    val spark = graft.util.Sessions.local("graft-dlq-replay")
    val r = replay(spark, dlqPath, inputDir, maxRetries, errorClass, dryRun = !execute)
    println(s"""{"selected": ${r.selected}, "replayed": ${r.replayed}, "dry_run": ${r.dryRun}}""")
    spark.stop()
  }
}
