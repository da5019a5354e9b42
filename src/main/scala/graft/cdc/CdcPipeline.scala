package graft.cdc

import java.nio.file.{Files, Paths}
import java.util.concurrent.{ExecutionException, Executors, TimeUnit}
import java.util.concurrent.atomic.AtomicInteger
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.execution.SQLExecution
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}
import org.apache.spark.sql.types.StructType
import scala.util.control.NonFatal

/** The CDC replication path as one Structured Streaming job (reference
  * pipeline: SURVEY §3.1; Kafka-Connect original at
  * `docker/kafka-connect/connectors/` JSON configs).
  *
  *   readStream (JSON-envelope source)
  *     → parse PERMISSIVE, keeping `_corrupt_record`            (S8)
  *     → foreachBatch, the batch persisted once:
  *         corrupt rows → `_dlq/batch_id=<id>` (if any)           (ST6)
  *         good rows → SMT chain: heartbeat-drop, route, unwrap  (T1–T8)
  *           → late rows (behind the `_hwm` high-water mark)
  *             quarantined to `_late/batch_<id>`                 (ST4)
  *           → collapse latest-per-key + idempotent monotonic
  *             MERGE into the per-table warehouse                (W1, ST1/2/7/8)
  *             (the `_late` write and the table merges run at once)
  *
  * One query, one checkpoint (`$checkpointDir/merge`), one parse: the
  * batch body persists the parsed rows for the batch's lifetime
  * ([[graft.util.Materialized.scoped]]), so the dead-letter write, the
  * merge's one probe aggregate (high-water mark, late rows, the tables
  * and warehouse buckets touched) and its writes all read them without
  * re-running `from_json`, and the query's `numInputRows`
  * (`records_replicated_total`) counts each envelope once. The batch's
  * writes are independent (one directory each), so they run
  * concurrently, like the reference sink's `tasks.max` workers
  * (SURVEY.md:462), on a pool that lives for the batch.
  *
  * Exactly-once into a non-transactional sink (SURVEY §7.4.1): Structured
  * Streaming checkpoints offsets (ST3); the merge is idempotent (PK-keyed)
  * and monotonic (commit-ts guard), and the `_dlq` / `_late` writes
  * overwrite one directory per batch id, so at-least-once redelivery of
  * a batch converges to the same snapshot.
  *
  * Each warehouse table is a copy-on-write [[graft.util.BucketedTable]]:
  * a merge rewrites only the buckets its keys hash into. On a cluster the
  * identical collapse+merge plan targets Delta/Iceberg `MERGE INTO`.
  * Events carry their order in `commit_timestamp` and their delete marker
  * in `__deleted`; every non-key data column is a partial update (ST7).
  */
final class CdcPipeline(
    spark: SparkSession,
    warehouseDir: String,
    checkpointDir: String,
    keysByTable: Map[String, Seq[String]],
    watermarkDelay: String = "24 hours",
    /** ST5: merge retry attempts with exponential backoff (reference
      * sink retry config postgres-sink.json:12-13,33-34). */
    maxMergeRetries: Int = 3,
    retryBaseBackoffMs: Long = 100,
    /** Buckets per warehouse table, fixed at its creation: a merge
      * rewrites the buckets its keys hash into, so 1 rewrites the whole
      * table (sizing: docs/SCALE_RUNBOOK.md). */
    warehouseBuckets: Int = 1) {
  require(warehouseBuckets >= 1, s"warehouseBuckets must be >= 1, got $warehouseBuckets")

  private val ordCol = "commit_timestamp"
  private val deleteCol = "__deleted"

  def tablePath(table: String): String = s"$warehouseDir/$table"

  /** The table's rows; None when it was never written or every row was
    * deleted. A read rolls back a swap a crash interrupted, so at most the
    * in-flight batch is lost, and the checkpoint replays it. */
  def readTable(table: String): Option[DataFrame] =
    graft.util.BucketedTable.read(spark, tablePath(table))

  /** ST11 backpressure analog of `max.queue.size`: bound files per
    * micro-batch. Convenience reader for JSON-line envelope streams. */
  def readJsonStream(inputDir: String, maxFilesPerTrigger: Int = 0): DataFrame = {
    import org.apache.spark.sql.types.{StringType, StructField, StructType}
    val base = spark.readStream
      .schema(StructType(Seq(StructField("value", StringType))))
    val bounded = if (maxFilesPerTrigger > 0)
      base.option("maxFilesPerTrigger", maxFilesPerTrigger) else base
    bounded.text(inputDir).toDF("value")
  }

  /** S1 Kafka ingest wiring. The sandbox has no Kafka broker or
    * spark-sql-kafka jar, so this is the documented, compile-checked
    * option mapping from the reference's connector config
    * (scylla-source.json:20-31, postgres-sink topics/offsets) onto
    * Structured Streaming's kafka source; `readKafkaStream` yields the
    * SAME single-`value`-column envelope frame as [[readJsonStream]],
    * so the whole downstream pipeline is source-agnostic.
    *
    *  - subscribePattern  ← topic.prefix + table regex routing (T4)
    *  - startingOffsets   ← snapshot.mode initial → "earliest"
    *  - maxOffsetsPerTrigger ← max.batch.size/max.queue.size
    *    backpressure (ST11, same knob readJsonStream exposes as
    *    maxFilesPerTrigger)
    *  - failOnDataLoss=false ← errors.tolerance=all */
  def kafkaSourceOptions(bootstrapServers: String, topicPattern: String,
      startingOffsets: String = "earliest",
      maxOffsetsPerTrigger: Long = 0L): Map[String, String] = {
    val base = Map(
      "kafka.bootstrap.servers" -> bootstrapServers,
      "subscribePattern" -> topicPattern,
      "startingOffsets" -> startingOffsets,
      "failOnDataLoss" -> "false")
    if (maxOffsetsPerTrigger > 0)
      base + ("maxOffsetsPerTrigger" -> maxOffsetsPerTrigger.toString)
    else base
  }

  /** Kafka-backed envelope stream (value bytes → one string column,
    * interface-identical to [[readJsonStream]]). Requires the
    * spark-sql-kafka package at runtime. */
  def readKafkaStream(bootstrapServers: String, topicPattern: String,
      startingOffsets: String = "earliest",
      maxOffsetsPerTrigger: Long = 0L): DataFrame =
    spark.readStream.format("kafka")
      .options(kafkaSourceOptions(bootstrapServers, topicPattern,
        startingOffsets, maxOffsetsPerTrigger))
      .load()
      .selectExpr("CAST(value AS STRING) AS value")

  /** ST5: retry with exponential backoff around the merge body — the
    * stream restarts from checkpoint on final failure, so the merge's
    * idempotence makes retries safe. Only non-fatal failures retry: an
    * interrupt (the query being stopped) or a VM error propagates at once. */
  private[cdc] def withRetry[T](what: String)(body: => T): T = {
    var attempt = 0
    var lastErr: Throwable = null
    while (attempt <= maxMergeRetries) {
      try return body
      catch {
        case NonFatal(e) =>
          lastErr = e
          attempt += 1
          if (attempt <= maxMergeRetries)
            Thread.sleep(retryBaseBackoffMs * (1L << (attempt - 1)))
      }
    }
    throw new RuntimeException(s"$what failed after $maxMergeRetries retries", lastErr)
  }

  /** Lateness bound in microseconds, parsed with Spark's own interval
    * parser so every string `withWatermark` accepts works here too
    * ("24 hours", "1 week", "500 milliseconds", ...). Month-based
    * intervals are rejected (no fixed length). */
  private val latenessMicros: Long = {
    val iv = org.apache.spark.sql.catalyst.util.IntervalUtils.stringToInterval(
      org.apache.spark.unsafe.types.UTF8String.fromString(watermarkDelay))
    require(iv.months == 0,
      s"watermarkDelay '$watermarkDelay': month-based delays are ambiguous")
    iv.days * 86400000000L + iv.microseconds
  }

  /** Persistent cross-batch high-water mark (max commit ts seen BEFORE
    * the current batch): real watermark semantics — a backfill's first
    * giant batch quarantines nothing, later batches quarantine rows
    * older than (seen-so-far − delay). Stored as one tiny text file. */
  private def hwmPath = Paths.get(s"$checkpointDir/_hwm")

  private def readHwm(): Option[Long] =
    if (Files.exists(hwmPath)) Some(Files.readString(hwmPath).trim.toLong) else None

  private def writeHwm(v: Long): Unit = {
    val tmp = Paths.get(s"$checkpointDir/_hwm.tmp")
    Files.writeString(tmp, v.toString)
    Files.move(tmp, hwmPath, java.nio.file.StandardCopyOption.REPLACE_EXISTING,
      java.nio.file.StandardCopyOption.ATOMIC_MOVE)
  }

  /** The per-micro-batch merge body (ST1/ST2/ST7/ST8). Public so batch
    * backfills (S2 snapshot mode) reuse the same path.
    *
    * `batch` is persisted once, outside the retry loop, so a retried
    * merge reuses the parsed rows; one aggregate job then yields the
    * batch's max commit ts, its late-row count and the tables its
    * current rows touch, each with the warehouse buckets its keys hash
    * into (it also fills the cache). The `_late` write, which runs only
    * when that count is above 0, and the per-table merges then run
    * concurrently; a retry reruns them all.
    *
    * ST4 late-row quarantine: rows whose commit timestamp lags the
    * batch's high-water mark by more than `watermarkDelay` append to
    * `warehouseDir/_late` INSTEAD of merging — the reference's 24 h
    * CDC-TTL staleness bound, with quarantine rather than silent
    * application (spec.md:134 FR-015). */
  def mergeMicroBatch(batch: DataFrame, batchId: Long): Unit =
    graft.util.Materialized.scoped(batch) { rows =>
      withRetry(s"merge batch $batchId")(mergeRows(rows, batchId))
    }

  /** ST6 dead-letter records (data-model.md:173-208) of a parsed batch's
    * corrupt rows. */
  private def deadLetters(parsed: DataFrame): DataFrame =
    parsed.filter(col("_corrupt_record").isNotNull).select(
      col("_corrupt_record").as("original_payload"),
      lit("ParseError").as("error_class"),
      lit("malformed change-event JSON").as("error_message"),
      current_timestamp().as("failed_at"),
      lit(0).as("retry_count"),
      lit(null).cast("string").as("source_topic"),
      lit(null).cast("string").as("correlation_id"))

  /** The stream's batch body: the parsed batch is persisted once; its
    * dead letters are written to `warehouseDir/_dlq` partitioned by
    * `batch_id`, overwriting only their own `batch_id=<id>` directory (a
    * replayed batch rewrites the same rows; a batch without any writes
    * no directory), and its good rows go through the SMT chain —
    * heartbeat drop (T5), topic → `__table` routing (T4), delete marker
    * (T1) — into [[mergeRows]]. The split comes first: a corrupt row's
    * NULL `topic` would make the heartbeat filter drop it. The
    * dead-letter write is the first action, so its job fills the
    * persisted batch. */
  private def replicateBatch(parsed: DataFrame, batchId: Long): Unit =
    graft.util.Materialized.scoped(parsed) { rows =>
      named(batchId, "dead letters")(deadLetters(rows).withColumn("batch_id", lit(batchId))
        .write.mode("overwrite").option("partitionOverwriteMode", "dynamic")
        .partitionBy("batch_id").parquet(s"$warehouseDir/_dlq"))
      val good = rows.filter(col("_corrupt_record").isNull).drop("_corrupt_record")
      val transformed = Transforms.routeTable(Transforms.dropHeartbeats(good, "topic"), "topic")
        .withColumn(deleteCol, (col("operation") === ChangeEvent.Delete).cast("string"))
        .drop("topic", "operation")
      withRetry(s"merge batch $batchId")(mergeRows(transformed, batchId))
    }

  /** The merge of one parsed, routed batch (see [[mergeMicroBatch]]).
    * One aggregate job over the batch yields its max commit ts, its
    * late-row count and every (table, bucket) pair its current rows
    * touch, the bucket taken with each table's own [[graft.util.BucketedTable.bucketCol]]
    * (NULL for a table whose key columns the batch lacks: its merge
    * then fails on them). The batch's
    * independent writes, the `_late` quarantine and one merge per
    * table, then run concurrently ([[runConcurrently]]); `_hwm`
    * advances only after every one of them succeeded. */
  private def mergeRows(batch: DataFrame, batchId: Long): Unit = {
    // lateness is judged against the PRE-batch high-water mark; rows with
    // a NULL commit ts are unprocessable by an ordering-based merge and
    // quarantine too (they'd otherwise vanish in the comparisons)
    val prevHwm = readHwm()
    val lateCond = prevHwm match {
      case Some(hwm) =>
        col(ordCol).isNull || col(ordCol) < lit(hwm - latenessMicros)
      case None => col(ordCol).isNull
    }
    val isLate = coalesce(lateCond, lit(true))
    val bucket = keysByTable.foldLeft(lit(null).cast("int")) { case (other, (table, keys)) =>
      if (keys.forall(batch.columns.contains))
        when(col("__table") === table,
          graft.util.BucketedTable.bucketCol(keys, warehouseBuckets)).otherwise(other)
      else other
    }
    val probe = named(batchId, "probe")(batch.agg(
      max(col(ordCol)),
      count(when(isLate, 1)),
      collect_set(when(!isLate, struct(col("__table"), bucket)))).head())
    val batchMax = if (probe.isNullAt(0)) None else Some(probe.getLong(0))
    // one directory per batch id, overwritten on retry/replay — the
    // quarantine write stays idempotent under at-least-once delivery
    val lateWrite =
      if (probe.getLong(1) == 0) Nil
      else Seq(() => named(batchId, "_late")(batch.filter(isLate).write.mode("overwrite")
        .parquet(s"$warehouseDir/_late/batch_$batchId")))
    val current = batch.filter(!isLate)
    val touched = probe.getSeq[Row](2).groupMap(_.getString(0))(r =>
      if (r.isNullAt(1)) None else Some(r.getInt(1)))
    val merges = touched.toSeq.flatMap { case (table, buckets) =>
      keysByTable.get(table).map(keys => () => named(batchId, s"merge $table")(
        mergeTable(table, keys, current.filter(col("__table") === table).drop("__table"),
          buckets.flatten.sorted)))
    }
    runConcurrently(batchId, lateWrite ++ merges)
    // advance the high-water mark only after the batch fully merged
    val newHwm: Option[Long] =
      (prevHwm.toList ::: batchMax.toList).reduceOption(_ max _)
    newHwm.foreach(v => writeHwm(v))
  }

  /** Runs `body` with its Spark jobs named `cdc batch <id>: <what>`, the
    * call site the UI, listeners and trace spans show for each job and
    * stage. Both forms are set: with the long form unset, Spark would
    * take a stack trace for every RDD and SQL execution it creates.
    * The thread's previous call site is restored afterwards: on the
    * stream thread it is the query's `start` site, and a name left
    * there would stick to every later job of the stream. The concurrent
    * writes call it on their pool thread, inside the write. */
  private def named[T](batchId: Long, what: String)(body: => T): T = {
    val sc = spark.sparkContext
    val keys = Seq("callSite.short", "callSite.long")
    val saved = keys.map(sc.getLocalProperty)
    keys.foreach(sc.setLocalProperty(_, s"cdc batch $batchId: $what"))
    try body finally keys.zip(saved).foreach { case (k, v) => sc.setLocalProperty(k, v) }
  }

  /** Merge one table's current rows, rewriting only `touched`, the
    * buckets their keys hash into; every data column is a partial update. */
  private def mergeTable(table: String, keys: Seq[String], updates: DataFrame,
      touched: Seq[Int]): Unit =
    graft.util.BucketedTable.merge(spark, tablePath(table), updates, keys, ordCol,
      deleteCol, updates.columns.filterNot(c => keys.contains(c) || c == ordCol ||
        c == deleteCol).toSeq, warehouseBuckets, touched)

  /** Runs a batch's independent writes at once, on a pool of one thread
    * per write that lives for this call. Each write goes through
    * `SQLExecution.withThreadLocalCaptured`, so its jobs carry the batch
    * thread's local properties and job tags (the stream's job group and
    * batch id: stopping the query cancels them). Every write is awaited
    * before the first failure is rethrown, and an interrupt stops the
    * pool and waits for its threads, so a retry never overlaps an
    * earlier attempt and the batch's storage is never released under a
    * running write. */
  private[cdc] def runConcurrently(batchId: Long, writes: Seq[() => Unit]): Unit =
    if (writes.nonEmpty) {
      val session = spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession]
      val named = new AtomicInteger()
      val pool = Executors.newFixedThreadPool(writes.size, (r: Runnable) =>
        new Thread(r, s"cdc-batch-$batchId-write-${named.incrementAndGet()}"))
      try {
        val futures = writes.map(w => SQLExecution.withThreadLocalCaptured(session, pool)(w()))
        val failures = futures.flatMap { f =>
          try { f.get(); None }
          catch { case e: ExecutionException => Some(e.getCause) }
        }
        failures.headOption.foreach(e => throw e)
      } finally {
        // a no-op once every write is done; on an interrupt it stops them
        pool.shutdownNow()
        pool.awaitTermination(Long.MaxValue, TimeUnit.NANOSECONDS)
      }
    }

  /** V1–V6 as a pre-merge gate (SURVEY §7.4.4): a Spark stream fixes its
    * schema at start, so an envelope-schema change must pass the compat
    * check and register BEFORE the stream starts — incompatible changes
    * block with the issue list (the reference's registry
    * block-and-alert flow, data-model.md:547-565) instead of silently
    * corrupting the sink. */
  def gateSchema(store: graft.schemaevo.SchemaStore, subject: String,
      avroSchemaJson: String): Unit =
    store.register(subject, avroSchemaJson) match {
      case Left(issues) => throw new IllegalStateException(
        s"schema change for '$subject' blocked: ${issues.mkString("; ")}")
      case Right(_) => ()
    }

  /** Wire the full streaming pipeline onto a raw JSON-line stream and
    * return the one query it starts (checkpoint `$checkpointDir/merge`);
    * dead letters land in `warehouseDir/_dlq/batch_id=<id>`. When
    * `schemaGate` is given, the envelope's Avro schema must pass the
    * registry compat check first.
    *
    * Upgrading a checkpoint from the two-query layout: the `merge`
    * offsets stay valid (same source), and the old `$checkpointDir/_dlq`
    * is orphaned. A `_dlq` written by the old streaming file sink is
    * rejected, since Spark would read it through its `_spark_metadata`
    * log and hide every `batch_id=` directory; move it aside first. */
  def start(raw: DataFrame, envelopeSchema: StructType,
      trigger: Trigger = Trigger.AvailableNow(),
      schemaGate: Option[(graft.schemaevo.SchemaStore, String, String)] = None)
      : StreamingQuery = {
    val legacyDlq = Paths.get(s"$warehouseDir/_dlq/_spark_metadata")
    require(!Files.exists(legacyDlq), s"$warehouseDir/_dlq holds a streaming " +
      s"file-sink log ($legacyDlq); move that dead-letter directory aside")
    schemaGate.foreach { case (store, subject, avroJson) =>
      gateSchema(store, subject, avroJson)
    }
    // S8: PERMISSIVE keeps a line that fails the envelope schema as a
    // row, its payload in `_corrupt_record` and every other column NULL
    raw.select(from_json(col("value"), envelopeSchema.add("_corrupt_record", "string"),
        Map("mode" -> "PERMISSIVE", "columnNameOfCorruptRecord" -> "_corrupt_record"))
        .as("r")).select("r.*")
      .writeStream
      .option("checkpointLocation", s"$checkpointDir/merge")
      .trigger(trigger)
      .foreachBatch { (b: DataFrame, id: Long) => replicateBatch(b, id) }
      .start()
  }
}
