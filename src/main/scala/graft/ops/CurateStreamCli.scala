package graft.ops

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger
import org.apache.spark.sql.types.{LongType, StringType, StructField, StructType, TimestampType}

import graft.observe.CdcQueryListener

/** Streaming ingest-curation launcher — the ops entry point that wires
  * [[CurateCli.curateStream]] (exact-dedup + language + quality gates)
  * and [[graft.text.StreamingNearDedup]] (cross-batch near-dup
  * flagging) into a drivable, restartable pipeline, the way
  * [[CdcReplicateCli]] does for replication (reference CLI contract:
  * specs/001-scylla-pg-cdc/contracts/reconciliation-cli.yaml:36-59).
  *
  *   runMain graft.ops.CurateStreamCli \
  *     --input <dir of JSON doc lines {doc_id, ts, text}> \
  *     --output <landing-zone parquet dir> \
  *     --candidates <near-dup side-table parquet dir> \
  *     --checkpoint <dir> \
  *     [--min-quality 0.5] [--languages en] [--threshold 0.8] \
  *     [--shingle-k 3] [--watermark "1 hour"] \
  *     [--max-per-bucket 1000] [--state-ttl-ms 0] \
  *     [--eval <parquet of eval docs — ingest-time decontamination>] \
  *     [--decontaminate-k 8] [--decontaminate-min-hits 1] \
  *     [--bigram-model <parquet [[graft.text.TextAnalysis.bigramLmModel]]
  *       snapshot> --max-bigram-xent-micro <gate, micro-nats/bigram> —
  *       ingest-time CCNet perplexity filter against the broadcast
  *       reference LM] \
  *     [--quality-pct-table <parquet [[graft.text.TextAnalysis
  *       .qualityPctThresholds]] snapshot> — ingest-time per-source
  *       percentile quality gate against the batch calibration; docs
  *       whose source has no calibration row pass] \
  *     [--state-store rocksdb|hdfs|<provider class>]
  *
  * NOTE: `--shingle-k` tunes the near-dup LSH shingles only; eval
  * shingling is governed by `--decontaminate-k` (short eval texts under
  * that many tokens fall back to one whole-text shingle).
  *
  * Two queries, each with its own checkpoint subdirectory: the landing
  * query appends curated docs to `--output`; the candidate query
  * appends `(doc_id, dup_of, band, est_jaccard)` rows to
  * `--candidates` whenever an arrival is near-identical to a document
  * seen in ANY earlier micro-batch — including earlier RUNS, because
  * the LSH bucket state lives in the checkpoint and restores on
  * restart. Without `--eval`/`--bigram-model` both queries read the
  * gated input stream; with either, the landing query applies that
  * gate per micro-batch (foreachBatch — decontamination, then the
  * perplexity gate) and the candidate query streams FROM the clean
  * landing zone (bronze → silver), so gate-dropped docs never enter
  * the LSH state and can never orphan a survivorship decision. Trigger.AvailableNow (drain-then-stop) makes the same
  * entry point serve first-load and incremental invocations;
  * re-running after new files arrive processes only the delta (ST3
  * semantics). Batch survivorship ([[graft.text.Dedup.dedupByPairs]])
  * then consumes the side-table without re-scanning the corpus.
  *
  * Prints one JSON metrics line per query (rows in/out via the
  * [[CdcQueryListener]] registry) and a final summary line.
  */
object CurateStreamCli {

  final case class StreamConfig(
      input: String,
      output: String,
      candidates: String,
      checkpoint: String,
      curate: CurateCli.Config = CurateCli.Config(),
      watermark: String = "1 hour",
      maxPerBucket: Int = 1000,
      stateTtlMs: Long = 0L,
      evalPath: Option[String] = None,
      bigramModelPath: Option[String] = None,
      qualityPctTablePath: Option[String] = None,
      stateStore: Option[String] = None)

  final case class Summary(landed: Long, flagged: Long)

  /** Envelope schema for the input JSON lines. `source` is optional
    * (missing → null): it exists for the per-source percentile quality
    * gate (`--quality-pct-table`); all other gates ignore it. */
  val inputSchema: StructType = StructType(Seq(
    StructField("doc_id", LongType),
    StructField("ts", TimestampType),
    StructField("text", StringType),
    StructField("source", StringType)))

  /** Run both queries to drain (AvailableNow) against the session and
    * return total rows landed / candidates flagged ACROSS ALL RUNS of
    * this checkpoint (counted from the output tables, so restarts
    * accumulate — the e2e restart test pins exactly that). At 100-TB
    * ingest the per-(band,bucket) LSH state outgrows executor heaps —
    * `--state-store rocksdb` moves it off-heap with changelog
    * checkpointing ([[StateStores]]). */
  def run(spark: SparkSession, cfg: StreamConfig): Summary =
    StateStores.withProvider(spark, cfg.stateStore)(doRun(spark, cfg))

  private def doRun(spark: SparkSession, cfg: StreamConfig): Summary = {
    // the two eval modes write the landing zone with DIFFERENT sink
    // kinds (streaming file sink with a _spark_metadata log vs plain
    // foreachBatch appends). Mixing them in one directory makes one
    // mode's files invisible to every reader (the metadata log wins and
    // hides unlisted parts) — refuse up front rather than silently
    // losing output. The check goes through the Hadoop FileSystem API,
    // NOT java.io.File: the output is routinely an hdfs:// or s3a://
    // URI, where a local-File probe is always false and the guard would
    // fail open into exactly the loss it exists to refuse.
    val hconf = spark.sparkContext.hadoopConfiguration
    val outPath = new org.apache.hadoop.fs.Path(cfg.output)
    val fs = outPath.getFileSystem(hconf)
    val hasSinkLog = fs.exists(
      new org.apache.hadoop.fs.Path(outPath, "_spark_metadata"))
    // --eval and --bigram-model both land through foreachBatch (plain
    // appends) rather than the streaming file sink
    val usesBatchSink = cfg.evalPath.isDefined ||
      cfg.bigramModelPath.isDefined || cfg.qualityPctTablePath.isDefined
    // switching modes also needs a fresh source checkpoint — the old one
    // has committed the already-ingested files' offsets, so a fresh
    // output alone would silently drain zero rows into it
    val remedy = "Use a fresh --output AND a fresh --checkpoint " +
      "(the old checkpoint has already committed the ingested files, so " +
      "a fresh output alone would stay empty)."
    if (usesBatchSink && hasSinkLog)
      throw new IllegalStateException(
        s"${cfg.output} was written by a plain run (streaming file " +
          "sink); --eval/--bigram-model/--quality-pct-table appends " +
          s"would be invisible behind its _spark_metadata log. $remedy")
    if (!usesBatchSink && !hasSinkLog && fs.exists(outPath) &&
        fs.listStatus(outPath).exists(_.getPath.getName.endsWith(".parquet")))
      throw new IllegalStateException(
        s"${cfg.output} holds --eval/--bigram-model-mode appends; a " +
          "streaming file sink would hide them behind its " +
          s"_spark_metadata log. $remedy")

    def source() = spark.readStream.schema(inputSchema)
      .option("maxFilesPerTrigger", 1) // backpressure: bounded micro-batches
      .json(cfg.input)

    val gated = CurateCli.curateStream(source(), "text", "ts",
      cfg.curate, cfg.watermark)
    // batch-side tables built ONCE before the stream starts and released
    // after the landing drain — maxFilesPerTrigger=1 means one batch per
    // input file, and rebuilding either per file is pure waste
    val pinned = scala.collection.mutable.ListBuffer.empty[DataFrame]
    def pin(df: DataFrame): DataFrame = {
      val p = df.persist()
      p.count() // materialize before the stream starts
      pinned += p
      p
    }
    val landingWriter =
      if (!usesBatchSink)
        gated.writeStream.format("parquet").option("path", cfg.output)
      else {
        // INGEST-TIME decontamination: doc-level "shares any eval
        // shingle" cannot be one stream-static join (an anti join on
        // exploded shingles drops shingle ROWS, not whole docs), so the
        // idiomatic shape is foreachBatch — each micro-batch runs the
        // batch decontaminate kernel (broadcast eval semi-join, one
        // pass), then appends. Source checkpoint still bounds
        // reprocessing; appends are at-least-once on crash-retry, like
        // any foreachBatch sink.
        val evalShingles = cfg.evalPath.map(evalDir => pin(graft.text.Dedup.evalShingleSet(
          spark.read.parquet(evalDir), "text", cfg.curate.decontaminateK)))
        // INGEST-TIME perplexity gate (the stream-side q108/CCNet
        // parity): arriving docs score against a broadcast
        // bigramLmModel SNAPSHOT — a micro-batch is not a corpus, so
        // the reference LM must come from outside the stream. Same gate
        // rule as the batch funnel stage: cross-multiplied integers,
        // bigram-less docs carry no evidence and pass.
        val model = cfg.bigramModelPath.map(p => pin(spark.read.parquet(p)))
        // INGEST-TIME per-source percentile quality gate (the
        // stream-side quality_pct parity): a micro-batch cannot rank a
        // doc against the whole corpus, so arriving docs gate against a
        // batch-calibrated [[graft.text.TextAnalysis
        // .qualityPctThresholds]] SNAPSHOT — per-source minimum
        // quality_e6, broadcast. Unknown/null sources carry no
        // calibration and pass (same no-evidence-no-drop rule as the
        // perplexity gate).
        val pctTable = cfg.qualityPctTablePath.map(p => pin(spark.read.parquet(p)
          .select(col("source").as("__src"),
            col("min_quality_e6").cast("long").as("__minq"))))
        gated.writeStream.foreachBatch {
          (batch: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row],
              _: Long) =>
            val decon = evalShingles match {
              case Some(es) => graft.text.Dedup.decontaminateAgainst(batch,
                es, "doc_id", "text", k = cfg.curate.decontaminateK,
                minHits = cfg.curate.decontaminateMinHits)
              case None => batch.toDF()
            }
            val scored = model match {
              case Some(m) =>
                val tooSurprising = graft.text.TextAnalysis
                  .bigramLmScoresAgainstModel(decon, "doc_id", "text", m)
                  .filter(col("nll_fp") >
                    lit(cfg.curate.maxBigramXentMicro) * col("n_bigrams"))
                  .select(col("doc_id"))
                decon.join(tooSurprising, Seq("doc_id"), "left_anti")
              case None => decon
            }
            val out = pctTable match {
              case Some(t) =>
                scored.join(broadcast(t),
                    scored("source") === t("__src"), "left")
                  .filter(col("__minq").isNull ||
                    graft.text.TextAnalysis.qualityScoreE6(col("text"),
                      graft.text.TextAnalysis.LangProfiles("en")) >=
                      col("__minq"))
                  .drop("__src", "__minq")
              case None => scored
            }
            out.write.mode("append").parquet(cfg.output)
        }
      }
    val landing = landingWriter.queryName("curate-landing")
      .option("checkpointLocation", s"${cfg.checkpoint}/landing")
      .trigger(Trigger.AvailableNow())
      .start()

    // Candidate flagging must only ever see docs that LANDED: feeding it
    // the raw gated stream would store decontamination-dropped docs in
    // the LSH state, and a later clean near-dup would be flagged against
    // a doc that exists nowhere — batch survivorship would then drop the
    // clean copy too, silently losing the content entirely. In --eval
    // mode the candidates query therefore streams FROM the clean landing
    // zone (the standard bronze→silver chaining); it starts after the
    // landing drain so the files exist, and its own checkpoint tracks
    // which landed files it has processed across runs.
    val candSource: org.apache.spark.sql.DataFrame =
      // a streaming DataFrame can back multiple queries (each plans its
      // own source instance) — reuse `gated` rather than duplicating its
      // construction, so the landing zone and the LSH state can never
      // silently diverge about which gates apply
      if (!usesBatchSink) gated
      else {
        landing.awaitTermination()
        pinned.foreach(_.unpersist(blocking = false))
        spark.readStream.schema(gated.schema)
          .option("maxFilesPerTrigger", 1).parquet(cfg.output)
      }
    val cands = graft.text.StreamingNearDedup.candidates(candSource,
        "doc_id", "text", k = cfg.curate.shingleK,
        numHashes = cfg.curate.numHashes, bands = cfg.curate.bands,
        threshold = cfg.curate.jaccardThreshold,
        maxPerBucket = cfg.maxPerBucket, stateTtlMs = cfg.stateTtlMs)
      .writeStream.queryName("curate-candidates")
      .format("parquet").option("path", cfg.candidates)
      .option("checkpointLocation", s"${cfg.checkpoint}/candidates")
      .trigger(Trigger.AvailableNow())
      .start()

    landing.awaitTermination()
    cands.awaitTermination()

    // a run that landed nothing legitimately leaves no parquet behind —
    // only THAT case maps to zero; a corrupt/unreadable output must
    // surface, not masquerade as "pipeline drained, nothing new"
    def hasParquet(dir: String): Boolean = {
      // listFiles returns NULL (not empty) on IO errors or if the dir
      // vanishes between the two calls — treat both as "no output yet"
      val d = new java.io.File(dir)
      d.isDirectory && Option(d.listFiles())
        .exists(_.exists(_.getName.endsWith(".parquet")))
    }
    val landed =
      if (hasParquet(cfg.output)) spark.read.parquet(cfg.output).count() else 0L
    // the side-table is band-level append-only (one row per agreeing LSH
    // band); the summary reports DISTINCT flagged pairs — the unit batch
    // survivorship consumes
    val flagged =
      if (hasParquet(cfg.candidates))
        spark.read.parquet(cfg.candidates)
          .select("doc_id", "dup_of").distinct().count()
      else 0L
    Summary(landed, flagged)
  }

  def parseArgs(args: Array[String]): Either[String, StreamConfig] = {
    var input = ""; var output = ""; var candidates = ""; var checkpoint = ""
    var curate = CurateCli.Config()
    var watermark = "1 hour"; var maxPerBucket = 1000; var stateTtlMs = 0L
    var evalPath: Option[String] = None
    var bigramModelPath: Option[String] = None
    var qualityPctTablePath: Option[String] = None
    var stateStore: Option[String] = None
    var i = 0
    try {
      while (i < args.length) {
        args(i) match {
          case "--input" => input = args(i + 1); i += 2
          case "--output" => output = args(i + 1); i += 2
          case "--candidates" => candidates = args(i + 1); i += 2
          case "--checkpoint" => checkpoint = args(i + 1); i += 2
          case "--min-quality" =>
            curate = curate.copy(minQuality = args(i + 1).toDouble); i += 2
          case "--languages" =>
            curate = curate.copy(languages = args(i + 1).split(",").toSet); i += 2
          case "--threshold" =>
            curate = curate.copy(jaccardThreshold = args(i + 1).toDouble); i += 2
          case "--shingle-k" =>
            curate = curate.copy(shingleK = args(i + 1).toInt); i += 2
          case "--watermark" => watermark = args(i + 1); i += 2
          case "--max-per-bucket" => maxPerBucket = args(i + 1).toInt; i += 2
          case "--state-ttl-ms" => stateTtlMs = args(i + 1).toLong; i += 2
          case "--eval" => evalPath = Some(args(i + 1)); i += 2
          case "--bigram-model" => bigramModelPath = Some(args(i + 1)); i += 2
          case "--quality-pct-table" =>
            qualityPctTablePath = Some(args(i + 1)); i += 2
          case "--max-bigram-xent-micro" =>
            curate = curate.copy(maxBigramXentMicro = args(i + 1).toLong); i += 2
          case "--state-store" => stateStore = Some(args(i + 1)); i += 2
          case "--decontaminate-k" =>
            curate = curate.copy(decontaminateK = args(i + 1).toInt); i += 2
          case "--decontaminate-min-hits" =>
            curate = curate.copy(decontaminateMinHits = args(i + 1).toInt); i += 2
          case other => return Left(s"unknown flag '$other'")
        }
      }
    } catch {
      case _: ArrayIndexOutOfBoundsException => return Left("flag missing its value")
      case e: NumberFormatException => return Left(s"bad numeric value: ${e.getMessage}")
    }
    if (input.isEmpty || output.isEmpty || candidates.isEmpty || checkpoint.isEmpty)
      Left("--input, --output, --candidates, --checkpoint required")
    else if (bigramModelPath.isDefined && curate.maxBigramXentMicro <= 0L)
      Left("--bigram-model requires --max-bigram-xent-micro > 0 (the gate threshold)")
    else if (bigramModelPath.isEmpty && curate.maxBigramXentMicro > 0L)
      Left("--max-bigram-xent-micro requires --bigram-model (the reference LM snapshot)")
    else Right(StreamConfig(input, output, candidates, checkpoint, curate,
      watermark, maxPerBucket, stateTtlMs, evalPath, bigramModelPath,
      qualityPctTablePath, stateStore))
  }

  def main(args: Array[String]): Unit = {
    val cfg = parseArgs(args) match {
      case Left(err) => System.err.println(s"[config] $err"); sys.exit(10)
      case Right(c) => c
    }
    val spark = graft.util.Sessions.local("graft-curate-stream")
    val listener = new CdcQueryListener()
    spark.streams.addListener(listener)
    val summary =
      try { val s = run(spark, cfg); listener.settle(); s }
      finally spark.streams.removeListener(listener)

    // per-query input-row totals from the listener registry — the same
    // observability surface the CDC CLI exposes (M3/ST10)
    val snap = listener.registry.snapshot(spark)
      .filter("metric like 'cdc_records_replicated_total%'")
      .select("metric", "value")
      .collect()
    snap.foreach(r => println(
      s"""{"metric": "${r.getString(0)}", "value": ${r.getDouble(1)}}"""))
    println(s"""{"landed": ${summary.landed}, "candidates": ${summary.flagged}}""")
    spark.stop()
  }
}
