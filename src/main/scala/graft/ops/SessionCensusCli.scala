package graft.ops

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger
import org.apache.spark.sql.types.{LongType, StringType, StructField, StructType, TimestampType}

import graft.analytics.StreamingAnalytics
import graft.observe.CdcQueryListener

/** Streaming event-census launcher — the ops entry point that wires
  * the session-census stream family
  * ([[StreamingAnalytics.sessionCensusStream]], optionally
  * [[StreamingAnalytics.abandonmentStream]]) into a drivable,
  * restartable pipeline, the way [[CurateStreamCli]] does for ingest
  * curation:
  *
  *   runMain graft.ops.SessionCensusCli \
  *     --input <dir of JSON event lines {user_id, event_id, ts, event_type}> \
  *     --sessions <closed-session parquet dir> \
  *     --checkpoint <dir> \
  *     [--gap-sec 1800] [--watermark "10 minutes"] \
  *     [--verdicts <abandonment parquet dir> --from view --to purchase \
  *       --window-sec 3600] \
  *     [--funnels <funnel-session parquet dir> \
  *       --funnel-steps view,click,purchase] \
  *     [--growth <growth-event parquet dir>] \
  *     [--paths <session-path parquet dir>] \
  *     [--transitions <transition-edge parquet dir>] \
  *     [--state-store rocksdb|hdfs|<provider class>] \
  *     [--max-stamps 100000]   # per-open-session stamp-buffer cap for
  *                             # the paths/funnel censuses (truncated
  *                             # paths carry a trailing `>…` marker)
  *
  * State-schema note: the paths/funnel state rows gained a truncation
  * flag when the cap landed (round 17). Spark's state store validates
  * the schema on restore and fails loudly on a checkpoint written by
  * the pre-cap build — resume those censuses from a fresh checkpoint
  * (the parquet output tables carry everything already emitted). The
  * FUNNEL census additionally gained a `truncated` OUTPUT column:
  * point the resumed census at a fresh --funnels dir too, or read a
  * mixed old+new dir with `mergeSchema` and
  * `coalesce(col("truncated"), lit(false))` — appending 6-column files
  * next to 5-column ones otherwise leaves pre-upgrade rows reading
  * `truncated` as null, which a `filter(!col("truncated"))` silently
  * drops.
  *
  * One streaming query per census, each with its own checkpoint
  * subdirectory and parquet append sink. `Trigger.AvailableNow`
  * (drain-then-stop) makes the same entry point serve first-load and
  * incremental invocations; re-running after new files arrive
  * processes only the delta, and — because the per-user session/verdict
  * STATE lives in the checkpoint — an open session from one run chains
  * with events that arrive in a later run, exactly as it would under a
  * continuously-running stream (the restart test pins this).
  *
  * After the drain the CLI prints the batch-parity rollups over the
  * ACCUMULATED output tables as JSON lines — the bounce census
  * ([[StreamingAnalytics.sessionBounceRollup]], == batch q236 on the
  * ripe prefix) and, when enabled, the abandonment census
  * ([[StreamingAnalytics.abandonmentRollup]], == batch q241), the
  * funnel report ([[StreamingAnalytics.sessionFunnelRollup]], == batch
  * q186), the growth accounting
  * ([[StreamingAnalytics.growthRollup]], == batch q219), the top
  * session paths ([[StreamingAnalytics.sessionPathsRollup]], == batch
  * q197), and the transition matrix
  * ([[StreamingAnalytics.transitionsRollup]], == batch q137) — plus a
  * final summary line with every census's row count.
  *
  * Scale shape: state per user is open-sessions + horizon-purged
  * stamps (never history); the rollups are vocabulary-bounded / 1-row
  * folds over the closed-session tables, so the print is driver-safe
  * at any scale.
  */
object SessionCensusCli {

  final case class CensusConfig(
      input: String,
      sessions: String,
      checkpoint: String,
      gapSec: Long = 1800L,
      watermark: String = "10 minutes",
      verdicts: Option[String] = None,
      fromType: String = "view",
      toType: String = "purchase",
      windowSec: Long = 3600L,
      funnels: Option[String] = None,
      funnelSteps: Seq[String] = Nil,
      growth: Option[String] = None,
      paths: Option[String] = None,
      transitions: Option[String] = None,
      stateStore: Option[String] = None,
      maxStamps: Int = StreamingAnalytics.DefaultMaxStamps)

  final case class Summary(closedSessions: Long, verdictCount: Long,
      funnelSessions: Long = 0L, growthEvents: Long = 0L,
      pathSessions: Long = 0L, transitionEdges: Long = 0L)

  /** Envelope schema for the input JSON lines. */
  val inputSchema: StructType = StructType(Seq(
    StructField("user_id", LongType),
    StructField("event_id", LongType),
    StructField("ts", TimestampType),
    StructField("event_type", StringType)))

  /** Drain both censuses (AvailableNow) and return totals ACROSS ALL
    * RUNS of this checkpoint (counted from the output tables, so
    * restarts accumulate). `listener` is attached for the drain only;
    * pass one in to read its registry afterwards. */
  def run(spark: SparkSession, cfg: CensusConfig,
      listener: CdcQueryListener = new CdcQueryListener()): Summary =
    StateStores.withProvider(spark, cfg.stateStore)(doRun(spark, cfg, listener))

  /** JSON string literal for the rollup print lines — interpolating a
    * raw value would break the machine-readable contract on a quote or
    * backslash in an event type / step name (and render null unquoted). */
  private def jstr(v: String): String =
    if (v == null) "null"
    else "\"" + v.replace("\\", "\\\\").replace("\"", "\\\"") + "\""

  /** True when `dir` already holds parquet rows WITHOUT the funnel's
    * `truncated` column — a pre-upgrade (5-column) output. Appending
    * 6-column files into such a dir makes later readers see the old
    * rows' `truncated` as null, which `filter(!col("truncated"))`
    * silently drops — so [[doRun]] refuses at startup instead of
    * relying on the scaladoc migration note. An absent or empty dir is
    * a fresh output, not a legacy one — ONLY those (AnalysisException:
    * path-not-found / unable-to-infer-schema) read as fresh; any other
    * read error propagates, because treating a corrupt-but-legacy dir
    * as fresh would bypass the guard into exactly the corruption it
    * prevents. */
  private[ops] def legacyFunnelDir(spark: SparkSession, dir: String): Boolean =
    try !spark.read.parquet(dir).schema.fieldNames.contains("truncated")
    catch { case _: org.apache.spark.sql.AnalysisException => false }

  /** Startup refusal for a pre-upgrade --funnels dir; mapped to the
    * [config]/exit-10 contract by [[main]]. */
  final class LegacyFunnelDirException(dir: String)
    extends IllegalArgumentException(
      s"--funnels dir $dir holds pre-upgrade funnel rows without the " +
        "'truncated' column; appending would mix 5/6-column files whose " +
        "old rows read truncated as null and get silently dropped by " +
        "filters. Point --funnels at a fresh dir, or migrate the old one " +
        "(read with mergeSchema, coalesce(truncated, false), rewrite).")

  private def doRun(spark: SparkSession, cfg: CensusConfig,
      listener: CdcQueryListener): Summary = {
    // refuse a pre-upgrade funnel output BEFORE any query starts (and
    // before any checkpoint mutation) — see LegacyFunnelDirException
    cfg.funnels.foreach { dir =>
      if (legacyFunnelDir(spark, dir)) throw new LegacyFunnelDirException(dir)
    }
    // each query plans its OWN source instance off a fresh readStream —
    // maxFilesPerTrigger=1 keeps micro-batches bounded (backpressure)
    def source() = spark.readStream.schema(inputSchema)
      .option("maxFilesPerTrigger", 1)
      .json(cfg.input)

    // state maxima tracked through a listener, NOT recentProgress —
    // one-file micro-batches overflow its 100-entry ring on any real
    // drain and would silently under-report a mid-run peak. The
    // listener must come off the shared session on EVERY exit path
    // (including a .start() that throws before the await block), or an
    // embedded caller's repeated runs accumulate orphans — hence the
    // try/finally spanning start-to-telemetry.
    spark.streams.addListener(listener)
    val censusNames = Set("session-census", "abandonment-verdicts",
      "session-funnel", "growth-accounting", "session-paths",
      "journey-transitions")
    try {

    val gapUs = cfg.gapSec * 1000000L
    val sessions = StreamingAnalytics.sessionCensusStream(source(),
        "user_id", "event_type", "ts", "event_id", gapUs, cfg.watermark)
      .toDF()
      .writeStream.queryName("session-census")
      .format("parquet").option("path", cfg.sessions)
      .option("checkpointLocation", s"${cfg.checkpoint}/sessions")
      .trigger(Trigger.AvailableNow())
      .start()
    val verdictQ = cfg.verdicts.map { dir =>
      StreamingAnalytics.abandonmentStream(source(), "user_id",
          "event_type", "ts", "event_id", cfg.fromType, cfg.toType,
          cfg.windowSec * 1000000L, cfg.watermark)
        .toDF()
        .writeStream.queryName("abandonment-verdicts")
        .format("parquet").option("path", dir)
        .option("checkpointLocation", s"${cfg.checkpoint}/verdicts")
        .trigger(Trigger.AvailableNow())
        .start()
    }
    val funnelQ = cfg.funnels.map { dir =>
      StreamingAnalytics.sessionFunnelStream(source(), "user_id",
          "event_type", "ts", cfg.funnelSteps, gapUs, cfg.watermark,
          cfg.maxStamps)
        .toDF()
        .writeStream.queryName("session-funnel")
        .format("parquet").option("path", dir)
        .option("checkpointLocation", s"${cfg.checkpoint}/funnels")
        .trigger(Trigger.AvailableNow())
        .start()
    }
    val growthQ = cfg.growth.map { dir =>
      StreamingAnalytics.growthAccountingStream(source(), "user_id",
          "ts", cfg.watermark)
        .toDF()
        .writeStream.queryName("growth-accounting")
        .format("parquet").option("path", dir)
        .option("checkpointLocation", s"${cfg.checkpoint}/growth")
        .trigger(Trigger.AvailableNow())
        .start()
    }
    val pathsQ = cfg.paths.map { dir =>
      StreamingAnalytics.sessionPathsStream(source(), "user_id",
          "event_type", "ts", "event_id", gapUs, cfg.watermark,
          cfg.maxStamps)
        .toDF()
        .writeStream.queryName("session-paths")
        .format("parquet").option("path", dir)
        .option("checkpointLocation", s"${cfg.checkpoint}/paths")
        .trigger(Trigger.AvailableNow())
        .start()
    }
    val transQ = cfg.transitions.map { dir =>
      StreamingAnalytics.transitionsStream(source(), "user_id",
          "event_type", "ts", "event_id", cfg.watermark)
        .toDF()
        .writeStream.queryName("journey-transitions")
        .format("parquet").option("path", dir)
        .option("checkpointLocation", s"${cfg.checkpoint}/transitions")
        .trigger(Trigger.AvailableNow())
        .start()
    }
    // a failed drain must not leak the OTHER queries onto the shared
    // session (embedded callers would inherit background writers, and
    // main() would never reach spark.stop()): stop every query this
    // run started before rethrowing
    try {
      sessions.awaitTermination()
      verdictQ.foreach(_.awaitTermination())
      funnelQ.foreach(_.awaitTermination())
      growthQ.foreach(_.awaitTermination())
      pathsQ.foreach(_.awaitTermination())
      transQ.foreach(_.awaitTermination())
    } catch { case t: Throwable =>
      (Seq(sessions) ++ verdictQ ++ funnelQ ++ growthQ ++ pathsQ ++
        transQ).foreach(q =>
        try q.stop() catch { case _: Exception => () })
      throw t
    }

    // per-census state-store telemetry over EVERY micro-batch of this
    // run: max keys in state (must track user cardinality, never event
    // volume — the documented bound of every census operator) and max
    // provider-reported memory (grows only with the in-window buffered
    // rate; the paths/funnel buffers additionally sit under
    // --max-stamps). The same numbers ScaleBench's decade rows pin at
    // 10×/16× volume, surfaced here so an operator can watch the
    // bound hold in production.
    listener.settle() // async bus — drain before reading
    (Seq(sessions) ++ verdictQ ++ funnelQ ++ growthQ ++ pathsQ ++ transQ)
      .foreach { q =>
        listener.maxFor(q.name).foreach { case (k, b) =>
          println(s"""{"state": ${jstr(q.name)}, """ +
            s""""max_keys": $k, "max_bytes": $b}""")
        }
      }

    } catch { case t: Throwable =>
      // a START failure (unwritable checkpoint, bad watermark string)
      // leaves earlier queries running with no handles in scope; query
      // names are session-unique, so stopping this run's census names
      // is safe and idempotent with the inner stop
      spark.streams.active.filter(q => censusNames(q.name)).foreach(q =>
        try q.stop() catch { case _: Exception => () })
      throw t
    } finally spark.streams.removeListener(listener)

    // a run that closed nothing legitimately leaves no parquet behind —
    // only THAT case maps to zero (the CurateStreamCli rule)
    def hasParquet(dir: String): Boolean = {
      val d = new java.io.File(dir)
      d.isDirectory && Option(d.listFiles())
        .exists(_.exists(_.getName.endsWith(".parquet")))
    }
    val nSessions =
      if (hasParquet(cfg.sessions)) {
        val closed = spark.read.parquet(cfg.sessions)
        // the batch-parity bounce census over EVERYTHING closed so far
        // (vocabulary-bounded — driver-safe to print)
        StreamingAnalytics.sessionBounceRollup(closed).collect().foreach(r =>
          println(s"""{"census": "bounce", "entry_type": ${jstr(r.getString(0))}, """ +
            s""""n_sessions": ${r.getLong(1)}, "n_bounces": ${r.getLong(2)}, """ +
            s""""bounce_ppm": ${r.getLong(3)}}"""))
        closed.count()
      } else 0L
    val nVerdicts = cfg.verdicts match {
      case Some(dir) if hasParquet(dir) =>
        val v = spark.read.parquet(dir)
        val n = v.count()
        // the one-row fold over ZERO verdicts is a row of NULL sums
        // (the batch operator's own empty-input shape — a drained run
        // may leave empty part files behind); print only a real census
        if (n > 0)
          StreamingAnalytics.abandonmentRollup(v).collect().foreach(r =>
            println(s"""{"census": "abandonment", "n_from_events": ${r.getLong(0)}, """ +
              s""""n_abandoned": ${r.getLong(1)}, "abandon_ppm": ${r.getLong(2)}, """ +
              s""""n_users_abandoning": ${r.getLong(3)}}"""))
        n
      case _ => 0L
    }
    val nFunnels = cfg.funnels match {
      case Some(dir) if hasParquet(dir) =>
        val fsess = spark.read.parquet(dir)
        // steps-bounded report — driver-safe to print (zero rows for
        // unreached steps included, the batch q186 shape)
        StreamingAnalytics.sessionFunnelRollup(fsess, cfg.funnelSteps)
          .collect().foreach(r =>
            println(s"""{"census": "funnel", "step": ${r.getInt(0)}, """ +
              s""""step_name": ${jstr(r.getString(1))}, "sessions": ${r.getLong(2)}, """ +
              s""""n_truncated": ${r.getLong(3)}}"""))
        fsess.count()
      case _ => 0L
    }
    val nGrowth = cfg.growth match {
      case Some(dir) if hasParquet(dir) =>
        val g = spark.read.parquet(dir)
        // calendar-bounded report — driver-safe to print
        StreamingAnalytics.growthRollup(g).collect().foreach(r =>
          println(s"""{"census": "growth", "day_num": ${r.getLong(0)}, """ +
            s""""n_new": ${r.getLong(1)}, "n_retained": ${r.getLong(2)}, """ +
            s""""n_resurrected": ${r.getLong(3)}, "n_churned": ${r.getLong(4)}}"""))
        g.count()
      case _ => 0L
    }
    val nPaths = cfg.paths match {
      case Some(dir) if hasParquet(dir) =>
        val pth = spark.read.parquet(dir)
        // top-20 census — k-bounded, driver-safe to print
        StreamingAnalytics.sessionPathsRollup(pth).collect().foreach(r =>
          println(s"""{"census": "paths", "path": ${jstr(r.getString(0))}, """ +
            s""""n_sessions": ${r.getLong(1)}}"""))
        pth.count()
      case _ => 0L
    }
    val nTrans = cfg.transitions match {
      case Some(dir) if hasParquet(dir) =>
        val tr = spark.read.parquet(dir)
        // types²-bounded matrix — driver-safe to print
        StreamingAnalytics.transitionsRollup(tr).collect().foreach(r =>
          println(s"""{"census": "transitions", "from_type": ${jstr(r.getString(0))}, """ +
            s""""to_type": ${jstr(r.getString(1))}, "n_transitions": ${r.getLong(2)}}"""))
        tr.count()
      case _ => 0L
    }
    Summary(nSessions, nVerdicts, nFunnels, nGrowth, nPaths, nTrans)
  }

  def parseArgs(args: Array[String]): Either[String, CensusConfig] = {
    var input = ""; var sessions = ""; var checkpoint = ""
    var gapSec = 1800L; var watermark = "10 minutes"
    var verdicts: Option[String] = None
    var fromType = "view"; var toType = "purchase"; var windowSec = 3600L
    var funnels: Option[String] = None
    var funnelSteps: Seq[String] = Nil
    var growth: Option[String] = None
    var paths: Option[String] = None
    var transitions: Option[String] = None
    var stateStore: Option[String] = None
    var maxStamps = StreamingAnalytics.DefaultMaxStamps
    var i = 0
    try {
      while (i < args.length) {
        args(i) match {
          case "--input" => input = args(i + 1); i += 2
          case "--sessions" => sessions = args(i + 1); i += 2
          case "--checkpoint" => checkpoint = args(i + 1); i += 2
          case "--gap-sec" => gapSec = args(i + 1).toLong; i += 2
          case "--watermark" => watermark = args(i + 1); i += 2
          case "--verdicts" => verdicts = Some(args(i + 1)); i += 2
          case "--from" => fromType = args(i + 1); i += 2
          case "--to" => toType = args(i + 1); i += 2
          case "--window-sec" => windowSec = args(i + 1).toLong; i += 2
          case "--funnels" => funnels = Some(args(i + 1)); i += 2
          case "--funnel-steps" =>
            funnelSteps = args(i + 1).split(",").map(_.trim)
              .filter(_.nonEmpty).toSeq; i += 2
          case "--growth" => growth = Some(args(i + 1)); i += 2
          case "--paths" => paths = Some(args(i + 1)); i += 2
          case "--transitions" => transitions = Some(args(i + 1)); i += 2
          case "--state-store" => stateStore = Some(args(i + 1)); i += 2
          case "--max-stamps" => maxStamps = args(i + 1).toInt; i += 2
          case other => return Left(s"unknown flag '$other'")
        }
      }
    } catch {
      case _: ArrayIndexOutOfBoundsException => return Left("flag missing its value")
      case e: NumberFormatException => return Left(s"bad numeric value: ${e.getMessage}")
    }
    if (input.isEmpty || sessions.isEmpty || checkpoint.isEmpty)
      Left("--input, --sessions, --checkpoint required")
    else if (gapSec <= 0) Left("--gap-sec must be > 0")
    else if (windowSec <= 0) Left("--window-sec must be > 0")
    else if (verdicts.isDefined && fromType == toType)
      Left("--from and --to must differ")
    else if (funnels.isDefined &&
        (funnelSteps.isEmpty || funnelSteps.distinct.size != funnelSteps.size))
      Left("--funnels requires --funnel-steps with distinct, non-empty steps")
    else if (funnels.isEmpty && funnelSteps.nonEmpty)
      Left("--funnel-steps requires --funnels (the output dir)")
    else if (maxStamps < 1) Left("--max-stamps must be >= 1")
    // mirror StreamingAnalytics' own ceiling HERE so an over-large cap
    // surfaces as a [config]/exit-10 line before any query starts,
    // not as a raw IllegalArgumentException mid-launch
    else if (maxStamps > StreamingAnalytics.MaxStampsCeiling)
      Left(s"--max-stamps must be <= ${StreamingAnalytics.MaxStampsCeiling}")
    else Right(CensusConfig(input, sessions, checkpoint, gapSec, watermark,
      verdicts, fromType, toType, windowSec, funnels, funnelSteps,
      growth, paths, transitions, stateStore, maxStamps))
  }

  def main(args: Array[String]): Unit = {
    val cfg = parseArgs(args) match {
      case Left(err) => System.err.println(s"[config] $err"); sys.exit(10)
      case Right(c) => c
    }
    val spark = graft.util.Sessions.local("graft-session-census")
    // the same per-query observability surface the CDC and curation
    // CLIs expose (M3/ST10): input-row totals via the listener registry
    val listener = new CdcQueryListener()
    val summary = try run(spark, cfg, listener) catch {
      case e: LegacyFunnelDirException =>
        System.err.println(s"[config] ${e.getMessage}")
        spark.stop(); sys.exit(10)
    }
    listener.registry.snapshot(spark)
      .filter("metric like 'cdc_records_replicated_total%'")
      .select("metric", "value").collect()
      .foreach(r => println(
        s"""{"metric": "${r.getString(0)}", "value": ${r.getDouble(1)}}"""))
    println(s"""{"closed_sessions": ${summary.closedSessions}, "verdicts": ${summary.verdictCount}, "funnel_sessions": ${summary.funnelSessions}, "growth_events": ${summary.growthEvents}, "path_sessions": ${summary.pathSessions}, "transition_edges": ${summary.transitionEdges}}""")
    spark.stop()
  }
}
