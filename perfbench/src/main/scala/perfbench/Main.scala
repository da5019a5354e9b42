package perfbench

import java.lang.management.ManagementFactory
import java.nio.file.{Files, Path, Paths}

import org.apache.spark.sql.SparkSession

/** One benchmark invocation in a fresh JVM:
  *
  * {{{
  *   Main --workload <cdc_backfill|cdc_tail|query_mix> --seed <n>
  *        --seconds <s> --trace <0|1> --work <dir> --out <result.json>
  *        [--sf <corpus dir>]
  * }}}
  *
  * Runs the workload's set-up, then units of work (drains, one tail
  * window, query-mix passes) until at least `seconds` of units and the
  * workload's minimum number of units have been measured, checks every
  * unit's output, and writes one JSON result (also printed on a
  * `PERFBENCH_RESULT` line). With `--trace 1` the benchmark's own
  * listeners record spans of every unit.
  */
object Main {
  def main(args: Array[String]): Unit = {
    val opts = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    def opt(k: String) = opts.getOrElse(k, sys.error(s"missing --$k"))
    val workload = opt("workload")
    val ctx = new Ctx(
      workload = workload,
      seed = opt("seed").toLong,
      seconds = opt("seconds").toDouble,
      traced = opt("trace") == "1",
      work = Paths.get(opt("work")).toAbsolutePath,
      sfDir = opts.getOrElse("sf", ""))
    try workload match {
      case "cdc_backfill" => CdcWorkloads.backfill(ctx)
      case "cdc_tail" => CdcWorkloads.tail(ctx)
      case "query_mix" => QueryMix.run(ctx)
      case other => ctx.res.fail(1, s"unknown workload '$other'")
    } catch {
      case e: Throwable =>
        e.printStackTrace()
        ctx.res.attempted = math.max(ctx.res.attempted, 1)
        ctx.res.fail(math.max(1, ctx.res.attempted - ctx.res.failed), s"run aborted: $e")
    } finally ctx.finish(Paths.get(opt("out")))
  }
}

/** Everything one invocation shares: the session, the listeners, the
  * result being filled, and the measured-window bookkeeping. */
final class Ctx(val workload: String, val seed: Long, val seconds: Double,
    val traced: Boolean, val work: Path, val sfDir: String) {
  val cores: Int = Runtime.getRuntime.availableProcessors()
  val res = new Result(workload)
  val tracer: Option[Tracer] = if (traced) Some(new Tracer(s"$workload-seed$seed")) else None
  Files.createDirectories(work)

  val spark: SparkSession = SparkSession.builder()
    .master(s"local[$cores]")
    .appName(s"perfbench-$workload")
    .config("spark.sql.shuffle.partitions", cores.toString)
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.ui.enabled", "false")
    .config("spark.local.dir", work.resolve("spark-local").toString)
    .config("spark.sql.warehouse.dir", work.resolve("spark-warehouse").toString)
    .getOrCreate()
  spark.sparkContext.setLogLevel("ERROR")

  private val jvmStartMs = ManagementFactory.getRuntimeMXBean.getStartTime
  /** Process start until the session is built: the once-only part of
    * `setup_s`. */
  private val sessionSeconds = (System.currentTimeMillis() - jvmStartMs) / 1000.0
  log("session built")
  val progress = new Progress(tracer)
  spark.streams.addListener(progress)
  private val jobTrace = tracer.map(t => new JobTrace(t, progress.batchSpan))
  jobTrace.foreach(spark.sparkContext.addSparkListener)
  val root: Option[Span] = tracer.map(_.open("run", s"$workload seed $seed"))

  private var measureStartMs = 0L
  private var jiffies0 = Host.jiffies()
  /** Seconds of each repeated set-up step (see [[setupSample]]). */
  private val setupSamples = scala.collection.mutable.ArrayBuffer.empty[Double]
  private var unitSeconds = 0.0

  /** A phase line on stderr, stamped with seconds since process start. */
  def log(msg: String): Unit =
    System.err.println(f"[perfbench] ${(System.currentTimeMillis() - jvmStartMs) / 1000.0}%7.2f s  $msg")

  /** Time one repeated set-up step (a fresh warehouse, a warm pass in a
    * fresh session). `setup_s` is the session build plus the median of
    * these, so a slow first step does not decide it alone. */
  def setupSample[T](body: => T): T = {
    val t0 = System.nanoTime()
    try body finally setupSamples += (System.nanoTime() - t0) / 1e9
  }

  /** Start of the measured window: host telemetry and peak heap cover
    * what follows. */
  def startMeasuring(): Unit = {
    measureStartMs = System.currentTimeMillis()
    jiffies0 = Host.jiffies()
    Host.resetPeakHeap()
  }

  /** More units while fewer than `min` ran or their walls sum to less
    * than `seconds`. */
  def moreUnits(done: Int, min: Int): Boolean = done < min || unitSeconds < seconds

  /** Run one unit of work; in a trace run it gets a span (returned with
    * the body's value) that carries the unit's GC seconds. */
  def unit[T](kind: String, name: String)(body: Option[Span] => T): (T, Option[Span]) = {
    val span = tracer.map(t => t.open(kind, name, root.get.id))
    progress.parent = span.fold(0L)(_.id)
    val gc0 = Host.gcSeconds()
    val t0 = System.nanoTime()
    try (body(span), span)
    finally {
      unitSeconds += (System.nanoTime() - t0) / 1e9
      for (t <- tracer; s <- span) {
        t.close(s)
        t.add(s, "gc_s", Host.gcSeconds() - gc0)
      }
    }
  }

  /** Wait until both listeners have delivered everything queued on the
    * asynchronous listener bus; call before reading spans. */
  def settle(): Unit =
    graft.observe.ListenerDrain.settle(() => progress.events + jobTrace.fold(0L)(_.events))

  def finish(out: Path): Unit = {
    val host = Host.window(jiffies0, Host.jiffies())
    host.foreach { case (k, v) => res.num(s"host.$k", v) }
    res.num("host.cores", cores)
    if (setupSamples.nonEmpty) {
      res.e2e("setup_s") = (sessionSeconds + Stats.median(setupSamples.toSeq), "s")
      res.num("setup.session_s", sessionSeconds)
      res.num("setup.samples", setupSamples.size)
    }
    if (measureStartMs > 0) {
      res.num("peak_heap_mb", Host.peakHeapMb())
      res.e2e("heap_live_mb") = (Host.liveHeapMb(), "MB")
    }
    res.num("failed_frac", res.failed.toDouble / math.max(1L, res.attempted))
    for (t <- tracer; r <- root) {
      settle()
      t.close(r)
      res.layers("trace.callback_s") = (t.callbackSeconds, "s")
      res.layers("trace.spans") = (t.all.size.toDouble, "count")
      val file = work.getParent.resolve("traces").resolve(s"${t.runId}.jsonl")
      t.writeJsonl(file)
      res.text("trace.file", file.toString)
    }
    val json = res.toJson
    Files.write(out, json.getBytes("UTF-8"))
    println(s"PERFBENCH_RESULT $json")
    try spark.streams.active.foreach(_.stop()) catch { case _: Exception => () }
    spark.stop()
  }
}
