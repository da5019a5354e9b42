package perfbench

import java.util.concurrent.atomic.AtomicLong
import scala.collection.mutable

import org.apache.spark.scheduler._
import org.apache.spark.sql.streaming.StreamingQueryListener

/** A timed interval at one layer boundary. Spans form a tree per run:
  * run → pass (a drain, a tail window, a query-mix pass) → query or
  * micro-batch → Spark job → stage. Counters measured at the boundary
  * ride in `attrs`. */
final class Span(val id: Long, val parent: Long, val kind: String,
    val name: String, @volatile var startMs: Long) {
  @volatile var endMs: Long = -1L
  val attrs: mutable.Map[String, Double] = mutable.LinkedHashMap.empty
  def seconds: Double = if (endMs < 0) 0.0 else (endMs - startMs) / 1000.0
}

/** In-memory span store; written out once, when the run ends. */
final class Tracer(val runId: String) {
  private val ids = new AtomicLong(0)
  private val spans = mutable.ArrayBuffer.empty[Span]
  private val callbackNanos = new AtomicLong(0)

  def open(kind: String, name: String, parent: Long = 0L,
      startMs: Long = System.currentTimeMillis()): Span = synchronized {
    val s = new Span(ids.incrementAndGet(), parent, kind, name, startMs)
    spans += s
    s
  }

  def close(s: Span, endMs: Long = System.currentTimeMillis()): Span = { s.endMs = endMs; s }

  def add(s: Span, key: String, v: Double): Unit = synchronized {
    s.attrs(key) = s.attrs.getOrElse(key, 0.0) + v
  }

  def all: Seq[Span] = synchronized(spans.toList)

  /** Time spent inside listener callbacks: the direct cost of tracing. */
  def callbackSeconds: Double = callbackNanos.get / 1e9
  private[perfbench] def timed[T](body: => T): T = {
    val t0 = System.nanoTime()
    try body finally callbackNanos.addAndGet(System.nanoTime() - t0)
  }

  /** Every span under `root` (inclusive). */
  def subtree(root: Span): Seq[Span] = {
    val kids = all.groupBy(_.parent)
    def walk(s: Span): Seq[Span] = s +: kids.getOrElse(s.id, Nil).flatMap(walk)
    walk(root)
  }

  def writeJsonl(path: java.nio.file.Path): Unit = {
    def q(s: String) = "\"" + s.replace("\\", "\\\\").replace("\"", "\\\"")
      .replace("\n", " ") + "\""
    val lines = all.map { s =>
      val a = s.attrs.map { case (k, v) => s"${q(k)}:${Json.num(v)}" }.mkString(",")
      s"""{"run":${q(runId)},"id":${s.id},"parent":${s.parent},"kind":${q(s.kind)},""" +
        s""""name":${q(s.name)},"start_ms":${s.startMs},"end_ms":${s.endMs},"attrs":{$a}}"""
    }
    java.nio.file.Files.createDirectories(path.getParent)
    java.nio.file.Files.write(path, (lines.mkString("\n") + "\n").getBytes("UTF-8"))
  }
}

/** Spark job and stage spans, with task metrics folded per stage. A job's
  * parent is found from the submitting thread's local properties: the
  * benchmark tags its own query threads with [[JobTrace.SpanKey]]; a
  * streaming micro-batch's jobs carry the query id and batch id. */
final class JobTrace(tracer: Tracer, batchParent: (String, Long) => Long)
    extends SparkListener {
  private val jobSpans = mutable.HashMap.empty[Int, Span]
  private val stageJob = mutable.HashMap.empty[Int, Span]
  private val stageAcc = mutable.HashMap.empty[(Int, Int), mutable.Map[String, Double]]
  private val delivered = new AtomicLong(0)

  /** Callbacks handled so far; settles once the bus has delivered all. */
  def events: Long = delivered.get

  override def onJobStart(e: SparkListenerJobStart): Unit = tracer.timed {
    delivered.incrementAndGet()
    val props = Option(e.properties)
    def prop(k: String) = props.flatMap(p => Option(p.getProperty(k)))
    val parent = prop(JobTrace.SpanKey).map(_.toLong).orElse(
      for (q <- prop("sql.streaming.queryId"); b <- prop("streaming.sql.batchId"))
        yield batchParent(q, b.toLong)).getOrElse(0L)
    // the result stage is named after the job's call site
    val site = if (e.stageInfos.isEmpty) "?" else e.stageInfos.maxBy(_.stageId).name
    val s = tracer.open("job", site, parent, e.time)
    if (site.toLowerCase.contains("checkpoint")) tracer.add(s, "checkpoint_jobs", 1)
    synchronized {
      jobSpans(e.jobId) = s
      e.stageIds.foreach(id => stageJob(id) = s)
    }
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = tracer.timed {
    delivered.incrementAndGet()
    synchronized(jobSpans.remove(e.jobId)).foreach { s =>
      tracer.close(s, e.time)
      tracer.add(s, "jobs", 1)
      if (e.jobResult != JobSucceeded) tracer.add(s, "failed_jobs", 1)
    }
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = tracer.timed {
    delivered.incrementAndGet()
    val m = e.taskMetrics
    if (m != null) synchronized {
      val a = stageAcc.getOrElseUpdate((e.stageId, e.stageAttemptId), mutable.HashMap.empty)
      def add(k: String, v: Double): Unit = a(k) = a.getOrElse(k, 0.0) + v
      add("tasks", 1)
      add("task_s", m.executorRunTime / 1000.0)
      add("task_cpu_s", m.executorCpuTime / 1e9)
      add("shuffle_bytes", m.shuffleWriteMetrics.bytesWritten.toDouble)
      add("shuffle_read_bytes", m.shuffleReadMetrics.totalBytesRead.toDouble)
      add("spill_bytes", (m.memoryBytesSpilled + m.diskBytesSpilled).toDouble)
      add("input_bytes", m.inputMetrics.bytesRead.toDouble)
      add("output_bytes", m.outputMetrics.bytesWritten.toDouble)
      if (m.outputMetrics.bytesWritten > 0) add("files_written", 1)
    }
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = tracer.timed {
    delivered.incrementAndGet()
    val info = e.stageInfo
    val (job, acc) = synchronized {
      (stageJob.get(info.stageId), stageAcc.remove((info.stageId, info.attemptNumber())))
    }
    val s = tracer.open("stage", s"stage ${info.stageId}: ${info.name}",
      job.map(_.id).getOrElse(0L), info.submissionTime.getOrElse(0L))
    tracer.close(s, info.completionTime.getOrElse(s.startMs))
    tracer.add(s, "stages", 1)
    acc.foreach(_.foreach { case (k, v) => tracer.add(s, k, v) })
  }
}

object JobTrace {
  /** Local property naming the span that parents a thread's jobs. */
  val SpanKey = "perfbench.span"
}

/** Every micro-batch progress event of every streaming query, always on:
  * the tail workload's lag and the backfill's visibility times are read
  * from it. When a tracer is attached, each batch also becomes a span. */
final class Progress(tracer: Option[Tracer]) extends StreamingQueryListener {
  final case class P(query: String, batchId: Long, inputRows: Long,
      startMs: Long, commitMs: Long, durations: Map[String, Long])
  private val buf = mutable.ArrayBuffer.empty[P]
  private val batchSpans = mutable.HashMap.empty[(String, Long), Span]
  @volatile var parent: Long = 0L
  @volatile private var delivered = 0L

  /** Progress events handled so far. */
  def events: Long = delivered

  /** The span a micro-batch's jobs hang under (created on first use). */
  def batchSpan(query: String, batchId: Long): Long = span(query, batchId).fold(0L)(_.id)

  private def span(query: String, batchId: Long): Option[Span] = tracer.map { t =>
    synchronized(batchSpans.getOrElseUpdate((query, batchId),
      t.open("batch", s"batch $batchId", parent)))
  }

  override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
  override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
  override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = {
    val p = e.progress
    import scala.jdk.CollectionConverters._
    val d = p.durationMs.asScala.map { case (k, v) => k -> v.longValue }.toMap
    val start = java.time.Instant.parse(p.timestamp).toEpochMilli
    val rec = P(p.id.toString, p.batchId, p.numInputRows, start,
      start + d.getOrElse("triggerExecution", 0L), d)
    synchronized { buf += rec; delivered += 1 }
    for (t <- tracer; s <- span(rec.query, rec.batchId)) {
      s.startMs = rec.startMs
      t.close(s, rec.commitMs)
      t.add(s, "input_rows", rec.inputRows.toDouble)
      d.foreach { case (k, v) => t.add(s, s"$k.s", v / 1000.0) }
    }
  }

  def batches(query: String): Seq[P] = all.filter(_.query == query)
  def all: Seq[P] = synchronized(buf.toList)
  def clear(): Unit = synchronized { buf.clear(); batchSpans.clear() }

  /** The listener bus is asynchronous: wait (bounded) until the progress
    * events of `query` cover `batchIds`. */
  def await(query: String, batchIds: Set[Long], maxMs: Long = 10000): Unit = {
    val deadline = System.currentTimeMillis() + maxMs
    while (!batchIds.subsetOf(batches(query).map(_.batchId).toSet) &&
        System.currentTimeMillis() < deadline) Thread.sleep(20)
  }
}
