package graft.observe

import scala.collection.concurrent.TrieMap
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQueryListener

/** Metric registry + streaming metrics (reference:
  * `src/utils/metrics_collector.py` generic factory,
  * `src/monitoring/metrics.py` CDC metrics).
  *
  * Counters/gauges/histograms live in a driver-side registry, fed from
  * two distributed-safe channels:
  *   - `df.observe(...)` aggregates computed inside the job (no extra
  *     action, no collect) — reconciliation/accuracy metrics (M2)
  *   - a `StreamingQueryListener` reading progress events — throughput,
  *     lag, batch duration (M3/ST9/ST10)
  */
final class MetricsRegistry(namespace: String = "cdc") {
  private val counters = TrieMap[String, Double]()
  private val gauges = TrieMap[String, Double]()
  private val histograms = TrieMap[String, Histogram]()

  private def key(name: String, labels: Map[String, String]): String =
    s"${namespace}_$name" + (if (labels.isEmpty) ""
      else labels.toSeq.sorted.map { case (k, v) => s"$k=$v" }.mkString("{", ",", "}"))

  def inc(name: String, by: Double = 1.0, labels: Map[String, String] = Map.empty): Unit =
    counters.updateWith(key(name, labels))(v => Some(v.getOrElse(0.0) + by))

  def setGauge(name: String, v: Double, labels: Map[String, String] = Map.empty): Unit =
    gauges.put(key(name, labels), v)

  /** Folds `v` into the series' count/sum/max — constant space per
    * series however long the process observes. */
  def observeHistogram(name: String, v: Double, labels: Map[String, String] = Map.empty): Unit =
    histograms.updateWith(key(name, labels)) {
      case Some(h) => Some(Histogram(h.count + 1, h.sum + v, math.max(h.max, v)))
      case None => Some(Histogram(1, v, v))
    }

  def counter(name: String, labels: Map[String, String] = Map.empty): Double =
    counters.getOrElse(key(name, labels), 0.0)
  def gauge(name: String, labels: Map[String, String] = Map.empty): Double =
    gauges.getOrElse(key(name, labels), Double.NaN)
  def histogram(name: String, labels: Map[String, String] = Map.empty): Option[Histogram] =
    histograms.get(key(name, labels))

  /** Snapshot as a DataFrame — feeds the alert evaluation job (M5). */
  def snapshot(spark: SparkSession): DataFrame = {
    import spark.implicits._
    (counters.toSeq.map { case (k, v) => (k, "counter", v) } ++
      gauges.toSeq.map { case (k, v) => (k, "gauge", v) })
      .toDF("metric", "kind", "value")
  }

  /** Reconciliation-run metrics from a discrepancy summary
    * (metrics.py:17-188): counts by type + accuracy gauge. */
  def recordReconciliation(table: String, summary: Map[String, Long]): Unit = {
    summary.foreach { case (t, n) =>
      inc("reconciliation_discrepancies_total", n.toDouble,
        Map("table" -> table, "type" -> t))
    }
    val total = summary.values.sum
    val issues = summary.filterNot(_._1 == "match").values.sum
    if (total > 0)
      setGauge("reconciliation_accuracy_percent",
        (total - issues).toDouble / total * 100.0, Map("table" -> table))
    inc("reconciliation_runs_total", 1.0, Map("table" -> table))
  }
}

/** Running fold of one histogram series. */
final case class Histogram(count: Long, sum: Double, max: Double)

/** The one streaming listener (ST9/ST10): every CLI, bench and probe
  * that watches a stream attaches one instance for the run and removes
  * it on every exit path. From each progress event it folds
  *   - the registry's replication throughput and batch-duration series;
  *   - per-query maxima of state-store keys/bytes ([[maxFor]], [[all]]);
  *   - the micro-batch duration sums: `addBatch` is execution+sink
  *     work, `walCommit` (+`commitOffsets`) is checkpoint fsync, and
  *     wall minus `triggerExecution` is time outside triggers;
  *   - per-batch `(batchId, addBatchMs, inputRows)` rows in arrival
  *     order, the first [[MaxBatchRows]] kept ([[batchRows]]).
  *
  * Every progress event is seen as it happens — `query.recentProgress`
  * is a 100-entry ring and would forget the first batches of a long
  * drain, where a state peak can live.
  *
  * Termination events carry only the query id, so the id→name binding
  * from the start event is remembered — every gauge keys by the SAME
  * label for a query's whole lifecycle (a name-keyed health gauge that
  * never cleared on id-keyed termination is exactly the stale-dashboard
  * bug this prevents).
  *
  * The listener bus is ASYNC: the last trigger's event can land after
  * `awaitTermination` returns. Call [[settle]] (bounded poll, outside
  * any timed window) before reading. */
final class CdcQueryListener(val registry: MetricsRegistry = new MetricsRegistry())
    extends StreamingQueryListener {
  import StreamingQueryListener._

  private val names = TrieMap[String, String]() // query id → display label
  private val maxima = TrieMap[String, (Long, Long)]()
  private val rows = scala.collection.mutable.ArrayBuffer.empty[(Long, Long, Long)]
  @volatile private var nBatches = 0L
  private var sumAddBatch, sumWalCommit, sumTrigger = 0L // guarded by this

  private def label(id: java.util.UUID, name: String): String = {
    val l = Option(name).getOrElse(id.toString)
    names.put(id.toString, l)
    l
  }

  override def onQueryStarted(e: QueryStartedEvent): Unit =
    registry.setGauge("connector_health", 1.0,
      Map("query" -> label(e.id, e.name)))

  override def onQueryProgress(e: QueryProgressEvent): Unit = {
    val p = e.progress
    val name = label(p.id, p.name)
    registry.inc("records_replicated_total", p.numInputRows.toDouble,
      Map("query" -> name))
    registry.setGauge("throughput_rows_per_sec",
      Option(p.processedRowsPerSecond).getOrElse(0.0), Map("query" -> name))
    registry.observeHistogram("batch_duration_ms",
      p.durationMs.values().stream().mapToLong(_.longValue()).sum().toDouble,
      Map("query" -> name))
    val sos = Option(p.stateOperators).toSeq.flatten
    if (sos.nonEmpty) {
      val k = sos.map(_.numRowsTotal).max
      val b = sos.map(_.memoryUsedBytes).max
      maxima.updateWith(name) {
        case Some((pk, pb)) => Some((math.max(pk, k), math.max(pb, b)))
        case None => Some((k, b))
      }
    }
    def ms(k: String): Long =
      Option(p.durationMs.get(k)).map(_.longValue).getOrElse(0L)
    synchronized {
      sumAddBatch += ms("addBatch")
      sumWalCommit += ms("walCommit") + ms("commitOffsets")
      sumTrigger += ms("triggerExecution")
      if (rows.size < CdcQueryListener.MaxBatchRows)
        rows += ((p.batchId, ms("addBatch"), p.numInputRows))
      nBatches += 1
    }
  }

  override def onQueryTerminated(e: QueryTerminatedEvent): Unit = {
    // remove, don't just read: restart-looping queries would otherwise
    // grow the map by one dead entry per lifecycle forever
    val name = names.remove(e.id.toString).getOrElse(e.id.toString)
    registry.setGauge("connector_health", 0.0, Map("query" -> name))
    e.exception.foreach(_ => registry.inc("errors_total", 1.0,
      Map("query" -> name, "type" -> "query_terminated")))
  }

  /** Progress events seen, across every query. */
  def batches: Long = nBatches
  def addBatchMs: Long = synchronized(sumAddBatch)
  def walCommitMs: Long = synchronized(sumWalCommit)
  def triggerMs: Long = synchronized(sumTrigger)
  def batchRows: Seq[(Long, Long, Long)] = synchronized(rows.toList)

  /** (max keys in state, max provider-reported bytes) seen for the
    * named query, if any of its batches carried state operators. */
  def maxFor(name: String): Option[(Long, Long)] = maxima.get(name)

  /** Every per-query maximum observed (query name — or id when
    * unnamed — → (keys, bytes)); empty when no batch of any query
    * carried state operators. */
  def all: Map[String, (Long, Long)] = maxima.toMap

  /** Bounded wait for the async listener bus to drain. */
  def settle(): Unit = ListenerDrain.settle(() => nBatches)
}

object CdcQueryListener {
  /** Cap on [[CdcQueryListener.batchRows]] — a long-lived listener must
    * not grow without bound; the sums keep counting past it. */
  val MaxBatchRows = 4096
}

/** The ONE bounded listener-bus drain: Spark's StreamingQueryListener
  * bus is async and the last trigger's event can land after
  * `awaitTermination`, so readers spin while the counter still moves —
  * 100 ms polls, ~2 s cap. Changing the drain bound changes it
  * everywhere. */
object ListenerDrain {
  def settle(events: () => Long): Unit = {
    var last = -1L
    var spins = 0
    while (events() != last && spins < 20) {
      last = events()
      Thread.sleep(100)
      spins += 1
    }
  }
}
