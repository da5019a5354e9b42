package graft.ops

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.types.{LongType, StringType, StructField, StructType}
import org.apache.spark.sql.streaming.Trigger
import graft.cdc.CdcPipeline
import graft.observe.CdcQueryListener

/** Streaming replication launcher (the engine's analog of bringing up the
  * reference's source+sink connector pair; pipeline shape SURVEY §3.1).
  *
  *   runMain graft.ops.CdcReplicateCli \
  *     --input <dir of JSON change-event lines> \
  *     --warehouse <dir> --checkpoint <dir> \
  *     --table users:user_id [--table orders:order_id,line_id] \
  *     [--columns name,status,...]   extra string data columns in envelope
  *
  * Runs with Trigger.AvailableNow (drain-then-stop) so the same entry
  * point serves both backfill (S2) and incremental runs (ST3 checkpoint
  * resume). Prints a metrics summary line at the end.
  */
object CdcReplicateCli {

  def main(args: Array[String]): Unit = {
    var input = ""; var warehouse = ""; var checkpoint = ""
    var tables = Map[String, Seq[String]]()
    var columns = Seq("username", "status")
    var i = 0
    while (i < args.length) {
      args(i) match {
        case "--input" => input = args(i + 1); i += 2
        case "--warehouse" => warehouse = args(i + 1); i += 2
        case "--checkpoint" => checkpoint = args(i + 1); i += 2
        case "--table" =>
          val Array(t, ks) = args(i + 1).split(":", 2)
          tables += t -> ks.split(",").toSeq; i += 2
        case "--columns" => columns = args(i + 1).split(",").toSeq; i += 2
        case other => System.err.println(s"[config] unknown flag '$other'"); sys.exit(10)
      }
      }
    if (input.isEmpty || warehouse.isEmpty || checkpoint.isEmpty || tables.isEmpty) {
      System.err.println("[config] --input, --warehouse, --checkpoint, --table required")
      sys.exit(10)
    }

    val spark = graft.util.Sessions.local("graft-cdc-replicate")
    run(spark, input, warehouse, checkpoint, tables, columns)
    spark.stop()
  }

  /** Launcher body over an existing session — drains the replication
    * loop with AvailableNow and prints the contract lines (per-table
    * rows, records_replicated_total, and the per-drain state-bound
    * telemetry the census launcher emits). The listener comes off the
    * session on every exit path, so an embedded caller's repeated runs
    * don't accumulate orphans. */
  def run(spark: SparkSession, input: String, warehouse: String,
      checkpoint: String, tables: Map[String, Seq[String]],
      columns: Seq[String] = Seq("username", "status")): Unit = {
    // the contract metric and the same per-drain state-bound telemetry
    // SessionCensusCli emits (every-batch maxima, immune to the
    // 100-entry recentProgress ring)
    val listener = new CdcQueryListener()
    spark.streams.addListener(listener)
    try {

    // envelope: topic/operation/commit_timestamp + per-table key and data
    // columns (string-typed generic envelope; typed tables cast post-route)
    val keyCols = tables.values.flatten.toSeq.distinct
    val schema = StructType(
      Seq(StructField("topic", StringType), StructField("operation", StringType),
        StructField("commit_timestamp", LongType)) ++
        (keyCols ++ columns).distinct.map(StructField(_, StringType)))

    val pipeline = new CdcPipeline(spark, warehouse, checkpoint, tables)
    val raw = spark.readStream
      .schema(StructType(Seq(StructField("value", StringType))))
      .text(input).toDF("value")
    // await, stop and report only THIS run's one query: an embedded
    // caller's unrelated continuous query on the shared session must be
    // neither awaited (run() would hang forever) nor stopped on failure
    // nor reported as CDC state
    val q = pipeline.start(raw, schema, Trigger.AvailableNow())
    try q.awaitTermination()
    catch { case t: Throwable =>
      try q.stop() catch { case _: Exception => () }
      throw t
    }
    val mine = Set(q.id.toString)

    tables.keys.foreach { t =>
      val n = pipeline.readTable(t).map(_.count()).getOrElse(0L)
      println(s"""{"table": "$t", "rows": $n}""")
    }
    // scope the contract metric to THIS run's query exactly like the
    // state line below: queries here are unnamed, so the listener keys
    // by query id and the registry key is fully reconstructible — an
    // embedded caller's concurrent query can't inflate the count
    val mineMetrics = mine.map(id => s"cdc_records_replicated_total{query=$id}")
    listener.settle() // async listener bus — drain before reading
    val replicatedRow = listener.registry.snapshot(spark)
      .filter(org.apache.spark.sql.functions.col("metric")
        .isin(mineMetrics.toSeq: _*))
      .agg(org.apache.spark.sql.functions.coalesce(
        org.apache.spark.sql.functions.sum("value"),
        org.apache.spark.sql.functions.lit(0.0))).head().getDouble(0)
    println(s"""{"metric": "records_replicated_total", "value": $replicatedRow}""")
    // state-bound line: the merge path collapses latest-per-key INSIDE
    // each foreachBatch, so it keeps ZERO store state by design — the
    // zero row is the bound being reported, not a missing metric. Any
    // stateful operator a future pipeline shape adds shows up as its
    // own nonzero row automatically.
    // only THIS run's query (unnamed → keyed by query id) may feed
    // the CDC contract line — an embedded caller's concurrent stateful
    // query must not masquerade as CDC state
    val mineState = listener.all.view.filterKeys(mine).toMap
    if (mineState.isEmpty)
      println("""{"state": "cdc-merge", "max_keys": 0, "max_bytes": 0}""")
    else mineState.toSeq.sortBy(_._1).foreach { case (n, (k, b)) =>
      val nm = n.replace("\\", "\\\\").replace("\"", "\\\"")
      println(s"""{"state": "$nm", "max_keys": $k, "max_bytes": $b}""")
    }

    } finally spark.streams.removeListener(listener)
  }
}
