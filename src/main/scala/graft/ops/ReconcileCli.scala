package graft.ops

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.compare.Comparer.CompareOptions
import graft.observe.MetricsRegistry
import graft.reconcile.Differ
import graft.repair.Repairer

/** Reconciliation CLI (reference: `scripts/reconcile.py:607-677` argparse
  * driver; CLI contract `specs/001-scylla-pg-cdc/contracts/
  * reconciliation-cli.yaml:36-59`).
  *
  *   runMain graft.ops.ReconcileCli reconcile \
  *     --source <parquet> --target <parquet> --keys k1,k2 \
  *     [--ignore-fields a,b] [--tolerance 1e-4] [--repair-into s.t] \
  *     [--execute] [--max-print 20]
  *   runMain graft.ops.ReconcileCli report --source ... --target ... --keys ...
  *
  * Exit codes mirror reconciliation-cli.yaml: 0 clean, 1 discrepancies
  * found, 10 config error, 11 source unreadable.
  *
  * Where the reference pages 10k rows at a time into driver memory
  * (reconcile.py:258-326), this submits ONE distributed full-outer join
  * and aggregates summaries engine-side; only the (small) repair plan and
  * summary are collected.
  */
object ReconcileCli {

  final case class Config(
      command: String = "",
      source: String = "",
      target: String = "",
      keys: Seq[String] = Nil,
      ignoreFields: Set[String] = Set.empty,
      tolerance: Double = 1e-4,
      repairInto: String = "cdc_data.target",
      execute: Boolean = false,
      maxPrint: Int = 20,
      /** SURVEY §7.4.6: snapshot cutoff — reconcile both sides as of a
        * commit timestamp so in-flight events don't appear as false
        * discrepancies (the reference reads both sides live and eats the
        * noise, reconcile.py:378-413). */
      asOf: Option[String] = None,
      asOfColumn: String = "cdc_timestamp",
      jdbcUrl: Option[String] = None)

  def parseArgs(args: Array[String]): Either[String, Config] = {
    if (args.isEmpty) return Left("usage: reconcile|report --source P --target P --keys K[,K]")
    var c = Config(command = args.head)
    if (c.command != "reconcile" && c.command != "report")
      return Left(s"unknown command '${c.command}' (want reconcile|report)")
    var i = 1
    while (i < args.length) {
      args(i) match {
        case "--source" => c = c.copy(source = args(i + 1)); i += 2
        case "--target" => c = c.copy(target = args(i + 1)); i += 2
        case "--keys" => c = c.copy(keys = args(i + 1).split(",").toSeq); i += 2
        case "--ignore-fields" => c = c.copy(ignoreFields = args(i + 1).split(",").toSet); i += 2
        case "--tolerance" => c = c.copy(tolerance = args(i + 1).toDouble); i += 2
        case "--repair-into" => c = c.copy(repairInto = args(i + 1)); i += 2
        case "--execute" => c = c.copy(execute = true); i += 1
        case "--max-print" => c = c.copy(maxPrint = args(i + 1).toInt); i += 2
        case "--as-of" => c = c.copy(asOf = Some(args(i + 1))); i += 2
        case "--as-of-column" => c = c.copy(asOfColumn = args(i + 1)); i += 2
        case "--jdbc-url" => c = c.copy(jdbcUrl = Some(args(i + 1))); i += 2
        case other => return Left(s"unknown flag '$other'")
      }
    }
    if (c.source.isEmpty || c.target.isEmpty || c.keys.isEmpty)
      Left("--source, --target and --keys are required")
    else if (c.asOf.exists(s =>
        scala.util.Try(java.sql.Timestamp.valueOf(s)).isFailure))
      Left(s"--as-of must be 'yyyy-MM-dd HH:mm:ss[.f]', got '${c.asOf.get}'")
    else if (c.execute && c.jdbcUrl.isEmpty)
      Left("--execute requires --jdbc-url (the target database to repair)")
    else Right(c)
  }

  def main(args: Array[String]): Unit = {
    parseArgs(args) match {
      case Left(err) =>
        System.err.println(s"[config] $err"); sys.exit(10)
      case Right(cfg) =>
        val spark = graft.util.Sessions.local("graft-reconcile")
        try sys.exit(run(spark, cfg))
        finally spark.stop()
    }
  }

  def run(spark: SparkSession, cfg: Config): Int = {
    def cutoff(df: DataFrame): DataFrame = cfg.asOf match {
      case Some(ts) if df.columns.contains(cfg.asOfColumn) =>
        df.filter(col(cfg.asOfColumn) <= lit(ts).cast("timestamp"))
      case Some(_) =>
        // a typo'd column name must not silently reconcile unfiltered
        System.err.println(s"[warn] --as-of ignored: column " +
          s"'${cfg.asOfColumn}' not present; reconciling unfiltered")
        df
      case None => df
    }
    val (src, tgt) =
      try (cutoff(spark.read.parquet(cfg.source)),
           cutoff(spark.read.parquet(cfg.target)))
      catch { case e: Exception =>
        System.err.println(s"[connection] cannot read inputs: ${e.getMessage}")
        return 11
      }
    val opts = CompareOptions(floatTolerance = cfg.tolerance,
      ignoreFields = cfg.ignoreFields)

    val summary = Differ.discrepancySummary(src, tgt, cfg.keys, opts)
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    val matchPct = Differ.matchPercentage(src, tgt, cfg.keys, opts)
      .head().getDouble(0)

    val metrics = new MetricsRegistry()
    metrics.recordReconciliation(cfg.target, summary)

    val issues = summary.filterNot(_._1 == "match").values.sum
    println(jsonLine(Map(
      "command" -> cfg.command, "source" -> cfg.source, "target" -> cfg.target,
      "summary" -> summary, "match_pct" -> matchPct, "issues" -> issues)))

    if (cfg.command == "report") {
      // recommendation thresholds (reconcile.py:589-604)
      val total = summary.values.sum.max(1L)
      val rate = issues.toDouble / total * 100
      val rec =
        if (rate < 1) "minor - schedule repair in next window"
        else if (rate < 5) "moderate - repair soon"
        else "severe - immediate repair recommended"
      println(jsonLine(Map("discrepancy_rate_pct" -> rate, "recommendation" -> rec)))
      return if (issues == 0) 0 else 1
    }

    if (issues == 0) return 0

    val Array(schemaName, tableName) = (cfg.repairInto.split("\\.") ++ Array("target")).take(2)
    val dataCols = src.columns.filterNot(cfg.keys.contains).toSeq
      .filter(tgt.columns.contains(_)).filterNot(cfg.ignoreFields.contains)
    val disc = Differ.findAllDiscrepancies(src, tgt, cfg.keys, opts)
    // persisted: consumed by the plan print, the count, and (in execute
    // mode) one job per priority phase — without this the discrepancy
    // join + SQL generation would recompute ~6x
    graft.util.Materialized.scoped(Repairer.generateRepairActions(disc,
        schemaName, tableName, cfg.keys, dataCols, dryRun = !cfg.execute)) { actions =>
      val plan = actions.orderBy(col("priority"), col("target_key"))
        .limit(cfg.maxPrint).collect()
      plan.foreach(r => println(s"-- [${r.getString(1)}] ${r.getString(3)}"))
      val nActions = actions.count()
      if (cfg.execute) {
        // apply via JDBC, one connection per partition (reference execute
        // path reconcile.py:490-522); exit 2 = repair-failed per
        // reconciliation-cli.yaml
        val (done, failed) = Repairer.executeRepairsJdbc(actions, cfg.jdbcUrl.get)
        println(jsonLine(Map("repair_actions" -> nActions,
          "executed" -> done, "failed" -> failed, "dry_run" -> false)))
        if (failed > 0) 2 else 1
      } else {
        println(jsonLine(Map("repair_actions" -> nActions,
          "dry_run" -> true, "printed" -> plan.length)))
        1
      }
    }
  }

  private def jsonLine(m: Map[String, Any]): String =
    m.map { case (k, v) => s""""$k": ${jsonVal(v)}""" }.mkString("{", ", ", "}")

  private def jsonVal(v: Any): String = v match {
    case s: String => "\"" + s.replace("\"", "\\\"") + "\""
    case m: Map[_, _] => m.map { case (k, x) => s""""$k": ${jsonVal(x)}""" }
      .mkString("{", ", ", "}")
    case b: Boolean => b.toString
    case n => n.toString
  }
}
