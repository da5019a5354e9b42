package perfbench

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.SparkPlan
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.exchange.{ReusedExchangeExec, ShuffleExchangeLike}

/** Folds spans into per-layer figures. */
object Layers {

  /** Spark-engine figures of one unit of work (a drain, a tail window, a
    * query or a pass): counts and sums over the unit's job and stage
    * spans, plus the GC seconds recorded on the unit span itself. */
  def engine(t: Tracer, unit: Span, cores: Int): Map[String, Double] = {
    val spans = t.subtree(unit)
    def sum(k: String) = spans.map(_.attrs.getOrElse(k, 0.0)).sum
    val taskS = sum("task_s")
    Map(
      "jobs" -> spans.count(_.kind == "job").toDouble,
      "stages" -> spans.count(_.kind == "stage").toDouble,
      "tasks" -> sum("tasks"),
      "task_s" -> taskS,
      "cpu_busy" -> (if (unit.seconds > 0) taskS / (unit.seconds * cores) else 0.0),
      "gc_s" -> unit.attrs.getOrElse("gc_s", 0.0),
      "shuffle_bytes" -> sum("shuffle_bytes"),
      "spill_bytes" -> sum("spill_bytes"),
      "output_bytes" -> sum("output_bytes"),
      "files_written" -> sum("files_written"),
      "checkpoint_jobs" -> sum("checkpoint_jobs"),
      "failed_jobs" -> sum("failed_jobs"))
  }

  /** Medians across units of each figure. */
  def medians(units: Seq[Map[String, Double]]): Map[String, Double] =
    if (units.isEmpty) Map.empty
    else units.head.keys.map(k => k -> Stats.median(units.map(_.getOrElse(k, 0.0)))).toMap

  /** The engine figures that are non-zero on every gated workload, with
    * units: the per-layer metrics. The others (spill, output bytes,
    * checkpoint jobs, files written, failed jobs) are 0 on at least one
    * workload and go to the run record. */
  val EngineUnits: Seq[(String, String)] = Seq(
    "jobs" -> "count", "stages" -> "count", "tasks" -> "count", "task_s" -> "s",
    "cpu_busy" -> "ratio", "gc_s" -> "s", "shuffle_bytes" -> "B")

  /** Engine figures as `spark.<name>`: per-layer metrics when gated, else
    * run-record entries. */
  def report(res: Result, engine: Map[String, Double]): Unit =
    engine.toSeq.sortBy(_._1).foreach { case (k, v) =>
      EngineUnits.toMap.get(k) match {
        case Some(u) => res.layers(s"spark.$k") = (v, u)
        case None => res.num(s"spark.$k", v)
      }
    }

  /** Shuffle exchanges in an executed query's final (adaptive) plan,
    * subqueries included; reused exchanges are not counted again. */
  def exchanges(df: DataFrame): Int = {
    def count(p: SparkPlan): Int = {
      val self = p match { case _: ShuffleExchangeLike => 1; case _ => 0 }
      val kids = p match {
        case a: AdaptiveSparkPlanExec => Seq(a.executedPlan)
        case q: QueryStageExec => Seq(q.plan)
        case _: ReusedExchangeExec => Nil
        case _ => p.children ++ p.subqueries
      }
      self + kids.map(count).sum
    }
    count(df.queryExecution.executedPlan)
  }
}
