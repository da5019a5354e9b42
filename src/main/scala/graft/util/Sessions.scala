package graft.util

import org.apache.spark.sql.SparkSession

/** The one session builder for every graft main (CLIs, benches, Verify,
  * Plans, the profiler), so the mains cannot drift apart on core count,
  * shuffle width or timezone.
  *
  *   - master: `SPARK_MASTER`, else `local[cores]`
  *   - cores: `SPARK_GRAFT_CPUS`, else the host's processor count
  *   - `spark.sql.shuffle.partitions` = cores
  *   - session timezone UTC (the oracle's dates are UTC), UI off,
  *     log level WARN
  *
  * A caller's `conf` entries are applied last, so they override the
  * defaults (ScaleBench's factor-100 shuffle/broadcast knobs). */
object Sessions {

  /** The full conf a session gets — a pure function of the environment
    * map, so a spec can check resolution without building a session. */
  def resolve(app: String, env: Map[String, String], nproc: Int,
      conf: Seq[(String, String)] = Nil): Seq[(String, String)] = {
    val cores = env.get("SPARK_GRAFT_CPUS").flatMap(_.trim.toIntOption)
      .filter(_ > 0).getOrElse(nproc)
    Seq(
      "spark.master" -> env.getOrElse("SPARK_MASTER", s"local[$cores]"),
      "spark.app.name" -> app,
      "spark.sql.shuffle.partitions" -> cores.toString,
      "spark.sql.session.timeZone" -> "UTC",
      "spark.ui.enabled" -> "false") ++ conf
  }

  def local(app: String, conf: (String, String)*): SparkSession = {
    val spark = resolve(app, sys.env,
        Runtime.getRuntime.availableProcessors(), conf)
      .foldLeft(SparkSession.builder()) { case (b, (k, v)) => b.config(k, v) }
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }
}
