package graft.tools

import java.nio.file.{Files, Paths}

/** Round-19 optimization evidence: dumps `.explain("formatted")` for a
  * list of declared queries into `plans/r19/<query>_<suffix>.txt` — the
  * before/after plan artifacts the optimization round commits next to
  * its measurements.
  *
  *   sbt "runMain graft.tools.PlanDump <suffix> <query>[,<query>...] [sfDir] [outDir]"
  */
object PlanDump {
  def main(args: Array[String]): Unit = {
    val suffix = args.headOption.getOrElse("before")
    val names = args.lift(1).map(_.split(",").map(_.trim).filter(_.nonEmpty).toSeq)
      .getOrElse(Seq.empty)
    val sfDir = args.lift(2).getOrElse(
      sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1"))
    val outDir = args.lift(3).getOrElse("plans/r19")
    val spark = graft.util.Sessions.local("graft-plan-dump")
    Files.createDirectories(Paths.get(outDir))
    names.foreach { name =>
      val df = graft.SparkEntry.queries(name)(spark, sfDir)
      val plan = df.queryExecution.explainString(
        org.apache.spark.sql.execution.FormattedMode)
      Files.writeString(Paths.get(s"$outDir/${name}_$suffix.txt"), plan)
      println(s"wrote $outDir/${name}_$suffix.txt")
      graft.SparkEntry.sweepTransientStorage(spark)
    }
    spark.stop()
  }
}
