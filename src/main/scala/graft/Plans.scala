package graft

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.FormattedMode

import graft.registry.Registry

/** The plan writer, in two modes.
  *
  * With no arguments it writes PLANS.md: the formatted physical plan of
  * every query whose spec has a `planNote`, in query-number order, each
  * with the property its plan is expected to exhibit (the human-readable
  * companion to PlanSpec's assertions), against sf0.01.
  *
  * With arguments it writes one `.explain("formatted")` file per named
  * query, `<outDir>/<query>_<suffix>.txt` — the before/after plan
  * artifacts an optimization commits next to its measurements:
  *
  *   sbt "runMain graft.Plans"
  *   sbt "runMain graft.Plans <suffix> <query>[,<query>...] [sfDir] [outDir]"
  *
  * `sfDir` defaults to `SPARK_GRAFT_SF_DIR`, else sf0.1; `outDir` to
  * `plans/r19`. Storage is swept after each plan.
  *
  * Both modes write the [[explain]] form, free of JVM counters and
  * identities: two runs of one commit write identical files.
  */
object Plans {

  /** Ids that JVM-wide counters hand out: expressions (`#n`), exchanges
    * (`plan_id=n`), lambda variables (`lambda x_n`) and checkpointed RDDs
    * (`RDD[n]`). Group 1 is the kept prefix. */
  private val counters = Seq("(#)\\d+", "(plan_id=)\\d+", "(lambda [A-Za-z]+_)\\d+",
    "(RDD\\[)\\d+").map(_.r)
  private val stripped = Seq("\\$Lambda\\$[0-9]+/0x[0-9a-f]+@[0-9a-f]+".r -> "\\$Lambda",
    "\\.scala:[0-9]+".r -> ".scala")

  /** The formatted physical plan, each counter's ids renumbered from 0 in
    * order of first appearance (equal ids stay equal), and lambda
    * identities and call-site line numbers stripped. */
  private[graft] def explain(spark: SparkSession, name: String, sfDir: String): String = {
    val raw =
      try SparkEntry.queries(name)(spark, sfDir).queryExecution.explainString(FormattedMode)
      finally SparkEntry.sweepTransientStorage(spark)
    val renumbered = counters.foldLeft(raw) { (s, re) =>
      val seen = scala.collection.mutable.HashMap.empty[String, Int]
      re.replaceAllIn(s, m => java.util.regex.Matcher.quoteReplacement(
        m.group(1) + seen.getOrElseUpdate(m.matched, seen.size)))
    }
    stripped.foldLeft(renumbered) { case (s, (re, to)) => re.replaceAllIn(s, to) }
  }

  private def queryNumber(name: String): Int =
    name.drop(1).takeWhile(_.isDigit).toInt

  def main(args: Array[String]): Unit = {
    val spark = util.Sessions.local("graft-plans")
    try if (args.isEmpty) writePlansMd(spark) else dump(spark, args)
    finally spark.stop()
  }

  private def writePlansMd(spark: SparkSession): Unit = {
    val sfDir = "/root/testdata/sf0.01"
    val noted = Registry.specs.filter(_.planNote.isDefined).sortBy(s => queryNumber(s.name))
    val sb = new StringBuilder
    sb.append("# PLANS — physical plans of the flagship queries\n\n")
    sb.append(s"Generated by `graft.Plans` against `$sfDir`. Each plan is the\n")
    sb.append("pre-execution AQE plan; PlanSpec asserts the load-bearing\n")
    sb.append("properties so they can't regress silently.\n")
    noted.foreach { s =>
      sb.append(s"\n## ${s.name}\n\n${s.planNote.get}\n\n```\n")
      sb.append(explain(spark, s.name, sfDir).trim)
      sb.append("\n```\n")
    }
    Files.writeString(Paths.get("PLANS.md"), sb.toString)
    println(s"wrote PLANS.md (${noted.size} plans)")
  }

  private def dump(spark: SparkSession, args: Array[String]): Unit = {
    val suffix = args(0)
    val names = args.lift(1).toSeq.flatMap(_.split(",").map(_.trim).filter(_.nonEmpty))
    require(names.nonEmpty,
      "usage: Plans [<suffix> <query>[,<query>...] [sfDir] [outDir]]")
    val sfDir = args.lift(2).getOrElse(
      sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1"))
    val outDir = args.lift(3).getOrElse("plans/r19")
    Files.createDirectories(Paths.get(outDir))
    names.foreach { name =>
      val out = s"$outDir/${name}_$suffix.txt"
      Files.writeString(Paths.get(out), explain(spark, name, sfDir))
      println(s"wrote $out")
    }
  }
}
