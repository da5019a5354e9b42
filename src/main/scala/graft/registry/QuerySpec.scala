package graft.registry

import org.apache.spark.sql.{DataFrame, SparkSession}

/** One registry query, declared once: its name, the family that owns it,
  * its Spark build over a corpus directory, the DuckDB SQL that checks
  * it, and an optional note on the plan it should have (`graft.Plans`
  * writes the noted plans to PLANS.md). */
final case class QuerySpec(
    name: String,
    family: String,
    build: (SparkSession, String) => DataFrame,
    oracleSql: String,
    planNote: Option[String] = None)

/** An object declaring one family's queries. Every spec it declares
  * through [[spec]] carries the family name given here. Helpers a family
  * object defines sit above its `specs`, so the oracle strings, built
  * when the object initialises, never read an unset fragment. */
abstract class QueryFamily(val family: String) {
  def specs: Seq[QuerySpec]

  protected def spec(name: String, build: (SparkSession, String) => DataFrame,
      oracleSql: String, planNote: Option[String] = None): QuerySpec =
    QuerySpec(name, family, build, oracleSql, planNote)
}
