package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.registry.{AnalyticsLineitemQueries, Registry}
import graft.util.Materialized

/** Driver contract: every operator from SURVEY.md §2 is a registry query,
  * and every query carries the DuckDB oracle that checks it. Each query is
  * declared once, as a [[graft.registry.QuerySpec]] in its family's object
  * under `graft.registry`; the two maps here are derived from those specs.
  */
object SparkEntry {

  /** Flagship: TPC-H-Q1-shaped pricing summary on sf0.001. */
  def entry(spark: SparkSession): DataFrame =
    AnalyticsLineitemQueries.q1(spark, "/root/testdata/sf0.001")

  /** Unpersist every block-manager RDD except the live shared entries
    * (the text family's shingle index, the multimodal decode) — the
    * per-query storage sweep. Query-shaped APIs materialize internal
    * localCheckpoints the caller cannot release through the result
    * alone until its action has run (the q90 postings table, DF-cut
    * shingle tables, the q108 bigram stream, ...); sweeping between
    * timings keeps a long-lived JVM's storage flat instead of
    * accumulating leaked blocks for the life of the session — the
    * measured mechanism behind the round-8 q90 regression. */
  def sweepTransientStorage(spark: SparkSession): Unit = Materialized.sweep(spark)

  /** Every query's Spark build, by name. */
  val queries: Map[String, (SparkSession, String) => DataFrame] =
    Registry.specs.map(s => s.name -> s.build).toMap

  /** Every query's DuckDB oracle SQL, by name. */
  val oracleSql: Map[String, String] =
    Registry.specs.map(s => s.name -> s.oracleSql).toMap
}
