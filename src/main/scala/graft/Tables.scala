package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.LongType

import graft.util.Materialized

/** Loaders for the driver-provided parquet tables (TESTDATA.md).
  *
  * Each table is one parquet file per scale-factor directory. At cluster
  * scale these would be partitioned/bucketed table paths; the API only
  * depends on "a DataFrame per table name", so swapping the storage layer
  * (Delta/Iceberg, bucketed parquet) changes nothing downstream.
  */
object Tables {
  val names: Seq[String] = Seq(
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings")

  // One RELATION resolution per (session, dir, table) — what a catalog
  // provides and `spark.read.parquet` re-does on every call (a file
  // listing plus a footer schema read, a driver-side job each time; the
  // 249-query bench resolves `documents` alone hundreds of times).
  // This memoizes METADATA only — the logical plan leaf — never rows:
  // every action over the returned DataFrame still scans the parquet
  // input. The test corpora are immutable per the driver contract, so a
  // point-in-time file snapshot is correct; the memo is per session and
  // holds only the most recently used ones (`Materialized.shared`).
  def load(spark: SparkSession, dir: String, name: String): DataFrame = {
    val path = s"$dir/$name.parquet"
    Materialized.shared(spark, path)(spark.read.parquet(path))
  }

  def region(s: SparkSession, d: String): DataFrame     = load(s, d, "region")
  def nation(s: SparkSession, d: String): DataFrame     = load(s, d, "nation")
  def customer(s: SparkSession, d: String): DataFrame   = load(s, d, "customer")
  def supplier(s: SparkSession, d: String): DataFrame   = load(s, d, "supplier")
  def part(s: SparkSession, d: String): DataFrame       = load(s, d, "part")
  def orders(s: SparkSession, d: String): DataFrame     = load(s, d, "orders")
  def lineitem(s: SparkSession, d: String): DataFrame   = load(s, d, "lineitem")
  /** `events.ts` is written as parquet TIMESTAMP(NANOS), which Spark 4
    * refuses outright (PARQUET_TYPE_ILLEGAL). Read nanos as long and
    * convert with exact integer division to a µs TimestampType. The
    * sub-µs component is dropped — acceptable for an analytics engine
    * whose ordering keys always pair ts with a unique event id. */
  def events(s: SparkSession, d: String): DataFrame = {
    s.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    val raw = load(s, d, "events")
    if (raw.schema("ts").dataType == LongType)
      raw.withColumn("ts", timestamp_micros(expr("ts DIV 1000")))
    else raw
  }
  def documents(s: SparkSession, d: String): DataFrame  = load(s, d, "documents")
  def embeddings(s: SparkSession, d: String): DataFrame = load(s, d, "embeddings")
}
