package graft.cdc

import org.apache.spark.sql.types._

/** The change-event envelope (reference:
  * `specs/001-scylla-pg-cdc/data-model.md:16-85`): operation, table,
  * primary key, before/after images, commit + capture timestamps, schema
  * version, correlation id.
  *
  * `before`/`after` are MAP<STRING,STRING> in the generic envelope (schema
  * arrives dynamically per table); typed per-table processing swaps in the
  * table's StructType.
  */
final case class ChangeEvent(
    correlation_id: String,
    operation: String, // INSERT | UPDATE | DELETE | TRUNCATE
    table_name: String,
    primary_key: Map[String, String],
    before: Option[Map[String, String]],
    after: Option[Map[String, String]],
    commit_timestamp: Long, // microseconds
    captured_at: Long,      // milliseconds
    schema_version: Int)

object ChangeEvent {
  val Insert   = "INSERT"
  val Update   = "UPDATE"
  val Delete   = "DELETE"
  val Truncate = "TRUNCATE"

  /** Generic envelope schema (data-model.md:16-85). */
  val schema: StructType = StructType(Seq(
    StructField("correlation_id", StringType),
    StructField("operation", StringType, nullable = false),
    StructField("table_name", StringType, nullable = false),
    StructField("primary_key", MapType(StringType, StringType), nullable = false),
    StructField("before", MapType(StringType, StringType)),
    StructField("after", MapType(StringType, StringType)),
    StructField("commit_timestamp", LongType, nullable = false),
    StructField("captured_at", LongType),
    StructField("schema_version", IntegerType)))

  /** Sink-side CDC metadata columns (init.sql:29-35). */
  val MetaColumns: Seq[String] =
    Seq("__deleted", "cdc_operation", "cdc_timestamp", "cdc_source", "cdc_stream_id")
}
