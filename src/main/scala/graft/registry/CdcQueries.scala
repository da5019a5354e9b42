package graft
package registry

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.cdc.{Transforms, Upsert}

/** The CDC transform chain and upsert semantics (SURVEY §2.2, §2.9). */
object CdcQueries extends QueryFamily("cdc") {

  /** CDC envelope synthesized deterministically from `events` (stands in
    * for the Debezium-over-Kafka stream; same shape as ChangeEvent). */
  private def cdcEnvelope(s: SparkSession, dir: String): DataFrame =
    Tables.events(s, dir).select(
      when(col("event_id") % 50 === 0, lit("heartbeat.events"))
        .otherwise(concat(lit("scylla-cluster.app_data."), col("event_type"))).as("topic"),
      when(col("event_type") === "error", lit("DELETE")).otherwise(lit("UPSERT")).as("operation"),
      struct(col("user_id").as("user_id"), col("value").as("value_value"),
        col("props").as("props_value")).as("after"),
      col("ts"), col("event_id"))

  private val cdcEnvelopeSql =
    """SELECT CASE WHEN event_id % 50 = 0 THEN 'heartbeat.events' ELSE 'scylla-cluster.app_data.' || event_type END AS topic, CASE WHEN event_type = 'error' THEN 'DELETE' ELSE 'UPSERT' END AS operation, user_id, value, props, ts, event_id FROM events"""

  val specs: Seq[QuerySpec] = Seq(
    spec("q7_latest_event_per_user", ((s, d) =>
      Upsert.latestPerKey(
        Tables.events(s, d).select(col("user_id"), col("event_id"), col("event_type"),
          col("value"), col("ts")),
        Seq("user_id"), struct(col("ts"), col("event_id")))
        .select(col("user_id"), col("event_id"), col("event_type"), col("value"))),
      """SELECT user_id, event_id, event_type, value FROM (
        | SELECT user_id, event_id, event_type, value,
        |  row_number() OVER (PARTITION BY user_id ORDER BY ts DESC, event_id DESC) AS rn
        | FROM events) WHERE rn = 1""".stripMargin,
      planNote = Some(
        "Latest-per-key as HashAggregate(max_by) with map-side partial aggregation — no Window, no sort; the shuffle carries one pre-reduced row per (mapper, key).")),
    spec("q20_cdc_transform_chain", ((s, d) => {
      val routed = Transforms.routeTable(Transforms.dropHeartbeats(cdcEnvelope(s, d)))
      val unwrapped = Transforms.unwrap(routed, "after", "operation",
        keep = Seq("event_id", "__table"))
      Transforms.renameFields(Transforms.flatten(unwrapped),
        Map("value_value" -> "value", "props_value" -> "props", "__table" -> "table_name"))
        .select(col("event_id"), col("table_name"), col("user_id"), col("value"),
          col("__deleted"))
    }),
      s"""WITH env AS ($cdcEnvelopeSql)
         |SELECT event_id,
         | regexp_extract(topic, 'scylla-cluster\\.app_data\\.(.*)', 1) AS table_name,
         | user_id, value,
         | CASE WHEN operation = 'DELETE' THEN 'true' ELSE 'false' END AS __deleted
         |FROM env WHERE NOT regexp_matches(topic, 'heartbeat\\..*')""".stripMargin),
    spec("q21_cdc_latest_state", ((s, d) =>
      Upsert.collapseBatch(
        Tables.events(s, d).select(col("user_id"), col("event_id"), col("event_type"),
          col("value"),
          (col("event_type") === "error").cast("string").as("__deleted"), col("ts")),
        Seq("user_id"), struct(col("ts"), col("event_id")), "__deleted")
        .select(col("user_id"), col("event_id"), col("event_type"), col("value"))),
      """SELECT user_id, event_id, event_type, value FROM (
        | SELECT user_id, event_id, event_type, value,
        |  row_number() OVER (PARTITION BY user_id ORDER BY ts DESC, event_id DESC) AS rn
        | FROM events) WHERE rn = 1 AND event_type <> 'error'""".stripMargin),
    spec("q22_cdc_partial_update", ((s, d) => {
      val ev = Tables.events(s, d).withColumn("value_p",
        when(col("event_type") === "view", lit(null).cast("double")).otherwise(col("value")))
      Upsert.lastNonNullPerKey(ev, Seq("user_id"),
        struct(col("ts"), col("event_id")), Seq("value_p"))
        .select(col("user_id"), col("value_p").as("last_value"))
    }),
      """WITH ev AS (SELECT user_id, ts, event_id,
        |  CASE WHEN event_type = 'view' THEN NULL ELSE value END AS value_p FROM events),
        |latest AS (SELECT user_id, value_p AS last_value FROM (
        |  SELECT user_id, value_p,
        |   row_number() OVER (PARTITION BY user_id ORDER BY ts DESC, event_id DESC) AS rn
        |  FROM ev WHERE value_p IS NOT NULL) WHERE rn = 1)
        |SELECT u.user_id, latest.last_value
        |FROM (SELECT DISTINCT user_id FROM events) u
        |LEFT JOIN latest ON u.user_id = latest.user_id""".stripMargin),
  )
}
