package graft.util

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Skew-handling utilities (SURVEY §4 partitioning row; the reference
  * delegates this to Kafka partition counts — at 100 TB a handful of hot
  * keys will overwhelm any static partitioning, and AQE's skew-join
  * splitting only covers sort-merge joins).
  *
  * Salted aggregation: two-phase — per-(key, salt) partial aggregate
  * (spreads a hot key over `salts` reducers), then final combine per key.
  * Salted join: replicate the small side `salts` times so each salted
  * shard of the big side finds its match.
  */
object Salting {

  /** Bounded salt width for the pair-verification repartitions
    * ([[graft.text.Dedup]], [[graft.text.TextAnalysis]]): wide enough to
    * break a hot id_a across tasks, narrow enough that the (id_a, salt)
    * key space stays ≫ partition count (guide §2.5's 20-100× rule is
    * carried by id_a's own cardinality). */
  val pairSalt = 16

  def withSalt(df: DataFrame, salts: Int, out: String = "__salt"): DataFrame =
    df.withColumn(out, pmod(spark_partition_id() + monotonically_increasing_id(), lit(salts)).cast("int"))

  /** Two-phase salted count per key — the shape for any associative agg:
    * phase 1 groupBy(key, salt), phase 2 groupBy(key). */
  def saltedCount(df: DataFrame, keys: Seq[String], salts: Int): DataFrame =
    withSalt(df, salts)
      .groupBy((keys :+ "__salt").map(col): _*)
      .agg(count(lit(1)).as("__partial"))
      .groupBy(keys.map(col): _*)
      .agg(sum(col("__partial")).as("n"))

  /** Salted equi-join for a skewed LEFT side against a small-ish right
    * side: left rows get a random-ish salt in [0, salts); right rows are
    * exploded across all salts. One shuffle each, hot keys spread. */
  def saltedJoin(skewed: DataFrame, small: DataFrame, keys: Seq[String],
      salts: Int, joinType: String = "inner"): DataFrame = {
    val l = withSalt(skewed, salts)
    val r = small.withColumn("__salt",
      explode(sequence(lit(0), lit(salts - 1))))
    l.join(r, keys :+ "__salt", joinType).drop("__salt")
  }
}
