package graft
package registry

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Inputs and oracle fragments that queries of more than one family use;
  * each family object imports them.
  *
  * The reconciliation views (q5, q10–q17, q42, q254, q255) compare two
  * deterministic derivations of `orders`:
  *   source = orders minus keys divisible by 7
  *   target = orders minus keys divisible by 5, with o_totalprice
  *            perturbed by +0.5 where key divisible by 11
  * so missing / extra / mismatch / match all occur with known membership.
  */
object Shared {

  private[registry] def srcOrders(s: SparkSession, dir: String): DataFrame =
    Tables.orders(s, dir)
      .filter(col("o_orderkey") % 7 =!= 0)
      .select(col("o_orderkey"), col("o_orderstatus"), col("o_totalprice"))

  private[registry] def tgtOrders(s: SparkSession, dir: String): DataFrame =
    Tables.orders(s, dir)
      .filter(col("o_orderkey") % 5 =!= 0)
      .select(col("o_orderkey"), col("o_orderstatus"),
        (col("o_totalprice") +
          when(col("o_orderkey") % 11 === 0, 0.5).otherwise(0.0)).as("o_totalprice"))

  private[registry] val srcSql =
    "SELECT o_orderkey, o_orderstatus, o_totalprice FROM orders WHERE o_orderkey % 7 <> 0"

  private[registry] val tgtSql =
    "SELECT o_orderkey, o_orderstatus, o_totalprice + (CASE WHEN o_orderkey % 11 = 0 THEN 0.5 ELSE 0.0 END) AS o_totalprice FROM orders WHERE o_orderkey % 5 <> 0"

  /** Tolerant double equality in SQL, mirroring Comparer.valuesEqual. */
  private[registry] def eqDoubleSql(a: String, b: String, tol: String = "0.0001") =
    s"(($a IS NULL AND $b IS NULL) OR ($a IS NOT NULL AND $b IS NOT NULL AND abs($a - $b) < $tol))"

  /** DuckDB fragments computing graft.functions.TextHashes.poly over a
    * lambda variable `tok` (bases 257/263, mod 2³¹−1) — the cross-engine
    * hash behind the simhash and winnowing oracles. */
  private[registry] def polySql(base: Int): String =
    // list_filter guards the empty token: DuckDB string_split('','') is
    // [''] and unicode('') is -1, which would diverge from the Scala
    // fold's 0 — filtering empty chars yields reduce([0]) = 0 on both
    "list_reduce(list_prepend(CAST(0 AS BIGINT), " +
      "list_transform(list_filter(string_split(tok, ''), c -> c <> ''), " +
      "c -> CAST(unicode(c) AS BIGINT))), " +
      s"(acc, cp) -> (acc * $base + cp) % 2147483647)"

  private[registry] val polyAsql = polySql(257)

  private[registry] val polyBsql = polySql(263)

  private[registry] val enStop =
    "'the','a','of','and','to','in','is','that','it','for'"

  private[registry] val tokensSql = "regexp_split_to_array(trim(text), '\\s+')"

  private[registry] val fingerprintSql =
    "sha256(regexp_replace(lower(trim(text)), '\\s+', ' ', 'g'))"
}
