package graft
package registry

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType

import graft.reconcile.Differ
import graft.repair.Repairer
import graft.text.TextAnalysis
import Shared._

/** Source-vs-target reconciliation (SURVEY §2.3 joins / set ops, §2.8
  * repair plan as a query) over the [[Shared]] order views. */
object ReconcileQueries extends QueryFamily("reconcile") {

  val specs: Seq[QuerySpec] = Seq(
    spec("q10_missing_in_target", ((s, d) =>
      Differ.findMissingInTarget(srcOrders(s, d), tgtOrders(s, d), Seq("o_orderkey"))),
      s"""WITH src AS ($srcSql), tgt AS ($tgtSql)
         |SELECT * FROM src WHERE o_orderkey NOT IN (SELECT o_orderkey FROM tgt)""".stripMargin),
    spec("q11_extra_in_target", ((s, d) =>
      Differ.findExtraInTarget(srcOrders(s, d), tgtOrders(s, d), Seq("o_orderkey"))),
      s"""WITH src AS ($srcSql), tgt AS ($tgtSql)
         |SELECT * FROM tgt WHERE o_orderkey NOT IN (SELECT o_orderkey FROM src)""".stripMargin),
    spec("q12_mismatches", ((s, d) =>
      Differ.findMismatches(srcOrders(s, d), tgtOrders(s, d), Seq("o_orderkey"))),
      s"""WITH src AS ($srcSql), tgt AS ($tgtSql)
         |SELECT s.o_orderkey,
         | s.o_orderstatus AS src_o_orderstatus, s.o_totalprice AS src_o_totalprice,
         | t.o_orderstatus AS tgt_o_orderstatus, t.o_totalprice AS tgt_o_totalprice
         |FROM src s JOIN tgt t ON s.o_orderkey = t.o_orderkey
         |WHERE NOT ((s.o_orderstatus IS NOT DISTINCT FROM t.o_orderstatus)
         |  AND ${eqDoubleSql("s.o_totalprice", "t.o_totalprice")})""".stripMargin),
    spec("q13_all_discrepancies", ((s, d) =>
      Differ.findAllDiscrepancies(srcOrders(s, d), tgtOrders(s, d), Seq("o_orderkey"))),
      s"""WITH src AS ($srcSql), tgt AS ($tgtSql)
         |SELECT coalesce(s.o_orderkey, t.o_orderkey) AS o_orderkey,
         | s.o_orderstatus AS src_o_orderstatus, s.o_totalprice AS src_o_totalprice,
         | t.o_orderstatus AS tgt_o_orderstatus, t.o_totalprice AS tgt_o_totalprice,
         | CASE WHEN t.o_orderkey IS NULL THEN 'missing_in_target'
         |      WHEN s.o_orderkey IS NULL THEN 'extra_in_target'
         |      WHEN NOT ((s.o_orderstatus IS NOT DISTINCT FROM t.o_orderstatus)
         |        AND ${eqDoubleSql("s.o_totalprice", "t.o_totalprice")}) THEN 'mismatch'
         |      ELSE 'match' END AS discrepancy_type
         |FROM src s FULL OUTER JOIN tgt t ON s.o_orderkey = t.o_orderkey
         |WHERE NOT (t.o_orderkey IS NOT NULL AND s.o_orderkey IS NOT NULL
         |  AND (s.o_orderstatus IS NOT DISTINCT FROM t.o_orderstatus)
         |  AND ${eqDoubleSql("s.o_totalprice", "t.o_totalprice")})""".stripMargin,
      planNote = Some(
        "The whole reconciliation family is this ONE full-outer equi-join on the key; discrepancy typing is a projection on top. AQE may convert to broadcast at small SF.")),
    spec("q14_discrepancy_summary", ((s, d) =>
      Differ.discrepancySummary(srcOrders(s, d), tgtOrders(s, d), Seq("o_orderkey"))),
      s"""WITH src AS ($srcSql), tgt AS ($tgtSql)
         |SELECT CASE WHEN t.o_orderkey IS NULL THEN 'missing_in_target'
         |      WHEN s.o_orderkey IS NULL THEN 'extra_in_target'
         |      WHEN NOT ((s.o_orderstatus IS NOT DISTINCT FROM t.o_orderstatus)
         |        AND ${eqDoubleSql("s.o_totalprice", "t.o_totalprice")}) THEN 'mismatch'
         |      ELSE 'match' END AS discrepancy_type, count(*) AS n
         |FROM src s FULL OUTER JOIN tgt t ON s.o_orderkey = t.o_orderkey
         |GROUP BY 1""".stripMargin),
    spec("q15_match_percentage", ((s, d) =>
      Differ.matchPercentage(srcOrders(s, d), tgtOrders(s, d), Seq("o_orderkey"))),
      s"""WITH src AS ($srcSql), tgt AS ($tgtSql),
         |d AS (SELECT CASE WHEN t.o_orderkey IS NULL THEN 'missing_in_target'
         |      WHEN s.o_orderkey IS NULL THEN 'extra_in_target'
         |      WHEN NOT ((s.o_orderstatus IS NOT DISTINCT FROM t.o_orderstatus)
         |        AND ${eqDoubleSql("s.o_totalprice", "t.o_totalprice")}) THEN 'mismatch'
         |      ELSE 'match' END AS t
         |  FROM src s FULL OUTER JOIN tgt t ON s.o_orderkey = t.o_orderkey)
         |SELECT round(CAST(sum(CASE WHEN t = 'match' THEN 1 ELSE 0 END) AS DOUBLE)
         |  / sum(CASE WHEN t <> 'extra_in_target' THEN 1 ELSE 0 END) * 100.0, 2) AS match_pct
         |FROM d""".stripMargin),
    spec("q16_duplicates", ((s, d) =>
      Differ.findDuplicates(Tables.lineitem(s, d), Seq("l_orderkey"))),
      "SELECT l_orderkey, count(*) AS n FROM lineitem GROUP BY 1 HAVING count(*) > 1"),
    spec("q17_mismatch_fields", ((s, d) => {
      def priceDec(df: DataFrame) = df.withColumn("o_totalprice",
        col("o_totalprice").cast(DecimalType(18, 2)))
      Differ.findMismatchesDetailed(priceDec(srcOrders(s, d)), priceDec(tgtOrders(s, d)),
        Seq("o_orderkey"))
    }),
      s"""WITH src AS ($srcSql), tgt AS ($tgtSql)
         |SELECT s.o_orderkey, 'o_totalprice' AS field,
         | CAST(CAST(s.o_totalprice AS DECIMAL(18,2)) AS VARCHAR) AS src_value,
         | CAST(CAST(t.o_totalprice AS DECIMAL(18,2)) AS VARCHAR) AS tgt_value
         |FROM src s JOIN tgt t ON s.o_orderkey = t.o_orderkey
         |WHERE CAST(s.o_totalprice AS DECIMAL(18,2)) <> CAST(t.o_totalprice AS DECIMAL(18,2))""".stripMargin),
    // q89: corpus snapshot diff — the reconciliation engine (J6's one
    // full-outer join) applied to corpus snapshots by fingerprint:
    // added / removed / changed docs between today's corpus and a
    // deterministically derived next snapshot (% 17 removed, % 13
    // edited — the srcOrders/tgtOrders pattern on documents)
    spec("q89_corpus_snapshot_diff", ((s, d) => {
      val a = Tables.documents(s, d).select(col("doc_id"),
        TextAnalysis.fingerprint(col("text")).as("fp"))
      val b = Tables.documents(s, d).filter(col("doc_id") % 17 =!= 0)
        .select(col("doc_id"), TextAnalysis.fingerprint(
          when(col("doc_id") % 13 === 0, concat(col("text"), lit(" updated")))
            .otherwise(col("text"))).as("fp"))
      Differ.findAllDiscrepancies(a, b, Seq("doc_id"))
    }),
      // q89: the q13 full-outer shape on fingerprints of the two derived
      // snapshots
      s"""WITH a AS (SELECT doc_id, $fingerprintSql AS fp FROM documents),
         |b AS (SELECT doc_id, sha256(regexp_replace(lower(trim(
         |    CASE WHEN doc_id % 13 = 0 THEN text || ' updated' ELSE text END)),
         |    '\\s+', ' ', 'g')) AS fp
         |  FROM documents WHERE doc_id % 17 <> 0)
         |SELECT coalesce(a.doc_id, b.doc_id) AS doc_id,
         |  a.fp AS src_fp, b.fp AS tgt_fp,
         |  CASE WHEN b.doc_id IS NULL THEN 'missing_in_target'
         |       WHEN a.doc_id IS NULL THEN 'extra_in_target'
         |       WHEN a.fp <> b.fp THEN 'mismatch' ELSE 'match' END AS discrepancy_type
         |FROM a FULL OUTER JOIN b ON a.doc_id = b.doc_id
         |WHERE NOT (a.doc_id IS NOT NULL AND b.doc_id IS NOT NULL AND a.fp = b.fp)""".stripMargin),
    spec("q42_repair_plan", ((s, d) => {
      val disc = Differ.findAllDiscrepancies(srcOrders(s, d), tgtOrders(s, d),
        Seq("o_orderkey"))
      Repairer.generateRepairActions(disc, "cdc_data", "orders",
        Seq("o_orderkey"), Seq("o_orderstatus", "o_totalprice"))
        .select(col("priority"), col("action_type"), col("target_key"))
    }),
      s"""WITH src AS ($srcSql), tgt AS ($tgtSql),
         |d AS (SELECT coalesce(s.o_orderkey, t.o_orderkey) AS k,
         |  CASE WHEN t.o_orderkey IS NULL THEN 'missing_in_target'
         |       WHEN s.o_orderkey IS NULL THEN 'extra_in_target'
         |       WHEN NOT ((s.o_orderstatus IS NOT DISTINCT FROM t.o_orderstatus)
         |         AND ${eqDoubleSql("s.o_totalprice", "t.o_totalprice")}) THEN 'mismatch'
         |       ELSE 'match' END AS dtype
         | FROM src s FULL OUTER JOIN tgt t ON s.o_orderkey = t.o_orderkey)
         |SELECT CASE dtype WHEN 'extra_in_target' THEN 0
         |                  WHEN 'missing_in_target' THEN 1 ELSE 2 END AS priority,
         | CASE dtype WHEN 'extra_in_target' THEN 'DELETE'
         |            WHEN 'missing_in_target' THEN 'INSERT' ELSE 'UPDATE' END AS action_type,
         | '"o_orderkey" = ' || CAST(k AS VARCHAR) AS target_key
         |FROM d WHERE dtype <> 'match'""".stripMargin),
  )
}
