package graft.functions

import org.apache.spark.sql.Row
import org.scalatest.funsuite.AnyFunSuite

/** The SQL surface of every native kernel, installed via
  * SparkSessionExtensions — a plain-SQL user gets the same codegen'd
  * expressions the Column API uses. */
class GraftExtensionsSpec extends AnyFunSuite {

  // the shared test session is built without extensions, so install the
  // same function table as GraftExtensions through registerAll
  private lazy val spark = {
    val s = graft.TestSpark.spark
    GraftFunctions.registerAll(s)
    s
  }

  test("all engine functions resolve and compute from plain SQL") {
    val r = spark.sql(
      """SELECT
        | tolerant_equals(CAST(1.0 AS DOUBLE), CAST(1.00005 AS DOUBLE), CAST(0.0001 AS DOUBLE)) AS te,
        | round(cosine_similarity(array(1.0D, 0.0D), array(1.0D, 0.0D)), 6) AS cos,
        | dot_product(array(1.0D, 2.0D), array(3.0D, 4.0D)) AS dot,
        | poly_hash62('ab') AS ph,
        | simhash62(array('the', 'quick', 'fox')) AS sh,
        | size(minhash_sig(array(CAST(7 AS BIGINT), CAST(9 AS BIGINT)), 8)) AS mh_n,
        | size(shingle_hashes(array('a', 'b', 'c', 'd'), 2)) AS sg_n
        |""".stripMargin).head()
    assert(r.getBoolean(0))
    assert(r.getDouble(1) == 1.0)
    assert(r.getDouble(2) == 11.0)
    // poly_hash62('ab') = h257 + (h263 << 31); h257 = 97*257+98 = 25027
    assert(r.getLong(3) == 25027L + ((97L * 263 + 98) << 31))
    assert(r.getLong(4) >= 0L) // 62-bit sketch is non-negative
    assert(r.getInt(5) == 8 && r.getInt(6) == 3)
  }

  test("SQL and Column API produce identical values") {
    import spark.implicits._
    val df = Seq(("the quick brown fox", 1)).toDF("text", "one")
    val viaCol = df.select(
      graft.text.TextAnalysis.simhash62($"text").as("sh")).head().getLong(0)
    df.createOrReplaceTempView("t")
    val viaSql = spark.sql(
      "SELECT simhash62(split(trim(text), '\\\\s+')) AS sh FROM t").head().getLong(0)
    assert(viaCol == viaSql)
  }

  test("char_entropy of the empty string is (0, 0), not a division by zero") {
    val r = spark.sql(
      "SELECT char_entropy('') AS e, char_entropy(s) AS f " +
        "FROM VALUES (''), ('ab') AS t(s) ORDER BY s").collect()
    assert(r.map(_.getStruct(0)).toSeq == Seq(Row(0L, 0L), Row(0L, 0L)))
    // two distinct characters: ⌊(⌊ln 2·10⁶⌋·2 − 0) / 2⌋
    assert(r.map(_.getStruct(1)).toSeq == Seq(Row(0L, 0L), Row(2L, 693147L)))
  }
}
