package graft.functions

import graft.SparkSpec
import graft.functions.Exact._
import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DecimalType, DoubleType}

/** The exact-arithmetic policy every oracle-checked query shares. */
class ExactSpec extends SparkSpec {

  private def one(c: Column): org.apache.spark.sql.Row =
    spark.range(1).select(c.as("v")).head()

  test("fdiv floors toward −∞, it does not truncate toward 0") {
    assert(one(fdiv(lit(-7L), lit(2L))).getLong(0) == -4L)
    assert(one(fdiv(lit(-7L), 2L)).getLong(0) == -4L)
    assert(one(fdiv(lit(7L), lit(2L))).getLong(0) == 3L)
    assert(one(fdiv(lit(-8L), 2L)).getLong(0) == -4L)
  }

  test("fdivDec floors and stays DECIMAL(38,0)") {
    val df = spark.range(1).select(fdivDec(dec(lit(-7L)), dec(lit(2L))).as("v"))
    assert(df.schema("v").dataType == DecimalType(38, 0))
    assert(df.head().getDecimal(0).longValueExact == -4L)
  }

  test("dayNum buckets a pre-1970 instant into day −1") {
    val day = 86400000000L
    assert(one(dayNum(lit(-1L))).getLong(0) == -1L)
    assert(one(dayNum(lit(0L))).getLong(0) == 0L)
    assert(one(dayNum(lit(day - 1))).getLong(0) == 0L)
    assert(one(dayNum(lit(day))).getLong(0) == 1L)
    assert(one(dayNum(lit(-day))).getLong(0) == -1L)
  }

  test("ceilDiv on an exact multiple, on a remainder and on a negative") {
    val df = spark.range(1).select(ceilDiv(lit(10L), 5L).as("m"),
      ceilDiv(lit(11L), 5L).as("r"), ceilDiv(lit(-11L), 5L).as("n"))
    assert(df.schema("m").dataType == DoubleType)
    val r = df.head()
    assert((r.getDouble(0), r.getDouble(1), r.getDouble(2)) == ((2.0, 3.0, -2.0)))
  }

  test("lfp(1) is 0, and the Column and Long forms agree") {
    assert(lfp(1L) == 0L)
    assert(one(lfp(lit(1L))).getLong(0) == 0L)
    val xs = Seq(1L, 2L, 3L, 1000000L, Int.MaxValue.toLong)
    val sql = spark.createDataFrame(xs.map(Tuple1(_))).toDF("x")
      .select(col("x"), lfp(col("x")).as("l")).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(sql == xs.map(x => x -> lfp(x)).toMap)
    assert(sql(2L) == 693147L && sql(1000000L) == 13815510L)
  }
}
