package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions.{floor, lit, log, pmod}
import org.apache.spark.sql.types.DecimalType

/** The exact-arithmetic policy every oracle-checked query shares, as
  * plain `Column` helpers (the comparer normalizes Decimal and float
  * values before it compares, `comparer.py:209-211,261-267`; this is the
  * engine side of that contract):
  *
  *  - floor division is `(a − pmod(a, b)) / b`, then a cast — `pmod` is
  *    never negative, so the quotient rounds toward −∞, not toward 0;
  *  - cross-multiplications that can pass 2⁶³ run in `DECIMAL(38,0)`;
  *  - the fixed-point log is `⌊ln(x)·10⁶⌋` in double precision, the ln
  *    the DuckDB oracle computes too.
  *
  * Precondition: `/` divides in double. With long operands the
  * numerator must stay below 2⁵³, or the double quotient rounds before
  * the cast and [[fdiv]] is off by one. With `DECIMAL(38,0)` operands
  * (wrap them in [[dec]]) the division is exact.
  *
  * The query modules import these helpers; none declares its own copy,
  * so one module's rounding cannot drift from another's. */
object Exact {
  private final val MicrosPerDay = 86400000000L

  /** Cast to `DECIMAL(38,0)`, the exact type for wide products. */
  def dec(c: Column): Column = c.cast(DecimalType(38, 0))

  /** ⌊num / den⌋ as a long. */
  def fdiv(num: Column, den: Column): Column =
    ((num - pmod(num, den)) / den).cast("long")

  /** ⌊num / den⌋ as a long, for a constant denominator. */
  def fdiv(num: Column, den: Long): Column =
    ((num - pmod(num, lit(den))) / lit(den)).cast("long")

  /** ⌊num / den⌋ as a `DECIMAL(38,0)`, for quotients that stay wide. */
  def fdivDec(num: Column, den: Column): Column =
    ((num - pmod(num, den)) / den).cast(DecimalType(38, 0))

  /** ⌈a / b⌉ for a positive constant `b`. No cast: callers compare or
    * cast the (integral) double themselves. */
  def ceilDiv(a: Column, b: Long): Column =
    (a + (b - 1) - pmod(a + (b - 1), lit(b))) / b

  /** Epoch microseconds to the floor day number (day −1 is 1969-12-31). */
  def dayNum(t: Column): Column = fdiv(t, MicrosPerDay)

  /** ⌊ln(c)·10⁶⌋ as a long. Must agree with the scalar `lfp(x: Long)`. */
  def lfp(c: Column): Column =
    floor(log(c.cast("double")) * lit(1000000L)).cast("long")

  /** ⌊ln(x)·10⁶⌋ in Scala, for native kernels that replicate the SQL
    * fold (`EntropyKernels.charEntropy`). Must agree with `lfp(c: Column)`. */
  def lfp(x: Long): Long =
    math.floor(math.log(x.toDouble) * 1000000L).toLong
}
