package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, GenericInternalRow, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.types.{DataType, LongType, StringType, StructField, StructType}
import org.apache.spark.unsafe.types.UTF8String

import graft.functions.Exact.lfp

/** Kernel behind [[CharEntropy]] — one static entry point shared by the
  * interpreted and generated paths. */
object EntropyKernels {
  /** Fixed-point character entropy of one document, replicating the
    * explode→(doc,char) hash-agg→per-doc fold SQL shape EXACTLY:
    * counts are per Unicode code point (what `regexp_extract_all(s,
    * '[\s\S]')` matched one at a time — a lone surrogate counts as one
    * character there too, which `codePointAt` mirrors), the weighted
    * sum Σ c·⌊ln c·10⁶⌋ is exact 64-bit integer arithmetic, and the
    * final division is one floor division by n (`floorDiv` ≡ the SQL
    * `(x − pmod(x, n)) / n`). Returns (n_chars_counted, entropy_fp);
    * the empty string has no characters and returns (0, 0). */
  def charEntropy(s: UTF8String): InternalRow = {
    val str = s.toString
    val counts = new java.util.HashMap[Integer, Array[Long]]()
    var i = 0
    var n = 0L
    while (i < str.length) {
      val cp = str.codePointAt(i)
      val slot = counts.get(cp)
      if (slot == null) counts.put(cp, Array(1L)) else slot(0) += 1L
      n += 1L
      i += Character.charCount(cp)
    }
    var wsum = 0L
    val it = counts.values().iterator()
    while (it.hasNext) {
      val c = it.next()(0)
      wsum += c * lfp(c)
    }
    val entropy = if (n == 0L) 0L else java.lang.Math.floorDiv(lfp(n) * n - wsum, n)
    new GenericInternalRow(Array[Any](n, entropy))
  }
}

/** Per-document fixed-point character entropy as ONE native codegen
  * expression — `struct(n_chars_counted, entropy_fp)` per row. The SQL
  * shape it replaces (explode to one row PER CHARACTER, a (doc, char)
  * hash-agg, a per-doc rollup) pays two exchanges and materializes a
  * row per corpus character; this is a single fused pass over the
  * string with an alphabet-sized local map, bit-identical by the kernel
  * contract above (TextSpec pins native ≡ SQL shape on a Unicode
  * corpus). NULL in → NULL out; the empty string → (0, 0) (entropy of
  * zero characters is undefined, so the DF API keeps its `length > 0`
  * gate; the guard keeps plain-SQL callers from dividing by zero). */
case class CharEntropy(child: Expression) extends UnaryExpression {
  override def dataType: DataType = StructType(Seq(
    StructField("n_chars_counted", LongType, nullable = false),
    StructField("entropy_fp", LongType, nullable = false)))
  override def prettyName: String = "char_entropy"

  override def checkInputDataTypes(): TypeCheckResult =
    if (child.dataType == StringType) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"char_entropy expects string, got ${child.dataType.simpleString}")

  override def nullSafeEval(input: Any): Any =
    EntropyKernels.charEntropy(input.asInstanceOf[UTF8String])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.functions.EntropyKernels.charEntropy($c)")

  override protected def withNewChildInternal(newChild: Expression): CharEntropy =
    copy(child = newChild)
}

object EntropyExpressions {
  import org.apache.spark.sql.GraftColumnBridge.{toColumn, toExpr}

  def charEntropy(c: Column): Column = toColumn(CharEntropy(toExpr(c)))
}
