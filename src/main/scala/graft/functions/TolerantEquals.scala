package graft.functions

import org.apache.spark.sql.{Column, SparkSession}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Expression, TernaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode, FalseLiteral}
import org.apache.spark.sql.catalyst.expressions.codegen.Block._
import org.apache.spark.sql.types.{AbstractDataType, BooleanType, DataType, DoubleType}

/** Native Catalyst expression for the comparer's tolerant float equality
  * (reference semantics `comparer.py:265-267`; SURVEY §2.12 flags this as
  * the one kernel worth a custom Expression once codegen matters).
  *
  * Semantics — exactly the Column composition in
  * [[graft.compare.Comparer.valuesEqual]]:
  *   NULL ≈ NULL → true;  one NULL → false;  else |l − r| < tolerance.
  * Never null-valued itself, which is why this overrides `eval`/
  * `doGenCode` directly instead of using nullSafeEval (the default
  * TernaryExpression null handling would return NULL on NULL input).
  *
  * The generated code is three child evals + one branch-free boolean —
  * it fuses into the surrounding WholeStageCodegen, where the composed
  * five-node expression tree previously produced five codegen segments.
  */
case class TolerantEquals(left: Expression, right: Expression,
    tolerance: Expression) extends TernaryExpression {

  override def first: Expression = left
  override def second: Expression = right
  override def third: Expression = tolerance

  override def dataType: DataType = BooleanType
  override def nullable: Boolean = false
  override def checkInputDataTypes()
      : org.apache.spark.sql.catalyst.analysis.TypeCheckResult = {
    val ok = children.forall(_.dataType == DoubleType)
    if (ok) org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
    else org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
      s"tolerant_equals expects (double, double, double), got " +
        children.map(_.dataType.simpleString).mkString(", "))
  }

  override def eval(input: InternalRow): Any = {
    val l = left.eval(input)
    val r = right.eval(input)
    if (l == null && r == null) true
    else if (l == null || r == null) false
    else {
      val tol = tolerance.eval(input)
      tol != null &&
        math.abs(l.asInstanceOf[Double] - r.asInstanceOf[Double]) <
          tol.asInstanceOf[Double]
    }
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val l = left.genCode(ctx)
    val r = right.genCode(ctx)
    val t = tolerance.genCode(ctx)
    val code =
      code"""
        |${l.code}
        |${r.code}
        |${t.code}
        |final boolean ${ev.value} =
        |  (${l.isNull} && ${r.isNull}) ||
        |  (!${l.isNull} && !${r.isNull} && !${t.isNull} &&
        |   java.lang.Math.abs(${l.value} - ${r.value}) < ${t.value});
      """.stripMargin
    ev.copy(code = code, isNull = FalseLiteral)
  }

  override protected def withNewChildrenInternal(newFirst: Expression,
      newSecond: Expression, newThird: Expression): TolerantEquals =
    copy(left = newFirst, right = newSecond, tolerance = newThird)
}

object TolerantEquals {

  /** Column-level entry point. */
  def tolerantEquals(l: Column, r: Column, tolerance: Double): Column = {
    import org.apache.spark.sql.GraftColumnBridge.{toColumn, toExpr}
    toColumn(TolerantEquals(toExpr(l), toExpr(r),
      toExpr(org.apache.spark.sql.functions.lit(tolerance))))
  }

  /** Register `tolerant_equals(l, r, tol)` for SQL use; on a cluster this
    * lives in a SparkSessionExtensions (see [[GraftExtensions]]). */
  def register(spark: SparkSession): Unit =
    spark.sessionState.functionRegistry.createOrReplaceTempFunction(
      "tolerant_equals",
      exprs => TolerantEquals(exprs(0), exprs(1), exprs(2)),
      "scala_udf")
}

/** The engine's SQL function surface — one table consumed by BOTH
  * installation paths, so `spark.sql("SELECT cosine_similarity(...)")`
  * always hits the identical codegen'd expression the Column API uses:
  *   - cluster: `spark.sql.extensions=graft.functions.GraftExtensions`
  *     (or `.withExtensions(new GraftExtensions)`) at session build
  *   - existing session: `GraftFunctions.registerAll(spark)` (builder
  *     extensions are silently ignored by `getOrCreate` on a live
  *     session — this path works there) */
object GraftFunctions {

  private def intLit(e: Expression, what: String): Int = e match {
    case org.apache.spark.sql.catalyst.expressions.Literal(n: Int, _) => n
    case other => throw new IllegalArgumentException(
      s"$what must be an int literal, got $other")
  }

  val all: Seq[(String, Class[_], Seq[Expression] => Expression)] = Seq(
    ("tolerant_equals", classOf[TolerantEquals],
      exprs => TolerantEquals(exprs(0), exprs(1), exprs(2))),
    ("cosine_similarity", classOf[CosineSimilarity],
      exprs => CosineSimilarity(exprs(0), exprs(1))),
    ("dot_product", classOf[DotProduct],
      exprs => DotProduct(exprs(0), exprs(1))),
    ("poly_hash62", classOf[PolyHash62], exprs => PolyHash62(exprs(0))),
    ("simhash62", classOf[SimHash62], exprs => SimHash62(exprs(0))),
    ("char_entropy", classOf[CharEntropy], exprs => CharEntropy(exprs(0))),
    ("minhash_sig", classOf[MinHashSig],
      exprs => MinHashSig(exprs(0), intLit(exprs(1), "minhash_sig numHashes"))),
    ("shingle_hashes", classOf[ShingleHashes],
      exprs => ShingleHashes(exprs(0), intLit(exprs(1), "shingle_hashes k"),
        distinct = exprs.length > 2 && (exprs(2) match {
          case org.apache.spark.sql.catalyst.expressions.Literal(b: Boolean, _) => b
          case other => throw new IllegalArgumentException(
            s"shingle_hashes distinct flag must be a boolean literal, got $other")
        }))))

  /** Register every function into an already-running session. */
  def registerAll(spark: SparkSession): Unit =
    all.foreach { case (name, _, builder) =>
      spark.sessionState.functionRegistry.createOrReplaceTempFunction(
        name, builder, "scala_udf")
    }
}

/** Session extension installing [[GraftFunctions.all]]: pass
  * `new GraftExtensions` to a session builder's `withExtensions`, or set
  * `spark.sql.extensions=graft.functions.GraftExtensions`. */
class GraftExtensions extends (org.apache.spark.sql.SparkSessionExtensions => Unit) {
  import org.apache.spark.sql.catalyst.FunctionIdentifier
  import org.apache.spark.sql.catalyst.expressions.ExpressionInfo

  override def apply(e: org.apache.spark.sql.SparkSessionExtensions): Unit =
    GraftFunctions.all.foreach { case (name, clazz, builder) =>
      e.injectFunction((FunctionIdentifier(name),
        new ExpressionInfo(clazz.getName, name), builder))
    }
}
