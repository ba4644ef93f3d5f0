package graft.functions

import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types.{DataType, DoubleType}

/** Native Catalyst expression: sequential-fold dot product of two
  * `array<double>` columns.
  *
  * Why a custom Expression: Spark's higher-order functions
  * (`zip_with` + `aggregate`) are CodegenFallback — every row pays
  * interpreted lambda dispatch plus an intermediate array allocation. For
  * similarity search the dot product IS the hot loop (millions of
  * candidate pairs x vector dim); this expression is one static call
  * inside WholeStageCodegen with two primitive-array copies and a tight
  * scalar loop.
  *
  * Semantics match the HOF formulation exactly: products and the
  * accumulating sum run left-to-right in double precision — the same fold
  * as DuckDB's `list_dot_product`, so oracle hashes are unaffected.
  * Null array → null (via BinaryExpression nullSafeEval); elements are
  * assumed non-null (embedding vectors).
  */
case class VecDot(left: Expression, right: Expression) extends BinaryExpression {

  override def dataType: DataType = DoubleType
  override def prettyName: String = "vec_dot"

  override protected def nullSafeEval(a: Any, b: Any): Any =
    VecDot.compute(
      a.asInstanceOf[ArrayData].toDoubleArray(),
      b.asInstanceOf[ArrayData].toDoubleArray())

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, (x, y) =>
      s"graft.functions.VecDot.compute($x.toDoubleArray(), $y.toDoubleArray())")

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): VecDot =
    copy(left = newLeft, right = newRight)
}

object VecDot {
  /** Left-to-right fold; same result order as aggregate(zip_with(...)). */
  def compute(a: Array[Double], b: Array[Double]): Double = {
    val n = math.min(a.length, b.length)
    var s = 0.0
    var i = 0
    while (i < n) { s += a(i) * b(i); i += 1 }
    s
  }
}
