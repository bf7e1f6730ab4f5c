package graft.functions

import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types.{ArrayType, DataType, DoubleType}

/** Strict left-to-right dot product of two double arrays as a native
  * codegen expression.
  *
  * Why not `aggregate(zip_with(a, b, ...), ...)`: the higher-order
  * functions allocate an intermediate array and evaluate a lambda per
  * element per row — at N² similarity-pair volume that dominates the
  * query. This kernel is one tight loop, no allocation, and the codegen
  * path is a single static call so surrounding operators stay in
  * whole-stage codegen.
  *
  * The summation order (index 0 → n-1, one accumulator) is EXACTLY the
  * left fold the DuckDB oracles spell out with list_reduce — results are
  * bit-identical, so oracle parity is preserved.
  */
object VecDot {
  def compute(a: ArrayData, b: ArrayData): Double = {
    val n = math.min(a.numElements(), b.numElements())
    var acc = 0.0
    var i = 0
    while (i < n) {
      acc += a.getDouble(i) * b.getDouble(i)
      i += 1
    }
    acc
  }
}

case class VecDotExpr(left: Expression, right: Expression) extends BinaryExpression {

  override def dataType: DataType = DoubleType

  override def checkInputDataTypes(): TypeCheckResult =
    (left.dataType, right.dataType) match {
      case (ArrayType(DoubleType, _), ArrayType(DoubleType, _)) =>
        TypeCheckResult.TypeCheckSuccess
      case (l, r) => TypeCheckResult.TypeCheckFailure(
        s"vec_dot needs (array<double>, array<double>), got " +
          s"(${l.catalogString}, ${r.catalogString})")
    }

  override protected def nullSafeEval(a: Any, b: Any): Any =
    VecDot.compute(a.asInstanceOf[ArrayData], b.asInstanceOf[ArrayData])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, (a, b) => s"graft.functions.VecDot.compute($a, $b)")

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): VecDotExpr =
    copy(left = newLeft, right = newRight)

  override def prettyName: String = "vec_dot"
}
