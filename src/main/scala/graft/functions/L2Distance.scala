package graft.functions

import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types.{DataType, DoubleType}

/** Native Catalyst expression for squared L2 distance over two
  * `array<double>` columns — the codegen'd replacement for the
  * `aggregate(zip_with(...))` chain in the PQ kernel (one fused loop, no
  * intermediate difference array; the assignment stage evaluates this
  * |corpus|·m·k times, so lambda dispatch is the dominant cost).
  *
  * Numerics are bit-identical to the HOF formulation and the DuckDB
  * oracle: sequential index-order fold of (x-y)² — IEEE doubles are
  * deterministic given the same operation order.
  */
case class L2Distance(left: Expression, right: Expression)
    extends BinaryExpression {

  override def dataType: DataType = DoubleType
  override def prettyName: String = "l2_sq"

  override def nullSafeEval(a: Any, b: Any): Any =
    L2Distance.compute(a.asInstanceOf[ArrayData], b.asInstanceOf[ArrayData])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, (a, b) => s"graft.functions.L2Distance.compute($a, $b)")

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): Expression =
    copy(left = newLeft, right = newRight)
}

object L2Distance {
  def compute(x: ArrayData, y: ArrayData): Double = {
    val n = math.min(x.numElements(), y.numElements())
    var acc = 0.0; var i = 0
    while (i < n) {
      val d = x.getDouble(i) - y.getDouble(i)
      acc += d * d
      i += 1
    }
    acc
  }
}
