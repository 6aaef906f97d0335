package graft.functions

import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types.{DataType, LongType}

/** Native Catalyst expression: 32-bit SimHash of a pre-hashed token array
  * (`array<long>`) in ONE pass — bit j of the result is set iff a strict
  * majority of elements have bit j set (tie → 0). Registered as
  * `simhash32(th)`.
  *
  * Replaces the HOF formulation (`transform(sequence(0,31), j ->
  * aggregate(th, ...))`), which walks the token array 32 times through
  * interpreted lambdas with boxed accumulators — measured ~1.0 s for the
  * signature scan at sf0.1 where this kernel runs the same majority vote
  * in ~32n unboxed bit ops inside whole-stage codegen. (The round-2
  * bench's 0.09 s for that scan was a cache-substitution artifact —
  * `simhash_banded`'s barrier'd signature frame has the identical plan
  * and was still live; with per-query cache hygiene the HOF cost is
  * real and this kernel removes it.)
  *
  * Bit-identical to the DuckDB oracle's `list_sum(list_transform(...))`
  * majority vote (same strict `2·ones > n` rule), so the sketch queries
  * stay hash-green against the unchanged SQL twin.
  */
case class SimHash32(child: Expression) extends UnaryExpression {

  override def dataType: DataType = LongType
  override def prettyName: String = "simhash32"

  override def nullSafeEval(a: Any): Any = SimHash32.compute(a.asInstanceOf[ArrayData])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, a => s"graft.functions.SimHash32.compute($a)")

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

object SimHash32 {
  def compute(x: ArrayData): Long = {
    val n = x.numElements()
    val cnt = new Array[Int](32)
    var i = 0
    while (i < n) {
      val h = x.getLong(i)
      var j = 0
      while (j < 32) { cnt(j) += ((h >>> j) & 1L).toInt; j += 1 }
      i += 1
    }
    var out = 0L
    var j = 0
    while (j < 32) { if (2 * cnt(j) > n) out |= 1L << j; j += 1 }
    out
  }
}
