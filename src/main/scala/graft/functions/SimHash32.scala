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

  override def nullSafeEval(a: Any): Any = {
    val x = a.asInstanceOf[ArrayData]
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

  // loop vars freshName'd too: even `for (int i ...)` is a Janino
  // redefinition error when the enclosing generated function declares i
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, a => {
      val cnt = ctx.freshName("cnt")
      val n = ctx.freshName("n")
      val i = ctx.freshName("i"); val j = ctx.freshName("j")
      val j2 = ctx.freshName("j2"); val h = ctx.freshName("h")
      s"""
         |int $n = $a.numElements();
         |int[] $cnt = new int[32];
         |for (int $i = 0; $i < $n; $i++) {
         |  long $h = $a.getLong($i);
         |  for (int $j = 0; $j < 32; $j++) { $cnt[$j] += (int) (($h >>> $j) & 1L); }
         |}
         |${ev.value} = 0L;
         |for (int $j2 = 0; $j2 < 32; $j2++) {
         |  if (2 * $cnt[$j2] > $n) ${ev.value} |= 1L << $j2;
         |}
       """.stripMargin
    })

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}
