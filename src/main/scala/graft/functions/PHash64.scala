package graft.functions

import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.types.{DataType, LongType}
import org.apache.spark.unsafe.types.UTF8String

/** Native Catalyst expression for a 64-bit perceptual difference hash
  * (dHash) over a media payload's stub-decoded "luma plane".
  *
  * The classic image recipe — resize to a 9×8 luma grid, emit one bit
  * per horizontally adjacent cell pair (left < right) — applied to the
  * stand-in payloads this corpus uses for media ([[graft.operators.Multimodal]]:
  * `documents.text` bytes play the role of image content, the codec is
  * stubbed): the "resize" maps the payload onto 72 equal slices and each
  * cell is the AVERAGE char code of its slice. Averages are the point —
  * they are locally stable, so a small payload edit perturbs only the
  * cells whose slices cover it and the hash moves by a few bits, exactly
  * the property a perceptual hash needs (an avalanche digest per cell
  * would randomize the whole hash on any edit; measured: zero pairs
  * within Hamming 10 on the corpus with md5 cells). A real deployment
  * swaps the slice-average for the decoded luma grid; the hash layout,
  * banding, and confirm stay.
  *
  * Cell i ∈ [0,72) covers chars [⌊i·L/72⌋, ⌊(i+1)·L/72⌋); empty slices
  * (L < 72) contribute 0. Bit k ∈ [0,64): row r = k/8, col c = k%8, set
  * iff cell(9r+c) < cell(9r+c+1). Integer arithmetic throughout (floor
  * division), so the DuckDB twin reproduces the hash bit-for-bit; input
  * is pre-normalized ASCII where UTF-16 `charAt` = code point =
  * SQL `ascii()`.
  */
case class PHash64(child: Expression) extends UnaryExpression {

  override def dataType: DataType = LongType
  override def prettyName: String = "phash64"

  override def nullSafeEval(input: Any): Any =
    PHash64Kernel.compute(input.asInstanceOf[UTF8String])

  // one static call keeps the projection inside whole-stage codegen
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, c =>
      s"${ev.value} = graft.functions.PHash64Kernel.compute($c);")

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

/** The per-row kernel, a plain object so Scala emits a static forwarder
  * the generated Java can call directly.
  */
object PHash64Kernel {
  private final val Cells = 72 // 8 rows x 9 cols -> 8x8 difference bits

  def compute(s: UTF8String): Long = {
    val str = s.toString
    val n = str.length
    val cells = new Array[Long](Cells)
    if (n > 0) {
      var i = 0
      while (i < Cells) {
        val st = (i.toLong * n / Cells).toInt
        val en = ((i + 1).toLong * n / Cells).toInt
        if (en > st) {
          var sum = 0L
          var p = st
          while (p < en) { sum += str.charAt(p); p += 1 }
          cells(i) = sum / (en - st)
        }
        i += 1
      }
    }
    var h = 0L
    var k = 0
    while (k < 64) {
      val r = k / 8
      val c = k % 8
      if (cells(r * 9 + c) < cells(r * 9 + c + 1)) h |= 1L << k
      k += 1
    }
    h
  }
}
