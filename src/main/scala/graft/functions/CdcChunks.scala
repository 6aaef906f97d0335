package graft.functions

import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types.{ArrayType, DataType, StringType}
import org.apache.spark.unsafe.types.UTF8String

/** Native Catalyst expression for content-defined chunking (CDC): split a
  * string at content-derived boundaries — after any position whose
  * trailing char-4-gram Karp-Rabin hash lands in the low 1/64 of the
  * 32-bit range (expected chunk ≈ 64 chars) — returning the chunk array.
  *
  * This fuses the per-position HOF chain the operator shipped through
  * round 6 (one md5 digest PER CHAR POSITION inside a `filter(sequence)`
  * lambda, evaluated interpreted) into one rolling-hash primitive loop
  * per row: poly(i+1) = (poly(i) − c·257³)·257 + c' — O(1) per char, no
  * digest, no per-element lambda dispatch. Same fused-kernel lever as
  * [[WinnowFingerprint]], and the SAME hash family, bit-for-bit: poly =
  * c₀·257³+c₁·257²+c₂·257+c₃ scrambled by Knuth's 2654435761 mod 2³²
  * (reference: `KStreamDistinct.java:146-151` motivates windowed content
  * dedup; the CDC recipe itself is the LBFS/rsync boundary scheme).
  *
  * The boundary test is `scrambled < 2²⁶` — a HIGH-bits condition. A
  * low-bits condition (`poly % 64`, the md5 path's shape) degenerates
  * under this polynomial: 257 ≡ 1 (mod 64), so the raw poly mod 64 is
  * just the char-sum mod 64, and the odd multiplier permutes-but-never-
  * mixes residues mod 64; the top bits of the scrambled product depend
  * on every bit of every char.
  *
  * Parity domain: input is pre-normalized ASCII (`[a-z0-9 ]`, the
  * operator applies normText first), where UTF-16 `charAt` = code point
  * = DuckDB/Spark-SQL `ascii()`, and poly < 122·257³ < 2³¹ keeps
  * poly·2654435761 < 2⁶³ — no BIGINT overflow in either SQL engine. The
  * kernel itself masks with `& 0xFFFFFFFF` (exact mod 2³² even if a
  * non-ASCII caller wraps the long), so it is total on any input.
  */
case class CdcChunks(child: Expression) extends UnaryExpression {

  override def dataType: DataType = ArrayType(StringType, containsNull = false)
  override def prettyName: String = "cdc_chunks"

  override def nullSafeEval(input: Any): Any =
    CdcChunkKernel.compute(input.asInstanceOf[UTF8String])

  // one static call keeps the projection inside whole-stage codegen
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, c =>
      s"${ev.value} = graft.functions.CdcChunkKernel.compute($c);")

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

/** The per-row kernel, a plain object so Scala emits a static forwarder
  * the generated Java can call directly.
  */
object CdcChunkKernel {
  private final val B = 257L
  private final val B3 = 16974593L        // 257³
  private final val MULT = 2654435761L    // Knuth multiplicative scramble
  private final val MASK = 0xFFFFFFFFL    // mod 2³²
  private final val THRESH = 67108864L    // 2²⁶ = 2³²/64 → 1-in-64 cut rate

  def compute(s: UTF8String): ArrayData = {
    val str = s.toString
    val n = str.length
    if (n == 0) return new GenericArrayData(Array.empty[Any])
    if (n < 4)  // too short for a 4-gram window: one whole-text chunk
      return new GenericArrayData(Array[Any](UTF8String.fromString(str)))
    val out = new java.util.ArrayList[UTF8String](n / 32 + 1)
    var start = 0
    var poly = str.charAt(0) * B3 + str.charAt(1) * 66049L +
      str.charAt(2) * B + str.charAt(3)
    var j = 3 // 0-based index of the window's last char; cut is AFTER j
    while (j < n) {
      if (((poly * MULT) & MASK) < THRESH) {
        out.add(UTF8String.fromString(str.substring(start, j + 1)))
        start = j + 1
      }
      if (j + 1 < n) poly = (poly - str.charAt(j - 3) * B3) * B + str.charAt(j + 1)
      j += 1
    }
    if (start < n) out.add(UTF8String.fromString(str.substring(start, n)))
    new GenericArrayData(out.toArray().asInstanceOf[Array[Any]])
  }
}
