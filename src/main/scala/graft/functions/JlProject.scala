package graft.functions

import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types.{ArrayType, DataType, DoubleType}

/** Native Catalyst expression: the deterministic ±1
  * Johnson–Lindenstrauss projection of a double vector to `rpDims`
  * dimensions — sign(j,i) = parity of h32("rp|j|i"), the library's
  * standard md5-derived hash (TextFns.h32Sql), so the DuckDB twin
  * computes the identical matrix from the identical strings. The matrix
  * is tiny (rpDims·d entries) and cached per shape after one md5 pass —
  * the per-row work is a pure k·d unboxed multiply-add loop. (A first
  * draft derived signs from a mod-2 parity of a linear form in (j,i),
  * which collapses to ((j+1)(i+1)) mod 2 — every odd-j row degenerated
  * to the plain coordinate sum; a parity "hash" of a linear function is
  * linear. md5 bits have no such structure.) Folded in ascending-i
  * order, identical formula in the DuckDB twin.
  * Registered as `jl_project(v, rpDims)`.
  *
  * The HOF form (`transform(sequence(1,k), j -> aggregate(sequence(1,d),
  * ...))`) evaluates k·d interpreted lambdas with boxed accumulators per
  * row — measured ~4.4 s for the sf0.1 embedding scan; this kernel is a
  * k·d unboxed loop. Rounding to 6 decimals stays OUTSIDE (a k-element
  * `transform(..., x -> round(x, 6))`), so the kernel emits raw sums and
  * Spark's own round semantics keep oracle parity.
  */
case class JlProject(child: Expression, rpDims: Int) extends UnaryExpression {

  override def dataType: DataType = ArrayType(DoubleType, containsNull = false)
  override def prettyName: String = "jl_project"

  override def nullSafeEval(a: Any): Any =
    JlProject.compute(a.asInstanceOf[ArrayData], rpDims)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, a =>
      s"${ev.value} = graft.functions.JlProject.compute($a, $rpDims);")

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

object JlProject {

  private val signCache =
    new java.util.concurrent.ConcurrentHashMap[(Int, Int), Array[Double]]()

  /** sign(j,i) = +1 iff h32("rp|j|i") is even — h32(s) = the first 8 hex
    * digits of md5(s) as a long, exactly `TextFns.h32Sql`. Row-major
    * (j-1)*d + (i-1), 1-based j/i to match the SQL `range(1, ...)` form.
    */
  private[graft] def signs(rpDims: Int, d: Int): Array[Double] =
    signCache.computeIfAbsent((rpDims, d), { _ =>
      val md = java.security.MessageDigest.getInstance("MD5")
      val out = new Array[Double](rpDims * d)
      var j = 1
      while (j <= rpDims) {
        var i = 1
        while (i <= d) {
          md.reset()
          val dig = md.digest(s"rp|$j|$i".getBytes("UTF-8"))
          val h = ((dig(0) & 0xffL) << 24) | ((dig(1) & 0xffL) << 16) |
            ((dig(2) & 0xffL) << 8) | (dig(3) & 0xffL)
          out((j - 1) * d + (i - 1)) = if (h % 2L == 0L) 1.0d else -1.0d
          i += 1
        }
        j += 1
      }
      out
    })

  def compute(v: ArrayData, rpDims: Int): ArrayData = {
    val d = v.numElements()
    val sg = signs(rpDims, d)
    val out = new Array[Double](rpDims)
    var j = 0
    while (j < rpDims) {
      var acc = 0.0d
      val base = j * d
      var i = 0
      while (i < d) {
        acc += v.getDouble(i) * sg(base + i)
        i += 1
      }
      out(j) = acc
      j += 1
    }
    org.apache.spark.sql.catalyst.expressions.UnsafeArrayData.fromPrimitiveArray(out)
  }
}
