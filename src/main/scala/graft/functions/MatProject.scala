package graft.functions

import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types.{ArrayType, DataType, DoubleType, FloatType}

/** Native Catalyst expression: centered matrix projection of a vector —
  * out[c] = Σ_i (v[i] − means[i]) · mat[c][i], folded in ascending-i
  * order with one multiply-add per term, the bit-exact IEEE sequence of
  * the HOF form it replaces:
  *
  * {{{ transform(sequence(0, k-1), c -> aggregate(sequence(0, d-1), 0D,
  *     (acc, i) -> acc + (CAST(v[i+1] AS DOUBLE) - means[i+1]) * mat[c+1][i+1])) }}}
  *
  * That HOF evaluates k·d interpreted lambdas with boxed accumulators
  * per row (the [[JlProject]] lesson — d² = 4096 lambda evaluations per
  * embedding for the OPQ rotation, measured as emb_opq/emb_pca/
  * emb_whiten's dominant cost at sf0.1); this kernel is the same
  * arithmetic as an unboxed loop. Rounding stays OUTSIDE (callers keep
  * their `round(..., 6)` forms), and the DuckDB/Python oracles are
  * untouched — only the Spark-side evaluation of the identical sums
  * changed. Registered as `mat_project(v, means, mat)` where means/mat
  * are array literals, folded into the expression at build.
  *
  * The matrix rides as Seq fields (not child expressions): structural
  * case-class equality keeps two invocations of the same operator
  * `sameResult`, which the CacheScope barrier dedup depends on.
  */
case class MatProject(child: Expression, means: Seq[Double],
                      mat: Seq[Seq[Double]]) extends UnaryExpression {

  override def dataType: DataType = ArrayType(DoubleType, containsNull = false)
  override def prettyName: String = "mat_project"

  @transient private lazy val meansArr: Array[Double] = means.toArray
  @transient private lazy val matArr: Array[Array[Double]] =
    mat.map(_.toArray).toArray
  @transient private lazy val fromFloat: Boolean =
    child.dataType.asInstanceOf[ArrayType].elementType == FloatType

  override def checkInputDataTypes()
      : org.apache.spark.sql.catalyst.analysis.TypeCheckResult =
    child.dataType match {
      case ArrayType(FloatType | DoubleType, _) =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
      case t =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
          s"mat_project requires array<float|double>, got $t")
    }

  override def nullSafeEval(a: Any): Any =
    MatProject.compute(a.asInstanceOf[ArrayData], meansArr, matArr, fromFloat)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val meansRef = ctx.addReferenceObj("matProjMeans", meansArr, "double[]")
    val matRef = ctx.addReferenceObj("matProjMat", matArr, "double[][]")
    nullSafeCodeGen(ctx, ev, a =>
      s"${ev.value} = graft.functions.MatProject.compute($a, $meansRef, $matRef, $fromFloat);")
  }

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

object MatProject {

  /** Input contract enforced with a clear message (r14, ADVICE): the HOF
    * form this kernel replaced null-propagated a short or null-holding
    * embedding row into silent null outputs via `element_at`; the raw
    * `getDouble(i)` here would instead read undefined bytes or throw an
    * opaque ArrayIndexOutOfBounds. A malformed embedding row is corrupt
    * input either way — fail loudly and name it.
    */
  def compute(v: ArrayData, means: Array[Double], mat: Array[Array[Double]],
              fromFloat: Boolean): ArrayData = {
    val k = mat.length
    val d = means.length
    if (v.numElements() < d) throw new IllegalArgumentException(
      s"mat_project: embedding row has ${v.numElements()} elements, " +
        s"projection expects $d — corrupt or truncated embedding input")
    val centered = new Array[Double](d)
    var i = 0
    while (i < d) {
      if (v.isNullAt(i)) throw new IllegalArgumentException(
        s"mat_project: embedding row holds NULL at element $i — corrupt " +
          s"embedding input (the projection is defined on dense vectors)")
      // CAST(float AS DOUBLE) is exact, so pre-centering once per row is
      // the identical value sequence the per-c fold saw
      val x = if (fromFloat) v.getFloat(i).toDouble else v.getDouble(i)
      centered(i) = x - means(i)
      i += 1
    }
    val out = new Array[Double](k)
    var c = 0
    while (c < k) {
      val row = mat(c)
      var s = 0.0d
      var j = 0
      while (j < d) { s += centered(j) * row(j); j += 1 }
      out(c) = s
      c += 1
    }
    new GenericArrayData(out)
  }
}
