package graft.functions

import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types.{DataType, DoubleType, LongType}

/** Native Catalyst expression: Jaccard similarity of two SORTED, DISTINCT
  * long arrays via a single merge pass — O(n+m) with no per-call hash-set
  * build (vs two `array_intersect` evaluations per pair). Registered as
  * `jaccard_sorted(a, b)`.
  *
  * Inputs must be sorted ascending with distinct elements (the operators
  * produce them with `sort_array(array_distinct(...))`); the oracle's
  * `list_intersect` over the same integer lists yields the identical
  * count.
  */
case class JaccardSimilarity(left: Expression, right: Expression)
    extends BinaryExpression {

  override def dataType: DataType = DoubleType
  override def prettyName: String = "jaccard_sorted"

  override def nullSafeEval(a: Any, b: Any): Any =
    JaccardSimilarity.compute(a.asInstanceOf[ArrayData], b.asInstanceOf[ArrayData])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, (a, b) => s"graft.functions.JaccardSimilarity.compute($a, $b)")

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): Expression =
    copy(left = newLeft, right = newRight)
}

object JaccardSimilarity {
  /** |A∩B| / |A∪B| from the [[IntersectCountSorted]] merge count; 0 when
    * both sets are empty.
    */
  def compute(x: ArrayData, y: ArrayData): Double = {
    val inter = IntersectCountSorted.compute(x, y)
    val union = x.numElements().toLong + y.numElements() - inter
    if (union == 0) 0.0 else inter.toDouble / union
  }
}

/** The [[IntersectCountSorted]] merge pass over SORTED, DISTINCT STRING
  * arrays (r13). The MinHash family's verify/truth joins intersect
  * shingle STRING sets (the oracle intersects the same string lists, so
  * hashing them first would admit collisions the oracle doesn't see);
  * `array_intersect` builds a hash set per evaluation — measured as the
  * dominant stage of dedup_lsh_recall at sf0.1 (36.9 s of a 77 s
  * executor total). One O(n+m) pass of binary UTF8String compares over
  * `sort_array`-ordered inputs computes the identical count:
  * `sort_array` orders StringType by UTF8String binary comparison,
  * exactly the comparison this merge uses. Registered as
  * `intersect_count_sorted_str(a, b)`.
  */
case class IntersectCountSortedStr(left: Expression, right: Expression)
    extends BinaryExpression {

  override def dataType: DataType = LongType
  override def prettyName: String = "intersect_count_sorted_str"

  override def nullSafeEval(a: Any, b: Any): Any =
    IntersectCountSortedStr.compute(a.asInstanceOf[ArrayData], b.asInstanceOf[ArrayData])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, (a, b) =>
      s"graft.functions.IntersectCountSortedStr.compute($a, $b)")

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): Expression =
    copy(left = newLeft, right = newRight)
}

object IntersectCountSortedStr {
  def compute(x: ArrayData, y: ArrayData): Long = {
    val n = x.numElements(); val m = y.numElements()
    var i = 0; var j = 0; var inter = 0L
    while (i < n && j < m) {
      val c = x.getUTF8String(i).compareTo(y.getUTF8String(j))
      if (c == 0) { inter += 1; i += 1; j += 1 }
      else if (c < 0) i += 1
      else j += 1
    }
    inter
  }
}

/** Popcount of the AND of two equal-length long-array bitmaps — exact
  * |A∩B| when sets are dictionary-encoded to bit positions. For
  * dense-overlap blocks (small shared vocabulary, every pair overlaps)
  * this turns an O(|A|+|B|) sorted merge into ceil(V/64) word ops per
  * pair. Registered as `bitmap_and_count(a, b)`.
  */
case class BitmapAndCount(left: Expression, right: Expression)
    extends BinaryExpression {

  override def dataType: DataType = LongType
  override def prettyName: String = "bitmap_and_count"

  override def nullSafeEval(a: Any, b: Any): Any =
    BitmapAndCount.compute(a.asInstanceOf[ArrayData], b.asInstanceOf[ArrayData])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, (a, b) => s"graft.functions.BitmapAndCount.compute($a, $b)")

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): Expression =
    copy(left = newLeft, right = newRight)
}

object BitmapAndCount {
  def compute(x: ArrayData, y: ArrayData): Long = {
    val n = math.min(x.numElements(), y.numElements())
    var i = 0; var c = 0L
    while (i < n) {
      c += java.lang.Long.bitCount(x.getLong(i) & y.getLong(i))
      i += 1
    }
    c
  }
}

/** Same merge pass, returning the raw intersection COUNT — the numerator
  * of asymmetric containment |A∩B|/|A| (quote/subset detection), where a
  * shared jaccard denominator would hide one-sided overlap. Registered as
  * `intersect_count_sorted(a, b)`.
  */
case class IntersectCountSorted(left: Expression, right: Expression)
    extends BinaryExpression {

  override def dataType: DataType = LongType
  override def prettyName: String = "intersect_count_sorted"

  override def nullSafeEval(a: Any, b: Any): Any =
    IntersectCountSorted.compute(a.asInstanceOf[ArrayData], b.asInstanceOf[ArrayData])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, (a, b) => s"graft.functions.IntersectCountSorted.compute($a, $b)")

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): Expression =
    copy(left = newLeft, right = newRight)
}

object IntersectCountSorted {
  /** The one long-array merge loop; [[JaccardSimilarity]] counts with it. */
  def compute(x: ArrayData, y: ArrayData): Long = {
    val n = x.numElements(); val m = y.numElements()
    var i = 0; var j = 0; var inter = 0L
    while (i < n && j < m) {
      val xi = x.getLong(i); val yj = y.getLong(j)
      if (xi == yj) { inter += 1; i += 1; j += 1 }
      else if (xi < yj) i += 1
      else j += 1
    }
    inter
  }
}
