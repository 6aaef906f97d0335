package graft.functions

import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types.{DataType, DoubleType}

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

  override def nullSafeEval(a: Any, b: Any): Any = {
    val x = a.asInstanceOf[ArrayData]
    val y = b.asInstanceOf[ArrayData]
    val n = x.numElements(); val m = y.numElements()
    var i = 0; var j = 0; var inter = 0
    while (i < n && j < m) {
      val xi = x.getLong(i); val yj = y.getLong(j)
      if (xi == yj) { inter += 1; i += 1; j += 1 }
      else if (xi < yj) i += 1
      else j += 1
    }
    val union = n + m - inter
    if (union == 0) 0.0 else inter.toDouble / union
  }

  // all locals are freshName'd: Java forbids shadowing an enclosing
  // generated function's locals (a bare `int i` fails Janino compilation
  // inside e.g. a WindowExec/HashAggregate body that already declares i,
  // silently dropping the stage to interpreted fallback)
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) => {
      val n = ctx.freshName("n"); val m = ctx.freshName("m")
      val i = ctx.freshName("i"); val j = ctx.freshName("j")
      val inter = ctx.freshName("inter"); val union = ctx.freshName("union")
      val xi = ctx.freshName("xi"); val yj = ctx.freshName("yj")
      s"""
         |int $n = $a.numElements(); int $m = $b.numElements();
         |int $i = 0; int $j = 0; int $inter = 0;
         |while ($i < $n && $j < $m) {
         |  long $xi = $a.getLong($i); long $yj = $b.getLong($j);
         |  if ($xi == $yj) { $inter++; $i++; $j++; }
         |  else if ($xi < $yj) { $i++; } else { $j++; }
         |}
         |int $union = $n + $m - $inter;
         |${ev.value} = $union == 0 ? 0.0 : ((double) $inter) / $union;
       """.stripMargin
    })

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): Expression =
    copy(left = newLeft, right = newRight)
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

  override def dataType: DataType = org.apache.spark.sql.types.LongType
  override def prettyName: String = "intersect_count_sorted_str"

  override def nullSafeEval(a: Any, b: Any): Any = {
    val x = a.asInstanceOf[ArrayData]
    val y = b.asInstanceOf[ArrayData]
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

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) => {
      val n = ctx.freshName("n"); val m = ctx.freshName("m")
      val i = ctx.freshName("i"); val j = ctx.freshName("j")
      val inter = ctx.freshName("inter"); val c = ctx.freshName("c")
      s"""
         |int $n = $a.numElements(); int $m = $b.numElements();
         |int $i = 0; int $j = 0; long $inter = 0L;
         |while ($i < $n && $j < $m) {
         |  int $c = $a.getUTF8String($i).compareTo($b.getUTF8String($j));
         |  if ($c == 0) { $inter++; $i++; $j++; }
         |  else if ($c < 0) { $i++; } else { $j++; }
         |}
         |${ev.value} = $inter;
       """.stripMargin
    })

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): Expression =
    copy(left = newLeft, right = newRight)
}

/** Popcount of the AND of two equal-length long-array bitmaps — exact
  * |A∩B| when sets are dictionary-encoded to bit positions. For
  * dense-overlap blocks (small shared vocabulary, every pair overlaps)
  * this turns an O(|A|+|B|) sorted merge into ceil(V/64) word ops per
  * pair. Registered as `bitmap_and_count(a, b)`.
  */
case class BitmapAndCount(left: Expression, right: Expression)
    extends BinaryExpression {

  override def dataType: DataType = org.apache.spark.sql.types.LongType
  override def prettyName: String = "bitmap_and_count"

  override def nullSafeEval(a: Any, b: Any): Any = {
    val x = a.asInstanceOf[ArrayData]
    val y = b.asInstanceOf[ArrayData]
    val n = math.min(x.numElements(), y.numElements())
    var i = 0; var c = 0L
    while (i < n) {
      c += java.lang.Long.bitCount(x.getLong(i) & y.getLong(i))
      i += 1
    }
    c
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) => {
      val n = ctx.freshName("n"); val i = ctx.freshName("i")
      val c = ctx.freshName("c")
      s"""
         |int $n = java.lang.Math.min($a.numElements(), $b.numElements());
         |long $c = 0L;
         |for (int $i = 0; $i < $n; $i++) {
         |  $c += java.lang.Long.bitCount($a.getLong($i) & $b.getLong($i));
         |}
         |${ev.value} = $c;
       """.stripMargin
    })

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): Expression =
    copy(left = newLeft, right = newRight)
}

/** Same merge pass, returning the raw intersection COUNT — the numerator
  * of asymmetric containment |A∩B|/|A| (quote/subset detection), where a
  * shared jaccard denominator would hide one-sided overlap. Registered as
  * `intersect_count_sorted(a, b)`.
  */
case class IntersectCountSorted(left: Expression, right: Expression)
    extends BinaryExpression {

  override def dataType: DataType = org.apache.spark.sql.types.LongType
  override def prettyName: String = "intersect_count_sorted"

  override def nullSafeEval(a: Any, b: Any): Any = {
    val x = a.asInstanceOf[ArrayData]
    val y = b.asInstanceOf[ArrayData]
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

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) => {
      val n = ctx.freshName("n"); val m = ctx.freshName("m")
      val i = ctx.freshName("i"); val j = ctx.freshName("j")
      val inter = ctx.freshName("inter")
      val xi = ctx.freshName("xi"); val yj = ctx.freshName("yj")
      s"""
         |int $n = $a.numElements(); int $m = $b.numElements();
         |int $i = 0; int $j = 0; long $inter = 0L;
         |while ($i < $n && $j < $m) {
         |  long $xi = $a.getLong($i); long $yj = $b.getLong($j);
         |  if ($xi == $yj) { $inter++; $i++; $j++; }
         |  else if ($xi < $yj) { $i++; } else { $j++; }
         |}
         |${ev.value} = $inter;
       """.stripMargin
    })

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): Expression =
    copy(left = newLeft, right = newRight)
}
