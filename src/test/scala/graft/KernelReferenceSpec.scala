package graft

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{BoundReference, Expression}
import org.apache.spark.sql.catalyst.expressions.codegen.GenerateUnsafeProjection
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String
import org.scalacheck.{Gen, Prop, Test => SCTest}
import org.scalatest.funsuite.AnyFunSuite

import graft.functions._

/** Each array kernel, through interpreted `eval` and through a compiled
  * `GenerateUnsafeProjection`, against a naive Scala reference. Both
  * paths call one `compute`, so interpreted == compiled says nothing
  * about the algorithm; these references do. Floating-point kernels must
  * be bit-identical to an index-order fold, the order the DuckDB twins
  * sum in.
  */
class KernelReferenceSpec extends AnyFunSuite {

  private def checkProp(p: Prop): Unit = {
    val res = SCTest.check(SCTest.Parameters.default
      .withMinSuccessfulTests(200).withWorkers(1), p)
    assert(res.passed, res.status.toString)
  }

  /** `e` evaluated both ways: the interpreted and the compiled value of
    * each input row.
    */
  private def bothWays(e: Expression): InternalRow => (Any, Any) = {
    val proj = GenerateUnsafeProjection.generate(Seq(e))
    row => (e.eval(row), proj(row).get(0, e.dataType))
  }

  private def in(i: Int, t: DataType): Expression = BoundReference(i, t, nullable = false)

  private def same(got: (Any, Any), want: Any): Boolean = {
    def bits(v: Any): Any = v match {
      case d: Double => java.lang.Double.doubleToLongBits(d)
      case other => other
    }
    bits(got._1) == bits(want) && bits(got._2) == bits(want)
  }

  private val longs = ArrayType(LongType, containsNull = false)
  private val doubles = ArrayType(DoubleType, containsNull = false)
  private val strings = ArrayType(StringType, containsNull = false)

  private def lArr(xs: Seq[Long]): ArrayData = ArrayData.toArrayData(xs.toArray)
  private def dArr(xs: Seq[Double]): ArrayData = ArrayData.toArrayData(xs.toArray)

  private val anyLong: Gen[Long] = Gen.frequency(
    4 -> Gen.choose(-20L, 20L), // small range: sets overlap
    2 -> Gen.choose(Long.MinValue, Long.MaxValue),
    1 -> Gen.oneOf(Long.MinValue, Long.MaxValue, -1L, 0L))

  private def arrays[A](el: Gen[A]): Gen[List[A]] = Gen.frequency(
    1 -> Gen.const(Nil), 5 -> Gen.choose(0, 40).flatMap(Gen.listOfN(_, el)))

  private val sortedSet: Gen[List[Long]] = arrays(anyLong).map(_.distinct.sorted)

  private val anyDouble: Gen[Double] = Gen.frequency(
    8 -> Gen.choose(-1e3, 1e3),
    1 -> Gen.oneOf(0.0, -0.0, 1e-300, 1e300))

  test("intersect_count_sorted and jaccard_sorted: set-intersection size and jaccard from it") {
    val count = bothWays(IntersectCountSorted(in(0, longs), in(1, longs)))
    val jacc = bothWays(JaccardSimilarity(in(0, longs), in(1, longs)))
    checkProp(Prop.forAllNoShrink(sortedSet, sortedSet) { (x, y) =>
      val row = InternalRow(lArr(x), lArr(y))
      val inter = x.toSet.intersect(y.toSet).size
      val union = x.toSet.union(y.toSet).size
      same(count(row), inter.toLong) &&
        same(jacc(row), if (union == 0) 0.0 else inter.toDouble / union)
    })
  }

  test("intersect_count_sorted_str: set-intersection size over UTF8String-ordered sets") {
    // U+1F600 sorts after U+FF21 in UTF-8 bytes but before it in UTF-16
    // units, so a merge over java.lang.String order would miss matches
    val str = Gen.choose(0, 3).flatMap(Gen.listOfN(_,
      Gen.oneOf("a", "b", "Z", "é", "日", "Ａ", "😀")).map(_.mkString))
    val byUtf8 = Ordering.fromLessThan[UTF8String](_.compareTo(_) < 0)
    val set = arrays(str).map(_.distinct.map(UTF8String.fromString).sorted(byUtf8))
    val count = bothWays(IntersectCountSortedStr(in(0, strings), in(1, strings)))
    checkProp(Prop.forAllNoShrink(set, set) { (x, y) =>
      val row = InternalRow(new GenericArrayData(x), new GenericArrayData(y))
      same(count(row), x.map(_.toString).toSet.intersect(y.map(_.toString).toSet).size.toLong)
    })
  }

  test("bitmap_and_count: popcount of the AND over the shorter array") {
    val pop = bothWays(BitmapAndCount(in(0, longs), in(1, longs)))
    checkProp(Prop.forAllNoShrink(arrays(anyLong), arrays(anyLong)) { (x, y) =>
      val ones = x.zip(y).map { case (p, q) => (0 until 64).count(BigInt(p & q).testBit) }
      same(pop(InternalRow(lArr(x), lArr(y))), ones.sum.toLong)
    })
  }

  test("simhash32: bit j set iff a strict majority of elements have bit j set") {
    val sim = bothWays(SimHash32(in(0, longs)))
    checkProp(Prop.forAllNoShrink(arrays(anyLong)) { x =>
      val want = (0 until 32).filter(j => 2 * x.count(BigInt(_).testBit(j)) > x.size)
        .map(1L << _).sum
      same(sim(InternalRow(lArr(x))), want)
    })
  }

  test("cosine_sim, dot_product, l2_sq: bit-identical to index-order folds") {
    val cos = bothWays(CosineSimilarity(in(0, doubles), in(1, doubles)))
    val dot = bothWays(DotProduct(in(0, doubles), in(1, doubles)))
    val l2 = bothWays(L2Distance(in(0, doubles), in(1, doubles)))
    checkProp(Prop.forAllNoShrink(arrays(anyDouble), arrays(anyDouble)) { (x, y) =>
      val row = InternalRow(dArr(x), dArr(y))
      val ps = x.zip(y)
      val (d, na, nb) = ps.foldLeft((0.0, 0.0, 0.0)) { case ((sd, sa, sb), (p, q)) =>
        (sd + p * q, sa + p * p, sb + q * q) }
      same(cos(row), d / (math.sqrt(na) * math.sqrt(nb))) &&
        same(dot(row), ps.foldLeft(0.0) { case (s, (p, q)) => s + p * q }) &&
        same(l2(row), ps.foldLeft(0.0) { case (s, (p, q)) => s + (p - q) * (p - q) })
    })
  }
}
