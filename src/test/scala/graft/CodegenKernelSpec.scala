package graft

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Expression, Literal}
import org.apache.spark.sql.catalyst.expressions.codegen.GenerateUnsafeProjection
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types._
import org.scalatest.funsuite.AnyFunSuite

import graft.functions._

/** Compiles every native kernel's generated code DIRECTLY — no fallback
  * path exists here: `GenerateUnsafeProjection.generate` throws on any
  * Janino compile error — and checks the compiled result equals the
  * interpreted `eval`.
  *
  * This guards the static-forwarder trap that silently broke two kernels
  * in round 5: a companion-object method whose name collides with any
  * member of the case class (e.g. a helper named `eval` vs
  * `Expression.eval`) gets NO static forwarder on the class file, so the
  * generated Java `graft.functions.Foo.eval(...)` resolves to the
  * *instance* method, Janino fails, and whole-stage codegen silently
  * degrades to interpreted eval — every correctness test keeps passing
  * while the kernel's entire performance purpose is lost.
  */
class CodegenKernelSpec extends AnyFunSuite {

  private def dArr(xs: Double*): Literal =
    Literal.create(xs, ArrayType(DoubleType, containsNull = false))
  private def lArr(xs: Long*): Literal =
    Literal.create(xs, ArrayType(LongType, containsNull = false))

  /** Generate + compile a one-column projection of `expr` (throws if the
    * generated Java does not compile), run it, and compare with the
    * interpreted result.
    */
  private def check(name: String, expr: Expression): Unit = {
    val interpreted = expr.eval(InternalRow.empty)
    val proj = GenerateUnsafeProjection.generate(Seq(expr))
    val row = proj(InternalRow.empty)
    val compiled = expr.dataType match {
      case _ if row.isNullAt(0) => null
      case ArrayType(et, _) => row.getArray(0).toObjectArray(et).toSeq
      case dt => row.get(0, dt)
    }
    val expected = interpreted match {
      case a: ArrayData =>
        val ArrayType(et, _) = expr.dataType: @unchecked
        a.toObjectArray(et).toSeq
      case other => other
    }
    assert(compiled == expected,
      s"$name: compiled codegen result $compiled != interpreted $expected")
  }

  private def sArr(xs: String*): Literal =
    Literal.create(xs, ArrayType(StringType, containsNull = false))

  private val kernelCases: Seq[(String, Expression)] = Seq(
    "char_entropy_q" -> CharEntropyQ(Literal("hello world entropy")),
    "jl_project" -> JlProject(dArr(0.5, -1.25, 2.0, 3.5, -0.75, 1.0), 4),
    "mat_project" -> MatProject(dArr(1.0, 2.0, 3.0), Seq(0.0, 0.0, 0.0), Seq(Seq(1.0, 0.0, 0.0))),
    "simhash32" -> SimHash32(lArr(0x0f0f0f0fL, 0x12345678L, 0x0badf00dL)),
    "winnow_fp" -> WinnowFingerprint(Literal("the quick brown fox jumps over the lazy dog")),
    "cdc_chunks" -> CdcChunks(Literal(
      "the quick brown fox jumps over the lazy dog and keeps on running past the fence")),
    "cdc_chunks_short" -> CdcChunks(Literal("ab")),
    "cdc_chunks_empty" -> CdcChunks(Literal("")),
    "phash64" -> PHash64(Literal(
      "pack my box with five dozen liquor jugs while the jay flew over the lazy dog")),
    "phash64_short" -> PHash64(Literal("abc")),
    "phash64_empty" -> PHash64(Literal("")),
    "md5_h64" -> Md5Head64(Literal("the quick brown fox")),
    "edit_within1_eq" -> EditWithin1(Literal("kitten"), Literal("kitten")),
    "edit_within1_sub" -> EditWithin1(Literal("kitten"), Literal("mitten")),
    "edit_within1_far" -> EditWithin1(Literal("kitten"), Literal("sitting")),
    "cosine" -> CosineSimilarity(dArr(1.0, 2.0, 3.0), dArr(-1.0, 0.5, 2.0)),
    "dot_product" -> DotProduct(dArr(1.0, 2.0, 3.0), dArr(-1.0, 0.5, 2.0, 9.0)),
    "l2" -> L2Distance(dArr(1.0, 2.0, 3.0), dArr(0.0, 2.0, 5.0)),
    "jaccard_sorted" -> JaccardSimilarity(lArr(1L, 3L, 5L, 9L), lArr(3L, 5L, 7L)),
    "bitmap_and" -> BitmapAndCount(lArr(0xff00L, 0x0f0fL), lArr(0x0ff0L, 0xffffL)),
    "intersect_sorted" -> IntersectCountSorted(lArr(1L, 2L, 8L), lArr(2L, 8L, 9L)),
    "intersect_sorted_str" -> IntersectCountSortedStr(
      sArr("apple", "kiwi", "pear", "é"), sArr("kiwi", "plum", "é")),
    "z_value" -> ZValue(Seq(Literal(12L), Literal(45L), Literal(7L))))

  test("every native kernel compiles under codegen and matches interpreted eval") {
    kernelCases.foreach { case (name, e) => check(name, e) }
  }

  test("every Kernels.All function has a compiled check") {
    // bloom_might_contain is Spark's own BloomFilterMightContain
    val checked: Set[Class[_]] = kernelCases.map(_._2.getClass).toSet
    val missing = Kernels.All.filterNot(k =>
      k.name == "bloom_might_contain" || checked(k.clazz)).map(_.name)
    assert(missing.isEmpty, s"kernels without a compiled check: $missing")
  }

  test("null inputs stay null through the compiled path") {
    val nullStr = Literal.create(null, StringType)
    val nullArr = Literal.create(null, ArrayType(DoubleType, containsNull = false))
    check("char_entropy_q_null", CharEntropyQ(nullStr))
    check("cdc_chunks_null", CdcChunks(nullStr))
    check("phash64_null", PHash64(nullStr))
    check("jl_project_null", JlProject(nullArr, 4))
    check("z_value_null", ZValue(Seq(Literal(1L), Literal.create(null, LongType))))
  }

  test("mat_project rejects malformed embedding rows with a clear message (r14 ADVICE)") {
    val means = Seq(0.0, 0.0, 0.0)
    val mat = Seq(Seq(1.0, 0.0, 0.0))
    // a well-formed row projects (kernelCases); a short row: loud, named failure instead of undefined reads
    val short = intercept[IllegalArgumentException](
      MatProject(dArr(1.0, 2.0), means, mat).eval(InternalRow.empty))
    assert(short.getMessage.contains("2 elements"))
    // null-holding row: same
    val withNull = Literal.create(Seq[java.lang.Double](1.0, null, 3.0),
      ArrayType(DoubleType, containsNull = true))
    val nul = intercept[IllegalArgumentException](
      MatProject(withNull, means, mat).eval(InternalRow.empty))
    assert(nul.getMessage.contains("NULL at element 1"))
  }
}
