package graft.functions

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.{BloomFilterMightContain, Expression, ExpressionInfo}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types.{ArrayType, ByteType, DataType, DoubleType, IntegerType, LongType, ShortType}

/** The native Catalyst functions graft provides to SQL: one [[Kernel]]
  * per function name, each built by exactly one builder. Both ways a
  * session gets them read this table — [[graft.GraftExtensions]] injects
  * every entry at session build, and [[register]] adds them to a running
  * session ([[graft.Graft.init]], [[graft.Tables.table]] and the
  * DataFrame entry points that can be reached without `Tables`).
  *
  * Each kernel writes its algorithm once, as a static method on an
  * object that both `nullSafeEval` and `doGenCode` call, so generated
  * Java carries one call and no loop of its own. Name that method
  * `compute`, never `eval`: a companion method whose name collides with
  * a member of the case class (`Expression.eval`) gets no static
  * forwarder, the generated call resolves to the instance method,
  * Janino fails to compile it, and the stage silently falls back to
  * interpreted eval ([[graft.CodegenKernelSpec]] compiles every kernel).
  */
object Kernels {

  /** One SQL function: its name, the expression class it builds, the
    * usage line `DESCRIBE FUNCTION` shows, and the builder, which checks
    * its arguments before it builds.
    */
  final case class Kernel(name: String, clazz: Class[_], usage: String,
                          build: Seq[Expression] => Expression) {
    def id: FunctionIdentifier = FunctionIdentifier(name)
    def info: ExpressionInfo =
      new ExpressionInfo(clazz.getName, null, name, usage, "", "", "", "", "", "", "built-in")
  }

  private def arity(name: String, n: Int, got: Int) = new IllegalArgumentException(
    s"$name takes $n argument${if (n == 1) "" else "s"}, got $got")

  private def unary(name: String, clazz: Class[_], usage: String)(
      f: Expression => Expression) = Kernel(name, clazz, usage, {
    case Seq(a) => f(a)
    case es => throw arity(name, 1, es.length)
  })

  private def binary(name: String, clazz: Class[_], usage: String)(
      f: (Expression, Expression) => Expression) = Kernel(name, clazz, usage, {
    case Seq(a, b) => f(a, b)
    case es => throw arity(name, 2, es.length)
  })

  private def jlProject(es: Seq[Expression]): Expression = es match {
    case Seq(v, k) if k.foldable && Seq(ByteType, ShortType, IntegerType, LongType)
        .contains(k.dataType) =>
      k.eval() match {
        case n: Number if n.longValue > 0 && n.longValue <= Int.MaxValue =>
          JlProject(v, n.intValue)
        case _ => throw jlArgs
      }
    case _ => throw jlArgs
  }
  private def jlArgs = new IllegalArgumentException(
    "jl_project(v, k) requires a positive integer literal k")

  // means and mat fold into the expression as Seq fields (MatProject
  // scaladoc), so the builder must be able to evaluate them
  private def matProject(es: Seq[Expression]): Expression = es match {
    case Seq(v, means, mat) => (doubleArrays(means, 1), doubleArrays(mat, 2)) match {
      case (Some(ms), Some(m)) =>
        MatProject(v, ms.toDoubleArray().toSeq,
          (0 until m.numElements()).map(i => m.getArray(i).toDoubleArray().toSeq))
      case _ => throw matArgs
    }
    case _ => throw matArgs
  }
  private def matArgs = new IllegalArgumentException(
    "mat_project(v, means, mat) requires means as an array<double> literal " +
      "and mat as an array<array<double>> literal")

  /** The value of `e` if it is a non-null constant of `array<double>`
    * nested `depth` deep.
    */
  private def doubleArrays(e: Expression, depth: Int): Option[ArrayData] = {
    def ok(t: DataType, d: Int): Boolean = t match {
      case ArrayType(el, _) => if (d == 1) el == DoubleType else ok(el, d - 1)
      case _ => false
    }
    if (e.foldable && ok(e.dataType, depth)) Option(e.eval().asInstanceOf[ArrayData])
    else None
  }

  val All: Seq[Kernel] = Seq(
    binary("cosine_sim", classOf[CosineSimilarity],
      "cosine_sim(a, b) - cosine similarity of two array<double>")(CosineSimilarity(_, _)),
    binary("dot_product", classOf[DotProduct],
      "dot_product(a, b) - dot product of two array<double>")(DotProduct(_, _)),
    binary("l2_sq", classOf[L2Distance],
      "l2_sq(a, b) - squared L2 distance of two array<double>")(L2Distance(_, _)),
    binary("jaccard_sorted", classOf[JaccardSimilarity],
      "jaccard_sorted(a, b) - Jaccard similarity of two SORTED long arrays")(
      JaccardSimilarity(_, _)),
    binary("intersect_count_sorted", classOf[IntersectCountSorted],
      "intersect_count_sorted(a, b) - |A∩B| of two SORTED long arrays")(
      IntersectCountSorted(_, _)),
    binary("intersect_count_sorted_str", classOf[IntersectCountSortedStr],
      "intersect_count_sorted_str(a, b) - |A∩B| of two SORTED string arrays")(
      IntersectCountSortedStr(_, _)),
    binary("bitmap_and_count", classOf[BitmapAndCount],
      "bitmap_and_count(a, b) - popcount of the AND of two long-array bitmaps")(
      BitmapAndCount(_, _)),
    unary("winnow_fp", classOf[WinnowFingerprint],
      "winnow_fp(s) - winnowing fingerprints (Karp-Rabin + window min)")(WinnowFingerprint(_)),
    binary("bloom_might_contain", classOf[BloomFilterMightContain],
      "bloom_might_contain(bloom, v) - probe a serialized bloom filter")(
      BloomFilterMightContain(_, _)),
    binary("ed_within_1", classOf[EditWithin1],
      "ed_within_1(a, b) - true iff levenshtein(a, b) <= 1")(EditWithin1(_, _)),
    // arity and types are checked at analysis (ZValue.checkInputDataTypes)
    Kernel("z_value", classOf[ZValue],
      "z_value(c1, ..., cn) - Morton (Z-order) interleave of n ints", ZValue(_)),
    unary("simhash32", classOf[SimHash32],
      "simhash32(th) - 32-bit majority-vote SimHash of a hashed-token array")(SimHash32(_)),
    unary("char_entropy_q", classOf[CharEntropyQ],
      "char_entropy_q(s) - sum of round(c*ln(c)*1e6) over the char histogram")(
      CharEntropyQ(_)),
    Kernel("jl_project", classOf[JlProject],
      "jl_project(v, k) - deterministic ±1 JL projection to k dims", jlProject),
    unary("md5_h64", classOf[Md5Head64],
      "md5_h64(s) - first 8 md5 bytes of s as a big-endian long")(Md5Head64(_)),
    Kernel("mat_project", classOf[MatProject],
      "mat_project(v, means, mat) - centered matrix projection of a vector", matProject),
    unary("cdc_chunks", classOf[CdcChunks],
      "cdc_chunks(s) - content-defined chunks of s (~64 chars each)")(CdcChunks(_)),
    unary("phash64", classOf[PHash64],
      "phash64(s) - 64-bit difference hash of a payload's luma plane")(PHash64(_)))

  /** Registers every [[All]] entry the session does not have yet.
    * Idempotent, so the funnels can call it on every operator invocation:
    * a name already present (injected by [[graft.GraftExtensions]], or
    * registered by an earlier call) is left as it is, and replacing it
    * would log a replaced-function WARN each time.
    */
  def register(spark: SparkSession): Unit = {
    val reg = spark.sessionState.functionRegistry
    All.foreach { k =>
      if (!reg.functionExists(k.id)) reg.registerFunction(k.id, k.info, k.build)
    }
  }
}
