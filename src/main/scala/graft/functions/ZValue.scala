package graft.functions

import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.types.{ByteType, DataType, IntegerType, LongType, ShortType}

/** Native Catalyst expression: `z_value(c1, ..., cn)` — the Morton
  * (Z-order) interleave of n non-negative integer columns into one long
  * sort key. Writing data sorted by this key clusters rows that are
  * close in EVERY dimension into the same parquet row groups, so
  * min/max-stats pruning works for predicates on ANY subset of the
  * dimensions — a linear sort only prunes its leading column. This is
  * the layout lever for 100 TB scans: it costs one range-exchange at
  * write time and pays on every subsequent selective read.
  *
  * Each input gets floor(63/n) bits (bit i of input j lands at position
  * i·n + j); values are masked to that width, so callers quantize or
  * rank-encode wider domains first — a negative or over-wide input is
  * masked to its low bits (a large positive), which silently breaks the
  * monotone-clustering property, so quantize to [0, 2^bitsPer) first.
  * Inputs are evaluated null-safely by the standard fold (any null →
  * null). Arity and types are validated at analysis time: 1..63
  * integral-typed children (checkInputDataTypes), so `z_value()` or
  * `z_value(string_col)` fails with an AnalysisException rather than a
  * runtime crash.
  */
case class ZValue(children: Seq[Expression]) extends Expression {

  override def dataType: DataType = LongType
  override def nullable: Boolean = children.exists(_.nullable)
  override def prettyName: String = "z_value"

  private val n = children.length
  // lazy: n == 0 must surface as an analysis error (checkInputDataTypes),
  // not an ArithmeticException at construction time.
  private lazy val bitsPer = 63 / n

  override def checkInputDataTypes(): TypeCheckResult =
    if (n < 1 || n > 63) {
      TypeCheckResult.TypeCheckFailure(
        s"z_value requires 1 to 63 arguments, got $n")
    } else {
      val integral: DataType => Boolean = {
        case ByteType | ShortType | IntegerType | LongType => true
        case _ => false
      }
      children.find(c => !integral(c.dataType)) match {
        case Some(bad) => TypeCheckResult.TypeCheckFailure(
          s"z_value arguments must be integral (tinyint/smallint/int/bigint), " +
            s"got ${bad.dataType.catalogString}")
        case None => TypeCheckResult.TypeCheckSuccess
      }
    }

  override def eval(input: org.apache.spark.sql.catalyst.InternalRow): Any = {
    val vs = new Array[Long](n)
    var j = 0
    while (j < n) {
      val v = children(j).eval(input)
      if (v == null) return null
      vs(j) = v match {
        case l: Long => l
        case i: Int => i.toLong
        case s: Short => s.toLong
        case b: Byte => b.toLong
        case other => throw new IllegalArgumentException(
          s"z_value argument must be integral, got ${other.getClass.getName}")
      }
      j += 1
    }
    ZValue.interleave(vs, bitsPer)
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val vals = ctx.freshName("zvals")
    val anyNull = ctx.freshName("zAnyNull")
    val evals = children.zipWithIndex.map { case (c, i) =>
      val e = c.genCode(ctx)
      s"""
         |${e.code}
         |if (${e.isNull}) { $anyNull = true; } else { $vals[$i] = (long) ${e.value}; }
       """.stripMargin
    }.mkString("\n")
    import org.apache.spark.sql.catalyst.expressions.codegen.Block._
    ev.copy(code =
      code"""
            |long[] $vals = new long[$n];
            |boolean $anyNull = false;
            |$evals
            |boolean ${ev.isNull} = $anyNull;
            |long ${ev.value} = $anyNull ? 0L :
            |  graft.functions.ZValue.interleave($vals, $bitsPer);
          """.stripMargin)
  }

  override protected def withNewChildrenInternal(
      newChildren: IndexedSeq[Expression]): Expression = copy(children = newChildren)
}

object ZValue {

  def interleave(vs: Array[Long], bitsPer: Int): Long = {
    val n = vs.length
    val mask = (1L << bitsPer) - 1
    var out = 0L
    var i = 0
    while (i < bitsPer) {
      var j = 0
      while (j < n) {
        out |= (((vs(j) & mask) >>> i) & 1L) << (i * n + j)
        j += 1
      }
      i += 1
    }
    out
  }
}
