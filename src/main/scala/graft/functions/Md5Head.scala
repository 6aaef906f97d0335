package graft.functions

import java.security.MessageDigest

import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.types.{DataType, DataTypes, LongType}
import org.apache.spark.unsafe.types.UTF8String

/** Native Catalyst expression: the first 8 bytes of md5(s) as a
  * big-endian long — the fused form of the engine's oracle-parity hash
  * family (r13 optimization; guide §1.2 "per-task work").
  *
  * Every derived hash the operators use is a bit-range of this value,
  * IDENTICAL to the original hex-string formulations:
  *
  *   - `h32`  = first 8 hex chars  = `shiftrightunsigned(md5_h64(s), 32)`
  *     (was `conv(substring(md5(s), 1, 8), 16, 10)`);
  *   - HLL bucket = hex chars 1–4  = `shiftrightunsigned(md5_h64(s), 48) % m`
  *     (was `conv(substring(md5(s), 1, 4), 16, 10) % m`);
  *   - HLL rank source = hex chars 5–16 = `md5_h64(s) & (2^48 − 1)`
  *     (was `conv(substring(md5(s), 5, 12), 16, 10)`).
  *
  * Why it exists: the builtin chain evaluates as md5 → 32-char hex
  * UTF8String → substring → conv (a base-16 string parse), allocating
  * ~6 objects per hash and looking up a fresh MessageDigest per call
  * (commons-codec `DigestUtils.md5Hex`). This kernel digests the UTF8
  * bytes into a thread-local MessageDigest and assembles the long with
  * shifts — no strings, no per-call allocation beyond the digest's
  * 16-byte output. Measured at r13 on q18_approx_distinct (600 k rows,
  * one hash per row): 1.95 s → see OPTIMIZATION_r13.md.
  *
  * Oracle parity is untouched: the DuckDB twins keep computing
  * `('0x' || substr(md5(s), 1, 8))::BIGINT` etc.; only the Spark-side
  * evaluation of the same integer changed. MD5 of the same UTF-8 bytes
  * is the same 16 bytes in any engine.
  */
case class Md5Head64(child: Expression)
    extends UnaryExpression {

  // input contract: STRING (every call site hashes an explicit string
  // expression; the operators' gram/shingle/key inputs are strings)
  override def checkInputDataTypes()
      : org.apache.spark.sql.catalyst.analysis.TypeCheckResult =
    if (child.dataType == DataTypes.StringType)
      org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
    else org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
      s"md5_h64 requires a string argument, got ${child.dataType}")
  override def dataType: DataType = LongType
  override def prettyName: String = "md5_h64"

  override def nullSafeEval(input: Any): Any =
    Md5Head64.hash(input.asInstanceOf[UTF8String])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.functions.Md5Head64.hash($c)")

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

object Md5Head64 {
  private val tl: ThreadLocal[MessageDigest] =
    ThreadLocal.withInitial(() => MessageDigest.getInstance("MD5"))

  /** First 8 md5 bytes of the UTF-8 encoding, big-endian (== the value
    * of the first 16 hex chars of the digest).
    */
  def hash(s: UTF8String): Long = {
    val md = tl.get()
    md.reset()
    val d = md.digest(s.getBytes)
    ((d(0) & 0xffL) << 56) | ((d(1) & 0xffL) << 48) |
      ((d(2) & 0xffL) << 40) | ((d(3) & 0xffL) << 32) |
      ((d(4) & 0xffL) << 24) | ((d(5) & 0xffL) << 16) |
      ((d(6) & 0xffL) << 8) | (d(7) & 0xffL)
  }
}
