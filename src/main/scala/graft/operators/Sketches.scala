package graft.operators

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** HyperLogLog re-expressed as a two-level DECLARATIVE aggregate — the
  * Spark-native sketch formulation.
  *
  * Spark's builtin `approx_count_distinct` is an ImperativeAggregate;
  * one in an aggregate list drops the whole HashAggregateExec (and the
  * scan feeding it) out of whole-stage codegen — measured at sf0.1 as
  * the sketch query benching SLOWER than its exact twin (the round-3
  * SCALE.md "Bench audit" caveat). Instead of hand-writing a native
  * kernel, reformulate: HLL *is* "max rank per hash bucket, then a
  * harmonic mean" — and both levels are ordinary codegen'd builtins:
  *
  *   level 1: groupBy(bucket = low p bits of xxhash64)  →  max(rank)
  *   level 2: harmonic sum of the ≤ m bucket rows       →  estimate
  *
  * Scale shape: level 1's map-side partial max bounds every partition's
  * shuffle contribution at m rows (m = 16384 ≈ 256 KB of (idx, max)
  * pairs — same order as the imperative sketch's 16 KB partials, still
  * nothing); level 2 aggregates ≤ m rows per group. Nothing imperative,
  * nothing interpreted, no Expand over the full input (the exact
  * count-distinct's scale problem).
  *
  * Determinism: the harmonic sum Σ 2^−rank is computed in FIXED-POINT —
  * each bucket contributes the long 2^(Scale−rank) via an unsigned
  * shift, so the cross-partition sum is exact integer arithmetic with
  * no float-order jitter; ranks above Scale (probability ≤ n·2⁻⁴⁶)
  * floor to 0, a < 2⁻⁴⁵ relative error. Small-range correction is
  * standard linear counting (m·ln(m/V) when the raw estimate ≤ 2.5m and
  * empty buckets remain); no large-range correction is needed with a
  * 64-bit hash.
  *
  * Accuracy: p=14 → m=16384, rsd ≈ 1.04/√m ≈ 0.81% — the same regime
  * as the builtin at rsd 0.01; AccuracySpec holds both sketch queries
  * to 2% of their exact twins.
  */
object Sketches {

  /** Precision: buckets = 2^P. */
  val P: Int = 14
  val M: Int = 1 << P
  private val Alpha = 0.7213 / (1 + 1.079 / M)
  /** Fixed-point scale of the harmonic sum (see determinism note). */
  private val Scale = 45
  /** Rank-source width: 48 bits (md5 hex chars 5–16; chars 1–4 feed the
    * bucket index, so the two draws are bit-disjoint). Max rank = 49.
    */
  private val WBits = 48

  /** A hash base: one hash per row, and the two bit-disjoint draws the
    * sketch takes from it — the bucket index and the 48-bit rank source.
    * The rank derives per BUCKET from the aggregated minimum rank source
    * via [[hllRankOfMinSource]] (max rank == rank of min w — bit length
    * is monotone in w, and w = 0 maps to rank [[WBits]]+1), so the
    * per-row work is the hash and two integer ops. Both bases share
    * every later step ([[hllContribution]]/[[hllEstimate]]).
    */
  sealed abstract class HashBase {
    def hash(value: Column): Column
    def idx(h: Column): Column
    def rankSource(h: Column): Column
  }

  /** md5 hash base — the oracle-parity TWIN profile (r8): both engines
    * compute identical digests, so the driver hash-checks the sketch
    * itself. Costlier per row than [[XxHash64]]; kept as the documented
    * cross-check, not the deployment path.
    *
    * Since r13 the md5 profile evaluates through the fused
    * [[graft.functions.Md5Head64]] kernel (one digest per row, no
    * hex-string/substring/conv chain) and derives bucket + rank source
    * from bit ranges of the head — the exact integers the old
    * `conv(substring(md5(...)))` forms produced (equivalence table on
    * the kernel), so the DuckDB twins ([[hllIdxSql]]/[[hllRankSql]]) and
    * every emitted value are unchanged.
    */
  case object Md5 extends HashBase {
    def hash(value: Column): Column =
      call_function("md5_h64", value.cast("string"))
    /** Hex chars 1–4 (top 16 bits) mod m (16384 divides 65536 — exactly
      * uniform).
      */
    def idx(h: Column): Column =
      call_function("shiftrightunsigned", h, lit(48)) % M
    /** Hex chars 5–16 (low 48 bits — bit-disjoint from the index). */
    def rankSource(h: Column): Column =
      h.bitwiseAND(lit((1L << WBits) - 1))
  }

  /** Fixed-point harmonic contribution 2^(Scale−maxRank) of one bucket:
    * an unsigned right shift of 2^Scale, so rank > Scale floors to 0
    * (never a negative-shift wraparound).
    */
  def hllContribution(maxRank: Column): Column =
    call_function("shiftrightunsigned", lit(1L << Scale), maxRank)

  /** Final estimate from the level-2 aggregates: `present` = count of
    * occupied buckets, `sumContrib` = Σ contributions of occupied
    * buckets. Empty buckets contribute rank 0 → 2^Scale each.
    */
  def hllEstimate(present: Column, sumContrib: Column): Column = {
    val v = lit(M.toLong) - present
    val sumL = sumContrib + v * lit(1L << Scale)
    val raw = lit(Alpha * M.toDouble * M.toDouble * math.pow(2.0, Scale)) /
      sumL.cast("double")
    when(raw <= lit(2.5 * M) && v > 0,
      round(lit(M.toDouble) * log(lit(M.toDouble) / v.cast("double"))))
      .otherwise(round(raw))
      .cast("long")
  }

  /** Production hash base (r9): xxhash64. The md5 base costs ~5× the
    * CPU of xxhash64 per row and inverted the approx tier's purpose
    * (q18/q21_approx benched SLOWER than their exact twins — r8
    * verdict). This base computes ONE codegen'd xxhash64 (seed 42) of
    * the value as an 8-byte long per row; the cast pins the hashed byte
    * layout. It is STILL fully oracle-checkable: xxhash64 of an 8-byte
    * long is five wrapping multiplies + rotates + xor-shifts, mirrored
    * exactly in DuckDB HUGEINT arithmetic ([[xxh64TableSql]] — wrapping
    * 64×64 multiplies split into 32×32 products, verified bit-identical
    * to Spark's XXH64.hashLong across the long range incl.
    * negatives/extremes).
    */
  case object XxHash64 extends HashBase {
    def hash(value: Column): Column = xxhash64(value.cast("long"))
    /** Low P bits: the bitwise AND on the signed long equals the unsigned
      * value mod m (m divides 2^64 — exactly uniform).
      */
    def idx(h: Column): Column = h.bitwiseAND(lit((M - 1).toLong))
    /** Bits P..P+47 (bit-disjoint from the index). */
    def rankSource(h: Column): Column =
      call_function("shiftrightunsigned", h, lit(P))
        .bitwiseAND(lit((1L << WBits) - 1))
  }

  /** Bucket max-rank from min(rank source). Bit length computed as
    * bit-smear + popcount — pure integer codegen (the md5 path's
    * `length(bin(w))` allocates a string per value; fine on m bucket
    * rows, not on the per-row path). For w > 0 the smear fills every
    * bit below the highest set bit, so bit_count == floor(log2 w) + 1 —
    * the identical value the DuckDB twin derives via length(bin(w));
    * w = 0 falls out naturally (bit_count(0) = 0 → rank WBits+1).
    *
    * NOTE for callers: the smear references its input 2^6 times — feed
    * it a bound ATTRIBUTE (an aggregated column or generator output),
    * never an expression Catalyst's project-collapse could inline into
    * every leaf (measured 4× on q21_approx_prod's first cut).
    */
  def hllRankOfMinSource(minW: Column): Column = {
    val smeared = Seq(1, 2, 4, 8, 16, 32).foldLeft(minW) { (x, s) =>
      x.bitwiseOR(call_function("shiftrightunsigned", x, lit(s)))
    }
    lit(WBits + 1) - call_function("bit_count", smeared).cast("int")
  }

  /** DuckDB twin of [[hllRankOfMinSource]] (same value via bin-length). */
  def hllRankOfMinSourceSql(minW: String): String =
    s"(CASE WHEN $minW = 0 THEN ${WBits + 1} ELSE ${WBits + 1} - length(bin($minW)) END)"

  // — DuckDB mirror of Spark's XXH64.hashLong(v, seed=42), built as a
  // chain of nested subqueries (one step per level, so each intermediate
  // is computed once; lateral-alias inlining would duplicate the split
  // multiplies exponentially). All state is HUGEINT in [0, 2^64).
  private val U = "18446744073709551616::HUGEINT" // 2^64
  private val B32 = 4294967296L // 2^32
  private val Prime1 = java.lang.Long.parseUnsignedLong("11400714785074694791")
  private val Prime2 = java.lang.Long.parseUnsignedLong("14029467366897019727")
  private val Prime3 = 1609587929392839161L
  private val Prime4 = java.lang.Long.parseUnsignedLong("9650029242287828579")
  /** seed(42) + PRIME64_5(2870177450012600261) + 8, no wrap. */
  private val H0 = "2870177450012600311"

  /** Wrapping multiply (a·c) mod 2^64 for constant c: the 64×64 product
    * would overflow HUGEINT, so split c into 32-bit halves — every
    * partial product is < 2^64 and the cross terms are reduced mod 2^32
    * before the shift.
    */
  private def mulcSql(a: String, c: Long): String = {
    val ch = java.lang.Long.divideUnsigned(c, B32)
    val cl = java.lang.Long.remainderUnsigned(c, B32)
    s"((($a) % $B32) * $cl + ((((($a) // $B32) * $cl) % $B32 + " +
      s"((($a) % $B32) * $ch) % $B32) % $B32) * $B32) % $U"
  }

  /** Wrapping rotate-left by r: hi r bits to the bottom, low 64−r bits
    * shifted up (no mod needed — the sum is < 2^64 by construction).
    */
  private def rotlSql(a: String, r: Int): String = {
    val lo = java.math.BigInteger.ONE.shiftLeft(64 - r)
    s"((($a) % $lo) * ${1L << r} + ($a) // $lo)"
  }

  /** Wraps table expression `from` in the xxhash64 chain of `inner`
    * (a BIGINT column), emitting every original column plus `_i`
    * (bucket, BIGINT) and `_w` (48-bit rank source, BIGINT) — the
    * per-row pieces the production-profile oracles aggregate. Mirrors
    * XXH64.hashLong's len-8 path: k1 = rotl(v·P2, 31)·P1;
    * h = rotl(h0 ⊻ k1, 27)·P1 + P4; avalanche xor-shifts 33/29/32 with
    * multiplies P2, P3.
    */
  def xxh64TableSql(from: String, inner: String): String = {
    val steps = Seq(
      "x0" -> s"(CASE WHEN ($inner) < 0 THEN ($inner)::HUGEINT + $U ELSE ($inner)::HUGEINT END)",
      "x1" -> mulcSql("x0", Prime2),
      "x2" -> rotlSql("x1", 31),
      "x3" -> mulcSql("x2", Prime1),
      "x4" -> s"xor($H0::HUGEINT, x3)",
      "x5" -> rotlSql("x4", 27),
      "x6" -> s"(${mulcSql("x5", Prime1)} + ${java.lang.Long.toUnsignedString(Prime4)}) % $U",
      "x7" -> s"xor(x6, x6 // ${1L << 33})",
      "x8" -> mulcSql("x7", Prime2),
      "x9" -> s"xor(x8, x8 // ${1L << 29})",
      "x10" -> mulcSql("x9", Prime3),
      "_u" -> s"xor(x10, x10 // ${1L << 32})",
      "_w" -> s"CAST((_u // $M) % ${1L << WBits} AS BIGINT)",
      "_i" -> s"CAST(_u % $M AS BIGINT)")
    steps.foldLeft(s"($from)") { case (q, (name, expr)) =>
      s"(SELECT *, $expr AS $name FROM $q)"
    }
  }

  // ——— DuckDB twin fragments: the SAME sketch, SQL-side. The level-1/2
  // aggregate structure lives in the caller's oracle SQL; these emit the
  // per-row hash pieces and the finalization so both engines share every
  // constant and every arithmetic step (the integer harmonic sum is
  // fold-order-free; the one double division and ln are identical IEEE
  // ops on identical inputs, rounded to an integer).

  def hllIdxSql(inner: String): String =
    s"(('0x' || substr(md5(CAST($inner AS VARCHAR)), 1, 4))::BIGINT % $M)"

  def hllRankSql(inner: String): String = {
    val w = s"('0x' || substr(md5(CAST($inner AS VARCHAR)), 5, 12))::BIGINT"
    s"(CASE WHEN $w = 0 THEN ${WBits + 1} ELSE ${WBits + 1} - length(bin($w)) END)"
  }

  def hllContributionSql(maxRank: String): String =
    s"((1::BIGINT << $Scale) >> ($maxRank))"

  def hllEstimateSql(present: String, sumContrib: String): String = {
    val v = s"($M - $present)"
    val sumL = s"(CAST($sumContrib AS BIGINT) + $v * ${1L << Scale})"
    // the double literal is Double.toString of the Scala constant — both
    // engines parse it to the identical IEEE value
    val num = java.lang.Double.toString(
      Alpha * M.toDouble * M.toDouble * math.pow(2.0, Scale))
    val raw = s"($num / CAST($sumL AS DOUBLE))"
    s"""CAST(CASE WHEN $raw <= ${2.5 * M} AND $v > 0
       THEN round($M::DOUBLE * ln($M::DOUBLE / CAST($v AS DOUBLE)))
       ELSE round($raw) END AS BIGINT)"""
  }
}
