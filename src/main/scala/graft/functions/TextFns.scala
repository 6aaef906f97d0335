package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** Text primitives shared by the document operators (TextOps, DedupOps).
  *
  * Everything here is built from codegen'd built-in expressions (no UDFs):
  * higher-order functions (`transform`/`aggregate`/`filter`) over token
  * arrays, and an md5-derived 32-bit hash.
  *
  * The hash is `int(md5(s)[0:8], 16)` — chosen because the exact same
  * integer is computable in DuckDB (`('0x' || substr(md5(s),1,8))::BIGINT`),
  * which makes every sketch operator (MinHash, SimHash, LSH) oracle-
  * verifiable bit-for-bit. A production deployment would swap `xxhash64`
  * (one instruction vs a crypto digest) via the `hashExpr` indirection —
  * the operator structure is hash-agnostic.
  */
object TextFns {

  /** 32-bit deterministic hash shared with the DuckDB oracle (SQL fragment
    * form, for use inside higher-order-function lambdas where Column
    * composition isn't available).
    *
    * Since r13 this evaluates through the fused [[Md5Head64]] kernel —
    * the identical integer (first 8 hex chars of the digest) without the
    * hex-string → substring → conv allocation chain; see the kernel's
    * scaladoc for the bit-range equivalence. `md5_h64` is a
    * [[Kernels.All]] entry, so any session that registered the table
    * resolves it; an operator that builds this fragment must be reached
    * through [[graft.Tables.table]] or a DataFrame entry point that calls
    * [[Kernels.register]].
    */
  def h32Sql(inner: String): String =
    s"shiftrightunsigned(md5_h64($inner), 32)"

  def h32(c: Column): Column =
    call_function("shiftrightunsigned", call_function("md5_h64", c), lit(32))

  /** Normalize: lowercase, collapse non-alphanumerics to single spaces. */
  def normText(c: Column): Column =
    trim(regexp_replace(lower(c), "[^a-z0-9]+", " "))

  /** Whitespace tokens of the normalized text. */
  def tokens(c: Column): Column = split(normText(c), " ")

  /** SQL fragments (same semantics) for expr()-built pipelines. */
  def normTextSql(col: String): String =
    s"trim(regexp_replace(lower($col), '[^a-z0-9]+', ' '))"

  /** Word w-shingles (w=3) over a token-array column name; yields the
    * space-joined shingle strings (count = n-2 for n>=3 tokens; empty array
    * below 3 tokens — guarded because Spark's `sequence(1, negative)`
    * DESCENDS and `element_at(t, 0)` throws under ANSI mode, while the
    * DuckDB oracle's `range()` returns an empty list).
    */
  def shingles3Sql(toksCol: String): String = shinglesWSql(toksCol, 3)

  /** Word w-shingles for any width (same guard; space-joined). */
  def shinglesWSql(toksCol: String, w: Int): String = {
    val parts = (0 until w).map(k => s"element_at($toksCol, i + $k)")
      .mkString(", ' ', ")
    s"""IF(size($toksCol) >= $w,
       |  transform(sequence(1, size($toksCol) - ${w - 1}), i -> concat($parts)),
       |  CAST(array() AS ARRAY<STRING>))""".stripMargin
  }

  /** Word 2-grams over a token-array column name (empty below 2 tokens —
    * same descending-`sequence` guard as shingles3Sql).
    */
  def grams2Sql(toksCol: String): String =
    s"""IF(size($toksCol) >= 2,
       |  transform(sequence(1, size($toksCol) - 1),
       |    i -> concat(element_at($toksCol, i), ' ', element_at($toksCol, i + 1))),
       |  CAST(array() AS ARRAY<STRING>))""".stripMargin

  /** Character n-grams of a (pre-normalized) string column name; empty
    * array for strings shorter than n (same guard rationale as shingles).
    */
  def charGramsSql(strCol: String, n: Int): String =
    s"IF(length($strCol) >= $n, " +
      s"array_distinct(transform(sequence(1, length($strCol) - ${n - 1}), i -> substring($strCol, i, $n))), " +
      "CAST(array() AS ARRAY<STRING>))"

  /** MinHash permutation constants: h_i(x) = (A_i·x + B_i) mod P over the
    * base h32. One md5 digest per element total, k cheap integer perms —
    * the standard trick (vs k seeded digests). A_i < 2^15 keeps A·h < 2^47,
    * safely inside BIGINT in both engines.
    */
  val MinhashP: Long = 2147483647L
  val MinhashA: Seq[Long] = Seq(12289, 18433, 24593, 28687, 3079, 6151, 9173, 16411)
  val MinhashB: Seq[Long] = Seq(7, 101, 1009, 10007, 20011, 30011, 40009, 50021)

  /** Element-wise h32 of a string-array column (digest each element ONCE;
    * minhashes derive arithmetically from this array).
    */
  def hashArraySql(arrCol: String): String =
    s"transform($arrCol, s -> ${h32Sql("s")})"

  /** Fixed-width non-overlapping word chunks ("lines" for newline-less
    * docs) over a token-array column name: ceil(n/c) space-joined chunks,
    * the last one possibly short. The unit CCNet/C4-style line dedup
    * hashes — the synthetic corpus has no '\n', so a fixed window stands
    * in for the paragraph boundary.
    */
  def chunksSql(toksCol: String, c: Int): String =
    s"""IF(size($toksCol) >= 1,
       |  transform(sequence(0, CAST(ceil(size($toksCol) / $c.0) AS INT) - 1),
       |    i -> array_join(slice($toksCol, i * $c + 1, $c), ' ')),
       |  CAST(array() AS ARRAY<STRING>))""".stripMargin

  /** MinHash value i over a pre-hashed long-array column. */
  def minhashSql(hashArrCol: String, i: Int): String =
    s"array_min(transform($hashArrCol, h -> (${MinhashA(i)}L * h + ${MinhashB(i)}L) % ${MinhashP}L))"

  /** DuckDB twin of minhashSql (same integers). */
  def minhashDuck(hashArrCol: String, i: Int): String =
    s"list_min(list_transform($hashArrCol, h -> (${MinhashA(i)} * h + ${MinhashB(i)}) % $MinhashP))"
}
