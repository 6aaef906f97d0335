package graft.functions

import org.apache.spark.sql.Encoder
import org.apache.spark.sql.expressions.Aggregator

/** Fused second-moment accumulator for `emb_cov`'s covariance fit: one
  * pass over milli-quantized vectors producing, in a single buffer,
  *
  *   [ n , s_0..s_{d-1} , upper-triangle p_ij (i ≤ j, row-major) ]
  *
  * — the exact BIGINT sums the covariance normalization needs. The
  * declarative first cut exploded d(d+1)/2 product structs PER ROW into
  * a 2080-key hash aggregate (measured 2.1 s at sf0.1); this buffer
  * does the same arithmetic as d(d+1)/2 multiply-adds into a flat long
  * array, shuffling ONE ~17 KB buffer per map task instead of millions
  * of slim rows. Every sum is a fold-order-free integer, so the result
  * is bit-identical to the exploded form and to the DuckDB oracle.
  */
class CovMoments(val dims: Int) extends Aggregator[Seq[Long], Array[Long], Seq[Long]] {
  private val nTri = dims * (dims + 1) / 2
  private val len = 1 + dims + nTri

  override def zero: Array[Long] = new Array[Long](len)

  override def reduce(b: Array[Long], vq: Seq[Long]): Array[Long] = {
    val v = vq.toArray
    b(0) += 1L
    var i = 0
    var t = 1 + dims
    while (i < dims) {
      b(1 + i) += v(i)
      var j = i
      while (j < dims) {
        b(t) += v(i) * v(j)
        t += 1
        j += 1
      }
      i += 1
    }
    b
  }

  override def merge(a: Array[Long], b: Array[Long]): Array[Long] = {
    var i = 0
    while (i < len) { a(i) += b(i); i += 1 }
    a
  }

  override def finish(b: Array[Long]): Seq[Long] = b.toSeq

  override def bufferEncoder: Encoder[Array[Long]] =
    org.apache.spark.sql.catalyst.encoders.ExpressionEncoder[Array[Long]]()
  override def outputEncoder: Encoder[Seq[Long]] =
    org.apache.spark.sql.catalyst.encoders.ExpressionEncoder[Seq[Long]]()
}
