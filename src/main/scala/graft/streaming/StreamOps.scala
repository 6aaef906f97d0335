package graft.streaming

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Streaming window/join combinators — the Structured Streaming extension
  * surface beyond the reference (SURVEY.md §2.3/§2.5 rows marked absent
  * there). All are thin declarative wrappers: watermarks drive state
  * eviction, windows are event-time buckets, the stream-stream join keeps
  * both sides' state bounded by watermark + interval.
  */
object StreamOps {

  /** Tumbling event-time window aggregation (works on batch and streaming
    * frames alike).
    */
  def tumblingCount(df: DataFrame, tsCol: String, keyCol: String,
                    windowLen: String, watermark: String = "10 minutes"): DataFrame =
    df.withWatermark(tsCol, watermark)
      .groupBy(window(col(tsCol), windowLen), col(keyCol))
      .agg(count(lit(1)).as("n"))
      .select(col("window.start").as("window_start"), col(keyCol), col("n"))

  /** Sliding event-time windows: each event lands in windowLen/slide
    * overlapping buckets (state size scales with the overlap factor —
    * keep slide ≥ windowLen/4 at 100 TB event rates).
    */
  def slidingCount(df: DataFrame, tsCol: String, keyCol: String,
                   windowLen: String, slide: String,
                   watermark: String = "10 minutes"): DataFrame =
    df.withWatermark(tsCol, watermark)
      .groupBy(window(col(tsCol), windowLen, slide), col(keyCol))
      .agg(count(lit(1)).as("n"))
      .select(col("window.start").as("window_start"), col(keyCol), col("n"))

  /** Session windows: gap-based event-time sessions per key. */
  def sessionCount(df: DataFrame, tsCol: String, keyCol: String,
                   gap: String, watermark: String = "10 minutes"): DataFrame =
    df.withWatermark(tsCol, watermark)
      .groupBy(session_window(col(tsCol), gap), col(keyCol))
      .agg(count(lit(1)).as("n"))
      .select(col("session_window.start").as("session_start"),
        col("session_window.end").as("session_end"), col(keyCol), col("n"))

  /** Stream-static enrichment: join a stream against a batch dimension
    * table. The static side re-plans per micro-batch (so a refreshed dim
    * snapshot is picked up) and broadcasts when small — the stream side
    * never shuffles and no state store is involved, making this the
    * cheapest join in the streaming toolbox; prefer it over stream-stream
    * whenever one side is a slowly-changing table.
    */
  def enrich(stream: DataFrame, dim: DataFrame, key: String,
             joinType: String = "left_outer"): DataFrame =
    stream.join(org.apache.spark.sql.functions.broadcast(dim), Seq(key), joinType)

  /** Stream-stream inner join with an event-time interval bound: right
    * rows match left rows within [left.ts - before, left.ts + after].
    * Watermarks + the interval condition let Spark expire both sides'
    * state (unbounded joins never expire — always bound the interval).
    */
  def intervalJoin(left: DataFrame, right: DataFrame, key: String,
                   leftTs: String, rightTs: String,
                   before: String, after: String,
                   watermark: String = "10 minutes"): DataFrame = {
    val l = left.withWatermark(leftTs, watermark)
    val r = right.withWatermark(rightTs, watermark)
      .withColumnRenamed(key, "__rk") // avoid ambiguous key in the output
    l.join(r,
      col(key) === col("__rk") &&
        col(rightTs) >= col(leftTs) - expr(s"INTERVAL $before") &&
        col(rightTs) <= col(leftTs) + expr(s"INTERVAL $after"))
      .drop("__rk")
  }
}
