package graft.streaming

import org.apache.spark.sql.{DataFrame, Dataset}
import graft.functions.MisraGries

/** Streaming heavy hitters — the streaming twin of the batch
  * `doc_ngram_topk_sketch` query, built from the SAME `MisraGries`
  * Aggregator: a streaming aggregation keeps the summary map as its
  * state-store buffer and `merge`s each micro-batch's partial summaries
  * into it (the mergeable-summary property is exactly what makes the
  * sketch streamable). State is O(capacity) FOREVER — an exact streaming
  * gram count would grow state with the vocabulary, the streaming
  * mirror of the 100 TB shuffle argument in the batch scaladoc.
  *
  * Run the sink in Complete mode: a global aggregate re-emits the whole
  * (≤ capacity rows after the explode) summary each batch.
  */
object TopKStream {

  /** Global heavy-hitter summary over a stream of items. The result
    * column holds the full summary (item, est-count) seq, highest first;
    * `explodeTopk` flattens it to rows.
    */
  def topk(items: Dataset[String], capacity: Int): DataFrame =
    items.select(new MisraGries(capacity).toColumn.name("topk")).toDF()

  /** `MisraGries` over the value slot of a keyed pair — `Aggregator` has
    * no contramap, so delegate explicitly. */
  private class KeyedMG[K](capacity: Int)
      extends org.apache.spark.sql.expressions.Aggregator[
        (K, String), Map[String, Long], Seq[(String, Long)]] {
    private val mg = new MisraGries(capacity)
    override def zero: Map[String, Long] = mg.zero
    override def reduce(b: Map[String, Long], a: (K, String)): Map[String, Long] =
      mg.reduce(b, a._2)
    override def merge(a: Map[String, Long], b: Map[String, Long]): Map[String, Long] =
      mg.merge(a, b)
    override def finish(b: Map[String, Long]): Seq[(String, Long)] = mg.finish(b)
    override def bufferEncoder: org.apache.spark.sql.Encoder[Map[String, Long]] =
      mg.bufferEncoder
    override def outputEncoder: org.apache.spark.sql.Encoder[Seq[(String, Long)]] =
      mg.outputEncoder
  }

  /** Per-group heavy hitters (e.g. grams per language): one bounded
    * summary per key, same state bound per group.
    */
  def topkByKey[K](items: Dataset[(K, String)], capacity: Int)(
      implicit ke: org.apache.spark.sql.Encoder[K]): Dataset[(K, Seq[(String, Long)])] =
    items.groupByKey(_._1)
      .agg(new KeyedMG[K](capacity).toColumn.name("topk"))

  def explodeTopk(df: DataFrame): DataFrame = {
    import org.apache.spark.sql.functions._
    df.select(explode(col("topk")).as("kv"))
      .select(col("kv._1").as("item"), col("kv._2").as("est"))
  }
}
