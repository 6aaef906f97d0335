package graft.streaming

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.functions.TextFns._

/** Streaming chunk-level dedup — the reference's windowed-distinct
  * topology (KStreamDistinct.java:136-142: per-key state store deciding
  * emit/suppress) generalized from whole-record keys to sub-document
  * chunks: the first doc to stream a chunk owns it forever; later docs
  * are rebuilt without it. The batch twin is `doc_line_dedup`.
  *
  * Two chained stateful operators: `dropDuplicates` on the chunk hash
  * (the cross-batch "seen" store — unbounded here; a long-lived
  * deployment uses `dropDuplicatesWithinWatermark` for the reference's
  * retention-window behavior) followed by the per-doc reassembly
  * aggregation in Update mode. A doc's chunks all land in one
  * micro-batch, so its aggregate is final when first emitted.
  */
object LineDedupStream {

  def lineDedupStream(docs: DataFrame, chunkWords: Int = 8): DataFrame = {
    graft.functions.Kernels.register(docs.sparkSession)
    docs
      .withColumn("t", tokens(col("text")))
      .withColumn("chunks", expr(chunksSql("t", chunkWords)))
      .select(col("doc_id"), posexplode(col("chunks")).as(Seq("ci", "chunk")))
      .withColumn("ch", expr(h32Sql("chunk")))
      .dropDuplicates("ch")
      .groupBy(col("doc_id"))
      .agg(sort_array(collect_list(struct(col("ci"), col("chunk")))).as("kept"))
      .select(col("doc_id"),
        size(col("kept")).cast("long").as("n_kept"),
        expr("array_join(transform(kept, z -> z.chunk), ' ')").as("text_clean"))
  }
}
