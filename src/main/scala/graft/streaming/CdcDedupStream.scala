package graft.streaming

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.operators.DedupOps

/** Streaming content-defined-chunking dedup index — the corpus-wide
  * chunk table of `doc_cdc_dedup`, maintained incrementally: each
  * micro-batch's CDC chunks fold into a running per-digest
  * (count, canonical doc, length) state via a streaming aggregation —
  * the same store-backed accumulate-per-key shape as the reference's
  * windowed distinct (`KStreamDistinct.java:136-142`), keyed on chunk
  * digests instead of whole records. Because CDC boundaries are
  * content-derived, a new document version streaming in shares digests
  * with the already-indexed chunks it didn't edit, and the index
  * grows only by the chunks the edit actually reshaped.
  *
  * Output mode Complete (the spec) or Update (production, emit only
  * touched digests). State is one row per DISTINCT chunk — unbounded
  * like the batch table it mirrors; a long-lived deployment ages it
  * with an event-time state timeout (the [[DedupStream]] retention
  * recipe) or periodic compaction to the batch table.
  *
  * The combinator is batch/stream agnostic (narrow HOFs + one keyed
  * aggregation), so the spec's batch-equivalence check runs the SAME
  * function over both frames.
  */
object CdcDedupStream {

  def cdcDedupStream(docs: DataFrame): DataFrame =
    DedupOps.cdcChunks(docs)
      .groupBy(md5(col("chunk")).as("digest"))
      .agg(count(lit(1)).as("n_occurrences"),
        min(col("doc_id")).as("canonical_id"),
        max(length(col("chunk"))).as("chunk_len"))
}
