package graft.streaming

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}

import graft.operators.DedupOps

/** Streaming exact-substring (span) dedup — the stateful twin of the
  * batch `doc_span_dedup` detector: the first occurrence of any w-token
  * window to stream through claims the span forever; every later
  * occurrence (same batch or any later one) is emitted on the removal
  * list. The reference's windowed-distinct topology
  * (KStreamDistinct.java:136-142 — per-key state store deciding
  * emit/suppress) at sub-document granularity, with the emit/suppress
  * polarity inverted: the DUPLICATES are the output.
  *
  * Construction: the same slim (doc_id, pos, span_h) window stream as
  * the batch twin (one exchange, keyed on span_h — the
  * `flatMapGroupsWithState` grouping IS that exchange), then one
  * `Boolean` of state per claimed span. Within a micro-batch the
  * occurrence list is ranked (doc_id, pos) exactly like the batch
  * window, so replaying a corpus through the stream in doc order
  * reproduces the batch removal list row-for-row
  * (SpanDedupStreamSpec asserts set equality).
  *
  * State retention: one Boolean per DISTINCT span hash — the same
  * unbounded-state caveat as `LineDedupStream`'s chunk store. A
  * long-lived deployment bounds it the way `DedupStream` bounds its id
  * store: watermark an ingest timestamp and expire spans idle past the
  * retention horizon (trading "forever" ownership for windowed
  * ownership, the reference's own retention semantics).
  */
object SpanDedupStream {

  /** `docs`: streaming frame with (doc_id, text). Emits (doc_id, pos,
    * span_h) removal rows in Append mode — each occurrence is decided
    * exactly once, the batch it arrives in.
    */
  def spanDedupStream(docs: DataFrame, w: Int = 16): DataFrame = {
    val spark = docs.sparkSession
    import spark.implicits._
    DedupOps.spanWindows(docs, w)
      .as[(Long, Long, Long)]
      .groupByKey(_._3)
      .flatMapGroupsWithState(OutputMode.Append, GroupStateTimeout.NoTimeout) {
        (_: Long, occ: Iterator[(Long, Long, Long)], state: GroupState[Boolean]) =>
          // (doc_id, pos) rank within the batch = the batch twin's window
          // order; the canonical first survives only if the span is unclaimed
          val sorted = occ.toArray.sortBy(r => (r._1, r._2))
          if (state.exists) sorted.iterator
          else {
            state.update(true)
            sorted.iterator.drop(1)
          }
      }
      .toDF("doc_id", "pos", "span_h")
  }
}
