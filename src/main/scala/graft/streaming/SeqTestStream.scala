package graft.streaming

import org.apache.spark.sql.Dataset
import graft.operators.EventOps

/** A live always-valid readout row for one metric (the batch `ev_ab_seq`
  * row, 1e-6-rounded like it).
  */
case class SeqReadout(event_type: String, n_a: Long, n_b: Long,
                      diff: Double, lambda: Double, p_seq: Double)

/** Streaming always-valid A/B monitor — mSPRT IS the streaming-native
  * test: its p-value stays valid under CONTINUOUS peeking, so emitting
  * it per micro-batch (which is exactly "peeking after every batch") is
  * statistically legal, where streaming the fixed-n Welch t of
  * [[AbStatsStream]] invites the classic early-stopping false-positive
  * inflation. The batch `ev_ab_seq` plan runs as a streaming aggregation
  * in Update mode: the same six exact integer moments as state (order-
  * and batch-boundary-free) and the same finalization, so the streamed
  * row after any prefix equals [[EventOps.evAbSeqOf]] on that prefix
  * bit for bit. An overflowed likelihood ratio reads lambda = Infinity,
  * p_seq = 0, as in the batch.
  */
object SeqTestStream {
  def readouts(ds: Dataset[AbEvent]): Dataset[SeqReadout] = {
    val spark = ds.sparkSession
    import spark.implicits._
    EventOps.evAbSeqOf(ds.toDF()).as[SeqReadout]
  }
}
