package graft.streaming

import org.apache.spark.sql.{Dataset, Encoders}
import org.apache.spark.sql.streaming.{OutputMode, StatefulProcessor, TTLConfig, TimeMode}
import org.apache.spark.sql.streaming.ValueState

/** One clickstream event on the CEP stream (µs event-time axis, like the
  * batch twin `EventOps.evCep`).
  */
case class CepEvent(user_id: Long, event_id: Long, ts_us: Long, event_type: String)

/** A matched `A B* C` episode — identical shape to the batch twin's output
  * row, so batch-equivalence is a set compare.
  */
case class CepEpisode(user_id: Long, purchase_id: Long, view_id: Long,
                      start_us: Long, end_us: Long, duration_us: Long,
                      n_clicks: Long)

/** Streaming CEP `view click* purchase` matcher — the NFA the batch twin
  * expresses with an ignore-nulls anchor window, run as per-user managed
  * state (the Flink-CEP shape on Spark's `transformWithState`). State is
  * EXACTLY one anchor record per user: the most recent non-click event
  * plus the click count since it — O(1) regardless of how long the user's
  * history is, the same bounded-state contract as the batch window's
  * running frame.
  *
  * Per micro-batch, events fold in (ts, event_id) order (the
  * [[FunnelProcessor]] discipline); across batches the machine applies
  * events in arrival order, so the emitted episodes equal the batch
  * operator whenever each user's events arrive in event-time order across
  * batches (in-batch disorder is always repaired).
  *
  * `ttl` bounds anchor state for 100 TB-scale user cardinalities — an
  * expired anchor merely means the next purchase cannot match an episode
  * older than the TTL, the CEP analogue of watermark-expired lateness.
  */
case class CepAnchor(event_id: Long, ts_us: Long, event_type: String,
                     clicks: Long)

class CepProcessor(ttl: TTLConfig = TTLConfig.NONE)
    extends StatefulProcessor[Long, CepEvent, CepEpisode] {
  @transient private var st: ValueState[CepAnchor] = _

  override def init(outputMode: OutputMode, timeMode: TimeMode): Unit =
    st = getHandle.getValueState[CepAnchor]("cep_anchor",
      Encoders.product[CepAnchor], ttl)

  override def handleInputRows(key: Long, rows: Iterator[CepEvent],
                               timerValues: org.apache.spark.sql.streaming.TimerValues): Iterator[CepEpisode] = {
    var anchor = if (st.exists()) st.get() else null
    val out = Seq.newBuilder[CepEpisode]
    rows.toSeq.sortBy(e => (e.ts_us, e.event_id)).foreach { e =>
      if (e.event_type == "click") {
        if (anchor != null) anchor = anchor.copy(clicks = anchor.clicks + 1)
      } else {
        // emit BEFORE re-anchoring: the batch frame is preceding-rows-only
        if (e.event_type == "purchase" && anchor != null &&
            anchor.event_type == "view") {
          out += CepEpisode(key, e.event_id, anchor.event_id, anchor.ts_us,
            e.ts_us, e.ts_us - anchor.ts_us, anchor.clicks)
        }
        anchor = CepAnchor(e.event_id, e.ts_us, e.event_type, 0L)
      }
    }
    if (anchor != null) st.update(anchor)
    out.result().iterator
  }
}

object CepStream {

  /** CEP episodes over a stream of [[CepEvent]]s; emits a [[CepEpisode]]
    * per match. Requires the RocksDB state store provider, like
    * [[FunnelStream]]; callers opt in with [[StateStores.useRocksDB]].
    */
  def cep(ds: Dataset[CepEvent]): Dataset[CepEpisode] = {
    val spark = ds.sparkSession
    import spark.implicits._
    ds.groupByKey(_.user_id)
      .transformWithState(new CepProcessor(), TimeMode.None(), OutputMode.Append())
  }
}
