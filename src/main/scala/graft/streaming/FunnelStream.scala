package graft.streaming

import org.apache.spark.sql.{Dataset, Encoders}
import org.apache.spark.sql.streaming.{OutputMode, StatefulProcessor, TTLConfig, TimeMode}
import org.apache.spark.sql.streaming.ValueState

/** One funnel event on the stream (µs event-time axis, like the batch
  * twin). Top-level so the product encoder resolves outside sbt's REPL
  * classloader quirks.
  */
case class FunnelEvent(user_id: Long, ts_us: Long, event_type: String)

/** A funnel-state change: the per-stage first-qualifying times known so
  * far for this user (-1 = stage not reached). Updates are MONOTONE —
  * a later update only fills stages the previous one left unset — so the
  * row with the most set stages is the user's current funnel row.
  */
case class FunnelUpdate(user_id: Long, times: Array[Long])

/** Streaming n-stage funnel as a `StatefulProcessor` — the reference's
  * stateful-Processor pattern (SURVEY.md §2.4) generalized to the funnel
  * state machine of `EventOps.funnelStages`. Per-user state is EXACTLY n
  * longs (the bounded-state design the batch twin gets from its
  * conditional-min windows): stage i is set by the first stage-i event
  * with ts > times(i-1), and never changes once set.
  *
  * Within a micro-batch, events are sorted by event time before the fold
  * (same discipline as [[DedupStream]]); across batches the machine
  * applies events in arrival order, so the result equals the batch funnel
  * whenever each user's events arrive in event-time order across batches
  * (in-batch disorder is always repaired). A stage-changing late event is
  * applied forward-only — set-stages never rewind, the streaming analogue
  * of watermark-expired lateness.
  *
  * State never expires by default (a funnel is a lifetime-per-user fact);
  * pass `ttl` to bound state for 100 TB-scale user cardinalities where
  * an inactive user's funnel may be evicted.
  */
class FunnelProcessor(stages: Seq[String], ttl: TTLConfig = TTLConfig.NONE)
    extends StatefulProcessor[Long, FunnelEvent, FunnelUpdate] {
  @transient private var st: ValueState[FunnelUpdate] = _

  override def init(outputMode: OutputMode, timeMode: TimeMode): Unit =
    st = getHandle.getValueState[FunnelUpdate]("funnel",
      Encoders.product[FunnelUpdate], ttl)

  override def handleInputRows(key: Long, rows: Iterator[FunnelEvent],
                               timerValues: org.apache.spark.sql.streaming.TimerValues): Iterator[FunnelUpdate] = {
    val times =
      if (st.exists()) st.get().times.clone()
      else Array.fill(stages.length)(-1L)
    var changed = false
    rows.toSeq.sortBy(e => (e.ts_us, e.event_type)).foreach { e =>
      val i = stages.indexOf(e.event_type)
      if (i >= 0 && times(i) < 0 &&
          (i == 0 || (times(i - 1) >= 0 && e.ts_us > times(i - 1)))) {
        times(i) = e.ts_us
        changed = true
      }
    }
    if (changed) {
      val upd = FunnelUpdate(key, times)
      st.update(upd)
      if (times(0) >= 0) Iterator(upd) else Iterator.empty
    } else Iterator.empty
  }
}

object FunnelStream {

  /** n-stage funnel over a stream of [[FunnelEvent]]s; emits a
    * [[FunnelUpdate]] whenever a user's funnel advances. Requires the
    * RocksDB state store provider; callers opt in with
    * [[StateStores.useRocksDB]].
    */
  def funnel(ds: Dataset[FunnelEvent], stages: Seq[String]): Dataset[FunnelUpdate] = {
    val spark = ds.sparkSession
    import spark.implicits._
    ds.groupByKey(_.user_id)
      .transformWithState(new FunnelProcessor(stages), TimeMode.None(), OutputMode.Append())
  }
}
