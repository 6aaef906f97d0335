package graft.streaming

import org.apache.spark.sql.Dataset
import graft.operators.EventOps

/** One experiment observation on the stream. */
case class AbEvent(event_type: String, user_id: Long, value: Double)

/** A live A/B readout row for one metric, recomputed per micro-batch. */
case class AbReadout(event_type: String, n_a: Long, n_b: Long,
                     mean_a: Double, mean_b: Double,
                     t_stat: Double, welch_df: Double, srm_chi2: Double)

/** Streaming A/B monitor — the batch `ev_ab_stats` plan run as a
  * streaming aggregation. Its state is the six exact BIGINT moments per
  * metric key, and in Update mode every micro-batch that touches a key
  * emits that key's refreshed Welch t / df / SRM χ² row (the dashboard
  * always shows the statistics of everything that has arrived).
  *
  * Because the moments are exact integers and the finalization is the
  * batch operator's own expressions, the readout after any prefix of the
  * stream equals [[EventOps.evAbStatsOf]] on that prefix, bit for bit,
  * whatever the arrival order and batch boundaries.
  */
object AbStatsStream {
  def readouts(ds: Dataset[AbEvent]): Dataset[AbReadout] = {
    val spark = ds.sparkSession
    import spark.implicits._
    EventOps.evAbStatsOf(ds.toDF()).as[AbReadout]
  }
}
