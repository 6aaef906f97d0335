package graft.streaming

import org.apache.spark.sql.{Dataset, Encoders}
import org.apache.spark.sql.streaming.{MapState, OutputMode, StatefulProcessor, TimeMode, ValueState}
import org.apache.spark.sql.functions.{col, expr}
import graft.operators.EventOps

/** One experiment observation on the stream; `pre` marks pre-experiment
  * (covariate) activity vs experiment-period activity.
  */
case class CupedEvent(event_type: String, user_id: Long, value: Double,
                      pre: Boolean)

/** A live CUPED readout row for one metric (the batch `ev_ab_cuped` row). */
case class CupedReadout(event_type: String, n_a: Long, n_b: Long,
                        theta: Double, mean_a_adj: Double, mean_b_adj: Double,
                        t_cuped: Double, var_red: Double)

/** A [[CupedEvent]] with its value on the batch's milli grid. */
private[streaming] case class CupedObs(event_type: String, user_id: Long,
                                       vq: Long, pre: Boolean)

/** Per-user covariate pair (exact milli-grid sums). */
private[streaming] case class UserXY(x: Long, y: Long)

/** The per-arm exact moments of one metric, named as the batch
  * [[EventOps.evAbCupedOf]] aggregation names them.
  */
private[streaming] case class CupedMoments(
    event_type: String, n_a: Long, n_b: Long,
    sx_a: Long, sx_b: Long, sy_a: Long, sy_b: Long,
    sxx_a: Long, sxx_b: Long, syy_a: Long, syy_b: Long,
    sxy_a: Long, sxy_b: Long)

/** Streaming CUPED monitor — the streaming face of the batch
  * `ev_ab_cuped`. CUPED's second moments are over PER-USER sums, so a
  * flat fold over events can't maintain them: when a user's running
  * (X, Y) changes, their squared/cross contributions must be REPLACED,
  * not appended, which a chained streaming aggregation cannot express.
  * The processor therefore keeps two pieces of managed state per metric
  * key:
  *
  *   - `users`: a MapState user_id → (X, Y) running covariate pair;
  *   - `moments`: the twelve per-arm BIGINT moments, maintained
  *     incrementally by subtracting a user's old contribution and adding
  *     the new one on every update — O(1) per record, exact integers, so
  *     arrival order and batch boundaries are irrelevant.
  *
  * Arms follow the batch: `user_id % 2` 0 → A, 1 → B, and a negative odd
  * id (−1) is in neither arm. The processor emits the refreshed moments
  * row of every key it touches, and [[CupedStream.readouts]] finalizes it
  * with the batch [[EventOps.cupedReadout]], so the readout after any
  * prefix equals the batch operator on that prefix BIT FOR BIT.
  *
  * Scale note: keying by metric serializes each metric's map updates
  * through one task (state size = |users| entries — the same information
  * the batch op shuffles). A production deployment shards the key to
  * (metric, user_id % K) and merges the K moment rows at read time —
  * the moments are additive, so the merge is exact; the single-key form
  * here keeps the twin minimal.
  */
private[streaming] class CupedProcessor
    extends StatefulProcessor[String, CupedObs, CupedMoments] {
  @transient private var users: MapState[Long, UserXY] = _
  @transient private var st: ValueState[CupedMoments] = _

  override def init(outputMode: OutputMode, timeMode: TimeMode): Unit = {
    users = getHandle.getMapState[Long, UserXY]("users",
      Encoders.scalaLong, Encoders.product[UserXY],
      org.apache.spark.sql.streaming.TTLConfig.NONE)
    st = getHandle.getValueState[CupedMoments]("moments",
      Encoders.product[CupedMoments],
      org.apache.spark.sql.streaming.TTLConfig.NONE)
  }

  override def handleInputRows(key: String, rows: Iterator[CupedObs],
                               timerValues: org.apache.spark.sql.streaming.TimerValues): Iterator[CupedMoments] = {
    var m = if (st.exists()) st.get()
      else CupedMoments(key, 0L, 0L, 0L, 0L, 0L, 0L, 0L, 0L, 0L, 0L, 0L, 0L)
    rows.filter(e => e.user_id % 2 == 0 || e.user_id % 2 == 1).foreach { e =>
      val old = if (users.containsKey(e.user_id)) users.getValue(e.user_id) else null
      val (x0, y0, isNew) =
        if (old == null) (0L, 0L, true) else (old.x, old.y, false)
      val x1 = if (e.pre) x0 + e.vq else x0
      val y1 = if (e.pre) y0 else y0 + e.vq
      users.updateValue(e.user_id, UserXY(x1, y1))
      val (dx, dy) = (x1 - x0, y1 - y0)
      val (dxx, dyy, dxy) =
        (x1 * x1 - x0 * x0, y1 * y1 - y0 * y0, x1 * y1 - x0 * y0)
      m = if (e.user_id % 2 == 0)
        m.copy(n_a = m.n_a + (if (isNew) 1 else 0),
          sx_a = m.sx_a + dx, sy_a = m.sy_a + dy,
          sxx_a = m.sxx_a + dxx, syy_a = m.syy_a + dyy, sxy_a = m.sxy_a + dxy)
      else
        m.copy(n_b = m.n_b + (if (isNew) 1 else 0),
          sx_b = m.sx_b + dx, sy_b = m.sy_b + dy,
          sxx_b = m.sxx_b + dxx, syy_b = m.syy_b + dyy, sxy_b = m.sxy_b + dxy)
    }
    st.update(m)
    Iterator.single(m)
  }
}

object CupedStream {
  def readouts(ds: Dataset[CupedEvent]): Dataset[CupedReadout] = {
    val spark = ds.sparkSession
    import spark.implicits._
    val obs = ds.select(col("event_type"), col("user_id"),
        expr("CAST(round(value * 1000) AS BIGINT)").as("vq"), col("pre"))
      .as[CupedObs]
    EventOps.cupedReadout(obs.groupByKey(_.event_type)
        .transformWithState(new CupedProcessor(),
          TimeMode.None(), OutputMode.Update())
        .toDF())
      .as[CupedReadout]
  }
}
