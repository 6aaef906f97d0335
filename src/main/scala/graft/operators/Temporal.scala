package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import graft.Tables

/** Temporal join operators. The as-of join (each left row matched to the
  * most recent right row at-or-before its time, per key) is implemented as
  * union → single hash-shuffle on the key → one sort → running
  * `last(..., ignoreNulls)` — O(n log n) per partition with ONE exchange,
  * instead of the O(n²) inequality join a naive formulation produces.
  * This is the plan shape that survives 100 TB: no broadcast of an
  * unbounded side, no range-join explosion, and AQE handles key skew.
  *
  * (DuckDB expresses the same operator as `ASOF JOIN`; the oracle uses the
  * identical window formulation to pin tie semantics exactly.)
  */
object Temporal {

  /** Generic as-of join.
    *
    * @param left       left rows (all kept)
    * @param right      right rows (matched backward in time)
    * @param keys       equi-join keys
    * @param tsCol      event-time column name (same name both sides)
    * @param idCol      unique tiebreak column name (same both sides)
    * @param rightVals  right columns to carry (emitted as `asof_<name>`)
    *
    * At equal timestamps the right row is considered visible to the left
    * row (right sorts first; ties inside a side break by `idCol`).
    */
  def asofJoin(left: DataFrame, right: DataFrame, keys: Seq[String],
               tsCol: String, idCol: String,
               rightVals: Seq[String]): DataFrame = {
    val keep = keys ++ Seq(tsCol, idCol)
    val l = left.select(keep.map(col) ++ Seq(lit(0).as("__is_right")) ++
      rightVals.map(c => lit(null).cast(right.schema(c).dataType).as(s"__rv_$c")): _*)
    val r = right.select(keep.map(col) ++ Seq(lit(1).as("__is_right")) ++
      rightVals.map(c => col(c).as(s"__rv_$c")): _*)
    val w = Window.partitionBy(keys.map(col): _*)
      .orderBy(col(tsCol).asc, col("__is_right").desc, col(idCol).asc)
      .rowsBetween(Window.unboundedPreceding, 0)
    val carried = l.unionByName(r)
      .select((keep.map(col) :+ col("__is_right")) ++
        rightVals.map(c => last(col(s"__rv_$c"), ignoreNulls = true).over(w)
          .as(s"asof_$c")): _*)
    carried.filter(col("__is_right") === 0).drop("__is_right")
  }

  /** ev_asof: each `error` event joined to the user's most recent
    * `purchase` at-or-before it.
    */
  def evAsofJoin(spark: SparkSession, sfDir: String): DataFrame = {
    val ev = Tables.events(spark, sfDir)
      .withColumn("ts_us", expr("ts div 1000"))
    val errors = ev.filter(col("event_type") === "error")
      .select(col("user_id"), col("ts_us"), col("event_id"))
    val purchases = ev.filter(col("event_type") === "purchase")
      .select(col("user_id"), col("ts_us"), col("event_id"),
        col("value").as("purch_value"))
    asofJoin(errors, purchases, Seq("user_id"), "ts_us", "event_id",
      Seq("purch_value"))
      .select(col("event_id"), col("user_id"), col("ts_us"),
        col("asof_purch_value"))
  }

  val evAsofJoinSql: String =
    """SELECT event_id, user_id, ts_us, asof_purch_value FROM (
      |  SELECT event_id, user_id, ts_us, is_right,
      |    last_value(rv IGNORE NULLS) OVER (
      |      PARTITION BY user_id
      |      ORDER BY ts_us ASC, is_right DESC, event_id ASC
      |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS asof_purch_value
      |  FROM (
      |    SELECT event_id, user_id, epoch_us(ts) AS ts_us,
      |      CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END AS is_right,
      |      CASE WHEN event_type = 'purchase' THEN value END AS rv
      |    FROM events WHERE event_type IN ('error', 'purchase')))
      |WHERE is_right = 0""".stripMargin

  /** Time-series cross-correlation screening: Pearson correlation between
    * every pair of users' daily value series over their SHARED days —
    * the all-pairs similarity scan a time-series search system runs
    * before (or instead of) an index (cf. streaming TS similarity
    * search, EDBT 2019). Emits pairs with enough overlap to be
    * meaningful (`minDays`) and |corr| above the screen threshold.
    *
    * Determinism recipe: values quantize to integer MILLI-units PER
    * EVENT (exact — the generator emits 2-decimal values; before any
    * sum), so every sufficient statistic (n, Σx, Σy, Σx², Σy², Σxy) is
    * a fold-order-free BIGINT (milli-grid keeps Σx² ≤ ~2e12 here, with
    * ~6 orders of BIGINT headroom at any realistic series length); the
    * closed-form corr then runs identical correctly-rounded IEEE ops in
    * both engines — no rounding step, no half-tie hazard. Zero-variance
    * series are excluded by an explicit positive-variance guard (the
    * 0/0 and x/0 corr rows are undefined, and ±Inf would pass an
    * |corr| screen).
    *
    * Scale shape: the screening UNIVERSE is bounded to the `topUsers`
    * most-active series first (deterministic: event count desc, user_id
    * asc — one slim groupBy + TakeOrderedAndProject, then a broadcast
    * semi-join the full scan streams through). That bound is what makes
    * the op a 100 TB citizen: cross-correlation screening is O(K²·D) BY
    * CONSTRUCTION — K is the analyst's candidate-set size, never the
    * population (an unbounded all-pairs over 10⁸ users is 10¹⁶ pairs at
    * ANY engine speed; measured here, the unbounded default was 10.7 s
    * at sf0.1 — the suite's slowest query — vs ~1 s bounded, purely from
    * day-join fan-out). Within the universe, the day-keyed self-join's
    * exchange carries slim (user, day, vq) rows and the pair statistics
    * fold map-side into one (ua, ub) aggregate, so memory is bounded by
    * distinct pairs, not series length. To widen recall beyond top-K at
    * scale, the exact tier sits behind a candidate screen (JL
    * sign-sketch of the day-vector, the [[VectorOps.embRp]] recipe) —
    * same two-tier contract as the dedup families.
    */
  def evTsCorr(spark: SparkSession, sfDir: String): DataFrame =
    evTsCorr(spark, sfDir, minDays = 10, minAbsCorr = 0.2, topUsers = 100)

  def evTsCorr(spark: SparkSession, sfDir: String,
               minDays: Int, minAbsCorr: Double, topUsers: Int): DataFrame = {
    val ev = graft.Tables.events(spark, sfDir)
    val universe = ev.groupBy(col("user_id"))
      .agg(count(lit(1)).as("n_ev"))
      .orderBy(col("n_ev").desc, col("user_id").asc)
      .limit(topUsers)
      .select(col("user_id"))
    val daily = ev
      .join(broadcast(universe), Seq("user_id"))
      .select(col("user_id"),
        expr("ts div 86400000000000").as("day"), // ns → day (integer div)
        expr("CAST(round(value * 1000) AS BIGINT)").as("vq"))
      .groupBy(col("user_id"), col("day"))
      .agg(sum(col("vq")).as("v"))
    val a = daily.select(col("user_id").as("ua"), col("day"), col("v").as("x"))
    val b = daily.select(col("user_id").as("ub"), col("day"), col("v").as("y"))
    a.join(b, Seq("day")).filter(col("ua") < col("ub"))
      .groupBy(col("ua"), col("ub"))
      .agg(count(lit(1)).as("n"), sum(col("x")).as("sx"), sum(col("y")).as("sy"),
        sum(col("x") * col("x")).as("sxx"), sum(col("y") * col("y")).as("syy"),
        sum(col("x") * col("y")).as("sxy"))
      .filter(col("n") >= minDays)
      .withColumn("vx", expr("CAST(n AS DOUBLE) * CAST(sxx AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE)"))
      .withColumn("vy", expr("CAST(n AS DOUBLE) * CAST(syy AS DOUBLE) - CAST(sy AS DOUBLE) * CAST(sy AS DOUBLE)"))
      .filter(col("vx") > 0 && col("vy") > 0)
      .withColumn("corr", expr(
        """(CAST(n AS DOUBLE) * CAST(sxy AS DOUBLE)
          |   - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE)) / (sqrt(vx) * sqrt(vy))"""
          .stripMargin))
      .filter(abs(col("corr")) >= minAbsCorr)
      .select(col("ua"), col("ub"), col("n"), col("corr"))
  }

  val evTsCorrSql: String =
    """WITH universe AS (
      |  SELECT user_id FROM events GROUP BY user_id
      |  ORDER BY count(*) DESC, user_id ASC LIMIT 100),
      |daily AS (
      |  SELECT user_id, epoch_us(ts) // 86400000000 AS day,
      |    sum(CAST(round(value * 1000) AS BIGINT)) AS v
      |  FROM events JOIN universe USING (user_id) GROUP BY user_id, day),
      |p AS (
      |  SELECT a.user_id AS ua, b.user_id AS ub, count(*) AS n,
      |    sum(a.v) AS sx, sum(b.v) AS sy,
      |    sum(a.v * a.v) AS sxx, sum(b.v * b.v) AS syy,
      |    sum(a.v * b.v) AS sxy
      |  FROM daily a JOIN daily b ON a.day = b.day AND a.user_id < b.user_id
      |  GROUP BY ua, ub),
      |g AS (
      |  SELECT ua, ub, n, sxy, sx, sy,
      |    CAST(n AS DOUBLE) * CAST(sxx AS DOUBLE)
      |      - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE) AS vx,
      |    CAST(n AS DOUBLE) * CAST(syy AS DOUBLE)
      |      - CAST(sy AS DOUBLE) * CAST(sy AS DOUBLE) AS vy
      |  FROM p WHERE n >= 10),
      |c AS (
      |  SELECT ua, ub, n,
      |    (CAST(n AS DOUBLE) * CAST(sxy AS DOUBLE)
      |       - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE)) / (sqrt(vx) * sqrt(vy)) AS corr
      |  FROM g WHERE vx > 0 AND vy > 0)
      |SELECT ua, ub, n, corr FROM c
      |WHERE abs(corr) >= 0.2""".stripMargin
}
