package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.types._
import graft.Tables

/** Event-stream operators — the batch twins of the reference's two
  * topologies (SURVEY.md §2.2, §2.4), generalized into reusable
  * `DataFrame => DataFrame` combinators over the `events` table. The same
  * combinators run unchanged on a streaming DataFrame (the pipelines in
  * `graft.streaming` reuse them); the stateful dedup has a dedicated
  * streaming implementation in `graft.streaming.DedupStream`.
  *
  * Scale notes:
  *   - `dedupWindowed` / `sessionize` shuffle ONCE on the partition key and
  *     sort within partitions (Catalyst plans a single Exchange + Sort for
  *     all window functions over the same (partition, order) spec). At
  *     100 TB the key (`user_id`) is high-cardinality → even distribution;
  *     AQE skew-join/partition-coalescing handles stragglers.
  *   - All event-time arithmetic is done on `unix_micros` (Spark truncates
  *     parquet ns-timestamps to µs; the oracle uses `epoch_us` for the
  *     identical integer axis).
  */
object EventOps {

  /** F1 (reference `KafkaStreamsApplication.java:110`): equality filter on a
    * field, SQL null semantics (null field → row dropped — deliberate,
    * documented divergence from the reference's NPE; SURVEY.md §2.2).
    */
  def filterEquals(df: DataFrame, column: String, value: String): DataFrame =
    df.filter(col(column) === lit(value))

  def evFilter(spark: SparkSession, sfDir: String): DataFrame =
    filterEquals(Tables.events(spark, sfDir), "event_type", "error")
      .select(col("event_id"), col("user_id"), col("value"))

  val evFilterSql: String =
    "SELECT event_id, user_id, value FROM events WHERE event_type = 'error'"

  /** S1/F3 (serde + nested projection, reference `JsonDeserializer.java` +
    * `KStreamDistinct.java:148`): parse a JSON payload column against an
    * explicit schema and project a nested field; parent-null propagates to
    * null exactly like the reference's ternary.
    */
  def parseJson(df: DataFrame, column: String, schema: StructType): DataFrame =
    df.withColumn(column + "_parsed", from_json(col(column), schema))

  private val propsSchema = StructType(Seq(StructField("k", LongType, nullable = true)))

  def evJson(spark: SparkSession, sfDir: String): DataFrame =
    parseJson(Tables.events(spark, sfDir), "props", propsSchema)
      .select(col("event_id"), col("props_parsed.k").as("k"))

  val evJsonSql: String =
    "SELECT event_id, CAST(json_extract(props, '$.k') AS BIGINT) AS k FROM events"

  /** D1 batch twin (reference `KStreamDistinct.java:42-112`): time-windowed
    * dedup with refresh-on-duplicate retention. The reference stores the
    * last-seen timestamp per id — refreshed on EVERY record, duplicate or
    * not — and emits a record iff no entry exists within ±(window/2) of its
    * event time. On an event-time-ordered stream that is exactly: emit iff
    * the gap to the previous record of the same id exceeds window/2 (or it
    * is the first). One shuffle + one sort; `lag` is a codegen'd window
    * function.
    */
  def dedupWindowed(df: DataFrame, keys: Seq[String], tsCol: String,
                    idCol: String, gapMicros: Long): DataFrame = {
    val w = Window.partitionBy(keys.map(col): _*).orderBy(col(tsCol), col(idCol))
    // integer division — epoch-nanos exceeds double's exact range (2^53),
    // so a `/`-based (double) path would corrupt the low digits
    val tsUs = expr(s"$tsCol div 1000")
    val gap = tsUs - lag(tsUs, 1).over(w)
    df.withColumn("__gap", gap)
      .filter(col("__gap").isNull || col("__gap") > lit(gapMicros))
      .drop("__gap")
  }

  def evDedupWindow(spark: SparkSession, sfDir: String): DataFrame =
    dedupWindowed(Tables.events(spark, sfDir), Seq("user_id", "event_type"),
      "ts", "event_id", 300000000L) // ±5 min, SURVEY.md §2.4
      .select(col("event_id"))

  val evDedupWindowSql: String =
    """SELECT event_id FROM (
      |  SELECT event_id,
      |    epoch_us(ts) - lag(epoch_us(ts)) OVER (
      |      PARTITION BY user_id, event_type ORDER BY ts, event_id) AS gap
      |  FROM events)
      |WHERE gap IS NULL OR gap > 300000000""".stripMargin

  /** Sessionization: assign a per-user session index that increments when
    * the gap to the previous event exceeds `gapMicros` (batch analogue of
    * `session_window`; the streaming path uses the built-in
    * `session_window` function). Same single-shuffle window spec as dedup.
    */
  def sessionize(df: DataFrame, userCol: String, tsCol: String,
                 idCol: String, gapMicros: Long): DataFrame = {
    val w = Window.partitionBy(col(userCol)).orderBy(col(tsCol), col(idCol))
    // integer division — epoch-nanos exceeds double's exact range (2^53),
    // so a `/`-based (double) path would corrupt the low digits
    val tsUs = expr(s"$tsCol div 1000")
    val gap = tsUs - lag(tsUs, 1).over(w)
    val isNew = when(gap.isNull || gap > lit(gapMicros), 1L).otherwise(0L)
    df.withColumn("session_id",
      sum(isNew).over(w.rowsBetween(Window.unboundedPreceding, 0)))
  }

  def evSessionize(spark: SparkSession, sfDir: String): DataFrame =
    sessionize(Tables.events(spark, sfDir), "user_id", "ts", "event_id", 1800000000L)
      .select(col("event_id"), col("user_id"), col("session_id"))

  val evSessionizeSql: String =
    """SELECT event_id, user_id,
      |  CAST(sum(CASE WHEN gap IS NULL OR gap > 1800000000 THEN 1 ELSE 0 END) OVER (
      |    PARTITION BY user_id ORDER BY ts, event_id
      |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS session_id
      |FROM (
      |  SELECT event_id, user_id, ts,
      |    epoch_us(ts) - lag(epoch_us(ts)) OVER (
      |      PARTITION BY user_id ORDER BY ts, event_id) AS gap
      |  FROM events)""".stripMargin

  /** Tumbling-window aggregation (the streaming extension surface,
    * SURVEY.md §2.5): per hour × event_type counts and sums. Partial
    * aggregation happens map-side; shuffle volume = |windows × types|.
    */
  def windowAgg(df: DataFrame, tsCol: String, keyCol: String): DataFrame = {
    // tumbling 1-hour bucket on the µs axis (ts is epoch-nanos Long);
    // integer div — see dedupWindowed note
    val windowStart = expr(s"(($tsCol div 1000) div 3600000000) * 3600000000")
    df.groupBy(windowStart.as("window_start"), col(keyCol))
      .agg(count(lit(1)).as("n"), round(sum(col("value")), 2).as("sum_value"))
  }

  def evWindowAgg(spark: SparkSession, sfDir: String): DataFrame =
    windowAgg(Tables.events(spark, sfDir), "ts", "event_type")

  val evWindowAggSql: String =
    """SELECT epoch_us(date_trunc('hour', ts)) AS window_start, event_type,
      |  count(*) AS n, round(sum(value), 2) AS sum_value
      |FROM events GROUP BY 1, 2""".stripMargin

  /** Batch `session_window` (the BUILTIN gap-merge sessionization, vs the
    * manual lag/running-sum form in `sessionize`): the oracle is the
    * manual formulation aggregated per session — so the two
    * implementations cross-check each other. One shuffle on the grouping
    * key; in streaming the same expression runs incrementally with
    * watermark-driven state merge (StreamOps.sessionCount).
    */
  def evSessionWindow(spark: SparkSession, sfDir: String): DataFrame =
    Tables.events(spark, sfDir)
      .withColumn("t", timestamp_micros(expr("ts div 1000")))
      .groupBy(session_window(col("t"), "30 minutes"), col("user_id"))
      .agg(count(lit(1)).as("n"))
      .select(col("user_id"),
        unix_micros(col("session_window.start")).as("session_start"), col("n"))

  val evSessionWindowSql: String =
    """SELECT user_id, min(ts_us) AS session_start, count(*) AS n FROM (
      |  SELECT user_id, epoch_us(ts) AS ts_us,
      |    CAST(sum(CASE WHEN gap IS NULL OR gap > 1800000000 THEN 1 ELSE 0 END) OVER (
      |      PARTITION BY user_id ORDER BY ts, event_id
      |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS session_id
      |  FROM (
      |    SELECT event_id, user_id, ts,
      |      epoch_us(ts) - lag(epoch_us(ts)) OVER (
      |        PARTITION BY user_id ORDER BY ts, event_id) AS gap
      |    FROM events))
      |GROUP BY user_id, session_id""".stripMargin

  /** Inter-arrival statistics per user (lag/lead coverage + the cadence
    * signal behind bot/burst detection). One shuffle: the lag window and
    * the per-user aggregate share the user_id partitioning, and the lag
    * sort spills rather than buffering (µs integer axis — see sessionize
    * note on why never double).
    */
  def evInterarrival(spark: SparkSession, sfDir: String): DataFrame = {
    val w = Window.partitionBy(col("user_id")).orderBy(col("ts_us"), col("event_id"))
    Tables.events(spark, sfDir)
      .withColumn("ts_us", expr("ts div 1000"))
      .withColumn("delta", col("ts_us") - lag(col("ts_us"), 1).over(w))
      .groupBy(col("user_id"))
      .agg(count(lit(1)).as("n_events"),
        round(avg(col("delta")), 4).as("avg_delta_us"),
        max(col("delta")).as("max_delta_us"))
  }

  val evInterarrivalSql: String =
    """SELECT user_id, count(*) AS n_events,
      |  round(avg(delta), 4) AS avg_delta_us, max(delta) AS max_delta_us
      |FROM (
      |  SELECT user_id,
      |    epoch_us(ts) - lag(epoch_us(ts)) OVER (
      |      PARTITION BY user_id ORDER BY epoch_us(ts), event_id) AS delta
      |  FROM events)
      |GROUP BY user_id""".stripMargin

  /** Burst detection via a RANGE window frame — the value-based frame
    * (`RANGE BETWEEN 60s PRECEDING AND CURRENT ROW` over the event-time
    * axis) that ROWS frames can't express when events are irregularly
    * spaced: per event, how many of the user's events landed in the
    * preceding minute; per user, the peak. Same single-exchange shape
    * as the other per-user windows — the range frame is evaluated
    * within the sorted partition, and ties on ts are peers (included
    * regardless of physical order, so the result is deterministic).
    */
  def evRangeFrame(spark: SparkSession, sfDir: String): DataFrame = {
    val w = Window.partitionBy(col("user_id")).orderBy(col("ts_us"))
      .rangeBetween(-60000000L, 0L) // past 60 s in µs
    Tables.events(spark, sfDir)
      .withColumn("ts_us", expr("ts div 1000"))
      .withColumn("burst", count(lit(1)).over(w))
      .groupBy(col("user_id"))
      .agg(max(col("burst")).as("max_burst_60s"), count(lit(1)).as("n_events"))
  }

  val evRangeFrameSql: String =
    """SELECT user_id, max(burst) AS max_burst_60s, count(*) AS n_events
      |FROM (
      |  SELECT user_id, count(*) OVER (PARTITION BY user_id ORDER BY epoch_us(ts)
      |    RANGE BETWEEN 60000000 PRECEDING AND CURRENT ROW) AS burst
      |  FROM events)
      |GROUP BY user_id""".stripMargin

  /** Ordered n-stage funnel (strictly increasing time): per user, the
    * first stage-0 event time t0, then for each later stage i the first
    * stage-i event with ts > t(i-1). `tb = min(click ts : ts > ta)` etc. —
    * the min-join definition directly, computed as ONE exchange: events
    * hash-partition on user once, then one whole-partition `min(when(...))`
    * window per stage reuses that partitioning and ordering (one Sort, n
    * WindowExec, final agg — zero further exchanges; PlanSpec-asserted).
    * A join-per-stage plan (the SQL the oracle uses) shuffles the events
    * table once PER STAGE instead.
    *
    * Memory is bounded: each WindowExec buffers one user's rows in a
    * spill-capable ExternalAppendOnlyUnsafeRowArray (disk beyond
    * `spark.sql.windowExec.buffer.spill.threshold`), so a hot user with
    * millions of events spills rather than OOMing the task — unlike a
    * `collect_list` fold, whose per-group aggregation buffer lives
    * entirely in the heap. A null t(i-1) nulls the stage-i condition, so
    * min() skips the row and incompleteness propagates down the funnel.
    *
    * `gapUs` makes it a conversion-window funnel: stage i must also land
    * within `gapUs` of stage i−1 (the "converted within 24 h" product
    * metric), one more conjunct in the conditional min. Greedy
    * first-anchor semantics — each stage anchors on the FIRST qualifying
    * time of the previous stage, the standard analytics-tool definition
    * and exactly what the min-join oracle computes; a later anchor that
    * would rescue a missed window is deliberately not searched (that
    * variant is a different, quadratic metric).
    */
  def funnelStages(df: DataFrame, userCol: String, tsCol: String,
                   typeCol: String, stages: Seq[String],
                   gapUs: Option[Long] = None): DataFrame = {
    require(stages.nonEmpty, "funnel needs at least one stage")
    val w = Window.partitionBy(col(userCol))
    val base = df.filter(col(typeCol).isin(stages: _*))
      .select(col(userCol), expr(s"$tsCol div 1000").as("ts_us"), col(typeCol))
    val staged = stages.zipWithIndex.foldLeft(base) { case (d, (st, i)) =>
      val cond =
        if (i == 0) col(typeCol) === lit(st)
        else {
          val prev = col(s"__t${i - 1}")
          val after = col(typeCol) === lit(st) && col("ts_us") > prev
          gapUs.fold(after)(g => after && col("ts_us") <= prev + g)
        }
      d.withColumn(s"__t$i", min(when(cond, col("ts_us"))).over(w))
    }
    // window columns are constant per user; the agg dedups to one row
    // on the partitioning already in place (no second exchange)
    staged.groupBy(col(userCol))
      .agg(min(col("__t0")).as("t0"),
        stages.indices.drop(1).map(i => min(col(s"__t$i")).as(s"t$i")): _*)
      .filter(col("t0").isNotNull)
  }

  def evFunnel(spark: SparkSession, sfDir: String): DataFrame =
    funnelStages(Tables.events(spark, sfDir), "user_id", "ts", "event_type",
      Seq("view", "click", "purchase"))
      .select(col("user_id"), col("t0").as("ta"), col("t1").as("tb"),
        col("t2").as("tc"))

  /** 24-hour conversion window over the view→click→purchase funnel. */
  val FunnelGapUs: Long = 86400000000L

  def evFunnelBounded(spark: SparkSession, sfDir: String): DataFrame =
    funnelStages(Tables.events(spark, sfDir), "user_id", "ts", "event_type",
      Seq("view", "click", "purchase"), Some(FunnelGapUs))
      .select(col("user_id"), col("t0").as("ta"), col("t1").as("tb"),
        col("t2").as("tc"))

  def evFunnelBoundedSql: String =
    funnelOracleSql(Seq("view", "click", "purchase"), Seq("ta", "tb", "tc"),
      Some(FunnelGapUs))

  /** Min-join oracle for an n-stage funnel: stage CTE chain, each joining
    * the previous stage's first-qualifying time (exactly the definition
    * `funnelStages` computes in one exchange).
    */
  def funnelOracleSql(stages: Seq[String], cols: Seq[String],
                      gapUs: Option[Long] = None): String = {
    val e = s"""e AS (
               |  SELECT user_id, epoch_us(ts) AS ts_us, event_type
               |  FROM events WHERE event_type IN (${stages.map("'" + _ + "'").mkString(", ")}))"""
    val s0 = s"""s0 AS (SELECT user_id, min(ts_us) AS ${cols.head} FROM e
                |      WHERE event_type = '${stages.head}' GROUP BY user_id)"""
    val rest = stages.indices.drop(1).map { i =>
      val bound = gapUs.map(g => s" AND ts_us <= ${cols(i - 1)} + $g").getOrElse("")
      s"""s$i AS (SELECT e.user_id, min(ts_us) AS ${cols(i)} FROM e JOIN s${i - 1} USING (user_id)
         |      WHERE event_type = '${stages(i)}' AND ts_us > ${cols(i - 1)}$bound GROUP BY e.user_id)"""
    }
    val joins = stages.indices.drop(1).map(i => s"LEFT JOIN s$i USING (user_id)")
    s"""WITH ${(Seq(e, s0) ++ rest).mkString(",\n")}
       |SELECT s0.user_id, ${cols.mkString(", ")}
       |FROM s0 ${joins.mkString(" ")}""".stripMargin
  }

  /** 2-stage funnel (view → purchase): the degenerate case — one
    * conditional-min window per stage, same single exchange. */
  def evFunnel2(spark: SparkSession, sfDir: String): DataFrame =
    funnelStages(Tables.events(spark, sfDir), "user_id", "ts", "event_type",
      Seq("view", "purchase"))

  val evFunnel2Sql: String = funnelOracleSql(Seq("view", "purchase"), Seq("t0", "t1"))

  /** 4-stage funnel (signup → view → click → purchase): stage count only
    * adds WindowExec passes over the already-partitioned data, never
    * another shuffle of the events table. */
  def evFunnel4(spark: SparkSession, sfDir: String): DataFrame =
    funnelStages(Tables.events(spark, sfDir), "user_id", "ts", "event_type",
      Seq("signup", "view", "click", "purchase"))

  val evFunnel4Sql: String =
    funnelOracleSql(Seq("signup", "view", "click", "purchase"),
      Seq("t0", "t1", "t2", "t3"))

  /** Retention cohorts: users grouped by first-seen day, distinct active
    * users counted at each day offset — the standard retention matrix.
    * Day arithmetic is integer µs-div (bit-exact across engines). Shape:
    * distinct (user, day) first so later stages carry one row per
    * user-day (at 100 TB this collapses the event volume before any
    * wide work); the first-seen window partitions by user; the final
    * cohort/offset aggregate is map-side partial — output is |cohorts ×
    * offsets|, tiny.
    */
  def evRetention(spark: SparkSession, sfDir: String): DataFrame = {
    val w = Window.partitionBy(col("user_id"))
    Tables.events(spark, sfDir)
      .select(col("user_id"), expr("(ts div 1000) div 86400000000").as("day"))
      .distinct()
      .withColumn("cohort", min(col("day")).over(w))
      .groupBy(col("cohort"), (col("day") - col("cohort")).as("offset"))
      .agg(count(lit(1)).as("n_users"))
  }

  val evRetentionSql: String =
    """WITH d AS (
      |  SELECT DISTINCT user_id, epoch_us(ts) // 86400000000 AS day FROM events),
      |c AS (SELECT user_id, min(day) AS cohort FROM d GROUP BY user_id)
      |SELECT c.cohort, d.day - c.cohort AS offset, count(*) AS n_users
      |FROM d JOIN c USING (user_id)
      |GROUP BY c.cohort, d.day - c.cohort""".stripMargin

  /** Last-touch attribution: each purchase is credited to the user's most
    * recent preceding touch event (view/click), ties broken by event_id.
    * ONE exchange: the `last(..., ignoreNulls)` window and the purchase
    * filter share the per-user partitioning — at 100 TB this is a single
    * hash-partition of the events table, whereas the equivalent join plan
    * (the oracle's formulation in spirit) would shuffle touches AND
    * purchases and build a per-purchase candidate set. Purchases with no
    * preceding touch keep a null `touch_type` (direct conversions).
    */
  def attribution(df: DataFrame, userCol: String, tsCol: String,
                  typeCol: String, idCol: String, touches: Seq[String],
                  target: String): DataFrame = {
    val w = Window.partitionBy(col(userCol))
      .orderBy(col("ts_us"), col(idCol))
      .rowsBetween(Window.unboundedPreceding, -1)
    df.withColumn("ts_us", expr(s"$tsCol div 1000"))
      .withColumn("touch_type",
        last(when(col(typeCol).isin(touches: _*), col(typeCol)),
          ignoreNulls = true).over(w))
      .filter(col(typeCol) === lit(target))
  }

  def evAttribution(spark: SparkSession, sfDir: String): DataFrame =
    attribution(Tables.events(spark, sfDir), "user_id", "ts", "event_type",
      "event_id", Seq("view", "click"), "purchase")
      .select(col("event_id").as("purchase_id"), col("user_id"), col("touch_type"))

  val evAttributionSql: String =
    """SELECT event_id AS purchase_id, user_id, touch_type FROM (
      |  SELECT event_id, user_id, event_type,
      |    last_value(CASE WHEN event_type IN ('view', 'click') THEN event_type END
      |      IGNORE NULLS) OVER (
      |      PARTITION BY user_id ORDER BY epoch_us(ts), event_id
      |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS touch_type
      |  FROM events)
      |WHERE event_type = 'purchase'""".stripMargin

  /** Event-type transition matrix (first-order Markov): count consecutive
    * (from → to) pairs per user ordering, plus the row-normalized
    * probability. `lead` shares the single per-user exchange; the
    * (from, to) aggregate is map-side partial with an output of
    * |types|² rows — constant, independent of data volume.
    */
  def evTransitions(spark: SparkSession, sfDir: String): DataFrame = {
    val w = Window.partitionBy(col("user_id")).orderBy(col("ts_us"), col("event_id"))
    val pairs = Tables.events(spark, sfDir)
      .withColumn("ts_us", expr("ts div 1000"))
      .withColumn("to_type", lead(col("event_type"), 1).over(w))
      .filter(col("to_type").isNotNull)
      .groupBy(col("event_type").as("from_type"), col("to_type"))
      .agg(count(lit(1)).as("n"))
    pairs.withColumn("p",
      round(col("n") / sum(col("n")).over(Window.partitionBy(col("from_type"))), 6))
  }

  val evTransitionsSql: String =
    """WITH t AS (
      |  SELECT event_type AS from_type,
      |    lead(event_type) OVER (
      |      PARTITION BY user_id ORDER BY epoch_us(ts), event_id) AS to_type
      |  FROM events),
      |c AS (SELECT from_type, to_type, count(*) AS n FROM t
      |      WHERE to_type IS NOT NULL GROUP BY 1, 2)
      |SELECT from_type, to_type, n,
      |  round(n / sum(n) OVER (PARTITION BY from_type), 6) AS p
      |FROM c""".stripMargin

  /** Hourly gap-fill with last-observation-carried-forward: build each
    * user's dense hour spine (min..max observed hour), left-join the
    * hourly sums, and forward-fill misses. The spine is generated
    * DISTRIBUTED — `sequence(h0, h1)` + `explode` runs per user row, no
    * driver loop — and its size is bounded by |users| × dataset time
    * span in hours, independent of event volume (the aggregation to
    * hourly sums happens FIRST, so 100 TB of raw events collapses
    * before anything widens). The LOCF window reuses the per-user hash
    * partitioning the join just produced.
    */
  def gapFillLocf(df: DataFrame, userCol: String, tsCol: String,
                  valCol: String, bucketUs: Long): DataFrame = {
    val hourly = df
      .select(col(userCol), expr(s"($tsCol div 1000) div $bucketUs").as("hr"),
        col(valCol))
      .groupBy(col(userCol), col("hr"))
      .agg(round(sum(col(valCol)), 2).as("v"))
    val spine = hourly.groupBy(col(userCol))
      .agg(min(col("hr")).as("h0"), max(col("hr")).as("h1"))
      .select(col(userCol), explode(expr("sequence(h0, h1)")).as("hr"))
    val w = Window.partitionBy(col(userCol)).orderBy(col("hr"))
      .rowsBetween(Window.unboundedPreceding, 0)
    spine.join(hourly, Seq(userCol, "hr"), "left")
      .withColumn("v_filled", last(col("v"), ignoreNulls = true).over(w))
      .drop("v")
  }

  def evGapfill(spark: SparkSession, sfDir: String): DataFrame =
    gapFillLocf(Tables.events(spark, sfDir), "user_id", "ts", "value",
      3600000000L)

  val evGapfillSql: String =
    """WITH a AS (
      |  SELECT user_id, epoch_us(ts) // 3600000000 AS hr,
      |    round(sum(value), 2) AS v
      |  FROM events GROUP BY 1, 2),
      |s AS (
      |  SELECT user_id, unnest(generate_series(min(hr), max(hr))) AS hr
      |  FROM a GROUP BY user_id)
      |SELECT s.user_id, s.hr,
      |  last_value(a.v IGNORE NULLS) OVER (
      |    PARTITION BY s.user_id ORDER BY s.hr
      |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS v_filled
      |FROM s LEFT JOIN a USING (user_id, hr)""".stripMargin

  /** Z-score anomaly flags: events whose value deviates > `k`σ from the
    * user's mean — the outlier pass a training pipeline runs before
    * aggregating engagement signals. ONE exchange: mean/stddev as window
    * aggregates over the bare user partition (no ordering ⇒ whole-
    * partition frame), reused by the flag projection. Users with a
    * single event (stddev null) and zero-variance users produce no
    * flags — SQL null semantics, same on both engines.
    */
  def evAnomaly(spark: SparkSession, sfDir: String): DataFrame = {
    val w = Window.partitionBy(col("user_id"))
    Tables.events(spark, sfDir)
      .withColumn("mu", avg(col("value")).over(w))
      .withColumn("sd", stddev_samp(col("value")).over(w))
      .filter(abs(col("value") - col("mu")) > lit(3.0) * col("sd"))
      .select(col("event_id"), col("user_id"),
        round((col("value") - col("mu")) / col("sd"), 4).as("z"))
  }

  val evAnomalySql: String =
    """SELECT event_id, user_id, round((value - mu) / sd, 4) AS z FROM (
      |  SELECT event_id, user_id, value,
      |    avg(value) OVER (PARTITION BY user_id) AS mu,
      |    stddev_samp(value) OVER (PARTITION BY user_id) AS sd
      |  FROM events)
      |WHERE abs(value - mu) > 3.0 * sd""".stripMargin

  val evFunnelSql: String =
    """WITH e AS (
      |  SELECT user_id, epoch_us(ts) AS ts_us, event_type
      |  FROM events WHERE event_type IN ('view', 'click', 'purchase')),
      |a AS (SELECT user_id, min(ts_us) AS ta FROM e
      |      WHERE event_type = 'view' GROUP BY user_id),
      |b AS (SELECT e.user_id, min(ts_us) AS tb FROM e JOIN a USING (user_id)
      |      WHERE event_type = 'click' AND ts_us > ta GROUP BY e.user_id),
      |c AS (SELECT e.user_id, min(ts_us) AS tc FROM e JOIN b USING (user_id)
      |      WHERE event_type = 'purchase' AND ts_us > tb GROUP BY e.user_id)
      |SELECT a.user_id, a.ta, b.tb, c.tc
      |FROM a LEFT JOIN b USING (user_id) LEFT JOIN c USING (user_id)""".stripMargin

  /** CEP episode detection — the MATCH_RECOGNIZE `A B* C` shape (here:
    * `view click* purchase`): every purchase whose immediately preceding
    * NON-click event is a view opens a matched episode; any other event
    * type (error, signup, another view, another purchase) in between
    * resets the anchor, exactly the "no intervening disturbance" CEP
    * contract. Unlike the funnel family (first-qualifying global stage
    * times), this emits EVERY episode instance with its span and length.
    *
    * Relational formulation instead of sequence collection: an
    * ignore-nulls `last` over the preceding-rows frame carries the most
    * recent non-click event alongside each row — the per-user event
    * sequence is never materialized as an array, so per-user state in
    * the window is O(1) and the whole operator is ONE user-keyed
    * exchange shared by both window computations (the shape a 100 TB
    * clickstream wants; Flink CEP's NFA does the same walk with managed
    * state).
    */
  def evCep(spark: SparkSession, sfDir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy(col("user_id")).orderBy(col("us"), col("event_id"))
    val wPrev = w.rowsBetween(Window.unboundedPreceding, -1)
    Tables.events(spark, sfDir)
      .select(col("user_id"), col("event_id"), col("event_type"),
        expr("ts div 1000").as("us"))
      .withColumn("rn", row_number().over(w))
      .withColumn("anchor", last(
        when(col("event_type") =!= "click",
          struct(col("us"), col("event_id"), col("event_type"), col("rn"))),
        ignoreNulls = true).over(wPrev))
      .filter(col("event_type") === "purchase" &&
        col("anchor.event_type") === "view")
      .select(col("user_id"),
        col("event_id").as("purchase_id"),
        col("anchor.event_id").as("view_id"),
        col("anchor.us").as("start_us"),
        col("us").as("end_us"),
        (col("us") - col("anchor.us")).as("duration_us"),
        (col("rn") - col("anchor.rn") - 1).cast("long").as("n_clicks"))
  }

  /** Rolling engagement: DAU, trailing-7-day WAU, and DAU/WAU stickiness
    * per day — the product-analytics daily board.
    *
    * Scale shape: sliding-window COUNT DISTINCT does not decompose, so
    * the naive per-window formulations are a 7-way self-join or a global
    * sort; instead each distinct (user, day) activation FANS OUT to the
    * 7 window-end days it supports (slim explode, no join), and one
    * distinct-aggregate per window-day counts it once no matter how many
    * active days fall inside the window. Exchanges: the (user, day)
    * distinct, then the two-phase distinct agg keyed (day, user) — both
    * uniformly distributed; the fan-out factor is the window length,
    * never data size. Leading days report their genuinely partial
    * trailing windows (standard dashboard semantics).
    */
  def evWau(spark: SparkSession, sfDir: String): DataFrame = {
    val ud = Tables.events(spark, sfDir)
      .select(col("user_id"),
        expr("ts div 86400000000000").as("day")) // ns → day (integer div)
      .distinct()
      .transform(graft.CacheScope.barrier) // dau, wau, and bounds share it
    val scalars = ud.agg(min(col("day")).as("dmin"), max(col("day")).as("dmax"))
    val dau = ud.groupBy(col("day")).agg(count(lit(1)).as("dau"))
    val wau = ud
      .select(col("user_id"), explode(expr("sequence(day, day + 6)")).as("day"))
      .groupBy(col("day"))
      .agg(countDistinct(col("user_id")).as("wau"))
    dau.join(wau, Seq("day"))
      .crossJoin(broadcast(scalars)) // 1-row scalar attach (whitelisted shape)
      .filter(col("day") <= col("dmax"))
      .select(col("day"), col("dau"), col("wau"),
        expr("CAST(dau AS DOUBLE) / CAST(wau AS DOUBLE)").as("stickiness"))
  }

  val evWauSql: String =
    """WITH ud AS (
      |  SELECT DISTINCT user_id, epoch_us(ts) // 86400000000 AS day FROM events),
      |g AS (SELECT max(day) AS dmax FROM ud),
      |dau AS (SELECT day, count(*) AS dau FROM ud GROUP BY day),
      |wau AS (SELECT day + o AS day, count(DISTINCT user_id) AS wau
      |        FROM ud, range(0, 7) t(o) GROUP BY 1)
      |SELECT day, dau, CAST(wau AS BIGINT) AS wau,
      |  CAST(dau AS DOUBLE) / CAST(wau AS DOUBLE) AS stickiness
      |FROM dau JOIN wau USING (day) CROSS JOIN g
      |WHERE day <= dmax""".stripMargin

  /** RFM segmentation — the recency / frequency / monetary quintile
    * scoring marketing and retention analytics run over an event log
    * (score 5 = best: most recent, most frequent, highest spend; the
    * classic 555/111 cell labels).
    *
    * Scale shape — deliberately NOT `ntile() OVER ()` (a single global
    * doc-level window = one task at 100 TB): each dimension is an exact
    * INTEGER (days, count, milli-sum), so quintiles run on the per-value
    * HISTOGRAM instead (the [[TextOps.docCcnetBuckets]] recipe): a slim
    * (value, cnt) aggregate per dimension, a window over DISTINCT values
    * only, integer cutoff arithmetic `5 − (5·cum_better) div n` (no
    * float thresholds to flip, ties share a score), and broadcast joins
    * of the three (value → score) maps back onto the user table. One
    * user-keyed exchange total; everything after is histogram-sized.
    */
  def evRfm(spark: SparkSession, sfDir: String): DataFrame = {
    val ev = Tables.events(spark, sfDir)
      .select(col("user_id"),
        expr("ts div 86400000000000").as("day"), // ns → day (integer div)
        expr("CAST(round(value * 1000) AS BIGINT)").as("vq"))
    val users = ev.groupBy(col("user_id"))
      .agg(max(col("day")).as("last_day"),
        count(lit(1)).as("f"), sum(col("vq")).as("m"))
    val scalars = users.agg(max(col("last_day")).as("gmax"),
      count(lit(1)).as("n_users"))
    val base = users.crossJoin(broadcast(scalars)) // 1-row scalar attach
      .select(col("user_id"), (col("gmax") - col("last_day")).as("r_days"),
        col("f"), col("m"), col("n_users"))
      .transform(graft.CacheScope.barrier) // histograms + final join share it
    // quintile score from the cumulative count of STRICTLY BETTER values
    def scoreMap(dim: String, betterIsLower: Boolean): DataFrame = {
      val ord = if (betterIsLower) col(dim).asc else col(dim).desc
      base.groupBy(col(dim), col("n_users"))
        .agg(count(lit(1)).as("cnt"))
        .withColumn("cum_better", coalesce(sum(col("cnt")).over(
          Window.orderBy(ord).rowsBetween(Window.unboundedPreceding, -1)), lit(0L)))
        .select(col(dim),
          (lit(5) - expr("(5 * cum_better) div n_users"))
            .cast(IntegerType).as(s"${dim.take(1)}_score"))
    }
    base
      .join(broadcast(scoreMap("r_days", betterIsLower = true)), Seq("r_days"))
      .join(broadcast(scoreMap("f", betterIsLower = false)), Seq("f"))
      .join(broadcast(scoreMap("m", betterIsLower = false)), Seq("m"))
      .select(col("user_id"), col("r_days"), col("f"),
        expr("CAST(m AS DOUBLE) / 1000.0").as("monetary"),
        col("r_score"), col("f_score"), col("m_score"),
        (col("r_score") * 100 + col("f_score") * 10 + col("m_score"))
          .as("rfm_cell"))
  }

  val evRfmSql: String =
    """WITH ev AS (
      |  SELECT user_id, epoch_us(ts) // 86400000000 AS day,
      |    CAST(round(value * 1000) AS BIGINT) AS vq
      |  FROM events),
      |u AS (
      |  SELECT user_id, max(day) AS last_day, count(*) AS f,
      |    CAST(sum(vq) AS BIGINT) AS m
      |  FROM ev GROUP BY user_id),
      |g AS (SELECT max(last_day) AS gmax, count(*) AS n_users FROM u),
      |b AS (SELECT user_id, gmax - last_day AS r_days, f, m, n_users
      |      FROM u CROSS JOIN g),
      |rm AS (SELECT r_days, CAST(5 - (5 * coalesce(sum(cnt) OVER (
      |    ORDER BY r_days ASC ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0))
      |      // n_users AS INT) AS r_score
      |  FROM (SELECT r_days, n_users, count(*) AS cnt FROM b GROUP BY 1, 2)),
      |fm AS (SELECT f, CAST(5 - (5 * coalesce(sum(cnt) OVER (
      |    ORDER BY f DESC ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0))
      |      // n_users AS INT) AS f_score
      |  FROM (SELECT f, n_users, count(*) AS cnt FROM b GROUP BY 1, 2)),
      |mm AS (SELECT m, CAST(5 - (5 * coalesce(sum(cnt) OVER (
      |    ORDER BY m DESC ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0))
      |      // n_users AS INT) AS m_score
      |  FROM (SELECT m, n_users, count(*) AS cnt FROM b GROUP BY 1, 2))
      |SELECT b.user_id, b.r_days, b.f, CAST(b.m AS DOUBLE) / 1000.0 AS monetary,
      |  rm.r_score, fm.f_score, mm.m_score,
      |  rm.r_score * 100 + fm.f_score * 10 + mm.m_score AS rfm_cell
      |FROM b JOIN rm USING (r_days) JOIN fm USING (f) JOIN mm USING (m)""".stripMargin

  /** A/B experiment readout — Welch's unequal-variance t-test per metric
    * (here: `value` per event_type), plus the sample-ratio-mismatch
    * chi-square guard every experimentation platform runs before trusting
    * the t-stat. Variant assignment is the deterministic user-id parity
    * (production swaps in a salted-hash bucketing; the aggregation is
    * identical).
    *
    * Scale shape: ONE slim groupBy exchange carrying six integer moments
    * per (event_type) — conditional aggregation folds both variants into
    * the same pass, so adding a variant never adds a scan. All moments
    * are exact BIGINTs on the milli-quantized value grid (fold-order-free
    * under any partitioning — the [[Temporal.evTsCorr]] / `emb_cov`
    * recipe; headroom: |vq| ≤ 1e6 ⇒ Σvq² fits BIGINT to ~9e6 rows per
    * group per 1e12, i.e. beyond sf1); the t/df/χ² finalization is a
    * fixed sequence of correctly-rounded IEEE ops both engines execute
    * identically, so the doubles hash bit-identically with no rounding
    * step.
    */
  def evAbStats(spark: SparkSession, sfDir: String): DataFrame =
    evAbStatsOf(Tables.events(spark, sfDir))

  /** Core over any (event_type, user_id, value) frame, batch or
    * streaming: `graft.streaming.AbStatsStream` runs this plan as its
    * streaming aggregation.
    */
  def evAbStatsOf(events: DataFrame): DataFrame =
    abMoments(events)
      .withColumn("ma", expr("CAST(s_a AS DOUBLE) / CAST(n_a AS DOUBLE)"))
      .withColumn("mb", expr("CAST(s_b AS DOUBLE) / CAST(n_b AS DOUBLE)"))
      .withColumn("va", expr(armVariance("a")))
      .withColumn("vb", expr(armVariance("b")))
      .withColumn("sea", expr("va / CAST(n_a AS DOUBLE)"))
      .withColumn("seb", expr("vb / CAST(n_b AS DOUBLE)"))
      .withColumn("se2", col("sea") + col("seb"))
      .filter(col("se2") > 0)
      .select(col("event_type"), col("n_a"), col("n_b"),
        expr("ma / 1000.0").as("mean_a"),
        expr("mb / 1000.0").as("mean_b"),
        expr("(ma - mb) / sqrt(se2)").as("t_stat"),
        expr("""se2 * se2 / (sea * sea / CAST(n_a - 1 AS DOUBLE)
                |            + seb * seb / CAST(n_b - 1 AS DOUBLE))""".stripMargin)
          .as("welch_df"),
        expr("""CAST(n_a - n_b AS DOUBLE) * CAST(n_a - n_b AS DOUBLE)
                |  / CAST(n_a + n_b AS DOUBLE)""".stripMargin).as("srm_chi2"))

  /** The six exact per-arm moments of the A/B family, per event_type,
    * over an (event_type, user_id, value) frame: `n`, `s` = Σvq and
    * `ss` = Σvq² for arm A (`user_id % 2` = 0) and arm B (= 1) on the
    * milli grid, then the rows with more than one observation per arm.
    * A negative odd id reads −1 and falls in neither arm, as in the
    * DuckDB twins. `extra` aggregates ride the same exchange. On a
    * streaming frame this is the monitors' state: a streaming
    * aggregation in Update mode emits the refreshed row of every key a
    * micro-batch touches.
    */
  private def abMoments(events: DataFrame, extra: Column*): DataFrame = {
    val moments = Seq(arm(0, lit(1L)).as("n_a"), arm(1, lit(1L)).as("n_b")) ++ extra ++
      Seq(arm(0, col("vq")).as("s_a"), arm(1, col("vq")).as("s_b"),
        arm(0, col("vq") * col("vq")).as("ss_a"), arm(1, col("vq") * col("vq")).as("ss_b"))
    events
      .select(col("event_type"),
        (col("user_id") % 2).cast(IntegerType).as("variant"),
        expr("CAST(round(value * 1000) AS BIGINT)").as("vq"))
      .groupBy(col("event_type"))
      .agg(moments.head, moments.tail: _*)
      .filter(col("n_a") > 1 && col("n_b") > 1)
  }

  /** Σ`e` over the rows of arm `v` (the `variant` column). */
  private def arm(v: Int, e: Column): Column =
    sum(when(col("variant") === v, e).otherwise(0L))

  /** Sample variance of one arm's milli values from its exact moments. */
  private def armVariance(a: String): String =
    s"""(CAST(n_$a AS DOUBLE) * CAST(ss_$a AS DOUBLE) - CAST(s_$a AS DOUBLE) * CAST(s_$a AS DOUBLE))
       |  / (CAST(n_$a AS DOUBLE) * CAST(n_$a - 1 AS DOUBLE))""".stripMargin

  /** Welch se² = va/n_a + vb/n_b, the op order [[evAbStatsOf]] runs
    * through its `sea`/`seb` columns.
    */
  private val welchSe2: String =
    s"""${armVariance("a")} / CAST(n_a AS DOUBLE)
       |+ ${armVariance("b")} / CAST(n_b AS DOUBLE)""".stripMargin

  val evAbStatsSql: String =
    """WITH q AS (
      |  SELECT event_type, CAST(user_id % 2 AS INT) AS variant,
      |    CAST(round(value * 1000) AS BIGINT) AS vq
      |  FROM events),
      |g AS (
      |  SELECT event_type,
      |    CAST(sum(CASE WHEN variant = 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_a,
      |    CAST(sum(CASE WHEN variant = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_b,
      |    CAST(sum(CASE WHEN variant = 0 THEN vq ELSE 0 END) AS BIGINT) AS s_a,
      |    CAST(sum(CASE WHEN variant = 1 THEN vq ELSE 0 END) AS BIGINT) AS s_b,
      |    CAST(sum(CASE WHEN variant = 0 THEN vq * vq ELSE 0 END) AS BIGINT) AS ss_a,
      |    CAST(sum(CASE WHEN variant = 1 THEN vq * vq ELSE 0 END) AS BIGINT) AS ss_b
      |  FROM q GROUP BY event_type),
      |m AS (
      |  SELECT *,
      |    CAST(s_a AS DOUBLE) / CAST(n_a AS DOUBLE) AS ma,
      |    CAST(s_b AS DOUBLE) / CAST(n_b AS DOUBLE) AS mb,
      |    (CAST(n_a AS DOUBLE) * CAST(ss_a AS DOUBLE)
      |      - CAST(s_a AS DOUBLE) * CAST(s_a AS DOUBLE))
      |    / (CAST(n_a AS DOUBLE) * CAST(n_a - 1 AS DOUBLE)) AS va,
      |    (CAST(n_b AS DOUBLE) * CAST(ss_b AS DOUBLE)
      |      - CAST(s_b AS DOUBLE) * CAST(s_b AS DOUBLE))
      |    / (CAST(n_b AS DOUBLE) * CAST(n_b - 1 AS DOUBLE)) AS vb
      |  FROM g WHERE n_a > 1 AND n_b > 1),
      |s AS (
      |  SELECT *, va / CAST(n_a AS DOUBLE) AS sea, vb / CAST(n_b AS DOUBLE) AS seb,
      |    va / CAST(n_a AS DOUBLE) + vb / CAST(n_b AS DOUBLE) AS se2
      |  FROM m)
      |SELECT event_type, n_a, n_b,
      |  ma / 1000.0 AS mean_a, mb / 1000.0 AS mean_b,
      |  (ma - mb) / sqrt(se2) AS t_stat,
      |  se2 * se2 / (sea * sea / CAST(n_a - 1 AS DOUBLE)
      |              + seb * seb / CAST(n_b - 1 AS DOUBLE)) AS welch_df,
      |  CAST(n_a - n_b AS DOUBLE) * CAST(n_a - n_b AS DOUBLE)
      |    / CAST(n_a + n_b AS DOUBLE) AS srm_chi2
      |FROM s WHERE se2 > 0""".stripMargin

  /** Cohort LTV curves — per signup-cohort week, the cumulative revenue
    * per user at each week of age (the retention-revenue readout behind
    * "does week-3 LTV cover acquisition cost"). Cohort = the user's first
    * activity week; revenue = purchase values on the exact milli grid.
    *
    * Scale shape: two user-keyed aggregations (first-week min and
    * per-(user, week) purchase sums) meet in a user-keyed equijoin — all
    * slim rows, the event stream itself is touched once. The cumulative
    * window runs over (cohort, age) — bounded by weeks², independent of
    * corpus size — and the cohort-size table broadcasts back. Revenue
    * sums are fold-order-free BIGINTs; the per-user division is one IEEE
    * op both engines run identically.
    */
  def evLtv(spark: SparkSession, sfDir: String): DataFrame = {
    val e = Tables.events(spark, sfDir)
      .select(col("user_id"), col("event_type"),
        expr("((ts div 1000) div 86400000000) div 7").as("wk"),
        expr("CAST(round(value * 1000) AS BIGINT)").as("vq"))
    val cohort = e.groupBy(col("user_id")).agg(min(col("wk")).as("cohort_wk"))
    val sizes = cohort.groupBy(col("cohort_wk")).agg(count(lit(1)).as("n_users"))
    val uw = e.filter(col("event_type") === "purchase")
      .groupBy(col("user_id"), col("wk")).agg(sum(col("vq")).as("rev_q"))
    val byAge = uw.join(cohort, Seq("user_id"))
      .withColumn("age_wk", col("wk") - col("cohort_wk"))
      .groupBy(col("cohort_wk"), col("age_wk")).agg(sum(col("rev_q")).as("wk_q"))
    val wcum = Window.partitionBy(col("cohort_wk")).orderBy(col("age_wk"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    byAge.withColumn("cum_q", sum(col("wk_q")).over(wcum))
      .join(broadcast(sizes), Seq("cohort_wk"))
      .select(col("cohort_wk"), col("age_wk"), col("n_users"),
        expr("CAST(wk_q AS DOUBLE) / 1000.0").as("week_rev"),
        expr("CAST(cum_q AS DOUBLE) / (CAST(n_users AS DOUBLE) * 1000.0)")
          .as("ltv"))
  }

  val evLtvSql: String =
    """WITH e AS (
      |  SELECT user_id, event_type,
      |    (epoch_us(ts) // 86400000000) // 7 AS wk,
      |    CAST(round(value * 1000) AS BIGINT) AS vq
      |  FROM events),
      |c AS (SELECT user_id, min(wk) AS cohort_wk FROM e GROUP BY user_id),
      |s AS (SELECT cohort_wk, count(*) AS n_users FROM c GROUP BY cohort_wk),
      |uw AS (
      |  SELECT user_id, wk, CAST(sum(vq) AS BIGINT) AS rev_q
      |  FROM e WHERE event_type = 'purchase' GROUP BY user_id, wk),
      |a AS (
      |  SELECT c.cohort_wk, uw.wk - c.cohort_wk AS age_wk,
      |    CAST(sum(rev_q) AS BIGINT) AS wk_q
      |  FROM uw JOIN c USING (user_id) GROUP BY 1, 2)
      |SELECT a.cohort_wk, a.age_wk, s.n_users,
      |  CAST(wk_q AS DOUBLE) / 1000.0 AS week_rev,
      |  CAST(sum(wk_q) OVER (PARTITION BY a.cohort_wk ORDER BY a.age_wk
      |        ROWS UNBOUNDED PRECEDING) AS DOUBLE)
      |    / (CAST(s.n_users AS DOUBLE) * 1000.0) AS ltv
      |FROM a JOIN s USING (cohort_wk)""".stripMargin

  /** Seasonal-naive forecast backtest — forecast each day's per-type value
    * total as the SAME WEEKDAY one week earlier, and score the forecast
    * with MAE and WAPE per event type. The standard baseline every
    * forecasting system must beat (and the cheapest drift alarm: WAPE
    * jumping week-over-week means the metric's weekly shape broke).
    *
    * Scale shape: the event stream collapses to a (type, day) daily
    * aggregate in one slim exchange; the lag-7 pairing is an equijoin of
    * that tiny table against itself shifted by seven days (join, not a
    * window lag — gap days pair correctly or drop out instead of lagging
    * to the wrong weekday). Error sums are exact BIGINTs on the milli
    * grid; MAE/WAPE are single IEEE divisions of exact totals.
    */
  def evForecast(spark: SparkSession, sfDir: String): DataFrame = {
    val daily = Tables.events(spark, sfDir)
      .select(col("event_type"),
        expr("(ts div 1000) div 86400000000").as("d"),
        expr("CAST(round(value * 1000) AS BIGINT)").as("vq"))
      .groupBy(col("event_type"), col("d")).agg(sum(col("vq")).as("yq"))
    val prev = daily.select(col("event_type"),
      (col("d") + lit(7)).as("d"), col("yq").as("pq"))
    daily.join(prev, Seq("event_type", "d"))
      .groupBy(col("event_type")).agg(
        count(lit(1)).as("n_days"),
        sum(abs(col("yq") - col("pq"))).as("ae_q"),
        sum(col("yq")).as("tot_q"))
      .select(col("event_type"), col("n_days"),
        expr("CAST(ae_q AS DOUBLE) / (CAST(n_days AS DOUBLE) * 1000.0)")
          .as("mae"),
        expr("CAST(ae_q AS DOUBLE) / CAST(tot_q AS DOUBLE)").as("wape"))
  }

  val evForecastSql: String =
    """WITH daily AS (
      |  SELECT event_type,
      |    epoch_us(ts) // 86400000000 AS d,
      |    CAST(sum(CAST(round(value * 1000) AS BIGINT)) AS BIGINT) AS yq
      |  FROM events GROUP BY 1, 2),
      |j AS (
      |  SELECT cur.event_type, cur.yq, prev.yq AS pq
      |  FROM daily cur JOIN daily prev
      |    ON cur.event_type = prev.event_type AND cur.d = prev.d + 7),
      |g AS (
      |  SELECT event_type, count(*) AS n_days,
      |    CAST(sum(abs(yq - pq)) AS BIGINT) AS ae_q,
      |    CAST(sum(yq) AS BIGINT) AS tot_q
      |  FROM j GROUP BY event_type)
      |SELECT event_type, n_days,
      |  CAST(ae_q AS DOUBLE) / (CAST(n_days AS DOUBLE) * 1000.0) AS mae,
      |  CAST(ae_q AS DOUBLE) / CAST(tot_q AS DOUBLE) AS wape
      |FROM g""".stripMargin

  /** CUPED variance-reduced A/B readout — the standard experimentation
    * upgrade over [[evAbStats]]: each user's PRE-period activity (first
    * half of the window, before any treatment) is a covariate X for their
    * experiment-period metric Y; regressing Y on X pooled across arms
    * (θ = Cov(X,Y)/Var(X)) and testing Y − θX instead of Y removes the
    * between-user variance X explains, shrinking confidence intervals
    * with zero bias (Deng et al., WSDM'13). `var_red` reports the
    * achieved reduction (= pooled corr²(X,Y)).
    *
    * Scale shape: one (event_type, user) exchange folds both periods in a
    * single conditional pass (pre → X, post → Y), then one slim
    * per-event_type exchange carries six exact BIGINT moments per arm
    * — the [[evAbStats]] recipe with X⊗Y cross-moments added. Overflow
    * headroom: per-user period sums ≤ ~1e7 milli ⇒ Σx², Σxy ≤ ~1e17 per
    * group at sf1 — inside BIGINT. θ and the Welch t on the adjusted
    * metric are a fixed sequence of correctly-rounded IEEE ops both
    * engines execute identically — no rounding step.
    */
  def evAbCuped(spark: SparkSession, sfDir: String): DataFrame =
    evAbCupedOf(Tables.events(spark, sfDir))

  /** Core over any (event_type, user_id, ts [epoch-nanos], value) frame —
    * the streaming twin's batch-equivalence spec drives it with in-memory
    * frames.
    */
  def evAbCupedOf(events: DataFrame): DataFrame = {
    val cutUs = 1705363200000000L // 2024-01-16 00:00:00 UTC, epoch micros
    val u = events
      .select(col("event_type"), col("user_id"),
        (col("user_id") % 2).cast(IntegerType).as("variant"),
        expr(s"IF(ts div 1000 < ${cutUs}L, CAST(round(value * 1000) AS BIGINT), 0L)").as("xq"),
        expr(s"IF(ts div 1000 >= ${cutUs}L, CAST(round(value * 1000) AS BIGINT), 0L)").as("yq"))
      .groupBy(col("event_type"), col("user_id"), col("variant"))
      .agg(sum(col("xq")).as("x"), sum(col("yq")).as("y"))
    cupedReadout(u.groupBy(col("event_type")).agg(
      arm(0, lit(1L)).as("n_a"), arm(1, lit(1L)).as("n_b"),
      arm(0, col("x")).as("sx_a"), arm(1, col("x")).as("sx_b"),
      arm(0, col("y")).as("sy_a"), arm(1, col("y")).as("sy_b"),
      arm(0, col("x") * col("x")).as("sxx_a"), arm(1, col("x") * col("x")).as("sxx_b"),
      arm(0, col("y") * col("y")).as("syy_a"), arm(1, col("y") * col("y")).as("syy_b"),
      arm(0, col("x") * col("y")).as("sxy_a"), arm(1, col("x") * col("y")).as("sxy_b")))
  }

  /** The CUPED finalization over a per-event_type frame of the twelve
    * exact per-arm sums (`n`, `sx`, `sy`, `sxx`, `syy`, `sxy`, each with
    * `_a`/`_b`): [[evAbCupedOf]]'s aggregation, or the streaming
    * monitor's per-user state (`graft.streaming.CupedStream`).
    */
  def cupedReadout(moments: DataFrame): DataFrame =
    moments
      .filter(col("n_a") > 1 && col("n_b") > 1)
      .withColumn("n", expr("CAST(n_a + n_b AS DOUBLE)"))
      .withColumn("sx", expr("CAST(sx_a + sx_b AS DOUBLE)"))
      .withColumn("sy", expr("CAST(sy_a + sy_b AS DOUBLE)"))
      .withColumn("thn", expr(
        "n * CAST(sxy_a + sxy_b AS DOUBLE) - sx * sy"))
      .withColumn("thd", expr(
        "n * CAST(sxx_a + sxx_b AS DOUBLE) - sx * sx"))
      .withColumn("syyd", expr(
        "n * CAST(syy_a + syy_b AS DOUBLE) - sy * sy"))
      .filter(col("thd") > 0 && col("syyd") > 0)
      .withColumn("theta", expr("thn / thd"))
      .withColumn("aa", expr(
        """CAST(sy_a AS DOUBLE) / CAST(n_a AS DOUBLE)
          |  - theta * (CAST(sx_a AS DOUBLE) / CAST(n_a AS DOUBLE) - sx / n)"""
          .stripMargin))
      .withColumn("ab", expr(
        """CAST(sy_b AS DOUBLE) / CAST(n_b AS DOUBLE)
          |  - theta * (CAST(sx_b AS DOUBLE) / CAST(n_b AS DOUBLE) - sx / n)"""
          .stripMargin))
      .withColumn("va", expr(
        """(CAST(n_a AS DOUBLE) * CAST(syy_a AS DOUBLE) - CAST(sy_a AS DOUBLE) * CAST(sy_a AS DOUBLE))
          |  / (CAST(n_a AS DOUBLE) * CAST(n_a - 1 AS DOUBLE))
          |- 2.0 * theta * (CAST(n_a AS DOUBLE) * CAST(sxy_a AS DOUBLE) - CAST(sx_a AS DOUBLE) * CAST(sy_a AS DOUBLE))
          |  / (CAST(n_a AS DOUBLE) * CAST(n_a - 1 AS DOUBLE))
          |+ theta * theta * (CAST(n_a AS DOUBLE) * CAST(sxx_a AS DOUBLE) - CAST(sx_a AS DOUBLE) * CAST(sx_a AS DOUBLE))
          |  / (CAST(n_a AS DOUBLE) * CAST(n_a - 1 AS DOUBLE))""".stripMargin))
      .withColumn("vb", expr(
        """(CAST(n_b AS DOUBLE) * CAST(syy_b AS DOUBLE) - CAST(sy_b AS DOUBLE) * CAST(sy_b AS DOUBLE))
          |  / (CAST(n_b AS DOUBLE) * CAST(n_b - 1 AS DOUBLE))
          |- 2.0 * theta * (CAST(n_b AS DOUBLE) * CAST(sxy_b AS DOUBLE) - CAST(sx_b AS DOUBLE) * CAST(sy_b AS DOUBLE))
          |  / (CAST(n_b AS DOUBLE) * CAST(n_b - 1 AS DOUBLE))
          |+ theta * theta * (CAST(n_b AS DOUBLE) * CAST(sxx_b AS DOUBLE) - CAST(sx_b AS DOUBLE) * CAST(sx_b AS DOUBLE))
          |  / (CAST(n_b AS DOUBLE) * CAST(n_b - 1 AS DOUBLE))""".stripMargin))
      .withColumn("se2", expr(
        "va / CAST(n_a AS DOUBLE) + vb / CAST(n_b AS DOUBLE)"))
      .filter(col("se2") > 0)
      .select(col("event_type"), col("n_a"), col("n_b"), col("theta"),
        expr("aa / 1000.0").as("mean_a_adj"),
        expr("ab / 1000.0").as("mean_b_adj"),
        expr("(aa - ab) / sqrt(se2)").as("t_cuped"),
        expr("thn * thn / (thd * syyd)").as("var_red"))

  val evAbCupedSql: String =
    """WITH q AS (
      |  SELECT event_type, user_id, CAST(user_id % 2 AS INT) AS variant,
      |    CASE WHEN epoch_us(ts) < 1705363200000000
      |         THEN CAST(round(value * 1000) AS BIGINT) ELSE 0 END AS xq,
      |    CASE WHEN epoch_us(ts) >= 1705363200000000
      |         THEN CAST(round(value * 1000) AS BIGINT) ELSE 0 END AS yq
      |  FROM events),
      |u AS (
      |  SELECT event_type, user_id, variant,
      |    CAST(sum(xq) AS BIGINT) AS x, CAST(sum(yq) AS BIGINT) AS y
      |  FROM q GROUP BY 1, 2, 3),
      |g AS (
      |  SELECT event_type,
      |    CAST(sum(CASE WHEN variant = 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_a,
      |    CAST(sum(CASE WHEN variant = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_b,
      |    CAST(sum(CASE WHEN variant = 0 THEN x ELSE 0 END) AS BIGINT) AS sx_a,
      |    CAST(sum(CASE WHEN variant = 1 THEN x ELSE 0 END) AS BIGINT) AS sx_b,
      |    CAST(sum(CASE WHEN variant = 0 THEN y ELSE 0 END) AS BIGINT) AS sy_a,
      |    CAST(sum(CASE WHEN variant = 1 THEN y ELSE 0 END) AS BIGINT) AS sy_b,
      |    CAST(sum(CASE WHEN variant = 0 THEN x * x ELSE 0 END) AS BIGINT) AS sxx_a,
      |    CAST(sum(CASE WHEN variant = 1 THEN x * x ELSE 0 END) AS BIGINT) AS sxx_b,
      |    CAST(sum(CASE WHEN variant = 0 THEN y * y ELSE 0 END) AS BIGINT) AS syy_a,
      |    CAST(sum(CASE WHEN variant = 1 THEN y * y ELSE 0 END) AS BIGINT) AS syy_b,
      |    CAST(sum(CASE WHEN variant = 0 THEN x * y ELSE 0 END) AS BIGINT) AS sxy_a,
      |    CAST(sum(CASE WHEN variant = 1 THEN x * y ELSE 0 END) AS BIGINT) AS sxy_b
      |  FROM u GROUP BY event_type),
      |m AS (
      |  SELECT *,
      |    CAST(n_a + n_b AS DOUBLE) AS n,
      |    CAST(sx_a + sx_b AS DOUBLE) AS sx,
      |    CAST(sy_a + sy_b AS DOUBLE) AS sy
      |  FROM g WHERE n_a > 1 AND n_b > 1),
      |t AS (
      |  SELECT *,
      |    n * CAST(sxy_a + sxy_b AS DOUBLE) - sx * sy AS thn,
      |    n * CAST(sxx_a + sxx_b AS DOUBLE) - sx * sx AS thd,
      |    n * CAST(syy_a + syy_b AS DOUBLE) - sy * sy AS syyd
      |  FROM m),
      |h AS (SELECT *, thn / thd AS theta FROM t WHERE thd > 0 AND syyd > 0),
      |adj AS (
      |  SELECT *,
      |    CAST(sy_a AS DOUBLE) / CAST(n_a AS DOUBLE)
      |      - theta * (CAST(sx_a AS DOUBLE) / CAST(n_a AS DOUBLE) - sx / n) AS aa,
      |    CAST(sy_b AS DOUBLE) / CAST(n_b AS DOUBLE)
      |      - theta * (CAST(sx_b AS DOUBLE) / CAST(n_b AS DOUBLE) - sx / n) AS ab,
      |    (CAST(n_a AS DOUBLE) * CAST(syy_a AS DOUBLE) - CAST(sy_a AS DOUBLE) * CAST(sy_a AS DOUBLE))
      |      / (CAST(n_a AS DOUBLE) * CAST(n_a - 1 AS DOUBLE))
      |    - 2.0 * theta * (CAST(n_a AS DOUBLE) * CAST(sxy_a AS DOUBLE) - CAST(sx_a AS DOUBLE) * CAST(sy_a AS DOUBLE))
      |      / (CAST(n_a AS DOUBLE) * CAST(n_a - 1 AS DOUBLE))
      |    + theta * theta * (CAST(n_a AS DOUBLE) * CAST(sxx_a AS DOUBLE) - CAST(sx_a AS DOUBLE) * CAST(sx_a AS DOUBLE))
      |      / (CAST(n_a AS DOUBLE) * CAST(n_a - 1 AS DOUBLE)) AS va,
      |    (CAST(n_b AS DOUBLE) * CAST(syy_b AS DOUBLE) - CAST(sy_b AS DOUBLE) * CAST(sy_b AS DOUBLE))
      |      / (CAST(n_b AS DOUBLE) * CAST(n_b - 1 AS DOUBLE))
      |    - 2.0 * theta * (CAST(n_b AS DOUBLE) * CAST(sxy_b AS DOUBLE) - CAST(sx_b AS DOUBLE) * CAST(sy_b AS DOUBLE))
      |      / (CAST(n_b AS DOUBLE) * CAST(n_b - 1 AS DOUBLE))
      |    + theta * theta * (CAST(n_b AS DOUBLE) * CAST(sxx_b AS DOUBLE) - CAST(sx_b AS DOUBLE) * CAST(sx_b AS DOUBLE))
      |      / (CAST(n_b AS DOUBLE) * CAST(n_b - 1 AS DOUBLE)) AS vb
      |  FROM h),
      |f AS (
      |  SELECT *, va / CAST(n_a AS DOUBLE) + vb / CAST(n_b AS DOUBLE) AS se2
      |  FROM adj)
      |SELECT event_type, n_a, n_b, theta,
      |  aa / 1000.0 AS mean_a_adj, ab / 1000.0 AS mean_b_adj,
      |  (aa - ab) / sqrt(se2) AS t_cuped,
      |  thn * thn / (thd * syyd) AS var_red
      |FROM f WHERE se2 > 0""".stripMargin

  /** Always-valid sequential A/B test — the mixture SPRT (Johari et al.,
    * KDD'17 "Peeking at A/B tests"): the likelihood-ratio statistic
    * Λ = √(se²/(se²+τ²)) · exp(θ̂²τ² / (2se²(se²+τ²))) against the
    * Gaussian mixture prior τ, and its always-valid p-value min(1, 1/Λ)
    * — the number a dashboard may legally show WHILE the experiment
    * runs (the fixed-n Welch t of [[evAbStats]] is only valid at a
    * pre-committed stopping time). Same six exact BIGINT moments, same
    * single conditional-agg exchange; the finalization adds √/exp on
    * the per-metric result rows only, rounded to the 1e-6 grid (the
    * [[TextOps.docDsirSample]] float-order discipline — √/exp are
    * correctly-rounded-to-ulp on both engines and the 6-digit rounding
    * absorbs any boundary ulp).
    */
  def evAbSeq(spark: SparkSession, sfDir: String): DataFrame =
    evAbSeqOf(Tables.events(spark, sfDir))

  /** Core over any (event_type, user_id, value) frame, batch or
    * streaming: `graft.streaming.SeqTestStream` runs this plan as its
    * streaming aggregation.
    */
  def evAbSeqOf(events: DataFrame): DataFrame = {
    val tau2 = "10000.0" // mixture prior τ = 100 milli = 0.1 metric units
    abMoments(events)
      .withColumn("diff", expr(
        "CAST(s_a AS DOUBLE) / CAST(n_a AS DOUBLE) - CAST(s_b AS DOUBLE) / CAST(n_b AS DOUBLE)"))
      .withColumn("se2", expr(welchSe2))
      .filter(col("se2") > 0)
      .withColumn("lam", expr(
        s"sqrt(se2 / (se2 + $tau2)) * exp(diff * diff * $tau2 / (2.0 * se2 * (se2 + $tau2)))"))
      .select(col("event_type"), col("n_a"), col("n_b"),
        expr("round(diff / 1000.0, 6)").as("diff"),
        expr("round(lam, 6)").as("lambda"),
        expr("round(least(1.0, 1.0 / lam), 6)").as("p_seq"))
  }

  val evAbSeqSql: String =
    """WITH q AS (
      |  SELECT event_type, CAST(user_id % 2 AS INT) AS variant,
      |    CAST(round(value * 1000) AS BIGINT) AS vq
      |  FROM events),
      |g AS (
      |  SELECT event_type,
      |    CAST(sum(CASE WHEN variant = 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_a,
      |    CAST(sum(CASE WHEN variant = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_b,
      |    CAST(sum(CASE WHEN variant = 0 THEN vq ELSE 0 END) AS BIGINT) AS s_a,
      |    CAST(sum(CASE WHEN variant = 1 THEN vq ELSE 0 END) AS BIGINT) AS s_b,
      |    CAST(sum(CASE WHEN variant = 0 THEN vq * vq ELSE 0 END) AS BIGINT) AS ss_a,
      |    CAST(sum(CASE WHEN variant = 1 THEN vq * vq ELSE 0 END) AS BIGINT) AS ss_b
      |  FROM q GROUP BY event_type),
      |m AS (
      |  SELECT *,
      |    CAST(s_a AS DOUBLE) / CAST(n_a AS DOUBLE) - CAST(s_b AS DOUBLE) / CAST(n_b AS DOUBLE) AS diff,
      |    (CAST(n_a AS DOUBLE) * CAST(ss_a AS DOUBLE) - CAST(s_a AS DOUBLE) * CAST(s_a AS DOUBLE))
      |      / (CAST(n_a AS DOUBLE) * CAST(n_a - 1 AS DOUBLE)) / CAST(n_a AS DOUBLE)
      |    + (CAST(n_b AS DOUBLE) * CAST(ss_b AS DOUBLE) - CAST(s_b AS DOUBLE) * CAST(s_b AS DOUBLE))
      |      / (CAST(n_b AS DOUBLE) * CAST(n_b - 1 AS DOUBLE)) / CAST(n_b AS DOUBLE) AS se2
      |  FROM g WHERE n_a > 1 AND n_b > 1),
      |l AS (
      |  SELECT *,
      |    sqrt(se2 / (se2 + 10000.0))
      |      * exp(diff * diff * 10000.0 / (2.0 * se2 * (se2 + 10000.0))) AS lam
      |  FROM m WHERE se2 > 0)
      |SELECT event_type, n_a, n_b,
      |  round(diff / 1000.0, 6) AS diff,
      |  round(lam, 6) AS lambda,
      |  round(least(1.0, 1.0 / lam), 6) AS p_seq
      |FROM l""".stripMargin

  /** Experiment power panel — the minimum detectable effect at 80% power
    * / 5% two-sided α per metric, from the same exact moments: the
    * pre-launch sizing question ("can this experiment even see a 1%
    * move?") answered from live variance instead of guesses. MDE =
    * (z_{α/2} + z_{power})·√se² with the z constants as shared literals.
    */
  def evAbPower(spark: SparkSession, sfDir: String): DataFrame = {
    val zsum = "2.801585218113954" // 1.959963984540054 + 0.841621233572914
    // its own Σvq: s_a + s_b would drop the values of negative odd ids
    abMoments(Tables.events(spark, sfDir), sum(col("vq")).as("s"))
      .withColumn("se2", expr(welchSe2))
      .filter(col("se2") > 0)
      .withColumn("mde_q", expr(s"$zsum * sqrt(se2)"))
      .select(col("event_type"), col("n_a"), col("n_b"),
        expr("round(CAST(s AS DOUBLE) / CAST(n_a + n_b AS DOUBLE) / 1000.0, 6)")
          .as("baseline_mean"),
        expr("round(mde_q / 1000.0, 6)").as("mde_abs"),
        expr("round(mde_q * CAST(n_a + n_b AS DOUBLE) / CAST(s AS DOUBLE), 6)")
          .as("mde_rel"))
  }

  val evAbPowerSql: String =
    """WITH q AS (
      |  SELECT event_type, CAST(user_id % 2 AS INT) AS variant,
      |    CAST(round(value * 1000) AS BIGINT) AS vq
      |  FROM events),
      |g AS (
      |  SELECT event_type,
      |    CAST(sum(CASE WHEN variant = 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_a,
      |    CAST(sum(CASE WHEN variant = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_b,
      |    CAST(sum(vq) AS BIGINT) AS s,
      |    CAST(sum(CASE WHEN variant = 0 THEN vq ELSE 0 END) AS BIGINT) AS s_a,
      |    CAST(sum(CASE WHEN variant = 1 THEN vq ELSE 0 END) AS BIGINT) AS s_b,
      |    CAST(sum(CASE WHEN variant = 0 THEN vq * vq ELSE 0 END) AS BIGINT) AS ss_a,
      |    CAST(sum(CASE WHEN variant = 1 THEN vq * vq ELSE 0 END) AS BIGINT) AS ss_b
      |  FROM q GROUP BY event_type),
      |m AS (
      |  SELECT *,
      |    (CAST(n_a AS DOUBLE) * CAST(ss_a AS DOUBLE) - CAST(s_a AS DOUBLE) * CAST(s_a AS DOUBLE))
      |      / (CAST(n_a AS DOUBLE) * CAST(n_a - 1 AS DOUBLE)) / CAST(n_a AS DOUBLE)
      |    + (CAST(n_b AS DOUBLE) * CAST(ss_b AS DOUBLE) - CAST(s_b AS DOUBLE) * CAST(s_b AS DOUBLE))
      |      / (CAST(n_b AS DOUBLE) * CAST(n_b - 1 AS DOUBLE)) / CAST(n_b AS DOUBLE) AS se2
      |  FROM g WHERE n_a > 1 AND n_b > 1),
      |p AS (SELECT *, 2.801585218113954 * sqrt(se2) AS mde_q FROM m WHERE se2 > 0)
      |SELECT event_type, n_a, n_b,
      |  round(CAST(s AS DOUBLE) / CAST(n_a + n_b AS DOUBLE) / 1000.0, 6) AS baseline_mean,
      |  round(mde_q / 1000.0, 6) AS mde_abs,
      |  round(mde_q * CAST(n_a + n_b AS DOUBLE) / CAST(s AS DOUBLE), 6) AS mde_rel
      |FROM p""".stripMargin

  /** Markov removal-effect attribution (Anderl et al. 2014) — the
    * data-driven upgrade over [[evAttribution]]'s last-touch rule: model
    * each user's pre-conversion journey as a first-order Markov chain
    * (START → channel states → CONV/NULL absorption), compute the
    * chain's conversion probability, and credit each channel by how much
    * that probability DROPS when the channel is removed (its mass
    * falling out of the chain) — normalized to the observed conversion
    * total.
    *
    * Scale shape: the corpus-sized work is ONE user-keyed window pass
    * (row_number + lag share the exchange) and a (src, dst) count
    * aggregate — ≤ (channels+2)² slim rows to the driver. The
    * absorption solve is Gaussian elimination on that tiny matrix
    * (fixed elimination order, no pivoting — the [[VectorOps]] Jacobi
    * precedent for deterministic driver-side math); the Python
    * reference oracle in tools/compare.py mirrors the arithmetic op for
    * op, so the doubles match bit-for-bit.
    */
  /** The corpus-sized data pass of [[evAttributionMarkov]] as a
    * standalone DuckDB-checkable query: exact BIGINT first-order
    * transition counts over the truncated-at-first-conversion journeys
    * (START → channels → CONV/NULL). Hash-green here means the driver has
    * verified every data pass of the attribution — only the bounded
    * (channels+2)²-row driver-side absorption solve stays with the Python
    * oracle.
    */
  def evMarkovTransitions(spark: SparkSession, sfDir: String): DataFrame = {
    // order on the µs axis (ts div 1000) like every other event op and the
    // oracle's epoch_us — raw-nanos ordering would tie-break differently
    // if timestamps ever carry sub-µs precision
    val w = Window.partitionBy(col("user_id"))
      .orderBy(expr("ts div 1000"), col("event_id"))
    val e = Tables.events(spark, sfDir)
      .select(col("user_id"), col("ts"), col("event_id"),
        when(col("event_type") === "purchase", "CONV")
          .otherwise(col("event_type")).as("state"))
      .withColumn("rn", row_number().over(w))
      .withColumn("prev", lag(col("state"), 1).over(w))
    val pn = e.filter(col("state") === "CONV")
      .groupBy(col("user_id")).agg(min(col("rn")).as("pn"))
    val mx = e.groupBy(col("user_id")).agg(max(col("rn")).as("mx"))
    val kept = e.join(pn, Seq("user_id"), "left")
      .filter(col("pn").isNull || col("rn") <= col("pn"))
    val transA = kept.select(
      coalesce(col("prev"), lit("START")).as("src"), col("state").as("dst"))
    val transB = kept.join(mx, Seq("user_id"))
      .filter(col("pn").isNull && col("rn") === col("mx"))
      .select(col("state").as("src"), lit("NULL").as("dst"))
    transA.unionByName(transB)
      .groupBy(col("src"), col("dst")).agg(count(lit(1)).as("n"))
  }

  val evMarkovTransitionsSql: String =
    """WITH e AS (
      |  SELECT user_id, event_id,
      |    CASE WHEN event_type = 'purchase' THEN 'CONV' ELSE event_type END AS state,
      |    row_number() OVER (PARTITION BY user_id
      |      ORDER BY epoch_us(ts), event_id) AS rn,
      |    lag(CASE WHEN event_type = 'purchase' THEN 'CONV' ELSE event_type END)
      |      OVER (PARTITION BY user_id ORDER BY epoch_us(ts), event_id) AS prev
      |  FROM events),
      |pn AS (SELECT user_id, min(rn) AS pn FROM e WHERE state = 'CONV' GROUP BY user_id),
      |mx AS (SELECT user_id, max(rn) AS mx FROM e GROUP BY user_id),
      |kept AS (
      |  SELECT e.*, pn.pn FROM e LEFT JOIN pn USING (user_id)
      |  WHERE pn.pn IS NULL OR e.rn <= pn.pn),
      |u AS (
      |  SELECT coalesce(prev, 'START') AS src, state AS dst FROM kept
      |  UNION ALL
      |  SELECT k.state AS src, 'NULL' AS dst
      |  FROM kept k JOIN mx USING (user_id)
      |  WHERE k.pn IS NULL AND k.rn = mx.mx)
      |SELECT src, dst, count(*) AS n FROM u GROUP BY src, dst""".stripMargin

  def evAttributionMarkov(spark: SparkSession, sfDir: String): DataFrame = {
    val counts = evMarkovTransitions(spark, sfDir)
      .collect() // ≤ (channels+2)² decision rows — never data-sized
      .map(r => (r.getString(0), r.getString(1)) -> r.getLong(2)).toMap

    val channels = counts.keysIterator.flatMap { case (s, d) => Seq(s, d) }
      .filter(x => x != "START" && x != "CONV" && x != "NULL")
      .toSeq.distinct.sorted
    val convTotal = counts.collect { case ((_, "CONV"), n) => n }.sum

    // row-stochastic transition probability over the observed counts
    val outTotal: Map[String, Long] =
      counts.groupBy(_._1._1).map { case (s, m) => s -> m.values.sum }
    def p(s: String, d: String): Double = {
      val t = outTotal.getOrElse(s, 0L)
      if (t == 0L) 0.0 else counts.getOrElse((s, d), 0L).toDouble / t.toDouble
    }

    /** P(absorb in CONV starting at states.head) via (I − Q)x = r,
      * Gaussian elimination in fixed order (mirrored in the oracle). */
    def absorb(states: Seq[String]): Double = {
      val n = states.length
      val a = Array.tabulate(n, n + 1) { (i, j) =>
        if (j == n) p(states(i), "CONV")
        else (if (i == j) 1.0 else 0.0) - p(states(i), states(j))
      }
      var k = 0
      while (k < n) {
        val piv = a(k)(k)
        var i = k + 1
        while (i < n) {
          val f = a(i)(k) / piv
          var j = k
          while (j <= n) { a(i)(j) = a(i)(j) - f * a(k)(j); j += 1 }
          i += 1
        }
        k += 1
      }
      val x = new Array[Double](n)
      var i = n - 1
      while (i >= 0) {
        var s = a(i)(n)
        var j = i + 1
        while (j < n) { s = s - a(i)(j) * x(j); j += 1 }
        x(i) = s / a(i)(i)
        i -= 1
      }
      x(0)
    }

    val spark2 = spark
    import spark2.implicits._
    val empty = Seq.empty[(String, Double, Double)]
      .toDF("channel", "removal_effect", "attribution")
    // no conversions → no credit to assign; base == 0 (or a removal set
    // with zero total effect) would otherwise divide through to NaN rows
    // that hash-match a mirrored NaN in the oracle while meaning nothing
    if (convTotal == 0L || channels.isEmpty) return empty
    val base = absorb("START" +: channels)
    if (!(base > 0.0)) return empty
    val re = channels.map { c =>
      c -> (1.0 - absorb("START" +: channels.filterNot(_ == c)) / base)
    }
    val reSum = re.map(_._2).sum
    if (reSum == 0.0) return empty
    re.map { case (c, r) =>
      (c, BigDecimal(r).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble,
        BigDecimal(convTotal.toDouble * r / reSum)
          .setScale(4, BigDecimal.RoundingMode.HALF_UP).toDouble)
    }.toDF("channel", "removal_effect", "attribution")
  }
  // ev_attribution_markov oracle: the absorption solve is not SQL — a
  // Python reference in tools/compare.py mirrors the chain construction
  // and elimination op for op (PY_ORACLES); driver gate records rows-only.

  /** PageRank over the event-type transition graph — which states
    * centralize user flows (the graph-analytics readout over the SAME
    * first-order transition counts as [[evTransitions]]; complements
    * [[evAttributionMarkov]], which scores conversion credit rather than
    * structural centrality).
    *
    * Scale: the corpus-sized work is ONE user-keyed window pass + a
    * (src, dst) count aggregate — at 100 TB that is the identical plan
    * shape as ev_transitions (one exchange on user_id, one on the pair
    * key). What reaches the driver is ≤ |event taxonomy|² slim count
    * rows — a decision table bounded by the event-type vocabulary, never
    * by data volume. The power iteration (30 rounds, damping 0.85,
    * dangling mass redistributed uniformly) runs on that table in fixed
    * node order (sorted names), so the doubles are bit-deterministic
    * across partitionings and retries; the Python oracle mirrors the
    * scatter loop op for op (evAttributionMarkov precedent). Exact
    * BIGINT in/out transition totals ride along as integer anchors.
    */
  /** The corpus-sized data pass of [[evPagerank]] as a standalone
    * DuckDB-checkable query: exact BIGINT consecutive-event transition
    * counts per (src, dst). A hash-green row here means the driver has
    * verified everything data-sized about ev_pagerank — only the bounded
    * taxonomy²-row driver-side power iteration stays with the Python
    * oracle.
    */
  def evPagerankEdges(spark: SparkSession, sfDir: String): DataFrame = {
    val w = Window.partitionBy(col("user_id")).orderBy(col("ts_us"), col("event_id"))
    Tables.events(spark, sfDir)
      .withColumn("ts_us", expr("ts div 1000"))
      .withColumn("to_type", lead(col("event_type"), 1).over(w))
      .filter(col("to_type").isNotNull)
      .groupBy(col("event_type").as("src"), col("to_type").as("dst"))
      .agg(count(lit(1)).as("n"))
  }

  val evPagerankEdgesSql: String =
    """WITH e AS (
      |  SELECT user_id, event_type,
      |    lead(event_type) OVER (PARTITION BY user_id
      |      ORDER BY epoch_us(ts), event_id) AS to_type
      |  FROM events)
      |SELECT event_type AS src, to_type AS dst, count(*) AS n
      |FROM e WHERE to_type IS NOT NULL GROUP BY src, to_type""".stripMargin

  def evPagerank(spark: SparkSession, sfDir: String): DataFrame = {
    val counts = evPagerankEdges(spark, sfDir)
      .collect() // ≤ taxonomy² decision rows — never data-sized
      .map(r => (r.getString(0), r.getString(1)) -> r.getLong(2)).toMap

    val nodes = counts.keysIterator.flatMap { case (s, d) => Seq(s, d) }
      .toSeq.distinct.sorted
    val n = nodes.length
    val outTotal: Map[String, Long] =
      counts.groupBy(_._1._1).map { case (s, m) => s -> m.values.sum }
    val inTotal: Map[String, Long] =
      counts.groupBy(_._1._2).map { case (d, m) => d -> m.values.sum }
    val damp = 0.85
    val pr = Array.fill(n)(1.0 / n)
    var it = 0
    while (it < 30) {
      val next = new Array[Double](n)
      var i = 0
      while (i < n) {
        val t = outTotal.getOrElse(nodes(i), 0L)
        var j = 0
        if (t == 0L) { // dangling node: mass spreads uniformly
          while (j < n) { next(j) += pr(i) / n; j += 1 }
        } else {
          while (j < n) {
            val c = counts.getOrElse((nodes(i), nodes(j)), 0L)
            if (c != 0L) next(j) += pr(i) * (c.toDouble / t.toDouble)
            j += 1
          }
        }
        i += 1
      }
      var j = 0
      while (j < n) { pr(j) = (1.0 - damp) / n + damp * next(j); j += 1 }
      it += 1
    }
    val spark2 = spark
    import spark2.implicits._
    nodes.zipWithIndex.map { case (s, i) =>
      (s, BigDecimal(pr(i)).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble,
        inTotal.getOrElse(s, 0L), outTotal.getOrElse(s, 0L))
    }.toDF("state", "pagerank", "in_n", "out_n")
  }
  /** Full DuckDB oracle for [[evPagerank]] — the "not SQL-expressible"
    * label was wrong: a FIXED iteration count unrolls into 30 chained
    * CTEs (it1..it30), each computing one synchronous scatter step from
    * the previous. Equality holds because the iteration is a contraction:
    * cross-engine float-order differences inside one iteration stay at
    * ~1e-16 relative and do not compound, so round(_, 6) on both sides
    * hashes identically (the markov/ev_ab float-parity discipline).
    * Built by code, not by hand, so the constants are shared with the
    * Scala loop. Plain string concat, no stripMargin (embedded SQL could
    * contain '||'-leading lines — the corpusReleaseManifestSql lesson).
    */
  val evPagerankSql: String = {
    val damp = 0.85
    val head =
      "WITH g AS (\n" + evPagerankEdgesSql + "),\n" +
        "nodes AS (SELECT DISTINCT x AS s FROM (SELECT src AS x FROM g UNION SELECT dst FROM g) u),\n" +
        "nn AS (SELECT CAST(count(*) AS DOUBLE) AS n FROM nodes),\n" +
        "outt AS (SELECT src AS s, CAST(sum(n) AS BIGINT) AS t FROM g GROUP BY src),\n" +
        "intot AS (SELECT dst AS s, CAST(sum(n) AS BIGINT) AS t FROM g GROUP BY dst),\n" +
        "p AS (SELECT g.src, g.dst, CAST(g.n AS DOUBLE) / CAST(outt.t AS DOUBLE) AS p\n" +
        "      FROM g JOIN outt ON g.src = outt.s),\n" +
        "it0 AS (SELECT s, 1.0 / nn.n AS r FROM nodes, nn)"
    // MATERIALIZED: DuckDB inlines plain CTEs, so 30 chained iterations
    // explode the binder's expression depth past its 128 cap;
    // materializing each ≤|taxonomy|-row step keeps binding flat
    val iters = (1 to 30).map { k =>
      s"it$k AS MATERIALIZED (\n" +
        s"  SELECT nodes.s,\n" +
        s"    (1.0 - $damp) / nn.n + $damp * (\n" +
        s"      COALESCE((SELECT sum(prev.r * p.p) FROM it${k - 1} prev\n" +
        s"                JOIN p ON p.src = prev.s AND p.dst = nodes.s), 0.0)\n" +
        s"      + COALESCE((SELECT sum(prev.r) FROM it${k - 1} prev\n" +
        s"                  WHERE prev.s NOT IN (SELECT s FROM outt)), 0.0) / nn.n\n" +
        s"    ) AS r\n" +
        s"  FROM nodes, nn)"
    }.mkString(",\n")
    val tail =
      "\nSELECT nodes.s AS state, round(it30.r, 6) AS pagerank,\n" +
        "  COALESCE(intot.t, 0) AS in_n, COALESCE(outt.t, 0) AS out_n\n" +
        "FROM nodes JOIN it30 ON it30.s = nodes.s\n" +
        "LEFT JOIN outt ON outt.s = nodes.s\n" +
        "LEFT JOIN intot ON intot.s = nodes.s"
    head + ",\n" + iters + tail
  }

  /** Kaplan–Meier survival curve over user lifetime (time-to-churn) —
    * the survival-analysis readout a retention team reads next to
    * [[evRetention]]'s cohort table: S(t) = Π over event-days d ≤ t of
    * (1 − churns_d / at-risk_d), with users still active in the last 7
    * observed days right-CENSORED (they leave the risk set without
    * counting as churn — the estimator's whole point vs a naive
    * death-rate curve).
    *
    * Scale shape: ONE user-keyed exchange (first/last activity per
    * user), a 1-row (observation end, user count) scalar attach
    * (broadcast nested-loop, PlanSpec-whitelisted), then a per-day
    * aggregate — the curve table is bounded by the corpus's span in
    * DAYS, a decision table, so the global-order window that forms the
    * running risk set and cumulative product never sees data-sized
    * input. Risk sets and churn counts are exact BIGINTs; the one float
    * chain (ln/sum/exp of the per-day factors) is written identically
    * in the oracle and rounded to 6 decimals. A zero factor (everyone
    * at risk churns on day d) would be ln(0) — Spark's log returns NULL
    * there where DuckDB returns -inf, so both engines branch on a
    * cumulative zero-flag instead of feeding ln a zero.
    */
  def evSurvival(spark: SparkSession, sfDir: String): DataFrame = {
    val DayUs = 86400000000L
    val users = Tables.events(spark, sfDir)
      .select(col("user_id"), expr("ts div 1000").as("ts_us"))
      .groupBy(col("user_id"))
      .agg(min(col("ts_us")).as("first_us"), max(col("ts_us")).as("last_us"))
    val bounds = users.agg(
      max(col("last_us")).as("end_us"),
      count(lit(1)).as("n_users"))
    val byDay = users
      .join(broadcast(bounds), lit(true))
      .select(
        expr(s"(last_us - first_us) div $DayUs").as("day"),
        when(col("last_us") > col("end_us") - lit(7L * DayUs), 1L)
          .otherwise(0L).as("cens"),
        col("n_users"))
      .groupBy(col("day"))
      .agg(
        first(col("n_users")).as("n_users"),
        count(lit(1)).as("n_total"),
        sum(lit(1L) - col("cens")).as("n_events"),
        sum(col("cens")).as("n_censored"))
    val wPrior = Window.orderBy(col("day"))
      .rowsBetween(Window.unboundedPreceding, -1)
    val wCum = Window.orderBy(col("day"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    byDay
      .withColumn("n_risk",
        col("n_users") - coalesce(sum(col("n_total")).over(wPrior), lit(0L)))
      .withColumn("factor",
        lit(1.0) - col("n_events").cast("double") / col("n_risk").cast("double"))
      .withColumn("zero_flag", when(col("factor") <= 0.0, 1L).otherwise(0L))
      .withColumn("lnf", when(col("factor") > 0.0, log(col("factor"))).otherwise(lit(0.0)))
      .withColumn("survival",
        when(sum(col("zero_flag")).over(wCum) > 0, lit(0.0))
          .otherwise(round(exp(sum(col("lnf")).over(wCum)), 6)))
      .select(col("day"), col("n_risk"), col("n_events"), col("n_censored"),
        col("survival"))
  }

  val evSurvivalSql: String =
    """WITH u AS (
      |  SELECT user_id, min(epoch_us(ts)) AS first_us, max(epoch_us(ts)) AS last_us
      |  FROM events GROUP BY user_id),
      |b AS (SELECT max(last_us) AS end_us, count(*) AS n_users FROM u),
      |d AS (
      |  SELECT (u.last_us - u.first_us) // 86400000000 AS day,
      |    CASE WHEN u.last_us > b.end_us - 7 * 86400000000 THEN 1 ELSE 0 END AS cens,
      |    b.n_users
      |  FROM u, b),
      |g AS (
      |  SELECT day, any_value(n_users) AS n_users, count(*) AS n_total,
      |    CAST(sum(1 - cens) AS BIGINT) AS n_events,
      |    CAST(sum(cens) AS BIGINT) AS n_censored
      |  FROM d GROUP BY day),
      |r AS (
      |  SELECT *, n_users - COALESCE(sum(n_total) OVER
      |      (ORDER BY day ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
      |      AS n_risk
      |  FROM g),
      |f AS (
      |  SELECT *,
      |    1.0 - CAST(n_events AS DOUBLE) / CAST(n_risk AS DOUBLE) AS factor
      |  FROM r),
      |z AS (
      |  SELECT *,
      |    CASE WHEN factor <= 0.0 THEN 1 ELSE 0 END AS zero_flag,
      |    CASE WHEN factor > 0.0 THEN ln(factor) ELSE 0.0 END AS lnf
      |  FROM f)
      |SELECT day, CAST(n_risk AS BIGINT) AS n_risk, n_events, n_censored,
      |  CASE WHEN sum(zero_flag) OVER w > 0 THEN 0.0
      |       ELSE round(exp(sum(lnf) OVER w), 6) END AS survival
      |FROM z
      |WINDOW w AS (ORDER BY day ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)""".stripMargin

  /** Uplift-modeling readout (Radcliffe 2007's Qini curve): per
    * targeting-score band, treated-vs-control conversion uplift and the
    * cumulative Qini statistic — the panel an uplift deployment reads to
    * decide WHOM to treat (top-score bands with positive uplift) rather
    * than whether treatment works on average ([[evAbStats]]).
    *
    * Design mirrors the repo's experiment conventions: treatment =
    * `user_id % 2` ([[evAbStats]]), targeting score = PRE-period activity
    * (event count before the [[evAbCuped]] cut, so the score is
    * leakage-free), response = any post-cut purchase. Bands are the raw
    * integer scores — no global ntile window; the banded frame is
    * ≤ max-score rows at ANY corpus size, so the cumulative (Qini)
    * window costs nothing. Scale shape: one user-keyed slim aggregate
    * (the corpus-sized pass), one tiny score-keyed aggregate, one
    * bounded window. All counts are exact BIGINTs; the two divisions are
    * shared IEEE finalization on round-6 grids.
    */
  def evUplift(spark: SparkSession, sfDir: String): DataFrame = {
    val cutUs = 1705363200000000L // the evAbCuped pre/post boundary
    val u = Tables.events(spark, sfDir)
      .select(col("user_id"),
        (col("user_id") % 2).cast(IntegerType).as("treat"),
        expr(s"IF(ts div 1000 < ${cutUs}L, 1L, 0L)").as("pre"),
        expr(s"IF(ts div 1000 >= ${cutUs}L AND event_type = 'purchase', 1L, 0L)")
          .as("cv"))
      .groupBy(col("user_id"), col("treat"))
      .agg(sum(col("pre")).as("score"), max(col("cv")).as("resp"))
    val g = u.groupBy(col("score")).agg(
      sum(when(col("treat") === 1, 1L).otherwise(0L)).as("n_t"),
      sum(when(col("treat") === 0, 1L).otherwise(0L)).as("n_c"),
      sum(when(col("treat") === 1, col("resp")).otherwise(0L)).as("conv_t"),
      sum(when(col("treat") === 0, col("resp")).otherwise(0L)).as("conv_c"))
    val w = Window.orderBy(col("score").desc)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    g.withColumn("cum_nt", sum(col("n_t")).over(w))
      .withColumn("cum_nc", sum(col("n_c")).over(w))
      .withColumn("cum_ct", sum(col("conv_t")).over(w))
      .withColumn("cum_cc", sum(col("conv_c")).over(w))
      .filter(col("n_t") > 0 && col("n_c") > 0)
      .select(col("score"), col("n_t"), col("n_c"), col("conv_t"), col("conv_c"),
        expr(
          """round(CAST(conv_t AS DOUBLE) / CAST(n_t AS DOUBLE)
            |  - CAST(conv_c AS DOUBLE) / CAST(n_c AS DOUBLE), 6)""".stripMargin)
          .as("uplift"),
        expr(
          """round(CAST(cum_ct AS DOUBLE) - IF(cum_nc > 0,
            |  CAST(cum_cc AS DOUBLE) * CAST(cum_nt AS DOUBLE)
            |    / CAST(cum_nc AS DOUBLE), 0.0D), 6)""".stripMargin)
          .as("qini"))
  }

  val evUpliftSql: String =
    """WITH e AS (
      |  SELECT user_id, CAST(user_id % 2 AS INT) AS treat,
      |    CASE WHEN epoch_us(ts) < 1705363200000000 THEN 1 ELSE 0 END AS pre,
      |    CASE WHEN epoch_us(ts) >= 1705363200000000
      |         AND event_type = 'purchase' THEN 1 ELSE 0 END AS cv
      |  FROM events),
      |u AS (
      |  SELECT user_id, treat, CAST(sum(pre) AS BIGINT) AS score,
      |    CAST(max(cv) AS BIGINT) AS resp
      |  FROM e GROUP BY 1, 2),
      |g AS (
      |  SELECT score,
      |    CAST(sum(CASE WHEN treat = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_t,
      |    CAST(sum(CASE WHEN treat = 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_c,
      |    CAST(sum(CASE WHEN treat = 1 THEN resp ELSE 0 END) AS BIGINT) AS conv_t,
      |    CAST(sum(CASE WHEN treat = 0 THEN resp ELSE 0 END) AS BIGINT) AS conv_c
      |  FROM u GROUP BY score),
      |c AS (
      |  SELECT *,
      |    CAST(sum(n_t) OVER w AS BIGINT) AS cum_nt,
      |    CAST(sum(n_c) OVER w AS BIGINT) AS cum_nc,
      |    CAST(sum(conv_t) OVER w AS BIGINT) AS cum_ct,
      |    CAST(sum(conv_c) OVER w AS BIGINT) AS cum_cc
      |  FROM g
      |  WINDOW w AS (ORDER BY score DESC ROWS BETWEEN UNBOUNDED PRECEDING
      |               AND CURRENT ROW))
      |SELECT score, n_t, n_c, conv_t, conv_c,
      |  round(CAST(conv_t AS DOUBLE) / CAST(n_t AS DOUBLE)
      |    - CAST(conv_c AS DOUBLE) / CAST(n_c AS DOUBLE), 6) AS uplift,
      |  round(CAST(cum_ct AS DOUBLE) - CASE WHEN cum_nc > 0 THEN
      |    CAST(cum_cc AS DOUBLE) * CAST(cum_nt AS DOUBLE)
      |      / CAST(cum_nc AS DOUBLE) ELSE 0.0 END, 6) AS qini
      |FROM c
      |WHERE n_t > 0 AND n_c > 0""".stripMargin

  val evCepSql: String =
    """WITH e AS (
      |  SELECT user_id, event_id, event_type, epoch_us(ts) AS us FROM events),
      |r AS (
      |  SELECT *, row_number() OVER (PARTITION BY user_id ORDER BY us, event_id) AS rn
      |  FROM e),
      |a AS (
      |  SELECT *, last_value(CASE WHEN event_type <> 'click' THEN
      |      struct_pack(us := us, event_id := event_id,
      |                  event_type := event_type, rn := rn) END IGNORE NULLS)
      |    OVER (PARTITION BY user_id ORDER BY us, event_id
      |          ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS anchor
      |  FROM r)
      |SELECT user_id, event_id AS purchase_id, anchor.event_id AS view_id,
      |  anchor.us AS start_us, us AS end_us, us - anchor.us AS duration_us,
      |  CAST(rn - anchor.rn - 1 AS BIGINT) AS n_clicks
      |FROM a
      |WHERE event_type = 'purchase' AND anchor.event_type = 'view'""".stripMargin
}
