package graft

import graft.operators.{Relational, StatsPlanner}

/** The schema-dynamic profiler: fixed output schema over any input,
  * exact null counts, sane sketch cardinalities, stringified min/max —
  * and the profiler→planner loop that CONSUMES table stats
  * (StatsPlanner): the join strategy must switch broadcast ↔ shuffle on
  * the profiled size, both directions plan-asserted.
  */
class ProfileSpec extends SparkSpec {

  test("profile reports one row per column with exact nulls and correct min/max") {
    val s = spark
    import s.implicits._
    val df = Seq(
      (1L, Some("a"), Some(1.5)),
      (2L, None, Some(-2.0)),
      (3L, Some("c"), None)
    ).toDF("id", "name", "v")
    val p = Relational.profile(df).collect()
      .map(r => r.getString(0) -> (r.getLong(1), r.getLong(2), r.getString(3), r.getString(4)))
      .toMap
    assert(p.keySet == Set("id", "name", "v"))
    assert(p("id") == (0L, 3L, "1", "3"))
    assert(p("name")._1 == 1L && p("name")._3 == "a" && p("name")._4 == "c")
    assert(p("v")._1 == 1L && p("v")._3 == "-2.0" && p("v")._4 == "1.5")
  }

  test("profile is a single job over the input (no per-column scans)") {
    val df = spark.range(0, 1000).selectExpr("id", "id % 7 AS k", "CAST(id AS STRING) AS s")
    val before = spark.sparkContext.statusTracker.getJobIdsForGroup(null).length
    val rows = Relational.profile(df).collect()
    val jobs = spark.sparkContext.statusTracker.getJobIdsForGroup(null).length - before
    assert(rows.length == 3)
    assert(jobs <= 2, s"profiler must not scan per column, ran $jobs jobs")
  }

  test("tableStats: rows exact, size estimate within 3x of actual bytes") {
    val s = spark
    import s.implicits._
    val dim = (0L until 500L).map(k => (k, "n" * 40)).toDF("k", "name")
    val st = StatsPlanner.tableStats(dim)
    assert(st.rows == 500L)
    // 8 B key + (40-char string + 8 B overhead) ≈ 56 B/row → 28 KB
    assert(st.sizeBytes > 500L * 40 && st.sizeBytes < 3L * 500 * 56,
      s"estimate ${st.sizeBytes} implausible for ~28 KB of data")
  }

  test("statsJoin switches broadcast <-> shuffle on the profiled size, plan-asserted both ways") {
    val s = spark
    import s.implicits._
    val fact = spark.range(0, 10000).selectExpr("id % 50 AS k", "id AS v")
    val dim = (0L until 50L).map(k => (k, s"name$k")).toDF("k", "label")
    val stats = StatsPlanner.tableStats(dim)

    // fits the budget → explicit broadcast
    val small = StatsPlanner.statsJoin(fact, dim, fact("k") === dim("k"), stats)
    val pSmall = small.queryExecution.executedPlan.toString
    assert(pSmall.contains("BroadcastHashJoin"),
      s"under-threshold dim must broadcast:\n${pSmall.take(2000)}")

    // forced 1-byte budget → the SAME profiled stats demote to a
    // shuffled hash join, overriding Spark's own file-size broadcast
    val big = StatsPlanner.statsJoin(fact, dim, fact("k") === dim("k"),
      stats, thresholdBytes = 1L)
    val pBig = big.queryExecution.executedPlan.toString
    assert(!pBig.contains("BroadcastHashJoin"),
      s"over-threshold dim must not broadcast:\n${pBig.take(2000)}")
    assert(pBig.contains("ShuffledHashJoin"),
      s"over-threshold dim should build a per-partition hash map:\n${pBig.take(2000)}")

    // strategy choice never changes the result
    val a = small.collect().map(_.toString).sorted
    val b = big.collect().map(_.toString).sorted
    assert(a.sameElements(b), "broadcast and shuffle forms must agree")
  }
}
