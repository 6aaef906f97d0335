package graft

import com.fasterxml.jackson.databind.ObjectMapper
import org.apache.spark.sql.functions._

/** The run-metrics listener counts exactly what one action ran, with no
  * wait after the action, and Bench's per-query record carries it.
  */
class RunMetricsSpec extends SparkSpec {

  test("RunMetrics: exact job/stage/task counts right after the action") {
    SparkSpec.restoring(spark, Seq("spark.sql.adaptive.enabled")) {
      spark.conf.set("spark.sql.adaptive.enabled", "false")
      // 4 map tasks -> one hash exchange into 3 partitions -> noop sink:
      // one job of two stages and 4 + 3 tasks
      val df = spark.range(0, 200000, 1, 4)
        .select(col("id"), sha2(col("id").cast("string"), 256).as("h"))
        .repartition(3, col("id") % 10)
      val m = RunMetrics.of(spark.sparkContext) {
        df.write.format("noop").mode("overwrite").save()
      }
      assert((m.jobs, m.stages, m.tasks) == ((1L, 2L, 7L)))
      assert(m.shufWrite > 0 && m.shufRead > 0,
        s"shuffle bytes: write ${m.shufWrite}, read ${m.shufRead}")
      assert(m.wallS > 0)
      assert(m.busyShare > 0 && m.busyShare <= 1, s"busy_share ${m.busyShare}")
      val top = m.topStages
      assert(top.size == 2 && top.map(_._3).sum == 7L, top)
      assert(top.map(_._4) == top.map(_._4).sorted.reverse, s"not by run ms: $top")
      assert(top.forall(_._2.nonEmpty), top)
    }
  }

  test("RunMetrics: every top stage of a broadcast join names its plan operation") {
    // the broadcast side runs on an exchange thread, so its stage's call
    // site names that pool's frame, not the plan
    val small = spark.range(0, 100000, 1, 2)
      .select((col("id") % 1000).as("k"), sha2(col("id").cast("string"), 256).as("h"))
    val big = spark.range(0, 400000, 1, 4).select((col("id") % 1000).as("k"))
    val m = RunMetrics.of(spark.sparkContext) {
      big.join(broadcast(small), "k").write.format("noop").mode("overwrite").save()
    }
    val top = new ObjectMapper().readTree(s"{${m.json}}").get("top_stages")
    assert(top.size >= 2, top)
    (0 until top.size).foreach { i =>
      assert(top.get(i).path("op").asText.nonEmpty, s"stage without op: $top")
    }
  }

  test("RunMetrics: no top stage of an AQE query is named after AdaptiveSparkPlan") {
    SparkSpec.restoring(spark, Seq("spark.sql.adaptive.enabled")) {
      spark.conf.set("spark.sql.adaptive.enabled", "true")
      // AQE materializes the cached frame in a stage whose last RDD it
      // creates itself
      val cached = spark.range(0, 200000, 1, 4)
        .select((col("id") % 97).as("k"),
          sha2(sha2(col("id").cast("string"), 512), 512).as("h"))
        .persist()
      try {
        val m = RunMetrics.of(spark.sparkContext) {
          cached.groupBy("k").count().write.format("noop").mode("overwrite").save()
        }
        val ops = m.topStages.map(_._5)
        assert(ops.size >= 2 && ops.forall(op => op.nonEmpty && op != "AdaptiveSparkPlan"),
          m.topStages)
      } finally cached.unpersist()
    }
  }

  test("RunMetrics: a stage that ends in a Dataset-to-RDD conversion names its plan operation") {
    SparkSpec.restoring(spark, Seq("spark.sql.adaptive.enabled")) {
      spark.conf.set("spark.sql.adaptive.enabled", "false")
      val df = spark.range(0, 50000, 1, 4).select(sha2(col("id").cast("string"), 256).as("h"))
      // `rdd` ends its stage in a `mapPartitions` RDD, `collect` in a
      // `mapPartitionsInternal` one, both created outside the plan
      val m = RunMetrics.of(spark.sparkContext) {
        df.rdd.count()
        df.collect()
      }
      val ops = m.topStages.map(_._5)
      assert(ops.size == 2 && ops.forall(op => op.nonEmpty && !op.startsWith("mapPartitions")),
        m.topStages)
    }
  }

  test("Bench record: run metrics of the median run and cold_s, add-only") {
    // a two-stage aggregate; Bench hands the query its corpus directory,
    // which this one does not read
    val s = Bench.measure(spark, "", fast = false, jitGate = false)((s, _) =>
      s.range(0, 200000, 1, 4).selectExpr("id % 7 AS k").groupBy("k").count())
    val rec = new ObjectMapper().readTree(Bench.record(s))
    val keys = Seq("min", "med", "max", "warmups", "gc_ms", "jit_ms", "cold_s",
      "jobs", "stages", "tasks", "executor_run_ms", "executor_cpu_ms",
      "executor_gc_ms", "shuffle_read_bytes", "shuffle_write_bytes",
      "fetch_wait_ms", "spill_bytes", "serde_ms", "shuffle_write_ms",
      "busy_share", "top_stages")
    assert(keys.forall(rec.has), s"missing ${keys.filterNot(rec.has)} in $rec")
    val run = s.run.getOrElse(fail("no run metrics"))
    assert(s.med == run.wallS && s.min <= s.med && s.med <= s.max)
    assert(s.coldS > 0 && s.warmups >= 2)
    assert(rec.get("jobs").asLong == run.jobs && run.jobs >= 1 && run.tasks >= run.stages)
    val top = rec.get("top_stages")
    assert(top.isArray && top.size >= 1 && top.size <= 3, top)
    assert(Seq("id", "name", "op", "tasks", "run_ms").forall(top.get(0).has), top)
  }
}
