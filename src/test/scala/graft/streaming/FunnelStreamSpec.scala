package graft.streaming

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import graft.SparkSpec
import graft.operators.EventOps

/** Streaming funnel (StatefulProcessor) must reproduce the batch
  * `funnelStages` result when events arrive in event-time order across
  * batches (in-batch disorder is repaired by the per-batch sort).
  */
class FunnelStreamSpec extends SparkSpec {

  private val sf = "/root/testdata/sf0.001"
  private val stages = Seq("view", "click", "purchase")

  test("streaming funnel == batch ev_funnel on the same events, fed across 3 batches") {
    val s = spark
    import s.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    withRocksDB {
      // the real events table, globally event-time ordered so cross-batch
      // arrival matches event-time order per user
      val evs = graft.Tables.events(spark, sf)
        .filter($"event_type".isin(stages: _*))
        .selectExpr("user_id", "ts div 1000 AS ts_us", "event_type")
        .orderBy($"ts_us", $"event_type")
        .as[FunnelEvent].collect()
      assert(evs.length > 100)

      val input = MemoryStream[FunnelEvent]
      val out = FunnelStream.funnel(input.toDS(), stages)
      val qn = s"funnel_${System.nanoTime()}"
      val q = out.writeStream.format("memory").queryName(qn).outputMode("append").start()
      try {
        evs.grouped(math.max(1, evs.length / 3 + 1)).foreach { chunk =>
          input.addData(chunk.toSeq)
          q.processAllAvailable()
        }
        // updates are monotone (set-stage count strictly grows) → the
        // per-user row with the most set stages is the final funnel row
        val streamed = spark.table(qn).as[FunnelUpdate].collect()
          .groupBy(_.user_id)
          .map { case (u, ups) => u -> ups.maxBy(_.times.count(_ >= 0)).times }
        val batch = EventOps.evFunnel(spark, sf).collect().map { r =>
          r.getLong(0) -> Array(
            r.getLong(1),
            if (r.isNullAt(2)) -1L else r.getLong(2),
            if (r.isNullAt(3)) -1L else r.getLong(3))
        }.toMap
        assert(streamed.keySet == batch.keySet,
          s"user sets differ: ${streamed.keySet.diff(batch.keySet).take(5)} / ${batch.keySet.diff(streamed.keySet).take(5)}")
        streamed.foreach { case (u, ts) =>
          assert(ts.sameElements(batch(u)), s"user $u: streaming ${ts.toSeq} vs batch ${batch(u).toSeq}")
        }
      } finally q.stop()
    }
  }

  test("cross-batch state: a stage completed in batch 1 gates batch 2's events") {
    val s = spark
    import s.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    withRocksDB {
      val input = MemoryStream[FunnelEvent]
      val out = FunnelStream.funnel(input.toDS(), stages)
      val qn = s"funnel2_${System.nanoTime()}"
      val q = out.writeStream.format("memory").queryName(qn).outputMode("append").start()
      try {
        // batch 1: view@10, and a click@5 that must NOT qualify (precedes the view)
        input.addData(Seq(FunnelEvent(1, 5, "click"), FunnelEvent(1, 10, "view")))
        q.processAllAvailable()
        // batch 2: click@20 qualifies against the REMEMBERED view@10;
        // purchase@15 must not (precedes the click being set this very batch? no:
        // 15 < 20 fails ts > t1 only after sort — purchase sorts before click)
        input.addData(Seq(FunnelEvent(1, 20, "click"), FunnelEvent(1, 15, "purchase")))
        q.processAllAvailable()
        // batch 3: purchase@30 completes the funnel
        input.addData(Seq(FunnelEvent(1, 30, "purchase")))
        q.processAllAvailable()
        val ups = spark.table(qn).as[FunnelUpdate].collect()
          .filter(_.user_id == 1).map(_.times.toSeq)
        assert(ups.contains(Seq(10L, -1L, -1L)), s"batch-1 update missing: $ups")
        assert(ups.contains(Seq(10L, 20L, -1L)), s"batch-2 update missing: $ups")
        assert(ups.contains(Seq(10L, 20L, 30L)), s"batch-3 completion missing: $ups")
      } finally q.stop()
    }
  }
}
