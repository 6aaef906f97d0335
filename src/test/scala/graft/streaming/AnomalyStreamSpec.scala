package graft.streaming

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import graft.SparkSpec

/** Streaming Welford anomaly flags must match the single-threaded online
  * model on the same arrival order, across batch boundaries.
  */
class AnomalyStreamSpec extends SparkSpec {

  test("streaming flags == online reference model, fed across 4 batches") {
    val s = spark
    import s.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    withRocksDB {
      val rnd = new scala.util.Random(11)
      // 3 users with ~N(10, 1) noise and planted 8-sigma spikes
      val events = (1L to 240L).map { i =>
        val u = i % 3
        val v = if (i % 40 == 0) 50.0 else 10.0 + rnd.nextGaussian()
        MetricEvent(u, i, v)
      }
      val expected = AnomalyStream
        .referenceFlags(events, k = 3.0, minPrior = 10)
        .map(f => (f.user_id, f.event_id)).toSet
      assert(expected.nonEmpty, "test must plant detectable spikes")

      val input = MemoryStream[MetricEvent]
      val qn = s"anom_${System.nanoTime()}"
      val q = AnomalyStream.flags(input.toDS(), k = 3.0, minPrior = 10)
        .writeStream.format("memory").queryName(qn).outputMode("append").start()
      try {
        events.grouped(60).foreach { b => input.addData(b); q.processAllAvailable() }
        val got = spark.table(qn).as[AnomalyFlag].collect()
          .map(f => (f.user_id, f.event_id)).toSet
        assert(got == expected,
          s"missing=${expected -- got} extra=${got -- expected}")
      } finally q.stop()
    }
  }
}
