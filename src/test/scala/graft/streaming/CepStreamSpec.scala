package graft.streaming

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import graft.SparkSpec
import graft.operators.EventOps

/** The streaming CEP matcher must emit exactly the batch `ev_cep`
  * episode set when events arrive in event-time order across batches
  * (in-batch disorder is repaired by the per-batch sort).
  */
class CepStreamSpec extends SparkSpec {

  private val sf = "/root/testdata/sf0.001"

  test("streaming CEP == batch ev_cep on the same events, fed across 3 batches") {
    val s = spark
    import s.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    withRocksDB {
      val evs = graft.Tables.events(spark, sf)
        .selectExpr("user_id", "event_id", "ts div 1000 AS ts_us", "event_type")
        .orderBy($"ts_us", $"event_id")
        .as[CepEvent].collect()
      assert(evs.length > 100)

      val input = MemoryStream[CepEvent]
      val out = CepStream.cep(input.toDS())
      val qn = s"cep_${System.nanoTime()}"
      val q = out.writeStream.format("memory").queryName(qn).outputMode("append").start()
      try {
        evs.grouped(math.max(1, evs.length / 3 + 1)).foreach { chunk =>
          input.addData(chunk.toSeq)
          q.processAllAvailable()
        }
        val streamed = spark.table(qn).as[CepEpisode].collect().toSet
        val batch = EventOps.evCep(spark, sf).collect().map(r =>
          CepEpisode(r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3),
            r.getLong(4), r.getLong(5), r.getLong(6))).toSet
        assert(streamed == batch,
          s"stream/batch divergence: only-stream=${(streamed -- batch).take(3)}, " +
            s"only-batch=${(batch -- streamed).take(3)}")
        assert(batch.nonEmpty)
      } finally q.stop()
    }
  }

  test("cross-batch anchor: a view in batch 1 matches a purchase in batch 2; resets reset") {
    val s = spark
    import s.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    withRocksDB {
      val input = MemoryStream[CepEvent]
      val out = CepStream.cep(input.toDS())
      val qn = s"cep2_${System.nanoTime()}"
      val q = out.writeStream.format("memory").queryName(qn).outputMode("append").start()
      try {
        // batch 1: view@10 then two clicks — anchor survives the batch
        input.addData(Seq(CepEvent(1, 100, 10, "view"),
          CepEvent(1, 101, 20, "click"), CepEvent(1, 102, 30, "click")))
        q.processAllAvailable()
        // batch 2: purchase@40 matches (view_id 100, 2 clicks); the
        // purchase re-anchors, so purchase@50 does NOT match
        input.addData(Seq(CepEvent(1, 103, 40, "purchase"),
          CepEvent(1, 104, 50, "purchase")))
        q.processAllAvailable()
        // batch 3: error@60 resets; purchase@70 must not match either
        input.addData(Seq(CepEvent(1, 105, 60, "error"),
          CepEvent(1, 106, 70, "purchase")))
        q.processAllAvailable()
        val eps = spark.table(qn).as[CepEpisode].collect().toSeq
        assert(eps == Seq(CepEpisode(1, 103, 100, 10, 40, 30, 2)),
          s"unexpected episodes: $eps")
      } finally q.stop()
    }
  }
}
