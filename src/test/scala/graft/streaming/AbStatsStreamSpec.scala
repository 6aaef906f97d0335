package graft.streaming

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import graft.SparkSpec
import graft.operators.EventOps

/** Streaming A/B readout: because the state is six exact integer moments,
  * the final Update-mode row per metric must equal the batch
  * `ev_ab_stats` on the same data BIT FOR BIT — any arrival order, any
  * batch boundaries.
  */
class AbStatsStreamSpec extends SparkSpec {

  private val rnd = new scala.util.Random(7)
  private val events: Seq[AbEvent] = (1L to 600L).map { i =>
    val et = Seq("view", "click", "purchase")((i % 3).toInt)
    AbEvent(et, i % 97, math.floor(rnd.nextDouble() * 10000) / 100.0)
  }

  test("final streamed readout == batch ev_ab_stats, bit for bit, across 5 batches") {
    val s = spark
    import s.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    withRocksDB {
      val batch = EventOps.evAbStatsOf(
          events.toDF("event_type", "user_id", "value"))
        .collect().map { r =>
          r.getString(0) -> (r.getLong(1), r.getLong(2), r.getDouble(3),
            r.getDouble(4), r.getDouble(5), r.getDouble(6), r.getDouble(7))
        }.toMap
      assert(batch.size == 3)

      val input = MemoryStream[AbEvent]
      val qn = s"ab_${System.nanoTime()}"
      val q = AbStatsStream.readouts(input.toDS())
        .writeStream.format("memory").queryName(qn).outputMode("update").start()
      try {
        // shuffled arrival: the integer moments make order irrelevant
        rnd.shuffle(events).grouped(120).foreach { b =>
          input.addData(b); q.processAllAvailable()
        }
        // Update mode: the memory sink keeps every batch's rows; the last
        // emitted row per key is the final state
        val got = spark.table(qn).as[AbReadout].collect()
          .zipWithIndex.groupBy(_._1.event_type)
          .map { case (k, rows) => k -> rows.maxBy(_._2)._1 }
        assert(got.keySet == batch.keySet)
        got.foreach { case (k, r) =>
          val (na, nb, ma, mb, t, df, chi2) = batch(k)
          assert((r.n_a, r.n_b) == ((na, nb)), s"$k counts")
          assert(r.mean_a == ma && r.mean_b == mb, s"$k means must be bit-identical")
          assert(r.t_stat == t && r.welch_df == df && r.srm_chi2 == chi2,
            s"$k stats must be bit-identical: got $r want ${batch(k)}")
        }
      } finally q.stop()
    }
  }

  test("milliQuantize mirrors Spark round(value*1000) incl. negatives") {
    val s = spark
    import s.implicits._
    val vals = Seq(1.2345, -1.2345, 0.0005, -0.0005, 2.5, -2.5, 99.999, -99.999, 0.0)
    val sparkSide = vals.toDF("v")
      .selectExpr("CAST(round(v * 1000) AS BIGINT)").as[Long].collect().toSeq
    assert(vals.map(AbStatsStream.milliQuantize) == sparkSide)
  }
}
