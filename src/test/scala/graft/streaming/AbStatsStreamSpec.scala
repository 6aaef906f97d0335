package graft.streaming

import org.apache.spark.sql.{Dataset, Encoder, Row}
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

  test("negative odd ids fall in neither arm in all three monitors, as in the batch") {
    // user_id % 2 is -1 for users -3 and -5: the batch twins and their
    // DuckDB oracles count those users in neither arm
    val s = spark
    import s.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val r = new scala.util.Random(17)
    val obs = for (u <- (0L until 40L) ++ Seq(-3L, -5L); i <- 0 until 4)
      yield (u, math.floor(r.nextDouble() * 10000) / 100.0, i % 2 == 0)
    def lastRow[I: Encoder](data: Seq[I], readouts: Dataset[I] => Dataset[_]): Row = {
      val input = MemoryStream[I]
      val qn = s"neg_${System.nanoTime()}"
      val q = readouts(input.toDS())
        .writeStream.format("memory").queryName(qn).outputMode("update").start()
      try {
        r.shuffle(data).grouped(60).foreach { b => input.addData(b); q.processAllAvailable() }
        spark.table(qn).collect().last
      } finally q.stop()
    }
    withRocksDB {
      val ab = obs.map { case (u, v, _) => AbEvent("m", u, v) }
      val stats = EventOps.evAbStatsOf(ab.toDF()).collect().toSeq
      assert(stats.map(x => (x.getLong(1), x.getLong(2))) == Seq((80L, 80L)))
      assert(Seq(lastRow(ab, AbStatsStream.readouts)) == stats)
      assert(Seq(lastRow(ab, SeqTestStream.readouts)) ==
        EventOps.evAbSeqOf(ab.toDF()).collect().toSeq)

      val cutNs = 1705363200000000L * 1000L // the batch pre/post cutoff
      val cuped = obs.map { case (u, v, pre) => CupedEvent("m", u, v, pre) }
      val batch = EventOps.evAbCupedOf(cuped.map(e =>
          (e.event_type, e.user_id, if (e.pre) cutNs - 1 else cutNs, e.value))
        .toDF("event_type", "user_id", "ts", "value")).collect().toSeq
      assert(batch.map(x => (x.getLong(1), x.getLong(2))) == Seq((20L, 20L)))
      assert(Seq(lastRow(cuped, CupedStream.readouts)) == batch)
    }
  }
}
