package graft.streaming

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import graft.SparkSpec
import graft.operators.EventOps

/** Streaming mSPRT monitor: exact integer moment state + the batch
  * finalization must make the final Update-mode row per metric equal
  * the batch `ev_ab_seq` on the same data bit for bit, under any
  * arrival order and batch boundaries.
  */
class SeqTestStreamSpec extends SparkSpec {

  private val rnd = new scala.util.Random(13)
  private val events: Seq[AbEvent] = (1L to 700L).map { i =>
    val et = Seq("view", "click", "purchase")((i % 3).toInt)
    AbEvent(et, i % 89, math.floor(rnd.nextDouble() * 10000) / 100.0)
  }

  test("final streamed mSPRT readout == batch ev_ab_seq, bit for bit") {
    val s = spark
    import s.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    withRocksDB {
      val batch = EventOps.evAbSeqOf(
          events.toDF("event_type", "user_id", "value"))
        .collect().map { r =>
          r.getString(0) -> (r.getLong(1), r.getLong(2), r.getDouble(3),
            r.getDouble(4), r.getDouble(5))
        }.toMap
      assert(batch.size == 3)

      val input = MemoryStream[AbEvent]
      val qn = s"seq_${System.nanoTime()}"
      val q = SeqTestStream.readouts(input.toDS())
        .writeStream.format("memory").queryName(qn).outputMode("update").start()
      try {
        rnd.shuffle(events).grouped(100).foreach { b =>
          input.addData(b); q.processAllAvailable()
        }
        val got = spark.table(qn).as[SeqReadout].collect()
          .zipWithIndex.groupBy(_._1.event_type)
          .map { case (k, rows) => k -> rows.maxBy(_._2)._1 }
        assert(got.keySet == batch.keySet)
        got.foreach { case (k, r) =>
          val (na, nb, diff, lam, p) = batch(k)
          assert((r.n_a, r.n_b) == ((na, nb)), s"$k counts")
          assert(r.diff == diff && r.lambda == lam && r.p_seq == p,
            s"$k must be bit-identical: got $r want ${batch(k)}")
        }
      } finally q.stop()
    }
  }

  test("overflowed likelihood ratio emits Infinity/0, never throws") {
    // a persistent strong effect with one milli of spread per arm: diff
    // = 9000 milli against se2 ≈ 0.005, so the LR exponent (≈ 8e9)
    // overflows exp to +Infinity — the monitor must emit the batch row
    // (lambda=Infinity, p_seq=0), not fail the query
    val s = spark
    import s.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    withRocksDB {
      val strong = (0L until 200L).map { u =>
        AbEvent("m", u, (if (u % 2 == 0) 10.0 else 1.0) + (if (u % 4 < 2) 0.0 else 0.001))
      }
      val input = MemoryStream[AbEvent]
      val qn = s"seq_inf_${System.nanoTime()}"
      val q = SeqTestStream.readouts(input.toDS())
        .writeStream.format("memory").queryName(qn).outputMode("update").start()
      try {
        strong.grouped(100).foreach { b => input.addData(b); q.processAllAvailable() }
        val r = spark.table(qn).as[SeqReadout].collect().last
        assert(r.lambda.isPosInfinity, s"want Infinity, got $r")
        assert(r.p_seq == 0.0, s"want p_seq 0, got $r")
        assert(r.diff == 9.0, s"want a finite diff of 9, got $r")
        assert(EventOps.evAbSeqOf(strong.toDF()).as[SeqReadout].collect().toSeq == Seq(r))
      } finally q.stop()
    }
  }

  test("p_seq only tightens as evidence accumulates on a drifting metric") {
    // a metric with a real effect: arm A pays 2x arm B — the always-valid
    // p after MORE data must not be larger than after a prefix when the
    // effect is persistent and strong (sanity, not a theorem: mSPRT's
    // martingale guarantees validity, and on a strong persistent effect
    // the LR grows)
    val s = spark
    import s.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    withRocksDB {
      val eff = (1L to 400L).map { i =>
        val u = i % 61
        AbEvent("m", u, if (u % 2 == 0) 20.0 + (i % 7) else 10.0 + (i % 7))
      }
      val input = MemoryStream[AbEvent]
      val qn = s"seq2_${System.nanoTime()}"
      val q = SeqTestStream.readouts(input.toDS())
        .writeStream.format("memory").queryName(qn).outputMode("update").start()
      try {
        eff.grouped(100).foreach { b => input.addData(b); q.processAllAvailable() }
        val ps = spark.table(qn).as[SeqReadout].collect().map(_.p_seq)
        assert(ps.nonEmpty && ps.last <= ps.head + 1e-9,
          s"p_seq failed to tighten under a persistent strong effect: ${ps.toSeq}")
        assert(ps.last < 0.05, s"strong effect should reach significance: ${ps.toSeq}")
      } finally q.stop()
    }
  }
}
