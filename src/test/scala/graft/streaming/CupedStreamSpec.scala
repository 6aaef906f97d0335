package graft.streaming

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import graft.SparkSpec
import graft.operators.EventOps

/** Streaming CUPED: the per-user MapState + incremental moment deltas
  * must make the final Update-mode row per metric equal the batch
  * `ev_ab_cuped` on the same data BIT FOR BIT — any arrival order, any
  * batch boundaries — because every moment is an exact integer and the
  * finalization mirrors the batch expressions.
  */
class CupedStreamSpec extends SparkSpec {

  private val CutNs = 1705363200000000L * 1000L // 2024-01-16 UTC, epoch nanos

  private val rnd = new scala.util.Random(11)
  private val events: Seq[CupedEvent] = (1L to 900L).map { i =>
    val et = Seq("view", "click", "purchase")((i % 3).toInt)
    CupedEvent(et, i % 83, math.floor(rnd.nextDouble() * 10000) / 100.0,
      pre = rnd.nextBoolean())
  }

  test("final streamed readout == batch ev_ab_cuped, bit for bit, across 6 batches") {
    val s = spark
    import s.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    withRocksDB {
      // the same observations as an events-shaped frame (ts nanos around
      // the batch operator's pre/post cutoff)
      val asEvents = events.map { e =>
        (e.event_type, e.user_id,
          if (e.pre) CutNs - 1000000L else CutNs + 1000000L, e.value)
      }.toDF("event_type", "user_id", "ts", "value")
      val batch = EventOps.evAbCupedOf(asEvents).collect().map { r =>
        r.getString(0) -> (r.getLong(1), r.getLong(2), r.getDouble(3),
          r.getDouble(4), r.getDouble(5), r.getDouble(6), r.getDouble(7))
      }.toMap
      assert(batch.size == 3)

      val input = MemoryStream[CupedEvent]
      val qn = s"cuped_${System.nanoTime()}"
      val q = CupedStream.readouts(input.toDS())
        .writeStream.format("memory").queryName(qn).outputMode("update").start()
      try {
        rnd.shuffle(events).grouped(150).foreach { b =>
          input.addData(b); q.processAllAvailable()
        }
        val got = spark.table(qn).as[CupedReadout].collect()
          .zipWithIndex.groupBy(_._1.event_type)
          .map { case (k, rows) => k -> rows.maxBy(_._2)._1 }
        assert(got.keySet == batch.keySet)
        got.foreach { case (k, r) =>
          val (na, nb, theta, aAdj, bAdj, t, vr) = batch(k)
          assert((r.n_a, r.n_b) == ((na, nb)), s"$k counts")
          assert(r.theta == theta, s"$k theta must be bit-identical")
          assert(r.mean_a_adj == aAdj && r.mean_b_adj == bAdj,
            s"$k adjusted means must be bit-identical")
          assert(r.t_cuped == t && r.var_red == vr,
            s"$k stats must be bit-identical: got $r")
        }
      } finally q.stop()
    }
  }

  test("checkpoint restart: MapState covariates and moments survive a new query") {
    val s = spark
    import s.implicits._
    withRocksDB {
      val base = java.nio.file.Files.createTempDirectory("graft_cuped_ckpt").toString
      val (src, ckpt, out) = (s"$base/src", s"$base/ckpt", s"$base/out")
      val schema = "event_type STRING, user_id BIGINT, value DOUBLE, pre BOOLEAN"
      def startQuery() = // memory sink can't recover in Update mode;
        // foreachBatch + parquet is the recoverable readout sink
        CupedStream.readouts(
            spark.readStream.schema(schema).parquet(src).as[CupedEvent])
          .writeStream
          .foreachBatch { (df: org.apache.spark.sql.Dataset[CupedReadout], id: Long) =>
            df.toDF().withColumn("batch_id", org.apache.spark.sql.functions.lit(id))
              .write.mode("append").parquet(out): Unit
          }
          .option("checkpointLocation", ckpt).outputMode("update").start()

      val (half1, half2) = rnd.shuffle(events).splitAt(events.length / 2)
      half1.toDF("event_type", "user_id", "value", "pre").write.parquet(src)
      val q1 = startQuery()
      q1.processAllAvailable(); q1.stop()

      // restart with the remaining data: the restored per-user map must
      // REPLACE (not re-add) contributions, so the final row equals the
      // all-data batch operator bit for bit
      half2.toDF("event_type", "user_id", "value", "pre")
        .write.mode("append").parquet(src)
      val q2 = startQuery()
      try {
        q2.processAllAvailable()
        val asEvents = events.map { e =>
          (e.event_type, e.user_id,
            if (e.pre) CutNs - 1000000L else CutNs + 1000000L, e.value)
        }.toDF("event_type", "user_id", "ts", "value")
        val batch = EventOps.evAbCupedOf(asEvents).collect()
          .map(r => r.getString(0) -> (r.getLong(1), r.getLong(2), r.getDouble(6)))
          .toMap
        val got = spark.read.parquet(out).collect()
          .map(r => (r.getString(0), r.getLong(1), r.getLong(2),
            r.getDouble(6), r.getLong(8)))
          .groupBy(_._1)
          .map { case (k, rows) => k -> rows.maxBy(_._5) }
        batch.foreach { case (k, (na, nb, t)) =>
          val (_, gna, gnb, gt, _) = got(k)
          assert((gna, gnb) == ((na, nb)), s"$k: state lost across restart")
          assert(gt == t, s"$k: t diverged after restart: $gt vs $t")
        }
      } finally q2.stop()
    }
  }

  test("re-observing a user replaces (not double-counts) their contribution") {
    val s = spark
    import s.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    withRocksDB {
      // users 0..5 each observed twice in SEPARATE batches; n_a/n_b must
      // count each user once and the moments must reflect summed values
      val obs = (0L to 5L).map(u => CupedEvent("m", u, 10.0 + u, pre = false))
      val xs = Seq(2.0, 5.0, 3.0, 1.0, 4.0, 2.5) // non-collinear with y
      val obs2 = (0L to 5L).map(u => CupedEvent("m", u, xs(u.toInt), pre = true))
      val input = MemoryStream[CupedEvent]
      val qn = s"cuped2_${System.nanoTime()}"
      val q = CupedStream.readouts(input.toDS())
        .writeStream.format("memory").queryName(qn).outputMode("update").start()
      try {
        input.addData(obs); q.processAllAvailable()
        input.addData(obs2); q.processAllAvailable()
        val last = spark.table(qn).as[CupedReadout].collect().last
        assert(last.n_a == 3 && last.n_b == 3,
          s"each user counted once: $last")
      } finally q.stop()
    }
  }
}
