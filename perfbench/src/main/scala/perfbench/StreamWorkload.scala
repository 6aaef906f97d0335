package perfbench

import java.util.concurrent.locks.LockSupport

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.sql.{Encoders, SparkSession}
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.streaming.{StreamingQuery, StreamingQueryProgress}

import graft.streaming.Pipelines

/** The T1 (level filter) and T2 (windowed dedup) workloads.
  *
  * One query runs the public pipeline over a `MemoryStream` with one
  * partition per core (a stand-in for a partitioned Kafka topic) into a
  * digesting sink. Phases, all on the same stream:
  *
  *  1. set-up, [[SetupReps]] times: session, query start, first batch;
  *  2. warm-up: closed-loop chunks for [[WarmS]] seconds (not reported);
  *  3. open loop: one generator thread offers records at a fixed rate on
  *     the default trigger; each record is timed from when its slot was
  *     due until its micro-batch commits;
  *  4. drain: closed-loop fixed-size chunks, each added and then processed
  *     to completion; throughput is the chunk size over the median chunk
  *     time.
  *
  * The sink's count and digest are then compared with the reference model
  * over the same regenerated input.
  */
final class StreamWorkload(a: Main.Args, res: Main.Result, t2: Boolean) {
  import StreamWorkload._

  private val rate: Double = if (t2) T2Rate else T1Rate
  private val chunk: Int = if (t2) T2Chunk else T1Chunk
  private val gen = new LogGen(a.seed, t2)
  private implicit val enc: org.apache.spark.sql.Encoder[Frame] = Encoders.product[Frame]

  private final class Running(val spark: SparkSession, val ms: MemoryStream[Frame],
                              val q: StreamingQuery, val cursor: gen.Cursor) {
    def feed(recs: Array[Rec]): Long =
      ms.addData(recs.iterator.map(_.frame).toSeq).asInstanceOf[
        org.apache.spark.sql.execution.streaming.runtime.LongOffset].offset
    def stop(): Unit = { q.stop(); spark.stop() }
  }

  private var ckptN = 0
  private def start(cores: Int): Running = {
    val spark = Main.session(a, cores, rocksDb = t2)
    val ms = MemoryStream[Frame](spark, cores)
    val df = ms.toDF()
    val out = if (t2) Pipelines.dedupPipeline(df) else Pipelines.filterPipeline(df)
    SinkDigest.reset()
    ckptN += 1
    val q = out.writeStream.foreach(new DigestWriter).outputMode("append")
      .option("checkpointLocation", a.work.resolve(s"ckpt-${ProcessHandle.current().pid()}-$ckptN").toString)
      .start()
    new Running(spark, ms, q, gen.cursor())
  }

  /** Set-up: session + Graft.init + query start + first batch committed. */
  private def setUp(reps: Int): Running = {
    val times = ArrayBuffer.empty[Double]
    var r: Running = null
    for (k <- 1 to reps) {
      if (r != null) r.stop()
      times += Main.timed {
        r = start(a.cores)
        r.feed(r.cursor.take(FirstBatch))
        r.q.processAllAvailable()
      }
    }
    res.metric("setup_s", Stats.median(times.toSeq), "s")
    res.info("setup_s_each") = times.toSeq
    r
  }

  /** Closed loop: add a chunk, wait until it is processed, repeat for
    * `seconds`; returns each chunk's seconds.
    */
  private def drain(r: Running, seconds: Double, size: Int,
                    around: Int => (() => Unit) => Unit = _ => f => f()): Seq[Double] = {
    val times = ArrayBuffer.empty[Double]
    val t0 = Main.now()
    while (Main.now() - t0 < seconds || times.isEmpty) {
      val recs = r.cursor.take(size)
      around(times.size) { () =>
        times += Main.timed { r.feed(recs); r.q.processAllAvailable() }
      }
    }
    times.toSeq
  }

  /** Open loop at `rate` records/s for `seconds`, one generator thread. */
  private def openLoop(r: Running, seconds: Double): Unit = {
    val sent = ArrayBuffer.empty[Sent]
    val lags = new Array[Double]((seconds * rate).toInt + 16)
    val firstIdx = r.cursor.taken
    val t0Ns = System.nanoTime()
    val t0Ms = System.currentTimeMillis().toDouble
    val maxBlock = math.max(1, (rate * 0.05).toInt)
    var total = 0L
    val thread = new Thread(() => {
      var done = false
      while (!done) {
        val el = (System.nanoTime() - t0Ns) / 1e9
        if (el >= seconds) done = true
        else {
          val due = math.min((el * rate).toLong + 1, lags.length.toLong)
          if (due > total) {
            val n = math.min(due - total, maxBlock.toLong).toInt
            val off = r.feed(r.cursor.take(n))
            val at = System.nanoTime()
            var j = 0
            while (j < n) {
              lags((total + j).toInt) = (at - t0Ns) / 1e6 - (total + j) / rate * 1000
              j += 1
            }
            sent += Sent(off, firstIdx + total, n)
            total += n
          } else {
            val wakeNs = t0Ns + (total / rate * 1e9).toLong
            LockSupport.parkNanos(math.max(0L, math.min(wakeNs - System.nanoTime(), 2000000L)))
          }
        }
      }
    }, "perfbench-generator")
    thread.start()
    thread.join()
    // backlog: offered records no committed batch had taken in by the end
    val lastEnd = Option(r.q.lastProgress).map(p => endOffset(p)).getOrElse(-1L)
    val backlog = sent.filter(_.offset > lastEnd).map(_.n.toLong).sum
    r.q.processAllAvailable()

    val progress = r.q.recentProgress.filter(p => p.numInputRows > 0)
    val lat = new Array[Double](total.toInt)
    val batchOfRec = new Array[Long](total.toInt)
    var filled = 0
    sent.foreach { s =>
      progress.find(p => startOffset(p) < s.offset && s.offset <= endOffset(p)).foreach { p =>
        val commitMs = java.time.Instant.parse(p.timestamp).toEpochMilli +
          p.durationMs.get("triggerExecution").longValue
        var j = 0
        while (j < s.n) {
          val i = s.first - firstIdx + j
          lat(filled) = commitMs - (t0Ms + i / rate * 1000)
          batchOfRec(filled) = p.batchId
          filled += 1; j += 1
        }
      }
    }
    val l = lat.take(filled)
    val p90 = Stats.quantile(l, 0.9)
    val batchesBeyond = l.indices.filter(i => l(i) > p90).map(batchOfRec(_)).distinct.size
    res.metric("latency.p50_ms", Stats.quantile(l, 0.5), "ms")
    res.metric("latency.p90_ms", p90, "ms")
    val lagP99 = Stats.quantile(lags.take(total.toInt), 0.99)
    res.info ++= Seq("offered_rate_rps" -> rate, "open_loop_s" -> seconds,
      "open_loop_records" -> total, "latency_samples" -> filled,
      "latency_batches" -> progress.count(p => endOffset(p) >= sent.head.offset),
      "latency_batches_beyond_p90" -> batchesBeyond,
      "gen.lag_ms_p99" -> lagP99, "gen.backlog_end" -> backlog)
    // the generator kept its schedule, so the stated rate was offered
    res.info("valid") = lagP99 <= MaxLagMs && filled == total
    // the p90 rests on at least ten batches
    res.info("tail_batches_ok") = batchesBeyond >= 10
  }

  def run(): Unit = {
    val tracer = if (a.trace) Some(new Tracer) else None
    val probe = new SparkProbe(tracer)
    val r = setUp(if (a.trace) 1 else SetupReps)
    drain(r, WarmS, chunk)
    val firstMeasured = Option(r.q.lastProgress).map(_.batchId).getOrElse(-1L)
    val t0 = Main.now()
    if (a.trace) r.spark.sparkContext.addSparkListener(probe)
    val openS = a.seconds * OpenShare
    openLoop(r, openS)
    if (a.trace) {
      org.apache.spark.ListenerDrain(r.spark.sparkContext)
      r.spark.sparkContext.removeSparkListener(probe)
    }
    // traced runs alternate chunks with and without the listener, which
    // gives the tracing overhead without a drift between the two halves
    val traced = (k: Int) => a.trace && k % 2 == 1
    val chunkS = drain(r, a.seconds - openS, chunk, around = k => f => {
      if (traced(k)) r.spark.sparkContext.addSparkListener(probe)
      f()
      if (traced(k)) {
        org.apache.spark.ListenerDrain(r.spark.sparkContext)
        r.spark.sparkContext.removeSparkListener(probe)
      }
    })
    val wall = Main.now() - t0
    // the median chunk, so one stall (a compaction, a GC) does not decide it
    res.metric("ops_per_s", chunk / Stats.median(chunkS), "1/s")
    res.info ++= Seq("drain_chunk" -> chunk, "drain_chunk_s" -> chunkS)
    val timedChunk = chunkS.zipWithIndex.map { case (t, k) => (traced(k), t) }
    val progress = r.q.recentProgress.filter(_.batchId > firstMeasured)
    r.q.stop()
    check(r.cursor.taken)
    res.attempted = r.cursor.taken
    if (a.trace) {
      probe.link()
      layerMetrics(progress, probe, tracer.get, wall, timedChunk)
      r.spark.stop()
      Micro.serde(a, res, gen)
      Micro.kernels(a, res)
      oneCore()
      val spans = a.work.resolve(s"spans-${a.workload}-${a.seed}.jsonl")
      tracer.get.write(spans)
      res.info ++= Seq("span_file" -> spans.toString, "span_self_ms" -> tracer.get.selfMsByName)
    } else r.spark.stop()
  }

  /** Output check against the reference model over the consumed prefix. */
  private def check(consumed: Long): Unit = {
    val got = SinkDigest.digest
    val c = gen.cursor()
    val it = Iterator.continually(c.take(LogGen.Block)).flatten.take(consumed.toInt)
    val (want, extra) =
      if (t2) { val o = LogGen.t2Model(it); (o.digest, Seq("id_records" -> o.idRecords,
        "suppressed" -> o.suppressed)) }
      else (LogGen.t1Model(it), Nil)
    val ok = got == want
    res.info ++= Seq("check_expected_count" -> want.count, "check_output_count" -> got.count,
      "check_digest_match" -> ok) ++ extra
    if (!ok) res.failed = math.max(1L, math.abs(want.count - got.count))
  }

  private def layerMetrics(progress: Seq[StreamingQueryProgress], probe: SparkProbe,
                           tracer: Tracer, wall: Double, chunks: Seq[(Boolean, Double)]): Unit = {
    val data = progress.filter(_.numInputRows > 0)
    def d(p: StreamingQueryProgress, k: String): Double =
      Option(p.durationMs.get(k)).map(_.doubleValue).getOrElse(0.0)
    def p50(f: StreamingQueryProgress => Double): Double = Stats.quantile(data.map(f).toArray, 0.5)
    Seq(
      ("streaming.batches", data.size.toDouble, "count"),
      ("streaming.records_per_batch_p50", p50(_.numInputRows.toDouble), "count"),
      ("streaming.batch_ms_p50", p50(d(_, "triggerExecution")), "ms"),
      ("streaming.add_batch_ms_p50", p50(d(_, "addBatch")), "ms"),
      ("streaming.fixed_ms_p50", p50(p => d(p, "triggerExecution") - d(p, "addBatch")), "ms"),
      ("streaming.query_planning_ms_p50", p50(d(_, "queryPlanning")), "ms"),
      ("streaming.wal_commit_ms_p50", p50(d(_, "walCommit")), "ms"),
      ("streaming.commit_offsets_ms_p50", p50(d(_, "commitOffsets")), "ms"),
    ).foreach { case (k, v, u) => res.metric(k, v, u) }

    val ops = progress.flatMap(_.stateOperators.headOption)
    def sum(f: org.apache.spark.sql.streaming.StateOperatorProgress => Long): Double =
      ops.map(f).sum.toDouble
    val lastOp = ops.lastOption
    val idRecords = res.info.get("id_records").map(_.asInstanceOf[Long]).getOrElse(0L)
    val suppressed = res.info.get("suppressed").map(_.asInstanceOf[Long]).getOrElse(0L)
    Seq(
      ("state.rows_total_end", lastOp.map(_.numRowsTotal.toDouble).getOrElse(0.0), "count"),
      ("state.rows_updated", sum(_.numRowsUpdated), "count"),
      ("state.rows_removed", sum(_.numRowsRemoved), "count"),
      ("state.rows_dropped_by_watermark", sum(_.numRowsDroppedByWatermark), "count"),
      ("state.memory_bytes_end", lastOp.map(_.memoryUsedBytes.toDouble).getOrElse(0.0), "bytes"),
      ("state.update_ms", sum(_.allUpdatesTimeMs), "ms"),
      ("state.remove_ms", sum(_.allRemovalsTimeMs), "ms"),
      ("state.commit_ms", sum(_.commitTimeMs), "ms"),
      ("state.suppressed_ratio", if (idRecords > 0) suppressed.toDouble / idRecords else 0.0, "ratio"),
    ).foreach { case (k, v, u) => res.metric(k, v, u) }

    probe.metrics(probe.total, wall, a.cores, "spark.").foreach { case (k, v, u) => res.metric(k, v, u) }
    BatchMix.Queries.foreach { q =>
      res.metric(s"query.$q.s", 0.0, "s"); res.metric(s"query.$q.jobs", 0.0, "count")
      res.metric(s"query.$q.busy_share", 0.0, "ratio")
    }

    // one trace per micro-batch: the trigger, its progress phases laid
    // out in execution order, and (from the listener) its jobs and stages
    progress.foreach { p =>
      val trace = s"batch-${p.batchId}"
      val s0 = java.time.Instant.parse(p.timestamp).toEpochMilli.toDouble
      val root = tracer.add(trace, 0, s"batch ${p.batchId}", s0, s0 + d(p, "triggerExecution"))
      var t = s0
      Seq("latestOffset", "walCommit", "getBatch", "queryPlanning", "addBatch", "commitOffsets")
        .foreach { k => val v = d(p, k); if (v > 0) { tracer.add(trace, root, k, t, t + v); t += v } }
    }
    val on = chunks.filter(_._1).map(_._2)
    val off = chunks.filterNot(_._1).map(_._2)
    val overhead = if (on.nonEmpty && off.nonEmpty)
      (Stats.median(on) / Stats.median(off) - 1) * 100 else 0.0
    res.metric("trace.overhead_pct", overhead, "%")
    res.metric("trace.spans", tracer.spans.size.toDouble, "count")
  }

  /** Single-threaded baseline: a fresh stream drained at local[1]. */
  private def oneCore(): Unit = {
    val r = start(1)
    r.feed(r.cursor.take(FirstBatch)); r.q.processAllAvailable()
    drain(r, 1.0, chunk / 4)
    res.metric("streaming.rps_1core",
      chunk / 4 / Stats.median(drain(r, OneCoreS, chunk / 4)), "1/s")
    r.stop()
  }
}

object StreamWorkload {
  /** One generator add: its stream offset, first record index and size. */
  private final case class Sent(offset: Long, first: Long, n: Int)

  /** Offered open-loop rates, about half of what a 4-core box drains. */
  val T1Rate = 40000.0
  val T2Rate = 3500.0
  val T1Chunk = 40000
  val T2Chunk = 8000
  val FirstBatch = 2000
  val SetupReps = 3
  val WarmS = 4.0
  val OpenShare = 0.6
  val OneCoreS = 3.0
  /** A generator this late at p99 was not offering the stated rate. */
  val MaxLagMs = 50.0

  private def parseOffset(s: String): Long =
    if (s == null || s == "null" || s.isEmpty) -1L else s.trim.toLong
  def startOffset(p: StreamingQueryProgress): Long = parseOffset(p.sources.head.startOffset)
  def endOffset(p: StreamingQueryProgress): Long = parseOffset(p.sources.head.endOffset)
}
