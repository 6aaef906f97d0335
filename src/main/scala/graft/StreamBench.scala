package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream

/** Throughput bench of the stateful extension pipelines (BASELINE.md
  * protocol): replay the `events` and `documents` tables through the
  * streaming funnel, Misra-Gries top-k, span dedup and the always-valid
  * experiment monitor, and report records/s, median batch latency and
  * the RocksDB commit timings per pipeline, one JSON line.
  *
  * The reference topologies T1 (filter) and T2 (dedup) are measured by
  * the benchmark (`perfbench/`: `t1_filter`, `t2_dedup`), whose runs
  * check every output against the reference model.
  */
object StreamBench {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val spark: SparkSession = DevSession(
      // keep every batch's progress: the RocksDB commit sums cover the run
      "spark.sql.streaming.numRecentProgressUpdates" -> "100000")
    Graft.init(spark)
    // the transformWithState funnel needs the RocksDB provider, and the
    // ab_seq monitor's streaming aggregation runs on it too; deliberate
    // session-wide opt-in (see StateStores)
    graft.streaming.StateStores.useRocksDB(spark)
    import spark.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext

    // the commit's own RocksDB timings, summed over every batch and state
    // operator of a run, so a commit regression explains itself
    val commitMetrics = Seq("rocksdbCommitFileSyncLatencyMs",
      "rocksdbChangeLogWriterCommitLatencyMs", "rocksdbSaveZipFilesLatencyMs")
    def runTyped[T: org.apache.spark.sql.Encoder](
        name: String, data: Array[T],
        pipeline: org.apache.spark.sql.Dataset[T] => DataFrame,
        mode: String): (String, Option[Double], Long, Long, Seq[Long]) = {
      val input = MemoryStream[T]
      val qn = s"sb_$name"
      val q = pipeline(input.toDS()).writeStream.format("memory")
        .queryName(qn).outputMode(mode).start()
      // warm-up batch
      input.addData(data.take(1000).toSeq); q.processAllAvailable()
      val t0 = System.nanoTime()
      data.drop(1000).grouped(49500).foreach { chunk =>
        input.addData(chunk.toSeq); q.processAllAvailable()
      }
      val secs = (System.nanoTime() - t0) / 1e9
      val outRows = spark.table(qn).count()
      // end-to-end micro-batch latency (BASELINE.md protocol): median
      // triggerExecution over the data-carrying batches
      // durationMs may lack the key for some batch types — Option() out
      // the null before unboxing (an unconditional .toLong would NPE)
      val lat = q.recentProgress.toSeq.filter(_.numInputRows > 0)
        .flatMap(p => Option(p.durationMs.get("triggerExecution")).map(_.toLong))
        .sorted
      val p50 = if (lat.isEmpty) -1L else lat(lat.size / 2)
      val ops = q.recentProgress.toSeq.flatMap(_.stateOperators)
      val commit = commitMetrics.map(k =>
        ops.flatMap(o => Option(o.customMetrics.get(k)).map(_.toLong)).sum)
      q.stop()
      // no rate when the warm-up batch took every record
      (name, Option(data.length - 1000).filter(_ > 0).map(_ / secs), outRows, p50, commit)
    }
    // n-stage funnel (transformWithState) and global Misra-Gries heavy
    // hitters over the event stream — the throughput twins of ev_funnel
    // and the topk sketch.
    val events = Tables.events(spark, sfDir)
      .selectExpr("user_id", "ts div 1000 AS ts_us", "event_type")
      .as[graft.streaming.FunnelEvent].collect()
    val fun = runTyped("funnel", events,
      (ds: org.apache.spark.sql.Dataset[graft.streaming.FunnelEvent]) =>
        graft.streaming.FunnelStream.funnel(ds,
          Seq("view", "click", "purchase")).toDF(), "append")
    val topk = runTyped("topk_mg", events.map(_.event_type),
      (ds: org.apache.spark.sql.Dataset[String]) =>
        graft.streaming.TopKStream.topk(ds, 64), "complete")
    // Span dedup replays the documents table; a "record" here is a DOC
    // (each fans out to ~n_tokens windows inside the pipeline)
    val docs = Tables.documents(spark, sfDir)
      .select("doc_id", "text").as[(Long, String)].collect()
    val span = runTyped("span_dedup", docs,
      (ds: org.apache.spark.sql.Dataset[(Long, String)]) =>
        graft.streaming.SpanDedupStream.spanDedupStream(
          ds.toDF("doc_id", "text")), "append")
    // Always-valid experiment monitor: the batch ev_ab_seq plan as a
    // streaming aggregation, five metric keys, six longs of state each
    val abEvents = Tables.events(spark, sfDir)
      .selectExpr("event_type", "user_id", "value")
      .as[graft.streaming.AbEvent].collect()
    val abSeq = runTyped("ab_seq_monitor", abEvents,
      (ds: org.apache.spark.sql.Dataset[graft.streaming.AbEvent]) =>
        graft.streaming.SeqTestStream.readouts(ds).toDF(), "update")

    val qs = Seq(fun, topk, span, abSeq).map { case (n, rps, rows, p50, commit) =>
      val rocks = commitMetrics.zip(commit).map { case (k, v) => s""","$k":$v""" }.mkString
      s""""$n":{"records_per_sec":${rps.fold("null")(_.round.toString)},"out_rows":$rows,"batch_ms_p50":$p50$rocks}"""
    }.mkString("{", ",", "}")
    println(s"""{"metric":"stream_throughput","unit":"records/sec","pipelines":$qs,"n_records":${events.length},"sf":"$sfDir"}""")
    spark.stop()
  }
}
