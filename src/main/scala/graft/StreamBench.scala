package graft

import java.sql.Timestamp
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import graft.streaming.Pipelines

/** Streaming throughput bench (BASELINE.md protocol): replay the `events`
  * table as Splunk-style JSON log frames through T1 (filter) and T2 (exact
  * dedup) and report records/s per pipeline, one JSON line.
  *
  * The reference processes one record at a time on one stream thread; here
  * each micro-batch is a vectorized, codegen'd job across local cores —
  * the comparison the "matches-or-beats single-node throughput" goal asks
  * for.
  */
object StreamBench {
  case class Frame(key: String, value: String, timestamp: Timestamp)

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val spark: SparkSession = DevSession(
      // skip watermark-only micro-batches: throughput runs don't need the
      // extra empty batch per trigger
      "spark.sql.streaming.noDataMicroBatches.enabled" -> "false",
      // keep every batch's progress: the RocksDB commit sums cover the run
      "spark.sql.streaming.numRecentProgressUpdates" -> "100000")
    Graft.init(spark)
    // the transformWithState pipelines (funnel, ab_seq monitor) need the
    // RocksDB provider; deliberate session-wide opt-in (see StateStores)
    graft.streaming.StateStores.useRocksDB(spark)
    import spark.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext

    // Materialize the events table as JSON LogEvent frames (driver-side
    // once; the bench measures the pipelines, not the generator).
    val frames: Array[Frame] = Tables.events(spark, sfDir)
      .select(
        col("event_id").cast("string").as("key"),
        to_json(struct(
          when(col("event_type") === "error",
            struct(concat(lit("E"), col("event_id") % 1000).as("exception_class"),
              lit("msg").as("exception_message"), lit("st").as("stacktrace")))
            .otherwise(lit(null)).as("exception"),
          lit(1).as("version"),
          concat(lit("host"), col("user_id")).as("source_host"),
          col("props").as("message"),
          lit("main").as("thread_name"),
          col("ts").cast("string").as("timestamp"),
          when(col("event_type") === "error", "ERROR").otherwise("INFO").as("level"),
          lit("app").as("logger_name"))).as("value"),
        timestamp_micros(expr("ts div 1000")).cast("timestamp").as("timestamp"))
      .as[Frame].collect()

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
    val t1 = runTyped("t1_filter", frames,
      (ds: org.apache.spark.sql.Dataset[Frame]) => Pipelines.filterPipeline(ds.toDF()),
      "append")
    val t2 = runTyped("t2_dedup", frames,
      (ds: org.apache.spark.sql.Dataset[Frame]) => Pipelines.dedupPipeline(ds.toDF()),
      "append")

    // Stateful extension ops on the same replay: n-stage funnel
    // (transformWithState) and global Misra-Gries heavy hitters over the
    // event stream — the throughput twins of ev_funnel and the topk sketch.
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
    // Always-valid experiment monitor: five metric keys, O(1) state each
    val abEvents = Tables.events(spark, sfDir)
      .selectExpr("event_type", "user_id", "value")
      .as[graft.streaming.AbEvent].collect()
    val abSeq = runTyped("ab_seq_monitor", abEvents,
      (ds: org.apache.spark.sql.Dataset[graft.streaming.AbEvent]) =>
        graft.streaming.SeqTestStream.readouts(ds).toDF(), "update")

    val qs = Seq(t1, t2, fun, topk, span, abSeq).map { case (n, rps, rows, p50, commit) =>
      val rocks = commitMetrics.zip(commit).map { case (k, v) => s""","$k":$v""" }.mkString
      s""""$n":{"records_per_sec":${rps.fold("null")(_.round.toString)},"out_rows":$rows,"batch_ms_p50":$p50$rocks}"""
    }.mkString("{", ",", "}")
    println(s"""{"metric":"stream_throughput","unit":"records/sec","pipelines":$qs,"n_records":${frames.length},"sf":"$sfDir"}""")
    spark.stop()
  }
}
