package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Streaming state-at-scale bench: the dedup operator's RocksDB state
  * path under a key population two orders of magnitude beyond what the
  * sf0.1 throughput bench exercises (StreamBench replays ~10⁵ distinct
  * ids; 100 TB streaming is STATE-bound, not record-bound).
  *
  * Protocol: N distinct exception ids (default 10⁷) stream through
  * [[graft.streaming.Pipelines.dedupPipeline]] — the T2
  * `flatMapGroupsWithState` window store with an event-time retention
  * timeout — as Kafka-shaped frames (`key`, JSON `value`, `timestamp`)
  * from a parquet file source at one file per micro-batch (the
  * recoverable-source pattern from CupedStreamSpec), all event times
  * inside one retention window so every key stays LIVE. Recorded per
  * batch from StreamingQueryProgress: trigger wall time, state rows,
  * update/commit times, state memory, and the RocksDB SST footprint;
  * then the query STOPS and a fresh query restarts from the checkpoint —
  * the restore figure is the wall time to load 10⁷-key RocksDB state and
  * process one more batch. Output: ONE JSON line.
  *
  * Field semantics (every duration from StreamingQueryProgress):
  * `batch_ms_*` = triggerExecution WALL time per micro-batch;
  * `update_ms_p50`/`commit_ms_p50` = the state operator's
  * allUpdatesTimeMs/commitTimeMs, which Spark SUMS ACROSS the 32 state
  * partitions of a batch — cumulative task time, so they legitimately
  * exceed the batch's wall time; `restore_state_rows` counts state AFTER
  * the restore batch ran, i.e. the restored keys PLUS the one extra
  * batch of new keys the restore processes (keys/batches more than
  * `state_rows_final`); `rows_removed_total` = numRowsRemoved summed
  * over all batches (eviction work actually performed).
  *
  * Env: SPARK_GRAFT_STATE_KEYS (default 10000000),
  * SPARK_GRAFT_STATE_BATCHES (default 20), SPARK_GRAFT_CPUS,
  * SPARK_GRAFT_STATE_SPREAD_US (default 0): per-batch event-time
  * advance. 0 keeps every key inside one retention window (pure-growth
  * run); setting it to a fraction of the 600 s retention makes the
  * watermark CROSS retention boundaries as batches progress, so
  * state timeouts actually fire and the run measures eviction cost at
  * scale (state plateaus at ~retention/spread batches' worth of keys).
  */
object StreamStateBench {
  def main(args: Array[String]): Unit = {
    val keys = sys.env.getOrElse("SPARK_GRAFT_STATE_KEYS", "10000000").toLong
    val batches = sys.env.getOrElse("SPARK_GRAFT_STATE_BATCHES", "20").toInt
    val spreadUs = sys.env.getOrElse("SPARK_GRAFT_STATE_SPREAD_US", "0").toLong
    val spark: SparkSession = DevSession(
      "spark.sql.streaming.noDataMicroBatches.enabled" -> "false",
      // default 100 recentProgress entries would silently truncate the
      // p50/max stats when batches > 100 while the JSON claims the full
      // run (r8 ADVICE)
      "spark.sql.streaming.numRecentProgressUpdates" -> (batches + 10).toString)
    Graft.init(spark)
    graft.streaming.StateStores.useRocksDB(spark)

    val base = java.nio.file.Files.createTempDirectory("graft_statebench").toString
    val (src, ckpt, out) = (s"$base/src", s"$base/ckpt", s"$base/out")
    val baseUs = 86400L * 1000000L
    val perBatch = keys / batches

    // one parquet file per micro-batch, generated DISTRIBUTED (no driver
    // array); all ids distinct -> every key becomes live dedup state;
    // spreadUs = 0 keeps all event times within one retention window
    // (nothing expires); spreadUs > 0 advances event time per batch so
    // old keys cross their retention timeouts and evict
    def writeBatch(b: Long): Unit =
      spark.range(b * perBatch, (b + 1) * perBatch)
        .selectExpr(
          "'k' AS key",
          """named_struct(
            |  'exception', named_struct(
            |    'exception_class', concat('K', id),
            |    'exception_message', CAST(NULL AS STRING),
            |    'stacktrace', CAST(NULL AS STRING)),
            |  'version', 1,
            |  'source_host', CAST(NULL AS STRING),
            |  'message', CAST(NULL AS STRING),
            |  'thread_name', CAST(NULL AS STRING),
            |  'timestamp', CAST(NULL AS STRING),
            |  'level', 'ERROR',
            |  'logger_name', CAST(NULL AS STRING)) AS event""".stripMargin,
          s"$baseUs + $b * ${spreadUs}L + id % 1000 AS event_time_us")
        .selectExpr("key", "to_json(event) AS value",
          "timestamp_micros(event_time_us) AS timestamp")
        .coalesce(1)
        .write.mode("append").parquet(src)

    def startQuery() =
      graft.streaming.Pipelines.dedupPipeline(
          spark.readStream.schema("key STRING, value STRING, timestamp TIMESTAMP")
            .option("maxFilesPerTrigger", "1").parquet(src))
        .writeStream
        .foreachBatch { (df: DataFrame, _: Long) =>
          df.write.format("noop").mode("overwrite").save(): Unit
        }
        .option("checkpointLocation", ckpt).outputMode("append").start()

    (0L until batches.toLong).foreach(writeBatch)
    val t0 = System.nanoTime()
    val q = startQuery()
    q.processAllAvailable()
    val loadSecs = (System.nanoTime() - t0) / 1e9
    val progress = q.recentProgress.toSeq.filter(_.numInputRows > 0)
    q.stop()

    def p50(xs: Seq[Long]): Long =
      if (xs.isEmpty) -1L else xs.sorted.apply(xs.size / 2)
    val trig = progress.flatMap(p =>
      Option(p.durationMs.get("triggerExecution")).map(_.toLong))
    val stateOps = progress.flatMap(_.stateOperators.headOption)
    val commit = stateOps.map(_.commitTimeMs)
    val update = stateOps.map(_.allUpdatesTimeMs)
    val removedTotal = stateOps.map(_.numRowsRemoved).sum
    // -1 sentinels when no progress entry carried a state operator
    // (r8 ADVICE: .last threw instead of degrading)
    val lastOpt = stateOps.lastOption
    def lastRows: Long = lastOpt.map(_.numRowsTotal).getOrElse(-1L)
    def lastMem: Long = lastOpt.map(_.memoryUsedBytes).getOrElse(-1L)
    def custom(k: String): Long = lastOpt.flatMap(l =>
      Option(l.customMetrics.get(k)).map(_.toLong)).getOrElse(-1L)

    // checkpoint footprint on disk (state + offsets/commits)
    def duBytes(dir: String): Long = {
      val root = java.nio.file.Paths.get(dir)
      if (!java.nio.file.Files.exists(root)) -1L
      else {
        val s = java.nio.file.Files.walk(root)
        try s.filter(java.nio.file.Files.isRegularFile(_))
          .mapToLong(java.nio.file.Files.size(_)).sum()
        finally s.close()
      }
    }
    val ckptBytes = duBytes(ckpt)

    // restore: one more batch through a FRESH query on the same
    // checkpoint — wall time includes loading the 10^7-key RocksDB state
    writeBatch(batches.toLong)
    val r0 = System.nanoTime()
    val q2 = startQuery()
    q2.processAllAvailable()
    val restoreWallMs = (System.nanoTime() - r0) / 1000000L
    val restoreBatchMs = q2.recentProgress.toSeq.filter(_.numInputRows > 0)
      .lastOption.flatMap(p => Option(p.durationMs.get("triggerExecution")).map(_.toLong))
      .getOrElse(-1L)
    val restoredRows = q2.recentProgress.toSeq.filter(_.numInputRows > 0)
      .lastOption.flatMap(_.stateOperators.headOption).map(_.numRowsTotal).getOrElse(-1L)
    q2.stop()

    println(
      s"""{"metric":"stream_state_bench","keys":$keys,"batches":$batches,""" +
      s""""spread_us_per_batch":$spreadUs,""" +
      s""""load_secs":${math.round(loadSecs * 1000) / 1000.0},""" +
      s""""records_per_sec":${math.round(keys / loadSecs)},""" +
      s""""batch_ms_p50":${p50(trig)},"batch_ms_max":${if (trig.isEmpty) -1 else trig.max},""" +
      s""""update_ms_p50":${p50(update)},"commit_ms_p50":${p50(commit)},""" +
      s""""rows_removed_total":$removedTotal,""" +
      s""""state_rows_final":$lastRows,""" +
      s""""state_memory_bytes":$lastMem,""" +
      s""""rocksdb_sst_bytes":${custom("rocksdbSstFileSize")},""" +
      s""""rocksdb_pinned_mem_bytes":${custom("rocksdbPinnedBlocksMemoryUsage")},""" +
      s""""ckpt_bytes":$ckptBytes,""" +
      s""""restore_wall_ms":$restoreWallMs,"restore_batch_ms":$restoreBatchMs,""" +
      s""""restore_state_rows":$restoredRows}""")
    spark.stop()
  }
}
