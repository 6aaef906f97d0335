package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQueryProgress
import graft.model.LogEvent

/** A keyed, timestamped log record — the reference's `KStream<String,
  * LogEvent>` record (key, value, record timestamp) — as the dedup specs
  * state their inputs. `event_time_us` is epoch-micros.
  */
case class LogRecord(key: Option[String], event: Option[LogEvent], event_time_us: Long)

/** Runs dedup specs through the shipped T2 path, [[Pipelines.dedupPipeline]],
  * on Kafka-shaped frames built from [[LogRecord]]s: `key`, `value` =
  * `to_json(event)`, `timestamp` = `timestamp_micros(event_time_us)`.
  *
  * The operator never reads the key, so each frame's key is replaced by
  * the record's input position; every output frame then maps back to the
  * exact input record that survived.
  */
object DedupFrames {

  /** Kafka-shaped frames from [[LogRecord]]-shaped rows. */
  def toFrames(records: DataFrame): DataFrame =
    records.select(col("key"), to_json(col("event")).as("value"),
      timestamp_micros(col("event_time_us")).as("timestamp"))

  private def tag(records: Seq[LogRecord], from: Int): Seq[LogRecord] =
    records.zipWithIndex.map { case (r, i) => r.copy(key = Some((from + i).toString)) }

  private def survivors(out: DataFrame, inputs: IndexedSeq[LogRecord]): Seq[LogRecord] =
    out.select(col("key").cast("string")).collect()
      .map(r => inputs(r.getString(0).toInt)).toSeq

  /** One batch DataFrame through the operator; returns the surviving records. */
  def dedupBatch(spark: SparkSession, records: Seq[LogRecord]): Seq[LogRecord] = {
    import spark.implicits._
    val out = Pipelines.dedupPipeline(toFrames(spark.createDataset(tag(records, 0)).toDF()))
    survivors(out, records.toIndexedSeq)
  }

  /** Each inner Seq is one micro-batch of a MemoryStream; returns the
    * surviving records.
    */
  def dedupStreaming(spark: SparkSession, batches: Seq[Seq[LogRecord]],
                     windowUs: Long = DedupStream.DefaultWindowUs,
                     retentionUs: Long = DedupStream.DefaultRetentionUs,
                     streamTime: Boolean = false): Seq[LogRecord] =
    dedupStreamingProgress(spark, batches, windowUs, retentionUs, streamTime)._1

  /** [[dedupStreaming]], also returning the progress of every micro-batch
    * that ran, with or without input.
    */
  def dedupStreamingProgress(spark: SparkSession, batches: Seq[Seq[LogRecord]],
                             windowUs: Long = DedupStream.DefaultWindowUs,
                             retentionUs: Long = DedupStream.DefaultRetentionUs,
                             streamTime: Boolean = false
                            ): (Seq[LogRecord], Seq[StreamingQueryProgress]) = {
    import spark.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val input = MemoryStream[LogRecord]
    val out = Pipelines.dedupPipeline(toFrames(input.toDF()), windowUs, retentionUs,
      streamTime = streamTime)
    val qn = s"dedup_${System.nanoTime()}"
    val q = out.writeStream.format("memory").queryName(qn).outputMode("append").start()
    try {
      batches.scanLeft(0)(_ + _.size).zip(batches).foreach { case (from, b) =>
        input.addData(tag(b, from))
        q.processAllAvailable()
      }
      (survivors(spark.table(qn), batches.flatten.toIndexedSeq),
        q.recentProgress.filter(_.durationMs.containsKey("addBatch")).toSeq)
    } finally q.stop()
  }
}
