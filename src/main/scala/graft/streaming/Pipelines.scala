package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{DataStreamWriter, StreamingQuery, Trigger}
import org.apache.spark.sql.Row
import graft.model.LogEvent
import graft.serde.JsonCodec

/** The reference's two topologies as source-agnostic `DataFrame =>
  * DataFrame` combinators (SURVEY.md §3): each takes a Kafka-shaped frame
  * (`key`, `value`, `timestamp`) — from the Kafka source, a MemoryStream,
  * or a batch read — and returns the Kafka-shaped output frame. The same
  * function serves streaming and batch (SURVEY.md §7.2's design rule).
  */
object Pipelines {

  /** T1 (reference `KafkaStreamsApplication.java:92-114`): JSON-decode →
    * keep level == "INFO" → JSON-encode. Stateless and shuffle-free. The
    * one-element `explode` keeps the filter on the parse that `to_json`
    * re-encodes: pushed below it, the filter would parse every record again.
    */
  def filterPipeline(frames: DataFrame, level: String = "INFO",
                     mode: JsonCodec.Mode = JsonCodec.FailFast): DataFrame =
    JsonCodec.encodeKafkaFrame(
      JsonCodec.decodeKafkaFrame(frames, LogEvent.schema, mode)
        .select(col("key"), explode(array(col("event"))).as("event"))
        .filter(col("event.level") === level))

  /** T2 (reference `KStreamDistinct.java:128-153`): parse the dedup id →
    * exact windowed dedup on exception_class (stateful, hash-partitioned
    * by id) → forward the payload verbatim. The duplicate-tombstone +
    * null-filter of the reference collapses into "don't emit" (SURVEY.md
    * §2.2 F2).
    */
  def dedupPipeline(frames: DataFrame,
                    windowUs: Long = DedupStream.DefaultWindowUs,
                    retentionUs: Long = DedupStream.DefaultRetentionUs,
                    mode: JsonCodec.Mode = JsonCodec.FailFast,
                    streamTime: Boolean = false): DataFrame =
    DedupStream.dedupFrames(frames, windowUs, retentionUs, streamTime, mode)
      .select(col("key").cast("binary").as("key"),
        col("value").cast("binary").as("value"))
}

/** Kafka source/sink wiring (SURVEY.md §2.1 S1–S4) + properties-file config
  * (S5). Pure configuration around the native Kafka connector — the
  * pipelines above are source-agnostic.
  */
object KafkaIO {

  /** S1/S2: streaming source for one topic. */
  def source(spark: SparkSession, bootstrap: String, topic: String,
             startingOffsets: String = "latest"): DataFrame =
    spark.readStream.format("kafka")
      .option("kafka.bootstrap.servers", bootstrap)
      .option("subscribe", topic)
      .option("startingOffsets", startingOffsets) // reference auto.offset.reset=latest
      .load()

  /** Batch twin of the source (same columns; for reprocessing). */
  def batchSource(spark: SparkSession, bootstrap: String, topic: String): DataFrame =
    spark.read.format("kafka")
      .option("kafka.bootstrap.servers", bootstrap)
      .option("subscribe", topic)
      .load()

  /** S3/S4: streaming sink to one topic. 1 s trigger mirrors the
    * reference's commit.interval.ms=1000; checkpointLocation carries both
    * consumer-group identity and state (SURVEY.md §2.5).
    */
  def sink(df: DataFrame, bootstrap: String, topic: String,
           checkpointLocation: String): DataStreamWriter[Row] =
    df.writeStream.format("kafka")
      .option("kafka.bootstrap.servers", bootstrap)
      .option("topic", topic)
      .option("checkpointLocation", checkpointLocation)
      .trigger(Trigger.ProcessingTime("1 second"))

  /** S5: properties-file config (reference `KStreamDistinct.java:172-179`). */
  def loadProperties(path: String): java.util.Properties = {
    val props = new java.util.Properties()
    val in = java.nio.file.Files.newInputStream(java.nio.file.Paths.get(path))
    try props.load(in) finally in.close()
    props
  }
}

/** App mains — lifecycle parity with the reference (§3.1–3.2: start, block,
  * shutdown hook). Run against a real broker; everything testable without
  * one lives in Pipelines/DedupStream.
  */
object FilterApp {
  def main(args: Array[String]): Unit = {
    val props = KafkaIO.loadProperties(args(0))
    val spark = SparkSession.builder().appName("graft-filter").getOrCreate()
    graft.Graft.init(spark)
    val out = Pipelines.filterPipeline(
      KafkaIO.source(spark, props.getProperty("bootstrap.servers"),
        props.getProperty("input.topic.name")))
    val query: StreamingQuery = KafkaIO.sink(out,
      props.getProperty("bootstrap.servers"),
      props.getProperty("output.topic.name"),
      props.getProperty("checkpoint.dir", "/tmp/graft-filter-cp")).start()
    sys.addShutdownHook { query.stop() } // reference :74-80
    query.awaitTermination()
  }
}

object DedupApp {
  def main(args: Array[String]): Unit = {
    val props = KafkaIO.loadProperties(args(0))
    graft.io.KafkaAdmin.createTopics(props) // S6 parity (reference :200, :155-170)
    val spark = SparkSession.builder().appName("graft-dedup").getOrCreate()
    graft.Graft.init(spark)
    StateStores.useRocksDB(spark)
    val out = Pipelines.dedupPipeline(
      KafkaIO.source(spark, props.getProperty("bootstrap.servers"),
        props.getProperty("input.topic.name")))
    val query = KafkaIO.sink(out,
      props.getProperty("bootstrap.servers"),
      props.getProperty("output.topic.name"),
      props.getProperty("checkpoint.dir", "/tmp/graft-dedup-cp")).start()
    sys.addShutdownHook { query.stop() }
    query.awaitTermination()
  }
}
