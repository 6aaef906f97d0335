package graft.model

import org.apache.spark.sql.types._

/** The reference's record schema (SURVEY.md §1.2; POJO at reference
  * `src/main/java/com/lokesh/streams/KafkaStreamsApplication.java:26-42`):
  * Splunk-style JSON log events with an optional nested exception struct.
  *
  * `timestamp` is a *string* in the payload (the reference never parses
  * it); event time is the Kafka record timestamp, carried separately.
  */
case class ExceptionInfo(
    exception_class: Option[String],
    exception_message: Option[String],
    stacktrace: Option[String])

case class LogEvent(
    exception: Option[ExceptionInfo],
    version: Int,
    source_host: Option[String],
    message: Option[String],
    thread_name: Option[String],
    timestamp: Option[String],
    level: Option[String],
    logger_name: Option[String])

object LogEvent {
  val exceptionSchema: StructType = StructType(Seq(
    StructField("exception_class", StringType, nullable = true),
    StructField("exception_message", StringType, nullable = true),
    StructField("stacktrace", StringType, nullable = true)))

  val schema: StructType = StructType(Seq(
    StructField("exception", exceptionSchema, nullable = true),
    StructField("version", IntegerType, nullable = false),
    StructField("source_host", StringType, nullable = true),
    StructField("message", StringType, nullable = true),
    StructField("thread_name", StringType, nullable = true),
    StructField("timestamp", StringType, nullable = true),
    StructField("level", StringType, nullable = true),
    StructField("logger_name", StringType, nullable = true)))
}
