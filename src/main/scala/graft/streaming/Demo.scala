package graft.streaming

import java.sql.Timestamp
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._

/** Minimal end-to-end sample of the two reference topologies running as
  * real micro-batch streaming queries (MemoryStream → pipeline → memory
  * sink). `runMain graft.streaming.Demo` prints both outputs.
  */
case class DemoFrame(key: String, value: String, timestamp: Timestamp)

object Demo {
  def main(args: Array[String]): Unit = {
    val spark: SparkSession = graft.DevSession()
    import spark.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext

    val base = 86400L * 1000 // ms
    def ev(level: String, exc: String): String = {
      val e = if (exc == null) "null"
      else s"""{"exception_class":"$exc","exception_message":"x","stacktrace":"st"}"""
      s"""{"exception":$e,"version":1,"source_host":"h","message":"m","thread_name":"t","timestamp":"ts","level":"$level","logger_name":"l"}"""
    }

    // T1: level filter
    val in1 = MemoryStream[DemoFrame]
    val q1 = Pipelines.filterPipeline(in1.toDF())
      .writeStream.format("memory").queryName("t1_out").outputMode("append").start()
    in1.addData(Seq(
      DemoFrame("k1", ev("INFO", null), new Timestamp(base)),
      DemoFrame("k2", ev("ERROR", null), new Timestamp(base))))
    q1.processAllAvailable(); q1.stop()
    println("== T1 output (INFO only) ==")
    spark.table("t1_out").select(col("value").cast("string")).show(false)

    // T2: windowed dedup on exception_class
    val in2 = MemoryStream[DemoFrame]
    val q2 = Pipelines.dedupPipeline(in2.toDF())
      .writeStream.format("memory").queryName("t2_out").outputMode("append").start()
    in2.addData(Seq(
      DemoFrame("a", ev("ERROR", "java.lang.RuntimeException"), new Timestamp(base)),
      DemoFrame("b", ev("ERROR", "java.lang.RuntimeException"), new Timestamp(base + 60000)),
      DemoFrame("c", ev("ERROR", "java.io.IOException"), new Timestamp(base + 1000)),
      DemoFrame("d", ev("INFO", null), new Timestamp(base))))
    q2.processAllAvailable(); q2.stop()
    println("== T2 output (duplicate RuntimeException suppressed; null-id passthrough) ==")
    spark.table("t2_out").select(col("value").cast("string")).show(false)
    spark.stop()
  }
}
