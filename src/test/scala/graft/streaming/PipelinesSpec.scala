package graft.streaming

import java.sql.Timestamp
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.expressions.JsonToStructs
import org.apache.spark.sql.execution.{SparkPlan, UnionExec}
import org.apache.spark.sql.execution.datasources.v2.MicroBatchScanExec
import org.apache.spark.sql.execution.streaming.runtime.{MemoryStream, StreamingQueryWrapper}
import org.apache.spark.sql.functions._
import graft.SparkSpec
import graft.model.LogEvent
import graft.serde.JsonCodec

/** Kafka-shaped input frame for tests (key/value as strings; the pipelines
  * cast).
  */
case class Frame(key: String, value: String, timestamp: Timestamp)

class PipelinesSpec extends SparkSpec {

  private def info(host: String) =
    s"""{"version":1,"source_host":"$host","message":"ok","thread_name":"main","timestamp":"2024-02-05T14:59:01.614-0500","level":"INFO","logger_name":"app"}"""
  private def error(host: String) =
    s"""{"version":1,"source_host":"$host","message":"Some Failure","thread_name":"main","timestamp":"2024-02-05T14:59:01.614-0500","level":"ERROR","logger_name":"app"}"""

  test("T1 filter pipeline keeps INFO, drops others and null levels (streaming)") {
    val s = spark
    import s.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val input = MemoryStream[Frame]
    val out = Pipelines.filterPipeline(input.toDF())
    val qn = s"t1_${System.nanoTime()}"
    val q = out.writeStream.format("memory").queryName(qn).outputMode("append").start()
    try {
      input.addData(Seq(
        Frame("k1", info("h1"), new Timestamp(0)),
        Frame("k2", error("h2"), new Timestamp(0)),
        Frame("k3", """{"version":1,"message":"nolevel"}""", new Timestamp(0))))
      q.processAllAvailable()
      val vals = spark.table(qn)
        .select(col("key").cast("string"), col("value").cast("string")).collect()
      assert(vals.length == 1)
      assert(vals.head.getString(0) == "k1")
      assert(vals.head.getString(1).contains("\"source_host\":\"h1\""))
      assert(vals.head.getString(1).contains("\"level\":\"INFO\""))
    } finally q.stop()
  }

  test("T1 batch twin: same combinator on a batch DataFrame") {
    val s = spark
    import s.implicits._
    val df = Seq(
      Frame("k1", info("h1"), new Timestamp(0)),
      Frame("k2", error("h2"), new Timestamp(0))).toDF()
    val out = Pipelines.filterPipeline(df)
    assert(out.count() == 1)
  }

  test("T2 dedup pipeline end-to-end: duplicate exception suppressed (streaming)") {
    val s = spark
    import s.implicits._
    def boom(t: Long) =
      s"""{"exception":{"exception_class":"java.lang.RuntimeException","exception_message":"x","stacktrace":"st"},"version":1,"source_host":"h","message":"m","thread_name":"t","timestamp":"ts","level":"ERROR","logger_name":"l"}"""
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val input = MemoryStream[Frame]
    val out = Pipelines.dedupPipeline(input.toDF())
    val qn = s"t2_${System.nanoTime()}"
    val q = out.writeStream.format("memory").queryName(qn).outputMode("append").start()
    try {
      input.addData(Seq(
        Frame("a", boom(0), new Timestamp(0)),
        Frame("b", boom(1), new Timestamp(60 * 1000)), // +1 min → dup
        Frame("c", info("h9"), new Timestamp(0)))) // no exception → passthrough
      q.processAllAvailable()
      val vals = spark.table(qn).select(col("value").cast("string")).collect()
        .map(_.getString(0))
      assert(vals.length == 2)
      assert(vals.count(_.contains("RuntimeException")) == 1)
      assert(vals.count(_.contains("\"level\":\"INFO\"")) == 1)
    } finally q.stop()
  }

  /** Runs `pipeline` over one MemoryStream batch of `frames`; returns the
    * batch's executed plan and its progress `numInputRows`. No-data
    * batches are off, so the last execution is the data batch's.
    */
  private def oneBatch(pipeline: DataFrame => DataFrame, frames: Seq[Frame]): (SparkPlan, Long) = {
    val s = spark
    import s.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val noData = "spark.sql.streaming.noDataMicroBatches.enabled"
    SparkSpec.restoring(spark, Seq(noData)) {
      spark.conf.set(noData, "false")
      val input = MemoryStream[Frame]
      val q = pipeline(input.toDF()).writeStream.format("memory")
        .queryName(s"plan_${System.nanoTime()}").outputMode("append").start()
      try {
        input.addData(frames)
        q.processAllAvailable()
        (q.asInstanceOf[StreamingQueryWrapper].streamingQuery.lastExecution.executedPlan,
          q.lastProgress.numInputRows)
      } finally q.stop()
    }
  }

  private def jsonParses(plan: SparkPlan): Int =
    plan.collect { case n => n.expressions.map(_.collect { case j: JsonToStructs => j }.size).sum }.sum

  test("T1 and T2 read and parse each record once: one scan, one from_json, no union") {
    def boom(id: String) =
      s"""{"exception":{"exception_class":"$id","exception_message":"x","stacktrace":"s"},"version":1,"level":"ERROR"}"""
    val at = new Timestamp(86400L * 1000L)
    val frames = Seq(Frame("a", boom("E1"), at), Frame("b", boom("E1"), at),
      Frame("c", info("h1"), at), Frame("d", error("h2"), at))
    val (t2, t2Rows) = oneBatch(Pipelines.dedupPipeline(_), frames)
    assert(t2.collect { case s: MicroBatchScanExec => s }.size == 1, t2)
    assert(t2.collect { case u: UnionExec => u }.isEmpty, t2)
    assert(jsonParses(t2) == 1, t2)
    assert(t2Rows == frames.size)
    val (t1, t1Rows) = oneBatch(Pipelines.filterPipeline(_), frames)
    assert(jsonParses(t1) == 1, t1)
    assert(t1Rows == frames.size)
  }

  test("checkpoint identity: restart resumes from the offset log, no reprocessing (SURVEY §2.5)") {
    val s = spark
    import s.implicits._
    val base = java.nio.file.Files.createTempDirectory("graft_ckpt").toString
    val (src, ckpt, out) = (s"$base/src", s"$base/ckpt", s"$base/out")
    def boom(id: String) =
      s"""{"exception":{"exception_class":"$id","exception_message":"x","stacktrace":"s"},"version":1,"level":"ERROR"}"""
    val Base = 86400L * 1000L
    def frames(rows: Seq[(String, String, Long)]) = rows
      .map { case (k, v, t) => Frame(k, v, new Timestamp(Base + t)) }.toDF()
    def startQuery() =
      Pipelines.dedupPipeline(
          spark.readStream.schema(frames(Nil).schema).parquet(src))
        .writeStream.format("parquet")
        .option("path", out).option("checkpointLocation", ckpt)
        .outputMode("append").start()

    // epoch 1: two novel ids + one duplicate
    frames(Seq(("a", boom("E1"), 0L), ("b", boom("E2"), 1000L),
      ("c", boom("E1"), 2000L))).write.parquet(src)
    val q1 = startQuery()
    q1.processAllAvailable(); q1.stop()
    val afterFirst = spark.read.parquet(out).count()
    assert(afterFirst == 2, s"expected E1+E2 once, got $afterFirst")

    // epoch 2 (new query instance, same checkpoint): a new file with one
    // more duplicate of E1 (still in-window) and a novel id. The restart
    // must pick up ONLY the new file (offset log) and must still know E1
    // (state store) — reprocessing or state loss both break the count.
    frames(Seq(("d", boom("E1"), 3000L), ("e", boom("E3"), 4000L)))
      .write.mode("append").parquet(src)
    val q2 = startQuery()
    q2.processAllAvailable(); q2.stop()
    val vals = spark.read.parquet(out).select(col("value").cast("string"))
      .collect().map(_.getString(0)).sorted
    assert(vals.length == 3, s"exactly-once violated: ${vals.length} rows")
    assert(vals.count(_.contains("E1")) == 1 && vals.count(_.contains("E3")) == 1)
  }

  test("JSON codec: null payload → null struct; malformed → null in PERMISSIVE") {
    val s = spark
    import s.implicits._
    val df = Seq(("k", null: String), ("k2", "{not json")).toDF("key", "value")
    val decoded = df.select(
      JsonCodec.decode(col("value"), LogEvent.schema, JsonCodec.Permissive).as("event"))
    val rows = decoded.collect()
    assert(rows.forall(_.isNullAt(0) || rows.length == 2))
    assert(decoded.filter(col("event").isNull).count() == 1) // null in → null out
    // malformed in PERMISSIVE → struct with null fields, not an exception
    assert(decoded.filter(col("event").isNotNull).count() == 1)
  }

  test("JSON codec round-trip preserves the event") {
    val s = spark
    import s.implicits._
    val df = Seq(("k", error("hX"))).toDF("key", "value")
    val round = df
      .select(JsonCodec.decode(col("value"), LogEvent.schema).as("event"))
      .select(JsonCodec.encodeJson(col("event")).as("json"))
      .select(JsonCodec.decode(col("json"), LogEvent.schema).as("event"))
    val r = round.select("event.source_host", "event.level", "event.version").collect().head
    assert(r.getString(0) == "hX" && r.getString(1) == "ERROR" && r.getInt(2) == 1)
  }
}
