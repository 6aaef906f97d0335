package graft.streaming

import java.nio.file.Files
import java.sql.Timestamp

import scala.jdk.CollectionConverters._

import jdk.jfr.Recording
import jdk.jfr.consumer.RecordingFile
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQuery, StreamingQueryException, Trigger}
import graft.SparkSpec
import graft.io.SpawnFreeLocalFs

/** The T2 state commit on a `file:` checkpoint, as [[StateStores.useRocksDB]]
  * and [[SpawnFreeLocalFs]] set it up: it starts no helper processes, and
  * checkpoints move between it and the stock setup (Hadoop's `LocalFs`,
  * full RocksDB snapshots every batch) in both directions.
  */
class CheckpointIoSpec extends SparkSpec {

  private val ChangelogKey =
    "spark.sql.streaming.stateStore.rocksdb.changelogCheckpointing.enabled"
  /** The session settings on top of `useRocksDB` before this setup existed. */
  private val StockSetup = Seq(
    SpawnFreeLocalFs.ConfKey -> "org.apache.hadoop.fs.local.LocalFs", ChangelogKey -> "false")
  private val Setup = Seq(
    SpawnFreeLocalFs.ConfKey -> classOf[SpawnFreeLocalFs.LocalFs].getName, ChangelogKey -> "true")

  private val Min = 60L * 1000L
  private def boom(id: String, t: Long) = Frame(s"$id@$t",
    s"""{"exception":{"exception_class":"$id","exception_message":"x","stacktrace":"s"},"version":1,"level":"ERROR"}""",
    new Timestamp(86400L * 1000L + t * Min))
  private def noId(t: Long) = Frame(s"info@$t", """{"version":1,"level":"INFO"}""",
    new Timestamp(86400L * 1000L + t * Min))

  test("spawn tripwire: a 3-batch RocksDB dedup query on a file: checkpoint forks no chmod, readlink, stat or ls") {
    val s = spark
    import s.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    // The processes left allowed, none of them per checkpoint file:
    //  - Spark's own `rm -rf` of a RocksDB working directory
    //    (JavaUtils.deleteRecursively), per state store instance;
    //  - once per JVM: Hadoop Shell's setsid probe, Spark's page-size
    //    probe for its process-tree metrics and the RocksDB JNI loader's
    //    musl-libc probe.
    val allowed = Seq("rm -rf ", "setsid bash -c echo $$", "getconf PAGESIZE",
      "/usr/bin/env sh -c ldd /usr/bin/env | grep -q musl")
    val forbidden = Set("chmod", "readlink", "stat", "ls")
    val ckpt = Files.createTempDirectory("graft_spawn_ckpt").toUri.toString
    assert(ckpt.startsWith("file:"))
    val jfr = Files.createTempFile("graft_spawn", ".jfr")
    val recording = new Recording()
    recording.enable("jdk.ProcessStart")
    withRocksDB {
      val input = MemoryStream[Frame]
      val qn = s"spawn_${System.nanoTime()}"
      recording.start()
      val q = Pipelines.dedupPipeline(input.toDF()).writeStream.format("memory")
        .queryName(qn).option("checkpointLocation", ckpt).outputMode("append").start()
      try Seq(Seq(boom("A", 0), boom("B", 1), noId(1)), Seq(boom("A", 2), boom("C", 3)),
          Seq(boom("B", 4), boom("D", 5))).foreach { b =>
        input.addData(b); q.processAllAvailable()
      } finally { q.stop(); recording.stop() }
      assert(q.recentProgress.count(_.numInputRows > 0) == 3)
      assert(spark.table(qn).count() == 5) // A, B, info, C, D
    }
    recording.dump(jfr)
    recording.close()
    val commands = RecordingFile.readAllEvents(jfr).asScala.toSeq.map(_.getString("command"))
    val programs = commands.flatMap(_.split("[\\s|]+")).map(_.split('/').last)
    assert(!programs.exists(forbidden), s"process starts: $commands")
    assert(commands.forall(c => allowed.exists(c.startsWith)), s"process starts: $commands")
  }

  /** Six one-file batches through `dedupPipeline` on a parquet file source
    * and sink, split evenly into one query per setup, each query
    * restarting from the previous one's checkpoint. Returns the output
    * frames as `key|value` strings, sorted, and the extensions of the
    * state files in the checkpoint.
    */
  private def dedupAcross(setups: Seq[(String, String)]*): (Seq[String], Set[String]) = {
    val s = spark
    import s.implicits._
    val batches = Seq(
      Seq(boom("E1", 0), boom("E2", 1), boom("E3", 2), noId(2)),
      Seq(boom("E1", 3), boom("E4", 4), boom("E2", 7)),
      Seq(boom("E5", 12), boom("E3", 6)),
      // state from before a restart suppresses E1@5 and E2@9
      Seq(boom("E1", 5), boom("E4", 16), boom("E6", 15)),
      Seq(boom("E7", 25), boom("E2", 9)),
      Seq(boom("E1", 20), boom("E5", 14), noId(26)))
    val base = Files.createTempDirectory("graft_ckpt_compat").toString
    val (src, ckpt, out) = (s"$base/src", s"$base/ckpt", s"$base/out")
    Files.createDirectories(java.nio.file.Paths.get(src))
    withRocksDB {
      batches.grouped(batches.size / setups.size).zip(setups).foreach { case (phase, setup) =>
        SparkSpec.restoring(spark, setup.map(_._1)) {
          setup.foreach { case (k, v) => spark.conf.set(k, v) }
          val q = Pipelines.dedupPipeline(spark.readStream.schema(Seq.empty[Frame].toDF().schema)
              .parquet(src))
            .writeStream.format("parquet").option("path", out)
            .option("checkpointLocation", ckpt).outputMode("append").start()
          try phase.foreach { b =>
            b.toDF().coalesce(1).write.mode("append").parquet(src)
            q.processAllAvailable()
          } finally q.stop()
        }
      }
    }
    val stateFiles = Files.walk(java.nio.file.Paths.get(ckpt, "state"))
    val extensions = try stateFiles.iterator().asScala.map(_.getFileName.toString)
      .collect { case n if n.contains('.') => n.substring(n.lastIndexOf('.') + 1) }.toSet
    finally stateFiles.close()
    (spark.read.parquet(out)
      .select(concat_ws("|", col("key").cast("string"), col("value").cast("string")))
      .as[String].collect().toSeq.sorted, extensions)
  }

  test("checkpoint compatibility: stock setup -> this setup, and back, equals an uninterrupted run") {
    val (uninterrupted, newFiles) = dedupAcross(Setup)
    assert(uninterrupted.map(_.takeWhile(_ != '|')).sorted == Seq(
      "E1@0", "E1@20", "E2@1", "E2@7", "E3@2", "E4@16", "E4@4", "E5@12", "E6@15", "E7@25",
      "info@2", "info@26").sorted)
    // each setup really wrote its own checkpoint format
    assert(newFiles.contains("changelog"), newFiles)
    val (stock, stockFiles) = dedupAcross(StockSetup)
    assert(stockFiles.contains("zip") && !stockFiles.contains("changelog"), stockFiles)
    assert(stock == uninterrupted)
    assert(dedupAcross(StockSetup, Setup)._1 == uninterrupted)
    assert(dedupAcross(Setup, StockSetup)._1 == uninterrupted)
    assert(dedupAcross(StockSetup, Setup, StockSetup)._1 == uninterrupted)
  }

  /** Spark's one-batch trigger (`Trigger.Once`, deprecated): it runs the
    * next batch and stops, so no no-data batch follows a data batch.
    */
  private val OneBatch = Class.forName("org.apache.spark.sql.execution.streaming.OneTimeTrigger$")
    .getField("MODULE$").get(null).asInstanceOf[Trigger]

  test("restart under useRocksDB from a no-data-batch checkpoint: same output, expired state removed in the first data batch") {
    val s = spark
    import s.implicits._
    val batches = Seq(
      Seq(boom("E1", 0), boom("E2", 1), noId(2)),
      Seq(boom("E1", 3), boom("E3", 4)),
      // moves the next watermark to 20 min: E1, E2 and E3 expire
      Seq(boom("E4", 30)),
      // E1 re-emits and refreshes its state; E2 and E3 are removed
      Seq(boom("E1", 31), boom("E5", 32)),
      Seq(boom("E4", 33), boom("E2", 29)))
    def start(base: String, trigger: Trigger = Trigger.ProcessingTime(0L)) =
      Pipelines.dedupPipeline(spark.readStream.schema(Seq.empty[Frame].toDF().schema)
          .parquet(s"$base/src"))
        .writeStream.format("parquet").option("path", s"$base/out").trigger(trigger)
        .option("checkpointLocation", s"$base/ckpt").outputMode("append").start()
    def add(base: String, b: Seq[Frame]): Unit =
      b.toDF().coalesce(1).write.mode("append").parquet(s"$base/src")
    def output(base: String): Seq[String] =
      spark.read.parquet(s"$base/out").select(col("key").cast("string")).as[String]
        .collect().toSeq.sorted
    def stateOps(q: StreamingQuery) =
      q.recentProgress.toSeq.filter(_.durationMs.containsKey("addBatch"))
        .map(p => (p.numInputRows, p.stateOperators.head))

    def fresh(name: String): String =
      Files.createDirectories(Files.createTempDirectory(name).resolve("src")).getParent.toString
    val (whole, restarted) = (fresh("graft_nodata_whole"), fresh("graft_nodata_restart"))
    withRocksDB {
      val q = start(whole)
      try batches.foreach { b => add(whole, b); q.processAllAvailable() } finally q.stop()

      spark.conf.set(SparkSpec.NoDataBatches, "true")
      val q1 = start(restarted)
      try batches.take(2).foreach { b => add(restarted, b); q1.processAllAvailable() }
      finally q1.stop()
      assert(stateOps(q1).exists(_._1 == 0), "no no-data batch ran")
      add(restarted, batches(2))
      val q2 = start(restarted, OneBatch)
      q2.awaitTermination()
      // the data batch alone: E1, E2 and E3 are expired, not removed
      assert(stateOps(q2).map { case (n, op) => (n, op.numRowsTotal, op.numRowsRemoved) } ==
        Seq((1L, 4L, 0L)))

      StateStores.useRocksDB(spark)
      val q3 = start(restarted)
      try batches.drop(3).foreach { b => add(restarted, b); q3.processAllAvailable() }
      finally q3.stop()
      assert(stateOps(q3).map { case (n, op) => (n, op.numRowsRemoved) } == Seq((2L, 2L), (2L, 0L)))
    }
    assert(output(whole) == Seq("E1@0", "E1@31", "E2@1", "E2@29", "E3@4", "E4@30", "E5@32",
      "info@2").sorted)
    assert(output(restarted) == output(whole))
  }

  test("a checkpoint of the two-scan T2 plan does not restart: its offset log records two sources") {
    val s = spark
    import s.implicits._
    // Written by an earlier dedupPipeline, whose plan scanned its source
    // twice (a union of the id and the no-id branch), from a parquet file
    // source into a parquet sink on RocksDB: one data batch (E1@0, E2@1, a
    // duplicate E1@2 and a record with no id) and one no-data batch.
    // Hadoop's .crc files are left out, so the restart reads it unchecked.
    val fixture = java.nio.file.Paths.get(getClass.getResource("/t2-two-scan-checkpoint").toURI)
    val base = Files.createTempDirectory("graft_two_scan")
    val ckpt = base.resolve("ckpt")
    val files = Files.walk(fixture)
    try files.iterator().asScala.foreach(f => Files.copy(f, ckpt.resolve(fixture.relativize(f).toString)))
    finally files.close()
    val src = base.resolve("src").toString
    Seq(boom("E1", 3), boom("E3", 4)).toDF().coalesce(1).write.parquet(src)
    withRocksDB {
      val q = Pipelines.dedupPipeline(spark.readStream.schema(Seq.empty[Frame].toDF().schema)
          .parquet(src))
        .writeStream.format("parquet").option("path", base.resolve("out").toString)
        .option("checkpointLocation", ckpt.toString).outputMode("append").start()
      val e = intercept[StreamingQueryException](try q.processAllAvailable() finally q.stop())
      assert(e.getMessage.contains(
        "There are [2] sources in the checkpoint offsets and now there are [1] sources"), e.getMessage)
    }
  }
}
