package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Loaders for the driver-generated TPC-H-ish parquet tables (TESTDATA.md).
  *
  * Every query receives an `sfDir` (e.g. `/root/testdata/sf0.01`) and loads
  * tables lazily from it; Catalyst pushes filters/projections down to the
  * parquet scan, so loading "the whole table" here is free — only the columns
  * and row groups a query needs are read. At cluster scale the same code path
  * reads a partitioned table from object storage; nothing here assumes local
  * disk.
  */
object Tables {
  def table(spark: SparkSession, sfDir: String, name: String): DataFrame = {
    // Every batch operator loads its tables here before building any
    // expression, so this is the one funnel where the native functions
    // are guaranteed registered ahead of analysis, on any session.
    // Idempotent and ~free after the first call.
    graft.functions.Kernels.register(spark)
    spark.read.parquet(s"$sfDir/$name.parquet")
  }

  /** Floor a COMPUTE-dense frame's parallelism at the cluster's capacity
    * (r13, guide §2/§6). The sf parquet tables are single-row-group
    * files, so a scan plans ONE task and every expression chain fused
    * into it (gram hashing, shingle digests — seconds of CPU per MB of
    * text) runs serially no matter how many cores exist; measured at
    * sf0.1 as a 21 s single-task gram build under a 3 s parallel plan.
    * At scale the scan already carries ≥ cores partitions and this is
    * the identity — the repartition only fires when the input plans
    * FEWER partitions than cores, so it can never coalesce a big scan.
    * Streaming frames pass through (repartition-by-round-robin is not
    * supported mid-stream and micro-batches re-plan per trigger).
    *
    * The decision is PLAN-FREE for the common shape (r13 verdict #4 /
    * r14): when the frame is a narrow chain over one file relation, the
    * scan-task count is lower-bounded from the file index's cached
    * listing stats, mirroring Spark's own split sizing (files are packed
    * into splits of at most `maxSplitBytes = min(maxPartitionBytes,
    * max(openCostInBytes, totalCost / minPartitionNum))`, each file
    * charged `openCostInBytes`, so ⌈totalCost / maxSplitBytes⌉ never
    * exceeds the planned task count) — no second plan instantiation, no
    * file re-listing, and no driver-side execution. At 100 TB the lower
    * bound is ≫ cores and this is the identity by arithmetic alone.
    * Frames with any other leaf shape (joins, cached relations, local
    * data) fall back to `df.rdd.getNumPartitions`; NOTE that under AQE
    * converting an exchange-bearing plan to an RDD materializes its
    * shuffle stages eagerly, so only hand scan-shaped frames to this
    * helper (all current call sites are scans or scan+filter chains).
    */
  def parallelized(df: DataFrame): DataFrame = {
    if (df.isStreaming) df
    else {
      val n = df.sparkSession.sparkContext.defaultParallelism
      val leaves = df.queryExecution.analyzed.collectLeaves()
      val scanTaskLowerBound: Option[Long] = leaves match {
        case Seq(l: org.apache.spark.sql.execution.datasources.LogicalRelation) =>
          l.relation match {
            case fs: org.apache.spark.sql.execution.datasources.HadoopFsRelation =>
              val conf = df.sparkSession.sessionState.conf
              val openCost = conf.filesOpenCostInBytes
              val totalCost = fs.location.sizeInBytes +
                fs.location.inputFiles.length.toLong * openCost
              val minPartitionNum =
                conf.filesMinPartitionNum.getOrElse(n).toLong.max(1L)
              val maxSplit = math.min(conf.filesMaxPartitionBytes,
                math.max(openCost, totalCost / minPartitionNum)).max(1L)
              Some((totalCost + maxSplit - 1L) / maxSplit)
            case _ => None
          }
        case _ => None
      }
      scanTaskLowerBound match {
        case Some(est) => if (est < n) df.repartition(n) else df
        case None => if (df.rdd.getNumPartitions < n) df.repartition(n) else df
      }
    }
  }

  /** Partition count for explicitly pinned exchanges (r13): the session's
    * configured shuffle width, floored at core count. Used where AQE's
    * byte-based coalescing mis-sizes a COMPUTE-dense stage (candidate
    * joins and verify joins over gram/shingle arrays: tiny bytes, heavy
    * per-row CPU — measured at sf0.1 as 6-of-32-core stages). Conf-driven
    * on a cluster, never a local constant.
    */
  def nPart(spark: SparkSession): Int =
    math.max(spark.sessionState.conf.numShufflePartitions,
      spark.sparkContext.defaultParallelism)

  def region(s: SparkSession, d: String): DataFrame    = table(s, d, "region")
  def nation(s: SparkSession, d: String): DataFrame    = table(s, d, "nation")
  def customer(s: SparkSession, d: String): DataFrame  = table(s, d, "customer")
  def supplier(s: SparkSession, d: String): DataFrame  = table(s, d, "supplier")
  def part(s: SparkSession, d: String): DataFrame      = table(s, d, "part")
  def orders(s: SparkSession, d: String): DataFrame    = table(s, d, "orders")
  def lineitem(s: SparkSession, d: String): DataFrame  = table(s, d, "lineitem")
  /** `events.ts` loads as a Long of epoch-nanos regardless of the physical
    * parquet type — the generator has shipped BOTH over time:
    *
    *   - TIMESTAMP(NANOS), which Spark 4 rejects ([PARQUET_TYPE_ILLEGAL])
    *     unless read as a nano long via `nanosAsLong`;
    *   - `timestamp[us]` (isAdjustedToUTC=false → TIMESTAMP_NTZ), which
    *     this loader converts back to the nano-long axis
    *     (`unix_micros * 1000`; sessions pin UTC, so the NTZ wall clock
    *     IS the epoch value, bit-exact with DuckDB's `epoch_us(ts)`).
    *
    * All event-time arithmetic downstream is on integer microseconds
    * (`ts_us = ts div 1000`) either way — a projection folded into the
    * scan, never a second pass.
    */
  def events(s: SparkSession, d: String): DataFrame = {
    s.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    val df = table(s, d, "events")
    df.schema("ts").dataType match {
      case org.apache.spark.sql.types.LongType => df
      case _ => df.withColumn("ts",
        org.apache.spark.sql.functions.expr("unix_micros(cast(ts AS timestamp)) * 1000"))
    }
  }
  def documents(s: SparkSession, d: String): DataFrame = table(s, d, "documents")
  def embeddings(s: SparkSession, d: String): DataFrame = table(s, d, "embeddings")
}
