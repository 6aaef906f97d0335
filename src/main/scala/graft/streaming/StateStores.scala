package graft.streaming

import org.apache.spark.SparkContext
import org.apache.spark.scheduler.{SparkListener, SparkListenerApplicationEnd}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.streaming.state.StateStore

/** The one session setup for every stateful streaming operator: the T2
  * dedup (`flatMapGroupsWithState`) as `DedupApp` and the benchmarks
  * deploy it, and the `transformWithState` operators, which require the
  * RocksDB provider. Spark reads these keys from the session when a query
  * starts (none is kept in the offset log), so callers opt in here, once:
  * apps/benches at session setup, specs inside a wrapper that restores
  * every key of [[RocksDBConf]].
  *
  * Changelog checkpointing makes a batch commit write one changelog per
  * state partition and leaves snapshot uploads to Spark's background
  * maintenance; checkpoints written with it on or off load either way.
  *
  * No no-data micro-batches: no batch runs only because the watermark
  * moved, which matters only where a watermark is set. T2's expired state
  * goes in the next data batch ([[DedupStream]]), and `StreamOps`' window
  * aggregations and joins emit then instead of when the stream goes quiet.
  * The `transformWithState` operators use `TimeMode.None`, no watermark.
  */
object StateStores {
  val RocksDB: String =
    "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider"

  /** Every session key [[useRocksDB]] sets, with its value. */
  val RocksDBConf: Seq[(String, String)] = Seq(
    "spark.sql.streaming.stateStore.providerClass" -> RocksDB,
    "spark.sql.streaming.stateStore.rocksdb.changelogCheckpointing.enabled" -> "true",
    "spark.sql.streaming.noDataMicroBatches.enabled" -> "false")

  /** Session-wide, deliberate: every streaming query started after this
    * call uses RocksDB state stores until the conf is changed back. It
    * also closes the loaded stores when the context stops
    * ([[CloseOnStop]]).
    */
  def useRocksDB(spark: SparkSession): Unit = {
    RocksDBConf.foreach { case (k, v) => spark.conf.set(k, v) }
    val sc = spark.sparkContext
    hooked.synchronized { if (hooked.add(sc)) sc.addSparkListener(new CloseOnStop) }
  }

  private val hooked = java.util.Collections.newSetFromMap(
    new java.util.WeakHashMap[SparkContext, java.lang.Boolean]())

  /** Closes every loaded state store provider and stops the store
    * maintenance pool when the application ends. Spark itself never calls
    * `StateStore.stop()`, so a stopped context leaves its RocksDB
    * instances open and their maintenance running into JVM exit.
    */
  private[graft] final class CloseOnStop extends SparkListener {
    override def onApplicationEnd(e: SparkListenerApplicationEnd): Unit = StateStore.stop()
  }
}
