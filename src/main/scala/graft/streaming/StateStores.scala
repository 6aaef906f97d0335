package graft.streaming

import org.apache.spark.sql.SparkSession

/** The one RocksDB state store setup, for every stateful streaming
  * operator: the T2 dedup (`flatMapGroupsWithState`) as `DedupApp` and the
  * benchmarks deploy it, and the `transformWithState` operators, which
  * require the RocksDB provider.
  *
  * Spark resolves these keys from the SESSION conf when a streaming query
  * starts — there is no per-query writeStream option for them. Rather than
  * each operator silently flipping the session conf as a hidden side
  * effect of building its Dataset (which switches every OTHER streaming
  * query in the session too), the caller opts in explicitly here, once,
  * where the blast radius is visible: apps/benches call it at session
  * setup; specs call it inside a save/restore wrapper that restores every
  * key of [[RocksDBConf]].
  *
  * Changelog checkpointing makes a batch commit write one changelog per
  * state partition and leaves snapshot uploads to Spark's background
  * maintenance, instead of zipping and copying every partition's files on
  * every batch. Checkpoints written with it on or off load either way.
  */
object StateStores {
  val RocksDB: String =
    "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider"

  /** Every session key [[useRocksDB]] sets, with its value. */
  val RocksDBConf: Seq[(String, String)] = Seq(
    "spark.sql.streaming.stateStore.providerClass" -> RocksDB,
    "spark.sql.streaming.stateStore.rocksdb.changelogCheckpointing.enabled" -> "true")

  /** Session-wide, deliberate: every streaming query started after this
    * call uses RocksDB state stores until the conf is changed back.
    */
  def useRocksDB(spark: SparkSession): Unit =
    RocksDBConf.foreach { case (k, v) => spark.conf.set(k, v) }
}
