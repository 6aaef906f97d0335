package graft.streaming

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}
import org.apache.spark.sql.types.{StructField, StructType}
import graft.model.LogEvent
import graft.serde.JsonCodec

/** Slim carrier for the frame path: raw payload forwarded verbatim, only
  * the event time materialized (the dedup id is in the group key).
  */
case class SlimFrame(key: String, value: String, ts_us: Long)

/** Group key: a dedup id with bucket −1, or, for a record with no id, a
  * null id with a bucket ≥ 0, so the two kinds never share a key.
  */
case class DedupKey(id: String, bucket: Int)

/** Exact windowed deduplication — the Spark-native re-implementation of the
  * reference's `DeduplicationTransformer` (SURVEY.md §2.4; reference
  * `KStreamDistinct.java:42-112`):
  *
  *   - dedup id = `event.exception.exception_class`; records with no id
  *     pass through untouched (`KStreamDistinct.java:71-72`),
  *   - a record is a duplicate iff the store holds a timestamp within
  *     ±window/2 of its event time (`:88-91`),
  *   - duplicates are suppressed AND refresh the stored timestamp
  *     (`:75-77, 97-99`) — continuous duplicates extend suppression,
  *   - state expires after `retention` (10 min default, `:135-141`), so an
  *     id re-emits after quiescence: bounded-memory dedup, not global
  *     distinct.
  *
  * Implementation: event-time stateful processing via
  * `flatMapGroupsWithState` with one `Long` of state per live id (the
  * analogue of the reference's `WindowStore<E, Long>` with
  * `retainDuplicates=false`, which also holds exactly one timestamp per id).
  * State is hash-partitioned by id across executors — the same distribution
  * Kafka Streams gets from key-partitioned topics, but re-shardable by
  * `spark.sql.shuffle.partitions` instead of fixed topic partitions. At
  * 100 TB / high key cardinality, state per executor = |live ids| / shards ×
  * 8 bytes, checkpointed incrementally (RocksDB provider recommended —
  * [[StateStores.useRocksDB]]).
  *
  * Watermark honesty (documented divergence, SURVEY.md §2.5): rows later
  * than the watermark are dropped by Spark before reaching the operator,
  * whereas Kafka Streams processes arbitrarily late records. Within the
  * watermark the two-sided probe is reproduced by comparing |t_stored − t|.
  */
object DedupStream {

  val DefaultWindowUs: Long = 10L * 60 * 1000000 // 10 min, reference :135
  val DefaultRetentionUs: Long = 10L * 60 * 1000000

  /** Records with no id are spread over this many groups by payload hash. */
  private val NullIdBuckets = 32

  /** Hand-pruned parse schema: only the dedup-id path. Catalyst's
    * OptimizeJsonExprs would prune `from_json(...).getField` chains
    * automatically, but ONLY when the parse has no options — threading
    * the FAILFAST mode through the optimizer-pruned form silently
    * re-parsed the full payload per record (measured: 24k → 16k rec/s).
    * FAILFAST over the pruned schema still fails malformed JSON
    * (Jackson-parity); type errors confined to never-read fields pass —
    * documented divergence, and the price of not decoding bytes nobody
    * reads.
    */
  private val IdSchema: StructType = StructType(Seq(StructField("exception",
    StructType(LogEvent.exceptionSchema.fields.filter(_.name == "exception_class")))))

  /** Per-key, per-micro-batch transition function. Events in a batch are
    * processed in event-time order (the reference sees them in offset
    * order; for in-order streams these agree — out-of-order records within
    * a batch are handled deterministically by the sort). A group of
    * records with no id passes through unchanged: it reads and writes no
    * state and sets no timeout (reference `KStreamDistinct.java:71-72`).
    */
  private def transition(windowUs: Long, retentionUs: Long, streamTime: Boolean)(
      key: DedupKey, rows: Iterator[SlimFrame],
      state: GroupState[Long]): Iterator[SlimFrame] = {
    if (key.id == null) rows
    else if (state.hasTimedOut) {
      state.remove()
      Iterator.empty
    } else {
      var last: Option[Long] = state.getOption
      // T2' stream-time axis: max timestamp observed so far for this key.
      // Scoped per key (the natural unit in a key-partitioned engine; the
      // reference's is per topic-partition, which co-partitions several
      // keys — documented divergence). Stored state IS a stream-time value
      // in this mode (refreshed on every record), so it seeds the axis
      // across micro-batches.
      var maxSeen: Long = if (streamTime) last.getOrElse(Long.MinValue) else Long.MinValue
      val out = rows.toSeq.sortBy(_.ts_us).filter { r =>
        // T2 (record time, reference KStreamDistinct.java:87) uses the
        // record's own timestamp; T2' (stream time, _example.java:65) uses
        // the max timestamp observed so far
        maxSeen = math.max(maxSeen, r.ts_us)
        val t = if (streamTime) maxSeen else r.ts_us
        val isDup = last.exists(l => math.abs(t - l) <= windowUs / 2)
        last = Some(t) // store/refresh in both branches (:77, :80)
        !isDup
      }
      last.foreach { l =>
        state.update(l)
        // expire retention past the newest stored timestamp (ms precision)
        try state.setTimeoutTimestamp(l / 1000 + retentionUs / 1000)
        catch { case _: UnsupportedOperationException => () } // batch mode
      }
      out.iterator
    }
  }

  /** Frame-level dedup, streaming or batch (same code path; the state
    * machinery is inert on a batch DataFrame). The payload is forwarded
    * verbatim (the reference's dedup never transforms values), so only the
    * dedup id is parsed out of the JSON and nothing is re-encoded. One
    * linear plan: one scan, one parse, one shuffle, one stateful operator.
    * Records with no id pass through it in groups of their own
    * ([[DedupKey]]) with a null event time, so they neither advance the
    * watermark nor are dropped as late.
    *
    * Input: a Kafka-shaped frame (`key`, `value`, `timestamp`); output the
    * same two columns, duplicates dropped.
    *
    * `streamTime = false` is T2 (record time, reference
    * `KStreamDistinct.java:87`); `streamTime = true` is T2' (stream time =
    * max timestamp observed so far per key, reference
    * `KStreamDistinct_example.java:65`) — under out-of-order input the two
    * modes disagree (a late record is compared/stored at stream time, not
    * its own time).
    */
  def dedupFrames(frames: DataFrame,
                  windowUs: Long = DefaultWindowUs,
                  retentionUs: Long = DefaultRetentionUs,
                  streamTime: Boolean = false,
                  mode: JsonCodec.Mode = JsonCodec.FailFast): DataFrame = {
    val spark = frames.sparkSession
    import spark.implicits._
    val id = col("id")
    frames
      .select(
        col("key").cast("string").as("key"),
        col("value").cast("string").as("value"),
        from_json(col("value").cast("string"), IdSchema,
          Map("mode" -> mode.sparkMode))
          .getField("exception").getField("exception_class").as("id"),
        col("timestamp"))
      // a projection of its own: `id` is read three times here, parsed once
      .select(col("key"), col("value"), id,
        when(id.isNull, pmod(hash(col("value")), lit(NullIdBuckets))).otherwise(-1).as("bucket"),
        unix_micros(col("timestamp")).as("ts_us"),
        when(id.isNotNull, col("timestamp")).as("timestamp"))
      .withWatermark("timestamp", "10 minutes")
      .groupBy(id, col("bucket")).as[DedupKey, SlimFrame]
      .flatMapGroupsWithState(OutputMode.Append, GroupStateTimeout.EventTimeTimeout)(
        transition(windowUs, retentionUs, streamTime))
      .select(col("key"), col("value"))
  }

  /** Tier-1 approximate dedup for arbitrary DataFrames: built-in
    * watermarked drop-duplicates (one-sided window, no refresh-on-dup —
    * SURVEY.md §2.4 notes the semantic differences). One line, fully
    * incremental, RocksDB-backed.
    */
  def dedupApprox(df: DataFrame, tsCol: String, keyCols: Seq[String],
                  watermark: String = "10 minutes"): DataFrame =
    df.withWatermark(tsCol, watermark)
      .dropDuplicatesWithinWatermark(keyCols.head, keyCols.tail: _*)
}
