package graft.streaming

import org.scalacheck.{Gen, Prop, Test => SCTest}
import graft.SparkSpec
import graft.model.{ExceptionInfo, LogEvent}

/** Property tests (SURVEY.md §5.2.4): the distributed operator — the
  * shipped [[Pipelines.dedupPipeline]] over Kafka-shaped frames — must
  * agree with a single-threaded Scala transcription of the reference
  * algorithm (`KStreamDistinct.java:69-103`) on arbitrary event sequences.
  */
class DedupPropertySpec extends SparkSpec {

  private def checkProp(p: Prop, n: Int = 20): Unit = {
    val res = SCTest.check(SCTest.Parameters.default
      .withMinSuccessfulTests(n).withWorkers(1), p)
    assert(res.passed, res.status.toString)
  }

  private val WindowUs = DedupStream.DefaultWindowUs
  private val RetentionUs = DedupStream.DefaultRetentionUs
  private val Base = 86400L * 1000000 // past the epoch-0 initial watermark
  private val Min = 60L * 1000000

  /** Direct transcription of DeduplicationTransformer for in-order input:
    * one stored timestamp per id, refreshed on every record and live while
    * the record is at most `retention` past it (perfbench's `t2Model`);
    * emit iff no live stored timestamp within ±window/2.
    */
  private def referenceModel(events: Seq[LogRecord]): Seq[LogRecord] = {
    val store = scala.collection.mutable.Map[String, Long]()
    events.filter { r =>
      r.event.flatMap(_.exception).flatMap(_.exception_class) match {
        case None => true
        case Some(id) =>
          val t = r.event_time_us
          val dup = store.get(id).exists(l => t - l <= RetentionUs && math.abs(t - l) <= WindowUs / 2)
          store(id) = t
          !dup
      }
    }
  }

  private def rec(id: Option[String], tUs: Long): LogRecord =
    LogRecord(Some("k"),
      Some(LogEvent(id.map(i => ExceptionInfo(Some(i), None, None)),
        1, None, None, None, None, Some("ERROR"), None)),
      tUs)

  private val genEvents: Gen[List[LogRecord]] = for {
    n <- Gen.choose(0, 60)
    ids <- Gen.listOfN(n, Gen.oneOf(Some("A"), Some("B"), Some("C"), None))
    // inter-arrival gaps up to 8 minutes so sequences cross the ±5 min
    // boundary in both directions
    gaps <- Gen.listOfN(n, Gen.choose(0L, 8L * 60 * 1000000))
  } yield {
    val times = gaps.scanLeft(0L)(_ + _).tail
    ids.zip(times).map { case (id, t) => rec(id, t) }
  }

  private def idAndTime(r: LogRecord): (String, Long) =
    (r.event.flatMap(_.exception).flatMap(_.exception_class).getOrElse(""), r.event_time_us)

  test("distributed dedup == reference model on arbitrary in-order sequences") {
    checkProp(Prop.forAll(genEvents) { events =>
      val expect = referenceModel(events).map(idAndTime).sorted
      val got = DedupFrames.dedupBatch(spark, events).map(idAndTime).sorted
      got == expect
    })
  }

  /** T2' transcription (reference `KStreamDistinct_example.java:65,94,97`):
    * the dedup axis is stream time — the max timestamp observed so far —
    * compared against and stored in place of record time, with the same
    * liveness as [[referenceModel]]. Scope here is per key (the engine's
    * unit of state partitioning; the reference's is the topic partition —
    * documented divergence).
    */
  private def referenceModelStreamTime(events: Seq[LogRecord]): Seq[LogRecord] = {
    val store = scala.collection.mutable.Map[String, Long]()
    events.filter { r =>
      r.event.flatMap(_.exception).flatMap(_.exception_class) match {
        case None => true
        case Some(id) =>
          val live = store.get(id).filter(l => r.event_time_us - l <= RetentionUs)
          val st = math.max(live.getOrElse(Long.MinValue), r.event_time_us)
          val dup = live.exists(l => math.abs(st - l) <= WindowUs / 2)
          store(id) = st
          !dup
      }
    }
  }

  test("streaming T2'/T2 match their reference models on seeded out-of-order multi-batch input") {
    val rnd = new scala.util.Random(42)

    // 6 seeded scenarios: 2-4 batches, each internally time-ordered, batch
    // start up to 8 min BEFORE the running max (out of order, but inside
    // the 10-min watermark so no row is late-dropped).
    val scenarios = (0 until 6).map { _ =>
      var maxTs = Base
      (0 until 2 + rnd.nextInt(3)).map { _ =>
        val start = math.max(Base, maxTs + (rnd.nextLong(16 * Min) - 8 * Min))
        var t = start
        val batch = (0 until 1 + rnd.nextInt(8)).map { _ =>
          t += rnd.nextLong(3 * Min)
          rec(Some("A"), t)
        }
        maxTs = math.max(maxTs, t)
        batch
      }
    }

    // Hot-key scenario: 120 distinct timestamps 15 s apart, shuffled within
    // 75 s blocks (out of order inside a batch but never watermark-late),
    // ~70% on hot id "H", streamed in 40-record batches.
    val hotKey = {
      val rnd = new scala.util.Random(7)
      val perm = (0 until 120).map(k => Base + k * 15000000L)
        .grouped(5).flatMap(g => rnd.shuffle(g)).toSeq
      perm.map { ts =>
        val id = if (rnd.nextInt(10) < 7) "H" else s"C${rnd.nextInt(3)}"
        rec(Some(id), ts)
      }.grouped(40).toSeq
    }

    def runStreaming(batches: Seq[Seq[LogRecord]], streamTime: Boolean): Seq[(String, Long)] =
      DedupFrames.dedupStreaming(spark, batches, streamTime = streamTime)
        .map(idAndTime).sorted

    (scenarios :+ hotKey).foreach { batches =>
      // processing order inside the operator = event-time sort per batch —
      // feed the single-threaded models the same order
      val arrival = batches.flatMap(_.sortBy(_.event_time_us))
      val expectT2 = referenceModel(arrival).map(idAndTime).sorted
      val expectT2p = referenceModelStreamTime(arrival).map(idAndTime).sorted
      assert(runStreaming(batches, streamTime = false) == expectT2, s"T2 mismatch: $batches")
      assert(runStreaming(batches, streamTime = true) == expectT2p, s"T2' mismatch: $batches")
    }
    val hotExpect = referenceModel(hotKey.flatMap(_.sortBy(_.event_time_us)))
    assert(hotExpect.nonEmpty && hotExpect.size < hotKey.flatten.size,
      "the hot-key scenario must actually suppress")
  }

  test("T2/T2' on RocksDB: no-data batches on or off give the retention-aware model's output, with state evicted") {
    val rnd = new scala.util.Random(2013)
    // 2 seeded scenarios of 6 batches, each batch internally time-ordered.
    // A batch starts up to 8 min before the running max (out of order, but
    // never later than the 10-min watermark), or after a quiet gap of 21-30
    // min: longer than retention plus the watermark delay, so every state
    // stored before the gap expires at the next watermark.
    val scenarios = (0 until 2).map { _ =>
      var maxTs = Base
      (0 until 6).map { b =>
        var t =
          if (b == 2 || rnd.nextInt(4) == 0) maxTs + 21 * Min + rnd.nextLong(9 * Min)
          else math.max(Base, maxTs - 8 * Min + rnd.nextLong(11 * Min))
        val batch = (0 until 1 + rnd.nextInt(8)).map { _ =>
          t += rnd.nextLong(2 * Min)
          rec(Option.when(rnd.nextInt(5) > 0)("ABCDEF"(rnd.nextInt(6)).toString), t)
        }
        maxTs = math.max(maxTs, t)
        batch
      }
    }
    val removed = scala.collection.mutable.Map[String, Long]().withDefaultValue(0L)
    scenarios.foreach { batches =>
      val arrival = batches.flatMap(_.sortBy(_.event_time_us))
      Seq(false, true).foreach { streamTime =>
        val expect = (if (streamTime) referenceModelStreamTime(arrival) else referenceModel(arrival))
          .map(idAndTime).sorted
        Seq("true", "false").foreach { on =>
          val (out, progress) = withRocksDB {
            spark.conf.set(SparkSpec.NoDataBatches, on)
            DedupFrames.dedupStreamingProgress(spark, batches, streamTime = streamTime)
          }
          assert(out.map(idAndTime).sorted == expect,
            s"streamTime $streamTime, no-data batches $on: $batches")
          // the eviction-only batches run exactly when they are on
          assert(progress.exists(_.numInputRows == 0) == (on == "true"), progress.map(_.json))
          removed(on) += progress.map(_.stateOperators.head.numRowsRemoved).sum
        }
      }
    }
    assert(removed("true") > 0 && removed("false") > 0, s"state rows removed: $removed")
  }

  test("batch dedup twin (EventOps.dedupWindowed) agrees on single-key in-order input") {
    val s = spark
    import s.implicits._
    checkProp(Prop.forAll(Gen.listOf(Gen.choose(0L, 6L * 60 * 1000000))) { gaps =>
      val times = gaps.scanLeft(0L)(_ + _).tail
      val events = times.map(t => rec(Some("A"), t))
      val expect = referenceModel(events).map(_.event_time_us).toSet
      val df = spark.createDataset(events).toDF()
        .selectExpr("event.exception.exception_class AS id",
          "event_time_us * 1000 AS ts", "event_time_us AS event_id")
      val got = graft.operators.EventOps
        .dedupWindowed(df, Seq("id"), "ts", "event_id", WindowUs / 2)
        .select("event_id").collect().map(_.getLong(0)).toSet
      got == expect
    })
  }
}
