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

  /** Direct transcription of DeduplicationTransformer for in-order input:
    * one stored timestamp per id, refreshed on every record; emit iff no
    * stored timestamp within ±window/2.
    */
  private def referenceModel(events: Seq[LogRecord]): Seq[LogRecord] = {
    val store = scala.collection.mutable.Map[String, Long]()
    events.filter { r =>
      r.event.flatMap(_.exception).flatMap(_.exception_class) match {
        case None => true
        case Some(id) =>
          val dup = store.get(id).exists(l => math.abs(r.event_time_us - l) <= WindowUs / 2)
          store(id) = r.event_time_us
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
    * compared against and stored in place of record time. Scope here is
    * per key (the engine's unit of state partitioning; the reference's is
    * the topic partition — documented divergence).
    */
  private def referenceModelStreamTime(events: Seq[LogRecord]): Seq[LogRecord] = {
    val store = scala.collection.mutable.Map[String, Long]()
    val streamT = scala.collection.mutable.Map[String, Long]()
    events.filter { r =>
      r.event.flatMap(_.exception).flatMap(_.exception_class) match {
        case None => true
        case Some(id) =>
          val st = math.max(streamT.getOrElse(id, Long.MinValue), r.event_time_us)
          streamT(id) = st
          val dup = store.get(id).exists(l => math.abs(st - l) <= WindowUs / 2)
          store(id) = st
          !dup
      }
    }
  }

  test("streaming T2'/T2 match their reference models on seeded out-of-order multi-batch input") {
    val Base = 86400L * 1000000 // past the epoch-0 initial watermark
    val Min = 60L * 1000000
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
