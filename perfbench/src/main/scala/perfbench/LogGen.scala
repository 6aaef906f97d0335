package perfbench

import java.nio.charset.StandardCharsets.UTF_8
import java.sql.Timestamp
import java.util.SplittableRandom

import scala.util.hashing.MurmurHash3

/** One Kafka-shaped input frame, as the T1/T2 pipelines read it. */
final case class Frame(key: String, value: String, timestamp: Timestamp)

/** A generated log event with the fields the reference models need. */
final case class Rec(key: String, value: String, level: String, id: String,
                     tsMs: Long) {
  def frame: Frame = Frame(key, value, new Timestamp(tsMs))
}

/** Deterministic, seeded generator of Splunk-style JSON log frames.
  *
  * Record i is a pure function of (seed, i): records come in blocks of
  * [[Block]], each drawn from its own `SplittableRandom`, so any prefix of
  * the stream can be regenerated after a run to rebuild the expected
  * output. Event time advances [[DtMs]] per record minus a per-id skew
  * below [[MaxSkewMs]], so each id's times never go backwards and the
  * disorder across ids stays far below the pipelines' 10-minute watermark.
  *
  * `t2 = false` is the T1 mix (mostly INFO, some DEBUG/WARN, ERROR events
  * with stack traces, a few events with no level); `t2 = true` is the T2
  * mix (three in four events carry an exception whose class is drawn from
  * a Zipf law over [[Classes]] classes).
  */
final class LogGen(seed: Long, t2: Boolean) {
  import LogGen._

  private val zipfCdf: Array[Double] = {
    val w = Array.tabulate(Classes)(k => 1.0 / math.pow(k + 1, ZipfS))
    val tot = w.sum
    var acc = 0.0
    w.map { x => acc += x; acc / tot }
  }

  private def zipf(r: SplittableRandom): Int = {
    val u = r.nextDouble()
    val i = java.util.Arrays.binarySearch(zipfCdf, u)
    math.min(if (i >= 0) i else -i - 1, Classes - 1)
  }

  def block(b: Long): Array[Rec] = {
    val r = new SplittableRandom(seed * 0x9E3779B97F4A7C15L + b)
    Array.tabulate(Block) { j => record(b * Block + j, r) }
  }

  private def record(i: Long, r: SplittableRandom): Rec = {
    val roll = r.nextInt(100)
    val (level, withEx) =
      if (t2) (if (roll < 75) "ERROR" else "INFO", roll < 75)
      else if (roll < 55) ("INFO", false)
      else if (roll < 70) ("DEBUG", false)
      else if (roll < 84) ("WARN", false)
      else if (roll < 96) ("ERROR", true)
      else (null, false)
    val cls = if (withEx) s"com.acme.err.E${zipf(r)}" else null
    val skew = if (cls != null) Math.floorMod(cls.hashCode, MaxSkewMs.toInt)
               else r.nextInt(MaxSkewMs.toInt)
    val tsMs = BaseMs + i * DtMs - skew
    val host = r.nextInt(64)
    val thread = r.nextInt(16)
    val svc = Services(r.nextInt(Services.length))
    val b = new java.lang.StringBuilder(if (withEx) 640 else 240)
    b.append('{')
    if (withEx) {
      b.append("\"exception\":{\"exception_class\":\"").append(cls)
        .append("\",\"exception_message\":\"request ").append(r.nextInt(100000))
        .append(" failed\",\"stacktrace\":\"").append(cls).append(": boom")
      val depth = 3 + r.nextInt(6)
      var d = 0
      while (d < depth) {
        b.append("\\n\\tat com.acme.").append(svc).append(".Handler")
          .append(d).append(".handle(Handler").append(d).append(".java:")
          .append(10 + r.nextInt(400)).append(')')
        d += 1
      }
      b.append("\"},")
    }
    b.append("\"version\":1,\"source_host\":\"host-").append(host)
      .append("\",\"message\":\"").append(svc).append(' ')
      .append(Verbs(r.nextInt(Verbs.length))).append(" id=").append(r.nextInt(1000000))
      .append("\",\"thread_name\":\"worker-").append(thread)
      .append("\",\"timestamp\":\"").append(isoMs(tsMs)).append('"')
    if (level != null) b.append(",\"level\":\"").append(level).append('"')
    b.append(",\"logger_name\":\"com.acme.").append(svc).append("\"}")
    Rec(s"k$i", b.toString, level, cls, tsMs)
  }

  /** Sequential reader over the stream: hands out consecutive records. */
  final class Cursor {
    private var buf: Array[Rec] = Array.empty
    private var pos = 0
    private var nextBlock = 0L
    var taken = 0L
    def take(n: Int): Array[Rec] = {
      val out = new Array[Rec](n)
      var k = 0
      while (k < n) {
        if (pos == buf.length) { buf = block(nextBlock); nextBlock += 1; pos = 0 }
        val m = math.min(n - k, buf.length - pos)
        System.arraycopy(buf, pos, out, k, m)
        pos += m; k += m
      }
      taken += n
      out
    }
  }
  def cursor(): Cursor = new Cursor
}

object LogGen {
  val Block = 1024
  val Classes = 100000
  val ZipfS = 1.05
  val DtMs = 50L
  val MaxSkewMs = 120000L
  val BaseMs = 1704067200000L // 2024-01-01T00:00:00Z
  val HalfWindowMs: Long = 5L * 60 * 1000
  val RetentionMs: Long = 10L * 60 * 1000
  private val Services = Array("orders", "billing", "search", "auth", "cart",
    "ship", "users", "report")
  private val Verbs = Array("handled request", "cache miss", "retrying call",
    "opened session", "closed session", "queued job", "flushed batch")

  private val IsoFmt = java.time.format.DateTimeFormatter
    .ofPattern("yyyy-MM-dd'T'HH:mm:ss.SSSZ").withZone(java.time.ZoneOffset.UTC)
  def isoMs(ms: Long): String = IsoFmt.format(java.time.Instant.ofEpochMilli(ms))

  /** Order-independent 64-bit digest term of one output (key, value). */
  def term(key: Array[Byte], value: Array[Byte]): Long = {
    val h = (MurmurHash3.bytesHash(key, 0x1b873593).toLong << 32) ^
      (MurmurHash3.bytesHash(value, 0x2f4a7c15).toLong & 0xffffffffL)
    fmix(h)
  }
  def term(key: String, value: String): Long = term(key.getBytes(UTF_8), value.getBytes(UTF_8))

  private def fmix(x0: Long): Long = {
    var x = x0
    x ^= x >>> 33; x *= 0xff51afd7ed558ccdL
    x ^= x >>> 33; x *= 0xc4ceb53fe185a87bL
    x ^ (x >>> 33)
  }

  /** Count and digest of a multiset of outputs. */
  final case class Digest(count: Long, sum: Long) {
    def +(t: Long): Digest = Digest(count + 1, sum + t)
  }
  val Empty: Digest = Digest(0L, 0L)

  /** Reference T1 semantics: keep level == "INFO"; an event with no level
    * is dropped. The re-encoded value equals the input payload because the
    * generator writes JSON in the schema's field order without nulls.
    */
  def t1Model(recs: Iterator[Rec]): Digest =
    recs.foldLeft(Empty) { (d, r) =>
      if (r.level == "INFO") d + term(r.key, r.value) else d }

  /** Result of the T2 reference model over a stream prefix. */
  final case class DedupOut(digest: Digest, idRecords: Long, suppressed: Long)

  /** Reference T2 semantics (reference `KStreamDistinct.java:69-103`):
    * a record with no dedup id passes through; otherwise it is a duplicate
    * iff the id's stored time lies within ±5 minutes of its event time;
    * duplicates are suppressed and still refresh the stored time; a stored
    * time older than the 10-minute retention has expired.
    */
  def t2Model(recs: Iterator[Rec]): DedupOut = {
    val last = new java.util.HashMap[String, java.lang.Long]()
    var d = Empty
    var ids = 0L
    var sup = 0L
    recs.foreach { r =>
      if (r.id == null) d = d + term(r.key, r.value)
      else {
        ids += 1
        val prev = last.get(r.id)
        val live = prev != null && r.tsMs - prev.longValue <= RetentionMs
        val dup = live && math.abs(r.tsMs - prev.longValue) <= HalfWindowMs
        last.put(r.id, r.tsMs)
        if (dup) sup += 1 else d = d + term(r.key, r.value)
      }
    }
    DedupOut(d, ids, sup)
  }
}
