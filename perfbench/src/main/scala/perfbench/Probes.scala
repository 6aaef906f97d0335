package perfbench

import java.util.concurrent.atomic.{AtomicLong, LongAdder}

import scala.collection.mutable

import org.apache.spark.scheduler._
import org.apache.spark.sql.{ForeachWriter, Row}

/** Output sink of the streaming workloads: counts every output row and
  * folds it into an order-independent digest. Tasks run in this JVM
  * (local mode), so plain process-wide counters suffice.
  */
object SinkDigest {
  val count = new LongAdder
  val sum = new LongAdder
  def reset(): Unit = { count.reset(); sum.reset() }
  def digest: LogGen.Digest = LogGen.Digest(count.sum(), sum.sum())
}

final class DigestWriter extends ForeachWriter[Row] {
  def open(partitionId: Long, epochId: Long): Boolean = true
  def process(row: Row): Unit = {
    SinkDigest.count.increment()
    SinkDigest.sum.add(LogGen.term(row.getAs[Array[Byte]](0), row.getAs[Array[Byte]](1)))
  }
  def close(errorOrNull: Throwable): Unit = ()
}

/** One traced interval. Times are epoch milliseconds. */
final case class Span(trace: String, id: Long, parent: Long, name: String,
                      start: Double, end: Double)

object Tracer {
  /** Root spans: one per micro-batch or batch query (one trace each). */
  def isRoot(name: String): Boolean = name.startsWith("batch ") || name.startsWith("query ")
}

/** In-memory span store, written out once at the end of a traced run. */
final class Tracer {
  private val next = new AtomicLong(1)
  val spans = mutable.ArrayBuffer.empty[Span]
  def add(trace: String, parent: Long, name: String, start: Double, end: Double): Long =
    synchronized {
      val id = next.getAndIncrement()
      spans += Span(trace, id, parent, name, start, end)
      id
    }

  /** Self time per span name, summed over all spans of that name. */
  def selfMsByName: Map[String, Double] = synchronized {
    val kids = spans.groupBy(_.parent)
    spans.groupBy(s => s.name.takeWhile(_ != ' ')).map { case (n, ss) =>
      n -> ss.map { s =>
        val ch = kids.getOrElse(s.id, Nil).map(c =>
          ((c.start * 1000).toLong, (c.end * 1000).toLong))
        Stats.selfTime((s.start * 1000).toLong, (s.end * 1000).toLong, ch.toSeq) / 1000.0
      }.sum
    }
  }

  def write(path: java.nio.file.Path): Unit = synchronized {
    val lines = spans.map(s => Json.render(Map("trace" -> s.trace, "id" -> s.id,
      "parent" -> s.parent, "name" -> s.name, "start_ms" -> s.start,
      "end_ms" -> s.end)))
    java.nio.file.Files.write(path, (lines.mkString("\n") + "\n").getBytes("UTF-8"))
  }
}

/** The benchmark's own SparkListener: job/stage/task counters and
  * executor metrics, totalled and split by a per-job tag (the streaming
  * batch id or the batch query's job group). With a [[Tracer]] it also
  * records job and stage spans under the tag's trace.
  */
final class SparkProbe(tracer: Option[Tracer]) extends SparkListener {
  final class Acc {
    var jobs, stages, tasks = 0L
    var runMs, cpuNs, gcMs, shufRead, shufWrite, fetchWaitMs, spill = 0L
  }
  val total = new Acc
  val byTag = mutable.HashMap.empty[String, Acc]
  private val jobTag = mutable.HashMap.empty[Int, String]
  private val stageJob = mutable.HashMap.empty[Int, Int]
  private val jobStart = mutable.HashMap.empty[Int, Long]
  private val jobSpan = mutable.HashMap.empty[Int, Long]

  private def tagOf(p: java.util.Properties): String =
    if (p == null) "none"
    else Option(p.getProperty("streaming.sql.batchId")).map("batch-" + _)
      .orElse(Option(p.getProperty("spark.jobGroup.id")))
      .getOrElse("none")

  private def accs(tag: String): Seq[Acc] = Seq(total, byTag.getOrElseUpdate(tag, new Acc))

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val tag = tagOf(e.properties)
    jobTag(e.jobId) = tag
    jobStart(e.jobId) = e.time
    e.stageIds.foreach(s => stageJob(s) = e.jobId)
    accs(tag).foreach(_.jobs += 1)
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    tracer.foreach { t =>
      val tag = jobTag.getOrElse(e.jobId, "none")
      jobSpan(e.jobId) = t.add(tag, 0, s"job ${e.jobId}",
        jobStart.getOrElse(e.jobId, e.time).toDouble, e.time.toDouble)
    }
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
    val info = e.stageInfo
    val job = stageJob.get(info.stageId)
    val tag = job.flatMap(jobTag.get).getOrElse("none")
    accs(tag).foreach(_.stages += 1)
    tracer.foreach { t =>
      for (s <- info.submissionTime; c <- info.completionTime)
        t.add(tag, -1L - job.getOrElse(-1), s"stage ${info.stageId}", s.toDouble, c.toDouble)
    }
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    val m = e.taskMetrics
    val tag = stageJob.get(e.stageId).flatMap(jobTag.get).getOrElse("none")
    accs(tag).foreach { a =>
      a.tasks += 1
      if (m != null) {
        a.runMs += m.executorRunTime
        a.cpuNs += m.executorCpuTime
        a.gcMs += m.jvmGCTime
        a.shufRead += m.shuffleReadMetrics.totalBytesRead
        a.shufWrite += m.shuffleWriteMetrics.bytesWritten
        a.fetchWaitMs += m.shuffleReadMetrics.fetchWaitTime
        a.spill += m.memoryBytesSpilled + m.diskBytesSpilled
      }
    }
  }

  /** Parent links that were unknown when a span was recorded: a stage
    * completes before its job span exists, and a job starts before the
    * workload records its batch or query root span. Called once, at the
    * end of a traced run.
    */
  def link(): Unit = synchronized {
    tracer.foreach { t =>
      t.synchronized {
        val roots = t.spans.filter(s => s.parent == 0 && Tracer.isRoot(s.name))
          .map(s => s.trace -> s.id).toMap
        val fixed = t.spans.map { s =>
          if (s.parent < 0) s.copy(parent = jobSpan.getOrElse((-1L - s.parent).toInt, 0L))
          else if (s.parent == 0 && !Tracer.isRoot(s.name))
            s.copy(parent = roots.getOrElse(s.trace, 0L))
          else s
        }
        t.spans.clear(); t.spans ++= fixed
      }
    }
  }

  def metrics(a: Acc, wallS: Double, cores: Int, prefix: String): Seq[(String, Double, String)] = Seq(
    (s"${prefix}jobs", a.jobs.toDouble, "count"),
    (s"${prefix}stages", a.stages.toDouble, "count"),
    (s"${prefix}tasks", a.tasks.toDouble, "count"),
    (s"${prefix}executor_run_ms", a.runMs.toDouble, "ms"),
    (s"${prefix}executor_cpu_ms", a.cpuNs / 1e6, "ms"),
    (s"${prefix}gc_ms", a.gcMs.toDouble, "ms"),
    (s"${prefix}shuffle_read_bytes", a.shufRead.toDouble, "bytes"),
    (s"${prefix}shuffle_write_bytes", a.shufWrite.toDouble, "bytes"),
    (s"${prefix}fetch_wait_ms", a.fetchWaitMs.toDouble, "ms"),
    (s"${prefix}spill_bytes", a.spill.toDouble, "bytes"),
    (s"${prefix}busy_share", if (wallS > 0) a.runMs / (wallS * 1000 * cores) else 0.0, "ratio"))
}
