package graft

import scala.collection.mutable

import org.apache.spark.SparkContext
import org.apache.spark.scheduler._

/** The run-metrics listener: where did one action's wall-clock go?
  *
  * Counts jobs, stages and tasks and sums the executors' task metrics
  * with the benchmark's `SparkProbe` definitions, so the numbers compare
  * across `graft.Bench` records and perfbench's `spark.*` layer. A run
  * whose wall is far above its summed executor time over the cores
  * (`busyShare` near 0) is scheduling- or driver-bound, and the fix is
  * fewer jobs, stages or partitions; a run near 1 is compute-bound.
  * [[RunMetrics.of]] attaches a fresh listener around one action and
  * drains the listener bus before reading it.
  */
final class RunMetrics(val cores: Int) extends SparkListener {
  var wallS = 0.0
  var jobs, stages, tasks = 0L
  var runMs, cpuNs, gcMs, shufRead, shufWrite, fetchWaitMs, spill = 0L
  /** task deserialization + result serialization, and shuffle-write time */
  var serdeMs, shufWriteNs = 0L
  private val stageNames = mutable.HashMap.empty[Int, (String, String)] // name, op
  private val stageRun = mutable.HashMap.empty[Int, (Long, Long)] // tasks, runMs

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized { jobs += 1 }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
    stages += 1
    // the call site names broadcast and subquery stages after the thread
    // pool that ran them; the last RDD's scope names the plan node, unless
    // AQE's wrapper or a Dataset-to-RDD conversion made that RDD
    val op = e.stageInfo.rddInfos.sortBy(-_.id).flatMap(_.scope).map(_.name)
      .find(!Set("AdaptiveSparkPlan", "mapPartitions", "mapPartitionsInternal")(_)).getOrElse("")
    stageNames(e.stageInfo.stageId) = (e.stageInfo.name.takeWhile(_ != '\n').take(60), op)
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    tasks += 1
    val m = e.taskMetrics
    if (m != null) {
      runMs += m.executorRunTime
      cpuNs += m.executorCpuTime
      gcMs += m.jvmGCTime
      shufRead += m.shuffleReadMetrics.totalBytesRead
      shufWrite += m.shuffleWriteMetrics.bytesWritten
      fetchWaitMs += m.shuffleReadMetrics.fetchWaitTime
      spill += m.memoryBytesSpilled + m.diskBytesSpilled
      serdeMs += m.executorDeserializeTime + m.resultSerializationTime
      shufWriteNs += m.shuffleWriteMetrics.writeTime
      val (n, run) = stageRun.getOrElse(e.stageId, (0L, 0L))
      stageRun(e.stageId) = (n + 1, run + m.executorRunTime)
    }
  }

  /** Executor run time over the wall-clock capacity of the local cores. */
  def busyShare: Double = synchronized {
    if (wallS > 0) runMs / (wallS * 1000 * cores) else 0.0
  }

  /** The 3 stages with the most executor run time, most first:
    * (stage id, name, tasks, run ms, operation scope).
    */
  def topStages: Seq[(Int, String, Long, Long, String)] = synchronized {
    stageRun.toSeq.sortBy { case (id, (_, run)) => (-run, id) }.take(3).map {
      case (id, (n, run)) =>
        val (name, op) = stageNames.getOrElse(id, ("", ""))
        (id, name, n, run, op)
    }
  }

  /** The counters as JSON object members (no braces), in perfbench's
    * key names; executor GC is `executor_gc_ms`.
    */
  def json: String = synchronized {
    def esc(s: String) = s.flatMap {
      case '"' => "\\\""
      case '\\' => "\\\\"
      case c if c < ' ' => " "
      case c => c.toString
    }
    val top = topStages.map { case (id, name, n, run, op) =>
      s"""{"id":$id,"name":"${esc(name)}","op":"${esc(op)}","tasks":$n,"run_ms":$run}"""
    }.mkString("[", ",", "]")
    Seq("jobs" -> jobs, "stages" -> stages, "tasks" -> tasks,
      "executor_run_ms" -> runMs, "executor_cpu_ms" -> cpuNs / 1000000L,
      "executor_gc_ms" -> gcMs, "shuffle_read_bytes" -> shufRead,
      "shuffle_write_bytes" -> shufWrite, "fetch_wait_ms" -> fetchWaitMs,
      "spill_bytes" -> spill, "serde_ms" -> serdeMs,
      "shuffle_write_ms" -> shufWriteNs / 1000000L)
      .map { case (k, v) => s""""$k":$v""" }.mkString(",") +
      ",\"busy_share\":" + "%.4f".formatLocal(java.util.Locale.ROOT, busyShare) +
      ",\"top_stages\":" + top
  }
}

object RunMetrics {
  /** Runs `body` under a fresh listener and returns its counters once
    * every event the run posted has reached the listener. `wallS` times
    * `body` alone, not the drain.
    */
  def of(sc: SparkContext)(body: => Unit): RunMetrics = {
    val m = new RunMetrics(sc.defaultParallelism)
    sc.addSparkListener(m)
    try {
      val t0 = System.nanoTime()
      body
      m.wallS = (System.nanoTime() - t0) / 1e9
      ListenerBusDrain(sc)
    } finally sc.removeSparkListener(m)
    m
  }
}
