package graft

import scala.collection.mutable

import org.apache.spark.scheduler._

/** Dev utility (guide §1): where does a query's wall-clock actually go?
  *
  * {{{ sbt "runMain graft.Profile q21_approx [/root/testdata/sf0.1]" }}}
  *
  * Runs the query once cold + once warm under a SparkListener and prints,
  * per run: wall seconds, job count, stage count, task count, summed
  * executor run/GC/shuffle-fetch/serde time, and per-stage rows so the
  * expensive stage is identifiable without the UI (which is disabled in
  * the bench protocol). A query whose warm wall is far above its summed
  * executor time divided by core count is scheduling/driver-bound, not
  * compute-bound — different fix (fewer jobs/stages/partitions) than a
  * compute-heavy stage (better expressions/algorithm).
  */
object Profile {
  private final class Acc extends SparkListener {
    var jobs = 0
    var stages = 0
    var tasks = 0
    var execRunMs = 0L
    var gcMs = 0L
    var fetchWaitMs = 0L
    var shuffleWriteMs = 0L
    var resultSerMs = 0L
    var deserMs = 0L
    val stageRows = mutable.ArrayBuffer.empty[String]
    private val stageAgg = mutable.Map.empty[Int, (Int, Long)] // tasks, runMs

    override def onJobStart(j: SparkListenerJobStart): Unit = jobs += 1
    override def onStageCompleted(s: SparkListenerStageCompleted): Unit = {
      stages += 1
      val info = s.stageInfo
      val (n, run) = stageAgg.getOrElse(info.stageId, (0, 0L))
      stageRows += f"    stage ${info.stageId}%4d ${info.name.takeWhile(_ != '\n').take(60)}%-60s tasks=$n%4d run=${run / 1000.0}%8.2fs"
    }
    override def onTaskEnd(t: SparkListenerTaskEnd): Unit = if (t.taskMetrics != null) {
      tasks += 1
      val m = t.taskMetrics
      execRunMs += m.executorRunTime
      gcMs += m.jvmGCTime
      fetchWaitMs += m.shuffleReadMetrics.fetchWaitTime
      shuffleWriteMs += m.shuffleWriteMetrics.writeTime / 1000000L
      resultSerMs += m.resultSerializationTime
      deserMs += m.executorDeserializeTime
      val (n, run) = stageAgg.getOrElse(t.stageId, (0, 0L))
      stageAgg(t.stageId) = (n + 1, run + m.executorRunTime)
    }
  }

  def main(args: Array[String]): Unit = {
    val names = args.filter(!_.startsWith("/")).toSeq match {
      case Nil => sys.error("usage: Profile <query>[,query2,...] [sfDir]")
      case qs  => qs.flatMap(_.split(",").toSeq)
    }
    val sfDir = args.find(_.startsWith("/")).getOrElse("/root/testdata/sf0.1")
    val spark = DevSession()

    names.foreach { name =>
      val fn = SparkEntry.queries(name)
      def run(tag: String, detail: Boolean): Unit = {
        val acc = new Acc
        spark.sparkContext.addSparkListener(acc)
        val t0 = System.nanoTime()
        fn(spark, sfDir).write.format("noop").mode("overwrite").save()
        val wall = (System.nanoTime() - t0) / 1e9
        Thread.sleep(400) // listener bus is async; let task-end events drain
        spark.sparkContext.removeSparkListener(acc)
        println(f"$name%-36s $tag wall=$wall%7.3fs jobs=${acc.jobs}%3d stages=${acc.stages}%3d tasks=${acc.tasks}%5d " +
          f"execRun=${acc.execRunMs / 1000.0}%8.2fs gc=${acc.gcMs / 1000.0}%6.2fs fetch=${acc.fetchWaitMs / 1000.0}%5.2fs " +
          f"serde=${(acc.deserMs + acc.resultSerMs) / 1000.0}%5.2fs shufW=${acc.shuffleWriteMs / 1000.0}%5.2fs")
        if (detail) acc.stageRows.foreach(println)
      }
      // cold = first run (JIT + barrier build); hot = barriers left warm,
      // exactly the bench protocol's timed-run regime (within a query the
      // warm-up run's barriers stay live; CacheScope.release only between
      // queries)
      run("cold", detail = false)
      run("hot1", detail = false)
      run("hot2", detail = sys.env.get("GRAFT_PROFILE_STAGES").contains("1"))
      CacheScope.release(); spark.catalog.clearCache(); System.gc()
    }
    spark.stop()
  }
}
