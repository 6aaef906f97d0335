package graft

import org.apache.logging.log4j.Level
import org.apache.logging.log4j.core.config.Configurator
import org.apache.spark.sql.SparkSession

/** The local session every dev main (Bench, Profile, Verify, TwinCheck,
  * PlanDump, the data generators, the streaming benches, the demo) starts
  * from, so they all measure under the same settings:
  *
  *   - master `local[n]`, `n` = `SPARK_GRAFT_CPUS` or, when unset, the
  *     host's available processors;
  *   - shuffle partitions = `SPARK_GRAFT_SHUFFLE_PARTITIONS` or `n` (a
  *     sweep that holds partitions fixed while data grows 10× measures
  *     partition pressure, not the plan — SCALE.md);
  *   - UTC session time zone, Spark UI off, WARN logging;
  *   - any `(key, value)` the caller passes, which wins over the above.
  *
  * It does not call [[Graft.init]]: Verify and Bench run bare sessions,
  * the ones the oracle gate checks.
  */
object DevSession {
  /** The session settings for an environment and processor count (pure,
    * so tests can check them without building a second session).
    */
  private[graft] def settings(env: Map[String, String], availableProcessors: Int,
                              extra: Seq[(String, String)]): Map[String, String] = {
    val cores = env.getOrElse("SPARK_GRAFT_CPUS", availableProcessors.toString)
    Map(
      "spark.master" -> s"local[$cores]",
      "spark.sql.shuffle.partitions" ->
        env.getOrElse("SPARK_GRAFT_SHUFFLE_PARTITIONS", cores),
      "spark.sql.session.timeZone" -> "UTC",
      "spark.ui.enabled" -> "false") ++ extra
  }

  def apply(extra: (String, String)*): SparkSession = {
    val spark = settings(sys.env, Runtime.getRuntime.availableProcessors, extra)
      .foldLeft(SparkSession.builder()) { case (b, (k, v)) => b.config(k, v) }
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    // Unpersisting a localCheckpoint block on CacheScope.release logs
    // "lineage has been truncated and cannot be recomputed" at WARN. That
    // is the expected consequence of the release contract (memoized frames
    // are invalid after release), so a bench or Verify run would print
    // one WARN per tracked checkpoint per release. Silence that logger in
    // dev runs only; genuine warnings elsewhere stay visible.
    Configurator.setLevel("org.apache.spark.rdd.MapPartitionsRDD", Level.ERROR)
    spark
  }
}
