package graft

import org.apache.spark.sql.SparkSession
import graft.functions.Kernels

/** Library entry point for pure-SQL users of a running session: it
  * registers every native function in [[graft.functions.Kernels.All]],
  * the typed UDAF (`weighted_avg`), the parquet nanos setting the
  * `events` table requires, and the fork-free `file:` filesystem for
  * streaming checkpoints ([[graft.io.SpawnFreeLocalFs]]).
  * [[GraftExtensions]] injects the same functions into sessions built
  * with `spark.sql.extensions`.
  *
  * Operators do not depend on either: they register the table themselves
  * through [[Tables.table]], every batch operator's first act, and the
  * DataFrame entry points that can be reached without it.
  */
object Graft {

  def init(spark: SparkSession): SparkSession = {
    Kernels.register(spark)
    if (!spark.sessionState.functionRegistry.functionExists(
        org.apache.spark.sql.catalyst.FunctionIdentifier("weighted_avg")))
      spark.udf.register("weighted_avg",
        org.apache.spark.sql.functions.udaf(graft.functions.WeightedAvg))
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    graft.io.SpawnFreeLocalFs.register(spark)
    spark
  }
}
