package graft

import org.apache.spark.sql.SparkSession
import graft.functions.{BloomFns, CharEntropyQ, CosineSimilarity, EditWithin1, JaccardSimilarity, JlProject, L2Distance, SimHash32, WinnowKernel, ZValue}

/** Library entry point: one call wires everything a session needs —
  * the native codegen'd expressions (`cosine_sim`, `jaccard_sorted`,
  * `intersect_count_sorted`, `bitmap_and_count`, `winnow_fp`, `l2_sq`,
  * `bloom_might_contain`, `ed_within_1`, `z_value`, `simhash32`),
  * the typed UDAF (`weighted_avg`), the parquet nanos setting the
  * `events` table requires, and the fork-free `file:` filesystem for
  * streaming checkpoints ([[graft.io.SpawnFreeLocalFs]]). Individual
  * operators also self-register what they use, so calling this is
  * convenience, not a correctness prerequisite.
  */
object Graft {

  def init(spark: SparkSession): SparkSession = {
    CosineSimilarity.register(spark)
    JaccardSimilarity.register(spark)
    WinnowKernel.register(spark)
    L2Distance.register(spark)
    BloomFns.register(spark)
    EditWithin1.register(spark)
    ZValue.register(spark)
    SimHash32.register(spark)
    CharEntropyQ.register(spark)
    JlProject.register(spark)
    graft.functions.Md5Head64.register(spark)
    graft.functions.MatProject.register(spark)
    if (!spark.sessionState.functionRegistry.functionExists(
        org.apache.spark.sql.catalyst.FunctionIdentifier("weighted_avg")))
      spark.udf.register("weighted_avg",
        org.apache.spark.sql.functions.udaf(graft.functions.WeightedAvg))
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    graft.io.SpawnFreeLocalFs.register(spark)
    spark
  }
}
