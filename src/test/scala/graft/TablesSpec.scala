package graft

import java.nio.file.Files

import org.apache.spark.sql.functions._

/** `Tables.parallelized` floors a scan at the cores whenever the scan
  * plans fewer tasks, including scans its listing-based bound cannot see.
  */
class TablesSpec extends SparkSpec {

  private def tmp(tag: String): String =
    Files.createTempDirectory(s"graft-tables-$tag").resolve("t").toString

  test("parallelized: a partition-pruned scan of one tiny file is floored at the cores") {
    val dir = tmp("part")
    // p=big holds 4 files: charged the open cost each, the whole
    // relation's listing bounds the scan at >= 4 tasks; p=tiny is 1 file
    spark.range(0, 4000, 1, 4).withColumn("p", lit("big"))
      .write.partitionBy("p").parquet(dir)
    spark.range(0, 10, 1, 1).withColumn("p", lit("tiny"))
      .write.mode("append").partitionBy("p").parquet(dir)
    val pruned = spark.read.parquet(dir).filter(col("p") === "tiny")
    assert(pruned.rdd.getNumPartitions == 1)
    assert(Tables.parallelized(pruned).rdd.getNumPartitions ==
      spark.sparkContext.defaultParallelism)
  }

  test("parallelized: a file that cannot be split is floored at the cores") {
    val dir = tmp("gzip")
    spark.range(0, 2000, 1, 1).write.option("compression", "gzip").csv(dir)
    // a tiny open cost makes the listing bound >= 4 splits for one file,
    // which a gzip file (one task whatever its size) never plans
    SparkSpec.restoring(spark, Seq("spark.sql.files.openCostInBytes")) {
      spark.conf.set("spark.sql.files.openCostInBytes", "1")
      val df = spark.read.schema("id LONG").csv(dir)
      assert(df.rdd.getNumPartitions == 1)
      assert(Tables.parallelized(df).rdd.getNumPartitions ==
        spark.sparkContext.defaultParallelism)
    }
  }
}
