package graft.io

import org.apache.spark.sql.functions._
import graft.SparkSpec
import graft.functions.ZValue

/** Z-order layout: interleave correctness, and the pruning claim measured
  * for real — a z-ordered layout must let parquet row-group stats skip
  * data for range predicates on EITHER dimension, where a linear sort
  * only prunes its leading column.
  */
class ZOrderSpec extends SparkSpec {

  test("interleave: bits land at position i*n+j; wide values are masked") {
    // n=2, bitsPer=31: x=0b101 lands at even slots {0,4}, y=0b11 at odd
    // slots {1,3} -> 0b11011 = 27
    assert(ZValue.interleave(Array(5L, 3L), 31) == 27L)
    assert(ZValue.interleave(Array(0L, 0L), 31) == 0L)
    // z-order property: interleave is monotone per dimension holding the
    // other fixed
    val zs = (0L to 7L).map(x => ZValue.interleave(Array(x, 4L), 31))
    assert(zs == zs.sorted && zs.distinct.length == zs.length)
    // masking: a value wider than bitsPer contributes only its low bits
    assert(ZValue.interleave(Array(1L << 40, 0L), 20) == 0L)
  }

  test("z_value registers and codegens over a DataFrame") {
    val s = spark
    import s.implicits._
    val got = Seq((3L, 5L)).toDF("a", "b")
      .selectExpr("z_value(a, b)").as[Long].head()
    assert(got == ZValue.interleave(Array(3L, 5L), 31))
  }

  /** Rows the parquet scan emits for `pred` (after row-group pruning,
    * before the residual Filter) — the bytes-read proxy. */
  private def scanRows(path: String, pred: String): Long = {
    val df = spark.read.parquet(path).filter(pred)
    df.collect()
    val scan = df.queryExecution.executedPlan.collect {
      case s: org.apache.spark.sql.execution.FileSourceScanExec => s
    }.head
    scan.metrics("numOutputRows").value
  }

  test("quantile z-order keeps pruning a heavy-tailed dimension where min/max scaling collapses") {
    // dim x: dense mass in [0, 1000] with a 10^9 outlier tail -> min/max
    // scaling puts ~all rows in one x-bucket; dim y: uniform
    val src = spark.range(0, 60000).select(
      when(pmod(col("id"), lit(1000)) === 0, col("id") * 16000L)
        .otherwise(pmod(col("id"), lit(1000))).as("x"),
      pmod(col("id") * 7919L, lit(10000)).as("y"))
    val total = src.count()
    val dir = s"/tmp/graft-zq-${System.nanoTime()}"
    FileIO.zorderWrite(src, s"$dir/minmax", 16, Seq("x", "y"))
    FileIO.zorderWriteQuantile(src, s"$dir/quant", 16, Seq("x", "y"))
    val pred = "x BETWEEN 100 AND 149" // 5% of the dense mass
    val mm = scanRows(s"$dir/minmax", pred)
    val qt = scanRows(s"$dir/quant", pred)
    // min/max layout: the dense mass is one bucket -> x carries no
    // information, the curve sorts by y only -> ~full scan
    assert(mm > (total * 3) / 4, s"unexpected pruning on min/max layout: $mm of $total")
    assert(qt < total / 2, s"quantile layout must prune the dense range: $qt of $total")
  }

  test("z-ordered layout prunes row groups on BOTH dimensions; linear sort only on its leading one") {
    val src = spark.read.parquet("/root/testdata/sf0.01/lineitem.parquet")
      .select(col("l_partkey"), col("l_suppkey"), col("l_extendedprice"))
    val total = src.count()
    val dir = s"/tmp/graft-zorder-${System.nanoTime()}"
    // 16 files ≈ 16 row groups at this volume — enough granularity for
    // stats pruning to be visible
    FileIO.writeSorted(src, s"$dir/linear", 16, Seq("l_partkey"))
    FileIO.zorderWrite(src, s"$dir/zorder", 16, Seq("l_partkey", "l_suppkey"))

    val predLead = "l_partkey BETWEEN 100 AND 160"   // ~3% of partkey domain
    val predOther = "l_suppkey BETWEEN 10 AND 15"    // ~6% of suppkey domain

    // leading column: both layouts prune hard
    assert(scanRows(s"$dir/linear", predLead) < total / 4)
    assert(scanRows(s"$dir/zorder", predLead) < total / 2)
    // non-leading column: the linear layout reads EVERYTHING (suppkey is
    // uniform within each partkey range), the z-order skips most groups
    val linOther = scanRows(s"$dir/linear", predOther)
    val zOther = scanRows(s"$dir/zorder", predOther)
    assert(linOther > (total * 9) / 10,
      s"expected no pruning on linear layout, got $linOther of $total")
    assert(zOther < total / 2,
      s"expected z-order to prune suppkey ranges, got $zOther of $total")
  }
}
