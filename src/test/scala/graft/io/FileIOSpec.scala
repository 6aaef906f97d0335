package graft.io

import java.nio.file.Files
import org.apache.spark.sql.types._
import graft.SparkSpec

class FileIOSpec extends SparkSpec {

  private val schema = StructType(Seq(
    StructField("id", LongType), StructField("name", StringType)))

  test("parquet round-trip with partition pruning") {
    val s = spark
    import s.implicits._
    val dir = Files.createTempDirectory("graft_io").toString + "/p"
    val df = Seq((1L, "a"), (2L, "b"), (3L, "a")).toDF("id", "name")
    FileIO.writeParquet(df, dir, partitionBy = Seq("name"))
    val back = FileIO.readParquet(spark, dir).filter($"name" === "a")
    assert(back.count() == 2)
    // partition filter must prune at the source, not post-scan: the scan
    // node carries a non-empty partition-filter list and reads only the
    // name=a directory
    val scans = back.queryExecution.executedPlan.collect {
      case scan: org.apache.spark.sql.execution.FileSourceScanExec => scan
    }
    assert(scans.nonEmpty && scans.head.partitionFilters.nonEmpty,
      s"expected pruned scan:\n${back.queryExecution.executedPlan}")
    // pruned selection: the scan reports one partition of the two written
    assert(scans.head.metadata.get("PartitionFilters").exists(_.contains("name")))
  }

  test("compact rewrites a fragmented directory into few files, same rows") {
    val s = spark
    import s.implicits._
    val dir = Files.createTempDirectory("graft_io3").toString + "/frag"
    spark.range(0, 10000).select($"id", ($"id" % 7).as("k"))
      .repartition(64) // simulate a streaming sink's small-file spray
      .write.parquet(dir)
    def parts = new java.io.File(dir).listFiles.count(_.getName.endsWith(".parquet"))
    assert(parts >= 32)
    FileIO.compact(spark, dir)
    assert(parts <= 2, s"still $parts files after compact")
    val back = FileIO.readParquet(spark, dir)
    assert(back.count() == 10000 &&
      back.agg(org.apache.spark.sql.functions.sum($"id")).first().getLong(0) == 49995000L)
  }

  test("compact preserves a Hive-partitioned layout and its pruning") {
    val s = spark
    import s.implicits._
    val dir = Files.createTempDirectory("graft_io6").toString + "/part"
    spark.range(0, 2000).select($"id", ($"id" % 3).as("k"))
      .repartition(16)
      .write.partitionBy("k").parquet(dir)
    def dataFiles(d: java.io.File): Seq[java.io.File] =
      d.listFiles.toSeq.flatMap(f =>
        if (f.isDirectory) dataFiles(f)
        else if (f.getName.endsWith(".parquet")) Seq(f) else Nil)
    assert(dataFiles(new java.io.File(dir)).size >= 16)
    FileIO.compact(spark, dir)
    // layout preserved: k=0/1/2 directories, one compacted file each
    val partDirs = new java.io.File(dir).listFiles
      .filter(f => f.isDirectory && f.getName.startsWith("k=")).map(_.getName).sorted
    assert(partDirs.toSeq == Seq("k=0", "k=1", "k=2"), partDirs.mkString(", "))
    assert(dataFiles(new java.io.File(dir)).size <= 3)
    // values intact and partition pruning still operates on the new layout
    val back = FileIO.readParquet(spark, dir).filter($"k" === 1)
    val scans = back.queryExecution.executedPlan.collect {
      case sc: org.apache.spark.sql.execution.FileSourceScanExec => sc
    }
    assert(scans.nonEmpty && scans.head.partitionFilters.nonEmpty)
    assert(back.count() == 2000 / 3 + (if (1 < 2000 % 3) 1 else 0))
    val all = FileIO.readParquet(spark, dir)
    assert(all.count() == 2000 &&
      all.agg(org.apache.spark.sql.functions.sum($"id")).first().getLong(0) == 1999000L)
    // no leftover promote/aside directories
    val base = new java.io.File(dir).getParentFile.listFiles.map(_.getName)
    assert(!base.exists(n => n.contains("_compact")), base.mkString(", "))
  }

  test("writeSorted produces files with disjoint key ranges (data-skipping layout)") {
    val dir = Files.createTempDirectory("graft_io4").toString + "/srt"
    FileIO.writeSorted(
      graft.Tables.lineitem(spark, "/root/testdata/sf0.001")
        .select("l_orderkey", "l_quantity"),
      dir, numFiles = 4, cols = Seq("l_orderkey"))
    val files = new java.io.File(dir).listFiles
      .filter(_.getName.endsWith(".parquet")).map(_.toString)
    assert(files.length == 4)
    import org.apache.spark.sql.functions.{min, max}
    val ranges = files.map { f =>
      val r = spark.read.parquet(f).agg(min("l_orderkey"), max("l_orderkey")).first()
      (r.getLong(0), r.getLong(1))
    }.sortBy(_._1)
    ranges.zip(ranges.drop(1)).foreach { case ((_, hi), (lo2, _)) =>
      assert(hi <= lo2, s"overlapping file ranges: ${ranges.mkString(", ")}")
    }
  }

  test("orc round-trip with pushed-down filter") {
    val s = spark
    import s.implicits._
    val dir = Files.createTempDirectory("graft_io5").toString + "/o"
    FileIO.writeOrc(Seq((1L, "a"), (2L, "b"), (3L, "a")).toDF("id", "name"), dir)
    val back = FileIO.readOrc(spark, dir).filter($"id" > 1)
    assert(back.count() == 2)
    assert(back.queryExecution.executedPlan.toString.contains("PushedFilters: [IsNotNull(id), GreaterThan(id,1)]"))
  }

  test("csv and json round-trips with explicit schema") {
    val s = spark
    import s.implicits._
    val base = Files.createTempDirectory("graft_io2").toString
    val df = Seq((1L, "x"), (2L, null.asInstanceOf[String])).toDF("id", "name")
    FileIO.writeCsv(df, s"$base/c")
    FileIO.writeJson(df, s"$base/j")
    assert(FileIO.readCsv(spark, s"$base/c", schema).count() == 2)
    val j = FileIO.readJson(spark, s"$base/j", schema)
    assert(j.count() == 2 && j.filter($"name".isNull).count() == 1)
  }
}
