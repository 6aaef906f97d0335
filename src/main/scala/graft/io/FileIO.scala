package graft.io

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.types.StructType

/** File source/sink helpers (SURVEY.md §2.1 marks file connectors as the
  * trivial extension beyond the reference's Kafka-only surface). Schemas
  * are always explicit — inference is banned so batch, streaming, and the
  * oracle agree (SURVEY.md §1.5).
  *
  * Scale notes: parquet is the canonical format (columnar, predicate/
  * projection pushdown, splittable); CSV/JSON exist for ingest edges.
  * Writers partition by the given columns so downstream reads prune
  * directories instead of scanning.
  */
object FileIO {

  def readParquet(spark: SparkSession, path: String): DataFrame =
    spark.read.parquet(path)

  def readCsv(spark: SparkSession, path: String, schema: StructType,
              header: Boolean = true): DataFrame =
    spark.read.schema(schema).option("header", header.toString).csv(path)

  def readJson(spark: SparkSession, path: String, schema: StructType): DataFrame =
    spark.read.schema(schema).json(path)

  def readOrc(spark: SparkSession, path: String): DataFrame =
    spark.read.orc(path)

  def writeParquet(df: DataFrame, path: String, partitionBy: Seq[String] = Nil): Unit = {
    val w = df.write.mode("overwrite")
    (if (partitionBy.nonEmpty) w.partitionBy(partitionBy: _*) else w).parquet(path)
  }

  def writeCsv(df: DataFrame, path: String): Unit =
    df.write.mode("overwrite").option("header", "true").csv(path)

  def writeJson(df: DataFrame, path: String): Unit =
    df.write.mode("overwrite").json(path)

  def writeOrc(df: DataFrame, path: String): Unit =
    df.write.mode("overwrite").orc(path)

  /** Bucketed + sorted catalog table — the co-located-join primitive. Two
    * tables bucketed on their join key with the same bucket count join
    * with ZERO exchanges (and zero sorts when `sortBy` matches): at 100 TB
    * this turns every recurring fact⋈fact join on the bucketing key into
    * a map-side merge, paying the shuffle once at write time instead of
    * per query. Bucket count is the write-time parallelism knob — pick so
    * bucket × file size lands near the split size (~128 MB–1 GB).
    */
  def writeBucketed(df: DataFrame, table: String, buckets: Int,
                    cols: Seq[String]): Unit =
    df.write.mode("overwrite")
      .bucketBy(buckets, cols.head, cols.tail: _*)
      .sortBy(cols.head, cols.tail: _*)
      .format("parquet")
      .saveAsTable(table)

  /** Range-sorted layout: range-partition on the key then sort within
    * partitions before writing, so every parquet file covers a DISJOINT
    * key range and row-group min/max stats skip whole files for range
    * predicates. At 100 TB this is the difference between "scan
    * everything, filter later" and touching only the files a
    * `BETWEEN`/point lookup can match — the poor man's clustered index,
    * paid once at write time (one range-exchange) like bucketing.
    */
  def writeSorted(df: DataFrame, path: String, numFiles: Int,
                  cols: Seq[String]): Unit = {
    import org.apache.spark.sql.functions.col
    df.repartitionByRange(numFiles, cols.map(col): _*)
      .sortWithinPartitions(cols.map(col): _*)
      .write.mode("overwrite").parquet(path)
  }

  /** Z-ordered write: cluster by the Morton interleave of `cols` so
    * min/max row-group pruning works for predicates on ANY of the
    * dimensions — `writeSorted` (linear sort) only prunes its leading
    * column. Same cost model as `writeSorted`: one range-exchange at
    * write time. `ZOrderSpec` asserts the pruning quantitatively.
    *
    * Dimensions are min/max-scaled to a COMMON bit width before the
    * interleave — without this, a wide domain monopolizes the high z
    * bits and the curve degenerates to a linear sort on that column
    * (e.g. an 11-bit partkey over a 7-bit suppkey leaves the top 4
    * splits partkey-only). Bounds come from a 1-row aggregate broadcast
    * back onto the data (never a driver-side collect). Heavily skewed
    * dimensions would want quantile encoding (the q20_approx boundary
    * pattern) instead of linear scaling; min/max is the right default
    * for key-like columns.
    */
  def zorderWrite(df: DataFrame, path: String, numFiles: Int,
                  cols: Seq[String]): Unit = {
    import org.apache.spark.sql.functions.{broadcast, col, expr, greatest, lit, max, min}
    graft.functions.Kernels.register(df.sparkSession)
    val bits = 63 / cols.length
    val width = (1L << math.min(bits, 20)) - 1 // 20 bits/dim resolves 1M ranks
    val aggs = cols.flatMap(c =>
      Seq(min(col(c)).as(s"__min_$c"), max(col(c)).as(s"__max_$c")))
    val bounds = df.agg(aggs.head, aggs.tail: _*)
    val scaled = cols.zipWithIndex.foldLeft(df.crossJoin(broadcast(bounds))) {
      case (d, (c, i)) => d.withColumn(s"__zd$i",
        ((col(c) - col(s"__min_$c")).cast("double") * width /
          greatest((col(s"__max_$c") - col(s"__min_$c")).cast("double"), lit(1.0)))
          .cast("long"))
    }
    scaled
      .withColumn("__z", expr(s"z_value(${cols.indices.map(i => s"__zd$i").mkString(", ")})"))
      .repartitionByRange(numFiles, col("__z"))
      .sortWithinPartitions(col("__z"))
      .drop(cols.indices.map(i => s"__zd$i") ++ Seq("__z") ++
        cols.flatMap(c => Seq(s"__min_$c", s"__max_$c")): _*)
      .write.mode("overwrite").parquet(path)
  }

  /** Skew-robust Z-order: quantile-encode each dimension before the
    * interleave — rank buckets from `approx_percentile` boundaries
    * (1-row aggregate broadcast, the q20_approx pattern) instead of
    * min/max scaling, which collapses when a dimension is heavy-tailed
    * (one outlier stretches the range and the dense mass lands in a
    * single bucket, so the curve stops varying on that dimension).
    * `buckets` per dimension bounds the per-row encode cost (a linear
    * fold over B-1 boundaries at write time) and ~256 is plenty: the
    * curve only needs more distinct values per dimension than output
    * files.
    */
  def zorderWriteQuantile(df: DataFrame, path: String, numFiles: Int,
                          cols: Seq[String], buckets: Int = 256): Unit = {
    import org.apache.spark.sql.functions.{broadcast, col, expr}
    graft.functions.Kernels.register(df.sparkSession)
    val qs = (1 until buckets).map(_.toDouble / buckets)
    val aggs = cols.map(c =>
      expr(s"approx_percentile($c, array(${qs.mkString(", ")}), 10000)")
        .as(s"__bnd_$c"))
    val bounds = df.agg(aggs.head, aggs.tail: _*)
    val scaled = cols.zipWithIndex.foldLeft(df.crossJoin(broadcast(bounds))) {
      case (d, (c, i)) => d.withColumn(s"__zd$i",
        expr(s"aggregate(__bnd_$c, 0L, (a, b) -> a + if($c >= b, 1L, 0L))"))
    }
    scaled
      .withColumn("__z", expr(s"z_value(${cols.indices.map(i => s"__zd$i").mkString(", ")})"))
      .repartitionByRange(numFiles, col("__z"))
      .sortWithinPartitions(col("__z"))
      .drop(cols.indices.map(i => s"__zd$i") ++ Seq("__z") ++
        cols.map(c => s"__bnd_$c"): _*)
      .write.mode("overwrite").parquet(path)
  }

  /** Small-file compaction: rewrite a parquet directory into
    * ceil(bytes / targetBytes) files. The long-running-pipeline hygiene
    * op — streaming sinks and fine-grained partitioning accumulate
    * kilobyte files whose per-file open/footer cost dominates scans at
    * 100 TB (and whose count explodes the driver's file index).
    *
    * Flat layout: `coalesce` (not `repartition`) — narrow, no shuffle;
    * each output task concatenates a set of input files. Hive-partitioned
    * layout (`col=value` subdirectories) is detected and PRESERVED: the
    * rewrite hashes rows onto ≤ nFiles tasks BY the partition columns (so
    * each partition value lands in exactly one task → one output file per
    * directory) and writes with `partitionBy`, keeping directory pruning
    * intact for downstream readers.
    *
    * Crash safety: the rewrite goes to `<path>_compact_tmp`, the original
    * is renamed aside to `<path>_compact_old`, tmp is promoted, THEN the
    * old copy is deleted — at every crash point at least one complete
    * copy of the dataset exists under a well-known name (rename-aside,
    * never delete-before-promote).
    */
  def compact(spark: SparkSession, path: String, targetBytes: Long = 128L << 20): Unit = {
    import org.apache.hadoop.fs.Path
    import org.apache.spark.sql.functions.col
    val fsPath = new Path(path)
    val fs = fsPath.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val bytes = fs.getContentSummary(fsPath).getLength
    val nFiles = math.max(1, math.ceil(bytes.toDouble / targetBytes).toInt)

    // Hive-partition detection: descend while every data child is one
    // `col=value` directory level, collecting the column chain in order.
    @annotation.tailrec
    def partitionChain(p: Path, acc: List[String]): List[String] = {
      val dirs = fs.listStatus(p).filter(_.isDirectory).map(_.getPath.getName)
        .filterNot(n => n.startsWith("_") || n.startsWith("."))
      val cols = dirs.map(_.split("=", 2)).collect { case Array(c, _) => c }.distinct
      if (dirs.nonEmpty && dirs.forall(_.contains("=")) && cols.length == 1)
        partitionChain(new Path(p, dirs.head), acc :+ cols.head)
      else acc
    }
    val partCols = partitionChain(fsPath, Nil)

    val tmp = new Path(path.stripSuffix("/") + "_compact_tmp")
    val old = new Path(path.stripSuffix("/") + "_compact_old")
    val df = spark.read.parquet(path)
    if (partCols.isEmpty)
      df.coalesce(nFiles).write.mode("overwrite").parquet(tmp.toString)
    else
      df.repartition(nFiles, partCols.map(col): _*)
        .write.mode("overwrite").partitionBy(partCols: _*).parquet(tmp.toString)

    fs.delete(old, true)
    if (!fs.rename(fsPath, old))
      sys.error(s"compact: could not move $path aside to $old")
    if (!fs.rename(tmp, fsPath)) {
      fs.rename(old, fsPath) // roll back: restore the untouched original
      sys.error(s"compact: could not promote $tmp to $path (original restored)")
    }
    fs.delete(old, true)
  }
}
