package perfbench

import org.apache.spark.sql.{DataFrame, Encoders, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{StructField, StructType}

import graft.model.LogEvent
import graft.serde.JsonCodec

/** Isolated layer probes for traced runs: the JSON codec over the
  * workload's own frames, and every kernel `Graft.init` registers over a
  * generated table. Each figure is the median of [[Reps]] timed runs of a
  * noop-sink query over a cached input, per row; `kernel.scan` is the
  * same query with no kernel, the part of every kernel figure that is the
  * cached scan itself.
  */
object Micro {
  val Reps = 2
  val SerdeRows = 50000
  val KernelRows = 100000

  /** Median seconds of a noop-sink run of `df`, after one untimed run
    * that plans and compiles it.
    */
  private def timeNoop(df: => DataFrame): Double = {
    val ts = (0 to Reps).map { _ =>
      val t0 = Main.now()
      df.write.format("noop").mode("overwrite").save()
      Main.now() - t0
    }
    Stats.median(ts.drop(1))
  }

  private def ns(t: Double, n: Int): Double = t * 1e9 / n

  def serde(a: Main.Args, res: Main.Result, gen: LogGen): Unit = {
    val spark = Main.session(a, a.cores)
    val recs = gen.cursor().take(SerdeRows)
    val frames = spark.createDataset(recs.map(_.frame).toSeq)(Encoders.product[Frame])
      .toDF().repartition(a.cores).cache()
    frames.count()
    val decoded = JsonCodec.decodeKafkaFrame(frames, LogEvent.schema).cache()
    decoded.count()
    val idSchema = StructType(Seq(StructField("exception", StructType(Seq(
      LogEvent.schema("exception").dataType.asInstanceOf[StructType]("exception_class"))))))
    res.metric("serde.decode_ns_per_rec",
      ns(timeNoop(JsonCodec.decodeKafkaFrame(frames, LogEvent.schema)), SerdeRows), "ns")
    res.metric("serde.decode_id_ns_per_rec", ns(timeNoop(frames.select(
      JsonCodec.decode(col("value"), idSchema).getField("exception")
        .getField("exception_class"))), SerdeRows), "ns")
    res.metric("serde.encode_ns_per_rec",
      ns(timeNoop(JsonCodec.encodeKafkaFrame(decoded)), SerdeRows), "ns")
    spark.stop()
  }

  private val Words = "spark window merge table column vector stream value data small join filter"
    .split(" ").map(w => s"'$w'").mkString(",")

  /** kernel name -> SQL over the generated table (columns below). */
  def kernelSql: Seq[(String, String)] = {
    val bloom = org.apache.spark.util.sketch.BloomFilter.create(1000, 0.01)
    (0L until 1000L).foreach(i => bloom.putLong(i * 7))
    val means = (0 until 64).map(i => f"${i * 0.001}%.3fD").mkString("array(", ",", ")")
    val mat = (0 until 8).map(r => (0 until 64).map(c => f"${math.sin(r * 64 + c)}%.4fD")
      .mkString("array(", ",", ")")).mkString("array(", ",", ")")
    Seq(
      "cosine_sim" -> "cosine_sim(a, b)",
      "l2_sq" -> "l2_sq(a, b)",
      "jaccard_sorted" -> "jaccard_sorted(ia, ib)",
      "intersect_count_sorted" -> "intersect_count_sorted(ia, ib)",
      "intersect_count_sorted_str" -> "intersect_count_sorted_str(sa, sb)",
      "bitmap_and_count" -> "bitmap_and_count(bm1, bm2)",
      "winnow_fp" -> "size(winnow_fp(s))",
      "ed_within_1" -> "ed_within_1(s, s2)",
      "z_value" -> "z_value(x, y)",
      "simhash32" -> "simhash32(ia)",
      "char_entropy_q" -> "char_entropy_q(s)",
      "jl_project" -> "size(jl_project(a, 16))",
      "md5_h64" -> "md5_h64(s)",
      "mat_project" -> s"size(mat_project(a, $means, $mat))",
      "bloom_might_contain" ->
        s"bloom_might_contain(x'${graft.functions.BloomFns.toHex(bloom)}', id)",
      "weighted_avg" -> "weighted_avg(w, x)")
  }

  def kernelTable(spark: SparkSession, seed: Long, n: Int): DataFrame =
    spark.range(n).selectExpr(
      s"transform(sequence(1, 64), j -> sin(id * j + $seed)) AS a",
      "transform(sequence(1, 64), j -> cos(id * j)) AS b",
      s"array_sort(array_distinct(transform(sequence(1, 40), j -> cast(pmod(hash(id, j, $seed), 500) AS bigint)))) AS ia",
      s"array_sort(array_distinct(transform(sequence(1, 40), j -> cast(pmod(hash(id + 1, j, $seed), 500) AS bigint)))) AS ib",
      s"concat_ws(' ', transform(sequence(1, 40), j -> element_at(array($Words), 1 + pmod(hash(id, j, $seed), 12)))) AS s",
      "id", "cast(pmod(id, 1024) AS int) AS x", "cast(pmod(id * 7, 1024) AS int) AS y",
      "cast(pmod(id, 1000) AS double) AS w")
      .selectExpr("*", "array_sort(transform(ia, v -> cast(v AS string))) AS sa",
        "array_sort(transform(ib, v -> cast(v AS string))) AS sb",
        "concat(s, 'x') AS s2",
        "transform(sequence(1, 4), j -> xxhash64(id, j)) AS bm1",
        "transform(sequence(1, 4), j -> xxhash64(id + 1, j)) AS bm2")

  def kernels(a: Main.Args, res: Main.Result): Unit = {
    val spark = Main.session(a, a.cores)
    val t = kernelTable(spark, a.seed, KernelRows).repartition(a.cores).cache()
    t.count()
    res.metric("kernel.scan.ns_per_row", ns(timeNoop(t.selectExpr("id")), KernelRows), "ns")
    kernelSql.foreach { case (name, sql) =>
      res.metric(s"kernel.$name.ns_per_row",
        ns(timeNoop(t.selectExpr(s"$sql AS r")), KernelRows), "ns")
    }
    spark.stop()
  }
}
