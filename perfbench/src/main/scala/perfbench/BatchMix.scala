package perfbench

import scala.collection.mutable

import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.SparkEntry

/** The batch_mix workload: one closed-loop client runs a fixed list of
  * `SparkEntry.queries` over fixed generated tables, in a fresh session,
  * the way a submitted batch job meets the engine.
  *
  *  1. set-up, [[SetupReps]] times: session + Graft.init + the first
  *     result of the smallest query;
  *  2. one timed pass over [[Queries]] in order; each query's result is
  *     written as parquet, which `run.py` checks against
  *     `SparkEntry.oracleSql` run by DuckDB.
  *
  * A query's time in a fresh session depends on what ran before it (code
  * compiled for one query serves the next), so the order is part of the
  * workload and does not change with the seed.
  *
  * A traced run adds, after the traced pass, [[OverheadQueries]] queries
  * twice more (once with the listener, once without, the order
  * alternating) for the tracing overhead.
  */
final class BatchMix(a: Main.Args, res: Main.Result) {
  import BatchMix._

  /** Runs query `q` into `sink`; its seconds. */
  private def exec(spark: SparkSession, q: String, group: String)(
      sink: DataFrame => Unit): Double = {
    spark.sparkContext.setJobGroup(group, q, interruptOnCancel = false)
    try Main.timed(sink(SparkEntry.queries(q)(spark, a.tables)))
    finally spark.sparkContext.clearJobGroup()
  }
  private def noop(df: DataFrame): Unit = df.write.format("noop").mode("overwrite").save()

  def run(): Unit = {
    val order = Queries
    res.info("query_order") = order

    val setups = mutable.ArrayBuffer.empty[Double]
    var spark: SparkSession = null
    for (_ <- 1 to (if (a.trace) 1 else SetupReps)) {
      if (spark != null) spark.stop()
      setups += Main.timed {
        spark = Main.session(a, a.cores)
        exec(spark, SetupQuery, "setup")(noop)
      }
    }
    res.metric("setup_s", Stats.median(setups.toSeq), "s")
    res.info("setup_s_each") = setups.toSeq

    val tracer = new Tracer
    val probe = new SparkProbe(Some(tracer))
    if (a.trace) spark.sparkContext.addSparkListener(probe)
    val outDir = a.work.resolve("out")
    val times = mutable.LinkedHashMap.empty[String, Double]
    val errors = mutable.LinkedHashMap.empty[String, String]
    order.foreach { q =>
      res.attempted += 1
      val s0 = System.currentTimeMillis().toDouble
      try {
        val t = exec(spark, q, s"query-$q")(
          _.write.mode("overwrite").parquet(outDir.resolve(q).toString))
        times(q) = t
        if (a.trace) tracer.add(s"query-$q", 0, s"query $q", s0, s0 + t * 1000)
      } catch { case e: Exception => res.failed += 1; errors(q) = e.toString.take(500) }
    }
    val wall = times.values.sum
    // the whole oracle map: some Python oracles compose other entries
    java.nio.file.Files.write(a.work.resolve("oracle_sql.json"),
      Json.render(SparkEntry.oracleSql).getBytes("UTF-8"))
    val xs = times.values.toArray
    res.metric("ops_per_s", xs.length / wall, "1/s")
    res.metric("latency.p50_ms", Stats.quantile(xs, 0.5) * 1000, "ms")
    res.metric("latency.p90_ms", Stats.quantile(xs, 0.9) * 1000, "ms")
    res.info ++= Seq("mix_wall_s" -> wall, "query_p50_s" -> Stats.quantile(xs, 0.5),
      "query_samples" -> xs.length, "query_samples_beyond_p90" -> Stats.beyond(xs, 0.9),
      "query_s" -> times, "errors" -> errors, "outputs_dir" -> outDir.toString)

    if (a.trace) {
      org.apache.spark.ListenerDrain(spark.sparkContext)
      spark.sparkContext.removeSparkListener(probe)
      layers(spark, probe, tracer, times, order.filterNot(errors.contains))
    }
    spark.stop()
    if (a.trace) {
      Micro.serde(a, res, new LogGen(a.seed, t2 = false))
      Micro.kernels(a, res)
    }
  }

  private def layers(spark: SparkSession, probe: SparkProbe, tracer: Tracer,
                     times: collection.Map[String, Double], qs: Seq[String]): Unit = {
    probe.link()
    Queries.foreach { q =>
      val acc = probe.byTag.get(s"query-$q")
      val w = times.getOrElse(q, 0.0)
      res.metric(s"query.$q.s", w, "s")
      res.metric(s"query.$q.jobs", acc.map(_.jobs.toDouble).getOrElse(0.0), "count")
      res.metric(s"query.$q.busy_share",
        acc.filter(_ => w > 0).map(_.runMs / (w * 1000 * a.cores)).getOrElse(0.0), "ratio")
    }
    probe.metrics(probe.total, times.values.sum, a.cores, "spark.")
      .foreach { case (k, v, u) => res.metric(k, v, u) }
    StreamLayers.foreach { case (k, u) => res.metric(k, 0.0, u) }
    res.metric("trace.spans", tracer.spans.size.toDouble, "count")
    val path = a.work.resolve(s"spans-${a.workload}-${a.seed}.jsonl")
    tracer.write(path)
    res.info ++= Seq("span_file" -> path.toString, "span_self_ms" -> tracer.selfMsByName)

    // tracing overhead: the first OverheadQueries queries of the list (the
    // short, overhead-bound ones, where a listener would show most), each
    // with and without the listener
    val overheadProbe = new SparkProbe(None)
    var on, off = 0.0
    qs.take(OverheadQueries).zipWithIndex.foreach { case (q, i) =>
      Seq(i % 2 == 0, i % 2 != 0).foreach { traced =>
        if (traced) spark.sparkContext.addSparkListener(overheadProbe)
        val t = exec(spark, q, s"overhead-$q")(noop)
        if (traced) {
          org.apache.spark.ListenerDrain(spark.sparkContext)
          spark.sparkContext.removeSparkListener(overheadProbe)
          on += t
        } else off += t
      }
    }
    res.metric("trace.overhead_pct", (on / off - 1) * 100, "%")
  }
}

object BatchMix {
  val SetupReps = 3
  val SetupQuery = "ev_filter"
  val OverheadQueries = 6

  /** Overhead-bound queries, then the compute-bound spine. */
  val Queries: Seq[String] = Seq("q1_agg", "q2_join_broadcast", "q6_window",
    "q15_exact_scalable", "ev_filter", "ev_dedup_window", "ev_gapfill",
    "ev_markov_transitions", "doc_bpe_apply", "doc_lm_score", "doc_quality_train",
    "doc_tfidf_top", "minhash_lsh_pairs", "emb_ivf_build", "emb_ivf_query", "emb_opq",
    "corpus_release", "ngram_containment_banded")

  /** Streaming and state layers, which do no work on this workload. */
  val StreamLayers: Seq[(String, String)] = Seq("streaming.batches" -> "count",
    "streaming.records_per_batch_p50" -> "count", "streaming.batch_ms_p50" -> "ms",
    "streaming.add_batch_ms_p50" -> "ms", "streaming.fixed_ms_p50" -> "ms",
    "streaming.query_planning_ms_p50" -> "ms", "streaming.wal_commit_ms_p50" -> "ms",
    "streaming.commit_offsets_ms_p50" -> "ms", "streaming.rps_1core" -> "1/s",
    "state.rows_total_end" -> "count", "state.rows_updated" -> "count",
    "state.rows_removed" -> "count", "state.rows_dropped_by_watermark" -> "count",
    "state.memory_bytes_end" -> "bytes", "state.update_ms" -> "ms", "state.remove_ms" -> "ms",
    "state.commit_ms" -> "ms", "state.suppressed_ratio" -> "ratio")
}
