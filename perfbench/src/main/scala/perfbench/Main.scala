package perfbench

import java.nio.file.{Files, Path, Paths}

import scala.collection.mutable

import org.apache.spark.sql.SparkSession

/** Benchmark JVM entry point. `run.py` builds the classpath, prepares
  * inputs, launches this main once per run and reads back the result file:
  *
  *   perfbench.Main --workload t1_filter|t2_dedup|batch_mix --seed N
  *                  --seconds S --trace 0|1 --work DIR --out FILE
  *                  [--tables DIR]
  *   perfbench.Main --selftest
  */
object Main {

  final case class Args(workload: String, seed: Long, seconds: Double, trace: Boolean,
                        work: Path, out: Path, tables: String, cores: Int)

  /** Everything a run reports; rendered to the result file at the end. */
  final class Result(val args: Args) {
    val metrics = mutable.LinkedHashMap.empty[String, (Double, String)]
    val info = mutable.LinkedHashMap.empty[String, Any]
    var attempted = 0L
    var failed = 0L
    def metric(name: String, value: Double, unit: String): Unit =
      metrics(name) = (value, unit)
    def write(): Unit = {
      val m = metrics.map { case (k, (v, u)) => k -> Map("value" -> v, "unit" -> u) }
      Files.write(args.out, Json.render(Map("metrics" -> m, "attempted" -> attempted,
        "failed" -> failed, "info" -> info)).getBytes("UTF-8"))
    }
  }

  def main(argv: Array[String]): Unit = {
    if (argv.contains("--selftest")) { SelfTest.run(); return }
    val kv = argv.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val cores = Runtime.getRuntime.availableProcessors()
    val a = Args(kv("workload"), kv("seed").toLong, kv("seconds").toDouble,
      kv.getOrElse("trace", "0") == "1", Paths.get(kv("work")), Paths.get(kv("out")),
      kv.getOrElse("tables", ""), cores)
    Files.createDirectories(a.work)
    val res = new Result(a)
    describeMachine(res)
    val cpu0 = cpuTicks()
    val probeBefore = Calib.probe(cores)
    a.workload match {
      case "t1_filter" => new StreamWorkload(a, res, t2 = false).run()
      case "t2_dedup" => new StreamWorkload(a, res, t2 = true).run()
      case "batch_mix" => new BatchMix(a, res).run()
      case w => throw new IllegalArgumentException(s"unknown workload $w")
    }
    res.metric("rss_peak_mb", rssPeakMb(), "MB")
    Calib.normalize(res, probeBefore, Calib.probe(cores))
    // time the machine's other tenants took from this VM's CPUs during the
    // run: the usual cause of a run that is slow across the board
    res.info("cpu_steal_pct") = 100 * stealShare(cpu0, cpuTicks())
    res.write()
    SparkSession.getActiveSession.foreach(_.stop())
    sys.exit(0) // do not wait on a library's lingering non-daemon thread
  }

  /** A local session at `cores` threads, its scratch space inside the
    * run's work directory. T2 runs on the RocksDB state store as the
    * reference's `DedupApp` deployment does.
    */
  def session(a: Args, cores: Int, rocksDb: Boolean = false): SparkSession = {
    val s = SparkSession.builder().master(s"local[$cores]").appName("perfbench")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.ui.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.local.dir", a.work.resolve("tmp").toString)
      .config("spark.sql.warehouse.dir", a.work.resolve("warehouse").toString)
      .config("spark.sql.streaming.numRecentProgressUpdates", "1000000")
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    graft.Graft.init(s)
    if (rocksDb) graft.streaming.StateStores.useRocksDB(s)
    s
  }

  def describeMachine(r: Result): Unit = {
    val memKb = scala.util.Try(scala.io.Source.fromFile("/proc/meminfo").getLines()
      .find(_.startsWith("MemTotal:")).map(_.split("\\s+")(1).toLong).getOrElse(0L))
      .getOrElse(0L)
    r.info ++= Seq("workload" -> r.args.workload, "seed" -> r.args.seed,
      "seconds" -> r.args.seconds, "trace" -> r.args.trace,
      "nproc" -> Runtime.getRuntime.availableProcessors(), "cores" -> r.args.cores,
      "mem_total_kb" -> memKb, "jvm" -> System.getProperty("java.vm.version"),
      "spark" -> org.apache.spark.SPARK_VERSION,
      "max_heap_mb" -> Runtime.getRuntime.maxMemory() / (1 << 20))
  }

  /** The aggregate `cpu` line of /proc/stat (user .. steal), or empty. */
  def cpuTicks(): Seq[Long] =
    scala.util.Try(scala.io.Source.fromFile("/proc/stat").getLines().next()
      .split("\\s+").slice(1, 9).map(_.toLong).toSeq).getOrElse(Nil)

  /** Share of this machine's runnable CPU time that the hypervisor gave to
    * other tenants (steal) between two [[cpuTicks]] samples; 0 if unknown.
    */
  def stealShare(c0: Seq[Long], c1: Seq[Long]): Double =
    if (c0.size < 8 || c1.size < 8) 0.0
    else {
      val d = c1.zip(c0).map { case (x, y) => x - y }
      val busy = d(0) + d(1) + d(2) + d(5) + d(6)
      if (busy + d(7) <= 0) 0.0 else d(7).toDouble / (busy + d(7))
    }

  /** Wall seconds `f` takes. */
  def timed(f: => Unit): Double = { val t0 = now(); f; now() - t0 }

  /** Peak resident set of this JVM (VmHWM), in MiB. */
  def rssPeakMb(): Double =
    scala.util.Try(scala.io.Source.fromFile("/proc/self/status").getLines()
      .find(_.startsWith("VmHWM:")).map(_.split("\\s+")(1).toDouble / 1024).get)
      .getOrElse(Double.NaN)

  def now(): Double = System.nanoTime() / 1e9
}
