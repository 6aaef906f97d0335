package perfbench

/** Machine-speed probe and the scaling of end-to-end times by it.
  *
  * On a shared host the same work takes from one run to the next up to
  * twice as long (hypervisor steal, and neighbours on the same cores and
  * memory), slower than any change a run is meant to show. The probe does
  * a fixed amount of CPU and memory work on every core at once, before and
  * after the workload; its time tracks what the machine gives this run.
  * Set-up time, throughput and latency are reported scaled to a machine
  * whose probe takes [[NominalS]]; the wall-clock values stay in the
  * record.
  */
object Calib {
  private val Words = 1 << 21 // 16 MiB of longs per thread: past the caches
  private val Steps = 1 << 22

  /** The probe's time on a 4-core host of this kind in a quiet hour. */
  val NominalS = 0.6

  /** Seconds one round of the probe takes, median of `reps`. */
  def probe(cores: Int, reps: Int = 3): Double = {
    val arrays = Array.tabulate(cores)(t => Array.tabulate(Words)(i => i * 0x9E3779B97F4A7C15L + t))
    def round(): Double = {
      val t0 = Main.now()
      val threads = arrays.map { arr =>
        new Thread(() => {
          var x = 0L; var i = 0
          while (i < Steps) {
            x = x * 6364136223846793005L + arr((x >>> 43).toInt & (Words - 1))
            i += 1
          }
          if (x == 42) println(x) // keeps the loop from being optimised away
        })
      }
      threads.foreach(_.start()); threads.foreach(_.join())
      Main.now() - t0
    }
    round()
    Stats.median((1 to reps).map(_ => round()))
  }

  /** Scales the run's end-to-end times by NominalS / probe time. */
  def normalize(res: Main.Result, before: Double, after: Double): Unit = {
    val k = NominalS / ((before + after) / 2)
    res.info ++= Seq("probe_s_before" -> before, "probe_s_after" -> after, "probe_scale" -> k)
    for (m <- Seq("setup_s", "latency.p50_ms", "latency.p90_ms", "ops_per_s");
         (v, u) <- res.metrics.get(m)) {
      res.info(s"wall.$m") = v
      res.metric(m, if (m == "ops_per_s") v / k else v * k, u)
    }
  }
}
