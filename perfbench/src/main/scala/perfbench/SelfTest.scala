package perfbench

/** Self-tests of the benchmark's own logic (no Spark needed):
  * the T2 reference model on the FIXTURES.md §3 D1 sequence, the
  * percentile and self-time arithmetic, and seed determinism of the
  * stream generator. Prints one line per check; exits 1 on a failure.
  */
object SelfTest {
  private var failures = 0
  private def check(name: String, ok: Boolean): Unit = {
    println(s"${if (ok) "PASS" else "FAIL"} $name")
    if (!ok) failures += 1
  }

  def run(): Unit = {
    val min = 60000L
    val t0 = LogGen.BaseMs
    def r(k: Int, id: String, t: Long) = Rec(s"k$k", s"v$k", "ERROR", id, t)
    // D1: per id E: novel -> dup@+1min -> dup@+4min59s (after the refresh)
    // -> gap > 10 min -> re-emit; null-id records interleaved; an
    // out-of-order pair (t, t - 3 min) where the late one is a duplicate.
    val d1 = Seq(
      r(0, "E", t0), r(1, null, t0 + 10), r(2, "E", t0 + min),
      r(3, "E", t0 + min + 4 * min + 59000), r(4, null, t0 + 6 * min),
      r(5, "E", t0 + 5 * min + 59000 + 11 * min),
      r(6, "F", t0 + 30 * min), r(7, "F", t0 + 27 * min),
      r(8, "F", t0 + 27 * min + 5 * min + 1))
    val want = Seq(0, 1, 4, 5, 6, 8).map(k => LogGen.term(s"k$k", s"v$k"))
      .foldLeft(LogGen.Empty)(_ + _)
    val out = LogGen.t2Model(d1.iterator)
    check("t2 model on the D1 sequence", out.digest == want)
    check("t2 model counts suppressions", out.suppressed == 3 && out.idRecords == 7)
    // a stored time past the 10-minute retention has expired
    val exp = LogGen.t2Model(Seq(r(0, "G", t0), r(1, "G", t0 + 11 * min)).iterator)
    check("t2 model expires state after retention", exp.suppressed == 0)
    check("t1 model keeps INFO only", LogGen.t1Model(Seq(
      Rec("a", "x", "INFO", null, 0), Rec("b", "y", null, null, 0),
      Rec("c", "z", "WARN", null, 0)).iterator) == (LogGen.Empty + LogGen.term("a", "x")))

    val xs = (1 to 100).map(_.toDouble).toArray
    check("p50 interpolates", math.abs(Stats.quantile(xs, 0.5) - 50.5) < 1e-9)
    check("p90 interpolates", math.abs(Stats.quantile(xs, 0.9) - 90.1) < 1e-9)
    check("ten samples beyond p90 of 100", Stats.beyond(xs, 0.9) == 10)
    check("p99 of 100 has one beyond", Stats.beyond(xs, 0.99) == 1)
    check("self time subtracts covered children",
      Stats.selfTime(0, 100, Seq((10L, 30L), (20L, 40L), (90L, 120L))) == 60)
    check("self time ignores empty children", Stats.selfTime(0, 10, Nil) == 10)
    check("self time of a fully covered span is zero",
      Stats.selfTime(5, 10, Seq((0L, 20L))) == 0)

    def inputDigest(seed: Long, t2: Boolean): Long = {
      val c = new LogGen(seed, t2).cursor()
      c.take(5000).map(x => LogGen.term(x.key, x.value) + x.tsMs).sum
    }
    check("same seed gives the same T1 input", inputDigest(7, t2 = false) == inputDigest(7, t2 = false))
    check("same seed gives the same T2 input", inputDigest(7, t2 = true) == inputDigest(7, t2 = true))
    check("another seed gives another input", inputDigest(7, t2 = true) != inputDigest(8, t2 = true))
    val recs = new LogGen(3, t2 = true).cursor().take(20000)
    val byId = recs.filter(_.id != null).groupBy(_.id)
    check("each id's event times never go backwards",
      byId.values.forall(rs => rs.map(_.tsMs).sliding(2).forall(p => p.length < 2 || p(0) < p(1))))
    check("json payloads are well formed", recs.take(200).forall { x =>
      scala.util.Try(new com.fasterxml.jackson.databind.ObjectMapper().readTree(x.value)).isSuccess })
    if (failures > 0) { println(s"$failures self-test(s) failed"); sys.exit(1) }
    println("all self-tests passed")
  }
}
