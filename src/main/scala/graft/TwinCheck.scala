package graft

/** Row-for-row equality check between two [[SparkEntry.queries]] entries
  * on one corpus — the in-engine harness for "this scale tier must equal
  * that quadratic oracle tier" spot checks at SFs the unit suites don't
  * cover (the driver gate checks each query against DuckDB, but not two
  * tiers against each other above sf0.001).
  *
  * Usage: tools/runmain.sh graft.TwinCheck <queryA> <queryB> [sfDir]
  * Prints per-query wall seconds, row counts, and EQUAL=true/false
  * (sorted full-row comparison); exits 1 on mismatch.
  *
  * Timing de-bias (r12 verdict #5): query A used to run first and
  * absorb the JVM's whole JIT cold start (the r12 artifact recorded
  * banded@50k at 173 s here vs 60.6–66.6 s under the jitgated
  * fresh-JVM harness). Both queries are warmed once on a small corpus
  * (`TWIN_WARMUP_SF`, default sf0.001) before either
  * timed run: the warmup compiles the same codegen'd stages the timed
  * plans execute, so neither query is charged the other's compilation.
  * EQUAL and the row counts are the evidence; the walls are
  * informational.
  */
object TwinCheck {
  def main(args: Array[String]): Unit = {
    require(args.length >= 2, "usage: TwinCheck <queryA> <queryB> [sfDir]")
    val (qa, qb) = (args(0), args(1))
    val sf = if (args.length > 2) args(2) else "/root/testdata/sf0.01"
    val spark = DevSession()
    def run(name: String): (Seq[String], Double) = {
      val t0 = System.nanoTime()
      val df = SparkEntry.queries(name)(spark, sf)
      val cols = df.columns.sorted.map(org.apache.spark.sql.functions.col)
      val rows = df.select(cols.toSeq: _*).collect()
        .map(_.toString).sorted.toSeq
      val secs = (System.nanoTime() - t0) / 1e9
      spark.catalog.clearCache(); CacheScope.release()
      (rows, secs)
    }
    val wsf = sys.env.getOrElse("TWIN_WARMUP_SF", "/root/testdata/sf0.001")
    val t0 = System.nanoTime()
    Seq(qa, qb).foreach { q =>
      SparkEntry.queries(q)(spark, wsf)
        .write.format("noop").mode("overwrite").save()
      spark.catalog.clearCache(); CacheScope.release()
    }
    println(f"[twincheck] warmup: both queries once on $wsf " +
      f"in ${(System.nanoTime() - t0) / 1e9}%.2f s (JIT de-bias)")
    val (ra, ta) = run(qa)
    val (rb, tb) = run(qb)
    println(f"[twincheck] $qa: ${ra.size} rows in $ta%.2f s")
    println(f"[twincheck] $qb: ${rb.size} rows in $tb%.2f s")
    val equal = ra == rb
    println(s"[twincheck] EQUAL=$equal sf=$sf")
    if (!equal) {
      (ra.toSet -- rb.toSet).take(5).foreach(r => println(s"  only in $qa: $r"))
      (rb.toSet -- ra.toSet).take(5).foreach(r => println(s"  only in $qb: $r"))
    }
    spark.stop()
    if (!equal) sys.exit(1)
  }
}
