package graft

/** Dev utility: print the executed physical plan of one registered query —
  * the `.explain("formatted")` feedback loop as a one-liner.
  *
  * {{{ sbt "runMain graft.PlanDump doc_cms_freq [/root/testdata/sf0.001] [--aqe]" }}}
  *
  * AQE is off by default so the static plan (the one PlanSpec asserts on)
  * is shown; pass `--aqe` for the runtime-replanned form.
  */
object PlanDump {
  def main(args: Array[String]): Unit = {
    def usage(): Nothing = throw new IllegalArgumentException(
      "usage: PlanDump <query>[,q2,...] [sfDir] [--aqe] [--out dir]")
    def positional(rest: List[String]): List[String] = rest match {
      case "--out" :: Nil => usage()
      case "--out" :: _ :: tail => positional(tail)
      case a :: tail if a.startsWith("--") => positional(tail)
      case a :: tail => a :: positional(tail)
      case Nil => Nil
    }
    val (paths, queries) = positional(args.toList).partition(_.startsWith("/"))
    val names = queries.flatMap(_.split(","))
    if (names.isEmpty) usage()
    val sfDir = paths.headOption.getOrElse("/root/testdata/sf0.001")
    val outDir = args.sliding(2).collectFirst { case Array("--out", d) => d }
    val aqe = args.contains("--aqe")
    // PlanSpec's geometry: 4 cores, 4 shuffle partitions, AQE off unless
    // asked for, so the printed plan is the one PlanSpec asserts on
    val spark = DevSession("spark.master" -> "local[4]",
      "spark.sql.shuffle.partitions" -> "4",
      "spark.sql.adaptive.enabled" -> aqe.toString)
    names.foreach { name =>
      val df = CacheScope.uncached(SparkEntry.queries(name)(spark, sfDir))
      val formatted = df.queryExecution.explainString(
        org.apache.spark.sql.execution.FormattedMode)
      outDir match {
        case Some(dir) =>
          java.nio.file.Files.createDirectories(java.nio.file.Paths.get(dir))
          java.nio.file.Files.write(
            java.nio.file.Paths.get(dir, s"$name.txt"),
            formatted.getBytes("UTF-8"))
          println(s"[plandump] wrote $dir/$name.txt")
        case None =>
          println(formatted)
          println("===== toString form (what PlanSpec greps) =====")
          println(df.queryExecution.executedPlan.toString)
      }
      CacheScope.release()
    }
    spark.stop()
  }
}
