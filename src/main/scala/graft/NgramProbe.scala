package graft

/** Dev utility (round 10): print the ngram family's guard probes for a
  * corpus — the quantitative saturation evidence without running the
  * candidate joins the probes exist to predict. For each gram source
  * (char-4-grams for jaccard/containment, word-3-shingles for the
  * open-vocabulary tier) this runs only the gram + ranking passes
  * (linear, bounded shuffles) and prints docs, mean prefix df, density,
  * and the EXACT candidate-join row pre-count. Sweeping it across the
  * Zipf corpus tiers measures how each tier's candidate mass scales —
  * the number that decides whether the banded join is runnable — in
  * minutes instead of the hours (or disk DNFs) the joins themselves
  * cost in the saturated regime.
  *
  * Mode `agg` instead runs each banded family's candidate join and
  * per-pair aggregate (jaccard and containment over char-4-grams, the
  * `dedup_lsh_recall` truth pass) and prints the aggregate's input rows
  * (Σ matches) and its survivor count.
  *
  * {{{ tools/runmain.sh graft.NgramProbe /tmp/zipf/150k [agg] }}}
  */
object NgramProbe {
  def main(args: Array[String]): Unit = {
    require(args.length == 1 || (args.length == 2 && args(1) == "agg"),
      "usage: NgramProbe <corpusDir> [agg]")
    val dir = args(0)
    val spark = DevSession()
    val (mode, probes) =
      if (args.length == 2) ("agg_", operators.DedupOps.aggProbe(spark, dir))
      else ("", operators.DedupOps.ngramProbes(spark, dir))
    probes.foreach { case (name, s) => println(s"[ngramprobe] $dir $mode$name $s") }
    spark.stop()
  }
}
