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
  * {{{ tools/runmain.sh graft.NgramProbe /tmp/zipf/150k }}}
  */
object NgramProbe {
  def main(args: Array[String]): Unit = {
    require(args.nonEmpty, "usage: NgramProbe <corpusDir> [collapse|r14]")
    val dir = args(0)
    val spark = DevSession()
    if (args.length > 1 && args(1) == "collapse") {
      // round-11 PPJoin+ A/B companion: verify-input sizes of the r10
      // and r11 jaccard banded compositions (box-independent counts)
      val s = operators.DedupOps.jaccardCollapseProbe(spark, dir)
      println(s"[ngramprobe] $dir jaccard_collapse $s")
    } else if (args.length > 1 && args(1) == "r14") {
      // r14 evidence: recall-audit collapse + per-family size-filter cuts
      val r = operators.DedupOps.recallCollapseProbe(spark, dir)
      println(s"[ngramprobe] $dir recall_collapse $r")
      operators.DedupOps.sizeBoundProbe(spark, dir).foreach { case (k, s) =>
        println(s"[ngramprobe] $dir sizebound_$k $s")
      }
    } else {
      val probes = operators.DedupOps.ngramProbes(spark, dir)
      probes.foreach { case (name, s) => println(s"[ngramprobe] $dir $name $s") }
    }
    spark.stop()
  }
}
