package graft

import org.apache.spark.sql.functions._
import graft.operators.TextOps

/** Logistic quality-classifier training: loss must fall, the fit must
  * beat the majority-class baseline on its training labels, and the
  * integer-grid gradient accumulation must make the whole fit
  * bit-deterministic across independent runs.
  */
class QualityTrainSpec extends SparkSpec {

  private val sf = "/root/testdata/sf0.01"

  test("training loss is non-increasing and the fit beats the majority baseline") {
    val (names, w, losses, n) = TextOps.docQualityTrainFit(spark, sf)
    try {
      assert(names.length == w.length)
      // full-batch GD at a sane lr: every step must improve (or hold) the
      // smooth convex objective
      losses.zip(losses.drop(1)).foreach { case (a, b) =>
        assert(b <= a + 1e-9, s"loss rose: $a -> $b (trace: $losses)")
      }
      // apply the weights back and score training accuracy vs majority
      val z = names.indices.map(j => s"(${w(j)}) * x$j").mkString(" + ")
      val feats = TextOps.docGopherFilter(spark, sf).select(
        lit(1.0).as("x0"),
        (least(col("n_tokens"), lit(200)).cast("double") / 200.0).as("x1"),
        (least(col("avg_token_len"), lit(10.0)) / 10.0).as("x2"),
        (least(col("n_stop"), lit(20)).cast("double") / 20.0).as("x3"),
        col("uniq_ratio").as("x4"),
        col("rep_ratio").as("x5"),
        col("admit").cast("double").as("y"))
      val stats = feats.select(
        sum(expr(s"IF(IF($z >= 0.0, 1.0, 0.0) = y, 1L, 0L)")).as("correct"),
        sum(expr("CAST(y AS BIGINT)")).as("pos")).head()
      val acc = stats.getLong(0).toDouble / n
      val majority = math.max(stats.getLong(1), n - stats.getLong(1)).toDouble / n
      assert(acc >= majority,
        s"trained accuracy $acc below majority baseline $majority")
    } finally CacheScope.release()
  }

  test("integer-grid gradients make the fit bit-deterministic across runs") {
    val (_, w1, l1, _) = TextOps.docQualityTrainFit(spark, sf, iters = 5)
    CacheScope.release()
    // different shuffle layout between runs must not change a single bit
    val (_, w2, l2, _) = TextOps.docQualityTrainFit(spark, sf, iters = 5)
    CacheScope.release()
    assert(w1.toSeq == w2.toSeq, s"weights diverged: ${w1.toSeq} vs ${w2.toSeq}")
    assert(l1 == l2, "loss traces diverged")
  }
}
