package graft


import graft.operators.TextOps

/** BPE merge learning: hand-computed merges on the classic
  * low/lower/lowest corpus, the deterministic lexicographic tie-break,
  * the greedy leftmost-fold rewrite (overlap case), and the max-pair-count
  * monotonicity invariant (each round's winning count never exceeds the
  * previous round's — a new pair involving the merged symbol can occur at
  * most as often as the merge that created it).
  */
class BpeTrainSpec extends SparkSpec {

  private def train(texts: Seq[String], merges: Int): Seq[(Long, String, String, String, Long)] = {
    val s = spark
    import s.implicits._
    val docs = texts.zipWithIndex
      .map { case (t, i) => (i.toLong, t) }.toDF("doc_id", "text")
    TextOps.docBpeTrainOf(docs, merges).collect()
      .map(r => (r.getLong(0), r.getString(1), r.getString(2), r.getString(3), r.getLong(4)))
      .toSeq.sortBy(_._1)
  }

  test("low/lower/lowest/newer/newest corpus learns the hand-computed merges") {
    // pair counts round 1: (w,e)=4 beats (l,o)=(o,w)=3; round 2: (l,o)=3;
    // round 3: six pairs tie at 2 -> lexicographic smallest (e,we) wins
    val got = train(Seq("low lower lowest", "newer newest"), merges = 3)
    assert(got == Seq(
      (1L, "w", "e", "we", 4L),
      (2L, "l", "o", "lo", 3L),
      (3L, "e", "we", "ewe", 2L)), s"unexpected merges: $got")
  }

  test("greedy leftmost fold: 'aaaa' counts 3 overlapping (a,a) but rewrites to [aa, aa]") {
    // round 1: (a,a) appears at 3 positions in the single word 'aaaa';
    // after the leftmost non-overlapping rewrite the word is [aa, aa], so
    // round 2's winning pair must be (aa, aa) with count 1 — a fold that
    // wrongly re-merged across the just-merged boundary would emit (aa, a)
    val got = train(Seq("aaaa"), merges = 2)
    assert(got == Seq(
      (1L, "a", "a", "aa", 3L),
      (2L, "aa", "aa", "aaaa", 1L)), s"unexpected merges: $got")
  }

  test("merge list is exhausted gracefully when no pairs remain") {
    // single-char words only: zero adjacent pairs, zero merges
    assert(train(Seq("a b c", "a b"), merges = 4).isEmpty)
  }

  test("doc_bpe_apply: symbol counts bounded by words below and chars above") {
    import org.apache.spark.sql.functions._
    val out = TextOps.docBpeApply(spark, "/root/testdata/sf0.001").cache()
    try {
      // each word is ≥ 1 symbol; merges only ever shrink sequences
      assert(out.filter(col("n_sym") < col("n_tok") ||
        col("n_sym") > col("n_alpha")).isEmpty,
        "n_tok ≤ n_sym ≤ n_alpha must hold per doc")
      // the learned merges actually fire somewhere
      val shrunk = out.filter(col("n_sym") < col("n_alpha")).count()
      assert(shrunk > 0, "no document shrank — merges never applied")
    } finally { out.unpersist(); CacheScope.release() }
  }

  test("sf0.01 corpus: merged == left||right and winning counts are non-increasing") {
    val rows = TextOps.docBpeTrain(spark, "/root/testdata/sf0.01", merges = 6).collect()
      .sortBy(_.getLong(0))
    assert(rows.length == 6)
    rows.foreach { r =>
      assert(r.getString(3) == r.getString(1) + r.getString(2))
    }
    val counts = rows.map(_.getLong(4)).toSeq
    assert(counts == counts.sorted(Ordering[Long].reverse),
      s"max pair count must be non-increasing across rounds: $counts")
  }
}
