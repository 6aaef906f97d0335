package graft

import org.apache.spark.sql.functions._
import graft.operators.VectorOps

/** First-principles invariants for MMR diversified retrieval — the
  * cross-engine selection parity is the DuckDB gate's job (the oracle
  * unrolls the greedy into CTE steps); these pin what the greedy MUST
  * satisfy on any corpus.
  */
class MmrSpec extends SparkSpec {

  private val sf = "/root/testdata/sf0.001"

  test("emb_mmr: k distinct picks, argmax-rel first, scores non-increasing") {
    val rows = VectorOps.embMmr(spark, sf).orderBy(col("rank")).collect()
    assert(rows.length == 10)
    val ids = rows.map(_.getLong(1))
    assert(ids.distinct.length == ids.length, "picks must be distinct")
    assert(rows.map(_.getInt(0)).toSeq == (1 to 10), "ranks must be 1..k")
    // rank 1 is the plain relevance argmax (empty selected set)
    val rels = VectorOps.embMmr(spark, sf, nCand = 50, k = 1)
      .select(col("vec_id"), col("rel")).head()
    assert(rows.head.getLong(1) == rels.getLong(0))
    // score(d|S) is monotone non-increasing in S, and each pick is the
    // remaining argmax, so the emitted score sequence never increases
    val scores = rows.map(_.getDouble(3))
    scores.sliding(2).foreach {
      case Array(a, b) => assert(b <= a + 1e-9, s"score rose: $a -> $b")
      case _           => ()
    }
  }

  test("emb_mmr: selected set is more diverse than plain top-k") {
    def avgPairSim(ids: Seq[Long]): Double = {
      val e = Tables.embeddings(spark, sf)
        .filter(col("vec_id").isin(ids: _*))
        .withColumn("v", expr("transform(embedding, x -> CAST(x AS DOUBLE))"))
      val a = e.select(col("vec_id").as("a_id"), col("v").as("av"))
      val b = e.select(col("vec_id").as("b_id"), col("v").as("bv"))
      a.join(b, col("a_id") < col("b_id"))
        .select(expr("cosine_sim(av, bv)").as("s"))
        .agg(avg(col("s"))).head().getDouble(0)
    }
    val mmrIds = VectorOps.embMmr(spark, sf).select("vec_id")
      .collect().map(_.getLong(0)).toSeq
    val knnIds = VectorOps.embKnn(spark, sf)
      .filter(col("q_id") === 0).orderBy(col("rank"))
      .select("n_id").collect().map(_.getLong(0)).toSeq
    // MMR explicitly penalizes redundancy; plain knn around the same
    // query must be at least as mutually similar
    val (dMmr, dKnn) = (avgPairSim(mmrIds), avgPairSim(knnIds))
    assert(dMmr <= dKnn + 1e-9,
      s"MMR picks ($dMmr) should not be less diverse than top-k ($dKnn)")
  }
}
