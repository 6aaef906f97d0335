package graft

import graft.operators.DedupOps

/** The containment family's posting-density guard (round-9 verdict):
  * the probe must diagnose the regime, the pure tier decision must
  * guard it, and the guarded dispatcher must return the SAME rows as
  * the quadratic comparator on both sides of the threshold.
  */
class ContainmentGuardSpec extends SparkSpec {
  import DedupOps.{ContainmentDensity, containmentTier}

  test("tier decision: sparse density + storable mass selects the banded scale tier") {
    assert(containmentTier(ContainmentDensity(1000000L, 3.0, 4e8)) == "banded")
    assert(containmentTier(ContainmentDensity(0L, 0.0, 0.0)) == "banded")
  }

  test("tier decision: dense but bounded corpus selects the bitmap comparator") {
    // the synthetic driver corpus regime: posting lists span ~30% of docs
    assert(containmentTier(ContainmentDensity(5000L, 1500.0, 9e8)) == "bitmap")
  }

  test("tier decision: dense at scale fails loudly with the escape hatches") {
    val e = intercept[IllegalStateException](
      containmentTier(ContainmentDensity(10000000L, 3000000.0, 1e13)))
    assert(e.getMessage.contains("minhash"))
    assert(e.getMessage.contains("no sub-quadratic plan"))
  }

  test("tier decision: saturation regime (sparse density, over-mass) is guarded too") {
    // the round-10 Zipf measurement: density ~2e-4 (reads sparse) but
    // meanPrefixDf grew 12.3 -> 35.2 on 3x docs — finite char-4-gram
    // space saturating, candidate mass super-linear with no density
    // signal. Bounded corpus -> bitmap; at scale -> loud, naming the
    // open-vocabulary shingle tier.
    assert(containmentTier(ContainmentDensity(50000L, 40.0, 3e9)) == "bitmap")
    val e = intercept[IllegalStateException](
      containmentTier(ContainmentDensity(10000000L, 500.0, 1e12)))
    assert(e.getMessage.contains("ngram_containment_shingles"))
    assert(e.getMessage.contains("saturated"))
  }

  test("the dispatcher follows the probe's decision — plan shape derived, not hardcoded") {
    // The sf0.001 corpus sits essentially ON the density bound (~0.021
    // vs 0.02), so asserting "bitmap" (or "banded") for it would break
    // on a data nudge while the dispatcher stays correct. Instead:
    // compute the probe, take the PURE decision, and assert the executed
    // plan matches THAT decision — the spec pins dispatch, not data.
    val sf = "/root/testdata/sf0.001"
    val d = DedupOps.containmentProbe2(spark, sf)
    val tier = containmentTier(d)
    assert(tier == "bitmap" || tier == "banded", s"unexpected tier $tier for $d")
    val plan = DedupOps.ngramContainmentAuto(spark, sf)
      .queryExecution.executedPlan.toString
    // the bitmap comparator's signature: the 1-row bitmap-width scalar
    // broadcast (a BroadcastNestedLoopJoin); the banded tier is pure
    // hash equijoins
    if (tier == "bitmap")
      assert(plan.contains("BroadcastNestedLoopJoin"),
        s"probe decided bitmap ($d) but the plan has no width broadcast")
    else
      assert(!plan.contains("BroadcastNestedLoopJoin"),
        s"probe decided banded ($d) but the plan has a nested-loop join")
    spark.catalog.clearCache()
  }

  test("driver corpus (sf0.001): auto matches the quadratic tier") {
    // measured probe on this corpus: density 0.0211 with the r10
    // slack-8 prefix (0.0192 with the original +2) — right at the guard
    // boundary (the synthetic vocabulary's tail grams are still
    // sampling-sparse at 500 docs; by sf0.1 the tail fills in and the
    // probe reads clearly dense). Either tier must reproduce the oracle
    // rows, so the test holds on both sides of the boundary.
    val sf = "/root/testdata/sf0.001"
    val auto = DedupOps.ngramContainmentAuto(spark, sf)
      .orderBy("a_id", "b_id").collect().toSeq
    val pairs = DedupOps.ngramContainmentPairs(spark, sf)
      .orderBy("a_id", "b_id").collect().toSeq
    assert(auto == pairs)
    spark.catalog.clearCache()
  }

  test("sparse corpus: banded branch fires and matches the quadratic tier") {
    // 150 docs of hash-derived 8-letter words (26^4 gram space, ~40k
    // grams drawn -> rarest prefix grams are near-singletons, density
    // ~1/150 << 0.02 -> banded regime) with two planted containment
    // pairs: doc 1 is a prefix of doc 0, doc 3 a superset of doc 2
    val dir = s"/tmp/graft_guard_spec_${System.nanoTime()}"
    def word(doc: Int, w: Int): String = {
      var h = doc * 1000003L + w * 7919L + 12345L
      val sb = new StringBuilder
      for (_ <- 0 until 8) {
        h = h * 6364136223846793005L + 1442695040888963407L
        sb.append(('a' + java.lang.Math.floorMod(h >>> 33, 26L).toInt).toChar)
      }
      sb.toString
    }
    def words(doc: Int, n: Int): String =
      (0 until n).map(w => word(doc, w)).mkString(" ")
    val rows = Seq.tabulate(150) { i =>
      val text = i match {
        case 1 => words(0, 24) // the first 24 of doc 0's 30 words: contained
        case 3 => words(2, 30) + " " + words(999, 2) // near-superset of doc 2
        case d => words(d, 30)
      }
      (i.toLong, text, "en", "synthetic", text.length.toLong)
    }
    import spark.implicits._
    rows.toDF("doc_id", "text", "lang", "source", "n_chars")
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    val auto = DedupOps.ngramContainmentAuto(spark, dir)
      .orderBy("a_id", "b_id").collect().toSeq
    val pairs = DedupOps.ngramContainmentPairs(spark, dir)
      .orderBy("a_id", "b_id").collect().toSeq
    assert(auto == pairs)
    assert(auto.nonEmpty, "planted containment pairs must surface")
    assert(auto.map(r => (r.getLong(0), r.getLong(1))).contains((0L, 1L)))
    spark.catalog.clearCache()
  }

  test("banded spines carry the K=8 slack at runtime (initialization-order tripwire, r14)") {
    // PrefixSlack/JaccardPrefixSlack are object vals: a spine declared
    // BEFORE them reads an uninitialized 0 (scalac warns, nothing
    // fails) and silently runs a shorter prefix than the recall
    // derivation assumes — exactly what happened to recallSpine when
    // it was first added. Pin the live values.
    assert(DedupOps.jaccardSpine.slack == 8)
    assert(DedupOps.recallSpine.slack == 8)
    assert(DedupOps.containmentSpine.slack == 8)
  }

  test("quadratic-twin broadcast tripwire: the tier bound is enforced at runtime (r13 verdict #2)") {
    // the forced _pairs twins broadcast a full per-doc gram table — only
    // safe under the <= allPairsBound contract the auto dispatchers
    // already enforce; the tripwire makes the forced paths fail loudly
    // with the same escape hatches instead of OOMing a driver
    val docs = Tables.documents(spark, "/root/testdata/sf0.001")
    DedupOps.requireBoundedCorpus(docs, "spec", bound = 100000L) // under: passes
    val e = intercept[IllegalStateException](
      DedupOps.requireBoundedCorpus(docs, "spec", bound = 10L))
    assert(e.getMessage.contains("bounded-quadratic tier"))
    assert(e.getMessage.contains("minhash-LSH"))
  }

  test("quadratic-twin guard counts documents: many tiny docs exceed the bound") {
    // 11 one-word docs are a few KB of parquet — far under any byte gate
    // sized at 4 KiB per doc — but one doc over the 10-doc contract
    import spark.implicits._
    val dir = s"/tmp/graft_tiny_docs_spec_${System.nanoTime()}"
    (0L until 11L).map(i => (i, s"w$i", "en", "synthetic", 2L))
      .toDF("doc_id", "text", "lang", "source", "n_chars")
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    val e = intercept[IllegalStateException](
      DedupOps.requireBoundedCorpus(Tables.documents(spark, dir), "spec", bound = 10L))
    assert(e.getMessage.contains("11 documents"))
  }
}
