package graft

import graft.operators.{DedupOps, Relational, VectorOps}

/** Accuracy bounds for the approximate operators: each approximate form
  * is checked against its exact twin on testdata. (Since r8 the q15/q18/
  * q20/q21 approximate forms are ALSO hash-checked cross-engine — the
  * deterministic md5-HLL and hash-sample percentiles have exact DuckDB
  * twins — so these bounds pin the STATISTICAL quality, not correctness.)
  */
class AccuracySpec extends SparkSpec {

  private val sf = "/root/testdata/sf0.001"
  // the hash-sample estimators' error is √(p(1−p)/n)/f — scale-FREE in
  // the sample size, so the percentile/decile tests run at sf0.01 where
  // the 10–20% samples are big enough for the asserted bounds to be
  // >3σ events rather than coin flips
  private val sfSample = "/root/testdata/sf0.01"

  test("dedup_lsh_recall truth pass: PPJoin+ thinning finds exactly the brute-force truth (r14)") {
    // the audit's n_true must equal the ALL-PAIRS exact jaccard count —
    // the recall-1.0 property the spine derivation claims. Brute force
    // recomputed here from raw shingle sets, independent of the operator.
    val sf = "/root/testdata/sf0.001"
    import org.apache.spark.sql.functions._
    val shs = Tables.documents(spark, sf)
      .withColumn("t", graft.functions.TextFns.tokens(col("text")))
      .select(col("doc_id"),
        array_distinct(expr(graft.functions.TextFns.shingles3Sql("t"))).as("shset"))
    val brute = shs.as("a").join(shs.as("b"),
        col("a.doc_id") < col("b.doc_id"))
      .withColumn("ic", size(array_intersect(col("a.shset"), col("b.shset"))).cast("double"))
      .withColumn("jacc", round(col("ic") /
        (size(col("a.shset")) + size(col("b.shset")) - col("ic")), 4))
      .filter(col("jacc") >= 0.5)
      .count()
    val row = operators.DedupOps.dedupLshRecall(spark, sf).head()
    CacheScope.release(); spark.catalog.clearCache()
    assert(row.getLong(0) == brute,
      s"thinned truth ${row.getLong(0)} != brute-force truth $brute")
    assert(brute > 0, "sf0.001 must contain at least one true near-dup pair")
  }

  test("q18 approx_count_distinct within 2% of the exact q9 counts") {
    val exact = Relational.q9DistinctAgg(spark, sf).collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap // n_parts per flag
    val approx = Relational.q18ApproxDistinct(spark, sf).collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap // approx_parts
    assert(exact.keySet == approx.keySet)
    exact.foreach { case (flag, e) =>
      val a = approx(flag)
      assert(math.abs(a - e).toDouble / e <= 0.02,
        s"$flag: approx $a vs exact $e exceeds 2%")
    }
  }

  test("q18_approx_prod (xxhash64 base) within 2% of the exact q9 counts") {
    val exact = Relational.q9DistinctAgg(spark, sf).collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    val approx = Relational.q18ApproxDistinctProd(spark, sf).collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(exact.keySet == approx.keySet)
    exact.foreach { case (flag, e) =>
      val a = approx(flag)
      assert(math.abs(a - e).toDouble / e <= 0.02,
        s"$flag: approx $a vs exact $e exceeds 2%")
    }
  }

  test("q15_approx percentiles within 5% of the exact q15 percentiles") {
    // 10% hash sample at sf0.01 → ~2k rows/flag; sample-median relative
    // se ≈ 1.25·(σ/μ)/√n ≈ 1.5%, so 5% is a >3σ bound
    def byFlag(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => r.getString(0) -> Seq(r.getDouble(1), r.getDouble(2), r.getDouble(3))).toMap
    val exact = byFlag(Relational.q15Percentile(spark, sfSample))
    val approx = byFlag(Relational.q15Approx(spark, sfSample))
    assert(exact.keySet == approx.keySet)
    exact.foreach { case (flag, es) =>
      es.zip(approx(flag)).zipWithIndex.foreach { case ((e, a), i) =>
        assert(math.abs(a - e) / e <= 0.05,
          s"$flag p${Seq(50, 90, 99)(i)}: approx $a vs exact $e exceeds 5%")
      }
    }
  }

  test("q20_approx deciles agree with exact ntile (±1 tile at sample boundaries)") {
    val exact = Relational.q20Ntile(spark, sfSample).collect()
      .map(r => r.getLong(0) -> r.getInt(2)).toMap
    val approx = Relational.q20Approx(spark, sfSample).collect()
      .map(r => r.getLong(0) -> r.getInt(2)).toMap
    assert(exact.keySet == approx.keySet)
    val diffs = exact.map { case (k, e) => math.abs(approx(k) - e) }
    // sampled boundaries shift by ≈ √(pq/n)/0.1 ≈ 0.3 tiles (n≈300 at
    // sf0.01's 20% sample), and boundary lookup can't split ties by rank
    // the way equi-depth ntile does — so rows may land one tile off, and
    // in the extreme tail two; mass beyond ±1 must be ≤ 1%
    assert(diffs.max <= 2, s"max decile deviation ${diffs.max} > 2")
    val within1 = diffs.count(_ <= 1).toDouble / diffs.size
    assert(within1 >= 0.99, s"only $within1 of rows within ±1 tile")
    val agree = diffs.count(_ == 0).toDouble / diffs.size
    info(f"q20_approx exact-tile agreement: $agree%.3f")
    // expected disagreement ≈ Σ over 9 boundaries of the rank shift
    // fraction ≈ 9·√(0.1·0.9/300)/10 ≈ 10–15% — 0.85 is the 3σ floor
    assert(agree >= 0.85, s"only $agree of rows on the exact tile")
  }

  test("q21_approx profile: sketch cardinalities within 2% of exact q21") {
    val e = Relational.q21Profile(spark, sf).collect().head
    val a = Relational.q21Approx(spark, sf).collect().head
    // non-sketch columns are bit-identical
    Seq("n_rows", "min_ship", "max_ship", "sum_qty", "avg_price").foreach { c =>
      assert(e.getAs[Any](c) == a.getAs[Any](c), s"$c differs")
    }
    Seq("n_orders", "n_parts").foreach { c =>
      val ev = e.getAs[Long](c); val av = a.getAs[Long](c)
      assert(math.abs(av - ev).toDouble / ev <= 0.02,
        s"$c: approx $av vs exact $ev exceeds 2%")
    }
  }

  test("q21_approx_prod (xxhash64 base): sketch cardinalities within 2% of exact q21") {
    val e = Relational.q21Profile(spark, sf).collect().head
    val a = Relational.q21ApproxProd(spark, sf).collect().head
    Seq("n_rows", "min_ship", "max_ship", "sum_qty", "avg_price").foreach { c =>
      assert(e.getAs[Any](c) == a.getAs[Any](c), s"$c differs")
    }
    Seq("n_orders", "n_parts").foreach { c =>
      val ev = e.getAs[Long](c); val av = a.getAs[Long](c)
      assert(math.abs(av - ev).toDouble / ev <= 0.02,
        s"$c: approx $av vs exact $ev exceeds 2%")
    }
  }

  test("IVF ANN: recall monotone in nprobe; probing all cells == exact brute force") {
    import graft.operators.VectorOps
    def triples(df: org.apache.spark.sql.DataFrame) = df
      .select("q_id", "rank", "n_id").collect()
      .map(r => (r.get(0).toString, r.get(1).toString, r.get(2).toString)).toSet
    def pairs(df: org.apache.spark.sql.DataFrame) = df
      .select("q_id", "n_id").collect()
      .map(r => (r.get(0).toString, r.get(1).toString)).toSet
    val exact = VectorOps.embKnn(spark, sf)
    val exactPairs = pairs(exact)
    def recall(np: Int) =
      pairs(VectorOps.embIvfKnn(spark, sf, cells = 16, nprobe = np))
        .intersect(exactPairs).size.toDouble / exactPairs.size
    val r2 = recall(2)
    val r4 = recall(4)
    info(f"IVF recall: nprobe=2 → $r2%.3f, nprobe=4 → $r4%.3f")
    // a true top-5 neighbor in the candidate set can never be displaced
    // (at most 4 vectors beat it globally), so recall grows with nprobe
    assert(r4 >= r2, s"recall must be monotone in nprobe: $r2 vs $r4")
    assert(r2 >= 0.5, s"nprobe=2 recall too low: $r2")
    // probing every cell = scoring the whole corpus = brute force, exactly
    assert(triples(VectorOps.embIvfKnn(spark, sf, cells = 16, nprobe = 16)) ==
      triples(exact))
  }

  test("JL ANN: recall monotone in projection width; cand >= corpus == exact") {
    import graft.operators.VectorOps
    val sf01 = "/root/testdata/sf0.01" // 500 vectors: sf0.001's 50 make cand>=corpus vacuous
    def pairs(df: org.apache.spark.sql.DataFrame) = df
      .select("q_id", "n_id").collect()
      .map(r => (r.get(0).toString, r.get(1).toString)).toSet
    val exactPairs = pairs(VectorOps.embKnn(spark, sf01))
    def recall(rpDims: Int, cand: Int = 100) =
      pairs(VectorOps.embRpKnn(spark, sf01, rpDims = rpDims, cand = cand))
        .intersect(exactPairs).size.toDouble / exactPairs.size
    val r8 = recall(8)
    val r32 = recall(32)
    info(f"JL recall@5 (cand=100): k=8 → $r8%.3f, k=32 → $r32%.3f")
    // more projection dims = less distortion = a true neighbor more likely
    // inside the candidate cut (measured 0.54 → 0.76 on this corpus)
    assert(r32 >= r8, s"recall must be monotone in rpDims: $r8 vs $r32")
    assert(r32 >= 0.5, s"k=32 recall too low (sign-matrix regression?): $r32")
    // keeping every candidate makes the projection irrelevant: the exact
    // re-rank sees the whole corpus = brute force, exactly
    assert(pairs(VectorOps.embRpKnn(spark, sf01, rpDims = 8, cand = 1000)) ==
      exactPairs)
  }

  test("trained IVF: Lloyd centroids keep recall and balance the inverted lists") {
    import graft.operators.VectorOps
    def pairs(df: org.apache.spark.sql.DataFrame) = df
      .select("q_id", "n_id").collect()
      .map(r => (r.get(0).toString, r.get(1).toString)).toSet
    val exactPairs = pairs(VectorOps.embKnn(spark, sf))
    val untrained = pairs(VectorOps.embIvfKnn(spark, sf, cells = 16, nprobe = 2))
      .intersect(exactPairs).size.toDouble / exactPairs.size
    val trained = pairs(VectorOps.embIvfTrained(spark, sf, cells = 16, iters = 2, nprobe = 2))
      .intersect(exactPairs).size.toDouble / exactPairs.size
    info(f"IVF recall at nprobe=2: untrained → $untrained%.3f, trained → $trained%.3f")
    assert(trained >= 0.5, s"trained-IVF recall too low: $trained")
    // cell balance: Lloyd membership counts (emb_kmeans n_members at k=16)
    // must not concentrate the corpus into one inverted list
    val members = VectorOps.embKmeans(spark, sf, k = 16, iters = 2)
      .select("c_id", "n_members").distinct().collect()
      .map(r => r.getLong(1))
    val n = members.sum.toDouble
    info(f"trained cell sizes: max ${members.max}, mean ${n / members.length}%.1f")
    assert(members.max <= n * 0.5, "one trained cell holds most of the corpus")
  }

  test("IVF-PQ: recall monotone in cand; full probes + full cand == brute force") {
    import graft.operators.VectorOps
    def triples(df: org.apache.spark.sql.DataFrame) = df
      .select("q_id", "rank", "n_id").collect()
      .map(r => (r.get(0).toString, r.get(1).toString, r.get(2).toString)).toSet
    def pairs(df: org.apache.spark.sql.DataFrame) = df
      .select("q_id", "n_id").collect()
      .map(r => (r.get(0).toString, r.get(1).toString)).toSet
    val exact = VectorOps.embKnn(spark, sf)
    val exactPairs = pairs(exact)
    def recall(cand: Int) =
      pairs(VectorOps.embIvfPq(spark, sf, cells = 16, m = 16, k = 64,
        iters = 2, nprobe = 2, cand = cand, topK = 5))
        .intersect(exactPairs).size.toDouble / exactPairs.size
    val r10 = recall(10)
    val r30 = recall(30)
    info(f"IVF-PQ recall@5: cand=10 → $r10%.3f, cand=30 → $r30%.3f")
    // with fixed probes a larger cand keeps a superset of ADC candidates,
    // and the exact re-rank never drops a true neighbor it was given
    assert(r30 >= r10, s"recall must be monotone in cand: $r10 vs $r30")
    assert(r30 >= 0.5, s"cand=30 recall too low: $r30")
    // probing every cell puts the whole corpus in the ADC scan; cand >=
    // corpus keeps all of it; the exact re-rank is then brute force, exactly
    assert(triples(VectorOps.embIvfPq(spark, sf, cells = 16, m = 16, k = 64,
      iters = 2, nprobe = 16, cand = 1000, topK = 5)) == triples(exact))
  }

  test("SemDeDup: every within-cluster drop pair is a true >=0.3-cosine pair") {
    import graft.operators.VectorOps
    val exhaustive = VectorOps.embNeardupLsh(spark, sf, planes = 0) // all-pairs truth
      .select("a_id", "b_id").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val sem = VectorOps.embSemdedup(spark, sf).collect()
      .map(r => (r.getAs[Long]("keep_id"), r.getAs[Long]("drop_id"))).toSet
    assert(sem.nonEmpty)
    val bogus = sem.filterNot(exhaustive)
    assert(bogus.isEmpty, s"semdedup emitted non-neardup pairs: ${bogus.take(5)}")
    info(f"SemDeDup kept ${sem.size} of ${exhaustive.size} true pairs " +
      f"(cluster-local recall ${sem.size.toDouble / exhaustive.size}%.2f)")
  }

  test("LSH ANN: recall monotone in plane count; 0 planes == exhaustive pair scan") {
    import graft.operators.VectorOps
    def pairs(planes: Int) = VectorOps.embNeardupLsh(spark, sf, planes)
      .select("a_id", "b_id").collect()
      .map(r => (r.get(0).toString, r.get(1).toString)).toSet
    val exhaustive = pairs(0) // single bucket → all-pairs ground truth
    val p4 = pairs(4)
    val p6 = pairs(6)
    assert(exhaustive.nonEmpty)
    // buckets are prefix-compatible: colliding on p planes implies
    // colliding on any prefix → pair sets nest, recall monotone
    assert(p6.subsetOf(p4) && p4.subsetOf(exhaustive))
    val r4 = p4.size.toDouble / exhaustive.size
    val r6 = p6.size.toDouble / exhaustive.size
    info(f"LSH recall: planes=4 → $r4%.3f, planes=6 → $r6%.3f")
    assert(r6 > 0.0 && r4 >= r6)
  }

  test("Misra-Gries top-k: exact at large capacity; small-capacity bounds hold") {
    import graft.operators.TextOps
    val exactTop = TextOps.docNgramFreq(spark, sf).collect()
      .map(r => r.getString(0) -> r.getLong(1))
    val exact = exactTop.toMap
    // big capacity: no decrement ever fires -> identical to the exact query
    val big = TextOps.docNgramTopkSketch(spark, sf, capacity = 4096).collect()
      .map(r => r.getString(0) -> r.getLong(1))
    assert(big.toSeq == exactTop.toSeq, "capacity >= distinct grams must be exact")
    // small capacity: every estimate undercounts by at most N/(C+1), and
    // every gram with true count > N/(C+1) survives the summary
    val n = Tables.documents(spark, sf)
      .selectExpr("sum(greatest(size(split(trim(regexp_replace(lower(text), '[^a-z0-9]+', ' ')), ' ')) - 1, 0)) AS n")
      .collect().head.getLong(0)
    val cap = 16
    val bound = n.toDouble / (cap + 1)
    val small = TextOps.docNgramTopkSketch(spark, sf, capacity = cap).collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    info(s"MG: N=$n, C=$cap, error bound=${bound.toInt}, summary size=${small.size}")
    small.foreach { case (g, est) =>
      val t = exact.getOrElse(g, est) // grams beyond exact top-100 unknown; skip upper check
      if (exact.contains(g))
        assert(est <= t && est >= t - bound, s"$g: est $est vs true $t out of bound $bound")
    }
    exactTop.filter(_._2 > bound).foreach { case (g, t) =>
      assert(small.contains(g), s"heavy hitter $g (count $t > $bound) missing at C=$cap")
    }
  }

  test("PQ ADC: exact when k >= corpus (own-centroid fixed point); coarse grid degrades") {
    import org.apache.spark.sql.functions._
    import org.apache.spark.sql.expressions.Window
    // exact squared-L2 top-5 ground truth (same metric as ADC)
    val emb = Tables.embeddings(spark, sf)
      .withColumn("v", expr("transform(embedding, x -> CAST(x AS DOUBLE))"))
      .select(col("vec_id"), col("v"))
    val q = emb.filter(col("vec_id") < 10)
      .select(col("vec_id").as("q_id"), col("v").as("qv"))
    val w = Window.partitionBy(col("q_id")).orderBy(col("d").asc, col("n_id").asc)
    val exactPairs = emb.select(col("vec_id").as("n_id"), col("v").as("cv"))
      .join(broadcast(q), col("q_id") =!= col("n_id"))
      .withColumn("d", expr(
        "aggregate(zip_with(qv, cv, (x, y) -> (x - y) * (x - y)), " +
          "CAST(0 AS DOUBLE), (acc, z) -> acc + z)"))
      .withColumn("rank", row_number().over(w)).filter(col("rank") <= 5)
      .select("q_id", "n_id").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    def pairs(df: org.apache.spark.sql.DataFrame) = df
      .select("q_id", "n_id").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    // sf0.001 has 500 vectors; k=512 >= 500 makes every sub-vector its own
    // centroid after Lloyd, so quantization is lossless (mod 1e-6
    // rounding) and ADC top-5 == exact-L2 top-5
    val lossless = pairs(VectorOps.embPq(spark, sf, m = 16, k = 512, iters = 2, topK = 5))
    val rLossless = lossless.intersect(exactPairs).size.toDouble / exactPairs.size
    info(f"PQ recall, k >= n (lossless): $rLossless%.3f")
    assert(rLossless >= 0.9, s"own-centroid PQ must be ~exact: $rLossless")
    // the shipped default (m=16, k=64) sits between the extremes
    val default = pairs(VectorOps.embPq(spark, sf))
    val rDefault = default.intersect(exactPairs).size.toDouble / exactPairs.size
    info(f"PQ recall, default m=16/k=64: $rDefault%.3f")
    assert(rDefault >= 0.3, s"default-grid recall too low: $rDefault")
    // a coarse 4x16 grid on near-random vectors loses most neighbors —
    // the quality/compression dial the scaladoc documents
    val coarse = pairs(VectorOps.embPq(spark, sf, m = 4, k = 16, iters = 2, topK = 5))
    val rCoarse = coarse.intersect(exactPairs).size.toDouble / exactPairs.size
    info(f"PQ recall, coarse m=4/k=16: $rCoarse%.3f")
    assert(rCoarse <= rLossless, "finer-than-corpus grid can't lose to a coarse one")
    CacheScope.release()
  }

  test("simhash_banded (global, bucketed) ⊇ simhash_neardup (lang-blocked)") {
    def pairs(df: org.apache.spark.sql.DataFrame) = df.select("a_id", "b_id")
      .collect().map(r => (r.get(0).toString, r.get(1).toString)).toSet
    val banded = pairs(DedupOps.simhashBanded(spark, sf))
    val blocked = pairs(DedupOps.simhashNeardup(spark, sf))
    // the banded plan has no blocking key, so it finds every Hamming≤3
    // pair the lang-blocked plan finds (plus any cross-lang ones)
    assert(blocked.subsetOf(banded),
      s"missing: ${blocked.diff(banded).take(5)}")
  }

  test("multi-probe LSH ⊇ single-probe at the same plane count") {
    def pairs(df: org.apache.spark.sql.DataFrame) = df.select("a_id", "b_id")
      .collect().map(r => (r.get(0).toString, r.get(1).toString)).toSet
    val single = pairs(VectorOps.embNeardupLsh(spark, sf, planes = 6))
    val multi = pairs(VectorOps.embNeardupMultiprobe(spark, sf, planes = 6))
    assert(single.subsetOf(multi),
      s"probe of the exact bucket must be included: ${single.diff(multi).take(5)}")
    info(s"LSH pairs: single-probe ${single.size}, multi-probe ${multi.size}")
  }

  test("BQ ANN: recall bounded below; cand >= corpus == exact brute force") {
    import graft.operators.VectorOps
    val sf01 = "/root/testdata/sf0.01" // 500 vectors, same regime as the JL test
    def pairs(df: org.apache.spark.sql.DataFrame) = df
      .select("q_id", "n_id").collect()
      .map(r => (r.get(0).toString, r.get(1).toString)).toSet
    val exactPairs = pairs(VectorOps.embKnn(spark, sf01))
    val bq = pairs(VectorOps.embBqKnn(spark, sf01))
      .intersect(exactPairs).size.toDouble / exactPairs.size
    info(f"BQ recall@5 (cand=100): $bq%.3f")
    assert(bq >= 0.5, s"BQ recall too low (sign/midpoint regression?): $bq")
    // keeping every Hamming candidate makes the quantization irrelevant:
    // the exact re-rank sees the whole corpus = brute force, exactly
    assert(pairs(VectorOps.embBqKnn(spark, sf01, cand = 1000, topK = 5)) ==
      exactPairs)
  }

  test("ccnet buckets: per-lang tercile sizes balanced up to score ties") {
    import graft.operators.TextOps
    val rows = TextOps.docCcnetBuckets(spark, "/root/testdata/sf0.01")
      .groupBy("lang", "bucket").count().collect()
      .map(r => (r.getString(0), r.getString(1)) -> r.getLong(2)).toMap
    val langs = rows.keys.map(_._1).toSet
    langs.foreach { l =>
      val n = rows.collect { case ((`l`, _), c) => c }.sum
      // value-based cutoffs put ALL tied docs in one bucket, so no size
      // bound is tie-safe (a lang whose top score covers >2/3 of its docs
      // would legitimately have a giant head); assert only non-degeneracy:
      // every bucket present and non-empty, partition sums to n
      val buckets = rows.keys.collect { case (`l`, b) => b }.toSet
      assert(buckets == Set("head", "middle", "tail"),
        s"$l missing buckets: $buckets")
      val sizes = Seq("head", "middle", "tail").map(b => rows((l, b)))
      assert(sizes.forall(_ > 0) && sizes.sum == n,
        s"$l degenerate bucket sizes: $sizes of $n")
    }
    info(s"ccnet buckets over ${langs.size} langs: " +
      rows.toSeq.sortBy(_._1).map { case ((l, b), c) => s"$l/$b=$c" }.mkString(", "))
  }

  test("emb_pca: eigensolve + projection satisfy first-principles PCA bounds") {
    val sf01 = "/root/testdata/sf0.01"
    val d = 64
    val (means, vals, vecs) = VectorOps.pcaFit(spark, sf01)
    // eigenvalues: non-negative (covariance is PSD) and sorted descending
    vals.foreach(v => assert(v >= -1e-9, s"negative eigenvalue $v"))
    vals.zip(vals.drop(1)).foreach { case (a, b) =>
      assert(a >= b - 1e-12, s"eigenvalues not descending: $a < $b")
    }
    // eigenvectors: orthonormal rows (W Wᵀ = I)
    for (a <- 0 until d; b <- a until d) {
      val dot = (0 until d).map(i => vecs(a)(i) * vecs(b)(i)).sum
      val want = if (a == b) 1.0 else 0.0
      assert(math.abs(dot - want) < 1e-8, s"W row $a · row $b = $dot ≠ $want")
    }
    // projection: Var(p_k) reproduces λ_k (ties the APPLY phase to the FIT
    // phase — a wrong sign, off-by-one dim, or uncentered projection all
    // break this), and at full k the projection is an isometry of the
    // centered data (total variance preserved)
    val k = 8
    val proj = VectorOps.embPcaProject(spark, sf01, k).collect()
    val n = proj.length.toDouble
    (0 until k).foreach { c =>
      val xs = proj.map(_.getDouble(c + 1))
      val mean = xs.sum / n
      val varc = xs.map(x => (x - mean) * (x - mean)).sum / n
      assert(math.abs(varc - vals(c)) <= 1e-6 + 1e-3 * vals(c),
        s"Var(p$c) $varc vs λ_$c ${vals(c)}")
    }
    val full = VectorOps.embPcaProject(spark, sf01, d).collect()
    val totProj = (0 until d).map { c =>
      val xs = full.map(_.getDouble(c + 1)); val m = xs.sum / n
      xs.map(x => (x - m) * (x - m)).sum / n
    }.sum
    val totData = vals.sum
    assert(math.abs(totProj - totData) <= 1e-6 + 1e-4 * totData,
      s"full-k projected variance $totProj vs trace $totData")
    // whitened components have unit variance (the metric-equalizing point)
    val white = VectorOps.embWhiten(spark, sf01, k).collect()
    (0 until k).foreach { c =>
      val xs = white.map(_.getDouble(c + 1))
      val mean = xs.sum / n
      val varc = xs.map(x => (x - mean) * (x - mean)).sum / n
      assert(math.abs(varc - 1.0) <= 1e-3, s"Var(whitened p$c) = $varc ≠ 1")
    }
    info(f"top-8 λ: ${vals.take(8).map(v => f"$v%.5f").mkString(", ")}; " +
      f"explained(8)=${vals.take(8).sum / totData * 100}%.1f%%")
  }
}
