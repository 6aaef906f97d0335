package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import graft.{CacheScope, Tables}
import graft.functions.BloomFns
import graft.functions.TextFns._

/** Deduplication family over the `documents` table — the core of a
  * training-data pipeline at 100 TB:
  *
  *   - exact: hash-groupBy on a content digest (one shuffle of digests,
  *     not documents).
  *   - MinHash + LSH: shingle → k minhashes → band buckets → bucket
  *     self-join → exact-Jaccard verification of candidates only. The
  *     self-join is on (band, bucket-hash) — at scale each bucket holds a
  *     handful of docs, so the join output is ~|near-dup pairs|, never
  *     |docs|².
  *   - SimHash: 32-bit majority-bit signature, near-dup = small Hamming
  *     distance within a blocking key.
  *   - n-gram Jaccard: exact character-4-gram similarity inside a blocking
  *     key (lang) — the quadratic fallback, usable only within small
  *     blocks; LSH is the scale path.
  *
  * All hashes derive from md5 (see TextFns) so every operator — including
  * the sketches — has a bit-exact DuckDB oracle.
  */
object DedupOps {

  /** Exact dedup: canonical id + multiplicity per distinct normalized
    * content digest.
    */
  def dedupExact(spark: SparkSession, sfDir: String): DataFrame =
    Tables.documents(spark, sfDir)
      .withColumn("digest", md5(normText(col("text"))))
      .groupBy(col("digest"))
      .agg(min(col("doc_id")).as("canonical_id"), count(lit(1)).as("n_dups"))

  val dedupExactSql: String =
    """SELECT md5(trim(regexp_replace(lower(text), '[^a-z0-9]+', ' ', 'g'))) AS digest,
      |  min(doc_id) AS canonical_id, count(*) AS n_dups
      |FROM documents GROUP BY 1""".stripMargin

  /** MinHash signatures: 8 arithmetic permutations of one md5-derived hash
    * per word-3-shingle. The (doc_id, sh, hs) base is `persist()`ed — an
    * explicit materialization barrier: without it Catalyst's projection
    * collapse inlines the shingle+digest chain into every downstream
    * consumer (8 minhashes × 4 band hashes × both self-join sides ≈ a
    * 100× recompute, measured). At 100 TB the signature table is a
    * first-class reusable artifact (cache here; checkpoint to storage in a
    * long-lived pipeline).
    */
  private def withSignature(df: DataFrame): DataFrame =
    withSignature(df, barrier = true)

  /** `barrier = false` skips the persist() — required for STREAMING
    * inputs (persist is illegal on a streaming plan, and a stream row is
    * consumed once anyway, so there is nothing to barrier).
    */
  private[graft] def withSignature(df: DataFrame, barrier: Boolean): DataFrame = {
    // h32Sql/hashArraySql resolve to the md5_h64 kernel, and this funnel
    // is reached from public entry points that never pass through
    // Tables.table (spanDedupStream, admitStream via incrementBands,
    // corpusBands/corpusShingleSets), so it registers the kernels itself
    graft.functions.Kernels.register(df.sparkSession)
    // r13: floor the signature build's parallelism at core count — the
    // single-row-group sf parquet plans a 1-task scan and the fused
    // shingle+digest chain ran serially (Tables.parallelized scaladoc)
    val proj = Tables.parallelized(df)
      .withColumn("t", tokens(col("text")))
      .withColumn("sh", expr(shingles3Sql("t")))
      .withColumn("hs", expr(hashArraySql("sh")))
      .select(col("doc_id"), col("sh"), col("hs"))
    val base = if (barrier) proj.transform(CacheScope.barrier) else proj
    (0 until 8).foldLeft(base) { (d, i) =>
      d.withColumn(s"m$i", expr(minhashSql("hs", i)))
    }
  }

  /** The stored artifacts the incremental/streaming admission paths read
    * (in production: checkpointed tables, refreshed by the batch dedup
    * job): slim (doc_id, band, bh) band rows and (doc_id, shset) shingle
    * sets of the existing corpus.
    */
  def corpusBands(docs: DataFrame): DataFrame =
    bandExplode(withSignature(docs))

  def corpusShingleSets(docs: DataFrame): DataFrame =
    withSignature(docs).select(col("doc_id"), array_distinct(col("sh")).as("shset"))

  /** Band rows + shingle set of (possibly streaming) documents — the
    * increment side of the admission join.
    */
  def incrementBands(docs: DataFrame): DataFrame =
    bandExplode(withSignature(docs, barrier = false)
      .withColumn("shset", array_distinct(col("sh"))), extraCols = Seq("shset"))

  def minhashSig(spark: SparkSession, sfDir: String): DataFrame =
    withSignature(Tables.documents(spark, sfDir))
      .select(col("doc_id") +: (0 until 8).map(i => col(s"m$i")): _*)

  /** The shingle/signature CTE chain over an arbitrary docs relation —
    * parameterized so the recall audit can run it over its SAMPLED `smp`
    * CTE with the exact same text (oracle parity with the Spark side's
    * `dedupLshRecall(docs)` call over the sampled frame).
    */
  private def shCteOn(tbl: String): String =
    s"""WITH sh AS (
      |  SELECT doc_id,
      |    list_transform(range(1, len(t) - 1),
      |      i -> t[i] || ' ' || t[i + 1] || ' ' || t[i + 2]) AS sh
      |  FROM (SELECT doc_id,
      |          string_split(trim(regexp_replace(lower(text), '[^a-z0-9]+', ' ', 'g')), ' ') AS t
      |        FROM $tbl)),
      |hs AS (
      |  SELECT doc_id, sh,
      |    list_transform(sh, s -> ('0x' || substr(md5(s), 1, 8))::BIGINT) AS hs
      |  FROM sh),
      |sig AS (
      |  SELECT doc_id, sh,
      |""".stripMargin +
      (0 until 8).map(i => s"    ${minhashDuck("hs", i)} AS m$i")
        .mkString(",\n") +
      "\n  FROM hs)\n"

  private val shCte = shCteOn("documents")

  val minhashSigSql: String =
    shCte + "SELECT doc_id, m0, m1, m2, m3, m4, m5, m6, m7 FROM sig"

  /** MinHash LSH near-dup pairs: 4 bands × 2 rows; candidates from band-
    * bucket collisions, verified with exact shingle Jaccard. Emitted:
    * every candidate pair with its exact similarity (thresholding is the
    * caller's policy decision).
    *
    * Shuffle discipline (the 100 TB-critical part): the band self-join
    * carries ONLY (band, bh, doc_id) — 20 bytes/row — never the shingle
    * sets. Candidate id pairs are deduped first, then each side joins its
    * `shset` back exactly once for verification. The naive alternative
    * (shsets riding the band exchange) moves 4 bands × 2 sides ≈ 8× the
    * document-shingle bytes through the shuffle.
    */
  /** 4-band × 2-row LSH band hashes of a [[withSignature]] frame:
    * slim (doc_id, band, bh) rows (+ any `extraCols` carried through).
    */
  private def bandExplode(sig: DataFrame, extraCols: Seq[String] = Nil): DataFrame =
    sig.select(col("doc_id") +: extraCols.map(col) :+
      explode(expr(s"""array(${(0 until 4).map(b =>
        s"named_struct('band', $b, 'bh', ${h32Sql(s"concat('$b|', m${2 * b}, ',', m${2 * b + 1})")})")
        .mkString(", ")})""")).as("bd"): _*)
      .select(col("doc_id") +: extraCols.map(col) :+
        col("bd.band").as("band") :+ col("bd.bh").as("bh"): _*)

  def minhashLshPairs(spark: SparkSession, sfDir: String): DataFrame =
    minhashLshPairsOf(Tables.documents(spark, sfDir))

  private def minhashLshPairsOf(docs: DataFrame): DataFrame = {
    val sig = withSignature(docs)
    // r13: shingle sets stored SORTED so the verify intersection is one
    // codegen'd merge pass (intersect_count_sorted_str) instead of
    // array_intersect's per-evaluation hash-set build; same string-set
    // semantics, same count (sort_array orders by the binary comparison
    // the merge uses). The sets are never emitted, only intersected.
    val shs = sig.select(col("doc_id"),
      sort_array(array_distinct(col("sh"))).as("shset"))
    val exploded = bandExplode(sig)
    val a = exploded.select(col("doc_id").as("a_id"), col("band"), col("bh"))
    val b = exploded.select(col("doc_id").as("b_id"), col("band"), col("bh"))
    val cand = a.join(b, Seq("band", "bh"))
      .filter(col("a_id") < col("b_id"))
      .select(col("a_id"), col("b_id"))
      .distinct()
    // r13: pin the verify joins' width — compute-dense rows (two
    // string-set intersections per candidate pair) that AQE's byte-based
    // coalescing under-parallelizes (the dedupLshRecall confirm-join
    // rationale; Tables.nPart scaladoc)
    cand
      .repartition(Tables.nPart(shs.sparkSession), col("a_id"))
      .join(shs.select(col("doc_id").as("a_id"), col("shset").as("a_sh")), Seq("a_id"))
      .repartition(Tables.nPart(shs.sparkSession), col("b_id"))
      .join(shs.select(col("doc_id").as("b_id"), col("shset").as("b_sh")), Seq("b_id"))
      .withColumn("ic", expr("intersect_count_sorted_str(a_sh, b_sh)").cast("double"))
      .select(col("a_id"), col("b_id"),
        round(col("ic") /
          (size(col("a_sh")) + size(col("b_sh")) - col("ic")), 4)
          .as("jacc"))
  }

  private def minhashLshPairsSqlOn(tbl: String): String =
    shCteOn(tbl) +
      """, bands AS (
        |  SELECT doc_id, b.band,
        |    ('0x' || substr(md5(b.band || '|' ||
        |       CASE b.band WHEN 0 THEN m0 WHEN 1 THEN m2 WHEN 2 THEN m4 ELSE m6 END || ',' ||
        |       CASE b.band WHEN 0 THEN m1 WHEN 1 THEN m3 WHEN 2 THEN m5 ELSE m7 END), 1, 8))::BIGINT AS bh
        |  FROM sig, (SELECT unnest(range(0, 4)) AS band) b),
        |shs AS (SELECT doc_id, list_distinct(sh) AS shset FROM sh),
        |cand AS (
        |  SELECT DISTINCT a.doc_id AS a_id, b.doc_id AS b_id
        |  FROM bands a JOIN bands b ON a.band = b.band AND a.bh = b.bh
        |  WHERE a.doc_id < b.doc_id)
        |SELECT a_id, b_id,
        |  round(len(list_intersect(x.shset, y.shset))::DOUBLE /
        |    (len(x.shset) + len(y.shset) - len(list_intersect(x.shset, y.shset))), 4) AS jacc
        |FROM cand JOIN shs x ON cand.a_id = x.doc_id
        |          JOIN shs y ON cand.b_id = y.doc_id""".stripMargin

  val minhashLshPairsSql: String = minhashLshPairsSqlOn("documents")

  /** Recall of the MinHash-LSH near-dup detector against exact ground
    * truth at Jaccard ≥ 0.5 — the measurement every sketch-based dedup
    * deployment runs before trusting its band/row configuration (4×2
    * here: P(candidate) = 1−(1−s²)⁴, ≈ 0.68 at s = 0.5, rising steeply
    * above). One row out: true pair count, LSH-caught count, recall.
    *
    * The truth side must not itself miss pairs, so candidates come from
    * the EXACT-RECALL PPJoin+ spine ([[recallSpine]] — the t = 0.5
    * jaccard instantiation of [[BandedSpine]], r14): J(A,B) ≥ t implies
    * |A∩B| ≥ t'·|A| (t' = 0.49995, the round-to-4 slop the hit side
    * applies), so at most ⌊0.50005·|A|⌋ of A's shingles are missing
    * from B and the ⌊0.50005·|A|⌋+K RAREST by corpus document frequency
    * (K = 8) include ≥ min(K, |A|−m) shared with B — the candidate
    * equijoin catches every qualifying pair, and the spine's positional
    * + match-count + size filters (recall-1.0 derivations on the spine)
    * thin the confirm set before any shingle set is fetched. Confirm
    * with the exact string-set Jaccard (identical formula to the LSH
    * verification, so hits ⊆ truth by construction).
    *
    * Scale shape: df and ranking shuffle slim (doc_id, gh) rows; the
    * candidate join is keyed on gh with prefix-bounded fan-out; the
    * confirm fetches each shingle set once by id equijoin. Nothing is
    * all-pairs, nothing single-task — the truth pass costs a constant
    * factor over the LSH run itself, which is what makes the measurement
    * runnable on a production sample rather than a toy.
    *
    * SAFE BY DEFAULT: the truth pass is still candidate-quadratic inside
    * prefix blocks, so the audit runs on a deterministic hash-Bernoulli
    * sample of `sampleN` documents (default 10k) whenever the corpus is
    * larger — both the truth pass AND the LSH run are restricted to the
    * same sample, so the recall is exact for the induced sub-corpus
    * (bucket membership of a pair does not depend on other documents, so
    * LSH-on-sample finds exactly the full-corpus hits whose endpoints
    * both sampled). Corpora at or under the cap (every oracle run) take
    * the identical full path — `sampleN <= 0` forces it. The 10× sweep
    * measured full mode at 83 s on 50k docs; the cap keeps a production
    * audit bounded no matter the corpus size.
    */
  def dedupLshRecall(spark: SparkSession, sfDir: String,
                     sampleN: Int = 10000): DataFrame = {
    val thr = 0.5
    val (docs, shs, ranked) = lshRecallTables(spark, sfDir, sampleN)
    // r14 (VERDICT #2): the truth candidates now run the full PPJoin+
    // spine (positional + match-count + size thinning) instead of the
    // bare prefix probe — recall-1.0 derivation at [[recallSpine]]; the
    // ~1 M-pair confirm set this collapses was the row's remaining cost
    val cand = recallSpine.survivors(ranked)
    // the confirm join's rows are compute-dense (two string-set
    // intersections per pair, tiny bytes), exactly what AQE's byte-based
    // coalescing under-sizes — measured at sf0.1 as a 6-task stage
    // holding 65% of the query's wall. Pin both id-keyed exchanges
    // (r13; Tables.nPart scaladoc).
    val truth = cand
      .repartition(Tables.nPart(spark), col("a_id"))
      .join(shs.select(col("doc_id").as("a_id"), col("shset").as("a_sh")), Seq("a_id"))
      .repartition(Tables.nPart(spark), col("b_id"))
      .join(shs.select(col("doc_id").as("b_id"), col("shset").as("b_sh")), Seq("b_id"))
      .withColumn("ic", expr("intersect_count_sorted_str(a_sh, b_sh)").cast("double"))
      .withColumn("jacc",
        round(col("ic") /
          (size(col("a_sh")) + size(col("b_sh")) - col("ic")), 4))
      .filter(col("jacc") >= thr)
    val nTrue = truth.agg(count(lit(1)).as("n_true"))
    val nHit = minhashLshPairsOf(docs).filter(col("jacc") >= thr)
      .agg(count(lit(1)).as("n_hit"))
    nTrue.crossJoin(nHit) // two 1-row aggregates — the intended nested loop
      .select(col("n_true"), col("n_hit"),
        expr("IF(n_true = 0, 1.0, round(n_hit / n_true, 4))").as("recall"))
  }

  /** Shared sampled-docs / shingle-set / rarest-first-ranking passes of
    * the recall audit's truth side — factored so [[aggProbe]] measures
    * the LIVE plan rather than a re-implemented copy.
    */
  private[graft] def lshRecallTables(spark: SparkSession, sfDir: String,
      sampleN: Int = 10000): (DataFrame, DataFrame, DataFrame) = {
    val docsAll = Tables.documents(spark, sfDir)
    val nDocs = docsAll.count()
    val docs =
      if (sampleN <= 0 || nDocs <= sampleN) docsAll
      else docsAll.filter(
        pmod(expr(h32Sql("concat('smp|', doc_id)")), lit(1000000L)) <
          lit(math.round(sampleN.toDouble / nDocs * 1000000L)))
    // shset sorted for the merge-pass confirm (see minhashLshPairsOf, r13)
    val shs = withSignature(docs)
      .select(col("doc_id"), sort_array(array_distinct(col("sh"))).as("shset"))
      .withColumn("sz", size(col("shset")))
      .transform(CacheScope.barrier) // postings, prefix rank, and confirm all reuse
    val posting = shs.select(col("doc_id"), col("sz"), explode(col("shset")).as("s"))
      .withColumn("gh", expr(h32Sql("s")))
      .select(col("doc_id"), col("sz"), col("gh"))
    // corpus-wide df: the audit has no blocking key
    (docs, shs, rankedPostings(posting, Nil))
  }

  /** Oracle twin of [[dedupLshRecall]] INCLUDING the sampling cap: the
    * `smp` CTE mirrors the Spark side's deterministic hash-Bernoulli
    * filter exactly (same md5-h32 of 'smp|'||doc_id, same modulus, same
    * half-up-rounded threshold, same engage-only-above-10k-docs guard), so
    * a corpus over the cap still hash-matches instead of silently
    * diverging on truth computed from different doc sets. `floor(x+0.5)`
    * mirrors Java's half-up `Math.round` (DuckDB round() half-away agrees
    * for positives, but spelled explicitly — tools/compare.py precedent).
    */
  val dedupLshRecallSql: String =
    s"""WITH nd AS (SELECT count(*) AS n FROM documents),
       |smp AS (
       |  SELECT d.* FROM documents d, nd
       |  WHERE nd.n <= 10000
       |     OR ('0x' || substr(md5('smp|' || d.doc_id), 1, 8))::BIGINT % 1000000
       |        < floor(10000.0 / nd.n * 1000000 + 0.5)),
       |lsh AS (${minhashLshPairsSqlOn("smp")}),
       |shs AS (
       |  SELECT doc_id, list_distinct(list_transform(range(1, len(t) - 1),
       |    i -> t[i] || ' ' || t[i + 1] || ' ' || t[i + 2])) AS shset
       |  FROM (SELECT doc_id,
       |          string_split(trim(regexp_replace(lower(text), '[^a-z0-9]+', ' ', 'g')), ' ') AS t
       |        FROM smp)),
       |truth AS (
       |  SELECT a.doc_id AS a_id, b.doc_id AS b_id
       |  FROM shs a JOIN shs b ON a.doc_id < b.doc_id
       |  WHERE round(len(list_intersect(a.shset, b.shset))::DOUBLE /
       |      (len(a.shset) + len(b.shset) - len(list_intersect(a.shset, b.shset))), 4) >= 0.5)
       |SELECT t.n_true, h.n_hit,
       |  CASE WHEN t.n_true = 0 THEN 1.0 ELSE round(h.n_hit::DOUBLE / t.n_true, 4) END AS recall
       |FROM (SELECT count(*) AS n_true FROM truth) t,
       |     (SELECT count(*) AS n_hit FROM lsh WHERE jacc >= 0.5) h""".stripMargin

  /** SimHash signatures: 32-bit majority-bit sketch over token hashes
    * (each token digested once; 32 bit-positions aggregated from the
    * precomputed hash array).
    */
  def simhashSig(spark: SparkSession, sfDir: String): DataFrame = {
    Tables.documents(spark, sfDir)
      .withColumn("t", tokens(col("text")))
      .withColumn("th", expr(s"transform(t, s -> ${h32Sql("s")})"))
      .select(col("doc_id"), expr("simhash32(th)").as("simhash"))
  }

  private val simhashCte =
    """WITH sim AS (
      |  SELECT doc_id, lang,
      |    list_sum(list_transform(range(0, 32), j ->
      |      CASE WHEN 2 * len(list_filter(th, h -> (h >> j) & 1 = 1)) > len(th)
      |           THEN (1::BIGINT << j) ELSE 0 END))::BIGINT AS simhash
      |  FROM (
      |    SELECT doc_id, lang,
      |      list_transform(
      |        string_split(trim(regexp_replace(lower(text), '[^a-z0-9]+', ' ', 'g')), ' '),
      |        s -> ('0x' || substr(md5(s), 1, 8))::BIGINT) AS th
      |    FROM documents))
      |""".stripMargin

  val simhashSigSql: String = simhashCte + "SELECT doc_id, simhash FROM sim"

  /** SimHash near-dup pairs: Hamming distance ≤ 3 within a lang block.
    * The signature table is persist()ed — the materialization barrier that
    * keeps the per-doc sketch from being recomputed per PAIR on both
    * self-join sides (see withSignature).
    */
  def simhashNeardup(spark: SparkSession, sfDir: String): DataFrame = {
    val sim = Tables.documents(spark, sfDir)
      .withColumn("t", tokens(col("text")))
      .withColumn("th", expr(s"transform(t, s -> ${h32Sql("s")})"))
      .select(col("doc_id"), col("lang"), expr("simhash32(th)").as("simhash"))
      .transform(CacheScope.barrier)
    val a = sim.select(col("doc_id").as("a_id"), col("lang"), col("simhash").as("sa"))
    val b = sim.select(col("doc_id").as("b_id"), col("lang"), col("simhash").as("sb"))
    a.join(b, Seq("lang"))
      .filter(col("a_id") < col("b_id"))
      .withColumn("hamming", expr("bit_count(sa ^ sb)"))
      .filter(col("hamming") <= 3)
      .select(col("a_id"), col("b_id"), col("hamming"))
  }

  val simhashNeardupSql: String =
    simhashCte +
      """SELECT a.doc_id AS a_id, b.doc_id AS b_id,
        |  bit_count(xor(a.simhash, b.simhash)) AS hamming
        |FROM sim a JOIN sim b ON a.lang = b.lang AND a.doc_id < b.doc_id
        |WHERE bit_count(xor(a.simhash, b.simhash)) <= 3""".stripMargin

  /** SimHash near-dup pairs, banded — the 100 TB-scale plan. The 32-bit
    * signature splits into 4 disjoint 8-bit chunks; by pigeonhole, any
    * pair with Hamming distance ≤ 3 shares at least one chunk verbatim, so
    * an equijoin on (chunk_idx, chunk_value) finds EVERY such pair with no
    * blocking key and no quadratic blow-up: bucket occupancy is
    * ~N/(4·256)·collision-rate, not N/|langs|. Same exact result set as a
    * global all-pairs Hamming scan (which is what the DuckDB oracle runs).
    */
  def simhashBanded(spark: SparkSession, sfDir: String): DataFrame = {
    val sim = Tables.documents(spark, sfDir)
      .withColumn("t", tokens(col("text")))
      .withColumn("th", expr(s"transform(t, s -> ${h32Sql("s")})"))
      .select(col("doc_id"), expr("simhash32(th)").as("simhash"))
      .transform(CacheScope.barrier) // the 32-fold sketch is computed once, not per side
    val chunks = sim.select(col("doc_id"), col("simhash"),
      explode(expr(
        "transform(sequence(0, 3), j -> named_struct(" +
          "'ci', j, 'cv', shiftright(simhash, 8 * j) & 255))")).as("c"))
      .select(col("doc_id"), col("simhash"),
        col("c.ci").as("ci"), col("c.cv").as("cv"))
    val a = chunks.select(col("doc_id").as("a_id"), col("simhash").as("sa"),
      col("ci"), col("cv"))
    val b = chunks.select(col("doc_id").as("b_id"), col("simhash").as("sb"),
      col("ci"), col("cv"))
    a.join(b, Seq("ci", "cv"))
      .filter(col("a_id") < col("b_id"))
      .withColumn("hamming", expr("bit_count(sa ^ sb)"))
      .filter(col("hamming") <= 3)
      .select(col("a_id"), col("b_id"), col("hamming"))
      .distinct() // a pair may agree on several chunks
  }

  val simhashBandedSql: String =
    simhashCte +
      """SELECT a.doc_id AS a_id, b.doc_id AS b_id,
        |  bit_count(xor(a.simhash, b.simhash)) AS hamming
        |FROM sim a JOIN sim b ON a.doc_id < b.doc_id
        |WHERE bit_count(xor(a.simhash, b.simhash)) <= 3""".stripMargin

  /** Winnowing fingerprints (the MOSS scheme): over the char-4-gram hash
    * sequence, keep the minimum of every sliding window of 8 — guarantees
    * any shared substring of ≥ 11 chars contributes a shared fingerprint,
    * making this the SUBSTRING-level dedup primitive (plagiarism/quote
    * detection) that whole-doc digests and shingle sketches miss. One
    * native per-row kernel call, zero exchanges; emitted per doc:
    * fingerprint count, min, and an order-independent xor fold (bit-exact
    * oracle without shipping the fingerprint arrays).
    */
  def winnowFingerprints(spark: SparkSession, sfDir: String): DataFrame = {
    // Native fused kernel (WinnowFingerprint.scala): Karp-Rabin gram hash
    // + deque-free 8-window min in one primitive loop per row. The HOF
    // formulation (per-char transform → md5 h32 per gram → window-min
    // transform) ran its lambdas interpreted and took 3.5 s at sf0.1;
    // the kernel is ~0.2 s with identical values (bit-equal to the
    // DuckDB oracle's polynomial formulation below).
    Tables.documents(spark, sfDir)
      .withColumn("norm", normText(col("text")))
      .withColumn("fp", expr("winnow_fp(norm)"))
      .select(col("doc_id"),
        size(col("fp")).as("n_fp"),
        array_min(col("fp")).as("fp_min"),
        expr("aggregate(fp, 0L, (a, x) -> a ^ x)").as("fp_xor"))
  }

  /** DuckDB twin of the winnow_fp kernel: per doc the distinct
    * window-of-8 minima over the Karp-Rabin char-4-gram hash sequence. */
  private val winnowFpsSub: String =
    """SELECT doc_id,
      |    list_distinct(list_transform(range(1, greatest(len(hs) - 7, 1) + 1),
      |      i -> list_min(hs[i:i+7]))) AS fp
      |  FROM (
      |    SELECT doc_id,
      |      list_transform(range(1, greatest(length(norm) - 3, 0) + 1),
      |        i -> ((ascii(substr(norm, i, 1)) * 16974593::BIGINT
      |             + ascii(substr(norm, i + 1, 1)) * 66049::BIGINT
      |             + ascii(substr(norm, i + 2, 1)) * 257::BIGINT
      |             + ascii(substr(norm, i + 3, 1))) * 2654435761) % 4294967296) AS hs
      |    FROM (SELECT doc_id, trim(regexp_replace(lower(text), '[^a-z0-9]+', ' ', 'g')) AS norm
      |          FROM documents))""".stripMargin

  val winnowFingerprintsSql: String =
    s"""SELECT doc_id, len(fp) AS n_fp, list_min(fp) AS fp_min,
       |  list_reduce(list_prepend(0::BIGINT, fp), (a, x) -> xor(a, x)) AS fp_xor
       |FROM (
       |  $winnowFpsSub)""".stripMargin

  /** Winnowing near-dup PAIRS — the MOSS use case winnow_fp's per-doc
    * stats feed into: two docs sharing fingerprints share a guaranteed
    * ≥ 11-char substring (quote / template / copy-paste overlap that
    * whole-doc digests and shingle sketches miss). Posting-list shape:
    * explode (doc_id, fp) — 16 bytes/row, the same slim-exchange
    * discipline as the MinHash band join (text never rides a shuffle) —
    * then drop fingerprints appearing in more than `maxDf` docs (MOSS's
    * "too common to be interesting" rule; at 100 TB this is ALSO the
    * quadratic-bucket bound: posting-list join cost is Σ df², so capping
    * df caps the join), self-join on fingerprint, count shared fps per
    * pair. The df cap is ONE window count over the fp partitioning the
    * join reuses — a single exchange end-to-end (PlanSpec-asserted).
    */
  def winnowPairs(spark: SparkSession, sfDir: String): DataFrame =
    winnowPairs(spark, sfDir, maxDf = 8)

  def winnowPairs(spark: SparkSession, sfDir: String, maxDf: Int): DataFrame = {
    val posts = Tables.documents(spark, sfDir)
      .withColumn("norm", normText(col("text")))
      .select(col("doc_id"), expr("winnow_fp(norm)").as("fp"))
      // barrier BEFORE the explode: GenerateExec re-evaluates an inline
      // generator child per output element (the round-2 quadratic trap)
      .transform(CacheScope.barrier)
      .select(col("doc_id"), explode(col("fp")).as("f"))
    val rare = posts
      .withColumn("dfreq", count(lit(1)).over(Window.partitionBy(col("f"))))
      .filter(col("dfreq") <= maxDf)
      .select(col("doc_id"), col("f"))
      .transform(CacheScope.barrier) // joined as both sides below
    val a = rare.select(col("doc_id").as("a_id"), col("f"))
    val b = rare.select(col("doc_id").as("b_id"), col("f"))
    a.join(b, Seq("f"))
      .filter(col("a_id") < col("b_id"))
      .groupBy(col("a_id"), col("b_id"))
      .agg(count(lit(1)).as("n_shared"))
  }

  val winnowPairsSql: String =
    s"""WITH ex AS (
       |  SELECT doc_id, unnest(fp) AS f FROM (
       |  $winnowFpsSub)),
       |rare AS (
       |  SELECT doc_id, f FROM (
       |    SELECT doc_id, f, count(*) OVER (PARTITION BY f) AS dfreq FROM ex)
       |  WHERE dfreq <= 8)
       |SELECT a.doc_id AS a_id, b.doc_id AS b_id, count(*) AS n_shared
       |FROM rare a JOIN rare b ON a.f = b.f AND a.doc_id < b.doc_id
       |GROUP BY 1, 2""".stripMargin

  /** Connected components over an undirected pair graph — min-label
    * propagation. Each iteration is ONE shuffle (edge⋈label + min-agg);
    * labels converge to the component-minimum id in O(diameter) rounds,
    * and near-dup clusters have tiny diameters (docs similar to a common
    * doc are similar-ish to each other), so the loop is a handful of
    * rounds even at corpus scale. The driver loop iterates ROUNDS, never
    * rows — every round is fully distributed, and each round's label
    * table is persist()ed so the next round (and the convergence check)
    * reads materialized labels instead of re-running the whole lineage.
    * At extreme skew (one giant component) the alternating large-star /
    * small-star variant bounds rounds at O(log n); near-dup graphs don't
    * need it.
    */
  def connectedComponents(pairs: DataFrame): DataFrame =
    connectedComponentsWithRounds(pairs)._1

  /** The fixpoint with its round count exposed — DedupClusterSpec's
    * stress test asserts rounds stay O(log diameter) on adversarial
    * topologies (long chain, supernode), the property that makes the
    * loop viable at 100 TB where a linear-in-diameter loop would not be.
    */
  private[graft] def connectedComponentsWithRounds(pairs: DataFrame): (DataFrame, Int) = {
    val p = pairs.select(col("a_id"), col("b_id"))
    val edges = p.union(p.select(col("b_id"), col("a_id")))
      .toDF("src", "dst").persist()
    // round 0 fused into init: label(v) = min(v, min neighbor)
    // Each round's label table is localCheckpoint'ed (eager): this both
    // materializes the round (so the next round reads stored blocks, not
    // recomputed lineage) and TRUNCATES the logical plan — labels feeds
    // the round twice (own-label branch + propagation join), so without
    // truncation the plan tree doubles per round and the fixpoint dies in
    // plan construction long before data size matters. Every round's
    // checkpoint is registered with CacheScope, so the next release()
    // drops all of them at once instead of leaving the superseded ones
    // to the GC-driven ContextCleaner; in a long-lived 100 TB pipeline,
    // reliable checkpoints to storage play this role.
    def checkpointed(df: DataFrame): DataFrame = {
      val c = df.localCheckpoint(false)
      CacheScope.trackCheckpoints(c)
      c
    }
    var labels = checkpointed(edges.groupBy(col("src"))
      .agg(min(col("dst")).as("md"))
      .select(col("src").as("v"), least(col("src"), col("md")).as("cluster_id")))
    var converged = false
    var iter = 0
    // rounds needed = eccentricity of the component-min vertex (+1 to
    // detect convergence); near-dup graphs sit at 2–4. The cap is a
    // safety valve sized far above any similarity graph — a topology
    // that legitimately needs it (a 64-hop chain of pairwise-similar
    // docs) wants the large-star/small-star O(log n) variant instead.
    while (!converged && iter < 64) {
      // the union-agg carries each vertex's OLD label alongside the
      // propagated min, so the convergence count needs no per-round join
      val prop = edges.join(labels, edges("src") === labels("v"))
        .select(col("dst").as("v"), col("cluster_id").as("c"), lit(false).as("own"))
      val hop = labels
        .select(col("v"), col("cluster_id").as("c"), lit(true).as("own"))
        .unionByName(prop)
        .groupBy(col("v"))
        .agg(min(col("c")).as("cluster_id"),
          min(when(col("own"), col("c"))).as("old"))
      // pointer jumping from round 4 on: label(v) ← label(label(v)).
      // Labels are always component members ≤ v, so the jump preserves
      // correctness while halving pointer depth — one-hop alone needs
      // diameter rounds on a chain, with jumping O(log d). Engaged late
      // because near-dup graphs converge in 2–3 one-hop rounds and the
      // extra self-join would be pure overhead there.
      val next = checkpointed(if (iter < 3) hop else {
        val map = hop.select(col("v").as("jv"), col("cluster_id").as("jc"))
        hop.join(map, col("cluster_id") === col("jv"), "left")
          .select(col("v"),
            coalesce(col("jc"), col("cluster_id")).as("cluster_id"), col("old"))
      }) // lazy: the convergence count below is the action that
         // materializes this round
      // coalesce: an EMPTY edge set (a corpus with no near-dup pairs at
      // all — legitimately reachable, e.g. phash clustering at tiny SF)
      // makes sum() null; treat as converged instead of NPE-ing
      val changed = next
        .agg(coalesce(sum((col("cluster_id") =!= col("old")).cast("long")), lit(0L)))
        .first().getLong(0)
      labels = next.select(col("v"), col("cluster_id"))
      converged = changed == 0
      iter += 1
    }
    edges.unpersist()
    // every CC result (memoized or direct) must be consumed before the
    // next CacheScope.release(), which drops the rounds' checkpoints
    (labels.select(col("v").as("doc_id"), col("cluster_id")), iter)
  }

  /** Ensemble duplicate clusters: union the TEXT near-dup edges
    * (MinHash-LSH, Jaccard ≥ 0.5) with the SEMANTIC near-dup edges
    * (SemDeDup keep/drop pairs over the embeddings of the same ids) and
    * take connected components — what production dedup actually runs:
    * surface sketches catch verbatim/near-verbatim copies, embedding
    * similarity catches paraphrases the sketches miss, and a doc equal
    * to A textually and to B semantically must land in ONE cluster.
    * Scale shape = the parts: both pair generators are their bucketed
    * plans, the union is edge-level (ids only), CC is the same
    * O(diameter)-rounds loop. Bench note: this is the suite's slowest
    * query (~4 s at sf0.1) because it IS three pipelines — MinHash
    * sketching, k-means + SemDeDup, and the iterative CC — run end to
    * end; the cost is additive over its parts, not multiplicative.
    */
  def dedupEnsembleClusters(spark: SparkSession, sfDir: String): DataFrame =
    CacheScope.memo(s"dedup_ensemble:$sfDir") {
      val text = minhashLshPairs(spark, sfDir)
        .filter(col("jacc") >= 0.5).select(col("a_id"), col("b_id"))
      // thr 0.5: dedup wants near-duplicates, not topical similarity — and
      // a loose threshold chains long semantic paths that both balloon the
      // component diameter (CC rounds) and glue unrelated docs transitively
      val sem = graft.operators.VectorOps.embSemdedup(spark, sfDir,
          cells = 16, iters = 2, thr = 0.5)
        .select(col("keep_id").as("a_id"), col("drop_id").as("b_id"))
      connectedComponents(text.unionByName(sem).distinct())
    }

  val dedupEnsembleClustersSql: String =
    s"""WITH RECURSIVE mh AS ($minhashLshPairsSql),
       |sd AS ($$SEMDEDUP$$),
       |edges AS (
       |  SELECT a_id AS src, b_id AS dst FROM mh WHERE jacc >= 0.5
       |  UNION SELECT b_id, a_id FROM mh WHERE jacc >= 0.5
       |  UNION SELECT keep_id, drop_id FROM sd
       |  UNION SELECT drop_id, keep_id FROM sd),
       |reach(v, l) AS (
       |  SELECT src, src FROM edges
       |  UNION
       |  SELECT e.dst, r.l FROM reach r JOIN edges e ON e.src = r.v)
       |SELECT v AS doc_id, min(l) AS cluster_id FROM reach GROUP BY v"""
      .stripMargin
      .replace("$SEMDEDUP$", graft.operators.VectorOps.embSemdedupSqlAt(0.5))

  /** Duplicate clusters: connected components of the MinHash-LSH near-dup
    * graph at Jaccard ≥ 0.5 — the step that turns pairwise similarity
    * into dedup groups (a ~ b ~ c must collapse to ONE kept doc even if
    * (a, c) was never emitted as a pair).
    */
  def dedupClusters(spark: SparkSession, sfDir: String): DataFrame =
    // memo, not barrier: the CC fixpoint is EAGER (driver loop), so a
    // second invocation in the same scope (dedupCorpus after
    // dedupClusters, a warm bench run) would re-run the whole loop —
    // stage the label table once instead, like a production pipeline
    CacheScope.memo(s"dedup_clusters:$sfDir") {
      connectedComponents(
        minhashLshPairs(spark, sfDir).filter(col("jacc") >= 0.5))
    }

  /** The recursive-CTE twin: min reachable id per vertex == component min
    * (graph is undirected), and UNION's set semantics terminate the
    * fixpoint.
    */
  val dedupClustersSql: String =
    s"""WITH RECURSIVE pairs AS ($minhashLshPairsSql),
       |edges AS (SELECT a_id AS src, b_id AS dst FROM pairs WHERE jacc >= 0.5
       |          UNION ALL SELECT b_id, a_id FROM pairs WHERE jacc >= 0.5),
       |reach(v, l) AS (
       |  SELECT src, src FROM edges
       |  UNION
       |  SELECT e.dst, r.l FROM reach r JOIN edges e ON e.src = r.v)
       |SELECT v AS doc_id, min(l) AS cluster_id FROM reach GROUP BY v""".stripMargin

  /** End-to-end deduped corpus: drop every cluster member except the
    * canonical (minimum-id) doc. The drop list is |duplicates| — tiny
    * relative to the corpus — so the anti-join broadcasts it and the
    * corpus never shuffles.
    */
  def dedupCorpus(spark: SparkSession, sfDir: String): DataFrame = {
    val drop = dedupClusters(spark, sfDir)
      .filter(col("doc_id") =!= col("cluster_id"))
      .select(col("doc_id"))
    Tables.documents(spark, sfDir)
      .join(broadcast(drop), Seq("doc_id"), "left_anti")
      .select(col("doc_id"), col("lang"), col("n_chars"))
  }

  val dedupCorpusSql: String =
    s"""WITH RECURSIVE pairs AS ($minhashLshPairsSql),
       |edges AS (SELECT a_id AS src, b_id AS dst FROM pairs WHERE jacc >= 0.5
       |          UNION ALL SELECT b_id, a_id FROM pairs WHERE jacc >= 0.5),
       |reach(v, l) AS (
       |  SELECT src, src FROM edges
       |  UNION
       |  SELECT e.dst, r.l FROM reach r JOIN edges e ON e.src = r.v),
       |drops AS (SELECT v FROM reach GROUP BY v HAVING v != min(l))
       |SELECT doc_id, lang, n_chars FROM documents
       |WHERE doc_id NOT IN (SELECT v FROM drops)""".stripMargin

  /** Deduped corpus with keep-BEST representative selection: within each
    * near-dup cluster keep the longest member (ties → lowest doc_id)
    * instead of [[dedupCorpus]]'s lowest-id canonical. This is the choice
    * production pipelines actually make — near-dup clusters usually hold
    * one full document plus truncated/boilerplate-wrapped copies, and
    * keep-min silently prefers whichever copy crawled first. Length is
    * the standard proxy; swapping in any per-doc quality score (e.g.
    * [[TextOps.docGopherFilter]]'s admit flags) changes one orderBy.
    *
    * Scale shape: the cluster label table is |cluster members| ≪ corpus
    * (only docs with a near-dup edge), so the member ranking is a window
    * over a tiny frame keyed by cluster_id, and the resulting drop list
    * broadcasts into the anti-join — the corpus itself never shuffles,
    * exactly like [[dedupCorpus]].
    */
  def dedupCorpusBest(spark: SparkSession, sfDir: String): DataFrame = {
    val docs = Tables.documents(spark, sfDir)
    val members = dedupClusters(spark, sfDir) // memoized label table
      .join(docs.select(col("doc_id"), col("n_chars")), Seq("doc_id"))
    val drop = members
      .withColumn("rk", row_number().over(
        Window.partitionBy(col("cluster_id"))
          .orderBy(col("n_chars").desc, col("doc_id"))))
      .filter(col("rk") > 1)
      .select(col("doc_id"))
    docs.join(broadcast(drop), Seq("doc_id"), "left_anti")
      .select(col("doc_id"), col("lang"), col("n_chars"))
  }

  val dedupCorpusBestSql: String =
    s"""WITH RECURSIVE pairs AS ($minhashLshPairsSql),
       |edges AS (SELECT a_id AS src, b_id AS dst FROM pairs WHERE jacc >= 0.5
       |          UNION ALL SELECT b_id, a_id FROM pairs WHERE jacc >= 0.5),
       |reach(v, l) AS (
       |  SELECT src, src FROM edges
       |  UNION
       |  SELECT e.dst, r.l FROM reach r JOIN edges e ON e.src = r.v),
       |labels AS (SELECT v AS doc_id, min(l) AS cluster_id FROM reach GROUP BY v),
       |ranked AS (
       |  SELECT labels.doc_id,
       |    row_number() OVER (PARTITION BY cluster_id
       |      ORDER BY d.n_chars DESC, labels.doc_id) AS rk
       |  FROM labels JOIN documents d ON labels.doc_id = d.doc_id)
       |SELECT doc_id, lang, n_chars FROM documents
       |WHERE doc_id NOT IN (SELECT doc_id FROM ranked WHERE rk > 1)""".stripMargin

  /** Runtime tripwire for the bounded-quadratic comparators (r13 verdict
    * #2 / ADVICE): the `broadcast(b)` hints in the `_pairs` twins ship a
    * full per-doc gram table, which is only safe under the documented
    * tier contract (≤ `bound` docs — the [[containmentTier]] /
    * [[jaccardTier]] `allPairsBound`). The auto dispatchers enforce that
    * bound before selecting a quadratic tier; the FORCED twins
    * previously relied on convention alone, so a caller pointing one at
    * a real corpus would push a multi-GB broadcast toward the driver
    * (8 GB hard cap) where the old shuffled join was slow but safe.
    * This check is a count over the parquet footprint (no data columns
    * read) — linear in file count, vanishing next to the n²/2 work the
    * tier performs, and it fails with the same actionable message as
    * the dispatchers. It always counts documents: a byte gate would pass
    * a corpus of many tiny documents, which breaks the doc-count
    * contract the message states.
    */
  private[graft] def requireBoundedCorpus(docs: DataFrame, what: String,
                                          bound: Long = 100000L): Unit = {
    val n = docs.count()
    if (n > bound) throw new IllegalStateException(
      s"$what guard: $n documents exceed the bounded-quadratic tier " +
        s"contract ($bound) — this comparator broadcasts the full per-doc " +
        s"gram table and compares n²/2 pairs within blocks, which is only " +
        s"bounded work on a bounded corpus. Use the banded prefix-filter " +
        s"tier (exact) or the minhash-LSH tier (approximate) at scale.")
  }

  /** Exact character-4-gram Jaccard pairs within a (lang × length-bucket)
    * block (quadratic — valid only inside bounded blocks; MinHash-LSH is
    * the unbounded-scale path). Length-bucketing is the standard trick:
    * near-dups have near-equal lengths, and it caps block size so the
    * quadratic term stays bounded as the corpus grows.
    */
  def ngramJaccardPairs(spark: SparkSession, sfDir: String): DataFrame = {
    requireBoundedCorpus(Tables.documents(spark, sfDir), "ngram_jaccard_pairs")
    jaccardAllPairs(gramSets(spark, sfDir, jaccardSpine))
  }

  val ngramJaccardPairsSql: String =
    """WITH g AS (
      |  SELECT doc_id, lang,
      |    list_distinct(list_transform(list_transform(range(1, length(norm) - 2),
      |      i -> substr(norm, i, 4)), s -> ('0x' || substr(md5(s), 1, 8))::BIGINT)) AS gr, lenb
      |  FROM (SELECT doc_id, lang, n_chars // 100 AS lenb,
      |          trim(regexp_replace(lower(text), '[^a-z0-9]+', ' ', 'g')) AS norm
      |        FROM documents))
      |SELECT a_id, b_id, round(jacc, 4) AS jacc FROM (
      |  SELECT a.doc_id AS a_id, b.doc_id AS b_id,
      |    len(list_intersect(a.gr, b.gr))::DOUBLE /
      |      (len(a.gr) + len(b.gr) - len(list_intersect(a.gr, b.gr))) AS jacc
      |  FROM g a JOIN g b ON a.lang = b.lang AND a.lenb = b.lenb AND a.doc_id < b.doc_id)
      |WHERE jacc >= 0.4""".stripMargin

  /** Jaccard pairs, scale tier: the same result as [[ngramJaccardPairs]]
    * (same oracle — the (lang × length-bucket) block semantics are kept
    * as a candidate FILTER) with the all-pairs-within-block join replaced
    * by exact-recall prefix filtering, making the EXACT Jaccard join
    * viable at corpus scale rather than only inside small blocks — the
    * MinHash family stays the approximate path, this is the exact one.
    *
    * Recall 1.0 and the PPJoin positional + PPJoin+ match-count
    * candidate thinning: derivations at [[BandedSpine]], the shared
    * spine both the jaccard and containment families run on since
    * round 12 (jaccard instantiation [[jaccardSpine]]); the confirm
    * runs the same codegen'd `jaccard_sorted` merge on the same hashed
    * gram sets, so the emitted rows hash-match the quadratic tier
    * exactly.
    *
    * 100 TB shape: df and ranking are (lang, gh)- and doc-keyed shuffles
    * of slim rows; the candidate join is keyed on (lang, lenb, gh) with
    * prefix-bounded fan-out; the confirm fetches each gram set once by
    * id. Nothing single-task, nothing all-pairs (PlanSpec-asserted).
    */
  def ngramJaccardBanded(spark: SparkSession, sfDir: String): DataFrame = {
    val (g, ranked) = bandedTables(spark, sfDir, jaccardSpine)
    jaccardBandedFrom(g, ranked)
  }

  /** The one gram-set builder of the char-gram and word-shingle tiers of
    * both semantics: per doc the sorted distinct gram-hash set `gr` and
    * its size `sz`, keyed by `doc_id` and the spine's block keys (so
    * containment carries no `lenb`). `gramSql` builds the raw
    * gram-string array (`norm` for char n-grams, `t` for word
    * shingles). Grams are hashed to longs, sorted and distinct, so the
    * codegen'd merge-pass comparators need one O(n+m) scan per pair and
    * no hash builds. Docs with no grams (sz = 0: neither similarity is
    * defined, and they can never appear in a posting) are dropped after
    * the barrier: a filter on `sz` above it is pushed through
    * `Tables.parallelized`'s round-robin repartition into the
    * single-task scan, which then hashes every doc's grams a second
    * time.
    */
  private def gramSets(spark: SparkSession, sfDir: String, spine: BandedSpine,
      gramSql: String = charGramsSql("norm", 4)): DataFrame =
    Tables.parallelized(Tables.documents(spark, sfDir))
      .withColumn("norm", normText(col("text")))
      .withColumn("t", split(col("norm"), " "))
      .withColumn("lenb", expr("n_chars div 100")) // length-bucket blocking
      .select(col("doc_id") +: spine.blockKeys.map(col) :+ sort_array(array_distinct(
        expr(s"transform($gramSql, s -> ${h32Sql("s")})"))).as("gr"): _*)
      .withColumn("sz", size(col("gr")))
      .transform(CacheScope.barrier) // postings, ranking, and confirm all reuse
      .filter(col("sz") > 0)

  /** The one rarest-first ranking builder of every banded family: each
    * posting row gains its gram's document frequency `df` (counted per
    * `dfKeys :+ gh`) and its per-doc rank `rk` by (df, gh) — the COMMON
    * order both the prefix condition and the positional filter depend
    * on. r13: the ranking is CACHED PRE-PARTITIONED on `dfKeys :+ gh`, a
    * subset of every candidate equijoin's keys, so the spine's self-join
    * plans ZERO exchanges (guide §2.4: two ops keyed the same way share
    * one exchange; here the cache pays it once in the barrier build).
    * The explicit width also pins the join's parallelism where AQE's
    * byte-based coalescing mis-sized the compute-dense candidate stage
    * (Tables.nPart scaladoc; measured 14-of-32 tasks at sf0.1).
    */
  private def rankedPostings(posting: DataFrame, dfKeys: Seq[String]): DataFrame = {
    val keys = dfKeys :+ "gh"
    val dfreq = posting.groupBy(keys.map(col): _*).agg(count(lit(1)).as("df"))
    posting.join(dfreq, keys)
      .withColumn("rk", row_number().over(
        Window.partitionBy(col("doc_id")).orderBy(col("df"), col("gh"))))
      .select((posting.columns.toSeq :+ "rk" :+ "df").map(col): _*)
      .repartition(Tables.nPart(posting.sparkSession), keys.map(col): _*)
      .transform(CacheScope.barrier) // probe and index sides share one ranking pass
  }

  /** Pre-candidate passes of the jaccard and containment prefix-filter
    * tiers: the cached gram sets and their rarest-first ranking, df
    * counted within each language. The char-4-gram and word-3-shingle
    * tiers differ only in `gramSql`.
    */
  private def bandedTables(spark: SparkSession, sfDir: String, spine: BandedSpine,
      gramSql: String = charGramsSql("norm", 4)): (DataFrame, DataFrame) = {
    val g = gramSets(spark, sfDir, spine, gramSql)
    val posting = g.select(col("doc_id") +: spine.blockKeys.map(col) :+ col("sz") :+
      explode(col("gr")).as("gh"): _*)
    (g, rankedPostings(posting, Seq("lang")))
  }

  /** The shared PPJoin+ banded spine (round 12, factored from the
    * jaccard/containment twins it unifies): narrow candidate equijoin →
    * per-pair aggregate → EXISTS-positional + match-count filter. Only
    * the tiny survivor set ever reaches a family's array-carrying
    * verify join. Parameters encode each family's arithmetic; every
    * expression tree is identical to the pre-factor per-family forms
    * (plan-compared on all four banded queries), so the r10/r11
    * measured evidence carries over unchanged.
    *
    * The spine's recall-1.0 argument, common to both families with
    * family constants injected — let m(sz) = `missFloor`(sz) be the
    * most grams a qualifying direction can miss and the probe prefix
    * each doc's m(sz)+K rarest grams (K = `slack`, rarest by
    * within-language df — the COMMON order both filters depend on):
    *
    *   - '''Prefix''': a qualifying direction misses ≤ m of its grams
    *     from the other set, so its m+K-gram prefix shares ≥ min(K,
    *     sz−m) grams with it — the candidate equijoin (keyed on lang ×
    *     `blockKeys` × gh, self-pairs excluded) emits every qualifying
    *     pair at least once. Jaccard instantiation: J(P,Q) ≥ 0.4 ⟹
    *     |P∩Q| ≥ 0.4·|P∪Q| ≥ 0.4·|P|, so m = ⌊3·sz/5⌋ and BOTH
    *     directions of a symmetric-J pair qualify. Containment
    *     instantiation: the direction with |P∩Q|/|P| ≥ 0.8 (minus the
    *     round-to-4 slop) misses ≤ m = ⌊0.20005·sz⌋.
    *   - '''Positional (PPJoin), per ROW''': the common rarest-first
    *     order makes every gram before the pair's FIRST shared gram
    *     unshared on BOTH sides, so a match at ranks (rkP, rkQ) bounds
    *     |P∩Q| ≤ min(|P|−rkP, |Q|−rkQ) + 1, which must reach
    *     `pairLowerBound`(|P|, |Q|) (jaccard: (0.4/1.4)·(|P|+|Q|);
    *     containment: 0.79995·|P|; the −1 absorbs FP edges). A
    *     qualifying pair's FIRST prefix match always passes, so the
    *     pair-level condition is EXISTS(row passing), not ALL — deeper
    *     matches of a true pair legitimately fail the per-row bound
    *     and must still count toward the match total.
    *   - '''Count (PPJoin+), per DIRECTION (r14)''': a qualifying
    *     direction P⊂· contributes ≥ min(K, sz_P − m(sz_P)) distinct
    *     prefix matches FROM ITS OWN PROBE (P's prefix grams joining
    *     ·'s postings): if its prefix m+K < sz_P, at most m of the
    *     prefix grams are unshared so ≥ K are shared; if the prefix is
    *     the whole doc, all ≥ sz_P − m shared grams match. The r12
    *     spine summed both directions' rows against the weaker
    *     min(K, min_sz − m(min_sz)) floor; counting per direction and
    *     filtering each against its own floor is strictly tighter with
    *     the identical guarantee. Composition per family: jaccard
    *     semantics make BOTH directions of a true pair qualify (each
    *     with its own positional witness, see above), so both
    *     directional tests are required (AND); containment qualifies
    *     in at least ONE direction, so either suffices (OR).
    *     K = 2 preserves recall (one guaranteed match needs +1); K = 8
    *     is the measured trade (r10 containment, r11 jaccard A/B
    *     2.07×): +6 narrow prefix rows per doc buy a multi-match
    *     requirement that collapses the verify set, whose rows each
    *     carry two ~600-element gram arrays.
    *   - '''Size (length filter, r14)''': `sizeBound`(szP, szQ) is a
    *     PAIR-LEVEL necessary condition of the family's threshold
    *     (jaccard: J ≥ t ⟹ |P∩Q| ≥ t·max ⟹ min ≥ t·max, both
    *     directions; containment: the qualifying direction P⊂Q has
    *     |Q| ≥ |P∩Q| ≥ t·|P|, probe-side-asymmetric). Because it
    *     holds for EVERY row of a qualifying pair, conjoining it to
    *     the candidate join drops only rows of non-qualifying pairs —
    *     the qualifying pairs' match counts and positional witnesses
    *     are untouched, so the recall argument above is unchanged
    *     while the per-pair aggregate's input (the stage whose hash
    *     state was the 32-core pressure point, r13 verdict #1) loses
    *     every size-mismatched candidate. Thresholds carry the same
    *     round-to-4 slop as the family's floors.
    *
    * Floors take the target column's NAME (applied to `sz` in the
    * probe, `min_sz` in the count threshold) so each family keeps its
    * exact integer-vs-FP floor form.
    */
  private[graft] final case class BandedSpine(
      slack: Int,
      prefixFloor: String => Column,
      missFloor: String => Column,
      blockKeys: Seq[String],
      pairLowerBound: (Column, Column) => Column,
      sizeBound: Option[(Column, Column) => Column] = None,
      directionalOr: Boolean = false) {

    /** Membership in the ⌊prefixFloor(sz)⌋+slack rarest-gram probe
      * prefix — also the mass probes' counting predicate.
      */
    def prefixCond: Column = col("rk") <= prefixFloor("sz") + lit(slack)

    /** Narrow candidate equijoin → per-pair aggregate: (a_id, b_id,
      * matches, per-direction match counts + positional witnesses,
      * sizes). The equijoin output stays NARROW (ids + sizes + per-row
      * direction/positional flags, no gram arrays) and this aggregate
      * is the only thing touching all candidate rows.
      */
    def pairAgg(ranked: DataFrame): DataFrame = {
      val conds = blockKeys.map(k => col(s"p.$k") === col(s"q.$k")) ++
        Seq(col("p.gh") === col("q.gh"),
          col("p.doc_id") =!= col("q.doc_id")) ++
        sizeBound.map(f => f(col("p.sz"), col("q.sz"))).toSeq
      val joined = ranked.filter(prefixCond).as("p")
        .join(ranked.as("q"), conds.reduce(_ && _))
      val posOk =
        (least(col("p.sz") - col("p.rk"), col("q.sz") - col("q.rk")) + lit(1) >=
          pairLowerBound(col("p.sz"), col("q.sz")) - lit(1)).cast("int")
      if (directionalOr) {
        // per-direction shape (r14, containment): +4 slim agg columns
        // buy a per-direction floor that the asymmetric semantics can
        // exploit (measured 842k → 435k survivors at sf0.1); the
        // symmetric families measured no survivor cut from it and keep
        // the lean combined shape below
        joined
          .select(least(col("p.doc_id"), col("q.doc_id")).as("a_id"),
            greatest(col("p.doc_id"), col("q.doc_id")).as("b_id"),
            least(col("p.sz"), col("q.sz")).as("row_min_sz"),
            // which direction probed: a→b when the probe side is the
            // smaller id (per-direction count filter, spine note r14)
            (col("p.doc_id") < col("q.doc_id")).cast("int").as("from_a"),
            when(col("p.doc_id") < col("q.doc_id"), col("p.sz"))
              .otherwise(col("q.sz")).as("row_sz_a"),
            when(col("p.doc_id") < col("q.doc_id"), col("q.sz"))
              .otherwise(col("p.sz")).as("row_sz_b"),
            posOk.as("pos_ok"))
          .groupBy(col("a_id"), col("b_id"))
          .agg(count(lit(1)).as("matches"),
            sum(col("from_a")).as("m_ab"),
            sum(lit(1) - col("from_a")).as("m_ba"),
            max(col("from_a") * col("pos_ok")).as("pos_ab"),
            max((lit(1) - col("from_a")) * col("pos_ok")).as("pos_ba"),
            min(col("row_min_sz")).as("min_sz"),
            min(col("row_sz_a")).as("sz_a"),
            min(col("row_sz_b")).as("sz_b"))
      } else {
        // combined shape (r12): matches summed over both directions
        // against the min_sz floor
        joined
          .select(least(col("p.doc_id"), col("q.doc_id")).as("a_id"),
            greatest(col("p.doc_id"), col("q.doc_id")).as("b_id"),
            least(col("p.sz"), col("q.sz")).as("row_min_sz"),
            posOk.as("pos_ok"))
          .groupBy(col("a_id"), col("b_id"))
          .agg(count(lit(1)).as("matches"), max(col("pos_ok")).as("pos_ok"),
            min(col("row_min_sz")).as("min_sz"))
      }
    }

    /** The pair-level EXISTS-positional + match-count filter; in
      * `directionalOr` mode each direction is tested against ITS OWN
      * floor and witness and either direction suffices (spine note
      * r14 — the asymmetric containment semantics).
      */
    def survivorFilter: Column = {
      def dirOk(m: String, pos: String, sz: String): Column =
        col(pos) === 1 && col(m) >=
          least(lit(slack), col(sz) - missFloor(sz))
      if (directionalOr)
        dirOk("m_ab", "pos_ab", "sz_a") || dirOk("m_ba", "pos_ba", "sz_b")
      else
        col("pos_ok") === 1 && col("matches") >=
          least(lit(slack), col("min_sz") - missFloor("min_sz"))
    }

    /** Candidate (a_id, b_id) pairs for the family's verify join. */
    def survivors(ranked: DataFrame): DataFrame =
      pairAgg(ranked).filter(survivorFilter)
        .select(col("a_id"), col("b_id"))
  }

  /** Prefix slack K = 8 of every banded spine — recall derivation on
    * [[BandedSpine]]; the measured K = 2 → 8 trade is round 10's
    * (containment): 22.85 M single-shared-gram candidate pairs on the
    * 50 k-doc realistic-vocabulary corpus → the ≥K filter leaves ~0.1%
    * of them, turning a >75 GB spill DNF into an in-memory pass; round
    * 11 measured the same trade for jaccard (A/B 2.07×).
    *
    * Declared BEFORE every spine that references it: object vals
    * initialize in declaration order, and a forward reference here is
    * an UNINITIALIZED read (slack 0 — a shorter prefix than the
    * recall derivation assumes). scalac's "Reference to uninitialized
    * value" warning is the tripwire, the `checkinit` build alias fails
    * such a read at runtime, and [[graft.ContainmentGuardSpec]] pins
    * the live spines' slack.
    */
  private val PrefixSlack = 8

  /** Jaccard instantiation of [[BandedSpine]] (t = 0.4; slack ported
    * round 11 — derivations on the spine): symmetric semantics allow
    * the extra (length-bucket) blocking key.
    *
    * '''Prefix floor (tightened r14, VERDICT #3 "the 60% prefix is
    * loose")''': m(n) = ⌊0.42863·n⌋ replaces the one-sided r11 floor
    * ⌊0.6·n⌋. Derivation — the standard PPJoin SELF-join bound applied
    * to the pair's SMALLER side S: J ≥ t' ⟹ I ≥ t'/(1+t')·(|P|+|Q|)
    * ≥ 2t'/(1+t')·|S|, so S misses at most (1 − 2t'/(1+t'))·|S| =
    * 0.428622·|S| of its own grams (t' = 0.39995, the family slop;
    * 0.42863 ≥ that, and floor of the larger constant only widens the
    * prefix). The recall argument needs only the SMALLER side's
    * direction: its probe prefix (m+K rarest grams) yields the first
    * common gram (candidate row + positional witness — rank in S ≤
    * m+1, and the q side is the FULL posting list so the row is never
    * filtered there) and ≥ min(K, |S| − m(|S|)) distinct matches
    * (prefix ⊊ doc: ≤ m of m+K prefix grams unshared; prefix = doc:
    * all ≥ |S| − m shared grams match). The combined count filter
    * tests matches ≥ min(K, min_sz − m(min_sz)) with min_sz = |S|, so
    * the guarantee transfers unchanged — the LARGER side's direction
    * no longer carries its own guarantee (its misses are only bounded
    * by (1−t')·|L|), but its rows only ADD to the combined count.
    * The grams a doc's prefix loses between 0.6n and 0.43n are its
    * most FREQUENT prefix members (rank is rarest-first), i.e. the
    * longest posting lists, so the candidate-mass cut is superlinear
    * in the prefix cut (measured at sf0.1 by the r14 size-bound probe:
    * 35.73 M → 14.55 M candidate-aggregate rows, −59%; survivors
    * 557,566 → 542,185 — a superset of the true pairs either way, the
    * exact verify join fixes the output).
    */
  private[graft] val jaccardSpine = BandedSpine(
    slack = PrefixSlack,
    prefixFloor = n => floor(lit(0.42863) * col(n)),
    missFloor = n => floor(lit(0.42863) * col(n)),
    blockKeys = Seq("lang", "lenb"),
    pairLowerBound = (szP, szQ) => lit(0.4 / 1.4) * (szP + szQ),
    // no sizeBound: J ≥ 0.4 does imply min ≥ 0.4·max, but the lenb
    // blocking already enforces near-equal sizes — measured 0.0% cut
    // at sf0.1 (r14 size-bound probe), so the predicate would be pure
    // per-row cost here. Combined (non-directional) count shape for
    // the same reason: the directional AND cut survivors only 1.5%
    // at sf0.1 while widening the aggregate — measured net-negative.
    )

  /** Recall-audit instantiation of [[BandedSpine]] (r14, VERDICT #2):
    * jaccard at t = 0.5 over the word-3-shingle HASH ranking of
    * [[dedupLshRecall]]'s truth pass, no blocking key (the audit is
    * corpus-wide by design; the sampling cap bounds it). Constants, all
    * carrying the round-to-4 slop t' = 0.49995 of the `jacc ≥ 0.5`
    * filter applied to `round(·, 4)`:
    *
    *   - missFloor / prefixFloor m(sz) = ⌊0.33338·sz⌋ (tightened r14,
    *     same smaller-side PPJoin bound as [[jaccardSpine]]): J ≥ t'
    *     ⟹ I ≥ 2t'/(1+t')·|S| = 0.666622·|S| for the pair's smaller
    *     side S ⟹ S misses ≤ 0.333378·|S| of its own shingles; the
    *     guarantee (first-common-gram witness + ≥ min(K, |S|−m)
    *     matches) rides S's direction alone, and the q side is the
    *     full posting list, so the larger side needs no prefix bound;
    *   - pairLowerBound (t'/(1+t'))·(|P|+|Q|): J = I/(|P|+|Q|−I) ≥ t'
    *     ⟹ I ≥ t'/(1+t')·(|P|+|Q|);
    *   - sizeBound min ≥ 0.49995·max (I ≤ min and I ≥ t'·max).
    *
    * 32-bit shingle-hash collisions: every shared STRING shingle
    * collides with itself by construction, and the exact string-set
    * confirm rejects fake matches, so a collision can only cost recall
    * by merging two of a doc's shared shingles into one posting row.
    * Postings here are one row per distinct shingle string (`sz` is the
    * string-set size), so none merge and the count floor holds as
    * derived; a hash-distinct posting would lose one guaranteed prefix
    * match per such collision, and K = 8 would keep the candidate
    * witness through up to 7 of them per doc. Slack K = 8 is the
    * family's measured trade (see [[PrefixSlack]]).
    */
  private[graft] val recallSpine = BandedSpine(
    slack = PrefixSlack,
    prefixFloor = n => floor(lit(0.33338) * col(n)),
    missFloor = n => floor(lit(0.33338) * col(n)),
    blockKeys = Nil,
    pairLowerBound = (szP, szQ) => lit(0.49995 / 1.49995) * (szP + szQ),
    sizeBound = Some((szP, szQ) =>
      szQ >= lit(0.49995) * szP && szP >= lit(0.49995) * szQ))

  /** Containment instantiation of [[BandedSpine]] (t = 0.8): integer
    * ⌊sz/5⌋ prefix floor (no FP floor drift), asymmetric-direction
    * positional bound, no extra blocking key (either side may be the
    * qualifying direction, so length buckets don't apply).
    */
  private[graft] val containmentSpine = BandedSpine(
    slack = PrefixSlack,
    prefixFloor = n => expr(s"$n div 5"),
    missFloor = n => floor(lit(0.20005) * col(n)),
    blockKeys = Seq("lang"),
    pairLowerBound = (szP, _) => lit(0.79995) * szP,
    // a probe row witnesses direction P⊂Q, which needs |Q| ≥ |P∩Q| ≥
    // 0.79995·|P| (spine size-filter note; same slop constant as the
    // positional bound)
    sizeBound = Some((szP, szQ) => szQ >= lit(0.79995) * szP),
    // asymmetric semantics: per-direction floors, either direction
    // suffices — measured 842k → 435k verify pairs at sf0.1
    directionalOr = true)

  /** One side of a pair comparison over a [[gramSets]] table: the id,
    * `keys`, and the gram set and size renamed for `side` ("a" → a_id,
    * ga, sza).
    */
  private def pairSide(g: DataFrame, side: String, keys: Seq[String] = Nil): DataFrame =
    g.select(col("doc_id").as(s"${side}_id") +: keys.map(col) :+
      col("gr").as(s"g$side") :+ col("sz").as(s"sz$side"): _*)

  /** Survivor pairs of a spine with both gram sets fetched by id
    * equijoin — the banded tiers' verify input.
    */
  private def spineCandidates(spine: BandedSpine, g: DataFrame,
                              ranked: DataFrame): DataFrame =
    spine.survivors(ranked)
      .join(pairSide(g, "a"), Seq("a_id"))
      .join(pairSide(g, "b"), Seq("b_id"))

  /** The bounded-quadratic comparator input: every pair inside a block
    * of `keys`. r13: the build side is broadcast — blocks key on few
    * values (≤ |langs|·|lenbs|), so a shuffled join has at most that many
    * non-empty partitions and AQE's byte-based coalescing collapsed the
    * compute (2.4M merge passes) onto ONE task (guide §2.5: too few
    * distinct key values). Broadcasting the gram table (bounded by the
    * tier contract, [[requireBoundedCorpus]]) lets the pair generation
    * stream over the cached side's full partitioning instead.
    */
  private def blockPairs(g: DataFrame, keys: Seq[String]): DataFrame =
    pairSide(g, "a", keys).join(broadcast(pairSide(g, "b", keys)), keys)
      .filter(col("a_id") < col("b_id"))

  /** The jaccard comparator: the codegen'd `jaccard_sorted` merge on the
    * hashed gram sets, J ≥ 0.4, rounded to 4 places.
    */
  private def jaccardConfirm(pairs: DataFrame): DataFrame =
    pairs.withColumn("jacc", expr("jaccard_sorted(ga, gb)"))
      .filter(col("jacc") >= 0.4)
      .select(col("a_id"), col("b_id"), round(col("jacc"), 4).as("jacc"))

  /** The merge-pass containment comparator: `intersect_count_sorted` →
    * cont_a/cont_b rounded to 4 places → either direction ≥ 0.8.
    */
  private def containmentConfirm(pairs: DataFrame): DataFrame =
    pairs.withColumn("ic", expr("intersect_count_sorted(ga, gb)").cast("double"))
      .select(col("a_id"), col("b_id"),
        round(col("ic") / col("sza"), 4).as("cont_a"),
        round(col("ic") / col("szb"), 4).as("cont_b"))
      .filter(greatest(col("cont_a"), col("cont_b")) >= 0.8)

  /** The blocked all-pairs jaccard tier on a [[gramSets]] table —
    * `ngram_jaccard_pairs`, `ngram_jaccard_shingles_pairs` and the
    * quadratic branch of [[ngramJaccardAuto]].
    */
  private def jaccardAllPairs(g: DataFrame): DataFrame =
    jaccardConfirm(blockPairs(g, jaccardSpine.blockKeys))

  private def jaccardBandedFrom(g: DataFrame, ranked: DataFrame): DataFrame =
    jaccardConfirm(spineCandidates(jaccardSpine, g, ranked))

  private[graft] final case class JaccardCandidateMass(nDocs: Long,
                                                       candRows: Double) {
    def rowsPerDoc: Double = if (nDocs == 0L) 0.0 else candRows / nDocs
    override def toString: String =
      f"docs=$nDocs candRows=$candRows%.3g rowsPerDoc=$rowsPerDoc%.1f"
  }

  /** EXACT pre-count of the banded candidate join's output: the join is
    * an equijoin on (lang, lenb, gh) of the probe prefix against the
    * full posting ranking, so its row count is Σ over keys of
    * probe-count × posting-count — one aggregate over the cached ranking
    * pass, no wide rows, no self-join. Round-10 motivation: on the
    * realistic-vocabulary 150 k-doc Zipf corpus this mass exceeded
    * 3×10⁹ rows and the candidate shuffle DNF'd a 79 GB disk — jaccard's
    * t = 0.4 prefix spans 60% of every document's grams, so
    * MID-FREQUENCY grams (absent from containment's 20% rarest-only
    * prefix) dominate the sum, and no join-order trick avoids
    * GENERATING the pairs. The probe predicts that wall for the price
    * of a count.
    */
  private[graft] def jaccardMassProbe(g: DataFrame,
                                      ranked: DataFrame): JaccardCandidateMass = {
    val byKey = ranked.groupBy(col("lang"), col("lenb"), col("gh"))
      .agg(count(lit(1)).cast("double").as("ic"),
        sum(when(jaccardSpine.prefixCond, 1L)
          .otherwise(0L)).cast("double").as("pc"))
    val r = byKey.agg(sum(col("pc") * col("ic"))).head()
    JaccardCandidateMass(g.count(), if (r.isNullAt(0)) 0.0 else r.getDouble(0))
  }

  private[graft] final case class JaccardMassCheck(candRows: Double,
                                                   bareJoinRows: Long)

  /** Test hook ([[graft.JaccardGuardSpec]]): the probe's Σ pc×ic next to
    * the MATERIALIZED row count of the bare candidate equijoin (same
    * keys, no positional/self predicates) — the two must agree exactly,
    * which is what makes the probe a pre-count rather than an estimate.
    */
  private[graft] def jaccardMassProbe2(spark: SparkSession,
                                       sfDir: String): JaccardMassCheck = {
    val (g, ranked) = bandedTables(spark, sfDir, jaccardSpine)
    val m = jaccardMassProbe(g, ranked)
    val probe = ranked.filter(jaccardSpine.prefixCond)
    val bare = probe.as("p").join(ranked.as("q"),
      col("p.lang") === col("q.lang") && col("p.lenb") === col("q.lenb") &&
        col("p.gh") === col("q.gh")).count()
    JaccardMassCheck(m.candRows, bare)
  }

  /** Tier decision from the mass probe — pure, unit-tested
    * ([[graft.JaccardGuardSpec]]).
    *
    *   - candidate mass ≤ `bandedRowBound` (default 2×10⁹ narrow rows,
    *     ~50 GB shuffled): banded tier — the exact scale path while the
    *     prefix join's output is storable.
    *   - above the bound but ≤ `allPairsBound` docs: the blocked
    *     quadratic comparator — n²/2 merge-pass comparisons are bounded
    *     work on a bounded corpus, and they never materialize a
    *     candidate exchange.
    *   - above both: fail loudly. At t = 0.4 the prefix is 60% of each
    *     gram set, so candidate mass tracks Σ df², which grows
    *     super-linearly on ANY realistic corpus — there is no exact
    *     sub-quadratic plan at low thresholds. The escape hatches are
    *     in the message: minhash-LSH (collision rate tracks SIMILARITY,
    *     not gram frequency — measured sub-linear at sf10 and on the
    *     Zipf corpus) or a higher threshold (t = 0.8 shrinks the prefix
    *     to containment's regime).
    */
  private[graft] def jaccardTier(m: JaccardCandidateMass,
                                 bandedRowBound: Double = 2e9,
                                 allPairsBound: Long = 100000L): String =
    if (m.candRows <= bandedRowBound) "banded"
    else if (m.nDocs <= allPairsBound) "pairs"
    else throw new IllegalStateException(
      s"jaccard guard: prefix-filter candidate mass ~${m.candRows.toLong} " +
        s"rows on ${m.nDocs} docs ($m): at threshold 0.4 the probe prefix " +
        s"spans 60% of each document's grams, so mid-frequency grams make " +
        s"the candidate join's output super-linear and no exact " +
        s"sub-quadratic CHAR-GRAM plan exists. Use the word-shingle tier " +
        s"(ngram_jaccard_shingles — open vocabulary, near-singleton " +
        s"postings keep the same prefix's candidate mass ~linear, exact), " +
        s"the minhash-LSH tier (approximate; collision rate tracks " +
        s"similarity, not gram frequency), or raise the jaccard threshold " +
        s"to shrink the prefix.")

  /** All four ngram-family guard probes for a corpus, for
    * [[graft.NgramProbe]]: (name, probe-string) per (semantics, gram
    * source) pair. Runs the gram + ranking passes only — the linear
    * part of each banded plan — never a candidate join.
    */
  private[graft] def ngramProbes(spark: SparkSession,
                                 sfDir: String): Seq[(String, String)] = {
    def probe(spine: BandedSpine, gramSql: String)(
        f: (DataFrame, DataFrame) => Any): String = {
      val (g, ranked) = bandedTables(spark, sfDir, spine, gramSql)
      val s = f(g, ranked).toString
      spark.catalog.clearCache(); CacheScope.release()
      s
    }
    val char4 = charGramsSql("norm", 4)
    Seq("jaccard_char4" -> probe(jaccardSpine, char4)(jaccardMassProbe),
      "jaccard_shingle3" -> probe(jaccardSpine, shingles3Sql("t"))(jaccardMassProbe),
      "containment_char4" -> probe(containmentSpine, char4)(containmentDensityProbe),
      "containment_shingle3" ->
        probe(containmentSpine, shingles3Sql("t"))(containmentDensityProbe))
  }

  /** Candidate-aggregate input (Σ `matches`: the candidate-join rows the
    * per-pair aggregate consumes) and survivor count (the pairs that
    * reach the verify join) of each banded family's LIVE plan on a
    * corpus, for [[graft.NgramProbe]] `agg` — the numbers a change to
    * the spine's candidate generation is judged by.
    */
  private[graft] def aggProbe(spark: SparkSession,
                              sfDir: String): Seq[(String, String)] = {
    def measure(spine: BandedSpine, ranked: DataFrame): String = {
      val a = spine.pairAgg(ranked).transform(CacheScope.barrier)
      val aggInput = a.agg(coalesce(sum(col("matches")), lit(0L))).head().getLong(0)
      val survivors = a.filter(spine.survivorFilter).count()
      spark.catalog.clearCache(); CacheScope.release()
      s"aggInput=$aggInput survivors=$survivors"
    }
    Seq("jaccard_char4" ->
        measure(jaccardSpine, bandedTables(spark, sfDir, jaccardSpine)._2),
      "containment_char4" ->
        measure(containmentSpine, bandedTables(spark, sfDir, containmentSpine)._2),
      "lsh_recall" -> measure(recallSpine, lshRecallTables(spark, sfDir)._3))
  }

  /** Guarded jaccard: probes the banded tier's exact candidate mass on
    * the corpus at hand, then dispatches to the tier whose design regime
    * it is — identical results either way (same quadratic oracle as
    * [[ngramJaccardPairs]]). The probe reuses the banded tier's own
    * cached pre-candidate passes; the quadratic branch reuses the cached
    * gram table. The jaccard mirror of [[ngramContainmentAuto]].
    */
  def ngramJaccardAuto(spark: SparkSession, sfDir: String): DataFrame = {
    val (g, ranked) = bandedTables(spark, sfDir, jaccardSpine)
    val m = jaccardMassProbe(g, ranked)
    val tier = jaccardTier(m)
    println(s"[graft] jaccard candidate-mass probe: $m tier=$tier")
    if (tier == "banded") jaccardBandedFrom(g, ranked) else jaccardAllPairs(g)
  }

  /** Asymmetric containment pairs: C(A ⊂ B) = |A∩B| / |A| over the same
    * blocked char-4-gram sets as `ngramJaccardPairs` — the quote/subset
    * detector. A short document pasted inside a long one has near-1
    * containment but LOW jaccard (the union is dominated by the long
    * side), so a jaccard threshold misses exactly the pairs this query
    * exists for; consequently blocking is lang-only (containment pairs
    * have very DIFFERENT lengths — a length-bucket block would discard
    * them). Same bounded-quadratic caveat and LSH escape hatch as the
    * jaccard form.
    *
    * Comparator: overlap here is DENSE (every doc pair shares grams when
    * the vocabulary is small relative to the corpus — and prefix
    * filtering, the sparse-overlap standard, degenerates for the same
    * reason: the "rarest" grams of every set still have huge posting
    * lists). So the sets are dictionary-encoded and packed into
    * ceil(V/64)-long bitmaps, and |A∩B| is popcount(AND) via the native
    * `bitmap_and_count` kernel — measured 16.0 s → 0.71 s at sf0.1 vs
    * the sorted-merge comparator. The dictionary and the word count are
    * plan-internal (1-row broadcast for the width; single-task
    * vocabulary window, bounded by |vocab| which IS the regime this
    * comparator is for).
    */
  def ngramContainmentPairs(spark: SparkSession, sfDir: String): DataFrame = {
    requireBoundedCorpus(Tables.documents(spark, sfDir),
      "ngram_containment_pairs")
    val g = Tables.documents(spark, sfDir)
      .withColumn("norm", normText(col("text")))
      .select(col("doc_id"), col("lang"),
        array_distinct(
          expr(s"transform(${charGramsSql("norm", 4)}, s -> ${h32Sql("s")})")).as("gr"))
    containmentBitmapFrom(g)
  }

  /** The bitmap comparator on a prebuilt (doc_id, lang, gr) gram table —
    * shared by [[ngramContainmentPairs]] and the dense branch of
    * [[ngramContainmentAuto]] (which reuses its probe's cached grams;
    * gram order within `gr` is irrelevant here — the bitmap OR is
    * order-independent). Both callers enforce the ≤ `allPairsBound`
    * tier contract before reaching the `broadcast(b)` below
    * ([[requireBoundedCorpus]] in the forced twin, [[containmentTier]]
    * in the dispatcher), so the broadcast build side is bounded by
    * construction.
    */
  private def containmentBitmapFrom(g: DataFrame): DataFrame = {
    val dict = g.select(explode(col("gr")).as("gh")).distinct()
      .withColumn("idx", row_number().over(Window.orderBy(col("gh"))) - 1)
    val nw = dict.agg(((max(col("idx")) / 64) + 1).cast("int").as("nw"))
    val bm = g.select(col("doc_id"), col("lang"), explode(col("gr")).as("gh"))
      .join(broadcast(dict), "gh")
      .groupBy(col("doc_id"), col("lang"))
      .agg(collect_list(col("idx")).as("idxs"))
      .crossJoin(broadcast(nw))
      .select(col("doc_id"), col("lang"), size(col("idxs")).as("sz"),
        expr("""transform(sequence(0, nw - 1), w ->
               |  aggregate(filter(idxs, i -> i div 64 = w), 0L,
               |    (a, i) -> a | shiftleft(1L, cast(i % 64 AS int))))""".stripMargin)
          .as("bm"))
      // r13: cache at pinned width — the bitmap table's bytes are small
      // enough that AQE coalesced it to ~1 partition, serializing the
      // all-pairs popcount scan below (Tables.nPart scaladoc)
      .repartition(Tables.nPart(g.sparkSession), col("doc_id"))
      .transform(CacheScope.barrier)
    val a = bm.select(col("doc_id").as("a_id"), col("lang"),
      col("sz").as("sza"), col("bm").as("bma"))
    val b = bm.select(col("doc_id").as("b_id"), col("lang"),
      col("sz").as("szb"), col("bm").as("bmb"))
    // broadcast build side (r13): the lang-only block key starves a
    // shuffled join of parallelism; the dense tier is bounded by the
    // dispatcher's allPairsBound, so the build side broadcasts
    a.join(broadcast(b), Seq("lang"))
      .filter(col("a_id") < col("b_id"))
      .withColumn("ic", expr("bitmap_and_count(bma, bmb)").cast("double"))
      .select(col("a_id"), col("b_id"),
        round(col("ic") / col("sza"), 4).as("cont_a"),
        round(col("ic") / col("szb"), 4).as("cont_b"))
      .filter(greatest(col("cont_a"), col("cont_b")) >= 0.8)
  }

  val ngramContainmentPairsSql: String =
    """WITH g AS (
      |  SELECT doc_id, lang,
      |    list_distinct(list_transform(list_transform(range(1, length(norm) - 2),
      |      i -> substr(norm, i, 4)), s -> ('0x' || substr(md5(s), 1, 8))::BIGINT)) AS gr
      |  FROM (SELECT doc_id, lang,
      |          trim(regexp_replace(lower(text), '[^a-z0-9]+', ' ', 'g')) AS norm
      |        FROM documents))
      |SELECT a_id, b_id, cont_a, cont_b FROM (
      |  SELECT a.doc_id AS a_id, b.doc_id AS b_id,
      |    round(len(list_intersect(a.gr, b.gr))::DOUBLE / len(a.gr), 4) AS cont_a,
      |    round(len(list_intersect(a.gr, b.gr))::DOUBLE / len(b.gr), 4) AS cont_b
      |  FROM g a JOIN g b ON a.lang = b.lang AND a.doc_id < b.doc_id)
      |WHERE greatest(cont_a, cont_b) >= 0.8""".stripMargin

  /** Containment pairs, scale tier: EXACT-RECALL prefix filtering instead
    * of the bitmap variant's lang-only all-pairs join and global-Window
    * dictionary. Same result (same oracle) — different plan.
    *
    * Recall 1.0 (m = ⌊0.20005·|A|⌋ misses, the 0.00005 slop absorbing
    * the pre-filter rounding — exact for |A| < 20 000) and the PPJoin
    * positional + PPJoin+ match-count thinning: derivations at
    * [[BandedSpine]] (containment instantiation [[containmentSpine]]);
    * every qualifying pair in EITHER direction is caught (A⊂B via A's
    * prefix, B⊂A via B's) and the hash check against the quadratic
    * oracle passes exactly.
    *
    * 100 TB shape — every stage is key-partitioned, nothing is
    * single-task and nothing is all-pairs:
    *   - df: one shuffle keyed on (lang, gh) — replaces the bitmap
    *     tier's `row_number over Window.orderBy(gh)` global-sort
    *     dictionary (single task, vocabulary-sized).
    *   - rarest-first rank: Window partitioned BY DOC — parallel, each
    *     partition a handful of rows.
    *   - candidate join: keyed on (lang, gh), fan-out = Σ posting-list
    *     length over PREFIX grams only. Rarest-first makes those the
    *     shortest lists in the corpus — the standard prefix-filter
    *     selectivity argument. The adversarial regime (tiny shared
    *     vocabulary → every posting list long) is exactly the
    *     dense-overlap regime the bitmap tier (`ngram_containment_pairs`)
    *     is kept for; these two tiers cover complementary corners.
    *   - confirm: candidate pairs (distinct) fetch both gram sets by id
    *     equijoin and run the codegen'd `intersect_count_sorted` merge —
    *     O(|A|+|B|) per CANDIDATE, not per pair of documents.
    */
  def ngramContainmentBanded(spark: SparkSession, sfDir: String): DataFrame = {
    val (g, ranked) = bandedTables(spark, sfDir, containmentSpine)
    containmentBandedFrom(g, ranked)
  }

  private def containmentBandedFrom(g: DataFrame, ranked: DataFrame): DataFrame =
    containmentConfirm(spineCandidates(containmentSpine, g, ranked))

  /** Posting-density probe result for the containment family. `density`
    * is the fraction of the corpus the typical SELECTED prefix gram's
    * posting list spans — the direct predictor of the banded tier's
    * candidate mass (candidates ≈ Σ_prefix df ≈ prefixRows · density ·
    * nDocs, i.e. quadratic in nDocs whenever density is flat in nDocs).
    * On a realistic corpus the rarest ⌊sz/5⌋+2 grams of a doc have
    * near-singleton posting lists (density → 0 as the corpus grows); a
    * density that holds ≥ ~1e-2 at corpus scale means the vocabulary is
    * adversarially small relative to the corpus (the r9 sf3 sweep's
    * synthetic regime: 31 distinct words → density ~0.3 → measured
    * exponent ~1.7).
    */
  private[graft] final case class ContainmentDensity(nDocs: Long,
                                                     meanPrefixDf: Double,
                                                     candRows: Double) {
    def density: Double = if (nDocs == 0L) 0.0 else meanPrefixDf / nDocs
    override def toString: String =
      f"docs=$nDocs meanPrefixDf=$meanPrefixDf%.1f density=$density%.5f " +
        f"candRows=$candRows%.3g"
  }

  /** One aggregate over the already-built (cached) ranking pass: the
    * mean per-language document frequency of the grams the prefix
    * filter would actually join on, AND the EXACT row count of the
    * candidate equijoin those prefixes generate — the join is keyed on
    * (lang, gh) and the ranking already carries each gram's df, so
    * Σ df over prefix rows IS the join's output (before the count/
    * positional/self predicates). Round-10 lesson from the Zipf sweep:
    * density alone misses the char-gram SATURATION regime — on a
    * realistic 2¹⁸-word corpus density stays ~10⁻⁴ while meanPrefixDf
    * grows ∝ n (finite gram space), so candidates go Ω(n²) with no
    * density signal; the absolute mass is the honest guard. Cost is a
    * scan of the cached posting ranking — linear, no shuffle beyond the
    * ranking the banded tier needs anyway.
    */
  private[graft] def containmentDensityProbe(g: DataFrame,
                                             ranked: DataFrame): ContainmentDensity = {
    val r = ranked.filter(containmentSpine.prefixCond)
      .agg(avg(col("df")), sum(col("df").cast("double"))).head()
    ContainmentDensity(g.count(),
      if (r.isNullAt(0)) 0.0 else r.getDouble(0),
      if (r.isNullAt(1)) 0.0 else r.getDouble(1))
  }

  /** Test hook ([[graft.ContainmentGuardSpec]], [[graft.PlanSpec]]): the
    * density probe [[ngramContainmentAuto]] dispatches on, computed
    * standalone for a corpus — lets specs assert the DISPATCH DECISION
    * (probe → [[containmentTier]]) and derive the expected plan shape
    * from it, instead of hardcoding a tier for a corpus whose density
    * sits near the bound (sf0.001 measures ~0.021 vs the 0.02 bound —
    * a data nudge must fail no spec).
    */
  private[graft] def containmentProbe2(spark: SparkSession,
                                       sfDir: String): ContainmentDensity = {
    val (g, ranked) = bandedTables(spark, sfDir, containmentSpine)
    containmentDensityProbe(g, ranked)
  }

  /** Tier decision from the probe — pure, unit-tested
    * ([[graft.ContainmentGuardSpec]]).
    *
    *   - density < `denseDensity`: the prefix filter's selectivity
    *     argument holds — banded tier, the 100 TB path (measured ~linear
    *     on a realistic-vocabulary corpus, SCALE.md round 10).
    *   - dense but ≤ `allPairsBound` docs: the bitmap all-pairs
    *     comparator — dense overlap is exactly its design regime, and
    *     the corpus is small enough that n²/2 popcounts are bounded
    *     work.
    *   - dense AND large: fail loudly. Exact containment on a corpus
    *     whose posting lists span ≥ `denseDensity` of the documents has
    *     Ω(n²·density) candidate mass in ANY posting-based plan — there
    *     is no exact sub-quadratic tier to silently fall back to, and
    *     pretending the banded join will finish (r9: measured exponent
    *     ~1.7 at sf3, DNF on disk at sf10) helps nobody. The actionable
    *     escape hatches are in the message.
    */
  private[graft] def containmentTier(d: ContainmentDensity,
                                     denseDensity: Double = 0.02,
                                     allPairsBound: Long = 100000L,
                                     bandedRowBound: Double = 2e9): String =
    if (d.density >= denseDensity) {
      if (d.nDocs <= allPairsBound) "bitmap"
      else throw new IllegalStateException(
        s"containment guard: dense-vocabulary corpus at scale ($d): the " +
          s"typical prefix posting list spans ${(d.density * 100).round}% of " +
          s"${d.nDocs} documents, so exact containment has ~n²·density " +
          s"candidate pairs and no sub-quadratic plan exists. Use the " +
          s"minhash-LSH tier (density-immune, approximate) or raise the " +
          s"containment threshold to shrink the prefix.")
    } else if (d.candRows > bandedRowBound) {
      // saturation regime (round 10): sparse DENSITY but super-linear
      // MASS — the finite char-4-gram space has filled up, every posting
      // list grows ∝ corpus, and the banded join's exact pre-count says
      // its output is no longer storable. No density reading rescues a
      // join whose output doesn't fit.
      if (d.nDocs <= allPairsBound) "bitmap"
      else throw new IllegalStateException(
        s"containment guard: char-gram space saturated at scale ($d): the " +
          s"prefix-filter candidate join would generate ~${d.candRows.toLong} " +
          s"rows — the gram space is finite, so past saturation posting " +
          s"lists grow with the corpus and candidates are Ω(n²) regardless " +
          s"of density. Use the word-shingle tier " +
          s"(ngram_containment_shingles — open vocabulary, Heaps growth, " +
          s"the 100 TB containment path) or the minhash-LSH tier " +
          s"(approximate).")
    } else "banded"

  /** Guarded containment: probes posting density on the corpus at hand,
    * then dispatches to the tier whose design regime it is — the
    * prefix-filter banded join when posting lists are sparse (the scale
    * path), the bitmap all-pairs comparator when the vocabulary is dense
    * and the corpus bounded, and a loud, actionable failure when it is
    * dense AND large (see [[containmentTier]]). Identical results on
    * either tier (same quadratic oracle). The probe itself is linear and
    * reuses the banded tier's own cached pre-candidate passes; the dense
    * branch reuses the cached gram table.
    */
  def ngramContainmentAuto(spark: SparkSession, sfDir: String): DataFrame = {
    val (g, ranked) = bandedTables(spark, sfDir, containmentSpine)
    val d = containmentDensityProbe(g, ranked)
    val tier = containmentTier(d)
    println(s"[graft] containment density probe: $d tier=$tier")
    if (tier == "banded") containmentBandedFrom(g, ranked)
    else containmentBitmapFrom(g)
  }

  /** Containment over word 3-shingles — the OPEN-VOCABULARY containment
    * tier, and the family's true 100 TB path. Same banded plan as
    * [[ngramContainmentBanded]] (shared code), different gram source,
    * and that difference is the whole point: char-4-gram space is
    * FINITE (≤ 36⁴ interior + a ~3-letter boundary band), so once a
    * corpus carries more gram instances than the space holds, every
    * posting list — including a doc's rarest — grows ∝ corpus size and
    * prefix-filter candidates go Ω(n²) on ANY corpus (measured, round
    * 10: the 50 k-doc realistic-vocabulary corpus already sits at
    * saturation — mean prefix df 11.7 — and the r9 sf3 driver-corpus
    * sweep showed the same wall earlier because 31 distinct words
    * saturate instantly). Word 3-shingles draw from the vocabulary's
    * CUBE: shingle space grows with the corpus (Heaps-law growth on real
    * text), tail shingles stay near-singletons at any scale, and the
    * prefix filter's selectivity argument holds for good — the Zipf-
    * corpus sweep measures this tier's slope (SCALE.md round 10).
    * Semantics: round(|A∩B|/|A|, 4) ≥ 0.8 on distinct-shingle sets,
    * docs with < 3 tokens excluded (no shingles → containment
    * undefined); quadratic DuckDB twin [[ngramContainmentShinglesSql]].
    */
  def ngramContainmentShingles(spark: SparkSession, sfDir: String): DataFrame = {
    val (g, ranked) = bandedTables(spark, sfDir, containmentSpine, shingles3Sql("t"))
    containmentBandedFrom(g, ranked)
  }

  /** Jaccard over word 3-shingles — the OPEN-VOCABULARY exact jaccard
    * tier, and the symmetric twin of [[ngramContainmentShingles]] (same
    * rationale, same shared banded plan via [[bandedTables]]' gram
    * parameter). The char-4-gram tier's low-threshold wall is candidate
    * MASS: at t = 0.4 the prefix spans 60% of each gram set, and in a
    * FINITE gram space mid-frequency grams make Σ prefix×posting ~n² on
    * any corpus (r10 probe: 1.38e8 → 9.58e9 rows on 9× docs; the
    * jaccardTier guard's only escape hatches were approximate minhash or
    * a higher threshold). Word 3-shingles draw from the vocabulary's
    * CUBE: shingle space grows with the corpus (Heaps), tail shingles
    * stay near-singletons, so the SAME 60% prefix carries near-singleton
    * posting lists and candidate mass stays ~linear — low-threshold
    * exact jaccard gets a measured scale path instead of only an
    * approximate one. Semantics: J ≥ 0.4 on distinct-shingle sets with
    * the (lang × length-bucket) block, docs with < 3 tokens excluded
    * (no shingles → jaccard undefined); quadratic DuckDB twin
    * [[ngramJaccardShinglesSql]].
    */
  def ngramJaccardShingles(spark: SparkSession, sfDir: String): DataFrame = {
    val (g, ranked) = bandedTables(spark, sfDir, jaccardSpine, shingles3Sql("t"))
    jaccardBandedFrom(g, ranked)
  }

  val ngramJaccardShinglesSql: String =
    """WITH g AS (
      |  SELECT doc_id, lang, lenb,
      |    list_distinct(list_transform(
      |      list_transform(range(1, len(t) - 1),
      |        i -> t[i] || ' ' || t[i + 1] || ' ' || t[i + 2]),
      |      s -> ('0x' || substr(md5(s), 1, 8))::BIGINT)) AS gr
      |  FROM (SELECT doc_id, lang, n_chars // 100 AS lenb,
      |          string_split(trim(regexp_replace(lower(text), '[^a-z0-9]+', ' ', 'g')), ' ') AS t
      |        FROM documents))
      |SELECT a_id, b_id, round(jacc, 4) AS jacc FROM (
      |  SELECT a.doc_id AS a_id, b.doc_id AS b_id,
      |    len(list_intersect(a.gr, b.gr))::DOUBLE /
      |      (len(a.gr) + len(b.gr) - len(list_intersect(a.gr, b.gr))) AS jacc
      |  FROM g a JOIN g b ON a.lang = b.lang AND a.lenb = b.lenb AND a.doc_id < b.doc_id
      |  WHERE len(a.gr) > 0 AND len(b.gr) > 0)
      |WHERE jacc >= 0.4""".stripMargin

  val ngramContainmentShinglesSql: String =
    """WITH g AS (
      |  SELECT doc_id, lang,
      |    list_distinct(list_transform(
      |      list_transform(range(1, len(t) - 1),
      |        i -> t[i] || ' ' || t[i + 1] || ' ' || t[i + 2]),
      |      s -> ('0x' || substr(md5(s), 1, 8))::BIGINT)) AS gr
      |  FROM (SELECT doc_id, lang,
      |          string_split(trim(regexp_replace(lower(text), '[^a-z0-9]+', ' ', 'g')), ' ') AS t
      |        FROM documents))
      |SELECT a_id, b_id, cont_a, cont_b FROM (
      |  SELECT a.doc_id AS a_id, b.doc_id AS b_id,
      |    round(len(list_intersect(a.gr, b.gr))::DOUBLE / len(a.gr), 4) AS cont_a,
      |    round(len(list_intersect(a.gr, b.gr))::DOUBLE / len(b.gr), 4) AS cont_b
      |  FROM g a JOIN g b ON a.lang = b.lang AND a.doc_id < b.doc_id
      |  WHERE len(a.gr) > 0 AND len(b.gr) > 0)
      |WHERE greatest(cont_a, cont_b) >= 0.8""".stripMargin

  /** Quadratic (blocked all-pairs) twin of [[ngramJaccardShingles]] —
    * same gram source, same semantics, same DuckDB oracle
    * ([[ngramJaccardShinglesSql]]), NO prefix filtering: the in-engine
    * equality partner [[graft.TwinCheck]] pits the banded scale tier
    * against at corpus sizes the unit suites never reach (round-12
    * verdict ask — the tier pair must be row-identical at any SF).
    * Bounded-quadratic caveat as [[ngramJaccardPairs]]: comparisons are
    * n²/2 within (lang × length-bucket) blocks, fine on a bounded
    * corpus, never the scale path.
    */
  def ngramJaccardShinglesPairs(spark: SparkSession, sfDir: String): DataFrame = {
    requireBoundedCorpus(Tables.documents(spark, sfDir),
      "ngram_jaccard_shingles_pairs")
    jaccardAllPairs(gramSets(spark, sfDir, jaccardSpine, shingles3Sql("t")))
  }

  /** Quadratic (lang-blocked all-pairs) twin of
    * [[ngramContainmentShingles]] — same gram source and oracle
    * ([[ngramContainmentShinglesSql]]), the containment mirror of
    * [[ngramJaccardShinglesPairs]] (no length-bucket block: containment
    * pairs have very different lengths). The merge-pass comparator is
    * the right quadratic form here — shingle overlap is SPARSE (open
    * vocabulary), the dense-overlap bitmap tier exists for the char-gram
    * regime.
    */
  def ngramContainmentShinglesPairs(spark: SparkSession, sfDir: String): DataFrame = {
    requireBoundedCorpus(Tables.documents(spark, sfDir),
      "ngram_containment_shingles_pairs")
    containmentConfirm(blockPairs(
      gramSets(spark, sfDir, containmentSpine, shingles3Sql("t")), containmentSpine.blockKeys))
  }

  /** Content-defined-chunking (CDC) dedup: split each normalized text at
    * content-derived boundaries — a position is a cut iff the 4-gram
    * ending there hashes to 0 mod 64 (expected chunk ≈ 64 chars) — then
    * group identical chunks corpus-wide. The storage/transfer dedup
    * recipe (rsync, LBFS, backup stores) applied to corpus text: unlike
    * fixed-width chunking ([[docLineDedup]]'s token windows), CDC
    * boundaries survive insertions/deletions — an edit reshapes only the
    * chunks it touches, so shared runs between document versions keep
    * identical digests and dedup across the corpus.
    *
    * Out: one row per distinct chunk — digest, occurrence count,
    * canonical (lowest) doc, chunk length.
    *
    * Scale shape: the boundary scan is ONE fused rolling-hash kernel
    * call per row ([[graft.functions.CdcChunks]] — the round-6 shape ran
    * an interpreted HOF lambda computing one md5 digest per char
    * position, the whole query's measured hot spot); the only exchange
    * is the digest groupBy, shuffling slim (digest, doc_id, len) rows
    * with map-side partials.
    */
  /** (doc_id, chunk) rows of the CDC split — shared by the batch query
    * and the streaming twin ([[graft.streaming.CdcDedupStream]]).
    * Streaming-safe: narrow per-row kernel, no persist, no shuffle.
    */
  private[graft] def cdcChunks(docs: DataFrame): DataFrame = {
    graft.functions.Kernels.register(docs.sparkSession)
    docs
      .select(col("doc_id"), normText(col("text")).as("norm"))
      .withColumn("chunk", explode(expr("cdc_chunks(norm)")))
      .select(col("doc_id"), col("chunk"))
  }

  /** The HOF reference formulation of the kernel's boundary rule — the
    * slow-but-obviously-SQL-parity twin ([[CdcKernelSpec]] asserts the
    * kernel's chunks are identical on the real corpus; the DuckDB oracle
    * below is this same formulation in DuckDB dialect). The guard on
    * `length < 4` matters: Spark's `sequence(4, n)` REVERSES when n < 4
    * rather than returning empty (DuckDB's `range` is empty), so short
    * docs special-case to a single whole-text chunk.
    */
  private[graft] def cdcChunksRef(docs: DataFrame): DataFrame =
    docs
      .select(col("doc_id"), normText(col("text")).as("norm"))
      .withColumn("bl", expr(
        s"""concat(array(0),
           |  IF(length(norm) < 4, array(),
           |     filter(sequence(4, length(norm)),
           |            i -> ((ascii(substring(norm, i - 3, 1)) * 16974593L
           |                 + ascii(substring(norm, i - 2, 1)) * 66049L
           |                 + ascii(substring(norm, i - 1, 1)) * 257L
           |                 + ascii(substring(norm, i, 1))) * 2654435761L)
           |                 % 4294967296L < 67108864L)),
           |  array(length(norm)))""".stripMargin))
      .withColumn("chunk", explode(expr(
        """filter(transform(sequence(1, size(bl) - 1), j ->
          |  substring(norm, element_at(bl, j) + 1,
          |            element_at(bl, j + 1) - element_at(bl, j))),
          |  c -> length(c) > 0)""".stripMargin)))
      .select(col("doc_id"), col("chunk"))

  def docCdcDedup(spark: SparkSession, sfDir: String): DataFrame =
    cdcChunks(Tables.documents(spark, sfDir))
      .groupBy(md5(col("chunk")).as("digest"))
      .agg(count(lit(1)).as("n_occurrences"),
        min(col("doc_id")).as("canonical_id"),
        max(length(col("chunk"))).as("chunk_len"))

  /** DuckDB twin: per-position Karp-Rabin boundary test (identical hash
    * family and threshold as the kernel — see [[graft.functions.CdcChunks]]
    * for the no-overflow and low-bits-degeneracy arguments).
    */
  val docCdcDedupSql: String =
    """WITH nrm AS (
      |  SELECT doc_id, trim(regexp_replace(lower(text), '[^a-z0-9]+', ' ', 'g')) AS norm
      |  FROM documents),
      |b AS (
      |  SELECT doc_id, norm,
      |    list_concat(list_concat([0], list_filter(range(4, length(norm) + 1),
      |      i -> ((ascii(substr(norm, i - 3, 1)) * 16974593::BIGINT
      |           + ascii(substr(norm, i - 2, 1)) * 66049::BIGINT
      |           + ascii(substr(norm, i - 1, 1)) * 257::BIGINT
      |           + ascii(substr(norm, i, 1))) * 2654435761) % 4294967296 < 67108864)),
      |      [length(norm)]) AS bl
      |  FROM nrm),
      |ch AS (
      |  SELECT doc_id, unnest(list_filter(list_transform(range(1, len(bl)), j ->
      |      substr(norm, bl[j] + 1, bl[j + 1] - bl[j])), c -> length(c) > 0)) AS chunk
      |  FROM b)
      |SELECT md5(chunk) AS digest, count(*) AS n_occurrences,
      |  min(doc_id) AS canonical_id, max(length(chunk)) AS chunk_len
      |FROM ch GROUP BY 1""".stripMargin

  /** Per-doc distinct token w-shingle hashes — the shared front end of
    * the corpus-frequency ops below. `array_distinct` BEFORE the explode
    * makes (doc_id, gh) doc-distinct with zero shuffle. The `persist()`
    * barrier keeps the interpreted HOF chain out of the downstream
    * generator: exploding the un-materialized array re-evaluates the
    * whole transform per OUTPUT element (measured 35 s vs 0.2 s at
    * sf0.1 — the same CollapseProject recompute the MinHash pipeline
    * guards against), and both ops consume the grams twice anyway.
    */
  private def docGramHashes(spark: SparkSession, sfDir: String, w: Int): DataFrame =
    Tables.documents(spark, sfDir)
      .withColumn("t", tokens(col("text")))
      .withColumn("ghs", array_distinct(
        expr(s"transform(${shinglesWSql("t", w)}, s -> ${h32Sql("s")})")))
      .select(col("doc_id"), col("ghs"))
      .transform(CacheScope.barrier)

  /** Corpus-frequency boilerplate detection (the C4/CCNet repeated-span
    * filter adapted to newline-less docs): a token 3-gram is boilerplate
    * when it appears in ≥ 1% of documents; emit per doc its gram count,
    * boilerplate-gram count, and boilerplate ratio (the quality signal a
    * filter would threshold on).
    *
    * Scale shape: the gram-df aggregation shuffles 16-byte (doc_id, gh)
    * pairs only — never text; the boilerplate set is small by
    * construction (df ≥ 1% caps it at 100/corpus-fraction grams) so the
    * join back is a broadcast; the final per-doc join carries only
    * (doc_id, two counters). The relative threshold needs the corpus
    * count — a 1-row broadcast cross join (the intended nested loop;
    * whitelisted in PlanSpec like the kNN broadcasts).
    */
  def docBoilerplate(spark: SparkSession, sfDir: String): DataFrame = {
    val perDoc = docGramHashes(spark, sfDir, 3)
    val exploded = perDoc.select(col("doc_id"), explode(col("ghs")).as("gh"))
    val total = Tables.documents(spark, sfDir).agg(count(lit(1)).as("n_docs"))
    val bp = exploded.groupBy(col("gh")).agg(count(lit(1)).as("df"))
      .crossJoin(broadcast(total))
      .filter(col("df") >= ceil(col("n_docs") * 0.01))
      .select(col("gh"))
    val nBp = exploded.join(broadcast(bp), Seq("gh"))
      .groupBy(col("doc_id")).agg(count(lit(1)).as("bp"))
    perDoc.select(col("doc_id"), size(col("ghs")).as("n_grams"))
      .join(nBp, Seq("doc_id"), "left")
      .select(col("doc_id"), col("n_grams"),
        coalesce(col("bp"), lit(0L)).as("n_bp"),
        expr("IF(n_grams = 0, 0.0, round(coalesce(bp, 0L) / n_grams, 4))")
          .as("bp_ratio"))
  }

  val docBoilerplateSql: String =
    """WITH t AS (SELECT doc_id,
      |    string_split(trim(regexp_replace(lower(text), '[^a-z0-9]+', ' ', 'g')), ' ') AS toks
      |  FROM documents),
      |g AS (SELECT doc_id, list_distinct(list_transform(range(1, greatest(len(toks) - 2, 0) + 1),
      |    i -> ('0x' || substr(md5(toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2]), 1, 8))::BIGINT)) AS ghs
      |  FROM t),
      |e AS (SELECT doc_id, unnest(ghs) AS gh FROM g),
      |bp AS (SELECT gh FROM e GROUP BY gh
      |       HAVING count(*) >= ceil(0.01 * (SELECT count(*) FROM documents))),
      |nb AS (SELECT doc_id, count(*) AS n_bp FROM e
      |       WHERE gh IN (SELECT gh FROM bp) GROUP BY doc_id)
      |SELECT g.doc_id, len(g.ghs) AS n_grams, coalesce(nb.n_bp, 0) AS n_bp,
      |  CASE WHEN len(g.ghs) = 0 THEN 0.0
      |       ELSE round(coalesce(nb.n_bp, 0) / len(g.ghs), 4) END AS bp_ratio
      |FROM g LEFT JOIN nb USING (doc_id)""".stripMargin

  /** Benchmark decontamination: training docs sharing any token 5-gram
    * with a held-out eval set are contaminated (the published-model
    * recipe — n-gram overlap against the test set — with w parametric;
    * the query uses the doc_id % 29 slice as the stand-in benchmark).
    * Emits the drop-list with overlap counts, like [[dedupCorpus]].
    *
    * Scale shape: eval-set grams are benchmark-sized (MBs), so they
    * broadcast and the 100 TB training side never shuffles — the only
    * exchange is the final per-doc count over matched grams (rare by
    * construction).
    */
  def decontaminate(train: DataFrame, evalDocs: DataFrame): DataFrame = {
    val evalGrams = evalDocs.select(explode(col("ghs")).as("gh")).distinct()
    train.select(col("doc_id"), explode(col("ghs")).as("gh"))
      .join(broadcast(evalGrams), Seq("gh"))
      .groupBy(col("doc_id")).agg(count(lit(1)).as("n_overlap"))
  }

  def docDecontam(spark: SparkSession, sfDir: String): DataFrame = {
    val g = docGramHashes(spark, sfDir, 5)
    decontaminate(
      g.filter(col("doc_id") % 29 =!= 0),
      g.filter(col("doc_id") % 29 === 0))
  }

  /** Bloom-accelerated decontamination — identical result set to
    * [[decontaminate]] (bloom false positives are discarded by the exact
    * confirm join), so it shares the same oracle.
    *
    * Scale rationale: the plain version broadcasts the full eval-gram
    * set into a hash join probed by EVERY training gram. When the eval
    * suite outgrows the broadcast budget (many benchmarks × many grams),
    * that join degrades to a corpus-wide shuffle. Here a bloom filter
    * over the eval grams — a few MB at any benchmark size, built with
    * Spark's own sketch aggregate — prunes the training gram stream
    * map-side inside whole-stage codegen (`BloomFilterMightContain`, the
    * expression InjectRuntimeFilter uses), and only the ~fpp survivors
    * reach the exact join. The two driver-side jobs (count + bloom
    * build) run on the EVAL side, which is benchmark-sized by
    * definition — never on the 100 TB training corpus.
    */
  def decontaminateBloom(train: DataFrame, evalDocs: DataFrame,
                         fpp: Double = 0.01): DataFrame = {
    graft.functions.Kernels.register(train.sparkSession)
    val evalGrams = evalDocs.select(explode(col("ghs")).as("gh")).distinct()
      .transform(CacheScope.barrier) // consumed 3x: count, bloom, confirm
    val n = math.max(evalGrams.count(), 1L)
    val bloomHex = BloomFns.toHex(evalGrams.stat.bloomFilter("gh", n, fpp))
    train.select(col("doc_id"), explode(col("ghs")).as("gh"))
      .filter(expr(s"bloom_might_contain(x'$bloomHex', gh)"))
      .join(broadcast(evalGrams), Seq("gh"))
      .groupBy(col("doc_id")).agg(count(lit(1)).as("n_overlap"))
  }

  def docDecontamBloom(spark: SparkSession, sfDir: String): DataFrame = {
    val g = docGramHashes(spark, sfDir, 5)
    decontaminateBloom(
      g.filter(col("doc_id") % 29 =!= 0),
      g.filter(col("doc_id") % 29 === 0))
  }

  /** Fractional n-gram overlap decontamination — the graded variant of
    * [[decontaminate]]: instead of a drop-list of docs with ANY shared
    * gram, score EVERY training doc with the fraction of its distinct
    * grams that appear in the eval set, and flag `contaminated` at a
    * threshold on the rounded fraction. This is the published-model
    * recipe where a document is discarded only when a substantial
    * portion of it overlaps a benchmark (long docs that merely quote one
    * eval sentence survive; short docs that ARE an eval item do not) —
    * a different admission decision than the any-hit rule.
    *
    * Scale shape: same as [[decontaminate]] — eval grams broadcast, the
    * training gram stream is pruned map-side, and the only exchanges are
    * the per-doc hit count (rare rows by construction) and the slim
    * (doc_id, n_grams) totals that AQE resolves as a broadcast join
    * against it. Document text never shuffles.
    */
  def decontaminateOverlap(train: DataFrame, evalDocs: DataFrame,
                           threshold: Double = 0.05): DataFrame = {
    val evalGrams = evalDocs.select(explode(col("ghs")).as("gh")).distinct()
    val tot = train.select(col("doc_id"), size(col("ghs")).as("n_grams"))
    val hits = train.select(col("doc_id"), explode(col("ghs")).as("gh"))
      .join(broadcast(evalGrams), Seq("gh"))
      .groupBy(col("doc_id")).agg(count(lit(1)).as("n_hit"))
    tot.join(hits, Seq("doc_id"), "left")
      .select(col("doc_id"), col("n_grams"),
        coalesce(col("n_hit"), lit(0L)).as("n_hit"),
        when(col("n_grams") === 0, lit(0.0))
          .otherwise(round(coalesce(col("n_hit"), lit(0L)) / col("n_grams"), 4))
          .as("overlap"))
      .withColumn("contaminated", col("overlap") >= threshold)
  }

  def docDecontamOverlap(spark: SparkSession, sfDir: String): DataFrame = {
    val g = docGramHashes(spark, sfDir, 5)
    decontaminateOverlap(
      g.filter(col("doc_id") % 29 =!= 0),
      g.filter(col("doc_id") % 29 === 0))
  }

  /** Line-level (chunk-level) dedup, the CCNet/C4 paragraph pass: hash
    * each fixed-width word chunk, keep only the corpus-wide FIRST
    * occurrence of each distinct chunk (min (doc_id, position)), and
    * rebuild every document from its surviving chunks. This is the
    * within-document/cross-document sub-document dedup that whole-doc
    * sketches (MinHash/SimHash) cannot express — reference semantics from
    * the C4/CCNet cleaning recipes, adapted to newline-less docs via
    * [[graft.functions.TextFns.chunksSql]].
    *
    * Scale shape: the first-occurrence decision is a window over the
    * chunk hash computed on slim (doc_id, ci, ch) triples — 20 bytes/row
    * leave the scan stage, never chunk text (PlanSpec-asserted). The
    * keep-set collapses to one (doc_id, sorted-ci-array) row per doc
    * before rejoining the corpus, so document text moves through exactly
    * one exchange (co-partitioning/bucketing by doc_id would eliminate
    * even that). collect_list is bounded by chunks-per-doc = words/c,
    * not corpus size.
    */
  def docLineDedup(spark: SparkSession, sfDir: String, chunkWords: Int = 8): DataFrame =
    lineDedup(Tables.documents(spark, sfDir), chunkWords)

  /** Frame-taking core of [[docLineDedup]] — input needs (doc_id, text). */
  def lineDedup(documents: DataFrame, chunkWords: Int): DataFrame = {
    val docs = documents
      .withColumn("t", tokens(col("text")))
      .withColumn("chunks", expr(chunksSql("t", chunkWords)))
      .select(col("doc_id"), col("chunks"))
      .transform(CacheScope.barrier) // consumed twice: slim pass + rebuild
    val occ = docs
      .select(col("doc_id"), posexplode(col("chunks")).as(Seq("ci", "chunk")))
      .select(col("doc_id"), col("ci"), expr(h32Sql("chunk")).as("ch"))
    val firstOcc = min(struct(col("doc_id"), col("ci")))
      .over(Window.partitionBy(col("ch")))
    val kept = occ
      .withColumn("first", firstOcc)
      .filter(col("first.doc_id") === col("doc_id") && col("first.ci") === col("ci"))
      .groupBy(col("doc_id"))
      .agg(sort_array(collect_list(col("ci"))).as("kept"))
    docs.join(kept, Seq("doc_id"), "left")
      .select(col("doc_id"),
        size(col("chunks")).cast("long").as("n_chunks"),
        coalesce(size(col("kept")), lit(0)).cast("long").as("n_kept"),
        coalesce(
          expr("array_join(transform(kept, i -> element_at(chunks, i + 1)), ' ')"),
          lit("")).as("text_clean"))
  }

  val docLineDedupSql: String =
    """WITH t AS (SELECT doc_id,
      |    string_split(trim(regexp_replace(lower(text), '[^a-z0-9]+', ' ', 'g')), ' ') AS toks
      |  FROM documents),
      |c0 AS (SELECT doc_id, toks,
      |    unnest(range(0, CAST(ceil(len(toks) / 8.0) AS BIGINT))) AS ci FROM t),
      |c AS (SELECT doc_id, ci,
      |    array_to_string(toks[ci*8+1 : ci*8+8], ' ') AS chunk FROM c0),
      |k AS (SELECT doc_id, ci FROM c
      |  QUALIFY row_number() OVER (PARTITION BY chunk ORDER BY doc_id, ci) = 1),
      |r AS (SELECT c.doc_id, count(*) AS n_kept,
      |    string_agg(c.chunk, ' ' ORDER BY c.ci) AS text_clean
      |  FROM c JOIN k USING (doc_id, ci) GROUP BY c.doc_id),
      |n AS (SELECT doc_id, CAST(ceil(len(toks) / 8.0) AS BIGINT) AS n_chunks FROM t)
      |SELECT n.doc_id, n.n_chunks, coalesce(r.n_kept, 0) AS n_kept,
      |  coalesce(r.text_clean, '') AS text_clean
      |FROM n LEFT JOIN r USING (doc_id)""".stripMargin

  /** Exact-substring (span) dedup — the ExactSubstr operator of the
    * training-data dedup literature ("Deduplicating Training Data Makes
    * Language Models Better"): any w-token window (w=16, stride 1) that
    * occurs MORE THAN ONCE in the corpus is a duplicate span, and every
    * occurrence except the canonical first (min doc_id, then min pos)
    * is emitted for removal. Line dedup (above) catches repeated
    * paragraph-aligned chunks; this catches repeats at ANY offset — the
    * quoted boilerplate, licence headers, and template fragments that
    * cross chunk boundaries.
    *
    * 100 TB shape: the window stream is ~|corpus tokens| slim rows of
    * (doc_id, pos, span_h) — 20 bytes each, ONE exchange keyed on the
    * span hash; each window partition is the occurrence list of a
    * single span (tiny), so the rank-and-drop is embarrassingly
    * parallel. The literature's suffix-array formulation finds maximal
    * repeats exactly but needs a global sorted structure; fixed-w
    * windows are the standard relational approximation (a repeat of
    * length L ≥ w is caught by all L−w+1 of its windows — the caller
    * coalesces adjacent positions when cutting).
    */
  def docSpanDedup(spark: SparkSession, sfDir: String, w: Int = 16): DataFrame =
    spanRemovals(Tables.documents(spark, sfDir), w)

  /** Core of [[docSpanDedup]] over any (doc_id, text) frame — shared with
    * the streaming twin's batch-equivalence spec.
    */
  private[graft] def spanRemovals(docs: DataFrame, w: Int): DataFrame = {
    val win = spanWindows(docs, w)
    win
      .withColumn("rn", row_number().over(
        Window.partitionBy(col("span_h")).orderBy(col("doc_id"), col("pos"))))
      .filter(col("rn") > 1)
      .select(col("doc_id"), col("pos"), col("span_h"))
  }

  /** The slim (doc_id, pos, span_h) window stream both span-dedup twins
    * rank over.
    */
  private[graft] def spanWindows(docs: DataFrame, w: Int): DataFrame = {
    // reached from SpanDedupStream without Tables.table (see withSignature)
    graft.functions.Kernels.register(docs.sparkSession)
    // r13: the w-shingle digest chain fuses into the docs scan — floor
    // its parallelism (Tables.parallelized scaladoc; measured −0.57 s on
    // doc_span_clean / −0.30 s on doc_span_dedup at sf0.1)
    Tables.parallelized(docs)
      .withColumn("t", tokens(col("text")))
      .select(col("doc_id"), posexplode(expr(shinglesWSql("t", w))).as(Seq("pos", "sh")))
      .select(col("doc_id"), col("pos").cast("long").as("pos"),
        expr(h32Sql("sh")).as("span_h"))
  }

  val docSpanDedupSql: String =
    """WITH t AS (SELECT doc_id,
      |    string_split(trim(regexp_replace(lower(text), '[^a-z0-9]+', ' ', 'g')), ' ') AS toks
      |  FROM documents),
      |w0 AS (SELECT doc_id, toks,
      |    unnest(range(1, greatest(len(toks) - 15, 0) + 1)) AS i FROM t),
      |w AS (SELECT doc_id, i - 1 AS pos,
      |    ('0x' || substr(md5(array_to_string(toks[i : i + 15], ' ')), 1, 8))::BIGINT AS span_h
      |  FROM w0)
      |SELECT doc_id, pos, span_h FROM w
      |QUALIFY row_number() OVER (PARTITION BY span_h ORDER BY doc_id, pos) > 1""".stripMargin

  /** Apply step of [[docSpanDedup]]: cut every token covered by a
    * removed span (the union of [pos, pos+w−1] over a doc's removal
    * list — for a repeat of length L ≥ w, exactly the L repeated
    * tokens) and rebuild the text. The removal list is aggregated to
    * one small array per affected doc and joined back; coverage is then
    * a NARROW indexed-lambda filter over the token array — per-doc
    * cost O(n_tokens · |spans|) with no further shuffle, the right
    * trade when removal lists are short (they are: only duplicated
    * docs carry any).
    */
  def docSpanClean(spark: SparkSession, sfDir: String, w: Int = 16): DataFrame = {
    val rem = docSpanDedup(spark, sfDir, w)
      .groupBy(col("doc_id")).agg(collect_set(col("pos")).as("ps"))
    Tables.documents(spark, sfDir)
      .withColumn("t", tokens(col("text")))
      .join(rem, Seq("doc_id"), "left")
      .withColumn("ps", coalesce(col("ps"), expr("CAST(array() AS ARRAY<BIGINT>)")))
      .select(col("doc_id"),
        size(col("t")).cast("long").as("n_tokens"),
        col("t"), col("ps"))
      .withColumn("keep",
        expr(s"filter(t, (tok, i) -> NOT exists(ps, p -> i >= p AND i <= p + ${w - 1}))"))
      .select(col("doc_id"), col("n_tokens"),
        (col("n_tokens") - size(col("keep"))).cast("long").as("n_removed"),
        array_join(col("keep"), " ").as("text_clean"))
  }

  val docSpanCleanSql: String =
    """WITH t AS (SELECT doc_id,
      |    string_split(trim(regexp_replace(lower(text), '[^a-z0-9]+', ' ', 'g')), ' ') AS toks
      |  FROM documents),
      |w0 AS (SELECT doc_id, toks,
      |    unnest(range(1, greatest(len(toks) - 15, 0) + 1)) AS i FROM t),
      |w AS (SELECT doc_id, i - 1 AS pos,
      |    ('0x' || substr(md5(array_to_string(toks[i : i + 15], ' ')), 1, 8))::BIGINT AS span_h
      |  FROM w0),
      |rem AS (SELECT doc_id, pos FROM w
      |  QUALIFY row_number() OVER (PARTITION BY span_h ORDER BY doc_id, pos) > 1),
      |cov AS (SELECT DISTINCT r.doc_id, r.pos + u.d AS i
      |  FROM rem r CROSS JOIN (SELECT unnest(range(0, 16)) AS d) u),
      |tp AS (SELECT doc_id, toks, unnest(range(0, len(toks))) AS i FROM t),
      |kept AS (SELECT tp.doc_id, tp.i, tp.toks[tp.i + 1] AS tok
      |  FROM tp LEFT JOIN cov ON tp.doc_id = cov.doc_id AND tp.i = cov.i
      |  WHERE cov.i IS NULL),
      |agg AS (SELECT doc_id, count(*) AS n_kept,
      |    string_agg(tok, ' ' ORDER BY i) AS text_clean
      |  FROM kept GROUP BY doc_id)
      |SELECT t.doc_id, len(t.toks)::BIGINT AS n_tokens,
      |  (len(t.toks) - coalesce(a.n_kept, 0))::BIGINT AS n_removed,
      |  coalesce(a.text_clean, '') AS text_clean
      |FROM t LEFT JOIN agg a USING (doc_id)""".stripMargin

  /** Incremental dedup — the nightly-batch pattern: admit an incoming
    * document increment only if it does NOT near-dup the existing corpus
    * (MinHash band collision candidates, exact-Jaccard ≥ 0.5 confirm).
    * One row per increment doc: candidate count, the best corpus match
    * (highest Jaccard, lowest id on ties), and the admit decision.
    * Stand-in split: increment = doc_id % 13 == 0, corpus = the rest.
    *
    * Scale shape: a production run reads the corpus band table as a
    * stored artifact (it's the persisted signature base here) — the
    * 100 TB corpus is touched only through its 20-byte band rows, and
    * only corpus docs that actually collide with an increment band fetch
    * their shingle sets for the confirm join (the cand-side join prunes
    * first). The increment is nightly-sized, so its side of every join
    * broadcasts under AQE; nothing in the plan is quadratic in corpus
    * size.
    */
  def dedupIncremental(spark: SparkSession, sfDir: String): DataFrame = {
    val docs = Tables.documents(spark, sfDir)
    val sig = withSignature(docs)
    val isInc = col("doc_id") % 13 === 0
    val banded = bandExplode(sig)
    val cand = banded.filter(isInc).select(col("doc_id").as("n_id"), col("band"), col("bh"))
      .join(banded.filter(!isInc).select(col("doc_id").as("c_id"), col("band"), col("bh")),
        Seq("band", "bh"))
      .select(col("n_id"), col("c_id")).distinct()
    // shset sorted for the merge-pass confirm (see minhashLshPairsOf, r13)
    val shs = sig.select(col("doc_id"),
      sort_array(array_distinct(col("sh"))).as("shset"))
    val matches = cand
      .join(shs.select(col("doc_id").as("n_id"), col("shset").as("n_sh")), Seq("n_id"))
      .join(shs.select(col("doc_id").as("c_id"), col("shset").as("c_sh")), Seq("c_id"))
      .withColumn("ic", expr("intersect_count_sorted_str(n_sh, c_sh)").cast("double"))
      .withColumn("jacc",
        round(col("ic") /
          (size(col("n_sh")) + size(col("c_sh")) - col("ic")), 4))
      .filter(col("jacc") >= 0.5)
      .groupBy(col("n_id"))
      .agg(count(lit(1)).as("n_dups"),
        min(struct((-col("jacc")).as("nj"), col("c_id"))).as("best"))
      .select(col("n_id").as("doc_id"), col("n_dups"),
        col("best.c_id").as("best_match"), (-col("best.nj")).as("best_jacc"))
    docs.filter(isInc).select(col("doc_id"))
      .join(matches, Seq("doc_id"), "left")
      .select(col("doc_id"),
        coalesce(col("n_dups"), lit(0L)).as("n_dups"),
        coalesce(col("best_match"), lit(-1L)).as("best_match"),
        coalesce(col("best_jacc"), lit(0.0)).as("best_jacc"),
        col("n_dups").isNull.as("admitted"))
  }

  val dedupIncrementalSql: String =
    shCte +
      """, bands AS (
        |  SELECT doc_id, b.band,
        |    ('0x' || substr(md5(b.band || '|' ||
        |       CASE b.band WHEN 0 THEN m0 WHEN 1 THEN m2 WHEN 2 THEN m4 ELSE m6 END || ',' ||
        |       CASE b.band WHEN 0 THEN m1 WHEN 1 THEN m3 WHEN 2 THEN m5 ELSE m7 END), 1, 8))::BIGINT AS bh
        |  FROM sig, (SELECT unnest(range(0, 4)) AS band) b),
        |shs AS (SELECT doc_id, list_distinct(sh) AS shset FROM sh),
        |cand AS (
        |  SELECT DISTINCT a.doc_id AS n_id, b.doc_id AS c_id
        |  FROM bands a JOIN bands b ON a.band = b.band AND a.bh = b.bh
        |  WHERE a.doc_id % 13 = 0 AND b.doc_id % 13 != 0),
        |m0 AS (
        |  SELECT n_id, c_id,
        |    round(len(list_intersect(x.shset, y.shset))::DOUBLE /
        |      (len(x.shset) + len(y.shset) - len(list_intersect(x.shset, y.shset))), 4) AS jacc
        |  FROM cand JOIN shs x ON cand.n_id = x.doc_id
        |            JOIN shs y ON cand.c_id = y.doc_id),
        |mb AS (
        |  SELECT n_id, c_id, jacc,
        |    count(*) OVER (PARTITION BY n_id) AS n_dups,
        |    row_number() OVER (PARTITION BY n_id ORDER BY jacc DESC, c_id ASC) AS rn
        |  FROM m0 WHERE jacc >= 0.5),
        |m AS (
        |  SELECT n_id AS doc_id, n_dups, c_id AS best_match, jacc AS best_jacc
        |  FROM mb WHERE rn = 1)
        |SELECT d.doc_id,
        |  coalesce(m.n_dups, 0) AS n_dups,
        |  coalesce(m.best_match, -1) AS best_match,
        |  coalesce(m.best_jacc, 0.0) AS best_jacc,
        |  m.n_dups IS NULL AS admitted
        |FROM (SELECT doc_id FROM documents WHERE doc_id % 13 = 0) d
        |LEFT JOIN m USING (doc_id)""".stripMargin

  val docDecontamSql: String =
    """WITH t AS (SELECT doc_id,
      |    string_split(trim(regexp_replace(lower(text), '[^a-z0-9]+', ' ', 'g')), ' ') AS toks
      |  FROM documents),
      |g AS (SELECT doc_id, list_distinct(list_transform(range(1, greatest(len(toks) - 4, 0) + 1),
      |    i -> ('0x' || substr(md5(toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2] || ' '
      |          || toks[i+3] || ' ' || toks[i+4]), 1, 8))::BIGINT)) AS ghs
      |  FROM t),
      |e AS (SELECT doc_id, unnest(ghs) AS gh FROM g),
      |ev AS (SELECT DISTINCT gh FROM e WHERE doc_id % 29 = 0)
      |SELECT doc_id, count(*) AS n_overlap FROM e
      |WHERE doc_id % 29 != 0 AND gh IN (SELECT gh FROM ev)
      |GROUP BY doc_id""".stripMargin

  val docDecontamOverlapSql: String =
    """WITH t AS (SELECT doc_id,
      |    string_split(trim(regexp_replace(lower(text), '[^a-z0-9]+', ' ', 'g')), ' ') AS toks
      |  FROM documents),
      |g AS (SELECT doc_id, list_distinct(list_transform(range(1, greatest(len(toks) - 4, 0) + 1),
      |    i -> ('0x' || substr(md5(toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2] || ' '
      |          || toks[i+3] || ' ' || toks[i+4]), 1, 8))::BIGINT)) AS ghs
      |  FROM t),
      |e AS (SELECT doc_id, unnest(ghs) AS gh FROM g),
      |ev AS (SELECT DISTINCT gh FROM e WHERE doc_id % 29 = 0),
      |h AS (SELECT doc_id, count(*) AS n_hit FROM e
      |      WHERE doc_id % 29 != 0 AND gh IN (SELECT gh FROM ev) GROUP BY doc_id)
      |SELECT g.doc_id, len(g.ghs) AS n_grams, coalesce(h.n_hit, 0) AS n_hit,
      |  CASE WHEN len(g.ghs) = 0 THEN 0.0
      |       ELSE round(coalesce(h.n_hit, 0) / len(g.ghs), 4) END AS overlap,
      |  (CASE WHEN len(g.ghs) = 0 THEN 0.0
      |        ELSE round(coalesce(h.n_hit, 0) / len(g.ghs), 4) END >= 0.05) AS contaminated
      |FROM g LEFT JOIN h USING (doc_id)
      |WHERE g.doc_id % 29 != 0""".stripMargin

  /** Fuzzy (edit-distance ≤ 1) self-join via deletion neighborhoods —
    * the standard short-string near-match join (entity keys, titles,
    * usernames) where shingle sketches are useless because the strings
    * are shorter than a shingle window.
    *
    * Two strings are within edit distance 1 iff they share a key in
    * {s} ∪ { s minus one character }: an equal pair shares s itself; a
    * substitution at position i shares the i-deleted variant; an
    * insert/delete pair shares the shorter string (it IS a deletion
    * variant of the longer). So candidate generation is L+1 keys per
    * string — LINEAR, vs the quadratic all-pairs comparison. Variant
    * keys are hashed to 64-bit and the originals ride along (short by
    * this operator's domain — entity keys, not documents), so the
    * `levenshtein` confirm that removes same-key false positives (two
    * different deletions colliding) runs directly on the joined rows:
    * one exchange of the keys table, one candidate dedup, zero joins
    * back. The barrier keeps the L-fold variant expansion from being
    * recomputed for each join side. The confirm is the native
    * `ed_within_1` two-pointer kernel — the general `levenshtein` DP
    * costs ~7 µs/candidate and dominated the whole operator (measured
    * 7.7 s vs 0.9 s for the confirm pass at sf0.1).
    */
  def fuzzyPairs(df: DataFrame, idCol: String, strCol: String): DataFrame = {
    graft.functions.Kernels.register(df.sparkSession)
    val keys = df.select(col(idCol).as("id"), col(strCol).as("s"))
      .select(col("id"), col("s"),
        explode(array_distinct(concat(
          array(xxhash64(col("s"))),
          expr("""transform(sequence(1, greatest(length(s), 1)),
                 |  i -> xxhash64(concat(substring(s, 1, i - 1), substring(s, i + 1))))"""
            .stripMargin)))).as("k"))
      .transform(CacheScope.barrier)
    keys.as("a").join(keys.as("b"),
        col("a.k") === col("b.k") && col("a.id") < col("b.id"))
      .filter(expr("ed_within_1(a.s, b.s)"))
      .select(col("a.id").as("id_a"), col("b.id").as("id_b"))
      .distinct()
  }

  /** Edit-distance-1 name pairs over `customer` (the id-bearing short-string
    * table). The oracle is the quadratic length-banded form — viable at
    * oracle scale only, which is exactly the point of the linear
    * neighborhood generation.
    */
  def fuzzyNamePairs(spark: SparkSession, sfDir: String): DataFrame =
    fuzzyPairs(Tables.customer(spark, sfDir), "c_custkey", "c_name")

  val fuzzyNamePairsSql: String =
    """SELECT a.c_custkey AS id_a, b.c_custkey AS id_b
      |FROM customer a JOIN customer b
      |  ON a.c_custkey < b.c_custkey
      | AND abs(length(a.c_name) - length(b.c_name)) <= 1
      | AND levenshtein(a.c_name, b.c_name) <= 1""".stripMargin

  /** Dedup-threshold audit panel — the histogram every dedup deployment
    * reads before fixing its Jaccard cutoff: near-dup pair counts and
    * affected-document counts per 0.05 similarity band over the
    * MinHash-LSH candidate pairs. Moving the threshold one band changes
    * exactly these rows' worth of drops; without this view the cutoff is
    * folklore. Slim by construction: input is the already-banded pair
    * list (≪ corpus), output ≤ 20 rows. The band's mean similarity is an
    * exact integer ratio (jacc is on the 1e-4 grid, so the sum is a
    * fold-order-free BIGINT and the one division is shared IEEE).
    */
  def dedupThresholdPanel(spark: SparkSession, sfDir: String): DataFrame = {
    val pairs = minhashLshPairs(spark, sfDir)
      .withColumn("band_lo", expr("CAST(floor(jacc * 20) AS BIGINT)"))
      .transform(CacheScope.barrier) // pair stats + doc stats share it
    val byPairs = pairs.groupBy(col("band_lo")).agg(
      count(lit(1)).as("n_pairs"),
      sum(expr("CAST(round(jacc * 10000) AS BIGINT)")).as("jq"))
    val byDocs = pairs
      .select(col("band_lo"), explode(array(col("a_id"), col("b_id"))).as("d"))
      .groupBy(col("band_lo")).agg(countDistinct(col("d")).as("n_docs"))
    byPairs.join(byDocs, Seq("band_lo"))
      .select(col("band_lo"), col("n_pairs"), col("n_docs"),
        expr("CAST(jq AS DOUBLE) / (CAST(n_pairs AS DOUBLE) * 10000.0)")
          .as("mean_jacc"))
  }

  val dedupThresholdPanelSql: String =
    s"""WITH pairs AS ($minhashLshPairsSql),
       |b AS (SELECT *, CAST(floor(jacc * 20) AS BIGINT) AS band_lo FROM pairs),
       |bp AS (
       |  SELECT band_lo, count(*) AS n_pairs,
       |    CAST(sum(CAST(round(jacc * 10000) AS BIGINT)) AS BIGINT) AS jq
       |  FROM b GROUP BY band_lo),
       |bd AS (
       |  SELECT band_lo, count(DISTINCT d) AS n_docs
       |  FROM (SELECT band_lo, unnest([a_id, b_id]) AS d FROM b)
       |  GROUP BY band_lo)
       |SELECT band_lo, n_pairs, n_docs,
       |  CAST(jq AS DOUBLE) / (CAST(n_pairs AS DOUBLE) * 10000.0) AS mean_jacc
       |FROM bp JOIN bd USING (band_lo)""".stripMargin
}
