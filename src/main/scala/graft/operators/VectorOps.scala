package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import graft.{CacheScope, Tables}
import graft.functions.TextFns.h32Sql

/** Similarity search over the `embeddings` table (`Array[Float]` column).
  *
  * Two tiers, mirroring what a 100 TB pipeline needs:
  *
  *   - `embKnn`: brute-force cosine top-k. The query side is tiny and
  *     broadcast; the corpus side streams — per-partition partial top-k via
  *     window rank. Exact baseline; O(|Q|·|corpus|).
  *   - `embNeardupLsh`: random-hyperplane LSH — 6 sign bits → bucket id →
  *     bucket-equijoin → exact cosine verification of candidates only.
  *     The join shuffles on bucket id, so work scales with bucket
  *     occupancy, not |corpus|²; more planes / multi-probe tighten recall
  *     at scale.
  *
  * All arithmetic is double-precision sequential fold (`aggregate`), which
  * the DuckDB oracle reproduces bit-for-bit (`list_sum` over
  * `list_transform`); hyperplanes are derived from the shared md5 hash so
  * both engines generate identical projections. No UDFs — everything is
  * Catalyst higher-order functions.
  */
object VectorOps {

  private val dims = 64

  private def withVec(df: DataFrame): DataFrame =
    df.withColumn("v", expr("transform(embedding, x -> CAST(x AS DOUBLE))"))

  /** Brute-force cosine top-5 neighbors for query vectors (vec_id < 10). */
  def embKnn(spark: SparkSession, sfDir: String): DataFrame = {
    val e = withVec(Tables.embeddings(spark, sfDir))
    val q = e.filter(col("vec_id") < 10)
      .select(col("vec_id").as("q_id"), col("v").as("qv"))
    val c = e.select(col("vec_id").as("n_id"), col("v").as("cv"))
    val w = Window.partitionBy(col("q_id"))
      .orderBy(col("cos").desc, col("n_id").asc)
    c.join(broadcast(q), col("q_id") =!= col("n_id"))
      .withColumn("cos", expr("cosine_sim(qv, cv)"))
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= 5)
      .select(col("q_id"), col("rank"), col("n_id"), round(col("cos"), 6).as("cos"))
  }

  val embKnnSql: String =
    s"""WITH s AS (
       |  SELECT vec_id, list_transform(embedding, x -> x::DOUBLE) AS v
       |  FROM embeddings),
       |n AS (
       |  SELECT vec_id, v,
       |    sqrt(list_sum(list_transform(range(1, ${dims + 1}), i -> v[i] * v[i]))) AS nrm
       |  FROM s),
       |scored AS (
       |  SELECT q.vec_id AS q_id, c.vec_id AS n_id,
       |    list_sum(list_transform(range(1, ${dims + 1}), i -> q.v[i] * c.v[i]))
       |      / (q.nrm * c.nrm) AS cos
       |  FROM n q JOIN n c ON q.vec_id < 10 AND q.vec_id <> c.vec_id)
       |SELECT q_id, rank, n_id, round(cos, 6) AS cos FROM (
       |  SELECT q_id, n_id, cos,
       |    row_number() OVER (PARTITION BY q_id ORDER BY cos DESC, n_id ASC) AS rank
       |  FROM scored)
       |WHERE rank <= 5""".stripMargin

  /** Random-hyperplane LSH bucket id: `planes` sign bits of md5-derived
    * projections (component p,i = (h32('p{p}_{i}') % 2001 - 1000)/1000).
    * Plane count is the scale knob: buckets = 2^planes must grow with the
    * corpus so occupancy (≈ N/2^planes) stays bounded — 6 suits the test
    * corpus; a 100 TB corpus wants 16–24 (plus multi-probe for recall).
    * Buckets are prefix-compatible: the p-plane bucket is the low p bits
    * of the (p+k)-plane bucket, so recall is monotone in plane count
    * (asserted in AccuracySpec).
    */
  private def bucketSql(planes: Int): String =
    s"""aggregate(sequence(0, ${planes - 1}), CAST(0 AS BIGINT), (acc, p) -> acc +
       |  IF(aggregate(sequence(0, ${dims - 1}), CAST(0 AS DOUBLE), (a, i) ->
       |       a + element_at(v, i + 1) *
       |           ((${h32Sql("concat('p', p, '_', i)")} % 2001 - 1000) / 1000.0)) > 0,
       |     shiftleft(CAST(1 AS BIGINT), p), CAST(0 AS BIGINT)))""".stripMargin

  /** LSH-bucketed near-duplicate pairs, exact-cosine-verified (>= 0.3). */
  def embNeardupLsh(spark: SparkSession, sfDir: String): DataFrame =
    embNeardupLsh(spark, sfDir, planes = 6)

  def embNeardupLsh(spark: SparkSession, sfDir: String, planes: Int): DataFrame = {
    val e = withVec(Tables.embeddings(spark, sfDir))
      .withColumn("bucket",
        if (planes == 0) lit(0L) else expr(bucketSql(planes)))
      .transform(CacheScope.barrier) // 384 digests/row computed once, not per join side
    val a = e.select(col("vec_id").as("a_id"), col("v").as("av"), col("bucket"))
    val b = e.select(col("vec_id").as("b_id"), col("v").as("bv"), col("bucket"))
    a.join(b, Seq("bucket"))
      .filter(col("a_id") < col("b_id"))
      .withColumn("cos", expr("cosine_sim(av, bv)"))
      .filter(col("cos") >= 0.3)
      .select(col("a_id"), col("b_id"), round(col("cos"), 6).as("cos"))
      .distinct()
  }

  val embNeardupLshSql: String =
    s"""WITH n AS (
       |  SELECT vec_id, v,
       |    sqrt(list_sum(list_transform(range(1, ${dims + 1}), i -> v[i] * v[i]))) AS nrm,
       |    list_sum(list_transform(range(0, 6), p ->
       |      CASE WHEN list_sum(list_transform(range(0, $dims), i ->
       |             v[i + 1] * ((('0x' || substr(md5('p' || p || '_' || i), 1, 8))::BIGINT
       |                          % 2001 - 1000) / 1000.0))) > 0
       |           THEN (1::BIGINT << p) ELSE 0::BIGINT END)) AS bucket
       |  FROM (SELECT vec_id, list_transform(embedding, x -> x::DOUBLE) AS v
       |        FROM embeddings))
       |SELECT DISTINCT a.vec_id AS a_id, b.vec_id AS b_id,
       |  round(list_sum(list_transform(range(1, ${dims + 1}), i -> a.v[i] * b.v[i]))
       |    / (a.nrm * b.nrm), 6) AS cos
       |FROM n a JOIN n b ON a.bucket = b.bucket AND a.vec_id < b.vec_id
       |WHERE list_sum(list_transform(range(1, ${dims + 1}), i -> a.v[i] * b.v[i]))
       |    / (a.nrm * b.nrm) >= 0.3""".stripMargin

  /** SemDeDup-threshold audit panel — the cosine-cutoff histogram an
    * embedding-dedup deployment reads before fixing its threshold (the
    * [[graft.operators.DedupOps.dedupThresholdPanel]] pattern on the
    * vector side): near-dup pair counts and affected-vector counts per
    * 0.05 cosine band over the LSH candidate pairs. Moving the cutoff
    * one band drops exactly these rows' worth of vectors. Slim by
    * construction: input is the already-bucketed pair list (≪ corpus),
    * output ≤ 20 rows; `cos` is already on the 1e-6 round grid, so the
    * band mean's numerator is a fold-order-free BIGINT and the one
    * division is shared IEEE.
    */
  def embThresholdPanel(spark: SparkSession, sfDir: String): DataFrame = {
    val pairs = embNeardupLsh(spark, sfDir)
      .withColumn("band_lo", expr("CAST(floor(cos * 20) AS BIGINT)"))
      .transform(graft.CacheScope.barrier) // pair stats + vec stats share it
    val byPairs = pairs.groupBy(col("band_lo")).agg(
      count(lit(1)).as("n_pairs"),
      sum(expr("CAST(round(cos * 1000000) AS BIGINT)")).as("cq"))
    val byVecs = pairs
      .select(col("band_lo"), explode(array(col("a_id"), col("b_id"))).as("d"))
      .groupBy(col("band_lo")).agg(countDistinct(col("d")).as("n_vecs"))
    byPairs.join(byVecs, Seq("band_lo"))
      .select(col("band_lo"), col("n_pairs"), col("n_vecs"),
        expr("CAST(cq AS DOUBLE) / (CAST(n_pairs AS DOUBLE) * 1000000.0)")
          .as("mean_cos"))
  }

  // plain concat, no stripMargin: the embedded pair SQL carries no
  // margin pipes but future edits might add '||' continuations — the
  // corpusReleaseManifestSql lesson
  val embThresholdPanelSql: String =
    "WITH pairs AS (\n" + embNeardupLshSql + "),\n" +
      "b AS (SELECT *, CAST(floor(cos * 20) AS BIGINT) AS band_lo FROM pairs),\n" +
      "bp AS (SELECT band_lo, count(*) AS n_pairs,\n" +
      "  CAST(sum(CAST(round(cos * 1000000) AS BIGINT)) AS BIGINT) AS cq\n" +
      "  FROM b GROUP BY band_lo),\n" +
      "bd AS (SELECT band_lo, count(DISTINCT d) AS n_vecs\n" +
      "  FROM (SELECT band_lo, unnest([a_id, b_id]) AS d FROM b)\n" +
      "  GROUP BY band_lo)\n" +
      "SELECT band_lo, n_pairs, n_vecs,\n" +
      "  CAST(cq AS DOUBLE) / (CAST(n_pairs AS DOUBLE) * 1000000.0) AS mean_cos\n" +
      "FROM bp JOIN bd USING (band_lo)"

  /** Multi-probe LSH near-dup: each vector additionally probes every
    * bucket at Hamming distance 1 in sign-bit space (`planes` + 1 probes),
    * catching near-dup pairs that a single hyperplane split separated —
    * the standard recall lever that lets plane count (and thus bucket
    * occupancy) stay high without losing boundary pairs. Still a pure
    * equijoin (probe = bucket): candidate volume grows by (planes+1)×,
    * never quadratically. The oracle states the same pair set
    * declaratively: bucket Hamming distance ≤ 1.
    */
  def embNeardupMultiprobe(spark: SparkSession, sfDir: String): DataFrame =
    embNeardupMultiprobe(spark, sfDir, planes = 6)

  def embNeardupMultiprobe(spark: SparkSession, sfDir: String, planes: Int): DataFrame = {
    val e = withVec(Tables.embeddings(spark, sfDir))
      .withColumn("bucket", expr(bucketSql(planes)))
      .transform(CacheScope.barrier) // sign-bit projections computed once
    val probeArr = (Seq("bucket") ++
      (0 until planes).map(p => s"bucket ^ ${1L << p}L")).mkString("array(", ", ", ")")
    val a = e.select(col("vec_id").as("a_id"), col("v").as("av"),
      explode(expr(probeArr)).as("bucket"))
    val b = e.select(col("vec_id").as("b_id"), col("v").as("bv"), col("bucket"))
    a.join(b, Seq("bucket"))
      .filter(col("a_id") < col("b_id"))
      .withColumn("cos", expr("cosine_sim(av, bv)"))
      .filter(col("cos") >= 0.3)
      .select(col("a_id"), col("b_id"), round(col("cos"), 6).as("cos"))
      .distinct()
  }

  val embNeardupMultiprobeSql: String =
    embNeardupLshSql.replace(
      "ON a.bucket = b.bucket AND a.vec_id < b.vec_id",
      "ON bit_count(xor(a.bucket, b.bucket)) <= 1 AND a.vec_id < b.vec_id")

  /** IVF-style ANN: the corpus is partitioned into cells by nearest pivot
    * (pivots = the 16 lowest-id vectors — deterministic, no trained
    * centroids, so the oracle reproduces the structure exactly); a query
    * probes its `nprobe = 2` nearest cells and scores only those inverted
    * lists. At 100 TB: cells are the partition key (each inverted list is
    * a bounded scan), pivots broadcast, probe cost = nprobe/k of the
    * corpus vs brute force. Real deployments train pivots with k-means —
    * the query plan is identical.
    */
  def embIvfKnn(spark: SparkSession, sfDir: String): DataFrame =
    embIvfKnn(spark, sfDir, cells = 16, nprobe = 2)

  /** `cells` and `nprobe` are the scale knobs: cells ~ sqrt(corpus) keeps
    * inverted lists bounded (16 suits the test corpus; millions at
    * 100 TB), nprobe trades probe cost for recall — probing all cells
    * degenerates to exact brute force (asserted in AccuracySpec).
    */
  def embIvfKnn(spark: SparkSession, sfDir: String, cells: Int, nprobe: Int): DataFrame = {
    val e = withVec(Tables.embeddings(spark, sfDir))
      .select(col("vec_id"), col("v")).transform(CacheScope.barrier)
    val piv = e.filter(col("vec_id") < cells)
      .select(col("vec_id").as("p_id"), col("v").as("pv"))
    val wCell = Window.partitionBy(col("vec_id"))
      .orderBy(col("pcos").desc, col("p_id").asc)
    val cellAssign = e.join(broadcast(piv), lit(true))
      .withColumn("pcos", expr("cosine_sim(v, pv)"))
      .withColumn("rn", row_number().over(wCell))
      .filter(col("rn") === 1)
      .select(col("vec_id"), col("v"), col("p_id").as("cell"))
    val wProbe = Window.partitionBy(col("q_id"))
      .orderBy(col("pcos").desc, col("p_id").asc)
    val probes = e.filter(col("vec_id") < 10)
      .select(col("vec_id").as("q_id"), col("v").as("qv"))
      .join(broadcast(piv), lit(true))
      .withColumn("pcos", expr("cosine_sim(qv, pv)"))
      .withColumn("rn", row_number().over(wProbe))
      .filter(col("rn") <= nprobe)
      .select(col("q_id"), col("qv"), col("p_id").as("cell"))
    val wTop = Window.partitionBy(col("q_id"))
      .orderBy(col("cos").desc, col("vec_id").asc)
    probes.join(cellAssign, Seq("cell"))
      .filter(col("q_id") =!= col("vec_id"))
      .withColumn("cos", expr("cosine_sim(qv, v)"))
      .withColumn("rank", row_number().over(wTop))
      .filter(col("rank") <= 5)
      .select(col("q_id"), col("rank"), col("vec_id").as("n_id"),
        round(col("cos"), 6).as("cos"))
  }

  val embIvfKnnSql: String =
    s"""WITH n AS (
       |  SELECT vec_id, v,
       |    sqrt(list_sum(list_transform(range(1, ${dims + 1}), i -> v[i] * v[i]))) AS nrm
       |  FROM (SELECT vec_id, list_transform(embedding, x -> x::DOUBLE) AS v
       |        FROM embeddings)),
       |piv AS (SELECT vec_id AS p_id, v AS pv, nrm AS pn FROM n WHERE vec_id < 16),
       |cells AS (
       |  SELECT vec_id, v, nrm, p_id AS cell FROM (
       |    SELECT n.vec_id, n.v, n.nrm, piv.p_id,
       |      row_number() OVER (PARTITION BY n.vec_id ORDER BY
       |        list_sum(list_transform(range(1, ${dims + 1}), i -> n.v[i] * piv.pv[i]))
       |          / (n.nrm * piv.pn) DESC, piv.p_id ASC) AS rn
       |    FROM n, piv)
       |  WHERE rn = 1),
       |probes AS (
       |  SELECT q_id, qv, qn, p_id AS cell FROM (
       |    SELECT n.vec_id AS q_id, n.v AS qv, n.nrm AS qn, piv.p_id,
       |      row_number() OVER (PARTITION BY n.vec_id ORDER BY
       |        list_sum(list_transform(range(1, ${dims + 1}), i -> n.v[i] * piv.pv[i]))
       |          / (n.nrm * piv.pn) DESC, piv.p_id ASC) AS rn
       |    FROM n, piv WHERE n.vec_id < 10)
       |  WHERE rn <= 2)
       |SELECT q_id, rank, n_id, round(cos, 6) AS cos FROM (
       |  SELECT p.q_id, c.vec_id AS n_id,
       |    list_sum(list_transform(range(1, ${dims + 1}), i -> p.qv[i] * c.v[i]))
       |      / (p.qn * c.nrm) AS cos,
       |    row_number() OVER (PARTITION BY p.q_id ORDER BY
       |      list_sum(list_transform(range(1, ${dims + 1}), i -> p.qv[i] * c.v[i]))
       |        / (p.qn * c.nrm) DESC, c.vec_id ASC) AS rank
       |  FROM probes p JOIN cells c ON p.cell = c.cell AND p.q_id <> c.vec_id)
       |WHERE rank <= 5""".stripMargin

  /** Int8 vector quantization (symmetric abs-max, the standard embedding
    * compression before ANN indexing: 4× smaller than float32, 8× smaller
    * than float64). q_i = floor(v_i·127/max|v| + 0.5) — pure integer-exact
    * double math (multiply-then-divide, floor instead of engine-specific
    * round modes) so both engines agree bit-for-bit. Narrow per-row HOFs,
    * zero exchanges; emitted: checksum + sparsity + scale, 24 bytes/vec —
    * the quantized arrays themselves stay columnar in the executors.
    */
  def embQuantize(spark: SparkSession, sfDir: String): DataFrame =
    withVec(Tables.embeddings(spark, sfDir))
      .withColumn("mx", expr("array_max(transform(v, x -> abs(x)))"))
      .withColumn("q", expr(
        "transform(v, x -> CAST(floor(x * 127.0D / mx + 0.5D) AS BIGINT))"))
      .select(col("vec_id"),
        round(col("mx"), 6).as("scale"),
        expr("aggregate(q, 0L, (a, x) -> a + x)").as("qsum"),
        expr("size(filter(q, x -> x != 0))").as("qnnz"))

  val embQuantizeSql: String =
    """SELECT vec_id, round(mx, 6) AS scale,
      |  list_sum(list_transform(v, x -> floor(x * 127.0 / mx + 0.5)))::BIGINT AS qsum,
      |  len(list_filter(v, x -> floor(x * 127.0 / mx + 0.5) != 0)) AS qnnz
      |FROM (
      |  SELECT vec_id, v, list_max(list_transform(v, x -> abs(x))) AS mx
      |  FROM (SELECT vec_id, list_transform(embedding, x -> x::DOUBLE) AS v
      |        FROM embeddings))""".stripMargin

  /** Johnson–Lindenstrauss random projection to rpDims dimensions with a
    * deterministic ±1 sign matrix (Achlioptas 2001: Rademacher entries
    * preserve pairwise distances in expectation like Gaussian ones, and
    * the matrix needs no storage — each sign is an integer formula of
    * (j, i), identical in both engines). The scan-compression companion
    * to [[embQuantize]]: SQ8 shrinks the VALUE axis, JL shrinks the
    * DIMENSION axis (64→16 = 4× less arithmetic per candidate in a
    * brute or IVF scan, re-ranked exactly like [[embSq8Knn]]).
    *
    * Determinism: the inner fold is the same ascending sequential double
    * sum as [[embKnn]]'s dot product (DuckDB `list_sum` twin, bit-exact
    * precedent), rounded to 6 decimals at the end.
    *
    * Scale shape: narrow per-row HOF, zero exchanges, nothing broadcast
    * (the "matrix" is codegen'd arithmetic).
    */
  /** The JL projection of column `v`, shared by [[embRp]] and the
    * [[embRpKnn]] approx scan: native k·d kernel for the sums, a
    * k-element HOF for the round (Spark round semantics = oracle
    * parity).
    */
  private def rpProjSql(rpDims: Int): String =
    s"transform(jl_project(v, $rpDims), x -> round(x, 6))"

  /** Output is FLATTENED to scalar columns p0..p{k-1} (the minhashSig
    * m0..m7 precedent): the driver's oracle comparator sorts rows by
    * value to hash them and cannot sort a raw array column, so array
    * results stay an internal representation and never cross the
    * query-surface boundary unexploded.
    */
  def embRp(spark: SparkSession, sfDir: String, rpDims: Int = 16): DataFrame = {
    val flat = col("vec_id") +:
      (0 until rpDims).map(j => col("proj").getItem(j).as(s"p$j"))
    withVec(Tables.embeddings(spark, sfDir))
      .select(col("vec_id"), expr(rpProjSql(rpDims)).as("proj"))
      .select(flat: _*)
  }

  private def rpProjDuck(rpDims: Int): String =
    s"""list_transform(range(1, ${rpDims + 1}), j ->
       |  round(list_sum(list_transform(range(1, ${dims + 1}), i ->
       |    v[i] * (CASE WHEN ('0x' || substr(md5('rp|' || j || '|' || i), 1, 8))::BIGINT % 2 = 0
       |            THEN 1.0 ELSE -1.0 END))), 6))""".stripMargin

  val embRpSql: String = {
    val flat = (0 until 16).map(j => s"proj[${j + 1}] AS p$j").mkString(", ")
    s"""SELECT vec_id, $flat
       |FROM (SELECT vec_id, ${rpProjDuck(16)} AS proj
       |      FROM (SELECT vec_id, list_transform(embedding, x -> x::DOUBLE) AS v
       |            FROM embeddings))""".stripMargin
  }

  /** ANN via the JL projection: approx-score every candidate against the
    * broadcast queries in 32-d projected space (half the arithmetic per
    * row of the 64-d scan), keep `cand` per query, then fetch the
    * full-precision vectors for those candidates ONLY and re-rank
    * exactly — [[embSq8Knn]]'s refine recipe with the dimension axis
    * compressed instead of the value axis. The projected cosine uses the
    * same native kernel; both engines see the identical rounded
    * projections, so candidate sets (and therefore results) match
    * bit-for-bit.
    *
    * Parameter note (rpDims=32, cand=100): measured recall@5 0.76 at
    * sf0.01 (vs trained IVF's 0.84 on the same corpus — IVF only
    * misses cells, JL distorts the scores themselves). The sign matrix
    * QUALITY is load-bearing: a structured parity "hash" measured 0.24
    * (see [[graft.functions.JlProject]]); `emb_rp_recall` exists
    * precisely to measure this trade on whatever corpus the pipeline
    * runs on.
    *
    * 100 TB shape: projection is scan-fused arithmetic (no stored
    * matrix, nothing broadcast for it); the approx scan streams 32-d
    * rows against broadcast queries; the re-rank is a slim (q_id, n_id)
    * id equijoin — the only access to 64-d vectors after projection.
    */
  def embRpKnn(spark: SparkSession, sfDir: String,
               rpDims: Int = 32, cand: Int = 100, topK: Int = 5): DataFrame = {
    val e = withVec(Tables.embeddings(spark, sfDir))
      .select(col("vec_id"), col("v"))
      .transform(CacheScope.barrier) // projection pass, queries, re-rank fetch
    val pr = e.select(col("vec_id"), expr(rpProjSql(rpDims)).as("proj"))
    val qp = pr.filter(col("vec_id") < 10)
      .select(col("vec_id").as("q_id"), col("proj").as("qproj"))
    val q = e.filter(col("vec_id") < 10)
      .select(col("vec_id").as("q_id"), col("v").as("qv"))
    val wA = Window.partitionBy(col("q_id")).orderBy(col("acos").desc, col("n_id").asc)
    val cands = pr.select(col("vec_id").as("n_id"), col("proj"))
      .join(broadcast(qp), col("q_id") =!= col("n_id"))
      .withColumn("acos", expr("cosine_sim(qproj, proj)"))
      .withColumn("arank", row_number().over(wA))
      .filter(col("arank") <= cand)
      .select(col("q_id"), col("n_id"))
    val wE = Window.partitionBy(col("q_id")).orderBy(col("cos").desc, col("n_id").asc)
    cands
      .join(e.select(col("vec_id").as("n_id"), col("v").as("cv")), Seq("n_id"))
      .join(broadcast(q), Seq("q_id"))
      .withColumn("cos", expr("cosine_sim(qv, cv)"))
      .withColumn("rank", row_number().over(wE))
      .filter(col("rank") <= topK)
      .select(col("q_id"), col("rank"), col("n_id"), round(col("cos"), 6).as("cos"))
  }

  /** Shared CTE chain of the [[embRpKnn]] DuckDB twin (also reused by
    * [[embRpRecall]]): projections, projected-space candidates, and the
    * exact re-rank inputs.
    */
  private val embRpKnnCtes: String =
    s"""s AS (
       |  SELECT vec_id, list_transform(embedding, x -> x::DOUBLE) AS v
       |  FROM embeddings),
       |p AS (SELECT vec_id, ${rpProjDuck(32)} AS proj FROM s),
       |pn AS (
       |  SELECT vec_id, proj,
       |    sqrt(list_sum(list_transform(range(1, 33), i -> proj[i] * proj[i]))) AS pnrm
       |  FROM p),
       |cand AS (
       |  SELECT q_id, n_id FROM (
       |    SELECT q.vec_id AS q_id, c.vec_id AS n_id,
       |      row_number() OVER (PARTITION BY q.vec_id ORDER BY
       |        list_sum(list_transform(range(1, 33), i -> q.proj[i] * c.proj[i]))
       |          / (q.pnrm * c.pnrm) DESC, c.vec_id ASC) AS arank
       |    FROM pn q JOIN pn c ON q.vec_id < 10 AND q.vec_id <> c.vec_id)
       |  WHERE arank <= 100),
       |n AS (
       |  SELECT vec_id, v,
       |    sqrt(list_sum(list_transform(range(1, ${dims + 1}), i -> v[i] * v[i]))) AS nrm
       |  FROM s),
       |rp_ranked AS (
       |  SELECT cand.q_id, cand.n_id,
       |    list_sum(list_transform(range(1, ${dims + 1}), i -> q.v[i] * c.v[i]))
       |      / (q.nrm * c.nrm) AS cos,
       |    row_number() OVER (PARTITION BY cand.q_id ORDER BY
       |      list_sum(list_transform(range(1, ${dims + 1}), i -> q.v[i] * c.v[i]))
       |        / (q.nrm * c.nrm) DESC, cand.n_id ASC) AS rank
       |  FROM cand JOIN n q ON cand.q_id = q.vec_id
       |            JOIN n c ON cand.n_id = c.vec_id)""".stripMargin

  /** DuckDB twin of [[embRpKnn]] (rpDims=32, cand=100, top-5). */
  val embRpKnnSql: String =
    s"""WITH $embRpKnnCtes
       |SELECT q_id, rank, n_id, round(cos, 6) AS cos FROM rp_ranked
       |WHERE rank <= 5""".stripMargin

  /** Recall@5 of the JL-projected ANN against brute force — the audit
    * row for the dimension-compression path, like [[embRecall]] for IVF.
    * A miss means the true neighbor fell outside the `cand`
    * projected-space candidates (default 100 — JL distortion); widening
    * `cand` or `rpDims` raises it.
    */
  def embRpRecall(spark: SparkSession, sfDir: String): DataFrame = {
    val exact = embKnn(spark, sfDir).select(col("q_id"), col("n_id"))
    val rp = embRpKnn(spark, sfDir)
      .select(col("q_id"), col("n_id"), lit(1L).as("hit"))
    exact.join(rp, Seq("q_id", "n_id"), "left")
      .groupBy(col("q_id"))
      .agg(round(sum(coalesce(col("hit"), lit(0L))) / 5.0, 4).as("recall_at_5"))
  }

  val embRpRecallSql: String =
    s"""WITH $embRpKnnCtes,
       |rp AS (SELECT q_id, n_id FROM rp_ranked WHERE rank <= 5),
       |exact AS (
       |  SELECT q_id, n_id FROM (
       |    SELECT q.vec_id AS q_id, c.vec_id AS n_id,
       |      row_number() OVER (PARTITION BY q.vec_id ORDER BY
       |        list_sum(list_transform(range(1, ${dims + 1}), i -> q.v[i] * c.v[i]))
       |          / (q.nrm * c.nrm) DESC, c.vec_id ASC) AS rank
       |    FROM n q JOIN n c ON q.vec_id < 10 AND q.vec_id <> c.vec_id)
       |  WHERE rank <= 5)
       |SELECT e.q_id,
       |  round(sum(CASE WHEN r.n_id IS NOT NULL THEN 1 ELSE 0 END) / 5.0, 4)
       |    AS recall_at_5
       |FROM exact e LEFT JOIN rp r ON e.q_id = r.q_id AND e.n_id = r.n_id
       |GROUP BY e.q_id""".stripMargin

  /** Spherical k-means training (Lloyd iterations) — the centroid
    * trainer IVF deployments run before `embIvfKnn` probes. Fully
    * deterministic so the DuckDB oracle reproduces the fixed point:
    * init = the k lowest-id vectors, assignment = argmax cosine (ties →
    * lowest centroid id), update = per-dimension mean ROUNDED to 6
    * decimals each iteration (the rounding pins engine-order float
    * noise before it can flip a later assignment).
    *
    * Scale shape per iteration: centroids broadcast (k rows);
    * assignment is a map-side argmin — `min(struct(-cos, c_id))` is a
    * partial aggregate, so the k-fanout collapses back to one row per
    * vector BEFORE the exchange; the update aggregates k·d groups
    * (posexplode feeds a map-side partial avg — each partition emits at
    * most k·d partial rows regardless of corpus size). The driver loop
    * iterates ITERATIONS, never rows.
    */
  def embKmeans(spark: SparkSession, sfDir: String): DataFrame =
    embKmeans(spark, sfDir, k = 8, iters = 2)

  /** `iters` Lloyd rounds over `e` (vec_id, v). Returns (centroids
    * (c_id, cv), last assignment (vec_id, v, c_id)) — the assignment is
    * against the PRE-update centroids, as Lloyd defines it.
    */
  private def lloyd(e: DataFrame, k: Int, iters: Int): (DataFrame, DataFrame) = {
    var cent = e.filter(col("vec_id") < k)
      .select(col("vec_id").as("c_id"), col("v").as("cv"))
    var assign: DataFrame = null
    (1 to iters).foreach { _ =>
      assign = e.join(broadcast(cent), lit(true))
        .withColumn("negcos", -expr("cosine_sim(v, cv)"))
        .groupBy(col("vec_id"))
        .agg(min(struct(col("negcos"), col("c_id"))).as("m"),
          first(col("v")).as("v"))
        .select(col("vec_id"), col("v"), col("m.c_id").as("c_id"))
      cent = assign
        .select(col("c_id"), posexplode(col("v")))
        .groupBy(col("c_id"), (col("pos") + 1).as("i"))
        .agg(round(avg(col("col")), 6).as("m"))
        .groupBy(col("c_id"))
        .agg(expr("transform(sort_array(collect_list(struct(i, m))), s -> s.m)")
          .as("cv"))
    }
    (cent, assign)
  }

  def embKmeans(spark: SparkSession, sfDir: String, k: Int, iters: Int): DataFrame = {
    val e = withVec(Tables.embeddings(spark, sfDir))
      .select(col("vec_id"), col("v")).transform(CacheScope.barrier)
    val (cent, assign) = lloyd(e, k, iters)
    val counts = assign.groupBy(col("c_id")).agg(count(lit(1)).as("n_members"))
    cent.join(counts, Seq("c_id"))
      .select(col("c_id"), col("n_members"),
        posexplode(col("cv")))
      .select(col("c_id"), col("n_members"),
        (col("pos") + 1).as("i"), col("col").as("val"))
  }

  private def kmeansCosSql(vCol: String, vn: String, cCol: String): String =
    s"list_sum(list_transform(range(1, ${dims + 1}), j -> $vCol[j] * $cCol[j])) " +
      s"/ ($vn * sqrt(list_sum(list_transform(range(1, ${dims + 1}), j -> $cCol[j] * $cCol[j]))))"

  /** `n AS (vec_id, v, vn)` plus the Lloyd CTE chain c0, a1, c1, …,
    * a{iters}, c{iters} for k initial centroids — shared by the trainer
    * oracle and the trained-IVF oracle.
    */
  private def kmeansCtes(k: Int, iters: Int): String = {
    def assignCte(centTable: String): String =
      s"""SELECT vec_id, v, vn, c_id FROM (
         |    SELECT n.vec_id, n.v, n.vn, c.c_id,
         |      row_number() OVER (PARTITION BY n.vec_id ORDER BY
         |        ${kmeansCosSql("n.v", "n.vn", "c.cv")} DESC, c.c_id ASC) AS rn
         |    FROM n, $centTable c)
         |  WHERE rn = 1""".stripMargin
    def updateCte(assignTable: String): String =
      s"""SELECT c_id, list(m ORDER BY i) AS cv FROM (
         |    SELECT c_id, i, round(avg(v[i]), 6) AS m
         |    FROM $assignTable, range(1, ${dims + 1}) t(i) GROUP BY c_id, i)
         |  GROUP BY c_id""".stripMargin
    val rounds = (1 to iters).map { r =>
      s"""a$r AS (${assignCte(s"c${r - 1}")}),
         |c$r AS (${updateCte(s"a$r")})""".stripMargin
    }.mkString(",\n")
    s"""n AS (
       |  SELECT vec_id, v,
       |    sqrt(list_sum(list_transform(range(1, ${dims + 1}), j -> v[j] * v[j]))) AS vn
       |  FROM (SELECT vec_id, list_transform(embedding, x -> x::DOUBLE) AS v
       |        FROM embeddings)),
       |c0 AS (SELECT vec_id AS c_id, v AS cv FROM n WHERE vec_id < $k),
       |$rounds""".stripMargin
  }

  val embKmeansSql: String =
    s"""WITH ${kmeansCtes(k = 8, iters = 2)},
       |counts AS (SELECT c_id, count(*) AS n_members FROM a2 GROUP BY c_id)
       |SELECT c2.c_id, CAST(counts.n_members AS BIGINT) AS n_members, t.i, c2.cv[t.i] AS val
       |FROM c2 JOIN counts USING (c_id), range(1, ${dims + 1}) t(i)""".stripMargin

  /** IVF over TRAINED centroids: the full production shape — `lloyd`
    * learns `cells` centroids, then the same broadcast-pivot /
    * inverted-list probe as `embIvfKnn` runs against them. Versus the
    * untrained variant the cells are balanced Voronoi regions, so
    * inverted-list scans are evenly sized (the skew a 100 TB deployment
    * cares about). Centroids are still k·d rounded doubles — tiny,
    * broadcast; the corpus is touched iters+2 times, each a scan of the
    * persisted (vec_id, v) projection.
    */
  def embIvfTrained(spark: SparkSession, sfDir: String): DataFrame =
    embIvfTrained(spark, sfDir, cells = 16, iters = 2, nprobe = 2)

  def embIvfTrained(spark: SparkSession, sfDir: String,
                    cells: Int, iters: Int, nprobe: Int): DataFrame = {
    val e = withVec(Tables.embeddings(spark, sfDir))
      .select(col("vec_id"), col("v")).transform(CacheScope.barrier)
    val piv = lloyd(e, cells, iters)._1
      .select(col("c_id").as("p_id"), col("cv").as("pv"))
      .transform(CacheScope.barrier) // k rows; so the two broadcasts don't re-train
    val wCell = Window.partitionBy(col("vec_id"))
      .orderBy(col("pcos").desc, col("p_id").asc)
    val cellAssign = e.join(broadcast(piv), lit(true))
      .withColumn("pcos", expr("cosine_sim(v, pv)"))
      .withColumn("rn", row_number().over(wCell))
      .filter(col("rn") === 1)
      .select(col("vec_id"), col("v"), col("p_id").as("cell"))
    val wProbe = Window.partitionBy(col("q_id"))
      .orderBy(col("pcos").desc, col("p_id").asc)
    val probes = e.filter(col("vec_id") < 10)
      .select(col("vec_id").as("q_id"), col("v").as("qv"))
      .join(broadcast(piv), lit(true))
      .withColumn("pcos", expr("cosine_sim(qv, pv)"))
      .withColumn("rn", row_number().over(wProbe))
      .filter(col("rn") <= nprobe)
      .select(col("q_id"), col("qv"), col("p_id").as("cell"))
    val wTop = Window.partitionBy(col("q_id"))
      .orderBy(col("cos").desc, col("vec_id").asc)
    probes.join(cellAssign, Seq("cell"))
      .filter(col("q_id") =!= col("vec_id"))
      .withColumn("cos", expr("cosine_sim(qv, v)"))
      .withColumn("rank", row_number().over(wTop))
      .filter(col("rank") <= 5)
      .select(col("q_id"), col("rank"), col("vec_id").as("n_id"),
        round(col("cos"), 6).as("cos"))
  }

  /** Mean-centering, the standard ANN preprocessing step (centered
    * cosine ≈ Pearson; removes the corpus-wide offset that inflates
    * all-pairs similarity). One tiny aggregate — the d-dim mean, ≤ d
    * partial rows per partition, rounded to 6 decimals so it is
    * engine-exact — broadcast back over a single corpus pass. Emits a
    * per-vector checksum row (centered norm + component sum), not the
    * centered matrix: at 100 TB the centered vectors stay columnar in
    * the executors, like `embQuantize`.
    */
  def embCenter(spark: SparkSession, sfDir: String): DataFrame = {
    val e = withVec(Tables.embeddings(spark, sfDir))
      .select(col("vec_id"), col("v"))
    val mean = e.select(posexplode(col("v")))
      .groupBy((col("pos") + 1).as("i"))
      .agg(round(avg(col("col")), 6).as("m"))
      .groupBy()
      .agg(expr("transform(sort_array(collect_list(struct(i, m))), s -> s.m)")
        .as("mv"))
    e.join(broadcast(mean), lit(true))
      .withColumn("c", expr("transform(v, (x, i) -> x - element_at(mv, i + 1))"))
      .select(col("vec_id"),
        round(expr("sqrt(aggregate(c, 0D, (a, x) -> a + x * x))"), 6).as("norm_c"),
        round(expr("aggregate(c, 0D, (a, x) -> a + x)"), 6).as("csum"))
  }

  val embCenterSql: String =
    s"""WITH v AS (
       |  SELECT vec_id, list_transform(embedding, x -> x::DOUBLE) AS v
       |  FROM embeddings),
       |m AS (
       |  SELECT list(m ORDER BY i) AS mv FROM (
       |    SELECT i, round(avg(v[i]), 6) AS m
       |    FROM v, range(1, ${dims + 1}) t(i) GROUP BY i))
       |SELECT vec_id,
       |  round(sqrt(list_sum(list_transform(range(1, ${dims + 1}),
       |    i -> (v[i] - mv[i]) * (v[i] - mv[i])))), 6) AS norm_c,
       |  round(list_sum(list_transform(range(1, ${dims + 1}),
       |    i -> v[i] - mv[i])), 6) AS csum
       |FROM v, m""".stripMargin

  /** SemDeDup-style semantic dedup (Abbas et al. 2023, arXiv:2303.09540):
    * cluster the corpus with `lloyd`, then compare vectors only WITHIN a
    * cluster — high-cosine pairs land in the same Voronoi cell, so the
    * candidate join is an equijoin on cell id, never all-pairs. Emits one
    * row per dropped vector: its lowest-id qualifying keeper and that
    * cosine. At 100 TB the cell count scales with the corpus (cells ~
    * sqrt(N) keeps occupancy bounded) and the per-cell self-join is the
    * same bounded shape as the MinHash band join.
    */
  def embSemdedup(spark: SparkSession, sfDir: String): DataFrame =
    embSemdedup(spark, sfDir, cells = 16, iters = 2, thr = 0.3)

  def embSemdedup(spark: SparkSession, sfDir: String,
                  cells: Int, iters: Int, thr: Double): DataFrame = {
    val e = withVec(Tables.embeddings(spark, sfDir))
      .select(col("vec_id"), col("v")).transform(CacheScope.barrier)
    val piv = lloyd(e, cells, iters)._1
      .select(col("c_id").as("p_id"), col("cv").as("pv"))
    val wCell = Window.partitionBy(col("vec_id"))
      .orderBy(col("pcos").desc, col("p_id").asc)
    val cellAssign = e.join(broadcast(piv), lit(true))
      .withColumn("pcos", expr("cosine_sim(v, pv)"))
      .withColumn("rn", row_number().over(wCell))
      .filter(col("rn") === 1)
      .select(col("vec_id"), col("v"), col("p_id").as("cell"))
      .transform(CacheScope.barrier) // cells assigned once, joined twice
    val a = cellAssign.select(col("cell"), col("vec_id").as("keep_id"), col("v").as("av"))
    val b = cellAssign.select(col("cell"), col("vec_id").as("drop_id"), col("v").as("bv"))
    a.join(b, Seq("cell"))
      .filter(col("keep_id") < col("drop_id"))
      .withColumn("cos", expr("cosine_sim(av, bv)"))
      .filter(col("cos") >= thr)
      .groupBy(col("drop_id"))
      .agg(min(struct(col("keep_id"), col("cos"))).as("m"))
      .select(col("drop_id"), col("m.keep_id").as("keep_id"),
        round(col("m.cos"), 6).as("cos"))
  }

  val embSemdedupSql: String = embSemdedupSqlAt(0.3)

  /** Threshold-parametric oracle twin (the ensemble-cluster oracle
    * composes it at a stricter cut). */
  def embSemdedupSqlAt(thr: Double): String =
    s"""WITH ${kmeansCtes(k = 16, iters = 2)},
       |piv AS (
       |  SELECT c_id AS p_id, cv AS pv,
       |    sqrt(list_sum(list_transform(range(1, ${dims + 1}), j -> cv[j] * cv[j]))) AS pn
       |  FROM c2),
       |cells AS (
       |  SELECT vec_id, v, vn, p_id AS cell FROM (
       |    SELECT n.vec_id, n.v, n.vn, piv.p_id,
       |      row_number() OVER (PARTITION BY n.vec_id ORDER BY
       |        list_sum(list_transform(range(1, ${dims + 1}), i -> n.v[i] * piv.pv[i]))
       |          / (n.vn * piv.pn) DESC, piv.p_id ASC) AS rn
       |    FROM n, piv)
       |  WHERE rn = 1),
       |pairs AS (
       |  SELECT b.vec_id AS drop_id, a.vec_id AS keep_id,
       |    list_sum(list_transform(range(1, ${dims + 1}), i -> a.v[i] * b.v[i]))
       |      / (a.vn * b.vn) AS cos
       |  FROM cells a JOIN cells b ON a.cell = b.cell AND a.vec_id < b.vec_id
       |  WHERE list_sum(list_transform(range(1, ${dims + 1}), i -> a.v[i] * b.v[i]))
       |      / (a.vn * b.vn) >= $thr)
       |SELECT drop_id, keep_id, round(cos, 6) AS cos FROM (
       |  SELECT drop_id, keep_id, cos,
       |    row_number() OVER (PARTITION BY drop_id ORDER BY keep_id ASC, cos ASC) AS rn
       |  FROM pairs)
       |WHERE rn = 1""".stripMargin

  /** Squared L2 between two double-array column refs via the native
    * fused-loop expression (sequential index order on both engines, so
    * distances are bit-identical to the oracle's fold).
    */
  private def l2Sql(a: String, b: String): String = s"l2_sq($a, $b)"

  private def l2Duck(a: String, b: String, d: Int): String =
    s"list_sum(list_transform(range(1, ${d + 1}), i -> ($a[i] - $b[i]) * ($a[i] - $b[i])))"

  /** (vec_id, s, sv): each vector split into `m` subspace slices, every
    * coordinate quantized to the 1e-6 micro grid (carried as an exact
    * integer VALUE in a double — all micro sums/squares stay far below
    * 2^53, so every distance downstream is an exactly-representable
    * integer and the whole PQ chain needs NO round() calls: centroid
    * means, LUT partials, and ADC sums are tie-free and bit-identical
    * cross-engine by construction — the BIGINT-moment discipline applied
    * inside the codebook). This is the working form every PQ stage
    * (train, encode, query LUT) reads.
    */
  private def pqSub(e: DataFrame, m: Int): DataFrame = {
    val sd = dims / m
    e.select(col("vec_id"), explode(expr(
        s"transform(sequence(0, ${m - 1}), s -> struct(s AS s, " +
          s"transform(slice(v, s * $sd + 1, $sd), " +
          s"x -> CAST(CAST(round(x * 1000000) AS BIGINT) AS DOUBLE)) AS sv))"))
        .as("z"))
      .select(col("vec_id"), col("z.s").as("s"), col("z.sv").as("sv"))
  }

  /** Nearest codebook entry per (vector, subspace) — argmin L2 with
    * lowest-c_id tie-break, the same deterministic discipline as
    * [[lloyd]]. Codebooks are tiny (k·d doubles) and ride a broadcast;
    * the argmin folds into one map-side struct-min aggregate. */
  private def pqAssignTo(sub: DataFrame, cent: DataFrame): DataFrame =
    sub.join(broadcast(cent), Seq("s"))
      .withColumn("d", expr(l2Sql("sv", "cv")))
      .groupBy(col("vec_id"), col("s"))
      .agg(min(struct(col("d"), col("c_id"))).as("mn"),
        first(col("sv")).as("sv"))
      .select(col("vec_id"), col("s"), col("sv"), col("mn.c_id").as("c_id"))

  /** `iters` Lloyd rounds per subspace (init = k lowest-id sub-vectors;
    * per-dimension mean snapped back to the micro grid via an exact
    * BIGINT sum — a .5 tie in Σ/n is a true half-integer, exactly
    * representable, and HALF_UP = away-from-zero agrees between Spark
    * and DuckDB there, unlike round(avg, 6) whose decimal ties diverge).
    * One exchange per iteration regardless of `m` — the s-fanout folds
    * into the same map-side argmin. */
  private def pqTrain(sub: DataFrame, k: Int, iters: Int): DataFrame = {
    var cent = sub.filter(col("vec_id") < k)
      .select(col("s"), col("vec_id").as("c_id"), col("sv").as("cv"))
    (1 to iters).foreach { _ =>
      cent = pqAssignTo(sub, cent)
        .select(col("s"), col("c_id"), posexplode(col("sv")))
        .groupBy(col("s"), col("c_id"), (col("pos") + 1).as("i"))
        .agg(expr(
          """CAST(CAST(round(CAST(sum(CAST(col AS BIGINT)) AS DOUBLE)
            |  / CAST(count(*) AS DOUBLE)) AS BIGINT) AS DOUBLE)""".stripMargin)
          .as("mc"))
        .groupBy(col("s"), col("c_id"))
        .agg(expr("transform(sort_array(collect_list(struct(i, mc))), z -> z.mc)")
          .as("cv"))
    }
    cent
  }

  /** DuckDB twin of the PQ chain: emits CTEs `{p}sub, {p}c0, {p}a1,
    * {p}c1, …, {p}codes, {p}lut` reading the surrounding query's `n`
    * CTE (vec_id, v). The prefix keeps the chain composable next to
    * [[kmeansCtes]]'s own c0/a1/… names (the IVF-PQ twin runs both). */
  private def pqCtesDuck(p: String, m: Int, k: Int, iters: Int): String = {
    val sd = dims / m
    def assignCte(centTable: String): String =
      s"""SELECT vec_id, s, sv, c_id FROM (
         |    SELECT sub.vec_id, sub.s, sub.sv, c.c_id,
         |      row_number() OVER (PARTITION BY sub.vec_id, sub.s ORDER BY
         |        ${l2Duck("sub.sv", "c.cv", sd)} ASC, c.c_id ASC) AS rn
         |    FROM ${p}sub sub JOIN $centTable c USING (s))
         |  WHERE rn = 1""".stripMargin
    def updateCte(assignTable: String): String =
      s"""SELECT s, c_id, list(mc ORDER BY i) AS cv FROM (
         |    SELECT s, c_id, i,
         |      CAST(CAST(round(CAST(sum(CAST(sv[i] AS BIGINT)) AS DOUBLE)
         |        / CAST(count(*) AS DOUBLE)) AS BIGINT) AS DOUBLE) AS mc
         |    FROM $assignTable, range(1, ${sd + 1}) t(i) GROUP BY s, c_id, i)
         |  GROUP BY s, c_id""".stripMargin
    val rounds = (1 to iters).map { r =>
      s"""${p}a$r AS (${assignCte(s"${p}c${r - 1}")}),
         |${p}c$r AS (${updateCte(s"${p}a$r")})""".stripMargin
    }.mkString(",\n")
    s"""${p}sub AS (
       |  SELECT vec_id, s,
       |    list_transform(v[s*$sd+1 : s*$sd+$sd],
       |      x -> CAST(CAST(round(x * 1000000) AS BIGINT) AS DOUBLE)) AS sv
       |  FROM n, range(0, $m) t(s)),
       |${p}c0 AS (SELECT s, vec_id AS c_id, sv AS cv FROM ${p}sub WHERE vec_id < $k),
       |$rounds,
       |${p}codes AS (
       |  SELECT vec_id, s, c_id AS code FROM (
       |    SELECT sub.vec_id, sub.s, c.c_id,
       |      row_number() OVER (PARTITION BY sub.vec_id, sub.s ORDER BY
       |        ${l2Duck("sub.sv", "c.cv", sd)} ASC, c.c_id ASC) AS rn
       |    FROM ${p}sub sub JOIN ${p}c$iters c USING (s))
       |  WHERE rn = 1),
       |${p}lut AS (
       |  SELECT sub.vec_id AS q_id, sub.s, c.c_id AS code,
       |    ${l2Duck("sub.sv", "c.cv", sd)} AS pd
       |  FROM ${p}sub sub JOIN ${p}c$iters c USING (s) WHERE sub.vec_id < 10)""".stripMargin
  }

  /** Product quantization (the FAISS PQ stage): split each vector into
    * `m` subspaces, train a k-entry L2 codebook per subspace (same
    * deterministic Lloyd discipline as [[embKmeans]]: init = k lowest-id
    * sub-vectors, argmin L2 with lowest-c_id tie-break; sub-vectors and
    * centroids live on the exact 1e-6 micro-integer grid — see
    * [[pqSub]]/[[pqTrain]] for why that makes the whole chain tie-free
    * cross-engine), encode every vector as
    * `m` byte codes, and answer top-k by asymmetric distance (ADC): the
    * query stays full-precision, distance = sum over subspaces of the
    * precomputed query→centroid partials.
    *
    * Scale shape: codebooks are m·k·(d/m) = d·k doubles — broadcast
    * everywhere they appear; training is the [[embKmeans]] per-iteration
    * shape with the m-fanout folded into the same map-side argmin (one
    * exchange per iteration regardless of m); the encoded corpus is
    * m bytes/vector (16× compression at the default m=16 over d=64
    * float32; 64× at m=4 — the synthetic near-random embeddings need
    * the finer m=16/k=64 grid for useful recall), which is
    * the artifact that makes exhaustive search feasible at 100 TB —
    * the ADC scan reads codes, not vectors, and the per-query LUT
    * (q × m·k partial distances) broadcasts onto it. The final top-k is
    * a per-partition window rank, never a global sort.
    */
  def embPq(spark: SparkSession, sfDir: String): DataFrame =
    embPq(spark, sfDir, m = 16, k = 64, iters = 2, topK = 5)

  def embPq(spark: SparkSession, sfDir: String,
            m: Int, k: Int, iters: Int, topK: Int): DataFrame =
    embPqOf(withVec(Tables.embeddings(spark, sfDir))
      .select(col("vec_id"), col("v")), m, k, iters, topK)

  /** Core over any (vec_id, v: array<double>) frame. */
  def embPqOf(e: DataFrame, m: Int, k: Int, iters: Int, topK: Int): DataFrame = {
    graft.functions.Kernels.register(e.sparkSession)
    val sub = pqSub(e, m)
      .transform(CacheScope.barrier) // consumed per iteration + encode + queries
    val cent = pqTrain(sub, k, iters)
      .transform(CacheScope.barrier) // encode + LUT both read it
    val codes = pqAssignTo(sub, cent).select(col("vec_id"), col("s"), col("c_id").as("code"))
    // pd and its sum are exact micro² integers (no round() anywhere);
    // the single /1e12 rescale to embedding units is one correctly-
    // rounded IEEE division, identical in both engines
    val lut = sub.filter(col("vec_id") < 10)
      .select(col("vec_id").as("q_id"), col("s"), col("sv").as("qsv"))
      .join(broadcast(cent), Seq("s"))
      .select(col("q_id"), col("s"), col("c_id").as("code"),
        expr(l2Sql("qsv", "cv")).as("pd"))
    val w = Window.partitionBy(col("q_id"))
      .orderBy(col("adist").asc, col("n_id").asc)
    codes.join(broadcast(lut), Seq("s", "code"))
      .filter(col("vec_id") =!= col("q_id"))
      .groupBy(col("q_id"), col("vec_id").as("n_id"))
      .agg((sum(col("pd")) / lit(1e12)).as("adist"))
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= topK)
      .select(col("q_id"), col("rank"), col("n_id"), col("adist"))
  }

  /** DuckDB twin of [[embPq]] (m=16, k=64, iters=2, top-5). */
  val embPqSql: String =
    s"""WITH n AS (
       |  SELECT vec_id, list_transform(embedding, x -> x::DOUBLE) AS v
       |  FROM embeddings),
       |${pqCtesDuck("", m = 16, k = 64, iters = 2)},
       |scored AS (
       |  SELECT q_id, vec_id AS n_id, sum(pd) / 1e12 AS adist
       |  FROM codes JOIN lut ON codes.s = lut.s AND codes.code = lut.code
       |  WHERE codes.vec_id <> lut.q_id
       |  GROUP BY q_id, codes.vec_id)
       |SELECT q_id, rank, n_id, adist FROM (
       |  SELECT q_id, n_id, adist,
       |    row_number() OVER (PARTITION BY q_id ORDER BY adist ASC, n_id ASC) AS rank
       |  FROM scored)
       |WHERE rank <= 5""".stripMargin

  /** IVF-PQ composite ANN — the FAISS `IVFx,PQy`-style production index
    * shape, assembled from the two structures the library already
    * trains: the coarse quantizer ([[lloyd]], as in [[embIvfTrained]])
    * restricts each query to its nprobe nearest Voronoi cells, and the
    * PQ codebooks ([[pqTrain]], as in [[embPq]]) let the scan inside
    * those cells read m-byte codes instead of vectors, scored by
    * asymmetric distance against a broadcast per-query LUT. The top
    * `cand` ADC candidates then re-rank EXACTLY (full-precision cosine
    * via an id equijoin) — the refine step that recovers the accuracy
    * PQ gives up. Codes are on raw vectors (FAISS `by_residual=false`):
    * residual encoding would couple the codebooks to the coarse cells
    * and force per-cell retraining on any re-clustering; the flat
    * codebook is the variant that lets one trained PQ serve any probe
    * pattern.
    *
    * 100 TB shape — why this is THE scale recipe: the corpus rides the
    * pipeline exactly twice after encoding (the m-byte ADC scan over
    * probed cells only, and the |Q|·cand exact fetch); every model
    * artifact (coarse centroids ~cells·d, codebooks d·k doubles,
    * query LUT |Q|·m·k partials, probe table |Q|·nprobe) is broadcast;
    * the only corpus-wide exchanges are the training aggregates and the
    * slim (cell, vec_id) / (vec_id, s, code) projections. Inverted
    * lists are the cell-keyed partitions of the code table — probing is
    * a broadcast-hash join, not an index lookup, which is what makes
    * the structure rebuild-free under corpus growth.
    */
  def embIvfPq(spark: SparkSession, sfDir: String): DataFrame =
    embIvfPq(spark, sfDir, cells = 16, m = 16, k = 64, iters = 2,
      nprobe = 2, cand = 30, topK = 5)

  def embIvfPq(spark: SparkSession, sfDir: String, cells: Int, m: Int,
               k: Int, iters: Int, nprobe: Int, cand: Int, topK: Int): DataFrame = {
    val e = withVec(Tables.embeddings(spark, sfDir))
      .select(col("vec_id"), col("v")).transform(CacheScope.barrier)
    val piv = lloyd(e, cells, iters)._1
      .select(col("c_id").as("p_id"), col("cv").as("pv"))
      .transform(CacheScope.barrier) // cell assign + probes both broadcast it
    val wCell = Window.partitionBy(col("vec_id"))
      .orderBy(col("pcos").desc, col("p_id").asc)
    val cellAssign = e.join(broadcast(piv), lit(true))
      .withColumn("pcos", expr("cosine_sim(v, pv)"))
      .withColumn("rn", row_number().over(wCell))
      .filter(col("rn") === 1)
      .select(col("vec_id"), col("p_id").as("cell"))
    val q = e.filter(col("vec_id") < 10)
      .select(col("vec_id").as("q_id"), col("v").as("qv"))
    val wProbe = Window.partitionBy(col("q_id"))
      .orderBy(col("pcos").desc, col("p_id").asc)
    val probes = q.join(broadcast(piv), lit(true))
      .withColumn("pcos", expr("cosine_sim(qv, pv)"))
      .withColumn("rn", row_number().over(wProbe))
      .filter(col("rn") <= nprobe)
      .select(col("q_id"), col("p_id").as("cell"))
    val sub = pqSub(e, m).transform(CacheScope.barrier)
    val cent = pqTrain(sub, k, iters).transform(CacheScope.barrier)
    val codes = pqAssignTo(sub, cent)
      .select(col("vec_id"), col("s"), col("c_id").as("code"))
    val lut = sub.filter(col("vec_id") < 10)
      .select(col("vec_id").as("q_id"), col("s"), col("sv").as("qsv"))
      .join(broadcast(cent), Seq("s"))
      .select(col("q_id"), col("s"), col("c_id").as("code"),
        expr(l2Sql("qsv", "cv")).as("pd"))
    // a vector lives in exactly one cell and a query probes nprobe
    // distinct cells, so the broadcast join yields each (q, n) at most
    // once — only probed cells' codes ever ride the ADC exchange
    val pairs = cellAssign.join(broadcast(probes), Seq("cell"))
      .filter(col("q_id") =!= col("vec_id"))
      .select(col("q_id"), col("vec_id"))
    val wA = Window.partitionBy(col("q_id"))
      .orderBy(col("adist").asc, col("n_id").asc)
    val cands = pairs.join(codes, Seq("vec_id"))
      .join(broadcast(lut), Seq("q_id", "s", "code"))
      .groupBy(col("q_id"), col("vec_id").as("n_id"))
      .agg((sum(col("pd")) / lit(1e12)).as("adist"))
      .withColumn("arank", row_number().over(wA))
      .filter(col("arank") <= cand)
      .select(col("q_id"), col("n_id"))
    val wE = Window.partitionBy(col("q_id"))
      .orderBy(col("cos").desc, col("n_id").asc)
    cands.join(e.select(col("vec_id").as("n_id"), col("v").as("cv")), Seq("n_id"))
      .join(broadcast(q), Seq("q_id"))
      .withColumn("cos", expr("cosine_sim(qv, cv)"))
      .withColumn("rank", row_number().over(wE))
      .filter(col("rank") <= topK)
      .select(col("q_id"), col("rank"), col("n_id"), round(col("cos"), 6).as("cos"))
  }

  /** DuckDB twin of [[embIvfPq]] (cells=16, m=16, k=64, nprobe=2,
    * cand=30, top-5) — the [[ivfCellProbeCtes]] coarse chain and the
    * `p`-prefixed [[pqCtesDuck]] chain composed in one WITH. */
  val embIvfPqSql: String =
    s"""WITH $ivfCellProbeCtes,
       |${pqCtesDuck("p", m = 16, k = 64, iters = 2)},
       |cpairs AS (
       |  SELECT p.q_id, c.vec_id AS n_id
       |  FROM probes p JOIN cells c ON p.cell = c.cell AND p.q_id <> c.vec_id),
       |adc AS (
       |  SELECT cp.q_id, cp.n_id, sum(l.pd) / 1e12 AS adist
       |  FROM cpairs cp
       |  JOIN pcodes co ON co.vec_id = cp.n_id
       |  JOIN plut l ON l.q_id = cp.q_id AND l.s = co.s AND l.code = co.code
       |  GROUP BY cp.q_id, cp.n_id),
       |candq AS (
       |  SELECT q_id, n_id FROM (
       |    SELECT q_id, n_id,
       |      row_number() OVER (PARTITION BY q_id ORDER BY adist ASC, n_id ASC) AS arank
       |    FROM adc)
       |  WHERE arank <= 30)
       |SELECT q_id, rank, n_id, round(cos, 6) AS cos FROM (
       |  SELECT cq.q_id, cq.n_id,
       |    list_sum(list_transform(range(1, ${dims + 1}), i -> q.v[i] * c.v[i]))
       |      / (q.vn * c.vn) AS cos,
       |    row_number() OVER (PARTITION BY cq.q_id ORDER BY
       |      list_sum(list_transform(range(1, ${dims + 1}), i -> q.v[i] * c.v[i]))
       |        / (q.vn * c.vn) DESC, cq.n_id ASC) AS rank
       |  FROM candq cq
       |  JOIN n q ON q.vec_id = cq.q_id
       |  JOIN n c ON c.vec_id = cq.n_id)
       |WHERE rank <= 5""".stripMargin

  private val IvfParams = "cells=16|m=16|k=64|iters=2"

  /** Content fingerprint of the embeddings corpus WITHOUT reading data:
    * name + length + modification time of every file under
    * `embeddings.parquet`, sorted. A corpus regenerated IN PLACE with
    * the same row count (the r10 ADVICE hole: the count-only tag would
    * serve it a stale index in oracle-less bench runs) changes mtimes
    * and almost always lengths, forcing a new index dir. Driver-side FS
    * listing only — cheaper than the count job the tag used before.
    */
  private def corpusFingerprint(spark: SparkSession, sfDir: String): String = {
    val p = new org.apache.hadoop.fs.Path(s"$sfDir/embeddings.parquet")
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    fs.listStatus(p).filter(_.isFile)
      .map(s => s"${s.getPath.getName}:${s.getLen}:${s.getModificationTime}")
      .sorted.mkString("|")
  }

  /** Deterministic on-disk location of the persisted IVF-PQ index for a
    * corpus. Keyed by the corpus path, a no-data-read content
    * fingerprint of its files ([[corpusFingerprint]]), and the index
    * hyper-params, so a regenerated-in-place corpus or a param change
    * can never serve a stale index (production systems version indexes
    * explicitly). Base dir overridable via `SPARK_GRAFT_INDEX_DIR`.
    */
  private[graft] def ivfIndexDir(spark: SparkSession, sfDir: String): String = {
    val base = sys.props.get("graft.index.dir") // test isolation hook
      .orElse(sys.env.get("SPARK_GRAFT_INDEX_DIR"))
      .getOrElse(sys.props("java.io.tmpdir") + "/graft_index")
    val tag = java.security.MessageDigest.getInstance("MD5")
      .digest(s"$sfDir|fp=${corpusFingerprint(spark, sfDir)}|$IvfParams"
        .getBytes("UTF-8"))
      .map("%02x".format(_)).mkString.take(16)
    s"$base/ivfpq_$tag"
  }

  /** True iff the index at `dir` is complete (the codes table is written
    * LAST among the parquet artifacts in [[buildIvfIndex]], and the
    * whole build lands via one directory rename, so codes' `_SUCCESS`
    * implies the centroids, codebooks, and manifest landed too). Hadoop
    * FS API, not java.io — the index lives wherever the cluster's
    * filesystem is.
    */
  private def ivfIndexExists(spark: SparkSession, dir: String): Boolean = {
    val p = new org.apache.hadoop.fs.Path(s"$dir/codes.parquet/_SUCCESS")
    p.getFileSystem(spark.sparkContext.hadoopConfiguration).exists(p)
  }

  /** Verify a persisted index against its `manifest.json` before serving
    * queries from it (round-11; r10 verdict #5): params, corpus
    * fingerprint, and the row counts of the two broadcast-sized
    * artifacts the query is about to trust. Hand-damage or truncation
    * becomes a NAMED error instead of a downstream oracle mismatch.
    * The codes table is deliberately not re-counted here — at scale it
    * has one directory per cell and a count defeats the partition
    * pruning the layout exists for; its integrity is covered by the
    * `_SUCCESS`-last + atomic-rename build and its row count is recorded
    * in the manifest at build time from a read-back.
    */
  private def verifyIvfManifest(spark: SparkSession, sfDir: String,
                                dir: String): Unit = {
    def fail(what: String): Nothing = throw new IllegalStateException(
      s"ivf index guard: the index at $dir failed manifest verification " +
        s"($what) — hand-damaged, truncated, or built by something else; " +
        s"delete the directory to force a clean rebuild.")
    val p = new org.apache.hadoop.fs.Path(s"$dir/manifest.json")
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(p)) fail("manifest.json missing")
    val in = fs.open(p)
    val txt = try scala.io.Source.fromInputStream(in, "UTF-8").mkString
    finally in.close()
    implicit val fmts: org.json4s.Formats = org.json4s.DefaultFormats
    val m = org.json4s.jackson.JsonMethods.parse(txt)
    def str(f: String): String = (m \ f).extract[String]
    def num(f: String): Long = (m \ f).extract[Long]
    if (str("params") != IvfParams)
      fail(s"params '${str("params")}' != expected '$IvfParams'")
    if (str("corpus_fingerprint") != corpusFingerprint(spark, sfDir))
      fail("corpus fingerprint mismatch — the corpus changed under the index")
    // r14: the two row-count probes are independent reads — issue them
    // concurrently (§2.6); same checks, one scheduling wave
    val counts = inParallel(
      () => spark.read.parquet(s"$dir/centroids.parquet").count(),
      () => spark.read.parquet(s"$dir/codebooks.parquet").count())
    val (nCentroids, nCodebooks) = (counts(0), counts(1))
    if (nCentroids != num("rows_centroids"))
      fail(s"centroids.parquet has $nCentroids rows, manifest says " +
        s"${num("rows_centroids")}")
    if (nCodebooks != num("rows_codebooks"))
      fail(s"codebooks.parquet has $nCodebooks rows, manifest says " +
        s"${num("rows_codebooks")}")
  }

  /** Index-BUILD pass of the persisted IVF-PQ index (round-9 verdict #4:
    * real users build once and query many — the fused `emb_ivf_pq` row
    * re-trains per run, so its sf10 cost is dominated by one-time work).
    * Trains the same structures as [[embIvfPq]] (coarse [[lloyd]]
    * centroids; [[pqTrain]] codebooks) and WRITES three artifacts under
    * [[ivfIndexDir]]:
    *
    *   - `centroids.parquet` (p_id, pv) — cells·d doubles;
    *   - `codebooks.parquet` (s, c_id, cv) — d·k doubles;
    *   - `codes.parquet` (vec_id, s, code) **partitioned by `cell`** —
    *     the m-byte-per-vector encoded corpus laid out as inverted
    *     lists: a query probing nprobe cells READS nprobe directories
    *     (parquet partition pruning), never the whole index.
    *
    * Returns the per-cell index stats read BACK from the written files
    * (proving the artifact is loadable): cell, vector count, and the
    * sum of all PQ codes in the cell — a checksum over exactly the
    * bytes a probe will trust, mirrored bit-exactly by the DuckDB twin
    * re-deriving the same deterministic training chain.
    */
  def embIvfBuild(spark: SparkSession, sfDir: String): DataFrame = {
    val dir = ivfIndexDir(spark, sfDir)
    buildIvfIndex(spark, sfDir, dir, overwrite = true)
    spark.read.parquet(s"$dir/codes.parquet")
      .groupBy(col("cell").cast("long").as("cell"))
      .agg(countDistinct(col("vec_id")).as("n_vectors"),
        sum(col("code")).cast("long").as("code_sum"))
  }

  /** Run independent Spark actions concurrently from a bounded driver
    * pool (guide §2.6: the scheduler happily overlaps jobs; actions are
    * only sequential because driver code calls them sequentially — each
    * job's scheduling/serde tail back-fills the others' idle cores).
    * Job descriptions are thread-local, so callers may label inside the
    * thunks. Exceptions are unwrapped and rethrown.
    */
  private def inParallel[T](thunks: (() => T)*): Seq[T] = {
    val pool = java.util.concurrent.Executors.newFixedThreadPool(thunks.size)
    try {
      val futs = thunks.map { t =>
        pool.submit(new java.util.concurrent.Callable[T] {
          override def call(): T = t()
        })
      }
      futs.map { f =>
        try f.get()
        catch { case e: java.util.concurrent.ExecutionException =>
          throw e.getCause }
      }
    } finally pool.shutdown()
  }

  private def buildIvfIndex(spark: SparkSession, sfDir: String, dir: String,
                            overwrite: Boolean = false): Unit = {
    val e = withVec(Tables.embeddings(spark, sfDir))
      .select(col("vec_id"), col("v")).transform(CacheScope.barrier)
    // materialize the shared projection ONCE up front — the count is
    // needed for the manifest anyway, and a warm cache keeps the two
    // concurrent training chains below from racing the same scan
    val nVectors = e.count()
    val piv = lloyd(e, 16, 2)._1
      .select(col("c_id").as("p_id"), col("cv").as("pv"))
      .transform(CacheScope.barrier)
    val wCell = Window.partitionBy(col("vec_id"))
      .orderBy(col("pcos").desc, col("p_id").asc)
    val cellAssign = e.join(broadcast(piv), lit(true))
      .withColumn("pcos", expr("cosine_sim(v, pv)"))
      .withColumn("rn", row_number().over(wCell))
      .filter(col("rn") === 1)
      .select(col("vec_id"), col("p_id").as("cell"))
    val sub = pqSub(e, 16).transform(CacheScope.barrier)
    val cent = pqTrain(sub, 64, 2)
      .transform(CacheScope.barrier) // written AND read by the encode pass
    val codes = pqAssignTo(sub, cent)
      .select(col("vec_id"), col("s"), col("c_id").as("code"))
    // Build into a temp sibling and RENAME into place (round-11; r10
    // ADVICE): a reader can never observe a half-written index, and two
    // processes racing the same miss resolve by whoever renames first.
    val dst = new org.apache.hadoop.fs.Path(dir)
    val fs = dst.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val tmp = new org.apache.hadoop.fs.Path(
      dir + ".build-" + java.util.UUID.randomUUID().toString.take(8))
    // r14 (VERDICT #4): the coarse-centroid chain (lloyd → centroids
    // write) and the PQ chain (pqTrain → codebooks write) are
    // independent once `e` is cached — run them CONCURRENTLY (§2.6) so
    // their many small sequential jobs back-fill each other instead of
    // serializing 25 jobs end to end. The codes write needs both
    // trained artifacts and runs alone afterwards at full width. Same
    // jobs, same bytes, same artifacts — only the driver-side
    // sequencing changed.
    inParallel(
      () => {
        spark.sparkContext.setJobDescription("ivf build: coarse centroids")
        piv.write.mode("overwrite").parquet(s"$tmp/centroids.parquet")
      },
      () => {
        spark.sparkContext.setJobDescription("ivf build: pq codebooks")
        cent.select(col("s"), col("c_id"), col("cv"))
          .write.mode("overwrite").parquet(s"$tmp/codebooks.parquet")
      })
    spark.sparkContext.setJobDescription("ivf build: encode + write codes")
    // one file per inverted list (cells are the unit a probe reads);
    // codes.parquet is written LAST among the parquet artifacts — its
    // _SUCCESS stays the completion marker [[ivfIndexExists]] checks
    codes.join(cellAssign, Seq("vec_id"))
      .repartition(col("cell"))
      .write.mode("overwrite").partitionBy("cell")
      .parquet(s"$tmp/codes.parquet")
    spark.sparkContext.setJobDescription("ivf build: manifest read-backs")
    // manifest written from READ-BACKS of the temp artifacts (proving
    // each is loadable — the same checks as before, now issued
    // concurrently, §2.6), then the atomic publish
    val rows = inParallel(
      () => spark.read.parquet(s"$tmp/centroids.parquet").count(),
      () => spark.read.parquet(s"$tmp/codebooks.parquet").count(),
      () => spark.read.parquet(s"$tmp/codes.parquet").count())
    val (rowsCentroids, rowsCodebooks, rowsCodes) = (rows(0), rows(1), rows(2))
    spark.sparkContext.setJobDescription(null)
    val manifest =
      s"""{"params": "$IvfParams",
         | "corpus": "$sfDir",
         | "corpus_fingerprint": "${corpusFingerprint(spark, sfDir)}",
         | "n_vectors": $nVectors,
         | "rows_centroids": $rowsCentroids,
         | "rows_codebooks": $rowsCodebooks,
         | "rows_codes": $rowsCodes}""".stripMargin
    val out = fs.create(new org.apache.hadoop.fs.Path(s"$tmp/manifest.json"), true)
    try out.write(manifest.getBytes("UTF-8")) finally out.close()
    fs.mkdirs(dst.getParent)
    if (overwrite && fs.exists(dst)) fs.delete(dst, true)
    if (!fs.rename(tmp, dst)) {
      // rename refused: a concurrent builder published first. Their
      // complete index is as good as ours — drop the temp and use it.
      fs.delete(tmp, true)
      if (!ivfIndexExists(spark, dir)) throw new IllegalStateException(
        s"ivf index build: could not publish $tmp to $dir and no complete " +
          s"index is present — filesystem refused the rename.")
    }
  }

  /** Query pass against the PERSISTED IVF-PQ index — the amortized
    * production path ([[embIvfBuild]] runs once; this runs per query
    * batch). Reads centroids + codebooks (broadcast-sized) and ONLY the
    * probed cells' inverted lists from `codes.parquet` — the probed
    * cell set (nprobe × |Q| ≤ 20 scalars here; bounded driver state of
    * the BPE-merge-table class) is inlined as a literal partition
    * filter, so the parquet scan prunes the unprobed directories on
    * disk. ADC-scores the pruned codes against the per-query LUT, then
    * re-ranks the top `cand` exactly against the live corpus. Builds
    * the index first if missing (self-sufficient; the bench warmup
    * absorbs the build, so the timed run measures pure query cost —
    * index REUSE, which IvfIndexSpec asserts by mtime). Identical
    * output to [[embIvfPq]] — same oracle, end-to-end: a stale or
    * corrupt index hash-fails the driver gate.
    */
  def embIvfQuery(spark: SparkSession, sfDir: String): DataFrame = {
    val dir = ivfIndexDir(spark, sfDir)
    if (!ivfIndexExists(spark, dir)) buildIvfIndex(spark, sfDir, dir)
    verifyIvfManifest(spark, sfDir, dir)
    val piv = spark.read.parquet(s"$dir/centroids.parquet")
    val cent = spark.read.parquet(s"$dir/codebooks.parquet")
    val e = withVec(Tables.embeddings(spark, sfDir))
      .select(col("vec_id"), col("v"))
    val q = e.filter(col("vec_id") < 10)
      .select(col("vec_id").as("q_id"), col("v").as("qv"))
      .transform(CacheScope.barrier) // probes, LUT, and re-rank all reuse
    val wProbe = Window.partitionBy(col("q_id"))
      .orderBy(col("pcos").desc, col("p_id").asc)
    val probes = q.join(broadcast(piv), lit(true))
      .withColumn("pcos", expr("cosine_sim(qv, pv)"))
      .withColumn("rn", row_number().over(wProbe))
      .filter(col("rn") <= 2)
      .select(col("q_id"), col("p_id").as("cell"))
      .transform(CacheScope.barrier) // partition filter + ADC join share it
    val probedCells = probes.select(col("cell").cast("long")).distinct()
      .collect().map(_.getLong(0)).sorted.toIndexedSeq
    val codes = spark.read.parquet(s"$dir/codes.parquet")
      .filter(col("cell").isin(probedCells: _*))
    val lut = pqSub(q.select(col("q_id").as("vec_id"), col("qv").as("v")), 16)
      .join(broadcast(cent), Seq("s"))
      .select(col("vec_id").as("q_id"), col("s"), col("c_id").as("code"),
        expr(l2Sql("sv", "cv")).as("pd"))
    val wA = Window.partitionBy(col("q_id"))
      .orderBy(col("adist").asc, col("n_id").asc)
    val cands = codes.join(broadcast(probes), Seq("cell"))
      .filter(col("q_id") =!= col("vec_id"))
      .join(broadcast(lut), Seq("q_id", "s", "code"))
      .groupBy(col("q_id"), col("vec_id").as("n_id"))
      .agg((sum(col("pd")) / lit(1e12)).as("adist"))
      .withColumn("arank", row_number().over(wA))
      .filter(col("arank") <= 30)
      .select(col("q_id"), col("n_id"))
    val wE = Window.partitionBy(col("q_id"))
      .orderBy(col("cos").desc, col("n_id").asc)
    cands.join(e.select(col("vec_id").as("n_id"), col("v").as("cv")), Seq("n_id"))
      .join(broadcast(q), Seq("q_id"))
      .withColumn("cos", expr("cosine_sim(qv, cv)"))
      .withColumn("rank", row_number().over(wE))
      .filter(col("rank") <= 5)
      .select(col("q_id"), col("rank"), col("n_id"), round(col("cos"), 6).as("cos"))
  }

  /** DuckDB twin of [[embIvfBuild]]'s returned stats: the same
    * deterministic coarse + PQ training chains re-derived in SQL, per-cell
    * vector counts and code checksums. */
  val embIvfBuildSql: String =
    s"""WITH $ivfCellProbeCtes,
       |${pqCtesDuck("p", m = 16, k = 64, iters = 2)}
       |SELECT c.cell, count(DISTINCT co.vec_id) AS n_vectors,
       |  CAST(sum(co.code) AS BIGINT) AS code_sum
       |FROM pcodes co JOIN cells c ON co.vec_id = c.vec_id
       |GROUP BY c.cell""".stripMargin

  /** [[embIvfQuery]] emits exactly [[embIvfPq]]'s rows — same oracle. */
  val embIvfQuerySql: String = embIvfPqSql

  /** Scalar-quantized (SQ8) ANN with exact re-rank — the memory-compression
    * tier between brute force and PQ: each dimension is affinely mapped to
    * an int8 code via per-dimension corpus min/max, so a 64-dim float
    * vector becomes 64 bytes (4× smaller; 16× vs the double working form).
    * The approximate scan ranks by asymmetric cosine — full-precision
    * query against DEQUANTIZED corpus codes (bucket midpoints) — keeps the
    * top `cand` per query, then fetches the full vectors for those
    * candidates only and re-ranks exactly. The standard FAISS
    * `SQ8,Flat`-refine recipe, expressed as three joins.
    *
    * 100 TB shape: the dimension-stats pass is one slim aggregate
    * broadcast back as a 1-row frame (the intended nested loop, like the
    * kNN query broadcast); the approximate scan streams CODES (64 B/row,
    * 4× the scan throughput of raw floats) against broadcast queries; the
    * exact re-rank touches |Q|·cand rows via an id equijoin — the only
    * access to full-precision vectors after quantization. All arithmetic
    * is the same sequential double fold as [[embKnn]], so the DuckDB twin
    * is bit-exact (quantize = floor((v−mn)/(mx−mn)·256) clamped to 255,
    * identical operation order both sides).
    */
  def embSq8Knn(spark: SparkSession, sfDir: String): DataFrame =
    embSq8Knn(spark, sfDir, cand = 20, topK = 5)

  def embSq8Knn(spark: SparkSession, sfDir: String, cand: Int, topK: Int): DataFrame = {
    val e = withVec(Tables.embeddings(spark, sfDir))
      .select(col("vec_id"), col("v"))
      .transform(CacheScope.barrier) // stats pass, code pass, queries, re-rank fetch
    val stats = e.select(posexplode(col("v")).as(Seq("pos", "x")))
      .groupBy(col("pos")).agg(min(col("x")).as("mn"), max(col("x")).as("mx"))
      .groupBy().agg(
        expr("transform(sort_array(collect_list(struct(pos, mn))), z -> z.mn)").as("mns"),
        expr("transform(sort_array(collect_list(struct(pos, mx))), z -> z.mx)").as("mxs"))
    val codes = e.crossJoin(broadcast(stats))
      .select(col("vec_id").as("n_id"),
        expr(s"""transform(sequence(1, $dims), i ->
                |  IF(element_at(mxs, i) = element_at(mns, i), CAST(0 AS BIGINT),
                |     least(CAST(255 AS BIGINT),
                |       CAST(floor((element_at(v, i) - element_at(mns, i)) /
                |         (element_at(mxs, i) - element_at(mns, i)) * 256) AS BIGINT))))""".stripMargin)
          .as("code"))
    val q = e.filter(col("vec_id") < 10)
      .select(col("vec_id").as("q_id"), col("v").as("qv"))
    val wA = Window.partitionBy(col("q_id")).orderBy(col("acos").desc, col("n_id").asc)
    val cands = codes.crossJoin(broadcast(stats))
      .withColumn("dec",
        expr(s"""transform(sequence(1, $dims), i ->
                |  element_at(mns, i) + (element_at(code, i) + 0.5D) *
                |    (element_at(mxs, i) - element_at(mns, i)) / 256)""".stripMargin))
      .join(broadcast(q), col("q_id") =!= col("n_id"))
      .withColumn("acos", expr("cosine_sim(qv, dec)"))
      .withColumn("arank", row_number().over(wA))
      .filter(col("arank") <= cand)
      .select(col("q_id"), col("n_id"))
    val wE = Window.partitionBy(col("q_id")).orderBy(col("cos").desc, col("n_id").asc)
    cands
      .join(e.select(col("vec_id").as("n_id"), col("v").as("cv")), Seq("n_id"))
      .join(broadcast(q), Seq("q_id"))
      .withColumn("cos", expr("cosine_sim(qv, cv)"))
      .withColumn("rank", row_number().over(wE))
      .filter(col("rank") <= topK)
      .select(col("q_id"), col("rank"), col("n_id"), round(col("cos"), 6).as("cos"))
  }

  /** DuckDB twin of [[embSq8Knn]] (cand=20, top-5). */
  val embSq8KnnSql: String =
    s"""WITH s AS (
       |  SELECT vec_id, list_transform(embedding, x -> x::DOUBLE) AS v
       |  FROM embeddings),
       |d AS (
       |  SELECT i, min(v[i]) AS mn, max(v[i]) AS mx
       |  FROM s, range(1, ${dims + 1}) t(i) GROUP BY i),
       |st AS (SELECT list(mn ORDER BY i) AS mns, list(mx ORDER BY i) AS mxs FROM d),
       |codes AS (
       |  SELECT vec_id, list_transform(range(1, ${dims + 1}), i ->
       |    CASE WHEN mxs[i] = mns[i] THEN 0::BIGINT
       |         ELSE least(255::BIGINT,
       |           floor((v[i] - mns[i]) / (mxs[i] - mns[i]) * 256)::BIGINT) END) AS code
       |  FROM s, st),
       |dec AS (
       |  SELECT vec_id, list_transform(range(1, ${dims + 1}), i ->
       |    mns[i] + (code[i] + 0.5) * (mxs[i] - mns[i]) / 256) AS dv
       |  FROM codes, st),
       |qn AS (
       |  SELECT vec_id AS q_id, v AS qv,
       |    sqrt(list_sum(list_transform(range(1, ${dims + 1}), i -> v[i] * v[i]))) AS qnrm
       |  FROM s WHERE vec_id < 10),
       |dn AS (
       |  SELECT vec_id AS n_id, dv,
       |    sqrt(list_sum(list_transform(range(1, ${dims + 1}), i -> dv[i] * dv[i]))) AS dnrm
       |  FROM dec),
       |cand AS (
       |  SELECT q_id, n_id FROM (
       |    SELECT q_id, n_id,
       |      row_number() OVER (PARTITION BY q_id ORDER BY
       |        list_sum(list_transform(range(1, ${dims + 1}), i -> qv[i] * dv[i]))
       |          / (qnrm * dnrm) DESC, n_id ASC) AS arank
       |    FROM qn, dn WHERE q_id <> n_id)
       |  WHERE arank <= 20),
       |full_n AS (
       |  SELECT vec_id AS n_id, v AS cv,
       |    sqrt(list_sum(list_transform(range(1, ${dims + 1}), i -> v[i] * v[i]))) AS cnrm
       |  FROM s)
       |SELECT q_id, rank, n_id, round(cos, 6) AS cos FROM (
       |  SELECT c.q_id, c.n_id,
       |    list_sum(list_transform(range(1, ${dims + 1}), i -> qn.qv[i] * f.cv[i]))
       |      / (qn.qnrm * f.cnrm) AS cos,
       |    row_number() OVER (PARTITION BY c.q_id ORDER BY
       |      list_sum(list_transform(range(1, ${dims + 1}), i -> qn.qv[i] * f.cv[i]))
       |        / (qn.qnrm * f.cnrm) DESC, c.n_id ASC) AS rank
       |  FROM cand c JOIN qn ON c.q_id = qn.q_id JOIN full_n f ON c.n_id = f.n_id)
       |WHERE rank <= 5""".stripMargin

  /** Binary-quantized (BQ) ANN with exact re-rank — the extreme end of
    * the compression ladder (double 512 B → SQ8 64 B → PQ 8 B → BQ
    * 8 B-as-ONE-LONG per vector): each dimension contributes one sign
    * bit relative to the per-dimension corpus midpoint ((min+max)/2 —
    * min/max are fold-order-free, so the centering is bit-exact in both
    * engines, the same reason [[embSq8Knn]] quantizes against min/max
    * rather than the mean). Candidates rank by Hamming distance —
    * `bit_count(qb ^ nb)`, two machine instructions per comparison —
    * and the top `cand` re-rank exactly, the standard
    * binary-quantization recipe of the modern vector stores.
    *
    * 100 TB shape: the stats pass is one slim aggregate broadcast back
    * as a 1-row frame; the candidate scan streams 8-byte codes (64×
    * less IO than the double working form) against broadcast query
    * bits; the exact re-rank touches |Q|·cand rows via an id equijoin.
    * The bit packing ORs `shiftleft(1, i-1)` terms — bit 63 lands on
    * the sign bit, which both engines treat identically under `|`,
    * `xor`, and `bit_count` (the DuckDB twin spells Long.MinValue as
    * `-9223372036854775807 - 1` because `1 << 63` overflows there).
    */
  def embBqKnn(spark: SparkSession, sfDir: String): DataFrame =
    embBqKnn(spark, sfDir, cand = 100, topK = 5)

  def embBqKnn(spark: SparkSession, sfDir: String, cand: Int, topK: Int): DataFrame = {
    // one LONG holds exactly 64 sign bits; >64 dims needs an array<bigint>
    // packing (and the DuckDB twin's sign-bit branch assumes bit 63 = i 64)
    require(dims <= 64, s"BQ packs sign bits into one BIGINT; dims=$dims > 64")
    val e = withVec(Tables.embeddings(spark, sfDir))
      .select(col("vec_id"), col("v"))
      .transform(CacheScope.barrier) // stats pass, bit pass, queries, re-rank fetch
    val stats = e.select(posexplode(col("v")).as(Seq("pos", "x")))
      .groupBy(col("pos")).agg(min(col("x")).as("mn"), max(col("x")).as("mx"))
      .groupBy().agg(
        expr("transform(sort_array(collect_list(struct(pos, mn))), z -> z.mn)").as("mns"),
        expr("transform(sort_array(collect_list(struct(pos, mx))), z -> z.mx)").as("mxs"))
    val bits = e.crossJoin(broadcast(stats))
      .select(col("vec_id"),
        expr(s"""aggregate(sequence(1, $dims), CAST(0 AS BIGINT), (acc, i) ->
                |  acc | IF(element_at(v, i) >
                |             (element_at(mns, i) + element_at(mxs, i)) / 2,
                |           shiftleft(CAST(1 AS BIGINT), i - 1), CAST(0 AS BIGINT)))""".stripMargin)
          .as("nb"))
    val qb = bits.filter(col("vec_id") < 10)
      .select(col("vec_id").as("q_id"), col("nb").as("qbits"))
    val q = e.filter(col("vec_id") < 10)
      .select(col("vec_id").as("q_id"), col("v").as("qv"))
    val wH = Window.partitionBy(col("q_id")).orderBy(col("ham").asc, col("n_id").asc)
    val cands = bits.select(col("vec_id").as("n_id"), col("nb"))
      .join(broadcast(qb), col("q_id") =!= col("n_id"))
      .withColumn("ham", expr("bit_count(qbits ^ nb)"))
      .withColumn("hrank", row_number().over(wH))
      .filter(col("hrank") <= cand)
      .select(col("q_id"), col("n_id"))
    val wE = Window.partitionBy(col("q_id")).orderBy(col("cos").desc, col("n_id").asc)
    cands
      .join(e.select(col("vec_id").as("n_id"), col("v").as("cv")), Seq("n_id"))
      .join(broadcast(q), Seq("q_id"))
      .withColumn("cos", expr("cosine_sim(qv, cv)"))
      .withColumn("rank", row_number().over(wE))
      .filter(col("rank") <= topK)
      .select(col("q_id"), col("rank"), col("n_id"), round(col("cos"), 6).as("cos"))
  }

  /** Shared CTE chain for the BQ twins: midpoints → sign bits → Hamming
    * candidates → exact-ranked candidates. Reused by `embBqRecallSql`.
    */
  private val embBqKnnCtes: String =
    s"""s AS (
       |  SELECT vec_id, list_transform(embedding, x -> x::DOUBLE) AS v
       |  FROM embeddings),
       |d AS (
       |  SELECT i, min(v[i]) AS mn, max(v[i]) AS mx
       |  FROM s, range(1, ${dims + 1}) t(i) GROUP BY i),
       |st AS (SELECT list((mn + mx) / 2 ORDER BY i) AS cs FROM d),
       |bits AS (
       |  SELECT vec_id, list_reduce(list_transform(range(1, ${dims + 1}), i ->
       |    CASE WHEN v[i] > cs[i]
       |         THEN CASE WHEN i = 64 THEN (-9223372036854775807 - 1)::BIGINT
       |                   ELSE 1::BIGINT << (i - 1) END
       |         ELSE 0::BIGINT END), (a, b) -> a | b) AS nb
       |  FROM s, st),
       |qb AS (SELECT vec_id AS q_id, nb AS qbits FROM bits WHERE vec_id < 10),
       |cand AS (
       |  SELECT q_id, n_id FROM (
       |    SELECT qb.q_id, b.vec_id AS n_id,
       |      row_number() OVER (PARTITION BY qb.q_id ORDER BY
       |        bit_count(xor(qb.qbits, b.nb)) ASC, b.vec_id ASC) AS hrank
       |    FROM bits b, qb WHERE b.vec_id <> qb.q_id)
       |  WHERE hrank <= 100),
       |qn AS (
       |  SELECT vec_id AS q_id, v AS qv,
       |    sqrt(list_sum(list_transform(range(1, ${dims + 1}), i -> v[i] * v[i]))) AS qnrm
       |  FROM s WHERE vec_id < 10),
       |full_n AS (
       |  SELECT vec_id AS n_id, v AS cv,
       |    sqrt(list_sum(list_transform(range(1, ${dims + 1}), i -> v[i] * v[i]))) AS cnrm
       |  FROM s),
       |bq_ranked AS (
       |  SELECT c.q_id, c.n_id,
       |    list_sum(list_transform(range(1, ${dims + 1}), i -> qn.qv[i] * f.cv[i]))
       |      / (qn.qnrm * f.cnrm) AS cos,
       |    row_number() OVER (PARTITION BY c.q_id ORDER BY
       |      list_sum(list_transform(range(1, ${dims + 1}), i -> qn.qv[i] * f.cv[i]))
       |        / (qn.qnrm * f.cnrm) DESC, c.n_id ASC) AS rank
       |  FROM cand c JOIN qn ON c.q_id = qn.q_id JOIN full_n f ON c.n_id = f.n_id)""".stripMargin

  /** DuckDB twin of [[embBqKnn]] (cand=100, top-5). */
  val embBqKnnSql: String =
    s"""WITH $embBqKnnCtes
       |SELECT q_id, rank, n_id, round(cos, 6) AS cos FROM bq_ranked
       |WHERE rank <= 5""".stripMargin

  /** Recall@5 of the binary-quantized ANN against brute force — the
    * audit row for the 1-bit tier, like [[embRecall]] for IVF and
    * [[embRpRecall]] for the JL projection. A miss means the true
    * neighbor's Hamming distance put it outside the `cand` candidates
    * (sign-bit distortion); widening `cand` raises it.
    */
  def embBqRecall(spark: SparkSession, sfDir: String): DataFrame = {
    val exact = embKnn(spark, sfDir).select(col("q_id"), col("n_id"))
    val bq = embBqKnn(spark, sfDir)
      .select(col("q_id"), col("n_id"), lit(1L).as("hit"))
    exact.join(bq, Seq("q_id", "n_id"), "left")
      .groupBy(col("q_id"))
      .agg(round(sum(coalesce(col("hit"), lit(0L))) / 5.0, 4).as("recall_at_5"))
  }

  val embBqRecallSql: String =
    s"""WITH $embBqKnnCtes,
       |bq AS (SELECT q_id, n_id FROM bq_ranked WHERE rank <= 5),
       |exact AS (
       |  SELECT q_id, n_id FROM (
       |    SELECT qn.q_id, f.n_id,
       |      row_number() OVER (PARTITION BY qn.q_id ORDER BY
       |        list_sum(list_transform(range(1, ${dims + 1}), i -> qn.qv[i] * f.cv[i]))
       |          / (qn.qnrm * f.cnrm) DESC, f.n_id ASC) AS rank
       |    FROM qn JOIN full_n f ON qn.q_id <> f.n_id)
       |  WHERE rank <= 5)
       |SELECT e.q_id,
       |  round(sum(CASE WHEN b.n_id IS NOT NULL THEN 1 ELSE 0 END) / 5.0, 4)
       |    AS recall_at_5
       |FROM exact e LEFT JOIN bq b ON e.q_id = b.q_id AND e.n_id = b.n_id
       |GROUP BY e.q_id""".stripMargin

  /** Shared CTE chain for the trained-IVF oracle: kmeans rounds → pivots
    * → cell assignment → query probes → ranked candidates. Reused by
    * `embRecallSql`, whose exact side reuses the same `n` CTE.
    */
  /** Trained coarse quantizer CTEs — `piv` (16 trained centroids),
    * `cells` (every vector's Voronoi cell), `probes` (queries × their
    * nprobe=2 nearest cells) — shared by the trained-IVF, IVF-recall,
    * and IVF-PQ twins. */
  private def ivfCellProbeCtes: String =
    s"""${kmeansCtes(k = 16, iters = 2)},
       |piv AS (
       |  SELECT c_id AS p_id, cv AS pv,
       |    sqrt(list_sum(list_transform(range(1, ${dims + 1}), j -> cv[j] * cv[j]))) AS pn
       |  FROM c2),
       |cells AS (
       |  SELECT vec_id, v, vn, p_id AS cell FROM (
       |    SELECT n.vec_id, n.v, n.vn, piv.p_id,
       |      row_number() OVER (PARTITION BY n.vec_id ORDER BY
       |        list_sum(list_transform(range(1, ${dims + 1}), i -> n.v[i] * piv.pv[i]))
       |          / (n.vn * piv.pn) DESC, piv.p_id ASC) AS rn
       |    FROM n, piv)
       |  WHERE rn = 1),
       |probes AS (
       |  SELECT q_id, qv, qn, p_id AS cell FROM (
       |    SELECT n.vec_id AS q_id, n.v AS qv, n.vn AS qn, piv.p_id,
       |      row_number() OVER (PARTITION BY n.vec_id ORDER BY
       |        list_sum(list_transform(range(1, ${dims + 1}), i -> n.v[i] * piv.pv[i]))
       |          / (n.vn * piv.pn) DESC, piv.p_id ASC) AS rn
       |    FROM n, piv WHERE n.vec_id < 10)
       |  WHERE rn <= 2)""".stripMargin

  private def ivfTrainedCtes: String =
    s"""$ivfCellProbeCtes,
       |ivf_ranked AS (
       |  SELECT p.q_id, c.vec_id AS n_id,
       |    list_sum(list_transform(range(1, ${dims + 1}), i -> p.qv[i] * c.v[i]))
       |      / (p.qn * c.vn) AS cos,
       |    row_number() OVER (PARTITION BY p.q_id ORDER BY
       |      list_sum(list_transform(range(1, ${dims + 1}), i -> p.qv[i] * c.v[i]))
       |        / (p.qn * c.vn) DESC, c.vec_id ASC) AS rank
       |  FROM probes p JOIN cells c ON p.cell = c.cell AND p.q_id <> c.vec_id)""".stripMargin

  val embIvfTrainedSql: String =
    s"""WITH $ivfTrainedCtes
       |SELECT q_id, rank, n_id, round(cos, 6) AS cos
       |FROM ivf_ranked WHERE rank <= 5""".stripMargin

  /** Recall@5 of the trained-IVF ANN against brute force — the quality
    * gauge every ANN deployment runs before trusting a structure. Both
    * sides are the already-oracle-gated queries; the join is per-query
    * top-5 id sets, so the whole measurement costs two small joins over
    * frames the library already computes. A missing IVF hit means a
    * true neighbor's cell wasn't probed — recall rises with nprobe
    * (AccuracySpec asserts the monotonicity for the LSH family).
    */
  def embRecall(spark: SparkSession, sfDir: String): DataFrame = {
    val exact = embKnn(spark, sfDir).select(col("q_id"), col("n_id"))
    val ivf = embIvfTrained(spark, sfDir)
      .select(col("q_id"), col("n_id"), lit(1L).as("hit"))
    exact.join(ivf, Seq("q_id", "n_id"), "left")
      .groupBy(col("q_id"))
      .agg(round(sum(coalesce(col("hit"), lit(0L))) / 5.0, 4).as("recall_at_5"))
  }

  val embRecallSql: String =
    s"""WITH $ivfTrainedCtes,
       |ivf AS (SELECT q_id, n_id FROM ivf_ranked WHERE rank <= 5),
       |exact AS (
       |  SELECT q_id, n_id FROM (
       |    SELECT q.vec_id AS q_id, c.vec_id AS n_id,
       |      row_number() OVER (PARTITION BY q.vec_id ORDER BY
       |        list_sum(list_transform(range(1, ${dims + 1}), i -> q.v[i] * c.v[i]))
       |          / (q.vn * c.vn) DESC, c.vec_id ASC) AS rank
       |    FROM n q JOIN n c ON q.vec_id < 10 AND q.vec_id <> c.vec_id)
       |  WHERE rank <= 5)
       |SELECT e.q_id,
       |  round(sum(CASE WHEN i.n_id IS NOT NULL THEN 1 ELSE 0 END) / 5.0, 4)
       |    AS recall_at_5
       |FROM exact e LEFT JOIN ivf i ON e.q_id = i.q_id AND e.n_id = i.n_id
       |GROUP BY e.q_id""".stripMargin

  /** Exact maximum-inner-product top-5 (MIPS) — the scoring form
    * recommendation / retrieval rankers use when embeddings carry
    * meaningful norms (cosine deliberately discards them). Same
    * broadcast-queries / streaming-corpus / per-partition-window shape
    * as [[embKnn]]; only the score changes (raw dot, no normalization).
    * The classic norm-augmentation reduction (MIPS → cosine on a d+1
    * space) matters when plugging MIPS into an LSH index — here the
    * exact tier is the oracle-able baseline those variants re-rank
    * against.
    */
  def embMipsKnn(spark: SparkSession, sfDir: String): DataFrame = {
    val e = withVec(Tables.embeddings(spark, sfDir))
    val q = e.filter(col("vec_id") < 10)
      .select(col("vec_id").as("q_id"), col("v").as("qv"))
    val c = e.select(col("vec_id").as("n_id"), col("v").as("cv"))
    val w = Window.partitionBy(col("q_id"))
      .orderBy(col("dot").desc, col("n_id").asc)
    c.join(broadcast(q), col("q_id") =!= col("n_id"))
      .withColumn("dot", expr("dot_product(qv, cv)"))
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= 5)
      .select(col("q_id"), col("rank"), col("n_id"), round(col("dot"), 6).as("dot"))
  }

  val embMipsKnnSql: String =
    s"""WITH s AS (
       |  SELECT vec_id, list_transform(embedding, x -> x::DOUBLE) AS v
       |  FROM embeddings),
       |scored AS (
       |  SELECT q.vec_id AS q_id, c.vec_id AS n_id,
       |    list_sum(list_transform(range(1, ${dims + 1}), i -> q.v[i] * c.v[i])) AS dot
       |  FROM s q JOIN s c ON q.vec_id < 10 AND q.vec_id <> c.vec_id)
       |SELECT q_id, rank, n_id, round(dot, 6) AS dot FROM (
       |  SELECT q_id, n_id, dot,
       |    row_number() OVER (PARTITION BY q_id ORDER BY dot DESC, n_id ASC) AS rank
       |  FROM scored)
       |WHERE rank <= 5""".stripMargin

  /** Exact cosine RANGE search (FAISS `range_search`): every corpus
    * neighbor of each query with similarity ≥ `radius`, not a fixed k —
    * the retrieval form dedup thresholds and "find everything this
    * similar" audits need (top-k under-returns in dense regions and
    * pads with noise in sparse ones).
    *
    * Same scale shape as [[embKnn]]: the bounded query set broadcasts,
    * the corpus STREAMS through the similarity filter — no shuffle at
    * all (unlike top-k there is no window/rank, so the plan is scan →
    * broadcast-hash-join → filter, entirely pipelined in one codegen
    * stage per task). For corpus×corpus radius search use the bucketed
    * [[embNeardupLsh]]/[[embNeardupMultiprobe]] family instead.
    */
  def embRangeSearch(spark: SparkSession, sfDir: String): DataFrame =
    embRangeSearch(spark, sfDir, radius = 0.3)

  def embRangeSearch(spark: SparkSession, sfDir: String, radius: Double): DataFrame = {
    val e = withVec(Tables.embeddings(spark, sfDir))
    val q = e.filter(col("vec_id") < 10)
      .select(col("vec_id").as("q_id"), col("v").as("qv"))
    val c = e.select(col("vec_id").as("n_id"), col("v").as("cv"))
    c.join(broadcast(q), col("q_id") =!= col("n_id"))
      .withColumn("cos", expr("cosine_sim(qv, cv)"))
      .filter(col("cos") >= radius)
      .select(col("q_id"), col("n_id"), round(col("cos"), 6).as("cos"))
  }

  val embRangeSearchSql: String =
    s"""WITH s AS (
       |  SELECT vec_id, list_transform(embedding, x -> x::DOUBLE) AS v
       |  FROM embeddings),
       |n AS (
       |  SELECT vec_id, v,
       |    sqrt(list_sum(list_transform(range(1, ${dims + 1}), i -> v[i] * v[i]))) AS nrm
       |  FROM s)
       |SELECT q_id, n_id, round(cos, 6) AS cos FROM (
       |  SELECT q.vec_id AS q_id, c.vec_id AS n_id,
       |    list_sum(list_transform(range(1, ${dims + 1}), i -> q.v[i] * c.v[i]))
       |      / (q.nrm * c.nrm) AS cos
       |  FROM n q JOIN n c ON q.vec_id < 10 AND q.vec_id <> c.vec_id)
       |WHERE cos >= 0.3""".stripMargin

  /** Distance-based outlier detection over the embedding corpus: train
    * k-means ([[lloyd]]), assign every vector to its nearest FINAL
    * centroid, and flag vectors whose best-centroid cosine falls below
    * `maxCos` — the cluster-distance outlier filter data-curation
    * pipelines run to drop off-manifold embeddings (garbled decodes,
    * wrong-modality rows) before dedup/sampling, and the same quantity
    * FAISS users read as quantizer residual.
    *
    * Scale shape: the k·d centroid table broadcasts (corpus-size-
    * independent); the corpus streams once through assign + filter —
    * the only exchange is inside the k-means fit, whose per-round
    * shuffle carries k·d rounded partial means, not vectors.
    */
  def embOutlier(spark: SparkSession, sfDir: String): DataFrame =
    embOutlier(spark, sfDir, k = 8, iters = 2, maxCos = 0.2)

  def embOutlier(spark: SparkSession, sfDir: String,
                 k: Int, iters: Int, maxCos: Double): DataFrame = {
    val e = withVec(Tables.embeddings(spark, sfDir))
      .select(col("vec_id"), col("v")).transform(CacheScope.barrier)
    val cent = lloyd(e, k, iters)._1
      .select(col("c_id"), col("cv")).transform(CacheScope.barrier)
    val w = Window.partitionBy(col("vec_id"))
      .orderBy(col("cos").desc, col("c_id").asc)
    e.join(broadcast(cent), lit(true))
      .withColumn("cos", expr("cosine_sim(v, cv)"))
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") === 1 && col("cos") < maxCos)
      .select(col("vec_id"), col("c_id"), round(col("cos"), 6).as("cos"))
  }

  val embOutlierSql: String =
    s"""WITH ${kmeansCtes(k = 8, iters = 2)},
       |assign AS (
       |  SELECT vec_id, c_id, cos FROM (
       |    SELECT n.vec_id, c.c_id,
       |      ${kmeansCosSql("n.v", "n.vn", "c.cv")} AS cos,
       |      row_number() OVER (PARTITION BY n.vec_id ORDER BY
       |        ${kmeansCosSql("n.v", "n.vn", "c.cv")} DESC, c.c_id ASC) AS rn
       |    FROM n, c2 c)
       |  WHERE rn = 1)
       |SELECT vec_id, c_id, round(cos, 6) AS cos
       |FROM assign WHERE cos < 0.2""".stripMargin

  // ───────────────────────────── PCA family ─────────────────────────────

  /** Population covariance matrix of the embedding corpus — the model-fit
    * input for PCA whitening (the standard preprocessing before SemDeDup /
    * IVF training; FAISS ships it as `PCAMatrix`). Upper triangle only
    * (i ≤ j), 1-based-free integer dim indices, d(d+1)/2 = 2080 rows.
    *
    * Determinism recipe: elements are quantized ONCE to the integer
    * milli-grid (`round(x·1000)` — exact BIGINT), so every second-moment
    * and dim sum is an integer total that no fold order can perturb; the
    * final `(Σxy − ΣxΣy/n)/n` runs the SAME correctly-rounded IEEE ops in
    * both engines on those exact integers, so the emitted doubles are
    * bit-identical with no rounding step (a `round(…, k)` here would
    * re-introduce the half-tie hazard this recipe exists to avoid).
    *
    * Scale shape: one per-row flat-map to 2080 slim (i, j, prod) terms,
    * collapsed map-side by the hash aggregate — the only exchange carries
    * ≤ 2080 partial rows per task regardless of corpus size; dim sums and
    * the count ride the same pattern and attach via broadcast.
    */
  def embCov(spark: SparkSession, sfDir: String): DataFrame =
    embCovOf(Tables.embeddings(spark, sfDir))

  /** One-pass exact moment fit: [n, s_0..s_{d-1}, upper-triangle p_ij]
    * as BIGINTs via the fused [[graft.functions.CovMoments]] buffer —
    * the corpus is scanned once and the only exchange is ONE ~17 KB
    * buffer per map task (partial + final). The first cut exploded
    * d(d+1)/2 product structs per row into a 2080-key hash aggregate:
    * 2.1 s at sf0.1 vs ~0.3 s for this shape, and the gap is pure
    * shuffle-row count — the arithmetic is identical, fold-order-free
    * integers either way.
    */
  private[graft] def covMomentsOf(emb: DataFrame): Array[Long] = {
    val covAgg = udaf(new graft.functions.CovMoments(dims))
    emb.select(
        expr("transform(embedding, x -> CAST(round(CAST(x AS DOUBLE) * 1000) AS BIGINT))")
          .as("vq"))
      .agg(covAgg(col("vq")).as("b"))
      .head().getSeq[Long](0).toArray
  }

  private def triIndex(i: Int, j: Int): Int = // row-major upper triangle
    i * dims - i * (i - 1) / 2 + (j - i)

  /** The fit's physical plan, for PlanSpec's exchange-shape assertion. */
  private[graft] def covMomentsPlanForSpec(spark: SparkSession, sfDir: String)
      : org.apache.spark.sql.execution.SparkPlan = {
    val covAgg = udaf(new graft.functions.CovMoments(dims))
    Tables.embeddings(spark, sfDir).select(
        expr("transform(embedding, x -> CAST(round(CAST(x AS DOUBLE) * 1000) AS BIGINT))")
          .as("vq"))
      .agg(covAgg(col("vq")).as("b"))
      .queryExecution.executedPlan
  }

  /** Core over any frame with an `embedding` array column — the OPQ
    * premise spec drives it with a deliberately correlated mix. The
    * 2080-row result is model-sized, built from the collected buffer
    * with the exact IEEE sequence the previous declarative form (and
    * the DuckDB oracle) computes — hash-identical output.
    */
  def embCovOf(emb: DataFrame): DataFrame = {
    val spark = emb.sparkSession
    import spark.implicits._
    val b = covMomentsOf(emb)
    val n = b(0).toDouble
    val rows = for { i <- 0 until dims; j <- i until dims } yield {
      val sij = b(1 + dims + triIndex(i, j))
      (i.toLong, j.toLong,
        (sij.toDouble - b(1 + i).toDouble * b(1 + j).toDouble / n) / n / 1000000.0)
    }
    rows.toDF("i", "j", "cov")
  }

  val embCovSql: String =
    s"""WITH q AS (
       |  SELECT list_transform(embedding,
       |           x -> CAST(round(x::DOUBLE * 1000) AS BIGINT)) AS vq
       |  FROM embeddings),
       |p AS (
       |  SELECT i, j, sum(vq[i + 1] * vq[j + 1]) AS s_ij
       |  FROM q, generate_series(0, ${dims - 1}) g1(i),
       |       generate_series(0, ${dims - 1}) g2(j)
       |  WHERE i <= j GROUP BY i, j),
       |d AS (
       |  SELECT i, sum(vq[i + 1]) AS s
       |  FROM q, generate_series(0, ${dims - 1}) g(i) GROUP BY i),
       |c AS (SELECT count(*) AS n FROM q)
       |SELECT CAST(p.i AS BIGINT) AS i, CAST(p.j AS BIGINT) AS j,
       |  (CAST(s_ij AS DOUBLE)
       |   - CAST(a.s AS DOUBLE) * CAST(b.s AS DOUBLE) / CAST(n AS DOUBLE))
       |  / CAST(n AS DOUBLE) / 1000000.0 AS cov
       |FROM p, c
       |JOIN d a ON p.i = a.i
       |JOIN d b ON p.j = b.i""".stripMargin

  /** Cyclic Jacobi eigendecomposition of a symmetric matrix — driver-side,
    * O(d³) on a d×d input that is CORPUS-SIZE-INDEPENDENT (d=64 here): the
    * same contract as collecting a broadcast side or k-means init, not a
    * data-sized collect. Returns (eigenvalues desc, row-major eigenvector
    * rows), deterministically: fixed sweep order, fixed convergence
    * threshold, eigenvalue-desc sort with index tie-break, and a sign
    * canon (largest-|component| entry made positive, first index on ties).
    */
  private[graft] def jacobiEigen(m: Array[Array[Double]])
      : (Array[Double], Array[Array[Double]]) = {
    val d = m.length
    val a = m.map(_.clone)
    val v = Array.tabulate(d, d)((r, c) => if (r == c) 1.0 else 0.0)
    var sweep = 0
    var off = Double.MaxValue
    while (sweep < 100 && off > 1e-18) {
      off = 0.0
      for (p <- 0 until d; qi <- p + 1 until d) {
        off = math.max(off, math.abs(a(p)(qi)))
        if (math.abs(a(p)(qi)) > 1e-18) {
          val theta = (a(qi)(qi) - a(p)(p)) / (2.0 * a(p)(qi))
          val t = math.signum(theta) match {
            case 0.0 => 1.0
            case sg  => sg / (math.abs(theta) + math.sqrt(theta * theta + 1.0))
          }
          val c = 1.0 / math.sqrt(t * t + 1.0)
          val s = t * c
          for (k <- 0 until d) {
            val akp = a(k)(p); val akq = a(k)(qi)
            a(k)(p) = c * akp - s * akq
            a(k)(qi) = s * akp + c * akq
          }
          for (k <- 0 until d) {
            val apk = a(p)(k); val aqk = a(qi)(k)
            a(p)(k) = c * apk - s * aqk
            a(qi)(k) = s * apk + c * aqk
          }
          for (k <- 0 until d) {
            val vkp = v(k)(p); val vkq = v(k)(qi)
            v(k)(p) = c * vkp - s * vkq
            v(k)(qi) = s * vkp + c * vkq
          }
        }
      }
      sweep += 1
    }
    val order = (0 until d).sortBy(i => (-a(i)(i), i))
    val vals = order.map(i => a(i)(i)).toArray
    val vecs = order.map { i =>
      val w = Array.tabulate(d)(r => v(r)(i))
      val mx = w.indices.maxBy(k => (math.abs(w(k)), -k))
      if (w(mx) < 0) w.map(x => -x) else w
    }.toArray
    (vals, vecs)
  }

  /** Fit PCA from the corpus: returns (means, eigenvalues desc,
    * eigenvector rows). Collects only the d + d(d+1)/2 model scalars.
    */
  private[graft] def pcaFit(spark: SparkSession, sfDir: String)
      : (Array[Double], Array[Double], Array[Array[Double]]) =
    pcaFitOf(Tables.embeddings(spark, sfDir))

  private[graft] def pcaFitOf(emb: DataFrame)
      : (Array[Double], Array[Double], Array[Array[Double]]) = {
    // one corpus pass serves covariance AND means (the fused buffer);
    // both finalizations keep the exact IEEE sequences of the previous
    // two-pass form, so the fitted model is bit-identical
    val b = covMomentsOf(emb)
    val n = b(0).toDouble
    val m = Array.ofDim[Double](dims, dims)
    for { i <- 0 until dims; j <- i until dims } {
      val c = (b(1 + dims + triIndex(i, j)).toDouble
        - b(1 + i).toDouble * b(1 + j).toDouble / n) / n / 1000000.0
      m(i)(j) = c; m(j)(i) = c
    }
    val means = Array.tabulate(dims)(i => b(1 + i).toDouble / n / 1000.0)
    val (vals, vecs) = jacobiEigen(m)
    (means, vals, vecs)
  }

  /** PCA projection to the top-k principal components — the dimensionality
    * reduction / whitening-precursor step (SemDeDup and FAISS `PCAMatrix`
    * both run it before clustering). Two phases, the [[embKmeans]] /
    * [[embIvfTrained]] pattern: FIT collects the fixed-size d×d model
    * (covariance → Jacobi eigensolve, corpus-size-independent); APPLY is a
    * pure per-row projection with the centered-dot-product folded into one
    * HOF per component, model riding the plan as literals — zero
    * exchanges, no UDF. Output flattened to p0..p{k-1} ([[embRp]]
    * precedent). No SQL oracle (DuckDB has no eigensolver): driver records
    * rows-only; AccuracySpec bounds it against first principles
    * (eigenvalue order, orthonormality, Var(p_k) = λ_k, norm preservation
    * at full k).
    */
  def embPcaProject(spark: SparkSession, sfDir: String): DataFrame =
    embPcaProject(spark, sfDir, k = 8)

  def embPcaProject(spark: SparkSession, sfDir: String, k: Int): DataFrame =
    pcaApply(spark, sfDir, k, whiten = false)

  /** PCA whitening — the projection scaled to unit variance per component
    * (w_k / √λ_k), the exact preprocessing SemDeDup/FAISS apply before
    * cosine clustering so no principal direction dominates the metric.
    * Same fit/apply split as [[embPcaProject]]; the scale factor folds
    * into the literal row weights, so apply cost is identical.
    */
  def embWhiten(spark: SparkSession, sfDir: String): DataFrame =
    embWhiten(spark, sfDir, k = 8)

  def embWhiten(spark: SparkSession, sfDir: String, k: Int): DataFrame =
    pcaApply(spark, sfDir, k, whiten = true)

  /** OPQ-style ANN — PQ after an orthonormal PRE-ROTATION of the corpus
    * (the FAISS `OPQ..,PQ..` pre-transform idea, Ge et al. CVPR'13,
    * using the PCA rotation — OPQ's non-parametric initialization): PQ's
    * per-subspace codebooks waste bits when variance is unevenly spread
    * and correlated across the arbitrary dim/m slicing; rotating into
    * the PCA basis decorrelates coordinates first, so the same m×k code
    * budget quantizes with lower error. Pipeline: fit the rotation
    * ([[pcaFit]] — covariance + Jacobi, corpus-size-independent model),
    * rotate every vector (per-row matrix product with the d×d rotation
    * as plan literals, zero exchanges — the [[embPcaProject]] apply
    * shape at full d), then the UNCHANGED [[embPq]] train/encode/ADC
    * chain on the rotated corpus; queries rotate with the same literals,
    * so ADC distances approximate rotated L2 = original L2 (orthonormal
    * invariance).
    *
    * Scale shape: the rotation adds d² literals to the plan and one
    * fused per-row HOF — no new exchange, no broadcast; everything else
    * inherits [[embPq]]'s shape (codes are m bytes/vector, LUT
    * broadcasts). No SQL oracle (the eigensolve, [[embPcaProject]]
    * precedent): driver records rows-only; OpqSpec pins rotation
    * isometry, the allocation invariant, and a recall floor.
    *
    * Honesty note (measured, numpy-cross-checked): the synthetic
    * TESTDATA embeddings are only weakly anisotropic (λ spread ~4×) and
    * their cluster signal is axis-local, so the rotation costs recall
    * on the raw corpus (0.44 vs plain PQ's 0.66 at sf0.01 — numpy
    * reproduces the deficit under the same protocol). OPQ's premise —
    * correlated coordinates smearing variance across subspaces — is
    * verified directly instead: OpqSpec plants a shared component
    * (y = x + 0.15·Σx·1) and OPQ recovers recall 0.66 vs plain PQ's
    * 0.46 on the mixed corpus. Choose OPQ when embeddings are
    * correlated (real text/image encoders); plain [[embPq]] when
    * coordinates are already independent-ish.
    */
  def embOpq(spark: SparkSession, sfDir: String): DataFrame =
    embOpq(spark, sfDir, m = 16, k = 64, iters = 2, topK = 5)

  def embOpq(spark: SparkSession, sfDir: String,
             m: Int, k: Int, iters: Int, topK: Int): DataFrame =
    embOpqOf(Tables.embeddings(spark, sfDir), m, k, iters, topK)

  /** Core over any frame with (vec_id, embedding) — fits the rotation on
    * the frame, rotates, and runs the PQ chain on the rotated corpus. */
  def embOpqOf(emb: DataFrame, m: Int, k: Int, iters: Int, topK: Int): DataFrame =
    embPqOf(opqRotateOf(emb, m), m, k, iters, topK)

  /** (vec_id, v): the corpus rotated into the PCA basis and REORDERED by
    * Ge et al.'s eigenvalue allocation (centered, full d, coordinates
    * rounded to 6 decimals — the codebook-training grid discipline).
    * Raw PCA order would CONCENTRATE variance into the leading
    * subspaces — measurably worse than no rotation on near-isotropic
    * data (recall@5 0.52 vs 0.66 at sf0.01); the allocation instead
    * deals eigendirections greedily (λ desc, each to the open subspace
    * with the smallest log-λ product), balancing per-subspace variance
    * so every codebook's k entries carry comparable information — the
    * actual OPQ-NP initialization. The d×d rotation rides the plan as
    * literals.
    */
  /** Ge et al. eigenvalue allocation: deal eigendirections (λ desc) into
    * m buckets of sd slots, each to the open bucket with the smallest
    * log-λ product — balanced per-subspace variance. Returns the dim
    * permutation (bucket-concatenated).
    */
  private[graft] def opqAllocate(vals: Array[Double], m: Int, sd: Int): Seq[Int] = {
    // balanced-partition greedy (LPT): items must be NON-NEGATIVE or
    // filled buckets would look "smallest" and attract everything (log λ
    // is negative for λ < 1) — shift by the smallest log λ, which is
    // scale-invariant and keeps empty buckets preferred
    val logs = vals.map(v => math.log(math.max(v, 1e-12)))
    val base = logs.min
    val bucketLog = Array.fill(m)(0.0)
    val buckets = Array.fill(m)(List.empty[Int])
    vals.indices.foreach { i => // vals are already sorted desc
      val open = (0 until m).filter(b => buckets(b).length < sd)
      val b = open.minBy(b => (bucketLog(b), b))
      buckets(b) = buckets(b) :+ i
      bucketLog(b) += logs(i) - base
    }
    buckets.toSeq.flatten
  }

  private[graft] def opqRotate(spark: SparkSession, sfDir: String,
                               m: Int): DataFrame =
    opqRotateOf(Tables.embeddings(spark, sfDir), m)

  private[graft] def opqRotateOf(emb: DataFrame, m: Int): DataFrame = {
    graft.functions.Kernels.register(emb.sparkSession)
    val (means, vals, vecs0) = pcaFitOf(emb)
    val sd = dims / m
    val order = opqAllocate(vals, m, sd)
    val vecs = order.map(vecs0).toArray
    def lit9(d: Double) = java.lang.Double.toString(d) + "D"
    val mArr = means.map(lit9).mkString("array(", ", ", ")")
    val wMat = vecs.map(_.map(lit9).mkString("array(", ", ", ")"))
      .mkString("array(", ", ", ")")
    // r13: the d×d rotation runs as the codegen'd mat_project kernel —
    // the previous nested-HOF form evaluated d² interpreted lambdas per
    // row (the JlProject lesson); identical fold order, identical sums,
    // round(·, 6) stays outside the kernel
    emb.select(col("vec_id"), expr(
      s"transform(mat_project(embedding, $mArr, $wMat), x -> round(x, 6))")
      .as("v"))
  }

  private def pcaApply(spark: SparkSession, sfDir: String, k: Int,
                       whiten: Boolean): DataFrame = {
    val (means, vals, vecs) = pcaFit(spark, sfDir)
    def lit9(d: Double) = java.lang.Double.toString(d) + "D"
    val mArr = means.map(lit9).mkString("array(", ", ", ")")
    // λ ≤ 0 (degenerate direction) → weight 0: whitening a no-variance
    // component would divide by zero for no information gain
    val wMat = (0 until k).map { c =>
      val scale =
        if (!whiten) 1.0
        else if (vals(c) > 0) 1.0 / math.sqrt(vals(c))
        else 0.0
      vecs(c).map(w => lit9(w * scale)).mkString("array(", ", ", ")")
    }.mkString("array(", ", ", ")")
    // r13: one mat_project kernel call per row (see opqRotateOf) — the
    // projection array is computed once and the k output columns are
    // element_at extracts; the per-column HOF form evaluated k·d
    // interpreted lambdas per row
    Tables.embeddings(spark, sfDir)
      .select(col("vec_id"), expr(s"mat_project(embedding, $mArr, $wMat)").as("_p"))
      .select(col("vec_id") +:
        (0 until k).map(c => element_at(col("_p"), c + 1).as(s"p$c")): _*)
  }

  /** Maximal Marginal Relevance diversified top-k (Carbonell & Goldstein
    * SIGIR'98) — the retrieval/data-selection step that trades relevance
    * against redundancy: greedily pick the candidate maximizing
    * λ·rel(d) − (1−λ)·max_{s∈S} sim(d, s), so the final k cover the
    * query's neighborhood instead of k near-copies of the same region
    * (the failure mode plain [[embKnn]] has on a deduplicated-corpus
    * retrieval stack).
    *
    * Scale split, the [[embKmeans]] fit/apply contract: the CORPUS-sized
    * work is one broadcast-query cosine scan + TakeOrderedAndProject
    * down to nCand candidates (zero wide exchanges, same plan as
    * [[embKnn]]); the greedy then runs on the collected nCand-row panel
    * with its nCand² candidate-candidate similarities — BOUNDED
    * driver-side model state (50 rows / 2450 sims here), the same
    * contract as the BPE merge table or the Markov transition solve, NOT
    * a data-sized collect. Every similarity lands on the round-6 grid
    * before the greedy, and the score arithmetic (λ·rel − μ·maxSim with
    * literal λ, μ — never 1−λ, whose double differs from the 0.3
    * literal) is the same two IEEE ops in both engines, so selection
    * order is deterministic cross-engine; ties break by vec_id. The
    * DuckDB oracle unrolls the k greedy steps into chained MATERIALIZED
    * CTEs ([[graft.operators.EventOps.evPagerank]] precedent).
    */
  def embMmr(spark: SparkSession, sfDir: String): DataFrame =
    embMmr(spark, sfDir, nCand = 50, k = 10)

  private val mmrLam = 0.7
  private val mmrMu = 0.3

  def embMmr(spark: SparkSession, sfDir: String, nCand: Int, k: Int)
      : DataFrame = {
    val e = withVec(Tables.embeddings(spark, sfDir))
    val q = e.filter(col("vec_id") === 0).select(col("v").as("qv"))
    val cand = e.filter(col("vec_id") =!= 0)
      .join(broadcast(q), lit(true)) // 1-row scalar attach (whitelisted)
      .withColumn("rel", round(expr("cosine_sim(qv, v)"), 6))
      .orderBy(col("rel").desc, col("vec_id").asc)
      .limit(nCand)
      .select(col("vec_id"), col("rel"), col("v"))
      .transform(graft.CacheScope.barrier) // candidate scan + sim join share it
    val a = cand.select(col("vec_id").as("a_id"), col("v").as("av"))
    val b = cand.select(col("vec_id").as("b_id"), col("v").as("bv"))
    val sims = a.join(broadcast(b), col("a_id") =!= col("b_id"))
      .select(col("a_id"), col("b_id"),
        round(expr("cosine_sim(av, bv)"), 6).as("sim"))
    // bounded model state: nCand rows + nCand² sims, never corpus-sized
    val rel = cand.select(col("vec_id"), col("rel")).collect()
      .map(r => r.getLong(0) -> r.getDouble(1)).toMap
    val sim = sims.collect()
      .map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2)).toMap
    val selected = scala.collection.mutable.ArrayBuffer.empty[Long]
    val out = scala.collection.mutable.ArrayBuffer.empty[(Int, Long, Double, Double)]
    for (rank <- 1 to math.min(k, rel.size)) {
      def score(d: Long): Double = {
        val maxSim =
          if (selected.isEmpty) 0.0
          else selected.map(s => sim.getOrElse((d, s), 0.0)).max
        mmrLam * rel(d) - mmrMu * maxSim
      }
      val pick = rel.keysIterator.filterNot(selected.contains)
        .minBy(d => (-score(d), d))
      out += ((rank, pick, rel(pick), score(pick)))
      selected += pick
    }
    val spark2 = spark
    import spark2.implicits._
    out.toSeq.toDF("rank", "vec_id", "rel", "score")
      .select(col("rank"), col("vec_id"), col("rel"),
        round(col("score"), 6).as("score"))
  }

  val embMmrSql: String = {
    val nCand = 50
    val k = 10
    val dot = s"list_sum(list_transform(range(1, ${dims + 1}), i -> %s))"
    val base =
      "WITH s AS (\n" +
        "  SELECT vec_id, list_transform(embedding, x -> x::DOUBLE) AS v\n" +
        "  FROM embeddings),\n" +
        "n AS (\n" +
        s"  SELECT vec_id, v, sqrt(${dot.format("v[i] * v[i]")}) AS nrm FROM s),\n" +
        "cand AS MATERIALIZED (\n" +
        s"  SELECT c.vec_id, round(${dot.format("q.v[i] * c.v[i]")} / (q.nrm * c.nrm), 6) AS rel\n" +
        "  FROM n q, n c WHERE q.vec_id = 0 AND c.vec_id <> 0\n" +
        s"  ORDER BY rel DESC, c.vec_id ASC LIMIT $nCand),\n" +
        "sim AS MATERIALIZED (\n" +
        s"  SELECT na.vec_id AS a_id, nb.vec_id AS b_id,\n" +
        s"    round(${dot.format("na.v[i] * nb.v[i]")} / (na.nrm * nb.nrm), 6) AS sim\n" +
        "  FROM cand a JOIN n na ON na.vec_id = a.vec_id\n" +
        "     , cand b JOIN n nb ON nb.vec_id = b.vec_id\n" +
        "  WHERE a.vec_id <> b.vec_id),\n" +
        "sel1 AS MATERIALIZED (\n" +
        "  SELECT 1 AS rank, vec_id, rel, 0.7 * rel AS score\n" +
        "  FROM cand ORDER BY score DESC, vec_id ASC LIMIT 1)"
    val steps = (2 to k).map { r =>
      s",\np$r AS MATERIALIZED (\n" +
        s"  SELECT $r AS rank, c.vec_id, c.rel,\n" +
        "    0.7 * c.rel - 0.3 * (SELECT max(sim) FROM sim s\n" +
        s"      JOIN sel${r - 1} t ON s.b_id = t.vec_id WHERE s.a_id = c.vec_id) AS score\n" +
        s"  FROM cand c WHERE c.vec_id NOT IN (SELECT vec_id FROM sel${r - 1})\n" +
        "  ORDER BY score DESC, c.vec_id ASC LIMIT 1),\n" +
        s"sel$r AS MATERIALIZED (\n" +
        s"  SELECT * FROM sel${r - 1} UNION ALL SELECT * FROM p$r)"
    }.mkString
    base + steps +
      s"\nSELECT rank, vec_id, rel, round(score, 6) AS score FROM sel$k"
  }
}
