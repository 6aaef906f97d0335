package graft.operators

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.{CacheScope, Tables}
import graft.functions.TextFns.{h32Sql, normText}

/** Multimodal-column plumbing: media payloads are opaque `binary` columns
  * with typed metadata structs; decode / feature-extraction runs
  * distributed via `mapPartitions` over a typed Dataset (the Scala
  * analogue of `mapInPandas` batch UDFs).
  *
  * The actual codec call is STUBBED (no image/audio libraries in this
  * environment): `FakeCodec.decode` derives deterministic pseudo-metadata
  * from the payload bytes. The Spark-side plumbing — binary schema,
  * partitioning, typed encoders, per-partition batch decode, explode of
  * per-frame rows — is real and oracle-tested (the fake decode is md5-
  * derived, so DuckDB reproduces it).
  *
  * The `documents.text` bytes stand in for media payloads; a real corpus
  * swaps the source column without touching the operators.
  */
object Multimodal {

  /** A media record: opaque payload + metadata. */
  case class MediaRecord(doc_id: Long, content: Array[Byte])

  /** Per-frame metadata produced by the (stubbed) decoder. */
  case class FrameMeta(doc_id: Long, frame_idx: Int, width: Int, height: Int)

  /** Per-window audio features produced by the (stubbed) PCM decoder:
    * exact integer sufficient stats (Σ sample², zero crossings) so the
    * downstream aggregate is fold-order-free. */
  case class AudioWin(doc_id: Long, win_idx: Int, ssq: Long, zc: Long)

  /** STUB codec — deterministic fake standing in for an image/video
    * library call. A production build replaces `decode` with the real
    * codec; everything around it (partitioning, encoders, explode) stays.
    */
  object FakeCodec {
    def md5Hex(bytes: Array[Byte]): String =
      java.security.MessageDigest.getInstance("MD5").digest(bytes)
        .map("%02x".format(_)).mkString

    def h32(s: String): Long = java.lang.Long.parseLong(s.substring(0, 8), 16)

    /** "Decode" a payload: one frame per KiB (+1), dimensions from the
      * digest.
      */
    def decode(r: MediaRecord): Seq[FrameMeta] = {
      val digest = md5Hex(r.content)
      val h = h32(digest)
      val nFrames = (r.content.length / 1024 + 1).toInt
      (0 until nFrames).map { i =>
        FrameMeta(r.doc_id, i, (h % 1920).toInt + 1, (h % 1080).toInt + 1)
      }
    }

    /** "Decode" a payload as PCM audio: one 512-byte window per chunk
      * (+1), four deterministic 16-bit samples per window derived from
      * md5(digest | window) — a production build swaps in the real audio
      * codec; the window/sample shape and the integer sufficient stats
      * stay.
      */
    def decodeAudio(r: MediaRecord): Seq[AudioWin] = {
      val digest = md5Hex(r.content)
      val nWin = r.content.length / 512 + 1
      (0 until nWin).map { w =>
        val wh = md5Hex((digest + "|" + w).getBytes("UTF-8"))
        val s = Array.tabulate(4)(j =>
          java.lang.Long.parseLong(wh.substring(8 * j, 8 * j + 8), 16)
            % 65536L - 32768L)
        val ssq = s.map(x => x * x).sum
        val zc = (0 until 3).count(j => (s(j) >= 0) != (s(j + 1) >= 0)).toLong
        AudioWin(r.doc_id, w, ssq, zc)
      }
    }
  }

  /** Distributed decode: batch per partition through the codec. This is the
    * `mapPartitions` path — one codec context per partition, streaming
    * iterator in/out, no driver round-trip; at 100 TB each task decodes
    * its parquet split independently.
    */
  def decodeFrames(media: Dataset[MediaRecord]): Dataset[FrameMeta] = {
    import media.sparkSession.implicits._
    media.mapPartitions { it => it.flatMap(FakeCodec.decode) }
  }

  /** Expression-path feature extraction over the binary payload (no codec
    * needed): byte length, content digest, digest-derived dimensions.
    */
  def mmFeatures(spark: SparkSession, sfDir: String): DataFrame =
    Tables.documents(spark, sfDir)
      .withColumn("content", encode(col("text"), "UTF-8"))
      .withColumn("digest", md5(col("content")))
      .select(col("doc_id"),
        octet_length(col("content")).as("n_bytes"),
        col("digest"),
        (expr(h32Sql("digest")) % 1920 + 1).as("width"),
        (expr(h32Sql("digest")) % 1080 + 1).as("height"))

  val mmFeaturesSql: String =
    """SELECT doc_id, octet_length(encode(text)) AS n_bytes, md5(text) AS digest,
      |  ('0x' || substr(md5(md5(text)), 1, 8))::BIGINT % 1920 + 1 AS width,
      |  ('0x' || substr(md5(md5(text)), 1, 8))::BIGINT % 1080 + 1 AS height
      |FROM documents""".stripMargin

  /** Decode-path query: run the stub codec distributed, aggregate per-doc
    * frame counts + dimensions. Oracle-expressible because the stub is
    * md5-derived.
    */
  def mmDecode(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    val media = Tables.documents(spark, sfDir)
      .select(col("doc_id"), encode(col("text"), "UTF-8").as("content"))
      .as[MediaRecord]
    decodeFrames(media).toDF()
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_frames"),
        max(col("width")).as("width"), max(col("height")).as("height"))
  }

  // NB: the stub codec parses the first 8 hex chars of the content digest
  // directly (single md5), unlike mm_features which re-hashes the digest.
  val mmDecodeSql: String =
    """SELECT doc_id, octet_length(encode(text)) // 1024 + 1 AS n_frames,
      |  ('0x' || substr(md5(text), 1, 8))::BIGINT % 1920 + 1 AS width,
      |  ('0x' || substr(md5(text), 1, 8))::BIGINT % 1080 + 1 AS height
      |FROM documents""".stripMargin

  /** Resize: fit each image into a 512×512 box preserving aspect ratio,
    * downscale-only (integer arithmetic so both engines agree exactly; the
    * pixel-level resample is the codec stub's job in production). Pure
    * expression path — narrow, zero exchanges, whole-stage codegen'd.
    */
  def mmResize(spark: SparkSession, sfDir: String): DataFrame =
    mmFeatures(spark, sfDir)
      .withColumn("m", greatest(col("width"), col("height")))
      .select(col("doc_id"), col("width"), col("height"),
        when(col("m") <= 512, col("width"))
          .otherwise(expr("width * 512 div m")).as("out_w"),
        when(col("m") <= 512, col("height"))
          .otherwise(expr("height * 512 div m")).as("out_h"))

  val mmResizeSql: String =
    """SELECT doc_id, width, height,
      |  CASE WHEN m <= 512 THEN width ELSE width * 512 // m END AS out_w,
      |  CASE WHEN m <= 512 THEN height ELSE height * 512 // m END AS out_h
      |FROM (
      |  SELECT doc_id, width, height, greatest(width, height) AS m FROM (
      |    SELECT doc_id,
      |      ('0x' || substr(md5(md5(text)), 1, 8))::BIGINT % 1920 + 1 AS width,
      |      ('0x' || substr(md5(md5(text)), 1, 8))::BIGINT % 1080 + 1 AS height
      |    FROM documents))""".stripMargin

  /** Frame sampling: decode distributed (stub codec), keep every 4th
    * frame — the standard video-training decimation. The filter runs
    * inside the typed pipeline BEFORE any shuffle, so only sampled frames
    * reach the aggregation (at 100 TB the decode+sample task output is
    * 1/4 of the frame stream, and the codec never materializes the full
    * frame list per partition — iterators stream).
    */
  def mmFrameSample(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    val media = Tables.documents(spark, sfDir)
      .select(col("doc_id"), encode(col("text"), "UTF-8").as("content"))
      .as[MediaRecord]
    decodeFrames(media)
      .filter(_.frame_idx % 4 == 0)
      .toDF()
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_sampled"),
        max(col("frame_idx")).cast("long").as("last_idx"))
  }

  // frames 0..nf-1 with nf = bytes//1024 + 1; sampled = 0,4,8,… →
  // count = (nf-1)//4 + 1, last = ((nf-1)//4)*4
  val mmFrameSampleSql: String =
    """SELECT doc_id,
      |  (octet_length(encode(text)) // 1024) // 4 + 1 AS n_sampled,
      |  ((octet_length(encode(text)) // 1024) // 4) * 4 AS last_idx
      |FROM documents""".stripMargin

  /** Audio-feature extraction: decode distributed through the stub PCM
    * codec (the [[decodeFrames]] `mapPartitions` shape — one codec
    * context per partition, iterators streaming, per-window INTEGER
    * sufficient stats leaving the task), then one doc-keyed aggregate of
    * exact BIGINTs and a shared-IEEE finalization (RMS energy via
    * correctly-rounded sqrt, zero-crossing rate) — the standard
    * audio-corpus quality/VAD screening signals. At 100 TB the decode
    * is embarrassingly parallel over parquet splits and the exchange
    * carries 32-byte stat rows, never samples.
    */
  def mmAudioFeatures(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    val media = Tables.documents(spark, sfDir)
      .select(col("doc_id"), encode(col("text"), "UTF-8").as("content"))
      .as[MediaRecord]
    media.mapPartitions { it => it.flatMap(FakeCodec.decodeAudio) }.toDF()
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_win"),
        sum(col("ssq")).as("ssq"), sum(col("zc")).as("zc"))
      .select(col("doc_id"), col("n_win"),
        round(sqrt(col("ssq").cast("double")
          / (col("n_win") * 4L).cast("double")), 4).as("rms"),
        round(col("zc").cast("double")
          / (col("n_win") * 3L).cast("double"), 6).as("zcr"))
  }

  val mmAudioFeaturesSql: String =
    """WITH w AS (
      |  SELECT doc_id, md5(md5(text) || '|' || CAST(w AS VARCHAR)) AS wh
      |  FROM (SELECT doc_id, text,
      |          unnest(range(0, octet_length(encode(text)) // 512 + 1)) AS w
      |        FROM documents)),
      |s AS (
      |  SELECT doc_id,
      |    ('0x' || substr(wh, 1, 8))::BIGINT % 65536 - 32768 AS s0,
      |    ('0x' || substr(wh, 9, 8))::BIGINT % 65536 - 32768 AS s1,
      |    ('0x' || substr(wh, 17, 8))::BIGINT % 65536 - 32768 AS s2,
      |    ('0x' || substr(wh, 25, 8))::BIGINT % 65536 - 32768 AS s3
      |  FROM w),
      |g AS (
      |  SELECT doc_id, count(*) AS n_win,
      |    CAST(sum(s0 * s0 + s1 * s1 + s2 * s2 + s3 * s3) AS BIGINT) AS ssq,
      |    CAST(sum(((s0 >= 0) <> (s1 >= 0))::INT + ((s1 >= 0) <> (s2 >= 0))::INT
      |           + ((s2 >= 0) <> (s3 >= 0))::INT) AS BIGINT) AS zc
      |  FROM s GROUP BY doc_id)
      |SELECT doc_id, n_win,
      |  round(sqrt(CAST(ssq AS DOUBLE) / CAST(n_win * 4 AS DOUBLE)), 4) AS rms,
      |  round(CAST(zc AS DOUBLE) / CAST(n_win * 3 AS DOUBLE), 6) AS zcr
      |FROM g""".stripMargin

  /** Per-payload 64-bit perceptual hash (dHash over the stub-decoded
    * luma plane — [[graft.functions.PHash64]] for the recipe and the
    * cross-engine bit-parity argument). One narrow kernel projection,
    * zero exchanges; the signature table is the reusable artifact the
    * near-dup pass and any incremental admission path read.
    */
  def mmPhash(spark: SparkSession, sfDir: String): DataFrame =
    mmPhashOf(Tables.documents(spark, sfDir))

  private def mmPhashOf(docs: DataFrame): DataFrame = {
    graft.functions.Kernels.register(docs.sparkSession)
    docs
      .withColumn("norm", normText(col("text")))
      .select(col("doc_id"), expr("phash64(norm)").as("phash"))
  }

  /** Shared DuckDB CTE chain: normalized payload → char codes → 72
    * slice-average cells → 64 difference bits folded into one BIGINT
    * (bit 63 spelled as Long.MinValue — `1 << 63` overflows DuckDB, the
    * [[VectorOps]] BQ twin precedent).
    */
  private val phashCtes: String =
    """nrm AS (
      |  SELECT doc_id, trim(regexp_replace(lower(text), '[^a-z0-9]+', ' ', 'g')) AS norm
      |  FROM documents),
      |cl AS (
      |  SELECT doc_id, length(norm) AS L,
      |    list_transform(range(1, length(norm) + 1), p -> ascii(substr(norm, p, 1))) AS cs
      |  FROM nrm),
      |cells AS (
      |  SELECT doc_id,
      |    list_transform(range(0, 72), i ->
      |      CASE WHEN ((i + 1) * L) // 72 > (i * L) // 72
      |           THEN list_sum(cs[(i * L) // 72 + 1 : ((i + 1) * L) // 72])::BIGINT
      |                  // (((i + 1) * L) // 72 - (i * L) // 72)
      |           ELSE 0::BIGINT END) AS cell
      |  FROM cl),
      |ph AS (
      |  SELECT doc_id,
      |    list_sum(list_transform(range(0, 64), k ->
      |      CASE WHEN cell[(k // 8) * 9 + (k % 8) + 1] < cell[(k // 8) * 9 + (k % 8) + 2]
      |           THEN CASE WHEN k = 63 THEN (-9223372036854775807 - 1)::BIGINT
      |                     ELSE 1::BIGINT << k END
      |           ELSE 0::BIGINT END))::BIGINT AS phash
      |  FROM cells)""".stripMargin

  val mmPhashSql: String =
    s"WITH $phashCtes\nSELECT doc_id, phash FROM ph"

  /** Perceptual-hash near-dup pairs — image-similarity dedup for a
    * multimodal training pipeline: candidates from 8×8-bit Hamming
    * banding over the dHash (the [[VectorOps.embBqKnn]] bit-slice recipe;
    * pigeonhole: ≤ 7 differing bits cannot dirty all 8 bands, so recall
    * over uncapped buckets is exactly 1 — MmPhashSpec asserts it), exact
    * `bit_count(xor)` confirm, emitted with the Hamming distance.
    *
    * Scale shape: the band self-join carries (band, bv, doc_id) — never
    * payloads; buckets larger than `maxBucket` docs are dropped BEFORE
    * the join (one window count the join's exchange reuses — the
    * [[DedupOps.winnowPairs]] maxDf lever), which is both the LSH skew
    * bound (join cost is Σ bucket², so capping bucket caps the join) and
    * the "common-profile buckets carry no near-dup signal" rule. The cap
    * is the recall/cost policy knob; pairs whose every clean band sits
    * in an over-cap bucket are missed, measured 12/13 at sf0.1.
    */
  def mmPhashNeardup(spark: SparkSession, sfDir: String): DataFrame =
    mmPhashNeardupOf(Tables.documents(spark, sfDir), maxBucket = 64, maxHamming = 7)

  private[graft] def mmPhashNeardupOf(docs: DataFrame, maxBucket: Int,
                                      maxHamming: Int): DataFrame = {
    val sig = mmPhashOf(docs)
      .transform(CacheScope.barrier) // bands + both confirm sides reuse
    val bands = sig
      .select(col("doc_id"), col("phash"), explode(expr("sequence(0, 7)")).as("band"))
      .select(col("doc_id"), col("band"),
        expr("shiftright(phash, band * 8) & 255").as("bv"))
    val kept = bands
      .withColumn("df", count(lit(1)).over(Window.partitionBy(col("band"), col("bv"))))
      .filter(col("df") <= maxBucket)
      .select(col("doc_id"), col("band"), col("bv"))
      .transform(CacheScope.barrier) // self-joined as both sides
    val a = kept.select(col("doc_id").as("a_id"), col("band"), col("bv"))
    val b = kept.select(col("doc_id").as("b_id"), col("band"), col("bv"))
    val cand = a.join(b, Seq("band", "bv"))
      .filter(col("a_id") < col("b_id"))
      .select(col("a_id"), col("b_id"))
      .distinct()
    cand
      .join(sig.select(col("doc_id").as("a_id"), col("phash").as("pa")), Seq("a_id"))
      .join(sig.select(col("doc_id").as("b_id"), col("phash").as("pb")), Seq("b_id"))
      .withColumn("hamming", expr("bit_count(pa ^ pb)"))
      .filter(col("hamming") <= maxHamming)
      .select(col("a_id"), col("b_id"), col("hamming"))
  }

  /** Image duplicate CLUSTERS: connected components over the perceptual-
    * hash near-dup pairs — the grouping step that turns pairwise image
    * similarity into one canonical representative per visual family
    * (crops/re-encodes of one source image land in one cluster, exactly
    * like the text-side [[DedupOps.dedupClusters]] over MinHash pairs).
    *
    * Scale shape = the parts: the pair generator is the banded Hamming
    * equijoin above (payloads never ride the exchange), and the CC
    * fixpoint is [[DedupOps.connectedComponents]]'s O(log diameter)
    * pointer-jumping loop over id-only edges.
    *
    * The edge threshold is the CLUSTERING policy knob and is deliberately
    * looser than the near-dup emit threshold (16 vs 7 bits): grouping
    * tolerates more visual drift than pair reporting, and band-candidate
    * parity between engines holds at any cutoff (the oracle replicates
    * the banding, so both sides see the identical edge set).
    */
  def mmPhashCluster(spark: SparkSession, sfDir: String): DataFrame =
    // memo, not barrier: the CC fixpoint is EAGER (driver loop) — a warm
    // re-invocation in the same scope would re-run the whole loop; stage
    // the label table once instead (the [[DedupOps.dedupClusters]] pattern)
    CacheScope.memo(s"mm_phash_cluster:$sfDir") {
      DedupOps.connectedComponents(
        mmPhashNeardupOf(Tables.documents(spark, sfDir),
          maxBucket = 64, maxHamming = 16).select(col("a_id"), col("b_id")))
    }

  val mmPhashClusterSql: String =
    s"""WITH RECURSIVE $phashCtes,
       |bands AS (
       |  SELECT doc_id, b.band, (phash >> (b.band * 8)) & 255 AS bv
       |  FROM ph, (SELECT unnest(range(0, 8)) AS band) b),
       |kept AS (
       |  SELECT doc_id, band, bv FROM (
       |    SELECT doc_id, band, bv, count(*) OVER (PARTITION BY band, bv) AS df
       |    FROM bands) WHERE df <= 64),
       |cand AS (
       |  SELECT DISTINCT a.doc_id AS a_id, b.doc_id AS b_id
       |  FROM kept a JOIN kept b ON a.band = b.band AND a.bv = b.bv
       |  WHERE a.doc_id < b.doc_id),
       |pairs AS (
       |  SELECT c.a_id, c.b_id
       |  FROM cand c JOIN ph x ON c.a_id = x.doc_id JOIN ph y ON c.b_id = y.doc_id
       |  WHERE bit_count(xor(x.phash, y.phash)) <= 16),
       |edges AS (SELECT a_id AS src, b_id AS dst FROM pairs
       |          UNION ALL SELECT b_id, a_id FROM pairs),
       |reach(v, l) AS (
       |  SELECT src, src FROM edges
       |  UNION
       |  SELECT e.dst, r.l FROM reach r JOIN edges e ON e.src = r.v)
       |SELECT v AS doc_id, min(l) AS cluster_id FROM reach GROUP BY v""".stripMargin

  // (phash >> s) & 255 is shift-semantics-proof: arithmetic vs logical
  // shift differ only in bits the mask drops (s + 7 <= 63 for every band)
  val mmPhashNeardupSql: String =
    s"""WITH $phashCtes,
       |bands AS (
       |  SELECT doc_id, b.band, (phash >> (b.band * 8)) & 255 AS bv
       |  FROM ph, (SELECT unnest(range(0, 8)) AS band) b),
       |kept AS (
       |  SELECT doc_id, band, bv FROM (
       |    SELECT doc_id, band, bv, count(*) OVER (PARTITION BY band, bv) AS df
       |    FROM bands) WHERE df <= 64),
       |cand AS (
       |  SELECT DISTINCT a.doc_id AS a_id, b.doc_id AS b_id
       |  FROM kept a JOIN kept b ON a.band = b.band AND a.bv = b.bv
       |  WHERE a.doc_id < b.doc_id)
       |SELECT c.a_id, c.b_id, bit_count(xor(x.phash, y.phash)) AS hamming
       |FROM cand c JOIN ph x ON c.a_id = x.doc_id JOIN ph y ON c.b_id = y.doc_id
       |WHERE bit_count(xor(x.phash, y.phash)) <= 7""".stripMargin
}
