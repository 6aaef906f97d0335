package graft

import java.nio.file.Files

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.{col, expr}
import org.apache.spark.unsafe.types.UTF8String
import org.apache.spark.util.sketch.BloomFilter
import org.scalatest.funsuite.AnyFunSuite

import graft.functions._
import graft.io.FileIO
import graft.operators.{DedupOps, Multimodal, VectorOps}
import graft.streaming.LineDedupStream

/** The one table of native functions, [[Kernels.All]], on every way a
  * session gets it:
  *
  *  - the config-driven injection path: the shared test session is built
  *    with `spark.sql.extensions=graft.GraftExtensions`. `newSession()` is
  *    the proof that the functions come from the injected registry and
  *    not from some suite's temp-function registration: temp functions do
  *    NOT survive newSession(), injected functions do (extensions
  *    re-apply to every session built from the same SparkSession);
  *  - [[Graft.init]] on a kernel-free session;
  *  - no registration call at all: the operators register the table
  *    themselves, as `graft.Verify` relies on.
  */
class GraftExtensionsSpec extends AnyFunSuite {
  import GraftExtensionsSpec._

  private val sf = "/root/testdata/sf0.001"

  private def str(s: String) = UTF8String.fromString(s)
  private val bloomHex = {
    val bf = BloomFilter.create(100)
    bf.putLong(42L)
    BloomFns.toHex(bf)
  }
  private val cdcText = "the quick brown fox jumps over the lazy dog " * 4

  /** One pure-SQL call per [[Kernels.All]] name, and its expected value. */
  private val probes: Map[String, (String, Any)] = Map(
    "cosine_sim" -> ("cosine_sim(array(1.0D, 0.0D), array(1.0D, 0.0D))", 1.0),
    "dot_product" -> ("dot_product(array(1.0D, 2.0D), array(3.0D, 4.0D))", 11.0),
    "l2_sq" -> ("l2_sq(array(0.0D, 0.0D), array(3.0D, 4.0D))", 25.0),
    "jaccard_sorted" -> ("jaccard_sorted(array(1L, 2L), array(2L, 3L))", 1.0 / 3.0),
    "intersect_count_sorted" ->
      ("intersect_count_sorted(array(1L, 2L, 5L), array(2L, 5L))", 2L),
    "intersect_count_sorted_str" ->
      ("intersect_count_sorted_str(array('a', 'b', 'c'), array('b', 'c', 'd'))", 2L),
    "bitmap_and_count" -> ("bitmap_and_count(array(3L), array(1L))", 1L),
    "winnow_fp" -> ("size(winnow_fp('abcdefghijklmnop'))",
      WinnowKernel.compute(str("abcdefghijklmnop")).numElements()),
    "bloom_might_contain" -> (s"bloom_might_contain(x'$bloomHex', 42L)", true),
    "ed_within_1" -> ("ed_within_1('abc', 'abd')", true),
    "z_value" -> ("z_value(5L, 3L)", 27L),
    "simhash32" -> ("simhash32(array(1L, 1L, 3L))", 1L),
    "char_entropy_q" -> ("char_entropy_q('aab')", CharEntropyQ.compute(str("aab"))),
    "jl_project" -> ("size(jl_project(array(1.0D, 2.0D), 3))", 3),
    "md5_h64" -> ("md5_h64('abc')", Md5Head64.hash(str("abc"))),
    "mat_project" -> ("mat_project(array(1.0D, 2.0D), array(0.5D, 0.5D), " +
      "array(array(1.0D, 0.0D), array(0.0D, 2.0D)))", Seq(0.5, 3.0)),
    "cdc_chunks" -> (s"array_join(cdc_chunks('$cdcText'), '')", cdcText),
    "phash64" -> ("phash64('abc')", PHash64Kernel.compute(str("abc"))))

  private def checkProbes(s: SparkSession): Unit = {
    assert(probes.keySet == Kernels.All.map(_.name).toSet)
    probes.foreach { case (name, (call, want)) =>
      assert(s.sql(s"SELECT $call").head().get(0) == want, name)
    }
  }

  test("spark.sql.extensions=graft.GraftExtensions registers the native functions") {
    val s = SparkSpec.session.newSession() // temp-function-free registry
    checkProbes(s)
    assert(Kernels.All.forall(k => s.catalog.functionExists(k.name)))
  }

  test("Graft.init registers every native function on a kernel-free session") {
    val s = kernelFree()
    assert(Kernels.All.forall(k =>
      !s.sessionState.functionRegistry.functionExists(k.id)))
    Graft.init(s)
    checkProbes(s)
  }

  test("builders reject bad arguments with a named IllegalArgumentException on both paths") {
    val bad = Seq(
      "cosine_sim(array(1.0D))" -> "cosine_sim takes 2 arguments, got 1",
      "md5_h64('a', 'b')" -> "md5_h64 takes 1 argument, got 2",
      "jl_project(array(1.0D), 0)" -> "positive integer literal",
      "jl_project(array(1.0D), -2)" -> "positive integer literal",
      "jl_project(array(1.0D), 1.5D)" -> "positive integer literal",
      "jl_project(array(1.0D), CAST(id AS INT) + 1)" -> "positive integer literal",
      "mat_project(array(1.0D), array(CAST(id AS DOUBLE)), array(array(1.0D)))" ->
        "array<double> literal",
      "mat_project(array(1.0D), array(0.0D), array(array(CAST(id AS DOUBLE))))" ->
        "array<array<double>> literal",
      "mat_project(array(1.0D), array(0), array(array(1.0D)))" ->
        "array<double> literal")
    Seq(SparkSpec.session.newSession(), Graft.init(kernelFree())).foreach { s =>
      bad.foreach { case (call, msg) =>
        val e = intercept[IllegalArgumentException](s.sql(s"SELECT $call FROM range(1)"))
        assert(e.getMessage.contains(msg), call)
      }
    }
  }

  test("bare session: one SparkEntry query per kernel runs with no registration call") {
    // z_value has no SparkEntry query; FileIO's z-order writers cover it below
    val byKernel = Map(
      "cosine_sim" -> "emb_knn",
      "dot_product" -> "emb_mips_knn",
      "l2_sq" -> "emb_pq",
      "jaccard_sorted" -> "ngram_jaccard_pairs",
      "intersect_count_sorted" -> "ngram_containment_banded",
      "intersect_count_sorted_str" -> "minhash_lsh_pairs",
      "bitmap_and_count" -> "ngram_containment_pairs",
      "winnow_fp" -> "winnow_fp",
      "bloom_might_contain" -> "doc_decontam_bloom",
      "ed_within_1" -> "fuzzy_name_pairs",
      "simhash32" -> "simhash_sig",
      "char_entropy_q" -> "doc_entropy",
      "jl_project" -> "emb_rp",
      "md5_h64" -> "minhash_sig",
      "mat_project" -> "emb_pca",
      "cdc_chunks" -> "doc_cdc_dedup",
      "phash64" -> "mm_phash")
    assert(byKernel.keySet + "z_value" == Kernels.All.map(_.name).toSet)
    Kernels.All.filter(k => byKernel.contains(k.name)).foreach { k =>
      val q = byKernel(k.name)
      try {
        val df = SparkEntry.queries(q)(kernelFree(), sf)
        assert(df.queryExecution.analyzed.collectWithSubqueries {
          case p if p.expressions.exists(_.exists(k.clazz.isInstance)) => p
        }.nonEmpty, s"$q does not call ${k.name}")
        df.collect()
      } finally CacheScope.release()
    }
  }

  test("bare session: DataFrame entry points register the kernels they use") {
    def docs(s: SparkSession) = s.read.parquet(s"$sf/documents.parquet")
    def vecs(s: SparkSession) = s.read.parquet(s"$sf/embeddings.parquet")
      .select(col("vec_id"), expr("transform(embedding, x -> CAST(x AS DOUBLE))").as("v"))
    def grams(s: SparkSession, ids: Seq[Long]) = {
      import s.implicits._
      ids.map(i => (i, Seq(i, i + 1))).toDF("doc_id", "ghs")
    }
    val dir = Files.createTempDirectory("bare-zorder").toString
    val entries: Seq[(String, SparkSession => DataFrame)] = Seq(
      "withSignature" -> (s => DedupOps.corpusBands(docs(s))),
      "spanWindows" -> (s => DedupOps.spanWindows(docs(s), 16)),
      "cdcChunks" -> (s => DedupOps.cdcChunks(docs(s))),
      "lineDedupStream" -> (s => LineDedupStream.lineDedupStream(docs(s))),
      "fuzzyPairs" -> (s => DedupOps.fuzzyPairs(
        s.read.parquet(s"$sf/customer.parquet"), "c_custkey", "c_name")),
      "decontaminateBloom" -> (s =>
        DedupOps.decontaminateBloom(grams(s, Seq(1L, 2L, 3L)), grams(s, Seq(2L)))),
      "embPqOf" -> (s => VectorOps.embPqOf(vecs(s), m = 16, k = 64, iters = 2, topK = 5)),
      "opqRotateOf" -> (s => VectorOps.opqRotateOf(
        s.read.parquet(s"$sf/embeddings.parquet"), m = 16)),
      "mmPhashOf" -> (s => Multimodal.mmPhashNeardupOf(docs(s), maxBucket = 64, maxHamming = 7)),
      "zorderWrite" -> { s =>
        FileIO.zorderWrite(s.read.parquet(s"$sf/lineitem.parquet"), s"$dir/minmax", 2,
          Seq("l_partkey", "l_suppkey"))
        s.read.parquet(s"$dir/minmax")
      },
      "zorderWriteQuantile" -> { s =>
        FileIO.zorderWriteQuantile(s.read.parquet(s"$sf/lineitem.parquet"), s"$dir/quant", 2,
          Seq("l_partkey", "l_suppkey"))
        s.read.parquet(s"$dir/quant")
      })
    entries.foreach { case (name, run) =>
      try withClue(s"$name: ")(run(kernelFree()).collect())
      finally CacheScope.release()
    }
  }
}

object GraftExtensionsSpec {

  /** A session without any [[Kernels.All]] name: a `newSession()` of the
    * shared session with the injected functions dropped from its own
    * registry (sibling sessions keep theirs).
    */
  def kernelFree(): SparkSession = {
    val s = SparkSpec.session.newSession()
    Kernels.All.foreach(k => s.sessionState.functionRegistry.dropFunction(k.id))
    s
  }
}
