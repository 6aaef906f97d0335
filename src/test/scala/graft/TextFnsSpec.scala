package graft

import org.apache.spark.sql.functions._
import graft.functions.TextFns._

/** Short/empty-document edge cases for the text primitives. Spark's
  * `sequence(1, negative)` DESCENDS and `element_at(t, 0)` throws under
  * ANSI mode, so the shingle/gram builders guard the bound — matching the
  * DuckDB oracle's empty `range()` semantics. Real corpora contain short
  * docs even though the generated testdata doesn't.
  */
class TextFnsSpec extends SparkSpec {

  test("shingles and char-grams are empty (not errors) for docs below the n-gram size") {
    val df = spark.createDataFrame(Seq(
      (1, ""),                     // empty text → tokens [""] (size 1)
      (2, "ab"),                   // 1 token, 2 chars
      (3, "one two"),              // 2 tokens — below shingle width
      (4, "one two three four")    // 2 shingles
    )).toDF("id", "text")
      .withColumn("norm", normText(col("text")))
      .withColumn("t", tokens(col("text")))
      .withColumn("sh", expr(shingles3Sql("t")))
      .withColumn("gr", expr(charGramsSql("norm", 4)))
      .withColumn("hs", expr(hashArraySql("sh")))
      .withColumn("m0", expr(minhashSql("hs", 0)))
    val rows = df.select(col("id"), size(col("sh")).as("nsh"),
      size(col("gr")).as("ngr"), col("m0")).collect()
      .map(r => r.getInt(0) -> (r.getInt(1), r.getInt(2), Option(r.get(3)))).toMap

    assert(rows(1) == ((0, 0, None)))
    assert(rows(2) == ((0, 0, None)))            // "ab": 2 chars < 4 → no grams
    assert(rows(3)._1 == 0)                      // 2 tokens < 3 → no shingles
    assert(rows(3)._2 == 4)                      // "one two" = 7 chars → 4 grams
    assert(rows(4)._1 == 2 && rows(4)._3.isDefined)
  }

  test("compressionRatio: repetitive text compresses far below varied text") {
    val s = spark
    import s.implicits._
    val docs = Seq(
      (1L, "spam " * 400),                                   // pure repetition
      (2L, (0 until 400).map(i => s"w${i * 2654435761L % 9973}").mkString(" ")),
      (3L, "")                                               // empty: guarded division
    ).toDS()
    val rows = graft.operators.TextOps.compressionRatio(docs)
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getDouble(2))).toMap
    assert(rows(1)._2 < 0.05, s"repetition must crush: ${rows(1)}")
    assert(rows(2)._2 > 0.3, s"varied text must not: ${rows(2)}")
    assert(rows(2)._2 > rows(1)._2 * 5)
    assert(rows(3)._1 == 0L)
  }

  /** Single-threaded reference model of the winnow kernel: the same
    * polynomial/scramble arithmetic written the naive way (per-gram hash
    * list, min of every slice of 8, distinct), independent of the fused
    * sliding-window implementation under test.
    */
  private def winnowModel(s: String): Seq[Long] = {
    val m = s.length - 3
    if (m <= 0) return Seq.empty
    val hs = (0 until m).map(i =>
      ((s(i) * 16974593L + s(i + 1) * 66049L + s(i + 2) * 257L + s(i + 3)) *
        2654435761L) % 4294967296L)
    val mins =
      if (m >= 8) (0 to m - 8).map(i => hs.slice(i, i + 8).min)
      else Seq(hs.min)
    mins.distinct
  }

  test("winnow_fp kernel matches the naive reference model, incl. short-doc edges") {
    val s = spark
    import s.implicits._
    val texts = Seq(
      "", "ab", "abc", "abcd", "abcdefghij",          // 0..7 grams
      "abcdefghijk",                                   // exactly 8 grams
      "the quick brown fox jumps over the lazy dog",
      "aaaaaaaaaaaaaaaaaaaa",                          // all-equal hashes
      (0 until 500).map(i => ('a' + i % 26).toChar).mkString)
    val got = texts.zipWithIndex.map { case (t, i) => (i, t) }.toDF("id", "norm")
      .withColumn("fp", expr("winnow_fp(norm)"))
      .select(col("id"), col("fp"))
      .collect().map(r => r.getInt(0) -> r.getSeq[Long](1)).toMap
    texts.zipWithIndex.foreach { case (t, i) =>
      assert(got(i) == winnowModel(t), s"text #$i ${t.take(20)}")
    }
  }

  test("BPE-style pre-tokenizer counts punctuation runs that whitespace counting misses") {
    val s = spark
    import s.implicits._
    val df = Seq(
      (1L, "hello, world!"),          // ws: 2; bpe: hello ,  world ! = 4
      (2L, "a b c"),                  // identical under both
      (3L, "")                        // empty: 0 bpe tokens, guarded ratio
    ).toDF("doc_id", "text")
    val rows = df
      .withColumn("n_bpe",
        regexp_count(lower(col("text")), lit(" ?[a-z]+| ?[0-9]+| ?[^a-z0-9 ]+")))
      .withColumn("n_ws", size(graft.functions.TextFns.tokens(col("text"))))
      .collect().map(r => r.getLong(0) -> (r.getInt(3), r.getInt(2))).toMap
    assert(rows(1) == ((2, 4)), s"punctuation must add bpe tokens: ${rows(1)}")
    assert(rows(2) == ((3, 3)))
    assert(rows(3)._2 == 0)
  }

  test("winnowing guarantee: docs sharing a >=11-char substring share a fingerprint") {
    val shared = "zqxjkwvbnmp"  // 11 chars, appears nowhere else
    val a = "first document body " + shared + " tail of the first"
    val b = "completely different opening here " + shared + " and another ending"
    val fa = winnowModel(a).toSet
    val fb = winnowModel(b).toSet
    assert(fa.intersect(fb).nonEmpty, "shared 11-char substring must share a fingerprint")
    // and unrelated docs (no 4-gram in common) share none
    val fc = winnowModel("0123456789 0123456789 0123456789").toSet
    assert(fa.intersect(fc).isEmpty)
  }

  test("docChunk: coverage, overlap, and tail-suppression semantics") {
    import graft.operators.TextOps
    val words = (1 to 100).map(i => s"w$i")
    val df = spark.createDataFrame(Seq(
      (1, ""),                          // norm-empty → 1 pseudo-token, 1 chunk
      (2, "a b c"),                     // below one window → 1 chunk
      (3, words.take(64).mkString(" ")),// exactly one window
      (4, words.take(80).mkString(" ")),// 1+tail: start 49 adds tokens 65..80
      (5, words.mkString(" "))          // 100 tokens → starts 1, 49 only
    )).toDF("doc_id", "text")
    val out = TextOps.docChunkOf(df, chunk = 64, stride = 48)
      .collect()
      .map(r => (r.getInt(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getString(4)))
      .groupBy(_._1)
    assert(out(1).length == 1 && out(1).head._4 == 1)
    assert(out(2).length == 1 && out(2).head._5 == "a b c")
    assert(out(3).length == 1 && out(3).head._4 == 64)
    // doc 4: n=80 → starts 1 and 49 (49+16 ≤ 80); second chunk 32 tokens
    assert(out(4).map(x => (x._3, x._4)).toSet == Set((1L, 64L), (49L, 32L)))
    // doc 5: n=100 → start 49 covers to 100; start 97 would add NOTHING
    // beyond chunk@49's reach (49..112 ⊇ 97..100) so it is suppressed
    assert(out(5).map(_._3).sorted.toSeq == Seq(1L, 49L))
    // every token position of doc 5 is covered by some chunk
    val covered = out(5).flatMap(x => x._3 until (x._3 + x._4)).toSet
    assert(covered == (1L to 100L).toSet)
    // chunk text is the exact token slice
    assert(out(4).find(_._3 == 49L).get._5 ==
      words.slice(48, 80).mkString(" "))
  }
}
