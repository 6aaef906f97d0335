package graft

import org.apache.spark.sql.Row
import org.apache.spark.sql.types._

/** Dev utility: a realistic-vocabulary synthetic document corpus for
  * scale sweeps of the posting-list (ngram) dedup family.
  *
  * {{{ tools/runmain.sh graft.ZipfCorpus /tmp/zipf/150k 150000 }}}
  *
  * Why it exists (round-9 verdict): `ScaleData`'s replicated driver text
  * has 31 distinct words / ~1k distinct char-4-grams at sf0.1 — the
  * WORST case for any prefix-filter join (every posting list spans ~30%
  * of the corpus, candidates Ω(n²/|vocab|)), and unrepresentative of
  * real corpora, whose n-gram vocabularies grow into the billions. The
  * r9 sf3 sweep measured `ngram_containment_banded` at exponent ~1.7 on
  * that corpus; this generator provides the DESIGN-regime corpus (Zipf
  * vocabulary ≥ 10⁵) on which the banded tier's selectivity argument
  * actually applies, so its slope can be measured where a real corpus
  * lives. NEVER an oracle input — perf only (correctness stays on the
  * driver parquet).
  *
  * Construction — deterministic, embarrassingly parallel (every doc is a
  * pure function of (seed, doc_id), so dup members regenerate their
  * base's token stream instead of reading it):
  *
  *   - '''Vocabulary''': 2¹⁸ = 262,144 words. Word r = 3 hash-derived
  *     chars + bijective-base-26(r) (fixed-length prefix + injective
  *     suffix ⇒ pairwise distinct), 4–7 chars — a realistic char-4-gram
  *     space (tail-word grams are near-singletons, which is exactly the
  *     property the prefix filter exploits on real text).
  *   - '''Token distribution''': Zipf(s = 1.05) via inverse-CDF binary
  *     search (the CDF array is built once and shared). Doc length
  *     30–200 tokens, uniform from the doc's hash.
  *   - '''Planted dup structure''' (fixed PER-GROUP rate, so true-pair
  *     output is Θ(n) and a sweep slope measures candidate generation,
  *     not output volume — mirrors the driver corpus's bounded dup
  *     cliques): docs come in groups of 10; members 0–7 are independent;
  *     member 8 is a containment dup of member 0 (its token stream
  *     truncated to 84–95%); member 9 is a near-dup of member 1 (each
  *     token resampled with prob 4%). Dup members inherit the base's
  *     lang/source so per-language posting lists see the pair.
  *   - '''lang/source''': 5 langs (en-heavy) and 20 sources, matching
  *     the driver corpus's shape, hash-assigned per base doc.
  */
object ZipfCorpus {
  val Vocab = 1 << 18
  val ZipfS = 1.05

  private[graft] def mix(x0: Long): Long = {
    var x = x0 + 0x9e3779b97f4a7c15L
    x = (x ^ (x >>> 30)) * 0xbf58476d1ce4e5b9L
    x = (x ^ (x >>> 27)) * 0x94d049bb133111ebL
    x ^ (x >>> 31)
  }
  /** uniform in [0,1) from a 64-bit hash */
  private def unit(h: Long): Double = (h >>> 11) * 1.1102230246251565e-16

  /** Normalized Zipf CDF over ranks 0..Vocab-1 (built once, ~2 MB). */
  private[graft] def zipfCdf(): Array[Double] = {
    val cum = new Array[Double](Vocab)
    var s = 0.0
    var i = 0
    while (i < Vocab) { s += 1.0 / math.pow(i + 1.0, ZipfS); cum(i) = s; i += 1 }
    i = 0
    while (i < Vocab) { cum(i) /= s; i += 1 }
    cum
  }

  /** Rank → word: 3 hash chars + bijective base-26 of the rank. The
    * fixed-length prefix keeps the concatenation injective; bijective
    * base-26 ("a".."z","aa"..) is itself injective across lengths.
    */
  private[graft] def word(r: Int, seed: Long): String = {
    val sb = new StringBuilder(8)
    val h = mix(seed ^ (r.toLong * 0x9e3779b97f4a7c15L))
    var i = 0
    while (i < 3) { sb.append(('a' + ((h >>> (i * 5)) & 31) % 26).toChar); i += 1 }
    var n = r + 1 // bijective base-26: 1->a, 26->z, 27->aa
    val tail = new StringBuilder(4)
    while (n > 0) { val d = (n - 1) % 26; tail.append(('a' + d).toChar); n = (n - 1) / 26 }
    sb.append(tail.reverseInPlace()).toString
  }

  private def draw(cdf: Array[Double], u: Double): Int = {
    val i = java.util.Arrays.binarySearch(cdf, u)
    if (i >= 0) math.min(i + 1, Vocab - 1) else -i - 1
  }

  /** The independent token-rank stream of base doc `docId` (pure). */
  private def baseRanks(docId: Long, seed: Long, cdf: Array[Double]): Array[Int] = {
    val dh = mix(seed ^ (docId * 0xc2b2ae3d27d4eb4fL))
    val len = 30 + (java.lang.Math.floorMod(dh, 171L)).toInt
    Array.tabulate(len)(t => draw(cdf, unit(mix(dh ^ (t.toLong * 0x165667b19e3779f9L)))))
  }

  private[graft] final case class Doc(docId: Long, text: String, lang: String,
                                      source: String)

  private val Langs = Array("en", "en", "en", "es", "de", "fr", "zh") // en-heavy

  /** Doc `docId` of the corpus (pure function of (seed, docId)). */
  private[graft] def doc(docId: Long, seed: Long, cdf: Array[Double]): Doc = {
    val g = docId / 10
    val m = (docId % 10).toInt
    val baseId = m match {
      case 8 => g * 10     // containment dup of member 0
      case 9 => g * 10 + 1 // token-edit near-dup of member 1
      case _ => docId
    }
    val ranks = baseRanks(baseId, seed, cdf)
    val dh = mix(seed ^ (docId * 0x2545f4914f6cdd1dL))
    val toks: Array[Int] = m match {
      case 8 =>
        val frac = 0.84 + java.lang.Math.floorMod(dh, 10L) * 0.012 // [0.84, 0.95]
        ranks.take(math.max(4, math.ceil(ranks.length * frac).toInt))
      case 9 =>
        ranks.zipWithIndex.map { case (r, t) =>
          val eh = mix(dh ^ (t.toLong * 0x27d4eb2f165667c5L))
          if (unit(eh) < 0.04) draw(cdf, unit(mix(eh + 1L))) else r
        }
      case _ => ranks
    }
    val ah = mix(seed ^ (baseId * 0x9fb21c651e98df25L)) // lang/source follow the BASE
    Doc(docId,
      toks.map(word(_, seed)).mkString(" "),
      Langs(java.lang.Math.floorMod(ah, Langs.length.toLong).toInt),
      s"src${java.lang.Math.floorMod(ah >>> 32, 20L)}")
  }

  def main(args: Array[String]): Unit = {
    require(args.length >= 2, "usage: ZipfCorpus <dstDir> <nDocs> [seed]")
    val dst = args(0)
    val nDocs = args(1).toLong
    val seed = if (args.length > 2) args(2).toLong else 42L
    val spark = DevSession()
    val cdfB = spark.sparkContext.broadcast(zipfCdf())
    val schema = StructType(Seq(
      StructField("doc_id", LongType, nullable = false),
      StructField("text", StringType, nullable = false),
      StructField("lang", StringType, nullable = false),
      StructField("source", StringType, nullable = false),
      StructField("n_chars", LongType, nullable = false)))
    val rdd = spark.range(nDocs).rdd.map { id =>
      val d = doc(id, seed, cdfB.value)
      Row(d.docId, d.text, d.lang, d.source, d.text.length.toLong)
    }
    spark.createDataFrame(rdd, schema)
      .write.mode("overwrite").parquet(s"$dst/documents.parquet")
    val back = spark.read.parquet(s"$dst/documents.parquet")
    println(s"[zipf] ${back.count()} docs at $dst (vocab=$Vocab, s=$ZipfS, seed=$seed)")
    spark.stop()
  }
}
