package graft

import graft.operators.DedupOps

/** Deletion-neighborhood join == brute-force levenshtein ≤ 1, on strings
  * chosen to exercise every edit kind (substitution, insert, delete,
  * equal-after-dedup ids, empty and 1-char strings).
  */
class FuzzyPairsSpec extends SparkSpec {

  private def bruteForce(xs: Seq[(Long, String)]): Set[(Long, Long)] = {
    def lev(a: String, b: String): Int = {
      val d = Array.tabulate(a.length + 1, b.length + 1) { (i, j) =>
        if (i == 0) j else if (j == 0) i else 0
      }
      for (i <- 1 to a.length; j <- 1 to b.length)
        d(i)(j) = math.min(math.min(d(i - 1)(j) + 1, d(i)(j - 1) + 1),
          d(i - 1)(j - 1) + (if (a(i - 1) == b(j - 1)) 0 else 1))
      d(a.length)(b.length)
    }
    (for {
      (ia, sa) <- xs; (ib, sb) <- xs
      if ia < ib && lev(sa, sb) <= 1
    } yield (ia, ib)).toSet
  }

  test("fuzzyPairs matches brute force on edit-kind edge cases") {
    val s = spark
    import s.implicits._
    val rows = Seq(
      1L -> "abc", 2L -> "abd",      // substitution
      3L -> "abcd",                  // insertion vs 1
      4L -> "ab",                    // deletion vs 1
      5L -> "xyz",                   // unrelated
      6L -> "abc",                   // exact duplicate of 1
      7L -> "",                      // empty
      8L -> "a",                     // 1-char; ed("", "a") = 1
      9L -> "b",                     // ed("a","b") = 1
      10L -> "ba",                   // transposition = ed 2: must NOT pair with "ab"
      11L -> "aabc"                  // insert at front of 1
    )
    val got = DedupOps.fuzzyPairs(rows.toDF("id", "name"), "id", "name")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(got == bruteForce(rows))
  }

  test("fuzzyPairs matches brute force on a pseudorandom short-string pool") {
    val s = spark
    import s.implicits._
    // deterministic pool with heavy near-collisions (alphabet of 3, len 4-6)
    val rnd = new scala.util.Random(42)
    val rows = (1L to 120L).map { i =>
      i -> (1 to (4 + rnd.nextInt(3))).map(_ => ('a' + rnd.nextInt(3)).toChar).mkString
    }
    val got = DedupOps.fuzzyPairs(rows.toDF("id", "name"), "id", "name")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val want = bruteForce(rows)
    assert(got == want, s"missing=${want -- got} extra=${got -- want}")
  }

  test("ed_within_1 kernel == (levenshtein <= 1) on random ASCII pairs") {
    val rnd = new scala.util.Random(7)
    def lev(a: String, b: String): Int = {
      val d = Array.tabulate(a.length + 1, b.length + 1) { (i, j) =>
        if (i == 0) j else if (j == 0) i else 0
      }
      for (i <- 1 to a.length; j <- 1 to b.length)
        d(i)(j) = math.min(math.min(d(i - 1)(j) + 1, d(i)(j - 1) + 1),
          d(i - 1)(j - 1) + (if (a(i - 1) == b(j - 1)) 0 else 1))
      d(a.length)(b.length)
    }
    def rs(n: Int) = (1 to n).map(_ => ('a' + rnd.nextInt(4)).toChar).mkString
    // biased pool: random pairs + near pairs (mutations of a shared base)
    val cases = (1 to 2000).map { _ =>
      val a = rs(rnd.nextInt(8))
      val b = rnd.nextInt(3) match {
        case 0 => rs(rnd.nextInt(8))
        case 1 => // one random edit of a
          if (a.isEmpty) rs(1)
          else {
            val i = rnd.nextInt(a.length)
            rnd.nextInt(3) match {
              case 0 => a.updated(i, ('a' + rnd.nextInt(4)).toChar).mkString
              case 1 => a.take(i) + a.drop(i + 1)
              case _ => a.take(i) + ('a' + rnd.nextInt(4)).toChar + a.drop(i)
            }
          }
        case _ => a
      }
      (a, b)
    }
    cases.foreach { case (a, b) =>
      val got = graft.functions.EditWithin1.within1(
        a.getBytes("UTF-8"), b.getBytes("UTF-8"))
      assert(got == (lev(a, b) <= 1), s"mismatch on ('$a', '$b'): ed=${lev(a, b)}")
    }
  }

  test("byte-level kernel is conservative on multi-byte UTF-8: admits only char-lev <= 1") {
    // the scaladoc claim: on non-ASCII the kernel may MISS pairs (byte ed
    // of a char substitution can exceed 1) but must never ADMIT a pair
    // whose character-level distance exceeds 1
    def lev(a: String, b: String): Int = {
      val d = Array.tabulate(a.length + 1, b.length + 1) { (i, j) =>
        if (i == 0) j else if (j == 0) i else 0
      }
      for (i <- 1 to a.length; j <- 1 to b.length)
        d(i)(j) = math.min(math.min(d(i - 1)(j) + 1, d(i)(j - 1) + 1),
          d(i - 1)(j - 1) + (if (a(i - 1) == b(j - 1)) 0 else 1))
      d(a.length)(b.length)
    }
    val alphabet = "abé日ü€"
    val rnd = new scala.util.Random(13)
    def rs() = (1 to rnd.nextInt(5)).map(_ => alphabet(rnd.nextInt(alphabet.length))).mkString
    var admitted = 0
    (1 to 4000).foreach { _ =>
      val (a, b) = (rs(), rs())
      if (graft.functions.EditWithin1.within1(a.getBytes("UTF-8"), b.getBytes("UTF-8"))) {
        admitted += 1
        assert(lev(a, b) <= 1, s"kernel admitted ('$a', '$b') with char-lev ${lev(a, b)}")
      }
    }
    assert(admitted > 10, "pool too sparse to exercise the claim")
  }
}
