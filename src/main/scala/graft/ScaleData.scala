package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Dev utility: derive an N×-scaled copy of a driver test-data directory
  * for scale-linearity experiments (the sandbox ships sf0.1 as the
  * largest scale; `BENCH_sf1.json` is produced against a 10× derivation).
  *
  * {{{ sbt "runMain graft.ScaleData /root/testdata/sf0.1 /tmp/scaledata/sf1 10" }}}
  *
  * Construction (replica k of N, key offset k·10⁷ so id spaces never
  * collide):
  *   - fact/dim tables: every foreign/primary key offset consistently,
  *     so join fan-outs and group cardinalities scale by exactly N while
  *     per-key row counts stay identical to the source;
  *   - `region`/`nation`: single copy (fixed TPC-H dims — scaling data
  *     does not mint new countries);
  *   - `documents.text`: replica 0 verbatim; replicas k>0 apply a
  *     per-replica character rotation (a Caesar bijection over a–z,
  *     A–Z, 0–9 each rotated by k) — lengths, token boundaries, case
  *     classes, and the per-replica dup structure are preserved
  *     EXACTLY, while every word-shingle AND every char-n-gram becomes
  *     replica-distinct. Round 5 salted by suffixing tokens, which
  *     left char-4-gram sets largely shared across replicas and made
  *     the containment family's candidate space grow quadratically in
  *     the synthetic corpus (SCALE.md — the 33× sweep outlier); a
  *     naive verbatim copy is worse still (every doc a 10-member
  *     near-dup clique, ~45× pair blow-up);
  *   - `embeddings`: vectors copied as-is under offset ids (ANN scoring
  *     cost depends on row count, not value novelty; exact ties in
  *     results are fine for a perf-only dataset).
  *
  * NEVER an oracle input — correctness runs stay on the driver's own
  * parquet. Perf only.
  */
object ScaleData {
  /** Seeded Fisher–Yates permutation of `s` (class-preserving bijection
    * alphabet for one replica / character class).
    */
  private[graft] def perm(s: String, seed: Long): String = {
    val a = s.toCharArray
    val rnd = new java.util.Random(seed)
    var i = a.length - 1
    while (i > 0) {
      val j = rnd.nextInt(i + 1)
      val t = a(i); a(i) = a(j); a(j) = t
      i -= 1
    }
    new String(a)
  }

  /** Per-replica seeded permutations of each character class — valid at
    * any replica count (Caesar rotations give only 10 distinct digit
    * maps). Pairwise-distinct permutations mean replica copies of a
    * document share char-n-grams only at background-collision rates, the
    * same property the rotations provide for n <= 10. Lengths, token
    * boundaries, case classes, and within-replica dup structure are
    * preserved exactly (class-preserving bijection).
    *
    * Distinctness must hold PER CHARACTER CLASS (round-9 advice): the
    * digit class has only 10! = 3.6M maps, so two replicas can share the
    * identical digit permutation while differing on letters (~14%
    * likelihood somewhere by n = 1000), pass a concatenated-only check,
    * and re-share digit-only char-n-grams across replicas — a partial
    * reintroduction of the quadratic-candidate artifact the bijection
    * exists to prevent. Colliding (or identity) class permutations
    * rehash with a deterministic attempt stride, built in (k, class)
    * order, so the table is a pure function of n — and bit-identical to
    * the unguarded r9 output whenever no collision occurs
    * ([[ScaleDataSpec]] pins n = 100, the sf10 corpus, to zero rehashes).
    */
  private[graft] def permTable(classes: Seq[String], n: Int): Array[Seq[String]] = {
    val used = Array.fill(classes.size)(
      scala.collection.mutable.HashSet.empty[String])
    val table = Array.tabulate(n) { k =>
      classes.zipWithIndex.map { case (s, ci) =>
        if (k == 0) s
        else {
          var attempt = 0L
          var p = perm(s, k.toLong * 7919L + ci)
          while (p == s || !used(ci).add(p)) {
            attempt += 1
            // a class whose permutation space is smaller than the replica
            // count can never satisfy distinctness — fail loudly instead
            // of spinning (real classes have 10! and 26! maps; 10^5 draws
            // without a fresh map means exhaustion, not bad luck)
            require(attempt < 100000L,
              s"class $ci ('$s') exhausted distinct permutations at replica $k")
            p = perm(s, k.toLong * 7919L + ci + attempt * 1000003L)
          }
          p
        }
      }
    }
    // post-condition on the guarded construction, per class
    for (ci <- classes.indices) {
      val maps = (1 until n).map(k => table(k)(ci))
      require(maps.distinct.size == maps.size && !maps.contains(classes(ci)),
        s"class $ci permutations must be pairwise distinct and non-identity")
    }
    table
  }

  def main(args: Array[String]): Unit = {
    val (src, dst, n) = args.toSeq match {
      case Seq(from, to, replicas, _*) => (from, to, replicas.toInt)
      case _ => throw new IllegalArgumentException(
        "usage: ScaleData <srcDir> <dstDir> <replicas>")
    }
    // Two per-replica bijection schemes (see `salted` below): Caesar
    // rotations for n <= 10 (bit-compatible with the r8 sf1 artifacts),
    // seeded per-class permutations beyond that — rotations are the
    // identity on digits at k % 10 == 0, so replica 10 would re-share
    // char-n-grams with replica 0 and reintroduce the quadratic-candidate
    // artifact the bijection exists to eliminate.
    require(n <= 1000, s"key offset spacing supports n <= 1000 (got $n)")
    val off = 10000000L
    val spark = DevSession()

    // Tables.events sets the nanosAsLong conf the raw events scan needs;
    // the scaled copy then stores ts as epoch-nano longs, which the same
    // loader reads back identically.
    def read(t: String) =
      if (t == "events") Tables.events(spark, src)
      else spark.read.parquet(s"$src/$t.parquet")
    def write(df: DataFrame, t: String): Unit = {
      df.write.mode("overwrite").parquet(s"$dst/$t.parquet")
      println(s"[scale] $t: ${spark.read.parquet(s"$dst/$t.parquet").count()} rows")
    }
    // replica k gets key offset k*off; f builds that replica's frame
    def rep(t: String)(f: (DataFrame, Long, Int) => DataFrame): DataFrame = {
      val d = read(t)
      (0 until n).map(k => f(d, k.toLong * off, k)).reduce(_.unionAll(_))
    }

    write(read("region"), "region")
    write(read("nation"), "nation")
    val classes = Seq("abcdefghijklmnopqrstuvwxyz",
      "ABCDEFGHIJKLMNOPQRSTUVWXYZ", "0123456789")
    // per-replica Caesar bijection: rotate each character class by k
    def rotated(k: Int): (String, String) = {
      def rot(s: String) = { val n = k % s.length; s.drop(n) + s.take(n) }
      (classes.mkString, classes.map(rot).mkString)
    }
    val table = permTable(classes, n)
    def permuted(k: Int): (String, String) =
      (classes.mkString, table(k).mkString)
    val bijection: Int => (String, String) = if (n <= 10) rotated else permuted
    def salted(c: org.apache.spark.sql.Column, k: Int) =
      if (k == 0) c else { val (from, to) = bijection(k); translate(c, from, to) }
    // c_name rotates per replica like documents.text below: a verbatim
    // copy makes every name a 10-way cross-replica exact/near dup, which
    // inflates fuzzy-join candidates ~N² in the synthetic corpus; the
    // bijection keeps every within-replica edit distance EXACTLY while
    // making replicas disjoint (measured: fuzzy_name_pairs 17× on 10×
    // data with verbatim names).
    write(rep("customer")((d, o, k) => d
      .withColumn("c_custkey", col("c_custkey") + lit(o))
      .withColumn("c_name", salted(col("c_name"), k))), "customer")
    write(rep("supplier")((d, o, _) => d.withColumn("s_suppkey", col("s_suppkey") + lit(o))),
      "supplier")
    write(rep("part")((d, o, _) => d.withColumn("p_partkey", col("p_partkey") + lit(o))),
      "part")
    write(rep("orders")((d, o, _) => d
      .withColumn("o_orderkey", col("o_orderkey") + lit(o))
      .withColumn("o_custkey", col("o_custkey") + lit(o))), "orders")
    write(rep("lineitem")((d, o, _) => d
      .withColumn("l_orderkey", col("l_orderkey") + lit(o))
      .withColumn("l_partkey", col("l_partkey") + lit(o))
      .withColumn("l_suppkey", col("l_suppkey") + lit(o))), "lineitem")
    write(rep("events")((d, o, _) => d
      .withColumn("event_id", col("event_id") + lit(o))
      .withColumn("user_id", col("user_id") + lit(o))), "events")
    write(rep("documents")((d, o, k) => d
      .withColumn("doc_id", col("doc_id") + lit(o))
      .withColumn("text", salted(col("text"), k))
      .withColumn("n_chars", length(col("text")).cast("long"))), "documents")
    write(rep("embeddings")((d, o, _) => d.withColumn("vec_id", col("vec_id") + lit(o))),
      "embeddings")
    spark.stop()
  }
}
