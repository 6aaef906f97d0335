package graft

import org.apache.spark.sql.functions._

/** Plan-shape assertions — the `.explain("formatted")` discipline as
  * executable checks. These are the properties SCALE.md claims: filters
  * reach the parquet scan, projections prune columns, small dimensions
  * broadcast, top-k avoids global sorts.
  */
class PlanSpec extends SparkSpec {

  private val sf = "/root/testdata/sf0.001"

  private def plan(name: String): String =
    SparkEntry.queries(name)(spark, sf).queryExecution.executedPlan.toString

  test("q1_agg pushes the shipdate filter into the parquet scan") {
    val p = plan("q1_agg")
    assert(p.contains("PushedFilters"), p.take(2000))
    assert(p.contains("LessThanOrEqual(l_shipdate"), p.take(2000))
  }

  test("q1_agg prunes unread columns at the scan") {
    val p = plan("q1_agg")
    assert(!p.contains("l_partkey"), "scan should not read l_partkey")
    assert(!p.contains("l_suppkey"), "scan should not read l_suppkey")
  }

  test("ev_filter pushes the event_type equality") {
    val p = plan("ev_filter")
    assert(p.contains("EqualTo(event_type,error)"), p.take(2000))
  }

  test("q1's date filter reaches the parquet scan (PushedFilters + pruned ReadSchema)") {
    spark.conf.set("spark.sql.adaptive.enabled", "false") // unwrap AQE root
    val scans = try SparkEntry.queries("q1_agg")(spark, sf)
      .queryExecution.executedPlan.collect {
        case s: org.apache.spark.sql.execution.FileSourceScanExec => s
      }
    finally spark.conf.set("spark.sql.adaptive.enabled", "true")
    val scan = scans.head
    assert(scan.metadata.get("PushedFilters").exists(_.contains("l_shipdate")),
      s"filter not pushed: ${scan.metadata.get("PushedFilters")}")
    val read = scan.requiredSchema.fieldNames.toSet
    assert(!read.contains("l_orderkey") && !read.contains("l_partkey"),
      s"q1 must not read join keys it never uses: $read")
  }

  test("q2_join_broadcast broadcasts the dimension tables") {
    val p = plan("q2_join_broadcast")
    assert(p.contains("BroadcastHashJoin"), p.take(2000))
  }

  test("q3_topk plans TakeOrderedAndProject (no global sort)") {
    val p = plan("q3_topk")
    assert(p.contains("TakeOrderedAndProject"), p.take(2000))
    assert(!p.contains("Sort ["), "top-k must not global-sort")
  }

  test("prod sketches: pure-integer per-row path, two exchanges, no Expand, one scan") {
    val p18 = plan("q18_approx_prod")
    // the production profile's whole point: no per-row string machinery
    // (md5/conv/bin are the md5 twin's oracle-parity cost) and no Expand
    Seq("md5", "conv(", "bin(").foreach(tok =>
      assert(!p18.contains(tok), s"q18_approx_prod must not plan $tok"))
    assert(p18.contains("xxhash64"), p18.take(1500))
    assert(!p18.contains("Expand"), "sketch agg must not Expand rows")
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try {
      val p = SparkEntry.queries("q18_approx_prod")(spark, sf)
        .queryExecution.executedPlan
      val exchanges = "Exchange hashpartitioning".r.findAllIn(p.toString).length
      assert(exchanges == 2, s"level-1 + level-2 = exactly 2 exchanges, got $exchanges")
      val scans = p.collect {
        case s: org.apache.spark.sql.execution.FileSourceScanExec => s }
      assert(scans.size == 1 &&
        scans.head.requiredSchema.fieldNames.toSet == Set("l_returnflag", "l_partkey"),
        s"one scan of exactly (l_returnflag, l_partkey): ${scans.map(_.requiredSchema.fieldNames.mkString(","))}")
    } finally spark.conf.set("spark.sql.adaptive.enabled", "true")
    val p21 = plan("q21_approx_prod")
    Seq("md5", "conv(", "bin(").foreach(tok =>
      assert(!p21.contains(tok), s"q21_approx_prod must not plan $tok"))
    // ONE pass: the two sketched columns ride one explode over one scan
    assert("Scan parquet".r.findAllIn(p21).length == 1,
      "q21_approx_prod must read lineitem once")
  }

  test("q4_semi_join plans a semi join with a pruned right side") {
    val p = plan("q4_semi_join")
    assert(p.contains("LeftSemi"), p.take(2000))
  }

  test("dedup/sessionize share one exchange for the window functions") {
    val p = plan("ev_sessionize")
    val exchanges = "Exchange hashpartitioning".r.findAllIn(p).length
    assert(exchanges == 1, s"expected exactly 1 hash exchange, got $exchanges")
  }

  test("minhash_lsh_pairs band exchange carries only (doc_id, band, bh) — no shingle sets") {
    // force shuffle joins so the band exchange is visible in the plan
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try {
      val phys = SparkEntry.queries("minhash_lsh_pairs")(spark, sf)
        .queryExecution.executedPlan
      val bandShuffles = phys.collect {
        case s: org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
            if s.outputPartitioning.toString.contains("band") => s
      }
      assert(bandShuffles.nonEmpty, "expected a shuffle partitioned on (band, bh)")
      bandShuffles.foreach { s =>
        val cols = s.output.map(_.name)
        assert(!cols.exists(c => c.contains("sh")),
          s"shingle sets must not ride the band exchange: $cols")
        assert(cols.length <= 3, s"band exchange should be slim: $cols")
      }
    } finally {
      spark.conf.set("spark.sql.adaptive.enabled", "true")
      spark.conf.unset("spark.sql.autoBroadcastJoinThreshold")
    }
  }

  test("dedup_corpus broadcasts the drop list into an anti join (corpus never shuffles)") {
    val p = plan("dedup_corpus")
    assert(p.contains("BroadcastHashJoin") && p.contains("LeftAnti"),
      s"expected broadcast anti join:\n$p")
  }

  test("doc_ngram_freq plans TakeOrderedAndProject over a partial-agg shuffle") {
    val p = plan("doc_ngram_freq")
    assert(p.contains("TakeOrderedAndProject"), s"top-k must not global-sort:\n$p")
    assert(p.contains("partial_count") || p.contains("HashAggregate"),
      s"expected map-side partial aggregation:\n$p")
  }

  private def countExchanges(name: String): Int = {
    // counts KEYED exchanges (hash/range) — the per-key data motion these
    // assertions bound. A RoundRobinPartitioning exchange is the r13
    // parallelism floor on the single-row-group local test files
    // (Tables.parallelized — the identity at any real scale, where a scan
    // already plans ≥ cores partitions), not a keyed shuffle of the
    // corpus, so it stays outside the bound.
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try SparkEntry.queries(name)(spark, sf).queryExecution.executedPlan.collect {
      case s: org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
          if !s.outputPartitioning.isInstanceOf[
            org.apache.spark.sql.catalyst.plans.physical.RoundRobinPartitioning] => 1
    }.sum
    finally spark.conf.set("spark.sql.adaptive.enabled", "true")
  }

  test("decontamination broadcasts the eval-gram side; corpus side never shuffles pre-join") {
    // the 100 TB contract: benchmark grams ride a broadcast, so the only
    // exchange is the final per-doc count over matched (rare) grams
    val p = SparkEntry.queries("doc_decontam")(spark, sf)
      .queryExecution.executedPlan.toString
    assert(p.contains("BroadcastHashJoin"), "eval grams must broadcast")
    assert(countExchanges("doc_decontam") <= 2,
      "only eval-gram distinct + final per-doc count may shuffle")
  }

  test("boilerplate detection broadcasts the bp-gram set back onto the corpus") {
    val p = SparkEntry.queries("doc_boilerplate")(spark, sf)
      .queryExecution.executedPlan.toString
    assert(p.contains("BroadcastHashJoin"), "bp set must broadcast")
  }

  test("doc_dsir: both hashed-bucket model tables ride broadcast joins") {
    // the model tables are ≤ `buckets` rows regardless of corpus size, so
    // the token stream must probe them via BroadcastHashJoin — a
    // sort-merge join on b would shuffle the 100 TB token stream
    val p = SparkEntry.queries("doc_dsir")(spark, sf)
      .queryExecution.executedPlan.toString
    assert(p.contains("BroadcastHashJoin"), "model tables must broadcast")
    assert(!p.contains("SortMergeJoin"), "token stream must never sort-merge")
  }

  test("doc_dsir_sample: Gumbel-top-k cut plans TakeOrderedAndProject") {
    // the selection is a per-partition-heap top-k over the weight table,
    // never a global sort of the corpus
    val p = SparkEntry.queries("doc_dsir_sample")(spark, sf)
      .queryExecution.executedPlan.toString
    assert(p.contains("TakeOrderedAndProject"), s"top-k must not global-sort:\n${p.take(1500)}")
  }

  test("doc_ccnet_buckets: the (lang, score) bucket map broadcasts back") {
    // bucketing runs on the score HISTOGRAM (slim distinct-score rows),
    // and the per-doc assignment probes a broadcast of that map — the
    // scored doc stream itself never re-shuffles on (lang, score)
    val p = SparkEntry.queries("doc_ccnet_buckets")(spark, sf)
      .queryExecution.executedPlan.toString
    assert(p.contains("BroadcastHashJoin"), "bucket map must broadcast")
  }

  test("no query plans a cartesian product or an unintended nested-loop join") {
    // brute-force kNN broadcasts the tiny query side against an
    // inequality condition, and IVF scores every vector against the
    // broadcast pivot set — the two places a broadcast nested-loop IS the
    // wanted plan. ngram_jaccard/simhash block on equijoin keys, LSH on
    // buckets.
    // doc_boilerplate / doc_tfidf_top / q20_approx: 1-row aggregate
    // (corpus count / sketch boundaries) cross-joined back — a broadcast
    // of one row is the wanted plan
    // ngram_containment_pairs: the 1-row bitmap-width aggregate broadcast
    val nestedLoopOk = Set("emb_knn", "emb_ivf_knn", "doc_boilerplate", "emb_kmeans",
      "emb_ivf_trained", "emb_semdedup", "emb_center", "doc_tfidf_top", "q20_approx",
      "ngram_containment_pairs", "emb_recall", // composes emb_knn + emb_ivf_trained
      "dedup_ensemble_clusters", // composes embSemdedup's pivot broadcast
      "emb_sq8_knn", // query-side broadcast vs codes + 1-row dim-stats broadcast
      "dedup_lsh_recall", // two 1-row count aggregates crossed into the scalar row
      "doc_lm_score", // 1-row vocab-count broadcast (same pattern as doc_tfidf_top)
      "doc_lm_score_heldout", // same 1-row vocab broadcast, train/heldout split
      "doc_mixture_sample", // 1-row mixture-scale minimum crossed into the rate table
      "emb_rp_knn", // query-side broadcast vs projected scan, like emb_knn/emb_sq8_knn
      "emb_rp_recall", // composes emb_knn + emb_rp_knn (both allowlisted)
      "doc_dsir", // two 1-row model-total broadcasts (nt, ns scalar attaches)
      "doc_dsir_sample", // composes doc_dsir (same 1-row broadcasts)
      "emb_bq_knn", // 1-row dim-stats broadcast + query-bits broadcast, like emb_sq8_knn
      "emb_bq_recall", // composes emb_knn + emb_bq_knn (both allowlisted)
      "doc_ccnet_buckets", // composes doc_lm_score (1-row vocab broadcast)
      "emb_ivf_pq", // composes lloyd's pivot broadcast (emb_ivf_trained pattern)
      "emb_ivf_build", // persisted-index build: the same lloyd pivot broadcast
      "emb_ivf_query", // probe side broadcasts the read-back centroids vs queries
      "emb_cov", // 1-row corpus-count broadcast (same pattern as doc_tfidf_top)
      "emb_mips_knn", // query-side broadcast vs inequality, like emb_knn
      "emb_range_search", // query-side broadcast vs inequality, like emb_knn
      "emb_outlier", // composes lloyd's pivot broadcast (emb_ivf_trained pattern)
      "ev_rfm", // 1-row (gmax, n_users) scalar attach, like doc_tfidf_top
      "ev_wau", // 1-row day-bounds scalar attach, same pattern
      "doc_pmi_top", // two 1-row total broadcasts (T tokens, P pairs), doc_dsir pattern
      "ev_survival") ++ // 1-row (observation end, n_users) scalar attach, ev_rfm pattern
      // ngram_containment_auto's expected shape FOLLOWS its dispatch
      // decision (the sf0.001 density ~0.021 sits on the 0.02 bound, so
      // hardcoding a tier would flip on a data nudge — r10 verdict): the
      // bitmap tier carries the wanted 1-row width broadcast like
      // ngram_containment_pairs; the banded tier must stay equijoin-only
      (if (graft.operators.DedupOps.containmentTier(
          graft.operators.DedupOps.containmentProbe2(spark, sf)) == "bitmap")
        Set("ngram_containment_auto") else Set.empty[String])
    SparkEntry.queries.keys.foreach { name =>
      val p = SparkEntry.queries(name)(spark, sf).queryExecution.executedPlan.toString
      assert(!p.contains("CartesianProduct"), s"$name plans a cartesian product")
      if (!nestedLoopOk(name))
        assert(!p.contains("BroadcastNestedLoopJoin"),
          s"$name plans an unintended nested-loop join")
    }
  }

  test("document scans prune unused columns (ReadSchema = consumed fields only)") {
    // doc_tokens consumes only (doc_id, text); a scan reading lang/source/
    // n_chars for it would drag dead bytes through every 100 TB pass
    val scans = SparkEntry.queries("doc_tokens")(spark, sf)
      .queryExecution.executedPlan.collect {
        case s: org.apache.spark.sql.execution.FileSourceScanExec => s
      }
    val read = scans.head.requiredSchema.fieldNames.toSet
    assert(read == Set("doc_id", "text"), s"over-read: $read")
  }

  test("ev_interarrival: lag window and per-user agg share ONE exchange") {
    assert(countExchanges("ev_interarrival") == 1)
  }

  test("q15_dist: both window specs and the final agg share ONE exchange") {
    assert(countExchanges("q15_dist") == 1)
  }

  test("funnels: stage count adds windows, never shuffles — ONE exchange") {
    assert(countExchanges("ev_funnel") == 1, "3-stage funnel")
    assert(countExchanges("ev_funnel4") == 1, "4-stage funnel")
  }

  test("ev_attribution: touch window and purchase filter share ONE exchange") {
    assert(countExchanges("ev_attribution") == 1)
  }

  test("ev_transitions: lead window + (from,to) agg = two exchanges, " +
    "constant-size output") {
    // per-user lead reuses one hash-partition; the |types|^2 aggregate and
    // the from_type normalization window repartition tiny data only
    assert(countExchanges("ev_transitions") <= 3)
  }

  test("ev_anomaly: stats windows and flag filter share ONE exchange") {
    assert(countExchanges("ev_anomaly") == 1)
  }

  test("q26_upsert: the full-outer apply is ONE key shuffle of each side") {
    // base + combined updates shuffle once each for the sort-merge join;
    // the union of the two derived change sets adds no exchange of its own
    assert(countExchanges("q26_upsert") <= 3)
  }

  test("q28/q29: histogram and moment aggregates are map-side partial") {
    assert(countExchanges("q28_histogram") == 1, "one |buckets|-row shuffle")
    assert(countExchanges("q29_stats") == 1, "one |groups|-row shuffle")
  }

  test("fuzzy join: ONE exchange of the keys table feeds both join sides") {
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try {
      val plan = graft.CacheScope.uncached(
        SparkEntry.queries("fuzzy_name_pairs")(spark, sf).queryExecution.executedPlan)
      val shuffles = plan.collect {
        case s: org.apache.spark.sql.execution.exchange.ShuffleExchangeExec => s
      }
      // keys exchange (x2 sides sharing one plan subtree pre-AQE reuse) +
      // the distinct on slim id pairs; nothing may shuffle raw strings
      // beyond the keys table itself
      assert(shuffles.length <= 3, s"unexpected exchanges:\n$plan")
    } finally spark.conf.set("spark.sql.adaptive.enabled", "true")
  }

  test("q32_latest: rank-limited window runs on ONE key exchange, no global sort") {
    assert(countExchanges("q32_latest") == 1)
    val p = plan("q32_latest")
    assert(!p.contains("Sort [o_orderdate"), "sort must stay inside the partition")
  }

  test("ev_gapfill: hourly agg + spine + join + LOCF stay within three exchanges") {
    // hourly agg (1), spine min/max agg reusing the same key (1-2), the
    // spine-to-hourly join and LOCF window reuse the user partitioning
    assert(countExchanges("ev_gapfill") <= 4)
  }

  test("ngram_containment_banded: no single-task stage, no unblocked self-join") {
    // the two scale-killers the banded tier exists to remove: the bitmap
    // tier's vocabulary-wide `row_number over Window.orderBy` (a
    // SinglePartition exchange) and its lang-only all-pairs self-join
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try {
      CacheScope.release()
      spark.catalog.clearCache()
      val plan = CacheScope.uncached(
        SparkEntry.queries("ngram_containment_banded")(spark, sf)
          .queryExecution.executedPlan)
      val p = plan.toString
      assert(!p.contains("SinglePartition"),
        s"banded tier must not plan a single-task exchange:\n${p.take(4000)}")
      assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"),
        "candidate generation must stay an equijoin")
      // every self-join must carry the gram hash in its keys, not lang alone
      val joins = plan.collect {
        case j: org.apache.spark.sql.execution.joins.SortMergeJoinExec =>
          j.leftKeys.map(_.sql).mkString(",")
        case j: org.apache.spark.sql.execution.joins.ShuffledHashJoinExec =>
          j.leftKeys.map(_.sql).mkString(",")
      }
      val langOnly = joins.filter(k => k.contains("lang") && !k.contains("gh"))
      assert(langOnly.isEmpty, s"lang-only (all-pairs-in-language) join keys: $joins")
    } finally spark.conf.set("spark.sql.adaptive.enabled", "true")
  }

  test("gram-set build: the documents scan carries no gram hashing in its DataFilters") {
    // gramSets filters sz > 0 above its barrier: below it, Catalyst pushes
    // the filter through Tables.parallelized's round-robin repartition
    // into the single-task scan, which then hashes every doc's grams once
    // more. Barriers stay live here: the scan sits in the cached plan.
    def scans(p: org.apache.spark.sql.execution.SparkPlan)
        : Seq[org.apache.spark.sql.execution.FileSourceScanExec] = p.collect {
      case s: org.apache.spark.sql.execution.FileSourceScanExec => Seq(s)
      case m: org.apache.spark.sql.execution.columnar.InMemoryTableScanExec =>
        scans(m.relation.cachedPlan)
    }.flatten
    val qs = Seq("ngram_containment_banded", "ngram_jaccard_pairs", "ngram_containment_pairs")
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try qs.foreach { q =>
      CacheScope.release()
      spark.catalog.clearCache()
      val all = scans(SparkEntry.queries(q)(spark, sf).queryExecution.executedPlan)
      assert(all.nonEmpty, s"$q: no file scan found")
      all.foreach { s =>
        val filters = s.dataFilters.map(_.sql)
        assert(!filters.exists(_.contains("transform(")),
          s"$q: gram hashing pushed into the scan: $filters")
      }
    } finally {
      CacheScope.release()
      spark.catalog.clearCache()
      spark.conf.set("spark.sql.adaptive.enabled", "true")
    }
  }

  test("ngram_jaccard_banded: no single-task stage, no block-only self-join") {
    // same contract as the containment banded tier: candidate generation
    // must key on the gram hash, never degenerate to all-pairs within a
    // (lang, lenb) block, and nothing may plan a single-task exchange
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try {
      CacheScope.release()
      spark.catalog.clearCache()
      val plan = CacheScope.uncached(
        SparkEntry.queries("ngram_jaccard_banded")(spark, sf)
          .queryExecution.executedPlan)
      val p = plan.toString
      assert(!p.contains("SinglePartition"),
        s"banded tier must not plan a single-task exchange:\n${p.take(4000)}")
      assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"),
        "candidate generation must stay an equijoin")
      val joins = plan.collect {
        case j: org.apache.spark.sql.execution.joins.SortMergeJoinExec =>
          j.leftKeys.map(_.sql).mkString(",")
        case j: org.apache.spark.sql.execution.joins.ShuffledHashJoinExec =>
          j.leftKeys.map(_.sql).mkString(",")
      }
      val blockOnly = joins.filter(k => k.contains("lang") && !k.contains("gh"))
      assert(blockOnly.isEmpty, s"block-only (all-pairs-in-block) join keys: $joins")
    } finally spark.conf.set("spark.sql.adaptive.enabled", "true")
  }

  test("banded spine: each family's arithmetic constants pinned in the plan") {
    // drift tripwire for the shared BandedSpine parametrization (r12):
    // the family constants the recall derivations fix must survive into
    // the physical plan verbatim. A change to a spine parameter — slack,
    // a floor form, a positional bound — moves one of these strings and
    // must arrive as a deliberate edit HERE, next to the r10/r11
    // measured evidence it invalidates, not as a silent refactor.
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try {
      CacheScope.release(); spark.catalog.clearCache()
      val jp = CacheScope.uncached(
        SparkEntry.queries("ngram_jaccard_banded")(spark, sf)
          .queryExecution.executedPlan).toString
      // t/(1+t) at t=0.4 (positional bound), the slack-8 count threshold,
      // and the r14 smaller-side PPJoin floor ⌊0.42863·sz⌋ in BOTH the
      // prefix filter and the count threshold (derivation on
      // jaccardSpine; replaced the r11 one-sided ⌊3·sz/5⌋ form)
      assert(jp.contains("0.28571428571428575"), "jaccard positional bound t/(1+t)")
      assert(jp.contains("least(8,"), "jaccard PPJoin+ count threshold slack")
      assert(jp.sliding(7).count(_ == "0.42863") == 2,
        "jaccard FP prefix/miss floors: ⌊0.42863·sz⌋ in the prefix " +
          "filter AND ⌊0.42863·min_sz⌋ in the count threshold")
      assert(jp.sliding(5).count(_ == "div 5") == 0,
        "the r11 (3*sz) div 5 floor must be fully replaced")
      CacheScope.release(); spark.catalog.clearCache()
      val cp = CacheScope.uncached(
        SparkEntry.queries("ngram_containment_banded")(spark, sf)
          .queryExecution.executedPlan).toString
      // 0.8 minus/plus the round-to-4 slop (positional bound, FP miss
      // floor), the slack-8 threshold, the integer ⌊sz/5⌋ prefix floor
      assert(cp.contains("0.79995"), "containment positional bound 0.8 - slop")
      assert(cp.contains("0.20005"), "containment FP miss floor 0.2 + slop")
      assert(cp.contains("least(8,"), "containment PPJoin+ count threshold slack")
      assert(cp.sliding(5).count(_ == "div 5") == 1,
        "containment integer prefix floor: sz div 5 in the prefix filter " +
          "only (the miss floor is the FP 0.20005 form)")
    } finally spark.conf.set("spark.sql.adaptive.enabled", "true")
  }

  test("dedup_lsh_recall: truth candidates come from a gh-keyed equijoin, slim rows") {
    // the exact-recall truth side must never degenerate to all-pairs: the
    // prefix-vs-postings join is keyed on the shingle hash, and its
    // exchanges carry (doc_id, sz, gh[, df/rk]) — never shingle strings
    // or shingle sets
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try {
      CacheScope.release()
      spark.catalog.clearCache()
      val phys = CacheScope.uncached {
        SparkEntry.queries("dedup_lsh_recall")(spark, sf)
          .queryExecution.executedPlan
      }
      val p = phys.toString
      assert(!p.contains("CartesianProduct"), "no cartesian anywhere in the measurement")
      val ghShuffles = phys.collect {
        case s: org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
            if s.outputPartitioning.toString.contains("gh#") => s
      }
      assert(ghShuffles.nonEmpty, "expected shuffles keyed on the shingle hash")
      ghShuffles.foreach { s =>
        val cols = s.output.map(_.name)
        assert(!cols.exists(c => c == "shset" || c == "s" || c.contains("text")),
          s"shingle sets must not ride the posting exchange: $cols")
      }
    } finally spark.conf.set("spark.sql.adaptive.enabled", "true")
  }

  test("emb_sq8_knn: approx scan emits slim id pairs; re-rank fetch is an id equijoin") {
    // after quantization the only access to full-precision vectors must be
    // the candidate fetch: the exchange feeding the re-rank join carries
    // (q_id, n_id) ids only, never the decoded or raw vector columns
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try {
      CacheScope.release()
      spark.catalog.clearCache()
      val phys = CacheScope.uncached {
        SparkEntry.queries("emb_sq8_knn")(spark, sf)
          .queryExecution.executedPlan
      }
      assert(!phys.toString.contains("CartesianProduct"))
      val idShuffles = phys.collect {
        case s: org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
            if s.outputPartitioning.toString.contains("n_id#") => s
      }
      assert(idShuffles.nonEmpty, "expected the candidate-fetch exchange keyed on n_id")
      // ALL n_id-keyed exchanges must be free of quantization internals: the
      // approx-scan side ships (q_id, n_id) ids only, and the re-rank fetch
      // side ships the full vector under its fetch alias `cv` — `dec` (the
      // dequantized scan vector), `code` (the int8 codes), and the raw `v`
      // never legitimately ride an n_id exchange. No slimness pre-filter:
      // a regression routing a fat exchange must fail here, not slip past.
      idShuffles.foreach { s =>
        val cols = s.output.map(_.name)
        assert(!cols.exists(c => c == "dec" || c == "v" || c == "code"),
          s"n_id exchange must not carry quantization internals or raw vectors: $cols")
      }
      assert(idShuffles.exists(_.output.length <= 2),
        "at least one slim (q_id, n_id) candidate exchange expected")
    } finally {
      spark.conf.set("spark.sql.adaptive.enabled", "true")
      spark.conf.unset("spark.sql.autoBroadcastJoinThreshold")
    }
  }

  test("doc_source_cap: salted cell rank precedes the per-source window") {
    // phase 1 must rank inside (source, salt) cells so the final
    // per-source window never sees a giant host's whole crawl: expect an
    // exchange keyed on BOTH source and salt upstream of the source-only
    // exchange, and text must ride neither
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try {
      val phys = CacheScope.uncached {
        SparkEntry.queries("doc_source_cap")(spark, sf).queryExecution.executedPlan
      }
      val shuffles = phys.collect {
        case s: org.apache.spark.sql.execution.exchange.ShuffleExchangeExec => s
      }
      val parts = shuffles.map(_.outputPartitioning.toString)
      assert(parts.exists(p => p.contains("source#") && p.contains("salt#")),
        s"expected a (source, salt) cell exchange: $parts")
      assert(parts.exists(p => p.contains("source#") && !p.contains("salt#")),
        s"expected the final source-only exchange: $parts")
      shuffles.foreach { s =>
        val cols = s.output.map(_.name)
        assert(!cols.exists(_.contains("text")),
          s"document text must not ride a top-N exchange: $cols")
      }
    } finally spark.conf.set("spark.sql.adaptive.enabled", "true")
  }

  test("ev_scd2: one slim user_id exchange drives both window passes") {
    // change-detect (lag) and interval-build (lead/row_number) share one
    // (user_id) partitioning and one (us, event_id) sort, so the whole
    // type-2 build must plan exactly ONE shuffle — and `props`/`value`
    // must be pruned before it
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try {
      val phys = CacheScope.uncached {
        SparkEntry.queries("ev_scd2")(spark, sf).queryExecution.executedPlan
      }
      val shuffles = phys.collect {
        case s: org.apache.spark.sql.execution.exchange.ShuffleExchangeExec => s
      }
      assert(shuffles.length == 1,
        s"expected exactly one exchange, got ${shuffles.length}")
      assert(shuffles.head.outputPartitioning.toString.contains("user_id#"),
        s"exchange must key on user_id: ${shuffles.head.outputPartitioning}")
      val cols = shuffles.head.output.map(_.name)
      assert(!cols.exists(c => c.contains("props") || c.contains("value")),
        s"unprojected event payload rides the SCD2 exchange: $cols")
    } finally spark.conf.set("spark.sql.adaptive.enabled", "true")
  }

  test("doc_decontam_overlap: eval grams broadcast; no sort-merge join on gh") {
    // the TRAINING gram stream must probe a BROADCAST of the
    // benchmark-sized eval grams (the 100 TB side never shuffles on gh);
    // the eval side's own distinct() legitimately plans a gh exchange —
    // but only inside a BroadcastExchange build (benchmark-sized rows).
    // So: gh shuffles are allowed IFF they sit under a broadcast build;
    // any gh shuffle on the probe path is the forbidden 100 TB exchange.
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try {
      val phys = CacheScope.uncached {
        SparkEntry.queries("doc_decontam_overlap")(spark, sf).queryExecution.executedPlan
      }
      val s = phys.toString
      assert(s.contains("BroadcastHashJoin"), "eval-gram probe must broadcast")
      def ghShuffles(p: org.apache.spark.sql.execution.SparkPlan) = p.collect {
        case e: org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
          if e.outputPartitioning.toString.contains("gh#") => e
      }
      val underBroadcast = phys.collect {
        case b: org.apache.spark.sql.execution.exchange.BroadcastExchangeExec => b
      }.flatMap(ghShuffles).toSet
      val probeSide = ghShuffles(phys).filterNot(underBroadcast)
      assert(probeSide.isEmpty,
        s"training grams must not shuffle on gh: ${probeSide.map(_.outputPartitioning)}")
    } finally spark.conf.set("spark.sql.adaptive.enabled", "true")
  }

  test("emb_rp_knn: n_id exchanges carry no projections or raw vectors") {
    // after projection the approx scan must ship (q_id, n_id) ids only and
    // the re-rank fetch ships the vector under its fetch alias `cv` — the
    // 16-d projections (proj) and raw `v` never ride an n_id exchange
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try {
      CacheScope.release()
      spark.catalog.clearCache()
      val phys = CacheScope.uncached {
        SparkEntry.queries("emb_rp_knn")(spark, sf).queryExecution.executedPlan
      }
      assert(!phys.toString.contains("CartesianProduct"))
      val idShuffles = phys.collect {
        case s: org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
            if s.outputPartitioning.toString.contains("n_id#") => s
      }
      assert(idShuffles.nonEmpty, "expected the candidate-fetch exchange keyed on n_id")
      idShuffles.foreach { s =>
        val cols = s.output.map(_.name)
        assert(!cols.exists(c => c == "proj" || c == "v" || c == "qproj"),
          s"n_id exchange must not carry projections or raw vectors: $cols")
      }
      assert(idShuffles.exists(_.output.length <= 2),
        "at least one slim (q_id, n_id) candidate exchange expected")
    } finally {
      spark.conf.set("spark.sql.adaptive.enabled", "true")
      spark.conf.unset("spark.sql.autoBroadcastJoinThreshold")
    }
  }

  test("doc_cms_freq: the sketch-build exchange carries aggregated (i,b) partials, not grams") {
    // the defining CMS property: every partition's gram stream collapses to
    // <= d*w partial-count rows BEFORE the shuffle (map-side combine on the
    // (row, bucket) key) — an exchange carrying raw gram strings keyed on
    // (i, b) would ship the whole corpus and void the sketch's O(d*w) bound
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try {
      CacheScope.release()
      spark.catalog.clearCache()
      val phys = CacheScope.uncached {
        SparkEntry.queries("doc_cms_freq")(spark, sf).queryExecution.executedPlan
      }
      val ibShuffles = phys.collect {
        case s: org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
            if s.outputPartitioning.toString.contains("i#")
              && s.outputPartitioning.toString.contains("b#") => s
      }
      assert(ibShuffles.nonEmpty, "expected the sketch-build exchange keyed on (i, b)")
      ibShuffles.foreach { s =>
        val cols = s.output.map(_.name)
        assert(!cols.exists(c => c == "gram" || c == "h" || c == "t" || c.contains("text")),
          s"sketch exchange must carry only (i, b, partial count): $cols")
        assert(cols.exists(_.startsWith("count")),
          s"sketch exchange must carry a map-side partial count: $cols")
      }
    } finally spark.conf.set("spark.sql.adaptive.enabled", "true")
  }

  test("corpus_prepared_best: drop lists broadcast; pack window hash-distributes") {
    // the four-stage chain may cost the corpus only per-key exchanges: the
    // near-dup and contamination drop lists must arrive as broadcasts, and
    // the pack prefix-sum must partition by lang — a SinglePartition
    // exchange anywhere means some stage collapsed to one task
    val p = plan("corpus_prepared_best")
    assert(!p.contains("Exchange SinglePartition"),
      "corpus_prepared_best must not plan a single-partition exchange")
    assert(p.contains("BroadcastHashJoin") || p.contains("BroadcastExchange"),
      "drop lists should broadcast into the anti-joins")
  }

  test("doc_span_dedup: one exchange keyed on the span hash, slim rows") {
    // the window stream must shuffle (doc_id, pos, span_h) only — never
    // tokens or shingle strings — and exactly once
    assert(countExchanges("doc_span_dedup") == 1)
  }

  test("q20_approx plans no global sort (the point of the sketch twin)") {
    val p = plan("q20_approx")
    assert(!p.contains("Sort ["), s"boundary lookup must not sort:\n$p")
    assert(countExchanges("q20_approx") <= 1, "only the 1-row sketch agg may exchange")
  }

  test("winnow_pairs: posting exchange carries only (doc_id, f) — text never shuffles") {
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try {
      // uncached + clearCache: a barrier (even one registered by an
      // EARLIER test building this query) would make the CacheManager
      // substitute an InMemoryRelation for the subtree holding the
      // posting exchange, hiding it from this collect
      CacheScope.release()
      spark.catalog.clearCache()
      val phys = CacheScope.uncached {
        SparkEntry.queries("winnow_pairs")(spark, sf)
          .queryExecution.executedPlan
      }
      val postShuffles = phys.collect {
        case s: org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
            if s.outputPartitioning.toString.contains("f#") => s
      }
      assert(postShuffles.nonEmpty, "expected a shuffle partitioned on the fingerprint")
      postShuffles.foreach { s =>
        val cols = s.output.map(_.name)
        assert(cols.length <= 2 && !cols.exists(c => c.contains("norm") || c.contains("text")),
          s"posting exchange should be slim (doc_id, f): $cols")
      }
    } finally spark.conf.set("spark.sql.adaptive.enabled", "true")
  }

  test("Catalyst injects a runtime bloom filter into a selective shuffle join") {
    // the engine-level scale feature doc_decontam_bloom hand-rolls for
    // pre-built filters: InjectRuntimeFilter plants might_contain on the
    // probe side of a shuffle join when the build side is selective.
    // Production thresholds (10MB/10GB) never fire at test scale, so
    // lower them to demonstrate the plan shape.
    val confs = Seq(
      "spark.sql.optimizer.runtime.bloomFilter.enabled" -> "true",
      "spark.sql.optimizer.runtime.bloomFilter.creationSideThreshold" -> "10GB",
      "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold" -> "0",
      "spark.sql.autoBroadcastJoinThreshold" -> "-1",
      "spark.sql.adaptive.enabled" -> "false")
    val prev = confs.map { case (k, _) => k -> spark.conf.getOption(k) }
    confs.foreach { case (k, v) => spark.conf.set(k, v) }
    try {
      val li = Tables.lineitem(spark, sf)
      val ord = Tables.orders(spark, sf).filter(col("o_totalprice") > 400000)
      val p = li.join(ord, col("l_orderkey") === col("o_orderkey"))
        .groupBy(col("o_orderpriority")).agg(count(lit(1)).as("n"))
        .queryExecution.executedPlan.toString
      assert(p.contains("might_contain"),
        s"expected an injected bloom filter on the probe side:\n${p.take(3000)}")
    } finally prev.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None) => spark.conf.unset(k)
    }
  }

  test("q22 EXISTS rewrites to a semi join; q23 NOT IN plans null-aware anti") {
    val p22 = plan("q22_exists")
    assert(p22.contains("LeftSemi"), s"EXISTS must become a semi join:\n${p22.take(2000)}")
    val p23 = plan("q23_not_in")
    assert(p23.contains("LeftAnti"), s"NOT IN must become an anti join:\n${p23.take(2000)}")
    // the null-aware marker: BroadcastHashJoinExec prints its
    // isNullAwareAntiJoin flag as the trailing `true`
    assert(p23.contains("LeftAnti, BuildRight, true"),
      s"expected null-aware anti:\n${p23.take(2000)}")
  }

  test("emb_pq: codebook and LUT joins broadcast; no sort-merge join in the ADC path") {
    CacheScope.release()
    spark.catalog.clearCache()
    val p = CacheScope.uncached {
      SparkEntry.queries("emb_pq")(spark, sf).queryExecution.executedPlan.toString
    }
    assert(p.contains("BroadcastHashJoin"), "centroids/LUT must broadcast")
    assert(!p.contains("SortMergeJoin"),
      "nothing in PQ justifies a sort-merge join (codebooks are k*d doubles)")
  }

  test("emb_ivf_pq: probe/LUT/code joins broadcast; no sort-merge join anywhere") {
    CacheScope.release()
    spark.catalog.clearCache()
    val p = CacheScope.uncached {
      SparkEntry.queries("emb_ivf_pq")(spark, sf).queryExecution.executedPlan.toString
    }
    assert(p.contains("BroadcastHashJoin"),
      "probe table / LUT / codebooks must broadcast")
    // the one allowed shuffle join is the candidate-pairs ⋈ codes equijoin
    // on vec_id — slim id rows; every MODEL artifact must broadcast, so a
    // sort-merge join keyed on anything but the id columns is a regression
    p.linesIterator.filter(_.contains("SortMergeJoin")).foreach { l =>
      assert(l.contains("vec_id#") || l.contains("n_id#"),
        s"sort-merge join on a non-id key (model artifact not broadcast?): $l")
    }
  }

  test("doc_shuffle: corpus-side rank hash-distributes; offsets ride a broadcast") {
    val p = plan("doc_shuffle")
    // the 256-bucket prefix-sum construction: the big-side window must be
    // partitioned on bucket (256-way parallel), with the tiny offset
    // table broadcast back — a global-order window would show a
    // SinglePartition exchange feeding the corpus-side Window instead
    assert(p.contains("hashpartitioning(bucket"),
      s"corpus-side window must hash-distribute on bucket:\n${p.take(1500)}")
    assert(p.contains("BroadcastHashJoin"), "bucket offsets must broadcast")
  }

  test("dedup_incremental: band exchange carries only (doc_id, band, bh)") {
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try {
      CacheScope.release()
      spark.catalog.clearCache()
      val phys = CacheScope.uncached {
        SparkEntry.queries("dedup_incremental")(spark, sf)
          .queryExecution.executedPlan
      }
      val bandShuffles = phys.collect {
        case s: org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
            if s.outputPartitioning.toString.contains("bh#") => s
      }
      assert(bandShuffles.nonEmpty, "expected shuffles partitioned on (band, bh)")
      bandShuffles.foreach { s =>
        val cols = s.output.map(_.name)
        assert(cols.length <= 3 && !cols.exists(c => c.contains("sh") && c != "bh"),
          s"band exchange should be slim (id, band, bh): $cols")
      }
    } finally {
      spark.conf.set("spark.sql.adaptive.enabled", "true")
      spark.conf.unset("spark.sql.autoBroadcastJoinThreshold")
    }
  }

  test("doc_decontam_bloom: bloom probe prunes the gram stream below the confirm join") {
    val phys = SparkEntry.queries("doc_decontam_bloom")(spark, sf)
      .queryExecution.executedPlan
    val p = phys.toString
    assert(p.contains("might_contain"), s"bloom probe missing:\n${p.take(3000)}")
    // the probe must sit under the join (map-side, pre-exchange), i.e. the
    // filter appears in the same codegen stage as the scan-side explode,
    // not above any join operator
    val joinIdx = p.indexOf("BroadcastHashJoin")
    val probeIdx = p.indexOf("might_contain")
    assert(joinIdx >= 0 && probeIdx > joinIdx,
      "probe must be below (deeper than) the confirm join in the plan tree")
  }

  test("doc_decontam_bloom returns exactly the exact-decontam result") {
    val exact = SparkEntry.queries("doc_decontam")(spark, sf)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val bloom = SparkEntry.queries("doc_decontam_bloom")(spark, sf)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(bloom == exact)
    CacheScope.release()
  }

  test("doc_line_dedup: first-occurrence exchange carries only (doc_id, ci, ch)") {
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try {
      CacheScope.release()
      spark.catalog.clearCache()
      val phys = CacheScope.uncached {
        SparkEntry.queries("doc_line_dedup")(spark, sf)
          .queryExecution.executedPlan
      }
      val chShuffles = phys.collect {
        case s: org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
            if s.outputPartitioning.toString.contains("ch#") => s
      }
      assert(chShuffles.nonEmpty, "expected a shuffle partitioned on the chunk hash")
      chShuffles.foreach { s =>
        val cols = s.output.map(_.name)
        // 4th column = the window's pre-projected struct(doc_id, ci) (_w0)
        assert(cols.length <= 4 && !cols.exists(c => c.contains("chunk") || c.contains("text")),
          s"chunk-hash exchange should be slim (doc_id, ci, ch, _w0): $cols")
      }
    } finally spark.conf.set("spark.sql.adaptive.enabled", "true")
  }

  test("doc_chunk: pure per-row flat-map — zero exchanges") {
    assert(countExchanges("doc_chunk") == 0)
  }

  test("ev_cep: both CEP windows share ONE user-keyed exchange") {
    assert(countExchanges("ev_cep") == 1)
  }

  test("emb_cov: the fused moment fit shuffles ONE buffer per map task, never vectors") {
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try {
      // the fit plan (covMomentsOf): a single global aggregate over the
      // CovMoments buffer — partial+final, one ~17 KB array per map
      // task; no vector column ever rides an exchange
      val fit = graft.operators.VectorOps.covMomentsPlanForSpec(spark, sf)
      val shuffles = fit.collect {
        case s: org.apache.spark.sql.execution.exchange.ShuffleExchangeExec => s
      }
      assert(shuffles.size == 1, s"expected the single final-agg exchange: $shuffles")
      shuffles.foreach { s =>
        val cols = s.output.map(_.name)
        assert(!cols.exists(c => c.contains("vq") || c.contains("embedding")),
          s"vector column rides an exchange: $cols")
      }
    } finally spark.conf.set("spark.sql.adaptive.enabled", "true")
  }

  test("ev_ab_stats: both variants fold into ONE slim moment exchange") {
    // conditional aggregation = one pass; adding a variant never adds a
    // scan or a shuffle — the whole point of the six-integer-moment shape
    assert(countExchanges("ev_ab_stats") == 1)
  }

  test("emb_range_search: broadcast-join + filter only — zero shuffles") {
    // no top-k window -> no exchange at all; the corpus STREAMS through
    // the similarity filter in one codegen stage per task
    assert(countExchanges("emb_range_search") == 0)
  }

  test("ev_ab_cuped: pre/post periods and both arms fold into the user + metric exchanges") {
    // (event_type, user) reduction + per-metric moment fold — conditional
    // aggregation means neither another period nor another variant ever
    // adds a scan or a shuffle (the ev_ab_stats contract with X⊗Y added)
    assert(countExchanges("ev_ab_cuped") == 2)
  }

  test("ev_forecast: one data-sized exchange (the daily aggregate); lag-7 join broadcasts") {
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try {
      val phys = SparkEntry.queries("ev_forecast")(spark, sf).queryExecution.executedPlan
      val dataExchanges = phys.collect {
        case e: org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
            // the (type, day) daily agg: everything after it is tiny
            if e.toString.contains("event_type") => e
      }
      assert(dataExchanges.nonEmpty)
      assert(phys.toString.contains("BroadcastHashJoin") ||
        phys.toString.contains("BroadcastExchange"),
        "the lag-7 self-join over the tiny daily table should broadcast")
    } finally spark.conf.set("spark.sql.adaptive.enabled", "true")
  }

  /** Exchange-input columns with AQE unwrapped (same discipline as
    * [[countExchanges]] — adaptive roots hide the exchanges). */
  private def shuffledColumns(name: String): Seq[Seq[String]] = {
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try SparkEntry.queries(name)(spark, sf).queryExecution.executedPlan.collect {
      case e: org.apache.spark.sql.execution.exchange.ShuffleExchangeExec =>
        e.child.output.map(_.name).toSeq
    }
    finally spark.conf.set("spark.sql.adaptive.enabled", "true")
  }

  test("doc_split_safe: cluster labels broadcast; the corpus itself never shuffles") {
    try {
      // every exchange belongs to the dedup_clusters pair/CC machinery
      // (slim id/band/gram rows) — the documents table's text/lang never
      // rides one, and the final split assignment joins via broadcast
      val cols = shuffledColumns("doc_split_safe")
      assert(cols.forall(cs => !cs.contains("text") && !cs.contains("lang")),
        s"corpus columns rode an exchange: $cols")
      val p = SparkEntry.queries("doc_split_safe")(spark, sf)
        .queryExecution.executedPlan.toString
      assert(p.contains("BroadcastHashJoin"), "label join should broadcast")
    } finally CacheScope.release()
  }

  test("doc_pack_ffd: the packing exchange carries only (doc_id, n_tok, shard)") {
    val cols = shuffledColumns("doc_pack_ffd")
    assert(cols.nonEmpty)
    assert(cols.forall(cs => !cs.exists(_.contains("text"))),
      s"text rode the packing exchange: $cols")
  }

  test("corpus_stats: digest window + source fold — slim exchanges, no text") {
    val cols = shuffledColumns("corpus_stats")
    assert(cols.nonEmpty)
    assert(cols.forall(cs => !cs.contains("text")),
      s"text rode an exchange: $cols")
  }

  test("doc_bpe_apply: rewrite runs on the distinct-word table; vocab broadcasts") {
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try {
      val phys = SparkEntry.queries("doc_bpe_apply")(spark, sf)
        .queryExecution.executedPlan
      // token→vocab join must broadcast, never sort-merge the corpus
      assert(phys.toString.contains("BroadcastHashJoin"),
        "vocab lookup should broadcast")
      assert(!phys.toString.contains("SortMergeJoin"),
        "corpus must not sort-merge against the vocabulary")
    } finally {
      spark.conf.set("spark.sql.adaptive.enabled", "true")
      CacheScope.release() // the training fit staged barriers
    }
  }

  test("ev_uplift: two keyed exchanges + one bounded window, no text-width rows") {
    // corpus pass -> user-keyed slim agg -> score-banded agg -> cumulative
    // window over the <= max-score frame; nothing else may shuffle
    assert(countExchanges("ev_uplift") <= 3,
      "uplift must be user agg + score agg + one bounded window exchange")
    val cols = shuffledColumns("ev_uplift")
    assert(cols.forall(cs => !cs.contains("event_type") || cs.size <= 4),
      s"wide rows rode the uplift exchange: $cols")
  }

  test("emb_mmr: corpus work is the emb_knn shape (TakeOrderedAndProject, broadcast query)") {
    try {
      val df = operators.VectorOps.embMmr(spark, sf)
      val p = df.queryExecution.executedPlan.toString
      // the greedy output itself is a LocalTableScan (bounded driver panel)
      assert(p.contains("LocalTableScan"), s"expected bounded local result:\n$p")
    } finally CacheScope.release()
  }

  test("mm_audio_features: the stat exchange carries integers, never payloads") {
    val cols = shuffledColumns("mm_audio_features")
    assert(cols.nonEmpty)
    assert(cols.forall(cs => !cs.contains("content") && !cs.contains("text")),
      s"payload bytes rode the exchange: $cols")
  }

  test("single-partition window audit: every partition-less window sits on a bounded input (r13 verdict #7)") {
    // A Window with no PARTITION BY serializes on one task, so each such
    // site must run on an input bounded by an AGGREGATE's key cardinality
    // — not by corpus size. Per-site boundedness (asserted by count; the
    // WHY lives here and in each operator's scaladoc):
    //   - q20_ntile: 1 global window over customers — the documented
    //     oracle-coverage form; q20_approx is the scale path (its own
    //     test above asserts no global sort there).
    //   - doc_shuffle: 1 window over the 256-row bucket histogram
    //     (exclusive prefix sum); positions rank inside 256 partitions.
    //   - ev_rfm: 3 scoreMap windows, each over a per-VALUE histogram
    //     (distinct r_days/f/m values), decision-table-sized.
    //   - ev_survival: cumulative risk/product windows over the per-DAY
    //     curve table (bounded by the corpus's span in days).
    //   - ev_uplift: 1 cumulative Qini window over score bands
    //     (<= max pre-period events per user, never user count).
    //   - ngram_containment_pairs: 1 vocabulary-dictionary window —
    //     bounded-quadratic tier, corpus capped by requireBoundedCorpus.
    def partitionlessWindows(name: String): Int = {
      CacheScope.release(); spark.catalog.clearCache()
      val phys = CacheScope.uncached {
        SparkEntry.queries(name)(spark, sf).queryExecution.executedPlan
      }
      phys.collect {
        case w: org.apache.spark.sql.execution.window.WindowExec
            if w.partitionSpec.isEmpty => w
        case w: org.apache.spark.sql.execution.window.WindowGroupLimitExec
            if w.partitionSpec.isEmpty => w
      }.size
    }
    val expected = Seq(
      "q20_ntile" -> 1, "doc_shuffle" -> 1, "ev_rfm" -> 3,
      "ev_survival" -> 2, "ev_uplift" -> 1, "ngram_containment_pairs" -> 1)
    expected.foreach { case (q, n) =>
      val got = partitionlessWindows(q)
      assert(got <= n,
        s"$q grew an UNdocumented partition-less window: $got > $n — " +
          s"document its boundedness here or restructure it")
    }
    CacheScope.release()
  }
}
