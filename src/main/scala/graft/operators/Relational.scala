package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import graft.Tables

/** Relational operator suite — the standard surface SURVEY.md §2.3 marks as
  * the extension path beyond the reference (aggregations, joins, windows,
  * sorts, set ops). All queries are `DataFrame` combinators: Catalyst gets a
  * fully declarative plan (predicate pushdown, column pruning, partial
  * aggregation, AQE join re-planning are automatic).
  *
  * Scale notes (100 TB design):
  *   - Aggregations use `groupBy().agg` → hash aggregate with map-side
  *     partial aggregation; shuffle volume is |groups|, not |rows|.
  *   - Dimension tables (region/nation/supplier/customer/part at TPC-H
  *     proportions) are broadcast explicitly so fact-table joins never
  *     shuffle the lineitem side.
  *   - Floating-point aggregates are rounded at the *end* of the plan (the
  *     oracle compares hashed values; rounding also keeps results stable
  *     across partial-agg orderings).
  */
object Relational {

  /** Revenue expression used by several queries. */
  private def revenue: Column = col("l_extendedprice") * (lit(1.0) - col("l_discount"))

  /** q1: pricing-summary aggregation over lineitem (TPC-H Q1 shape).
    * Map-side partial agg → 6-group shuffle → final agg. At 100 TB the
    * shuffle carries only |R|x|S| group rows per map task.
    */
  def q1Agg(spark: SparkSession, sfDir: String): DataFrame =
    Tables.lineitem(spark, sfDir)
      .filter(col("l_shipdate") <= lit("1998-09-02").cast("timestamp"))
      .groupBy(col("l_returnflag"), col("l_linestatus"))
      .agg(
        round(sum(col("l_quantity")), 2).as("sum_qty"),
        round(sum(col("l_extendedprice")), 2).as("sum_base_price"),
        round(sum(revenue), 2).as("sum_disc_price"),
        round(avg(col("l_quantity")), 4).as("avg_qty"),
        round(avg(col("l_extendedprice")), 4).as("avg_price"),
        round(avg(col("l_discount")), 6).as("avg_disc"),
        count(lit(1)).as("count_order"))

  val q1AggSql: String =
    """SELECT l_returnflag, l_linestatus,
      |  round(sum(l_quantity), 2) AS sum_qty,
      |  round(sum(l_extendedprice), 2) AS sum_base_price,
      |  round(sum(l_extendedprice * (1.0 - l_discount)), 2) AS sum_disc_price,
      |  round(avg(l_quantity), 4) AS avg_qty,
      |  round(avg(l_extendedprice), 4) AS avg_price,
      |  round(avg(l_discount), 6) AS avg_disc,
      |  count(*) AS count_order
      |FROM lineitem
      |WHERE l_shipdate <= TIMESTAMP '1998-09-02 00:00:00'
      |GROUP BY l_returnflag, l_linestatus""".stripMargin

  /** q2: multi-way join, revenue by nation. `region`/`nation` are broadcast
    * explicitly (tiny dimensions at any scale); `customer ⋈ orders ⋈
    * lineitem` are key-partitioned shuffle joins — at 100 TB AQE converts
    * the customer side to broadcast if it fits, and the orders⋈lineitem
    * join shuffles both sides on orderkey once.
    */
  def q2JoinBroadcast(spark: SparkSession, sfDir: String): DataFrame = {
    val li = Tables.lineitem(spark, sfDir)
    val ord = Tables.orders(spark, sfDir)
    val cust = Tables.customer(spark, sfDir)
    val nat = Tables.nation(spark, sfDir)
    val reg = Tables.region(spark, sfDir)
    li.join(ord, col("l_orderkey") === col("o_orderkey"))
      .join(cust, col("o_custkey") === col("c_custkey"))
      .join(broadcast(nat), col("c_nationkey") === col("n_nationkey"))
      .join(broadcast(reg), col("n_regionkey") === col("r_regionkey"))
      .groupBy(col("r_name"), col("n_name"))
      .agg(round(sum(revenue), 2).as("revenue"), count(lit(1)).as("n_items"))
  }

  val q2JoinBroadcastSql: String =
    """SELECT r_name, n_name,
      |  round(sum(l_extendedprice * (1.0 - l_discount)), 2) AS revenue,
      |  count(*) AS n_items
      |FROM lineitem
      |JOIN orders   ON l_orderkey = o_orderkey
      |JOIN customer ON o_custkey = c_custkey
      |JOIN nation   ON c_nationkey = n_nationkey
      |JOIN region   ON n_regionkey = r_regionkey
      |GROUP BY r_name, n_name""".stripMargin

  /** q3: top-k with deterministic tiebreak. `orderBy().limit(k)` plans as
    * TakeOrderedAndProject — per-partition top-k then a k-row merge on the
    * driver; no global sort, no full shuffle, scales to any input size.
    */
  def q3TopK(spark: SparkSession, sfDir: String): DataFrame =
    Tables.lineitem(spark, sfDir)
      .groupBy(col("l_orderkey"))
      .agg(round(sum(revenue), 2).as("revenue"))
      .orderBy(col("revenue").desc, col("l_orderkey").asc)
      .limit(10)

  val q3TopKSql: String =
    """SELECT l_orderkey,
      |  round(sum(l_extendedprice * (1.0 - l_discount)), 2) AS revenue
      |FROM lineitem GROUP BY l_orderkey
      |ORDER BY revenue DESC, l_orderkey ASC LIMIT 10""".stripMargin

  /** q4: left-semi join (EXISTS). The semi join needs only the join key from
    * the right side — Catalyst prunes lineitem to one column before the
    * shuffle.
    */
  def q4SemiJoin(spark: SparkSession, sfDir: String): DataFrame = {
    val ord = Tables.orders(spark, sfDir)
    val heavy = Tables.lineitem(spark, sfDir).filter(col("l_quantity") > 45)
      .select(col("l_orderkey"))
    ord.join(heavy, col("o_orderkey") === col("l_orderkey"), "left_semi")
      .groupBy(col("o_orderpriority"))
      .agg(count(lit(1)).as("n_orders"))
  }

  val q4SemiJoinSql: String =
    """SELECT o_orderpriority, count(*) AS n_orders
      |FROM orders
      |WHERE EXISTS (SELECT 1 FROM lineitem
      |              WHERE l_orderkey = o_orderkey AND l_quantity > 45)
      |GROUP BY o_orderpriority""".stripMargin

  /** q5: left-anti join (NOT EXISTS) — customers with no orders. */
  def q5AntiJoin(spark: SparkSession, sfDir: String): DataFrame = {
    val cust = Tables.customer(spark, sfDir)
    val ord = Tables.orders(spark, sfDir)
      .filter(col("o_totalprice") > 400000).select(col("o_custkey"))
    cust.join(ord, col("c_custkey") === col("o_custkey"), "left_anti")
      .groupBy(col("c_mktsegment"))
      .agg(count(lit(1)).as("n_customers"),
        round(sum(col("c_acctbal")), 2).as("sum_acctbal"))
  }

  val q5AntiJoinSql: String =
    """SELECT c_mktsegment, count(*) AS n_customers,
      |  round(sum(c_acctbal), 2) AS sum_acctbal
      |FROM customer
      |WHERE NOT EXISTS (SELECT 1 FROM orders
      |                  WHERE o_custkey = c_custkey AND o_totalprice > 400000)
      |GROUP BY c_mktsegment""".stripMargin

  /** q6: window functions — per-supplier top-3 lineitems by price with
    * rank + running sum. One Exchange on suppkey feeds both window
    * functions (same window spec).
    */
  def q6Window(spark: SparkSession, sfDir: String): DataFrame = {
    val w = Window.partitionBy(col("l_suppkey"))
      .orderBy(col("l_extendedprice").desc, col("l_orderkey").asc,
        col("l_linenumber").asc)
    // r14 (r13 "not yet optimized" #4): pin the window's suppkey
    // exchange at the session width — the rows are ~30 narrow bytes, so
    // AQE's byte-based coalescing squeezed the per-key sort stage onto
    // ~5 of 32 cores (user-origin repartition satisfies the window's
    // required distribution: still exactly ONE exchange)
    Tables.lineitem(spark, sfDir)
      .repartition(Tables.nPart(spark), col("l_suppkey"))
      .withColumn("rn", row_number().over(w))
      .withColumn("running_price", round(sum(col("l_extendedprice"))
        .over(w.rowsBetween(Window.unboundedPreceding, 0)), 2).cast("double"))
      .filter(col("rn") <= 3)
      .select(col("l_suppkey"), col("rn"), col("l_orderkey"),
        col("l_linenumber"), col("running_price"))
  }

  val q6WindowSql: String =
    """SELECT l_suppkey, rn, l_orderkey, l_linenumber, running_price
      |FROM (
      |  SELECT l_suppkey, l_orderkey, l_linenumber,
      |    row_number() OVER w AS rn,
      |    round(sum(l_extendedprice) OVER (w ROWS BETWEEN UNBOUNDED PRECEDING
      |      AND CURRENT ROW), 2) AS running_price
      |  FROM lineitem
      |  WINDOW w AS (PARTITION BY l_suppkey
      |               ORDER BY l_extendedprice DESC, l_orderkey ASC,
      |                        l_linenumber ASC))
      |WHERE rn <= 3""".stripMargin

  /** q7: set operations over customer keys from two derivations. */
  private def buildingCust(spark: SparkSession, sfDir: String): DataFrame =
    Tables.customer(spark, sfDir).filter(col("c_mktsegment") === "BUILDING")
      .select(col("c_custkey").as("custkey"))

  private def bigSpenders(spark: SparkSession, sfDir: String): DataFrame =
    Tables.orders(spark, sfDir).filter(col("o_totalprice") > 400000)
      .select(col("o_custkey").as("custkey")).distinct()

  def q7Intersect(spark: SparkSession, sfDir: String): DataFrame =
    buildingCust(spark, sfDir).intersect(bigSpenders(spark, sfDir))

  val q7IntersectSql: String =
    """SELECT c_custkey AS custkey FROM customer WHERE c_mktsegment = 'BUILDING'
      |INTERSECT
      |SELECT DISTINCT o_custkey AS custkey FROM orders WHERE o_totalprice > 400000""".stripMargin

  def q7Except(spark: SparkSession, sfDir: String): DataFrame =
    buildingCust(spark, sfDir).except(bigSpenders(spark, sfDir))

  val q7ExceptSql: String =
    """SELECT c_custkey AS custkey FROM customer WHERE c_mktsegment = 'BUILDING'
      |EXCEPT
      |SELECT DISTINCT o_custkey AS custkey FROM orders WHERE o_totalprice > 400000""".stripMargin

  /** Multiset (ALL) set ops — distinct physical operators from the
    * DISTINCT forms (ExceptAll/IntersectAll plan with count-tracking
    * aggregates, no dedup): kept as separate coverage rows. Inputs are
    * true multisets (customers repeat across orders) so multiplicity
    * semantics are actually exercised.
    */
  def q7ExceptAll(spark: SparkSession, sfDir: String): DataFrame = {
    val ord = Tables.orders(spark, sfDir)
    ord.filter(col("o_totalprice") > 200000).select(col("o_custkey").as("custkey"))
      .exceptAll(ord.filter(col("o_orderpriority") === "1-URGENT")
        .select(col("o_custkey").as("custkey")))
  }

  val q7ExceptAllSql: String =
    """SELECT o_custkey AS custkey FROM orders WHERE o_totalprice > 200000
      |EXCEPT ALL
      |SELECT o_custkey AS custkey FROM orders WHERE o_orderpriority = '1-URGENT'""".stripMargin

  def q7IntersectAll(spark: SparkSession, sfDir: String): DataFrame = {
    val ord = Tables.orders(spark, sfDir)
    ord.filter(col("o_totalprice") > 200000).select(col("o_custkey").as("custkey"))
      .intersectAll(ord.filter(col("o_orderpriority") === "1-URGENT")
        .select(col("o_custkey").as("custkey")))
  }

  val q7IntersectAllSql: String =
    """SELECT o_custkey AS custkey FROM orders WHERE o_totalprice > 200000
      |INTERSECT ALL
      |SELECT o_custkey AS custkey FROM orders WHERE o_orderpriority = '1-URGENT'""".stripMargin

  def q7Union(spark: SparkSession, sfDir: String): DataFrame =
    buildingCust(spark, sfDir).union(bigSpenders(spark, sfDir)).distinct()

  val q7UnionSql: String =
    """SELECT c_custkey AS custkey FROM customer WHERE c_mktsegment = 'BUILDING'
      |UNION
      |SELECT o_custkey AS custkey FROM orders WHERE o_totalprice > 400000""".stripMargin

  /** q8: rollup (hierarchical grouping sets) over region → nation. */
  def q8Rollup(spark: SparkSession, sfDir: String): DataFrame = {
    val cust = Tables.customer(spark, sfDir)
    val nat = Tables.nation(spark, sfDir)
    val reg = Tables.region(spark, sfDir)
    cust.join(broadcast(nat), col("c_nationkey") === col("n_nationkey"))
      .join(broadcast(reg), col("n_regionkey") === col("r_regionkey"))
      .rollup(col("r_name"), col("n_name"))
      .agg(count(lit(1)).as("n_customers"),
        round(sum(col("c_acctbal")), 2).as("sum_acctbal"))
  }

  val q8RollupSql: String =
    """SELECT r_name, n_name, count(*) AS n_customers,
      |  round(sum(c_acctbal), 2) AS sum_acctbal
      |FROM customer
      |JOIN nation ON c_nationkey = n_nationkey
      |JOIN region ON n_regionkey = r_regionkey
      |GROUP BY ROLLUP (r_name, n_name)""".stripMargin

  /** q9: exact distinct aggregation (COUNT(DISTINCT) expands to a two-phase
    * aggregate; partial distinct happens before the shuffle).
    */
  def q9DistinctAgg(spark: SparkSession, sfDir: String): DataFrame =
    Tables.lineitem(spark, sfDir)
      .groupBy(col("l_returnflag"))
      .agg(countDistinct(col("l_partkey")).as("n_parts"),
        countDistinct(col("l_suppkey")).as("n_supps"),
        count(lit(1)).as("n_rows"))

  val q9DistinctAggSql: String =
    """SELECT l_returnflag, count(DISTINCT l_partkey) AS n_parts,
      |  count(DISTINCT l_suppkey) AS n_supps, count(*) AS n_rows
      |FROM lineitem GROUP BY l_returnflag""".stripMargin

  /** q10: cube over order status × priority (multi-dimensional grouping
    * sets).
    */
  def q10Cube(spark: SparkSession, sfDir: String): DataFrame =
    Tables.orders(spark, sfDir)
      .cube(col("o_orderstatus"), col("o_orderpriority"))
      .agg(count(lit(1)).as("n_orders"),
        round(sum(col("o_totalprice")), 2).as("sum_price"))

  val q10CubeSql: String =
    """SELECT o_orderstatus, o_orderpriority, count(*) AS n_orders,
      |  round(sum(o_totalprice), 2) AS sum_price
      |FROM orders GROUP BY CUBE (o_orderstatus, o_orderpriority)""".stripMargin

  /** q11: correlated scalar-subquery shape — orders above their customer's
    * average order value. Expressed as join-with-aggregate (what a
    * decorrelated plan looks like); the per-customer aggregate and the
    * orders table co-partition on custkey, so AQE plans one shuffle each
    * side.
    */
  def q11AboveAvg(spark: SparkSession, sfDir: String): DataFrame = {
    val ord = Tables.orders(spark, sfDir)
    val avgPerCust = ord.groupBy(col("o_custkey").as("ac_custkey"))
      .agg(avg(col("o_totalprice")).as("avg_price"))
    ord.join(avgPerCust, col("o_custkey") === col("ac_custkey"))
      .filter(col("o_totalprice") > col("avg_price") * 1.5)
      .groupBy(col("o_orderpriority"))
      .agg(count(lit(1)).as("n_orders"))
  }

  val q11AboveAvgSql: String =
    """SELECT o_orderpriority, count(*) AS n_orders
      |FROM orders o
      |WHERE o_totalprice > 1.5 * (SELECT avg(o_totalprice) FROM orders i
      |                            WHERE i.o_custkey = o.o_custkey)
      |GROUP BY o_orderpriority""".stripMargin

  /** q12: conditional aggregation (promo revenue share, TPC-H Q14 shape) —
    * CASE WHEN inside SUM, part side broadcast.
    */
  def q12ConditionalAgg(spark: SparkSession, sfDir: String): DataFrame = {
    val li = Tables.lineitem(spark, sfDir)
    val part = Tables.part(spark, sfDir)
    li.join(broadcast(part), col("l_partkey") === col("p_partkey"))
      .groupBy(col("p_brand"))
      .agg(
        round(sum(when(col("p_type").startsWith("PROMO"), revenue)
          .otherwise(lit(0.0))), 2).as("promo_revenue"),
        round(sum(revenue), 2).as("total_revenue"),
        count(lit(1)).as("n_items"))
  }

  val q12ConditionalAggSql: String =
    """SELECT p_brand,
      |  round(sum(CASE WHEN p_type LIKE 'PROMO%'
      |            THEN l_extendedprice * (1.0 - l_discount) ELSE 0.0 END), 2) AS promo_revenue,
      |  round(sum(l_extendedprice * (1.0 - l_discount)), 2) AS total_revenue,
      |  count(*) AS n_items
      |FROM lineitem JOIN part ON l_partkey = p_partkey
      |GROUP BY p_brand""".stripMargin

  /** q13: date-part aggregation — year/month extraction and grouping. */
  def q13DateAgg(spark: SparkSession, sfDir: String): DataFrame =
    Tables.orders(spark, sfDir)
      .groupBy(year(col("o_orderdate")).as("y"), month(col("o_orderdate")).as("m"))
      .agg(count(lit(1)).as("n_orders"),
        round(avg(col("o_totalprice")), 4).as("avg_price"))

  val q13DateAggSql: String =
    """SELECT year(o_orderdate) AS y, month(o_orderdate) AS m,
      |  count(*) AS n_orders, round(avg(o_totalprice), 4) AS avg_price
      |FROM orders GROUP BY 1, 2""".stripMargin

  /** q14: string functions — regexp extraction, casing, length, LIKE. */
  def q14StringFns(spark: SparkSession, sfDir: String): DataFrame =
    Tables.part(spark, sfDir)
      .filter(col("p_name").like("%a%"))
      .select(col("p_partkey"),
        upper(substring(col("p_name"), 1, 3)).as("prefix"),
        regexp_extract(col("p_name"), "([a-z]+)$", 1).as("last_word"),
        length(col("p_name")).as("name_len"))

  val q14StringFnsSql: String =
    """SELECT p_partkey, upper(substr(p_name, 1, 3)) AS prefix,
      |  regexp_extract(p_name, '([a-z]+)$', 1) AS last_word,
      |  length(p_name) AS name_len
      |FROM part WHERE p_name LIKE '%a%'""".stripMargin

  /** q15: exact interpolated percentiles per group (Spark `percentile` ==
    * DuckDB `quantile_cont`).
    */
  def q15Percentile(spark: SparkSession, sfDir: String): DataFrame =
    Tables.lineitem(spark, sfDir)
      .groupBy(col("l_returnflag"))
      // one percentile buffer for all three quantiles (3x less state than
      // three separate aggregates)
      .agg(expr("percentile(l_extendedprice, array(0.5, 0.9, 0.99))").as("ps"))
      .select(col("l_returnflag"),
        round(expr("ps[0]"), 4).as("p50"),
        round(expr("ps[1]"), 4).as("p90"),
        round(expr("ps[2]"), 4).as("p99"))

  val q15PercentileSql: String =
    """SELECT l_returnflag,
      |  round(quantile_cont(l_extendedprice, 0.5), 4) AS p50,
      |  round(quantile_cont(l_extendedprice, 0.9), 4) AS p90,
      |  round(quantile_cont(l_extendedprice, 0.99), 4) AS p99
      |FROM lineitem GROUP BY l_returnflag""".stripMargin

  /** q15_approx: the 100 TB-scale percentile path, hash-checked
    * cross-engine. Exact `percentile` (q15) materializes every group
    * value in its aggregation buffer — an executor-memory bomb over
    * lineitem at scale — so the approximate form computes exact
    * percentiles over a DETERMINISTIC 10% hash sample (md5 of the row
    * key): the buffer shrinks 10× (any ε needs only O(1/ε²) sampled
    * rows, scale-free), the estimate has the standard √(pq/n)/f(x)
    * sample-quantile error (AccuracySpec holds it to 1% of the exact
    * twin), and — unlike Spark's builtin GK `approx_percentile`, whose
    * merge order makes it engine-specific — the same rows are sampled in
    * DuckDB, so the driver hash-checks the result itself.
    */
  def q15Approx(spark: SparkSession, sfDir: String): DataFrame = {
    import graft.functions.TextFns.h32Sql
    Tables.lineitem(spark, sfDir)
      .filter(expr(s"${h32Sql(
        "concat('apx|', cast(l_orderkey as string), '|', cast(l_linenumber as string))")} % 100 < 10"))
      .groupBy(col("l_returnflag"))
      .agg(expr("percentile(l_extendedprice, array(0.5, 0.9, 0.99))").as("ps"))
      .select(col("l_returnflag"),
        round(expr("ps[0]"), 4).as("p50"),
        round(expr("ps[1]"), 4).as("p90"),
        round(expr("ps[2]"), 4).as("p99"))
  }

  val q15ApproxSql: String =
    """SELECT l_returnflag,
      |  round(quantile_cont(l_extendedprice, 0.5), 4) AS p50,
      |  round(quantile_cont(l_extendedprice, 0.9), 4) AS p90,
      |  round(quantile_cont(l_extendedprice, 0.99), 4) AS p99
      |FROM lineitem
      |WHERE ('0x' || substr(md5('apx|' || l_orderkey || '|' || l_linenumber), 1, 8))::BIGINT % 100 < 10
      |GROUP BY l_returnflag""".stripMargin

  /** q16: explicit grouping sets (finer control than rollup/cube). */
  def q16GroupingSets(spark: SparkSession, sfDir: String): DataFrame = {
    val ord = Tables.orders(spark, sfDir)
    ord.groupingSets(
        Seq(Seq(col("o_orderstatus")), Seq(col("o_orderpriority")), Seq()),
        col("o_orderstatus"), col("o_orderpriority"))
      .agg(count(lit(1)).as("n_orders"),
        round(sum(col("o_totalprice")), 2).as("sum_price"))
  }

  val q16GroupingSetsSql: String =
    """SELECT o_orderstatus, o_orderpriority, count(*) AS n_orders,
      |  round(sum(o_totalprice), 2) AS sum_price
      |FROM orders
      |GROUP BY GROUPING SETS ((o_orderstatus), (o_orderpriority), ())""".stripMargin

  /** q17: typed UDAF (`Aggregator`) — discount-weighted average price per
    * return flag. Registered via `udaf()`; runs as partial+final
    * aggregation like any built-in.
    */
  def q17Udaf(spark: SparkSession, sfDir: String): DataFrame = {
    val wavg = udaf(graft.functions.WeightedAvg)
    Tables.lineitem(spark, sfDir)
      .groupBy(col("l_returnflag"))
      .agg(round(wavg(col("l_extendedprice"), col("l_discount")), 4)
        .as("wavg_price"))
  }

  val q17UdafSql: String =
    """SELECT l_returnflag,
      |  round(sum(l_extendedprice * l_discount) / sum(l_discount), 4) AS wavg_price
      |FROM lineitem GROUP BY l_returnflag""".stripMargin

  /** q18: approximate distinct, hash-checked cross-engine — the [[Sketches]]
    * HLL is fully deterministic (md5 hash base, integer harmonic sum), so
    * the DuckDB twin computes the IDENTICAL sketch and the driver verifies
    * the estimate itself, not just row counts; AccuracySpec additionally
    * bounds the error at 2% of the exact twin (q9).
    *
    * HLL as the two-level declarative aggregate (see [[Sketches]]): the
    * builtin `approx_count_distinct` is an ImperativeAggregate that
    * drops the whole stage out of codegen; `groupBy(flag, bucket) →
    * max(rank)` + a per-flag harmonic fold is the same math with every
    * operator codegen'd and ≤ |flags|·m partial rows shuffled.
    */
  def q18ApproxDistinct(spark: SparkSession, sfDir: String): DataFrame =
    q18Hll(spark, sfDir, Sketches.Md5)

  /** q18's plan on either hash base (see [[Sketches.HashBase]]). */
  private def q18Hll(spark: SparkSession, sfDir: String,
                     base: Sketches.HashBase): DataFrame =
    Tables.lineitem(spark, sfDir)
      .withColumn("_h", base.hash(col("l_partkey")))
      .groupBy(col("l_returnflag"), base.idx(col("_h")).as("_i"))
      .agg(min(base.rankSource(col("_h"))).as("_mw"),
        count(lit(1)).as("_cnt"))
      .groupBy(col("l_returnflag"))
      .agg(
        Sketches.hllEstimate(count(lit(1)),
          sum(Sketches.hllContribution(
            Sketches.hllRankOfMinSource(col("_mw"))))).as("approx_parts"),
        sum(col("_cnt")).as("n_rows"))

  val q18ApproxDistinctSql: String =
    s"""WITH l1 AS (
       |  SELECT l_returnflag, ${Sketches.hllIdxSql("l_partkey")} AS _i,
       |    max(${Sketches.hllRankSql("l_partkey")}) AS _mr,
       |    count(*) AS _cnt
       |  FROM lineitem GROUP BY l_returnflag, _i)
       |SELECT l_returnflag,
       |  ${Sketches.hllEstimateSql("count(*)",
            "sum(" + Sketches.hllContributionSql("_mr") + ")")} AS approx_parts,
       |  CAST(sum(_cnt) AS BIGINT) AS n_rows
       |FROM l1 GROUP BY l_returnflag""".stripMargin

  /** q18_prod: the SAME HLL on the production hash base — one codegen'd
    * xxhash64 per row instead of an md5 hex digest (~5× less per-row CPU;
    * the r8 md5 base made the approx tier slower than its exact twin,
    * inverting its purpose). This is the profile a 100 TB deployment
    * runs. Still fully hash-checked: the DuckDB twin mirrors xxhash64's
    * 8-byte path bit-exactly in HUGEINT arithmetic
    * ([[Sketches.xxh64TableSql]]), so BOTH sketch profiles are
    * driver-verified; AccuracySpec bounds this one at 2% of exact q9 too.
    */
  def q18ApproxDistinctProd(spark: SparkSession, sfDir: String): DataFrame =
    q18Hll(spark, sfDir, Sketches.XxHash64)

  val q18ApproxDistinctProdSql: String =
    s"""WITH l1 AS (
       |  SELECT l_returnflag, _i, min(_w) AS _mw, count(*) AS _cnt
       |  FROM ${Sketches.xxh64TableSql("SELECT * FROM lineitem", "l_partkey")}
       |  GROUP BY l_returnflag, _i)
       |SELECT l_returnflag,
       |  ${Sketches.hllEstimateSql("count(*)",
            "sum(" + Sketches.hllContributionSql(
              Sketches.hllRankOfMinSourceSql("_mw")) + ")")} AS approx_parts,
       |  CAST(sum(_cnt) AS BIGINT) AS n_rows
       |FROM l1 GROUP BY l_returnflag""".stripMargin

  /** q19: pivot — long-to-wide reshaping (order counts by priority ×
    * status). Pivot values are EXPLICIT (`Seq("F","O","P")`): without
    * them Spark runs an extra distinct-collect job to discover the
    * columns, and the driver must hold the value set — never do that at
    * 100 TB. With explicit values this is a single partial+final hash
    * aggregate, one shuffle on the grouping key only.
    */
  def q19Pivot(spark: SparkSession, sfDir: String): DataFrame =
    Tables.orders(spark, sfDir)
      .groupBy(col("o_orderpriority"))
      .pivot("o_orderstatus", Seq("F", "O", "P"))
      .agg(count(lit(1)))
      .na.fill(0, Seq("F", "O", "P"))

  val q19PivotSql: String =
    """SELECT o_orderpriority,
      |  count(CASE WHEN o_orderstatus = 'F' THEN 1 END) AS "F",
      |  count(CASE WHEN o_orderstatus = 'O' THEN 1 END) AS "O",
      |  count(CASE WHEN o_orderstatus = 'P' THEN 1 END) AS "P"
      |FROM orders GROUP BY o_orderpriority""".stripMargin

  /** q15_dist: exact percentiles without the aggregation-buffer memory
    * bomb. `percentile` (q15) materializes every group value in one
    * executor buffer; this variant instead sorts each group once
    * (`row_number` — a SPILLABLE external sort, not an in-memory array)
    * and reduces the interpolation as a conditional sum over the two
    * straddling ranks: value = (1−frac)·v_lo + frac·v_hi at rank
    * p·(n−1). Same exact numbers, bounded memory. (The unbounded-scale
    * path remains q15_approx — a per-group sort still funnels each group
    * through one task's disk.)
    */
  def q15Dist(spark: SparkSession, sfDir: String): DataFrame = {
    val wSort = Window.partitionBy(col("l_returnflag")).orderBy(col("l_extendedprice"))
    val wAll = Window.partitionBy(col("l_returnflag"))
    val ranked = Tables.lineitem(spark, sfDir)
      .select(col("l_returnflag"), col("l_extendedprice"))
      .withColumn("rn", row_number().over(wSort).cast("double") - 1)
      .withColumn("n", count(lit(1)).over(wAll).cast("double"))
    def interp(p: Double, as: String): Column = {
      val idx = lit(p) * (col("n") - 1)
      val frac = idx - floor(idx)
      round(sum(
        when(col("rn") === floor(idx), (lit(1.0) - frac) * col("l_extendedprice"))
          .when(col("rn") === floor(idx) + 1, frac * col("l_extendedprice"))
          .otherwise(lit(0.0))), 4).as(as)
    }
    ranked.groupBy(col("l_returnflag"))
      .agg(interp(0.5, "p50"), interp(0.9, "p90"), interp(0.99, "p99"))
  }

  val q15DistSql: String = q15PercentileSql

  /** q15_exact_scalable: exact interpolated percentiles WITHOUT the
    * per-group single-task sort that makes `q15_dist` super-linear at
    * scale (measured 16.6× on 10× data at sf10 — 3 fixed groups mean 3
    * tasks sort 20 M rows each). Two-pass histogram refinement instead
    * (the classic distributed exact-quantile recipe):
    *
    *   1. one hash aggregate → per-group (min, max, n);
    *   2. one hash aggregate → a 4096-bucket equi-width histogram per
    *      group (shuffle volume: ≤ groups × 4096 partial rows, map-side
    *      combined — never row-scaled);
    *   3. plan-side (still DataFrames, ≤ groups × 4096 rows): cumulative
    *      counts locate, for each target rank k = p·(n−1) (lo/hi
    *      straddle), the bucket holding it and the rank's offset within
    *      that bucket;
    *   4. one re-scan joins rows against the ≤ 6-per-group candidate
    *      buckets (broadcast) and row_numbers WITHIN (group, bucket) —
    *      each sort is a ~n/4096 sliver, partitioned across the cluster,
    *      nothing funnels through one task.
    *
    * Rank positions are well-defined under duplicate values because the
    * bucket index is monotone in the value: bucket b's rows occupy
    * exactly the global ranks [cum_below(b), cum_below(b)+cnt(b)), and
    * the value at any rank is tie-invariant. Same interpolation
    * arithmetic as `q15_dist`, same oracle as `q15`/`q15_dist`
    * (`quantile_cont`). At 100 TB: three linear scans, two
    * bounded-volume shuffles, one broadcast — ~linear on fixed cores,
    * which the sf10 row verifies.
    *
    * Pathological distributions (round-11 guard): a group packing its
    * mass into FEW buckets defeats the 4096× occupancy reduction the
    * final sliver sort relies on. After pass 2 a one-aggregate occupancy
    * check over the (cached, ≤ groups × 6 row) candidate-bucket set
    * dispatches: within bound → the normal sliver sort; over bound →
    * ONE refinement level re-buckets the candidate buckets only (another
    * 4096×, bounds derived arithmetically — no extra stats pass), where
    * a rank landing in a single-VALUE sub-bucket resolves without any
    * sort at all (the value at every rank inside is that value — the
    * point-mass case no histogram can split). A rank still inside an
    * over-occupancy multi-value sub-bucket after that (≥ maxOccupancy
    * distinct-ish values packed in a 4096⁻²-of-range sliver) fails
    * loudly naming `q15_approx`, the sketch tier built for it.
    */
  def q15ExactScalable(spark: SparkSession, sfDir: String): DataFrame = {
    val li = Tables.lineitem(spark, sfDir)
      .select(col("l_returnflag").as("g"), col("l_extendedprice").as("x"))
    exactPercentilesScalable(li, Seq(("p50", 0.5), ("p90", 0.9), ("p99", 0.99)))
      .groupBy(col("g").as("l_returnflag"))
      .agg(round(max(when(col("nm") === "p50", col("v"))), 4).as("p50"),
        round(max(when(col("nm") === "p90", col("v"))), 4).as("p90"),
        round(max(when(col("nm") === "p99", col("v"))), 4).as("p99"))
  }

  /** Core of [[q15ExactScalable]] over any (g, x) frame: one (g, nm, v)
    * row per group × requested percentile, exact interpolated values.
    * Parametrized so the occupancy guard is testable with a small bound
    * on crafted distributions ([[graft.Q15ScalableSpec]]); the default
    * bound (10⁷ rows ≈ one comfortably-sorting task) is far above any
    * sliver a 4096-bucket histogram leaves on real data.
    */
  private[graft] def exactPercentilesScalable(li: DataFrame,
      ps: Seq[(String, Double)], nBuckets: Int = 4096,
      maxOccupancy: Long = 10000000L): DataFrame = {
    val stats = li.groupBy(col("g"))
      .agg(min(col("x")).as("mn"), max(col("x")).as("mx"), count(lit(1)).as("n"))
      .transform(graft.CacheScope.barrier) // one row per group; 3 consumers
    // monotone value→bucket map; degenerate one-value groups land in 0
    val bucketCol = when(col("mx") === col("mn"), lit(0)).otherwise(least(
      floor((col("x") - col("mn")) / (col("mx") - col("mn")) * nBuckets).cast("int"),
      lit(nBuckets - 1)))
    val hist = li.join(broadcast(stats), Seq("g"))
      .withColumn("b", bucketCol)
      .groupBy(col("g"), col("b")).agg(count(lit(1)).as("cnt"))
    val wCum = Window.partitionBy(col("g")).orderBy(col("b"))
      .rowsBetween(Window.unboundedPreceding, -1)
    val cum = hist.withColumn("cbelow", coalesce(sum(col("cnt")).over(wCum), lit(0L)))
    val targets = stats
      .select(col("g"), col("n"), explode(array(ps.map { case (nm, p) =>
        struct(lit(nm).as("nm"), lit(p).as("p")) }: _*)).as("t"))
      .select(col("g"), col("t.nm").as("nm"),
        (col("t.p") * (col("n") - 1).cast("double")).as("idx"), col("n"))
      .select(col("g"), col("nm"), col("idx"),
        floor(col("idx")).cast("long").as("k_lo"),
        least(floor(col("idx")).cast("long") + 1, col("n") - 1).as("k_hi"))
      .transform(graft.CacheScope.barrier) // groups × 3 rows; 3 consumers
    val needed = targets
      .select(col("g"), explode(array(col("k_lo"), col("k_hi"))).as("k"))
      .distinct()
    // bucket holding rank k: cbelow <= k < cbelow + cnt (histogram-side
    // rows are <= groups × 4096 — a broadcast-range join, never row-scaled)
    val kBucket = needed.as("nd").join(broadcast(cum.as("cm")),
        col("nd.g") === col("cm.g") && col("nd.k") >= col("cm.cbelow") &&
          col("nd.k") < col("cm.cbelow") + col("cm.cnt"))
      .select(col("nd.g").as("g"), col("nd.k").as("k"), col("cm.b").as("b"),
        (col("nd.k") - col("cm.cbelow") + 1).as("local_rn"), col("cm.cnt").as("cnt"))
      .transform(graft.CacheScope.barrier) // <= groups × 6 rows; 3 consumers
    // occupancy guard: one max over the cached candidate-bucket rows —
    // the largest sliver the final sort would have to swallow
    val occRow = kBucket.agg(max(col("cnt"))).head()
    val maxOcc = if (occRow.isNullAt(0)) 0L else occRow.getLong(0)
    val atK =
      if (maxOcc <= maxOccupancy) {
        val wLocal = Window.partitionBy(col("g"), col("b")).orderBy(col("x"))
        li.join(broadcast(stats), Seq("g"))
          .withColumn("b", bucketCol)
          .join(broadcast(kBucket.select(col("g"), col("b")).distinct()), Seq("g", "b"))
          .withColumn("rn", row_number().over(wLocal).cast("long"))
          .join(broadcast(kBucket.drop("cnt")), Seq("g", "b"))
          .filter(col("rn") === col("local_rn"))
          .select(col("g"), col("k"), col("x").as("v"))
      } else refineCandidateBuckets(li, stats, bucketCol, kBucket, nBuckets,
        maxOccupancy)
    targets
      .join(atK.select(col("g"), col("k").as("k_lo"), col("v").as("v_lo")), Seq("g", "k_lo"))
      .join(atK.select(col("g"), col("k").as("k_hi"), col("v").as("v_hi")), Seq("g", "k_hi"))
      .withColumn("frac", col("idx") - floor(col("idx")))
      .select(col("g"), col("nm"),
        ((lit(1.0) - col("frac")) * col("v_lo") + col("frac") * col("v_hi")).as("v"))
  }

  /** One refinement level into the candidate buckets (the pathological
    * branch of [[exactPercentilesScalable]]): re-buckets ONLY the
    * ≤ groups × 6 buckets that hold target ranks into `nBuckets`
    * sub-buckets — bounds derived arithmetically from the pass-1 stats
    * (bucket b of group g spans [mn + b·w, mn + (b+1)·w), w =
    * (mx−mn)/nBuckets), so no extra stats pass — and locates each
    * target's bucket-local rank within the sub-bucket cumulative counts.
    * A rank inside a single-value sub-bucket (min = max: the point-mass
    * no histogram level can split) resolves directly to that value; a
    * rank inside a multi-value sub-bucket still over the bound fails
    * loudly naming the sketch tier. The sub-bucket map is clamped to
    * [0, nBuckets) because lo is re-derived arithmetically (FP drift at
    * the bucket edge must not produce b2 = −1); clamping keeps the map
    * monotone in x, which is all rank location needs.
    */
  private def refineCandidateBuckets(li: DataFrame, stats: DataFrame,
      bucketCol: Column, kBucket: DataFrame, nBuckets: Int,
      maxOccupancy: Long): DataFrame = {
    val cb = kBucket.select(col("g"), col("b")).distinct()
    val rows2 = li.join(broadcast(stats), Seq("g"))
      .withColumn("b", bucketCol)
      .join(broadcast(cb), Seq("g", "b"))
      .withColumn("w", (col("mx") - col("mn")) / nBuckets)
      .withColumn("lo", col("mn") + col("b") * col("w"))
      .withColumn("b2", when(col("w") === 0.0, lit(0)).otherwise(
        greatest(lit(0), least(
          floor((col("x") - col("lo")) / (col("w") / nBuckets)).cast("int"),
          lit(nBuckets - 1)))))
      .select(col("g"), col("b"), col("b2"), col("x"))
    val hist2 = rows2.groupBy(col("g"), col("b"), col("b2"))
      .agg(count(lit(1)).as("cnt2"), min(col("x")).as("mn2"), max(col("x")).as("mx2"))
    val wCum2 = Window.partitionBy(col("g"), col("b")).orderBy(col("b2"))
      .rowsBetween(Window.unboundedPreceding, -1)
    val cum2 = hist2.withColumn("cbelow2",
      coalesce(sum(col("cnt2")).over(wCum2), lit(0L)))
    // sub-bucket holding the bucket-local 0-based rank local_rn − 1
    val k2 = kBucket.as("kb").join(broadcast(cum2.as("c2")),
        col("kb.g") === col("c2.g") && col("kb.b") === col("c2.b") &&
          col("kb.local_rn") - 1 >= col("c2.cbelow2") &&
          col("kb.local_rn") - 1 < col("c2.cbelow2") + col("c2.cnt2"))
      .select(col("kb.g").as("g"), col("kb.k").as("k"), col("kb.b").as("b"),
        col("c2.b2").as("b2"),
        (col("kb.local_rn") - col("c2.cbelow2")).as("local_rn2"),
        col("c2.cnt2").as("cnt2"), col("c2.mn2").as("mn2"), col("c2.mx2").as("mx2"))
      .transform(graft.CacheScope.barrier) // <= groups × 6 rows; 3 consumers
    val stuck = k2.filter(col("cnt2") > maxOccupancy && col("mn2") =!= col("mx2"))
      .select(col("g"), col("b"), col("b2"), col("cnt2")).collect()
    if (stuck.nonEmpty) throw new IllegalStateException(
      s"exact-percentile guard: after one refinement level a target rank " +
        s"still sits in a multi-value sub-bucket of " +
        s"${stuck.map(_.getLong(3)).max} > $maxOccupancy rows " +
        s"(${stuck.length} stuck rank(s), e.g. group=${stuck.head.get(0)}): " +
        s"the distribution packs that many distinct values into a " +
        s"1/${nBuckets.toLong * nBuckets} sliver of the group's range, so " +
        s"no equi-width histogram depth yields a sortable sliver. Use " +
        s"q15_approx (approx_percentile — rank-sketch, " +
        s"distribution-immune) for this data.")
    val direct = k2.filter(col("mn2") === col("mx2"))
      .select(col("g"), col("k"), col("mn2").as("v"))
    val sortable = k2.filter(col("mn2") =!= col("mx2"))
    val wL2 = Window.partitionBy(col("g"), col("b"), col("b2")).orderBy(col("x"))
    val sorted = rows2
      .join(broadcast(sortable.select(col("g"), col("b"), col("b2")).distinct()),
        Seq("g", "b", "b2"))
      .withColumn("rn", row_number().over(wL2).cast("long"))
      .join(broadcast(sortable.select(col("g"), col("b"), col("b2"), col("k"),
        col("local_rn2"))), Seq("g", "b", "b2"))
      .filter(col("rn") === col("local_rn2"))
      .select(col("g"), col("k"), col("x").as("v"))
    direct.union(sorted)
  }

  val q15ExactScalableSql: String = q15PercentileSql

  /** q20: ntile — equi-depth decile assignment (customer value tiers).
    * One window sort on the balance; the tiebreak on key makes tile
    * boundaries deterministic across engines. A window without
    * PARTITION BY funnels one sort task — at 100 TB use the shipped
    * sketch twin `q20_approx` (boundary lookup, no global sort); this
    * query is the operator-coverage / oracle form.
    */
  def q20Ntile(spark: SparkSession, sfDir: String): DataFrame = {
    val w = Window.orderBy(col("c_acctbal"), col("c_custkey"))
    Tables.customer(spark, sfDir)
      .select(col("c_custkey"), col("c_acctbal"))
      .withColumn("decile", ntile(10).over(w))
  }

  val q20NtileSql: String =
    """SELECT c_custkey, c_acctbal,
      |  ntile(10) OVER (ORDER BY c_acctbal, c_custkey) AS decile
      |FROM customer""".stripMargin

  /** q20_approx: the 100 TB-scale decile path, hash-checked
    * cross-engine. Exact `ntile` without a PARTITION BY funnels the
    * entire table through ONE sort task; here the 9 decile boundaries
    * come from exact percentiles over a DETERMINISTIC 20% hash sample
    * (a 1-row aggregate, broadcast back over a scalar cross join — the
    * q15_approx sampling applied to tier ASSIGNMENT), and each row's
    * decile is a 9-element scan of that array. No global sort, no
    * single-task funnel, fully map-side after the tiny agg. The sample
    * is the same row set in DuckDB and the boundaries are rounded to 4
    * decimals in BOTH engines before comparison, so the driver
    * hash-checks the assignment itself; agreement with exact q20 is
    * asserted in AccuracySpec (ties at a boundary may legitimately land
    * one tile away — equi-depth splits ties by rank, boundary lookup
    * cannot).
    */
  def q20Approx(spark: SparkSession, sfDir: String): DataFrame = {
    import graft.functions.TextFns.h32Sql
    val c = Tables.customer(spark, sfDir)
      .select(col("c_custkey"), col("c_acctbal"))
    val bounds = c
      .filter(expr(s"${h32Sql("concat('apx|', cast(c_custkey as string))")} % 100 < 20"))
      .agg(expr(
        "transform(percentile(c_acctbal, array(0.1, 0.2, 0.3, 0.4, 0.5, 0.6, 0.7, 0.8, 0.9)), b -> round(b, 4))")
        .as("bs"))
    c.join(broadcast(bounds), lit(true))
      .select(col("c_custkey"), col("c_acctbal"),
        (expr("size(filter(bs, b -> b < c_acctbal))") + 1).cast("int").as("decile"))
  }

  val q20ApproxSql: String =
    """WITH s AS (
      |  SELECT c_acctbal FROM customer
      |  WHERE ('0x' || substr(md5('apx|' || c_custkey), 1, 8))::BIGINT % 100 < 20),
      |b AS (
      |  SELECT round(quantile_cont(c_acctbal, 0.1), 4) AS b1,
      |         round(quantile_cont(c_acctbal, 0.2), 4) AS b2,
      |         round(quantile_cont(c_acctbal, 0.3), 4) AS b3,
      |         round(quantile_cont(c_acctbal, 0.4), 4) AS b4,
      |         round(quantile_cont(c_acctbal, 0.5), 4) AS b5,
      |         round(quantile_cont(c_acctbal, 0.6), 4) AS b6,
      |         round(quantile_cont(c_acctbal, 0.7), 4) AS b7,
      |         round(quantile_cont(c_acctbal, 0.8), 4) AS b8,
      |         round(quantile_cont(c_acctbal, 0.9), 4) AS b9
      |  FROM s)
      |SELECT c.c_custkey, c.c_acctbal,
      |  1 + (b.b1 < c.c_acctbal)::INT + (b.b2 < c.c_acctbal)::INT
      |    + (b.b3 < c.c_acctbal)::INT + (b.b4 < c.c_acctbal)::INT
      |    + (b.b5 < c.c_acctbal)::INT + (b.b6 < c.c_acctbal)::INT
      |    + (b.b7 < c.c_acctbal)::INT + (b.b8 < c.c_acctbal)::INT
      |    + (b.b9 < c.c_acctbal)::INT AS decile
      |FROM customer c, b""".stripMargin

  /** q21: table profiling — the stats pass a pipeline runs before
    * committing to a layout (row counts, key cardinalities, value
    * ranges). Two exact count-distincts in one aggregate plan via Expand;
    * at 100 TB swap them for approx_count_distinct (q18 is the sketch
    * twin) — the rest is a single partial+final agg over one scan.
    */
  def q21Profile(spark: SparkSession, sfDir: String): DataFrame =
    Tables.lineitem(spark, sfDir)
      .agg(
        count(lit(1)).as("n_rows"),
        countDistinct(col("l_orderkey")).as("n_orders"),
        countDistinct(col("l_partkey")).as("n_parts"),
        min(col("l_shipdate").cast("date")).cast("string").as("min_ship"),
        max(col("l_shipdate").cast("date")).cast("string").as("max_ship"),
        round(sum(col("l_quantity")), 2).as("sum_qty"),
        round(avg(col("l_extendedprice")), 4).as("avg_price"))

  val q21ProfileSql: String =
    """SELECT count(*) AS n_rows,
      |  count(DISTINCT l_orderkey) AS n_orders,
      |  count(DISTINCT l_partkey) AS n_parts,
      |  (min(l_shipdate)::DATE)::VARCHAR AS min_ship,
      |  (max(l_shipdate)::DATE)::VARCHAR AS max_ship,
      |  round(sum(l_quantity), 2) AS sum_qty,
      |  round(avg(l_extendedprice), 4) AS avg_price
      |FROM lineitem""".stripMargin

  /** q21_approx: the profiling pass as it should run at 100 TB — the two
    * exact count-distincts (an Expand ×3 row multiply + per-key exact
    * state, q21's scale concern) replaced by the deterministic
    * [[Sketches]] HLL: one scan, single partial+final agg, bounded
    * memory. The DuckDB twin computes the identical sketch (md5 base,
    * integer harmonic sums), so the driver hash-checks the profile
    * row itself; the ≤2% error vs exact q21 is asserted in AccuracySpec
    * (the q18 pattern).
    */
  /** ONE scan, fully codegen'd (see [[Sketches]] for why not the builtin
    * ImperativeAggregate): each row expands to two tagged (bucket, rank)
    * rows — one per sketched column — with the scalar metrics riding the
    * tag-0 branch; level 1 collapses to ≤ 2m groups with map-side
    * partial max/sum, level 2 folds those into the single profile row.
    * The expansion is over the SCAN only (not a shuffle of 2× rows —
    * partial aggregation bounds every partition's output at 2m rows),
    * which is how this differs from exact q21's Expand-through-shuffle
    * scale concern.
    */
  def q21Approx(spark: SparkSession, sfDir: String): DataFrame =
    q21Hll(spark, sfDir, Sketches.Md5)

  /** q21's one-scan plan on either hash base. The struct carries the RAW
    * hash, not idx/rank: the generator's output is a bound attribute, so
    * the rank's bit-smear (whose expression tree references its input
    * 2^6 times) duplicates only attribute refs. Computing idx/rank before
    * the explode lets project-collapse inline the hash call into all 64
    * smear leaves — measured 4× slower at sf0.1.
    */
  private def q21Hll(spark: SparkSession, sfDir: String,
                     base: Sketches.HashBase): DataFrame =
    Tables.lineitem(spark, sfDir)
      .select(explode(array(
        struct(lit(0).as("tag"),
          base.hash(col("l_orderkey")).as("h"),
          col("l_shipdate").cast("date").as("sd"),
          col("l_quantity").as("qty"),
          col("l_extendedprice").as("price")),
        struct(lit(1).as("tag"),
          base.hash(col("l_partkey")).as("h"),
          lit(null).cast("date").as("sd"),
          lit(null).cast("double").as("qty"),
          lit(null).cast("double").as("price")))).as("x"))
      .select(col("x.*"))
      .groupBy(col("tag"), base.idx(col("h")).as("idx"))
      .agg(min(base.rankSource(col("h"))).as("mw"),
        count(col("sd")).as("cnt"),
        min(col("sd")).as("mn"), max(col("sd")).as("mx"),
        sum(col("qty")).as("sq"), sum(col("price")).as("sp"))
      .withColumn("mr", Sketches.hllRankOfMinSource(col("mw")))
      .agg(
        sum(col("cnt")).as("n_rows"),
        Sketches.hllEstimate(
          count(when(col("tag") === 0, lit(1))),
          sum(when(col("tag") === 0, Sketches.hllContribution(col("mr")))))
          .as("n_orders"),
        Sketches.hllEstimate(
          count(when(col("tag") === 1, lit(1))),
          sum(when(col("tag") === 1, Sketches.hllContribution(col("mr")))))
          .as("n_parts"),
        min(col("mn")).cast("string").as("min_ship"),
        max(col("mx")).cast("string").as("max_ship"),
        round(sum(col("sq")), 2).as("sum_qty"),
        round(sum(col("sp")) / sum(col("cnt")), 4).as("avg_price"))

  val q21ApproxSql: String =
    s"""WITH x AS (
       |  SELECT 0 AS tag, ${Sketches.hllIdxSql("l_orderkey")} AS idx,
       |    ${Sketches.hllRankSql("l_orderkey")} AS rk,
       |    l_shipdate::DATE AS sd, l_quantity AS qty, l_extendedprice AS price
       |  FROM lineitem
       |  UNION ALL
       |  SELECT 1 AS tag, ${Sketches.hllIdxSql("l_partkey")} AS idx,
       |    ${Sketches.hllRankSql("l_partkey")} AS rk,
       |    NULL::DATE AS sd, NULL::DOUBLE AS qty, NULL::DOUBLE AS price
       |  FROM lineitem),
       |g AS (
       |  SELECT tag, idx, max(rk) AS mr, count(sd) AS cnt, min(sd) AS mn,
       |    max(sd) AS mx, sum(qty) AS sq, sum(price) AS sp
       |  FROM x GROUP BY tag, idx)
       |SELECT CAST(sum(cnt) AS BIGINT) AS n_rows,
       |  ${Sketches.hllEstimateSql(
            "count(CASE WHEN tag = 0 THEN 1 END)",
            "sum(CASE WHEN tag = 0 THEN " + Sketches.hllContributionSql("mr") + " END)")} AS n_orders,
       |  ${Sketches.hllEstimateSql(
            "count(CASE WHEN tag = 1 THEN 1 END)",
            "sum(CASE WHEN tag = 1 THEN " + Sketches.hllContributionSql("mr") + " END)")} AS n_parts,
       |  (min(mn))::VARCHAR AS min_ship,
       |  (max(mx))::VARCHAR AS max_ship,
       |  round(sum(sq), 2) AS sum_qty,
       |  round(sum(sp) / sum(cnt), 4) AS avg_price
       |FROM g""".stripMargin

  /** q21_prod: the profiling pass on the production hash base (xxhash64,
    * see [[q18ApproxDistinctProd]]): one codegen'd hash per sketched
    * column per row, same one-scan explode-to-tagged-rows plan as
    * q21_approx, same estimate pipeline. Hash-checked via the HUGEINT
    * xxhash64 mirror; ≤2% of exact q21 in AccuracySpec.
    */
  def q21ApproxProd(spark: SparkSession, sfDir: String): DataFrame =
    q21Hll(spark, sfDir, Sketches.XxHash64)

  val q21ApproxProdSql: String =
    s"""WITH x AS (
       |  SELECT 0 AS tag, _i AS idx, _w AS w,
       |    l_shipdate::DATE AS sd, l_quantity AS qty, l_extendedprice AS price
       |  FROM ${Sketches.xxh64TableSql("SELECT * FROM lineitem", "l_orderkey")}
       |  UNION ALL
       |  SELECT 1 AS tag, _i AS idx, _w AS w,
       |    NULL::DATE AS sd, NULL::DOUBLE AS qty, NULL::DOUBLE AS price
       |  FROM ${Sketches.xxh64TableSql("SELECT * FROM lineitem", "l_partkey")}),
       |g0 AS (
       |  SELECT tag, idx, min(w) AS mw, count(sd) AS cnt, min(sd) AS mn,
       |    max(sd) AS mx, sum(qty) AS sq, sum(price) AS sp
       |  FROM x GROUP BY tag, idx),
       |g AS (
       |  SELECT *, ${Sketches.hllRankOfMinSourceSql("mw")} AS mr FROM g0)
       |SELECT CAST(sum(cnt) AS BIGINT) AS n_rows,
       |  ${Sketches.hllEstimateSql(
            "count(CASE WHEN tag = 0 THEN 1 END)",
            "sum(CASE WHEN tag = 0 THEN " + Sketches.hllContributionSql("mr") + " END)")} AS n_orders,
       |  ${Sketches.hllEstimateSql(
            "count(CASE WHEN tag = 1 THEN 1 END)",
            "sum(CASE WHEN tag = 1 THEN " + Sketches.hllContributionSql("mr") + " END)")} AS n_parts,
       |  (min(mn))::VARCHAR AS min_ship,
       |  (max(mx))::VARCHAR AS max_ship,
       |  round(sum(sq), 2) AS sum_qty,
       |  round(sum(sp) / sum(cnt), 4) AS avg_price
       |FROM g""".stripMargin

  /** q22: correlated EXISTS through the SQL parser (TPC-H Q4 shape) —
    * the subquery surface, not the Column API: Catalyst's
    * RewritePredicateSubquery must turn the correlated predicate into a
    * left-semi hash join on the correlation key (no per-row subquery
    * execution exists in a sane distributed plan). Same physical shape
    * as q4_semi_join, reached from SQL.
    */
  def q22Exists(spark: SparkSession, sfDir: String): DataFrame = {
    Tables.orders(spark, sfDir).createOrReplaceTempView("orders")
    Tables.lineitem(spark, sfDir).createOrReplaceTempView("lineitem")
    spark.sql(
      """SELECT o_orderpriority, count(*) AS n_orders
        |FROM orders o
        |WHERE EXISTS (SELECT 1 FROM lineitem l
        |              WHERE l.l_orderkey = o.o_orderkey AND l.l_returnflag = 'R')
        |GROUP BY o_orderpriority""".stripMargin)
  }

  val q22ExistsSql: String =
    """SELECT o_orderpriority, count(*) AS n_orders
      |FROM orders o
      |WHERE EXISTS (SELECT 1 FROM lineitem l
      |              WHERE l.l_orderkey = o.o_orderkey AND l.l_returnflag = 'R')
      |GROUP BY o_orderpriority""".stripMargin

  /** q23: NOT IN — the null-aware anti join. `NOT IN (subquery)` is NOT
    * a plain anti join: one NULL in the subquery output makes the whole
    * predicate UNKNOWN and empties the result, so Catalyst plans a
    * null-aware anti join (broadcast-only in Spark). The customers side
    * scans once; the subquery side is an aggregated key set that
    * broadcasts.
    */
  def q23NotIn(spark: SparkSession, sfDir: String): DataFrame = {
    Tables.customer(spark, sfDir).createOrReplaceTempView("customer")
    Tables.orders(spark, sfDir).createOrReplaceTempView("orders")
    spark.sql(
      """SELECT c_mktsegment, count(*) AS n_custs
        |FROM customer
        |WHERE c_custkey NOT IN (SELECT o_custkey FROM orders
        |                        WHERE o_totalprice > 250000)
        |GROUP BY c_mktsegment""".stripMargin)
  }

  val q23NotInSql: String =
    """SELECT c_mktsegment, count(*) AS n_custs
      |FROM customer
      |WHERE c_custkey NOT IN (SELECT o_custkey FROM orders
      |                        WHERE o_totalprice > 250000)
      |GROUP BY c_mktsegment""".stripMargin

  /** q24: FULL OUTER join — the one join type the suite didn't cover.
    * Two filtered per-nation aggregates whose key sets only partially
    * overlap (high-balance customers exist in more nations than
    * high-balance suppliers), so both null sides are actually exercised.
    * Both inputs aggregate BEFORE the join — the full outer runs on
    * ≤ |nations| rows per side, never on the fact tables.
    */
  def q24FullOuter(spark: SparkSession, sfDir: String): DataFrame = {
    val cust = Tables.customer(spark, sfDir)
      .filter(col("c_acctbal") > 9900)
      .groupBy(col("c_nationkey").as("nationkey"))
      .agg(count(lit(1)).as("n_custs"))
    val supp = Tables.supplier(spark, sfDir)
      .filter(col("s_acctbal") > 9000)
      .groupBy(col("s_nationkey").as("nationkey"))
      .agg(count(lit(1)).as("n_supps"))
    cust.join(supp, Seq("nationkey"), "full_outer")
      .select(col("nationkey"),
        coalesce(col("n_custs"), lit(0L)).as("n_custs"),
        coalesce(col("n_supps"), lit(0L)).as("n_supps"))
  }

  val q24FullOuterSql: String =
    """SELECT coalesce(c.nationkey, s.nationkey) AS nationkey,
      |  coalesce(c.n_custs, 0) AS n_custs,
      |  coalesce(s.n_supps, 0) AS n_supps
      |FROM (SELECT c_nationkey AS nationkey, count(*) AS n_custs
      |      FROM customer WHERE c_acctbal > 9900 GROUP BY 1) c
      |FULL JOIN (SELECT s_nationkey AS nationkey, count(*) AS n_supps
      |           FROM supplier WHERE s_acctbal > 9000 GROUP BY 1) s
      |ON c.nationkey = s.nationkey""".stripMargin

  /** q25: TPC-H Q5 shape ("local supplier volume") — the 6-way join with a
    * NON-hierarchical equality: `c_nationkey = s_nationkey` links two
    * different dimension paths of the snowflake, which is what
    * distinguishes it from q2's straight key chain. Plan at 100 TB: the
    * date filter pushes into the orders scan (partition pruning on a
    * date-partitioned layout); nation/region broadcast by HINT (bounded
    * at any scale), supplier by SIZE ESTIMATE — TPC-H supplier grows
    * with scale factor, so a forced broadcast would OOM the build side
    * at 100 TB where the planner/AQE correctly falls back to a shuffle
    * join. lineitem shuffles exactly twice (orderkey, custkey) and the
    * customer-nation consistency equality rides the supplier join
    * condition, never a shuffle of its own.
    */
  def q25LocalSupplier(spark: SparkSession, sfDir: String): DataFrame = {
    val li = Tables.lineitem(spark, sfDir)
    val ord = Tables.orders(spark, sfDir)
      .filter(col("o_orderdate") >= lit("1996-01-01").cast("timestamp") &&
        col("o_orderdate") < lit("1997-01-01").cast("timestamp"))
    val cust = Tables.customer(spark, sfDir)
    val supp = Tables.supplier(spark, sfDir)
    val nat = Tables.nation(spark, sfDir)
    val reg = Tables.region(spark, sfDir).filter(col("r_name") === lit("ASIA"))
    li.join(ord, col("l_orderkey") === col("o_orderkey"))
      .join(cust, col("o_custkey") === col("c_custkey"))
      .join(supp, col("l_suppkey") === col("s_suppkey") &&
        col("c_nationkey") === col("s_nationkey"))
      .join(broadcast(nat), col("s_nationkey") === col("n_nationkey"))
      .join(broadcast(reg), col("n_regionkey") === col("r_regionkey"))
      .groupBy(col("n_name"))
      .agg(round(sum(revenue), 2).as("revenue"))
  }

  val q25LocalSupplierSql: String =
    """SELECT n_name,
      |  round(sum(l_extendedprice * (1.0 - l_discount)), 2) AS revenue
      |FROM lineitem
      |JOIN orders   ON l_orderkey = o_orderkey
      |JOIN customer ON o_custkey = c_custkey
      |JOIN supplier ON l_suppkey = s_suppkey AND c_nationkey = s_nationkey
      |JOIN nation   ON s_nationkey = n_nationkey
      |JOIN region   ON n_regionkey = r_regionkey
      |WHERE r_name = 'ASIA'
      |  AND o_orderdate >= TIMESTAMP '1996-01-01 00:00:00'
      |  AND o_orderdate <  TIMESTAMP '1997-01-01 00:00:00'
      |GROUP BY n_name""".stripMargin

  /** q33: q25's join tree with the dimension strategies chosen by the
    * PROFILER → PLANNER loop ([[StatsPlanner]]) instead of hand-placed
    * `broadcast()` hints — the ANALYZE→CBO loop as a library surface.
    * Each dimension (customer, supplier, nation, filtered region) is
    * profiled once (staged per scope) and joins as a broadcast iff its
    * measured size fits the budget, else as a shuffled hash join. On
    * the test scale factors all four fit, so the plan is q25's; at
    * 100 TB customer/supplier cross the threshold and the SAME code
    * degrades them to shuffles — the switch is plan-asserted both ways
    * in ProfileSpec with a forced tiny budget. Same oracle as q25 (the
    * strategy choice must never change the result).
    */
  def q33StatsJoin(spark: SparkSession, sfDir: String): DataFrame = {
    val li = Tables.lineitem(spark, sfDir)
    val ord = Tables.orders(spark, sfDir)
      .filter(col("o_orderdate") >= lit("1996-01-01").cast("timestamp") &&
        col("o_orderdate") < lit("1997-01-01").cast("timestamp"))
    val cust = Tables.customer(spark, sfDir)
    val supp = Tables.supplier(spark, sfDir)
    val nat = Tables.nation(spark, sfDir)
    val reg = Tables.region(spark, sfDir).filter(col("r_name") === lit("ASIA"))
    val j1 = li.join(ord, col("l_orderkey") === col("o_orderkey"))
    val j2 = StatsPlanner.statsJoin(j1, cust,
      col("o_custkey") === col("c_custkey"), s"customer:$sfDir")
    val j3 = StatsPlanner.statsJoin(j2, supp,
      col("l_suppkey") === col("s_suppkey") &&
        col("c_nationkey") === col("s_nationkey"), s"supplier:$sfDir")
    val j4 = StatsPlanner.statsJoin(j3, nat,
      col("s_nationkey") === col("n_nationkey"), s"nation:$sfDir")
    val j5 = StatsPlanner.statsJoin(j4, reg,
      col("n_regionkey") === col("r_regionkey"), s"region_asia:$sfDir")
    j5.groupBy(col("n_name"))
      .agg(round(sum(revenue), 2).as("revenue"))
  }

  /** q27: distribution-position windows — `percent_rank` / `cume_dist`
    * per brand. Ordering by the VALUE only (no tiebreak) keeps tied rows
    * at identical ranks, so the result is deterministic without a
    * physical-order assumption. Same single-exchange shape as every
    * same-spec window stack.
    */
  def q27PercentRank(spark: SparkSession, sfDir: String): DataFrame = {
    val w = Window.partitionBy(col("p_brand")).orderBy(col("p_retailprice"))
    Tables.part(spark, sfDir)
      .select(col("p_partkey"), col("p_brand"),
        round(percent_rank().over(w), 6).as("pr"),
        round(cume_dist().over(w), 6).as("cd"))
  }

  val q27PercentRankSql: String =
    """SELECT p_partkey, p_brand,
      |  round(percent_rank() OVER (PARTITION BY p_brand ORDER BY p_retailprice), 6) AS pr,
      |  round(cume_dist()    OVER (PARTITION BY p_brand ORDER BY p_retailprice), 6) AS cd
      |FROM part""".stripMargin

  /** q28: fixed-width histogram via `width_bucket` with LITERAL bounds —
    * the one-pass profiling histogram. Literal bounds (not a min/max
    * subquery) keep it a single map-side-partial aggregate; a
    * data-driven-bounds variant is the q20_approx boundary-broadcast
    * pattern.
    */
  def q28Histogram(spark: SparkSession, sfDir: String): DataFrame =
    Tables.lineitem(spark, sfDir)
      .groupBy(width_bucket(col("l_extendedprice"),
        lit(0d), lit(120000d), lit(24)).as("bucket"))
      .agg(count(lit(1)).as("n"),
        round(avg(col("l_extendedprice")), 4).as("avg_price"))

  /** q30: UNPIVOT (melt) — the inverse of q19's pivot: wide per-flag
    * aggregates to (flag, metric, value) long form. `Dataset.unpivot`
    * plans as an Expand over the already-aggregated (tiny) frame — the
    * 3× row multiply happens AFTER the reduction, never on the fact
    * table.
    */
  def q30Unpivot(spark: SparkSession, sfDir: String): DataFrame =
    Tables.lineitem(spark, sfDir)
      .groupBy(col("l_returnflag"))
      .agg(round(sum(col("l_quantity")), 2).as("qty"),
        round(sum(col("l_extendedprice")), 2).as("price"),
        round(sum(col("l_discount")), 2).as("disc"))
      .unpivot(Array(col("l_returnflag")),
        Array(col("qty"), col("price"), col("disc")), "metric", "value")

  val q30UnpivotSql: String =
    """SELECT l_returnflag, metric, value FROM (
      |  SELECT l_returnflag,
      |    round(sum(l_quantity), 2) AS qty,
      |    round(sum(l_extendedprice), 2) AS price,
      |    round(sum(l_discount), 2) AS disc
      |  FROM lineitem GROUP BY l_returnflag)
      |UNPIVOT (value FOR metric IN (qty, price, disc))""".stripMargin

  /** q31: LATERAL correlated subquery — the SQL-surface form of a
    * dependent per-row computation. Catalyst decorrelates the lateral
    * aggregate into a plain aggregate + join (DecorrelateInnerQuery),
    * so the physical plan is the same co-partitioned join-agg a
    * hand-written version produces — no per-row subquery execution.
    */
  def q31Lateral(spark: SparkSession, sfDir: String): DataFrame = {
    Tables.orders(spark, sfDir).createOrReplaceTempView("orders")
    Tables.lineitem(spark, sfDir).createOrReplaceTempView("lineitem")
    spark.sql(
      """SELECT o_orderkey, l.n_items, l.max_qty
        |FROM orders o, LATERAL (
        |  SELECT count(*) AS n_items, max(l_quantity) AS max_qty
        |  FROM lineitem WHERE l_orderkey = o.o_orderkey) l
        |WHERE o.o_totalprice > 400000""".stripMargin)
  }

  val q31LateralSql: String =
    """SELECT o_orderkey, l.n_items, l.max_qty
      |FROM orders o, LATERAL (
      |  SELECT count(*) AS n_items, max(l_quantity) AS max_qty
      |  FROM lineitem WHERE l_orderkey = o.o_orderkey) l
      |WHERE o.o_totalprice > 400000""".stripMargin

  /** Schema-dynamic column profiler — the ANALYZE TABLE surface as a
    * library op: one pass computes per column its null count, HLL
    * distinct estimate, and min/max (rendered to strings so the output
    * schema is fixed whatever the input schema), then one UNPIVOT melts
    * the single wide row to a row per column. Exactly one job over the
    * data regardless of column count; the q21 queries are this op's
    * fixed-schema twins.
    */
  def profile(df: DataFrame): DataFrame = {
    val cols = df.columns.toSeq
    val aggs = cols.flatMap { c =>
      Seq(
        sum(when(col(c).isNull, 1L).otherwise(0L)).as(s"__n_$c"),
        approx_count_distinct(col(c)).as(s"__d_$c"),
        min(col(c)).cast("string").as(s"__mn_$c"),
        max(col(c)).cast("string").as(s"__mx_$c"))
    }
    val wide = df.agg(aggs.head, aggs.tail: _*)
    val stacked = cols.map(c =>
      s"'$c', __n_$c, __d_$c, __mn_$c, __mx_$c").mkString(", ")
    wide.selectExpr(
      s"stack(${cols.length}, $stacked) AS (column, n_nulls, approx_distinct, min_val, max_val)")
  }

  /** q32: dedupe-to-latest — one row per key, the most recent by
    * timestamp with a deterministic tiebreak: THE pattern behind every
    * "current snapshot of a mutable entity" view (and the query-plan
    * dual of `MergeOps.upsert`, which maintains the same result
    * incrementally). One exchange on the key; row_number + filter(=1)
    * plans a rank-limited window, no global sort.
    */
  def q32Latest(spark: SparkSession, sfDir: String): DataFrame = {
    val w = Window.partitionBy(col("o_custkey"))
      .orderBy(col("o_orderdate").desc, col("o_orderkey").desc)
    Tables.orders(spark, sfDir)
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") === 1)
      .select(col("o_custkey"), col("o_orderkey"),
        unix_millis(col("o_orderdate").cast("timestamp")).as("odate_ms"),
        col("o_totalprice"))
  }

  val q32LatestSql: String =
    """SELECT o_custkey, o_orderkey, epoch_ms(o_orderdate) AS odate_ms,
      |  o_totalprice
      |FROM (
      |  SELECT *, row_number() OVER (
      |    PARTITION BY o_custkey ORDER BY o_orderdate DESC, o_orderkey DESC) AS rn
      |  FROM orders)
      |WHERE rn = 1""".stripMargin

  /** Oracle spells out Spark's WidthBucket semantics (DuckDB has no
    * width_bucket): below-min → 0, ≥ max → n+1, else
    * floor(n·(v-min)/(max-min))+1 — multiply BEFORE divide, mirroring
    * Spark's `(numBucket * (v - min) / (max - min)).toLong`. The order
    * matters in IEEE arithmetic: divide-then-multiply rounds
    * (5000/120000)·24 to 0.999… → bucket 1, while Spark's
    * multiply-first gives exactly 1.0 → bucket 2 on boundary values.
    */
  /** q29: second-moment aggregates — stddev/variance/correlation/
    * covariance per group. All are single-pass partial-aggregable
    * (sum, sum², sum-of-products partials), so the 100 TB shape is
    * identical to q1: map-side partials, |groups| shuffle rows.
    * Rounded to 4 to absorb partial-order float drift.
    */
  def q29Stats(spark: SparkSession, sfDir: String): DataFrame =
    Tables.lineitem(spark, sfDir)
      .groupBy(col("l_returnflag"))
      .agg(
        round(stddev_samp(col("l_extendedprice")), 4).as("sd_price"),
        round(var_samp(col("l_quantity")), 4).as("var_qty"),
        round(corr(col("l_quantity"), col("l_extendedprice")), 4).as("corr_qty_price"),
        round(covar_samp(col("l_discount"), col("l_extendedprice")), 4).as("cov_disc_price"))

  val q29StatsSql: String =
    """SELECT l_returnflag,
      |  round(stddev_samp(l_extendedprice), 4) AS sd_price,
      |  round(var_samp(l_quantity), 4) AS var_qty,
      |  round(corr(l_quantity, l_extendedprice), 4) AS corr_qty_price,
      |  round(covar_samp(l_discount, l_extendedprice), 4) AS cov_disc_price
      |FROM lineitem GROUP BY l_returnflag""".stripMargin

  val q28HistogramSql: String =
    """SELECT CASE WHEN l_extendedprice < 0 THEN 0
      |            WHEN l_extendedprice >= 120000 THEN 25
      |            ELSE CAST(floor(24 * (l_extendedprice - 0) / 120000) AS BIGINT) + 1
      |       END AS bucket,
      |  count(*) AS n, round(avg(l_extendedprice), 4) AS avg_price
      |FROM lineitem GROUP BY 1""".stripMargin
}
