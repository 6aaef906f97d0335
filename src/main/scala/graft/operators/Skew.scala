package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.Tables

/** Skew-handling utilities. At 100 TB a single hot key (one exception
  * class producing 90% of errors, one power user) turns a groupBy into a
  * straggler. Two-phase salted aggregation splits each key into `salt`
  * sub-keys for the wide partial aggregate, then merges — the shuffle
  * spreads the hot key over `salt` reducers. AQE's skew handling covers
  * joins; salting covers aggregations with algebraic (re-mergeable)
  * aggregates.
  */
object Skew {

  /** Two-phase count+sum per key with an N-way salt. The salt column is a
    * deterministic spread (id % salt), so results are reproducible (and
    * oracle-checkable); `rand()`-based salts work identically at scale.
    */
  def saltedCountSum(df: DataFrame, keyCol: String, idCol: String,
                     valCol: String, salt: Int): DataFrame =
    df.withColumn("__salt", col(idCol) % salt)
      .groupBy(col(keyCol), col("__salt"))
      .agg(count(lit(1)).as("__n"), sum(col(valCol)).as("__s"))
      .groupBy(col(keyCol))
      .agg(sum(col("__n")).as("n"), round(sum(col("__s")), 2).as("sum_value"))

  /** ev_salted_agg: per-event-type count+sum through the salted path.
    * Oracle = the plain single-phase aggregation — the salted plan must be
    * bit-identical in results (counts are exact; the sum is rounded after
    * the merge like every other aggregate here).
    */
  def evSaltedAgg(spark: SparkSession, sfDir: String): DataFrame =
    saltedCountSum(Tables.events(spark, sfDir), "event_type", "event_id",
      "value", 16)

  val evSaltedAggSql: String =
    """SELECT event_type, count(*) AS n, round(sum(value), 2) AS sum_value
      |FROM events GROUP BY event_type""".stripMargin

  /** Salted shuffle join for a skewed left side: the hot left keys spread
    * over `salt` sub-keys, the right side replicates `salt`× (explode of a
    * constant array — right is the smaller-but-not-broadcastable side).
    * Result-identical to the plain equijoin for ANY salt assignment, so
    * the left salt uses a cheap deterministic spread. This is the manual
    * fallback for the cases AQE skew-join can't fix (e.g. a single key
    * too large for any split, or non-AQE paths like streaming joins).
    */
  def saltedJoin(left: DataFrame, right: DataFrame, key: String,
                 salt: Int): DataFrame = {
    val l = left.withColumn("__salt",
      pmod(hash(col(key), monotonically_increasing_id()), lit(salt)))
    val r = right.withColumn("__salt",
      explode(sequence(lit(0), lit(salt - 1))))
    l.join(r, Seq(key, "__salt")).drop("__salt")
  }
}
