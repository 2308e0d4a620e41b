package graft.etl

import graft.{Det, Op, Sql, Tables}
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Skew mitigation by salting — the standard fix when one grouping key
  * dominates a shuffle (SURVEY §7.4 "skewed keys → salting or AQE
  * skew-join"). The aggregation runs in two phases: partial aggregate on
  * (key, salt) — spreading a hot key over `saltBuckets` reducers — then
  * final aggregate on key. Results are EXACTLY the unsalted aggregation
  * (sums/counts re-aggregate losslessly), which the DuckDB oracle — a
  * plain GROUP BY with no salt — proves.
  */
object Skew {
  /** Deterministic salt from row identity (never rand() — reruns and
    * retried tasks must agree). */
  private def salt(idCol: Column, buckets: Int): Column =
    pmod(hash(idCol), lit(buckets))

  /** Two-phase salted aggregation: revenue and row count per order
    * priority (5 hot keys over the whole fact — exactly the shape that
    * skews). */
  def saltedPriorityRevenue(spark: SparkSession, dir: String,
                            saltBuckets: Int = 16): DataFrame = {
    val o = Tables.orders(spark, dir)
    val partial = o
      .withColumn("_salt", salt(col("o_orderkey"), saltBuckets))
      .groupBy(col("o_orderpriority"), col("_salt"))
      .agg(
        count(lit(1)).as("n"),
        sum(Det.dec6(col("o_totalprice"))).as("amt"))
    partial
      .groupBy("o_orderpriority")
      .agg(
        sum("n").as("n_orders"),
        round(sum("amt"), 2).cast("decimal(18,2)").cast("double").as("total_amount"))
      .orderBy("o_orderpriority")
  }

  /** The oracle has no salt — proving the two-phase rewrite is lossless. */
  val saltedPriorityRevenueSql: String = s"""
SELECT o_orderpriority,
       COUNT(*) AS n_orders,
       ${Sql.msum("o_totalprice")} AS total_amount
FROM orders
GROUP BY o_orderpriority
ORDER BY o_orderpriority"""

  /** Salted skewed JOIN — the replicate-and-salt pattern: the big side
    * gets a deterministic salt on its row identity; the small side is
    * replicated once per salt bucket, so a hot join key spreads over
    * `saltBuckets` reducers instead of hot-spotting one. The join stays
    * an equi-join on (key, salt). Replication multiplies the SMALL side
    * only (dim × buckets — still broadcastable at scale); results are
    * exactly the unsalted join, which the salt-free oracle proves. */
  def saltedBrandRevenue(spark: SparkSession, dir: String,
                         saltBuckets: Int = 8): DataFrame = {
    val li = Tables.lineitem(spark, dir)
      .select(col("l_orderkey"), col("l_linenumber"), col("l_partkey"), col("l_extendedprice"))
      .withColumn("_salt",
        pmod(hash(col("l_orderkey"), col("l_linenumber")), lit(saltBuckets)))
      .drop("l_orderkey", "l_linenumber")
    val p = Tables.part(spark, dir).select("p_partkey", "p_brand")
      .withColumn("_salt", explode(sequence(lit(0), lit(saltBuckets - 1))))
    li.join(p, col("l_partkey") === col("p_partkey") && li("_salt") === p("_salt"))
      .groupBy("p_brand")
      .agg(
        count(lit(1)).as("n_lines"),
        Det.msum(col("l_extendedprice")).as("revenue"))
      .orderBy("p_brand")
  }

  val saltedBrandRevenueSql: String = s"""
SELECT p_brand,
       COUNT(*) AS n_lines,
       ${Sql.msum("l_extendedprice")} AS revenue
FROM lineitem JOIN part ON l_partkey = p_partkey
GROUP BY p_brand
ORDER BY p_brand"""

  val ops: Seq[Op] = Seq(
    Op("salted_priority_revenue", (s, d) => saltedPriorityRevenue(s, d), saltedPriorityRevenueSql),
    Op("salted_brand_revenue", (s, d) => saltedBrandRevenue(s, d), saltedBrandRevenueSql))
}
