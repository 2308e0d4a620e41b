package graft.ext

import graft.{Op, Tables}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DateType

/** Set-operation queries (SURVEY §2.7 beyond UNION): INTERSECT for
  * cohort overlap, EXCEPT for absence — both distinct-set semantics,
  * planned by Spark as aggregating semi/anti joins (one shuffle each,
  * partial-distinct map side; never a materialized intermediate set).
  */
object SetOps {
  private def buyersIn(spark: SparkSession, dir: String, y: Int): DataFrame =
    Tables.orders(spark, dir)
      .filter(year(col("o_orderdate").cast(DateType)) === y)
      .select(col("o_custkey"))

  /** INTERSECT: customers who ordered in BOTH 1995 and 1996 (repeat
    * cohort). */
  def repeatBuyers(spark: SparkSession, dir: String): DataFrame =
    buyersIn(spark, dir, 1995)
      .intersect(buyersIn(spark, dir, 1996))
      .orderBy("o_custkey")

  val repeatBuyersSql: String = """
SELECT o_custkey FROM orders WHERE year(CAST(o_orderdate AS DATE)) = 1995
INTERSECT
SELECT o_custkey FROM orders WHERE year(CAST(o_orderdate AS DATE)) = 1996
ORDER BY o_custkey"""

  /** EXCEPT: customers on file with no order in the final year (the
    * lapsed cohort — every customer has SOME order in this data, so the
    * interesting absence is per-period). */
  def lapsedCustomers(spark: SparkSession, dir: String): DataFrame =
    Tables.customer(spark, dir).select(col("c_custkey"))
      .except(buyersIn(spark, dir, 1998).select(col("o_custkey").as("c_custkey")))
      .orderBy("c_custkey")

  val lapsedCustomersSql: String = """
SELECT c_custkey FROM customer
EXCEPT
SELECT o_custkey AS c_custkey FROM orders WHERE year(CAST(o_orderdate AS DATE)) = 1998
ORDER BY c_custkey"""

  /** UNION (distinct): the either-year buyer cohort — completes the set
    * family (UNION ALL lives in etl.Load.freshnessUnion). Planned as
    * union + aggregate-distinct, partial-combined map-side. */
  def eitherYearBuyers(spark: SparkSession, dir: String): DataFrame =
    buyersIn(spark, dir, 1995)
      .union(buyersIn(spark, dir, 1996))
      .distinct()
      .orderBy("o_custkey")

  val eitherYearBuyersSql: String = """
SELECT o_custkey FROM orders WHERE year(CAST(o_orderdate AS DATE)) = 1995
UNION
SELECT o_custkey FROM orders WHERE year(CAST(o_orderdate AS DATE)) = 1996
ORDER BY o_custkey"""

  val ops: Seq[Op] = Seq(
    Op("set_repeat_buyers", repeatBuyers, repeatBuyersSql),
    Op("set_lapsed_customers", lapsedCustomers, lapsedCustomersSql),
    Op("set_either_year_buyers", eitherYearBuyers, eitherYearBuyersSql))
}
