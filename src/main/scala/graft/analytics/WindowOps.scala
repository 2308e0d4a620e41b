package graft.analytics

import graft.{Det, Op, Sql}
import graft.warehouse.OracleSql
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** The full window-function family the reference never uses (SURVEY §2.5
  * notes its only window is the %-of-total in Q5): ranking, lag, and a
  * running frame — per-customer purchase timelines with order rank, gap
  * since the previous order, and cumulative revenue.
  *
  * Scale posture: one shuffle on the partition key (customer), then all
  * three functions evaluate in a single WindowExec pass over each
  * partition — no per-function re-sort (same partitionBy/orderBy spec).
  */
object WindowOps {
  /** Per-customer order timeline: rank, days since previous order,
    * running revenue (rows-between frame), and share of the customer's
    * total. Grain: one row per (customer, order). */
  def customerTimeline(spark: SparkSession, dir: String): DataFrame = {
    val f = graft.warehouse.Warehouse.fact(spark, dir)
    val orders = f.groupBy(col("o_custkey").as("customer_id"),
        col("l_orderkey").as("order_id"), col("order_date"))
      .agg(Det.msumDec(col("line_total")).as("order_total"))
    val w = Window.partitionBy("customer_id").orderBy("order_date", "order_id")
    orders.select(
        col("customer_id"), col("order_id"),
        date_format(col("order_date"), "yyyy-MM-dd").as("order_date"),
        col("order_total"),
        row_number().over(w).cast(LongType).as("order_rank"),
        datediff(col("order_date"), lag(col("order_date"), 1).over(w))
          .cast(LongType).as("days_since_prev"),
        sum(col("order_total"))
          .over(w.rowsBetween(Window.unboundedPreceding, 0))
          .cast(DoubleType).as("running_revenue"),
        (col("order_total").cast(DoubleType) * lit(100.0) /
          sum(col("order_total")).over(Window.partitionBy("customer_id"))
            .cast(DoubleType)).as("pct_of_customer_revenue"))
      .withColumn("order_total", col("order_total").cast(DoubleType))
  }

  val customerTimelineSql: String = OracleSql.q(s"""
SELECT customer_id, order_id,
       strftime(order_date, '%Y-%m-%d') AS order_date,
       CAST(order_total AS DOUBLE) AS order_total,
       CAST(ROW_NUMBER() OVER w AS BIGINT) AS order_rank,
       CAST(date_diff('day', lag(order_date) OVER w, order_date) AS BIGINT) AS days_since_prev,
       CAST(SUM(order_total) OVER (PARTITION BY customer_id ORDER BY order_date, order_id
                                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS DOUBLE) AS running_revenue,
       CAST(order_total AS DOUBLE) * 100.0
         / CAST(SUM(order_total) OVER (PARTITION BY customer_id) AS DOUBLE) AS pct_of_customer_revenue
FROM (
  SELECT o_custkey AS customer_id, l_orderkey AS order_id, order_date,
         ${Sql.msumDec("line_total")} AS order_total
  FROM fact
  GROUP BY o_custkey, l_orderkey, order_date)
WINDOW w AS (PARTITION BY customer_id ORDER BY order_date, order_id)""")

  /** RANGE-frame + ntile: per-customer trailing-30-day revenue (a RANGE
    * frame over integer day offsets — peers at the same day aggregate
    * together, unlike a ROWS frame) and per-customer spend quartiles.
    * Grain: one row per (customer, order). */
  def customerTrailing(spark: SparkSession, dir: String): DataFrame = {
    val f = graft.warehouse.Warehouse.fact(spark, dir)
    val orders = f.groupBy(col("o_custkey").as("customer_id"),
        col("l_orderkey").as("order_id"), col("order_date"))
      .agg(Det.msumDec(col("line_total")).as("order_total"))
      .withColumn("days",
        datediff(col("order_date"), to_date(lit("1992-01-01"))).cast(LongType))
    val wRange = Window.partitionBy("customer_id").orderBy("days")
      .rangeBetween(-29, 0)
    val wQuart = Window.partitionBy("customer_id").orderBy("order_total", "order_id")
    orders.select(
      col("customer_id"), col("order_id"), col("days"),
      col("order_total").cast(DoubleType).as("order_total"),
      sum(col("order_total")).over(wRange).cast(DoubleType).as("trailing_30d"),
      ntile(4).over(wQuart).cast(LongType).as("spend_quartile"))
  }

  val customerTrailingSql: String = OracleSql.q(s"""
SELECT customer_id, order_id, days,
       CAST(order_total AS DOUBLE) AS order_total,
       CAST(SUM(order_total) OVER (PARTITION BY customer_id ORDER BY days
              RANGE BETWEEN 29 PRECEDING AND CURRENT ROW) AS DOUBLE) AS trailing_30d,
       CAST(NTILE(4) OVER (PARTITION BY customer_id ORDER BY order_total, order_id) AS BIGINT) AS spend_quartile
FROM (
  SELECT o_custkey AS customer_id, l_orderkey AS order_id,
         date_diff('day', DATE '1992-01-01', order_date) AS days,
         ${Sql.msumDec("line_total")} AS order_total
  FROM fact
  GROUP BY o_custkey, l_orderkey, order_date)""")

  val ops: Seq[Op] = Seq(
    Op("window_customer_timeline", customerTimeline, customerTimelineSql),
    Op("window_trailing_30d", customerTrailing, customerTrailingSql))
}
