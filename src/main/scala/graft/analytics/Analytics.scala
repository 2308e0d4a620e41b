package graft.analytics

import graft.{Det, Op, Sql}
import graft.Op.Headline
import graft.warehouse.{OracleSql, Warehouse}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** The reference's 10 analytical queries (reference:
  * sql/queries/analytical_queries.sql:1-183, run by
  * scripts/transformation/generate_analytics.py) re-expressed as Spark
  * DataFrame pipelines over the star schema of [[Warehouse]], with DuckDB
  * oracle SQL twins. Thresholds/buckets are rescaled to the test data's
  * value ranges; every query is totally ordered and follows the [[Det]]
  * determinism conventions.
  *
  * Scale notes: each query is one scan of the stored fact; bounded dims
  * (date — cardinality fixed by the 7-year calendar) broadcast
  * unconditionally, SCALING dims (part, customer) go through the
  * memoized measured-size gate ([[graft.Joins.broadcastIfSmall]]) so
  * they broadcast while they fit and degrade to a shuffle join past the
  * budget; aggregations are partial+final (map-side combine) by
  * construction; COUNT(DISTINCT key) queries collapse to that key's
  * grain first (q02/q05/q07/q09 to order grain, q06 to customer grain —
  * no distinct-aggregate Expand over the fact anywhere); top-k plans as
  * TakeOrderedAndProject (no global sort materialization).
  */
object Analytics {
  private val asOf = to_date(lit(Det.AsOfDate))

  /** Q1 top-10 products by revenue (analytical_queries.sql:4-15). */
  def q01(spark: SparkSession, dir: String): DataFrame = {
    val f = Warehouse.fact(spark, dir)
    val p = Warehouse.dimPart(spark, dir).select("product_key", "p_name", "p_brand")
    f.join(graft.Joins.broadcastIfSmall(p), "product_key") // scaling dim: measured-size gate
      .groupBy("p_name", "p_brand")
      .agg(
        Det.msum(col("line_total")).as("total_revenue"),
        sum("quantity").as("units_sold"),
        Det.mavg(col("unit_price")).as("avg_unit_price"))
      .orderBy(desc("total_revenue"), asc("p_name"), asc("p_brand"))
      .limit(10)
  }

  val q01Sql: String = OracleSql.q(s"""
SELECT p.p_name, p.p_brand,
       ${Sql.msum("f.line_total")} AS total_revenue,
       CAST(SUM(f.quantity) AS BIGINT) AS units_sold,
       ${Sql.mavg("f.unit_price")} AS avg_unit_price
FROM fact f JOIN dim_part p ON f.product_key = p.product_key
GROUP BY p.p_name, p.p_brand
ORDER BY total_revenue DESC, p_name, p_brand
LIMIT 10""")

  /** Q2 monthly sales trend (analytical_queries.sql:20-30).
    *
    * Two COUNT(DISTINCT)s in one aggregate plan an Expand that doubles
    * the shuffled fact — at 100 TB that is the dominant cost. Orders
    * are the natural collapse: every line of an order shares its
    * customer and date, so a per-order pre-aggregation (keyed on the
    * fact's existing order partitioning — no extra shuffle off the
    * cache) makes total_transactions a plain count and leaves ONE
    * distinct over order-grain rows. Decimal sums are associative, so
    * every measure is bit-identical to the direct form the oracle runs.
    */
  def q02(spark: SparkSession, dir: String): DataFrame = {
    val f = Warehouse.fact(spark, dir)
    val d = Warehouse.dimDate(spark, dir).select("date_key", "year", "month")
    // UNROUNDED per-order decimal: msumDec's round(…, 2) happens once at
    // month grain, exactly where the direct form (and the oracle) rounds
    val perOrder = f.groupBy("l_orderkey")
      .agg(
        min("date_key").as("date_key"),          // constant within an order
        min("customer_key").as("customer_key"),  // constant within an order
        sum(Det.dec6(col("line_total"))).as("order_rev"),
        count(lit(1)).as("n_lines"))
    val monthRev = round(sum(col("order_rev")), 2).cast(DecimalType(18, 2))
    perOrder.join(broadcast(d), "date_key")
      .groupBy("year", "month")
      .agg(
        monthRev.cast(DoubleType).as("total_revenue"),
        count(lit(1)).as("total_transactions"),
        (monthRev.cast(DoubleType) / sum(col("n_lines"))).as("avg_order_value"),
        countDistinct(col("customer_key")).as("unique_customers"))
      .select(
        format_string("%d-%02d", col("year"), col("month")).as("year_month"),
        col("total_revenue"), col("total_transactions"),
        col("avg_order_value"), col("unique_customers"))
      .orderBy("year_month")
  }

  val q02Sql: String = OracleSql.q(s"""
SELECT printf('%d-%02d', year, month) AS year_month,
       total_revenue, total_transactions, avg_order_value, unique_customers
FROM (
  SELECT d.year, d.month,
         ${Sql.msum("f.line_total")} AS total_revenue,
         COUNT(DISTINCT f.l_orderkey) AS total_transactions,
         ${Sql.mavg("f.line_total")} AS avg_order_value,
         COUNT(DISTINCT f.customer_key) AS unique_customers
  FROM fact f JOIN dim_date d ON f.date_key = d.date_key
  GROUP BY d.year, d.month) t
ORDER BY year_month""")

  /** Q3 customer segmentation by spend (analytical_queries.sql:35-54);
    * thresholds rescaled to the test data's per-customer totals. */
  def q03(spark: SparkSession, dir: String): DataFrame = {
    val per = Warehouse.fact(spark, dir)
      .groupBy("customer_key")
      .agg(Det.msumDec(col("line_total")).as("total_spent"))
    per
      .withColumn("spending_segment",
        when(col("total_spent") < 1000000, "$0-$1M")
          .when(col("total_spent") < 2500000, "$1M-$2.5M")
          .when(col("total_spent") < 4000000, "$2.5M-$4M")
          .otherwise("$4M+"))
      .groupBy("spending_segment")
      .agg(
        count(lit(1)).as("customer_count"),
        sum(col("total_spent")).cast(DoubleType).as("total_revenue"),
        (sum(col("total_spent")).cast(DoubleType) / count(lit(1))).as("avg_customer_value"))
      .orderBy(desc("customer_count"), asc("spending_segment"))
  }

  val q03Sql: String = OracleSql.q(s"""
SELECT CASE WHEN total_spent < 1000000 THEN '$$0-$$1M'
            WHEN total_spent < 2500000 THEN '$$1M-$$2.5M'
            WHEN total_spent < 4000000 THEN '$$2.5M-$$4M'
            ELSE '$$4M+' END AS spending_segment,
       COUNT(*) AS customer_count,
       CAST(SUM(total_spent) AS DOUBLE) AS total_revenue,
       CAST(SUM(total_spent) AS DOUBLE) / COUNT(*) AS avg_customer_value
FROM (
  SELECT customer_key, ${Sql.msumDec("line_total")} AS total_spent
  FROM fact GROUP BY customer_key) t
GROUP BY spending_segment
ORDER BY customer_count DESC, spending_segment""")

  /** Q4 category performance (analytical_queries.sql:59-69); category =
    * p_type. */
  def q04(spark: SparkSession, dir: String): DataFrame = {
    val f = Warehouse.fact(spark, dir)
    val p = Warehouse.dimPart(spark, dir).select("product_key", "p_type")
    f.join(graft.Joins.broadcastIfSmall(p), "product_key") // scaling dim: measured-size gate
      .groupBy(col("p_type").as("category"))
      .agg(
        Det.msum(col("line_total")).as("total_revenue"),
        Det.msum(col("profit")).as("total_profit"),
        sum("quantity").as("units_sold"))
      .select(
        col("category"), col("total_revenue"), col("total_profit"),
        when(col("total_revenue") === 0, lit(null).cast(DoubleType))
          .otherwise(col("total_profit") / col("total_revenue") * lit(100.0))
          .as("profit_margin_pct"),
        col("units_sold"))
      .orderBy(desc("total_revenue"), asc("category"))
  }

  val q04Sql: String = OracleSql.q(s"""
SELECT category, total_revenue, total_profit,
       CASE WHEN total_revenue = 0 THEN NULL
            ELSE total_profit / total_revenue * 100.0 END AS profit_margin_pct,
       units_sold
FROM (
  SELECT p.p_type AS category,
         ${Sql.msum("f.line_total")} AS total_revenue,
         ${Sql.msum("f.profit")} AS total_profit,
         CAST(SUM(f.quantity) AS BIGINT) AS units_sold
  FROM fact f JOIN dim_part p ON f.product_key = p.product_key
  GROUP BY p.p_type) t
ORDER BY total_revenue DESC, category""")

  /** Q5 payment-method distribution with %-of-total shares
    * (analytical_queries.sql:74-85's `SUM(...) OVER ()`, SURVEY §2.5).
    * The grand totals come from a scalar aggregate broadcast back onto
    * the groups rather than an unpartitioned window — same exact sums
    * (bigint / decimal, order-independent), but no single-partition
    * WindowExec: the plan stays parallel however many groups exist.
    *
    * Same Expand-elimination rewrite as [[q02]]/[[q07]]: payment_method
    * is an order attribute (constant within l_orderkey), so a per-order
    * pre-aggregation makes transaction_count a plain count — no
    * distinct-aggregate Expand doubling the shuffled fact. The decimal
    * sum is associative and rounds once at payment grain, exactly where
    * the direct form (and the oracle) rounds — bit-equal. */
  def q05(spark: SparkSession, dir: String): DataFrame = {
    val f = Warehouse.fact(spark, dir)
    // payment_method rides in the GROUP KEY, not a min() carry-along:
    // min over a string is not hash-aggregatable (the agg buffer isn't
    // fixed-size) and planned a SortAggregate — a full sort of the fact,
    // worse than the Expand this rewrite removes. Same grain either way:
    // payment_method is constant within an order.
    val perOrder = f.groupBy("l_orderkey", "payment_method")
      .agg(sum(Det.dec6(col("line_total"))).as("order_rev"))
    val g = perOrder
      .groupBy("payment_method")
      .agg(
        count(lit(1)).as("transaction_count"),
        round(sum(col("order_rev")), 2).cast(DecimalType(18, 2)).as("rev_dec"))
    val totals = g.agg(
      sum(col("transaction_count")).as("__tot_txn"),
      sum(col("rev_dec")).as("__tot_rev"))
    g.crossJoin(broadcast(totals))
      .select(
        col("payment_method"),
        col("transaction_count"),
        Det.d2d(col("rev_dec")).as("total_revenue"),
        (col("transaction_count").cast(DoubleType) * lit(100.0) /
          col("__tot_txn").cast(DoubleType)).as("pct_of_transactions"),
        (Det.d2d(col("rev_dec")) * lit(100.0) /
          Det.d2d(col("__tot_rev"))).as("pct_of_revenue"))
      .orderBy("payment_method")
  }

  val q05Sql: String = OracleSql.q(s"""
SELECT payment_method, transaction_count,
       CAST(rev_dec AS DOUBLE) AS total_revenue,
       CAST(transaction_count AS DOUBLE) * 100.0 / CAST(SUM(transaction_count) OVER () AS DOUBLE) AS pct_of_transactions,
       CAST(rev_dec AS DOUBLE) * 100.0 / CAST(SUM(rev_dec) OVER () AS DOUBLE) AS pct_of_revenue
FROM (
  SELECT payment_method,
         COUNT(DISTINCT l_orderkey) AS transaction_count,
         ${Sql.msumDec("line_total")} AS rev_dec
  FROM fact GROUP BY payment_method) t
ORDER BY payment_method""")

  /** Q6 geographic revenue (analytical_queries.sql:90-99); state→nation.
    *
    * nation/region are functions of customer_key, so the fact collapses
    * to CUSTOMER grain first (exact decimal revenue per customer — one
    * row per customer with at least one sale), the gated dim joins
    * against ~|customers| rows instead of the full fact, and
    * total_customers is a plain count — no distinct-aggregate Expand
    * doubling the shuffled fact. The decimal sum is associative and
    * rounds once at (region, nation) grain, exactly where the direct
    * form (and the oracle) rounds — bit-equal. */
  def q06(spark: SparkSession, dir: String): DataFrame = {
    val f = Warehouse.fact(spark, dir)
    val c = Warehouse.dimCustomer(spark, dir).select("customer_key", "nation", "region")
    val perCust = f.groupBy("customer_key")
      .agg(sum(Det.dec6(col("line_total"))).as("cust_rev"))
    perCust.join(graft.Joins.broadcastIfSmall(c), "customer_key") // scaling dim: measured-size gate
      .groupBy("region", "nation")
      .agg(
        round(sum(col("cust_rev")), 2).cast(DecimalType(18, 2))
          .cast(DoubleType).as("total_revenue"),
        count(lit(1)).as("total_customers"))
      .select(
        col("region"), col("nation"), col("total_revenue"), col("total_customers"),
        (col("total_revenue") / col("total_customers")).as("avg_revenue_per_customer"))
      .orderBy(desc("total_revenue"), asc("nation"))
  }

  val q06Sql: String = OracleSql.q(s"""
SELECT region, nation, total_revenue, total_customers,
       total_revenue / total_customers AS avg_revenue_per_customer
FROM (
  SELECT c.region, c.nation,
         ${Sql.msum("f.line_total")} AS total_revenue,
         COUNT(DISTINCT f.customer_key) AS total_customers
  FROM fact f JOIN dim_customer c ON f.customer_key = c.customer_key
  GROUP BY c.region, c.nation) t
ORDER BY total_revenue DESC, nation""")

  /** Q7 customer lifetime value (analytical_queries.sql:104-115); fixed
    * as-of date replaces CURRENT_DATE (SURVEY §7.4); full_name ← c_name
    * (the reference's Q7 references a column its DDL lost — SURVEY §6).
    *
    * Same Expand-elimination rewrite as [[q02]]: `COUNT(DISTINCT
    * l_orderkey)` per customer plans an Expand that doubles the shuffled
    * fact (measured 47.5 s at the dim-scaled 300× rung). Orders are the
    * collapse grain — every line of an order shares its customer and
    * order_date — so after a per-order pre-aggregation (keyed on the
    * fact's own order partitioning) transaction_count is a plain count,
    * first/last order dates are min/max of a constant, and the customer
    * dim joins against ORDER-grain rows (~4× fewer probes). Decimal
    * sums are associative and the round happens once at customer grain,
    * exactly where the direct form (and the oracle) rounds — bit-equal.
    */
  def q07(spark: SparkSession, dir: String): DataFrame = {
    val f = Warehouse.fact(spark, dir)
    val c = Warehouse.dimCustomer(spark, dir).select("customer_key", "c_custkey", "c_name")
    val perOrder = f.groupBy("l_orderkey")
      .agg(
        min("customer_key").as("customer_key"),  // constant within an order
        min("order_date").as("order_date"),      // constant within an order
        sum(Det.dec6(col("line_total"))).as("order_rev"),
        count(lit(1)).as("n_lines"))
    val spent = round(sum(col("order_rev")), 2).cast(DecimalType(18, 2))
    perOrder.join(graft.Joins.broadcastIfSmall(c), "customer_key") // scaling dim: measured-size gate
      .groupBy(col("c_custkey").as("customer_id"), col("c_name").as("full_name"))
      .agg(
        spent.cast(DoubleType).as("total_spent"),
        count(lit(1)).as("transaction_count"),
        min(col("order_date")).as("first_order_date"),
        max(col("order_date")).as("last_order_date"),
        (spent.cast(DoubleType) / sum(col("n_lines"))).as("avg_order_value"))
      .select(
        col("customer_id"), col("full_name"), col("total_spent"),
        col("transaction_count"),
        datediff(asOf, col("first_order_date")).cast(LongType).as("days_since_first_order"),
        datediff(asOf, col("last_order_date")).cast(LongType).as("days_since_last_order"),
        col("avg_order_value"))
      .orderBy(desc("total_spent"), asc("customer_id"))
  }

  val q07Sql: String = OracleSql.q(s"""
SELECT customer_id, full_name, total_spent, transaction_count,
       date_diff('day', first_order_date, DATE '${Det.AsOfDate}') AS days_since_first_order,
       date_diff('day', last_order_date, DATE '${Det.AsOfDate}') AS days_since_last_order,
       avg_order_value
FROM (
  SELECT c.c_custkey AS customer_id, c.c_name AS full_name,
         ${Sql.msum("f.line_total")} AS total_spent,
         COUNT(DISTINCT f.l_orderkey) AS transaction_count,
         MIN(f.order_date) AS first_order_date,
         MAX(f.order_date) AS last_order_date,
         ${Sql.mavg("f.line_total")} AS avg_order_value
  FROM fact f JOIN dim_customer c ON f.customer_key = c.customer_key
  GROUP BY c.c_custkey, c.c_name) t
ORDER BY total_spent DESC, customer_id""")

  /** Q8 product profitability (analytical_queries.sql:120-131). */
  def q08(spark: SparkSession, dir: String): DataFrame = {
    val f = Warehouse.fact(spark, dir)
    val p = Warehouse.dimPart(spark, dir).select("product_key", "p_name", "p_brand")
    f.join(graft.Joins.broadcastIfSmall(p), "product_key") // scaling dim: measured-size gate
      .groupBy("product_key", "p_name", "p_brand")
      .agg(
        Det.msum(col("profit")).as("total_profit"),
        Det.msum(col("line_total")).as("revenue"),
        sum("quantity").as("units_sold"))
      .select(
        col("product_key"), col("p_name"), col("p_brand"), col("total_profit"),
        when(col("revenue") === 0, lit(null).cast(DoubleType))
          .otherwise(col("total_profit") / col("revenue") * lit(100.0))
          .as("profit_margin"),
        col("revenue"), col("units_sold"))
      .orderBy(desc("total_profit"), asc("product_key"))
  }

  val q08Sql: String = OracleSql.q(s"""
SELECT product_key, p_name, p_brand, total_profit,
       CASE WHEN revenue = 0 THEN NULL
            ELSE total_profit / revenue * 100.0 END AS profit_margin,
       revenue, units_sold
FROM (
  SELECT p.product_key, p.p_name, p.p_brand,
         ${Sql.msum("f.profit")} AS total_profit,
         ${Sql.msum("f.line_total")} AS revenue,
         CAST(SUM(f.quantity) AS BIGINT) AS units_sold
  FROM fact f JOIN dim_part p ON f.product_key = p.product_key
  GROUP BY p.product_key, p.p_name, p.p_brand) t
ORDER BY total_profit DESC, product_key""")

  /** Q9 day-of-week pattern — aggregate of aggregate
    * (analytical_queries.sql:136-153). Daily revenues stay DECIMAL through
    * the outer mean so the result is partition-order independent.
    *
    * Same Expand-elimination rewrite as [[q02]]/[[q07]]: the fact
    * collapses to (date_key, l_orderkey) grain first — one row per
    * order per date unconditionally (even if an order spanned dates) —
    * so daily_transactions is a plain count per (day_name, date_key)
    * and no distinct-aggregate Expand doubles the shuffled fact. The
    * decimal sum is associative and rounds once at daily grain, exactly
    * where the direct form (and the oracle) rounds — bit-equal. */
  def q09(spark: SparkSession, dir: String): DataFrame = {
    val f = Warehouse.fact(spark, dir)
    val d = Warehouse.dimDate(spark, dir).select("date_key", "day_name")
    val perOrder = f.groupBy("date_key", "l_orderkey")
      .agg(sum(Det.dec6(col("line_total"))).as("order_rev"))
    perOrder.join(broadcast(d), "date_key")
      .groupBy("day_name", "date_key")
      .agg(
        round(sum(col("order_rev")), 2).cast(DecimalType(18, 2)).as("daily_revenue"),
        count(lit(1)).as("daily_transactions"))
      .groupBy("day_name")
      .agg(
        (sum(col("daily_revenue")).cast(DoubleType) / count(lit(1))).as("avg_daily_revenue"),
        (sum(col("daily_transactions")).cast(DoubleType) / count(lit(1))).as("avg_daily_transactions"),
        sum(col("daily_revenue")).cast(DoubleType).as("total_revenue"))
      .orderBy(desc("total_revenue"), asc("day_name"))
  }

  val q09Sql: String = OracleSql.q(s"""
SELECT day_name,
       CAST(SUM(daily_revenue) AS DOUBLE) / COUNT(*) AS avg_daily_revenue,
       CAST(SUM(daily_transactions) AS DOUBLE) / COUNT(*) AS avg_daily_transactions,
       CAST(SUM(daily_revenue) AS DOUBLE) AS total_revenue
FROM (
  SELECT d.day_name, f.date_key,
         ${Sql.msumDec("f.line_total")} AS daily_revenue,
         COUNT(DISTINCT f.l_orderkey) AS daily_transactions
  FROM fact f JOIN dim_date d ON f.date_key = d.date_key
  GROUP BY d.day_name, f.date_key) t
GROUP BY day_name
ORDER BY total_revenue DESC, day_name""")

  /** Q10 discount impact (analytical_queries.sql:159-183); buckets over the
    * test data's 0–10% discount range. Double comparisons against the same
    * literals are engine-identical because the stored doubles are. */
  def q10(spark: SparkSession, dir: String): DataFrame = {
    Warehouse.fact(spark, dir)
      .withColumn("discount_range",
        when(col("discount_rate") === 0, "0%")
          .when(col("discount_rate") <= 0.05, "1-5%")
          .when(col("discount_rate") <= 0.10, "6-10%")
          .otherwise("10%+"))
      .groupBy("discount_range")
      .agg(
        Det.mavg(col("discount_rate") * lit(100.0)).as("avg_discount_pct"),
        sum("quantity").as("total_quantity_sold"),
        Det.msum(col("line_total")).as("total_revenue"),
        Det.mavg(col("line_total")).as("avg_line_total"))
      .orderBy(desc("total_revenue"), asc("discount_range"))
  }

  val q10Sql: String = OracleSql.q(s"""
SELECT CASE WHEN discount_rate = 0 THEN '0%'
            WHEN discount_rate <= 0.05 THEN '1-5%'
            WHEN discount_rate <= 0.10 THEN '6-10%'
            ELSE '10%+' END AS discount_range,
       ${Sql.mavg("discount_rate * 100.0")} AS avg_discount_pct,
       CAST(SUM(quantity) AS BIGINT) AS total_quantity_sold,
       ${Sql.msum("line_total")} AS total_revenue,
       ${Sql.mavg("line_total")} AS avg_line_total
FROM fact
GROUP BY discount_range
ORDER BY total_revenue DESC, discount_range""")

  val ops: Seq[Op] = Seq(
    Op("q01_top_products", q01, q01Sql, Headline),
    Op("q02_monthly_trend", q02, q02Sql, Headline),
    Op("q03_customer_segments", q03, q03Sql, Headline),
    Op("q04_category_performance", q04, q04Sql, Headline),
    Op("q05_payment_distribution", q05, q05Sql, Headline),
    Op("q06_geo_revenue", q06, q06Sql, Headline),
    Op("q07_customer_ltv", q07, q07Sql, Headline),
    Op("q08_product_profitability", q08, q08Sql, Headline),
    Op("q09_dow_pattern", q09, q09Sql, Headline),
    Op("q10_discount_impact", q10, q10Sql, Headline))
}
