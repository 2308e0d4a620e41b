package graft.etl

import graft.{Op, Tables}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Cleansing layer — pure `Column`-expression re-expressions of the
  * reference's row-at-a-time pandas cleansing pass (reference:
  * scripts/transformation/staging_to_production.py:23-80): trim /
  * lowercase / digit-strip / title-case strings, money rounding, derived
  * profit margin, BOTH price bucketings (the reference has two conflicting
  * rules — staging_to_production.py:51-58 vs load_warehouse.py:113-121,
  * SURVEY §2.8; thresholds rescaled to the test data's price range), and
  * the positive-amount / positive-quantity filters with the line_total
  * recompute (staging_to_production.py:66,72,74-78).
  *
  * Scale: every op is a narrow per-row projection or filter — no shuffle,
  * fully pushed into whole-stage codegen; filters reach the parquet scan.
  */
object Cleanse {
  /** Customer cleansing (staging_to_production.py:26-35): trim all
    * strings, lowercase the segment (email-lowercase analogue), strip
    * non-digits (phone-strip analogue, regexp), title-case the name,
    * round money to 2 decimals.
    */
  def cleanseCustomers(spark: SparkSession, dir: String): DataFrame =
    Tables.customer(spark, dir).select(
      col("c_custkey").as("customer_id"),
      initcap(lower(trim(col("c_name")))).as("name_clean"),
      lower(trim(col("c_mktsegment"))).as("segment"),
      regexp_replace(col("c_name"), "[^0-9]", "").as("id_digits"),
      round(col("c_acctbal").cast(DecimalType(18, 6)), 2)
        .cast(DoubleType).as("acctbal"))

  val cleanseCustomersSql: String = """
SELECT c_custkey AS customer_id,
       array_to_string(list_transform(string_split(trim(lower(c_name)), ' '),
                       w -> upper(w[1:1]) || w[2:]), ' ') AS name_clean,
       lower(trim(c_mktsegment)) AS segment,
       regexp_replace(c_name, '[^0-9]', '', 'g') AS id_digits,
       CAST(ROUND(CAST(c_acctbal AS DECIMAL(18,6)), 2) AS DOUBLE) AS acctbal
FROM customer"""

  /** Product cleansing (staging_to_production.py:43-58): rounding, derived
    * cost (60% of retail — the reference generates cost=price*U(0.5,0.8),
    * generate_data.py:92), profit margin, and BOTH bucketing rules.
    */
  def cleanseProducts(spark: SparkSession, dir: String): DataFrame = {
    val price = graft.Pricing.price(col("p_retailprice"))
    val cost  = graft.Pricing.cost(price)
    Tables.part(spark, dir)
      .filter(col("p_retailprice") > 0)
      .select(
        col("p_partkey").as("product_id"),
        trim(col("p_name")).as("product_name"),
        price.cast(DoubleType).as("price"),
        cost.cast(DoubleType).as("cost"),
        ((price - cost).cast(DoubleType) / price.cast(DoubleType) * lit(100.0))
          .as("profit_margin_pct"),
        graft.Pricing.priceCategory(price).as("price_category"),
        when(price < 500, "Low").when(price < 2000, "Medium")
          .otherwise("High").as("price_range"))
  }

  val cleanseProductsSql: String = """
SELECT p_partkey AS product_id,
       trim(p_name) AS product_name,
       CAST(price AS DOUBLE) AS price,
       CAST(cost AS DOUBLE) AS cost,
       CAST(price - cost AS DOUBLE) / CAST(price AS DOUBLE) * 100.0 AS profit_margin_pct,
       CASE WHEN price < 1200 THEN 'Budget' WHEN price < 1800 THEN 'Mid-range'
            ELSE 'Premium' END AS price_category,
       CASE WHEN price < 500 THEN 'Low' WHEN price < 2000 THEN 'Medium'
            ELSE 'High' END AS price_range
FROM (SELECT p_partkey, p_name,
             CAST(p_retailprice AS DECIMAL(18,2)) AS price,
             CAST(ROUND(CAST(p_retailprice AS DECIMAL(18,2)) * 0.60, 2) AS DECIMAL(18,2)) AS cost
      FROM part WHERE p_retailprice > 0)"""

  /** Line-item cleansing (staging_to_production.py:72-78): positive
    * quantity/amount filters, unit price derivation, line_total recompute
    * rounded to 2 decimals, and the ±0.01 consistency flag
    * (data_quality_checks.sql:66).
    */
  def cleanseLineitems(spark: SparkSession, dir: String): DataFrame = {
    val unitPrice = col("l_extendedprice") / col("l_quantity")
    val recomputed = round(
      (col("l_quantity") * unitPrice * (lit(1.0) - col("l_discount")))
        .cast(DecimalType(18, 6)), 2)
    val stored = round(
      (col("l_extendedprice") * (lit(1.0) - col("l_discount")))
        .cast(DecimalType(18, 6)), 2)
    Tables.lineitem(spark, dir)
      .filter(col("l_quantity") > 0 && col("l_extendedprice") > 0)
      .select(
        col("l_orderkey").as("order_id"),
        col("l_linenumber").as("line_number"),
        col("l_partkey").as("product_id"),
        col("l_suppkey").as("supplier_id"),
        col("l_quantity").cast(LongType).as("quantity"),
        unitPrice.as("unit_price"),
        recomputed.cast(DoubleType).as("line_total"),
        (abs(recomputed - stored) <= lit(BigDecimal("0.01"))).as("is_consistent"))
  }

  val cleanseLineitemsSql: String = """
SELECT l_orderkey AS order_id,
       l_linenumber AS line_number,
       l_partkey AS product_id,
       l_suppkey AS supplier_id,
       CAST(l_quantity AS BIGINT) AS quantity,
       l_extendedprice / l_quantity AS unit_price,
       CAST(ROUND(CAST(l_quantity * (l_extendedprice / l_quantity) * (1.0 - l_discount) AS DECIMAL(18,6)), 2) AS DOUBLE) AS line_total,
       ABS(ROUND(CAST(l_quantity * (l_extendedprice / l_quantity) * (1.0 - l_discount) AS DECIMAL(18,6)), 2)
         - ROUND(CAST(l_extendedprice * (1.0 - l_discount) AS DECIMAL(18,6)), 2)) <= 0.01 AS is_consistent
FROM lineitem
WHERE l_quantity > 0 AND l_extendedprice > 0"""

  val ops: Seq[Op] = Seq(
    Op("cleanse_customers", cleanseCustomers, cleanseCustomersSql),
    Op("cleanse_products", cleanseProducts, cleanseProductsSql),
    Op("cleanse_lineitems", cleanseLineitems, cleanseLineitemsSql))
}
