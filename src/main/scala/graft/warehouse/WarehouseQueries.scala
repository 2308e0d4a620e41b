package graft.warehouse

import graft.{Op, Sql}
import graft.Op.Ext
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions.{col, date_format}
import org.apache.spark.sql.types.{DateType, DecimalType, DoubleType}

/** Registry exposing every warehouse table as a verified query — the
  * dims and fact (reference: sql/ddl/create_warehouse_schema.sql:9-98,
  * loaded by scripts/transformation/load_warehouse.py) and the three
  * aggregate tables the reference declared but never populated
  * (create_warehouse_schema.sql:100-128; we materialize them, SURVEY §2.4).
  * The DuckDB oracle shares [[OracleSql.prelude]], so every derived
  * column is verified end-to-end, not just the queries over them.
  *
  * Verified outputs carry only long/double/string/boolean columns —
  * DECIMAL and DATE render differently across the parquet/pandas/DuckDB
  * hop the driver compares over, so [[publish]] casts them at the edge
  * (internally the warehouse stays exact-decimal).
  */
object WarehouseQueries {
  /** Edge cast: DECIMAL→DOUBLE, DATE→'yyyy-MM-dd' string; everything else
    * unchanged. Scale-2/6 decimals here convert exactly (unscaled < 2^53). */
  def publish(df: DataFrame): DataFrame = {
    val cols: Seq[Column] = df.schema.fields.toSeq.map { f =>
      f.dataType match {
        case _: DecimalType => col(f.name).cast(DoubleType).as(f.name)
        case DateType       => date_format(col(f.name), "yyyy-MM-dd").as(f.name)
        case _              => col(f.name)
      }
    }
    df.select(cols: _*)
  }

  /** The warehouse LOAD as a verified step (reference: scripts/
    * transformation/load_warehouse.py logs per-table row counts into
    * the execution report and validates them against the source) —
    * one row per warehouse table: the SERVED (stored-vintage) row
    * count against the source-derived expectation, with a loaded/
    * mismatch status. The oracle recomputes both sides from the raw
    * parquet, so a stale or truncated stored asset hash-fails here
    * even though every per-table content query would also catch it —
    * this is the loader-as-a-step contract, not a content check.
    * Shape: five one-row aggregates (dim counts answer from the store
    * they materialize anyway; source counts from parquet footers)
    * unioned — nothing corpus-sized moves. */
  def loadReport(spark: SparkSession, dir: String): DataFrame = {
    import graft.Tables
    import org.apache.spark.sql.functions._
    import org.apache.spark.sql.types.LongType
    def row(name: String, served: DataFrame, source: DataFrame, srcCnt: Column): DataFrame =
      served.agg(count(lit(1)).as("row_count"))
        .crossJoin(broadcast(source.agg(srcCnt.cast(LongType).as("source_rows"))))
        .select(
          lit(name).as("table_name"), col("row_count"), col("source_rows"),
          when(col("row_count") === col("source_rows"), "loaded")
            .otherwise("mismatch").as("status"))
    val o = Tables.orders(spark, dir)
    row("dim_customer", Warehouse.dimCustomer(spark, dir),
        Tables.customer(spark, dir), count(lit(1)))
      .unionByName(row("dim_date", Warehouse.dimDate(spark, dir),
        o, countDistinct(col("o_orderdate").cast("date"))))
      .unionByName(row("dim_part", Warehouse.dimPart(spark, dir),
        Tables.part(spark, dir), count(lit(1))))
      .unionByName(row("dim_payment", Warehouse.dimPayment(spark, dir),
        o, countDistinct(col("o_orderpriority"))))
      .unionByName(row("fact_sales", Warehouse.fact(spark, dir),
        Tables.lineitem(spark, dir), count(lit(1))))
      .orderBy("table_name")
  }

  val loadReportSql: String = OracleSql.q("""
SELECT table_name, row_count, source_rows,
       CASE WHEN row_count = source_rows THEN 'loaded' ELSE 'mismatch' END AS status
FROM (
  SELECT 'dim_customer' AS table_name,
         (SELECT COUNT(*) FROM dim_customer) AS row_count,
         (SELECT COUNT(*) FROM customer) AS source_rows
  UNION ALL
  SELECT 'dim_date', (SELECT COUNT(*) FROM dim_date),
         (SELECT COUNT(DISTINCT CAST(o_orderdate AS DATE)) FROM orders)
  UNION ALL
  SELECT 'dim_part', (SELECT COUNT(*) FROM dim_part),
         (SELECT COUNT(*) FROM part)
  UNION ALL
  SELECT 'dim_payment', (SELECT COUNT(*) FROM dim_payment),
         (SELECT COUNT(DISTINCT o_orderpriority) FROM orders)
  UNION ALL
  SELECT 'fact_sales', (SELECT COUNT(*) FROM fact),
         (SELECT COUNT(*) FROM lineitem)) t
ORDER BY table_name""")

  val ops: Seq[Op] = Seq(
    Op("warehouse_load_report", loadReport, loadReportSql),
    Op("dim_part", (s, d) => publish(Warehouse.dimPart(s, d)), OracleSql.q("""
SELECT product_key, p_partkey, p_name, p_brand, p_type, p_size,
       CAST(price AS DOUBLE) AS price, CAST(cost AS DOUBLE) AS cost,
       profit_margin_pct, price_category, is_current
FROM dim_part""")),
    Op("dim_customer", (s, d) => publish(Warehouse.dimCustomer(s, d)), OracleSql.q("""
SELECT customer_key, c_custkey, c_name, c_mktsegment,
       CAST(acctbal AS DOUBLE) AS acctbal, nation, region,
       strftime(effective_date, '%Y-%m-%d') AS effective_date,
       strftime(end_date, '%Y-%m-%d') AS end_date, is_current
FROM dim_customer""")),
    Op("dim_date", (s, d) => publish(Warehouse.dimDate(s, d)), OracleSql.q("""
SELECT date_key, strftime(full_date, '%Y-%m-%d') AS full_date, year, quarter,
       month, month_name, day, day_name, week, is_weekend
FROM dim_date""")),
    Op("dim_payment", (s, d) => publish(Warehouse.dimPayment(s, d)), OracleSql.q("SELECT * FROM dim_payment")),
    Op("fact_sales", (s, d) => publish(Warehouse.fact(s, d)), OracleSql.q("""
SELECT sales_key, l_orderkey, l_linenumber, customer_key, o_custkey,
       product_key, l_partkey, payment_method_key, payment_method, date_key,
       strftime(order_date, '%Y-%m-%d') AS order_date, quantity, unit_price,
       discount_rate,
       CAST(gross_amount AS DOUBLE) AS gross_amount,
       CAST(line_total AS DOUBLE) AS line_total,
       CAST(discount_amount AS DOUBLE) AS discount_amount,
       CAST(profit AS DOUBLE) AS profit
FROM fact""")),
    // the aggregate tables are timed so their collapse grains (no
    // COUNT(DISTINCT) Expand) are measured, not only plan-dumped
    Op("agg_daily_sales", Warehouse.aggDailySales, OracleSql.q(s"""
SELECT date_key,
       COUNT(DISTINCT l_orderkey) AS total_transactions,
       ${Sql.msum("line_total")} AS total_revenue,
       ${Sql.msum("profit")} AS total_profit,
       COUNT(DISTINCT customer_key) AS unique_customers,
       CAST(SUM(quantity) AS BIGINT) AS units_sold
FROM fact GROUP BY date_key"""), Ext),
    Op("agg_product_performance", Warehouse.aggProductPerformance, OracleSql.q(s"""
SELECT product_key, l_partkey,
       CAST(SUM(quantity) AS BIGINT) AS units_sold,
       ${Sql.msum("line_total")} AS total_revenue,
       ${Sql.msum("profit")} AS total_profit,
       COUNT(DISTINCT l_orderkey) AS transaction_count
FROM fact GROUP BY product_key, l_partkey"""), Ext),
    Op("agg_customer_metrics", Warehouse.aggCustomerMetrics, OracleSql.q(s"""
SELECT customer_key, o_custkey,
       COUNT(DISTINCT l_orderkey) AS total_transactions,
       ${Sql.msum("line_total")} AS total_revenue,
       ${Sql.mavg("line_total")} AS avg_order_value,
       strftime(MIN(order_date), '%Y-%m-%d') AS first_purchase_date,
       strftime(MAX(order_date), '%Y-%m-%d') AS last_purchase_date
FROM fact GROUP BY customer_key, o_custkey"""), Ext),
    Op("scd2_pit_orders", Scd2.pitOrders, Scd2.pitOrdersSql, Ext))
}
