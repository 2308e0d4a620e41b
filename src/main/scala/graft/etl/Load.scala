package graft.etl

import graft.{Det, Op, Tables}
import graft.warehouse.{OracleSql, Warehouse}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Load-strategy operators — the reference's incremental append
  * (anti-join on PK, staging_to_production.py:160-181), post-load
  * row-count reconciliation (ingest_to_staging.py:93-119), and the
  * three-tier freshness probe union (monitoring_queries.sql:4-21).
  *
  * Scale posture: the incremental load is a `left_anti` join (shuffles on
  * the key, partial-agg friendly) — NEVER the reference's
  * collect-keys-then-isin, which puts every existing key on the driver
  * (SURVEY §7.4). Reconciliation is four independent scans reduced to
  * scalar counts.
  */
object Load {
  /** Incremental append: orders not yet present in the "already loaded"
    * set (simulated deterministically as keys with o_orderkey % 3 != 0).
    * Reference: staging_to_production.py:160-181; SURVEY §2.1 S6, §2.2 P5.
    */
  def incrementalNewOrders(spark: SparkSession, dir: String): DataFrame = {
    val staged = Tables.orders(spark, dir)
    val existing = Tables.orders(spark, dir)
      .filter(col("o_orderkey") % 3 =!= 0).select("o_orderkey")
    staged.join(existing, Seq("o_orderkey"), "left_anti")
      .select(
        col("o_orderkey").as("order_id"),
        col("o_custkey").as("customer_id"),
        date_format(col("o_orderdate").cast(DateType), "yyyy-MM-dd").as("order_date"),
        round(col("o_totalprice").cast(DecimalType(18, 6)), 2)
          .cast(DoubleType).as("total_amount"))
  }

  val incrementalNewOrdersSql: String = """
SELECT o_orderkey AS order_id,
       o_custkey AS customer_id,
       strftime(CAST(o_orderdate AS DATE), '%Y-%m-%d') AS order_date,
       CAST(ROUND(CAST(o_totalprice AS DECIMAL(18,6)), 2) AS DOUBLE) AS total_amount
FROM orders o
WHERE NOT EXISTS (SELECT 1 FROM orders e
                  WHERE e.o_orderkey % 3 <> 0 AND e.o_orderkey = o.o_orderkey)"""

  /** Row-count reconciliation: source rows vs rows surviving the cleanse
    * filters, per entity, with a matched flag (ingest_to_staging.py:93-119
    * compares CSV count to DB count per table; SURVEY §2.1 S7).
    */
  def reconcileCounts(spark: SparkSession, dir: String): DataFrame = {
    def row(name: String, src: DataFrame, loaded: DataFrame): DataFrame = {
      val s = src.agg(count(lit(1)).as("source_rows"))
      val l = loaded.agg(count(lit(1)).as("loaded_rows"))
      s.crossJoin(l).select(
        lit(name).as("table_name"), col("source_rows"), col("loaded_rows"),
        (col("source_rows") === col("loaded_rows")).as("matched"))
    }
    row("customer", Tables.customer(spark, dir), Tables.customer(spark, dir))
      .unionByName(row("part", Tables.part(spark, dir),
        Tables.part(spark, dir).filter(col("p_retailprice") > 0)))
      .unionByName(row("orders", Tables.orders(spark, dir),
        Tables.orders(spark, dir).filter(col("o_totalprice") > 0)))
      .unionByName(row("lineitem", Tables.lineitem(spark, dir),
        Tables.lineitem(spark, dir)
          .filter(col("l_quantity") > 0 && col("l_extendedprice") > 0)))
  }

  val reconcileCountsSql: String = """
SELECT 'customer' AS table_name,
       (SELECT COUNT(*) FROM customer) AS source_rows,
       (SELECT COUNT(*) FROM customer) AS loaded_rows,
       (SELECT COUNT(*) FROM customer) = (SELECT COUNT(*) FROM customer) AS matched
UNION ALL
SELECT 'part',
       (SELECT COUNT(*) FROM part),
       (SELECT COUNT(*) FROM part WHERE p_retailprice > 0),
       (SELECT COUNT(*) FROM part) = (SELECT COUNT(*) FROM part WHERE p_retailprice > 0)
UNION ALL
SELECT 'orders',
       (SELECT COUNT(*) FROM orders),
       (SELECT COUNT(*) FROM orders WHERE o_totalprice > 0),
       (SELECT COUNT(*) FROM orders) = (SELECT COUNT(*) FROM orders WHERE o_totalprice > 0)
UNION ALL
SELECT 'lineitem',
       (SELECT COUNT(*) FROM lineitem),
       (SELECT COUNT(*) FROM lineitem WHERE l_quantity > 0 AND l_extendedprice > 0),
       (SELECT COUNT(*) FROM lineitem) = (SELECT COUNT(*) FROM lineitem WHERE l_quantity > 0 AND l_extendedprice > 0)"""

  /** Three-tier freshness probe: MAX(date) per layer unioned into one
    * relation, with lag vs the fixed as-of date
    * (monitoring_queries.sql:4-21; SURVEY §2.7 U1, §2.4 A7).
    */
  def freshnessUnion(spark: SparkSession, dir: String): DataFrame = {
    val asOf = to_date(lit(Det.AsOfDate))
    def probe(layer: String, df: DataFrame, dateCol: String): DataFrame =
      df.agg(max(col(dateCol).cast(DateType)).as("d")).select(
        lit(layer).as("layer"),
        date_format(col("d"), "yyyy-MM-dd").as("latest_date"),
        datediff(asOf, col("d")).cast(LongType).as("lag_days"))
    probe("staging", Tables.orders(spark, dir), "o_orderdate")
      .unionByName(probe("production",
        Tables.orders(spark, dir).filter(col("o_totalprice") > 0), "o_orderdate"))
      .unionByName(probe("warehouse", Warehouse.fact(spark, dir), "order_date"))
  }

  val freshnessUnionSql: String = OracleSql.q(s"""
SELECT 'staging' AS layer, strftime(d, '%Y-%m-%d') AS latest_date,
       CAST(date_diff('day', d, DATE '${Det.AsOfDate}') AS BIGINT) AS lag_days
FROM (SELECT MAX(CAST(o_orderdate AS DATE)) AS d FROM orders)
UNION ALL
SELECT 'production', strftime(d, '%Y-%m-%d'),
       CAST(date_diff('day', d, DATE '${Det.AsOfDate}') AS BIGINT)
FROM (SELECT MAX(CAST(o_orderdate AS DATE)) AS d FROM orders WHERE o_totalprice > 0)
UNION ALL
SELECT 'warehouse', strftime(d, '%Y-%m-%d'),
       CAST(date_diff('day', d, DATE '${Det.AsOfDate}') AS BIGINT)
FROM (SELECT MAX(order_date) AS d FROM fact)""")

  /** Open-order aging report — unfinished orders ('O' open / 'P'
    * partially shipped) bucketed by age against the fixed as-of date,
    * with order counts and tied-up value per bucket: the
    * working-capital view an operations team reads daily (the
    * reference never ages its backlog). One filtered scan, CASE-bucket
    * aggregation with map-side combine, Det money convention. */
  def backlogAging(spark: SparkSession, dir: String): DataFrame = {
    val asOf = to_date(lit(Det.AsOfDate))
    val age = datediff(asOf, to_date(col("o_orderdate")))
    val bucket = when(age <= 90, "1_under_90d")
      .when(age <= 365, "2_under_1y")
      .when(age <= 730, "3_under_2y")
      .otherwise("4_over_2y")
    Tables.orders(spark, dir)
      .filter(col("o_orderstatus").isin("O", "P"))
      .groupBy(col("o_orderstatus").as("status"), bucket.as("age_bucket"))
      .agg(count(lit(1)).as("n_orders"),
        Det.msum(col("o_totalprice")).as("open_value"))
      .orderBy("status", "age_bucket")
  }

  val backlogAgingSql: String = s"""
WITH aged AS (
  SELECT o_orderstatus AS status, o_totalprice,
         CASE WHEN DATE '${Det.AsOfDate}' - CAST(o_orderdate AS DATE) <= 90 THEN '1_under_90d'
              WHEN DATE '${Det.AsOfDate}' - CAST(o_orderdate AS DATE) <= 365 THEN '2_under_1y'
              WHEN DATE '${Det.AsOfDate}' - CAST(o_orderdate AS DATE) <= 730 THEN '3_under_2y'
              ELSE '4_over_2y' END AS age_bucket
  FROM orders WHERE o_orderstatus IN ('O', 'P'))
SELECT status, age_bucket, COUNT(*) AS n_orders,
       ${graft.Sql.msum("o_totalprice")} AS open_value
FROM aged GROUP BY status, age_bucket
ORDER BY status, age_bucket"""

  val ops: Seq[Op] = Seq(
    Op("incremental_new_orders", incrementalNewOrders, incrementalNewOrdersSql),
    Op("reconcile_counts", reconcileCounts, reconcileCountsSql),
    Op("backlog_aging", backlogAging, backlogAgingSql),
    Op("freshness_union", freshnessUnion, freshnessUnionSql))
}
