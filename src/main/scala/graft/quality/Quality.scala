package graft.quality

import graft.{Op, Tables}
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** The data-quality check engine — the reference's 12-check corpus
  * (reference: sql/queries/data_quality_checks.sql:1-107, mirrored
  * programmatically in scripts/quality_checks/validate_data.py:40-157)
  * re-expressed over the test schema: completeness (null/empty),
  * uniqueness (GROUP BY key HAVING COUNT(*)>1), validity (range
  * predicates), consistency (recomputed totals within ±0.01, transaction
  * total vs SUM of items), referential integrity (orphans via left join +
  * null test — the reference's own join shape, data_quality_checks.sql:88-107).
  *
  * Output: one row per check (check_name, category, violations) plus a
  * separate single-row quality score query
  * (validate_data.py:22-25,162-177). Violations need not be zero — the
  * gate is that Spark and the DuckDB oracle agree exactly.
  *
  * Scale: value checks are conditional aggregates (one scan per table,
  * map-side partial); orphan checks are key-projected joins that shuffle
  * only (key, 1) pairs, and the three orders-to-lineitems checks share
  * one join against a per-order rollup. Nothing collects to the driver.
  */
object Quality {
  /** Checks over one relation as one aggregate: a single pass computes
    * every `(name, category, violations)` aggregate, then the one-row
    * result melts to one row per check, in the given order. */
  private def checksOver(df: DataFrame, checks: (String, String, Column)*): DataFrame = {
    val counts = checks.zipWithIndex.map { case ((_, _, v), i) => v.as(s"v$i") }
    val rows = checks.zipWithIndex.map { case ((name, category, _), i) =>
      struct(lit(name).as("check_name"), lit(category).as("category"),
        col(s"v$i").as("violations"))
    }
    df.agg(counts.head, counts.tail: _*)
      .select(explode(array(rows: _*)).as("r"))
      .select(col("r.check_name"), col("r.category"), col("r.violations"))
  }

  /** All 12 checks as one unioned relation. Checks over the same table
    * or join share one pass: the value checks are one conditional
    * aggregate per table (`count_if` counts a row only where its
    * predicate is true, as `filter` keeps it), and the three
    * orders-to-lineitems checks read one outer join. */
  def qualityChecks(spark: SparkSession, dir: String): DataFrame = {
    val cust = Tables.customer(spark, dir)
    val part = Tables.part(spark, dir)
    val li   = Tables.lineitem(spark, dir)
    val ord  = Tables.orders(spark, dir)

    // completeness (data_quality_checks.sql:5-13)
    val custValues = checksOver(cust,
      ("customers_null_name", "completeness",
        count_if(col("c_name").isNull || col("c_name") === "")))
    // uniqueness (data_quality_checks.sql:27-36: GROUP BY HAVING COUNT>1)
    val dupKey = checksOver(cust.groupBy("c_custkey").agg(count(lit(1)).as("n")),
      ("customers_duplicate_key", "uniqueness", count_if(col("n") > 1)))
    // validity (data_quality_checks.sql:41-63)
    val partValues = {
      val price = graft.Pricing.price(col("p_retailprice"))
      val cost  = graft.Pricing.cost(price)
      checksOver(part,
        ("products_nonpositive_price", "validity", count_if(col("p_retailprice") <= 0)),
        ("products_cost_exceeds_price", "validity", count_if(cost >= price)))
    }
    // validity, then consistency (data_quality_checks.sql:66-76)
    val liValues = {
      val unitPrice = col("l_extendedprice") / col("l_quantity")
      val recomputed = (col("l_quantity") * unitPrice * (lit(1.0) - col("l_discount")))
        .cast(DecimalType(18, 6))
      val stored = (col("l_extendedprice") * (lit(1.0) - col("l_discount")))
        .cast(DecimalType(18, 6))
      checksOver(li,
        ("lineitems_nonpositive_quantity", "validity", count_if(col("l_quantity") <= 0)),
        ("lineitems_discount_out_of_range", "validity",
          count_if(col("l_discount") < 0 || col("l_discount") > 0.5)),
        ("lineitems_total_consistency", "consistency",
          count_if(abs(recomputed - stored) > lit(BigDecimal("0.01")))))
    }
    // consistency and referential integrity between orders and lineitems
    // (data_quality_checks.sql:66-76, 88-107) over ONE full outer join of
    // the orders with their lineitems rolled up per order key: a matched
    // row compares the totals, an unmatched lineitem group counts its rows
    // as orphans, an unmatched order has no items. NULL keys match nothing,
    // as in the reference's left joins.
    val orderChecks = {
      val perOrder = li.groupBy("l_orderkey").agg(
        count(lit(1)).as("n_items"),
        sum(((col("l_extendedprice") * (lit(1.0) + col("l_tax")))
          * (lit(1.0) - col("l_discount"))).cast(DecimalType(18, 6))).as("items_total"),
        lit(true).as("has_items"))
      val joined = ord.select(col("o_orderkey"), col("o_totalprice"), lit(true).as("has_order"))
        .join(perOrder, col("o_orderkey") === col("l_orderkey"), "full_outer")
      checksOver(joined,
        // NULL unless both sides matched
        ("orders_total_mismatch", "consistency",
          count_if(abs(col("o_totalprice").cast(DecimalType(18, 6)) - col("items_total"))
            > lit(BigDecimal("0.01")))),
        ("orphan_lineitems_orders", "referential_integrity",
          coalesce(sum(when(col("has_order").isNull, col("n_items"))), lit(0L))),
        ("orders_without_items", "referential_integrity",
          count_if(col("has_items").isNull)))
    }
    // referential integrity: left join + null test (data_quality_checks.sql:88-107)
    val orphanLiPart = checksOver(li.select("l_partkey")
        .join(part.select("p_partkey"), col("l_partkey") === col("p_partkey"), "left"),
      ("orphan_lineitems_parts", "referential_integrity", count_if(col("p_partkey").isNull)))
    val orphanOrdCust = checksOver(ord.select("o_custkey")
        .join(cust.select("c_custkey"), col("o_custkey") === col("c_custkey"), "left"),
      ("orphan_orders_customers", "referential_integrity", count_if(col("c_custkey").isNull)))

    Seq(custValues, dupKey, partValues, liValues, orderChecks, orphanLiPart,
      orphanOrdCust).reduce(_.unionByName(_))
  }

  val qualityChecksSql: String = """
SELECT 'customers_null_name' AS check_name, 'completeness' AS category,
       (SELECT COUNT(*) FROM customer WHERE c_name IS NULL OR c_name = '') AS violations
UNION ALL SELECT 'customers_duplicate_key', 'uniqueness',
       (SELECT COUNT(*) FROM (SELECT c_custkey FROM customer GROUP BY c_custkey HAVING COUNT(*) > 1))
UNION ALL SELECT 'products_nonpositive_price', 'validity',
       (SELECT COUNT(*) FROM part WHERE p_retailprice <= 0)
UNION ALL SELECT 'products_cost_exceeds_price', 'validity',
       (SELECT COUNT(*) FROM part
        WHERE CAST(ROUND(CAST(p_retailprice AS DECIMAL(18,2)) * 0.60, 2) AS DECIMAL(18,2))
              >= CAST(p_retailprice AS DECIMAL(18,2)))
UNION ALL SELECT 'lineitems_nonpositive_quantity', 'validity',
       (SELECT COUNT(*) FROM lineitem WHERE l_quantity <= 0)
UNION ALL SELECT 'lineitems_discount_out_of_range', 'validity',
       (SELECT COUNT(*) FROM lineitem WHERE l_discount < 0 OR l_discount > 0.5)
UNION ALL SELECT 'lineitems_total_consistency', 'consistency',
       (SELECT COUNT(*) FROM lineitem
        WHERE ABS(CAST(l_quantity * (l_extendedprice / l_quantity) * (1.0 - l_discount) AS DECIMAL(18,6))
                - CAST(l_extendedprice * (1.0 - l_discount) AS DECIMAL(18,6))) > 0.01)
UNION ALL SELECT 'orders_total_mismatch', 'consistency',
       (SELECT COUNT(*) FROM orders o JOIN (
          SELECT l_orderkey,
                 SUM(CAST(l_extendedprice * (1.0 + l_tax) * (1.0 - l_discount) AS DECIMAL(18,6))) AS items_total
          FROM lineitem GROUP BY l_orderkey) t ON o.o_orderkey = t.l_orderkey
        WHERE ABS(CAST(o.o_totalprice AS DECIMAL(18,6)) - t.items_total) > 0.01)
UNION ALL SELECT 'orphan_lineitems_orders', 'referential_integrity',
       (SELECT COUNT(*) FROM lineitem l LEFT JOIN orders o ON l.l_orderkey = o.o_orderkey
        WHERE o.o_orderkey IS NULL)
UNION ALL SELECT 'orphan_lineitems_parts', 'referential_integrity',
       (SELECT COUNT(*) FROM lineitem l LEFT JOIN part p ON l.l_partkey = p.p_partkey
        WHERE p.p_partkey IS NULL)
UNION ALL SELECT 'orphan_orders_customers', 'referential_integrity',
       (SELECT COUNT(*) FROM orders o LEFT JOIN customer c ON o.o_custkey = c.c_custkey
        WHERE c.c_custkey IS NULL)
UNION ALL SELECT 'orders_without_items', 'referential_integrity',
       (SELECT COUNT(*) FROM orders o LEFT JOIN (SELECT DISTINCT l_orderkey FROM lineitem) l
          ON o.o_orderkey = l.l_orderkey
        WHERE l.l_orderkey IS NULL)"""

  /** Quality score reduction (validate_data.py:22-25,162-177): score =
    * max(0, (1 - violations/records) * 100), letter grade A-D. We divide
    * by the actual record count rather than the reference's hard-coded
    * 50000 (validate_data.py:170) — documented deviation, SURVEY §7.4.
    */
  def qualityScore(spark: SparkSession, dir: String): DataFrame =
    qualityScoreOver(spark, dir, qualityChecks(spark, dir))

  /** [[qualityScore]] over an already computed check relation of the
    * tables in `dir` — the pipeline passes the `quality/checks` it just
    * wrote, so the 12 checks run once per DAG. */
  def qualityScoreOver(spark: SparkSession, dir: String, checks: DataFrame): DataFrame = {
    val viol = checks.agg(sum("violations").as("total_violations"))
    // the four tables' rows counted in one pass over their row counts
    val records = Seq(Tables.customer(spark, dir), Tables.part(spark, dir),
        Tables.orders(spark, dir), Tables.lineitem(spark, dir))
      .map(_.select(lit(1).as("row"))).reduce(_.unionAll(_))
      .agg(count(lit(1)).as("total_records"))
    val score = greatest(lit(0.0),
      (lit(1.0) - col("total_violations").cast(DoubleType)
        / col("total_records").cast(DoubleType)) * lit(100.0))
    viol.crossJoin(records).select(
      col("total_records"), col("total_violations"),
      score.as("quality_score"),
      when(score >= 95, "A").when(score >= 85, "B").when(score >= 70, "C")
        .otherwise("D").as("grade"))
  }

  /** The pipeline's `quality_report.json` document for a score relation
    * (validate_data.py:162-177). */
  def reportJson(score: DataFrame): String = {
    val r = score.head()
    s"""{"total_records":${r.getAs[Long]("total_records")},""" +
      s""""total_violations":${r.getAs[Long]("total_violations")},""" +
      s""""quality_score":${r.getAs[Double]("quality_score")},""" +
      s""""grade":"${r.getAs[String]("grade")}"}"""
  }

  val qualityScoreSql: String = {
    val checks = qualityChecksSql
    s"""
WITH checks AS ($checks),
tot AS (SELECT
  (SELECT COUNT(*) FROM customer) + (SELECT COUNT(*) FROM part)
  + (SELECT COUNT(*) FROM orders) + (SELECT COUNT(*) FROM lineitem) AS total_records),
v AS (SELECT CAST(SUM(violations) AS BIGINT) AS total_violations FROM checks)
SELECT t.total_records, v.total_violations,
       GREATEST(0.0, (1.0 - CAST(v.total_violations AS DOUBLE) / CAST(t.total_records AS DOUBLE)) * 100.0) AS quality_score,
       CASE WHEN GREATEST(0.0, (1.0 - CAST(v.total_violations AS DOUBLE) / CAST(t.total_records AS DOUBLE)) * 100.0) >= 95 THEN 'A'
            WHEN GREATEST(0.0, (1.0 - CAST(v.total_violations AS DOUBLE) / CAST(t.total_records AS DOUBLE)) * 100.0) >= 85 THEN 'B'
            WHEN GREATEST(0.0, (1.0 - CAST(v.total_violations AS DOUBLE) / CAST(t.total_records AS DOUBLE)) * 100.0) >= 70 THEN 'C'
            ELSE 'D' END AS grade
FROM tot t CROSS JOIN v"""
  }

  val ops: Seq[Op] = Seq(
    Op("quality_checks", qualityChecks, qualityChecksSql),
    Op("quality_score", qualityScore, qualityScoreSql))
}
