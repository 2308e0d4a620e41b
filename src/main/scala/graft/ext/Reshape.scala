package graft.ext

import graft.{Det, Op, Sql, Tables}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Reshaping aggregations the reporting layer of a warehouse needs
  * beyond plain GROUP BY: PIVOT (long→wide) and CUBE (all-subtotal
  * grids). ROLLUP lives in [[Extensions.rollupRevenue]]; together the
  * three cover Spark's multi-grouping family.
  *
  * Scale posture: pivot with an explicit value list is a single hash
  * aggregation (one shuffle — Spark never scans twice when the values
  * are given); CUBE expands each row into the 2^k grouping combinations
  * before the shuffle, so keep k small and the pre-aggregation partial.
  */
object Reshape {
  private val priorities = Seq(
    "1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW")
  private val prioAlias = Map(
    "1-URGENT" -> "urgent", "2-HIGH" -> "high", "3-MEDIUM" -> "medium",
    "4-NOT SPECIFIED" -> "not_specified", "5-LOW" -> "low")

  /** PIVOT: order revenue by nation (rows) × order priority (columns).
    * The explicit value list keeps it one aggregation pass and makes the
    * output schema static. */
  def pivotNationPriority(spark: SparkSession, dir: String): DataFrame = {
    val o = Tables.orders(spark, dir)
    val c = Tables.customer(spark, dir).select("c_custkey", "c_nationkey")
    val n = Tables.nation(spark, dir).select("n_nationkey", "n_name")
    val wide = o
      .join(graft.Joins.broadcastIfSmall(c), col("o_custkey") === col("c_custkey")) // measured-size gate
      .join(broadcast(n), col("c_nationkey") === col("n_nationkey"))
      .groupBy(col("n_name").as("nation"))
      .pivot("o_orderpriority", priorities)
      .agg(Det.msum(col("o_totalprice")))
    priorities.foldLeft(wide) { (df, p) =>
      df.withColumnRenamed(p, prioAlias(p))
    }.orderBy("nation")
  }

  val pivotNationPrioritySql: String = {
    val cells = priorities.map { p =>
      s"${Sql.msum(s"CASE WHEN o_orderpriority = '$p' THEN o_totalprice END")} AS ${prioAlias(p)}"
    }.mkString(",\n       ")
    s"""
SELECT n_name AS nation,
       $cells
FROM orders
JOIN customer ON o_custkey = c_custkey
JOIN nation ON c_nationkey = n_nationkey
GROUP BY n_name
ORDER BY nation"""
  }

  /** CUBE: order counts and revenue over every subset of
    * (region, market segment) — the full subtotal grid. Grouping-null
    * keys are stringified to 'ALL' so the level is explicit and the
    * output stays string/long/double. */
  def cubeRegionSegment(spark: SparkSession, dir: String): DataFrame = {
    val o = Tables.orders(spark, dir).select("o_custkey", "o_totalprice")
    val c = Tables.customer(spark, dir).select("c_custkey", "c_nationkey", "c_mktsegment")
    val n = Tables.nation(spark, dir).select("n_nationkey", "n_regionkey")
    val r = Tables.region(spark, dir).select("r_regionkey", "r_name")
    o.join(graft.Joins.broadcastIfSmall(c), col("o_custkey") === col("c_custkey")) // measured-size gate
      .join(broadcast(n), col("c_nationkey") === col("n_nationkey"))
      .join(broadcast(r), col("n_regionkey") === col("r_regionkey"))
      .cube(col("r_name").as("region"), col("c_mktsegment").as("segment"))
      .agg(
        count(lit(1)).as("n_orders"),
        Det.msum(col("o_totalprice")).as("total_revenue"))
      .select(
        coalesce(col("region"), lit("ALL")).as("region"),
        coalesce(col("segment"), lit("ALL")).as("segment"),
        col("n_orders"), col("total_revenue"))
      .orderBy("region", "segment")
  }

  val cubeRegionSegmentSql: String = s"""
SELECT coalesce(region, 'ALL') AS region,
       coalesce(segment, 'ALL') AS segment,
       COUNT(*) AS n_orders,
       ${Sql.msum("o_totalprice")} AS total_revenue
FROM (SELECT r_name AS region, c_mktsegment AS segment, o_totalprice
      FROM orders
      JOIN customer ON o_custkey = c_custkey
      JOIN nation ON c_nationkey = n_nationkey
      JOIN region ON n_regionkey = r_regionkey)
GROUP BY CUBE(region, segment)
ORDER BY coalesce(region, 'ALL'), coalesce(segment, 'ALL')"""

  /** GROUPING SETS: two independent single-dimension rollups (by year,
    * by priority) in ONE aggregation pass — the third member of the
    * multi-grouping family next to ROLLUP and CUBE. The aggregate SQL
    * fragment is shared verbatim with the DuckDB oracle (both engines
    * give CAST/ROUND/SUM-on-DECIMAL the same HALF_UP semantics). */
  def groupingSetsRevenue(spark: SparkSession, dir: String): DataFrame = {
    Tables.orders(spark, dir)
      .select(year(col("o_orderdate").cast(DateType)).as("yr"),
        col("o_orderpriority").as("priority"), col("o_totalprice"))
      .createOrReplaceTempView("graft_gs_orders")
    spark.sql(s"""
SELECT coalesce(CAST(yr AS STRING), 'ALL') AS yr,
       coalesce(priority, 'ALL') AS priority,
       COUNT(*) AS n_orders,
       ${graft.Sql.msum("o_totalprice")} AS total_amount
FROM graft_gs_orders
GROUP BY GROUPING SETS ((yr), (priority))
ORDER BY yr, priority""")
  }

  val groupingSetsRevenueSql: String = s"""
SELECT coalesce(CAST(yr AS VARCHAR), 'ALL') AS yr,
       coalesce(priority, 'ALL') AS priority,
       COUNT(*) AS n_orders,
       ${graft.Sql.msum("o_totalprice")} AS total_amount
FROM (SELECT year(CAST(o_orderdate AS DATE)) AS yr,
             o_orderpriority AS priority, o_totalprice
      FROM orders)
GROUP BY GROUPING SETS ((yr), (priority))
ORDER BY yr, priority"""

  /** UNPIVOT (wide → long) — the inverse reshape completing the family
    * (pivot, rollup, cube, grouping sets): the five measure columns of
    * the daily-sales aggregate melt into (date_key, measure, value)
    * rows, the shape metric stores and chart layers ingest. Spark's
    * native `unpivot` plans an Expand (one pass, no join); measures are
    * cast to a common DOUBLE first — longs here are exact day-level
    * counts, far inside the 2^53 integer-exact range. The oracle melts
    * via UNION ALL, which is the same relational statement. */
  def unpivotDailyMeasures(spark: SparkSession, dir: String): DataFrame = {
    val measures = Seq("total_transactions", "total_revenue", "total_profit",
      "unique_customers", "units_sold")
    graft.warehouse.Warehouse.aggDailySales(spark, dir)
      .select(col("date_key") +: measures.map(m => col(m).cast(DoubleType).as(m)): _*)
      .unpivot(Array(col("date_key")), measures.map(col).toArray,
        "measure", "value")
      .orderBy("date_key", "measure")
  }

  val unpivotDailyMeasuresSql: String = {
    val agg = s"""
SELECT date_key,
       COUNT(DISTINCT l_orderkey) AS total_transactions,
       ${graft.Sql.msum("line_total")} AS total_revenue,
       ${graft.Sql.msum("profit")} AS total_profit,
       COUNT(DISTINCT customer_key) AS unique_customers,
       CAST(SUM(quantity) AS BIGINT) AS units_sold
FROM fact GROUP BY date_key"""
    val measures = Seq("total_transactions", "total_revenue", "total_profit",
      "unique_customers", "units_sold")
    val melts = measures.map(m =>
      s"SELECT date_key, '$m' AS measure, CAST($m AS DOUBLE) AS value FROM agg_ds")
    graft.warehouse.OracleSql.q(
      s""", agg_ds AS ($agg)
${melts.mkString("", "\nUNION ALL\n", "\nORDER BY date_key, measure")}""")
  }

  val ops: Seq[Op] = Seq(
    Op("pivot_nation_priority", pivotNationPriority, pivotNationPrioritySql),
    Op("cube_region_segment", cubeRegionSegment, cubeRegionSegmentSql, hazards = Map(
      Op.Expand -> ("CUBE(region, segment) expands each order ×4 before the partial " +
        "aggregate; the shuffle carries only the grouped partials"))),
    Op("grouping_sets_revenue", groupingSetsRevenue, groupingSetsRevenueSql, hazards = Map(
      Op.Expand -> ("GROUPING SETS ((yr), (priority)) expands each order ×2 before the " +
        "partial aggregate; the shuffle carries only the grouped partials"))),
    Op("unpivot_daily_measures", unpivotDailyMeasures, unpivotDailyMeasuresSql, hazards = Map(
      Op.Expand -> "the unpivot of five measures expands agg_daily_sales' rows, one per date, ×5")))
}
