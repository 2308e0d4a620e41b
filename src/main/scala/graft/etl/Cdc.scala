package graft.etl

import graft.{Op, Tables}
import graft.Op.Ext
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Change-data-capture snapshot diff — given two snapshots of a keyed
  * table, classify every key as insert / delete / update (or unchanged)
  * by a single co-partitioned full-outer join. This is the primitive
  * behind incremental replication, audit diffs, and "what changed since
  * yesterday's drop" debugging; the reference's pipeline only ever
  * APPENDS (its incremental load is an anti-join on new keys —
  * staging_to_production.py:160-181), so updates and deletes in a
  * re-delivered snapshot would silently corrupt its warehouse.
  *
  * Scale posture: ONE full-outer sort-merge join on the key — both
  * sides shuffle-partition by the same key, so the compare is
  * co-located; with both snapshots bucketed by key on disk the shuffle
  * disappears entirely. Column comparison is null-safe equality
  * (`<=>` / IS NOT DISTINCT FROM) evaluated per joined row inside
  * codegen — no row-hash materialization, no driver collection, output
  * proportional to the CHANGED set.
  */
object Cdc {
  /** Generic core: rows of `newDf` minus/changed-from `oldDf` by `key`.
    * Emits (key, change_type) for every differing key; unchanged rows
    * produce nothing. Both frames must share a schema. */
  private[graft] def snapshotDiff(oldDf: DataFrame, newDf: DataFrame,
                                  key: String): DataFrame = {
    val nonKeys = oldDf.columns.filterNot(_ == key)
    val o = oldDf.as("o")
    val n = newDf.as("n")
    val joined = o.join(n, col(s"o.$key") === col(s"n.$key"), "full_outer")
    val same: Column = nonKeys.map(c => col(s"o.$c") <=> col(s"n.$c"))
      .reduce(_ && _)
    joined.select(
        coalesce(col(s"o.$key"), col(s"n.$key")).as("key"),
        when(col(s"o.$key").isNull, "insert")
          .when(col(s"n.$key").isNull, "delete")
          .when(!same, "update").as("change_type"))
      .filter(col("change_type").isNotNull)
  }

  /** The registered query: diff `orders` against a deterministically
    * perturbed twin built from the same scan (the redelivered-snapshot
    * simulation, in the spirit of [[Load.incrementalNewOrders]]'s
    * modulo-keyed "already loaded" set):
    *   - keys ≡ 0 (mod 97) are DELETED from the new snapshot;
    *   - surviving keys ≡ 0 (mod 100) get o_totalprice bumped by 1.00
    *     (an UPDATE);
    *   - keys ≡ 0 (mod 101) are re-INSERTED under key + 10¹⁰.
    * Output is the per-change-type rollup with min/max affected key, so
    * the oracle pins cardinality AND key range of each class. */
  /** The deterministically perturbed "redelivered snapshot" twin of
    * `orders` shared by [[cdcOrdersDiff]] and [[ivmDailySales]]. */
  private[graft] def perturbedOrders(orders: DataFrame): DataFrame = {
    val k = col("o_orderkey")
    val survivors = orders.filter(k % 97 =!= 0)
      .withColumn("o_totalprice",
        when(k % 100 === 0, col("o_totalprice") + lit(1.0))
          .otherwise(col("o_totalprice")))
    val inserted = orders.filter(k % 101 === 0)
      .withColumn("o_orderkey", k + lit(10000000000L))
    survivors.unionByName(inserted)
  }

  def cdcOrdersDiff(spark: SparkSession, dir: String): DataFrame = {
    val orders = Tables.orders(spark, dir)
    val next = perturbedOrders(orders)
    snapshotDiff(orders, next, "o_orderkey")
      .groupBy("change_type")
      .agg(count(lit(1)).as("n_rows"),
        min("key").as("min_key"), max("key").as("max_key"))
      .orderBy("change_type")
  }

  val cdcOrdersDiffSql: String = {
    val nonKeys = Seq("o_custkey", "o_orderstatus", "o_totalprice",
      "o_orderdate", "o_orderpriority")
    val same = nonKeys.map(c => s"o.$c IS NOT DISTINCT FROM m.$c")
      .mkString("(", " AND ", ")")
    s"""
WITH modified AS (
  SELECT o_orderkey, o_custkey, o_orderstatus,
         CASE WHEN o_orderkey % 100 = 0 THEN o_totalprice + 1.0
              ELSE o_totalprice END AS o_totalprice,
         o_orderdate, o_orderpriority
  FROM orders WHERE o_orderkey % 97 <> 0
  UNION ALL
  SELECT o_orderkey + 10000000000, o_custkey, o_orderstatus, o_totalprice,
         o_orderdate, o_orderpriority
  FROM orders WHERE o_orderkey % 101 = 0),
d AS (
  SELECT COALESCE(o.o_orderkey, m.o_orderkey) AS key,
         CASE WHEN o.o_orderkey IS NULL THEN 'insert'
              WHEN m.o_orderkey IS NULL THEN 'delete'
              WHEN NOT $same THEN 'update' END AS change_type
  FROM orders o FULL OUTER JOIN modified m ON o.o_orderkey = m.o_orderkey)
SELECT change_type, COUNT(*) AS n_rows, MIN(key) AS min_key, MAX(key) AS max_key
FROM d WHERE change_type IS NOT NULL
GROUP BY change_type ORDER BY change_type"""
  }

  /** Incremental view maintenance: apply the CDC delta to a daily-sales
    * rollup WITHOUT recomputing it — each changed key contributes
    * (−old row) and (+new row) to its day's (count, revenue), the
    * deltas aggregate per day, and ONE outer merge patches the base
    * mart. At 100 TB this is the difference between touching the
    * handful of changed groups and re-scanning the fact table; the
    * oracle proves the algebra by computing the FULL RECOMPUTE over the
    * perturbed snapshot in DuckDB — the two paths must agree
    * hash-exactly, which only happens if the retraction arithmetic is
    * right.
    *
    * Determinism: revenue stays in exact DECIMAL(18,6) through base,
    * delta and merge (retractions are exact negation there), rounding
    * to the Det output convention only at the final projection. */
  def ivmDailySales(spark: SparkSession, dir: String): DataFrame =
    ivmDailySalesOver(Tables.orders(spark, dir))

  private[graft] def ivmDailySalesOver(orders: DataFrame): DataFrame = {
    import graft.Det
    val day = to_date(col("o_orderdate")).as("day")
    val pick = Seq(col("o_orderkey"), day, col("o_totalprice").as("price"))
    val before = orders.select(pick: _*)
    val after = perturbedOrders(orders).select(pick: _*)
    // base mart: the rollup being maintained (decimal revenue, unrounded)
    val base = before.groupBy("day").agg(
      count(lit(1)).as("n"), sum(Det.dec6(col("price"))).as("rev"))
    // per-key change rows → ±delta contributions per day
    val o = before.as("o")
    val n = after.as("n")
    val j = o.join(n, col("o.o_orderkey") === col("n.o_orderkey"), "full_outer")
      // unchanged rows contribute nothing — drop before any shuffle
      .filter(!(col("o.day") <=> col("n.day")) || !(col("o.price") <=> col("n.price")))
    val retract = j.filter(col("o.o_orderkey").isNotNull)
      .select(col("o.day").as("day"), lit(-1L).as("dn"),
        (-Det.dec6(col("o.price"))).as("drev"))
    val add = j.filter(col("n.o_orderkey").isNotNull)
      .select(col("n.day").as("day"), lit(1L).as("dn"),
        Det.dec6(col("n.price")).as("drev"))
    val delta = retract.unionAll(add)
      .groupBy("day").agg(sum("dn").as("dn"), sum("drev").as("drev"))
    base.join(delta, Seq("day"), "full_outer")
      .select(col("day"),
        (coalesce(col("n"), lit(0L)) + coalesce(col("dn"), lit(0L))).as("n_orders"),
        (coalesce(col("rev"), lit(0).cast(DecimalType(18, 6)))
          + coalesce(col("drev"), lit(0).cast(DecimalType(18, 6)))).as("rev"))
      .filter(col("n_orders") > 0)
      .select(date_format(col("day"), "yyyy-MM-dd").as("day"), col("n_orders"),
        round(col("rev"), 2).cast(DecimalType(18, 2)).cast(DoubleType).as("revenue"))
      .orderBy("day")
  }

  /** The oracle is the INDEPENDENT path: full recompute over the same
    * perturbed snapshot. Equality proves the delta algebra. */
  val ivmDailySalesSql: String = """
WITH modified AS (
  SELECT o_orderkey, CAST(o_orderdate AS DATE) AS day,
         CASE WHEN o_orderkey % 100 = 0 THEN o_totalprice + 1.0
              ELSE o_totalprice END AS price
  FROM orders WHERE o_orderkey % 97 <> 0
  UNION ALL
  SELECT o_orderkey + 10000000000, CAST(o_orderdate AS DATE), o_totalprice
  FROM orders WHERE o_orderkey % 101 = 0)
SELECT strftime(day, '%Y-%m-%d') AS day,
       COUNT(*) AS n_orders,
       CAST(CAST(ROUND(SUM(CAST(price AS DECIMAL(18,6))), 2) AS DECIMAL(18,2)) AS DOUBLE) AS revenue
FROM modified
GROUP BY day
ORDER BY day"""

  val ops: Seq[Op] = Seq(
    Op("cdc_orders_diff", cdcOrdersDiff, cdcOrdersDiffSql, Ext),
    Op("ivm_daily_sales", ivmDailySales, ivmDailySalesSql, Ext))
}
