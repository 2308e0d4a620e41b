package graft.warehouse

import graft.{Det, Sql, Tables}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.LongType

/** Proper Slowly-Changing-Dimension Type 2 — the semantics the
  * reference's schema declares (effective_date / end_date / is_current,
  * reference: sql/ddl/create_warehouse_schema.sql:21-23) but its loader
  * never honors (it truncate-reloads, load_warehouse.py:96,141-142 —
  * SURVEY §7.4 flags honest full-refresh first, true SCD2 as the
  * stretch; this is the stretch).
  *
  * Scale posture: one shuffle on the natural key (the window), no
  * driver-side state; applying a day's updates is a unionByName + one
  * windowed pass — linear in (current dim + updates).
  */
object Scd2 {

  /** Rebuild an SCD2 dimension from a full change history:
    * `history(key, attrs..., changed_on)` → one row per version with
    * effective_date, end_date (= next version's effective date, else
    * 9999-12-31) and is_current. `lead()` over the per-key timeline. */
  def fromHistory(history: DataFrame, key: String, changedOn: String): DataFrame = {
    // order by the full row, not changedOn alone: two versions with the
    // same change date would otherwise get partition-order-dependent
    // version numbering (which one ends up is_current would vary run to
    // run). Remaining columns make the ordering total.
    val order = col(changedOn) +:
      history.columns.filterNot(_ == changedOn).sorted.map(col).toSeq
    val w = Window.partitionBy(key).orderBy(order: _*)
    history
      .withColumn("effective_date", col(changedOn).cast("date"))
      .withColumn("end_date",
        coalesce(lead(col(changedOn).cast("date"), 1).over(w),
          to_date(lit("9999-12-31"))))
      .withColumn("is_current", col("end_date") === to_date(lit("9999-12-31")))
      .drop(changedOn)
  }

  /** Apply a batch of updates to a current SCD2 dimension: rows whose
    * attributes changed get their current version closed (end_date =
    * asOf, is_current = false) and a new open version appended; keys
    * with no OPEN version (brand-new members, or members whose history
    * was closed earlier) get a new open version inserted; unchanged and
    * absent keys pass through. `attrs` are the tracked columns. The
    * updates batch must carry at most one row per key (the standard
    * SCD2 batch contract) — duplicates would fan out the current rows
    * through the join, so they are rejected loudly. */
  def applyUpdates(current: DataFrame, updates: DataFrame, key: String,
                   attrs: Seq[String], asOf: String): DataFrame = {
    // The duplicate check runs an extra (small) job at call time — the
    // updates batch is the day's delta, orders of magnitude smaller
    // than the dimension.
    val dup = updates.groupBy(col(key)).count().filter(col("count") > 1).limit(1).collect()
    if (dup.nonEmpty)
      throw new IllegalArgumentException(
        s"SCD2 updates batch has multiple rows for key $key=${dup.head.get(0)}; " +
          "collapse the batch to one row per key first")
    // \u0001 separator / \u0000 null sentinel keep the change hash
    // unambiguous when attribute values contain each other's text.
    val changeHash = (df: DataFrame) => df.withColumn("_h", md5(concat_ws("\u0001",
      attrs.map(a => coalesce(col(a).cast("string"), lit("\u0000"))): _*)))
    val cur = changeHash(current)
    val upd = changeHash(updates)
      .select(col(key), col("_h").as("_hu"),
        struct(attrs.map(col): _*).as("_newattrs"))

    val joined = cur.join(upd, Seq(key), "left")
    val changed = col("_hu").isNotNull && col("_h") =!= col("_hu") && col("is_current")

    // close changed current versions
    val closed = joined.withColumn("end_date",
        when(changed, to_date(lit(asOf))).otherwise(col("end_date")))
      .withColumn("is_current",
        when(changed, lit(false)).otherwise(col("is_current")))
      .drop("_h", "_hu", "_newattrs")

    // new open versions for changed keys
    val opened = joined.filter(changed)
      .select((Seq(col(key)) ++ attrs.map(a => col("_newattrs").getField(a).as(a))): _*)
      .withColumn("effective_date", to_date(lit(asOf)))
      .withColumn("end_date", to_date(lit("9999-12-31")))
      .withColumn("is_current", lit(true))

    // keys with no OPEN version: brand-new members AND members whose
    // history was closed in an earlier batch (reactivation) — anti-join
    // against the open keys only, not all of history, or a returning
    // member's update silently vanishes.
    val inserted = updates
      .join(current.filter(col("is_current")).select(key).distinct(),
        Seq(key), "left_anti")
      .select((Seq(col(key)) ++ attrs.map(col)): _*)
      .withColumn("effective_date", to_date(lit(asOf)))
      .withColumn("end_date", to_date(lit("9999-12-31")))
      .withColumn("is_current", lit(true))

    closed.unionByName(opened, allowMissingColumns = true)
      .unionByName(inserted, allowMissingColumns = true)
  }

  // ------------------------------------------------- point-in-time join

  /** Effective date of the synthetic second segment version — mid-way
    * through the orders' 1995–2001 span, so the PIT join exercises both
    * sides of a version boundary. */
  val PitV2Date = "1998-07-01"

  /** Point-in-time (as-of-date) join of the fact against an SCD2
    * dimension — THE query shape SCD2 exists for: each order joins the
    * dimension version that was current on its order date
    * (`effective_date <= d < end_date`), so revenue lands under the
    * segment the customer was in AT ORDER TIME, not today's.
    *
    * The version history here is a deterministic synthetic change feed
    * (every customer starts in their `c_mktsegment` at 1995-01-01;
    * every third customer moves to `segment+` at [[PitV2Date]]) —
    * mirrored 1:1 in the oracle, so hash-equality verifies
    * [[fromHistory]]'s version-interval algebra AND the PIT range
    * predicate end-to-end.
    *
    * Scale posture: the join is an EQUI-join on the customer key with
    * the interval predicate applied post-match — a hash/sort-merge
    * join at any scale, never a nested-loop range join. The dim side
    * carries NO broadcast hint: the planner broadcasts it while it
    * fits the threshold and degrades to a key-shuffled join when the
    * customer dimension outgrows executor memory (a forced hint would
    * broadcast an arbitrarily large dimension and OOM the driver at
    * scale; PlanSpec asserts the plan never falls back to a
    * nested-loop). One window over the dim (dim-sized shuffle) builds
    * the intervals; the fact is touched once. */
  def pitOrders(spark: SparkSession, dir: String): DataFrame = {
    val hist = pitHistory(spark, dir)
    val dim = fromHistory(hist, "c_custkey", "changed_on")
    val o = Tables.orders(spark, dir)
      .select(col("o_custkey"), col("o_orderdate").cast("date").as("d"),
        col("o_totalprice"))
    o.join(dim,
        o("o_custkey") === dim("c_custkey")
          && dim("effective_date") <= col("d") && col("d") < dim("end_date"))
      .groupBy(col("segment"), year(col("d")).cast(LongType).as("order_year"))
      .agg(count(lit(1)).as("n_orders"), Det.msum(col("o_totalprice")).as("revenue"))
      .orderBy("segment", "order_year")
  }

  /** The synthetic change feed behind [[pitOrders]] (spec-shared). */
  private[graft] def pitHistory(spark: SparkSession, dir: String): DataFrame = {
    val c = Tables.customer(spark, dir)
      .select(col("c_custkey"), col("c_mktsegment"))
    c.select(col("c_custkey"), col("c_mktsegment").as("segment"),
        to_date(lit("1995-01-01")).as("changed_on"))
      .unionByName(
        c.filter(col("c_custkey") % 3 === 0)
          .select(col("c_custkey"), concat(col("c_mktsegment"), lit("+")).as("segment"),
            to_date(lit(PitV2Date)).as("changed_on")))
  }

  val pitOrdersSql: String = s"""
WITH hist AS (
  SELECT c_custkey, c_mktsegment AS segment, DATE '1995-01-01' AS changed_on FROM customer
  UNION ALL
  SELECT c_custkey, c_mktsegment || '+', DATE '$PitV2Date' FROM customer WHERE c_custkey % 3 = 0),
dim AS (
  SELECT c_custkey, segment, CAST(changed_on AS DATE) AS effective_date,
         COALESCE(LEAD(CAST(changed_on AS DATE))
                    OVER (PARTITION BY c_custkey ORDER BY changed_on, segment),
                  DATE '9999-12-31') AS end_date
  FROM hist)
SELECT d.segment, CAST(year(CAST(o.o_orderdate AS DATE)) AS BIGINT) AS order_year,
       COUNT(*) AS n_orders, ${Sql.msum("o.o_totalprice")} AS revenue
FROM orders o
JOIN dim d ON o.o_custkey = d.c_custkey
          AND d.effective_date <= CAST(o.o_orderdate AS DATE)
          AND CAST(o.o_orderdate AS DATE) < d.end_date
GROUP BY d.segment, order_year
ORDER BY segment, order_year"""
}
